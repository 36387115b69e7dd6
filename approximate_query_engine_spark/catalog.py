"""Metadata catalog: table stats, sample registry, sketches, strata info,
and the query-performance learning history.

The reference keeps four ``aqe_*`` SQLite tables plus
``ml_query_performance_history`` (reference storage.py:37-85,
ml_optimizer.py:305-321). Here the catalog is a driver-side store persisted
as JSON (metadata is tiny — O(tables+samples+sketches)) plus the sample
*data* as Parquet. Crucially the sample fraction lives in the catalog, not
in a name codec — SURVEY.md §2.5 flags the reference's triplicated
fraction↔name parser (sampler.py:99-117, planner.py:114-140,
ml_optimizer.py:181-190) as fragile; a catalog lookup replaces all three.

At 100 TB scale this catalog maps 1:1 onto a small Delta/Parquet metadata
table; row counts come from here (or Parquet footers), never from a live
``COUNT(*)`` at planning time (which the reference does,
ml_optimizer.py:88-93 — a full scan per plan).
"""

from __future__ import annotations

import base64
import json
import os
import tempfile
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Any


def _now() -> float:
    return time.time()


@dataclass
class TableStats:
    table_name: str
    row_count: int
    updated_at: float = field(default_factory=_now)


@dataclass
class StratumInfo:
    strata_value: str
    pop_size: int
    sample_size: int
    fraction: float  # achieved fraction (post-hoc corrected, sampler parity)
    weight: float
    variance: float | None = None
    #: explicit flag (not a sentinel value) — a genuine string stratum could
    #: collide with any marker text
    is_null: bool = False


@dataclass
class SampleInfo:
    table_name: str
    sample_table: str  # registered view name
    sample_fraction: float  # achieved overall fraction
    target_fraction: float  # requested fraction
    path: str  # parquet location
    strata_column: str | None = None  # SQL expression the weights key on
    allocation_type: str | None = None  # proportional | neyman | weighted
    variance_column: str | None = None  # Neyman variance driver, for refresh
    #: source columns of the strata definition (multi-column stratification
    #: stores the composite expression in strata_column and the parts here)
    strata_source_cols: list[str] = field(default_factory=list)
    #: deterministic-PPS row-identity expression (md5-hash inclusion draw);
    #: persisted so refresh_sample rebuilds the engine-reproducible subset
    #: instead of silently degrading to rand(seed)
    pps_key_expr: str | None = None
    row_count: int = 0
    seed: int = 42
    strata: list[StratumInfo] = field(default_factory=list)
    created_at: float = field(default_factory=_now)


@dataclass
class SketchInfo:
    table_name: str
    column_name: str | None
    sketch_type: str  # 'hll' | 'cms'
    sketch_data: bytes
    parameters: dict[str, Any] = field(default_factory=dict)
    created_at: float = field(default_factory=_now)

    @property
    def key(self) -> tuple[str, str | None, str]:
        return (self.table_name, self.column_name, self.sketch_type)


@dataclass
class HistoryRecord:
    """One dual-executed query outcome (schema honors reference
    ml_optimizer.py:305-321; the reference never INSERTs — SURVEY.md
    vestigial flag #2 — this rebuild closes the loop)."""

    query_pattern: str
    table_size: int
    strategy: str
    actual_speedup: float
    actual_error: float | None
    predicted_speedup: float
    predicted_error: float
    execution_time_ms: float
    error_tolerance: float
    query_features: dict[str, Any] = field(default_factory=dict)
    timestamp: float = field(default_factory=_now)


class Catalog:
    """Driver-side metadata store with JSON persistence."""

    def __init__(self, workdir: str | None = None):
        self.workdir = workdir or os.path.join(
            tempfile.gettempdir(), "aqe_spark_workdir"
        )
        os.makedirs(self.workdir, exist_ok=True)
        self.table_stats: dict[str, TableStats] = {}
        self.samples: dict[str, SampleInfo] = {}  # by sample_table name
        self.sketches: dict[tuple, SketchInfo] = {}
        self.history: list[HistoryRecord] = []
        #: learned per-column distinct counts (table, column) → ndv; fed by
        #: sketch builds, read by the planner's COUNT(DISTINCT) cost model
        self.column_ndv: dict[tuple[str, str], int] = {}
        #: (table, column) -> (min, max) numeric range, learned by
        #: engine.analyze_table — drives predicate-selectivity estimates.
        #: Date/timestamp columns are stored in EPOCH DAYS (double), so
        #: DATE-literal predicates share the numeric selectivity math.
        self.column_minmax: dict[tuple[str, str], tuple[float, float]] = {}
        #: (table, column) -> [(x, y), ...] one-pass ``histogram_numeric``
        #: bins (bin center, bin count) sorted by x, learned in the same
        #: analyze pass — fixes selectivity on skewed columns where the
        #: min/max uniform interpolation is off by orders of magnitude
        self.column_histogram: dict[
            tuple[str, str], list[tuple[float, float]]
        ] = {}
        #: (table, column) -> fraction of NULL rows, learned in the same
        #: analyze pass. min/max/histogram/ndv all describe NON-NULL
        #: values (Spark aggregates skip nulls), so every comparison
        #: predicate's selectivity carries a (1 − null_frac) factor and
        #: IS [NOT] NULL is priced directly.
        self.column_null_frac: dict[tuple[str, str], float] = {}
        #: (table, column) -> [(value, fraction_of_non_null), ...] most
        #: common values of a STRING column (approx_top_k in the analyze
        #: pass), descending fraction — string equality on a heavy hitter
        #: prices at its true mass instead of 1/ndv (numeric columns get
        #: the same effect from the histogram CDF's point masses)
        self.column_mcv: dict[tuple[str, str], list[tuple[str, float]]] = {}
        #: base table → {"view", "path", "ts_col", "grain",
        #: "partition_col"}: its registered time-partitioned layout
        #: (engine.partition_table) — exact queries with a literal bound
        #: on ts_col route to the layout with a derived pruning conjunct
        self.partitioned_views: dict[str, dict] = {}
        #: base table → [{"view", "files_view", "path", "time_col",
        #: "bucket", "bucket_seconds", "dims", "measures",
        #: "built_row_count"}, ...]: registered materialized rollups
        #: (engine.create_rollup) — matching SQL aggregates rewrite to
        #: scan the rollup instead of the raw table (operators/rollup.py
        #: rewrite_to_rollup)
        self.rollups: dict[str, list[dict]] = {}
        #: workload-observed rollup-shaped queries that ran WITHOUT a
        #: rollup, keyed by shape signature → {"count", ...shape fields}
        #: — the rollup advisor's evidence (engine.recommend_rollups)
        self.rollup_candidates: dict[str, dict] = {}
        #: workload-observed time-bounded queries whose table had NO
        #: partitioned layout to route through, keyed by shape signature
        #: → {"table", "ts_col", "grain", "count"} — the layout advisor's
        #: evidence (engine.recommend_partition_layouts)
        self.layout_candidates: dict[str, dict] = {}
        #: table → {"row_count": n at analyze time, "columns": [...]} —
        #: the baseline the maintenance drift policy measures column-stats
        #: staleness against (stale min/max + histograms misprice every
        #: selectivity estimate silently)
        self.analyze_meta: dict[str, dict] = {}
        #: base table → {"path", "text_col", "id_col", "min_docs",
        #: "min_chars", "built_row_count", "created_at"}: its registered
        #: persisted line-frequency table (engine.build_boilerplate_index
        #: — the incremental corpus-cleaning artifact, round 12). The
        #: maintenance drift policy rebuilds it when the base table moves,
        #: like the sample/sketch artifacts.
        self.boilerplate_indexes: dict[str, dict] = {}
        #: base table → {"path", "vec_col", "id_col", "levels",
        #: "built_row_count", "built_clamp_fraction", "clamp_threshold",
        #: "created_at"}: its registered quantized-codes table
        #: (engine.build_quantized_codes). Maintenance measures
        #: clamp_stats on APPENDED rows and advises a re-fit + re-encode
        #: when the appended clamp fraction crosses the threshold — the
        #: quantizer's drift policy (round 12, VERDICT r11 #4).
        self.quantized_codes: dict[str, dict] = {}
        #: base (reference-corpus) table → {"path", "root", "version",
        #: "text_col", "id_col", "vocab_size", "built_row_count",
        #: "created_at"}: its registered bigram language model
        #: (engine.build_lm_index — the CCNet perplexity-filter model,
        #: round 13). Incremental count merges go through
        #: engine.update_lm_index under the disjoint-batch guard; the
        #: maintenance drift policy refits when the reference table
        #: mutates without being fed.
        self.lm_indexes: dict[str, dict] = {}
        # the engine serves concurrent queries over one shared session;
        # saves must not race on the tmp file
        self._save_lock = threading.Lock()
        self._load()

    # ---- persistence ----
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.workdir, "catalog.json")

    def save(self) -> None:
        # lock around BOTH snapshotting and writing: a concurrent mutator
        # (upsert_table_stats/register_sample/append_history) changing a dict
        # mid-iteration would raise RuntimeError. Mutators don't take the
        # lock (single dict/list ops are GIL-atomic), so snapshot each
        # container with a C-level dict()/list() copy before iterating.
        # Per-thread tmp name so one thread's os.replace can't steal
        # another's file out from under it.
        with self._save_lock:
            table_stats = dict(self.table_stats)
            samples = dict(self.samples)
            sketches = list(self.sketches.values())
            history = list(self.history)
            column_ndv = dict(self.column_ndv)
            column_minmax = dict(self.column_minmax)
            column_histogram = dict(self.column_histogram)
            column_null_frac = dict(self.column_null_frac)
            column_mcv = dict(self.column_mcv)
            doc = {
                "table_stats": {k: asdict(v) for k, v in table_stats.items()},
                "samples": {k: asdict(v) for k, v in samples.items()},
                "sketches": [
                    {
                        **asdict(s),
                        "sketch_data": base64.b64encode(s.sketch_data).decode(),
                    }
                    for s in sketches
                ],
                "history": [asdict(h) for h in history],
                "column_ndv": {
                    f"{t}\x1f{c}": v for (t, c), v in column_ndv.items()
                },
                "column_minmax": {
                    f"{t}\x1f{c}": list(v) for (t, c), v in column_minmax.items()
                },
                "column_histogram": {
                    f"{t}\x1f{c}": [list(b) for b in v]
                    for (t, c), v in column_histogram.items()
                },
                "column_null_frac": {
                    f"{t}\x1f{c}": v for (t, c), v in column_null_frac.items()
                },
                "column_mcv": {
                    f"{t}\x1f{c}": [[x, f] for x, f in v]
                    for (t, c), v in column_mcv.items()
                },
                "analyze_meta": dict(self.analyze_meta),
                "partitioned_views": dict(self.partitioned_views),
                "rollups": {k: list(v) for k, v in dict(self.rollups).items()},
                "rollup_candidates": dict(self.rollup_candidates),
                "layout_candidates": dict(self.layout_candidates),
                "boilerplate_indexes": dict(self.boilerplate_indexes),
                "quantized_codes": dict(self.quantized_codes),
                "lm_indexes": dict(self.lm_indexes),
            }
            tmp = f"{self._meta_path}.tmp{threading.get_ident()}"
            with open(tmp, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, self._meta_path)

    def _load(self) -> None:
        if not os.path.exists(self._meta_path):
            return
        try:
            with open(self._meta_path) as f:
                doc = json.load(f)
        except (json.JSONDecodeError, OSError):
            return
        for k, v in doc.get("table_stats", {}).items():
            self.table_stats[k] = TableStats(**v)
        for k, v in doc.get("samples", {}).items():
            strata = [StratumInfo(**s) for s in v.pop("strata", [])]
            self.samples[k] = SampleInfo(**v, strata=strata)
        for v in doc.get("sketches", []):
            v["sketch_data"] = base64.b64decode(v["sketch_data"])
            info = SketchInfo(**v)
            self.sketches[info.key] = info
        for v in doc.get("history", []):
            self.history.append(HistoryRecord(**v))
        for k, v in doc.get("column_ndv", {}).items():
            table, _, column = k.partition("\x1f")
            self.column_ndv[(table, column)] = int(v)
        for k, v in doc.get("column_minmax", {}).items():
            table, _, column = k.partition("\x1f")
            self.column_minmax[(table, column)] = (float(v[0]), float(v[1]))
        for k, v in doc.get("column_histogram", {}).items():
            table, _, column = k.partition("\x1f")
            self.column_histogram[(table, column)] = [
                (float(b[0]), float(b[1])) for b in v
            ]
        for k, v in doc.get("column_null_frac", {}).items():
            table, _, column = k.partition("\x1f")
            self.column_null_frac[(table, column)] = float(v)
        for k, v in doc.get("column_mcv", {}).items():
            table, _, column = k.partition("\x1f")
            self.column_mcv[(table, column)] = [
                (str(x), float(f)) for x, f in v
            ]
        self.analyze_meta.update(doc.get("analyze_meta", {}))
        self.partitioned_views.update(doc.get("partitioned_views", {}))
        self.rollups.update(doc.get("rollups", {}))
        self.rollup_candidates.update(doc.get("rollup_candidates", {}))
        self.layout_candidates.update(doc.get("layout_candidates", {}))
        self.boilerplate_indexes.update(doc.get("boilerplate_indexes", {}))
        self.quantized_codes.update(doc.get("quantized_codes", {}))
        self.lm_indexes.update(doc.get("lm_indexes", {}))

    # ---- table stats (reference storage.py:88-109) ----
    def upsert_table_stats(self, table: str, row_count: int) -> None:
        self.table_stats[table] = TableStats(table, int(row_count))

    def get_row_count(self, table: str) -> int | None:
        st = self.table_stats.get(table)
        return st.row_count if st else None

    def upsert_column_ndv(self, table: str, column: str, ndv: int) -> None:
        self.column_ndv[(table, column)] = int(ndv)

    def upsert_column_minmax(
        self, table: str, column: str, lo: float, hi: float
    ) -> None:
        self.column_minmax[(table, column)] = (float(lo), float(hi))

    def get_column_minmax(
        self, table: str, column: str
    ) -> tuple[float, float] | None:
        return self.column_minmax.get((table, column))

    def get_column_ndv(self, table: str, column: str) -> int | None:
        return self.column_ndv.get((table, column))

    def upsert_column_histogram(
        self, table: str, column: str, bins: list[tuple[float, float]]
    ) -> None:
        self.column_histogram[(table, column)] = [
            (float(x), float(y)) for x, y in bins
        ]

    def get_column_histogram(
        self, table: str, column: str
    ) -> list[tuple[float, float]] | None:
        return self.column_histogram.get((table, column))

    def upsert_column_null_frac(
        self, table: str, column: str, frac: float
    ) -> None:
        self.column_null_frac[(table, column)] = float(frac)

    def get_column_null_frac(self, table: str, column: str) -> float | None:
        return self.column_null_frac.get((table, column))

    def upsert_column_mcv(
        self, table: str, column: str, mcv: list[tuple[str, float]]
    ) -> None:
        self.column_mcv[(table, column)] = [
            (str(x), float(f)) for x, f in mcv
        ]

    def get_column_mcv(
        self, table: str, column: str
    ) -> list[tuple[str, float]] | None:
        return self.column_mcv.get((table, column))

    # ---- samples (reference storage.py:46-55, sampler.py:120-143) ----
    def register_sample(self, info: SampleInfo) -> None:
        """Register ``info``. A rebuilt sample updates its entry in place,
        so code holding the entry follows it to the new version."""
        old = self.samples.setdefault(info.sample_table, info)
        vars(old).update(vars(info))

    def samples_for_table(self, table: str) -> list[SampleInfo]:
        return [s for s in self.samples.values() if s.table_name == table]

    def uniform_samples_for_table(self, table: str) -> list[SampleInfo]:
        return [
            s
            for s in self.samples_for_table(table)
            if s.strata_column is None and s.allocation_type != "weighted"
        ]

    def weighted_samples_for_table(self, table: str) -> list[SampleInfo]:
        return [
            s
            for s in self.samples_for_table(table)
            if s.allocation_type == "weighted"
        ]

    def stratified_samples_for_table(
        self, table: str, strata_column: str | None = None
    ) -> list[SampleInfo]:
        out = [s for s in self.samples_for_table(table) if s.strata_column]
        if strata_column is not None:
            out = [s for s in out if s.strata_column == strata_column]
        return out

    def get_sample(self, sample_table: str) -> SampleInfo | None:
        return self.samples.get(sample_table)

    # ---- sketches (reference storage.py:112-162) ----
    def upsert_sketch(self, info: SketchInfo) -> None:
        self.sketches[info.key] = info

    def get_sketch(
        self, table: str, column: str | None, sketch_type: str
    ) -> SketchInfo | None:
        return self.sketches.get((table, column, sketch_type))

    def list_sketches(self, table: str | None = None) -> list[SketchInfo]:
        out = list(self.sketches.values())
        if table:
            out = [s for s in out if s.table_name == table]
        return out

    # ---- learning history (reference ml_optimizer.py:305-374) ----
    def append_history(self, rec: HistoryRecord) -> None:
        self.history.append(rec)

    def similar_history(
        self,
        table_size: int,
        error_tolerance: float,
        limit: int = 20,
    ) -> list[HistoryRecord]:
        """Similarity window per reference ml_optimizer.py:339-357:
        table_size within ±50%, tolerance within ±50%, most recent first."""
        hits = [
            h
            for h in self.history
            if table_size * 0.5 <= h.table_size <= table_size * 1.5
            and error_tolerance * 0.5 <= h.error_tolerance <= error_tolerance * 1.5
        ]
        hits.sort(key=lambda h: h.timestamp, reverse=True)
        return hits[:limit]
