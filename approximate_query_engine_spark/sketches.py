"""Sketches: HyperLogLog and Count-Min, Spark-native first.

Query path: ``approx_count_distinct`` (HLL++ inside Tungsten — partially
aggregable, merge happens in the shuffle, no Python). Persisted path:
Spark's DataSketches HLL functions (``hll_sketch_agg`` → mergeable binary,
``hll_union_agg``, ``hll_sketch_estimate``) and ``df.stat.countMinSketch``
— all JVM-side single-pass aggregations.

Capability parity with the reference's pure-Python classes
(reference sketches.py:10-151 HLL, 154-237 CMS — add/count/estimate/merge/
serialize/deserialize) is provided by :class:`HyperLogLog` and
:class:`CountMinSketch` below, implemented from the published algorithms
(Flajolet et al. 2007; Cormode & Muthukrishnan 2005). They serve driver-side
use (merging sketches shipped from elsewhere, unit-testing error bounds);
nothing on the distributed query path runs per-row Python.

The reference builds its HLL by streaming ``SELECT DISTINCT col`` through
the driver with a 1M-value cap (reference app.py:247-258 — the exact
distinct it was meant to avoid, SURVEY.md §2.6); here construction is one
aggregation over raw values, no cap, no driver streaming.
"""

from __future__ import annotations

import hashlib
import json
import math
import struct
from typing import Any

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from approximate_query_engine_spark.catalog import Catalog, SketchInfo

Z_SCORES = {0.90: 1.645, 0.95: 1.96, 0.99: 2.576}


def _hash64(data: bytes, seed: int = 0) -> int:
    h = hashlib.sha256(seed.to_bytes(4, "little") + data).digest()
    return int.from_bytes(h[:8], "little")


class HyperLogLog:
    """Driver-side HLL (Flajolet–Fuller–Gandouet–Meunier 2007).

    Register layout: m = 2^b registers; a 64-bit hash is split into a b-bit
    bucket index and a (64-b)-bit remainder whose leading-zero count (+1)
    updates the register via max().
    """

    def __init__(self, b: int = 10):
        if not 4 <= b <= 16:
            raise ValueError("precision b must be in [4, 16]")
        self.b = b
        self.m = 1 << b
        self.registers = np.zeros(self.m, dtype=np.uint8)

    # -- construction --
    def add(self, value: bytes) -> None:
        h = _hash64(value)
        idx = h & (self.m - 1)
        rest = h >> self.b
        rho = (64 - self.b) - rest.bit_length() + 1 if rest else (64 - self.b) + 1
        if rho > self.registers[idx]:
            self.registers[idx] = rho

    def add_string(self, value: str) -> None:
        self.add(value.encode("utf-8"))

    @property
    def _alpha(self) -> float:
        if self.m == 16:
            return 0.673
        if self.m == 32:
            return 0.697
        if self.m == 64:
            return 0.709
        return 0.7213 / (1.0 + 1.079 / self.m)

    # -- estimation --
    def count(self) -> int:
        regs = self.registers.astype(np.float64)
        raw = self._alpha * self.m * self.m / float(np.sum(np.exp2(-regs)))
        zeros = int(np.count_nonzero(self.registers == 0))
        if raw <= 2.5 * self.m and zeros > 0:
            return int(round(self.m * math.log(self.m / zeros)))
        return int(round(raw))

    def standard_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def confidence_interval(self, confidence: float = 0.95) -> tuple[int, int]:
        z = Z_SCORES.get(confidence, 1.96)
        est = self.count()
        delta = z * self.standard_error() * est
        return (max(0, int(est - delta)), int(est + delta))

    # -- algebra --
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if other.b != self.b:
            raise ValueError("precision mismatch")
        self.registers = np.maximum(self.registers, other.registers)
        return self

    # -- serialization --
    def serialize(self) -> bytes:
        return struct.pack("<4sB", b"AHLL", self.b) + self.registers.tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "HyperLogLog":
        magic, b = struct.unpack_from("<4sB", data)
        if magic != b"AHLL":
            raise ValueError("not an AHLL sketch")
        obj = cls(b)
        obj.registers = np.frombuffer(
            data[5 : 5 + obj.m], dtype=np.uint8
        ).copy()
        return obj


class CountMinSketch:
    """Driver-side Count-Min (Cormode & Muthukrishnan 2005): width
    w = ceil(e/ε), depth d = ceil(ln(1/δ)); estimate = min over rows."""

    def __init__(self, epsilon: float = 0.001, delta: float = 0.01):
        if not (0 < epsilon < 1 and 0 < delta < 1):
            raise ValueError("epsilon and delta must be in (0, 1)")
        self.epsilon = epsilon
        self.delta = delta
        self.width = math.ceil(math.e / epsilon)
        self.depth = math.ceil(math.log(1.0 / delta))
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    def _cols(self, key: str) -> list[int]:
        kb = key.encode("utf-8")
        return [_hash64(kb, seed=row) % self.width for row in range(self.depth)]

    def add(self, key: str, count: int = 1) -> None:
        for row, col in enumerate(self._cols(key)):
            self.table[row, col] += count
        self.total += count

    def estimate(self, key: str) -> int:
        return int(min(self.table[row, col] for row, col in enumerate(self._cols(key))))

    def error_bound(self) -> float:
        """With prob ≥ 1-δ: estimate ≤ true + ε·total."""
        return self.epsilon * self.total

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.width, self.depth) != (other.width, other.depth):
            raise ValueError("dimension mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def serialize(self) -> bytes:
        header = json.dumps(
            {
                "epsilon": self.epsilon,
                "delta": self.delta,
                "width": self.width,
                "depth": self.depth,
                "total": self.total,
            }
        ).encode()
        return struct.pack("<4sI", b"ACMS", len(header)) + header + self.table.tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "CountMinSketch":
        magic, hlen = struct.unpack_from("<4sI", data)
        if magic != b"ACMS":
            raise ValueError("not an ACMS sketch")
        meta = json.loads(data[8 : 8 + hlen].decode())
        obj = cls(meta["epsilon"], meta["delta"])
        obj.total = meta["total"]
        obj.table = (
            np.frombuffer(data[8 + hlen :], dtype=np.int64)
            .reshape(obj.depth, obj.width)
            .copy()
        )
        return obj


def build_hll_distributed(df, column: str, b: int = 12) -> HyperLogLog:
    """Build the driver-side :class:`HyperLogLog` over a DataFrame column
    the mergeable way: each Arrow batch partition produces a serialized
    partial sketch (``mapInPandas``), and the driver merges the
    O(#partitions) KB-sized partials — never the values. This is the
    pattern that scales: state shipped to the driver is sketch bytes, not
    data (same shape as Spark's own partial-aggregate merge).

    The sha256-based register updates make the result a pure function of
    the value set — reproducible in any engine (the driver contract's q54
    verifies it against a DuckDB SQL reproduction of the register math).
    Nulls are excluded; values hash as their canonical CAST-to-string form.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    def _partial(batches):
        h = HyperLogLog(b)
        for pdf in batches:
            for v in pdf["v"]:
                h.add_string(v)
        yield pd.DataFrame({"sk": [h.serialize()]})

    parts = (
        df.where(F.col(column).isNotNull())
        .select(F.col(column).cast("string").alias("v"))
        .mapInPandas(_partial, "sk binary")
        .collect()
    )
    merged = HyperLogLog(b)
    for row in parts:
        merged.merge(HyperLogLog.deserialize(bytes(row["sk"])))
    return merged


class SketchManager:
    """Builds and persists sketches (reference POST /sketches/create,
    app.py:222-291) as single Spark aggregations."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    def create(
        self,
        table: str,
        column: str | None,
        sketch_type: str,
        parameters: dict[str, Any] | None = None,
    ) -> SketchInfo:
        parameters = dict(parameters or {})
        if sketch_type == "hll":
            info = self._create_hll(table, column, parameters)
        elif sketch_type == "cms":
            info = self._create_cms(table, column, parameters)
        elif sketch_type == "theta":
            info = self._create_theta(table, column, parameters)
        elif sketch_type == "topk":
            info = self._create_topk(table, column, parameters)
        else:
            raise ValueError(
                f"unknown sketch_type {sketch_type!r} (hll|cms|theta|topk)"
            )
        # Stamp the base-table size the sketch was built against: the
        # maintenance drift policy compares it with current stats to decide
        # when a rebuild is due (maintenance.run_maintenance).
        try:
            n = self.catalog.get_row_count(table)
            if n is None:
                n = self.spark.table(table).count()
                self.catalog.upsert_table_stats(table, n)
            info.parameters["built_row_count"] = int(n)
        except Exception:  # pragma: no cover - stamp is advisory
            pass
        self.catalog.upsert_sketch(info)
        # Building a distinct-count sketch teaches the planner the column's
        # cardinality: the COUNT(DISTINCT) cost model uses catalog ndv to
        # decide sketch-vs-exact (low-ndv columns are faster exact).
        if sketch_type in ("hll", "theta") and info.sketch_data and column:
            try:
                ndv = self.estimate_distinct_from_sketch(table, column, sketch_type)
                if ndv is not None:
                    self.catalog.upsert_column_ndv(table, column, ndv)
            except Exception:  # pragma: no cover - estimate is advisory
                pass
        self.catalog.save()
        return info

    def _create_hll(self, table: str, column: str, params: dict) -> SketchInfo:
        """One-pass DataSketches HLL build: mergeable binary out of
        ``hll_sketch_agg`` — partial sketches merge in the shuffle, so this
        is a single map-side-combined aggregation at any scale."""
        if not column:
            raise ValueError("hll sketch requires a column")
        lg_k = int(params.get("lg_config_k", params.get("b", 12)))
        row = (
            self.spark.table(table)
            .where(F.col(column).isNotNull())
            .agg(
                F.hll_sketch_agg(F.col(column).cast("string"), F.lit(lg_k)).alias("sk")
            )
            .collect()[0]
        )
        data = bytes(row["sk"]) if row["sk"] is not None else b""
        return SketchInfo(
            table_name=table,
            column_name=column,
            sketch_type="hll",
            sketch_data=data,
            parameters={"lg_config_k": lg_k, "format": "datasketches-hll"},
        )

    def _create_cms(self, table: str, column: str | None, params: dict) -> SketchInfo:
        """Built-in Count-Min over raw values (``df.stat.countMinSketch``),
        JVM-side one pass. With no column, degenerates to a single total
        counter (reference app.py:266-268 semantics)."""
        eps = float(params.get("epsilon", 0.001))
        delta = float(params.get("delta", 0.01))
        seed = int(params.get("seed", 42))
        df = self.spark.table(table)
        if column:
            row = df.agg(
                F.count_min_sketch(
                    F.col(column).cast("string"),
                    F.lit(eps),
                    F.lit(1.0 - delta),
                    F.lit(seed),
                ).alias("sk")
            ).collect()[0]
            data = bytes(row["sk"]) if row["sk"] is not None else b""
            fmt = "spark-cms"
        else:
            total = df.count()
            local = CountMinSketch(eps, delta)
            local.add("total", total)
            data = local.serialize()
            fmt = "acms"
        return SketchInfo(
            table_name=table,
            column_name=column,
            sketch_type="cms",
            sketch_data=data,
            parameters={"epsilon": eps, "delta": delta, "seed": seed, "format": fmt},
        )

    def _create_theta(self, table: str, column: str, params: dict) -> SketchInfo:
        """Theta sketch: like HLL a mergeable distinct-count summary, but
        supporting set INTERSECTION/DIFFERENCE estimates too — the right
        sketch for audience-overlap-style workloads."""
        if not column:
            raise ValueError("theta sketch requires a column")
        lg_k = int(params.get("lg_k", 12))
        row = (
            self.spark.table(table)
            .where(F.col(column).isNotNull())
            .agg(
                F.expr(
                    f"theta_sketch_agg(CAST({column} AS STRING), {lg_k})"
                ).alias("sk")
            )
            .collect()[0]
        )
        return SketchInfo(
            table_name=table,
            column_name=column,
            sketch_type="theta",
            sketch_data=bytes(row["sk"]) if row["sk"] is not None else b"",
            parameters={"lg_k": lg_k, "format": "datasketches-theta"},
        )

    def _create_topk(self, table: str, column: str, params: dict) -> SketchInfo:
        """Heavy hitters: Spark's ``approx_top_k`` keeps a bounded map of
        ``max_items_tracked`` candidate items per partial and merges them
        map-side — frequent-items state is O(tracked), never O(ndv), so
        the build is one combine-then-reduce aggregation at any scale.
        Exact whenever the column's true ndv fits the tracked budget
        (the usual case for categorical heavy-hitter columns); persisted
        as JSON ``[{item, count}, ...]`` sorted by descending count so
        reads never rescan the table."""
        if not column:
            raise ValueError("topk sketch requires a column")
        k = int(params.get("k", 10))
        tracked = int(params.get("max_items_tracked", max(10_000, 10 * k)))
        row = (
            self.spark.table(table)
            .where(F.col(column).isNotNull())
            .agg(
                F.expr(
                    f"approx_top_k(`{column}`, {k}, {tracked})"
                ).alias("tk"),
                # build-time row/ndv stats ride along in the SAME pass so
                # the read path can serve error bounds without a rescan
                F.count(F.col(column)).alias("__n"),
                F.expr(f"approx_count_distinct(`{column}`, 0.02)").alias(
                    "__ndv"
                ),
            )
            .collect()[0]
        )
        # approx_top_k's return ordering is not a documented contract;
        # sort explicitly so the persisted order (and topk_from_sketch's
        # k-trim) is guaranteed descending-count with a stable tiebreak.
        items = sorted(
            (
                {"item": str(r["item"]), "count": int(r["count"])}
                for r in (row["tk"] or [])
            ),
            key=lambda d: (-d["count"], d["item"]),
        )
        return SketchInfo(
            table_name=table,
            column_name=column,
            sketch_type="topk",
            sketch_data=json.dumps(items).encode("utf-8"),
            parameters={
                "k": k,
                "max_items_tracked": tracked,
                "format": "json-topk",
                "n_rows": int(row["__n"]),
                "ndv_est": int(row["__ndv"]),
            },
        )

    # ---- read path (the reference persists sketches but never reads them —
    # SURVEY.md vestigial flag #1; these make the read path real) ----
    def topk_from_sketch(
        self,
        table: str,
        column: str,
        k: int | None = None,
        with_bounds: bool = False,
    ) -> list[dict[str, Any]] | None:
        """Heavy-hitter items from the persisted top-k sketch — no table
        scan. ``k`` trims the stored list (it cannot deepen it: rebuild
        with a larger k for that). ``with_bounds=True`` adds the same
        deterministic error columns as :func:`grouped_top_k` — served
        from the build-time row/ndv stats persisted with the sketch (a
        pre-round-6 sketch without them returns the items unannotated):
        ``count_err`` = 0 when the column's ndv provably fit the tracked
        budget, else the DataSketches frequent-items a-priori bound
        ``ceil(3.5·n/m)``; ``count_lb``/``count_ub`` bracket the true
        count."""
        import math

        info = self.catalog.get_sketch(table, column, "topk")
        if info is None or not info.sketch_data:
            return None
        items = json.loads(info.sketch_data.decode("utf-8"))
        items = items[:k] if k is not None else items
        if not with_bounds:
            return items
        n = info.parameters.get("n_rows")
        ndv = info.parameters.get("ndv_est")
        tracked = info.parameters.get("max_items_tracked")
        if n is None or ndv is None or not tracked:
            return items  # built before bounds stats existed
        err = 0 if ndv <= 0.8 * tracked else math.ceil(3.5 * n / tracked)
        return [
            {
                **d,
                "count_err": err,
                "count_lb": max(d["count"] - err, 0),
                "count_ub": d["count"] + err,
            }
            for d in items
        ]

    def estimate_distinct_from_sketch(
        self, table: str, column: str, sketch_type: str = "hll"
    ) -> int | None:
        info = self.catalog.get_sketch(table, column, sketch_type)
        if info is None or not info.sketch_data:
            return None
        fn = (
            "hll_sketch_estimate"
            if sketch_type == "hll"
            else "theta_sketch_estimate"
        )
        df = self.spark.createDataFrame([(info.sketch_data,)], "sk binary")
        row = df.select(F.expr(f"{fn}(sk)").alias("est")).collect()[0]
        return int(row["est"])

    def estimate_frequency_from_sketch(
        self, table: str, column: str, key: str
    ) -> int | None:
        """Point-frequency estimate from the persisted Count-Min binary
        (reference CountMinSketch.estimate, sketches.py:182-189 — which the
        reference never calls on the query path)."""
        info = self.catalog.get_sketch(table, column, "cms")
        if info is None or not info.sketch_data:
            return None
        if info.parameters.get("format") == "acms":
            return CountMinSketch.deserialize(info.sketch_data).estimate(key)
        jvm = self.spark.sparkContext._jvm
        jbytes = bytearray(info.sketch_data)
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(jbytes)
        )
        return int(cms.estimateCount(key))

    def theta_set_estimate(
        self,
        table_a: str,
        column_a: str,
        table_b: str,
        column_b: str,
        op: str = "intersection",
    ) -> int | None:
        """Distinct-count estimate of a SET EXPRESSION over two segments
        from their PERSISTED theta sketches — |A ∪ B|, |A ∩ B|, |A \\ B|
        without touching either table (the audience-overlap primitive;
        HLL can only union, theta supports full set algebra — Dasgupta et
        al., DataSketches theta framework). Both sketches must exist in
        the catalog (``create(..., 'theta')``)."""
        fn = {
            "union": "theta_union",
            "intersection": "theta_intersection",
            "difference": "theta_difference",
        }.get(op)
        if fn is None:
            raise ValueError(f"op must be union|intersection|difference, got {op!r}")
        a = self.catalog.get_sketch(table_a, column_a, "theta")
        b = self.catalog.get_sketch(table_b, column_b, "theta")
        if a is None or b is None or not a.sketch_data or not b.sketch_data:
            return None
        df = self.spark.createDataFrame(
            [(a.sketch_data, b.sketch_data)], "ska binary, skb binary"
        )
        row = df.select(
            F.expr(f"theta_sketch_estimate({fn}(ska, skb))").alias("est")
        ).collect()[0]
        return int(row["est"])

def grouped_top_k(
    df,
    group_col: str,
    item_col: str,
    k: int,
    max_items_tracked: int = 10_000,
    candidate_k: int | None = None,
    with_bounds: bool = False,
):
    """Per-GROUP heavy hitters: ``approx_top_k`` partial-aggregates
    map-side with O(max_items_tracked) state per group per partial —
    never O(ndv) — then a deterministic (count DESC, item ASC) re-rank
    trims to ``k`` (Metwally et al.'s Space-Saving bounds apply; counts
    are exact when the group's distinct items fit the tracked budget).

    ``candidate_k`` (default ``max(4k, k+16)``) is how many items the
    sketch RETURNS per group before the re-rank: ties AT the k boundary
    are resolved by the explicit ordering, not by sketch internals, as
    long as every tied candidate is inside the returned set — widen it
    toward the column's ndv when exact tie-breaks matter (oracled q87
    does). The reference has no grouped form at all (its top-k endpoint
    is single-column, reference sketches.py); this is the shape corpus
    work needs (top domains per language, top dup-clusters per source).

    ``with_bounds=True`` (round 6) appends DETERMINISTIC error-bound
    columns for the over-budget regime — at corpus scale a group's ndv
    will exceed any tracked budget. Spark's ``approx_top_k`` is backed by
    the DataSketches frequent-items ``ItemsSketch`` (Misra–Gries family;
    spark-catalyst ``aggregate.ApproxTopK`` constructs
    ``org.apache.datasketches.frequencies.ItemsSketch``), whose published
    a-priori guarantee is ``|estimate − true| ≤ 3.5·n/mapSize`` with
    ``mapSize ≥ max_items_tracked``. Columns:

    - ``cnt_err``: the bound above (0 when the group's distinct items
      provably fit the tracked budget — no purge can occur in any
      partial, so every count is exact);
    - ``cnt_lb`` / ``cnt_ub``: ``max(cnt − cnt_err, 0)`` / ``cnt +
      cnt_err`` — the true count is inside ``[cnt_lb, cnt_ub]``;
    - ``guaranteed_rank``: true when the item is PROVABLY in the true
      top-k — its lower bound exceeds the (k+1)-th candidate's upper
      bound (or the group has no (k+1)-th item at all).
    """
    from pyspark.sql import Window

    inner_k = int(
        min(
            candidate_k if candidate_k is not None else max(4 * k, k + 16),
            max_items_tracked,
        )
    )
    aggs = [
        F.expr(
            f"approx_top_k(`{item_col}`, {inner_k}, "
            f"{int(max_items_tracked)})"
        ).alias("tk")
    ]
    if with_bounds:
        aggs += [
            F.count(F.col(item_col)).alias("__n"),
            # conservative ndv probe for the exactness flag: rsd 0.02,
            # and the fit test below still leaves a 1.25x margin
            F.expr(f"approx_count_distinct(`{item_col}`, 0.02)").alias(
                "__ndv"
            ),
        ]
    per_group = (
        df.where(F.col(item_col).isNotNull()).groupBy(group_col).agg(*aggs)
    )
    carry = ["__n", "__ndv"] if with_bounds else []
    exploded = per_group.select(
        group_col, F.explode("tk").alias("e"), *carry
    ).select(
        group_col,
        F.col("e.item").cast("string").alias("item"),
        F.col("e.count").alias("cnt"),
        *carry,
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("cnt"), F.asc("item")
    )
    ranked = exploded.withColumn("rank", F.row_number().over(w))
    if not with_bounds:
        return ranked.where(F.col("rank") <= k).orderBy(group_col, "rank")
    err = F.when(
        # no purge is possible when every partial tracks every distinct
        # item; 0.8 margin absorbs the ndv probe's own error
        F.col("__ndv") <= 0.8 * max_items_tracked,
        F.lit(0),
    ).otherwise(F.ceil(3.5 * F.col("__n") / F.lit(max_items_tracked)))
    ranked = ranked.withColumn("cnt_err", err.cast("long"))
    # the (k+1)-th CANDIDATE's count, visible to every row of the group
    # (inner_k > k by construction unless capped by the budget)
    nxt = F.max(
        F.when(F.col("rank") == k + 1, F.col("cnt"))
    ).over(Window.partitionBy(group_col))
    return (
        ranked.withColumn("__nxt", nxt)
        .where(F.col("rank") <= k)
        .select(
            group_col,
            "item",
            "cnt",
            "rank",
            "cnt_err",
            F.greatest(F.col("cnt") - F.col("cnt_err"), F.lit(0)).alias(
                "cnt_lb"
            ),
            (F.col("cnt") + F.col("cnt_err")).alias("cnt_ub"),
            (
                F.col("__nxt").isNull()
                | (
                    F.col("cnt") - F.col("cnt_err")
                    > F.col("__nxt") + F.col("cnt_err")
                )
            ).alias("guaranteed_rank"),
        )
        .orderBy(group_col, "rank")
    )


def segment_overlap(
    df,
    segment_col: str,
    key_col: str,
    lg_k: int = 12,
    pairs: list[tuple[str, str]] | None = None,
    native_keys: bool = False,
):
    """Audience overlap between segments from THETA sketches: per-pair
    ``(seg_a, seg_b, distinct_a, distinct_b, overlap_cnt, union_cnt,
    jaccard)``, computed WITHOUT ever joining raw keys.

    HLL can only union; theta sketches (Dasgupta et al., the DataSketches
    theta framework Spark 4 exposes as ``theta_sketch_agg`` /
    ``theta_intersection`` / ``theta_union``) support full set algebra,
    which is what audience-overlap / cross-segment-contamination
    questions need ("how many distinct users did BOTH X and Y").

    Shape (the 100 TB story): ONE scan of the raw table partial-aggregates
    per-segment sketches map-side — state per segment per partial is
    bounded by the sketch's nominal entry budget (2^lg_k), never by ndv —
    then the pairwise stage runs on S sketches (S = number of segments,
    dashboard-small). The exact formulation is a self-join of
    ``S × ndv`` distinct pairs: at 30M rows that shuffles the whole key
    set twice; this shuffles ≤ S·2^lg_k sketch entries once.

    Exactness: a theta sketch stays in EXACT mode until it retains more
    than its nominal-entries budget, so every output (intersections
    included) is exact while each segment's ndv ≤ 2^lg_k; beyond it the
    relative error is ~1/sqrt(2^lg_k) per estimate.

    ``pairs`` restricts output to the given (seg_a, seg_b) pairs;
    default is every unordered pair, emitted once with seg_a < seg_b.
    Reference parity: the reference has no set-algebra surface at all —
    this extends its single-sketch distinct endpoint (reference
    sketches.py) the way its own README's "audience" example implies.

    ``native_keys`` (round 15, guide §4/§2.3): hash the RAW key column
    instead of ``CAST(key AS STRING)`` — drops the per-row string
    materialization (~18% of the build scan measured at 120M rows). The
    key type must be natively hashable (rollup.THETA_NATIVE_TYPES).
    Counts are identical in the sketch's exact regime (segment ndv ≤
    2^lg_k); beyond it the two encodings give independent same-error
    estimates (~1/sqrt(2^lg_k) each), so only opt in where no persisted
    string-keyed sketch must be unioned with the result. Default False —
    every existing caller's estimates are byte-stable.
    """
    key_expr = (
        f"`{key_col}`" if native_keys else f"CAST(`{key_col}` AS STRING)"
    )
    per_seg = (
        df.where(F.col(key_col).isNotNull() & F.col(segment_col).isNotNull())
        .groupBy(F.col(segment_col).cast("string").alias("seg"))
        .agg(
            F.expr(
                f"theta_sketch_agg({key_expr}, {int(lg_k)})"
            ).alias("sk")
        )
    )
    return pairwise_sketch_overlap(per_seg, pairs=pairs, lg_k=lg_k)


def pairwise_sketch_overlap(per_seg, pairs=None, lg_k: int = 12):
    """The pairwise back half of :func:`segment_overlap`, factored out so
    per-segment theta sketches can come from EITHER a raw-table scan
    (segment_overlap) or merged ROLLUP STATE (engine.segment_overlap's
    routed path — round 10): ``per_seg`` is any (seg string, sk theta
    binary) frame; output schema and ordering are identical on both
    paths, which is what lets the advisor-built route be hash-oracled
    against the raw computation."""
    per_seg = (
        # both sides of the pairwise self-join consume this: pin the
        # S-row sketch frame so the source is scanned ONCE, not once
        # per branch (plan audit showed two full scans otherwise)
        per_seg.localCheckpoint(eager=False)
    )
    a = per_seg.select(
        F.col("seg").alias("seg_a"), F.col("sk").alias("sk_a")
    )
    b = per_seg.select(
        F.col("seg").alias("seg_b"), F.col("sk").alias("sk_b")
    )
    # sketch-level cross join: S^2/2 rows of bounded binary state — tiny
    paired = a.join(b, F.col("seg_a") < F.col("seg_b"), "inner")
    if pairs is not None:
        want = {(str(x), str(y)) if str(x) < str(y) else (str(y), str(x))
                for x, y in pairs}
        cond = F.lit(False)
        for x, y in sorted(want):
            cond = cond | ((F.col("seg_a") == x) & (F.col("seg_b") == y))
        paired = paired.where(cond)
    est = "CAST(ROUND(theta_sketch_estimate({0})) AS BIGINT)"
    return (
        paired.select(
            "seg_a",
            "seg_b",
            F.expr(est.format("sk_a")).alias("distinct_a"),
            F.expr(est.format("sk_b")).alias("distinct_b"),
            F.expr(
                est.format("theta_intersection(sk_a, sk_b)")
            ).alias("overlap_cnt"),
            # the scalar union must run at the sketches' own nominal:
            # its default (lg_k 12) would downsample exact-mode inputs
            # built larger, turning union_cnt into an estimate
            F.expr(
                est.format(f"theta_union(sk_a, sk_b, {int(lg_k)})")
            ).alias("union_cnt"),
        )
        .withColumn(
            "jaccard",
            F.col("overlap_cnt").cast("double")
            / F.col("union_cnt").cast("double"),
        )
        .orderBy("seg_a", "seg_b")
    )
