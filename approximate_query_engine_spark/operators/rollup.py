"""Time-series rollups (continuous-aggregate style): materialize a
bucketed pre-aggregation of an event table once, then answer matching
window queries from the rollup instead of the raw data.

The hypertable/continuous-aggregate pattern expressed relationally:
a rollup row holds per (time_bucket, dims...) the partial-aggregation
state — counts, sums, min/max — everything needed to re-aggregate at any
coarser granularity without touching raw events. AVG re-derives as
sum/count (never averaged averages). At 100 TB the rollup is smaller than
the raw table by the bucket compression factor and is the only thing
interactive dashboards should scan; it refreshes incrementally by
re-materializing only late buckets (the watermarked streaming agg in
``streaming/approx_stream.py`` is the push-based version of the same
state).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from approximate_query_engine_spark.operators.partitioning import (
    list_bucket_dirs,
    overwrite_partitions,
)

#: storage partition column of a materialized rollup (date of the bucket
#: start) — never part of the registered view's schema
_PDATE = "p_date"


@dataclass
class RollupSpec:
    source_table: str
    time_col: str
    bucket: str  # e.g. "1 hour", "15 minutes"
    dims: list[str] = field(default_factory=list)
    measures: list[str] = field(default_factory=list)  # numeric columns
    #: columns tracked for APPROXIMATE per-bucket distinct counts: each
    #: gets a DataSketches HLL sketch column (Spark-native
    #: hll_sketch_agg) whose state unions across buckets/batches exactly
    #: like the other partials — "distinct users last week" answers from
    #: pre-aggregated state (rel. std. err. ≈ 1.04/sqrt(2^lgk))
    distinct_cols: list[str] = field(default_factory=list)
    hll_lgk: int = 12
    #: columns tracked for APPROXIMATE per-bucket quantiles: each gets a
    #: DataSketches KLL sketch column (Spark-native
    #: ``kll_sketch_agg_double``) whose state merges across buckets —
    #: "p95 latency per day/week" answers from pre-aggregated state.
    #: KLL's guarantee is on RANK, not value: the answer is a true data
    #: value whose rank is within ε(k) ≈ 2.296/k^0.9433 of the requested
    #: p (the published DataSketches single-sided bound); below the
    #: sketch's compaction threshold the answer is exactly the
    #: inclusive-rank order statistic.
    quantile_cols: list[str] = field(default_factory=list)
    kll_k: int = 200
    #: columns tracked for per-bucket HEAVY HITTERS: each gets an
    #: ``approx_top_k_accumulate`` state column (DataSketches
    #: frequent-items) that combines across buckets — "top items last
    #: week" answers from pre-aggregated state via
    #: :meth:`AQEngine.rollup_top_items`. Counts are exact while a
    #: combined range's distinct items fit ``topk_budget`` (no purge can
    #: occur); beyond it the Misra–Gries ``3.5·n/budget`` bound applies
    #: (same contract as sketches.grouped_top_k).
    topk_cols: list[str] = field(default_factory=list)
    topk_budget: int = 1024
    #: columns tracked for cross-window SET ALGEBRA: each gets a theta
    #: sketch column (``theta_sketch_agg``) that unions across buckets
    #: and, unlike HLL, supports INTERSECTION/DIFFERENCE between two
    #: window ranges — "new vs returning users this week" answers from
    #: state via :meth:`AQEngine.rollup_audience_diff`. Exact while each
    #: range's distinct keys fit 2^theta_lgk; ~1/sqrt(2^lgk) relative
    #: error per estimate beyond (Dasgupta et al., DataSketches theta).
    theta_cols: list[str] = field(default_factory=list)
    theta_lgk: int = 12
    #: round-15 v2 theta key encoding (guide §4/§2.3): feed
    #: ``theta_sketch_agg`` the RAW column instead of
    #: ``CAST(col AS STRING)`` — the v1 cast materializes a string per
    #: row just to be hashed (~18% of the sketch-build scan measured at
    #: 120M rows). The two encodings hash DIFFERENT bytes, so sketches
    #: built under one NEVER union/intersect with the other: the flag is
    #: per-spec, travels in the catalog entry, and every state builder
    #: (full materialize, incremental refresh, the hybrid query's fresh
    #: edge slices) derives its key expression from it. In the sketch's
    #: exact regime (range ndv ≤ 2^theta_lgk — the only regime routing
    #: certifies) estimates are exact counts under EITHER encoding, so
    #: flipping encodings via a REBUILD (maintenance's advised
    #: migration) never changes a certified answer. create_rollup sets
    #: it from the key types (native whenever every theta column's type
    #: allows it); a layout built under the string encoding keeps that
    #: encoding until maintenance's advised migration rebuilds it.
    theta_key_native: bool = False

    def state_columns(self) -> list[tuple[str, str, str]]:
        """The rollup's state layout, defined once: ``(column, build,
        merge)`` per state column in layout order (after
        ``bucket_start`` and the dims). ``build`` is the SQL aggregate
        that makes the column from source rows; ``merge`` is the one
        that combines state rows — counts and sums add, min/max combine,
        HLL/theta union, KLL merges, top-k combines. The build, the
        derived build, the streaming merge, the hybrid rewrite's fresh
        edge slices and the rewrites' column checks all read it."""
        cols = [("n_rows", "COUNT(1)", "SUM(`n_rows`)")]
        for m in self.measures:
            for part, build, merge in zip(
                ("count", "sum", "min", "max"),
                ("COUNT", "SUM", "MIN", "MAX"),
                ("SUM", "SUM", "MIN", "MAX"),
            ):
                cols.append(
                    (f"{m}_{part}", f"{build}(`{m}`)", f"{merge}(`{m}_{part}`)")
                )
        lgk, k = int(self.hll_lgk), int(self.kll_k)
        for c in self.distinct_cols:
            cols.append((f"{c}_hll", f"hll_sketch_agg(`{c}`, {lgk})",
                         f"hll_union_agg(`{c}_hll`)"))
        for c in self.quantile_cols:
            cols.append((f"{c}_kll",
                         f"kll_sketch_agg_double(CAST(`{c}` AS DOUBLE), {k})",
                         f"kll_merge_agg_double(`{c}_kll`, {k})"))
        budget = int(self.topk_budget)
        for c in self.topk_cols:
            cols.append((f"{c}_topk",
                         f"approx_top_k_accumulate(`{c}`, {budget})",
                         f"approx_top_k_combine(`{c}_topk`, {budget})"))
        # union at the spec's nominal (the state was built at the same
        # lg_k) — the function default would downsample any state built
        # above lg_k 12
        lgk = int(self.theta_lgk)
        for c in self.theta_cols:
            key = theta_key_sql(c, self.theta_key_native)
            cols.append((f"{c}_theta", f"theta_sketch_agg({key}, {lgk})",
                         f"theta_union_agg(`{c}_theta`, {lgk})"))
        return cols

    @property
    def state_names(self) -> list[str]:
        return [name for name, _build, _merge in self.state_columns()]

    @property
    def rollup_name(self) -> str:
        tag = self.bucket.replace(" ", "_")
        return f"{self.source_table}__rollup_{tag}"

    @property
    def files_view(self) -> str:
        """The layout's view WITH ``p_date`` — routed SQL prunes on it."""
        return f"{self.rollup_name}__files"


def entry_spec(table: str, info: dict) -> RollupSpec:
    """The RollupSpec a catalog rollup entry describes. Its theta key
    encoding is the recorded one: state rebuilt from raw rows must hash
    the same key space as the layout's untouched history."""
    return RollupSpec(
        table,
        info["time_col"],
        info["bucket"],
        list(info.get("dims", [])),
        list(info.get("measures", [])),
        list(info.get("distinct_cols", [])),
        int(info.get("hll_lgk", 12)),
        list(info.get("quantile_cols", [])),
        int(info.get("kll_k", 200)),
        list(info.get("topk_cols", [])),
        int(info.get("topk_budget", 1024)),
        list(info.get("theta_cols", [])),
        int(info.get("theta_lgk", 12)),
        theta_key_native=bool(info.get("theta_key_native")),
    )


def serve_layout(
    spark: SparkSession, view: str, path: str, since: str | None = None
):
    """Register rollup ``view`` and its ``<view>__files`` view over the
    layout at ``path`` through the served-state helper (served.py) and
    return the served version (its ``df`` is the layout WITH ``p_date``).
    ``since``: a tail refresh rewrote only the dates >= since."""
    from approximate_query_engine_spark.served import served_state

    return served_state(spark).serve(
        path, {f"{view}__files": (), view: (_PDATE,)}, since=since
    )


def write_rollup_state(
    spark: SparkSession, state: DataFrame, spec: RollupSpec, path: str
) -> None:
    """Write rollup ``state`` (from the source or derived) into the new
    directory ``path``, partitioned by date: a tail refresh then replaces
    only its dates and a date-range query prunes at file-listing time."""
    state.write.partitionBy(_PDATE).parquet(path)
    if not list_bucket_dirs(spark, path, _PDATE):
        # an empty or all-NULL-time source writes no date directory,
        # and a layout without files cannot be read back
        raise ValueError(
            f"{spec.source_table} has no rows with a non-NULL "
            f"{spec.time_col}: there is no state to roll up"
        )


def materialize_rollup(
    spark: SparkSession, spec: RollupSpec, path: str | None = None
) -> DataFrame:
    """Build + register the rollup table. One shuffle on
    (bucket, dims); partial-agg state per measure: count/sum/min/max.
    ``path``: a new directory to write the layout into and serve from."""
    src = spark.table(spec.source_table)
    rolled = _partial_state(src, spec)
    if path:
        write_rollup_state(spark, rolled, spec, path)
        # the registered view keeps the same schema as the unmaterialized
        # form; the partition column is a storage detail
        return serve_layout(spark, spec.rollup_name, path).df.drop(_PDATE)
    rolled = rolled.drop(_PDATE)
    rolled.createOrReplaceTempView(spec.rollup_name)
    return rolled


#: column types theta_sketch_agg ingests directly (Spark 4.1's signature:
#: array<int>/array<bigint>/binary/double/float/int/bigint/string) —
#: anything else must keep the v1 CAST..AS STRING encoding
THETA_NATIVE_TYPES = frozenset(
    {"int", "bigint", "float", "double", "string", "binary"}
)


def theta_key_sql(col: str, native: bool) -> str:
    """The theta sketch key expression for ``col`` under the spec's key
    encoding (see ``RollupSpec.theta_key_native``). ONE definition shared
    by every state builder so a layout can never mix encodings."""
    return f"`{col}`" if native else f"CAST(`{col}` AS STRING)"


def can_derive_rollup(fine: RollupSpec, coarse: RollupSpec) -> str | None:
    """None when ``coarse`` is derivable from ``fine``'s state, else the
    human-readable reason it is not. Derivable = coarse bucket is a
    multiple of fine's, coarse dims/measures/sketch columns are subsets
    of fine's, and every sketch parameter matches (merging state built
    at a different k/lgk would silently change the error contract)."""
    # same fact lineage first: state bucketed on a different time column
    # (or built from a different table) is silently-wrong to re-bucket
    if fine.source_table != coarse.source_table:
        return (
            f"source tables differ ({fine.source_table!r} vs "
            f"{coarse.source_table!r})"
        )
    if fine.time_col != coarse.time_col:
        return (
            f"time columns differ ({fine.time_col!r} vs "
            f"{coarse.time_col!r})"
        )
    fb, cb = bucket_seconds(fine.bucket), bucket_seconds(coarse.bucket)
    if fb is None or cb is None:
        return "non-fixed-width bucket"
    if cb % fb != 0:
        return f"coarse bucket {coarse.bucket!r} not a multiple of {fine.bucket!r}"
    # a strict subset collapses dims, which is STATE-sound (counts add,
    # sketches merge) — only NEW dims are underivable
    if not set(coarse.dims) <= set(fine.dims):
        return "coarse dims not a subset of fine dims"
    for name in ("measures", "distinct_cols", "quantile_cols",
                 "topk_cols", "theta_cols"):
        if not set(getattr(coarse, name)) <= set(getattr(fine, name)):
            return f"coarse {name} not a subset of fine {name}"
    # theta_key_native counts as a sketch parameter: the coarse spec's
    # flag describes ITS state's key encoding for every future refresh,
    # and refreshing state derived from the other encoding would union
    # incompatible hash spaces
    for pname in ("hll_lgk", "kll_k", "topk_budget", "theta_lgk",
                  "theta_key_native"):
        tracked = {
            "hll_lgk": coarse.distinct_cols,
            "kll_k": coarse.quantile_cols,
            "topk_budget": coarse.topk_cols,
            "theta_lgk": coarse.theta_cols,
            "theta_key_native": coarse.theta_cols,
        }[pname]
        if tracked and getattr(fine, pname) != getattr(coarse, pname):
            return f"{pname} differs ({getattr(fine, pname)} vs {getattr(coarse, pname)})"
    return None


def merge_state_aggs(spec: RollupSpec) -> list[Column]:
    """The aggregates that merge rows of ``spec``'s state into one, in
    layout order (:meth:`RollupSpec.state_columns`): the derived build
    and the streaming merge both use them."""
    return [
        F.expr(merge).alias(name) for name, _b, merge in spec.state_columns()
    ]


def derive_rollup_state(
    spark: SparkSession,
    fine: RollupSpec,
    coarse: RollupSpec,
    src: DataFrame | None = None,
) -> DataFrame:
    """Build ``coarse``'s state FROM ``fine``'s materialized state — the
    hierarchical continuous-aggregate build: counts/sums add, min/max
    combine, HLL/theta union, KLL merges, top-k combines, so a daily
    rollup derives from the hourly one at rollup cost (the 20M-row fact
    scan becomes a few-thousand-row state scan — at 100 TB this is the
    only sane way to maintain a grain hierarchy). Raises ValueError when
    the shapes are not derivable (:func:`can_derive_rollup`)."""
    reason = can_derive_rollup(fine, coarse)
    if reason:
        raise ValueError(f"cannot derive {coarse.rollup_name}: {reason}")
    if src is None:
        src = spark.table(fine.rollup_name)
    return (
        src.groupBy(
            bucket_start_col("bucket_start", coarse.bucket).alias(
                "bucket_start"
            ),
            *coarse.dims,
        )
        .agg(*merge_state_aggs(coarse))
        .withColumn(_PDATE, F.date_format("bucket_start", "yyyy-MM-dd"))
    )


def query_rollup(
    spark: SparkSession,
    spec: RollupSpec,
    measure: str,
    dims: list[str] | None = None,
    grain: str | None = None,
) -> DataFrame:
    """Aggregate FROM THE ROLLUP at the requested (coarser or equal) grain:
    count/sum re-sum, min/max re-min/max, avg = Σsum/Σcount. ``grain``
    defaults to the rollup bucket; dims default to all spec dims."""
    r = spark.table(spec.rollup_name)
    dims = spec.dims if dims is None else dims
    if grain:
        time_key = F.window(F.col("bucket_start"), grain)["start"].alias("bucket_start")
    else:
        time_key = F.col("bucket_start")
    return r.groupBy(time_key, *dims).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum(f"{measure}_sum").alias(f"{measure}_sum"),
        (F.sum(f"{measure}_sum") / F.sum(f"{measure}_count")).alias(f"{measure}_avg"),
        F.min(f"{measure}_min").alias(f"{measure}_min"),
        F.max(f"{measure}_max").alias(f"{measure}_max"),
    )


# ---------------------------------------------------------------------------
# SQL → rollup rewriting (continuous-aggregate query routing)
#
# The materialized-view rewrite every hypertable system performs: a SQL
# aggregate over the RAW event table whose shape is derivable from a
# registered rollup's partial-aggregation state is answered FROM THE
# ROLLUP — exactly (not approximately), because count/sum/min/max
# re-aggregate losslessly and the time bounds are required to align to
# bucket boundaries. At 100 TB this is the difference between scanning
# the fact table and scanning a table smaller by the bucket compression
# factor; combined with the rollup's date-partitioned materialization the
# routed scan also prunes to the queried date directories.

import re as _re
from datetime import datetime, timedelta, timezone

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

#: every boundary of DATE_TRUNC(unit) falls on an epoch multiple of this
#: many seconds (week+ boundaries are midnights), so a rollup whose
#: bucket divides it can regroup to the unit exactly
_TRUNC_MODULUS = {
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 86400,
    "month": 86400,
    "quarter": 86400,
    "year": 86400,
}


def is_week_bucket(bucket: str) -> bool:
    """True for any week-length bucket, however spelled. Week windows
    are a foot-gun: Spark's ``F.window`` aligns to the epoch (Thursday
    boundaries) while SQL ``DATE_TRUNC('week')`` is Monday, so
    week-bucketed state can never serve calendar-week keys —
    :meth:`AQEngine.create_rollup` refuses them and points at day-grain
    state instead. '7 days' and '168 hours' have the identical epoch
    alignment, so the guard is on SECONDS (any multiple of 604800),
    not the unit spelling."""
    if _re.fullmatch(r"\s*\d+\s+weeks?\s*", bucket, _re.I):
        return True
    bsec = bucket_seconds(bucket)
    return bsec is not None and bsec > 0 and bsec % 604800 == 0


def bucket_seconds(bucket: str) -> int | None:
    """Length of a fixed-width window bucket string in seconds, or None
    for variable-width buckets (months) that alignment math can't cover."""
    m = _re.fullmatch(
        r"\s*(\d+)\s+(second|minute|hour|day|week)s?\s*", bucket, _re.I
    )
    if not m:
        return None
    mult = {
        "second": 1,
        "minute": 60,
        "hour": 3600,
        "day": 86400,
        "week": 604800,
    }[m.group(2).lower()]
    return int(m.group(1)) * mult


def _parse_literal(text: str) -> datetime | None:
    """DATE '...' / TIMESTAMP '...' / bare '...' literal → aware UTC
    datetime (microsecond precision), or None."""
    m = _re.fullmatch(
        r"\s*(?:DATE|TIMESTAMP)?\s*'(\d{4}-\d{2}-\d{2})"
        r"(?:[ T](\d{2}:\d{2}:\d{2})(\.\d{1,6})?)?'\s*",
        text,
        _re.I,
    )
    if not m:
        return None
    base = datetime.strptime(m.group(1), "%Y-%m-%d")
    if m.group(2):
        t = datetime.strptime(m.group(2), "%H:%M:%S")
        base = base.replace(hour=t.hour, minute=t.minute, second=t.second)
    if m.group(3):
        base += timedelta(seconds=float(m.group(3)))
    return base.replace(tzinfo=timezone.utc)


def _epoch_micros(dt: datetime) -> int:
    """Integer microseconds since epoch — alignment checks must not ride
    on float seconds (at 2024 epoch scale float64 resolution is ~0.4 µs,
    too close to the 1 µs distinctions the <=/> rules depend on)."""
    d = dt - _EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _aligned(dt: datetime, bsec: int) -> bool:
    return _epoch_micros(dt) % (bsec * 1_000_000) == 0


def _desugar_between(where: str) -> str | None:
    """Rewrite ``<expr> BETWEEN <lit> AND <lit>`` (expr = bare column,
    ``DATE_TRUNC('unit', col)`` or ``CAST(col AS DATE)``; literals
    DATE/TIMESTAMP/bare-quoted) into the two-comparison form so the
    top-level AND split can reason conjunct-by-conjunct. Matching runs on
    a literal-masked copy (a BETWEEN inside a string can't trigger);
    ``NOT BETWEEN`` declines the whole clause (None) — its complement is
    a disjunction."""
    from approximate_query_engine_spark.sqlparser import (
        _mask_string_literals,
    )

    masked = _mask_string_literals(where)
    if _re.search(r"\bNOT\s+BETWEEN\b", masked, _re.I):
        return None
    pat = _re.compile(
        r"(DATE_TRUNC\(\s*'[^']*'\s*,\s*[A-Za-z_][\w.]*\s*\)"
        r"|CAST\(\s*[A-Za-z_][\w.]*\s+AS\s+DATE\s*\)"
        r"|[A-Za-z_][\w.]*)"
        r"\s+BETWEEN\s+((?:DATE|TIMESTAMP)?\s*'[^']*')"
        r"\s+AND\s+((?:DATE|TIMESTAMP)?\s*'[^']*')",
        _re.I,
    )
    out, last = [], 0
    for m in pat.finditer(masked):
        expr = where[m.start(1):m.end(1)]
        lo = where[m.start(2):m.end(2)].strip()
        hi = where[m.start(3):m.end(3)].strip()
        out.append(where[last:m.start()])
        out.append(f"{expr} >= {lo} AND {expr} <= {hi}")
        last = m.end()
    out.append(where[last:])
    return "".join(out)


def _trunc_dt(unit: str, dt: datetime) -> datetime:
    """DATE_TRUNC semantics in Python (week → Monday, matching Spark)."""
    d = dt.replace(microsecond=0)
    if unit == "minute":
        return d.replace(second=0)
    d = d.replace(minute=0, second=0)
    if unit == "hour":
        return d
    d = d.replace(hour=0)
    if unit == "day":
        return d
    if unit == "week":
        return d - timedelta(days=d.weekday())
    d = d.replace(day=1)
    if unit == "month":
        return d
    if unit == "quarter":
        return d.replace(month=((d.month - 1) // 3) * 3 + 1)
    return d.replace(month=1)  # year


def _next_boundary(unit: str, dt: datetime) -> datetime:
    """The boundary after a unit-aligned ``dt``."""
    if unit == "minute":
        return dt + timedelta(minutes=1)
    if unit == "hour":
        return dt + timedelta(hours=1)
    if unit == "day":
        return dt + timedelta(days=1)
    if unit == "week":
        return dt + timedelta(days=7)
    step = {"month": 1, "quarter": 3, "year": 12}[unit]
    m = dt.month - 1 + step
    return dt.replace(year=dt.year + m // 12, month=m % 12 + 1)


def _ts_conjunct_bounds(
    sc: str, ts: str, bsec: int
) -> tuple[list[tuple[str, str]], list[tuple[str, datetime]]] | None:
    """Translate one qualifier-stripped WHERE conjunct bounding ``ts``
    into rollup bucket bounds: ``([(op, iso_literal), ...], [(op,
    boundary_dt), ...])`` — the first list becomes ``bucket_start <op>
    TIMESTAMP '<iso>'`` conjuncts, the second the conservative
    ``p_date`` pruning bounds. None when the conjunct is not a provably
    bucket-exact time bound. Rules (each exact, never approximate):

    - raw ``ts >= L`` / ``ts < L``: L must sit ON the bucket grid;
    - raw ``ts <= L`` / ``ts > L``: timestamps have µs precision, so
      these ARE ``ts < L+1µs`` / ``ts >= L+1µs`` — route when the
      shifted bound lands on the grid (the inclusive-end dashboard
      idiom ``<= '… 23:59:59.999999'``);
    - ``DATE_TRUNC('unit', ts) cmp L`` (CAST-to-DATE normalized by the
      caller): unit boundaries must all fall on the bucket grid and L
      must be unit-aligned; ``=`` expands to [L, next), ``<=``/``>``
      shift to the unit's next boundary — exact because every row in
      [L, next) truncates to L.
    """
    # every upper prune below pairs with a STRICT ``bucket_start < B``
    # condition, so the last included bucket starts at or before B - 1µs:
    # truncating THAT instant to a date keeps a midnight-aligned bound
    # from listing the bound's own (fully filtered) day directory — at
    # 100 TB with day directories that's one free directory per query
    def _upper(dt):
        return dt - timedelta(microseconds=1)

    m = _re.fullmatch(
        rf"\s*{_re.escape(ts)}\s*(>=|<=|<|>)\s*"
        r"((?:DATE|TIMESTAMP)?\s*'[^']+')\s*",
        sc,
        _re.I,
    )
    if m:
        lit = _parse_literal(m.group(2))
        if lit is None:
            return None
        op = m.group(1)
        if op in (">=", "<"):
            if not _aligned(lit, bsec):
                return None  # bound slices a bucket
            iso = lit.strftime("%Y-%m-%d %H:%M:%S")
            if op == ">=":
                return [(op, iso)], [(">=", lit)]
            return [(op, iso)], [("<=", _upper(lit))]
        shifted = lit + timedelta(microseconds=1)
        if not _aligned(shifted, bsec):
            return None
        iso = shifted.strftime("%Y-%m-%d %H:%M:%S")
        if op == "<=":
            return [("<", iso)], [("<=", _upper(shifted))]
        return [(">=", iso)], [(">=", shifted)]
    m = _re.fullmatch(
        rf"\s*DATE_TRUNC\(\s*'(\w+)'\s*,\s*{_re.escape(ts)}\s*\)\s*"
        r"(=|>=|<=|<|>)\s*((?:DATE|TIMESTAMP)?\s*'[^']+')\s*",
        sc,
        _re.I,
    )
    if not m:
        return None
    unit, op = m.group(1).lower(), m.group(2)
    lit = _parse_literal(m.group(3))
    mod = _TRUNC_MODULUS.get(unit)
    if (
        lit is None
        or mod is None
        or mod % bsec != 0
        or _trunc_dt(unit, lit.replace(tzinfo=None))
        != lit.replace(tzinfo=None)
    ):
        return None
    iso = lit.strftime("%Y-%m-%d %H:%M:%S")
    nxt = _next_boundary(unit, lit)
    nxt_iso = nxt.strftime("%Y-%m-%d %H:%M:%S")
    if op == "=":
        return (
            [(">=", iso), ("<", nxt_iso)],
            [(">=", lit), ("<=", _upper(nxt))],
        )
    if op == ">=":
        return [(">=", iso)], [(">=", lit)]
    if op == "<":
        return [("<", iso)], [("<=", _upper(lit))]
    if op == "<=":
        return [("<", nxt_iso)], [("<=", _upper(nxt))]
    return [(">=", nxt_iso)], [(">=", nxt)]  # '>'


def _split_conjuncts(where: str) -> list[str] | None:
    """Top-level AND conjuncts of ``where``; None when a top-level OR
    makes conjunct-by-conjunct reasoning unsound."""
    from approximate_query_engine_spark.sqlparser import flatten_and_parens

    where = flatten_and_parens(where)
    desugared = _desugar_between(where)
    if desugared is None:
        return None
    where = desugared
    depth, in_str = 0, False
    parts, start, i = [], 0, 0
    upper = where.upper()
    while i < len(where):
        ch = where[i]
        if ch == "'":
            in_str = not in_str
        elif not in_str and ch == "(":
            depth += 1
        elif not in_str and ch == ")":
            depth -= 1
        elif (
            not in_str
            and depth == 0
            and upper.startswith("AND", i)
            and (i == 0 or not upper[i - 1].isalnum() and upper[i - 1] != "_")
            and (
                i + 3 >= len(upper)
                or not upper[i + 3].isalnum() and upper[i + 3] != "_"
            )
        ):
            parts.append(where[start:i])
            start = i + 3
            i += 3
            continue
        elif (
            not in_str
            and depth == 0
            and upper.startswith("OR", i)
            and (i == 0 or not upper[i - 1].isalnum() and upper[i - 1] != "_")
            and (
                i + 2 >= len(upper)
                or not upper[i + 2].isalnum() and upper[i + 2] != "_"
            )
        ):
            return None
        i += 1
    parts.append(where[start:])
    return [p.strip() for p in parts if p.strip()]


_SQL_KEYWORDS = frozenset(
    "AND OR NOT IN IS NULL BETWEEN LIKE TRUE FALSE DATE TIMESTAMP "
    "INTERVAL CAST AS ESCAPE EXISTS SELECT CASE WHEN THEN ELSE END "
    "BIGINT DOUBLE FLOAT DECIMAL STRING INT SMALLINT TINYINT BOOLEAN".split()
)


def _identifiers(text: str) -> set[str] | None:
    """Bare column identifiers referenced in a predicate (function names
    excluded); None when a subquery/CASE makes the scan unreliable."""
    no_str = _re.sub(r"'[^']*'", "''", text)
    if _re.search(r"\bSELECT\b|\bCASE\b", no_str, _re.I):
        return None
    out = set()
    for m in _re.finditer(r"[A-Za-z_][\w.]*", no_str):
        tok = m.group(0)
        if tok.upper() in _SQL_KEYWORDS:
            continue
        if no_str[m.end():].lstrip().startswith("("):
            continue  # function call
        out.add(tok)
    return out


def _strip_qualifier(expr: str, scopes: set[str]) -> str:
    """Remove ``alias.`` / ``table.`` prefixes owned by the routed table."""
    pat = r"\b(" + "|".join(_re.escape(s) for s in scopes) + r")\.(\w+)"
    return _re.sub(pat, r"\2", expr)


def kll_rank_error(k: int) -> float:
    """DataSketches' published KLL single-sided normalized rank-error
    bound: ε(k) ≈ 2.296 / k^0.9433 at 99% confidence (the quantiles
    component's documented getNormalizedRankError fit). k=200 → ~1.6%,
    k=800 → ~0.42%. The guarantee is on RANK: the returned value is a
    true data value whose rank is within ε of the requested p."""
    return 2.296 / (float(k) ** 0.9433)


def null_ts_decline(
    info: dict, ts_bounded: bool, declines: list[str] | None
) -> bool:
    """True (and the reason appended to ``declines``) when a query with
    no time conjunct would drop rows: the layout holds no state for
    source rows whose time column is NULL (``_partial_state`` buckets
    none of them), and ``null_ts_rows`` counts them at build/refresh.
    Any comparison on the time column excludes those rows too, so a
    time-bounded query stays routable."""
    n = int(info.get("null_ts_rows") or 0)
    if ts_bounded or n <= 0:
        return False
    if declines is not None:
        declines.append(
            f"rollup {info['view']} holds no state for {n} source rows "
            f"with a NULL {info['time_col']}, and the query has no "
            f"{info['time_col']} bound"
        )
    return True


class Rewrite(NamedTuple):
    """A query rewritten to scan rollup state: the SQL, the plan note,
    and the APPROXIMATE state families the answer reads ("HLL",
    "theta", "KLL", "top-k"). No family means every aggregate
    re-aggregated losslessly, so the answer is exact."""

    sql: str
    note: str
    families: frozenset = frozenset()


def family_error(info: dict, family: str) -> float:
    """The published error of an approximate state family at ``info``'s
    sketch parameters: HLL's relative standard error 1.04/√2^lgk,
    theta's 1/√2^lgk, and KLL's normalized rank error
    (:func:`kll_rank_error`)."""
    if family == "HLL":
        return 1.04 / math.sqrt(2 ** int(info.get("hll_lgk", 12)))
    if family == "theta":
        return 1.0 / math.sqrt(2 ** int(info.get("theta_lgk", 12)))
    return kll_rank_error(int(info.get("kll_k", 200)))


def _approx_parts(
    info: dict, used: dict[str, list[str]], hybrid: bool = False
) -> list[str]:
    """One note part per approximate family in ``used`` (family → the
    columns served from it), with the family's error bound. The hybrid
    names the families merged across its two branches instead of the
    columns."""
    parts = []
    for fam in ("HLL", "theta", "KLL"):
        if fam not in used:
            continue
        err = family_error(info, fam)
        bound = f"rank err ≤ {err:.2%}" if fam == "KLL" else f"rel err ≈ {err:.1%}"
        if hybrid:
            what = "quantiles" if fam == "KLL" else "COUNT(DISTINCT)"
            parts.append(
                f"{what} from {fam} state merged across both branches, {bound}"
            )
            continue
        cols = ", ".join(sorted(set(used[fam])))
        what = f"quantiles of {cols}" if fam == "KLL" else f"COUNT(DISTINCT {cols})"
        parts.append(f"{what} from merged {fam} sketch state, {bound}")
    return parts


class _Single:
    """Column naming of a one-table query: the source table's name and
    alias qualify its columns, and rollup state is referenced
    unqualified."""

    prefix = ""  # qualifier of rollup state columns in the routed SQL
    route = ""  # what the note says was answered
    approx_lead = ""
    exact_note = "exact — partial-agg state re-aggregated"

    def __init__(self, parsed, info: dict):
        self.scopes = {info["source_table"]}
        if parsed.table_alias:
            self.scopes.add(parsed.table_alias)
        self.dims = set(info["dims"])
        #: every column the rewritten SQL may reference besides dims —
        #: the post-rewrite soundness check for HAVING
        self.state = {
            "bucket_start",
            *entry_spec(info["source_table"], info).state_names,
        }

    def strip(self, e: str) -> str:
        return _strip_qualifier(e, self.scopes).strip()

    def fact_col(self, ref: str) -> str:
        """``ref`` as a source-table column name (qualifier stripped)."""
        return self.strip(ref)

    def key_col(self, e: str) -> str | None:
        """A plain group key: only rollup dims re-group."""
        c = self.strip(e)
        return c if c in self.dims else None

    def col_name(self, raw: str) -> str | None:
        """The name Spark gives an unaliased select item that is a plain
        (possibly qualified) dim column: its bare name."""
        return self.key_col(raw)

    def where_term(self, c: str, ids: set[str]) -> tuple[str, str | None]:
        """``("filter", sql)`` for a conjunct over dims only, which
        passes through; ``("time", None)`` for anything else, which
        must be a time bound."""
        bare = {self.strip(i) for i in ids}
        if bare and bare <= self.dims:
            return "filter", self.strip(c)
        return "time", None

    def having(self, h: str, ids: set[str]) -> str | None:
        # everything the rewritten HAVING references must be a dim or
        # rollup partial-agg state — anything else means an original
        # reference this rewrite didn't account for
        if {self.strip(i) for i in ids} - self.dims - self.state:
            return None
        return _strip_qualifier(h, self.scopes)

    def source(self, src: str) -> str:
        return src


class _Star:
    """Column naming of a star join whose FACT table is the rollup's
    source: references resolve to exactly one joined table, rollup
    state is qualified with the fact's alias, and the fact scan is
    replaced in the FROM body."""

    route = "star join "
    approx_lead = "fact scan replaced by partial-agg state; "
    exact_note = (
        "fact scan replaced by partial-agg state — exact, dims broadcast "
        "as before"
    )

    def __init__(self, jq, info: dict, table_columns: dict):
        self.jq, self.table_columns = jq, table_columns
        self.fact = info["source_table"]
        self.ts = info["time_col"]
        self.dims = set(info["dims"])
        alias = jq.alias_of(self.fact)  # alias if present, else table name
        self.scopes = {self.fact, alias}
        # the rollup keeps the fact's alias in the FROM body
        self.alias, self.prefix = alias, f"{alias}."
        #: columns the rollup view ADDS relative to the fact table — an
        #: unqualified reference to a same-named DIM column would become
        #: ambiguous once the fact reference is swapped for the rollup
        self.state = {
            "bucket_start",
            "p_date",
            *entry_spec(self.fact, info).state_names,
        }
        self.own: dict[str, set[str]] = {}
        for t, _a in jq.tables:
            for c in table_columns[t]:
                self.own.setdefault(c, set()).add(t)

    def resolve(self, ref: str) -> tuple[str, str] | None:
        """qualified/unqualified column reference → (table, column)."""
        ref = ref.strip()
        if "." in ref:
            q, c = ref.split(".", 1)
            for t, a in self.jq.tables:
                if q == (a or t):
                    return (t, c) if c in self.table_columns.get(t, []) else None
            return None
        owners = self.own.get(ref)
        if owners is None or len(owners) != 1:
            return None
        owner = next(iter(owners))
        if owner != self.fact and ref in self.state:
            return None  # would collide with a rollup state column
        return owner, ref

    def fact_col(self, ref: str) -> str | None:
        r = self.resolve(ref)
        return r[1] if r is not None and r[0] == self.fact else None

    def key_col(self, e: str) -> str | None:
        r = self.resolve(e)
        if r is None:
            return None
        t, c = r
        if t == self.fact:
            return f"{self.prefix}{c}" if c in self.dims else None
        return e  # dim-table column — rides through the join unchanged

    def col_name(self, raw: str) -> str | None:
        # Spark names an unaliased (possibly qualified) plain column by
        # its bare name; expressions keep their full text
        r = self.resolve(raw)
        return r[1] if r is not None else None

    def where_term(self, c: str, ids: set[str]) -> tuple[str, str | None] | None:
        rs = [self.resolve(i) for i in ids]
        if any(r is None for r in rs):
            return None
        owners = {r[0] for r in rs}
        if self.fact not in owners:
            return "filter", c  # constant or dim-only — passes through
        if owners != {self.fact}:
            return None  # mixed fact+dim conjunct
        cols = {r[1] for r in rs}
        if cols <= self.dims:
            # fact-dim filter: the rollup carries these columns under
            # the same alias, so the conjunct passes through verbatim
            return "filter", c
        return ("time", None) if cols == {self.ts} else None

    def having(self, h: str, ids: set[str]) -> str | None:
        # every remaining reference must be rollup state (under the fact
        # alias), a fact dim, or a dim-table column
        for i in ids:
            if "." in i:
                q, c = i.split(".", 1)
                if q == self.alias and (c in self.state or c in self.dims):
                    continue  # rewritten state / fact dim under the alias
            r = self.resolve(i)
            if r is None or (r[0] == self.fact and r[1] not in self.dims):
                return None
        return h

    def source(self, src: str) -> str:
        return self.jq.from_with_replacement(self.fact, src)


def _day_cast_as_trunc(text: str, col: str = r"[A-Za-z_]\w*") -> str:
    """``CAST(col AS DATE)`` → ``DATE_TRUNC('DAY', col)``: the two name
    the same day, so bound matching only needs the DATE_TRUNC form."""
    return _re.sub(
        rf"CAST\(\s*({col})\s+AS\s+DATE\s*\)",
        r"DATE_TRUNC('DAY', \1)",
        text,
        flags=_re.I,
    )


def _where_terms(
    where: str, scope, ts: str
) -> list[tuple[str | None, str | None]] | None:
    """The top-level conjuncts of ``where``: ``(filter_sql, None)`` for
    one that passes through, ``(None, bound)`` for one on the time
    column (fact qualifiers stripped, ``CAST(ts AS DATE)`` normalized),
    or None when a top-level OR or an unplaceable conjunct makes the
    clause underivable."""
    conjs = _split_conjuncts(where)
    if conjs is None:
        return None
    out = []
    for c in conjs:
        ids = _identifiers(c)
        term = None if ids is None else scope.where_term(c, ids)
        if term is None:
            return None
        kind, filt = term
        if kind == "filter":
            out.append((filt, None))
        else:
            sc = _strip_qualifier(c, scope.scopes).strip()
            out.append((None, _day_cast_as_trunc(sc, _re.escape(ts))))
    return out


def _bucket_where(
    parsed, info: dict, scope, declines: list[str] | None
) -> list[str] | None:
    """WHERE → conditions over rollup state: filters pass through and
    each time bound becomes ``bucket_start`` bounds
    (:func:`_ts_conjunct_bounds`), plus conservative ``p_date`` prunes
    on a materialized layout. None when a conjunct is neither or a bound
    slices a bucket, and when the query has no time bound while the
    source has NULL-time rows (:func:`null_ts_decline`)."""
    ts, bsec = info["time_col"], info["bucket_seconds"]
    terms = _where_terms(parsed.where, scope, ts) if parsed.where else []
    if terms is None:
        return None
    # only the materialized files view carries p_date; the prunes are a
    # date-directory superset, the bucket_start conjuncts the exact filter
    materialized = bool(
        info.get("files_view") and info["files_view"] != info["view"]
    )
    conds, prune, ts_bounded = [], [], False
    for filt, sc in terms:
        if filt is not None:
            conds.append(filt)
            continue
        tb = _ts_conjunct_bounds(sc, ts, bsec)
        if tb is None:
            return None
        ts_bounded = True
        for op, iso in tb[0]:
            conds.append(f"{scope.prefix}bucket_start {op} TIMESTAMP '{iso}'")
        if materialized:
            for op, dt in tb[1]:
                prune.append(f"{scope.prefix}p_date {op} '{dt:%Y-%m-%d}'")
    if null_ts_decline(info, ts_bounded, declines):
        return None
    return conds + prune


def _rewrite(
    parsed,
    info: dict,
    scope,
    allow_distinct: bool,
    allow_quantile: bool,
    declines: list[str] | None,
) -> Rewrite | None:
    """The one rewrite core over rollup state: aggregates map to state,
    group keys to ``bucket_start``/dims, WHERE to bucket bounds and
    filters, then HAVING and ORDER BY; ``scope`` says how the route
    names columns (:class:`_Single`, :class:`_Star`)."""
    from approximate_query_engine_spark.sqlparser import Aggregate

    ts, bsec = info["time_col"], info["bucket_seconds"]
    measures = set(info["measures"])
    distinct_set = set(info.get("distinct_cols", []))
    theta_set = set(info.get("theta_cols", []))
    quantile_set = set(info.get("quantile_cols", []))
    kll_k = int(info.get("kll_k", 200))
    R = scope.prefix
    #: approximate family → the columns served from it
    used: dict[str, list[str]] = {}

    def agg_sql(agg) -> str | None:
        if agg.distinct:
            c = (
                scope.fact_col(agg.arg)
                if allow_distinct and agg.func == "COUNT"
                else None
            )
            if c in distinct_set:
                used.setdefault("HLL", []).append(c)
                return f"hll_sketch_estimate(hll_union_agg({R}{c}_hll))"
            # theta state serves plain distinct counts too (union then
            # estimate) — same accuracy family (~1/√2^lgk), so the
            # caller's HLL tolerance gate covers it; like HLL union it is
            # idempotent, so distinct stays correct under non-unique dim
            # matches of a star join
            if c in theta_set:
                used.setdefault("theta", []).append(c)
                return (
                    f"CAST(ROUND(theta_sketch_estimate("
                    f"theta_union_agg({R}{c}_theta, "
                    f"{int(info.get('theta_lgk', 12))}))) AS BIGINT)"
                )
            return None
        # quantile (KLL) state is offered to the one-table route only: a
        # dim multiplicity of m repeats each fact value m times in a raw
        # join, and sketch state cannot be weight-scaled — unlike
        # counts/sums (multiply via SUM(n_rows)) or HLL/theta
        # (idempotent union)
        if agg.is_quantile:
            if not allow_quantile:
                return None
            try:
                vexpr, p = agg.quantile_args()
            except Exception:  # noqa: BLE001 - non-literal p: not derivable
                return None
            c = scope.fact_col(vexpr)
            if c not in quantile_set:
                return None
            used.setdefault("KLL", []).append(c)
            return (
                f"kll_sketch_get_quantile_double("
                f"kll_merge_agg_double({R}{c}_kll, {kll_k}), "
                f"CAST({p!r} AS DOUBLE))"
            )
        if agg.func not in ("COUNT", "SUM", "MIN", "MAX", "AVG"):
            return None
        if agg.func == "COUNT" and (agg.is_star or agg.arg.strip() == "1"):
            return f"COALESCE(SUM({R}n_rows), CAST(0 AS BIGINT))"
        c = scope.fact_col(agg.arg)
        if c not in measures:
            return None
        if agg.func == "COUNT":
            return f"COALESCE(SUM({R}{c}_count), CAST(0 AS BIGINT))"
        if agg.func == "AVG":
            return f"SUM({R}{c}_sum) / NULLIF(SUM({R}{c}_count), 0)"
        return f"{agg.func}({R}{c}_{agg.func.lower()})"

    def key_sql(expr: str) -> str | None:
        e = expr.strip()
        m = _re.fullmatch(
            r"DATE_TRUNC\(\s*'(\w+)'\s*,\s*([A-Za-z_][\w.]*)\s*\)", e, _re.I
        )
        if m:
            unit = m.group(1).lower()
            mod = _TRUNC_MODULUS.get(unit)
            if scope.fact_col(m.group(2)) != ts or mod is None or mod % bsec:
                return None
            return f"DATE_TRUNC('{unit.upper()}', {R}bucket_start)"
        # GROUP BY CAST(ts AS DATE) — the other dashboard day-grain key;
        # DATE-typed (unlike DATE_TRUNC's timestamp), so it rewrites to
        # the same cast of bucket_start
        m = _re.fullmatch(
            r"CAST\(\s*([A-Za-z_][\w.]*)\s+AS\s+DATE\s*\)", e, _re.I
        )
        if m:
            if scope.fact_col(m.group(1)) != ts or 86400 % bsec:
                return None
            return f"CAST({R}bucket_start AS DATE)"
        return scope.key_col(e)

    # ---- select list ----
    items, aliases = [], set()
    has_agg, nonagg_keys = False, []
    for it in parsed.select_items:
        if it.agg is not None:
            new = agg_sql(it.agg)
            has_agg = True
        else:
            new = key_sql(it.raw)
            nonagg_keys.append(new)
        if new is None:
            return None
        items.append(
            f"{new} AS {it.alias or scope.col_name(it.raw) or f'`{it.raw}`'}"
        )
        if it.alias:
            aliases.add(it.alias)

    # ---- group by ----
    keys = []
    for g in parsed.group_by:
        new = key_sql(g)
        if new is None:
            return None
        keys.append(new)

    # the rollup holds one row per (bucket, dims) GROUP, not one row per
    # raw event — an aggregate-free projection (or a select item outside
    # GROUP BY) would come back with the wrong multiplicity, so decline
    if not has_agg or any(k not in keys for k in nonagg_keys):
        return None

    # ---- where ----
    conds = _bucket_where(parsed, info, scope, declines)
    if conds is None:
        return None

    # ---- having: its aggregate calls rewrite through the same rules ----
    having_sql = None
    if parsed.having:
        bad = False

        def _agg_repl(m):
            nonlocal bad
            if m.group(2):  # DISTINCT inside a HAVING aggregate
                bad = True
                return m.group(0)
            new = agg_sql(
                Aggregate(m.group(1).upper(), m.group(3), False, m.group(0))
            )
            if new is None:
                bad = True
                return m.group(0)
            return f"({new})"

        h = _re.sub(
            r"\b(COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(DISTINCT\s+)?([^()]*)\)",
            _agg_repl,
            parsed.having,
            flags=_re.I,
        )
        ids = None if bad else _identifiers(h)
        having_sql = None if ids is None else scope.having(h, ids)
        if having_sql is None:
            return None

    # ---- order by / limit ----
    order = []
    for o in parsed.order_by:
        new = key_sql(o.expr)
        if new is None:
            m = _re.fullmatch(
                r"(COUNT|SUM|MIN|MAX|AVG)\s*\((.*)\)", o.expr.strip(), _re.I
            )
            if m:
                new = agg_sql(
                    Aggregate(m.group(1).upper(), m.group(2), False, o.expr)
                )
        if new is None:
            if o.expr in aliases:  # select-list alias — resolves as-is
                order.append(o.render())
                continue
            return None
        order.append(f"{new} DESC" if o.desc else new)

    src = scope.source(info.get("files_view") or info["view"])
    sql = "SELECT " + ", ".join(items) + f" FROM {src}"
    if conds:
        sql += " WHERE " + " AND ".join(conds)
    if keys:
        sql += " GROUP BY " + ", ".join(keys)
    if having_sql:
        sql += f" HAVING {having_sql}"
    if order:
        sql += " ORDER BY " + ", ".join(order)
    if parsed.limit is not None:
        sql += f" LIMIT {parsed.limit}"
    note = (
        f"{scope.route}answered from materialized rollup {info['view']} "
        f"(bucket {info['bucket']}; "
    )
    if used:
        note += (
            f"{scope.approx_lead}{'; '.join(_approx_parts(info, used))}; "
            "other aggregates exact)"
        )
    else:
        note += f"{scope.exact_note})"
    return Rewrite(sql, note, frozenset(used))


def rewrite_to_rollup(
    parsed,
    info: dict,
    allow_approx_distinct: bool = False,
    allow_approx_quantile: bool = False,
    declines: list[str] | None = None,
) -> Rewrite | None:
    """Rewrite a parsed single-table aggregate to scan ``info``'s rollup,
    or None when the shape is not derivable.

    With ``allow_approx_distinct``, ``COUNT(DISTINCT c)`` over a column
    in ``info["distinct_cols"]`` rewrites to the merged HLL sketch
    estimate (DataSketches state unions across buckets; rel. std. err.
    ≈ 1.04/√2^lgk), or over a ``theta_cols`` column to the merged theta
    estimate — reported in the rewrite's families so the caller
    prices/labels it as a sketch plan.

    With ``allow_approx_quantile``, ``MEDIAN(c)`` / ``PERCENTILE(c, p)``
    over a column in ``info["quantile_cols"]`` rewrites to the merged
    KLL sketch quantile (``kll_merge_agg_double`` across buckets →
    ``kll_sketch_get_quantile_double``) — same report. The answer is a
    true data value whose rank is within ε(kll_k) of p
    (:func:`kll_rank_error`); below the sketch's compaction threshold it
    is exactly the inclusive-rank order statistic (discrete quantile).

    ``info``: {"view", "files_view", "time_col", "bucket",
    "bucket_seconds", "dims", "measures"} (engine.create_rollup builds
    it). Soundness rules, each of which declines rather than risks a
    wrong answer:

    - aggregates must be COUNT(*)/COUNT(m)/SUM(m)/MIN(m)/MAX(m)/AVG(m)
      over registered measures (n_rows / m_count / m_sum / m_min /
      m_max state re-aggregates exactly; AVG = Σsum/Σcount — never an
      average of averages); COUNT(DISTINCT) and quantiles only from
      tracked sketch state, and only when the caller's tolerance gates
      allow them;
    - group keys must be rollup dims or DATE_TRUNC(unit, ts) at a grain
      whose boundaries all fall on the bucket grid;
    - WHERE conjuncts must reference only dims (passed through) or bound
      ts: raw ``>=``/``<`` literals EXACTLY on bucket boundaries,
      ``<=``/``>`` literals one microsecond before a boundary (µs is the
      timestamp tick, so the shift is an identity, not a convention), or
      ``DATE_TRUNC``/``CAST AS DATE`` comparisons (``=``, ``>=``, ``<``,
      ``<=``, ``>``) with unit-aligned literals — ``<=``/``>`` shift to
      the unit's next boundary, which is exact because every row in
      [literal, next) truncates to the literal. ``BETWEEN`` desugars to
      the two comparisons first; a misaligned bound would slice a
      bucket, which the rollup cannot, so it declines;
    - HAVING rewrites its aggregate calls the same way; the rewritten
      clause must reference only dims + rollup state, else decline;
    - OR at the top level of WHERE declines;
    - while the source has NULL-timestamp rows (which no bucket holds), a
      query with no time conjunct declines — the reason is appended to
      ``declines`` (:func:`null_ts_decline`).
    """
    return _rewrite(
        parsed,
        info,
        _Single(parsed, info),
        allow_approx_distinct,
        allow_approx_quantile,
        declines,
    )


def _topk_shape(parsed, strip) -> tuple[str, str, str] | None:
    """``(col, col_alias, count_alias)`` when ``parsed`` is the canonical
    top-items dashboard shape — exactly one plain group key, select
    items are the key + one COUNT(*), ORDER BY leads with that count
    DESC (an optional secondary ASC on the key is absorbed), LIMIT
    present, no HAVING — else None. The one grammar the top-k rewrite
    serves and the rollup advisor records."""
    if parsed.having or not parsed.limit or parsed.limit <= 0:
        return None
    if len(parsed.group_by) != 1 or len(parsed.select_items) != 2:
        return None
    col = strip(parsed.group_by[0])
    col_alias = cnt_alias = None
    for it in parsed.select_items:
        if it.agg is not None:
            if it.agg.distinct or it.agg.func != "COUNT":
                return None
            if not (it.agg.is_star or strip(it.agg.arg) == "1"):
                return None
            cnt_alias = it.alias or f"`{it.raw}`"
        else:
            if strip(it.raw) != col:
                return None
            col_alias = it.alias or col
    if col_alias is None or cnt_alias is None:
        return None
    # ORDER BY must LEAD with the count DESC; a secondary ASC key on the
    # grouping column matches the deterministic re-rank we emit anyway
    if not parsed.order_by or len(parsed.order_by) > 2:
        return None
    lead = parsed.order_by[0]
    lead_e = strip(lead.expr)
    is_cnt = (
        lead_e == cnt_alias.strip("`")
        or _re.fullmatch(r"COUNT\s*\(\s*(\*|1)\s*\)", lead_e, _re.I)
    )
    if not (lead.desc and is_cnt):
        return None
    if len(parsed.order_by) == 2:
        sec = parsed.order_by[1]
        if sec.desc or strip(sec.expr) not in (col, col_alias):
            return None
    return col, col_alias, cnt_alias


def rewrite_topk_to_rollup(
    parsed, info: dict, declines: list[str] | None = None
) -> tuple[Rewrite, str] | None:
    """Rewrite the canonical TOP-ITEMS dashboard SQL —
    ``SELECT col, COUNT(*) FROM t [WHERE ...] GROUP BY col
    ORDER BY COUNT(*) DESC LIMIT k`` — to ``info``'s combined
    frequent-items state (``approx_top_k_combine`` over the range's
    ``col_topk`` sketches), or None when the shape is not derivable.
    The SQL twin of :meth:`AQEngine.rollup_top_items`: the grouping
    column is too high-cardinality to be a rollup dim (that exact case
    routes through rewrite_to_rollup), so the state IS the only
    pre-aggregation that can serve it without a fact scan.

    Accuracy contract: counts are EXACT while the range's distinct
    items fit ``topk_budget`` (no purge can occur in any partial) — the
    CALLER must certify that regime before serving the rewrite (the
    engine checks catalog ndv or the rollup's own distinct-sketch
    state), because beyond the budget the Misra–Gries additive bound
    has no bound relative to the k-th item's count. The sketch is asked
    for its full budget of items (not a candidate prefix), so the
    deterministic (count DESC, item ASC) re-rank breaks ties globally —
    a valid instance of the user's count-DESC ordering. Returns
    ``(rewrite, column)``.

    Soundness rules, each declining rather than risking a wrong answer:
    the shape is :func:`_topk_shape`'s with its group key a tracked topk
    column, and WHERE conjuncts are dim filters or bucket-aligned time
    bounds (combined state cannot slice a bucket), no DISTINCT/OR."""
    scope = _Single(parsed, info)
    budget = int(info.get("topk_budget", 1024))
    shape = _topk_shape(parsed, scope.strip)
    if shape is None:
        return None
    col, col_alias, cnt_alias = shape
    if col not in info.get("topk_cols", []) or col in scope.dims:
        return None  # a dim group key re-aggregates exactly — not ours

    # dim filters pass through; time bounds translate to the bucket grid
    # exactly like rewrite_to_rollup (misaligned declines)
    conds = _bucket_where(parsed, info, scope, declines)
    if conds is None:
        return None

    k = int(parsed.limit)
    # ask the sketch for its FULL budget of items: a shorter candidate
    # list could drop ties at the cutoff that the deterministic re-rank
    # (count DESC, item ASC) must break globally — budget-sized output
    # is still state-scale, so the width costs nothing material
    cand = budget
    src = info.get("files_view") or info["view"]
    where_sql = " WHERE " + " AND ".join(conds) if conds else ""
    # the inner GROUP BY 'all' makes an EMPTY range produce zero groups
    # (no rows) instead of one empty combine buffer, which Spark 4.1's
    # ApproxTopKCombine cannot serialize (genSketchSerDe MatchError);
    # COALESCE(1) sidesteps the same footgun for empty PARTIAL buffers —
    # free at state cardinality
    sql = (
        f"SELECT e.item AS {col_alias}, e.count AS {cnt_alias} "
        f"FROM (SELECT explode(approx_top_k_estimate("
        f"approx_top_k_combine(`{col}_topk`, {budget}), {cand})) AS e "
        f"FROM (SELECT /*+ COALESCE(1) */ `{col}_topk` FROM {src}"
        f"{where_sql}) GROUP BY 'all') "
        f"ORDER BY {cnt_alias} DESC, {col_alias} ASC LIMIT {k}"
    )
    note = (
        f"top-{k} {col} from combined frequent-items state of "
        f"materialized rollup {info['view']} (bucket {info['bucket']}, "
        f"budget {budget})"
    )
    return Rewrite(sql, note, frozenset({"top-k"})), col


def _fmt_ts(dt: datetime) -> str:
    """Full-precision TIMESTAMP literal text (microseconds kept — hybrid
    bounds are routinely off-grid by exactly 1 µs)."""
    if dt.microsecond:
        return dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    return dt.strftime("%Y-%m-%d %H:%M:%S")


def _ceil_bucket(dt: datetime, bsec: int) -> datetime:
    mics = _epoch_micros(dt)
    step = bsec * 1_000_000
    up = ((mics + step - 1) // step) * step
    return _EPOCH + timedelta(microseconds=up)


def _floor_bucket(dt: datetime, bsec: int) -> datetime:
    mics = _epoch_micros(dt)
    step = bsec * 1_000_000
    return _EPOCH + timedelta(microseconds=(mics // step) * step)


def rewrite_to_rollup_hybrid(
    parsed,
    info: dict,
    layout_info: dict | None = None,
    allow_approx_distinct: bool = False,
    allow_approx_quantile: bool = False,
) -> Rewrite | None:
    """REAL-TIME continuous-aggregate rewrite: answer an aggregate whose
    time bounds do NOT align to the bucket grid by unioning the rollup's
    state for every COMPLETE bucket with freshly-built state for the raw
    edge slices, or None. This is the hypertable "real-time aggregate"
    pattern: ``WHERE ts >= <aligned 7 days ago> AND ts < <now,
    mid-bucket>`` reads 7 days of rollup rows plus only the current
    partial bucket's raw rows, exactly.

    Mechanics: the fresh branch builds the rollup's OWN state over only
    the slice rows — the spec's build aggregates
    (:meth:`RollupSpec.state_columns`, sketches included) grouped by the
    build's bucket (:func:`bucket_start_sql`) and dims, a map-side
    combine — so state types and bucket assignment match the layout
    exactly, and ``COUNT(DISTINCT)`` over a tracked column merges across
    both branches (flagged approximate, same pricing as the plain sketch
    path). The plain rewrite then runs over the ``UNION ALL`` of both
    branches. The slice scan routes through the table's time-partitioned
    layout when one is registered and fresh (``layout_info``), pruning
    to the slice's buckets; otherwise it falls back to the base table
    (parquet min/max pushdown only — fine at test scale, register a
    layout at warehouse scale).

    Soundness: bounds compose by max(lower)/min(upper) over the
    conjuncts; only dim conjuncts may remain; at least one complete
    bucket must fall inside the range (otherwise the rollup contributes
    nothing and the normal planner should own the query)."""
    from dataclasses import replace as _dc_replace

    ts = info["time_col"]
    bsec = info["bucket_seconds"]
    dims = list(info["dims"])

    if not parsed.where:
        return None
    terms = _where_terms(parsed.where, _Single(parsed, info), ts)
    if terms is None:
        return None
    dim_conjs: list[str] = []
    lowers: list[datetime] = []
    uppers: list[datetime] = []
    saw_misaligned = False
    for filt, sc in terms:
        if filt is not None:
            dim_conjs.append(filt)
            continue
        tb = _ts_conjunct_bounds(sc, ts, bsec)
        if tb is not None:
            # aligned bound: bucket bounds ARE raw-ts bounds
            for bop, iso in tb[0]:
                dt = _parse_literal(f"'{iso}'")
                if dt is None:
                    return None
                (lowers if bop == ">=" else uppers).append(dt)
            continue
        m = _re.fullmatch(
            rf"\s*{_re.escape(ts)}\s*(>=|<=|<|>)\s*"
            r"((?:DATE|TIMESTAMP)?\s*'[^']+')\s*",
            sc,
            _re.I,
        )
        if m is None:
            return None
        lit = _parse_literal(m.group(2))
        if lit is None:
            return None
        op = m.group(1)
        saw_misaligned = True
        if op == ">=":
            lowers.append(lit)
        elif op == ">":
            lowers.append(lit + timedelta(microseconds=1))
        elif op == "<":
            uppers.append(lit)
        else:
            uppers.append(lit + timedelta(microseconds=1))
    if not saw_misaligned:
        return None  # plain rewrite's territory (it declined elsewhere)
    A = max(lowers) if lowers else None
    B = min(uppers) if uppers else None
    ceilA = _ceil_bucket(A, bsec) if A is not None else None
    floorB = _floor_bucket(B, bsec) if B is not None else None
    if ceilA is not None and floorB is not None and ceilA >= floorB:
        return None  # no complete bucket — nothing for the rollup to add
    if A is not None and B is not None and B <= A:
        return None  # empty range — let the normal path answer it

    state = entry_spec(info["source_table"], info).state_columns()
    proj = ", ".join(["bucket_start", *dims, *(n for n, _b, _m in state)])

    # ---- rollup branch: complete buckets only, date-dir pruned ----
    files_view = info.get("files_view") or info["view"]
    materialized = bool(
        info.get("files_view") and info["files_view"] != info["view"]
    )
    rconds = []
    if ceilA is not None:
        rconds.append(f"bucket_start >= TIMESTAMP '{_fmt_ts(ceilA)}'")
        if materialized:
            rconds.append(f"p_date >= '{ceilA.strftime('%Y-%m-%d')}'")
    if floorB is not None:
        rconds.append(f"bucket_start < TIMESTAMP '{_fmt_ts(floorB)}'")
        if materialized:
            # strict upper bound: the last included bucket starts before
            # floorB, so a midnight-aligned floorB must not list its own
            # (fully filtered) day directory
            tight = floorB - timedelta(microseconds=1)
            rconds.append(f"p_date <= '{tight.strftime('%Y-%m-%d')}'")
    rollup_part = f"SELECT {proj} FROM {files_view}"
    if rconds:
        rollup_part += " WHERE " + " AND ".join(rconds)

    # ---- fresh branch: the build's own state over only the edge-slice
    # rows. Its theta sketches MERGE with the layout's state, so their
    # key encoding comes from the layout's recorded flag (entry_spec) —
    # a mismatched encoding would silently union two hash spaces ----
    slices: list[tuple[datetime | None, datetime | None]] = []
    if A is not None and (ceilA != A):
        head_hi = ceilA if B is None else min(ceilA, B)
        slices.append((A, head_hi))
    if B is not None and (floorB != B):
        tail_lo = floorB if A is None else max(floorB, A)
        slices.append((tail_lo, B))
    fresh_src, layout_note = info["source_table"], ""
    grain_k = {"hour": 13, "day": 10, "month": 7}
    if layout_info and layout_info.get("grain") in grain_k:
        fresh_src = layout_info["view"]
        layout_note = f" via layout {fresh_src}"
    preds = []
    for lo, hi in slices:
        p = [
            f"{ts} >= TIMESTAMP '{_fmt_ts(lo)}'",
            f"{ts} < TIMESTAMP '{_fmt_ts(hi)}'",
        ]
        if layout_note:
            k = grain_k[layout_info["grain"]]
            pcol = layout_info.get("partition_col", "p_bucket")
            hi_inc = hi - timedelta(microseconds=1)
            p.append(f"{pcol} >= '{lo.isoformat(sep=' ')[:k]}'")
            p.append(f"{pcol} <= '{hi_inc.isoformat(sep=' ')[:k]}'")
        preds.append("(" + " AND ".join(p) + ")")
    if not preds:
        return None  # misaligned flag without a real slice — bail safely
    bucket = bucket_start_sql(ts, info["bucket"])
    fresh_proj = ", ".join(
        [f"{bucket} AS bucket_start", *dims,
         *(f"{b} AS {n}" for n, b, _m in state)]
    )
    fresh_keys = ", ".join([bucket, *dims])
    fresh_part = (
        f"SELECT {fresh_proj} FROM {fresh_src} "
        f"WHERE {' OR '.join(preds)} GROUP BY {fresh_keys}"
    )

    hybrid_view = f"({rollup_part} UNION ALL {fresh_part}) AS __aqe_rt"
    routed = rewrite_to_rollup(
        _dc_replace(parsed, where=" AND ".join(dim_conjs) or None),
        {**info, "files_view": hybrid_view},
        allow_approx_distinct=allow_approx_distinct,
        allow_approx_quantile=allow_approx_quantile,
    )
    if routed is None:
        return None
    approx = "; ".join(
        _approx_parts(info, dict.fromkeys(routed.families), hybrid=True)
    )
    note = (
        f"answered from materialized rollup {info['view']} + raw edge "
        f"slice{'s' if len(slices) > 1 else ''}{layout_note} (real-time "
        f"hybrid: complete buckets from partial-agg state, the "
        f"off-grid remainder aggregated in place"
        f"{'; ' + approx if routed.families else ' — exact'})"
    )
    return routed._replace(note=note)


def rewrite_join_to_rollup(
    jq,
    info: dict,
    table_columns: dict[str, list[str]],
    allow_approx_distinct: bool = False,
    declines: list[str] | None = None,
) -> Rewrite | None:
    """Rewrite a star-join aggregate so the FACT side is the rollup, not
    the raw event table, or None.

    The 100 TB dashboard shape is ``fact ⋈ dims`` with a time bound and
    aggregates over fact measures. When the join keys on the fact side
    are rollup DIMENSIONS, the join distributes over the pre-aggregation:
    every raw join-output row descends from exactly one fact row, and all
    fact rows of one rollup group share the same dim values, hence the
    same dim matches — so ``COUNT(*)`` over the raw join equals
    ``SUM(n_rows)`` over rollup ⋈ dims, and fact-measure SUM/COUNT/MIN/
    MAX/AVG re-aggregate from state identically. The joined scan shrinks
    from the fact table to the rollup (bucket compression factor), and
    Catalyst still broadcasts the dims. ``COUNT(DISTINCT fact_col)`` for
    a tracked sketch column stays correct under non-unique dim matches
    because HLL union is idempotent.

    Soundness rules (decline, never guess):
    - every ON condition is a conjunction of plain equalities, and any
      fact-side column in one is a rollup dim;
    - aggregates are COUNT(*)/fact-measure COUNT/SUM/MIN/MAX/AVG (or HLL
      COUNT(DISTINCT) when allowed); aggregates over DIM columns decline
      (they'd collapse per-fact-row repetition), and so do quantiles;
    - group keys are fact dims, bucket-aligned DATE_TRUNC/CAST-to-DATE
      of the fact ts, or dim-table columns (which pass through);
    - non-aggregate select items must appear in GROUP BY and at least
      one aggregate must be present (row multiplicity);
    - WHERE conjuncts reference dim tables only (pass through), fact
      dims only (pass through — the rollup carries them), or bound the
      fact ts bucket-exactly (_ts_conjunct_bounds); mixed fact+dim
      conjuncts decline; HAVING rewrites its aggregates through the same
      rules and declines on anything else;
    - every table reference is unique and unqualified columns must
      resolve to exactly one joined table.
    """
    fact = info["source_table"]
    names = [t for t, _ in jq.tables]
    if names.count(fact) != 1 or len(set(names)) != len(names):
        return None
    if any(table_columns.get(t) is None for t in names):
        return None
    scope = _Star(jq, info, table_columns)

    # ---- ON conditions: equi-joins whose fact-side keys are dims ----
    for seg in _re.split(r"\bJOIN\b", jq.from_body, flags=_re.I)[1:]:
        mo = _re.search(r"\bON\b", seg, _re.I)
        if not mo:
            return None
        cond = seg[mo.end():]
        for eq in _re.split(r"\bAND\b", cond, flags=_re.I):
            pm = _re.fullmatch(
                r"\s*([A-Za-z_][\w.]*)\s*=\s*([A-Za-z_][\w.]*)\s*", eq
            )
            if pm is None:
                return None
            for side in (pm.group(1), pm.group(2)):
                r = scope.resolve(side)
                if r is None:
                    return None
                if r[0] == fact and r[1] not in scope.dims:
                    return None

    return _rewrite(
        jq, info, scope, allow_approx_distinct, False, declines
    )


def bucket_start_sql(time_col: str, bucket: str) -> str:
    """The rollup bucket start of ``time_col``, in SQL — the one
    definition that the build, the derived build, tail refresh,
    maintenance's per-date verification and the hybrid rewrite's fresh
    edge slices share, so all agree on which bucket (and date
    directory) a row lands in. NULL timestamps give NULL.

    For fixed-width buckets the tumbling-window start is plain epoch
    arithmetic — ts − pmod(unix_micros(ts), width) — exactly
    TimeWindow's own start formula (origin 0, floor semantics for
    pre-epoch values via pmod, so a pre-epoch sub-second row stays in
    the bucket it falls in, which truncating UNIX_TIMESTAMP would not),
    without materializing the (start, end) struct per row that
    F.window builds (measured ~0.6 s/20M rows). Value-identity with
    F.window(...).start is pinned in tests/test_rollup.py; variable
    width buckets (months) keep the window."""
    bsec = bucket_seconds(bucket)
    if bsec is None:  # pragma: no cover - month buckets are refused upstream
        return f"window(`{time_col}`, '{bucket}').start"
    us = f"unix_micros(`{time_col}`)"
    return f"timestamp_micros({us} - pmod({us}, {int(bsec) * 1_000_000}))"


def bucket_start_col(time_col: str, bucket: str) -> Column:
    """:func:`bucket_start_sql` as a Column."""
    return F.expr(bucket_start_sql(time_col, bucket))


def bucket_date_col(time_col: str, bucket: str) -> Column:
    """The storage ``p_date`` (``yyyy-MM-dd``) of ``time_col``'s bucket."""
    return F.date_format(bucket_start_col(time_col, bucket), "yyyy-MM-dd")


def _partial_state(df: DataFrame, spec: RollupSpec) -> DataFrame:
    """Per-(bucket, dims) partial-agg state of ``df`` in the rollup's
    column layout (:meth:`RollupSpec.state_columns`), plus the storage
    ``p_date`` column."""
    # NULL timestamps must be dropped on BOTH paths: Spark's TimeWindowing
    # rule injects IsNotNull(ts) under F.window, so the arithmetic path
    # needs the same explicit filter or a NULL-ts source grows a NULL
    # bucket_start group (and a __HIVE_DEFAULT_PARTITION__ p_date
    # directory) that no tail refresh could ever repair: its date filter
    # drops NULL-ts rows, so the NULL directory would never be rewritten.
    return (
        df.where(F.col(spec.time_col).isNotNull())
        .groupBy(
            bucket_start_col(spec.time_col, spec.bucket).alias("bucket_start"),
            *spec.dims,
        )
        .agg(*[F.expr(b).alias(n) for n, b, _m in spec.state_columns()])
        .withColumn(_PDATE, F.date_format("bucket_start", "yyyy-MM-dd"))
    )


#: name of the per-date-directory batch marker: records the highest
#: batch_id merged into that directory.  It travels INSIDE the staged
#: directory, so the directory rename that publishes the data publishes
#: the marker in the same atomic step — there is no window in which the
#: data is committed but the idempotency state is not (the flaw of a
#: separate meta file written after the commit).  Underscore-prefixed, so
#: Spark's parquet listing never sees it.
_BATCH_MARKER = "_merged_batch.json"
_STAGING = "_staging"


def _read_marker(date_dir: str) -> int:
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(date_dir, _BATCH_MARKER)) as f:
            return int(_json.load(f).get("last_batch_id", -1))
    except (OSError, ValueError):
        return -1


def _staging_state(path: str) -> tuple[str, int | None]:
    """(staging_dir, staged_batch_id) — batch_id is None unless the
    staging directory holds a COMPLETE staged merge (its ``_batch.json``
    is written last, after every parquet file and marker)."""
    import json as _json
    import os as _os

    staging = _os.path.join(path, _STAGING)
    try:
        with open(_os.path.join(staging, "_batch.json")) as f:
            return staging, int(_json.load(f)["batch_id"])
    except (OSError, ValueError, KeyError):
        return staging, None


def _publish_staging(path: str) -> list[str]:
    """Move every staged date directory into the live layout (delete the
    old directory, rename the staged one in) and remove the staging dir.
    Resumable: a re-run after a crash at ANY point simply moves whatever
    is still staged — a date dir whose rename already happened is gone
    from staging and is skipped."""
    import os as _os
    import shutil as _shutil

    staging = _os.path.join(path, _STAGING)
    moved = []
    for name in sorted(_os.listdir(staging)):
        if not name.startswith(f"{_PDATE}="):
            continue
        target = _os.path.join(path, name)
        if _os.path.exists(target):
            _shutil.rmtree(target)
        _os.rename(_os.path.join(staging, name), target)
        moved.append(name.split("=", 1)[1])
    _shutil.rmtree(staging, ignore_errors=True)
    return moved


def merge_rollup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    spec: RollupSpec,
    path: str,
    batch_id: int | None = None,
) -> dict:
    """MERGE one batch of raw rows into a materialized rollup layout:
    aggregate the batch to partial state, union it with the EXISTING
    state of only the affected date directories, re-aggregate (counts and
    sums add, mins/maxes combine — the state is mergeable by
    construction, so late data is handled exactly, no watermark needed
    for correctness), and swap those directories in. Untouched history is
    never read or written — at 100 TB a micro-batch costs its own dates,
    not the table.

    ``batch_id`` makes the merge EFFECTIVELY-ONCE for at-least-once
    callers (foreachBatch re-runs a batch after a crash) via a
    staged-swap protocol with no unprotected window:

    1. the merged state of the affected dates is written to a staging
       directory, each date dir carrying a ``_merged_batch.json`` marker
       with this batch_id; a ``_batch.json`` manifest is written LAST, so
       its presence proves the staged merge is complete;
    2. each staged date dir is renamed into the live layout — data and
       marker publish in the same atomic rename;
    3. staging is removed.

    A replay of batch ``B`` is classified from durable state alone:
    a complete staging manifest for ``B`` → the merge was computed from
    pre-swap data, so just finish the swap (covers a crash anywhere in
    step 2, including between a delete and its rename); no staging and
    every affected live date dir carries a marker ≥ ``B`` → already
    merged, skip; otherwise → fresh merge (an INCOMPLETE staging dir is
    discarded — the live layout is untouched until the manifest exists).
    Single-writer contract — two concurrent mergers could interleave
    read-modify-write. Marker/staging I/O is local-file; on a shared
    filesystem swap for the Hadoop FS API calls compact_partition_layout
    demonstrates (HDFS/ABFS renames are atomic; on S3 use a committer)."""
    import json as _json
    import os as _os
    import shutil as _shutil

    exists = _os.path.exists(path) and any(
        n.startswith(f"{_PDATE}=") for n in _os.listdir(path)
    )
    if _os.path.exists(path):
        staging, staged_id = _staging_state(path)
        if staged_id is not None:
            # a COMPLETE staged merge (manifest present) from any batch
            # whose swap crashed: its data was computed from pre-swap
            # state, so finishing the swap is always exact — publish
            # first, then classify the incoming batch against markers
            dates = _publish_staging(path)
            if batch_id is not None and staged_id == batch_id:
                spark.catalog.refreshByPath(path)
                serve_layout(spark, spec.rollup_name, path)
                return {
                    "merged": True,
                    "affected_dates": dates,
                    "recovered": True,
                }
            exists = exists or bool(dates)
        elif _os.path.exists(staging):
            # incomplete staging (no manifest): the live layout was never
            # touched — discard and recompute
            _shutil.rmtree(staging, ignore_errors=True)
    rolled = _partial_state(batch_df, spec).cache()
    affected = [
        r[_PDATE] for r in rolled.select(_PDATE).distinct().collect()
    ]
    if (
        batch_id is not None
        and exists
        and affected
        and all(
            _read_marker(_os.path.join(path, f"{_PDATE}={d}")) >= batch_id
            for d in affected
        )
    ):
        rolled.unpersist()
        return {"merged": False, "reason": "batch already merged"}
    if not exists:
        merged = rolled
    else:
        existing = spark.read.parquet(path).filter(
            F.col(_PDATE).isin(affected)
        )
        merged = (
            existing.unionByName(rolled)
            .groupBy("bucket_start", *spec.dims, _PDATE)
            .agg(*merge_state_aggs(spec))
        )
    # a swapped date dir REPLACES the old one, so its marker must carry
    # the old high-water mark forward even for untracked (batch_id=None)
    # merges — otherwise a later replay of an already-merged batch would
    # no longer classify as merged
    old_markers = {
        d: _read_marker(_os.path.join(path, f"{_PDATE}={d}"))
        for d in affected
    }
    staging = _os.path.join(path, _STAGING)
    merged.write.mode("overwrite").partitionBy(_PDATE).parquet(staging)
    rolled.unpersist()
    for d in affected:
        val = max(
            old_markers.get(d, -1),
            batch_id if batch_id is not None else -1,
        )
        if val >= 0:
            with open(
                _os.path.join(staging, f"{_PDATE}={d}", _BATCH_MARKER), "w"
            ) as f:
                _json.dump({"last_batch_id": int(val)}, f)
    # manifest LAST: staging is recoverable only once it is complete.
    # Untracked merges write batch_id -1 — their staged swap is just as
    # safe to finish after a crash, they only skip replay detection.
    tmp = _os.path.join(staging, "_batch.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(
            {"batch_id": int(batch_id) if batch_id is not None else -1}, f
        )
    _os.replace(tmp, _os.path.join(staging, "_batch.json"))
    _publish_staging(path)
    # the renames happened outside Spark: re-serve the layout (a served
    # copy never reads the replaced files; a file scan re-lists them)
    spark.catalog.refreshByPath(path)
    serve_layout(
        spark,
        spec.rollup_name,
        path,
        since=min(affected) if exists and affected else None,
    )
    return {"merged": True, "affected_dates": affected}


def refresh_rollup_buckets(
    spark: SparkSession, spec: RollupSpec, path: str, since_bucket
) -> DataFrame:
    """Incremental refresh via DYNAMIC PARTITION OVERWRITE: recompute the
    rollup from the start of ``since_bucket``'s DATE partition and replace
    only those date directories of the materialized layout. Untouched
    history is NEVER re-read or rewritten — at 100 TB a late-data repair
    of the last day costs one day's scan, not a rewrite of years of
    rollup. The recompute boundary snaps to the partition (date) boundary
    so every replaced directory is fully recomputed; repairing deletions
    of an ENTIRE date's source data is out of scope (as for any
    continuous aggregate — the stale directory would simply not be
    overwritten). The source filter uses the build's own bucket date
    (:func:`bucket_date_col`), so a row is recomputed iff its bucket's
    directory is replaced.

    Serves both rollup views (:func:`serve_layout`: the new in-memory copy
    is the old copy's dates before ``since`` plus only the rewritten
    directories) and returns the served layout WITH its ``p_date``
    column."""
    since_date = str(since_bucket)[:10]
    src = spark.table(spec.source_table).filter(
        bucket_date_col(spec.time_col, spec.bucket) >= F.lit(since_date)
    )
    # the ORIGINAL spec builds the tail, so every state-defining field
    # (sketch columns, lgk/k, theta key encoding) matches untouched
    # history — a refreshed directory can never drop a sketch column
    # (the round-7 mixed-schema bug) or hash a different key space
    fresh = _partial_state(src, spec)
    return _replace_dates(spark, fresh, spec.rollup_name, path, since_date)


def refresh_rollup_buckets_from_state(
    spark: SparkSession,
    fine: RollupSpec,
    coarse: RollupSpec,
    path: str,
    since_bucket,
) -> DataFrame:
    """Hierarchical tail refresh: recompute the coarse rollup's date
    directories from ``since_bucket`` by re-aggregating the (already
    refreshed) FINE rollup's state instead of the raw table — the
    maintenance pattern of a grain hierarchy: hour refreshes from raw
    (one day's scan), day refreshes from hour (a state scan). Same
    dynamic-partition-overwrite and return contract as
    :func:`refresh_rollup_buckets` (the recompute boundary snaps to the
    coarse bucket's date partition; append-mostly data). The caller is
    responsible for the fine rollup being FRESH — engine.refresh_rollup
    gates on its built_row_count."""
    since_date = str(since_bucket)[:10]
    src = spark.table(fine.rollup_name).filter(
        bucket_date_col("bucket_start", coarse.bucket) >= F.lit(since_date)
    )
    fresh = derive_rollup_state(spark, fine, coarse, src=src)
    return _replace_dates(spark, fresh, coarse.rollup_name, path, since_date)


def _replace_dates(
    spark: SparkSession, fresh: DataFrame, view: str, path: str, since: str
) -> DataFrame:
    """Swap ``fresh``'s date directories into the layout at ``path`` (the
    rest stay), carry the streaming replay markers over and serve the
    result (see :func:`refresh_rollup_buckets`)."""
    old_markers = _snapshot_markers(path)
    overwrite_partitions(fresh, path, _PDATE)
    _restore_markers(path, old_markers)
    return serve_layout(spark, view, path, since=since).df


def _snapshot_markers(path: str) -> dict[str, int]:
    """Per-date streaming batch markers of a layout (empty when none).
    A dynamic-partition overwrite REPLACES date directories and would
    silently drop them — and a marker-less directory makes a later batch
    replay re-merge rows the refresh already recomputed from source."""
    import os as _os

    out: dict[str, int] = {}
    try:
        names = _os.listdir(path)
    except OSError:
        return out
    for name in names:
        if not name.startswith(f"{_PDATE}="):
            continue
        val = _read_marker(_os.path.join(path, name))
        if val >= 0:
            out[name] = val
    return out


def _restore_markers(path: str, old: dict[str, int]) -> None:
    """Re-write snapshot markers into (possibly rewritten) date dirs.
    The refresh recomputed those dates from SOURCE, which already
    contains every previously-merged batch's rows — so the old
    high-water mark remains the correct replay gate."""
    import json as _json
    import os as _os

    for name, val in old.items():
        target = _os.path.join(path, name)
        if not _os.path.isdir(target):
            continue  # date disappeared from the layout — nothing to gate
        with open(_os.path.join(target, _BATCH_MARKER), "w") as f:
            _json.dump({"last_batch_id": int(val)}, f)


def infer_rollup_shape(parsed) -> dict | None:
    """The rollup spec a query WOULD route to, inferred from its shape —
    or None when no rollup could ever serve it. This is the advisor's
    front half (engine.recommend_rollups): every time a rollup-shaped
    aggregate runs WITHOUT a rollup, its inferred shape is recorded, and
    recurring shapes merge into a concrete create_rollup suggestion.

    Mirrors rewrite_to_rollup's grammar WITHOUT an info dict: aggregates
    must be COUNT(*)/COUNT/SUM/MIN/MAX/AVG over plain columns (→
    measures), COUNT(DISTINCT col) (→ distinct_cols), or
    MEDIAN/PERCENTILE (→ quantile_cols); group keys are plain columns (→
    dims) or DATE_TRUNC/CAST-to-DATE of one time column (→ bucket
    grain); WHERE conjuncts either filter plain columns (→ dims — a
    routed filter column must be a dimension) or bound the time column.
    Anything else returns None — better no advice than wrong advice."""
    scopes = {parsed.table}
    if parsed.table_alias:
        scopes.add(parsed.table_alias)

    def strip(e: str) -> str:
        return _strip_qualifier(e, scopes).strip()

    ident = _re.compile(r"[A-Za-z_]\w*$")
    dims: set[str] = set()
    measures: set[str] = set()
    distinct_cols: set[str] = set()
    quantile_cols: set[str] = set()
    time_col: str | None = None
    unit: str | None = None
    time_bounded = False

    def note_time(col: str, u: str | None) -> bool:
        nonlocal time_col, unit
        if time_col is not None and time_col != col:
            return False  # two different time columns — not a rollup shape
        time_col = col
        if u is not None:
            order = ["minute", "hour", "day", "week", "month",
                     "quarter", "year"]
            if unit is None or (
                u in order and unit in order
                and order.index(u) < order.index(unit)
            ):
                unit = u
        return True

    has_agg = False
    for it in parsed.select_items:
        if it.agg is None:
            continue  # non-agg items must be group keys; handled below
        agg = it.agg
        has_agg = True
        if agg.is_quantile:
            try:
                vexpr, _p = agg.quantile_args()
            except Exception:  # noqa: BLE001
                return None
            c = strip(vexpr)
            if not ident.fullmatch(c):
                return None
            quantile_cols.add(c)
            continue
        if agg.distinct:
            c = strip(agg.arg)
            if agg.func != "COUNT" or not ident.fullmatch(c):
                return None
            distinct_cols.add(c)
            continue
        if agg.func not in ("COUNT", "SUM", "MIN", "MAX", "AVG"):
            return None
        if agg.func == "COUNT" and (agg.is_star or agg.arg.strip() == "1"):
            continue
        c = strip(agg.arg)
        if not ident.fullmatch(c):
            return None
        measures.add(c)
    if not has_agg:
        return None

    for g in parsed.group_by:
        e = strip(g)
        m = _re.fullmatch(
            r"DATE_TRUNC\(\s*'(\w+)'\s*,\s*([A-Za-z_]\w*)\s*\)", e, _re.I
        )
        if m:
            if not note_time(m.group(2), m.group(1).lower()):
                return None
            continue
        m = _re.fullmatch(r"CAST\(\s*([A-Za-z_]\w*)\s+AS\s+DATE\s*\)", e, _re.I)
        if m:
            if not note_time(m.group(1), "day"):
                return None
            continue
        if ident.fullmatch(e):
            dims.add(e)
            continue
        return None

    if parsed.where:
        where = _desugar_between(parsed.where) or parsed.where
        conjs = _split_conjuncts(where)
        if conjs is None:
            return None
        for c in conjs:
            sc = strip(c)
            sc_n = _day_cast_as_trunc(sc)
            m = _re.match(
                r"\s*(?:DATE_TRUNC\(\s*'\w+'\s*,\s*)?([A-Za-z_]\w*)\s*\)?\s*"
                r"(>=|<=|<|>|=)\s*(?:DATE|TIMESTAMP)\s*'",
                sc_n,
                _re.I,
            )
            if m:
                if not note_time(m.group(1), None):
                    return None
                time_bounded = True
                continue
            ids = _identifiers(sc)
            if ids is None:
                return None
            bare = {strip(i) for i in ids}
            if bare and all(ident.fullmatch(b) for b in bare):
                dims |= bare  # filter columns must be dims to route
                continue
            return None

    if time_col is None:
        return None  # nothing time-series about it — not rollup territory
    if not time_bounded and unit is None:
        return None
    bucket = {
        "minute": "1 minute",
        "hour": "1 hour",
    }.get(unit or "hour", "1 day")
    # the time column can't also be a dim/measure (grouping on raw ts
    # would make every bucket row its own group — not a rollup shape)
    if time_col in dims | measures | distinct_cols | quantile_cols:
        return None
    top = None
    if not (measures or distinct_cols or quantile_cols):
        top = _topk_shape(parsed, strip)
    return {
        "table": parsed.table,
        "time_col": time_col,
        "bucket": bucket,
        "dims": sorted(dims),
        "measures": sorted(measures),
        "distinct_cols": sorted(distinct_cols),
        "quantile_cols": sorted(quantile_cols),
        # the canonical TOP-ITEMS marker: when the query is
        # `GROUP BY <col> ... ORDER BY COUNT(*) DESC LIMIT k`, <col> is
        # recorded here AS WELL AS in dims — the advisor's back half
        # (engine.recommend_rollups) decides from catalog ndv whether
        # to advise it as a dim (re-aggregates exactly) or as
        # frequent-items sketch state (the only viable pre-aggregation
        # when the column is too high-cardinality to be a dim,
        # rewrite_topk_to_rollup's docstring). The shape is the one
        # :func:`_topk_shape` accepts; a time-bucket group key is not a
        # plain column, so it is never a candidate
        "topk_candidates": [top[0]] if top and top[0] in dims else [],
    }
