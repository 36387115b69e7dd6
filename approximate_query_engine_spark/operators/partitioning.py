"""Time-partitioned parquet layout + measured partition-pruning evidence.

At 100 TB the fact table is stored partitioned by a coarse time bucket
(day/month/year directories); a WHERE on the partition column then reads
only the matching directories — pruning happens at file-listing time,
BEFORE any I/O, so a one-month query over ten years of data lists ~1/120
of the files. The reference has no storage layout at all (everything
lives in one SQLite file); this module is the Spark-native layout a
time-series fact table needs at scale.

Evidence is measured, not asserted from the plan text alone:
:func:`scan_metrics` executes the query and reads the leaf scan's
``numFiles`` / ``partitions read`` metrics from the executed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: directory-name formats per grain — lexicographically ordered, so
#: string range predicates on the partition column prune correctly too
_GRAIN_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}


def partition_by_time(
    df: DataFrame,
    path: str,
    ts_col: str,
    grain: str = "month",
    partition_col: str = "p_bucket",
) -> str:
    """Materialize ``df`` as parquet partitioned by a derived time bucket.

    The bucket is a STRING (stable, human-readable directory names like
    ``p_bucket=2024-03``); queries filter on ``partition_col`` — an
    equality or range on it prunes at file-listing time. The original
    ``ts_col`` stays in the data files untouched, so finer-grained
    predicates still work (as ordinary data filters).
    """
    if grain not in _GRAIN_FMT:
        raise ValueError(f"grain must be one of {sorted(_GRAIN_FMT)}: {grain}")
    out = df.withColumn(
        partition_col, F.date_format(F.col(ts_col), _GRAIN_FMT[grain])
    )
    # Round 14 (guide §6 small files): cluster rows by their bucket before
    # the partitioned write — otherwise every input task writes one file
    # into EVERY bucket directory it touches (a 128-partition source over
    # 30 day buckets would leave ~4k tiny files). One shuffle keyed on the
    # bucket, bounded by session parallelism; at very large per-bucket
    # volumes pair this with spark.sql.files.maxRecordsPerFile to re-split
    # fat buckets (SCALING.md).
    out = out.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(partition_col)
    )
    out.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    return path


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Replace only the ``partition_col`` directories of the layout at
    ``path`` that ``df`` holds (dynamic partition overwrite, swapped in at
    job commit: a failed write leaves the old ones). A writer-level
    option: no global conf juggling, no race with concurrent writers."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a :func:`partition_by_time` layout (partition col inferred
    from the directory names by Spark's parquet source)."""
    return spark.read.parquet(path)


def list_bucket_dirs(
    spark: SparkSession, path: str, partition_col: str = "p_bucket"
) -> list[str]:
    """Bucket values present in a layout, from a DIRECTORY LISTING — one
    filesystem metadata call, no data I/O (works on local/HDFS/S3A alike
    via the Hadoop FileSystem API; a `max(p_bucket)` query would scan
    rows instead)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    prefix = f"{partition_col}="
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            out.append(name[len(prefix):])
    return sorted(out)


def infer_grain(bucket: str) -> str | None:
    """Grain a bucket directory name was written at ('2024-03-01' → day,
    '2024-03' → month, '2024' → year), or None for a foreign name."""
    for grain, k in _GRAIN_PREFIX.items():
        if len(bucket) == k:
            return grain
    return None


def refresh_partition_layout(
    spark: SparkSession,
    source_df: DataFrame,
    path: str,
    ts_col: str,
    grain: str | None = None,
    partition_col: str = "p_bucket",
    since: str | None = None,
) -> DataFrame:
    """Incremental tail refresh for APPEND-MOSTLY time data: recompute
    only the bucket directories >= ``since`` — default the layout's LAST
    existing bucket, the one that may have been mid-day-incomplete at the
    previous write — and replace just those via dynamic partition
    overwrite. Years of history are never re-read or rewritten; one day
    of appends costs one day's scan. Late rows landing before ``since``
    need an explicit earlier ``since`` (same contract as the rollup
    refresh); uniform growth of ALL history needs the full
    :func:`partition_by_time` rebuild (what the maintenance drift policy
    does).

    ``grain`` defaults to the grain the EXISTING layout was written at
    (inferred from its directory names via one filesystem listing) and is
    validated when passed explicitly — refreshing a month-grain layout at
    day grain would write day-named directories ALONGSIDE the month
    directories (dynamic overwrite never replaces the month dirs),
    silently duplicating every refreshed row."""
    buckets = list_bucket_dirs(spark, path, partition_col)
    existing_grain = infer_grain(buckets[-1]) if buckets else None
    if grain is None:
        if existing_grain is None:
            raise ValueError(
                f"refresh_partition_layout: cannot infer grain from "
                f"layout at {path} (no bucket directories); pass grain="
            )
        grain = existing_grain
    elif existing_grain is not None and grain != existing_grain:
        raise ValueError(
            f"refresh_partition_layout: layout at {path} is "
            f"{existing_grain}-grain but grain={grain!r} was requested — "
            "mixed-grain bucket directories would duplicate rows"
        )
    if since is None:
        since = buckets[-1] if buckets else None
    if since is None:
        raise ValueError(
            f"refresh_partition_layout: empty layout at {path}; build it "
            "with partition_by_time first"
        )
    fresh = source_df.withColumn(
        partition_col, F.date_format(F.col(ts_col), _GRAIN_FMT[grain])
    ).filter(F.col(partition_col) >= F.lit(str(since)))
    overwrite_partitions(fresh, path, partition_col)
    # views registered over the layout cached the replaced buckets' file
    # listing — invalidate so their next read re-lists
    spark.catalog.refreshByPath(path)
    return read_partitioned(spark, path)


def compact_partition_layout(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 8,
    partition_col: str = "p_bucket",
    dry_run: bool = False,
) -> dict:
    """Rewrite bucket directories whose data-file count exceeds
    ``max_files_per_bucket`` down to one file per bucket.

    Streaming ingestion (streaming.stream_to_partitioned_layout) appends
    a file per micro-batch; continuous ingestion fragments the layout —
    thousands of small files per bucket kill both the listing step and
    the scan at 100 TB scale. Only the over-threshold buckets are read
    and rewritten (years of already-compact history are untouched):
    their rows are shuffled one-task-per-bucket (``repartition`` on the
    partition column), staged to a temp directory, then swapped in via
    the same dynamic partition overwrite :func:`refresh_partition_layout`
    uses — readers never see a half-written bucket. Row content is
    unchanged; registered views over ``path`` survive (they re-list files
    per query). Returns ``{"compacted_buckets", "files_before",
    "files_after"}``.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    root = hadoop_path(path)
    fs = root.getFileSystem(conf)
    prefix = f"{partition_col}="

    def _bucket_files() -> dict[str, int]:
        out = {}
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if not status.isDirectory() or not name.startswith(prefix):
                continue
            out[name[len(prefix):]] = sum(
                1
                for f in fs.listStatus(status.getPath())
                if f.isFile()
                and not f.getPath().getName().startswith(("_", "."))
            )
        return out

    before = _bucket_files()
    files_before = sum(before.values())
    over = [b for b, n in before.items() if n > max_files_per_bucket]
    if not over or dry_run:
        return {
            "compacted_buckets": 0 if not dry_run else len(over),
            "files_before": files_before,
            "files_after": files_before,
            **({"dry_run": True} if dry_run else {}),
        }
    tmp = path.rstrip("/") + "__compact_tmp"
    # isin with strings covers both inferred partition types (day buckets
    # read back as DATE, month/year as STRING)
    fragmented = spark.read.parquet(path).filter(
        F.col(partition_col).isin(over)
    )
    (
        fragmented.repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    overwrite_partitions(spark.read.parquet(tmp), path, partition_col)
    fs.delete(hadoop_path(tmp), True)
    # registered views hold an InMemoryFileIndex snapshot of the OLD
    # files — invalidate it or their next read hits FILE_NOT_EXIST
    spark.catalog.refreshByPath(path)
    return {
        "compacted_buckets": len(over),
        "files_before": files_before,
        "files_after": sum(_bucket_files().values()),
    }


def scan_metrics(df: DataFrame) -> dict:
    """Execute ``df`` (collects — pass an aggregated frame) and report
    what its leaf file scans actually read: ``{"files_read": n,
    "partitions_read": m}``. ``partitions_read`` is only emitted by
    partitioned scans; unpartitioned scans report just files.

    This is the pruning proof: the same aggregate with and without a
    partition-column predicate shows the file/partition count drop.
    """
    df.collect()
    scans: list = []

    def _walk(node) -> None:
        name = node.getClass().getSimpleName()
        # AQE wraps executed stages as leaves — unwrap to the real scans
        if name == "AdaptiveSparkPlanExec":
            _walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            _walk(node.plan())
            return
        if name in ("FileSourceScanExec", "BatchScanExec"):
            scans.append(node)
            return
        children = node.children().iterator()
        while children.hasNext():
            _walk(children.next())

    _walk(df._jdf.queryExecution().executedPlan())
    out = {"files_read": 0, "partitions_read": 0}
    for node in scans:
        metrics = node.metrics()
        for key, field in (
            ("numFiles", "files_read"),
            ("numPartitions", "partitions_read"),
        ):
            opt = metrics.get(key)
            if opt.isDefined():
                out[field] += opt.get().value()
    return out


#: how many chars of 'yyyy-MM-dd' a grain's bucket keeps
_GRAIN_PREFIX = {"day": 10, "month": 7, "year": 4}


def derive_bucket_predicate(
    where: str,
    ts_col: str,
    grain: str,
    partition_col: str = "p_bucket",
) -> str | None:
    """The partition-pruning conjunct implied by a WHERE clause's literal
    date/timestamp bounds on ``ts_col``, or None when none can be derived.

    CONSERVATIVE SUPERSET semantics — the derived predicate may admit a
    whole extra bucket at each boundary but can never exclude a matching
    row, because the original WHERE stays in the query as the row-level
    filter: ``<``/``<=`` → ``bucket <=``, ``>``/``>=`` → ``bucket >=``,
    ``=`` → ``bucket =``. Any ``OR`` in the clause disables derivation (a
    disjunct could reach other partitions); bucket strings compare
    lexicographically in date order by construction.
    """
    import re

    from approximate_query_engine_spark.sqlparser import flatten_and_parens

    if not where or re.search(r"\b(OR|NOT)\b", where, re.I):
        return None
    if re.search(r"\bSELECT\b", where, re.I):
        # a subquery's ts bound belongs to ANOTHER scope — deriving from
        # it would prune the outer table wrongly (silently dropped rows)
        return None
    # parenthesized AND-groups are routine in real SQL; strip the
    # provably-safe ones, then only read comparisons at paren depth 0.
    # With OR/NOT/SELECT excluded above, the clause is a pure conjunction
    # at depth 0, so every depth-0 ts comparison must hold for a matching
    # row — remaining parens (function calls like a sampling predicate's
    # rand()/md5(), CAST args) just hide their contents from derivation.
    where = flatten_and_parens(where)
    k = _GRAIN_PREFIX[grain]
    # desugar the most common range shape before the operator scan
    where = re.sub(
        rf"\b({re.escape(ts_col)})\s+BETWEEN\s+"
        r"((?:DATE|TIMESTAMP)?\s*'[^']*')\s+AND\s+"
        r"((?:DATE|TIMESTAMP)?\s*'[^']*')",
        r"\1 >= \2 AND \1 <= \3",
        where,
        flags=re.I,
    )
    depth_at = []
    d, in_str = 0, False
    for ch in where:
        if ch == "'":
            in_str = not in_str
        elif ch == "(" and not in_str:
            d += 1
        depth_at.append(d)
        if ch == ")" and not in_str:
            d -= 1
    preds = []
    for m in re.finditer(
        rf"\b{re.escape(ts_col)}\s*(<=|>=|<|>|=)\s*"
        r"(?:DATE|TIMESTAMP)?\s*'(\d{4}-\d{2}-\d{2}[^']*)'",
        where,
        re.I,
    ):
        if depth_at[m.start()] != 0:
            continue
        op, bucket = m.group(1), m.group(2)[:k]
        if op in ("<", "<="):
            preds.append(f"{partition_col} <= '{bucket}'")
        elif op in (">", ">="):
            preds.append(f"{partition_col} >= '{bucket}'")
        else:
            preds.append(f"{partition_col} = '{bucket}'")
    return " AND ".join(preds) or None


def partition_filters(df: DataFrame) -> str:
    """The ``PartitionFilters: [...]`` clause of ``df``'s scan node
    (empty string when none) — plan-text evidence to pair with the
    measured :func:`scan_metrics`."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    return m.group(0) if m else ""
