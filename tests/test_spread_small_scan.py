"""spread_small_scan's round-15 gate: the partition probe must be
plan-only. Under AQE, ``df.rdd`` on a frame whose plan contains a shuffle
materializes the upstream query stages — the ADVICE-r14 hazard where the
centroid-assignment join executed once just to count partitions and again
when the frame was consumed. The gate therefore (a) still spreads a
small narrow scan, (b) leaves any wide-plan frame untouched without
triggering execution."""

from pyspark.sql import functions as F

from approximate_query_engine_spark.functions.similarity import (
    _is_narrow_plan,
    spread_small_scan,
)


def test_narrow_small_scan_is_spread(spark, tmp_path):
    p = str(tmp_path / "small")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p).withColumn("x", F.col("id") * 2)
    assert _is_narrow_plan(df)
    out = spread_small_scan(df)
    par = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == par
    # values unchanged by the round-robin spread
    assert sorted(r["x"] for r in out.collect()) == [
        2 * i for i in range(100)
    ]


def test_wide_plan_frame_is_left_untouched(spark, tmp_path):
    p = str(tmp_path / "wide")
    spark.range(100).coalesce(1).write.parquet(p)
    base = spark.read.parquet(p)
    joined = base.join(base.withColumnRenamed("id", "id2"),
                       F.col("id") == F.col("id2"))
    assert not _is_narrow_plan(joined)
    # identity return: no repartition node added, no execution triggered
    assert spread_small_scan(joined) is joined
    agg = base.groupBy((F.col("id") % 3).alias("g")).count()
    assert not _is_narrow_plan(agg)
    assert spread_small_scan(agg) is agg


def test_local_checkpoint_frame_still_spreads(spark):
    """The bench's materialize-once corpus model: a localCheckpoint'd
    assignment table is a LogicalRDD leaf — narrow, safe to probe, and
    still spread when its parallelism is below the session's."""
    df = spark.range(50).coalesce(1).localCheckpoint()
    assert _is_narrow_plan(df)
    out = spread_small_scan(df)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_grouped_python_and_cogroup_plans_are_wide(spark):
    """The gate is an allowlist of narrow nodes: plan nodes it does not
    list — here ``FlatMapGroupsInPandas`` (``applyInPandas``) and
    ``FlatMapCoGroupsInPandas`` (``cogroup``), both behind a shuffle —
    count as wide, so the frame is returned untouched."""
    base = spark.range(20).withColumn("g", F.col("id") % 3)
    grouped = base.groupBy("g").applyInPandas(lambda pdf: pdf, base.schema)
    assert not _is_narrow_plan(grouped)
    assert spread_small_scan(grouped) is grouped
    cog = base.groupBy("g").cogroup(base.groupBy("g")).applyInPandas(
        lambda a, b: a, base.schema
    )
    assert not _is_narrow_plan(cog)
    assert spread_small_scan(cog) is cog
    # narrow Python transforms stay narrow
    assert _is_narrow_plan(base.mapInPandas(lambda it: it, base.schema))
