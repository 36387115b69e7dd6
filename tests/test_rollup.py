"""Time-series rollup: rollup answers match direct aggregation over raw
events at the bucket grain AND at coarser grains; incremental refresh
repairs late buckets."""

import pytest
from pyspark.sql import functions as F

from approximate_query_engine_spark.operators.rollup import (
    RollupSpec,
    materialize_rollup,
    query_rollup,
    refresh_rollup_buckets,
)


@pytest.fixture(scope="module")
def spec(spark, engine, tmp_path_factory):
    spec = RollupSpec(
        source_table="events",
        time_col="ts",
        bucket="1 hour",
        dims=["event_type"],
        measures=["value"],
    )
    path = str(tmp_path_factory.mktemp("rollup") / spec.rollup_name)
    materialize_rollup(spark, spec, path=path)
    return spec, path


def _direct(spark, grain):
    return {
        (r["b"], r["event_type"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in (
            spark.table("events")
            .groupBy(F.window("ts", grain)["start"].alias("b"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s"),
                F.min("value").alias("mn"),
                F.max("value").alias("mx"),
            )
            .collect()
        )
    }


def test_rollup_matches_direct_at_bucket_grain(spark, spec):
    spec, _ = spec
    got = {
        (r["bucket_start"], r["event_type"]): (
            r["n_rows"], r["value_sum"], r["value_min"], r["value_max"]
        )
        for r in query_rollup(spark, spec, "value").collect()
    }
    want = _direct(spark, "1 hour")
    assert set(got) == set(want)
    for k, (n, s, mn, mx) in want.items():
        gn, gs, gmn, gmx = got[k]
        assert gn == n and gmn == mn and gmx == mx
        assert gs == pytest.approx(s)


def test_rollup_reaggregates_to_coarser_grain(spark, spec):
    spec, _ = spec
    got = {
        (r["bucket_start"], r["event_type"]): (r["n_rows"], r["value_sum"], r["value_avg"])
        for r in query_rollup(spark, spec, "value", grain="1 day").collect()
    }
    want = _direct(spark, "1 day")
    assert set(got) == set(want)
    for k, (n, s, *_rest) in want.items():
        gn, gs, gavg = got[k]
        assert gn == n
        assert gs == pytest.approx(s)
        assert gavg == pytest.approx(s / n)  # avg from state, not avg-of-avgs


def test_incremental_refresh_repairs_late_buckets(spark, spec):
    spec, path = spec
    # pick a cutoff mid-range and refresh from there; results unchanged
    cutoff = spark.table(spec.rollup_name).agg(
        F.expr("percentile(CAST(bucket_start AS DOUBLE), 0.5)")
    ).collect()[0][0]
    import datetime

    since = datetime.datetime.utcfromtimestamp(cutoff)
    before = _rollup_snapshot(spark, spec)
    refresh_rollup_buckets(spark, spec, path, since_bucket=since)
    after = _rollup_snapshot(spark, spec)
    assert before == after  # no late data -> refresh is a no-op semantically


def test_incremental_refresh_touches_only_affected_partitions(
    spark, tmp_path
):
    """The 100 TB property of the refresh: late data in one day replaces
    ONLY that day's date directory (dynamic partition overwrite) — prior
    days' files keep their exact paths and mtimes — while the late row is
    reflected in the refreshed rollup."""
    import datetime
    import glob
    import os

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (
            base + datetime.timedelta(days=d, hours=h),
            "a",
            float(d * 10 + h),
        )
        for d in range(5)
        for h in range(4)
    ]
    schema = "ts timestamp, event_type string, value double"
    spark.createDataFrame(rows, schema).createOrReplaceTempView("roll_src")
    spec = RollupSpec("roll_src", "ts", "1 hour", ["event_type"], ["value"])
    path = str(tmp_path / "roll")
    materialize_rollup(spark, spec, path=path)

    def day_files(day):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{path}/p_date=2024-03-0{day}/*.parquet")
        }

    before = {d: day_files(d) for d in (1, 2, 3)}
    assert all(before.values()), "premise: per-day partition dirs exist"
    # a late row lands in day 4's 01:00 bucket
    late = [(datetime.datetime(2024, 3, 4, 1, 30), "a", 999.0)]
    spark.createDataFrame(rows + late, schema).createOrReplaceTempView(
        "roll_src"
    )
    refresh_rollup_buckets(
        spark, spec, path, since_bucket=datetime.datetime(2024, 3, 4)
    )
    # untouched history: identical file paths AND mtimes for days 1-3
    assert {d: day_files(d) for d in (1, 2, 3)} == before
    # the late row is in the refreshed state (31.0 + 999.0)
    row = (
        spark.table(spec.rollup_name)
        .filter("bucket_start = timestamp'2024-03-04 01:00:00'")
        .collect()[0]
    )
    assert row["n_rows"] == 2 and row["value_sum"] == pytest.approx(1030.0)


def _rollup_snapshot(spark, spec):
    return sorted(
        (str(r["bucket_start"]), r["event_type"], r["n_rows"], round(r["value_sum"], 6))
        for r in spark.table(spec.rollup_name).collect()
    )


def test_bucket_start_arithmetic_matches_time_window(spark):
    """Round-14 optimization guard: _partial_state's epoch-arithmetic
    bucket start (ts − pmod(unix_micros(ts), width)) equals
    F.window(ts, bucket).start for every fixed-width bucket the rollup
    family accepts — on real event timestamps, a pre-epoch value, an
    exact boundary, and NULL."""
    rows = spark.table("events").select("ts").limit(500)
    edge = spark.createDataFrame(
        [
            ("1969-12-31 23:59:59",),
            ("1970-01-01 00:00:00",),
            ("2024-01-03 00:00:00",),
            (None,),
        ],
        "s string",
    ).select(F.col("s").cast("timestamp").alias("ts"))
    both = rows.unionByName(edge)
    for bucket, secs in [
        ("1 hour", 3600),
        ("1 day", 86400),
        ("15 minutes", 900),
        ("30 seconds", 30),
    ]:
        w_us = secs * 1_000_000
        us = F.unix_micros(F.col("ts"))
        arith = F.timestamp_micros(us - F.pmod(us, F.lit(w_us)))
        bad = (
            both.select(
                arith.alias("a"),
                F.window(F.col("ts"), bucket)["start"].alias("w"),
            )
            .where(
                (F.col("a") != F.col("w"))
                | (F.col("a").isNull() != F.col("w").isNull())
            )
            .count()
        )
        assert bad == 0, bucket


def test_partial_state_drops_null_timestamps_like_time_window(
    spark, tmp_path
):
    """The projection test above can't see groupBy filter semantics:
    Spark's TimeWindowing rule injects IsNotNull(ts) under F.window, so a
    NULL-ts row silently vanishes from a window groupBy — the arithmetic
    bucket path must drop it too, or full materialization writes a
    __HIVE_DEFAULT_PARTITION__ p_date directory the incremental path can
    never repair (refresh_rollup_buckets' bucket-date filter drops
    NULL-ts rows, so that directory would never be rewritten)."""
    import datetime

    rows = [
        (datetime.datetime(2024, 3, 1, 0, 10), "a", 1.0),
        (datetime.datetime(2024, 3, 1, 0, 40), "a", 2.0),
        (datetime.datetime(2024, 3, 1, 2, 5), "b", 3.0),
        (None, "a", 99.0),
        (None, "b", 99.0),
    ]
    schema = "ts timestamp, event_type string, value double"
    spark.createDataFrame(rows, schema).createOrReplaceTempView(
        "roll_null_src"
    )
    spec = RollupSpec(
        "roll_null_src", "ts", "1 hour", ["event_type"], ["value"]
    )
    path = str(tmp_path / "roll_null")
    materialize_rollup(spark, spec, path=path)
    got = {
        (str(r["bucket_start"]), r["event_type"]): (
            r["n_rows"],
            r["value_sum"],
        )
        for r in spark.table(spec.rollup_name).collect()
    }
    want = {
        (str(r["b"]), r["event_type"]): (r["n"], r["s"])
        for r in (
            spark.table("roll_null_src")
            .groupBy(F.window("ts", "1 hour")["start"].alias("b"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        )
    }
    assert got == want  # NULL-ts rows in neither; counts/sums identical
    assert all(k[0] != "None" for k in got)
    import glob
    import os

    assert not glob.glob(os.path.join(path, "p_date=__HIVE_DEFAULT*"))
