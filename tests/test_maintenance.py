"""Sample/sketch auto-maintenance policies (maintenance.py).

The reference never refreshes artifacts (they silently drift as the base
table changes); these tests pin the rebuild-on-drift / rebuild-on-age
behavior of the policy layer."""

import tempfile

import pytest

from approximate_query_engine_spark import AQEngine

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture()
def meng(spark):
    """Fresh engine + workdir per test: maintenance mutates the catalog."""
    return AQEngine(
        spark, workdir=tempfile.mkdtemp(prefix="aqe_maint_"), data_dir=SF_SMOKE
    )


def test_fresh_artifacts_not_refreshed(meng):
    meng.create_sample("region", 0.5, seed=1)
    meng.create_sketch("region", "r_name", "hll")
    rep = meng.maintain(max_drift=0.10)
    assert rep["refreshed"] == [] and rep["errors"] == []
    assert rep["checked"] == 2 and len(rep["fresh"]) == 2


def test_drifted_sample_refreshes(meng, spark):
    meng.create_sample("lineitem", 0.2, seed=1)
    # simulate table growth: register a doubled view under the same name
    big = spark.table("lineitem").unionAll(spark.table("lineitem"))
    big.createOrReplaceTempView("lineitem")
    try:
        rep = meng.maintain(max_drift=0.10)
        kinds = [(a["kind"], a["table"]) for a in rep["refreshed"]]
        assert ("sample", "lineitem") in kinds
        assert any("drift" in a["reason"] for a in rep["refreshed"])
        # the refreshed sample was rebuilt against the doubled table
        new_info = next(iter(meng.catalog.samples.values()))
        assert new_info.row_count / new_info.sample_fraction == pytest.approx(
            12000, rel=0.05
        )
    finally:
        meng.register_data(SF_SMOKE)  # restore original view


def test_drifted_sketch_refreshes(meng, spark):
    meng.create_sketch("orders", "o_orderkey", "hll")
    info = meng.catalog.get_sketch("orders", "o_orderkey", "hll")
    assert info.parameters["built_row_count"] > 0
    big = spark.table("orders").unionAll(spark.table("orders"))
    big.createOrReplaceTempView("orders")
    try:
        rep = meng.maintain(max_drift=0.10)
        assert any(a["kind"] == "sketch" for a in rep["refreshed"])
        # rebuilt against the doubled table
        info2 = meng.catalog.get_sketch("orders", "o_orderkey", "hll")
        assert info2.parameters["built_row_count"] == 2 * info.parameters["built_row_count"]
    finally:
        meng.register_data(SF_SMOKE)


def test_dry_run_reports_without_rebuilding(meng, spark):
    meng.create_sample("nation", 0.5, seed=1)
    before = next(iter(meng.catalog.samples.values())).created_at
    big = spark.table("nation").unionAll(spark.table("nation"))
    big.createOrReplaceTempView("nation")
    try:
        rep = meng.maintain(max_drift=0.10, dry_run=True)
        assert rep["refreshed"] and all(a["dry_run"] for a in rep["refreshed"])
        after = next(iter(meng.catalog.samples.values())).created_at
        assert after == before  # nothing rebuilt
    finally:
        meng.register_data(SF_SMOKE)


def test_age_policy(meng):
    meng.create_sample("region", 0.5, seed=1)
    rep = meng.maintain(max_drift=0.5, max_age_sec=0.0)
    assert any("age" in a["reason"] for a in rep["refreshed"])


def test_api_maintenance_route(meng):
    flask = pytest.importorskip("flask")
    from approximate_query_engine_spark.api import create_app

    meng.create_sample("region", 0.5, seed=1)
    c = create_app(meng).test_client()
    r = c.post("/maintenance/run", json={"max_drift": 0.1, "dry_run": True})
    assert r.status_code == 200
    body = r.get_json()
    assert body["checked"] == 1 and body["refreshed"] == []


def test_unknown_baseline_sample_rebuilds_once(meng):
    """A sample with no usable build-time baseline (e.g. built against a
    then-empty table) must NOT report fresh while the base table has rows:
    rebuild once, which records a real baseline (regression: drift=None
    was treated as fresh forever)."""
    meng.create_sample("lineitem", 0.2, seed=1)
    name = next(iter(meng.catalog.samples))
    meng.catalog.samples[name].row_count = 0  # simulate degenerate build
    rep = meng.maintain(max_drift=0.10)
    mine = [a for a in rep["refreshed"] if a.get("name") == name]
    assert mine and "no build-time baseline" in mine[0]["reason"]
    # the rebuild recorded row_count/fraction → next run measures drift
    assert meng.catalog.samples[name].row_count > 0
    rep2 = meng.maintain(max_drift=0.10)
    assert rep2["refreshed"] == [] and name in rep2["fresh"]


def test_drifted_column_stats_reanalyze(meng, spark):
    """analyze_table stats (min/max, histograms, ndv) go stale exactly
    like samples: when the base table's row count drifts past max_drift,
    maintenance re-runs the SAME one-pass analyze over the SAME columns.
    Stale stats never return wrong ANSWERS (selectivity only prices
    plans) but silently misprice every estimate — so the policy treats
    them as a first-class artifact."""
    meng.analyze_table("lineitem", ["l_quantity"])
    baseline = meng.catalog.analyze_meta["lineitem"]["row_count"]
    assert baseline > 0
    # fresh: no drift → reported fresh, nothing refreshed
    rep0 = meng.maintain(max_drift=0.10)
    assert "lineitem:stats" in rep0["fresh"] and rep0["refreshed"] == []
    big = spark.table("lineitem").unionAll(spark.table("lineitem"))
    big.createOrReplaceTempView("lineitem")
    try:
        # dry run names the action without re-analyzing
        rep1 = meng.maintain(max_drift=0.10, dry_run=True)
        acts = [a for a in rep1["refreshed"] if a["kind"] == "analyze_stats"]
        assert acts and acts[0]["table"] == "lineitem"
        assert acts[0]["columns"] == ["l_quantity"]
        assert meng.catalog.analyze_meta["lineitem"]["row_count"] == baseline
        # real run re-analyzes against the doubled table
        rep2 = meng.maintain(max_drift=0.10)
        assert any(a["kind"] == "analyze_stats" for a in rep2["refreshed"])
        assert (
            meng.catalog.analyze_meta["lineitem"]["row_count"] == 2 * baseline
        )
        # and the refreshed baseline is fresh again
        rep3 = meng.maintain(max_drift=0.10)
        assert "lineitem:stats" in rep3["fresh"]
    finally:
        meng.register_data(SF_SMOKE)


def test_drifted_partitioned_layout_rebuilds(meng, spark):
    """A time-partitioned layout is a full copy of its base table — the
    one artifact class where staleness IS a wrong answer (exact queries
    route to it). Drift past max_drift rebuilds it in full."""
    meng.partition_table("events", "ts", grain="day")
    rep0 = meng.maintain(max_drift=0.10)
    assert any("partitioned" in f for f in rep0["fresh"])
    big = spark.table("events").unionAll(spark.table("events"))
    big.createOrReplaceTempView("events")
    try:
        rep = meng.maintain(max_drift=0.10)
        acts = [
            a for a in rep["refreshed"] if a["kind"] == "partitioned_layout"
        ]
        assert acts and acts[0]["table"] == "events"
        # the rebuilt layout serves the doubled data
        n = spark.table("events__by_day").count()
        assert n == spark.table("events").count()
        assert (
            meng.catalog.partitioned_views["events"]["built_row_count"] == n
        )
    finally:
        meng.register_data(SF_SMOKE)


def test_unmeasurable_artifact_reported_unknown(meng):
    """No baseline AND no current row count → 'unknown' bucket, not
    'fresh' (nothing to rebuild against, but freshness is not known)."""
    meng.create_sketch("orders", "o_orderkey", "hll")
    info = meng.catalog.get_sketch("orders", "o_orderkey", "hll")
    info.parameters.pop("built_row_count", None)  # pre-policy artifact
    meng.catalog.table_stats.pop("orders", None)
    rep = meng.maintain(max_drift=0.10, refresh_stats=False, dry_run=True)
    label = "orders.o_orderkey:hll"
    assert label in rep["unknown"]
    assert label not in rep["fresh"]
    # once stats exist again, the unknown-baseline artifact rebuilds
    rep2 = meng.maintain(max_drift=0.10, dry_run=True)
    assert any(
        a["kind"] == "sketch" and "no build-time baseline" in a["reason"]
        for a in rep2["refreshed"]
    )


def test_layout_compaction_defragments_streamed_buckets(meng, spark, tmp_path):
    """Round-6 (VERDICT r5 instruction 5): micro-batch appends fragment a
    layout into many small files per bucket; maintenance with
    ``compact_files_over`` rewrites ONLY the over-threshold buckets down
    to one file each — file count drops, content hash unchanged, the
    registered view survives, already-compact buckets keep their files
    untouched."""
    import glob
    import os

    from pyspark.sql import functions as F

    from approximate_query_engine_spark.operators.partitioning import (
        compact_partition_layout,
        partition_by_time,
    )

    path = str(tmp_path / "frag_layout")
    ev = spark.table("events").withColumn(
        "value", F.col("value").cast("double")
    )
    day2 = ev.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-02")
    partition_by_time(ev, path, "ts", grain="day")
    # five micro-batch-style appends into one bucket
    for _ in range(5):
        (
            day2.withColumn(
                "p_bucket", F.date_format(F.col("ts"), "yyyy-MM-dd")
            )
            .coalesce(1)
            .write.mode("append")
            .partitionBy("p_bucket")
            .parquet(path)
        )

    def bucket_files(day):
        return [
            p
            for p in glob.glob(f"{path}/p_bucket={day}/*")
            if not os.path.basename(p).startswith(("_", "."))
        ]

    assert len(bucket_files("2024-01-02")) >= 6
    other_before = bucket_files("2024-01-03")
    view = "frag_layout_view"
    spark.read.parquet(path).createOrReplaceTempView(view)
    content_before = sorted(
        map(tuple, spark.table(view).drop("p_bucket").collect())
    )
    meng.catalog.partitioned_views["frag_base"] = {
        "view": view,
        "path": path,
        "ts_col": "ts",
        "grain": "day",
        "partition_col": "p_bucket",
        "built_row_count": len(content_before),
    }
    # dry run reports, touches nothing
    rep0 = meng.maintain(
        refresh_stats=False, dry_run=True, compact_files_over=3
    )
    acts = [a for a in rep0["refreshed"] if a["kind"] == "layout_compaction"]
    assert acts and acts[0]["dry_run"] and acts[0]["compacted_buckets"] == 1
    assert len(bucket_files("2024-01-02")) >= 6
    # real run: fragmented bucket → 1 file; compact buckets untouched
    rep = meng.maintain(
        refresh_stats=False, dry_run=False, compact_files_over=3
    )
    acts = [a for a in rep["refreshed"] if a["kind"] == "layout_compaction"]
    assert acts and acts[0]["compacted_buckets"] == 1
    assert acts[0]["files_after"] < acts[0]["files_before"]
    assert len(bucket_files("2024-01-02")) == 1
    assert bucket_files("2024-01-03") == other_before
    content_after = sorted(
        map(tuple, spark.table(view).drop("p_bucket").collect())
    )
    assert content_after == content_before
    # idempotent: a second pass finds nothing over threshold
    again = compact_partition_layout(spark, path, max_files_per_bucket=3)
    assert again["compacted_buckets"] == 0


def test_stale_rollup_rearms_routing(meng, spark):
    """A drifted base table disarms rollup routing (strict equality
    gate); maintenance rebuilds the rollup and routing re-arms, serving
    the post-drift data."""
    meng.create_rollup(
        "events", "ts", "1 hour", dims=["event_type"], measures=["value"]
    )
    sql = (
        "SELECT event_type, COUNT(*) AS n FROM events "
        "GROUP BY event_type ORDER BY event_type"
    )
    assert "rollup" in meng.query(sql)["plan"]["reason"]
    orig = spark.table("events")
    doubled = orig.unionAll(orig)
    doubled.createOrReplaceTempView("events")
    try:
        meng.catalog.upsert_table_stats("events", doubled.count())
        # disarmed while stale: the strict gate declines, exact path runs
        r = meng.query(sql, prefer_exact=True)
        assert "rollup" not in r["plan"]["reason"]
        rep = meng.maintain(max_drift=0.10)
        kinds = [(a["kind"], a.get("view")) for a in rep["refreshed"]]
        assert ("rollup", "events__rollup_1_hour") in kinds, rep
        r2 = meng.query(sql)
        assert "rollup" in r2["plan"]["reason"], r2["plan"]["reason"]
        # and the re-armed answer reflects the DOUBLED table
        raw = {
            y["event_type"]: y["n"]
            for y in (x.asDict() for x in spark.sql(sql).collect())
        }
        got = {d["event_type"]: d["n"] for d in r2["result"]}
        assert got == raw
        # dry_run on a fresh state reports nothing
        rep2 = meng.maintain(max_drift=0.10, dry_run=True)
        assert not any(a["kind"] == "rollup" for a in rep2["refreshed"])
    finally:
        orig.createOrReplaceTempView("events")


def test_append_only_rollup_drift_repairs_incrementally(spark):
    """Round-7: maintenance repairs an append-only drifted rollup with a
    TAIL refresh (mode=incremental) — earlier date directories keep
    their files and mtimes — verified against the layout's own per-date
    row totals; a head mutation fails the verification and falls back
    to the full rebuild (mode=rebuild)."""
    import datetime
    import glob
    import os

    base = datetime.datetime(2024, 4, 1)
    schema = "ts timestamp, event_type string, value double, uid string"
    rows = [
        (
            base + datetime.timedelta(days=d, hours=h),
            ["a", "b"][h % 2],
            float(d * 10 + h),
            f"u{(d * 24 + h) % 13}",
        )
        for d in range(4)
        for h in range(24)
    ]
    spark.createDataFrame(rows, schema).createOrReplaceTempView("inc_src")
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_minc_"))
    e.catalog.upsert_table_stats("inc_src", len(rows))
    e.create_rollup(
        "inc_src", "ts", "1 hour", dims=["event_type"],
        measures=["value"], distinct_cols=["uid"],
    )
    path = e.catalog.rollups["inc_src"][0]["path"]

    def day_files(d):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{path}/p_date=2024-04-0{d}/*.parquet")
        }

    before = {d: day_files(d) for d in (1, 2, 3)}
    # append-only tail drift: new rows land on the LAST day only
    late = [
        (datetime.datetime(2024, 4, 4, 9, 30), "a", 777.0, f"new{i}")
        for i in range(7)
    ]
    spark.createDataFrame(rows + late, schema).createOrReplaceTempView(
        "inc_src"
    )
    rep = e.maintain(max_drift=0.0)
    acts = [a for a in rep["refreshed"] if a["kind"] == "rollup"]
    assert acts and acts[0]["mode"] == "incremental", rep
    assert acts[0]["reason"].endswith("tail refresh from 2024-04-04")
    # untouched history: identical files AND mtimes for earlier days
    assert {d: day_files(d) for d in (1, 2, 3)} == before
    # sketch columns survive the incremental repair (round-7 refresh fix)
    for day_dir in sorted(glob.glob(f"{path}/p_date=*")):
        assert "uid_hll" in spark.read.parquet(day_dir).columns, day_dir
    # routing re-armed and correct
    sql = "SELECT COUNT(*) AS n, SUM(value) AS sv FROM inc_src"
    r = e.query(sql)
    assert "rollup" in r["plan"]["reason"], r["plan"]
    assert r["result"][0]["n"] == len(rows) + len(late)
    raw = spark.sql(sql).collect()[0]
    assert r["result"][0]["sv"] == pytest.approx(raw["sv"], rel=1e-12)

    # HEAD mutation with growth: verification mismatch => full rebuild
    mutated = [r_ for r_ in rows if r_[2] != 0.0] + late + [
        (datetime.datetime(2024, 4, 4, 10, 30), "b", 1.0, "x1"),
        (datetime.datetime(2024, 4, 4, 11, 30), "b", 2.0, "x2"),
    ]
    assert len(mutated) > len(rows) + len(late)  # grows, but head changed
    spark.createDataFrame(mutated, schema).createOrReplaceTempView(
        "inc_src"
    )
    rep2 = e.maintain(max_drift=0.0)
    acts2 = [a for a in rep2["refreshed"] if a["kind"] == "rollup"]
    assert acts2 and acts2[0]["mode"] == "rebuild", rep2
    r2 = e.query(sql)
    assert "rollup" in r2["plan"]["reason"]
    assert r2["result"][0]["n"] == len(mutated)


def _four_day_source(spark, name, extra=()):
    """96 hourly rows over 2024-04-01..04 (plus ``extra``) as temp view
    ``name``; returns the base rows."""
    import datetime

    base = datetime.datetime(2024, 4, 1)
    rows = [
        (base + datetime.timedelta(days=d, hours=h), ["a", "b"][h % 2],
         float(d * 10 + h))
        for d in range(4)
        for h in range(24)
    ]
    _show_source(spark, name, rows + list(extra))
    return rows


def _show_source(spark, name, rows):
    spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).createOrReplaceTempView(name)


def _rollup_engine(spark, name, n_rows):
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_mlate_"))
    e.catalog.upsert_table_stats(name, n_rows)
    e.create_rollup(name, "ts", "1 hour", dims=["event_type"],
                    measures=["value"])
    return e, e.catalog.rollups[name][0]


def _rollup_actions(rep):
    return [a for a in rep["refreshed"] if a["kind"] == "rollup"]


def test_late_rows_repair_incrementally_from_earliest_changed_day(spark):
    """Rows appended on the newest day plus rows back-dated one day:
    per-date verification refreshes from the EARLIER day (not a full
    rebuild), earlier days keep their files and mtimes, the refresh gets
    the verification scan's row count instead of counting again, and
    routed answers equal the raw table."""
    import datetime
    import glob
    import os

    rows = _four_day_source(spark, "late_src")
    e, info = _rollup_engine(spark, "late_src", len(rows))

    def day_files(d):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{info['path']}/p_date=2024-04-0{d}/*.parquet")
        }

    before = {d: day_files(d) for d in (1, 2)}
    appended = [
        (datetime.datetime(2024, 4, 4, 9, 30), "a", 500.0 + i)
        for i in range(5)
    ] + [
        (datetime.datetime(2024, 4, 3, 7, 15), "b", 900.0 + i)
        for i in range(2)
    ]
    _show_source(spark, "late_src", rows + appended)
    handed = {}
    refresh = e.refresh_rollup

    def spy(*args, **kwargs):
        handed.update(kwargs)
        return refresh(*args, **kwargs)

    e.refresh_rollup = spy
    rep = e.maintain(max_drift=0.0)
    acts = _rollup_actions(rep)
    assert acts and acts[0]["mode"] == "incremental", rep
    assert acts[0]["reason"].endswith("tail refresh from 2024-04-03")
    assert rep["errors"] == []
    assert handed["since"] == "2024-04-03"
    assert handed["_source_rows"] == len(rows) + len(appended)
    assert {d: day_files(d) for d in (1, 2)} == before
    assert info["built_row_count"] == len(rows) + len(appended)
    for sql in (
        "SELECT COUNT(*) AS n, SUM(value) AS sv FROM late_src",
        "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM late_src "
        "WHERE ts >= TIMESTAMP '2024-04-03 00:00:00' GROUP BY event_type "
        "ORDER BY event_type",
    ):
        r = e.query(sql)
        assert "rollup" in r["plan"]["reason"], r["plan"]
        raw = [x.asDict() for x in spark.sql(sql).collect()]
        assert len(r["result"]) == len(raw)
        for got, want in zip(r["result"], raw):
            assert got["n"] == want["n"]
            assert got["sv"] == pytest.approx(want["sv"], rel=1e-12)


def test_vanished_source_date_rebuilds_with_reason(spark):
    """A whole source date that disappears (while the table still grows)
    cannot be repaired by a tail refresh: the stale directory would never
    be overwritten. Maintenance rebuilds, and says which date vanished."""
    import datetime

    rows = _four_day_source(spark, "gone_src")
    e, _ = _rollup_engine(spark, "gone_src", len(rows))
    kept = [r for r in rows if r[0].day != 2]
    grown = kept + [
        (datetime.datetime(2024, 4, 4, 12, 0), "a", float(i))
        for i in range(30)
    ]
    assert len(grown) > len(rows)
    _show_source(spark, "gone_src", grown)
    rep = e.maintain(max_drift=0.0)
    acts = _rollup_actions(rep)
    assert acts and acts[0]["mode"] == "rebuild", rep
    assert acts[0]["reason"].endswith(
        "rebuilt (incremental repair refused: layout date 2024-04-02 is "
        "missing from the source)"
    ), acts[0]["reason"]
    r = e.query("SELECT COUNT(*) AS n FROM gone_src")
    assert "rollup" in r["plan"]["reason"]
    assert r["result"][0]["n"] == len(grown)


def test_refused_repair_reason_names_shrunk_date_or_error(spark):
    """The rebuild's reason says why incremental repair was refused: the
    date that shrank, or the verification error, which is also reported
    in ``errors``."""
    import datetime
    import shutil

    rows = _four_day_source(spark, "why_src")
    e, info = _rollup_engine(spark, "why_src", len(rows))
    shrunk = [r for r in rows if r[2] != 0.0] + [
        (datetime.datetime(2024, 4, 4, 10, 30), "b", float(i))
        for i in range(3)
    ]
    _show_source(spark, "why_src", shrunk)
    acts = _rollup_actions(e.maintain(max_drift=0.0))
    assert acts and acts[0]["mode"] == "rebuild"
    assert acts[0]["reason"].endswith(
        "(incremental repair refused: source date 2024-04-01 shrank "
        "(24 -> 23 rows))"
    ), acts[0]["reason"]
    # the layout is gone behind the engine's back: verification fails,
    # the failure is counted, and the rebuild restores serving state
    shutil.rmtree(info["path"])
    spark.catalog.dropTempView(info["files_view"])
    _show_source(spark, "why_src", shrunk + [
        (datetime.datetime(2024, 4, 4, 11, 0), "a", 1.0)
    ])
    rep = e.maintain(max_drift=0.0)
    acts = _rollup_actions(rep)
    assert acts and acts[0]["mode"] == "rebuild", rep
    assert "incremental repair refused: tail verification failed" in (
        acts[0]["reason"]
    )
    errs = [x for x in rep["errors"] if "rollup" in x]
    assert errs and errs[0]["error"].startswith("tail verification failed")
    r = e.query("SELECT COUNT(*) AS n FROM why_src")
    assert "rollup" in r["plan"]["reason"]
    assert r["result"][0]["n"] == len(shrunk) + 1


def test_null_timestamp_source_repairs_incrementally(spark):
    """NULL-ts rows sit in no date directory: the verification counts
    them in the source total only, so an append still takes the
    incremental path, the re-armed row count includes them, and no NULL
    (__HIVE_DEFAULT_PARTITION__) directory appears."""
    import datetime
    import glob

    nulls = [(None, "a", 1.0), (None, "b", 2.0), (None, "b", 3.0)]
    rows = _four_day_source(spark, "nts_src", nulls)
    e, info = _rollup_engine(spark, "nts_src", len(rows) + len(nulls))
    appended = [
        (datetime.datetime(2024, 4, 4, 20, 45), "a", 70.0 + i)
        for i in range(4)
    ] + [(None, "a", 4.0)]
    total = len(rows) + len(nulls) + len(appended)
    _show_source(spark, "nts_src", rows + nulls + appended)
    rep = e.maintain(max_drift=0.0)
    acts = _rollup_actions(rep)
    assert acts and acts[0]["mode"] == "incremental", rep
    assert acts[0]["reason"].endswith("tail refresh from 2024-04-04")
    assert info["built_row_count"] == total
    assert not glob.glob(f"{info['path']}/p_date=__HIVE_DEFAULT*")
    sql = (
        "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM nts_src "
        "WHERE ts >= TIMESTAMP '2024-04-01 00:00:00' AND ts < TIMESTAMP "
        "'2024-04-05 00:00:00' GROUP BY event_type ORDER BY event_type"
    )
    r = e.query(sql)
    assert "rollup" in r["plan"]["reason"], r["plan"]
    raw = [x.asDict() for x in spark.sql(sql).collect()]
    assert [(g["event_type"], g["n"]) for g in r["result"]] == [
        (w["event_type"], w["n"]) for w in raw
    ]
    # fresh now: a second pass has nothing to repair
    rep2 = e.maintain(max_drift=0.0)
    assert not _rollup_actions(rep2), rep2


# ---------------------------------------------------------------------------
# round 12: boilerplate line-frequency index re-clean trigger (VERDICT
# r11 #3) and the quantizer clamp-drift policy (VERDICT r11 #4)


def _docs_view(spark, name, ids, banner_every=1):
    rows = [
        (
            i,
            "\n".join(
                (["Subscribe Now"] if i % banner_every == 0 else [])
                + [f"unique body {i}", f"tail {i * 7}"]
            ),
        )
        for i in ids
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(name)


def test_boilerplate_index_drift_triggers_reclean(spark):
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_bp_"))
    _docs_view(spark, "bp_docs", range(40))
    eng.build_boilerplate_index("bp_docs", min_docs=30)
    rep = eng.maintain(max_drift=0.10)
    assert "bp_docs:boilerplate[v1]" in rep["fresh"], rep["fresh"]
    # the base table doubles WITHOUT being fed through the incremental
    # path — the index no longer describes the corpus
    _docs_view(spark, "bp_docs", range(80))
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "boilerplate_index"]
    assert len(acts) == 1 and acts[0]["table"] == "bp_docs", rep
    assert acts[0]["new_docs"] == 80
    info = eng.catalog.boilerplate_indexes["bp_docs"]
    assert info["built_row_count"] == 80 and info["version"] == 2
    # recounted: fresh again
    rep = eng.maintain(max_drift=0.10)
    assert any(
        f.startswith("bp_docs:boilerplate") for f in rep["fresh"]
    ), rep["fresh"]


def test_boilerplate_index_fed_appends_stay_fresh(spark):
    """update_boilerplate_index accounts for the appended docs, so a
    FED append never trips the re-clean trigger."""
    from pyspark.sql import functions as F

    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_bp2_"))
    _docs_view(spark, "bp_docs2", range(40))
    eng.build_boilerplate_index("bp_docs2", min_docs=30)
    batch = spark.createDataFrame(
        [(i, f"Subscribe Now\nfresh body {i}") for i in range(40, 60)],
        "doc_id long, text string",
    )
    cleaned, entry = eng.update_boilerplate_index("bp_docs2", batch)
    assert entry["built_row_count"] == 60 and entry["version"] == 2
    # the banner crossed min_docs in batch 1 already — stripped here
    assert cleaned.where(F.col("lines_removed") == 1).count() == 20
    _docs_view(spark, "bp_docs2", range(60))  # base view now matches
    rep = eng.maintain(max_drift=0.10)
    assert any(
        f.startswith("bp_docs2:boilerplate") for f in rep["fresh"]
    ), rep["fresh"]


def test_boilerplate_disjoint_batch_guard(spark):
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_bp3_"))
    _docs_view(spark, "bp_docs3", range(40))
    eng.build_boilerplate_index("bp_docs3", min_docs=30)
    overlapping = spark.createDataFrame(
        [(39, "Subscribe Now\nre-fed doc")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="double-count"):
        eng.update_boilerplate_index("bp_docs3", overlapping)


def test_boilerplate_index_cross_session(spark):
    """The cross-session contract (VERDICT r11 #3 'done' criterion): a
    banner that only crosses the threshold in batch 2 — counted across
    TWO engine sessions sharing one workdir — is stripped from batch 2
    while batch 1's docs (emitted before the evidence existed) were
    not."""
    from pyspark.sql import functions as F

    wd = tempfile.mkdtemp(prefix="aqe_bpx_")
    # batch 1: the banner appears in 20 docs — below min_docs=30
    rows1 = [(i, f"Late Banner\nbody one {i}") for i in range(20)]
    spark.createDataFrame(
        rows1, "doc_id long, text string"
    ).createOrReplaceTempView("bpx_docs")
    eng1 = AQEngine(spark, workdir=wd)
    eng1.build_boilerplate_index("bpx_docs", min_docs=30)
    freq_v1 = eng1.catalog.boilerplate_indexes["bpx_docs"]["path"]
    del eng1  # session 1 ends; state lives in the workdir catalog
    # session 2: a fresh engine over the SAME workdir sees the index
    eng2 = AQEngine(spark, workdir=wd)
    info = eng2.catalog.boilerplate_indexes["bpx_docs"]
    assert info["path"] == freq_v1 and info["built_row_count"] == 20
    batch2 = spark.createDataFrame(
        [(i, f"Late Banner\nbody two {i}") for i in range(100, 115)],
        "doc_id long, text string",
    )
    cleaned, entry = eng2.update_boilerplate_index("bpx_docs", batch2)
    # 20 + 15 = 35 >= 30: the banner crossed the threshold IN batch 2
    out = cleaned.orderBy("doc_id").collect()
    assert all(r.lines_removed == 1 for r in out), out[:3]
    assert all(r.clean_text == f"body two {r.doc_id}" for r in out)
    assert entry["built_row_count"] == 35 and entry["version"] == 2


def _vec_view(spark, name, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).createOrReplaceTempView(name)


def test_quantizer_in_range_appends_encode_without_refit(spark):
    import random

    rng = random.Random(5)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    _vec_view(spark, "qt_vecs", base)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_qt_"))
    eng.build_quantized_codes("qt_vecs", clamp_threshold=0.01)
    rep = eng.maintain(max_drift=0.10)
    assert "qt_vecs:quantized[v1]" in rep["fresh"], rep["fresh"]
    # in-range appends: interior values, zero clamping
    extra = [(i, [rng.uniform(-0.5, 0.5) for _ in range(8)]) for i in range(50, 70)]
    _vec_view(spark, "qt_vecs", base + extra)
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and acts[0]["mode"] == "encode_append", rep
    assert acts[0]["appended_clamp_fraction"] == 0.0
    info = eng.catalog.quantized_codes["qt_vecs"]
    assert info["version"] == 1  # params untouched
    assert info["built_row_count"] == 70
    # the appended rows are now IN the code table, encoded with the
    # ORIGINAL params (values, not just counts)
    from approximate_query_engine_spark.functions.quantization import (
        read_quantized_codes,
    )

    codes, quant = read_quantized_codes(spark, info["path"])
    assert codes.count() == 70
    got = {
        r.vec_id: r.codes
        for r in codes.where("vec_id >= 50").collect()
    }
    want = {i: quant.encode_py(v) for i, v in extra}
    assert got == want


def test_quantizer_clamp_drift_advises_and_applies_refit(spark):
    import random

    from approximate_query_engine_spark.functions.quantization import (
        read_quantized_codes,
    )

    rng = random.Random(6)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    _vec_view(spark, "qt_vecs2", base)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_qt2_"))
    eng.build_quantized_codes("qt_vecs2", clamp_threshold=0.01)
    # out-of-range appends: the distribution moved past the fitted range
    drifted = [
        (i, [rng.uniform(2.0, 4.0) for _ in range(8)])
        for i in range(50, 70)
    ]
    _vec_view(spark, "qt_vecs2", base + drifted)
    # without apply_advice the refit is ADVISED and deferred — codes
    # still rank, just coarser (never a wrong-answer hazard)
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and acts[0]["mode"] == "refit", rep
    assert acts[0]["appended_clamp_fraction"] > 0.9
    assert acts[0].get("deferred") is True
    assert eng.catalog.quantized_codes["qt_vecs2"]["version"] == 1
    # with apply_advice the budget admits the re-fit + re-encode
    rep = eng.maintain(max_drift=0.10, apply_advice=True)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and not acts[0].get("deferred"), rep
    info = eng.catalog.quantized_codes["qt_vecs2"]
    assert info["version"] == 2 and info["built_row_count"] == 70
    codes, quant = read_quantized_codes(spark, info["path"])
    assert codes.count() == 70
    # the refit range now covers the drifted values
    assert max(quant.mins[d] + 255.0 / quant.scales[d] if quant.scales[d] else 0
               for d in range(8)) > 3.0
    # and the table is fresh again
    rep = eng.maintain(max_drift=0.10)
    assert "qt_vecs2:quantized[v2]" in rep["fresh"], rep["fresh"]


def test_quantizer_shrink_rebuilds_outright(spark):
    import random

    rng = random.Random(8)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    _vec_view(spark, "qt_vecs3", base)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_qt3_"))
    eng.build_quantized_codes("qt_vecs3")
    _vec_view(spark, "qt_vecs3", base[:30])  # deletions: codes serve ghosts
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and acts[0]["mode"] == "rebuild", rep
    info = eng.catalog.quantized_codes["qt_vecs3"]
    assert info["built_row_count"] == 30 and info["version"] == 2
    assert spark.read.parquet(info["path"]).count() == 30


def test_quantizer_mixed_mutation_rebuilds_not_appends(spark):
    """Round-12 review fix: deletions masked by growth (drop ids, add
    more) must REBUILD — the append branch would leave ghost codes
    serving deleted vectors forever and then read 'fresh'."""
    import random

    rng = random.Random(9)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    _vec_view(spark, "qt_vecs4", base)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_qt4_"))
    eng.build_quantized_codes("qt_vecs4")
    # drop ids 0..9, add 20 new in-range rows: count GROWS to 60
    mutated = base[10:] + [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(8)])
        for i in range(50, 70)
    ]
    _vec_view(spark, "qt_vecs4", mutated)
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and acts[0]["mode"] == "rebuild", rep
    info = eng.catalog.quantized_codes["qt_vecs4"]
    codes = spark.read.parquet(info["path"])
    assert codes.count() == 60
    # no ghosts: every code id exists in the mutated base
    ids = {r.vec_id for r in codes.select("vec_id").collect()}
    assert ids == {i for i, _ in mutated}


def test_ivf_index_engine_lifecycle(spark):
    """Round-12 engine-level ANN surface: build_ivf_codes registers the
    partitioned quantized-IVF index; engine.knn answers from it (and
    matches exact brute on clustered data); in-range appends are
    ASSIGNED into their buckets without a refit; a stale index declines
    loudly until maintenance runs; clamp drift refits under apply_advice
    REUSING the same coarse geometry."""
    import random

    from approximate_query_engine_spark.functions.quantization import (
        read_ivf_quantized_codes,
        recall_at_k,
    )
    from approximate_query_engine_spark.functions.similarity import knn_join

    rng = random.Random(21)
    def _cluster_rows(lo, hi, spread=0.02, scale=1.0):
        rows = []
        for i in range(lo, hi):
            c = i % 8
            center = [
                scale * (1.0 if (c >> b) & 1 else -1.0) for b in range(3)
            ] + [0.0] * 5
            rows.append((
                i,
                [x + rng.uniform(-spread, spread) for x in center],
            ))
        return rows

    base = _cluster_rows(0, 80)
    _vec_view(spark, "ann_vecs", base)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_ann_"))
    entry = eng.build_ivf_codes(
        "ann_vecs", nlist=8, clamp_threshold=0.05, seed=3
    )
    assert entry["kind"] == "ivf" and entry["built_row_count"] == 80
    queries = spark.table("ann_vecs").where("vec_id < 10")
    out = eng.knn("ann_vecs", queries, k=3, nprobe=3, exclude_self=True)
    exact = knn_join(
        queries, spark.table("ann_vecs"), k=3, exclude_self=True
    )
    from pyspark.sql import functions as F

    rec = recall_at_k(exact, out).agg(F.avg("recall")).collect()[0][0]
    assert rec > 0.95, rec
    # in-range append: assigned + appended, no refit, index fresh again
    extra = _cluster_rows(80, 100)
    _vec_view(spark, "ann_vecs", base + extra)
    # the staleness gate reads CATALOG stats (the same currency every
    # freshness gate uses) — once the append is recorded, knn declines
    eng.catalog.upsert_table_stats("ann_vecs", 100)
    with pytest.raises(ValueError, match="stale"):
        eng.knn("ann_vecs", queries, k=3)
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and acts[0]["mode"] == "encode_append", rep
    info = eng.catalog.quantized_codes["ann_vecs"]
    assert info["version"] == 1 and info["built_row_count"] == 100
    assigned, _, _ = read_ivf_quantized_codes(spark, info["path"])
    assert assigned.count() == 100
    assert assigned.where("vec_id >= 80").count() == 20
    # ...and the appended rows are retrievable through the index
    q2 = spark.table("ann_vecs").where("vec_id >= 95")
    out2 = eng.knn("ann_vecs", q2, k=3, nprobe=3, exclude_self=True)
    assert out2.count() == 15
    # clamp drift: scaled appends advise a refit; apply reuses geometry
    drifted = _cluster_rows(100, 120, scale=5.0)
    _vec_view(spark, "ann_vecs", base + extra + drifted)
    rep = eng.maintain(max_drift=0.10, apply_advice=True)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert len(acts) == 1 and acts[0]["mode"] == "refit", rep
    info = eng.catalog.quantized_codes["ann_vecs"]
    assert info["version"] == 2 and info["built_row_count"] == 120
    _, _, _, floats_v2 = read_ivf_quantized_codes(
        spark, info["path"], with_float_centroids=True
    )
    assert floats_v2 is not None and len(floats_v2) == 8
    # same coarse geometry (refit re-encodes, never re-clusters)
    assert eng.knn(
        "ann_vecs", spark.table("ann_vecs").where("vec_id < 5"), k=2,
        exclude_self=True,
    ).count() == 10


def test_ivf_geometry_reuse_gates(spark):
    """Round-12 second-review fixes: geometry reuse requires the SAME
    vector column (centroids from another embedding space are never
    reused), retrain=True forces fresh k-means, and sample_rows
    persists in the catalog entry for later retrains."""
    import random

    from approximate_query_engine_spark.functions.quantization import (
        read_ivf_quantized_codes,
    )

    rng = random.Random(31)
    rows = [
        (
            i,
            [rng.uniform(-1, 1) for _ in range(6)],
            [rng.uniform(10, 20) for _ in range(6)],
        )
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, emb_a array<double>, emb_b array<double>"
    ).createOrReplaceTempView("geo_vecs")
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_geo_"))
    e1 = eng.build_ivf_codes("geo_vecs", vec_col="emb_a", nlist=4, seed=5)
    assert e1["sample_rows"] == 10_000  # persisted for retrains
    _, _, _, f1 = read_ivf_quantized_codes(
        spark, e1["path"], with_float_centroids=True
    )
    # same column, same nlist: rebuild reuses the geometry exactly
    e2 = eng.build_ivf_codes("geo_vecs", vec_col="emb_a", nlist=4, seed=5)
    _, _, _, f2 = read_ivf_quantized_codes(
        spark, e2["path"], with_float_centroids=True
    )
    assert f2 == f1 and e2["version"] == 2
    # retrain=True re-clusters even with a matching entry (same seed on
    # the same data converges to the same centroids, so prove the path
    # by seed change)
    e3 = eng.build_ivf_codes(
        "geo_vecs", vec_col="emb_a", nlist=4, seed=6, retrain=True
    )
    _, _, _, f3 = read_ivf_quantized_codes(
        spark, e3["path"], with_float_centroids=True
    )
    assert f3 != f1
    # a DIFFERENT vector column never inherits centroids trained in the
    # old embedding space
    e4 = eng.build_ivf_codes("geo_vecs", vec_col="emb_b", nlist=4, seed=5)
    _, _, _, f4 = read_ivf_quantized_codes(
        spark, e4["path"], with_float_centroids=True
    )
    assert f4 != f3 and e4["vec_col"] == "emb_b"
    # emb_b lives in all-positive [10, 20] space, so its (L2-normalized)
    # centroids are componentwise positive — emb_a's mix signs
    assert all(all(x > 0 for x in c) for c in f4)
    assert any(any(x < 0 for x in c) for c in f1)


def test_ivf_bucket_skew_policy(spark):
    """Round-13 (VERDICT r12 #4): per-bucket population skew advises a
    budget-gated coarse re-train. Balanced appends never trip it; a
    drifted append stream piling into one trained bucket does — the
    advisory defers without apply_advice (probe COST, never
    correctness: the index still answers, just slower), and applying
    it re-trains the coarse geometry so probe cost is restored."""
    import random

    rng = random.Random(13)

    def _blob(lo, hi, cx, cy, spread):
        return [
            (
                i,
                [
                    cx + rng.uniform(-spread, spread),
                    cy + rng.uniform(-spread, spread),
                    1.0,
                ],
            )
            for i in range(lo, hi)
        ]

    # four tight clusters close together + two range sentinels so later
    # appends stay inside the fitted quantizer range (skew must be
    # exercised WITHOUT tripping the clamp policy)
    base = (
        _blob(0, 25, 1.0, 1.0, 0.2)
        + _blob(25, 50, 3.0, 1.0, 0.2)
        + _blob(50, 75, 1.0, 3.0, 0.2)
        + _blob(75, 100, 3.0, 3.0, 0.2)
        + [(100, [0.0, 0.0, 1.0]), (101, [10.0, 10.0, 1.0])]
    )
    _vec_view(spark, "skew_vecs", base)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_skew_"))
    # skew ratio is max/mean over ALL trained buckets — the probe-cost
    # inflation factor ([325, 25, 25, 27] at mean ~100 reads ~3.25x)
    eng.build_ivf_codes(
        "skew_vecs", nlist=4, seed=7, clamp_threshold=0.05,
        skew_threshold=2.0,
    )
    # balanced: no skew advisory
    rep = eng.maintain(max_drift=0.10)
    assert [a for a in rep["refreshed"] if a["kind"] == "ivf_bucket_skew"] == []
    # 300 in-range appends in a NEW wide region: the trained geometry
    # funnels every one into its single nearest bucket
    appended = _blob(200, 500, 8.0, 8.0, 1.9)
    _vec_view(spark, "skew_vecs", base + appended)
    rep = eng.maintain(max_drift=0.10)
    clamp_acts = [
        a for a in rep["refreshed"] if a["kind"] == "quantized_codes"
    ]
    assert len(clamp_acts) == 1, rep
    assert clamp_acts[0]["mode"] == "encode_append", clamp_acts
    skew_acts = [
        a for a in rep["refreshed"] if a["kind"] == "ivf_bucket_skew"
    ]
    assert len(skew_acts) == 1, rep
    assert skew_acts[0]["deferred"] is True, skew_acts
    assert skew_acts[0]["bucket_skew"]["ratio"] > 2.0, skew_acts
    info = eng.catalog.quantized_codes["skew_vecs"]
    assert info["version"] == 1  # deferred — nothing rebuilt
    # apply: coarse re-train splits the new region, skew restored
    rep = eng.maintain(max_drift=0.10, apply_advice=True)
    skew_acts = [
        a for a in rep["refreshed"] if a["kind"] == "ivf_bucket_skew"
    ]
    assert len(skew_acts) == 1 and not skew_acts[0].get("deferred"), rep
    assert skew_acts[0]["retrained_skew"]["ratio"] <= 2.0, skew_acts
    info = eng.catalog.quantized_codes["skew_vecs"]
    assert info["version"] == 2, info
    assert info["built_row_count"] == 402
    # next sweep: balanced again, no advisory — and the index answers
    rep = eng.maintain(max_drift=0.10)
    assert [a for a in rep["refreshed"] if a["kind"] == "ivf_bucket_skew"] == []
    q = spark.table("skew_vecs").where("vec_id IN (0, 250)")
    assert eng.knn("skew_vecs", q, k=3, nprobe=2, exclude_self=True).count() == 6


def test_clamp_refit_preserves_skew_threshold(spark):
    """Round-13 review fix: a clamp-drift refit/rebuild of an IVF entry
    must carry the operator's skew_threshold through re-registration —
    re-registering with the 8.0 default would silently disarm a tighter
    probe-cost policy."""
    import random

    rng = random.Random(31)
    rows = [
        (i, [rng.uniform(-1, 1), rng.uniform(-1, 1), 1.0])
        for i in range(60)
    ]
    _vec_view(spark, "sk_vecs", rows)
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_skt_"))
    eng.build_ivf_codes(
        "sk_vecs", nlist=4, seed=11, clamp_threshold=0.01,
        skew_threshold=3.0,
    )
    # out-of-range appends → clamp refit under apply_advice
    drifted = rows + [
        (100 + i, [rng.uniform(-9, 9), rng.uniform(-9, 9), 9.0])
        for i in range(30)
    ]
    _vec_view(spark, "sk_vecs", drifted)
    rep = eng.maintain(max_drift=0.10, apply_advice=True)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert acts and acts[0]["mode"] == "refit", rep
    info = eng.catalog.quantized_codes["sk_vecs"]
    assert info["version"] == 2
    assert info["skew_threshold"] == 3.0, info


def test_ghost_probe_gated_on_file_listing_signature(spark, tmp_path):
    """Round-14 (r13 ADVICE #4): the every-sweep ghost probe is gated on
    a cheap change signal — the base table's input-file listing. A
    parquet-backed table whose listing AND row count are unchanged skips
    the anti-join probe (the sweep still reports it fresh); a rewrite
    that mutates content at an equal row count lands NEW part files, so
    the signature changes, the probe runs, and the mutation still trips
    a rebuild. Tables with no file lineage (in-memory temp views) keep
    the every-sweep probe — that case is pinned by
    test_review_fixes_round13.test_equal_count_mutation_trips_ghost_probe."""
    import random

    rng = random.Random(41)
    base_path = str(tmp_path / "sig_vecs")
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)]
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(rows, schema).write.parquet(base_path)
    spark.read.parquet(base_path).createOrReplaceTempView("sig_vecs")
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_sig_"))
    eng.build_quantized_codes("sig_vecs")
    # sweep 1 probes (no signature recorded yet) and ARMS the skip
    rep = eng.maintain(max_drift=0.10)
    assert "sig_vecs:quantized[v1]" in rep["fresh"], rep
    info = eng.catalog.quantized_codes["sig_vecs"]
    sig1 = info.get("base_files_sig")
    assert sig1, "clean probe must record the file-listing signature"
    # sweep 2: unchanged listing + count — still fresh, signature stable
    rep = eng.maintain(max_drift=0.10)
    assert "sig_vecs:quantized[v1]" in rep["fresh"], rep
    assert eng.catalog.quantized_codes["sig_vecs"]["base_files_sig"] == sig1
    # equal-count content mutation via overwrite: new part files → the
    # signature changes → the probe runs and catches the ghost id
    mutated = rows[1:] + [(1000, [0.5, 0.5, 0.5, 0.5])]
    spark.createDataFrame(mutated, schema).write.mode("overwrite").parquet(
        base_path
    )
    spark.read.parquet(base_path).createOrReplaceTempView("sig_vecs")
    rep = eng.maintain(max_drift=0.10)
    acts = [a for a in rep["refreshed"] if a["kind"] == "quantized_codes"]
    assert acts and acts[0]["mode"] == "rebuild", rep
    assert "mutated" in acts[0]["reason"], acts[0]
    info = eng.catalog.quantized_codes["sig_vecs"]
    assert info["version"] == 2
    assert info.get("base_files_sig") not in (None, sig1)
