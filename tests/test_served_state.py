"""Served state (served.py): small rollup layouts and samples are served
from a one-partition in-memory copy, one version per artifact, built
eagerly inside every write path; routed answers must equal the raw table
after each of them, at most two copies per artifact stay resident, and a
lost copy is rebuilt instead of failing the query. Also the NULL-time-
stamp routing gate: a rollup holds no state for rows whose time column
is NULL, so a query with no time bound declines while any exist."""

import datetime
import tempfile

from conftest import SF_SMOKE as SF

from approximate_query_engine_spark import AQEngine
from approximate_query_engine_spark.served import served_state
BASE = datetime.datetime(2024, 4, 1)

#: routed shapes: grouped and scalar, every additive state column; values
#: are small integers, so float sums are exact in any order
SQLS = [
    "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv, MIN(value) AS mn, "
    "MAX(value) AS mx FROM {t} WHERE ts >= TIMESTAMP '2024-04-01 00:00:00' "
    "GROUP BY event_type ORDER BY event_type",
    "SELECT COUNT(*) AS n, SUM(value) AS sv FROM {t} "
    "WHERE ts >= TIMESTAMP '2024-04-02 00:00:00' "
    "AND ts < TIMESTAMP '2024-04-05 00:00:00'",
]


def _rows(days=4, start=BASE, value0=0.0):
    return [
        (start + datetime.timedelta(days=d, hours=h), ["a", "b"][h % 2],
         value0 + float(d * 10 + h), d * 24 + h)
        for d in range(days)
        for h in range(24)
    ]


def _show(spark, name, rows):
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double, user_id int"
    )
    df.createOrReplaceTempView(name)
    return df


def _engine(spark, name, rows, **kw):
    _show(spark, name, rows)
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_served_"))
    e.catalog.upsert_table_stats(name, len(rows))
    e.create_rollup(name, "ts", "1 hour", dims=["event_type"],
                    measures=["value"], **kw)
    return e, e.catalog.rollups[name][0]


def _check_routed(e, table, version=None):
    """Every routed shape equals the raw table and names its copy."""
    spark = e.spark
    info = e.catalog.rollups[table][0]
    cur = e.served.current(info["files_view"])
    assert cur is not None and cur.in_memory
    if version is not None:
        assert cur.version == version
    for tpl in SQLS:
        sql = tpl.format(t=table)
        r = e.query(sql)
        assert r["status"] == "ok", r.get("error")
        reason = r["plan"]["reason"]
        assert "answered from materialized rollup" in reason, reason
        assert f"served from in-memory copy v{cur.version} of " in reason
        raw = [x.asDict() for x in spark.sql(sql).collect()]
        assert r["result"] == raw, (sql, r["result"], raw)


def _view_matches_files(spark, view, path, drop=("p_date",)):
    def snap(df):
        return sorted(map(tuple, df.drop(*drop).collect()), key=str)

    assert snap(spark.table(view)) == snap(spark.read.parquet(path))


# ---------------------------------------------------------------- NULL ts
def test_null_timestamp_rows_decline_unbounded_rollup_routes(spark):
    """24 hourly rows plus 2 NULL-ts rows: the rollup's count/sum miss
    the NULL rows, so an unbounded query declines with a reason and the
    exact answer counts them; a time-bounded query still routes. A
    maintenance refresh takes the NULL count from its verification."""
    rows = [(BASE + datetime.timedelta(hours=h), ["a", "b"][h % 2], 1.0, h)
            for h in range(24)]
    rows += [(None, "c", 5.0, 100), (None, "a", 7.0, 101)]
    e, info = _engine(spark, "nts_src", rows)
    assert info["null_ts_rows"] == 2
    r = e.query("SELECT COUNT(*) AS n, SUM(value) AS s FROM nts_src")
    assert r["result"] == [{"n": 26, "s": 36.0}]
    assert r["plan"]["type"] == "exact"
    assert "answered from materialized rollup" not in r["plan"]["reason"]
    assert "rollup declined: rollup nts_src__rollup_1_hour holds no state " \
        "for 2 source rows with a NULL ts" in r["plan"]["reason"]
    g = e.query("SELECT event_type, COUNT(*) AS n FROM nts_src "
                "GROUP BY event_type ORDER BY event_type")
    assert g["result"] == [{"event_type": "a", "n": 13},
                           {"event_type": "b", "n": 12},
                           {"event_type": "c", "n": 1}]
    b = e.query("SELECT COUNT(*) AS n FROM nts_src "
                "WHERE ts >= TIMESTAMP '2024-04-01 00:00:00'")
    assert "answered from materialized rollup" in b["plan"]["reason"]
    assert b["result"] == [{"n": 24}]
    # append one timed and one NULL-ts row: the incremental refresh
    # records the verification's NULL group (3), so routing still declines
    rows += [(BASE + datetime.timedelta(hours=23, minutes=30), "a", 2.0, 7),
             (None, "b", 1.0, 8)]
    _show(spark, "nts_src", rows)
    e.catalog.upsert_table_stats("nts_src", len(rows))
    acts = [a for a in e.maintain(max_drift=0.0)["refreshed"]
            if a["kind"] == "rollup"]
    assert acts and acts[0]["mode"] == "incremental", acts
    assert e.catalog.rollups["nts_src"][0]["null_ts_rows"] == 3
    r = e.query("SELECT COUNT(*) AS n, SUM(value) AS s FROM nts_src")
    assert r["result"] == [{"n": 28, "s": 39.0}]
    assert "rollup declined" in r["plan"]["reason"]


def test_null_timestamp_rows_decline_topk_and_star_join_routes(spark):
    rows = _rows(days=2) + [(None, "a", 1.0, 3), (None, "c", 2.0, 3)]
    e, info = _engine(spark, "nts_tk", rows, topk_cols=["user_id"])
    assert info["null_ts_rows"] == 2
    topk = ("SELECT user_id, COUNT(*) AS n FROM nts_tk GROUP BY user_id "
            "ORDER BY n DESC, user_id ASC LIMIT 3")
    r = e.query(topk)
    assert "rollup declined" in r["plan"]["reason"], r["plan"]["reason"]
    assert r["result"][0] == {"user_id": 3, "n": 3}
    spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "z")], "event_type string, fam string"
    ).createOrReplaceTempView("nts_fam")
    e.catalog.upsert_table_stats("nts_fam", 3)
    join = ("SELECT f.fam, COUNT(*) AS n FROM nts_tk s JOIN nts_fam f "
            "ON s.event_type = f.event_type GROUP BY f.fam ORDER BY f.fam")
    r = e.query(join)
    assert "rollup declined" in r["plan"]["reason"], r["plan"]["reason"]
    assert r["result"] == [x.asDict() for x in spark.sql(join).collect()]
    assert {d["fam"] for d in r["result"]} == {"x", "y", "z"}


def test_null_timestamp_rows_decline_unwindowed_segment_overlap(spark):
    """``segment_overlap`` with no window must not answer from theta
    state that misses the NULL-ts rows (it gave 3 distinct users per
    segment where the table holds 4); a windowed call still routes."""
    rows = [(BASE + datetime.timedelta(hours=h), "ab"[h % 2], 1.0, h % 3)
            for h in range(6)]
    rows += [(None, "a", 1.0, 7), (None, "b", 1.0, 7)]
    e, _ = _engine(spark, "nts_ov", rows, theta_cols=["user_id"])
    r = e.segment_overlap("nts_ov", "event_type", "user_id")
    assert r["source"] == "raw_scan", r["reason"]
    row = r["df"].collect()[0]
    assert (row["distinct_a"], row["overlap_cnt"]) == (4, 4)
    w = e.segment_overlap("nts_ov", "event_type", "user_id",
                          lo="2024-04-01 00:00:00", hi="2024-04-01 06:00:00")
    assert w["source"] == "rollup_state", w["reason"]


# ------------------------------------------------- correctness after writes
def test_tail_refresh_with_late_rows_serves_new_copy(spark):
    rows = _rows()
    e, info = _engine(spark, "sv_late", rows)
    _check_routed(e, "sv_late", version=1)
    late = [(BASE + datetime.timedelta(days=3, hours=5, minutes=7), "a",
             1.0, 1),
            (BASE + datetime.timedelta(days=2, hours=9, minutes=1), "b",
             2.0, 2)]
    _show(spark, "sv_late", rows + late)
    e.catalog.upsert_table_stats("sv_late", len(rows) + 2)
    acts = [a for a in e.maintain(max_drift=0.0)["refreshed"]
            if a["kind"] == "rollup"]
    assert acts and acts[0]["mode"] == "incremental", acts
    assert acts[0]["reason"].endswith("tail refresh from 2024-04-03")
    _check_routed(e, "sv_late", version=2)
    _view_matches_files(spark, info["files_view"], info["path"], drop=())


def test_full_rebuild_serves_new_copy(spark):
    rows = _rows()
    e, info = _engine(spark, "sv_full", rows)
    more = rows + _rows(days=1, start=BASE + datetime.timedelta(days=4))
    _show(spark, "sv_full", more)
    e.catalog.upsert_table_stats("sv_full", len(more))
    out = e.create_rollup("sv_full", "ts", "1 hour", dims=["event_type"],
                          measures=["value"])
    assert out["buckets"] == 5 * 24
    _check_routed(e, "sv_full", version=2)


def test_sample_refresh_past_drift_serves_new_copy(spark):
    rows = _rows()
    _show(spark, "sv_samp", rows)
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_served_s_"))
    e.catalog.upsert_table_stats("sv_samp", len(rows))
    made = e.create_sample("sv_samp", 0.5, seed=3)
    name = made["sample_table"]
    info = e.catalog.samples[name]
    first = e.served.current(name)
    assert first.in_memory and first.rows == made["rows"]
    more = rows + _rows(days=2, start=BASE + datetime.timedelta(days=4))
    _show(spark, "sv_samp", more)
    e.catalog.upsert_table_stats("sv_samp", len(more))
    rep = e.maintain(max_drift=0.05, refresh_stats=False)
    assert [a for a in rep["refreshed"] if a["kind"] == "sample"], rep
    cur = e.served.current(name)
    assert cur.in_memory and cur.version == first.version + 1
    _view_matches_files(spark, name, info.path, drop=())
    assert spark.table(name).count() == e.catalog.samples[name].row_count


def test_register_view_replace_releases_copies(spark):
    rows = _rows()
    e, info = _engine(spark, "sv_repl", rows)
    assert e.served.resident_copies(info["path"]) == 1
    e.register_view("sv_repl", _show(spark, "sv_repl_new",
                                     _rows(value0=100.0)))
    assert "sv_repl" not in e.catalog.rollups
    assert e.served.resident_copies(info["path"]) == 0
    assert e.served.current(info["files_view"]) is None
    assert not spark.catalog.tableExists(info["files_view"])
    e.create_rollup("sv_repl", "ts", "1 hour", dims=["event_type"],
                    measures=["value"])
    _check_routed(e, "sv_repl", version=1)


def test_streaming_merge_serves_merged_layout(spark, tmp_path):
    from approximate_query_engine_spark.operators.rollup import (
        RollupSpec,
        merge_rollup_batch,
    )

    rows = _rows()
    src = _show(spark, "sv_stream", rows)
    spec = RollupSpec("sv_stream", "ts", "1 hour", ["event_type"], ["value"])
    path = str(tmp_path / "stream_rollup")
    merge_rollup_batch(spark, src.filter("ts < '2024-04-03'"), spec, path,
                       batch_id=0)
    merge_rollup_batch(spark, src.filter("ts >= '2024-04-03'"), spec, path,
                       batch_id=1)
    served = served_state(spark)
    cur = served.current(spec.files_view)
    assert cur.in_memory and cur.version == 2
    _view_matches_files(spark, spec.rollup_name, path)
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_served_st_"))
    e.catalog.upsert_table_stats("sv_stream", len(rows))
    e.catalog.rollups["sv_stream"] = [{
        "source_table": "sv_stream", "view": spec.rollup_name,
        "files_view": spec.files_view, "path": path, "time_col": "ts",
        "bucket": "1 hour", "bucket_seconds": 3600,
        "dims": ["event_type"], "measures": ["value"],
        "built_row_count": len(rows),
    }]
    _check_routed(e, "sv_stream", version=2)


def test_theta_migration_serves_rebuilt_copy(spark):
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_served_th_"),
                 data_dir=SF)
    e.create_rollup("events", "ts", "1 hour", dims=["event_type"],
                    measures=["value"], theta_cols=["user_id"],
                    theta_key_native=False)
    info = e.catalog.rollups["events"][0]
    v1 = e.served.current(info["files_view"]).version
    rep = e.maintain(refresh_stats=False, apply_advice=True)
    assert [a for a in rep["refreshed"]
            if a.get("kind") == "theta_key_encoding" and a.get("migrated")]
    info = e.catalog.rollups["events"][0]
    assert info["theta_key_native"] is True
    cur = e.served.current(info["files_view"])
    assert cur.in_memory and cur.version == v1 + 1
    sql = ("SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM events "
           "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' GROUP BY event_type "
           "ORDER BY event_type")
    r = e.query(sql)
    assert f"in-memory copy v{cur.version}" in r["plan"]["reason"]
    raw = [x.asDict() for x in spark.sql(sql).collect()]
    assert [d["event_type"] for d in r["result"]] == [
        d["event_type"] for d in raw]
    assert [d["n"] for d in r["result"]] == [d["n"] for d in raw]
    for got, want in zip(r["result"], raw):
        assert abs(got["sv"] - want["sv"]) <= 1e-9 * abs(want["sv"])


# ----------------------------------------------------------- memory bound
def test_copies_per_artifact_stay_bounded_and_large_state_is_not_copied(
    spark, above_size_line
):
    rows = _rows()
    e, info = _engine(spark, "sv_bound", rows)
    ids = [e.served.current(info["files_view"]).rdd.id()]
    for i in range(10):
        rows = rows + [(BASE + datetime.timedelta(days=3, hours=23,
                                                   minutes=i + 1),
                        "a", 1.0, i)]
        _show(spark, "sv_bound", rows)
        e.catalog.upsert_table_stats("sv_bound", len(rows))
        e.refresh_rollup("sv_bound")
        ids.append(e.served.current(info["files_view"]).rdd.id())
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert len(set(ids)) == 11
    assert set(ids) & persisted == set(ids[-2:])
    assert e.served.resident_copies(info["path"]) == 2
    _check_routed(e, "sv_bound", version=11)
    # above the size line: a file scan, no copy persisted
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    with above_size_line():
        e2, info2 = _engine(spark, "sv_big", _rows())
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after <= before
    assert not e2.served.current(info2["files_view"]).in_memory
    r = e2.query(SQLS[1].format(t="sv_big"))
    assert "served from file scan v1" in r["plan"]["reason"]


# ------------------------------------------------------------- plan shape
def _jobs_and_plan(spark, sql, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = spark.sql(sql)
        df.collect()
    finally:
        sc.setJobGroup(None, None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(sc.statusTracker().getJobIdsForGroup(group)), plan


def test_small_state_answers_run_one_job_without_exchange(spark):
    e, info = _engine(spark, "sv_plan", _rows())
    r = e.query(SQLS[0].format(t="sv_plan"))
    jobs, plan = _jobs_and_plan(spark, r["plan"]["sql"], "sv_plan_rollup")
    assert jobs == 1 and "Exchange" not in plan, plan
    eng = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_served_p_"),
                   data_dir=SF)
    eng.create_sample("lineitem", 0.1, seed=7)
    plan = eng.planner.plan(
        "SELECT l_returnflag, SUM(l_extendedprice * (1 - l_discount)) AS s "
        "FROM lineitem WHERE l_shipdate <= DATE '1995-06-17' "
        "GROUP BY l_returnflag",
        max_rel_error=0.1,
    )
    assert plan["type"] == "sample", plan["reason"]
    jobs, phys = _jobs_and_plan(spark, plan["sql"], "sv_plan_sample")
    assert jobs == 1 and "Exchange" not in phys, phys


# ------------------------------------------------------------ lost blocks
def test_lost_copy_is_rebuilt_and_the_query_answers(spark):
    e, info = _engine(spark, "sv_lost", _rows())
    cur = e.served.current(info["files_view"])
    cur.rdd.unpersist(True)  # the copy's blocks are gone
    sql = SQLS[0].format(t="sv_lost")
    r = e.query(sql)
    assert r["status"] == "ok", r.get("error")
    assert r["result"] == [x.asDict() for x in spark.sql(sql).collect()]
    _check_routed(e, "sv_lost", version=cur.version + 1)
