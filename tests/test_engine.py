"""Engine lifecycle tests: response contracts (reference app.py:62-163),
scaling correctness, no-double-scaling regression, error bounds vs exact."""

import pytest


def q(engine, sql, **kw):
    r = engine.query(sql, **kw)
    assert r["status"] == "ok", r.get("error")
    return r


def test_exact_matches_duckdb(engine, duck):
    sql = "SELECT COUNT(*) AS cnt FROM lineitem"
    r = q(engine, sql, prefer_exact=True)
    assert r["plan"]["type"] == "exact"
    exact = duck.execute(sql).fetchone()[0]
    assert r["result"][0]["cnt"] == exact


def test_response_shape(engine):
    r = q(
        engine,
        "SELECT COUNT(*) AS cnt FROM lineitem",
        max_rel_error=0.2,
        use_ml_optimization=True,
    )
    assert set(r.keys()) == {"status", "plan", "result", "meta", "ml_optimization"}
    for key in ("type", "sql", "original_sql", "estimated_cost", "estimated_error", "reason"):
        assert key in r["plan"]
    for key in ("plan_type", "reason", "rows", "sql_executed", "execution_time_ms"):
        assert key in r["meta"]
    ml = r["ml_optimization"]
    for key in (
        "strategy",
        "modified_sql",
        "original_sql",
        "confidence",
        "estimated_speedup",
        "estimated_error",
        "reasoning",
        "transformations",
    ):
        assert key in ml


def test_sample_scaling_single_point_no_double_scale(engine, duck):
    """ML path + pre-built sample: scaled exactly once (the reference
    scales twice on this path — SURVEY.md §2.7 hazard)."""
    engine.create_sample("lineitem", 0.3, seed=5)
    # filtered COUNT: the unfiltered form short-circuits to the free
    # metadata-exact answer since round 6 and would never exercise scaling
    r = q(
        engine,
        "SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity >= 1",
        max_rel_error=0.1,
        use_ml_optimization=True,
    )
    true = duck.execute(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity >= 1"
    ).fetchone()[0]
    est = r["result"][0]["cnt"]
    # double-scaled would be ~1/f times too big (3.3x); single-scaled is
    # within sampling noise.
    assert abs(est - true) / true < 0.25
    assert r["meta"]["plan_type"] in ("sample", "stratified")


def test_avg_not_scaled(engine, duck):
    r = q(
        engine,
        "SELECT AVG(l_quantity) AS aq FROM lineitem",
        max_rel_error=0.1,
        use_ml_optimization=True,
    )
    true = duck.execute("SELECT AVG(l_quantity) FROM lineitem").fetchone()[0]
    assert r["result"][0]["aq"] == pytest.approx(true, rel=0.15)


def test_group_by_scaled_per_group(engine, duck):
    r = q(
        engine,
        "SELECT l_returnflag, SUM(l_extendedprice) AS rev FROM lineitem GROUP BY l_returnflag",
        max_rel_error=0.2,
        use_ml_optimization=True,
    )
    truth = dict(
        duck.execute(
            "SELECT l_returnflag, SUM(l_extendedprice) FROM lineitem GROUP BY l_returnflag"
        ).fetchall()
    )
    assert len(r["result"]) == len(truth)
    for row in r["result"]:
        true = truth[row["l_returnflag"]]
        assert abs(row["rev"] - true) / true < 0.5  # loose: tiny sample
        # CI columns present and ordered
        assert row["rev_ci_low"] <= row["rev"] <= row["rev_ci_high"]


def test_sketch_distinct_accuracy(engine, duck):
    r = q(
        engine,
        "SELECT COUNT(DISTINCT l_partkey) AS np FROM lineitem",
        max_rel_error=0.05,
        use_ml_optimization=True,
    )
    assert r["plan"]["type"] == "sketch"
    true = duck.execute("SELECT COUNT(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
    assert abs(r["result"][0]["np"] - true) / true < 0.05


def test_grouped_count_distinct_sketch(engine, duck):
    r = q(
        engine,
        "SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n FROM lineitem "
        "GROUP BY l_returnflag",
        max_rel_error=0.05,
        use_ml_optimization=True,
    )
    assert r["plan"]["type"] == "sketch"
    truth = dict(
        duck.execute(
            "SELECT l_returnflag, COUNT(DISTINCT l_orderkey) FROM lineitem "
            "GROUP BY l_returnflag"
        ).fetchall()
    )
    assert len(r["result"]) == len(truth)
    for row in r["result"]:
        true = truth[row["l_returnflag"]]
        assert abs(row["n"] - true) / true < 0.1


def test_min_max_exact_only(engine, duck):
    r = q(engine, "SELECT MIN(l_quantity) AS lo, MAX(l_quantity) AS hi FROM lineitem",
          use_ml_optimization=True)
    assert r["plan"]["type"] == "exact"
    lo, hi = duck.execute("SELECT MIN(l_quantity), MAX(l_quantity) FROM lineitem").fetchone()
    assert (r["result"][0]["lo"], r["result"][0]["hi"]) == (lo, hi)


def test_order_by_limit_exact(engine, duck):
    sql = "SELECT l_orderkey, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC LIMIT 5"
    r = q(engine, sql, use_ml_optimization=True)
    assert r["plan"]["type"] == "exact"
    truth = duck.execute(sql).fetchall()
    got = [(row["l_orderkey"], row["l_extendedprice"]) for row in r["result"]]
    assert got == truth


def test_direct_sample_table_query_scaled(engine, duck):
    engine.create_sample("orders", 0.5, seed=9)
    r = q(engine, "SELECT COUNT(*) AS cnt FROM orders__sample_0_5")
    true = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    # scaled by catalog fraction -> close to the BASE table count
    assert abs(r["result"][0]["cnt"] - true) / true < 0.2


def test_having_scaled(engine, duck):
    # HAVING threshold applies to the SCALED count, not the raw sample count
    sql = (
        "SELECT l_returnflag, COUNT(*) AS c FROM lineitem "
        "GROUP BY l_returnflag HAVING COUNT(*) > 1500"
    )
    r = q(engine, sql, max_rel_error=0.2, use_ml_optimization=True)
    truth = duck.execute(sql).fetchall()
    # all three flags have ~2000 rows; a raw sample count (~50-100) would
    # return zero groups if unscaled
    assert len(r["result"]) == len(truth)


def test_having_alias_scaled(engine, duck):
    sql = (
        "SELECT l_returnflag, COUNT(*) AS c FROM lineitem "
        "GROUP BY l_returnflag HAVING c > 1500"
    )
    r = q(engine, sql, max_rel_error=0.2, use_ml_optimization=True)
    truth = duck.execute(
        "SELECT l_returnflag, COUNT(*) AS c FROM lineitem "
        "GROUP BY l_returnflag HAVING COUNT(*) > 1500"
    ).fetchall()
    assert len(r["result"]) == len(truth)


def test_from_alias_approximable(engine, duck):
    r = q(
        engine,
        "SELECT l.l_returnflag AS flag, COUNT(*) AS c FROM lineitem l "
        "GROUP BY l.l_returnflag",
        max_rel_error=0.2,
        use_ml_optimization=True,
    )
    truth = dict(
        duck.execute(
            "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag"
        ).fetchall()
    )
    assert len(r["result"]) == len(truth)
    for row in r["result"]:
        true = truth[row["flag"]]
        assert abs(row["c"] - true) / true < 0.5


def test_error_envelope(engine):
    r = engine.query("SELECT COUNT(*) FROM missing_table")
    assert r["status"] == "error"
    assert "error" in r


def test_explain_mode(engine):
    r = engine.query(
        "SELECT COUNT(*) FROM lineitem", explain=True, use_ml_optimization=True
    )
    assert r["status"] == "ok"
    assert "result" not in r
    assert r["plan"]["type"] in ("exact", "sample", "stratified", "sketch")


def test_dual_execution_records_speedup_and_history(engine):
    before = len(engine.catalog.history)
    r = q(
        engine,
        "SELECT SUM(l_tax) AS t FROM lineitem",
        max_rel_error=0.2,
        use_ml_optimization=True,
    )
    if r["plan"]["type"] != "exact":
        assert "actual_speedup" in r["meta"]
        assert len(engine.catalog.history) == before + 1


def test_broadcast_threshold_knob(spark, engine):
    """set_broadcast_threshold drives Catalyst's join strategy: large
    threshold → BroadcastHashJoin on a dim join; -1 → no broadcast."""
    sql = (
        "SELECT n_name, COUNT(*) AS c FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        engine.set_broadcast_threshold("64MB")
        plan_b = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_b
        engine.set_broadcast_threshold(-1)
        plan_s = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_engine_applies_runtime_confs_on_init(spark):
    """AQEngine(spark) without data_dir must still apply the engine's
    runtime confs — rewritten SQL assumes ANSI-off/UTC on ANY host session
    (regression: only register_testdata applied them)."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_confs_"))
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_partition_routing_for_exact_queries(spark):
    """After engine.partition_table, an EXACT single-table query with a
    literal timestamp bound routes to the partitioned layout with a
    derived p_bucket conjunct: identical results, and the executed scan
    reads only the matching day directories (measured). Queries without
    a derivable bound are untouched."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.operators.partitioning import (
        scan_metrics,
    )

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_route_"),
        data_dir="/root/testdata/sf0.001",
    )
    sql = (
        "SELECT COUNT(*) AS n FROM events "
        "WHERE ts <= TIMESTAMP '2024-01-05 00:00:00'"
    )
    truth = q(eng, sql)["result"]
    eng.partition_table("events", "ts", grain="day")
    r = q(eng, sql)
    assert "events__by_day" in r["plan"]["sql"]
    assert "routed to partitioned layout" in r["plan"]["reason"]
    assert r["result"] == truth
    # measured pruning: <= 5 of the 30 day directories actually read
    m = scan_metrics(spark.sql(r["plan"]["sql"]))
    assert 1 <= m["partitions_read"] <= 5, m
    # no derivable bound -> not routed
    r2 = q(eng, "SELECT COUNT(*) AS n FROM events WHERE user_id = 5")
    assert "events__by_day" not in r2["plan"]["sql"]
    # OR could reach other partitions -> not routed
    r3 = q(
        eng,
        "SELECT COUNT(*) AS n FROM events "
        "WHERE ts <= TIMESTAMP '2024-01-05 00:00:00' OR user_id = 5",
    )
    assert "events__by_day" not in r3["plan"]["sql"]
    # BETWEEN desugars to a two-sided bucket range
    between = (
        "SELECT COUNT(*) AS n FROM events WHERE ts BETWEEN "
        "TIMESTAMP '2024-01-03 00:00:00' AND TIMESTAMP '2024-01-05 12:00:00'"
    )
    r4 = q(eng, between)
    assert "events__by_day" in r4["plan"]["sql"]
    assert "p_bucket >= '2024-01-03'" in r4["plan"]["sql"]
    assert "p_bucket <= '2024-01-05'" in r4["plan"]["sql"]
    direct = (
        spark.table("events")
        .filter("ts BETWEEN TIMESTAMP '2024-01-03 00:00:00' "
                "AND TIMESTAMP '2024-01-05 12:00:00'")
        .count()
    )
    assert r4["result"][0]["n"] == direct
    # NOT inverts comparison semantics -> never routed
    r5 = q(
        eng,
        "SELECT COUNT(*) AS n FROM events "
        "WHERE NOT ts <= TIMESTAMP '2024-01-05 00:00:00'",
    )
    assert "events__by_day" not in r5["plan"]["sql"]
    # a SUBQUERY's ts bound belongs to another scope — pruning the outer
    # table with it would silently drop rows (parens disable derivation)
    r6 = q(
        eng,
        "SELECT COUNT(*) AS n FROM events WHERE user_id IN "
        "(SELECT user_id FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-28 00:00:00')",
    )
    assert "events__by_day" not in r6["plan"]["sql"]
    # SELECT * would surface the layout's extra p_bucket column
    r7 = q(
        eng,
        "SELECT * FROM events WHERE ts <= TIMESTAMP '2024-01-02 00:00:00'",
    )
    assert "events__by_day" not in r7["plan"]["sql"]
    assert "p_bucket" not in (r7["result"][0] if r7["result"] else {})
    # catalog-visible drift: a stale layout is a WRONG exact answer —
    # never served (maintenance rebuilds it)
    eng.catalog.upsert_table_stats("events", 999_999)
    r8 = q(eng, sql)
    assert "events__by_day" not in r8["plan"]["sql"]


def test_partition_routing_date_column_month_grain(spark):
    """Routing also covers DATE (not just TIMESTAMP) partitioning
    columns and coarser grains: lineitem partitioned by month of
    l_shipdate; a DATE-literal bound routes with a month-bucket
    conjunct and returns exactly the flat-table answer."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_route_m_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.partition_table("lineitem", "l_shipdate", grain="month")
    sql = (
        "SELECT COUNT(*) AS n FROM lineitem "
        "WHERE l_shipdate <= DATE '1995-06-17'"
    )
    truth = (
        spark.table("lineitem").filter("l_shipdate <= DATE '1995-06-17'").count()
    )
    r = q(eng, sql)
    assert "lineitem__by_month" in r["plan"]["sql"]
    assert "p_bucket <= '1995-06'" in r["plan"]["sql"]
    assert r["result"][0]["n"] == truth


def test_partition_routing_for_approx_plans(spark, above_size_line):
    """Round-6 headline (VERDICT r5 instruction 1): samples of
    layout-backed tables are materialized bucket-partitioned, and a
    date-bounded APPROXIMATE query routes its sample scan through the
    pruned layout — measured files_read drop, and (materialized samples
    being routing-invariant) a bit-identical result vs the unrouted
    plan. The sample is built above the served-state size line, so it is
    served by the file scan whose pruning is measured (small samples are
    served from an in-memory copy: tests/test_served_state.py)."""
    import glob
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.operators.partitioning import (
        scan_metrics,
    )

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_route_apx_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.partition_table("events", "ts", grain="day")
    with above_size_line():
        info = eng.sampler.create_systematic_sample("events", 4, "event_id")
    # the sample parquet itself is day-partitioned
    assert len(glob.glob(info.path + "/p_bucket=*")) >= 25
    sql = (
        "SELECT COUNT(*) AS n FROM events "
        "WHERE ts BETWEEN TIMESTAMP '2024-01-03 00:00:00' "
        "AND TIMESTAMP '2024-01-07 23:59:59'"
    )
    r = q(eng, sql, max_rel_error=0.5)
    assert r["plan"]["type"] == "sample"
    assert (
        "routed to partitioned layout events__sys_4" in r["plan"]["reason"]
    ), r["plan"]["reason"]
    m = scan_metrics(spark.sql(r["plan"]["sql"]))
    assert 1 <= m["partitions_read"] <= 5, m
    # unrouted comparison: drop the sample's layout entry and re-plan
    routed_rows = r["result"]
    eng.catalog.partitioned_views.pop("events__sys_4")
    r2 = q(eng, sql, max_rel_error=0.5)
    assert "routed" not in r2["plan"]["reason"]
    assert r2["result"] == routed_rows
    # inline plans route their BASE scan through the layout view
    eng2 = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_route_inl_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng2.partition_table("events", "ts", grain="day")
    r4 = q(
        eng2,
        "SELECT event_type, SUM(value * value) AS s FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' GROUP BY event_type",
        max_rel_error=0.5,
    )
    assert r4["plan"]["type"] == "sample"
    assert "events__by_day" in r4["plan"]["sql"], r4["plan"]["sql"]
    # ...and sketch plans do too
    r5 = q(
        eng2,
        "SELECT COUNT(DISTINCT user_id) AS u FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'",
        max_rel_error=0.1,
    )
    assert r5["plan"]["type"] == "sketch"
    assert "events__by_day" in r5["plan"]["sql"]
    # a rand-seeded uniform sample of a layout-backed table is ALSO
    # materialized partitioned and routes once it is the chosen plan
    info_u = eng2.create_sample("events", 0.5, seed=11)
    assert len(glob.glob(
        eng2.catalog.get_sample(info_u["sample_table"]).path + "/p_bucket=*"
    )) >= 25
    r6 = q(eng2, sql, max_rel_error=0.5)
    assert r6["plan"]["type"] == "sample"
    assert "routed to partitioned layout events__sample_0_5" in (
        r6["plan"]["reason"]
    ), r6["plan"]["reason"]


def test_partition_table_repartitions_existing_samples(spark):
    """A sample built BEFORE the layout existed is flat parquet and
    cannot route; engine.partition_table re-materializes the table's
    samples bucket-partitioned (same deterministic subset), so
    pre-existing samples route too."""
    import glob
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_prepart_"),
        data_dir="/root/testdata/sf0.001",
    )
    info = eng.sampler.create_systematic_sample("events", 4, "event_id")
    before = sorted(
        map(tuple, spark.table(info.sample_table).collect())
    )
    assert not glob.glob(info.path + "/p_bucket=*")  # flat before
    out = eng.partition_table("events", "ts", grain="day")
    assert info.sample_table in out["samples_partitioned"]
    assert len(glob.glob(info.path + "/p_bucket=*")) >= 25
    after = sorted(
        map(
            tuple,
            spark.table(info.sample_table).drop("p_bucket").collect(),
        )
    )
    assert after == before  # identical subset, just re-laid-out
    r = eng.query(
        "SELECT COUNT(*) AS n FROM events "
        "WHERE ts <= TIMESTAMP '2024-01-05 00:00:00'",
        max_rel_error=0.5,
    )
    assert r["plan"]["type"] == "sample"
    assert "routed to partitioned layout events__sys_4" in (
        r["plan"]["reason"]
    ), r["plan"]["reason"]


def test_partition_routing_for_join_queries(spark):
    """Round-6 JOIN-shape routing: a date-bounded star join routes its
    FACT scan through the layout (measured pruning), returns exactly the
    unrouted answer, qualifies the bucket conjunct with the fact alias,
    and refuses ambiguous shapes (the bounded column appearing in more
    than one joined table)."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.operators.partitioning import (
        scan_metrics,
    )

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_route_join_"),
        data_dir="/root/testdata/sf0.001",
    )
    sql = (
        "SELECT o.o_orderpriority, COUNT(*) AS n "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-06-30' "
        "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"
    )
    truth = q(eng, sql, prefer_exact=True)["result"]
    eng.partition_table("lineitem", "l_shipdate", grain="month")
    r = q(eng, sql, prefer_exact=True)
    assert "lineitem__by_month" in r["plan"]["sql"], r["plan"]["sql"]
    assert "l.p_bucket >= '1995-01'" in r["plan"]["sql"]
    assert "l.p_bucket <= '1995-06'" in r["plan"]["sql"]
    assert r["result"] == truth
    m = scan_metrics(spark.sql(r["plan"]["sql"]))
    # month grain over ~7 years of shipdates: 6 bucket dirs of ~80+
    assert 1 <= m["partitions_read"] <= 7, m
    # no alias on the fact: the view is aliased AS the table name so
    # table-qualified references keep resolving
    sql_noalias = (
        "SELECT o.o_orderpriority, COUNT(*) AS n "
        "FROM lineitem JOIN orders o ON lineitem.l_orderkey = o.o_orderkey "
        "WHERE lineitem.l_shipdate <= DATE '1994-06-30' "
        "GROUP BY o.o_orderpriority"
    )
    r2 = q(eng, sql_noalias, prefer_exact=True)
    assert "lineitem__by_month lineitem" in r2["plan"]["sql"]
    # ambiguity guard: a second joined table owning the ts column name
    # must disable routing (the bound could belong to either scope)
    spark.table("lineitem").selectExpr(
        "l_orderkey AS k", "l_shipdate"
    ).createOrReplaceTempView("lineitem_dates")
    amb = (
        "SELECT COUNT(*) AS n FROM lineitem l "
        "JOIN lineitem_dates d ON l.l_orderkey = d.k "
        "WHERE l.l_shipdate <= DATE '1994-06-30'"
    )
    r3 = q(eng, amb, prefer_exact=True)
    assert "lineitem__by_month" not in r3["plan"]["sql"]
