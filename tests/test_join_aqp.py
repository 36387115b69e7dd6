"""Join-level AQP through the SQL surface (beyond-reference): the
planner samples the FACT side of an inner star join and applies the
standard Horvitz–Thompson scaling. One-sided sampling keeps inclusion
probabilities exact per join-output row, so aggregates over ANY column
(fact or dim) scale correctly; all join variants other than plain INNER
stay exact-only."""

import math

import pytest

from approximate_query_engine_spark.rewriter import (
    UnsupportedRewriteError,
    rewrite_join_fact_sample,
)
from approximate_query_engine_spark.sqlparser import (
    UnsupportedQueryError,
    parse_join,
    try_parse_join,
)

JOIN_SQL = (
    "SELECT o.o_orderstatus, COUNT(*) AS n_items, "
    "SUM(l.l_extendedprice) AS rev "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "GROUP BY o.o_orderstatus"
)


def test_parse_join_shapes():
    jq = parse_join(JOIN_SQL)
    assert jq.tables == [("lineitem", "l"), ("orders", "o")]
    assert jq.has_group_by and jq.has_count and jq.has_sum
    jq3 = parse_join(
        "SELECT c.c_mktsegment, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "INNER JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment"
    )
    assert [t for t, _ in jq3.tables] == ["lineitem", "orders", "customer"]


def test_join_variants_are_exact_only():
    for bad in (
        "SELECT COUNT(*) AS n FROM a LEFT JOIN b ON a.x = b.x",
        "SELECT COUNT(*) AS n FROM a CROSS JOIN b",
        "SELECT COUNT(*) AS n FROM a JOIN b",  # no ON
        "SELECT COUNT(*) AS n FROM (SELECT * FROM a) s JOIN b ON s.x = b.x",
    ):
        assert try_parse_join(bad) is None or pytest.raises(
            UnsupportedQueryError
        )
        with pytest.raises(UnsupportedQueryError):
            parse_join(bad)


def test_full_fraction_join_rewrite_is_identity(spark, engine):
    exact = {
        r["o.o_orderstatus"] if "o.o_orderstatus" in r.asDict() else r[0]: (
            r["n_items"], float(r["rev"])
        )
        for r in spark.sql(JOIN_SQL).collect()
    }
    jq = parse_join(JOIN_SQL)
    rw = rewrite_join_fact_sample(jq, "lineitem", fraction=1.0, seed=3)
    got = {r[0]: (r["n_items"], float(r["rev"])) for r in spark.sql(rw.sql).collect()}
    assert set(got) == set(exact)
    for k, (n, rev) in exact.items():
        assert got[k][0] == n
        assert math.isclose(got[k][1], rev, rel_tol=1e-9)


def test_sampled_join_estimates_with_ci(spark, engine):
    exact = {r[0]: r["n_items"] for r in spark.sql(JOIN_SQL).collect()}
    jq = parse_join(JOIN_SQL)
    rw = rewrite_join_fact_sample(jq, "lineitem", fraction=0.2, seed=11)
    assert "n_items_ci_low" in rw.sql and "rev_ci_low" in rw.sql
    rows = spark.sql(rw.sql).collect()
    for r in rows:
        true_n = exact[r[0]]
        assert r["n_items_ci_low"] <= true_n <= r["n_items_ci_high"], r
        assert abs(r["n_items"] - true_n) / true_n < 0.25


def test_dim_column_aggregates_scale_correctly(spark, engine):
    """SUM over a DIM column is also HT-valid under fact-side sampling
    (each output row has inclusion probability f regardless of which
    side the summed column lives on)."""
    sql = (
        "SELECT SUM(o.o_totalprice) AS tot FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey"
    )
    exact = float(spark.sql(sql).collect()[0]["tot"])
    jq = parse_join(sql)
    rw = rewrite_join_fact_sample(jq, "lineitem", fraction=0.25, seed=5)
    row = spark.sql(rw.sql).collect()[0]
    assert abs(float(row["tot"]) - exact) / exact < 0.1
    assert row["tot_ci_low"] <= exact <= row["tot_ci_high"]


def test_systematic_join_rewrite_deterministic(spark, engine):
    jq = parse_join(JOIN_SQL)
    # key_expr evaluates INSIDE the fact subquery: unqualified columns
    rw = rewrite_join_fact_sample(
        jq, "lineitem", k=4, key_expr="l_orderkey * 31 + l_linenumber"
    )
    a = sorted(tuple(r) for r in spark.sql(rw.sql).collect())
    b = sorted(tuple(r) for r in spark.sql(rw.sql).collect())
    assert a == b  # pure function of the data


def test_planner_plans_fact_sample_for_joins(engine):
    """With stats for both tables the planner must choose the fact-side
    sample and execute end to end; DISTINCT joins and missing stats fall
    back to exact."""
    engine.planner.table_row_count("lineitem")
    engine.planner.table_row_count("orders")
    out = engine.query(JOIN_SQL, max_rel_error=0.1)
    assert out["status"] == "ok"
    assert out["plan"]["type"] == "sample"
    assert "fact=lineitem" in out["plan"]["reason"]
    assert len(out["result"]) >= 2

    out2 = engine.query(
        "SELECT COUNT(DISTINCT l.l_orderkey) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey",
        max_rel_error=0.1,
    )
    assert out2["status"] == "ok"
    assert out2["plan"]["type"] == "exact"


def test_planner_prefer_exact_join(engine):
    out = engine.query(JOIN_SQL, prefer_exact=True)
    assert out["status"] == "ok"
    assert out["plan"]["type"] == "exact"


def test_minmax_only_join_stays_exact(engine):
    """Mirrors the single-table gate: a sample MIN is biased with no CI."""
    out = engine.query(
        "SELECT MIN(l.l_extendedprice) AS m FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey",
        max_rel_error=0.1,
    )
    assert out["status"] == "ok"
    assert out["plan"]["type"] == "exact"


def test_unaliased_qualified_group_col_keeps_bare_name(spark, engine):
    """The rewrite must not rename o.o_orderstatus to a dotted alias —
    the output schema has to match the exact query's (o_orderstatus)."""
    sql = (
        "SELECT o.o_orderstatus, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderstatus"
    )
    jq = parse_join(sql)
    rw = rewrite_join_fact_sample(jq, "lineitem", fraction=1.0, seed=1)
    cols = spark.sql(rw.sql).columns
    assert "o_orderstatus" in cols
    assert not any("." in c for c in cols)


def test_ml_path_reports_join_plan(engine):
    """use_ml_optimization on a join query must surface the planner's
    fact-sample decision in the reference-shaped envelope instead of a
    blanket 'outside the grammar' exact answer."""
    engine.planner.table_row_count("lineitem")
    engine.planner.table_row_count("orders")
    out = engine.query(JOIN_SQL, max_rel_error=0.1, use_ml_optimization=True)
    assert out["status"] == "ok"
    assert out["plan"]["type"] == "sample"
    ml = out["ml_optimization"]
    assert ml["strategy"] == "sample"
    assert "star join" in ml["reasoning"]
    assert ml["estimated_speedup"] > 1.0


def test_join_planner_prefers_prebuilt_fact_sample(spark):
    """With a pre-built uniform sample of the fact table, the join planner
    must substitute it for the fact side (scans f·N rows) instead of
    re-sampling inline (reads every fact row), and the scaled result must
    stay within the error contract."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_joinpre_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")
    eng.planner.table_row_count("orders")
    sql = (
        "SELECT o.o_orderpriority, COUNT(*) AS n, "
        "SUM(l.l_extendedprice) AS rev "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderpriority"
    )
    inline = eng.planner.plan(sql, max_rel_error=0.2)
    assert inline["type"] == "sample" and "rand(" in inline["sql"]
    eng.create_sample("lineitem", 0.25, seed=13)
    pre = eng.planner.plan(sql, max_rel_error=0.2)
    assert pre["type"] == "sample"
    assert pre.get("sample_table") == "lineitem__sample_0_25"
    assert "rand(" not in pre["sql"]
    assert "pre-built fact sample" in pre["reason"]
    # executes and lands near exact (f=0.25 at sf0.001: loose bound)
    approx = {
        r["o_orderpriority"]: r["rev"]
        for r in spark.sql(pre["sql"]).collect()
    }
    exact = {
        r["o_orderpriority"]: r["rev"]
        for r in spark.sql(sql.replace(", COUNT(*) AS n", "")).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / abs(v) < 0.35


def test_substituted_fact_sample_join_prunes_and_broadcasts(
    spark, above_size_line
):
    """The pre-built-sample join substitution must keep the scale shape:
    both scans pruned to the referenced columns and the dim side
    broadcast (no shuffle of the sampled fact against a sorted dim). The
    sample is built above the served-state size line, so it keeps the
    pruned file scan (small samples are served from an in-memory copy:
    tests/test_served_state.py)."""
    import re
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_jshape_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")
    eng.planner.table_row_count("orders")
    with above_size_line():
        eng.create_sample("lineitem", 0.25, seed=13)
    p = eng.query(
        "SELECT o.o_orderpriority, SUM(l.l_extendedprice) AS rev "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderpriority",
        max_rel_error=0.2,
        explain=True,
    )
    assert p["plan"].get("sample_table")
    plan = spark.sql(p["plan"]["sql"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    schemas = sorted(re.findall(r"ReadSchema: (\S+)", plan))
    assert schemas == [
        "struct<l_orderkey:bigint,l_extendedprice:double>",
        "struct<o_orderkey:bigint,o_orderpriority:string>",
    ], schemas
