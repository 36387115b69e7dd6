"""KLL quantile columns in rollup state (round 7): MEDIAN/PERCENTILE over
a tracked column routes to the merged DataSketches KLL sketch state —
"p95 per day from pre-aggregated state", the continuous-aggregate answer
to quantile dashboards. KLL's guarantee is on RANK (ε(k) ≈ 2.296/k^0.9433,
the published DataSketches bound); below the sketch's compaction
threshold the routed answer is exactly the inclusive-rank order statistic
(== DuckDB quantile_disc), which these tests exploit for bit-exact checks.

Reference parity note: the reference has no quantile surface at all; this
extends the rollup subsystem the way its sketch endpoints imply.
"""

import tempfile

import pytest

from approximate_query_engine_spark import AQEngine

Q = (
    "SELECT event_type, MEDIAN(value) AS med, PERCENTILE(value, 0.9) AS p90 "
    "FROM events WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
    "AND ts < TIMESTAMP '2024-01-05 00:00:00' "
    "GROUP BY event_type ORDER BY event_type"
)

DUCK_Q = (
    "SELECT event_type, quantile_disc(value, 0.5) AS med, "
    "quantile_disc(value, 0.9) AS p90 FROM events "
    "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
    "AND ts < TIMESTAMP '2024-01-05 00:00:00' "
    "GROUP BY event_type ORDER BY event_type"
)


@pytest.fixture(scope="module")
def qeng(spark):
    e = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_rollup_kll_"),
        data_dir="/root/testdata/sf0.001",
    )
    # k=800 keeps every per-(bucket,dims) sketch below compaction at this
    # scale, so merged estimates are exactly the discrete order statistic
    e.create_rollup(
        "events",
        "ts",
        "1 hour",
        dims=["event_type"],
        measures=["value"],
        quantile_cols=["value"],
        kll_k=800,
    )
    return e


def test_routed_quantile_is_sketch_plan_and_exact_below_compaction(
    qeng, duck
):
    r = qeng.query(Q, max_rel_error=0.05)
    assert r["status"] == "ok", r.get("error")
    assert r["plan"]["type"] == "sketch"
    assert "KLL sketch state" in r["plan"]["reason"]
    want = duck.execute(DUCK_Q).fetchall()
    got = [(x["event_type"], x["med"], x["p90"]) for x in r["result"]]
    assert got == [tuple(w) for w in want]


def test_quantile_tolerance_gate_declines(qeng):
    # ε(800) ≈ 0.42%: a 0.1% tolerance must NOT be served from the rollup
    r = qeng.query(Q, max_rel_error=0.001)
    assert r["status"] == "ok"
    assert "rollup" not in r["plan"]["reason"]


def test_quantile_prefer_exact_declines(qeng):
    r = qeng.query(Q, prefer_exact=True)
    assert r["status"] == "ok"
    assert r["plan"]["type"] == "exact"
    assert "rollup" not in r["plan"]["reason"]


def test_untracked_column_declines(qeng):
    sql = Q.replace("MEDIAN(value)", "MEDIAN(user_id)").replace(
        "PERCENTILE(value, 0.9)", "PERCENTILE(user_id, 0.9)"
    )
    r = qeng.query(sql, max_rel_error=0.05)
    assert r["status"] == "ok"
    assert "rollup" not in r["plan"]["reason"]


def test_hybrid_offgrid_quantile_routes_and_is_exact(qeng, duck):
    sql = (
        "SELECT event_type, PERCENTILE(value, 0.95) AS p95 "
        "FROM events WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-04 13:22:11' "
        "GROUP BY event_type ORDER BY event_type"
    )
    r = qeng.query(sql, max_rel_error=0.05)
    assert r["status"] == "ok"
    assert "raw edge slice" in r["plan"]["reason"]
    assert "KLL state merged across both branches" in r["plan"]["reason"]
    want = duck.execute(
        "SELECT event_type, quantile_disc(value, 0.95) AS p95 FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-04 13:22:11' "
        "GROUP BY event_type ORDER BY event_type"
    ).fetchall()
    got = [(x["event_type"], x["p95"]) for x in r["result"]]
    assert got == [tuple(w) for w in want]


def test_refresh_preserves_kll_schema_and_answers(qeng, duck):
    info = qeng.catalog.rollups["events"][0]
    before = qeng.query(Q, max_rel_error=0.05)
    qeng.refresh_rollup("events")
    layout = qeng.spark.read.parquet(info["path"])
    assert "value_kll" in layout.columns
    # every date directory kept its sketch column (no mixed schemas)
    assert (
        layout.where(layout["value_kll"].isNull()).count() == 0
    )
    after = qeng.query(Q, max_rel_error=0.05)
    assert "KLL sketch state" in after["plan"]["reason"]
    assert after["result"] == before["result"]


def test_merge_batch_preserves_quantile_state(spark, duck):
    """Streamed micro-batch merges must carry KLL state: two half-merges
    must answer identically to a one-shot build (exact below compaction,
    so equality is bitwise, not approximate)."""
    import os

    from approximate_query_engine_spark.operators.rollup import (
        RollupSpec,
        merge_rollup_batch,
    )
    from pyspark.sql import functions as F

    wd = tempfile.mkdtemp(prefix="aqe_kll_merge_")
    spec = RollupSpec(
        "events",
        "ts",
        "1 hour",
        ["event_type"],
        ["value"],
        quantile_cols=["value"],
        kll_k=800,
    )
    ev = spark.table("events")
    path = os.path.join(wd, "layout")
    merge_rollup_batch(
        spark, ev.where(F.col("event_id") % 2 == 0), spec, path, batch_id=0
    )
    merge_rollup_batch(
        spark, ev.where(F.col("event_id") % 2 == 1), spec, path, batch_id=1
    )
    got = (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.expr(
                "kll_sketch_get_quantile_double("
                "kll_merge_agg_double(value_kll, 800), 0.5)"
            ).alias("med")
        )
        .orderBy("event_type")
        .collect()
    )
    want = duck.execute(
        "SELECT event_type, quantile_disc(value, 0.5) FROM events "
        "GROUP BY event_type ORDER BY event_type"
    ).fetchall()
    assert [(r["event_type"], r["med"]) for r in got] == [
        tuple(w) for w in want
    ]


def test_kll_rank_error_formula():
    from approximate_query_engine_spark.operators.rollup import (
        kll_rank_error,
    )

    assert 0.015 < kll_rank_error(200) < 0.017
    assert 0.0040 < kll_rank_error(800) < 0.0045
    assert kll_rank_error(800) < kll_rank_error(200)


def test_routed_scan_prunes_partitions_and_columns(spark, above_size_line):
    """The 100 TB plan shape, pinned: a routed COUNT-only query's file
    scan must carry p_date PartitionFilters (date-directory pruning at
    listing time) and a ReadSchema WITHOUT the KLL sketch column (column
    pruning — state bytes are only read when an aggregate needs them).
    Built above the served-state size line: small state is served from
    an in-memory copy instead (tests/test_served_state.py)."""
    import re

    from conftest import SF_SMOKE

    qeng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_rollup_kll_scan_"),
        data_dir=SF_SMOKE,
    )
    with above_size_line():
        qeng.create_rollup(
            "events",
            "ts",
            "1 hour",
            dims=["event_type"],
            measures=["value"],
            quantile_cols=["value"],
            kll_k=800,
        )
    r = qeng.query(
        "SELECT event_type, COUNT(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-05 00:00:00' GROUP BY event_type"
    )
    assert "rollup" in r["plan"]["reason"]
    plan = (
        qeng.spark.sql(r["plan"]["sql"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf is not None
    assert "p_date" in pf.group(0) and "2024-01-03" in pf.group(0)
    rs = re.search(r"ReadSchema: [^\n]*", plan)
    assert rs is not None and "value_kll" not in rs.group(0)
    # and when the quantile IS requested, the state column is read
    r2 = qeng.query(Q, max_rel_error=0.05)
    plan2 = (
        qeng.spark.sql(r2["plan"]["sql"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "value_kll" in re.search(r"ReadSchema: [^\n]*", plan2).group(0)


def test_rollup_quantile_bounds_bracket_exact(qeng, duck):
    """The rank guarantee converted to VALUE space (round 8): the state's
    values at ranks p∓ε must bracket the true discrete quantile of the
    window; below compaction the estimate IS the true quantile."""
    lo, hi = "2024-01-02 00:00:00", "2024-01-05 00:00:00"
    for p in (0.5, 0.9, 0.99):
        out = qeng.rollup_quantile_bounds("events", "value", p, lo=lo, hi=hi)
        truth = duck.execute(
            f"SELECT quantile_disc(value, {p}) FROM events "
            f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"
        ).fetchone()[0]
        assert out["value_lo"] <= truth <= out["value_hi"], (p, out, truth)
        assert out["estimate"] == truth  # exact mode at k=800 here
        assert 0 < out["rank_epsilon"] < 0.01  # ε(800) ≈ 0.42%
    with pytest.raises(ValueError, match="p must be"):
        qeng.rollup_quantile_bounds("events", "value", 1.5)
    with pytest.raises(ValueError, match="not aligned"):
        qeng.rollup_quantile_bounds(
            "events", "value", 0.5, lo="2024-01-02 00:30:10"
        )
    with pytest.raises(ValueError, match="no rollup buckets"):
        qeng.rollup_quantile_bounds(
            "events", "value", 0.5,
            lo="2030-01-01 00:00:00", hi="2030-01-02 00:00:00",
        )
