"""Planner cost model + optimizer decision-tree truth table
(reference planner.py:13-19, 187-272; ml_optimizer.py:153-179)."""

import pytest

from approximate_query_engine_spark.optimizer import Features, choose_base_strategy
from approximate_query_engine_spark.planner import (
    exact_cost,
    inline_fraction_for,
    sample_cost,
    sampling_error,
)


def F(**kw):
    base = dict(
        has_count=False,
        has_sum=False,
        has_avg=False,
        has_distinct=False,
        has_group_by=False,
        group_by_cardinality=0,
        where_complexity=0,
        query_length=50,
        table_size=200_000,
    )
    base.update(kw)
    return Features(**base)


# ---- decision tree truth table (thresholds verbatim) ----
def test_tiny_table_exact():
    assert choose_base_strategy(F(table_size=1000, has_count=True), 0.05) == (
        "exact",
        0.95,
    )


def test_distinct_count_sketch():
    s, c = choose_base_strategy(F(has_distinct=True, has_count=True), 0.05)
    assert (s, c) == ("sketch", 0.90)


def test_group_by_multicol_large_stratified():
    s, c = choose_base_strategy(
        F(has_group_by=True, group_by_cardinality=2, table_size=20_000), 0.05
    )
    assert (s, c) == ("stratified", 0.85)


def test_group_by_single_col():
    s, c = choose_base_strategy(
        F(has_group_by=True, group_by_cardinality=1, table_size=20_000), 0.05
    )
    assert (s, c) == ("sketch", 0.80)


def test_large_agg_sample():
    s, c = choose_base_strategy(F(has_sum=True, table_size=6_000), 0.05)
    assert (s, c) == ("sample", 0.85)


def test_medium_count_sample():
    s, c = choose_base_strategy(F(has_count=True, table_size=3_000), 0.05)
    assert (s, c) == ("sample", 0.75)


def test_tight_tolerance_exact():
    s, _ = choose_base_strategy(F(has_count=True, table_size=200_000), 0.0005)
    assert s == "exact"


def test_avg_only_medium_table_exact():
    # rule 5 requires count|sum; AVG alone on a 3k table -> exact
    s, c = choose_base_strategy(F(has_avg=True, table_size=3_000), 0.05)
    assert (s, c) == ("exact", 0.60)


# ---- cost model ----
def test_exact_cost_group_by_cap():
    assert exact_cost(200_000, False) == 200_000.0
    assert exact_cost(200_000, True) == 200_000.0 + 10_000 * 2.0


def test_sample_cost_and_error():
    assert sample_cost(200_000, 0.01) == 2000.0 + 5.0
    assert sampling_error(200_000, 0.01) == pytest.approx(1 / (2000**0.5))


def test_fraction_ladder():
    assert inline_fraction_for(200_000, 0.05) == 0.01
    assert inline_fraction_for(60_000, 0.05) == 0.02
    assert inline_fraction_for(10_000, 0.05) == 0.05
    # loose tolerance halves the fraction
    assert inline_fraction_for(200_000, 0.2) == 0.005
    # infeasible tolerance raises the fraction, capped at 0.5 (the planner's
    # error filter then rejects the sample candidate in favor of exact)
    assert inline_fraction_for(10_000, 0.01) == 0.5


def test_fraction_padded_for_filtered_queries():
    # WHERE present (selectivity < 1): ladder doubles and feasibility
    # targets tol/2 on the discounted n (round-1 where_sum 0.0503 fix)
    assert inline_fraction_for(600_000, 0.05, selectivity=0.3) == 0.02
    assert inline_fraction_for(600_000, 0.05) == 0.01
    # tiny effective n: the safety-factored needed fraction dominates
    f = inline_fraction_for(20_000, 0.05, selectivity=0.3)
    assert f == pytest.approx(4.0 / (0.05**2 * 6000))
    # selectivity discounts the error estimate
    assert sampling_error(200_000, 0.01, 0.3) == pytest.approx(1 / (600**0.5))


def test_distinct_cost_model_uses_catalog_ndv(engine):
    engine.catalog.upsert_table_stats("lineitem", 30_000_000)
    sql = "SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem"
    # no ndv stats: reference-verbatim flat sketch cost → sketch wins
    engine.catalog.column_ndv.pop(("lineitem", "l_orderkey"), None)
    assert engine.planner.plan(sql)["type"] == "sketch"
    # low cardinality (ndv ≪ 0.1·N): exact hash-agg priced cheaper
    engine.catalog.upsert_column_ndv("lineitem", "l_orderkey", 150_000)
    plan = engine.planner.plan(sql)
    assert plan["type"] == "exact"
    assert "ndv=150000" in plan["reason"]
    # high cardinality (every row distinct): sketch avoids the 30M shuffle
    engine.catalog.upsert_column_ndv("lineitem", "l_orderkey", 30_000_000)
    plan = engine.planner.plan(sql)
    assert plan["type"] == "sketch"
    # restore true stats for other tests
    engine.catalog.column_ndv.pop(("lineitem", "l_orderkey"), None)
    engine.catalog.upsert_table_stats(
        "lineitem", engine.spark.table("lineitem").count()
    )


def test_sketch_build_teaches_catalog_ndv(engine):
    engine.create_sketch("region", "r_name", "hll")
    ndv = engine.catalog.get_column_ndv("region", "r_name")
    assert ndv == 5  # 5 TPC-H regions


def test_plan_where_query_uses_padded_fraction(spark):
    """A WHERE clause shrinks the effective sample by its selectivity, so
    the planner pads the inline fraction by 1/sel. Fresh engine with NO
    pre-built samples: the old shared-fixture form silently skipped its
    assertion (or compared two picks of the same pre-built sample)
    depending on what samples earlier tests had left behind."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_pad_"),
        data_dir="/root/testdata/sf0.001",
    )
    # compute-bound aggregate so the inline sample is the winning plan
    plan = eng.planner.plan(
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS s "
        "FROM lineitem WHERE l_quantity < 25",
        max_rel_error=0.2,
    )
    nofilter = eng.planner.plan(
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS s FROM lineitem",
        max_rel_error=0.2,
    )
    assert plan["type"] == "sample" and nofilter["type"] == "sample"
    assert plan["sample_fraction"] >= 2 * nofilter["sample_fraction"] - 1e-12


# ---- planner end-to-end plan shapes ----
def test_plan_exact_for_joins(engine):
    plan = engine.planner.plan("SELECT o_orderkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey")
    assert plan["type"] == "exact"


def test_plan_prefers_cheapest_strategy(spark):
    """The per-row-work cost model (round 4): a bare COUNT(*) is
    scan-bound — the measured inline rand() filter is SLOWER than just
    finishing the exact scan, so with no pre-built sample the planner
    honestly answers exact. A compute-bound query (grouping + expression
    math) flips to the inline sample; a pre-built sample wins for both."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_cheapest_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")  # seed catalog stats
    scan_bound = eng.planner.plan(
        "SELECT SUM(l_quantity) AS s FROM lineitem", max_rel_error=0.2
    )
    assert scan_bound["type"] == "exact"
    assert "scan-bound" in scan_bound["reason"]
    compute_bound = eng.planner.plan(
        "SELECT l_returnflag, SUM(l_extendedprice * (1 - l_discount)) AS s "
        "FROM lineitem GROUP BY l_returnflag",
        max_rel_error=0.2,
    )
    assert compute_bound["type"] == "sample"
    assert compute_bound["estimated_error"] <= 0.2
    assert "sql" in compute_bound and "original_sql" in compute_bound
    eng.create_sample("lineitem", 0.1, seed=3)
    with_sample = eng.planner.plan(
        "SELECT SUM(l_quantity) AS s FROM lineitem", max_rel_error=0.2
    )
    assert with_sample["type"] == "sample"
    assert with_sample.get("sample_table")


def test_bare_count_star_always_exact(spark):
    """An UNFILTERED COUNT(*)-only query is a parquet footer-metadata read
    (~free even at 120M rows, bench-measured) — a sampled estimate is pure
    error for zero savings, so the planner answers exact even when a
    pre-built sample exists (round-5 bench `count200` weak plan)."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_countstar_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")
    eng.create_sample("lineitem", 0.1, seed=3)
    for sql in (
        "SELECT COUNT(*) FROM lineitem",
        "SELECT COUNT(*) AS c FROM lineitem",
    ):
        plan = eng.planner.plan(sql, max_rel_error=0.2)
        assert plan["type"] == "exact", plan
        assert "footer metadata" in plan["reason"]
    # a WHERE clause makes it a real scan again: sampling is back on the
    # table (the sample exists and the filtered count is compute-bearing)
    filtered = eng.planner.plan(
        "SELECT COUNT(*) AS c FROM lineitem "
        "WHERE l_quantity > 30 AND l_discount > 0.05",
        max_rel_error=0.3,
    )
    assert filtered["type"] == "sample"
    # COUNT(*) alongside other aggregates is NOT short-circuited
    mixed = eng.planner.plan(
        "SELECT COUNT(*) AS c, SUM(l_extendedprice * (1 - l_discount)) AS s "
        "FROM lineitem",
        max_rel_error=0.3,
    )
    assert "footer metadata" not in mixed["reason"]


def test_plan_sketch_for_distinct(engine):
    plan = engine.planner.plan(
        "SELECT COUNT(DISTINCT l_orderkey) AS c FROM lineitem", max_rel_error=0.05
    )
    assert plan["type"] == "sketch"
    assert "approx_count_distinct" in plan["sql"]


def test_plan_exact_when_tolerance_tight(engine):
    plan = engine.planner.plan(
        "SELECT COUNT(*) FROM lineitem", max_rel_error=0.0001
    )
    assert plan["type"] == "exact"


def test_learning_reranking(engine):
    # seed history so 'sample' dominates for this table size / tolerance
    for _ in range(5):
        engine.optimizer.record_outcome(
            "SELECT COUNT(*) FROM lineitem",
            {"table_size": 6000},
            "sample",
            actual_speedup=5.0,
            actual_error=0.01,
            predicted_speedup=4.0,
            predicted_error=0.02,
            execution_time_ms=10.0,
            error_tolerance=0.1,
        )
    opt = engine.optimizer.optimize_query("SELECT SUM(l_quantity) FROM lineitem", 0.1)
    assert opt["strategy"] in ("sample", "exact")
    assert 0.6 <= opt["confidence"] <= 0.95
    stats = engine.optimizer.learning_stats()
    assert stats["total_queries"] >= 5
    assert "sample" in stats["strategies"]


def test_stratified_priced_on_worst_stratum_beats_uniform(spark):
    """VERDICT r04 instruction 7: on a GROUP BY over the strata column the
    error contract is per group, so the stratified candidate is priced on
    its WORST stratum's achieved sample size and uniform candidates on
    f x (smallest group). With skewed strata + Neyman allocation the
    stratified design passes a tolerance the uniform design fails — the
    planner picks 'stratified' on merit, and the realized estimates are
    measurably tighter on the rare group."""
    import math
    import tempfile

    import numpy as np

    from approximate_query_engine_spark import AQEngine

    rng = np.random.default_rng(11)
    n_common, n_rare = 30_000, 600  # 2% rare stratum
    rows = [("common", float(v)) for v in rng.normal(100.0, 5.0, n_common)]
    rows += [("rare", float(v)) for v in rng.normal(500.0, 300.0, n_rare)]
    spark.createDataFrame(rows, "g string, v double").createOrReplaceTempView(
        "strat_t"
    )
    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_stratmerit_"),
        data_dir="/root/testdata/sf0.001",
    )
    f = 0.05
    sinfo = eng.sampler.create_stratified_sample(
        "strat_t", "g", f, variance_col="v"
    )
    eng.create_sample("strat_t", f, seed=13)
    # Neyman pours rows into the rare-but-volatile stratum
    by_val = {st.strata_value: st for st in sinfo.strata}
    assert by_val["rare"].sample_size > 3 * f * n_rare
    err_strat = max(
        1.0 / math.sqrt(st.sample_size) for st in sinfo.strata
    )
    err_unif = 1.0 / math.sqrt(f * n_rare)
    assert err_strat < err_unif / 2
    tol = (err_strat + err_unif) / 2
    plan = eng.planner.plan(
        "SELECT g, SUM(v) AS s FROM strat_t GROUP BY g", max_rel_error=tol
    )
    assert plan["type"] == "stratified", plan["reason"]
    assert "worst-stratum" in plan["reason"]


def test_learning_history_survives_restart(spark):
    """VERDICT r04 instruction 6: the learning loop's history is not
    session state — it rides catalog.json in the workdir, so a FRESH
    AQEngine on the same workdir re-ranks with the previous engine's
    outcomes and reproduces the same strategy flip (here: base tree says
    sketch for COUNT(DISTINCT), history says exact ran 4x faster)."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    wd = tempfile.mkdtemp(prefix="aqe_persist_")
    sql = "SELECT COUNT(DISTINCT l_orderkey) AS d FROM lineitem"
    a = AQEngine(spark, workdir=wd, data_dir="/root/testdata/sf0.001")
    base = a.optimizer.optimize_query(sql, 0.1)
    assert base["strategy"] == "sketch"  # flip premise: tree picks sketch
    for _ in range(5):
        a.optimizer.record_outcome(
            sql,
            {"table_size": 6000},
            "exact",
            actual_speedup=4.0,
            actual_error=0.0,
            predicted_speedup=1.0,
            predicted_error=0.0,
            execution_time_ms=5.0,
            error_tolerance=0.1,
        )
    flipped_a = a.optimizer.optimize_query(sql, 0.1)
    assert flipped_a["strategy"] == "exact"
    # engine B: brand-new catalog/optimizer objects, same workdir — the
    # only channel is the persisted catalog.json
    b = AQEngine(spark, workdir=wd, data_dir="/root/testdata/sf0.001")
    assert b.catalog is not a.catalog
    assert len(b.catalog.history) == 5
    flipped_b = b.optimizer.optimize_query(sql, 0.1)
    assert flipped_b["strategy"] == "exact"
    assert b.optimizer.learning_stats()["total_queries"] >= 5


def test_per_row_work_classification_drives_plans(spark):
    """Decision consistency for the per-row-work cost model: with no
    pre-built sample, every query whose work lands at or below the inline
    premium must plan exact (with the scan-bound reason), and every one
    above it must plan non-exact — across the approximable grammar."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import (
        INLINE_PREDICATE_COST_PER_ROW,
        per_row_agg_work,
    )
    from approximate_query_engine_spark.sqlparser import parse

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_wgrid_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")
    grid = [
        "SELECT COUNT(*) AS c FROM lineitem",
        "SELECT COUNT(l_orderkey) AS c FROM lineitem",
        "SELECT SUM(l_quantity) AS s FROM lineitem",
        "SELECT AVG(l_tax) AS a FROM lineitem",
        "SELECT COUNT(*) AS c FROM lineitem WHERE l_quantity > 10",
        "SELECT SUM(l_quantity) AS s FROM lineitem WHERE l_quantity > 10",
        "SELECT l_returnflag, COUNT(*) AS c FROM lineitem GROUP BY l_returnflag",
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS s FROM lineitem",
        "SELECT COUNT(*) AS c, SUM(l_quantity) AS s, AVG(l_tax) AS a FROM lineitem",
        "SELECT MEDIAN(l_quantity) AS m FROM lineitem",
        "SELECT l_linestatus, SUM(l_quantity * l_extendedprice) AS s "
        "FROM lineitem GROUP BY l_linestatus",
    ]
    for sql in grid:
        w = per_row_agg_work(parse(sql))
        plan = eng.planner.plan(sql, max_rel_error=0.2)
        if w <= INLINE_PREDICATE_COST_PER_ROW:
            assert plan["type"] == "exact", (sql, w, plan["reason"])
            # bare COUNT(*) takes the stronger metadata short-circuit;
            # every other scan-bound shape keeps the inline-premium reason
            assert (
                "scan-bound" in plan["reason"]
                or "footer metadata" in plan["reason"]
            ), (sql, plan["reason"])
        else:
            assert plan["type"] != "exact", (sql, w, plan["reason"])
        # every plan must execute end to end
        out = eng.query(sql, max_rel_error=0.2)
        assert out["status"] == "ok", (sql, out.get("error"))


def test_speedup_estimates_are_wall_clock_honest(spark):
    """estimated_speedup must come from the cost model's exact/chosen
    ratio WITH the per-query fixed floor — not the reference's flat 1/f:
    a 1% sample of a small table estimates ~1x (the measured floor-bound
    truth), the same plan at catalog-claimed 30M rows estimates the
    measured plan-cost regime (roughly 3-10x), never 100x."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_est_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")
    eng.create_sample("lineitem", 0.05, seed=5)
    sql = (
        "SELECT l_returnflag, SUM(l_extendedprice * (1 - l_discount)) AS s "
        "FROM lineitem GROUP BY l_returnflag"
    )
    small = eng.optimizer.optimize_query(sql, 0.1)
    assert small["strategy"] == "sample"
    assert 1.0 <= small["estimated_speedup"] < 1.5
    eng.catalog.upsert_table_stats("lineitem", 30_000_000)
    big = eng.optimizer.optimize_query(sql, 0.1)
    assert big["strategy"] in ("sample", "stratified")
    assert 2.0 < big["estimated_speedup"] < 20.0


def test_stats_driven_selectivity(spark):
    """analyze_table teaches the catalog column ranges in ONE pass, and
    the planner's selectivity turns from the flat 0.3 guess into the
    uniform-interpolation estimate — changing the error model and the
    inline fraction sizing for range predicates; unknown columns and OR
    clauses still degrade to the old default."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import (
        WHERE_SELECTIVITY_DEFAULT,
        estimate_selectivity,
    )
    from approximate_query_engine_spark.sqlparser import parse

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_stats_"),
        data_dir="/root/testdata/sf0.001",
    )
    base = "SELECT SUM(l_extendedprice) AS s FROM lineitem WHERE {w}"

    def sel(w):
        return estimate_selectivity(parse(base.format(w=w)), eng.catalog)

    # no stats yet: every shape falls back to the flat default
    assert sel("l_quantity < 25") == WHERE_SELECTIVITY_DEFAULT
    ranges = eng.analyze_table("lineitem", ["l_quantity", "l_discount"])
    assert ranges["l_quantity"][0] >= 1.0 and ranges["l_quantity"][1] <= 50.0
    lo, hi = ranges["l_quantity"]
    # range selectivity is now histogram-backed: it must equal the stored
    # histogram's mass fraction, and on this uniform column that fraction
    # must agree with the uniform interpolation to ~15%
    from approximate_query_engine_spark.planner import histogram_fraction_leq

    hist = eng.catalog.get_column_histogram("lineitem", "l_quantity")
    assert hist, "analyze_table must store an equi-depth histogram CDF"
    # `<` uses the strict CDF, `>` complements the inclusive one: the
    # point mass AT 25 (integer-valued column) belongs to neither side
    expect_lt = histogram_fraction_leq(hist, 25.0, inclusive=False)
    expect_leq = histogram_fraction_leq(hist, 25.0, inclusive=True)
    uniform = (25 - lo) / (hi - lo)
    assert expect_lt == pytest.approx(uniform, rel=0.15)
    assert sel("l_quantity < 25") == pytest.approx(expect_lt)
    assert sel("l_quantity > 25") == pytest.approx(1 - expect_leq)
    # AND chain multiplies under independence (l_discount >= 0 is the
    # whole domain: zero mass STRICTLY below 0, so its factor is 1)
    assert sel("l_quantity < 25 AND l_discount >= 0") == pytest.approx(expect_lt)
    # ALL-OR-NOTHING: one un-stats'd part makes the whole clause fall
    # back to the flat default (never a compounded 0.3^k)
    assert sel("l_quantity < 25 AND l_tax = 3") == WHERE_SELECTIVITY_DEFAULT
    # OR combines disjuncts by inclusion-exclusion under independence
    s_hi = 1 - histogram_fraction_leq(hist, 45.0, inclusive=True)
    assert sel("l_quantity < 25 OR l_quantity > 45") == pytest.approx(
        1 - (1 - expect_lt) * (1 - s_hi)
    )
    # NOT BETWEEN and parenthesized clauses give up whole-clause
    assert (
        sel("l_quantity NOT BETWEEN 10 AND 25") == WHERE_SELECTIVITY_DEFAULT
    )
    assert (
        sel("(l_quantity < 25 OR l_quantity > 45) AND l_discount >= 0")
        == WHERE_SELECTIVITY_DEFAULT
    )
    # one disjunct outside the grammar drops the whole clause
    assert (
        sel("l_quantity < 25 OR l_tax = 3") == WHERE_SELECTIVITY_DEFAULT
    )
    # BETWEEN desugars to an INTERVAL on one column — F(25) - F(10-), not
    # the independence product of the two desugared parts
    interval = histogram_fraction_leq(
        hist, 25.0, inclusive=True
    ) - histogram_fraction_leq(hist, 10.0, inclusive=False)
    assert sel("l_quantity BETWEEN 10 AND 25") == pytest.approx(interval)
    assert sel("l_quantity >= 10 AND l_quantity <= 25") == pytest.approx(
        interval
    )
    # explicit analyze of a bogus column fails loudly
    with pytest.raises(ValueError, match="not analyzable"):
        eng.analyze_table("lineitem", ["l_quanity"])
    # duplicate requests are deduped, not ambiguous
    again = eng.analyze_table("lineitem", ["l_quantity", "l_quantity"])
    assert again["l_quantity"] == (lo, hi)
    # stats survive a catalog reload
    from approximate_query_engine_spark.catalog import Catalog

    reloaded = Catalog(eng.catalog.workdir)
    assert reloaded.get_column_minmax("lineitem", "l_quantity") == (lo, hi)
    assert reloaded.get_column_histogram("lineitem", "l_quantity") == hist
    # end to end (compute-bound shape so the sample path is in play):
    # the error estimate reflects the refined selectivity
    plan = eng.planner.plan(
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS s "
        "FROM lineitem WHERE l_quantity < 25",
        max_rel_error=0.1,
    )
    assert plan["type"] == "sample"
    assert plan["estimated_error"] <= 0.1


def test_date_predicate_selectivity(spark):
    """The most common real WHERE shape — ``l_shipdate <= DATE '…'`` —
    gets stats-driven selectivity once analyze_table has stored the
    date/timestamp column's range in epoch days (VERDICT r04 gap 2: this
    used to plan at the flat 0.3 default)."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import (
        WHERE_SELECTIVITY_DEFAULT,
        estimate_selectivity,
    )
    from approximate_query_engine_spark.sqlparser import parse

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_datesel_"),
        data_dir="/root/testdata/sf0.001",
    )
    q = (
        "SELECT SUM(l_extendedprice) AS s FROM lineitem "
        "WHERE l_shipdate <= DATE '{d}'"
    )

    def sel(d):
        return estimate_selectivity(parse(q.format(d=d)), eng.catalog)

    assert sel("1995-06-17") == WHERE_SELECTIVITY_DEFAULT  # no stats yet
    eng.analyze_table("lineitem", ["l_shipdate"])
    n = spark.table("lineitem").count()
    for d in ("1993-06-17", "1995-06-17", "1997-01-01"):
        true_sel = (
            spark.sql(
                f"SELECT COUNT(*) AS c FROM lineitem "
                f"WHERE l_shipdate <= DATE '{d}'"
            ).collect()[0]["c"]
            / n
        )
        est = sel(d)
        assert est != WHERE_SELECTIVITY_DEFAULT
        # histogram-backed estimate lands within 2x (floor guard: the
        # [0.01, 1] clamp makes tiny fractions incomparable by ratio)
        if true_sel > 0.02:
            assert est / true_sel < 2.0 and true_sel / est < 2.0, (d, est, true_sel)
    # the estimate is monotone in the cutoff date
    assert sel("1993-06-17") < sel("1995-06-17") < sel("1997-01-01")
    # BETWEEN two DATE literals (the other common temporal shape) is an
    # interval estimate, also within 2x of truth
    bt = (
        "SELECT SUM(l_extendedprice) AS s FROM lineitem WHERE l_shipdate "
        "BETWEEN DATE '1994-01-01' AND DATE '1995-12-31'"
    )
    est_bt = estimate_selectivity(parse(bt), eng.catalog)
    true_bt = (
        spark.sql(
            "SELECT COUNT(*) AS c FROM lineitem WHERE l_shipdate "
            "BETWEEN DATE '1994-01-01' AND DATE '1995-12-31'"
        ).collect()[0]["c"]
        / n
    )
    assert est_bt / true_bt < 2.0 and true_bt / est_bt < 2.0, (est_bt, true_bt)
    # YEAR(col) = k desugars to the half-open date range (strict upper
    # bound, correct for timestamps' intra-day mass on Dec 31)
    yq = "SELECT SUM(l_extendedprice) AS s FROM lineitem WHERE YEAR(l_shipdate) = 1995"
    est_y = estimate_selectivity(parse(yq), eng.catalog)
    true_y = (
        spark.sql(
            "SELECT COUNT(*) AS c FROM lineitem WHERE YEAR(l_shipdate) = 1995"
        ).collect()[0]["c"]
        / n
    )
    assert est_y != WHERE_SELECTIVITY_DEFAULT
    assert est_y / true_y < 2.0 and true_y / est_y < 2.0, (est_y, true_y)
    # a genuine DateType column follows the same path (datediff branch)
    spark.table("lineitem").selectExpr(
        "CAST(l_shipdate AS DATE) AS d", "l_extendedprice"
    ).createOrReplaceTempView("li_dated")
    eng.analyze_table("li_dated", ["d"])
    parsed = parse(
        "SELECT SUM(l_extendedprice) AS s FROM li_dated "
        "WHERE d <= DATE '1995-06-17'"
    )
    est_date = estimate_selectivity(parsed, eng.catalog)
    assert est_date == pytest.approx(sel("1995-06-17"), rel=0.05)


def test_date_filter_pushes_into_sample_scan(spark, above_size_line):
    """Plan-shape tripwire for the date-predicate AQP path: the rewritten
    sample query must keep the user's DATE filter AT THE SCAN of the
    sample parquet (PushedFilters), not in a post-scan Filter — at 100 TB
    with date-partitioned data this is the difference between reading a
    partition and reading the lake. The sample is built above the
    served-state size line: small samples are served from an in-memory
    copy instead (tests/test_served_state.py)."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_datepush_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.analyze_table("lineitem", ["l_shipdate"])
    with above_size_line():
        eng.create_sample("lineitem", 0.1, seed=7)
    plan = eng.planner.plan(
        # compute-bound aggregate so the sample path is the chosen plan
        # (a bare one-column SUM is scan-bound and correctly stays exact)
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS s FROM lineitem "
        "WHERE l_shipdate <= DATE '1995-06-17'",
        max_rel_error=0.1,
    )
    assert plan["type"] == "sample", plan["reason"]
    phys = (
        spark.sql(plan["sql"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"FileScan parquet[^\n]*", phys)
    assert m, phys
    scan_line = m.group(0)
    assert "isnotnull(l_shipdate" in scan_line and "l_shipdate" in scan_line, (
        scan_line
    )
    assert re.search(r"DataFilters: \[[^\]]*l_shipdate[^\]]*<=", scan_line), (
        scan_line
    )


def test_string_equality_selectivity(spark):
    """analyze_table learns ndv AND most-common values for string
    columns; ``col = 'lit'`` then plans at the value's TRUE mass (exact
    up to approx_top_k counting), at remaining-mass/remaining-ndv on an
    MCV miss, and the skewed case prices a 90% heavy hitter at ~0.9
    where 1/ndv would say 1/11."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import (
        WHERE_SELECTIVITY_DEFAULT,
        estimate_selectivity,
    )
    from approximate_query_engine_spark.sqlparser import parse

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_strsel_"),
        data_dir="/root/testdata/sf0.001",
    )
    parsed = parse(
        "SELECT COUNT(*) AS c FROM orders WHERE o_orderstatus = 'F'"
    )
    assert estimate_selectivity(parsed, eng.catalog) == WHERE_SELECTIVITY_DEFAULT
    eng.analyze_table("orders", ["o_orderstatus"])
    ndv = eng.catalog.get_column_ndv("orders", "o_orderstatus")
    assert ndv and 1 <= ndv <= 5  # tiny domain: approx_count_distinct is exact
    from pyspark.sql import functions as F

    df = spark.table("orders")
    n = df.count()
    for status in ("F", "P"):
        true_frac = df.filter(F.col("o_orderstatus") == status).count() / n
        est = estimate_selectivity(
            parse(
                "SELECT COUNT(*) AS c FROM orders "
                f"WHERE o_orderstatus = '{status}'"
            ),
            eng.catalog,
        )
        # exact up to approx_top_k counting (exact at this ndv), floored
        # by the [0.01, 1] clamp
        assert est == pytest.approx(max(true_frac, 0.01), rel=0.02), status
    # a value missing from the data prices at the remaining-mass floor,
    # never at 1/ndv
    est_miss = estimate_selectivity(
        parse("SELECT COUNT(*) AS c FROM orders WHERE o_orderstatus = 'Z'"),
        eng.catalog,
    )
    assert est_miss <= 0.01 + 1e-9
    # genuinely skewed: 90% 'hot', 1% each of 10 cold values — the MCV
    # prices the head at its true mass, and a cold value at ~1% via the
    # remaining-mass spread, where flat 1/ndv would say 9% for both
    rows = [
        ("hot" if i % 100 < 90 else f"cold{i % 10}",) for i in range(10_000)
    ]
    spark.createDataFrame(rows, "s string").createOrReplaceTempView("skew_s")
    eng.analyze_table("skew_s", ["s"])
    est_hot = estimate_selectivity(
        parse("SELECT COUNT(*) AS c FROM skew_s WHERE s = 'hot'"),
        eng.catalog,
    )
    assert est_hot == pytest.approx(0.9, rel=0.05), est_hot
    # string RANGE comparison has no stats model: whole-clause default
    parsed_rng = parse(
        "SELECT COUNT(*) AS c FROM orders WHERE o_orderstatus > 'A'"
    )
    assert (
        estimate_selectivity(parsed_rng, eng.catalog)
        == WHERE_SELECTIVITY_DEFAULT
    )


def test_histogram_selectivity_on_zipf(spark):
    """VERDICT r04 instruction 4's done-condition: on a Zipf column where
    uniform min/max interpolation is off by >5x, the histogram-backed
    estimate lands within 2x of the true selectivity."""
    import tempfile

    import numpy as np

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import estimate_selectivity
    from approximate_query_engine_spark.sqlparser import parse

    rng = np.random.default_rng(7)
    vals = np.minimum(rng.zipf(1.5, 20_000), 5000).astype(float)
    spark.createDataFrame(
        [(float(v),) for v in vals], "v double"
    ).createOrReplaceTempView("zipf_t")
    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_zipf_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.analyze_table("zipf_t", ["v"])
    lo, hi = eng.catalog.get_column_minmax("zipf_t", "v")
    cutoff = 3.0
    true_sel = float((vals <= cutoff).mean())
    uniform = (cutoff - lo) / (hi - lo)
    assert true_sel / uniform > 5.0, "premise: uniform must be badly off"
    est = estimate_selectivity(
        parse(f"SELECT COUNT(*) AS c FROM zipf_t WHERE v <= {cutoff}"),
        eng.catalog,
    )
    assert est / true_sel < 2.0 and true_sel / est < 2.0, (est, true_sel)
    # EQUALITY on the heaviest hitter: the CDF's point mass at v=1 (the
    # Zipf head, ~60% of rows) prices it honestly — 1/ndv would be off by
    # orders of magnitude
    true_eq = float((vals == 1.0).mean())
    est_eq = estimate_selectivity(
        parse("SELECT COUNT(*) AS c FROM zipf_t WHERE v = 1"), eng.catalog
    )
    assert est_eq / true_eq < 2.0 and true_eq / est_eq < 2.0, (est_eq, true_eq)


def test_null_inlist_isnull_selectivity(spark):
    """analyze_table learns the per-column null fraction in the same
    one-pass scan; the estimator then (a) prices IS [NOT] NULL directly,
    (b) discounts every comparison by (1 - null_frac) — comparisons never
    match NULLs, (c) sums deduped point masses for literal IN-lists, and
    (d) prices != as the equality complement."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import (
        WHERE_SELECTIVITY_DEFAULT,
        estimate_selectivity,
    )
    from approximate_query_engine_spark.sqlparser import parse

    # deterministic: 30% NULL, the rest uniform over {4..10} (10% each)
    rows = [
        (i, None if i % 10 < 3 else float(i % 10 + 1)) for i in range(10_000)
    ]
    spark.createDataFrame(rows, "id long, v double").createOrReplaceTempView(
        "nullable_t"
    )
    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_nullsel_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.analyze_table("nullable_t", ["v"])
    assert eng.catalog.get_column_null_frac(
        "nullable_t", "v"
    ) == pytest.approx(0.3)

    def est(w):
        return estimate_selectivity(
            parse(f"SELECT COUNT(*) AS c FROM nullable_t WHERE {w}"),
            eng.catalog,
        )

    assert est("v IS NULL") == pytest.approx(0.3)
    assert est("v IS NOT NULL") == pytest.approx(0.7)
    # range discounted by the null mass: P(v <= 6) = 30% of rows (4,5,6)
    assert est("v <= 6") == pytest.approx(0.3, rel=0.15)
    # equality: point mass (10% of non-null) x (1 - null_frac); the
    # equi-depth CDF quantizes point masses to 1/bins steps, so hold the
    # histogram promise (within 2x of truth), not exactness
    e = est("v = 5")
    assert 0.07 / 2 < e < 0.07 * 2, e
    # IN-list: sum of deduped point masses (5 repeated must not double)
    assert est("v IN (4, 5, 5)") == pytest.approx(2 * e, rel=1e-9)
    # != : complement of the point mass, still excluding NULLs
    assert est("v != 5") == pytest.approx(0.7 - e, rel=1e-9)
    assert est("v <> 5") == pytest.approx(0.7 - e, rel=1e-9)
    # equality + range on the SAME column discount the null mass ONCE:
    # v <= 10 covers all non-null mass, so the conjunction equals the
    # equality estimate exactly (a second (1-nf) factor would give 0.7e)
    assert est("v = 5 AND v <= 10") == pytest.approx(e, rel=1e-9)
    # outside the grammar -> whole-clause default, never a wrong guess
    assert est("v NOT IN (4, 5)") == WHERE_SELECTIVITY_DEFAULT
    assert (
        est("v IN (SELECT v FROM nullable_t)") == WHERE_SELECTIVITY_DEFAULT
    )
    # numeric columns get an ndv too: equality on a high-cardinality
    # column (no point mass at the literal) prices at ~1/ndv -> the 0.01
    # clamp floor, far below the flat 0.3 default
    eng.analyze_table("nullable_t", ["id"])
    ndv = eng.catalog.get_column_ndv("nullable_t", "id")
    assert ndv and ndv == pytest.approx(10_000, rel=0.1)
    assert est("id = 500") == 0.01 != WHERE_SELECTIVITY_DEFAULT


def test_selectivity_resolves_join_aliases(spark):
    """In a join query the predicate's alias decides WHICH table's stats
    apply — l.l_quantity must read lineitem's range even though the parse
    carries several tables."""
    import tempfile

    from approximate_query_engine_spark import AQEngine
    from approximate_query_engine_spark.planner import (
        WHERE_SELECTIVITY_DEFAULT,
        estimate_selectivity,
    )
    from approximate_query_engine_spark.sqlparser import parse_join

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_jsel_"),
        data_dir="/root/testdata/sf0.001",
    )
    from approximate_query_engine_spark.planner import histogram_fraction_leq

    eng.analyze_table("lineitem", ["l_quantity"])
    hist = eng.catalog.get_column_histogram("lineitem", "l_quantity")
    jq = parse_join(
        "SELECT o.o_orderpriority, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_quantity < 25 GROUP BY o.o_orderpriority"
    )
    got = estimate_selectivity(jq, eng.catalog)
    assert got == pytest.approx(
        histogram_fraction_leq(hist, 25.0, inclusive=False)
    )
    # un-analyzed table through a different alias: default
    jq2 = parse_join(
        "SELECT o.o_orderpriority, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_totalprice < 1000 GROUP BY o.o_orderpriority"
    )
    assert estimate_selectivity(jq2, eng.catalog) == WHERE_SELECTIVITY_DEFAULT


def test_speedup_correction_from_history(spark):
    """Round 9 (VERDICT r8 #4): estimated_speedup is calibrated by the
    geometric mean of actual/predicted ratios from dual-executed
    history, keyed by (strategy, grouped-vs-scalar shape) — the cost
    model's ~2x over-promise on sample plans shrinks to what dual
    execution measured, while an unseen shape stays neutral."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_calib_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.create_sample("lineitem", 0.1, seed=7)
    scalar_sql = (
        "SELECT SUM(l_extendedprice * (1 - l_discount)) AS rev "
        "FROM lineitem WHERE l_quantity > 10"
    )
    base = eng.optimizer.optimize_query(scalar_sql, 0.1)
    assert base["strategy"] == "sample", base
    raw = base["estimated_speedup"]
    assert raw > 1.0
    # dual execution measured HALF the promise, four times running
    for _ in range(4):
        eng.optimizer.record_outcome(
            scalar_sql,
            {"table_size": 6000, "has_group_by": False},
            "sample",
            actual_speedup=raw / 2,
            actual_error=0.01,
            predicted_speedup=raw,
            predicted_error=0.05,
            execution_time_ms=5.0,
            error_tolerance=0.1,
        )
    assert eng.optimizer._speedup_correction(
        "sample", False
    ) == pytest.approx(0.5, rel=1e-6)
    # the grouped shape has no history: calibrates independently
    assert eng.optimizer._speedup_correction("sample", True) == 1.0
    calibrated = eng.optimizer.optimize_query(scalar_sql, 0.1)
    assert calibrated["strategy"] == "sample", calibrated
    assert calibrated["estimated_speedup"] == pytest.approx(
        raw / 2, rel=0.05
    )
    # degenerate measurements clamp instead of zeroing the estimate
    eng.optimizer.record_outcome(
        scalar_sql,
        {"table_size": 6000, "has_group_by": False},
        "sample",
        actual_speedup=1e-6,
        actual_error=0.01,
        predicted_speedup=raw,
        predicted_error=0.05,
        execution_time_ms=5.0,
        error_tolerance=0.1,
    )
    assert eng.optimizer._speedup_correction("sample", False) >= 0.2


def test_speedup_correction_work_regression(spark):
    """With history spanning two per-row-work values, the correction is
    a log-linear fit in work — a light aggregate gets the floor-bound
    ratio, a heavy one the full promise, and intermediate work
    interpolates between them instead of averaging."""
    import math
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_calibw_"),
        data_dir="/root/testdata/sf0.001",
    )

    def rec(work, ratio, n=2):
        for _ in range(n):
            eng.optimizer.record_outcome(
                "q",
                {
                    "table_size": 6000,
                    "has_group_by": False,
                    "raw_est_speedup": 4.0,
                    "per_row_work": work,
                },
                "sample",
                actual_speedup=4.0 * ratio,
                actual_error=0.01,
                predicted_speedup=4.0,
                predicted_error=0.05,
                execution_time_ms=5.0,
                error_tolerance=0.1,
            )

    rec(0.6, 0.3)
    rec(1.5, 1.0)
    c = eng.optimizer._speedup_correction
    assert c("sample", False, 0.6) == pytest.approx(0.3, rel=1e-6)
    assert c("sample", False, 1.5) == pytest.approx(1.0, rel=1e-6)
    mid = c("sample", False, 1.05)
    assert mid == pytest.approx(math.sqrt(0.3 * 1.0), rel=1e-6)
    # round 10 (VERDICT r9 #3): the fit NEVER extrapolates beyond the
    # observed work span — outside it the slope is unvalidated, so the
    # nearest endpoint's median ratio answers instead of a wild
    # slope-amplified correction
    assert c("sample", False, 10.0) == pytest.approx(1.0, rel=1e-6)
    assert c("sample", False, -5.0) == pytest.approx(0.3, rel=1e-6)
    # without a work value: geometric mean of the cell
    assert c("sample", False) == pytest.approx(
        math.sqrt(0.3 * 1.0), rel=1e-6
    )


def test_join_estimates_calibrate_in_their_own_cell(spark):
    """Round 9: the join-AQP branch calibrates too, in a SEPARATE
    (is_join) cell — join outcomes never tilt single-table corrections
    and vice versa."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_calibj_"),
        data_dir="/root/testdata/sf0.001",
    )
    eng.planner.table_row_count("lineitem")
    eng.planner.table_row_count("orders")
    eng.create_sample("lineitem", 0.1, seed=7)
    jsql = (
        "SELECT o.o_orderstatus, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderstatus"
    )
    base = eng.optimizer.optimize_query(jsql, 0.1)
    assert base["strategy"] == "sample", base
    f = base["features"]
    assert f["is_join"] is True and f["per_row_work"] > 0
    raw = f["raw_est_speedup"]
    # join history at half the promise calibrates the join cell...
    for _ in range(4):
        eng.optimizer.record_outcome(
            jsql,
            {
                "table_size": 6000,
                "has_group_by": True,
                "is_join": True,
                "raw_est_speedup": raw,
                "per_row_work": f["per_row_work"],
            },
            "sample",
            actual_speedup=raw / 2,
            actual_error=0.01,
            predicted_speedup=raw,
            predicted_error=0.05,
            execution_time_ms=5.0,
            error_tolerance=0.1,
        )
    calibrated = eng.optimizer.optimize_query(jsql, 0.1)
    assert calibrated["estimated_speedup"] == pytest.approx(
        raw / 2, rel=0.05
    )
    # ...and leaves the single-table grouped cell untouched
    assert eng.optimizer._speedup_correction("sample", True) == 1.0


def test_speedup_correction_local_history_beats_the_line(spark):
    """Round 10: the regression generalizes to UNSEEN work values; at a
    work point with >=3 of its own observations the local recent median
    answers — a point whose ratio sits off the global trend must not
    inherit the line's bias forever."""
    import tempfile

    from approximate_query_engine_spark import AQEngine

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_caliblocal_"),
        data_dir="/root/testdata/sf0.001",
    )

    def rec(work, ratio, n):
        for _ in range(n):
            eng.optimizer.record_outcome(
                "q",
                {
                    "table_size": 6000,
                    "has_group_by": False,
                    "raw_est_speedup": 4.0,
                    "per_row_work": work,
                },
                "sample",
                actual_speedup=4.0 * ratio,
                actual_error=0.01,
                predicted_speedup=4.0,
                predicted_error=0.05,
                execution_time_ms=5.0,
                error_tolerance=0.1,
            )

    rec(0.5, 0.2, 2)
    rec(2.0, 1.0, 2)
    # the line through (0.5, 0.2) and (2.0, 1.0) predicts ~0.43 at
    # w=1.0; this query's OWN repeated measurements say 0.7
    rec(1.0, 0.7, 3)
    c = eng.optimizer._speedup_correction
    assert c("sample", False, 1.0) == pytest.approx(0.7, rel=1e-6)
    # unseen work still generalizes from the fit, not the local point
    assert 0.2 <= c("sample", False, 0.75) <= 0.7
