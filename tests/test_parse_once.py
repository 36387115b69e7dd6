"""``engine.query`` parses each query once and hands that parse to every
router, advisor recorder and the planner or ML optimizer. The three
parser entry points are wrapped with counters (the ``try_*`` helpers call
them through module globals, so the wrappers see every call); each may
run at most once per query on every path."""

import tempfile

import pytest
from conftest import SF_SMOKE

from approximate_query_engine_spark import AQEngine, sqlparser

PANEL = ("SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM events "
         "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
         "AND ts < TIMESTAMP '2024-01-04 00:00:00' GROUP BY event_type")
SAMPLED = "SELECT SUM(l_quantity) AS s FROM lineitem"
JOIN = ("SELECT o.o_orderstatus, COUNT(*) AS n FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderstatus")
OVERLAP = ("SELECT COUNT(DISTINCT a.user_id) AS oc FROM events a "
           "JOIN events b ON a.user_id = b.user_id "
           "WHERE a.event_type = 'click' AND b.event_type = 'view'")
OUT_OF_GRAMMAR = "SELECT COUNT(*) AS n FROM (SELECT * FROM lineitem) t"


@pytest.fixture(scope="module")
def eng(spark):
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_parse_"),
                 data_dir=SF_SMOKE)
    e.create_sample("lineitem", 0.2, seed=7)
    e.planner.table_row_count("orders")
    e.create_rollup("events", "ts", "1 hour", dims=["event_type"],
                    measures=["value"])
    assert not e.catalog.partitioned_views
    return e


@pytest.fixture
def parse_calls(monkeypatch):
    calls = {"parse": 0, "parse_join": 0, "parse_overlap": 0}
    for name in calls:
        def counted(sql, _fn=getattr(sqlparser, name), _name=name):
            calls[_name] += 1
            return _fn(sql)

        monkeypatch.setattr(sqlparser, name, counted)
    return calls


@pytest.mark.parametrize(
    "sql, kw, plan_check",
    [
        (SAMPLED, {"max_rel_error": 0.3}, lambda p: p["type"] == "sample"),
        (PANEL, {}, lambda p: "materialized rollup" in p["reason"]),
        (SAMPLED, {"use_ml_optimization": True, "max_rel_error": 0.3},
         lambda p: True),
        (JOIN, {"max_rel_error": 0.3}, lambda p: True),
        (OVERLAP, {}, lambda p: p["type"] == "exact"),
        (OUT_OF_GRAMMAR, {}, lambda p: p["type"] == "exact"),
        (OUT_OF_GRAMMAR, {"use_ml_optimization": True},
         lambda p: p["type"] == "exact"),
    ],
    ids=["sampled", "rollup", "ml", "star_join", "overlap",
         "out_of_grammar", "out_of_grammar_ml"],
)
def test_each_parser_runs_at_most_once_per_query(eng, parse_calls, sql, kw,
                                                 plan_check):
    r = eng.query(sql, dual_execute=False, **kw)
    assert r["status"] == "ok", r.get("error")
    assert plan_check(r["plan"]), r["plan"]
    assert all(n <= 1 for n in parse_calls.values()), parse_calls
