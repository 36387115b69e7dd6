"""Round-9 review fixes (VERDICT r8 orders #5/#7 + ADVICE items).

1. Midnight-aligned upper time bounds prune TIGHT: a strict
   ``bucket_start < B`` condition must not list B's own (fully
   filtered) day directory — measured files_read evidence, not just
   plan text.
2. apply_layout_advice declines an unknown grain loudly (naming it)
   instead of silently estimating at DAY granularity.
3. is_week_bucket guards on SECONDS: '7 days' / '168 hours' have the
   identical epoch-alignment problem as '1 week'.
4. POST /maintenance/run returns the JSON error envelope (400) for
   non-numeric budget params instead of an uncaught 500.
"""

import tempfile
from datetime import datetime, timezone

import pytest

from approximate_query_engine_spark import AQEngine

SF_SMOKE = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- 1
def test_upper_prune_unit_boundaries():
    from approximate_query_engine_spark.operators.rollup import (
        _ts_conjunct_bounds,
    )

    def prune_dates(sc):
        tb = _ts_conjunct_bounds(sc, "ts", 3600)
        assert tb is not None, sc
        return [
            (op, dt.strftime("%Y-%m-%d")) for op, dt in tb[1]
        ]

    # midnight-aligned strict upper: the bound's own day is all
    # filtered out by bucket_start < — must not be listed
    assert prune_dates("ts < TIMESTAMP '2024-01-08 00:00:00'") == [
        ("<=", "2024-01-07")
    ]
    # intra-day strict upper: the bound's day still holds live buckets
    assert prune_dates("ts < TIMESTAMP '2024-01-08 06:00:00'") == [
        ("<=", "2024-01-08")
    ]
    # inclusive-end dashboard idiom == strict < next midnight
    assert prune_dates(
        "ts <= TIMESTAMP '2024-01-07 23:59:59.999999'"
    ) == [("<=", "2024-01-07")]
    # DATE_TRUNC('DAY', ts) <= D covers rows through end of D only
    assert prune_dates(
        "DATE_TRUNC('DAY', ts) <= TIMESTAMP '2024-01-07 00:00:00'"
    ) == [("<=", "2024-01-07")]
    # equality on a day covers exactly that day
    assert prune_dates(
        "DATE_TRUNC('DAY', ts) = TIMESTAMP '2024-01-07 00:00:00'"
    ) == [(">=", "2024-01-07"), ("<=", "2024-01-07")]
    # lower bounds unchanged
    assert prune_dates("ts >= TIMESTAMP '2024-01-03 00:00:00'") == [
        (">=", "2024-01-03")
    ]


def test_midnight_upper_prune_reads_fewer_files(spark, above_size_line):
    """files_read evidence on the routed STATE scan: the tightened
    p_date upper bound skips the bound day's directory entirely. Built
    above the served-state size line, so the state is the file scan whose
    files are counted (small state is served from an in-memory copy:
    tests/test_served_state.py)."""
    from approximate_query_engine_spark.operators.partitioning import (
        scan_metrics,
    )

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_prune5_"),
        data_dir=SF_SMOKE,
    )
    with above_size_line():
        eng.create_rollup(
            "events", "ts", "1 hour", dims=["event_type"], measures=["value"]
        )
    sql = (
        "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-05 00:00:00' "
        "GROUP BY event_type ORDER BY event_type"
    )
    r = eng.query(sql)
    assert r["status"] == "ok", r.get("error")
    assert "rollup" in r["plan"]["reason"], r["plan"]
    routed = r["plan"]["sql"]
    assert "p_date <= '2024-01-04'" in routed, routed
    assert "p_date <= '2024-01-05'" not in routed
    # measured: loosening the prune back to the bound day reads MORE
    # files for the identical answer — the directory the fix skips
    tight = scan_metrics(spark.sql(routed))
    loose = scan_metrics(
        spark.sql(
            routed.replace("p_date <= '2024-01-04'", "p_date <= '2024-01-05'")
        )
    )
    assert 0 < tight["files_read"] < loose["files_read"]
    # and the routed answer still matches the raw scan bit-for-bit
    raw = [tuple(x) for x in eng.spark.sql(sql).collect()]
    got = [
        (d["event_type"], int(d["n"]), float(d["sv"]))
        for d in r["result"]
    ]
    assert [(a, b, pytest.approx(c)) for a, b, c in raw] == got


# ---------------------------------------------------------------- 2
def test_layout_advice_declines_unknown_grain(spark):
    import json

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_grain5_"),
        data_dir=SF_SMOKE,
    )
    spec = {"table": "events", "ts_col": "ts", "grain": "fortnight"}
    eng.catalog.layout_candidates[json.dumps(spec, sort_keys=True)] = {
        **spec,
        "count": 5,
    }
    out = eng.apply_layout_advice()
    assert out and out[0]["applied"] is False, out
    # the decline record names the unsupported grain — no silent DAY
    # estimate, no build
    assert "fortnight" in out[0]["reason"], out[0]
    assert not eng.catalog.partitioned_views.get("events")


# ---------------------------------------------------------------- 3
def test_week_length_buckets_refused_any_spelling(spark):
    from approximate_query_engine_spark.operators.rollup import (
        is_week_bucket,
    )

    assert is_week_bucket("1 week")
    assert is_week_bucket("7 days")
    assert is_week_bucket("168 hours")
    assert is_week_bucket("604800 seconds")
    assert is_week_bucket("14 days")  # 2 weeks by another name
    assert not is_week_bucket("1 day")
    assert not is_week_bucket("6 days")
    assert not is_week_bucket("167 hours")

    eng = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_week5_"),
        data_dir=SF_SMOKE,
    )
    with pytest.raises(ValueError, match="week-grain"):
        eng.create_rollup("events", "ts", "7 days")
    with pytest.raises(ValueError, match="week-grain"):
        eng.create_rollup("events", "ts", "168 hours")


# ---------------------------------------------------------------- 4
def test_maintenance_run_bad_budget_is_json_400(engine):
    flask = pytest.importorskip("flask")  # noqa: F841
    from approximate_query_engine_spark.api import create_app

    app = create_app(engine)
    app.config["TESTING"] = True
    client = app.test_client()
    r = client.post(
        "/maintenance/run", json={"advice_max_apply": "all of them"}
    )
    assert r.status_code == 400
    body = r.get_json()
    assert body["status"] == "error" and "all of them" in body["error"]
    # sibling budget params share the guard
    r = client.post(
        "/maintenance/run", json={"advice_max_state_rows": "unbounded"}
    )
    assert r.status_code == 400 and r.get_json()["status"] == "error"
