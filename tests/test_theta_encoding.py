"""Round-15 v2 theta key encoding: native-keyed sketches (no
CAST..AS STRING) must be value-identical to v1 in the exact regime, a
layout must never mix encodings, and maintenance migrates v1 layouts to
v2 under the advised-action budget with unchanged routed answers."""

import tempfile

import pytest
from pyspark.sql import functions as F

from approximate_query_engine_spark import AQEngine
from approximate_query_engine_spark.operators.rollup import (
    RollupSpec,
    can_derive_rollup,
)
from approximate_query_engine_spark.sketches import segment_overlap

SF = "/root/testdata/sf0.001"


def _exact_overlap(spark):
    """Ground truth: distinct-pair self-join over events."""
    seg = (
        spark.table("events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.col("event_type").cast("string").alias("s"),
            F.col("user_id").alias("u"),
        )
        .distinct()
    )
    a = seg.selectExpr("s AS seg_a", "u")
    b = seg.selectExpr("s AS seg_b", "u AS u2")
    pairs = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.col("seg_a") < F.col("seg_b")))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("overlap_cnt"))
    )
    card = {r["s"]: r["c"] for r in seg.groupBy("s").agg(F.countDistinct("u").alias("c")).collect()}
    return {
        (r["seg_a"], r["seg_b"]): (
            card[r["seg_a"]],
            card[r["seg_b"]],
            r["overlap_cnt"],
            card[r["seg_a"]] + card[r["seg_b"]] - r["overlap_cnt"],
        )
        for r in pairs.collect()
    }


def _rows(df):
    return {
        (r["seg_a"], r["seg_b"]): (
            r["distinct_a"], r["distinct_b"], r["overlap_cnt"], r["union_cnt"]
        )
        for r in df.drop("jaccard").collect()
    }


def test_native_keys_exact_regime_matches_v1_and_truth(spark, engine):
    """events.user_id ndv is far under 2^12 at sf0.001 — both encodings
    are in the theta EXACT regime, so both must equal the distinct-pair
    ground truth (and therefore each other)."""
    want = _exact_overlap(spark)
    v1 = _rows(segment_overlap(spark.table("events"), "event_type", "user_id"))
    v2 = _rows(
        segment_overlap(
            spark.table("events"), "event_type", "user_id", native_keys=True
        )
    )
    assert v1 == want
    assert v2 == want


def test_native_rollup_routes_with_identical_answers(spark, engine):
    eng = AQEngine(
        spark, workdir=tempfile.mkdtemp(prefix="aqe_theta_"), data_dir=SF
    )
    eng.create_rollup(
        "events", "ts", "1 hour",
        dims=["event_type"], theta_cols=["user_id"], theta_key_native=True,
    )
    info = eng.catalog.rollups["events"][0]
    assert info["theta_key_native"] is True
    r = eng.segment_overlap("events", "event_type", "user_id")
    assert r["source"] == "rollup_state", r.get("reason")
    assert _rows(r["df"]) == _exact_overlap(spark)


def test_maintenance_migrates_v1_layout_under_budget(spark, engine):
    eng = AQEngine(
        spark, workdir=tempfile.mkdtemp(prefix="aqe_theta_mig_"), data_dir=SF
    )
    eng.create_rollup(
        "events", "ts", "1 hour",
        dims=["event_type"], theta_cols=["user_id"], theta_key_native=False,
    )
    assert not eng.catalog.rollups["events"][0].get("theta_key_native")
    before = _rows(eng.segment_overlap("events", "event_type", "user_id")["df"])
    # dry run: advised, not applied
    rep = eng.maintain(refresh_stats=False, dry_run=True)
    advised = [
        a for a in rep["refreshed"] if a.get("kind") == "theta_key_encoding"
    ]
    assert advised and advised[0]["view"] == "events__rollup_1_hour"
    assert not eng.catalog.rollups["events"][0].get("theta_key_native")
    # apply under budget: migrated, marker flipped, answers unchanged
    rep = eng.maintain(refresh_stats=False, apply_advice=True)
    applied = [
        a for a in rep["refreshed"] if a.get("kind") == "theta_key_encoding"
    ]
    assert applied and applied[0].get("migrated") is True
    info = next(
        e
        for e in eng.catalog.rollups["events"]
        if e["view"] == "events__rollup_1_hour"
    )
    assert info["theta_key_native"] is True
    r = eng.segment_overlap("events", "event_type", "user_id")
    assert r["source"] == "rollup_state"
    assert _rows(r["df"]) == before
    # idempotent: a second sweep advises nothing
    rep = eng.maintain(refresh_stats=False, dry_run=True)
    assert not [
        a for a in rep["refreshed"] if a.get("kind") == "theta_key_encoding"
    ]


def test_string_keyed_v1_layout_gets_no_migration_advice(spark, engine):
    """For a string theta column CAST(key AS STRING) is the identity, so
    the v1 and v2 encodings hash the same bytes: a migration rebuild
    would gain nothing, and maintenance does not advise one."""
    spark.table("events").selectExpr(
        "ts", "event_type", "CAST(user_id AS STRING) AS uid"
    ).createOrReplaceTempView("events_str_uid")
    eng = AQEngine(
        spark, workdir=tempfile.mkdtemp(prefix="aqe_theta_str_"), data_dir=SF
    )
    eng.create_rollup(
        "events_str_uid", "ts", "1 hour",
        dims=["event_type"], theta_cols=["uid"], theta_key_native=False,
    )
    assert not eng.catalog.rollups["events_str_uid"][0].get("theta_key_native")
    for kw in ({"dry_run": True}, {"apply_advice": True}):
        rep = eng.maintain(refresh_stats=False, **kw)
        assert not [
            a for a in rep["refreshed"]
            if a.get("kind") == "theta_key_encoding"
        ], rep


def test_native_refused_for_unhashable_key_type(spark, engine):
    eng = AQEngine(
        spark, workdir=tempfile.mkdtemp(prefix="aqe_theta_bad_"), data_dir=SF
    )
    with pytest.raises(ValueError, match="natively hashable"):
        eng.create_rollup(
            "events", "ts", "1 hour",
            dims=["event_type"], theta_cols=["ts"], theta_key_native=True,
        )


def test_derive_blocks_mixed_encodings(spark):
    fine = RollupSpec(
        "events", "ts", "1 hour", ["event_type"], [],
        theta_cols=["user_id"], theta_key_native=True,
    )
    coarse = RollupSpec(
        "events", "ts", "1 day", ["event_type"], [],
        theta_cols=["user_id"], theta_key_native=False,
    )
    reason = can_derive_rollup(fine, coarse)
    assert reason and "theta_key_native" in reason
