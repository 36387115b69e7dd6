"""Versioned writes (versions.py): every full materialization writes a
new ``<root>/v<n>`` directory, and the live version keeps serving until
the new one is written, served and cataloged.

One crash test per full-write kind. The ``failing_writes`` fixture
(conftest.py) makes the write stage's Spark job raise. After the failure
the catalog entry is unchanged, the old version reads back with its old
rows, no partial version is left on disk, and an engine on a new Spark
session over the same workdir answers as before. Disarmed, a retry
converges and leaves only the versions the grace rule allows: just the
new one when it is served from an in-memory copy, plus the previous one
otherwise. The dynamic-overwrite tail refreshes stay in place and are
crash-safe on their own."""

import copy
import datetime
import os
import tempfile

import pytest
from conftest import SF_SMOKE as SF

from approximate_query_engine_spark import AQEngine
from approximate_query_engine_spark.catalog import Catalog
from approximate_query_engine_spark.versions import split_version

BASE = datetime.datetime(2024, 4, 1)
SCHEMA = "ts timestamp, event_type string, value double, user_id int"
ROUTED = (
    "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM {t} "
    "WHERE ts >= TIMESTAMP '2024-04-01 00:00:00' "
    "GROUP BY event_type ORDER BY event_type"
)


def _rows(days=4, start=BASE):
    return [
        (start + datetime.timedelta(days=d, hours=h), "ab"[h % 2],
         float(d * 10 + h), d * 24 + h)
        for d in range(days)
        for h in range(24)
    ]


def _show(spark, name, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    df.createOrReplaceTempView(name)
    return df


def _engine(spark, name, rows):
    _show(spark, name, rows)
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_vw_"))
    e.catalog.upsert_table_stats(name, len(rows))
    return e


def _rollup(e, table, bucket="1 hour", **kw):
    return e.create_rollup(table, "ts", bucket, dims=["event_type"],
                           measures=["value"], **kw)


def _entry(e, table, view=None):
    entries = e.catalog.rollups[table]
    return next(x for x in entries if view is None or x["view"] == view)


def _snap(df, drop=()):
    return sorted(map(tuple, df.drop(*drop).collect()), key=str)


def _versions(path):
    """The version directories under ``path``'s artifact root."""
    return sorted(os.listdir(split_version(path)[0]))


def _new_session_engine(spark, e, name=None, rows=None):
    """An engine on a new Spark session over ``e``'s workdir, with the
    source view re-registered there (temp views are session-scoped)."""
    new = spark.newSession()
    if name is not None:
        _show(new, name, rows)
    return AQEngine(new, workdir=e.catalog.workdir)


def _assert_untouched(e, before, saved_key, old_rows, old_path, reread):
    """The catalog entry (in memory and on disk) is unchanged, the old
    version reads back with its old rows and nothing else is on disk."""
    assert saved_key(e.catalog) == before
    assert saved_key(Catalog(e.catalog.workdir)) == before
    assert reread(old_path) == old_rows
    assert _versions(old_path) == [os.path.basename(old_path)]


# ------------------------------------------------------------ rollups
def _rollup_crash(spark, failing_writes, e, table, rows, fail, view=None,
                  routed=True):
    """Shared body of the rollup crash tests: ``fail()`` runs a full write
    of the rollup under ``failing_writes`` and must leave it untouched.
    Returns the entry as it was before."""
    info = _entry(e, table, view)
    before = copy.deepcopy(info)
    old_rows = _snap(spark.read.parquet(info["path"]))
    sql = ROUTED.format(t=table)
    want = e.query(sql)
    with failing_writes():
        fail()
    _assert_untouched(
        e, before, lambda c: _entry_of(c, table, info["view"]), old_rows,
        info["path"], lambda p: _snap(spark.read.parquet(p)),
    )
    got = e.query(sql)
    assert got["result"] == want["result"]
    e2 = _new_session_engine(spark, e, table, rows)
    r = e2.query(sql)
    assert r["status"] == "ok", r.get("error")
    assert r["result"] == want["result"]
    if routed:
        assert "answered from materialized rollup" in r["plan"]["reason"]
    return before


def _entry_of(catalog, table, view):
    return next(x for x in catalog.rollups[table] if x["view"] == view)


def _assert_converged(e, table, old_path, view=None):
    """The retry moved the entry to the next version; the superseded one
    is gone because the new version is served from an in-memory copy."""
    path = _entry(e, table, view)["path"]
    root, n = split_version(path)
    assert root == split_version(old_path)[0]
    assert n == split_version(old_path)[1] + 1
    assert e.served.in_memory(path)
    assert _versions(path) == [f"v{n}"]


def test_rollup_build_crash_keeps_serving_state(spark, failing_writes):
    rows = _rows()
    e = _engine(spark, "vw_roll", rows)
    _rollup(e, "vw_roll")
    info = _rollup_crash(
        spark, failing_writes, e, "vw_roll", rows,
        lambda: pytest.raises(Exception, _rollup, e, "vw_roll"),
    )
    out = _rollup(e, "vw_roll")
    assert out["path"].endswith("/v2")
    _assert_converged(e, "vw_roll", info["path"])


def test_derived_rollup_build_crash_keeps_serving_state(
    spark, failing_writes
):
    rows = _rows()
    e = _engine(spark, "vw_der", rows)
    _rollup(e, "vw_der")
    assert _rollup(e, "vw_der", "1 day")["derived_from"]
    view = "vw_der__rollup_1_day"
    info = _rollup_crash(
        spark, failing_writes, e, "vw_der", rows,
        lambda: pytest.raises(Exception, _rollup, e, "vw_der", "1 day"),
        view=view, routed=False,
    )
    assert _rollup(e, "vw_der", "1 day")["derived_from"]
    _assert_converged(e, "vw_der", info["path"], view)


def test_theta_migration_crash_keeps_v1_state(spark, failing_writes):
    rows = _rows()
    e = _engine(spark, "vw_theta", rows)
    _rollup(e, "vw_theta", theta_cols=["user_id"], theta_key_native=False)

    def migrate():
        rep = e.maintain(refresh_stats=False, apply_advice=True)
        acts = [a for a in rep["refreshed"]
                if a.get("kind") == "theta_key_encoding"]
        assert acts and "error" in acts[0] and not acts[0].get("migrated")

    info = _rollup_crash(spark, failing_writes, e, "vw_theta", rows, migrate)
    assert info["theta_key_native"] is False
    rep = e.maintain(refresh_stats=False, apply_advice=True)
    assert [a for a in rep["refreshed"] if a.get("migrated")], rep
    assert _entry(e, "vw_theta")["theta_key_native"] is True
    _assert_converged(e, "vw_theta", info["path"])


def test_drift_rebuild_crash_keeps_serving_state(spark, failing_writes):
    """A shrunk source refuses the incremental repair, so maintenance
    rebuilds in full; the failed rebuild leaves the old layout whole."""
    rows = _rows()
    e = _engine(spark, "vw_drift", rows)
    _rollup(e, "vw_drift")
    fewer = rows[:-24]
    _show(spark, "vw_drift", fewer)
    e.catalog.upsert_table_stats("vw_drift", len(fewer))

    def rebuild():
        rep = e.maintain(refresh_stats=False)
        assert [x for x in rep["errors"] if "rollup" in x], rep

    info = _rollup_crash(spark, failing_writes, e, "vw_drift", fewer,
                         rebuild, routed=False)
    rep = e.maintain(refresh_stats=False)
    acts = [a for a in rep["refreshed"] if a["kind"] == "rollup"]
    assert acts and acts[0]["mode"] == "rebuild", rep
    assert _entry(e, "vw_drift")["built_row_count"] == len(fewer)
    _assert_converged(e, "vw_drift", info["path"])
    r = e.query(ROUTED.format(t="vw_drift"))
    assert "answered from materialized rollup" in r["plan"]["reason"]


# ------------------------------------------------------------ samples
SAMPLE_SQL = "SELECT COUNT(*) AS n, SUM(value) AS sv FROM vw_samp"


def _sample_crash(spark, failing_writes, fail):
    rows = _rows()
    e = _engine(spark, "vw_samp", rows)
    name = e.create_sample("vw_samp", 0.5, seed=3)["sample_table"]
    info = e.catalog.samples[name]
    before = copy.deepcopy(vars(info))
    old_path = info.path
    old_rows = _snap(spark.read.parquet(old_path))
    want = e.query(SAMPLE_SQL, max_rel_error=0.5)
    assert want["plan"]["type"] == "sample", want["plan"]["reason"]
    with failing_writes():
        with pytest.raises(Exception):
            fail(e, name)
    _assert_untouched(
        e, before, lambda c: vars(c.samples[name]), old_rows, old_path,
        lambda p: _snap(spark.read.parquet(p)),
    )
    e2 = _new_session_engine(spark, e, "vw_samp", rows)
    r = e2.query(SAMPLE_SQL, max_rel_error=0.5)
    assert r["plan"]["type"] == "sample", r["plan"]["reason"]
    assert r["result"] == want["result"]
    return e, name, old_path


def test_sample_build_crash_keeps_serving_state(spark, failing_writes):
    e, name, old = _sample_crash(
        spark, failing_writes,
        lambda e, name: e.create_sample("vw_samp", 0.5, seed=3),
    )
    e.create_sample("vw_samp", 0.5, seed=3)
    new = e.catalog.samples[name].path
    assert split_version(new)[1] == 2 and _versions(new) == ["v2"]
    assert _snap(spark.table(name)) == _snap(spark.read.parquet(new))


def test_refresh_sample_crash_keeps_serving_state(spark, failing_writes):
    e, name, old = _sample_crash(
        spark, failing_writes,
        lambda e, name: e.sampler.refresh_sample(name),
    )
    e.sampler.refresh_sample(name)
    new = e.catalog.samples[name].path
    assert split_version(new)[1] == 2 and _versions(new) == ["v2"]


# ------------------------------------------------------------ layouts
LAYOUT_SQL = ("SELECT COUNT(*) AS n FROM vw_lay "
              "WHERE ts <= TIMESTAMP '2024-04-02 12:00:00'")


def test_partition_table_crash_keeps_serving_state(spark, failing_writes):
    rows = _rows()
    e = _engine(spark, "vw_lay", rows)
    out = e.partition_table("vw_lay", "ts", grain="day")
    info = e.catalog.partitioned_views["vw_lay"]
    before = copy.deepcopy(info)
    old_rows = _snap(spark.read.parquet(out["path"]))
    want = e.query(LAYOUT_SQL)
    assert "routed to" in want["plan"]["reason"], want["plan"]["reason"]
    with failing_writes():
        with pytest.raises(Exception):
            e.partition_table("vw_lay", "ts", grain="day")
    _assert_untouched(
        e, before, lambda c: c.partitioned_views["vw_lay"], old_rows,
        out["path"], lambda p: _snap(spark.read.parquet(p)),
    )
    e2 = _new_session_engine(spark, e, "vw_lay", rows)
    r = e2.query(LAYOUT_SQL)
    assert "routed to" in r["plan"]["reason"], r["plan"]["reason"]
    assert r["result"] == want["result"]
    # a layout is file-scanned: the previous version keeps its grace
    new = e.partition_table("vw_lay", "ts", grain="day")["path"]
    assert _versions(new) == ["v1", "v2"]
    e.partition_table("vw_lay", "ts", grain="day")
    assert _versions(new) == ["v2", "v3"]


# ------------------------------------------------- LM / boilerplate
def _docs(spark, lo, hi, text="the quick brown fox {i} jumps"):
    return spark.createDataFrame(
        [(i, text.format(i=i)) for i in range(lo, hi)],
        "doc_id int, text string",
    )


def _index_crash(spark, failing_writes, key, build, update, score):
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_vw_ix_"))
    _docs(spark, 0, 20).createOrReplaceTempView(f"vw_{key}")
    build(e)
    info = getattr(e.catalog, f"{key}_indexes")[f"vw_{key}"]
    before = dict(info)
    want = score(e)
    with failing_writes():
        with pytest.raises(Exception):
            update(e)
    _assert_untouched(
        e, before, lambda c: getattr(c, f"{key}_indexes")[f"vw_{key}"],
        want, info["path"], lambda p: score(e),
    )
    e2 = AQEngine(spark.newSession(), workdir=e.catalog.workdir)
    assert score(e2) == want
    update(e)
    new = getattr(e.catalog, f"{key}_indexes")[f"vw_{key}"]
    assert new["version"] == 2
    # read lazily by other sessions: the previous version keeps its grace
    assert _versions(new["path"]) == ["v1", "v2"]


def test_lm_update_crash_keeps_serving_state(spark, failing_writes):
    def score(e):
        return _snap(e.lm_score("vw_lm", _docs(e.spark, 100, 103)))

    _index_crash(
        spark, failing_writes, "lm",
        lambda e: e.build_lm_index("vw_lm"),
        lambda e: e.update_lm_index("vw_lm", _docs(spark, 20, 30)),
        score,
    )


def test_boilerplate_update_crash_keeps_serving_state(
    spark, failing_writes
):
    from approximate_query_engine_spark.functions.boilerplate import (
        read_line_frequency,
    )

    def score(e):
        path = e.catalog.boilerplate_indexes["vw_boilerplate"]["path"]
        return _snap(read_line_frequency(e.spark, path)[0])

    _index_crash(
        spark, failing_writes, "boilerplate",
        lambda e: e.build_boilerplate_index("vw_boilerplate", min_docs=5),
        lambda e: e.update_boilerplate_index(
            "vw_boilerplate", _docs(spark, 20, 30, "Banner\nbody {i}")
        ),
        score,
    )


# ------------------------------------------- in-place tail refreshes
def test_dynamic_overwrite_tail_refreshes_are_crash_safe(
    spark, failing_writes
):
    """refresh_rollup_buckets and refresh_partition_layout replace only
    the tail's date directories through dynamic partition overwrite,
    which Spark swaps in at job commit: a failed write leaves every old
    date directory and its rows as they were."""
    from approximate_query_engine_spark.operators.rollup import entry_spec
    from approximate_query_engine_spark.operators.partitioning import (
        list_bucket_dirs,
        refresh_partition_layout,
    )
    from approximate_query_engine_spark.operators.rollup import (
        refresh_rollup_buckets,
    )

    rows = _rows(days=5)
    e = _engine(spark, "vw_tail", rows)
    _rollup(e, "vw_tail")
    e.partition_table("vw_tail", "ts", grain="day")
    roll = _entry(e, "vw_tail")
    lay = e.catalog.partitioned_views["vw_tail"]
    more = rows + [(BASE + datetime.timedelta(days=4, hours=5, minutes=1),
                    "a", 1.0, 7)]
    src = _show(spark, "vw_tail", more)
    spec = entry_spec("vw_tail", roll)
    cases = [
        (roll["path"], "p_date",
         lambda: refresh_rollup_buckets(spark, spec, roll["path"],
                                        "2024-04-03 00:00:00")),
        (lay["path"], "p_bucket",
         lambda: refresh_partition_layout(spark, src, lay["path"], "ts",
                                          since="2024-04-03")),
    ]
    for path, col, refresh in cases:
        dirs = list_bucket_dirs(spark, path, col)
        assert len(dirs) == 5
        old_rows = _snap(spark.read.parquet(path))
        with failing_writes():
            with pytest.raises(Exception):
                refresh()
        assert list_bucket_dirs(spark, path, col) == dirs
        assert _snap(spark.read.parquet(path)) == old_rows


def test_failed_prune_is_reported_and_retried(spark, monkeypatch):
    """A superseded version the prune cannot delete is named in the next
    maintenance report's errors; the next full write deletes it."""
    from approximate_query_engine_spark import versions

    e = _engine(spark, "vw_prune", _rows())
    old = _rollup(e, "vw_prune")["path"]
    listing = versions._listing

    class _NoDelete:
        def delete(self, path, recursive):
            raise RuntimeError("injected delete failure")

    monkeypatch.setattr(versions, "_listing", lambda spark, root: (
        _NoDelete(), *listing(spark, root)[1:]))
    _rollup(e, "vw_prune")
    monkeypatch.setattr(versions, "_listing", listing)
    assert _versions(old) == ["v1", "v2"]
    errs = [x for x in e.maintain(refresh_stats=False)["errors"]
            if x.get("versions") == split_version(old)[0]]
    assert errs and "v1: injected delete failure" in errs[0]["error"], errs
    new = _rollup(e, "vw_prune")["path"]
    assert _versions(new) == ["v3"]
    assert not [x for x in e.maintain(refresh_stats=False)["errors"]
                if "versions" in x]


# ------------------------------------------------------ legacy roots
def test_legacy_unversioned_entry_serves_then_moves_to_v1(spark, tmp_path):
    """A catalog written before versioning points at the unversioned
    root. It still serves in a new session and moves to ``v1`` at its
    next full write; the legacy files go once the new version is served
    from an in-memory copy."""
    from approximate_query_engine_spark.operators.rollup import (
        RollupSpec,
        materialize_rollup,
    )

    rows = _rows()
    _show(spark, "vw_legacy", rows)
    spec = RollupSpec("vw_legacy", "ts", "1 hour", ["event_type"], ["value"])
    wd = str(tmp_path / "wd")
    root = os.path.join(wd, f"rollup_{spec.rollup_name}")
    materialize_rollup(spark, spec, path=root)
    cat = Catalog(wd)
    cat.upsert_table_stats("vw_legacy", len(rows))
    cat.rollups["vw_legacy"] = [{
        "source_table": "vw_legacy", "view": spec.rollup_name,
        "files_view": spec.files_view, "path": root, "time_col": "ts",
        "bucket": "1 hour", "bucket_seconds": 3600,
        "dims": ["event_type"], "measures": ["value"],
        "built_row_count": len(rows),
    }]
    cat.save()
    sql = ROUTED.format(t="vw_legacy")
    want = [x.asDict() for x in spark.sql(sql).collect()]
    new = spark.newSession()
    _show(new, "vw_legacy", rows)
    e = AQEngine(new, workdir=wd)
    r = e.query(sql)
    assert "answered from materialized rollup" in r["plan"]["reason"]
    assert r["result"] == want
    out = _rollup(e, "vw_legacy")
    assert out["path"] == os.path.join(root, "v1")
    assert sorted(os.listdir(root)) == ["v1"]
    r = e.query(sql)
    assert "answered from materialized rollup" in r["plan"]["reason"]
    assert r["result"] == want


# --------------------------------------------------- theta encoding
def test_fresh_theta_rollup_on_native_key_needs_no_migration(spark):
    """Without ``theta_key_native`` the encoding follows the key types:
    an int key builds native state, so the next maintenance pass advises
    no rebuild of what was just built."""
    e = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_vw_th_"),
                 data_dir=SF)
    e.create_rollup("events", "ts", "1 hour", dims=["event_type"],
                    theta_cols=["user_id"])
    assert e.catalog.rollups["events"][0]["theta_key_native"] is True
    rep = e.maintain(refresh_stats=False)
    assert not [a for a in rep["refreshed"]
                if a.get("kind") == "theta_key_encoding"], rep
