"""Concurrent engine usage: the HTTP service serves threaded requests over
one shared SparkSession — parallel queries must not interfere."""

from concurrent.futures import ThreadPoolExecutor


def test_concurrent_mixed_queries(engine):
    sqls = [
        "SELECT COUNT(*) AS c FROM lineitem",
        "SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem GROUP BY l_returnflag",
        "SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem",
        "SELECT AVG(l_extendedprice) AS a FROM lineitem WHERE l_quantity > 10",
        "SELECT o_orderstatus, COUNT(*) AS c FROM orders GROUP BY o_orderstatus",
        "SELECT MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi FROM lineitem",
    ] * 3

    def run(sql):
        return engine.query(sql, max_rel_error=0.2, use_ml_optimization=True)

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(run, sqls))
    assert all(r["status"] == "ok" for r in results), [
        r.get("error") for r in results if r["status"] != "ok"
    ]
    # determinism across duplicate queries within the run (seeded sampling)
    by_sql = {}
    for sql, r in zip(sqls, results):
        key = tuple(sorted(map(str, (tuple(sorted(row.items())) for row in r["result"]))))
        by_sql.setdefault(sql, set()).add(key)
    for sql, variants in by_sql.items():
        assert len(variants) == 1, f"nondeterministic concurrent results for {sql}"


def test_concurrent_rollup_routed_queries(spark):
    """Routed rollup reads are thread-safe: 8 threads × mixed routed
    shapes (plain, hybrid, sketch-state) against one shared engine all
    return the same answers as a single-threaded pass — also while a
    ninth thread alternates tail refreshes with full rebuilds of the
    rollup, so queries run across swaps of its served in-memory copy
    (served.py) and of its version directory (versions.py)."""
    import os
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from approximate_query_engine_spark import AQEngine

    e = AQEngine(
        spark,
        workdir=tempfile.mkdtemp(prefix="aqe_conc_rollup_"),
        data_dir="/root/testdata/sf0.001",
    )
    def build():
        return e.create_rollup(
            "events",
            "ts",
            "1 hour",
            dims=["event_type"],
            measures=["value"],
            quantile_cols=["value"],
            kll_k=800,
        )

    build()
    sqls = [
        "SELECT event_type, COUNT(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-05 00:00:00' "
        "GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, MEDIAN(value) AS med FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-05 00:00:00' "
        "GROUP BY event_type ORDER BY event_type",
        "SELECT COUNT(*) AS n, MAX(value) AS mx FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-04 13:00:00'",
    ]
    baseline = [e.query(s, max_rel_error=0.05)["result"] for s in sqls]

    def run(i):
        s = sqls[i % len(sqls)]
        r = e.query(s, max_rel_error=0.05)
        assert r["status"] == "ok", r.get("error")
        return (i % len(sqls), r["result"])

    with ThreadPoolExecutor(max_workers=8) as pool:
        for idx, res in pool.map(run, range(24)):
            assert res == baseline[idx]

    info = e.catalog.rollups["events"][0]
    v0 = e.served.current(info["files_view"]).version

    def refresh(_):
        for i in range(4):
            # same data: each is a new copy version; a full rebuild also
            # writes the next version directory and prunes the last one
            e.refresh_rollup("events") if i % 2 == 0 else build()
        return None

    with ThreadPoolExecutor(max_workers=9) as pool:
        swaps = pool.submit(refresh, None)
        for idx, res in pool.map(run, range(24)):
            assert res == baseline[idx]
        swaps.result()
    assert e.served.current(info["files_view"]).version == v0 + 4
    assert e.served.resident_copies(info["path"]) <= 2
    path = e.catalog.rollups["events"][0]["path"]
    assert path.endswith("/v3")
    assert os.listdir(os.path.dirname(path)) == ["v3"]
