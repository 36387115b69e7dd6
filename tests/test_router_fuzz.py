"""Differential fuzz of every router that labels an answer exact.

Each example draws a small adversarial events table: NULLs in the time,
dim and measure columns, empty tables, pre-epoch and bucket-boundary
timestamps. It builds an hourly rollup (dims, measures, top-k and theta
state), a day-partitioned layout and fresh column stats, then runs a
battery of queries through ``engine.query``: the plain, hybrid (off-grid
bounds), star-join and top-k rollup rewrites, partition routing and the
overlap idioms. Late rows are then appended (back-dated ones and NULL
timestamps included) and the battery runs again after ``maintain()`` has
repaired the artifacts; one fixed case also checks the stale reads in
between, where every router must decline. Every answer
whose plan is exact or that a router served is compared with DuckDB over
the same rows.

Float bound: a routed SUM re-adds per-bucket partial sums, so it may
differ from a raw scan by reordered rounding. Recursive summation of n
values errs by at most (n-1)·u·Σ|x| (u = 2^-53), so two orders differ by
at most 2·n·u·Σ|x|; AVG divides that by its count and adds one rounding.
Counts, MIN, MAX, group keys and projected rows must match exactly.
"""

from __future__ import annotations

import datetime
import itertools
import tempfile

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from approximate_query_engine_spark import AQEngine

SCHEMA = "ts timestamp, event_type string, value double, user_id int"
EPOCH = datetime.datetime(1970, 1, 1)
U = 2.0**-53
HOUR = 3600

#: hour and day boundaries from 4 h before the epoch to 28 h after it
GRID = [h * HOUR for h in range(-4, 29)]
#: bucket-boundary seconds, one microsecond and half a second either
#: side (sub-second rows before the epoch are where truncating and
#: flooring bucket arithmetic disagree), and mid-bucket
TS_SECONDS = st.one_of(
    st.sampled_from(GRID),
    st.sampled_from(GRID).map(lambda s: s - 1e-6),
    st.sampled_from(GRID).map(lambda s: s + 1e-6),
    st.sampled_from(GRID).map(lambda s: s - 0.5),
    st.sampled_from(GRID).map(lambda s: s + 0.5),
    st.integers(-4 * HOUR, 28 * HOUR),
)
TS = st.one_of(st.none(), TS_SECONDS.map(
    lambda s: EPOCH + datetime.timedelta(seconds=s)))
ROW = st.tuples(
    TS,
    st.sampled_from(["a", "b", "c", None]),
    # cents: not exactly representable, so re-added sums round differently
    st.one_of(st.none(), st.integers(-10**6, 10**6).map(lambda c: c / 100)),
    st.integers(0, 12),
)
#: query bounds: hour-aligned (plain rewrite) or off-grid (hybrid)
BOUND = st.one_of(
    st.sampled_from(GRID), st.integers(-4 * HOUR, 28 * HOUR)
).map(lambda s: EPOCH + datetime.timedelta(seconds=s))

_names = itertools.count()


def _lit(t: datetime.datetime) -> str:
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


def battery(t: str, lo: datetime.datetime, hi: datetime.datetime) -> list[str]:
    """One query per router shape, over table ``t`` with ``[lo, hi)``."""
    win = f"ts >= {_lit(lo)} AND ts < {_lit(hi)}"
    aggs = ("COUNT(*) AS n, COUNT(value) AS nv, SUM(value) AS s, "
            "MIN(value) AS mn, MAX(value) AS mx, AVG(value) AS av")
    return [
        # plain (aligned bounds) or hybrid (off-grid bounds)
        f"SELECT event_type, {aggs} FROM {t} WHERE {win} GROUP BY event_type",
        f"SELECT {aggs} FROM {t} WHERE {win}",
        # time-keyed: the hybrid's edge slices must bucket like the build
        f"SELECT DATE_TRUNC('HOUR', ts) AS h, {aggs} FROM {t} WHERE {win} "
        "GROUP BY DATE_TRUNC('HOUR', ts)",
        # no time bound: declines while NULL-ts rows exist
        f"SELECT event_type, {aggs} FROM {t} GROUP BY event_type",
        # star join: the fact side from the rollup
        f"SELECT f.fam, COUNT(*) AS n, SUM(s.value) AS s, MAX(s.value) AS mx "
        f"FROM {t} s JOIN fuzz_fam f ON s.event_type = f.event_type "
        f"WHERE s.{win} GROUP BY f.fam",
        # top-k from certified frequent-items state
        f"SELECT user_id, COUNT(*) AS n FROM {t} WHERE {win} "
        "GROUP BY user_id ORDER BY n DESC, user_id ASC LIMIT 3",
        # partition routing: a projection no rollup can serve
        f"SELECT user_id, value FROM {t} WHERE {win}",
        # overlap idioms from theta state (exact regime)
        f"SELECT COUNT(DISTINCT a.user_id) AS oc FROM {t} a JOIN {t} b "
        "ON a.user_id = b.user_id WHERE a.event_type = 'a' "
        "AND b.event_type = 'b'",
        f"SELECT COUNT(DISTINCT user_id) AS oc FROM {t} "
        "WHERE event_type IN ('a', 'c')",
    ]


def _key(row):
    return tuple((v is None, "" if v is None else str(type(v)), v)
                 for v in row)


def _same(sql, got, want, bound):
    assert len(got) == len(want), (sql, got, want)
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) or isinstance(wv, float):
                assert gv is not None and wv is not None, (sql, g, w)
                assert abs(gv - wv) <= bound + 4 * U * max(abs(gv), abs(wv)), (
                    sql, g, w)
            else:
                assert gv == wv, (sql, g, w)


class Checker:
    """One adversarial table, registered in Spark and DuckDB under one
    name, with its own engine (so maintenance sees only this table);
    checks the engine's answers against DuckDB's."""

    def __init__(self, spark, rows):
        self.spark = spark
        self.engine = AQEngine(spark, workdir=tempfile.mkdtemp(prefix="aqe_fuzz_"))
        self.engine.catalog.upsert_table_stats("fuzz_fam", 3)
        self.name = f"fuzz_t{next(_names)}"
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE fuzz_fam (event_type VARCHAR, fam VARCHAR)")
        self.con.execute("INSERT INTO fuzz_fam VALUES ('a','x'),('b','y'),('c','x')")
        self.routed: list[str] = []
        self.load(rows)

    def load(self, rows):
        self.rows = list(rows)
        self.spark.createDataFrame(self.rows, SCHEMA).createOrReplaceTempView(
            self.name)
        self.engine.catalog.upsert_table_stats(self.name, len(self.rows))
        self.con.execute(f"DROP TABLE IF EXISTS {self.name}")
        self.con.execute(
            f"CREATE TABLE {self.name} (ts TIMESTAMP, event_type VARCHAR, "
            "value DOUBLE, user_id INTEGER)")
        if self.rows:
            self.con.executemany(
                f"INSERT INTO {self.name} VALUES (?, ?, ?, ?)", self.rows)

    def build(self):
        """Rollup, layout and column stats over the rows. A source with
        no timed row has no rollup state to serve, and an empty one no
        layout: both builds refuse with a reason."""
        e, timed = self.engine, any(r[0] is not None for r in self.rows)
        try:
            e.create_rollup(self.name, "ts", "1 hour", dims=["event_type"],
                            measures=["value"], topk_cols=["user_id"],
                            theta_cols=["user_id"])
            assert timed
        except ValueError as exc:
            assert not timed and "no state to roll up" in str(exc)
        try:
            e.partition_table(self.name, "ts", grain="day")
            assert self.rows
        except ValueError as exc:
            assert not self.rows and "no layout to build" in str(exc)
        e.analyze_table(self.name, ["user_id"])

    def check(self, lo, hi):
        vals = [abs(r[2]) for r in self.rows if r[2] is not None]
        bound = 2 * max(len(vals), 1) * U * sum(vals)
        for sql in battery(self.name, lo, hi):
            r = self.engine.query(sql)
            assert r["status"] == "ok", (sql, r.get("error"))
            plan = r["plan"]
            reason = plan.get("reason", "")
            routed = "materialized rollup" in reason or "routed to" in reason
            if plan["type"] != "exact" and not routed:
                continue  # an approximate plan: no exactness claim
            if routed:
                self.routed.append(reason)
            got = [tuple(d.values()) for d in r["result"]]
            want = self.con.execute(sql).fetchall()
            _same(sql, got, want, bound)


@pytest.fixture(scope="module")
def fam(spark):
    spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", "x")], "event_type string, fam string"
    ).createOrReplaceTempView("fuzz_fam")


def run_case(spark, rows, late, lo, hi, stale_check=False):
    """Build, check; then append ``late``, optionally check while every
    artifact is stale (routers must decline), repair and check again."""
    c = Checker(spark, rows)
    c.build()
    c.check(lo, hi)
    if late:
        c.load(c.rows + list(late))
        if stale_check:
            c.check(lo, hi)
        c.engine.maintain(max_drift=0.0, refresh_stats=False)
        c.check(lo, hi)
    return c


@pytest.mark.usefixtures("fam")
@given(
    rows=st.lists(ROW, max_size=24),
    late=st.lists(ROW, max_size=4),
    bounds=st.tuples(BOUND, BOUND).filter(lambda b: b[0] < b[1]),
)
@settings(
    # each example builds three artifacts, runs up to 18 engine queries
    # and maybe one maintenance pass (about 4-10 s); four keep the file
    # inside tier-1's 60 s budget
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
def test_routed_answers_match_duckdb(spark, rows, late, bounds):
    run_case(spark, rows, late, *bounds)


def _at(hours: float) -> datetime.datetime:
    return EPOCH + datetime.timedelta(hours=hours)


@pytest.mark.usefixtures("fam")
def test_every_router_serves_in_the_battery(spark):
    """The fuzz's checker sees each router actually answer: on a
    NULL-free table with hour-aligned bounds every battery shape is
    served from state or routed through the layout, before and after a
    back-dated append is repaired; while the append is unrepaired every
    router declines and the answers stay exact."""
    rows = [(_at(h + m / 60), et, v, u)
            for h in range(-3, 27) for m, et, v, u in
            ((0, "a", 1.25, h % 5), (30, "b", 0.1, h % 7), (59, "c", 3.0, 2))]
    c = run_case(spark, rows, [(_at(-2.5), "b", 0.3, 1)], _at(-2), _at(20),
                 stale_check=True)
    joined = " | ".join(c.routed)
    for marker in ("answered from materialized rollup", "star join",
                   "frequent-items", "routed to partitioned layout",
                   "segment-overlap idiom", "segment-reach idiom"):
        assert marker in joined, (marker, c.routed)


# Examples the fuzz found, kept as explicit cases.


@pytest.mark.usefixtures("fam")
def test_unwindowed_overlap_counts_null_time_rows(spark):
    """A theta rollup holds no state for the NULL-ts row, so the
    unwindowed reach idiom must not be answered from it (it answered 1
    where the table holds 2 distinct users)."""
    c = run_case(spark, [(None, "a", None, 0), (_at(-4), "a", None, 1)], [],
                 _at(-4), _at(-3))
    assert not any("idiom" in r for r in c.routed), c.routed


@pytest.mark.usefixtures("fam")
def test_untimed_and_empty_sources_refuse_to_build(spark):
    """An empty table, and one whose rows all have a NULL ts, wrote no
    state, and the build failed in the parquet reader. Both builds now
    refuse with a reason, and the answers stay exact."""
    Checker(spark, []).build()
    run_case(spark, [(None, "b", 1.0, 2)], [], _at(0), _at(2))


@pytest.mark.usefixtures("fam")
def test_hybrid_slices_bucket_pre_epoch_subsecond_rows_like_the_build(spark):
    """The hybrid's fresh edge slice bucketed rows with
    FLOOR(UNIX_TIMESTAMP(ts) / 3600), and UNIX_TIMESTAMP truncates toward
    zero: the row at 1969-12-31 23:59:59.5 landed in the 00:00 bucket,
    and the answer, labelled exact, had 2 groups where the table has 3.
    The slices now take their bucket from the build's own definition."""
    day, night = datetime.datetime(1969, 12, 31), datetime.datetime(1970, 1, 1)
    rows = [(day.replace(hour=22, minute=10), "a", 1.0, 1),
            (day.replace(hour=23, minute=59, second=59, microsecond=500000),
             "a", 2.0, 2),
            (night.replace(minute=30), "a", 3.0, 3),
            (night.replace(hour=1, minute=15), "a", 4.0, 4)]
    c = Checker(spark, rows)
    c.build()
    sql = ("SELECT DATE_TRUNC('HOUR', ts) AS h, COUNT(*) AS n, "
           f"SUM(value) AS s FROM {c.name} "
           "WHERE ts >= TIMESTAMP '1969-12-31 23:30:00' "
           "AND ts < TIMESTAMP '1970-01-01 02:00:00' "
           "GROUP BY DATE_TRUNC('HOUR', ts)")
    r = c.engine.query(sql)
    assert r["plan"]["type"] == "exact", r["plan"]
    assert "raw edge slice" in r["plan"]["reason"], r["plan"]
    got = [tuple(d.values()) for d in r["result"]]
    want = c.con.execute(sql).fetchall()
    assert len(want) == 3
    _same(sql, got, want, 0.0)
