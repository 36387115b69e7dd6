"""The three workloads: data sizes, engine set-up, and seeded request
streams.

A request is a dict: ``template`` (name), ``sql``, ``keys`` (the
answer's key columns, for matching against ground truth) and ``body``
(the extra ``POST /query`` fields: tolerance, ``prefer_exact``,
``use_ml_optimization``).

A request maker takes the seeded ``rng`` and the request's index ``i``.
The index picks the template (and, in ``adhoc_sample``, the request
options) from a fixed cycle, so every run has the same mix and the
accuracy metrics do not swing with it; ``rng`` draws the literals.
"""

from __future__ import annotations

import datetime as dt
import random

import datagen

#: rows per table at each scale
SIZES = {
    "full": {"purchases": 1_000_000, "events": 1_200_000, "ingest_events": 300_000},
    "tiny": {"purchases": 60_000, "events": 60_000, "ingest_events": 30_000},
}

#: dashboard_rollup: the fixed Poisson arrival rate (requests per second),
#: about half the capacity measured with one closed-loop client on a
#: 4-core box, and the number of sender threads
DASHBOARD_RATE = 6.0
DASHBOARD_SENDERS = 2

#: ingest_refresh: dashboard queries in the burst after each maintain(),
#: and the untimed steps before the timed ones
INGEST_BURST = 8
INGEST_WARM_STEPS = 2


# -- adhoc_sample ---------------------------------------------------------
def setup_adhoc(eng, spark, dirs: dict[str, str]) -> None:
    eng.register_view("purchases", spark.read.parquet(dirs["purchases"]))
    eng.create_sample("purchases", 0.01, seed=7)
    eng.create_stratified_sample("purchases", "segment", 0.01,
                                 variance_column="amount", seed=7)
    eng.create_sketch("purchases", "customer_id", "hll", {"lg_k": 12})
    eng.analyze_table("purchases", ["amount", "country", "category", "segment"])


#: adhoc_sample: the ranges of the amount threshold and the date
#: literals are cut into this many strata, and request round ``i // 7``
#: draws from stratum ``round % ADHOC_STRATA``: the literals' selectivity
#: sets the sample's error, so every run covers the range evenly and its
#: accuracy does not hang on which literals the seed drew
ADHOC_STRATA = 4


def _stratum(rng: random.Random, i: int, lo: int, hi: int, step: int) -> int:
    k = (i // 7) % ADHOC_STRATA
    width = (hi - lo) // ADHOC_STRATA
    return rng.randrange(lo + k * width, lo + (k + 1) * width, step)


def _adhoc_templates(rng: random.Random, i: int) -> list[tuple[str, str, tuple[str, ...]]]:
    c = rng.choice(datagen.COUNTRIES)
    cat = rng.choice(datagen.CATEGORIES)
    x = _stratum(rng, i, 50, 1490, 10)
    d = datagen.PURCHASE_DATE0 + dt.timedelta(days=_stratum(rng, i, 0, 300, 1))
    return [
        ("count_where", f"SELECT COUNT(*) AS n FROM purchases WHERE amount > {x}", ()),
        ("sum_country", f"SELECT SUM(amount) AS s FROM purchases WHERE country = '{c}'", ()),
        ("avg_category", f"SELECT AVG(amount) AS a FROM purchases WHERE category = '{cat}'", ()),
        ("group_category",
         f"SELECT category, COUNT(*) AS n, SUM(amount) AS s FROM purchases "
         f"WHERE purchase_date >= DATE '{d.isoformat()}' GROUP BY category", ("category",)),
        ("group_country",
         f"SELECT country, AVG(amount) AS a FROM purchases "
         f"WHERE amount < {x * 4} GROUP BY country", ("country",)),
        ("group_segment",
         f"SELECT segment, SUM(amount) AS s FROM purchases "
         f"WHERE category = '{cat}' GROUP BY segment", ("segment",)),
        ("count_distinct", "SELECT COUNT(DISTINCT customer_id) AS u FROM purchases", ()),
    ]


#: request options, cycled: 4% a tight tolerance, 4% prefer_exact, 12% the
#: ML path (which also dual-executes exact), the rest the default
#: tolerance. Each kind sits at evenly spaced slots, so any run, however
#: many requests fit in it, has the same mix to within a request. The ML
#: share is kept off 10%, where the 90th percentile would fall in the gap
#: between the ML requests and the rest and jump from run to run. The
#: cycle's length (25) is coprime with the template count (7), so every
#: pairing occurs.
ADHOC_BODIES = [{"max_rel_error": 0.05}] * 25
for _k in (0, 8, 16):
    ADHOC_BODIES[_k] = {"max_rel_error": 0.05, "use_ml_optimization": True}
ADHOC_BODIES[4] = {"max_rel_error": 0.001}
ADHOC_BODIES[12] = {"prefer_exact": True}


def adhoc_request(rng: random.Random, i: int) -> dict:
    templates = _adhoc_templates(rng, i)
    name, sql, keys = templates[i % len(templates)]
    body = ADHOC_BODIES[i % len(ADHOC_BODIES)]
    return {"template": name, "sql": sql, "keys": keys, "body": dict(body)}


#: adhoc_sample: untimed requests before the timed phase. Request latency
#: keeps falling for the first few dozen requests while the JVM compiles
#: the plan and scan paths; without these a fast run would time more
#: warm requests than a slow one.
ADHOC_WARM_REQUESTS = 35

#: adhoc_sample: untimed maintain() passes after the warm-up requests, and
#: one timed pass after every this many timed requests
ADHOC_WARM_MAINTAIN = 3
ADHOC_MAINTAIN_EVERY = 4


def adhoc_warmup() -> list[dict]:
    rng = random.Random(0)
    return [adhoc_request(rng, i) for i in range(ADHOC_WARM_REQUESTS)]


# -- events (dashboard_rollup, ingest_refresh) ----------------------------
def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _window(rng: random.Random, grid: str) -> tuple[str, str]:
    """A window ending on a recent day, its length in days Zipf-drawn.
    ``grid`` is ``day`` / ``hour`` (on the rollup grid) or ``off``
    (minute offsets: off every grid)."""
    end_day = datagen.EVENTS_DAYS - min(int(rng.paretovariate(1.5)) - 1, 5)
    days = min(int(rng.paretovariate(1.2)), 14)
    hi = datagen.EVENTS_START + dt.timedelta(days=end_day)
    lo = hi - dt.timedelta(days=days)
    if grid == "hour":
        lo += dt.timedelta(hours=rng.randrange(1, 24))
    elif grid == "off":
        lo += dt.timedelta(hours=rng.randrange(1, 24), minutes=rng.randrange(1, 60))
    return _ts(lo), _ts(hi)


def _where(lo: str, hi: str) -> str:
    return f"ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"


#: value_filter thresholds, cycled by request index: the filter's
#: selectivity sets the sample's error, so a run's accuracy should not
#: hang on which thresholds the seed drew
VALUE_FILTER_X = (5, 10, 20, 40, 80)


def _panel(rng: random.Random, name: str, grid: str, i: int) -> tuple[str, tuple[str, ...]]:
    w = _where(*_window(rng, grid))
    if name == "by_type":
        return (f"SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM events "
                f"WHERE {w} GROUP BY event_type", ("event_type",))
    if name == "by_country":
        return (f"SELECT country, COUNT(*) AS n FROM events WHERE {w} GROUP BY country",
                ("country",))
    if name == "total":
        return f"SELECT COUNT(*) AS n, SUM(value) AS sv FROM events WHERE {w}", ()
    if name == "avg_type":
        return (f"SELECT event_type, AVG(value) AS av FROM events WHERE {w} "
                f"GROUP BY event_type", ("event_type",))
    if name == "minmax":
        return (f"SELECT event_type, MIN(value) AS mn, MAX(value) AS mx FROM events "
                f"WHERE {w} GROUP BY event_type", ("event_type",))
    if name == "country_type":
        c = rng.choice(datagen.COUNTRIES[:4])
        return (f"SELECT event_type, COUNT(*) AS n FROM events WHERE country = '{c}' "
                f"AND {w} GROUP BY event_type", ("event_type",))
    if name == "distinct_users":
        return f"SELECT COUNT(DISTINCT user_id) AS u FROM events WHERE {w}", ()
    if name == "median_value":
        return f"SELECT MEDIAN(value) AS med FROM events WHERE {w}", ()
    if name == "family_join":
        return (f"SELECT f.family, COUNT(*) AS n FROM events e JOIN event_families f "
                f"ON e.event_type = f.event_type WHERE e.{w} GROUP BY f.family",
                ("family",))
    if name == "value_filter":
        x = VALUE_FILTER_X[i % len(VALUE_FILTER_X)]
        return (f"SELECT country, AVG(value) AS av FROM events WHERE value > {x} "
                f"GROUP BY country", ("country",))
    if name == "overlap":
        a, b = rng.sample(["click", "search", "add_to_cart", "purchase"], 2)
        return (f"SELECT COUNT(*) AS n FROM (SELECT user_id FROM events WHERE "
                f"event_type = '{a}' INTERSECT SELECT user_id FROM events WHERE "
                f"event_type = '{b}') t", ())
    raise KeyError(name)


def _template(panel: str, grid: str, i: int) -> str:
    """A request's template name; a value filter's names its threshold,
    which sets the sample's error."""
    if panel == "value_filter":
        return f"{panel}.{grid}.x{VALUE_FILTER_X[i % len(VALUE_FILTER_X)]}"
    return f"{panel}.{grid}"


def _cycle(panels: list[tuple[str, str, int]]) -> list[tuple[str, str]]:
    """Each (panel, grid) repeated by its weight, interleaved."""
    out: list[tuple[str, str]] = []
    for k in range(max(w for *_, w in panels)):
        out += [(p, g) for p, g, w in panels if k < w]
    return out


#: (panel, grid, weight): most panels on the bucket grid, some off-grid,
#: a few outside the rollup grammar
DASH_PANELS = [
    ("by_type", "day", 14), ("by_country", "day", 10), ("total", "hour", 10),
    ("avg_type", "day", 8), ("minmax", "hour", 6), ("country_type", "day", 8),
    ("distinct_users", "day", 6), ("median_value", "day", 4),
    ("by_type", "off", 5), ("total", "off", 5),
    ("value_filter", "day", 6), ("family_join", "day", 3), ("overlap", "day", 2),
]
_DASH_CYCLE = _cycle(DASH_PANELS)


def dashboard_request(rng: random.Random, i: int) -> dict:
    panel, grid = _DASH_CYCLE[i % len(_DASH_CYCLE)]
    sql, keys = _panel(rng, panel, grid, i)
    return {"template": _template(panel, grid, i), "sql": sql, "keys": keys,
            "body": {"max_rel_error": 0.05}}


def dashboard_warmup() -> list[dict]:
    rng = random.Random(0)
    out = []
    for i, (panel, grid, _) in enumerate(DASH_PANELS):
        sql, keys = _panel(rng, panel, grid, i)
        out.append({"template": f"{panel}.{grid}", "sql": sql, "keys": keys,
                    "body": {"max_rel_error": 0.05}})
    return out


def setup_dashboard(eng, spark, dirs: dict[str, str]) -> None:
    eng.register_view("events", spark.read.parquet(dirs["events"]))
    eng.register_view("event_families", spark.read.parquet(dirs["event_families"]))
    eng.partition_table("events", "ts", grain="day", refresh_samples=False)
    eng.create_rollup("events", "ts", "1 hour", dims=["event_type", "country"],
                      measures=["value"], distinct_cols=["user_id"],
                      quantile_cols=["value"], kll_k=200, topk_cols=["user_id"])
    eng.create_sample("events", 0.01, seed=7)
    eng.analyze_table("events", ["value", "event_type", "country"])


#: ingest_refresh reads: rollup-shaped panels, and one filter on a measure
#: that the rollup cannot answer, served from the sample (the reads whose
#: accuracy the appends erode between sample refreshes)
INGEST_PANELS = [("by_type", "day", 4), ("total", "hour", 3), ("by_country", "day", 3),
                 ("avg_type", "day", 2), ("value_filter", "day", 6)]
_INGEST_CYCLE = _cycle(INGEST_PANELS)


def ingest_request(rng: random.Random, i: int) -> dict:
    panel, grid = _INGEST_CYCLE[i % len(_INGEST_CYCLE)]
    sql, keys = _panel(rng, panel, grid, i)
    return {"template": _template(panel, grid, i), "sql": sql, "keys": keys,
            "body": {"max_rel_error": 0.05}}


#: ingest_refresh: the read issued while the rollup is stale is a
#: ``by_type`` panel ending at the newest hour, which the sample answers.
#: Its window's length (days) cycles by step: the length sets the sample's
#: error, so every run covers the same lengths and its accuracy does not
#: hang on the seed's draws; the seed draws the hour the window starts at.
INGEST_STALE_DAYS = (1, 3, 7)


def ingest_stale_request(rng: random.Random, i: int) -> dict:
    days = INGEST_STALE_DAYS[(i // (INGEST_BURST + 1)) % len(INGEST_STALE_DAYS)]
    hi = datagen.EVENTS_START + dt.timedelta(days=datagen.EVENTS_DAYS)
    lo = hi - dt.timedelta(days=days) + dt.timedelta(hours=rng.randrange(1, 24))
    return {"template": "by_type.stale",
            "sql": (f"SELECT event_type, COUNT(*) AS n, SUM(value) AS sv FROM events "
                    f"WHERE {_where(_ts(lo), _ts(hi))} GROUP BY event_type"),
            "keys": ("event_type",), "body": {"max_rel_error": 0.05}}


def ingest_warmup() -> list[dict]:
    rng = random.Random(0)
    out = []
    for i, (panel, grid, _) in enumerate(INGEST_PANELS):
        sql, keys = _panel(rng, panel, grid, i)
        out.append({"template": f"{panel}.{grid}", "sql": sql, "keys": keys,
                    "body": {"max_rel_error": 0.05}})
    return out


def setup_ingest(eng, spark, dirs: dict[str, str]) -> None:
    eng.register_view("events", spark.read.parquet(dirs["events"]))
    eng.create_rollup("events", "ts", "1 hour", dims=["event_type", "country"],
                      measures=["value"])
    eng.create_sample("events", 0.01, seed=7)
