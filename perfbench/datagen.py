"""Seeded fixture generators for the benchmark.

Each table is written once to parquet and cached under a directory keyed
by generator version, table, data seed and row count:

- ``purchases``: the FIXTURES.md section 1 schema plus ``segment``, a
  skewed four-way stratum column (90% / 8% / 1.8% / 0.2%) whose
  ``amount`` spread grows with rarity, so Neyman allocation differs from
  proportional allocation.
- ``events``: 30 days of events, one file per day. ``user_id`` is Zipf,
  ``event_type`` is skewed, ``value`` is log-normal.
- ``event_families``: an eight-row dimension table mapping each event
  type to a family.

Values are drawn from numpy's PCG64 generator, so they are random at the
byte level and the parquet files do not compress to a fraction of their
logical size: a scan reads real bytes.

``append_batch`` writes one more seeded ``events`` file, the unit of the
``ingest_refresh`` workload.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

COUNTRIES = ["USA", "UK", "Canada", "Germany", "France",
             "Japan", "Australia", "Brazil", "India", "China"]
CITIES = ["New York", "London", "Toronto", "Berlin", "Paris",
          "Tokyo", "Sydney", "Rio", "Mumbai", "Beijing"]
CATEGORIES = ["Electronics", "Clothing", "Food", "Books", "Home",
              "Sports", "Toys", "Beauty", "Garden", "Automotive"]
SEGMENTS = ["retail", "smb", "enterprise", "government"]
SEGMENT_P = [0.90, 0.08, 0.018, 0.002]
PURCHASE_DATE0 = dt.date(2023, 1, 1)
PURCHASE_DAYS = 365

EVENT_TYPES = ["view", "click", "scroll", "add_to_cart",
               "search", "purchase", "share", "refund"]
EVENT_TYPE_P = [0.55, 0.20, 0.10, 0.06, 0.05, 0.02, 0.015, 0.005]
EVENT_FAMILIES = {
    "view": "browse", "click": "browse", "scroll": "browse",
    "search": "browse", "add_to_cart": "commerce", "purchase": "commerce",
    "refund": "commerce", "share": "social",
}
N_USERS = 200_000
EVENTS_START = dt.datetime(2024, 3, 1)
EVENTS_DAYS = 30
_US_PER_DAY = 86_400_000_000


def ensure_table(cache_root: str, table: str, seed: int, rows: int) -> str:
    """Return the directory of ``table`` generated from ``seed`` with
    ``rows`` rows, generating it on first use. A finished table holds a
    ``_DONE`` marker; a partial one (an interrupted earlier run) is
    regenerated."""
    out = os.path.join(cache_root, f"v{GENERATOR_VERSION}_{table}_s{seed}_n{rows}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.Generator(np.random.PCG64([seed, _TABLE_IDS[table]]))
    _WRITERS[table](out, rows, rng)
    with open(os.path.join(out, "_DONE"), "w") as fh:
        fh.write("ok\n")
    return out


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)
    ).cast(pa.string())


def write_purchases(path: str, n: int, rng, n_files: int = 8) -> None:
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        m = hi - lo
        seg = rng.choice(len(SEGMENTS), size=m, p=SEGMENT_P)
        # rarer segments buy bigger and more variably
        scale = np.array([1.0, 4.0, 20.0, 60.0])[seg]
        amount = np.round(
            10.0 + rng.uniform(0.0, 990.0, m) * scale * rng.lognormal(0, 0.4, m),
            2,
        )
        days = rng.integers(0, PURCHASE_DAYS, m)
        table = pa.table({
            "id": pa.array(np.arange(lo + 1, hi + 1, dtype=np.int64)),
            "customer_id": pa.array(rng.integers(1, 50_001, m)),
            "product_id": pa.array(rng.integers(1, 10_001, m)),
            "amount": pa.array(amount),
            "country": _pick(rng, COUNTRIES, m),
            "city": _pick(rng, CITIES, m),
            "category": _pick(rng, CATEGORIES, m),
            "purchase_date": pa.array(
                days.astype("timedelta64[D]") + np.datetime64(PURCHASE_DATE0),
                pa.date32(),
            ),
            "segment": pa.array(np.array(SEGMENTS, dtype=object)[seg]),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"),
                       row_group_size=256 * 1024)


def _events_table(rng, ts_us: np.ndarray, first_id: int) -> pa.Table:
    n = len(ts_us)
    ts_us = np.sort(ts_us)
    base = np.datetime64(EVENTS_START, "us")
    users = np.minimum(rng.zipf(1.3, n), N_USERS).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(base + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(users),
        "event_type": _pick(rng, EVENT_TYPES, n, EVENT_TYPE_P),
        "country": _pick(rng, COUNTRIES, n),
        "value": pa.array(np.round(rng.lognormal(3.0, 1.0, n), 4)),
    })


def write_events(path: str, n: int, rng) -> None:
    """One file per day, rows spread evenly over the days."""
    per_day = np.full(EVENTS_DAYS, n // EVENTS_DAYS)
    per_day[: n % EVENTS_DAYS] += 1
    first = 1
    for d in range(EVENTS_DAYS):
        ts = rng.integers(d * _US_PER_DAY, (d + 1) * _US_PER_DAY, int(per_day[d]))
        pq.write_table(_events_table(rng, ts, first),
                       os.path.join(path, f"day-{d:02d}.parquet"))
        first += int(per_day[d])


def write_event_families(path: str, n: int, rng) -> None:
    pq.write_table(
        pa.table({
            "event_type": list(EVENT_FAMILIES),
            "family": list(EVENT_FAMILIES.values()),
        }),
        os.path.join(path, "part-000.parquet"),
    )


_WRITERS = {
    "purchases": write_purchases,
    "events": write_events,
    "event_families": write_event_families,
}
_TABLE_IDS = {"purchases": 1, "events": 2, "event_families": 3}


def append_batch(path: str, step: int, n: int, first_id: int, seed: int,
                 late_rows: int = 0) -> str:
    """Write batch ``step`` of ``n`` new events into ``path``: all on
    the newest day, except ``late_rows`` of them back-dated to the day
    before (late arrivals). Returns the new file's path."""
    rng = np.random.Generator(np.random.PCG64([seed, 1000 + step]))
    last = EVENTS_DAYS - 1
    ts = rng.integers(last * _US_PER_DAY, (last + 1) * _US_PER_DAY, n)
    if late_rows:
        ts[:late_rows] -= _US_PER_DAY
    out = os.path.join(path, f"batch-{step:04d}.parquet")
    pq.write_table(_events_table(rng, ts, first_id), out)
    return out
