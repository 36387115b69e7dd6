"""Ground truth and answer checking.

Truth comes from DuckDB over the same parquet files the engine reads,
computed outside the timed phase, once per distinct (query text, data
version). An answer is checked against it in one of two ways:

- exact-labelled (plan type ``exact``): every row must match, keyed on
  the template's key columns, numeric cells within ``REL_TOL``
  relative (or ``ABS_TOL`` absolute) difference. Any mismatch is a
  failure.
- approximate (any other plan type): the mean relative error over the
  numeric cells of rows present in both answers (the formula of
  ``executor.measured_relative_error``, matched on the declared keys),
  and, for each cell that carries ``<col>_ci_low`` / ``<col>_ci_high``,
  whether the true value lies inside that interval.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb

#: float tolerance for exact-labelled answers: Spark and DuckDB sum
#: doubles in different orders, so the last digits may differ.
REL_TOL = 1e-6
ABS_TOL = 1e-6

_CI_SUFFIXES = ("_ci_low", "_ci_high", "_rel_error")


class Truth:
    """DuckDB views over a dataset; ``rows(sql, version)`` is memoised."""

    def __init__(self, threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self._cache: dict[tuple[str, int], list[dict]] = {}

    def register(self, name: str, files: list[str]) -> None:
        listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{listing}])"
        )

    def rows(self, sql: str, version: int) -> list[dict]:
        key = (sql, version)
        if key not in self._cache:
            cur = self.con.execute(sql)
            names = [d[0] for d in cur.description]
            self._cache[key] = [dict(zip(names, r)) for r in cur.fetchall()]
        return self._cache[key]

    def close(self) -> None:
        self.con.close()


@dataclass
class Check:
    ok: bool
    approximate: bool
    errors: list[float] = field(default_factory=list)
    ci_cells: int = 0
    ci_covered: int = 0
    detail: str = ""


def _num(v) -> float | None:
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    try:  # DuckDB returns Decimal for some aggregates
        return float(v)
    except (TypeError, ValueError):
        return None


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= max(ABS_TOL, REL_TOL * max(abs(a), abs(b)))


def _index(rows: list[dict], keys: tuple[str, ...]) -> dict[tuple, dict]:
    return {tuple(str(r.get(k)) for k in keys): r for r in rows}


def check_answer(plan_type: str, got: list[dict], truth: list[dict],
                 keys: tuple[str, ...]) -> Check:
    approximate = plan_type != "exact"
    value_cols = [
        c for c in (truth[0] if truth else {})
        if c not in keys and not c.endswith(_CI_SUFFIXES)
    ]
    g, t = _index(got, keys), _index(truth, keys)
    if not approximate:
        if len(got) != len(truth) or g.keys() != t.keys():
            return Check(False, False, detail=f"row keys differ: {len(got)} vs {len(truth)} rows")
        for k, trow in t.items():
            for c in value_cols:
                a, e = _num(g[k].get(c)), _num(trow.get(c))
                if (a is None) != (e is None) or (a is not None and not _close(a, e)):
                    return Check(False, False, detail=f"{k} {c}: {g[k].get(c)!r} != {trow.get(c)!r}")
        return Check(True, False)
    chk = Check(True, True)
    for k, trow in t.items():
        grow = g.get(k)
        if grow is None:
            continue
        for c in value_cols:
            a, e = _num(grow.get(c)), _num(trow.get(c))
            if a is None or e is None:
                continue
            if abs(e) > 1e-12:
                chk.errors.append(abs(a - e) / abs(e))
            lo, hi = _num(grow.get(f"{c}_ci_low")), _num(grow.get(f"{c}_ci_high"))
            if lo is not None and hi is not None and not math.isnan(lo + hi):
                chk.ci_cells += 1
                chk.ci_covered += int(lo <= e <= hi)
    if not any(k in g for k in t) and t:
        chk.ok = False
        chk.detail = "no group of the true answer is present"
    return chk
