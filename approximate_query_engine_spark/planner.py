"""Cost-based plan selection (the reference's Stage B planner).

Cost model constants and formulas follow reference planner.py:13-19,
187-272 verbatim:

    scan_cost_per_row   = 1.0
    hash_cost_per_group = 2.0
    sketch_query_cost   = 10.0
    sample_setup_cost   = 5.0

    cost(exact)  = N·(scan + w) + min(N, 10000)·hash     [hash iff GROUP BY]
    cost(sample) = N·f·(scan + w) + setup  err = 1/sqrt(f·N)   [pre-built]
    cost(inline) = N·(scan + rand) + N·f·w + setup       [same err]
    cost(sketch) = sketch_query_cost       err = rsd

where ``w`` is the per-row aggregate-evaluation work
(:func:`per_row_agg_work`) — the round-4 extension of the reference's
scan-only model. It separates scan-bound queries (bare COUNT/SUM of a
plain column, where the bench measured the inline rand() filter SLOWER
than just finishing the exact scan) from compute-bound ones (grouping,
expression math, quantiles — where sampling pays off hugely).

Candidates whose estimated error exceeds ``max_rel_error`` are filtered,
then argmin cost. Row counts come from the catalog — never a live
``COUNT(*)`` at planning time (the reference scans the table per plan,
ml_optimizer.py:88-93; at 100 TB that is a full scan before every query).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession

from approximate_query_engine_spark import rewriter
from approximate_query_engine_spark.catalog import Catalog, SampleInfo
from approximate_query_engine_spark.sqlparser import (
    UNPARSED,
    JoinedQuery,
    ParsedQuery,
    UnsupportedQueryError,
    flatten_and_parens,
    try_parse_any,
)

SCAN_COST_PER_ROW = 1.0
HASH_COST_PER_GROUP = 2.0
SKETCH_QUERY_COST = 10.0
SAMPLE_SETUP_COST = 5.0

#: Per-row premium of HLL register updates over a plain hash-agg probe.
#: approx_count_distinct still scans every row; on low-cardinality columns
#: the exact hash-agg (map-side dedup, tiny shuffle) beats it — round-1
#: bench measured sketch/exact ≈ 0.92 at ndv≈0.005·N. Only applies when the
#: catalog knows the column's ndv; without stats the planner keeps the
#: reference-verbatim flat sketch cost.
SKETCH_CPU_FACTOR = 1.2

#: rsd clamp for approx_count_distinct (Spark requires rsd < 1; tighter rsd
#: costs more HLL registers).
MIN_RSD, MAX_RSD = 0.005, 0.4

#: approx_percentile summary size for the quantile sketch path: rank
#: error is guaranteed <= 1/accuracy, state is O(accuracy) per group.
QUANTILE_SKETCH_ACCURACY = 10_000
#: Per-row premium of approx_percentile's Greenwald–Khanna summary updates
#: over a plain scan — pricier than HLL's register update (1.2): the
#: big-tier bench measured the full-scan approx_percentile (~1.25 s /
#: 30M rows) SLOWER than the inline-sample PERCENTILE path (~0.80 s), so
#: the sketch must not undercut feasible sampling candidates on cost.
QUANTILE_SKETCH_CPU_FACTOR = 2.0
#: extra per-row cost of exact PERCENTILE's value buffering + final sort
#: (relative to SCAN_COST_PER_ROW = 1.0). Calibrated: the big-tier bench
#: (30M rows, medians) puts the bare scan at ~0.22 s and exact PERCENTILE
#: at ~2.83 s — a ~12x per-row premium; 10.0 keeps a conservative margin.
QUANTILE_EXACT_BUFFER_COST = 10.0

#: Per-row aggregate-evaluation work, relative to SCAN_COST_PER_ROW = 1.0.
#: Calibrated against big-tier bench medians (30M rows): bare scan 0.22 s;
#: 3-group COUNT+SUM hash agg 1.10 s (w≈4); 8-expression heavy agg 1.44 s
#: (w≈5.5). The weights deliberately under-shoot those ratios — what
#: matters is the ORDERING around INLINE_PREDICATE_COST_PER_ROW: bare
#: COUNT/SUM of a plain column lands below it (measured: the inline rand()
#: filter is SLOWER than finishing the exact scan — count_approx 1.49x,
#: sum_approx 1.18x the exact wall), while grouping, expression math, or
#: several aggregates land above it.
AGG_WORK_COUNT = 0.1
AGG_WORK_SIMPLE = 0.3
AGG_WORK_EXPR_OP = 0.3
GROUP_HASH_WORK_PER_ROW = 0.5

#: Per-query fixed cost (task scheduling + codegen + collect) in the same
#: row-units as SCAN_COST_PER_ROW, for WALL-CLOCK speedup estimates only —
#: it is identical across candidates, so it never changes an argmin plan
#: choice. Calibration: the big-tier bench scans 30M rows in ~0.22 s
#: (≈7.3 ns/row-unit) and the measured per-query floor is ~0.15 s → ~20M
#: units. With it, a 1% sample of a 60k-row table estimates ~1.0x (the
#: bench-measured floor-bound truth) while the 30M-row tier estimates ~4-6x
#: (the measured plan-cost regime) — instead of the reference's flat 1/f.
QUERY_FIXED_COST = 20_000_000.0

#: Per-fact-row work of an inner join + aggregation beyond the bare scan
#: (hash/shuffle probe per surviving row). Calibrated: big-tier bench
#: (30M rows) measured the exact star join + agg at ~2.1 s vs the ~0.22 s
#: bare scan (~9x); 5.0 keeps a conservative margin. What matters is the
#: ordering: exact N·(1+w) > inline N·(1+rand)+f·N·w > pre-built
#: f·N·(1+w), so a pre-built fact sample always beats re-sampling inline,
#: which beats the exact join — matching the measured 2.13 / 0.60 /
#: (predicted ~0.2) seconds.
JOIN_WORK_PER_FACT_ROW = 5.0


@dataclass
class Candidate:
    strategy: str  # exact | sample | stratified | sketch
    cost: float
    error: float
    sample: SampleInfo | None = None
    inline_fraction: float | None = None
    reason: str = ""


def exact_cost(n: int, has_group_by: bool) -> float:
    cost = n * SCAN_COST_PER_ROW
    if has_group_by:
        cost += min(n, 10000) * HASH_COST_PER_GROUP
    return cost


def sample_cost(n: int, fraction: float, work: float = 0.0) -> float:
    """Pre-built sample: scans only f·N rows, and the per-row aggregate
    work ``work`` applies only to those rows."""
    return n * fraction * (SCAN_COST_PER_ROW + work) + SAMPLE_SETUP_COST


#: Per-base-row cost of evaluating the inline ``rand(seed) < f`` predicate:
#: an inline sample still READS every base row (only downstream work
#: shrinks), while a pre-built sample's scan is f·N. Pricing both as f·N
#: made the planner indifferent between them at equal f and it could pick
#: the full-scan inline plan over an existing sample table (r04 bench:
#: big_quantile 1.7× instead of ~5×). Calibrated from the big-tier bench:
#: inline big_groupby 0.326 s ≈ 0.22·(1 + rand) + f·n·w → rand ≈ 0.4.
INLINE_PREDICATE_COST_PER_ROW = 0.4


def inline_sample_cost(n: int, fraction: float, work: float = 0.0) -> float:
    """Inline sample: full base-table read + rand() per row, aggregate
    work only on the f·N surviving rows. Beats exact iff
    ``work > rand/(1 - f)`` — scan-bound queries stay exact."""
    return (
        n * (SCAN_COST_PER_ROW + INLINE_PREDICATE_COST_PER_ROW)
        + n * fraction * work
        + SAMPLE_SETUP_COST
    )


def per_row_agg_work(parsed: ParsedQuery) -> float:
    """Per-row aggregate-evaluation work w (relative to scan cost 1.0):
    a weight per aggregate, a premium per arithmetic operator / CASE in
    its argument, a hash-probe term under GROUP BY, and the measured
    value-buffer premium for exact quantiles. See the calibration note on
    the AGG_WORK_* constants."""
    import re as _re

    def _ops(arg: str | None) -> int:
        return len(
            _re.findall(r"[+\-*/]|\bCASE\b|\bWHEN\b", arg or "", _re.I)
        )

    w = 0.0
    for a in parsed.aggregates:
        if a.is_quantile:
            w += QUANTILE_EXACT_BUFFER_COST
        elif a.func == "COUNT":
            # COUNT(expr) evaluates its argument per row just like SUM's —
            # only the bare COUNT(*)/COUNT(col) probe is cheap
            w += AGG_WORK_COUNT
            if not a.is_star:
                w += AGG_WORK_EXPR_OP * _ops(a.arg)
        else:
            w += AGG_WORK_SIMPLE + AGG_WORK_EXPR_OP * _ops(a.arg)
    if parsed.group_by:
        w += GROUP_HASH_WORK_PER_ROW
    return w


#: Assumed fraction of rows surviving an arbitrary WHERE when the planner
#: has no better signal. Deliberately pessimistic: a filtered query's
#: effective sample is f·N·selectivity, and round-1 bench showed 1/sqrt(f·N)
#: alone under-sizes the sample (where_sum rel_error 0.0503 > 0.05 contract).
WHERE_SELECTIVITY_DEFAULT = 0.3

#: Safety factor on the needed-fraction formula for filtered queries: the
#: 1/sqrt(n_eff) model ignores the value-CV of the summed column, so target
#: half the tolerance when a WHERE cuts effective n.
ERROR_SAFETY = 2.0


def sampling_error(n: int, fraction: float, selectivity: float = 1.0) -> float:
    eff = max(n * fraction * selectivity, 1.0)
    return 1.0 / (eff**0.5)


def histogram_fraction_leq(
    cdf: list[tuple[float, float]], v: float, inclusive: bool = True
) -> float | None:
    """Fraction of column mass ≤ v (or < v when ``inclusive=False``) from
    the equi-depth histogram ``analyze_table`` stores as an empirical CDF
    [(x, F(x)), …] — min, interior quantile boundaries, max. Repeated x
    values are point masses (heavy hitters): the inclusive form takes the
    LAST pair with x ≤ v (counting the whole point mass at v, the ``<=``
    semantics), the strict form the last pair with x < v (excluding it —
    what ``col >= v`` must complement, or a mass at v double-counts).
    Linear interpolation inside the straddling bin. Equi-depth is what
    makes range selectivity survive skew — each bin holds equal mass by
    construction, so a Zipf head can't hide inside a wide bin the way it
    does under equi-width or clustered (``histogram_numeric``) binning."""
    if not cdf or len(cdf) < 2:
        return None
    import bisect

    xs = [x for x, _ in cdf]
    if inclusive:
        if v < xs[0]:
            return 0.0
        if v >= xs[-1]:
            return 1.0
        i = bisect.bisect_right(xs, v) - 1
        if xs[i] == v:
            # exact knot: its stored F already includes the point mass —
            # return it directly (re-deriving it by interpolation can be
            # off by an ulp, breaking strict ≤ inclusive)
            return cdf[i][1]
    else:
        if v <= xs[0]:
            return 0.0
        if v > xs[-1]:
            return 1.0
        j = bisect.bisect_left(xs, v)
        if j < len(xs) and xs[j] == v:
            # exact knot, strict: the FIRST pair at v carries the mass
            # below v before its point mass
            return cdf[j][1] if j == 0 else min(cdf[j][1], 1.0)
        i = j - 1
    x0, f0 = cdf[i]
    x1, f1 = cdf[i + 1]
    if x1 <= x0:
        return f0
    return min(max(f0 + (f1 - f0) * (v - x0) / (x1 - x0), 0.0), 1.0)


def estimate_selectivity(parsed: ParsedQuery, catalog: Catalog) -> float:
    """Stats-driven selectivity for the WHERE clause — ALL-OR-NOTHING: the
    product of per-part estimates is used only when EVERY AND-part is a
    simple predicate ``col <op> literal`` — numeric, ``DATE 'y-m-d'``
    (compared in epoch days against date stats ``analyze_table`` stores in
    the same unit), or a quoted string (equality/inequality only, 1/ndv) —
    whose column resolves unambiguously AND has catalog stats
    (histogram-backed min/max from ``engine.analyze_table`` for range
    operators, ndv for equality). ``=`` prices by the histogram CDF's
    point mass at the literal when one exists (honest on Zipf heads),
    falling back to 1/ndv; ``<>``/``!=`` take the complement; a literal
    ``col IN (…)`` list sums the per-value equality masses (deduped,
    capped at 1); ``IS [NOT] NULL`` prices directly from the analyzed
    null fraction. Every comparison part carries a (1 − null_fraction)
    factor — the stats describe non-null values and comparisons never
    match NULLs. Range fractions prefer the stored equi-depth histogram CDF
    (mass-weighted, skew-proof) and fall back to uniform min/max
    interpolation when no histogram was collected. ``col BETWEEN lit AND
    lit`` desugars to the two inclusive range parts before the AND split
    (so the common ``BETWEEN DATE '…' AND DATE '…'`` shape is estimable).
    Unparenthesized OR combines disjuncts by inclusion–exclusion under
    independence (SQL precedence — AND binds tighter — makes a paren-free
    clause a disjunction of conjunctions, so the top-level OR split is
    exact on structure; same-column disjuncts underestimate slightly,
    which sizes fractions conservatively). NOT BETWEEN, any
    parenthesized/unknown part, or any ambiguous unqualified column in a
    join makes the whole clause fall back to
    :data:`WHERE_SELECTIVITY_DEFAULT` — exactly the pre-stats flat guess,
    never a compounded 0.3^k that would punish clauses the grammar merely
    failed to read (a naive split mangles BETWEEN's AND). Clamped to
    [0.01, 1.0]: the clamp floors the effective-n error model rather than
    letting one selective predicate demand a 100% 'sample'."""
    import re as _re

    where = parsed.where
    if not where:
        return 1.0
    if _re.search(r"\bNOT\s+(?:BETWEEN|IN)\b", where, _re.I):
        return WHERE_SELECTIVITY_DEFAULT
    # desugar YEAR(col) = k to the half-open date range BEFORE the paren
    # fallback (its parens are a function call, not boolean grouping);
    # strict `< jan-1-next` is correct for BOTH date and timestamp
    # columns (inclusive `<= dec-31` would drop a timestamp's intra-day
    # mass on the last day in the epoch-days stats)
    def _year_eq(m: "_re.Match[str]") -> str:
        col, y = m.group(1), int(m.group(2))
        return (
            f"{col} >= DATE '{y:04d}-01-01' AND {col} < DATE '{y + 1:04d}-01-01'"
        )

    where = _re.sub(
        r"\bYEAR\s*\(\s*([A-Za-z_][\w.]*)\s*\)\s*=\s*(\d{4})\b",
        _year_eq,
        where,
        flags=_re.I,
    )
    # desugar literal IN-lists to a paren-free marker BEFORE the paren
    # fallback (an IN-list's parens don't change boolean precedence);
    # the part grammar below prices the marker as a sum of point masses
    _lit = r"(?:-?\d+(?:\.\d+)?|DATE\s*'\d{4}-\d{2}-\d{2}'|'[^']*')"
    where = _re.sub(
        rf"\b([A-Za-z_][\w.]*)\s+IN\s*\(\s*({_lit}(?:\s*,\s*{_lit})*)\s*\)",
        r"\1 @IN@ \2",
        where,
        flags=_re.I,
    )
    if _re.search(r"\bIN\s*\(", where, _re.I):
        # IN over a subquery / non-literal list
        return WHERE_SELECTIVITY_DEFAULT
    # real SQL parenthesizes AND-groups routinely — strip the provably
    # safe ones (AND-joined simple predicates in boolean context; the
    # IN-lists above are already markers, so their commas ride along)
    # before the conservative guard
    where = flatten_and_parens(where)
    if "(" in where or ")" in where:
        # parentheses change boolean precedence in ways the flat split
        # cannot see — whole-clause fallback
        return WHERE_SELECTIVITY_DEFAULT
    # desugar BETWEEN before any boolean split; literal forms mirror the
    # per-part grammar below
    where = _re.sub(
        rf"\b([A-Za-z_][\w.]*)\s+BETWEEN\s+({_lit})\s+AND\s+({_lit})",
        r"\1 >= \2 AND \1 <= \3",
        where,
        flags=_re.I,
    )
    if _re.search(r"\bBETWEEN\b", where, _re.I):
        return WHERE_SELECTIVITY_DEFAULT

    def _resolve(raw_col: str) -> tuple[str, str] | None:
        """(table, column) a predicate column belongs to, or None when it
        can't be placed: unknown alias, or an unqualified column in a
        multi-table query (both tables could own that name — guessing
        would bind the WRONG table's stats)."""
        tables = getattr(parsed, "tables", None) or []
        if "." in raw_col:
            qual, _, col = raw_col.partition(".")
            for name, alias in tables:
                if qual == (alias or name):
                    return name, col
            if parsed.table_alias and qual == parsed.table_alias:
                return parsed.table, col
            return None
        if len(tables) > 1:
            return None
        return parsed.table, raw_col

    def _frac_leq(table: str, col: str, v: float, inclusive: bool) -> float | None:
        mm = catalog.get_column_minmax(table, col)
        if mm is None or mm[1] <= mm[0]:
            return None
        frac = histogram_fraction_leq(
            catalog.get_column_histogram(table, col) or [],
            v,
            inclusive=inclusive,
        )
        if frac is None:  # no histogram: uniform interpolation
            frac = min(max((v - mm[0]) / (mm[1] - mm[0]), 0.0), 1.0)
        return frac

    def _nullfree(table: str, col: str) -> float:
        """1 − null_fraction: min/max/histogram/ndv describe NON-NULL
        values, and comparison predicates never match NULL rows. Unknown
        null stat → 1.0 (pre-null-stats catalogs keep their estimates;
        analyze_table always records it now)."""
        nf = catalog.get_column_null_frac(table, col)
        return 1.0 - nf if nf is not None else 1.0

    def _eq_sel_nonnull(
        table: str,
        col: str,
        num_lit: str | None,
        date_lit: str | None,
        str_lit: str | None,
    ) -> float | None:
        """Equality selectivity among NON-NULL rows, or None (no stats).

        Numeric/date literals price by the equi-depth CDF's point mass at
        the literal first — the jump at v IS the heavy-hitter mass (1/ndv
        would underprice a Zipf head by orders of magnitude); a zero jump
        means v sits between knots — fall back to 1/ndv."""
        if str_lit is not None:
            # most-common values first (the string analog of the numeric
            # point mass): a heavy hitter prices at its true mass; a miss
            # spreads the remaining mass over the remaining distinct values
            mcv = catalog.get_column_mcv(table, col)
            ndv = catalog.get_column_ndv(table, col)
            if mcv:
                for value, frac in mcv:
                    if value == str_lit:
                        return frac
                if not ndv:
                    return None
                rest = max(1.0 - sum(f for _, f in mcv), 0.0)
                return rest / max(ndv - len(mcv), 1)
            if not ndv:
                return None
            return 1.0 / ndv
        if date_lit is not None:
            # analyze_table stores date/timestamp stats in epoch days,
            # so a DATE literal drops into the same numeric range math
            import datetime as _dt

            lit = float(
                (_dt.date.fromisoformat(date_lit) - _dt.date(1970, 1, 1)).days
            )
        else:
            lit = float(num_lit)
        f_inc = _frac_leq(table, col, lit, inclusive=True)
        f_strict = _frac_leq(table, col, lit, inclusive=False)
        if f_inc is not None and f_strict is not None and f_inc > f_strict:
            return f_inc - f_strict
        ndv = catalog.get_column_ndv(table, col)
        if not ndv:
            return None
        return 1.0 / ndv

    #: one literal of the IN-list marker / comparison grammar, with the
    #: three alternatives CAPTURED (numeric, DATE, quoted string)
    _lit_groups = (
        r"(?:(-?\d+(?:\.\d+)?)"  # numeric literal
        r"|DATE\s*'(\d{4}-\d{2}-\d{2})'"  # DATE literal
        r"|'([^']*)')"  # quoted string literal
    )

    def _conjunction_sel(clause: str) -> float | None:
        """Selectivity of one AND-chain of simple parts, or None when any
        part is outside the grammar / missing stats (ALL-OR-NOTHING)."""
        sel = 1.0
        #: (table, col) → [excluded_below, included_upto]: range parts on
        #: the SAME column combine as an INTERVAL (F(hi) − F(lo)), not an
        #: independence product — `a BETWEEN 10 AND 25` desugars to two
        #: parts whose product would overcount by (1−F(10))·F(25) vs the
        #: true F(25)−F(10)
        ranges: dict[tuple[str, str], list[float]] = {}
        #: columns whose (1 − null_frac) factor has been applied in THIS
        #: conjunction — `a = 5 AND a <= 10` excludes one null mass, not
        #: two (a second factor would double-discount toward the clamp)
        null_applied: set[tuple[str, str]] = set()

        def _nullfree_once(table: str, col: str) -> float:
            if (table, col) in null_applied:
                return 1.0
            null_applied.add((table, col))
            return _nullfree(table, col)
        for part in _re.split(r"\bAND\b", clause, flags=_re.I):
            m = _re.fullmatch(
                r"\s*([A-Za-z_][\w.]*)\s+IS\s+(NOT\s+)?NULL\s*", part, _re.I
            )
            if m:
                resolved = _resolve(m.group(1))
                if resolved is None:
                    return None
                nf = catalog.get_column_null_frac(*resolved)
                if nf is None:  # IS NULL has no estimate without the stat
                    return None
                sel *= (1.0 - nf) if m.group(2) else nf
                continue
            m = _re.fullmatch(
                rf"\s*([A-Za-z_][\w.]*)\s+@IN@\s+({_lit}(?:\s*,\s*{_lit})*)\s*",
                part,
                _re.I,
            )
            if m:
                resolved = _resolve(m.group(1))
                if resolved is None:
                    return None
                table, col = resolved
                total = 0.0
                # findall tokenizes literals as units (a comma inside a
                # quoted string is not a separator); dedupe — repeated
                # values must not double their mass. Case-insensitive to
                # match the desugar that built the @IN@ marker — a
                # lowercase `date '…'` must tokenize as a DATE literal,
                # not a quoted string priced off string MCV stats.
                for item in dict.fromkeys(
                    t.strip() for t in _re.findall(_lit, m.group(2), _re.I)
                ):
                    im = _re.fullmatch(_lit_groups, item, _re.I)
                    e = _eq_sel_nonnull(
                        table, col, im.group(1), im.group(2), im.group(3)
                    )
                    if e is None:
                        return None
                    total += e
                sel *= min(total, 1.0) * _nullfree_once(table, col)
                continue
            m = _re.fullmatch(
                rf"\s*([A-Za-z_][\w.]*)\s*(<=|>=|<>|!=|<|>|=)\s*"
                rf"{_lit_groups}\s*",
                part,
                _re.I,
            )
            if not m:
                return None
            resolved = _resolve(m.group(1))
            if resolved is None:
                return None
            table, col = resolved
            op = m.group(2)
            num_lit, date_lit, str_lit = m.group(3), m.group(4), m.group(5)
            if op in ("=", "<>", "!="):
                e = _eq_sel_nonnull(table, col, num_lit, date_lit, str_lit)
                if e is None:
                    return None
                if op == "=":
                    sel *= e * _nullfree_once(table, col)
                else:  # != excludes the point mass AND the nulls
                    sel *= max(1.0 - e, 0.0) * _nullfree_once(table, col)
                continue
            if str_lit is not None:
                # range comparison on strings has no stats model here
                return None
            if date_lit is not None:
                import datetime as _dt

                lit = float(
                    (_dt.date.fromisoformat(date_lit) - _dt.date(1970, 1, 1)).days
                )
            else:
                lit = float(num_lit)
            # boundary masses matter on discrete columns: `<` / `>=`
            # use the strict CDF so a point mass AT the literal lands
            # on the correct side of the cut
            bounds = ranges.setdefault((table, col), [0.0, 1.0])
            if op in ("<", "<="):
                frac = _frac_leq(table, col, lit, inclusive=(op == "<="))
                if frac is None:
                    return None
                bounds[1] = min(bounds[1], frac)
            else:  # > / >= exclude the mass at-or-below the cut
                frac = _frac_leq(table, col, lit, inclusive=(op == ">"))
                if frac is None:
                    return None
                bounds[0] = max(bounds[0], frac)
        for (table, col), (excluded_below, included_upto) in ranges.items():
            sel *= max(included_upto - excluded_below, 0.0) * _nullfree_once(
                table, col
            )
        return sel

    # paren-free SQL is a disjunction of conjunctions (AND binds tighter):
    # split on OR, estimate each conjunction, combine by
    # inclusion–exclusion under independence
    disjunct_sels = []
    for clause in _re.split(r"\bOR\b", where, flags=_re.I):
        s = _conjunction_sel(clause)
        if s is None:
            return WHERE_SELECTIVITY_DEFAULT
        disjunct_sels.append(s)
    if len(disjunct_sels) == 1:
        sel = disjunct_sels[0]
    else:
        miss = 1.0
        for s in disjunct_sels:
            miss *= 1.0 - s
        sel = 1.0 - miss
    return min(max(sel, 0.01), 1.0)


class Planner:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    # ------------------------------------------------------------------
    def table_row_count(self, table: str, allow_scan: bool = True) -> int | None:
        """Catalog stats first; on miss, optionally count ONCE and cache
        (reference planner.py:142-185 falls back to a live COUNT)."""
        n = self.catalog.get_row_count(table)
        if n is not None:
            return n
        if not allow_scan:
            return None
        try:
            n = self.spark.table(table).count()
        except Exception:
            return None
        self.catalog.upsert_table_stats(table, n)
        return n

    # ------------------------------------------------------------------
    def plan(
        self,
        sql: str,
        max_rel_error: float = 0.05,
        prefer_exact: bool = False,
        forced_strategy: str | None = None,
        seed: int = 42,
        parsed: ParsedQuery | None = UNPARSED,
    ) -> dict[str, Any]:
        """Produce a reference-shaped plan dict with the rewritten SQL.

        Short-circuits mirror reference planner.py:21-78: unparseable/
        unsupported → exact; direct sample-table query → scaled sample plan;
        prefer_exact → exact; no stats → exact. ``parsed``: the caller's
        ``try_parse_any(sql)``, if it has one.
        """
        if parsed is UNPARSED:
            parsed = try_parse_any(sql)
        if parsed is None or isinstance(parsed, JoinedQuery):
            if (
                parsed is not None
                and not prefer_exact
                and forced_strategy in (None, "sample")
            ):
                return self._plan_join(parsed, sql, max_rel_error, seed)
            return self._exact(sql, None, "query outside approximable grammar "
                               "(joins/subqueries/set-ops execute exactly)")

        # Direct query against a registered sample table (reference
        # planner.py:39-50): scale by the catalog fraction.
        direct = self.catalog.get_sample(parsed.table)
        if direct is not None:
            if parsed.is_aggregate_query and not parsed.has_distinct:
                try:
                    if direct.allocation_type == "weighted":
                        rw = rewriter.rewrite_weighted_sample(parsed, direct)
                    elif direct.strata_column:
                        rw = rewriter.rewrite_stratified(parsed, direct)
                    else:
                        rw = rewriter.rewrite_uniform_sample(parsed, direct)
                except (rewriter.UnsupportedRewriteError, UnsupportedQueryError) as e:
                    return self._exact(
                        sql, parsed.table, f"direct sample-table scan ({e})"
                    )
                return rewriter.plan_dict(
                    rw, sql, direct.table_name,
                    sample_cost(direct.row_count, 1.0),
                    sampling_error(direct.row_count, 1.0),
                    f"direct query on sample table {parsed.table}; "
                    "results scaled by catalog fraction",
                )
            return self._exact(sql, parsed.table, "direct sample-table scan")

        if prefer_exact:
            return self._exact(sql, parsed.table, "prefer_exact requested")

        if not parsed.is_aggregate_query:
            return self._exact(sql, parsed.table, "non-aggregate query: exact")

        n = self.table_row_count(parsed.table)
        if n is None:
            return self._exact(sql, parsed.table, "no table statistics: exact")

        # Filter unforced first so the exact candidate's cost is always
        # known (under a forced strategy _filter would drop it), then
        # apply the forced-strategy narrowing with identical semantics.
        cands = self.candidates(parsed, n, max_rel_error, None)
        exact_cost_val = next(
            (c.cost for c in cands if c.strategy == "exact"), None
        )
        if forced_strategy:
            forced_ok = [c for c in cands if c.strategy == forced_strategy]
            cands = forced_ok or cands
        best = min(cands, key=lambda c: c.cost)
        plan = self.realize(parsed, sql, best, n, max_rel_error, seed)
        # The exact candidate's cost rides along so downstream speedup
        # estimates can use the model's own ratio instead of the
        # reference's optimistic 1/f (a 1% sample is ~5-7x at the
        # measured big tier, not 100x — scan reduction isn't wall-clock).
        plan["cost_exact"] = exact_cost_val
        return plan

    # ------------------------------------------------------------------
    def candidates(
        self,
        parsed: ParsedQuery,
        n: int,
        max_rel_error: float,
        forced_strategy: str | None = None,
    ) -> list[Candidate]:
        out = [
            Candidate(
                "exact",
                exact_cost(n, parsed.has_group_by),
                0.0,
                reason="full scan, zero error",
            )
        ]
        # Unfiltered COUNT(*)-only: parquet answers from row-group footer
        # metadata without touching data pages (~0.07 s even at 120M rows,
        # bench-measured), and the catalog already holds the row count —
        # no sample can beat a free exact answer, and a sampled estimate
        # here is pure error for zero savings (round-5 bench `count200`
        # was the one weak plan). Priced at zero so exact always wins.
        if (
            not parsed.where
            and not parsed.has_group_by
            and parsed.aggregates
            and all(
                a.func == "COUNT" and a.is_star and not a.distinct
                for a in parsed.aggregates
            )
        ):
            out[0].cost = 0.0
            out[0].reason = (
                "unfiltered COUNT(*): parquet footer metadata count, "
                "no data scan — exact is free"
            )
            return self._filter(out, max_rel_error, forced_strategy)
        # DISTINCT aggregates are never sampled (biased — SURVEY.md §2.6).
        # COUNT(DISTINCT) → the sketch candidate (full scan, HLL++, no
        # sampling; any other aggregates in the query run exact within it);
        # SUM/AVG(DISTINCT) without a COUNT(DISTINCT) → exact only.
        if parsed.has_distinct:
            cd = [a for a in parsed.aggregates if a.distinct and a.func == "COUNT"]
            if cd:
                rsd = min(max(max_rel_error / rewriter.Z_95, MIN_RSD), MAX_RSD)
                ndv = self._distinct_ndv(parsed, cd)
                if ndv is None:
                    # No cardinality stats: reference-verbatim flat sketch
                    # cost (reference planner.py:13-19).
                    sketch_cost = SKETCH_QUERY_COST
                    sketch_reason = f"approx_count_distinct HLL++ (rsd={rsd:.4f})"
                else:
                    # Catalog knows the column's ndv (learned from a sketch
                    # build): price both sides realistically. Both scan N
                    # rows; HLL pays a per-row register-update premium,
                    # exact pays an ndv-proportional dedup/shuffle. Low-ndv
                    # columns are genuinely faster exact (round-1 bench:
                    # big_distinct sketch 0.92x on ndv≈0.005·N).
                    sketch_cost = (
                        n * SCAN_COST_PER_ROW * SKETCH_CPU_FACTOR
                        + SKETCH_QUERY_COST
                    )
                    out[0].cost += ndv * HASH_COST_PER_GROUP
                    out[0].reason = (
                        f"COUNT(DISTINCT) with catalog ndv={ndv}: exact "
                        "hash-agg dedups map-side; priced vs HLL per-row "
                        "register updates"
                    )
                    sketch_reason = (
                        f"approx_count_distinct HLL++ (rsd={rsd:.4f}, "
                        f"catalog ndv={ndv})"
                    )
                out.append(
                    Candidate("sketch", sketch_cost, rsd, reason=sketch_reason)
                )
            return self._filter(out, max_rel_error, forced_strategy)

        if parsed.has_min_max and not (
            parsed.has_count or parsed.has_sum or parsed.has_avg
            or parsed.has_quantile
        ):
            # MIN/MAX-only: not approximable (reference README contract).
            # Quantiles ARE approximable: the p-th quantile of a uniform
            # sample estimates the population quantile unscaled, with an
            # order-statistic CI (rewriter._AggScaler.quantile_with_ci).
            return self._filter(out, max_rel_error, forced_strategy)

        # A WHERE clause shrinks the effective sample to f·N·selectivity;
        # plan against the discounted n so filtered queries get honest error
        # estimates and a padded fraction (round-1 where_sum overshoot).
        # Stats-driven when the catalog knows the predicate columns'
        # ranges/ndv; the flat pessimistic default otherwise.
        sel = estimate_selectivity(parsed, self.catalog)

        # Per-row aggregate work: the compute the exact plan spends on ALL
        # N rows and a sample plan spends only on f·N. Scan-bound queries
        # (w below the inline rand() premium) honestly stay exact when no
        # pre-built sample exists — the measured inline filter is slower
        # than just finishing the scan there.
        w = per_row_agg_work(parsed)
        out[0].cost += n * w
        if w <= INLINE_PREDICATE_COST_PER_ROW:
            out[0].reason = (
                "scan-bound aggregate (per-row work below the inline "
                "sampling premium): finishing the exact scan is faster "
                "than filtering it"
            )

        # Stratified sample whose strata definition is covered by the GROUP
        # BY columns (makes the reference's vestigial stratified strategy
        # real; multi-column strata match when every source column appears).
        # Quantile sketch path: approx_percentile keeps O(accuracy) state
        # per group vs exact PERCENTILE's per-group value buffer — the
        # scale answer when no sample gets there. Rank error 1/accuracy
        # maps to a tiny estimated error, so it stays feasible whenever
        # sampling error would blow the tolerance.
        if parsed.has_quantile:
            # Exact PERCENTILE buffers every value per group and sorts at
            # the end — per_row_agg_work already priced that in (the
            # QUANTILE_EXACT_BUFFER_COST term) so the cost ordering
            # reflects the real state sizes (sample f·N < sketch
            # O(accuracy) < exact O(values)).
            out[0].reason = (
                "exact PERCENTILE: per-group value buffer + sort priced in"
            )
            out.append(
                Candidate(
                    "sketch",
                    n * SCAN_COST_PER_ROW * QUANTILE_SKETCH_CPU_FACTOR
                    + SKETCH_QUERY_COST,
                    1.0 / QUANTILE_SKETCH_ACCURACY,
                    reason=(
                        "approx_percentile quantile summary "
                        f"(accuracy={QUANTILE_SKETCH_ACCURACY}, rank error "
                        f"<= {1.0 / QUANTILE_SKETCH_ACCURACY:.0e})"
                    ),
                )
            )

        # Quantiles are eligible under ALL designs since round 4: uniform
        # rides sampling invariance; stratified/PPS use the weighted-
        # frequency PERCENTILE form (rewriter._AggScaler.scaled).
        #: smallest group size among strata matching the GROUP BY, if any
        #: stratified sample's metadata reveals the group cardinalities —
        #: a grouped query's error contract is PER GROUP, so when the
        #: catalog knows the group sizes, every sampling candidate gets
        #: priced on its worst group instead of the global row count
        min_group_n: int | None = None
        if parsed.has_group_by:
            group_cols = {
                _unqualify(g.strip(), parsed.table_alias) for g in parsed.group_by
            }
            for s in self.catalog.stratified_samples_for_table(parsed.table):
                source = set(s.strata_source_cols or [s.strata_column])
                if source <= group_cols:
                    if s.strata:
                        pops = [st.pop_size for st in s.strata if st.pop_size]
                        if pops:
                            mg = min(pops)
                            min_group_n = (
                                mg if min_group_n is None else min(min_group_n, mg)
                            )
                        # the per-group guarantee of a stratified design is
                        # its WORST stratum's achieved sample size — this
                        # is where Neyman allocation's extra rows in small/
                        # high-variance strata become a priced advantage
                        # over uniform at the same overall fraction
                        err = max(
                            sampling_error(st.sample_size, 1.0, sel)
                            for st in s.strata
                        )
                    else:
                        err = sampling_error(n, s.sample_fraction, sel)
                    out.append(
                        Candidate(
                            "stratified",
                            sample_cost(n, s.sample_fraction, work=w),
                            err,
                            sample=s,
                            reason=f"stratified sample on {s.strata_column} "
                            f"({s.allocation_type}; worst-stratum error "
                            f"{err:.4f})",
                        )
                    )

        # Measure-biased (PPS) samples: near-optimal for SUM/AVG of the
        # biasing measure; listed before uniform so ties prefer them when a
        # summed expression references the measure column.
        for s in self.catalog.weighted_samples_for_table(parsed.table):
            # PPS is only safe when EVERY scalable aggregate targets the
            # biasing measure (word-boundary match, not substring): COUNT or
            # sums of other columns have huge variance under these weights,
            # which would silently violate the error contract.
            import re as _re

            pat = _re.compile(rf"\b{_re.escape(s.variance_column)}\b")
            scalable = [a for a in parsed.aggregates if a.func in ("COUNT", "SUM", "AVG")]
            references_measure = bool(scalable) and all(
                a.func in ("SUM", "AVG") and pat.search(a.arg) for a in scalable
            )
            if references_measure:
                # cost: actual rows scanned (PPS keeps far fewer rows than
                # the design fraction suggests — heavy rows are certain,
                # the tail is cheap). error: based on the DESIGN fraction —
                # for the biasing measure, PPS variance is far below what
                # the achieved head-count implies (mass is captured), so
                # 1/sqrt(f_target·N) is already conservative.
                out.append(
                    Candidate(
                        "weighted",
                        sample_cost(n, s.sample_fraction, work=w),
                        sampling_error(n, s.target_fraction) * 0.5,
                        sample=s,
                        reason=f"measure-biased sample on {s.variance_column} "
                        f"(rows={s.row_count}, design f={s.target_fraction:.4f})",
                    )
                )

        # Pre-built uniform samples. When the GROUP BY's group sizes are
        # known (min_group_n from a matching stratified sample's metadata),
        # a uniform design's per-group error is driven by its smallest
        # group — f·min_group_n rows land there, not f·N. Pricing it
        # honestly is what lets a Neyman-allocated stratified sample beat
        # uniform at the same overall fraction on merit, not tie-break.
        err_n = min_group_n if min_group_n is not None else n
        for s in self.catalog.uniform_samples_for_table(parsed.table):
            out.append(
                Candidate(
                    "sample",
                    sample_cost(n, s.sample_fraction, work=w),
                    sampling_error(err_n, s.sample_fraction, sel),
                    sample=s,
                    reason=f"pre-built uniform sample (f={s.sample_fraction:.4f})",
                )
            )

        # Inline scan-time sample at the ladder fraction
        # (reference ml_optimizer.py:204-212).
        f = inline_fraction_for(err_n, max_rel_error, selectivity=sel)
        out.append(
            Candidate(
                "sample",
                inline_sample_cost(n, f, work=w),
                sampling_error(err_n, f, sel),
                inline_fraction=f,
                reason=f"inline seeded Bernoulli sampling predicate (f={f:.4f})",
            )
        )
        return self._filter(out, max_rel_error, forced_strategy)

    def _distinct_ndv(self, parsed: ParsedQuery, cd: list) -> int | None:
        """Catalog ndv for the COUNT(DISTINCT col) column, if the query has
        exactly one and the catalog learned the cardinality (sketch build).
        Multi-arg / expression arguments get no estimate — flat-cost path."""
        if len(cd) != 1:
            return None
        col = _unqualify(cd[0].arg.strip(), parsed.table_alias)
        if not col.replace("_", "").isalnum():
            return None  # expression, not a plain column
        return self.catalog.get_column_ndv(parsed.table, col)

    @staticmethod
    def _filter(
        cands: list[Candidate], max_rel_error: float, forced: str | None
    ) -> list[Candidate]:
        ok = [c for c in cands if c.error <= max_rel_error]
        if not ok:
            ok = [c for c in cands if c.strategy == "exact"]
        if forced:
            forced_ok = [c for c in ok if c.strategy == forced]
            if forced_ok:
                return forced_ok
        return ok

    # ------------------------------------------------------------------
    def realize(
        self,
        parsed: ParsedQuery,
        sql: str,
        cand: Candidate,
        n: int,
        max_rel_error: float,
        seed: int = 42,
    ) -> dict[str, Any]:
        if cand.strategy == "exact":
            return self._exact(sql, parsed.table, cand.reason or "exact chosen by cost",
                               cost=cand.cost)
        try:
            if cand.strategy == "sketch":
                if parsed.has_quantile and not parsed.has_distinct:
                    rw = rewriter.rewrite_quantile_sketch(
                        parsed, QUANTILE_SKETCH_ACCURACY
                    )
                else:
                    rw = rewriter.rewrite_sketch(parsed, cand.error)
            elif cand.strategy == "weighted":
                rw = rewriter.rewrite_weighted_sample(parsed, cand.sample)
            elif cand.strategy == "stratified":
                rw = rewriter.rewrite_stratified(parsed, cand.sample)
            elif cand.sample is not None:
                # n_rows sizes the quantile rank-band CIs: discount by the
                # SAME selectivity the error model used (stats-driven when
                # analyzed, flat default otherwise) so the realized band
                # matches the model the plan was admitted under
                n_eff = n * estimate_selectivity(parsed, self.catalog)
                rw = rewriter.rewrite_uniform_sample(
                    parsed, cand.sample, n_rows=n_eff
                )
            else:
                n_eff = n * estimate_selectivity(parsed, self.catalog)
                rw = rewriter.rewrite_inline_sample(
                    parsed, cand.inline_fraction, seed, n_rows=n_eff
                )
        except (rewriter.UnsupportedRewriteError, UnsupportedQueryError) as e:
            return self._exact(sql, parsed.table, f"not approximable: {e}")
        return rewriter.plan_dict(rw, sql, parsed.table, cand.cost, cand.error, cand.reason)

    def _plan_join(
        self, jq, sql: str, max_rel_error: float, seed: int
    ) -> dict[str, Any]:
        """Join-level AQP (beyond-reference): for an inner star join with
        scalable aggregates, sample the FACT side — the largest table by
        catalog stats — inside the join and apply the standard HT
        scaling. One-sided sampling keeps per-output-row inclusion
        probabilities exact for ANY aggregated column (each output row
        descends from exactly one fact row), so dims stay exact and
        still broadcast. Declines (→ exact) when: no aggregates, any
        DISTINCT aggregate, no stats for every table, or the fact is too
        small for sampling to pay."""
        scalable = any(
            a.func in ("COUNT", "SUM", "AVG", "MEDIAN", "PERCENTILE")
            for a in jq.aggregates
        )
        if not scalable or jq.has_distinct:
            # mirrors the single-table gate: MIN/MAX-only queries are not
            # approximable (a sample MIN is biased with no CI), DISTINCT
            # aggregates never sample
            return self._exact(
                sql, jq.tables[0][0],
                "join with non-scalable select list: exact",
            )
        sizes = {}
        for name, _alias in jq.tables:
            n = self.table_row_count(name, allow_scan=False)
            if n is None:
                return self._exact(
                    sql, jq.tables[0][0],
                    f"no table statistics for {name}: exact join",
                )
            sizes[name] = n
        fact = max(sizes, key=sizes.get)
        n_fact = sizes[fact]
        dims_cost = sum(v for k, v in sizes.items() if k != fact)
        # stats-driven where available (alias-resolved per table), the
        # flat pessimistic default otherwise — same rule as single-table
        sel = estimate_selectivity(jq, self.catalog)
        f = inline_fraction_for(n_fact, max_rel_error, selectivity=sel)
        err = sampling_error(n_fact, f, sel)
        cands = [
            Candidate(
                "exact",
                exact_cost(n_fact, jq.has_group_by)
                + n_fact * JOIN_WORK_PER_FACT_ROW
                + dims_cost,
                0.0,
                reason="exact join, zero error",
            ),
            Candidate(
                "sample",
                inline_sample_cost(n_fact, f, work=JOIN_WORK_PER_FACT_ROW)
                + dims_cost,
                err,
                inline_fraction=f,
                reason=(
                    f"fact-side sample inside the join (fact={fact}, "
                    f"n={n_fact}, f={f:.4f}; dims exact)"
                ),
            ),
        ]
        # Pre-built uniform samples of the fact: scan f·N rows instead of
        # filtering all N — the scale form of the fact-side sample.
        for s in self.catalog.uniform_samples_for_table(fact):
            cands.append(
                Candidate(
                    "sample",
                    sample_cost(
                        n_fact, s.sample_fraction, work=JOIN_WORK_PER_FACT_ROW
                    )
                    + dims_cost,
                    sampling_error(n_fact, s.sample_fraction, sel),
                    sample=s,
                    reason=(
                        f"pre-built fact sample {s.sample_table} inside "
                        f"the join (fact={fact}, achieved "
                        f"f={s.sample_fraction:.4f}; dims exact)"
                    ),
                )
            )
        best = min(self._filter(cands, max_rel_error, None), key=lambda c: c.cost)
        if best.strategy == "exact":
            return self._exact(sql, fact, best.reason, cost=best.cost)
        try:
            if best.sample is not None:
                rw = rewriter.rewrite_join_fact_sample(
                    jq, fact,
                    fraction=best.sample.sample_fraction,
                    sample_table=best.sample.sample_table,
                    n_rows=n_fact,
                )
            else:
                rw = rewriter.rewrite_join_fact_sample(
                    jq, fact, fraction=best.inline_fraction, seed=seed,
                    n_rows=n_fact,
                )
        except (rewriter.UnsupportedRewriteError, UnsupportedQueryError) as e:
            # cands[0] is the exact-join candidate: pass its cost so the
            # reported cost_exact carries the JOIN_WORK_PER_FACT_ROW +
            # dims terms, consistent with the approximable branches
            # (a bare single-table exact_cost would skew speedup
            # calibration for declined joins).
            return self._exact(
                sql, fact, f"not approximable: {e}", cost=cands[0].cost
            )
        out = rewriter.plan_dict(rw, sql, fact, best.cost, best.error, best.reason)
        out["cost_exact"] = cands[0].cost  # exact-join candidate
        return out

    def _exact(
        self, sql: str, table: str | None, reason: str, cost: float | None = None
    ) -> dict[str, Any]:
        rw = rewriter.rewrite_exact(None, sql)
        if cost is None:
            n = self.catalog.get_row_count(table) if table else None
            cost = exact_cost(n, False) if n else 0.0
        out = rewriter.plan_dict(rw, sql, table, cost, 0.0, reason)
        out["cost_exact"] = cost  # ratio 1: exact IS the baseline
        return out


def _unqualify(col: str, alias: str | None) -> str:
    """Strip a table-alias qualifier so 'l.l_returnflag' matches a strata
    definition recorded as 'l_returnflag'."""
    if alias and col.startswith(alias + "."):
        return col[len(alias) + 1 :]
    return col


def inline_fraction_for(
    n: int, max_rel_error: float, selectivity: float = 1.0
) -> float:
    """Sample-fraction ladder (reference ml_optimizer.py:204-212): by table
    size 0.01 / 0.02 / 0.05, halved when tolerance is loose (>0.1); then
    raised if needed so the expected error 1/sqrt(f·N) meets the tolerance.

    ``selectivity < 1`` (query has a WHERE): the ladder fraction doubles and
    the feasibility formula targets tolerance/:data:`ERROR_SAFETY` on the
    discounted effective n — round 1 showed the plain model lands right on
    the contract edge (where_sum 0.0503 vs 0.05)."""
    if n > 100_000:
        f = 0.01
    elif n > 50_000:
        f = 0.02
    else:
        f = 0.05
    if max_rel_error > 0.1:
        f = f / 2.0
    if selectivity < 1.0:
        f = min(f * 2.0, 0.5)
        needed = ERROR_SAFETY**2 / (
            max_rel_error**2 * max(n * selectivity, 1.0)
        )
    else:
        # tolerance feasibility: need f >= 1/(tol² · N)
        needed = 1.0 / (max_rel_error**2 * max(n, 1))
    return max(f, min(needed, 0.5))
