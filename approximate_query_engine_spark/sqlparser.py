"""Restricted SQL parser for the approximable query surface.

The reference extracts query features and rewrites SQL with regexes
(reference planner.py:80-140, ml_optimizer.py:65-113) — including a
malformed character class (planner.py:99) that SURVEY.md flags. This module
replaces that with a small, honest clause parser for the supported grammar:

    SELECT item [, item ...]
    FROM <single table>
    [WHERE <predicate>]
    [GROUP BY col [, col ...]]
    [HAVING <predicate>]
    [ORDER BY expr [ASC|DESC] [, ...]]
    [LIMIT n]

Anything outside the grammar (joins, subqueries, CTEs, set ops, multiple
tables) raises :class:`UnsupportedQueryError`; callers must fall back to
exact Spark SQL pass-through and never approximate such queries — matching
the reference's effective single-table behavior (SURVEY.md §2.3).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

AGG_FUNCS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "MEDIAN", "PERCENTILE")

# Clause keywords that delimit the top-level structure. Order matters.
_CLAUSES = ("SELECT", "FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT")

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


class ParseError(ValueError):
    """The SQL string is malformed for the restricted grammar."""


class UnsupportedQueryError(ParseError):
    """Valid SQL, but outside the approximable grammar (joins, subqueries,
    set ops, CTEs...). Callers must execute exactly, never approximate."""


@dataclass
class Aggregate:
    """One aggregate call in the select list."""

    func: str  # COUNT / SUM / AVG / MIN / MAX (uppercased)
    arg: str  # raw argument text ('*' for COUNT(*))
    distinct: bool
    raw: str  # the full original expression text (without alias)

    @property
    def is_star(self) -> bool:
        return self.arg.strip() == "*"

    @property
    def is_quantile(self) -> bool:
        return self.func in ("MEDIAN", "PERCENTILE")

    def quantile_args(self) -> tuple[str, float]:
        """(value expression, percentile level p) for MEDIAN/PERCENTILE.
        MEDIAN(x) is p=0.5; PERCENTILE(x, p) takes a literal p in [0, 1]
        (a non-literal p is outside the approximable grammar)."""
        if self.func == "MEDIAN":
            return self.arg.strip(), 0.5
        parts = _split_top_commas(self.arg)
        if len(parts) != 2:
            raise UnsupportedQueryError(
                f"PERCENTILE expects (expr, p): {self.raw}"
            )
        try:
            p = float(parts[1])
        except ValueError:
            raise UnsupportedQueryError(
                f"PERCENTILE level must be a numeric literal: {self.raw}"
            ) from None
        if not 0.0 <= p <= 1.0:
            raise UnsupportedQueryError(
                f"PERCENTILE level must be in [0, 1]: {self.raw}"
            )
        return parts[0].strip(), p


@dataclass
class SelectItem:
    raw: str  # expression text (without alias)
    alias: str | None
    agg: Aggregate | None  # set when the item is a single top-level aggregate

    @property
    def output_name(self) -> str:
        """The result-column name this item produces."""
        return self.alias if self.alias else self.raw


@dataclass
class OrderItem:
    expr: str
    desc: bool = False

    def render(self) -> str:
        return f"{self.expr} DESC" if self.desc else self.expr


@dataclass
class ParsedQuery:
    select_items: list[SelectItem]
    table: str
    table_alias: str | None = None
    where: str | None = None
    group_by: list[str] = field(default_factory=list)
    having: str | None = None
    order_by: list[OrderItem] = field(default_factory=list)
    limit: int | None = None

    # ---- feature accessors (reference ml_optimizer.py:94-113 parity) ----
    @property
    def aggregates(self) -> list[Aggregate]:
        return [it.agg for it in self.select_items if it.agg is not None]

    def _has(self, func: str) -> bool:
        return any(a.func == func for a in self.aggregates)

    @property
    def has_count(self) -> bool:
        return self._has("COUNT")

    @property
    def has_sum(self) -> bool:
        return self._has("SUM")

    @property
    def has_avg(self) -> bool:
        return self._has("AVG")

    @property
    def has_min_max(self) -> bool:
        return self._has("MIN") or self._has("MAX")

    @property
    def has_distinct(self) -> bool:
        return any(a.distinct for a in self.aggregates)

    @property
    def has_quantile(self) -> bool:
        return self._has("MEDIAN") or self._has("PERCENTILE")

    @property
    def has_group_by(self) -> bool:
        return bool(self.group_by)

    @property
    def where_complexity(self) -> int:
        """Count of AND/OR in WHERE (reference ml_optimizer.py:108-111)."""
        if not self.where:
            return 0
        return len(re.findall(r"\b(?:AND|OR)\b", self.where, re.IGNORECASE))

    @property
    def is_aggregate_query(self) -> bool:
        return bool(self.aggregates)

    # ---- rendering ----
    def render(
        self,
        table_override: str | None = None,
        select_override: list[str] | None = None,
        extra_where: str | None = None,
    ) -> str:
        """Reconstruct SQL, optionally substituting the table (the
        table→sample rewrite, reference planner.py:242 / ml_optimizer.py:227),
        the select list (expression-level agg scaling) and an injected
        sampling predicate (reference ml_optimizer.py:236-239)."""
        if select_override is not None:
            sel = ", ".join(select_override)
        else:
            parts = []
            for it in self.select_items:
                parts.append(f"{it.raw} AS {it.alias}" if it.alias else it.raw)
            sel = ", ".join(parts)
        # the alias survives table substitution so alias-qualified column
        # references keep resolving against the (sample) table
        from_body = table_override or self.table
        if self.table_alias:
            from_body += f" {self.table_alias}"
        sql = f"SELECT {sel} FROM {from_body}"
        where = self.where
        if extra_where:
            where = f"({where}) AND ({extra_where})" if where else extra_where
        if where:
            sql += f" WHERE {where}"
        if self.group_by:
            sql += " GROUP BY " + ", ".join(self.group_by)
        if self.having:
            sql += f" HAVING {self.having}"
        if self.order_by:
            sql += " ORDER BY " + ", ".join(o.render() for o in self.order_by)
        if self.limit is not None:
            sql += f" LIMIT {self.limit}"
        return sql


# ---------------------------------------------------------------------------
# tokenized clause splitting


def _strip_comments(sql: str) -> str:
    sql = re.sub(r"--[^\n]*", " ", sql)
    sql = re.sub(r"/\*.*?\*/", " ", sql, flags=re.DOTALL)
    return sql


def _scan_top_level(sql: str):
    """Yield (pos, upper_char) for characters at paren-depth 0, outside
    string literals."""
    depth = 0
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            i = j + 1
            continue
        if c == '"':
            j = sql.find('"', i + 1)
            i = (j if j != -1 else n) + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                raise ParseError("unbalanced parentheses")
        if depth == 0:
            yield i, c
        i += 1


def _find_clause_spans(sql: str) -> list[tuple[str, int, int]]:
    """Locate top-level clause keywords; return (clause, body_start, body_end)."""
    upper = sql.upper()
    top_positions = [i for i, _ in _scan_top_level(sql)]
    top = set(top_positions)
    hits: list[tuple[int, str, int]] = []  # (kw_start, clause, body_start)
    for clause in _CLAUSES:
        pattern = re.compile(r"\b" + clause.replace(" ", r"\s+") + r"\b")
        for m in pattern.finditer(upper):
            if m.start() in top:
                hits.append((m.start(), clause, m.end()))
    hits.sort()
    spans = []
    for idx, (kw_start, clause, body_start) in enumerate(hits):
        body_end = hits[idx + 1][0] if idx + 1 < len(hits) else len(sql)
        spans.append((clause, body_start, body_end))
        if idx == 0 and clause != "SELECT":
            raise ParseError("query must start with SELECT")
    return spans


def _split_top_commas(text: str) -> list[str]:
    parts, last = [], 0
    for i, c in _scan_top_level(text):
        if c == ",":
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return [p.strip() for p in parts if p.strip()]


_AGG_RE = re.compile(
    r"^(COUNT|SUM|AVG|MIN|MAX|MEDIAN|PERCENTILE)\s*\(\s*(DISTINCT\s+)?(.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_ALIAS_RE = re.compile(
    r"^(.*?)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\")\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parens_balanced(text: str) -> bool:
    depth = 0
    for c in text:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


def _parse_select_item(text: str) -> SelectItem:
    alias = None
    m = _ALIAS_RE.match(text)
    if m:
        expr, alias = m.group(1).strip(), m.group(2).strip('"')
    else:
        expr = text.strip()
    agg = None
    am = _AGG_RE.match(expr)
    if am:
        inner = am.group(3).strip()
        # only a *top-level* single agg call qualifies: the argument's parens
        # must balance without closing the outer one (reject SUM(a)+SUM(b),
        # whose regex 'argument' would be "a) + SUM(b").
        if _parens_balanced(inner):
            agg = Aggregate(
                func=am.group(1).upper(),
                arg=inner,
                distinct=bool(am.group(2)),
                raw=expr,
            )
    return SelectItem(raw=expr, alias=alias, agg=agg)


_UNSUPPORTED_RE = re.compile(
    r"\b(JOIN|UNION|INTERSECT|EXCEPT|WITH|OVER|WINDOW)\b", re.IGNORECASE
)


def parse(sql: str) -> ParsedQuery:
    """Parse ``sql`` into a :class:`ParsedQuery` or raise.

    Raises :class:`UnsupportedQueryError` for out-of-grammar constructs —
    the caller's contract is to execute such queries exactly.
    """
    sql = _strip_comments(sql).strip().rstrip(";").strip()
    if not sql:
        raise ParseError("empty query")
    # Top-level scan also validates paren balance.
    top_chars = "".join(c for _, c in _scan_top_level(sql))
    if _UNSUPPORTED_RE.search(top_chars):
        raise UnsupportedQueryError("joins/set-ops/CTEs/windows are exact-only")

    spans = _find_clause_spans(sql)
    clauses = {}
    for clause, s, e in spans:
        if clause in clauses:
            raise UnsupportedQueryError(f"duplicate {clause} clause")
        clauses[clause] = sql[s:e].strip()
    if "SELECT" not in clauses or "FROM" not in clauses:
        raise UnsupportedQueryError("only SELECT ... FROM ... is supported")

    from_body = clauses["FROM"]
    if "," in from_body or "(" in from_body:
        raise UnsupportedQueryError("multi-table / subquery FROM is exact-only")
    from_tokens = from_body.split()
    table_alias = None
    if len(from_tokens) == 1 and _IDENT_RE.match(from_tokens[0]):
        table = from_tokens[0]
    elif (
        len(from_tokens) == 2
        and _IDENT_RE.match(from_tokens[0])
        and _IDENT_RE.match(from_tokens[1])
        and from_tokens[1].upper() != "AS"  # dangling 'FROM t AS' is malformed
    ):
        table, table_alias = from_tokens
    elif (
        len(from_tokens) == 3
        and _IDENT_RE.match(from_tokens[0])
        and from_tokens[1].upper() == "AS"
        and _IDENT_RE.match(from_tokens[2])
    ):
        table, table_alias = from_tokens[0], from_tokens[2]
    else:
        raise UnsupportedQueryError(f"unsupported FROM clause: {from_body!r}")

    select_items = [_parse_select_item(t) for t in _split_top_commas(clauses["SELECT"])]
    if not select_items:
        raise ParseError("empty select list")

    group_by = _split_top_commas(clauses["GROUP BY"]) if "GROUP BY" in clauses else []

    order_by = []
    for t in _split_top_commas(clauses.get("ORDER BY", "")):
        mo = re.match(r"^(.*?)\s+(ASC|DESC)\s*$", t, re.IGNORECASE | re.DOTALL)
        if mo:
            order_by.append(
                OrderItem(mo.group(1).strip(), mo.group(2).upper() == "DESC")
            )
        else:
            order_by.append(OrderItem(t))

    limit = None
    if "LIMIT" in clauses:
        body = clauses["LIMIT"].strip()
        if not body.isdigit():
            raise UnsupportedQueryError(f"unsupported LIMIT: {body!r}")
        limit = int(body)

    return ParsedQuery(
        select_items=select_items,
        table=table,
        table_alias=table_alias,
        where=clauses.get("WHERE"),
        group_by=group_by,
        having=clauses.get("HAVING"),
        order_by=order_by,
        limit=limit,
    )


def try_parse(sql: str) -> ParsedQuery | None:
    """Best-effort parse; None when exact pass-through is required."""
    try:
        return parse(sql)
    except ParseError:
        return None


# ---------------------------------------------------------------------------
# star joins (beyond-reference: join-level AQP through the SQL surface)


@dataclass
class JoinedQuery(ParsedQuery):
    """A restricted inner-join query: ``FROM t0 [a0] JOIN t1 [a1] ON c1
    [JOIN t2 [a2] ON c2]*``. Inherits the select/where/group/having
    machinery from :class:`ParsedQuery`; ``table`` is unused (the FROM
    body is the join expression). Sampling ONE designated table (the
    fact) gives every join-output row the same inclusion probability —
    each output row descends from exactly one fact row — so the generic
    Horvitz–Thompson scaling applies to aggregates over ANY column."""

    #: [(table_name, alias_or_None)] in FROM order; tables[0] is t0
    tables: list = field(default_factory=list)
    #: the original FROM body text
    from_body: str = ""

    def alias_of(self, table: str) -> str:
        for name, alias in self.tables:
            if name == table:
                return alias or name
        raise KeyError(table)

    def from_with_sampled(self, table: str, predicate: str) -> str:
        """The FROM body with ``table``'s reference replaced by a sampled
        subquery keeping its alias (so qualified references resolve)."""
        return self.from_with_replacement(
            table, f"(SELECT * FROM {table} WHERE {predicate})"
        )

    def from_with_replacement(self, table: str, replacement: str) -> str:
        """The FROM body with ``table``'s reference replaced by
        ``replacement`` (a subquery or another table, e.g. a pre-built
        sample), keeping the original alias so qualified references
        resolve unchanged."""
        for name, alias in self.tables:
            if name != table:
                continue
            if alias:
                pat = re.compile(
                    rf"\b{re.escape(name)}(\s+AS)?\s+{re.escape(alias)}\b",
                    re.IGNORECASE,
                )
            else:
                pat = re.compile(rf"\b{re.escape(name)}\b")
            sub = f"{replacement} {alias or name}"
            out, n_subs = pat.subn(sub, self.from_body, count=1)
            if n_subs != 1:
                raise ParseError(f"could not locate {table} in FROM body")
            return out
        raise KeyError(table)

    def render(
        self,
        table_override: str | None = None,
        select_override: list[str] | None = None,
        extra_where: str | None = None,
        from_override: str | None = None,
    ) -> str:
        if select_override is not None:
            sel = ", ".join(select_override)
        else:
            sel = ", ".join(
                f"{it.raw} AS {it.alias}" if it.alias else it.raw
                for it in self.select_items
            )
        sql = f"SELECT {sel} FROM {from_override or self.from_body}"
        where = self.where
        if extra_where:
            where = f"({where}) AND ({extra_where})" if where else extra_where
        if where:
            sql += f" WHERE {where}"
        if self.group_by:
            sql += " GROUP BY " + ", ".join(self.group_by)
        if self.having:
            sql += f" HAVING {self.having}"
        if self.order_by:
            sql += " ORDER BY " + ", ".join(o.render() for o in self.order_by)
        if self.limit is not None:
            sql += f" LIMIT {self.limit}"
        return sql


_JOIN_VARIANT_RE = re.compile(
    r"\b(LEFT|RIGHT|FULL|CROSS|SEMI|ANTI|OUTER|NATURAL|LATERAL)\b",
    re.IGNORECASE,
)
_OTHER_UNSUPPORTED_RE = re.compile(
    r"\b(UNION|INTERSECT|EXCEPT|WITH|OVER|WINDOW)\b", re.IGNORECASE
)


def _parse_table_ref(text: str) -> tuple[str, str | None]:
    toks = text.split()
    if len(toks) == 1 and _IDENT_RE.match(toks[0]):
        return toks[0], None
    if (
        len(toks) == 2
        and _IDENT_RE.match(toks[0])
        and _IDENT_RE.match(toks[1])
        and toks[1].upper() != "AS"
    ):
        return toks[0], toks[1]
    if (
        len(toks) == 3
        and _IDENT_RE.match(toks[0])
        and toks[1].upper() == "AS"
        and _IDENT_RE.match(toks[2])
    ):
        return toks[0], toks[2]
    raise UnsupportedQueryError(f"unsupported table reference: {text!r}")


def parse_join(sql: str) -> JoinedQuery:
    """Parse a restricted INNER star-join query. Raises
    :class:`UnsupportedQueryError` outside the grammar (outer/cross
    variants, set ops, subqueries) — callers execute those exactly."""
    sql = _strip_comments(sql).strip().rstrip(";").strip()
    if not sql:
        raise ParseError("empty query")
    top_chars = "".join(c for _, c in _scan_top_level(sql))
    if _OTHER_UNSUPPORTED_RE.search(top_chars):
        raise UnsupportedQueryError("set-ops/CTEs/windows are exact-only")
    if _JOIN_VARIANT_RE.search(top_chars):
        raise UnsupportedQueryError(
            "only plain INNER JOIN is approximable; other variants are "
            "exact-only"
        )
    if not re.search(r"\bJOIN\b", top_chars, re.IGNORECASE):
        raise UnsupportedQueryError("not a join query")

    spans = _find_clause_spans(sql)
    clauses = {}
    for clause, s, e in spans:
        if clause in clauses:
            raise UnsupportedQueryError(f"duplicate {clause} clause")
        clauses[clause] = sql[s:e].strip()
    if "SELECT" not in clauses or "FROM" not in clauses:
        raise UnsupportedQueryError("only SELECT ... FROM ... is supported")

    from_body = clauses["FROM"]
    if "(" in from_body or "," in from_body:
        raise UnsupportedQueryError("subquery/comma FROM is exact-only")
    segments = re.split(r"\bJOIN\b", from_body, flags=re.IGNORECASE)
    if re.search(r"\bINNER\s*$", segments[0], re.IGNORECASE):
        segments[0] = re.sub(r"\bINNER\s*$", "", segments[0], flags=re.IGNORECASE)
    tables = [_parse_table_ref(segments[0].strip())]
    for seg in segments[1:]:
        seg = re.sub(r"\bINNER\s*$", "", seg, flags=re.IGNORECASE)
        m = re.search(r"\bON\b", seg, re.IGNORECASE)
        if not m:
            raise UnsupportedQueryError("JOIN without ON is exact-only")
        tables.append(_parse_table_ref(seg[: m.start()].strip()))

    select_items = [
        _parse_select_item(t) for t in _split_top_commas(clauses["SELECT"])
    ]
    if not select_items:
        raise ParseError("empty select list")
    group_by = (
        _split_top_commas(clauses["GROUP BY"]) if "GROUP BY" in clauses else []
    )
    order_by = []
    for t in _split_top_commas(clauses.get("ORDER BY", "")):
        mo = re.match(r"^(.*?)\s+(ASC|DESC)\s*$", t, re.IGNORECASE | re.DOTALL)
        if mo:
            order_by.append(
                OrderItem(mo.group(1).strip(), mo.group(2).upper() == "DESC")
            )
        else:
            order_by.append(OrderItem(t))
    limit = None
    if "LIMIT" in clauses:
        body = clauses["LIMIT"].strip()
        if not body.isdigit():
            raise UnsupportedQueryError(f"unsupported LIMIT: {body!r}")
        limit = int(body)
    return JoinedQuery(
        select_items=select_items,
        table=tables[0][0],
        table_alias=tables[0][1],
        where=clauses.get("WHERE"),
        group_by=group_by,
        having=clauses.get("HAVING"),
        order_by=order_by,
        limit=limit,
        tables=tables,
        from_body=from_body,
    )


def try_parse_join(sql: str) -> JoinedQuery | None:
    """Best-effort star-join parse; None → exact pass-through."""
    try:
        return parse_join(sql)
    except ParseError:
        return None


def try_parse_any(sql: str) -> ParsedQuery | None:
    """The single-table parse, else the star-join parse (a
    :class:`JoinedQuery`), else None → exact pass-through."""
    parsed = try_parse(sql)
    return parsed if parsed is not None else try_parse_join(sql)


#: ``parsed=`` default: none handed in, so parse ``sql`` here. A handed-in
#: None means "outside the grammar" and is never parsed again.
UNPARSED: object = object()


# ---------------------------------------------------------------------------
# WHERE-clause normalization shared by the selectivity estimator
# (planner.estimate_selectivity) and partition-pruning derivation
# (operators.partitioning.derive_bucket_predicate). Both use a flat
# AND/OR split that parentheses would silently mis-read, so they bail on
# any "(" — but real SQL parenthesizes AND-groups routinely. This
# flattener removes ONLY the provably-safe parens so those clauses stay
# estimable; anything it declines to touch still hits the callers'
# conservative paren fallback.

# ---------------------------------------------------------------------------
# segment-overlap idioms (round 11, VERDICT r10 #3): the two canonical SQL
# shapes a BI user writes for "how many distinct keys are in BOTH segments".
# Recognized so the engine can serve them from materialized theta-sketch
# rollup state (engine._route_overlap_sql) instead of executing the exact
# set computation, and so unrouted hits can feed the theta advisor
# (engine._record_overlap_candidate) — the one state family plain
# rollup-shaped SQL can never imply. Reference parity: the reference has no
# set-algebra surface at all (its sketches.py stops at single-sketch
# distinct counts); this extends the q96/q100/q108 engine-API family to the
# SQL surface.


@dataclass
class OverlapQuery:
    """A recognized segment-overlap query: COUNT of distinct ``key_col``
    present in BOTH the ``segment_col = lit_a`` and ``segment_col =
    lit_b`` slices of ``table``. ``idiom`` records which shape matched:

    - ``"self_join"``: SELECT COUNT(DISTINCT a.key) FROM t a JOIN t b ON
      a.key = b.key WHERE a.seg = lit_a AND b.seg = lit_b. NULL keys
      never join, so the exact semantics already exclude NULLs — safe to
      serve from sketches unconditionally.
    - ``"intersect"``: SELECT COUNT(*) FROM (SELECT key FROM t WHERE seg
      = lit_a INTERSECT SELECT key FROM t WHERE seg = lit_b), with or
      without a WITH-CTE wrapping. INTERSECT treats two NULLs as equal,
      so the exact answer can include one NULL row a sketch can never
      count — callers must prove the key column null-free before routing
      this idiom (engine gates on fresh analyzed null_frac == 0).

    Both idioms take an optional TIME WINDOW — the dashboard form
    ("overlap last week"). In the SELF-JOIN idiom the window must be
    stated SYMMETRICALLY (a ``col >= TIMESTAMP 'lo'`` and a ``col <
    TIMESTAMP 'hi'`` conjunct per alias, identical bounds and column on
    both sides) — asymmetric bounds inside one join are a different,
    murkier question and are rejected. In the set-op idiom each BRANCH
    is its own set, so each may carry its own window (``lo``/``hi`` for
    branch A, ``lo_b``/``hi_b`` for branch B) — that is the
    cross-period form ("segment X last week vs segment Y this week").

    The set-op idiom also comes UNSEGMENTED (``segment_col``/``lit_*``
    = None): two windowed slices of the SAME key column combined with
    INTERSECT ("returning users": in both periods) or EXCEPT
    ("churned"/"new": in one period, not the other — ``set_op``
    records which, branch order preserved). At least one branch must be
    windowed or segmented; a fully unconstrained pair is the identity
    question and is rejected.

    Round 12 (VERDICT r11 #2) adds the UNION arm — the third audience
    question, "either segment" reach:

    - ``set_op = "union"`` in the set-op idiom: SELECT COUNT(*) FROM
      (SELECT key ... UNION SELECT key ...). NOTE: SQL UNION keeps a
      NULL key as one distinct row (verified against DuckDB), so like
      INTERSECT/EXCEPT this spelling routes only under the proven
      null_frac == 0 gate.
    - ``idiom = "seg_in"``: SELECT COUNT(DISTINCT key) FROM t WHERE seg
      IN (lit_1, ..., lit_n) [AND symmetric time window] — the
      one-table spelling of the same reach question, N-ARY (two or more
      segments; ``lits`` carries all of them in written order,
      ``lit_a``/``lit_b`` the first two). COUNT(DISTINCT) IGNORES
      NULLs, so this spelling needs no null gate (it is the exact
      semantics theta_union computes). The optional window applies to
      every branch (``lo_b``/``hi_b`` mirror ``lo``/``hi``). The
      routed form is ONE ``theta_union_agg`` state scan filtered to
      the listed segments, not per-branch subqueries.
    """

    table: str
    key_col: str
    segment_col: str | None
    lit_a: str | None  # literal text as written, e.g. "'click'" or "3"
    lit_b: str | None
    alias: str  # required output-column alias
    idiom: str  # "self_join" | "intersect" | "seg_in"
    time_col: str | None = None
    lo: str | None = None  # branch A window (bare timestamp text)
    hi: str | None = None
    lo_b: str | None = None  # branch B window; self-join mirrors A's
    hi_b: str | None = None
    set_op: str = "intersect"  # "intersect" | "except" | "union"
    #: seg_in only: ALL the IN-list literals in written order (N >= 2)
    lits: tuple[str, ...] | None = None
    #: set-op UNION (round 13, VERDICT r12 #3) or INTERSECT (round 14,
    #: VERDICT r13 #2) only, N > 2 branches: per-branch
    #: (literal, lo, hi) in written order (literal None when
    #: unsegmented, lo/hi None when unwindowed). Both operators are
    #: associative, so an N-branch chain is well-defined regardless of
    #: grouping. UNION is additionally idempotent, so its routed form
    #: is ONE theta_union_agg state scan whose WHERE is the OR of the
    #: branch conditions; INTERSECT routes as N per-branch state unions
    #: combined with nested theta_intersection ("users in ALL N
    #: segments"). EXCEPT stays binary — it is NOT associative, so an
    #: unparenthesized chain is order-dependent and ambiguous.
    branches: tuple[tuple[str | None, str | None, str | None], ...] | None = (
        None
    )


#: string literal (with '' escape) or numeric literal
_LIT = r"(?:'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
_OV_SEG_PRED_RE = re.compile(
    rf"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*({_LIT})$", re.DOTALL
)
_OV_FROM_RE = re.compile(
    r"^([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+(?:INNER\s+)?JOIN\s+"
    r"([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ON\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_OV_ON_RE = re.compile(
    r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)$"
)
_OV_COUNT_RE = re.compile(
    r"^COUNT\s*\(\s*DISTINCT\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\)$",
    re.IGNORECASE,
)
_OV_BRANCH_RE = re.compile(
    r"^SELECT\s+(?:DISTINCT\s+)?([A-Za-z_]\w*)\s+FROM\s+([A-Za-z_]\w*)"
    r"\s+WHERE\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_OV_BARE_SEG_RE = re.compile(
    rf"^([A-Za-z_]\w*)\s*=\s*({_LIT})$", re.DOTALL
)
#: time-window conjunct: [alias.]col >=|< TIMESTAMP '...'
_OV_TIME_RE = re.compile(
    r"^(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*(>=|<)\s*"
    r"TIMESTAMP\s*'((?:[^']|'')*)'$",
    re.IGNORECASE | re.DOTALL,
)
_OV_CTE_REF_RE = re.compile(
    r"^SELECT\s+(?:\*|DISTINCT\s+[A-Za-z_]\w*|[A-Za-z_]\w*)\s+FROM\s+"
    r"([A-Za-z_]\w*)$",
    re.IGNORECASE | re.DOTALL,
)


def _split_top_keyword(text: str, keyword: str) -> list[str]:
    """Split ``text`` on top-level (outside parens/literals) ``keyword``
    token boundaries."""
    masked = _mask_string_literals(text)
    positions = []
    top = {i for i, _c in _scan_top_level(masked)}
    for m in re.finditer(rf"\b{keyword}\b", masked, re.IGNORECASE):
        if m.start() in top:
            positions.append((m.start(), m.end()))
    parts, last = [], 0
    for s, e in positions:
        parts.append(text[last:s])
        last = e
    parts.append(text[last:])
    return [p.strip() for p in parts]


def _strip_outer_parens(text: str) -> str:
    text = text.strip()
    while text.startswith("(") and text.endswith(")"):
        # only strip when the opening paren closes at the very end
        depth = 0
        for i, c in enumerate(_mask_string_literals(text)):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
        if i != len(text) - 1:
            break
        text = text[1:-1].strip()
    return text


def parse_overlap(sql: str) -> OverlapQuery:
    """Parse ``sql`` as one of the two overlap idioms or raise
    :class:`UnsupportedQueryError` (callers fall back to exact
    pass-through — the contract everywhere else in this module)."""
    sql = _strip_comments(sql).strip().rstrip(";").strip()
    if not sql:
        raise ParseError("empty query")
    # dispatch on TOKENS in a literal-masked copy: a column named
    # `intersects` or a string literal containing 'INTERSECT' must not
    # misroute a valid self-join idiom into the INTERSECT parser
    masked = _mask_string_literals(sql)
    if re.match(r"^\s*WITH\b", masked, re.IGNORECASE) or re.search(
        r"\b(?:INTERSECT|EXCEPT|UNION)\b", masked, re.IGNORECASE
    ):
        return _parse_overlap_intersect(sql)
    if re.search(r"\bJOIN\b", masked, re.IGNORECASE):
        return _parse_overlap_self_join(sql)
    if re.search(r"\bIN\b", masked, re.IGNORECASE):
        return _parse_overlap_in(sql)
    raise UnsupportedQueryError("not an overlap idiom")


def _parse_overlap_self_join(sql: str) -> OverlapQuery:
    spans = _find_clause_spans(sql)
    clauses: dict[str, str] = {}
    for clause, s, e in spans:
        if clause in clauses:
            raise UnsupportedQueryError(f"duplicate {clause} clause")
        clauses[clause] = sql[s:e].strip()
    if set(clauses) != {"SELECT", "FROM", "WHERE"}:
        raise UnsupportedQueryError(
            "overlap self-join idiom is exactly SELECT ... FROM ... WHERE"
        )
    items = _split_top_commas(clauses["SELECT"])
    if len(items) != 1:
        raise UnsupportedQueryError("overlap idiom has one select item")
    it = _parse_select_item(items[0])
    if it.alias is None:
        raise UnsupportedQueryError(
            "overlap routing requires an explicit AS alias on the count"
        )
    cm = _OV_COUNT_RE.match(it.raw.strip())
    if not cm:
        raise UnsupportedQueryError(
            "overlap idiom counts COUNT(DISTINCT alias.key)"
        )
    cnt_qual, cnt_key = cm.group(1), cm.group(2)
    fm = _OV_FROM_RE.match(clauses["FROM"].strip())
    if not fm:
        raise UnsupportedQueryError("not a two-table inner self-join")
    t1, a1, t2, a2, on_body = fm.groups()
    if _JOIN_VARIANT_RE.search(clauses["FROM"]):
        raise UnsupportedQueryError("only plain INNER JOIN is an overlap")
    if t1.lower() != t2.lower():
        raise UnsupportedQueryError("overlap self-join joins a table to itself")
    if a1.lower() == a2.lower():
        raise UnsupportedQueryError("self-join aliases must be distinct")
    om = _OV_ON_RE.match(on_body.strip())
    if not om:
        raise UnsupportedQueryError("ON must equate one column across aliases")
    q1, k1, q2, k2 = om.groups()
    aliases = {a1.lower(), a2.lower()}
    if {q1.lower(), q2.lower()} != aliases or k1.lower() != k2.lower():
        raise UnsupportedQueryError("ON must equate the SAME key across BOTH aliases")
    key = k1
    if cnt_qual.lower() not in aliases or cnt_key.lower() != key.lower():
        raise UnsupportedQueryError("COUNT(DISTINCT) must count the join key")
    conjuncts = _split_top_keyword(clauses["WHERE"], "AND")
    by_alias: dict[str, tuple[str, str]] = {}
    seg_cols = set()
    # per alias: list of (col, op, bare-literal) time-bound conjuncts
    time_by_alias: dict[str, list[tuple[str, str, str]]] = {}
    for c in conjuncts:
        c = c.strip()
        pm = _OV_SEG_PRED_RE.match(c)
        if pm:
            qual, col, lit = pm.groups()
            if qual.lower() not in aliases or qual.lower() in by_alias:
                raise UnsupportedQueryError(
                    "one segment predicate per alias"
                )
            if col.lower() == key.lower():
                raise UnsupportedQueryError(
                    "segment column must differ from key"
                )
            by_alias[qual.lower()] = (col, lit)
            seg_cols.add(col.lower())
            continue
        tm = _OV_TIME_RE.match(c)
        if tm:
            qual, col, op, lit = tm.groups()
            if qual is None or qual.lower() not in aliases:
                raise UnsupportedQueryError(
                    "time bounds must be alias-qualified"
                )
            time_by_alias.setdefault(qual.lower(), []).append(
                (col, op, lit)
            )
            continue
        raise UnsupportedQueryError(f"not an overlap predicate: {c!r}")
    if len(seg_cols) != 1 or set(by_alias) != aliases:
        raise UnsupportedQueryError(
            "both sides must filter the SAME segment column, one per side"
        )
    time_col, lo, hi = _validate_symmetric_window(
        time_by_alias, sorted(aliases)
    )
    (seg_a, lit_a), (seg_b, lit_b) = by_alias[a1.lower()], by_alias[a2.lower()]
    return OverlapQuery(
        table=t1,
        key_col=key,
        segment_col=seg_a,
        lit_a=lit_a,
        lit_b=lit_b,
        alias=it.alias,
        idiom="self_join",
        time_col=time_col,
        lo=lo,
        hi=hi,
        lo_b=lo,
        hi_b=hi,
    )


def _validate_symmetric_window(
    time_by_alias: dict[str, list[tuple[str, str, str]]],
    aliases: list[str],
) -> tuple[str | None, str | None, str | None]:
    """(time_col, lo, hi) when every alias/branch carries the IDENTICAL
    ``col >= lo`` + ``col < hi`` pair; (None, None, None) when no time
    bounds at all. Anything asymmetric — bounds on one side only, a
    lone >= or <, differing columns or literals — raises: it is a
    DIFFERENT question than windowed overlap and must pass through
    exact rather than be silently symmetrized."""
    if not time_by_alias:
        return None, None, None
    if set(time_by_alias) != set(aliases):
        raise UnsupportedQueryError(
            "time window must bound BOTH sides of the overlap"
        )
    windows = set()
    for preds in time_by_alias.values():
        if len(preds) != 2:
            raise UnsupportedQueryError(
                "time window is one >= and one < bound per side"
            )
        ops = {op: (col, lit) for col, op, lit in preds}
        if set(ops) != {">=", "<"}:
            raise UnsupportedQueryError(
                "time window is one >= and one < bound per side"
            )
        (lo_col, lo), (hi_col, hi) = ops[">="], ops["<"]
        if lo_col.lower() != hi_col.lower():
            raise UnsupportedQueryError(
                "time window bounds must share one column"
            )
        windows.add((lo_col.lower(), lo, hi))
    if len(windows) != 1:
        raise UnsupportedQueryError(
            "time window must be identical on both sides"
        )
    col_l, lo, hi = next(iter(windows))
    # return the column as WRITTEN (first occurrence), not lowercased
    first = next(iter(time_by_alias.values()))[0][0]
    return (first if first.lower() == col_l else col_l), lo, hi


def _parse_overlap_intersect(sql: str) -> OverlapQuery:
    ctes: dict[str, tuple] = {}  # name -> branch parts
    rest = sql
    m = re.match(r"^\s*WITH\s+", rest, re.IGNORECASE)
    if m:
        rest = rest[m.end():]
        while True:
            hm = re.match(r"^([A-Za-z_]\w*)\s+AS\s*\(", rest, re.IGNORECASE)
            if not hm:
                raise UnsupportedQueryError("malformed CTE header")
            name = hm.group(1)
            body, end = _extract_balanced(rest, hm.end() - 1)
            ctes[name.lower()] = _parse_overlap_branch(body)
            rest = rest[end:].lstrip()
            if rest.startswith(","):
                rest = rest[1:].lstrip()
                continue
            break
        if not 2 <= len(ctes) <= 16:
            raise UnsupportedQueryError(
                "overlap CTE idiom takes two to sixteen CTEs"
            )
    mm = re.match(
        r"^SELECT\s+COUNT\s*\(\s*\*\s*\)\s+AS\s+([A-Za-z_]\w*)\s+FROM\s*\(",
        rest,
        re.IGNORECASE,
    )
    if not mm:
        raise UnsupportedQueryError(
            "overlap set-op idiom is SELECT COUNT(*) AS alias FROM (...)"
        )
    alias = mm.group(1)
    inner, end = _extract_balanced(rest, mm.end() - 1)
    tail = rest[end:].strip()
    if tail and not re.match(r"^(?:AS\s+)?[A-Za-z_]\w*$", tail, re.IGNORECASE):
        raise UnsupportedQueryError(f"unexpected trailing clause: {tail!r}")
    masked_inner = _mask_string_literals(inner)
    if re.search(
        r"\b(?:INTERSECT|EXCEPT|UNION)\s+ALL\b", masked_inner, re.IGNORECASE
    ):
        raise UnsupportedQueryError(
            "INTERSECT/EXCEPT/UNION ALL is bag semantics, not a "
            "distinct overlap"
        )
    present = [
        op
        for op in ("INTERSECT", "EXCEPT", "UNION")
        if re.search(rf"\b{op}\b", masked_inner, re.IGNORECASE)
    ]
    if len(present) != 1:
        raise UnsupportedQueryError("exactly one set operator")
    set_op = present[0].lower()
    sides = _split_top_keyword(inner, present[0])
    if len(sides) != 2 and set_op == "except":
        # EXCEPT is not associative: A EXCEPT B EXCEPT C depends on the
        # (unstated) grouping, so a chain is ambiguous and must pass
        # through exact. UNION (round 13) and INTERSECT (round 14,
        # VERDICT r13 #2) are associative and generalize N-ary.
        raise UnsupportedQueryError("EXCEPT chains are binary only")
    if not 2 <= len(sides) <= 16:
        raise UnsupportedQueryError("set-op idiom takes two to sixteen branches")
    branches = []
    for side in sides:
        side = _strip_outer_parens(side)
        rm = _OV_CTE_REF_RE.match(side)
        if rm and rm.group(1).lower() in ctes:
            branch = ctes[rm.group(1).lower()]
            # a projected column must be the branch's key column
            sel = re.match(
                r"^SELECT\s+(?:DISTINCT\s+)?([A-Za-z_*]\w*)\s+FROM",
                side,
                re.IGNORECASE,
            )
            if sel and sel.group(1) != "*" and (
                sel.group(1).lower() != branch[1].lower()
            ):
                raise UnsupportedQueryError("CTE projection must be the key")
            branches.append(branch)
        else:
            branches.append(_parse_overlap_branch(side))
    (ta, ka, sa, _la, _wa) = branches[0]
    for (tb, kb, sb, _lb, _wb) in branches[1:]:
        if ta.lower() != tb.lower() or ka.lower() != kb.lower():
            raise UnsupportedQueryError(
                "all set-op sides must slice the same table and key"
            )
        if (sa is None) != (sb is None):
            raise UnsupportedQueryError(
                "segment either on all sides or none"
            )
        if sa is not None and sa.lower() != sb.lower():
            raise UnsupportedQueryError(
                "all sides must filter the SAME segment column"
            )
    windows = [_branch_window(w) for (_t, _k, _s, _l, w) in branches]
    tcols = {c.lower() for c, _lo, _hi in windows if c is not None}
    if len(tcols) > 1:
        raise UnsupportedQueryError(
            "all windows must bound the same time column"
        )
    tcol = next(
        (c for c, _lo, _hi in windows if c is not None), None
    )
    if sa is None and all(c is None for c, _lo, _hi in windows):
        raise UnsupportedQueryError(
            "unsegmented unwindowed set-op is the identity question"
        )
    if sa is None and len(branches) > 2 and any(
        c is None for c, _lo, _hi in windows
    ):
        # one unconstrained branch degenerates the question (the whole
        # key set: UNION's absorbing element, INTERSECT's identity);
        # the binary form already enforces this via the all-None check
        # above, the N-ary form must per-branch
        raise UnsupportedQueryError(
            "every unsegmented set-op branch needs its own window"
        )
    if len(branches) == 2:
        (_, _, _, la, _), (_, _, _, lb, _) = branches
        (_, lo_a, hi_a), (_, lo_b, hi_b) = windows
        return OverlapQuery(
            table=ta,
            key_col=ka,
            segment_col=sa,
            lit_a=la,
            lit_b=lb,
            alias=alias,
            idiom="intersect",
            time_col=tcol,
            lo=lo_a,
            hi=hi_a,
            lo_b=lo_b,
            hi_b=hi_b,
            set_op=set_op,
        )
    # N-ary UNION reach (round 13) / INTERSECT (round 14): carry every
    # branch's (literal, lo, hi); the engine routes UNION as ONE state
    # scan and INTERSECT as N state unions intersected sketch-side
    lits = tuple(l for (_t, _k, _s, l, _w) in branches)
    first_win = next(
        ((lo, hi) for _c, lo, hi in windows if lo is not None),
        (None, None),
    )
    return OverlapQuery(
        table=ta,
        key_col=ka,
        segment_col=sa,
        lit_a=lits[0],
        lit_b=lits[1],
        alias=alias,
        idiom="intersect",
        time_col=tcol,
        lo=first_win[0],
        hi=first_win[1],
        set_op=set_op,
        branches=tuple(
            (l, lo, hi)
            for (_t, _k, _s, l, _w), (_c, lo, hi) in zip(branches, windows)
        ),
    )


def _branch_window(
    preds: list[tuple[str, str, str]],
) -> tuple[str | None, str | None, str | None]:
    """(time_col, lo, hi) from one branch's time conjuncts: exactly one
    ``>=`` and one ``<`` on a single column, or no bounds at all. A
    half-open branch (a lone >= or <) raises — it is a different
    question than a windowed slice."""
    if not preds:
        return None, None, None
    if len(preds) != 2:
        raise UnsupportedQueryError(
            "branch window is one >= and one < bound"
        )
    ops = {op: (col, lit) for col, op, lit in preds}
    if set(ops) != {">=", "<"}:
        raise UnsupportedQueryError(
            "branch window is one >= and one < bound"
        )
    (lo_col, lo), (hi_col, hi) = ops[">="], ops["<"]
    if lo_col.lower() != hi_col.lower():
        raise UnsupportedQueryError("window bounds must share one column")
    return lo_col, lo, hi


def _parse_overlap_branch(
    text: str,
) -> tuple[str, str, str, str, list[tuple[str, str, str]]]:
    """(table, key, segment_col, literal, time_preds) from ``SELECT
    [DISTINCT] key FROM t WHERE seg = lit [AND ts >= TIMESTAMP '...'
    AND ts < TIMESTAMP '...']``."""
    bm = _OV_BRANCH_RE.match(_strip_outer_parens(text))
    if not bm:
        raise UnsupportedQueryError(f"not an overlap branch: {text!r}")
    key, table, where = bm.groups()
    seg = lit = None
    time_preds: list[tuple[str, str, str]] = []
    for c in _split_top_keyword(where, "AND"):
        c = c.strip()
        sm = _OV_BARE_SEG_RE.match(c)
        if sm:
            if seg is not None:
                raise UnsupportedQueryError(
                    "one segment predicate per branch"
                )
            seg, lit = sm.groups()
            continue
        tm = _OV_TIME_RE.match(c)
        if tm:
            qual, col, op, tlit = tm.groups()
            if qual is not None:
                raise UnsupportedQueryError(
                    "branch time bounds must be unqualified"
                )
            time_preds.append((col, op, tlit))
            continue
        raise UnsupportedQueryError(f"not an overlap predicate: {c!r}")
    if seg is None and not time_preds:
        raise UnsupportedQueryError(f"not an overlap branch: {text!r}")
    if seg is not None and seg.lower() == key.lower():
        raise UnsupportedQueryError("segment column must differ from key")
    return table, key, seg, lit, time_preds


_OV_IN_COUNT_RE = re.compile(
    r"^COUNT\s*\(\s*DISTINCT\s+([A-Za-z_]\w*)\s*\)$", re.IGNORECASE
)
_OV_IN_PRED_RE = re.compile(
    rf"^([A-Za-z_]\w*)\s+IN\s*\(\s*({_LIT}(?:\s*,\s*{_LIT})+)\s*\)$",
    re.IGNORECASE | re.DOTALL,
)
_OV_IN_LIT_RE = re.compile(_LIT, re.DOTALL)


def _parse_overlap_in(sql: str) -> OverlapQuery:
    """The one-table reach spelling (round 12, VERDICT r11 #2):
    ``SELECT COUNT(DISTINCT key) AS alias FROM t WHERE seg IN (lit_a,
    lit_b) [AND ts >= TIMESTAMP 'lo' AND ts < TIMESTAMP 'hi']`` —
    semantically |keys(seg=a) ∪ keys(seg=b)| with NULL keys ignored
    (COUNT DISTINCT's contract), i.e. exactly a theta union of the two
    segment slices. The optional window is a single >=/< pair applying
    to both branches."""
    spans = _find_clause_spans(sql)
    clauses: dict[str, str] = {}
    for clause, s, e in spans:
        if clause in clauses:
            raise UnsupportedQueryError(f"duplicate {clause} clause")
        clauses[clause] = sql[s:e].strip()
    if set(clauses) != {"SELECT", "FROM", "WHERE"}:
        raise UnsupportedQueryError(
            "overlap IN idiom is exactly SELECT ... FROM ... WHERE"
        )
    items = _split_top_commas(clauses["SELECT"])
    if len(items) != 1:
        raise UnsupportedQueryError("overlap idiom has one select item")
    it = _parse_select_item(items[0])
    if it.alias is None:
        raise UnsupportedQueryError(
            "overlap routing requires an explicit AS alias on the count"
        )
    cm = _OV_IN_COUNT_RE.match(it.raw.strip())
    if not cm:
        raise UnsupportedQueryError(
            "overlap IN idiom counts COUNT(DISTINCT key)"
        )
    key = cm.group(1)
    table = clauses["FROM"].strip()
    if not re.match(r"^[A-Za-z_]\w*$", table):
        raise UnsupportedQueryError("overlap IN idiom reads one table")
    seg = None
    lits: tuple[str, ...] = ()
    time_preds: list[tuple[str, str, str]] = []
    for c in _split_top_keyword(clauses["WHERE"], "AND"):
        c = c.strip()
        pm = _OV_IN_PRED_RE.match(c)
        if pm:
            if seg is not None:
                raise UnsupportedQueryError("one IN predicate")
            seg = pm.group(1)
            lits = tuple(
                m.group(0) for m in _OV_IN_LIT_RE.finditer(pm.group(2))
            )
            continue
        tm = _OV_TIME_RE.match(c)
        if tm:
            qual, col, op, tlit = tm.groups()
            if qual is not None:
                raise UnsupportedQueryError(
                    "single-table time bounds must be unqualified"
                )
            time_preds.append((col, op, tlit))
            continue
        raise UnsupportedQueryError(f"not an overlap predicate: {c!r}")
    if seg is None:
        raise UnsupportedQueryError(
            "overlap IN idiom needs seg IN (a, b, ...)"
        )
    if seg.lower() == key.lower():
        raise UnsupportedQueryError("segment column must differ from key")
    tcol, lo, hi = _branch_window(time_preds)
    return OverlapQuery(
        table=table,
        key_col=key,
        segment_col=seg,
        lit_a=lits[0],
        lit_b=lits[1],
        alias=it.alias,
        idiom="seg_in",
        time_col=tcol,
        lo=lo,
        hi=hi,
        lo_b=lo,
        hi_b=hi,
        set_op="union",
        lits=lits,
    )


def _extract_balanced(text: str, open_pos: int) -> tuple[str, int]:
    """Return (inner, index_after_close) for the paren group opening at
    ``open_pos``; string literals are masked so parens inside them are
    invisible."""
    masked = _mask_string_literals(text)
    if masked[open_pos] != "(":
        raise ParseError("expected '('")
    depth = 0
    for i in range(open_pos, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                return text[open_pos + 1:i], i + 1
    raise ParseError("unbalanced parentheses")


def try_parse_overlap(sql: str) -> OverlapQuery | None:
    """Best-effort overlap-idiom parse; None → not an overlap query."""
    upper = sql.upper()
    # cheap pre-filter: every idiom carries one of these tokens. IN is
    # screened as a word-boundary regex, not a " IN" substring — a
    # newline or tab before IN (BI tools wrap clauses freely) must not
    # silently skip both the routing and the advisor observation
    if (
        "JOIN" not in upper
        and "INTERSECT" not in upper
        and "EXCEPT" not in upper
        and "UNION" not in upper
        and not re.search(r"\bIN\b", upper)
    ):
        return None
    try:
        return parse_overlap(sql)
    except ParseError:
        return None


#: a group is only safe to flatten when its inner text cannot change
#: boolean structure once the parens are gone: no OR (precedence flips
#: next to an outer AND), no NOT (scope changes), no subquery/CASE
#: NOT blocks flattening except in the fixed idiom `IS NOT NULL`, whose
#: NOT never takes scope over the group
_UNSAFE_GROUP_INNER_RE = re.compile(
    r"\b(OR|NOT(?!\s+NULL\b)|SELECT|CASE|WHEN|EXISTS)\b", re.I
)
#: ...and only in BOOLEAN context: the text before the "(" ends at a
#: clause edge or an AND/OR token (anything else — an identifier, an
#: arithmetic operator, IN, NOT — means function call, row constructor,
#: IN-list, or negation: keep the parens)
_BOOL_EDGE_BEFORE_RE = re.compile(r"(?:^|\bAND|\bOR)\s*$", re.I)
_BOOL_EDGE_AFTER_RE = re.compile(r"^\s*(?:$|AND\b|OR\b)", re.I)


def _mask_string_literals(text: str) -> str:
    """Same-length copy of ``text`` with every character INSIDE a
    single-quoted literal replaced by ``\\x00`` (the quotes themselves
    survive). All structural scanning runs on the mask, so parens, AND/OR
    tokens, NOT, etc. inside literals can never be mistaken for boolean
    structure; splices computed on the mask apply to the original text at
    identical offsets. SQL's doubled-quote escape (``''``) toggles twice,
    which masks correctly."""
    out = []
    in_str = False
    for ch in text:
        if ch == "'":
            in_str = not in_str
            out.append(ch)
        else:
            out.append("\x00" if in_str else ch)
    return "".join(out)


def flatten_and_parens(where: str) -> str:
    """Strip parentheses that provably do not change a WHERE clause's
    boolean structure: innermost groups enclosing AND-joined simple
    predicates (no OR/NOT/subquery/CASE inside), sitting in boolean
    context on both sides. ``(a >= 1 AND b = 2) AND c`` flattens;
    ``a AND (b OR c)``, ``NOT (a)``, ``x IN (1, 2)``, ``f(x) > 1`` and
    ``y = (1 + 2) * 3`` are all left untouched, as is anything inside a
    string literal (``note = 'x AND (y) AND z'`` keeps its parens — the
    scan runs on a literal-masked copy). Iterates to a fixpoint so
    nested safe groups unwrap fully."""
    changed = True
    while changed:
        changed = False
        masked = _mask_string_literals(where)
        for m in re.finditer(r"\(([^()]*)\)", masked):
            # group boundaries and the UNSAFE scan both use the mask, so
            # parens/AND/OR/NOT inside literals are invisible; the group's
            # parens are themselves structural (a paren inside a literal
            # is masked and can't delimit a match)
            inner = m.group(1)
            if not inner.strip() or _UNSAFE_GROUP_INNER_RE.search(inner):
                continue
            before, after = masked[: m.start()], masked[m.end():]
            # a doubly-wrapped group "((...))" is redundant regardless of
            # context — unwrapping the inner pair is always identity
            doubly_wrapped = before.rstrip().endswith("(") and (
                after.lstrip().startswith(")")
            )
            if not doubly_wrapped and not (
                _BOOL_EDGE_BEFORE_RE.search(before)
                and _BOOL_EDGE_AFTER_RE.match(after)
            ):
                continue
            orig_inner = where[m.start(1):m.end(1)]
            where = f"{where[:m.start()]} {orig_inner} {where[m.end():]}"
            changed = True
            break
    return where.strip()
