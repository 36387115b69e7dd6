"""AQEngine: the query lifecycle facade.

Mirrors the reference's ``POST /query`` lifecycle (reference app.py:62-163,
SURVEY.md §3.1) with one structural fix: there is exactly ONE rewrite point
(planner/rewriter) and ONE scaling point (inside the generated SQL), so the
reference's double-scaling hazard cannot occur.

    query(sql, max_rel_error, prefer_exact, use_ml_optimization, explain)
      → {status, plan, result, meta, ml_optimization}
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from approximate_query_engine_spark import executor as ex
from approximate_query_engine_spark.catalog import Catalog
from approximate_query_engine_spark.optimizer import MLOptimizer
from approximate_query_engine_spark.planner import Planner
from approximate_query_engine_spark.sampler import Sampler
from approximate_query_engine_spark.served import served_state
from approximate_query_engine_spark.session import (
    ensure_engine_confs,
    register_testdata,
)
from approximate_query_engine_spark.sketches import SketchManager
from approximate_query_engine_spark.sqlparser import (
    JoinedQuery,
    OverlapQuery,
    ParsedQuery,
    try_parse_any,
    try_parse_overlap,
)


def _parse_overlap_bound(b) -> "object | None":
    """Unquoted overlap bound → aware datetime, or None when it is not a
    timestamp literal. Delegates to operators.rollup._parse_literal
    (the SAME grammar the routed grid check speaks: date-only, space or
    ISO-T separator, optional fractional seconds) so the advice/validate
    path can never reject a literal the routed path accepts. NEVER
    raises — a regex-matching but calendar-invalid literal ('2024-02-30')
    is just as unparseable as garbage."""
    from approximate_query_engine_spark.operators.rollup import (
        _parse_literal,
    )

    if b is None:
        return None
    text = str(b)
    if "'" in text:  # a quote can't appear in a bare literal — refuse
        return None
    try:
        return _parse_literal(f"'{text}'")
    except ValueError:
        return None


def _require_ts_bound(name: str, b: str) -> None:
    """Raise when a raw-path time bound is not a timestamp literal —
    Spark's ``CAST('garbage' AS TIMESTAMP)`` yields NULL, which would
    silently filter EVERY row and return an exact-looking empty/zero
    answer; the routed path raises for the same input, and the raw path
    must be just as loud. Accepts the rollup literal grammar PLUS any
    ISO-8601 form (offset suffix, minute precision) — Spark's cast
    parses those, so rejecting them would break valid callers just to
    catch garbage."""
    from datetime import datetime

    if _parse_overlap_bound(b) is not None:
        return
    try:
        datetime.fromisoformat(str(b).strip())
        return
    except (ValueError, TypeError):
        pass
    raise ValueError(
        f"{name} must be a timestamp literal "
        f"(YYYY-MM-DD[ HH:MM:SS[.ffffff]] or ISO-8601), got {b!r}"
    )


def _overlap_advice_bucket(*bounds: str | None) -> str | None:
    """The COARSEST bucket grain whose grid every given bound falls on —
    what an advisor-built rollup must use to be able to serve the
    observed overlap request ("1 day" when all bounds are midnight,
    "1 hour" when all are on the hour). None when a bound is off every
    grid (or unparseable): a rollup could never serve it, so recording
    advice for it would drive a useless build. No bounds at all (the
    whole-table overlap shape) is served by any grain → "1 day"."""
    real = [b for b in bounds if b is not None]
    if not real:
        return "1 day"
    parsed = []
    for b in real:
        t = _parse_overlap_bound(b)
        if t is None:
            return None
        parsed.append(t)
    if any(t.microsecond for t in parsed):
        return None
    if all(
        t.hour == 0 and t.minute == 0 and t.second == 0 for t in parsed
    ):
        return "1 day"
    if all(t.minute == 0 and t.second == 0 for t in parsed):
        return "1 hour"
    return None


class AQEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        data_dir: str | None = None,
        broadcast_threshold: int | str | None = None,
        advisor_topk_dim_ndv: int = 10_000,
    ):
        self.spark = spark
        #: the rollup advisor's dim-viability line: a top-items group
        #: key whose catalog ndv exceeds this is advised as
        #: frequent-items sketch state (topk_cols) instead of a dim —
        #: beyond it, (buckets × ndv) dims state stops being a rollup.
        #: Policy, not correctness: routing certifies exactness
        #: separately (_topk_certified).
        self.advisor_topk_dim_ndv = int(advisor_topk_dim_ndv)
        # the engine's rewritten SQL assumes these runtime confs (permissive
        # ANSI-off eval, UTC, Arrow batches) regardless of who built the
        # session — a host-owned session without them would evaluate
        # rewritten queries differently than every tested path
        ensure_engine_confs(spark)
        if broadcast_threshold is not None:
            self.set_broadcast_threshold(broadcast_threshold)
        self.catalog = Catalog(workdir)
        self.sampler = Sampler(spark, self.catalog)
        self.planner = Planner(spark, self.catalog)
        self.optimizer = MLOptimizer(self.catalog, self.planner)
        self.sketches = SketchManager(spark, self.catalog)
        self.served = served_state(spark)
        # per-table column sets for advisor bookkeeping — the advisor
        # runs on EVERY non-routed query, and spark.table(t).columns is
        # a catalog RPC that doesn't belong in the hot query path
        self._table_cols_cache: dict[str, frozenset[str]] = {}
        # time-typed columns per table, for clock inference on every
        # unrouted overlap idiom — same RPC-avoidance contract as above
        self._time_cols_cache: dict[str, tuple[str, ...]] = {}
        # top-k routing exactness certificates per (view, build, col) —
        # the state-sized ndv agg runs once per rollup build, not per
        # routed query
        self._topk_cert_cache: dict[tuple, str | bool] = {}
        if data_dir:
            self.register_data(data_dir)
        self.sampler.load_registered_samples()

    # ------------------------------------------------------------------
    def set_broadcast_threshold(self, threshold: int | str) -> None:
        """Tune when Catalyst broadcasts the small side of a join
        (``spark.sql.autoBroadcastJoinThreshold``; runtime-settable). The
        engine's multi-table queries run exact pass-through, so this is THE
        knob governing dim-table join strategy: raise it when dims fit in
        executor memory (shuffle-free joins at 100 TB fact scale), set -1
        to force shuffle joins for skew debugging. Accepts bytes (int) or a
        size string like '64MB'."""
        self.spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(threshold)
        )

    def register_data(self, sf_dir: str) -> None:
        """Register testdata parquet tables as views and record row-count
        stats from Parquet metadata (a metadata-only count — Spark reads
        footers, not data; contrast the reference's live COUNT(*) per plan,
        ml_optimizer.py:88-93)."""
        dfs = register_testdata(self.spark, sf_dir)
        for name, df in dfs.items():
            if self.catalog.get_row_count(name) is None:
                self.catalog.upsert_table_stats(name, df.count())
        self.catalog.save()

    def register_view(self, name: str, df) -> None:
        stale_rollups = self.catalog.rollups.pop(name, None)
        # the replaced table's served state goes with it: its views are
        # dropped and their in-memory copies released (served.py)
        self.served.release(
            [name]
            + [
                v
                for info in stale_rollups or []
                for v in (info.get("view"), info.get("files_view"))
                if v
            ]
        )
        df.createOrReplaceTempView(name)
        self._table_cols_cache.pop(name, None)
        self._time_cols_cache.pop(name, None)
        # replaced data orphans every cached top-k exactness certificate
        # (an equal-row-count replacement would otherwise cache-hit)
        self._topk_cert_cache.clear()
        # replacing a table's data orphans any parquet layout built from
        # the OLD data — drop the routing entries (partitioned layouts AND
        # rollups) so exact queries never get served from a stale
        # materialization (the row-count drift gate alone can't see an
        # equal-row-count replacement)
        invalidated = self.catalog.partitioned_views.pop(name, None)
        if invalidated is not None or stale_rollups is not None:
            self.catalog.save()
        self.catalog.upsert_table_stats(name, df.count())

    def register_file(
        self,
        name: str,
        path: str,
        fmt: str = "csv",
        options: dict | None = None,
    ) -> dict:
        """Register an external file as a queryable table (realizes the
        reference's legacy CSV-upload capability, whose backend is absent
        from the snapshot — templates/index.html:589-649, SURVEY.md §2.1).
        Formats: csv (header+inferSchema by default), json, parquet, orc."""
        from approximate_query_engine_spark.sources import read_source

        df = read_source(self.spark, path, fmt, options)
        self.register_view(name, df)
        self.catalog.save()
        return {
            "table": name,
            "rows": self.catalog.get_row_count(name),
            "columns": df.columns,
            "format": fmt,
        }

    def tables(self) -> list[str]:
        """User-visible tables (reference GET /tables, app.py:45-59)."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    # ------------------------------------------------------------------
    def query(
        self,
        sql: str,
        max_rel_error: float = 0.05,
        prefer_exact: bool = False,
        use_ml_optimization: bool = False,
        explain: bool = False,
        dual_execute: bool | None = None,
        max_rank_error: float | None = None,
    ) -> dict[str, Any]:
        """The reference's POST /query contract (app.py:62-163).

        Error knobs: ``max_rel_error`` bounds the VALUE-relative error of
        approximate counts/sums/distincts. Approximate MEDIAN/PERCENTILE
        served from KLL rollup state carries a RANK guarantee instead
        (the answer is a true data value whose rank is within ε of the
        requested p) — on skewed data a small rank error can be a large
        value error, so it is gated by its own ``max_rank_error`` knob.
        When ``max_rank_error`` is None the value tolerance doubles as
        the rank budget (conservative in the declining direction); pass
        ``max_rank_error=0`` (or ``prefer_exact``) to forbid KLL-served
        quantiles outright."""
        try:
            return self._query(
                sql, max_rel_error, prefer_exact, use_ml_optimization,
                explain, dual_execute, max_rank_error,
            )
        except Exception as e:  # reference app.py:158-163 error envelope
            return {"status": "error", "error": f"{type(e).__name__}: {e}"}

    def _query(
        self,
        sql: str,
        max_rel_error: float,
        prefer_exact: bool,
        use_ml_optimization: bool,
        explain: bool,
        dual_execute: bool | None,
        max_rank_error: float | None = None,
    ) -> dict[str, Any]:
        # ONE parse per query: every router, advisor recorder and the
        # planner/optimizer take these values instead of the SQL string
        parsed = try_parse_any(sql)
        ml_optimization: dict[str, Any] | None = None
        # Segment-overlap SQL routing (round 11): the two canonical
        # overlap idioms answer from theta rollup state when one serves
        # (and the honesty gates pass); an unserved idiom records its
        # shape for the theta advisor and executes exactly below.
        from_state = self._route_overlap_sql(
            try_parse_overlap(sql),
            max_rel_error=max_rel_error,
            prefer_exact=prefer_exact,
        )
        # Continuous-aggregate routing (round 6): a fresh rollup that can
        # answer the query losslessly beats EVERY strategy the planner
        # could pick — exact result, pre-aggregated scan — so it
        # short-circuits planning (and the ML path) outright.
        rollup_declines: list[str] = []
        if from_state is None:
            from_state = self._route_rollup(
                parsed,
                max_rel_error=max_rel_error,
                prefer_exact=prefer_exact,
                max_rank_error=max_rank_error,
                declines=rollup_declines,
            )
            if from_state is None:
                # advisor evidence: a rollup-SHAPED query just ran
                # without a rollup (none registered, stale, or not
                # covering) — record its inferred spec so
                # recommend_rollups can aggregate recurring shapes into
                # a concrete materialization
                self._record_rollup_candidate(parsed)
        if from_state is not None:
            plan = from_state
        elif use_ml_optimization and not prefer_exact:
            ml_optimization = self.optimizer.optimize_query(
                sql, max_rel_error, parsed=parsed
            )
            plan = ml_optimization.pop("_plan", None) or self.planner.plan(
                sql,
                max_rel_error,
                prefer_exact=False,
                forced_strategy=ml_optimization["strategy"],
                parsed=parsed,
            )
        else:
            plan = self.planner.plan(
                sql, max_rel_error, prefer_exact=prefer_exact, parsed=parsed
            )

        # Partition routing applies to EVERY plan type (round 6): exact
        # plans route the base-table scan; sample plans route their
        # MATERIALIZED sample scan (samples of layout-backed tables are
        # themselves bucket-partitioned — sampler._materialize); inline
        # sample and sketch plans route the base-table scan they wrap.
        # _route_partitioned itself is a no-op unless the plan's FROM
        # table has a registered layout and the WHERE carries a derivable
        # literal time bound.
        routed = self._route_partitioned(plan.get("sql") or sql)
        if routed:
            plan = {
                **plan,
                "sql": routed[0],
                "reason": f"{plan.get('reason', 'exact')}; {routed[1]}",
            }
        elif from_state is None:
            # layout-advisor evidence: a time-bounded query just ran with
            # no layout to prune through (and no rollup served it) —
            # record its (table, ts_col) shape for
            # recommend_partition_layouts. Recorded on the ORIGINAL
            # query: a sample-plan rewrite references the sample view,
            # but the advice target is the base table.
            self._record_layout_candidate(parsed)

        if explain:
            # include Spark's physical plan so `explain` shows what would
            # actually execute (pushdowns, join strategies, codegen spans)
            try:
                jvm = self.spark.sparkContext._jvm
                mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
                spark_plan = (
                    self.spark.sql(plan["sql"])._jdf.queryExecution().explainString(mode)
                )
            except Exception:
                spark_plan = None
            return {
                "status": "ok",
                "plan": plan,
                "spark_plan": spark_plan,
                "ml_optimization": ml_optimization,
            }

        if rollup_declines and from_state is None:
            plan = {
                **plan,
                "reason": f"{plan.get('reason', '')}; rollup declined: "
                + "; ".join(dict.fromkeys(rollup_declines)),
            }
        if plan.get("sample_table"):
            plan = {
                **plan,
                "reason": plan.get("reason", "")
                + self.served.note(plan["sample_table"]),
            }
        try:
            rows, meta = ex.execute_plan(self.spark, plan)
        except Exception as exc:
            # served state lost under the query (a copy's blocks, or a
            # served view dropped behind the engine): rebuild, answer
            if not self.served.recover(exc):
                raise
            rows, meta = ex.execute_plan(self.spark, plan)

        # Dual exact execution for measured speedup (reference app.py:119-138;
        # default mirrors the reference: on when the ML path was used).
        do_dual = use_ml_optimization if dual_execute is None else dual_execute
        if do_dual and plan["type"] != "exact":
            exact_rows, exact_ms = ex.dual_execute_exact(self.spark, sql)
            speedup = exact_ms / meta["execution_time_ms"] if meta["execution_time_ms"] else 1.0
            meta["actual_speedup"] = speedup
            meta["exact_time_ms"] = exact_ms
            actual_error = ex.measured_relative_error(rows, exact_rows)
            if ml_optimization is not None:
                ml_optimization["actual_speedup"] = speedup
                ml_optimization["execution_time_ms"] = meta["execution_time_ms"]
                ml_optimization["exact_time_ms"] = exact_ms
                self.optimizer.record_outcome(
                    sql,
                    ml_optimization.get("features", {}),
                    plan["type"],
                    speedup,
                    actual_error,
                    ml_optimization["estimated_speedup"],
                    ml_optimization["estimated_error"],
                    meta["execution_time_ms"],
                    max_rel_error,
                )

        return {
            "status": "ok",
            "plan": plan,
            "result": rows,
            "meta": meta,
            "ml_optimization": ml_optimization,
        }

    # ------------------------------------------------------------------
    # sample/sketch construction surfaces (reference app.py:166-306)
    def create_sample(self, table: str, fraction: float, seed: int = 42) -> dict:
        info = self.sampler.create_uniform_sample(table, fraction, seed)
        return {"sample_table": info.sample_table, "rows": info.row_count}

    def create_systematic_sample(
        self, table: str, k: int, key_expr: str
    ) -> dict:
        """Materialized deterministic 1-in-``k`` sample (round 6): md5
        hash of ``key_expr`` decides membership, registered at the exact
        design fraction — any engine reproduces the subset bit-for-bit
        (sampler.create_systematic_sample)."""
        info = self.sampler.create_systematic_sample(table, k, key_expr)
        return {
            "sample_table": info.sample_table,
            "rows": info.row_count,
            "fraction": info.sample_fraction,
        }

    def create_stratified_sample(
        self,
        table: str,
        strata_column: str,
        fraction: float,
        variance_column: str | None = None,
        seed: int = 42,
    ) -> dict:
        info = self.sampler.create_stratified_sample(
            table, strata_column, fraction, variance_column, seed
        )
        return {
            "sample_table": info.sample_table,
            "allocation_type": info.allocation_type,
            "strata": [
                {
                    "value": s.strata_value,
                    "population_size": s.pop_size,
                    "sample_size": s.sample_size,
                    "fraction": s.fraction,
                    "weight": s.weight,
                }
                for s in info.strata
            ],
        }

    def analyze_table(
        self,
        table: str,
        columns: list[str] | None = None,
        histogram_bins: int = 32,
    ) -> dict[str, tuple[float, float]]:
        """ONE aggregation pass learning per-column stats (plus a
        row-count refresh in the same pass) into the catalog — the stats
        behind the planner's predicate-selectivity estimates
        (planner.estimate_selectivity):

        - numeric columns: min/max + a one-pass EQUI-DEPTH histogram
          (``histogram_bins`` quantile boundaries from
          ``percentile_approx``, stored as an empirical CDF), so range
          selectivity is mass-weighted rather than uniform-interpolated —
          within 2× of truth on skewed (e.g. Zipf) columns where the
          uniform estimate is off by orders of magnitude.  Equi-depth,
          not ``histogram_numeric``: the latter's adaptive clustering
          merges a Zipf head into one mega-bin whose within-bin uniform
          assumption is exactly as wrong as global uniform;
        - date/timestamp columns: the same, in EPOCH DAYS (double), so
          ``col <= DATE '…'`` predicates — the most common real WHERE
          shape — share the numeric selectivity math;
        - every analyzed column: ``approx_count_distinct`` ndv (string
          equality prices at 1/ndv; numeric/date equality falls back to
          1/ndv when the literal sits between histogram knots) and the
          NULL fraction (comparisons never match NULLs; IS [NOT] NULL
          prices from it directly). The returned dict carries ranges
          only; ndv/null stats land in the catalog.

        Never called implicitly (an O(N) pass is the user's call; the
        reference's implicit live COUNT per plan is the anti-pattern this
        engine avoids). All stats fold into ONE map-side-combined
        aggregation: at 100 TB this is a single full scan, the same cost
        as any ANALYZE, and the histogram state is O(bins) per column."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(columns, str):  # a bare name is a 1-element request
            columns = [columns]
        df = self.spark.table(table)
        kind: dict[str, str] = {}
        for f in df.schema.fields:
            if isinstance(f.dataType, T.NumericType):
                kind[f.name] = "numeric"
            elif isinstance(f.dataType, T.DateType):
                kind[f.name] = "date"
            elif isinstance(f.dataType, T.TimestampType):
                kind[f.name] = "timestamp"
            elif isinstance(f.dataType, T.StringType):
                kind[f.name] = "string"
        if columns is not None:
            # explicit requests fail LOUDLY: silently skipping a typo'd or
            # unanalyzable column would leave the selectivity feature inert
            # with no signal (the planner just keeps its flat guess).
            # Dedupe first — duplicate requests would otherwise produce
            # ambiguous duplicate aliases in the aggregation row.
            columns = list(dict.fromkeys(columns))
            bad = [c for c in columns if c not in kind]
            if bad:
                raise ValueError(
                    f"analyze_table({table!r}): not analyzable "
                    f"(numeric/date/timestamp/string) columns of the "
                    f"table: {bad} (analyzable: {sorted(kind)})"
                )
        cols = (
            list(columns)
            if columns is not None
            else sorted(c for c, k in kind.items() if k != "string")
        )
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            col = F.col(f"`{c}`")
            # every aggregate below skips nulls, so the null mass is a
            # separate stat: comparison predicates never match NULL rows
            # and IS [NOT] NULL prices from it directly
            aggs.append(F.avg(col.isNull().cast("double")).alias(f"__nullf_{i}"))
            # ndv for EVERY analyzed column (HLL partial, same one pass):
            # strings price `col = 'lit'` at 1/ndv; numeric/date equality
            # falls back to 1/ndv when the literal sits between histogram
            # knots (no point mass to read)
            aggs.append(F.approx_count_distinct(col).alias(f"__ndv_{i}"))
            if kind[c] == "string":
                # most-common values (bounded heavy-hitter state, merged
                # map-side like every other agg here): string equality on
                # a heavy hitter prices at its true mass instead of 1/ndv
                aggs.append(
                    F.expr(f"approx_top_k(`{c}`, 8, 10000)").alias(
                        f"__mcv_{i}"
                    )
                )
                continue
            if kind[c] == "date":
                x = F.datediff(col, F.to_date(F.lit("1970-01-01")))
                x = x.cast("double")
            elif kind[c] == "timestamp":
                x = col.cast("double") / F.lit(86400.0)  # epoch seconds
            else:
                x = col.cast("double")
            aggs.append(F.min(x).alias(f"__min_{i}"))
            aggs.append(F.max(x).alias(f"__max_{i}"))
            # interior quantile boundaries; the GK sketch behind
            # percentile_approx is mergeable, so this partial-aggregates
            # map-side like any other agg
            pcts = [j / histogram_bins for j in range(1, histogram_bins)]
            aggs.append(
                F.percentile_approx(x, pcts, 10_000).alias(f"__hist_{i}")
            )
        row = df.agg(*aggs).collect()[0]
        self.catalog.upsert_table_stats(table, int(row["__n"]))
        # baseline for the maintenance drift policy: which columns were
        # analyzed, against how many rows
        self.catalog.analyze_meta[table] = {
            "row_count": int(row["__n"]),
            "columns": list(cols),
        }
        out: dict[str, tuple[float, float]] = {}
        for i, c in enumerate(cols):
            nf = row[f"__nullf_{i}"]
            if nf is not None:
                self.catalog.upsert_column_null_frac(table, c, float(nf))
            ndv = row[f"__ndv_{i}"]
            if ndv:
                self.catalog.upsert_column_ndv(table, c, int(ndv))
            if kind[c] == "string":
                topk = row[f"__mcv_{i}"] or []
                n_nonnull = int(row["__n"]) * (1.0 - float(nf or 0.0))
                if topk and n_nonnull > 0:
                    mcv = sorted(
                        (
                            (str(r["item"]), int(r["count"]) / n_nonnull)
                            for r in topk
                            if r["item"] is not None
                        ),
                        key=lambda t: (-t[1], t[0]),
                    )
                    self.catalog.upsert_column_mcv(table, c, mcv)
                continue
            lo, hi = row[f"__min_{i}"], row[f"__max_{i}"]
            if lo is None or hi is None:
                continue
            self.catalog.upsert_column_minmax(table, c, float(lo), float(hi))
            out[c] = (float(lo), float(hi))
            qs = row[f"__hist_{i}"]
            if qs:
                # empirical CDF: (min, 0) .. interior quantiles .. (max, 1);
                # repeated x values encode point masses (heavy hitters)
                cdf = (
                    [(float(lo), 0.0)]
                    + [
                        (float(q), j / histogram_bins)
                        for j, q in enumerate(qs, start=1)
                    ]
                    + [(float(hi), 1.0)]
                )
                self.catalog.upsert_column_histogram(table, c, cdf)
        self.catalog.save()
        return out

    def create_sketch(
        self,
        table: str,
        column: str | None,
        sketch_type: str,
        parameters: dict | None = None,
    ) -> dict:
        info = self.sketches.create(table, column, sketch_type, parameters or {})
        return {"sketch_type": info.sketch_type, "size_bytes": len(info.sketch_data)}

    def list_sketches(self, table: str | None = None) -> list[dict]:
        return [
            {
                "table_name": s.table_name,
                "column_name": s.column_name,
                "sketch_type": s.sketch_type,
                "size_bytes": len(s.sketch_data),
                "parameters": s.parameters,
                "created_at": s.created_at,
            }
            for s in self.catalog.list_sketches(table)
        ]

    def ml_stats(self) -> dict:
        return self.optimizer.learning_stats()

    def maintain(
        self,
        max_drift: float = 0.10,
        max_age_sec: float | None = None,
        refresh_stats: bool = True,
        dry_run: bool = False,
        compact_files_over: int | None = None,
        apply_advice: bool = False,
        advice_max_apply: int = 1,
        advice_max_state_rows: int | None = 5_000_000,
        advice_max_buckets: int | None = 100_000,
        max_reprove_scans: int | None = None,
    ) -> dict:
        """Apply the sample/sketch freshness policies (maintenance.py):
        rebuild artifacts whose base table drifted past ``max_drift`` (or
        aged past ``max_age_sec``); with ``compact_files_over`` set, also
        compact partitioned-layout buckets fragmented past that many files
        (streaming appends a file per micro-batch). ``apply_advice``
        opt-in: materialize the top rollup-advisor suggestion(s) under
        the advice budget (:meth:`apply_rollup_advice`).
        ``max_reprove_scans`` bounds the exact COUNT(DISTINCT) fact scans
        the top-k evidence re-proof may pay per window (None =
        unbounded; 0 = defer all — deferral only costs declined routing,
        never correctness)."""
        from approximate_query_engine_spark.maintenance import run_maintenance

        return run_maintenance(
            self,
            max_drift=max_drift,
            max_age_sec=max_age_sec,
            refresh_stats=refresh_stats,
            dry_run=dry_run,
            apply_advice=apply_advice,
            advice_max_apply=advice_max_apply,
            advice_max_state_rows=advice_max_state_rows,
            advice_max_buckets=advice_max_buckets,
            compact_files_over=compact_files_over,
            max_reprove_scans=max_reprove_scans,
        )

    def partition_table(
        self,
        table: str,
        ts_col: str,
        grain: str = "day",
        name: str | None = None,
        refresh_samples: bool = True,
    ) -> dict:
        """Materialize ``table`` as TIME-PARTITIONED parquet under the
        catalog workdir and register the layout as a queryable view
        (``<table>__by_<grain>`` unless ``name``). Predicates on the
        derived ``p_bucket`` column then prune at file-listing time —
        the 100 TB fact-table layout (operators/partitioning.py, pruning
        measured by scan_metrics in tests). Each build is a new version
        directory of the layout's root (versions.py)."""
        import os

        from pyspark.sql import functions as F

        from approximate_query_engine_spark.operators.partitioning import (
            list_bucket_dirs,
            partition_by_time,
            read_partitioned,
        )
        from approximate_query_engine_spark.versions import write_version

        out_name = name or f"{table}__by_{grain}"

        def write(path):
            partition_by_time(
                self.spark.table(table), path, ts_col, grain=grain
            )
            if not list_bucket_dirs(self.spark, path):
                # an empty source writes no bucket directory, and a layout
                # without files cannot be read back
                raise ValueError(
                    f"{table} has no rows: there is no layout to build"
                )

        def publish(path, _version):
            df = read_partitioned(self.spark, path)
            df.createOrReplaceTempView(out_name)
            # one aggregation over the fresh layout gets both the drift
            # baseline and the partition count (two separate full scans
            # here would double the post-write cost at scale)
            row = df.agg(
                F.count(F.lit(1)).alias("__n"),
                F.countDistinct("p_bucket").alias("__p"),
            ).collect()[0]
            self.catalog.partitioned_views[table] = {
                "view": out_name,
                "path": path,
                "ts_col": ts_col,
                "grain": grain,
                "partition_col": "p_bucket",
                # drift baseline for the maintenance policy (layout rows
                # == base rows at build time)
                "built_row_count": int(row["__n"]),
            }
            # the layout count IS the base row count at this instant —
            # record it so the freshness gate (which declines on UNKNOWN
            # counts) can route immediately, without a stats refresh
            self.catalog.upsert_table_stats(table, int(row["__n"]))
            self.catalog.save()
            return path, row

        root = os.path.join(self.catalog.workdir, f"partitioned_{out_name}")
        path, row = write_version(self.spark, root, write, publish)
        # samples built BEFORE the layout existed are flat parquet and
        # can't route; re-materializing through the sampler rebuilds each
        # bucket-partitioned (identical subsets: seeded df.sample and the
        # md5 predicates are deterministic over the same base data). Cost
        # is one base scan per sample — small next to the full-table
        # layout rewrite above. Opt out with refresh_samples=False.
        repartitioned = []
        if refresh_samples:
            for s in list(self.catalog.samples_for_table(table)):
                try:
                    self.sampler.refresh_sample(s.sample_table)
                    repartitioned.append(s.sample_table)
                except Exception:
                    continue  # a broken sample must not fail the layout
        return {
            "table": out_name,
            "path": path,
            "grain": grain,
            "partition_col": "p_bucket",
            "partitions": int(row["__p"]),
            "samples_partitioned": repartitioned,
        }

    def build_boilerplate_index(
        self,
        table: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_docs: int = 10,
        min_chars: int = 1,
    ) -> dict:
        """Materialize the line-frequency table for ``table``'s current
        contents and register it (round 12, VERDICT r11 #3 — the
        boilerplate sibling of the dedup signature tables): the
        persisted (nline, doc_count) Parquet plus the counted doc-id set
        and the build parameters, all under one versioned root in the
        catalog workdir. Later sessions load it via
        :meth:`update_boilerplate_index` to clean NEW batches against
        the corpus-so-far without rescanning history; the maintenance
        drift policy rebuilds it when the base table changes out from
        under it (an unfed mutation — fed appends keep it current).
        Contract: one row per document id (the corpus shape) — a
        multi-row-per-id table would make the doc-count baseline and
        the table row count disagree and read as perpetual drift."""
        import os
        import time as _time

        from pyspark.sql import functions as F

        from approximate_query_engine_spark.functions.boilerplate import (
            line_doc_frequency,
            write_line_frequency,
        )
        from approximate_query_engine_spark.versions import write_version

        df = self.spark.table(table)
        root = os.path.join(self.catalog.workdir, f"boilerplate_{table}")
        freq = line_doc_frequency(df, text_col, id_col, min_chars)
        seen = df.select(F.col(id_col)).distinct()
        meta = {
            "text_col": text_col,
            "id_col": id_col,
            "min_docs": int(min_docs),
            "min_chars": int(min_chars),
        }
        base = {**meta, "root": root, "created_at": _time.time()}
        return write_version(
            self.spark,
            root,
            lambda path: write_line_frequency(
                freq, path, seen_ids=seen, meta=meta
            ),
            lambda path, version: self._register_boilerplate_index(
                table, base, path, version
            ),
        )

    def _register_boilerplate_index(
        self, table: str, base: dict, path: str, version: int
    ) -> dict:
        """Shared registration (publish step) for build and update: the
        entry ``base`` at ``path``, then move the pointer."""
        n_docs = self.spark.read.parquet(
            path.rstrip("/") + "/_seen_ids"
        ).count()
        entry = {
            **base,
            "path": path,
            "version": version,
            # drift baseline: the doc count this index accounts for —
            # equal to the base table's distinct-doc count at build/update
            # time, so an unfed base mutation shows up as drift
            "built_row_count": int(n_docs),
        }
        self.catalog.boilerplate_indexes[table] = entry
        self.catalog.save()
        return dict(entry)

    def update_boilerplate_index(self, table: str, batch) -> tuple:
        """Clean a NEW batch against the registered line-frequency index
        and persist the merged counts as the next version → (cleaned
        DataFrame, updated catalog entry). The disjoint-batch contract
        is ENFORCED (the batch's ids anti-join the persisted seen-id
        set; an overlap raises before any count is double-added). The
        merged table is the index's next version (versions.py)."""
        from pyspark.sql import functions as F

        from approximate_query_engine_spark.functions.boilerplate import (
            _strip_flagged_lines,
            incremental_remove_boilerplate,
            read_line_frequency,
            write_line_frequency,
        )
        from approximate_query_engine_spark.versions import write_version

        info = self.catalog.boilerplate_indexes.get(table)
        if info is None:
            raise ValueError(
                f"no boilerplate index registered for {table!r} — "
                "build one with build_boilerplate_index first"
            )
        freq, seen, _ = read_line_frequency(self.spark, info["path"])
        id_col = info["id_col"]
        # the disjoint-batch guard + merge, shared with the functional
        # API; the returned cleaned frame is DISCARDED because it reads
        # the old version lazily — it is rebuilt below against the NEW
        # persisted version so the old directory can be pruned safely
        _, merged = incremental_remove_boilerplate(
            batch,
            freq,
            text_col=info["text_col"],
            id_col=id_col,
            min_docs=int(info["min_docs"]),
            min_chars=int(info["min_chars"]),
            seen_ids=seen,
        )
        new_seen = (
            seen.unionByName(batch.select(F.col(id_col)).distinct())
            if seen is not None
            else batch.select(F.col(id_col)).distinct()
        )

        def write(path):
            write_line_frequency(
                merged,
                path,
                seen_ids=new_seen.distinct(),
                meta={k: info[k] for k in (
                    "text_col", "id_col", "min_docs", "min_chars"
                )},
            )

        def publish(path, version):
            # re-derive the cleaned batch from the persisted new version:
            # value-identical (the written merged table IS the threshold
            # evidence) and pinned to files that outlive the prune
            freq_new, _, _ = read_line_frequency(self.spark, path)
            bp = freq_new.where(
                F.col("doc_count") >= int(info["min_docs"])
            ).select("nline", F.lit(True).alias("is_bp"))
            cleaned = _strip_flagged_lines(
                batch, bp, info["text_col"], id_col
            )
            return cleaned, self._register_boilerplate_index(
                table, info, path, version
            )

        return write_version(self.spark, info["root"], write, publish)

    def build_lm_index(
        self,
        table: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> dict:
        """Fit the bigram language model on ``table``'s current contents
        (the trusted REFERENCE corpus of the CCNet perplexity-filter
        stage, functions/lm.py) and register it as a versioned catalog
        artifact (round 13, VERDICT r12 #1 — the boilerplate/quantizer
        operational treatment for the LM): unigram + bigram count
        tables, the fitted document-id set (the incremental
        disjoint-batch guard's evidence) and the vocabulary size, all
        under one versioned root in the catalog workdir. Later sessions
        extend it with :meth:`update_lm_index` (additive count merge —
        never a rescan of history) and score candidate corpora with
        :meth:`lm_score`; the maintenance drift policy refits when the
        reference table mutates WITHOUT being fed through the
        incremental path. Contract: one row per document id (a
        multi-row-per-id reference would double-count its grams and
        make the doc-count drift baseline disagree perpetually)."""
        import os
        import time as _time

        from pyspark.sql import functions as F

        from approximate_query_engine_spark.functions.lm import (
            fit_bigram_lm,
            write_bigram_lm,
        )
        from approximate_query_engine_spark.versions import write_version

        df = self.spark.table(table)
        uni, bi = fit_bigram_lm(df, text_col=text_col)
        seen = df.select(F.col(id_col)).distinct()
        meta = {"text_col": text_col, "id_col": id_col}
        root = os.path.join(self.catalog.workdir, f"lm_{table}")
        base = {**meta, "root": root, "created_at": _time.time()}
        return write_version(
            self.spark,
            root,
            lambda path: write_bigram_lm(
                uni, bi, path, seen_ids=seen, meta=meta
            ),
            lambda path, version: self._register_lm_index(
                table, base, path, version
            ),
        )

    def _register_lm_index(
        self, table: str, base: dict, path: str, version: int
    ) -> dict:
        """Shared registration (publish step) for build and update: the
        entry ``base`` at ``path``, after re-reading the PERSISTED sidecars (vocab size, counted doc ids)
        through the artifact's own reader so the catalog entry describes
        what is actually on disk (one sidecar-format parser, not two),
        then move the pointer."""
        from approximate_query_engine_spark.functions.lm import (
            read_bigram_lm_state,
        )

        _, _, vocab, seen, _ = read_bigram_lm_state(self.spark, path)
        n_docs = seen.count() if seen is not None else 0
        entry = {
            **base,
            "path": path,
            "version": version,
            "vocab_size": vocab,
            # drift baseline: the reference docs this model accounts for
            "built_row_count": int(n_docs),
        }
        self.catalog.lm_indexes[table] = entry
        self.catalog.save()
        return dict(entry)

    def update_lm_index(self, table: str, batch) -> dict:
        """Extend the registered LM with a NEW reference batch: the
        batch's unigram/bigram counts merge ADDITIVELY into the
        persisted tables (merge_bigram_lm — the result is exactly what
        one fit over the union would produce, q118's oracle claim), the
        merged model is written to a NEW versioned directory before the
        catalog pointer moves, and the old version is pruned. The
        disjoint-batch contract is ENFORCED: a batch re-feeding ids
        already in the persisted seen set would silently double-count
        every gram of those documents, so the guard raises instead
        (NULL-id documents are refused outright — the guard tracks by
        id and cannot protect what has none).

        Reference-table contract (shared with the boilerplate index):
        the batch must ALSO be appended to ``table`` — the table is the
        source of truth the maintenance drift policy refits from, so
        counts fed here but absent from the table would be LOST on the
        next drift-triggered refit (the drift measure itself flags the
        mismatch: built_row_count counts fed docs, the catalog counts
        table rows)."""
        import time as _time

        from pyspark.sql import functions as F

        from approximate_query_engine_spark.functions.lm import (
            fit_bigram_lm,
            merge_bigram_lm,
            read_bigram_lm_state,
            write_bigram_lm,
        )
        from approximate_query_engine_spark.versions import write_version

        info = self.catalog.lm_indexes.get(table)
        if info is None:
            raise ValueError(
                f"no LM index registered for {table!r} — build one "
                "with build_lm_index first"
            )
        uni, bi, _, seen, _ = read_bigram_lm_state(
            self.spark, info["path"]
        )
        id_col, text_col = info["id_col"], info["text_col"]
        # a NULL id can never satisfy the disjoint contract: the semi
        # join below never matches NULL keys, so a re-fed NULL-id doc
        # would slip past the guard and its grams would double-count
        # silently (the fit aggregations never look at ids). Unlike the
        # boilerplate index — whose countDistinct(id) already ignores
        # NULL-id rows — the LM counts every document's grams, so the
        # guard must refuse what it cannot track (round-13 review).
        if (
            batch.where(F.col(id_col).isNull()).limit(1).count()
        ):
            raise ValueError(
                "update_lm_index: batch contains NULL document ids — "
                "the disjoint-batch guard tracks documents by id and "
                "cannot prevent a NULL-id document from double-counting "
                "on a re-feed. Assign ids before feeding."
            )
        # a duplicate id WITHIN the batch is the same double-count one
        # feed early: the fit aggregations count every row's grams, so
        # two rows under one id double that document before the seen
        # set (which stores the id once) could ever catch it (round-14
        # review — the boilerplate index is immune here too, its
        # countDistinct collapses in-batch repeats)
        n_batch_rows = batch.count()
        if (
            batch.select(F.col(id_col)).distinct().count()
            != n_batch_rows
        ):
            raise ValueError(
                "update_lm_index: batch contains duplicate document "
                "ids — the fit counts every row's grams, so repeats "
                "double-count within the feed. Dedupe the batch "
                "before feeding."
            )
        if seen is not None:
            dup = (
                batch.select(F.col(id_col))
                .join(seen.select(F.col(id_col)), id_col, "left_semi")
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "update_lm_index: batch re-feeds document ids "
                    "already counted in the model — additive gram "
                    "counts would silently double-count them. Feed "
                    "disjoint batches, or rebuild with build_lm_index "
                    "for a full re-fit."
                )
        buni, bbi = fit_bigram_lm(batch, text_col=text_col)
        muni, mbi = merge_bigram_lm(uni, bi, buni, bbi)
        new_seen = (
            seen.unionByName(batch.select(F.col(id_col)).distinct())
            .distinct()
            if seen is not None
            else batch.select(F.col(id_col)).distinct()
        )
        meta = {"text_col": text_col, "id_col": id_col}
        base = {**meta, "root": info["root"], "created_at": _time.time()}
        return write_version(
            self.spark,
            info["root"],
            lambda path: write_bigram_lm(
                muni, mbi, path, seen_ids=new_seen, meta=meta
            ),
            lambda path, version: self._register_lm_index(
                table, base, path, version
            ),
        )

    def lm_score(
        self,
        table: str,
        docs,
        id_col: str = "doc_id",
        k_smooth: float = 1.0,
        max_ppl: float | None = None,
        max_oov_frac: float | None = None,
        min_tokens: int | None = None,
    ):
        """Score a candidate corpus against ``table``'s registered LM
        (the score-many half of the fit-once/score-many model):
        ``docs`` is a DataFrame or view name carrying (id_col,
        text_col). Returns the per-document score frame
        (lm.score_documents — integer evidence tier + ppl), filtered to
        the survivors when any threshold is given
        (lm.lm_quality_filter's keep-NULL-evidence posture). The
        vocabulary size comes from the persisted sidecar — no scalar
        aggregate per call."""
        from approximate_query_engine_spark.functions.lm import (
            lm_quality_filter,
            read_bigram_lm,
            score_documents,
        )

        info = self.catalog.lm_indexes.get(table)
        if info is None:
            raise ValueError(
                f"no LM index registered for {table!r} — build one "
                "with build_lm_index first"
            )
        if isinstance(docs, str):
            docs = self.spark.table(docs)
        uni, bi, vocab = read_bigram_lm(self.spark, info["path"])
        if max_ppl is None and max_oov_frac is None and min_tokens is None:
            return score_documents(
                docs,
                uni,
                bi,
                text_col=info["text_col"],
                id_col=id_col,
                k_smooth=k_smooth,
                vocab_size=vocab,
            )
        return lm_quality_filter(
            docs,
            uni,
            bi,
            text_col=info["text_col"],
            id_col=id_col,
            max_ppl=max_ppl,
            max_oov_frac=max_oov_frac,
            min_tokens=int(min_tokens) if min_tokens is not None else 2,
            k_smooth=k_smooth,
            vocab_size=vocab,
        )

    def build_quantized_codes(
        self,
        table: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        levels: int = 256,
        sample_fraction: float | None = None,
        seed: int = 42,
        clamp_threshold: float = 0.005,
    ) -> dict:
        """Materialize ``table``'s scalar-quantized code table (the
        'encode once, probe many' half of the quantized kNN paths) and
        register it with a CLAMP-DRIFT policy (round 12, VERDICT r11
        #4): maintenance measures functions/quantization.clamp_stats on
        rows APPENDED after the build — values outside the fitted
        [min, max] saturate at the code-range edges, losing resolution
        silently — and when the appended clamp fraction crosses
        ``clamp_threshold`` it advises a re-fit + re-encode
        (budget-gated like the layout advice; in-range appends are
        simply encoded with the existing params and appended to the
        code table). The quantizer params ride the Parquet sidecar
        (quantization.write_quantized_codes), so any session reloads
        codes + params as one consistent pair."""
        from approximate_query_engine_spark.functions.quantization import (
            ScalarQuantizer,
            write_quantized_codes,
        )

        df = self.spark.table(table)
        q = ScalarQuantizer.fit(
            df,
            vec_col=vec_col,
            levels=levels,
            sample_fraction=sample_fraction,
            seed=seed,
        )
        # build-time clamp baseline: ~0 for a full fit, small and
        # EXPECTED for a sample fit (the threshold gates appended-data
        # drift, not the fit's own design clamping)
        return self._write_quantized_codes(
            table,
            df,
            q,
            lambda path: write_quantized_codes(
                df, q, path, id_col=id_col, vec_col=vec_col
            ),
            vec_col=vec_col,
            id_col=id_col,
            levels=levels,
            sample_fraction=sample_fraction,
            seed=seed,
            clamp_threshold=clamp_threshold,
        )

    def _write_quantized_codes(
        self,
        table: str,
        df,
        q,
        write,
        vec_col: str,
        id_col: str,
        levels: int,
        sample_fraction: float | None,
        seed: int,
        clamp_threshold: float,
        extra: dict | None = None,
    ) -> dict:
        """Shared write + registration for BOTH code-table kinds (flat
        and IVF): ``write(path)`` writes the next version (versions.py),
        then the clamp baseline, row count, catalog entry + stats. One
        definition so the drift policy's bookkeeping can never diverge
        between the two kinds."""
        import os
        import time as _time

        from pyspark.sql import functions as F

        from approximate_query_engine_spark.functions.quantization import (
            clamp_stats,
        )
        from approximate_query_engine_spark.versions import write_version

        root = os.path.join(self.catalog.workdir, f"quantized_{table}")

        def publish(path, version):
            row = (
                clamp_stats(df, q, vec_col)
                .agg(
                    F.coalesce(F.sum("clamped"), F.lit(0)).alias("c"),
                    F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
                )
                .collect()[0]
            )
            frac = float(row["c"]) / float(row["n"]) if row["n"] else 0.0
            n_rows = self.spark.read.parquet(path).count()
            entry = {
                "path": path,
                "root": root,
                "version": version,
                "vec_col": vec_col,
                "id_col": id_col,
                "levels": int(levels),
                "sample_fraction": sample_fraction,
                "seed": int(seed),
                "clamp_threshold": float(clamp_threshold),
                "built_row_count": int(n_rows),
                "built_clamp_fraction": frac,
                "created_at": _time.time(),
                **(extra or {}),
            }
            self.catalog.quantized_codes[table] = entry
            self.catalog.upsert_table_stats(table, int(n_rows))
            self.catalog.save()
            return dict(entry)

        return write_version(self.spark, root, write, publish)

    def build_ivf_codes(
        self,
        table: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        nlist: int = 16,
        levels: int = 256,
        sample_fraction: float | None = None,
        sample_rows: int = 10_000,
        seed: int = 42,
        clamp_threshold: float = 0.005,
        skew_threshold: float = 8.0,
        retrain: bool = False,
        centroids=None,
    ) -> dict:
        """Materialize the PRODUCTION ANN index for ``table`` (round 12
        — the engine-level home of functions/quantization's quantized
        IVF composition): train k-means coarse centroids on a bounded
        sample, fit the scalar quantizer, and write the int8 codes
        ``partitionBy('centroid_id')`` with params + centroid codes +
        FLOAT centroids in one sidecar. Registers under the same
        catalog entry class as :meth:`build_quantized_codes`
        (``kind='ivf'``), so maintenance runs the same clamp-drift
        policy — appended in-range rows are ASSIGNED and appended into
        their buckets; drifted appends advise a re-fit that re-encodes
        the SAME coarse geometry under the new params (float centroids
        ride the sidecar — a refit re-scales codes, it never re-shuffles
        bucket meaning). Geometry reuse requires a previous ivf entry
        over the SAME vector column at the SAME nlist; pass
        ``retrain=True`` to force fresh k-means when the data itself has
        drifted past what a re-encode can absorb, or ``centroids``
        (nlist × dim float vectors) to BRING YOUR OWN coarse geometry —
        e.g. trained offline in another system — which skips both
        k-means and geometry reuse (``nlist`` is then the list's
        length; round 14, also what lets a SQL oracle replay the whole
        build in q120). Maintenance also
        watches per-bucket POPULATION skew (round 13, VERDICT r12 #4):
        appends assigned into a drifting corpus pile into few buckets
        and probe cost creeps with the fat bucket's share — when
        max/mean crosses ``skew_threshold`` a coarse re-train is
        advised (budget-gated; deferral costs probe time, never
        correctness). Query with :meth:`knn`."""
        from approximate_query_engine_spark.functions.quantization import (
            ScalarQuantizer,
            centroid_codes_from_index,
            write_ivf_quantized_codes,
        )
        from approximate_query_engine_spark.functions.similarity import (
            IVFIndex,
        )

        df = self.spark.table(table)
        q = ScalarQuantizer.fit(
            df,
            vec_col=vec_col,
            levels=levels,
            sample_fraction=sample_fraction,
            seed=seed,
        )
        prev = self.catalog.quantized_codes.get(table)
        prev_floats = None
        if (
            centroids is None
            and not retrain
            and prev
            and prev.get("kind") == "ivf"
            # centroids trained in a DIFFERENT embedding space (another
            # vec_col) must never be reused — assignments would be
            # silently meaningless
            and prev.get("vec_col") == vec_col
        ):
            try:
                from approximate_query_engine_spark.functions.quantization import (  # noqa: E501
                    read_ivf_quantized_codes,
                )

                _, _, _, prev_floats = read_ivf_quantized_codes(
                    self.spark, prev["path"], with_float_centroids=True
                )
            except Exception:  # noqa: BLE001 - fall back to retrain
                prev_floats = None
        if prev_floats is not None and len(prev_floats) != int(nlist):
            prev_floats = None  # caller asked for a DIFFERENT geometry
        if centroids is not None:
            import numpy as _np

            index = IVFIndex(_np.asarray(centroids, dtype=float))
        elif prev_floats is not None:
            import numpy as _np

            index = IVFIndex(_np.asarray(prev_floats, dtype=float))
        else:
            index = IVFIndex.train(
                df,
                vec_col=vec_col,
                nlist=int(nlist),
                sample_rows=int(sample_rows),
                seed=seed,
            )
        cents = centroid_codes_from_index(index, q)
        return self._write_quantized_codes(
            table,
            df,
            q,
            lambda path: write_ivf_quantized_codes(
                df,
                q,
                cents,
                path,
                id_col=id_col,
                vec_col=vec_col,
                float_centroids=index.centroids,
            ),
            vec_col=vec_col,
            id_col=id_col,
            levels=levels,
            sample_fraction=sample_fraction,
            seed=seed,
            clamp_threshold=clamp_threshold,
            extra={
                "kind": "ivf",
                "nlist": int(len(index.centroids)),
                # persisted so a maintenance RETRAIN (sidecar predates
                # float centroids, or geometry forced fresh) keeps the
                # operator's chosen k-means sample size
                "sample_rows": int(sample_rows),
                # max/mean bucket-population ratio (probe-cost inflation
                # vs a balanced file) past which the
                # maintenance skew policy advises a coarse re-train
                # (round 13, VERDICT r12 #4 — probe cost, never
                # correctness)
                "skew_threshold": float(skew_threshold),
            },
        )

    def knn(
        self,
        table: str,
        queries,
        k: int = 10,
        nprobe: int = 4,
        shortlist_factor: int = 4,
        exclude_self: bool = False,
    ):
        """Batch kNN over ``table``'s registered ANN index
        (:meth:`build_ivf_codes`): ``queries`` is a DataFrame of
        (id_col, vec_col) rows; returns (query_id, neighbor_id, cosine,
        rank) from the quantized-IVF pipeline — probed-bucket integer
        shortlist over the PERSISTED partitioned codes (file-listing
        pruning), exact-float rerank against the base table's vectors.
        Declines loudly when the index is stale (base row count moved
        since the build/maintenance last accounted for it) — a stale
        index can rank deleted vectors or miss new ones; run
        ``maintain()`` first. The gate compares CATALOG row counts
        (catalog-first, no live COUNT on the query path — SURVEY row
        37's posture), so it is only as fresh as the last
        analyze/maintain sweep: an append that never updated the
        catalog stats is invisible here until maintenance runs. The
        maintenance quantized-codes arm closes the loop — it refreshes
        stats, probes for ghost ids on EVERY sweep, and re-encodes or
        rebuilds as needed (r12 ADVICE)."""
        from approximate_query_engine_spark.functions.quantization import (
            knn_join_ivf_quantized,
        )

        info, assigned, quant, cents = self._ann_index_frames(
            table, "querying"
        )
        return knn_join_ivf_quantized(
            queries,
            self.spark.table(table),
            quant,
            cents,
            k=int(k),
            nprobe=int(nprobe),
            shortlist_factor=int(shortlist_factor),
            left_id=info["id_col"],
            right_id=info["id_col"],
            vec_col=info["vec_col"],
            exclude_self=exclude_self,
            assigned_codes=assigned,
        )

    def semantic_dedup(
        self,
        table: str,
        threshold: float = 0.95,
        return_pairs: bool = False,
        assign_probes: int = 1,
    ):
        """Semantic (embedding-cosine) near-duplicate detection over
        ``table`` through its registered ANN index (round 13 — the
        SemDedup stage riding the same persisted inverted file
        :meth:`knn` probes): candidate pairs generate ONLY within
        coarse buckets of the partitioned assigned table, the verdict
        is exact float cosine against the base vectors. Returns the
        marked frame (``is_semantic_duplicate``, keep-earliest) or the
        raw pairs under ``return_pairs``. The same staleness gate as
        knn: a code table that no longer accounts for the base rows
        could both miss new duplicates and flag ghosts, so it declines
        loudly — run ``maintain()`` first. Sizing note: pair cost is
        Σ_buckets B²/2, so build the index with ``nlist`` large enough
        that the expected bucket is small (SemDedup uses ~100k clusters
        at web scale); the maintenance bucket-skew policy keeps that
        assumption honest as the corpus drifts. ``assign_probes > 1``
        (round 14) bounds the Voronoi-boundary miss — boundary pairs
        share a top-P bucket — at the cost of one fresh multi-probe
        corpus scan (the persisted top-1 table cannot express
        multi-membership) and ~P× candidate volume."""
        from approximate_query_engine_spark.functions.quantization import (
            ivf_semantic_dedup,
            ivf_semantic_dup_pairs,
        )

        info, assigned, quant, cents = self._ann_index_frames(
            table, "deduping"
        )
        fn = ivf_semantic_dup_pairs if return_pairs else ivf_semantic_dedup
        return fn(
            self.spark.table(table),
            quant,
            cents,
            threshold=float(threshold),
            id_col=info["id_col"],
            vec_col=info["vec_col"],
            assigned_codes=assigned,
            assign_probes=int(assign_probes),
        )

    def semantic_dedup_update(
        self,
        table: str,
        batch,
        threshold: float = 0.95,
        return_pairs: bool = False,
        with_candidate_count: bool = False,
        assign_probes: int = 1,
    ) -> tuple:
        """Incremental semantic dedup of a NEW embedding batch against
        ``table``'s registered ANN index (round 14, VERDICT r13 #1 —
        the update_lm_index / update_boilerplate_index treatment for
        the SemDedup family): the batch is assigned into the PERSISTED
        index's coarse buckets (the registered quantizer + centroid
        codes — never a re-fit), candidate pairs generate only within
        buckets and only where a batch id participates, the verdict is
        exact float cosine, and the batch's codes are appended
        partition-wise into the persisted assigned table (the
        maintenance encode_append shape — probes keep pruning). Returns
        ``(marked_batch_or_pairs, updated_entry)``.

        The disjoint-batch contract is ENFORCED: a batch re-feeding
        vector ids already in the code table would duplicate those rows
        in every future probe and pair them against themselves, so the
        guard raises before anything is appended (NULL-id vectors are
        refused outright — the guard tracks by id and cannot protect
        what has none). Invariant (q120's oracle claim): the returned
        pairs EQUAL the full-corpus :meth:`semantic_dedup` pair set
        over (corpus ∪ batch) restricted to pairs touching a batch id.

        Base-table contract (shared with the LM index): the batch must
        ALSO be appended to ``table`` — the table is the source of
        truth maintenance rebuilds from, so codes fed here but absent
        from the table would be LOST on the next drift-triggered
        rebuild (the ghost probe flags exactly that mismatch). Either
        feed order works: the staleness gate accepts the catalog
        reading built or built + batch rows during the update."""
        from pyspark.sql import functions as F

        from approximate_query_engine_spark.functions.quantization import (
            incremental_semantic_dedup,
            incremental_semantic_dup_pairs,
        )

        n_batch = batch.count()
        if n_batch == 0:
            raise ValueError(
                "semantic_dedup_update: empty batch — nothing to assign"
            )
        info, assigned, quant, cents = self._ann_index_frames(
            table, "incrementally deduping", pending_batch_rows=n_batch
        )
        id_col, vec_col = info["id_col"], info["vec_col"]
        # a NULL id can never satisfy the disjoint contract: the semi
        # join below never matches NULL keys, so a re-fed NULL-id vector
        # would slip past the guard and duplicate silently (the same
        # refusal rationale as update_lm_index, engine.py:1033)
        if batch.where(F.col(id_col).isNull()).limit(1).count():
            raise ValueError(
                "semantic_dedup_update: batch contains NULL vector ids "
                "— the disjoint-batch guard tracks vectors by id and "
                "cannot prevent a NULL-id vector from duplicating on a "
                "re-feed. Assign ids before feeding."
            )
        # a duplicate id WITHIN the batch is the same corruption one
        # feed later: two code rows under one id, double-served by every
        # probe and self-paired by the next update's guard-passing feed
        if batch.select(F.col(id_col)).distinct().count() != n_batch:
            raise ValueError(
                "semantic_dedup_update: batch contains duplicate vector "
                "ids — appending would store multiple code rows under "
                "one id and every probe would serve them all. Dedupe "
                "the batch before feeding."
            )
        # EXISTS probe flipped so the corpus-sized code table STREAMS
        # against the broadcast batch ids (a batch-left semi join would
        # shuffle the whole assigned table to answer a yes/no)
        dup = (
            assigned.select(F.col(id_col))
            .join(
                F.broadcast(batch.select(F.col(id_col))),
                id_col,
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "semantic_dedup_update: batch re-feeds vector ids "
                "already in the code table — appending would duplicate "
                "them in every probe and pair them against themselves. "
                "Feed disjoint batches, or rebuild with build_ivf_codes."
            )
        kwargs = dict(
            threshold=float(threshold),
            id_col=id_col,
            vec_col=vec_col,
            # widen the BATCH side to its top-P buckets (the appended
            # codes stay rank-1, the persisted layout)
            assign_probes=int(assign_probes),
        )
        if return_pairs:
            fn = incremental_semantic_dup_pairs
            # the pruning proof rides only the pairs form (the marked
            # frame is row-per-batch-doc, not row-per-pair)
            kwargs["with_candidate_count"] = bool(with_candidate_count)
        else:
            fn = incremental_semantic_dedup
        out, batch_assigned = fn(
            batch,
            assigned,
            self.spark.table(table),
            quant,
            cents,
            **kwargs,
        )
        # pin the result to the PRE-APPEND state before new files land
        # under the same path: the pair set must never see the batch on
        # the corpus side of its own update
        out = out.localCheckpoint(eager=True)
        (
            batch_assigned.write.mode("append")
            .partitionBy("centroid_id")
            .parquet(info["path"])
        )
        info["built_row_count"] = int(
            info.get("built_row_count") or 0
        ) + int(n_batch)
        self.catalog.quantized_codes[table] = info
        self.catalog.upsert_table_stats(table, info["built_row_count"])
        self.catalog.save()
        return out, dict(info)

    def _ann_index_frames(
        self, table: str, verb: str, pending_batch_rows: int | None = None
    ):
        """Shared index fetch for the ANN consumers (:meth:`knn`,
        :meth:`semantic_dedup`, :meth:`semantic_dedup_update`):
        registered-entry lookup, the catalog staleness gate, and the
        per-version sidecar cache — ONE definition so the gates can
        never diverge between consumers.

        ``pending_batch_rows`` relaxes the staleness gate for the
        incremental-update path ONLY: a caller feeding a batch of that
        size may have appended it to the base table already (the
        catalog then reads built + batch) or not yet (built) — both are
        consistent mid-update; any OTHER count is a real mutation and
        still declines.

        The params/centroids sidecar is a one-row collect — cached per
        version path so repeated lookups pay zero extra jobs (the
        versioned-directory contract makes the path itself the cache
        key: a refit moves the pointer, never mutates in place). The
        assigned frame is re-read each call on purpose: maintenance
        APPENDS files under the same path and a lazy re-list picks
        them up."""
        from approximate_query_engine_spark.functions.quantization import (
            read_ivf_quantized_codes,
        )

        info = self.catalog.quantized_codes.get(table)
        if info is None or info.get("kind") != "ivf":
            raise ValueError(
                f"no ANN index registered for {table!r} — build one "
                "with build_ivf_codes first"
            )
        current = self.catalog.get_row_count(table)
        allowed = {info.get("built_row_count")}
        if pending_batch_rows:
            allowed.add(
                int(info.get("built_row_count") or 0)
                + int(pending_batch_rows)
            )
        if current is not None and current not in allowed:
            raise ValueError(
                f"ANN index for {table!r} is stale (base rows "
                f"{current} != indexed {info.get('built_row_count')}) — "
                f"run maintain() to re-encode/rebuild before {verb}"
            )
        cached = getattr(self, "_ann_sidecar_cache", None)
        if cached is None:
            cached = self._ann_sidecar_cache = {}
        if info["path"] in cached:
            quant, cents = cached[info["path"]]
            assigned = self.spark.read.parquet(info["path"])
        else:
            assigned, quant, cents = read_ivf_quantized_codes(
                self.spark, info["path"]
            )
            cached[info["path"]] = (quant, cents)
            if len(cached) > 16:  # bounded: a handful of live indexes
                cached.pop(next(iter(cached)))
        return info, assigned, quant, cents

    def create_rollup(
        self,
        table: str,
        time_col: str,
        bucket: str,
        dims: list[str] | None = None,
        measures: list[str] | None = None,
        distinct_cols: list[str] | None = None,
        hll_lgk: int = 12,
        quantile_cols: list[str] | None = None,
        kll_k: int = 200,
        topk_cols: list[str] | None = None,
        topk_budget: int = 1024,
        theta_cols: list[str] | None = None,
        theta_lgk: int = 12,
        derive: bool = True,
        theta_key_native: bool | None = None,
    ) -> dict:
        """Materialize a continuous-aggregate rollup of ``table`` (partial
        count/sum/min/max state per (time bucket, dims)) under the catalog
        workdir, register it, and arm SQL routing: matching aggregates
        over the RAW table are answered exactly from the rollup
        (operators/rollup.py rewrite_to_rollup). The hypertable pattern —
        at 100 TB dashboards scan the rollup, never the fact table.
        ``distinct_cols`` adds HLL sketch state (routed COUNT(DISTINCT));
        ``quantile_cols`` adds KLL sketch state (routed MEDIAN /
        PERCENTILE, rank error ≤ kll_rank_error(kll_k)); ``topk_cols`` /
        ``theta_cols`` add heavy-hitter and set-algebra state.

        ``derive`` (default on): when a FRESH finer-grain rollup of the
        same table already holds a superset of the requested state, this
        build re-aggregates THAT rollup's state instead of re-scanning
        the fact table — the hierarchical continuous-aggregate build
        (day-from-hour costs a state scan, not a fact scan; every state
        kind is mergeable by construction).

        ``theta_key_native`` (round 15, guide §4/§2.3): build theta state
        by hashing the RAW key column instead of ``CAST(col AS STRING)``
        (~18% off every sketch-build scan, measured at 120M rows). The
        flag is a STATE parameter — it travels in the catalog entry and
        every refresh / hybrid edge-slice derives its key expression from
        it, so one layout can never mix hash spaces. Requires every
        theta column's type to be natively hashable
        (``rollup.THETA_NATIVE_TYPES``); refused loudly otherwise.
        Certified-exact routed answers are IDENTICAL under either
        encoding (exact regime = exact counts); only beyond-budget raw
        estimates differ, which routing never serves. Not passed (None):
        native exactly when the types allow, so a fresh build is never
        advised a migration; existing layouts keep v1 until
        maintenance's advised migration rebuilds them.

        Every build is a new version directory of the rollup's root
        (versions.py): the previous version keeps serving until this one
        is written, served and cataloged."""
        import os

        from approximate_query_engine_spark.operators.rollup import (
            _partial_state,
            RollupSpec,
            bucket_seconds,
            derive_rollup_state,
            entry_spec,
            is_week_bucket,
            serve_layout,
            write_rollup_state,
        )
        from approximate_query_engine_spark.versions import write_version
        from pyspark.sql import functions as F

        bsec = bucket_seconds(bucket)
        if bsec is None:
            raise ValueError(
                f"bucket must be a fixed-width interval (seconds/minutes/"
                f"hours/days), got: {bucket!r}"
            )
        if is_week_bucket(bucket):
            # Spark's F.window weeks are EPOCH-aligned (Thursday
            # boundaries) while SQL DATE_TRUNC('week') is Monday — a
            # weekly-bucket layout could never serve week-grain dashboard
            # keys (the bucket-alignment gate would always decline) and
            # its buckets match no calendar. Refuse loudly instead of
            # building a useless layout.
            raise ValueError(
                "week-grain buckets are not supported: Spark windows are "
                "epoch-aligned (Thursday), not calendar weeks. Build a "
                "'1 day' rollup instead — DATE_TRUNC('week', ...) "
                "queries route from day-grain state (Monday weeks are "
                "day-aligned)."
            )
        native_ok = self._theta_native_ok(table, theta_cols)
        if theta_key_native is None:
            theta_key_native = native_ok
        elif theta_key_native and theta_cols and not native_ok:
            raise ValueError(
                "theta_key_native requires natively hashable theta "
                f"columns (rollup.THETA_NATIVE_TYPES); {theta_cols} have "
                f"types {self.spark.table(table).select(*theta_cols).dtypes}"
                " — keep the string encoding for these"
            )
        spec = RollupSpec(
            table,
            time_col,
            bucket,
            dims or [],
            measures or [],
            distinct_cols or [],
            hll_lgk,
            quantile_cols or [],
            kll_k,
            topk_cols or [],
            topk_budget,
            theta_cols or [],
            theta_lgk,
            theta_key_native=bool(theta_key_native),
        )
        base_rows = self.catalog.get_row_count(table)
        if base_rows is None:
            base_rows = self.spark.table(table).count()
            self.catalog.upsert_table_stats(table, base_rows)
        root = os.path.join(self.catalog.workdir, f"rollup_{spec.rollup_name}")
        fine_entry = (
            self._derivable_fine(table, spec, base_rows) if derive else None
        )
        fine = entry_spec(table, fine_entry) if fine_entry else None
        derived_from = fine_entry["view"] if fine_entry else None

        def write(path):
            state = (
                derive_rollup_state(self.spark, fine, spec)
                if fine is not None
                else _partial_state(self.spark.table(table), spec)
            )
            write_rollup_state(self.spark, state, spec, path)

        def publish(path, _version):
            serve_layout(self.spark, spec.rollup_name, path)
            # one aggregate over the served state: the bucket count, and the
            # source rows the buckets hold — the rest have a NULL time column
            n_buckets, state_rows = (
                self.spark.table(spec.files_view)
                .agg(F.count(F.lit(1)), F.sum("n_rows"))
                .collect()[0]
            )
            # NULL evidence for the top-k SQL routing gate: approx_top_k
            # state never sees NULLs, so a routed GROUP BY would silently
            # drop the NULL group — record whether each tracked column was
            # null-free at build time (one column-pruned agg; the derived
            # path copies the fine rollup's flags — same data lineage —
            # instead of re-scanning the fact table)
            topk_notnull: dict[str, bool] = {}
            topk_exact_ndv: dict[str, dict] = {}
            if topk_cols:
                inherited = (
                    (fine_entry or {}).get("topk_notnull") or {}
                    if derived_from is not None
                    else {}
                )
                # exact-ndv build evidence rides the same lineage rule: a
                # derived build re-aggregates the fine rollup's state over
                # the same base rows, so its per-column evidence holds
                inh_ndv = (
                    (fine_entry or {}).get("topk_exact_ndv") or {}
                    if derived_from is not None
                    else {}
                )
                missing = [
                    c
                    for c in topk_cols
                    if c not in inherited or c not in inh_ndv
                ]
                topk_notnull = {
                    c: bool(inherited[c]) for c in topk_cols if c in inherited
                }
                topk_exact_ndv = {
                    c: dict(inh_ndv[c]) for c in topk_cols if c in inh_ndv
                }
                if missing:
                    # one column-pruned pass records BOTH the NULL evidence
                    # and the EXACT distinct count per tracked column — the
                    # build already pays a fact scan, and exact ndv is what
                    # lets _topk_certified say "exact regime" literally
                    # (countDistinct skips NULLs: exactly the values that
                    # can enter the approx_top_k state)
                    aggs = []
                    for i, c in enumerate(missing):
                        aggs.append(
                            F.sum(F.col(c).isNull().cast("long")).alias(
                                f"__nulls_{i}"
                            )
                        )
                        aggs.append(
                            F.countDistinct(F.col(c)).alias(f"__ndv_{i}")
                        )
                    row = self.spark.table(table).agg(*aggs).collect()[0]
                    for i, c in enumerate(missing):
                        topk_notnull[c] = int(row[f"__nulls_{i}"] or 0) == 0
                        topk_exact_ndv[c] = {
                            "ndv": int(row[f"__ndv_{i}"] or 0),
                            # True = exact count at build; refresh degrades
                            # it to an exact UPPER BOUND (old + tail ndv)
                            "exact": True,
                        }
            files_view = spec.files_view
            info = {
                "source_table": table,
                "view": spec.rollup_name,
                "files_view": files_view,
                "path": path,
                "time_col": time_col,
                "bucket": bucket,
                "bucket_seconds": bsec,
                "dims": list(dims or []),
                "measures": list(measures or []),
                "distinct_cols": list(distinct_cols or []),
                "hll_lgk": int(hll_lgk),
                "quantile_cols": list(quantile_cols or []),
                "kll_k": int(kll_k),
                "topk_cols": list(topk_cols or []),
                "topk_budget": int(topk_budget),
                "theta_cols": list(theta_cols or []),
                "theta_lgk": int(theta_lgk),
                # v2 theta key encoding (round 15): every later state builder
                # (refresh, hybrid edge slices, migration check) reads THIS —
                # the layout's hash space is defined here, never re-derived
                "theta_key_native": bool(theta_key_native),
                # build-time null evidence per topk column (see above) —
                # the SQL routing gate requires True (refresh re-checks the
                # tail and can only flip True -> False)
                "topk_notnull": topk_notnull,
                # build-time EXACT distinct count per topk column: the
                # first (strongest) certification tier for top-k routing.
                # exact=True at build; refresh turns it into an exact upper
                # bound (old + tail distinct count, exact=False)
                "topk_exact_ndv": topk_exact_ndv,
                # provenance (observability only — routing never reads it):
                # which finer rollup's state this build re-aggregated
                "derived_from": derived_from,
                # freshness gate: routing declines when the base table's
                # catalog row count drifts from this (same contract as
                # partitioned layouts — maintenance/register keep it current)
                "built_row_count": int(base_rows),
                # source rows with a NULL time column: the state holds none of
                # them, so a query with no time conjunct declines while > 0
                "null_ts_rows": max(0, int(base_rows) - int(state_rows or 0)),
            }
            # a rebuild updates its entry in place (moved last), so code
            # holding the entry follows it to the new version
            entries = self.catalog.rollups.get(table, [])
            entry = next((e for e in entries if e["view"] == info["view"]), {})
            entry.update(info)
            self.catalog.rollups[table] = [
                e for e in entries if e is not entry
            ] + [entry]
            self.catalog.save()
            return {
                "rollup": spec.rollup_name,
                "path": path,
                "buckets": int(n_buckets),
                "bucket": bucket,
                "dims": info["dims"],
                "measures": info["measures"],
                # provenance: which finer rollup's state this build
                # re-aggregated (None = built from the raw table)
                "derived_from": derived_from,
            }

        return write_version(self.spark, root, write, publish)

    def _serve_rollup(self, info: dict) -> None:
        """Serve a cataloged rollup's two views unless the registry
        already serves them from its path (no per-query catalog RPC)."""
        from approximate_query_engine_spark.operators.rollup import (
            serve_layout,
        )

        if not self.served.has(info["files_view"], info["path"]):
            serve_layout(self.spark, info["view"], info["path"])

    def _derivable_fine(self, table, spec, base_rows):
        """The catalog entry of the FRESH finer-grain rollup of ``table``
        whose state can derive ``spec`` (create/refresh hierarchy source),
        with its views served — or None. Freshness = the fine entry was built
        against exactly ``base_rows``; a stale fine would bake its drift
        into the derived state."""
        from approximate_query_engine_spark.operators.rollup import (
            can_derive_rollup,
            entry_spec,
        )

        for e in self.catalog.rollups.get(table, []):
            if e["view"] == spec.rollup_name:
                continue
            if e.get("built_row_count") != base_rows:
                continue
            if e.get("time_col") != spec.time_col:
                continue
            if can_derive_rollup(entry_spec(table, e), spec) is not None:
                continue
            try:
                self._serve_rollup(e)
            except Exception:
                continue  # materialization gone — not usable
            return e
        return None

    def refresh_rollup(
        self,
        table: str,
        view: str | None = None,
        since: str | None = None,
        *,
        _source_rows: int | None = None,
        _null_ts_rows: int | None = None,
    ) -> dict:
        """Incremental tail refresh of a materialized rollup: recompute
        only the date directories from ``since`` (default: the layout's
        LAST date — the one that may have been mid-day-incomplete) via
        dynamic partition overwrite, then re-arm routing against the
        current base row count. Years of rollup history are never re-read
        — one day of appends costs one day's source scan, vs the full
        rebuild maintenance falls back to. CONTRACT: append-mostly data;
        every date directory before ``since`` must already match the
        source. Maintenance proves that per date (it compares the
        source's per-date row counts with the layout's) and passes the
        earliest changed date as ``since``, so late rows are covered; a
        direct caller with late rows before the last date passes that
        earlier ``since`` itself (same as refresh_partition_layout).

        ``_source_rows`` and ``_null_ts_rows`` are maintenance's handoff of
        the source row count and its NULL-timestamp rows, which its
        verification scan already took; without them (users, the API) the
        source is counted here and the NULL rows are the count less the
        refreshed state's ``SUM(n_rows)``."""
        from approximate_query_engine_spark.operators.partitioning import (
            list_bucket_dirs,
        )
        from approximate_query_engine_spark.operators.rollup import (
            entry_spec,
            refresh_rollup_buckets,
        )

        entries = self.catalog.rollups.get(table, [])
        if view is not None:
            entries = [e for e in entries if e["view"] == view]
        if not entries:
            raise ValueError(
                f"no registered rollup for table {table!r}"
                + (f" with view {view!r}" if view else "")
            )
        info = entries[0]
        spec = entry_spec(table, info)
        if since is None:
            dates = list_bucket_dirs(
                self.spark, info["path"], partition_col="p_date"
            )
            if not dates:
                raise ValueError(
                    f"rollup layout at {info['path']} has no date "
                    "directories; rebuild with create_rollup"
                )
            since = dates[-1]
        # hierarchical refresh: when an ALREADY-REFRESHED finer rollup
        # can derive this one, recompute the tail from ITS state — day
        # refreshes from hour at state-scan cost. The freshness gate
        # (fine.built_row_count == current source rows) guarantees the
        # fine layout already reflects the data this refresh targets.
        current = (
            self.spark.table(table).count()
            if _source_rows is None
            else int(_source_rows)
        )
        fine_entry = self._derivable_fine(table, spec, current)
        if fine_entry is not None:
            from approximate_query_engine_spark.operators.rollup import (
                refresh_rollup_buckets_from_state,
            )

            fine = entry_spec(table, fine_entry)
            refresh_rollup_buckets_from_state(
                self.spark, fine, spec, info["path"], since
            )
            refreshed_from = fine.rollup_name
        else:
            refresh_rollup_buckets(self.spark, spec, info["path"], since)
            refreshed_from = None
        # re-verify NULL evidence over the refreshed tail: appends can
        # only ADD nulls, so a True flag stays True iff the tail is
        # null-free (one column-pruned tail scan; False is sticky until
        # a full rebuild re-proves it). The same tail pass maintains the
        # exact-ndv build evidence as an exact UPPER BOUND: ndv(new) <=
        # ndv(old) + ndv(tail) — appends can only add values, and the
        # tail superset (>= since includes the overlap day) only widens
        # the bound. A no-append refresh leaves the evidence untouched.
        notnull = info.get("topk_notnull") or {}
        live = [c for c, ok in notnull.items() if ok]
        evid = {
            c: dict(v) for c, v in (info.get("topk_exact_ndv") or {}).items()
        }
        grew = int(current) != int(info.get("built_row_count") or -1)
        ndv_cols = sorted(evid) if (evid and grew) else []
        if live or ndv_cols:
            from pyspark.sql import functions as F

            aggs = [
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{i}")
                for i, c in enumerate(live)
            ] + [
                F.countDistinct(F.col(c)).alias(f"__ndv_{i}")
                for i, c in enumerate(ndv_cols)
            ]
            row = (
                self.spark.table(table)
                .where(F.col(info["time_col"]).cast("date") >= since)
                .agg(*aggs)
                .collect()[0]
            )
            for i, c in enumerate(live):
                if int(row[f"__nulls_{i}"] or 0) != 0:
                    notnull[c] = False
            info["topk_notnull"] = notnull
            for i, c in enumerate(ndv_cols):
                evid[c] = {
                    "ndv": int(evid[c]["ndv"]) + int(row[f"__ndv_{i}"] or 0),
                    "exact": False,  # now an upper bound, still exact math
                }
            if ndv_cols:
                info["topk_exact_ndv"] = evid
        self.catalog.upsert_table_stats(table, current)
        info["built_row_count"] = int(current)
        if _null_ts_rows is None:
            # every source row with a time value sits in exactly one
            # bucket's n_rows: the rest have a NULL time column
            state_rows = self.spark.sql(
                f"SELECT SUM(n_rows) FROM {info['files_view']}"
            ).collect()[0][0]
            _null_ts_rows = max(0, int(current) - int(state_rows or 0))
        info["null_ts_rows"] = int(_null_ts_rows)
        self.catalog.save()
        return {
            "rollup": info["view"],
            "refreshed_since": since,
            "built_row_count": int(current),
            "refreshed_from": refreshed_from,
        }

    def _table_columns(self, table: str) -> frozenset[str]:
        """Cached column set of ``table`` — the advisors run on every
        non-routed query and spark.table().columns is a catalog RPC that
        doesn't belong in the hot path (register_view invalidates)."""
        cols = self._table_cols_cache.get(table)
        if cols is None:
            cols = frozenset(self.spark.table(table).columns)
            self._table_cols_cache[table] = cols
        return cols

    #: cap on distinct observed query shapes kept per ADVISOR BOOK
    #: (rollup and layout candidates each; the books persist in catalog
    #: metadata, so a high-cardinality ad-hoc workload must not grow
    #: them without bound)
    _MAX_ADVISOR_CANDIDATES = 256

    def _evict_candidates(self, book: dict) -> None:
        """Cap an advisor candidate book in place: evict the
        least-observed shapes first — recurring dashboard shapes
        accumulate count and survive."""
        if len(book) > self._MAX_ADVISOR_CANDIDATES:
            for k in sorted(book, key=lambda k: book[k]["count"])[
                : len(book) - self._MAX_ADVISOR_CANDIDATES
            ]:
                del book[k]

    def _observe(self, book: dict, shape: dict) -> None:
        """Count one observation of ``shape`` in an advisor ``book``,
        keyed by its JSON signature, then cap the book."""
        import json

        sig = json.dumps(shape, sort_keys=True)
        book.setdefault(sig, {**shape, "count": 0})["count"] += 1
        self._evict_candidates(book)

    def _record_rollup_candidate(self, parsed: ParsedQuery | None) -> None:
        """Best-effort advisor bookkeeping for the query's single-table
        parse — never fails the query."""
        try:
            from approximate_query_engine_spark.operators.rollup import (
                infer_rollup_shape,
            )

            if type(parsed) is not ParsedQuery:
                return  # out of grammar, or a join
            shape = infer_rollup_shape(parsed)
            if shape is None:
                return
            cols = self._table_columns(shape["table"])
            referenced = (
                {shape["time_col"]}
                | set(shape["dims"])
                | set(shape["measures"])
                | set(shape["distinct_cols"])
                | set(shape["quantile_cols"])
            )
            if not referenced <= cols:
                return  # alias/typo noise — don't advise on it
            self._observe(self.catalog.rollup_candidates, shape)
        except Exception:  # noqa: BLE001 - advice must never break queries
            return

    def recommend_rollups(self, min_count: int = 3) -> list[dict]:
        """The MATERIALIZATION ADVISOR: merge recurring rollup-shaped
        queries that ran without a rollup into concrete create_rollup
        suggestions — per (table, time_col): union of dims/measures/
        sketch columns, finest observed bucket. Round 10: the book also
        holds OVERLAP observations (engine.segment_overlap's raw
        fallback), which merge in as ``theta_cols`` — the one state
        family SQL shapes can never imply. Shapes a registered
        FRESH rollup already covers (can_derive_rollup: it could answer
        them) are excluded, so advice converges to empty once followed.
        At 100 TB this is how the rollup set tracks the workload instead
        of someone's guess."""
        from approximate_query_engine_spark.operators.rollup import (
            RollupSpec,
            bucket_seconds,
        )

        merged: dict[tuple[str, str], dict] = {}
        for rec in self.catalog.rollup_candidates.values():
            key = (rec["table"], rec["time_col"])
            m = merged.setdefault(
                key,
                {
                    "table": rec["table"],
                    "time_col": rec["time_col"],
                    "bucket": rec["bucket"],
                    "dims": set(),
                    "measures": set(),
                    "distinct_cols": set(),
                    "quantile_cols": set(),
                    "theta_cols": set(),
                    "topk_candidates": set(),
                    "hard_dims": set(),
                    "observed_queries": 0,
                },
            )
            if bucket_seconds(rec["bucket"]) < bucket_seconds(m["bucket"]):
                m["bucket"] = rec["bucket"]
            for f in (
                "dims",
                "measures",
                "distinct_cols",
                "quantile_cols",
                # theta shapes come from the OVERLAP observation book
                # (engine.segment_overlap's raw fallback — round 10);
                # SQL-inferred shapes never carry the key
                "theta_cols",
            ):
                m[f] |= set(rec.get(f, []))
            tk = set(rec.get("topk_candidates", []))
            m["topk_candidates"] |= tk
            # a dim some OTHER shape filters or groups on for real must
            # stay a dim — only soft (candidate-only) columns may be
            # converted to sketch state
            m["hard_dims"] |= set(rec["dims"]) - tk
            m["observed_queries"] += int(rec["count"])
        out = []
        for m in merged.values():
            if m["observed_queries"] < min_count:
                continue
            # the TOP-ITEMS decision (VERDICT r8 #1): a candidate group
            # key too high-cardinality to be a dim becomes frequent-items
            # sketch state — the only pre-aggregation that can serve
            # `GROUP BY col ORDER BY COUNT(*) DESC LIMIT k` without a
            # fact scan. Low/unknown ndv keeps the exact dims advice
            # (it routes through the plain rewrite). The budget is sized
            # for certified-exact routing: next power of two above
            # ndv × 1.25, so build-time exact evidence (plus append
            # headroom) fits with no Misra–Gries purge.
            dims = set(m["dims"])
            distincts = set(m["distinct_cols"])
            topk_cols: list[str] = []
            topk_budget = 0
            for col in sorted(m["topk_candidates"]):
                if col in m["hard_dims"]:
                    continue
                ndv = self.catalog.get_column_ndv(m["table"], col)
                if ndv is None or ndv <= self.advisor_topk_dim_ndv:
                    continue
                dims.discard(col)
                topk_cols.append(col)
                # certification fallback once refresh inflates the exact
                # upper bound: the rollup's own distinct-sketch state
                distincts.add(col)
                need = max(1024, int(ndv * 1.25) + 1)
                topk_budget = max(topk_budget, 1 << (need - 1).bit_length())
            m["dims"], m["distinct_cols"] = dims, distincts
            m["topk_cols"], m["topk_budget"] = (
                topk_cols,
                topk_budget or 1024,
            )
            cand = RollupSpec(
                m["table"],
                m["time_col"],
                m["bucket"],
                sorted(m["dims"]),
                sorted(m["measures"]),
                sorted(m["distinct_cols"]),
                12,
                sorted(m["quantile_cols"]),
                200,
                sorted(m["topk_cols"]),
                m["topk_budget"],
                sorted(m["theta_cols"]),
                12,
            )
            # coverage is STRUCTURAL (unlike derivability, sketch params
            # don't matter — a rollup at any k answers quantile queries;
            # theta state covers plain distinct counts too)
            def _covers(e: dict) -> bool:
                eb, cb = (
                    bucket_seconds(e["bucket"]),
                    bucket_seconds(cand.bucket),
                )
                if e.get("time_col") != cand.time_col:
                    return False
                if eb is None or cb is None or cb % eb != 0:
                    return False
                return (
                    set(cand.dims) <= set(e.get("dims", []))
                    and set(cand.measures) <= set(e.get("measures", []))
                    and set(cand.distinct_cols)
                    <= set(e.get("distinct_cols", []))
                    | set(e.get("theta_cols", []))
                    and set(cand.quantile_cols)
                    <= set(e.get("quantile_cols", []))
                    and set(cand.theta_cols) <= set(e.get("theta_cols", []))
                    and set(cand.topk_cols) <= set(e.get("topk_cols", []))
                    and (
                        not cand.topk_cols
                        or int(e.get("topk_budget", 1024))
                        >= int(cand.topk_budget)
                    )
                )

            base_rows = self.catalog.get_row_count(m["table"])
            if any(
                e.get("built_row_count") == base_rows and _covers(e)
                for e in self.catalog.rollups.get(m["table"], [])
            ):
                continue
            out.append(
                {
                    "table": m["table"],
                    "time_col": m["time_col"],
                    "bucket": m["bucket"],
                    "dims": sorted(m["dims"]),
                    "measures": sorted(m["measures"]),
                    "distinct_cols": sorted(m["distinct_cols"]),
                    "quantile_cols": sorted(m["quantile_cols"]),
                    "topk_cols": sorted(m["topk_cols"]),
                    "topk_budget": int(m["topk_budget"]),
                    "theta_cols": sorted(m["theta_cols"]),
                    "observed_queries": m["observed_queries"],
                }
            )
        out.sort(key=lambda s: -s["observed_queries"])
        return out

    def apply_rollup_advice(
        self,
        max_apply: int = 1,
        max_state_rows: int | None = 5_000_000,
        min_count: int = 3,
    ) -> list[dict]:
        """Close the advisor loop: MATERIALIZE the top
        :meth:`recommend_rollups` suggestion(s) so the next matching
        query routes to pre-aggregated state (observe → advise →
        materialize → route, no hand-copying of specs). Opt-in and
        budget-capped: at most ``max_apply`` builds per call, and a
        suggestion whose estimated state size exceeds ``max_state_rows``
        is declined WITHOUT building (the estimate is one shuffle-free
        ``approx_count_distinct`` over (bucket, dims) — at 100 TB this
        pre-gate is what keeps the advisor from materializing a rollup
        bigger than the fact table). Returns one record per considered
        suggestion with ``applied`` plus the build result or the decline
        reason."""
        from pyspark.sql import functions as F

        def estimate(spec):
            n_struct = (
                self.spark.table(spec["table"])
                .where(F.col(spec["time_col"]).isNotNull())
                .select(
                    F.approx_count_distinct(
                        F.struct(
                            F.window(
                                spec["time_col"], spec["bucket"]
                            ).start,
                            *[F.col(d) for d in spec["dims"]],
                        )
                    ).alias("n")
                )
                .collect()[0]["n"]
            )
            # a frequent-items column widens every state row by up to
            # min(budget, column ndv) sketch entries — charge them
            # against the same budget so a topk suggestion can't hide a
            # fact-table-sized materialization behind a small row count
            weight = 1
            budget = int(spec.get("topk_budget", 1024))
            for c in spec.get("topk_cols") or []:
                ndv = self.catalog.get_column_ndv(spec["table"], c)
                weight += budget if ndv is None else min(budget, int(ndv))
            # a theta column widens every state row by up to
            # min(2^theta_lgk, column ndv) retained entries — same
            # charge, so overlap advice can't hide one either
            tbudget = 1 << int(spec.get("theta_lgk", 12))
            for c in spec.get("theta_cols") or []:
                ndv = self.catalog.get_column_ndv(spec["table"], c)
                weight += tbudget if ndv is None else min(tbudget, int(ndv))
            return n_struct * weight

        def build(spec):
            built = self.create_rollup(
                spec["table"],
                spec["time_col"],
                spec["bucket"],
                dims=spec["dims"],
                measures=spec["measures"],
                distinct_cols=spec["distinct_cols"],
                quantile_cols=spec["quantile_cols"],
                topk_cols=spec.get("topk_cols") or [],
                topk_budget=int(spec.get("topk_budget", 1024)),
                # theta key encoding left to create_rollup: native
                # whenever the types allow
                theta_cols=spec.get("theta_cols") or [],
            )
            return self._repair_topk_budget(spec, built, max_state_rows)

        return self._apply_advice(
            self.recommend_rollups(min_count=min_count),
            max_apply=max_apply,
            budget=max_state_rows,
            budget_noun="state rows",
            estimate_label="state",
            estimate_fn=estimate,
            build_fn=build,
        )

    def _theta_native_ok(self, table: str, theta_cols: list) -> bool:
        """True when every ``theta_cols`` type can feed theta_sketch_agg
        directly (rollup.THETA_NATIVE_TYPES) — the gate for opting a NEW
        build into the round-15 native key encoding."""
        if not theta_cols:
            return False
        from approximate_query_engine_spark.operators.rollup import (
            THETA_NATIVE_TYPES,
        )

        try:
            types = dict(self.spark.table(table).dtypes)
        except Exception:  # noqa: BLE001 - unknown table: stay v1
            return False
        return all(types.get(c) in THETA_NATIVE_TYPES for c in theta_cols)

    def _repair_topk_budget(
        self, spec: dict, built: dict, max_state_rows: int | None
    ) -> dict:
        """Round-10 (VERDICT r9 #2): repair an UNDER-SIZED advisor top-k
        budget with the build's own exact evidence. recommend_rollups
        sizes ``topk_budget`` from catalog approx-ndv ×1.25; a stale-LOW
        catalog ndv under-sizes it, and the build's exact
        ``COUNT(DISTINCT)`` evidence then correctly refuses certification
        forever (exact proof over budget hard-blocks every statistical
        tier) — a wasted build the loop would never repair. So: after the
        build, if any tracked column's exact build ndv exceeds the
        advised budget, rebuild ONCE at the evidence-sized budget (next
        pow2 ≥ exact ndv × 1.25), re-gated against ``max_state_rows``
        with the EXACT ndv (the built state's real bucket count × the
        evidence-priced per-row sketch width — no stale stats in the
        re-gate). Over-budget resizes decline with a recorded reason
        instead of building state the operator didn't budget for. The
        exact ndv is upserted into the catalog either way, so the NEXT
        advice round is sized from truth."""
        topk_cols = spec.get("topk_cols") or []
        if not topk_cols:
            return built
        budget = int(spec.get("topk_budget", 1024))
        info = next(
            (
                e
                for e in self.catalog.rollups.get(spec["table"], [])
                if e["view"] == built["rollup"]
            ),
            None,
        )
        evid = (info or {}).get("topk_exact_ndv") or {}
        need = 0
        exact_ndvs: dict[str, int] = {}
        for c in topk_cols:
            v = evid.get(c)
            if not v or not v.get("exact"):
                continue  # no exact proof — nothing to repair from
            exact_ndvs[c] = int(v["ndv"])
            # the advice loop can only have been wrong via stale catalog
            # stats — repair them from the exact evidence unconditionally
            self.catalog.upsert_column_ndv(spec["table"], c, int(v["ndv"]))
            req = max(1024, int(v["ndv"] * 1.25) + 1)
            need = max(need, 1 << (req - 1).bit_length())
        if need <= budget:
            self.catalog.save()
            return built
        # re-gate at the resized budget: real built bucket count × the
        # exact-evidence sketch width (min(budget, ndv) entries per
        # topk col) PLUS the same theta charge the original apply gate
        # priced — dropping it would let a resize smuggle state past
        # max_state_rows that the first gate explicitly counted
        weight = 1 + sum(min(need, n) for n in exact_ndvs.values())
        tbudget = 1 << int(spec.get("theta_lgk", 12))
        for c in spec.get("theta_cols") or []:
            ndv = self.catalog.get_column_ndv(spec["table"], c)
            weight += tbudget if ndv is None else min(tbudget, int(ndv))
        est = int(built.get("buckets", 0)) * weight
        if max_state_rows is not None and est > max_state_rows:
            self.catalog.save()
            return {
                **built,
                "topk_budget_repair": {
                    "resized": False,
                    "from": budget,
                    "to": need,
                    "reason": (
                        f"exact build ndv {max(exact_ndvs.values())} needs "
                        f"budget {need}, but resized state "
                        f"({est} rows) exceeds max_state_rows "
                        f"{int(max_state_rows)} — rollup kept for its "
                        "dims/measures; top-k routing stays declined"
                    ),
                },
            }
        # persist the exact-ndv upsert first: the resize writes a new
        # version (versions.py), so if it fails the first build keeps
        # serving and the error reaches _apply_advice's report
        self.catalog.save()
        rebuilt = self.create_rollup(
            spec["table"],
            spec["time_col"],
            spec["bucket"],
            dims=spec["dims"],
            measures=spec["measures"],
            distinct_cols=spec["distinct_cols"],
            quantile_cols=spec["quantile_cols"],
            topk_cols=topk_cols,
            topk_budget=need,
            theta_cols=spec.get("theta_cols") or [],
        )
        return {
            **rebuilt,
            "topk_budget_repair": {
                "resized": True,
                "from": budget,
                "to": need,
                "reason": (
                    f"catalog ndv under-sized the advised budget "
                    f"{budget}; exact build evidence "
                    f"(ndv {max(exact_ndvs.values())}) requires {need}"
                ),
            },
        }

    def _record_layout_candidate(self, parsed: ParsedQuery | None) -> None:
        """Best-effort LAYOUT-advisor bookkeeping (the partitioned-layout
        sibling of _record_rollup_candidate): a single-table query whose
        WHERE carries a derivable literal time bound just ran against a
        table with NO registered layout — record (table, ts_col) so
        recommend_partition_layouts can aggregate recurring shapes. Never
        fails the query."""
        try:
            import re as _re

            from approximate_query_engine_spark.operators.partitioning import (
                derive_bucket_predicate,
            )
            from approximate_query_engine_spark.operators.rollup import (
                infer_rollup_shape,
            )

            if type(parsed) is not ParsedQuery or not parsed.where:
                return  # not a single-table parse, or no time bound
            table = parsed.table
            if self.catalog.partitioned_views.get(table):
                return  # a layout exists — freshness is maintenance's job
            if infer_rollup_shape(parsed) is not None:
                # a rollup-SHAPED aggregate belongs to the ROLLUP advisor
                # (state beats a pruned raw scan for it); recording it
                # here too would make apply_advice follow a rollup build
                # with a pointless full-table layout rewrite in the same
                # sweep. Layout advice drives the shapes rollups can
                # never serve: projections and out-of-grammar exact scans.
                return
            cols = self._table_columns(table)
            scopes = {table, parsed.table_alias or table}
            seen: set[str] = set()
            for m in _re.finditer(
                r"\b((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*"
                r"(?:<=|>=|<|>|=|BETWEEN)\s*(?:DATE|TIMESTAMP)?\s*"
                r"'\d{4}-\d{2}-\d{2}",
                parsed.where,
                _re.I,
            ):
                name = m.group(1)
                if "." in name:
                    q, _, bare = name.partition(".")
                    if q not in scopes:
                        continue
                    name = bare
                if name in cols:
                    seen.add(name)
            for ts_col in sorted(seen):
                # the derivation gate (no OR/NOT/subquery, depth-0 bound)
                # decides recordability — exactly what routing would need
                if derive_bucket_predicate(
                    parsed.where, ts_col, "day"
                ) is None:
                    continue
                self._observe(
                    self.catalog.layout_candidates,
                    {"table": table, "ts_col": ts_col, "grain": "day"},
                )
        except Exception:  # noqa: BLE001 - advice must never break queries
            return

    def recommend_partition_layouts(self, min_count: int = 3) -> list[dict]:
        """The layout advisor's back half: merge recurring time-bounded
        query shapes that ran WITHOUT a partitioned layout into concrete
        partition_table suggestions, per (table, ts_col). Tables whose
        registered layout already covers the column are excluded, so
        advice converges to empty once followed — same contract as
        recommend_rollups."""
        merged: dict[tuple[str, str], dict] = {}
        for rec in self.catalog.layout_candidates.values():
            key = (rec["table"], rec["ts_col"])
            m = merged.setdefault(
                key,
                {
                    "table": rec["table"],
                    "ts_col": rec["ts_col"],
                    "grain": rec.get("grain", "day"),
                    "observed_queries": 0,
                },
            )
            m["observed_queries"] += int(rec["count"])
        out = []
        for m in merged.values():
            if m["observed_queries"] < min_count:
                continue
            # a table holds ONE layout — advising a second time column
            # would DESTROY the existing layout (same view/path), so any
            # registered layout excludes the table outright (the stale
            # candidates are purged on apply; re-partitioning on a
            # different column stays an explicit human decision)
            if self.catalog.partitioned_views.get(m["table"]):
                continue
            out.append(m)
        out.sort(key=lambda s: -s["observed_queries"])
        return out

    def apply_layout_advice(
        self,
        max_apply: int = 1,
        max_buckets: int | None = 100_000,
        min_count: int = 3,
    ) -> list[dict]:
        """Close the layout-advisor loop: PARTITION the table(s) the top
        :meth:`recommend_partition_layouts` suggestion(s) name so the
        next time-bounded query prunes at file-listing time. Opt-in and
        budget-capped like apply_rollup_advice: at most ``max_apply``
        rewrites per call, and a suggestion whose bucket count would
        exceed ``max_buckets`` is declined WITHOUT rewriting (the
        estimate is one shuffle-free ``approx_count_distinct`` over the
        truncated time column — at 100 TB an unbounded day layout of a
        decade-spanning table is a small-files problem, not a win)."""
        from pyspark.sql import functions as F

        trunc_unit = {"hour": "HOUR", "day": "DAY", "month": "MONTH"}

        def estimate(spec):
            unit = trunc_unit.get(spec["grain"])
            if unit is None:
                # estimating at a substitute granularity would gate the
                # build against the wrong bucket count — decline loudly
                raise ValueError(
                    f"unsupported layout grain {spec['grain']!r} "
                    f"(supported: {sorted(trunc_unit)})"
                )
            return (
                self.spark.table(spec["table"])
                .where(F.col(spec["ts_col"]).isNotNull())
                .select(
                    F.approx_count_distinct(
                        F.date_trunc(unit, F.col(spec["ts_col"]))
                    ).alias("n")
                )
                .collect()[0]["n"]
            )

        def build(spec):
            return self.partition_table(
                spec["table"], spec["ts_col"], grain=spec["grain"]
            )

        def purge(spec):
            # purge the table's candidate evidence: one layout per table
            # means every remaining shape for it is either served now or
            # must stay a human decision — without the purge a SECOND
            # time column's stale candidates would resurface forever
            self.catalog.layout_candidates = {
                k: v
                for k, v in self.catalog.layout_candidates.items()
                if v.get("table") != spec["table"]
            }

        return self._apply_advice(
            self.recommend_partition_layouts(min_count=min_count),
            max_apply=max_apply,
            budget=max_buckets,
            budget_noun="buckets",
            estimate_label="bucket",
            estimate_fn=estimate,
            build_fn=build,
            on_applied=purge,
        )

    def _apply_advice(
        self,
        suggestions: list[dict],
        max_apply: int,
        budget: int | None,
        budget_noun: str,
        estimate_label: str,
        estimate_fn,
        build_fn,
        on_applied=None,
    ) -> list[dict]:
        """Shared apply driver for both advisor families: a max-builds
        gate, a pre-build budget estimate (failures and over-budget
        suggestions decline per-suggestion), a guarded build (one
        failure never aborts the batch or discards prior successes),
        and an optional post-apply hook."""
        report: list[dict] = []
        applied = 0
        for spec in suggestions:
            if applied >= max_apply:
                report.append(
                    {**spec, "applied": False, "reason": "max_apply budget"}
                )
                continue
            if budget is not None:
                try:
                    est = estimate_fn(spec)
                except Exception as exc:  # estimate failed — don't build
                    report.append(
                        {
                            **spec,
                            "applied": False,
                            "reason": (
                                f"{estimate_label} estimate failed: "
                                f"{exc}"
                            )[:200],
                        }
                    )
                    continue
                if est > budget:
                    report.append(
                        {
                            **spec,
                            "applied": False,
                            "reason": (
                                f"estimated {budget_noun} {int(est)} "
                                f"exceed budget {int(budget)}"
                            ),
                        }
                    )
                    continue
            try:
                built = build_fn(spec)
            except Exception as exc:  # noqa: BLE001 - one failing build
                # must not abort the batch or discard prior successes
                report.append(
                    {
                        **spec,
                        "applied": False,
                        "reason": f"build failed: {exc}"[:200],
                    }
                )
                continue
            applied += 1
            if on_applied is not None:
                on_applied(spec)
            report.append({**spec, "applied": True, "built": built})
        return report

    def _fresh_rollups(
        self, table: str, entries: list[dict], strict: bool = False
    ) -> list[dict]:
        """The rollup ``entries`` of ``table`` that are FRESH (built
        against the catalog's current row count), COARSEST first, each
        with its views served. Unknown freshness (no catalog row count —
        dropped/foreign stats file) counts as stale, same as
        maintenance's "unknown" bucket: never serve a possibly-stale
        rollup. Among rollups that can answer, the one with the fewest
        rows wins (a day rollup beats an hour rollup 24:1 on scan size).
        An entry whose materialization is gone is left out, or raises
        when ``strict``."""
        current = self.catalog.get_row_count(table)
        if current is None:
            return []
        fresh = []
        for info in sorted(entries, key=lambda e: -e.get("bucket_seconds", 0)):
            if info.get("built_row_count") != current:
                continue  # stale rollup — raw table has drifted
            try:
                # a fresh session lost the temp views — re-register from
                # the persisted materialization (catalog survives restarts)
                self._serve_rollup(info)
            except Exception:
                if strict:
                    raise
                continue  # materialization gone — decline, stay correct
            fresh.append(info)
        return fresh

    def _fresh_rollups_with(
        self, table: str, field: str, column: str, kind: str
    ) -> list[dict]:
        """ALL of the table's FRESH rollup entries whose ``field`` list
        tracks ``column``, COARSEST first (:meth:`_fresh_rollups`) —
        raises when none exist or none are fresh (never silently serves
        stale or untracked state). Callers take the first entry whose
        bucket grid fits their bounds, so a coarse rollup that cannot
        serve an off-grid call falls back to a finer fresh one instead of
        breaking previously-working calls."""
        entries = [
            e
            for e in self.catalog.rollups.get(table, [])
            if column in e.get(field, [])
        ]
        if not entries:
            raise ValueError(
                f"no rollup of {table!r} tracks {kind} state for {column!r}"
            )
        fresh = self._fresh_rollups(table, entries, strict=True)
        if not fresh:
            coarsest = max(entries, key=lambda e: e.get("bucket_seconds", 0))
            raise ValueError(
                f"rollup {coarsest['view']} is stale for {table!r}; "
                "refresh it"
            )
        return fresh

    def _fresh_rollup_with(
        self, table: str, field: str, column: str, kind: str
    ) -> dict:
        """The coarsest fresh entry (see :meth:`_fresh_rollups_with`)."""
        return self._fresh_rollups_with(table, field, column, kind)[0]

    def _aligned_range_pred(
        self, info: dict, lo: str | None, hi: str | None
    ) -> str:
        """bucket_start + p_date predicate text for a [lo, hi) range that
        must fall on the rollup's bucket grid (misaligned bounds would
        slice a bucket, which combined state cannot — raise instead)."""
        from datetime import datetime, timedelta

        from approximate_query_engine_spark.operators.rollup import (
            _parse_literal,
        )

        bsec = int(info["bucket_seconds"])
        conds = []
        for name, op, val in (("lo", ">=", lo), ("hi", "<", hi)):
            if val is None:
                continue
            dt = _parse_literal(f"'{val}'")
            if dt is None:
                raise ValueError(
                    f"{name} must be a timestamp literal: {val!r}"
                )
            epoch = dt.replace(tzinfo=None) - datetime(1970, 1, 1)
            if int(epoch.total_seconds() * 1_000_000) % (bsec * 1_000_000):
                raise ValueError(
                    f"{name}={val!r} is not aligned to the {info['bucket']} "
                    "bucket grid"
                )
            conds.append(f"bucket_start {op} TIMESTAMP '{val}'")
            # strict upper bound: the last included bucket starts before
            # hi, so a midnight-aligned hi must not list its own (fully
            # filtered) day directory
            pdt = dt if op == ">=" else dt - timedelta(microseconds=1)
            conds.append(
                f"p_date {'>=' if op == '>=' else '<='} "
                f"'{pdt.strftime('%Y-%m-%d')}'"
            )
        return " AND ".join(conds) if conds else "true"

    def rollup_top_items(
        self,
        table: str,
        column: str,
        k: int = 10,
        lo: str | None = None,
        hi: str | None = None,
        candidate_k: int | None = None,
        dims: dict[str, str] | None = None,
    ):
        """Heavy hitters over a time range FROM PRE-AGGREGATED STATE: the
        rollup's ``approx_top_k_accumulate`` column for ``column`` is
        combined across the range's buckets (date-directory pruned) and
        re-ranked deterministically (count DESC, item ASC) —
        "top items last week" without touching the fact table. ``lo``/
        ``hi`` are ``>=``/``<`` timestamp literals that must fall on the
        rollup's bucket grid (misaligned bounds would slice a bucket,
        which combined state cannot — raise instead of approximating
        silently). Counts are EXACT while the range's distinct items fit
        the rollup's ``topk_budget`` (no purge can occur in any partial);
        beyond it the Misra–Gries ``3.5·n/budget`` bound applies — the
        same contract as sketches.grouped_top_k, but over state that is
        never rebuilt per query. Returns (item, cnt, rank) rows."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        # coarsest rollup whose bucket grid fits the bounds (and whose
        # dims cover the filter) — an off-grid coarse rollup falls back
        # to a finer fresh one instead of failing the call
        entries = self._fresh_rollups_with(
            table, "topk_cols", column, "top-k"
        )
        info = where = last_err = None
        for cand_info in entries:
            try:
                where = self._with_dim_filter(
                    cand_info,
                    self._aligned_range_pred(cand_info, lo, hi),
                    dims,
                )
                info = cand_info
                break
            except ValueError as exc:
                last_err = exc
        if info is None:
            raise last_err
        budget = int(info.get("topk_budget", 1024))
        src = info.get("files_view") or info["view"]
        # candidate_k: how many items the sketch RETURNS before the
        # deterministic (cnt DESC, item ASC) re-rank — widen toward the
        # column's ndv when exact tie-breaks at the k boundary matter
        # (same contract as sketches.grouped_top_k)
        cand = int(
            min(
                candidate_k if candidate_k is not None else max(4 * k, k + 16),
                budget,
            )
        )
        # the range's state rows are rollup-sized — coalesce(1) before
        # combining: ApproxTopKCombine cannot serialize the empty buffer
        # an input-less partial produces (Spark 4.1 genSketchSerDe
        # MatchError on null itemDataType), and one non-empty partition
        # sidesteps it at no cost at this cardinality
        state = (
            self.spark.table(src)
            .where(where)
            .select(f"{column}_topk")
            .coalesce(1)
        )
        if state.isEmpty():
            raise ValueError(
                f"no rollup buckets of {info['view']} fall in "
                f"[{lo or '-inf'}, {hi or '+inf'})"
            )
        combined = state.agg(
            F.expr(
                f"approx_top_k_estimate(approx_top_k_combine("
                f"`{column}_topk`, {budget}), {cand})"
            ).alias("tk")
        )
        w = Window.orderBy(F.desc("cnt"), F.asc("item"))
        return (
            combined.select(F.explode("tk").alias("e"))
            .select(
                F.col("e.item").cast("string").alias("item"),
                F.col("e.count").alias("cnt"),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("rank")
        )

    def _with_dim_filter(
        self, info: dict, where: str, dims: dict[str, str] | None
    ) -> str:
        """AND equality predicates on ROLLUP DIMS onto ``where`` — "top
        users among clicks". Only registered dims are allowed (any other
        column is not in the state's grouping, so filtering on it would
        be semantically undefined — raise, never guess). Values bind as
        string literals with quotes escaped."""
        if not dims:
            return where
        valid = set(info.get("dims", []))
        conds = []
        for col, val in sorted(dims.items()):
            if col not in valid:
                raise ValueError(
                    f"{col!r} is not a dimension of rollup {info['view']} "
                    f"(dims: {sorted(valid)})"
                )
            lit = str(val).replace("'", "''")
            conds.append(f"`{col}` = '{lit}'")
        return " AND ".join([where, *conds])

    def rollup_quantile_bounds(
        self,
        table: str,
        column: str,
        p: float,
        lo: str | None = None,
        hi: str | None = None,
        dims: dict[str, str] | None = None,
    ) -> dict:
        """VALUE bracket for a quantile answered from merged KLL rollup
        state: the state's values at ranks ``p ∓ ε(k)`` alongside the
        estimate at ``p``. KLL's guarantee is on RANK — on a heavy tail
        a 1.6% rank error can be an arbitrarily large value error, so
        this converts the rank bound into the concrete value interval it
        implies FOR THIS DATA (the ADVICE-r7 alternative to gating on a
        value tolerance the sketch cannot promise). Below the sketch's
        compaction threshold the state is exact and the bracket collapses
        to neighboring order statistics. One state-sized scan; bounds
        must fall on a fresh rollup's bucket grid (finer fresh rollups
        serve off-grid bounds a coarse one cannot)."""
        from approximate_query_engine_spark.operators.rollup import (
            kll_rank_error,
        )

        if not 0.0 <= p <= 1.0:
            raise ValueError(f"p must be in [0, 1], got {p!r}")
        entries = self._fresh_rollups_with(
            table, "quantile_cols", column, "quantile"
        )
        info = pred = last_err = None
        for cand_info in entries:
            try:
                pred = self._with_dim_filter(
                    cand_info,
                    self._aligned_range_pred(cand_info, lo, hi),
                    dims,
                )
                info = cand_info
                break
            except ValueError as exc:
                last_err = exc
        if info is None:
            raise last_err
        kll_k = int(info.get("kll_k", 200))
        eps = kll_rank_error(kll_k)
        p_lo, p_hi = max(0.0, p - eps), min(1.0, p + eps)
        src = info.get("files_view") or info["view"]
        ranged = self.spark.table(src).where(pred)
        if ranged.isEmpty():
            raise ValueError(
                f"no rollup buckets of {info['view']} fall in "
                f"[{lo or '-inf'}, {hi or '+inf'})"
            )
        # merge the KLL state ONCE, then read all three quantiles from
        # the single merged sketch (inlining the merge per quantile would
        # re-aggregate the full state three times per call)
        row = (
            ranged.selectExpr(
                f"kll_merge_agg_double(`{column}_kll`, {kll_k}) AS mk"
            )
            .selectExpr(
                f"kll_sketch_get_quantile_double(mk, "
                f"CAST({p!r} AS DOUBLE)) AS est",
                f"kll_sketch_get_quantile_double(mk, "
                f"CAST({p_lo!r} AS DOUBLE)) AS vlo",
                f"kll_sketch_get_quantile_double(mk, "
                f"CAST({p_hi!r} AS DOUBLE)) AS vhi",
            )
            .collect()[0]
        )
        return {
            "rollup": info["view"],
            "column": column,
            "p": float(p),
            "estimate": float(row["est"]),
            "rank_epsilon": float(eps),
            "value_lo": float(row["vlo"]),
            "value_hi": float(row["vhi"]),
        }

    def rollup_audience_diff(
        self,
        table: str,
        column: str,
        a_lo: str,
        a_hi: str,
        b_lo: str,
        b_hi: str,
        dims: dict[str, str] | None = None,
        time_col: str | None = None,
    ) -> dict:
        """Cross-window SET ALGEBRA from rollup theta state: distinct
        ``column`` keys of window A ([a_lo, a_hi)) vs window B — |A|,
        |B|, |A∩B| (returning), |A∪B|, |B\\A| (new in B), |A\\B|
        (churned) — the week-over-week retention primitive, answered
        without re-reading the fact table. HLL state can only union;
        theta sketches support intersection/difference (Dasgupta et al.,
        the DataSketches theta framework), which is why ``theta_cols``
        exists alongside ``distinct_cols``. Exact while each window's
        distinct keys fit 2^theta_lgk (the sketch's exact mode);
        ~1/sqrt(2^lgk) relative error per estimate beyond. Bounds must
        fall on the bucket grid (raise, never silently slice).

        Round 10 (VERDICT r9 #4, the q100 side of the overlap family):
        when NO rollup can serve and the caller names ``time_col``, the
        call no longer dead-ends — it answers EXACTLY from one raw scan
        (single pass: per-key window-membership flags, then one agg) and
        records the (dims, theta_cols=[column]) shape in the advisor
        observation book, so three recurring calls produce theta_cols
        advice and the next call answers from state. Without
        ``time_col`` the historical contract stands: raise. The result
        carries ``source`` ("rollup_state" | "raw_scan") either way."""
        from pyspark.sql import functions as F

        # coarsest rollup whose grid fits BOTH windows; finer fresh
        # rollups serve off-grid bounds a coarse one cannot
        def _raw_fallback() -> dict:
            # one shared fallback for BOTH no-rollup and cannot-serve:
            # record the shape at the grain the bounds actually need (so
            # advice converges on a rollup that CAN serve them), then
            # answer exactly from one raw pass
            self._record_overlap_candidate(
                table,
                sorted(dims) if dims else [],
                column,
                time_col,
                _overlap_advice_bucket(a_lo, a_hi, b_lo, b_hi),
            )
            return {
                **self._audience_diff_raw(
                    table, column, a_lo, a_hi, b_lo, b_hi, dims, time_col
                ),
                "source": "raw_scan",
            }

        try:
            entries = self._fresh_rollups_with(
                table, "theta_cols", column, "theta set-algebra"
            )
        except ValueError:
            if time_col is None:
                raise
            return _raw_fallback()
        info = preds = last_err = None
        for cand_info in entries:
            if (
                time_col is not None
                and cand_info.get("time_col") != time_col
            ):
                # a rollup bucketed on a DIFFERENT clock would window the
                # wrong column — same call must never change meaning
                # depending on which state happens to exist
                last_err = ValueError(
                    f"rollup {cand_info['view']} buckets on "
                    f"{cand_info.get('time_col')!r}, not {time_col!r}"
                )
                continue
            try:
                preds = [
                    self._with_dim_filter(
                        cand_info,
                        self._aligned_range_pred(cand_info, lo, hi),
                        dims,
                    )
                    for lo, hi in ((a_lo, a_hi), (b_lo, b_hi))
                ]
                info = cand_info
                break
            except ValueError as exc:
                last_err = exc
        if info is None:
            if time_col is None:
                raise last_err
            # rollups exist but none can serve these bounds/dims/clock
            return _raw_fallback()
        src = info.get("files_view") or info["view"]
        sketches = []
        for (tag, lo, hi), pred in zip(
            (("a", a_lo, a_hi), ("b", b_lo, b_hi)), preds
        ):
            ranged = self.spark.table(src).where(pred)
            # theta_union_agg of zero rows is a valid EMPTY sketch (est
            # 0) — an empty window is a caller mistake, not an audience
            # of zero, so check emptiness explicitly
            if ranged.isEmpty():
                raise ValueError(
                    f"no rollup buckets of {info['view']} fall in "
                    f"[{lo}, {hi})"
                )
            row = ranged.agg(
                # union at the STATE's own nominal: the default (lg_k 12)
                # would silently downsample sketches built larger and
                # break the exact-mode contract the caller was promised
                F.expr(
                    f"theta_union_agg(`{column}_theta`, "
                    f"{int(info.get('theta_lgk', 12))})"
                ).alias("sk")
            ).collect()[0]
            sketches.append((tag, bytes(row["sk"])))
        df = self.spark.createDataFrame(
            [(sketches[0][1], sketches[1][1])], "ska binary, skb binary"
        )
        est = "CAST(ROUND(theta_sketch_estimate({0})) AS BIGINT)"
        out = df.select(
            F.expr(est.format("ska")).alias("distinct_a"),
            F.expr(est.format("skb")).alias("distinct_b"),
            F.expr(
                est.format("theta_intersection(ska, skb)")
            ).alias("returning"),
            F.expr(
                est.format(
                    f"theta_union(ska, skb, {int(info.get('theta_lgk', 12))})"
                )
            ).alias("union_cnt"),
            F.expr(
                est.format("theta_difference(skb, ska)")
            ).alias("new_in_b"),
            F.expr(
                est.format("theta_difference(ska, skb)")
            ).alias("churned"),
        ).collect()[0]
        return {
            **{k: int(v) for k, v in out.asDict().items()},
            "source": "rollup_state",
        }

    def _audience_diff_raw(
        self,
        table: str,
        column: str,
        a_lo: str,
        a_hi: str,
        b_lo: str,
        b_hi: str,
        dims: dict[str, str] | None,
        time_col: str,
    ) -> dict:
        """EXACT raw-scan fallback for :meth:`rollup_audience_diff` —
        one pass, one shuffle: per-key window-membership flags
        (max(in_a), max(in_b) per distinct key), then a single agg sums
        the flags into |A|, |B|, |A∩B| and |A∪B|. Never materializes
        the key sets or self-joins them; at 100 TB the shuffle carries
        one row per distinct key in A∪B, which is the same order as the
        DISTINCT any exact formulation must pay. Unlike the state path
        it accepts off-grid bounds (no bucket grid to respect) — but they
        must still PARSE: a garbage bound cast to NULL would silently
        filter every row and return exact-looking zeros."""
        from pyspark.sql import functions as F

        for name, b in (
            ("a_lo", a_lo), ("a_hi", a_hi), ("b_lo", b_lo), ("b_hi", b_hi)
        ):
            _require_ts_bound(name, b)
        t = self.spark.table(table)
        for k, v in (dims or {}).items():
            t = t.where(F.col(k) == F.lit(v))
        ts = F.col(time_col)
        in_a = (ts >= F.lit(a_lo).cast("timestamp")) & (
            ts < F.lit(a_hi).cast("timestamp")
        )
        in_b = (ts >= F.lit(b_lo).cast("timestamp")) & (
            ts < F.lit(b_hi).cast("timestamp")
        )
        row = (
            t.where(F.col(column).isNotNull() & (in_a | in_b))
            .groupBy(column)
            .agg(
                F.max(in_a.cast("int")).alias("ia"),
                F.max(in_b.cast("int")).alias("ib"),
            )
            .agg(
                F.coalesce(F.sum("ia"), F.lit(0)).alias("a"),
                F.coalesce(F.sum("ib"), F.lit(0)).alias("b"),
                F.coalesce(
                    F.sum(F.col("ia") * F.col("ib")), F.lit(0)
                ).alias("both"),
                F.count(F.lit(1)).alias("u"),
            )
            .collect()[0]
        )
        a, b, both, u = (int(row[k]) for k in ("a", "b", "both", "u"))
        return {
            "distinct_a": a,
            "distinct_b": b,
            "returning": both,
            "union_cnt": u,
            "new_in_b": b - both,
            "churned": a - both,
        }

    def segment_overlap(
        self,
        table: str,
        segment_col: str,
        key_col: str,
        lg_k: int = 12,
        pairs: list[tuple[str, str]] | None = None,
        time_col: str | None = None,
        bucket: str = "1 day",
        lo: str | None = None,
        hi: str | None = None,
        dims: dict[str, str] | None = None,
    ) -> dict:
        """Pairwise AUDIENCE OVERLAP between segments — per unordered
        (seg_a, seg_b): distinct ``key_col`` per segment, intersection,
        union, Jaccard — the engine-API home of the q96/q100 family
        (reference parity: extends the reference's single-sketch distinct
        endpoint with the set algebra HLL cannot express).

        ROUTED when possible (round 10, VERDICT r9 #4): a FRESH rollup
        that tracks ``key_col`` in ``theta_cols`` with ``segment_col``
        as a dim serves the per-segment sketches by UNIONING its
        per-bucket state — the fact table is never re-read (at 100 TB: a
        few-thousand-row state scan instead of the raw scan). Falls back
        to ONE raw scan (:func:`sketches.segment_overlap`) otherwise,
        and — when ``time_col`` names the table's time column — records
        the (dims=[segment], theta_cols=[key]) shape in the SAME advisor
        observation book the SQL workload feeds, so three recurring
        overlap calls produce ``theta_cols`` advice that
        :meth:`apply_rollup_advice` can materialize: observe → advise →
        materialize → route, mirroring the round-9 top-items pattern.

        Optional ``[lo, hi)`` bounds window the overlap ("who overlapped
        LAST WEEK"): the routed path requires them on the serving
        rollup's bucket grid (p_date-pruned state scan; a coarse rollup
        that cannot align falls through to a finer fresh one, mirroring
        rollup_audience_diff), the raw path needs ``time_col`` to filter
        the scan and accepts any bounds. Optional ``dims`` equality
        filters restrict the population first ("overlap among premium
        users") — routed only when every filtered column is a registered
        dim of the serving rollup (any other column is not in the
        state's grouping, so filtering on it is undefined — fall back to
        raw, never guess), and recorded into the advice so the
        materialized rollup can serve the filtered shape next time.

        Exactness contract (both paths): theta sketches are exact while
        each segment's distinct keys fit the nominal budget (2^lg_k raw,
        2^theta_lgk routed); beyond it each estimate carries
        ~1/sqrt(2^lgk) relative error. Returns ``{"df", "source",
        "reason"}`` — ``source`` is ``"rollup_state"`` or
        ``"raw_scan"``, and ``df``'s schema/ordering are identical on
        both paths."""
        from pyspark.sql import functions as F

        from approximate_query_engine_spark.operators.rollup import (
            null_ts_decline,
        )
        from approximate_query_engine_spark.sketches import (
            pairwise_sketch_overlap,
            segment_overlap as raw_segment_overlap,
        )

        bounded = lo is not None or hi is not None
        info = pred = None
        try:
            entries = self._fresh_rollups_with(
                table, "theta_cols", key_col, "theta set-algebra"
            )
        except ValueError:
            entries = []
        need_dims = {segment_col, *(dims or {})}
        eligible = [
            e for e in entries if need_dims <= set(e.get("dims", []))
            # an unwindowed answer counts the NULL-time rows state misses
            and (bounded or not null_ts_decline(e, False, None))
        ]
        if bounded and time_col is None:
            clocks = {e.get("time_col") for e in eligible}
            if len(clocks) > 1:
                # two rollups on different clocks could both serve —
                # picking one would silently decide WHICH column the
                # window bounds, and the choice would flip whenever
                # state freshness changes. Refuse; the caller names
                # the clock.
                raise ValueError(
                    "windowed segment_overlap is ambiguous: rollups "
                    f"track {sorted(map(str, clocks))} — name "
                    "time_col to pick the clock the bounds filter"
                )
        for cand_info in eligible:
            if (
                time_col is not None
                and cand_info.get("time_col") != time_col
            ):
                # bucketed on a different clock: windowing through it
                # would silently bound the wrong column
                continue
            if not bounded:
                info = cand_info
                break
            try:
                pred = self._aligned_range_pred(cand_info, lo, hi)
                info = cand_info
                break
            except ValueError:
                continue  # off this grid — try a finer fresh rollup
        if info is not None:
            src = info.get("files_view") or info["view"]
            state = self.spark.table(src)
            if pred is not None:
                state = state.where(pred)
            for k, v in (dims or {}).items():
                state = state.where(F.col(k) == F.lit(v))
            per_seg = (
                state.where(F.col(segment_col).isNotNull())
                .groupBy(
                    F.col(segment_col).cast("string").alias("seg")
                )
                .agg(
                    F.expr(
                        f"theta_union_agg(`{key_col}_theta`, "
                        f"{int(info.get('theta_lgk', 12))})"
                    ).alias("sk")
                )
                # a segment whose key is NULL on every row has state
                # rows with EMPTY sketches; the raw path's
                # key.isNotNull() filter never even forms that segment —
                # drop it here too, or the two paths' row sets diverge
                .where(F.expr("theta_sketch_estimate(sk) > 0"))
            )
            return {
                "df": pairwise_sketch_overlap(
                    per_seg,
                    pairs=pairs,
                    lg_k=int(info.get("theta_lgk", 12)),
                ),
                "source": "rollup_state",
                "reason": (
                    f"answered from materialized rollup {info['view']} "
                    "theta state (per-bucket sketches unioned per "
                    "segment"
                    + (", p_date-pruned to the window" if pred else "")
                    + "; fact table not re-read)"
                ),
            }
        if bounded and time_col is None:
            # no serving rollup and the raw fallback cannot honor the
            # window without knowing which column the bounds filter —
            # refuse rather than silently answering unwindowed
            raise ValueError(
                "windowed segment_overlap needs a serving theta rollup "
                "or time_col (the raw fallback must know which column "
                "the bounds filter)"
            )
        recorded = self._record_overlap_candidate(
            table,
            sorted({segment_col, *(dims or {})}),
            key_col,
            time_col,
            _overlap_advice_bucket(lo, hi) if bounded else bucket,
        )
        raw = self.spark.table(table)
        if bounded:
            # garbage bounds cast to NULL and would silently filter
            # EVERY row — the raw path must be as loud as the routed one
            ts = F.col(time_col)
            if lo is not None:
                _require_ts_bound("lo", lo)
                raw = raw.where(ts >= F.lit(lo).cast("timestamp"))
            if hi is not None:
                _require_ts_bound("hi", hi)
                raw = raw.where(ts < F.lit(hi).cast("timestamp"))
        for k, v in (dims or {}).items():
            raw = raw.where(F.col(k) == F.lit(v))
        return {
            "df": raw_segment_overlap(
                raw,
                segment_col,
                key_col,
                lg_k=lg_k,
                pairs=pairs,
            ),
            "source": "raw_scan",
            "reason": (
                f"no fresh rollup tracks theta state for {key_col!r} "
                f"with dim {segment_col!r} — one raw scan"
                + (
                    "; shape recorded for the rollup advisor"
                    if recorded
                    else ""
                )
            ),
        }

    def _record_overlap_candidate(
        self,
        table: str,
        dims: list[str],
        key_col: str,
        time_col: str | None,
        bucket: str | None,
    ) -> bool:
        """Best-effort THETA-advisor bookkeeping (round 10 — the overlap
        sibling of _record_rollup_candidate): an overlap request just
        paid a raw scan because no rollup tracks theta state for it.
        When the table's time column is known — named by the caller, or
        (round 11) inferred via :meth:`_infer_time_col` when exactly one
        candidate clock exists — and the request's bounds fit SOME
        bucket grid (``bucket`` is None otherwise),
        record the materializable shape so recommend_rollups can
        aggregate recurring overlap workloads into theta_cols advice.
        Never fails the request; returns whether a shape was actually
        recorded, so callers never CLAIM recording that didn't happen
        (unknown column, eviction failure)."""
        if time_col is None:
            # round 11 (VERDICT r10 #4): the caller didn't name the
            # clock, but the catalog usually knows it — infer when
            # exactly one candidate exists, keep refusing on ambiguity
            time_col = self._infer_time_col(table)
        if time_col is None or bucket is None:
            return False
        try:
            cols = self._table_columns(table)
            if not {*dims, key_col, time_col} <= cols:
                return False
            shape = {
                "table": table,
                "time_col": time_col,
                "bucket": bucket,
                "dims": sorted(dims),
                "measures": [],
                "distinct_cols": [],
                "quantile_cols": [],
                "theta_cols": [key_col],
            }
            self._observe(self.catalog.rollup_candidates, shape)
            return True
        except Exception:  # noqa: BLE001 - advice must never break calls
            return False

    def _infer_time_col(self, table: str) -> str | None:
        """The table's clock when EXACTLY ONE candidate exists, else None
        (round 11, VERDICT r10 #4). Catalog evidence first — a registered
        partition layout's ``ts_col`` and the time_cols of the table's
        registered rollups; those records were created by callers who DID
        name the clock. When the catalog is silent, fall back to the
        schema: a table with exactly one timestamp/date-typed column has
        an unambiguous clock. Two catalog clocks, or two time-typed
        columns with no catalog record, stay None — advice recorded
        against a guessed clock would materialize a rollup bucketed on
        the wrong column, so ambiguity refuses (same posture as
        segment_overlap's windowed-path refusal)."""
        cands: set[str] = set()
        lay = self.catalog.partitioned_views.get(table)
        if lay and lay.get("ts_col"):
            cands.add(lay["ts_col"])
        for e in self.catalog.rollups.get(table, []):
            if e.get("time_col"):
                cands.add(e["time_col"])
        if len(cands) == 1:
            return next(iter(cands))
        if cands:
            return None  # two recorded clocks — ambiguous
        ts_cols = self._time_cols_cache.get(table)
        if ts_cols is None:
            # cached per table (invalidated with register_view): this
            # runs on every unrouted overlap idiom, the advisor's
            # steady state, and schema reads are catalog RPCs
            try:
                ts_cols = tuple(
                    f.name
                    for f in self.spark.table(table).schema.fields
                    if f.dataType.typeName()
                    in ("timestamp", "timestamp_ntz", "date")
                )
            except Exception:  # noqa: BLE001 - must never break calls
                return None
            self._time_cols_cache[table] = ts_cols
        return ts_cols[0] if len(ts_cols) == 1 else None

    def _stats_fresh(self, table: str) -> bool:
        """Whether the catalog's analyzed column stats describe the
        table AS IT IS NOW: the analyze pass's recorded row count must
        match the current catalog row count. Post-append, stale stats
        are dangerous in exactly the certifying direction (low ndv,
        zero null fraction), so every routing gate that cites analyzed
        stats checks this first — one definition, shared by the top-k
        certification tiers and the overlap SQL route."""
        meta = self.catalog.analyze_meta.get(table) or {}
        return (
            meta.get("row_count") is not None
            and meta.get("row_count") == self.catalog.get_row_count(table)
        )

    def _route_overlap_sql(
        self, ov: OverlapQuery | None, max_rel_error: float, prefer_exact: bool
    ) -> dict | None:
        """SQL surface for segment overlap (round 11, VERDICT r10 #3;
        round 12 adds the UNION/reach arm per VERDICT r11 #2): when
        ``ov``, the query's overlap parse, is one of the canonical
        overlap idioms (sqlparser.parse_overlap — the COUNT(DISTINCT) self-join, the
        INTERSECT/EXCEPT/UNION-count set-op pair, and the one-table
        ``seg IN (a, b)`` COUNT(DISTINCT) reach spelling) and a FRESH
        rollup tracks ``key_col`` in
        ``theta_cols`` with ``segment_col`` as a dim, answer from theta
        state: per-segment sketches come from unioning per-bucket state
        (the fact table is never re-read — at 100 TB the exact idioms
        re-shuffle the whole key set; this scans a few hundred state
        rows), intersected sketch-side. Returns a plan dict or None
        (exact pass-through).

        EXACT-REGIME ONLY. ``query()``'s contract is that
        ``max_rel_error`` bounds the VALUE-relative error of the
        returned number, but a theta intersection's error is relative
        to the UNION size — a small overlap of two huge segments could
        be off by orders of magnitude while a union-relative gate
        passes. No tolerance can honestly admit that, so this route
        requires PROOF the sketches never sampled: fresh catalog stats
        (``_stats_fresh``) showing the key's whole-table ndv (+10%
        analyze margin) fits the nominal 2^theta_lgk budget — then
        every count, intersections included, is exact (same posture as
        the top-k family's certification). ``prefer_exact`` still
        declines: the answer is exact but comes from sketch state, and
        the caller asked for the raw plan. The union-relative
        ESTIMATION regime stays available on the API surface
        (:meth:`segment_overlap`), which returns union/jaccard
        alongside so its error contract is visible. The ``"intersect"``
        idiom additionally requires fresh analyzed ``null_frac == 0``
        on the key: SQL INTERSECT treats two NULLs as equal, so with
        NULLs present in both slices the exact answer has one row no
        sketch can count — decline rather than be off by one.

        Identifier case: Spark resolves column names case-insensitively,
        so the parsed key/segment columns are canonicalized to the
        table's actual schema casing first — a BI tool emitting
        ``A.EVENT_TYPE`` routes through (and records the same advisor
        shape as) ``a.event_type``.

        WINDOWED idioms (a symmetric ``ts >= lo AND ts < hi`` pair on
        both sides — sqlparser validates the symmetry) route only
        through a rollup bucketed on the SAME clock whose grid the
        bounds fall on (:meth:`_aligned_range_pred` — p_date-pruned
        state scan; off-grid bounds fall through to a finer fresh
        rollup, then to exact). Unrouted windowed hits record the
        coarsest grain their bounds fall on.

        An idiom hit with NO serving rollup records its (dims=[segment],
        theta_cols=[key]) shape in the advisor observation book
        (_record_overlap_candidate, clock inferred when unambiguous) so
        recurring SQL overlap workloads reach the theta advisor exactly
        like API callers do (q108 family), then returns None — the exact
        idiom executes unchanged."""
        from approximate_query_engine_spark.operators.rollup import (
            null_ts_decline,
        )

        if ov is None:
            return None
        # table-name case: Spark resolves tables case-insensitively, but
        # every catalog structure (rollups, stats, ndv, the advisor's
        # candidate signatures) is a dict keyed by spelling — 'FROM
        # EVENTS' would never find the 'events' rollup and would record
        # advisor shapes that never merge with 'events' observations.
        # Canonicalize to the catalog's recorded casing when exactly one
        # case-insensitive match exists (same policy as columns below).
        known = (
            set(self.catalog.rollups)
            | set(self.catalog.partitioned_views)
            | set(self.catalog.table_stats)
        )
        # The parse is shared with the other routers: the canonical name
        # goes into a local, never back into ``ov``.
        table = ov.table
        matches = {t for t in known if t.lower() == table.lower()}
        if len(matches) == 1 and table not in matches:
            table = next(iter(matches))
        try:
            cmap = {c.lower(): c for c in self._table_columns(table)}
        except Exception:  # noqa: BLE001 - unknown table: pass through
            return None
        key = cmap.get(ov.key_col.lower())
        if key is None:
            return None  # columns the table doesn't have — pass through
        seg = None
        if ov.segment_col is not None:
            seg = cmap.get(ov.segment_col.lower())
            if seg is None or key == seg:
                return None
        tcol = None
        if ov.time_col is not None:
            tcol = cmap.get(ov.time_col.lower())
            if tcol is None or tcol in (key, seg):
                return None  # not a plausible clock — pass through
        try:
            entries = self._fresh_rollups_with(
                table, "theta_cols", key, "theta set-algebra"
            )
        except ValueError:
            entries = []
        info = pred_a = pred_b = None
        branch_preds: list[str | None] = []
        for cand in entries:
            # an UNSEGMENTED branch unions across every dim value, so
            # it serves from any theta rollup; a segmented one needs
            # the segment registered as a dim to slice state by it
            if seg is not None and seg not in cand.get("dims", []):
                continue
            if tcol is None:
                if null_ts_decline(cand, False, None):
                    continue  # the unwindowed idiom counts NULL-time rows
                info = cand
                break
            if cand.get("time_col") != tcol:
                # bucketed on a different clock: windowing through it
                # would silently bound the wrong column (same refusal
                # as the API path)
                continue
            try:
                if ov.branches is not None:
                    # N-ary union reach: every branch's window must sit
                    # on this rollup's grid (all-or-nothing — a mixed
                    # answer would bound some branches and not others)
                    branch_preds = [
                        self._aligned_range_pred(cand, blo, bhi)
                        if (blo is not None or bhi is not None)
                        else None
                        for (_blit, blo, bhi) in ov.branches
                    ]
                    pred_a = next(
                        (p for p in branch_preds if p is not None), None
                    )
                else:
                    pred_a = (
                        self._aligned_range_pred(cand, ov.lo, ov.hi)
                        if (ov.lo is not None or ov.hi is not None)
                        else None
                    )
                    pred_b = (
                        self._aligned_range_pred(cand, ov.lo_b, ov.hi_b)
                        if (ov.lo_b is not None or ov.hi_b is not None)
                        else None
                    )
                info = cand
                break
            except ValueError:
                pred_a = pred_b = None
                branch_preds = []
                continue  # off this grid — try a finer fresh rollup
        if info is None:
            # exact execution proceeds, but the shape now feeds the
            # theta advisor (observe -> advise -> materialize -> route,
            # closing the SQL side of the q108 loop). Windowed shapes
            # record the coarsest grain their bounds fall on; off-grid
            # bounds record nothing (no rollup could ever serve them).
            # EVERY branch's bounds feed the grain inference — an N-ary
            # union whose later branch sits on a finer grid than the
            # first must not record day-grain advice a built rollup
            # could never serve (round-13 review finding: that would
            # drive a useless build plus a permanent re-advise loop)
            all_bounds = (
                [b for (_l, blo, bhi) in ov.branches for b in (blo, bhi)]
                if ov.branches is not None
                else [ov.lo, ov.hi, ov.lo_b, ov.hi_b]
            )
            self._record_overlap_candidate(
                table,
                [seg] if seg is not None else [],
                key,
                tcol,
                _overlap_advice_bucket(*all_bounds),
            )
            return None
        if prefer_exact:
            return None
        lgk = int(info.get("theta_lgk", 12))
        ndv = self.catalog.column_ndv.get((table, key))
        if not (
            self._stats_fresh(table)
            and ndv is not None
            and ndv * 1.1 <= 2**lgk
        ):
            return None  # exact regime unprovable — decline, stay exact
        if ov.idiom == "intersect":
            # the CTE set-op spelling keeps a NULL key as one distinct
            # row under ALL THREE operators (INTERSECT: NULL∩NULL;
            # EXCEPT: NULL on the left only; UNION: NULL on either side
            # — verified against DuckDB, round 12) — rows no sketch can
            # count, so the whole idiom requires the null-freedom proof.
            # The seg_in spelling is COUNT(DISTINCT), which IGNORES
            # NULLs — exactly theta_union's semantics — so it routes
            # without the gate.
            nf = self.catalog.column_null_frac.get((table, key))
            if nf != 0.0:
                return None  # NULL set-op row unprovable — decline
        src = info.get("files_view") or info["view"]
        alias_bt = ov.alias.replace("`", "``")

        def _branch_sub(lit, pred, tag):
            conds = []
            if lit is not None:
                conds.append(f"`{seg}` = {lit}")
            if pred is not None:
                conds.append(f"({pred})")
            where = f" WHERE {' AND '.join(conds)}" if conds else ""
            return (
                f"(SELECT theta_union_agg(`{key}_theta`, {lgk}) AS sk "
                f"FROM {src}{where}) {tag}"
            )

        if ov.set_op == "except":
            # A \ empty = A; empty \ B = empty — NULL-state branches
            # must reproduce exact set semantics, not NULL-propagate
            est = (
                "CASE WHEN sa.sk IS NULL THEN 0 "
                "WHEN sb.sk IS NULL "
                "THEN ROUND(theta_sketch_estimate(sa.sk)) "
                "ELSE ROUND(theta_sketch_estimate("
                "theta_difference(sa.sk, sb.sk))) END"
            )
        elif ov.set_op == "union":
            # A ∪ empty = A — and the union must run at the ROLLUP'S
            # OWN lg_k (042a0e3: a smaller function-default nominal
            # would re-sample certified-exact sketches)
            est = (
                "CASE WHEN sa.sk IS NULL AND sb.sk IS NULL THEN 0 "
                "WHEN sa.sk IS NULL "
                "THEN ROUND(theta_sketch_estimate(sb.sk)) "
                "WHEN sb.sk IS NULL "
                "THEN ROUND(theta_sketch_estimate(sa.sk)) "
                "ELSE ROUND(theta_sketch_estimate("
                f"theta_union(sa.sk, sb.sk, {lgk}))) END"
            )
        else:
            est = (
                "CASE WHEN sa.sk IS NULL OR sb.sk IS NULL THEN 0 "
                "ELSE ROUND(theta_sketch_estimate("
                "theta_intersection(sa.sk, sb.sk))) END"
            )
        if ov.branches is not None and ov.set_op == "union":
            # N-ary UNION reach, CTE set-op spelling (round 13, VERDICT
            # r12 #3): UNION is associative and idempotent, so the
            # union of N slices IS the union of every state bucket
            # matching ANY branch condition — ONE theta_union_agg scan
            # whose WHERE is the OR of the branch predicates, the same
            # single-scan shape as the seg_in idiom (a bucket matching
            # two branches enters the union once, which is exactly what
            # set-union semantics require)
            if not branch_preds:
                branch_preds = [None] * len(ov.branches)
            parts = []
            for (blit, _blo, _bhi), bpred in zip(
                ov.branches, branch_preds
            ):
                conds = []
                if blit is not None:
                    conds.append(f"`{seg}` = {blit}")
                if bpred is not None:
                    conds.append(f"({bpred})")
                parts.append("(" + " AND ".join(conds) + ")")
            routed_sql = (
                f"SELECT CAST(CASE WHEN sk IS NULL THEN 0 ELSE "
                f"ROUND(theta_sketch_estimate(sk)) END AS BIGINT) "
                f"AS `{alias_bt}` FROM "
                f"(SELECT theta_union_agg(`{key}_theta`, {lgk}) AS sk "
                f"FROM {src} WHERE {' OR '.join(parts)}) u"
            )
            branch_note = (
                f"{len(ov.branches)} branches unioned in ONE state scan"
            )
        elif ov.branches is not None:
            # N-ary INTERSECT chain (round 14, VERDICT r13 #2 — "users
            # in ALL N segments"). INTERSECT is associative (EXCEPT is
            # not, and the parser keeps it binary), so the chain is
            # well-defined; unlike UNION it is not expressible as one
            # state scan (a bucket matching ONE branch proves nothing
            # about membership in the others), so each branch gets its
            # own per-branch state union and the sketches intersect
            # pairwise left-to-right. The exact-regime gate above means
            # no sketch ever sampled, so every intersection — however
            # deep the nesting — is exact set computation, and the
            # idiom's null-freedom proof already held (INTERSECT keeps
            # a NULL key as one distinct row sketches cannot see). An
            # empty (NULL-state) branch makes the whole intersection
            # empty.
            if not branch_preds:
                branch_preds = [None] * len(ov.branches)
            subs = [
                _branch_sub(blit, bpred, f"s{i}")
                for i, ((blit, _blo, _bhi), bpred) in enumerate(
                    zip(ov.branches, branch_preds)
                )
            ]
            null_any = " OR ".join(
                f"s{i}.sk IS NULL" for i in range(len(subs))
            )
            inter = "s0.sk"
            for i in range(1, len(subs)):
                inter = f"theta_intersection({inter}, s{i}.sk)"
            routed_sql = (
                f"SELECT CAST(CASE WHEN {null_any} THEN 0 ELSE "
                f"ROUND(theta_sketch_estimate({inter})) END AS BIGINT) "
                f"AS `{alias_bt}` FROM "
                + " CROSS JOIN ".join(subs)
            )
            branch_note = (
                f"{len(ov.branches)} branch state unions intersected "
                "sketch-side"
            )
        elif ov.idiom == "seg_in":
            # N-ary reach: one theta_union_agg over state filtered to
            # ALL listed segments — a single state scan, no per-branch
            # subqueries or sketch-pair combine (the union of N slices
            # IS the union of their per-bucket sketches)
            conds = [f"`{seg}` IN ({', '.join(ov.lits)})"]
            if pred_a is not None:
                conds.append(f"({pred_a})")
            routed_sql = (
                f"SELECT CAST(CASE WHEN sk IS NULL THEN 0 ELSE "
                f"ROUND(theta_sketch_estimate(sk)) END AS BIGINT) "
                f"AS `{alias_bt}` FROM "
                f"(SELECT theta_union_agg(`{key}_theta`, {lgk}) AS sk "
                f"FROM {src} WHERE {' AND '.join(conds)}) u"
            )
            branch_note = (
                f"{len(ov.lits)} segments unioned in ONE state scan"
            )
        else:
            routed_sql = (
                f"SELECT CAST({est} AS BIGINT) AS `{alias_bt}` FROM "
                + _branch_sub(ov.lit_a, pred_a, "sa")
                + " CROSS JOIN "
                + _branch_sub(ov.lit_b, pred_b, "sb")
            )
            branch_note = "per-bucket sketches unioned per branch"
        shape = (
            ("segment-reach" if ov.set_op == "union" else "segment-overlap")
            if seg is not None
            else f"audience {ov.set_op}"
        )
        note = (
            f"{shape} idiom ({ov.idiom}) answered from "
            f"materialized rollup {info['view']} theta state "
            f"({branch_note}"
            + (
                ", p_date-pruned to the window"
                if (pred_a or pred_b)
                else ""
            )
            + f", {ov.set_op}ed sketch-side; fact table not re-read); "
            "exact regime "
            f"(catalog ndv {int(ndv)} +10% fits 2^{lgk} nominal budget)"
        )
        return {"type": "sketch", "sql": routed_sql, "reason": note}

    def _route_rollup(
        self,
        parsed: ParsedQuery | None,
        max_rel_error: float = 0.05,
        prefer_exact: bool = False,
        max_rank_error: float | None = None,
        declines: list[str] | None = None,
    ) -> dict | None:
        """Continuous-aggregate rewrite: when ``parsed`` is a single-table
        aggregate — or a star join whose FACT side has a rollup — whose
        shape a registered FRESH rollup can answer, return the plan that
        scans the rollup. Runs BEFORE planning — an exact
        answer from a pre-aggregated table dominates every approximate
        strategy (faster AND error-free), so a hit short-circuits the
        planner entirely. COUNT(DISTINCT c) over a tracked sketch column
        is the one approximate derivation: it is offered only when the
        caller's tolerance covers ~2 standard errors of the HLL estimate
        and exactness wasn't requested."""
        from approximate_query_engine_spark.operators.rollup import (
            family_error,
            kll_rank_error,
            rewrite_join_to_rollup,
            rewrite_to_rollup,
            rewrite_to_rollup_hybrid,
            rewrite_topk_to_rollup,
        )

        if not self.catalog.rollups or parsed is None:
            return None
        joined = isinstance(parsed, JoinedQuery)
        table_columns: dict[str, frozenset[str]] = {}
        if not joined:
            target = parsed.table
        else:
            # star-join shape: exactly ONE joined table may own a rollup
            # (two would make the rewrite ambiguous — decline)
            for t, _a in parsed.tables:
                try:
                    table_columns[t] = self._table_columns(t)
                except Exception:
                    return None
            with_rollups = [
                t for t, _a in parsed.tables if self.catalog.rollups.get(t)
            ]
            if len(with_rollups) != 1:
                return None
            target = with_rollups[0]
        usable = self._fresh_rollups(
            target, self.catalog.rollups.get(target, [])
        )

        def _allow_distinct(info) -> bool:
            # 2-standard-error gate; COUNT(DISTINCT) may be served from
            # HLL state (distinct_cols) or theta state (theta_cols —
            # same accuracy family, rse 1/√2^lgk vs 1.04/√2^lgk). The
            # flag is one bool for the whole rewrite, so EVERY distinct
            # state family the rollup tracks must pass its own gate —
            # conservative when the two are configured at different lgk
            if prefer_exact:
                return False
            gates = [
                family_error(info, fam)
                for fam, cols in (("HLL", "distinct_cols"),
                                  ("theta", "theta_cols"))
                if info.get(cols)
            ]
            return bool(gates) and all(
                max_rel_error >= 2 * e for e in gates
            )

        def _allow_quantile(info) -> bool:
            # KLL's contract is on RANK (the value returned is a real
            # data value whose rank is within ε of p) — a distinct error
            # dimension from value-relative tolerance, since on skewed
            # data a small rank error can be an arbitrarily large value
            # error. The caller's explicit max_rank_error wins; absent
            # one, the value tolerance doubles as the rank budget
            # (conservative in the declining direction — see query()).
            budget = (
                max_rank_error if max_rank_error is not None
                else max_rel_error
            )
            return (
                not prefer_exact
                and bool(info.get("quantile_cols"))
                and budget >= kll_rank_error(info.get("kll_k", 200))
            )

        def _topk_certified(info, col: str) -> str | None:
            """Certification note when serving ``col``'s top-k from state
            is provably exact, else None (decline). Two obligations:
            (1) NULL evidence — approx_top_k state never sees NULLs, so
            the raw GROUP BY's NULL group would be silently dropped;
            the rollup's build-time flag (re-checked by refresh) or an
            exact analyzed zero null fraction (gated on analyze
            freshness) must vouch the column is null-free. (2) the
            distinct count fits the budget (no Misra–Gries purge),
            strongest evidence first: the rollup's own EXACT build-time
            distinct count (refresh degrades it to an exact upper
            bound, still a proof); else catalog ndv with a 10% margin
            (analyze_table's approx_count_distinct has ~5% rsd — an
            unmargined 1015 would certify a true 1070 over a 1024
            budget) when the analyze baseline matches the current row
            count (a stale low ndv must not certify post-append); else
            the rollup's own distinct-sketch state at +2σ, computed
            from the current build by construction. The state estimate
            is cached per (view, build, budget, col) — state only
            changes on rebuild, so routing pays the agg once, not per
            query; register_view clears the cache."""
            budget = int(info.get("topk_budget", 1024))
            # analyze freshness: catalog column stats describe the table
            # AS OF their analyze pass — post-append they can be stale
            # in the dangerous direction (low ndv, zero null fraction)
            stats_fresh = self._stats_fresh(target)
            if (info.get("topk_notnull") or {}).get(col) is not True:
                nf = self.catalog.column_null_frac.get((target, col))
                if not stats_fresh or nf != 0.0:
                    return None  # NULL group unprovable — decline
            ev = (info.get("topk_exact_ndv") or {}).get(col)
            if ev is not None:
                n = int(ev.get("ndv", 0))
                if n <= budget:
                    if ev.get("exact"):
                        return f"exact ndv {n} <= budget (build evidence)"
                    return (
                        f"ndv <= {n} <= budget (exact upper bound, "
                        "build+refresh evidence)"
                    )
                if ev.get("exact"):
                    # exact evidence says the column CANNOT fit — no
                    # statistical tier may overrule a proof
                    return None
                # an inflated upper bound may exceed the budget while
                # the true ndv fits — fall through to the other tiers
            ndv = self.catalog.column_ndv.get((target, col))
            if stats_fresh and ndv is not None and ndv * 1.1 <= budget:
                return f"ndv {int(ndv)} (+10%) <= budget (catalog stats)"
            cache_key = (
                info["view"], info.get("built_row_count"), budget, col
            )
            cached = self._topk_cert_cache.get(cache_key)
            if cached is not None:
                return cached or None
            if col in info.get("distinct_cols", []):
                sk, err = (
                    f"hll_sketch_estimate(hll_union_agg({col}_hll))",
                    family_error(info, "HLL"),
                )
            elif col in info.get("theta_cols", []):
                sk, err = (
                    f"theta_sketch_estimate(theta_union_agg({col}_theta, "
                    f"{int(info.get('theta_lgk', 12))}))",
                    family_error(info, "theta"),
                )
            else:
                return None
            try:
                src = info.get("files_view") or info["view"]
                est = self.spark.sql(
                    f"SELECT {sk} AS n FROM {src}"
                ).collect()[0]["n"]
            except Exception:  # noqa: BLE001 - decline, stay correct
                return None
            note = None
            if est is not None and float(est) * (1 + 2 * err) <= budget:
                note = (
                    f"ndv ~{int(est)} (+2σ) <= budget "
                    "(rollup distinct state)"
                )
            self._topk_cert_cache[cache_key] = note or False
            return note

        # phase 1: pure state answers (any candidate's plain rewrite
        # beats any hybrid — no raw rows read at all)
        for info in usable:
            if joined:
                routed = rewrite_join_to_rollup(
                    parsed,
                    info,
                    table_columns,
                    allow_approx_distinct=_allow_distinct(info),
                    declines=declines,
                )
            else:
                routed = rewrite_to_rollup(
                    parsed,
                    info,
                    allow_approx_distinct=_allow_distinct(info),
                    allow_approx_quantile=_allow_quantile(info),
                    declines=declines,
                )
            if (
                routed is None
                and not joined
                and not prefer_exact
                and parsed.limit
                and info.get("topk_cols")
            ):
                # the canonical top-items dashboard shape: the group
                # key is a tracked topk column (too high-cardinality
                # to be a dim), served from combined sketch state —
                # only in the CERTIFIED exact regime (no Misra–Gries
                # purge in any partial). Beyond the budget the MG
                # bound 3.5·n/budget has no bound relative to the
                # k-th item's count, so no tolerance can admit it.
                tk = rewrite_topk_to_rollup(parsed, info, declines)
                cert = tk and _topk_certified(info, tk[1])
                if cert:
                    routed = tk[0]._replace(
                        note=f"{tk[0].note}; exact regime certified: {cert}"
                    )
            if routed:
                return self._rollup_plan(routed, info)
        # phase 2: off-grid time bounds — real-time hybrid (complete
        # buckets from state + raw edge slices, routed through the
        # table's fresh partitioned layout when one exists). FINEST
        # bucket first: a finer rollup leaves smaller raw slices.
        if not joined:
            for info in reversed(usable):
                routed = rewrite_to_rollup_hybrid(
                    parsed,
                    info,
                    self._fresh_layout_info(parsed.table),
                    allow_approx_distinct=_allow_distinct(info),
                    allow_approx_quantile=_allow_quantile(info),
                )
                if routed:
                    return self._rollup_plan(routed, info)
        return None

    def _rollup_plan(self, routed, info: dict) -> dict:
        """The plan of a rollup ``Rewrite``. COUNT(DISTINCT) served from
        merged HLL/theta state, MEDIAN/PERCENTILE served from merged KLL
        state and top items from frequent-items state read approximate
        state families — labeled sketch plans (and only taken when the
        tolerance covers the sketch's error bound or the exact regime is
        certified); everything else re-aggregates losslessly. The reason
        names the copy serving the answer."""
        return {
            "type": "sketch" if routed.families else "exact",
            "sql": routed.sql,
            "reason": routed.note + self.served.note(info["files_view"]),
        }

    def _fresh_layout_info(self, table: str) -> dict | None:
        """The table's partitioned-layout routing entry when it is FRESH
        (row count matches) and its view is registered, else None — the
        one gate of partition routing (:meth:`_route_rewrite`) and of the
        hybrid rollup rewrite's raw edge-slice scan.

        FRESHNESS CONTRACT: the gate detects append drift via the
        catalog row count (kept current by register_data/maintenance);
        same-count in-place mutation is undetectable from counts alone,
        so every data-replacement path (register_view/register_file)
        invalidates the layout entry outright. Out-of-band temp-view
        swaps that bypass the engine's register methods are outside the
        contract — run maintenance or re-register through the engine.
        Unknown freshness (no catalog row count — dropped/foreign stats
        file) declines, matching the rollup routing policy: never serve
        a possibly-stale layout labeled exact."""
        info = self.catalog.partitioned_views.get(table)
        if not info:
            return None
        current = self.catalog.get_row_count(table)
        if current is None or info.get("built_row_count") != current:
            return None
        try:
            if not self.spark.catalog.tableExists(info["view"]):
                # a persisted mapping from a prior session: re-register
                # the layout from its parquet path (temp views die with
                # sessions)
                from approximate_query_engine_spark.operators.partitioning import (
                    read_partitioned,
                )

                read_partitioned(
                    self.spark, info["path"]
                ).createOrReplaceTempView(info["view"])
        except Exception:
            return None
        return info

    def _route_partitioned(self, sql: str) -> tuple[str, str] | None:
        """Partition routing: when a single-table scan (the base table OR
        a materialized sample of it — samples of layout-backed tables are
        bucket-partitioned too, sampler._materialize) carries a literal
        date/timestamp bound on a column with a registered layout, rewrite
        it to scan the layout with a derived ``p_bucket`` conjunct —
        pruning at file-listing time. The original WHERE rides along as
        the row-level filter, so the conservative (superset) bucket bound
        cannot change results; for materialized samples the routed answer
        is bit-identical to the unrouted one. Inline-sample plans route
        their base scan to the layout view: rand(seed)'s per-partition
        stream makes that a DIFFERENT (equally valid) Bernoulli draw;
        deterministic md5-keyed predicates are row-stable and unaffected.
        Returns ``(routed_sql, note)`` or None. It parses the PLAN's SQL
        (a sample rewrite scans the sample), so only when a layout is
        registered at all."""
        import re

        if not self.catalog.partitioned_views:
            return None
        # try_parse accepts scalar subqueries in the select list (their
        # parens are skipped by its top-level scan), but the regex
        # injections below anchor on the FIRST `FROM|JOIN <table>` /
        # first WHERE after it — a nested SELECT could own either,
        # landing the p_bucket conjunct inside the subquery (wrong or
        # error). One outer SELECT only.
        if len(re.findall(r"\bSELECT\b", sql, re.I)) != 1:
            return None
        # a bare `*` select would surface the layout's extra p_bucket
        # column and change the result schema — COUNT(*) is fine
        m = re.match(r"\s*SELECT\s+(.*?)\sFROM\b", sql, re.I | re.S)
        if not m or any(
            item.strip() == "*" or item.strip().endswith(".*")
            for item in m.group(1).split(",")
        ):
            return None
        parsed = try_parse_any(sql)
        if parsed is None or not parsed.where:
            return None
        if not isinstance(parsed, JoinedQuery):
            return self._route_rewrite(
                sql,
                parsed.table,
                parsed.where,
                has_alias=parsed.table_alias is not None,
            )
        # JOIN shape (round 6): route the ONE joined table that owns the
        # time-bounded column — typically the fact scan, the expensive
        # side of every star join.
        jq = parsed
        for table, alias in jq.tables:
            info = self.catalog.partitioned_views.get(table)
            if not info:
                continue
            # the ts column must belong to THIS table and NO other joined
            # table — an unqualified (or foreign-aliased) reference to a
            # same-named column elsewhere would derive a wrong conjunct
            owners = []
            for t, _a in jq.tables:
                try:
                    cols = self._table_columns(t)
                except Exception:
                    return None
                if info["ts_col"] in cols:
                    owners.append(t)
            if owners != [table]:
                continue
            routed = self._route_rewrite(
                sql,
                table,
                jq.where,
                has_alias=alias is not None,
                # qualify the conjunct so p_bucket resolves against the
                # routed table even if another joined table grew one
                qualifier=alias or table,
            )
            if routed:
                return routed
        return None

    def _route_rewrite(
        self,
        sql: str,
        table: str,
        where: str,
        has_alias: bool,
        qualifier: str | None = None,
    ) -> tuple[str, str] | None:
        """Shared routing rewrite for single-table and join shapes: gate
        on freshness, derive the bucket conjunct from ``where``, swap the
        table's FROM/JOIN reference for the layout view, and inject the
        conjunct at the first WHERE past it (sound under the caller's
        single-SELECT guard). When the original reference had no alias,
        the view is aliased AS the original table name so qualified
        column references keep resolving."""
        import re

        from approximate_query_engine_spark.operators.partitioning import (
            derive_bucket_predicate,
        )

        info = self._fresh_layout_info(table)
        if info is None:
            return None
        partition_col = info["partition_col"]
        pred = derive_bucket_predicate(
            where,
            info["ts_col"],
            info["grain"],
            f"{qualifier}.{partition_col}" if qualifier else partition_col,
        )
        if not pred:
            return None
        view = info["view"]
        fm = re.search(
            rf"\b(FROM|JOIN)\s+{re.escape(table)}\b", sql, re.I
        )
        if fm is None:
            return None
        replacement = view if has_alias else f"{view} {table}"
        head = sql[: fm.start()]
        kw = fm.group(1)
        tail = sql[fm.end():]
        tail, n = re.subn(
            r"\bWHERE\b", f"WHERE {pred} AND ", tail, count=1, flags=re.I
        )
        if n != 1:
            return None
        routed = f"{head}{kw} {replacement}{tail}"
        return routed, f"routed to partitioned layout {view} [{pred}]"

    def progressive_query(
        self,
        sql: str,
        target_rel_error: float = 0.05,
        seed: int = 42,
        **kwargs,
    ) -> dict:
        """Online aggregation: refine over a growing sample until the CI
        meets the target (see progressive.py). Pass ``mode='systematic'``
        + ``key_expr=...`` for the deterministic, engine-replayable form."""
        from approximate_query_engine_spark.progressive import progressive_query

        return progressive_query(
            self.spark, sql, target_rel_error, seed=seed, **kwargs
        )
