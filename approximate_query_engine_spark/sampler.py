"""Sample construction: uniform Bernoulli and stratified (proportional /
Neyman) samples, materialized as Parquet and registered in the catalog.

Parity targets (reference, capability only — mechanism is Spark-native):
- uniform:    ``CREATE TABLE t__sample_f AS SELECT * WHERE random()<f``
              (reference sampler.py:9-47)  →  ``df.sample(fraction, seed)``
- stratified: per-stratum Bernoulli UNION ALL (reference sampler.py:50-96,
              228-246)                      →  ``df.sampleBy(col, fractions, seed)``
- strata analysis via correlated subquery (reference sampler.py:146-191)
              →  one ``groupBy(col).agg(count, avg, var_samp)`` pass
- Neyman allocation n_h ∝ N_h·σ_h capped at 1 (reference sampler.py:194-217)
- proportional allocation f_h = f     (reference sampler.py:220-225)
- post-hoc achieved-fraction correction (reference sampler.py:249-266) —
  kept: Bernoulli hits the target only in expectation, and unbiased
  estimators need the *achieved* fraction.

Scale notes: ``df.sample`` is evaluated during the Parquet scan (no
pre-shuffle); ``sampleBy`` is a scan-time per-key Bernoulli filter — both
are single-pass, shuffle-free, and embarrassingly parallel at 100 TB. The
strata-analysis pass is one map-side-combined aggregation. Samples are
written back as Parquet so later approximate queries scan f·N rows.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximate_query_engine_spark.catalog import Catalog, SampleInfo, StratumInfo
from approximate_query_engine_spark.served import served_state
from approximate_query_engine_spark.versions import write_version


def _strata_key(df: DataFrame, strata_col: str):
    """Column for a strata definition: an actual column NAME goes through
    F.col (a name like 'a-b' must stay a name, not parse as the arithmetic
    a minus x); anything not in the schema is a composite expression and
    goes through F.expr."""
    return F.col(strata_col) if strata_col in df.columns else F.expr(strata_col)


def stringify_stratum(value) -> str:
    """Render a stratum value the way Spark's CAST(x AS STRING) does, so
    the rewriter's weight CASE matches at query time: booleans lowercase,
    NULL as a dedicated marker (compared with IS NULL, not equality)."""
    from approximate_query_engine_spark.rewriter import NULL_STRATUM

    if value is None:
        return NULL_STRATUM
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def _name_tag(text: str) -> str:
    """Sanitize arbitrary column names for use inside view names."""
    return re.sub(r"[^A-Za-z0-9_]", "_", text)


def _fraction_tag(fraction: float) -> str:
    """Human-readable fraction tag for view names, e.g. 0.01 -> '0_01'.

    Cosmetic only — the engine resolves samples via the catalog, never by
    parsing names (SURVEY.md §2.5 flags the reference's name codec,
    sampler.py:99-117, as fragile and triplicated).
    """
    s = f"{fraction:.6f}".rstrip("0")
    return re.sub(r"[.]", "_", s.rstrip("_") or "0")


class Sampler:
    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog
        self.samples_dir = os.path.join(catalog.workdir, "samples")
        os.makedirs(self.samples_dir, exist_ok=True)

    # ------------------------------------------------------------------
    def _materialize(self, sampled: DataFrame, table: str, sample_table: str,
                     describe) -> SampleInfo:
        """Write a sample as the next version directory of its root
        (versions.py), serve its temp view, then register and save its
        :class:`SampleInfo`, whose remaining fields ``describe(out, rows)``
        returns for the served frame and its row count. The previous
        version keeps serving until all of that succeeded.

        When the base table has a registered time-partitioned layout, the
        sample is materialized PARTITIONED BY the same time bucket and
        registered for routing itself — so a date-bounded APPROXIMATE
        query prunes its sample scan at file-listing time exactly like the
        exact path prunes the base layout (at 100 TB a 1% sample is ~1 TB;
        a one-month query must not read all of it). The extra
        ``p_bucket`` column is invisible to rewritten aggregate queries
        (explicit select lists) and the routing drift gate is armed by the
        row-count stat recorded here."""
        from approximate_query_engine_spark.operators.partitioning import (
            partition_by_time,
        )

        layout = self.catalog.partitioned_views.get(table)

        def write(path):
            if layout:
                partition_by_time(
                    sampled,
                    path,
                    layout["ts_col"],
                    grain=layout["grain"],
                    partition_col=layout["partition_col"],
                )
            else:
                sampled.write.parquet(path)

        def publish(path, _version):
            served = served_state(self.spark).serve(path, {sample_table: ()})
            out = served.df
            # an in-memory copy was counted by its build job
            rows = served.rows if served.in_memory else out.count()
            info = SampleInfo(
                table_name=table,
                sample_table=sample_table,
                path=path,
                row_count=rows,
                **describe(out, rows),
            )
            if layout:
                self.catalog.partitioned_views[sample_table] = {
                    "view": sample_table,
                    "path": path,
                    "ts_col": layout["ts_col"],
                    "grain": layout["grain"],
                    "partition_col": layout["partition_col"],
                    "built_row_count": rows,
                }
                self.catalog.upsert_table_stats(sample_table, rows)
            self.catalog.register_sample(info)
            self.catalog.save()
            return info

        root = os.path.join(self.samples_dir, sample_table)
        return write_version(self.spark, root, write, publish)

    # ------------------------------------------------------------------
    def create_uniform_sample(
        self, table: str, fraction: float, seed: int = 42
    ) -> SampleInfo:
        """Bernoulli-sample ``table`` at ``fraction``; materialize + register.

        Reference surface: ``create_uniform_sample(conn, table, fraction)``
        (sampler.py:9-47) / ``POST /samples/create`` (app.py:166-189).
        """
        if not (0.0 < fraction < 1.0):
            raise ValueError("sample_fraction must be in (0, 1)")
        df = self.spark.table(table)
        sample_table = f"{table}__sample_{_fraction_tag(fraction)}"
        sampled = df.sample(withReplacement=False, fraction=fraction, seed=seed)

        def describe(out, rows):
            base_rows = self.catalog.get_row_count(table)
            if base_rows is None:
                base_rows = df.count()
                self.catalog.upsert_table_stats(table, base_rows)
            return dict(
                sample_fraction=rows / base_rows if base_rows else fraction,
                target_fraction=fraction,
                seed=seed,
            )

        return self._materialize(sampled, table, sample_table, describe)

    # ------------------------------------------------------------------
    def create_systematic_sample(
        self, table: str, k: int, key_expr: str
    ) -> SampleInfo:
        """Materialized 1-in-``k`` DETERMINISTIC sample: keep rows where
        ``hash(key) % k = 0`` with the portable md5-prefix hash, register
        at the EXACT design fraction 1/k.

        The materialized analog of the inline systematic rewrite
        (rewriter.rewrite_systematic_sample, the reference's ROWID % k
        rewrite, reference ml_optimizer.py:234-240): the kept subset is a
        pure function of the data, so any engine rebuilds it bit-for-bit —
        what makes an approximate answer oracle-checkable — and refresh
        after appends is reproducible. The estimator treats the subset as
        Bernoulli(1/k), sound when the hashed key is equidistributed mod k
        (md5 is). ``key_expr`` must be a row-identity SQL expression
        (e.g. a primary key cast to string)."""
        if k < 2:
            raise ValueError(f"systematic sample k={k} must be >= 2")
        df = self.spark.table(table)
        sample_table = f"{table}__sys_{k}"
        pred = (
            f"CONV(SUBSTRING(md5(CAST(({key_expr}) AS STRING)), 1, 8), 16, 10)"
            f" % {k} = 0"
        )
        sampled = df.where(pred)

        def describe(out, rows):
            if self.catalog.get_row_count(table) is None:
                self.catalog.upsert_table_stats(table, df.count())
            return dict(
                # design fraction, exactly: the deterministic estimator is
                # scale-by-k (the hash decides membership, not a draw whose
                # achieved rate needs correcting)
                sample_fraction=1.0 / k,
                target_fraction=1.0 / k,
                allocation_type="systematic",
                pps_key_expr=key_expr,
                seed=0,
            )

        return self._materialize(sampled, table, sample_table, describe)

    # ------------------------------------------------------------------
    @staticmethod
    def stratum_expr(cols: list[str]) -> str:
        """Composite stratum SQL expression for multi-column stratification:
        columns cast to string (NULL → chr(0) sentinel) joined on the unit
        separator chr(31) — an injective encoding for text without control
        characters."""
        parts = ", ".join(
            f"coalesce(CAST({c} AS STRING), chr(0))" for c in cols
        )
        return f"concat_ws(chr(31), {parts})"

    def analyze_strata(
        self, table: str, strata_col: str, variance_col: str | None = None
    ) -> list[dict]:
        """Per-stratum count/mean/variance in ONE aggregation pass.

        ``strata_col`` may be any SQL expression (see :meth:`stratum_expr`).
        Replaces the reference's correlated-subquery SQL
        (sampler.py:146-191) with ``groupBy(col).agg(count, avg, var_samp)``
        — map-side partial aggregation, a single shuffle on the strata key.
        """
        df = self.spark.table(table)
        aggs = [F.count(F.lit(1)).alias("pop_size")]
        if variance_col:
            aggs += [
                F.avg(variance_col).alias("mean"),
                F.var_samp(variance_col).alias("variance"),
            ]
        rows = df.groupBy(_strata_key(df, strata_col).alias("strata_value")).agg(*aggs).collect()
        out = []
        for r in rows:
            d = r.asDict()
            d.setdefault("mean", None)
            d.setdefault("variance", None)
            out.append(d)
        out.sort(key=lambda d: str(d["strata_value"]))
        return out

    @staticmethod
    def proportional_allocation(strata: list[dict], total_fraction: float) -> dict:
        """f_h = total_fraction for every stratum (reference sampler.py:220-225)."""
        return {stringify_stratum(s["strata_value"]): total_fraction for s in strata}

    @staticmethod
    def neyman_allocation(strata: list[dict], total_fraction: float) -> dict:
        """n_h ∝ N_h·σ_h with f_h capped at 1.0; falls back to proportional
        when every stratum has zero/undefined variance (reference
        sampler.py:194-217 semantics)."""
        weights = []
        for s in strata:
            var = s.get("variance")
            sigma = (var or 0.0) ** 0.5
            weights.append(s["pop_size"] * sigma)
        total_weight = sum(weights)
        total_n = sum(s["pop_size"] for s in strata)
        target_n = total_fraction * total_n
        if total_weight <= 0:
            return Sampler.proportional_allocation(strata, total_fraction)
        out = {}
        for s, w in zip(strata, weights):
            n_h = target_n * (w / total_weight)
            f_h = min(n_h / s["pop_size"], 1.0) if s["pop_size"] else 0.0
            out[stringify_stratum(s["strata_value"])] = f_h
        return out

    # ------------------------------------------------------------------
    def create_stratified_sample(
        self,
        table: str,
        strata_col: str | list[str],
        total_fraction: float,
        variance_col: str | None = None,
        seed: int = 42,
    ) -> SampleInfo:
        """Stratified Bernoulli sample via ``df.sampleBy`` — the exact Spark
        analog of the reference's per-stratum UNION ALL construction
        (reference sampler.py:50-96). ``variance_col`` set → Neyman
        allocation, else proportional. A list of columns stratifies on the
        composite key (see :meth:`stratum_expr`).
        """
        if not (0.0 < total_fraction < 1.0):
            raise ValueError("sample_fraction must be in (0, 1)")
        source_cols = [strata_col] if isinstance(strata_col, str) else list(strata_col)
        composite = len(source_cols) > 1
        strata_col = source_cols[0] if not composite else self.stratum_expr(source_cols)
        strata = self.analyze_strata(table, strata_col, variance_col)
        if not strata:
            raise ValueError(f"table {table} is empty; cannot stratify")
        if variance_col:
            fractions = self.neyman_allocation(strata, total_fraction)
            allocation = "neyman"
        else:
            fractions = self.proportional_allocation(strata, total_fraction)
            allocation = "proportional"

        df = self.spark.table(table)
        # sampleBy keys must match the column's runtime values; build the
        # fractions dict on the raw (non-stringified) values. NULL keys are
        # invisible to sampleBy's equality, so the NULL stratum is sampled
        # by an explicit union — dropping it would bias every whole-table
        # estimate low by the NULL share (no HT weight can repair p=0).
        raw_fractions = {}
        null_fraction = None
        for s in strata:
            if s["strata_value"] is None:
                null_fraction = fractions[stringify_stratum(None)]
                continue
            raw_fractions[s["strata_value"]] = fractions[stringify_stratum(s["strata_value"])]
        if composite:
            # sampleBy needs a real column: materialize the composite key,
            # sample on it, drop it (the expression is never NULL by
            # construction, so no null-union path is needed)
            keyed = df.withColumn("__stratum", F.expr(strata_col))
            sampled = keyed.sampleBy(
                "__stratum", fractions=raw_fractions, seed=seed
            ).drop("__stratum")
        else:
            sampled = df.sampleBy(strata_col, fractions=raw_fractions, seed=seed)
            if null_fraction:
                null_rows = df.filter(F.col(strata_col).isNull()).sample(
                    withReplacement=False, fraction=null_fraction, seed=seed + 1
                )
                sampled = sampled.unionByName(null_rows)

        # composite names carry a column-count prefix so ['a','b'] can
        # never collide with a single column literally named 'a_b'
        name_tag = _name_tag(
            source_cols[0]
            if not composite
            else f"mc{len(source_cols)}_" + "_".join(source_cols)
        )
        sample_table = f"{table}__strat_sample_{name_tag}_{_fraction_tag(total_fraction)}"

        def describe(out, _rows):
            # Post-hoc achieved-fraction correction (reference sampler.py:249-266):
            # recompute per-stratum achieved sizes in one pass and record the
            # ACHIEVED fractions — estimator unbiasedness depends on them.
            achieved_rows = {
                r["strata_value"]: r["n"]
                for r in out.groupBy(_strata_key(out, strata_col).alias("strata_value"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            total_pop = sum(s["pop_size"] for s in strata)
            strata_infos = []
            total_sampled = 0
            for s in strata:
                n_h = int(achieved_rows.get(s["strata_value"], 0))
                total_sampled += n_h
                pop = int(s["pop_size"])
                strata_infos.append(
                    StratumInfo(
                        is_null=s["strata_value"] is None,
                        strata_value=stringify_stratum(s["strata_value"]),
                        pop_size=pop,
                        sample_size=n_h,
                        fraction=(n_h / pop) if pop else 0.0,
                        weight=(pop / total_pop) if total_pop else 0.0,
                        variance=s.get("variance"),
                    )
                )

            self.catalog.upsert_table_stats(table, total_pop)
            return dict(
                sample_fraction=(total_sampled / total_pop) if total_pop else 0.0,
                target_fraction=total_fraction,
                strata_column=strata_col,
                allocation_type=allocation,
                variance_column=variance_col,
                strata_source_cols=source_cols,
                seed=seed,
                strata=strata_infos,
            )

        return self._materialize(sampled, table, sample_table, describe)

    # ------------------------------------------------------------------
    def create_weighted_sample(
        self,
        table: str,
        measure_col: str,
        fraction: float,
        seed: int = 42,
        min_prob: float = 1e-6,
        key_expr: str | None = None,
    ) -> SampleInfo:
        """Measure-biased (probability-proportional-to-size) Bernoulli
        sample: row i is kept with p_i = min(1, target_n · x_i / Σx), and
        its inclusion probability is STORED as a ``__p`` column, so the
        rewriter's Horvitz–Thompson machinery scales by the per-row
        probability directly. For SUM(measure) on skewed data this is the
        variance-optimal Bernoulli design (big rows are always in); the
        classic importance-sampling AQP technique the reference lacks.

        ``key_expr`` (a SQL string expression identifying the row, e.g.
        ``CONCAT(CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS
        STRING))``) switches the inclusion draw from ``rand(seed)`` to the
        deterministic md5-hash uniform u = int(md5(key:seed)[:8]) / 2³²:
        same design, engine-reproducible (q71/q77's portable predicate
        family — any SQL engine with md5 reproduces the subset exactly).
        Σx is summed as DECIMAL(18,2) in both modes so the probability
        inputs are order-independent across engines and reruns.

        Two passes, both scan-time: (1) Σx from one aggregate, (2) the
        probability filter. Negative/NULL measures get the floor
        probability (they carry no SUM mass but stay estimable for COUNT).
        """
        if not (0.0 < fraction < 1.0):
            raise ValueError("sample_fraction must be in (0, 1)")
        df = self.spark.table(table)
        totals = df.agg(
            F.expr(
                "CAST(SUM(CASE WHEN {c} > 0 THEN CAST({c} AS DECIMAL(18,2)) "
                "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)".format(
                    c=measure_col
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        total_x, n = float(totals["s"] or 0.0), int(totals["n"])
        target_n = fraction * n
        sample_table = f"{table}__wsample_{_name_tag(measure_col)}_{_fraction_tag(fraction)}"
        if total_x <= 0:
            # degenerate measure: fall back to uniform — and retire any
            # stale weighted entry under this name so the planner stops
            # routing to drifted sample data
            if self.catalog.get_sample(sample_table) is not None:
                self.catalog.samples.pop(sample_table, None)
                self.catalog.save()
            return self.create_uniform_sample(table, fraction, seed)
        p = F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(min_prob),
                F.lit(target_n) * F.col(measure_col) / F.lit(total_x),
            ),
        )
        if key_expr is not None:
            u = F.expr(
                "CAST(CONV(SUBSTRING(md5(CONCAT({k}, ':', '{s}')), 1, 8), "
                "16, 10) AS DOUBLE) / 4294967296.0".format(k=key_expr, s=seed)
            )
        else:
            u = F.rand(seed)
        sampled = df.withColumn("__p", p).filter(u < F.col("__p"))

        def describe(out, rows):
            self.catalog.upsert_table_stats(table, n)
            return dict(
                sample_fraction=rows / n if n else fraction,
                target_fraction=fraction,
                seed=seed,
                allocation_type="weighted",
                variance_column=measure_col,
                pps_key_expr=key_expr,
            )

        return self._materialize(sampled, table, sample_table, describe)

    # ------------------------------------------------------------------
    def refresh_sample(self, sample_table: str) -> SampleInfo:
        """Re-materialize a registered sample from the current base table
        (after new data lands, samples go stale; the reference has no
        refresh path — its samples silently drift). Keeps the original
        target fraction / strata column / seed."""
        info = self.catalog.get_sample(sample_table)
        if info is None:
            raise ValueError(f"unknown sample table {sample_table!r}")
        if info.allocation_type == "weighted":
            return self.create_weighted_sample(
                info.table_name,
                info.variance_column,
                info.target_fraction,
                seed=info.seed,
                key_expr=info.pps_key_expr,
            )
        if info.strata_column:
            return self.create_stratified_sample(
                info.table_name,
                info.strata_source_cols or info.strata_column,
                info.target_fraction,
                variance_col=info.variance_column,
                seed=info.seed,
            )
        if info.allocation_type == "systematic":
            return self.create_systematic_sample(
                info.table_name,
                round(1.0 / info.target_fraction),
                info.pps_key_expr,
            )
        return self.create_uniform_sample(
            info.table_name, info.target_fraction, seed=info.seed
        )

    # ------------------------------------------------------------------
    def load_registered_samples(self) -> None:
        """Re-register all cataloged sample Parquets as temp views (used
        when a new SparkSession attaches to an existing workdir)."""
        for info in list(self.catalog.samples.values()):
            if os.path.exists(info.path):
                served_state(self.spark).serve(
                    info.path, {info.sample_table: ()}
                )
