"""Similarity search over embedding columns: brute-force cosine top-k as
the exact baseline, LSH-bucketed and IVF (coarse-quantizer) variants as the
scale paths.

Scale analysis (the reason three variants exist):
- **Brute force** is one scan + a top-k (``ORDER BY ... LIMIT k`` compiles
  to TakeOrderedAndProject — per-partition heaps + driver merge, no global
  sort). Exact, O(n·d) per query; right answer for one-off queries.
- **Hyperplane LSH** prunes to same-bucket (± near-bucket) candidates:
  the scan still reads n signature ints but computes cosine only for
  candidates — at 100 TB the signature column is orders of magnitude
  smaller than the vectors and can be partition-pruned if written
  bucket-partitioned.
- **IVF** (inverted-file): k-means-ish centroids learned on a sample;
  vectors assigned to nearest centroid once (materialized, partitioned by
  centroid id); queries probe the ``nprobe`` nearest centroids only —
  the classic FAISS IVF-flat layout expressed relationally.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_query_engine_spark.functions.dedup import (
    cosine_expr,
    dot_expr,
    hyperplane_signature_expr,
    sumsq_expr,
)


def _query_vec_lit(query_vec) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in query_vec])


def _py_fold_norm(query_vec) -> float:
    """L2 norm via the SAME sequential left-fold Spark's ``aggregate``
    performs over the literal array — bit-identical IEEE result, computed
    once on the driver instead of once per scanned row."""
    acc = 0.0
    for v in query_vec:
        acc += float(v) * float(v)
    return acc**0.5


def _cosine_to_query_expr(vec_col, query_vec) -> "F.Column":
    """cosine(row_vec, fixed query): one dot pass + one row-norm pass per
    row; the query norm is a driver-side constant. Value bit-identical to
    ``cosine_expr(row_vec, lit(query))`` (same canonical fold via
    dot_expr/sumsq_expr, same guard, same operand order)."""
    qv = _query_vec_lit(query_vec)
    qn = _py_fold_norm(query_vec)
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if qn <= 0:
        return F.lit(0.0)
    nv = F.sqrt(sumsq_expr(v))
    return F.when(nv > 0, dot_expr(v, qv) / (nv * F.lit(qn))).otherwise(0.0)


def topk_cosine_brute_force(
    df: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: full scan, TakeOrderedAndProject top-k.
    Ties broken by id for determinism."""
    return (
        df.select(
            F.col(id_col),
            _cosine_to_query_expr(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def topk_cosine_lsh(
    df: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 12,
    seed: int = 42,
    max_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates = vectors whose hyperplane signature is
    within ``max_hamming`` bits of the query's, then exact cosine on the
    candidates. Recall/latency tuned by nbits and max_hamming."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((nbits, dim))
    # the query signature uses the SAME sequential left-fold as
    # hyperplane_signature_expr (not a BLAS dot, whose pairwise summation
    # can flip a near-zero sign) so driver- and executor-computed
    # signatures — and any SQL oracle replaying the fold — agree bit-wise
    q = [float(x) for x in query_vec]
    q_sig = 0
    for i in range(nbits):
        acc = 0.0
        for j in range(dim):
            acc += q[j] * float(planes[i][j])
        if acc > 0:
            q_sig |= 1 << i
    sig = hyperplane_signature_expr(vec_col, dim, nbits, seed)
    return (
        df.select(F.col(id_col), F.col(vec_col), sig.alias("_sig"))
        .filter(F.bit_count(F.col("_sig").bitwiseXOR(F.lit(q_sig))) <= max_hamming)
        .select(
            F.col(id_col),
            _cosine_to_query_expr(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF


class IVFIndex:
    """Inverted-file index: centroids from sampled k-means (numpy,
    driver-side on a bounded sample), assignments as a DataFrame that can be
    persisted partitioned by centroid id."""

    def __init__(self, centroids: np.ndarray):
        self.centroids = centroids  # (nlist, dim), L2-normalized

    @classmethod
    def train(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        nlist: int = 16,
        sample_rows: int = 10_000,
        iters: int = 10,
        seed: int = 42,
    ) -> "IVFIndex":
        """Lloyd's k-means on a driver-side sample (bounded by
        ``sample_rows`` regardless of table size), cosine metric via
        normalized vectors."""
        n = df.count()
        frac = min(1.0, sample_rows / max(n, 1))
        sample = np.array(
            [r[0] for r in df.select(vec_col).sample(frac, seed=seed).collect()],
            dtype=float,
        )
        if len(sample) == 0:
            raise ValueError("empty vector table")
        sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
        rng = np.random.default_rng(seed)
        k = min(nlist, len(sample))
        cents = sample[rng.choice(len(sample), size=k, replace=False)]
        for _ in range(iters):
            sims = sample @ cents.T
            assign = sims.argmax(axis=1)
            for c in range(k):
                members = sample[assign == c]
                if len(members):
                    v = members.mean(axis=0)
                    cents[c] = v / max(np.linalg.norm(v), 1e-12)
        return cls(cents)

    def _centroid_array_lit(self):
        return F.array(
            *[
                F.array(*[F.lit(float(x)) for x in c])
                for c in self.centroids
            ]
        )

    def centroid_df(self, spark) -> DataFrame:
        """Centroids as a tiny (centroid_id, __cv) DataFrame for broadcast
        joins. Preferred over :meth:`_centroid_array_lit` on per-query
        paths: a nlist×dim literal array (2048+ literal expressions at
        nlist=32, d=64) costs ~1-2 s of analysis/codegen EVERY query, while
        a broadcast of the same data as rows is free to plan."""
        return spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)],
            "centroid_id int, __cv array<double>",
        )

    def assign(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """Add ``centroid_id`` = argmax cosine over centroids. At scale,
        write this out ``partitionBy('centroid_id')`` so probes prune.

        Centroids are L2-normalized at training time, so argmax cosine ==
        argmax dot product — one array pass per (row, centroid) instead of
        three, and the row's own norm (a positive scale on every centroid
        equally) cancels out of the argmax entirely."""
        cents = self._centroid_array_lit()
        v = F.col(vec_col)
        sims = F.transform(cents, lambda c: dot_expr(v, c))
        best = F.array_position(sims, F.array_max(sims)) - 1
        return df.select(
            F.col(id_col), F.col(vec_col), best.cast("int").alias("centroid_id")
        )

    def probe_centroids(self, query_vec, nprobe: int = 4) -> list[int]:
        q = np.asarray(list(query_vec), dtype=float)
        q = q / max(np.linalg.norm(q), 1e-12)
        sims = self.centroids @ q
        return [int(i) for i in np.argsort(-sims)[:nprobe]]

    def topk(
        self,
        assigned: DataFrame,
        query_vec,
        k: int = 10,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Search only the ``nprobe`` nearest inverted lists (partition
        pruning when ``assigned`` is partitioned by centroid_id)."""
        probes = self.probe_centroids(query_vec, nprobe)
        qv = _query_vec_lit(query_vec)
        return (
            assigned.filter(F.col("centroid_id").isin(probes))
            .select(F.col(id_col), cosine_expr(F.col(vec_col), qv).alias("cosine"))
            .orderBy(F.desc("cosine"), F.col(id_col))
            .limit(k)
        )


# ---------------------------------------------------------------------------
# batch k-NN join


#: logical-plan nodes that keep a frame NARROW: scans and per-row
#: transforms, with no exchange (or whole job) between the leaves and the
#: frame. ``df.rdd`` on any other frame under AQE is NOT plan-only: AQE
#: materializes every shuffle query stage to finalize the plan, silently
#: EXECUTING the upstream of the frame being inspected (ADVICE r14) — the
#: centroid-assignment join would run once just to count partitions and
#: again when the returned frame is consumed. An allowlist, so a node
#: this list does not know (``FlatMapGroupsInPandas``, ``CoGroup``,
#: ``MapGroups``, a future one) counts as wide.
_NARROW_PLAN_NODES = frozenset(
    {
        # leaves
        "Relation",
        "LogicalRDD",
        "LocalRelation",
        "Range",
        "OneRowRelation",
        # per-row transforms and wrappers
        "Project",
        "Filter",
        "SubqueryAlias",
        "View",
        "Sample",
        "Generate",
        "Expand",
        "LocalLimit",
        "Union",
        "ResolvedHint",
        "DeserializeToObject",
        "SerializeFromObject",
        "MapPartitions",
        "MapInPandas",
        "MapInArrow",
    }
)


def _is_narrow_plan(df: DataFrame) -> bool:
    """True when every node of the analyzed logical plan is on the
    narrow allowlist, i.e. ``df.rdd`` is a plan-only inspection (scan +
    narrow transforms: no AQE query stage exists to materialize)."""
    import re

    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:  # pragma: no cover - py4j surface changed
        return False
    # node names start a line after the tree-art prefix ("+- ", ":- ")
    heads = re.findall(r"(?m)^[\s:+-]*([A-Za-z]+)", tree)
    return bool(heads) and all(h in _NARROW_PLAN_NODES for h in heads)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-14 optimization (guide §2.6/§6): raise a SMALL corpus frame's
    parallelism to the session default before a per-pair scoring stage.

    A modest corpus parquet often arrives as ONE scan split (a single
    small file is one task), so the candidate-scoring stage after a
    broadcast join runs on one core while 31 idle — measured 7.0 s → the
    same work spread over 32 tasks in bench.py's knn classes. Gated on
    ``current partitions < defaultParallelism``: a warehouse-scale corpus
    (thousands of splits, partitionBy('centroid_id') pruning) is returned
    untouched, so no shuffle — and no loss of dynamic partition pruning —
    is ever added at scale. Values are unaffected (pure repartition;
    every downstream ranking breaks ties deterministically).

    Round 15 (ADVICE r14): the partition count is read via ``df.rdd``
    ONLY when the plan is provably narrow (scan + projections), because
    under AQE that call materializes shuffle query stages — a post-join
    frame would execute its join twice. Frames with a wide node anywhere
    in the plan are returned untouched (they already have post-shuffle
    parallelism)."""
    sc = df.sparkSession.sparkContext
    if not _is_narrow_plan(df):
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: keep the plan as-is
        return df
    p = sc.defaultParallelism
    return df.repartition(p) if n < p else df


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "brute",
    index: "IVFIndex | None" = None,
    assigned: DataFrame | None = None,
    nlist: int = 16,
    nprobe: int = 4,
    exclude_self: bool = False,
    seed: int = 42,
    broadcast_probes: bool = True,
) -> DataFrame:
    """For EVERY row of ``left``, the top-k cosine neighbors in ``right``
    → (query_id, neighbor_id, cosine, rank). The batch form of top-k
    search — the operator behind embedding-based corpus dedup and
    retrieval-set construction.

    - ``method='brute'``: exact. Broadcast ``right`` against the streamed
      ``left`` scan (an explicit Cartesian — O(|L|·|R|·d), the honest
      baseline). Right side must fit the broadcast budget; at 100 TB use
      the IVF path.
    - ``method='ivf'``: assign ``right`` rows to coarse centroids once,
      probe each query's ``nprobe`` nearest centroids only — candidate
      set shrinks by ~nlist/nprobe. The join is keyed on centroid_id, so
      it shuffles candidates, never all pairs; the final per-query top-k
      is a window over candidates only. Pass ``assigned`` (the persisted
      output of ``index.assign(right, ...)``) to skip re-assigning the
      corpus — at 100 TB the assignment is a materialized table written
      ``partitionBy('centroid_id')``, built once, probed many times;
      re-deriving it per query batch would cost more than the pruning
      saves (measured in bench.py).

    Per-side norms are computed ONCE per row before the pair join, so
    each candidate pair costs one dot product, not three array passes.
    The cosine value is IEEE-identical to :func:`cosine_expr` (same fold
    order, same operations).

    Ties broken by neighbor id; ``exclude_self`` drops query==neighbor
    (for self-join dedup shapes where left IS right). For those self-join
    shapes — where the "query batch" is the whole corpus — pass
    ``broadcast_probes=False`` so the probe side is NOT force-broadcast
    (see the inline note at the join).

    CONTRACT (ADVICE r14): in ``method='brute'``, ``left`` is a QUERY
    BATCH and is force-broadcast with no size guard — it must fit the
    broadcast budget. A corpus-sized left belongs on the IVF path with
    ``broadcast_probes=False`` (nothing corpus-sized broadcasts there).
    """
    from pyspark.sql import Window

    lhs = left.select(
        F.col(left_id).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", F.sqrt(sumsq_expr(F.col("__qv"))))
    if method == "brute":
        rhs = spread_small_scan(
            right.select(
                F.col(right_id).alias("neighbor_id"),
                F.col(vec_col).alias("__nv"),
            ).withColumn("__nn", F.sqrt(sumsq_expr(F.col("__nv"))))
        )
        # Round-14 (guide §3.1): broadcast the QUERY BATCH and stream the
        # corpus — the batch is the provably small side (the old
        # broadcast-the-corpus shape serialized the whole |Q|x|corpus|
        # dot pass onto the few tasks holding the query rows, and capped
        # the corpus at the broadcast budget). Values identical: same
        # pair set, same cosine fold, same deterministic ranking.
        cand = F.broadcast(lhs).crossJoin(rhs)
    elif method == "ivf":
        if assigned is not None and index is None:
            raise ValueError("assigned requires the index that produced it")
        idx = index or IVFIndex.train(
            right, vec_col=vec_col, nlist=nlist, seed=seed
        )
        if assigned is None:
            assigned = idx.assign(right, id_col=right_id, vec_col=vec_col)
        assigned = assigned.select(
            F.col(right_id).alias("neighbor_id"),
            F.col(vec_col).alias("__nv"),
            "centroid_id",
        ).withColumn("__nn", F.sqrt(sumsq_expr(F.col("__nv"))))
        # probe ranking by dot product: centroids are unit-norm and the
        # query's own norm scales every centroid equally, so the order is
        # the cosine order at a third of the array passes. Ranked via a
        # broadcast join against the tiny centroid table, NOT a literal
        # centroid array — a nlist×dim literal costs seconds of
        # analysis/codegen per query (measured: 2.6s → 0.9s at sf0.1).
        cents_df = idx.centroid_df(left.sparkSession)
        wc = Window.partitionBy("query_id").orderBy(
            F.desc("__csim"), F.col("centroid_id")
        )
        probed = (
            lhs.crossJoin(F.broadcast(cents_df))
            .withColumn("__csim", dot_expr(F.col("__qv"), F.col("__cv")))
            .withColumn("__crk", F.row_number().over(wc))
            .where(F.col("__crk") <= min(nprobe, len(idx.centroids)))
            .select("query_id", "__qv", "__qn", "centroid_id")
        )
        # broadcast the PROBE side (|queries|·nprobe rows), stream the
        # corpus: the corpus side is the big one (vectors × nlist lists)
        # and must never shuffle for a batch lookup — without the explicit
        # hint Catalyst sees an over-threshold corpus and sort-merge-joins,
        # shuffling every corpus vector (measured 2.27s vs 0.9s at sf0.1).
        # At 100 TB the corpus is partitionBy('centroid_id') Parquet and
        # this broadcast join prunes to the probed partitions.
        # ``broadcast_probes=False`` drops the hint and lets Catalyst/AQE
        # choose: for huge query batches (corpus-vs-corpus self-join dedup,
        # the exclude_self shape) |queries|·nprobe rows each carrying a full
        # vector can exceed the broadcast budget/driver memory, and a
        # shuffle join keyed on centroid_id is the right plan there.
        if broadcast_probes:
            # the probed side broadcasts, so the corpus scan is the ONLY
            # parallelism source for the candidate-scoring stage —
            # spread a single-split small corpus (round 14, guide §2.6;
            # no-op at scale, where the partitioned table has many
            # splits and the gate leaves DPP intact)
            assigned = spread_small_scan(assigned)
        cand = assigned.join(
            F.broadcast(probed) if broadcast_probes else probed, "centroid_id"
        )
    else:
        raise ValueError(f"unknown knn_join method: {method}")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    # one array pass per pair: dot only; norms were computed per side.
    # when-guard + division order mirror cosine_expr exactly so the value
    # is bit-identical to the three-pass form (and the DuckDB oracle).
    cos = F.when(
        (F.col("__qn") > 0) & (F.col("__nn") > 0),
        dot_expr(F.col("__qv"), F.col("__nv"))
        / (F.col("__qn") * F.col("__nn")),
    ).otherwise(F.lit(0.0))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
