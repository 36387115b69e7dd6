"""Scalar quantization of embedding columns (beyond-reference op).

At 100 TB an ``array<float>`` embedding column dominates storage and
shuffle: a 768-dim float32 vector is 3 KiB/row. Per-dimension scalar
quantization (the FAISS ``SQ8`` layout, public knowledge) maps each
dimension to an int8-range code — 4x smaller, and candidate scoring
becomes integer dot products that whole-stage codegen vectorizes. The
standard pipeline shape: quantize once, run broad-phase kNN / near-dup
over codes, optionally re-rank a small candidate set with the exact
float vectors.

Everything here is deterministic and engine-portable, so it sits under
the DuckDB value-hash gate (q112):

- ``fit`` computes per-dimension min/max with one posexplode +
  groupBy(dim) aggregation. The explode multiplies rows by the
  dimension count, but partial aggregation combines map-side, so the
  shuffle carries (partitions x dims) rows — bounded, scale-safe.
- codes are ``round((x - min_d) * scale_d)`` computed in float64 with a
  fixed operation order both engines replay bit-identically; the rounded
  integer codes are then exact cross-engine currency (no float fuzz in
  the output).
- ``knn_join_quantized`` ranks by cosine over the integer codes — exact
  integer dot products (max 64 * 255^2 per pair here, far inside int64),
  norms and the final ratio in float64 with a pinned order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ScalarQuantizer:
    """Per-dimension affine quantizer: code = round((x - min_d) * scale_d),
    scale_d = (levels - 1) / (max_d - min_d) (0 for constant dimensions).
    ``mins``/``scales`` are dimension-indexed driver-side constants (a
    dim-length list — bounded, never data-sized)."""

    mins: tuple[float, ...]
    scales: tuple[float, ...]
    levels: int = 256

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        levels: int = 256,
        sample_fraction: float | None = None,
        seed: int = 42,
    ) -> "ScalarQuantizer":
        """Learn per-dimension [min, max] over the corpus. One pass:
        posexplode + groupBy(dim) min/max — partial aggregation keeps the
        shuffle at (partitions x dims) rows regardless of corpus size.

        At 100 TB pass ``sample_fraction`` to fit the bounds on a
        Bernoulli sample instead of a full scan — encode CLAMPS codes to
        [0, levels-1], so out-of-sample outliers saturate at the range
        edges instead of producing invalid codes (the FAISS SQ training
        convention). The clamp is a no-op for a full-corpus fit."""
        if sample_fraction is not None:
            df = df.sample(fraction=float(sample_fraction), seed=seed)
        stats = (
            df.select(F.posexplode(F.col(vec_col)).alias("d", "x"))
            .select("d", F.col("x").cast("double").alias("x"))
            .groupBy("d")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .orderBy("d")
            .collect()
        )
        if not stats:
            raise ValueError(
                "ScalarQuantizer.fit saw no vectors (empty frame or "
                "sample_fraction too small) — a 0-dim quantizer would "
                "silently encode everything to code 0"
            )
        if any(r.mn is None or r.mx is None for r in stats):
            bad = [r.d for r in stats if r.mn is None]
            raise ValueError(
                f"ScalarQuantizer.fit: dimension(s) {bad} are all-NULL"
            )
        mins = tuple(float(r.mn) for r in stats)
        span = float(levels - 1)
        scales = tuple(
            (span / (float(r.mx) - float(r.mn)))
            if float(r.mx) > float(r.mn)
            else 0.0
            for r in stats
        )
        return cls(mins=mins, scales=scales, levels=int(levels))

    def encode_expr(self, vec_col: str | Column) -> Column:
        """``array<int>`` codes for a vector column. Two zip_with passes
        pin the IEEE operation order to exactly ``(x - min) * scale`` —
        the oracle replays the same order, so the rounded codes match
        bit-for-bit cross-engine."""
        c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        mins = F.array(*[F.lit(float(m)) for m in self.mins])
        scales = F.array(*[F.lit(float(s)) for s in self.scales])
        shifted = F.zip_with(
            c.cast("array<double>"), mins, lambda x, m: x - m
        )
        hi = F.lit(int(self.levels - 1))
        codes = F.zip_with(
            shifted, scales,
            lambda d, s: F.least(
                F.greatest(F.round(d * s).cast("int"), F.lit(0)), hi
            ),
        )
        # loud dimension-mismatch guard: zip_with would otherwise NULL-pad
        # and the clamp would turn the padding into code 0 — silently
        # ignoring most of the vector (exactly the wrong-params hazard
        # the persisted sidecar exists to prevent)
        return F.when(F.size(c) == len(self.mins), codes).otherwise(
            F.raise_error(
                F.lit(
                    f"quantizer fit on {len(self.mins)} dims; "
                    "vector has a different length"
                )
            )
        )

    def encode(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        out_col: str = "codes",
    ) -> DataFrame:
        return df.withColumn(out_col, self.encode_expr(vec_col))

    def to_dict(self) -> dict:
        return {
            "mins": list(self.mins),
            "scales": list(self.scales),
            "levels": int(self.levels),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ScalarQuantizer":
        return cls(
            mins=tuple(float(x) for x in d["mins"]),
            scales=tuple(float(x) for x in d["scales"]),
            levels=int(d["levels"]),
        )

    def save(self, path: str) -> None:
        """Persist the quantizer to a DRIVER-LOCAL file (a dim-length
        JSON — the float64 params round-trip exactly via repr). For
        codes + params on a shared/remote filesystem use
        :func:`write_quantized_codes`, which ships the sidecar through
        Spark's writer."""
        import json
        import os

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.to_dict(), f)

    @classmethod
    def load(cls, path: str) -> "ScalarQuantizer":
        import json

        with open(path) as f:
            return cls.from_dict(json.load(f))

    def encode_py(self, vec) -> list[int]:
        """Driver-side encode of ONE vector (e.g. IVF centroids — a
        nlist-sized constant, never data). Same arithmetic and operation
        order as :meth:`encode_expr` (``(x - min) * scale``, half-up
        round on the non-negative result, clamp to [0, levels-1]), so a
        centroid encoded here scores identically to corpus codes encoded
        executor-side."""
        from decimal import ROUND_HALF_UP, Decimal

        vals = [float(x) for x in vec]
        if len(vals) != len(self.mins):
            raise ValueError(
                f"quantizer fit on {len(self.mins)} dims; "
                f"vector has {len(vals)}"
            )
        hi = int(self.levels - 1)
        out = []
        for x, m, s in zip(vals, self.mins, self.scales):
            v = (x - m) * s
            # Spark's Round is HALF_UP over BigDecimal.valueOf(double),
            # i.e. the SHORTEST decimal representation — which is what
            # Python's repr() produces too. floor(v + 0.5) would differ
            # at boundary doubles (0.49999999999999994 + 0.5 rounds to
            # 1.0 in binary; its decimal form HALF_UPs to 0), so the
            # Decimal path is the bit-faithful replica.
            code = int(
                Decimal(repr(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
            )
            out.append(min(max(code, 0), hi))
        return out

    def decode_py(self, codes) -> list[float]:
        """Driver-side decode of ONE code vector to its cell center:
        ``min_d + code / scale_d`` (constant dimensions decode to
        ``min_d``) — the scalar twin of :meth:`decode_expr`. Decoded
        centers RE-ENCODE to the same codes on every VARYING dimension
        (``(c/s)*s`` is within one ulp of ``c`` and half-up rounding
        recovers it; a 0-scale constant dim re-encodes to 0 — the code
        carried no information there), which is what lets a caller hand
        :func:`AQEngine.build_ivf_codes` coarse centroids in CODE space
        via their float cell centers."""
        if len(codes) != len(self.mins):
            raise ValueError(
                f"quantizer fit on {len(self.mins)} dims; "
                f"codes have {len(codes)}"
            )
        return [
            float(m) + (float(int(c)) / s if s > 0.0 else 0.0)
            for c, m, s in zip(codes, self.mins, self.scales)
        ]

    def decode_expr(self, codes_col: str | Column) -> Column:
        """Reconstructed float64 vector (cell centers): min_d + code/scale
        (constant dimensions decode to min_d)."""
        c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
        mins = F.array(*[F.lit(float(m)) for m in self.mins])
        scales = F.array(*[F.lit(float(s)) for s in self.scales])
        scaled = F.zip_with(
            c.cast("array<double>"), scales,
            lambda x, s: F.when(s > 0.0, x / s).otherwise(F.lit(0.0)),
        )
        return F.zip_with(scaled, mins, lambda x, m: x + m)


def write_quantized_codes(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the corpus code table — the 'encode once, probe many'
    operational model the kNN paths assume at scale. Writes
    ``(id_col, codes)`` Parquet under ``path`` plus the quantizer params
    under ``<path>/_quantizer/`` so a later session reloads BOTH halves
    consistently (codes from one fit scored against another fit's params
    would be silently wrong). The sidecar goes through Spark's text
    writer, so it lands on the SAME filesystem as the codes (S3/HDFS
    paths included — a driver-local ``open()`` would silently write a
    local file beside remote codes); the underscore prefix keeps both
    out of the Parquet reader's file listing. Returns the reloaded codes
    frame.

    It OVERWRITES ``path``; the engine's builders write each version
    into a fresh directory instead (versions.py)."""
    import json

    spark = df.sparkSession
    (
        df.select(F.col(id_col), quantizer.encode_expr(vec_col).alias("codes"))
        .write.mode("overwrite")
        .parquet(path)
    )
    (
        spark.createDataFrame(
            [(json.dumps(quantizer.to_dict()),)], ["value"]
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path.rstrip("/") + "/_quantizer")
    )
    return spark.read.parquet(path)


def read_quantized_codes(
    spark, path: str
) -> tuple[DataFrame, ScalarQuantizer]:
    """The read half of :func:`write_quantized_codes`: the codes frame
    and the quantizer that produced it, as one consistent pair."""
    import json

    payload = spark.read.text(path.rstrip("/") + "/_quantizer").collect()
    (row,) = [r for r in payload if r.value.strip()]
    return (
        spark.read.parquet(path),
        ScalarQuantizer.from_dict(json.loads(row.value)),
    )


def clamp_stats(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    vec_col: str = "embedding",
) -> DataFrame:
    """Drift diagnostic for a persisted quantizer: per-dimension count
    and fraction of values falling OUTSIDE the fitted [min, max] (the
    values encode clamps to the range edges). A sample-fitted quantizer
    clamps a little by design; a rising fraction on appended data means
    the distribution moved and the codes are losing resolution — the
    signal to re-fit and re-encode. One posexplode + groupBy(dim) pass,
    same bounded-shuffle shape as fit. Returns
    (d, n, clamped, clamp_fraction) per dimension."""
    mins = F.array(*[F.lit(float(m)) for m in quantizer.mins])
    scales = F.array(*[F.lit(float(s)) for s in quantizer.scales])
    span = float(quantizer.levels - 1)
    # a value clamps when (x - min) * scale rounds outside [0, span] —
    # test the SAME arithmetic encode uses, not a plain range check, so
    # boundary rounding agrees with the actual codes
    out_flag = F.zip_with(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), mins, lambda x, m: x - m
        ),
        scales,
        lambda d, s: (
            (F.round(d * s) < 0.0) | (F.round(d * s) > F.lit(span))
        ).cast("int"),
    )
    return (
        df.select(F.posexplode(out_flag).alias("d", "clamped"))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("clamped").alias("clamped"),
        )
        .withColumn(
            "clamp_fraction",
            F.col("clamped") / F.col("n").cast("double"),
        )
        .orderBy("d")
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int-code arrays. Each factor is
    widened to int64 BEFORE the multiply: int32 products overflow past
    levels ~46341 (65535^2 > 2^31), which would silently wrap ranks."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _int_norm(a: Column) -> Column:
    """sqrt of the exact integer sum of squares, as float64."""
    return F.sqrt(_int_dot(a, a).cast("double"))


def quantized_cosine_expr(a: Column, b: Column) -> Column:
    """Cosine over integer code arrays: exact int64 dot, then
    ``(dot / norm_a) / norm_b`` in float64 (pinned division order; the
    oracle replays the same). Zero-norm codes define cosine 0.0."""
    na, nb = _int_norm(a), _int_norm(b)
    return F.when(
        (na > 0.0) & (nb > 0.0),
        (_int_dot(a, b).cast("double") / na) / nb,
    ).otherwise(F.lit(0.0))


def knn_join_quantized(
    left: DataFrame,
    right: DataFrame,
    quantizer: ScalarQuantizer,
    k: int = 5,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    right_encoded: DataFrame | None = None,
) -> DataFrame:
    """Brute-phase kNN over quantized codes: for every left row, the
    top-k rows of ``right`` by cosine over int codes →
    (query_id, neighbor_id, qcosine, rank). Same join shape as
    functions/similarity.knn_join's brute path (broadcast right, streamed
    left) but the broadcast ships 4x-smaller code arrays and each pair
    costs one integer dot — the broad phase of a quantize → shortlist →
    exact-rerank pipeline. Ties break by neighbor id.

    Pass ``right_encoded`` — a (right_id, codes) frame from
    ``quantizer.encode`` — to skip re-encoding the corpus: the
    operational model at scale is codes materialized once beside the
    vectors (like knn_join's ``assigned`` IVF table) and only the query
    batch encoded at lookup time.

    CONTRACT (ADVICE r14): ``left`` is a QUERY BATCH — it is
    force-broadcast (unconditionally, no size guard), so it must fit the
    broadcast budget (≲ a few hundred MB / far under 512M rows). For a
    corpus-sized left (self-join dedup), do not use this brute phase —
    that shape belongs to :func:`knn_join_ivf_quantized` with
    ``broadcast_probes=False``, which never broadcasts either big side."""
    from pyspark.sql import Window

    lhs = left.select(
        F.col(left_id).alias("query_id"),
        quantizer.encode_expr(vec_col).alias("__qc"),
    ).withColumn("__qn", _int_norm(F.col("__qc")))
    if right_encoded is not None:
        rhs = right_encoded.select(
            F.col(right_id).alias("neighbor_id"),
            F.col("codes").alias("__nc"),
        )
    else:
        rhs = right.select(
            F.col(right_id).alias("neighbor_id"),
            quantizer.encode_expr(vec_col).alias("__nc"),
        )
    from approximate_query_engine_spark.functions.similarity import (
        spread_small_scan,
    )

    rhs = spread_small_scan(rhs.withColumn("__nn", _int_norm(F.col("__nc"))))
    # Round-14 (guide §3.1): broadcast the query batch, stream the corpus
    # codes — same flip as similarity.knn_join's brute arm (the corpus
    # side was both the broadcast-budget cap and a one-task dot pass).
    # Values identical: same pairs, same pinned integer-dot arithmetic.
    cand = F.broadcast(lhs).crossJoin(rhs)
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__qcos"), F.col("neighbor_id")
    )
    # per-side norms were hoisted BEFORE the pair join (once per row,
    # like knn_join) so each candidate pair costs exactly one integer
    # dot pass — value identical to quantized_cosine_expr (same
    # operations, same division order)
    qcos = F.when(
        (F.col("__qn") > 0.0) & (F.col("__nn") > 0.0),
        (_int_dot(F.col("__qc"), F.col("__nc")).cast("double")
         / F.col("__qn")) / F.col("__nn"),
    ).otherwise(F.lit(0.0))
    return (
        cand.withColumn("__qcos", qcos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(
            "query_id",
            "neighbor_id",
            F.col("__qcos").alias("qcosine"),
            "rank",
        )
    )


def knn_join_reranked(
    left: DataFrame,
    right: DataFrame,
    quantizer: ScalarQuantizer,
    k: int = 5,
    shortlist_factor: int = 4,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    right_encoded: DataFrame | None = None,
    broadcast_shortlist: bool = True,
) -> DataFrame:
    """Quantized broad phase + exact rerank, EXHAUSTIVE variant: the
    shortlist scores int codes against the WHOLE corpus (broadcast — the
    corpus codes must fit the broadcast budget), then an exact float
    cosine RERANK over only the shortlisted pairs picks the final top-k
    → (query_id, neighbor_id, cosine, rank). With a sufficient shortlist
    the output EQUALS the exact brute result (same rerank fold order as
    functions/similarity.knn_join), which makes this the RECALL BASELINE
    for the production path, not the production path itself: at 100 TB
    use :func:`knn_join_ivf_quantized`, whose broad phase scores only
    the ``nprobe`` probed IVF buckets and never broadcasts the corpus
    (VERDICT r11 #1 — this function's all-pairs broadcast was the one
    remaining cartesian at scale)."""
    shortlist = knn_join_quantized(
        left,
        right,
        quantizer,
        k=int(k) * int(shortlist_factor),
        left_id=left_id,
        right_id=right_id,
        vec_col=vec_col,
        exclude_self=exclude_self,
        right_encoded=right_encoded,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(
        shortlist,
        left,
        right,
        int(k),
        left_id,
        right_id,
        vec_col,
        broadcast_shortlist=broadcast_shortlist,
    )


def _exact_rerank(
    shortlist: DataFrame,
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    vec_col: str,
    extra_cols: tuple[str, ...] = (),
    broadcast_shortlist: bool = True,
    qv_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact float-cosine rerank over an already-shortlisted
    (query_id, neighbor_id) pair set: two id-equi joins pull the float
    vectors for ONLY the shortlisted pairs (never an all-pairs float
    pass), per-side norms hoisted so each pair costs one dot. The cosine
    is IEEE-identical to functions/similarity.knn_join's (same
    dot_expr/sumsq_expr fold order), so with a sufficient shortlist the
    top-k EQUALS the exact brute result. ``extra_cols`` are shortlist
    columns carried through to the output (e.g. a candidate count).

    The corpus-vector join BROADCASTS the shortlist side (|Q| x k x
    factor pairs + their query vectors — bounded) so the corpus streams:
    without the hint Catalyst can sort-merge-join, shuffling every
    corpus float vector for a join against a few thousand pairs.
    ``broadcast_shortlist=False`` drops the hint for corpus-vs-corpus
    self-join shapes where |Q| is the corpus and the pair set can
    exceed the broadcast budget — a shuffle join keyed on neighbor_id
    is the right plan there."""
    from pyspark.sql import Window

    from approximate_query_engine_spark.functions.dedup import (
        dot_expr,
        sumsq_expr,
    )

    # ``qv_frame`` (round 15): a caller that already materialized the
    # (query_id, __qv) batch (knn_join_ivf_quantized's checkpoint) hands
    # it in so the rerank doesn't re-scan ``left``
    qv = (
        qv_frame
        if qv_frame is not None
        else left.select(
            F.col(left_id).alias("query_id"), F.col(vec_col).alias("__qv")
        )
    ).withColumn("__qn", F.sqrt(sumsq_expr(F.col("__qv"))))
    nv = right.select(
        F.col(right_id).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    ).withColumn("__nn", F.sqrt(sumsq_expr(F.col("__nv"))))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    pairs = shortlist.join(qv, "query_id")
    if broadcast_shortlist:
        pairs = F.broadcast(pairs)
    return (
        nv.join(pairs, "neighbor_id")
        .withColumn(
            "cosine",
            F.when(
                (F.col("__qn") > 0.0) & (F.col("__nn") > 0.0),
                dot_expr(F.col("__qv"), F.col("__nv"))
                / (F.col("__qn") * F.col("__nn")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank", *extra_cols)
    )


# ---------------------------------------------------------------------------
# IVF x SQ8 composition (round 12, VERDICT r11 #1): int8 codes stored in
# the IVF assigned table, integer-dot shortlist ONLY inside the nprobe
# probed buckets, exact-float rerank. This retires the corpus-broadcast
# all-pairs broad phase as the production path: the pair count drops from
# |Q| x |corpus| to |Q| x (corpus x nprobe / nlist), the corpus never
# broadcasts (it streams, pruned to probed buckets), and at 100 TB the
# assigned-codes table is Parquet written partitionBy('centroid_id') so
# probes prune at the file listing. Coarse geometry lives in CODE SPACE
# (cosine over int codes — the same metric the broad phase ranks by), so
# assignment, probe ranking and shortlist are all exact integer dots +
# two pinned float64 divisions, replayable bit-for-bit by a SQL oracle.


def centroid_codes_from_index(index, quantizer: ScalarQuantizer) -> list[list[int]]:
    """Encode a trained ``similarity.IVFIndex``'s float centroids with
    the SAME quantizer as the corpus — the production bridge from
    k-means coarse training to the fully-quantized probe path. A
    nlist-sized driver constant."""
    return [quantizer.encode_py(c) for c in index.centroids]


def _centroid_cosine_exprs(codes: Column, centroid_codes) -> list[Column]:
    """One code-space-cosine expression per centroid, indexed by
    centroid id. Exact int64 dots; the two divisions are float64 in the
    pinned ``(dot / na) / nb`` order (na computed once per row).
    Zero-norm on either side defines 0.0."""
    na = _int_norm(codes)
    per_cent = []
    for cc in centroid_codes:
        lit = F.array(*[F.lit(int(x)).cast("int") for x in cc])
        nb = _int_norm(lit)
        per_cent.append(
            F.when(
                (na > 0.0) & (nb > 0.0),
                (_int_dot(codes, lit).cast("double") / na) / nb,
            ).otherwise(F.lit(0.0))
        )
    return per_cent


def _centroid_cosine_list(codes: Column, centroid_codes) -> Column:
    """array<double> of :func:`_centroid_cosine_exprs`."""
    return F.array(*_centroid_cosine_exprs(codes, centroid_codes))


def ivf_assign_quantized(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literal_cells: int = 4096,
) -> DataFrame:
    """The materialized corpus half of quantized IVF:
    ``(id_col, codes, centroid_id)`` where ``centroid_id`` = argmax
    code-space cosine over the centroid codes (ties -> lowest id). One
    scan, zero shuffle — at 100 TB write the result
    ``partitionBy('centroid_id')`` (the operational model of
    similarity.IVFIndex.assign, similarity.py:189) so probed lookups
    prune at the file listing and never touch the other
    ``nlist - nprobe`` buckets.

    Two value-identical execution paths, switched on plan size: up to
    ``max_literal_cells`` total centroid-code cells (nlist x dim), the
    argmax is a codegen'd transform over a literal centroid array
    (first-match ties via array_position — lowest centroid id). A
    realistic inverted file (nlist 256-4096, dim 768) would explode
    that plan into hundreds of thousands of literal expressions, so
    larger indexes switch to an Arrow-batched ``mapInPandas`` kernel:
    one int64 numpy matmul per batch against the (nlist x dim) centroid
    matrix — exact integer dots, the same pinned float64
    ``(dot / na) / nb`` divisions elementwise, ``argmax`` first-max tie
    break (lowest cid). Equality of the two paths is test-pinned."""
    codes = quantizer.encode_expr(vec_col)
    out = df.select(F.col(id_col), codes.alias("codes"))
    nlist = len(centroid_codes)
    dim = len(quantizer.mins)
    if nlist * dim <= int(max_literal_cells):
        sims = _centroid_cosine_list(F.col("codes"), centroid_codes)
        best = F.array_position(sims, F.array_max(sims)) - 1
        return out.withColumn("centroid_id", best.cast("int"))

    import numpy as np

    cents = np.asarray(
        [[int(x) for x in cc] for cc in centroid_codes], dtype=np.int64
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    cnorms = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
    # a FRESH StructType: StructType.add mutates in place, which would
    # corrupt the input frame's cached schema object
    schema = StructType(
        list(out.schema.fields)
        + [StructField("centroid_id", IntegerType())]
    )

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(centroid_id=pd.Series([], dtype="int32"))
                continue
            m = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            dots = m @ cents.T  # exact: int64 products, max ~dim*255^2
            rn = np.sqrt((m * m).sum(axis=1).astype(np.float64))
            # the SAME guarded pinned arithmetic as the literal path:
            # (dot / na) / nb, zero-norm on either side defines 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64)
                       / rn[:, None]) / cnorms[None, :]
            cos[rn == 0.0, :] = 0.0
            cos[:, cnorms == 0.0] = 0.0
            pdf = pdf.assign(
                centroid_id=cos.argmax(axis=1).astype("int32")
            )
            yield pdf

    return out.mapInPandas(_assign, schema=schema)


def ivf_multi_assign_quantized(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literal_cells: int = 4096,
) -> DataFrame:
    """MULTI-PROBE coarse assignment (round 14, VERDICT r13 #6's
    optional knob): ``(id_col, codes, centroid_id, assign_rank)`` with
    one row per vector per its top-``probes`` centroids by code-space
    cosine (rank 1 = the argmax :func:`ivf_assign_quantized` stores;
    ties by lowest centroid id at every rank, test-pinned equal at
    rank 1). The SemDedup failure mode this bounds: two near-identical
    vectors exactly at a Voronoi boundary can argmax into DIFFERENT
    buckets and the single-assignment pair generation never compares
    them — membership in the top-2 buckets makes boundary pairs share
    at least one bucket at ~2x the candidate volume (the standard
    multi-probe recall/cost trade).

    Same two value-identical execution paths as
    :func:`ivf_assign_quantized`, switched on the literal-plan bound:
    a sort of the (−cosine, cid) struct array up to
    ``max_literal_cells``, an Arrow-batched numpy kernel (stable
    argsort of −cosine — ties keep ascending cid) past it."""
    p = max(1, min(int(probes), len(centroid_codes)))
    codes = quantizer.encode_expr(vec_col)
    out = df.select(F.col(id_col), codes.alias("codes"))
    nlist = len(centroid_codes)
    dim = len(quantizer.mins)
    if nlist * dim <= int(max_literal_cells):
        exprs = _centroid_cosine_exprs(F.col("codes"), centroid_codes)
        # sort ascending on (−cosine, cid): cosine DESC, ties lowest cid
        structs = F.array(
            *[
                F.struct(
                    (-e).alias("negs"),
                    F.lit(i).cast("int").alias("cid"),
                )
                for i, e in enumerate(exprs)
            ]
        )
        top = F.slice(F.array_sort(structs), 1, p)
        return (
            out.withColumn("__top", top)
            .select(
                F.col(id_col),
                "codes",
                F.posexplode("__top").alias("__pos", "__t"),
            )
            .select(
                F.col(id_col),
                "codes",
                F.col("__t.cid").alias("centroid_id"),
                (F.col("__pos") + 1).alias("assign_rank"),
            )
        )

    import numpy as np

    cents = np.asarray(
        [[int(x) for x in cc] for cc in centroid_codes], dtype=np.int64
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    cnorms = np.sqrt((cents * cents).sum(axis=1).astype(np.float64))
    schema = StructType(
        list(out.schema.fields)
        + [
            StructField("centroid_id", IntegerType()),
            StructField("assign_rank", IntegerType()),
        ]
    )

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(
                    centroid_id=pd.Series([], dtype="int32"),
                    assign_rank=pd.Series([], dtype="int32"),
                )
                continue
            m = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            dots = m @ cents.T
            rn = np.sqrt((m * m).sum(axis=1).astype(np.float64))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64)
                       / rn[:, None]) / cnorms[None, :]
            cos[rn == 0.0, :] = 0.0
            cos[:, cnorms == 0.0] = 0.0
            # stable argsort of −cosine keeps ascending cid on ties —
            # the same (cosine DESC, cid ASC) order as the literal path
            top = np.argsort(-cos, axis=1, kind="stable")[:, :p]
            idx = np.repeat(np.arange(len(pdf)), p)
            yield pdf.iloc[idx].assign(
                centroid_id=top.reshape(-1).astype("int32"),
                assign_rank=np.tile(
                    np.arange(1, p + 1), len(pdf)
                ).astype("int32"),
            )

    return out.mapInPandas(_assign, schema=schema)


def write_ivf_quantized_codes(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    float_centroids=None,
) -> DataFrame:
    """Materialize the quantized IVF corpus the way a 100 TB deployment
    stores it: ``(id, codes)`` Parquet written
    ``partitionBy('centroid_id')`` — probing ``nprobe`` buckets then
    reads ONLY those directories (partition pruning at the file
    listing, measured in tests) — with the quantizer params AND the
    centroid codes in a ``_quantizer`` sidecar on the same filesystem,
    so any later session reloads codes, params and coarse geometry as
    one consistent triple (codes scored against a different fit's
    params or probed against different centroids would be silently
    wrong). Returns the reloaded assigned frame."""
    import json

    spark = df.sparkSession
    assigned = ivf_assign_quantized(
        df, quantizer, centroid_codes, id_col=id_col, vec_col=vec_col
    )
    (
        assigned.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    payload = {
        **quantizer.to_dict(),
        "centroid_codes": [[int(x) for x in cc] for cc in centroid_codes],
    }
    if float_centroids is not None:
        # the FLOAT coarse centroids ride along so a later RE-FIT can
        # re-encode the same coarse geometry under the new params
        # (re-deriving codes from codes would compound quantization)
        payload["float_centroids"] = [
            [float(x) for x in c] for c in float_centroids
        ]
    (
        spark.createDataFrame([(json.dumps(payload),)], ["value"])
        .coalesce(1)
        .write.mode("overwrite")
        .text(path.rstrip("/") + "/_quantizer")
    )
    return spark.read.parquet(path)


def read_ivf_quantized_codes(
    spark, path: str, with_float_centroids: bool = False
):
    """The read half of :func:`write_ivf_quantized_codes`:
    ``(assigned_codes, quantizer, centroid_codes)`` as one consistent
    triple — plus the float centroids as a fourth element when
    ``with_float_centroids`` (None if the artifact predates them)."""
    import json

    payload = spark.read.text(path.rstrip("/") + "/_quantizer").collect()
    (row,) = [r for r in payload if r.value.strip()]
    d = json.loads(row.value)
    cents = [[int(x) for x in cc] for cc in d.pop("centroid_codes")]
    floats = d.pop("float_centroids", None)
    out = (
        spark.read.parquet(path),
        ScalarQuantizer.from_dict(d),
        cents,
    )
    return (*out, floats) if with_float_centroids else out


def knn_join_ivf_quantized(
    left: DataFrame,
    right: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    k: int = 5,
    nprobe: int = 4,
    shortlist_factor: int = 4,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    assigned_codes: DataFrame | None = None,
    rerank: bool = True,
    with_candidate_count: bool = False,
    broadcast_probes: bool = True,
) -> DataFrame:
    """The production quantized-ANN pipeline: for every ``left`` row,
    probe the ``nprobe`` nearest coarse centroids (code-space cosine),
    shortlist ``k * shortlist_factor`` candidates by integer dots over
    ONLY the probed buckets' codes, then exact-float rerank the
    shortlist → (query_id, neighbor_id, cosine, rank).

    Scale shape vs :func:`knn_join_reranked` (whose broad phase
    broadcasts the FULL corpus codes and pays |Q| x |corpus| dots): the
    corpus side here is the materialized ``assigned_codes`` table —
    pass the persisted output of :func:`ivf_assign_quantized`, stored
    ``partitionBy('centroid_id')`` — joined on centroid_id, so only
    ~nprobe/nlist of the corpus is ever scored and nothing corpus-sized
    broadcasts or shuffles (the tiny probe side broadcasts, exactly
    similarity.knn_join's IVF join shape at similarity.py:336; pass
    ``broadcast_probes=False`` for corpus-vs-corpus self-join shapes).
    With ``rerank=False`` the quantized shortlist order itself is
    returned (column ``qcosine``), top-k per query.

    ``with_candidate_count`` adds ``cand_cnt`` — the number of scored
    candidate pairs per query (i.e. the probed buckets' population) —
    which a correctness oracle can replay to verify the pruning really
    happened (a full-corpus scan would inflate it to |corpus|).

    Every ranking this computes is deterministic and engine-portable
    (exact int64 dots; float64 divisions in the pinned (dot/na)/nb
    order; ties by id), so the whole pipeline sits under the DuckDB
    value-hash gate (q113)."""
    from pyspark.sql import Window

    if assigned_codes is None:
        assigned_codes = ivf_assign_quantized(
            right, quantizer, centroid_codes, id_col=right_id, vec_col=vec_col
        )
    # Round 15 (guide §1.2, VERDICT r14 #7): the query batch feeds TWO
    # consumers — the probe ranking (codes) and the exact rerank (float
    # vectors) — and lazy evaluation would scan/filter ``left`` once per
    # consumer per rep. One lazy localCheckpoint of the bounded batch
    # (|Q| rows by the knn_join broadcast contract) pays the scan once;
    # nothing survives the call.
    qsrc = left.select(
        F.col(left_id).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    if broadcast_probes:
        # small-batch shapes only: a corpus-sized left (the
        # broadcast_probes=False self-join dedup shape) must not be
        # pinned corpus-wide in executor storage
        qsrc = qsrc.localCheckpoint(eager=False)
    lhs = qsrc.select(
        "query_id",
        quantizer.encode_expr("__qv").alias("__qc"),
    ).withColumn("__qn", _int_norm(F.col("__qc")))
    # probe ranking: broadcast-join the tiny (cid, codes) centroid frame
    # against the query batch and window-rank — |Q| x nlist rows, a
    # bounded shuffle. A nlist x dim LITERAL expression here would cost
    # seconds of analysis/codegen EVERY query batch (the measured
    # hazard similarity.knn_join's centroid_df note documents); the
    # one-time corpus assignment keeps the literal form instead because
    # a window over corpus x nlist rows would shuffle the corpus.
    # Values are identical either way: exact int64 dots, pinned
    # (dot / na) / nb float64 divisions, ties by centroid id.
    nlist = len(centroid_codes)
    cents_df = left.sparkSession.createDataFrame(
        [(i, [int(x) for x in cc]) for i, cc in enumerate(centroid_codes)],
        "centroid_id int, __cc array<int>",
    ).withColumn("__cn", _int_norm(F.col("__cc")))
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("__ccos"), F.col("centroid_id")
    )
    ccos = F.when(
        (F.col("__qn") > 0.0) & (F.col("__cn") > 0.0),
        (_int_dot(F.col("__qc"), F.col("__cc")).cast("double")
         / F.col("__qn")) / F.col("__cn"),
    ).otherwise(F.lit(0.0))
    probed = (
        lhs.crossJoin(F.broadcast(cents_df))
        .withColumn("__ccos", ccos)
        .withColumn("__crk", F.row_number().over(wc))
        .where(F.col("__crk") <= min(int(nprobe), nlist))
        .select("query_id", "__qc", "__qn", "centroid_id")
    )
    rhs = assigned_codes.select(
        F.col(right_id).alias("neighbor_id"),
        F.col("codes").alias("__nc"),
        "centroid_id",
    ).withColumn("__nn", _int_norm(F.col("__nc")))
    if broadcast_probes:
        # spread a single-split small codes table so the probed-bucket
        # scoring stage uses the whole session (round 14, guide §2.6);
        # gated no-op at scale where the partitioned table has many
        # splits (and partition pruning stays at the scan)
        from approximate_query_engine_spark.functions.similarity import (
            spread_small_scan,
        )

        rhs = spread_small_scan(rhs)
    cand = rhs.join(
        F.broadcast(probed) if broadcast_probes else probed, "centroid_id"
    )
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("neighbor_id"))
    qcos = F.when(
        (F.col("__qn") > 0.0) & (F.col("__nn") > 0.0),
        (_int_dot(F.col("__qc"), F.col("__nc")).cast("double")
         / F.col("__qn")) / F.col("__nn"),
    ).otherwise(F.lit(0.0))
    scored = cand.select("query_id", "neighbor_id", qcos.alias("qcosine"))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("qcosine"), F.col("neighbor_id")
    )
    extra: tuple[str, ...] = ()
    if with_candidate_count:
        # candidate population per query = probed buckets' rows (the
        # pruning proof); counted over the window BEFORE the cut
        scored = scored.withColumn(
            "cand_cnt", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
        )
        extra = ("cand_cnt",)
    cut = int(k) * int(shortlist_factor) if rerank else int(k)
    shortlist = (
        scored.withColumn("__rk", F.row_number().over(wq))
        .where(F.col("__rk") <= cut)
        .drop("__rk")
    )
    if not rerank:
        return shortlist.withColumn(
            "rank", F.row_number().over(wq)
        ).select("query_id", "neighbor_id", "qcosine", "rank", *extra)
    return _exact_rerank(
        shortlist.select("query_id", "neighbor_id", *extra),
        left,
        right,
        int(k),
        left_id,
        right_id,
        vec_col,
        extra_cols=extra,
        # the same huge-query-batch condition that governs the probe
        # side governs the rerank's shortlist broadcast
        broadcast_shortlist=broadcast_probes,
        qv_frame=qsrc,
    )


def ivf_semantic_dup_pairs(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned_codes: DataFrame | None = None,
    with_candidate_count: bool = False,
    assign_probes: int = 1,
) -> DataFrame:
    """SemDedup-style semantic near-duplicate PAIRS over an embedding
    column (Abbas et al. 2023, public — 'SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication'): bucket the
    corpus by coarse centroid (the same inverted file the ANN path
    probes), generate candidate pairs ONLY within buckets, and keep
    pairs whose EXACT float cosine clears ``threshold``. Returns
    ``(id_a, id_b, cosine)`` with ``id_a < id_b`` (+ ``cand_cnt`` — the
    pair's bucket candidate-pair count — under ``with_candidate_count``,
    so an oracle can prove the bucketing really pruned: an all-pairs
    scan would inflate it to |corpus| choose 2).

    Why this scales where all-pairs cannot: candidate pairs cost
    Σ_buckets B·(B−1)/2, not N²/2 — at 100 TB size ``nlist`` so the
    expected bucket holds ~√(pair_budget) rows (SemDedup uses ~100k
    clusters for web corpora), and the pair join is an equi-join on
    centroid_id over the PERSISTED partitioned assigned table, so each
    bucket's pairs materialize partition-local, nothing corpus-sized
    broadcasts. Cross-bucket near-dups are missed by construction —
    the SemDedup trade: recall against the brute-force pair set is
    pinned in tests, and near-identical vectors (cosine → 1) land in
    the same cosine-assigned bucket except exactly at a Voronoi
    boundary. The dedup DECISION is exact float cosine over the base
    vectors (codes only bucket; no quantization error in the verdict),
    computed as ``dot / (norm_a * norm_b)`` (dedup.cosine_expr's pinned
    form) so a SQL oracle replays it bit-for-bit.

    ``assign_probes > 1`` (round 14) bounds the Voronoi-boundary miss:
    candidates pair within ANY shared top-P bucket (a fresh multi-probe
    assignment — one corpus scan; the persisted top-1 table cannot
    express multi-membership), duplicate bucket co-occurrences
    dedupe, candidate volume grows ~P×. Incompatible with
    ``with_candidate_count`` (a pair sharing two buckets has no single
    owning bucket to attribute the count to)."""
    from approximate_query_engine_spark.functions.dedup import cosine_expr

    if int(assign_probes) > 1:
        if with_candidate_count:
            raise ValueError(
                "assign_probes > 1 has no per-bucket candidate-count "
                "attribution — a pair can co-occur in several buckets"
            )
        multi = ivf_multi_assign_quantized(
            df,
            quantizer,
            centroid_codes,
            probes=int(assign_probes),
            id_col=id_col,
            vec_col=vec_col,
        )
        a = multi.select(F.col(id_col).alias("id_a"), "centroid_id")
        b = multi.select(F.col(id_col).alias("id_b"), "centroid_id")
        cand = (
            a.join(b, "centroid_id")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .withColumn("centroid_id", F.lit(None).cast("int"))
        )
    else:
        if assigned_codes is None:
            assigned_codes = ivf_assign_quantized(
                df, quantizer, centroid_codes, id_col=id_col, vec_col=vec_col
            )
        a = assigned_codes.select(
            F.col(id_col).alias("id_a"), "centroid_id"
        )
        b = assigned_codes.select(
            F.col(id_col).alias("id_b"), "centroid_id"
        )
        cand = a.join(b, "centroid_id").where(F.col("id_a") < F.col("id_b"))
    if with_candidate_count:
        per_bucket = cand.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("cand_cnt")
        )
        cand = cand.join(per_bucket, "centroid_id")
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_expr("__va", "__vb"))
        .where(F.col("cosine") >= float(threshold))
    )
    cols = ["id_a", "id_b", "cosine"] + (
        ["cand_cnt"] if with_candidate_count else []
    )
    return out.select(*cols)


def ivf_semantic_dedup(
    df: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned_codes: DataFrame | None = None,
    assign_probes: int = 1,
) -> DataFrame:
    """The marking form of :func:`ivf_semantic_dup_pairs`: every input
    row back with ``is_semantic_duplicate`` — True when the row has ANY
    above-threshold partner with a SMALLER id (keep-earliest, the same
    deterministic keep rule as the exact/minhash dedup family). No row
    ever vanishes; filter on the flag to drop duplicates."""
    pairs = ivf_semantic_dup_pairs(
        df,
        quantizer,
        centroid_codes,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        assigned_codes=assigned_codes,
        assign_probes=assign_probes,
    )
    dups = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        df.join(dups, id_col, "left")
        .withColumn(
            "is_semantic_duplicate",
            F.coalesce(F.col("__dup"), F.lit(False)),
        )
        .drop("__dup")
    )


def incremental_semantic_dup_pairs(
    batch: DataFrame,
    existing_assigned: DataFrame,
    existing_vectors: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_candidate_count: bool = False,
    assign_probes: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """The incremental form of :func:`ivf_semantic_dup_pairs` (round 14,
    VERDICT r13 #1 — the new-batch-vs-persisted-state path every sibling
    dedup family already has): assign ONLY the new batch into the
    REGISTERED index's coarse buckets (the persisted quantizer +
    centroid codes — never a re-fit, so the bucketing matches the
    corpus's exactly), generate candidate pairs ONLY within buckets and
    ONLY where at least one side is new (new × same-bucket existing,
    plus new × new), and keep pairs whose EXACT float cosine clears
    ``threshold``. Returns ``(pairs, batch_assigned)``:

    - ``pairs``: (id_a, id_b, cosine) with id_a < id_b — by
      construction EXACTLY the full-corpus
      :func:`ivf_semantic_dup_pairs` output over (existing ∪ batch)
      restricted to pairs touching a batch id (q120 pins the invariant
      against a DuckDB full replay). ``cand_cnt`` (per-bucket count of
      the RESTRICTED candidate pairs) rides along under
      ``with_candidate_count`` so an oracle can prove the pruning:
      B_new·B_old + C(B_new, 2) per bucket, never the corpus's Σ B²/2.
    - ``batch_assigned``: (id_col, codes, centroid_id) for the batch —
      what the engine appends partition-wise into the persisted
      assigned table (the maintenance encode_append shape).

    Why this scales where re-pairing cannot: a daily batch of size b
    against an N-row corpus costs ~b·N/nlist candidate pairs (the
    batch's buckets only) instead of re-materializing Σ B²/2 over the
    whole corpus; the existing side never re-encodes (the persisted
    codes ARE the bucketing) and only bucket-matching corpus rows join.
    ``existing_vectors`` supplies the float vectors for the exact
    verdict — it is semi-joined to the EXISTING assigned ids, so a base
    table that already contains the batch (either feed order) never
    fans the cosine join out.

    ``assign_probes > 1`` widens the BATCH side's candidate buckets to
    its top-P centroids (the persisted corpus stays top-1 — its
    multi-membership is not recorded), bounding the Voronoi-boundary
    miss for new-vs-existing pairs at ~P× batch candidate volume; the
    appended codes (``batch_assigned``) always carry the rank-1 bucket,
    the same layout the full index stores. Incompatible with
    ``with_candidate_count`` (a multi-probed pair has no single owning
    bucket). With probes > 1 the returned pair set is a SUPERSET of the
    top-1 restriction invariant, so q120 pins the default form only."""
    from approximate_query_engine_spark.functions.dedup import cosine_expr

    if int(assign_probes) > 1 and with_candidate_count:
        raise ValueError(
            "assign_probes > 1 has no per-bucket candidate-count "
            "attribution — a pair can co-occur in several buckets"
        )
    # the Arrow kernel unconditionally (max_literal_cells=0): the
    # literal centroid-expression plan costs seconds of analysis and
    # codegen PER CALL (measured ~6-8 s at nlist=32 x dim=64 vs ~0.35 s
    # for the kernel) — amortizable for a one-time corpus
    # materialization, dominant for a per-batch incremental path. The
    # two paths are value-identical (test-pinned), so the q120 oracle
    # is unaffected. The lazy checkpoint evaluates the assignment once
    # for its consumers (cross pairs, self pairs, the append).
    multi = ivf_multi_assign_quantized(
        batch,
        quantizer,
        centroid_codes,
        probes=max(1, int(assign_probes)),
        id_col=id_col,
        vec_col=vec_col,
        max_literal_cells=0,
    ).localCheckpoint(eager=False)
    # the appendable codes are always the rank-1 (argmax) assignment —
    # the persisted table's layout; extra probe rows exist only for
    # candidate generation
    batch_assigned = multi.where(F.col("assign_rank") == 1).drop(
        "assign_rank"
    )
    new_ids = multi.select(F.col(id_col).alias("__nid"), "centroid_id")
    old_ids = existing_assigned.select(
        F.col(id_col).alias("__oid"), "centroid_id"
    )
    # new × existing within the bucket, canonicalized id_a < id_b so the
    # output is literally a subset of the full-corpus pair set. The
    # batch side broadcasts explicitly: the corpus-sized assigned table
    # must stream (a sort-merge here would shuffle the whole code table
    # for a batch-sized probe set)
    cross = (
        old_ids.join(F.broadcast(new_ids), "centroid_id")
        .select(
            "centroid_id",
            F.least(F.col("__nid"), F.col("__oid")).alias("id_a"),
            F.greatest(F.col("__nid"), F.col("__oid")).alias("id_b"),
        )
    )
    self_pairs = (
        new_ids.join(
            new_ids.select(
                F.col("__nid").alias("__nid2"), "centroid_id"
            ),
            "centroid_id",
        )
        .where(F.col("__nid") < F.col("__nid2"))
        .select(
            "centroid_id",
            F.col("__nid").alias("id_a"),
            F.col("__nid2").alias("id_b"),
        )
    )
    cand = cross.unionByName(self_pairs)
    if int(assign_probes) > 1:
        # two multi-probed batch rows can share SEVERAL buckets; the
        # pair set dedupes (probes=1 stays distinct-free — one bucket
        # per side means no pair can repeat, and the cand_cnt
        # attribution keeps its exact per-bucket meaning)
        cand = cand.dropDuplicates(["id_a", "id_b"])
    if with_candidate_count:
        per_bucket = cand.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("cand_cnt")
        )
        cand = cand.join(per_bucket, "centroid_id")
    # float vectors for the exact verdict: existing ids come from the
    # corpus table RESTRICTED to the persisted assigned set (so a base
    # that already absorbed the batch contributes each id once), new
    # ids from the batch itself
    vecs = (
        existing_vectors.select(F.col(id_col), F.col(vec_col))
        .join(
            existing_assigned.select(F.col(id_col)), id_col, "left_semi"
        )
        .unionByName(batch.select(F.col(id_col), F.col(vec_col)))
    )
    va = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_expr("__va", "__vb"))
        .where(F.col("cosine") >= float(threshold))
    )
    cols = ["id_a", "id_b", "cosine"] + (
        ["cand_cnt"] if with_candidate_count else []
    )
    return out.select(*cols), batch_assigned


def incremental_semantic_dedup(
    batch: DataFrame,
    existing_assigned: DataFrame,
    existing_vectors: DataFrame,
    quantizer: ScalarQuantizer,
    centroid_codes,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_probes: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """The marking form of :func:`incremental_semantic_dup_pairs`:
    every BATCH row back with ``is_semantic_duplicate`` — True when the
    row has an above-threshold partner in the existing corpus (ANY id —
    the corpus is already persisted and always wins, the incremental
    dedup family's contract) or among SMALLER-id batch rows (the
    keep-earliest rule within the batch). No row ever vanishes; filter
    on the flag to drop duplicates. Returns
    ``(marked_batch, batch_assigned)``."""
    pairs, batch_assigned = incremental_semantic_dup_pairs(
        batch,
        existing_assigned,
        existing_vectors,
        quantizer,
        centroid_codes,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        assign_probes=assign_probes,
    )
    new_ids = batch.select(F.col(id_col))
    # a batch id is the LOSER of a pair when the partner is an existing
    # id (either slot — the corpus wins regardless of id order) or a
    # smaller BATCH id (then the loser sits in the id_b slot)
    a_new = pairs.join(
        new_ids.withColumnRenamed(id_col, "id_a"), "id_a", "left_semi"
    )
    b_new = pairs.join(
        new_ids.withColumnRenamed(id_col, "id_b"), "id_b", "left_semi"
    )
    losers = (
        # id_b is a batch id: loses to id_a (existing or earlier batch)
        b_new.select(F.col("id_b").alias(id_col))
        # id_a is a batch id whose partner id_b is EXISTING (not new)
        .unionByName(
            a_new.join(
                new_ids.withColumnRenamed(id_col, "id_b"),
                "id_b",
                "left_anti",
            ).select(F.col("id_a").alias(id_col))
        )
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    marked = (
        batch.join(losers, id_col, "left")
        .withColumn(
            "is_semantic_duplicate",
            F.coalesce(F.col("__dup"), F.lit(False)),
        )
        .drop("__dup")
    )
    return marked, batch_assigned


def _skew_summary(counts: list[int], nlist: int | None) -> dict:
    """The shared skew arithmetic of both probe forms: max/MEAN over
    ALL ``nlist`` buckets (see :func:`ivf_bucket_skew` for why the mean
    over all trained buckets, not a populated-only median)."""
    counts = sorted(int(c) for c in counts)
    total_buckets = int(nlist) if nlist else len(counts)
    if not counts or total_buckets <= 0:
        return {
            "buckets": total_buckets,
            "populated": 0,
            "max": 0,
            "mean": 0.0,
            "ratio": 1.0,
        }
    mean = sum(counts) / float(total_buckets)
    return {
        "buckets": total_buckets,
        "populated": len(counts),
        "max": counts[-1],
        "mean": round(mean, 2),
        "ratio": float(counts[-1]) / mean if mean else 1.0,
    }


def ivf_bucket_skew_from_footers(
    spark, path: str, nlist: int | None = None
) -> dict:
    """The METADATA-ONLY form of :func:`ivf_bucket_skew` (round 14,
    VERDICT r13 #6): per-bucket populations read from the partitioned
    code table's PARQUET FOOTERS — one Hadoop-FS listing of the
    ``centroid_id=…`` directories plus one footer read per part file
    (ParquetFileReader.getRecordCount sums the row-group counts without
    touching a data page), all driver-side, NO Spark job. At 100 TB the
    probe cost is the file listing itself; the scan form — whose
    groupBy on the partition column already projects zero data columns
    (ReadSchema struct<>) — still schedules a task per file split every
    sweep, which this retires. Value-identical to the scan form
    (test-pinned): parquet footers are the authoritative row counts the
    scan itself would serve. Raises on a path with no bucket
    directories — callers fall back to the scan form."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    counts: list[int] = []
    found = False
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith("centroid_id="):
            continue
        found = True
        rows = 0
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if f.isDirectory() or fname.startswith(("_", ".")):
                continue
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    f.getPath(), conf
                )
            )
            try:
                rows += int(reader.getRecordCount())
            finally:
                reader.close()
        counts.append(rows)
    if not found:
        raise ValueError(
            f"no centroid_id=… bucket directories under {path!r} — "
            "not a partitioned IVF code table"
        )
    return _skew_summary([c for c in counts if c > 0], nlist)


def ivf_bucket_skew(assigned: DataFrame, nlist: int | None = None) -> dict:
    """Per-bucket population skew of an assigned IVF code table
    (round 13, VERDICT r12 #4 — the probe-cost drift signal): returns
    ``{"buckets", "populated", "max", "mean", "ratio"}`` where
    ``ratio`` = max bucket / MEAN bucket over ALL ``nlist`` buckets
    (``nlist`` defaults to the populated count when not given — pass
    the trained nlist so EMPTY buckets weigh in). One count aggregation
    keyed on the partition column — nlist-bounded, never corpus-sized.

    Why max/mean and not max/median: the mean over all trained buckets
    is exactly the balanced per-bucket population, so the ratio IS the
    probe-cost inflation factor a query probing the fat bucket pays vs
    a balanced file. A median over populated buckets only would report
    the two most extreme regimes as balanced — all rows collapsed into
    one bucket gives counts=[N] → median=N → ratio 1.0, and two buckets
    [small, huge] give a median that RISES with the skew — precisely
    the cases the policy exists to catch (round-13 review finding).

    Why it matters at 100 TB: probes prune at the file listing, so a
    probed query pays the POPULATION of its nprobe buckets. As appends
    drift the corpus away from the trained coarse geometry, one bucket
    silently absorbs most new vectors and every query probing it scans
    an ever-growing fraction of the corpus — a probe-COST creep, never
    a correctness issue (assignment to the nearest trained centroid
    stays sound). The maintenance policy advises a coarse re-train when
    the ratio crosses the entry's ``skew_threshold``.

    This scan form groups on the PARTITION column, so the file scan
    projects zero data columns (ReadSchema struct<>) — no data pages
    are read — but it still schedules a Spark job over the file
    listing. Maintenance prefers :func:`ivf_bucket_skew_from_footers`
    (driver-side footer counts, no job at all) and falls back here."""
    rows = assigned.groupBy("centroid_id").count().collect()
    return _skew_summary([int(r["count"]) for r in rows], nlist)


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate kNN result against the exact
    one: |approx ∩ exact| / |exact| on (query_id, neighbor_id). Both
    inputs are (query_id, neighbor_id, ...) as produced by knn_join /
    knn_join_quantized."""
    # dedupe both projections: a duplicate (query, neighbor) pair on
    # either side would fan the join out and inflate both the hit count
    # and the denominator
    e = exact.select("query_id", "neighbor_id").dropDuplicates()
    a = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    ).dropDuplicates(["query_id", "neighbor_id"])
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
             / F.count(F.lit(1))).alias("recall")
        )
    )
