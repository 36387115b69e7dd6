"""Deduplication operators for web-scale corpora: exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Design for 100 TB:
- **Exact dedup** is one hash-shuffle on the dedup key (group-by with
  map-side partial aggregation). Never a window over the full table.
- **MinHash** signatures are computed scan-side with built-in higher-order
  functions (``transform``/``array_min`` over shingles) — no Python, no
  shuffle. LSH banding turns all-pairs O(n²) into a shuffle keyed on
  (band_id, band_hash) where only same-bucket docs ever meet; candidate
  verification (exact Jaccard on shingle sets) touches candidate pairs
  only. This is the standard shingle→minhash→band→bucket-join pipeline
  (Broder 1997; Leskovec-Rajaraman-Ullman ch.3).
- **SimHash** (Charikar 2002): 64-bit signature via per-bit majority vote
  of token hashes; near-dup detection bands the signature into 4×16-bit
  chunks — Hamming distance ≤3 guarantees at least one identical chunk
  (pigeonhole), so the join is again bucketed, never all-pairs.
- **Embedding near-dup**: random-hyperplane signatures (sign bits of dot
  products with fixed seeded vectors) bucket the vectors; cosine is
  verified within buckets only.

Each returns DataFrames (lazy plans), so they compose with the rest of the
engine and Catalyst prunes/pushes as usual.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from approximate_query_engine_spark.functions.text import bind_expr, normalize_text_expr

# ---------------------------------------------------------------------------
# exact dedup


def exact_duplicate_groups(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """One row per duplicate group: key, n_copies, keep_id (min id)."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (min ``id_col``) per distinct key. Implemented
    as an aggregation + semi-join (two shuffles on small keys) rather than a
    global window, which would sort entire partitions."""
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=key_cols + [id_col], how="left_semi")


def dedup_keep_best(
    df: DataFrame, key_cols: list[str], score_col: Column | str, id_col: str
) -> DataFrame:
    """Keep the highest-``score_col`` row per distinct key (ties -> min
    ``id_col``, so the result is deterministic) — what a training pipeline
    wants from dedup: of N copies, keep the best one, not the first one.

    Same scale shape as :func:`dedup_exact` (aggregation + semi-join, two
    bounded shuffles, no global window). The argmax is a max over
    ``struct(score, -id)`` — lexicographic struct comparison gives
    score-then-min-id without a per-group sort. ``id_col`` must be numeric
    for the negation trick.
    """
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    keep = (
        df.groupBy(*key_cols)
        .agg(F.max(F.struct(score.alias("s"), (-F.col(id_col)).alias("nid"))).alias("m"))
        .select(*key_cols, (-F.col("m.nid")).alias(id_col))
    )
    return df.join(keep, on=key_cols + [id_col], how="left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash


def word_shingles_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text. The token
    array is bound once per row (see text.bind_expr) so the tokenizer does
    not re-run per shingle position."""

    def _sh(toks: Column) -> Column:
        n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )

    return bind_expr(F.split(normalize_text_expr(text_col), r"\s+"), _sh)


def minhash_signature_expr(
    shingles_col: str | Column, num_hashes: int = 64, hash_mode: str = "xxhash64"
) -> Column:
    """MinHash signature: for seed j, min over shingles of
    hash(shingle, j). One array column, computed scan-side.

    ``hash_mode``:
    - ``"xxhash64"`` (default, scale path): JVM xxhash64, signature is
      array<bigint>.
    - ``"md5"`` (portable path): md5 of ``"<j>:<shingle>"`` — an hex string,
      min is lexicographic, signature is array<string>. Exists so the same
      pair set can be reproduced in any engine with an md5 function (the
      DuckDB oracle for the driver's correctness gate); same collision
      structure, ~2x the bytes per signature.
    """
    sh = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col

    # Bind the shingle array ONCE as a lambda variable (1-element
    # transform): when the optimizer inlines the shingle-building
    # expression into this projection, a bare reference inside the per-seed
    # lambda would re-tokenize and re-shingle the document once per seed
    # (64x) — codegen subexpression elimination does not reach across
    # lambda boundaries. Measured 64x CPU on the signature projection.
    def _sig(bound: Column) -> Column:
        if hash_mode == "md5":
            return F.transform(
                F.sequence(F.lit(1), F.lit(num_hashes)),
                lambda j: F.array_min(
                    F.transform(
                        bound,
                        lambda s: F.md5(F.concat(j.cast("string"), F.lit(":"), s)),
                    )
                ),
            )
        return F.transform(
            F.sequence(F.lit(1), F.lit(num_hashes)),
            lambda j: F.array_min(F.transform(bound, lambda s: F.xxhash64(s, j))),
        )

    return F.transform(F.array(sh), _sig)[0]


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    return df.withColumn("shingles", word_shingles_expr(text_col, n)).withColumn(
        "minhash", minhash_signature_expr("shingles", num_hashes, hash_mode)
    )


def jaccard_expr(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    minhash_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id_a, id_b) candidate pairs that share ≥1 LSH band bucket.

    Explodes each signature into ``bands`` (band_id, band_hash) keys and
    self-joins on them — the only shuffle is on the band key, and only
    same-bucket rows meet. Pairs are deduplicated with a_id < b_id.
    """
    banded = _banded(sig_df, id_col, bands, rows_per_band, minhash_col, hash_mode)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by exact
    shingle-set Jaccard ≥ threshold. Returns (id_a, id_b, jaccard)."""
    rows_per_band = num_hashes // bands
    # the signature sub-plan feeds four consumers (both band-join sides and
    # both verify joins); materialize it once instead of recomputing — at
    # warehouse scale this is "write the signature table", here its
    # in-memory analog
    sig = signature_table(
        df, id_col, text_col, n, num_hashes, hash_mode
    ).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        sig, id_col, "minhash", bands, rows_per_band, hash_mode
    )
    # join by COLUMN NAME, never by column objects across a self-join's
    # shared lineage — object equality resolves both sides to the same
    # attribute and silently degenerates to a cartesian product
    sh_a = sig.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", jaccard_expr("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    transitive: bool = False,
    **kw,
) -> DataFrame:
    """Near-dup removal over verified MinHash pairs.

    Default is the greedy rule (drop any doc with a smaller-id near-dup);
    ``transitive=True`` closes duplicate sets via connected components
    (a~b, b~c ⇒ one survivor for {a,b,c} even if a,c never collided) —
    the standard semantics for corpus dedup at scale."""
    pairs = minhash_near_duplicates(df, id_col, text_col, threshold, **kw)
    if transitive:
        from approximate_query_engine_spark.functions.graph import (
            dedup_by_components,
        )

        return dedup_by_components(df, pairs, id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """The persistable dedup state: (id, shingles, minhash) per doc. At
    warehouse scale this is written as a Parquet/Delta table once per
    corpus and new batches join against it (see
    :func:`incremental_minhash_dedup`)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return with_minhash(
        df.repartition(par, id_col), text_col, n, num_hashes, hash_mode
    ).select(id_col, "shingles", "minhash")


def _banded(
    sig_df: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    minhash_col: str = "minhash",
    hash_mode: str = "xxhash64",
):
    """(id, band_id, band_hash) explosion of a signature table — THE band
    scheme; every candidate-generation path must go through this one
    definition so batch and incremental dedup bucket identically.
    In ``md5`` mode the band hash is md5 of the comma-joined band slice
    (portable to any engine with md5); default stays JVM xxhash64."""

    def _band_hash(b):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col(minhash_col), b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )
        return F.md5(joined) if hash_mode == "md5" else F.xxhash64(joined)

    return sig_df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _band_hash)
        ).alias("band_id", "band_hash"),
    )


def band_signature_table(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The persistable BANDED corpus index (id, band_id, band_hash). Write
    this alongside the signature table (partitioned/bucketed by band_hash)
    so incremental batches join against it without re-banding the corpus."""
    return _banded(sig_df, id_col, bands, num_hashes // bands)


def incremental_minhash_dedup(
    new_sig: DataFrame,
    existing_sig: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    existing_banded: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing signature table: candidates
    are (new × existing) band-bucket collisions plus (new × new)
    self-collisions; a new doc is dropped when a verified near-dup exists
    in the corpus or among smaller-id new docs.

    → (kept_new_signatures, updated_signature_table).

    Scaling: pass ``existing_banded`` — the persisted
    :func:`band_signature_table` output, stored bucketed by band_hash — so
    the corpus is never re-banded per batch; the tiny new-batch band-key
    set is broadcast into a semi-join that prunes the corpus index before
    anything shuffles. Without it, this call bands the corpus itself
    (acceptable for small corpora and tests, O(corpus) per batch).
    """
    rows_per_band = num_hashes // bands
    nb = _banded(new_sig, id_col, bands, rows_per_band).localCheckpoint(eager=False)
    if existing_banded is None:
        existing_banded = _banded(existing_sig, id_col, bands, rows_per_band)
    # prune the corpus index to buckets the new batch actually touches;
    # the new batch's key set is small -> broadcast semi-join, so only
    # matching buckets ever shuffle
    new_keys = nb.select("band_id", "band_hash").distinct()
    eb = existing_banded.join(
        F.broadcast(new_keys), ["band_id", "band_hash"], "left_semi"
    )

    cross = (
        nb.alias("l")
        .join(
            eb.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    self_pairs = (
        nb.alias("l")
        .join(
            nb.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") > F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    cand = cross.unionByName(self_pairs).distinct()

    sh_new = new_sig.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_all = (
        existing_sig.select(id_col, "shingles")
        .unionByName(new_sig.select(id_col, "shingles"))
        .select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    )
    losers = (
        cand.join(sh_new, "id_a")
        .join(sh_all, "id_b")
        .withColumn("jaccard", jaccard_expr("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    kept_new = new_sig.join(losers, id_col, "left_anti")
    updated = existing_sig.unionByName(kept_new)
    return kept_new, updated


# ---------------------------------------------------------------------------
# SimHash


def simhash64_expr(text_col: str = "text") -> Column:
    """64-bit SimHash: per-bit majority vote over token xxhash64 values
    (+1 when the bit is set, −1 otherwise); sign → bit. Built-in functions
    only — the per-bit tally is a transform over sequence(0,63). The token
    hash array is bound once per row (see text.bind_expr): the 64 per-bit
    aggregates would otherwise each re-tokenize and re-hash the document."""
    toks = F.filter(
        F.split(normalize_text_expr(text_col), r"\s+"), lambda t: t != F.lit("")
    )

    def _sig(hashes: Column) -> Column:
        # per-bit majority votes; shift amounts must be Python ints, so the
        # 64 bit expressions are built in a driver-side loop (one JVM plan).
        def _vote(k: int):
            # nested helper (not a default arg): pyspark infers lambda arity
            # from the parameter list, so the lambda must stay 2-ary
            return F.aggregate(
                hashes,
                F.lit(0).cast("bigint"),
                lambda acc, h: acc
                + F.when(
                    F.shiftright(h, k).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            )

        sig = F.lit(0).cast("bigint")
        for k in range(64):
            vote = _vote(k)
            # bit k via literal power (two's-complement top bit for k=63)
            power = (1 << k) if k < 63 else -(1 << 63)
            sig = sig + F.when(vote > 0, F.lit(power).cast("bigint")).otherwise(0)
        return sig

    return bind_expr(F.transform(toks, lambda t: F.xxhash64(t)), _sig)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", simhash64_expr(text_col))


#: tokens per vectorized vote slice (~250 MB peak per task); module-level
#: so tests can shrink it to pin multi-slice == single-slice signatures
_SIMHASH_TOK_BUDGET = 1 << 18


def _simhash_vote(flat, tok_budget: int):
    """Per-document 64-bit SimHash majority votes of one Arrow
    ``list<int64>`` batch (:func:`simhash_signatures`' kernel), sliced
    along document boundaries to ``tok_budget`` tokens per slice."""
    import numpy as np

    n = len(flat)
    ks = np.arange(64, dtype=np.uint64)
    # a null list slot's offsets are unspecified by the Arrow spec and may
    # step backwards: clamp them monotonic, or the binary search below (and
    # the slice bounds) would read garbage; null slots are zeroed at the end
    offs = np.maximum.accumulate(
        flat.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    )
    vals = flat.values.to_numpy(zero_copy_only=False).astype(np.uint64)
    sig = np.zeros(n, dtype=np.int64)
    d0 = 0
    while d0 < n:
        # widest doc run within the token budget (≥1 doc so a
        # single over-budget document still processes whole)
        d1 = int(np.searchsorted(offs, offs[d0] + tok_budget, side="right")) - 1
        d1 = min(max(d1, d0 + 1), n)
        seg = vals[offs[d0]: offs[d1]]
        if len(seg):
            # int8 contrib + int32 running sum: |vote sum| ≤ the
            # slice's token count, far inside int32
            bits = (
                (seg[:, None] >> ks[None, :]) & np.uint64(1)
            ).astype(np.int8)
            contrib = 2 * bits - 1
            cs = np.vstack(
                [np.zeros((1, 64), dtype=np.int32),
                 np.cumsum(contrib, axis=0, dtype=np.int32)]
            )
            o = offs[d0: d1 + 1] - offs[d0]
            sums = cs[o[1:]] - cs[o[:-1]]
            sigu = (
                (sums > 0).astype(np.uint64) << ks[None, :]
            ).sum(axis=1, dtype=np.uint64)
            sig[d0:d1] = sigu.view(np.int64)
        d0 = d1
    # a NULL token array (NULL text) votes 0 on every bit in the
    # expression form (each when(NULL > 0, ...).otherwise(0)
    # contributes 0), so the signature is 0, never NULL; forced
    # explicitly because a null list slot's offsets are
    # unspecified by the Arrow spec
    if flat.null_count:
        sig = np.where(np.asarray(flat.is_null()), 0, sig)
    return sig


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) signatures, value-identical to :func:`with_simhash`
    but computed with the 64-bit majority vote as ONE vectorized kernel.

    Round 14 (guide §4.2): the tokenization and xxhash64 stay JVM
    expressions (the hash must match every persisted signature table),
    and ONLY the narrow ``(id, hashes)`` projection crosses the Arrow
    boundary — the per-bit vote is 64 interpreted ``aggregate`` passes
    over the token array in expression form (~64·T lambda evaluations
    per document), vs three numpy matrix ops per batch here. Integer
    arithmetic throughout (arithmetic shifts, two's-complement bit 63),
    so signatures are bit-identical (equality pinned in
    tests/test_incremental_dedup.py); a NULL text yields signature 0 on
    both paths (every per-bit vote folds NULL to 0)."""
    import pyarrow as pa

    toks = F.filter(
        F.split(normalize_text_expr(text_col), r"\s+"),
        lambda t: t != F.lit(""),
    )
    hashed = df.select(
        F.col(id_col).alias(id_col),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_h"),
    )

    # Round 15 (ADVICE r14): the T×64 vote matrices cost ~1 KB per token;
    # an unsliced 10k-row Arrow batch of 100k-token documents would
    # materialize multi-GB intermediates per task. Slicing the batch along
    # DOCUMENT boundaries to a fixed token budget bounds peak memory at
    # ~250 MB per task regardless of batch shape; per-document sums are
    # unaffected by the slicing (votes never cross documents), so
    # signatures stay bit-identical (pinned in
    # tests/test_incremental_dedup.py).
    tok_budget = _SIMHASH_TOK_BUDGET

    def _vote(batches):
        for batch in batches:
            ids = batch.column(0)
            hl = batch.column("_h")
            flat = (
                hl.combine_chunks()
                if isinstance(hl, pa.ChunkedArray)
                else hl
            )
            yield pa.record_batch(
                [ids, pa.array(_simhash_vote(flat, tok_budget), type=pa.int64())],
                names=[id_col, "simhash"],
            )

    id_type = hashed.schema[id_col].dataType.simpleString()
    return hashed.mapInArrow(
        _vote, schema=f"`{id_col}` {id_type}, simhash long"
    )


def hamming64_expr(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_chunk_table(
    sig_df: DataFrame, id_col: str = "doc_id", simhash_col: str = "simhash"
) -> DataFrame:
    """(_id, _sh, chunk_id, chunk_val) explosion of a (id, simhash) table —
    THE SimHash band scheme (4×16-bit pigeonhole chunks); every candidate
    path goes through this one definition so batch and incremental dedup
    bucket identically. Persist this bucketed by (chunk_id, chunk_val) at
    warehouse scale so incremental batches join without re-chunking."""
    chunks = F.array(
        *[
            F.shiftright(F.col(simhash_col), c * 16).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ]
    )
    return sig_df.select(
        F.col(id_col).alias("_id"),
        F.col(simhash_col).alias("_sh"),
        F.posexplode(chunks).alias("chunk_id", "chunk_val"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into 4×16-bit
    chunks; Hamming ≤ 3 ⇒ some chunk matches exactly (pigeonhole), so the
    join is bucketed on (chunk_id, chunk_value). Returns
    (id_a, id_b, hamming)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # round 14: signatures via the vectorized vote kernel
    # (simhash_signatures — bit-identical to with_simhash, measured
    # 3.1 s → 1.3 s over the sf0.1 corpus); checkpointed once to feed
    # both sides of the chunk self-join
    sig = simhash_signatures(
        df.repartition(par, id_col), id_col, text_col
    ).localCheckpoint(eager=False)
    chunked = simhash_chunk_table(sig, id_col)
    l, r = chunked.alias("l"), chunked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64_expr(F.col("l._sh"), F.col("r._sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_simhash_dedup(
    new_sig: DataFrame,
    existing_sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    existing_chunked: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch of (id, simhash) rows against an existing
    signature table — the SimHash analog of
    :func:`incremental_minhash_dedup`. A new doc is dropped when a
    Hamming-≤-``max_hamming`` neighbor exists in the corpus or among
    smaller-id new docs.

    → (kept_new_signatures, updated_signature_table).

    Scaling: pass ``existing_chunked`` — the persisted
    :func:`simhash_chunk_table` output, stored bucketed by
    (chunk_id, chunk_val) — so the corpus is never re-chunked per batch;
    the new batch's tiny chunk-key set broadcasts into a semi-join that
    prunes the corpus index before anything shuffles.
    """
    nb = simhash_chunk_table(new_sig, id_col).localCheckpoint(eager=False)
    if existing_chunked is None:
        existing_chunked = simhash_chunk_table(existing_sig, id_col)
    new_keys = nb.select("chunk_id", "chunk_val").distinct()
    eb = existing_chunked.join(
        F.broadcast(new_keys), ["chunk_id", "chunk_val"], "left_semi"
    )

    def _pairs(left, right, strict_order: bool):
        cond = (F.col("l.chunk_id") == F.col("r.chunk_id")) & (
            F.col("l.chunk_val") == F.col("r.chunk_val")
        )
        if strict_order:
            cond = cond & (F.col("l._id") > F.col("r._id"))
        return (
            left.alias("l")
            .join(right.alias("r"), cond)
            .select(
                F.col("l._id").alias("id_a"),
                hamming64_expr(F.col("l._sh"), F.col("r._sh")).alias("hamming"),
            )
        )

    losers = (
        _pairs(nb, eb, strict_order=False)
        .unionByName(_pairs(nb, nb, strict_order=True))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    kept_new = new_sig.join(losers, id_col, "left_anti")
    updated = existing_sig.unionByName(kept_new)
    return kept_new, updated


def simhash_chunks_portable(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc SimHash as four 16-bit chunks (``_id``, ``chunks``
    array<int>), md5-based — the engine-portable variant of
    :func:`simhash64_expr` for cross-engine verification.

    The per-token hash is the first 16 hex chars of md5(token) read as four
    16-bit chunks; per-bit majority votes as in Charikar 2002. Expressed as
    explode→groupBy (two key-bounded shuffles, no all-pairs) because every
    step — md5, substring, hex-digit parse, shifts — exists verbatim in
    other SQL engines, so a DuckDB oracle can reproduce the exact pair set.
    Docs with zero tokens after normalization carry no signature (the
    explode drops them) — mirrored by the oracle's unnest.
    """
    toks = F.filter(
        F.split(normalize_text_expr(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    tok = df.select(F.col(id_col).alias("_id"), F.explode(toks).alias("tok"))
    chunked = tok.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.conv(
                        F.substring(F.md5(F.col("tok")), c * 4 + 1, 4), 16, 10
                    ).cast("int")
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "tok_chunk"),
    )
    bits = chunked.select(
        "_id",
        "chunk_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("tok_chunk"), b).bitwiseAND(F.lit(1)) * 2 - 1
                    for b in range(16)
                ]
            )
        ).alias("bit_id", "vote"),
    )
    votes = bits.groupBy("_id", "chunk_id", "bit_id").agg(F.sum("vote").alias("v"))
    chunk_vals = votes.groupBy("_id", "chunk_id").agg(
        F.expr(
            "CAST(SUM(CASE WHEN v > 0 THEN shiftleft(1, bit_id) ELSE 0 END) AS INT)"
        ).alias("chunk_val")
    )
    return (
        chunk_vals.groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_id", "chunk_val"))
            ).alias("sc")
        )
        .select("_id", F.transform("sc", lambda s: s.chunk_val).alias("chunks"))
    )


def simhash_near_duplicates_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs from the portable chunked SimHash — same pigeonhole
    banding as :func:`simhash_near_duplicates` (Hamming ≤ 3 over 64 bits ⇒
    some 16-bit chunk matches exactly), reproducible bit-for-bit in any
    engine with md5. Returns (id_a, id_b, hamming)."""
    sig = simhash_chunks_portable(df, id_col, text_col).localCheckpoint(
        eager=False
    )
    chunked = sig.select(
        "_id", "chunks", F.posexplode("chunks").alias("chunk_id", "chunk_val")
    )
    l, r = chunked.alias("l"), chunked.alias("r")
    hamming = sum(
        F.bit_count(
            F.col("l.chunks")[c].bitwiseXOR(F.col("r.chunks")[c])
        )
        for c in range(4)
    ).cast("bigint")
    return (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked all-pairs within a grouping key)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs, blocked by ``block_col`` (e.g. a
    source/partition key) to avoid the full cross product. With no block
    column this is all-pairs — only for small inputs; at scale use
    :func:`minhash_near_duplicates`."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        word_shingles_expr(text_col, n).alias("_sh"),
    )
    l, r = sh.alias("l"), sh.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    if block_col:
        cond = cond & (F.col("l._blk") == F.col("r._blk"))
    return (
        l.join(r, cond)
        .withColumn("jaccard", jaccard_expr(F.col("l._sh"), F.col("r._sh")))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ of two array<numeric> columns via zip_with + aggregate
    (JVM-side, no UDF). This is THE canonical fold — a sequential left
    fold over doubles — and every cosine/similarity expression in the
    engine must build on it so values stay bit-identical across paths
    (and with the DuckDB oracle, which folds in the same order)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sumsq_expr(a: str | Column) -> Column:
    """Σ aᵢ² (squared L2 norm), same canonical fold as :func:`dot_expr`."""
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def cosine_expr(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity of two array<numeric> columns via zip_with +
    aggregate (JVM-side, no UDF)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    dot = dot_expr(a, b)
    norm_a = F.sqrt(sumsq_expr(a))
    norm_b = F.sqrt(sumsq_expr(b))
    return F.when((norm_a > 0) & (norm_b > 0), dot / (norm_a * norm_b)).otherwise(0.0)


def hyperplane_signature_expr(
    vec_col: str, dim: int, nbits: int = 16, seed: int = 42
) -> Column:
    """Random-hyperplane LSH signature (sign bits of dot products with
    ``nbits`` fixed seeded Gaussian vectors). Cosine-similar vectors agree
    on most bits. The hyperplanes are deterministic driver-side literals."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((nbits, dim))
    sig = F.lit(0).cast("bigint")
    v = F.col(vec_col)
    for i in range(nbits):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    return sig


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    nbits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs: bucket by hyperplane signature, verify
    cosine ≥ threshold within buckets. Returns (id_a, id_b, cosine).

    The signature is computed in the scan projection — no pre-shuffle:
    the only exchange in the plan is the one the signature-keyed
    equi-join itself needs (hash by ``_sig``, or a broadcast when one
    side is small), which is the minimum possible for this operator."""
    sig = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        hyperplane_signature_expr(vec_col, dim, nbits, seed).alias("_sig"),
    )
    l, r = sig.alias("l"), sig.alias("r")
    return (
        l.join(
            r,
            (F.col("l._sig") == F.col("r._sig")) & (F.col("l._id") < F.col("r._id")),
        )
        .withColumn("cosine", cosine_expr(F.col("l._v"), F.col("r._v")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"), "cosine")
    )


# ---------------------------------------------------------------------------
# incremental EXACT dedup against a persisted fingerprint table


def fingerprint_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persistable exact-dedup state: (id, fingerprint) per doc, where
    fingerprint is xxhash64 of the normalized text
    (:func:`functions.text.fingerprint64_expr`). At warehouse scale write
    this once per corpus, bucketed by fingerprint, and dedup new batches
    against it with :func:`incremental_exact_dedup`."""
    from approximate_query_engine_spark.functions.text import fingerprint64_expr

    return df.select(
        F.col(id_col), fingerprint64_expr(text_col).alias("fingerprint")
    )


def incremental_exact_dedup(
    new_fps: DataFrame,
    existing_fps: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Exact-dup removal of a NEW batch against a persisted fingerprint
    table: a new doc is dropped when its fingerprint already exists in the
    corpus or on a smaller-id doc within the batch.

    → (kept_new_fingerprints, updated_fingerprint_table).

    Scaling (the exact analog of :func:`incremental_minhash_dedup`): the
    batch's distinct fingerprint set is small, so it broadcast-semi-joins
    into the corpus table — only corpus rows whose fingerprint the batch
    actually mentions are ever read past the scan (with the corpus stored
    bucketed by fingerprint, this is a partition-pruned probe). Spark's
    runtime bloom-filter join pruning
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default)
    additionally pushes a bloom of the broadcast side into the corpus
    scan, so work per batch is O(batch), not O(corpus)."""
    batch_keys = new_fps.select("fingerprint").distinct()
    corpus_hits = existing_fps.select("fingerprint").join(
        F.broadcast(batch_keys), "fingerprint", "left_semi"
    )
    in_corpus = new_fps.join(corpus_hits, "fingerprint", "left_semi").select(
        F.col(id_col)
    )
    # within the batch: smaller id wins per fingerprint group
    first = new_fps.groupBy("fingerprint").agg(F.min(id_col).alias("__keep"))
    batch_dups = (
        new_fps.join(first, "fingerprint")
        .filter(F.col(id_col) != F.col("__keep"))
        .select(F.col(id_col))
    )
    losers = in_corpus.unionByName(batch_dups).distinct()
    kept_new = new_fps.join(losers, id_col, "left_anti")
    updated = existing_fps.unionByName(kept_new)
    return kept_new, updated
