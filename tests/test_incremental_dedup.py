"""Incremental dedup: new batches against a persisted signature table."""

from approximate_query_engine_spark.functions.dedup import (
    incremental_minhash_dedup,
    signature_table,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"


def test_incremental_batches(spark):
    batch1 = spark.createDataFrame(
        [
            (1, BASE),
            (2, "completely different content about spark engines and samples"),
        ],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [
            (10, BASE),  # exact dup of corpus doc 1 -> dropped
            (11, BASE.replace("today", "tomorrow")),  # near dup of 1 -> dropped
            (12, "brand new content that matches nothing else at all"),  # kept
            (13, "brand new content that matches nothing else at all"),  # dup of 12 -> dropped
        ],
        "doc_id long, text string",
    )
    sig1 = signature_table(batch1)
    kept, updated = incremental_minhash_dedup(
        signature_table(batch2), sig1, threshold=0.6
    )
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    assert kept_ids == [12]
    updated_ids = sorted(r["doc_id"] for r in updated.collect())
    assert updated_ids == [1, 2, 12]


def test_incremental_empty_corpus(spark):
    empty = signature_table(
        spark.createDataFrame([], "doc_id long, text string")
    )
    batch = spark.createDataFrame(
        [(1, BASE), (2, BASE)], "doc_id long, text string"
    )
    kept, updated = incremental_minhash_dedup(
        signature_table(batch), empty, threshold=0.6
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1]
    assert sorted(r["doc_id"] for r in updated.collect()) == [1]


def test_incremental_matches_batch_dedup(spark, engine):
    """Splitting the sf0.001 documents into two batches and deduping
    incrementally keeps the same doc count as one-shot greedy dedup
    (both use the same band scheme and smaller-id-wins rule)."""
    from approximate_query_engine_spark.functions.dedup import dedup_minhash

    docs = engine.spark.table("documents")
    b1 = docs.filter("doc_id < 250")
    b2 = docs.filter("doc_id >= 250")
    empty = signature_table(b1.limit(0))
    _, corpus = incremental_minhash_dedup(signature_table(b1), empty, threshold=0.5)
    _, corpus2 = incremental_minhash_dedup(signature_table(b2), corpus, threshold=0.5)
    incremental_total = corpus2.count()
    oneshot_total = dedup_minhash(docs, threshold=0.5, num_hashes=64, bands=16).count()
    assert incremental_total == oneshot_total
    assert corpus2.select("doc_id").distinct().count() == incremental_total


def test_incremental_with_prebanded_corpus(spark):
    from approximate_query_engine_spark.functions.dedup import band_signature_table

    b1 = spark.createDataFrame([(1, BASE), (2, "other text entirely")], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, BASE), (11, "fresh new content here")], "doc_id long, text string")
    corpus = signature_table(b1)
    banded = band_signature_table(corpus)
    kept, _ = incremental_minhash_dedup(
        signature_table(b2), corpus, threshold=0.6, existing_banded=banded
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [11]


# ---- SimHash incremental ----
def _simhash_sig(spark, rows):
    from approximate_query_engine_spark.functions.dedup import with_simhash

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return with_simhash(df).select("doc_id", "simhash")


def test_incremental_simhash_batches(spark):
    from approximate_query_engine_spark.functions.dedup import (
        incremental_simhash_dedup,
    )

    sig1 = _simhash_sig(
        spark,
        [
            (1, BASE),
            (2, "completely different content about spark engines and samples"),
        ],
    )
    sig2 = _simhash_sig(
        spark,
        [
            (10, BASE),  # exact dup of corpus doc 1 (hamming 0) -> dropped
            (12, "brand new content that matches nothing else at all"),  # kept
            (13, "brand new content that matches nothing else at all"),  # dup of 12
        ],
    )
    kept, updated = incremental_simhash_dedup(sig2, sig1, max_hamming=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [12]
    assert sorted(r["doc_id"] for r in updated.collect()) == [1, 2, 12]


def test_incremental_simhash_with_persisted_chunk_table(spark):
    """Passing the persisted chunk table must give the same result as
    re-chunking the corpus (the scale path and the convenience path agree)."""
    from approximate_query_engine_spark.functions.dedup import (
        incremental_simhash_dedup,
        simhash_chunk_table,
    )

    sig1 = _simhash_sig(spark, [(1, BASE), (2, "other words entirely here")])
    sig2 = _simhash_sig(spark, [(10, BASE), (11, "fresh unseen sentence")])
    chunked = simhash_chunk_table(sig1)
    kept_a, _ = incremental_simhash_dedup(sig2, sig1, max_hamming=3)
    kept_b, _ = incremental_simhash_dedup(
        sig2, sig1, max_hamming=3, existing_chunked=chunked
    )
    assert sorted(r["doc_id"] for r in kept_a.collect()) == sorted(
        r["doc_id"] for r in kept_b.collect()
    )


def test_incremental_simhash_matches_batch(spark, engine):
    """Two-batch incremental simhash dedup matches an exact driver-side
    replay of its documented semantics over the one-shot pair set: a new
    doc is dropped iff it has a KEPT corpus neighbor or ANY smaller-id
    neighbor within its own batch. (A plain distinct-id_b loser count is
    NOT a valid reference on corpora with transitive chains — a doc whose
    only smaller neighbor was itself dropped is kept incrementally but
    would be counted as a loser — so the reference peels greedily.)"""
    from collections import defaultdict

    from approximate_query_engine_spark.functions.dedup import (
        incremental_simhash_dedup,
        simhash_near_duplicates,
        with_simhash,
    )

    docs = engine.spark.table("documents")
    sig = with_simhash(docs).select("doc_id", "simhash").localCheckpoint()
    split = 250
    b1 = sig.filter(f"doc_id < {split}")
    b2 = sig.filter(f"doc_id >= {split}")
    empty = b1.limit(0)
    kept1, updated = incremental_simhash_dedup(b1, empty, max_hamming=3)
    kept2, final = incremental_simhash_dedup(b2, updated, max_hamming=3)
    inc_ids = {r["doc_id"] for r in final.select("doc_id").collect()}

    pairs = simhash_near_duplicates(docs, max_hamming=3)
    nbrs: dict[int, set[int]] = defaultdict(set)
    for r in pairs.collect():
        nbrs[r["id_a"]].add(r["id_b"])
        nbrs[r["id_b"]].add(r["id_a"])
    all_ids = sorted(r["doc_id"] for r in sig.select("doc_id").collect())
    kept: set[int] = set()
    for i in all_ids:  # ascending id = batch order then within-batch order
        same_batch = (lambda j: j < split) if i < split else (lambda j: j >= split)
        dropped = any(
            (j < i) if same_batch(j) else (j in kept) for j in nbrs[i]
        )
        if not dropped:
            kept.add(i)
    assert inc_ids == kept


# ---- exact incremental (fingerprint table) ----
def test_incremental_exact_dedup(spark):
    from approximate_query_engine_spark.functions.dedup import (
        fingerprint_table,
        incremental_exact_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, BASE), (2, "other content entirely")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [
            (10, BASE),  # exact dup of corpus doc 1 -> dropped
            (11, BASE.upper()),  # normalization collision with 1 -> dropped
            (12, "fresh new text"),  # kept
            (13, "fresh new text"),  # batch dup of 12 -> dropped
            (14, "another fresh one"),  # kept
        ],
        "doc_id long, text string",
    )
    corpus = fingerprint_table(b1)
    kept, updated = incremental_exact_dedup(fingerprint_table(b2), corpus)
    assert sorted(r["doc_id"] for r in kept.collect()) == [12, 14]
    assert sorted(r["doc_id"] for r in updated.collect()) == [1, 2, 12, 14]
    # a third batch against the updated table sees the batch-2 survivors
    b3 = spark.createDataFrame(
        [(20, "fresh new text"), (21, "genuinely novel")],
        "doc_id long, text string",
    )
    kept3, updated3 = incremental_exact_dedup(fingerprint_table(b3), updated)
    assert sorted(r["doc_id"] for r in kept3.collect()) == [21]
    assert updated3.count() == 5


def test_incremental_exact_matches_oneshot(spark, engine):
    """Two-batch incremental exact dedup keeps exactly the docs one-shot
    min-id-per-fingerprint dedup keeps."""
    from approximate_query_engine_spark.functions.dedup import (
        fingerprint_table,
        incremental_exact_dedup,
    )

    docs = engine.spark.table("documents")
    fps = fingerprint_table(docs).localCheckpoint()
    b1 = fps.filter("doc_id < 250")
    b2 = fps.filter("doc_id >= 250")
    _, upd = incremental_exact_dedup(b1, b1.limit(0))
    _, final = incremental_exact_dedup(b2, upd)
    inc_ids = sorted(r["doc_id"] for r in final.collect())
    oneshot = sorted(
        r["k"]
        for r in fps.groupBy("fingerprint")
        .agg(__import__("pyspark").sql.functions.min("doc_id").alias("k"))
        .collect()
    )
    assert inc_ids == oneshot


def test_simhash_signatures_kernel_matches_expr(spark):
    """Round-14 optimization guard: the vectorized Arrow majority-vote
    kernel (dedup.simhash_signatures) is bit-identical to the expression
    form (dedup.with_simhash) — including a NULL text (NULL signature)
    and an all-whitespace text (empty token list -> signature 0)."""
    from approximate_query_engine_spark.functions.dedup import (
        simhash_signatures,
        with_simhash,
    )

    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(
        200
    )
    edge = spark.createDataFrame(
        [(900001, None), (900002, "   \t  "), (900003, "one token ONE")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    want = {
        (r["doc_id"], r["simhash"])
        for r in with_simhash(both, "text")
        .select("doc_id", "simhash")
        .collect()
    }
    got = {
        (r["doc_id"], r["simhash"])
        for r in simhash_signatures(both, "doc_id", "text").collect()
    }
    assert got == want


def test_simhash_vote_multi_slice_matches_single(spark, monkeypatch):
    """Round-15 memory bound (ADVICE r14): the vote kernel slices each
    Arrow batch along document boundaries to a token budget. A budget
    small enough to force MANY slices (including a single doc larger
    than the budget) must produce signatures identical to the unsliced
    expression form — votes never cross documents."""
    from approximate_query_engine_spark.functions import dedup as ddp

    rows = [
        (1, "alpha beta gamma delta " * 50),       # 200 tokens > budget
        (2, "one two three"),
        (3, None),
        (4, "   "),
        (5, "zeta eta theta iota kappa " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["doc_id"], r["simhash"])
        for r in ddp.with_simhash(df, "text").select(
            "doc_id", "simhash"
        ).collect()
    }
    monkeypatch.setattr(ddp, "_SIMHASH_TOK_BUDGET", 16)
    got = {
        (r["doc_id"], r["simhash"])
        for r in ddp.simhash_signatures(df, "doc_id", "text").collect()
    }
    assert got == want


def test_simhash_vote_tolerates_non_monotonic_null_slot_offsets():
    """A null list slot's offsets are unspecified by the Arrow spec and
    may step backwards. The kernel clamps them monotonic before its
    binary search: the null slot votes 0 and the valid slots keep the
    signatures of a clean batch (unclamped, the slice bounds go wrong
    and the vote indexes past its cumulative sums)."""
    import pyarrow as pa

    from approximate_query_engine_spark.functions.dedup import _simhash_vote

    vals = pa.array([5, 5, 3, 7, 9], pa.int64())
    clean = pa.ListArray.from_arrays(pa.array([0, 2, 3, 3], pa.int32()), vals)
    bad = pa.ListArray.from_arrays(
        pa.array([0, 2, 3, 1], pa.int32()),
        vals,
        mask=pa.array([False, False, True]),
    )
    want = _simhash_vote(clean, 1 << 18)
    for budget in (1, 2, 1 << 18):
        got = _simhash_vote(bad, budget)
        assert list(got[:2]) == list(want[:2])
        assert got[2] == 0
    assert want[0] != 0 and want[1] != 0
