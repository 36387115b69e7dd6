"""N-gram LM quality scoring (functions/lm.py): the integer evidence is
exact, the float tier (add-k log-probs / perplexity) matches a pure-
Python reference implementation, degenerate documents never vanish, and
the filter thresholds behave."""

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from approximate_query_engine_spark.functions.lm import (
    fit_bigram_lm,
    lm_quality_filter,
    score_documents,
)


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_score(ref_texts, doc_text, k=1.0):
    """Pure-Python reference: same tokenization, counts and smoothing."""
    uni: dict = {}
    bi: dict = {}
    for t in ref_texts:
        ts = _toks(t)
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            g = f"{a} {b}"
            bi[g] = bi.get(g, 0) + 1
    v = len(uni)
    ts = _toks(doc_text)
    grams = [f"{a} {b}" for a, b in zip(ts, ts[1:])]
    hits = sum(1 for g in grams if g in bi)
    sum_hit = sum(bi.get(g, 0) for g in grams)
    lps = [
        math.log((bi.get(g, 0) + k) / (uni.get(g.split(" ")[0], 0) + k * v))
        for g in grams
    ]
    avg = sum(lps) / len(lps) if lps else None
    return {
        "n_tokens": len(ts),
        "n_bigrams": len(grams),
        "bigram_hits": hits,
        "sum_hit_count": sum_hit,
        "oov_bigrams": len(grams) - hits,
        "avg_logprob": avg,
    }


REF = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown cat sleeps",
    "a lazy dog sleeps all day",
]
CANDS = [
    (0, "the quick brown fox"),          # all bigrams seen
    (1, "purple monkey dishwasher"),     # all bigrams unseen
    (2, "the quick purple fox sleeps"),  # mixed
    (3, "single"),                       # no bigrams
    (4, ""),                             # empty
    (5, "THE  Quick,, brown—fox"),       # normalization-heavy
]


def test_lm_scores_match_python_reference(spark):
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(REF)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(CANDS, "doc_id long, text string")
    uni, bi = fit_bigram_lm(ref)
    out = {
        r.doc_id: r.asDict()
        for r in score_documents(docs, uni, bi).collect()
    }
    assert set(out) == {i for i, _ in CANDS}  # nothing vanishes
    for i, text in CANDS:
        want = _py_score(REF, text)
        got = out[i]
        for key in (
            "n_tokens", "n_bigrams", "bigram_hits", "sum_hit_count",
            "oov_bigrams",
        ):
            assert got[key] == want[key], (i, key, got, want)
        if want["avg_logprob"] is None:
            assert got["avg_logprob"] is None and got["ppl"] is None
        else:
            assert got["avg_logprob"] == pytest.approx(
                want["avg_logprob"], rel=1e-12
            )
            assert got["ppl"] == pytest.approx(
                math.exp(-want["avg_logprob"]), rel=1e-12
            )


def test_lm_scores_random_fuzz(spark):
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    ref_texts = [
        " ".join(rng.choices(vocab, k=rng.randint(2, 20)))
        for _ in range(25)
    ]
    cand_texts = [
        " ".join(rng.choices(vocab + ["zzz"], k=rng.randint(0, 15)))
        for _ in range(20)
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cand_texts)],
        "doc_id long, text string",
    )
    uni, bi = fit_bigram_lm(ref)
    out = {
        r.doc_id: r.asDict()
        for r in score_documents(docs, uni, bi, k_smooth=0.5).collect()
    }
    for i, text in enumerate(cand_texts):
        want = _py_score(ref_texts, text, k=0.5)
        got = out[i]
        for key in (
            "n_tokens", "n_bigrams", "bigram_hits", "sum_hit_count",
            "oov_bigrams",
        ):
            assert got[key] == want[key], (i, key)
        if want["avg_logprob"] is not None:
            assert got["avg_logprob"] == pytest.approx(
                want["avg_logprob"], rel=1e-12
            )


def test_lm_filter_thresholds(spark):
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(REF)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(CANDS, "doc_id long, text string")
    uni, bi = fit_bigram_lm(ref)
    # fluent doc survives an OOV cap the gibberish doc fails
    kept = {
        r.doc_id
        for r in lm_quality_filter(
            docs, uni, bi, max_oov_frac=0.5
        ).collect()
    }
    assert 0 in kept and 1 not in kept
    assert 3 not in kept and 4 not in kept  # below min_tokens
    # perplexity cap: the all-seen doc beats the all-unseen one
    scored = {
        r.doc_id: r.ppl
        for r in score_documents(docs, uni, bi).collect()
        if r.ppl is not None
    }
    assert scored[0] < scored[1]
    kept = {
        r.doc_id
        for r in lm_quality_filter(
            docs, uni, bi, max_ppl=(scored[0] + scored[1]) / 2
        ).collect()
    }
    assert 0 in kept and 1 not in kept
    # k = 0 would turn unseen bigrams into -inf scores: refused loudly
    with pytest.raises(ValueError, match="k_smooth"):
        score_documents(docs, uni, bi, k_smooth=0.0)


def test_lm_vocab_size_passthrough_matches(spark):
    """Scoring many batches against one persisted LM passes vocab_size
    explicitly — the value must equal the computed default."""
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(REF)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(CANDS[:3], "doc_id long, text string")
    uni, bi = fit_bigram_lm(ref)
    v = uni.count()
    a = score_documents(docs, uni, bi).orderBy("doc_id").collect()
    b = (
        score_documents(docs, uni, bi, vocab_size=v)
        .orderBy("doc_id")
        .collect()
    )
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_lm_sink_round_trips(spark, tmp_path):
    """write_bigram_lm / read_bigram_lm persist counts + vocab size as
    one artifact; scoring from the reloaded triple equals scoring from
    the in-memory fit."""
    from approximate_query_engine_spark.functions.lm import (
        read_bigram_lm,
        write_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(REF)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(CANDS, "doc_id long, text string")
    uni, bi = fit_bigram_lm(ref)
    path = str(tmp_path / "lm")
    write_bigram_lm(uni, bi, path)
    uni2, bi2, v2 = read_bigram_lm(spark, path)
    assert v2 == uni.count()
    a = [
        r.asDict()
        for r in score_documents(docs, uni, bi).orderBy("doc_id").collect()
    ]
    b = [
        r.asDict()
        for r in score_documents(docs, uni2, bi2, vocab_size=v2)
        .orderBy("doc_id")
        .collect()
    ]
    for ra, rb in zip(a, b):
        for key in (
            "doc_id", "n_tokens", "n_bigrams", "bigram_hits",
            "sum_hit_count", "oov_bigrams",
        ):
            assert ra[key] == rb[key], key
        # the float tier sums each document's log-probs in sorted order,
        # so the reloaded counts (partitioned differently than the
        # in-memory fit) cannot reorder it; the comparison keeps the
        # rel=1e-12 used against the pure-Python reference
        for key in ("avg_logprob", "ppl"):
            if ra[key] is None:
                assert rb[key] is None
            else:
                assert rb[key] == pytest.approx(ra[key], rel=1e-12)


def test_lm_null_text_and_null_ppl_postures(spark):
    """Round-12 review fixes: NULL text scores as the empty document
    (n_tokens 0, never -1, never vanishes), and max_ppl KEEPS
    NULL-evidence docs just like max_oov_frac does."""
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(REF)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, None), (2, "solo")],
        "doc_id long, text string",
    )
    uni, bi = fit_bigram_lm(ref)
    out = {
        r.doc_id: r.asDict()
        for r in score_documents(docs, uni, bi).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[1]["n_tokens"] == 0 and out[1]["n_bigrams"] == 0
    assert out[1]["bigram_hits"] == 0 and out[1]["oov_bigrams"] == 0
    assert out[1]["avg_logprob"] is None
    # min_tokens=0 admits the no-evidence docs; max_ppl must keep them
    kept = {
        r.doc_id
        for r in lm_quality_filter(
            docs, uni, bi, max_ppl=1e9, min_tokens=0
        ).collect()
    }
    assert kept == {0, 1, 2}
