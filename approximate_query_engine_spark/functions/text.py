"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Everything here is built-in-function composition (split / filter /
transform / aggregate / regexp_replace) — no Python UDFs — so each operator
is a narrow projection that Catalyst prunes to the text column and executes
inside whole-stage codegen. At 100 TB these are embarrassingly parallel
scans with zero shuffle.

Determinism matters: these feed the correctness gate, so every formula is
expressible identically in ANSI SQL (see ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_expr(col: Column, fn: Callable[[Column], Column]) -> Column:
    """Evaluate ``col`` once per row and pass its VALUE into ``fn`` as a
    higher-order-function lambda variable (via a one-element transform).

    This is the codegen-safe way to reuse an expensive expression inside
    HOF lambdas: Spark's subexpression elimination does not reach across
    lambda boundaries, so a bare reference inside ``transform``/``filter``
    /``aggregate`` re-evaluates the producer once per element — turning
    linear projections quadratic (tokenize-per-shingle, normalize-per-
    window, hash-per-seed were all measured 30-100x slower without this)."""
    return F.transform(F.array(col), fn)[0]

#: Punctuation class counted by the quality score. Kept to an explicit,
#: engine-portable set (Spark and DuckDB agree on this char class).
PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}-]"

#: Small per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic. Public knowledge (most-frequent function words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "que"],
    "es": ["el", "los", "las", "y", "es", "una", "que"],
}

#: English stopwords for the quality score's stopword ratio.
STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "for", "on", "with", "as", "at", "by", "it", "this", "that",
]


def tokens_expr(text_col: str | Column) -> Column:
    """Whitespace tokens, empty strings dropped."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def token_count_expr(text_col: str | Column) -> Column:
    return F.size(tokens_expr(text_col))


def bpe_ish_token_count_expr(text_col: str | Column) -> Column:
    """A BPE-ish upper-bound token estimate: word-piece style splitting on
    non-alphanumerics plus a per-4-chars subword term (long words cost
    ~len/4 tokens, the common BPE rule of thumb)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(F.split(c, r"[^A-Za-z0-9]+"), lambda t: t != F.lit(""))
    return F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.greatest(F.lit(1), F.ceil(F.length(w) / F.lit(4.0))).cast("bigint"),
    )


# ---------------------------------------------------------------------------
# quality scoring


def quality_columns(
    text_col: str = "text", tokens: Column | None = None
) -> dict[str, Column]:
    """Component metrics for document-quality filtering (the standard
    length / punctuation / stopword-ratio heuristics used by web-scale
    corpus cleaning pipelines). ``tokens`` (round 14) optionally supplies
    an already-computed token array so a caller materializing the split
    once shares it across every metric — values are identical either way
    (same expressions over the same array)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = tokens if tokens is not None else tokens_expr(text_col)
    n_tokens = F.size(toks)
    punct_count = n_chars - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: F.array_contains(
                F.array(*[F.lit(s) for s in STOPWORDS_EN]), F.lower(t)
            ),
        )
    )
    avg_token_len = F.when(n_tokens > 0, (
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
        / n_tokens
    )).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, punct_count / n_chars).otherwise(0.0),
        "stopword_ratio": F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(0.0),
        "avg_token_len": avg_token_len,
    }


def quality_score_expr(
    text_col: str = "text", tokens: Column | None = None
) -> Column:
    """Composite [0,1] quality score:
    0.3·length-score + 0.3·token-length-score + 0.2·(1 − 5·punct_ratio)⁺ +
    0.2·stopword-presence-score.  Deterministic, portable arithmetic.

    Round 14 (guide §4.2 spirit, JVM-side): the token array is evaluated
    ONCE per row — supplied via ``tokens``, or bound with
    :func:`bind_expr` — instead of once per component metric (Spark's
    subexpression elimination does not reach across higher-order-function
    lambda boundaries, so the bare composition re-split the document
    three times). The formula tree is byte-identical; only the source of
    the token array changes, so values (and the q66 oracle) are
    unchanged."""

    def _score(toks: Column) -> Column:
        q = quality_columns(text_col, tokens=toks)
        len_score = F.least(q["n_chars"] / F.lit(500.0), F.lit(1.0))
        tok_len = q["avg_token_len"]
        tok_score = F.when((tok_len >= 3) & (tok_len <= 10), 1.0).otherwise(
            F.greatest(
                F.lit(0.0), F.lit(1.0) - F.abs(tok_len - F.lit(6.5)) / F.lit(10.0)
            )
        )
        punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - q["punct_ratio"] * 5.0)
        stop_score = F.least(q["stopword_ratio"] * 4.0, F.lit(1.0))
        return (
            len_score * 0.3
            + tok_score * 0.3
            + punct_score * 0.2
            + stop_score * 0.2
        )

    if tokens is not None:
        return _score(tokens)
    return bind_expr(tokens_expr(text_col), _score)


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for name, col in quality_columns(text_col).items():
        out = out.withColumn(f"q_{name}", col)
    return out.withColumn("quality_score", quality_score_expr(text_col))


# ---------------------------------------------------------------------------
# language ID


def lang_id_expr(text_col: str = "text", tokens: Column | None = None) -> Column:
    """Deterministic language guess: CJK-character share dominates, else the
    argmax marker-stopword hit count (ties broken by fixed alphabetical
    language order), else 'und' (undetermined) when no marker fires.
    Integer arithmetic throughout so a SQL oracle reproduces it bit-exactly.

    Round 14: the token array is evaluated ONCE per row (``tokens`` from
    the caller, else bound via :func:`bind_expr`) instead of once per
    language — the bare four-language ladder re-split every document four
    times (measured 3.6 s → 1.2 s over the sf0.1 corpus). Same argmax over
    the same hit counts; values unchanged."""
    c = F.col(text_col)
    cjk_count = F.length(c) - F.length(F.regexp_replace(c, r"[一-鿿]", ""))

    def _pick(toks: Column) -> Column:
        best = F.lit("und")
        best_hits = F.lit(0)
        for lang in sorted(LANG_MARKERS):  # fixed order = deterministic ties
            markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
            h = F.size(
                F.filter(toks, lambda t: F.array_contains(markers, F.lower(t)))
            )
            is_better = h > best_hits
            best = F.when(is_better, F.lit(lang)).otherwise(best)
            best_hits = F.when(is_better, h).otherwise(best_hits)
        return best

    best = (
        _pick(tokens)
        if tokens is not None
        else bind_expr(tokens_expr(text_col), _pick)
    )
    return F.when(cjk_count * 10 > F.length(c) * 3, F.lit("zh")).otherwise(best)


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id_expr(text_col))


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-style quality rules, Rae et al. 2021)


def bigrams_expr(text_col: str | Column) -> Column:
    """Adjacent token 2-grams as 'a b' strings; empty array below 2 tokens.

    Built with ``zip_with`` over the token array and its shift — the
    lambda binds MATERIALIZED arrays, so the tokenizer runs twice per row,
    not once per gram. The earlier ``transform(sequence, i ->
    element_at(toks, i))`` form re-evaluated the whole split inside the
    lambda for every element (codegen subexpression elimination does not
    reach across lambda boundaries), turning a linear projection
    quadratic."""
    toks = tokens_expr(text_col)
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def top_count_expr(arr: Column) -> Column:
    """Occurrence count of the most frequent element of ``arr`` (0 when
    empty): sort, then take the longest equal-run — O(n log n) scan-side,
    zero shuffle.

    Two deliberate shapes for codegen:
    - the input array is bound ONCE as a lambda variable (via a 1-element
      ``transform``) so an expensive producer (e.g. the bigram array) is
      materialized a single time — the naive distinct×filter form
      re-evaluated ``arr`` inside nested lambdas per distinct element,
      which subexpression elimination cannot dedup (measured 42 s → 0.4 s
      over 500 docs at sf0.01);
    - the run-length pass is an ``aggregate`` over the sorted array's
      adjacent-equality flags, so the whole thing stays one projection.
    """

    def _run_max(s: Column) -> Column:
        n = F.size(s)
        flags = F.zip_with(
            F.slice(s, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(s, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: (a == b).cast("int"),
        )
        best = F.aggregate(
            flags,
            F.struct(F.lit(0).alias("best"), F.lit(0).alias("cur")),
            lambda acc, x: F.struct(
                F.greatest(
                    acc["best"], F.when(x == 1, acc["cur"] + 1).otherwise(F.lit(0))
                ).alias("best"),
                F.when(x == 1, acc["cur"] + 1).otherwise(F.lit(0)).alias("cur"),
            ),
            lambda acc: acc["best"],
        )
        return F.when(n == 0, F.lit(0)).otherwise(best + 1)

    return F.transform(F.array(F.array_sort(arr)), _run_max)[0]


def repetition_columns(text_col: str = "text") -> dict[str, Column]:
    """Gopher-rule inputs: most-frequent-token count, most-frequent-bigram
    count, distinct-token count (all integers — threshold checks stay in
    exact integer arithmetic, portable to any SQL oracle)."""
    toks = tokens_expr(text_col)
    return {
        "n_tokens": F.size(toks),
        "top_token_count": top_count_expr(toks),
        "top_bigram_count": top_count_expr(bigrams_expr(text_col)),
        "n_distinct_tokens": F.size(F.array_distinct(toks)),
    }


def repetition_reject_expr(
    text_col: str = "text",
    max_top_token_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
    min_distinct_ratio: float = 0.20,
) -> Column:
    """True when a document fails any repetition rule. Fractions are
    compared in cross-multiplied integer form (count·1000 > frac·1000·n)
    so the decision is bit-portable across engines. The two top-element
    rules require the element to actually repeat (count >= 2): a unique
    token/bigram in a short document is coverage, not repetition."""
    r = repetition_columns(text_col)
    n = r["n_tokens"]
    tt, tb = r["top_token_count"], r["top_bigram_count"]
    return (
        ((tt >= 2) & (tt * 1000 > int(max_top_token_frac * 1000) * n))
        | ((tb >= 2) & (tb * 2000 > int(max_top_bigram_frac * 1000) * n))
        | (r["n_distinct_tokens"] * 1000 < int(min_distinct_ratio * 1000) * n)
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for name, col in repetition_columns(text_col).items():
        out = out.withColumn(f"r_{name}", col)
    return out.withColumn("repetition_reject", repetition_reject_expr(text_col))


# ---------------------------------------------------------------------------
# fingerprinting


def normalize_text_expr(text_col: str = "text") -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip punctuation."""
    c = F.col(text_col)
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), PUNCT_CLASS, ""), r"\s+", " ")
    )


def fingerprint64_expr(text_col: str = "text") -> Column:
    """64-bit document fingerprint: xxhash64 of the normalized text.
    Identical-after-normalization docs collide by construction."""
    return F.xxhash64(normalize_text_expr(text_col))


def rolling_fingerprints_expr(
    text_col: str = "text", k: int = 8, keep: int = 16
) -> Column:
    """Winnowing-style rolling fingerprint set: hash every k-char window of
    the normalized text, keep the ``keep`` smallest hashes (a deterministic
    document sketch for containment/overlap detection; Schleimer et al.'s
    winnowing idea, min-sampled)."""
    def _fp(norm: Column) -> Column:
        n_windows = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
        windows = F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.xxhash64(F.substr(norm, i, F.lit(k))),
        )
        return F.slice(F.array_sort(windows), 1, keep)

    # bind: normalization (two regex passes) must run once per row, not
    # once per window position (see bind_expr)
    return bind_expr(normalize_text_expr(text_col), _fp)


def with_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, keep: int = 16
) -> DataFrame:
    return df.withColumn("fingerprint", fingerprint64_expr(text_col)).withColumn(
        "rolling_fp", rolling_fingerprints_expr(text_col, k, keep)
    )


# ---------------------------------------------------------------------------
# corpus statistics: document frequency / TF-IDF


def terms_expr(text_col: str | Column) -> Column:
    """Normalized term array: lowercase, split on non-alphanumeric runs,
    empties dropped. Restricting terms to [a-z0-9]+ keeps the tokenization
    engine-portable (the DuckDB oracle reproduces it with
    regexp_split_to_array), since non-ASCII case mapping differs by
    engine but non-ASCII characters are all delimiters here."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda t: t != F.lit(""))


def term_doc_frequency(
    df: DataFrame,
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """→ (term, df): number of documents containing each term.

    ``array_distinct`` BEFORE the explode is the scale lever: per-document
    dedup happens scan-side inside codegen, so the shuffle carries one row
    per (doc, distinct term), not per token occurrence — on web-scale text
    that is a 2-5× shuffle reduction for free. The groupBy(term) is the
    single shuffle; partial (map-side) counting halves it again.
    """
    per_doc_terms = df.select(
        F.explode(F.array_distinct(terms_expr(text_col))).alias("term")
    )
    out = per_doc_terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        out = out.where(F.col("df") >= min_df)
    return out


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """→ (id, term, tf, df, tfidf) with tfidf = tf · ln((1+N)/(1+df)) + smoothing
    (the scikit-learn-style smoothed IDF: never divides by zero, unseen-term
    safe). Two shuffles: term counts per (doc, term), then a broadcast-able
    join against the document-frequency table (|terms| ≪ corpus size)."""
    n_docs = df.count()
    tf = (
        df.select(F.col(id_col), F.explode(terms_expr(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = term_doc_frequency(df, text_col, min_df=min_df)
    idf = F.log((1.0 + float(n_docs)) / (1.0 + F.col("df"))) + F.lit(1.0)
    return (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("tfidf", F.col("tf") * idf)
        .select(id_col, "term", "tf", "df", "tfidf")
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene: count, then redact, scan-side)
# ---------------------------------------------------------------------------

#: Deliberately portable regexes: no backreferences or lookaround, so the
#: SAME pattern runs identically under Java regex (Spark) and RE2-family
#: engines (DuckDB/Go) — the property every other oracle-checked text
#: operator in this module relies on. Ordered dict: redaction applies
#: patterns IN THIS ORDER (email before phone so the digits of an
#: already-redacted email can't re-match as a phone fragment).
def count_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """→ input + one ``pii_<kind>`` count column per pattern — pure
    scan-side ``regexp_count``, zero shuffle. Counting BEFORE redaction is
    the audit trail: aggregate the counts to decide whether a source needs
    quarantining rather than silent scrubbing. The patterns live in
    ``functions/pii.py`` (the canonical PII module — typed placeholders,
    grouped stats, oracle-parity contract); this wrapper keeps the
    original corpus-chain call shape."""
    from approximate_query_engine_spark.functions.pii import (
        PII_PATTERNS,
        pii_count_expr,
    )

    out = df
    for kind, pat, _ph in PII_PATTERNS:
        out = out.withColumn(f"pii_{kind}", pii_count_expr(text_col, pat))
    return out


def redact_pii(
    df: DataFrame, text_col: str = "text", token: str = "[PII]"
) -> DataFrame:
    """Replace every PII match with ``token`` in pattern order, in place
    in ``text_col`` — one scan-side projection, zero shuffle, idempotent
    (the token matches no pattern). Delegates to ``functions/pii.py``."""
    from approximate_query_engine_spark.functions.pii import redact_expr

    return df.withColumn(text_col, redact_expr(text_col, token=token))
