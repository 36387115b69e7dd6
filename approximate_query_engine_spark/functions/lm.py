"""N-gram language-model quality scoring (beyond-reference training-data
op — the CCNet/RefinedWeb "perplexity filter" stage).

The published web-corpus pipelines score every candidate document with a
language model trained on a TRUSTED reference corpus (CCNet: a KenLM
5-gram on Wikipedia) and keep the low-perplexity tail; heuristic quality
scores (functions/text.py) catch boilerplate-shaped junk, the LM catches
fluent-looking gibberish the heuristics cannot. This module is the
Spark-native analog at bigram granularity:

- **fit** is two hash aggregations over the reference corpus (unigram
  and bigram counts over the engine-portable ``terms_expr``
  tokenization) — partial aggregation combines map-side, so the shuffle
  carries one row per distinct gram, bounded by the reference
  vocabulary, never by corpus bytes. Both count tables are plain
  DataFrames: persist them as Parquet and they are the "LM file".
- **score** is one scan of the candidate corpus: explode each document's
  bigram occurrences, equi-join the two count tables (shuffle keyed on
  the gram — never a cross join; at 100 TB both sides hash-partition),
  and aggregate per document. Per-doc outputs split into two tiers:

  - INTEGER EVIDENCE — token/bigram totals, reference-bigram hit
    occurrences, summed reference counts, OOV occurrences. Exact,
    engine-portable currency (the q117 DuckDB oracle hash-checks it).
  - the FLOAT SCORE — add-k-smoothed mean bigram log-probability
    ``avg_logprob`` (and ``ppl = exp(-avg_logprob)``), the ranking/
    threshold knob. ``ln`` is correctly-rounded-ish per libm, not
    bit-pinned cross-engine, so the float tier is verified by a pure-
    Python reference implementation in tests instead of the hash gate.

Smoothing: add-k over the conditional ``p(w2 | w1) = (c(w1 w2) + k) /
(c(w1) + k * V)`` with ``V`` = reference unigram vocabulary size —
unseen bigrams and unseen history tokens both get positive probability,
so every document scores (no -inf).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from approximate_query_engine_spark.functions.text import terms_expr


def term_bigrams_expr(text_col: str | Column) -> Column:
    """Adjacent 2-grams ('w1 w2' strings) over the engine-portable
    ``terms_expr`` tokenization; empty array below 2 terms. Same
    materialized zip_with shape as text.bigrams_expr (linear, the
    tokenizer runs twice per row, not once per gram)."""
    toks = terms_expr(text_col)
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def fit_bigram_lm(
    ref: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Train the reference model: ``(unigrams, bigrams)`` count tables —
    ``(term, c)`` and ``(gram, c)``. Two aggregations, shuffles bounded
    by the reference vocabulary. Persist both as Parquet for the
    fit-once / score-many operational model."""
    unigrams = (
        ref.select(F.explode(terms_expr(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = (
        ref.select(F.explode(term_bigrams_expr(text_col)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return unigrams, bigrams


def merge_bigram_lm(
    uni_existing: DataFrame,
    bi_existing: DataFrame,
    uni_batch: DataFrame,
    bi_batch: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Additive merge of two fitted models' count tables → the model
    that a single :func:`fit_bigram_lm` over the UNION of both corpora
    would produce (n-gram counts are plain sums, the same additive
    shape as boilerplate.merge_line_frequency). Correct ONLY when the
    two sides counted DISJOINT document sets — the incremental
    contract, ENFORCED at the engine level via the persisted seen-id
    sidecar (engine.update_lm_index)."""
    uni = (
        uni_existing.unionByName(uni_batch)
        .groupBy("term")
        .agg(F.sum("c").alias("c"))
    )
    bi = (
        bi_existing.unionByName(bi_batch)
        .groupBy("gram")
        .agg(F.sum("c").alias("c"))
    )
    return uni, bi


def write_bigram_lm(
    unigrams: DataFrame,
    bigrams: DataFrame,
    path: str,
    seen_ids: DataFrame | None = None,
    meta: dict | None = None,
) -> None:
    """Persist the fitted model as ONE artifact rooted at ``path``: the
    bigram counts as Parquet under ``path``, the unigram counts under
    ``path/_unigrams``, the fitted document ids under ``path/_seen_ids``
    (the incremental disjoint-batch guard's evidence — optional for a
    fit-once model), and the vocabulary size + build params in a
    ``_meta`` sidecar (scoring needs V in every smoothing denominator —
    recounting it per batch would pay a scalar aggregate the sidecar
    makes free). Everything rides Spark's writers onto the same
    filesystem (S3/HDFS included); the underscore prefixes hide the
    sidecars from the Parquet listing of ``path``.

    It OVERWRITES ``path``; the engine's builders write each version
    into a fresh directory instead (versions.py)."""
    import json

    spark = unigrams.sparkSession
    bigrams.write.mode("overwrite").parquet(path)
    root = path.rstrip("/")
    unigrams.write.mode("overwrite").parquet(root + "/_unigrams")
    if seen_ids is not None:
        seen_ids.write.mode("overwrite").parquet(root + "/_seen_ids")
    v = spark.read.parquet(root + "/_unigrams").count()
    (
        spark.createDataFrame(
            [(json.dumps({**(meta or {}), "vocab_size": int(v)}),)],
            ["value"],
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(root + "/_meta")
    )


def read_bigram_lm(spark, path: str) -> tuple[DataFrame, DataFrame, int]:
    """The read half of :func:`write_bigram_lm`:
    ``(unigrams, bigrams, vocab_size)`` as one consistent triple —
    feed ``vocab_size`` straight to :func:`score_documents`."""
    uni, bi, v, _, _ = read_bigram_lm_state(spark, path)
    return uni, bi, v


def read_bigram_lm_state(
    spark, path: str
) -> tuple[DataFrame, DataFrame, int, DataFrame | None, dict]:
    """The full artifact: ``(unigrams, bigrams, vocab_size,
    seen_ids_or_None, meta)``. Only a genuinely-missing ``_seen_ids``
    sidecar (a fit-once artifact written without one) maps to None —
    probed through the Hadoop FS API like boilerplate's
    read_line_frequency, so a transient read failure on an EXISTING
    sidecar raises instead of silently disarming the disjoint-batch
    guard."""
    import json

    root = path.rstrip("/")
    payload = spark.read.text(root + "/_meta").collect()
    (row,) = [r for r in payload if r.value.strip()]
    meta = json.loads(row.value)
    seen_path = root + "/_seen_ids"
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(seen_path)
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    seen = spark.read.parquet(seen_path) if fs.exists(hpath) else None
    return (
        spark.read.parquet(root + "/_unigrams"),
        spark.read.parquet(path),
        int(meta["vocab_size"]),
        seen,
        meta,
    )


def score_documents(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 1.0,
    vocab_size: int | None = None,
) -> DataFrame:
    """Score every candidate document against the reference LM → one row
    per input document (docs with < 2 terms keep NULL float scores and
    zero integer evidence — they never vanish):

    - ``n_tokens``        — portable term count
    - ``n_bigrams``       — max(n_tokens - 1, 0), occurrences scored
    - ``bigram_hits``     — occurrences whose bigram exists in the
      reference (integer; ``n_bigrams - bigram_hits`` = OOV occurrences)
    - ``sum_hit_count``   — summed reference counts of those hits
      (integer; high = the doc walks well-trodden reference paths)
    - ``oov_bigrams``     — occurrences unseen in the reference
    - ``avg_logprob``     — mean add-k-smoothed ln p(w2 | w1) over
      occurrences (float tier; NULL when n_bigrams = 0), summed in
      sorted order so repeat calls agree bit for bit
    - ``ppl``             — exp(-avg_logprob), conventional perplexity

    ``vocab_size`` (V in the smoothing denominator) defaults to
    ``unigrams.count()`` — one scalar aggregate, computed once per call;
    pass it explicitly when scoring many batches against one LM."""
    if vocab_size is None:
        vocab_size = unigrams.count()
    v = float(int(vocab_size))
    k = float(k_smooth)
    if k <= 0:
        raise ValueError(
            "k_smooth must be positive: with k = 0 an unseen bigram has "
            "probability 0 and every document containing one scores -inf"
        )
    # greatest(..., 0) on BOTH sizes: NULL text makes terms_expr NULL
    # and F.size(NULL) is -1 — a negative token count would poison the
    # integer evidence tier (and a NULL doc must score as empty, not
    # vanish or go negative)
    base = docs.select(
        F.col(id_col),
        F.greatest(F.size(terms_expr(text_col)), F.lit(0)).alias(
            "n_tokens"
        ),
        term_bigrams_expr(text_col).alias("__grams"),
    ).withColumn(
        "n_bigrams", F.greatest(F.size("__grams"), F.lit(0))
    )
    # round 14 (guide §1.2): base feeds BOTH the occurrence explosion and
    # the final per-doc join — materialize the tokenize+bigram pass once
    # per call instead of twice (lazy: built on the caller's first
    # action; nothing cached across calls)
    base = base.localCheckpoint(eager=False)
    occ = base.select(
        id_col, F.explode("__grams").alias("gram")
    ).withColumn("__w1", F.split(F.col("gram"), " ").getItem(0))
    joined = (
        occ.join(
            bigrams.select(F.col("gram"), F.col("c").alias("__cg")),
            "gram",
            "left",
        )
        .join(
            unigrams.select(
                F.col("term").alias("__w1"), F.col("c").alias("__cw")
            ),
            "__w1",
            "left",
        )
    )
    lp = F.log(
        (F.coalesce(F.col("__cg"), F.lit(0)).cast("double") + F.lit(k))
        / (F.coalesce(F.col("__cw"), F.lit(0)).cast("double")
           + F.lit(k) * F.lit(v))
    )
    # the float mean sums each document's log-probs in SORTED order: a
    # plain F.avg adds them in partition arrival order after the join
    # shuffle, so two calls on the same inputs could differ in the last
    # ulp. Docs without bigrams never reach this aggregate and get NULL
    # from the left join below; the size guard keeps a list whose log-
    # probs were all NULL at NULL too, as F.avg did.
    agg = (
        joined.groupBy(id_col)
        .agg(
            F.count(F.col("__cg")).alias("bigram_hits"),
            F.coalesce(F.sum("__cg"), F.lit(0)).cast("long").alias(
                "sum_hit_count"
            ),
            F.array_sort(F.collect_list(lp)).alias("__lps"),
        )
        .withColumn(
            "avg_logprob",
            F.when(
                F.size("__lps") > 0,
                F.aggregate("__lps", F.lit(0.0), lambda acc, x: acc + x)
                / F.size("__lps"),
            ),
        )
        .drop("__lps")
    )
    return (
        base.drop("__grams")
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_bigrams",
            F.coalesce(F.col("bigram_hits"), F.lit(0))
            .cast("long")
            .alias("bigram_hits"),
            F.coalesce(F.col("sum_hit_count"), F.lit(0)).alias(
                "sum_hit_count"
            ),
            (
                F.col("n_bigrams").cast("long")
                - F.coalesce(F.col("bigram_hits"), F.lit(0))
            ).alias("oov_bigrams"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("ppl"),
        )
    )


def lm_quality_filter(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
    max_oov_frac: float | None = None,
    min_tokens: int = 2,
    k_smooth: float = 1.0,
    vocab_size: int | None = None,
) -> DataFrame:
    """The filter stage: keep documents the reference LM finds fluent —
    ``ppl <= max_ppl`` and/or OOV-occurrence fraction ``<= max_oov_frac``.
    Documents below ``min_tokens`` are dropped (the heuristic length
    floor); documents AT or above it that carry NO bigram evidence
    (ppl NULL — fewer than 2 terms) are KEPT by every threshold arm:
    the LM has nothing against them, the same posture as
    prepare_corpus's lm stage. Returns the scored survivors."""
    scored = score_documents(
        docs,
        unigrams,
        bigrams,
        text_col=text_col,
        id_col=id_col,
        k_smooth=k_smooth,
        vocab_size=vocab_size,
    )
    out = scored.where(F.col("n_tokens") >= int(min_tokens))
    if max_ppl is not None:
        # NULL-evidence docs (no bigrams) carry no LM evidence either
        # way: KEEP them, the same posture as prepare_corpus's lm stage
        # and as the max_oov_frac arm below (0 <= frac * 0 is true) —
        # a bare `ppl <= x` would NULL-filter them for one threshold
        # and keep them for the other
        out = out.where(
            F.col("ppl").isNull() | (F.col("ppl") <= float(max_ppl))
        )
    if max_oov_frac is not None:
        out = out.where(
            F.col("oov_bigrams")
            <= float(max_oov_frac) * F.col("n_bigrams").cast("double")
        )
    return out
