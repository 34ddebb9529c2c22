"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (SURVEY §2.7): language ID, quality scoring,
token counting, document fingerprinting over a ``documents(doc_id, text,
lang, source, n_chars)`` table.

Everything here is a narrow projection built from JVM-side higher-order
functions (``filter``, ``transform``, ``regexp_*``) — no Python UDFs, so the
whole stage stays inside whole-stage codegen and scales linearly with no
shuffle at all.  At 100 TB these run at parquet-scan speed; the only
shuffles in this module are ``pmi_collocations``' count aggregations
and their joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# deliberately small, deterministic marker sets — the operator contract is
# the heuristic, not a trained model
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "los", "que", "es"),
}

TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def words(col: str = "text") -> Column:
    """Whitespace tokens, empties removed (case-preserving)."""
    return F.filter(
        F.split(F.col(col), "\\s+"), lambda w: F.length(w) > 0)


def lower_words(col: str = "text") -> Column:
    """Whitespace tokens of the lower-cased, trimmed text — the shared
    normalization of the learned-text operators (bpe, textclf).
    Distinct from :func:`words`, which preserves case for the
    stopword/marker heuristics that lowercase per comparison."""
    return F.filter(F.split(F.lower(F.trim(F.col(col))), r"\s+"),
                    lambda x: x != "")


def token_count(col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def bpe_token_count(col: str = "text") -> Column:
    """BPE-ish token count: runs of letters, runs of digits, or single
    punctuation — a cheap, deterministic proxy for subword tokenizers."""
    return F.size(F.regexp_extract_all(F.lower(F.col(col)),
                                       F.lit(TOKEN_REGEX), 0))


def punct_ratio(col: str = "text") -> Column:
    n_punct = F.length(F.regexp_replace(F.col(col), "[A-Za-z0-9\\s]", ""))
    return F.round(n_punct / F.greatest(F.length(F.col(col)), F.lit(1)), 4)


def stopword_ratio(col: str = "text",
                   stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = words(col)
    hits = F.size(F.filter(
        toks, lambda w: F.lower(w).isin(*stopwords)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 4)


def mean_word_len(col: str = "text") -> Column:
    toks = words(col)
    total = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 4)


def quality_score(col: str = "text") -> Column:
    """Deterministic [0,1] quality heuristic: length in a healthy band,
    few punctuation bursts, some (but not only) stopwords.  The exact
    weights are part of the operator contract (tested against the SQL
    oracle), not a claim about linguistics."""
    length_ok = F.when(
        F.length(F.col(col)).between(50, 5000), F.lit(1.0)).otherwise(F.lit(0.3))
    p = punct_ratio(col)
    s = stopword_ratio(col)
    punct_ok = F.when(p <= 0.1, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ok = F.when((s >= 0.05) & (s <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(0.4 * length_ok + 0.3 * punct_ok + 0.3 * stop_ok, 4)


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    # NB: a two-arg lambda means (element, index) to F.filter — close over
    # the marker set instead of passing it as a default arg
    def pred(w: Column) -> Column:
        return F.lower(w).isin(*markers)

    return F.size(F.filter(toks, pred))


def lang_scores(col: str = "text") -> dict[str, Column]:
    toks = words(col)
    return {
        lang: _marker_hits(toks, markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: str = "text") -> Column:
    """Argmax of marker-word hits, ties broken by language code order,
    'und' when nothing matches."""
    scores = lang_scores(col)
    pairs = sorted(scores.items())  # deterministic tie-break: code order
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in pairs:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def fingerprint(col: str = "text") -> Column:
    """Deterministic document fingerprint: md5 of the case- and
    whitespace-normalized text (analog of a rolling-hash shingle print,
    exact-dup robust to spacing)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(col))), "\\s+", " ")
    return F.md5(norm)


def dup_token_fraction(col: str = "text") -> Column:
    """Fraction of tokens that repeat an earlier token (1 - type/token
    ratio) — the Gopher-style within-document repetition signal.  Pure
    projection (``array_distinct``), no shuffle."""
    toks = words(col)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(F.round(
        1.0 - F.size(F.array_distinct(toks))
        / F.size(toks).cast("double"), 4))


def top_bigram_fraction(col: str = "text") -> Column:
    """Fraction of tokens covered by the single most frequent bigram
    (Gopher-style "top n-gram" repetition signal), capped at 1.

    Shuffle-free: instead of explode + groupBy(doc, bigram), the bigram
    array is sorted per document and the longest run of equal adjacent
    elements is found with one ``F.aggregate`` pass over a (prev, run,
    best) struct accumulator — the whole stat is a codegen projection,
    so at 100 TB it runs at scan speed like the rest of this module."""
    toks = words(col)
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)),
    )).otherwise(F.array().cast("array<string>"))
    srt = F.array_sort(bigrams)
    best = F.aggregate(
        srt,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)))
            .alias("best")),
        lambda a: a["best"])
    return F.round(
        F.least(F.lit(1.0),
                best * 2.0 / F.greatest(n, F.lit(1)).cast("double")), 4)


def with_repetition_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document repetition signals in one projection pass."""
    return (df.withColumn("dup_token_fraction", dup_token_fraction(col))
            .withColumn("top_bigram_fraction", top_bigram_fraction(col)))


def filter_repetitive(df: DataFrame, max_dup_token_fraction: float = 0.9,
                      max_top_bigram_fraction: float = 0.2,
                      col: str = "text") -> DataFrame:
    """Drop documents dominated by repetition — the curation gate that in
    Gopher-style pipelines removes boilerplate/spam.  Same stage as the
    scan (no shuffle); thresholds are the operator contract."""
    return (with_repetition_stats(df, col)
            .where((F.col("dup_token_fraction") <= max_dup_token_fraction)
                   & (F.col("top_bigram_fraction")
                      <= max_top_bigram_fraction))
            .drop("dup_token_fraction", "top_bigram_fraction"))


def with_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """All per-document stats in one projection pass."""
    return (
        df.withColumn("n_tokens", token_count(col))
        .withColumn("n_bpe_tokens", bpe_token_count(col))
        .withColumn("punct_ratio", punct_ratio(col))
        .withColumn("stopword_ratio", stopword_ratio(col))
        .withColumn("mean_word_len", mean_word_len(col))
        .withColumn("quality", quality_score(col))
        .withColumn("lang_pred", lang_id(col))
        .withColumn("fingerprint", fingerprint(col))
    )


def select_training_corpus(df: DataFrame, min_quality: float = 0.7,
                           langs: tuple[str, ...] = ("en",),
                           token_budget: float | None = None,
                           col: str = "text") -> DataFrame:
    """End-to-end training-corpus selection — the composition a curation
    pipeline runs at 100 TB:

    1. one codegen projection pass for stats/quality/lang/fingerprint
       (no shuffle),
    2. quality + language gate (pushed into the same stage),
    3. exact-duplicate collapse on the normalized fingerprint, keeping the
       lowest doc_id (one shuffle, map-side combinable),
    4. optional greedy token-budget fill, highest quality first — via the
       scale-safe distributed prefix sum (operators/prefix.py), NOT a
       single-partition window.

    Deterministic end to end, so the whole pipeline has an exact SQL
    oracle."""
    from pyspark.sql import Window

    stats = with_text_stats(df, col)
    gated = stats.where((F.col("quality") >= min_quality)
                        & F.col("lang_pred").isin(*langs))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (gated.withColumn("__rn__", F.row_number().over(w))
               .where(F.col("__rn__") == 1).drop("__rn__"))
    out = deduped.select("doc_id", "source", "lang_pred", "quality",
                         "n_tokens", "fingerprint")
    if token_budget is not None:
        from .prefix import CUM, with_prefix_sum
        ranked = (out
                  .withColumn("__w__", F.col("n_tokens").cast("double"))
                  .withColumn("__negq__", -F.col("quality")))
        pref = with_prefix_sum(ranked, "__w__", ["__negq__", "doc_id"])
        # greedy fill: take docs while the tokens BEFORE this doc fit
        out = (pref.where(F.col(CUM) < float(token_budget))
               .drop("__w__", "__negq__", CUM, "__pid__"))
    return out


def pmi_collocations(df: DataFrame, min_count: int = 5,
                     text_col: str = "text") -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks, CL 1990; the word2phrase phrase-detection score is the
    discounted variant) — the phrase inventory a tokenizer/curation
    pipeline mines before deciding merge candidates.  Returns
    ``(left_w, right_w, pair_n, pmi)`` for adjacent lowercased word
    pairs with ``pair_n >= min_count``, ordered (pmi desc, left, right).

    PMI = ln( (c(ab)/N_pairs) / ((c(a)/N_words)·(c(b)/N_words)) ).

    Scale shape: two map-side-combinable count shuffles (adjacent
    pairs, unigrams — the pair relation comes from shifting the token
    array, no window) plus two scalar totals; the join back onto the
    pair relation is vocabulary-keyed against Zipf-bounded tables.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = lower_words(text_col)
    prevs = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    nexts = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = (df.select(F.explode(F.zip_with(
        prevs, nexts,
        lambda a, b: F.struct(a.alias("l"), b.alias("r")))).alias("p"))
        .select(F.col("p.l").alias("left_w"), F.col("p.r").alias("right_w")))
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    bi = pairs.groupBy("left_w", "right_w").agg(
        F.count(F.lit(1)).alias("pair_n"))
    n_pairs = bi.agg(F.sum("pair_n")).first()[0]
    n_words = uni.agg(F.sum("wc")).first()[0]
    if not n_pairs:
        raise ValueError("no adjacent pairs in corpus")
    ua = uni.select(F.col("w").alias("left_w"), F.col("wc").alias("ca"))
    ub = uni.select(F.col("w").alias("right_w"), F.col("wc").alias("cb"))
    pmi = F.log((F.col("pair_n") / F.lit(float(n_pairs)))
                / ((F.col("ca") / F.lit(float(n_words)))
                   * (F.col("cb") / F.lit(float(n_words)))))
    return (bi.where(F.col("pair_n") >= min_count)
            .join(ua, "left_w").join(ub, "right_w")
            .select("left_w", "right_w",
                    F.col("pair_n").cast("long").alias("pair_n"),
                    F.round(pmi, 6).alias("pmi"))
            .orderBy(F.desc("pmi"), "left_w", "right_w"))
