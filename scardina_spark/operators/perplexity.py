"""Unigram-LM perplexity scoring and band filtering — the CCNet
quality-filtering protocol (Wenzek et al., LREC 2020, arXiv:1911.00359;
public protocol): score each document by the perplexity of a language
model trained on a trusted corpus, then keep the low/middle-perplexity
band (CCNet's head/middle split) instead of a hard classifier cutoff.

CCNet uses a 5-gram KenLM; this is the distribution-equivalent unigram
variant so the whole pipeline stays declarative DataFrame algebra and
the DuckDB oracle can replicate it exactly — the *protocol* (train LM
on reference text, score by per-token negative log-likelihood, filter
by perplexity band) is what's re-expressed, not KenLM internals.

Scale design:

* LM training is ONE map-side-combinable groupBy over exploded tokens
  (the word-count shuffle every corpus pass already pays — same shape
  as `bpe.word_counts`); the LM relation is vocabulary-sized, Zipf-
  bounded, and carries its own smoothing constants.
* Scoring joins exploded tokens against the LM on the token key.  The
  LM is usually << corpus (vocabulary vs occurrences), so Spark's AQE
  broadcasts it when it fits; otherwise it's a hash join on the token
  — never a driver-side dictionary.
* Out-of-vocabulary tokens get the additive-smoothing floor
  ``k / (N + k·(V+1))`` — every token contributes a finite NLL, so a
  fully-OOV document scores the worst band rather than NaN.
* Banding is a projection over the scored relation (callers filter on
  ``ppl_band``): no extra shuffle beyond the score join.

Reference relationship: Scardina has no text-quality operators at all —
this is green-field scope from the LLM-pipeline north star (same family
as `textstats.quality_score` and `sampling.pareto_quality_sample`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .textstats import words


def train_unigram_lm(df: DataFrame, text_col: str = "text",
                     smoothing_k: float = 1.0) -> DataFrame:
    """Unigram LM with additive (add-k) smoothing over lowercased
    whitespace tokens: ``(token, logp double)`` plus the corpus
    constants needed to score OOV tokens, carried on every row
    (``n_total long, vocab long``) so the relation is self-contained.

    One exploded groupBy — map-side combinable, O(vocabulary) output.
    """
    toks = df.select(
        F.explode(words(text_col)).alias("tok")).select(
        F.lower("tok").alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # corpus totals as a one-row broadcast-of-one cross join (same
    # pattern as bm25's stats row)
    totals = counts.agg(F.sum("n").alias("n_total"),
                        F.count(F.lit(1)).alias("vocab"))
    k = float(smoothing_k)
    return (counts.crossJoin(F.broadcast(totals))
            .select(
                "token",
                F.log((F.col("n") + F.lit(k)) /
                      (F.col("n_total") + F.lit(k) * (F.col("vocab") + 1)))
                .alias("logp"),
                "n_total", "vocab"))


def _oov_logp(lm: DataFrame, smoothing_k: float) -> float:
    """The smoothed floor log-prob for unseen tokens (count 0)."""
    row = lm.select("n_total", "vocab").first()
    if row is None:
        raise ValueError("empty language model")
    import math
    k = float(smoothing_k)
    return math.log(k / (row["n_total"] + k * (row["vocab"] + 1)))


def doc_perplexity(df: DataFrame, lm: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   smoothing_k: float = 1.0) -> DataFrame:
    """Per-document unigram perplexity ``exp(mean token NLL)``, rounded
    to 4 dp (float fold order differs between engines; the rounding
    absorbs it).  Empty documents score the OOV floor.  Output:
    ``(id_col, n_toks long, ppl double)``.
    """
    oov = _oov_logp(lm, smoothing_k)
    toks = df.select(
        F.col(id_col),
        F.explode_outer(words(text_col)).alias("tok")).select(
        id_col, F.lower("tok").alias("token"))
    scored = (toks.join(lm.select("token", "logp"), "token", "left")
              .select(id_col,
                      F.coalesce(F.col("logp"), F.lit(oov)).alias("lp"),
                      F.col("token").isNotNull().cast("long").alias("one")))
    return (scored.groupBy(id_col)
            .agg(F.sum("one").alias("n_toks"),
                 F.round(F.exp(-F.sum("lp") / F.greatest(F.sum("one"),
                                                         F.lit(1))), 4)
                 .alias("ppl"))
            .withColumn("ppl",
                        F.when(F.col("n_toks") == 0,
                               F.round(F.exp(F.lit(-oov)), 4))
                        .otherwise(F.col("ppl"))))


def perplexity_band(df: DataFrame, lm: DataFrame, lo: float, hi: float,
                    id_col: str = "doc_id", text_col: str = "text",
                    smoothing_k: float = 1.0) -> DataFrame:
    """CCNet head/middle/tail banding with FIXED thresholds: label each
    document ``head`` (ppl < lo — closest to the LM's training
    distribution), ``middle`` (lo <= ppl < hi), or ``tail`` (>= hi).
    CCNet derives lo/hi as per-language percentiles of a held-out
    sample; feed those in as the thresholds.  Adds ``n_toks, ppl,
    ppl_band`` to ``df``."""
    ppl = doc_perplexity(df, lm, id_col, text_col, smoothing_k)
    band = (F.when(F.col("ppl") < lo, F.lit("head"))
            .when(F.col("ppl") < hi, F.lit("middle"))
            .otherwise(F.lit("tail")))
    return df.join(ppl, id_col).withColumn("ppl_band", band)


def perplexity_band_derived(df: DataFrame, lm: DataFrame,
                            qs: tuple[float, float] = (1 / 3, 2 / 3),
                            lang_col: str | None = None,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            smoothing_k: float = 1.0) -> DataFrame:
    """The full CCNet protocol in one plan: score, derive the band
    thresholds as per-language perplexity percentiles, and band every
    document against ITS language's cuts (Wenzek et al. §4.3 — the
    paper's head/middle/tail are per-language terciles).  Returns
    ``(id, lang, n_toks, ppl, lo, hi, ppl_band)``.

    One scoring pass feeds both the percentile aggregation and the
    banding; the thresholds relation is #languages-sized and broadcast.
    ``lo``/``hi`` are rounded to 4 dp (like ``ppl``) so band
    comparisons are engine-reproducible."""
    ppl = doc_perplexity(df, lm, id_col, text_col, smoothing_k)
    if lang_col is not None:
        ppl = ppl.join(df.select(id_col, F.col(lang_col).alias("lang")),
                       id_col)
    else:
        ppl = ppl.withColumn("lang", F.lit("*"))
    thr = (ppl.groupBy("lang").agg(
        F.round(F.percentile("ppl", F.lit(float(qs[0]))), 4).alias("lo"),
        F.round(F.percentile("ppl", F.lit(float(qs[1]))), 4).alias("hi")))
    band = (F.when(F.col("ppl") < F.col("lo"), F.lit("head"))
            .when(F.col("ppl") < F.col("hi"), F.lit("middle"))
            .otherwise(F.lit("tail")))
    return (ppl.join(F.broadcast(thr), "lang")
            .withColumn("ppl_band", band))


BOS = "<s>"  # sentence-start context for each document's first token


@dataclass
class BigramLM:
    """Self-contained bigram model: ``bigrams (prev, token, logp)``,
    ``contexts (prev, floor_logp)`` — the smoothed floor for a SEEN
    context with an unseen continuation — and ``default_floor`` for
    unseen contexts (= ln(1/(V+1)), the uniform-over-vocab fallback)."""

    bigrams: DataFrame
    contexts: DataFrame
    default_floor: float
    # trainer-internal cached pair-count relation (bigrams/contexts
    # both derive from it); release() when the LM is no longer needed —
    # same discipline as TreeSample.release (sample.py)
    cache_handle: "DataFrame | None" = None

    def release(self) -> "BigramLM":
        """Unpersist the trainer's internal pair-count cache.  Safe any
        time — scoring plans re-compute from lineage if re-used after
        release; idempotent."""
        if self.cache_handle is not None:
            self.cache_handle.unpersist()
            self.cache_handle = None
        return self

    def materialize(self) -> "BigramLM":
        """Eagerly checkpoint the (vocabulary-sized) LM relations and
        drop the pair-count cache: long-lived sessions scoring many
        corpora then hold only the two small LM tables instead of an
        unreleasable storage-memory chain."""
        self.bigrams = self.bigrams.localCheckpoint(eager=True)
        self.contexts = self.contexts.localCheckpoint(eager=True)
        return self.release()

    def free(self) -> "BigramLM":
        """Release EVERYTHING, including the checkpointed LM relations
        from :meth:`materialize` — unlike :meth:`release`, the LM is
        unusable afterwards.  Call when scoring is done; leaked
        checkpoints otherwise pin vocab-sized blocks for the session."""
        from .storage import free_checkpoint
        self.release()
        free_checkpoint(self.bigrams)
        free_checkpoint(self.contexts)
        return self


def _bigram_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, prev, token) rows — the predecessor comes from shifting the
    token ARRAY (prepend BOS, drop the last element), so pairing is a
    pure projection: no window, no shuffle."""
    toks = F.transform(words(text_col), lambda w: F.lower(w))
    prevs = F.concat(F.array(F.lit(BOS)),
                     F.slice(toks, 1, F.greatest(F.size(toks) - 1,
                                                 F.lit(0))))
    return (df.select(F.col(id_col),
                      F.explode_outer(F.arrays_zip(
                          prevs.alias("prev"), toks.alias("token")))
                      .alias("pair"))
            .select(id_col, F.col("pair.prev").alias("prev"),
                    F.col("pair.token").alias("token")))


def train_bigram_lm(df: DataFrame, text_col: str = "text",
                    smoothing_k: float = 1.0) -> BigramLM:
    """Add-k-smoothed bigram LM — one step closer to CCNet's n-gram
    KenLM than :func:`train_unigram_lm`: ``p(token | prev) =
    (c(prev, token) + k) / (c(prev) + k*(V+1))``, with a per-context
    floor for unseen continuations and a uniform fallback for unseen
    contexts.

    Scale shape: ONE map-side-combinable groupBy on the (prev, token)
    pair (the corpus-sized shuffle), then a vocabulary-sized rollup for
    the context totals — both relations are Zipf-bounded like the
    unigram table."""
    k = float(smoothing_k)
    pairs = _bigram_pairs(
        df.select(F.monotonically_increasing_id().alias("__rid__"),
                  F.col(text_col)), "__rid__", text_col) \
        .where(F.col("token").isNotNull())
    # cache the vocabulary-sized pair counts: the vocab probe below is
    # an action, and without the cache it would pay the corpus-scale
    # tokenize+shuffle once for the count and AGAIN when the returned
    # bigrams/contexts relations evaluate
    bi = pairs.groupBy("prev", "token").agg(
        F.count(F.lit(1)).alias("n")).cache()
    ctx = bi.groupBy("prev").agg(F.sum("n").alias("cn"))
    vocab = bi.select("token").distinct().count()
    if vocab == 0:
        raise ValueError("empty language model")  # match _oov_logp
    denom_k = k * (vocab + 1)
    bigrams = (bi.join(ctx, "prev")
               .select("prev", "token",
                       F.log((F.col("n") + F.lit(k)) /
                             (F.col("cn") + F.lit(denom_k)))
                       .alias("logp")))
    contexts = ctx.select(
        "prev",
        F.log(F.lit(k) / (F.col("cn") + F.lit(denom_k)))
        .alias("floor_logp"))
    import math
    return BigramLM(bigrams, contexts,
                    math.log(1.0 / (vocab + 1)), cache_handle=bi)


def doc_perplexity_bigram(df: DataFrame, lm: BigramLM,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Per-document bigram perplexity ``exp(mean token NLL)`` (4 dp),
    with the three-level fallback: seen bigram -> seen context floor ->
    uniform 1/(V+1).  Empty documents score the uniform floor.  Two
    token-keyed joins, nothing leaves the cluster."""
    pairs = _bigram_pairs(df, id_col, text_col)
    scored = (pairs
              .join(lm.bigrams, ["prev", "token"], "left")
              .join(lm.contexts, "prev", "left")
              .select(id_col,
                      F.coalesce("logp", "floor_logp",
                                 F.lit(lm.default_floor)).alias("lp"),
                      F.col("token").isNotNull().cast("long")
                      .alias("one")))
    import math
    empty_ppl = round(math.exp(-lm.default_floor), 4)
    return (scored.groupBy(id_col)
            .agg(F.sum("one").alias("n_toks"),
                 F.round(F.exp(-F.sum(F.when(F.col("one") == 1, F.col("lp"))
                                      .otherwise(F.lit(0.0)))
                               / F.greatest(F.sum("one"), F.lit(1))), 4)
                 .alias("ppl"))
            .withColumn("ppl",
                        F.when(F.col("n_toks") == 0, F.lit(empty_ppl))
                        .otherwise(F.col("ppl"))))


@dataclass
class KneserNeyLM:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney, ICASSP 1995;
    Chen & Goodman 1999 eq. 4.24 at n=2) — the smoothing family KenLM
    (and therefore CCNet's real filter) uses.  Relations: ``bigrams
    (prev, token, n)``; ``contexts (prev, cn, n1p_fwd)`` where
    ``n1p_fwd = N1+(prev ·)``; ``continuations (token, n1p_bwd)`` where
    ``n1p_bwd = N1+(· token)``.  The continuation distribution carries
    an add-k floor so OOV tokens keep finite mass (the same honesty
    device as the add-k unigram/bigram models; textbook KN gives OOV
    zero mass)."""

    bigrams: DataFrame
    contexts: DataFrame
    continuations: DataFrame
    n_bigram_types: int
    vocab: int
    discount: float
    smoothing_k: float
    cache_handle: "DataFrame | None" = None

    def release(self) -> "KneserNeyLM":
        if self.cache_handle is not None:
            self.cache_handle.unpersist()
            self.cache_handle = None
        return self

    def materialize(self) -> "KneserNeyLM":
        self.bigrams = self.bigrams.localCheckpoint(eager=True)
        self.contexts = self.contexts.localCheckpoint(eager=True)
        self.continuations = self.continuations.localCheckpoint(eager=True)
        return self.release()

    def free(self) -> "KneserNeyLM":
        """Release everything, including :meth:`materialize`'s
        checkpoints (LM unusable afterwards) — see BigramLM.free."""
        from .storage import free_checkpoint
        self.release()
        free_checkpoint(self.bigrams)
        free_checkpoint(self.contexts)
        free_checkpoint(self.continuations)
        return self

    def pcont_oov(self) -> float:
        """Continuation probability of a token never seen in training."""
        k = self.smoothing_k
        return k / (self.n_bigram_types + k * (self.vocab + 1))


def train_bigram_kn(df: DataFrame, text_col: str = "text",
                    discount: float = 0.75,
                    smoothing_k: float = 1.0) -> KneserNeyLM:
    """Interpolated Kneser-Ney bigram LM.  Probability of a pair:

    * seen bigram:   ``(n − D)/cn + λ(prev) · P_cont(token)``
    * seen context:  ``λ(prev) · P_cont(token)``
    * unseen context: ``P_cont(token)``

    with ``λ(prev) = D · N1+(prev ·)/cn`` (the discount mass re-spent
    on the continuation distribution) and ``P_cont(w) = (N1+(· w) + k)
    / (T + k·(V+1))`` (T = bigram types; add-k keeps OOV finite).
    ``0 < D < 1`` guarantees ``n − D > 0`` for integer counts, so the
    textbook max(·, 0) is vacuous here.

    Scale shape: identical to :func:`train_bigram_lm` — one map-side
    combinable pair-count shuffle, then vocabulary-sized rollups
    (contexts, continuations) and two scalar counts."""
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    pairs = _bigram_pairs(
        df.select(F.monotonically_increasing_id().alias("__rid__"),
                  F.col(text_col)), "__rid__", text_col) \
        .where(F.col("token").isNotNull())
    bi = pairs.groupBy("prev", "token").agg(
        F.count(F.lit(1)).alias("n")).cache()
    ctx = bi.groupBy("prev").agg(F.sum("n").alias("cn"),
                                 F.count(F.lit(1)).alias("n1p_fwd"))
    cont = bi.groupBy("token").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    t_types = bi.count()
    vocab = cont.count()
    if vocab == 0:
        raise ValueError("empty language model")
    return KneserNeyLM(bi, ctx, cont, t_types, vocab,
                       float(discount), float(smoothing_k),
                       cache_handle=bi)


def doc_perplexity_kn(df: DataFrame, lm: KneserNeyLM,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document interpolated-KN perplexity ``exp(mean token NLL)``
    (4 dp).  Three joins, all token-keyed against vocabulary-sized
    relations (AQE broadcasts them when they fit); empty documents
    score the OOV-continuation floor."""
    d, k = lm.discount, lm.smoothing_k
    denom = float(lm.n_bigram_types + k * (lm.vocab + 1))
    pairs = _bigram_pairs(df, id_col, text_col)
    pc = (F.coalesce(F.col("n1p_bwd"), F.lit(0)) + F.lit(k)) / F.lit(denom)
    lam = F.lit(d) * F.col("n1p_fwd") / F.col("cn")
    p = (F.when(F.col("n").isNotNull(),
                (F.col("n") - F.lit(d)) / F.col("cn") + lam * pc)
         .when(F.col("cn").isNotNull(), lam * pc)
         .otherwise(pc))
    scored = (pairs
              .join(lm.bigrams, ["prev", "token"], "left")
              .join(lm.contexts, "prev", "left")
              .join(lm.continuations, "token", "left")
              .select(id_col, F.log(p).alias("lp"),
                      F.col("token").isNotNull().cast("long")
                      .alias("one")))
    import math
    empty_ppl = round(1.0 / lm.pcont_oov(), 4)
    return (scored.groupBy(id_col)
            .agg(F.sum("one").alias("n_toks"),
                 F.round(F.exp(-F.sum(F.when(F.col("one") == 1,
                                             F.col("lp"))
                                      .otherwise(F.lit(0.0)))
                               / F.greatest(F.sum("one"), F.lit(1))), 4)
                 .alias("ppl"))
            .withColumn("ppl",
                        F.when(F.col("n_toks") == 0, F.lit(empty_ppl))
                        .otherwise(F.col("ppl"))))
