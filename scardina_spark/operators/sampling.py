"""Deterministic dataset sampling: Bernoulli by hash threshold and
stratified per-group top-k by hash rank.

Training-data pipelines sample constantly (per-source quotas, class
balancing, eval holdouts).  Doing it with ``rand()`` makes runs
irreproducible and oracle-unfriendly; hashing a stable row id instead
gives samples that are (a) deterministic across runs, engines, and
cluster layouts, (b) consistent under re-partitioning, and (c) coherent
across tables — the same id-space threshold selects the same entities
everywhere, so a holdout split stays aligned between e.g. `documents`
and a derived features table.

Scale design: the Bernoulli filter is a pure projection + predicate
(no shuffle, pushes past scans of the id column).  The stratified
sampler shuffles once on the strata key; per-stratum top-k runs as a
rank-window.  For pathological single-stratum skew, pre-aggregate with
`operators/skew.salted_group_agg`-style two-phase slicing (same pattern
as `sketches.kmv_sketch`).

Contrast with the reference: Scardina's only sampler is the *weighted
join* sampler (`join.py:73-245`, rebuilt in `operators/sampler.py`);
uniform/stratified corpus sampling is green-field scope from the
LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..localrel import local_df

from .sketches import HASH_SPACE, kmv_hash


def hash_fraction(col: F.Column | str) -> F.Column:
    """Uniform [0,1) fraction derived from md5 of the id — the shared
    coin for every sampler here (engine-reproducible, see sketches)."""
    return kmv_hash(col) / F.lit(HASH_SPACE)


def split_train_holdout(df: DataFrame, holdout: float, id_col: str,
                        salt: str = "split") -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive (train, holdout) pair keyed on the id hash —
    membership is a property of the id, stable across runs and joins."""
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    is_holdout = hash_fraction(key) < holdout
    return df.where(~is_holdout), df.where(is_holdout)


def stratified_sample(df: DataFrame, strata_cols: list[str], n: int,
                      id_col: str, salt: str = "") -> DataFrame:
    """At most ``n`` rows per stratum: the n smallest id-hashes win.
    Equivalent to a seeded uniform draw without replacement per group,
    but deterministic and engine-reproducible.  One shuffle (on the
    strata key); the rank window never materializes a stratum beyond
    its top n thanks to Spark's windowed rank filter pushdown."""
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(
        kmv_hash(key).asc(), F.col(id_col).asc())
    return (df.withColumn("__rk__", F.row_number().over(w))
            .where(F.col("__rk__") <= n).drop("__rk__"))


def pareto_quality_sample(df: DataFrame, score_col: str, id_col: str,
                          alpha: float = 9.0,
                          salt: str = "quality") -> DataFrame:
    """GPT-3-style quality-weighted document sampling (Brown et al.
    2020, arXiv:2005.14165 Appendix A — published protocol): a document
    with classifier score ``s`` in [0, 1] is kept when
    ``pareto(alpha) > 1 - s``, i.e. with probability ``(2 - s)^-alpha``
    — high-quality documents survive almost surely, low-quality ones
    with a heavy-tailed trickle so the filtered corpus is not a hard
    cutoff of the classifier.

    Deterministic analog of the paper's np.random draw: the coin is the
    id hash (same machinery as every sampler here), so membership is a
    pure function of (salt, id, score) — reproducible across engines,
    reruns, and cluster layouts, and monotone in the score.  One
    projection + filter, no shuffle.
    """
    keep_p = F.pow(F.lit(2.0) - F.col(score_col), F.lit(-float(alpha)))
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    return df.where(hash_fraction(key) < keep_p)


def mixture_sample(df: DataFrame, rates: dict[str, float],
                   group_col: str, id_col: str,
                   default_rate: float = 0.0,
                   salt: str = "mix") -> DataFrame:
    """Training-corpus mixing: keep each row with its GROUP's rate
    (e.g. ``{"web": 0.1, "books": 1.0}``) — one hash comparison per
    row, no shuffle, deterministic and re-partitioning-proof like every
    sampler here.  Groups absent from ``rates`` get ``default_rate``
    (0.0 = drop).  Because the coin is the id hash, raising one
    source's rate keeps a SUPERSET of the previous sample — mixtures
    can be re-weighted incrementally without resampling everything."""
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    rate = F.lit(float(default_rate))
    for g, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == g, F.lit(float(r))) \
            .otherwise(rate)
    return df.where(hash_fraction(key) < rate)


def token_budget_plan(df: DataFrame, weights: dict[str, float],
                      budget_tokens: int, group_col: str = "source",
                      token_col: str = "n_tokens") -> DataFrame:
    """Training-mixture token budgeting — the "epochs per dataset"
    table of the published LLM training recipes (GPT-3 Table 2.2,
    arXiv:2005.14165; LLaMA Table 1, arXiv:2302.13971): given each
    source's AVAILABLE tokens and a target mixture weight, compute the
    source's token target under the total budget, the sampling rate
    (target / available — above 1 means the source repeats), and the
    epoch count (ceil of the rate).

    Feed the ``rate`` column to :func:`mixture_sample` (rates <= 1) to
    materialize the mix; rates above 1 are the signal to replicate.

    Scale shape: one map-side-combinable groupBy on the source key (a
    handful of groups), then per-group arithmetic — the relation that
    reaches the driver is O(#sources).  Sources absent from ``weights``
    get weight 0 (excluded from the plan's denominator and output).
    """
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    share = F.lit(None).cast("double")
    for g, w in sorted(weights.items()):
        share = F.when(F.col(group_col) == g,
                       F.lit(float(w) / wsum)).otherwise(share)
    avail = (df.groupBy(group_col)
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.col(token_col)).cast("long")
                  .alias("avail_tokens"))
             .withColumn("weight", F.round(share, 6))
             .where(F.col("weight").isNotNull()))
    target = F.round(F.col("weight") * F.lit(float(budget_tokens)))
    # NULL rate/epochs when a weighted source has zero available
    # tokens: its target is unmeetable at any repetition count (and
    # target/0 would be an ANSI cast error, not a planning answer)
    rate = F.when(F.col("avail_tokens") > 0,
                  target / F.col("avail_tokens"))
    return (avail
            .withColumn("target_tokens", target.cast("long"))
            .withColumn("rate", F.round(rate, 6))
            .withColumn("epochs", F.ceil(rate).cast("int"))
            .orderBy(group_col))


def temperature_weights(df: DataFrame, alpha: float = 0.5,
                        group_col: str = "source",
                        token_col: str = "n_tokens") -> DataFrame:
    """Temperature-based mixture weights — the multilingual/UNIMAX
    rescaling (XLM, Conneau & Lample 2019 §3.1; mT5 uses alpha = 0.3):
    a source with n_s available tokens gets weight
    ``n_s^alpha / sum_t n_t^alpha``, flattening the natural (alpha = 1)
    distribution toward uniform (alpha = 0) so low-resource sources are
    up-sampled without hand-tuned tables.

    Returns ``(group, n_docs, avail_tokens, weight)`` — O(#sources)
    rows off one map-side-combinable groupBy; feed the weights to
    :func:`token_budget_plan` for the epochs table, then
    :func:`mixture_sample` to materialize."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    per = (df.groupBy(group_col)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(token_col)).cast("long")
                .alias("avail_tokens")))
    pw = F.pow(F.col("avail_tokens").cast("double"), F.lit(float(alpha)))
    tot = per.agg(F.sum(pw).alias("z"))
    return (per.crossJoin(F.broadcast(tot))
            .select(group_col, "n_docs", "avail_tokens",
                    F.round(pw / F.col("z"), 6).alias("weight"))
            .orderBy(group_col))


def unimax_plan(df: DataFrame, budget_tokens: int,
                max_epochs: float = 1.0, group_col: str = "source",
                token_col: str = "n_tokens") -> DataFrame:
    """UNIMAX mixture allocation (Chung et al., ICLR 2023): distribute
    ``budget_tokens`` as UNIFORMLY as possible across sources subject
    to a per-source epoch cap — the fairness-first alternative to
    temperature flattening (no alpha to tune; low-resource sources are
    never over-repeated past ``max_epochs``).

    The greedy water-filling: visit sources ASCENDING by available
    tokens (ties by name); each receives
    ``min(max_epochs * avail, remaining_budget / remaining_sources)``.
    A source hits its cap exactly when its capacity is below the
    current fair share; its surplus flows to larger sources.

    Scale shape: one map-side-combinable groupBy on the source key,
    then the greedy loop runs DRIVER-SIDE over the O(#sources)
    relation (metadata-scale, like `token_budget_plan`'s epoch
    table).  Returns ``(group, n_docs, avail_tokens, alloc_tokens,
    epochs, capped)`` sorted by group; ``epochs`` = alloc/avail
    (rounded 6dp), ``capped`` marks cap-bound sources."""
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be positive")
    per = (df.groupBy(group_col)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(token_col)).cast("long")
                .alias("avail_tokens"))
           .orderBy("avail_tokens", group_col)
           .collect())
    remaining = float(budget_tokens)
    left = len(per)
    rows = []
    for r in per:
        fair = remaining / left if left else 0.0
        cap = max_epochs * float(r["avail_tokens"])
        alloc = min(cap, fair)
        remaining -= alloc
        left -= 1
        rows.append((r[group_col], int(r["n_docs"]),
                     int(r["avail_tokens"]), round(alloc, 4),
                     round(alloc / float(r["avail_tokens"]), 6)
                     if r["avail_tokens"] else 0.0,
                     bool(cap < fair)))
    spark = df.sparkSession
    return (local_df(spark,
        rows, f"{group_col} string, n_docs bigint, avail_tokens bigint, "
              "alloc_tokens double, epochs double, capped boolean")
        .orderBy(group_col))
