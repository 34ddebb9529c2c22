"""BM25 full-text relevance scoring over a document table.

A training-data pipeline needs keyword retrieval (corpus audits,
targeted sampling, eval-set mining) next to embedding ANN
(`operators/similarity.py`).  This is Okapi BM25 computed entirely with
JVM-side array expressions — no Python UDF, no explode for the usual
few-term query:

* per-document term frequencies are ``size(filter(tokens, t == term))``
  array projections (one per query term) over a single tokenization;
* the corpus statistics (N, avg doc length, per-term document
  frequencies) reduce to ONE aggregate row that broadcasts back via a
  1-row cross join — never a driver collect;
* top-k by score is ``orderBy().limit()`` → TakeOrderedAndProject
  (per-partition top-k, no global sort).

Scale shape: two scans of the corpus (one folded into the stats
aggregate, one to score) and a k-sized result; every expression is
whole-stage codegen.  The scoring math is plain double arithmetic in a
fixed order, so a SQL oracle reproduces scores bit-for-bit.

Reference anchor: Scardina's only string matching is LIKE compiled over
per-column dictionaries (scardina/estimators.py:29-46); ranked retrieval
is part of this repo's training-data north star, beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOKENS = "__toks__"
DL = "__dl__"


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Lower-cased whitespace tokens + document length."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != "")
    return df.withColumn(TOKENS, toks).withColumn(DL, F.size(TOKENS))


def bm25_scores(df: DataFrame, query_terms: list[str],
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(id_col, score double) for every document with score > 0.

    ``score = Σ_terms idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with the BM25+-style smoothed ``idf = ln(1 + (N-df+0.5)/(df+0.5))``
    (non-negative for any df).
    """
    # tokens are lowercased, so normalize the query side symmetrically —
    # otherwise a capitalized term silently matches nothing.  The query
    # is a term SET (order-preserving dedup): duplicated terms must not
    # double their contribution.
    seen: set[str] = set()
    query_terms = [t for t in (t.lower() for t in query_terms)
                   if not (t in seen or seen.add(t))]
    toks = tokenize(df, text_col)

    def _is(term):
        # NB: a 2-arg lambda (even via default args) would be called by
        # Spark as (element, index) — close over the term instead
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col(TOKENS), _is(t))).alias(f"__tf{i}__")
        for i, t in enumerate(query_terms)]
    scored_in = toks.select(F.col(id_col), F.col(DL), *tf_cols)
    # avgdl from the EXACT integer token total divided once — a float
    # avg() would make scores depend on partial-aggregation order
    # (ulp-level, but enough to flip rank ties across engines/plans)
    stats = scored_in.agg(
        F.count(F.lit(1)).alias("__n__"),
        (F.sum(F.col(DL)).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("__avgdl__"),
        *[F.sum((F.col(f"__tf{i}__") > 0).cast("long"))
          .alias(f"__df{i}__") for i in range(len(query_terms))])
    j = scored_in.crossJoin(F.broadcast(stats))
    n = F.col("__n__").cast("double")
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}__").cast("double")
        df_t = F.col(f"__df{i}__").cast("double")
        idf = F.log(F.lit(1.0) + (n - df_t + F.lit(0.5))
                    / (df_t + F.lit(0.5)))
        norm = tf + F.lit(k1) * (F.lit(1.0 - b)
                                 + F.lit(b) * F.col(DL).cast("double")
                                 / F.col("__avgdl__"))
        score = score + idf * tf * F.lit(k1 + 1.0) / norm
    return (j.select(F.col(id_col), score.alias("score"))
            .where(F.col("score") > 0))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents by BM25 score (ties broken by id ascending) —
    TakeOrderedAndProject, never a global sort."""
    return (bm25_scores(df, query_terms, id_col, text_col, k1, b)
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))
