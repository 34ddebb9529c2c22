"""Training-data hygiene: benchmark decontamination and PII scrubbing.

Reference anchor: none (Scardina has no text pipeline); these are the
north-star training-data operators.  Both follow published public
protocols:

* **decontamination** — the n-gram-overlap check of the GPT-2/GPT-3
  appendix lineage (Radford et al. 2019 §4; Brown et al. 2020 appendix
  C use 13-gram collision filtering): a training document is
  contaminated when a fraction of its word n-grams also occurs in a
  held-out benchmark/eval set.
* **PII scrubbing** — regex-class redaction (emails, phone numbers,
  IPv4, SSN-shaped ids) with typed placeholder tokens, the standard
  pre-training scrub (e.g. the C4/Pile cleaning recipes).

Scale shape:

* the benchmark n-gram set is eval-corpus-sized (MBs) → built once,
  ``distinct()``, and BROADCAST; the training corpus is only ever
  touched by one projection + one broadcast hash join, no
  train-side shuffle except the per-document partial-aggregated count
  rollup (shuffle volume O(documents), not O(n-grams): the explode
  keeps a document's grams partition-local, so map-side combine
  collapses them before the exchange);
* PII scrubbing is a pure ``regexp_replace`` chain — whole-stage
  codegen, zero shuffles, runs at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import word_shingles


def benchmark_ngrams(bench: DataFrame, text_col: str = "text",
                     n: int = 13) -> DataFrame:
    """The distinct word n-grams of the benchmark/eval corpus — the
    (small, broadcastable) contamination reference set."""
    return (bench
            .select(F.explode(word_shingles(text_col, n)).alias("gram"))
            .distinct())


def contamination_scores(train: DataFrame, bench: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 13) -> DataFrame:
    """Per training document: total n-grams, n-grams colliding with the
    benchmark set, and the contamination fraction.

    Returns ``(id, n_grams, n_hits, contamination)``; every document
    appears (documents shorter than ``n`` words degrade to one
    whole-text gram, mirroring ``word_shingles``).
    """
    grams = benchmark_ngrams(bench, text_col, n)
    tg = train.select(
        F.col(id_col),
        F.explode(word_shingles(text_col, n)).alias("gram"))
    hit = (tg.join(F.broadcast(grams.withColumn("__hit__", F.lit(1))),
                   "gram", "left")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.coalesce(F.sum("__hit__"), F.lit(0)).alias("n_hits")))
    return hit.select(
        id_col, "n_grams", F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits") / F.greatest(F.col("n_grams"), F.lit(1)), 4)
        .alias("contamination"))


def decontaminate(train: DataFrame, bench: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 13, max_contamination: float = 0.0) -> DataFrame:
    """Training rows whose benchmark n-gram overlap fraction is at most
    ``max_contamination`` (0.0 = drop on any collision, the strict
    GPT-3-style rule).

    The filter uses the UNROUNDED hit fraction — the rounded
    ``contamination`` column is for reporting only, and a long document
    with one real collision rounds to 0.0000 (20k+ grams), which must
    NOT survive the strict rule."""
    scores = contamination_scores(train, bench, id_col, text_col, n)
    frac = F.col("n_hits") / F.greatest(F.col("n_grams"), F.lit(1))
    keep = scores.where(frac <= max_contamination).select(id_col)
    return train.join(keep, id_col, "left_semi")


# ordered redaction rules: (name, pattern, placeholder).  Order matters —
# emails before bare number shapes so user@host survives as one EMAIL.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"(\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b",
     "<PHONE>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text",
              out_col: str | None = None,
              rules: list[tuple[str, str, str]] | None = None) -> DataFrame:
    """Redact PII spans with typed placeholders — one chained
    ``regexp_replace`` projection (codegen, no shuffle, no Python)."""
    out_col = out_col or text_col
    col = F.col(text_col)
    for _, pattern, placeholder in (rules or PII_RULES):
        col = F.regexp_replace(col, pattern, placeholder)
    return df.withColumn(out_col, col)
