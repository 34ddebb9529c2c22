"""Streaming maintenance of estimator statistics.

The reference recomputes its prep statistics from scratch on any change
(scardina/datasets.py:68-380; the caches at datasets.py:75-79 only
short-circuit when nothing changed).  `operators/incremental.py` gives the
batch delta-merge; this module drives the same semigroup through
Structured Streaming so the per-FK multiplicity counts (J1, the first
stage of the prep pipeline) stay fresh as events arrive.

Design — exactly-once via idempotent per-batch snapshots:

* ``foreachBatch`` writes each micro-batch's OWN count table to
  ``state_dir/batch_id=<n>`` with ``mode("overwrite")``.  A replayed
  batch (failure/restart) overwrites its own directory — the standard
  foreachBatch idempotency pattern — so the state is correct under
  at-least-once delivery.
* Counts are a semigroup (counts(A ∪ B) = counts(A) ⊎ counts(B), the
  same fact `incremental.merge_fk_counts` exploits), so the CURRENT
  statistic is a read-time merge: scan ``batch_id=*`` and
  ``groupBy(key).sum``.  No read-modify-write cycle ever touches
  previous batches, which removes the lost-update race a single
  snapshot file would have.

At 100 TB each delta is key-cardinality sized (not row sized); the
read-time merge shuffles only count tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.fanout import COUNT, fk_counts

KEY = "key"


def _drain_deltas(stream: DataFrame, state_dir: str, delta_fn,
                  timeout_sec: int) -> None:
    """Drain ``stream`` (availableNow) writing ``delta_fn(batch)`` of each
    micro-batch to its own ``state_dir/batch_id=<n>``.  Restart-safe:
    the checkpoint prevents re-reading consumed files, and a replayed
    batch overwrites only its own ``batch_id=`` directory."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (delta_fn(batch_df).write.mode("overwrite")
         .parquet(f"{state_dir}/batch_id={batch_id}"))

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", f"{state_dir}/_checkpoint")
         .trigger(availableNow=True)
         .start())
    _await_drained(q, timeout_sec)


def _await_drained(q, timeout_sec: int) -> None:
    """Fail fast if the availableNow drain did not finish: returning
    with the sink still writing would let a read-time fold silently
    merge partial state."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream did not drain within {timeout_sec}s; "
            "state is partial — raise timeout_sec or reduce the batch")


def _read_deltas(spark: SparkSession, state_dir: str) -> DataFrame:
    """All batch delta tables under ``state_dir``."""
    return spark.read.parquet(f"{state_dir}/batch_id=*")


def maintain_fk_counts(stream: DataFrame, fk_col: str, state_dir: str,
                       timeout_sec: int = 120) -> None:
    """Drain ``stream`` (availableNow) maintaining per-``fk_col`` counts
    under ``state_dir`` (see ``_drain_deltas``)."""
    _drain_deltas(
        stream, state_dir,
        lambda b: fk_counts(b, fk_col).select(
            F.col(f"`{fk_col}`").alias(KEY), COUNT),
        timeout_sec)


def read_fk_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current counts: semigroup merge of every batch delta —
    ``(key, cnt)``."""
    deltas = _read_deltas(spark, state_dir)
    return (deltas.groupBy(KEY)
            .agg(F.sum(COUNT).alias("cnt")))


def maintain_kmv_sketch(stream: DataFrame, col: str, state_dir: str,
                        k: int = 64, group_cols: list[str] | None = None,
                        timeout_sec: int = 120) -> None:
    """Drain ``stream`` (availableNow) maintaining a per-group KMV
    distinct sketch under ``state_dir``.  Same exactly-once shape as
    ``maintain_fk_counts``: each micro-batch overwrites only its own
    ``batch_id=`` delta, and because KMV sketches are a semigroup
    (merge = union hashes, re-take k smallest — `sketches.kmv_fold`),
    the current sketch is a read-time fold of the deltas.  Each delta is
    O(groups × k) regardless of batch size."""
    from ..operators.sketches import kmv_sketch

    _drain_deltas(stream, state_dir,
                  lambda b: kmv_sketch(b, col, k, group_cols), timeout_sec)


def read_kmv_sketch(spark: SparkSession, state_dir: str, k: int = 64,
                    group_cols: list[str] | None = None) -> DataFrame:
    """Current sketch: n-way semigroup merge of every batch delta —
    ``(group..., hashes array<long>)``, identical to the sketch of the
    union of all batches."""
    from ..operators.sketches import kmv_fold

    deltas = _read_deltas(spark, state_dir)
    return kmv_fold(deltas, k, group_cols)


def maintain_quantile_sketch(stream: DataFrame, value_col: str,
                             key_col: str, state_dir: str, k: int = 256,
                             group_cols: list[str] | None = None,
                             timeout_sec: int = 120) -> None:
    """Drain ``stream`` (availableNow) maintaining a per-group quantile
    sketch (bottom-k-by-hash row sample) under ``state_dir``.  Same
    exactly-once shape as ``maintain_kmv_sketch``: idempotent per-batch
    deltas; the sketch is a semigroup (``_quantile_fold`` — union
    samples, re-take the k smallest hashes), so the current summary is a
    read-time fold.  Each delta is O(groups × k) regardless of batch
    size."""
    from ..operators.sketches import quantile_sketch

    _drain_deltas(
        stream, state_dir,
        lambda b: quantile_sketch(b, value_col, key_col, k, group_cols),
        timeout_sec)


def _quantile_fold(deltas: DataFrame, k: int,
                   group_cols: list[str] | None) -> DataFrame:
    """n-way semigroup merge of quantile-sketch deltas (union samples,
    re-take the k smallest hashes)."""
    group_cols = group_cols or []
    ex = deltas.select(*group_cols, F.explode("samp").alias("__s__"))
    grouped = ex.groupBy(*group_cols) if group_cols else ex.groupBy()
    return grouped.agg(
        F.slice(F.sort_array(F.collect_list("__s__")), 1, k).alias("samp"))


def read_quantile_sketch(spark: SparkSession, state_dir: str, k: int = 256,
                         group_cols: list[str] | None = None) -> DataFrame:
    """Current quantile sketch: n-way semigroup merge of every batch
    delta — identical to the sketch of the union of all batches
    (deterministic hashing, so bit-for-bit)."""
    return _quantile_fold(_read_deltas(spark, state_dir), k, group_cols)


def token_account_stream(docs: DataFrame, merges: list[tuple[str, str]],
                         group_col: str = "source") -> DataFrame:
    """Per-source tokenizer accounting ON INGEST: arriving documents
    are tokenized with the frozen merge table (``bpe.bpe_apply`` — a
    pure stateless projection, so it composes with the file source
    unchanged, the st13 lesson) and the running per-source token/doc
    totals feed the budget planners (x49/x67) without a later
    corpus-wide batch pass.  The aggregation is the only stateful part:
    one map-side-combinable groupBy whose state is |sources|-sized —
    complete output mode, no watermark needed (totals, not windows).
    Returns ``(group_col, n_docs, total_bpe)``."""
    from ..operators.bpe import bpe_apply

    toks = bpe_apply(docs, merges, keep_cols=(group_col,))
    return (toks.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bpe").alias("total_bpe")))
