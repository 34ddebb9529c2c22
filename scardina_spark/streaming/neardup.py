"""Streaming near-duplicate detection: arriving documents LSH-probe a
standing corpus's materialized MinHash signature index — the
ingestion-time twin of the batch probe (`operators/dedup.
incremental_near_dup`, x60), the shape a crawl pipeline uses to reject
near-dups of the existing corpus as shards land.

Streaming composition (every stage legal under Structured Streaming):

1. per-row MinHash signing (`dedup.minhash_signatures_rowwise`) — a
   PURE PROJECTION (array_min over the document's own shingle array),
   bit-identical to the batch explode+groupBy signatures but with no
   streaming aggregation, so the downstream joins stay admissible;
2. band explode — stateless generator (one row per band, carrying the
   shingle array for later verification);
3. candidate generation — STREAM-STATIC equi-join on (band, band_hash)
   against the index's banded signature table (metadata-sized relative
   to the corpus; at 100 TB a parquet table bucketed by band_hash);
4. exact-Jaccard verification — STREAM-STATIC join on index_id against
   the index shingle table, then a projection; only colliding
   candidates pay it;
5. stateful pair suppression (`applyInPandasWithState`, update mode) —
   one GroupState per (new_id, index_id) so multi-band collisions and
   re-sent documents report a pair ONCE across micro-batches (the
   st10/st11 suppression pattern; the batch path's `.distinct()` is a
   blocking aggregation a stream can't run before a join).  State is
   O(reported pairs) × 1 byte across the state store's shuffle
   partitions; at 100 TB bound it by passing ``state_timeout_ms``
   (a ProcessingTimeTimeout matching the ingest horizon — state then
   tracks only the pairs sighted within the horizon).

The batch probe over the same shards IS the oracle: the emitted pairs
must equal `incremental_near_dup`'s rows exactly (test-pinned, and
st12's DuckDB oracle recomputes them from scratch).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import (_band_table, minhash_signatures,
                               minhash_signatures_rowwise, word_shingles)


def build_neardup_index(index_docs: DataFrame, id_col: str = "doc_id",
                        col: str = "text", k_shingle: int = 3,
                        n_hashes: int = 8, n_bands: int = 4,
                        hash_fn: str = "md5"
                        ) -> tuple[DataFrame, DataFrame]:
    """The standing corpus's two probe targets: ``(bands, shingles)``
    — the banded signature table ``(index_id, __band__, __bh__)`` and
    the shingle table ``(index_id, sh_b)``.  Both are plain batch
    relations (in practice materialized parquet, like `IvfIndex`);
    signatures use the batch explode+groupBy path, which
    spreads long documents' hashing across tasks."""
    sigs = minhash_signatures(index_docs, id_col, col, k_shingle,
                              n_hashes, hash_fn=hash_fn)
    bands = _band_table(sigs, id_col, "index_id", n_hashes, n_bands)
    shingles = index_docs.select(
        F.col(id_col).alias("index_id"),
        word_shingles(col, k_shingle).alias("sh_b"))
    return bands, shingles


def near_dup_probe_stream(docs: DataFrame, index_bands: DataFrame,
                          index_shingles: DataFrame,
                          id_col: str = "doc_id", col: str = "text",
                          k_shingle: int = 3, n_hashes: int = 8,
                          n_bands: int = 4, threshold: float = 0.8,
                          hash_fn: str = "md5",
                          state_timeout_ms: int | None = None
                          ) -> DataFrame:
    """``(new_id, index_id, jaccard)`` pairs at or above ``threshold``
    between a document STREAM and the standing index, each pair
    emitted exactly once (update mode).

    ``state_timeout_ms`` bounds suppression state at scale: when set,
    a pair's GroupState is evicted after that many ms of processing
    time without a new sighting (each sighting extends the window), so
    state is O(pairs seen within the horizon), not O(pairs ever) — the
    100 TB knob the module docstring calls for.  A pair re-arriving
    after eviction re-reports.  Default ``None`` keeps suppression
    unbounded (exact batch-oracle parity)."""
    rows_per_band = n_hashes // n_bands
    signed = minhash_signatures_rowwise(docs, id_col, col, k_shingle,
                                        n_hashes, hash_fn=hash_fn,
                                        keep_shingles=True)
    # band structs: same hash recipe as the static _band_table
    # (md5 over the '|'-joined signature slice), so stream and index
    # band keys collide exactly when the batch path's would
    band_structs = []
    for b in range(n_bands):
        cols = [F.col(f"sig_{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *cols)).alias("bh")))
    banded = (signed.select(
        F.col(id_col).alias("new_id"), F.col("__sh__").alias("sh_a"),
        F.explode(F.array(*band_structs)).alias("__b__"))
        .select("new_id", "sh_a",
                F.col("__b__.band").alias("__band__"),
                F.col("__b__.bh").alias("__bh__")))
    cands = banded.join(index_bands, ["__band__", "__bh__"])
    j = cands.join(index_shingles, "index_id")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    scored = (j.select(
        "new_id", "index_id",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold))

    def fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # horizon passed: forget the pair
            return
        jac = None
        for pdf in pdfs:
            if pdf.empty:
                continue
            jac = float(pdf["jaccard"].iloc[0])
        if jac is None or state.exists:
            if state.exists and state_timeout_ms is not None:
                # a sighting extends the suppression window (timeouts
                # are cleared on every invocation, so always re-arm)
                state.setTimeoutDuration(state_timeout_ms)
            return  # no rows, or this pair already reported
        state.update((1,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame({"new_id": [key[0]], "index_id": [key[1]],
                            "jaccard": [jac]})

    out_schema = "new_id bigint, index_id bigint, jaccard double"
    timeout = (GroupStateTimeout.NoTimeout if state_timeout_ms is None
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (scored.groupBy("new_id", "index_id")
            .applyInPandasWithState(fn, out_schema, "seen tinyint",
                                    "update", timeout))
