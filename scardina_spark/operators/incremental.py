"""Incremental data refresh: append new rows without rescanning history.

The reference has no incremental path — every append re-runs the whole
prep pipeline (scardina/datasets.py:68-380 recomputes fk_counts, fanouts,
weights and the join sample from scratch; the caches at datasets.py:75-79
only short-circuit when *nothing* changed).  At 100 TB a fact-table append
of 0.1% must not rescan the other 99.9%, so this module re-derives each
prep stage as a delta merge:

* ``merge_fk_counts`` — per-key multiplicity counts are a semigroup:
  counts(old ∪ delta) = counts(old) ⊎ counts(delta).  The merge shuffles
  only key-domain-sized count tables, never base rows.

* ``patch_sample_fanouts`` — the materialized join sample carries
  ``__adj_fanout__`` columns whose values go stale when the FK side of an
  edge grows.  The sample stores the join *keys*, so the patch is one
  broadcast-sized join per changed edge over the ≤n_max-row sample —
  no base-table access.

* ``append_refresh_tree_sample`` — for fact-rooted trees (every edge
  many-to-one away from the root: all weights ≡ 1, join size = root
  count), an append of Δ fact rows extends the join by exactly the
  Δ-rooted sub-join, disjoint from the old one.  An iid uniform sample of
  the new join is therefore a proportional mixture of (a) an iid
  subsample of the old sample (keeping each row is sub-sampling an iid
  draw — still iid) and (b) a fresh sample of the Δ-rooted join; split
  sizes are drawn binomially so the mixture is the exact row-level
  multinomial over the full join.  Cost: O(Δ join) + O(sample), zero old
  fact-table scans.

Non-fact-rooted trees (appends change ``__weight__`` transitively) fall
back to recompute-with-merged-aggregates: ``merge_fk_counts`` still saves
the count scans, but weights and the sample re-run; the API refuses the
cheap path rather than return a biased sample.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..estimators.sample import TreeSample, attach_tree_adj_fanouts
from ..schema import Relationship
from .fanout import COUNT, adj_fanout_col, attach_count, fk_counts
from .sampler import SAMPLE_ID, fact_rooted, join_sample


def _sum_counts(a: DataFrame, b: DataFrame, fk_col: str) -> DataFrame:
    """counts(A ∪ B) from two per-key count tables: union, sum per key."""
    return (a.unionByName(b)
            .groupBy(F.col(f"`{fk_col}`").alias(fk_col))
            .agg(F.sum(COUNT).alias(COUNT)))


def merge_fk_counts(old_counts: DataFrame, delta: DataFrame, fk_col: str
                    ) -> DataFrame:
    """counts(old ∪ delta) from counts(old) and the delta *rows*: union the
    delta's own counts and sum per key.  Only count tables shuffle."""
    return _sum_counts(old_counts, fk_counts(delta, fk_col), fk_col)


def patch_sample_fanouts(sample: DataFrame, tree_rels: list[Relationship],
                         merged_counts: dict[str, DataFrame],
                         grown_table: str) -> DataFrame:
    """Overwrite the sample's ``__adj_fanout__`` columns for every edge
    whose FK side is ``grown_table``, using ``merged_counts[fk_col]``.
    Null-extended rows (null key) keep the fill-1 convention."""
    out = sample
    for rel in tree_rels:
        if rel.fk_table != grown_table:
            continue
        col = f"{rel.pk_table}.{adj_fanout_col(rel.pk_col, rel.fk_table, rel.fk_col)}"
        if col not in out.columns:
            continue
        out = out.drop(col)
        out = attach_count(out, f"{rel.pk_table}.{rel.pk_col}",
                           merged_counts[rel.fk_col], rel.fk_col, col)
    return out


def append_refresh_tree_sample(
    ts: TreeSample, tables: dict[str, DataFrame], delta_root: DataFrame,
    old_fk_counts: dict[str, DataFrame] | None = None,
    n_min: int = 100_000, n_max: int = 500_000, seed: int = 43,
    merged_fk_counts: dict[str, DataFrame] | None = None,
) -> TreeSample:
    """Refresh ``ts`` after appending ``delta_root`` rows to its root table.

    ``tables`` holds the *old* tables (dimensions are read, the old root is
    only scanned if ``old_fk_counts`` is missing an edge).  ``old_fk_counts``
    maps fk_col → the root's per-key count table from the original prep
    (e.g. a PrepPipeline checkpoint); providing it makes the refresh
    old-fact-scan-free.  Only valid for fact-rooted trees.

    ``merged_fk_counts`` short-circuits step 1 entirely: pass the
    ALREADY-merged (base ∪ every delta so far) per-key count tables —
    e.g. base counts ⊎ the streaming state maintained by
    ``streaming/stats.maintain_fk_counts`` — and the refresh touches
    neither the old root nor the delta for counting (the delta rows are
    then read only by the Δ-join sampler).
    """
    tree, root = ts.tree, ts.root
    if not fact_rooted(tree, root):
        raise ValueError(
            "append_refresh_tree_sample requires a fact-rooted tree "
            "(appends change __weight__ otherwise; re-run prepare_tree_sample "
            "with merge_fk_counts-refreshed aggregates instead)")

    delta_root = delta_root.persist()
    delta_n = delta_root.count()
    if delta_n == 0:
        delta_root.unpersist()
        return ts
    new_join_size = ts.join_size + delta_n

    # 1. merged per-key counts for every edge the grown root feeds
    merged: dict[str, DataFrame] = {}
    for rel in tree.rels:
        if rel.fk_table != root:
            continue
        pre = (merged_fk_counts or {}).get(rel.fk_col)
        if pre is not None:
            merged[rel.fk_col] = pre
            continue
        old = (old_fk_counts or {}).get(rel.fk_col)
        if old is None:
            old = fk_counts(tables[root], rel.fk_col)
        merged[rel.fk_col] = merge_fk_counts(old, delta_root, rel.fk_col)

    # 2. patch stale fanout columns in the kept sample rows
    patched = patch_sample_fanouts(ts.sample, list(tree.rels), merged, root)

    # 3. sample the Δ-rooted join (dims unchanged, root counts merged)
    n_new = max(n_min, min(n_max, new_join_size))
    rs = np.random.RandomState(seed)
    n_delta = int(rs.binomial(n_new, delta_n / new_join_size))
    n_delta = max(1, min(n_delta, n_new))
    n_keep = n_new - n_delta

    adj = attach_tree_adj_fanouts(
        tree, {**tables, root: delta_root},
        {(root, fk): cnt for fk, cnt in merged.items()})
    delta_cached, _, _ = join_sample(tree, adj, root, n_delta, n_delta,
                                     seed=seed)

    # 4. iid subsample of the old sample + id reassignment.  The global
    # window sorts only the ≤n_max-row sample — bounded work independent
    # of data scale (same bound as TreeSample.localize).
    kept = (patched
            .withColumn("__r__", F.rand(seed + 1))
            .withColumn("__rn__",
                        F.row_number().over(Window.orderBy(F.col("__r__"),
                                                           F.col(SAMPLE_ID))))
            .where(F.col("__rn__") <= F.lit(n_keep))
            .withColumn(SAMPLE_ID, (F.col("__rn__") - 1).cast("long"))
            .drop("__r__", "__rn__"))
    delta_samp = delta_cached.withColumn(
        SAMPLE_ID, (F.col(SAMPLE_ID) + F.lit(n_keep)).cast("long"))
    samp = kept.unionByName(delta_samp)

    samp = samp.coalesce(max(4, n_new // 65536)).cache()
    samp.count()
    ts.sample.unpersist()
    delta_cached.unpersist()
    delta_root.unpersist()
    return TreeSample(tree, root, samp, new_join_size, n_new)


def streaming_refresh_tree_sample(
    ts: TreeSample, tables: dict[str, DataFrame], delta_dir: str,
    state_root: str,
    base_fk_counts: dict[str, DataFrame] | None = None,
    n_min: int = 100_000, n_max: int = 500_000, seed: int = 43,
    timeout_sec: int = 120,
) -> tuple[TreeSample, dict[str, DataFrame]]:
    """ONE ingest step of the streaming→model loop: an arriving root
    shard (parquet under ``delta_dir``) updates the fanout statistics
    THROUGH the standing streaming count state, then the sample mixture
    — closing the r9 gap where ``streaming/stats`` maintained counts
    nobody downstream consumed.

    Per root FK edge the shard is drained (availableNow) into
    ``state_root/<fk_col>`` by ``streaming/stats.maintain_fk_counts``
    (idempotent per-batch snapshots, restart-safe); the CURRENT merged
    counts are then ``base_counts ⊎ read_fk_counts(state)`` — a pure
    count-table merge, so across MANY shards neither the base root nor
    any previous shard is ever rescanned (the streaming state already
    accumulates them).  Those merged tables feed
    :func:`append_refresh_tree_sample` via ``merged_fk_counts``.

    ``tables`` must hold the ORIGINAL base tables and ``ts`` the sample
    current through the previous shard — the invariant is
    ``merged = base ⊎ state`` where the state holds every streamed
    shard including this one.  Returns ``(refreshed_ts, merged_counts)``
    so the caller can also feed the counts into a model refresh
    (``model/bridge.fine_tune_single_table`` consumes the delta rows
    themselves — see the CLI ``refresh`` composition).

    Exactly-once: the foreachBatch checkpoint under each state dir
    means a re-run of the same shard directory is a no-op (files
    already consumed), so driving this function twice with the same
    ``delta_dir`` cannot double-count — the test pins that."""
    import os

    from ..streaming.stats import (KEY, maintain_fk_counts,
                                   read_fk_counts)

    spark = delta_spark = ts.sample.sparkSession
    schema = spark.read.parquet(delta_dir).schema
    root = ts.root
    merged: dict[str, DataFrame] = {}
    for rel in ts.tree.rels:
        if rel.fk_table != root:
            continue
        stream = delta_spark.readStream.schema(schema).parquet(delta_dir)
        sdir = os.path.join(state_root, rel.fk_col)
        maintain_fk_counts(stream, rel.fk_col, sdir,
                           timeout_sec=timeout_sec)
        state = (read_fk_counts(spark, sdir)
                 .select(F.col(KEY).alias(rel.fk_col),
                         F.col("cnt").alias(COUNT)))
        base = (base_fk_counts or {}).get(rel.fk_col)
        if base is None:
            base = fk_counts(tables[root], rel.fk_col)
        merged[rel.fk_col] = _sum_counts(base, state, rel.fk_col)
    delta_root = spark.read.parquet(delta_dir)
    out = append_refresh_tree_sample(
        ts, tables, delta_root, n_min=n_min, n_max=n_max, seed=seed,
        merged_fk_counts=merged)
    return out, merged
