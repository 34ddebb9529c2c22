"""Distributed unbiased weighted join sampling.

The reference materializes an unbiased sample of each sub-join by (a)
sampling root rows with replacement proportional to ``__weight__`` and (b)
walking the join tree, picking ONE matching child row per sample
proportional to the child's ``__weight__``, null-extending when no child
matches (reference semantics: scardina/join.py:73-245 — per-key Python
dict loops, single-node).  This module re-derives the operator as pure
DataFrame algebra so it scales:

* Root sampling, uniform fast path (fact-rooted trees, all weights 1):
  exact multinomial-with-replacement, shuffle-free.  One tiny job
  collects per-partition counts plus a CONTENT fingerprint (min row
  hash) per partition; the driver splits the n draws across partitions
  with a single multinomial draw in FINGERPRINT order (so the draw is
  invariant under partition renumbering — two writes of the same data
  can list identical files in different orders, permuting
  spark_partition_id), and every partition draws its quota locally with
  numpy over Arrow batches, seeded by its fingerprint.  O(#partitions)
  driver state, zero shuffles — the 100 TB path.

* Root sampling, weighted path: a content-deterministic INTERVAL draw
  over the global exclusive prefix sum of weights in the total order of
  the row's own columns (``prefix.with_prefix_sum``: one
  range-partitioned sort + broadcast offsets + an Arrow cumsum).  The
  driver draws n sorted uniforms scaled to the total weight; each Arrow
  batch binary-searches the targets falling in its [first cum,
  last cum + w) span and emits the covered rows.  Join-multiplicity
  weights are integer-valued counts (< 2^53), so every partial sum is
  EXACT in float64 in any grouping — the draw is bit-identical for any
  physical layout of the same logical relation (fractional weights
  degrade gracefully: a target within 1 ulp of an interval edge may
  shift by one row).

* Per-edge weighted pick: Efraimidis–Spirakis A-Res weighted reservoir —
  join samples to candidate children on the key, give every candidate an
  independent exponential-race score ``rand()^(1/w)``, and keep the argmax
  per sample (``max_by``).  This picks child ``j`` with probability
  ``w_j / Σ_k w_k`` exactly, with no per-key cumulative sums and no
  floating-point interval cracks.  Skewed join keys are handled by AQE
  skew-join splitting rather than a hand-rolled memo (the reference's
  ≤10-distinct-keys special case, scardina/join.py:166-206).

Output columns are prefixed ``<table>.<col>`` with ``__in__:<table>``
existence markers, matching the reference layout (scardina/join.py:86-87,
221-230): unmatched children contribute an all-NULL row with fanouts 1 and
``__in__ = False``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schema import Subschema
from .prefix import PID, _safe_names
from .weights import WEIGHT

SAMPLE_ID = "__sample_id__"


def _q(name: str) -> F.Column:
    return F.col(f"`{name}`")


def weighted_sample_with_replacement(
    df: DataFrame, weight_col: str, order_cols: list[str] | None = None,
    n: int = 1, seed: int = 42, uniform: bool = False,
    cache_out: list | None = None,
    n_bounds: tuple[int, int] | None = None,
    meta_out: list | None = None,
) -> DataFrame:
    """Exactly ``n`` draws with replacement, P(row) ∝ ``weight_col``.

    Returns the sampled rows (original columns + ``__sample_id__``); a row
    drawn k times appears k times with distinct sample ids (dense 0..n-1).

    ``uniform=True`` asserts every weight is the same positive constant
    (the fact-rooted fast path, where all weights are 1): two jobs, zero
    shuffles — per-partition (count, content fingerprint) → driver-side
    multinomial split of ``n`` in FINGERPRINT order → per-partition local
    draws (Arrow-batched numpy) seeded by the fingerprint.  Keying
    everything on a content fingerprint (min row hash over
    ``order_cols``) instead of ``spark_partition_id`` makes the draw
    invariant under partition RENUMBERING: two writes of identical data
    produce identically-sized files that the scan may list — and number —
    in a different order (measured: the synthetic-IMDB bench stage drew
    different samples at identical seed before this change).  The
    ``order_cols`` sort additionally neutralizes within-partition arrival
    order (shuffle replay after cache loss).

    The weighted path is a content-deterministic INTERVAL draw: the
    global exclusive prefix sum of weights in ``order_cols`` total order
    (``prefix.with_prefix_sum`` — one range shuffle), n sorted uniform
    targets scaled to the total weight on the driver, and an Arrow pass
    where each batch binary-searches the targets its [cum_first,
    cum_last + w_last) span covers.  Join-multiplicity weights are
    integer-valued counts (< 2^53): every partial sum is exact in
    float64 under ANY grouping, so the draw is bit-identical for any
    physical layout of the same logical relation — including the
    weight-attach lineage, whose post-join partitioning this function
    cannot control.  (Fractional weights degrade gracefully: a target
    within 1 ulp of an interval edge may shift by one row.)

    Pass ``cache_out`` (a list) to receive the weighted path's persist
    handle (the sorted relation is read twice) — the caller should
    ``unpersist()`` it once the sample is materialized.

    ``n_bounds=(n_min, n_max)`` (weighted path only) resolves ``n`` from
    the weight total the draw computes anyway — ``n = clamp(int(total))``
    — so callers sizing the draw by the join size skip their own full
    aggregation pass over the weighted relation (the total is exact for
    integer-valued weights, so it equals the separate aggregate
    bit-for-bit).  ``meta_out`` (a list) receives ``(join_size, n)``.
    """
    sc = df.sparkSession.sparkContext
    order_cols = list(order_cols or df.columns)
    if not uniform:
        return _interval_draw(df, weight_col, order_cols, n, seed,
                              cache_out, n_bounds=n_bounds,
                              meta_out=meta_out)
    if n_bounds is not None:
        raise ValueError("n_bounds requires the weighted path")

    fp_expr = F.min(F.xxhash64(*[_q(c) for c in order_cols])).alias("fp")
    pos = df.withColumn(PID, F.spark_partition_id())
    part = pos.groupBy(PID).agg(F.count(F.lit(1)).alias("s"),
                                fp_expr).collect()
    sums = {int(r[PID]): float(r["s"] or 0.0) for r in part}
    fps = {int(r[PID]): int(r["fp"]) for r in part if r["s"]}
    total = sum(sums.values())
    if not total or total <= 0:
        raise ValueError("weighted_sample_with_replacement: no positive weight")

    # fingerprint order (ties broken by count then pid — pid only
    # matters when two partitions hold identical minimal rows)
    pids = sorted(fps, key=lambda p: (fps[p], sums[p], p))
    rs = np.random.RandomState(seed)
    counts = rs.multinomial(n, [sums[p] / total for p in pids])
    quota = {p: int(c) for p, c in zip(pids, counts)}
    offsets, running = {}, 0
    for p in pids:
        offsets[p] = running
        running += quota[p]

    b_quota = sc.broadcast(quota)
    b_off = sc.broadcast(offsets)
    b_fp = sc.broadcast(fps)

    safe, mapping = _safe_names(pos)
    pid_safe = mapping[PID]
    sort_safe = [mapping[c] for c in order_cols if c in mapping]
    schema = StructType(safe.schema.fields + [StructField(SAMPLE_ID, LongType())])

    def draw(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True)
        if sort_safe:
            pdf = pdf.sort_values(sort_safe, kind="mergesort",
                                  ignore_index=True)
        pid = int(pdf[pid_safe].iloc[0])
        k = b_quota.value.get(pid, 0)
        if k <= 0:
            return
        fp = b_fp.value[pid]
        prs = np.random.RandomState(
            (seed * 1_000_003 + 7919 * fp) % (2 ** 32))
        idx = prs.randint(len(pdf), size=k)
        out = pdf.iloc[idx].copy()
        out[SAMPLE_ID] = np.arange(b_off.value[pid], b_off.value[pid] + k,
                                   dtype="int64")
        yield out

    out = safe.mapInPandas(draw, schema)
    for orig, s in mapping.items():
        out = out.withColumnRenamed(s, orig)
    return out.drop(PID)


def _interval_draw(df: DataFrame, weight_col: str, order_cols: list[str],
                   n: int, seed: int,
                   cache_out: list | None,
                   n_bounds: tuple[int, int] | None = None,
                   meta_out: list | None = None) -> DataFrame:
    """Weighted multinomial-with-replacement via interval search over the
    global exclusive prefix sum (see weighted_sample_with_replacement).

    One fused Arrow pass (r12): the exclusive prefix sum and the
    interval search run in the SAME ``mapInPandas`` over the sorted
    relation — previously a ``with_prefix_sum`` pass materialized the
    cum column through one full-width Python round-trip and a second
    pass searched it, and a third job re-aggregated the total.  The
    fused form computes per-batch cums from the broadcast partition
    offsets (the identical shifted-cumsum arithmetic, bit-for-bit) and
    derives the total from the same per-partition sums the offsets
    need, so the draw costs ONE Python stage and ONE tiny aggregate.
    Join-multiplicity weights are integer-valued (< 2^53), so every
    partial sum is exact in float64 under any grouping — the fused
    total and cums equal the old pipeline's exactly (test-pinned);
    fractional weights keep the documented degrade-gracefully caveat."""
    from .prefix import _with_sorted_partitions

    pos = df.where(_q(weight_col) > 0)
    d = _with_sorted_partitions(pos, order_cols, None).persist()
    if cache_out is not None:
        cache_out.append(d)
    part_rows = (d.groupBy(PID)
                 .agg(F.sum(_q(weight_col).cast("double")).alias("s"))
                 .collect())
    part_sums = {int(r[PID]): float(r["s"] or 0.0) for r in part_rows}
    offsets = {}
    running = 0.0
    for pid in sorted(part_sums):
        offsets[pid] = running
        running += part_sums[pid]
    total = running
    if not total or total <= 0:
        d.unpersist()
        if cache_out is not None and cache_out and cache_out[-1] is d:
            cache_out.pop()
        raise ValueError("weighted_sample_with_replacement: no positive weight")
    # join-size-bounded draws: the weight total IS the join size (exact
    # integer double), so resolving n here spares the caller a separate
    # full-relation aggregate
    if n_bounds is not None:
        n = max(n_bounds[0], min(n_bounds[1], int(total)))
    if meta_out is not None:
        meta_out.append((int(total), n))

    rs = np.random.RandomState(seed)
    targets = np.sort(rs.random_sample(n)) * total
    sc = df.sparkSession.sparkContext
    b_t = sc.broadcast(targets)
    b_off = sc.broadcast(offsets)

    safe, mapping = _safe_names(d)
    w_safe, pid_safe = mapping[weight_col], mapping[PID]
    schema = StructType(safe.schema.fields + [StructField(SAMPLE_ID, LongType())])

    def draw(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = b_t.value
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if acc is None:
                acc = float(b_off.value.get(int(pdf[pid_safe].iloc[0]),
                                            0.0))
            w = pdf[w_safe].astype("float64").fillna(0.0).to_numpy()
            # exclusive prefix: shifted sequential cumsum + partition
            # offset — the exact arithmetic with_prefix_sum used
            c0 = np.concatenate(([0.0], np.cumsum(w)[:-1])) + acc
            acc += float(w.sum())
            lo = int(np.searchsorted(t, c0[0], side="left"))
            hi = int(np.searchsorted(t, c0[-1] + w[-1], side="left"))
            if lo >= hi:
                continue
            idx = np.searchsorted(c0, t[lo:hi], side="right") - 1
            out = pdf.iloc[idx].copy()
            out[SAMPLE_ID] = np.arange(lo, hi, dtype="int64")
            yield out

    out = safe.mapInPandas(draw, schema)
    for orig, s in mapping.items():
        out = out.withColumnRenamed(s, orig)
    return out.drop(PID)


# checkpointed sampler intermediates ride the same ``cache_out``
# release protocol as the sampler's persists (see operators/storage.py)
from .storage import CheckpointHandle as _CheckpointHandle  # noqa: E402


def pick_one_child_per_sample(
    samples: DataFrame, sample_key: str, child: DataFrame, child_key: str,
    child_table: str, weighted: bool, seed: int,
    cache_out: list | None = None, pick_broadcast: bool = False,
) -> DataFrame:
    """Attach exactly one child row (columns prefixed ``<child_table>.``) to
    every sample row, picked ∝ child ``__weight__`` when ``weighted`` (A-Res),
    else via the unique PK match; null-extend when no child matches."""
    pref = [F.col(f"`{c}`").alias(f"{child_table}.{c}") for c in child.columns]
    c = child.select(*pref).withColumn(f"__in__:{child_table}", F.lit(True))
    ckey = f"{child_table}.{child_key}"
    cweight = f"{child_table}.{WEIGHT}"

    if weighted:
        # The A-Res pick both aggregates over ``samples`` (the argmax)
        # and joins the aggregate back onto ``samples``: without a cut,
        # the accumulated sample lineage sits on BOTH sides of that
        # join, doubling the whole upstream plan per weighted edge —
        # 4 weighted edges = 16 copies of the root-draw subtree
        # (measured: 482 Exchange / 64 MapInPandas nodes in one prep
        # plan, plans/r11/imdb_prep_before.txt; Catalyst/AQE re-planned
        # the exponential DAG on every action).  localCheckpoint
        # materializes the n-row accumulated sample once per weighted
        # edge: linear plans, each edge's work executed exactly once —
        # measured 30.2 s → 21.3 s on the IMDB prep (a .persist() cut
        # was tried instead and was SLOWER than baseline, 34.5 s: the
        # InMemoryRelation columnar conversion per edge costs more than
        # it saves at this width).  Values are unchanged — the
        # checkpoint only truncates lineage.  The checkpointed RDD
        # rides on ``cache_out`` as an unpersist()-able handle, released
        # by prepare_tree_sample once the final sample is materialized
        # (same protocol as the root draw's persist); NOTE the final
        # sample's recompute path dies with the handle — callers keep
        # using it through its own cache, which in local mode spills
        # rather than evicts (on a cluster, checkpoint the sample to
        # storage before releasing, operators/pipeline.py).
        samples = samples.localCheckpoint()
        if cache_out is not None:
            cache_out.append(_CheckpointHandle(samples))

    cond = _q(sample_key) == _q(ckey)
    if weighted:
        # Decide with SMALL rows, attach once (guide §8): the A-Res
        # race needs only (sample_id, join key) from the sample side —
        # the u-hash is keyed on SAMPLE_ID and the candidate row, never
        # on the sample's other columns — so the candidate join runs
        # over a 2-column key relation instead of exchanging the
        # full-width accumulated sample per weighted edge.  The join is
        # INNER (a broadcastable shape for the small preserved side;
        # left-outer cannot build on its preserved side): sample ids
        # with no candidate simply have no ``picked`` row, and the
        # left-outer join-back below null-extends them to exactly the
        # all-NULL child the old left_outer+max_by produced.  The n-row
        # key relation broadcasts under the same bound as the pick
        # join-back, which also spares the CHILD side its Exchange (the
        # checkpointed sample relation has no size statistics, so Spark
        # would never auto-broadcast it).
        keys = samples.select(_q(SAMPLE_ID), _q(sample_key))
        if pick_broadcast:
            keys = F.broadcast(keys)
        joined = keys.join(c, cond)
        # A-Res score: u^(1/w) — max per sample picks ∝ w.  The uniform
        # u is HASH-derived from (sample_id, full candidate row), not
        # F.rand: rand() numbers rows by position within their partition,
        # and a shuffle join replays rows in nondeterministic order, so
        # seeded rand picks differed across sessions (measured: the jm
        # suite's sample hash changed run to run, q-error tail 1.33-2.22
        # at identical seed/code).  A hash of the row content is
        # layout-independent by construction — same inputs, same pick, on
        # any cluster.  Candidate rows within a sample are distinct in at
        # least their own PK column (whole child rows join in), so each
        # gets an independent race score.
        u = (F.pmod(F.xxhash64(F.col(SAMPLE_ID), *[_q(cc) for cc in c.columns],
                               F.lit(seed)),
                    F.lit(1 << 53)).cast("double") + F.lit(0.5)) / (1 << 53)
        z = F.pow(u, F.lit(1.0) / F.greatest(_q(cweight).cast("double"),
                                             F.lit(1e-300)))
        joined = joined.withColumn("__z__", z)
        child_struct = F.struct(*[_q(cc).alias(cc) for cc in c.columns])
        # Two-pass argmax instead of max_by(child_struct, z): max_by
        # over a STRUCT has an immutable aggregation buffer, so Spark
        # plans it as SortAggregate — both the partial and the final
        # agg SORT every (sample, candidate) row at full child width,
        # interpreted, no codegen (measured on the synthetic-IMDB
        # movie_info edge: 29.6M candidates, 399 CPU-s + 76 s JVM GC in
        # the two sorts; plain max(z) over the same candidates plans as
        # codegen HashAggregate and runs in 2.8 s).  So: (1) codegen
        # max(z) per sample; (2) re-enumerate the same candidate join
        # (codegen too; the broadcast exchange is reused) and keep the
        # rows whose z EQUALS the per-sample max — z is a deterministic
        # pure function of (sample_id, candidate row, seed), so the two
        # evaluations are bit-identical; (3) a max_by tie-break on the
        # ≤1-row-per-sample winner relation (exact-z ties are either
        # identical candidate rows — interchangeable by construction —
        # or 2^-53 hash collisions), whose SortAggregate input is
        # draw-bounded, never candidate-bounded.  The winning row is
        # identical to the one-pass max_by's for every non-tied sample,
        # and tied samples receive content-equal rows.
        mz = (joined.groupBy(SAMPLE_ID)
              .agg(F.max("__z__").alias("__mz__"))
              .select(F.col(SAMPLE_ID).alias("__mz_sid__"),
                      F.col("__mz__")))
        if pick_broadcast:
            mz = F.broadcast(mz)
        winners = joined.join(
            mz, (_q(SAMPLE_ID) == _q("__mz_sid__"))
            & (F.col("__z__") == F.col("__mz__"))
        ).drop("__mz_sid__", "__mz__")
        picked = winners.groupBy(SAMPLE_ID).agg(
            F.max_by(child_struct, F.col("__z__")).alias("__c__"))
        # ``picked`` is at most one row per sample id — bounded by the
        # DRAW size (n ≤ n_max, 500k by default), never by data scale,
        # so when the caller certifies that bound (join_sample does) the
        # join-back broadcasts it: the full-width accumulated sample then
        # stays in place instead of paying an Exchange+Sort per weighted
        # edge (guide §8: the pick decision is the lightweight proxy;
        # attach it without re-shuffling the wide rows).  Same rows
        # either way — the join is ≤1:1 on __sample_id__, left-outer so
        # candidate-less sample rows null-extend.
        if pick_broadcast:
            picked = F.broadcast(picked)
        out = samples.join(picked, SAMPLE_ID, "left_outer")
        for cc in c.columns:
            out = out.withColumn(cc, F.col("__c__").getField(cc))
        out = out.drop("__c__")
    else:
        # many-to-one: the child key is a PK — at most one match
        out = samples.join(c, cond, "left_outer")

    out = out.withColumn(
        f"__in__:{child_table}",
        F.coalesce(_q(f"__in__:{child_table}"), F.lit(False)))
    # null-extended rows carry fanout 1 (reference: scardina/join.py:222-230)
    for cc in c.columns:
        if "__fanout__:" in cc or "__adj_fanout__:" in cc:
            out = out.withColumn(cc, F.coalesce(_q(cc), F.lit(1)).cast("long"))
    return out


def join_sample(
    ss: Subschema, weighted_tables: dict[str, DataFrame], root: str,
    n: "int | tuple[int, int]", seed: int = 42, drop_weights: bool = True,
    uniform_root: bool = False, cache_out: list | None = None,
    meta_out: list | None = None,
) -> DataFrame:
    """Unbiased sample (size ``n``) of the sub-join, BFS from ``root``.

    ``weighted_tables`` must carry ``__weight__`` (operators/weights.py).
    ``uniform_root`` certifies all root weights equal (fact-rooted trees)
    so the root draw can skip weight scans and persist; otherwise
    ``cache_out`` receives the root draw's persist handle to release
    once the sample is materialized.

    ``n`` may be a ``(n_min, n_max)`` tuple (weighted roots only): the
    draw then sizes itself from the weight total it computes anyway —
    join size = Σ root weights, ``n = clamp(join_size)`` — sparing the
    caller a separate full aggregation pass over the weighted root
    (exact for integer weights, so identical to the two-pass flow).
    ``meta_out`` (a list) receives ``(join_size, n)``.
    """
    root_df = weighted_tables[root]
    # order by ALL root columns, not just the first: the draw's
    # within-partition sort must be a TOTAL order up to full-duplicate
    # rows, or ties under the first column resolve by arrival order —
    # stable for a fixed parquet layout (the cross-session determinism
    # pin) but NOT across freshly-written file sets (the synthetic-IMDB
    # bench stage regenerates parquet per run and drew different
    # samples at identical seed).  Remaining ties are content-identical
    # rows, which are interchangeable in every downstream pick.
    order = list(root_df.columns)
    n_bounds = n if isinstance(n, tuple) else None
    meta: list = []
    agg = weighted_sample_with_replacement(root_df, WEIGHT, order,
                                           n if n_bounds is None else 1,
                                           seed=seed,
                                           uniform=uniform_root,
                                           cache_out=cache_out,
                                           n_bounds=n_bounds,
                                           meta_out=meta)
    if n_bounds is not None:
        _, n = meta[0]
    if meta_out is not None and meta:
        meta_out.append(meta[0])
    # The draw inherits the root scan's partitioning, which can be narrow
    # (few files / single row group); the per-edge picks chain onto it as
    # one codegen stage, so rebalance the (narrow, n-row) drawn sample once
    # to give the whole join pipeline the session's full parallelism.
    sc = agg.sparkSession.sparkContext
    if agg.rdd.getNumPartitions() < sc.defaultParallelism:
        agg = agg.repartition(sc.defaultParallelism)
    agg = agg.select(
        F.col(SAMPLE_ID),
        *[F.col(f"`{c}`").alias(f"{root}.{c}") for c in root_df.columns],
    ).withColumn(f"__in__:{root}", F.lit(True))

    import hashlib
    n_handles_seen = len(cache_out) if cache_out is not None else 0
    for parent, child, rel in ss.join_tree(root):
        parent_key = rel.pk_col if rel.pk_table == parent else rel.fk_col
        child_key = rel.fk_col if rel.fk_table == child else rel.pk_col
        many_to_one = rel.pk_table == child
        # per-edge seed derived from the edge IDENTITY, not its position
        # in the BFS enumeration: a positional seed re-randomized every
        # edge whenever the enumeration order shifted (the pre-fix
        # join_tree did, per process), changing every seeded pick at
        # identical code+seed.  md5 (not hash()) so it is
        # process-independent.
        edge_id = f"{parent}.{parent_key}={child}.{child_key}"
        e_seed = (seed + int(hashlib.md5(edge_id.encode())
                             .hexdigest()[:8], 16)) % (2 ** 31)
        agg = pick_one_child_per_sample(
            agg, f"{parent}.{parent_key}", weighted_tables[child], child_key,
            child, weighted=not many_to_one, seed=e_seed,
            cache_out=cache_out,
            # n-row pick relations broadcast safely up to a couple of
            # million rows (the guide's §8 plan-broadcast envelope);
            # callers drawing larger samples fall back to the shuffle
            # join-back automatically
            pick_broadcast=n <= 2_000_000)
        # Release superseded storage EAGERLY (guide §5): each weighted
        # edge's localCheckpoint materializes everything upstream of it,
        # so the moment handle k exists, handle k-1's blocks (and, at
        # the FIRST checkpoint, the root draw's persists) are dead
        # weight — holding them to end-of-prep pinned one full-width
        # sample copy PER weighted edge in the block manager (measured
        # r11: the 32-core preps were GC-bound, scaling ratio 0.28).
        # Only the newest checkpoint survives on ``cache_out`` for the
        # caller's end-of-prep release.  Values unchanged: the freed
        # blocks are never read again (the new checkpoint subsumes
        # them); the recompute path was already forfeited by the
        # checkpoint protocol above.
        if cache_out is not None and len(cache_out) > n_handles_seen \
                and len(cache_out) > 1:
            for h in cache_out[:-1]:
                h.unpersist()
            del cache_out[:-1]
        if cache_out is not None:
            n_handles_seen = len(cache_out)

    if drop_weights:
        agg = agg.drop(*[c for c in agg.columns if c.endswith(WEIGHT)])
    # deterministic column order, as the reference does
    # (scardina/datasets.py:362)
    return agg.select(
        _q(SAMPLE_ID), *[_q(c) for c in sorted(c for c in agg.columns if c != SAMPLE_ID)])
