"""Distributed unbiased weighted join sampling.

The reference materializes an unbiased sample of each sub-join by (a)
sampling root rows with replacement proportional to ``__weight__`` and (b)
walking the join tree, picking ONE matching child row per sample
proportional to the child's ``__weight__``, null-extending when no child
matches (reference semantics: scardina/join.py:73-245 — per-key Python
dict loops, single-node).  This module re-derives the operator as pure
DataFrame algebra so it scales:

``join_sample`` is the one entry point.  It picks the root draw, sizes
the sample from the join size that draw computes, and frees the draw's
intermediates once the sample is cached.

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
  the row's own columns (one range-partitioned sort, broadcast
  partition offsets and an Arrow cumsum).  The
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

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..schema import Subschema
from .prefix import PID, _safe_names
from .storage import free_checkpoint
from .weights import WEIGHT, compute_weights

SAMPLE_ID = "__sample_id__"


def _q(name: str) -> F.Column:
    return F.col(f"`{name}`")


def fact_rooted(tree: Subschema, root: str) -> bool:
    """Every edge of ``tree`` walks many-to-one away from ``root`` (the
    shape of every CIN subschema and of a UR tree rooted at the fact
    table).  Each root row then joins exactly one (possibly
    null-extended) row per edge: every weight is 1 and the join size is
    the root's row count."""
    return all(rel.pk_table == child for _, child, rel in tree.join_tree(root))


def _uniform_draw(df: DataFrame, order_cols: list[str], seed: int
                  ) -> tuple[int, Callable[[int], DataFrame], list]:
    """Uniform multinomial-with-replacement over the rows of ``df``: two
    jobs, zero shuffles.

    Runs the first job now — per-partition (row count, content
    fingerprint) — and returns ``(join_size, draw, [])``: the row count,
    and ``draw(n)``, the lazy n-row sample (original columns +
    ``__sample_id__``, dense 0..n-1; a row drawn k times appears k
    times).  ``draw`` splits ``n`` with one driver-side multinomial in
    FINGERPRINT order and each partition draws its quota locally
    (Arrow-batched numpy), seeded by its fingerprint.  Keying everything
    on a content fingerprint (min row hash over ``order_cols``) instead
    of ``spark_partition_id`` makes the draw invariant under partition
    RENUMBERING: two writes of identical data produce identically-sized
    files that the scan may list — and number — in a different order
    (measured: the synthetic-IMDB bench stage drew different samples at
    identical seed before this change).  The ``order_cols`` sort
    additionally neutralizes within-partition arrival order (shuffle
    replay after cache loss)."""
    sc = df.sparkSession.sparkContext
    fp_expr = F.min(F.xxhash64(*[_q(c) for c in order_cols])).alias("fp")
    pos = df.withColumn(PID, F.spark_partition_id())
    part = pos.groupBy(PID).agg(F.count(F.lit(1)).alias("s"),
                                fp_expr).collect()
    sums = {int(r[PID]): float(r["s"] or 0.0) for r in part}
    fps = {int(r[PID]): int(r["fp"]) for r in part if r["s"]}
    total = sum(sums.values())
    if not total or total <= 0:
        raise ValueError("join_sample: no positive weight")
    # fingerprint order (ties broken by count then pid — pid only
    # matters when two partitions hold identical minimal rows)
    pids = sorted(fps, key=lambda p: (fps[p], sums[p], p))

    safe, mapping = _safe_names(pos)
    pid_safe = mapping[PID]
    sort_safe = [mapping[c] for c in order_cols if c in mapping]
    schema = StructType(safe.schema.fields + [StructField(SAMPLE_ID, LongType())])

    def draw(n: int) -> DataFrame:
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

        def draw_part(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
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
            out[SAMPLE_ID] = np.arange(b_off.value[pid],
                                       b_off.value[pid] + k, dtype="int64")
            yield out

        out = safe.mapInPandas(draw_part, schema)
        for orig, s in mapping.items():
            out = out.withColumnRenamed(s, orig)
        return out.drop(PID)

    return int(total), draw, []


def _interval_draw(df: DataFrame, weight_col: str, order_cols: list[str],
                   seed: int
                   ) -> tuple[int, Callable[[int], DataFrame], list]:
    """Weighted multinomial-with-replacement, P(row) ∝ ``weight_col``: a
    content-deterministic INTERVAL draw over the global exclusive prefix
    sum of weights in ``order_cols`` total order.

    Sorts the positive-weight rows (one range shuffle), persists them
    and runs one tiny per-partition weight-sum job now.  Returns
    ``(join_size, draw, [sorted])``: the weight total, ``draw(n)`` (the
    lazy n-row sample, as in ``_uniform_draw``), and the persisted
    relation ``draw`` reads twice — free it once the sample is
    materialized.  ``draw`` scales n sorted driver-side uniforms to the
    total and runs ONE fused Arrow pass: each batch computes its
    exclusive cums from the broadcast partition offsets and
    binary-searches the targets its [cum_first, cum_last + w_last) span
    covers.  Join-multiplicity weights are integer-valued counts
    (< 2^53): every partial sum is exact in float64 under ANY grouping,
    so the total and the draw are bit-identical for any physical layout
    of the same logical relation — including the weight-attach lineage,
    whose post-join partitioning this function cannot control.
    (Fractional weights degrade gracefully: a target within 1 ulp of an
    interval edge may shift by one row.)"""
    from .prefix import _with_sorted_partitions

    pos = df.where(_q(weight_col) > 0)
    d = _with_sorted_partitions(pos, order_cols, None).persist()
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
        raise ValueError("join_sample: no positive weight")

    sc = df.sparkSession.sparkContext
    safe, mapping = _safe_names(d)
    w_safe, pid_safe = mapping[weight_col], mapping[PID]
    schema = StructType(safe.schema.fields + [StructField(SAMPLE_ID, LongType())])

    def draw(n: int) -> DataFrame:
        rs = np.random.RandomState(seed)
        b_t = sc.broadcast(np.sort(rs.random_sample(n)) * total)
        b_off = sc.broadcast(offsets)

        def draw_part(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
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
                # offset — the exact arithmetic with_prefix_sum uses
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

        out = safe.mapInPandas(draw_part, schema)
        for orig, s in mapping.items():
            out = out.withColumnRenamed(s, orig)
        return out.drop(PID)

    return int(total), draw, [d]


def pick_one_child_per_sample(
    samples: DataFrame, sample_key: str, child: DataFrame, child_key: str,
    child_table: str, weighted: bool, seed: int,
    pick_broadcast: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """Attach exactly one child row (columns prefixed ``<child_table>.``) to
    every sample row, picked ∝ child ``__weight__`` when ``weighted`` (A-Res),
    else via the unique PK match; null-extend when no child matches.

    Returns the extended sample and, for a weighted pick, the
    checkpoint it cut the sample's lineage at (None otherwise)."""
    ckpt = None
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
        # checkpoint only truncates lineage.  join_sample frees the
        # checkpoint once the next one or the cached sample subsumes it;
        # NOTE the final sample's recompute path dies with it — callers
        # keep using the sample through its own cache, which in local
        # mode spills rather than evicts (on a cluster, checkpoint the
        # sample to storage, operators/pipeline.py).
        samples = ckpt = samples.localCheckpoint()

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
    return out, ckpt


def join_sample(
    ss: Subschema, tables: dict[str, DataFrame], root: str,
    n_min: int, n_max: int, seed: int = 42,
) -> tuple[DataFrame, int, int]:
    """Materialized unbiased sample of the sub-join ``ss``, BFS from
    ``root``; returns ``(sample, join_size, n)``.

    ``tables`` carry the adjacency fanouts, not weights.  A fact-rooted
    tree draws its root uniformly (every weight is 1); any other tree
    gets ``__weight__`` from ``compute_weights`` and the interval draw.
    Either draw yields the join size from the pass it makes anyway, and
    the sample holds ``n = clamp(join_size, n_min, n_max)`` rows
    (reference: scardina/datasets.py:282-284); ``n_min == n_max`` asks
    for an exact n.  The sample is cached and counted before the root
    draw's persist and the last pick checkpoint are freed, so the caller
    holds only the sample (``unpersist()`` it when done)."""
    uniform = fact_rooted(ss, root)
    if uniform:
        tables = {**tables, root: tables[root].withColumn(WEIGHT, F.lit(1.0))}
    else:
        tables = compute_weights(ss, tables, root)
    root_df = tables[root]
    # order by ALL root columns, not just the first: the draw's
    # within-partition sort must be a TOTAL order up to full-duplicate
    # rows, or ties under the first column resolve by arrival order —
    # stable for a fixed parquet layout (the cross-session determinism
    # pin) but NOT across freshly-written file sets (the synthetic-IMDB
    # bench stage regenerates parquet per run and drew different
    # samples at identical seed).  Remaining ties are content-identical
    # rows, which are interchangeable in every downstream pick.
    order = list(root_df.columns)
    if uniform:
        join_size, draw, held = _uniform_draw(root_df, order, seed)
    else:
        join_size, draw, held = _interval_draw(root_df, WEIGHT, order, seed)
    n = max(n_min, min(n_max, join_size))
    agg = draw(n)
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
        agg, ckpt = pick_one_child_per_sample(
            agg, f"{parent}.{parent_key}", tables[child], child_key,
            child, weighted=not many_to_one, seed=e_seed,
            # n-row pick relations broadcast safely up to a couple of
            # million rows (the guide's §8 plan-broadcast envelope);
            # larger samples fall back to the shuffle join-back
            pick_broadcast=n <= 2_000_000)
        # Release superseded storage EAGERLY (guide §5): each weighted
        # edge's localCheckpoint materializes everything upstream of it,
        # so the moment checkpoint k exists, checkpoint k-1's blocks
        # (and, at the FIRST checkpoint, the root draw's persist) are
        # dead weight — holding them to end-of-prep pinned one
        # full-width sample copy PER weighted edge in the block manager
        # (measured r11: the 32-core preps were GC-bound, scaling ratio
        # 0.28).  Values unchanged: the freed blocks are never read
        # again (the new checkpoint subsumes them).
        if ckpt is not None:
            for h in held:
                free_checkpoint(h)
            held = [ckpt]

    agg = agg.drop(*[c for c in agg.columns if c.endswith(WEIGHT)])
    # deterministic column order, as the reference does
    # (scardina/datasets.py:362)
    samp = agg.select(
        _q(SAMPLE_ID), *[_q(c) for c in sorted(c for c in agg.columns if c != SAMPLE_ID)])
    # right-size partitions for the per-query aggregate: ~64k rows per
    # task keeps scheduling overhead off the query path (estimate()
    # latency is dominated by task launch, not compute).  repartition,
    # NOT coalesce: coalesce would narrow the whole draw+join pipeline
    # to this width, serializing the one-off materialization — the
    # extra sample-sized shuffle is far cheaper than that.
    samp = samp.repartition(max(4, n // 65536)).cache()
    samp.count()
    for h in held:
        free_checkpoint(h)
    return samp, join_size, n
