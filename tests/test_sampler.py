"""Statistical tests for the distributed weighted join sampler (SURVEY J4).

Every check is against an exactly computable expectation: the sampler draws
from a known distribution, so sampled marginals must match full-join
marginals within multinomial tolerance.
"""

import math

from pyspark.sql import functions as F

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.operators.sampler import (
    SAMPLE_ID, _interval_draw, _uniform_draw, join_sample)
from scardina_spark.operators.weights import WEIGHT, compute_weights


def test_weighted_sample_exact_n_and_proportions(spark):
    # 4 rows with weights 1,2,3,4 -> probabilities 0.1,0.2,0.3,0.4
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 5)], ["k", "w"])
    n = 20_000
    _, draw, _ = _interval_draw(df, "w", ["k"], seed=7)
    s = draw(n)
    counts = {r["k"]: r["c"] for r in
              s.groupBy("k").agg(F.count("*").alias("c")).collect()}
    assert sum(counts.values()) == n
    for k in range(1, 5):
        p = k / 10.0
        # 6-sigma multinomial bound
        tol = 6 * math.sqrt(n * p * (1 - p))
        assert abs(counts.get(k, 0) - n * p) < tol, (k, counts)


def test_sample_ids_unique(spark):
    df = spark.createDataFrame([(i, 1.0) for i in range(100)], ["k", "w"])
    _, draw, _ = _interval_draw(df, "w", ["k"], seed=3)
    s = draw(5000)
    assert s.select(SAMPLE_ID).distinct().count() == 5000
    assert s.count() == 5000


def test_uniform_fast_path_exact_n_and_uniformity(spark):
    """The uniform draw must draw exactly n ids with a uniform marginal
    and skip weight normalization (weights untouched)."""
    df = spark.createDataFrame([(i, 1.0) for i in range(200)], ["k", "w"])
    n = 40_000
    _, draw, _ = _uniform_draw(df, ["k"], seed=9)
    s = draw(n)
    assert s.count() == n
    assert s.select(SAMPLE_ID).distinct().count() == n
    counts = {r["k"]: r["c"] for r in
              s.groupBy("k").agg(F.count("*").alias("c")).collect()}
    p = 1 / 200
    tol = 6 * math.sqrt(n * p * (1 - p))
    for k in range(200):
        assert abs(counts.get(k, 0) - n * p) < tol, (k, counts.get(k, 0))


def test_join_sample_marginal_matches_full_join(spark, tables, duck):
    """Sample the orders-CIN (orders ⋈ customer) from root=customer with
    weights; the marginal distribution of o_orderpriority in the sample must
    match its distribution in the full join."""
    sg = build_tpch_schema()
    subs = sg.cin_subschemas()
    oc = [ss for ss in subs.values() if ss.center == "orders"][0]
    n = 20_000
    samp, _, _ = join_sample(oc, tables, "customer", n, n, seed=11)
    assert samp.count() == n
    # all customers exist; orders may be missing for childless customers
    got = {r["p"]: r["c"] for r in samp.groupBy(
        F.col("`orders.o_orderpriority`").alias("p")).agg(
        F.count("*").alias("c")).collect()}
    full = dict(duck.sql("""
        select o_orderpriority, count(*) from customer c
        join orders o on c.c_custkey = o.o_custkey group by 1""").fetchall())
    n_cust = duck.sql("select count(*) from customer").fetchone()[0]
    n_childless = duck.sql("""
        select count(*) from customer where c_custkey not in
        (select o_custkey from orders)""").fetchone()[0]
    total = sum(full.values()) + n_childless  # null-extended rows
    for p, cnt in full.items():
        frac = cnt / total
        tol = 6 * math.sqrt(n * frac * (1 - frac)) + 1
        assert abs(got.get(p, 0) - n * frac) < tol, (p, got.get(p, 0), n * frac)
    # null-extension marker semantics
    n_null = samp.where(~F.col("`__in__:orders`")).count()
    frac0 = n_childless / total
    tol0 = 6 * math.sqrt(n * max(frac0, 1e-9) * (1 - frac0)) + 1
    assert abs(n_null - n * frac0) < tol0


def test_join_sample_pk_side_exact(spark, tables):
    """Many-to-one edges attach exactly the matching PK row (no sampling)."""
    sg = build_tpch_schema()
    subs = sg.cin_subschemas()
    li = [ss for ss in subs.values() if ss.center == "lineitem"][0]
    samp, _, _ = join_sample(li, tables, "lineitem", 2000, 2000, seed=5)
    assert samp.count() == 2000
    bad = samp.where(
        F.col("`lineitem.l_orderkey`") != F.col("`orders.o_orderkey`")).count()
    assert bad == 0
    assert samp.where(~F.col("`__in__:orders`")).count() == 0


def test_prepare_tree_sample_releases_root_draw_persist(spark, tables):
    """Weighted-root (non-m2o) prep: the sampler's internal two-pass
    persist of the filtered root table must be released once the sample
    is materialized — only the sample cache itself may remain."""
    from scardina_spark.estimators.sample import cin_tree, prepare_tree_sample
    sg = build_tpch_schema()
    tree = cin_tree(sg, "orders")  # rooted at customer → weighted path

    def stored_ids():
        return {r.id() for r
                in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    base = stored_ids()
    ts = prepare_tree_sample(tree, tables, "customer",
                             n_min=2_000, n_max=2_000, seed=7)
    assert ts.sample.count() == 2_000
    new = stored_ids() - base
    # exactly the cached sample; a second surviving entry would be the
    # root-table persist leaking for the session
    assert len(new) <= 1, new
    ts.sample.unpersist(blocking=True)
    assert stored_ids() - base == set()


def test_join_sample_marginal_depth2_weighted_root(spark, tables, duck):
    """Depth-2 weighted root: sampling nation -> customer -> orders from
    root=nation needs weights that COMPOSE across two one-to-many levels
    (reverse-BFS weight passes, J3).  The sampled o_orderpriority
    marginal must match the full nation⋈customer⋈orders outer join."""
    sg = build_tpch_schema()
    rels = {(r.pk_table, r.fk_table): r for r in sg.relationships()}
    from scardina_spark.schema import Subschema
    tree = Subschema(name="nation_chain", center="nation",
                     rels=(rels[("nation", "customer")],
                           rels[("customer", "orders")]))
    n = 20_000
    samp, _, _ = join_sample(tree, tables, "nation", n, n, seed=13)
    assert samp.count() == n

    got = {r["p"]: r["c"] for r in samp.groupBy(
        F.col("`orders.o_orderpriority`").alias("p")).agg(
        F.count("*").alias("c")).collect()}
    full = dict(duck.sql("""
        select o_orderpriority, count(*) from nation n
        left join customer c on c.c_nationkey = n.n_nationkey
        left join orders o on o.o_custkey = c.c_custkey
        group by 1""").fetchall())
    total = sum(full.values())
    for p, cnt in full.items():
        frac = cnt / total
        tol = 6 * math.sqrt(n * frac * (1 - frac)) + 1
        assert abs(got.get(p, 0) - n * frac) < tol, (p, got.get(p, 0),
                                                     n * frac)


def test_draw_invariant_under_layout_changes(spark, tmp_path):
    """Layout independence (the r11 synthetic-IMDB lesson — the scan
    may list, and number, the same files differently across writes):

    * WEIGHTED path: the prefix-sum interval draw is content-exact for
      ANY physical layout — assert the identical sample multiset from
      two copies written with different partition counts.
    * UNIFORM path: invariant under partition RENUMBERING — assert the
      identical multiset when the same per-partition files are
      enumerated in opposite orders (multi-path read, order flipped).
    """
    from pyspark.sql import functions as F

    rows = [(i, float(1 + i % 7)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k: long, w: double")

    def fingerprint(s):
        h = F.pmod(F.xxhash64("k", "w", SAMPLE_ID), F.lit(1_000_003))
        return tuple(s.agg(F.count(F.lit(1)), F.sum("k"),
                           F.sum(h)).first())

    # weighted: arbitrary relayout (8 files vs 5 files)
    df.repartition(8).write.parquet(str(tmp_path / "a"))
    df.repartition(5).write.parquet(str(tmp_path / "b"))
    fa = fingerprint(_interval_draw(
        spark.read.parquet(str(tmp_path / "a")), "w", ["k", "w"],
        seed=11)[1](2000))
    fb = fingerprint(_interval_draw(
        spark.read.parquet(str(tmp_path / "b")), "w", ["k", "w"],
        seed=11)[1](2000))
    assert fa == fb, (fa, fb)

    # uniform: same partition sets, flipped enumeration order
    lo = df.where("k < 2500")
    hi = df.where("k >= 2500")
    lo.coalesce(1).write.parquet(str(tmp_path / "p_lo"))
    hi.coalesce(1).write.parquet(str(tmp_path / "p_hi"))
    fwd = spark.read.parquet(str(tmp_path / "p_lo"),
                             str(tmp_path / "p_hi"))
    rev = spark.read.parquet(str(tmp_path / "p_hi"),
                             str(tmp_path / "p_lo"))
    ff = fingerprint(_uniform_draw(fwd, ["k", "w"], seed=11)[1](2000))
    fr = fingerprint(_uniform_draw(rev, ["k", "w"], seed=11)[1](2000))
    assert ff == fr, (ff, fr)


def test_weighted_pick_chain_plan_stays_linear(spark, tables):
    """r11 pin: the A-Res pick used to carry the accumulated sample
    lineage on BOTH sides of its argmax re-join, doubling the plan per
    weighted edge (4 weighted edges = 482 Exchange nodes on the IMDB
    prep).  The per-edge localCheckpoint keeps the final plan linear:
    a handful of Exchanges, with checkpoint scans as leaves."""
    from scardina_spark.estimators.sample import (
        attach_tree_adj_fanouts, spanning_tree)
    from scardina_spark.catalog import build_tpch_schema

    sg = build_tpch_schema()
    tree = spanning_tree(sg, "nation")   # >= 3 chained weighted edges
    adj = attach_tree_adj_fanouts(tree, tables)
    samp, _, _ = join_sample(tree, adj, "nation", 500, 500, seed=42)
    # the sample comes back cached: its pick chain is the cached
    # relation's physical plan, printed one line per node (the formatted
    # explain this pin used to read printed every node twice, so its
    # bound of 32 is 16 here)
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in plan
    chain = plan.split("== Initial Plan ==")[1]
    n_ex = chain.count("Exchange")
    # linear budget: the two-pass argmax (max(z) + equality re-join +
    # draw-bounded tie-break) costs one Exchange + one BroadcastExchange
    # more per weighted edge than the one-pass max_by did — still O(1)
    # per edge; the exponential re-growth this pin guards against was
    # 482 Exchanges on 4 edges
    assert n_ex <= 16, f"weighted pick chain re-grew: {n_ex} Exchanges"
    assert "Scan ExistingRDD" in chain  # the checkpoint leaf
    assert samp.count() == 500
    samp.unpersist()


def test_fused_interval_draw_matches_two_pass_reference(spark):
    """r12 pin: the weighted interval draw fuses the exclusive prefix
    sum and the target search into ONE Arrow pass, deriving the weight
    total from the same per-partition sums its offsets need.  For
    integer-valued weights every partial sum is exact in float64, so
    the fused draw must equal an independent two-pass reference (cum
    column materialized via with_prefix_sum, then batch-local
    searchsorted) row for row."""
    import numpy as np

    from scardina_spark.operators.prefix import CUM, with_prefix_sum

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k: long, w: double")
    n, seed = 1500, 23

    _, draw, _ = _interval_draw(df, "w", ["k", "w"], seed=seed)
    fused = draw(n)
    got = sorted((r["k"], r[SAMPLE_ID]) for r in fused.collect())

    # reference: global exclusive cumsum -> driver-side searchsorted
    handles: list = []
    cum = with_prefix_sum(df.where(F.col("w") > 0), "w", ["k", "w"],
                          cache_out=handles)
    pdf = cum.orderBy("k", "w").toPandas()
    total = float(pdf["w"].sum())
    rs = np.random.RandomState(seed)
    targets = np.sort(rs.random_sample(n)) * total
    c0 = pdf[CUM].to_numpy(dtype="float64")
    idx = np.searchsorted(c0, targets, side="right") - 1
    want = sorted((int(pdf["k"].iloc[i]), sid)
                  for sid, i in enumerate(idx))
    for h in handles:
        h.unpersist()
    assert got == want


def test_n_bounds_resolves_join_size_like_separate_aggregate(spark, tables):
    """join_sample sizes the sample from the join size its root draw
    computes anyway: the interval draw's weight total must equal a
    separate sum(weight) aggregate, the uniform draw's row count a
    separate count(), ``n`` must be the clamp, and the sample must equal
    the draw at an exact n_min = n_max = n, row for row."""
    from scardina_spark.estimators.sample import (
        attach_tree_adj_fanouts, cin_tree)

    sg = build_tpch_schema()
    tree = cin_tree(sg, "orders")
    adj = attach_tree_adj_fanouts(tree, tables)
    cases = [   # (root, join size by a separate aggregate)
        ("customer", int(compute_weights(tree, adj, "customer")["customer"]
                         .agg(F.sum(WEIGHT)).first()[0])),   # interval
        ("orders", tables["orders"].count()),                # uniform
    ]
    key = lambda r: tuple(r)  # noqa: E731
    for root, want_join_size in cases:
        bounded, join_size, n = join_sample(tree, adj, root, 100, 2_000,
                                            seed=5)
        assert join_size == want_join_size, root
        assert n == min(2_000, max(100, want_join_size)), root
        explicit, _, n_exact = join_sample(tree, adj, root, n, n, seed=5)
        assert n_exact == n
        assert sorted(map(key, bounded.collect())) == \
            sorted(map(key, explicit.collect())), root
        bounded.unpersist()
        explicit.unpersist()


def test_weighted_pick_chain_releases_superseded_handles(spark, tables):
    """Each weighted edge's localCheckpoint supersedes the root draw's
    persist and the prior edges' checkpoints; join_sample frees them
    eagerly and frees the last one once the sample is cached, so only
    the sample's own cache survives the call."""
    from scardina_spark.catalog import build_tpch_schema
    from scardina_spark.estimators.sample import (
        attach_tree_adj_fanouts, spanning_tree)

    def stored_ids():
        return {r.id() for r
                in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    sg = build_tpch_schema()
    tree = spanning_tree(sg, "nation")   # >= 3 chained weighted edges
    adj = attach_tree_adj_fanouts(tree, tables)
    base = stored_ids()
    samp, _, _ = join_sample(tree, adj, "nation", 500, 500, seed=42)
    assert len(stored_ids() - base) == 1
    assert samp.count() == 500
    samp.unpersist(blocking=True)
    assert stored_ids() - base == set()


def test_localized_sample_rows_follow_sample_id(spark, tables):
    """Two draws of the same tree in one session localize to identical
    frames in ``__sample_id__`` order, whatever order Spark returns the
    rows in (sums over the local sample then do not depend on session
    history)."""
    from scardina_spark.estimators.sample import (
        prepare_tree_sample, spanning_tree)
    tree = spanning_tree(build_tpch_schema(), "customer")
    a, b = (prepare_tree_sample(tree, tables, "customer", n_min=2000,
                                n_max=2000, seed=42).localize().local
            for _ in range(2))
    assert a[SAMPLE_ID].is_monotonic_increasing
    assert a.equals(b)
