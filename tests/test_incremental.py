"""Incremental refresh (operators/incremental.py + bridge.fine_tune):
every delta-merged aggregate must equal its from-scratch recomputation
exactly, and the refreshed sample must be statistically indistinguishable
from a fresh sample of the full data."""

import math

import pytest
from pyspark.sql import functions as F

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.estimators.sample import (
    SampleEstimator, cin_tree, prepare_tree_sample, spanning_tree)
from scardina_spark.operators.fanout import COUNT, fk_counts
from scardina_spark.operators.incremental import (
    append_refresh_tree_sample, merge_fk_counts)
from scardina_spark.runner import q_error


def _split_lineitem(tables):
    """Deterministic ~80/20 split of lineitem on a row hash."""
    li = tables["lineitem"]
    h = F.abs(F.hash(F.col("l_orderkey"), F.col("l_linenumber"))) % 5
    return li.where(h != 0), li.where(h == 0)


def test_merge_fk_counts_exact(spark, tables):
    old, delta = _split_lineitem(tables)
    merged = merge_fk_counts(fk_counts(old, "l_orderkey"), delta, "l_orderkey")
    full = fk_counts(tables["lineitem"], "l_orderkey")
    diff = merged.withColumnRenamed(COUNT, "m").join(
        full.withColumnRenamed(COUNT, "f"), "l_orderkey", "full_outer"
    ).where(F.col("m").eqNullSafe(F.col("f")) == False)  # noqa: E712
    assert diff.count() == 0


def test_append_refresh_matches_full_prep(spark, tables, duck):
    sg = build_tpch_schema()
    tree = spanning_tree(sg, "lineitem")
    old, delta = _split_lineitem(tables)
    t_old = {**tables, "lineitem": old}

    ts_old = prepare_tree_sample(tree, t_old, "lineitem",
                                 n_min=20_000, n_max=20_000, seed=7)
    ts = append_refresh_tree_sample(
        ts_old, t_old, delta,
        old_fk_counts={fk: fk_counts(old, fk)
                       for fk in ("l_orderkey", "l_partkey", "l_suppkey")},
        n_min=20_000, n_max=20_000, seed=13)

    # join size is exact (fact-rooted: root count)
    assert ts.join_size == tables["lineitem"].count()
    assert ts.sample.count() == ts.n_sample == 20_000
    assert ts.sample.select("__sample_id__").distinct().count() == 20_000

    # marginal of l_returnflag matches the full table within 6 sigma
    n = ts.n_sample
    got = {r["f"]: r["c"] for r in ts.sample.groupBy(
        F.col("`lineitem.l_returnflag`").alias("f")).agg(
        F.count("*").alias("c")).collect()}
    full = dict(duck.sql(
        "select l_returnflag, count(*) from lineitem group by 1").fetchall())
    total = sum(full.values())
    for v, cnt in full.items():
        p = cnt / total
        tol = 6 * math.sqrt(n * p * (1 - p)) + 1
        assert abs(got.get(v, 0) - n * p) < tol, (v, got.get(v, 0), n * p)

    # patched fanouts: estimator answers over the refreshed sample must
    # track the full-data truth (fanout divisors enter here)
    est = SampleEstimator()
    est.add(ts)
    sql = ("SELECT COUNT(*) FROM orders o, customer c "
           "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000")
    truth = duck.sql(
        "select count(*) from orders o join customer c "
        "on o.o_custkey = c.c_custkey where o.o_totalprice > 50000"
    ).fetchone()[0]
    assert q_error(est.estimate(sql), truth) < 1.3


def test_append_refresh_rejects_weighted_tree(spark, tables):
    sg = build_tpch_schema()
    tree = cin_tree(sg, "orders")  # customer-rooted draw is weighted
    ts = prepare_tree_sample(tree, tables, "customer",
                             n_min=1000, n_max=1000, seed=3)
    with pytest.raises(ValueError, match="fact-rooted"):
        append_refresh_tree_sample(ts, tables, tables["orders"].limit(5))


def test_append_refresh_empty_delta_releases_its_persist(spark, tables):
    """An empty delta returns the input sample unchanged and leaves no
    persist behind on the caller's delta."""
    sg = build_tpch_schema()
    tree = cin_tree(sg, "orders")   # orders-rooted draw is fact-rooted
    ts = prepare_tree_sample(tree, tables, "orders",
                             n_min=500, n_max=500, seed=3)
    delta = tables["orders"].limit(0)
    assert append_refresh_tree_sample(ts, tables, delta) is ts
    assert not delta.is_cached
    ts.sample.unpersist()


def test_fine_tune_updates_scale_and_stays_accurate(spark, tables, duck):
    from scardina_spark.model import TrainConfig
    from scardina_spark.model.bridge import (
        fine_tune_single_table, train_single_table)

    old, delta = _split_lineitem(tables)
    cols = ["l_returnflag", "l_linestatus", "l_quantity"]
    est = train_single_table(
        old, cols, TrainConfig(epochs=8, d_word=12, d_ff=48, seed=42),
        sample_size=800)
    n_old = est.n_rows
    est = fine_tune_single_table(est, delta, epochs=4)
    assert est.n_rows == tables["lineitem"].count() > n_old

    truth = duck.sql("select count(*) from lineitem "
                     "where l_returnflag = 'R'").fetchone()[0]
    e = est.estimate("SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'")
    assert q_error(e, truth) < 1.5


def _stage_delta(spark, delta, tmp_path):
    d = str(tmp_path / "shard")
    delta.write.parquet(d)
    return d


def test_streaming_refresh_closes_the_loop(spark, tables, tmp_path, duck):
    """The streaming→model loop's statistics leg: the shard flows
    through the standing count state (maintain_fk_counts), the merged
    counts EQUAL a full recompute exactly, the refreshed sample's
    metadata matches from-scratch prep, re-driving the same shard is a
    count-level no-op (checkpoint idempotency), and estimates from the
    refreshed sample track the full-data truth."""
    from scardina_spark.operators.incremental import (
        streaming_refresh_tree_sample)

    sg = build_tpch_schema()
    tree = spanning_tree(sg, "lineitem")
    old, delta = _split_lineitem(tables)
    t_old = {**tables, "lineitem": old}
    delta_dir = _stage_delta(spark, delta, tmp_path)
    state = str(tmp_path / "counts_state")

    ts_old = prepare_tree_sample(tree, t_old, "lineitem",
                                 n_min=20_000, n_max=20_000, seed=7)
    ts, merged = streaming_refresh_tree_sample(
        ts_old, t_old, delta_dir, state,
        n_min=20_000, n_max=20_000, seed=13)

    # exactness: merged counts (base + streamed shard) == full recompute
    for fk in ("l_orderkey", "l_partkey", "l_suppkey"):
        got = {r[fk]: r[COUNT] for r in merged[fk].collect()}
        want = {r[fk]: r[COUNT]
                for r in fk_counts(tables["lineitem"], fk).collect()}
        assert got == want, fk
    assert ts.join_size == tables["lineitem"].count()
    assert ts.sample.count() == ts.n_sample == 20_000

    # idempotency: same shard dir again — the stream checkpoint skips
    # the consumed files, counts must not double
    ts2, merged2 = streaming_refresh_tree_sample(
        ts_old, t_old, delta_dir, state,
        n_min=20_000, n_max=20_000, seed=13)
    got2 = {r["l_orderkey"]: r[COUNT]
            for r in merged2["l_orderkey"].collect()}
    want2 = {r["l_orderkey"]: r[COUNT]
             for r in fk_counts(tables["lineitem"],
                                "l_orderkey").collect()}
    assert got2 == want2

    # parity at the estimate level: refreshed sample vs the full truth
    est = SampleEstimator()
    est.add(ts)
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o WHERE "
           "l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'")
    truth = duck.sql(
        "select count(*) from lineitem l join orders o on "
        "l.l_orderkey = o.o_orderkey where o.o_orderstatus = 'F'"
    ).fetchone()[0]
    assert q_error(est.estimate(sql), truth) < 1.3


def test_fine_tune_join_estimator_parity_at_cutoff(spark, tables,
                                                   tmp_path, duck):
    """The model leg: train the UR model on the BASE sample, refresh
    through the streaming loop, fine-tune on the refreshed mixture —
    n_rows must equal the full join size EXACTLY, and the fine-tuned
    estimate at the cutoff must track the full-data truth about as well
    as a from-scratch model."""
    from scardina_spark.model import TrainConfig
    from scardina_spark.model.join_bridge import (
        fine_tune_join_estimator, train_join_estimator)
    from scardina_spark.operators.incremental import (
        streaming_refresh_tree_sample)

    sg = build_tpch_schema()
    tree = spanning_tree(sg, "lineitem")
    old, delta = _split_lineitem(tables)
    t_old = {**tables, "lineitem": old}
    delta_dir = _stage_delta(spark, delta, tmp_path)

    cols = ["lineitem.l_returnflag", "lineitem.l_linestatus",
            "orders.o_orderstatus"]
    cfg = TrainConfig(epochs=8, d_word=12, d_ff=48, seed=42)
    ts_old = prepare_tree_sample(tree, t_old, "lineitem",
                                 n_min=20_000, n_max=20_000, seed=7)
    est = train_join_estimator(ts_old, cols, cfg)
    n_before = est.n_rows
    assert n_before == old.count()

    ts, _ = streaming_refresh_tree_sample(
        ts_old, t_old, delta_dir, str(tmp_path / "state"),
        n_min=20_000, n_max=20_000, seed=13)
    est = fine_tune_join_estimator(est, ts, epochs=4, seed=13)
    assert est.n_rows == tables["lineitem"].count() > n_before

    sql = ("SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'")
    truth = duck.sql("select count(*) from lineitem "
                     "where l_returnflag = 'R'").fetchone()[0]
    e = est.estimate(sql)
    assert q_error(e, truth) < 1.5, (e, truth)

    # from-scratch reference point: the fine-tuned model must not be
    # wildly worse than training on the full data directly
    ts_full = prepare_tree_sample(tree, tables, "lineitem",
                                  n_min=20_000, n_max=20_000, seed=7)
    scratch = train_join_estimator(ts_full, cols, cfg)
    q_ft = q_error(e, truth)
    q_fs = q_error(scratch.estimate(sql), truth)
    assert q_ft < max(2.0 * q_fs, 1.3), (q_ft, q_fs)


def test_fine_tune_join_is_layout_independent(spark, tables):
    """The join fine-tune selects and orders its rows by the
    ``__sample_id__`` hash, as training does: fine-tuning on the same
    sample spread over a different partitioning gives identical weights,
    with and without the ``max_rows`` cap."""
    import dataclasses
    import hashlib

    import numpy as np

    from scardina_spark.model import TrainConfig
    from scardina_spark.model.join_bridge import (
        fine_tune_join_estimator, train_join_estimator)

    tree = spanning_tree(build_tpch_schema(), "lineitem")
    ts = prepare_tree_sample(tree, tables, "lineitem",
                             n_min=3_000, n_max=3_000, seed=7)
    moved = dataclasses.replace(ts, sample=ts.sample.repartition(7))
    cols = ["lineitem.l_returnflag", "orders.o_orderstatus"]
    cfg = TrainConfig(epochs=1, d_word=8, d_ff=16, batch_size=256, seed=1)

    def tuned(sample_ts, max_rows):
        est = train_join_estimator(ts, cols, cfg)
        est = fine_tune_join_estimator(est, sample_ts, epochs=2,
                                       max_rows=max_rows, seed=13)
        m = est.model
        return hashlib.sha256(b"".join(
            np.ascontiguousarray(a).tobytes()
            for a in [m.W1, m.b1, m.W2, m.b2] + m.emb + m.P)).hexdigest()

    for max_rows in (200_000, 2_000):
        assert tuned(ts, max_rows) == tuned(moved, max_rows), max_rows


def test_fine_tune_join_rejects_cont_fanout(spark, tables, tmp_path):
    from scardina_spark.model import TrainConfig
    from scardina_spark.model.join_bridge import (
        fine_tune_join_estimator, train_join_estimator)

    sg = build_tpch_schema()
    tree = spanning_tree(sg, "lineitem")
    ts = prepare_tree_sample(tree, tables, "lineitem",
                             n_min=5_000, n_max=5_000, seed=7)
    est = train_join_estimator(
        ts, ["lineitem.l_returnflag"],
        TrainConfig(epochs=2, d_word=8, d_ff=16, seed=1),
        cont_fanout=True)
    if not est.continuous:
        pytest.skip("no informative fanout columns at this sf")
    with pytest.raises(ValueError, match="cont-fanout"):
        fine_tune_join_estimator(est, ts)
