"""UR-mode learned estimator (NAR over the join sample) vs exact truth."""

import pytest

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.estimators import ExactEstimator, prepare_tree_sample
from scardina_spark.estimators.sample import spanning_tree, UnsupportedQueryError
from scardina_spark.model import TrainConfig
from scardina_spark.model.join_bridge import train_join_estimator

DATA_COLS = [
    "lineitem.l_quantity", "lineitem.l_returnflag", "lineitem.l_discount",
    "orders.o_orderstatus", "orders.o_orderpriority",
    "customer.c_mktsegment", "customer.c_acctbal",
]


@pytest.fixture(scope="module")
def nar_ur(tables):
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=30_000, seed=42)
    cfg = TrainConfig(epochs=12, d_word=12, d_ff=64, batch_size=1024, seed=42)
    return train_join_estimator(ts, DATA_COLS, cfg, sample_size=1000)


@pytest.fixture(scope="module")
def exact(tables):
    return ExactEstimator(build_tpch_schema(), tables)


UR_QUERIES = [
    ("SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30", 2.0),
    ("SELECT COUNT(*) FROM lineitem l, orders o "
     "WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'", 2.0),
    ("SELECT COUNT(*) FROM lineitem l, orders o, customer c "
     "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
     "AND c.c_mktsegment = 'BUILDING' AND l.l_quantity > 10", 2.5),
    # used set excludes the root: fanout division must kick in
    ("SELECT COUNT(*) FROM orders o, customer c "
     "WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 0", 3.0),
    ("SELECT COUNT(*) FROM orders WHERE o_orderpriority LIKE '%URGENT'", 3.0),
]


@pytest.mark.parametrize("sql,bound", UR_QUERIES)
def test_nar_ur_qerror(nar_ur, exact, sql, bound):
    est = nar_ur.estimate(sql)
    true = exact.estimate(sql)
    assert est > 0, sql
    q = max(est / true, true / est)
    assert q < bound, (sql, est, true, q)


def test_fanout_columns_partitioned(nar_ur):
    # FK->PK directions are constant 1 and skipped; at least one
    # informative fanout column (toward the root) is modeled
    assert any("__adj_fanout__" in c for c in nar_ur.model.cols)
    assert len(nar_ur.constant_one_fanouts) > 0


def test_off_tree_query_rejected(nar_ur):
    with pytest.raises(UnsupportedQueryError):
        nar_ur.estimate(
            "SELECT COUNT(*) FROM customer c, nation n "
            "WHERE c.c_nationkey = n.n_nationkey")


@pytest.fixture(scope="module")
def nar_ur_fact(tables):
    """Same model with near-continuous columns bit-slice factorized (M2
    in the join path: reference scardina/common.py:137-196)."""
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=30_000, seed=42)
    cfg = TrainConfig(epochs=12, d_word=12, d_ff=64, batch_size=1024, seed=42)
    cols = DATA_COLS + ["lineitem.l_shipdate", "lineitem.l_extendedprice",
                        "orders.o_totalprice"]
    return train_join_estimator(ts, cols, cfg, sample_size=1000,
                                fact_threshold=8)


def test_factorized_join_model_has_groups(nar_ur_fact):
    groups = nar_ur_fact.groups or {}
    assert "lineitem.l_extendedprice" in groups
    assert groups["lineitem.l_extendedprice"].is_factorized
    # sub-columns replaced the plain column in the model
    assert "lineitem.l_extendedprice" not in nar_ur_fact.model.cols


FACT_QUERIES = [
    ("SELECT COUNT(*) FROM lineitem l WHERE l.l_shipdate < '1996-10-20'",
     2.0),
    ("SELECT COUNT(*) FROM lineitem l WHERE l.l_extendedprice > 30000 "
     "AND l.l_quantity <= 25", 2.0),
    ("SELECT COUNT(*) FROM lineitem l, orders o WHERE l.l_orderkey = "
     "o.o_orderkey AND o.o_totalprice > 200000", 2.0),
    ("SELECT COUNT(*) FROM lineitem l, orders o, customer c WHERE "
     "l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey AND "
     "c.c_mktsegment = 'BUILDING' AND l.l_shipdate >= '1997-01-01'", 2.5),
]


@pytest.mark.parametrize("sql,bound", FACT_QUERIES)
def test_nar_ur_factorized_qerror(nar_ur_fact, exact, sql, bound):
    est = nar_ur_fact.estimate(sql)
    true = exact.estimate(sql)
    assert est > 0, sql
    q = max(est / true, true / est)
    assert q < bound, (sql, est, true, q)


def test_trm_join_estimator(tables, exact):
    """Transformer architecture over the join sample (reference M5 supports
    both archs for CIN/UR models, scardina/run.py:290-342)."""
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=20_000, seed=42)
    cfg = TrainConfig(epochs=10, d_word=12, d_ff=48, batch_size=512, seed=42)
    est = train_join_estimator(
        ts, ["lineitem.l_quantity", "lineitem.l_returnflag",
             "orders.o_orderstatus"], cfg, sample_size=500, arch="trm")
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o "
           "WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'")
    e, t = est.estimate(sql), exact.estimate(sql)
    assert e > 0
    assert max(e / t, t / e) < 2.5, (e, t)


def test_trm_join_rejects_cont_fanout(tables):
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=20_000, seed=42)
    with pytest.raises(ValueError):
        train_join_estimator(ts, ["lineitem.l_quantity"], TrainConfig(),
                             cont_fanout=True, arch="trm")


def test_make_model_rejects_mlp_only_options_for_trm():
    """The Transformer has uniform-width categorical embeddings: the
    MLP-only options must raise for it, not be dropped silently."""
    from scardina_spark.model.bridge import make_model
    from scardina_spark.model.transformer import NarTransformer

    bins = [("a", 8), ("b", 6)]
    with pytest.raises(ValueError, match="smaller_emb"):
        make_model(bins, TrainConfig(smaller_emb="bound"), "trm")
    with pytest.raises(ValueError, match="cont_fanout"):
        make_model(bins, TrainConfig(), "trm", continuous=frozenset({"b"}))
    with pytest.raises(ValueError, match="unknown arch"):
        make_model(bins, TrainConfig(), "rnn")
    assert isinstance(make_model(bins, TrainConfig(d_word=8), "trm"),
                      NarTransformer)


def test_save_load_roundtrip(tables, exact, tmp_path):
    """Checkpoint-eval workflow (reference run.py:659-708, 770-788): a
    loaded estimator reproduces the trained one's estimates exactly (same
    seeds, same domains, no sample needed for serving)."""
    from scardina_spark.model.join_bridge import (
        load_join_estimator, save_join_estimator)
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=20_000, seed=42)
    cfg = TrainConfig(epochs=6, d_word=12, d_ff=48, batch_size=512, seed=42)
    est = train_join_estimator(
        ts, ["lineitem.l_quantity", "lineitem.l_shipdate",
             "orders.o_orderstatus", "orders.o_totalprice"],
        cfg, sample_size=400, fact_threshold=8)
    path = str(tmp_path / "ur_model")
    save_join_estimator(est, path)
    loaded = load_join_estimator(path)
    for sql in [
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
        "SELECT COUNT(*) FROM lineitem l WHERE l.l_shipdate < '1996-10-20'",
        "SELECT COUNT(*) FROM lineitem l, orders o WHERE l.l_orderkey = "
        "o.o_orderkey AND o.o_totalprice > 200000",
    ]:
        assert abs(est.estimate(sql) - loaded.estimate(sql)) < 1e-6, sql
    # factorization groups survived the roundtrip
    assert set(loaded.groups or {}) == set(est.groups or {})


def test_hybrid_clamps_sample_verified_zeros(tables, exact):
    """Sampling-verified learned estimation: a conjunction with zero
    satisfying rows gets q-error = est from the smoothed model; the hybrid
    short-circuits to 0 when the unbiased sample finds no satisfying row
    (q = 1 under the zero conventions)."""
    from scardina_spark.estimators import HybridEstimator, SampleEstimator
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=20_000, seed=42)
    cfg = TrainConfig(epochs=6, d_word=12, d_ff=48, batch_size=512, seed=42)
    nar = train_join_estimator(
        ts, ["lineitem.l_quantity", "supplier.s_nationkey",
             "supplier.s_acctbal"], cfg, sample_size=400, fact_threshold=8)
    ht = SampleEstimator()
    ht.add(ts.localize())
    hyb = HybridEstimator(nar, ht)
    zero_sql = ("SELECT COUNT(*) FROM lineitem l, supplier s WHERE "
                "l.l_suppkey = s.s_suppkey AND s.s_nationkey < 0")
    assert exact.estimate(zero_sql) == 0
    assert hyb.estimate(zero_sql) == 0.0
    live_sql = "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30"
    assert hyb.estimate(live_sql) == nar.estimate(live_sql) > 0


def test_skip_high_card_cols_flag(tables):
    """The reference's eval-time skip of near-key common columns
    (scardina/estimators.py:206-209, disable flag run.py:164): with the
    flag on (default), a dictionary larger than half the sample is not
    sampled for chained inheritance; disabling it widens the
    common-column set."""
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=2000, n_max=2000, seed=7)
    est = train_join_estimator(
        ts, ["lineitem.l_extendedprice", "lineitem.l_returnflag"],
        TrainConfig(epochs=1, d_word=4, d_ff=16, seed=7), sample_size=64)
    cap = max(64, est.ts.n_sample // 2)
    # prices are near-unique: their sample dictionary exceeds half the
    # sample rows (the >tbl_size/2 shape the reference heuristic targets)
    assert est.domains["lineitem.l_extendedprice"].dom_size > cap
    on = est._extra_cols({"lineitem"}, set())
    est.skip_high_card_cols = False
    off = est._extra_cols({"lineitem"}, set())
    assert "lineitem.l_extendedprice" not in on
    assert "lineitem.l_extendedprice" in off
    assert "lineitem.l_returnflag" in on
    assert set(on) <= set(off)


def test_deferred_fit_matches_serial(tables):
    """defer_fit=True then finish() must give BIT-IDENTICAL weights and
    estimates to the one-call train_join_estimator — the contract
    callers that time the fit apart from the Spark prep rely on."""
    import hashlib

    import numpy as np

    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=10_000, seed=42)
    cfg = TrainConfig(epochs=2, d_word=8, d_ff=32, batch_size=1024, seed=42)

    def whash(est):
        h = hashlib.sha256()
        m = est.model
        for a in [m.W1, m.b1, m.W2, m.b2] + m.emb + m.P:
            h.update(np.ascontiguousarray(a).tobytes())
        return h.hexdigest()

    serial = train_join_estimator(ts, DATA_COLS, cfg, sample_size=500)
    deferred = train_join_estimator(ts, DATA_COLS, cfg, sample_size=500,
                                    defer_fit=True).finish()
    assert whash(deferred) == whash(serial)
    # the assembled estimator answers queries identically
    sql = "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30"
    assert deferred.estimate(sql) == serial.estimate(sql)
