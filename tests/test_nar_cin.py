"""CIN learned mode: per-subschema NAR models, chained estimation."""

import pytest

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.estimators import ExactEstimator, prepare_tree_sample
from scardina_spark.estimators.cin import NarCinEstimator
from scardina_spark.estimators.sample import cin_tree
from scardina_spark.model import TrainConfig
from scardina_spark.model.join_bridge import train_join_estimator

SUBSCHEMAS = {
    # center -> (root, data columns)
    "customer": ("customer", ["customer.c_mktsegment", "customer.c_acctbal",
                              "nation.n_name"]),
    "nation": ("nation", ["nation.n_name", "region.r_name"]),
}

ASIA = ("SELECT COUNT(*) FROM customer c, nation n, region r "
        "WHERE c.c_nationkey = n.n_nationkey "
        "AND n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'")


@pytest.fixture(scope="module")
def nar_cin(tables):
    sg = build_tpch_schema()
    est = NarCinEstimator()
    cfg = TrainConfig(epochs=15, d_word=12, d_ff=48, batch_size=512, seed=11)
    for center, (root, cols) in SUBSCHEMAS.items():
        ts = prepare_tree_sample(cin_tree(sg, center), tables, root,
                                 n_min=30_000, seed=11)
        est.add(train_join_estimator(ts, cols, cfg, sample_size=800))
    return est


@pytest.fixture(scope="module")
def exact(tables):
    return ExactEstimator(build_tpch_schema(), tables)


def qerr(e, t):
    return max(e / t, t / e) if e > 0 and t > 0 else float("inf")


def test_single_model_path(nar_cin, exact):
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey "
           "AND n.n_name LIKE 'NATION_1%'")  # 11 of 25 nations
    assert qerr(nar_cin.estimate(sql), exact.estimate(sql)) < 2.0


def test_chained_models(nar_cin, exact):
    got = nar_cin.estimate(ASIA)
    want = exact.estimate(ASIA)
    assert qerr(got, want) < 2.5, (got, want)


def test_uncovered_raises(nar_cin):
    from scardina_spark.estimators.sample import UnsupportedQueryError
    with pytest.raises(UnsupportedQueryError):
        nar_cin.estimate("SELECT COUNT(*) FROM lineitem WHERE l_quantity > 5")


def test_inherited_chain_is_used(nar_cin, exact):
    """The per-row inherited-sample path (reference estimators.py:1309-1411)
    answers the chained query directly — no fallback exception — and the
    predicate-free shared column (nation.n_name) is sampled by the root
    model so the next model can condition on it."""
    from scardina_spark.plans.parse import parse_query
    got = nar_cin._estimate_inherited(parse_query(ASIA))
    want = exact.estimate(ASIA)
    assert qerr(got, want) < 2.5, (got, want)


@pytest.fixture(scope="module")
def nar_cin_fact(tables):
    """Chain whose second element crosses PK→FK (orders→lineitem): the
    conditional step must up-scale by the sampled crossing fanout."""
    sg = build_tpch_schema()
    est = NarCinEstimator()
    cfg = TrainConfig(epochs=12, d_word=12, d_ff=48, batch_size=512, seed=7)
    specs = {
        # orders model added FIRST so the greedy cover roots the chain there
        "orders": ("orders", ["orders.o_orderstatus",
                              "customer.c_mktsegment"]),
        "lineitem": ("lineitem", ["lineitem.l_returnflag",
                                  "orders.o_orderstatus"]),
    }
    for center, (root, cols) in specs.items():
        ts = prepare_tree_sample(cin_tree(sg, center), tables, root,
                                 n_min=30_000, seed=7)
        est.add(train_join_estimator(ts, cols, cfg, sample_size=800))
    return est


def test_inherited_chain_fanout_upscale(nar_cin_fact, exact):
    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, customer c "
           "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
           "AND c.c_mktsegment = 'BUILDING' AND l.l_returnflag = 'R'")
    pq = parse_query(sql)
    got = nar_cin_fact._estimate_inherited(pq)
    want = exact.estimate(sql)
    assert qerr(got, want) < 3.0, (got, want)
    # estimate() routes through the same path (no single model covers
    # {lineitem, orders, customer})
    assert qerr(nar_cin_fact.estimate(sql), want) < 3.0


def test_cin_save_load_roundtrip(nar_cin, exact, tmp_path):
    """A loaded CIN estimator reproduces both the single-model and the
    chained inherited-sample estimates exactly (deterministic seeds; no
    join samples on disk, and none read at query time)."""
    from scardina_spark.estimators.cin import (
        load_cin_estimator, save_cin_estimator)
    path = str(tmp_path / "cin_ckpt")
    save_cin_estimator(nar_cin, path)
    loaded = load_cin_estimator(path)
    for sql in [
        "SELECT COUNT(*) FROM customer c, nation n "
        "WHERE c.c_nationkey = n.n_nationkey AND n.n_name LIKE 'NATION_1%'",
        ASIA,
    ]:
        assert abs(nar_cin.estimate(sql) - loaded.estimate(sql)) < 1e-6, sql


def test_hybrid_arbiter_tightens_chain(nar_cin, exact):
    """The gated arbiter over a stitched sample checker (the chain rule
    over per-fragment HT aggregates) is at least as accurate on a chained
    query as the raw model chain, and an empty region forces 0."""
    from scardina_spark.estimators import HybridEstimator, StitchedEstimator
    checker = StitchedEstimator()
    for ts in nar_cin.samples:
        checker.add(ts.localize())
    hyb = HybridEstimator(nar_cin, checker, mode="arbiter")
    want = exact.estimate(ASIA)
    with_arb = hyb.estimate(ASIA)
    without = nar_cin.estimate(ASIA)
    assert qerr(with_arb, want) <= qerr(without, want) * 1.05, (
        with_arb, without, want)
    # the HT chain agreeing with an empty region forces 0
    empty = ASIA.replace("'ASIA'", "'NOWHERE'")
    assert hyb.estimate(empty) == 0.0


def test_ratio_chain_serves_distributed_shared_column(nar_cin):
    """A shared column whose dictionary values stay off the driver cannot
    be inherited by value: the chained query falls back to the
    expectation-ratio chain over the models instead of raising."""
    from scardina_spark.estimators.stitch import chain_estimate
    from scardina_spark.model.progressive import DistributedDomain
    from scardina_spark.plans.parse import parse_query
    cust = next(m for m in nar_cin.models if m.ts.tree.center == "customer")
    dom = cust.domains["nation.n_name"]
    cust.domains["nation.n_name"] = DistributedDomain(
        dom.name, None, n_values=len(dom.values))
    try:
        want = chain_estimate(
            nar_cin.samples, parse_query(ASIA),
            lambda ts, frag: nar_cin._model_for(ts).estimate(frag))
        assert nar_cin.estimate(ASIA) == want
        assert want > 0
    finally:
        cust.domains["nation.n_name"] = dom


def test_cin_builder_transformer_arch(spark, tables):
    """build_cin_estimator threads arch= through to every subschema
    model; a trm-arch CIN still answers a chained query sensibly."""
    from scardina_spark.catalog import build_tpch_schema
    from scardina_spark.estimators.cin import build_cin_estimator
    from scardina_spark.model import TrainConfig

    sg = build_tpch_schema()
    cols = {"orders": ["orders.o_orderstatus", "orders.o_orderpriority",
                       "customer.c_mktsegment", "customer.c_nationkey"]}
    cfg = TrainConfig(epochs=4, d_word=12, d_ff=32, batch_size=512,
                      seed=42)
    est = build_cin_estimator(sg, tables, cols, lambda c: cfg,
                              sample_size=400, max_rows=8_000,
                              fact_threshold=8, arch="trm")
    from scardina_spark.model.transformer import NarTransformer
    assert est.models
    assert all(isinstance(m.model, NarTransformer) for m in est.models)
    sql = ("SELECT COUNT(*) FROM orders o, customer c "
           "WHERE o.o_custkey = c.c_custkey "
           "AND c.c_mktsegment = 'BUILDING'")
    e = est.estimate(sql)
    from scardina_spark.estimators import ExactEstimator
    t = ExactEstimator(sg, tables).estimate(sql)
    assert t > 0 and max(e / t, t / e) < 3.0, (e, t)
