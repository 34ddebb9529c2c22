"""CIN learned mode: per-subschema NAR models, chained estimation."""

import pytest

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.estimators import ExactEstimator, prepare_tree_sample
from scardina_spark.estimators.cin import NarCinEstimator
from scardina_spark.estimators.sample import cin_tree
from scardina_spark.model import TrainConfig
from scardina_spark.model.bridge import base_domains
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

FRAG_SQL = ("SELECT COUNT(*) FROM lineitem l, orders o, customer c "
            "WHERE l.l_orderkey = o.o_orderkey "
            "AND o.o_custkey = c.c_custkey "
            "AND c.c_mktsegment = 'BUILDING' AND l.l_returnflag = 'R'")


@pytest.fixture(scope="module")
def nar_cin(tables):
    sg = build_tpch_schema()
    est = NarCinEstimator()
    cfg = TrainConfig(epochs=15, d_word=12, d_ff=48, batch_size=512, seed=11)
    doms = base_domains(tables, sorted(
        {c for _, cols in SUBSCHEMAS.values() for c in cols}))
    for center, (root, cols) in SUBSCHEMAS.items():
        ts = prepare_tree_sample(cin_tree(sg, center), tables, root,
                                 n_min=30_000, seed=11)
        est.add(train_join_estimator(ts, cols, cfg, sample_size=800,
                                     dictionaries=doms))
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
    doms = base_domains(tables, sorted(
        {c for _, cols in specs.values() for c in cols}))
    for center, (root, cols) in specs.items():
        ts = prepare_tree_sample(cin_tree(sg, center), tables, root,
                                 n_min=30_000, seed=7)
        est.add(train_join_estimator(ts, cols, cfg, sample_size=800,
                                     dictionaries=doms))
    return est


def test_inherited_chain_fanout_upscale(nar_cin_fact, exact):
    from scardina_spark.plans.parse import parse_query
    sql = FRAG_SQL
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


def test_inherited_chain_serves_distributed_shared_column(nar_cin):
    """A shared column whose dictionary stays distributed (values never
    on the driver) is inherited by code: the chain gives the same
    estimate as with the collected dictionary."""
    from scardina_spark.model.progressive import DistributedDomain
    from scardina_spark.plans.parse import parse_query
    dom = nar_cin.models[0].domains["nation.n_name"]
    want = nar_cin._estimate_inherited(parse_query(ASIA))
    dist = DistributedDomain(dom.name, None, n_values=len(dom.values))
    try:
        for m in nar_cin.models:
            m.domains["nation.n_name"] = dist
        assert nar_cin.estimate(ASIA) == want
        assert want > 0
    finally:
        for m in nar_cin.models:
            m.domains["nation.n_name"] = dom


def test_inherited_codes_keep_their_values(nar_cin_fact, monkeypatch):
    """Every non-NULL code the root model samples for a shared column
    reaches the next model as the same value, never as NULL (with
    per-model dictionaries, values missing from the next model's
    dictionary became NULL)."""
    from scardina_spark.model.join_bridge import NarJoinEstimator
    seen = []
    orig = NarJoinEstimator.conditional_rows

    def record(self, pq, frag_tables, shared, values, *a):
        seen.append((self, shared, dict(values)))
        return orig(self, pq, frag_tables, shared, values, *a)

    monkeypatch.setattr(NarJoinEstimator, "conditional_rows", record)
    nar_cin_fact.estimate(FRAG_SQL)
    root = nar_cin_fact.models[0]
    checked = 0
    for m, shared, values in seen:
        for c, codes in values.items():
            if c.split(".")[0] not in shared or c.startswith("__") \
                    or c not in m.domains:
                continue
            nn = codes[codes >= 2]
            assert (nn < m.domains[c].dom_size).all(), c
            assert (m.domains[c].values[nn - 2]
                    == root.domains[c].values[nn - 2]).all(), c
            checked += len(nn)
    assert checked > 0


def test_add_refuses_mismatched_shared_dictionaries():
    """Two models that code a shared data column differently cannot
    chain; sample-built markers may differ."""
    import numpy as np

    from scardina_spark.model.progressive import ColumnDomain

    class M:
        def __init__(self, name, doms):
            self.ts = type("TS", (), {"tree": type(
                "T", (), {"name": name})()})()
            self.domains = {c: ColumnDomain(c, np.array(v))
                            for c, v in doms.items()}

    est = NarCinEstimator()
    est.add(M("a", {"nation.n_name": ["A", "B"],
                    "__in__:nation": [True]}))
    est.add(M("b", {"nation.n_name": ["A", "B"],
                    "__in__:nation": [False, True]}))
    with pytest.raises(ValueError, match="nation.n_name"):
        est.add(M("c", {"nation.n_name": ["A", "C"]}))
    assert len(est.models) == 2


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
