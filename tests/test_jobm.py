"""Job-m-shape benchmark: derived shipments fact table, parallel-edge
subschemas, suite determinism, full estimator coverage, and the
chain-fragment trimming that multi-fact queries rely on."""

from __future__ import annotations

import pytest

from scardina_spark import jobm as JM
from scardina_spark.estimators.sample import (
    SampleEstimator, TreeSample, UnsupportedQueryError, prepare_tree_sample)
from scardina_spark.estimators.stitch import build_chain
from scardina_spark.plans.parse import parse_query
from scardina_spark.schema import Relationship, Subschema

SF_DIR = "/root/testdata/sf0.001"


def test_jobm_schema_parallel_edges_expand():
    sg = JM.build_jobm_schema()
    subs = [s for s in sg.cin_subschemas().values()
            if s.center == "shipments"]
    assert len(subs) == 2  # one per parallel supplier FK
    fk_sets = {frozenset(r.fk_col for r in s.rels) for s in subs}
    assert fk_sets == {
        frozenset({"sh_orderkey", "sh_from_suppkey"}),
        frozenset({"sh_orderkey", "sh_carrier_suppkey"}),
    }


def test_jm_sample_trees_keep_both_shipments_edges():
    t_from, t_carrier = JM.jm_sample_trees()
    for tree, fk in [(t_from, "sh_from_suppkey"),
                     (t_carrier, "sh_carrier_suppkey")]:
        fk_cols = {r.fk_col for r in tree.rels}
        assert "sh_orderkey" in fk_cols
        assert fk in fk_cols
        # lineitem must attach through orders (the multi-fact chain)
        assert "l_orderkey" in fk_cols
        assert "l_suppkey" not in fk_cols


def test_derive_shipments_deterministic_and_valid(spark):
    path = JM.derive_shipments(spark, SF_DIR)
    assert path == JM.derive_shipments(spark, SF_DIR)  # cached reuse
    sh = spark.read.parquet(path)
    n_orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    n_supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet").count()
    assert sh.count() == 2 * n_orders
    from pyspark.sql import functions as F
    row = sh.agg(
        F.min("sh_orderkey"), F.max("sh_orderkey"),
        F.min("sh_from_suppkey"), F.max("sh_from_suppkey"),
        F.min("sh_carrier_suppkey"), F.max("sh_carrier_suppkey")).first()
    assert row[0] >= 0 and row[1] < n_orders
    assert row[2] >= 0 and row[3] < n_supp
    assert row[4] >= 0 and row[5] < n_supp


def test_job_m_suite_deterministic():
    a, b = JM.job_m_suite(), JM.job_m_suite()
    assert a == b
    assert len(a) >= 50
    # every shape family is present
    fams = {n.rsplit("_", 1)[0] for n in a}
    assert "jm_h_u" in fams and "jm_h_v" in fams      # parallel edges
    assert "jm_l_o_h" in fams                          # multi-fact chain


def test_jm_ht_supports_every_suite_query(spark):
    tables = JM.load_jobm_tables(spark, SF_DIR)
    est = SampleEstimator(name="jm-ht")
    for t in JM.jm_sample_trees():
        est.add(prepare_tree_sample(t, tables, "shipments", n_min=5_000,
                                    n_max=10_000, seed=1).localize())
    suite = JM.job_m_suite()
    truths = JM.jobm_duckdb_truths(SF_DIR, suite)
    bad = []
    for name, sql in suite.items():
        e = est.estimate(sql)  # raises UnsupportedQueryError on a gap
        t = truths[name]
        q = (max(e / t, t / e) if e > 0 and t > 0
             else (1.0 if e == t else float("inf")))
        if q > 3.0:
            bad.append((name, e, t))
    assert not bad, bad[:5]


# --- chain-fragment trimming (the multi-fact 600x bug) --------------------

def _fake_sample(name, center, rels):
    tree = Subschema(name, center, tuple(rels))
    return TreeSample(tree, center, None, 1000, 100)


def _rel(pk_t, pk_c, fk_t, fk_c):
    return Relationship(pk_t, pk_c, fk_t, fk_c)


def test_build_chain_trims_rider_tables():
    """A sample containing a query table that the fragment's own query
    joins do not reach must NOT absorb it: the old behavior injected the
    sample's tree edge (a join the query never asked for), producing
    600x over-estimates on the jm multi-fact chains."""
    s_fact1 = _fake_sample("s1", "f1", [
        _rel("d", "d_id", "f1", "f1_d"),
        _rel("s", "s_id", "f1", "f1_s"),
    ])
    s_fact2 = _fake_sample("s2", "f2", [
        _rel("d", "d_id", "f2", "f2_d"),
        _rel("s", "s_id", "f2", "f2_s"),
    ])
    pq = parse_query(
        "SELECT COUNT(*) FROM f1 a, d, f2 b, s "
        "WHERE a.f1_d = d.d_id AND b.f2_d = d.d_id AND b.f2_s = s.s_id")
    chain = build_chain([s_fact1, s_fact2], pq, dict(pq.tables))
    frags = [(ts.tree.name, frozenset(frag), frozenset(shared))
             for ts, frag, shared in chain]
    # s2 covers {f2, d, s}; s1 then covers ONLY {f1, d} — s is a rider
    # for s1 (the query joins s to f2, not to f1)
    assert ("s2", frozenset({"f2", "d", "s"}), frozenset()) in frags
    assert ("s1", frozenset({"f1", "d"}), frozenset({"d"})) in frags
    for _, frag, _ in chain:
        assert frag != {"f1", "d", "s"}


def test_build_chain_routes_parallel_edge_variant():
    """Two samples over the SAME tables but different FK edges: the chain
    must pick the one whose tree holds the query's column-level join."""
    s_from = _fake_sample("from", "h", [
        _rel("o", "o_id", "h", "h_o"),
        _rel("s", "s_id", "h", "h_from"),
    ])
    s_carrier = _fake_sample("carrier", "h", [
        _rel("o", "o_id", "h", "h_o"),
        _rel("s", "s_id", "h", "h_carrier"),
    ])
    s_sup = _fake_sample("sup", "s", [_rel("n", "n_id", "s", "s_n")])
    pq = parse_query(
        "SELECT COUNT(*) FROM h, s, n "
        "WHERE h.h_carrier = s.s_id AND s.s_n = n.n_id")
    chain = build_chain([s_from, s_carrier, s_sup], pq, dict(pq.tables))
    names = [ts.tree.name for ts, _, _ in chain]
    assert "carrier" in names
    assert "from" not in names


def test_build_chain_rejects_uncoverable_edge():
    s1 = _fake_sample("s1", "f1", [_rel("d", "d_id", "f1", "f1_d")])
    pq = parse_query(
        "SELECT COUNT(*) FROM f1 a, d WHERE a.f1_other = d.d_id")
    with pytest.raises(UnsupportedQueryError):
        build_chain([s1], pq, dict(pq.tables))


def test_build_cin_estimator_covers_parallel_alternatives(spark):
    """build_cin_estimator trains one model per parallel-edge subschema
    alternative, so both supplier roles route without manual wiring."""
    from scardina_spark.estimators.cin import build_cin_estimator
    from scardina_spark.jobm import JM_CIN_SH_COLUMNS
    from scardina_spark.model import TrainConfig

    tables = JM.load_jobm_tables(spark, SF_DIR)
    sg = JM.build_jobm_schema()
    cfg = TrainConfig(epochs=2, d_word=8, d_ff=16, batch_size=512, seed=5)
    cin = build_cin_estimator(
        sg, tables, {"shipments": JM_CIN_SH_COLUMNS},
        lambda center: cfg, sample_size=100, max_rows=4_000,
        fact_threshold=8, seed=5)
    assert len(cin.models) == 2
    fk_sets = {frozenset(r.fk_col for r in m.ts.tree.rels)
               for m in cin.models}
    assert fk_sets == {
        frozenset({"sh_orderkey", "sh_from_suppkey"}),
        frozenset({"sh_orderkey", "sh_carrier_suppkey"}),
    }
    # each alternative answers the query over ITS edge
    for fk in ["sh_from_suppkey", "sh_carrier_suppkey"]:
        e = cin.estimate(
            f"SELECT COUNT(*) FROM shipments h, supplier s "
            f"WHERE h.{fk} = s.s_suppkey AND s.s_nationkey < 5")
        assert e > 0
