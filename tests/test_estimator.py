"""Sample-based cardinality estimator: q-error against exact truth.

The estimator is statistical; with a 100k sample over a ~6k-row join the
relative error for moderately selective predicates is small — assert
q-error bounds rather than equality.
"""

import pytest

from pyspark.sql import functions as F

from scardina_spark.catalog import build_tpch_schema, RELATIONAL_TABLES
from scardina_spark.estimators import (
    ExactEstimator, SampleEstimator, prepare_tree_sample)
from scardina_spark.estimators.sample import (
    UnsupportedQueryError, cin_tree, spanning_tree)


def qerr(est: float, true: float) -> float:
    # zero conventions follow the reference (scardina/run.py:60-67)
    if true == 0 and est == 0:
        return 1.0
    if true == 0 or est == 0:
        return float("inf")
    return max(est / true, true / est)


@pytest.fixture(scope="module")
def estimator(tables):
    sg = build_tpch_schema()
    ur = spanning_tree(sg, "lineitem")
    est = SampleEstimator()
    est.add(prepare_tree_sample(ur, tables, "lineitem", seed=42))
    return est


@pytest.fixture(scope="module")
def exact(tables):
    return ExactEstimator(build_tpch_schema(), tables)


QUERIES = [
    "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
    "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R' AND l_quantity <= 25",
    "SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'",
    "SELECT COUNT(*) FROM customer",
    "SELECT COUNT(*) FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey "
    "AND o.o_orderstatus = 'F'",
    "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
    "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
    "AND c.c_mktsegment = 'BUILDING' AND l.l_quantity > 10",
    "SELECT COUNT(*) FROM orders o, customer c "
    "WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 0",
]


@pytest.mark.parametrize("sql", QUERIES)
def test_qerror_small(estimator, exact, sql):
    est = estimator.estimate(sql)
    true = exact.estimate(sql)
    assert qerr(est, true) < 1.2, (sql, est, true)


def test_deep_unused_subtree_unbiased(estimator, tables):
    """used={customer} leaves unused components of depth 3 (orders→lineitem
    →{part,supplier}) and depth 2 (nation→region) — the case where the
    reference's weight-sum divisor is biased; adjacency divisors must
    recover |customer| closely."""
    est = estimator.estimate("SELECT COUNT(*) FROM customer")
    true = tables["customer"].count()
    assert qerr(est, true) < 1.1, (est, true)


def test_unsupported_cross_product_rejected(estimator):
    with pytest.raises(UnsupportedQueryError):
        estimator.estimate("SELECT COUNT(*) FROM part p, supplier s "
                           "WHERE p.p_size > 10 AND s.s_suppkey > 5")


def test_unsupported_off_tree_join_rejected(estimator):
    # the BFS spanning tree from lineitem reaches nation via supplier, so
    # the customer-nation edge is the one dropped
    with pytest.raises(UnsupportedQueryError):
        estimator.estimate(
            "SELECT COUNT(*) FROM customer c, nation n "
            "WHERE c.c_nationkey = n.n_nationkey")


def test_cin_sample_covers_dropped_edge(tables):
    """A CIN sample centered on customer covers customer⋈nation."""
    sg = build_tpch_schema()
    est = SampleEstimator()
    est.add(prepare_tree_sample(cin_tree(sg, "customer"), tables, "customer",
                                seed=7))
    got = est.estimate(
        "SELECT COUNT(*) FROM customer c, nation n "
        "WHERE c.c_nationkey = n.n_nationkey AND n.n_name LIKE 'NATION_1%'")
    exact = ExactEstimator(sg, tables).estimate(
        "SELECT COUNT(*) FROM customer c, nation n "
        "WHERE c.c_nationkey = n.n_nationkey AND n.n_name LIKE 'NATION_1%'")
    assert qerr(got, exact) < 1.25


def test_estimate_many_matches_single(estimator):
    """The batched aggregate must reproduce the per-query distributed path
    exactly (same contributions, same sample) and omit unsupported keys."""
    queries = {f"q{i}": sql for i, sql in enumerate(QUERIES)}
    queries["bad"] = ("SELECT COUNT(*) FROM part p, supplier s "
                      "WHERE p.p_size > 10 AND s.s_suppkey > 5")
    got = estimator.estimate_many(queries, batch_size=3)
    assert "bad" not in got
    assert set(got) == {f"q{i}" for i in range(len(QUERIES))}
    for i, sql in enumerate(QUERIES):
        single = estimator.estimate(sql)
        assert got[f"q{i}"] == pytest.approx(single, rel=1e-9), sql


def test_estimate_many_localized(estimator):
    """Batch over a localized sample routes through the pandas path and
    still agrees with the distributed single-query numbers."""
    ts = estimator.samples[0]
    try:
        ts.localize()
        queries = {f"q{i}": sql for i, sql in enumerate(QUERIES)}
        got = estimator.estimate_many(queries)
        for i, sql in enumerate(QUERIES):
            assert got[f"q{i}"] == pytest.approx(
                estimator.estimate(sql), rel=1e-9)
    finally:
        ts.local = None


def test_estimate_with_stderr(estimator):
    """Both paths return the same (estimate, se); se is a plausible
    sampling error (positive for selective predicates, small relative to
    the estimate for broad ones)."""
    sql = QUERIES[1]
    est_d, se_d = estimator.estimate_with_stderr(sql)
    assert est_d == pytest.approx(estimator.estimate(sql), rel=1e-9)
    assert se_d > 0
    ts = estimator.samples[0]
    try:
        ts.localize()
        est_l, se_l = estimator.estimate_with_stderr(sql)
    finally:
        ts.local = None
    assert est_l == pytest.approx(est_d, rel=1e-9)
    assert se_l == pytest.approx(se_d, rel=1e-6)
    assert se_d < 0.2 * est_d  # 100k-row sample: tight band


def test_hybrid_ci_clamp(estimator, exact):
    """mode='ci' confines a wildly-off learned estimate to the sample's
    confidence band; an in-band estimate passes through untouched."""
    from scardina_spark.estimators import HybridEstimator

    sql = QUERIES[1]
    ht, se = estimator.estimate_with_stderr(sql)

    class Fake:
        def __init__(self, v):
            self.v = v
        def estimate(self, q):
            return self.v

    wild = HybridEstimator(Fake(ht * 100), estimator, mode="ci")
    got = wild.estimate(sql)
    assert got == pytest.approx(ht + 3.0 * se, rel=1e-9)
    true = exact.estimate(sql)
    assert max(got / true, true / got) < 1.1
    inband = HybridEstimator(Fake(ht + se), estimator, mode="ci")
    assert inband.estimate(sql) == pytest.approx(ht + se, rel=1e-9)
    # zero mode unchanged: wild estimate passes through when ht > 0
    zero = HybridEstimator(Fake(ht * 100), estimator, mode="zero")
    assert zero.estimate(sql) == pytest.approx(ht * 100, rel=1e-9)


def test_hybrid_arbiter_geomean(estimator, exact):
    """mode='arbiter' returns sqrt(model * ht): a 4x-off model lands
    within 2x of truth when the sample is near-exact."""
    import math

    from scardina_spark.estimators import HybridEstimator

    sql = QUERIES[1]
    ht = estimator.estimate(sql)

    class Fake:
        def __init__(self, v):
            self.v = v
        def estimate(self, q):
            return self.v

    # disagreement beyond the gate (default 2x): fall back to HT entirely
    arb = HybridEstimator(Fake(ht * 4), estimator, mode="arbiter")
    got = arb.estimate(sql)
    assert got == pytest.approx(ht, rel=1e-9)
    true = exact.estimate(sql)
    assert max(got / true, true / got) < 1.2  # pure sample error

    # agreement within the gate: geometric mean of the two
    agree = HybridEstimator(Fake(ht * 1.5), estimator, mode="arbiter")
    got2 = agree.estimate(sql)
    assert got2 == pytest.approx(math.sqrt(ht * 1.5 * ht), rel=1e-9)
    assert max(got2 / true, true / got2) < 1.5  # sqrt(1.5) * sample error

    # widened gate restores the old ungated geomean behaviour
    wide = HybridEstimator(Fake(ht * 4), estimator, mode="arbiter",
                           gate=10.0)
    assert wide.estimate(sql) == pytest.approx(math.sqrt(ht * 4 * ht),
                                               rel=1e-9)

    # zero short-circuit still applies in arbiter mode
    class ZeroChecker:
        def estimate(self, q):
            return 0.0

    assert HybridEstimator(Fake(123.0), ZeroChecker(),
                           mode="arbiter").estimate(sql) == 0.0


def test_hybrid_clamp_precomputed_pair_matches(estimator):
    """clamp(..., ht_se=pair) equals the self-computed path in every
    mode — the bench passes one estimate_with_stderr pair to several
    clamps over the same query."""
    from scardina_spark.estimators import HybridEstimator

    sql = QUERIES[1]
    pair = estimator.estimate_with_stderr(sql)

    class Fake:
        def __init__(self, v):
            self.v = v
        def estimate(self, q):
            return self.v

    est = pair[0] * 1.5
    for mode in ("zero", "ci", "arbiter"):
        hyb = HybridEstimator(Fake(est), estimator, mode=mode)
        assert hyb.clamp(sql, est, ht_se=pair) == \
            pytest.approx(hyb.clamp(sql, est), rel=1e-12), mode


def test_parallel_edge_subschemas_route_queries(spark):
    """Two FKs from one table into the same parent (the reference's
    parallel-edge case, scardina/schema.py:117) expand into one
    subschema per choice, each samples independently, and the estimator
    routes a query to the subschema whose join edge it uses."""
    import random

    from pyspark.sql import functions as F

    from scardina_spark.estimators import SampleEstimator
    from scardina_spark.estimators.sample import prepare_tree_sample
    from scardina_spark.schema import SchemaGraph

    random.seed(7)
    nation = spark.createDataFrame([(i, f"N{i}") for i in range(10)],
                                   ["n_id", "n_name"])
    orders2 = spark.createDataFrame(
        [(i, random.randrange(10), random.randrange(10))
         for i in range(2000)],
        ["o_id", "ship_n", "bill_n"])
    sg = SchemaGraph("par")
    sg.add_table("nation", size=10)
    sg.add_table("orders2", size=2000)
    sg.add_relationship("nation", "n_id", "orders2", "ship_n")
    sg.add_relationship("nation", "n_id", "orders2", "bill_n")
    subs = [s for s in sg.cin_subschemas().values()
            if s.center == "orders2"]
    assert len(subs) == 2  # one per parallel-edge choice

    tables = {"nation": nation, "orders2": orders2}
    est = SampleEstimator()
    for ss in subs:
        ts = prepare_tree_sample(ss, tables, "orders2",
                                 n_min=1000, n_max=1000, seed=1)
        est.add(ts)

    for fk in ["ship_n", "bill_n"]:
        e = est.estimate(
            f"SELECT COUNT(*) FROM orders2 o, nation n "
            f"WHERE o.{fk} = n.n_id AND n.n_name = 'N3'")
        truth = orders2.where(F.col(fk) == 3).count()
        assert truth > 0
        assert max(e / truth, truth / e) < 1.5, (fk, e, truth)


def _contrib_sql_vs_column_checked(est) -> set[str]:
    """The HT contribution column is rendered as ONE SQL string (to save
    driver py4j round-trips); the parsed tree must produce BIT-IDENTICAL
    estimates to the Column-API build for every suite query the sample
    routes (typed literals: ints, D-suffixed doubles, TIMESTAMP,
    RLIKE-lowered LIKE, OR groups).  Returns the names checked."""
    from pyspark.sql import functions as F

    from scardina_spark.benchmarks import job_light_suite, or_suite
    from scardina_spark.estimators.sample import _divisor_cols
    from column_lowering import predicates_to_column

    def column_contrib(ts, preds, q_tables):
        ind = predicates_to_column(preds, qualify=True)
        for t in sorted(q_tables):
            ind = ind & F.col(f"`__in__:{t}`")
        div = F.lit(1.0)
        for c in _divisor_cols(ts, q_tables):
            div = div * F.greatest(F.col(f"`{c}`").cast("double"),
                                   F.lit(1.0))
        return F.when(ind, F.lit(1.0) / div).otherwise(F.lit(0.0))

    suite = {**job_light_suite(), **or_suite()}
    checked = set()
    for name, sql in suite.items():
        try:
            ts, preds, q_tables = est._route(sql)
        except Exception:
            continue
        got, want = ts.sample.agg(
            F.avg(est._contrib_column(ts, preds, q_tables)),
            F.avg(column_contrib(ts, preds, q_tables))).first()
        assert got == want, (name, got, want)
        checked.add(name)
    return checked


# one query per literal kind: doubles and BETWEEN, LIKE, IS NOT NULL
# with TIMESTAMP, ints on a 3-way join, OR with LIKE, OR with BETWEEN
_CONTRIB_FAST = ("jl_l_5", "jl_o_c_0", "jl_o_c_5", "jl_l_s_n_2",
                 "or_l_o_1", "or_l_s_n_0")


def test_contrib_sql_matches_column_estimates(estimator):
    checked = _contrib_sql_vs_column_checked(estimator)
    assert len(checked) >= 60
    assert set(_CONTRIB_FAST) <= checked, set(_CONTRIB_FAST) - checked
