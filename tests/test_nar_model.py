"""NumPy NAR masked autoencoder + progressive sampling: valid-mask unit
tests, training convergence, and q-error against exact truth."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from scardina_spark.model import ColumnDomain, NarMLP, NarEstimator, TrainConfig
from scardina_spark.model.bridge import train_single_table
from scardina_spark.model.progressive import valid_mask
from scardina_spark.plans.predicates import Predicate


def test_valid_mask_ops():
    dom = ColumnDomain("c", np.array([10, 20, 30, 40]))
    m = valid_mask(dom, [Predicate("t.c", ">", 15)])
    assert list(m) == [0, 0, 0, 1, 1, 1]  # MASK, NULL, 10, 20, 30, 40
    m = valid_mask(dom, [Predicate("t.c", "IN", (10, 40))])
    assert list(m) == [0, 0, 1, 0, 0, 1]
    m = valid_mask(dom, [Predicate("t.c", ">", 15), Predicate("t.c", "<", 35)])
    assert list(m) == [0, 0, 0, 1, 1, 0]
    m = valid_mask(dom, [Predicate("t.c", "IS", None)])
    assert list(m) == [0, 1, 0, 0, 0, 0]
    m = valid_mask(dom, [Predicate("t.c", "IS NOT", None)])
    assert list(m) == [0, 0, 1, 1, 1, 1]


def test_valid_mask_datetime_literals():
    """numpy 1.26 refuses datetime64-array vs python-datetime comparison;
    valid_mask must coerce the literal (date predicates come from SQL as
    datetime.datetime via the parser's date heuristic)."""
    import datetime
    dom = ColumnDomain("d", np.array(
        ["1995-01-02", "1996-11-01", "1998-05-05"], dtype="datetime64[ns]"))
    m = valid_mask(dom, [Predicate("t.d", "<",
                                   datetime.datetime(1996, 10, 20))])
    assert list(m) == [0, 0, 1, 0, 0]
    m = valid_mask(dom, [Predicate("t.d", "IN",
                                   (datetime.datetime(1996, 11, 1),))])
    assert list(m) == [0, 0, 0, 1, 0]


def test_valid_mask_like():
    dom = ColumnDomain("c", np.array(["apple", "banana", "cherry"]))
    m = valid_mask(dom, [Predicate("t.c", "LIKE", "%an%")])
    assert list(m) == [0, 0, 0, 1, 0]


def test_training_reduces_loss():
    rs = np.random.RandomState(0)
    # correlated 2-col data: y = x with noise
    x = rs.randint(2, 12, size=4000)
    y = np.where(rs.rand(4000) < 0.9, x, rs.randint(2, 12, size=4000))
    codes = np.stack([x, y], axis=1)
    m = NarMLP([("x", 12), ("y", 12)],
               TrainConfig(epochs=8, d_word=8, d_ff=32, seed=1))
    losses = m.fit(codes)
    assert losses[-1] < losses[0] * 0.8


def test_save_load_roundtrip(tmp_path):
    m = NarMLP([("a", 5), ("b", 7)], TrainConfig(epochs=1, seed=3))
    codes = np.random.RandomState(0).randint(2, 5, size=(100, 2))
    m.fit(codes)
    p = str(tmp_path / "model.npz")
    m.save(p)
    m2 = NarMLP.load(p)
    mask = np.zeros((4, 2), dtype=bool)
    mask[:, 1] = True
    test_codes = np.array([[2, 0], [3, 0], [4, 0], [2, 0]])
    np.testing.assert_allclose(m.logits_for(test_codes, mask, 1),
                               m2.logits_for(test_codes, mask, 1))


@pytest.fixture(scope="module")
def li_estimator(tables):
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]
    cfg = TrainConfig(epochs=15, d_word=12, d_ff=48, batch_size=512, seed=42)
    return train_single_table(tables["lineitem"], cols, cfg, sample_size=1000)


NAR_QUERIES = [
    ("SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'", 2.0),
    ("SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30", 2.0),
    ("SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R' "
     "AND l_quantity <= 25", 2.5),
    ("SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 "
     "AND l_discount > 0.02", 2.5),
]


@pytest.mark.parametrize("sql,bound", NAR_QUERIES)
def test_nar_qerror(li_estimator, tables, duck, sql, bound):
    est = li_estimator.estimate(sql)
    true = duck.sql(sql).fetchone()[0]
    assert est > 0
    q = max(est / true, true / est)
    assert q < bound, (sql, est, true, q)


def test_nar_no_predicates_returns_table_size(li_estimator, tables):
    est = li_estimator.estimate("SELECT COUNT(*) FROM lineitem")
    assert est == tables["lineitem"].count()


# --- distributed-domain bridge: huge dictionaries never localize ---

def test_huge_dictionary_never_collects_values(spark):
    """A 5M-distinct column trains and answers queries with the domain
    kept distributed: driver holds codes/masks (ints/bits), never the
    value array (the 100M-distinct `title.title`-at-100x OOM case)."""
    from pyspark.sql import functions as F

    from scardina_spark.model import TrainConfig
    from scardina_spark.model.bridge import base_domains, train_single_table
    from scardina_spark.model.progressive import DistributedDomain

    n = 5_000_000
    df = (spark.range(n)
          .select(F.col("id").alias("v"),
                  (F.col("id") % 4).cast("string").alias("cat")))
    dom5m = base_domains({"t": df}, ["t.v"])["t.v"]

    cfg = TrainConfig(epochs=2, d_word=8, d_ff=16, batch_size=512, seed=3)
    est = train_single_table(df, ["v", "cat"], cfg, sample_size=200,
                             max_rows=2_000, fact_threshold=8,
                             dictionaries={"v": dom5m})

    dom = est.domains["v"]
    assert isinstance(dom, DistributedDomain)
    assert dom.values is None            # the 5M values never shipped
    assert dom.dom_size == n + 2
    # the huge column must be factorized (8-bit slices), so the model's
    # embedding tables are O(2^fact_threshold), not O(distinct)
    assert est.groups and "v" in est.groups
    assert all(b <= 2 ** 8 + 2 for c, b in zip(est.model.cols,
                                               est.model.doms)
               if c.startswith("v"))

    # query path: the valid mask is evaluated Spark-side over the
    # distributed dictionary (range predicate -> contiguous codes)
    sel = est.estimate(
        f"SELECT COUNT(*) FROM t WHERE v >= {n - n // 4}")
    assert 0 < sel < n
    # a selective equality keeps the collected code set tiny
    from scardina_spark.model.progressive import valid_mask
    from scardina_spark.plans.predicates import Predicate
    m = valid_mask(dom, [Predicate("v", "=", 12345)])
    assert m.sum() == 1.0
    assert m[12345 + 2] == 1.0           # code = sorted position + 2


def test_training_matrix_layout_independent_with_id_cols(tables):
    """With id_cols, the capped training matrix must be IDENTICAL no
    matter how the input is partitioned or ordered — the property that
    makes every learned model reproducible across sessions."""
    from scardina_spark.model.bridge import training_matrix

    li = tables["lineitem"]
    ids = ["l_orderkey", "l_linenumber"]
    cols = ["l_returnflag", "l_quantity"]
    a, _ = training_matrix(li, cols, max_rows=500, seed=7, id_cols=ids)
    # adversarial layouts: round-robin repartition and a reversed sort
    b, _ = training_matrix(li.repartition(7), cols, max_rows=500,
                           seed=7, id_cols=ids)
    c, _ = training_matrix(li.orderBy(F.desc("l_orderkey")), cols,
                           max_rows=500, seed=7, id_cols=ids)
    assert a.shape == (500, 2)
    assert np.array_equal(a, b)
    assert np.array_equal(a, c)


def test_base_domains_code_like_sample_built(tables):
    """Base-built dictionaries give a date, a string, a float and an int
    column the same codes (and the same value dtypes) as dictionaries
    built from the collected rows; a date dictionary used to come back
    as ``datetime`` objects that could not be searched against the
    sample's ``datetime64`` column."""
    from scardina_spark.model.bridge import base_domains, training_matrix

    o = tables["orders"]
    cols = ["o_orderdate", "o_orderstatus", "o_totalprice", "o_custkey"]
    want, own = training_matrix(o, cols, id_cols=["o_orderkey"])
    doms = base_domains({"orders": o}, [f"orders.{c}" for c in cols])
    got, _ = training_matrix(o, cols, id_cols=["o_orderkey"],
                             dictionaries={c: doms[f"orders.{c}"]
                                           for c in cols})
    assert np.array_equal(got, want)
    for c in cols:
        base = doms[f"orders.{c}"].values
        assert base.dtype.kind == own[c].values.dtype.kind, c
        assert np.array_equal(base, own[c].values), c


def test_base_domains_dedup_map_side_and_keep_big_ints(spark):
    """``base_domains`` runs one query per column, each with a partial
    aggregate below its exchange, so duplicates drop before the shuffle
    and no task has to dedup a whole column.  Integers past 2**53 keep
    their exact values beside a NULL-holding column of the same table,
    and code as the sample-built dictionary codes them."""
    from scardina_spark.model.bridge import base_domains, training_matrix

    big = 1 << 53
    df = spark.createDataFrame(
        [(i, big + i % 20, i % 5 if i % 3 else None) for i in range(60)],
        "k long, b long, c long")
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions_after(last):
        # the store keeps the latest executions in id order and evicts
        # the oldest, so new ones are read from its tail
        bus.waitUntilEmpty()
        ex, out = store.executionsList(), []
        for i in range(ex.size() - 1, -1, -1):
            if ex.apply(i).executionId() <= last:
                break
            out.append(ex.apply(i))
        return out[::-1]

    last = max((e.executionId() for e in executions_after(-1)[-1:]),
               default=-1)
    doms = base_domains({"t": df}, ["t.b", "t.c"])
    plans = [e.physicalPlanDescription() for e in executions_after(last)]
    assert len(plans) == 2
    for p in plans:
        final = p[:p.index("Initial Plan")]
        assert "HashAggregate" in final[final.index("Exchange"):], p
    b = doms["t.b"].values
    assert b.dtype == np.int64
    assert b.tolist() == [big + i for i in range(20)]
    want, _ = training_matrix(df, ["b", "c"], id_cols=["k"])
    got, _ = training_matrix(df, ["b", "c"], id_cols=["k"],
                             dictionaries={"b": doms["t.b"],
                                           "c": doms["t.c"]})
    assert np.array_equal(got, want)
    assert (got[:, 0] >= 2).all()


def test_smaller_emb_dims():
    """The reference's smaller_emb embedding-size heuristics
    (scardina/models.py:24-60): 'bound' caps widths at domain size,
    'continuous' gives fanout-like columns 1-wide embeddings, both
    combine; '' keeps a uniform d_word."""
    bins = [("t.flag", 3), ("t.big", 100),
            ("t.__adj_fanout__:k=o.k2", 40), ("t.c_year", 30)]
    dflt = NarMLP(bins, TrainConfig(d_word=16, d_ff=32, seed=1))
    assert dflt.dims == [16, 16, 16, 16]
    bound = NarMLP(bins, TrainConfig(d_word=16, d_ff=32, seed=1,
                                     smaller_emb="bound"))
    assert bound.dims == [3, 16, 16, 16]
    cont = NarMLP(bins, TrainConfig(d_word=16, d_ff=32, seed=1,
                                    smaller_emb="continuous"))
    assert cont.dims == [16, 16, 1, 1]
    both = NarMLP(bins, TrainConfig(d_word=16, d_ff=32, seed=1,
                                    smaller_emb="bound+continuous"))
    assert both.dims == [3, 16, 1, 1]
    # shapes follow the dims: emb rows x width, trunk input = sum(dims)
    assert bound.emb[0].shape == (3, 3)
    assert both.W1.shape[0] == 3 + 16 + 1 + 1


def test_smaller_emb_trains_and_roundtrips(tmp_path):
    rs = np.random.RandomState(0)
    x = rs.randint(2, 12, size=4000)
    y = np.where(rs.rand(4000) < 0.9, x, rs.randint(2, 12, size=4000))
    codes = np.stack([x, y], axis=1)
    m = NarMLP([("x", 12), ("y", 12)],
               TrainConfig(epochs=8, d_word=8, d_ff=32, seed=1,
                           smaller_emb="bound"))
    losses = m.fit(codes)
    assert losses[-1] < losses[0] * 0.8
    p = str(tmp_path / "m.npz")
    m.save(p)
    m2 = NarMLP.load(p)
    assert m2.cfg.smaller_emb == "bound"
    assert m2.dims == m.dims
    lg1 = m.logits_for(codes[:5], np.zeros((5, 2), bool), 1)
    lg2 = m2.logits_for(codes[:5], np.zeros((5, 2), bool), 1)
    assert np.allclose(lg1, lg2)


def test_serving_fast_path_matches_dense_trunk():
    """The masked-column factoring in _hidden re-associates float32
    sums but must agree with the dense trunk to float tolerance, for
    every mix of fully-masked / active / mixed-mask columns."""
    import numpy as np

    from scardina_spark.model.nar import NarMLP, TrainConfig

    rs = np.random.RandomState(7)
    bins = [(f"c{j}", 6) for j in range(10)] + [("f", 2)]
    m = NarMLP(bins, TrainConfig(d_word=8, d_ff=16, seed=3),
               continuous=frozenset(["f"]))
    codes = rs.randint(1, 6, size=(64, 11)).astype(np.float64)
    codes[:, 10] = rs.randn(64)  # continuous slot holds a float value
    for masked_cols in ([0, 1, 2, 3, 4, 5, 6, 7, 8],   # 2 active
                        [3, 4, 5, 6, 7, 8, 9, 10],     # cont masked
                        [],                             # all active
                        list(range(11))):               # all masked
        mask = np.zeros((64, 11), dtype=bool)
        mask[:, masked_cols] = True
        if len(masked_cols) < 11:
            # make one column mixed-mask: half the rows masked
            mixed = [j for j in range(10) if j not in masked_cols][0]
            mask[:32, mixed] = True
        h = m._trunk(m._encode(codes, mask))[2]   # the dense trunk
        for j in (9, 0):
            if j in masked_cols or mask[:, j].any():
                pass  # logits for a masked column are legitimate
            fast = m.logits_for(codes, mask, j)
            dense = (h @ m.P[j]) @ m.emb[j].T
            assert np.allclose(fast, dense, atol=1e-4), (
                masked_cols, j, np.abs(fast - dense).max())
        fr = m.regress_for(codes, mask, 10)
        dr = (h @ m.P[10]).ravel()
        assert np.allclose(fr, dr, atol=1e-4)


def test_serving_fast_path_cache_invalidates_on_train():
    """_masked_consts must refresh after a train step mutates W1."""
    import numpy as np

    from scardina_spark.model.nar import NarMLP, TrainConfig

    rs = np.random.RandomState(11)
    m = NarMLP([(f"c{j}", 5) for j in range(8)],
               TrainConfig(d_word=4, d_ff=8, seed=5, batch_size=32))
    codes = rs.randint(1, 5, size=(64, 8))
    mask = np.ones((64, 8), dtype=bool)
    mask[:, 0] = False
    before = m.logits_for(codes, mask, 1).copy()
    m.train_step(codes, rs)
    after = m.logits_for(codes, mask, 1)
    dense_after = (m._trunk(m._encode(codes, mask))[2] @ m.P[1]) @ m.emb[1].T
    assert not np.allclose(before, after)          # training moved it
    assert np.allclose(after, dense_after, atol=1e-4)  # cache refreshed
