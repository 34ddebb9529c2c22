"""Factorized NAR columns: sub-mask projection unit tests + q-error with a
large-domain column in the model."""

import numpy as np
import pytest

from scardina_spark.functions.factorize import factorization_spec
from scardina_spark.model import TrainConfig
from scardina_spark.model.bridge import train_single_table
from scardina_spark.model.progressive import _sub_masks_for_prefix


def test_sub_mask_projection_range_pred():
    # domain of 300 codes, threshold 4 -> windows [5,4] (bits=9)
    spec = factorization_spec("c", 300, 4)
    assert spec.is_factorized
    full = np.zeros(300)
    full[100:200] = 1.0  # codes 100..199 valid
    K = len(spec.sub_cols) - 1
    top = spec.sub_cols[K]
    # most significant window first: valid top values are those whose block
    # [v-1 << off, v << off) intersects [100, 200)
    m_top = _sub_masks_for_prefix(full, spec, K, np.zeros(3, dtype=np.int64))
    blk = 1 << top.offset
    for v in range(1, top.dist_size):
        lo, hi = (v - 1) * blk, v * blk
        expect = 1.0 if (lo < 200 and hi > 100) else 0.0
        assert m_top[0, v] == expect, v
    # fix top window to the block containing code 100; lower window masks
    # must match exact membership
    v_top = 100 // blk + 1
    prefix = np.full(3, (v_top - 1) << top.offset, dtype=np.int64)
    m0 = _sub_masks_for_prefix(full, spec, 0, prefix)
    sub0 = spec.sub_cols[0]
    for v in range(1, min(sub0.dist_size, 2 ** sub0.window + 1)):
        code = ((v_top - 1) << top.offset) + (v - 1)
        expect = 1.0 if code < 300 and full[code] else 0.0
        assert m0[0, v] == expect, (v, code)


def test_packed_mask_matches_dense_sub_projection():
    """PackedMask (the O(matched) huge-dictionary mask) must produce
    bit-identical sub-mask projections to the dense path, for every
    sub-column, on randomized masks/prefixes — the parity that lets the
    factorized sampler consume it without a dom-length materialization."""
    from scardina_spark.model.progressive import PackedMask

    rng = np.random.RandomState(11)
    for dom, thresh in ((300, 4), (1 << 14, 6), (1234567, 8)):
        spec = factorization_spec("c", dom, thresh)
        assert spec.is_factorized
        dense = np.zeros(dom)
        set_codes = np.unique(rng.randint(2, dom, size=200))
        dense[set_codes] = 1.0
        packed = PackedMask(dom, set_codes.astype(np.int64))
        assert packed.sum() == dense.sum()
        assert packed[int(set_codes[0])] == 1.0
        assert packed[0] == 0.0
        np.testing.assert_array_equal(packed.dense(), dense)
        for k in range(len(spec.sub_cols)):
            hi_bits = dom.bit_length() - spec.sub_cols[k].offset
            prefix = (rng.randint(0, max(dom >> spec.sub_cols[k].offset, 1),
                                  size=5).astype(np.int64)
                      << spec.sub_cols[k].offset)
            np.testing.assert_array_equal(
                _sub_masks_for_prefix(packed, spec, k, prefix),
                _sub_masks_for_prefix(dense, spec, k, prefix),
                err_msg=f"dom={dom} k={k} hi_bits={hi_bits}")


def test_distributed_domain_mask_is_packed(spark):
    """A >1M-value dictionary's predicate mask stays O(matched codes)
    driver-side: equality -> 1 code, a 25% range -> ~n/4 codes, never a
    dom_size float array (the reference's 0.8 GB/column bound, removed)."""
    from pyspark.sql import functions as F

    from scardina_spark.functions.dictionary import build_dictionary
    from scardina_spark.model.progressive import (
        DistributedDomain, PackedMask, valid_mask)
    from scardina_spark.plans.predicates import Predicate

    n = 1_200_000
    df = spark.range(n).select(F.col("id").alias("v"))
    dom = DistributedDomain("t.v", None, build_dictionary(df, "v"), n)
    m = valid_mask(dom, [Predicate("v", "=", 54321)])
    assert isinstance(m, PackedMask)
    assert m.sum() == 1.0 and len(m.codes) == 1
    assert m[54321 + 2] == 1.0           # code = sorted position + 2
    r = valid_mask(dom, [Predicate("v", ">=", n - n // 4)])
    assert isinstance(r, PackedMask)
    assert len(r.codes) == n // 4        # O(selectivity * distinct)
    assert r.block_any(np.array([(n // 2 + 2) >> 8]), 8)[0] == \
        ((n // 2) >= (n - n // 4))


def test_distributed_domain_string_mask_matches_numpy(spark):
    """LIKE / NOT LIKE / IN on a string dictionary evaluate Spark-side
    (SQL RLIKE / IN) to exactly the codes a re/NumPy pass over the sorted
    values selects — '.' in a LIKE pattern is literal, '_' one char."""
    import re

    from scardina_spark.functions.dictionary import build_dictionary
    from scardina_spark.model.progressive import (
        DistributedDomain, PackedMask, valid_mask)
    from scardina_spark.plans.predicates import Predicate

    vals = sorted(f"{p}{i}" for p in ("alpha_", "beta", "gam.ma", "gamXma")
                  for i in range(750))
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    dom = DistributedDomain("t.s", None, build_dictionary(df, "s"),
                            len(vals))
    cases = [
        ([Predicate("s", "LIKE", "gam.ma1%")],
         lambda v: re.fullmatch(r"gam\.ma1.*", v)),
        ([Predicate("s", "NOT LIKE", "alpha_1%")],
         lambda v: not re.fullmatch(r"alpha.1.*", v)),
        ([Predicate("s", "IN", ("beta7", "gamXma42", "absent"))],
         lambda v: v in ("beta7", "gamXma42")),
        ([Predicate("s", "LIKE", "beta%"), Predicate("s", "NOT LIKE", "%9")],
         lambda v: v.startswith("beta") and not v.endswith("9")),
    ]
    for preds, keep in cases:
        m = valid_mask(dom, preds)
        assert isinstance(m, PackedMask)
        want = np.flatnonzero([bool(keep(v)) for v in vals]) + 2
        assert len(want) > 0
        np.testing.assert_array_equal(m.codes, want, err_msg=str(preds))


def test_distributed_domain_null_slot_follows_and_rule(spark):
    """The Spark-evaluated mask opens the NULL slot only when every
    conjunct accepts NULL, exactly as the numpy valid_mask does."""
    from scardina_spark.functions.dictionary import build_dictionary
    from scardina_spark.model.progressive import (
        NULL_SLOT, ColumnDomain, DistributedDomain, valid_mask)
    from scardina_spark.plans.predicates import Predicate

    vals = [float(i) / 2 for i in range(20)]
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "x double")
    dom = DistributedDomain("t.x", None, build_dictionary(df, "x"),
                            len(vals))
    local = ColumnDomain("t.x", np.array(vals))
    is_null = Predicate("x", "IS", None)
    cases = [
        ([is_null, Predicate("x", ">", 5.0)], 0.0),
        ([Predicate("x", "IS NOT", None), is_null], 0.0),
        ([Predicate("x", "OR", (is_null, Predicate("x", "<", 5.0))),
          Predicate("x", "<", 8.0)], 0.0),
        ([Predicate("x", "OR", (is_null, Predicate("x", "<", 5.0)))], 1.0),
    ]
    for preds, null_slot in cases:
        m = valid_mask(dom, preds)
        assert m[NULL_SLOT] == null_slot, preds
        np.testing.assert_array_equal(m.dense(), valid_mask(local, preds),
                                      err_msg=str(preds))


def test_sub_mask_all_valid_passes_everything():
    spec = factorization_spec("c", 1000, 4)
    full = np.ones(1000)
    K = len(spec.sub_cols) - 1
    m = _sub_masks_for_prefix(full, spec, K, np.zeros(2, dtype=np.int64))
    # every top window value whose block intersects [0, 1000) is valid
    top = spec.sub_cols[K]
    blk = 1 << top.offset
    n_valid = sum(1 for v in range(1, top.dist_size)
                  if (v - 1) * blk < 1000)
    assert m[0, 1:].sum() == n_valid


@pytest.fixture(scope="module")
def fact_estimator(tables):
    # l_partkey has ~200 distinct values at sf0.001 -> factorized under
    # threshold 4 (2^4 = 16 < 202)
    cols = ["l_returnflag", "l_partkey"]
    cfg = TrainConfig(epochs=20, d_word=12, d_ff=64, batch_size=512, seed=7)
    return train_single_table(tables["lineitem"], cols, cfg,
                              sample_size=1000, fact_threshold=4)


def test_factorized_model_built(fact_estimator):
    assert fact_estimator.groups and "l_partkey" in fact_estimator.groups
    grp = fact_estimator.groups["l_partkey"]
    assert len(grp.model_idx) >= 2


FACT_QUERIES = [
    ("SELECT COUNT(*) FROM lineitem WHERE l_partkey <= 100", 1.6),
    ("SELECT COUNT(*) FROM lineitem WHERE l_partkey > 150", 1.6),
    ("SELECT COUNT(*) FROM lineitem WHERE l_partkey BETWEEN 50 AND 120 "
     "AND l_returnflag = 'R'", 2.5),
]


@pytest.mark.parametrize("sql,bound", FACT_QUERIES)
def test_factorized_qerror(fact_estimator, duck, sql, bound):
    est = fact_estimator.estimate(sql)
    true = duck.sql(sql).fetchone()[0]
    assert est > 0, sql
    q = max(est / true, true / est)
    assert q < bound, (sql, est, true, q)
