"""Distinct-row evaluation in progressive sampling: the row grouping, the
conditional it feeds, the per-prefix sub-masks and the fanout decode.
Spark-free."""

import numpy as np
import pytest

from scardina_spark.functions.factorize import factorization_spec
from scardina_spark.model.progressive import decode_fanouts
from scardina_spark.model.nar import NarMLP, TrainConfig, _softmax
from scardina_spark.model.progressive import (
    NarEstimator, _sub_masks_for_prefix, distinct_rows)
from scardina_spark.model.transformer import NarTransformer, TrmConfig


def _unique_reference(codes, mask):
    act = np.flatnonzero(~mask.all(axis=0))
    keyed = np.where(mask[:, act], -1, codes[:, act])
    _, first, inverse = np.unique(keyed, axis=0, return_index=True,
                                  return_inverse=True)
    return first, inverse.reshape(-1)


def _batch(rs, S=400, C=6, hi=5):
    """Rows drawn from a few prefixes, like a progressive-sampling batch:
    two columns fully masked, one masked in some rows."""
    codes = rs.randint(0, hi, size=(S, C)).astype(np.int64)
    mask = np.zeros((S, C), dtype=bool)
    mask[:, [1, 4]] = True
    mask[rs.rand(S) < 0.3, 2] = True
    return codes, mask


def test_distinct_rows_int_codes_match_np_unique():
    rs = np.random.RandomState(0)
    codes, mask = _batch(rs)
    first, inverse = distinct_rows(codes, mask)
    ref_first, ref_inverse = _unique_reference(codes, mask)
    assert np.array_equal(first, ref_first)
    assert np.array_equal(inverse, ref_inverse)
    assert len(first) < len(codes)


def test_distinct_rows_float_codes_match_np_unique():
    rs = np.random.RandomState(1)
    codes, mask = _batch(rs)
    codes = codes.astype(np.float64)
    codes[:, 5] = rs.choice([0.0, 0.5, 1.25], size=len(codes))
    first, inverse = distinct_rows(codes, mask)
    ref_first, ref_inverse = _unique_reference(codes, mask)
    assert np.array_equal(first, ref_first)
    assert np.array_equal(inverse, ref_inverse)


def test_distinct_rows_float_keeps_masked_apart_from_minus_one():
    """A float cell may hold -1 itself; it must not merge with a masked
    cell of the same column."""
    codes = np.array([[-1.0, 2.0], [-1.0, 2.0], [3.0, 2.0]])
    mask = np.array([[False, False], [True, False], [False, False]])
    first, inverse = distinct_rows(codes, mask)
    assert len(first) == 3
    assert len(set(inverse.tolist())) == 3


def test_distinct_rows_wide_code_span_matches_np_unique():
    """Codes up to 2**40 apart, whose spans multiply past 2**62, group
    as ``np.unique(axis=0)`` groups them."""
    rs = np.random.RandomState(2)
    S = 300
    codes = rs.choice([0, 1 << 40], size=(S, 3)).astype(np.int64)
    codes[:, 0] = rs.randint(0, 3, size=S)
    mask = np.zeros((S, 3), dtype=bool)
    first, inverse = distinct_rows(codes, mask)
    ref_first, ref_inverse = _unique_reference(codes, mask)
    assert np.array_equal(first, ref_first)
    assert np.array_equal(inverse, ref_inverse)


def test_distinct_rows_all_masked_is_one_group():
    rs = np.random.RandomState(3)
    codes = rs.randint(0, 9, size=(50, 4))
    first, inverse = distinct_rows(codes, np.ones((50, 4), dtype=bool))
    assert first.tolist() == [0]
    assert inverse.tolist() == [0] * 50


def _full_batch_conditional(model, codes, mask, j):
    logits = model.logits_for(codes, mask, j)
    logits[:, 0] = -1e9
    return _softmax(logits)


@pytest.mark.parametrize("kind", ["mlp", "trm"])
def test_conditional_on_duplicated_rows_matches_full_batch(kind):
    rs = np.random.RandomState(4)
    bins = [(f"c{j}", 6) for j in range(6)]
    if kind == "mlp":
        model = NarMLP(bins, TrainConfig(d_word=8, d_ff=16, seed=3))
    else:
        model = NarTransformer(bins, TrmConfig(d_word=8, d_ff=16, seed=3))
    est = NarEstimator(model, {}, 1000)
    # 12 distinct rows repeated to 600, shuffled
    base = rs.randint(1, 6, size=(12, 6))
    codes = base[rs.randint(0, 12, size=600)]
    mask = np.zeros((600, 6), dtype=bool)
    mask[:, 3:] = True
    for j in (3, 5):
        got = est._conditional(codes, mask, j)
        want = _full_batch_conditional(model, codes, mask, j)
        assert got.shape == want.shape
        assert np.allclose(got, want, rtol=0, atol=1e-5)
    # before the first draw every row is the same all-masked input
    full = np.ones((600, 6), dtype=bool)
    assert np.allclose(est._conditional(codes, full, 0),
                       _full_batch_conditional(model, codes, full, 0),
                       rtol=0, atol=1e-5)


def test_draw_matches_copying_normalizer():
    """``_draw`` reuses the mass as the normalizer when no row vanished:
    the draws and masses stay bit-identical to normalizing a copy."""
    rs = np.random.RandomState(5)
    pm = rs.rand(200, 7) * (rs.rand(200, 7) < 0.6)
    pm[:20] = 0.0                        # vanished rows take the fallback
    valid = pm > 0
    for rows in (slice(20, None), slice(None)):
        p = pm[rows]
        mass, drawn = NarEstimator._draw(p, valid[rows],
                                         np.random.RandomState(9))
        ref = p.copy()
        dead = ref.sum(axis=1) <= 0
        fb = valid[rows].astype(float)[dead]
        fb[fb.sum(axis=1) == 0] = 1.0
        ref[dead] = fb
        ref = ref / np.maximum(ref.sum(axis=1, keepdims=True), 1e-300)
        u = np.random.RandomState(9).rand(len(p), 1)
        assert np.array_equal(mass, p.sum(axis=1))
        assert np.array_equal(drawn, (u > np.cumsum(ref, axis=1)).sum(axis=1))


def test_sub_masks_on_repeated_prefixes_match_per_row():
    spec = factorization_spec("c", 300, 4)
    full = np.zeros(300)
    full[100:200] = 1.0
    k = 0
    off = spec.sub_cols[1].offset
    prefix = np.array([0, 3, 3, 0, 5, 3], dtype=np.int64) << off
    got = _sub_masks_for_prefix(full, spec, k, prefix)
    for i, pr in enumerate(prefix):
        one = _sub_masks_for_prefix(full, spec, k, np.array([pr]))
        assert np.array_equal(got[i], one[0])


def test_decode_fanouts_mapping():
    vals = np.array([1, 3, 7], dtype=np.int64)
    drawn = np.array([0, 1, 2, 3, 4, 5, 6])
    assert decode_fanouts(vals, drawn).tolist() == [
        1.0, 1.0, 1.0, 3.0, 7.0, 1.0, 1.0]
    # sub-1 dictionary values clamp to 1
    assert decode_fanouts(np.array([0.5, 2.5]),
                          np.array([2, 3])).tolist() == [1.0, 2.5]
    # bit-identical to the per-draw loop it replaced
    rs = np.random.RandomState(6)
    for vals in (rs.randint(0, 50, size=9), rs.rand(9) * 20):
        drawn = rs.randint(0, len(vals) + 4, size=1000)
        ref = np.maximum(np.array([
            float(vals[d - 2]) if 2 <= d < len(vals) + 2 else 1.0
            for d in drawn]), 1.0)
        assert decode_fanouts(vals, drawn).tobytes() == ref.tobytes()
