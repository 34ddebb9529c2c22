"""KMV distinct-count sketch: exactness below k, estimator formula,
semigroup merge, and accuracy against the true distinct count."""

import hashlib

from pyspark.sql import functions as F

from scardina_spark.operators import sketches as SK


def _kmv_py(values, k):
    hs = sorted({int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
                 for v in values})[:k]
    return hs


def test_hash_matches_python_md5(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], ["v"])
    got = {r["v"]: r["h"]
           for r in df.select("v", SK.kmv_hash("v").alias("h")).collect()}
    for v in range(50):
        assert got[v] == int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)


def test_sketch_is_k_smallest_distinct(spark):
    vals = [i % 40 for i in range(400)]  # heavy duplication
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    sk = SK.kmv_sketch(df, "v", k=8).collect()
    assert len(sk) == 1
    assert sk[0]["hashes"] == _kmv_py(set(vals), 8)


def test_exact_below_k(spark):
    df = spark.createDataFrame([(i % 5,) for i in range(100)], ["v"])
    est = SK.approx_distinct(df, "v", k=32).collect()
    assert est[0]["distinct_est"] == 5.0


def test_estimate_formula(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], ["v"])
    k = 64
    est = SK.approx_distinct(df, "v", k=k).first()["distinct_est"]
    kth = _kmv_py(range(1000), k)[-1]
    assert est == round((k - 1) * SK.HASH_SPACE / kth, 4)
    # the estimator should land near the truth
    assert 700 < est < 1400


def test_merge_equals_whole(spark):
    a = spark.createDataFrame([(i,) for i in range(300)], ["v"])
    b = spark.createDataFrame([(i,) for i in range(200, 600)], ["v"])
    k = 16
    merged = SK.kmv_fold(SK.kmv_sketch(a, "v", k).unionByName(
        SK.kmv_sketch(b, "v", k)), k).first()["hashes"]
    whole = SK.kmv_sketch(a.unionByName(b), "v", k).first()["hashes"]
    assert merged == whole == _kmv_py(range(600), k)


def test_grouped_sketch_on_events(tables):
    ev = tables["events"]
    k = 32
    est = {r["event_type"]: r["distinct_est"]
           for r in SK.approx_distinct(ev, "user_id", k=k,
                                       group_cols=["event_type"]).collect()}
    true = {r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(est) == set(true)
    for t, d in true.items():
        if d < k:
            assert est[t] == float(d)
        else:
            assert 0.5 * d <= est[t] <= 2.0 * d, (t, est[t], d)


def test_kmv_set_estimates_exact_when_small(tables, duck):
    """k above both distinct counts: union/intersect/jaccard are exact."""
    from scardina_spark.operators.sketches import kmv_set_estimates, kmv_sketch

    ev = tables["events"]
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "view")
    k = 4096
    out = kmv_set_estimates(kmv_sketch(a, "user_id", k),
                            kmv_sketch(b, "user_id", k), k).collect()[0]
    ua, ub, inter = duck.sql("""
        select (select count(distinct user_id) from events
                where event_type in ('click', 'view')),
               (select count(distinct user_id) from events
                where event_type = 'click' and user_id in
                  (select user_id from events where event_type = 'view')),
               0
    """).fetchone()[0:3]
    assert out["union_est"] == float(ua)
    assert out["intersect_est"] == float(ub)
    assert abs(out["jaccard_est"] - ub / ua) < 1e-3


def test_kmv_set_estimates_approx(tables, duck):
    """Small k: estimates land within a loose band of the exact values."""
    from scardina_spark.operators.sketches import kmv_set_estimates, kmv_sketch

    ev = tables["events"]
    a = ev.where(F.col("value") >= 0)
    b = ev.where(F.col("event_type").isin("click", "view", "purchase"))
    k = 64
    out = kmv_set_estimates(kmv_sketch(a, "user_id", k),
                            kmv_sketch(b, "user_id", k), k).collect()[0]
    union_true = duck.sql("""
        select count(distinct user_id) from events
        where value >= 0 or event_type in ('click', 'view', 'purchase')
    """).fetchone()[0]
    inter_true = duck.sql("""
        select count(distinct user_id) from events
        where value >= 0 and user_id in
          (select user_id from events
           where event_type in ('click', 'view', 'purchase'))
    """).fetchone()[0]
    assert union_true * 0.6 < out["union_est"] < union_true * 1.6
    assert inter_true * 0.6 < out["intersect_est"] < inter_true * 1.6


def test_kmv_set_estimates_grouped(tables):
    """Per-group join path: groups present in both sketches only."""
    from scardina_spark.operators.sketches import kmv_set_estimates, kmv_sketch

    ev = tables["events"]
    a = kmv_sketch(ev.where(F.col("user_id") % 3 != 0), "user_id", 32,
                   group_cols=["event_type"])
    b = kmv_sketch(ev.where(F.col("user_id") % 3 != 1), "user_id", 32,
                   group_cols=["event_type"])
    rows = kmv_set_estimates(a, b, 32, group_cols=["event_type"]).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["union_est"] >= r["intersect_est"] >= 0
        assert 0 <= r["jaccard_est"] <= 1


# ---------------------------------------------------------------- quantile


def _qs_py(pairs, k):
    """(h, v) pairs sorted by (h, v), first k."""
    return sorted(pairs)[:k]


def _interp(vals, p):
    vals = sorted(vals)
    idx = p * (len(vals) - 1)
    lo = int(idx)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (idx - lo)


def _hash_py(s):
    return int(hashlib.md5(str(s).encode()).hexdigest()[:8], 16)


def test_quantile_sketch_is_bottom_k_rows(spark):
    rows = [(i, float(i * 10)) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "v"])
    sk = SK.quantile_sketch(df, "v", F.col("k"), k=16).first()["samp"]
    want = _qs_py([(_hash_py(i), float(i * 10)) for i in range(200)], 16)
    assert [(s["h"], s["v"]) for s in sk] == want


def test_quantile_sketch_grouped_matches_global_per_group(spark):
    rows = [(i, "g%d" % (i % 3), float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "g", "v"])
    got = {r["g"]: [(s["h"], s["v"]) for s in r["samp"]]
           for r in SK.quantile_sketch(df, "v", F.col("k"), k=8,
                                       group_cols=["g"]).collect()}
    for g in ["g0", "g1", "g2"]:
        gi = int(g[1])
        want = _qs_py([(_hash_py(i), float(i))
                       for i in range(300) if i % 3 == gi], 8)
        assert got[g] == want


def test_quantile_merge_equals_whole(spark):
    a = spark.createDataFrame([(i, float(i)) for i in range(150)],
                              ["k", "v"])
    b = spark.createDataFrame([(i, float(i)) for i in range(150, 400)],
                              ["k", "v"])
    whole = spark.createDataFrame([(i, float(i)) for i in range(400)],
                                  ["k", "v"])
    from scardina_spark.streaming.stats import _quantile_fold
    m = _quantile_fold(
        SK.quantile_sketch(a, "v", F.col("k"), k=32).unionByName(
            SK.quantile_sketch(b, "v", F.col("k"), k=32)),
        32, None).first()["samp"]
    w = SK.quantile_sketch(whole, "v", F.col("k"), k=32).first()["samp"]
    assert [(s["h"], s["v"]) for s in m] == [(s["h"], s["v"]) for s in w]


def test_quantile_estimate_interpolation_and_accuracy(spark):
    n = 5000
    rows = [(i, float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, ["k", "v"])
    k = 512
    sk = SK.quantile_sketch(df, "v", F.col("k"), k=k)
    est = SK.quantile_estimate(sk, [0.25, 0.5, 0.9]).first()
    samp = [v for _, v in _qs_py([(_hash_py(i), float(i))
                                  for i in range(n)], k)]
    # exact linear interpolation over the sample
    assert est["p25"] == round(_interp(samp, 0.25), 4)
    assert est["p50"] == round(_interp(samp, 0.5), 4)
    assert est["p90"] == round(_interp(samp, 0.9), 4)
    # and the sample quantiles track the true distribution
    assert abs(est["p50"] - (n - 1) / 2) < 0.15 * n


def test_quantile_sketch_ungrouped_plan_is_take_ordered(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    sk = SK.quantile_sketch(df, "v", F.col("k"), k=16)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_hll_estimate_within_expected_error(spark, tables):
    """m=64 registers -> ~1.04/sqrt(64) = 13% typical relative error;
    assert a generous 25% on every event_type group."""
    from scardina_spark.operators import sketches as SK
    ev = tables["events"]
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    est = {r["event_type"]: r["distinct_est"] for r in
           SK.approx_distinct_hll(ev, "user_id",
                                  group_cols=["event_type"]).collect()}
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) / exact[k] <= 0.25, (k, e, exact[k])


def test_hll_layout_invariant_and_small_range(spark):
    """Partitioning never changes registers; tiny cardinalities hit the
    linear-counting branch and land near-exact."""
    from scardina_spark.operators import sketches as SK
    rows = [(i % 7, f"u{i % 13}") for i in range(200)]
    df = spark.createDataFrame(rows, "g: int, u: string")
    a = sorted(tuple(r) for r in
               SK.approx_distinct_hll(df, "u", group_cols=["g"]).collect())
    b = sorted(tuple(r) for r in
               SK.approx_distinct_hll(df.repartition(11), "u",
                                      group_cols=["g"]).collect())
    assert a == b
    for _, est in a:
        assert abs(est - 13) <= 2, est   # 13 true distinct per group


def test_hll_register_plan_one_exchange(spark, tables):
    """Scale pin: the register sketch is one hash-aggregate pair around
    a single Exchange (map-side combine collapses to <= m rows/group
    before the shuffle)."""
    from scardina_spark.operators import sketches as SK
    plan = (SK.hll_registers(tables["events"], "user_id",
                             group_cols=["event_type"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan


def test_hll_validates_p(spark, tables):
    import pytest
    from scardina_spark.operators import sketches as SK
    regs = SK.hll_registers(tables["events"], "user_id",
                            group_cols=["event_type"])
    with pytest.raises(ValueError, match="unsupported"):
        SK.hll_estimate(regs, p=12, group_cols=["event_type"])
