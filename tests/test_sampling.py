"""Deterministic sampling: Bernoulli hash filter, train/holdout split,
stratified per-group draw."""

import hashlib

from pyspark.sql import functions as F

from scardina_spark.operators import sampling as SA


def _frac(key: str) -> float:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 2**32


def test_bernoulli_matches_python(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], ["id"])
    # the holdout side of the split is the Bernoulli hash sample
    got = {r["id"] for r in
           SA.split_train_holdout(df, 0.3, "id", salt="")[1].collect()}
    want = {i for i in range(500) if _frac(str(i)) < 0.3}
    assert got == want
    assert 0.2 < len(got) / 500 < 0.4


def test_split_disjoint_exhaustive_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(400)], ["id"])
    tr, ho = SA.split_train_holdout(df, 0.25, "id")
    t = {r["id"] for r in tr.collect()}
    h = {r["id"] for r in ho.collect()}
    assert t | h == set(range(400)) and not (t & h)
    # membership is id-keyed: repartitioned input gives the same split
    t2 = {r["id"] for r in
          SA.split_train_holdout(df.repartition(7), 0.25, "id")[0].collect()}
    assert t2 == t


def test_salts_decorrelate(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], ["id"])
    a = {r["id"] for r in
         SA.split_train_holdout(df, 0.5, "id", salt="a")[1].collect()}
    b = {r["id"] for r in
         SA.split_train_holdout(df, 0.5, "id", salt="b")[1].collect()}
    overlap = len(a & b) / 1000
    assert 0.15 < overlap < 0.35  # ~0.25 if independent


def test_stratified_exact_n_per_group(tables):
    docs = tables["documents"]
    out = SA.stratified_sample(docs, ["lang"], 3, "doc_id")
    by_lang = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, total in sizes.items():
        assert by_lang[lang] == min(3, total)


def test_stratified_picks_smallest_hashes(spark):
    rows = [(i, "g") for i in range(50)]
    df = spark.createDataFrame(rows, ["id", "g"])
    got = sorted(r["id"] for r in
                 SA.stratified_sample(df, ["g"], 5, "id").collect())
    want = sorted(sorted(range(50), key=lambda i: (_frac(str(i)), i))[:5])
    assert got == want


def test_mixture_sample_rates_and_superset(tables):
    from scardina_spark.operators.sampling import mixture_sample

    docs = tables["documents"]
    low = mixture_sample(docs, {"src0": 0.3}, "source", "doc_id")
    high = mixture_sample(docs, {"src0": 0.8}, "source", "doc_id")
    low_ids = {r["doc_id"] for r in low.collect()}
    high_ids = {r["doc_id"] for r in high.collect()}
    # monotone: raising the rate keeps a superset (same hash coin)
    assert low_ids <= high_ids
    # unlisted sources drop entirely by default
    assert {r["source"] for r in high.select("source").distinct()
            .collect()} == {"src0"}
    # rate 1.0 keeps everything in the group
    n_src0 = docs.where("source = 'src0'").count()
    full = mixture_sample(docs, {"src0": 1.0}, "source", "doc_id")
    assert full.count() == n_src0


def test_mixture_sample_default_rate(tables):
    from scardina_spark.operators.sampling import mixture_sample

    docs = tables["documents"]
    kept = mixture_sample(docs, {"src0": 0.0}, "source", "doc_id",
                          default_rate=1.0)
    assert kept.where("source = 'src0'").count() == 0
    assert kept.count() == docs.where("source <> 'src0'").count()


def test_pareto_quality_sample_matches_python(spark):
    """The GPT-3 rule with the id-hash coin: keep iff
    frac('quality'||id) < (2 - score)^-9."""
    rows = [(i, [0.37, 0.55, 0.7, 0.85, 1.0][i % 5]) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "score"])
    got = {r["id"] for r in
           SA.pareto_quality_sample(df, "score", "id").collect()}
    want = {i for i, s in rows if _frac(f"quality{i}") < (2.0 - s) ** -9.0}
    assert got == want
    # perfect-score rows are always kept; the rest are a strict subset
    assert {i for i, s in rows if s == 1.0} <= got
    assert len(got) < 500


def test_pareto_sample_monotone_in_score(spark):
    """Raising every score keeps a superset (the coin is score-free)."""
    lo = [(i, 0.5) for i in range(300)]
    hi = [(i, 0.8) for i in range(300)]
    keep = lambda rows: {
        r["id"] for r in SA.pareto_quality_sample(
            spark.createDataFrame(rows, ["id", "score"]),
            "score", "id").collect()}
    assert keep(lo) <= keep(hi)


def test_token_budget_plan_arithmetic(spark):
    rows = ([("a", 100)] * 10) + ([("b", 50)] * 4) + ([("c", 10)] * 2)
    df = spark.createDataFrame(rows, ["source", "n_tokens"])
    plan = {r["source"]: r for r in SA.token_budget_plan(
        df, {"a": 0.5, "b": 0.5}, budget_tokens=3000).collect()}
    assert set(plan) == {"a", "b"}  # 'c' outside the mixture
    a, b = plan["a"], plan["b"]
    assert (a["n_docs"], a["avail_tokens"]) == (10, 1000)
    assert a["weight"] == 0.5 and a["target_tokens"] == 1500
    assert a["rate"] == 1.5 and a["epochs"] == 2
    assert (b["n_docs"], b["avail_tokens"]) == (4, 200)
    assert b["target_tokens"] == 1500 and b["epochs"] == 8  # 7.5 -> 8


def test_token_budget_plan_zero_avail_source(spark):
    """A weighted source with zero available tokens gets NULL
    rate/epochs instead of an ANSI division/cast error."""
    rows = [("a", 100), ("a", 100), ("b", 0)]
    df = spark.createDataFrame(rows, ["source", "n_tokens"])
    plan = {r["source"]: r for r in SA.token_budget_plan(
        df, {"a": 0.5, "b": 0.5}, budget_tokens=400).collect()}
    b = plan["b"]
    assert b["avail_tokens"] == 0 and b["target_tokens"] == 200
    assert b["rate"] is None and b["epochs"] is None
    assert plan["a"]["epochs"] == 1


def test_temperature_weights_flatten_toward_uniform(spark):
    from scardina_spark.operators.sampling import (
        temperature_weights, token_budget_plan)
    rows = ([(i, "big", 100) for i in range(90)]
            + [(1000 + i, "small", 100) for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id: long, source: string, n_tokens: long")
    nat = {r["source"]: r["weight"]
           for r in temperature_weights(df, alpha=1.0).collect()}
    half = {r["source"]: r["weight"]
            for r in temperature_weights(df, alpha=0.5).collect()}
    uni = {r["source"]: r["weight"]
           for r in temperature_weights(df, alpha=0.0).collect()}
    assert nat["big"] == 0.9 and nat["small"] == 0.1  # alpha=1: natural
    assert uni["big"] == uni["small"] == 0.5          # alpha=0: uniform
    assert nat["small"] < half["small"] < uni["small"]  # monotone flatten
    assert abs(sum(half.values()) - 1.0) < 1e-5
    # composes with the epochs table
    plan = token_budget_plan(df, half, budget_tokens=5000)
    assert {r["source"] for r in plan.collect()} == {"big", "small"}


def test_unimax_plan_water_filling(spark):
    """UNIMAX greedy on a crafted 3-source corpus: a tiny source caps
    at max_epochs, its surplus flows to the larger sources, the full
    budget is spent when capacity allows, and allocation is uniform
    when nothing caps."""
    from scardina_spark.operators.sampling import unimax_plan
    rows = [("tiny", 100), ("mid", 1000), ("big", 5000)]
    df = spark.createDataFrame(
        [(s, n) for s, n in rows], "source: string, n_tokens: long")
    # budget 3000, cap 2 epochs: fair share 1000 > tiny's capacity 200
    # -> tiny caps; surplus 800 splits across mid/big (1400 each)
    got = {r["source"]: r.asDict()
           for r in unimax_plan(df, 3000, max_epochs=2.0).collect()}
    assert got["tiny"]["alloc_tokens"] == 200.0 and got["tiny"]["capped"]
    assert got["mid"]["alloc_tokens"] == 1400.0 and not got["mid"]["capped"]
    assert got["big"]["alloc_tokens"] == 1400.0
    assert got["tiny"]["epochs"] == 2.0
    assert sum(r["alloc_tokens"] for r in got.values()) == 3000.0
    # nothing caps -> uniform thirds
    got2 = {r["source"]: r["alloc_tokens"]
            for r in unimax_plan(df, 300, max_epochs=2.0).collect()}
    assert set(got2.values()) == {100.0}
    # budget above total capacity: everyone caps, epochs == cap
    got3 = {r["source"]: r.asDict()
            for r in unimax_plan(df, 10**9, max_epochs=1.5).collect()}
    assert all(r["capped"] and r["epochs"] == 1.5 for r in got3.values())
    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget"):
        unimax_plan(df, -1)
    with _pytest.raises(ValueError, match="max_epochs"):
        unimax_plan(df, 100, max_epochs=0)
