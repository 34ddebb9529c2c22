"""BM25 ranked retrieval: formula parity with a pure-python oracle,
zero-score exclusion, and the physical-plan properties (no Python UDF,
TakeOrderedAndProject top-k)."""

import math

from pyspark.sql import functions as F

from scardina_spark.operators.bm25 import bm25_scores, bm25_topk

CORPUS = [
    (0, "spark join window spark"),
    (1, "join the table and the table"),
    (2, "window window window sort"),
    (3, "nothing relevant here"),
    (4, "spark"),
]


def _py_bm25(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            idf = math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            out[i] = s
    return out


def test_scores_match_python_oracle(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    terms = ["spark", "window"]
    got = {r["doc_id"]: r["score"]
           for r in bm25_scores(df, terms).collect()}
    want = _py_bm25(CORPUS, terms)
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


def test_zero_score_docs_excluded(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    got = {r["doc_id"] for r in bm25_scores(df, ["spark"]).collect()}
    assert got == {0, 4}  # only docs containing the term


def test_topk_order_and_tiebreak(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    rows = bm25_topk(df, ["spark", "window"], k=3).collect()
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 3


def test_plan_is_jvm_side_take_ordered(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    plan = bm25_topk(df, ["spark"], k=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan  # pure codegen, no UDFs
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats broadcast


def test_absent_term_contributes_nothing(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    base = {r["doc_id"]: r["score"]
            for r in bm25_scores(df, ["spark"]).collect()}
    plus = {r["doc_id"]: r["score"]
            for r in bm25_scores(df, ["spark", "zzz_absent"]).collect()}
    assert base == plus


# ----------------------------------------------------------------- fusion


def test_rrf_matches_hand_computation(spark):
    a = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)],
                              ["doc_id", "s"])
    bdf = spark.createDataFrame([(3, 0.9), (4, 0.8)], ["doc_id", "s"])
    from scardina_spark.operators.fusion import rrf_fuse
    got = {r["doc_id"]: r["rrf_score"]
           for r in rrf_fuse([(a, "s"), (bdf, "s")], k=10).collect()}
    want = {
        1: 1 / 61,               # rank 1 in a only
        2: 1 / 62,
        3: 1 / 63 + 1 / 61,      # rank 3 in a, rank 1 in b
        4: 1 / 62,
    }
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - round(want[d], 6)) < 1e-9


def test_rrf_orders_and_limits(spark):
    a = spark.createDataFrame([(i, float(100 - i)) for i in range(30)],
                              ["doc_id", "s"])
    from scardina_spark.operators.fusion import rrf_fuse
    rows = rrf_fuse([(a, "s")], k=5).collect()
    assert [r["doc_id"] for r in rows] == [0, 1, 2, 3, 4]
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_query_terms_case_normalized(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    lower = {r["doc_id"]: r["score"]
             for r in bm25_scores(df, ["spark"]).collect()}
    upper = {r["doc_id"]: r["score"]
             for r in bm25_scores(df, ["Spark"]).collect()}
    assert lower == upper and lower


def test_bm25_random_corpora_match_python():
    """Randomized corpora (seeded) against the pure-python oracle —
    formula parity beyond the hand-written fixture."""
    import random

    from scardina_spark.session import get_spark

    spark = get_spark("bm25-prop")
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rng = random.Random(11)
    for trial in range(3):
        docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(1, 12))))
                for i in range(rng.randint(2, 25))]
        terms = rng.sample(vocab, k=rng.randint(1, 3))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r["doc_id"]: r["score"]
               for r in bm25_scores(df, terms).collect()}
        want = _py_bm25(docs, terms)
        assert set(got) == set(want), (trial, terms)
        for i in want:
            assert abs(got[i] - want[i]) < 1e-9, (trial, i)


def test_query_terms_deduped_and_case_folded(spark, tables):
    """The query is a case-folded term SET: repeating a term in any case
    scores exactly like the term once."""
    docs = tables["documents"]
    a = bm25_topk(docs, ["Spark", "spark", "SPARK"], k=5).collect()
    b = bm25_topk(docs, ["spark"], k=5).collect()
    assert a and [tuple(r) for r in a] == [tuple(r) for r in b]
