"""Benchmark decontamination + PII scrubbing: hand-checkable fixtures,
protocol semantics, and plan shape (broadcast probe, no Python)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scardina_spark.operators.decontam import (
    benchmark_ngrams, contamination_scores, decontaminate, scrub_pii)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_contamination_hand_fixture(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    train = _docs(spark, [
        (1, "the quick brown fox runs"),   # shares 2 of 3 3-grams
        (2, "entirely different words here"),
        (3, "the quick brown fox jumps"),  # full overlap
    ])
    got = {r["doc_id"]: r for r in
           contamination_scores(train, bench, n=3).collect()}
    # doc 1: grams {the quick brown, quick brown fox, brown fox runs}
    assert got[1]["n_grams"] == 3 and got[1]["n_hits"] == 2
    assert abs(got[1]["contamination"] - round(2 / 3, 4)) < 1e-9
    assert got[2]["n_hits"] == 0
    assert got[3]["contamination"] == 1.0


def test_decontaminate_strict_drops_any_collision(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    train = _docs(spark, [
        (1, "the quick brown fox runs"),
        (2, "entirely different words here"),
    ])
    kept = decontaminate(train, bench, n=3, max_contamination=0.0)
    assert [r["doc_id"] for r in kept.collect()] == [2]
    # looser threshold readmits the partial overlap
    kept2 = decontaminate(train, bench, n=3, max_contamination=0.7)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [1, 2]


def test_short_documents_degrade_to_whole_text_gram(spark):
    bench = _docs(spark, [(100, "tiny")])
    train = _docs(spark, [(1, "tiny"), (2, "other")])
    got = {r["doc_id"]: r for r in
           contamination_scores(train, bench, n=13).collect()}
    assert got[1]["n_grams"] == 1 and got[1]["n_hits"] == 1
    assert got[2]["n_hits"] == 0


def test_contamination_plan_broadcasts_no_python(spark):
    bench = _docs(spark, [(100, "a b c d")])
    train = _docs(spark, [(1, "a b c e")])
    df = contamination_scores(train, bench, n=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_benchmark_ngrams_distinct(spark):
    bench = _docs(spark, [(1, "a b c a b c"), (2, "a b c")])
    grams = {r["gram"] for r in benchmark_ngrams(bench, n=3).collect()}
    # normalized 3-grams of "a b c a b c": a b c / b c a / c a b
    assert grams == {"a b c", "b c a", "c a b"}


def test_scrub_pii_redacts_all_classes_and_keeps_text(spark):
    df = _docs(spark, [
        (1, "mail bob.smith+x@corp.example.co early 555-123-4567 "
            "ip 192.168.0.1 ssn 123-45-6789 tail"),
        (2, "clean text stays untouched"),
    ])
    got = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert got[1] == "mail <EMAIL> early <PHONE> ip <IP> ssn <SSN> tail"
    assert got[2] == "clean text stays untouched"


def test_scrub_pii_plan_is_pure_projection(spark):
    df = _docs(spark, [(1, "x")])
    plan = scrub_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_strict_rule_survives_rounding(spark):
    """A long document with ONE real collision must be dropped by the
    strict rule even though its 4-decimal contamination rounds to
    0.0000 (the filter keys on unrounded hits, not the report column)."""
    bench = _docs(spark, [(100, "zq1 zq2 zq3")])
    long_text = " ".join(f"w{i}" for i in range(30_000)) + " zq1 zq2 zq3"
    train = _docs(spark, [(1, long_text), (2, "clean words only here")])
    scores = {r["doc_id"]: r for r in
              contamination_scores(train, bench, n=3).collect()}
    assert scores[1]["n_hits"] >= 1
    assert scores[1]["contamination"] == 0.0  # rounds away
    kept = decontaminate(train, bench, n=3, max_contamination=0.0)
    assert [r["doc_id"] for r in kept.collect()] == [2]
