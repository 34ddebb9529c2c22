"""Text-analysis operators vs DuckDB oracle SQL on the documents table."""

from pyspark.sql import functions as F

from scardina_spark.operators import textstats as T


def test_token_count_matches_duckdb(tables, duck):
    got = {r["doc_id"]: r["n"] for r in
           tables["documents"].select(
               "doc_id", T.token_count().alias("n")).collect()}
    want = dict(duck.sql("""
        select doc_id, len(list_filter(string_split_regex(text, '\\s+'),
                                       x -> len(x) > 0)) from documents
    """).fetchall())
    assert got == want


def test_punct_and_stopword_ratio(tables, duck):
    rows = tables["documents"].select(
        "doc_id", T.punct_ratio().alias("p"), T.stopword_ratio().alias("s")
    ).collect()
    got = {r["doc_id"]: (r["p"], r["s"]) for r in rows}
    sw = ",".join(f"'{w}'" for w in T.STOPWORDS)
    want = {
        d: (p, s) for d, p, s in duck.sql(f"""
        with toks as (
          select doc_id, text,
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> len(x) > 0) as ws
          from documents)
        select doc_id,
          round(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                / greatest(len(text), 1), 4),
          round(len(list_filter(ws, x -> lower(x) in ({sw})))
                / greatest(len(ws), 1), 4)
        from toks""").fetchall()
    }
    for d in got:
        assert abs(got[d][0] - want[d][0]) < 1e-9, d
        assert abs(got[d][1] - want[d][1]) < 1e-9, d


def test_lang_id_deterministic_and_total(tables):
    rows = tables["documents"].select(T.lang_id().alias("l")).collect()
    assert all(r["l"] in (*T.LANG_MARKERS, "und") for r in rows)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["id", "text"])
    fp = df.select("id", T.fingerprint().alias("f")).collect()
    by_id = {r["id"]: r["f"] for r in fp}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_select_training_corpus(tables):
    """The composite pipeline gates by quality+lang, collapses exact dups,
    and the greedy token budget keeps the highest-quality prefix."""
    docs = tables["documents"]
    full = T.select_training_corpus(docs, min_quality=0.7, langs=("en",))
    rows = full.collect()
    assert len(rows) > 0
    assert all(r["quality"] >= 0.7 and r["lang_pred"] == "en" for r in rows)
    fps = [r["fingerprint"] for r in rows]
    assert len(fps) == len(set(fps))  # deduplicated
    capped = T.select_training_corpus(
        docs, min_quality=0.7, langs=("en",), token_budget=500).collect()
    assert 0 < len(capped) < len(rows)
    # greedy fill: every kept doc starts below the budget, and the kept
    # set is the top-quality prefix of the full selection
    order = sorted(rows, key=lambda r: (-r["quality"], r["doc_id"]))
    cum = 0
    want_ids = []
    for r in order:
        if cum < 500:
            want_ids.append(r["doc_id"])
        cum += r["n_tokens"]
    assert sorted(r["doc_id"] for r in capped) == sorted(want_ids)


def test_repetition_stats_brute_force(spark):
    """dup-token and top-bigram fractions vs a pure-Python recount."""
    from collections import Counter

    rows = [
        (1, "a b a b a b"),
        (2, "x"),
        (3, ""),
        (4, "one two three four"),
        (5, "w w w w"),
        (6, "spam spam ham spam eggs ham"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["dup_token_fraction"], r["top_bigram_fraction"])
           for r in T.with_repetition_stats(df).collect()}
    for doc_id, text in rows:
        toks = text.split()
        dup = round(1 - len(set(toks)) / len(toks), 4) if toks else 0.0
        bgs = Counter(zip(toks, toks[1:]))
        top = (round(min(1.0, 2 * max(bgs.values()) / len(toks)), 4)
               if bgs else 0.0)
        assert got[doc_id] == (dup, top), doc_id


def test_repetition_stats_on_documents(tables):
    stats = T.with_repetition_stats(tables["documents"]).collect()
    assert all(0 <= r["dup_token_fraction"] <= 1 for r in stats)
    assert all(0 <= r["top_bigram_fraction"] <= 1 for r in stats)
    # word-soup corpus from a small vocab: repetition must be present
    assert any(r["dup_token_fraction"] > 0.5 for r in stats)


def test_filter_repetitive_gate(tables):
    docs = tables["documents"]
    n_all = docs.count()
    kept = T.filter_repetitive(docs, max_dup_token_fraction=0.8,
                               max_top_bigram_fraction=0.15)
    n_kept = kept.count()
    assert 0 < n_kept < n_all
    assert kept.columns == docs.columns  # gate drops its own stat columns


def test_pmi_collocations_matches_reference(spark):
    import math
    from collections import Counter

    from scardina_spark.operators.textstats import pmi_collocations

    texts = ["new york is big", "new york city", "big city lights",
             "new york new york", "is big is big"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id: long, text: string")
    bi, uni = Counter(), Counter()
    for t in texts:
        ws = t.split()
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    np_, nw = sum(bi.values()), sum(uni.values())
    want = {}
    for (a, b), n in bi.items():
        if n >= 2:
            want[(a, b)] = (n, round(math.log(
                (n / float(np_)) / ((uni[a] / float(nw))
                                    * (uni[b] / float(nw)))), 6))
    got = {(r["left_w"], r["right_w"]): (r["pair_n"], r["pmi"])
           for r in pmi_collocations(df, min_count=2).collect()}
    assert got == want
    # 'new york' is the strongest collocation in this corpus
    top = max(want.items(), key=lambda kv: kv[1][1])
    assert top[0] == ("new", "york")


def test_pmi_collocations_validates(spark):
    import pytest

    from scardina_spark.operators.textstats import pmi_collocations

    df = spark.createDataFrame([(0, "a b")], "doc_id: long, text: string")
    with pytest.raises(ValueError):
        pmi_collocations(df, min_count=0)
    empty = spark.createDataFrame([(0, "solo")],
                                  "doc_id: long, text: string")
    with pytest.raises(ValueError, match="no adjacent pairs"):
        pmi_collocations(empty)
