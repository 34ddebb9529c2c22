"""Dedup operators: exact, minhash signatures, LSH candidates, simhash."""

from pyspark.sql import functions as F

from scardina_spark.operators import dedup as D


def _docs_with_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE QUICK  BROWN FOX jumps over the lazy dog"),   # near-exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),    # near dup
        (4, "completely different content about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),    # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = D.exact_dedup(_docs_with_dups(spark)).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in out}
    # normalization folds case+whitespace: 1,2,5 identical
    assert by_keep[1] == 3
    assert by_keep[3] == 1
    assert by_keep[4] == 1


def test_exact_dedup_on_documents_matches_duckdb(tables, duck):
    got = [(r["keep_id"], r["n_dups"])
           for r in D.exact_dedup(tables["documents"]).collect()]
    want = duck.sql("""
        select min(doc_id) as keep_id, count(*) as n_dups from documents
        group by md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
        order by keep_id""").fetchall()
    assert got == [(k, n) for k, n in want]


def test_word_shingles_short_doc_uses_whole_text(spark):
    # A doc shorter than k words degrades to ONE whole-text gram (the
    # decontamination protocol and the x37 oracle both assume this).
    rows = [(1, "two words"), (2, "one"), (3, "a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["sh"] for r in
           df.select("doc_id",
                     D.word_shingles("text", k=3).alias("sh")).collect()}
    assert got[1] == ["two words"]
    assert got[2] == ["one"]
    assert got[3] == ["a b c"]


def test_minhash_signatures_match_duckdb(spark, duck):
    df = _docs_with_dups(spark)
    sigs = D.minhash_signatures(df, n_hashes=4).collect()
    got = {r["doc_id"]: [r[f"sig_{i}"] for i in range(4)] for r in sigs}
    df.toPandas().to_parquet("/tmp/_dup_docs.parquet")
    want_rows = duck.sql("""
        with norm as (
          select doc_id,
                 string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') as toks
          from '/tmp/_dup_docs.parquet'),
        sh as (
          select doc_id, distinct_sh
          from norm, unnest(list_distinct([
            array_to_string(toks[i:i+2], ' ')
            for i in range(1, greatest(len(toks) - 2, 1) + 1)
          ])) as t(distinct_sh))
        select doc_id,
               min(substring(md5('salt0:' || distinct_sh), 1, 8)),
               min(substring(md5('salt0:' || distinct_sh), 9, 8)),
               min(substring(md5('salt0:' || distinct_sh), 17, 8)),
               min(substring(md5('salt0:' || distinct_sh), 25, 8))
        from sh group by doc_id""").fetchall()
    want = {r[0]: list(r[1:]) for r in want_rows}
    assert got == want


def test_minhash_dedup_finds_near_dups(spark):
    out = D.minhash_dedup(_docs_with_dups(spark), threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs and (1, 5) in pairs
    assert all(4 not in p for p in pairs)


def test_ngram_jaccard_exact_values(spark):
    df = _docs_with_dups(spark)
    pairs = spark.createDataFrame([(1, 5), (1, 4)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard(df, pairs).collect()}
    assert out[(1, 5)] == 1.0
    assert out[(1, 4)] == 0.0


def test_simhash_identical_for_dups(spark):
    df = _docs_with_dups(spark)
    sh = {r["doc_id"]: r["simhash"]
          for r in D.simhash_table(df).collect()}
    assert sh[1] == sh[2] == sh[5]
    assert sh[1] != sh[4]


def test_simhash_bit_math_matches_python(spark):
    """Independent python recomputation of the 32-bit simhash."""
    import hashlib

    texts = {7: "alpha beta gamma delta", 8: "xyz"}
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in D.simhash_table(df).collect()}

    for doc, text in texts.items():
        toks = text.split()
        want = 0
        n = len(toks)
        for bit in range(D.SIMHASH_BITS):
            ones = 0
            for t in toks:
                h = hashlib.md5(t.encode()).hexdigest()
                nib = int(h[bit // 4], 16)
                ones += (nib >> (3 - bit % 4)) & 1
            if ones * 2 > n:
                want |= 1 << bit
        assert got[doc] == want, doc


def test_minhash_xxhash64_equivalent_output(tables):
    """The xxhash64 fast path (100 TB: ~4x cheaper signatures) must produce
    the same verified above-threshold pairs as the oracle-reproducible md5
    path — the exact-Jaccard verification stage makes the pipeline output
    hash-agnostic."""
    from scardina_spark.operators.dedup import minhash_dedup
    docs = tables["documents"]
    md5_pairs = {(r["id_a"], r["id_b"])
                 for r in minhash_dedup(docs, threshold=0.5).collect()}
    xx_pairs = {(r["id_a"], r["id_b"])
                for r in minhash_dedup(docs, threshold=0.5,
                                       hash_fn="xxhash64").collect()}
    assert md5_pairs == xx_pairs
    assert len(md5_pairs) > 0


def test_minhash_unknown_hash_fn_rejected(tables):
    from scardina_spark.operators.dedup import minhash_signatures
    import pytest as _pytest
    with _pytest.raises(ValueError):
        minhash_signatures(tables["documents"], hash_fn="sha1")


def test_keep_latest_matches_window_semantics(spark):
    from scardina_spark.operators.dedup import keep_latest

    rows = [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"),
            (2, 5, "d"), (3, 1, "e")]  # key 2 ties on version
    df = spark.createDataFrame(rows, ["k", "v", "payload"])
    got = {r["k"]: (r["v"], r["payload"])
           for r in keep_latest(df, ["k"], ["v"]).collect()}
    # ties on the order column resolve by the remaining columns' max
    assert got == {1: (20, "b"), 2: (5, "d"), 3: (1, "e")}


def test_keep_latest_plan_is_aggregate_not_window(spark):
    from scardina_spark.operators.dedup import keep_latest

    df = spark.createDataFrame([(1, 1, "x")], ["k", "v", "p"])
    plan = keep_latest(df, ["k"], ["v"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_keep_latest_rejects_map_columns_and_handles_dotted_keys(spark):
    import pytest

    from scardina_spark.operators.dedup import keep_latest

    df = spark.createDataFrame([(1, 2, {"a": "b"})], ["k", "v", "m"])
    with pytest.raises(ValueError, match="map-typed"):
        keep_latest(df, ["k"], ["v"])

    dotted = spark.createDataFrame([(1, 2, "x"), (1, 3, "y")],
                                   ["user.id", "v", "p"])
    got = keep_latest(dotted, ["user.id"], ["v"]).collect()
    assert len(got) == 1 and got[0]["v"] == 3 and got[0]["p"] == "y"


def test_line_dedup_drops_corpus_boilerplate(spark):
    from scardina_spark.operators.dedup import line_dedup
    df = spark.createDataFrame([
        (0, "unique intro\nCOOKIE BANNER\nreal content zero"),
        (1, "COOKIE BANNER\nreal content one"),
        (2, "COOKIE BANNER\nreal content two\n  COOKIE BANNER  "),
        (3, ""), (4, None),
    ], "doc_id: long, text: string")
    got = {r["doc_id"]: r.asDict() for r in line_dedup(df).collect()}
    # the banner occurs 4x corpus-wide (trim-keyed): dropped everywhere,
    # surviving lines keep their original text and order
    assert got[0]["text"] == "unique intro\nreal content zero"
    assert got[1]["text"] == "real content one"
    assert got[2]["text"] == "real content two"
    assert (got[2]["n_lines"], got[2]["n_kept"]) == (3, 1)
    # empty / NULL normalize to the empty document
    for i in (3, 4):
        assert got[i] == {"doc_id": i, "text": "", "n_lines": 0,
                          "n_kept": 0}
    # max_occurrences=4 keeps everything AND round-trips the exact text
    all_kept = {r["doc_id"]: r["text"]
                for r in line_dedup(df, max_occurrences=4).collect()}
    originals = {r["doc_id"]: r["text"] for r in df.collect()}
    for i in range(3):
        assert all_kept[i] == originals[i]
    assert line_dedup(df, max_occurrences=4) \
        .where("n_kept != n_lines").count() == 0
    # blank lines are STRUCTURE, not dedup candidates: paragraph
    # boundaries survive even though every blank line 'repeats'
    paras = spark.createDataFrame(
        [(0, "para one\n\npara two"), (1, "para three\n\npara four")],
        "doc_id: long, text: string")
    out = {r["doc_id"]: r["text"] for r in line_dedup(paras).collect()}
    assert out[0] == "para one\n\npara two"
    assert out[1] == "para three\n\npara four"
    # no window in the plan (reassembly is an aggregation)
    plan = line_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_incremental_probe_matches_selfjoin_straddlers(spark, tables):
    """The asymmetric shard-vs-index probe must find EXACTLY the
    near-dup pairs the union-corpus self-join finds between the two
    sides (no candidates lost by the split, none invented)."""
    from scardina_spark.operators.dedup import (incremental_near_dup,
                                                minhash_dedup,
                                                minhash_signatures)
    from pyspark.sql import functions as F
    docs = tables["documents"]
    new = docs.where(F.col("doc_id") % 5 == 0)
    idx = docs.where(F.col("doc_id") % 5 != 0)
    got = {(r["new_id"], r["index_id"], r["jaccard"])
           for r in incremental_near_dup(new, idx, threshold=0.8).collect()}
    assert got, "fixture must be non-vacuous"
    full = minhash_dedup(docs, threshold=0.8)
    want = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if (a % 5 == 0) != (b % 5 == 0):
            n, i = (a, b) if a % 5 == 0 else (b, a)
            want.add((n, i, r["jaccard"]))
    assert got == want
    # precomputed index signatures short-circuit the index-side pass
    idx_sigs = minhash_signatures(idx)
    got2 = {(r["new_id"], r["index_id"], r["jaccard"])
            for r in incremental_near_dup(new, idx, index_sigs=idx_sigs,
                                          threshold=0.8).collect()}
    assert got2 == got


def test_edit_near_dup_crafted(spark):
    from scardina_spark.operators.dedup import edit_near_dup
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base.replace("lazy", "hazy")),      # dist 1 — caught
        (2, "x" + base[1:-1] + "y"),            # both affixes differ — missed
        (3, "completely different text that shares nothing with the rest"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_near_dup(df, max_rel_dist=0.1).collect()}
    assert got == {(0, 1): 1}  # (0,2) is a true near-dup the blocking
    # heuristic misses by design: its prefix AND suffix both changed


def test_edit_near_dup_pairs_valid_on_corpus(tables):
    from scardina_spark.operators.dedup import edit_near_dup
    out = edit_near_dup(tables["documents"], max_rel_dist=0.1).collect()
    assert len(out) > 0  # the corpus has planted near-identical docs
    seen = set()
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) not in seen
        seen.add((r["id_a"], r["id_b"]))
        assert 0.9 - 1e-9 <= r["edit_sim"] <= 1.0


def test_edit_near_dup_blocking_shrinks_candidates(tables):
    """Scale pin: the DP runs on far fewer pairs than all-pairs."""
    from scardina_spark.operators.dedup import edit_near_dup, normalized
    from pyspark.sql import functions as F
    docs = tables["documents"]
    n = docs.where(F.length(normalized()) > 0).count()
    # re-derive the candidate count the operator joins on
    pairs = edit_near_dup(docs, max_rel_dist=0.999)
    cands = pairs.count()  # rel≈1 keeps every colliding candidate
    assert cands < n * (n - 1) / 20, (cands, n)


def test_edit_near_dup_validates(spark):
    from scardina_spark.operators.dedup import edit_near_dup
    df = spark.createDataFrame([(0, "a")], "doc_id: long, text: string")
    import pytest as _pt
    with _pt.raises(ValueError):
        edit_near_dup(df, max_rel_dist=0.0)
    with _pt.raises(ValueError):
        edit_near_dup(df, affix=0)


def test_allpairs_exact_vs_bruteforce_on_corpus(spark, tables):
    """The exactness claim itself: prefix filtering finds EVERY pair
    the quadratic scan finds, at several thresholds."""
    from pyspark.sql import functions as F
    from scardina_spark.operators.dedup import (
        allpairs_sim_join, normalized, word_shingles)

    docs = tables["documents"]
    base = (docs.select(F.col("doc_id").alias("id"),
                        word_shingles("text", 3).alias("sh"))
            .where(F.length(normalized()) > 0))
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sa"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    brute = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", jac.alias("j"))
    for t in (0.5, 0.6, 0.9):
        want = {(r["id_a"], r["id_b"]): round(r["j"], 6)
                for r in brute.where(F.col("j") >= t).collect()}
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in allpairs_sim_join(docs, threshold=t).collect()}
        assert got == want, t
    assert len(got) > 0  # the corpus plants near-dups


def test_allpairs_boundary_and_prefix_dust(spark):
    """J exactly == t must be KEPT, and the ceil(t*n) double-dust case
    (0.6*5 = 3.0000000000000004) must not shorten the prefix."""
    from scardina_spark.operators.dedup import allpairs_sim_join
    # 7 words -> 5 distinct 3-shingles each; overlap 3 of 7 distinct
    # total -> J = 3/7; craft instead sets with J = 3/5... simpler:
    # two docs sharing 3 of 5 shingles each side (J = 3/7 < 0.6), and
    # two identical docs (J = 1.0)
    d = [(0, "a b c d e f g"),
         (1, "a b c d e x y"),   # shares shingles abc bcd cde -> J=3/7
         (2, "a b c d e f g")]   # identical to 0 -> J=1
    df = spark.createDataFrame(d, "doc_id: long, text: string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in allpairs_sim_join(df, threshold=3.0 / 7.0).collect()}
    assert got[(0, 2)] == 1.0
    assert got[(0, 1)] == round(3.0 / 7.0, 6)  # boundary kept
    assert (1, 2) in got
    strict = {(r["id_a"], r["id_b"])
              for r in allpairs_sim_join(df, threshold=0.6).collect()}
    assert strict == {(0, 2)}


def test_allpairs_candidates_shrink(spark, tables):
    """Scale pin: the prefix join examines far fewer pairs than n^2/2
    at a selective threshold (rare-first canonical order)."""
    from pyspark.sql import functions as F
    from scardina_spark.operators.dedup import (
        normalized, word_shingles)
    docs = tables["documents"]
    toks = (docs.select(F.col("doc_id").alias("id"),
                        word_shingles("text", 3).alias("toks"))
            .where(F.length(normalized()) > 0))
    n = toks.count()
    tok_cnt = (toks.select(F.explode("toks").alias("tok"))
               .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    ranked = (toks.select("id", F.explode("toks").alias("tok"))
              .join(tok_cnt, "tok").groupBy("id")
              .agg(F.array_sort(F.collect_list(F.struct("cnt", "tok")))
                   .alias("s")))
    nn = F.size("s")
    plen = (nn - F.ceil(F.lit(0.8) * nn - F.lit(1e-9)) + 1).cast("int")
    ex = ranked.select("id", F.explode(
        F.slice(F.transform("s", lambda x: x["tok"]), F.lit(1), plen))
        .alias("tok"))
    cands = (ex.alias("a").join(ex.alias("b"), "tok")
             .where(F.col("a.id") < F.col("b.id"))
             .select("a.id", "b.id").distinct().count())
    assert cands < n * (n - 1) / 8, (cands, n)


def test_allpairs_validates(spark):
    import pytest as _pt
    from scardina_spark.operators.dedup import allpairs_sim_join
    df = spark.createDataFrame([(0, "a")], "doc_id: long, text: string")
    with _pt.raises(ValueError):
        allpairs_sim_join(df, threshold=0.0)
    with _pt.raises(ValueError):
        allpairs_sim_join(df, threshold=1.5)


def test_edit_near_dup_layout_invariant(tables):
    """Affix blocking and the DP are pure functions of the texts —
    repartitioning the input must not change the pair set."""
    from scardina_spark.operators.dedup import edit_near_dup
    docs = tables["documents"]
    base = {(r["id_a"], r["id_b"], r["dist"])
            for r in edit_near_dup(docs).collect()}
    shuffled = {(r["id_a"], r["id_b"], r["dist"])
                for r in edit_near_dup(docs.repartition(13)).collect()}
    assert base == shuffled and len(base) > 0


def test_allpairs_threshold_monotone(tables):
    """Raising the threshold can only shrink the result set, and every
    surviving pair's jaccard clears the higher bar — the exactness
    guarantee stated as monotonicity."""
    from scardina_spark.operators.dedup import allpairs_sim_join
    docs = tables["documents"]
    lo = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in allpairs_sim_join(docs, threshold=0.5).collect()}
    hi = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in allpairs_sim_join(docs, threshold=0.9).collect()}
    assert set(hi) <= set(lo)
    assert all(j >= 0.9 for j in hi.values())
    assert all(lo[p] == j for p, j in hi.items())


def test_edit_near_dup_finds_band_boundary_pair(spark):
    """Two near-identical texts whose lengths straddle a length-band
    boundary (15 vs 17 chars, band_chars=16) still become candidates:
    each doc also emits its adjacent band's keys, so a <= band_chars
    length difference can never hide a pair."""
    from scardina_spark.operators.dedup import edit_near_dup
    rows = [(0, "abcdefgh1234567"),        # 15 chars -> band 0
            (1, "abcdefgh123456789")]      # 17 chars -> band 1
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_near_dup(df, max_rel_dist=0.2).collect()}
    assert got == {(0, 1): 2}
