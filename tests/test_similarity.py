"""Embedding similarity ops vs DuckDB list functions and numpy."""

import numpy as np
import pytest

from scardina_spark.operators import similarity as S


@pytest.fixture(scope="module")
def query_vec(duck):
    row = duck.sql(
        "select embedding from embeddings where vec_id = 0").fetchone()
    return [float(x) for x in row[0]]


def test_topk_matches_duckdb(tables, duck, query_vec):
    got = [(r["vec_id"], r["cos_sim"])
           for r in S.topk_cosine(tables["embeddings"], query_vec, 10).collect()]
    qlit = "[" + ",".join(repr(x) for x in query_vec) + "]"
    want = duck.sql(f"""
        with q as (select {qlit}::DOUBLE[] as v)
        select vec_id, round(
            list_dot_product(embedding::DOUBLE[], q.v) /
            greatest(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                     * sqrt(list_dot_product(q.v, q.v)), 1e-12), 6) as cos
        from embeddings, q
        order by cos desc, vec_id limit 10""").fetchall()
    assert [v for v, _ in got] == [v for v, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) < 1e-5


def test_topk_self_is_first(tables, duck, query_vec):
    top = S.topk_cosine(tables["embeddings"], query_vec, 1).collect()
    assert top[0]["vec_id"] == 0
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-6


def test_lsh_bucket_deterministic_and_distributed(tables):
    planes = S.hyperplanes(64, 8, seed=42)
    b1 = S.with_lsh_bucket(tables["embeddings"], planes)
    counts = {r["bucket"]: r["c"] for r in
              b1.groupBy("bucket").count().withColumnRenamed("count", "c").collect()}
    assert sum(counts.values()) == tables["embeddings"].count()
    assert len(counts) > 10  # buckets actually spread


def test_lsh_topk_subset_of_bucket(tables, query_vec):
    planes = S.hyperplanes(64, 4, seed=42)
    ann = S.topk_cosine_lsh(tables["embeddings"], query_vec, 5, planes)
    rows = ann.collect()
    assert 0 < len(rows) <= 5
    # the query vector itself (vec_id 0) lands in its own bucket
    assert rows[0]["vec_id"] == 0


def test_lsh_recall_against_bruteforce(tables, query_vec):
    planes = S.hyperplanes(64, 4, seed=42)
    exact = {r["vec_id"] for r in
             S.topk_cosine(tables["embeddings"], query_vec, 10).collect()}
    approx = {r["vec_id"] for r in
              S.topk_cosine_lsh(tables["embeddings"], query_vec, 10, planes).collect()}
    # 4-plane LSH on near-orthogonal random vectors is coarse; demand
    # nonzero overlap, not high recall
    assert exact & approx


def test_ivf_assign_matches_numpy(tables):
    emb = tables["embeddings"]
    cents = [[float(x) for x in r["embedding"]]
             for r in emb.orderBy("vec_id").limit(8).collect()]
    got = {r["vec_id"]: r["cell"]
           for r in S.ivf_assign(emb, cents).select("vec_id", "cell").collect()}
    cmat = np.asarray(cents, dtype=np.float64).T
    for r in emb.collect():
        v = np.asarray([float(x) for x in r["embedding"]])
        assert got[r["vec_id"]] == int((v @ cmat).argmax())


def test_ivf_assign_large_k_pandas_path(tables):
    emb = tables["embeddings"]
    rows = emb.orderBy("vec_id").limit(65).collect()
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    df = S.ivf_assign(emb, cents)
    counts = df.groupBy("cell").count().collect()
    assert sum(r["count"] for r in counts) == emb.count()
    # each seed vector is its own nearest centroid (random vectors)
    got = {r["vec_id"]: r["cell"]
           for r in df.select("vec_id", "cell").collect()}
    hits = sum(1 for i in range(65) if got[rows[i]["vec_id"]] == i)
    assert hits >= 60


def test_ivf_train_reduces_distortion(tables):
    emb = tables["embeddings"]
    init = [[float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(4).collect()]
    trained = S.ivf_train(emb, k=4, iters=2)
    assert len(trained) == 4 and len(trained[0]) == 64
    # Lloyd steps move centroids off the raw seed vectors
    assert any(np.linalg.norm(np.asarray(a) - np.asarray(b)) > 1e-6
               for a, b in zip(init, trained))
    # determinism
    again = S.ivf_train(emb, k=4, iters=2)
    assert trained == again


def test_ivf_topk_probe_subset(tables, query_vec):
    emb = tables["embeddings"]
    cents = [[float(x) for x in r["embedding"]]
             for r in emb.orderBy("vec_id").limit(8).collect()]
    ann = S.topk_cosine_ivf(emb, query_vec, 10, centroids=cents, nprobe=2)
    rows = ann.collect()
    assert 0 < len(rows) <= 10
    assert rows[0]["vec_id"] == 0  # query's own vector in the probed cell
    exact = {r["vec_id"] for r in S.topk_cosine(emb, query_vec, 10).collect()}
    assert exact & {r["vec_id"] for r in rows}


def test_cosine_matches_numpy(spark):
    a = [1.0, 2.0, 3.0]
    b = [4.0, 5.0, 6.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    from pyspark.sql import functions as F
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - want) < 1e-9


def test_similarity_selection_card_unbiased_and_monotone(tables):
    """Sampling estimate tracks the exact similarity-selection count and
    is monotone in the threshold (raising t can only shrink the set)."""
    from scardina_spark.operators.similarity import (
        similarity_selection_card)

    emb = tables["embeddings"]
    qv = [float(x) for x in emb.first()["embedding"]]
    ests = {}
    for t in [0.0, 0.2, 0.5]:
        r = similarity_selection_card(emb, qv, threshold=t, k=128).first()
        assert r["n_sample"] == 128
        ests[t] = (r["est_card"], r["true_card"])
        # binomial 4-sigma bound around the truth's fraction
        import math
        n, k = r["n_total"], r["n_sample"]
        p = r["true_card"] / n
        tol = 4 * n * math.sqrt(p * (1 - p) / k) + 1
        assert abs(r["est_card"] - r["true_card"]) < tol, (t, ests[t])
    assert ests[0.0][0] >= ests[0.2][0] >= ests[0.5][0]


def test_similarity_selection_card_exact_when_sample_covers(spark):
    from scardina_spark.operators.similarity import (
        similarity_selection_card)
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = rows[0][1]
    r = similarity_selection_card(df, qv, threshold=0.3, k=100).first()
    # sample covers the whole table -> estimate IS the exact count
    assert r["n_sample"] == 60
    assert r["est_card"] == float(r["true_card"])


# --- banded near-dup LSH ---

def _planted_corpus(spark, n=300, dim=16, n_dups=12, seed=7):
    """Random unit-ish vectors plus planted near-duplicates: vec i and
    vec (n + j) are tiny perturbations of each other (cos > 0.99)."""
    rs = np.random.RandomState(seed)
    base = rs.randn(n, dim)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    for j in range(n_dups):
        pert = base[j] + 0.02 * rs.randn(dim)
        rows.append((n + j, [float(x) for x in pert]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_near_dup_banded_finds_planted_pairs(spark):
    df = _planted_corpus(spark)
    planes = S.hyperplanes(16, 4 * 8, seed=42)
    got = S.near_dup_pairs(df, threshold=0.99, planes=planes,
                           n_bands=4, rows_per_band=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    # every planted pair (j, 300+j) with true cos >= 0.99 must be found
    # by the OR-construction (recall at cos ~0.998 with 4x8 bands > 0.999)
    for j in range(12):
        assert (j, 300 + j) in found, f"missing planted pair {j}"
    for r in got:
        assert r["cos_sim"] >= 0.99


def test_near_dup_candidate_shrink_vs_single_table(spark):
    """Banding with wider bands (r=12) shrinks the candidate set vs one
    fixed 8-plane table: B*(N/2^r)^2 < (N/2^8)^2 once r > 8 + log2(B)."""
    from pyspark.sql import functions as F
    df = _planted_corpus(spark, n=400)

    def n_candidates(n_bands, rows_per_band):
        planes = S.hyperplanes(16, n_bands * rows_per_band, seed=42)
        band_structs = []
        for b in range(n_bands):
            sub = planes[b * rows_per_band:(b + 1) * rows_per_band]
            band_structs.append(F.struct(
                F.lit(b).alias("band"),
                S.lsh_bucket(F.col("embedding"), sub).alias("bucket")))
        ex = (df.select(F.col("vec_id").alias("id"),
                        F.explode(F.array(*band_structs)).alias("b"))
              .select("id", "b.band", "b.bucket"))
        a = ex.select("band", "bucket", F.col("id").alias("ia"))
        c = ex.select("band", "bucket", F.col("id").alias("ib"))
        return (a.join(c, ["band", "bucket"])
                .where(F.col("ia") < F.col("ib"))
                .select("ia", "ib").distinct().count())

    single = n_candidates(1, 8)       # the old fixed-width table
    banded = n_candidates(3, 12)      # 3 bands x 12 planes
    assert banded < single, (banded, single)


def test_near_dup_recall_against_bruteforce(spark):
    """Measured recall of the banded OR-construction vs exact all-pairs
    at cos >= 0.99 (planted dups sit near cos 0.999)."""
    df = _planted_corpus(spark, n=250, n_dups=10)
    planes = S.hyperplanes(16, 4 * 8, seed=42)
    approx = {(r["id_a"], r["id_b"]) for r in
              S.near_dup_pairs(df, threshold=0.99, planes=planes,
                               n_bands=4, rows_per_band=8).collect()}
    rows = df.collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}
    exact = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va, vb = vecs[a], vecs[b]
            cos = va @ vb / max(np.linalg.norm(va) * np.linalg.norm(vb),
                                1e-12)
            if round(cos, 6) >= 0.99:
                exact.add((a, b))
    assert exact, "fixture must plant true near-dups"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, (recall, len(exact))


def test_derive_ivf_params_probe_fraction_shrinks():
    """k ≈ √N and nprobe ≈ √k: the probed fraction of the corpus (and,
    with the partitioned index, of the files read) must strictly shrink
    as the corpus grows — the property that makes IVF the 100 TB path."""
    prev_frac = 1.0
    for n in (10_000, 1_000_000, 100_000_000, 10_000_000_000):
        k, nprobe = S.derive_ivf_params(n)
        assert 1 <= nprobe <= k
        frac = nprobe / k
        assert frac < prev_frac
        prev_frac = frac
        # cells stay √N-sized: in-cell scan cost grows as √N, not N
        assert n / k <= 2 * (n ** 0.5)
    # large corpora land on the >64-cell Arrow matmul assign path
    assert S.derive_ivf_params(1_000_000)[0] > 64
    # k=None wiring: ivf_build_index derives from the corpus
    assert S.derive_ivf_params(100)[0] == 10


def test_ivf_build_index_derives_k(tables):
    idx = S.ivf_build_index(tables["embeddings"], k=None, iters=0)
    n = tables["embeddings"].count()
    assert len(idx.centroids) == S.derive_ivf_params(n)[0]


def test_ivf_index_roundtrip_matches_scan_path(spark, tables, tmp_path,
                                               query_vec):
    idx = S.ivf_build_index(tables["embeddings"], k=8, iters=1)
    path = str(tmp_path / "ivfidx")
    idx.save(path)
    loaded = S.ivf_load_index(spark, path)
    for a, b in zip(loaded.centroids, idx.centroids):
        assert np.allclose(a, b, rtol=1e-12)
    # same probe-selection + scoring against the SAME (loaded) centroids:
    # the indexed path must reproduce the in-memory path exactly
    want = S.topk_cosine_ivf(tables["embeddings"], query_vec, 5,
                             centroids=loaded.centroids, nprobe=2).collect()
    got = S.topk_cosine_ivf_indexed(loaded, query_vec, 5, nprobe=2)
    rows = got.collect()
    assert [r["vec_id"] for r in rows] == [r["vec_id"] for r in want]
    for a, b in zip(rows, want):
        assert abs(a["cos_sim"] - b["cos_sim"]) < 1e-9


def test_ivf_index_probe_is_partition_pruned(spark, tables, tmp_path,
                                             query_vec):
    """The scale claim, pinned: the saved layout has one directory per
    cell, and a probe's scan carries the cell filter as a PARTITION
    filter (pruning whole directories), not a mere data filter."""
    import os

    idx = S.ivf_build_index(tables["embeddings"], k=8, iters=1)
    path = str(tmp_path / "ivfidx")
    idx.save(path)
    dirs = [d for d in os.listdir(os.path.join(path, "cells"))
            if d.startswith("cell=")]
    assert len(dirs) == 8
    loaded = S.ivf_load_index(spark, path)
    got = S.topk_cosine_ivf_indexed(loaded, query_vec, 5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cell" in pf and "IN" in pf.upper()


def test_knn_votes_prediction_and_posterior(tables, query_vec):
    """Votes sum to k, ordering is (votes desc, label asc), and the
    neighbour set is exactly the topk_cosine relation's ids."""
    votes = S.knn_votes(tables["embeddings"], query_vec, k=15).collect()
    assert sum(r["votes"] for r in votes) == 15
    keys = [(-r["votes"], r["label"]) for r in votes]
    assert keys == sorted(keys)
    top_ids = {r["vec_id"] for r in
               S.topk_cosine(tables["embeddings"], query_vec, 15).collect()}
    labels = {r["vec_id"]: r["label"]
              for r in tables["embeddings"].select("vec_id", "label")
              .collect()}
    from collections import Counter
    expect = Counter(labels[i] for i in top_ids)
    assert {r["label"]: r["votes"] for r in votes} == dict(expect)


def test_semdedup_keeps_lowest_id_per_near_group(spark):
    """Two well-separated cells; a planted near-identical pair inside
    one cell keeps its lowest id and drops the partner; everything
    dissimilar survives."""
    c0 = [1.0] + [0.0] * 15
    c1 = [0.0, 1.0] + [0.0] * 14
    rows = [
        (0, c0), (1, c1),                       # the centroids themselves
        (10, [0.999, 0.01] + [0.0] * 14),       # ~ c0 (near-dup of 0)
        (11, [0.01, 0.999] + [0.0] * 14),       # ~ c1 (near-dup of 1)
        (12, [0.7, 0.0] + [0.1] * 14),          # c0 cell, dissimilar
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    flags = {r["vec_id"]: (r["cell"], r["kept"])
             for r in S.semdedup_flags(df, [c0, c1], threshold=0.95)
             .collect()}
    assert flags[0] == (0, True) and flags[10] == (0, False)
    assert flags[1] == (1, True) and flags[11] == (1, False)
    assert flags[12][1] is True
    kept = {r["vec_id"] for r in
            S.semdedup(df, [c0, c1], threshold=0.95).collect()}
    assert kept == {0, 1, 12}


def test_semdedup_comparison_confined_to_cells(spark):
    """A near-dup pair straddling a cell boundary is NOT compared — the
    documented recall trade of the SemDeDup protocol (pair work stays
    per-cell, never all-pairs)."""
    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.8, 0.6, 0.0, 0.0]
    # cos(a, b) ~ 0.995 but a assigns to c0 (dot .995 vs .97) and b to
    # c1 (dot .975 vs .9999): same near-dup group, different cells
    a = [0.995, 0.1, 0.0, 0.0]
    b = [0.9, 0.43, 0.0, 0.0]
    df = spark.createDataFrame([(0, a), (1, b)], ["vec_id", "embedding"])
    out = S.semdedup_flags(df, [c0, c1], threshold=0.95).collect()
    cells = {r["vec_id"]: r["cell"] for r in out}
    assert cells[0] != cells[1], "fixture must straddle cells"
    assert all(r["kept"] for r in out)


def test_semdedup_pair_work_scales_subquadratically(spark):
    """The n^1.5 claim: with derive_ivf_params (k ~ sqrt(n)), growing
    the corpus 4x grows within-cell pair work ~8x (sqrt(4)^3), far
    below the 16x of all-pairs."""
    import numpy as np

    from pyspark.sql import functions as F

    def pair_work(n):
        rng = np.random.RandomState(7)
        vecs = rng.randn(n, 16).astype(float)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            ["vec_id", "embedding"])
        k, _ = S.derive_ivf_params(n)
        cents = S.ivf_train(df, k=k, iters=1)
        sizes = (S.ivf_assign(df, cents).groupBy("cell")
                 .agg(F.count(F.lit(1)).alias("c")).collect())
        return sum(r["c"] * (r["c"] - 1) // 2 for r in sizes)

    small, big = pair_work(1000), pair_work(4000)
    ratio = big / small
    assert 3.0 < ratio < 13.0, ratio  # ~8 expected; 16 = all-pairs


def test_hard_negatives_crafted(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),   # same label as anchor 0 — must be skipped
        (2, [0.8, 0.2], 1),   # nearest different-label for anchor 0
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int")
    got = {r["q_id"]: (r["neg_id"], r["q_label"])
           for r in S.hard_negatives(df, df.where("vec_id = 0")).collect()}
    assert got == {0: (2, 0)}


def test_hard_negatives_matches_numpy(tables):
    emb = tables["embeddings"]
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    labels = {r["vec_id"]: r["label"] for r in rows}
    anchors = emb.where("vec_id < 5")
    got = {r["q_id"]: (r["neg_id"], r["neg_sim"])
           for r in S.hard_negatives(emb, anchors).collect()}
    for qid in [r["vec_id"] for r in anchors.collect()]:
        qv = vecs[qid]
        cands = []
        for nid, nv in vecs.items():
            if labels[nid] == labels[qid]:
                continue
            sim = round(float(np.dot(qv, nv)
                              / max(np.linalg.norm(qv)
                                    * np.linalg.norm(nv), 1e-12)), 6)
            cands.append((-sim, nid))
        best = min(cands)
        assert got[qid] == (best[1], -best[0]), qid
    # the mined negative never shares the anchor's label
    for qid, (nid, _) in got.items():
        assert labels[nid] != labels[qid]


def test_hard_negatives_broadcasts_anchors(tables):
    """Scale pin: the corpus streams; only the anchor batch broadcasts."""
    plan = (S.hard_negatives(tables["embeddings"],
                             tables["embeddings"].where("vec_id < 5"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan
    # no sort-merge join / corpus-side exchange beyond the final argmax agg
    assert "SortMergeJoin" not in plan


def test_ivf_append_saved_touches_only_new_files(spark, tables):
    """The scale contract: appending never rewrites existing files."""
    import glob
    import os
    import shutil
    import tempfile

    emb = tables["embeddings"]
    idx = S.ivf_build_index(emb.where("vec_id < 300"), k=8, iters=0)
    path = os.path.join(tempfile.gettempdir(),
                        f"ivfappend_files_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    try:
        idx.save(path)
        before = {p: os.path.getmtime(p) for p in glob.glob(
            os.path.join(path, "cells", "**", "*.parquet"),
            recursive=True)}
        S.ivf_append_saved(spark, path, emb.where("vec_id >= 300"))
        after = set(glob.glob(os.path.join(path, "cells", "**",
                                           "*.parquet"), recursive=True))
        assert set(before) < after  # strictly more files
        for p, m in before.items():
            assert os.path.getmtime(p) == m, p  # untouched
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ranking_metrics_crafted(spark):
    import math

    approx = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (99, 0.7)], "vec_id: long, cos_sim: double")
    exact = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.75)], "vec_id: long, cos_sim: double")
    r = S.ranking_metrics(approx, exact, k=3).first()
    assert r["n_hits"] == 2
    assert r["recall_at_k"] == round(2 / 3, 6)
    ideal = sum(1 / math.log2(i + 2) for i in range(3))
    dcg = 1 / math.log2(2) + 1 / math.log2(3)  # hits at ranks 1, 2
    assert r["ndcg_at_k"] == round(dcg / ideal, 6)
    # perfect retrieval scores 1.0 on both
    p = S.ranking_metrics(exact, exact, k=3).first()
    assert (p["recall_at_k"], p["ndcg_at_k"]) == (1.0, 1.0)
    # disjoint retrieval scores 0.0
    z = S.ranking_metrics(
        spark.createDataFrame([(7, 0.5)], "vec_id: long, cos_sim: double"),
        exact, k=3).first()
    assert (z["n_hits"], z["recall_at_k"], z["ndcg_at_k"]) == (0, 0.0, 0.0)


def test_ranking_metrics_rank_order_independent_of_layout(spark):
    """Ranks come from (score desc, id), not physical row order."""
    rows = [(3, 0.7), (1, 0.9), (2, 0.8)]  # deliberately shuffled
    approx = spark.createDataFrame(rows, "vec_id: long, cos_sim: double") \
        .repartition(3)
    exact = spark.createDataFrame(sorted(rows, key=lambda t: -t[1]),
                                  "vec_id: long, cos_sim: double")
    r = S.ranking_metrics(approx, exact, k=3).first()
    assert (r["n_hits"], r["recall_at_k"], r["ndcg_at_k"]) == (3, 1.0, 1.0)


def test_ranking_metrics_short_exact_set_normalizes_by_min(spark):
    """When the exact result has fewer than k rows (small or filtered
    corpus), recall and nDCG normalize by |exact|, not k: returning
    every relevant item is a perfect score, not 2/5 of one."""
    exact = spark.createDataFrame(
        [(1, 0.9), (2, 0.8)], "vec_id: long, cos_sim: double")
    r = S.ranking_metrics(exact, exact, k=5).first()
    assert (r["n_hits"], r["recall_at_k"], r["ndcg_at_k"]) == (2, 1.0, 1.0)
    # one of the two found -> 1/2, not 1/5
    half = S.ranking_metrics(
        spark.createDataFrame([(1, 0.9)], "vec_id: long, cos_sim: double"),
        exact, k=5).first()
    assert half["recall_at_k"] == 0.5


def test_pq_roundtrip_and_recall(spark, tables):
    """PQ codes are m small ints; ADC top-k recovers most of the exact
    top-k on the synthetic corpus (the planted-cluster structure makes
    even a seed quantizer informative)."""
    from pyspark.sql import functions as F
    emb = tables["embeddings"]
    books = S.pq_train(emb, m=8, k_codes=16, iters=2)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    enc = S.pq_encode(emb, books)
    assert "embedding" not in enc.columns
    rng = enc.agg(F.min(F.array_min("pq_codes")),
                  F.max(F.array_max("pq_codes")),
                  F.min(F.size("pq_codes"))).first()
    assert rng[0] >= 0 and rng[1] <= 15 and rng[2] == 8
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    approx = S.pq_topk(enc, books, qv, 10).withColumnRenamed(
        "adc_sim", "cos_sim")
    exact = S.topk_cosine(emb, qv, 10)
    m = S.ranking_metrics(approx, exact, k=10).first()
    assert m["recall_at_k"] >= 0.4, m  # plain ADC trades recall...
    rer = S.pq_topk_rerank(enc, emb, books, qv, 10, shortlist=50)
    mr = S.ranking_metrics(rer, exact, k=10).first()
    assert mr["recall_at_k"] >= 0.8, mr  # ...the refine pass buys it back
    full = S.pq_topk_rerank(enc, emb, books, qv, 10,
                            shortlist=emb.count())
    mf = S.ranking_metrics(full, exact, k=10).first()
    # full-corpus shortlist degenerates to the exact search
    assert (mf["recall_at_k"], mf["ndcg_at_k"]) == (1.0, 1.0)


def test_pq_topk_plan_shuffle_free(spark, tables):
    """Scale pin: ADC search is scan -> codegen projection ->
    TakeOrdered; no Exchange, no join, no Python in the plan."""
    emb = tables["embeddings"]
    books = S.pq_train(emb, m=4, k_codes=8, iters=0)
    enc = S.pq_encode(emb, books)
    qv = [1.0] * 64
    plan = (S.pq_topk(enc, books, qv, 10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan.replace("TakeOrderedAndProject", ""), plan
    assert "Join" not in plan and "Python" not in plan, plan


def test_pq_encode_layout_invariant(spark, tables):
    """Codes are a pure function of the vector and codebooks — never of
    partitioning."""
    emb = tables["embeddings"]
    books = S.pq_train(emb, m=4, k_codes=8, iters=1)
    a = {r["vec_id"]: tuple(r["pq_codes"])
         for r in S.pq_encode(emb, books).collect()}
    b = {r["vec_id"]: tuple(r["pq_codes"])
         for r in S.pq_encode(emb.repartition(7), books).collect()}
    assert a == b


def test_pq_train_validates_divisibility(spark, tables):
    import pytest
    with pytest.raises(ValueError, match="divisible"):
        S.pq_train(tables["embeddings"], m=5)


def test_random_project_preserves_dots_and_feeds_ann(spark, tables):
    """JL property on sampled pairs (absolute dot error bounded at
    out_dim=32), plus composition: the projected vectors drive
    topk_cosine unchanged via vec_col."""
    import numpy as np
    from pyspark.sql import functions as F
    emb = tables["embeddings"]
    rows = emb.where(F.col("vec_id") < 40).orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pr = S.random_project(emb.where(F.col("vec_id") < 40), out_dim=32)
    prows = pr.orderBy("vec_id").collect()
    P = np.array([r["proj"] for r in prows], dtype=np.float64)
    rs = np.random.RandomState(0)
    errs = []
    for _ in range(60):
        i, j = rs.randint(0, 40, 2)
        errs.append(abs(V[i] @ V[j] - P[i] @ P[j]))
    scale = float(np.mean(np.linalg.norm(V, axis=1) ** 2))
    assert np.mean(errs) <= 0.35 * scale, (np.mean(errs), scale)
    # composition: projected relation is a drop-in vec_col
    full = S.random_project(emb, out_dim=32)
    qv = [float(x) for x in
          full.where(F.col("vec_id") == 0).first()["proj"]]
    top = S.topk_cosine(full, qv, 10, vec_col="proj")
    assert top.count() == 10


def test_random_project_deterministic_and_shuffle_free(spark, tables):
    emb = tables["embeddings"]
    a = {r["vec_id"]: tuple(r["proj"])
         for r in S.random_project(emb, 16).collect()}
    b = {r["vec_id"]: tuple(r["proj"])
         for r in S.random_project(emb.repartition(9), 16).collect()}
    assert a == b
    plan = (S.random_project(emb, 16)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_multiprobe_lsh_recall_ladder(spark, tables, query_vec):
    """Multi-probe recovers recall the single-bucket probe gives away,
    monotonically in the Hamming radius; h = n_planes degenerates to
    the exact search (every bucket probed)."""
    emb = tables["embeddings"]
    exact = S.topk_cosine(emb, query_vec, 10)
    rec = {}
    for h in (0, 1, 2, 8):
        got = S.topk_cosine_lsh(emb, query_vec, 10, probe_hamming=h)
        rec[h] = S.ranking_metrics(got, exact, 10).first()["recall_at_k"]
    assert rec[0] <= rec[1] <= rec[2] <= rec[8], rec
    assert rec[8] == 1.0
    assert rec[2] > rec[0], rec  # the neighborhood actually buys recall


def test_multiprobe_lsh_validates(spark, tables, query_vec):
    import pytest
    with pytest.raises(ValueError, match="probe_hamming"):
        S.topk_cosine_lsh(tables["embeddings"], query_vec, 10,
                          probe_hamming=99)


def test_lsh_index_roundtrip_and_partition_pruning(spark, tables,
                                                   tmp_path, query_vec):
    """Materialized LSH index: save/load round-trip answers exactly the
    in-memory probe (single-bucket AND Hamming-2 multi-probe), and the
    probe filter lands on the bucket PARTITION column — directory
    pruning, not a data filter."""
    import os
    emb = tables["embeddings"]
    idx = S.lsh_build_index(emb, n_planes=8, seed=42)
    path = str(tmp_path / "lshidx")
    idx.save(path)
    assert any(d.startswith("bucket=")
               for d in os.listdir(os.path.join(path, "buckets")))
    loaded = S.lsh_load_index(spark, path)
    for h in (0, 2):
        mem = S.topk_cosine_lsh(emb, query_vec, 10, probe_hamming=h)
        ind = S.topk_cosine_lsh_indexed(loaded, query_vec, 10,
                                        probe_hamming=h)
        assert (sorted(tuple(r) for r in mem.collect())
                == sorted(tuple(r) for r in ind.collect())), h
    plan = (S.topk_cosine_lsh_indexed(loaded, query_vec, 10,
                                      probe_hamming=2)
            ._jdf.queryExecution().executedPlan().toString())
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "bucket" in pf and "IN" in pf.upper()


def test_ivfpq_hybrid_prunes_and_recovers_recall(spark, tables,
                                                 query_vec):
    """The prune x compress hybrid: candidates come only from probed
    cells (strictly fewer code rows than the corpus), and the refined
    top-10 recall on this corpus matches the IVF-alone path at the
    same nprobe (the PQ shortlist inside probed cells is wide enough
    to keep every IVF candidate that matters)."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    ivf, pq = S.ivfpq_build_index(emb, n_cells=8, m=8, k_codes=16)
    from pyspark.sql import functions as F
    n = emb.count()
    probe = S._probe_cells(ivf.centroids, query_vec, 2)
    probed_rows = pq.codes.where(F.col("cell").isin(probe)).count()
    assert 0 < probed_rows < n
    got = S.topk_cosine_ivfpq(ivf, pq, query_vec, emb, 10, nprobe=2,
                              shortlist=probed_rows)  # full probed set
    ivf_only = S.topk_cosine_ivf(emb, query_vec, 10,
                                 centroids=ivf.centroids, nprobe=2)
    assert (sorted(tuple(r) for r in got.collect())
            == sorted(tuple(r) for r in ivf_only.collect()))
    # and at a realistic shortlist the result is still k rows of
    # exact-cosine scores
    small = S.topk_cosine_ivfpq(ivf, pq, query_vec, emb, 10, nprobe=2,
                                shortlist=50)
    rows = small.collect()
    assert len(rows) == 10 and rows[0]["vec_id"] == 0


def test_derive_probe_hamming_flip_model():
    """The derived radius matches the Binomial flip model: h=3 for the
    8-plane default at the moderate-similarity prior (sim 0.5), h=2 at
    an optimistic sim 0.7, 0 when a single bucket already meets the
    target, n_planes when nothing smaller can."""
    assert S.derive_probe_hamming(8) == 3
    assert S.derive_probe_hamming(8, sim=0.7) == 2
    assert S.derive_probe_hamming(8, sim=1.0) == 0      # q = 0
    assert S.derive_probe_hamming(4, sim=0.0,
                                  target_recall=0.999) == 4
    # monotone: lower similarity (more flips) never shrinks the radius
    radii = [S.derive_probe_hamming(8, sim=s)
             for s in (0.95, 0.8, 0.7, 0.5)]
    assert radii == sorted(radii)


def test_lsh_default_is_derived_multiprobe(tables, query_vec):
    """Out-of-the-box topk_cosine_lsh equals the explicit derived-h
    call — the default is the good configuration, not the recall-0.1
    single probe."""
    emb = tables["embeddings"]
    h = S.derive_probe_hamming(8)
    assert h >= 1
    got = {r["vec_id"] for r in
           S.topk_cosine_lsh(emb, query_vec, 10).collect()}
    want = {r["vec_id"] for r in
            S.topk_cosine_lsh(emb, query_vec, 10,
                              probe_hamming=h).collect()}
    assert got == want


def test_ivf_residuals_exact_subtraction(spark, tables):
    """ivf_residuals computes v - centroid[cell] exactly (checked
    against numpy per row) and stays a pure projection: no Exchange,
    no Python in the plan."""
    import numpy as np
    emb = tables["embeddings"].select("vec_id", "embedding")
    cents = S.ivf_train(emb, k=4, iters=1)
    assigned = S.ivf_assign(emb, cents)
    res = S.ivf_residuals(assigned, cents)
    want_c = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    raw = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.collect()}
    for r in res.collect():
        w = raw[r["vec_id"]] - np.asarray(cents[want_c[r["vec_id"]]])
        np.testing.assert_allclose(
            np.asarray(r["embedding"], dtype=np.float64), w, atol=1e-9)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_residual_ivfpq_full_probe_equals_ivf(spark, tables, query_vec):
    """Residual scoring is consistent: with the FULL probed set as the
    shortlist, the residual hybrid's refined top-10 equals the
    IVF-alone path — the ADC offsets reorder only the shortlist
    membership, never the exact refine."""
    from pyspark.sql import functions as F
    emb = tables["embeddings"].select("vec_id", "embedding")
    ivf, pq = S.ivfpq_build_index(emb, n_cells=8, m=8, k_codes=16,
                                  residual=True)
    assert pq.residual
    probe = S._probe_cells(ivf.centroids, query_vec, 2)
    probed_rows = pq.codes.where(F.col("cell").isin(probe)).count()
    got = S.topk_cosine_ivfpq(ivf, pq, query_vec, emb, 10, nprobe=2,
                              shortlist=probed_rows)
    ivf_only = S.topk_cosine_ivf(emb, query_vec, 10,
                                 centroids=ivf.centroids, nprobe=2)
    assert (sorted(tuple(r) for r in got.collect())
            == sorted(tuple(r) for r in ivf_only.collect()))


def test_residual_adc_approximates_true_dot(spark, tables, query_vec):
    """Residual ADC = q·centroid[cell] + LUT sums must track the true
    inner product at least as well as raw-code ADC on probed cells
    (aggregate absolute error, m=16)."""
    import numpy as np
    from pyspark.sql import functions as F
    emb = tables["embeddings"].select("vec_id", "embedding")
    raw = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.collect()}
    q = np.asarray(query_vec, dtype=np.float64)
    errs = {}
    for residual in (False, True):
        ivf, pq = S.ivfpq_build_index(emb, n_cells=8, m=16, k_codes=16,
                                      iters=2, residual=residual)
        offs = ([float(np.dot(q, np.asarray(c)))
                 for c in ivf.centroids] if residual else None)
        adc = S.pq_topk(pq.codes, pq.codebooks, query_vec,
                        k=len(raw), cell_offsets=offs)
        errs[residual] = sum(
            abs(r["adc_sim"] - float(np.dot(q, raw[r["vec_id"]])))
            for r in adc.collect())
    assert errs[True] <= errs[False] * 1.05, errs


def test_ivfpq_saved_index_roundtrip_and_pruning(spark, tables, tmp_path,
                                                 query_vec):
    """The saved hybrid (the ``ann --method ivfpq --index`` layout):
    save/load reproduces the in-memory search exactly, the residual
    flag survives the roundtrip, and the ADC probe over the saved
    layout shows PartitionFilters on cell (pruned file scan)."""
    from pyspark.sql import functions as F

    emb = tables["embeddings"].select("vec_id", "embedding")
    half = emb.where(F.col("vec_id") % 2 == 0)
    ivf, pq = S.ivfpq_build_index(half, n_cells=8, m=8, k_codes=16,
                                  residual=True)
    p = str(tmp_path / "hybrid")
    S.ivfpq_save_index(ivf, pq, p)

    # roundtrip: loaded search == in-memory search
    mem = S.topk_cosine_ivfpq(ivf, pq, query_vec, half, 10, nprobe=2,
                              shortlist=60)
    disk = S.topk_cosine_ivfpq_indexed(spark, p, query_vec, half, 10,
                                       nprobe=2, shortlist=60)
    assert (sorted(tuple(r) for r in mem.collect())
            == sorted(tuple(r) for r in disk.collect()))

    # plan pin: the probed ADC scan reads only the probed cells' files
    ivf2, pq2 = S.ivfpq_load_index(spark, p)
    assert pq2.residual is True
    probe = S._probe_cells(ivf2.centroids, query_vec, 2)
    scan = pq2.codes.where(F.col("cell").isin(probe))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan


def test_pq_reconstruction_error_matches_numpy(spark, tables):
    """The codegen decode reproduces numpy's quantization error exactly,
    stored codes and re-encode paths agree, and a FINER quantizer never
    reconstructs worse (more codes -> error can only shrink on the
    argmax assignment)."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = tables["embeddings"].select("vec_id", "embedding")
    books = S.pq_train(emb, m=4, k_codes=8, iters=0)
    got = S.pq_reconstruction_error(emb, books).first()
    # numpy replay
    raw = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.collect()}
    ds = 16
    errs = []
    for v in raw.values():
        e = 0.0
        for j, book in enumerate(books):
            sub = v[j * ds:(j + 1) * ds]
            bk = np.asarray(book)
            code = int((bk @ sub).argmax())
            e += float(((sub - bk[code]) ** 2).sum())
        errs.append(e)
    assert abs(got["mean_sq_err"] - np.mean(errs)) < 1e-4
    assert got["n"] == len(raw)
    # stored-codes path agrees
    enc = S.pq_encode(emb, books, drop_vec=False)
    got2 = S.pq_reconstruction_error(enc, books,
                                     codes_col="pq_codes").first()
    assert got2["mean_sq_err"] == got["mean_sq_err"]
    # finer quantizer reconstructs at least as well
    finer = S.pq_train(emb, m=4, k_codes=16, iters=1)
    g3 = S.pq_reconstruction_error(emb, finer).first()
    assert g3["mean_sq_err"] <= got["mean_sq_err"] * 1.0 + 1e-9


# -- r11 optimization pins ---------------------------------------------------

def test_pq_train_fused_matches_per_subspace(tables):
    """The fused (one-job-per-Lloyd-iteration) pq_train must be
    bit-identical to the reference per-subspace ivf_train loop it
    replaced (same init rows, same assignment, same elementwise avg)."""
    from pyspark.sql import functions as F
    emb = tables["embeddings"]
    for m, k, iters in ((4, 8, 2), (8, 16, 1), (2, 4, 1)):
        fused = S.pq_train(emb, m=m, k_codes=k, iters=iters)
        d = len(emb.select("embedding").first()[0])
        ds = d // m
        ref = []
        for j in range(m):
            sliced = emb.select(
                *[F.col(c) for c in emb.columns if c != "embedding"],
                F.slice(F.col("embedding"), j * ds + 1, ds)
                .alias("embedding"))
            ref.append(S.ivf_train(sliced, k=k, iters=iters))
        assert fused == ref


def test_topk_cosine_lsh_many_equals_sequential(tables):
    emb = tables["embeddings"]
    planes = S.hyperplanes(64, 8, seed=42)
    rows = (emb.select("vec_id", "embedding")
            .orderBy("vec_id").limit(4).collect())
    qvs = [[float(x) for x in r["embedding"]] for r in rows]
    many = S.topk_cosine_lsh_many(emb, qvs, 5, planes=planes).collect()
    got = {}
    for r in many:
        got.setdefault(r["q_idx"], []).append((r["vec_id"], r["cos_sim"]))
    for i, qv in enumerate(qvs):
        seq = [(r["vec_id"], r["cos_sim"])
               for r in S.topk_cosine_lsh(emb, qv, 5,
                                          planes=planes).collect()]
        assert sorted(got.get(i, [])) == sorted(seq)


def test_topk_cosine_ivfpq_many_equals_sequential(tables):
    emb = tables["embeddings"].select("vec_id", "embedding")
    ivf, pq = S.ivfpq_build_index(emb, n_cells=4, m=8, k_codes=8,
                                  iters=1, residual=True)
    rows = emb.orderBy("vec_id").limit(4).collect()
    qvs = [[float(x) for x in r["embedding"]] for r in rows]
    many = S.topk_cosine_ivfpq_many(ivf, pq, qvs, emb, 5, nprobe=2,
                                    shortlist=30).collect()
    got = {}
    for r in many:
        got.setdefault(r["q_idx"], []).append((r["vec_id"], r["cos_sim"]))
    for i, qv in enumerate(qvs):
        seq = [(r["vec_id"], r["cos_sim"])
               for r in S.topk_cosine_ivfpq(ivf, pq, qv, emb, 5, nprobe=2,
                                            shortlist=30).collect()]
        assert sorted(got.get(i, [])) == sorted(seq)


def test_ranking_metrics_single_action_per_input(tables, query_vec):
    """ranking_metrics now runs ONE action per input; values must match
    the definition computed independently in numpy."""
    import math
    emb = tables["embeddings"]
    exact = S.topk_cosine(emb, query_vec, 10)
    lsh = S.topk_cosine_lsh(emb, query_vec, 10,
                            planes=S.hyperplanes(64, 8, seed=42))
    r = S.ranking_metrics(lsh, exact, 10).first()
    e_ids = [x["vec_id"] for x in exact.collect()]
    a_ids = [x["vec_id"] for x in lsh.collect()]
    hits = [rk for rk, i in enumerate(a_ids, 1) if i in set(e_ids)]
    dcg = sum(1.0 / math.log2(rk + 1) for rk in hits)
    ideal = sum(1.0 / math.log2(i + 2) for i in range(min(10, len(e_ids))))
    assert r["n_hits"] == len(hits)
    assert abs(r["recall_at_k"] - len(hits) / len(e_ids)) < 1e-9
    assert abs(r["ndcg_at_k"] - dcg / ideal) < 1e-6
