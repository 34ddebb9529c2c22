"""Embedding similarity search: brute-force cosine top-k and LSH-bucketed
approximate nearest neighbors over an ``embeddings(vec_id, embedding
array<float>, label)`` table.

Scale design:

* brute force — one projection computing the dot product JVM-side
  (``zip_with`` + ``aggregate`` fold, no UDF) followed by a global top-k.
  Spark's ``orderBy().limit(k)`` executes as per-partition top-k + a
  k-row merge on one reducer — O(rows) work, O(k) shuffle, the right plan
  at any scale.
* LSH — sign of the dot with ``n_planes`` fixed random hyperplanes forms a
  bucket id; the query only scans its own bucket.  Planes are derived from
  a seed (numpy RandomState) so results are reproducible and the oracle
  can re-derive them as literals.
* near-dup pairs — bucket-join (shuffle on bucket id) then exact cosine
  within buckets only: no all-pairs blowup.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..localrel import local_df


def _lit_vec(vec: list[float]) -> Column:
    """Literal ``array<double>`` built with ONE py4j call.

    ``F.array(*[F.lit(x) ...])`` costs a JVM round-trip per element —
    ~1 ms each, so a 16-centroid × 64-dim assignment expression spent
    ~15 s per action just CONSTRUCTING its plan on the driver (measured;
    the Lloyd collects themselves were ~1 s).  Rendering the vector as
    one SQL ``array(...)`` string parses to the identical CreateArray-
    of-Literals node: ``repr`` emits Python's shortest round-trip
    decimal and the SQL parser's ``Double.parseDouble`` is correctly
    rounded, so every finite double is reproduced bit-exactly.
    Non-finite values fall back to the per-element form (SQL has no
    inf/nan double literal)."""
    import math
    vals = [float(x) for x in vec]
    if vals and all(math.isfinite(x) for x in vals):
        return F.expr("array(" + ",".join(repr(x) + "D" for x in vals) + ")")
    return F.array(*[F.lit(x) for x in vals])


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _vec_sql(vec: list[float]) -> str:
    """SQL source of a finite literal ``array<double>`` (see
    :func:`_lit_vec` for why strings: one py4j call per EXPRESSION
    instead of one per element/lambda)."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in vec) + ")"


def _dot_sql(col_sql: str, vec: list[float]) -> str:
    """SQL source of ``dot(<col_sql>, _lit_vec(vec))`` — parses to the
    same zip_with/aggregate expression :func:`dot` builds (same 0.0
    seed, same casts, same fold order ⇒ same doubles), but the Python
    side pays ONE ``F.expr`` call where the Column-API form pays ~10
    py4j round-trips per lambda.  Measured on the 16-centroid × 8-way
    ivf/pq assignment builders: expression CONSTRUCTION was ~13 s of a
    ~17 s training action — the cluster was idle while the driver
    chatted with the JVM."""
    return ("aggregate(zip_with(" + col_sql + ", " + _vec_sql(vec)
            + ", (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            "(acc, x) -> acc + x)")


def _all_finite(vecs: list[list[float]]) -> bool:
    import math
    return all(math.isfinite(float(x)) for v in vecs for x in v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(1e-12))


def topk_cosine(df: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                ) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``; deterministic
    tie-break on id.  The baseline every ANN variant is measured against."""
    q = _lit_vec(query_vec)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"))
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def knn_votes(df: DataFrame, query_vec: list[float], k: int = 15,
              label_col: str = "label", id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """k-NN classification votes: per-label counts among the ``k``
    nearest neighbours by cosine (the classic downstream consumer of
    similarity search), ordered votes-desc then label-asc — row 1 IS
    the k-NN prediction, and the full vote vector doubles as a class
    posterior.  The neighbour set is the exact ``topk_cosine`` relation
    (swap in the IVF/LSH variants for the ANN path); vote counting is a
    k-row aggregation, so the classify step adds nothing data-sized."""
    top = topk_cosine(df, query_vec, k, id_col, vec_col)
    labels = df.select(F.col(id_col), F.col(label_col))
    return (top.join(labels, id_col)
            .groupBy(label_col)
            .agg(F.count(F.lit(1)).alias("votes"))
            .orderBy(F.col("votes").desc(), F.col(label_col)))


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit-free; only the sign matters)."""
    rs = np.random.RandomState(seed)
    return [[float(v) for v in rs.randn(dim)] for _ in range(n_planes)]


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bucket id = bits of sign(v·p) over the planes (sign>0 → 1)."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot(vec_col, _lit_vec(p)) > 0, F.lit(1)) \
            .otherwise(F.lit(0)).cast("long")
        out = out + F.shiftleft(bit, i)
    return out


def with_lsh_bucket(df: DataFrame, planes: list[list[float]],
                    vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))


def derive_probe_hamming(n_planes: int, sim: float = 0.5,
                         target_recall: float = 0.65) -> int:
    """Smallest Hamming probe radius whose EXPECTED multi-probe recall
    for a neighbor at cosine ``sim`` reaches ``target_recall`` under
    the sign-LSH flip model: each hyperplane flips independently with
    probability ``q = arccos(sim)/pi`` (Goemans–Williamson), so the
    neighbor's signature lies within Hamming ``h`` of the query's with
    the Binomial(n_planes, q) CDF at ``h``.

    The ``sim`` prior deliberately assumes MODERATE neighbor
    similarity (0.5): on weakly-clustered corpora (the bench's random
    embeddings, whose true top-10 sit near cosine 0.3) an optimistic
    prior under-probes badly.  For the 8-plane default this yields h=3
    (expected recall 0.74; candidate fraction 93/256) — measured on
    the bench corpus: recall@10 mean-of-10 0.33 at h=2 vs 0.59 at h=3,
    0.84 at h=4.  Callers who KNOW their neighbors are tight (true
    near-dups at cosine 0.9+) should pass that ``sim`` and probe far
    less."""
    import math
    q = math.acos(min(max(sim, -1.0), 1.0)) / math.pi
    for h in range(n_planes + 1):
        cdf = sum(math.comb(n_planes, i) * q ** i
                  * (1.0 - q) ** (n_planes - i) for i in range(h + 1))
        if cdf >= target_recall:
            return h
    return n_planes


def topk_cosine_lsh(df: DataFrame, query_vec: list[float], k: int = 10,
                    planes: list[list[float]] | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    probe_hamming: int | None = None) -> DataFrame:
    """ANN top-k: score the query's LSH bucket plus every bucket whose
    signature differs in at most ``probe_hamming`` bits (MULTI-PROBE
    LSH, Lv et al. VLDB'07: a near-neighbor that lands across one
    hyperplane is in a Hamming-adjacent bucket, so probing the
    neighborhood recovers most of the recall a single-table probe
    gives away — measured on the synthetic corpus: recall@10 0.1 at
    h=0, ~0.6 at h=2 while still scanning only
    sum(C(n_planes, <=h))/2^n_planes of the data).

    ``probe_hamming=None`` (the default) DERIVES the radius from the
    flip model (:func:`derive_probe_hamming` — h=3 for 8 planes under
    the moderate-similarity prior), so the out-of-the-box configuration
    is the good one; pass an explicit 0 for the raw single-bucket probe
    (cheapest, low recall — the x79 contract pins it), or reach for
    :func:`topk_cosine_ivfpq` when you need recall ~0.9 at scan cost
    this family can't buy.

    The probe set is a driver-computed id list shipped into an IN
    filter — still a pushed-down predicate, and with a bucket-
    partitioned layout (the IvfIndex pattern) partition pruning.
    Candidate fraction at h: 37/256 for 8 planes, h=2."""
    dim = len(query_vec)
    planes = planes or hyperplanes(dim)
    if probe_hamming is None:
        probe_hamming = derive_probe_hamming(len(planes))
    if not 0 <= probe_hamming <= len(planes):
        raise ValueError("probe_hamming must be in [0, n_planes]")
    bucketed = with_lsh_bucket(df, planes, vec_col)
    qb = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            qb |= 1 << i
    from itertools import combinations
    probes = {qb}
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(len(planes)), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.add(qb ^ flip)
    cands = bucketed.where(F.col("bucket").isin(sorted(probes)))
    return topk_cosine(cands.drop("bucket"), query_vec, k, id_col, vec_col)


def _lsh_probe_buckets(planes: list[list[float]], query_vec: list[float],
                       probe_hamming: int) -> list[int]:
    """The sorted multi-probe bucket set for one query (query bucket +
    every bucket within Hamming ``probe_hamming``)."""
    from itertools import combinations
    qb = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            qb |= 1 << i
    probes = {qb}
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(len(planes)), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.add(qb ^ flip)
    return sorted(probes)


def topk_cosine_lsh_many(df: DataFrame, query_vecs: list[list[float]],
                         k: int = 10,
                         planes: list[list[float]] | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         probe_hamming: int | None = None) -> DataFrame:
    """Multi-query :func:`topk_cosine_lsh`: ONE corpus pass answers
    every query.  Returns ``(q_idx, id, cos_sim)`` where the rows with
    ``q_idx = i`` are exactly ``topk_cosine_lsh(df, query_vecs[i], …)``
    (same probe sets, same 6-dp rounding, same (sim desc, id)
    tie-break — equality is test-pinned).

    Per-query sequential probes each re-scan (and re-compile a
    literal-heavy plan over) the corpus; batching amortizes both: one
    projection evaluates every query's bucket-membership + cosine, an
    explode keeps only in-probe (q, sim) pairs, and one window takes
    each query's top-k.  The window partitions by query — #queries
    groups of candidate-fraction size, the same per-query work the
    sequential loop did."""
    from pyspark.sql import Window

    if not query_vecs:
        raise ValueError("query_vecs must be non-empty")
    dim = len(query_vecs[0])
    planes = planes or hyperplanes(dim)
    if probe_hamming is None:
        probe_hamming = derive_probe_hamming(len(planes))
    if not 0 <= probe_hamming <= len(planes):
        raise ValueError("probe_hamming must be in [0, n_planes]")
    bucketed = with_lsh_bucket(df, planes, vec_col)
    branches = []
    for i, qv in enumerate(query_vecs):
        probes = _lsh_probe_buckets(planes, qv, probe_hamming)
        sim = F.round(cosine(F.col(vec_col), _lit_vec(qv)), 6)
        branches.append(
            F.when(F.col("bucket").isin(probes),
                   F.struct(F.lit(i).alias("q_idx"), sim.alias("cos_sim")))
        )
    exploded = (bucketed
                .select(F.col(id_col),
                        F.explode(F.filter(
                            F.array(*branches),
                            lambda s: s.isNotNull())).alias("__q__"))
                .select(F.col("__q__.q_idx").alias("q_idx"),
                        F.col(id_col), F.col("__q__.cos_sim").alias("cos_sim")))
    w = Window.partitionBy("q_idx").orderBy(
        F.col("cos_sim").desc(), F.col(id_col))
    return (exploded.withColumn("__rk__", F.row_number().over(w))
            .where(F.col("__rk__") <= k).drop("__rk__"))


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding", out_col: str = "cell",
               ) -> DataFrame:
    """Assign each vector to its nearest centroid by inner product
    (ties -> lowest cell id).  The IVF coarse-quantization step.

    Scale design: centroids are a small (k, d) matrix that ships to every
    task as literals (broadcast-by-construction).  For k <= 64 the argmax
    is a pure JVM projection (``array`` of dots + ``array_position`` of the
    max -> first occurrence = deterministic lowest-index tie-break) that
    stays inside whole-stage codegen.  For larger k an Arrow-batched
    ``mapInPandas`` does one numpy matmul per batch — O(batch*k*d) BLAS,
    no shuffle either way.
    """
    k = len(centroids)
    if k <= 64:
        if _all_finite(centroids):
            # one F.expr call for the whole k-way score array (the
            # Column-API build of k lambda-dots dominated Lloyd-step
            # wall time — see _dot_sql); identical parsed expression
            sims = F.expr("array(" + ",".join(
                _dot_sql(f"`{vec_col}`", c) for c in centroids) + ")")
        else:
            sims = F.array(*[dot(F.col(vec_col), _lit_vec(c))
                             for c in centroids])
        cell = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
        return df.withColumn(out_col, cell)

    import pandas as pd  # noqa: PLC0415

    cmat = np.asarray(centroids, dtype=np.float64).T  # (d, k)
    fields = df.schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + [f"`{out_col}` int"])

    def assign(batches):
        for pdf in batches:
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cells = (vecs @ cmat).argmax(axis=1).astype("int32")
            yield pdf.assign(**{out_col: pd.Series(cells, index=pdf.index)})

    return df.mapInPandas(assign, schema=out_schema)


def ivf_train(df: DataFrame, k: int = 16, iters: int = 2,
              vec_col: str = "embedding",
              init_centroids: list[list[float]] | None = None,
              ) -> list[list[float]]:
    """Deterministic k-means coarse quantizer: init = first ``k`` vectors
    by id order (standard sampled-init for IVF), then ``iters`` Lloyd
    steps.

    Each step is assign (no shuffle) + per-cell elementwise mean via
    ``posexplode`` -> ``groupBy(cell, pos)``, which Catalyst executes with
    map-side partial aggregation — shuffle volume is O(parts * k * d), not
    O(rows * d).  The k·d mean rows come straight back to the driver and
    are assembled into centroids there: a second ``groupBy(cell)`` that
    merely re-packed them into arrays cost one more Exchange per step
    for zero information (r11; the means themselves are computed by the
    identical aggregate, so values are unchanged).  Empty cells keep
    their previous centroid.

    ``init_centroids`` injects the init (e.g. sliced from ONE collect of
    the first ``k`` full vectors, as :func:`pq_train` does for its ``m``
    subspaces) — it must equal what the default init would produce, so
    results are unchanged; it only skips the per-call sort+collect job.
    """
    if init_centroids is not None:
        centroids = [[float(x) for x in c] for c in init_centroids]
    else:
        id_cols = [c for c in df.columns if c != vec_col]
        first = (df.orderBy(*id_cols).limit(k)
                 .select(vec_col).collect())
        centroids = [[float(x) for x in r[0]] for r in first]
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col=vec_col)
        rows = (
            assigned.select("cell", F.posexplode(F.col(vec_col))
                            .alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect())
        nxt = [list(c) for c in centroids]
        for r in rows:
            nxt[r["cell"]][r["pos"]] = float(r["m"])
        centroids = nxt
    return centroids


def _probe_cells(centroids: list[list[float]], query_vec: list[float],
                 nprobe: int) -> list[int]:
    """The ``nprobe`` cells whose centroids score highest against the
    query (ties → lowest cell id) — shared by the in-memory and
    materialized-index probe paths so they cannot diverge."""
    q = np.asarray(query_vec, dtype=np.float64)
    sims = [(float(q @ np.asarray(c, dtype=np.float64)), i)
            for i, c in enumerate(centroids)]
    return [i for _, i in sorted(sims, key=lambda t: (-t[0], t[1]))[:nprobe]]


def topk_cosine_ivf(df: DataFrame, query_vec: list[float], k: int = 10,
                    centroids: list[list[float]] | None = None,
                    nprobe: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """ANN top-k, IVF-Flat: probe the ``nprobe`` cells whose centroids
    score highest against the query, exact cosine inside them only.

    At scale the assigned table is written partitioned by ``cell`` so the
    probe filter becomes partition pruning — the scan touches nprobe/k of
    the data; here the filter is an ordinary pushed-down predicate.
    """
    if centroids is None:
        centroids = ivf_train(df, vec_col=vec_col)
    probe = _probe_cells(centroids, query_vec, nprobe)
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    cands = assigned.where(F.col("cell").isin(probe)).drop("cell")
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


from dataclasses import dataclass  # noqa: E402


@dataclass
class IvfIndex:
    """Materialized IVF-Flat index: the assigned vectors written
    PARTITIONED BY cell (a probe's `cell IN (...)` filter becomes
    partition pruning — the scan touches nprobe/k of the files, the
    property the in-memory path can only approximate with a pushed
    predicate), plus the trained centroids."""

    assigned: "DataFrame"
    centroids: list[list[float]]
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def save(self, path: str) -> None:
        """Write cells as parquet partitions + centroids through a Spark
        JSON writer, so both land on the same filesystem."""
        import os
        (self.assigned.write.partitionBy("cell")
         .mode("overwrite").parquet(os.path.join(path, "cells")))
        spark = self.assigned.sparkSession
        meta = local_df(spark,
            [(i, [float(x) for x in c], self.id_col, self.vec_col)
             for i, c in enumerate(self.centroids)], _IVF_META_SCHEMA)
        meta.coalesce(1).write.mode("overwrite") \
            .json(os.path.join(path, "centroids"))


_IVF_META_SCHEMA = ("cell int, centroid array<double>, id_col string, "
                    "vec_col string")


def derive_ivf_params(n_rows: int) -> tuple[int, int]:
    """Pick ``(k_cells, nprobe)`` from the corpus size: k ≈ √N cells
    (the standard IVF-Flat sizing — cell size ~√N balances the coarse
    quantizer's k·d per query against the in-cell scan N/k·d; note the
    FAISS guidelines publish the larger k ∈ [4√N, 16√N] for re-ranked
    ANN indexes — √N sits BELOW that range deliberately, giving bigger
    cells whose contents are scanned exactly here, not re-ranked) and
    nprobe ≈ √k.  The probed fraction nprobe/k ≈ N^-1/4 therefore
    SHRINKS as the corpus grows — at 1e12 vectors a probe touches ~0.1%
    of the data, which with the partition-per-cell layout of
    :class:`IvfIndex` is ~0.1% of the files read.  k > 64 automatically
    takes ``ivf_assign``'s Arrow matmul path."""
    import math
    k = max(4, math.ceil(math.sqrt(max(n_rows, 1))))
    nprobe = max(1, round(math.sqrt(k)))
    return k, nprobe


def ivf_build_index(df: DataFrame, k: int | None = 16, iters: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> IvfIndex:
    """``k=None`` derives the cell count from the corpus size
    (:func:`derive_ivf_params`); an explicit ``k`` pins it (the contract
    fixtures do, so their oracles stay deterministic)."""
    if k is None:
        k, _ = derive_ivf_params(df.count())
    cents = ivf_train(df, k=k, iters=iters, vec_col=vec_col)
    return IvfIndex(ivf_assign(df, cents, vec_col=vec_col), cents,
                    id_col, vec_col)


def ivf_append_saved(spark, path: str, new_df: DataFrame) -> int:
    """Append the delta's rows, assigned by the saved frozen centroids,
    into the saved partition-per-cell layout (``mode=append`` writes only
    new files under the touched cell partitions — existing files are
    untouched, so a 0.1% delta costs 0.1% of the index write).
    Returns the number of appended rows."""
    import os
    idx = ivf_load_index(spark, path)
    cols = [idx.id_col, idx.vec_col]
    na = ivf_assign(new_df.select(*cols), idx.centroids,
                    vec_col=idx.vec_col)
    n = na.count()
    (na.write.partitionBy("cell").mode("append")
     .parquet(os.path.join(path, "cells")))
    return n


def ivf_load_index(spark, path: str) -> IvfIndex:
    import os
    rows = (spark.read.schema(_IVF_META_SCHEMA)
            .json(os.path.join(path, "centroids"))
            .orderBy("cell").collect())
    cents = [[float(x) for x in r["centroid"]] for r in rows]
    return IvfIndex(spark.read.parquet(os.path.join(path, "cells")),
                    cents, rows[0]["id_col"], rows[0]["vec_col"])


def topk_cosine_ivf_indexed(index: IvfIndex, query_vec: list[float],
                            k: int = 10, nprobe: int = 2) -> DataFrame:
    """Top-k over the materialized index: identical probe-selection and
    scoring arithmetic as :func:`topk_cosine_ivf`, but the cell filter
    lands on the partition column of the saved layout, so the scan reads
    only the probed cells' files (partition pruning, pinned in tests)."""
    probe = _probe_cells(index.centroids, query_vec, nprobe)
    cands = index.assigned.where(F.col("cell").isin(probe)).drop("cell")
    return topk_cosine(cands, query_vec, k, index.id_col, index.vec_col)


def near_dup_pairs(df: DataFrame, threshold: float = 0.9,
                   planes: list[list[float]] | None = None, dim: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_bands: int = 4, rows_per_band: int = 8) -> DataFrame:
    """Embedding near-duplicates: banded sign-LSH candidate join, exact
    cosine verification, pairs (a < b) above threshold.

    Banded like `dedup.lsh_candidate_pairs`: each vector lands in one
    bucket per band (bucket id = sign bits of that band's
    ``rows_per_band`` hyperplanes), candidates are pairs sharing ANY
    band's bucket.  Scale shape:

    * the per-band buckets come from ONE projection + explode — the
      shuffle key is (band, bucket) and within-bucket join work is
      B * (N/2^r)^2, tunable via ``rows_per_band`` (a single
      fixed-width table is (N/2^r)^2 with r frozen — quadratic
      blowup once buckets outgrow the corpus);
    * candidate ids (not vectors) travel through the self-join; the
      vectors are fetched by two hash joins only for the surviving
      distinct pairs, so shuffle volume is O(pairs), not O(pairs * d).
    """
    n_planes = n_bands * rows_per_band
    planes = planes or hyperplanes(dim, n_planes)
    if len(planes) != n_planes:
        raise ValueError(
            f"need {n_planes} planes ({n_bands} bands x {rows_per_band}), "
            f"got {len(planes)}")
    band_structs = []
    for b in range(n_bands):
        sub = planes[b * rows_per_band:(b + 1) * rows_per_band]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            lsh_bucket(F.col(vec_col), sub).alias("bucket")))
    exploded = (df.select(F.col(id_col).alias("__id__"),
                          F.explode(F.array(*band_structs)).alias("__b__"))
                .select("__id__",
                        F.col("__b__.band").alias("__band__"),
                        F.col("__b__.bucket").alias("__bk__")))
    a = exploded.select("__band__", "__bk__", F.col("__id__").alias("id_a"))
    c = exploded.select("__band__", "__bk__", F.col("__id__").alias("id_b"))
    cands = (a.join(c, ["__band__", "__bk__"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a").join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def semdedup_flags(df: DataFrame, centroids: list[list[float]],
                   threshold: float = 0.35, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — published
    protocol): semantic deduplication with the pairwise comparison
    CONFINED to k-means cells.  A row is dropped when some lower-id
    member of its own cell has cosine similarity >= ``threshold`` —
    the paper's keep-one-per-near-dup-group rule made deterministic by
    always keeping the lowest id (one pass, no iteration to a
    transitive closure).

    Returns ``df`` plus ``cell int`` and ``kept boolean``.

    Scale shape (the reason SemDeDup beats all-pairs at 100 TB):

    * assignment is :func:`ivf_assign` — a broadcast-by-construction
      codegen projection (numpy matmul via ``mapInPandas`` above 64
      cells), no shuffle;
    * the only shuffle keys on ``cell``; with :func:`derive_ivf_params`
      (k ~ sqrt(n)) expected cell size is sqrt(n), so total pair work is
      k * (n/k)^2 = n^1.5 — bounded per-cell, never global n^2;
    * unlike :func:`near_dup_pairs` (where only a candidate subset is
      verified, so ids-then-fetch wins), EVERY within-cell pair needs
      its cosine — the vectors ship through the one shuffle (O(n*d)),
      with per-row norms precomputed so each pair pays a single dot
      fold instead of three (the norm fold is bit-identical whether run
      per row or per pair, so the 6-dp decision is unchanged);
    * cosine is rounded to 6 dp before the threshold test so the
      decision is engine-reproducible (float fold order).
    """
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    left = assigned.select(F.col("cell"),
                           F.col(id_col).alias("__id_a"),
                           F.col(vec_col).alias("__va"),
                           norm(F.col(vec_col)).alias("__na"))
    right = assigned.select(F.col("cell"),
                            F.col(id_col).alias("__id_b"),
                            F.col(vec_col).alias("__vb"),
                            norm(F.col(vec_col)).alias("__nb"))
    cos = (dot(F.col("__va"), F.col("__vb"))
           / F.greatest(F.col("__na") * F.col("__nb"), F.lit(1e-12)))
    dropped = (left.join(right, "cell")
               .where(F.col("__id_a") < F.col("__id_b"))
               .where(F.round(cos, 6) >= threshold)
               .select(F.col("__id_b").alias(id_col))
               .distinct()
               .withColumn("__dropped__", F.lit(True)))
    return (assigned.join(dropped, id_col, "left")
            .withColumn("kept", F.col("__dropped__").isNull())
            .drop("__dropped__"))


def semdedup(df: DataFrame, centroids: list[list[float]],
             threshold: float = 0.35, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """The kept rows of :func:`semdedup_flags` with the original schema."""
    return (semdedup_flags(df, centroids, threshold, id_col, vec_col)
            .where("kept").drop("cell", "kept"))


def similarity_selection_card(df: DataFrame, query_vec: list[float],
                              threshold: float, k: int = 512,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Cardinality of a similarity selection — ``|{v : cos(v, q) >= t}|``
    — estimated WITHOUT a learned model from a deterministic
    bottom-k-by-hash uniform sample (the sketch machinery of
    `operators/sketches.quantile_sketch`): est = N x (sample hit
    fraction).  The sample is chosen by the row-id hash, independent of
    the value, so the hit fraction is unbiased; determinism makes the
    estimate itself oracle-replayable.

    Returns one row: (n_total, n_sample, est_card double, true_card).
    ``true_card`` is an exact second pass kept so accuracy is visible in
    the contract output — at 100 TB you would drop it; the SAMPLE
    branch stays cheap at any scale because the cosine fold runs only
    on the k surviving rows (the scan before the top-k carries just the
    id, hash and vector).

    Paper anchor: similarity-selection cardinality estimation (SIGMOD'20
    "Monotonic Cardinality Estimation of Similarity Selection") — this
    is the sampling baseline such learned estimators are measured
    against; monotonicity holds by construction (raising t can only
    shrink the sample hit set).
    """
    from .sketches import kmv_hash

    t = F.lit(float(threshold))
    qv = _lit_vec(query_vec)
    full_hit = (cosine(F.col(vec_col), qv) >= t).cast("long")
    totals = df.agg(F.count(F.lit(1)).alias("n_total"),
                    F.sum(full_hit).alias("true_card"))
    # sample branch: top-k by hash FIRST, cosine only on the k survivors
    samp_rows = (df.select(F.col(id_col),
                           kmv_hash(F.col(id_col)).alias("__h__"),
                           F.col(vec_col))
                 .orderBy("__h__", id_col).limit(k))
    samp = samp_rows.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.sum((cosine(F.col(vec_col), qv) >= t).cast("long"))
        .alias("__hits__"))
    est = F.when(
        F.col("n_sample") > 0,
        F.round(F.col("n_total").cast("double")
                * F.col("__hits__").cast("double")
                / F.col("n_sample").cast("double"), 4)) \
        .otherwise(F.lit(0.0))
    return totals.crossJoin(F.broadcast(samp)).select(
        "n_total", "n_sample", est.alias("est_card"),
        F.coalesce(F.col("true_card"), F.lit(0)).alias("true_card"))


def hard_negatives(df: DataFrame, anchors: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive/triplet training: for every
    anchor row, the single most-similar corpus vector with a DIFFERENT
    label — the negative that contributes the largest loss (FaceNet
    semi-hard protocol's "hardest" end, Schroff et al. CVPR 2015).

    Returns ``(q_id, q_label, neg_id, neg_sim)``, tie-broken
    ``(neg_sim desc, neg_id)`` AFTER rounding to 6 dp so the argmax is
    well-defined and replayable.

    Scale story (100 TB): the anchor batch is training-batch-sized, so
    it BROADCASTS and the corpus streams — one pass, no shuffle of the
    big side; the label-inequality predicate makes this a broadcast
    nested-loop join (each corpus partition scores |anchors| cosines
    JVM-side), and the per-anchor argmax is a map-side-combinable
    min-struct aggregate over |anchors|-keyed rows.  For web-scale
    corpora swap the full scan for the IVF candidate set
    (``topk_cosine_ivf_indexed``) and mine within the probed cells —
    the aggregation shape is unchanged.
    """
    q = anchors.select(F.col(id_col).alias("q_id"),
                       F.col(label_col).alias("q_label"),
                       F.col(vec_col).alias("q_vec"))
    c = df.select(F.col(id_col).alias("neg_id"),
                  F.col(label_col).alias("n_label"),
                  F.col(vec_col).alias("n_vec"))
    scored = (c.join(F.broadcast(q), F.col("n_label") != F.col("q_label"))
              .select("q_id", "q_label", "neg_id",
                      F.round(cosine(F.col("n_vec"), F.col("q_vec")), 6)
                      .alias("neg_sim")))
    best = scored.groupBy("q_id", "q_label").agg(
        F.min(F.struct((-F.col("neg_sim")).alias("ns"),
                       F.col("neg_id").alias("i"))).alias("b"))
    return best.select("q_id", "q_label", F.col("b.i").alias("neg_id"),
                       (-F.col("b.ns")).alias("neg_sim"))


def ranking_metrics(approx: DataFrame, exact: DataFrame, k: int = 10,
                    id_col: str = "vec_id",
                    score_col: str = "cos_sim") -> DataFrame:
    """Retrieval-quality metrics of an APPROXIMATE ranked result
    against the EXACT baseline — the in-engine answer to "how much
    recall did the ANN shortcut trade?", so index-parameter choices
    (nprobe, bands) are measured, not guessed.  Returns ONE row:
    ``(k, n_hits, recall_at_k, ndcg_at_k)``.

    nDCG uses binary relevance (a returned id is relevant iff it is in
    the exact top-k) with the standard log2 position discount; the
    ideal DCG normalizes against min(k, |exact|) so a shorter exact
    set cannot inflate the score.  Ranks are derived from
    ``(score_col desc, id)`` — the retrieval family's own total order —
    never from physical row order.  Both inputs are k-row relations,
    so every aggregate here is driver-trivial; the heavy lifting
    happened in the retrieval.
    """
    import math

    if k < 1:
        raise ValueError("k must be >= 1")
    # Both inputs are k-row relations: ONE action each (the top-k cut,
    # identical to the former row_number-over-(score desc, id) filter),
    # then the joins/aggregates run driver-side over ≤k rows.  The r10
    # form re-executed BOTH retrieval pipelines three times (count +
    # dcg agg + hits count) — ~2-3 s of pure re-planning per call at
    # bench scale.  dcg sums in ascending-rank order (deterministic);
    # values agree with the former Spark sum to the ulp, far inside the
    # 6-dp rounding.
    a_rows = (approx.orderBy(F.col(score_col).desc(), F.col(id_col))
              .limit(k).select(F.col(id_col)).collect())
    e_rows = (exact.orderBy(F.col(score_col).desc(), F.col(id_col))
              .limit(k).select(F.col(id_col)).collect())
    n_exact = len(e_rows)
    exact_ids = {r[0] for r in e_rows}
    hit_ranks = [rank for rank, r in enumerate(a_rows, 1)
                 if r[0] in exact_ids]
    dcg = sum(1.0 / math.log2(rank + 1) for rank in hit_ranks)
    n_hits = len(hit_ranks)
    ideal = sum(1.0 / math.log2(i + 2) for i in range(min(k, n_exact)))
    recall = n_hits / float(n_exact) if n_exact else 0.0
    spark = approx.sparkSession
    return local_df(spark,
        [(k, n_hits, round(recall, 6),
          round(dcg / ideal if ideal else 0.0, 6))],
        "k int, n_hits long, recall_at_k double, ndcg_at_k double")


# -- product quantization (ADC) ---------------------------------------------

def pq_train(df: DataFrame, m: int = 4, k_codes: int = 16,
             iters: int = 1, vec_col: str = "embedding",
             ) -> list[list[list[float]]]:
    """Train a product quantizer (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subspaces and k-means each subspace
    independently.  Returns ``m`` codebooks of ``k_codes`` centroids.

    Each subspace trains via :func:`ivf_train` on the SLICED relation —
    the same deterministic protocol the IVF quantizer uses (seeds =
    first ``k_codes`` subvectors by id order, inner-product assignment
    with lowest-index tie-break, elementwise-mean Lloyd steps whose
    shuffle is O(parts·k·d/m), empty cells keep their centroid) — so
    the x41-verified machinery covers PQ training too.

    The ``m`` per-subspace init jobs are shared: ONE sort+collect of
    the first ``k_codes`` full vectors, sliced driver-side (identical
    rows and values — pinned by
    test_pq_train_fused_matches_per_subspace).  The ``m`` subspace
    Lloyd steps run as ONE action per iteration: each subspace keeps
    its own small assign+aggregate subtree (identical to its standalone
    :func:`ivf_train` step) and only the k-ROW per-subspace RESULTS are
    unioned before a single ``collect`` — so a whole training round
    costs ``iters`` driver round-trips instead of ``m·iters`` (the r10
    thread pool overlapped the per-subspace jobs but still paid every
    job's scheduling/AQE overhead serially on the driver; measured
    6.6 s → ~2 s for m=8, iters=2 at bench scale).  Values are pinned
    equal to the per-subspace serial loop
    (test_pq_train_fused_matches_per_subspace).  NOTE the fusion unions the
    per-branch AGGREGATES, never the expressions: fusing the m·k_codes
    lambda-bearing dots into one projection was tried and REVERTED in
    r10 — Catalyst analysis went superlinear (44 s of planning).  The
    union's branches each keep the standalone job's small expression,
    so analysis stays linear in m.
    """
    id_cols = [c for c in df.columns if c != vec_col]
    first = (df.orderBy(*id_cols).limit(k_codes)
             .select(vec_col).collect())
    if not first:
        raise ValueError("pq_train: empty input")
    d = len(first[0][0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    inits = [[[float(x) for x in r[0][j * ds:(j + 1) * ds]]
              for r in first] for j in range(m)]
    if iters == 0:
        return inits
    sliced = [df.select(
        *[F.col(c) for c in id_cols],
        F.slice(F.col(vec_col), j * ds + 1, ds).alias(vec_col))
        for j in range(m)]
    if m == 1:
        return [ivf_train(sliced[0], k=k_codes, iters=iters,
                          vec_col=vec_col, init_centroids=inits[0])]
    books = [[list(c) for c in b] for b in inits]
    for _ in range(iters):
        # ONE aggregate per Lloyd round (r12): the per-subspace cell ids
        # are exactly pq_encode's codes array (same dots, same
        # lowest-index tie-break), so one posexplode of the FULL vector
        # keyed by (subspace, cell, pos-within-subspace) computes every
        # subspace's elementwise means in a single pass — the r10/r11
        # union of m per-subspace aggregates paid m codegen functions +
        # an m-way union per iteration (measured: pq_train m=8 was
        # plan-compile-bound at 5.4 s for a 2000-row corpus).  The r10
        # revert of "full cross-subspace fusion" was about LAMBDA-heavy
        # expressions sending Catalyst analysis superlinear; the cells
        # expression here is the flat-SQL dot battery (_dot_sql, r11),
        # which analyzes linearly.  Per-group rows and their
        # within-partition order are identical to the per-branch form,
        # so the means are bit-identical
        # (test_pq_train_fused_matches_per_subspace).
        enc = pq_encode(df, books, vec_col=vec_col, out_col="__cells__",
                        drop_vec=False)
        rows = (enc.select(F.col("__cells__"),
                           F.posexplode(F.col(vec_col)).alias("p", "x"))
                .select((F.col("p") / ds).cast("int").alias("sub"),
                        F.expr("element_at(__cells__, "
                               f"CAST(p / {ds} AS INT) + 1)").alias("cell"),
                        F.pmod(F.col("p"), F.lit(ds)).alias("pos"),
                        F.col("x"))
                .groupBy("sub", "cell", "pos")
                .agg(F.avg(F.col("x").cast("double")).alias("m"))
                .collect())
        nxt = [[list(c) for c in bk] for bk in books]
        for r in rows:
            nxt[r["sub"]][r["cell"]][r["pos"]] = float(r["m"])
        books = nxt
    return books


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding", out_col: str = "pq_codes",
              drop_vec: bool = True) -> DataFrame:
    """Quantize vectors to ``m`` one-byte codes — the compressed ANN
    representation (64-dim float64 = 512 B down to m=4 codes ≈ 4 B,
    128× — the reason PQ is the 100 TB ANN layout: the codes relation
    for a trillion vectors fits where the raw vectors cannot).

    Per subspace the code is the inner-product-nearest centroid (ties →
    lowest index — the family's :func:`ivf_assign` convention; classic
    PQ quantizes by L2, the IP form is its MIPS sibling and keeps every
    operator in this module on one scoring geometry).  Pure JVM
    projection: ``m × k_codes`` literal dot products per row, no
    shuffle, no Python.
    """
    m = len(codebooks)
    ds = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        if _all_finite(book):
            sub_sql = f"slice(`{vec_col}`, {j * ds + 1}, {ds})"
            sims = F.expr("array(" + ",".join(
                _dot_sql(sub_sql, c) for c in book) + ")")
        else:
            sub = F.slice(F.col(vec_col), j * ds + 1, ds)
            sims = F.array(*[dot(sub, _lit_vec(c)) for c in book])
        codes.append((F.array_position(sims, F.array_max(sims)) - 1)
                     .cast("int"))
    out = df.withColumn(out_col, F.array(*codes))
    return out.drop(vec_col) if drop_vec else out


def pq_topk(encoded: DataFrame, codebooks: list[list[list[float]]],
            query_vec: list[float], k: int = 10,
            id_col: str = "vec_id", codes_col: str = "pq_codes",
            cell_offsets: list[float] | None = None,
            cell_col: str = "cell") -> DataFrame:
    """ANN top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ codes:
    ``score(v) ≈ q·v = Σ_j q_j · centroid_j[code_j]`` — the query stays
    un-quantized, each subspace contributes one lookup into a
    per-query table of ``k_codes`` dot products.

    Scale story (100 TB): the per-query work is a scan of the CODES
    relation only (m bytes/vector instead of the raw floats), one
    ``element_at`` per subspace inside whole-stage codegen, then a
    TakeOrdered top-k — no shuffle, no join, no Python.  The lookup
    tables are driver-computed (``m × k_codes`` dots on a few KB) and
    ship as literals.  Compose with :func:`ranking_metrics` against
    :func:`topk_cosine` to measure what the quantization traded.
    Scores are approximate inner products, NOT cosines — rank-equivalent
    for unit-normalized corpora, labeled ``adc_sim`` to keep that loud.

    With ``cell_offsets`` (residual IVF-PQ), the codes are residuals vs
    coarse centroids and the score adds the per-cell ``q·centroid``
    offset — one more literal ``element_at`` per row on ``cell_col``.
    """
    # residual scoring: q·v ≈ q·centroid[cell] + q·residual — the
    # per-cell offsets are driver-computed dots shipped as literals,
    # one element_at on the row's cell; stays in codegen
    score = _adc_score(codebooks, query_vec, codes_col, cell_offsets,
                       cell_col)
    scored = encoded.select(F.col(id_col),
                            F.round(score, 6).alias("adc_sim"))
    return scored.orderBy(F.col("adc_sim").desc(), F.col(id_col)).limit(k)


def pq_topk_rerank(encoded: DataFrame, raw: DataFrame,
                   codebooks: list[list[list[float]]],
                   query_vec: list[float], k: int = 10,
                   shortlist: int = 50, id_col: str = "vec_id",
                   codes_col: str = "pq_codes",
                   vec_col: str = "embedding") -> DataFrame:
    """PQ-with-refine (the production FAISS ``IndexRefineFlat``
    pattern): ADC over the codes relation selects a ``shortlist`` of
    candidates, then EXACT cosine re-ranks just those against the raw
    vectors.  Returns the same ``(id, cos_sim)`` shape as
    :func:`topk_cosine` — the scores are exact, only membership is
    approximate.

    The division of labor at 100 TB: the corpus-sized scan touches the
    m-bytes-per-vector codes; the raw vectors are read for only
    ``shortlist`` rows via a broadcast semi join on the driver-collected
    id list (shortlist ≈ 10–100 rows — collecting it is a k-row top,
    not a localization).

    Recall depends on shortlist/corpus RATIO, not the absolute number:
    measured at 500 vectors (the sf0.001 synthetic corpus), plain ADC
    recall@10 ≈ 0.5, shortlist=50 (10 % of corpus) refine ≈ 0.9,
    shortlist=100 ≈ 1.0 — but the same fixed 50 at sf0.1 (5 000
    vectors, 1 %) measured only ≈ 0.4 (bench
    ``pq_rerank_recall_at_10_sl50``).  Size the shortlist with the
    corpus.
    """
    sl = pq_topk(encoded, codebooks, query_vec, k=shortlist,
                 id_col=id_col, codes_col=codes_col)
    ids = [r[id_col] for r in sl.select(id_col).collect()]
    cands = _rows_for_ids(raw, id_col, ids)
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def _rows_for_ids(raw: DataFrame, id_col: str, ids: list) -> DataFrame:
    """Select the shortlist rows: an IN literal while the list is
    small (pushed-down filter), a broadcast semi join past ~1k ids
    (Catalyst's analysis cost on giant IN lists grows faster than the
    join it replaces)."""
    if len(ids) <= 1000:
        return raw.where(F.col(id_col).isin(ids))
    spark = raw.sparkSession
    iddf = local_df(spark, [(i,) for i in ids], f"{id_col} long")
    return raw.join(F.broadcast(iddf), id_col, "left_semi")


def projection_matrix(in_dim: int, out_dim: int, seed: int = 42
                      ) -> list[list[float]]:
    """Deterministic Gaussian Johnson-Lindenstrauss matrix, scaled by
    1/sqrt(out_dim) so projected dot products estimate original ones
    (E[p(u)·p(v)] = u·v).  Same seeding protocol as
    :func:`hyperplanes` — a pure function of (dims, seed), so any task
    or engine regenerates it bit-for-bit."""
    rs = np.random.RandomState(seed)
    s = 1.0 / float(np.sqrt(out_dim))
    return [[float(v) * s for v in rs.randn(in_dim)]
            for _ in range(out_dim)]


def random_project(df: DataFrame, out_dim: int = 16, seed: int = 42,
                   vec_col: str = "embedding", out_col: str = "proj",
                   ) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: replace the
    vector with its ``out_dim`` Gaussian projections — the standard
    pre-ANN compression when the raw dimension is large (distances and
    dot products are preserved within 1±eps for out_dim = O(log n /
    eps^2), JL 1984).

    Scale story (100 TB): the matrix is ``out_dim × in_dim`` literals
    broadcast by construction; the projection is ``out_dim`` dot
    products inside whole-stage codegen — no shuffle, no Python, and
    every downstream family member (LSH x9, IVF x15/x16, PQ x83)
    consumes the smaller vectors unchanged via their ``vec_col``
    parameter."""
    in_dim = len(df.select(vec_col).first()[0])
    mat = projection_matrix(in_dim, out_dim, seed)
    proj = F.array(*[dot(F.col(vec_col), _lit_vec(r)) for r in mat])
    return df.withColumn(out_col, proj).drop(vec_col)


@dataclass
class LshIndex:
    """Materialized sign-LSH index: the bucketed vectors written
    PARTITIONED BY bucket plus the plane seed/shape — the layout that
    turns :func:`topk_cosine_lsh`'s probe filter (single-bucket or
    multi-probe Hamming neighborhood) into PARTITION PRUNING: a
    Hamming-2 probe at 8 planes reads 37 of 256 partitions' files and
    none of the rest.  Planes persist as (dim, n_planes, seed) — they
    are a pure function of those three ints (:func:`hyperplanes`), so
    the metadata is one JSON row, not a matrix."""

    bucketed: "DataFrame"
    planes: list[list[float]]
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def save(self, path: str) -> None:
        import os
        # Repartition by the partition column before the dynamic-
        # partition write (r12, §6 output layout): without it every
        # input partition opens a writer per bucket it touches — file
        # count = partitions x buckets at scale (tiny-file explosion),
        # and a single-partition corpus serializes all ~2^n_planes file
        # opens in ONE task.  Hash-clustering by bucket gives each
        # bucket exactly one writer, so files-per-bucket stays 1.  The
        # partition COUNT is deliberately not the global shuffle
        # default: more partitions than buckets is pure task overhead
        # (measured: 64 shuffle partitions wrote 253 buckets in 3.2 s,
        # 8 partitions in 0.65 s), so size it from the input and cap at
        # the bucket count.
        n_buckets = 1 << len(self.planes)
        p = min(n_buckets,
                max(8, self.bucketed.rdd.getNumPartitions()))
        (self.bucketed.repartition(p, F.col("bucket"))
         .write.partitionBy("bucket")
         .mode("overwrite").parquet(os.path.join(path, "buckets")))
        spark = self.bucketed.sparkSession
        meta = local_df(spark,
            [(len(self.planes[0]), len(self.planes), self._seed,
              self.id_col, self.vec_col)], _LSH_META_SCHEMA)
        meta.coalesce(1).write.mode("overwrite") \
            .json(os.path.join(path, "meta"))

    _seed: int = 42


_LSH_META_SCHEMA = ("dim int, n_planes int, seed int, id_col string, "
                    "vec_col string")


def lsh_build_index(df: DataFrame, n_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    ) -> LshIndex:
    """Bucket the corpus under the seeded planes — one shuffle-free
    projection; the partitioned write happens in :meth:`LshIndex.save`."""
    dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    return LshIndex(with_lsh_bucket(df, planes, vec_col), planes,
                    id_col, vec_col, _seed=seed)


def lsh_load_index(spark, path: str) -> LshIndex:
    import os
    r = (spark.read.schema(_LSH_META_SCHEMA)
         .json(os.path.join(path, "meta")).first())
    planes = hyperplanes(r["dim"], r["n_planes"], r["seed"])
    return LshIndex(spark.read.parquet(os.path.join(path, "buckets")),
                    planes, r["id_col"], r["vec_col"], _seed=r["seed"])


def pq_reconstruction_error(df: DataFrame,
                            codebooks: list[list[list[float]]],
                            vec_col: str = "embedding",
                            codes_col: str | None = None) -> DataFrame:
    """Mean squared PQ reconstruction error over a corpus —
    ``E[ Σ_j ‖v_j − book_j[code_j]‖² ]`` — the RETRAIN TRIGGER for
    indexes appended under frozen codebooks: frozen codebooks drift as
    the data distribution moves, and FAISS's guidance for add-heavy
    indexes is to monitor exactly this quantity on (a sample of) newly
    added vectors against the build-time baseline.  Returns one row
    ``(n, mean_sq_err, rmse)``.

    Pure codegen: with ``codes_col`` the stored codes are used directly
    (one ``element_at`` per subspace into the literal codebook, a
    ``zip_with`` squared difference, an ``aggregate`` fold — no
    shuffle but the final scalar agg); without it the corpus is
    re-encoded first (same cost shape as :func:`pq_encode`).  For
    residual indexes pass the RESIDUAL relation
    (:func:`ivf_residuals`) — the error is defined on what the codes
    quantize."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    if codes_col is None:
        df = pq_encode(df, codebooks, vec_col=vec_col, drop_vec=False)
        codes_col = "pq_codes"
    err = None
    for j, book in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), j * ds + 1, ds)
        bk = F.array(*[_lit_vec(c) for c in book])
        rec = F.element_at(bk, F.element_at(F.col(codes_col), j + 1) + 1)
        diff = F.zip_with(sub, rec,
                          lambda a, b: (a.cast("double") - b)
                          * (a.cast("double") - b))
        term = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
        err = term if err is None else err + term
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg(err), 6).alias("mean_sq_err"),
                  F.round(F.sqrt(F.avg(err)), 6).alias("rmse"))


def lsh_probe_set(planes: list[list[float]], query_vec: list[float],
                  probe_hamming: int | None = None) -> set[int]:
    """The multi-probe bucket set for a query under ``planes``: the
    query's own bucket plus every bucket within ``probe_hamming`` sign
    flips (default: :func:`derive_probe_hamming`).  Exposed so callers
    can audit the scan fraction a probe radius buys — the
    files-pruned/files-total ledger the bench records."""
    from itertools import combinations
    if probe_hamming is None:
        probe_hamming = derive_probe_hamming(len(planes))
    qb = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) > 0:
            qb |= 1 << i
    probes = {qb}
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(len(planes)), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.add(qb ^ flip)
    return probes


def topk_cosine_lsh_indexed(index: LshIndex, query_vec: list[float],
                            k: int = 10, probe_hamming: int | None = None
                            ) -> DataFrame:
    """Top-k over the materialized LSH index: the same probe-set
    construction (and derived multi-probe default) as
    :func:`topk_cosine_lsh`, landing on the partition column — the
    scan touches only the probed buckets' files."""
    probes = lsh_probe_set(index.planes, query_vec, probe_hamming)
    cands = index.bucketed.where(F.col("bucket").isin(sorted(probes)))
    return topk_cosine(cands.drop("bucket"), query_vec, k,
                       index.id_col, index.vec_col)


def ivf_residuals(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding", cell_col: str = "cell"
                  ) -> DataFrame:
    """Replace each vector with its residual vs its cell's coarse
    centroid, ``r = v − centroid[cell]`` — the quantity FAISS's default
    IVF-PQ encodes (residuals are smaller and more isotropic than raw
    vectors, so the same code budget quantizes them with less error).
    Pure codegen: the (k, d) centroid matrix ships as literals, one
    ``element_at`` picks the row's centroid, ``zip_with`` subtracts —
    no shuffle, no Python."""
    cmat = F.array(*[_lit_vec(c) for c in centroids])
    cent = F.element_at(cmat, F.col(cell_col) + 1)
    res = F.zip_with(F.col(vec_col), cent, lambda a, b: a - b)
    return df.withColumn(vec_col, res)


@dataclass
class PqIndex:
    """Materialized PQ index: the CODES relation plus the codebooks
    (saved with the IVF cells by :func:`ivfpq_save_index`) — the
    trio-completing sibling of :class:`IvfIndex` (partition-pruned
    probes) and :class:`LshIndex` (bucket partitions).  PQ's scan is deliberately whole-relation (ADC
    reads every code — that's the point: m bytes/vector), so the layout
    optimizes SIZE, not pruning; pair with :class:`IvfIndex` cells for
    a pruned+compressed hybrid when both matter."""

    codes: "DataFrame"
    codebooks: list[list[list[float]]]
    id_col: str = "vec_id"
    codes_col: str = "pq_codes"
    #: True when the codes quantize residuals vs IVF coarse centroids
    #: (the FAISS-default hybrid) — ADC then needs the per-cell
    #: ``q·centroid`` offsets, which topk_cosine_ivfpq supplies.
    residual: bool = False

    def release(self) -> "PqIndex":
        """Free the codes relation's checkpoint storage (builders
        checkpoint it eagerly).  The index is unusable afterwards —
        call when done probing, or after :func:`ivfpq_save_index`."""
        from .storage import free_checkpoint
        free_checkpoint(self.codes)
        return self


_PQ_META_SCHEMA = ("subspace int, book array<array<double>>, "
                   "id_col string, codes_col string, residual boolean")


def ivfpq_build_index(df: DataFrame, n_cells: int = 8, m: int = 8,
                      k_codes: int = 16, iters: int = 1,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      residual: bool = True
                      ) -> tuple[IvfIndex, PqIndex]:
    """IVF-PQ hybrid — the production 100 TB ANN layout: the coarse
    quantizer PRUNES (probe filter → cell partitions) and the product
    quantizer COMPRESSES (the scanned partitions hold m-byte codes, not
    raw vectors).

    ``residual=True`` (the default, matching FAISS ``IndexIVFPQ``)
    quantizes ``v − centroid[cell]`` with ONE shared codebook set
    pooled across cells: residuals are smaller and more isotropic than
    raw vectors, so the same 8 B/vec code budget loses less — measured
    on the synthetic corpus, recall@10 at a 2 % refine shortlist rises
    from ~0.5 (raw) to ~0.9 (residual).  ADC adds the per-cell
    ``q·centroid`` offset at query time (:func:`pq_topk`
    ``cell_offsets``); everything stays a composition of the audited
    quantizers plus :func:`ivf_residuals`' codegen subtraction.
    ``residual=False`` keeps the simpler global-codebook form.

    Returns ``(ivf_index, pq_index)`` where the PQ codes relation
    CARRIES the cell column — persist with
    ``codes.write.partitionBy("cell")`` and a probe scans only the
    probed cells' code files."""
    cents = ivf_train(df.select(id_col, vec_col), k=n_cells,
                      iters=iters, vec_col=vec_col)
    assigned = ivf_assign(df.select(id_col, vec_col), cents,
                          vec_col=vec_col)
    enc_src = (ivf_residuals(assigned, cents, vec_col=vec_col)
               if residual else assigned)
    # An index BUILD is an eager materialization point (FAISS add):
    # without it the residual relation (assign + subtract, a wide
    # codegen expression over the raw vectors) re-executes for every
    # one of pq_train's Lloyd jobs AND for the encode, and the lazy
    # codes relation re-encodes the corpus on EVERY subsequent probe
    # (measured: ~2 s/query re-encode at bench scale).  localCheckpoint
    # bounds storage at corpus size — the same footprint the saved-index
    # form writes to parquet.
    enc_src = enc_src.localCheckpoint()
    books = pq_train(enc_src, m=m, k_codes=k_codes,
                     iters=iters, vec_col=vec_col)
    codes = pq_encode(enc_src, books, vec_col=vec_col)  # keeps cell
    codes = codes.localCheckpoint()
    # the residual relation was only needed to train the books and cut
    # the codes — once ``codes`` is materialized its blocks are dead
    # weight (nothing downstream reads it); leaking it pinned a
    # corpus-width float relation for the rest of the session (§5)
    from .storage import free_checkpoint
    free_checkpoint(enc_src)
    return (IvfIndex(assigned, cents, id_col, vec_col),
            PqIndex(codes, books, id_col, residual=residual))


def ivfpq_save_index(ivf: IvfIndex, pq: PqIndex, path: str) -> None:
    """Persist the IVF-PQ hybrid as ONE production layout: the codes
    relation written PARTITIONED BY cell (a probe's ``cell IN (...)``
    becomes partition pruning over files holding m-byte codes — the
    pruned AND compressed scan in its on-disk form), plus the coarse
    centroids and PQ codebooks as JSON metadata (residual flag
    included).  Raw vectors are deliberately NOT stored — keep the
    source table for the exact refine, exactly like :class:`PqIndex`.
    """
    import os
    (pq.codes.write.partitionBy("cell")
     .mode("overwrite").parquet(os.path.join(path, "codes")))
    spark = pq.codes.sparkSession
    cmeta = local_df(spark,
        [(i, [float(x) for x in c], ivf.id_col, ivf.vec_col)
         for i, c in enumerate(ivf.centroids)], _IVF_META_SCHEMA)
    cmeta.coalesce(1).write.mode("overwrite") \
        .json(os.path.join(path, "centroids"))
    bmeta = local_df(spark,
        [(j, [[float(x) for x in c] for c in book],
          pq.id_col, pq.codes_col, bool(pq.residual))
         for j, book in enumerate(pq.codebooks)], _PQ_META_SCHEMA)
    bmeta.coalesce(1).write.mode("overwrite") \
        .json(os.path.join(path, "codebooks"))


def ivfpq_load_index(spark, path: str) -> tuple[IvfIndex, PqIndex]:
    """Load the saved hybrid.  The returned :class:`IvfIndex` carries
    the CODES relation in its ``assigned`` slot — it exists to route
    probes (centroids + column names); the hybrid search never scans
    raw vectors through it."""
    import os
    crows = (spark.read.schema(_IVF_META_SCHEMA)
             .json(os.path.join(path, "centroids"))
             .orderBy("cell").collect())
    cents = [[float(x) for x in r["centroid"]] for r in crows]
    brows = (spark.read.schema(_PQ_META_SCHEMA)
             .json(os.path.join(path, "codebooks"))
             .orderBy("subspace").collect())
    books = [[[float(x) for x in c] for c in r["book"]] for r in brows]
    codes = spark.read.parquet(os.path.join(path, "codes"))
    pq = PqIndex(codes, books, brows[0]["id_col"], brows[0]["codes_col"],
                 bool(brows[0]["residual"] or False))
    return (IvfIndex(codes, cents, crows[0]["id_col"],
                     crows[0]["vec_col"]), pq)


def topk_cosine_ivfpq_indexed(spark, path: str, query_vec: list[float],
                              raw: DataFrame, k: int = 10,
                              nprobe: int = 2, shortlist: int = 50
                              ) -> DataFrame:
    """Probe → ADC → refine over the SAVED hybrid: the cell filter
    lands on the partition column, so the ADC scan reads only the
    probed cells' code files (partition pruning, plan-pinned in
    tests); the exact refine reads ``shortlist`` raw rows."""
    ivf, pq = ivfpq_load_index(spark, path)
    return topk_cosine_ivfpq(ivf, pq, query_vec, raw, k=k,
                             nprobe=nprobe, shortlist=shortlist)


def topk_cosine_ivfpq(ivf: IvfIndex, pq: PqIndex,
                      query_vec: list[float], raw: DataFrame,
                      k: int = 10, nprobe: int = 2,
                      shortlist: int = 50) -> DataFrame:
    """Probe → ADC → refine: the probed cells' CODES shortlist
    candidates (pruned AND compressed scan), exact cosine re-ranks the
    shortlist against the raw vectors.  Scores exact, membership
    approximate on two axes (cells probed, quantization) — measure the
    recall trade with :func:`ranking_metrics`.  Residual indexes
    (``pq.residual``) get the per-cell ``q·centroid`` ADC offsets
    automatically."""
    probe = _probe_cells(ivf.centroids, query_vec, nprobe)
    cands = pq.codes.where(F.col("cell").isin(probe))
    offs = ([sum(a * b for a, b in zip(query_vec, c))
             for c in ivf.centroids] if pq.residual else None)
    sl = pq_topk(cands, pq.codebooks, query_vec, k=shortlist,
                 id_col=pq.id_col, codes_col=pq.codes_col,
                 cell_offsets=offs)
    ids = [r[pq.id_col] for r in sl.select(pq.id_col).collect()]
    return topk_cosine(_rows_for_ids(raw, pq.id_col, ids),
                       query_vec, k, pq.id_col, ivf.vec_col)


def _adc_score(codebooks: list[list[list[float]]], query_vec: list[float],
               codes_col: str, cell_offsets: list[float] | None,
               cell_col: str = "cell") -> Column:
    """The per-row ADC inner-product expression :func:`pq_topk` scores
    with (lookup tables as literals; optional residual cell offset) —
    shared so the batched probe cannot diverge from the single-query
    one."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    if len(q) != m * ds:
        raise ValueError(f"query dim {len(q)} != m*ds = {m * ds}")
    score = None
    for j, book in enumerate(codebooks):
        qj = q[j * ds:(j + 1) * ds]
        lut = [sum(a * b for a, b in zip(qj, c)) for c in book]
        term = F.element_at(
            _lit_vec(lut),
            F.element_at(F.col(codes_col), j + 1) + 1)
        score = term if score is None else score + term
    if cell_offsets is not None:
        score = score + F.element_at(
            _lit_vec(cell_offsets),
            F.col(cell_col) + 1)
    return score


def topk_cosine_ivfpq_many(ivf: IvfIndex, pq: PqIndex,
                           query_vecs: list[list[float]], raw: DataFrame,
                           k: int = 10, nprobe: int = 2,
                           shortlist: int = 50) -> DataFrame:
    """Multi-query :func:`topk_cosine_ivfpq`: one ADC pass over the
    codes relation shortlists every query, one refine pass re-ranks
    every shortlist.  Returns ``(q_idx, id, cos_sim)`` whose ``q_idx =
    i`` rows equal ``topk_cosine_ivfpq(ivf, pq, query_vecs[i], …)``
    (same probed cells, ADC tables, rounding and tie-breaks —
    test-pinned).  The sequential loop paid a corpus-plan compile +
    scan + a refine join PER query; here the probed-cell filters and
    per-query ADC scores are branches of one projection and the refine
    is one scan of the union of shortlists."""
    from pyspark.sql import Window

    if not query_vecs:
        raise ValueError("query_vecs must be non-empty")
    branches = []
    for i, qv in enumerate(query_vecs):
        probe = _probe_cells(ivf.centroids, qv, nprobe)
        offs = ([sum(a * b for a, b in zip(qv, c))
                 for c in ivf.centroids] if pq.residual else None)
        score = F.round(_adc_score(pq.codebooks, qv, pq.codes_col, offs), 6)
        branches.append(
            F.when(F.col("cell").isin(probe),
                   F.struct(F.lit(i).alias("q_idx"),
                            score.alias("adc_sim"))))
    exploded = (pq.codes
                .select(F.col(pq.id_col),
                        F.explode(F.filter(
                            F.array(*branches),
                            lambda s: s.isNotNull())).alias("__q__"))
                .select(F.col("__q__.q_idx").alias("q_idx"),
                        F.col(pq.id_col),
                        F.col("__q__.adc_sim").alias("adc_sim")))
    w = Window.partitionBy("q_idx").orderBy(
        F.col("adc_sim").desc(), F.col(pq.id_col))
    sls = (exploded.withColumn("__rk__", F.row_number().over(w))
           .where(F.col("__rk__") <= shortlist)
           .select("q_idx", pq.id_col).collect())
    per_q: dict[int, list] = {}
    for r in sls:
        per_q.setdefault(r["q_idx"], []).append(r[pq.id_col])
    union_ids = sorted({r[pq.id_col] for r in sls})
    cands = _rows_for_ids(raw, pq.id_col, union_ids)
    rbranches = []
    for i, qv in enumerate(query_vecs):
        ids_i = per_q.get(i, [])
        sim = F.round(cosine(F.col(ivf.vec_col), _lit_vec(qv)), 6)
        rbranches.append(
            F.when(F.col(pq.id_col).isin(ids_i),
                   F.struct(F.lit(i).alias("q_idx"),
                            sim.alias("cos_sim"))))
    rexp = (cands
            .select(F.col(pq.id_col),
                    F.explode(F.filter(
                        F.array(*rbranches),
                        lambda s: s.isNotNull())).alias("__q__"))
            .select(F.col("__q__.q_idx").alias("q_idx"),
                    F.col(pq.id_col),
                    F.col("__q__.cos_sim").alias("cos_sim")))
    wr = Window.partitionBy("q_idx").orderBy(
        F.col("cos_sim").desc(), F.col(pq.id_col))
    return (rexp.withColumn("__rk__", F.row_number().over(wr))
            .where(F.col("__rk__") <= k).drop("__rk__"))
