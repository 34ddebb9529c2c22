"""KMV (k-minimum-values) distinct-count sketch.

The scale path for COUNT(DISTINCT) at 100 TB: an exact distinct count
shuffles every distinct value; a KMV sketch reduces each group to its k
smallest distinct hash values — a bounded, *mergeable* summary, so
partial sketches combine map-side and across incremental batches
(semigroup merge, like `operators/incremental.py` count merging).

Estimator: with U_(k) the k-th smallest of n uniform hashes on [0, 1),
E[U_(k)] = k/(n+1), so  D ≈ (k-1) / U_(k)  (the standard unbiased KMV
estimate, Beyer et al., SIGMOD'07).  When a group holds fewer than k
distinct hashes the sketch IS the exact distinct set.

Determinism / oracle parity: the hash is the first 8 hex chars of
md5(value) read as a 32-bit integer — reproducible bit-for-bit in DuckDB
(nibble polynomial), so the driver's oracle can replay sketches exactly.
32 bits keeps every value exactly representable in a double on both
engines (collision error is negligible below ~10^7 distinct; at real
100 TB scale swap in ``xxhash64`` and widen to 64 bits).

Reference anchor: Scardina keeps exact per-column distinct dictionaries
(`datasets.py:224-253`); a KMV sketch is the sub-linear stand-in for the
same statistic when the domain itself is data-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HASH_SPACE = float(2**32)


def kmv_hash(col: F.Column | str) -> F.Column:
    """32-bit deterministic hash: first 8 md5 hex chars as an integer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10) \
        .cast("long")


def kmv_sketch(df: DataFrame, col: str, k: int = 64,
               group_cols: list[str] | None = None,
               n_salts: int = 16) -> DataFrame:
    """Per-group sketch: (group..., hashes array<long> — the k smallest
    distinct hash values, ascending).

    Two-phase salted top-k, fully declarative: phase 1 dedups hashes
    (map-side combinable groupBy) and takes the k smallest per
    (group, salt); phase 2 merges the ≤ n_salts*k survivors per group.
    No group ever funnels its whole distinct set through one task — the
    same shape as `operators/skew.salted_group_agg`.  Salting partitions
    the hash space disjointly, so cross-salt duplicates are impossible
    and the result is exactly the k smallest distinct hashes.
    """
    group_cols = group_cols or []
    h = (df.select(*group_cols, kmv_hash(col).alias("__kh__"))
         .groupBy(*group_cols, "__kh__").agg(F.lit(1).alias("__one__"))
         .withColumn("__salt__", F.pmod(F.col("__kh__"), F.lit(n_salts))))
    part = (h.groupBy(*group_cols, "__salt__")
            .agg(F.slice(F.sort_array(F.collect_list("__kh__")), 1, k)
                 .alias("__part__")))
    return (part.select(*group_cols, F.explode("__part__").alias("__kh__"))
            .groupBy(*group_cols)
            .agg(F.slice(F.sort_array(F.collect_list("__kh__")), 1, k)
                 .alias("hashes")))


def kmv_fold(sketches: DataFrame, k: int = 64,
             group_cols: list[str] | None = None) -> DataFrame:
    """N-way semigroup fold of a sketch table (group..., hashes): union
    the hash sets per group, dedup, keep the k smallest: fold(sketch(A)
    ∪ sketch(B)) == sketch(A ∪ B) exactly.  The streaming read-time fold
    routes through it, so sketch semantics live in one place."""
    group_cols = group_cols or []
    ex = (sketches.select(*group_cols, F.explode("hashes").alias("__kh__"))
          .groupBy(*group_cols, "__kh__").agg(F.lit(1).alias("__one__")))
    grouped = ex.groupBy(*group_cols) if group_cols else ex.groupBy()
    return grouped.agg(
        F.slice(F.sort_array(F.collect_list("__kh__")), 1, k)
        .alias("hashes"))


def kmv_estimate(sketch: DataFrame, k: int = 64,
                 group_cols: list[str] | None = None) -> DataFrame:
    """(group..., distinct_est double): (k-1)/U_(k) when the sketch is
    full, else the exact count of distinct hashes seen."""
    group_cols = group_cols or []
    n = F.size("hashes")
    kth = F.element_at("hashes", k).cast("double")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE) / kth)
    return sketch.select(*group_cols, F.round(est, 4).alias("distinct_est"))


def approx_distinct(df: DataFrame, col: str, k: int = 64,
                    group_cols: list[str] | None = None) -> DataFrame:
    """End-to-end: sketch then estimate distinct ``col`` per group."""
    return kmv_estimate(kmv_sketch(df, col, k, group_cols), k, group_cols)


def quantile_sketch(df: DataFrame, value_col: str, key_col: F.Column | str,
                    k: int = 256,
                    group_cols: list[str] | None = None,
                    n_salts: int = 16) -> DataFrame:
    """Bottom-k-by-hash uniform row sample for quantile estimation:
    per group, the k rows whose deterministic row-key hash is smallest,
    as ``samp: array<struct<h: long, v: double>>`` sorted by (h, v).

    Because the hash of a unique row key is uniform, the k smallest-hash
    rows are a uniform sample WITHOUT replacement — a mergeable quantile
    summary (union two sketches, re-take the k smallest) in the same
    semigroup style as the KMV distinct sketch above, and bit-for-bit
    reproducible (md5-based) so a SQL oracle can replay it exactly.

    Scale shape: the ungrouped path is ``orderBy(h).limit(k)`` —
    Spark's TakeOrderedAndProject, i.e. per-partition top-k then a
    k-sized merge, never a global sort.  The grouped path salts each
    group over ``n_salts`` cells and takes each cell's bottom-k via
    ``row_number`` over a (cell)-partitioned sort — sort-based, so a
    heavy group SPILLS instead of materializing |cell| rows in one
    aggregation buffer (a ``collect_list``-then-slice would hold the
    whole cell in task memory; there is no upstream dedup bounding it,
    unlike ``kmv_sketch``).  Only the ≤ k survivors per cell reach the
    final per-group merge, whose state is ≤ ``n_salts * k``.

    Reference anchor: Scardina reports q-error percentiles with exact
    ``numpy.quantile`` over in-memory arrays (run.py:967-973); this is
    the bounded-memory, mergeable stand-in at data scale.
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    h = df.select(
        *group_cols,
        kmv_hash(key_col).alias("h"),
        F.col(value_col).cast("double").alias("v"))
    if not group_cols:
        topk = h.orderBy("h", "v").limit(k)
        return topk.agg(F.sort_array(F.collect_list(F.struct("h", "v")))
                        .alias("samp"))
    w = Window.partitionBy(*group_cols, "__salt__").orderBy("h", "v")
    part = (h.withColumn("__salt__", F.pmod(F.col("h"), F.lit(n_salts)))
            .withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") <= k)
            .select(*group_cols, F.struct("h", "v").alias("__s__")))
    return (part.groupBy(*group_cols)
            .agg(F.slice(F.sort_array(F.collect_list("__s__")), 1, k)
                 .alias("samp")))


def quantile_estimate(sketch: DataFrame, probs: list[float],
                      group_cols: list[str] | None = None) -> DataFrame:
    """Linear-interpolated quantiles (the SQL ``percentile_cont``
    definition: index p*(n-1) into the sorted sample) from a quantile
    sketch, as one codegen array projection per row — no shuffle."""
    group_cols = group_cols or []
    vals = F.array_sort(F.transform("samp", lambda s: s["v"]))
    n = F.size(vals)
    cols = []
    for p in probs:
        idx = F.lit(float(p)) * (n - F.lit(1)).cast("double")
        lo = F.floor(idx).cast("int")
        frac = idx - lo.cast("double")
        at_lo = F.element_at(vals, lo + F.lit(1))
        at_hi = F.element_at(vals, F.least(lo + F.lit(2), n))
        q = at_lo + (at_hi - at_lo) * frac
        cols.append(F.round(q, 4).alias(f"p{int(round(p * 100)):02d}"))
    return sketch.select(*group_cols, *cols)


def kmv_set_estimates(a: DataFrame, b: DataFrame, k: int = 64,
                      group_cols: list[str] | None = None) -> DataFrame:
    """Theta-sketch-style set algebra over two KMV sketches: per group,
    estimates of |A ∪ B|, |A ∩ B| and the Jaccard similarity — without
    touching base data.

    Mechanics (Beyer et al., SIGMOD'07 §5): the k smallest hashes of the
    UNION are exactly ``slice(sort(distinct(a.hashes ++ b.hashes)), k)``
    because each side's sketch already holds its k smallest; the union
    estimate is plain KMV on that combined sketch, and the fraction of
    those k values present in BOTH input sketches is an unbiased Jaccard
    estimate (each union-sketch element is a uniform sample of A ∪ B).
    ``intersect_est = jaccard × union_est``.  Everything after the
    group-key join is a codegen array projection — no shuffle beyond the
    join, bounded by k per group at any scale.
    """
    group_cols = group_cols or []
    sa = a.select(*group_cols, F.col("hashes").alias("__ha__"))
    sb = b.select(*group_cols, F.col("hashes").alias("__hb__"))
    j = sa.join(sb, on=group_cols) if group_cols else sa.crossJoin(sb)
    ua, ub = F.col("__ha__"), F.col("__hb__")
    union_k = F.slice(
        F.array_sort(F.array_distinct(F.concat(ua, ub))), 1, k)
    kp = F.size(union_k)
    kth = F.element_at(union_k, k).cast("double")
    union_est = F.when(kp < k, kp.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE) / kth)
    overlap = F.size(F.filter(
        union_k,
        lambda h: F.array_contains(ua, h) & F.array_contains(ub, h)))
    jaccard = overlap.cast("double") / kp.cast("double")
    return j.select(
        *group_cols,
        F.round(union_est, 4).alias("union_est"),
        F.round(jaccard * union_est, 4).alias("intersect_est"),
        F.round(jaccard, 4).alias("jaccard_est"))


# -- HyperLogLog ------------------------------------------------------------
#
# (Flajolet, Fusy, Gandouet & Meunier, "HyperLogLog: the analysis of a
# near-optimal cardinality estimation algorithm", AofA 2007.)  The
# fixed-size sibling of KMV: m = 2^p one-byte registers per group
# regardless of cardinality, where KMV keeps k hashes.  Same portable
# 32-bit hash (md5 prefix) so the DuckDB oracle replays bit-for-bit;
# rho is derived from the BINARY-STRING length of the suffix — never
# floor(log2(w)), whose last-ulp behavior at exact powers of two is
# engine-dependent.

HLL_P = 6                      # 2^6 = 64 registers
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}  # alpha_m below the
# m >= 128 closed form 0.7213/(1 + 1.079/m) (Flajolet et al. §4)


def hll_registers(df: DataFrame, col: str, p: int = HLL_P,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Per-group register relation ``(group..., idx, rho)`` — idx from
    the hash's top ``p`` bits, rho = 1 + leading zeros of the remaining
    ``32-p`` bits, maxed per register.

    ONE map-side-combinable shuffle on (group, idx): the pre-shuffle
    combine collapses each partition to <= m rows per group, so shuffle
    volume is O(parts · m) however many rows went in — the property
    that makes the register relation the mergeable form (max per
    (group, idx) is the semigroup op)."""
    group_cols = group_cols or []
    w_bits = 32 - p
    kh = kmv_hash(col)
    idx = (kh / F.lit(2 ** w_bits)).cast("long").alias("idx")
    w = kh % F.lit(2 ** w_bits)
    # bit length via base-2 string conv (exact integer arithmetic);
    # w = 0 means all suffix bits are zero -> rho = w_bits + 1
    blen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = (F.when(w == 0, F.lit(w_bits + 1))
           .otherwise(F.lit(w_bits + 1) - blen)).cast("int")
    return (df.select(*group_cols, idx, rho.alias("__rho__"))
            .groupBy(*group_cols, "idx")
            .agg(F.max("__rho__").alias("rho")))


def hll_estimate(registers: DataFrame, p: int = HLL_P,
                 group_cols: list[str] | None = None) -> DataFrame:
    """Estimate per-group distinct counts from a register relation:
    the raw HLL estimator alpha_m * m^2 / sum(2^-M[j]) with the
    small-range linear-counting correction (E <= 2.5m with empty
    registers -> m * ln(m / V)) — absent registers contribute 2^0 each
    without materializing them."""
    if p not in _HLL_ALPHA:
        raise ValueError(f"p={p} unsupported; pick from {sorted(_HLL_ALPHA)}")
    group_cols = group_cols or []
    m = float(2 ** p)
    alpha = _HLL_ALPHA[p]
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__s__"))
    zeros = F.lit(m) - F.col("__n__")
    raw = F.lit(alpha * m * m) / (F.col("__s__") + zeros)
    lin = F.lit(m) * F.log(F.lit(m) / zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lin).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 4).alias("distinct_est"))


def approx_distinct_hll(df: DataFrame, col: str, p: int = HLL_P,
                        group_cols: list[str] | None = None) -> DataFrame:
    """End-to-end: register sketch then estimate, per group."""
    return hll_estimate(hll_registers(df, col, p, group_cols), p,
                        group_cols)
