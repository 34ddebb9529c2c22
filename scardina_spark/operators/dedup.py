"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of doing this in Spark):

* exact dedup — one hash-groupBy on a 16-byte digest, not on the document
  body: shuffle volume is O(rows × 16B) regardless of document size.
* MinHash+LSH — shingle → per-salt min-hash signature (explode + groupBy
  doc), band the signature, shuffle on (band_id, band_hash) so only
  colliding docs meet.  No pairwise work outside buckets; the candidate
  verification joins are bucket-local.
* SimHash — per-token hashed bit votes aggregated JVM-side; near-dup =
  equal simhash (or banded Hamming at scale).
* n-gram Jaccard — exact verification on candidate pairs only.

Determinism: every hash is md5-derived, so the DuckDB oracle can reproduce
signatures bit-for-bit — no engine-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def normalized(col: str = "text") -> F.Column:
    return F.regexp_replace(F.trim(F.lower(F.col(col))), "\\s+", " ")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", col: str = "text"
                ) -> DataFrame:
    """Keep the lowest-id document per normalized-content digest.
    Returns (keep_id, n_dups) per distinct content, ordered by keep_id."""
    return (
        df.select(F.col(id_col), F.md5(normalized(col)).alias("__h__"))
        .groupBy("__h__")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
        .orderBy("keep_id")
    )


def keep_latest(df: DataFrame, key_cols: list[str], order_cols: list[str]
                ) -> DataFrame:
    """Keep one row per key: the one with the greatest ``order_cols``
    tuple (version/timestamp dedup, ties broken by the later order
    columns — pass enough of them to make the winner deterministic).

    Implemented as ONE aggregation of a struct max — map-side partial
    combine, per-group state of a single row — instead of the usual
    ``row_number() OVER (PARTITION BY ...) = 1`` window, which must
    SORT every group's rows inside the shuffle.  At 100 TB on a skewed
    key that sort is the bottleneck; the struct max never is.

    Limitation: every payload column joins the packed struct, so all
    columns must be orderable — map-typed payloads are rejected up
    front (use the window form for those).
    """
    others = [c for c in df.columns
              if c not in key_cols and c not in order_cols]
    dtypes = dict(df.dtypes)
    unorderable = [c for c in order_cols + others
                   if dtypes.get(c, "").startswith("map<")]
    if unorderable:
        raise ValueError(
            f"keep_latest packs all columns into an ordered struct; "
            f"map-typed columns are not orderable: {unorderable}")
    packed = F.struct(*[F.col(f"`{c}`") for c in order_cols],
                      *[F.col(f"`{c}`") for c in others])
    agg = df.groupBy(*[F.col(f"`{k}`") for k in key_cols]) \
        .agg(F.max(packed).alias("__m__"))
    return agg.select(
        *[F.col(f"`{k}`") for k in key_cols],
        *[F.col(f"__m__.`{c}`").alias(c) for c in order_cols],
        *[F.col(f"__m__.`{c}`").alias(c) for c in others])


def word_shingles(col: str = "text", k: int = 3) -> F.Column:
    """Distinct k-word shingles of the normalized text (array<string>),
    in first-occurrence order.

    Built by zipping k SHIFTED VIEWS of the token array: ``arrays_zip``
    evaluates each input once, so the whole expression is O(k·n) per
    document.  The obvious ``transform(sequence(...), i -> slice(toks,
    i+1, k))`` form re-evaluates the token split per lambda element —
    O(n²) in document length (measured 160 s for ONE 30k-token doc),
    which silently kills MinHash/decontamination on long documents."""
    toks = F.split(normalized(col), " ")
    n = F.size(toks)
    cnt = n - (k - 1)
    parts = [F.slice(toks, j + 1, cnt).alias(f"__w{j}__") for j in range(k)]
    sh = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[f"__w{j}__"] for j in range(k)]))
    # Documents shorter than k words degrade to ONE whole-text gram
    # (matching the decontamination protocol and the DuckDB oracle).
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks))))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       col: str = "text", k_shingle: int = 3,
                       n_hashes: int = 8, hash_fn: str = "md5") -> DataFrame:
    """(id, sig_0..sig_{n-1}): per-hash min over the shingle set.

    ``hash_fn="md5"`` (default): hash ``i`` is the ``(i%4)``-th 8-hex-char
    (32-bit) chunk of ``md5("salt<i//4>:" || shingle)`` — md5's 128 bits
    yield four independent 32-bit hashes, so ``ceil(n/4)`` md5 evaluations
    per shingle replace ``n``.  The min is over fixed-width hex strings —
    order-stable across engines, so the DuckDB oracle reproduces
    signatures bit-for-bit.

    ``hash_fn="xxhash64"``: the 100 TB path — ~4x faster than md5 (one
    seeded 64-bit xxHash per 2 signature slots, split into 32-bit
    halves).  Not oracle-reproducible (DuckDB lacks Spark's xxhash64);
    the verified-Jaccard OUTPUT of the dedup pipeline is hash-agnostic,
    which is what the equivalence test pins.

    Explode + groupBy(id) keeps the shuffle at O(shingles) with map-side
    combine in either mode.
    """
    # shingling + hashing amplifies each row ~100x in compute; spread the
    # corpus across the session's full parallelism first (documents tables
    # are byte-small but CPU-heavy, so scan splits under-provision them)
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism, F.col(id_col))
    ex = df.select(
        F.col(id_col), F.explode(word_shingles(col, k_shingle)).alias("__sh__"))
    if hash_fn == "md5":
        for g in range((n_hashes + 3) // 4):
            ex = ex.withColumn(
                f"__h{g}__",
                F.md5(F.concat(F.lit(f"salt{g}:"), F.col("__sh__"))))
        aggs = [
            F.min(F.substring(F.col(f"__h{i // 4}__"), (i % 4) * 8 + 1, 8))
            .alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    elif hash_fn == "xxhash64":
        for g in range((n_hashes + 1) // 2):
            ex = ex.withColumn(
                f"__h{g}__", F.xxhash64(F.lit(g), F.col("__sh__")))
        aggs = [
            F.min(F.shiftright(F.col(f"__h{i // 2}__"), 32) if i % 2 == 0
                  else F.col(f"__h{i // 2}__")
                  .bitwiseAND(F.lit(0xFFFFFFFF)))
            .alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    return ex.groupBy(id_col).agg(*aggs)


def minhash_signatures_rowwise(df: DataFrame, id_col: str = "doc_id",
                               col: str = "text", k_shingle: int = 3,
                               n_hashes: int = 8, hash_fn: str = "md5",
                               keep_shingles: bool = False) -> DataFrame:
    """Per-ROW MinHash signatures: same bits as ``minhash_signatures``
    (min over the same salted hash of the same distinct shingles — the
    equality is test-pinned) computed as a PURE PROJECTION via
    ``array_min`` over the document's own shingle array, no explode /
    groupBy.

    Two uses: (a) STRUCTURED STREAMING — a projection is stateless, so
    an arriving micro-batch signs itself with no streaming aggregation
    (the explode+groupBy form would force an agg before the index
    probe, which Spark's stream-static join pipeline disallows);
    (b) batch corpora whose documents are small enough that per-row
    evaluation beats the explode's shuffle.  The explode form remains
    the right call for batch corpora with long documents — it spreads
    ONE document's shingle hashing across tasks; row-wise evaluation
    keeps it on one core.

    ``keep_shingles=True`` appends the shingle array as ``__sh__`` so a
    downstream candidate verification can compute exact Jaccard without
    re-tokenizing (the streaming probe's shape)."""
    out = df.select(F.col(id_col),
                    word_shingles(col, k_shingle).alias("__sh__"))

    # factory helpers: F.transform treats a TWO-parameter lambda as
    # (element, index), so the usual ``lambda s, g=g:`` capture idiom
    # would silently receive the array index — close over the loop
    # variable with a factory instead
    def _salted(g: int):
        return lambda s: F.md5(F.concat(F.lit(f"salt{g}:"), s))

    def _slice(i: int):
        return lambda h: F.substring(h, (i % 4) * 8 + 1, 8)

    def _seeded(g: int):
        return lambda s: F.xxhash64(F.lit(g), s)

    if hash_fn == "md5":
        for g in range((n_hashes + 3) // 4):
            out = out.withColumn(
                f"__h{g}__", F.transform("__sh__", _salted(g)))
        sigs = [
            F.array_min(F.transform(F.col(f"__h{i // 4}__"), _slice(i)))
            .alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    elif hash_fn == "xxhash64":
        for g in range((n_hashes + 1) // 2):
            out = out.withColumn(
                f"__h{g}__", F.transform("__sh__", _seeded(g)))
        sigs = [
            F.array_min(F.transform(
                F.col(f"__h{i // 2}__"),
                (lambda h: F.shiftright(h, 32)) if i % 2 == 0
                else (lambda h: h.bitwiseAND(F.lit(0xFFFFFFFF)))))
            .alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    extra = [F.col("__sh__")] if keep_shingles else []
    return out.select(F.col(id_col), *sigs, *extra)


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        n_hashes: int = 8, n_bands: int = 4) -> DataFrame:
    """Docs sharing any band of the signature → candidate pairs (a < b).
    Shuffle key is (band_id, band_hash): only colliding docs co-locate.

    Bands come from ONE explode over the signature table (not a per-band
    union, which would re-run the upstream signature computation per band
    and again per self-join side)."""
    exploded = _band_table(sigs, id_col, "__id__", n_hashes, n_bands)
    a = exploded.select(F.col("__band__"), F.col("__bh__"),
                        F.col("__id__").alias("id_a"))
    b_ = exploded.select(F.col("__band__"), F.col("__bh__"),
                         F.col("__id__").alias("id_b"))
    return (
        a.join(b_, ["__band__", "__bh__"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  col: str = "text", k_shingle: int = 3,
                  cache_out: list | None = None) -> DataFrame:
    """Exact Jaccard over word shingles for the given candidate pairs.

    Shingles are computed only for documents that appear in ``pairs``
    (semi-join pushdown): candidate sets are tiny relative to the corpus,
    and the shingle projection is the expensive part — without the
    restriction both join sides would shingle every document.

    Pass ``cache_out`` (a list) to receive the internal shingle
    checkpoint's release handle — the caller should ``unpersist()`` it
    once the scored result is materialized (otherwise the
    candidate-sized shingle relation stays pinned in the block manager
    for the life of the session)."""
    ids = (pairs.select(F.col("id_a").alias("__id__"))
           .unionByName(pairs.select(F.col("id_b").alias("__id__")))
           .distinct())
    sh = (df.join(ids, F.col(id_col) == F.col("__id__"), "left_semi")
          .select(F.col(id_col).alias("__id__"),
                  word_shingles(col, k_shingle).alias("__sh__"))
          # materialize once: both self-join sides read it, and the table
          # is candidate-sized (bounded by |pairs|), not corpus-sized
          .localCheckpoint())
    if cache_out is not None:
        from .storage import CheckpointHandle
        cache_out.append(CheckpointHandle(sh))
    a = sh.select(F.col("__id__").alias("id_a"), F.col("__sh__").alias("sh_a"))
    b = sh.select(F.col("__id__").alias("id_b"), F.col("__sh__").alias("sh_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return j.select(
        "id_a", "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"))


def minhash_dedup(df: DataFrame, id_col: str = "doc_id", col: str = "text",
                  k_shingle: int = 3, n_hashes: int = 8, n_bands: int = 4,
                  threshold: float = 0.8, hash_fn: str = "md5") -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact Jaccard verification → pairs above threshold.

    The signature table is cached for the duration of the pipeline: the
    band self-join consumes it from both sides, and without the cache each
    side would recompute the shingle explode + groupBy (the expensive
    stages).  At cluster scale this is the stage you'd checkpoint to
    parquet instead."""
    sigs = minhash_signatures(df, id_col, col, k_shingle, n_hashes,
                              hash_fn=hash_fn).cache()
    cands = lsh_candidate_pairs(sigs, id_col, n_hashes, n_bands).cache()
    handles: list = []
    try:
        scored = ngram_jaccard(df, cands, id_col, col, k_shingle,
                               cache_out=handles)
        # the returned checkpoint materializes HERE (eager), so every
        # internal intermediate can be released in the finally block —
        # only the verified result's own blocks stay (caller-owned;
        # free with operators.storage.free_checkpoint when done)
        return scored.where(F.col("jaccard") >= threshold) \
            .orderBy("id_a", "id_b").localCheckpoint()
    finally:
        cands.unpersist()
        sigs.unpersist()
        for h in handles:
            h.unpersist()


def _band_table(sigs: DataFrame, id_col: str, out_id: str,
                n_hashes: int, n_bands: int) -> DataFrame:
    """(out_id, band, band_hash) — one explode over a signature table
    (shared by the self-join pipeline and the asymmetric probe)."""
    rows_per_band = n_hashes // n_bands
    band_structs = []
    for b in range(n_bands):
        cols = [F.col(f"sig_{i}")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *cols)).alias("bh")))
    return (sigs.select(F.col(id_col).alias(out_id),
                        F.explode(F.array(*band_structs)).alias("__b__"))
            .select(out_id, F.col("__b__.band").alias("__band__"),
                    F.col("__b__.bh").alias("__bh__")))


def lsh_probe_pairs(new_sigs: DataFrame, index_sigs: DataFrame,
                    id_col: str = "doc_id", n_hashes: int = 8,
                    n_bands: int = 4) -> DataFrame:
    """Asymmetric LSH probe: NEW documents' signatures banded against an
    EXISTING index's — ``(new_id, index_id)`` candidates without any
    self-join over the standing corpus.  The ingest-time shape: the
    index table is precomputed (in practice a materialized parquet,
    like `IvfIndex`), so a shard arrival costs only the
    shard's shingles plus a band-keyed join whose left side is
    shard-sized."""
    a = _band_table(new_sigs, id_col, "new_id", n_hashes, n_bands)
    b = _band_table(index_sigs, id_col, "index_id", n_hashes, n_bands)
    return (a.join(b, ["__band__", "__bh__"])
            .select("new_id", "index_id").distinct())


def incremental_near_dup(new_docs: DataFrame, index_docs: DataFrame,
                         index_sigs: DataFrame | None = None,
                         id_col: str = "doc_id", col: str = "text",
                         k_shingle: int = 3, n_hashes: int = 8,
                         n_bands: int = 4, threshold: float = 0.8,
                         hash_fn: str = "md5") -> DataFrame:
    """Near-dup pairs of an ARRIVING shard against the standing corpus:
    sign the shard, band-probe the (optionally precomputed) index
    signatures, verify exact Jaccard only for candidates —
    ``(new_id, index_id, jaccard)`` at or above ``threshold``.  Only
    the shard is shingled+signed when ``index_sigs`` is supplied; the
    index side contributes a band join and per-candidate shingle
    lookups (semi-join pushdown, candidate-sized)."""
    new_sigs = minhash_signatures(new_docs, id_col, col, k_shingle,
                                  n_hashes, hash_fn=hash_fn)
    if index_sigs is None:
        index_sigs = minhash_signatures(index_docs, id_col, col,
                                        k_shingle, n_hashes,
                                        hash_fn=hash_fn)
    cands = lsh_probe_pairs(new_sigs, index_sigs, id_col, n_hashes,
                            n_bands).cache()
    try:
        def side(docs: DataFrame, pair_col: str, out: str) -> DataFrame:
            ids = cands.select(F.col(pair_col).alias("__id__")).distinct()
            return (docs.join(ids, F.col(id_col) == F.col("__id__"),
                              "left_semi")
                    .select(F.col(id_col).alias(pair_col),
                            word_shingles(col, k_shingle).alias(out)))

        j = (cands
             .join(side(new_docs, "new_id", "sh_a"), "new_id")
             .join(side(index_docs, "index_id", "sh_b"), "index_id"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
        out = (j.select("new_id", "index_id",
                        F.round(inter / F.greatest(union, F.lit(1)), 4)
                        .alias("jaccard"))
               .where(F.col("jaccard") >= threshold)
               .orderBy("new_id", "index_id").localCheckpoint())
        return out
    finally:
        cands.unpersist()


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 32  # md5's first 8 hex chars; enough for near-dup bucketing


def _hex_nibble_value(hexcol: F.Column, pos: int) -> F.Column:
    """Value 0-15 of the hex digit at 1-based ``pos`` — expressible
    identically in DuckDB, which keeps the oracle bit-exact."""
    ch = F.substring(hexcol, pos, 1)
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def simhash(col: str = "text") -> F.Column:
    """32-bit SimHash over whitespace tokens: for each bit, majority vote of
    token-hash bits; bit set when strictly more ones than zeros.  Pure
    higher-order-function projection, no UDF."""
    toks = F.filter(F.split(normalized(col), " "),
                    lambda w: F.length(w) > 0)
    hashes = F.transform(toks, lambda w: F.md5(w))
    n = F.size(hashes)
    def bit_votes(pos: int, shift: int) -> F.Column:
        def step(acc: F.Column, h: F.Column) -> F.Column:
            return acc + (
                F.shiftright(_hex_nibble_value(h, pos), shift)
                .bitwiseAND(F.lit(1)))

        return F.aggregate(hashes, F.lit(0), step)

    out = F.lit(0).cast("long")
    for bit in range(SIMHASH_BITS):
        ones = bit_votes(bit // 4 + 1, 3 - bit % 4)
        vote = F.when(ones * 2 > n, F.lit(1)).otherwise(F.lit(0)).cast("long")
        out = out + F.shiftleft(vote, bit)
    return out


def simhash_table(df: DataFrame, id_col: str = "doc_id", col: str = "text"
                  ) -> DataFrame:
    return df.select(F.col(id_col), simhash(col).alias("simhash"))


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               col: str = "text", max_occurrences: int = 1,
               min_line_chars: int = 1) -> DataFrame:
    """Corpus-wide LINE-level dedup — CCNet's first preprocessing step
    (Wenzek et al. §3.1: "we deduplicate at the paragraph level" by
    hashing each line/paragraph across shards and dropping repeats):
    remove every line whose trimmed text occurs more than
    ``max_occurrences`` times in the WHOLE corpus (boilerplate —
    navigation, cookie banners, licenses — concentrates exactly there),
    then reassemble each document's surviving lines in their original
    order.  ``(id, text, n_lines, n_kept)``; empty/NULL text normalizes
    to the empty document (curation convention).  Lines shorter than
    ``min_line_chars`` after trimming (blank lines, stray whitespace)
    never enter the count — they are STRUCTURE, kept unconditionally,
    so paragraph boundaries survive the pass untouched; ``n_lines`` /
    ``n_kept`` count only the dedup-eligible lines.

    Scale shape: posexplode lines (projection) -> ONE
    map-side-combinable count shuffle on the trimmed-line key (the
    CCNet shard-hash step; at 100 TB hash the line to 8 bytes first —
    the count relation is then O(distinct lines) x 16 bytes) -> a
    line-keyed join back, and one per-document reassembly groupBy
    keyed by the id.  No windows, no driver data.
    """
    lines = (df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.coalesce(F.col(col), F.lit("")),
                                   "\n")).alias("pos", "line"))
        .withColumn("key", F.trim(F.col("line")))
        .withColumn("countable",
                    F.length("key") >= min_line_chars))
    counts = (lines.where("countable").groupBy("key")
              .agg(F.count(F.lit(1)).alias("c")))
    kept = (lines.join(counts, "key", "left")
            .withColumn("keep", ~F.col("countable")
                        | (F.col("c") <= max_occurrences)))
    assembled = (kept.groupBy(id_col).agg(
        F.sum(F.col("countable").cast("long")).cast("long")
        .alias("n_lines"),
        F.sum((F.col("countable") & F.col("keep")).cast("long"))
        .cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("keep"),
                           F.struct("pos", F.col("line").alias("ln"))))),
                lambda s: s["ln"]),
            "\n").alias("text")))
    # documents whose every line was dropped (or that had no lines)
    # survive as empty documents
    return (df.select(id_col).join(assembled, id_col, "left")
            .fillna({"n_lines": 0, "n_kept": 0, "text": ""})
            .select(id_col, "text", "n_lines", "n_kept"))


def allpairs_sim_join(df: DataFrame, threshold: float = 0.6,
                      k_shingle: int = 3, id_col: str = "doc_id",
                      col: str = "text") -> DataFrame:
    """EXACT set-similarity self-join via AllPairs prefix filtering
    (Bayardo, Ma & Srikant, WWW 2007) — every pair with shingle-set
    Jaccard ≥ ``threshold``, with NO recall loss (unlike the MinHash
    path x2/x11: LSH trades recall for speed; this trades a canonical
    sort for exactness).  Returns ``(id_a, id_b, jaccard)``.

    The filter: order all shingles by ascending global frequency (ties
    by token — a total order, so the ORDER is layout-independent); a
    doc's PREFIX is its first ``n − ⌈t·n⌉ + 1`` shingles in that order.
    Any pair with J ≥ t must collide on a prefix token, so candidates =
    prefix-exploded equi-join collisions, then exact Jaccard verifies.

    Scale story (100 TB): no global rank relation — the canonical order
    is the (cnt, token) PAIR itself, so ranking is one token-keyed
    count shuffle plus one regroup (both map-side combinable); the
    prefix explode emits ~(1−t)·|doc| rows per doc, and rare-first
    ordering makes prefix tokens the LEAST colliding ones (the whole
    point of the canonical order).  The verify step re-checks only
    colliding pairs.  Numeric care: the prefix length uses
    ``ceil(t·n − 1e-9)`` — double dust above an exact integer (e.g.
    0.6·5 = 3.0000000000000004) would otherwise SHORTEN the prefix and
    silently break the exactness guarantee.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    toks = (df.select(F.col(id_col).alias("id"),
                      word_shingles(col, k_shingle).alias("toks"))
            .where((F.length(normalized(col)) > 0) & (F.size("toks") > 0)))
    tok_cnt = (toks.select(F.explode("toks").alias("tok"))
               .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    ranked = (toks.select("id", F.explode("toks").alias("tok"))
              .join(tok_cnt, "tok")
              .groupBy("id")
              .agg(F.array_sort(F.collect_list(F.struct("cnt", "tok")))
                   .alias("s")))
    ordered = F.transform("s", lambda x: x["tok"])
    n = F.size("s")
    plen = (n - F.ceil(F.lit(float(threshold)) * n - F.lit(1e-9)) + 1) \
        .cast("int")
    pre = ranked.select("id", ordered.alias("t"),
                        F.slice(ordered, F.lit(1), plen).alias("prefix"))
    ex = pre.select("id", "t", F.explode("prefix").alias("tok"))
    a = ex.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"),
                  "tok")
    b = ex.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"),
                  "tok")
    # candidate dedup carries both ordered token arrays once (the
    # relation is collision-sized; see edit_near_dup for the id-only
    # variant when payloads are very large)
    cand = (a.join(b, "tok").where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "t_a", "t_b").distinct())
    inter = F.size(F.array_intersect("t_a", "t_b"))
    jac = inter / (F.size("t_a") + F.size("t_b") - inter)
    return (cand.select("id_a", "id_b", jac.alias("__j__"))
            .where(F.col("__j__") >= float(threshold))
            .select("id_a", "id_b", F.round("__j__", 6).alias("jaccard")))


def edit_near_dup(df: DataFrame, max_rel_dist: float = 0.1,
                  affix: int = 8, band_chars: int = 16,
                  id_col: str = "doc_id", col: str = "text") -> DataFrame:
    """Edit-distance near-duplicates — the character-level member of
    the dedup family (beside shingle-Jaccard x3, MinHash x2/x11 and
    SimHash x4): pairs whose Levenshtein distance is at most
    ``max_rel_dist`` of the longer normalized text.  Returns
    ``(id_a, id_b, dist, edit_sim)`` with ``id_a < id_b``.

    Scale story (100 TB): the quadratic DP never runs all-pairs —
    candidates come from AFFIX BLOCKING, the banding idiom of
    ``lsh_candidate_pairs``: each doc emits four keys — ``(band,
    prefix(affix))`` and ``(band, suffix(affix))`` for BOTH its own
    length band ``len//band_chars`` and the adjacent band ``+1`` —
    candidates are equi-join collisions, so the shuffle carries 4
    rows/doc and the O(n·m) ``levenshtein`` (JVM built-in) runs only
    on colliding pairs that also survive the free length-difference
    prune (|len_a − len_b| bounds the distance from below).  The
    adjacent-band emission removes the band-BOUNDARY cliff: any pair
    whose normalized lengths differ by at most ``band_chars`` shares a
    key (15 vs 17 chars with band_chars=16 straddles the boundary but
    still collides), so the only length-driven miss is a pair whose
    allowed budget ``max_rel_dist·len`` exceeds ``band_chars`` — size
    ``band_chars >= max_rel_dist × your longest docs`` to rule that
    out.  Recall is otherwise heuristic BY DESIGN (a near-dup mangled
    inside the first AND last affix escapes — the standard blocking
    trade-off); raise ``affix=0``'s sibling knobs or add mid-affix keys
    for stricter recall.  Determinism: pure function of the texts.
    """
    if not 0.0 < max_rel_dist < 1.0:
        raise ValueError("max_rel_dist must be in (0, 1)")
    if affix < 1 or band_chars < 1:
        raise ValueError("affix and band_chars must be >= 1")
    n = (df.select(F.col(id_col).alias("id"), normalized(col).alias("t"))
         .where(F.length("t") > 0))
    lb = F.floor(F.length("t") / band_chars).cast("long")
    keyed = n.select("id", "t", F.explode(F.array(*[
        F.concat_ws("|", F.lit(side), band.cast("string"), fix)
        for band in (lb, lb + 1)
        for side, fix in (("p", F.left(F.col("t"), F.lit(affix))),
                          ("s", F.right(F.col("t"), F.lit(affix))))
    ])).alias("bk"))
    a = keyed.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"),
                     "bk")
    b = keyed.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"),
                     "bk")
    # the candidate dedup carries both texts once (docs are KB-sized;
    # the relation is collision-sized, not corpus-sized).  For very
    # long documents dedup on (id_a, id_b) alone and re-join the texts
    # before the DP — same plan shape, two more joins.
    cands = (a.join(b, "bk").where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "t_a", "t_b").distinct())
    ml = F.greatest(F.length("t_a"), F.length("t_b"))
    budget = F.floor(F.lit(float(max_rel_dist)) * ml)
    pruned = cands.where(
        F.abs(F.length("t_a") - F.length("t_b")) <= budget)
    return (pruned
            .select("id_a", "id_b",
                    F.levenshtein("t_a", "t_b").alias("dist"),
                    ml.alias("__ml__"), budget.alias("__bud__"))
            .where(F.col("dist") <= F.col("__bud__"))
            .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"),
                    F.round(F.lit(1.0)
                            - F.col("dist") / F.col("__ml__"), 6)
                    .alias("edit_sim")))
