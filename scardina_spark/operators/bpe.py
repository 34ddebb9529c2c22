"""Distributed BPE tokenizer training (Sennrich, Haddow & Birch,
"Neural Machine Translation of Rare Words with Subword Units",
ACL 2016) — learn a subword merge table from the corpus, the way LLM
data pipelines train their tokenizers before token-count accounting.

Scale story (100 TB): the ONLY corpus-sized operation is the word-count
aggregation (one hash shuffle on the word, map-side combined).  The
distinct-word relation is Zipf-bounded (millions of rows at web scale,
~KBs here), so after that one shuffle the merge loop runs DRIVER-SIDE
over the localized word counts — exactly the word-frequency
factorization every production BPE trainer uses (the HuggingFace
tokenizers pre-count protocol), with incremental pair-count updates so
each merge touches only the words containing the merged pair.  Total
Spark-job count per training is O(1) (the word-count localization),
not O(n_merges); a realistic 32k-merge tokenizer is therefore one
corpus shuffle plus an in-memory loop, never ~64k sequential cluster
jobs.  Vocabularies above ``driver_cap`` (mirroring
``model/bridge.DICT_DRIVER_CAP``) fall back to the fully distributed
per-iteration loop.  Encoding afterwards is a broadcast
vocabulary join: no per-document merge computation at all.

Determinism: the best pair each iteration is chosen by
``(count desc, left, right)`` — a total order, so ties never depend on
partition layout; merge application is a leftmost-greedy fold expressed
with built-in higher-order functions (JVM-side, no Python in any loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import lower_words as _words

END = "</w>"  # end-of-word marker (reference protocol, Sennrich §3.2)

#: bpe_apply nests one merge_pair fold PER MERGE inside a transform, so
#: the Catalyst expression tree grows linearly (with large per-merge
#: constants) in the merge count — fine for the shipped-merges regime
#: it exists for (dozens to a few hundred merges), but a production
#: 32k-merge table would blow analysis/codegen limits long before the
#: first task runs.  Above this cap, tokenize via bpe_encode instead:
#: materialize the vocabulary once with bpe_learn (or replay the merge
#: table over the corpus' word_counts) and broadcast-join it — O(1)
#: expression size regardless of merge count.
APPLY_PROJECTION_MERGE_CAP = 256


def word_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """``(word, cnt)`` over the whitespace-normalized lower-cased
    corpus — the one corpus-sized shuffle of the whole trainer."""
    return (df.select(F.explode(_words(col)).alias("word"))
            .groupBy("word").agg(F.count("*").alias("cnt")))


def _char_symbols(word: Column) -> Column:
    """Initial symbol sequence: characters plus the end-of-word
    marker."""
    chars = F.filter(F.split(word, ""), lambda x: x != "")
    return F.concat(chars, F.array(F.lit(END)))


def pair_counts(vocab: DataFrame) -> DataFrame:
    """``(left_sym, right_sym, pair_count)`` of adjacent symbols over a
    ``(cnt, symbols)`` vocabulary relation, weighted by word frequency.
    Adjacent pairs come from zipping two SHIFTED slices (each argument
    of ``zip_with`` is evaluated once — the O(n^2)
    captured-expression-in-lambda trap does not apply to slice
    arguments)."""
    s = F.col("symbols")
    pairs = F.zip_with(
        F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0))),
        F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")))
    return (vocab.select("cnt", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.l").alias("left_sym"),
                     F.col("p.r").alias("right_sym"))
            .agg(F.sum("cnt").alias("pair_count")))


def bpe_pair_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Iteration-0 pair statistics straight off the corpus — the exact
    relation the first merge decision is taken from."""
    wc = word_counts(df, col)
    return pair_counts(
        wc.select("cnt", _char_symbols(F.col("word")).alias("symbols")))


def merge_pair(symbols: Column, left: str, right: str) -> Column:
    """Leftmost-greedy application of one merge to a symbol array: a
    fold that either glues the current symbol onto the accumulator's
    last element (when they form the pair) or appends it.  O(len) per
    word; only literals are captured by the lambda."""
    la, lb = F.lit(left), F.lit(right)

    def step(acc: Column, x: Column) -> Column:
        # F.get is NULL-safe on the empty accumulator (element_at(-1)
        # would throw INVALID_ARRAY_INDEX under spark.sql.ansi.enabled);
        # NULL == la is NULL, which CaseWhen treats as false.
        last = F.get(acc, F.size(acc) - 1)
        merged = F.concat(F.slice(acc, 1, F.size(acc) - 1),
                          F.array(F.concat(last, x)))
        return F.when((F.size(acc) > 0) & (last == la) & (x == lb),
                      merged).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(symbols, F.array().cast("array<string>"), step)


# Largest distinct-word vocabulary whose counts are localized for the
# driver-side merge loop.  Above this the trainer falls back to the
# fully distributed per-iteration loop (same cap philosophy as
# model/bridge.DICT_DRIVER_CAP: driver memory stays bounded; the
# distinct-word relation is Zipf-bounded so real corpora fit).
VOCAB_DRIVER_CAP = 1_000_000


def _apply_merge(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """Leftmost-greedy application of one merge to a symbol tuple —
    driver-side twin of :func:`merge_pair` (parity pinned in
    tests/test_bpe.py)."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return tuple(out)


def _learn_local(word_cnt: list[tuple[str, int]], n_merges: int,
                 min_count: int) -> tuple[list[tuple[str, str, int]],
                                          list[tuple[str, int, list]]]:
    """In-memory merge loop over localized word counts with incremental
    pair-count maintenance: each merge re-counts ONLY the words that
    contain the merged pair (tracked by a pair -> word-index inverted
    map), the standard Sennrich/HF fast-trainer bookkeeping.  O(affected
    symbols) per merge, zero Spark jobs."""
    syms: list[tuple[str, ...]] = [tuple(w) + (END,) for w, _ in word_cnt]
    cnts = [c for _, c in word_cnt]
    pc: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for i, s in enumerate(syms):
        c = cnts[i]
        for j in range(len(s) - 1):
            p = (s[j], s[j + 1])
            pc[p] = pc.get(p, 0) + c
            where.setdefault(p, set()).add(i)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if not pc:
            break
        # total order (count desc, left, right): ties never depend on
        # dict iteration order — bit-identical to the distributed orderBy
        best, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((best[0], best[1], cnt))
        for i in sorted(where.get(best, ())):
            old, c = syms[i], cnts[i]
            new = _apply_merge(old, *best)
            syms[i] = new
            for j in range(len(old) - 1):
                p = (old[j], old[j + 1])
                pc[p] -= c
                if pc[p] <= 0:
                    del pc[p]
                if p in where:
                    where[p].discard(i)
            for j in range(len(new) - 1):
                p = (new[j], new[j + 1])
                pc[p] = pc.get(p, 0) + c
                where.setdefault(p, set()).add(i)
    vocab_rows = [(w, c, list(s))
                  for (w, _), c, s in zip(word_cnt, cnts, syms)]
    return merges, vocab_rows


def _learn_distributed(wc: DataFrame, n_merges: int, min_count: int
                       ) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Per-iteration distributed loop — the above-cap fallback.  Each
    iteration eagerly checkpoints the vocabulary relation: it is
    vocabulary-sized, and the checkpoint both truncates the n-deep
    fold-expression lineage and makes every later iteration read
    materialized symbols instead of recomputing all previous merges."""
    vocab = (wc.select("word", "cnt",
                       _char_symbols(F.col("word")).alias("symbols"))
             .localCheckpoint(eager=True))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (pair_counts(vocab)
               .orderBy(F.col("pair_count").desc(), "left_sym",
                        "right_sym")
               .limit(1).collect())  # 1 row
        if not top or top[0]["pair_count"] < min_count:
            break
        left, right, cnt = (top[0]["left_sym"], top[0]["right_sym"],
                            int(top[0]["pair_count"]))
        merges.append((left, right, cnt))
        vocab = (vocab.withColumn(
            "symbols", merge_pair(F.col("symbols"), left, right))
            .localCheckpoint(eager=True))
    return merges, vocab


def bpe_learn(df: DataFrame, n_merges: int = 8, col: str = "text",
              min_count: int = 2,
              driver_cap: int = VOCAB_DRIVER_CAP
              ) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` merges; returns ``(merges, vocab)`` where
    ``merges`` is ``[(left, right, pair_count), ...]`` in learned order
    and ``vocab`` the final ``(word, cnt, symbols)`` relation (the
    encode-time lookup table).  Stops early when no pair reaches
    ``min_count``.

    One corpus-sized shuffle (the word count), then — when the distinct
    vocabulary fits ``driver_cap`` — a single localization job and an
    in-memory merge loop (see :func:`_learn_local`): total Spark jobs
    O(1), independent of ``n_merges``.  The ``limit(cap + 1)`` probe
    both detects oversize AND yields the rows when small; oversize
    vocabularies run the distributed per-iteration loop instead."""
    wc = word_counts(df, col)
    probe = wc.limit(driver_cap + 1).toPandas()
    if len(probe) > driver_cap:
        return _learn_distributed(wc, n_merges, min_count)
    # deterministic input order for the loop (output is order-free, but
    # keep the localized relation layout-independent anyway)
    pairs = sorted(zip(probe["word"].tolist(),
                       (int(c) for c in probe["cnt"].tolist())))
    merges, vocab_rows = _learn_local(pairs, n_merges, min_count)
    import pandas as pd
    vocab = df.sparkSession.createDataFrame(
        pd.DataFrame(vocab_rows, columns=["word", "cnt", "symbols"]),
        schema="word string, cnt long, symbols array<string>")
    return merges, vocab


def bpe_apply(df: DataFrame, merges: list[tuple[str, str]],
              col: str = "text", id_col: str = "doc_id",
              keep_cols: tuple[str, ...] = (),
              cap: int = APPLY_PROJECTION_MERGE_CAP) -> DataFrame:
    """Tokenize documents with an EXPLICIT ordered merge list — the
    inference half of the tokenizer when the merge table is *shipped*
    (the standard deployment: train once, apply the frozen
    ``merges.txt`` everywhere) rather than re-derived from a vocabulary
    relation like :func:`bpe_encode`.  Returns
    ``(id, n_words, bpe_tokens, n_bpe)`` where ``bpe_tokens`` is the
    per-document symbol sequence (END marker after every word, Sennrich
    §3.2) and ``n_bpe`` its length.

    Scale story (100 TB): a PURE PROJECTION — words → char symbols →
    one leftmost-greedy :func:`merge_pair` fold per merge, all
    built-in higher-order functions nested inside a ``transform`` over
    the word array.  No shuffle, no Python, no broadcast; every merge
    is O(len) per word, so a document costs O(len · n_merges) inside
    whole-stage codegen and the stage parallelizes with the scan.

    Determinism: the fold is leftmost-greedy (driver-side twin
    :func:`_apply_merge`, parity test-pinned), so the output depends
    only on the text and the merge order — never on partitioning.
    Merges may involve the END marker (trainers learn ``(x, </w>)``
    merges routinely — the duality test pins that applying
    ``bpe_learn``'s merge list reproduces ``bpe_encode`` exactly);
    cross-word merges still cannot arise because the fold is per-word.

    The pure-projection trade: expression-tree size is LINEAR in the
    merge count, so lists above ``cap`` (default
    :data:`APPLY_PROJECTION_MERGE_CAP`) are rejected — at that scale
    the broadcast-vocabulary join (:func:`bpe_encode`) or the Arrow
    tokenizer (:func:`bpe_apply_arrow`) is the right tool, not a
    kilometer of nested codegen.  Callers who accept the slow analysis
    on a one-off larger table can raise ``cap`` explicitly (an opt-in
    knob, not a default — Catalyst analysis time grows superlinearly
    past a few hundred nested folds, and the analyzer's own
    ``maxIterations`` limit is the hard wall shortly past the default
    cap; for genuinely large tables use :func:`bpe_apply_arrow` or
    :func:`bpe_encode`)."""
    if not merges:
        raise ValueError("merges must be a non-empty ordered list")
    if len(merges) > cap:
        raise ValueError(
            f"{len(merges)} merges exceed the pure-projection cap "
            f"({cap}): the nested-fold "
            f"expression tree grows linearly in merge count and would "
            f"blow Catalyst analysis/codegen limits — materialize a "
            f"vocabulary (bpe_learn) and tokenize with bpe_encode's "
            f"broadcast join instead")
    for m in merges:
        if len(m) != 2 or not m[0] or not m[1]:
            raise ValueError(f"invalid merge pair: {m!r}")

    def word_syms(w: Column) -> Column:
        syms = _char_symbols(w)
        for a, b in merges:
            syms = merge_pair(syms, a, b)
        return syms

    # The fold is per-row and partition-independent (see Determinism
    # above), but its O(len · n_merges) compute inherits the SCAN's
    # split count — a small or row-group-bound file yields fewer splits
    # than the cluster has slots and the whole stage serializes onto
    # those cores (measured: the 5000-doc bench corpus scans as ONE
    # partition, so the 160-merge fold ran single-threaded).  Spread it
    # first; at real scale the scan already has >= defaultParallelism
    # splits and this is a no-op (r12, §2: derive parallelism from the
    # input, don't inherit an accident of file layout).
    # (streaming callers skip the guard: a micro-batch's partitioning
    # is the source's to decide, and .rdd is illegal pre-start)
    sc = df.sparkSession.sparkContext
    if (not df.isStreaming
            and df.rdd.getNumPartitions() < sc.defaultParallelism):
        df = df.repartition(sc.defaultParallelism)
    # NULL text tokenizes to the empty document, not NULL (CDC-friendly)
    words = F.coalesce(_words(col), F.array().cast("array<string>"))
    toks = F.flatten(F.transform(words, word_syms))
    return (df.select(F.col(id_col), *[F.col(c) for c in keep_cols],
                      F.size(words).alias("n_words"),
                      toks.alias("bpe_tokens"))
            .withColumn("n_bpe", F.size("bpe_tokens")))


def _sequential_merge_passes(word: str, merges: list[tuple[str, str]],
                             ranks: dict[tuple[str, str], int]
                             ) -> tuple[str, ...]:
    """Driver/executor-side tokenizer with EXACTLY :func:`bpe_apply`'s
    sequential-pass semantics — each merge applied leftmost-greedily
    ONCE, at its own turn, in merge order — but lazily: a rank-ordered
    heap of merges whose pair is (or becomes) adjacent, so cost is
    O(len + fired·len) instead of O(n_merges·len) per word.

    The lazy schedule is exact, not approximate: adjacency only changes
    when a merge fires, so a pair adjacent at its turn was either
    adjacent initially (pushed by the opening scan) or created by an
    earlier-rank merge (pushed by that merge's rescan).  Pairs a LATER
    merge creates for an EARLIER rank are deliberately NOT pushed —
    that turn has passed, which is where these semantics differ from
    the GPT-2-style min-rank-first loop (test-pinned)."""
    import heapq

    syms: list[str] = list(word) + [END]
    heap: list[int] = []
    seen: set[int] = set()
    for i in range(len(syms) - 1):
        r = ranks.get((syms[i], syms[i + 1]))
        if r is not None and r not in seen:
            seen.add(r)
            heapq.heappush(heap, r)
    while heap:
        r = heapq.heappop(heap)
        a, b = merges[r]
        out: list[str] = []
        changed = False
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
                changed = True
            else:
                out.append(x)
        if not changed:
            continue
        syms = out
        for i in range(len(syms) - 1):
            nr = ranks.get((syms[i], syms[i + 1]))
            if nr is not None and nr > r and nr not in seen:
                seen.add(nr)
                heapq.heappush(heap, nr)
    return tuple(syms)


def bpe_apply_arrow(df: DataFrame, merges: list[tuple[str, str]],
                    col: str = "text", id_col: str = "doc_id",
                    keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Tokenize with a LARGE shipped merge table — the Arrow
    ``mapInPandas`` twin of :func:`bpe_apply` for the regime past
    :data:`APPLY_PROJECTION_MERGE_CAP` (production 32k-merge
    tokenizers), where nesting one fold per merge would blow Catalyst
    analysis limits.  Same output shape and BIT-IDENTICAL tokens
    (parity test-pinned, including the later-merge-creates-earlier-pair
    edge where these semantics differ from the GPT-2 min-rank loop).

    Scale story (100 TB): words are split JVM-side (the same
    ``lower_words`` expression as every learned-text operator — Python
    never re-implements the normalization), then ONE corpus-sized
    ``mapInPandas`` projection tokenizes Arrow batches with a
    per-partition distinct-word cache (Zipf: most lookups hit), a
    rank-heap per cache miss (O(len + fired·len), independent of the
    merge-table size), and the ranks dict shipped once per task in the
    closure (~MBs for 32k merges).  No shuffle, no driver round-trip;
    the stage parallelizes with the scan exactly like
    :func:`bpe_apply`'s codegen path.

    Duplicate pairs in ``merges`` are rejected: the lazy schedule keys
    merges by pair, and no real merge table repeats one (bpe_learn
    cannot emit one — merging a pair destroys it)."""
    if not merges:
        raise ValueError("merges must be a non-empty ordered list")
    for m in merges:
        if len(m) != 2 or not m[0] or not m[1]:
            raise ValueError(f"invalid merge pair: {m!r}")
    pairs = [(str(a), str(b)) for a, b in merges]
    ranks = {p: i for i, p in enumerate(pairs)}
    if len(ranks) != len(pairs):
        raise ValueError("duplicate merge pairs are not supported")

    from pyspark.sql import types as T

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[id_col]] + [in_fields[c] for c in keep_cols]
        + [T.StructField("n_words", T.IntegerType()),
           T.StructField("bpe_tokens", T.ArrayType(T.StringType())),
           T.StructField("n_bpe", T.IntegerType())])
    cols = [id_col, *keep_cols]
    words = F.coalesce(_words(col), F.array().cast("array<string>"))
    src = df.select(*[F.col(c) for c in cols], words.alias("__words"))

    def fn(batches):
        import pandas as pd
        cache: dict[str, tuple[str, ...]] = {}
        for pdf in batches:
            toks: list[list[str]] = []
            nw: list[int] = []
            for ws in pdf["__words"]:
                ws = [] if ws is None else list(ws)
                doc: list[str] = []
                for w in ws:
                    t = cache.get(w)
                    if t is None:
                        t = _sequential_merge_passes(w, pairs, ranks)
                        cache[w] = t
                    doc.extend(t)
                toks.append(doc)
                nw.append(len(ws))
            out = pdf[cols].copy()
            out["n_words"] = pd.array(nw, dtype="int32")
            out["bpe_tokens"] = pd.Series(toks, index=pdf.index,
                                          dtype=object)
            out["n_bpe"] = pd.array([len(t) for t in toks],
                                    dtype="int32")
            yield out

    return src.mapInPandas(fn, out_schema)


def bpe_encode(df: DataFrame, vocab: DataFrame, col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Tokenize documents with a learned vocabulary: explode words,
    broadcast-join the ``(word, symbols)`` table, reassemble per
    document in word order.  Returns ``(id, bpe_tokens, n_bpe)``.
    Words unseen at train time fall back to their character symbols
    (no merges apply — the standard open-vocabulary fallback)."""
    pos_words = df.select(
        F.col(id_col),
        F.posexplode(_words(col)).alias("pos", "word"))
    joined = pos_words.join(
        F.broadcast(vocab.select("word", "symbols")), "word",
        "left_outer")
    syms = F.coalesce(F.col("symbols"),
                      _char_symbols(F.col("word")))
    return (joined
            .select(id_col, "pos", syms.alias("s"))
            .groupBy(id_col)
            .agg(F.flatten(F.array_sort(
                F.collect_list(F.struct("pos", "s"))).getField("s"))
                .alias("bpe_tokens"))
            .withColumn("n_bpe", F.size("bpe_tokens")))


def vocab_coverage(df: DataFrame, vocab: DataFrame,
                   col: str = "text", id_col: str = "doc_id",
                   word_col: str = "word") -> DataFrame:
    """Tokenizer-vocabulary coverage audit: per document, how many word
    tokens fall OUTSIDE the vocabulary — the QA gate run before
    shipping a tokenizer (an OOV-heavy corpus slice means the vocab was
    trained on the wrong distribution) and after ingesting a new source
    (drift shows up as a coverage drop before it shows up in loss).

    Returns ``(id, n_words, n_oov, oov_rate)``.  The vocabulary is the
    ``word_counts``/``bpe_learn`` word relation (Zipf-bounded, so it
    BROADCASTS — the join adds no shuffle; the only corpus-sized work
    is the word explode, which the pre-aggregation to per-(doc, word)
    counts keeps as one map-side-combinable groupBy).  Empty/NULL texts
    audit as 0-word documents with ``oov_rate`` NULL, not a crash.
    """
    words = (df.select(F.col(id_col),
                       F.explode(_words(col)).alias("__w__"))
             .groupBy(id_col, "__w__")
             .agg(F.count(F.lit(1)).alias("__n__")))
    vocab_words = vocab.select(F.col(word_col).alias("__w__")).distinct()
    hit = words.join(F.broadcast(vocab_words.withColumn("__in__", F.lit(1))),
                     "__w__", "left_outer")
    per_doc = (hit.groupBy(id_col).agg(
        F.sum("__n__").alias("n_words"),
        F.sum(F.when(F.col("__in__").isNull(), F.col("__n__"))
              .otherwise(F.lit(0))).alias("n_oov")))
    base = df.select(id_col).distinct()
    return (base.join(per_doc, id_col, "left_outer")
            .select(F.col(id_col),
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_oov", F.lit(0)).alias("n_oov"))
            .withColumn(
                "oov_rate",
                F.when(F.col("n_words") > 0,
                       F.round(F.col("n_oov") / F.col("n_words"), 6))))


def save_merges(merges: list[tuple[str, str]] | list[tuple[str, str, int]],
                path: str) -> None:
    """Write a merge table in the standard ``merges.txt`` format
    (Sennrich's ``apply_bpe``/HuggingFace convention: a ``#version``
    header, then one space-separated pair per line, in learned order).
    Accepts bpe_learn's (left, right, count) triples or bare pairs;
    counts are not part of the format and are dropped.

    Symbols containing space or newline are refused — the line format
    cannot represent them (our whitespace word-splitter can never emit
    one, but a hand-built table could)."""
    lines = ["#version: 0.2 (scardina_spark)"]
    for m in merges:
        a, b = m[0], m[1]
        if any(ch in s for s in (a, b) for ch in (" ", "\n", "\t")):
            raise ValueError(f"merge pair {(a, b)!r} contains "
                             f"whitespace — not representable in "
                             f"merges.txt")
        lines.append(f"{a} {b}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def load_merges(path: str) -> list[tuple[str, str]]:
    """Read a standard ``merges.txt`` (``#``-prefixed header/comment
    lines skipped, one space-separated pair per line, order
    preserved)."""
    out: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            parts = line.split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(f"malformed merges.txt line: {line!r}")
            out.append((parts[0], parts[1]))
    return out
