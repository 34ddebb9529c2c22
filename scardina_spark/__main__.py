"""Command-line surface (the reference's run.py analog).

    python -m scardina_spark prep      --sf-dir DIR --cache-dir DIR
    python -m scardina_spark estimate  --sf-dir DIR --sql "SELECT COUNT(*) ..."
                                       [--estimator sample|stitch|exact|nar-ur|nar-cin]
                                       [--hybrid zero|ci]
    python -m scardina_spark bench     --sf-dir DIR [--out results.json]
    python -m scardina_spark train     --sf-dir DIR --table lineitem
                                       --columns a,b,c --out model.npz
                                       [--arch mlp|trm] [--epochs N]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark():
    from .session import get_spark
    s = get_spark("scardina-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s



def _resolve_schema_tables(spark, args):
    """Schema registry for the CLI: tpch (testdata), jobm (derived
    shipments fact), imdb / imdb-full (the shipped reference schemas,
    datasets_imdb.py — point --sf-dir at the JOB CSV export or its
    staged parquet).  Returns (sg, tables, default_root)."""
    name = getattr(args, "schema", "tpch")
    if name == "jobm":
        from .jobm import build_jobm_schema, load_jobm_tables
        return (build_jobm_schema(), load_jobm_tables(spark, args.sf_dir),
                "shipments")
    if name in ("imdb", "imdb-full"):
        from .datasets_imdb import (build_imdb_schema,
                                    build_job_light_schema,
                                    load_imdb_tables)
        sg = (build_job_light_schema() if name == "imdb"
              else build_imdb_schema())
        return sg, load_imdb_tables(spark, args.sf_dir, schema=sg), \
            "cast_info"
    from .catalog import build_tpch_schema, load_tables
    return (build_tpch_schema(), load_tables(spark, args.sf_dir),
            "lineitem")


def _schema_root(args, default_root: str) -> str:
    """The --root default is the tpch fact table; swap it for the
    schema's own fact root unless the user overrode it."""
    root = getattr(args, "root", None)
    if root is None or (root == "lineitem"
                        and default_root != "lineitem"):
        return default_root
    return root


def cmd_prep(args) -> int:
    from .catalog import build_tpch_schema, load_tables
    from .estimators.sample import spanning_tree
    from .operators.pipeline import PrepPipeline
    spark = _spark()
    sg, tables, default_root = _resolve_schema_tables(spark, args)
    root = _schema_root(args, default_root)
    pipe = PrepPipeline(spark, args.cache_dir)
    out = pipe.tables_with_fanouts(sg, tables)
    tree = spanning_tree(sg, root)
    samp = pipe.weighted_sample(tree, out, root, args.sample_size)
    print(json.dumps({"stages": ["base_tables_with_fanouts", "joined_samples"],
                      "sample_rows": samp.count(),
                      "cache_dir": args.cache_dir}))
    return 0


def cmd_estimate(args) -> int:
    from .catalog import build_tpch_schema, load_tables
    from .estimators import (ExactEstimator, SampleEstimator,
                             StitchedEstimator, prepare_tree_sample)
    from .estimators.sample import cin_tree, spanning_tree
    if getattr(args, "model", None):
        # serve from a checkpoint: no Spark prep, no training
        from .model.join_bridge import load_join_estimator
        t0 = time.perf_counter()
        est = load_join_estimator(args.model)
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        card = est.estimate(args.sql)
        ms = (time.perf_counter() - t0) * 1000
        print(json.dumps({"estimate": card, "estimator": est.name,
                          "prep_sec": round(prep_s, 2),
                          "query_ms": round(ms, 2)}))
        return 0
    spark = _spark()
    jobm = getattr(args, "schema", "tpch") == "jobm"
    imdb = getattr(args, "schema", "tpch").startswith("imdb")
    sg, tables, default_root = _resolve_schema_tables(spark, args)
    root = _schema_root(args, default_root)
    t0 = time.perf_counter()
    if args.estimator == "exact":
        est = ExactEstimator(sg, tables)
    elif args.estimator in ("sample", "stitch"):
        cls = SampleEstimator if args.estimator == "sample" else StitchedEstimator
        est = cls()
        if jobm:
            from .jobm import JM_HT_N_MAX, jm_sample_trees
            for t in jm_sample_trees():
                est.add(prepare_tree_sample(t, tables, "shipments",
                                            n_max=JM_HT_N_MAX,
                                            seed=args.seed).localize())
        else:
            est.add(prepare_tree_sample(spanning_tree(sg, root), tables,
                                        root, seed=args.seed).localize())
        if args.estimator == "stitch":
            stitch_centers = (
                ("movie_companies", "movie_info", "movie_keyword",
                 "movie_info_idx") if imdb
                else ("customer", "nation", "supplier"))
            for center in stitch_centers:
                est.add(prepare_tree_sample(cin_tree(sg, center), tables,
                                            center, seed=args.seed).localize())
    elif args.estimator == "nar-ur":
        from .benchmarks import UR_MODEL_COLUMNS
        from .model import TrainConfig
        from .model.join_bridge import train_join_estimator
        ts = prepare_tree_sample(spanning_tree(sg, root), tables,
                                 root, seed=args.seed)
        est = train_join_estimator(
            ts, UR_MODEL_COLUMNS,
            TrainConfig(epochs=args.epochs, seed=args.seed,
                        smaller_emb=getattr(args, "smaller_emb", "")),
            fact_threshold=8, arch=args.arch)
    elif args.estimator == "nar-cin":
        from .benchmarks import CIN_MODEL_COLUMNS
        from .estimators.cin import build_cin_estimator
        from .model import TrainConfig
        est = build_cin_estimator(
            sg, tables, CIN_MODEL_COLUMNS,
            lambda center: TrainConfig(
                epochs=args.epochs, seed=args.seed,
                smaller_emb=getattr(args, "smaller_emb", "")),
            max_rows=32_000, fact_threshold=8, seed=args.seed,
            arch=args.arch)
    else:
        print(f"unknown estimator: {args.estimator}", file=sys.stderr)
        return 2
    if getattr(args, "eval_disable_skip_high_card_cols", False):
        learned = ([est] if hasattr(est, "ts") else
                   getattr(est, "models", []))
        if not learned:
            print("--eval-disable-skip-high-card-cols applies to the "
                  "learned estimators (nar-*)", file=sys.stderr)
            return 2
        for m in learned:
            m.skip_high_card_cols = False
    if getattr(args, "hybrid", None) and not args.estimator.startswith("nar"):
        print("--hybrid applies to the learned estimators (nar-*)",
              file=sys.stderr)
        return 2
    if getattr(args, "hybrid", None):
        # the learned estimator's own training samples as the checker;
        # stitching lets it check chained CIN queries too
        from .estimators import HybridEstimator
        checker = StitchedEstimator()
        for ts in getattr(est, "samples", None) or [est.ts]:
            checker.add(ts.localize())
        est = HybridEstimator(est, checker, name=f"{est.name}+{args.hybrid}",
                              mode=args.hybrid)
    prep_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    card = est.estimate(args.sql)
    ms = (time.perf_counter() - t0) * 1000
    print(json.dumps({"estimate": card, "estimator": est.name,
                      "prep_sec": round(prep_s, 2),
                      "query_ms": round(ms, 2)}))
    return 0


def cmd_explain(args) -> int:
    """Print the physical plan of a registered contract query — the
    per-operator `.explain` loop the scale docs (SCALE.md) are pinned
    against, exposed for ad-hoc inspection.

    Note: side-effecting queries (the st* streaming entries, and the
    estimator e* entries that train) execute that work during plan
    construction — their "explain" is not free."""
    from . import queries as Q
    qs = Q.queries()
    if args.query not in qs:
        print(f"unknown query {args.query!r}; one of: "
              + " ".join(sorted(qs)), file=sys.stderr)
        return 2
    df = qs[args.query](_spark(), args.sf_dir)
    print(df._jdf.queryExecution().explainString(
        _spark()._jvm.org.apache.spark.sql.execution
        .ExplainMode.fromString(args.mode)))
    return 0


def cmd_layout(args) -> int:
    """Rewrite a table parquet clustered on the given columns (linear
    sort or Z-order) and report the footer-level pruning quality."""
    from .catalog import load_table
    from .operators.layout import (
        overlap_fraction, row_group_ranges, write_sorted, write_zordered)
    spark = _spark()
    df = load_table(spark, args.sf_dir, args.table)
    cols = [c.strip() for c in args.cols.split(",")]
    if args.zorder:
        write_zordered(df, args.out, cols, bits=args.bits,
                       n_files=args.n_files)
    else:
        write_sorted(df, args.out, cols, n_files=args.n_files)
    report = {
        "out": args.out, "cols": cols,
        "mode": "zorder" if args.zorder else "sorted",
        "overlap_fraction": {
            c: round(overlap_fraction(row_group_ranges(args.out, c)), 4)
            for c in cols},
    }
    print(json.dumps(report))
    return 0


def cmd_export_subqueries(args) -> int:
    """Record exact per-subquery truths for the generated suites — the
    reference's subquery-export protocol (run.py:980-990 +
    benchmarks/imdb/job-light_subqueries.csv format; protocol, NOT
    code).  DuckDB-only: no Spark session needed."""
    from .benchmarks import (
        duckdb_connection, job_light_suite, perror_suite)
    from .estimators.subqueries import (
        export_subqueries_csv, subqueries_csv_path)
    from .jobm import job_m_suite, jobm_duckdb_connection

    if args.out and args.benchmark == "all":
        print("--out requires a single --benchmark (the three suites "
              "would overwrite each other at one path)", file=sys.stderr)
        return 2
    report = {}
    if args.benchmark in ("job-light", "all"):
        out = args.out or subqueries_csv_path(args.sf_dir, "job-light")
        n = export_subqueries_csv(job_light_suite(),
                                  duckdb_connection(args.sf_dir), out)
        report["job-light"] = {"rows": n, "out": out}
    if args.benchmark in ("job-light-ext", "all"):
        out = args.out or subqueries_csv_path(args.sf_dir, "job-light-ext")
        n = export_subqueries_csv(perror_suite(),
                                  duckdb_connection(args.sf_dir), out)
        report["job-light-ext"] = {"rows": n, "out": out}
    if args.benchmark in ("job-m", "all"):
        out = args.out or subqueries_csv_path(args.sf_dir, "job-m")
        n = export_subqueries_csv(job_m_suite(),
                                  jobm_duckdb_connection(args.sf_dir), out)
        report["job-m"] = {"rows": n, "out": out}
    print(json.dumps(report))
    return 0


def cmd_pg_perror(args) -> int:
    """Score PostgreSQL's native estimator (and the live planner's own
    cost model) against the recorded per-subquery truth artifact — the
    reference's PPC evaluation against a REAL server (run.py:992-1008
    protocol; estimators/pg.py for the vanilla-Postgres split).  Pure
    psql traffic: no Spark session needed."""
    from .benchmarks import perror_suite
    from .estimators.perror import p_error, to_sql
    from .estimators.pg import (ensure_server, load_sf_tables,
                                pg_plan_error, row_estimates)
    from .estimators.subqueries import (load_subqueries_csv,
                                        recorded_truth_fn,
                                        subqueries_csv_path)
    from .plans.parse import parse_query

    srv = ensure_server()
    db = load_sf_tables(srv, args.sf_dir)
    rows = load_subqueries_csv(
        subqueries_csv_path(args.sf_dir, "job-light-ext"))
    true_fn = recorded_truth_fn(rows)
    ests = row_estimates(srv, db, [r["sql"] for r in rows])
    card = {r["sql"]: e for r, e in zip(rows, ests)}
    qs = sorted(max(max(e, 1.0) / max(r["card"], 1.0),
                    max(r["card"], 1.0) / max(e, 1.0))
                for e, r in zip(ests, rows))

    def est_fn(frag):
        return card[to_sql(frag)]

    pes, pes_live, forced_ok = [], [], 0
    from .estimators.perror import connected_subsets, fragment
    for name, sql in perror_suite().items():
        pq = parse_query(sql)
        pes.append(max(p_error(pq, est_fn, true_fn),
                       p_error(pq, est_fn, true_fn, cost_model="smj")))
        est_cards, true_cards = {}, {}
        for s in connected_subsets(pq):
            if len(s) < 2:
                continue
            frag = fragment(pq, s)
            true_cards[s] = float(true_fn(frag))
            est_cards[s] = float(est_fn(frag))
        r = pg_plan_error(srv, db, pq, est_cards, true_cards)
        pes_live.append(r["pe_pg"])
        forced_ok += int(r["order_respected"])
    n = len(qs)
    print(json.dumps({
        "sf_dir": args.sf_dir, "n_subqueries": n,
        "pg_native_subq_qerror_p50": round(qs[n // 2], 4),
        "pg_native_subq_qerror_p90": round(qs[int(n * 0.9)], 4),
        "pg_native_subq_qerror_max": round(qs[-1], 4),
        "pg_native_perror_max": round(max(pes), 4),
        "pg_native_perror_flips": sum(1 for x in pes if x > 1.0001),
        "pg_native_live_pe_max": round(max(pes_live), 4),
        "forced_plans_ok": forced_ok, "n_queries": len(pes),
    }))
    return 0


def cmd_curate(args) -> int:
    """Run the composed curation pipeline (decontam → repetition gate →
    quality/lang/dedup/budget → packing) over the documents table and
    write the packed selection as parquet."""
    from .catalog import load_table
    from .operators.curate import curate_corpus
    from .operators.packing import pack_stats
    spark = _spark()
    docs = load_table(spark, args.sf_dir, "documents")
    out = curate_corpus(
        docs, seq_len=args.seq_len, bench_source=args.bench_source,
        ngram=args.ngram, max_contamination=args.max_contamination,
        min_quality=args.min_quality,
        langs=tuple(args.langs.split(",")),
        token_budget=args.token_budget,
        gopher_rules=args.gopher_rules,
        repetition_battery=args.repetition_battery)
    out.orderBy("doc_id").write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    n_docs = back.count()
    stats = pack_stats(back, args.seq_len).first()
    print(json.dumps({"out": args.out, "n_docs": int(n_docs),
                      "n_tokens": int(stats["total_tokens"] or 0),
                      "n_packs": int(stats["n_packs"] or 0),
                      "seq_len": args.seq_len}))
    return 0


def cmd_chunk(args) -> int:
    """Split the documents table into overlapping token windows and
    write the chunk relation as parquet."""
    from .catalog import load_table
    from .operators.packing import chunk_documents
    spark = _spark()
    docs = load_table(spark, args.sf_dir, "documents")
    out = chunk_documents(docs, args.chunk_tokens, args.overlap_tokens)
    out.orderBy("doc_id", "chunk_id").write.mode("overwrite") \
        .parquet(args.out)
    from pyspark.sql import functions as F
    stats = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct("doc_id").alias("n_docs")).first()
    print(json.dumps({
        "out": args.out, "n_chunks": int(stats["n_chunks"]),
        "n_docs": int(stats["n_docs"]),
        "chunk_tokens": args.chunk_tokens,
        "overlap_tokens": args.overlap_tokens}))
    return 0


def cmd_semdedup(args) -> int:
    """SemDeDup the embeddings table (k-means-cell-confined cosine
    dedup) and write the kept rows as parquet."""
    from .catalog import load_table
    from .operators import similarity as SIM
    spark = _spark()
    emb = load_table(spark, args.sf_dir, "embeddings")
    n = emb.count()
    k = args.cells or SIM.derive_ivf_params(n)[0]
    cents = SIM.ivf_train(emb, k=k, iters=args.iters)
    flags = SIM.semdedup_flags(emb, cents, threshold=args.threshold)
    flags.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    kept = back.where("kept").count()
    print(json.dumps({
        "out": args.out, "n": int(n), "kept": int(kept),
        "dropped": int(n - kept), "cells": int(k),
        "threshold": args.threshold}))
    return 0


def cmd_tokenize(args) -> int:
    """BPE-tokenize the documents table: learn a merge table (or apply
    a frozen one from ``--merges a,r;t,h;th,e``) and write the per-doc
    token relation as parquet."""
    from pyspark.sql import functions as F

    from .catalog import load_table
    from .operators.bpe import (APPLY_PROJECTION_MERGE_CAP, bpe_apply,
                                bpe_apply_arrow, bpe_learn, load_merges,
                                save_merges)
    spark = _spark()
    docs = load_table(spark, args.sf_dir, "documents")
    if getattr(args, "merges_file", None):
        merges = load_merges(args.merges_file)
        learned = 0
    elif args.merges:
        merges = [tuple(m.split(",", 1)) for m in args.merges.split(";")]
        learned = 0
    else:
        pairs, _ = bpe_learn(docs, n_merges=args.n_merges)
        merges = [(a, b) for a, b, _ in pairs]
        learned = len(merges)
    if getattr(args, "merges_out", None):
        save_merges(merges, args.merges_out)
    # large shipped tables take the Arrow tokenizer automatically (the
    # codegen projection is capped; semantics are parity-pinned)
    apply_fn = (bpe_apply_arrow
                if len(merges) > APPLY_PROJECTION_MERGE_CAP
                else bpe_apply)
    out = apply_fn(docs, merges, keep_cols=("source",))
    out.write.mode("overwrite").parquet(args.out)
    stats = spark.read.parquet(args.out).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("total_tokens")).first()
    print(json.dumps({
        "out": args.out, "n_docs": int(stats["n_docs"]),
        "total_tokens": int(stats["total_tokens"]),
        "n_merges": len(merges), "learned": learned,
        "tokenizer": apply_fn.__name__,
        "merges_out": getattr(args, "merges_out", None)}))
    return 0


def cmd_scd2(args) -> int:
    """Build (or incrementally extend) an SCD2 dimension history from
    the events table and write it as parquet."""
    from pyspark.sql import functions as F

    from .catalog import load_table
    from .operators.scd import scd2_history, scd2_merge
    spark = _spark()
    ev = load_table(spark, args.sf_dir, "events")
    if args.merge_into:
        if not args.since:
            raise SystemExit("--merge-into requires --since TS: the "
                             "boundary defines which events form the "
                             "delta feed (a history built with "
                             "--last-seen additionally upgrades the "
                             "append-only gate to an exact per-key "
                             "check)")
        hist = spark.read.parquet(args.merge_into)
        delta = ev.where(F.col(args.ts) >= F.lit(args.since)
                         .cast("timestamp"))
        out = scd2_merge(hist, delta, args.key, args.attr, args.ts,
                         [args.tiebreak], since=args.since)
    else:
        if args.until:
            ev = ev.where(F.col(args.ts) < F.lit(args.until)
                          .cast("timestamp"))
        out = scd2_history(ev, args.key, args.attr, args.ts,
                           [args.tiebreak],
                           with_last_seen=args.last_seen)
    out.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    stats = back.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("n_events").alias("n_events"),
        F.sum(F.col("is_current").cast("long")).alias("n_open")).first()
    print(json.dumps({
        "out": args.out, "n_intervals": int(stats["n_intervals"]),
        "n_events": int(stats["n_events"]),
        "n_open": int(stats["n_open"]),
        "merged": bool(args.merge_into)}))
    return 0


def cmd_drift(args) -> int:
    """Distribution-drift check between two slices of a table: KS on a
    numeric/ordinal column, chi-square on a categorical one."""
    from pyspark.sql import functions as F

    from .catalog import load_table
    from .operators.profile import chisq_drift, ks_drift
    spark = _spark()
    df = load_table(spark, args.sf_dir, args.table)
    a = df.where(F.col(args.split_col) == F.lit(args.split_val))
    b = df.where(F.col(args.split_col) != F.lit(args.split_val))
    if args.test == "ks":
        r = ks_drift(a, b, args.col).first()
        print(json.dumps({
            "test": "ks", "table": args.table, "col": args.col,
            "n_a": r["n_a"], "n_b": r["n_b"],
            "d_stat": r["d_stat"], "at_value": str(r["at_value"])}))
    else:
        r = chisq_drift(a, b, args.col).first()
        print(json.dumps({
            "test": "chisq", "table": args.table, "col": args.col,
            "n_a": r["n_a"], "n_b": r["n_b"], "dof": r["dof"],
            "chi2": r["chi2"]}))
    return 0


def cmd_ann(args) -> int:
    """ANN search over the embeddings table by any family member:
    exact / LSH (optionally multi-probe) / IVF / PQ (ADC + refine)."""
    from pyspark.sql import functions as F

    from .catalog import load_table
    from .operators import similarity as SIM
    spark = _spark()
    emb = load_table(spark, args.sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(
        F.col("vec_id") == args.query_id).first()["embedding"]]
    if args.method == "exact":
        out = SIM.topk_cosine(emb, qv, args.k)
    elif args.method == "lsh":
        out = SIM.topk_cosine_lsh(emb, qv, args.k,
                                  probe_hamming=args.probe_hamming)
    elif args.method == "ivf":
        out = SIM.topk_cosine_ivf(emb, qv, args.k, nprobe=args.nprobe)
    elif args.method == "pq":
        books = SIM.pq_train(emb, m=args.pq_m, k_codes=args.pq_codes,
                             iters=2)
        enc = SIM.pq_encode(emb, books)
        out = SIM.pq_topk_rerank(enc, emb, books, qv, args.k,
                                 shortlist=args.shortlist)
    else:  # ivfpq: pruned cells scanning compressed codes
        e2 = emb.select("vec_id", "embedding")
        if getattr(args, "index", None):
            import os
            if not os.path.exists(os.path.join(args.index, "codes")):
                ivfx, pqx = SIM.ivfpq_build_index(
                    e2, n_cells=8, m=args.pq_m, k_codes=args.pq_codes)
                SIM.ivfpq_save_index(ivfx, pqx, args.index)
            out = SIM.topk_cosine_ivfpq_indexed(
                spark, args.index, qv, e2, args.k,
                nprobe=args.nprobe, shortlist=args.shortlist)
        else:
            ivfx, pqx = SIM.ivfpq_build_index(
                e2, n_cells=8, m=args.pq_m, k_codes=args.pq_codes)
            out = SIM.topk_cosine_ivfpq(ivfx, pqx, qv, e2, args.k,
                                        nprobe=args.nprobe,
                                        shortlist=args.shortlist)
    rows = out.collect()
    score = [c for c in out.columns if c != "vec_id"][0]
    print(json.dumps({"method": args.method, "k": args.k,
                      "hits": [{"vec_id": r["vec_id"],
                                score: r[score]} for r in rows]}))
    return 0


def cmd_shard(args) -> int:
    """Plan balanced output shards by token budget and write the corpus
    partitioned by shard."""
    from pyspark.sql import functions as F

    from .catalog import load_table
    from .operators.packing import shard_plan
    from .operators.textstats import lower_words
    spark = _spark()
    docs = load_table(spark, args.sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.size(F.coalesce(lower_words("text"),
                                         F.array().cast("array<string>")))
                       .alias("n_toks"))
    plan = shard_plan(toks, n_shards=args.n_shards)
    (docs.join(plan.select("doc_id", "shard"), "doc_id")
     .write.partitionBy("shard").mode("overwrite").parquet(args.out))
    stats = (spark.read.parquet(args.out)
             .join(plan.select("doc_id", "n_toks"), "doc_id")
             .groupBy("shard").agg(F.sum("n_toks").alias("toks"),
                                   F.count(F.lit(1)).alias("docs"))
             .orderBy("shard").collect())
    print(json.dumps({"out": args.out, "n_shards": args.n_shards,
                      "shards": [{"shard": r["shard"],
                                  "docs": r["docs"],
                                  "tokens": int(r["toks"])}
                                 for r in stats]}))
    return 0


def cmd_outliers(args) -> int:
    """Robust per-group outlier report (median/MAD modified z)."""
    from pyspark.sql import functions as F

    from .catalog import load_table
    from .operators.profile import robust_outliers
    spark = _spark()
    df = load_table(spark, args.sf_dir, args.table)
    out = robust_outliers(df, args.key, args.col, z_cut=args.z_cut)
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_outlier").cast("int")).alias("flagged")).first()
    print(json.dumps({"table": args.table, "key": args.key,
                      "col": args.col, "z_cut": args.z_cut,
                      "n_rows": row["n"],
                      "n_outliers": int(row["flagged"])}))
    return 0


def cmd_bench(args) -> int:
    from .catalog import build_tpch_schema, load_tables
    from .estimators import ExactEstimator, SampleEstimator, prepare_tree_sample
    from .estimators.sample import spanning_tree
    from .queries import BENCH_QUERIES
    from .runner import load_benchmark_csv, run_benchmark
    spark = _spark()
    sg, tables, default_root = _resolve_schema_tables(spark, args)
    if args.model:
        # the reference's eval workflow (run.py:770-788): load a trained
        # checkpoint and run the whole benchmark against it
        import os
        if os.path.exists(os.path.join(args.model, "cin.json")):
            from .estimators.cin import load_cin_estimator
            est = load_cin_estimator(args.model, sg=sg)
        else:
            from .model.join_bridge import load_join_estimator
            est = load_join_estimator(args.model, sg=sg)
    elif getattr(args, "schema", "tpch") == "jobm":
        from .jobm import JM_HT_N_MAX, jm_sample_trees
        est = SampleEstimator(name="jm-ht")
        for t in jm_sample_trees():
            est.add(prepare_tree_sample(t, tables, "shipments",
                                        n_max=JM_HT_N_MAX,
                                        seed=args.seed).localize())
    else:
        est = SampleEstimator()
        root = _schema_root(args, default_root)
        est.add(prepare_tree_sample(spanning_tree(sg, root), tables,
                                    root, seed=args.seed).localize())
    if args.benchmark_csv:
        # reference benchmark format: ``true_cardinality,sql`` rows
        # (scardina/run.py:791-794); empty truth fields are computed exactly
        entries = load_benchmark_csv(args.benchmark_csv)
        queries = {f"q{i}": sql for i, (_, sql) in enumerate(entries)}
        truths = {f"q{i}": t for i, (t, _) in enumerate(entries)
                  if t is not None}
        rep = run_benchmark(est, queries, truths=truths or None,
                            truth_fn=ExactEstimator(sg, tables).estimate,
                            skip_unsupported=True)
    else:
        rep = run_benchmark(est, BENCH_QUERIES,
                            truth_fn=ExactEstimator(sg, tables).estimate,
                            skip_unsupported=bool(args.model))
    summary = {"estimator": rep.estimator, **rep.summary}
    if args.perror:
        # plan quality (the reference's eval_ppc workflow, run.py:
        # 1011-1127, self-contained): C_out p-error over left-deep join
        # orders, sub-query truths from the DuckDB oracle, estimates
        # memoized per distinct fragment
        from .benchmarks import duckdb_connection
        from .estimators.perror import p_error, to_sql
        from .plans.parse import parse_query
        con = duckdb_connection(args.sf_dir)
        truth_cache: dict[str, float] = {}
        est_cache: dict[str, float] = {}

        def true_fn(frag):
            s = to_sql(frag)
            if s not in truth_cache:
                truth_cache[s] = con.sql(s).fetchone()[0]
            return truth_cache[s]

        def est_fn(frag):
            s = to_sql(frag)
            if s not in est_cache:
                est_cache[s] = est.estimate(frag)
            return est_cache[s]

        pes = []
        for sql in (r.sql for r in rep.results):
            pq = parse_query(sql)
            if len(pq.tables) < 3:
                continue
            try:
                pes.append(p_error(pq, est_fn, true_fn))
            except Exception:
                continue
        if pes:
            s = sorted(pes)
            summary["perror_n"] = len(pes)
            summary["perror_p50"] = round(s[len(s) // 2], 4)
            summary["perror_max"] = round(s[-1], 4)
    if args.out:
        rep.to_json(args.out)
        rep.to_csv(args.out.rsplit(".", 1)[0] + ".csv")
    print(json.dumps(summary))
    return 0



def cmd_refresh(args) -> int:
    """One ingest step of the streaming→model loop: an arriving root
    shard updates the fanout statistics (through the standing streaming
    count state), the weighted join sample (exact mixture refresh), and
    — with --model/--out — the NAR join model (warm-start fine-tune),
    all without rescanning the base fact table for counts.  The
    reference re-runs its whole prep pipeline on any append
    (scardina/datasets.py:68-380) and parses but never implements
    --incremental (run.py:118,192)."""
    from .estimators.sample import (SampleEstimator, prepare_tree_sample,
                                    spanning_tree)
    from .operators.incremental import streaming_refresh_tree_sample
    spark = _spark()
    sg, tables, default_root = _resolve_schema_tables(spark, args)
    root = _schema_root(args, default_root)
    tree = spanning_tree(sg, root)
    ts = prepare_tree_sample(tree, tables, root,
                             n_min=args.sample_size,
                             n_max=args.sample_size, seed=args.seed)
    ts2, merged = streaming_refresh_tree_sample(
        ts, tables, args.delta_dir, args.counts_state,
        n_min=args.sample_size, n_max=args.sample_size, seed=args.seed)
    out = {"root": root, "join_size_before": ts.join_size,
           "join_size": ts2.join_size, "sample_rows": ts2.n_sample,
           "edges_merged": sorted(merged)}
    if getattr(args, "model", None):
        from .model.join_bridge import (fine_tune_join_estimator,
                                        load_join_estimator,
                                        save_join_estimator)
        est = load_join_estimator(args.model, sg=sg)
        est = fine_tune_join_estimator(est, ts2, epochs=args.epochs,
                                       seed=args.seed)
        out["model_rows"] = est.n_rows
        if getattr(args, "out", None):
            save_join_estimator(est, args.out)
            out["model_out"] = args.out
    if getattr(args, "sql", None):
        ht = SampleEstimator()
        ht.add(ts2.localize())
        out["estimate"] = ht.estimate(args.sql)
    print(json.dumps(out))
    return 0


def cmd_train(args) -> int:
    from .catalog import load_table
    from .model import TrainConfig
    from .model.bridge import train_single_table
    spark = _spark()
    df = load_table(spark, args.sf_dir, args.table)
    cols = [c.strip() for c in args.columns.split(",")]
    cfg = TrainConfig(epochs=args.epochs, seed=args.seed)
    est = train_single_table(df, cols, cfg, arch=args.arch,
                             fact_threshold=args.fact_threshold)
    if args.out and hasattr(est.model, "save"):
        est.model.save(args.out)
    print(json.dumps({"table": args.table, "columns": cols,
                      "arch": args.arch, "model_cols": len(est.model.cols),
                      "out": args.out}))
    return 0


def cmd_search(args) -> int:
    """Hyperparameter search over a single-table matrix (M8): the
    reference's train-time search workflow with the deterministic
    strategies — exhaustive grid, ASHA successive halving (sync, or
    async on a Spark job pool), TPE sampler.  A ``-spark`` driver runs
    the same strategy with its trials as Spark jobs."""
    from functools import partial

    from .catalog import load_table
    from .model import TrainConfig
    from .model.bridge import training_matrix
    from .model.search import (asha_async_search, asha_search,
                               grid_search, tpe_search)
    spark = _spark()
    df = load_table(spark, args.sf_dir, args.table)
    cols = [c.strip() for c in args.columns.split(",")]
    base = TrainConfig(epochs=args.epochs, batch_size=1024,
                       seed=args.seed)
    codes, domains = training_matrix(df, cols, max_rows=args.max_rows,
                                     seed=base.seed)
    bins = [(c, domains[c].dom_size) for c in cols]
    search = {
        "grid": grid_search,
        "grid-spark": partial(grid_search, spark=spark),
        "asha": asha_search,
        "asha-spark": partial(asha_search, spark=spark),
        "asha-async-spark": partial(asha_async_search, spark=spark,
                                    n_workers=args.n_workers),
        "tpe": partial(tpe_search, n_trials=args.n_trials),
    }[args.driver]
    model, trials = search(bins, codes, base)[:2]
    print(json.dumps({
        "driver": args.driver, "table": args.table, "columns": cols,
        "chosen_d_word": model.cfg.d_word,
        "chosen_d_ff": model.cfg.d_ff,
        "n_trials": len(trials),
        "epochs_spent": sum(t.cfg.epochs for t in trials),
    }))
    return 0


def cmd_train_join(args) -> int:
    from .benchmarks import UR_MODEL_COLUMNS
    from .catalog import build_tpch_schema, load_tables
    from .estimators import prepare_tree_sample
    from .estimators.sample import spanning_tree
    from .model import TrainConfig
    from .model.join_bridge import save_join_estimator, train_join_estimator
    spark = _spark()
    tables = load_tables(spark, args.sf_dir)
    sg = build_tpch_schema()
    cols = [c.strip() for c in args.columns.split(",")] \
        if args.columns else UR_MODEL_COLUMNS
    ts = prepare_tree_sample(spanning_tree(sg, args.root), tables,
                             args.root, seed=args.seed)
    est = train_join_estimator(
        ts, cols, TrainConfig(epochs=args.epochs, seed=args.seed,
                              smaller_emb=getattr(args, "smaller_emb", "")),
        fact_threshold=args.fact_threshold, arch=args.arch)
    save_join_estimator(est, args.out)
    print(json.dumps({"root": args.root, "columns": cols,
                      "model_cols": len(est.model.cols),
                      "join_size": est.ts.join_size, "out": args.out}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="scardina_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("prep")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--schema", default="tpch",
                   choices=["tpch", "jobm", "imdb", "imdb-full"])
    p.add_argument("--cache-dir", required=True)
    p.add_argument("--root", default="lineitem")
    p.add_argument("--sample-size", type=int, default=100_000)
    p.set_defaults(fn=cmd_prep)

    p = sub.add_parser("refresh")
    p.add_argument("--sf-dir", required=True,
                   help="BASE tables (pre-append)")
    p.add_argument("--delta-dir", required=True,
                   help="parquet directory holding the arriving root "
                        "shard")
    p.add_argument("--counts-state", required=True,
                   help="standing streaming fk-count state root "
                        "(streaming/stats layout; one subdir per edge)")
    p.add_argument("--schema", default="tpch",
                   choices=["tpch", "jobm", "imdb", "imdb-full"])
    p.add_argument("--root", default="lineitem")
    p.add_argument("--sample-size", type=int, default=20_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--epochs", type=int, default=4,
                   help="fine-tune epochs when --model is given")
    p.add_argument("--model", default=None,
                   help="train-join checkpoint to warm-start fine-tune "
                        "on the refreshed mixture")
    p.add_argument("--out", default=None,
                   help="directory to save the fine-tuned model")
    p.add_argument("--sql", default=None,
                   help="probe COUNT(*) query answered from the "
                        "refreshed sample")
    p.set_defaults(fn=cmd_refresh)

    p = sub.add_parser("estimate")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--sql", required=True)
    p.add_argument("--schema", default="tpch",
                   choices=["tpch", "jobm", "imdb", "imdb-full"],
                   help="jobm adds the derived shipments fact table and "
                        "(for sample/stitch) both parallel-edge samples; "
                        "imdb / imdb-full load the shipped JOB-light / "
                        "full-IMDB schema from --sf-dir (CSV export or "
                        "staged parquet, datasets_imdb.py)")
    p.add_argument("--hybrid", default=None, choices=["zero", "ci"],
                   help="clamp a learned (nar-*) estimate against the "
                        "materialized sample: zero short-circuit or "
                        "3-sigma confidence band")
    p.add_argument("--estimator", default="sample",
                   choices=["sample", "stitch", "exact", "nar-ur", "nar-cin"])
    p.add_argument("--arch", default="mlp", choices=["mlp", "trm"],
                   help="model architecture for nar-* estimators")
    p.add_argument("--root", default="lineitem")
    p.add_argument("--epochs", type=int, default=8)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--smaller-emb", default="",
                   help="embedding-size heuristics: '', 'bound', "
                        "'continuous', or 'bound+continuous' "
                        "(reference scardina/models.py:24-60)")
    p.add_argument("--eval-disable-skip-high-card-cols",
                   action="store_true",
                   help="sample ALL common columns for chained "
                        "inheritance, even near-key ones (reference "
                        "run.py:164)")
    p.add_argument("--model", default=None,
                   help="serve from a train-join checkpoint directory")
    p.set_defaults(fn=cmd_estimate)

    p = sub.add_parser("train-join")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--arch", default="mlp", choices=["mlp", "trm"])
    p.add_argument("--root", default="lineitem")
    p.add_argument("--columns", default=None,
                   help="comma-separated table.col list (default: suite set)")
    p.add_argument("--epochs", type=int, default=8)
    p.add_argument("--fact-threshold", type=int, default=8)
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--smaller-emb", default="",
                   help="embedding-size heuristics: '', 'bound', "
                        "'continuous', or 'bound+continuous'")
    p.set_defaults(fn=cmd_train_join)

    p = sub.add_parser("curate")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seq-len", type=int, default=128)
    p.add_argument("--bench-source", default="src0")
    p.add_argument("--ngram", type=int, default=4)
    p.add_argument("--max-contamination", type=float, default=0.02)
    p.add_argument("--min-quality", type=float, default=0.7)
    p.add_argument("--langs", default="en")
    p.add_argument("--token-budget", type=float, default=None)
    p.add_argument("--gopher-rules", action="store_true",
                   help="insert the Rae et al. 2021 A1.1 rule gate")
    p.add_argument("--repetition-battery", action="store_true",
                   help="insert the Rae et al. 2021 A1.2 repetition gate")
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser("pg-perror")
    p.add_argument("--sf-dir", required=True)
    p.set_defaults(fn=cmd_pg_perror)

    p = sub.add_parser("chunk")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--chunk-tokens", type=int, default=256)
    p.add_argument("--overlap-tokens", type=int, default=32)
    p.set_defaults(fn=cmd_chunk)

    p = sub.add_parser("tokenize")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--n-merges", type=int, default=64)
    p.add_argument("--merges", default=None,
                   help="frozen merge table 'a,r;t,h;th,e' "
                        "(skips learning)")
    p.add_argument("--merges-file", default=None,
                   help="apply a frozen merges.txt (standard Sennrich/"
                        "HF line format); tables past the projection "
                        "cap route through the Arrow tokenizer")
    p.add_argument("--merges-out", default=None,
                   help="save the (learned or given) merge table as "
                        "merges.txt")
    p.set_defaults(fn=cmd_tokenize)

    p = sub.add_parser("scd2")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--key", default="user_id")
    p.add_argument("--attr", default="event_type")
    p.add_argument("--ts", default="ts")
    p.add_argument("--tiebreak", default="event_id")
    p.add_argument("--merge-into", default=None,
                   help="existing history parquet: CDC-upsert the "
                        "events at/after --since into it")
    p.add_argument("--since", default=None,
                   help="ingest boundary (timestamp literal) of the "
                        "delta; required with --merge-into")
    p.add_argument("--last-seen", action="store_true",
                   help="record each interval's last observation "
                        "timestamp so later --merge-into runs get an "
                        "exact append-only gate")
    p.add_argument("--until", default=None,
                   help="build mode: only ingest events strictly "
                        "before this boundary (pair with a later "
                        "--merge-into --since at the same boundary "
                        "for the CDC loop)")
    p.set_defaults(fn=cmd_scd2)

    p = sub.add_parser("ann")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--query-id", type=int, default=0)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--method", default="exact",
                   choices=["exact", "lsh", "ivf", "pq", "ivfpq"])
    p.add_argument("--probe-hamming", type=int, default=None,
                   help="lsh: probe buckets within this Hamming radius "
                        "(default: derived from the flip model — h=2 "
                        "for 8 planes; pass 0 for single-bucket)")
    p.add_argument("--nprobe", type=int, default=2)
    p.add_argument("--pq-m", type=int, default=8)
    p.add_argument("--pq-codes", type=int, default=16)
    p.add_argument("--shortlist", type=int, default=50,
                   help="pq: ADC shortlist size before exact refine")
    p.add_argument("--index", default=None,
                   help="ivfpq: saved hybrid index directory — built "
                        "and saved on first use, probed with partition "
                        "pruning afterwards")
    p.set_defaults(fn=cmd_ann)

    p = sub.add_parser("shard")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--n-shards", type=int, default=8)
    p.set_defaults(fn=cmd_shard)

    p = sub.add_parser("outliers")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--table", default="events")
    p.add_argument("--key", default="user_id")
    p.add_argument("--col", default="value")
    p.add_argument("--z-cut", type=float, default=3.5)
    p.set_defaults(fn=cmd_outliers)

    p = sub.add_parser("drift")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--table", default="documents")
    p.add_argument("--col", required=True)
    p.add_argument("--split-col", required=True)
    p.add_argument("--split-val", required=True)
    p.add_argument("--test", choices=["ks", "chisq"], default="ks")
    p.set_defaults(fn=cmd_drift)

    p = sub.add_parser("semdedup")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--threshold", type=float, default=0.9)
    p.add_argument("--cells", type=int, default=None)
    p.add_argument("--iters", type=int, default=2)
    p.set_defaults(fn=cmd_semdedup)

    p = sub.add_parser("bench")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", default=None)
    p.add_argument("--benchmark-csv", default=None,
                   help="reference-format benchmark: true_cardinality,sql")
    p.add_argument("--model", default=None,
                   help="serve the benchmark from a train-join or CIN "
                        "checkpoint directory instead of the HT sample")
    p.add_argument("--perror", action="store_true",
                   help="additionally report C_out plan-quality p-error "
                        "over the benchmark's multi-join queries")
    p.add_argument("--schema", default="tpch",
                   choices=["tpch", "jobm", "imdb", "imdb-full"],
                   help="jobm adds the derived shipments fact table "
                        "(parallel FK edges) and samples both "
                        "alternatives — for job-m-sf*.csv benchmarks; "
                        "imdb loads the shipped JOB-light schema from "
                        "--sf-dir for the reference's own job-light.csv")
    p.add_argument("--root", default="lineitem",
                   help="HT sample root (defaults to the schema's fact "
                        "table: lineitem / shipments / cast_info)")
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_bench)

    p = sub.add_parser("layout")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--cols", required=True,
                   help="comma-separated cluster columns")
    p.add_argument("--out", required=True)
    p.add_argument("--zorder", action="store_true",
                   help="Z-order (multi-column) instead of linear sort")
    p.add_argument("--bits", type=int, default=16)
    p.add_argument("--n-files", type=int, default=None)
    p.set_defaults(fn=cmd_layout)

    p = sub.add_parser("export-subqueries")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--benchmark", default="all",
                   choices=["job-light", "job-light-ext", "job-m", "all"])
    p.add_argument("--out", default=None,
                   help="output CSV (single-benchmark runs only)")
    p.set_defaults(fn=cmd_export_subqueries)

    p = sub.add_parser("explain")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--query", required=True,
                   help="a queries() key, e.g. a18_disjunctive_revenue")
    p.add_argument("--mode", default="formatted",
                   choices=["simple", "extended", "formatted", "cost",
                            "codegen"])
    p.set_defaults(fn=cmd_explain)

    p = sub.add_parser("train")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--columns", required=True)
    p.add_argument("--arch", default="mlp", choices=["mlp", "trm"])
    p.add_argument("--epochs", type=int, default=15)
    p.add_argument("--fact-threshold", type=int, default=None)
    p.add_argument("--out", default=None)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_train)

    p = sub.add_parser("search")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--columns", required=True)
    p.add_argument("--driver", default="asha",
                   choices=["grid", "asha", "tpe", "grid-spark",
                            "asha-spark", "asha-async-spark"],
                   help="*-spark distributes trials (grid), rungs "
                        "(sync ASHA), or an async job pool "
                        "(asha-async-spark, barrier-free promotions) "
                        "as Spark jobs across the cluster")
    p.add_argument("--epochs", type=int, default=8)
    p.add_argument("--n-trials", type=int, default=6)
    p.add_argument("--n-workers", type=int, default=4,
                   help="driver-side scheduler pool width for "
                        "asha-async-spark")
    p.add_argument("--max-rows", type=int, default=20_000)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=cmd_search)

    return ap


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
