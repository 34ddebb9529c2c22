"""Streaming maintenance of per-FK counts: multi-batch merge equals the
batch recompute; restarts change nothing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scardina_spark.streaming.stats import maintain_fk_counts, read_fk_counts


@pytest.fixture(scope="module")
def event_files(spark, tables, tmp_path_factory):
    """events split into 3 parquet files so the file stream yields 3
    micro-batches with maxFilesPerTrigger=1."""
    d = str(tmp_path_factory.mktemp("ev_src"))
    ev = tables["events"]
    for i in range(3):
        (ev.where(F.col("event_id") % 3 == i)
         .coalesce(1).write.mode("append").parquet(d))
    return d


def _stream(spark, event_files):
    schema = spark.read.parquet(event_files).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(event_files))


def test_stream_counts_equal_batch(spark, tables, event_files, tmp_path):
    state = str(tmp_path / "state")
    maintain_fk_counts(_stream(spark, event_files), "user_id", state)
    # one delta dir per micro-batch
    n_batches = len([d for d in os.listdir(state)
                     if d.startswith("batch_id=")])
    assert n_batches >= 3
    got = {(r["key"], r["cnt"]) for r in
           read_fk_counts(spark, state).collect()}
    want = {(r["user_id"], r["n"]) for r in
            tables["events"].where(F.col("user_id").isNotNull())
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_stream_restart_is_noop(spark, tables, event_files, tmp_path):
    state = str(tmp_path / "state")
    maintain_fk_counts(_stream(spark, event_files), "user_id", state)
    before = sorted(read_fk_counts(spark, state).collect())
    # same checkpoint: the restarted query finds no new files
    maintain_fk_counts(_stream(spark, event_files), "user_id", state)
    after = sorted(read_fk_counts(spark, state).collect())
    assert before == after


def test_new_file_after_restart_merges_in(spark, tables, event_files,
                                          tmp_path):
    state = str(tmp_path / "state")
    maintain_fk_counts(_stream(spark, event_files), "user_id", state)
    # append a 4th file (duplicate of slice 0) and re-drain
    ev = spark.read.parquet(event_files)
    extra = ev.where(F.col("event_id") % 3 == 0)
    extra.coalesce(1).write.mode("append").parquet(event_files)
    maintain_fk_counts(_stream(spark, event_files), "user_id", state)
    got = {(r["key"], r["cnt"]) for r in
           read_fk_counts(spark, state).collect()}
    full = spark.read.parquet(event_files)
    want = {(r["user_id"], r["n"]) for r in
            full.where(F.col("user_id").isNotNull())
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_stream_kmv_sketch_equals_batch(spark, tables, event_files,
                                        tmp_path):
    """Multi-batch streamed KMV sketch == batch sketch of all events,
    bit-for-bit (deterministic hashing + semigroup merge)."""
    from scardina_spark.operators.sketches import kmv_sketch
    from scardina_spark.streaming.stats import (
        maintain_kmv_sketch, read_kmv_sketch)

    state = str(tmp_path / "state")
    maintain_kmv_sketch(_stream(spark, event_files), "user_id", state,
                        k=16, group_cols=["event_type"])
    got = {r["event_type"]: r["hashes"] for r in
           read_kmv_sketch(spark, state, k=16,
                           group_cols=["event_type"]).collect()}
    want = {r["event_type"]: r["hashes"] for r in
            kmv_sketch(tables["events"], "user_id", k=16,
                       group_cols=["event_type"]).collect()}
    assert got == want


def test_stream_quantile_sketch_equals_batch(spark, tables, event_files,
                                             tmp_path):
    """Multi-batch streamed quantile sketch == batch sketch of all
    events, bit-for-bit (deterministic hashing + semigroup merge)."""
    from scardina_spark.operators.sketches import quantile_sketch
    from scardina_spark.streaming.stats import (
        maintain_quantile_sketch, read_quantile_sketch)

    state = str(tmp_path / "state")
    maintain_quantile_sketch(_stream(spark, event_files), "value",
                             "event_id", state, k=32,
                             group_cols=["event_type"])
    got = {r["event_type"]: r["samp"] for r in
           read_quantile_sketch(spark, state, k=32,
                                group_cols=["event_type"]).collect()}
    want = {r["event_type"]: r["samp"] for r in
            quantile_sketch(spark.read.parquet(event_files), "value",
                            "event_id", 32,
                            group_cols=["event_type"]).collect()}
    assert got == want


def test_token_account_stream_matches_batch(spark, sf_dir):
    from scardina_spark.operators.bpe import bpe_apply
    from scardina_spark.queries import BPE_APPLY_MERGES
    from scardina_spark.streaming.curate import read_documents_stream
    from scardina_spark.streaming.events import run_to_memory_sink
    from scardina_spark.streaming.stats import token_account_stream
    from scardina_spark.catalog import load_table
    from pyspark.sql import functions as F

    st = read_documents_stream(spark, sf_dir)
    got = {r["source"]: (r["n_docs"], r["total_bpe"]) for r in
           run_to_memory_sink(
               token_account_stream(st, BPE_APPLY_MERGES),
               "tok_account_parity", output_mode="complete").collect()}
    docs = load_table(spark, sf_dir, "documents")
    want = {r["source"]: (r["n"], r["t"]) for r in
            (bpe_apply(docs, BPE_APPLY_MERGES, keep_cols=("source",))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("n_bpe").alias("t"))).collect()}
    assert got == want


def test_token_account_stream_single_stateful_op(spark, sf_dir):
    """The tokenizer is a stateless projection; only the per-source
    aggregate holds state (|sources|-sized)."""
    from scardina_spark.queries import BPE_APPLY_MERGES
    from scardina_spark.streaming.curate import read_documents_stream
    from scardina_spark.streaming.stats import token_account_stream

    st = token_account_stream(read_documents_stream(spark, sf_dir),
                              BPE_APPLY_MERGES)
    assert st.isStreaming
    plan = st._jdf.queryExecution().analyzed().toString()
    assert plan.count("Aggregate") == 1, plan
