"""CLI surface: subcommands run in-process and emit JSON lines."""

import argparse
import json

import pytest

from scardina_spark.__main__ import build_parser, main


def test_cli_estimate(capsys, spark, sf_dir):
    rc = main(["estimate", "--sf-dir", sf_dir,
               "--sql", "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
               "--estimator", "exact"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["estimator"] == "exact"
    assert out["estimate"] > 0


def test_cli_train(capsys, spark, sf_dir, tmp_path):
    model_path = str(tmp_path / "m.npz")
    rc = main(["train", "--sf-dir", sf_dir, "--table", "lineitem",
               "--columns", "l_returnflag,l_linestatus",
               "--epochs", "2", "--out", model_path])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["model_cols"] == 2
    import os
    assert os.path.exists(model_path)


def test_cli_prep(capsys, spark, sf_dir, tmp_path):
    rc = main(["prep", "--sf-dir", sf_dir,
               "--cache-dir", str(tmp_path / "cache"),
               "--sample-size", "500"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sample_rows"] == 500


def test_cli_estimate_hybrid_ci(capsys, spark, sf_dir):
    rc = main(["estimate", "--sf-dir", sf_dir,
               "--sql", "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
               "--estimator", "nar-ur", "--hybrid", "ci", "--epochs", "2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["estimator"] == "nar-ur+ci"
    assert out["estimate"] > 0


def test_cli_hybrid_rejects_non_learned(capsys, spark, sf_dir):
    rc = main(["estimate", "--sf-dir", sf_dir,
               "--sql", "SELECT COUNT(*) FROM lineitem",
               "--estimator", "sample", "--hybrid", "ci"])
    assert rc == 2


def test_cli_bench_from_checkpoint(capsys, spark, sf_dir, tmp_path):
    """train-join --out, then bench --model: the reference's train-once /
    eval-many workflow (scardina/run.py:770-788)."""
    ckpt = str(tmp_path / "ur_model")
    rc = main(["train-join", "--sf-dir", sf_dir, "--out", ckpt,
               "--epochs", "2"])
    assert rc == 0
    capsys.readouterr()
    rc = main(["bench", "--sf-dir", sf_dir, "--model", ckpt])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_queries"] > 0
    assert out["q_p50"] >= 1.0


def test_cli_bench_perror(capsys, spark, sf_dir):
    rc = main(["bench", "--sf-dir", sf_dir, "--perror"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["perror_n"] >= 1
    assert out["perror_p50"] >= 1.0


def test_cli_explain(capsys, spark, sf_dir):
    rc = main(["explain", "--sf-dir", sf_dir,
               "--query", "a18_disjunctive_revenue"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert "PushedFilters" in out
    assert "BroadcastHashJoin" in out


def test_cli_explain_unknown_query(capsys, spark, sf_dir):
    rc = main(["explain", "--sf-dir", sf_dir, "--query", "nope"])
    assert rc == 2
    assert "unknown query" in capsys.readouterr().err


def test_cli_layout(capsys, spark, sf_dir, tmp_path):
    import json
    out = str(tmp_path / "clustered")
    rc = main(["layout", "--sf-dir", sf_dir, "--table", "lineitem",
               "--cols", "l_shipdate", "--out", out])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "sorted"
    assert rep["overlap_fraction"]["l_shipdate"] < 0.1


def test_cli_chunk(capsys, spark, sf_dir, tmp_path):
    out_path = str(tmp_path / "chunks")
    rc = main(["chunk", "--sf-dir", sf_dir, "--out", out_path,
               "--chunk-tokens", "64", "--overlap-tokens", "8"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 500 and out["n_chunks"] >= out["n_docs"]
    back = spark.read.parquet(out_path)
    assert back.where("n_chunk_toks > 64").count() == 0


def test_cli_semdedup(capsys, spark, sf_dir, tmp_path):
    out_path = str(tmp_path / "semdedup")
    rc = main(["semdedup", "--sf-dir", sf_dir, "--out", out_path,
               "--threshold", "0.35"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kept"] + out["dropped"] == out["n"] == 500
    assert 0 < out["dropped"] < out["n"]
    back = spark.read.parquet(out_path)
    assert set(back.columns) >= {"vec_id", "cell", "kept"}


def _search_drivers():
    """The `search --driver` choices, read from the parser itself."""
    sub = next(a for a in build_parser()._actions
               if isinstance(a, argparse._SubParsersAction))
    return next(a for a in sub.choices["search"]._actions
                if a.dest == "driver").choices


@pytest.mark.parametrize("driver", _search_drivers())
def test_cli_search_drivers(capsys, spark, sf_dir, driver):
    rc = main(["search", "--sf-dir", sf_dir, "--table", "lineitem",
               "--columns", "l_returnflag,l_linestatus",
               "--driver", driver, "--epochs", "2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["driver"] == driver
    assert out["chosen_d_word"] in (8, 16, 32)
    assert out["n_trials"] >= 2 and out["epochs_spent"] > 0


def test_cli_tokenize_frozen_merges(capsys, spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "tok")
    rc = main(["tokenize", "--sf-dir", sf_dir, "--out", out_dir,
               "--merges", "a,r;t,h;th,e;r,o"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_merges"] == 4 and out["learned"] == 0
    assert out["total_tokens"] > out["n_docs"]


def test_cli_scd2_build_and_merge(capsys, spark, sf_dir, tmp_path):
    import pytest

    hist_dir = str(tmp_path / "hist")
    rc = main(["scd2", "--sf-dir", sf_dir, "--out", hist_dir])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_intervals"] >= out["n_open"] > 0
    # merge mode demands an explicit ingest boundary
    with pytest.raises(SystemExit, match="--since"):
        main(["scd2", "--sf-dir", sf_dir,
              "--out", str(tmp_path / "h2"),
              "--merge-into", hist_dir])


def test_cli_scd2_cdc_loop_matches_from_scratch(capsys, spark, sf_dir,
                                                tmp_path):
    """The full CLI CDC loop: --until truncated build (with the exact
    --last-seen gate), --merge-into --since at the same boundary, and
    the merged history equals a from-scratch build bit-for-bit."""
    hist = str(tmp_path / "hist")
    merged = str(tmp_path / "merged")
    full = str(tmp_path / "full")
    cut = "2024-01-20"
    assert main(["scd2", "--sf-dir", sf_dir, "--out", hist,
                 "--last-seen", "--until", cut]) == 0
    assert main(["scd2", "--sf-dir", sf_dir, "--out", merged,
                 "--merge-into", hist, "--since", cut]) == 0
    assert main(["scd2", "--sf-dir", sf_dir, "--out", full,
                 "--last-seen"]) == 0
    capsys.readouterr()
    a = sorted(tuple(r) for r in spark.read.parquet(merged).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(full).collect())
    assert a == b and len(a) > 0


def test_cli_drift_both_tests(capsys, spark, sf_dir):
    rc = main(["drift", "--sf-dir", sf_dir, "--col", "n_chars",
               "--split-col", "source", "--split-val", "src0"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["test"] == "ks" and 0.0 <= out["d_stat"] <= 1.0
    rc = main(["drift", "--sf-dir", sf_dir, "--table", "events",
               "--col", "event_type", "--split-col", "user_id",
               "--split-val", "0", "--test", "chisq"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["test"] == "chisq" and out["chi2"] >= 0.0


def test_cli_ann_methods(capsys, spark, sf_dir):
    for method, extra in (("exact", []), ("lsh", ["--probe-hamming", "2"]),
                          ("pq", ["--shortlist", "50"]),
                          ("ivfpq", ["--shortlist", "50"])):
        rc = main(["ann", "--sf-dir", sf_dir, "--method", method] + extra)
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["method"] == method and len(out["hits"]) == 10
        assert out["hits"][0]["vec_id"] == 0  # the query vector itself


def test_cli_shard_balanced_write(capsys, spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "shards")
    rc = main(["shard", "--sf-dir", sf_dir, "--out", out_dir,
               "--n-shards", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    toks = [s["tokens"] for s in out["shards"]]
    assert len(toks) == 4 and max(toks) - min(toks) < 200
    # the write is really partitioned by shard
    import os
    assert sorted(d for d in os.listdir(out_dir)
                  if d.startswith("shard=")) == [f"shard={i}"
                                                 for i in range(4)]


def test_cli_outliers(capsys, spark, sf_dir):
    rc = main(["outliers", "--sf-dir", sf_dir])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] > 0 and 0 <= out["n_outliers"] < out["n_rows"]
