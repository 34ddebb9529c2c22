"""The workloads: how each one sets up its data, builds a servable
estimator through the library's public API, and what it serves.

Sizes are chosen so one run (set-up, build, serve, checks) takes under a
minute on a 4-vCPU host; README.md gives the reasons and the sizes the
repository's ``bench.py`` uses instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

# Sampler and training seeds stay at the estimator's fixed 42, and so do
# the data and the query suites: the run seed orders the serving loop
# (README.md says why the inputs that set accuracy are fixed).
LIB_SEED = 42
DATA_SEED = 42

TPCH_SF = 0.01              # 60k lineitem rows

IMDB_SCALE = 0.2            # title 4k, cast_info 58k rows
IMDB_N_MAX = 200_000
IMDB_MODEL_COLUMNS = [
    "title.kind_id", "title.production_year",
    "movie_companies.company_id", "movie_companies.company_type_id",
    "movie_info.info_type_id", "movie_info_idx.info_type_id",
    "movie_keyword.keyword_id", "cast_info.role_id"]

UR_MAX_ROWS = 16_000
CIN_MAX_ROWS = 8_000


@dataclass
class Built:
    """A servable estimator: the hybrid's learned part and its checker
    (a localized ``SampleEstimator``)."""
    learned: object
    checker: object
    hybrid: object


@dataclass
class Workload:
    name: str
    # (data_dir) -> None: writes the benchmark's own input files before
    # the timed phases, so harness work stays out of ``setup_s``
    prepare_data: Callable
    # (spark, data_dir, span) -> tables; ``span(name)`` is a context
    # manager timing one library call
    setup_data: Callable
    build: Callable          # (spark, tables) -> Built
    suite: Callable          # () -> {qid: sql}
    duckdb_views: Callable   # (data_dir) -> {table: parquet glob}


def _ur_config():
    from scardina_spark.model import TrainConfig
    return TrainConfig(epochs=8, d_word=24, d_ff=64, batch_size=1024,
                       seed=LIB_SEED)


def _build_ur(tables, sg, root: str, model_columns: list[str],
              n_max: int | None = None) -> Built:
    """One UR sample rooted at ``root``, one NAR model, and the
    localized sample as the arbiter's checker."""
    from scardina_spark.estimators import (
        HybridEstimator, SampleEstimator, prepare_tree_sample)
    from scardina_spark.estimators.sample import spanning_tree
    from scardina_spark.model.join_bridge import train_join_estimator

    kw = {"n_max": n_max} if n_max else {}
    ts = prepare_tree_sample(spanning_tree(sg, root), tables, root,
                             seed=LIB_SEED, **kw)
    deferred = train_join_estimator(
        ts, model_columns, _ur_config(), sample_size=1000,
        max_rows=UR_MAX_ROWS, fact_threshold=8, defer_fit=True)
    nar = deferred.finish()
    checker = SampleEstimator()
    checker.add(ts.localize())
    return Built(nar, checker, HybridEstimator(
        nar, checker, name="nar-ur-arbiter", mode="arbiter"))


# -- TPC-H ------------------------------------------------------------------

def _tpch_prepare(data_dir: str) -> None:
    import tpch_gen
    tpch_gen.write(TPCH_SF, DATA_SEED, data_dir)


def _tpch_setup(spark, data_dir: str, span) -> dict:
    from scardina_spark.catalog import load_tables

    with span("catalog.load", spark=True):
        return load_tables(spark, data_dir)


def _tpch_suite() -> dict[str, str]:
    """The library's own job-light-shaped suite (82 queries), as
    ``bench.py`` and the ``bench`` CLI serve it."""
    from scardina_spark.benchmarks import job_light_suite
    return job_light_suite()


def _tpch_views(data_dir: str) -> dict[str, str]:
    import tpch_gen
    names = ["region", "nation", *tpch_gen.BASE_ROWS]
    return {t: os.path.join(data_dir, f"{t}.parquet") for t in names}


def _tpch_cin_build(spark, tables) -> Built:
    """As ``estimate --estimator nar-cin --hybrid arbiter`` builds it:
    execution knobs at the library's defaults, then every CIN sample
    localized into the checker."""
    from scardina_spark.benchmarks import CIN_MODEL_COLUMNS
    from scardina_spark.catalog import build_tpch_schema
    from scardina_spark.estimators import HybridEstimator, SampleEstimator
    from scardina_spark.estimators.cin import build_cin_estimator
    from scardina_spark.model import TrainConfig

    cin = build_cin_estimator(
        build_tpch_schema(), tables, CIN_MODEL_COLUMNS,
        lambda center: TrainConfig(epochs=8, seed=LIB_SEED),
        max_rows=CIN_MAX_ROWS, fact_threshold=8, seed=LIB_SEED)
    checker = SampleEstimator()
    for ts in cin.samples:
        checker.add(ts.localize())
    return Built(cin, checker, HybridEstimator(
        cin, checker, name="nar-cin-arbiter", mode="arbiter"))


# -- IMDB JOB-light ---------------------------------------------------------

def _imdb_prepare(data_dir: str) -> None:
    """Nothing: generating the synthetic IMDB tables is the library's own
    step (``synth_job_light_tables``), so it is timed in set-up."""


def _imdb_setup(spark, data_dir: str, span) -> dict:
    from scardina_spark.datasets_imdb import (
        build_job_light_schema, load_imdb_tables)
    from scardina_spark.datasets_imdb_synth import synth_job_light_tables

    with span("imdb_synth.gen", spark=True):
        for name, df in synth_job_light_tables(spark, scale=IMDB_SCALE,
                                               seed=DATA_SEED).items():
            df.write.mode("overwrite").parquet(
                os.path.join(data_dir, f"{name}.parquet"))
    with span("catalog.load", spark=True):
        return load_imdb_tables(spark, data_dir, build_job_light_schema())


def _imdb_suite() -> dict[str, str]:
    from scardina_spark.runner import load_benchmark_csv

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "benchmarks", "imdb", "job-light.csv")
    return {f"jl{i:02d}": sql.rstrip(";")
            for i, (_, sql) in enumerate(load_benchmark_csv(path))}


def _imdb_views(data_dir: str) -> dict[str, str]:
    from scardina_spark.datasets_imdb import JOB_LIGHT_TABLES
    return {t: os.path.join(data_dir, f"{t}.parquet", "*.parquet")
            for t in JOB_LIGHT_TABLES}


def _imdb_build(spark, tables) -> Built:
    from scardina_spark.datasets_imdb import build_job_light_schema
    return _build_ur(tables, build_job_light_schema(), "cast_info",
                     IMDB_MODEL_COLUMNS, n_max=IMDB_N_MAX)


WORKLOADS = {
    w.name: w for w in [
        Workload("tpch-cin", _tpch_prepare, _tpch_setup, _tpch_cin_build,
                 _tpch_suite, _tpch_views),
        Workload("imdb-jl", _imdb_prepare, _imdb_setup, _imdb_build,
                 _imdb_suite, _imdb_views),
    ]
}
