"""Staged data-prep pipeline with parquet checkpoints.

Mirrors the reference's multi-level cache tree (S4 sinks,
scardina/datasets.py: fk_counts → fanouts → base_tables_with_fanouts →
distinct_vals → joined_tables) with parquet directories + existence
short-circuits.  Each stage is pure DataFrame work; a re-run resumes from
whatever is already on disk — the property that matters when a 100 TB prep
job dies at stage 3 of 4.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..functions.dictionary import build_dictionary
from ..schema import SchemaGraph, Subschema
from .fanout import attach_adj_fanouts
from .sampler import join_sample


def _safe(name: str) -> str:
    return re.sub(r"[^\w.-]", "_", name)


class PrepPipeline:
    """Checkpointed prep: adj fanouts → dictionaries → weighted samples."""

    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir

    def _path(self, stage: str, name: str) -> str:
        return os.path.join(self.cache_dir, stage, _safe(name))

    def _exists(self, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    def _checkpoint(self, df: DataFrame, path: str) -> DataFrame:
        if not self._exists(path):
            df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # -- stage b: fanout-attached base tables -----------------------------

    def tables_with_fanouts(self, sg: SchemaGraph,
                            tables: dict[str, DataFrame]
                            ) -> dict[str, DataFrame]:
        out = attach_adj_fanouts(sg, tables)
        return {
            t: self._checkpoint(df, self._path("base_tables_with_fanouts", t))
            for t, df in out.items()
        }

    # -- stage c: dictionaries -------------------------------------------

    def dictionary(self, df: DataFrame, table: str, col: str) -> DataFrame:
        return self._checkpoint(
            build_dictionary(df, col),
            self._path("distinct_vals", f"{table}.{col}"))

    # -- stage d: weighted join samples ----------------------------------

    def weighted_sample(self, tree: Subschema, tables: dict[str, DataFrame],
                        root: str, n: int, seed: int = 42) -> DataFrame:
        path = self._path("joined_samples", f"{tree.name}__{root}__{n}")
        if not self._exists(path):
            samp, _, _ = join_sample(tree, tables, root, n, n, seed=seed)
            # ':' (from __in__:/__fanout__: markers) is not portable in
            # parquet column names — store as '#'
            (samp.toDF(*[c.replace(":", "#") for c in samp.columns])
             .write.mode("overwrite").parquet(path))
            samp.unpersist()
        out = self.spark.read.parquet(path)
        for c in out.columns:
            if "#" in c:
                out = out.withColumnRenamed(c, c.replace("#", ":"))
        return out
