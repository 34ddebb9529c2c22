"""Dataset registration + loading for the driver's TPC-H-ish testdata.

Mirrors the reference's per-dataset schema declarations
(reference: scardina/datasets.py:585-890) for the synthetic star schema in
/root/testdata (see TESTDATA.md).  Tables load as parquet DataFrames —
columnar, pruned and predicate-pushed by the data source natively.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import SchemaGraph

# PK->FK relationships of the star schema (FIXTURES.md §1).
TPCH_RELATIONSHIPS = [
    # (pk_table, pk_col, fk_table, fk_col)
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),
    ("nation", "n_nationkey", "supplier", "s_nationkey"),
    ("region", "r_regionkey", "nation", "n_regionkey"),
]

# Tables that participate in the relational schema graph (events/documents/
# embeddings are extension-operator fixtures, not join-graph members).
RELATIONAL_TABLES = ["region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"]

PKS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
}


def build_tpch_schema(sf_dir: str | None = None,
                      sizes: dict[str, int] | None = None) -> SchemaGraph:
    """Register the testdata star schema as a SchemaGraph."""
    sg = SchemaGraph("tpch")
    for t in RELATIONAL_TABLES:
        sg.add_table(t, size=(sizes or {}).get(t), pk=PKS.get(t))
    for pk_t, pk_c, fk_t, fk_c in TPCH_RELATIONSHIPS:
        sg.add_relationship(pk_t, pk_c, fk_t, fk_c)
    return sg


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _nanos_ts_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    long (epoch nanos) under ``nanosAsLong``; we normalize to timestamp."""
    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def load_table(spark: SparkSession, sf_dir: str, name: str,
               columns: list[str] | None = None) -> DataFrame:
    """Parquet scan with projection pushed to the source
    (reference analog: include_columns CSV scan, scardina/common.py:368-396).

    Timestamp normalization on load mirrors the reference's tz handling
    (scardina/datasets.py:97-104): nano-precision columns are truncated to
    microseconds — an exact integer projection, no double round-trip.
    """
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    for c in _nanos_ts_cols(path):
        # integer division: epoch nanos exceed 2^53, a double round-trip
        # would be off by up to a microsecond
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, t in df.dtypes:
        # parquet timestamps without tz read as TIMESTAMP_NTZ in Spark 4;
        # session tz is pinned UTC, so this cast is an exact relabel and
        # keeps one timestamp type flowing through every downstream op
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if columns:
        df = df.select(*columns)
    return df


def load_csv_table(spark: SparkSession, path: str,
                   columns: list[str] | None = None,
                   schema=None, escape: str = "\\",
                   header: bool = True) -> DataFrame:
    """CSV scan with projection + type casts at the source (reference
    analog: the pyarrow CSV reader with include_columns and escapechar,
    scardina/common.py:368-396 and scardina/datasets.py:90-94).  Schema
    inference is a full extra pass at scale — prefer passing ``schema``."""
    reader = spark.read.option("header", str(header).lower()) \
        .option("escape", escape)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if columns:
        df = df.select(*[F.col(f"`{c}`") for c in columns])
    return df


def load_jdbc_table(spark: SparkSession, url: str, table: str,
                    properties: dict[str, str] | None = None,
                    partition_column: str | None = None,
                    num_partitions: int = 8,
                    lower_bound: int | None = None,
                    upper_bound: int | None = None) -> DataFrame:
    """JDBC source (reference analog: the Postgres reader used for p-error
    evaluation, scardina/run.py:992-1008 — which reads whole tables through
    a single connection; here the read parallelizes over
    ``partition_column`` ranges so a large table splits across executors).
    Tested against the bundled Derby embedded database
    (tests/test_pipeline_sources.py); a server database (e.g. the
    reference's Postgres) differs only in URL/driver."""
    reader = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", str(num_partitions))
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound)))
    return reader.load()


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or RELATIONAL_TABLES)}

