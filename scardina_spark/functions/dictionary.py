"""Per-column sorted dictionaries and dictionary encoding (discretize).

Reference semantics (NOT code): scardina/common.py:85-110 (sorted distinct
values per column, nulls excluded) and scardina/common.py:198-251
(``pd.Categorical(values, categories=distinct_vals).codes + 2``; code 0 is
reserved for MASK, 1 for NULL *and* out-of-domain values, real values get
dense codes 2..dist_size-1 in sorted order).

Spark mapping, scale-first:

* dictionary build = ``distinct -> dropna -> global dense index`` where the
  global index comes from operators/prefix.with_global_index — a
  range-partitioned sort, NOT a single-partition window, so a 10^9-value
  dictionary builds with full parallelism;
* encoding = an equi-join against the dictionary.  Dictionaries of
  dimension-like columns are far below the broadcast threshold and AQE
  turns the join into a broadcast hash join at runtime; huge dictionaries
  degrade gracefully to a shuffle join instead of OOMing a driver-side map.

Dictionaries are plain two-column DataFrames ``(value, __code__)`` so they
checkpoint to parquet like any other stage output and can be shared across
subschemas (cross-subschema dictionary consistency is the reference's
``distinct_vals_dict`` threading, scardina/datasets.py:385-416 — here it
falls out of building each dictionary once per *base* column and reusing
the DataFrame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.prefix import IDX, with_global_index

NULL_CODE = 1
CODE = "__code__"
VALUE = "__value__"


def build_dictionary(df: DataFrame, col: str,
                     n_partitions: int | None = None) -> DataFrame:
    """Sorted distinct-value dictionary of ``col`` → ``(__value__, __code__)``.

    Codes are dense, start at 2 (0=MASK, 1=NULL) and follow the natural sort
    order of the values, so range predicates on codes are order-preserving —
    the property the reference's estimator relies on
    (scardina/common.py:105, sorted distinct_vals).
    """
    vals = (
        df.select(F.col(f"`{col}`").alias(VALUE))
        .where(F.col(VALUE).isNotNull())
        .distinct()
    )
    idx = with_global_index(vals, [VALUE], n_partitions)
    return idx.select(
        F.col(VALUE),
        (F.col(IDX) + 2).cast("int").alias(CODE),
    )


def encode_with_dictionary(df: DataFrame, col: str, dictionary: DataFrame,
                           out_col: str | None = None,
                           broadcast: bool = True) -> DataFrame:
    """Replace ``col``'s values with dictionary codes (int32).

    NULL and out-of-domain values both encode to 1, mirroring the
    reference's ``Categorical(...).codes + 2`` convention
    (scardina/common.py:239-243).
    """
    out_col = out_col or col
    d = dictionary.select(
        F.col(VALUE).alias("__dv__"), F.col(CODE).alias("__dc__"))
    if broadcast:
        d = F.broadcast(d)
    j = df.join(d, F.col(f"`{col}`") == F.col("__dv__"), "left_outer")
    enc = F.coalesce(F.col("__dc__"), F.lit(NULL_CODE)).cast("int")
    return (
        j.withColumn("__enc__", enc)
        .drop("__dv__", "__dc__")
        .drop(col)
        .withColumnRenamed("__enc__", out_col)
    )
