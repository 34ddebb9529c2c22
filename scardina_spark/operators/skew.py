"""Skew mitigation: salted aggregation.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew; ``salted_group_agg`` covers the case AQE can't fix: a single hot
group key overwhelms one reducer.  Two-phase: aggregate on (key, salt)
first (spreads the hot key over ``n_salts`` reducers), then combine
partials.  Only works for algebraic aggregates (sum/count/min/max) —
exactly the ones the prep pipeline uses.

It rewrites to pure DataFrame ops; results are exactly equal to the
unsalted plan (tests assert equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT = "__salt__"


def salted_group_agg(df: DataFrame, key_cols: list[str],
                     sum_cols: dict[str, str] | None = None,
                     count_alias: str | None = "cnt",
                     n_salts: int = 16, seed: int = 42) -> DataFrame:
    """Two-phase groupBy: partial agg on (keys, salt), final agg on keys.

    ``sum_cols``: {input_col: output_alias} summed columns.
    ``count_alias``: alias for COUNT(*) (None to omit).
    """
    sum_cols = sum_cols or {}
    salted = df.withColumn(
        SALT, (F.rand(seed) * n_salts).cast("int"))
    partial_aggs = [F.sum(F.col(f"`{c}`")).alias(f"__ps_{a}__")
                    for c, a in sum_cols.items()]
    if count_alias:
        partial_aggs.append(F.count(F.lit(1)).alias("__pc__"))
    partial = salted.groupBy(*[F.col(f"`{k}`") for k in key_cols], F.col(SALT)) \
        .agg(*partial_aggs)
    final_aggs = [F.sum(F.col(f"__ps_{a}__")).alias(a)
                  for a in sum_cols.values()]
    if count_alias:
        final_aggs.append(F.sum("__pc__").alias(count_alias))
    return partial.groupBy(*[F.col(f"`{k}`") for k in key_cols]).agg(*final_aggs)
