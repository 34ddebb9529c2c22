"""Fanout statistics: per-FK multiplicity counts and their attachment.

Reference semantics (NOT code): scardina/datasets.py:106-116 (value_counts
per FK column) and scardina/datasets.py:144-221 (per-edge outer-join of the
opposite side's count onto each table as ``__adj_fanout__:<my_col>=<other_
table>.<other_col>``, unmatched keys filled with 1, int64).

Spark mapping: ``groupBy(fk).count()`` + ``left_outer`` join + ``coalesce(_, 1)``.
Both are shuffle-on-key operations that scale linearly; the count table for
a dimension join is small and AQE will broadcast it at runtime.

Deviation from the reference, documented: the reference uses an *outer*
merge, which fabricates phantom rows for FK keys absent from the PK side
(orphan FKs).  We use ``left_outer`` — each base table keeps exactly its own
rows.  On PK-FK-consistent data (the testdata and IMDB alike) the results
are identical; on orphan-FK data left_outer is the defensible semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schema import Relationship, SchemaGraph

COUNT = "count"


def adj_fanout_col(my_col: str, other_table: str, other_col: str) -> str:
    return f"__adj_fanout__:{my_col}={other_table}.{other_col}"


def fanout_col(my_col: str, other_table: str, other_col: str) -> str:
    return f"__fanout__:{my_col}={other_table}.{other_col}"


def fk_counts(df: DataFrame, fk_col: str) -> DataFrame:
    """Per-key multiplicity of ``fk_col`` → columns (fk_col, count).

    Nulls excluded, matching pandas ``value_counts`` semantics
    (reference: scardina/datasets.py:113).
    """
    c = F.col(f"`{fk_col}`")
    return (df.where(c.isNotNull())
            .groupBy(c.alias(fk_col)).agg(F.count(F.lit(1)).alias(COUNT)))


def attach_count(df: DataFrame, key_col: str, counts: DataFrame,
                 counts_key: str, out_col: str) -> DataFrame:
    """left_outer-join a (key, count) table onto ``df`` as ``out_col``,
    filling unmatched keys with 1 (reference: scardina/datasets.py:161-187)."""
    cnt = counts.select(
        F.col(f"`{counts_key}`").alias("__k__"),
        F.col(COUNT).alias("__c__"),
    )
    joined = df.join(cnt, F.col(f"`{key_col}`") == F.col("__k__"), "left_outer")
    return joined.withColumn(
        out_col, F.coalesce(F.col("__c__"), F.lit(1)).cast("long")
    ).drop("__k__", "__c__")


def attach_adj_fanouts(sg: SchemaGraph, tables: dict[str, DataFrame]
                       ) -> dict[str, DataFrame]:
    """For every PK->FK edge, attach both sides' ``__adj_fanout__`` columns.

    * PK side gets the FK side's per-key count (how many FK rows join each
      PK row), 1 when unmatched.
    * FK side gets constant 1 (a true PK joins exactly one row; the
      reference writes the same constant when no fk_count exists,
      scardina/datasets.py:170-171,184-185).
    """
    out = dict(tables)
    for rel in sg.relationships():
        pk_side_col = adj_fanout_col(rel.pk_col, rel.fk_table, rel.fk_col)
        counts = fk_counts(tables[rel.fk_table], rel.fk_col)
        out[rel.pk_table] = attach_count(
            out[rel.pk_table], rel.pk_col, counts, rel.fk_col, pk_side_col)

        fk_side_col = adj_fanout_col(rel.fk_col, rel.pk_table, rel.pk_col)
        out[rel.fk_table] = out[rel.fk_table].withColumn(
            fk_side_col, F.lit(1).cast("long"))
    return out


def edge_fanout(child: DataFrame, rel_key: str, weight_col: str = "__weight__"
                ) -> DataFrame:
    """Sum of child weights per join key — the ``__fanout__`` aggregate used
    by bottom-up weight computation (reference: scardina/datasets.py:331)."""
    return child.groupBy(F.col(f"`{rel_key}`").alias(rel_key)).agg(
        F.sum(F.col(f"`{weight_col}`")).alias("__fsum__"))
