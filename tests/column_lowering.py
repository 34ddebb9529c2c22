"""Column-API lowering of predicates: the test reference for the SQL
lowering in ``scardina_spark.plans.predicates``.

The library lowers predicates only to SQL strings (one Catalyst parse
instead of one py4j round-trip per expression node).  This module keeps
the node-by-node ``pyspark.sql.Column`` build so tests can check that the
SQL form produces bit-identical results.
"""

from pyspark.sql import Column, functions as F

from scardina_spark.plans.predicates import Predicate, _like_to_rlike


def predicate_to_column(p: Predicate, qualify: bool = False) -> Column:
    """Lower one predicate to a Spark Column over base data.  With
    ``qualify`` the prefixed sample layout (``table.column``) is used."""
    o = p.o.upper()
    if o == "OR":
        col = predicate_to_column(p.branches[0], qualify)
        for b in p.branches[1:]:
            col = col | predicate_to_column(b, qualify)
        return col
    name = p.c if qualify else p.column
    c = F.col(f"`{name}`")
    if o in (">", "<", ">=", "<="):
        return {">" : c > F.lit(p.v), "<": c < F.lit(p.v),
                ">=": c >= F.lit(p.v), "<=": c <= F.lit(p.v)}[o]
    if o in ("=", "=="):
        return c == F.lit(p.v)
    if o in ("!=", "<>"):
        return c != F.lit(p.v)
    if o == "IN":
        return c.isin(list(p.v))
    if o == "BETWEEN":
        lo, hi = p.v
        return c.between(F.lit(lo), F.lit(hi))
    if o == "IS":
        return c.isNull() if p.v is None else (c == F.lit(p.v))
    if o == "IS NOT":
        return c.isNotNull() if p.v is None else (c != F.lit(p.v))
    if o == "LIKE":
        return c.rlike(_like_to_rlike(p.v))
    if o == "NOT LIKE":
        return ~c.rlike(_like_to_rlike(p.v))
    if o == "ALL_TRUE":
        return F.lit(True)
    if o == "ALL_FALSE":
        return F.lit(False)
    raise ValueError(f"unsupported op: {p.o}")


def predicates_to_column(preds: list[Predicate], qualify: bool = False) -> Column:
    """AND-conjunction (the only connective the reference's query language
    has, scardina/run.py:796-917)."""
    if not preds:
        return F.lit(True)
    col = predicate_to_column(preds[0], qualify)
    for p in preds[1:]:
        col = col & predicate_to_column(p, qualify)
    return col
