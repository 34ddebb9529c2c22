"""SQL front-end + planner + exact executor vs DuckDB."""

import pytest

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.plans import parse_query, plan_query
from scardina_spark.plans.planner import execute_count
from scardina_spark.plans.predicates import (
    Predicate, literal_value, normalize_predicates, predicates_to_sql,
    sql_literal)


def test_parse_single_table():
    q = parse_query("SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30")
    assert q.tables == {"lineitem": "lineitem"}
    assert q.joins == []
    assert q.filters == [Predicate("lineitem.l_quantity", ">", 30)]


def test_parse_joins_and_predicates():
    q = parse_query(
        "SELECT COUNT(*) FROM lineitem l, orders o, part p "
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_partkey = p.p_partkey "
        "AND o.o_orderstatus = 'F' AND l.l_quantity BETWEEN 10 AND 20 "
        "AND p.p_size IN (1, 5, 9) AND o.o_orderpriority IS NOT NULL "
        "AND o.o_orderpriority LIKE '%URGENT%';")
    assert q.tables == {"l": "lineitem", "o": "orders", "p": "part"}
    assert ("l.l_orderkey", "o.o_orderkey") in q.joins
    ops = {p.o for p in q.filters}
    assert ops == {"=", "BETWEEN", "IN", "IS NOT", "LIKE"}


def test_parse_rejects_or():
    with pytest.raises(ValueError):
        parse_query("SELECT COUNT(*) FROM t WHERE a = 1 OR b = 2")


def test_normalize_between_and_null_eq():
    out = normalize_predicates([
        Predicate("t.a", "BETWEEN", (1, 5)),
        Predicate("t.b", "<>", 3),
        Predicate("t.c", "=", None),
    ])
    assert Predicate("t.a", ">=", 1) in out
    assert Predicate("t.a", "<=", 5) in out
    assert Predicate("t.b", "!=", 3) in out
    assert Predicate("t.c", "IS", None) in out



@pytest.mark.parametrize("tok", ["inf", "-inf", "nan"])
def test_sql_literal_rejects_non_finite(tok):
    """Catalyst cannot parse ``infD``/``nanD``: a non-finite literal
    fails loudly instead of shipping unparseable SQL."""
    with pytest.raises(ValueError, match="non-finite"):
        sql_literal(float(tok))
    # literal_value types the token "inf" as a float, so a parsed
    # predicate reaches the SQL lowering with it
    pred = Predicate("lineitem.l_quantity", ">", literal_value(tok))
    with pytest.raises(ValueError, match="non-finite"):
        predicates_to_sql([pred])
    assert sql_literal(1.5) == "1.5D"

def test_planner_rejects_cyclic_query():
    sg = build_tpch_schema()
    q = parse_query(
        "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
        "AND c.c_custkey = l.l_suppkey")  # fabricated cycle
    with pytest.raises(ValueError, match="tree"):
        plan_query(sg, q)


def test_fk_fk_translation_adds_pk_table():
    sg = build_tpch_schema()
    # customer.c_nationkey = supplier.s_nationkey is FK-FK through nation
    q = parse_query(
        "SELECT COUNT(*) FROM customer c, supplier s "
        "WHERE c.c_nationkey = s.s_nationkey")
    plan = plan_query(sg, q)
    assert "nation" in plan.tables.values()
    assert len(plan.join_edges) == 2


QUERIES = [
    "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'",
    "SELECT COUNT(*) FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey "
    "AND o.o_orderstatus = 'F' AND l.l_discount BETWEEN 0.02 AND 0.05",
    "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
    "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
    "AND c.c_mktsegment = 'BUILDING'",
    "SELECT COUNT(*) FROM orders WHERE o_orderpriority LIKE '%URGENT'",
    "SELECT COUNT(*) FROM part WHERE p_size IN (1, 5, 9, 13)",
]


@pytest.mark.parametrize("sql", QUERIES)
def test_exact_count_matches_duckdb(sql, tables, duck):
    sg = build_tpch_schema()
    plan = plan_query(sg, parse_query(sql))
    got = execute_count(plan, tables)
    want = duck.sql(sql).fetchone()[0]
    assert got == want
