"""Query planning: join-graph construction, tree validation, FK-FK join
translation, and exact execution on base tables.

Reference semantics (NOT code): scardina/estimators.py:1135-1232 — the query's
equi-join conditions become a graph over aliases; cyclic query graphs are
rejected; an FK-FK join (neither side a declared PK) is translated into the
FK-PK-FK path through the schema, adding the intermediate PK table to the
query.  Root/cover selection for the estimator lives with the estimators;
this module also provides the *exact* executor used as ground truth — a
plain declarative multi-join that Catalyst orders, broadcasts and pushes
down on its own (the optimizer work the reference had no execution engine
to give to).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import networkx as nx
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import SchemaGraph
from .parse import ParsedQuery
from .predicates import Predicate, normalize_predicates, predicates_to_sql


@dataclass
class QueryPlan:
    query: ParsedQuery
    # alias-level equi-join edges after translation: (alias_a, col_a, alias_b, col_b)
    join_edges: list[tuple[str, str, str, str]]
    filters: list[Predicate]
    tables: dict[str, str]  # alias -> table
    root: str               # alias chosen as join root

    @property
    def aliases(self) -> list[str]:
        return sorted(self.tables)


def _edge_between(sg: SchemaGraph, t1: str, c1: str, t2: str, c2: str) -> bool:
    for rel in sg.relationships():
        if {(rel.pk_table, rel.pk_col), (rel.fk_table, rel.fk_col)} == \
                {(t1, c1), (t2, c2)}:
            return True
    return False


def translate_fk_fk_joins(sg: SchemaGraph, pq: ParsedQuery) -> ParsedQuery:
    """Rewrite FK-FK equi-joins into FK-PK + PK-FK pairs through the schema,
    adding the PK table to the query when absent (reference semantics:
    scardina/estimators.py:1151-1179)."""
    tables = dict(pq.tables)
    joins: list[tuple[str, str]] = []
    for a, b in pq.joins:
        al_a, col_a = a.split(".", 1)
        al_b, col_b = b.split(".", 1)
        t_a, t_b = tables[al_a], tables[al_b]
        if _edge_between(sg, t_a, col_a, t_b, col_b):
            joins.append((a, b))
            continue
        # FK-FK: both columns are FKs referencing the same PK
        pk_targets_a = {(r.pk_table, r.pk_col) for r in sg.rels_into(t_a)
                        if r.fk_col == col_a}
        pk_targets_b = {(r.pk_table, r.pk_col) for r in sg.rels_into(t_b)
                        if r.fk_col == col_b}
        common = pk_targets_a & pk_targets_b
        if not common:
            # unknown join: keep raw (exact executor handles it; estimator
            # will reject if it can't route it)
            joins.append((a, b))
            continue
        pk_t, pk_c = sorted(common)[0]
        alias = pk_t if pk_t not in tables else f"__{pk_t}__via__{col_a}"
        tables[alias] = pk_t
        joins.append((a, f"{alias}.{pk_c}"))
        joins.append((f"{alias}.{pk_c}", b))
    return ParsedQuery(tables=tables, joins=joins,
                       filters=list(pq.filters), sql=pq.sql)


def plan_query(sg: SchemaGraph, pq: ParsedQuery,
               translate: bool = True) -> QueryPlan:
    if translate:
        pq = translate_fk_fk_joins(sg, pq)
    g = nx.Graph()
    g.add_nodes_from(pq.tables)
    edges: list[tuple[str, str, str, str]] = []
    for a, b in pq.joins:
        al_a, col_a = a.split(".", 1)
        al_b, col_b = b.split(".", 1)
        g.add_edge(al_a, al_b)
        edges.append((al_a, col_a, al_b, col_b))
    if len(pq.tables) > 1:
        if not nx.is_connected(g):
            raise ValueError("query join graph is not connected")
        if not nx.is_tree(g):
            # cyclic query graphs rejected (reference: estimators.py:1191)
            raise ValueError("query join graph must be a tree")
    # root: the largest table by declared size, else lexicographically first
    def size_of(alias: str) -> int:
        m = sg.meta(pq.tables[alias]) if pq.tables[alias] in sg.table_names else None
        return (m.size or 0) if m else 0
    root = max(sorted(pq.tables), key=size_of)
    return QueryPlan(query=pq, join_edges=edges,
                     filters=normalize_predicates(pq.filters),
                     tables=dict(pq.tables), root=root)


def execute_count(plan: QueryPlan, tables: dict[str, DataFrame]) -> int:
    """Ground-truth COUNT(*): declarative multi-join + conjunctive filter.
    Catalyst reorders/broadcasts; predicates and pruned columns reach the
    parquet scan."""
    df = execute_join(plan, tables)
    return df.count()


def execute_join(plan: QueryPlan, tables: dict[str, DataFrame]) -> DataFrame:
    """The query's join with columns aliased ``alias.column`` and filters
    applied (shared by exact counting and any materialization)."""
    frames: dict[str, DataFrame] = {}
    for alias, tname in plan.tables.items():
        t = tables[tname]
        frames[alias] = t.select(
            *[F.col(f"`{c}`").alias(f"{alias}.{c}") for c in t.columns])

    # BFS over the join tree from the root so each new table joins on an
    # already-present alias
    g = nx.Graph()
    g.add_nodes_from(plan.tables)
    for al_a, col_a, al_b, col_b in plan.join_edges:
        g.add_edge(al_a, al_b, cols=(col_a, col_b))

    df = frames[plan.root]
    present = {plan.root}
    if len(plan.tables) > 1:
        for parent, children in nx.bfs_successors(g, plan.root):
            for child in children:
                col_p, col_c = g.edges[parent, child]["cols"]
                # orient the condition to the (parent, child) direction
                for al_a, col_a, al_b, col_b in plan.join_edges:
                    if {al_a, al_b} == {parent, child}:
                        if al_a == parent:
                            col_p, col_c = col_a, col_b
                        else:
                            col_p, col_c = col_b, col_a
                        break
                df = df.join(
                    frames[child],
                    F.col(f"`{parent}.{col_p}`") == F.col(f"`{child}.{col_c}`"),
                    "inner")
                present.add(child)

    if plan.filters:
        df = df.where(predicates_to_sql(plan.filters, qualify=True))
    return df
