"""Schema graph and subschema derivation (metadata-scale, driver-side).

Re-expresses the reference's schema model (reference: scardina/schema.py:10-204)
with the same semantics:

* a directed multigraph whose nodes are tables and whose edges point
  PK-side table -> FK-side table, each edge carrying the join columns;
* CIN subschemas: for each "center" table, the induced subgraph of the
  center plus all its PK-side in-neighbors (closed in-neighborhood);
  parallel edges (two FKs into the same table) expand into separate
  subschemas via the cartesian product (reference: scardina/schema.py:117);
* UR subschema: the whole schema as one universal relation
  (reference: scardina/schema.py:185-204).

This is metadata-scale work (tens of tables), so plain networkx on the
driver is the right tool; nothing here touches row data.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

import networkx as nx


@dataclass(frozen=True)
class Relationship:
    """One PK->FK edge: ``fk_table.fk_col`` references ``pk_table.pk_col``."""

    pk_table: str
    pk_col: str
    fk_table: str
    fk_col: str

    @property
    def name_part(self) -> str:
        # subschema naming mirrors reference: scardina/schema.py:150
        return f"{self.fk_col}={self.pk_table}.{self.pk_col}"


@dataclass
class TableMeta:
    name: str
    size: int | None = None
    col_names: list[str] = field(default_factory=list)
    pk: str | None = None


class SchemaGraph:
    """Driver-side registry of tables and PK->FK relationships."""

    def __init__(self, name: str):
        self.name = name
        self.g = nx.MultiDiGraph(name=name)

    # -- construction -----------------------------------------------------

    def add_table(self, name: str, *, size: int | None = None,
                  col_names: list[str] | None = None, pk: str | None = None) -> None:
        self.g.add_node(name, meta=TableMeta(name, size, list(col_names or []), pk))

    def add_relationship(self, pk_table: str, pk_col: str,
                         fk_table: str, fk_col: str) -> None:
        rel = Relationship(pk_table, pk_col, fk_table, fk_col)
        self.g.add_edge(pk_table, fk_table, rel=rel)

    # -- lookups ----------------------------------------------------------

    @property
    def table_names(self) -> list[str]:
        return sorted(self.g.nodes)

    def meta(self, table: str) -> TableMeta:
        return self.g.nodes[table]["meta"]

    def relationships(self) -> list[Relationship]:
        return [d["rel"] for _, _, d in self.g.edges(data=True)]

    def rels_into(self, table: str) -> list[Relationship]:
        """Edges where ``table`` is the FK side."""
        return [d["rel"] for _, _, d in self.g.in_edges(table, data=True)]

    # -- subschema derivation ----------------------------------------------

    def cin_subschemas(self) -> dict[str, "Subschema"]:
        """Closed-in-neighborhood subschemas, one (or more, with parallel
        edges) per center table.  Mirrors reference: scardina/schema.py:85-183.
        """
        out: dict[str, Subschema] = {}
        for center in self.table_names:
            rels_in = self.rels_into(center)
            if not rels_in:
                # PK-only table: single-table subschema (covers
                # single-table queries on dimension roots).
                ss = Subschema(center, center, ())
                out[ss.name] = ss
                continue
            # group parallel edges by PK-side neighbor; a neighbor reached by
            # k parallel FKs yields k alternatives -> cartesian product
            by_neighbor: dict[str, list[Relationship]] = {}
            for rel in rels_in:
                by_neighbor.setdefault(rel.pk_table, []).append(rel)
            for combo in itertools.product(*by_neighbor.values()):
                ss = Subschema(
                    center_name_for(center, combo), center, tuple(sorted(
                        combo, key=lambda r: r.name_part)))
                out[ss.name] = ss
        return out


def center_name_for(center: str, rels: tuple[Relationship, ...] | list[Relationship]) -> str:
    parts = sorted(r.name_part for r in rels)
    return ":".join([center] + parts)


@dataclass(frozen=True)
class Subschema:
    """A tree-shaped sub-join: center (FK side) + PK-side neighbors.

    ``rels`` all have ``fk_table == center`` for CIN subschemas; the UR
    subschema carries the full relationship set.
    """

    name: str
    center: str
    rels: tuple[Relationship, ...]

    @property
    def tables(self) -> set[str]:
        ts = {self.center}
        for r in self.rels:
            ts.add(r.pk_table)
            ts.add(r.fk_table)
        return ts

    def as_graph(self) -> nx.MultiDiGraph:
        g = nx.MultiDiGraph(name=self.name, center=self.center)
        g.add_nodes_from(self.tables)
        for r in self.rels:
            g.add_edge(r.pk_table, r.fk_table, rel=r)
        return g

    def join_tree(self, root: str | None = None) -> list[tuple[str, str, Relationship]]:
        """BFS edge list ``(parent, child, rel)`` over the undirected join
        graph from ``root`` (default: center).  Raises if the graph is not a
        tree (cyclic query graphs are rejected, as in
        reference: scardina/estimators.py:1191)."""
        root = root or self.center
        g = self.as_graph()
        und = g.to_undirected()
        if und.number_of_nodes() and not nx.is_tree(und):
            raise ValueError(f"join graph of {self.name} is not a tree")
        # hand-rolled BFS with SORTED children: nx.bfs_successors yields
        # neighbors in an order that reaches a Python set somewhere in
        # the (multi)graph conversion, so it varies with the per-process
        # hash seed — measured 4 distinct edge orders across 10 processes
        # on the jm graph, which silently re-seeded every downstream
        # per-edge draw.  Sorting children (and parallel-edge keys) makes
        # the enumeration a pure function of the schema.
        order: list[tuple[str, str, Relationship]] = []
        seen = {root}
        frontier = [root]
        while frontier:
            nxt: list[str] = []
            for parent in frontier:
                for child in sorted(set(und.neighbors(parent)) - seen):
                    seen.add(child)
                    nxt.append(child)
                    datas = g.get_edge_data(parent, child) \
                        or g.get_edge_data(child, parent)
                    for k in sorted(datas):
                        order.append((parent, child, datas[k]["rel"]))
            frontier = nxt
        return order
