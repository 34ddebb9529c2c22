"""Sampling-based join cardinality estimator (Horvitz-Thompson over a
materialized unbiased join sample).

This is the Spark-native analog of the reference's UR estimator
(scardina/estimators.py:925-1030): the full-join row count times the mean,
over an unbiased sample of the join, of ``1[predicates] / Π fanout`` where
the fanout product collapses the multiplicity contributed by tables the
query does not use.  The reference draws its rows from a learned density
model (progressive sampling); here they come from the materialized join
sample itself — same estimator, sample-backed instead of model-backed, and
each query is ONE aggregate over a cached ≤500k-row DataFrame.

Statistical correction vs the reference: the reference divides by its
``__fanout__`` columns, which are *weight sums* (subtree sizes,
scardina/datasets.py:331).  Dividing by the bridge and all unused-subtree
edges is only unbiased when every unused subtree has depth 1 — true for its
IMDB star schema, not in general.  We divide by per-edge *adjacency*
fanouts (``__adj_fanout__`` counts, scardina/datasets.py:144-221
semantics), whose per-row product telescopes to the used-projection
multiplicity at any depth, so the estimator stays unbiased on arbitrary
tree schemas.

Scale notes: prep is the fanout/weight/sample pipeline (a handful of
key-shuffles over base tables); query time touches only the sample —
no base-table scan, no shuffle, broadcast-free.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import networkx as nx
from pyspark.sql import Column, DataFrame, functions as F

from ..operators.fanout import adj_fanout_col, attach_count, fk_counts
from ..operators.sampler import join_sample
from ..plans.parse import ParsedQuery, parse_query
from ..plans.predicates import (
    Predicate, accepts_null, normalize_predicates, value_mask)
from ..schema import Relationship, SchemaGraph, Subschema


class UnsupportedQueryError(ValueError):
    pass


def _column_mask(ts: "TreeSample", p: Predicate):
    """Rows of the localized sample that satisfy ``p`` (OR branches may
    reference different columns; their masks are ORed).

    Per column, the values ``value_mask`` sees and the non-NULL mask
    are cached on the (immutable once localized) sample.  Categorical
    (dictionary-encoded) columns evaluate over the CATEGORIES and gather
    through the codes, so a LIKE regex runs once per category, not once
    per row (NULL code -1 indexes the appended False); object columns
    evaluate their non-NULL subset; numeric and datetime columns compare
    the whole array and drop the NULL rows with the mask."""
    import numpy as np
    import pandas as pd

    if p.o.upper() == "OR":
        return np.logical_or.reduce([_column_mask(ts, b)
                                     for b in p.branches])
    cache = ts.__dict__.setdefault("_local_col_cache", {})
    hit = cache.get(p.c)
    if hit is None:
        s = ts.local[p.c]
        notna = s.notna().to_numpy()
        if isinstance(s.dtype, pd.CategoricalDtype):
            hit = (s.cat.categories.to_numpy(), s.cat.codes.to_numpy(),
                   notna)
        else:
            vals = s.to_numpy()
            hit = (vals[notna] if vals.dtype == object else vals, None,
                   notna)
        cache[p.c] = hit
    vals, codes, notna = hit
    if codes is not None:
        m = np.append(value_mask(vals, p), False)[codes]
    elif vals.dtype == object:
        m = np.zeros(len(notna), dtype=bool)
        m[notna] = value_mask(vals, p)
    else:
        m = value_mask(vals, p) & notna
    return m | ~notna if accepts_null(p) else m


def _requalify(p: Predicate, alias_to_table: dict[str, str],
               ts: "TreeSample") -> Predicate:
    """Alias-qualified predicate → the sample's ``table.column`` layout
    (OR-aware: every branch is re-qualified independently)."""
    if p.o.upper() == "OR":
        return Predicate(
            _requalify(p.branches[0], alias_to_table, ts).c, "OR",
            tuple(_requalify(b, alias_to_table, ts) for b in p.branches))
    t = alias_to_table.get(p.table or "", p.table)
    if t not in ts.tables:
        raise UnsupportedQueryError(f"predicate on unknown table: {p.c}")
    return Predicate(f"{t}.{p.column}", p.o, p.v)


def _local_contrib(ts: "TreeSample", preds: list[Predicate],
                   q_tables: set[str]):
    import numpy as np

    pdf = ts.local
    ind = np.ones(len(pdf), dtype=bool)
    for p in preds:
        ind &= _column_mask(ts, p)
    # the existence mask and fanout divisor depend only on the query's
    # TABLE SET — a handful of distinct sets per workload — so both are
    # cached per set on the (immutable once localized) sample: the
    # per-query work shrinks to the predicate masks + one multiply
    cache = ts.__dict__.setdefault("_local_qt_cache", {})
    key = frozenset(q_tables)
    hit = cache.get(key)
    if hit is None:
        tmask = np.ones(len(pdf), dtype=bool)
        for t in sorted(q_tables):
            tmask &= pdf[f"__in__:{t}"].fillna(False).to_numpy(dtype=bool)
        div = np.ones(len(pdf))
        for c in _divisor_cols(ts, q_tables):
            div *= np.maximum(pdf[c].fillna(1).to_numpy(dtype=float), 1.0)
        hit = cache[key] = (tmask, div)
    tmask, div = hit
    return (ind & tmask) / div


def _local_mean(ts: "TreeSample", preds: list[Predicate],
                q_tables: set[str]) -> float:
    if len(ts.local) == 0:
        return 0.0
    return float(_local_contrib(ts, preds, q_tables).mean())


def spanning_tree(sg: SchemaGraph, root: str) -> Subschema:
    """Deterministic BFS spanning tree of the schema from ``root`` — the UR
    join tree (cycles in the schema graph, e.g. TPC-H's
    customer→nation←supplier diamond, are broken by dropping non-tree
    edges; queries over dropped edges route to a CIN sample instead)."""
    und = nx.Graph()
    for rel in sg.relationships():
        und.add_edge(rel.pk_table, rel.fk_table)
    rels_by_pair: dict[frozenset, Relationship] = {}
    for rel in sg.relationships():
        rels_by_pair.setdefault(frozenset((rel.pk_table, rel.fk_table)), rel)
    rels = []
    if root in und:
        for u, v in nx.bfs_edges(und, root):
            rels.append(rels_by_pair[frozenset((u, v))])
    # else: a one-table schema (dmv / flight-delays, reference
    # datasets.py:425-571) — the UR tree is edgeless: all weights 1,
    # join size = row count, the single-table fallback downstream.
    return Subschema(f"{sg.name}__ur__{root}", root, tuple(rels))


def cin_trees(sg: SchemaGraph, center: str) -> list[Subschema]:
    """ALL closed-in-neighborhood subschemas of ``center`` — more than
    one when parallel FK edges expand into alternatives (reference
    scardina/schema.py:117), deterministically ordered by name."""
    return sorted((ss for ss in sg.cin_subschemas().values()
                   if ss.center == center), key=lambda s: s.name)


def cin_tree(sg: SchemaGraph, center: str) -> Subschema:
    """The closed-in-neighborhood subschema of ``center`` (first
    alternative under parallel edges; use :func:`cin_trees` to cover
    every alternative)."""
    return cin_trees(sg, center)[0]


def attach_tree_adj_fanouts(
    tree: Subschema, tables: dict[str, DataFrame],
    counts: dict[tuple[str, str], DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Per tree edge, attach both directed adjacency fanouts: the PK side
    gets the FK side's per-key row count; the FK side gets constant 1 (a
    PK matches at most one row).  Unmatched keys fill 1 — a null-extended
    row contributes exactly one join row.  ``counts`` maps an edge's
    ``(fk_table, fk_col)`` to a precomputed per-key count table (e.g. a
    delta-merged one) used instead of counting the FK table.

    Sibling trees (parallel-edge variants) recompute shared per-edge
    aggregates; sharing them via a cache changes partition lineage and
    therefore the seeded sample draw, so cross-tree reuse belongs to the
    parquet checkpoint stages (operators/pipeline.py), which preserve
    determinism.  Measured at sf0.1 the aggregates are not the prep
    bottleneck anyway (cache saved nothing; the weighted-sample
    materialization dominates)."""
    out = {t: tables[t] for t in tree.tables}
    for rel in tree.rels:
        pk_col = adj_fanout_col(rel.pk_col, rel.fk_table, rel.fk_col)
        cnt = (counts or {}).get((rel.fk_table, rel.fk_col))
        if cnt is None:
            cnt = fk_counts(out[rel.fk_table], rel.fk_col)
        out[rel.pk_table] = attach_count(
            out[rel.pk_table], rel.pk_col, cnt, rel.fk_col, pk_col)
        fk_col = adj_fanout_col(rel.fk_col, rel.pk_table, rel.pk_col)
        out[rel.fk_table] = out[rel.fk_table].withColumn(
            fk_col, F.lit(1).cast("long"))
    return out


@dataclass
class TreeSample:
    tree: Subschema
    root: str
    sample: DataFrame          # prefixed ``table.col`` layout + markers/fanouts
    join_size: int
    n_sample: int
    local: "object | None" = None   # pandas DataFrame when localized

    @property
    def tables(self) -> set[str]:
        return self.tree.tables

    def localize(self) -> "TreeSample":
        """Pull the (bounded, ≤n_max-row) sample to the driver for
        vectorized query evaluation — the reference's deployment shape:
        the cluster prepares the sample, the estimator process answers
        queries in microseconds without a cluster round-trip.  The Spark
        DataFrame stays available for distributed evaluation."""
        if self.local is None:
            pdf = self.sample.toPandas()
            # dictionary-encode string columns: predicate evaluation
            # then runs over the categories and gathers through codes
            # (see _column_mask) — skipped for near-unique columns
            # where the dictionary would just duplicate the data
            for c in pdf.columns:
                if pdf[c].dtype == object:
                    first = pdf[c].dropna()
                    if len(first) == 0 or not isinstance(
                            first.iloc[0], str):
                        continue   # only string columns dictionary-encode
                    nu = pdf[c].nunique(dropna=True)
                    if nu <= min(100_000, max(1, len(pdf) // 2)):
                        pdf[c] = pdf[c].astype("category")
            self.local = pdf
        return self


def prepare_tree_sample(
    tree: Subschema, tables: dict[str, DataFrame], root: str | None = None,
    n_min: int = 100_000, n_max: int = 500_000, seed: int = 42,
) -> TreeSample:
    """Materialize the unbiased weighted join sample of ``tree``
    (reference pipeline stages b-d, scardina/datasets.py:144-378): the
    adjacency fanouts here, then ``join_sample`` weights, draws, sizes
    and caches the sample."""
    root = root or tree.center
    samp, join_size, n = join_sample(
        tree, attach_tree_adj_fanouts(tree, tables), root, n_min, n_max, seed)
    return TreeSample(tree, root, samp, join_size, n)


def _query_tables(pq: ParsedQuery) -> dict[str, str]:
    tables = pq.tables
    if len(set(tables.values())) != len(tables):
        raise UnsupportedQueryError("self-joins unsupported by sample estimator")
    return tables


def _tree_edge_pairs(tree: Subschema) -> dict[frozenset, Relationship]:
    return {
        frozenset(((r.pk_table, r.pk_col), (r.fk_table, r.fk_col))): r
        for r in tree.rels
    }


def _validate_joins(ts: TreeSample, pq: ParsedQuery,
                    alias_to_table: dict[str, str]) -> None:
    pairs = _tree_edge_pairs(ts.tree)
    for a, b in pq.joins:
        al_a, col_a = a.split(".", 1)
        al_b, col_b = b.split(".", 1)
        key = frozenset(((alias_to_table[al_a], col_a),
                         (alias_to_table[al_b], col_b)))
        if key not in pairs:
            raise UnsupportedQueryError(
                f"join {a}={b} is not an edge of sample tree {ts.tree.name}")


def _crossing_fanout_cols(ts: TreeSample, src: set[str], dst: set[str]
                          ) -> list[str]:
    """Directed adjacency-fanout columns for the edges leaving ``src`` into
    ``dst``: each bridge src→dst plus all edges inside the entered ``dst``
    component (BFS from the bridge head).  The per-row product of these
    columns is the join multiplicity the ``dst`` side contributes per
    ``src`` row."""
    g = nx.Graph()
    g.add_nodes_from(ts.tree.tables)
    rel_of: dict[frozenset, Relationship] = {}
    for r in ts.tree.rels:
        g.add_edge(r.pk_table, r.fk_table)
        rel_of[frozenset((r.pk_table, r.fk_table))] = r

    def col_for(u: str, v: str) -> str:
        r = rel_of[frozenset((u, v))]
        if u == r.pk_table:
            return f"{u}.{adj_fanout_col(r.pk_col, r.fk_table, r.fk_col)}"
        return f"{u}.{adj_fanout_col(r.fk_col, r.pk_table, r.pk_col)}"

    cols: list[str] = []
    sub_dst = g.subgraph(dst)
    for u in sorted(src):
        for v in sorted(g.neighbors(u)):
            if v not in dst:
                continue
            cols.append(col_for(u, v))
            for x, y in nx.bfs_edges(sub_dst, v):
                cols.append(col_for(x, y))
    return cols


def _divisor_cols(ts: TreeSample, used: set[str]) -> list[str]:
    """Directed edges pointing away from the used set: bridges used→unused
    plus all edges inside each unused component (BFS from the bridge head).
    Reference analog: _find_fanout_cols, scardina/estimators.py:967-999."""
    return _crossing_fanout_cols(ts, used, set(ts.tree.tables) - used)


@dataclass
class SampleEstimator:
    """Routes each query to the smallest prepared sample covering it and
    runs the Horvitz-Thompson aggregate (reference analog: subschema cover
    selection, scardina/estimators.py:1196-1232)."""

    samples: list[TreeSample] = field(default_factory=list)
    name: str = "sample"

    def add(self, ts: TreeSample) -> None:
        self.samples.append(ts)

    def _pick(self, q_tables: set[str], pq: ParsedQuery,
              alias_to_table: dict[str, str]) -> TreeSample:
        candidates = sorted(
            (ts for ts in self.samples if q_tables <= ts.tables),
            key=lambda ts: (len(ts.tables), ts.tree.name))
        for ts in candidates:
            try:
                self._validate(ts, pq, alias_to_table, q_tables)
                return ts
            except UnsupportedQueryError:
                continue
        raise UnsupportedQueryError(
            f"no prepared sample covers tables {sorted(q_tables)} "
            f"with the query's join edges")

    def _validate(self, ts: TreeSample, pq: ParsedQuery,
                  alias_to_table: dict[str, str], q_tables: set[str]) -> None:
        _validate_joins(ts, pq, alias_to_table)
        # used set must induce a connected subtree so every unused component
        # hangs off exactly one used table (divisor correctness)
        if len(q_tables) > 1:
            g = nx.Graph()
            for r in ts.tree.rels:
                g.add_edge(r.pk_table, r.fk_table)
            if not nx.is_connected(g.subgraph(q_tables)):
                raise UnsupportedQueryError(
                    "query tables are not connected within the sample tree")

    def _route(self, query: ParsedQuery | str
               ) -> tuple[TreeSample, list[Predicate], set[str]]:
        """Resolve a query to (sample, table-qualified predicates, used
        tables) — the shared front half of the single and batched paths."""
        pq = parse_query(query) if isinstance(query, str) else query
        alias_to_table = _query_tables(pq)
        q_tables = set(alias_to_table.values())
        ts = self._pick(q_tables, pq, alias_to_table)
        preds = []
        for p in normalize_predicates(pq.filters):
            preds.append(_requalify(p, alias_to_table, ts))
        return ts, preds, q_tables

    @staticmethod
    def _contrib_column(ts: TreeSample, preds: list[Predicate],
                        q_tables: set[str]) -> Column:
        """Per-row HT contribution ``1[preds ∧ markers] / Π fanout`` as one
        Spark Column (the aggregate's input on the distributed path).

        Rendered as ONE SQL string (r12): the Column-API build cost one
        py4j round-trip per expression node — ~6 s of driver time for
        an 80-query batch while the cluster idled (guide §4).  The
        parsed tree is node-for-node what the Column API built (typed
        literals via predicates.sql_literal), so every estimate is
        bit-identical — pinned by
        test_contrib_sql_matches_column_estimates."""
        from ..plans.predicates import predicates_to_sql

        ind = predicates_to_sql(preds, qualify=True)
        for t in sorted(q_tables):
            ind = f"{ind} AND `__in__:{t}`"
        div = "1.0D"
        for c in _divisor_cols(ts, q_tables):
            div = f"{div} * greatest(CAST(`{c}` AS DOUBLE), 1.0D)"
        return F.expr(
            f"CASE WHEN {ind} THEN 1.0D / ({div}) ELSE 0.0D END")

    def estimate(self, query: ParsedQuery | str) -> float:
        ts, preds, q_tables = self._route(query)
        if ts.local is not None:
            mean = _local_mean(ts, preds, q_tables)
        else:
            contrib = self._contrib_column(ts, preds, q_tables)
            mean = ts.sample.agg(
                F.avg(contrib).alias("m")).collect()[0]["m"] or 0.0
        return float(ts.join_size) * float(mean)

    def estimate_with_stderr(self, query: ParsedQuery | str
                             ) -> tuple[float, float]:
        """(estimate, standard error): the HT mean over the sample is an
        unbiased estimator whose per-row contributions also give its
        sampling variance, so the sample certifies a confidence band
        around its own estimate (used by HybridEstimator's CI clamp)."""
        import math

        ts, preds, q_tables = self._route(query)
        if ts.local is not None:
            z = _local_contrib(ts, preds, q_tables)
            n = len(z)
            if n == 0:
                return 0.0, 0.0
            mean = float(z.mean())
            var = float(z.var(ddof=1)) if n > 1 else 0.0
        else:
            contrib = self._contrib_column(ts, preds, q_tables)
            row = ts.sample.agg(
                F.avg(contrib).alias("m"),
                F.var_samp(contrib).alias("v"),
                F.count(F.lit(1)).alias("n")).collect()[0]
            mean = float(row["m"] or 0.0)
            var = float(row["v"] or 0.0)
            n = int(row["n"])
            if n == 0:
                return 0.0, 0.0
        j = float(ts.join_size)
        return j * mean, j * math.sqrt(max(var, 0.0) / n)

    def estimate_many(self, queries: dict[str, ParsedQuery | str],
                      batch_size: int = 64) -> dict[str, float]:
        """Batched estimation: route every query, then evaluate all queries
        sharing a sample in ONE aggregate — ``avg(when(pred_i, 1/div_i))``
        per query — so a suite costs one plan compile + one pass over each
        cached sample instead of a per-query job (~300 ms of whole-stage
        codegen per plan on the distributed path).  At 100 TB the same
        shape holds: the sample is bounded, the aggregate is map-side
        partial, and query count scales the projection width, not the
        pass count.  ``batch_size`` caps aggregate width (very wide
        codegen functions stop JIT-compiling around a few hundred exprs).

        Unsupported queries are omitted from the result; callers that need
        the reason re-run them through ``estimate`` individually."""
        routed: dict[str, tuple] = {}
        out: dict[str, float] = {}
        for key, q in queries.items():
            try:
                routed[key] = self._route(q)
            except UnsupportedQueryError:
                continue
        by_ts: dict[int, list[str]] = {}
        ts_of: dict[int, TreeSample] = {}
        for key, (ts, _, _) in routed.items():
            by_ts.setdefault(id(ts), []).append(key)
            ts_of[id(ts)] = ts
        for tid, keys in by_ts.items():
            ts = ts_of[tid]
            if ts.local is not None:
                for k in keys:
                    _, preds, q_tables = routed[k]
                    out[k] = float(ts.join_size) * _local_mean(
                        ts, preds, q_tables)
                continue
            for i in range(0, len(keys), batch_size):
                chunk = keys[i:i + batch_size]
                aggs = []
                for j, k in enumerate(chunk):
                    _, preds, q_tables = routed[k]
                    aggs.append(F.avg(self._contrib_column(
                        ts, preds, q_tables)).alias(f"q{j}"))
                row = ts.sample.agg(*aggs).collect()[0]
                for j, k in enumerate(chunk):
                    out[k] = float(ts.join_size) * float(row[f"q{j}"] or 0.0)
        return out
