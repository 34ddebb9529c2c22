"""CIN mode with learned models: one NAR model per subschema sample,
chained by conditional ratios.

This is the reference's headline configuration (ProgressiveSamplingCIN,
scardina/estimators.py:1135-1425): the schema decomposes into
closed-in-neighborhood subschemas, each materializes a join sample and
trains its own density model, and a query spanning several subschemas
multiplies per-model conditional selectivities.  Like the reference, the
conditioning *inherits sampled values* of shared columns between models
(estimators.py:1309-1411): the root model's progressive sampler draws
per-row values for its fragment, each subsequent model fixes the shared
columns to those values (unmasked inputs, no probability contribution),
samples only its NEW tables' predicates/markers, and up-scales by the
sampled fanout of the shared→new crossing edges (estimators.py:
1413-1423).  That inherited chain is the one chained estimate; the
expectation-level ratio chain

    P_k(frag_k) / P_k(frag_k ∩ shared)

(the chain rule StitchedEstimator evaluates over HT aggregates) serves
only the queries the inherited chain cannot answer.  Checking an
estimate against the materialized samples is HybridEstimator's job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..plans.parse import ParsedQuery, parse_query
from .sample import TreeSample, UnsupportedQueryError
from .stitch import build_chain, chain_estimate, make_fragment


@dataclass
class NarCinEstimator:
    """models: one NarJoinEstimator per prepared CIN subschema sample."""

    models: list = field(default_factory=list)  # [NarJoinEstimator]
    name: str = "nar-cin"

    def add(self, model) -> None:
        self.models.append(model)

    @property
    def samples(self) -> list[TreeSample]:
        return [m.ts for m in self.models]

    def _model_for(self, ts: TreeSample):
        for m in self.models:
            if m.ts is ts:
                return m
        raise UnsupportedQueryError(f"no model for sample {ts.tree.name}")

    def estimate(self, query: ParsedQuery | str) -> float:
        pq = parse_query(query) if isinstance(query, str) else query
        # single-model fast path: smallest covering subschema
        candidates = sorted(
            (m for m in self.models
             if set(pq.tables.values()) <= m.ts.tables),
            key=lambda m: (len(m.ts.tables), m.ts.tree.name))
        for m in candidates:
            try:
                return m.estimate(pq)
            except UnsupportedQueryError:
                continue
        try:
            return self._estimate_inherited(pq)
        except (UnsupportedQueryError, ValueError):
            # a shared column whose dictionary values stay off the
            # driver (DistributedDomain) cannot be inherited by value
            return chain_estimate(
                self.samples, pq,
                lambda ts, frag: self._model_for(ts).estimate(frag))

    def _estimate_inherited(self, pq: ParsedQuery) -> float:
        """Per-row chained estimation with inherited shared-column samples
        (reference: estimators.py:1306,1309-1423 — ``cards *= probs``,
        ``cards *= fanouts`` per Monte-Carlo row)."""
        alias_to_table = dict(pq.tables)
        if len(set(alias_to_table.values())) != len(alias_to_table):
            raise UnsupportedQueryError("self-joins unsupported")
        chain = build_chain(self.samples, pq, alias_to_table)
        models = [self._model_for(ts) for ts, _, _ in chain]
        S = models[0].sample_size
        rs = np.random.RandomState(models[0].seed)
        # tables a later chain element will condition on: sample their
        # columns even when predicate-free so values exist to inherit
        later_shared = [set().union(*(sh for _, _, sh in chain[i + 1:]))
                        if i + 1 < len(chain) else set()
                        for i in range(len(chain))]
        values: dict[str, np.ndarray] = {}
        cards = np.ones(S)
        for i, ((ts, frag_tables, shared), m) in enumerate(zip(chain, models)):
            frag = make_fragment(pq, alias_to_table, ts, frag_tables)
            if i == 0:
                prob, vals = m.sample_rows(frag, later_shared[0], S, rs)
                cards = float(ts.join_size) * prob
            else:
                fac, vals = m.conditional_rows(
                    frag, frag_tables, shared, values, later_shared[i], S, rs)
                cards = cards * fac
            for c, arr in vals.items():
                values.setdefault(c, arr)
        return float(np.maximum(cards, 0.0).mean())


def save_cin_estimator(cin: NarCinEstimator, path: str) -> None:
    """Persist every per-subschema model (reference checkpoint workflow,
    one checkpoint per table/subschema model, scardina/run.py:659-708)."""
    import json
    import os

    from ..model.join_bridge import save_join_estimator

    os.makedirs(path, exist_ok=True)
    for i, m in enumerate(cin.models):
        save_join_estimator(m, os.path.join(path, f"model_{i}"))
    with open(os.path.join(path, "cin.json"), "w") as f:
        json.dump({"n_models": len(cin.models)}, f)


def load_cin_estimator(path: str, sg=None) -> NarCinEstimator:
    import json
    import os

    from ..model.join_bridge import load_join_estimator

    with open(os.path.join(path, "cin.json")) as f:
        n = json.load(f)["n_models"]
    est = NarCinEstimator()
    for i in range(n):
        est.add(load_join_estimator(os.path.join(path, f"model_{i}"), sg=sg))
    return est


def build_cin_estimator(sg, tables, model_columns: dict,
                        cfg_for, *, sample_size: int = 1000,
                        max_rows: int = 32_000, fact_threshold: int = 8,
                        seed: int = 42, arch: str = "mlp") -> NarCinEstimator:
    """Prepare + train every CIN subschema model, one at a time.

    ``cfg_for(center)`` returns the TrainConfig for one center.  Each
    subschema's sample is prepared, then its model fitted, in
    ``model_columns`` order; each trainer owns its own seeded
    RandomState, so the models (and every estimate) are deterministic.
    """
    from ..model.join_bridge import train_join_estimator
    from .sample import cin_trees, prepare_tree_sample

    est = NarCinEstimator()
    # a center with parallel FK edges expands into one subschema per
    # alternative (reference scardina/schema.py:117) — train them ALL so
    # query-time routing can pick the alternative whose edge the query
    # uses (shared model columns; the supplier-role columns bind to
    # whichever FK the subschema materializes)
    for center, cin_cols in model_columns.items():
        for tree in cin_trees(sg, center):
            ts = prepare_tree_sample(tree, tables, center, seed=seed)
            est.add(train_join_estimator(
                ts, cin_cols, cfg_for(center), sample_size=sample_size,
                max_rows=max_rows, fact_threshold=fact_threshold,
                arch=arch))
    return est
