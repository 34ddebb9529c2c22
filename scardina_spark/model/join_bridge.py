"""UR-mode learned estimator: NAR model over the materialized join sample.

This is the reference's main path end-to-end (scardina/estimators.py:
925-1030): train the density model on the unbiased join sample (columns
prefixed ``table.col``, plus ``__in__:table`` existence markers (P8) and
``__adj_fanout__`` columns), then answer a join query by progressive
sampling:

    card = |J| × mean over samples of ( Π conditional sels / Π fanouts )

* predicates on used tables become valid masks (including the implicit
  ``__in__:t = True`` marker predicate per used table);
* for every directed edge pointing away from the used set, the model
  SAMPLES the fanout column and the estimate divides by the decoded
  fanout value (M7) — except edges whose fanout is constant 1 in the
  sample (FK→PK directions), which are skipped as an exact no-op.

The statistical correction from estimators/sample.py carries over: the
divisors are per-edge adjacency fanouts, so deep unused subtrees stay
unbiased.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from ..estimators.sample import (
    TreeSample, UnsupportedQueryError, _crossing_fanout_cols, _divisor_cols)
from ..plans.parse import ParsedQuery, parse_query
from ..plans.predicates import Predicate, normalize_predicates
from .bridge import (
    ARCHS, encode_values, make_model, model_inputs, training_matrix)
from .nar import TrainConfig
from .progressive import NarEstimator


def _require_local_values(dom, what: str) -> np.ndarray:
    """Guard for paths that need the collected value array: a
    DistributedDomain (huge dictionary, values never localized) cannot
    serve them — fail with a clear message instead of an AttributeError
    deep in numpy."""
    if dom.values is None:
        raise ValueError(
            f"{what} needs the collected dictionary values of "
            f"'{dom.name}', but its domain is distributed "
            f"(> DICT_DRIVER_CAP distinct values); use a driver-scale "
            f"dictionary for this column or skip the operation")
    return dom.values


def _decode_codes(dom, codes: np.ndarray) -> np.ndarray:
    """Dictionary codes → values (object array; MASK/NULL/OOD → None)."""
    _require_local_values(dom, "cross-model value decoding")
    out = np.empty(len(codes), dtype=object)
    out[:] = None
    ok = (codes >= 2) & (codes < len(dom.values) + 2)
    if ok.any():
        out[ok] = dom.values[codes[ok] - 2]
    return out


def _col_table(col: str) -> str | None:
    """Owning table of a sample column: ``t.col`` → t, ``__in__:t`` → t."""
    if col.startswith("__in__:"):
        return col.split(":", 1)[1]
    if "." in col:
        return col.split(".", 1)[0]
    return None


def _is_data_col(col: str) -> bool:
    return not col.startswith("__in__:") and "__adj_fanout__:" not in col


@dataclass
class NarJoinEstimator(NarEstimator):
    """NarEstimator over a join sample: multi-table queries, existence
    markers, fanout scaling."""

    ts: TreeSample | None = None
    constant_one_fanouts: frozenset = frozenset()
    name: str = "nar-ur"
    # eval-time skip of near-key common columns when sampling values for
    # chained inheritance (the reference's skip-high-cardinality
    # heuristic, scardina/estimators.py:206-209; disable flag
    # run.py:164 ``--eval-disable-skip-high-card-cols``).  False samples
    # EVERY ahead-table data column regardless of dictionary size.
    skip_high_card_cols: bool = True

    # -- fragment preparation ---------------------------------------------

    def _fragment_cols(self, pq: ParsedQuery, marker_tables: set[str]
                       ) -> dict[str, list[Predicate]]:
        """Predicates → prefixed model columns, plus ``__in__`` markers for
        ``marker_tables`` (P8 semantics: reference scardina/estimators.py:
        139-145)."""
        alias_to_table = dict(pq.tables)
        ts = self.ts
        by_col: dict[str, list[Predicate]] = {}
        for p in normalize_predicates(pq.filters):
            if p.o.upper() == "OR" and len({b.c for b in p.branches}) > 1:
                # the valid-mask machinery is per-column; a cross-column
                # disjunction has no mask factorization (route such
                # queries to the sample/exact estimators instead)
                raise UnsupportedQueryError(
                    "OR across different columns is not supported by the "
                    "learned estimator")
            t = alias_to_table.get(p.table or "", p.table)
            if t not in ts.tables:
                raise UnsupportedQueryError(f"predicate on unknown table: {p.c}")
            name = f"{t}.{p.column}"
            if name not in self.domains:
                raise UnsupportedQueryError(f"column not in model: {name}")
            by_col.setdefault(name, []).append(p)
        for t in sorted(marker_tables):
            marker = f"__in__:{t}"
            if marker in self.domains:
                by_col.setdefault(marker, []).append(
                    Predicate(marker, "=", True))
        return by_col

    def _fanout_cols(self, edge_cols: list[str]) -> list[str]:
        out = []
        for c in edge_cols:
            if c in self.constant_one_fanouts:
                continue
            if c not in self.domains and c not in self.continuous:
                raise UnsupportedQueryError(f"fanout column not in model: {c}")
            out.append(c)
        return out

    def _extra_cols(self, ahead_tables: set[str], sampled: set[str]) -> list[str]:
        """Predicate-free data columns of ``ahead_tables`` worth sampling so
        a later chained model can condition on their values (reference:
        common columns sampled for inheritance, scardina/estimators.py:
        1380-1393).  With ``skip_high_card_cols`` (default, the
        reference's eval heuristic, estimators.py:206-209), near-key
        columns — dictionary larger than half the sample, the sample
        playing the reference's table-size role since dictionaries are
        sample-built here — are skipped: conditioning on an almost-unique
        inherited value adds variance without tightening the chain."""
        cap = (max(64, self.ts.n_sample // 2)
               if self.skip_high_card_cols else None)
        return sorted(
            c for c, dom in self.domains.items()
            if c not in sampled and _is_data_col(c)
            and _col_table(c) in ahead_tables
            and (cap is None or dom.dom_size <= cap))

    def _validate_fragment(self, pq: ParsedQuery) -> set[str]:
        alias_to_table = dict(pq.tables)
        if len(set(alias_to_table.values())) != len(alias_to_table):
            raise UnsupportedQueryError("self-joins unsupported")
        q_tables = set(alias_to_table.values())
        if not q_tables <= self.ts.tables:
            raise UnsupportedQueryError(
                f"tables {sorted(q_tables - self.ts.tables)} not in model tree")
        from ..estimators.sample import _validate_joins
        _validate_joins(self.ts, pq, alias_to_table)
        return q_tables

    def estimate(self, query: ParsedQuery | str) -> float:
        pq = parse_query(query) if isinstance(query, str) else query
        q_tables = self._validate_fragment(pq)
        by_col = self._fragment_cols(pq, q_tables)
        div_cols = self._fanout_cols(_divisor_cols(self.ts, q_tables))
        rs = np.random.RandomState(self.seed)
        prob, _ = self._progressive(by_col, {}, div_cols, [], [],
                                    self.sample_size, rs)
        return float(self.ts.join_size) * float(prob.mean())

    # -- chained (inherited-sample) API -----------------------------------

    def sample_rows(self, pq: ParsedQuery, ahead_tables: set[str], S: int,
                    rs: np.random.RandomState
                    ) -> tuple[np.ndarray, dict[str, np.ndarray]]:
        """Root-of-chain pass: per-row probabilities for the fragment plus
        sampled *values* (decoded) of its columns for inheritance."""
        q_tables = self._validate_fragment(pq)
        by_col = self._fragment_cols(pq, q_tables)
        div_cols = self._fanout_cols(_divisor_cols(self.ts, q_tables))
        extra = self._extra_cols(ahead_tables & q_tables, set(by_col))
        prob, sampled = self._progressive(by_col, {}, div_cols, [], extra,
                                          S, rs)
        return prob, self._decode_sampled(sampled)

    def conditional_rows(self, pq: ParsedQuery, frag_tables: set[str],
                         shared: set[str], values: dict[str, np.ndarray],
                         ahead_tables: set[str], S: int,
                         rs: np.random.RandomState
                         ) -> tuple[np.ndarray, dict[str, np.ndarray]]:
        """Chained pass (reference inherited-sample stitching, scardina/
        estimators.py:1309-1411): condition on the shared tables' inherited
        values, sample only the NEW tables' predicates and markers, and
        up-scale by the sampled fanouts of the edges crossing shared→new.
        Returns per-row factors and this model's newly sampled values."""
        self._validate_fragment(pq)
        new = frag_tables - shared
        by_col = self._fragment_cols(
            _restrict_filters(pq, new), new)
        inherited: dict[str, np.ndarray] = {}
        for c, vals in values.items():
            if _col_table(c) in shared and c in self.domains:
                _require_local_values(self.domains[c],
                                      "cross-model value encoding")
                inherited[c] = encode_values(self.domains[c], vals)
        div_cols = self._fanout_cols(_divisor_cols(self.ts, frag_tables))
        mult_cols = self._fanout_cols(
            _crossing_fanout_cols(self.ts, shared, new))
        extra = self._extra_cols(ahead_tables & new, set(by_col))
        prob, sampled = self._progressive(by_col, inherited, div_cols,
                                          mult_cols, extra, S, rs)
        return prob, self._decode_sampled(sampled)

    def _decode_sampled(self, sampled: dict[str, np.ndarray]
                        ) -> dict[str, np.ndarray]:
        return {c: _decode_codes(self.domains[c], drawn)
                for c, drawn in sampled.items() if _is_data_col(c)
                or c.startswith("__in__:")}


def _restrict_filters(pq: ParsedQuery, tables: set[str]) -> ParsedQuery:
    """Copy of ``pq`` keeping only filters on ``tables``."""
    a2t = dict(pq.tables)
    from ..plans.predicates import pred_tables
    kept = []
    for p in pq.filters:
        tset = {a2t.get(a or "", a) for a in pred_tables(p)}
        if tset <= set(tables):
            kept.append(p)
        elif tset & set(tables):
            # an OR group straddling the restriction boundary cannot be
            # routed to either side without changing semantics
            raise UnsupportedQueryError(
                f"OR group spans tables {sorted(tset)} across the "
                f"chain-fragment boundary")
    return ParsedQuery(tables=pq.tables, joins=pq.joins, filters=kept,
                       sql=pq.sql)


class DeferredFit:
    """A fully-prepared training job whose numpy ``fit`` has not run
    yet: the Spark side (sample prep, encode, training matrix) is done,
    and ``model``/``mat`` are plain driver objects.  Lets a caller time
    or schedule the fit apart from the Spark work; :meth:`finish` runs
    the same fit as :func:`train_join_estimator`, so the weights are
    bit-identical (pinned by test_deferred_fit_matches_serial)."""

    def __init__(self, model, mat, kwargs: dict):
        self.model = model
        self.mat = mat
        self.kwargs = kwargs

    def finish(self) -> "NarJoinEstimator":
        """Fit and assemble the estimator — the tail of
        :func:`train_join_estimator`."""
        self.model.fit(self.mat)
        return NarJoinEstimator(model=self.model, **self.kwargs)


def train_join_estimator(ts: TreeSample, data_columns: list[str],
                         cfg: TrainConfig | None = None,
                         sample_size: int = 512,
                         max_rows: int = 200_000,
                         dictionaries=None,
                         cont_fanout: bool = False,
                         fact_threshold: int | None = None,
                         arch: str = "mlp",
                         defer_fit: bool = False) -> NarJoinEstimator:
    """Train the UR-mode model on ``ts``'s sample.

    ``data_columns`` are prefixed ``table.col`` names; existence markers
    and non-constant fanout columns are added automatically.  Constant-1
    fanout columns (FK→PK directions) are recorded and skipped at query
    time instead of wasting model capacity.  ``cont_fanout`` stores
    fanouts as regressed log2 floats instead of dictionary codes (the
    reference's ``--cont-fanout``, scardina/common.py:536-548).

    With ``fact_threshold``, data columns whose dictionary exceeds
    ``2**fact_threshold`` codes are bit-slice factorized (M2, reference
    scardina/common.py:137-196): near-continuous columns (prices,
    timestamps) would otherwise each add a domain-wide softmax head that
    dominates the training cost.

    With ``defer_fit``, the prepared job comes back unfitted as a
    :class:`DeferredFit`; its ``finish()`` completes it."""
    cfg = cfg or TrainConfig()
    samp = ts.sample

    markers = [c for c in samp.columns if c.startswith("__in__:")]
    fanouts = [c for c in samp.columns if "__adj_fanout__:" in c]
    # split fanouts into constant-1 (skippable) and informative
    aggs = [F.countDistinct(F.col(f"`{c}`")).alias(c) for c in fanouts]
    n_distinct = samp.agg(*aggs).collect()[0].asDict() if fanouts else {}
    informative = [c for c in fanouts if n_distinct.get(c, 1) > 1]
    constant1 = frozenset(c for c in fanouts if n_distinct.get(c, 1) <= 1)

    columns = list(data_columns) + markers + informative
    cont = frozenset(informative) if cont_fanout else frozenset()
    # __sample_id__ is the sample's unique key: the id-hash cap makes
    # the training matrix (hence the model) layout-independent
    codes, domains = training_matrix(samp, columns, max_rows, cfg.seed,
                                     dictionaries=dictionaries,
                                     cont_log2=set(cont),
                                     id_cols=["__sample_id__"])
    bins, mat, groups = model_inputs(codes, columns, domains, fact_threshold,
                                     factorizable=set(data_columns))
    model = make_model(bins, cfg, arch, continuous=cont)
    kwargs = dict(domains=domains, n_rows=ts.join_size,
                  sample_size=sample_size, seed=cfg.seed, ts=ts,
                  constant_one_fanouts=constant1, continuous=cont,
                  groups=groups or None)
    deferred = DeferredFit(model, mat, kwargs)
    return deferred if defer_fit else deferred.finish()


def fine_tune_join_estimator(est: NarJoinEstimator,
                             refreshed_ts: "TreeSample",
                             epochs: int | None = None,
                             max_rows: int = 200_000,
                             seed: int = 43) -> NarJoinEstimator:
    """Incremental JOIN-model refresh — the model leg of the
    streaming→model loop (the sample leg is
    ``operators/incremental.streaming_refresh_tree_sample``): continue
    training the fitted UR model on the REFRESHED mixture sample.

    The mixture is an iid draw of the grown join (old and delta rows in
    exact proportion — the binomial split in append_refresh), so
    warm-starting on it adapts the model toward the post-append
    distribution without overweighting the shard; dictionaries stay
    frozen (OOD delta values encode as NULL — a domain-growing append
    warrants re-prep, same contract as ``fine_tune_single_table``).
    ``n_rows`` — the COUNT(*) scale factor — is set to the refreshed
    join size EXACTLY (maintained incrementally by the refresh, root
    count for fact-rooted trees), and the estimator's sample handle is
    swapped so hybrid clamping sees the fresh mixture too."""
    if est.continuous:
        raise ValueError(
            "cont-fanout join models regress log2 fanouts whose codes "
            "are not re-derivable under frozen domains — retrain instead")
    from .bridge import fine_tune_single_table
    est = fine_tune_single_table(est, refreshed_ts.sample, epochs=epochs,
                                 max_rows=max_rows, seed=seed)
    est.n_rows = refreshed_ts.join_size
    est.ts = refreshed_ts
    return est


# -- persistence (the reference's checkpoint-eval workflow: train once,
# -- load + estimate many times; scardina/run.py:659-708, 770-788) ---------

def save_join_estimator(est: NarJoinEstimator, path: str) -> None:
    """Persist a trained join estimator to ``path`` (a directory).

    The join SAMPLE is deliberately NOT saved: ``estimate()`` never touches
    it (queries run against the model + domains), and the chained CIN path
    reads only its scalar metadata.  What goes to disk: the model weights
    (``model.npz``), the per-column dictionaries (``domains.npz``), and a
    JSON sidecar with the tree identity + scaling metadata.
    """
    import json
    import os

    arch = {cls: a for a, cls in ARCHS.items()}.get(type(est.model))
    if arch is None:
        raise ValueError(f"unsupported model type: {type(est.model)}")
    os.makedirs(path, exist_ok=True)
    est.model.save(os.path.join(path, "model.npz"))
    doms = {}
    for i, (c, dom) in enumerate(est.domains.items()):
        vals = _require_local_values(dom, "estimator checkpointing")
        if vals.dtype == object:
            vals = vals.astype(np.str_)  # no pickle in the npz
        doms[f"dom_{i}"] = vals
    np.savez_compressed(os.path.join(path, "domains.npz"), **doms)
    meta = {
        "dom_cols": list(est.domains.keys()),
        "tree_tables": sorted(est.ts.tables),
        "tree_rels": sorted(str(r) for r in est.ts.tree.rels),
        "tree_center": est.ts.tree.center,
        "root": est.ts.root,
        "join_size": est.ts.join_size,
        "n_sample": est.ts.n_sample,
        "sample_size": est.sample_size,
        "seed": est.seed,
        "constant_one_fanouts": sorted(est.constant_one_fanouts),
        "continuous": sorted(est.continuous),
        "fact_groups": {c: g.spec.threshold
                        for c, g in (est.groups or {}).items()},
        "arch": arch,
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_join_estimator(path: str, sg=None) -> NarJoinEstimator:
    """Rebuild a served estimator from ``save_join_estimator`` output.

    The subschema tree is reconstructed from the schema graph (driver-side
    metadata, not data): the saved table set picks between the CIN tree of
    the saved center and the UR spanning tree of the saved root.
    Factorization groups rebuild deterministically from each column's
    domain size + threshold."""
    import json
    import os

    from ..catalog import build_tpch_schema
    from ..estimators.sample import cin_tree, spanning_tree
    from ..functions.factorize import factorization_spec
    from .progressive import ColumnDomain, ColumnGroup

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    model = ARCHS[meta.get("arch", "mlp")].load(
        os.path.join(path, "model.npz"))
    z = np.load(os.path.join(path, "domains.npz"), allow_pickle=False)
    domains = {c: ColumnDomain(c, z[f"dom_{i}"])
               for i, c in enumerate(meta["dom_cols"])}

    sg = sg or build_tpch_schema()

    def _matches(t) -> bool:
        if sorted(t.tables) != meta["tree_tables"]:
            return False
        saved_rels = meta.get("tree_rels")
        # table-set equality alone can collide across tree kinds in richer
        # schemas; the edge list is the tree's identity
        return saved_rels is None or \
            sorted(str(r) for r in t.rels) == saved_rels

    tree = cin_tree(sg, meta["tree_center"])
    if not _matches(tree):
        tree = spanning_tree(sg, meta["root"])
    if not _matches(tree):
        raise ValueError(
            f"saved tree (tables {meta['tree_tables']}) matches neither the "
            f"CIN tree of {meta['tree_center']} nor the spanning tree of "
            f"{meta['root']} in this schema")
    ts = TreeSample(tree=tree, root=meta["root"], sample=None,
                    join_size=int(meta["join_size"]),
                    n_sample=int(meta["n_sample"]))

    groups = {}
    for c, thr in meta["fact_groups"].items():
        spec = factorization_spec(c, domains[c].dom_size, thr)
        idxs = [model.cols.index(sub.name) for sub in spec.sub_cols]
        groups[c] = ColumnGroup(c, idxs, spec)

    return NarJoinEstimator(
        model=model, domains=domains, n_rows=int(meta["join_size"]),
        sample_size=int(meta["sample_size"]), seed=int(meta["seed"]), ts=ts,
        constant_one_fanouts=frozenset(meta["constant_one_fanouts"]),
        continuous=frozenset(meta["continuous"]),
        groups=groups or None)
