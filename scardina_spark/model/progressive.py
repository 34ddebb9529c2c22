"""Progressive sampling over the NAR model + dictionary-domain valid masks.

Reference semantics (NOT code):
* valid masks (P5, scardina/estimators.py:673-793): every predicate is
  evaluated over the column's sorted distinct-value DICTIONARY, not base
  rows, producing a {0,1} vector over the code domain; MASK slot forced 0;
  the NULL slot is open only when every conjunct accepts NULL (one
  evaluator with the HT sample path: plans/predicates.py).
* progressive sampling (M6, scardina/estimators.py:177-408): predicate
  columns are visited in a selectivity order; at each step the model's
  conditional distribution over the column is multiplied by the valid
  mask; the masked mass is the conditional selectivity; a value is drawn
  from the renormalized masked distribution and conditioning continues.
  Vanished rows (zero mass) fall back to uniform over the valid domain
  with probability contribution 0.
* column ordering (O4, scardina/estimators.py:833-910): 'prop-ratio'
  default = valid-mass / domain-size ascending (most selective first).

Estimate = table_rows × mean over samples of Π conditional selectivities.

Distinct-row evaluation: the S Monte-Carlo rows share their conditioning
prefixes almost completely (before the first draw every row is the same
all-masked input), so each model call runs on the distinct model inputs
only (``distinct_rows``) and the conditional is gathered back to the S
rows.  Draws stay per row: every row keeps its own uniform.  The BLAS
result for a row depends on the batch it sits in, so a conditional can
differ from a full-batch forward in its last bits.

The Spark side supplies: dictionaries (collected to numpy — domain-sized,
driver-safe), the encoded sample matrix for training, and exact truth for
evaluation.  Query-time inference is pure numpy on the driver — the same
deployment shape as the reference (GPU/CPU inference next to the planner,
no cluster round-trip per query).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..functions.factorize import sub_codes
from ..plans.parse import ParsedQuery, parse_query
from ..plans.predicates import (
    Predicate, accepts_null, normalize_predicates, value_mask)
from .nar import NarMLP, _softmax

MASK_SLOT = 0
NULL_SLOT = 1


@dataclass
class ColumnDomain:
    """Sorted distinct values of a column; index i ↔ code i+2."""

    name: str
    values: np.ndarray

    @property
    def dom_size(self) -> int:
        return len(self.values) + 2


@dataclass
class PackedMask:
    """Sorted-set representation of a {0,1} valid mask over a code
    domain: O(matched codes) memory instead of O(dom_size) floats.  This
    removes the driver bound the dense path documents below (~0.8 GB of
    mask per predicated 100M-distinct column): a selective predicate on
    a huge dictionary now costs only its matching-code array, and range
    predicates cost O(selectivity · distinct) int64s.

    Quacks like the dense mask everywhere the sampler consumes one:
    ``sum()`` (ordering heuristics), ``m[i]`` membership (tests/debug),
    ``dense()`` (the non-factorized draw, whose conditional is
    dom_size-wide anyway so densifying adds no new bound), and the
    block-OR membership queries of ``_sub_masks_for_prefix`` via
    ``block_any`` (two searchsorteds per sub-draw — the factorized path,
    the one that matters for huge dictionaries, never densifies)."""

    dom_size: int
    codes: np.ndarray          # sorted unique int64 positions with mask=1

    def sum(self) -> float:
        return float(len(self.codes))

    def __getitem__(self, i: int) -> float:
        j = int(np.searchsorted(self.codes, i))
        return 1.0 if j < len(self.codes) and self.codes[j] == i else 0.0

    def dense(self) -> np.ndarray:
        m = np.zeros(self.dom_size)
        if len(self.codes):
            m[self.codes] = 1.0
        return m

    def block_any(self, block_idx: np.ndarray, offset: int) -> np.ndarray:
        """True where the code block ``[b << offset, (b+1) << offset)``
        contains at least one set code — elementwise over ``block_idx``."""
        lo = np.searchsorted(self.codes, block_idx << offset, side="left")
        hi = np.searchsorted(self.codes,
                             (block_idx + 1) << offset, side="left")
        return hi > lo


@dataclass
class DistributedDomain(ColumnDomain):
    """Huge-dictionary column domain that NEVER collects its values.

    The driver-bound of the plain path is O(distinct) *values* (strings —
    gigabytes for a 100M-distinct column at cluster scale).  Here the
    dictionary stays a distributed ``(__value__, __code__)`` DataFrame;
    predicates are evaluated Spark-side against it (the SURVEY §2.2 P1
    "evaluated against the dictionary DataFrame" primitive) and only
    matching int codes come back via Arrow.

    What the driver still holds per predicated query: the matching-code
    int64 array, O(selectivity · distinct) — ``eval_mask`` returns it as
    a :class:`PackedMask` (sorted set codes), NOT the domain-length
    float array the reference allocates (scardina/estimators.py:673-793,
    ~0.8 GB per predicated 100M-distinct column).  The factorized
    sampling path consumes the packed form directly (searchsorted
    block-ORs in ``_sub_masks_for_prefix``), so a selective predicate on
    a huge factorized column never materializes a dom_size-length
    anything driver-side.

    ``values`` is always None; encoding must go through the distributed
    join (`functions.dictionary.encode_with_dictionary`), which
    `model.bridge.training_matrix` does automatically for domains of this
    type.
    """

    dictionary: "object | None" = None  # (VALUE, CODE) DataFrame
    n_values: int = 0

    @property
    def dom_size(self) -> int:
        return self.n_values + 2

    def eval_mask(self, preds: list[Predicate]) -> "PackedMask":
        from pyspark.sql import functions as F  # noqa: PLC0415

        from ..functions.dictionary import CODE, VALUE  # noqa: PLC0415
        from ..plans.predicates import predicates_to_sql  # noqa: PLC0415

        short = self.name.split(".")[-1]
        d = self.dictionary.select(F.col(VALUE).alias(short), F.col(CODE))
        # Arrow localization: matching codes arrive as one int64 column,
        # not per-row JVM->Python Row objects
        matched = (d.where(predicates_to_sql(preds)).select(CODE)
                   .toPandas()[CODE].to_numpy(dtype=np.int64))
        matched = matched[matched != MASK_SLOT]
        # dictionaries hold no NULLs: the NULL slot follows the same
        # rule as the numpy valid_mask
        if all(accepts_null(p) for p in preds):
            matched = np.append(matched, NULL_SLOT)
        # packed (O(matched)) rather than a dom_size-length float array:
        # the old dense return was the documented ~0.8 GB/predicated-
        # column driver bound at 100M distinct
        return PackedMask(self.dom_size, np.unique(matched))


def valid_mask(dom: ColumnDomain, preds: list[Predicate]
               ) -> "np.ndarray | PackedMask":
    """{0,1} mask over the code domain [dom_size] combining all
    predicates on this column (AND).  MASK slot 0; the NULL slot is open
    only when every predicate accepts NULL (``accepts_null``).

    Distributed domains (huge dictionaries) evaluate Spark-side and ship
    only matching codes back as a :class:`PackedMask` (O(matched)
    memory); the numpy path below returns the dense float array for
    driver-scale dictionaries."""
    if isinstance(dom, DistributedDomain):
        return dom.eval_mask(preds)
    m = np.zeros(dom.dom_size)
    m[NULL_SLOT] = all(accepts_null(p) for p in preds)
    m[2:] = np.logical_and.reduce([value_mask(dom.values, p)
                                   for p in preds])
    return m


@dataclass
class ColumnGroup:
    """One logical column in the model: a single model column, or (when
    factorized, M2) an ordered list of bit-window sub-columns.

    ``spec`` is the FactorizationSpec; ``model_idx`` maps each sub-column
    to its position in the model's column list."""

    name: str
    model_idx: list[int]
    spec: "object | None" = None  # FactorizationSpec when factorized

    @property
    def is_factorized(self) -> bool:
        return self.spec is not None and len(self.model_idx) > 1


def _sub_masks_for_prefix(full_mask: np.ndarray, spec, k: int,
                          prefix: np.ndarray) -> np.ndarray:
    """Per-row valid mask over sub-column k's code space, given the
    already-sampled higher windows (reference P4/P6 semantics: predicate
    projection onto sub-columns with per-row factor masks,
    scardina/estimators.py:551-671, 795-831).

    With little-endian windows sampled most-significant-first, the codes
    consistent with a fixed high prefix form contiguous blocks of size
    ``2**offset_k``; a sub-value v is valid iff OR of the full-domain mask
    over its block is 1.  Hierarchical block-ORs make this one gather.

    prefix: [S] int — Σ over sampled higher windows of (v-1) << offset.
    Returns [S, sub_dom] float mask (slot 0 = sub-MASK always 0),
    computed once per distinct prefix and gathered back to the S rows.
    """
    sub = spec.sub_cols[k]
    packed = isinstance(full_mask, PackedMask)
    D = full_mask.dom_size if packed else len(full_mask)
    block = 1 << sub.offset
    n_blocks_total = (D + block - 1) // block

    sub_dom = sub.dist_size
    prefix, inverse = np.unique(prefix, return_inverse=True)
    S = len(prefix)
    out = np.zeros((S, sub_dom))
    base = (prefix >> sub.offset).astype(np.int64)  # [S]
    vals = np.arange(1, sub_dom)                     # sub codes 1..sub_dom-1
    idx = base[:, None] + (vals[None, :] - 1)        # [S, sub_dom-1]
    ok = (idx >= 0) & (idx < n_blocks_total)
    gathered = np.zeros_like(idx, dtype=bool)
    if packed:
        # membership by searchsorted over the sorted set codes — never
        # materializes a dom-length array (the huge-dictionary path)
        gathered[ok] = full_mask.block_any(idx[ok], sub.offset)
    else:
        padded = np.zeros(n_blocks_total * block, dtype=bool)
        padded[:D] = full_mask > 0
        block_or = padded.reshape(n_blocks_total, block).any(axis=1)
        gathered[ok] = block_or[idx[ok]]
    out[:, 1:] = gathered.astype(float)
    return out[inverse]


def distinct_rows(codes: np.ndarray, mask: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Group the rows of a progressive-sampling batch by model input.

    A row's input is its codes on the columns that are not masked in
    every row, with masked cells keyed as -1 (the model reads the MASK
    embedding there, whatever the code).  Returns ``(first, inverse)``:
    the index of each group's first row, in lexicographic group order,
    and each row's group, so ``f(codes[first], mask[first])[inverse]``
    evaluates ``f`` once per group.  This is the grouping of
    ``np.unique(axis=0, return_index=True, return_inverse=True)``,
    computed by a stable lexsort, which is several times faster at
    these shapes (~1000 rows, a few columns).  Partially masked columns
    are keyed by their mask bit too: a float code (continuous fanout)
    may hold -1 itself."""
    act = np.flatnonzero(~mask.all(axis=0))
    if len(act) == 0:
        return np.zeros(1, dtype=np.int64), np.zeros(len(codes), np.int64)
    am = mask[:, act]
    keyed = np.concatenate(
        [np.where(am, -1, codes[:, act]), am[:, am.any(axis=0)]], axis=1)
    order = np.lexsort(keyed.T[::-1])       # first key column is primary
    srt = keyed[order]
    new = np.ones(len(keyed), dtype=bool)
    new[1:] = (srt[1:] != srt[:-1]).any(axis=1)
    inverse = np.empty(len(keyed), dtype=np.int64)
    inverse[order] = np.cumsum(new) - 1
    return order[new], inverse


def decode_fanouts(vals: np.ndarray, drawn: np.ndarray) -> np.ndarray:
    """Fanout values of drawn dictionary codes: code d ≥ 2 decodes to
    ``vals[d - 2]``; codes 0 and 1 (MASK, NULL) and codes past the
    dictionary decode to 1.  Clamped at 1, the fanout ≥ 1 invariant
    (reference: estimators.py:383)."""
    fan = np.ones(len(drawn))
    ok = (drawn >= 2) & (drawn < len(vals) + 2)
    fan[ok] = vals[drawn[ok] - 2]
    return np.maximum(fan, 1.0)


@dataclass
class NarEstimator:
    """Single-relation progressive-sampling estimator (the reference's
    one-table path, scardina/estimators.py:925-927; multi-table queries
    route to the sample/CIN estimators).  ``groups`` describes factorized
    columns; plain columns need no entry."""

    model: NarMLP
    domains: dict[str, ColumnDomain]
    n_rows: int
    sample_size: int = 512
    seed: int = 42
    name: str = "nar-mlp"
    groups: dict[str, ColumnGroup] | None = None
    # O4 column-ordering heuristic (reference: scardina/estimators.py:
    # 833-910 + run.py:158-163): prop-ratio (default) = valid-mass /
    # domain-size ascending; prop = valid-mass ascending; domain-size =
    # domain ascending; nat = model column order; suffix -inv reverses.
    order_by: str = "prop-ratio"
    continuous: frozenset = frozenset()  # cont-fanout columns (log2-regressed)

    def _order_columns(self, masks: dict[str, np.ndarray]) -> list[str]:
        base = self.order_by.removesuffix("-inv") if \
            self.order_by.endswith("-inv") else self.order_by
        inv = self.order_by.endswith("-inv") and self.order_by != "inv"
        if self.order_by == "inv":
            base, inv = "nat", True
        if base == "nat":
            order = sorted(masks, key=lambda c: self._group_for(c).model_idx[0])
        elif base == "domain-size":
            order = sorted(masks, key=lambda c: (self.domains[c].dom_size, c))
        elif base == "prop":
            order = sorted(masks, key=lambda c: (masks[c].sum(), c))
        elif base == "prop-ratio":
            order = sorted(masks, key=lambda c: (
                masks[c].sum() / self.domains[c].dom_size, c))
        else:
            raise ValueError(f"unknown order_by: {self.order_by}")
        return list(reversed(order)) if inv else order

    def _group_for(self, col: str) -> ColumnGroup:
        if self.groups and col in self.groups:
            return self.groups[col]
        return ColumnGroup(col, [self.model.cols.index(col)])

    def _conditional(self, codes: np.ndarray, mask: np.ndarray, j: int
                     ) -> np.ndarray:
        """Column j's conditional distribution per row [S, dom], with the
        model run once per distinct input row (``distinct_rows``)."""
        first, inverse = distinct_rows(codes, mask)
        logits = self.model.logits_for(codes[first], mask[first], j)
        logits[:, MASK_SLOT] = -1e9
        return _softmax(logits)[inverse]

    @staticmethod
    def _draw(pm: np.ndarray, valid: np.ndarray,
              rs: np.random.RandomState) -> tuple[np.ndarray, np.ndarray]:
        """Mass + multinomial draw from the masked distribution; vanished
        rows fall back to uniform over valid slots with mass kept at 0
        (reference: estimators.py:240-243)."""
        mass = pm.sum(axis=1)
        safe, norm = pm, mass
        dead = mass <= 0
        if dead.any():
            safe = pm.copy()
            fallback = valid.astype(float)
            if fallback.ndim == 1:
                safe[dead] = fallback if fallback.any() else 1.0
            else:
                fb = fallback[dead]
                fb[fb.sum(axis=1) == 0] = 1.0
                safe[dead] = fb
            norm = safe.sum(axis=1)
        safe = safe / np.maximum(norm, 1e-300)[:, None]
        cdf = np.cumsum(safe, axis=1)
        u = rs.rand(len(pm), 1)
        drawn = (u > cdf).sum(axis=1)
        return mass, drawn

    def _sample_masked_col(self, c: str, full_mask: np.ndarray,
                           codes: np.ndarray, mask: np.ndarray,
                           rs: np.random.RandomState
                           ) -> tuple[np.ndarray, np.ndarray]:
        """Draw logical column ``c`` under its full-domain valid mask,
        writing the drawn code(s) into ``codes``/``mask`` in place.
        Returns (per-row mass [S], per-row full dictionary code [S]).
        Factorized groups sample sub-columns most-significant-first with
        per-row prefix masks (P4/P6) and reconstruct the full code."""
        grp = self._group_for(c)
        if not grp.is_factorized:
            if isinstance(full_mask, PackedMask):
                # non-factorized draw multiplies a dom_size-wide
                # conditional, so densifying adds no new memory bound
                full_mask = full_mask.dense()
            j = grp.model_idx[0]
            p = self._conditional(codes, mask, j)
            pm = p * full_mask[None, :]
            mass, drawn = self._draw(pm, full_mask > 0, rs)
            codes[:, j] = drawn
            mask[:, j] = False
            return mass, drawn
        spec = grp.spec
        S = len(codes)
        total = np.ones(S)
        prefix = np.zeros(S, dtype=np.int64)
        for k in reversed(range(len(spec.sub_cols))):
            j = grp.model_idx[k]
            sub = spec.sub_cols[k]
            p = self._conditional(codes, mask, j)
            sm = _sub_masks_for_prefix(full_mask, spec, k, prefix)
            if p.shape[1] != sm.shape[1]:
                width = min(p.shape[1], sm.shape[1])
                p = p[:, :width]
                sm = sm[:, :width]
            pm = p * sm
            mass, drawn = self._draw(pm, sm > 0, rs)
            total *= mass
            codes[:, j] = drawn
            mask[:, j] = False
            prefix = prefix + ((drawn - 1) << sub.offset)
        return total, prefix

    def set_inherited(self, c: str, codes: np.ndarray, mask: np.ndarray,
                      inh: np.ndarray) -> None:
        """Write inherited full dictionary codes for logical column ``c``
        into the model matrix (splitting into sub-codes when factorized)."""
        grp = self._group_for(c)
        if not grp.is_factorized:
            j = grp.model_idx[0]
            codes[:, j] = inh
            mask[:, j] = False
            return
        for k, sub in enumerate(grp.spec.sub_cols):
            j = grp.model_idx[k]
            codes[:, j] = sub_codes(inh, sub)
            mask[:, j] = False

    def _progressive(self, by_col: dict[str, list[Predicate]],
                     inherited: dict[str, np.ndarray],
                     div_cols: list[str], mult_cols: list[str],
                     extra_cols: list[str], S: int,
                     rs: np.random.RandomState
                     ) -> tuple[np.ndarray, dict[str, np.ndarray]]:
        """One progressive-sampling pass: condition on ``inherited`` codes
        (fixed, unmasked, no probability contribution), sample the
        ``by_col`` predicate columns in selectivity order accumulating
        per-row masses, then ``extra_cols`` unconstrained (mass 1), then
        fanout columns — dividing by ``div_cols`` draws (unused-table
        multiplicity) and multiplying by ``mult_cols`` draws (new-fragment
        up-scaling, reference estimators.py:1413-1423).

        Returns (per-row factors [S], sampled codes per column)."""
        dtype = np.float64 if self.continuous else np.int64
        codes = np.zeros((S, self.model.C), dtype=dtype)
        mask = np.ones((S, self.model.C), dtype=bool)
        prob = np.ones(S)
        for c, inh in inherited.items():
            # full dictionary codes; split into sub-codes when factorized
            self.set_inherited(c, codes, mask, inh)

        sampled: dict[str, np.ndarray] = {}
        masks = {c: valid_mask(self.domains[c], ps)
                 for c, ps in by_col.items()}
        for c in self._order_columns(masks):
            # group-aware draw: factorized columns sample their bit-window
            # sub-columns most-significant-first under projected masks
            # (P4/P6) and return the reconstructed full code
            mass, full = self._sample_masked_col(c, masks[c], codes, mask, rs)
            prob *= mass
            sampled[c] = full

        for c in extra_cols:
            # unconstrained (mass 1): everything valid except the MASK slot
            m = np.ones(self.domains[c].dom_size)
            m[MASK_SLOT] = 0.0
            _, full = self._sample_masked_col(c, m, codes, mask, rs)
            sampled[c] = full

        for sign, cols in ((-1, div_cols), (+1, mult_cols)):
            for c in cols:
                j = self.model.cols.index(c)
                if c in self.continuous:
                    # regressed log2 fanout, decoded 2**x, clamp ≥ 1
                    # (reference: scardina/estimators.py:374-376)
                    first, inverse = distinct_rows(codes, mask)
                    val = self.model.regress_for(
                        codes[first], mask[first], j)[inverse]
                    codes[:, j] = val
                    mask[:, j] = False
                    fan = np.maximum(np.exp2(val), 1.0)
                    prob = prob / fan if sign < 0 else prob * fan
                    continue
                p = self._conditional(codes, mask, j)
                p[:, NULL_SLOT] = 0.0  # fanout columns are never NULL
                valid = np.arange(p.shape[1]) > NULL_SLOT
                _, drawn = self._draw(p, valid, rs)
                codes[:, j] = drawn
                mask[:, j] = False
                fan = decode_fanouts(self.domains[c].values, drawn)
                prob = prob / fan if sign < 0 else prob * fan
        return prob, sampled

    def estimate(self, query: ParsedQuery | str) -> float:
        pq = parse_query(query) if isinstance(query, str) else query
        if len(pq.tables) != 1:
            raise ValueError("NarEstimator answers single-table queries")
        preds = normalize_predicates(pq.filters)
        by_col: dict[str, list[Predicate]] = {}
        for p in preds:
            if p.o.upper() == "OR" and \
                    len({b.column for b in p.v}) > 1:
                raise ValueError(
                    "OR across different columns is not supported by the "
                    "learned estimator")
            if p.column not in self.domains:
                raise ValueError(f"column not in model: {p.column}")
            by_col.setdefault(p.column, []).append(p)
        rs = np.random.RandomState(self.seed)
        prob, _ = self._progressive(by_col, {}, [], [], [],
                                    self.sample_size, rs)
        return float(self.n_rows) * float(prob.mean())
