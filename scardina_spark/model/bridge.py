"""Spark → model bridge: Spark builds dictionaries + the encoded training
matrix; the NumPy model trains on the collected matrix.

This is the reference's DataModule/discretize path (scardina/common.py:
499-632) re-cut along the Spark boundary: everything row-scale happens as
DataFrame ops (dictionary joins, casting), and only the final int-code
matrix — capped at a training-sample size, the same role as the
reference's join-sample clamp — crosses to the driver via Arrow.
"""

from __future__ import annotations

from dataclasses import asdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.dictionary import build_dictionary, encode_with_dictionary
from ..functions.factorize import factorization_spec, sub_codes
from .nar import NarMLP, TrainConfig
from .progressive import (
    ColumnDomain, ColumnGroup, DistributedDomain, NarEstimator)
from .transformer import NarTransformer, TrmConfig

# Largest dictionary whose VALUES are collected to the driver.  Above
# this, the domain stays a distributed DataFrame (DistributedDomain):
# encoding happens via the dictionary join and valid masks ship only
# matching int codes — driver memory is O(codes) bits-scale, never
# O(distinct) values-scale (the 100M-distinct `title.title`-at-100x case
# that would OOM the driver).
DICT_DRIVER_CAP = 1_000_000


def base_domains(tables: dict[str, DataFrame], columns: list[str]
                 ) -> dict[str, ColumnDomain]:
    """One dictionary per base column ``table.col``, built from the whole
    table, for every model of a CIN chain to share (reference
    scardina/datasets.py:385-416).  One Arrow-collected Spark action per
    column: its distinct non-NULL values (deduplicated map-side before
    the shuffle, so no task sees a whole column), probed at
    ``DICT_DRIVER_CAP + 1`` rows.  A column past the cap becomes a
    :class:`DistributedDomain` whose values stay in Spark.  Values sort
    and keep their dtype as a sample-built dictionary's do."""
    out: dict[str, ColumnDomain] = {}
    for c in columns:
        t, name = c.split(".", 1)
        v = F.col(f"`{name}`")
        s = (tables[t].select(v).where(v.isNotNull()).distinct()
             .limit(DICT_DRIVER_CAP + 1).toPandas()[name])
        if len(s) > DICT_DRIVER_CAP:
            d = build_dictionary(tables[t], name)
            out[c] = DistributedDomain(c, None, d, d.count())
        else:
            out[c] = ColumnDomain(c, np.unique(s.to_numpy()))
    return out


def encode_values(dom: ColumnDomain, values: np.ndarray) -> np.ndarray:
    """Dictionary codes for ``values`` against ``dom``: NULL → 1, value →
    sorted-position + 2, out-of-dictionary → 1 (the same OOD convention
    as functions/dictionary.encode_with_dictionary)."""
    na = pd.isna(values)
    code = np.full(len(values), 1, dtype=np.int64)
    vals = dom.values
    if len(vals) and not na.all():
        nn = values[~na]
        idx = np.minimum(np.searchsorted(vals, nn), len(vals) - 1)
        code[~na] = np.where(vals[idx] == nn, idx + 2, 1)
    return code


def training_matrix(df: DataFrame, columns: list[str],
                    max_rows: int = 200_000, seed: int = 42,
                    dictionaries: dict[str, ColumnDomain] | None = None,
                    cont_log2: set[str] | None = None,
                    id_cols: list[str] | None = None,
                    ) -> tuple[np.ndarray, dict[str, ColumnDomain]]:
    """Dictionary-encode ``columns`` and collect an int64 matrix [n, C]
    (row-capped by deterministic sample) plus the collected domains.

    ``id_cols`` names a unique row key; the cap then selects the
    ``max_rows`` smallest seeded hashes of that key (a monotone
    hash-Bernoulli prefilter — a pure projection at any input scale —
    followed by an exact top-k on the ~max_rows survivors) and the
    collected matrix is sorted by (hash, key): the matrix is then
    IDENTICAL regardless of partition layout or arrival order, so every
    learned model downstream is reproducible across sessions (the same
    layout-independence the sampler's order_cols sort gives draws).
    Without ``id_cols`` the cap falls back to the seeded Bernoulli
    ``sample()``, whose selection depends on within-partition row
    order.

    ``dictionaries`` injects pre-built domains per column (``base_domains``
    output for the models of a CIN chain, so every model codes a base
    value the same way).  Columns without an entry build their
    dictionary from the (capped) training sample itself.

    One Spark action moves the data (Arrow ``toPandas`` of the capped
    sample); dictionary building and encoding are then driver-side numpy
    over that sample — domain-scale work that needs no cluster round-trips
    (the previous per-column ``distinct``/``join`` plan cost ~3 jobs per
    column, which dominated training prep).  Columns whose injected
    domain is a :class:`DistributedDomain` are instead encoded
    DISTRIBUTED (dictionary join before the collect) — the driver never
    holds the values of a 100M-distinct column."""
    cont = cont_log2 or set()
    dictionaries = dictionaries or {}
    injected_doms = {c: dictionaries[c] for c in columns
                     if c not in cont and c in dictionaries}
    pdf, _ = _select_rows(df, columns, max_rows, seed, injected_doms,
                          id_cols)
    return _encode_rows(pdf, columns, injected_doms, cont)


def _select_rows(df: DataFrame, columns: list[str], max_rows: int,
                 seed: int, doms: dict[str, ColumnDomain],
                 id_cols: list[str] | None):
    """``training_matrix``'s row selection: project ``columns``, cap at
    ``max_rows`` (see its docstring for the keyed and unkeyed caps),
    dictionary-join the columns whose domain in ``doms`` is distributed,
    and collect.  Returns the pandas frame and the uncapped row count."""
    sel = [F.col(f"`{c}`") for c in columns]
    if id_cols:
        idn = [f"__id{i}__" for i in range(len(id_cols))]
        hcol = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in id_cols],
                                 F.lit(seed)), F.lit(1 << 32))
        proj = df.select(*sel,
                         *[F.col(f"`{c}`").alias(a)
                           for c, a in zip(id_cols, idn)],
                         hcol.alias("__h__"))
        n = proj.count()
        prefiltered = False
        if n > max_rows:
            # oversample by 6 binomial sigma, not a fixed 1.05: at small
            # caps (e.g. max_rows=500) a fixed 5% margin undershoots the
            # cap with ~1-in-7 probability per seed; 6 sigma makes that
            # ~1e-9, and an explicit undershoot fallback below removes it
            p = max_rows / n
            frac = min(1.0, p + 6.0 * (p * (1.0 - p) / n) ** 0.5)
            if frac < 1.0:
                unfiltered = proj
                thr = int(frac * (1 << 32))
                proj = proj.where(F.col("__h__") < thr)
                prefiltered = True
    else:
        idn = []
        proj = df.select(*sel)
        n = proj.count()
        if n > max_rows:
            proj = proj.sample(fraction=min(1.0, max_rows / n * 1.05),
                               seed=seed).limit(max_rows)

    def _localize(p):
        for c, dom in doms.items():
            if isinstance(dom, DistributedDomain):
                p = encode_with_dictionary(p, c, dom.dictionary,
                                           broadcast=False)
        return p.toPandas()

    pdf = _localize(proj)
    while id_cols and prefiltered and len(pdf) < max_rows and frac < 1.0:
        # the 6-sigma prefilter undershot the cap (astronomically rare,
        # but a silently smaller training matrix is worse): WIDEN the
        # hash threshold geometrically instead of dropping the filter —
        # each retry localizes ~2x the previous expected rows, so driver
        # memory stays O(max_rows), never O(n) (the unfiltered
        # projection could be far larger than the cap)
        frac = min(1.0, frac * 2.0)
        pdf = _localize(
            unfiltered.where(F.col("__h__") < int(frac * (1 << 32))))
    if id_cols:
        # canonical row order (and the exact top-k cut) driver-side: the
        # distributed-dictionary join above scrambles Spark-side order.
        # Data columns break ties when ``id_cols`` is not a strict key
        # (rows identical in key AND data are interchangeable — either
        # order yields the same matrix).
        pdf = (pdf.sort_values(["__h__", *idn, *columns],
                               kind="mergesort", ignore_index=True)
               .head(max_rows).drop(columns=["__h__", *idn])
               .reset_index(drop=True))
    return pdf, n


def _encode_rows(pdf, columns: list[str], doms: dict[str, ColumnDomain],
                 cont: set[str]
                 ) -> tuple[np.ndarray, dict[str, ColumnDomain]]:
    """``training_matrix``'s encode loop over the collected rows: each
    column codes against its domain in ``doms``, or against one built
    from these rows when absent; ``cont`` columns become log2 floats."""
    # domains insertion order must follow `columns` (training order)
    domains: dict[str, ColumnDomain] = {}
    codes_cols: list[np.ndarray] = []
    for c in columns:
        if c in cont:
            # continuous log2 encoding (reference --cont-fanout,
            # scardina/common.py:536-548): value = log2(max(v, 1))
            v = pdf[c].to_numpy(dtype=np.float64)
            v = np.nan_to_num(v, nan=1.0)
            codes_cols.append(np.log2(np.maximum(v, 1.0)))
            continue
        dom = doms.get(c)
        if dom is None:
            s = pdf[c]
            dom = ColumnDomain(c, np.unique(s[~pd.isna(s)].to_numpy()))
        domains[c] = dom
        if isinstance(dom, DistributedDomain):
            # already dictionary codes (int) from the distributed join
            codes_cols.append(pdf[c].to_numpy(dtype=np.int64))
        else:
            codes_cols.append(encode_values(dom, pdf[c].to_numpy()))
    dtype = np.float64 if cont else np.int64
    return np.stack(codes_cols, axis=1).astype(dtype), domains


def model_inputs(codes: np.ndarray, columns: list[str],
                 domains: dict[str, ColumnDomain],
                 fact_threshold: int | None = None,
                 factorizable: set[str] | None = None
                 ) -> tuple[list[tuple[str, int]], np.ndarray,
                            dict[str, ColumnGroup]]:
    """The model's view of a training matrix: ``(bins, matrix, groups)``.

    With ``fact_threshold``, every column in ``factorizable`` (default:
    all) whose dictionary exceeds ``2**fact_threshold`` codes is
    bit-slice factorized (M2, reference scardina/common.py:137-196): the
    model sees its sub-columns, each with a small domain, and ``groups``
    maps the logical column to them.  Columns without a domain (regressed
    continuous ones) get a 0-size bin."""
    bins: list[tuple[str, int]] = []
    mat_cols: list[np.ndarray] = []
    groups: dict[str, ColumnGroup] = {}
    for ci, c in enumerate(columns):
        dom = domains[c].dom_size if c in domains else 0
        spec = (factorization_spec(c, dom, fact_threshold)
                if fact_threshold and (factorizable is None
                                       or c in factorizable) else None)
        if spec is None or not spec.is_factorized:
            bins.append((c, dom))
            mat_cols.append(codes[:, ci])
            continue
        full = codes[:, ci].astype(np.int64)
        groups[c] = ColumnGroup(
            c, list(range(len(bins), len(bins) + len(spec.sub_cols))), spec)
        for sub in spec.sub_cols:
            bins.append((sub.name, sub.dist_size))
            mat_cols.append(sub_codes(full, sub))
    return bins, np.stack(mat_cols, axis=1).astype(codes.dtype), groups


ARCHS = {"mlp": NarMLP, "trm": NarTransformer}


def make_model(bins: list[tuple[str, int]], cfg: TrainConfig,
               arch: str = "mlp", continuous: frozenset = frozenset()):
    """The one model constructor: ``arch`` names a class in ``ARCHS``.
    The Transformer is categorical-only with uniform-width embeddings
    (the reference's default), so the MLP-only options raise for it."""
    if arch not in ARCHS:
        raise ValueError(f"unknown arch: {arch}")
    if arch == "mlp":
        return NarMLP(bins, cfg, continuous=continuous)
    if continuous:
        raise ValueError("cont_fanout requires arch='mlp'")
    if cfg.smaller_emb:
        raise ValueError("smaller_emb requires arch='mlp'")
    if not isinstance(cfg, TrmConfig):
        cfg = TrmConfig(**asdict(cfg))
    return NarTransformer(bins, cfg)


def fine_tune_single_table(est: NarEstimator, delta_df: DataFrame,
                           epochs: int | None = None,
                           max_rows: int = 200_000,
                           seed: int = 43) -> NarEstimator:
    """Incremental model refresh: continue training the fitted NAR model on
    appended rows only (the reference parses an ``--incremental`` flag but
    never implements it, scardina/run.py:118,192).

    The dictionary stays frozen — codes must keep meaning the same values,
    so delta values outside the trained domain encode as the NULL code (the
    standard OOD convention); a domain-growing append warrants a full
    re-prep instead.  The optimizer state (Adam moments) carries over, so
    this is true warm-start fine-tuning, and ``n_rows`` — the estimator's
    COUNT(*) scale factor — is bumped by the delta count so estimates
    reflect the appended data immediately.

    The rows go through ``training_matrix``'s own selection and encode
    (under ``est.domains``) and ``model_inputs``' split.  A join sample
    carries its row key ``__sample_id__`` and is selected and ordered by
    it, as at training, so the fine-tune does not depend on partition
    layout; a plain delta has no key and takes the unkeyed sample."""
    columns = list(est.domains)  # insertion order == training order
    id_cols = (["__sample_id__"] if "__sample_id__" in delta_df.columns
               else None)
    pdf, n = _select_rows(delta_df, columns, max_rows, seed, est.domains,
                          id_cols)
    if n == 0:
        return est
    codes, _ = _encode_rows(pdf, columns, est.domains, set())
    groups = est.groups or {}
    thr = next((g.spec.threshold for g in groups.values()), None)
    _, mat, _ = model_inputs(codes, columns, est.domains, thr, set(groups))
    old_epochs = est.model.cfg.epochs
    if epochs is not None:
        est.model.cfg.epochs = epochs
    try:
        est.model.fit(mat)
    finally:
        est.model.cfg.epochs = old_epochs
    est.n_rows = est.n_rows + n
    return est


def train_single_table(df: DataFrame, columns: list[str],
                       cfg: TrainConfig | None = None,
                       sample_size: int = 512,
                       max_rows: int = 200_000,
                       fact_threshold: int | None = None,
                       arch: str = "mlp",
                       dictionaries: dict[str, ColumnDomain] | None = None,
                       id_cols: list[str] | None = None,
                       ) -> NarEstimator:
    """End-to-end: encode with Spark, train the NAR model, return the
    progressive-sampling estimator.

    With ``fact_threshold``, columns whose dictionary exceeds
    ``2**fact_threshold`` codes are bit-slice factorized (M2): the model
    sees the sub-columns (each with a small domain), and the estimator
    projects full-domain valid masks onto them per sample row (P4/P6)."""
    cfg = cfg or TrainConfig()
    codes, domains = training_matrix(df, columns, max_rows, cfg.seed,
                                     dictionaries=dictionaries,
                                     id_cols=id_cols)
    bins, mat, groups = model_inputs(codes, columns, domains, fact_threshold)
    model = make_model(bins, cfg, arch)
    model.fit(mat)
    return NarEstimator(model=model, domains=domains,
                        n_rows=df.count(), sample_size=sample_size,
                        seed=cfg.seed, groups=groups or None)
