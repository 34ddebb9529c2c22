"""Hyperparameter search over the NAR models (M8).

Reference semantics (NOT code): scardina/run.py:611-708 — a search over
{d_word, d_ff, ...} scored by validation loss, best config exported.  The
reference drives Ray Tune + Optuna + ASHA; here four deterministic
strategies cover the same protocol:

* ``grid_search`` — exhaustive over the (small) space, every trial at
  full budget;
* ``asha_search`` — the reference's ASHA SCHEDULER semantics made
  deterministic: successive-halving rungs (epoch budgets r, r·eta,
  r·eta², ...), each rung keeping the top 1/eta configs by validation
  loss (ties broken by config, so the run is reproducible), survivors
  retrained at the next budget from the same seed.  Synchronous:
  promotion decisions see the whole rung, which is ASHA's limit
  behavior, and early-stopped configs really do cost only their rung
  budget — the resource-adaptivity the reference gets from Ray's
  scheduler;
* ``asha_async_search`` — ASYNCHRONOUS ASHA (Li et al., MLSys 2020),
  the algorithm Ray's scheduler actually runs: promotions fire on
  partial rung information, on a pool of ``n_workers`` threads
  (``n_workers=1`` is the deterministic serialized driver); and
* ``tpe_search`` — the reference's Optuna TPE SAMPLER semantics
  (Bergstra et al., NIPS'11 categorical TPE) made deterministic: a
  fixed maximin startup spread replaces the random startup, then each
  trial splits history at the gamma-quantile of validation loss into
  good/bad sets, scores every untried config by the product of
  per-dimension smoothed density ratios l(v)/g(v) (the
  EI-proportional acquisition), and trains the argmax (ties broken by
  config).  No RNG anywhere, so every promotion/pick decision is
  externally re-checkable.

Every strategy trains through one trial runner,
``run(cfgs) -> [(val_loss, train_loss, model)]``, built once per search
over a seeded 90/10 train/validation split (validation capped at 10k
rows, matching scardina/common.py:597-608); each trial is seconds of
NumPy.  Grid hands the runner the whole grid, sync ASHA one rung at a
time, TPE one config at a time and async ASHA one config per pool
worker.  With ``spark=None`` the runner trains on the calling thread;
with a session each call is one Spark job with one task per config —
the reference's Ray Tune distribution leg (run.py:643-657).  Where a
trial runs changes no decision: every promotion and winner ranks by
(val_loss, d_word, d_ff), and Spark losses match local ones to float32
cross-process BLAS kernel noise (~1e-6 relative, test-pinned).
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, replace

import numpy as np

from .nar import NarMLP, TrainConfig, _softmax


def train_val_split(codes: np.ndarray, seed: int = 42,
                    val_frac: float = 0.1, val_cap: int = 10_000
                    ) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(seed)
    n = codes.shape[0]
    order = rs.permutation(n)
    n_val = min(int(n * val_frac), val_cap)
    return codes[order[n_val:]], codes[order[:n_val]]


def masked_val_loss(model, codes: np.ndarray, seed: int = 7) -> float:
    """Deterministic-seeded validation loss (reference:
    scardina/models.py:356-391 uses a fixed seed per validation pass)."""
    rs = np.random.RandomState(seed)
    C = model.C
    n_mask = max(1, C // 2)
    mask = np.zeros(codes.shape, dtype=bool)
    for i in range(codes.shape[0]):
        mask[i, rs.choice(C, size=n_mask, replace=False)] = True
    total, cnt = 0.0, 0
    for j in range(C):
        rows = np.where(mask[:, j])[0]
        if rows.size == 0:
            continue
        logits = model.logits_for(codes[rows], mask[rows], j)
        logits[:, 0] = -1e9
        p = _softmax(logits)
        y = codes[rows, j]
        total += -np.log(np.maximum(p[np.arange(rows.size), y], 1e-12)).sum()
        cnt += rows.size
    return total / max(cnt, 1)


def _run_trial(input_bins, cfg, train, val):
    """One trial = construct, fit, validate.  Runs identically on the
    driver or inside a Spark task (pure NumPy, seeded by cfg)."""
    model = NarMLP(input_bins, cfg)
    losses = model.fit(train)
    return masked_val_loss(model, val), losses[-1], model


@contextmanager
def _trial_runner(spark, input_bins, codes: np.ndarray, base: TrainConfig):
    """The one trial-execution path: yields ``run(cfgs)``, which trains
    every config and returns ``[(val_loss, train_loss, model)]`` in
    ``cfgs`` order.

    Local (``spark=None``): a loop on the calling thread.  Spark: the
    train/val matrices broadcast ONCE per search (sample-scale: bounded
    by the 500k-row sample clamp times the column count, independent of
    data scale), each call is ``parallelize(cfgs, len(cfgs)).map(train)``
    — one task per config, shipping back the pickled model (grid-size,
    MBs) — and the broadcasts are released when the search ends, failed
    or not."""
    train, val = train_val_split(codes, base.seed)
    if spark is None:
        yield lambda cfgs: [_run_trial(input_bins, c, train, val)
                            for c in cfgs]
        return
    sc = spark.sparkContext
    b_train, b_val = sc.broadcast(train), sc.broadcast(val)
    try:
        def task(cfg):
            return _run_trial(input_bins, cfg, b_train.value, b_val.value)

        yield lambda cfgs: (sc.parallelize(cfgs, len(cfgs)).map(task)
                            .collect())
    finally:
        b_train.unpersist()
        b_val.unpersist()


def _rank(trial) -> tuple[float, int, int]:
    """The one decision order over ``(cfg, (val_loss, train_loss,
    model))`` trials: ascending (val_loss, d_word, d_ff).  The config
    tie-break makes every promotion and winner deterministic."""
    cfg, (vl, _tl, _model) = trial
    return vl, cfg.d_word, cfg.d_ff


def _winner(trials) -> NarMLP:
    """The one winner rule: the model of the least trial by
    :func:`_rank`."""
    return min(trials, key=_rank)[1][2]


@dataclass
class TrialResult:
    cfg: TrainConfig
    val_loss: float
    train_loss: float


@dataclass
class AshaTrial:
    cfg: TrainConfig
    rung: int          # highest rung this config was trained at
    epochs: int        # epoch budget of that rung
    val_loss: float    # validation loss at that rung
    train_loss: float
    promoted: bool     # survived into the next rung


def _check_ladder(eta: int, min_epochs: int) -> None:
    """Budgets grow and survivors shrink only for eta >= 2 and
    min_epochs >= 1; anything less never reaches the final rung."""
    if eta < 2:
        raise ValueError(f"eta must be >= 2, got {eta}")
    if min_epochs < 1:
        raise ValueError(f"min_epochs must be >= 1, got {min_epochs}")


def asha_schedule(n_configs: int, max_epochs: int, eta: int = 2,
                  min_epochs: int = 2) -> list[tuple[int, int]]:
    """The successive-halving ladder: [(epoch_budget, n_kept_after)]
    per rung.  Budgets grow by eta, survivors shrink by eta, and the
    last rung trains at ``max_epochs`` keeping one winner."""
    _check_ladder(eta, min_epochs)
    rungs = []
    n, e = n_configs, min_epochs
    while n > 1 and e < max_epochs:
        keep = max(1, n // eta)
        rungs.append((e, keep))
        n, e = keep, min(e * eta, max_epochs)
    rungs.append((max_epochs, 1))
    return rungs


def asha_search(input_bins: list[tuple[str, int]], codes: np.ndarray,
                base: TrainConfig | None = None,
                d_words: tuple[int, ...] = (8, 16, 32),
                d_ffs: tuple[int, ...] = (32, 64, 96),
                eta: int = 2, min_epochs: int = 2,
                spark=None) -> tuple[NarMLP, list[AshaTrial]]:
    """Deterministic successive halving over the (d_word, d_ff) grid:
    returns the winning model (trained at the full epoch budget) and
    the complete trial table — one row per (config, rung) training run,
    so the promotion decisions are externally re-checkable.

    Each rung is one runner call (one Spark job with ``spark``): the
    rung barrier IS sync ASHA's semantics, so distributing a rung loses
    nothing.  Retraining survivors from the same seed (rather than
    checkpointing optimizer state) keeps every rung bit-reproducible;
    at this model scale a retrain costs the same handful of seconds the
    reference's per-trial Ray task does."""
    base = base or TrainConfig()
    alive = [replace(base, d_word=dw, d_ff=dff)
             for dw in d_words for dff in d_ffs]
    rungs = asha_schedule(len(alive), base.epochs, eta, min_epochs)
    trials: list[AshaTrial] = []
    with _trial_runner(spark, input_bins, codes, base) as run:
        for rung_idx, (budget, keep) in enumerate(rungs):
            cfgs = [replace(cfg, epochs=budget) for cfg in alive]
            # promotion rule: the top-`keep` by _rank
            scored = sorted(zip(cfgs, run(cfgs)), key=_rank)
            trials += [AshaTrial(cfg, rung_idx, budget, vl, tl, i < keep)
                       for i, (cfg, (vl, tl, _m)) in enumerate(scored)]
            alive = [cfg for cfg, _out in scored[:keep]]
    return _winner(scored), trials


@dataclass
class AsyncTrial:
    cfg: TrainConfig
    job: int                   # 0-based scheduling order
    rung: int                  # rung this job trained at
    epochs: int                # rung budget
    val_loss: float
    train_loss: float
    promoted_from: int | None  # rung promoted from; None = fresh start


def asha_async_search(input_bins: list[tuple[str, int]],
                      codes: np.ndarray,
                      base: TrainConfig | None = None,
                      d_words: tuple[int, ...] = (8, 16, 32),
                      d_ffs: tuple[int, ...] = (32, 64, 96),
                      eta: int = 2, min_epochs: int = 2,
                      n_workers: int = 1, spark=None
                      ) -> tuple[NarMLP, list[AsyncTrial], int]:
    """ASYNCHRONOUS ASHA (Li et al., MLSys 2020 — the algorithm the
    reference's Ray scheduler actually runs) on a pool of ``n_workers``
    threads, each training one trial at a time through the runner.
    Locally the NumPy trials overlap because BLAS releases the GIL;
    with ``spark`` each trial is a single-task Spark job and Spark's
    scheduler spreads the concurrent jobs across executor slots (the
    reference's cluster-wide Ray pool, run.py:611-657).

    A freed worker takes the scheduler lock and applies Li et al.'s
    get_job rule to the results completed SO FAR: scan rungs top-down
    and PROMOTE the best not-yet-promoted config sitting in the top
    ``floor(n_seen / eta)`` of its rung's results; if no rung has a
    promotable config, START the next unstarted config (row-major grid
    order) at rung 0.  It trains outside the lock.  A worker finding no
    eligible job while others are in flight WAITS — their completions
    can unlock promotions — and exits when nothing is eligible and
    nothing is in flight.  So promotions fire on PARTIAL rung
    information (the first rung-1 job runs after only ``eta`` rung-0
    completions, long before the rung fills), which removes sync
    ASHA's straggler barrier.

    The rung whose budget reaches ``base.epochs`` is final (never
    promoted from); the winner is the final-rung argmin (config
    tie-break).  At ``n_workers=1`` each decision sees every earlier
    completion, so the run is bit-reproducible, and its job count and
    epoch spend depend only on |grid| and eta — the e14 contract
    exploits this for its literal oracle.  With more workers the trial
    order depends on completion timing, exactly as on Ray; for every
    timing each config starts at rung 0 at most once, each (rung,
    config) promotes at most once, every promotion was in the top
    ``floor(n_seen/eta)`` of its rung at decision time, and the winner
    is the final-rung argmin.

    When a trial raises, no further job is handed out, the trials in
    flight finish, and the first exception is re-raised.  Returns
    ``(best_model, trials, max_inflight)`` — the concurrency high-water
    mark, so callers can see whether the pool overlapped."""
    if n_workers < 1:
        raise ValueError("n_workers must be >= 1")
    _check_ladder(eta, min_epochs)
    base = base or TrainConfig()
    grid = [(dw, dff) for dw in d_words for dff in d_ffs]

    def rung_budget(r: int) -> int:
        return min(min_epochs * eta ** r, base.epochs)

    lock = threading.Condition()
    results: dict[int, list] = {}   # rung -> [(cfg, (val, train, model))]
    promoted: dict[int, set] = {}
    trials: list[AsyncTrial] = []
    errors: list[BaseException] = []
    state = {"started": 0, "job": 0, "inflight": 0, "max_inflight": 0}

    def get_job():
        """Li et al.'s rule over completed results, under the lock:
        (from_rung, d_word, d_ff) with from_rung None for a fresh start;
        None = nothing eligible right now, or a trial failed."""
        if errors:
            return None
        for r in sorted(results, reverse=True):
            if rung_budget(r) >= base.epochs:
                continue   # final rung: never promoted from
            done = sorted(results[r], key=_rank)
            cands = [(cfg.d_word, cfg.d_ff)
                     for cfg, _out in done[:len(done) // eta]
                     if (cfg.d_word, cfg.d_ff) not in promoted.get(r, ())]
            if cands:
                promoted.setdefault(r, set()).add(cands[0])
                return (r, *cands[0])
        if state["started"] < len(grid):
            state["started"] += 1
            return (None, *grid[state["started"] - 1])
        return None

    def worker(run):
        while True:
            with lock:
                pick = get_job()
                while pick is None and state["inflight"] > 0:
                    lock.wait()
                    pick = get_job()
                if pick is None:
                    return
                state["inflight"] += 1
                state["max_inflight"] = max(state["max_inflight"],
                                            state["inflight"])
                job = state["job"]
                state["job"] += 1
            from_rung, dw, dff = pick
            rung = 0 if from_rung is None else from_rung + 1
            cfg = replace(base, d_word=dw, d_ff=dff,
                          epochs=rung_budget(rung))
            try:
                [(vl, tl, model)] = run([cfg])
                with lock:
                    results.setdefault(rung, []).append(
                        (cfg, (vl, tl, model)))
                    trials.append(AsyncTrial(cfg, job, rung, cfg.epochs,
                                             vl, tl, from_rung))
            except BaseException as exc:
                with lock:
                    errors.append(exc)
            finally:
                # waiting workers re-check get_job; without this a
                # failed trial would leave them waiting forever
                with lock:
                    state["inflight"] -= 1
                    lock.notify_all()

    with _trial_runner(spark, input_bins, codes, base) as run, \
            ThreadPoolExecutor(max_workers=n_workers) as ex:
        for f in [ex.submit(worker, run) for _ in range(n_workers)]:
            f.result()
    if errors:
        raise errors[0]
    return _winner(results[max(results)]), trials, state["max_inflight"]


@dataclass
class TpeTrial:
    cfg: TrainConfig
    trial: int        # 0-based pick order
    val_loss: float
    train_loss: float
    startup: bool     # fixed-spread startup pick vs TPE-scored pick


def tpe_startup_order(d_words: tuple[int, ...], d_ffs: tuple[int, ...]
                      ) -> list[tuple[int, int]]:
    """The deterministic analog of TPE's random startup: the full grid
    ordered extremes-first (corners before edges before center, by L1
    distance of the index pair from the grid center), ties broken by
    (d_word, d_ff).  Maximal early spread without randomness."""
    kd, kf = len(d_words), len(d_ffs)

    def key(c: tuple[int, int]):
        i, j = d_words.index(c[0]), d_ffs.index(c[1])
        ext = abs(i - (kd - 1) / 2) + abs(j - (kf - 1) / 2)
        return (-ext, c[0], c[1])

    return sorted(((dw, dff) for dw in d_words for dff in d_ffs),
                  key=key)


def tpe_scores(history: list[tuple[int, int, float]],
               candidates: list[tuple[int, int]],
               d_words: tuple[int, ...], d_ffs: tuple[int, ...],
               gamma: float = 0.25, prior: float = 1.0
               ) -> dict[tuple[int, int], float]:
    """The categorical-TPE acquisition: split ``history`` (sorted by
    (val_loss, config)) at ``ceil(gamma*n)`` into good/bad, estimate a
    smoothed per-dimension categorical density for each side
    ((count + prior) / (n + prior*K)), and score each candidate by the
    product of density ratios l(v)/g(v) — monotone in the expected
    improvement for categorical spaces (Bergstra et al. NIPS'11 §4).
    Exposed separately so callers (the e13 contract) can re-verify
    every pick independently of the search loop."""
    import math
    from collections import Counter

    n_good = max(1, math.ceil(gamma * len(history)))
    srt = sorted(history, key=lambda t: (t[2], t[0], t[1]))
    good, bad = srt[:n_good], srt[n_good:]

    def dens(subset, dim_vals, idx):
        cnt = Counter(t[idx] for t in subset)
        tot = len(subset) + prior * len(dim_vals)
        return {v: (cnt.get(v, 0) + prior) / tot for v in dim_vals}

    lw, gw = dens(good, d_words, 0), dens(bad, d_words, 0)
    lf, gf = dens(good, d_ffs, 1), dens(bad, d_ffs, 1)
    return {(dw, dff): (lw[dw] / gw[dw]) * (lf[dff] / gf[dff])
            for dw, dff in candidates}


def tpe_search(input_bins: list[tuple[str, int]], codes: np.ndarray,
               base: TrainConfig | None = None,
               d_words: tuple[int, ...] = (8, 16, 32),
               d_ffs: tuple[int, ...] = (32, 64, 96),
               n_trials: int = 6, n_startup: int = 3,
               gamma: float = 0.25, prior: float = 1.0,
               spark=None) -> tuple[NarMLP, list[TpeTrial]]:
    """Deterministic TPE over the (d_word, d_ff) grid: returns the
    best-validation model and the full pick-ordered trial table.  Each
    config is trained at most once (the space is finite), so
    ``n_trials < |grid|`` really saves the difference vs exhaustive —
    the sampler's adaptivity claim, which the e13 contract certifies
    alongside pick-by-pick re-verification of the acquisition argmax.
    Each pick needs the previous trial's loss, so the runner gets one
    config at a time."""
    base = base or TrainConfig()
    grid = [(dw, dff) for dw in d_words for dff in d_ffs]
    n_trials = min(n_trials, len(grid))
    startup = tpe_startup_order(d_words, d_ffs)
    history: list[tuple[int, int, float]] = []
    done = []
    trials: list[TpeTrial] = []
    with _trial_runner(spark, input_bins, codes, base) as run:
        for t in range(n_trials):
            if t < n_startup:
                dw, dff = startup[t]
            else:
                tried = {(h[0], h[1]) for h in history}
                untried = [c for c in grid if c not in tried]
                scores = tpe_scores(history, untried, d_words, d_ffs,
                                    gamma, prior)
                dw, dff = min(untried,
                              key=lambda c: (-scores[c], c[0], c[1]))
            cfg = replace(base, d_word=dw, d_ff=dff)
            [(vl, tl, model)] = run([cfg])
            history.append((dw, dff, vl))
            done.append((cfg, (vl, tl, model)))
            trials.append(TpeTrial(cfg, t, vl, tl, t < n_startup))
    return _winner(done), trials


def grid_search(input_bins: list[tuple[str, int]], codes: np.ndarray,
                base: TrainConfig | None = None,
                d_words: tuple[int, ...] = (16, 32),
                d_ffs: tuple[int, ...] = (64, 96),
                spark=None) -> tuple[NarMLP, list[TrialResult]]:
    """Train every (d_word, d_ff) combination in one runner call (one
    Spark job with ``spark``); return the best-val model and the full
    trial table in grid order (the analog of the exported best-config
    JSON)."""
    base = base or TrainConfig()
    cfgs = [replace(base, d_word=dw, d_ff=dff)
            for dw in d_words for dff in d_ffs]
    with _trial_runner(spark, input_bins, codes, base) as run:
        done = list(zip(cfgs, run(cfgs)))
    return _winner(done), [TrialResult(cfg, vl, tl)
                           for cfg, (vl, tl, _m) in done]
