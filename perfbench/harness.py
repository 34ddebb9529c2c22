"""The serving loop, its correctness checks and the summaries computed
from it.  Nothing here touches Spark, so the tests drive it with stub
estimators.

Serving is a closed loop with one client: each estimate is issued after
the previous one returned, as a query optimizer calls its estimator.
Each pass visits the suite in a fresh seeded order and sends every query
to each path that serves it.
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Callable

import numpy as np


@dataclass
class Path:
    """One way of answering a query.  ``fn`` returns a float or a tuple
    of floats (the hybrid path returns its answer and the raw model
    estimate); ``qids`` are the queries this path serves."""
    name: str
    fn: Callable[[str], "float | tuple[float, ...]"]
    qids: set[str]


@dataclass
class ServeResult:
    # per path: (pass index, milliseconds) of every estimate that passed
    # its checks
    latencies: dict[str, list[tuple[int, float]]]
    # per path: query id -> value tuple of its first successful estimate
    values: dict[str, dict[str, tuple[float, ...]]]
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    passes: int = 0
    wall_s: float = 0.0
    cpu_s: float = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(msg)


def _as_tuple(v) -> tuple[float, ...]:
    return tuple(float(x) for x in v) if isinstance(v, tuple) else (float(v),)


def serve(paths: list[Path], suite: dict[str, str], seed: int,
          seconds: float, min_per_path: int, min_passes: int = 2,
          span_for: Callable[[str, str, int], object] | None = None,
          on_pass: Callable[[int], None] | None = None) -> ServeResult:
    """Run whole passes over ``suite`` until ``seconds`` have passed, every
    path has at least ``min_per_path`` estimates and at least
    ``min_passes`` passes are done (the second pass repeats every query,
    which the bit-identity check needs).  A path that has met both floors
    sits out the passes its slower-filling peers still need.

    Every estimate is checked: it must not raise, every value must be
    finite and non-negative, and a repeat must equal the query's first
    answer bit for bit.  A failed check counts as a failed attempt and
    its latency is left out.  ``span_for(path, qid, pass)`` may return a
    context manager entered around each call (the traced run's spans);
    ``on_pass(pass)`` runs before each pass."""
    rs = np.random.RandomState(seed)
    order = sorted(suite)
    res = ServeResult({p.name: [] for p in paths}, {p.name: {} for p in paths})
    # the stopping rule counts attempts, so a path whose every estimate
    # fails still ends the loop
    tried = {p.name: 0 for p in paths}
    t_start, cpu_start = time.perf_counter(), time.process_time()
    while True:
        full = {p.name for p in paths
                if tried[p.name] >= min_per_path or not p.qids}
        if (res.passes >= min_passes and len(full) == len(paths)
                and time.perf_counter() - t_start >= seconds):
            break
        active = [p for p in paths
                  if p.name not in full or res.passes < min_passes
                  or len(full) == len(paths)]
        if on_pass:
            on_pass(res.passes)
        rs.shuffle(order)
        for qid in order:
            sql = suite[qid]
            for p in active:
                if qid not in p.qids:
                    continue
                res.attempted += 1
                tried[p.name] += 1
                cm = span_for(p.name, qid, res.passes) if span_for \
                    else nullcontext()
                with cm:
                    t0 = time.perf_counter()
                    try:
                        v = p.fn(sql)
                    except Exception as ex:  # noqa: BLE001 - counted
                        res.fail(f"{p.name} {qid}: {type(ex).__name__}: {ex}")
                        continue
                    ms = (time.perf_counter() - t0) * 1e3
                vals = _as_tuple(v)
                if not all(math.isfinite(x) and x >= 0.0 for x in vals):
                    res.fail(f"{p.name} {qid}: invalid estimate {vals}")
                    continue
                first = res.values[p.name].setdefault(qid, vals)
                if first != vals:
                    res.fail(f"{p.name} {qid}: repeat {vals} != {first}")
                    continue
                res.latencies[p.name].append((res.passes, ms))
        res.passes += 1
    res.wall_s = time.perf_counter() - t_start
    res.cpu_s = time.process_time() - cpu_start
    return res


def q_error(est: float, truth: float) -> float:
    """The library's convention (``runner.run_benchmark``): the estimate
    is ceiled to a whole cardinality, zero truths and estimates follow
    ``runner.q_error``."""
    from scardina_spark.runner import q_error as lib_q_error
    return lib_q_error(math.ceil(est), truth)


def pct(xs: list[float], p: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), p))


def classify(hybrid: float, model: float, ht: float | None) -> str:
    """What the arbiter did with the model's answer: ``unchecked`` when
    the checker could not answer (the model's value passes through),
    ``zero`` when an empty sample forced 0, ``fallback`` when the model's
    answer was computed and then discarded for the sample's, else
    ``combined``."""
    if ht is None:
        return "unchecked"
    if ht == 0.0 and hybrid == 0.0:
        return "zero"
    if hybrid == ht and model != ht:
        return "fallback"
    return "combined"


def summarize(res: ServeResult, truths: dict[str, float],
              passes: set[int] | None = None) -> dict[str, float]:
    """End-to-end serving metrics.  Latency percentiles use the passes
    in ``passes`` (all by default); q-errors use each query's answer."""
    out: dict[str, float] = {}
    for path, key in (("est", "est_ms"), ("ht", "ht_ms")):
        lat = [ms for p, ms in res.latencies.get(path, [])
               if passes is None or p in passes]
        if lat:
            out[f"{key}_p50"] = pct(lat, 50)
            out[f"{key}_p95"] = pct(lat, 95)
            out[f"{key}_n"] = len(lat)
    est = res.values.get("est", {})
    ht = res.values.get("ht", {})
    if est:
        q = [q_error(v[0], truths[k]) for k, v in est.items()]
        qm = [q_error(v[1], truths[k]) for k, v in est.items()]
        out.update(qerror_p50=pct(q, 50), qerror_p90=pct(q, 90),
                   qerror_max=max(q), model_qerror_p50=pct(qm, 50),
                   model_qerror_p90=pct(qm, 90))
        kinds = [classify(v[0], v[1], ht[k][0] if k in ht else None)
                 for k, v in est.items()]
        for kind in ("fallback", "zero", "unchecked"):
            out[f"hybrid.{kind}_frac"] = kinds.count(kind) / len(kinds)
    if ht:
        out["ht_qerror_max"] = max(q_error(v[0], truths[k])
                                   for k, v in ht.items())
    out["failed_frac"] = res.failed / max(res.attempted, 1)
    return out


def estimates_digest(res: ServeResult) -> str:
    """sha256 of every path's answer per query, in a canonical order."""
    canon = {p: {k: [repr(x) for x in v] for k, v in sorted(vals.items())}
             for p, vals in sorted(res.values.items())}
    return hashlib.sha256(json.dumps(canon, sort_keys=True).encode()
                          ).hexdigest()[:16]


def check_close(local: dict[str, float], distributed: dict[str, float],
                rel: float = 1e-9) -> list[str]:
    """Queries whose localized and distributed HT estimates disagree by
    more than ``rel`` (summation order differs between the two), or that
    one side did not answer."""
    bad = []
    for k in sorted(set(local) | set(distributed)):
        a, b = local.get(k), distributed.get(k)
        if a is None or b is None or abs(a - b) > rel * max(abs(a), abs(b)):
            bad.append(f"{k}: localized {a} != distributed {b}")
    return bad
