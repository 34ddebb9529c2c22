"""Spans around the library's layers, and Spark task totals per span.

A traced run wraps a fixed list of the library's public functions (see
``TARGETS``) so each call records a span: name, start, end, parent span
and the query it served.  Spans stay in memory and are written out when
the run ends.  A span's self time is its duration minus the part of it
that its child spans cover.

Spark work is attributed through the driver's event log: every span that
can launch Spark jobs sets its own job group, so each job maps to the
span that launched it.  A job that arrives without a group (for example
from a thread the group did not follow) falls back to the innermost span
whose time window contains the job's submission time.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np


@dataclass
class Span:
    name: str
    start: float            # perf_counter seconds
    end: float = 0.0
    parent: int | None = None
    qid: str | None = None
    cpu: float | None = None    # process CPU seconds, when requested
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``set_job_group`` (optional) receives a
    group id, or ``None`` to clear it, whenever a span that may launch
    Spark jobs opens or closes."""

    def __init__(self, set_job_group: Callable[[str | None], None] | None
                 = None):
        self.spans: list[Span] = []
        self.set_job_group = set_job_group
        self._local = threading.local()
        # maps perf_counter readings onto epoch seconds (the event log's
        # clock) for the time-window fallback
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, qid: str | None = None, spark: bool = False,
             cpu: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if qid is None and parent is not None:
            qid = self.spans[parent].qid
        sp = Span(name, 0.0, parent=parent, qid=qid)
        idx = len(self.spans)
        self.spans.append(sp)
        stack.append(idx)
        group = self._group_of(parent)
        if spark:
            sp.attrs["group"] = True
            if self.set_job_group:
                self.set_job_group(f"pb-{idx}")
        cpu0 = time.process_time() if cpu else None
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if cpu:
                sp.cpu = time.process_time() - cpu0
            stack.pop()
            if spark and self.set_job_group:
                self.set_job_group(group)

    def _group_of(self, idx: int | None) -> str | None:
        """Job group in force inside span ``idx``: its own if it set one,
        else its nearest ancestor's."""
        while idx is not None:
            if self.spans[idx].attrs.get("group"):
                return f"pb-{idx}"
            idx = self.spans[idx].parent
        return None

    # -- analysis ---------------------------------------------------------

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(i)
        return out

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals
        (clipped to the span), so overlapping children count once."""
        kids = self.children()
        out = []
        for i, sp in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted((max(self.spans[k].start, sp.start),
                                min(self.spans[k].end, sp.end))
                               for k in kids.get(i, [])):
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(sp.dur - covered)
        return out

    def within(self, root: int) -> list[int]:
        """Indices of ``root`` and all its descendants."""
        kids = self.children()
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(kids.get(i, []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "parent": sp.parent,
                    "qid": sp.qid,
                    "start": sp.start + self.epoch_offset,
                    "end": sp.end + self.epoch_offset,
                    "cpu": sp.cpu, **{k: v for k, v in sp.attrs.items()
                                      if k != "group"}}) + "\n")


# -- counts recorded at layer boundaries ----------------------------------

def _count_sample(args, kwargs, ts) -> dict:
    return {"rows": ts.n_sample, "join_size": float(ts.join_size)}


def _count_localize(args, kwargs, ts) -> dict:
    pdf = ts.local
    return {"rows": len(pdf),
            "mb": float(pdf.memory_usage(deep=True).sum()) / 2**20}


def _count_encode(args, kwargs, out) -> dict:
    codes = out[0]
    return {"rows": int(codes.shape[0]), "cols": int(codes.shape[1])}


def _param_count(model) -> int:
    n = 0
    for k, v in vars(model).items():
        if k.startswith("_"):
            continue
        arrs = v if isinstance(v, list) else [v]
        n += sum(a.size for a in arrs
                 if isinstance(a, np.ndarray) and a.dtype.kind == "f")
    return n


def _count_fit(args, kwargs, out) -> dict:
    model, codes = args[0], args[1]
    return {"rows": int(codes.shape[0]), "params": _param_count(model)}


def _count_forward(args, kwargs, out) -> dict:
    return {"rows": int(args[1].shape[0])}


@dataclass(frozen=True)
class Target:
    module: str
    attr: str               # "func" or "Class.method"
    span: str
    spark: bool = False     # may launch Spark jobs: give it a job group
    cpu: bool = False       # record process CPU time
    count: Callable | None = None


_S = "scardina_spark."
TARGETS = [
    # build: sampling (fanout -> weights -> draw/pick), encode, fit, CIN
    Target(_S + "estimators.sample", "prepare_tree_sample", "sample.prepare",
           spark=True, cpu=True, count=_count_sample),
    Target(_S + "operators.fanout", "fk_counts", "sample.fanout", spark=True),
    Target(_S + "operators.fanout", "attach_count", "sample.fanout",
           spark=True),
    Target(_S + "operators.weights", "compute_weights", "sample.weights",
           spark=True),
    Target(_S + "operators.sampler", "join_sample", "sample.draw",
           spark=True),
    Target(_S + "operators.sampler", "pick_one_child_per_sample",
           "sample.pick", spark=True),
    Target(_S + "estimators.sample", "TreeSample.localize", "localize",
           spark=True, count=_count_localize),
    Target(_S + "model.bridge", "training_matrix", "encode", spark=True,
           count=_count_encode),
    Target(_S + "model.nar", "NarMLP.fit", "fit", cpu=True,
           count=_count_fit),
    Target(_S + "estimators.cin", "build_cin_estimator", "cin.build",
           spark=True),
    # serve
    Target(_S + "plans.parse", "parse_query", "parse"),
    Target(_S + "estimators.sample", "SampleEstimator.estimate", "ht"),
    Target(_S + "estimators.sample", "SampleEstimator.estimate_with_stderr",
           "ht"),
    Target(_S + "model.join_bridge", "NarJoinEstimator.estimate",
           "progressive"),
    Target(_S + "model.join_bridge", "NarJoinEstimator.sample_rows",
           "progressive"),
    Target(_S + "model.join_bridge", "NarJoinEstimator.conditional_rows",
           "progressive"),
    Target(_S + "model.progressive", "valid_mask", "progressive.mask"),
    Target(_S + "model.nar", "NarMLP.logits_for", "nar.forward",
           count=_count_forward),
    Target(_S + "model.nar", "NarMLP.regress_for", "nar.forward",
           count=_count_forward),
    Target(_S + "estimators.stitch", "chain_estimate", "cin.chain"),
    Target(_S + "estimators.cin", "NarCinEstimator.estimate", "cin.estimate"),
    Target(_S + "estimators.hybrid", "HybridEstimator.clamp", "hybrid.clamp"),
]


def _wrap(tracer: Tracer, t: Target, fn: Callable) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(t.span, spark=t.spark, cpu=t.cpu) as sp:
            out = fn(*args, **kwargs)
            if t.count is not None:
                sp.attrs.update(t.count(args, kwargs, out))
            return out
    return wrapper


def instrument(tracer: Tracer, targets: list[Target] = TARGETS
               ) -> Callable[[], None]:
    """Wrap every target and return the function that restores them.

    A module-level function is also rebound in every ``scardina_spark``
    module that imported it by name, so callers inside the library reach
    the wrapper too."""
    undo: list[Callable[[], None]] = []
    for t in targets:
        mod = importlib.import_module(t.module)
        if "." in t.attr:
            cls_name, meth = t.attr.split(".")
            cls = getattr(mod, cls_name)
            had_own = meth in cls.__dict__
            orig = cls.__dict__.get(meth, getattr(cls, meth))
            setattr(cls, meth, _wrap(tracer, t, orig))
            undo.append(functools.partial(
                setattr, cls, meth, orig) if had_own else
                functools.partial(delattr, cls, meth))
            continue
        orig = getattr(mod, t.attr)
        wrapped = _wrap(tracer, t, orig)
        for name, m in list(sys.modules.items()):
            if (name.startswith("scardina_spark") and m is not None
                    and getattr(m, t.attr, None) is orig):
                setattr(m, t.attr, wrapped)
                undo.append(functools.partial(setattr, m, t.attr, orig))

    def restore() -> None:
        for fn in reversed(undo):
            fn()
    return restore


# -- Spark event log --------------------------------------------------------

@dataclass
class JobStats:
    job_id: int
    submitted: float        # epoch seconds
    group: str | None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    pyworker_s: float = 0.0


_PY_METRICS = ("time to start Python workers",
               "time to initialize Python workers",
               "time to run Python workers")


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task totals from the (uncompressed, single-file) event
    logs under ``log_dir``."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = JobStats(jid, ev["Submission Time"] / 1000.0,
                                         props.get("spark.jobGroup.id"))
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    for ev in task_ends:
        job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
        tm = ev.get("Task Metrics")
        if job is None or not tm:
            continue
        job.tasks += 1
        job.run_s += tm.get("Executor Run Time", 0) / 1e3
        job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        job.gc_s += tm.get("JVM GC Time", 0) / 1e3
        job.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 2**20
        job.spill_mb += (tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0)) / 2**20
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in _PY_METRICS:
                job.pyworker_s += float(acc.get("Update") or 0) / 1e3
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(tracer: Tracer, jobs: list[JobStats]
                   ) -> tuple[dict[int, int | None], dict[str, int]]:
    """Map each job to a span index (or ``None``).  Returns the mapping
    and how many jobs were placed by group, by time window, or not at
    all."""
    out: dict[int, int | None] = {}
    how = {"group": 0, "window": 0, "none": 0}
    n = len(tracer.spans)
    for job in jobs:
        idx = None
        if job.group and job.group.startswith("pb-"):
            idx = int(job.group[3:])
            if idx >= n:
                idx = None
        if idx is not None:
            how["group"] += 1
        else:
            t = job.submitted - tracer.epoch_offset
            inside = [i for i, sp in enumerate(tracer.spans)
                      if sp.start <= t <= sp.end]
            if inside:
                # innermost = the latest-starting span that contains t
                idx = max(inside, key=lambda i: tracer.spans[i].start)
                how["window"] += 1
            else:
                how["none"] += 1
        out[job.job_id] = idx
    return out, how
