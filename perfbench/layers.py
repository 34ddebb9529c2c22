"""Per-layer metrics of a traced run, from its spans and the Spark jobs
attributed to them.  README.md says which end-to-end metric each one
should move, on which workload."""

from __future__ import annotations

from collections import defaultdict

from tracing import JobStats, Tracer

# Spark task totals reported per layer
_JOB_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
               "spill_mb", "pyworker_s")


def phase_split(tracer: Tracer, root: int, selfs: list[float] | None = None
                ) -> dict[str, float]:
    """Self time per span name inside span ``root``; the root's own self
    time is reported as ``unattributed``.  The values sum to the root's
    duration."""
    selfs = selfs if selfs is not None else tracer.self_times()
    out: dict[str, float] = defaultdict(float)
    for i in tracer.within(root):
        out["unattributed" if i == root else tracer.spans[i].name] += selfs[i]
    return dict(out)


def _ancestor_names(tracer: Tracer) -> list[set[str]]:
    out: list[set[str]] = []
    for sp in tracer.spans:
        names = {sp.name}
        if sp.parent is not None:
            names |= out[sp.parent]
        out.append(names)
    return out


def _spark_totals(tracer: Tracer, jobs: list[JobStats],
                  job_span: dict[int, int | None]) -> dict[str, dict]:
    """Per span name: totals of the jobs launched inside any span of that
    name (a job counts for every enclosing layer)."""
    anc = _ancestor_names(tracer)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for job in jobs:
        idx = job_span.get(job.job_id)
        if idx is None:
            continue
        for name in anc[idx]:
            t = out[name]
            t["jobs"] += 1
            for f in _JOB_FIELDS:
                t[f] += getattr(job, f)
    return out


def layer_metrics(tracer: Tracer, phases: dict[str, int],
                  jobs: list[JobStats], job_span: dict[int, int | None],
                  how: dict[str, int], setup_repeats: list[int]
                  ) -> dict[str, float]:
    """``phases`` maps setup/build/serve to their span index;
    ``setup_repeats`` are the spans of the repeated data set-ups."""
    spans = tracer.spans
    selfs = tracer.self_times()
    spark = _spark_totals(tracer, jobs, job_span)
    m: dict[str, float] = {}

    def total(name: str, root: int, attr: str | None = None) -> float:
        """Summed duration (or ``attrs[attr]``) of the outermost spans
        called ``name`` inside ``root``."""
        out = 0.0
        for i in tracer.within(root):
            sp = spans[i]
            if sp.name != name:
                continue
            p = sp.parent
            while p is not None and spans[p].name != name:
                p = spans[p].parent
            if p is None:
                out += sp.dur if attr is None else sp.attrs.get(attr, 0)
        return out

    def count(name: str, root: int) -> int:
        return sum(1 for i in tracer.within(root) if spans[i].name == name)

    # setup: the session once, the data steps as the median over repeats
    setup = phases["setup"]
    m["session.start_s"] = total("session.start", setup)
    for layer in ("catalog.load", "imdb_synth.gen"):
        vals = sorted(total(layer, r) for r in setup_repeats)
        m[f"{layer}_s"] = vals[len(vals) // 2]
    m["setup.unattributed_frac"] = _frac(selfs[setup], spans[setup].dur)

    build = phases["build"]
    bsplit = phase_split(tracer, build, selfs)
    sample = spark.get("sample.prepare", {})
    m.update({
        "sample.prepare_s": total("sample.prepare", build),
        "sample.calls": count("sample.prepare", build),
        "sample.rows": total("sample.prepare", build, "rows"),
        "sample.join_size": total("sample.prepare", build, "join_size"),
        "sample.driver_cpu_s": sum(spans[i].cpu or 0.0
                                   for i in tracer.within(build)
                                   if spans[i].name == "sample.prepare"),
        "sample.self_s": bsplit.get("sample.prepare", 0.0),
        "sample.fanout_s": bsplit.get("sample.fanout", 0.0),
        "sample.weights_s": bsplit.get("sample.weights", 0.0),
        "sample.draw_s": bsplit.get("sample.draw", 0.0),
        "sample.pick_s": bsplit.get("sample.pick", 0.0),
        "sample.spark_jobs": sample.get("jobs", 0),
        "sample.spark_tasks": sample.get("tasks", 0),
        "sample.executor_run_s": sample.get("run_s", 0.0),
        "sample.executor_cpu_s": sample.get("cpu_s", 0.0),
        "sample.gc_s": sample.get("gc_s", 0.0),
        "sample.shuffle_write_mb": sample.get("shuffle_write_mb", 0.0),
        "sample.spill_mb": sample.get("spill_mb", 0.0),
        "sample.pyworker_s": sample.get("pyworker_s", 0.0),
        "localize.s": total("localize", build),
        "localize.rows": total("localize", build, "rows"),
        "localize.mb": total("localize", build, "mb"),
        "encode.s": total("encode", build),
        "encode.spark_jobs": spark.get("encode", {}).get("jobs", 0),
        "encode.executor_cpu_s": spark.get("encode", {}).get("cpu_s", 0.0),
        "encode.rows": total("encode", build, "rows"),
        "encode.model_cols": total("encode", build, "cols"),
        "fit.s": total("fit", build),
        "fit.cpu_s": sum(spans[i].cpu or 0.0 for i in tracer.within(build)
                         if spans[i].name == "fit"),
        "fit.models": count("fit", build),
        "fit.rows": total("fit", build, "rows"),
        "fit.params": total("fit", build, "params"),
        "build.spark_jobs": spark.get("build", {}).get("jobs", 0),
        "build.executor_cpu_s": spark.get("build", {}).get("cpu_s", 0.0),
        "build.unattributed_frac": _frac(bsplit["unattributed"],
                                         spans[build].dur),
    })
    cin_roots = [i for i in tracer.within(build)
                 if spans[i].name == "cin.build"]
    cin_wall = sum(spans[i].dur for i in cin_roots)
    kids = tracer.children()
    m.update({
        "cin.build_s": cin_wall,
        "cin.models": sum(count("fit", i) for i in cin_roots),
        # summed child-span time over wall: 1.0 when the per-center
        # steps run one after another
        "cin.overlap": _frac(sum(spans[k].dur for i in cin_roots
                                 for k in kids.get(i, [])), cin_wall),
        "cin.self_s": sum(selfs[i] for i in cin_roots),
    })

    serve = phases["serve"]
    queries = [i for i in tracer.within(serve)
               if spans[i].name == "serve.est"]
    per_q: dict[str, float] = defaultdict(float)
    n_forward = forward_rows = chained = 0
    q_self = q_dur = 0.0
    for q in queries:
        q_self += selfs[q]
        q_dur += spans[q].dur
        sub = tracer.within(q)
        chained += any(spans[i].name == "cin.chain" for i in sub)
        for i in sub:
            if i != q:
                per_q[spans[i].name] += selfs[i]
            if spans[i].name == "nar.forward":
                n_forward += 1
                forward_rows += spans[i].attrs.get("rows", 0)
    nq = max(len(queries), 1)
    for layer, key in (("parse", "parse.ms"), ("ht", "ht.ms"),
                       ("progressive", "progressive.ms"),
                       ("progressive.mask", "progressive.mask_ms"),
                       ("nar.forward", "nar.forward_ms"),
                       ("cin.estimate", "cin.estimate_ms"),
                       ("cin.chain", "cin.chain_ms"),
                       ("hybrid.clamp", "hybrid.clamp_ms")):
        m[key] = per_q.get(layer, 0.0) * 1e3 / nq
    m.update({
        "nar.forward_calls": n_forward / nq,
        "nar.forward_rows": forward_rows / nq,
        "cin.chain_frac": chained / nq,
        "serve.spark_jobs": spark.get("serve", {}).get("jobs", 0),
        "serve.unattributed_frac": _frac(q_self, q_dur),
        "trace.jobs_by_window_frac": _frac(how["window"], len(jobs)),
        "trace.jobs_unattributed_frac": _frac(how["none"], len(jobs)),
    })
    return m


def _frac(a: float, b: float) -> float:
    return a / b if b > 0 else 0.0
