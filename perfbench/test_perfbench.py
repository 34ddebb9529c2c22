"""The benchmark's own tests, at small scale and without Spark.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402
import host  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, attribute_jobs, read_event_log  # noqa: E402


def _fake_serve() -> harness.ServeResult:
    res = harness.ServeResult(
        {"est": [(0, 10.0), (1, 12.0)], "ht": [(0, 1.0), (1, 1.5)]},
        {"est": {"a": (90.0, 80.0), "b": (0.0, 5.0)},
         "ht": {"a": (100.0,), "b": (0.0,)}})
    res.attempted, res.passes, res.cpu_s = 8, 2, 0.1
    return res


def _fake_trace() -> tuple[Tracer, dict[str, int], list[int]]:
    """Phases with nested layer spans on a hand-set clock."""
    tr = Tracer()

    def add(name, start, end, parent=None, qid=None, **attrs):
        tr.spans.append(layers_span(name, start, end, parent, qid, attrs))
        return len(tr.spans) - 1

    setup = add("setup", 0.0, 3.0)
    add("session.start", 0.0, 1.0, setup)
    reps = []
    for k in range(3):
        r = add("setup.data", 1.0 + k * 0.6, 1.5 + k * 0.6, setup)
        add("catalog.load", 1.1 + k * 0.6, 1.4 + k * 0.6, r)
        reps.append(r)
    build = add("build", 3.0, 10.0)
    cin = add("cin.build", 3.1, 9.9, build)
    prep = add("sample.prepare", 3.2, 6.0, cin, rows=100, join_size=1e4)
    add("sample.draw", 3.5, 4.5, prep)
    add("encode", 6.0, 6.5, cin, rows=50, cols=7)
    add("fit", 6.5, 9.0, cin, rows=50, params=1000)
    serve = add("serve", 10.0, 12.0)
    q = add("serve.est", 10.1, 10.2, serve, qid="a")
    p = add("progressive", 10.11, 10.19, q)
    add("nar.forward", 10.12, 10.15, p, rows=1000)
    add("parse", 10.11, 10.115, p)
    return tr, {"setup": setup, "build": build, "serve": serve}, reps


def layers_span(name, start, end, parent, qid, attrs):
    from tracing import Span
    return Span(name, start, end, parent, qid, attrs=dict(attrs))


def test_every_benchmark_metric_is_emitted_with_its_unit():
    e2e = run.benchmark_metrics(trace=False)
    summary = harness.summarize(_fake_serve(), {"a": 100.0, "b": 0.0})
    run_level = {"setup_s", "build_s", "peak_rss_mb"}
    assert set(e2e) - run_level <= set(summary)
    assert all(math.isfinite(summary[k]) for k in set(e2e) - run_level)

    tr, phases, reps = _fake_trace()
    lm = layers.layer_metrics(tr, phases, [], {}, {"group": 0, "window": 0,
                                                   "none": 0}, reps)
    lm.update(run.run_layer_extras(
        summary, _fake_serve(), {"setup": 0.1, "build": 0.2, "serve": 0.3},
        {"driver": 900.0, "jvm": 1500.0, "tree": 2600.0}))
    per_layer = run.benchmark_metrics(trace=True)
    assert set(per_layer) == set(lm)
    assert all(math.isfinite(lm[k]) for k in per_layer)
    units = {u for u in {**e2e, **per_layer}.values()}
    assert units <= {"s", "ms", "MB", "ratio", "count", "%"}


@pytest.mark.parametrize("bad", ["raise", "nan", "negative", "drift"])
def test_failing_stub_estimates_count_as_failed(bad):
    calls = {"n": 0}

    def model(sql):
        calls["n"] += 1
        if sql != "q-bad":
            return 5.0
        if bad == "raise":
            raise ValueError("unsupported")
        if bad == "nan":
            return float("nan")
        if bad == "negative":
            return -1.0
        return float(calls["n"])       # differs on every repeat

    def stub(sql):                     # the hybrid path: (answer, model)
        e = model(sql)
        return e, e

    suite = {"good": "q-good", "bad": "q-bad"}
    res = harness.serve([harness.Path("est", stub, set(suite))], suite,
                        seed=1, seconds=0.0, min_per_path=4, min_passes=2)
    assert res.attempted == 2 * res.passes
    # a drifting estimate passes once, then fails every repeat
    expect = res.passes - 1 if bad == "drift" else res.passes
    assert res.failed == expect
    assert len(res.latencies["est"]) == res.attempted - res.failed
    summary = harness.summarize(res, {"good": 5.0, "bad": 5.0})
    assert summary["failed_frac"] == pytest.approx(expect / res.attempted)


def test_serve_meets_its_floor_and_repeats_bit_identically():
    suite = {f"q{i}": f"sql{i}" for i in range(7)}
    res = harness.serve(
        [harness.Path("est", lambda s: (1.0, 2.0), set(suite)),
         harness.Path("ht", lambda s: 3.0, {"q0", "q1"})],
        suite, seed=3, seconds=0.0, min_per_path=10)
    assert res.failed == 0
    assert len(res.latencies["ht"]) >= 10 and res.passes == 5
    # the est path met its floor after two passes and sat out the rest
    assert len(res.latencies["est"]) == 14
    again = harness.serve(
        [harness.Path("est", lambda s: (1.0, 2.0), set(suite)),
         harness.Path("ht", lambda s: 3.0, {"q0", "q1"})],
        suite, seed=3, seconds=0.0, min_per_path=10)
    assert harness.estimates_digest(res) == harness.estimates_digest(again)


def test_traced_self_times_and_unattributed_sum_to_phase_wall():
    tr, phases, _ = _fake_trace()
    selfs = tr.self_times()
    for name, idx in phases.items():
        split = layers.phase_split(tr, idx, selfs)
        assert sum(split.values()) == pytest.approx(tr.spans[idx].dur), name
        assert split["unattributed"] >= 0.0
    build = layers.phase_split(tr, phases["build"], selfs)
    assert build["fit"] == pytest.approx(2.5)
    assert build["sample.prepare"] == pytest.approx(1.8)   # 2.8 - 1.0 draw


def test_overlapping_children_count_once():
    tr = Tracer()
    tr.spans += [layers_span("build", 0.0, 10.0, None, None, {}),
                 layers_span("fit", 1.0, 5.0, 0, None, {}),
                 layers_span("fit", 3.0, 7.0, 0, None, {})]
    assert tr.self_times()[0] == pytest.approx(4.0)


def test_live_spans_nest_and_set_job_groups():
    groups = []
    tr = Tracer(groups.append)
    with tr.span("build", spark=True):
        with tr.span("encode", spark=True):
            pass
        with tr.span("fit"):
            pass
    assert groups == ["pb-0", "pb-1", "pb-0", None]
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert all(s.end >= s.start for s in tr.spans)


def test_jobs_attribute_by_group_then_window(tmp_path):
    tr, phases, reps = _fake_trace()
    off = tr.epoch_offset
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": (3.6 + off) * 1e3, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb-11"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": (6.7 + off) * 1e3, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": (99.0 + off) * 1e3, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 2000,
                          "Executor CPU Time": 1.5e9, "JVM GC Time": 100,
                          "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 2**20,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 2**21}},
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "500"}]}},
    ]
    (tmp_path / "app-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(tmp_path))
    assert [j.tasks for j in jobs] == [1, 0, 0]
    assert jobs[0].cpu_s == pytest.approx(1.5)
    assert jobs[0].pyworker_s == pytest.approx(0.5)
    assert jobs[0].shuffle_write_mb == pytest.approx(2.0)
    job_span, how = attribute_jobs(tr, jobs)
    assert tr.spans[job_span[0]].name == "sample.draw"
    assert tr.spans[job_span[1]].name == "fit"
    assert job_span[2] is None
    assert how == {"group": 1, "window": 1, "none": 1}
    lm = layers.layer_metrics(tr, phases, jobs, job_span, how, reps)
    assert lm["sample.spark_jobs"] == 1
    assert lm["sample.executor_cpu_s"] == pytest.approx(1.5)
    assert lm["build.spark_jobs"] == 2


def test_steal_counts_guest_time_once():
    before, after = (10, 1000), (20, 1500)
    assert host.steal_pct(before, after) == pytest.approx(2.0)
    assert host.steal_pct(None, after) == 0.0
    snap = host.cpu_jiffies()
    if snap is not None:
        assert 0 <= snap[0] <= snap[1]


def test_wait_gone_returns_once_children_exit():
    import subprocess

    child = subprocess.Popen(["sleep", "0.3"])
    try:
        assert host.wait_gone([child.pid], timeout=10.0) == []
    finally:
        child.wait(timeout=10)
    assert host.wait_gone([os.getpid()], timeout=0.2) == [os.getpid()]


def test_localized_and_distributed_ht_must_agree():
    assert harness.check_close({"a": 1.0, "b": 2.0},
                               {"a": 1.0 + 1e-13, "b": 2.0}) == []
    bad = harness.check_close({"a": 1.0, "b": 2.0}, {"a": 1.1})
    assert len(bad) == 2
