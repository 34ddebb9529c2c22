"""Benchmark of record for the scardina_spark cardinality estimators.

    python3 perfbench/run.py --workload tpch-cin --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  One run has three phases:

* setup: start the Spark session, then load (IMDB: generate and load)
  the workload's data, the data steps repeated ``SETUP_REPEATS`` times;
  the TPC-H input files are written before this, untimed;
* build: sample, encode and fit until the estimator can serve;
* serve: a closed loop with one client over the query suite, in an
  order drawn from ``--seed``.

It then checks the answers, prints one JSON line with the full run
record and, as the last line, the result: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything the
run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPEATS = 3
MIN_PER_PATH = 200          # timed estimates per path, so >=10 lie past p95


def benchmark_metrics(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics the result line carries, as
    BENCHMARK.json lists them: end-to-end untraced, per-layer traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def _start_session(run_dir: str, trace: bool):
    from scardina_spark.session import get_spark

    conf = {"spark.local.dir": os.path.join(run_dir, "spark-local")}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark=None) -> None:
    """Stop Spark (``spark``, else whatever context is still active), then
    the gateway JVM, and wait until the JVM and every process under it
    (its Python workers) have exited.  A no-op once all is stopped."""
    from pyspark import SparkContext

    import host

    started = host.process_tree(os.getpid())[1:]
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = host.wait_gone(started)
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def _truths(wl, data_dir: str, suite: dict[str, str]) -> dict[str, float]:
    """Exact answers from DuckDB over the same files (not timed)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t, path in wl.duckdb_views(data_dir).items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {k: float(con.sql(sql).fetchone()[0])
                for k, sql in suite.items()}
    finally:
        con.close()


def _ht_coverage(checker, suite: dict[str, str]) -> dict[str, float]:
    """Localized HT answer per query the checker's samples cover."""
    from scardina_spark.estimators.sample import UnsupportedQueryError

    out = {}
    for k, sql in suite.items():
        try:
            out[k] = checker.estimate(sql)
        except UnsupportedQueryError:
            continue
    return out


def _distributed_ht(checker, suite: dict[str, str]) -> dict[str, float]:
    """The checker's estimates through the distributed ``estimate_many``
    path: the same samples, read from their cached Spark DataFrames, the
    whole suite as one aggregate per sample."""
    from dataclasses import replace

    from scardina_spark.estimators import SampleEstimator

    dist = SampleEstimator()
    for ts in checker.samples:
        dist.add(replace(ts, local=None))
    return dist.estimate_many(suite, batch_size=max(len(suite), 1))


def run(workload: str, seed: int, seconds: float, trace: bool,
        run_dir: str) -> tuple[dict, dict]:
    import host
    from harness import Path, check_close, estimates_digest, serve, summarize
    from tracing import Tracer, attribute_jobs, instrument, read_event_log
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    ctx: dict = {}

    def set_group(group):
        if "sc" in ctx:
            ctx["sc"].setLocalProperty("spark.jobGroup.id", group)

    # untraced runs keep only the phase spans, and set no job groups
    tracer = Tracer(set_group if trace else None)
    restore = instrument(tracer) if trace else None
    span = tracer.span
    phases: dict[str, int] = {}
    steal: dict[str, float] = {}
    data_dir = os.path.join(run_dir, "data")

    def phase(name: str):
        phases[name] = len(tracer.spans)
        return span(name, spark=name != "setup")

    # -- untimed: the benchmark's own input files ------------------------
    wl.prepare_data(data_dir)

    # -- setup ------------------------------------------------------------
    j0 = host.cpu_jiffies()
    with phase("setup"):
        t0 = time.perf_counter()
        with span("session.start"):
            spark = _start_session(run_dir, trace)
        session_s = time.perf_counter() - t0
        ctx["sc"] = spark.sparkContext
        data_s, repeats = [], []
        for _ in range(SETUP_REPEATS):
            repeats.append(len(tracer.spans))
            t0 = time.perf_counter()
            with span("setup.data", spark=True):
                tables = wl.setup_data(spark, data_dir, span)
            data_s.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(data_s)
    j1 = host.cpu_jiffies()
    steal["setup"] = host.steal_pct(j0, j1)

    # -- build ------------------------------------------------------------
    t0 = time.perf_counter()
    with phase("build"):
        built = wl.build(spark, tables)
    build_s = time.perf_counter() - t0
    j2 = host.cpu_jiffies()
    steal["build"] = host.steal_pct(j1, j2)

    # -- untimed: truths and which queries the HT path serves ---------------
    if restore:
        restore()
        restore = None
    t0 = time.perf_counter()
    suite = wl.suite()
    truths = _truths(wl, data_dir, suite)
    ht_local = _ht_coverage(built.checker, suite)
    truths_s = time.perf_counter() - t0

    def est(sql):
        e = built.learned.estimate(sql)
        return built.hybrid.clamp(sql, e), e

    paths = [Path("est", est, set(suite)),
             Path("ht", built.checker.estimate, set(ht_local))]

    # -- serve ------------------------------------------------------------
    # traced runs alternate passes with and without spans: the odd
    # passes are traced, so tracing overhead is measured in the same run
    def on_pass(i):
        nonlocal restore
        if not trace:
            return
        if i % 2 == 1 and restore is None:
            restore = instrument(tracer)
        elif i % 2 == 0 and restore is not None:
            restore()
            restore = None

    def span_for(path, qid, i):
        return tracer.span(f"serve.{path}", qid=qid) if trace and i % 2 \
            else nullcontext()

    j3 = host.cpu_jiffies()
    with phase("serve"):
        res = serve(paths, suite, seed, seconds, MIN_PER_PATH,
                    min_passes=3 if trace else 2, span_for=span_for,
                    on_pass=on_pass)
    if restore:
        restore()
    steal["serve"] = host.steal_pct(j3, host.cpu_jiffies())

    # -- checks (untimed) -------------------------------------------------
    # the localized HT must equal the distributed estimate_many on every
    # query the HT path serves
    t0 = time.perf_counter()
    with phase("checks"):
        dist = _distributed_ht(built.checker, {k: suite[k] for k in ht_local})
    n_check = len(ht_local)
    for msg in check_close(ht_local, dist):
        res.fail(msg)
    checks_s = time.perf_counter() - t0
    rss = host.peak_rss_mb()
    record = host.run_record(spark, ROOT, seed)
    _stop_session(spark)

    untraced = {i for i in range(res.passes) if not (trace and i % 2)}
    e2e = summarize(res, truths, passes=untraced)
    e2e.update(setup_s=setup_s, build_s=build_s, peak_rss_mb=rss["driver"])
    record.update({
        "workload": workload, "trace": int(trace), "seconds": seconds,
        "estimates_digest": estimates_digest(res),
        "queries": len(suite), "ht_queries": len(ht_local),
        "passes": res.passes, "serve_wall_s": res.wall_s,
        "attempted": res.attempted + n_check, "failed": res.failed,
        "failures": res.failures,
        "session_start_s": session_s, "setup_data_s": data_s,
        "truths_s": truths_s, "checks_s": checks_s,
        "steal_pct": steal, "peak_rss_mb": rss, "e2e": e2e,
    })
    result = e2e
    if trace:
        import layers

        jobs = read_event_log(os.path.join(run_dir, "eventlog"))
        job_span, how = attribute_jobs(tracer, jobs)
        result = layers.layer_metrics(tracer, phases, jobs, job_span, how,
                                      repeats)
        result.update(run_layer_extras(e2e, res, steal, rss))
        record["layers"] = result
        tracer.dump(os.path.join(WORK, f"trace-{workload}-{seed}.jsonl"))
    return record, result


def run_layer_extras(e2e: dict, res, steal: dict[str, float],
                     rss: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics read off the serving loop and the host rather
    than the spans: arbiter outcomes, driver CPU per estimate, steal per
    phase, memory peaks, and the tracing overhead (median latency of the
    traced odd passes against the untraced even passes after the
    first)."""
    out = {f"hybrid.{k}_frac": e2e[f"hybrid.{k}_frac"]
           for k in ("fallback", "zero", "unchecked")}
    out["serve.driver_cpu_ms"] = res.cpu_s * 1e3 / max(res.attempted, 1)
    for ph in ("setup", "build", "serve"):
        out[f"host.{ph}_steal_pct"] = steal[ph]
    out["mem.jvm_peak_mb"] = rss["jvm"]
    out["mem.tree_peak_mb"] = rss["tree"]
    traced = [ms for p, ms in res.latencies["est"] if p % 2]
    plain = [ms for p, ms in res.latencies["est"] if p % 2 == 0 and p > 0]
    out["trace.overhead_pct"] = (
        100.0 * (statistics.median(traced) / statistics.median(plain) - 1.0)
        if traced and plain else 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # everything Spark, the JVMs (launcher, driver, ``java -version``) and
    # Python workers write stays here; no JVM writes /tmp/hsperfdata_*
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    sys.path[:0] = [HERE, ROOT]
    try:
        record, result = run(args.workload, args.seed, args.seconds,
                             bool(args.trace), run_dir)
    finally:
        # a run that failed part-way still stops the JVM it started
        _stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = {k: {"value": result[k], "unit": unit}
               for k, unit in benchmark_metrics(bool(args.trace)).items()}
    with open(os.path.join(
            WORK, f"record-{args.workload}-{args.seed}-{args.trace}.json"),
            "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
