"""Host facts for the run record: shape, limits, versions, hypervisor
steal and the peak memory of the driver's process tree.

Everything here reads ``/proc`` and ``/sys`` directly and tolerates
their absence (a missing file reads as ``None``).
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat.

    The total sums user..steal only: guest and guest_nice are already
    counted inside user and nice, so adding them would count guest time
    twice."""
    text = _read("/proc/stat")
    if not text:
        return None
    fields = text.splitlines()[0].split()
    if fields[0] != "cpu" or len(fields) < 9:
        return None
    vals = [int(v) for v in fields[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int] | None,
              after: tuple[int, int] | None) -> float:
    """Share of CPU time the hypervisor stole between two snapshots, in %."""
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def _children(pid: int) -> list[int]:
    text = _read(f"/proc/{pid}/task/{pid}/children")
    return [int(p) for p in text.split()] if text else []


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def wait_gone(pids: list[int], timeout: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` is alive (a zombie counts as gone);
    returns the ones still alive at the timeout."""
    def alive(pid: int) -> bool:
        stat = _read(f"/proc/{pid}/stat")
        return stat is not None and stat.rsplit(")", 1)[-1].split()[0] != "Z"

    deadline = time.monotonic() + timeout
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if alive(p)]
    return left


def _status_kb(pid: int, key: str) -> int:
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak RSS (VmHWM) of this driver process, of the Spark JVM it
    launched, and summed over the live process tree under it (driver,
    JVM, the JVM's Python workers).  Per-process peaks need not
    coincide, so the tree sum bounds the tree's simultaneous peak from
    above."""
    root = root or os.getpid()
    out = {"driver": _status_kb(root, "VmHWM") / 1024.0, "jvm": 0.0,
           "tree": 0.0}
    for pid in process_tree(root):
        kb = _status_kb(pid, "VmHWM")
        out["tree"] += kb / 1024.0
        if "java" in (_read(f"/proc/{pid}/comm") or ""):
            out["jvm"] = max(out["jvm"], kb / 1024.0)
    return out


def _cgroup_limits() -> dict[str, str | None]:
    cpu = _read("/sys/fs/cgroup/cpu.max")
    mem = _read("/sys/fs/cgroup/memory.max")
    if cpu is None:  # cgroup v1
        quota = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
        period = _read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
        cpu = f"{quota} {period}" if quota else None
    if mem is None:
        mem = _read("/sys/fs/cgroup/memory/memory.limit_in_bytes")
    return {"cpu_max": cpu, "memory_max": mem}


def _meminfo_mb(key: str) -> float | None:
    for line in (_read("/proc/meminfo") or "").splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1]) / 1024.0
    return None


def _java_version() -> str | None:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = [ln for ln in out.stderr.strip().splitlines()
             if not ln.startswith("Picked up")]
    return lines[0] if lines else None


def _versions() -> dict[str, str | None]:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "java": _java_version()}


def source_revision(root: str) -> dict[str, str | None]:
    """Git revision when ``root`` is a git checkout, and always a digest
    of the library's sources (a source export carries no ``.git``)."""
    rev = None
    # only the checkout's own .git: git would otherwise report the HEAD of
    # any repository that happens to enclose the checkout
    if os.path.exists(os.path.join(root, ".git")):
        try:
            rev = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True,
                                 timeout=30).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            rev = None
    h = hashlib.sha256()
    lib = os.path.join(root, "scardina_spark")
    for dirpath, dirnames, filenames in os.walk(lib):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"git": rev, "source_sha256": h.hexdigest()[:16]}


def run_record(spark, root: str, seed: int) -> dict:
    """Host shape, limits, versions and the effective Spark settings."""
    conf = spark.sparkContext.getConf()
    blas = {v: os.environ.get(v) for v in
            ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")}
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "cgroup": _cgroup_limits(),
        "mem_available_mb": _meminfo_mb("MemAvailable"),
        "versions": _versions(),
        "spark_master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "blas_threads": {k: v for k, v in blas.items() if v is not None}
        or f"unset (library default: one per core, {os.cpu_count()})",
        **source_revision(root),
    }
