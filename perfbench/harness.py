"""Machinery shared by the workloads: the run's work directory and Spark
session, failure bookkeeping, the driver's process tree and statistics.

Nothing here imports PySpark at module level: :func:`prepare_env` must
point temporary files into the work directory before PySpark and the
package are imported.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes under ``work``, and run Spark on
    ``local[nproc]`` unless ``SPARK_GRAFT_CPUS`` says otherwise."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, spark-submit's launcher included: temp files here, and no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def session_conf(work: str, event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_record(ticks_at_start: tuple[int, int]) -> dict[str, Any]:
    """The host facts a result must be compared under, including the share
    of CPU time the hypervisor gave to other guests during the run."""
    import pyspark

    steal, total = (b - a for a, b in zip(ticks_at_start, cpu_ticks()))
    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "steal_share": steal / total if total else 0.0,
    }


# --- process tree ---------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants."""
    pages = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE / 2**20


def _alive(pids: list[int]) -> list[int]:
    return [p for p in pids if os.path.exists(f"/proc/{p}")]


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while _alive(started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in _alive(started):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _alive(started):
        time.sleep(0.05)


# --- operations -------------------------------------------------------------

@dataclass
class Outcome:
    """What a workload hands back: set-up seconds, the latencies of its
    timed operations, workload-specific detail and, when traced, the
    tracer plus the per-layer values the workload measured itself."""

    setup_s: float
    latencies: list[float]
    detail: dict[str, Any] = field(default_factory=dict)
    tracer: Any = None
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Recorder:
    """Counts attempted and failed operations and samples the process
    tree's memory at every operation boundary (no sampler thread)."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)
    peak_rss_mb: float = 0.0

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(os.getpid()))

    def run(self, name: str, fn: Callable[[], Any]) -> tuple[float | None, Any]:
        """Time one operation; a raising operation is recorded as failed
        and returns ``(None, None)`` so the run can go on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception as exc:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            self.failures.append((name, f"{type(exc).__name__}: {exc}"[:500]))
            self.sample_rss()
            return None, None
        seconds = time.perf_counter() - t0
        self.sample_rss()
        return seconds, value

    def fail(self, name: str, why: str) -> None:
        """Mark an operation that ran as failed (wrong output)."""
        print(f"FAILED {name}: {why}", file=sys.stderr)
        self.failures.append((name, why[:500]))


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: str
    rec: Recorder = field(default_factory=Recorder)

    @property
    def event_dir(self) -> str | None:
        return os.path.join(self.work, "eventlog") if self.trace else None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def hd_median(values: list[float]) -> float:
    """Harrell–Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted average of the order statistics.  On a few heterogeneous
    samples (21 keys of one pass) it moves less with one sample's noise
    than the sample median does, which picks a single key."""
    xs = sorted(values)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    steps = 400 * n
    weights = [0.0] * n
    for k in range(steps):  # midpoint rule over [0, 1]
        x = (k + 0.5) / steps
        weights[k * n // steps] += math.exp(log_norm + (a - 1) * (math.log(x) + math.log1p(-x)))
    return sum(w * v for w, v in zip(weights, xs)) / sum(weights)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Spark's markers."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
