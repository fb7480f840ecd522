"""Shared plumbing: the run's work directory, the Spark session, results.

Everything a run writes lives under ``<checkout>/.perfbench_work/``:
Spark's local and temp directories, topics, sinks and checkpoints. The
run's own directory is removed when it ends; trace files go to
``<checkout>/.perfbench_out/``.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(CHECKOUT, ".perfbench_work")
OUT_ROOT = os.path.join(CHECKOUT, ".perfbench_out")
# Fits a 15 GB host shared with other jobs; the sf0.1 headline bench
# asks for 24g, which this benchmark's inputs never need.
DRIVER_MEMORY = "3g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Result:
    """One run's outcome. ``failed`` counts operations whose output was
    wrong or that raised; ``attempted`` counts every operation."""

    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.notes.append(why)

    def line(self, names: list[str]) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]} for n in names
            },
        }


class Workspace:
    """Per-run directory tree; ``close`` removes it."""

    def __init__(self, tag: str):
        self.root = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


# Environment variables ``start_spark`` changed, with their earlier
# values; ``stop_spark`` puts them back.
_SAVED_ENV: dict[str, str | None] = {}


def _setenv(name: str, value: str) -> None:
    _SAVED_ENV.setdefault(name, os.environ.get(name))
    os.environ[name] = value


def start_spark(ws: Workspace):
    """Start the engine's session on ``local[<cores>]`` with all temp
    output inside the workspace. Returns (spark, seconds taken)."""
    t0 = time.perf_counter()
    tmp = ws.path("tmp")
    _setenv("TMPDIR", tmp)
    _setenv("SPARK_GRAFT_CPUS", str(cpu_count()))
    _setenv("SPARK_LOCAL_DIRS", ws.path("spark-local"))
    # Spark's Python workers import the engine package from the checkout
    paths = [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    _setenv("PYTHONPATH", os.pathsep.join(paths))
    tempfile.tempdir = None  # re-read TMPDIR

    from pinot_pulsar_plugin_spark.session import get_spark

    # Every JVM, the spark-submit launcher included: temp files in the
    # workspace, and no hsperfdata file, which HotSpot always puts in /tmp.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    _setenv("JAVA_TOOL_OPTIONS", " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), jvm_opts))))
    java_opts = f"-Duser.timezone=UTC {jvm_opts}"
    spark = get_spark(
        "perfbench",
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": ws.path("spark-local"),
            "spark.sql.warehouse.dir": ws.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
        },
    )
    took = time.perf_counter() - t0
    log(f"session started in {took:.2f} s")
    return spark, took


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and restore the environment.
    ``SparkSession.stop`` leaves the JVM running until this process
    exits; the JVM ends when its stdin closes, so close it and wait for
    the JVM to be gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        for name, value in _SAVED_ENV.items():
            if value is None:
                os.environ.pop(name, None)
            else:
                os.environ[name] = value
        _SAVED_ENV.clear()
        tempfile.tempdir = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own
    parent ends (the JVM's launcher, Spark's Python workers), so that
    ``end_children`` can wait for all of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def end_children(grace: float = 20.0) -> None:
    """Wait until this process has no child left, reaping each. A child
    still running after ``grace`` seconds gets SIGTERM, and SIGKILL
    five seconds later."""
    t0 = time.monotonic()
    sent = None
    while True:
        while True:  # reap every child that has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > grace + 5 else signal.SIGTERM if waited > grace else None
        if sig is not None and sig != sent:
            log(f"stopping {len(kids)} leftover child processes with {sig.name}")
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def report(res: Result, trace: bool, throughput: float, latencies: list[float]) -> None:
    """End-to-end metrics; a traced run reports them under ``traced.``."""
    pre = "traced." if trace else ""
    res.put(pre + "throughput_per_s", throughput, "1/s")
    res.put(pre + "latency_p50_s", quantile(latencies, 0.5), "s")
    if not trace:
        res.put("latency_p90_s", quantile(latencies, 0.9), "s")


_T0 = time.perf_counter()


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat:
    time this machine's CPUs were ready to run but served another guest."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)
