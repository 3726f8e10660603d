"""Run context shared by the workloads: Spark session lifecycle,
operation and check accounting, process-level measurements."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import time

from tracing import Tracer


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters from /proc/stat (user,
    nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings: other tenants slowing this run down."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of a process, from /proc (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while listing
        if ppid == pid:
            out.append(int(d))
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


TAIL_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)


def tail(values, n_min: int | None = None) -> tuple[float, float, int]:
    """(percentile, value, n): the highest ladder percentile with at
    least ten samples beyond it. ``n_min``, the sample count every run
    is sure to reach, picks the percentile, so that runs with more
    samples still report the same one. Below twenty samples no ladder
    percentile has ten beyond it, and the tail is the maximum
    (percentile 100)."""
    n = len(values)
    base = n if n_min is None else min(n, n_min)
    for q in TAIL_LADDER:
        if base * (100.0 - q) / 100.0 >= 10:
            return q, percentile(values, q), n
    return 100.0, max(values), n


class Failed(Exception):
    """An operation or output check failed; the run is not correct."""


class Bench:
    def __init__(self, root: str, work: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}  # per-layer metrics (traced run)
        self.info: dict = {}  # run record extras, printed before the result
        self.spark = None
        self.setup_seconds: float | None = None  # the run's one cold set-up
        self.session_seconds: float | None = None  # its get_spark part
        self._t0 = time.perf_counter()
        self.info["phases_s"] = {}

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.info["phases_s"][phase] = round(time.perf_counter() - self._t0, 3)

    # -- accounting ------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str):
        """Count one operation of ``kind``; an exception fails it."""
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        try:
            yield
        except Exception as e:
            self.failed[kind] = self.failed.get(kind, 0) + 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}")
            raise

    def check(self, ok: bool, what: str) -> None:
        """An output check (run outside timed regions)."""
        self.attempted["check"] = self.attempted.get("check", 0) + 1
        if not ok:
            self.failed["check"] = self.failed.get("check", 0) + 1
            self.failures.append(f"check: {what}")

    # -- Spark -----------------------------------------------------------
    def session(self, app: str) -> float:
        """``get_spark`` plus source registration, as a user's process
        does: launches the JVM."""
        from ripple_server_spark.session import get_spark
        from ripple_server_spark.sources.datasource import RippleTopicDataSource

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", trace="setup"):
            self.spark = get_spark(app_name=f"perfbench-{app}")
            self.spark.dataSource.register(RippleTopicDataSource)
        dt = time.perf_counter() - t0
        self.session_seconds = dt
        self.tracer.bind(self.spark.sparkContext)
        return dt

    def setup_done(self, seconds: float) -> None:
        self.setup_seconds = seconds

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver Python plus the JVM."""
        pid = self.jvm_pid()
        return vm_hwm_mb() + (vm_hwm_mb(pid) if pid else 0.0)

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python
        workers to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        kids = children(proc.pid)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 15
        while kids and time.time() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.05)
        for k in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(k, signal.SIGKILL)
