"""Plumbing shared by the workloads: a run's private directory and
environment, the Spark session, the timed closed loop, latency statistics
and the peak-RSS sampler."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: the machine shape every number is measured on: one driver, local[4]
CORES = 4
#: what a run needs from the checkout; without it there is nothing to measure
REQUIRED = ("rove_spark/__init__.py", "pipelines/transcripts_pt1m.toml")


def check_tree() -> None:
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        raise SystemExit(f"perfbench: {ROOT} is not a rove_spark checkout (missing {missing})")


def isolate(workload: str) -> Path:
    """Give the run a private directory inside the checkout and point every
    scratch location of Python, the JVM and Spark at it, so a run reads
    and writes nothing outside the checkout and leaves nothing behind."""
    work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True)
    os.environ.update(
        {
            "TMPDIR": str(work / "tmp"),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "ROVE_WAREHOUSE": str(work / "warehouse"),
            # the engine's default 16g heap is sized for big boxes; the
            # benchmark's inputs fit in far less and the host is shared
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = str(work / "tmp")
    os.chdir(work)
    return work


def start_spark(event_log: Path | None = None):
    """The engine's own session builder on local[4]; with ``event_log``
    Spark writes an uncompressed, unrolled JSON event log there (the
    ``zstandard`` module that would read Spark 4's default codec is absent)."""
    from rove_spark.session import get_spark

    conf = {}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    JVM exits when its stdin closes, and its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ------------------------------------------------- process accounting --


def _tree(root_pid: int) -> list[tuple[int, int]]:
    """(resident bytes, CPU ticks incl. reaped children) of ``root_pid`` and
    every descendant."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:
            continue  # exited while we looked
        fields = stat.rsplit(")", 1)[1].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        usage[pid] = (resident * page, sum(int(x) for x in fields[11:15]))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in usage:
            out.append(usage[pid])
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    return sum(rss for rss, _ in _tree(root_pid))


def _jit_ticks(pid: int) -> dict[int, int]:
    """Thread id → CPU ticks of a JVM's JIT compiler threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1 : stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and its Python workers), user and system."""
    return sum(ticks for _, ticks in _tree(os.getpid())) / os.sysconf("SC_CLK_TCK")


@dataclass
class CpuClock:
    """A reading of the process tree's CPU ticks and, apart, of the JVM's JIT
    compiler threads: their work is warm-up that a long-running engine pays
    once, and how much of it lands in a given operation varies from run to
    run. The JVM starts and stops compiler threads as the queue of methods
    to compile grows and shrinks, so they are tracked by thread id."""

    total: int
    jit: dict[int, int]

    @classmethod
    def read(cls) -> "CpuClock":
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        jit = _jit_ticks(proc.pid) if proc is not None else {}
        return cls(sum(t for _, t in _tree(os.getpid())), jit)

    def work_s_since(self, start: "CpuClock") -> float:
        """CPU seconds between two readings, the JIT compilers' left out. A
        compiler thread that exits in between takes its last ticks with it;
        they stay counted as work."""
        jit = sum(t - start.jit.get(tid, 0) for tid, t in self.jit.items())
        return (self.total - start.total - jit) / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot, out
    of the time this guest's CPUs were due (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class PeakRss:
    """Peak summed RSS of this process and all its descendants (the JVM and
    its Python workers), sampled on a daemon thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


# ------------------------------------------------------------- loops --


class Phases:
    """Wall and CPU seconds of each set-up phase."""

    def __init__(self):
        self.seconds: dict[str, tuple[float, float]] = {}

    @contextmanager
    def measure(self, name: str):
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = (time.perf_counter() - t0, tree_cpu_s() - cpu0)


@dataclass
class Sample:
    name: str
    ms: float
    ok: bool
    error: str = ""
    #: CPU seconds of the process tree during the operation, JIT compiler
    #: threads left out
    cpu_s: float = 0.0


@dataclass
class Loop:
    """Closed loop, one client: the next operation starts when the previous
    one has finished. Only the operations' own spans count as measured time;
    per-operation preparation and checks run between them, untimed."""

    seconds: float
    samples: list[Sample] = field(default_factory=list)

    @property
    def measured_s(self) -> float:
        return sum(s.ms for s in self.samples) / 1000.0

    def done(self) -> bool:
        return bool(self.samples) and self.measured_s >= self.seconds

    def run(self, name: str, op) -> None:
        """Time ``op()``; an exception is a failed operation, not a crash."""
        cpu0 = CpuClock.read()
        t0 = time.perf_counter()
        try:
            op()
            ok, error = True, ""
        except Exception:
            ok, error = False, traceback.format_exc(limit=4)
        ms = (time.perf_counter() - t0) * 1000.0
        cpu_s = CpuClock.read().work_s_since(cpu0)
        self.samples.append(Sample(name, ms, ok, error, cpu_s))

    def fail_last(self, why: str) -> None:
        """A completed operation whose output was wrong."""
        last = self.samples[-1]
        last.ok, last.error = False, why


def tail_rank(n: int) -> int:
    """0-based rank of the highest order statistic with at least ten samples
    beyond it; below 21 samples that rank would fall under the median, so
    the upper median is reported instead."""
    return max(n - 11, n // 2)


def latency_metrics(samples: list[Sample]) -> tuple[dict, dict]:
    """Wall-clock figures of the timed operations, and how the tail was taken."""
    ms = sorted(s.ms for s in samples)
    n = len(ms)
    k = tail_rank(n)
    metrics = {
        "latency_p50_ms": (statistics.median(ms), "ms"),
        "latency_tail_ms": (ms[k], "ms"),
        "requests_per_s": (n / (sum(ms) / 1000.0), "1/s"),
    }
    tail = {"percentile": round(100.0 * (k + 1) / n, 1), "samples": n, "beyond": n - 1 - k}
    return metrics, tail
