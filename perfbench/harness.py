"""Spark session lifetime, call spans and small measurement helpers.

Spans are wall-clock intervals the benchmark records around each call into
the engine.  When a span set is bound to a SparkContext, every span also
tags the Spark jobs it launches with a job group named after the call, so
the event log of a traced pass can be cut per call (eventlog.py).

Each span also records the share of the machine's runnable CPU time that
the hypervisor gave to other guests meanwhile (``steal`` in /proc/stat).
It is printed next to each call's wall time as a diagnostic of host
contention; every metric is built from wall time alone.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

CPUS = 4
UNTIMED_GROUP = "untimed"


@dataclass
class Call:
    op: str
    call_id: str
    start: float        # epoch seconds, comparable with event-log times
    end: float
    wall_s: float
    requests: int
    steal: float = 0.0  # share of runnable CPU time stolen during the call
    extra: dict = field(default_factory=dict)


class Spans:
    def __init__(self, sc=None):
        self.sc = sc
        self.calls: list[Call] = []

    @contextmanager
    def span(self, op: str, requests: int = 1):
        call = Call(op, f"{op}#{len(self.calls)}", 0.0, 0.0, 0.0, requests)
        if self.sc is not None:
            self.sc.setJobGroup(call.call_id, op)
        cpu0 = cpu_times()
        call.start = time.time()
        p0 = time.perf_counter()
        try:
            yield call
        finally:
            call.wall_s = time.perf_counter() - p0
            call.steal = steal_frac(cpu0, cpu_times())
            call.end = call.start + call.wall_s
            if self.sc is not None:
                self.sc.setJobGroup(UNTIMED_GROUP, UNTIMED_GROUP)
            self.calls.append(call)

    def of(self, prefix: str) -> list[Call]:
        return [c for c in self.calls if c.op.startswith(prefix)]


def start_spark(work: Path, event_log: Path | None = None):
    """A local[4] session whose scratch files stay under ``work``.

    Returns (spark, seconds spent in get_spark)."""
    from full_text_index_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        # the JVM writes hsperfdata to /tmp unless perf data is off
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log is None:
        # a JVM launched with the event log on keeps it as a default
        conf["spark.eventLog.enabled"] = "false"
    else:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setJobGroup(UNTIMED_GROUP, UNTIMED_GROUP)
    return spark, time.perf_counter() - t0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the gateway JVM (and with it the Python workers it forked) and
    wait for it to exit.  The JVM ends when its stdin pipe closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)
                raise


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of runnable CPU time (busy + stolen; idle and iowait excluded)
    that the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    runnable = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / runnable if runnable > 0 else 0.0


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, int] | None:
    """The highest whole percentile with at least ten samples beyond it, and
    its value; None when there are fewer than 20 samples (no percentile
    above the median qualifies)."""
    n = len(xs)
    if n < 20:
        return None
    pct = int(100 * (n - 10) / n)
    ys = sorted(xs)
    return ys[max(0, min(n - 1, (pct * n + 99) // 100 - 1))], pct


def snapshot(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(parquet files, bytes) that are new or changed between snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    files = sum(p.endswith(".parquet") for p in changed)
    return files, sum(after[p][0] for p in changed)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


class PeakRss:
    """Peak resident set (VmHWM) of the JVM and of the Python processes it
    forks, polled from /proc on a thread while the traced pass runs."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root, self.period = root_pid, period
        self.jvm_kb = self.python_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.jvm_kb = max(self.jvm_kb, _vm_hwm_kb(self.root))
            stack = _children(self.root)
            while stack:
                pid = stack.pop()
                self.python_kb = max(self.python_kb, _vm_hwm_kb(pid))
                stack.extend(_children(pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
