"""Measurement helpers: latency percentiles, in-memory spans with self
time, Spark job/stage/task counts per op, and the CPU time and peak
memory of the engine's processes."""

from __future__ import annotations

import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks (NumPy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile that still has ``beyond`` samples
    above it in a run of ``n`` samples (90 needs 100 samples); 0 when
    even the median does not."""
    if n <= beyond:
        return 0
    return max(0, min(99, math.floor(100 * (1 - beyond / n))))


def median(values: list[float]) -> float:
    return percentile(values, 50) if values else 0.0


# --------------------------------------------------------------------
# spans
# --------------------------------------------------------------------


@dataclass
class Span:
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` is a no-op context manager.  Spans of one op
    share its ``op`` id; a span's parent is the span open around it.
    ``overhead_s`` accumulates the tracer's own bookkeeping time."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    overhead_s: float = 0.0
    op: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        s = Span(self.op, name, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - s.end

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append(value)

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its
        direct children cover."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s.name].append(s.end - s.start - child_time[i])
        return out

    def dump(self, path: str) -> None:
        """Write the spans as tab-separated lines (op, name, parent,
        start, end)."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(f"{s.op}\t{s.name}\t{s.parent}\t{s.start:.6f}\t{s.end:.6f}\n")


class SparkCounter:
    """Spark jobs, stages and tasks started by one op, from the status
    tracker: the job ids seen after the op minus those seen before it.
    Valid because the benchmark drives one op at a time."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._seen: set[int] = set()

    def _drain(self) -> None:
        # Job and stage events reach the status store through the
        # listener bus asynchronously; wait until it has caught up.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def start(self) -> None:
        self._drain()
        self._seen = set(self._tracker.getJobIdsForGroup(None))

    def stop(self) -> tuple[int, int, int, int]:
        """(jobs, stages, tasks completed, tasks failed) since start."""
        self._drain()
        new = set(self._tracker.getJobIdsForGroup(None)) - self._seen
        stages = tasks = failed = 0
        for jid in new:
            job = self._tracker.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return len(new), stages, tasks, failed


# --------------------------------------------------------------------
# memory
# --------------------------------------------------------------------

def descendants(root: int) -> dict[int, str]:
    """{pid: command line} of every live descendant of ``root``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    out = {}
    for pid in tree - {root}:
        try:
            with open(f"/proc/{pid}/cmdline") as f:
                out[pid] = f.read().replace("\0", " ")
        except OSError:
            pass
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_cpu(pid: int) -> float:
    """CPU seconds of a process (all its threads) and of the children
    it has reaped."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    utime, stime, cutime, cstime = stat[stat.rindex(")") + 2 :].split()[11:15]
    return (int(utime) + int(stime) + int(cutime) + int(cstime)) / _CLK_TCK


def engine_cpu(jvm: int) -> float:
    """CPU seconds used so far by the Spark JVM and every process it
    forked (the PySpark daemon and workers).  The PySpark client side
    runs in the caller's thread: add ``time.thread_time()`` for it."""
    total = _proc_cpu(jvm)
    for pid in descendants(jvm):
        try:
            total += _proc_cpu(pid)
        except OSError:  # exited since it was listed
            pass
    return total


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def engine_memory(jvm: int) -> int:
    """Proportional set size, in bytes, of the Spark JVM plus the
    PySpark daemon and workers it forks.  PSS splits pages a fork
    shares between the sharers, so forked workers count once; the
    JVM's short-lived helper processes (which share its address space
    until they exec) are left out."""
    workers = [p for p, cmd in descendants(jvm).items() if "pyspark" in cmd]
    return _pss(jvm) + sum(_pss(p) for p in workers)


class PeakMemory:
    """Samples the memory of a process tree (the Spark JVM and the
    Python workers it forks) every ``interval`` seconds on a background
    thread and keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, engine_memory(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, engine_memory(self.root_pid))
