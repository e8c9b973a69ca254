"""Measurement plumbing shared by the workloads: spans, Spark job
accounting, summary statistics and process-tree memory.

Nothing here reaches into the program. Spark is observed through its
public status surfaces: the DAG scheduler's job counter, the status store
that backs ``statusTracker``, and streaming ``recentProgress``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    pass_id: int


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span records name, layer, start, end, parent and pass id. With
    ``enabled`` false, ``span`` records nothing. The benchmark is a single
    closed-loop client, so one stack serves every thread: a streaming
    callback runs while the thread that started the stream waits, and its
    spans nest under the open stream span.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.pass_id = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, layer, time.time(), 0.0, parent, self.pass_id)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, layer: str, start: float, end: float, parent: int) -> None:
        """Record a span measured elsewhere (a Spark job, from the status
        store) as a child of ``parent``."""
        self.spans.append(Span(
            len(self.spans), name, layer, start, end, parent,
            self.spans[parent].pass_id,
        ))

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per pass: each layer's self time, a span's duration minus the
        part of it its children cover."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            out[sp.pass_id][sp.layer] += max(0.0, sp.end - sp.start - child[sp.sid])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)


# --------------------------------------------------------------- Spark jobs

@dataclass
class JobStat:
    jobs: int = 0
    tasks: int = 0


class JobMeter:
    """Counts the Spark jobs a call launched.

    ``mark()`` reads the DAG scheduler's next job id; the jobs of a call
    are the ids between the marks taken before and after it. Their task
    counts and times are read from the status store once the listener bus
    has drained, after the timed region.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001

    def mark(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def jobs(self, lo: int, hi: int) -> list[tuple[str, int, float, float]]:
        """(name, tasks, start, end) of jobs ``lo <= id < hi``."""
        if hi <= lo:
            return []
        self._sc.listenerBus().waitUntilEmpty(10_000)
        store = self._sc.statusStore()
        out = []
        for jid in range(lo, hi):
            try:
                jd = store.job(jid)
            except Exception:  # noqa: BLE001 - job evicted from the store
                continue
            sub = jd.submissionTime()
            end = jd.completionTime()
            t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            t1 = end.get().getTime() / 1000.0 if end.isDefined() else t0
            out.append((jd.name(), jd.numTasks(), t0, t1))
        return out

    def stat(self, lo: int, hi: int) -> JobStat:
        st = JobStat()
        for _, tasks, _, _ in self.jobs(lo, hi):
            st.jobs += 1
            st.tasks += tasks
        return st


# ------------------------------------------------------------------ steal

def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def unstolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of the CPU time this VM's work wanted between two
    ``cpu_jiffies`` readings that the hypervisor did not steal. On a
    shared host a timed interval is scaled by it, so another tenant's
    load does not read as the program's time; 1.0 where nothing is
    stolen (or steal is not reported)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


# --------------------------------------------------------------- statistics

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(min_samples: int) -> float:
    """The highest whole percentile with at least ten samples beyond it,
    for a run that guarantees ``min_samples`` samples. Fixing the level
    per workload (not per run) keeps it the same rank of the same units
    when a run fits one more pass than another."""
    return max(0.5, math.floor(100 * (min_samples - 10) / min_samples) / 100)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


# ------------------------------------------------------------------ memory

def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks from worker
    threads, whose children the main thread's list omits)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int | None = None) -> list[int]:
    """Live descendant pids of ``pid`` (default: this process)."""
    out, stack = [], _children(os.getpid() if pid is None else pid)
    while stack:
        child = stack.pop()
        out.append(child)
        stack.extend(_children(child))
    return out


def tree_pss_kb(root: int | None = None) -> int:
    """Resident memory of a process and all its live descendants (the
    Python driver, the JVM, its Python workers), as proportional set
    size: a page shared by several processes, such as a child forked
    from the JVM before it execs, counts once, not once per process."""
    root = os.getpid() if root is None else root
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb


class RssPeak:
    """Samples the process tree's resident memory every ``interval``
    seconds on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
