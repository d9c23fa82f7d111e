"""Instruments the benchmark reads from outside the program.

- ``Tracer``: spans recorded around calls into each layer, kept in memory
  and written once at exit.
- ``RssSampler``: peak resident memory of this process tree (Python, the
  driver JVM, the PySpark workers), read from ``/proc``.
- ``HostProbe``: CPU steal share and load average over a run, so a run
  on a drifting host can be told apart from a program change.
- ``JobGroups``: Spark work counters per job group, read from Spark's own
  status store (works with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Nested spans on one thread. A span's self time is its duration
    minus the part of it that its child spans cover."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Span name -> summed self time over ``spans`` (default: all)."""
        spans = self.spans if spans is None else spans
        child = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent in child:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def since(self, mark: int) -> list[Span]:
        return self.spans[mark:]

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def proc_children() -> dict[int, list[int]]:
    """ppid -> child pids for every visible process."""
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every process below ``root``."""
    kids = proc_children()
    out, todo = [], [(k, root) for k in kids.get(root, [])]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((k, pid) for k in kids.get(pid, []))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def tree_rss() -> tuple[int, int]:
    """(RSS of this process and all its descendants, RSS of the PySpark
    worker processes among them), in bytes.

    A child of the JVM that still runs the JVM's executable is a spawn
    that has not yet exec'd: it shares the JVM's memory and would count
    the whole heap twice, so it is skipped."""
    me = os.getpid()
    total, workers = _rss_bytes(me), 0
    for pid, ppid in descendants(me):
        exe = _exe(pid)
        if exe is not None and exe == _exe(ppid) and os.path.basename(exe) == "java":
            continue
        rss = _rss_bytes(pid)
        total += rss
        if _is_pyworker(pid):
            workers += rss
    return total, workers


class RssSampler:
    """Samples ``tree_rss`` every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        total, workers = tree_rss()
        self.peak = max(self.peak, total)
        self.peak_workers = max(self.peak_workers, workers)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and end sampling; later calls do nothing."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostProbe:
    """CPU steal share and 1-minute load average between ``start`` and ``stop``."""

    def start(self) -> "HostProbe":
        self._t0, self._load0 = _cpu_times(), _loadavg()
        return self

    def stop(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta[:8]) or 1  # user nice system idle iowait irq softirq steal
        return {
            "steal_share": round(delta[7] / total, 5),
            "busy_share": round(1 - (delta[3] + delta[4]) / total, 5),
            "loadavg_1m_start": self._load0,
            "loadavg_1m_end": _loadavg(),
            "ncpu": os.cpu_count(),
        }


# Exec nodes that run Python code in the PySpark workers.
_PY_NODE = re.compile(
    r"\b(BatchEvalPython(?:UDTF)?|ArrowEvalPython(?:UDTF)?|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsIn(?:Pandas|Arrow)|FlatMapCoGroupsIn(?:Pandas|Arrow)|AggregateInPandas"
    r"|WindowInPandas|ArrowWindowPython|PythonUDTF)\b"
)


def python_nodes(plan: str) -> int:
    """Python-evaluation exec nodes in a physical plan's tree string."""
    return len(_PY_NODE.findall(plan))


WORK_KEYS = (
    "jobs", "stages", "tasks", "cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "task_max_ms", "task_median_ms",
)


class JobGroups:
    """Tags Spark jobs with job groups and sums their work afterwards.

    Groups nest: ``enter`` sets a fresh group on this thread and returns
    the previous one, which ``leave`` restores, so every job belongs to
    the innermost group open when it ran.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def enter(self, label: str) -> tuple[str, str | None]:
        self._n += 1
        gid = f"{label}#{self._n}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        return gid, prev

    def leave(self, prev: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", prev)

    @contextmanager
    def group(self, label: str):
        gid, prev = self.enter(label)
        try:
            yield gid
        finally:
            self.leave(prev)

    def settle(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def work(self, gid: str) -> dict[str, int]:
        """Summed work of the group's jobs; skipped stages ran no tasks."""
        out = dict.fromkeys(WORK_KEYS, 0)
        tracker, store = self.sc.statusTracker(), self.sc._jsc.sc().statusStore()
        quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for job in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["cpu_ms"] += sd.executorCpuTime() // 1_000_000
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    out["task_median_ms"] += int(run.apply(0))
                    out["task_max_ms"] += int(run.apply(1))
        return out
