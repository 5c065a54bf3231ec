"""Tracing for the benchmark: spans, self time, the ledger check, a
process-tree RSS sampler, and readers for Spark's live status store.

Spans are recorded from the benchmark's own files around calls into
each layer's public functions; the program itself is not instrumented.
They stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from typing import Callable, NamedTuple


class Span(NamedTuple):
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None at the top
    run_id: str
    cpu: float = 0.0  # CPU the JVM driver thread serving this process used, with a cpu clock


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing, so
    untraced passes run the same code without the bookkeeping."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.cpu_clock: Callable[[], float] | None = None
        self.clock_s = 0.0  # time spent reading cpu_clock: tracing overhead
        self._cpu0: dict[int, float] = {}
        # spans use perf_counter; this offset puts them on the wall clock
        # the JVM stamps its jobs with
        self.epoch = time.time() - time.perf_counter()

    def begin(self, name: str) -> int:
        """Open a span under the innermost open one; returns its index."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if self.cpu_clock:
            self._cpu0[idx] = self._read_cpu()
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        """Close span ``idx``, which must be the innermost open one."""
        if self._stack.pop() != idx:
            raise RuntimeError(f"span {self.spans[idx].name} closed out of order")
        end = time.perf_counter()
        cpu = self._read_cpu() - self._cpu0.pop(idx) if idx in self._cpu0 else 0.0
        self.spans[idx] = self.spans[idx]._replace(end=end, cpu=cpu)

    def _read_cpu(self) -> float:
        t0 = time.perf_counter()
        cpu = self.cpu_clock()
        self.clock_s += time.perf_counter() - t0
        return cpu

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def duration(self, idx: int) -> float:
        return self.spans[idx].end - self.spans[idx].start

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of the interval child spans cover."""
        return self.duration(idx) - sum(self.duration(c) for c in self.children(idx))

    def find(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.duration(i) for i in self.find(name))

    def ledger(self, idx: int) -> dict[str, float]:
        """Duration of each child span of span ``idx``, summed by name."""
        out: dict[str, float] = {}
        for c in self.children(idx):
            name = self.spans[c].name
            out[name] = out.get(name, 0.0) + self.duration(c)
        return out

    def spark_ledger(self, idx: int, intervals: list[tuple[float, float]],
                     slack: float = 0.002) -> dict[str, float]:
        """The pass ledger from the JVM's own clocks: for each child span
        of span ``idx`` (summed by name) that submits Spark work, the
        time its jobs and SQL executions cover (``intervals``,
        epoch-second ``(submitted, completed)`` pairs) plus the CPU the
        driver thread spent in the step (query planning comes before an
        execution starts; inside one the thread mostly waits); for a
        step that submits none, the span's duration.  Time that is in
        neither (Python-side work, waits outside Spark work) unbalances
        the ledger.  ``slack`` absorbs the JVM's millisecond
        truncation."""
        out: dict[str, float] = {}
        for c in self.children(idx):
            s = self.spans[c]
            lo, hi = s.start + self.epoch - slack, s.end + self.epoch
            inside = [iv for iv in intervals if lo <= iv[0] <= hi]
            part = covered(inside) + s.cpu if inside else s.end - s.start
            out[s.name] = out.get(s.name, 0.0) + part
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s._asdict()) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def ledger_balanced(parts: dict[str, float], wall: float, tol: float = 0.10) -> bool:
    """True when the ledger parts sum to within ``tol`` of the wall."""
    return wall > 0 and abs(sum(parts.values()) - wall) <= tol * wall


# ----------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread that keeps the peak of :func:`tree_rss_bytes`."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


# ------------------------------------------------------------ Spark stats

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE_RE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value.  Spark formats aggregated
    task metrics as ``total (min, med, max ...)\\n<total> (<min>, ...)``
    and single values as ``<value> <unit>``; times come back in seconds,
    sizes in bytes, sums as plain numbers."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(body.strip())
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusMark(NamedTuple):
    job: int
    stage: int
    execution: int


class SparkStats:
    """Reads finished jobs, stages, tasks and SQL metrics from the live
    status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._threads = self._jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self) -> list:
        store = self._sc.statusStore()
        empty = self._jvm.java.util.ArrayList()
        seq = store.stageList(empty, False, False, self._gw.new_array(self._jvm.double, 0), empty)
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self) -> list:
        seq = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> StatusMark:
        self._drain()
        jobs = self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        return StatusMark(
            max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1),
            max([s.stageId() for s in self._stages()], default=-1),
            max([e.executionId() for e in self._executions()], default=-1),
        )

    def intervals(self, start: StatusMark) -> list[tuple[float, float]]:
        """Epoch-second ``(submitted, completed)`` of every finished job
        and SQL execution after ``start``, as the JVM recorded them."""
        self._drain()
        out = []
        jobs = self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if (j.jobId() > start.job and j.submissionTime().isDefined()
                    and j.completionTime().isDefined()):
                out.append((j.submissionTime().get().getTime() / 1e3,
                            j.completionTime().get().getTime() / 1e3))
        for e in self._executions():
            if e.executionId() > start.execution and e.completionTime().isDefined():
                out.append((e.submissionTime() / 1e3, e.completionTime().get().getTime() / 1e3))
        return out

    def driver_cpu(self) -> float:
        """CPU seconds of the JVM thread that serves this Python thread's
        calls (PySpark pins one JVM thread to each Python thread)."""
        return self._threads.getCurrentThreadCpuTime() / 1e9

    def between(self, start: StatusMark, end: StatusMark | None = None) -> dict:
        """Totals over the jobs, stages and SQL executions after ``start``
        (and up to ``end``): task CPU, GC, shuffle and spill, task-time
        skew, and the Python-UDF metrics of the ArrowEvalPython nodes."""
        end = end or StatusMark(1 << 62, 1 << 62, 1 << 62)
        self._drain()
        store = self._sc.statusStore()
        jobs = store.jobsList(self._jvm.java.util.ArrayList())
        n_jobs = sum(1 for i in range(jobs.size())
                     if start.job < jobs.apply(i).jobId() <= end.job)
        out = {"spark_jobs": n_jobs, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        durations: list[float] = []
        for s in self._stages():
            if not start.stage < s.stageId() <= end.stage:
                continue
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tasks = store.taskList(s.stageId(), s.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durations.append(d.get() / 1e3)
        durations.sort()
        p50 = durations[len(durations) // 2] if durations else 0.0
        out["task_s_max_over_p50"] = durations[-1] / p50 if p50 > 0 else 0.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        udf = dict.fromkeys(_UDF_METRICS.values(), 0.0)
        for e in self._executions():
            if not start.execution < e.executionId() <= end.execution:
                continue
            values = sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            seen = set()  # each adaptive re-plan lists the metrics again
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = _UDF_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    udf[key] += parse_sql_metric(v.get())
        out.update(udf)
        return out


# ArrowEvalPython SQL metric names -> keys of SparkStats.between
_UDF_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
