"""Measurement helpers that observe the engine from outside: spans recorded
around calls into its public functions, exchange metrics read from an
executed plan, task statistics from Spark's status store, and the process
tree's resident memory from ``/proc``."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Spans:
    """In-memory span recorder: one list per run, written out at the end.

    A span is ``{name, start, end, parent, run_id}``; counts recorded at the
    same boundary go into ``counts`` under the span's name."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None)

    def add(self, name: str, start: float, end: float, parent: str | None) -> None:
        """Record a span measured elsewhere (e.g. on a worker thread)."""
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id})

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "counts": self.counts, **extra}, f, indent=1)


# -- executed-plan SQL metrics ------------------------------------------------
def _walk(node, into_cache: bool):
    """Nodes of an executed plan.  With ``into_cache`` the first in-memory
    scan is followed into the plan that filled the cache (the stage's own
    work); caches below it belong to earlier stages and are not entered."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan(), into_cache)
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan(), into_cache)
        return
    if cls == "InMemoryTableScanExec":
        if into_cache:
            yield from _walk(node.relation().cachedPlan(), False)
        return
    if cls == "ReusedExchangeExec":
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), into_cache)


def plan_metrics(df) -> list[tuple[str, str, dict[str, int]]]:
    """``(node class, node string, {metric: value})`` for every node of the
    executed plan of ``df`` (which must have been executed)."""
    out = []
    for node in _walk(df._jdf.queryExecution().executedPlan(), True):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = int(kv._2().value())
        out.append((node.getClass().getSimpleName(), node.simpleString(200), vals))
    return out


def shuffle_bytes(metrics) -> int:
    """Bytes written through every exchange of an executed plan."""
    return sum(v.get("shuffleBytesWritten", 0) for _, _, v in metrics)


# -- task statistics from the status store -------------------------------------
def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_ids(spark, jobs: list[int]) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    out = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.extend(info.stageIds)
    return sorted(set(out))


def task_shuffle_records(spark, stage_id: int) -> list[int]:
    """Shuffle records each task of a completed stage read (its last
    attempt), from the application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = store.taskList(stage_id, store.lastStageAttempt(stage_id).attemptId(), 100_000)
    out = []
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if not m.isEmpty():
            out.append(int(m.get().shuffleReadMetrics().recordsRead()))
    return out


def skew(values: list[int]) -> float:
    """max ÷ median of the non-empty values (1.0 when perfectly even)."""
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return max(vals) / statistics.median(vals)


# -- resident memory of this process tree --------------------------------------
def _pss_kb(pid: str) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_mem_kb(root: int) -> int:
    """Resident memory of ``root`` and its descendants.  Python workers are
    forked and share pages, so each counts its proportional share (PSS);
    the JVM, which shares nothing with them, counts its RSS, which is much
    cheaper to read than walking its multi-GB mappings for PSS."""
    children: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(d)
    total, todo = 0, [str(root)]
    while todo:
        p = todo.pop()
        todo.extend(children.get(int(p), []))
        try:
            with open(f"/proc/{p}/comm") as f:
                is_java = f.read().strip() == "java"
            if is_java:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            else:
                total += _pss_kb(p)
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_mem_kb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
