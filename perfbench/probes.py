"""Measurement helpers that sit outside the program: a ``/proc`` process-tree
RSS sampler, an in-memory span recorder, and Spark job-group counters."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after the last ')'
        out[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    found, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), ()):
            found.append(child)
            stack.append(child)
    return found


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    Python, the JVM, Python workers), sampled on one background thread at a
    fixed interval, only inside ``with sampler.active():`` blocks."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    @contextlib.contextmanager
    def active(self):
        self._stop.clear()
        thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        thread.start()
        try:
            yield
        finally:
            self._stop.set()
            thread.join()


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    out once, when the run ends."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def durations(self, name: str) -> list[float]:
        return [self.duration(s) for s in self.spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part its children cover, summed per layer
        (the span name's prefix up to the first dot)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + self.duration(s)
        totals: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = self.duration(s) - child_time.get(s["id"], 0.0)
            totals[layer] = totals.get(layer, 0.0) + own
        return totals

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


class JobGroups:
    """Run each phase under its own Spark job group and read its job, stage,
    task and failed-task counts back from ``statusTracker``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.prefix = f"perfbench-{run_id}"
        self._n = 0

    @contextlib.contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"{self.prefix}-{self._n}-{name}"
        self.sc.setJobGroup(gid, name, False)
        try:
            yield gid
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)

    def counts(self, gid: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:  # skipped stage (its shuffle output was reused)
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def run_and_count_exchange_bytes(df) -> int:
    """Execute ``df``'s own physical plan, discarding its rows (like the
    noop sink), then sum the ``dataSize`` metric of every shuffle exchange
    in the executed plan, adaptive query stages included."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        if "QueryStage" in node.nodeName():
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if node.nodeName().endswith("Exchange") and metrics.contains("dataSize"):
            total += int(metrics.apply("dataSize").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total
