"""Spans, Spark-side counters and memory sampling for the traced run.

Spans are recorded by the benchmark around its own calls into each
layer (nothing inside the package is instrumented), kept in memory and
written out once at the end. A stream trigger is rebuilt as a span
from its progress report (start timestamp and ``durationMs``), with one
child per phase.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

LAYERS = ("session", "sources", "operators", "reorder", "app")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op apart from the timing the caller asked for, so the untraced
    run does the same work minus the bookkeeping."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        t0 = time.time()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            if self.enabled:
                self.add(name, layer, t0, time.time(), parent=parent, sid=sid, **attrs)

    def add(self, name, layer, start, end, parent=None, sid=None, **attrs) -> int:
        sid = sid or next(self._ids)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "run": self.run_id,
                               "name": name, "layer": layer, "start": start,
                               "end": end, **attrs})
        return sid

    def add_trigger(self, progress: dict, layer: str = "reorder") -> None:
        """A trigger span from one progress report, with its phases as
        children laid end to end in the order the engine runs them."""
        d = progress.get("durationMs", {})
        start = parse_ts(progress["timestamp"])
        total = d.get("triggerExecution", 0) / 1000.0
        sid = self.add(f"trigger {progress['batchId']}", layer, start, start + total,
                       rows=progress.get("numInputRows", 0))
        t = start
        for phase, lay in (("latestOffset", "sources"), ("getBatch", "sources"),
                           ("queryPlanning", layer), ("walCommit", layer),
                           ("addBatch", layer), ("commitOffsets", layer)):
            dur = d.get(phase, 0) / 1000.0
            if dur:
                self.add(phase, lay, t, t + dur, parent=sid)
                t += dur

    def self_times(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["layer"] not in out:
                continue
            covered = _union(kids.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, f)


def _union(intervals, lo, hi) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def parse_ts(s: str) -> float:
    """Progress timestamps are ISO-8601 UTC with millisecond precision."""
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class JobCounter:
    """Jobs, tasks and failed tasks per Spark job group, read from the
    public ``statusTracker``. One group per benchmark call."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = itertools.count()

    @contextmanager
    def group(self, label: str, into: dict):
        if not self.enabled:
            yield
            return
        gid = f"perfbench-{next(self._n)}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count(gid, into)

    def _count(self, gid: str, into: dict) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        into["jobs"] = into.get("jobs", 0) + len(jobs)
        into["tasks"] = into.get("tasks", 0) + tasks
        into["failed_tasks"] = into.get("failed_tasks", 0) + failed


def _tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of the driver JVM and its Python workers,
    sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root = root_pid
        self.period = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
