"""In-memory spans and counters for the traced run, plus the Spark-side
counters (status tracker per op, event log parsed offline).

A span records (name, start, end, parent index, op id). Spans are opened
around calls into the program's layers — from the benchmark's own call
sites, or by ``Tracer.wrap`` patching a module attribute that the program
looks up at call time. Nothing is written until the run ends.

With tracing off, ``Tracer(enabled=False).span`` is a shared no-op context,
so the untraced run pays one attribute lookup per call site.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _NOOP

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a twin that opens a span while
        tracing is enabled. Undone by ``unwrap_all``."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self.patch(module, attr, wrapped)

    def patch(self, module, attr: str, replacement) -> None:
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Sum of each span name's self time over the spans of ``ops``:
        duration minus the part its child spans cover (children never
        overlap — one client, one thread)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, op in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if op in ops:
                out[name] += (t1 - t0) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")


def status_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``, from the
    live status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            # a stage skipped because its shuffle output was reused never
            # ran: its info reports zero completed tasks
            if st is not None and st.numCompletedTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks


def event_log_counts(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Shuffle bytes, spill bytes and task skew for the jobs whose job
    group is in ``groups``, parsed from the JSON event log."""
    stage_group: dict[int, str] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    read = write = spill = 0
    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    paths += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(ev["Stage ID"]) not in groups:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    task_ms[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
    skews = [
        max(ts) / max(statistics.median(ts), 1)
        for ts in task_ms.values()
        if len(ts) >= 2
    ]
    return {
        "spark.shuffle_read_bytes": read,
        "spark.shuffle_write_bytes": write,
        "spark.spill_bytes": spill,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }
