"""Benchmark-side spans and Spark event-log accounting.

Nothing here touches the program's code: spans are recorded by wrapping
the program's public entry points for the length of one traced run, and
each span that names a layer also tags the Spark jobs its thread launches
with a job group, so the event log can be split by layer afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """In-memory spans: name, start, end, parent, thread and job group.

    A disabled tracer records nothing and changes no job property, so the
    untraced runs execute exactly the program's own code path.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.prefix = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span; with ``group`` set, tag the jobs launched by
        this thread inside it as ``<prefix>|<group>``."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        prev = None
        if group is not None:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, f"{self.prefix}|{group}")
        rec = {
            "name": name,
            "prefix": self.prefix,
            "group": group or (parent["group"] if parent else None),
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev)

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until ``unwrap``.

        ``name_of(args, kwargs)`` gives ``(span name, job group or None)``,
        or ``None`` to call through without a span.
        """
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            named = name_of(args, kwargs)
            if named is None:
                return orig(*args, **kwargs)
            with tracer.span(named[0], group=named[1]):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def find(self, prefix: str, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["prefix"] == prefix and s["name"] == name and "end" in s]

    def busy(self, prefix: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.find(prefix, name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def overlap_s(a: tuple[float, float], bs: list[tuple[float, float]]) -> float:
    """Length of interval ``a`` covered by the union of intervals ``bs``."""
    covered, cur = 0.0, a[0]
    for s, e in sorted(bs):
        s, e = max(s, cur), min(e, a[1])
        if e > s:
            covered += e - s
            cur = e
    return covered


PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class EventLog:
    """Task, stage and job records parsed from Spark's JSON event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app>
        for path in glob.glob(os.path.join(log_dir, "**", "events_*"),
                              recursive=True):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.jobs[jid] = {
                "group": props.get(GROUP_KEY),
                "submitted": ev.get("Submission Time", 0) / 1000.0,
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            acc = defaultdict(int)
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RETURNED):
                    acc[a["Name"]] += int(a.get("Update") or 0)
            self.tasks.append({
                "stage": ev.get("Stage ID"),
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "py_sent": acc[PY_SENT],
                "py_returned": acc[PY_RETURNED],
            })

    def _job_of(self, task: dict) -> dict | None:
        jid = self.stage_job.get(task["stage"])
        return self.jobs.get(jid) if jid is not None else None

    def totals(self, group: str | None = None,
               window: tuple[float, float] | None = None) -> dict:
        """Sums over the tasks of jobs in ``group`` (exact match) or
        submitted inside ``window``; plus job/task counts and task skew."""

        def keep(job: dict | None) -> bool:
            if job is None:
                return False
            if group is not None and job["group"] != group:
                return False
            if window is not None and not (
                window[0] <= job["submitted"] <= window[1]
            ):
                return False
            return True

        tasks = [t for t in self.tasks if keep(self._job_of(t))]
        out = {k: sum(t[k] for t in tasks) for k in (
            "run_s", "cpu_s", "gc_s", "spill", "shuffle_write",
            "py_sent", "py_returned")}
        out["jobs"] = sum(1 for j in self.jobs.values() if keep(j))
        out["tasks"] = len(tasks)
        # run-time-weighted mean over stages of (max / median task time)
        by_stage = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t["run_s"])
        num = den = 0.0
        for times in by_stage.values():
            med = statistics.median(times)
            if len(times) >= 4 and med > 0:
                num += sum(times) * max(times) / med
                den += sum(times)
        out["skew"] = num / den if den else 1.0
        return out
