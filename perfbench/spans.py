"""Spans recorded from the benchmark's own files, and the Spark event
log parsed into per-span counters.

A span is opened around each call into a layer's public function
(``Tracer.span``, or ``Tracer.wrap`` which substitutes a timing
wrapper for a module attribute for the traced run only). Spans are
kept in memory and written as JSON when the run ends. Spans opened on
the main thread also set the Spark job group to the span id; jobs
started elsewhere (the streaming query thread runs ``foreachBatch``)
are given to the innermost span whose interval holds their submission
time.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._patched: list[tuple] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "id": f"{self.run_id}.{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "attrs": attrs,
        }
        on_main = stack is self._main_stack
        if on_main:
            self.sc.setJobGroup(rec["id"], name)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if on_main:
                if stack:
                    self.sc.setJobGroup(stack[-1]["id"], stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Time every call of ``owner.attr`` as a span until ``unwrap``;
        ``attrs_of(*args, **kwargs)`` gives the span's attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with self.span(name, **(attrs_of(*args, **kwargs) if attrs_of else {})):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, timed)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str, **attrs) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and all(s["attrs"].get(k) == v for k, v in attrs.items())
        ]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


class NullTracer:
    """The untraced run: spans cost nothing and nothing is patched."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class EventLog:
    """Jobs, tasks and streaming progress read from one event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.progress: list[dict] = []
        stage_job: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
                        "stage_tasks": {},
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["failed_tasks"] += bool(info.get("Failed"))
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    job["stage_tasks"].setdefault(ev["Stage ID"], []).append(
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    )
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    self.progress.append(ev["progress"])
        for job in self.jobs.values():
            if job["end"] is None:
                job["end"] = job["start"]

    def attribute(self, tracer: Tracer) -> None:
        """Give each job to a span and fill every span's counters:
        self counts (``self_*``) and inclusive counts over its subtree,
        ``self_s`` (span minus its children's cover) and ``driver_s``
        (span time during which no Spark job ran)."""
        by_id = {s["id"]: s for s in tracer.spans}
        kids: dict[str, list] = {}
        own: dict[str, list] = {s["id"]: [] for s in tracer.spans}
        for s in tracer.spans:
            kids.setdefault(s["parent"], []).append(s)
        for job in self.jobs.values():
            owner = by_id.get(job["group"])
            if owner is None:
                holding = [s for s in tracer.spans if s["start"] <= job["start"] <= s["end"]]
                owner = max(holding, key=lambda s: s["start"]) if holding else None
            if owner is not None:
                own[owner["id"]].append(job)
        job_iv = [(j["start"], j["end"]) for j in self.jobs.values()]

        def subtree_jobs(s):
            out = list(own[s["id"]])
            for c in kids.get(s["id"], []):
                out.extend(subtree_jobs(c))
            return out

        for s in tracer.spans:
            lo, hi = s["start"], s["end"]
            dur = hi - lo
            child_iv = _clip([(c["start"], c["end"]) for c in kids.get(s["id"], [])], lo, hi)
            jobs = subtree_jobs(s)
            s.update(
                dur_s=dur,
                self_s=dur - _union_len(child_iv),
                driver_s=dur - _union_len(_clip(job_iv, lo, hi)),
                self_jobs=len(own[s["id"]]),
                jobs=len(jobs),
                tasks=sum(j["tasks"] for j in jobs),
                failed_tasks=sum(j["failed_tasks"] for j in jobs),
                shuffle_mb=sum(j["shuffle_bytes"] for j in jobs) / 1e6,
                spill_mb=sum(j["spill_bytes"] for j in jobs) / 1e6,
                task_skew=_task_skew(jobs),
            )


def _task_skew(jobs: list[dict]) -> float:
    """Task-time-weighted mean over stages (2+ tasks) of max / median
    task time: 1.0 is perfectly even work."""
    num = den = 0.0
    for job in jobs:
        for times in job["stage_tasks"].values():
            med = statistics.median(times) if len(times) >= 2 else 0.0
            if med > 0:
                w = sum(times)
                num += w * max(times) / med
                den += w
    return num / den if den else 0.0


def dump(tracer: Tracer, path: str, extra: dict) -> None:
    with open(path, "w") as f:
        json.dump({"run": tracer.run_id, **extra, "spans": tracer.spans}, f, indent=1, default=str)
