"""Spans around the program's public functions, and a Spark job ledger.

The program is not modified: :meth:`Tracer.wrap` replaces a public function
or method with a wrapper for the life of one traced run. The program looks
these names up at call time (methods, and module functions it imports
inside the calling function), so the wrapper is what runs. Each span opened on
the driver's main thread sets the Spark job group to its own id, so the
event log (``spark.eventLog.enabled``) ties every job to the innermost span
that submitted it. Jobs without a group (the merge pass submits them from a
thread pool, which does not inherit the group) go to the innermost
main-thread span open at their submission time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Collects spans in memory; :meth:`close` restores every wrapped name."""

    def __init__(self, spark=None):
        self._sc = spark.sparkContext if spark is not None else None
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.enabled = False

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the body. Yields the span record, whose
        ``attrs`` dict the caller may fill in."""
        if not self.enabled:
            yield {"attrs": {}}
            return
        stack = self._stack()
        on_main = stack is self._main_stack
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "main": on_main,
            "start": time.time(),
            "attrs": {},
        }
        stack.append(rec)
        if on_main and self._sc is not None:
            prev = self._sc.getLocalProperty(_GROUP)
            self._sc.setLocalProperty(_GROUP, str(rec["id"]))
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.time()
            stack.pop()
            if on_main and self._sc is not None:
                self._sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a class or module) with a spanned wrapper.
        ``on_result(attrs, args, kwargs, result)`` records counts from the
        call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None and self.enabled:
                    on_result(rec["attrs"], args, kwargs, result)
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        self.enabled = False
        for holder, attr, orig in reversed(self._patches):
            setattr(holder, attr, orig)
        self._patches.clear()


# ---------------------------------------------------------------------------
# interval helpers


def union_length(intervals) -> float:
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---------------------------------------------------------------------------
# event log


def read_event_log(path: str) -> list[dict]:
    """Jobs from one Spark event log, each with its stages' task totals:
    ``{id, group, submit, end, stages: [{id, tasks, run_s, task_s: [...],
    shuffle_write, shuffle_read, records_read}]}``. A stage belongs to the
    first job that lists it (later jobs that list it skip it)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "group": props.get(_GROUP),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    ev["Stage ID"],
                    {"id": ev["Stage ID"], "tasks": 0, "run_s": 0.0, "task_s": [],
                     "shuffle_write": 0, "shuffle_read": 0, "records_read": 0},
                )
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["task_s"].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].append(st)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
    return sorted(jobs.values(), key=lambda j: j["id"])


def find_event_log(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])


class Ledger:
    """Spans joined with the jobs they submitted."""

    def __init__(self, spans: list[dict], jobs: list[dict]):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] in self.spans:
                self.children[s["parent"]].append(s)
        main = sorted((s for s in spans if s["main"]), key=lambda s: s["start"])
        self.own_jobs: dict[int, list[dict]] = defaultdict(list)
        for job in jobs:
            sid = int(job["group"]) if job["group"] and job["group"].isdigit() else None
            if sid not in self.spans:
                # innermost main-thread span open at submission: the latest
                # started among those that contain the submission time
                open_ = [s for s in main if s["start"] <= job["submit"] <= s["end"]]
                sid = open_[-1]["id"] if open_ else None
            if sid is not None:
                self.own_jobs[sid].append(job)

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs_under(self, span: dict) -> list[dict]:
        return [j for s in self.descendants(span) for j in self.own_jobs.get(s["id"], [])]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans.values() if s["name"] == name]

    def has_ancestor(self, span: dict, name: str) -> bool:
        p = self.spans.get(span["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = self.spans.get(p["parent"])
        return False

    def self_s(self, span: dict) -> float:
        wall = span["end"] - span["start"]
        kids = [(c["start"], c["end"]) for c in self.children.get(span["id"], [])]
        return wall - union_length(clip(kids, span["start"], span["end"]))

    def driver_gap_s(self, span: dict) -> float:
        """Span wall time not covered by any job it submitted."""
        iv = [(j["submit"], j["end"]) for j in self.jobs_under(span)]
        return (span["end"] - span["start"]) - union_length(clip(iv, span["start"], span["end"]))


def spark_totals(jobs: list[dict]) -> dict:
    """Job/stage/task totals and skew (max ÷ median task time on the
    longest stage, by summed task time) over a set of jobs."""
    stages = [st for j in jobs for st in j["stages"]]
    longest = max(stages, key=lambda st: sum(st["task_s"]), default=None)
    skew = 0.0
    if longest is not None and longest["task_s"]:
        med = statistics.median(longest["task_s"])
        skew = max(longest["task_s"]) / med if med > 0 else 1.0
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "executor_run_s": sum(st["run_s"] for st in stages),
        "shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
        "shuffle_read_bytes": sum(st["shuffle_read"] for st in stages),
        "records_read": sum(st["records_read"] for st in stages),
        "task_skew": skew,
    }
