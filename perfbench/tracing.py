"""In-memory spans around the benchmark's own calls into each layer,
method wrappers for the traced process, and Spark event-log counters
attributed to the span in which each job was submitted.

A span records name, start, end, parent and run id. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str, within: list[dict] | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those whose interval
        lies inside one of ``within``."""
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if any(_inside(s, w) for w in within)]
        return out

    def total(self, name: str, within: list[dict] | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, within))

    def self_time(self, name: str, child: str, within: list[dict] | None = None) -> float:
        """Total time of ``name`` spans minus the part their ``child``
        spans cover."""
        spans = self.named(name, within)
        return self.total(name, within) - self.total(child, spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def _inside(s: dict, w: dict) -> bool:
    return w["start"] <= s["start"] and s["end"] <= w["end"]


def wrap(tracer: Tracer, owner, attr: str, span_name: str):
    """Replace ``owner.attr`` with a version that records a span around
    each call; returns the function that restores the original."""
    had_own = attr in vars(owner)
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(owner, attr, traced)

    def restore() -> None:
        if had_own:
            setattr(owner, attr, orig)
        else:
            delattr(owner, attr)

    return restore


# -- Spark event log ------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job from the event log(s) under ``log_dir``:
    submission time (s), task count, summed executor run time and GC
    time (s), shuffle-write and spill bytes, and per-stage task run
    times for skew."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # a rolling (v2) log is a directory of events_<n>_<app> files
    files = sorted(
        (os.path.join(d, fn) for d, _, fns in os.walk(log_dir) for fn in fns),
        key=lambda p: [int(t) if t.isdigit() else t for t in os.path.basename(p).split("_")],
    )
    for path in files:
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "job_id": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "tasks": 0,
                        "task_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                        "stage_task_s": {},
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    run_s = tm.get("Executor Run Time", 0) / 1000.0
                    job["tasks"] += 1
                    job["task_s"] += run_s
                    job["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    job["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    job["stage_task_s"].setdefault(ev["Stage ID"], []).append(run_s)
    return sorted(jobs.values(), key=lambda j: j["job_id"])


def jobs_in(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs submitted while one of ``spans`` was open (each job once)."""
    return [j for j in jobs if any(s["start"] <= j["submit"] <= s["end"] for s in spans)]


def job_totals(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_s": sum(j["task_s"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
    }


def heaviest_stage_skew(jobs: list[dict]) -> float:
    """max / median task run time of the stage with the most summed
    task time among ``jobs`` (the politeness stage, for fetch spans)."""
    stages = [ts for j in jobs for ts in j["stage_task_s"].values()]
    if not stages:
        return 0.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 0.0
