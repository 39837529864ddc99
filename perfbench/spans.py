"""Spans, layer self time, percentiles and Spark event-log parsing.

Spans are recorded around calls into the engine by wrapping module and
class attributes from the benchmark's side (``Tracer.wrap``); the engine
itself is not edited. A span is a dict ``{id, parent, req, name, t0, t1,
...counters}`` with wall-clock seconds, kept in memory and written out
when the run ends. Spans opened while another span is open on the same
thread become its children; a span opened with no parent starts a new
request id, which its descendants share.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict


def tail_percentile(values: list[float], beyond: int = 10):
    """-> (p, value, n) for the highest percentile that leaves ``beyond``
    samples above its nearest rank: p = 100 * (n - beyond) / n. None when
    there are no more than ``beyond`` samples."""
    n = len(values)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, sorted(values)[n - beyond - 1], n


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> self time: the span's duration minus the part of its
    interval covered by its children (children clipped to the parent,
    overlapping children counted once)."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        t0, t1 = s["t0"], s["t1"]
        cover = [
            (max(t0, c["t0"]), min(t1, c["t1"]))
            for c in kids[s["id"]]
            if c["t1"] > t0 and c["t0"] < t1
        ]
        out[s["id"]] = (t1 - t0) - _covered(cover)
    return out


class Tracer:
    """In-memory span recorder with attribute wrapping."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "req": parent["req"] if parent else sid,
            "name": name,
            "t0": time.time(),
            **attrs,
        }
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, hook=None) -> None:
        """Replace ``owner.attr`` with a version that records a span per
        call. ``hook(span, args, kwargs, result)`` may add counters to the
        span after the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                result = orig(*args, **kwargs)
                if hook is not None:
                    hook(span, args, kwargs, result)
                return result
            finally:
                tracer.close(span)

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            json.dump(spans, f)


# ---------------------------------------------------------------- Spark


_PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_start_s",
}


def _event_lines(evlog_dir: str):
    """Events of every log under the directory; Spark 4 writes each
    application's log as a directory of rolled ``events_*`` files."""
    paths = glob.glob(os.path.join(evlog_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def spark_spans(evlog_dir: str, first_id: int) -> list[dict]:
    """Job and stage spans from an uncompressed Spark event log.

    Each stage span carries its task metrics summed over tasks
    (``run_s``, ``cpu_s``, ``gc_s``, ``python_s``, ``python_start_s``,
    ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``spill_bytes``,
    ``input_bytes``, ``tasks``) and ``skew`` = max over median task
    duration. Jobs get their parent
    later (``attach``)."""
    jobs: dict[int, dict] = {}
    stage_of_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    task_durs: dict[int, list] = defaultdict(list)
    sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in _event_lines(evlog_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"t0": ev["Submission Time"] / 1000.0, "job": jid}
            for sid in ev.get("Stage IDs", []):
                stage_of_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                stages[si["Stage ID"]] = {
                    "t0": si["Submission Time"] / 1000.0,
                    "t1": si["Completion Time"] / 1000.0,
                    "stage": si["Stage ID"],
                    "label": si["Stage Name"].split("\n")[0][:60],
                }
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            task_durs[sid].append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
            s = sums[sid]
            s["tasks"] += 1
            s["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            s["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            s["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in ti.get("Accumulables") or []:
                # Python worker SQL metrics (PythonSQLMetrics), in ms
                key = _PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    s[key] += float(acc.get("Update") or 0) / 1000.0
    ids = itertools.count(first_id)
    out = []
    job_span = {}
    for jid, j in sorted(jobs.items()):
        if "t1" not in j:
            continue
        span = {"id": next(ids), "parent": None, "req": None, "name": "spark.job", **j}
        job_span[jid] = span
        out.append(span)
    for sid, st in sorted(stages.items()):
        jid = stage_of_job.get(sid)
        if jid not in job_span:
            continue
        durs = sorted(task_durs[sid])
        skew = durs[-1] / max(1, statistics.median(durs)) if durs else 0.0
        out.append({
            "id": next(ids), "parent": job_span[jid]["id"],
            "req": None, "name": "spark.stage", **st,
            **{k: v for k, v in sums[sid].items()}, "skew": skew,
        })
    return out


def attach(spark_spans_: list[dict], spans: list[dict]) -> None:
    """Parent each Spark job span to the innermost traced call whose
    interval contains the job's submission time (event-log times have
    millisecond resolution), and give its stages the same request id."""
    by_id = {s["id"]: s for s in spark_spans_}
    ordered = sorted(spans, key=lambda s: s["t0"])
    for s in spark_spans_:
        if s["name"] != "spark.job":
            continue
        best = None
        for c in ordered:
            if c["t0"] - 0.001 <= s["t0"] <= c["t1"] + 0.001:
                if best is None or c["t0"] >= best["t0"]:
                    best = c
        if best is not None:
            s["parent"], s["req"] = best["id"], best["req"]
    for s in spark_spans_:
        if s["name"] == "spark.stage":
            s["req"] = by_id[s["parent"]]["req"]


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids[todo.pop()]:
            out.append(c)
            todo.append(c["id"])
    return out
