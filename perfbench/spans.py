"""Spans around the benchmark's calls into each layer, joined with Spark's
event log.

A span records name, phase, start, end, parent and pass id, and lives in
memory until the run writes it out.  While a span is open the calling
thread carries the span id as the Spark local property ``SPAN_PROPERTY``;
Spark copies local properties into every job and stage it submits from
that thread, so the event log names the span each job ran for.

Attribution never guesses across threads.  A job without the span
property goes to the streaming query that ran it when it carries
Spark's ``sql.streaming.queryId`` property and the benchmark recorded
that query; otherwise it is counted as ``unattributed`` on the pass
whose interval holds its submission time.  Jobs land there when they
are submitted from a thread no span reached: an operator's own worker
pool (``validate_primary_key_candidate_combinations`` runs its
validators on one) or a pipeline step's thread between spans.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "bdq.bench.span"
QUERY_PROPERTY = "sql.streaming.queryId"
UNATTRIBUTED = "unattributed"


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, sc, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.pass_id = None
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root = None
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, phase: str = "construct"):
        """Time the block as ``name``/``phase``; the parent is the
        enclosing span on this thread, else the pass's root span."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sid = next(self._ids)
        prev = self._sc.getLocalProperty(SPAN_PROPERTY)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self._sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "phase": phase, "parent": parent,
                    "pass": self.pass_id, "start": start, "end": end,
                })

    def record(self, name: str, phase: str, start: float, end: float, query=None) -> None:
        """Add a span timed by someone else (a pipeline step's node), as a
        child of the pass's root span; ``query`` is the id of the
        streaming query it ran, whose untagged jobs it then owns."""
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "id": next(self._ids), "name": name, "phase": phase,
                    "parent": self._root, "pass": self.pass_id, "start": start, "end": end,
                    "query": query,
                })

    @contextmanager
    def root(self, pass_id, name: str = "pass"):
        """The span of one whole pass; spans opened on other threads
        during it become its children."""
        self.pass_id = pass_id
        with self.span(name, "pass"):
            self._root = self._stack()[-1] if self.enabled else None
            try:
                yield
            finally:
                self._root = None


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task totals from every event-log file under
    ``log_dir`` (plain or rolled ``eventlog_v2_*`` layout, uncompressed)."""
    jobs, stages = {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        app = os.path.relpath(path, log_dir).split(os.sep)[0]  # ids are per application
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(app, ev["Job ID"])] = {
                        "time": ev["Submission Time"] / 1000.0,
                        "span": props.get(SPAN_PROPERTY),
                        "query": props.get(QUERY_PROPERTY),
                    }
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    st = stages.setdefault((app, info["Stage ID"]), _new_stage())
                    st["span"] = props.get(SPAN_PROPERTY)
                    st["query"] = props.get(QUERY_PROPERTY)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), _new_stage())
                    st["time"] = (info.get("Submission Time") or 0) / 1000.0
                    st["completed"] = True
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]), _new_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {"jobs": jobs, "stages": stages}


def union_length(intervals, lo=float("-inf"), hi=float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
    total, last = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, last), min(end, hi)
        if end > start:
            total += end - start
            last = end
    return total


def _new_stage() -> dict:
    return {"span": None, "query": None, "time": None, "completed": False, "tasks": 0,
            "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}


def layer_totals(spans: list, log: dict) -> dict:
    """Per-pass, per-(layer, phase) wall, self time and Spark counters.

    A span's self time is its duration minus the union of its direct
    children's intervals.  Counters go to the span a job or stage is
    attributed to (see the module docstring), or to ``unattributed``;
    the ``spark.*`` totals count everything the log holds for measured
    passes.
    """
    by_id = {s["id"]: s for s in spans}
    by_query = {s["query"]: s for s in spans if s.get("query")}
    roots = [s for s in spans if s["phase"] == "pass"]
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def owner(ev):
        """(pass id, layer, phase) a job or stage is counted under."""
        span = by_id.get(int(ev["span"])) if ev["span"] is not None else None
        span = span or by_query.get(ev["query"])
        if span is not None:
            return span["pass"], span["name"], span["phase"]
        for root in roots:
            if ev["time"] is not None and root["start"] <= ev["time"] <= root["end"]:
                return root["pass"], UNATTRIBUTED, "construct"
        return None

    out: dict = defaultdict(lambda: defaultdict(float))
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children[s["id"]]]
        dur = s["end"] - s["start"]
        key = (s["pass"], s["name"], s["phase"])
        out[key]["wall_ms"] += dur * 1000
        out[key]["self_ms"] += (dur - union_length(kids, s["start"], s["end"])) * 1000

    spark = defaultdict(lambda: defaultdict(float))
    for job in log["jobs"].values():
        key = owner(job)
        if key is None:
            continue
        out[key]["jobs"] += 1
        spark[key[0]]["jobs"] += 1
    for st in log["stages"].values():
        if not st["completed"]:
            continue
        key = owner(st)
        if key is None:
            continue
        out[key]["stages"] += 1
        out[key]["cpu_ms"] += st["cpu_ns"] / 1e6
        out[key]["shuffle_write_bytes"] += st["shuffle_write_bytes"]
        out[key]["spill_bytes"] += st["spill_bytes"]
        spark[key[0]]["tasks"] += st["tasks"]
        spark[key[0]]["gc_ms"] += st["gc_ms"]
        spark[key[0]]["cpu_ms"] += st["cpu_ns"] / 1e6
    return {"layers": out, "spark": spark}


def per_pass_median(totals: dict, passes: list, key_fn) -> dict:
    """Median over ``passes`` of each ``key_fn(name, phase, metric)``
    total; a name absent from a pass counts as 0 on it."""
    per_pass = defaultdict(lambda: defaultdict(float))
    for (pid, name, phase), metrics in totals["layers"].items():
        if pid not in passes:
            continue
        for metric, value in metrics.items():
            key = key_fn(name, phase, metric)
            if key is not None:
                per_pass[key][pid] += value
    for pid in passes:
        for metric, value in totals["spark"].get(pid, {}).items():
            per_pass[f"spark.{metric}"][pid] += value
    return {
        key: statistics.median([vals.get(p, 0.0) for p in passes])
        for key, vals in per_pass.items()
    }
