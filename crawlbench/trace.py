"""Spans around the benchmark's calls into each engine layer, and the Spark
event-log aggregator that attributes executor work to them.

A span is named ``layer.call`` (``seen.probe``, ``round.run_round``),
carries the trace id ``workload/seed/round`` and the id of the span that
caused it. While a span is open, the Spark jobs the calling thread submits
carry its id as their job group (``SparkContext.setJobGroup``). Jobs
submitted from other threads (the round's concurrent state writes) carry
no group; they go to the innermost span whose interval contains the job's
submission time. Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder. ``spark_context`` may be None (no job
    tagging), which is how the unit tests drive it."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, trace_id,
                 parent.span_id if parent else None, time.time(),
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# --------------------------------------------------------------------------
# Event-log aggregation
# --------------------------------------------------------------------------

_EVENTS = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerTaskEnd")

AGG_KEYS = ("jobs", "tasks", "task_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "gc_s")


def read_event_log(path: str) -> list[dict]:
    """The job and task events of an uncompressed, non-rolling event log
    (``spark.eventLog.compress=false``). Lines of other event types are
    skipped before JSON parsing — stage and SQL events carry whole plans
    and dominate the file's size."""
    out = []
    with open(path) as f:
        for line in f:
            head = line[:64]
            if any(e in head for e in _EVENTS):
                out.append(json.loads(line))
    return out


def aggregate_jobs(events: list[dict]) -> dict[int, dict]:
    """Per job: group id, submission time (epoch s) and the summed task
    metrics of its stages — task time, shuffle read/write bytes, spill
    (memory + disk) and JVM GC time."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "submit": e["Submission Time"] / 1000.0,
                         "tasks": 0, "task_s": 0.0,
                         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                         "spill_bytes": 0, "gc_s": 0.0}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(e["Stage ID"])
        if jid is None:
            continue
        tm = e.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        j = jobs[jid]
        j["tasks"] += 1
        j["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
        j["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        j["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        j["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                             + tm.get("Disk Bytes Spilled", 0))
    return jobs


def attribute(spans: list[Span], jobs: dict[int, dict]) -> dict[str, dict]:
    """Sum job metrics per span, children included. A job goes to the
    span named by its group id, else to the innermost span whose
    interval contains its submission time; jobs outside every span are
    dropped."""
    own: dict[str, dict] = defaultdict(lambda: dict.fromkeys(AGG_KEYS, 0))
    by_id = {s.span_id: s for s in spans}
    for j in jobs.values():
        sid = j["group"] if j["group"] in by_id else None
        if sid is None:
            inside = [s for s in spans if s.end is not None
                      and s.start <= j["submit"] <= s.end]
            if not inside:
                continue
            sid = min(inside, key=lambda s: s.seconds).span_id
        acc = own[sid]
        acc["jobs"] += 1
        for k in AGG_KEYS[1:]:
            acc[k] += j[k]
    total = {s.span_id: dict.fromkeys(AGG_KEYS, 0) for s in spans}
    for s in spans:
        # roll this span's own work up to itself and every ancestor
        node: Span | None = s
        while node is not None:
            for k in AGG_KEYS:
                total[node.span_id][k] += own[s.span_id][k]
            node = by_id.get(node.parent) if node.parent else None
    return total


def write_spans(path: str, env: dict, spans: list[Span],
                totals: dict[str, dict]) -> None:
    """One JSON document: the run's environment and every span with its
    interval, parent, attributes and attributed Spark work."""
    doc = {
        "env": env,
        "spans": [
            {"span_id": s.span_id, "name": s.name, "trace_id": s.trace_id,
             "parent": s.parent, "start": s.start, "end": s.end,
             "seconds": s.seconds, "attrs": s.attrs,
             "spark": totals.get(s.span_id, dict.fromkeys(AGG_KEYS, 0))}
            for s in spans
        ],
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
