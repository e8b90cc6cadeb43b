"""Spans around the calls into each layer, and the fold of Spark's event log
into per-span and per-layer metrics.

A span records its layer, name, start, end, parent and the operation it
belongs to.  While tracing is on, a span also tags the Spark jobs it starts
with a job group named after the span, so the event log's task records can
be attributed to it.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GENERIC = ("wall_s", "task_s", "task_max_s", "gc_s", "shuffle_write_bytes",
           "spill_bytes", "failed_tasks", "self_s")


@dataclass
class Span:
    id: str
    layer: str
    name: str
    parent: str | None
    op: str
    start: float = 0.0     # epoch seconds, the clock of the event log
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans.  With ``sc`` (a SparkContext) each span is also a job
    group; without it spans only keep time, which is what untraced runs use."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ops = 0

    @contextmanager
    def span(self, layer: str, name: str = ""):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._ops += 1
        sp = Span(f"pb-{len(self.spans)}", layer, name or layer,
                  parent.id if parent else None,
                  parent.op if parent else f"op-{self._ops}")
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.id, f"{layer}:{sp.name}")
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, f"{parent.layer}:{parent.name}")
                else:
                    self.sc._jsc.clearJobGroup()

    def walls(self, layer: str, name: str | None = None) -> list[float]:
        return [s.wall for s in self.spans
                if s.layer == layer and (name is None or s.name == name)]

    def dump(self) -> list[dict]:
        kids = children(self.spans)
        return [{"id": s.id, "layer": s.layer, "name": s.name,
                 "parent": s.parent, "op": s.op, "start": s.start,
                 "end": s.end, "self_s": self_time(s, kids[s.id])}
                for s in self.spans]


def children(spans: list[Span]) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {s.id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, kids: list[Span]) -> float:
    """The span's wall time minus the part its children cover."""
    clipped = [(max(k.start, span.start), min(k.end, span.end)) for k in kids]
    return span.wall - union_length([(a, b) for a, b in clipped if b > a])


# --- event log -------------------------------------------------------------

def fold_event_log(lines) -> dict[int, dict]:
    """Spark event-log JSON lines -> per-job task metrics.

    Returns {job id: {"group", "submitted" (epoch s), "stages", "task_s",
    "task_max_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
    "failed_tasks"}}.  A stage's tasks count towards the first job that
    listed the stage.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                         "submitted": e["Submission Time"] / 1000.0,
                         "stages": set(), "task_s": 0.0, "task_max_s": 0.0,
                         "gc_s": 0.0, "shuffle_write_bytes": 0,
                         "spill_bytes": 0, "failed_tasks": 0}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid is None:
                continue
            j = jobs[jid]
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            j["stages"].add(e["Stage ID"])
            if info.get("Failed") or info.get("Killed"):
                j["failed_tasks"] += 1
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            j["task_max_s"] = max(j["task_max_s"], dur)
            j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return jobs


def attribute(spans: list[Span], jobs: dict[int, dict]) -> dict[str, list[int]]:
    """Span id -> the job ids it started.  A job carries its span's job
    group; a job started from another thread has no group, and goes to the
    innermost span open at its submission time."""
    ids = {s.id for s in spans}
    out: dict[str, list[int]] = {s.id: [] for s in spans}
    for jid, j in sorted(jobs.items()):
        sid = j["group"] if j["group"] in ids else None
        if sid is None:
            open_ = [s for s in spans if s.start <= j["submitted"] <= s.end]
            if open_:
                sid = max(open_, key=lambda s: s.start).id
        if sid is not None:
            out[sid].append(jid)
    return out


def layer_metrics(spans: list[Span], jobs: dict[int, dict],
                  layers: list[str]) -> dict[str, float]:
    """The eight generic metrics of every layer, named ``<layer>.<metric>``.
    A layer no span of this run entered reports zeros."""
    by_span = attribute(spans, jobs)
    kids = children(spans)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GENERIC, 0.0))
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        a = acc[s.layer]
        intervals[s.layer].append((s.start, s.end))
        a["self_s"] += self_time(s, kids[s.id])
        for jid in by_span[s.id]:
            j = jobs[jid]
            for k in ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                      "failed_tasks"):
                a[k] += j[k]
            a["task_max_s"] = max(a["task_max_s"], j["task_max_s"])
    out: dict[str, float] = {}
    for layer in layers:
        a = acc[layer]
        a["wall_s"] = union_length(intervals[layer])
        for k in GENERIC:
            out[f"{layer}.{k}"] = a[k]
    return out


def span_jobs(spans: list[Span], jobs: dict[int, dict]) -> dict[str, tuple[int, int]]:
    """Span id -> (jobs, stages) the span itself started."""
    by_span = attribute(spans, jobs)
    return {sid: (len(jids), len(set().union(*(jobs[j]["stages"] for j in jids))))
            for sid, jids in by_span.items()}
