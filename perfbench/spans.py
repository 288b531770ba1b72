"""Spans around the engine's public calls, joined with Spark's event log.

A span records (name, start, end, parent, run id). While tracing, each span
also tags the Spark jobs it submits with a job group ``<run id>.<span id>``;
after the session stops, the event log's stage and task metrics are summed
per span through that group, so each layer is measured from outside without
changing the program. Jobs submitted from threads the engine starts carry no
group and are assigned to the innermost span open at their submission time.

A layer's self time is its spans' duration minus the time their child spans
cover. Every layer reports the same counters; see ``COMMON``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

LAYERS = (
    "session", "table_io", "extract", "graph_build", "pagerank", "checkpoint",
    "pagerank_csr", "search", "components", "labelprop", "triangles",
)
COMMON = (
    "self_s", "calls", "jobs", "tasks", "cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)
EXTRA = {
    "extract": ("pages_per_s", "python_mb_sent"),
    "graph_build": ("edges_in", "edges_kept_ratio", "cached_mb"),
    "pagerank": ("iterations", "s_per_iter", "init_s", "edge_visits_per_s"),
    "checkpoint": ("save_s", "written_mb", "recomputed_iterations"),
    "pagerank_csr": ("spill_s", "s_per_iter", "iterations"),
    "components": ("actions",),
    "labelprop": ("actions",),
}
MB = 1024.0 * 1024.0


def metric_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in COMMON + EXTRA.get(layer, ())]
    return names + ["trace.overhead_s"]


def unit(name: str) -> str:
    metric = name.split(".", 1)[1]
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_s") or metric == "s_per_iter":
        return "s"
    if metric.endswith(("_mb", "_mb_sent")):
        return "MB"
    if metric.endswith("_ratio"):
        return "ratio"
    return "count"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "info")

    def __init__(self, span_id: int, name: str, parent: int | None):
        self.id, self.name, self.parent = span_id, name, parent
        self.start = time.time()
        self.end = None
        self.info: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. With ``spark_context`` set, spans also tag
    the jobs they submit with a Spark job group."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.spark_context = None

    def group(self, span: Span) -> str:
        return f"{self.run_id}.{span.id}"

    def _tag(self, span: Span | None) -> None:
        sc = self.spark_context
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.group(span), span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name and s.end is not None)

    def self_time(self, span: Span) -> float:
        return span.duration - sum(
            c.duration for c in self.spans if c.parent == span.id and c.end is not None
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.info,
                }) + "\n")


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.end is not None and s.start <= t <= s.end:
            if best is None or s.start >= best.start:
                best = s
    return best


def read_event_log(path: str, tracer: Tracer) -> dict[int, dict]:
    """Per-span counters from one application's event log."""
    by_group = {tracer.group(s): s for s in tracer.spans}
    stage_span: dict[int, Span | None] = {}
    per: dict[int, dict] = {
        s.id: dict(jobs=0, tasks=0, cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
                   shuffle_read_mb=0.0, spill_mb=0.0, sql=0, python_mb_sent=0.0)
        for s in tracer.spans
    }

    def resolve(props: dict | None, t_ms: float) -> Span | None:
        group = (props or {}).get("spark.jobGroup.id")
        if group in by_group:
            return by_group[group]
        return _innermost(tracer.spans, t_ms / 1000.0)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                s = resolve(e.get("Properties"), e["Submission Time"])
                if s is not None:
                    per[s.id]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_span[info["Stage ID"]] = resolve(
                    e.get("Properties"), info.get("Submission Time") or 0
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                group = e.get("jobGroupId")
                s = by_group.get(group) if group else _innermost(tracer.spans, e["time"] / 1000.0)
                if s is not None:
                    per[s.id]["sql"] += 1
            elif kind == "SparkListenerTaskEnd":
                s = stage_span.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if s is None or not m:
                    continue
                c = per[s.id]
                c["tasks"] += 1
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                w = m.get("Shuffle Write Metrics", {})
                c["shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / MB
                r = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_mb"] += (
                    r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                ) / MB
                for acc in e.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") == "data sent to Python workers":
                        c["python_mb_sent"] += float(acc.get("Update", 0)) / MB
    return per


def layer_metrics(tracer: Tracer, per_span: dict[int, dict]) -> dict[str, float]:
    """COMMON counters summed per layer (0 for layers the run never called)."""
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in COMMON}
    for s in tracer.spans:
        if s.end is None or s.name not in LAYERS:
            continue
        c = per_span.get(s.id, {})
        out[f"{s.name}.self_s"] += tracer.self_time(s)
        out[f"{s.name}.calls"] += 1
        for m in COMMON[2:]:
            out[f"{s.name}.{m}"] += c.get(m, 0)
    return out


def find_event_log(directory: str) -> str:
    logs = [os.path.join(directory, n) for n in os.listdir(directory)
            if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {len(logs)}")
    return logs[0]
