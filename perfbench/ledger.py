"""Traced runs: spans around each layer call, and the event-log ledger.

A span wraps one call into a layer's public function. While it is open
its jobs carry the span id as their Spark job group, and before it
closes the layer's returned DataFrames are forced (persist + count), so
a lazy layer's work lands in its own span rather than in whoever
consumes the result. Spans live in memory until the run ends.

The ledger reads the uncompressed Spark event log after the session
stops and charges every task to the span whose job group submitted its
stage. Self time is a span's wall time minus its child spans.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layer name -> public functions (module, attribute) the span wraps.
# ``pipeline`` is opened by the benchmark around ``run_pipeline`` itself.
LAYER_FUNCTIONS = {
    "extract": [("trianglecount_spark.functions.extract", "edges_from_pages")],
    "canonicalize": [
        ("trianglecount_spark.operators.canonicalize", "canonicalize_edges"),
        ("trianglecount_spark.operators.canonicalize", "canonicalize_edges_packed"),
    ],
    "orient": [("trianglecount_spark.operators.canonicalize", "orient")],
    "triangles": [("trianglecount_spark.operators.triangles", "triangle_count_arrays")],
    "pagerank": [("trianglecount_spark.operators.pagerank", "pagerank")],
    "components": [("trianglecount_spark.operators.components", "connected_components")],
    "lpa": [("trianglecount_spark.operators.lpa", "label_propagation")],
}
LAYERS = [*LAYER_FUNCTIONS, "pipeline"]
ITERATIVE = ("pagerank", "components", "lpa")

MB = float(1 << 20)


@dataclass
class Span:
    id: str
    layer: str
    parent: str | None
    job: int
    start: float
    end: float = 0.0
    rows_out: int = 0
    rounds: int = 0
    value: int = 0  # scalar result, e.g. the triangle total

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder for one session."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    job: int = 0
    _stack: list[Span] = field(default_factory=list)
    _pinned: list = field(default_factory=list)

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"j{self.job}:{layer}#{len(self.spans)}",
            layer=layer,
            parent=parent.id if parent else None,
            job=self.job,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, layer)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent.id if parent else "untraced", "")

    def _force(self, s: Span, out) -> None:
        from pyspark.sql import DataFrame

        from trianglecount_spark.operators.iterative import IterationLog

        items = out if isinstance(out, tuple) else (out,)
        first = True
        for item in items:
            if isinstance(item, DataFrame):
                item.persist()
                self._pinned.append(item)
                n = item.count()
                if first:
                    s.rows_out, first = n, False
            elif isinstance(item, IterationLog) and item.rounds:
                s.rounds = int(item.rounds[-1]["round"]) + 1
            elif isinstance(item, int):
                s.value, s.rows_out, first = item, 1, False

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            with self.span(layer) as s:
                out = fn(*args, **kwargs)
                self._force(s, out)
            return out

        return traced

    @contextmanager
    def patched(self):
        """Route every layer function through a span for the duration.
        Callers that look the functions up on their modules at call time
        (``run_pipeline`` imports them in its body) reach the wrappers."""
        saved = []
        for layer, targets in LAYER_FUNCTIONS.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self.wrap(layer, fn))
        try:
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist(blocking=True)
        self._pinned.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Task:
    stage: tuple[int, int]
    seconds: float
    failed: bool
    shuffle_write: int
    spill: int
    gc_ms: int
    bytes_written: int
    records_written: int


@dataclass
class EventLog:
    stage_group: dict = field(default_factory=dict)  # (stage, attempt) -> job group
    stage_wall: dict = field(default_factory=dict)  # (stage, attempt) -> seconds
    tasks: list[Task] = field(default_factory=list)


def parse_event_log(lines) -> EventLog:
    """Reads the events the ledger needs from an uncompressed event log
    (one JSON object per line)."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            props = ev.get("Properties") or {}
            log.stage_group[key] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                log.stage_wall[key] = (done - sub) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            out = m.get("Output Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            log.tasks.append(
                Task(
                    stage=(ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    seconds=(info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                    failed=bool(info.get("Failed")) or reason != "Success",
                    shuffle_write=int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    ),
                    spill=int(m.get("Disk Bytes Spilled", 0)),
                    gc_ms=int(m.get("JVM GC Time", 0)),
                    bytes_written=int(out.get("Bytes Written", 0)),
                    records_written=int(out.get("Records Written", 0)),
                )
            )
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)


def _span_self_seconds(spans: list[Span]) -> dict[str, float]:
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.seconds
    return {s.id: s.seconds - child.get(s.id, 0.0) for s in spans}


def job_ledger(spans: list[Span], log: EventLog, wall: float) -> dict[str, float]:
    """Per-layer metrics of ONE traced job: ``spans`` are that job's
    spans, ``wall`` its measured wall time."""
    self_s = _span_self_seconds(spans)
    group_layer = {s.id: s.layer for s in spans}
    by_layer = {layer: [] for layer in LAYERS}
    stages = {layer: set() for layer in LAYERS}
    for t in log.tasks:
        layer = group_layer.get(log.stage_group.get(t.stage))
        if layer is not None:
            by_layer[layer].append(t)
            stages[layer].add(t.stage)

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        tasks = by_layer[layer]
        skew = 0.0
        if stages[layer]:
            longest = max(stages[layer], key=lambda k: log.stage_wall.get(k, 0.0))
            times = [t.seconds for t in tasks if t.stage == longest]
            med = statistics.median(times)
            skew = max(times) / med if med > 0 else 1.0
        out[f"{layer}.s"] = sum(self_s[s.id] for s in mine)
        out[f"{layer}.tasks"] = len(tasks)
        out[f"{layer}.failed_tasks"] = sum(t.failed for t in tasks)
        out[f"{layer}.shuffle_write_mb"] = sum(t.shuffle_write for t in tasks) / MB
        out[f"{layer}.spill_mb"] = sum(t.spill for t in tasks) / MB
        out[f"{layer}.gc_s"] = sum(t.gc_ms for t in tasks) / 1000.0
        out[f"{layer}.task_skew"] = skew
        if layer == "pipeline":
            # run_pipeline returns a metrics dict, so its own output is
            # what its self jobs wrote: the stage parquet files
            out["pipeline.rows_out"] = sum(t.records_written for t in tasks)
            out["pipeline.write_mb"] = sum(t.bytes_written for t in tasks) / MB
        else:
            out[f"{layer}.rows_out"] = sum(s.rows_out for s in mine)
        if layer in ITERATIVE:
            out[f"{layer}.rounds"] = sum(s.rounds for s in mine)

    tri = [s for s in spans if s.layer == "triangles"]
    tri_s = sum(s.seconds for s in tri)
    out["triangles.triangles_per_s"] = sum(s.value for s in tri) / tri_s if tri_s else 0.0
    pr_s = sum(s.seconds for s in spans if s.layer == "pagerank")
    out["pagerank.iters_per_min"] = out["pagerank.rounds"] * 60.0 / pr_s if pr_s else 0.0
    out["trace.unattributed_s"] = wall - sum(self_s.values())
    return out


# per-layer metric suffix -> unit
_UNITS = {
    "s": "s",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "task_skew": "ratio",
    "rows_out": "rows",
    "rounds": "rounds",
    "write_mb": "MB",
    "triangles_per_s": "triangles/s",
    "iters_per_min": "rounds/min",
    "overhead_s": "s",
    "unattributed_s": "s",
}


def unit(name: str) -> str:
    return _UNITS[name.split(".", 1)[1]]


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in BENCHMARK.json order."""
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{k}" for k in (
            "s", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb", "gc_s",
            "task_skew", "rows_out")]
        if layer in ITERATIVE:
            names.append(f"{layer}.rounds")
    names += ["triangles.triangles_per_s", "pagerank.iters_per_min", "pipeline.write_mb",
              "trace.overhead_s", "trace.unattributed_s"]
    return names
