"""Layer spans for the traced run, with Spark task counters per span.

The traced run wraps each call into one layer of ``osm_spark`` in a
span (name, op id, start, end, parent). Every Spark job started inside
a span carries the span id as its job group (``sc.setJobGroup``); once
the session has stopped and the event log is complete, the log maps
job group -> stages -> task metrics, which gives each span its task
time, shuffle bytes, spill and task skew. Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers in pipeline order. A span name is one of these (or "op").
LAYERS = (
    "operators.ways",
    "operators.filters",
    "operators.assembly",
    "operators.centroids",
    "operators.geojson",
    "plans.pipeline.checkpoint",
    "spatial.covering",
    "spatial.pip_index.build",
    "spatial.geoparse",
    "spatial.pip_index.join",
    "spatial.tiles",
    "sources.manifest_table.commit",
    "sources.manifest_table.changes",
    "plans.incremental.applied_version",
    "plans.incremental.pip_increment",
)

# Sub-step layers name their busy time "<layer>_s"; the rest "<layer>.busy_s".
_SUB_STEPS = (
    "plans.pipeline.checkpoint",
    "spatial.pip_index.build",
    "spatial.pip_index.join",
    "sources.manifest_table.commit",
    "sources.manifest_table.changes",
    "plans.incremental.applied_version",
)

# (metric, unit, which direction is better)
SPAN_METRICS = (
    ("busy_s", "s", "lower"),
    ("rows_out", "count", "higher"),
    ("task_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
)

# Metrics measured beside the spans (workloads.py records them).
EXTRA_METRICS = (
    ("data.worldgen.gen_s", "s", "lower"),
    ("data.pages.gen_s", "s", "lower"),
    ("operators.assembly.ok_ratio", "ratio", "higher"),
    ("plans.pipeline.bytes_written", "bytes", "lower"),
    ("spatial.covering.cells_per_poly", "cells/poly", "lower"),
    ("spatial.pip_index.index_bytes", "bytes", "lower"),
    ("spatial.geoparse.hit_ratio", "ratio", "higher"),
    ("spatial.pip_index.cands_per_point", "cands/point", "lower"),
    ("spatial.pip_index.boundary_frac", "ratio", "lower"),
    ("spatial.pip_index.accept_ratio", "ratio", "higher"),
    ("sources.manifest_table.files_per_commit", "files/commit", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
)


def metric_name(layer: str, metric: str) -> str:
    if metric == "busy_s" and layer in _SUB_STEPS:
        return f"{layer}_s"
    return f"{layer}.{metric}"


def per_layer_catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run
    prints."""
    out = [
        (metric_name(layer, m), unit, better)
        for layer in LAYERS
        for m, unit, better in SPAN_METRICS
    ]
    return out + list(EXTRA_METRICS)


@dataclass
class Span:
    sid: str
    name: str
    op: str | None
    parent: str | None
    start: float
    end: float = 0.0
    rows: int = 0
    self_s: float = 0.0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0
    children_s: float = field(default=0.0, repr=False)


class Tracer:
    """Records spans when enabled; when disabled, ``span`` and ``op``
    cost nothing and tag no Spark jobs."""

    def __init__(self, sc, enabled: bool):
        self._sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.extra: dict[str, list[float]] = defaultdict(list)
        self._stack: list[Span] = []
        self._op: str | None = None
        self._n = 0

    @contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span("op") as s:
                yield s
        finally:
            self._op = None

    @contextmanager
    def suspended(self):
        """Record nothing inside: an untraced op within a traced run."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span("", name, None, None, 0.0)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            f"span-{self._n}", name, self._op,
            parent.sid if parent else None, time.perf_counter(),
        )
        self._n += 1
        self._stack.append(s)
        self._sc.setJobGroup(s.sid, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.end - s.start
                self._sc.setJobGroup(parent.sid, parent.name)
            else:
                self._sc.setJobGroup("untraced", "")
            s.self_s = s.end - s.start - s.children_s
            self.spans.append(s)

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.extra[name].append(float(value))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {k: v for k, v in vars(s).items() if k != "children_s"}
                        for s in self.spans
                    ],
                    "extra": self.extra,
                },
                fh,
            )


def attribute_event_log(spans: list[Span], path: str) -> None:
    """Fill each span's task counters from a finished Spark event log."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[tuple[int, int, int, int]]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            head = line[:48]
            if "SparkListenerJobStart" in head:
                e = json.loads(line)
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for st in e["Stage IDs"]:
                    stage_group.setdefault(st, group)
            elif "SparkListenerTaskEnd" in head:
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                tasks[e["Stage ID"]].append(
                    (
                        m.get("Executor Run Time", 0),
                        info["Finish Time"] - info["Launch Time"],
                        (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        m.get("Disk Bytes Spilled", 0),
                    )
                )
    stages_of: dict[str, list[int]] = defaultdict(list)
    for st, group in stage_group.items():
        if st in tasks:
            stages_of[group].append(st)
    for s in spans:
        stages = stages_of.get(s.sid, [])
        if not stages:
            continue
        s.task_s = sum(t[0] for st in stages for t in tasks[st]) / 1e3
        s.shuffle_write_mb = sum(t[2] for st in stages for t in tasks[st]) / 1e6
        s.spill_mb = sum(t[3] for st in stages for t in tasks[st]) / 1e6
        longest = max(stages, key=lambda st: sum(t[0] for t in tasks[st]))
        durs = [t[1] for t in tasks[longest]]
        s.task_skew = max(durs) / max(statistics.median(durs), 1)


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics: each op's spans of one layer are summed (skew
    takes the max), then the median is taken over the ops that ran the
    layer. Extras are medians of their recorded values."""
    per_op: dict[str, dict[str, dict[str, float]]] = defaultdict(dict)
    for s in tracer.spans:
        if s.name not in LAYERS:
            continue
        acc = per_op[s.name].setdefault(
            s.op, {m: 0.0 for m, _unit, _better in SPAN_METRICS}
        )
        acc["busy_s"] += s.self_s
        acc["rows_out"] += s.rows
        acc["task_s"] += s.task_s
        acc["shuffle_write_mb"] += s.shuffle_write_mb
        acc["spill_mb"] += s.spill_mb
        acc["task_skew"] = max(acc["task_skew"], s.task_skew)
    out: dict[str, float] = {}
    for layer in LAYERS:
        ops = per_op.get(layer)
        if not ops:
            raise RuntimeError(f"traced run recorded no span for {layer}")
        for m, _unit, _better in SPAN_METRICS:
            out[metric_name(layer, m)] = statistics.median(
                v[m] for v in ops.values()
            )
    for name, _unit, _better in EXTRA_METRICS:
        vals = tracer.extra.get(name)
        if not vals:
            raise RuntimeError(f"traced run recorded no value for {name}")
        out[name] = statistics.median(vals)
    return out
