"""Spans around calls into the package's layers, and the reducer that
turns Spark's event log into per-layer task metrics.

A span is (name, start, end, parent).  Spans stay in memory and are
written out once, at the end of a run.  Every span also sets the Spark
job group to the layer name (the part of the span name before the first
dot), so the event log attributes each task to the layer that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing and
    sets no job group, so untraced runs pay nothing (``spark`` is then
    not needed)."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        sc.setJobGroup(name.split(".", 1)[0], name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]].name
                sc.setJobGroup(outer.split(".", 1)[0], outer)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wall(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.dur for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover, summed
        per name.  Children of one span never overlap here (one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + s.dur - c
        return out


def event_log_file(event_log_dir: str) -> str:
    """The single (uncompressed, non-rolling) event log in the dir."""
    files = [f for f in os.listdir(event_log_dir)
             if not f.startswith(".") and not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, "
                           f"found {files}")
    return os.path.join(event_log_dir, files[0])


def _merged_length(intervals: list[tuple[float, float]]) -> float:
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


def _new_layer() -> dict:
    return {"tasks": 0, "retries": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "py_bytes_out": 0, "py_bytes_in": 0,
            "job_intervals": [], "stage_task_ms": {}}


def reduce_event_log(path: str, group_layer: dict[str, str]) -> dict:
    """Per-layer task metrics from a Spark event log.

    ``group_layer`` maps a job group id to a layer name; a job whose
    group is not in it is attributed to the group id itself (or
    ``"other"`` when it has none).  Returns {layer: metrics} with
    ``spark_s`` (merged job wall time), byte counters, ``task_skew``
    (max / median task run time in the layer's busiest stage) and the
    Python-UDF traffic from the SQL accumulators."""
    stage_layer: dict[int, str] = {}
    layers: dict[str, dict] = {}
    job_start: dict[int, tuple[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = group_layer.get(group, group or "other")
                for sid in ev["Stage IDs"]:
                    stage_layer[sid] = layer
                job_start[ev["Job ID"]] = (layer, ev["Submission Time"] / 1e3)
            elif kind == "SparkListenerJobEnd":
                layer, t0 = job_start.pop(ev["Job ID"], (None, None))
                if layer is not None:
                    layers.setdefault(layer, _new_layer())["job_intervals"] \
                        .append((t0, ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"], "other")
                acc = layers.setdefault(layer, _new_layer())
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                if info.get("Attempt", 0) > 0 or info.get("Failed"):
                    acc["retries"] += 1
                run_ms = tm.get("Executor Run Time", 0)
                acc["run_s"] += run_ms / 1e3
                acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                               or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                for a in info.get("Accumulables") or []:
                    name = a.get("Name")
                    if name == "data sent to Python workers":
                        acc["py_bytes_out"] += int(a.get("Update") or 0)
                    elif name == "data returned from Python workers":
                        acc["py_bytes_in"] += int(a.get("Update") or 0)
                acc["stage_task_ms"].setdefault(ev["Stage ID"], []).append(run_ms)
    out = {}
    for layer, acc in layers.items():
        stages = acc.pop("stage_task_ms")
        intervals = acc.pop("job_intervals")
        skew = 1.0
        if stages:
            busiest = max(stages.values(), key=sum)
            med = statistics.median(busiest)
            skew = max(busiest) / med if med > 0 else 1.0
        acc["task_skew"] = skew
        acc["spark_s"] = _merged_length(intervals)
        out[layer] = acc
    return out


def totals(layers: dict) -> dict:
    """Whole-run Spark figures: CPU share of task run time, GC, retries."""
    run_s = sum(a["run_s"] for a in layers.values())
    cpu_s = sum(a["cpu_s"] for a in layers.values())
    return {"cpu_ratio": cpu_s / run_s if run_s > 0 else 0.0,
            "gc_s": sum(a["gc_s"] for a in layers.values()),
            "task_retries": sum(a["retries"] for a in layers.values())}
