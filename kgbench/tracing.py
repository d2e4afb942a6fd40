"""Per-layer tracing from outside the program.

A traced run calls each layer's public functions itself, materializes the
layer's output once (``persist`` + ``count``), and times the call plus
that action as the layer's span.  The next layer reads the materialized
output, so a span holds only its own layer's work.  Spark job, task,
shuffle, spill and GC counters come from an event log that the benchmark
enables in its own session; every job is tagged with the layer that
started it through a local property.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Dict, List, Tuple

from pyspark import StorageLevel

LAYER_PROPERTY = "kgbench.layer"

# layers whose spans are on the path of one timed operation; their summed
# self time is compared with the untraced run_s as the tracing overhead
PAGE_PATH = ("scan", "extract", "explode", "link", "dedup", "write", "audit", "check")
CANON_PATH = ("canon_map", "rewrite", "check")
# every layer with engine counters (arrow_floor and cc are probes off the path)
ENGINE_LAYERS = (
    "scan", "extract", "explode", "link", "arrow_floor", "dedup", "write", "audit",
    "cc", "canon_map", "rewrite",
)
ENGINE_COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("task_s", "s"), ("gc_s", "s"), ("spill_mb", "MB"),
)

# (name, unit) of every per-layer metric, in report order.  A layer that
# does not run in a workload reports 0 (e.g. cc.* on kg_hub).
PER_LAYER: List[Tuple[str, str]] = [
    ("setup.session_s", "s"), ("setup.generate_s", "s"),
    ("setup.resolver_s", "s"), ("setup.warmup_s", "s"),
    ("scan.wall_s", "s"), ("scan.rows_out", "count"),
    ("extract.wall_s", "s"), ("extract.rows_out", "count"),
    ("explode.wall_s", "s"), ("explode.rows_out", "count"),
    ("link.wall_s", "s"), ("link.arrow_floor_s", "s"), ("link.rows_in", "count"),
    ("link.distinct_terms", "count"), ("link.distinct_per_row", "ratio"),
    ("link.rows_out", "count"), ("link.tier_exact", "count"),
    ("link.tier_fuzzy", "count"), ("link.tier_prefix", "count"),
    ("mapper.fuzzy_ms_per_term", "ms"), ("mapper.index_build_s", "s"),
    ("dedup.wall_s", "s"), ("dedup.rows_in", "count"), ("dedup.rows_out", "count"),
    ("dedup.shuffle_write_mb", "MB"), ("dedup.sort_nodes", "count"),
    ("write.wall_s", "s"), ("write.files", "count"), ("write.mb", "MB"),
    ("audit.wall_s", "s"), ("audit.rows", "count"),
    ("cc.wall_s", "s"), ("cc.nodes", "count"), ("cc.components", "count"),
    ("cc.shuffle_write_mb", "MB"), ("canon_map.wall_s", "s"), ("rewrite.wall_s", "s"),
    ("check.wall_s", "s"),
] + [
    (f"{layer}.{name}", unit) for layer in ENGINE_LAYERS for name, unit in ENGINE_COUNTERS
] + [
    ("trace.untraced_run_s", "s"), ("trace.self_sum_s", "s"), ("trace.overhead_pct", "%"),
]


def materialize(df):
    """Persist ``df`` and run one action over it → (persisted df, rows)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


class Tracer:
    """Spans (layer → seconds) and counters of one traced operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: Dict[str, float] = {}
        self.values: Dict[str, float] = {}

    def layer(self, name: str, fn):
        """Run ``fn()`` as layer ``name``: its Spark jobs carry the layer
        tag and its wall time becomes the ``<name>.wall_s`` span."""
        self.sc.setLocalProperty(LAYER_PROPERTY, name)
        self.sc.setJobDescription(f"kgbench {name}")
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.spans[name] = time.perf_counter() - t0
            self.sc.setLocalProperty(LAYER_PROPERTY, None)
            self.sc.setJobDescription(None)

    def set(self, name: str, value) -> None:
        self.values[name] = value


def _event_lines(log_dir: str):
    # a single file, or a rolling event-log directory of events_* files
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if os.path.isfile(path):
            with open(path, "r", errors="replace") as fh:
                yield from fh


def engine_counters(log_dir: str) -> Dict[str, Dict[str, float]]:
    """Per-layer job/task/shuffle/spill/GC totals from a Spark event log.

    Jobs are attributed by their ``kgbench.layer`` property; a task counts
    toward the layer of the first job that lists its stage (a stage that a
    later job reuses is skipped there, not re-run).
    """
    stage_layer: Dict[int, str] = {}
    out: Dict[str, Dict[str, float]] = {}

    def bucket(layer):
        return out.setdefault(
            layer, {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                    "spill_mb": 0.0, "shuffle_write_mb": 0.0},
        )

    for line in _event_lines(log_dir):
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            layer = (ev.get("Properties") or {}).get(LAYER_PROPERTY)
            if not layer:
                continue
            bucket(layer)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            layer = stage_layer.get(ev.get("Stage ID"))
            if layer is None:
                continue
            m = ev.get("Task Metrics") or {}
            b = bucket(layer)
            b["tasks"] += 1
            b["task_s"] += m.get("Executor Run Time", 0) / 1e3
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            b["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            b["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            )
    return out


def report(tracer: Tracer, engine, path: Tuple[str, ...], untraced_run_s: float,
           setup: Dict[str, float]) -> Dict[str, float]:
    """The full PER_LAYER table (0 for layers that did not run)."""
    vals: Dict[str, float] = {name: 0 for name, _ in PER_LAYER}
    for k, v in setup.items():
        vals[f"setup.{k}_s"] = v
    for layer, s in tracer.spans.items():
        if layer == "arrow_floor":
            vals["link.arrow_floor_s"] = s
        else:
            vals[f"{layer}.wall_s"] = s
    vals.update(tracer.values)
    for layer in ENGINE_LAYERS:
        for name, _ in ENGINE_COUNTERS:
            vals[f"{layer}.{name}"] = engine.get(layer, {}).get(name, 0)
    for layer in ("dedup", "cc"):
        vals[f"{layer}.shuffle_write_mb"] = engine.get(layer, {}).get("shuffle_write_mb", 0)
    self_sum = sum(tracer.spans.get(layer, 0.0) for layer in path)
    vals["trace.untraced_run_s"] = untraced_run_s
    vals["trace.self_sum_s"] = self_sum
    vals["trace.overhead_pct"] = 100.0 * (self_sum - untraced_run_s) / untraced_run_s
    return vals
