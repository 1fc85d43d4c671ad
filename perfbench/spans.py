"""Spans, per-span Spark job groups and event-log totals for traced runs.

A span is recorded around each call the benchmark makes into a layer
(op -> build -> plan -> materialize; cycle -> pending -> commit).  Each
span runs under its own Spark job group, so the jobs, stages and tasks a
layer starts are counted where they start, from ``statusTracker`` right
when the span ends (before the tracker's retention can evict them).
Task metrics (CPU, GC, shuffle, spill, input bytes) come from the Spark
event log, which the run enables through ``PYSPARK_SUBMIT_ARGS`` and this
module parses after the session stops.

Spans are kept in memory; nothing here is imported by the engine.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.sid if parent else None, name, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count(sp)

    def _count(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(sp.group):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.stages += 1
                    sp.tasks += stage.numTasks

    # -- derived views ------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        """Duration minus the time covered by child spans (one client
        thread: children nest inside their parent and never overlap)."""
        return sp.dur - sum(c.dur for c in self.children(sp))

    def subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for c in self.children(sp):
            out.extend(self.subtree(c))
        return out

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]


def event_log_args(event_dir: str) -> str:
    """spark-submit arguments that write one uncompressed event log file."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{event_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
    )


_TASK_FIELDS = ("task_cpu_s", "jvm_gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes")


def task_metrics_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from the event log(s) in ``event_dir``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        for s in ev.get("Stage IDs", ()):
                            stage_group[s] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    t = totals.setdefault(gid, dict.fromkeys(_TASK_FIELDS, 0.0))
                    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return totals


def hook_write_path(tracer: Tracer):
    """Wrap ``IncrementalLoader.pending`` and ``.commit`` in spans; returns
    the function that restores the originals."""
    import functools

    from thrive_spark.sources.incremental import IncrementalLoader

    saved = {n: IncrementalLoader.__dict__[n] for n in ("pending", "commit")}

    def wrap(name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    for name, fn in saved.items():
        setattr(IncrementalLoader, name, wrap(name, fn))

    def restore() -> None:
        for name, fn in saved.items():
            setattr(IncrementalLoader, name, fn)

    return restore


#: Table-format and sink modules under ``thrive_spark.sources`` whose
#: writer ids get their own build time and job count.
WRITER_MODULES = ("delta_lite", "iceberg_lite", "hudi_lite", "acid", "maintenance", "sinks")

_UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_ms": "ms"}


def unit_of(name: str) -> str:
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("_per_byte_in") else "count"


def pass_layers(tracer: Tracer, pass_index: int, harness_s: dict[str, float],
                module_of: dict[str, str], task_totals: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-layer totals for one traced pass.

    ``harness_s`` maps op name -> the op time the harness took outside
    every span; the largest gap between it and the op span is returned as
    ``trace.self_time_gap_ms`` (the op's self times sum to the op span by
    construction, so this is what the spans leave unaccounted).
    """
    m: dict[str, float] = dict.fromkeys(
        ["operators.build_s", "operators.build_jobs", "catalyst.plan_s",
         "exec.materialize_s", "exec.jobs", "exec.stages", "exec.tasks",
         *(f"exec.{f}" for f in _TASK_FIELDS),
         "incremental.pending_s", "incremental.commit_s",
         *(f"{mod}.{k}" for mod in WRITER_MODULES for k in ("build_s", "jobs")),
         "trace.self_time_gap_ms"], 0.0)
    cycle_jobs = []
    for op in tracer.roots():
        if op.name != "op" or op.attrs.get("pass_index") != pass_index:
            continue
        sub = tracer.subtree(op)
        gap = abs(harness_s[op.attrs["op"]] - sum(tracer.self_time(s) for s in sub)) * 1e3
        m["trace.self_time_gap_ms"] = max(m["trace.self_time_gap_ms"], gap)
        mod = module_of.get(op.attrs["op"])
        for s in sub:
            if s.name == "build":
                m["operators.build_s"] += s.dur
                m["operators.build_jobs"] += sum(x.jobs for x in tracer.subtree(s))
                if mod:
                    m[f"{mod}.build_s"] += s.dur
            elif s.name == "plan":
                m["catalyst.plan_s"] += s.dur
            elif s.name == "materialize":
                m["exec.materialize_s"] += s.dur
                m["exec.jobs"] += s.jobs
                m["exec.stages"] += s.stages
                m["exec.tasks"] += s.tasks
                for f, v in task_totals.get(s.group, {}).items():
                    m[f"exec.{f}"] += v
            elif s.name == "cycle":
                cycle_jobs.append(sum(x.jobs for x in tracer.subtree(s)))
            elif s.name in ("pending", "commit"):
                m[f"incremental.{s.name}_s"] += s.dur
        if mod:
            m[f"{mod}.jobs"] += sum(s.jobs for s in sub)
    m["pipeline.cycle_jobs"] = float(sorted(cycle_jobs)[len(cycle_jobs) // 2]) if cycle_jobs else 0.0
    return m
