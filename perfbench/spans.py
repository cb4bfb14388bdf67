"""Traced runs: spans around each layer's public functions, Spark's own
job/task counters attributed to those spans through the event log.

How attribution works:

- ``Tracer.install`` replaces each listed function with a wrapper under
  every name the package binds it to (``pipeline.read_csv``,
  ``dedup._shared_pin``, ...), because patching only the defining module
  misses callers that imported the function by name.
- A wrapper opens a span unless the innermost open span is already in the
  same layer, so a layer calling itself adds no span. On entry it sets the
  Spark local property ``perfbench.span`` to the span id; every job started
  on this thread carries the innermost span's id in its ``JobStart``
  properties.
- ``fold_event_log`` reads the uncompressed event log (single file or the
  rolling ``eventlog_v2_*/events_*`` layout) and sums each job's task
  metrics onto the span that started it. Spark is lazy: a job's work lands
  in the span whose action triggered it, not in the layer that built the
  plan.
- A pin (``operators.checkpointing``) is an action run on its caller's
  behalf, so a pin span's counters count for the pin and also for the
  nearest enclosing non-pin layer: the sweep's and dedup's pinned work
  shows under the operator too. Every other counter belongs to one layer.
- A span's self time is its wall time minus its direct child spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "app_insights_generator_spark"
PROPERTY = "perfbench.span"
PIN_LAYER = "operators.checkpointing"

#: Layer (module under the package) -> the public functions wrapped.
LAYERS: dict[str, tuple[str, ...]] = {
    "sources.readers": ("read_csv", "read_json", "load_table", "load_tables"),
    "pipeline": ("extract_data",),
    "operators.insights": ("prepare", "insight_query", "insight_fields", "format_value", "threshold_count"),
    "operators.bucketing": ("bucketize", "bucket_expr"),
    "operators.sweep": ("sweep_apriori", "sweep_grouping_sets", "sweep_loop", "sweep_loop_df"),
    "operators.checkpointing": ("pin",),
    "operators.dedup": (
        "near_dedup_minhash",
        "connected_components",
        "minhash_signatures",
        "minhash_candidates",
        "jaccard_pairs",
        "exact_dedup",
    ),
    "sources.writers": ("write_csv", "write_json", "write_parquet"),
}

#: Counters folded from the event log, per span.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_B",
    "shuffle_read_B",
    "spill_B",
    "peak_exec_mem_B",
    "input_B",
    "output_B",
    "output_rows",
)


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    fn: str
    iteration: int
    t0: float
    t1: float = 0.0
    facts: dict = field(default_factory=dict)


class Tracer:
    """Spans for the calls into each layer of one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.iteration: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- installation -------------------------------------------------------
    def install(self) -> None:
        importlib.import_module(f"{PKG}.queries")  # bind every alias first
        mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for layer, names in LAYERS.items():
            defining = importlib.import_module(f"{PKG}.{layer}")
            for name in names:
                orig = getattr(defining, name)
                wrapper = self._wrap(layer, name, orig)
                for mod in mods:
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, wrapper)
                            self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- spans --------------------------------------------------------------
    def _set_property(self) -> None:
        self.sc.setLocalProperty(PROPERTY, str(self.stack[-1].id) if self.stack else None)

    def _open(self, layer: str, fn: str) -> Span:
        span = Span(
            id=len(self.spans) + 1,
            parent=self.stack[-1].id if self.stack else None,
            layer=layer,
            fn=fn,
            iteration=self.iteration,
            t0=time.perf_counter(),
        )
        self.spans.append(span)
        self.stack.append(span)
        self._set_property()
        return span

    def _close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self.stack.pop()
        self._set_property()

    @contextlib.contextmanager
    def traced_iteration(self, k: int):
        """One traced job; its root span is the layer ``job``."""
        self.iteration = k
        root = self._open("job", "job")
        try:
            yield
        finally:
            self._close(root)
            self.iteration = None

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.iteration is None or (self.stack and self.stack[-1].layer == layer):
                return fn(*args, **kwargs)
            span = self._open(layer, name)
            try:
                if name == "sweep_apriori" and kwargs.get("level_stats") is None:
                    kwargs["level_stats"] = span.facts["level_stats"] = []
                if name in ("sweep_apriori", "sweep_grouping_sets"):
                    span.facts["n_sets"] = _n_sets(*args, **kwargs)
                return fn(*args, **kwargs)
            finally:
                self._close(span)

        return wrapper


def _n_sets(df, cfg, cols=None, *args, **kwargs) -> int:
    """Grouping sets a sweep call evaluates when it does not prune."""
    from app_insights_generator_spark.operators.sweep import all_combinations

    return sum(1 for _ in all_combinations(cfg, cols))


# -- event log ---------------------------------------------------------------
def event_log_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a rolling ``eventlog_v2_*`` directory
    holds ``events_<n>_*`` parts; otherwise the log is one file."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not entry.endswith(".inprogress"):
            out.append(path)
    return out


def fold_event_log(log_dir: str) -> dict[int, dict[str, float]]:
    """Per span id: Spark's job, stage, task, shuffle, spill, memory, input
    and output counters of the jobs that span started."""
    per_span: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: dict[int, int] = {}
    stages_seen: set[int] = set()
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(PROPERTY)
                    if sid:
                        per_span[int(sid)]["jobs"] += 1
                        for st in ev.get("Stage IDs", ()):
                            stage_span[st] = int(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    c = per_span[sid]
                    if ev["Stage ID"] not in stages_seen:
                        stages_seen.add(ev["Stage ID"])
                        c["stages"] += 1
                    c["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_B"] += m.get("Disk Bytes Spilled", 0)
                    c["peak_exec_mem_B"] = max(c["peak_exec_mem_B"], m.get("Peak Execution Memory", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_B"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_B"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c["input_B"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    om = m.get("Output Metrics") or {}
                    c["output_B"] += om.get("Bytes Written", 0)
                    c["output_rows"] += om.get("Records Written", 0)
    return per_span


# -- per-layer metrics ---------------------------------------------------------
def _iteration_layers(spans: list[Span], counters: dict[int, dict[str, float]]) -> dict[str, float]:
    """Per-layer metrics of ONE traced iteration's spans."""
    by_id = {s.id: s for s in spans}
    child_wall: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] += s.t1 - s.t0

    def has_layer_ancestor(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == s.layer:
                return True
            p = by_id.get(p.parent)
        return False

    out: dict[str, float] = defaultdict(float)
    for s in spans:
        wall = s.t1 - s.t0
        key = s.layer
        if not has_layer_ancestor(s):
            out[f"{key}.wall_s"] += wall
        out[f"{key}.self_s"] += wall - child_wall[s.id]
        out[f"{key}.calls"] += 1
        c = counters.get(s.id)
        owners = [key]
        if key == PIN_LAYER:
            # A pin runs an action on its caller's behalf: its jobs count
            # for the pin and for the nearest enclosing non-pin layer.
            p = by_id.get(s.parent)
            while p is not None and p.layer == PIN_LAYER:
                p = by_id.get(p.parent)
            if p is not None:
                owners.append(p.layer)
        for owner in owners:
            for name in COUNTERS:
                v = c[name] if c else 0
                if name == "peak_exec_mem_B":
                    out[f"{owner}.{name}"] = max(out[f"{owner}.{name}"], v)
                else:
                    out[f"{owner}.{name}"] += v
        if "n_sets" in s.facts:
            levels = s.facts.get("level_stats") or []
            out[f"{key}.sets_evaluated"] += (
                sum(lv["sets_evaluated"] for lv in levels) if levels else s.facts["n_sets"]
            )
            if levels:
                out[f"{key}.sets_survived"] += sum(lv["sets_survived"] for lv in levels)
        if s.layer == "operators.dedup" and s.fn == "connected_components":
            pins = sum(1 for t in spans if t.parent == s.id and t.layer == PIN_LAYER)
            # One pin for the symmetric edge table, then one per round.
            out[f"{key}.cc_rounds"] += max(0, pins - 1)
    return out


def layer_metrics(tracer: Tracer, counters: dict[int, dict[str, float]]) -> tuple[dict[str, float], dict]:
    """Median over traced iterations of every per-layer metric, and the
    counts (jobs, stages, tasks, bytes, rows, sets) that did not repeat
    exactly, with their value in each iteration."""
    iterations: dict[int, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        iterations[s.iteration].append(s)
    per_iter = [_iteration_layers(spans, counters) for _, spans in sorted(iterations.items())]
    names = sorted({k for it in per_iter for k in it})
    med = {k: statistics.median(it.get(k, 0.0) for it in per_iter) for k in names}
    varying = {
        k: [it.get(k, 0.0) for it in per_iter]
        for k in names
        if not k.endswith(("_s", "peak_exec_mem_B")) and len({it.get(k, 0.0) for it in per_iter}) > 1
    }
    return med, varying
