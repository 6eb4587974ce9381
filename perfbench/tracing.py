"""Per-layer tracing for the benchmark: span wrappers around each
layer's public callables, and a parser that joins the spans with
Spark's JSON event log.

A span is one call into a layer. Its wrapper tags the calling thread
with `sc.setLocalProperty(SPAN_KEY, id)`, so every Spark job submitted
from that thread carries the span id in its properties. Plain thread
pools drop local properties; a job without a tag goes to the innermost
span open at its submission time, and `all.untagged_exec_share` says
how much executor time was attributed that way. Spans stay in memory
and are read once, after the run.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

SPAN_KEY = "perfbench.span"

# The nine per-span counters (section "Per-layer metrics" of README.md).
FULL = (
    "calls self_s driver_s exec_s wait_s shuffle_bytes spill_bytes "
    "output_bytes failed_tasks"
).split()
SMALL = "self_s driver_s exec_s shuffle_bytes".split()
ALL = (
    "jobs stages tasks exec_s driver_s shuffle_bytes shuffle_records spill_bytes "
    "untagged_exec_share"
).split()

# Modules whose registry queries only the `ops` workload runs.
OPS_MODULES = [
    "operators.behavior",
    "operators.extended",
    "operators.graph",
    "operators.maintenance",
    "operators.profiling",
    "operators.stats",
    "streaming.windows",
    "text.analysis",
    "text.dedup",
    "vector.similarity",
    "multimodal.media",
    "ml.quality",
]

LAYERS: dict[str, list[str]] = {
    "session": ["self_s"],
    "io": ["calls", "self_s", "memo_hit_ratio"],
    "pipeline": FULL,
    "operators.relational": FULL,
    "operators.features": FULL,
    "feature_store": FULL + ["skip_ratio"],
    "ml.training": FULL,
    **{m: SMALL for m in OPS_MODULES},
    "all": ALL,
}

UNITS = {
    "calls": "count",
    "shuffle_records": "count",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "memo_hit_ratio": "ratio",
    "skip_ratio": "ratio",
    "untagged_exec_share": "ratio",
}


def unit(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    return "B" if metric.endswith("_bytes") else "s"


def metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float | None = None
    result: object = None


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


@dataclass
class Tracer:
    """Records spans; `wrap` returns the traced version of a callable."""

    spans: list[Span] = field(default_factory=list)
    installed: bool = False
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _stacks: dict[int, list[Span]] = field(default_factory=dict)

    def span(self, layer: str, name: str):
        return _SpanContext(self, layer, name)

    def wrap(self, layer: str, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name) as span:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    span.result = on_result(out)
                return out

        return traced


class _SpanContext:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        tr = self.tracer
        with tr._lock:
            stack = tr._stacks.setdefault(threading.get_ident(), [])
            # a span opened on a pool thread belongs to the span the
            # main thread has open: that is the code that started the pool
            main = tr._stacks.get(threading.main_thread().ident)
            parent = stack[-1] if stack else main[-1] if main else None
            self.span = Span(len(tr.spans), self.layer, self.name,
                             None if parent is None else parent.id, time.time())
            tr.spans.append(self.span)
            stack.append(self.span)
        # no context yet while the session itself is being created
        self.sc = _active_context()
        if self.sc is not None:
            self.prev = self.sc.getLocalProperty(SPAN_KEY)
            self.sc.setLocalProperty(SPAN_KEY, str(self.span.id))
        return self.span

    def __exit__(self, *exc) -> None:
        if self.sc is not None and self.sc._jsc is not None:
            self.sc.setLocalProperty(SPAN_KEY, self.prev)
        self.span.end = time.time()
        with self.tracer._lock:
            self.tracer._stacks[threading.get_ident()].pop()


def rebind(original, traced) -> None:
    """Replace every module-level binding of `original` (and every value
    of a module-level dict, such as a registry's QUERIES) with `traced`
    in the loaded `propensity_spark` modules."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("propensity_spark"):
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, traced)
            elif isinstance(value, dict) and key.isupper():
                for k, v in list(value.items()):
                    if v is original:
                        value[k] = traced


def install(tracer: Tracer) -> None:
    """Wrap the public callables of the program's layers (README.md,
    "Per-layer metrics"). Registry queries are not wrapped here: their
    DataFrames are lazy, so the benchmark opens the span around build
    and sink together."""
    from propensity_spark import io, session
    from propensity_spark.feature_store import FeatureTable
    from propensity_spark.ml import training
    from propensity_spark.operators import features, relational
    from propensity_spark.pipeline import Pipeline

    tracer.installed = True
    seen: dict[int, object] = {}

    def memo_hit(df) -> bool:
        # load_table memoizes the scan definition: a hit returns the
        # same DataFrame object as an earlier call
        hit = id(df) in seen
        seen[id(df)] = df
        return hit

    for layer, fn, on_result in (
        ("session", session.get_spark, None),
        ("io", io.load_table, memo_hit),
        ("operators.relational", relational.top_commodities, None),
        ("operators.relational", relational.silver_transactions, None),
        ("operators.relational", relational.q_labels, None),
        ("operators.relational", relational.q_class_ratios, None),
        ("operators.features", features._spark_features, None),
        ("operators.features", features.multi_day_features, None),
        ("ml.training", training.build_training_set, None),
        ("ml.training", training.train_commodity_models, None),
        ("ml.training", training.score_batch, None),
    ):
        rebind(fn, tracer.wrap(layer, fn, fn.__name__, on_result))
    for cls, layer, names in (
        (Pipeline, "pipeline", "run_init run_daily run_weekly engineer_features "
                               "backfill score publish drift"),
        (FeatureTable, "feature_store", "create merge validate has_day lookup read"),
    ):
        for name in names.split():
            fn = vars(cls)[name]
            on_result = bool if name == "has_day" else None
            setattr(cls, name, tracer.wrap(layer, fn, f"{cls.__name__}.{name}", on_result))


# -- event log ---------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float
    end: float
    tag: int | None
    stages: set = field(default_factory=set)
    exec_s: float = 0.0
    wait_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def parse_event_log(path: Path) -> list[Job]:
    """Jobs of one uncompressed Spark event log, with their tasks'
    counters summed. A stage belongs to the first job that lists it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    for line in Path(path).read_text().splitlines():
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = props.get(SPAN_KEY)
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000, 0.0,
                      int(tag) if tag not in (None, "") else None)
            jobs[job.id] = job
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_submit[key] = info["Submission Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            job = jobs[stage_job[ev["Stage ID"]]]
            job.stages.add(ev["Stage ID"])
            info = ev["Task Info"]
            job.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                job.failed_tasks += 1
            submitted = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if submitted is not None:
                job.wait_s += max(0.0, info["Launch Time"] / 1000 - submitted)
            m = ev.get("Task Metrics") or {}
            job.exec_s += m.get("Executor Run Time", 0) / 1000
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            job.shuffle_records += sw.get("Shuffle Records Written", 0)
            job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        elif b > a:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(base: list[tuple[float, float]], cut) -> list[tuple[float, float]]:
    """Intervals of `base` not covered by `cut` (both sorted, disjoint)."""
    out = []
    for a, b in base:
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, int]:
    """Job id -> span id: the job's tag when it names a known span,
    else the innermost span open at the job's submission time."""
    by_id = {s.id: s for s in spans}
    out = {}
    for job in jobs:
        if job.tag in by_id:
            out[job.id] = job.tag
            continue
        open_ = [s for s in spans if s.start <= job.submit <= (s.end or float("inf"))]
        if open_:
            out[job.id] = max(open_, key=lambda s: s.start).id
    return out


def layer_metrics(spans: list[Span], jobs: list[Job], root: int) -> dict[str, float]:
    """Every name of `metric_names()` for the subtree of span `root`
    (the traced iteration). Layers that ran no span report 0."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    subtree, todo = [], [root]
    while todo:
        sid = todo.pop()
        subtree.append(sid)
        todo.extend(c.id for c in children.get(sid, []))
    inside = set(subtree)
    by_id = {s.id: s for s in spans}
    owner = attribute(spans, jobs)
    span_jobs: dict[int, list[Job]] = {}
    for job in jobs:
        if owner.get(job.id) in inside:
            span_jobs.setdefault(owner[job.id], []).append(job)

    acc: dict[str, dict[str, float]] = {
        layer: dict.fromkeys(names, 0.0) for layer, names in LAYERS.items()
    }
    hits: dict[str, list[int]] = {"io": [0, 0], "feature_store": [0, 0]}
    for sid in subtree:
        s = by_id[sid]
        if sid == root or s.layer not in acc:
            continue
        self_iv = _minus([(s.start, s.end)],
                         _union((c.start, c.end) for c in children.get(sid, [])))
        mine = span_jobs.get(sid, [])
        a = acc[s.layer]
        for name, value in (
            ("calls", 1),
            ("self_s", _length(self_iv)),
            ("driver_s", _length(_minus(self_iv, _union((j.submit, j.end) for j in mine)))),
            ("exec_s", sum(j.exec_s for j in mine)),
            ("wait_s", sum(j.wait_s for j in mine)),
            ("shuffle_bytes", sum(j.shuffle_bytes for j in mine)),
            ("spill_bytes", sum(j.spill_bytes for j in mine)),
            ("output_bytes", sum(j.output_bytes for j in mine)),
            ("failed_tasks", sum(j.failed_tasks for j in mine)),
        ):
            if name in a:
                a[name] += value
        # io: memo hits of load_table; feature_store: has_day hits
        if s.layer == "io" or s.name == "FeatureTable.has_day":
            hits[s.layer][0] += bool(s.result)
            hits[s.layer][1] += 1

    acc["io"]["memo_hit_ratio"] = hits["io"][0] / hits["io"][1] if hits["io"][1] else 0.0
    fs = hits["feature_store"]
    acc["feature_store"]["skip_ratio"] = fs[0] / fs[1] if fs[1] else 0.0

    mine = [j for js in span_jobs.values() for j in js]
    r = by_id[root]
    total_exec = sum(j.exec_s for j in mine)
    untagged = sum(j.exec_s for j in mine if j.tag != owner[j.id])
    acc["all"].update(
        jobs=len(mine),
        stages=sum(len(j.stages) for j in mine),
        tasks=sum(j.tasks for j in mine),
        exec_s=total_exec,
        driver_s=_length(_minus([(r.start, r.end)], _union((j.submit, j.end) for j in mine))),
        shuffle_bytes=sum(j.shuffle_bytes for j in mine),
        shuffle_records=sum(j.shuffle_records for j in mine),
        spill_bytes=sum(j.spill_bytes for j in mine),
        untagged_exec_share=untagged / total_exec if total_exec else 0.0,
    )
    return {f"{layer}.{m}": acc[layer][m] for layer, ms in LAYERS.items() for m in ms}


def coverage(spans: list[Span], jobs: list[Job]) -> tuple[float, float, list[int]]:
    """(executor seconds attributed to some span, executor seconds in
    the log, ids of jobs no span claims)."""
    owner = attribute(spans, jobs)
    lost = [j.id for j in jobs if j.id not in owner]
    total = sum(j.exec_s for j in jobs)
    return total - sum(j.exec_s for j in jobs if j.id in lost), total, lost
