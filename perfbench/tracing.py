"""Spans around public library calls, and Spark's event log read per span.

The benchmark measures the library from outside. A traced run wraps the
public functions of each module (see ``TARGETS``) so that every call opens
a span: name, start, end, parent span and the trace id of the operation it
belongs to. While a span is open on a thread, jobs submitted from that
thread carry the span id as the local property ``bench.span`` and the span
name as their job description. Jobs that library worker threads submit
(``route.write_sinks``, ``stream._process_batch``, the ``foreachBatch``
callback) carry no label and are attributed to the innermost span open when
they were submitted.

``read_event_log`` turns an uncompressed Spark JSON event log into per-job
records (tasks, executor CPU and run time, GC, shuffle bytes, spill, peak
execution memory), and ``attribute`` assigns each job to a span.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "otlp_cardinality_checker_spark"

# (module, function, layer): the public calls a traced run wraps
TARGETS = (
    ("sources.transcripts", "load_transcripts", "sources"),
    ("sources.transcripts", "load_dims", "sources"),
    ("operators.parse", "parse_turns", "parse"),
    ("operators.enrich", "enrich_turns", "enrich"),
    ("operators.route", "route_turns", "route"),
    ("operators.route", "write_sinks", "route"),
    ("operators.aggregate", "key_stats_and_catalog", "aggregate"),
    ("operators.aggregate", "key_stats", "aggregate"),
    ("operators.aggregate", "service_stats", "aggregate"),
    ("operators.aggregate", "template_stats", "aggregate"),
    ("operators.aggregate", "attribute_catalog", "aggregate"),
    ("operators.aggregate", "active_series", "aggregate"),
    ("operators.aggregate", "watched_values", "aggregate"),
    ("operators.aggregate", "high_cardinality_keys", "aggregate"),
    ("operators.aggregate", "global_top_k", "aggregate"),
    ("plans.pipeline", "routed_turns", "pipeline"),
    ("streaming.stream", "run_stream", "stream"),
    ("streaming.stream", "_process_batch", "stream"),
    ("streaming.stream", "compact_state", "stream"),
    ("streaming.stream", "current_key_stats", "stream"),
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    trace: int
    parent: int | None
    start: float
    end: float | None = None
    thread: int = 0


@dataclass
class Tracer:
    """Span recorder. Spans stay in memory until ``dump``."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _trace: int = 0
    _main_stack: list[Span] = field(default_factory=list)

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # a worker or callback thread nests under the main thread's span
        outer = stack or self._main_stack
        parent = outer[-1] if outer else None
        with self._lock:
            span = Span(
                id=next(self._ids), name=name, layer=layer,
                trace=parent.trace if parent else self._trace,
                parent=parent.id if parent else None, start=time.time(),
                thread=threading.get_ident(),
            )
            self.spans.append(span)
        stack.append(span)
        self._label(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        self._label(stack[-1] if stack else None)

    def _label(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("bench.span", str(span.id) if span else None)
        sc.setJobDescription(span.name if span else None)

    def span(self, name: str, layer: str):
        return _SpanContext(self, name, layer)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.s = self.tracer.open(self.name, self.layer)
        return self.s

    def __exit__(self, *exc):
        self.tracer.close(self.s)
        return False


def instrument(tracer: Tracer) -> None:
    """Wrap every ``TARGETS`` function, in its own module and wherever a
    loaded module imported it by name."""
    for mod_name, fn_name, layer in TARGETS:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        original = getattr(mod, fn_name)
        if getattr(original, "_bench_wrapped", False):
            continue
        label = f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}"

        def wrapper(*a, __fn=original, __label=label, __layer=layer, **kw):
            with tracer.span(__label, __layer):
                return __fn(*a, **kw)

        functools.update_wrapper(wrapper, original)
        wrapper._bench_wrapped = True
        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "")
            if not (name.startswith(PACKAGE) or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(m).items()):
                if val is original:
                    setattr(m, attr, wrapper)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

JOB_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
    "output_bytes",
)


def read_event_log(log_dir: Path) -> list[dict]:
    """One record per job found in the event logs under ``log_dir``: one
    directory per application, of ``events_<n>_*`` files (Spark 4)."""
    jobs: list[dict] = []
    for app in sorted(log_dir.iterdir()):
        parts = sorted(app.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
        jobs.extend(_read_one(parts))
    return jobs


def _read_one(parts: list[Path]) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, int] = {}
    for part in parts:
        with part.open() as fh:
            events = [json.loads(line) for line in fh]
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "job": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1000.0,
                    "span": props.get("bench.span"),
                    "stages": 0,
                    **{k: 0 for k in JOB_FIELDS},
                }
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job and "Submission Time" in ev["Stage Info"]:
                    stages[sid] = stage_job[sid]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                out = m.get("Output Metrics", {})
                job["tasks"] += 1
                job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["shuffle_read_bytes"] += sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job["peak_exec_mem_bytes"] = max(
                    job["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                )
                job["output_bytes"] += out.get("Bytes Written", 0)
    for sid, jid in stages.items():
        jobs[jid]["stages"] += 1
    return list(jobs.values())


def attribute(jobs: list[dict], spans: list[Span]) -> dict[int, list[dict]]:
    """span id -> jobs. A job labelled with a span goes to it; an unlabelled
    job goes to the innermost span open at its submission time."""
    by_id = {s.id: s for s in spans}
    out: dict[int, list[dict]] = {}
    for job in jobs:
        sid = int(job["span"]) if job["span"] else None
        if sid not in by_id:
            sid = _innermost(spans, job["submit"])
        if sid is not None:
            out.setdefault(sid, []).append(job)
    return out


def _innermost(spans: list[Span], t: float) -> int | None:
    best = None
    for s in spans:
        if s.start <= t <= (s.end or float("inf")):
            if best is None or s.start >= best.start:
                best = s
    return best.id if best else None


def descendants(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, []))
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it that its direct children cover."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id and c.end is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def job_totals(jobs: list[dict]) -> dict:
    tot = {"jobs": len(jobs), "stages": sum(j["stages"] for j in jobs)}
    for k in JOB_FIELDS:
        if k == "peak_exec_mem_bytes":
            tot[k] = max((j[k] for j in jobs), default=0)
        else:
            tot[k] = sum(j[k] for j in jobs)
    return tot
