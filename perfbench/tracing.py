"""Spans around the engine's public calls, and per-layer numbers from
the Spark event log.

A span records name, start, end, parent span and the run id shared by
the whole run. While a span is open its id is the Spark job group of
the calling thread (``<run_id>:<span_id>``), so every job the call
triggers carries it into the event log; the engine's own driver
threads (``pyspark.InheritableThread``) inherit it. A job without a
group is attributed to the innermost span open at its submission time.

Spark is lazy: a span covers the jobs its call triggers, so a call
that only builds a plan has its work attributed to the span of the
call that executes it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer spans, named ``<module>.<public call>``
SPANS = [
    "session.get_spark",
    "sinks.write_zordered",
    "sources.build_stats_index",
    "sources.read_date_range_indexed",
    "sinks.merge_into_versioned",
    "streaming.apply_join_batch",
    "sinks.vacuum_versions",
    "entry_queries.build",
    "entry_queries.execute",
    "pipelines.curate_documents",
    "operators.similarity",
]

#: per-span statistics, each the median over the span's calls
STATS = [
    "wall_s",
    "self_s",
    "task_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
    "input_records",
    "output_records",
    "n_tasks",
    "task_skew",
    "idle_core_s",
]

RATIOS = [
    "sources.files_read_frac",
    "sources.rows_read_per_window_row",
    "sinks.rows_written_per_source_row",
]

#: spans whose tasks run Python workers; the event log's "time to run
#: Python workers" task metric gives their ``python_s``
PYTHON_SPANS = ["operators.similarity"]

#: traced-run p50 minus the untraced run's p50 of the same seed
OVERHEAD = ["trace.op_s.p50_overhead"]


def per_layer_names() -> list[str]:
    """Every per-layer metric; ``peak_rss_mb`` (driver JVM plus Python
    workers, from the untraced run) rides along here because its
    run-to-run spread is too wide to gate end to end."""
    return (
        [f"{s}.{st}" for s in SPANS for st in STATS]
        + [f"{s}.python_s" for s in PYTHON_SPANS]
        + RATIOS + OVERHEAD + ["peak_rss_mb"]
    )


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory; ``to_json`` writes them out at the end.
    ``spark_context`` is attached once the session exists."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    spark_context: object = None
    _stack: list[Span] = field(default_factory=list)
    _paused: bool = False

    def _tag(self) -> None:
        if self.spark_context is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.spark_context.setJobGroup(f"{self.run_id}:{top.id}", top.name)
        else:
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
            self.spark_context.setLocalProperty("spark.job.description", None)

    @contextmanager
    def paused(self):
        """Record no spans inside (set-up work that repeats an
        operation's calls, such as bootstrap and warm-up)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextmanager
    def span(self, name: str):
        if self._paused:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans) + 1, name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag()

    def to_json(self) -> list[dict]:
        return [
            {"run": self.run_id, "id": s.id, "name": s.name,
             "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]


class NullTracer:
    """Tracing off: the same workload code, no spans, no job groups."""

    @contextmanager
    def paused(self):
        yield

    @contextmanager
    def span(self, name: str):
        yield None


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover
    (children may overlap each other; their union counts once)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.wall - covered


@dataclass
class Task:
    stage: int
    run_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    input_records: int
    output_records: int
    python_s: float = 0.0


_PYTHON_RUN = "time to run Python workers"


def parse_event_log(lines) -> tuple[dict[int, dict], list[Task]]:
    """Jobs and finished tasks from Spark event-log JSON lines.

    Returns ``(jobs, tasks)``: ``jobs`` maps job id to its job group
    (``None`` when untagged), submission time (epoch seconds) and stage
    ids; each task carries its stage id and metrics."""
    jobs: dict[int, dict] = {}
    tasks: list[Task] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Write Metrics") or {}
            accs = (ev.get("Task Info") or {}).get("Accumulables") or []
            py_ms = sum(int(a.get("Update", 0)) for a in accs if a.get("Name") == _PYTHON_RUN)
            tasks.append(Task(
                stage=ev["Stage ID"],
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_bytes=sr.get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                input_records=(m.get("Input Metrics") or {}).get("Records Read", 0),
                output_records=(m.get("Output Metrics") or {}).get("Records Written", 0),
                python_s=py_ms / 1000.0,
            ))
    return jobs, tasks


def attribute_jobs(jobs: dict[int, dict], spans: list[Span], run_id: str) -> dict[int, int]:
    """Map job id to the id of the span that triggered it: the job
    group when it carries this run's id, else the innermost span open
    at submission time. Jobs outside every span are left out."""
    out: dict[int, int] = {}
    prefix = f"{run_id}:"
    for jid, job in jobs.items():
        group = job["group"]
        if group and group.startswith(prefix):
            out[jid] = int(group[len(prefix):])
            continue
        open_spans = [s for s in spans if s.start <= job["submit"] <= s.end]
        if open_spans:
            out[jid] = max(open_spans, key=lambda s: s.start).id
    return out


def _descendants(span: Span, spans: list[Span]) -> set[int]:
    ids = {span.id}
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                grew = True
    return ids


def span_stats(
    spans: list[Span],
    jobs: dict[int, dict],
    tasks: list[Task],
    run_id: str,
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics ``<span>.<stat>``: for every span name in
    ``SPANS``, each statistic is the median over that span's calls (a
    call's task figures include the jobs of its child spans). Span
    names that never ran report 0."""
    job_span = attribute_jobs(jobs, spans, run_id)
    stage_span: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            # a stage runs in the first job that lists it; later jobs
            # that list it again skip it
            if jid in job_span:
                stage_span.setdefault(st, job_span[jid])
    tasks_by_span: dict[int, list[Task]] = {}
    for t in tasks:
        sid = stage_span.get(t.stage)
        if sid is not None:
            tasks_by_span.setdefault(sid, []).append(t)

    per_call: dict[str, list[dict[str, float]]] = {}
    for s in spans:
        if s.name not in SPANS:
            continue
        ts = [t for sid in _descendants(s, spans) for t in tasks_by_span.get(sid, [])]
        run = [t.run_s for t in ts]
        task_s = sum(run)
        med = statistics.median(run) if run else 0.0
        per_call.setdefault(s.name, []).append({
            "wall_s": s.wall,
            "self_s": self_time(s, spans),
            "task_s": task_s,
            "gc_s": sum(t.gc_s for t in ts),
            "shuffle_mb": sum(t.shuffle_bytes for t in ts) / 1e6,
            "spill_mb": sum(t.spill_bytes for t in ts) / 1e6,
            "input_records": sum(t.input_records for t in ts),
            "output_records": sum(t.output_records for t in ts),
            "n_tasks": len(ts),
            "task_skew": max(run) / med if med > 0 else 0.0,
            "idle_core_s": s.wall * cores - task_s,
            "python_s": sum(t.python_s for t in ts),
        })
    out: dict[str, float] = {}
    for name in SPANS:
        calls = per_call.get(name, [])
        for st in STATS + (["python_s"] if name in PYTHON_SPANS else []):
            out[f"{name}.{st}"] = (
                statistics.median(c[st] for c in calls) if calls else 0.0
            )
    return out
