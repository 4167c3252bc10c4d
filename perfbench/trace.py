"""Spans recorded from outside the program, and Spark event-log counters.

A span is recorded around each call the benchmark makes (or wraps) into a
layer's public entry point.  While a span is open its id is set as the
``perfbench.span`` local property of the SparkContext, so every Spark job
the call submits carries the id in its ``SparkListenerJobStart``
properties and the event log attributes the job to the span that caused it.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's event-log millis
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise ``span`` is a plain block."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1].id) if self._stack else None
            )

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration - child[s.id]
        return out

    def root(self, span: Span) -> Span:
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "self_s": self.self_times(), **extra},
                f,
                indent=1,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def engine_counters(event_log: str, tracer: Tracer, measured_roots: set[str], cores: int) -> dict:
    """Sum task, stage and job counters over the Spark jobs whose span
    descends from a measured root span (warm-up, set-up and check jobs are
    left out), and split the measured wall time into job-covered and
    driver-only time."""
    measured = {
        s.id for s in tracer.spans if tracer.root(s).name in measured_roots
    }
    job_span: dict[int, int] = {}
    job_time: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stages_run: set[int] = set()
    c = dict.fromkeys(
        (
            "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_bytes", "input_rows", "output_bytes", "output_rows",
        ),
        0,
    )
    with open(event_log, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                if tag is None or int(tag) not in measured:
                    continue
                jid = ev["Job ID"]
                job_span[jid] = int(tag)
                job_time[jid] = [ev["Submission Time"] / 1000.0, None]
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_time:
                job_time[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                stages_run.add(ev["Stage ID"])
                c["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                im = m.get("Input Metrics") or {}
                c["input_bytes"] += im.get("Bytes Read", 0)
                c["input_rows"] += im.get("Records Read", 0)
                om = m.get("Output Metrics") or {}
                c["output_bytes"] += om.get("Bytes Written", 0)
                c["output_rows"] += om.get("Records Written", 0)

    roots = [s for s in tracer.spans if s.parent is None and s.name in measured_roots]
    wall = sum(s.duration for s in roots)
    covered = 0.0
    for r in roots:
        clipped = [
            (max(a, r.start), min(b, r.end))
            for a, b in job_time.values()
            if b is not None and b > r.start and a < r.end
        ]
        covered += _union_length(clipped)
    jobs_per_span: dict[str, int] = {}
    for sid in job_span.values():
        name = tracer.spans[sid].name
        jobs_per_span[name] = jobs_per_span.get(name, 0) + 1
    c.update(
        jobs=len(job_span),
        stages=len(stages_run),
        core_busy_frac=c["task_run_s"] / (wall * cores) if wall else 0.0,
        driver_only_s=wall - covered,
        input_rows_per_output_row=c["input_rows"] / c["output_rows"] if c["output_rows"] else 0.0,
        jobs_per_span=jobs_per_span,
    )
    return c


def count_log_errors(log_path: str) -> int:
    """Spark ERROR lines in the driver log (kept apart from failed
    operations: some are logged while results stay correct)."""
    try:
        with open(log_path, encoding="utf-8", errors="replace") as f:
            return sum(1 for line in f if " ERROR " in line[:64])
    except FileNotFoundError:
        return 0
