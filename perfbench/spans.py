"""Spans around the calls into each layer, recorded from outside the package.

``instrument(tracer)`` wraps the public functions and ``JournalStore`` /
``JournalClient`` methods the benchmark drives; it is only called in a
traced run, so an untraced run executes the package unmodified.  Spans stay
in memory; ``fold_eventlog`` attaches Spark jobs and tasks from the event
log (enabled from the submit arguments, uncompressed and non-rolling) to
the innermost span that was open when each job was submitted or each task
launched.  Self time is a span's duration minus the time its child spans
cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None  # id of the workload operation (root span) it belongs to
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)
    jobs: int = 0
    tasks: list = field(default_factory=list)  # (launch, finish, metrics)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._paused = False

    @contextlib.contextmanager
    def paused(self):
        """Record no spans inside the block (untimed set-up calls)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextlib.contextmanager
    def span(self, name: str):
        if self._paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            next(self._ids), name, parent.sid if parent else None,
            parent.op if parent else None, time.time(),
        )
        if parent is None:
            s.op = s.sid
        else:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def named(self, name: str, top: bool = False) -> list[Span]:
        """Finished spans called ``name``; ``top`` keeps only those whose
        parent is a root span (a workload operation or set-up step), not
        the calls the package makes to itself."""
        by_id = {s.sid: s for s in self.spans}
        return [
            s for s in self.spans
            if s.name == name and s.t1
            and (not top or (s.parent is not None and by_id[s.parent].parent is None))
        ]

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.t1]


def _wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


def instrument(tracer: Tracer) -> None:
    """Wrap the layer entry points the workloads reach.  Names imported
    into another module by value (``api.replicate_batch``,
    ``api.read_with_plan``) are wrapped where they are looked up."""
    from kafka_journal_spark import api
    from kafka_journal_spark.sources.statestore import JournalStore
    from kafka_journal_spark.streaming import replicator

    _wrap(tracer, replicator, "replicate_batch", "replicator.batch")
    api.replicate_batch = replicator.replicate_batch
    _wrap(tracer, api, "read_with_plan", "recovery.read_with_plan")
    for attr in (
        "pointers", "metajournal_segments", "append_journal",
        "upsert_metajournal", "upsert_pointers", "compact",
        "journal", "metajournal", "read", "pointer",
    ):
        _wrap(tracer, JournalStore, attr, f"statestore.{attr}")
    for attr in ("read", "append", "pointer", "replicate"):
        _wrap(tracer, api.JournalClient, attr, f"api.{attr}")


# -- event log ---------------------------------------------------------------

def submit_args(log_dir: str) -> str:
    """Submit arguments that turn on an event log the stdlib can read."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items())


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
            best = s
    return best


def fold_eventlog(tracer: Tracer, log_dir: str) -> int:
    """Attach job submissions and finished tasks to spans; returns the
    number of events read.  Times in the log are epoch milliseconds, the
    same clock the spans use."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    spans = [s for s in tracer.spans if s.t1]
    n = 0
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                n += 1
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    s = _innermost(spans, ev["Submission Time"] / 1000.0)
                    if s is not None:
                        s.jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    s = _innermost(spans, info["Launch Time"] / 1000.0)
                    if s is not None:
                        s.tasks.append((
                            info["Launch Time"] / 1000.0,
                            info["Finish Time"] / 1000.0,
                            m,
                        ))
    return n


def subtree(span: Span) -> list[Span]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(s.children)
    return out


def spark_totals(span: Span) -> dict:
    """Task counts and executor metrics of a span and its descendants,
    plus the span's wall time during which no task was running."""
    tasks = [t for s in subtree(span) for t in s.tasks]
    run = cpu = gc = shuf = spill = 0
    for _, _, m in tasks:
        run += m.get("Executor Run Time", 0)
        cpu += m.get("Executor CPU Time", 0)
        gc += m.get("JVM GC Time", 0)
        shuf += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    # union of task intervals clipped to the span
    busy, end = 0.0, span.t0
    for lo, hi, _ in sorted(tasks, key=lambda t: t[:2]):
        lo, hi = max(lo, end), min(hi, span.t1)
        if hi > lo:
            busy += hi - lo
            end = hi
    return {
        "jobs": sum(s.jobs for s in subtree(span)),
        "tasks": len(tasks),
        "executor_run_s": run / 1000.0,
        "executor_cpu_s": cpu / 1e9,
        "gc_s": gc / 1000.0,
        "shuffle_write_bytes": shuf,
        "spill_bytes": spill,
        "no_task_s": max(0.0, span.dur - busy),
    }
