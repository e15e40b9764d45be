"""Spans recorded from the benchmark's own files, around calls into the
program's layers, plus Spark's per-stage metrics for each span.

A span is (run id, name, parent, start, end).  Spans live in memory and
are written out once, when the run ends.  The Spark work done inside a
span is found by its job-id window: the Spark driver submits jobs in
sequence, so the jobs a span caused are exactly the ids handed out
between its start and its end — this also covers jobs submitted from
the streaming query's own thread, which a job group set on the caller
thread would miss.  Stage metrics are read from the in-process
``AppStatusStore`` (readable with the UI disabled) after the listener
bus has drained.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

#: stage metrics summed per span; bytes are reported in MB
STAGE_FIELDS = ("wall_s", "cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "tasks")


@dataclass
class Span:
    run_id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    counts: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._jsc = spark.sparkContext._jsc.sc()

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        s = Span(self.run_id, name, parent, time.perf_counter())
        s.job_lo = self._next_job()
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.job_hi = self._next_job()
            self.spans.append(s)

    def collect_stage_metrics(self) -> None:
        """Fill ``span.stages`` from Spark's status store."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        cache: dict[int, dict] = {}
        for s in self.spans:
            stage_ids: set[int] = set()
            for jid in range(s.job_lo, s.job_hi):
                try:
                    ids = store.job(jid).stageIds()
                except Exception:  # job evicted or never registered
                    continue
                stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
            tot = dict.fromkeys(STAGE_FIELDS, 0.0)
            for sid in stage_ids:
                if sid not in cache:
                    cache[sid] = _stage(store, sid)
                for k, v in cache[sid].items():
                    tot[k] += v
            tot["wall_s"] = s.wall_s
            s.stages = tot

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["wall_s"] = s.wall_s
                fh.write(json.dumps(rec) + "\n")

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def last(self, name: str) -> Span:
        return self.by_name(name)[-1]


def _stage(store, sid: int) -> dict:
    """Executor-side totals of one stage's first attempt; a stage that
    was skipped (its shuffle output reused) has no attempt and adds 0."""
    try:
        d = store.stageAttempt(sid, 0, False, None, False, None)._1()
    except Exception:
        return {}
    mb = 1.0 / (1 << 20)
    return {
        "cpu_s": d.executorCpuTime() / 1e9,
        "gc_s": d.jvmGcTime() / 1e3,
        "shuffle_write_mb": d.shuffleWriteBytes() * mb,
        "shuffle_read_mb": d.shuffleReadBytes() * mb,
        "spill_mb": (d.memoryBytesSpilled() + d.diskBytesSpilled()) * mb,
        "tasks": float(d.numTasks()),
    }


@contextlib.contextmanager
def patched(owner, attr: str, tracer: Tracer, name_of):
    """Wrap ``owner.attr`` so every call runs inside a span named
    ``name_of(*args, **kwargs)``; restores the original on exit.  Used
    in traced reps only, around the program's public calls."""
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(name_of(*args, **kwargs)):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, orig)
