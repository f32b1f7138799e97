"""Per-call timing, spans and Spark status-store counters.

Every public engine call the benchmark makes goes through
:meth:`Tracer.call`. Untraced, that only calls it; operations are timed by
:meth:`Tracer.span`. Traced, each call also

- records a span ``(name, start, end, parent, run_id)``; spans stay in
  memory and are written once, as JSON lines, by :meth:`Tracer.write`;
- runs under its own ``setJobGroup`` tag;
- reads, right after the call and before the status store's retention
  limits evict them, every job and stage the call started: the scheduler's
  job and stage id counters bracket the call, so jobs started by stream
  threads or ``foreachBatch`` callbacks (which run outside the caller's job
  group) are counted too;
- for streaming queries, sums each micro-batch phase of ``recentProgress``.

A layer's self time is its span minus its child spans. ``driver_s`` is self
time minus executor run time divided by the core count: the share of the
call that no executor core was busy with.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: counters summed per layer from the status store
STAGE_COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes")
#: micro-batch phases reported by StreamingQuery.recentProgress
STREAM_PHASES = ("latestOffset", "addBatch", "walCommit", "commitOffsets", "queryPlanning")
#: span schema written to the trace file, one JSON object per line
SPAN_KEYS = ("name", "start", "end", "parent", "run_id", "self_s", "counters")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    child_s: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool, cores: int):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._tags = itertools.count()
        self.overhead_s = 0.0
        jsc = spark.sparkContext._jsc
        self._sc = jsc.sc()
        self._tracker = jsc.statusTracker()

    # -- spans --------------------------------------------------------------
    def span(self, name: str):
        return _SpanContext(self, name)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, run_id=self.run_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.end - span.start
        return span

    # -- calls --------------------------------------------------------------
    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as one call of ``layer`` and return its result."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        tag = f"{self.run_id}:{layer}:{next(self._tags)}"
        self.spark.sparkContext.setJobGroup(tag, layer)
        job0, stage0 = self._next_ids()
        self.overhead_s += time.perf_counter() - t0
        idx = self._open(layer)
        try:
            out = fn(*args, **kwargs)
        finally:
            span = self._close(idx)
            t1 = time.perf_counter()
            span.counters = self._read_store(tag, job0, stage0)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1
        return out

    def stream_phases(self, queries) -> None:
        """Add the micro-batch phases of finished streaming queries to the
        span of the call that ran them, the last one recorded (traced runs
        only)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        target = self.spans[-1]
        for q in queries:
            for progress in q.recentProgress:
                for phase in STREAM_PHASES:
                    ms = progress.get("durationMs", {}).get(phase, 0)
                    key = f"{phase}_ms"
                    target.counters[key] = target.counters.get(key, 0) + ms
        self.overhead_s += time.perf_counter() - t0

    # -- status store -------------------------------------------------------
    def _next_ids(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def _read_store(self, tag: str, job0: int, stage0: int) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        job1, stage1 = self._next_ids()
        store = self._sc.statusStore()
        counters = dict.fromkeys(STAGE_COUNTERS, 0)
        counters["jobs"] = job1 - job0
        counters["tagged_jobs"] = len(self._tracker.getJobIdsForGroup(tag))
        for sid in range(stage0, stage1):
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted, or never submitted
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            counters["tasks"] += stage.numCompleteTasks()
            counters["executor_run_s"] += stage.executorRunTime() / 1e3
            counters["executor_cpu_s"] += stage.executorCpuTime() / 1e9
            counters["shuffle_bytes"] += stage.shuffleWriteBytes()
            counters["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return counters

    # -- results ------------------------------------------------------------
    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: self seconds, driver seconds and summed counters."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for span in self.spans:
            agg = out[span.name]
            agg["s"] += span.self_s
            agg["calls"] += 1
            for key, value in span.counters.items():
                agg[key] += value
        for agg in out.values():
            agg["driver_s"] = agg["s"] - agg.get("executor_run_s", 0.0) / self.cores
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                row = {
                    "name": span.name, "start": span.start, "end": span.end,
                    "parent": span.parent, "run_id": span.run_id,
                    "self_s": span.self_s, "counters": span.counters,
                }
                f.write(json.dumps(row) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.t0 = time.perf_counter()
        if self.tracer.enabled:
            self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer._close(self.idx)
        self.seconds = time.perf_counter() - self.t0
        return False
