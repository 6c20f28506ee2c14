"""Spans around the benchmark's calls into the library's layers.

A span is opened in the benchmark's own code around one call into a layer
(``operators.ann.IVFIndex.build``, ``rag.answer_query``, ...). With tracing
off a span only keeps its wall time, which the end-to-end metrics need. With
tracing on it also records, from outside the library:

- the Spark jobs the call fired, by job group (``sc.statusTracker()``) plus
  the jobs of any streaming query that ran inside the span (its micro-batches
  run on the stream thread under the query's run id, not the caller's group);
- per stage, from the JVM status store (``lastStageAttempt``): shuffle
  read + write bytes, spill bytes and failed tasks;
- for calls that return a DataFrame the benchmark then collects: the split
  between construction (the call itself, including any eager jobs it fired)
  and execution, and Catalyst's analysis + optimization + planning time
  (``queryExecution().tracker().phases()``).

Spans are kept in memory and turned into metrics when the run ends. The time
the tracer spends on its own bookkeeping is summed, so the tracing overhead
is measured rather than guessed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PLAN_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    busy_s: float = 0.0
    construct_s: float | None = None
    construct_jobs: int | None = None
    plan_ms: float | None = None
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0
    extra: dict = field(default_factory=dict)
    _group: str | None = None


class Tracer:
    """Opens spans; ``enabled=False`` keeps timing only."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._seq = 0
        self._stream_runs: list[str] = []
        self._progress: list = []
        if enabled:
            self._listen_to_streams()

    # -- streaming attribution ----------------------------------------------

    def _listen_to_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer._progress.append((str(p.runId), int(p.numInputRows),
                                         dict(p.durationMs)))

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self.enabled:
            self.spark.streams.removeListener(self._listener)

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer; yields the :class:`Span` so the caller
        can mark the construct/execute split with :meth:`construct` and
        :meth:`collect`."""
        s = Span(name)
        sc = self.spark.sparkContext
        if self.enabled:
            t = time.perf_counter()
            self._seq += 1
            s._group = f"{name}#{self._seq}"
            sc.setJobGroup(s._group, name)
            runs_before = len(self._stream_runs)
            self.overhead_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.busy_s = time.perf_counter() - t0
            if self.enabled:
                t = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._wait_for_listeners()
                groups = [s._group] + self._stream_runs[runs_before:]
                self._attribute(s, groups)
                new_runs = set(self._stream_runs[runs_before:])
                rows = [r for r in self._progress if r[0] in new_runs]
                if rows:
                    s.extra["input_rows"] = sum(r[1] for r in rows)
                    s.extra["trigger_ms"] = sum(
                        r[2].get("triggerExecution", 0) for r in rows)
                self.overhead_s += time.perf_counter() - t
            self.spans.append(s)

    def construct(self, s: Span, fn):
        """Run ``fn`` (the call that builds a DataFrame) as the construction
        phase of span ``s``."""
        t = time.perf_counter()
        out = fn()
        s.construct_s = time.perf_counter() - t
        if self.enabled:
            t = time.perf_counter()
            s.construct_jobs = len(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(s._group))
            self.overhead_s += time.perf_counter() - t
        return out

    def collect(self, s: Span, df) -> list:
        """Execute ``df`` inside span ``s`` and record its Catalyst phases."""
        rows = df.collect()
        if self.enabled:
            t = time.perf_counter()
            phases = df._jdf.queryExecution().tracker().phases()
            ms = 0.0
            for p in PLAN_PHASES:
                if phases.contains(p):
                    ms += phases.apply(p).durationMs()
            s.plan_ms = (s.plan_ms or 0.0) + ms
            self.overhead_s += time.perf_counter() - t
        return rows

    # -- status-store reads -------------------------------------------------

    def _wait_for_listeners(self) -> None:
        """Stage metrics reach the status store through the listener bus;
        drain it so a span reads its last job's stages complete."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _attribute(self, s: Span, groups: list[str]) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        s.jobs = len(job_ids)
        for sid in sorted(stage_ids):
            if tracker.getStageInfo(sid) is None:
                continue  # skipped: its shuffle output was reused
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue
            s.stages += 1
            s.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
            s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            s.failed_tasks += st.numFailedTasks()

    # -- aggregation --------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def busy(self, *names: str) -> float:
        return sum(s.busy_s for n in names for s in self.by_name(n))

