"""Layer spans for the traced run.

A span wraps one public engine call (or one phase of it). On exit it diffs
Spark's status store (`sc._jsc.sc().statusStore()`) across the call: the
benchmark client is sequential, so every job submitted while the span was
open belongs to it, including jobs that engine worker threads submit (which
a thread-local job group would miss). Nested spans (the build calls inside
an ingest or a compaction) count their jobs in both the child and the
parent.

With tracing off `span` is a bare context manager and no engine function is
wrapped, so the untraced runs that give the end-to-end metrics pay nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# DESIGN.md maps each span to the end-to-end metric it should move
SPANS = (
    "session.get_spark",
    "stats.prepare_docs",
    "build.build_index",
    "positions.build_positions",
    "query.topk.prep",
    "query.topk.exec",
    "query.topk_batched",
    "query.phrase_topk",
    "incremental.ingest",
    "incremental.delete_documents",
    "incremental.compact_generations",
    "incremental.topk_all_generations.prep",
    "incremental.topk_all_generations.exec",
    "incremental.phrase_topk_all_generations",
)
COUNTERS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("input_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
)
# size and state counts the workloads record beside the spans
COUNTS = (
    ("stats.docs_bytes", "B"),
    ("build.postings_bytes", "B"),
    ("positions.bytes", "B"),
    ("incremental.live_generations", "count"),
    ("incremental.tombstone_rows", "count"),
    ("incremental.compact_bytes_rewritten", "B"),
)
TRACE_METRICS = (("trace.coverage", "ratio"), ("trace.overhead_s", "s"))

# engine functions called from inside other engine calls; the traced run
# wraps these module attributes (the engine imports them at call time)
NESTED = (
    ("theoremsearch_spark.stats", "prepare_docs", "stats.prepare_docs"),
    ("theoremsearch_spark.build", "build_index", "build.build_index"),
    ("theoremsearch_spark.positions", "build_positions", "positions.build_positions"),
)


class Tracer:
    """Per-phase span totals. `phase` is set by `run.py`
    ("setup", "warmup", "timed", "check"); totals are kept per phase."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.totals: dict[str, dict[str, dict[str, float]]] = {}
        self.top_wall: dict[str, float] = {}  # phase -> wall of depth-0 spans
        self.overhead_s = 0.0
        self._depth = 0
        self._store = None
        self._bus = None

    def attach(self, spark) -> None:
        if self.enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    def instrument(self) -> None:
        """Wrap the nested engine entry points in spans (traced run only)."""
        if not self.enabled:
            return
        import importlib

        for module, attr, name in NESTED:
            mod = importlib.import_module(module)
            setattr(mod, attr, self.wrap(name, getattr(mod, attr)))

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _next_job_id(self) -> int:
        if self._store is None:
            return 0
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        first_job = self._next_job_id()
        self._depth += 1
        t0_epoch = time.time()
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            t1_epoch = time.time()
            self._depth -= 1
            b1 = time.perf_counter()
            counters = self._read_jobs(first_job, t0_epoch, t1_epoch)
            counters["wall_s"] = wall
            counters["driver_s"] = max(0.0, wall - counters.pop("job_cover_s"))
            acc = self.totals.setdefault(self.phase, {}).setdefault(name, {})
            for key, val in counters.items():
                acc[key] = acc.get(key, 0.0) + val
            acc["calls"] = acc.get("calls", 0) + 1
            if self._depth == 0:
                self.top_wall[self.phase] = self.top_wall.get(self.phase, 0.0) + wall
            self.overhead_s += time.perf_counter() - b1

    def _read_jobs(self, first_job: int, t0: float, t1: float) -> dict[str, float]:
        out = dict.fromkeys(
            ("jobs", "tasks", "executor_run_s", "input_bytes",
             "shuffle_write_bytes", "spill_bytes", "job_cover_s"), 0.0)
        if self._store is None:
            return out
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()  # the status listener runs asynchronously
        jobs = self._store.jobsList(None)
        intervals, stages = [], set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < first_job:
                break
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else t0
            end = done.get().getTime() / 1000 if done.isDefined() else t1
            intervals.append((max(start, t0), min(end, t1)))
            ids = job.stageIds()
            stages.update(ids.apply(k) for k in range(ids.size()))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran
                continue
            out["executor_run_s"] += st.executorRunTime() / 1000
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        covered, end = 0.0, float("-inf")
        for a, b in sorted(intervals):
            if b <= a or b <= end:
                continue
            covered += b - max(a, end)
            end = b
        out["job_cover_s"] = covered
        return out

    def layer_metrics(self) -> dict:
        """Per-layer metrics: each span's counters summed over the timed
        phase; a span idle there reports its set-up calls instead (the
        session, and serve's index build), or 0."""
        timed, setup = self.totals.get("timed", {}), self.totals.get("setup", {})
        out = {}
        for span in SPANS:
            src = timed.get(span) or setup.get(span) or {}
            for counter, unit in COUNTERS:
                out[f"{span}.{counter}"] = {"value": src.get(counter, 0.0), "unit": unit}
        return out
