"""Instrumentation for the traced run, kept entirely in the benchmark.

:class:`Tracer` wraps the package's public functions and methods at run
time (class and module attributes) and restores them afterwards, so the
package carries no tracing code. Each wrapper records a span (name, start,
end, parent) in memory; the spans are written once, at the end of the run.

Spark work is counted from the scheduler's job and stage id counters, which
also see jobs submitted from worker threads (the merge scheduler runs its
merges on a thread pool, outside the caller's job group). Stage counts are
the sum of each job's stage ids, skipped stages included, and are resolved
once the listener bus has drained.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    thread: str = "main"
    jobs: tuple[int, int] | None = None  # [first, end) scheduler job ids


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._op: Span | None = None
        self._patches: list[tuple[object, str, object]] = []
        # counters fed by return values (flow-control decisions, merge picks)
        self.counts: dict[str, float] = {}

    # -- spans ---------------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, count_jobs: bool = False) -> Span:
        stack = self._stack()
        on_main = threading.current_thread() is self._main
        if stack:
            parent = stack[-1].id
        else:
            parent = self._op.id if (self._op is not None and not on_main) else None
        with self._lock:
            span = Span(len(self.spans), name, parent, 0.0)
            self.spans.append(span)
        if not on_main:
            span.thread = threading.current_thread().name
        elif count_jobs:
            span.jobs = (self.next_job_id(), -1)
        stack.append(span)
        span.start = time.perf_counter()
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        if span.jobs is not None:
            span.jobs = (span.jobs[0], self.next_job_id())
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = False):
        span = self.begin(name, count_jobs)
        try:
            yield span
        finally:
            self.end(span)

    @contextlib.contextmanager
    def op(self, name: str):
        """Top-level operation: a span plus a job group of its own."""
        self.sc.setJobGroup(f"perfbench-{len(self.spans)}", name)
        try:
            with self.span(name, count_jobs=True) as span:
                self._op = span
                yield span
        finally:
            self._op = None
            self._jsc.clearJobGroup()

    def count(self, key: str, by: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + by

    # -- wrappers --------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, count_jobs: bool = False, on_result=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            try:
                with tracer.span(name, count_jobs):
                    result = orig(*args, **kwargs)
            except Exception as exc:
                if on_result is not None:
                    on_result(None, exc)
                raise
            if on_result is not None:
                on_result(result, None)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- resolution ------------------------------------------------------------
    def stage_counts(self, first_job: int, end_job: int) -> dict[int, int]:
        """job id -> number of stage ids, once the listener bus is drained."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {}
        for job in range(first_job, end_job):
            info = tracker.getJobInfo(job)
            out[job] = len(list(info.stageIds)) if info is not None else 0
        return out

    def children(self, span: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id and s.name == name]

    def descendants(self, span: Span, name: str) -> list[Span]:
        ids = {span.id}
        out = []
        for s in self.spans[span.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                if s.name == name:
                    out.append(s)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by direct child spans on the
        same thread (children never overlap on one thread)."""
        covered = sum(
            c.end - c.start
            for c in self.spans[span.id + 1 :]
            if c.parent == span.id and c.thread == span.thread
        )
        return (span.end - span.start) - covered

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def parse_event_log(log_dir: str, first_job: int, end_job: int) -> dict[str, float]:
    """Task count, shuffle bytes and executor run time of the jobs with ids
    in [first_job, end_job), from the Spark event log in ``log_dir``."""
    stages: set[int] = set()
    totals = {"tasks": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "executor_run_ms": 0}
    files = [os.path.join(d, name) for d, _, names in os.walk(log_dir) for name in names]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                if first_job <= ev["Job ID"] < end_job:
                    stages.update(ev["Stage IDs"])
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                if ev["Stage ID"] not in stages:
                    continue
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                totals["tasks"] += 1
                totals["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                totals["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                totals["executor_run_ms"] += m.get("Executor Run Time", 0)
    return totals


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer the workloads reach."""
    import clickhousedatamocker_spark.functions.compat as compat
    import clickhousedatamocker_spark.operators.corpus as corpus_ops
    import clickhousedatamocker_spark.operators.dedup as dedup
    import clickhousedatamocker_spark.operators.importance as importance
    import clickhousedatamocker_spark.operators.parallelism as parallelism
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.plans.flow_control import FlowController, TooManyPartsError
    from clickhousedatamocker_spark.plans.ingest import Writer
    from clickhousedatamocker_spark.plans.merges import MergeScheduler
    from clickhousedatamocker_spark.plans.metrics import MetricsStore
    from clickhousedatamocker_spark.plans.parts import PartsInventory
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    def on_admit(decision, exc):
        if isinstance(exc, TooManyPartsError):
            tracer.count("flow_control.rejected")
        elif decision is not None:
            tracer.count("flow_control.admits")
            if decision.zone == "delay":
                tracer.count("flow_control.delayed")
                tracer.count("flow_control.delay_s", decision.delay_s)

    def on_merge_pass(merges, exc):
        if merges is not None:
            tracer.count("merges.merges", merges)

    def on_merge_select(picks, exc):
        for _, plist in picks or ():
            tracer.count("merges.parts", len(plist))
            tracer.count("merges.bytes", sum(p["bytes_on_disk"] for p in plist))

    w = tracer.wrap
    w(BatchGenerator, "batch_with_partition", "generator.batch")
    w(FlowController, "admit", "flow_control.admit", on_result=on_admit)
    w(Writer, "insert", "ingest.write")
    w(PartsInventory, "record_commit", "parts.record_commit")
    w(PartsInventory, "active_parts_count", "parts.active_parts_count")
    w(MergeScheduler, "run_once", "merges.run_once", on_result=on_merge_pass)
    w(MergeScheduler, "select", "merges.select", on_result=on_merge_select)
    w(MetricsStore, "to_df", "metrics.to_df")
    w(Engine, "sql", "engine.sql")
    w(Engine, "refresh_system_views", "engine.refresh_system_views")
    w(compat, "translate_ch_sql", "compat.translate_ch_sql")
    w(parallelism, "ensure_scan_parallelism", "operators.parallelism.ensure_scan_parallelism")
    w(importance, "train_hashed_ngram_model_pair", "operators.importance.train")
    w(importance, "dsir_select", "operators.importance.dsir_select")
    w(dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs")
    w(dedup, "fuzzy_dedup_canonical", "operators.dedup.fuzzy_dedup_canonical")
    w(corpus_ops, "pack_token_sequences", "operators.corpus.pack")
