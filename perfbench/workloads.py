"""The benchmark's three closed-loop workloads.

Each workload is driven by one client in one process: the next operation
starts only after the previous one returns. A workload is built in its
constructor (set-up, including one untimed warm-up operation that pays the
cold-JVM cost) and then measured by :meth:`phase`, which runs whole
operations, at least one, while the next is expected to end within
``seconds``. ``phase`` takes an optional
:class:`tracing.Tracer`; with one, every operation runs inside a traced job
group and :meth:`layers` turns the recorded spans into per-layer metrics.

Every operation is checked; a failed check or an exception counts as a
failed operation (``Checks``).
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from tracing import Tracer, median

# The reference's monitoring pair (sql/query_metrics.sql, sql/query_parts.sql),
# verbatim apart from the database/table placeholders filled in.
QUERY_METRICS_SQL = """
SELECT
    metric,
    value,
    description
FROM system_metrics
WHERE metric IN (
    'DelayedInserts',
    'DistributedFilesToInsert',
    'InsertedRows',
    'InsertedBytes',
    'PartsActive',
    'PartsCommitted',
    'PartsInMemory',
    'PartsMutations',
    'ReplicatedChecks',
    'ReplicatedFetch'
)
ORDER BY metric
"""

QUERY_PARTS_SQL = """
SELECT
    table,
    partition,
    count(*) as parts_count,
    sum(rows) as total_rows,
    formatReadableSize(sum(bytes_on_disk)) as total_size
FROM system_parts
WHERE active AND database = 'default' AND table = 'test_local'
GROUP BY table, partition
ORDER BY parts_count DESC
LIMIT 20
"""

TABLE = "test_local"
BATCH_ROWS = 100_000
PARTITIONS = 24  # hourly partitions one generated batch touches
DELAY_AT, THROW_AT = 50, 100
MERGE_EVERY = 3
# Steady merge cycle after the warm-up insert left 24 active parts: per insert
# position, (active parts after it, admission delay, flow zone after it). The
# third insert is admitted at 72 parts: delay (72 - 50 + 1) / 50 = 0.46 s.
CYCLE = [(48, 0.0, "ok"), (72, 0.0, "delay"), (96, 0.46, "delay")]
PREFILL_BATCHES = 4
PIPELINE = "pipeline_select_dedup_pack"
PIPELINE_SHARDS = 16


@dataclass
class Context:
    spark: object
    seed: int
    base_time: str
    workdir: str


@dataclass
class Checks:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.append(f"{what}: {'; '.join(problems)}")

    @contextlib.contextmanager
    def operation(self, what: str):
        """Counts an exception raised by the operation as a failure."""
        try:
            yield
        except Exception as exc:  # an operation error is a result, not a crash
            self.record(what, [f"{type(exc).__name__}: {exc}"])
            raise PhaseAborted from exc


class PhaseAborted(Exception):
    """An operation raised; the workload's state is unknown, so stop."""


@dataclass
class Phase:
    wall_s: float
    rows: int  # input rows covered by the phase's operations
    op_s: list[float]  # per-operation latency samples (the workload's op)
    samples: dict[str, list[float]] = field(default_factory=dict)
    first_job: int = 0
    end_job: int = 0

    @property
    def rows_per_s(self) -> float:
        return self.rows / self.wall_s


def _measure(seconds: float, tracer: Tracer | None, step) -> tuple[float, int, int]:
    """Call ``step`` (one whole operation) at least once, and again while
    one more, at the mean length so far, is expected to end within
    ``seconds``; a slow box runs fewer operations instead of overrunning.
    Returns (wall s, first job id, end job id)."""
    first_job = tracer.next_job_id() if tracer else 0
    t0 = time.perf_counter()
    n = 0
    while True:
        step()
        n += 1
        elapsed = time.perf_counter() - t0
        if elapsed + elapsed / n > seconds:
            return elapsed, first_job, tracer.next_job_id() if tracer else 0


def _op(tracer: Tracer | None, name: str):
    return tracer.op(name) if tracer is not None else contextlib.nullcontext()


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _rows(df_rows) -> list[tuple]:
    return [tuple(r) for r in df_rows]


class _TableWorkload:
    """Shared by ingest_loop and monitor_poll: one Engine, the reference's
    test_local table with runtime thresholds delay=50 / throw=100, and the
    monitoring pair."""

    def __init__(self, ctx: Context, checks: Checks):
        from clickhousedatamocker_spark.engine import Engine
        from clickhousedatamocker_spark.schema import test_local_spec
        from clickhousedatamocker_spark.sources.generator import BatchGenerator

        self.ctx = ctx
        self.checks = checks
        self.engine = Engine(ctx.spark, os.path.join(ctx.workdir, "warehouse"))
        self.engine.create_table(test_local_spec())
        self.engine.alter_setting(
            TABLE, parts_to_delay_insert=DELAY_AT, parts_to_throw_insert=THROW_AT
        )
        self.gen = BatchGenerator(ctx.spark, seed=ctx.seed, base_time=ctx.base_time)
        self.batches = 0
        self.generated = 0
        self.committed = 0
        self.delayed = 0
        self.catalyst: dict[int, tuple[int, int, int]] = {}
        # (InsertResult, active parts after it) of traced inserts
        self.traced_inserts: list[tuple] = []

    def insert(self, tracer, expect: tuple[int, float, str] | None) -> tuple[float, float]:
        """One generated 100k batch through Engine.insert plus the flow
        status read. Returns (raw insert s, admission delay s)."""
        what = f"insert {self.batches + 1}"
        with self.checks.operation(what), _op(tracer, "insert"):
            batch = self.gen.batch_with_partition(BATCH_ROWS, batch_no=self.batches)
            self.batches += 1
            self.generated += BATCH_ROWS
            t0 = time.perf_counter()
            res = self.engine.insert(TABLE, batch)
            raw = time.perf_counter() - t0 - res.delay_s
            status = self.engine.flow_status(TABLE)
        self.committed += res.rows
        self.delayed += res.delay_s > 0
        if tracer is not None:
            self.traced_inserts.append((res, status.active_parts))
        problems = []
        if res.rows != BATCH_ROWS or self.committed != self.generated:
            problems.append(f"committed {self.committed} of {self.generated} generated rows")
        if res.new_parts != PARTITIONS:
            problems.append(f"{res.new_parts} new parts, expected {PARTITIONS}")
        if expect is not None:
            got = (status.active_parts, round(res.delay_s, 9), status.zone)
            if got != expect:
                problems.append(f"(active parts, delay, zone) {got}, expected {expect}")
        if status.delayed_inserts != self.delayed:
            problems.append(f"DelayedInserts {status.delayed_inserts}, expected {self.delayed}")
        self.checks.record(what, problems)
        return raw, res.delay_s

    def poll(self, tracer) -> tuple[float, list[tuple], list[tuple]]:
        """The monitoring pair: both Engine.sql calls and both collects."""
        with self.checks.operation("poll"), _op(tracer, "poll") as op:
            t0 = time.perf_counter()
            dfs = [self.engine.sql(QUERY_METRICS_SQL), self.engine.sql(QUERY_PARTS_SQL)]
            with _span(tracer, "engine.collect"):
                metrics, parts = (_rows(df.collect()) for df in dfs)
            elapsed = time.perf_counter() - t0
            if tracer is not None:
                self.catalyst[op.id] = _catalyst_ms(dfs)
        return elapsed, metrics, parts

    def check_poll(self, metrics: list[tuple], parts: list[tuple], parts_per_partition: int):
        problems = []
        values = {m[0]: m[1] for m in metrics}
        if len(metrics) != 10:
            problems.append(f"{len(metrics)} metric rows, expected 10")
        if values.get("InsertedRows") != self.committed:
            problems.append(f"InsertedRows {values.get('InsertedRows')} != committed {self.committed}")
        if len(parts) != 20 or any(p[2] != parts_per_partition for p in parts):
            problems.append(
                f"parts rows {[p[2] for p in parts]}, expected 20 x {parts_per_partition}"
            )
        self.checks.record("poll", problems)

    def layers(self, tracer: Tracer, stages: dict[int, int]) -> dict[str, float]:
        ops = [s for s in tracer.spans if s.parent is None]
        inserts = [s for s in ops if s.name == "insert"]
        polls = [s for s in ops if s.name == "poll"]
        merges = [s for s in ops if s.name == "merge"]
        writes = [w for s in inserts for w in tracer.descendants(s, "ingest.write")]

        def jobs(s):
            return s.jobs[1] - s.jobs[0]

        def nstages(s):
            return sum(stages.get(j, 0) for j in range(*s.jobs))

        def per_op(spans_of, name, scale=1.0):
            return median(sum(x.end - x.start for x in spans_of(s, name)) * scale for s in polls)

        results = [r for r, _ in self.traced_inserts]
        rows = sum(r.rows for r in results)
        c = tracer.counts
        out = {
            "generator.batch_s": median(
                x.end - x.start for s in inserts for x in tracer.descendants(s, "generator.batch")
            ),
            "flow_control.admits": c.get("flow_control.admits", 0),
            "flow_control.delayed": c.get("flow_control.delayed", 0),
            "flow_control.rejected": c.get("flow_control.rejected", 0),
            "flow_control.delay_s": c.get("flow_control.delay_s", 0.0),
            "ingest.write_s": median(tracer.self_time(w) for w in writes),
            "ingest.jobs_per_insert": median(jobs(s) for s in inserts),
            "ingest.stages_per_insert": median(nstages(s) for s in inserts),
            "ingest.bytes_per_row": (
                sum(r.bytes_on_disk for r in results) / rows if rows else 0.0
            ),
            "ingest.new_parts_per_insert": median(r.new_parts for r in results),
            "parts.record_commit_s": median(
                x.end - x.start for w in writes for x in tracer.children(w, "parts.record_commit")
            ),
            "parts.active_parts_count_s": median(
                x.end - x.start
                for w in writes
                for x in tracer.children(w, "parts.active_parts_count")
            ),
            "parts.active_parts": max((n for _, n in self.traced_inserts), default=0),
            "merges.run_once_s": median(
                x.end - x.start for s in merges for x in tracer.children(s, "merges.run_once")
            ),
            "merges.merges": c.get("merges.merges", 0) / len(merges) if merges else 0,
            "merges.parts_retired": c.get("merges.parts", 0) / len(merges) if merges else 0,
            "merges.bytes_rewritten": c.get("merges.bytes", 0) / len(merges) if merges else 0,
            "merges.jobs": median(jobs(s) for s in merges),
            "engine.sql_build_s": per_op(tracer.children, "engine.sql"),
            "engine.refresh_views_s": per_op(tracer.descendants, "engine.refresh_system_views"),
            "engine.collect_s": per_op(tracer.children, "engine.collect"),
            "engine.jobs_per_poll": median(jobs(s) for s in polls),
            "engine.stages_per_poll": median(nstages(s) for s in polls),
            "compat.translate_ms": per_op(tracer.descendants, "compat.translate_ch_sql", 1000.0),
            "compat.calls": median(
                len(tracer.descendants(s, "compat.translate_ch_sql")) for s in polls
            ),
            "metrics.to_df_s": per_op(tracer.descendants, "metrics.to_df"),
        }
        for i, phase_name in enumerate(("analysis", "optimization", "planning")):
            out[f"engine.catalyst_ms.{phase_name}"] = median(
                self.catalyst[s.id][i] for s in polls if s.id in self.catalyst
            )
        return out


def _catalyst_ms(dfs) -> tuple[int, int, int]:
    """Summed analysis / optimization / planning ms of the collected plans."""
    totals = [0, 0, 0]
    for df in dfs:
        phases = df._jdf.queryExecution().tracker().phases()
        for i, name in enumerate(("analysis", "optimization", "planning")):
            summary = phases.get(name)
            if summary.isDefined():
                totals[i] += summary.get().durationMs()
    return tuple(totals)


class IngestLoop(_TableWorkload):
    """The reference's setup.sh cycle, back to back: generate, insert, flow
    status, monitoring pair; a synchronous merge pass after every third
    insert keeps active parts cycling 48 -> 72 -> 96 -> (merge) -> 24."""

    def __init__(self, ctx: Context, checks: Checks):
        super().__init__(ctx, checks)
        # warm-up: the first insert and poll pay JIT and committer start-up
        # and leave 24 active parts, the start of the cycle
        self.insert(None, (PARTITIONS, 0.0, "ok"))
        _, metrics, parts = self.poll(None)
        self.check_poll(metrics, parts, 1)

    def merge(self, tracer) -> None:
        with self.checks.operation("merge"), _op(tracer, "merge"):
            merged = self.engine.merge_once(TABLE, min_parts_to_merge=MERGE_EVERY)
            status = self.engine.flow_status(TABLE)
        problems = []
        if merged != PARTITIONS or status.active_parts != PARTITIONS:
            problems.append(f"{merged} merges left {status.active_parts} active parts")
        self.checks.record("merge", problems)

    def cycle(self, tracer, insert_s: list[float], poll_s: list[float]) -> None:
        for expect in CYCLE:
            raw, _ = self.insert(tracer, expect)
            insert_s.append(raw)
            elapsed, metrics, parts = self.poll(tracer)
            poll_s.append(elapsed)
            self.check_poll(metrics, parts, expect[0] // PARTITIONS)
        self.merge(tracer)

    def phase(self, seconds: float, tracer: Tracer | None = None) -> Phase:
        insert_s, poll_s = [], []
        rows0 = self.committed
        wall, first_job, end_job = _measure(
            seconds, tracer, lambda: self.cycle(tracer, insert_s, poll_s)
        )
        return Phase(
            wall, self.committed - rows0, insert_s, {"insert_s": insert_s, "poll_s": poll_s},
            first_job, end_job,
        )


class MonitorPoll(_TableWorkload):
    """The monitoring pair polled back to back against a table pre-filled
    with four generated batches (96 active parts, 4 per partition); no
    writes while timing."""

    def __init__(self, ctx: Context, checks: Checks):
        super().__init__(ctx, checks)
        for i in range(PREFILL_BATCHES):
            self.insert(None, None)
        # warm-up poll; every later poll must equal it
        _, metrics, parts = self.poll(None)
        self.check_poll(metrics, parts, PREFILL_BATCHES)
        self.reference = (metrics, parts)
        self.table_rows = self.committed

    def phase(self, seconds: float, tracer: Tracer | None = None) -> Phase:
        poll_s = []

        def step():
            elapsed, metrics, parts = self.poll(tracer)
            poll_s.append(elapsed)
            same = (metrics, parts) == self.reference
            self.checks.record("poll", [] if same else ["result differs from the first poll"])

        wall, first_job, end_job = _measure(seconds, tracer, step)
        return Phase(
            wall, len(poll_s) * self.table_rows, poll_s, {"poll_s": poll_s}, first_job, end_job
        )


class LlmPipeline:
    """The registry's pipeline_select_dedup_pack over a seeded 5,000-document
    corpus (the sf0.1 fixture's size and shape), run and collected."""

    def __init__(self, ctx: Context, checks: Checks):
        import corpus
        import pyarrow as pa
        import pyarrow.parquet as pq

        import clickhousedatamocker_spark.operators.dedup as dedup
        from clickhousedatamocker_spark.queries import REGISTRY

        self.ctx = ctx
        self.checks = checks
        self.fn = REGISTRY[PIPELINE].fn
        rows, dup_of = corpus.make_corpus(ctx.seed)
        self.n_docs = len(rows)
        self.data_dir = os.path.join(ctx.workdir, "corpus")
        os.makedirs(self.data_dir)
        cols = list(zip(*rows))
        table = pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(self.data_dir, "documents.parquet"))

        # warm-up run (cold JIT). It also captures the DSIR-selected ids where
        # the selected slice enters MinHash, from which the expected report
        # follows (corpus.expected_report). Later runs must return the same.
        selected: set[int] = set()
        orig = dedup.minhash_lsh_pairs

        def capture(docs, *args, **kwargs):
            selected.update(r[0] for r in docs.select("doc_id").collect())
            return orig(docs, *args, **kwargs)

        dedup.minhash_lsh_pairs = capture
        try:
            _, report = self.run()
        finally:
            dedup.minhash_lsh_pairs = orig
        self.expected = corpus.expected_report(
            {r[0]: r[1] for r in rows}, dup_of, selected, n_shards=PIPELINE_SHARDS
        )
        survivors = sum(1 for d in selected if not (d in dup_of and dup_of[d] in selected))
        self.survivor_ratio = survivors / len(selected) if selected else 0.0
        self.check(report, len(selected))
        # the first warm run is still JIT-compiling: one more before timing
        self.check(self.run()[1])

    def check(self, report: list[tuple], n_selected: int | None = None) -> None:
        problems = []
        if len(report) != PIPELINE_SHARDS:
            problems.append(f"{len(report)} shard rows, expected {PIPELINE_SHARDS}")
        if report != self.expected:
            problems.append("per-shard counts differ from the expected report")
        if n_selected is not None and n_selected != self.n_docs // 2:
            problems.append(f"{n_selected} documents selected, expected {self.n_docs // 2}")
        self.checks.record("pipeline", problems)

    def run(self, tracer: Tracer | None = None) -> tuple[float, list[tuple]]:
        """One pipeline run: the registry call plus collect()."""
        with self.checks.operation("pipeline"), _op(tracer, "pipeline"):
            t = time.perf_counter()
            with _span(tracer, "pipeline.fn"):
                df = self.fn(self.ctx.spark, self.data_dir)
            with _span(tracer, "pipeline.collect"):
                report = _rows(df.collect())
            return time.perf_counter() - t, report

    def phase(self, seconds: float, tracer: Tracer | None = None) -> Phase:
        runs = []

        def step():
            elapsed, report = self.run(tracer)
            runs.append(elapsed)
            self.check(report)

        wall, first_job, end_job = _measure(seconds, tracer, step)
        return Phase(wall, len(runs) * self.n_docs, runs, {"pipeline_s": runs}, first_job, end_job)

    def layers(self, tracer: Tracer, stages: dict[int, int]) -> dict[str, float]:
        ops = [s for s in tracer.spans if s.parent is None and s.name == "pipeline"]
        fns = [f for s in ops for f in tracer.children(s, "pipeline.fn")]
        out = {}
        for metric, span_name in OPERATOR_STAGES:
            out[metric] = median(
                sum(x.end - x.start for x in tracer.children(f, span_name)) for f in fns
            )
        out["pipeline.self_s"] = median(tracer.self_time(f) for f in fns)
        out["pipeline.collect_s"] = median(
            x.end - x.start for s in ops for x in tracer.children(s, "pipeline.collect")
        )
        out["pipeline.jobs"] = median(s.jobs[1] - s.jobs[0] for s in ops)
        out["pipeline.stages"] = median(
            sum(stages.get(j, 0) for j in range(*s.jobs)) for s in ops
        )
        out["dedup.survivor_ratio"] = self.survivor_ratio
        return out


# per-layer metric -> span name of the stage function the pipeline calls
OPERATOR_STAGES = [
    ("operators.parallelism.ensure_scan_parallelism_s", "operators.parallelism.ensure_scan_parallelism"),
    ("operators.importance.train_s", "operators.importance.train"),
    ("operators.importance.dsir_select_s", "operators.importance.dsir_select"),
    ("operators.dedup.minhash_lsh_pairs_s", "operators.dedup.minhash_lsh_pairs"),
    ("operators.dedup.fuzzy_dedup_canonical_s", "operators.dedup.fuzzy_dedup_canonical"),
    ("operators.corpus.pack_s", "operators.corpus.pack"),
]

WORKLOADS = {"ingest_loop": IngestLoop, "monitor_poll": MonitorPoll, "llm_pipeline": LlmPipeline}
