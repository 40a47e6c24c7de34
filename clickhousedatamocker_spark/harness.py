"""The one-shot orchestration harness — ``scripts/setup.sh`` re-expressed.

Stage-for-stage parity with setup.sh:81-165:
  probe → (optional cleanup) → create local + distributed-alias tables →
  ALTER flow-control settings → loop{ insert batch, check flow status,
  early-stop on throw, sleep } → final full report.

The reference's success criterion is observational: flow control triggers
within 60 one-second inserts (CLAUDE.md:429-433). The generator's 0-23h
timestamp spread creates up to 24 new parts per insert, so the active-part
count crosses delay=50 around insert ~3 and throw=100 around insert ~5 with
the runtime thresholds — faithfully pessimal.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from clickhousedatamocker_spark.config import HarnessConfig
from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.plans.flow_control import TooManyPartsError
from clickhousedatamocker_spark.schema import test_local_spec
from clickhousedatamocker_spark.sources.generator import BatchGenerator

log = logging.getLogger("clickhousedatamocker_spark.harness")

# the reference's canonical monitoring queries (sql/query_metrics.sql,
# sql/query_parts.sql) — run verbatim through spark.sql
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
WHERE active AND database = '{database}' AND table = '{table}'
GROUP BY table, partition
ORDER BY parts_count DESC
LIMIT 20
"""


@dataclass
class HarnessResult:
    inserts_attempted: int
    inserts_succeeded: int
    rows_inserted: int
    flow_control_triggered: bool
    throw_triggered: bool
    final_active_parts: int
    per_batch_seconds: list[float] = field(default_factory=list)
    # one record per iteration — the observability the reference's loop
    # prints per insert (setup.sh:125-151 + check_flow_control_status):
    # {i, rows, new_parts, elapsed_s, delay_s, active_parts, zone,
    #  delayed_inserts} — so a run IS its own artifact
    iterations: list[dict] = field(default_factory=list)
    # final full-report rows (monitor_metrics.sh:114-126's three sections;
    # the flow-status section is final_active_parts + the thresholds)
    final_metrics: list[dict] = field(default_factory=list)
    final_parts: list[dict] = field(default_factory=list)


def run_harness(
    spark: SparkSession,
    warehouse_dir: str,
    config: HarnessConfig | None = None,
    *,
    show_reports: bool = False,
) -> HarnessResult:
    cfg = config or HarnessConfig()
    engine = Engine(spark, warehouse_dir, cfg.database)

    # 1. connectivity probe (setup.sh:94-99)
    assert engine.probe()

    # 2. optional cleanup (setup.sh:102-104 → 63-67)
    if cfg.cleanup:
        engine.drop_table(cfg.distributed_table)
        engine.drop_table(cfg.table)

    # 3. create tables (setup.sh:70-78)
    spec = test_local_spec()
    spec.name = cfg.table
    engine.create_table(spec)
    engine.create_alias(cfg.distributed_table, cfg.table)

    # 4. apply runtime flow-control settings (setup.sh:108-110, set_flow_control.sh:35-40)
    engine.alter_setting(
        cfg.table,
        parts_to_delay_insert=cfg.parts_to_delay_insert,
        parts_to_throw_insert=cfg.parts_to_throw_insert,
        max_partitions_per_insert_block=cfg.max_partitions_per_insert_block,
    )

    gen = BatchGenerator(spark, seed=cfg.seed, base_time=cfg.base_time)
    result = HarnessResult(0, 0, 0, False, False, 0)

    # CH's background merge pool racing the insert loop (the healthy-server
    # mode whose absence the reference's experiment manufactures)
    merge_sched = None
    if cfg.background_merges:
        merge_sched = engine.start_background_merges(
            cfg.table, interval_s=0.2, min_parts_to_merge=cfg.merge_min_parts
        )

    # 5. insert/monitor loop (setup.sh:125-151)
    try:
        for i in range(1, cfg.max_insert_count + 1):
            result.inserts_attempted = i
            batch = gen.batch_with_partition(cfg.batch_size, batch_no=i - 1)
            try:
                ins = engine.insert(
                    cfg.distributed_table, batch, enforce_partition_cap=cfg.enforce_max_partitions
                )
            except TooManyPartsError as e:
                # insert failure path (setup.sh:129-134)
                log.warning("insert %d rejected: %s", i, e)
                result.throw_triggered = True
                result.flow_control_triggered = True
                st = engine.flow_status(cfg.table)
                result.iterations.append(
                    {
                        "i": i,
                        "rows": 0,
                        "new_parts": 0,
                        "elapsed_s": 0.0,
                        "delay_s": 0.0,
                        "active_parts": st.active_parts,
                        "zone": "throw",
                        "delayed_inserts": st.delayed_inserts,
                        "rejected": True,
                    }
                )
                break
            result.inserts_succeeded = i
            result.rows_inserted += ins.rows
            result.per_batch_seconds.append(ins.elapsed_s)
            if ins.delay_s > 0:
                result.flow_control_triggered = True
            log.info(
                "insert %d: %d rows, %d new parts, %d partitions, %.3fs (delay %.3fs)",
                i, ins.rows, ins.new_parts, ins.partitions_touched, ins.elapsed_s, ins.delay_s,
            )

            # background-merge simulation (≈ CH merge scheduler racing inserts)
            if cfg.optimize_every and i % cfg.optimize_every == 0:
                merged = engine.optimize(cfg.table)
                log.info("optimize after insert %d: %d partitions compacted", i, merged)

            # flow status check + early stop (setup.sh:137-145)
            status = engine.flow_status(cfg.table)
            result.iterations.append(
                {
                    "i": i,
                    "rows": ins.rows,
                    "new_parts": ins.new_parts,
                    "elapsed_s": round(ins.elapsed_s, 4),
                    "delay_s": round(ins.delay_s, 4),
                    "active_parts": status.active_parts,
                    "zone": status.zone,
                    "delayed_inserts": status.delayed_inserts,
                }
            )
            if status.zone == "throw":
                log.warning("active parts %d >= throw threshold %d — stopping", status.active_parts, status.parts_to_throw_insert)
                result.flow_control_triggered = True
                result.throw_triggered = True
                break
            if cfg.insert_interval_s:
                time.sleep(cfg.insert_interval_s)
    except KeyboardInterrupt:  # trap ... INT (setup.sh:168)
        log.warning("test interrupted")
    finally:
        if merge_sched is not None:
            merge_sched.stop()

    # 6. final full report (setup.sh:160-162 → monitor_metrics.sh:114-126)
    metrics_df = engine.sql(QUERY_METRICS_SQL)
    parts_df = engine.sql(QUERY_PARTS_SQL.format(database=cfg.database, table=cfg.table))
    if show_reports:
        metrics_df.show(truncate=False)
        parts_df.show(truncate=False)
    result.final_metrics = [r.asDict() for r in metrics_df.collect()]
    result.final_parts = [r.asDict() for r in parts_df.collect()]
    result.final_active_parts = engine.flow_status(cfg.table).active_parts
    return result
