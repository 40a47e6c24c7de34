"""The insert hot path: ``BatchGenerator.batch`` into ``Writer.insert``.

Every batch runs the same compiled code, the insert's exchange is as wide
as the cores (never wider than the table's ``partition_buckets``), and every
part an insert or a merge writes is sorted on the ORDER BY key, so Parquet
row-group statistics prune like MergeTree's sparse index."""

import glob
import os

import pyarrow.parquet as pq

from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.sources.generator import BatchGenerator
from tests.conftest import create_test_local, job_window

N = 3000
BASE_TIME = "2026-01-01 12:00:00"


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())


def _last_stage_tasks(spark, job: int) -> int:
    """Tasks of the final stage of ``job`` (the write stage of an insert)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage = max(tracker.getJobInfo(job).stageIds)
    return tracker.getStageInfo(stage).numTasks


def _is_sorted(path: str) -> bool:
    rows = pq.read_table(path, columns=["event_time", "id"]).to_pylist()
    keys = [(r["event_time"], r["id"]) for r in rows]
    return keys == sorted(keys)


def _engine(spark, warehouse):
    engine = Engine(spark, warehouse)
    create_test_local(engine)
    return engine, engine.catalog.get("test_local")


def test_next_batch_compiles_nothing(spark, tmp_warehouse):
    engine, _ = _engine(spark, tmp_warehouse)
    gen = BatchGenerator(spark, seed=3, base_time=BASE_TIME)
    engine.insert("test_local", gen.batch_with_partition(N, batch_no=0))
    before = _compiles(spark)
    engine.insert("test_local", gen.batch_with_partition(N, batch_no=5))
    assert _compiles(spark) - before == 0


def test_insert_writes_one_file_per_hour_at_core_width(spark, tmp_warehouse):
    engine, handle = _engine(spark, tmp_warehouse)
    gen = BatchGenerator(spark, seed=3, base_time=BASE_TIME)
    with job_window(spark) as window:
        res = engine.insert("test_local", gen.batch_with_partition(N, batch_no=0))
    assert window.jobs == 2
    files = glob.glob(os.path.join(handle.path, "event_hour=*", "*.parquet"))
    assert res.new_parts == len(files) == 24
    assert len({os.path.dirname(f) for f in files}) == 24
    width = min(handle.settings["partition_buckets"], spark.sparkContext.defaultParallelism)
    assert _last_stage_tasks(spark, window.first + window.jobs - 1) == width


def test_inserted_and_merged_parts_are_sorted_on_the_order_key(spark, tmp_warehouse):
    engine, handle = _engine(spark, tmp_warehouse)
    assert handle.order_columns == ["event_time", "id"]
    gen = BatchGenerator(spark, seed=3, base_time=BASE_TIME)
    for b in range(2):
        engine.insert("test_local", gen.batch_with_partition(N, batch_no=b))
    inserted = glob.glob(os.path.join(handle.path, "event_hour=*", "*.parquet"))
    assert len(inserted) == 48
    assert all(_is_sorted(f) for f in inserted)

    assert engine.merge_once("test_local", min_parts_to_merge=2) == 24
    active = engine.parts.active_by_partition("test_local", handle.path)
    merged = [p["name"] for plist in active.values() for p in plist]
    assert len(merged) == 24
    assert all(_is_sorted(os.path.join(handle.path, name)) for name in merged)
