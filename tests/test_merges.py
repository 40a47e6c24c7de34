"""Background merge scheduler (plans/merges.py) — the CH equilibrium the
reference's flow-control experiment is designed around: healthy merges keep
active parts bounded and backpressure silent; the demo tightens thresholds
to force it to fire. These tests pin both sides of that equilibrium."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.plans.flow_control import TooManyPartsError
from clickhousedatamocker_spark.plans.merges import MergeScheduler
from clickhousedatamocker_spark.plans.parts import PartsInventory
from clickhousedatamocker_spark.sources.generator import BatchGenerator
from tests.conftest import create_test_local

BASE = "2026-01-01 12:00:00"


def _mk(spark, tmp_warehouse, n_batches, rows=400):
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=3, base_time=BASE)
    for i in range(n_batches):
        engine.insert("test_local", gen.batch_with_partition(rows, batch_no=i))
    return engine


def test_merge_scheduler_bounds_parts_and_preserves_data(spark, tmp_warehouse):
    engine = _mk(spark, tmp_warehouse, n_batches=12)
    handle = engine.catalog.get("test_local")
    before_rows = engine.read_table("test_local").count()
    before_sum = engine.sql("SELECT SUM(user_id) AS s, SUM(status) AS t FROM test_local").first()
    # 12 inserts x 24 hourly partitions -> 12 parts per partition, 288 total
    assert engine.parts.active_parts_count("test_local", handle.path) == 288

    merges = engine.merge_once("test_local", min_parts_to_merge=4, max_parts_per_merge=10)
    assert merges == 24  # every partition was over threshold
    after = engine.parts.active_parts_count("test_local", handle.path)
    # per partition: 12 - 10 merged + 1 merged part = 3
    assert after == 24 * 3
    # merging moves bytes, never rows
    assert engine.read_table("test_local").count() == before_rows
    now = engine.sql("SELECT SUM(user_id) AS s, SUM(status) AS t FROM test_local").first()
    assert (now["s"], now["t"]) == (before_sum["s"], before_sum["t"])
    # a second pass finds nothing to do at the same threshold: equilibrium
    assert engine.merge_once("test_local", min_parts_to_merge=4) == 0
    # system.parts agrees with the manifest (active view only)
    sys_active = engine.sql(
        "SELECT count(*) AS n FROM system.parts WHERE table = 'test_local' AND active"
    ).first()["n"]
    assert sys_active == after
    assert engine.metrics.get("MergedRows") > 0
    assert engine.metrics.get("Merge") == 0  # gauge returns to idle


def test_flow_control_equilibrium_with_and_without_merges(spark, tmp_warehouse):
    """The reference narrative, both directions. Healthy server (merges on):
    thresholds never fire. The demo's manufactured overload (merges off):
    delay then throw, exactly the set_flow_control.sh observation."""
    # merges keep parts <= 3 per partition -> 72 total, under delay=100
    engine = Engine(spark, tmp_warehouse + "/merged")
    create_test_local(engine)
    engine.sql(
        "ALTER TABLE test_local MODIFY SETTING "
        "parts_to_delay_insert = 100, parts_to_throw_insert = 150"
    )
    gen = BatchGenerator(spark, seed=5, base_time=BASE)
    for i in range(8):
        engine.insert("test_local", gen.batch_with_partition(300, batch_no=i))
        engine.merge_once("test_local", min_parts_to_merge=3, max_parts_per_merge=10)
    assert engine.metrics.get("DelayedInserts") == 0
    assert engine.metrics.get("RejectedInserts") == 0
    handle = engine.catalog.get("test_local")
    assert engine.parts.active_parts_count("test_local", handle.path) <= 24 * 3

    # same workload, merges off: 24 new parts/insert -> crosses 100 then 150
    engine2 = Engine(spark, tmp_warehouse + "/unmerged")
    create_test_local(engine2)
    engine2.sql(
        "ALTER TABLE test_local MODIFY SETTING "
        "parts_to_delay_insert = 100, parts_to_throw_insert = 150"
    )
    engine2.flow._sleep = lambda s: None  # don't actually wait in the test
    gen2 = BatchGenerator(spark, seed=5, base_time=BASE)
    with pytest.raises(TooManyPartsError):
        for i in range(8):
            engine2.insert("test_local", gen2.batch_with_partition(300, batch_no=i))
    assert engine2.metrics.get("DelayedInserts") > 0
    assert engine2.metrics.get("RejectedInserts") == 1


def test_merge_applies_replacing_collapse_within_merged_parts(spark, tmp_warehouse):
    """The merge rewrite applies the engine family's collapse over the
    merging parts (CH scope: only the parts in THIS merge)."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE rmt (k UInt64, event_time DateTime, v Float64) "
        "ENGINE = ReplacingMergeTree(event_time) PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    # 4 parts in ONE partition, same keys, rising versions
    for ver in range(4):
        engine.insert(
            "rmt",
            spark.createDataFrame(
                [(k, f"2026-01-01 07:{ver:02d}:00", float(ver)) for k in range(50)],
                "k long, ts string, v double",
            ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS event_time", "v"),
        )
    handle = engine.catalog.get("rmt")
    assert engine.parts.active_parts_count("rmt", handle.path) == 4
    assert engine.merge_once("rmt", min_parts_to_merge=4) == 1
    assert engine.parts.active_parts_count("rmt", handle.path) == 1
    rows = engine.read_table("rmt").collect()
    # keep-newest per key survived the merge
    assert len(rows) == 50 and all(r["v"] == 3.0 for r in rows)


def test_background_merge_thread(spark, tmp_warehouse):
    """The daemon-pool form: merges happen while inserts keep flowing."""
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=7, base_time=BASE)
    sched = engine.start_background_merges(
        "test_local", interval_s=0.05, min_parts_to_merge=3
    )
    try:
        for i in range(6):
            engine.insert("test_local", gen.batch_with_partition(300, batch_no=i))
        deadline = time.monotonic() + 30
        while sched.merges_performed == 0 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        sched.stop()
    assert sched.merges_performed > 0
    assert engine.read_table("test_local").count() == 6 * 300


def test_harness_with_background_merge_pool(spark, tmp_warehouse):
    """run_harness(background_merges=True): the MergeScheduler daemon races
    the insert loop and demonstrably reduces the active part count below
    the merge-less trajectory (8 inserts x 24 parts = 192). Deliberately
    NOT a threshold race — whether the pool outruns a tight threshold
    depends on box load; the deterministic equilibrium claim is pinned by
    test_flow_control_equilibrium_with_and_without_merges above."""
    from clickhousedatamocker_spark.config import HarnessConfig
    from clickhousedatamocker_spark.harness import run_harness

    cfg = HarnessConfig(
        batch_size=2000,
        max_insert_count=8,
        insert_interval_s=1.0,  # the reference cadence; the pool races this
        parts_to_delay_insert=193,  # out of reach even merge-less: the pool's
        parts_to_throw_insert=400,  # effect shows in the part count, not a race
        background_merges=True,
        merge_min_parts=3,
        base_time="2026-01-01 12:00:00",
    )
    res = run_harness(spark, tmp_warehouse, cfg)
    assert res.inserts_succeeded == 8
    assert not res.throw_triggered
    assert res.rows_inserted == 8 * 2000
    # merges demonstrably reduced the part count below the no-merge 192
    assert res.final_active_parts < 192


def test_system_merges_view(spark, tmp_warehouse):
    """system.merges: empty at rest, shows in-flight merges registered by
    the scheduler, empty again once merges complete. The in-flight
    observation injects a registry entry directly (a real merge is too
    fast to race deterministically); the enter/exit bookkeeping itself is
    covered by the registry being empty after real merge passes."""
    import time as _t

    engine = _mk(spark, tmp_warehouse, n_batches=4, rows=200)
    assert engine.sql("SELECT count(*) FROM system.merges").first()[0] == 0

    with engine._merges_lock:
        engine.running_merges[("test_local", "2026010107")] = {
            "table": "test_local",
            "partition": "2026010107",
            "num_parts": 4,
            "rows_read": 800,
            "started": _t.monotonic(),
        }
    row = engine.sql(
        "SELECT table, partition, num_parts, rows_read, elapsed FROM system.merges"
    ).first()
    assert (row["table"], row["partition"], row["num_parts"], row["rows_read"]) == (
        "test_local", "2026010107", 4, 800
    )
    assert row["elapsed"] >= 0.0
    with engine._merges_lock:
        engine.running_merges.clear()

    # real merges: registry drains (empty after), metrics saw the work
    engine.merge_once("test_local", min_parts_to_merge=3)
    assert not engine.running_merges
    assert engine.sql("SELECT count(*) FROM system.merges").first()[0] == 0
    assert engine.metrics.get("MergedRows") > 0


def _active(engine, handle):
    return set(engine.parts.active_names(handle.name, handle.path))


def _assert_parts_match_disk(engine, handle):
    """The manifest's active names are exactly the .parquet files on disk,
    no staging dir or orphaned checksum file is left, the active counter
    agrees with them, and the log replays to the same active set."""
    on_disk, staged, orphans = set(), [], []
    for d, dirs, files in os.walk(handle.path):
        staged += [e for e in dirs + files if e.endswith(".tmp")]
        orphans += [f for f in files if f.endswith(".crc") and f[1:-4] not in files]
        on_disk |= {
            os.path.relpath(os.path.join(d, f), handle.path) for f in files if f.endswith(".parquet")
        }
    active = _active(engine, handle)
    assert active == on_disk
    assert staged == [] and orphans == []
    assert engine.parts.active_parts_count(handle.name, handle.path) == len(active)
    fresh = PartsInventory()
    fresh.load(handle.name, handle.path)
    assert set(fresh.active_names(handle.name, handle.path)) == active


def test_merge_between_insert_write_and_commit_keeps_the_insert_parts(
    spark, tmp_warehouse, monkeypatch
):
    """A merge pass that lands after an insert wrote its files but before
    it registered them merges only registered parts: the insert still
    registers and reports its own 24 parts and rows."""
    engine = _mk(spark, tmp_warehouse, n_batches=3)  # 3 parts per partition
    handle = engine.catalog.get("test_local")
    record_commit, merges = engine.parts.record_commit, []

    def merge_then_commit(table, table_path, since_ns=None):
        if since_ns is not None and not merges:
            merges.append(engine.merge_once("test_local", min_parts_to_merge=3))
        return record_commit(table, table_path, since_ns=since_ns)

    monkeypatch.setattr(engine.parts, "record_commit", merge_then_commit)
    gen = BatchGenerator(spark, seed=3, base_time=BASE)
    res = engine.insert("test_local", gen.batch_with_partition(400, batch_no=3))
    assert merges == [24]
    assert (res.rows, res.new_parts) == (400, 24)
    assert engine.metrics.get("InsertedRows") == 4 * 400
    assert engine.read_table("test_local").count() == 4 * 400
    _assert_parts_match_disk(engine, handle)


def test_merge_between_attach_move_and_commit_keeps_the_attached_parts(
    spark, tmp_warehouse, monkeypatch
):
    """The same interleaving for ATTACH PARTITION: a merge pass between
    the move of the detached files and their registration leaves them to
    the ATTACH, which registers exactly the files it moved."""
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=3, base_time=BASE)
    hours = ("2026010107", "2026010108")
    for i in range(3):
        batch = gen.batch_with_partition(400, batch_no=i)
        engine.insert("test_local", batch.filter(F.col("event_hour").isin(*map(int, hours))))
    handle = engine.catalog.get("test_local")
    rows = engine.read_table("test_local").count()
    assert engine.detach_partition("test_local", hours[1]) == 3

    move, merges = Engine._move_files_merging, []

    def move_then_merge(src_dir, dst_dir, tag):
        moved = move(src_dir, dst_dir, tag)
        if tag == "attached":
            # one eligible partition: the pass runs on this thread, which
            # ATTACH may hold the inventory lock on
            merges.append(engine.merge_once("test_local", min_parts_to_merge=3))
        return moved

    monkeypatch.setattr(Engine, "_move_files_merging", staticmethod(move_then_merge))
    assert engine.attach_partition("test_local", hours[1]) == 3
    assert merges == [1]
    assert engine.read_table("test_local").count() == rows
    _assert_parts_match_disk(engine, handle)


def _rename(engine):
    return engine.rename_column("test_local", "description", "descr")


# operation -> (run it, the value it must return given the table before it)
_REWRITES = {
    "merge_once": (lambda e: e.merge_once("test_local", min_parts_to_merge=3), lambda df: 24),
    "optimize": (lambda e: e.optimize("test_local"), lambda df: 24),
    "optimize_deduplicate": (lambda e: e.optimize("test_local", deduplicate=True), lambda df: 24),
    "delete": (
        lambda e: e.delete_where("test_local", "status < 64"),
        lambda df: df.filter("status < 64").count(),
    ),
    "update": (
        lambda e: e.update_where("test_local", {"status": "status + 1"}, "event_type = 'click'"),
        lambda df: df.filter("event_type = 'click'").count(),
    ),
    "rename_column": (_rename, lambda df: df.count()),
}

# operation -> the table's rows after it, given the table before it
_ROWS_AFTER = {
    "optimize_deduplicate": lambda df: df.distinct().count(),
    "delete": lambda df: df.filter("status >= 64").count(),
}


def _three_parts_per_partition(spark, tmp_warehouse):
    """72 parts over 24 partitions; the third batch repeats the first, so
    DEDUPLICATE has rows to drop."""
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=3, base_time=BASE)
    for batch_no in (0, 1, 0):
        engine.insert("test_local", gen.batch_with_partition(400, batch_no=batch_no))
    handle = engine.catalog.get("test_local")
    assert engine.parts.active_parts_count("test_local", handle.path) == 72
    return engine, handle


@pytest.mark.parametrize("op", sorted(_REWRITES))
def test_rewrite_contract(spark, tmp_warehouse, op):
    """Every part rewrite (merge pass, OPTIMIZE, OPTIMIZE DEDUPLICATE, ALTER
    DELETE, ALTER UPDATE, RENAME COLUMN) leaves the manifest equal to the
    files on disk and to its own replayed log, with no staging dir, and
    returns the documented count."""
    engine, handle = _three_parts_per_partition(spark, tmp_warehouse)
    run, returned = _REWRITES[op]
    before = engine.read_table("test_local").cache()
    want_returned = returned(before)
    want_rows = _ROWS_AFTER.get(op, lambda df: df.count())(before)
    before.unpersist()
    assert run(engine) == want_returned
    assert engine.read_table("test_local").count() == want_rows
    _assert_parts_match_disk(engine, handle)
    assert engine.metrics.get("PartsActive") == len(_active(engine, handle))


def test_rewrite_whose_write_raises_changes_nothing(spark, tmp_warehouse):
    engine, handle = _three_parts_per_partition(spark, tmp_warehouse)
    partition, old = next(iter(engine.parts.active_by_partition("test_local", handle.path).items()))
    active = _active(engine, handle)
    with pytest.raises(Exception, match="boom"):
        engine.writer.rewrite_parts(
            spark, handle, partition, old, lambda df: df.withColumn("x", F.raise_error(F.lit("boom")))
        )
    assert _active(engine, handle) == active
    assert engine.read_table("test_local").count() == 3 * 400
    _assert_parts_match_disk(engine, handle)


def test_mutation_reruns_when_a_merge_takes_its_parts_mid_rewrite(spark, tmp_warehouse, monkeypatch):
    """An OPTIMIZE that retires and deletes a DELETE's input parts while
    the DELETE is rewriting them: the DELETE's read fails, its output is
    discarded, and it runs again over the merged part, so no row that
    matches survives and the count is exact."""
    engine, handle = _three_parts_per_partition(spark, tmp_warehouse)
    n_match = engine.read_table("test_local").filter("status < 64").count()
    rewrite_parts, raced = engine.writer.rewrite_parts, []

    def merge_mid_rewrite(spark, handle, partition, old, transform, n_files=1):
        def racing(df):
            if not raced:
                raced.append(partition)
                assert engine.optimize("test_local", partition=partition) == 1
            return transform(df)

        return rewrite_parts(spark, handle, partition, old, racing, n_files)

    monkeypatch.setattr(engine.writer, "rewrite_parts", merge_mid_rewrite)
    assert engine.delete_where("test_local", "status < 64") == n_match
    assert len(raced) == 1
    assert engine.read_table("test_local").filter("status < 64").count() == 0
    assert engine.read_table("test_local").count() == 3 * 400 - n_match
    _assert_parts_match_disk(engine, handle)


def test_stale_merge_picks_change_nothing(spark, tmp_warehouse):
    """Picks selected before an OPTIMIZE retired them merge nothing and
    bring none of the retired rows back."""
    engine, handle = _three_parts_per_partition(spark, tmp_warehouse)
    sched = MergeScheduler(engine.writer, metrics=engine.metrics, min_parts_to_merge=3)
    picks = sched.select("test_local", handle.path)
    assert len(picks) == 24
    engine.optimize("test_local")
    active = _active(engine, handle)
    for partition, plist in picks:
        sched._merge(spark, handle, partition, plist)
    assert _active(engine, handle) == active
    assert engine.read_table("test_local").count() == 3 * 400
    _assert_parts_match_disk(engine, handle)


def test_table_read_skips_a_staged_rewrite(spark, tmp_warehouse, monkeypatch):
    """A read of the table while a rewrite's output waits in staging sees
    the old parts only: the staging dir is neither a partition value nor
    extra rows."""
    engine, handle = _three_parts_per_partition(spark, tmp_warehouse)
    move, counts = shutil.move, []

    def read_then_move(src, dst):
        if not counts:
            counts.append(engine.read_table("test_local").count())
        return move(src, dst)

    monkeypatch.setattr(shutil, "move", read_then_move)
    assert engine.optimize("test_local", partition="2026010107") == 1
    assert counts == [3 * 400]
    _assert_parts_match_disk(engine, handle)


@pytest.mark.parametrize("statement", ["DROP", "DETACH", "ATTACH"])
def test_partition_ddl_keeps_the_part_gauges_current(spark, tmp_warehouse, statement):
    """DROP, DETACH and ATTACH PARTITION change the active parts, so the
    PartsActive / PartsCommitted gauges follow them as they follow inserts
    and rewrites."""
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=3, base_time=BASE)
    hours = ("2026010107", "2026010108")
    for i in range(3):
        batch = gen.batch_with_partition(400, batch_no=i)
        engine.insert("test_local", batch.filter(F.col("event_hour").isin(*map(int, hours))))
    handle = engine.catalog.get("test_local")
    if statement == "ATTACH":
        engine.sql(f"ALTER TABLE test_local DETACH PARTITION '{hours[1]}'")
        engine.insert("test_local", gen.batch_with_partition(400, batch_no=3).filter(
            F.col("event_hour") == int(hours[0])
        ))
    engine.sql(f"ALTER TABLE test_local {statement} PARTITION '{hours[1]}'")
    active = len(_active(engine, handle))
    assert active == {"DROP": 3, "DETACH": 3, "ATTACH": 7}[statement]
    assert engine.metrics.get("PartsActive") == active
    assert engine.metrics.get("PartsCommitted") == active
