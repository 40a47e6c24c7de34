"""M1 acceptance + miniature harness run (SURVEY §5.2(2), §7 M1)."""

import pyspark.sql.functions as F
import pytest

from clickhousedatamocker_spark.config import HarnessConfig
from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.harness import QUERY_PARTS_SQL, run_harness
from clickhousedatamocker_spark.schema import test_local_spec as make_spec
from clickhousedatamocker_spark.sources.generator import BatchGenerator


def test_m1_end_to_end_parts_query(spark, tmp_warehouse):
    """Generate a batch, append, run the reference's deepest query
    (sql/query_parts.sql:1-12) through spark.sql — correct top-k answer."""
    engine = Engine(spark, tmp_warehouse)
    engine.create_table(make_spec())
    gen = BatchGenerator(spark, seed=42, base_time="2026-01-01 12:00:00")
    res = engine.insert("test_local", gen.batch_with_partition(5000))
    assert res.rows == 5000
    assert 1 < res.partitions_touched <= 24
    assert res.new_parts >= res.partitions_touched

    out = engine.sql(QUERY_PARTS_SQL.format(database="default", table="test_local"))
    rows = out.collect()
    assert 0 < len(rows) <= 20
    assert rows[0]["parts_count"] >= rows[-1]["parts_count"]  # ORDER BY DESC
    assert sum(r["total_rows"] for r in rows) <= 5000
    assert all(r["total_size"].split(" ")[1] in {"B", "KiB", "MiB"} for r in rows)

    # readback: row fidelity through partitioned parquet
    back = engine.read_table("test_local")
    assert back.count() == 5000
    assert back.select(F.countDistinct("event_hour")).first()[0] == res.partitions_touched


def test_insert_appends_and_counts_parts(spark, tmp_warehouse):
    engine = Engine(spark, tmp_warehouse)
    engine.create_table(make_spec())
    gen = BatchGenerator(spark, seed=1, base_time="2026-01-01 12:00:00")
    r1 = engine.insert("test_local", gen.batch_with_partition(1000, batch_no=0))
    r2 = engine.insert("test_local", gen.batch_with_partition(1000, batch_no=1))
    status = engine.flow_status("test_local")
    assert status.active_parts == r1.new_parts + r2.new_parts
    assert engine.read_table("test_local").count() == 2000


def test_alias_insert_routes_to_local(spark, tmp_warehouse):
    """test_distributed AS test_local (create_distributed.sql) — writes through
    the alias land in the physical table."""
    engine = Engine(spark, tmp_warehouse)
    engine.create_table(make_spec())
    engine.create_alias("test_distributed", "test_local")
    gen = BatchGenerator(spark, seed=2, base_time="2026-01-01 12:00:00")
    engine.insert("test_distributed", gen.batch_with_partition(500))
    assert engine.read_table("test_local").count() == 500


def test_optimize_compacts_parts(spark, tmp_warehouse):
    engine = Engine(spark, tmp_warehouse)
    engine.create_table(make_spec())
    gen = BatchGenerator(spark, seed=3, base_time="2026-01-01 12:00:00")
    for b in range(3):
        engine.insert("test_local", gen.batch_with_partition(1000, batch_no=b))
    before = engine.flow_status("test_local").active_parts
    engine.optimize("test_local")
    after = engine.flow_status("test_local").active_parts
    assert after < before
    assert engine.read_table("test_local").count() == 3000  # no data loss
    # history retained like system.parts: inactive rows still visible
    parts = engine.system_parts()
    assert parts.filter(~F.col("active")).count() > 0


def test_miniature_harness_flow_control_triggers(spark, tmp_warehouse):
    """setup.sh contract: delay warning precedes throw; loop stops at throw."""
    cfg = HarnessConfig(
        batch_size=500,
        parts_to_delay_insert=5,
        parts_to_throw_insert=10,
        insert_interval_s=0.0,
        max_insert_count=60,
        base_time="2026-01-01 12:00:00",
    )
    res = run_harness(spark, tmp_warehouse, cfg)
    assert res.flow_control_triggered
    assert res.throw_triggered
    assert res.inserts_attempted < 60  # early stop, not loop exhaustion
    assert res.rows_inserted > 0
    assert res.final_active_parts >= 10


def test_mutation_delete_where(spark, tmp_warehouse):
    """ALTER DELETE semantics: predicate rows gone, untouched partitions'
    parts untouched, PartsMutations incremented, manifest consistent."""
    import pyspark.sql.functions as F

    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    engine.create_table(test_local_spec())
    gen = BatchGenerator(spark, seed=11, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(20_000, batch_no=0))
    handle = engine.catalog.get("test_local")

    before = engine.read_table("test_local")
    n_before = before.count()
    n_match = before.filter("status < 64").count()
    assert 0 < n_match < n_before

    parts_before = {
        (pv, p["name"])
        for pv, plist in engine.parts.active_by_partition("test_local", handle.path).items()
        for p in plist
    }

    deleted = engine.delete_where("test_local", "status < 64")
    assert deleted == n_match

    after = engine.read_table("test_local")
    assert after.count() == n_before - n_match
    assert after.filter("status < 64").count() == 0
    # every value column survives intact for kept rows
    assert after.filter(F.col("event_time").isNull()).count() == 0

    assert engine.metrics.get("PartsMutations") == 1
    # partition-scoped predicate: delete from one hour only rewrites that hour
    one_hour = after.select("event_hour").first()["event_hour"]
    parts_mid = {
        (pv, p["name"])
        for pv, plist in engine.parts.active_by_partition("test_local", handle.path).items()
        for p in plist
    }
    engine.delete_where("test_local", f"event_hour = {one_hour} AND status < 128")
    parts_after = {
        (pv, p["name"])
        for pv, plist in engine.parts.active_by_partition("test_local", handle.path).items()
        for p in plist
    }
    changed = {p for p in parts_mid ^ parts_after}
    assert all(str(part) == str(one_hour) for part, _ in changed), changed


def test_mutation_update_where(spark, tmp_warehouse):
    """ALTER UPDATE: assignments applied to matching rows only, row count
    unchanged, partition column guarded."""
    import pytest as _pytest

    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    engine.create_table(test_local_spec())
    gen = BatchGenerator(spark, seed=13, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(10_000, batch_no=0))

    n = engine.read_table("test_local").count()
    n_match = engine.read_table("test_local").filter("event_type = 'click'").count()

    updated = engine.update_where(
        "test_local",
        {"status": "255", "metadata": "'{\"flagged\":true}'"},
        "event_type = 'click'",
    )
    assert updated == n_match

    after = engine.read_table("test_local")
    assert after.count() == n  # updates never change cardinality
    assert after.filter("event_type = 'click' AND status <> 255").count() == 0
    assert after.filter("event_type = 'click' AND metadata <> '{\"flagged\":true}'").count() == 0
    # non-matching rows untouched
    assert after.filter("event_type <> 'click' AND metadata <> '{}'").count() == 0

    with _pytest.raises(ValueError):
        engine.update_where("test_local", {"event_hour": "0"}, "true")


def test_harness_with_background_merges_stays_below_throw(spark, tmp_warehouse):
    """With compaction racing inserts (the real-ClickHouse steady state),
    active parts stay bounded and flow control never throws — the inverse
    of the reference's deliberately pessimal no-merge mode."""
    from clickhousedatamocker_spark.config import HarnessConfig
    from clickhousedatamocker_spark.harness import run_harness

    cfg = HarnessConfig(
        batch_size=5000,
        max_insert_count=6,
        insert_interval_s=0.0,
        parts_to_delay_insert=50,
        parts_to_throw_insert=100,
        optimize_every=2,
        base_time="2026-01-01 12:00:00",
    )
    res = run_harness(spark, tmp_warehouse, cfg)
    assert res.inserts_succeeded == 6
    assert not res.throw_triggered
    # each insert adds <=24 parts; compaction every 2 inserts caps actives
    # at ~48 + the 24 from the freshest batch
    assert res.final_active_parts <= 72


def test_commit_walk_scoped_to_touched_partitions(spark, tmp_warehouse, monkeypatch):
    """Per-insert manifest cost must not grow with accumulated part count:
    commit discovery may list only the partition dirs the write touched
    (mtime watermark), never the whole table."""
    import os

    import clickhousedatamocker_spark.plans.parts as parts_mod

    engine = Engine(spark, tmp_warehouse)
    engine.create_table(make_spec())
    gen = BatchGenerator(spark, seed=3, base_time="2026-01-01 12:00:00")
    # several 24-partition inserts accumulate parts across 24 dirs
    for batch_no in range(3):
        engine.insert("test_local", gen.batch_with_partition(2000, batch_no=batch_no))

    one_hour = gen.batch(500).withColumn(
        "event_time", F.lit("2026-01-01 12:30:00").cast("timestamp")
    )
    listed: list[str] = []
    real_listdir = parts_mod.os.listdir

    def spy_listdir(path):
        listed.append(str(path))
        return real_listdir(path)

    monkeypatch.setattr(parts_mod.os, "listdir", spy_listdir)
    res = engine.insert("test_local", one_hour)
    assert res.new_parts == 1 and res.partitions_touched == 1
    part_dirs = {p for p in listed if "=" in os.path.basename(p)}
    assert len(part_dirs) == 1, f"walked untouched partition dirs: {sorted(part_dirs)}"


def test_manifest_log_survives_reload(spark, tmp_warehouse):
    """The append-only commit log replays to the same inventory (incl.
    retired parts) in a fresh PartsInventory."""
    from clickhousedatamocker_spark.plans.parts import PartsInventory

    engine = Engine(spark, tmp_warehouse)
    engine.create_table(make_spec())
    gen = BatchGenerator(spark, seed=4, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(2000, batch_no=0))
    engine.insert("test_local", gen.batch_with_partition(2000, batch_no=1))
    engine.optimize("test_local")
    handle = engine.catalog.get("test_local")
    want_active = engine.parts.active_parts_count("test_local", handle.path)
    tables = {"test_local": handle.path}
    want_total = engine.parts.to_df(spark, tables).count()

    fresh = PartsInventory()
    fresh.load("test_local", handle.path)
    assert fresh.active_parts_count("test_local", handle.path) == want_active == 24
    assert fresh.to_df(spark, tables).count() == want_total


def test_engines_sharing_a_session_never_serve_each_others_views(spark, tmp_path):
    """Temp views belong to the whole SparkSession: two Engines on one
    session, alternating, each read their own catalog, parts, metrics and
    same-named data table, however the other last registered them."""
    a = Engine(spark, str(tmp_path / "a"))
    b = Engine(spark, str(tmp_path / "b"))
    for engine, n, own in ((a, 1, "ta"), (b, 2, "tb")):
        engine.sql("CREATE TABLE t (k UInt32) ENGINE = MergeTree ORDER BY (k)")
        engine.sql(f"CREATE TABLE {own} (k UInt32) ENGINE = MergeTree ORDER BY (k)")
        engine.sql(f"INSERT INTO t VALUES {', '.join(f'({i})' for i in range(n))}")
    for _ in range(2):
        for engine, n, own in ((a, 1, "ta"), (b, 2, "tb")):
            names = [r[0] for r in engine.sql("SELECT name FROM system.tables ORDER BY name").collect()]
            assert names == sorted(["t", own])
            assert engine.sql("SELECT count() FROM t").first()[0] == n
            parts = engine.sql(
                "SELECT count() FROM system.parts WHERE table = 't' AND active"
            ).first()[0]
            assert parts == engine.flow_status("t").active_parts
            inserted = engine.sql(
                "SELECT value FROM system.metrics WHERE metric = 'InsertedRows'"
            ).first()[0]
            assert inserted == n


# (type, nullable) of every system view: the row-built views' shapes,
# which the Arrow-backed local views keep
_SYSTEM_VIEW_SCHEMAS = {
    "parts": ("struct<database:string,table:string,partition:string,name:string,"
              "rows:bigint,bytes_on_disk:bigint,active:boolean,modification_time:timestamp>", False),
    "metrics": ("struct<metric:string,value:bigint,description:string>", False),
    "detached_parts": ("struct<database:string,table:string,partition:string,name:string>", True),
    "query_log": ("struct<event_time:timestamp,query:string,query_kind:string,"
                  "duration_ms:double>", True),
    "tables": ("struct<database:string,name:string,engine:string,alias_of:string,"
               "partition_key:string,sorting_key:string>", True),
    "columns": ("struct<database:string,table:string,name:string,type:string,position:int>", True),
    "projections": ("struct<database:string,table:string,name:string,type:string,query:string,"
                    "materialized:boolean,backing_table:string>", True),
    "merges": ("struct<database:string,table:string,partition:string,num_parts:int,"
               "rows_read:bigint,elapsed:double>", True),
    "mutations": ("struct<mutation_id:bigint,table:string,command:string,create_time:string,"
                  "is_done:int>", True),
    "settings": ("struct<name:string,value:string,changed:int>", True),
    "functions": ("struct<name:string,origin:string,create_query:string>", True),
    "databases": ("struct<name:string,engine:string>", True),
    "processes": ("struct<query:string,elapsed:double,user:string>", True),
    "disks": ("struct<name:string,path:string,free_space:bigint,total_space:bigint>", True),
}


def _insert_moves_parts_and_metrics(engine, spark):
    """Also pins system_parts.modification_time to the UTC instant the
    manifest records, under a process time zone and a session time zone
    that are both other than UTC and other than each other."""
    import datetime
    import json
    import os
    import time

    def read():
        parts = engine.sql("SELECT count() FROM system.parts WHERE table = 't' AND active")
        rows = engine.sql("SELECT value FROM system.metrics WHERE metric = 'InsertedRows'")
        return parts.first()[0], rows.first()[0]

    parts0, rows0 = read()
    old_tz, old_session_tz = os.environ.get("TZ"), spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        engine.sql("INSERT INTO t VALUES (2)")
        parts1, rows1 = read()
        # collect() gives naive datetimes in the process time zone
        got = {
            name: ts.astimezone(datetime.timezone.utc)
            for name, ts in engine.sql("SELECT name, modification_time FROM system.parts").collect()
        }
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session_tz)
    with open(os.path.join(engine.catalog.table_path("t"), "_parts_manifest.jsonl")) as f:
        stamps = {r["name"]: r["modification_time"] for r in map(json.loads, f) if "rows" in r}
    expected = {
        name: datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=datetime.timezone.utc)
        for name, s in stamps.items()
    }
    assert parts1 > parts0 and rows1 == rows0 + 1
    assert got == expected


def _set_moves_settings(engine, spark):
    read = "SELECT value FROM system.settings WHERE name = 'max_threads'"
    assert engine.sql(read).collect() == []
    engine.sql("SET max_threads = 3")
    assert [r[0] for r in engine.sql(read).collect()] == ["3"]


def _create_function_moves_functions(engine, spark):
    read = "SELECT name FROM system.functions"
    assert engine.sql(read).collect() == []
    engine.sql("CREATE FUNCTION plus1 AS (x) -> x + 1")
    assert [r[0] for r in engine.sql(read).collect()] == ["plus1"]


def _running_merge_moves_merges(engine, spark):
    import time

    read = "SELECT partition, elapsed FROM system.merges"
    assert engine.sql(read).collect() == []
    with engine._merges_lock:
        engine.running_merges["m"] = {
            "table": "t", "partition": "all", "num_parts": 3, "rows_read": 3,
            "started": time.monotonic(),
        }
    first = engine.sql(read).first()
    time.sleep(0.05)
    second = engine.sql(read).first()
    assert first["partition"] == "all" and second["elapsed"] > first["elapsed"]
    with engine._merges_lock:
        engine.running_merges.clear()
    assert engine.sql(read).collect() == []


def _statement_moves_query_log(engine, spark):
    read = "SELECT query FROM system.query_log"
    engine.sql("SELECT 41")
    assert engine.sql(read).collect()[-1][0] == "SELECT 41"
    assert engine.sql(read).collect()[-1][0] == read
    # through a plain view that names the log
    engine.sql("CREATE VIEW recent AS SELECT query FROM system.query_log")
    engine.sql("SELECT 42")
    assert engine.sql("SELECT * FROM recent").collect()[-1][0] == "SELECT 42"


def _file_write_moves_disks(engine, spark):
    import os

    read = "SELECT free_space FROM system.disks"
    before = engine.sql(read).first()[0]
    with open(os.path.join(engine.catalog.warehouse_dir, "ballast.bin"), "wb") as f:
        f.write(os.urandom(8 << 20))
        f.flush()
        os.fsync(f.fileno())
    assert engine.sql(read).first()[0] != before


_FRESHNESS_CASES = {
    "insert": _insert_moves_parts_and_metrics,
    "set": _set_moves_settings,
    "create_function": _create_function_moves_functions,
    "running_merge": _running_merge_moves_merges,
    "statement": _statement_moves_query_log,
    "file_write": _file_write_moves_disks,
}


@pytest.mark.parametrize("case", sorted(_FRESHNESS_CASES))
def test_system_view_follows_its_source(spark, tmp_warehouse, case):
    """Each system view is rebuilt only when its source changed, so each
    case makes one change and reads the view that must show it. Every
    system view keeps its schema, nullability included."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql("CREATE TABLE t (k UInt32) ENGINE = MergeTree ORDER BY (k)")
    engine.sql("INSERT INTO t VALUES (1)")
    _FRESHNESS_CASES[case](engine, spark)
    for view, (struct, nullable) in _SYSTEM_VIEW_SCHEMAS.items():
        schema = engine.sql(f"SELECT * FROM system.{view}").schema
        assert schema.simpleString() == struct, view
        assert {f.nullable for f in schema.fields} == {nullable}, view
