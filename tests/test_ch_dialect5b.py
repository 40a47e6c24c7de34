"""Round-5 dialect batch 3: ENGINE = Null (+ MV pipeline), EXCHANGE
TABLES atomic swap, lightweight DELETE FROM."""

import pytest

from clickhousedatamocker_spark.engine import Engine


def test_null_engine_discards_but_mvs_fire(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE raw_null (k UInt64, v Float64) ENGINE = Null")
    e.sql(
        "CREATE MATERIALIZED VIEW roll ENGINE = SummingMergeTree() ORDER BY k "
        "AS SELECT k, sum(v) AS sv FROM raw_null GROUP BY k"
    )
    r = e.insert(
        "raw_null", spark.createDataFrame([(1, 2.0), (1, 3.0), (2, 5.0)], "k long, v double")
    )
    assert r.rows == 3 and r.new_parts == 0
    # the Null table stores NOTHING
    assert e.sql("SELECT count(*) AS n FROM raw_null").first()["n"] == 0
    # ... but the MV saw the block (CH's Null+MV transform pipeline)
    got = {r["k"]: r["sv"] for r in e.sql("SELECT k, sum(sv) AS sv FROM roll GROUP BY k").collect()}
    assert got == {1: 5.0, 2: 5.0}
    # second block accumulates
    e.insert("raw_null", spark.createDataFrame([(2, 1.0)], "k long, v double"))
    got = {r["k"]: r["sv"] for r in e.sql("SELECT k, sum(sv) AS sv FROM roll GROUP BY k").collect()}
    assert got == {1: 5.0, 2: 6.0}


def test_exchange_tables_swaps_atomically(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    for t, val in (("blue", 1.0), ("green", 2.0)):
        e.sql(f"CREATE TABLE {t} (k UInt64, v Float64) ENGINE = MergeTree() ORDER BY k")
        e.sql(f"INSERT INTO {t} VALUES (1, {val})")
    e.sql("EXCHANGE TABLES blue AND green")
    assert e.sql("SELECT v FROM blue").first()["v"] == 2.0
    assert e.sql("SELECT v FROM green").first()["v"] == 1.0
    # still writable post-swap; parts accounting follows the swap
    e.sql("INSERT INTO blue VALUES (2, 9.0)")
    assert e.sql("SELECT count(*) AS n FROM blue").first()["n"] == 2
    assert e.sql("SELECT count(*) AS n FROM green").first()["n"] == 1


def test_lightweight_delete_from(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE ld (k UInt64, v Float64) ENGINE = MergeTree() ORDER BY k")
    e.sql("INSERT INTO ld VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    out = e.sql("DELETE FROM ld WHERE k >= 2")
    assert out.first()["rows_deleted"] == 2
    assert [r["k"] for r in e.sql("SELECT k FROM ld").collect()] == [1]


def test_buffer_engine_routes_to_target(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE dst (k UInt64, v Float64) ENGINE = MergeTree() ORDER BY k")
    e.sql(
        "CREATE TABLE buf (k UInt64, v Float64) "
        "ENGINE = Buffer(default, dst, 16, 10, 100, 10000, 1000000, 10000000, 100000000)"
    )
    e.sql("INSERT INTO buf VALUES (1, 1.5), (2, 2.5)")
    # writes land in the target (always-flushed model) ...
    assert e.sql("SELECT count(*) AS n FROM dst").first()["n"] == 2
    # ... and reads through the buffer name see them
    assert e.sql("SELECT sum(v) AS s FROM buf").first()["s"] == 4.0
    tbls = {r["name"]: r for r in e.sql("SELECT * FROM system.tables").collect()}
    assert tbls["buf"]["engine"] == "Buffer" and tbls["buf"]["alias_of"] == "dst"
    # structure must match the target, as CH requires
    with pytest.raises(ValueError, match="must match target"):
        e.sql("CREATE TABLE buf2 (k UInt64) ENGINE = Buffer(default, dst, 16, 10, 100, 1, 1, 1, 1)")
    with pytest.raises(ValueError, match="does not exist"):
        e.sql("CREATE TABLE buf3 (k UInt64) ENGINE = Buffer(default, nope, 16, 10, 100, 1, 1, 1, 1)")


def test_system_stop_start_merges(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE sm (k UInt64, v Float64) ENGINE = MergeTree() ORDER BY k")
    for i in range(10):
        e.sql(f"INSERT INTO sm VALUES ({i}, {float(i)})")
    e.sql("SYSTEM STOP MERGES sm")
    assert e.merge_once("sm", min_parts_to_merge=2) == 0  # paused: no-op
    with pytest.raises(ValueError, match="stopped"):
        e.start_background_merges("sm")
    e.sql("SYSTEM START MERGES sm")
    assert e.merge_once("sm", min_parts_to_merge=2) > 0  # resumed
    # global scope
    e.sql("SYSTEM STOP MERGES")
    assert e.merge_once("sm", min_parts_to_merge=1) == 0
    e.sql("SYSTEM START MERGES")


def test_alter_modify_and_remove_ttl(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql(
        "CREATE TABLE tt (k UInt64, event_time DateTime) "
        "ENGINE = MergeTree() ORDER BY k"
    )
    e.sql(
        "INSERT INTO tt VALUES (1, '2026-01-01 00:00:00'), (2, '2026-01-03 00:00:00')"
    )
    assert e.catalog.get("tt").ttl is None
    e.sql("ALTER TABLE tt MODIFY TTL event_time + INTERVAL 1 DAY")
    assert e.catalog.get("tt").ttl == "event_time + INTERVAL 1 DAY"
    e.optimize("tt", now="2026-01-02 12:00:00")  # row 1 expired, row 2 alive
    assert [r["k"] for r in e.sql("SELECT k FROM tt ORDER BY k").collect()] == [2]
    e.sql("ALTER TABLE tt REMOVE TTL")
    assert e.catalog.get("tt").ttl is None
    e.optimize("tt", now="2030-01-01 00:00:00")  # TTL gone: nothing evicts
    assert [r["k"] for r in e.sql("SELECT k FROM tt").collect()] == [2]


def test_system_projections_view(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE pv (r String, v Float64, ts UInt64) ENGINE = MergeTree() ORDER BY ts")
    e.sql("ALTER TABLE pv ADD PROJECTION agg (SELECT r, count(*) AS cnt GROUP BY r)")
    row = e.sql(
        "SELECT * FROM system.projections WHERE table = 'pv'"
    ).first()
    assert row["name"] == "agg" and row["type"] == "agg"
    assert row["materialized"] is True  # empty base at ADD time
    assert row["backing_table"] == "__proj_pv_agg"


def test_create_level_column_defaults_fill(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql(
        "CREATE TABLE dft (k UInt64, v Float64 DEFAULT 7.5, s String DEFAULT 'x') "
        "ENGINE = MergeTree() ORDER BY k"
    )
    e.sql("INSERT INTO dft (k) VALUES (1)")
    row = e.sql("SELECT * FROM dft").first()
    assert (row["k"], row["v"], row["s"]) == (1, 7.5, "x")
    # explicitly inserted values win over the default
    e.sql("INSERT INTO dft VALUES (2, 1.25, 'y')")
    rows = {r["k"]: (r["v"], r["s"]) for r in e.sql("SELECT * FROM dft").collect()}
    assert rows == {1: (7.5, "x"), 2: (1.25, "y")}


def test_replicated_engine_families_degenerate(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql(
        "CREATE TABLE r1 (k UInt64, ver UInt64, v Float64) "
        "ENGINE = ReplicatedReplacingMergeTree('/clickhouse/tables/r1', 'replica1', ver) "
        "ORDER BY k"
    )
    assert e.catalog.get("r1").engine["family"] == "ReplacingMergeTree"
    assert e.catalog.get("r1").engine["args"] == ["ver"]
    e.sql("INSERT INTO r1 VALUES (1, 1, 10.0), (1, 2, 20.0)")
    e.sql("OPTIMIZE TABLE r1 FINAL")
    assert [tuple(r) for r in e.sql("SELECT k, v FROM r1").collect()] == [(1, 20.0)]
    e.sql(
        "CREATE TABLE r2 (k UInt64) "
        "ENGINE = ReplicatedMergeTree('/clickhouse/tables/r2', '{replica}') ORDER BY k"
    )
    assert e.catalog.get("r2").engine["family"] == "MergeTree"


def test_kafka_engine_gated_loudly(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    with pytest.raises(NotImplementedError, match="Structured Streaming"):
        e.sql(
            "CREATE TABLE q (k UInt64) ENGINE = Kafka SETTINGS "
            "kafka_broker_list = 'host:9092', kafka_topic_list = 't'"
        )


def test_materialized_and_alias_columns(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql(
        "CREATE TABLE mc (a UInt64, b UInt64 MATERIALIZED a * 2, "
        "c UInt64 ALIAS a + 100) ENGINE = MergeTree() ORDER BY a"
    )
    # VALUES arity excludes MATERIALIZED and ALIAS columns, as CH
    e.sql("INSERT INTO mc VALUES (3), (5)")
    rows = {r["a"]: (r["b"], r["c"]) for r in e.sql("SELECT a, b, c FROM mc").collect()}
    assert rows == {3: (6, 103), 5: (10, 105)}
    # MATERIALIZED is stored; ALIAS is virtual (computed at read)
    import pyspark.sql.functions as F

    stored = spark.read.parquet(e.catalog.get("mc").path).columns
    assert "b" in stored and "c" not in stored
    # explicit insert into a MATERIALIZED column is refused
    with pytest.raises(ValueError, match="MATERIALIZED"):
        e.sql("INSERT INTO mc (a, b) VALUES (1, 999)")
    # expressions usable in WHERE through the dialect
    assert e.sql("SELECT count(*) AS n FROM mc WHERE c > 104").first()["n"] == 1
    # INSERT SELECT keeps the same column contract as VALUES
    with pytest.raises(ValueError, match="MATERIALIZED"):
        e.sql("INSERT INTO mc (a, b) SELECT 1, 999")
    e.sql("INSERT INTO mc SELECT 7")
    assert e.sql("SELECT b, c FROM mc WHERE a = 7").first() == (14, 107)


def test_exchange_validates_both_tables_first(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE solo (k UInt64) ENGINE = MergeTree() ORDER BY k")
    e.sql("INSERT INTO solo VALUES (1)")
    with pytest.raises(ValueError, match="does not exist"):
        e.sql("EXCHANGE TABLES solo AND missing")
    # the failed swap left the existing table untouched
    assert e.sql("SELECT k FROM solo").first()["k"] == 1


def test_buffer_duplicate_create_is_loud(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE bt (k UInt64) ENGINE = MergeTree() ORDER BY k")
    e.sql("CREATE TABLE bb (k UInt64) ENGINE = Buffer(default, bt, 16, 10, 100, 1, 1, 1, 1)")
    with pytest.raises(ValueError, match="already exists"):
        e.sql("CREATE TABLE bb (k UInt64) ENGINE = Buffer(default, bt, 16, 10, 100, 1, 1, 1, 1)")
    # IF NOT EXISTS form stays a no-op
    e.sql("CREATE TABLE IF NOT EXISTS bb (k UInt64) ENGINE = Buffer(default, bt, 16, 10, 100, 1, 1, 1, 1)")


def test_merges_stop_scopes_are_independent(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE ms (k UInt64) ENGINE = MergeTree() ORDER BY k")
    for i in range(6):
        e.sql(f"INSERT INTO ms VALUES ({i})")
    # per-table START cannot override a global STOP (independent flags, CH)
    e.sql("SYSTEM STOP MERGES")
    e.sql("SYSTEM START MERGES ms")
    assert e.merge_once("ms", min_parts_to_merge=2) == 0
    # global START clears only the global flag; an explicit per-table stop survives
    e.sql("SYSTEM STOP MERGES ms")
    e.sql("SYSTEM START MERGES")
    assert e.merge_once("ms", min_parts_to_merge=2) == 0
    e.sql("SYSTEM START MERGES ms")
    assert e.merge_once("ms", min_parts_to_merge=2) > 0


def test_mutations_log_show_databases_use(spark, tmp_warehouse, tmp_path):
    e = Engine(spark, tmp_warehouse)
    e.sql("CREATE TABLE ml (k UInt64, v Float64) ENGINE = MergeTree() ORDER BY k")
    e.sql("INSERT INTO ml VALUES (1, 1.0), (2, 2.0)")
    e.sql("ALTER TABLE ml DELETE WHERE k = 1")
    e.sql("ALTER TABLE ml UPDATE v = v + 1 WHERE k = 2")
    muts = [
        (r["table"], r["command"], r["is_done"])
        for r in e.sql(
            "SELECT * FROM system.mutations ORDER BY mutation_id"
        ).collect()
    ]
    assert muts == [
        ("ml", "DELETE WHERE k = 1", 1),
        ("ml", "UPDATE v = v + 1 WHERE k = 2", 1),
    ]
    # SHOW DATABASES / USE
    e.sql("CREATE DATABASE analytics")
    assert [r["name"] for r in e.sql("SHOW DATABASES").collect()] == ["analytics", "default"]
    e.sql("USE analytics")
    with pytest.raises(ValueError, match="does not exist"):
        e.sql("USE nope")
    # table functions now work inside INSERT ... SELECT and CTAS
    pq = str(tmp_path / "ext.parquet")
    spark.createDataFrame([(7, 7.5), (8, 8.5)], "k long, v double").write.parquet(pq)
    e.sql(f"INSERT INTO ml SELECT k, v FROM file('{pq}')")
    assert e.sql("SELECT count(*) AS n FROM ml").first()["n"] == 3  # 1 after delete + 2
    e.sql(f"CREATE TABLE ml2 ENGINE = MergeTree() ORDER BY tuple() AS SELECT * FROM file('{pq}')")
    assert e.sql("SELECT count(*) AS n FROM ml2").first()["n"] == 2
