"""The COMPLETE reference SQL surface, verbatim through Engine.sql:
create_local.sql + create_distributed.sql + the set_flow_control.sh ALTER +
both monitoring queries + DROP — the full setup.sh lifecycle with zero
translation by the caller."""

import pyspark.sql.functions as F
import pytest

from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.sources.generator import BatchGenerator
from tests.conftest import (
    REF_SQL,
    create_distributed_sql,
    create_test_local,
    needs_reference,
)

ALTER_VERBATIM = """
            ALTER TABLE test_local
            MODIFY SETTING
                parts_to_delay_insert = 50,
                parts_to_throw_insert = 100
"""


@needs_reference(
    f"{REF_SQL}/create_local.sql",
    f"{REF_SQL}/create_distributed.sql",
    f"{REF_SQL}/query_parts.sql",
    f"{REF_SQL}/query_metrics.sql",
)
def test_reference_sql_lifecycle_verbatim(spark, tmp_warehouse):
    engine = Engine(spark, tmp_warehouse)

    engine.sql(open(f"{REF_SQL}/create_local.sql").read())
    engine.sql(open(f"{REF_SQL}/create_distributed.sql").read())

    local = engine.catalog.get("test_local")
    assert local.partition_column == "event_hour"
    assert local.order_columns == ["event_time", "id"]
    assert local.settings == {
        "parts_to_delay_insert": 150,
        "parts_to_throw_insert": 300,
        "partition_buckets": 24,  # derived: hourly partitioning => <=24 values/day
    }
    assert [f.name for f in local.schema.fields] == [
        "id", "event_time", "user_id", "event_type", "value",
        "status", "description", "metadata", "created_at", "updated_at",
    ]
    assert engine.catalog.get("test_distributed").alias_of == "test_local"

    engine.sql(ALTER_VERBATIM)  # set_flow_control.sh:36-40 text
    assert engine.catalog.get("test_local").settings["parts_to_delay_insert"] == 50
    assert engine.catalog.get("test_local").settings["parts_to_throw_insert"] == 100

    gen = BatchGenerator(spark, seed=5, base_time="2026-01-01 12:00:00")
    engine.insert("test_distributed", gen.batch_with_partition(5000, batch_no=0))

    parts = engine.sql(open(f"{REF_SQL}/query_parts.sql").read()).collect()
    assert len(parts) == 20  # LIMIT 20 over 24 hourly partitions
    assert all(r["parts_count"] == 1 for r in parts)
    metrics = engine.sql(open(f"{REF_SQL}/query_metrics.sql").read()).collect()
    assert [r["metric"] for r in metrics] == sorted(r["metric"] for r in metrics)
    assert len(metrics) == 10

    engine.sql("DROP TABLE IF EXISTS test_distributed")
    engine.sql("DROP TABLE IF EXISTS test_local")
    assert not engine.catalog.exists("test_local")


@needs_reference(f"{REF_SQL}/create_local.sql")
def test_ddl_create_idempotent_and_types(spark, tmp_warehouse):
    engine = Engine(spark, tmp_warehouse)
    engine.sql(open(f"{REF_SQL}/create_local.sql").read())
    engine.sql(open(f"{REF_SQL}/create_local.sql").read())  # IF NOT EXISTS
    schema = engine.catalog.get("test_local").schema
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["id"] == "bigint"  # UInt64
    assert types["event_time"] == "timestamp"  # DateTime
    assert types["user_id"] == "int"  # UInt32
    assert types["value"] == "double"  # Float64
    assert types["status"] == "int"  # UInt8


def test_insert_format_statement_client_flow(spark, tmp_warehouse, tmp_path):
    """INSERT INTO ... FORMAT TabSeparated with a file payload — the
    clickhouse-client stdin flow (insert_data.sh:34-41) — routes through the
    admission-controlled insert path, including the Distributed alias."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator
    from clickhousedatamocker_spark.sources.tsv import write_tsv

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.sql(create_distributed_sql())

    gen = BatchGenerator(spark, seed=11, base_time="2026-01-01 12:00:00")
    batch = gen.batch(3000)
    path = str(tmp_path / "payload.tsv")
    write_tsv(batch, path)

    engine.sql("INSERT INTO test_distributed FORMAT TabSeparated", data=path)
    got = engine.sql("SELECT count(*) AS n FROM test_local").first()["n"]
    assert got == 3000
    # parts were committed through the normal manifest path
    assert engine.sql(
        "SELECT count(*) AS n FROM system_parts WHERE table = 'test_local'"
    ).first()["n"] > 0

    # JSONEachRow payload, column-subset form
    import json as _json

    jpath = tmp_path / "payload.jsonl"
    rows = [{"id": 10_000_000 + i, "event_time": "2026-01-01 13:00:00",
             "user_id": 7, "event_type": "t", "value": 1.5,
             "status": 1, "description": "d", "metadata": "{}",
             "created_at": "2026-01-01 13:00:00", "updated_at": "2026-01-01 13:00:00"}
            for i in range(5)]
    jpath.write_text("\n".join(_json.dumps(r) for r in rows))
    engine.sql("INSERT INTO test_local FORMAT JSONEachRow", data=str(jpath))
    assert engine.sql("SELECT count(*) AS n FROM test_local").first()["n"] == 3005

    # inline VALUES is supported since round 5 — but arity still checks
    import pytest as _pytest

    with _pytest.raises(ValueError, match="arity"):
        engine.sql("INSERT INTO test_local VALUES (1)")


def test_select_format_output_flow(spark, tmp_warehouse, tmp_path):
    """SELECT ... FORMAT <fmt> writes the result in the named wire format —
    the clickhouse-client '--query > file' output direction."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=5, base_time="2026-01-01 12:00:00").batch_with_partition(
            2000, batch_no=0
        ),
    )
    out = str(tmp_path / "out_csv")
    df = engine.sql(
        "SELECT event_type, count(*) AS n FROM test_local GROUP BY event_type FORMAT CSVWithNames",
        data=out,
    )
    assert df.count() > 0
    back = spark.read.option("header", "true").csv(out)
    assert sorted(back.columns) == ["event_type", "n"]
    assert back.count() == df.count()


def test_ch_query_dialect_vocabulary(spark, tmp_warehouse):
    """A ClickHouse user's reflexive query spellings run through Engine.sql:
    date helpers (toStartOfHour/toYYYYMMDD/toDayOfWeek), intDiv, and the
    aggregate rewrites (uniqExact/uniq/countIf/anyLast/quantileExact/
    groupUniqArray)."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=9, base_time="2026-01-01 12:00:00").batch_with_partition(
            5000, batch_no=0
        ),
    )
    row = engine.sql(
        """
        SELECT
          uniqExact(user_id)                          AS u_exact,
          uniq(user_id)                               AS u_approx,
          countIf(value > 50)                         AS n_big,
          quantileExact(0.5)(value)                   AS med,
          toYYYYMMDD(toStartOfHour(min(event_time)))  AS day_key,
          toDayOfWeek(min(event_time))                AS dow,
          intDiv(count(), 7)                          AS per_day
        FROM test_local
        """
    ).first()
    assert row["u_exact"] > 0 and row["u_approx"] > 0
    assert 0 < row["n_big"] < 5000
    assert row["med"] > 0
    ref = engine.sql(
        "SELECT CAST(date_format(min(event_time), 'yyyyMMdd') AS INT) AS dk, "
        "((dayofweek(min(event_time)) + 5) % 7) + 1 AS dw FROM test_local"
    ).first()
    assert row["day_key"] == ref["dk"]
    assert row["dow"] == ref["dw"]
    assert row["per_day"] == 5000 // 7

    got = engine.sql(
        "SELECT event_type, size(groupUniqArray(status)) AS n_statuses "
        "FROM test_local GROUP BY event_type ORDER BY event_type"
    ).collect()
    assert len(got) == 4 and all(r["n_statuses"] >= 1 for r in got)  # generator domain: 4 event types

    # round-4 vocabulary: string helpers, time arithmetic, casts, dateDiff
    r2 = engine.sql(
        """
        SELECT
          splitByChar('-', 'a-b-c')                       AS parts,
          arrayStringConcat(splitByChar('-', 'a-b-c'), '/') AS joined,
          has(splitByChar('-', 'a-b-c'), 'b')             AS has_b,
          startsWith(description, substringUTF8(description, 1, 3)) AS sw,
          endsWith('abcdef', 'def')                       AS ew,
          lengthUTF8(description)                         AS dlen,
          toUnixTimestamp(min(event_time))                AS ut,
          fromUnixTimestamp(toUnixTimestamp(min(event_time))) = min(event_time) AS ut_rt,
          addDays(min(event_time), 2) > min(event_time)   AS ad,
          subtractHours(min(event_time), 1) < min(event_time) AS sh,
          toInt64(12.9)                                   AS i64,
          toInt64(9007199254740993)                       AS i64_big,
          toInt32('41')                                   AS i32,
          toFloat64('2.5')                                AS f64,
          dateDiff('hour', min(event_time), addDays(min(event_time), 1)) AS dd
        FROM test_local GROUP BY description LIMIT 1
        """
    ).first()
    assert r2["parts"] == ["a", "b", "c"] and r2["joined"] == "a/b/c" and r2["has_b"]
    assert r2["sw"] and r2["ew"] and r2["dlen"] == 50
    assert r2["ut"] > 0 and r2["ut_rt"] and r2["ad"] and r2["sh"]
    assert (r2["i64"], r2["i32"], r2["f64"], r2["dd"]) == (12, 41, 2.5, 24)
    # exact above 2^53 — a DOUBLE funnel would round this to ...992
    assert r2["i64_big"] == 9007199254740993

    r3 = engine.sql(
        "SELECT toMonth(min(event_time)) AS m, toYear(min(event_time)) AS y, "
        "toQuarter(min(event_time)) AS q, toDayOfMonth(min(event_time)) AS dom, "
        "toStartOfQuarter(min(event_time)) AS soq, toStartOfYear(min(event_time)) AS soy, "
        "toMonday(min(event_time)) AS mon FROM test_local"
    ).first()
    assert (r3["m"], r3["y"], r3["q"]) == (12, 2025, 4) or (r3["m"], r3["y"], r3["q"]) == (1, 2026, 1)
    assert str(r3["soq"]) in ("2025-10-01", "2026-01-01")
    assert str(r3["soy"]) in ("2025-01-01", "2026-01-01")
    import datetime as _dt

    assert r3["mon"].weekday() == 0  # Monday-start truncation

    r4 = engine.sql(
        "SELECT formatDateTime(min(event_time), '%Y-%m-%d %H:%i:%S') AS fmt, "
        "formatDateTime(min(event_time), '%F') AS iso, "
        "formatDateTime(min(event_time), '100%%') AS pct, "
        "toStartOfInterval(min(event_time), INTERVAL 15 MINUTE) AS bucket15, "
        "toStartOfInterval(TIMESTAMP '1969-12-31 23:00:00', INTERVAL 1 DAY) AS pre_epoch, "
        "min(event_time) AS t FROM test_local"
    ).first()
    assert r4["fmt"] == r4["t"].strftime("%Y-%m-%d %H:%M:%S")
    assert r4["iso"] == r4["t"].strftime("%Y-%m-%d")
    assert r4["pct"] == "100%"
    assert r4["bucket15"].minute % 15 == 0 and r4["bucket15"] <= r4["t"]
    assert (r4["t"] - r4["bucket15"]).total_seconds() < 900
    # FLOOR, not truncation: a pre-1970 timestamp buckets BACKWARD
    assert r4["pre_epoch"].strftime("%Y-%m-%d %H:%M") == "1969-12-31 00:00"


def test_materialized_view_incremental_rollup(spark, tmp_warehouse):
    """CH materialized-view semantics: the SELECT runs per inserted block,
    partials append to the view table, readers re-aggregate (SummingMergeTree
    discipline). Re-aggregated view == the same rollup over the full base."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.sql(
        """
        CREATE MATERIALIZED VIEW mv_hourly ENGINE = SummingMergeTree AS
        SELECT toYYYYMMDDhh(event_time) AS hour_key, event_type,
               count() AS n, sum(value) AS total_value
        FROM test_local
        GROUP BY toYYYYMMDDhh(event_time), event_type
        """
    )
    gen = BatchGenerator(spark, seed=13, base_time="2026-01-01 12:00:00")
    for b in range(3):
        engine.insert("test_local", gen.batch_with_partition(4000, batch_no=b))

    # per-block partials: one MV row per (insert, hour, type) combination —
    # at least as many rows as distinct groups; readers re-aggregate
    partial_rows = engine.sql("SELECT count(*) AS n FROM mv_hourly").first()["n"]
    groups = engine.sql(
        "SELECT count(*) AS n FROM (SELECT DISTINCT toYYYYMMDDhh(event_time), event_type FROM test_local)"
    ).first()["n"]
    assert partial_rows >= groups > 0

    got = {
        (r["hour_key"], r["event_type"]): (r["n"], round(r["tv"], 6))
        for r in engine.sql(
            "SELECT hour_key, event_type, sum(n) AS n, sum(total_value) AS tv "
            "FROM mv_hourly GROUP BY hour_key, event_type"
        ).collect()
    }
    want = {
        (r["hour_key"], r["event_type"]): (r["n"], round(r["tv"], 6))
        for r in engine.sql(
            "SELECT toYYYYMMDDhh(event_time) AS hour_key, event_type, "
            "count() AS n, sum(value) AS tv FROM test_local "
            "GROUP BY toYYYYMMDDhh(event_time), event_type"
        ).collect()
    }
    assert got == want

    # IF NOT EXISTS is a no-op; DROP removes the trigger
    engine.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mv_hourly AS SELECT count() AS n FROM test_local")
    engine.sql("DROP TABLE IF EXISTS mv_hourly")
    engine.insert("test_local", gen.batch_with_partition(1000, batch_no=9))
    assert not engine.catalog.exists("mv_hourly")


def test_system_tables_and_columns_introspection(spark, tmp_warehouse):
    """system.tables / system.columns run with CH spellings and reflect the
    catalog (engine kind, partition/sorting keys, column types/positions)."""
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.sql(create_distributed_sql())

    tbls = {r["name"]: r for r in engine.sql("SELECT * FROM system.tables").collect()}
    assert tbls["test_local"]["engine"] == "MergeTree"
    assert tbls["test_local"]["partition_key"] == "event_hour"
    assert tbls["test_local"]["sorting_key"] == "event_time,id"
    assert tbls["test_distributed"]["alias_of"] == "test_local"

    cols = engine.sql(
        "SELECT name, type FROM system.columns WHERE table = 'test_local' ORDER BY position"
    ).collect()
    assert [c["name"] for c in cols][:3] == ["id", "event_time", "user_id"]
    assert cols[0]["type"] == "bigint"


def test_dml_and_admin_statement_forms(spark, tmp_warehouse):
    """The CH statements a user types at the client: ALTER DELETE/UPDATE,
    OPTIMIZE TABLE FINAL, TRUNCATE, SHOW TABLES, DESCRIBE, EXISTS — all as
    SQL through Engine.sql, routed onto the mutation/compaction engine."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=21, base_time="2026-01-01 12:00:00")
    for b in range(2):
        engine.insert("test_local", gen.batch_with_partition(3000, batch_no=b))

    assert engine.sql("EXISTS TABLE test_local").first()["result"] == 1
    assert "test_local" in [r["name"] for r in engine.sql("SHOW TABLES").collect()]
    desc = engine.sql("DESCRIBE TABLE test_local").collect()
    assert desc[0]["name"] == "id" and desc[0]["type"] == "bigint"

    before = engine.sql("SELECT count(*) AS n FROM test_local").first()["n"]
    assert before == 6000
    deleted = engine.sql("ALTER TABLE test_local DELETE WHERE status = 1").first()["rows_deleted"]
    assert deleted > 0
    assert engine.sql("SELECT count(*) AS n FROM test_local").first()["n"] == before - deleted
    assert engine.sql("SELECT countIf(status = 1) AS n FROM test_local").first()["n"] == 0

    natural_99 = engine.sql("SELECT countIf(status = 99) AS n FROM test_local").first()["n"]
    updated = engine.sql(
        "ALTER TABLE test_local UPDATE value = value * 2, status = 99 WHERE status = 2"
    ).first()["rows_updated"]
    assert updated > 0
    assert (
        engine.sql("SELECT countIf(status = 99) AS n FROM test_local").first()["n"]
        == natural_99 + updated
    )
    assert engine.sql("SELECT countIf(status = 2) AS n FROM test_local").first()["n"] == 0

    merged = engine.sql("OPTIMIZE TABLE test_local FINAL").first()["parts_merged"]
    assert merged >= 0
    assert engine.sql("SELECT count(*) AS n FROM test_local").first()["n"] == before - deleted

    engine.sql("TRUNCATE TABLE test_local")
    assert engine.sql("SELECT count(*) AS n FROM test_local").first()["n"] == 0


def test_ctas_insert_select_arrayjoin(spark, tmp_warehouse):
    """CTAS, INSERT ... SELECT, and arrayJoin() — the remaining statement
    forms a CH user reaches for when reshaping tables."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    gen = BatchGenerator(spark, seed=31, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(4000, batch_no=0))

    engine.sql(
        "CREATE TABLE type_rollup ENGINE = MergeTree AS "
        "SELECT event_type, count() AS n, sum(value) AS tv FROM test_local GROUP BY event_type"
    )
    base = {
        r["event_type"]: r["n"]
        for r in engine.sql("SELECT event_type, n FROM type_rollup").collect()
    }
    assert sum(base.values()) == 4000

    # INSERT ... SELECT doubles the rollup rows
    engine.sql("INSERT INTO type_rollup SELECT event_type, count() AS n, sum(value) AS tv FROM test_local GROUP BY event_type")
    doubled = engine.sql("SELECT count(*) AS c FROM type_rollup").first()["c"]
    assert doubled == 2 * len(base)

    # arrayJoin == explode
    rows = engine.sql(
        "SELECT arrayJoin(split(event_type, 'i')) AS piece FROM test_local LIMIT 10"
    ).collect()
    assert len(rows) == 10

    # IF NOT EXISTS CTAS is a no-op on an existing table
    engine.sql("CREATE TABLE IF NOT EXISTS type_rollup AS SELECT 1 AS x")
    assert engine.sql("SELECT count(*) AS c FROM type_rollup").first()["c"] == doubled


def test_json_extract_rewrites(spark, tmp_warehouse):
    """CH JSONExtract* spellings translate to typed get_json_object calls
    through Engine.sql (the generated metadata column is '{}' — reference
    parity — so literals exercise the value paths)."""
    engine = Engine(spark, tmp_warehouse)
    row = engine.sql(
        """
        SELECT JSONExtractString('{"name": "ab", "n": 7, "x": 1.5, "b": true}', 'name') AS s,
               JSONExtractInt('{"n": 7}', 'n') AS i,
               JSONExtractFloat('{"x": 1.5}', 'x') AS f,
               JSONExtractBool('{"b": true}', 'b') AS bl,
               JSONHas('{"k": 1}', 'k') AS present,
               JSONHas('{"k": 1}', 'missing') AS absent
        """
    ).first()
    assert (row["s"], row["i"], row["f"], row["bl"]) == ("ab", 7, 1.5, True)
    assert row["present"] and not row["absent"]


@needs_reference(f"{REF_SQL}/create_local.sql")
def test_table_ttl_eviction(spark, tmp_warehouse):
    """MergeTree TTL: rows whose `event_time + INTERVAL 1 DAY` falls before
    now are evicted by OPTIMIZE (CH applies TTL during merges), as a
    partition-pruned mutation."""
    engine = Engine(spark, tmp_warehouse)
    ddl = open(f"{REF_SQL}/create_local.sql").read()
    assert "SETTINGS" in ddl
    ddl = ddl.replace("SETTINGS", "TTL event_time + INTERVAL 1 DAY SETTINGS", 1)
    engine.sql(ddl)
    assert engine.catalog.get("test_local").ttl == "event_time + INTERVAL 1 DAY"

    gen = BatchGenerator(spark, seed=23, base_time="2026-01-01 12:00:00")
    engine.insert("test_local", gen.batch_with_partition(3000, batch_no=0))
    total = engine.sql("SELECT count(*) AS n FROM test_local").first()["n"]
    assert total == 3000

    # pinned "now": one day after the batch window's start — the generator
    # spreads events over ~24h around base_time, so a strict subset expires
    expired = engine.sql(
        "SELECT count(*) AS n FROM test_local WHERE event_time + INTERVAL 1 DAY < TIMESTAMP '2026-01-01 20:00:00'"
    ).first()["n"]
    assert 0 < expired < total
    evicted = engine.optimize("test_local", now="2026-01-01 20:00:00")
    assert engine.sql("SELECT count(*) AS n FROM test_local").first()["n"] == total - expired

    # idempotent at the same instant
    assert engine.apply_ttl("test_local", now="2026-01-01 20:00:00") == 0


def test_replacing_and_summing_mergetree_collapse(spark, tmp_warehouse):
    """ReplacingMergeTree keeps the max-version row per ORDER BY key and
    SummingMergeTree collapses to sums — at OPTIMIZE time, like CH merges."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        """
        CREATE TABLE kv (
            k UInt32,
            event_time DateTime,
            ver UInt32,
            v Float64
        ) ENGINE = ReplacingMergeTree(ver)
        PARTITION BY toYYYYMMDDhh(event_time)
        ORDER BY (k)
        """
    )
    rows = [
        (1, "2026-01-01 05:00:00", 1, 10.0),
        (1, "2026-01-01 05:10:00", 3, 30.0),
        (1, "2026-01-01 05:20:00", 2, 20.0),
        (2, "2026-01-01 05:30:00", 1, 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, event_time string, ver int, v double").selectExpr(
        "k", "CAST(event_time AS TIMESTAMP) AS event_time", "ver", "v"
    )
    engine.insert("kv", df)
    assert engine.sql("SELECT count(*) AS n FROM kv").first()["n"] == 4
    engine.sql("OPTIMIZE TABLE kv FINAL")
    got = {r["k"]: (r["ver"], r["v"]) for r in engine.sql("SELECT k, ver, v FROM kv").collect()}
    assert got == {1: (3, 30.0), 2: (1, 5.0)}

    engine.sql(
        """
        CREATE TABLE sums (
            k UInt32,
            event_time DateTime,
            n UInt64,
            total Float64,
            label String
        ) ENGINE = SummingMergeTree()
        PARTITION BY toYYYYMMDDhh(event_time)
        ORDER BY (k)
        """
    )
    sdf = spark.createDataFrame(
        [
            (1, "2026-01-01 06:00:00", 2, 1.5, "b"),
            (1, "2026-01-01 06:30:00", 3, 2.5, "a"),
            (2, "2026-01-01 06:45:00", 1, 1.0, "c"),
        ],
        "k int, event_time string, n bigint, total double, label string",
    ).selectExpr("k", "CAST(event_time AS TIMESTAMP) AS event_time", "n", "total", "label")
    engine.insert("sums", sdf)
    engine.sql("OPTIMIZE TABLE sums")
    got = {
        r["k"]: (r["n"], r["total"], r["label"])
        for r in engine.sql("SELECT k, n, total, label FROM sums").collect()
    }
    assert got == {1: (5, 4.0, "a"), 2: (1, 1.0, "c")}


def test_select_into_outfile(spark, tmp_warehouse, tmp_path):
    """CH's own export clause: SELECT ... INTO OUTFILE 'path' FORMAT CSV."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=5, base_time="2026-01-01 12:00:00").batch_with_partition(
            1000, batch_no=0
        ),
    )
    out = str(tmp_path / "export_csv")
    df = engine.sql(
        f"SELECT event_type, count(*) AS n FROM test_local GROUP BY event_type "
        f"INTO OUTFILE '{out}' FORMAT CSVWithNames"
    )
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == df.count() > 0


def test_select_final_and_prewhere(spark, tmp_warehouse):
    """FROM t FINAL applies the engine family's merge-collapse at read time
    without touching parts; PREWHERE reads as WHERE."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        """
        CREATE TABLE kvf (
            k UInt32, event_time DateTime, ver UInt32, v Float64
        ) ENGINE = ReplacingMergeTree(ver)
        PARTITION BY toYYYYMMDDhh(event_time)
        ORDER BY (k)
        """
    )
    df = spark.createDataFrame(
        [(1, "2026-01-01 05:00:00", 1, 10.0), (1, "2026-01-01 05:10:00", 2, 20.0),
         (2, "2026-01-01 05:30:00", 1, 5.0)],
        "k int, event_time string, ver int, v double",
    ).selectExpr("k", "CAST(event_time AS TIMESTAMP) AS event_time", "ver", "v")
    engine.insert("kvf", df)

    # unmerged read sees 3 rows; FINAL collapses to newest-per-key
    assert engine.sql("SELECT count(*) AS n FROM kvf").first()["n"] == 3
    got = {r["k"]: r["v"] for r in engine.sql("SELECT k, v FROM kvf FINAL").collect()}
    assert got == {1: 20.0, 2: 5.0}
    # parts untouched: plain read still 3 rows
    assert engine.sql("SELECT count(*) AS n FROM kvf").first()["n"] == 3

    n = engine.sql("SELECT count(*) AS n FROM kvf FINAL PREWHERE v > 6").first()["n"]
    assert n == 1


def test_query_settings_final_routes_to_final_rewrite(spark, tmp_warehouse):
    """SETTINGS final=1 == FROM t FINAL (the round-5 verdict's silent
    wrong-answer: it used to be dropped, returning pre-collapse rows)."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        """
        CREATE TABLE kvs (
            k UInt32, event_time DateTime, ver UInt32, v Float64
        ) ENGINE = ReplacingMergeTree(ver)
        PARTITION BY toYYYYMMDDhh(event_time)
        ORDER BY (k)
        """
    )
    df = spark.createDataFrame(
        [(1, "2026-01-01 05:00:00", 1, 10.0), (1, "2026-01-01 05:10:00", 2, 20.0),
         (2, "2026-01-01 05:30:00", 1, 5.0)],
        "k int, event_time string, ver int, v double",
    ).selectExpr("k", "CAST(event_time AS TIMESTAMP) AS event_time", "ver", "v")
    engine.insert("kvs", df)

    via_setting = sorted(
        (r["k"], r["v"])
        for r in engine.sql("SELECT k, v FROM kvs SETTINGS final = 1").collect()
    )
    via_final = sorted(
        (r["k"], r["v"]) for r in engine.sql("SELECT k, v FROM kvs FINAL").collect()
    )
    assert via_setting == via_final == [(1, 20.0), (2, 5.0)]
    # final=0 and plain read agree: 3 pre-collapse rows
    assert engine.sql("SELECT count(*) AS n FROM kvs SETTINGS final = 0").first()["n"] == 3
    # db-qualified FROM routes through the same namespace machinery: the
    # round-6 verdict's interaction bug was `FROM default.kvs SETTINGS
    # final=1` missing the injector (regex stopped at the db word), then
    # the db-qualification rewrite silently returning pre-collapse rows
    via_qualified = sorted(
        (r["k"], r["v"])
        for r in engine.sql("SELECT k, v FROM default.kvs SETTINGS final = 1").collect()
    )
    assert via_qualified == via_final
    # a FROM spelling inside a string literal is data, not a table source
    lit = engine.sql(
        "SELECT 'seen FROM kvs' AS s, count(*) AS n FROM kvs SETTINGS final = 1"
    ).first()
    assert lit["s"] == "seen FROM kvs"
    assert lit["n"] == 2


def test_query_settings_limit_offset_and_gates(spark, tmp_warehouse):
    engine = Engine(spark, tmp_warehouse)
    rows = engine.sql(
        "SELECT number FROM numbers(10) ORDER BY number SETTINGS limit = 3, offset = 2"
    ).collect()
    assert [r["number"] for r in rows] == [2, 3, 4]
    # CH applies the settings ON TOP of the query's own LIMIT
    rows = engine.sql(
        "SELECT number FROM numbers(10) ORDER BY number LIMIT 4 SETTINGS limit = 2, offset = 1"
    ).collect()
    assert [r["number"] for r in rows] == [1, 2]
    # tuning knobs still drop silently
    assert (
        engine.sql("SELECT count(*) AS n FROM numbers(5) SETTINGS max_threads = 4").first()["n"]
        == 5
    )
    # join_use_nulls=1 is Spark's native semantics: no-op accept
    assert engine.sql("SELECT 1 AS x SETTINGS join_use_nulls = 1").first()["x"] == 1
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="join_use_nulls=0"):
        engine.sql("SELECT 1 AS x SETTINGS join_use_nulls = 0")
    with _pytest.raises(NotImplementedError, match="not recognized"):
        engine.sql("SELECT 1 AS x SETTINGS totally_made_up_setting = 1")


def test_bare_translate_raises_on_semantic_settings():
    """translate_ch_sql without the engine cannot route final=1 - it must
    refuse, not silently drop (tuning keys still drop)."""
    import pytest as _pytest

    from clickhousedatamocker_spark.functions.compat import translate_ch_sql

    assert "SETTINGS" not in translate_ch_sql("SELECT 1 SETTINGS max_threads = 8")
    with _pytest.raises(NotImplementedError, match="final"):
        translate_ch_sql("SELECT * FROM t SETTINGS final = 1")


@needs_reference(f"{REF_SQL}/create_local.sql")
def test_sample_by_clause(spark, tmp_warehouse):
    """SAMPLE BY in DDL + FROM t SAMPLE f: deterministic hash-threshold
    subset — same rows every run; errors without a SAMPLE BY key (as CH)."""
    engine = Engine(spark, tmp_warehouse)
    ddl = open(f"{REF_SQL}/create_local.sql").read().replace(
        "SETTINGS", "SAMPLE BY id SETTINGS", 1
    )
    engine.sql(ddl)
    assert engine.catalog.get("test_local").sample_by == "id"
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=29, base_time="2026-01-01 12:00:00").batch_with_partition(
            5000, batch_no=0
        ),
    )
    n1 = engine.sql("SELECT count(*) AS n FROM test_local SAMPLE 0.1").first()["n"]
    n2 = engine.sql("SELECT count(*) AS n FROM test_local SAMPLE 0.1").first()["n"]
    assert n1 == n2  # deterministic
    assert 0 < n1 < 5000 and abs(n1 - 500) < 200  # ~10%

    engine.sql("CREATE TABLE nosample (k UInt32) ENGINE = MergeTree() ORDER BY (k)")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="SAMPLE BY"):
        engine.sql("SELECT count(*) FROM nosample SAMPLE 0.5")


def test_numbers_table_function_and_date_scalars(spark, tmp_warehouse):
    engine = Engine(spark, tmp_warehouse)
    rows = engine.sql("SELECT sum(number) AS s, count(*) AS n FROM numbers(100)").first()
    assert (rows["s"], rows["n"]) == (4950, 100)
    d = engine.sql("SELECT today() AS t, yesterday() AS y").first()
    assert (d["t"] - d["y"]).days == 1


def test_with_totals(spark, tmp_warehouse):
    """GROUP BY ... WITH TOTALS: grouped rows plus a grand-total row
    (GROUPING SETS form; totals keys are NULL — documented deviation from
    CH's type-default rendering)."""
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=41, base_time="2026-01-01 12:00:00").batch_with_partition(
            2000, batch_no=0
        ),
    )
    rows = engine.sql(
        "SELECT event_type, count(*) AS n FROM test_local GROUP BY event_type WITH TOTALS"
    ).collect()
    groups = [r for r in rows if r["event_type"] is not None]
    totals = [r for r in rows if r["event_type"] is None]
    assert len(totals) == 1 and len(groups) == 4
    assert totals[0]["n"] == sum(r["n"] for r in groups) == 2000


def test_parameterized_types_and_bare_engine_forms():
    """ADVICE hardening: paren-depth column splitting (Decimal(10,2),
    Enum8('x'=1,...)), optional ENGINE parens, bare ORDER BY key, and the
    CTAS-vs-alias disambiguation."""
    from pyspark.sql import types as T

    from clickhousedatamocker_spark.functions.compat import parse_ch_ddl

    d = parse_ch_ddl(
        "CREATE TABLE t (a Decimal(10,2), b Enum8('x'=1,'y'=2), c Nullable(String)) "
        "ENGINE = MergeTree ORDER BY a"
    )
    assert d["op"] == "create"
    assert d["schema"]["a"].dataType == T.DecimalType(10, 2)
    assert d["schema"]["b"].dataType == T.StringType()
    assert d["schema"]["c"].nullable is True
    assert d["order_columns"] == ["a"]

    d2 = parse_ch_ddl("CREATE TABLE t2 (a UInt64) ENGINE = MergeTree() ORDER BY tuple()")
    assert d2["op"] == "create" and d2["order_columns"] == []

    # CREATE TABLE ... AS SELECT is CTAS, never silently an alias
    assert parse_ch_ddl("CREATE TABLE t3 AS SELECT 1 AS x")["op"] == "ctas"

    # an alias with a non-Distributed engine tail errors instead of aliasing
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        parse_ch_ddl("CREATE TABLE t4 AS other ENGINE = Log")

    # an expression sort key must error, not parse as the function's name
    with _pytest.raises(NotImplementedError, match="expression ORDER BY"):
        parse_ch_ddl(
            "CREATE TABLE t5 (ts DateTime) ENGINE = MergeTree ORDER BY intDiv(ts, 3600)"
        )


@needs_reference(f"{REF_SQL}/create_local.sql", f"{REF_SQL}/create_distributed.sql")
def test_show_create_table_roundtrips(spark, tmp_path):
    """SHOW CREATE TABLE renders CH-dialect DDL that our own parser accepts
    back into an equivalent spec (the strongest self-consistency check);
    the Distributed alias renders its engine clause."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.functions.compat import parse_ch_ddl

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.sql(open(f"{REF_SQL}/create_local.sql").read())
    engine.sql(open(f"{REF_SQL}/create_distributed.sql").read())

    stmt = engine.sql("SHOW CREATE TABLE test_local").first()["statement"]
    d = parse_ch_ddl(stmt)
    orig = engine.catalog.get("test_local")
    assert d["op"] == "create"
    assert list(d["schema"].fieldNames()) == [f.name for f in orig.schema.fields]
    assert [f.dataType for f in d["schema"].fields] == [f.dataType for f in orig.schema.fields]
    assert d["partition_column"] == "event_hour"
    assert d["order_columns"] == orig.order_columns
    assert d["settings"]["parts_to_delay_insert"] == orig.settings["parts_to_delay_insert"]
    assert d["settings"]["parts_to_throw_insert"] == orig.settings["parts_to_throw_insert"]

    d2 = parse_ch_ddl(engine.sql("SHOW CREATE test_distributed").first()["statement"])
    assert d2["op"] == "alias" and d2["of"] == "test_local"

    # engine ARGUMENTS round-trip too (ReplacingMergeTree's version column
    # changes merge-collapse semantics — it must not render away)
    engine.sql(
        "CREATE TABLE rmt (k UInt32, v UInt32, ver UInt64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY (k)"
    )
    d3 = parse_ch_ddl(engine.sql("SHOW CREATE TABLE rmt").first()["statement"])
    assert d3["engine"]["family"] == "ReplacingMergeTree"
    assert d3["engine"]["args"] == ["ver"]


def test_global_join_and_in_modifiers(spark, tmp_path):
    """CH's GLOBAL JOIN / GLOBAL IN force-and-broadcast semantics are the
    engine's own job in Spark — the modifier drops out and the statements
    run; results equal the modifier-free forms."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=5, base_time="2026-01-01 12:00:00").batch_with_partition(
            3000, batch_no=0
        ),
    )
    n_global = engine.sql(
        "SELECT count() AS n FROM test_local WHERE user_id GLOBAL IN "
        "(SELECT user_id FROM test_local WHERE status > 200)"
    ).first()["n"]
    n_plain = engine.sql(
        "SELECT count() AS n FROM test_local WHERE user_id IN "
        "(SELECT user_id FROM test_local WHERE status > 200)"
    ).first()["n"]
    assert n_global == n_plain > 0

    j_global = engine.sql(
        "SELECT count() AS n FROM test_local a GLOBAL LEFT JOIN "
        "(SELECT user_id, count() AS c FROM test_local GROUP BY user_id) b "
        "ON a.user_id = b.user_id"
    ).first()["n"]
    assert j_global == 3000


def test_explain_statement_family(spark, tmp_path):
    """CH's EXPLAIN family maps onto Catalyst's stages; EXPLAIN SYNTAX
    surfaces the dialect translation itself."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=3, base_time="2026-01-01 12:00:00").batch_with_partition(
            2000, batch_no=0
        ),
    )

    plan = [r["explain"] for r in engine.sql(
        "EXPLAIN SELECT event_type, uniqExact(user_id) FROM test_local GROUP BY event_type"
    ).collect()]
    assert any("Aggregate" in ln for ln in plan)

    syntax = "\n".join(
        r["explain"]
        for r in engine.sql(
            "EXPLAIN SYNTAX SELECT toStartOfHour(event_time), countIf(status > 128) "
            "FROM test_local GROUP BY 1"
        ).collect()
    )
    # aggregate spellings are text-rewritten (countIf -> count_if); scalar
    # vocabulary like toStartOfHour survives as a registered SQL UDF — both
    # are Spark-executable, which is the contract
    assert "countIf(" not in syntax and "count_if(" in syntax
    assert spark.sql(syntax).collect()  # the shown text actually runs

    pipeline = [r["explain"] for r in engine.sql(
        "EXPLAIN PIPELINE SELECT count() FROM test_local WHERE status > 10"
    ).collect()]
    assert any("HashAggregate" in ln or "Scan" in ln for ln in pipeline)

    est = [r["explain"] for r in engine.sql("EXPLAIN ESTIMATE SELECT * FROM test_local").collect()]
    assert any("sizeInBytes" in ln for ln in est)


def test_system_query_log(spark, tmp_path):
    """Every Engine.sql statement lands in the system.query_log analog with
    its kind and in-engine duration; the CH spelling queries it."""
    from clickhousedatamocker_spark.engine import Engine

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.sql("CREATE TABLE ql (k UInt32) ENGINE = MergeTree ORDER BY (k)")
    engine.sql("INSERT INTO ql SELECT 1 AS k")
    engine.sql("SELECT count() FROM ql")
    engine.sql("SHOW TABLES")
    rows = engine.sql(
        "SELECT query_kind, count() AS n FROM system.query_log "
        "GROUP BY query_kind ORDER BY query_kind"
    ).collect()
    kinds = {r["query_kind"]: r["n"] for r in rows}
    assert kinds.get("CREATE", 0) >= 1
    assert kinds.get("INSERT", 0) >= 1
    assert kinds.get("SELECT", 0) >= 1
    assert kinds.get("SHOW", 0) >= 1
    detail = engine.sql(
        "SELECT query, duration_ms FROM system.query_log WHERE query_kind = 'CREATE'"
    ).first()
    assert "CREATE TABLE ql" in detail["query"] and detail["duration_ms"] >= 0


def test_dictionaries_dictget(spark, tmp_path):
    """CH external dictionaries: create_dictionary + dictGet/
    dictGetOrDefault/dictHas spellings. The correlated scalar subquery the
    rewrite produces decorrelates into a join, and results match a plain
    join exactly."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=8, base_time="2026-01-01 12:00:00").batch_with_partition(
            2000, batch_no=0
        ),
    )
    seg = spark.createDataFrame(
        [("click", "organic"), ("view", "organic"), ("purchase", "paid")],
        ["event_type", "segment"],
    )
    engine.create_dictionary("seg", seg, key_col="event_type")

    got = {
        (r["event_type"], r["segment"]): r["n"]
        for r in engine.sql(
            "SELECT event_type, dictGet('seg', 'segment', event_type) AS segment, "
            "count() AS n FROM test_local GROUP BY event_type, 2 ORDER BY 1"
        ).collect()
    }
    # login is not in the dictionary -> NULL segment
    assert got and all(
        (seg_ == "organic") == (et in ("click", "view"))
        and (seg_ == "paid") == (et == "purchase")
        and (seg_ is None) == (et == "login")
        for (et, seg_), _ in got.items()
    )
    want = {
        (r["event_type"], r["segment"]): r["n"]
        for r in engine.sql(
            "SELECT t.event_type, d.segment, count() AS n FROM test_local t "
            "LEFT JOIN dict_seg d ON t.event_type = d.__dict_key "
            "GROUP BY t.event_type, d.segment ORDER BY 1"
        ).collect()
    }
    assert got == want

    defaulted = engine.sql(
        "SELECT count() AS n FROM test_local "
        "WHERE dictGetOrDefault('seg', 'segment', event_type, 'other') = 'other'"
    ).first()["n"]
    n_login = engine.sql(
        "SELECT count() AS n FROM test_local WHERE event_type = 'login'"
    ).first()["n"]
    assert defaulted == n_login > 0

    n_has = engine.sql(
        "SELECT count() AS n FROM test_local WHERE dictHas('seg', event_type)"
    ).first()["n"]
    assert n_has == 2000 - n_login


def test_skip_index_clauses_accepted(spark, tmp_path):
    """CH data-skipping INDEX clauses parse and the table creates; minmax is
    what Parquet row-group statistics already provide under the sorted
    layout, so the clause is recorded, not re-implemented."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.functions.compat import parse_ch_ddl

    ddl = """CREATE TABLE skips (
      id UInt64,
      v Float64,
      s String,
      INDEX idx_v v TYPE minmax GRANULARITY 4,
      INDEX idx_s lower(s) TYPE bloom_filter(0.01) GRANULARITY 1
    ) ENGINE = MergeTree ORDER BY (id)"""
    d = parse_ch_ddl(ddl)
    assert [f.name for f in d["schema"].fields] == ["id", "v", "s"]
    assert d["skip_indexes"] == [
        {"name": "idx_v", "expr": "v", "kind": "minmax", "granularity": 4},
        {"name": "idx_s", "expr": "lower(s)", "kind": "bloom_filter(0.01)", "granularity": 1},
    ]
    engine = Engine(spark, str(tmp_path / "wh"))
    engine.sql(ddl)
    assert engine.catalog.exists("skips")
    # metadata is durable and SHOW CREATE round-trips the clauses
    assert engine.catalog.get("skips").skip_indexes == d["skip_indexes"]
    rendered = engine.sql("SHOW CREATE TABLE skips").first()["statement"]
    assert parse_ch_ddl(rendered)["skip_indexes"] == d["skip_indexes"]


def test_limit_by_and_with_fill_sql_forms(spark, tmp_path):
    """CH's LIMIT n BY and ORDER BY ... WITH FILL statement forms through
    Engine.sql, equal to their operator/window equivalents."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=6, base_time="2026-01-01 12:00:00").batch_with_partition(
            3000, batch_no=0
        ),
    )

    got = engine.sql(
        "SELECT event_type, id, value FROM test_local "
        "ORDER BY value DESC, id LIMIT 2 BY event_type"
    ).collect()
    assert len(got) == 8  # 4 event types x 2
    per = {}
    for r in got:
        per.setdefault(r["event_type"], []).append((r["value"], r["id"]))
    want = engine.sql(
        "SELECT event_type, max(value) AS m FROM test_local GROUP BY event_type"
    ).collect()
    maxes = {r["event_type"]: r["m"] for r in want}
    for et, vals in per.items():
        assert len(vals) == 2 and vals[0][0] == maxes[et]  # top value per group

    with _pytest.raises(NotImplementedError, match="ORDER BY"):
        engine.sql("SELECT event_type FROM test_local LIMIT 2 BY event_type")

    # a subquery's own ORDER BY must stay intact (the rewrite anchors on
    # the LAST ORDER BY)
    sub = engine.sql(
        "SELECT * FROM (SELECT event_type, id, value FROM test_local "
        "ORDER BY value DESC LIMIT 100) x ORDER BY value DESC, id LIMIT 1 BY event_type"
    ).collect()
    assert 1 <= len(sub) <= 4
    assert [r["value"] for r in sub] == sorted((r["value"] for r in sub), reverse=True)

    # WITH FILL over a sparse status rollup: the grid closes every hole
    # (TO is exclusive, as in ClickHouse)
    filled = engine.sql(
        "SELECT status, count() AS n FROM test_local WHERE status < 40 "
        "GROUP BY status ORDER BY status WITH FILL FROM 0 TO 40"
    ).collect()
    assert [r["status"] for r in filled] == list(range(40))
    n_by_status = {r["status"]: r["n"] for r in filled}
    sparse = {
        r["status"]: r["n"]
        for r in engine.sql(
            "SELECT status, count() AS n FROM test_local WHERE status < 40 GROUP BY status"
        ).collect()
    }
    for s in range(40):
        assert n_by_status[s] == sparse.get(s)  # missing grid rows are NULL (CH default)


def test_partition_manipulation(spark, tmp_path):
    """ALTER TABLE ... DROP/DETACH/ATTACH PARTITION: O(files) metadata +
    directory operations, never a data rewrite. DETACH hides the rows,
    ATTACH restores them exactly; DROP removes them for good. The parts
    manifest and the flow-control part counts track every step."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=4, base_time="2026-01-01 12:00:00").batch_with_partition(
            5000, batch_no=0
        ),
    )
    total = engine.sql("SELECT count() AS n FROM test_local").first()["n"]
    assert total == 5000
    # pick the largest partition
    top = engine.sql(
        "SELECT partition, count() AS parts FROM system_parts "
        "WHERE table = 'test_local' AND active GROUP BY partition ORDER BY partition LIMIT 1"
    ).first()
    pval = top["partition"]
    in_part = engine.sql(
        f"SELECT count() AS n FROM test_local WHERE event_hour = {pval}"
    ).first()["n"]
    assert in_part > 0

    n_det = engine.sql(f"ALTER TABLE test_local DETACH PARTITION '{pval}'").first()[
        "parts_detached"
    ]
    assert n_det == top["parts"]
    assert (
        engine.sql("SELECT count() AS n FROM test_local").first()["n"] == total - in_part
    )
    # the detached files are visible in system.detached_parts (CH parity)
    det = engine.sql(
        "SELECT partition, count() AS n FROM system.detached_parts "
        "WHERE table = 'test_local' GROUP BY partition"
    ).collect()
    assert len(det) == 1 and det[0]["partition"] == pval and det[0]["n"] == n_det

    n_att = engine.sql(f"ALTER TABLE test_local ATTACH PARTITION '{pval}'").first()[
        "parts_attached"
    ]
    assert engine.sql("SELECT count() AS n FROM system.detached_parts").first()["n"] == 0
    assert n_att == n_det
    assert engine.sql("SELECT count() AS n FROM test_local").first()["n"] == total

    # DETACH again after NEW inserts into the same partition: the earlier
    # and later detached file sets MERGE — nothing is ever rmtree'd away —
    # and ATTACH onto a re-created partition merges back (no nesting)
    engine.sql(f"ALTER TABLE test_local DETACH PARTITION '{pval}'")
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=4, base_time="2026-01-01 12:00:00").batch_with_partition(
            5000, batch_no=1
        ),
    )
    mid_total = engine.sql("SELECT count() AS n FROM test_local").first()["n"]
    engine.sql(f"ALTER TABLE test_local DETACH PARTITION '{pval}'")  # merges sets
    engine.sql(f"ALTER TABLE test_local ATTACH PARTITION '{pval}'")
    assert (
        engine.sql("SELECT count() AS n FROM test_local").first()["n"]
        == mid_total + in_part  # both detached batches came back
    )

    n_drop = engine.sql(f"ALTER TABLE test_local DROP PARTITION '{pval}'").first()[
        "parts_dropped"
    ]
    assert n_drop >= n_det
    assert (
        engine.sql(f"SELECT count() AS n FROM test_local WHERE event_hour = {pval}").first()["n"]
        == 0
    )
    # dropped partition's parts are inactive in the manifest (history kept)
    active = engine.sql(
        f"SELECT count() AS n FROM system_parts WHERE table = 'test_local' "
        f"AND partition = '{pval}' AND active"
    ).first()["n"]
    assert active == 0


def test_drop_table_removes_detached_area_and_parts_state(spark, tmp_path):
    """DROP TABLE removes the .detached sibling area and evicts in-memory
    parts state (ADVICE r4, medium): after DROP + re-CREATE of the same
    name, system.detached_parts must NOT show the dropped table's files,
    ATTACH must NOT adopt the dropped table's data, and part counts must
    start from zero — CH removes detached/ with the table."""
    import os

    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=7, base_time="2026-01-01 12:00:00").batch_with_partition(
            2000, batch_no=0
        ),
    )
    pval = engine.sql(
        "SELECT partition FROM system_parts WHERE table = 'test_local' AND active "
        "GROUP BY partition ORDER BY partition LIMIT 1"
    ).first()["partition"]
    engine.sql(f"ALTER TABLE test_local DETACH PARTITION '{pval}'")
    detached_dir = engine.catalog.table_path("test_local") + ".detached"
    assert os.path.isdir(detached_dir)

    engine.drop_table("test_local")
    assert not os.path.isdir(detached_dir)  # detached area went with the table

    # re-CREATE under the same name: a clean slate, not an inheritance
    engine.create_table(test_local_spec())
    assert engine.sql("SELECT count() AS n FROM system.detached_parts").first()["n"] == 0
    assert (
        engine.sql(
            "SELECT count() AS n FROM system_parts WHERE table = 'test_local' AND active"
        ).first()["n"]
        == 0
    )
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        engine.attach_partition("test_local", pval)  # nothing to adopt
    assert engine.sql("SELECT count() AS n FROM test_local").first()["n"] == 0


def test_move_files_merging_never_overwrites(tmp_path):
    """The collision rename loops until the destination name is FREE
    (ADVICE r4): three detach/attach cycles with identical file names must
    keep every file — the old fixed <tag>_<i>_ prefix collided on cycle 3
    and shutil.move silently overwrote."""
    import os

    from clickhousedatamocker_spark.engine import Engine

    dst = tmp_path / "dst"
    payloads = []
    for cycle in range(3):
        src = tmp_path / f"src{cycle}"
        src.mkdir()
        (src / "part.parquet").write_text(f"cycle-{cycle}")
        payloads.append(f"cycle-{cycle}")
        Engine._move_files_merging(str(src), str(dst), "detached")
    files = sorted(os.listdir(dst))
    assert len(files) == 3, files
    assert sorted((dst / f).read_text() for f in files) == sorted(payloads)


def test_optimize_deduplicate(spark, tmp_path):
    """OPTIMIZE TABLE ... DEDUPLICATE: exact duplicate rows collapse during
    the merge rewrite — partition-local, like CH (duplicates across
    partitions are different rows by definition of the partition key)."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    gen = BatchGenerator(spark, seed=12, base_time="2026-01-01 12:00:00")
    batch = gen.batch_with_partition(2000, batch_no=0)
    engine.insert("test_local", batch)
    engine.insert("test_local", batch)  # exact duplicate of every row
    assert engine.sql("SELECT count() AS n FROM test_local").first()["n"] == 4000

    # plain OPTIMIZE keeps duplicates (they are real rows to MergeTree)
    engine.sql("OPTIMIZE TABLE test_local FINAL")
    assert engine.sql("SELECT count() AS n FROM test_local").first()["n"] == 4000

    engine.sql("OPTIMIZE TABLE test_local FINAL DEDUPLICATE")
    assert engine.sql("SELECT count() AS n FROM test_local").first()["n"] == 2000
    # and the result is exactly the distinct original batch
    assert (
        engine.sql("SELECT count() AS n FROM (SELECT DISTINCT * FROM test_local)").first()["n"]
        == 2000
    )


def test_rename_table(spark, tmp_path):
    """RENAME TABLE: O(1) metadata + directory move; data and parts
    manifest travel with the directory, the old name is gone."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator
    import pytest as _pytest

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    engine.insert(
        "test_local",
        BatchGenerator(spark, seed=2, base_time="2026-01-01 12:00:00").batch_with_partition(
            2000, batch_no=0
        ),
    )
    engine.sql("RENAME TABLE test_local TO events_renamed")
    assert not engine.catalog.exists("test_local")
    assert engine.sql("SELECT count() AS n FROM events_renamed").first()["n"] == 2000
    # parts manifest traveled with the directory
    assert engine.sql(
        "SELECT count() AS n FROM system_parts WHERE table = 'events_renamed' AND active"
    ).first()["n"] == 24
    with _pytest.raises(Exception):
        engine.sql("SELECT count() FROM test_local").collect()


def test_aggregate_state_merge_combinators(spark, tmp_path):
    """CH -State/-Merge combinators (AggregatingMergeTree discipline):
    per-block partial states stored in a table — uniq's state is an HLL
    sketch BINARY, avg's a (sum,count) struct — then merged on read.
    Law: merge-of-states == the direct aggregate over all rows — exactly
    for count/min/max, to float tolerance for sum/avg (partials
    re-associate the addition), and within sketch error of the EXACT
    distinct count for uniq: the HLL estimate is merge-order dependent
    (Spark's partial aggregation unions per-partition sketches in
    nondeterministic order, so even direct != direct across runs), which
    is the same contract ClickHouse's approximate uniq offers."""
    import pytest as _pytest

    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.schema import TableSpec, test_local_spec
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.create_table(test_local_spec())
    gen = BatchGenerator(spark, seed=21, base_time="2026-01-01 12:00:00")
    for b in (0, 1):  # two insert blocks -> two state rows per group key
        engine.insert("test_local", gen.batch_with_partition(3000, batch_no=b))

    state_sql = (
        "SELECT event_type, uniqState(user_id) AS u, sumState(value) AS s, "
        "avgState(value) AS a, countState() AS c, minState(value) AS mn, "
        "maxState(value) AS mx FROM test_local WHERE id % 2 = {par} GROUP BY event_type"
    )
    part0 = engine.sql(state_sql.format(par=0))
    spec = TableSpec(name="agg_rollup", schema=part0.schema, order_columns=["event_type"])
    engine.create_table(spec)
    engine.insert("agg_rollup", part0)
    engine.insert("agg_rollup", engine.sql(state_sql.format(par=1)))

    merged = {
        r["event_type"]: r
        for r in engine.sql(
            "SELECT event_type, uniqMerge(u) AS uniq_users, sumMerge(s) AS sv, "
            "avgMerge(a) AS av, countMerge(c) AS n, minMerge(mn) AS mn, "
            "maxMerge(mx) AS mx FROM agg_rollup GROUP BY event_type"
        ).collect()
    }
    direct = {
        r["event_type"]: r
        for r in engine.sql(
            "SELECT event_type, hll_sketch_estimate(hll_sketch_agg(user_id)) AS uniq_users, "
            "sum(value) AS sv, avg(value) AS av, count(*) AS n, min(value) AS mn, "
            "max(value) AS mx FROM test_local GROUP BY event_type"
        ).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in engine.sql(
            "SELECT event_type, uniqExact(user_id) AS d FROM test_local GROUP BY event_type"
        ).collect()
    }
    assert set(merged) == set(direct) and len(merged) == 4
    for k, m in merged.items():
        d = direct[k]
        # both the two-level merge and the direct sketch land within HLL
        # error of the exact distinct count (estimates are merge-order
        # dependent, so equality between them is not the law)
        assert abs(m["uniq_users"] - exact[k]) / exact[k] < 0.05
        assert abs(d["uniq_users"] - exact[k]) / exact[k] < 0.05
        assert m["n"] == d["n"]
        assert (m["mn"], m["mx"]) == (d["mn"], d["mx"])
        assert m["sv"] == _pytest.approx(d["sv"], rel=1e-12)
        assert m["av"] == _pytest.approx(d["av"], rel=1e-12)


def test_join_strictness_spellings(spark, tmp_warehouse):
    """CH JOIN strictness dialect: ASOF [LEFT] JOIN maps onto
    operators/asof.py (result-identical to calling asof_join directly;
    plain ASOF is INNER, LEFT keeps unmatched), ANY LEFT JOIN keeps
    exactly one right match per left row (arbitrary survivor — the CH
    contract), and ALL is the vanilla join the keyword claims."""
    from clickhousedatamocker_spark.engine import Engine
    from clickhousedatamocker_spark.operators.asof import asof_join

    engine = Engine(spark, tmp_warehouse)
    trades = spark.createDataFrame(
        [(1, 100, "t1"), (1, 205, "t2"), (2, 150, "t3"), (3, 50, "t4")],
        "sym int, tts bigint, tname string",
    )
    quotes = spark.createDataFrame(
        [(1, 90, 10.0), (1, 200, 11.0), (2, 150, 20.0)],
        "sym int, qts bigint, px double",
    )
    trades.createOrReplaceTempView("trades_v")
    quotes.createOrReplaceTempView("quotes_v")

    got = {
        r["tname"]: (r["qts"], r["px"])
        for r in engine.sql(
            "SELECT tname, qts, px FROM trades_v t ASOF LEFT JOIN quotes_v q "
            "ON t.sym = q.sym AND t.tts >= q.qts"
        ).collect()
    }
    want = {
        r["tname"]: (r["qts_asof"], r["px_asof"])
        for r in asof_join(
            trades, quotes, on="sym", left_ts="tts", right_ts="qts", value_cols=["qts", "px"]
        ).collect()
    }
    assert got == want  # the SQL spelling IS the operator
    assert got["t1"] == (90, 10.0)   # at-or-before pick
    assert got["t2"] == (200, 11.0)  # latest prior quote wins
    assert got["t3"] == (150, 20.0)  # exact-timestamp match visible
    assert got["t4"] == (None, None)  # LEFT keeps the unmatched row

    inner = engine.sql(
        "SELECT tname FROM trades_v t ASOF JOIN quotes_v q "
        "ON t.sym = q.sym AND t.tts >= q.qts"
    ).collect()
    assert sorted(r["tname"] for r in inner) == ["t1", "t2", "t3"]  # t4 drops

    # ANY LEFT JOIN: dup-keyed right side, exactly one match per left row
    dims = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "sym int, tag string"
    )
    dims.createOrReplaceTempView("dims_v")
    rows = engine.sql(
        "SELECT t.tname AS tname, d.tag AS tag FROM trades_v t "
        "ANY LEFT JOIN dims_v d ON t.sym = d.sym"
    ).collect()
    assert len(rows) == 4  # one output row per left row, never multiplied
    by_name = {r["tname"]: r["tag"] for r in rows}
    assert by_name["t1"] in ("a", "b") and by_name["t2"] in ("a", "b")
    assert by_name["t1"] == by_name["t2"]  # same dedup survivor per key
    assert by_name["t3"] == "c"
    assert by_name["t4"] is None

    # ALL JOIN == vanilla join (every match; the CH default spelled out)
    all_rows = engine.sql(
        "SELECT t.tname AS tname, d.tag AS tag FROM trades_v t "
        "ALL LEFT JOIN dims_v d ON t.sym = d.sym"
    ).collect()
    assert len(all_rows) == 6  # t1,t2 match twice each + t3 + t4


def test_generate_random_table_function(spark, tmp_warehouse):
    """CH generateRandom('schema'[, seed, ...]) — the SQL spelling of the
    engine's founding capability (mock data). Typed per parse_ch_type,
    deterministic under (schema, seed, LIMIT), bounded by the query LIMIT,
    usable inside INSERT ... SELECT through the admission-controlled path."""
    engine = Engine(spark, tmp_warehouse)
    df = engine.sql(
        "SELECT * FROM generateRandom("
        "'id UInt64, v Float64, s String, t DateTime, tags Array(UInt32), maybe Nullable(Float64)', 7"
        ") LIMIT 100"
    )
    assert df.count() == 100
    dt = dict(df.dtypes)
    assert dt == {
        "id": "bigint", "v": "double", "s": "string",
        "t": "timestamp", "tags": "array<int>", "maybe": "double",
    }
    # determinism + seed sensitivity
    q = "SELECT * FROM generateRandom('a UInt32, b String', {seed}) LIMIT 50"
    r1 = sorted(map(str, engine.sql(q.format(seed=1)).collect()))
    r2 = sorted(map(str, engine.sql(q.format(seed=1)).collect()))
    r3 = sorted(map(str, engine.sql(q.format(seed=2)).collect()))
    assert r1 == r2 and r1 != r3
    # CH idiom: aggregate over a LIMIT-bounded subquery
    row = engine.sql(
        "SELECT count(*) AS n, min(v) AS lo, max(v) AS hi "
        "FROM (SELECT * FROM generateRandom('v Float64', 3) LIMIT 1000)"
    ).first()
    assert row["n"] == 1000 and 0 <= row["lo"] <= row["hi"] < 10000
    # INSERT ... SELECT FROM generateRandom routes through the insert path
    engine.sql(
        "CREATE TABLE mock_gr (id UInt64, event_time DateTime, v Float64) "
        "ENGINE = MergeTree() ORDER BY id"
    )
    engine.sql(
        "INSERT INTO mock_gr SELECT id, t AS event_time, v "
        "FROM generateRandom('id UInt64, t DateTime, v Float64', 5) LIMIT 2000"
    )
    assert engine.sql("SELECT count(*) FROM mock_gr").first()[0] == 2000
    # unbounded stream must be refused, like reading an infinite relation
    with pytest.raises(ValueError, match="LIMIT"):
        engine.sql("SELECT * FROM generateRandom('x UInt8')")


def test_collapsing_mergetree(spark, tmp_warehouse):
    """CollapsingMergeTree(sign): cancelled key pairs vanish at OPTIMIZE,
    an uncancelled +1 excess keeps the newest state row, and a -1 excess
    survives (CH keeps it so a late +1 can still cancel). FINAL sees the
    collapse without rewriting parts."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE cmt (k UInt64, event_time DateTime, v Float64, sign Int8) "
        "ENGINE = CollapsingMergeTree(sign) PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, ts string, v double, sign int"
        ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS event_time", "v", "sign")

    t = "2026-01-01 07:00:00"
    # state rows for k=1..4
    engine.insert("cmt", batch([(k, t, 1.0, 1) for k in (1, 2, 3, 4)]))
    # cancel k=1, k=2; re-state k=2 with a new value; extra cancel for k=5
    engine.insert("cmt", batch([(1, t, 1.0, -1), (2, t, 1.0, -1), (2, t, 2.0, 1), (5, t, 9.0, -1)]))

    # FINAL: collapse applied at read, parts untouched
    final = {r["k"]: (r["v"], r["sign"]) for r in engine.sql("SELECT * FROM cmt FINAL").collect()}
    assert set(final) == {2, 3, 4, 5}
    assert final[2] == (2.0, 1)      # +1 excess: newest state row
    assert final[5] == (9.0, -1)     # -1 excess survives
    handle = engine.catalog.get("cmt")
    assert engine.parts.active_parts_count("cmt", handle.path) == 2

    # OPTIMIZE: the same collapse, persisted
    engine.optimize("cmt")
    rows = {r["k"]: (r["v"], r["sign"]) for r in engine.read_table("cmt").collect()}
    assert rows == final
    assert engine.parts.active_parts_count("cmt", handle.path) == 1


def test_aggregating_mergetree_state_roundtrip(spark, tmp_warehouse):
    """AggregatingMergeTree + -State/-Merge combinators: CH's canonical
    incremental-rollup stack. Per-block uniqState/sumState/countState/
    avgState partials land as state rows; OPTIMIZE merges states per key
    by each column's own discipline; -Merge reads equal DIRECT aggregates
    over the raw stream — before AND after the merge (HLL sketch union is
    sketch-of-union exact, algebraic partials are exact)."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE raw (k UInt64, event_time DateTime, u UInt64, v Float64) "
        "ENGINE = MergeTree() PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    engine.sql(
        "CREATE TABLE amt (k UInt64, event_time DateTime, "
        "u_state AggregateFunction(uniq, UInt64), "
        "s_state AggregateFunction(sum, Float64), "
        "c_state AggregateFunction(count, UInt64), "
        "a_state AggregateFunction(avg, Float64)) "
        "ENGINE = AggregatingMergeTree() PARTITION BY toYYYYMMDDhh(event_time) "
        "ORDER BY (k, event_time)"
    )

    def block(seed, n=400):
        return (
            spark.range(n)
            .selectExpr(
                f"id % 3 AS k",
                "CAST('2026-01-01 07:00:00' AS TIMESTAMP) AS event_time",
                f"(id * 37 + {seed}) % 50 AS u",
                f"CAST(id % 11 AS DOUBLE) + {seed} AS v",
            )
        )

    for seed in (0, 1, 2):
        engine.insert("raw", block(seed))
        # INSERT ... SELECT straight from the block via a view
        block(seed).createOrReplaceTempView(f"raw_block_{seed}")
        engine.sql(
            "INSERT INTO amt SELECT k, toStartOfHour(min(event_time)) AS event_time, "
            "uniqState(u) AS u_state, sumState(v) AS s_state, "
            "countState(u) AS c_state, avgState(v) AS a_state "
            f"FROM raw_block_{seed} GROUP BY k"
        )

    merge_sql = (
        "SELECT k, uniqMerge(u_state) AS u, sumMerge(s_state) AS s, "
        "countMerge(c_state) AS c, avgMerge(a_state) AS a FROM amt GROUP BY k ORDER BY k"
    )
    # uniqExact (not uniq): uniq is HLL++ while the state path is a
    # DataSketches HLL — different sketches give different estimates; at
    # <=50 distinct values DataSketches is in exact list mode, so the
    # state path must equal the EXACT count here
    direct_sql = (
        "SELECT k, uniqExact(u) AS u, sum(v) AS s, count(u) AS c, avg(v) AS a "
        "FROM raw GROUP BY k ORDER BY k"
    )
    before = [tuple(r) for r in engine.sql(merge_sql).collect()]
    direct = [tuple(r) for r in engine.sql(direct_sql).collect()]
    assert len(before) == 3
    for b, d in zip(before, direct):
        assert b[0] == d[0] and b[1] == d[1] and abs(b[2] - d[2]) < 1e-9
        assert b[3] == d[3] and abs(b[4] - d[4]) < 1e-9

    # 3 state rows per key pre-merge; 1 per key post-OPTIMIZE; reads equal
    assert engine.sql("SELECT count(*) FROM amt").first()[0] == 9
    engine.optimize("amt")
    assert engine.sql("SELECT count(*) FROM amt").first()[0] == 3
    after = [tuple(r) for r in engine.sql(merge_sql).collect()]
    assert after == before


def test_materialized_view_into_aggregating_mergetree(spark, tmp_warehouse):
    """The full CH incremental-rollup stack in one statement: CREATE
    MATERIALIZED VIEW ... ENGINE = AggregatingMergeTree() ORDER BY k AS
    SELECT -State aggregates. Each inserted block lands as state rows;
    OPTIMIZE collapses states per key by their own disciplines; -Merge
    reads equal exact direct aggregates before and after."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE base (k UInt64, event_time DateTime, u UInt64, v Float64) "
        "ENGINE = MergeTree() PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    engine.sql(
        "CREATE MATERIALIZED VIEW rollup ENGINE = AggregatingMergeTree() ORDER BY k "
        "AS SELECT k, uniqState(u) AS u_state, sumState(v) AS s_state, "
        "countState(v) AS c_state FROM base GROUP BY k"
    )
    for seed in (0, 1, 2):
        engine.insert(
            "base",
            spark.range(300).selectExpr(
                "id % 4 AS k",
                "CAST('2026-01-01 07:00:00' AS TIMESTAMP) AS event_time",
                f"(id * 13 + {seed}) % 40 AS u",
                f"CAST(id AS DOUBLE) / 7 + {seed} AS v",
            ),
        )
    # state columns carry their merge discipline in the catalog schema
    handle = engine.catalog.get("rollup")
    kinds = {f.name: (f.metadata or {}).get("ch_agg") for f in handle.schema.fields}
    assert kinds == {"k": None, "u_state": "uniq", "s_state": "sum", "c_state": "count"}

    merge_sql = (
        "SELECT k, uniqMerge(u_state) AS u, sumMerge(s_state) AS s, "
        "countMerge(c_state) AS c FROM rollup GROUP BY k ORDER BY k"
    )
    direct_sql = (
        "SELECT k, uniqExact(u) AS u, sum(v) AS s, count(v) AS c "
        "FROM base GROUP BY k ORDER BY k"
    )
    before = [tuple(r) for r in engine.sql(merge_sql).collect()]
    direct = [tuple(r) for r in engine.sql(direct_sql).collect()]
    assert len(before) == 4
    for b, d in zip(before, direct):
        assert b[0] == d[0] and b[1] == d[1] and abs(b[2] - d[2]) < 1e-9 and b[3] == d[3]

    assert engine.sql("SELECT count(*) FROM rollup").first()[0] == 12  # 3 blocks x 4 keys
    engine.optimize("rollup")
    assert engine.sql("SELECT count(*) FROM rollup").first()[0] == 4
    assert [tuple(r) for r in engine.sql(merge_sql).collect()] == before


def test_optimize_partition_scoped(spark, tmp_warehouse):
    """OPTIMIZE TABLE t PARTITION 'p': only that partition compacts —
    O(partition) where the unscoped form is a table rewrite; unknown
    partitions no-op."""
    engine = Engine(spark, tmp_warehouse)
    create_test_local(engine)
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    gen = BatchGenerator(spark, seed=11, base_time="2026-01-01 12:00:00")
    for i in range(3):
        engine.insert("test_local", gen.batch_with_partition(600, batch_no=i))
    handle = engine.catalog.get("test_local")
    assert engine.parts.active_parts_count("test_local", handle.path) == 72

    target = engine.sql(
        "SELECT partition FROM system.parts WHERE active ORDER BY partition LIMIT 1"
    ).first()["partition"]
    n = engine.sql(f"OPTIMIZE TABLE test_local PARTITION '{target}' FINAL").first()[0]
    assert n == 1
    # 3 parts -> 1 in the target partition; every other partition untouched
    assert engine.parts.active_parts_count("test_local", handle.path) == 72 - 2
    per = {
        r["partition"]: r["n"]
        for r in engine.sql(
            "SELECT partition, count(*) AS n FROM system.parts WHERE active GROUP BY partition"
        ).collect()
    }
    assert per[target] == 1 and all(v == 3 for k, v in per.items() if k != target)
    assert engine.sql("OPTIMIZE TABLE test_local PARTITION '19990101'").first()[0] == 0


def test_insert_values_create_view_and_query_settings(spark, tmp_warehouse):
    """Round-5 dialect batch: inline INSERT ... VALUES (clickhouse-client's
    interactive form) through the admission-controlled path; CREATE VIEW as
    a saved query that tracks table state; trailing SETTINGS knobs dropped."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE ev (k UInt64, event_time DateTime, v Float64, note String) "
        "ENGINE = MergeTree() PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    engine.sql(
        "INSERT INTO ev VALUES (1, '2026-01-01 07:00:00', 1.5, 'a'), "
        "(2, '2026-01-01 08:00:00', 2.5, 'b')"
    )
    # column-subset form: unlisted columns land NULL
    engine.sql(
        "INSERT INTO ev (k, event_time, v) VALUES (3, '2026-01-01 07:30:00', 3.5)"
    )
    rows = {r["k"]: (r["v"], r["note"]) for r in engine.sql("SELECT * FROM ev").collect()}
    assert rows == {1: (1.5, "a"), 2: (2.5, "b"), 3: (3.5, None)}
    # arity mismatch is loud
    with pytest.raises(ValueError, match="arity"):
        engine.sql("INSERT INTO ev VALUES (9, '2026-01-01 07:00:00')")

    # CREATE VIEW: a saved query, re-derived each refresh -> sees new rows
    engine.sql("CREATE VIEW big_ev AS SELECT k, v FROM ev WHERE v > 2.0")
    assert {r["k"] for r in engine.sql("SELECT * FROM big_ev").collect()} == {2, 3}
    engine.sql("INSERT INTO ev VALUES (4, '2026-01-01 09:00:00', 9.0, 'd')")
    assert {r["k"] for r in engine.sql("SELECT * FROM big_ev").collect()} == {2, 3, 4}
    # name collision with a real table is refused; DROP VIEW forgets it
    with pytest.raises(ValueError, match="exists"):
        engine.sql("CREATE VIEW ev AS SELECT 1")
    engine.sql("DROP VIEW big_ev")
    assert "big_ev" not in engine._views

    # SETTINGS suffix: CH execution knobs dropped, query runs
    n = engine.sql(
        "SELECT count(*) AS n FROM ev SETTINGS max_threads = 8, max_memory_usage = 10000000000"
    ).first()["n"]
    assert n == 4


def test_schema_evolution_add_drop_modify_column(spark, tmp_warehouse):
    """ALTER ADD/DROP/MODIFY COLUMN: metadata-only like CH — no part is
    rewritten; the explicit-schema read projects/fills old parts. ADD with
    DEFAULT fills at read (CH's lazy-default model for non-Nullable
    columns); DROP refuses key columns; MODIFY widens; RENAME rejects with
    the migration recipe."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE se (k UInt64, event_time DateTime, v Float64) "
        "ENGINE = MergeTree() PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    engine.sql(
        "INSERT INTO se VALUES (1, '2026-01-01 07:00:00', 1.0), (2, '2026-01-01 07:00:00', 2.0)"
    )
    files_before = sorted(
        str(p) for p in __import__("pathlib").Path(tmp_warehouse, "se").rglob("*.parquet")
    )

    # ADD COLUMN with DEFAULT: old parts read the default, new inserts carry values
    engine.sql("ALTER TABLE se ADD COLUMN src String DEFAULT 'legacy'")
    engine.sql("ALTER TABLE se ADD COLUMN IF NOT EXISTS src String")  # no-op
    engine.sql(
        "INSERT INTO se VALUES (3, '2026-01-01 08:00:00', 3.0, 'fresh')"
    )
    rows = {r["k"]: r["src"] for r in engine.sql("SELECT k, src FROM se").collect()}
    assert rows == {1: "legacy", 2: "legacy", 3: "fresh"}
    # metadata-only: the original files were never rewritten
    files_after = sorted(
        str(p)
        for p in __import__("pathlib").Path(tmp_warehouse, "se").rglob("*.parquet")
    )
    assert set(files_before) <= set(files_after)

    # MODIFY COLUMN: widening type change, old parts upcast at scan
    engine.sql("ALTER TABLE se MODIFY COLUMN k Int64")
    assert dict(engine.read_table("se").dtypes)["k"] == "bigint"
    assert engine.sql("SELECT sum(k) FROM se").first()[0] == 6

    # DROP COLUMN projects it away everywhere; key columns refuse
    engine.sql("ALTER TABLE se DROP COLUMN v")
    assert "v" not in engine.read_table("se").columns
    with pytest.raises(ValueError, match="key column"):
        engine.sql("ALTER TABLE se DROP COLUMN k")
    with pytest.raises(ValueError, match="no column"):
        engine.sql("ALTER TABLE se DROP COLUMN ghost")
    engine.sql("ALTER TABLE se DROP COLUMN IF EXISTS ghost")  # no-op

    # RENAME COLUMN: implemented as a synchronous part-rewrite mutation
    # (tests/test_ch_dialect5d.py::test_rename_column_mutation has the
    # full-contract coverage; here: the rename lands and reads follow)
    engine.sql("ALTER TABLE se RENAME COLUMN src TO origin")
    assert "origin" in engine.read_table("se").columns
    assert "src" not in engine.read_table("se").columns

    # evolution survives a catalog round-trip (fresh Engine over same dir)
    engine2 = Engine(spark, tmp_warehouse)
    assert {f.name for f in engine2.catalog.get("se").schema.fields} == {
        "k", "event_time", "origin"
    }
    assert {r["k"]: r["origin"] for r in engine2.sql("SELECT k, origin FROM se").collect()} == rows


def test_show_create_covers_new_families_and_evolution(spark, tmp_warehouse):
    """SHOW CREATE round-trips the round-5 surface: AggregateFunction
    column spellings, Collapsing/Aggregating families, and ADD COLUMN
    DEFAULT clauses (not leaked into SETTINGS)."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE sc (k UInt64, event_time DateTime, "
        "u AggregateFunction(uniq, UInt64)) "
        "ENGINE = AggregatingMergeTree() PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    engine.sql("ALTER TABLE sc ADD COLUMN note String DEFAULT 'x'")
    ddl = engine.sql("SHOW CREATE TABLE sc").first()["statement"]
    assert "AggregateFunction(uniq, UInt64)" in ddl
    assert "ENGINE = AggregatingMergeTree()" in ddl
    # added columns store nullable (old parts surface NULL before the
    # default coalesce), so the honest rendering is Nullable(String)
    assert "note Nullable(String) DEFAULT 'x'" in ddl
    assert "column_defaults" not in ddl
    # the reconstructed DDL parses back to the same schema (round-trip law)
    engine2 = Engine(spark, tmp_warehouse + "/rt")
    engine2.sql(ddl.replace("CREATE TABLE sc", "CREATE TABLE sc2"))
    f2 = {f.name: f.dataType for f in engine2.catalog.get("sc2").schema.fields}
    f1 = {f.name: f.dataType for f in engine.catalog.get("sc").schema.fields}
    assert f1 == f2

    engine.sql(
        "CREATE TABLE cm (k UInt64, event_time DateTime, sign Int8) "
        "ENGINE = CollapsingMergeTree(sign) PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    assert "ENGINE = CollapsingMergeTree(sign)" in engine.sql("SHOW CREATE TABLE cm").first()["statement"]


def test_versioned_collapsing_mergetree_and_on_cluster(spark, tmp_warehouse):
    """VersionedCollapsingMergeTree: cancellation is version-scoped — a -1
    cancels the +1 with the SAME version regardless of arrival order (the
    family's whole point); the max surviving version wins per key. ON
    CLUSTER clauses drop (single-process engine; Distributed fan-out is
    the clusters dict's job)."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql(
        "CREATE TABLE vc ON CLUSTER 'default' "
        "(k UInt64, event_time DateTime, v Float64, sign Int8, ver UInt64) "
        "ENGINE = VersionedCollapsingMergeTree(sign, ver) "
        "PARTITION BY toYYYYMMDDhh(event_time) ORDER BY k"
    )
    t = "2026-01-01 07:00:00"
    # k=1: v1 state cancelled, v2 state survives. k=2: cancel ARRIVES FIRST
    # (separate earlier insert), state later — still cancels (version match,
    # order-free). k=3: two live versions, max version (v2) wins.
    engine.sql(f"INSERT INTO vc VALUES (2, '{t}', 9.0, -1, 1)")
    engine.sql(
        f"INSERT INTO vc VALUES (1, '{t}', 1.0, 1, 1), (1, '{t}', 1.0, -1, 1), "
        f"(1, '{t}', 5.0, 1, 2), (2, '{t}', 9.0, 1, 1), "
        f"(3, '{t}', 7.0, 1, 1), (3, '{t}', 8.0, 1, 2)"
    )
    rows = {r["k"]: (r["v"], r["ver"]) for r in engine.sql("SELECT * FROM vc FINAL").collect()}
    assert rows == {1: (5.0, 2), 3: (8.0, 2)}
    engine.optimize("vc")
    assert {
        r["k"]: (r["v"], r["ver"]) for r in engine.read_table("vc").collect()
    } == rows


def test_create_database_backup_restore(spark, tmp_warehouse, tmp_path):
    """CREATE DATABASE acceptance (migrating setup scripts run), and
    BACKUP TABLE ... TO / DROP / RESTORE ... FROM round-trip: the snapshot
    carries parts + manifest + catalog meta, and the restored table reads
    identically with correct part accounting."""
    engine = Engine(spark, tmp_warehouse)
    engine.sql("CREATE DATABASE IF NOT EXISTS analytics")
    engine.sql("CREATE DATABASE IF NOT EXISTS analytics")  # idempotent
    with pytest.raises(ValueError, match="exists"):
        engine.sql("CREATE DATABASE analytics")
    with pytest.raises(ValueError, match="active"):
        engine.sql("DROP DATABASE default")
    engine.sql("DROP DATABASE analytics")

    create_test_local(engine)
    from clickhousedatamocker_spark.sources.generator import BatchGenerator

    gen = BatchGenerator(spark, seed=13, base_time="2026-01-01 12:00:00")
    for i in range(2):
        engine.insert("test_local", gen.batch_with_partition(500, batch_no=i))
    before = sorted(map(str, engine.sql("SELECT * FROM test_local").collect()))
    parts_before = engine.parts.active_parts_count(
        "test_local", engine.catalog.get("test_local").path
    )

    bdir = str(tmp_path / "bk")
    engine.sql(f"BACKUP TABLE test_local TO '{bdir}'")
    with pytest.raises(ValueError, match="DROP it"):
        engine.sql(f"RESTORE TABLE test_local FROM '{bdir}'")
    engine.drop_table("test_local")
    engine.sql(f"RESTORE TABLE test_local FROM '{bdir}'")
    after = sorted(map(str, engine.sql("SELECT * FROM test_local").collect()))
    assert after == before and len(after) == 1000
    assert (
        engine.parts.active_parts_count("test_local", engine.catalog.get("test_local").path)
        == parts_before
    )
    # and the restored table keeps working: inserts + monitoring
    engine.insert("test_local", gen.batch_with_partition(500, batch_no=9))
    assert engine.sql("SELECT count(*) FROM test_local").first()[0] == 1500
