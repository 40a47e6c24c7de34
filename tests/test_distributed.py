"""Distributed-engine fidelity beyond the reference's single-node cluster:
sharding-key routing across shard-local tables, async-insert spool backlog
(DistributedFilesToInsert), and the hardened CH DDL parser (parameterized
types, CTAS rejection).

Reference semantics: create_distributed.sql:4-6 declares
ENGINE = Distributed('default', currentDatabase(), test_local) with NO
sharding key on a single-node cluster — so there the alias degenerates to
the local table and nothing here changes that path (test_ch_ddl.py covers
it verbatim). This file exercises what the reference's topology leaves
latent: a multi-shard cluster.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from clickhousedatamocker_spark.engine import Engine
from clickhousedatamocker_spark.functions.compat import parse_ch_ddl, parse_ch_type
from clickhousedatamocker_spark.sources.generator import BatchGenerator
from tests.conftest import create_distributed_sql, create_test_local


# -- DDL parser hardening ----------------------------------------------------


def test_parse_parameterized_types():
    ddl = """
    CREATE TABLE typed (
        d Decimal(10,2),
        d64 Decimal64(4),
        n Nullable(String),
        lc LowCardinality(String),
        e Enum8('click' = 1, 'view' = 2),
        fs FixedString(16),
        ts DateTime64(3),
        tz DateTime('UTC'),
        arr Array(UInt32)
    ) ENGINE = MergeTree() ORDER BY (d)
    """
    out = parse_ch_ddl(ddl)
    assert out["op"] == "create"
    types = {f.name: f for f in out["schema"].fields}
    assert types["d"].dataType == T.DecimalType(10, 2)
    assert types["d64"].dataType == T.DecimalType(18, 4)
    assert types["n"].dataType == T.StringType() and types["n"].nullable
    assert types["lc"].dataType == T.StringType()
    assert types["e"].dataType == T.StringType()  # enum labels surface as strings
    assert types["fs"].dataType == T.StringType()
    assert types["ts"].dataType == T.TimestampType()
    assert types["tz"].dataType == T.TimestampType()
    assert types["arr"].dataType == T.ArrayType(T.IntegerType(), False)


def test_parse_ch_type_aggregate_function_states():
    """AggregateFunction(fn, T) maps to the Spark type its partial state
    occupies (round 5: AggregatingMergeTree support); unknown state fns
    still reject loudly."""
    assert parse_ch_type("AggregateFunction(uniq, UInt64)")[0] == T.BinaryType()
    assert parse_ch_type("AggregateFunction(sum, Float64)")[0] == T.DoubleType()
    assert parse_ch_type("AggregateFunction(sum, UInt64)")[0] == T.LongType()
    assert parse_ch_type("AggregateFunction(count, UInt64)")[0] == T.LongType()
    avg = parse_ch_type("AggregateFunction(avg, Float64)")[0]
    assert [f.name for f in avg.fields] == ["s", "c"]
    with pytest.raises(NotImplementedError):
        parse_ch_type("AggregateFunction(quantileTDigest, Float64)")


def test_ctas_parses_as_ctas_not_alias():
    """CREATE TABLE ... AS SELECT must become a ctas op — never silently an
    alias (the round-1 misparse). Execution is covered in test_ch_ddl.py."""
    out = parse_ch_ddl("CREATE TABLE t AS SELECT 1")
    assert out["op"] == "ctas" and out["select"] == "SELECT 1"
    out = parse_ch_ddl("CREATE TABLE t AS (SELECT * FROM other)")
    assert out["op"] == "ctas" and out["select"] == "SELECT * FROM other"


def test_parse_distributed_engine_args():
    out = parse_ch_ddl(
        "CREATE TABLE d AS local ENGINE = Distributed('c2', currentDatabase(), local, user_id)"
    )
    assert out["op"] == "alias"
    assert out["of"] == "local"
    assert out["distributed"] == {"cluster": "c2", "sharding_key": "user_id"}
    # the reference's form: no sharding key
    out = parse_ch_ddl(create_distributed_sql())
    assert out["distributed"] == {"cluster": "default", "sharding_key": None}


def test_alias_with_unknown_engine_tail_errors():
    with pytest.raises(NotImplementedError, match="tail"):
        parse_ch_ddl("CREATE TABLE d AS local ENGINE = ReplicatedMergeTree('/zk', 'r1')")


# -- multi-shard routing -----------------------------------------------------


@pytest.fixture
def sharded_engine(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse, clusters={"c2": 2})
    create_test_local(e)
    e.sql(
        "CREATE TABLE test_distributed AS test_local "
        "ENGINE = Distributed('c2', currentDatabase(), test_local, user_id)"
    )
    return e


def test_shard_routing_partitions_by_key(spark, sharded_engine):
    e = sharded_engine
    batch = BatchGenerator(spark, seed=7, base_time="2026-01-01 12:00:00").batch(4000)
    res = e.insert("test_distributed", batch)
    assert res.rows == 4000

    shard0 = e.read_table("test_local")
    shard1 = e.read_table("test_local__shard1")
    n0, n1 = shard0.count(), shard1.count()
    assert n0 + n1 == 4000 and n0 > 0 and n1 > 0
    # integral sharding key routes by value modulo shard count (CH semantics)
    assert shard0.filter(F.pmod("user_id", F.lit(2)) != 0).count() == 0
    assert shard1.filter(F.pmod("user_id", F.lit(2)) != 1).count() == 0

    # Distributed SELECT = union over shards: same multiset as the batch
    dist = e.read_table("test_distributed")
    assert dist.count() == 4000
    cksum = F.sum(F.pmod(F.col("id"), F.lit(10**9)))  # ids reach 1e18: sum(id) overflows
    assert dist.select(cksum).first()[0] == batch.select(cksum).first()[0]


def test_multishard_without_key_rejected(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse, clusters={"c2": 2})
    create_test_local(e)
    e.sql(
        "CREATE TABLE test_distributed AS test_local "
        "ENGINE = Distributed('c2', currentDatabase(), test_local)"
    )
    batch = BatchGenerator(spark, seed=7, base_time="2026-01-01 12:00:00").batch(100)
    with pytest.raises(ValueError, match="sharding_key"):
        e.insert("test_distributed", batch)


def test_distributed_view_unions_shards(spark, sharded_engine):
    e = sharded_engine
    batch = BatchGenerator(spark, seed=9, base_time="2026-01-01 12:00:00").batch(2000)
    e.insert("test_distributed", batch)
    assert e.sql("SELECT count(*) AS n FROM test_distributed").first()["n"] == 2000
    # per-shard parts show up in system.parts under their own table names
    parts = e.sql(
        "SELECT table, count(*) AS n FROM system_parts WHERE active GROUP BY table"
    ).collect()
    by_table = {r["table"]: r["n"] for r in parts}
    assert by_table.get("test_local", 0) > 0
    assert by_table.get("test_local__shard1", 0) > 0


# -- async insert spool (DistributedFilesToInsert) ---------------------------


def test_async_insert_backlog_and_flush(spark, sharded_engine):
    e = sharded_engine
    gen = BatchGenerator(spark, seed=11, base_time="2026-01-01 12:00:00")
    for b in range(3):
        e.insert("test_distributed", gen.batch(500), async_insert=True)
    assert e.metrics.get("DistributedFilesToInsert") == 3
    assert e.read_table("test_distributed").count() == 0  # nothing flushed yet

    results = e.flush_distributed("test_distributed")
    assert len(results) == 3
    assert e.metrics.get("DistributedFilesToInsert") == 0
    assert e.read_table("test_distributed").count() == 1500


def test_async_insert_on_local_table_rejected(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    create_test_local(e)
    batch = BatchGenerator(spark, seed=1, base_time="2026-01-01 12:00:00").batch(10)
    with pytest.raises(ValueError, match="local"):
        e.insert("test_local", batch, async_insert=True)
