"""Generator domain/determinism tests (SURVEY §5.2(1,4), FIXTURES.md §1)."""

import duckdb
import pyspark.sql.functions as F

from clickhousedatamocker_spark.schema import EVENT_TYPES
from clickhousedatamocker_spark.sources.generator import BatchGenerator, gen_oracle_sql

N = 2000


def test_domains(spark):
    df = BatchGenerator(spark, seed=7).batch(N).cache()
    agg = df.select(
        F.min("id").alias("id_min"),
        F.max("id").alias("id_max"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.min("status").alias("s_min"),
        F.max("status").alias("s_max"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.countDistinct("event_type").alias("n_types"),
        F.min(F.length("description")).alias("d_min"),
        F.max(F.length("description")).alias("d_max"),
        F.count(F.when(F.col("metadata") != "{}", 1)).alias("bad_meta"),
    ).first()
    assert agg["id_min"] >= 1 and agg["id_max"] <= 10**18
    assert agg["u_min"] >= 1 and agg["u_max"] <= 1_000_000
    assert agg["s_min"] >= 0 and agg["s_max"] <= 255
    assert agg["v_min"] >= 0.0 and agg["v_max"] < 10000.0
    assert agg["n_types"] == 4
    assert agg["d_min"] == 50 and agg["d_max"] == 50
    assert agg["bad_meta"] == 0
    types = {r[0] for r in df.select("event_type").distinct().collect()}
    assert types == set(EVENT_TYPES)
    only_letters = df.filter(~F.col("description").rlike("^[A-Za-z]{50}$")).count()
    assert only_letters == 0
    df.unpersist()


def test_partition_spread_law(spark):
    """distinct event_hour <= 24 per batch (generate_data.py:25)."""
    df = BatchGenerator(spark, seed=1).batch_with_partition(N)
    n = df.select(F.countDistinct("event_hour")).first()[0]
    assert 1 < n <= 24


def test_determinism_under_seed_and_partitioning(spark):
    bt = "2026-01-01 12:00:00"
    a = BatchGenerator(spark, seed=42, base_time=bt).batch(N, num_partitions=2).orderBy("id").collect()
    b = BatchGenerator(spark, seed=42, base_time=bt).batch(N, num_partitions=16).orderBy("id").collect()
    assert a == b
    c = BatchGenerator(spark, seed=43, base_time=bt).batch(N).orderBy("id").collect()
    assert a != c


def test_matches_duckdb_oracle(spark):
    bt = "2026-01-01 12:00:00"
    gen = BatchGenerator(spark, seed=42, base_time=bt)
    con = duckdb.connect()
    for batch_no in (0, 1, 7):
        df = gen.batch(500, batch_no=batch_no)
        assert dict(df.dtypes)["id"] == "bigint"
        rows = df.orderBy("id").collect()
        sql = gen_oracle_sql(500, seed=42, base_time=bt, batch_no=batch_no)
        orows = con.execute(sql + " ORDER BY id").fetchall()
        assert [tuple(r) for r in rows] == [tuple(o) for o in orows], batch_no


def test_batch_no_offsets_rows(spark):
    g = BatchGenerator(spark, seed=42)
    a = {r["id"] for r in g.batch(100, batch_no=0).collect()}
    b = {r["id"] for r in g.batch(100, batch_no=1).collect()}
    assert not (a & b)
