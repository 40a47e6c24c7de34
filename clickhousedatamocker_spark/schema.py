"""Schema registry — the single source of truth for table schemas.

The reference repeats the ``test_local`` schema three times (DDL
``sql/create_local.sql:6-15``, generator ``scripts/generate_data.py:22-36``,
docs) with manual sync. Here one registry entry drives the StructType, the
generator spec, the TSV parser schema, and DDL emission.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# Column order matters: it is the TSV wire order (generate_data.py:36).
TEST_LOCAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),  # UInt64 1..10^18 (create_local.sql:6)
        T.StructField("event_time", T.TimestampType(), False),  # DateTime, second precision
        T.StructField("user_id", T.IntegerType(), False),  # UInt32 1..1e6
        T.StructField("event_type", T.StringType(), False),  # categorical x4
        T.StructField("value", T.DoubleType(), False),  # Float64 [0,10000) 2dp
        T.StructField("status", T.IntegerType(), False),  # UInt8 0..255
        T.StructField("description", T.StringType(), False),  # [A-Za-z]{50}
        T.StructField("metadata", T.StringType(), False),  # '{}'
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

EVENT_TYPES = ["click", "view", "purchase", "login"]  # generate_data.py:20

# Partitioning / ordering parity with create_local.sql:18-19
PARTITION_COLUMN = "event_hour"  # int yyyyMMddHH == toYYYYMMDDhh(event_time)
ORDER_COLUMNS = ["event_time", "id"]

# system tables (sql/query_metrics.sql:2-5, sql/query_parts.sql:2-9)
SYSTEM_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.LongType(), False),
        T.StructField("description", T.StringType(), False),
    ]
)

SYSTEM_PARTS_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("partition", T.StringType(), False),
        T.StructField("name", T.StringType(), False),  # part (file) name
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes_on_disk", T.LongType(), False),
        T.StructField("active", T.BooleanType(), False),
        T.StructField("modification_time", T.TimestampType(), False),
    ]
)


def local_view(spark, rows: list[tuple], schema: T.StructType | str):
    """A table built in Python (the system views) as a one-partition DataFrame.

    The rows go to the JVM as one Arrow table, which plans as a
    ``LocalRelation``: reading it starts no Python worker. ``coalesce(1)``
    gives the scan a single partition, which already satisfies any sort or
    grouping, so an ORDER BY or GROUP BY over the view plans no exchange.
    ``schema`` is a StructType or a DDL string; the view keeps it exactly,
    nullability included. Timestamps convert as ``createDataFrame`` converts
    Python rows: a naive datetime is process-local time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [() for _ in schema.fields]
    arrays = []
    for col, field, afield in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, T.TimestampType):
            micros = [field.dataType.toInternal(v) for v in col]
            arrays.append(pa.array(micros, pa.int64()).cast(afield.type))
        else:
            arrays.append(pa.array(col, afield.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema).coalesce(1)


@dataclass
class TableSpec:
    """Catalog entry: schema + physical layout + mutable settings."""

    name: str
    schema: T.StructType
    partition_column: str | None = None
    order_columns: list[str] = field(default_factory=list)
    settings: dict[str, int] = field(default_factory=dict)
    # MergeTree TTL expression, e.g. "event_time + INTERVAL 7 DAY" — rows
    # expire when the expression falls before now (applied on OPTIMIZE)
    ttl: str | None = None
    # MergeTree family: {"family": "MergeTree" | "ReplacingMergeTree" |
    # "SummingMergeTree", "args": [...]} — Replacing keeps the newest row
    # per ORDER BY key at merge time, Summing collapses to sums
    engine: dict | None = None
    # SAMPLE BY column: key for the deterministic SAMPLE read clause
    sample_by: str | None = None
    # CH data-skipping INDEX clauses, recorded metadata (minmax == Parquet
    # row-group stats natively; see functions/compat.py)
    skip_indexes: list = field(default_factory=list)

    def ddl(self) -> str:
        """Emit Spark SQL DDL (parity artifact for create_local.sql)."""
        cols = ",\n  ".join(f"{f.name} {f.dataType.simpleString().upper()}" for f in self.schema.fields)
        parts = f"\nPARTITIONED BY ({self.partition_column})" if self.partition_column else ""
        return f"CREATE TABLE IF NOT EXISTS {self.name} (\n  {cols}\n) USING parquet{parts}"


def test_local_spec() -> TableSpec:
    # DDL defaults 150/300 (create_local.sql:20-22); the harness ALTERs to 50/100.
    return TableSpec(
        name="test_local",
        schema=TEST_LOCAL_SCHEMA,
        partition_column=PARTITION_COLUMN,
        order_columns=list(ORDER_COLUMNS),
        settings={
            "parts_to_delay_insert": 150,
            "parts_to_throw_insert": 300,
            # toYYYYMMDDhh over the generator's 1-day spread → 24 distinct
            # partition values per batch; sizes the ingest shuffle (ingest.py)
            "partition_buckets": 24,
        },
    )
