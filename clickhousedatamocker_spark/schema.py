"""Schema registry — the single source of truth for table schemas.

The reference repeats the ``test_local`` schema three times (DDL
``sql/create_local.sql:6-15``, generator ``scripts/generate_data.py:22-36``,
docs) with manual sync. Here one registry entry drives the StructType, the
generator spec, the TSV parser schema, and DDL emission.
"""

from __future__ import annotations

import functools
import types
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


@functools.cache
def _jvm_literal_entry_points(gateway):
    """The static JVM members ``array_lit`` calls, resolved once per gateway:
    a fresh lookup walks the package path one reflection command per
    segment (25 commands, against 8 for the build itself)."""
    jvm = gateway.jvm
    nio = jvm.java.nio
    return types.SimpleNamespace(
        wrap=nio.ByteBuffer.wrap,
        little_endian=nio.ByteOrder.LITTLE_ENDIAN,
        primitive={"double": jvm.double, "long": jvm.long},
        data_type=jvm.org.apache.spark.sql.types.DataType.fromJson,
        literal=jvm.org.apache.spark.sql.catalyst.expressions.Literal.create,
        column=jvm.org.apache.spark.sql.classic.ExpressionUtils.column,
    )


def array_lit(values, elem: str = "double"):
    """A rectangular vector, matrix or 3-D block of numbers (a list or numpy
    array) as ONE Catalyst array literal column of ``elem`` ("double" or
    "bigint") elements.

    ``F.lit(list)`` is ``array(*[lit(x) for x in list])``: several py4j
    round trips per element. Here the values cross as one little-endian
    ``byte[]`` and are copied into the JVM array one innermost row per
    call, so the build costs O(rows) round trips (a vector of any length:
    8). The column is non-nullable with ``containsNull=false`` at every
    level, as ``F.lit(list)`` of non-null numbers types it; NaN, ±inf and
    -0.0 are kept bit for bit. A ragged block or a bigint out of range
    raises."""
    import numpy as np
    from pyspark.sql import Column
    from pyspark.sql.utils import get_active_spark_context

    np_type, spark_type, prim, view = {
        "double": ("<f8", T.DoubleType(), "double", "asDoubleBuffer"),
        "bigint": ("<i8", T.LongType(), "long", "asLongBuffer"),
    }[elem]
    a = np.asarray(values, dtype=np_type)
    if a.ndim == 0:
        raise ValueError("array_lit: need a vector, matrix or block, got a scalar")
    dtype = spark_type
    for _ in range(a.ndim):
        dtype = T.ArrayType(dtype, containsNull=False)
    gateway = get_active_spark_context()._gateway
    jvm = _jvm_literal_entry_points(gateway)
    buf = getattr(jvm.wrap(a.tobytes()).order(jvm.little_endian), view)()
    arr = gateway.new_array(jvm.primitive[prim], *a.shape)

    def fill(block, shape):
        if len(shape) == 1:
            buf.get(block)  # the buffer holds numpy's C order
        else:
            for i in range(shape[0]):
                fill(block[i], shape[1:])

    fill(arr, a.shape)
    lit = jvm.literal(arr, jvm.data_type(dtype.json()))
    return Column(jvm.column(lit))


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
            # partition values per batch; caps the insert exchange, which is
            # min(partition_buckets, defaultParallelism) wide (ingest.py)
            "partition_buckets": 24,
        },
    )
