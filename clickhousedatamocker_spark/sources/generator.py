"""Deterministic columnar batch generator.

Re-expresses ``scripts/generate_data.py:12-36`` (a Python row loop printing
TSV) as pure Column expressions over ``spark.range(n)`` — no Python in the
data path, no driver materialization, fully parallel, and *deterministic
under seed regardless of partitioning* because every column is arithmetic on
the row index ``i``, never task-order-dependent RNG.

Scale note: ``spark.range`` splits the index space evenly across executors;
generating 100 TB is embarrassingly parallel with zero shuffle.

The mixing function is a multiplicative hash mod a 31-bit prime:

    h(i, salt) = (i * 2654435761 + seed * 1000003 + salt * 7919) % 2038074743

All intermediates stay < 2^63 for i < ~3.4e9 per the multiply; for larger row
counts the generator first folds ``i`` mod 2^31. The same formula is
expressible in ANSI SQL (see ``gen_oracle_sql``), which makes generated
batches oracle-checkable against DuckDB — the reference's generator, being
``random``-based, was unverifiable by construction.

Column domains follow generate_data.py:19-33 exactly (see FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousedatamocker_spark.schema import EVENT_TYPES, PARTITION_COLUMN
from clickhousedatamocker_spark.functions.scalar import to_yyyymmddhh

_PRIME = 2038074743  # largest prime < 2^31
_MULT = 2654435761  # Knuth multiplicative constant
# 52 ascii letters, fixed scrambled order (deterministic 'random-looking' text)
_LETTERS = "qWeRtYuIoPaSdFgHjKlZxCvBnMQwErTyUiOpAsDfGhJkLzXcVbN" + "m"
_DEFAULT_BASE_TIME = "2026-01-01 12:00:00"


def _h(salt: int, seed: int) -> Column:
    """Deterministic 31-bit mix of the range index (column ``id``)."""
    folded = F.col("id") % F.lit(2147483648)  # keep i*MULT < 2^63 at any scale
    return (folded * F.lit(_MULT) + F.lit(seed * 1000003 + salt * 7919)) % F.lit(_PRIME)


class BatchGenerator:
    """Generates ``test_local``-shaped batches (generate_data.py parity)."""

    def __init__(self, spark: SparkSession, seed: int = 42, base_time: str | None = None):
        """``base_time=None`` → wall clock per batch (reference behavior,
        ``generate_data.py:19``); pass a fixed string for determinism."""
        self.spark = spark
        self.seed = seed
        self.base_time = base_time

    def batch(self, n: int, *, batch_no: int = 0, num_partitions: int | None = None) -> DataFrame:
        """One n-row batch as a lazy DataFrame (columnar, shuffle-free).

        ``batch_no`` offsets the index space so successive batches don't
        repeat rows (the reference reseeds `random` per process instead).

        Every batch of one size, ``batch_no`` 0 included, builds the same
        plan and the same generated Java source, so an insert loop compiles
        its generation stage once. A value that changes per batch must
        therefore never be an inlined literal: Catalyst writes long, int and
        timestamp literals into the source text (``100000L``), so each batch
        would miss the code cache, compile two new classes and run them
        interpreted until the JIT catches up. The offset is a decimal
        literal, which generated code reads by reference, and the sum reads
        ``id``, so constant folding cannot turn it back into a long literal;
        the decimal round trip is exact for every long. The wall-clock
        ``base_time=None`` is still an inlined timestamp literal, so that
        mode compiles the stage per batch.
        """
        df = self.spark.range(0, n, 1, num_partitions) if num_partitions else self.spark.range(n)
        offset = F.lit(batch_no * n).cast("decimal(38,0)")
        df = df.withColumn("id", (F.col("id").cast("decimal(38,0)") + offset).cast("long"))
        return self.from_index(df)

    def from_index(self, df: DataFrame, base_time: str | None = None) -> DataFrame:
        """Apply the full generated-column family to any DataFrame carrying a
        long ``id`` index column (``spark.range`` output, a rate-source
        ``value``, ...) — the streaming and batch paths share this projection.
        """
        seed = self.seed
        base = base_time or self.base_time
        if base is None:
            # wall-clock base, constant per batch (generate_data.py:19)
            from datetime import datetime

            base = datetime.now().strftime("%Y-%m-%d %H:%M:%S")
        base_ts = F.lit(base).cast("timestamp")

        def h(salt: int) -> Column:
            return _h(salt, seed)

        # id: uniform-ish over 1..~1e18 from two 31-bit draws (generate_data.py:23;
        # composition per SURVEY §7's uniformity note — never rand()*1e18).
        gen_id = (F.lit(1) + (h(1) % F.lit(999999)) * F.lit(1_000_000_000_000) + h(2) % F.lit(1000003)).alias("id")
        # event_time: base - 0..23h, spreads rows over 24 hourly partitions
        # (generate_data.py:24-25 — deliberate partition pressure).
        event_time = (base_ts - F.make_interval(hours=(h(3) % F.lit(24)).cast("int"))).alias("event_time")
        user_id = (F.lit(1) + h(4) % F.lit(1_000_000)).cast("int").alias("user_id")
        event_type = F.element_at(
            F.array(*[F.lit(t) for t in EVENT_TYPES]), (h(5) % F.lit(4) + F.lit(1)).cast("int")
        ).alias("event_type")
        # value: [0,10000) with exactly 2 decimals (generate_data.py:28)
        value = ((h(6) % F.lit(1_000_000)) / F.lit(100.0)).alias("value")
        status = (h(7) % F.lit(256)).cast("int").alias("status")
        # description: 50 letters = two 25-char windows into the letter pool
        pool = F.lit(_LETTERS * 2)
        description = F.concat(
            F.substring(pool, (h(8) % F.lit(52) + F.lit(1)).cast("int"), 25),
            F.substring(pool, (h(9) % F.lit(52) + F.lit(1)).cast("int"), 25),
        ).alias("description")
        metadata = F.lit("{}").alias("metadata")  # generate_data.py:31
        created_at = base_ts.alias("created_at")  # constant per batch (generate_data.py:32-33)
        updated_at = base_ts.alias("updated_at")

        return df.select(
            gen_id, event_time, user_id, event_type, value, status, description, metadata, created_at, updated_at
        )

    def batch_with_partition(self, n: int, **kwargs) -> DataFrame:
        """Batch plus the derived hourly partition column (create_local.sql:18)."""
        df = self.batch(n, **kwargs)
        return df.withColumn(PARTITION_COLUMN, to_yyyymmddhh(F.col("event_time")))


def gen_oracle_sql(
    n: int, seed: int = 42, base_time: str = _DEFAULT_BASE_TIME, batch_no: int = 0
) -> str:
    """DuckDB SQL computing the exact same batch (the correctness oracle for
    the generator). Must stay formula-identical to :meth:`BatchGenerator.batch`,
    including its ``batch_no`` offset of the index space.
    """
    start = batch_no * n
    index = f"range({start}, {start + n})" if start else f"range({n})"
    letters = (_LETTERS * 2).replace("'", "''")
    types_sql = ", ".join(f"'{t}'" for t in EVENT_TYPES)

    def h(salt: int) -> str:
        return f"(((i % 2147483648) * {_MULT} + {seed * 1000003 + salt * 7919}) % {_PRIME})"

    return f"""
SELECT
  1 + ({h(1)} % 999999) * 1000000000000 + {h(2)} % 1000003 AS id,
  TIMESTAMP '{base_time}' - ({h(3)} % 24) * INTERVAL 1 HOUR AS event_time,
  CAST(1 + {h(4)} % 1000000 AS INT) AS user_id,
  ([{types_sql}])[CAST({h(5)} % 4 + 1 AS INT)] AS event_type,
  ({h(6)} % 1000000) / 100.0 AS value,
  CAST({h(7)} % 256 AS INT) AS status,
  substring('{letters}', CAST({h(8)} % 52 + 1 AS INT), 25)
    || substring('{letters}', CAST({h(9)} % 52 + 1 AS INT), 25) AS description,
  '{{}}' AS metadata,
  TIMESTAMP '{base_time}' AS created_at,
  TIMESTAMP '{base_time}' AS updated_at
FROM {index} t(i)
""".strip()


def generate_random_df(
    spark: SparkSession,
    schema_str: str,
    n: int,
    seed: int = 0,
    max_string_length: int = 10,
    max_array_length: int = 10,
) -> DataFrame:
    """ClickHouse ``generateRandom('schema'[, seed, max_string_length,
    max_array_length])`` table function: the SQL-native spelling of the
    reference's whole purpose (mock-data generation,
    ``scripts/generate_data.py:12-36``) — here columnar over
    ``spark.range(n)`` with the same determinism discipline as
    :class:`BatchGenerator`: every column is hash arithmetic on the row
    index, so (schema, seed, n) fully determines the output regardless of
    partitioning or task order. Embarrassingly parallel, zero shuffle.

    Types come from :func:`~clickhousedatamocker_spark.functions.compat.
    parse_ch_type` — the same parser the DDL path uses — so every scalar
    type the engine's CREATE TABLE accepts can be mocked, plus
    single-level Arrays. Nullable(T) yields ~10% NULLs. Value domains are
    practical mock ranges (ints wrap the type's width via hash cast,
    floats uniform [0, 10000), strings 1..max_string_length hex chars),
    not CH's full-bit-pattern extremes — a documented deviation.
    """
    from pyspark.sql import types as T

    from clickhousedatamocker_spark.functions.compat import _split_top, parse_ch_type

    def col_for(h: Column, dtype, depth: int = 0) -> Column:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            # pmod into the type's positive range (ANSI mode forbids a
            # wrapping downcast); h is already abs()'d by the caller
            bound = {T.ByteType: 2**7, T.ShortType: 2**15, T.IntegerType: 2**31}.get(type(dtype))
            return (F.pmod(h, F.lit(bound)) if bound else h).cast(dtype)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return (F.pmod(h, F.lit(1_000_000)) / F.lit(100.0)).cast(dtype)
        if isinstance(dtype, T.DecimalType):
            digits = min(dtype.precision, 9)
            return (F.pmod(h, F.lit(10**digits)) / F.lit(10**dtype.scale)).cast(dtype)
        if isinstance(dtype, T.StringType):
            ln = F.pmod(h, F.lit(max_string_length)) + F.lit(1)
            return F.substring(F.md5(h.cast("string")), 1, 32).substr(F.lit(1), ln)
        if isinstance(dtype, T.BooleanType):
            return F.pmod(h, F.lit(2)) == F.lit(1)
        if isinstance(dtype, T.TimestampType):
            # one mock year ending at the fixed default base time
            base = F.to_timestamp(F.lit(_DEFAULT_BASE_TIME))
            return F.timestamp_seconds(F.unix_timestamp(base) - F.pmod(h, F.lit(365 * 86400)))
        if isinstance(dtype, T.DateType):
            return F.date_sub(F.to_date(F.lit(_DEFAULT_BASE_TIME)), F.pmod(h, F.lit(3650)).cast("int"))
        if isinstance(dtype, T.BinaryType):
            return F.unhex(F.md5(h.cast("string")))
        if isinstance(dtype, T.ArrayType) and depth == 0:
            ln = F.pmod(h, F.lit(max_array_length)) + F.lit(1)
            return F.transform(
                F.sequence(F.lit(1), ln),
                lambda x: col_for(F.xxhash64(h, x), dtype.elementType, depth=1),
            )
        raise NotImplementedError(
            f"generateRandom: unsupported type {dtype.simpleString()} "
            "(scalars and single-level Arrays only)"
        )

    cols = []
    for coldef in _split_top(schema_str):
        name, _, tstr = coldef.strip().partition(" ")
        if not tstr.strip():
            raise ValueError(f"generateRandom schema needs 'name Type' pairs, got {coldef!r}")
        dtype, nullable = parse_ch_type(tstr.strip())
        h = F.xxhash64(F.col("id"), F.lit(int(seed)), F.lit(name))
        c = col_for(F.abs(h), dtype)
        if nullable:
            c = F.when(F.pmod(F.abs(h), F.lit(10)) == F.lit(0), F.lit(None)).otherwise(c)
        cols.append(c.alias(name))
    return spark.range(int(n)).select(*cols)
