"""Partitioned batched ingest — the reference's data path, Spark-first.

``scripts/insert_data.sh:27-51`` pipes TSV through clickhouse-client into a
Distributed table; the server splits each block by ``toYYYYMMDDhh(event_time)``
into up to 24 new parts per insert. Here the same contract is one parallel,
shuffle-free Parquet append:

    batch DF → withColumn(event_hour) → sortWithinPartitions(event_time, id)
      → write.partitionBy(event_hour).mode(append)

- No shuffle: partitionBy on write splits files per task without exchanging
  rows. At 100 TB the append scales linearly with executors.
- ``sortWithinPartitions`` reproduces the MergeTree ordering key
  (create_local.sql:19); Parquet row-group min/max stats then give the same
  pruning effect as the sparse primary index.
- Admission control (plans/flow_control.py) runs before the write, keyed on
  the manifest's active-part count — O(1), no data scan.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhousedatamocker_spark.functions.scalar import to_yyyymmddhh
from clickhousedatamocker_spark.plans.catalog import TableHandle
from clickhousedatamocker_spark.plans.flow_control import FlowController
from clickhousedatamocker_spark.plans.parts import PartsInventory


# Engine families with plain-append semantics: no merge-time collapse, no
# required ORDER BY. Memory/Log/TinyLog/StripeLog are ClickHouse's simple
# table engines — this build persists all of them as parquet parts exactly
# like MergeTree (a superset of Memory's restart-loses-data contract,
# documented deviation).
PLAIN_APPEND_FAMILIES = {"MergeTree", "Memory", "Log", "TinyLog", "StripeLog"}


def _merge_collapse(df: DataFrame, handle: TableHandle, family: str) -> DataFrame:
    """Merge-time collapse semantics of the MergeTree engine families
    (applied per partition during OPTIMIZE, exactly where ClickHouse applies
    them):

    - ReplacingMergeTree([ver]): one row per ORDER BY key — the max-``ver``
      row (or, with no version column, a deterministic representative:
      ordered by all non-key columns descending, where CH keeps an
      arbitrary "last" row).
    - SummingMergeTree: one row per ORDER BY key with numeric non-key
      columns summed; non-numeric non-key columns keep their MIN (CH keeps
      an arbitrary value; MIN is the deterministic choice).
    """
    if family in PLAIN_APPEND_FAMILIES:
        return df
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    keys = handle.order_columns or [df.columns[0]]
    others = [c for c in df.columns if c not in keys]
    if family == "ReplacingMergeTree":
        ver = (handle.engine or {}).get("args") or []
        order = (
            [F.col(ver[0]).desc()]
            if ver
            else [F.col(c).desc() for c in others]
        )
        w = W.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if family == "SummingMergeTree":
        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.DecimalType)
        aggs = []
        for f in df.schema.fields:
            if f.name in keys:
                continue
            if isinstance(f.dataType, numeric):
                aggs.append(F.sum(f.name).cast(f.dataType).alias(f.name))
            else:
                aggs.append(F.min(f.name).alias(f.name))
        return df.groupBy(*keys).agg(*aggs).select(*df.columns)
    if family == "AggregatingMergeTree":
        # One row per ORDER BY key with each AggregateFunction(fn, T) column
        # MERGED by its own discipline (field metadata set by the DDL
        # parser): HLL sketch union for uniq, algebraic partials for
        # sum/min/max/count, component-wise struct sums for avg. Exactly
        # the -State/-Merge combinator semantics, applied at merge time —
        # CH's incremental-rollup storage engine. Plain columns keep MIN
        # (deterministic where CH is arbitrary, like SummingMergeTree).
        aggs = []
        for f in df.schema.fields:
            if f.name in keys:
                continue
            kind = (f.metadata or {}).get("ch_agg")
            if kind == "uniq":
                aggs.append(F.expr(f"hll_union_agg({f.name})").alias(f.name))
            elif kind in ("sum", "count"):
                aggs.append(F.sum(f.name).cast(f.dataType).alias(f.name))
            elif kind == "min":
                aggs.append(F.min(f.name).alias(f.name))
            elif kind == "max":
                aggs.append(F.max(f.name).alias(f.name))
            elif kind == "avg":
                aggs.append(
                    F.struct(
                        F.sum(F.col(f.name).getField("s")).alias("s"),
                        F.sum(F.col(f.name).getField("c")).alias("c"),
                    ).alias(f.name)
                )
            else:
                aggs.append(F.min(f.name).alias(f.name))
        return df.groupBy(*keys).agg(*aggs).select(*df.columns)
    if family == "VersionedCollapsingMergeTree":
        # VersionedCollapsingMergeTree(sign, version): cancellation is
        # version-scoped — a -1 cancels the +1 CARRYING THE SAME VERSION
        # (insertion order never matters, CH's whole point for this
        # family). Per (key, version) group: balanced signs vanish; among
        # the surviving unbalanced versions the key keeps its MAX-version
        # row with the balance's sign.
        args = (handle.engine or {}).get("args") or []
        if len(args) < 2:
            raise NotImplementedError(
                "VersionedCollapsingMergeTree needs (sign, version) arguments"
            )
        sign, version = args[0], args[1]
        others_nc = [c for c in df.columns if c not in keys and c not in (sign, version)]
        w = W.partitionBy(*keys, version, sign).orderBy(
            *[F.col(c).desc() for c in others_nc] or [F.lit(1)]
        )
        ranked = df.withColumn("__rn", F.row_number().over(w))
        balance = df.groupBy(*keys, version).agg(
            F.sum(F.col(sign).cast("long")).alias("__bal")
        )
        survivors = (
            ranked.join(balance, [*keys, version])
            .filter(
                (F.col("__bal") != 0)
                & (F.col("__rn") == 1)
                & (F.when(F.col("__bal") > 0, F.col(sign) > 0).otherwise(F.col(sign) < 0))
            )
            .drop("__rn", "__bal")
        )
        wv = W.partitionBy(*keys).orderBy(F.col(version).desc())
        return (
            survivors.withColumn("__rv", F.row_number().over(wv))
            .filter(F.col("__rv") == 1)
            .drop("__rv")
            .select(*df.columns)
        )
    if family == "CollapsingMergeTree":
        # CollapsingMergeTree(sign): rows with sign=+1 are "state", sign=-1
        # cancels a matching earlier state. Merge semantics for the
        # well-formed stream (what CH documents and guarantees): per ORDER
        # BY key, equal +/- counts cancel completely; a +1 excess keeps the
        # last state row; a -1 excess keeps the last cancel row (CH keeps
        # it so a late-arriving +1 can still cancel). Deterministic "last"
        # = max over non-key columns, where CH is insertion-ordered.
        args = (handle.engine or {}).get("args") or []
        if not args:
            raise NotImplementedError("CollapsingMergeTree needs a sign column argument")
        sign = args[0]
        others_nc = [c for c in df.columns if c not in keys and c != sign]
        w = W.partitionBy(*keys, sign).orderBy(*[F.col(c).desc() for c in others_nc] or [F.lit(1)])
        ranked = df.withColumn("__rn", F.row_number().over(w))
        balance = df.groupBy(*keys).agg(F.sum(F.col(sign).cast("long")).alias("__bal"))
        return (
            ranked.join(balance, list(keys))
            .filter(
                (F.col("__bal") != 0)
                & (F.col("__rn") == 1)
                & (
                    F.when(F.col("__bal") > 0, F.col(sign) > 0).otherwise(F.col(sign) < 0)
                )
            )
            .drop("__rn", "__bal")
            .select(*df.columns)
        )
    raise NotImplementedError(f"unsupported MergeTree family {family!r}")


def _sorted(df: DataFrame, order: list[str]) -> DataFrame:
    """Re-sort a part rewrite on the ORDER BY key (none for keyless tables)."""
    return df.sortWithinPartitions(*order) if order else df


def _remove_part(path: str) -> None:
    """Delete a part file and the checksum sidecar the committer wrote next
    to it."""
    os.remove(path)
    head, tail = os.path.split(path)
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(head, f".{tail}.crc"))


def _mutation_schema(handle: TableHandle):
    from pyspark.sql import types as T

    if not handle.partition_column or handle.partition_column in [
        f.name for f in handle.schema.fields
    ]:
        return handle.schema
    return T.StructType(
        list(handle.schema.fields) + [T.StructField(handle.partition_column, T.IntegerType(), True)]
    )


@dataclass
class InsertResult:
    rows: int
    bytes_on_disk: int
    new_parts: int
    partitions_touched: int
    elapsed_s: float
    delay_s: float


class Writer:
    def __init__(self, parts: PartsInventory, flow: FlowController, metrics=None):
        self.parts = parts
        self.flow = flow
        self.metrics = metrics

    def insert(self, handle: TableHandle, df: DataFrame, *, enforce_partition_cap: bool = False) -> InsertResult:
        """Admission-controlled append of one batch (insert_data.sh parity,
        including the per-batch wall-clock timing at insert_data.sh:31,46-47).
        """
        t0 = time.monotonic()
        table = handle.name

        parts_count = self.parts.active_parts_count(table, handle.path)
        decision = self.flow.admit(parts_count, handle.settings)

        part_col = handle.partition_column
        if part_col and part_col not in df.columns:
            # event_hour = toYYYYMMDDhh(event_time)  (create_local.sql:18)
            df = df.withColumn(part_col, to_yyyymmddhh(F.col("event_time")))

        if enforce_partition_cap and part_col:
            n_parts = df.select(F.countDistinct(part_col).alias("n")).first()["n"]
            self.flow.check_partitions(n_parts, handle.settings, enforce=True)

        if part_col:
            # One shuffle keyed on the partition column so each insert creates
            # exactly one part (file) per touched partition — the MergeTree
            # "block split" semantics (≤24 new parts/insert, CLAUDE.md:429-432)
            # and the standard small-files defense at scale. For very large
            # batches this becomes repartition(n, part_col) via the
            # files_per_partition table setting.
            fpp = int(handle.settings.get("files_per_partition", 1))
            if fpp > 1:
                salt = F.pmod(F.xxhash64(*[F.col(c) for c in (handle.order_columns or [part_col])]), F.lit(fpp))
                df = df.repartition(fpp * 24, F.col(part_col), salt)
            else:
                # partition_buckets: expected distinct partition values per
                # batch (24 for toYYYYMMDDhh over a 1-day horizon). Sizing the
                # shuffle to the key cardinality instead of
                # spark.sql.shuffle.partitions avoids empty reducers and cuts
                # per-insert task overhead ~25% at the reference operating
                # point. Hash collisions just mean one task hosts two hours —
                # partitionBy still emits exactly one file per hour dir.
                buckets = int(handle.settings.get("partition_buckets", 0))
                if buckets > 0:
                    df = df.repartition(buckets, F.col(part_col))
                else:
                    df = df.repartition(F.col(part_col))
        df = _sorted(df, handle.order_columns)

        # watermark taken before the write: commit discovery then walks only
        # partition dirs the write touched — O(#partitions + new files) per
        # insert, independent of accumulated part count (plans/parts.py)
        wm = time.time_ns()
        writer = df.write.mode("append").format("parquet")
        if part_col:
            writer = writer.partitionBy(part_col)
        writer.save(handle.path)

        new_parts = self.parts.record_commit(table, handle.path, since_ns=wm)
        rows = sum(p["rows"] for p in new_parts)
        nbytes = sum(p["bytes_on_disk"] for p in new_parts)
        if self.metrics is not None:
            self.metrics.incr("InsertedRows", rows)
            self.metrics.incr("InsertedBytes", nbytes)
        return InsertResult(
            rows=rows,
            bytes_on_disk=nbytes,
            new_parts=len(new_parts),
            partitions_touched=len({p["partition"] for p in new_parts}),
            elapsed_s=time.monotonic() - t0,
            delay_s=decision.delay_s,
        )

    def rewrite_parts(
        self, spark, handle: TableHandle, partition: str, old: list[dict], transform, n_files: int = 1
    ) -> list[dict] | None:
        """The one part-rewrite primitive (merges, OPTIMIZE, mutations):
        read exactly the ``old`` parts of one partition, write
        ``transform(df)`` as ``n_files`` new parts and swap them in.

        The rewrite runs unlocked in a staging dir unique to this call: its
        leading dot hides it from Spark readers of the table (which would
        otherwise take ``<dir>.<id>.tmp`` for a partition value and fail),
        its ``.tmp`` suffix from an insert's commit walk. The swap is the
        critical section, under the inventory lock: if any old part is no
        longer active (a concurrent rewrite or DETACH took it), the output
        is discarded and None returned. Otherwise the new files move in
        BEFORE the old ones go (a crash in between leaves duplicated rows,
        never lost ones), and one ``commit_parts`` retires the old names and
        registers exactly the moved files — never an unrelated file, such as
        an in-flight insert's. Returns the new part dicts.

        Known limitation (documented): a concurrent SELECT that listed
        files before the swap can hit a deleted part — CH solves this with
        MVCC part snapshots; here, as with any file-source compaction,
        re-run the read."""
        table, names = handle.name, [p["name"] for p in old]
        sub = f"{handle.partition_column}={partition}" if handle.partition_column else ""
        part_dir = os.path.join(handle.path, sub).rstrip("/")

        def still_active() -> bool:
            return set(names) <= set(self.parts.active_names(table, handle.path, partition))

        if not still_active():
            return None
        head, tail = os.path.split(part_dir)
        staging = os.path.join(head, f".{tail}.{uuid.uuid4().hex}.tmp")
        try:
            try:
                df = spark.read.schema(handle.schema).parquet(
                    *[os.path.join(handle.path, n) for n in names]
                )
                transform(df).coalesce(n_files).write.mode("overwrite").parquet(staging)
            except Exception:
                if still_active():
                    raise
                return None  # an old file vanished mid-read: the rewrite lost the race
            with self.parts.lock:
                if not still_active():
                    return None
                moved = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
                for f in moved:
                    shutil.move(os.path.join(staging, f), os.path.join(part_dir, f))
                for n in names:
                    _remove_part(os.path.join(handle.path, n))
                return self.parts.commit_parts(
                    table, handle.path, [os.path.join(sub, f) for f in moved], retire=names
                )
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _rewrite_partitions(self, spark, handle: TableHandle, partitions, transform_for, n_files=None) -> int:
        """Rewrite ALL active parts of each listed partition through
        :meth:`rewrite_parts` (``transform_for(partition)`` builds the
        transform; ``n_files`` None keeps the part count). A rewrite that
        loses the race to a concurrent merge re-reads the partition's
        current parts and runs again, so a mutation is never skipped.
        Returns the old parts' manifest rows minus the new parts' rows."""
        dropped = 0
        for pv in partitions:
            while True:
                old = self.parts.active_by_partition(handle.name, handle.path).get(pv)
                if not old:
                    break
                new = self.rewrite_parts(
                    spark, handle, pv, old, transform_for(pv), n_files or len(old)
                )
                if new is not None:
                    dropped += sum(p["rows"] for p in old) - sum(p["rows"] for p in new)
                    break
        return dropped

    def _matches(self, spark, handle: TableHandle, predicate: str) -> dict[str, int]:
        """Rows matching ``predicate`` per partition value, partitions with
        none left out — one pruned scan (the pseudo-partition "all" when
        unpartitioned)."""
        part_col = handle.partition_column
        hits = spark.read.schema(_mutation_schema(handle)).parquet(handle.path).filter(F.expr(predicate))
        if not part_col:
            n = hits.count()
            return {"all": n} if n else {}
        return {str(r[0]): r[1] for r in hits.groupBy(part_col).count().collect()}

    def _mutation(self, handle: TableHandle, body, order=None):
        """Transform factory for the row mutations: per partition, the
        partition value (not stored in the files) is materialized so
        predicates may reference it, ``body`` applies, and the value is
        dropped again before the sorted write."""
        part_col = handle.partition_column
        order = handle.order_columns if order is None else order

        def transform_for(pv):
            def transform(df):
                if part_col:
                    df = df.withColumn(part_col, F.lit(pv).cast("int"))
                df = body(df)
                return _sorted(df.drop(part_col) if part_col else df, order)

            return transform

        return transform_for

    def mutate_delete(self, spark, handle: TableHandle, predicate: str) -> int:
        """ClickHouse ``ALTER TABLE … DELETE WHERE predicate`` semantics:
        rewrite only the parts whose partition might contain matching rows,
        retiring the old parts (CH runs this as an async mutation; here it is
        synchronous). Partition pruning on the predicate keeps the rewrite
        scoped: untouched partitions' files are never read or rewritten.
        Returns the number of rows deleted.
        """
        hit_parts = self._matches(spark, handle, predicate)
        if not hit_parts:
            return 0
        deleted = self._rewrite_partitions(
            spark, handle, hit_parts, self._mutation(handle, lambda df: df.filter(~F.expr(predicate)))
        )
        if self.metrics is not None:
            self.metrics.incr("PartsMutations")
        return deleted

    def mutate_update(
        self, spark, handle: TableHandle, assignments: dict[str, str], predicate: str
    ) -> int:
        """``ALTER TABLE … UPDATE col = expr, … WHERE predicate``: same
        partition-pruned rewrite as :meth:`mutate_delete`, but matching rows
        are rewritten with the assignment expressions instead of dropped.
        Returns the number of rows updated. The partition column itself is
        not assignable (CH shares this restriction — it would move rows
        between partitions)."""
        part_col = handle.partition_column
        if part_col and part_col in assignments:
            raise ValueError(f"cannot UPDATE the partition column {part_col!r}")
        hit_parts = self._matches(spark, handle, predicate)
        if not hit_parts:
            return 0
        match = F.expr(predicate)

        def update(df):
            types = dict(df.dtypes)
            return df.select(
                *[
                    F.when(match, F.expr(assignments[c])).otherwise(F.col(c)).cast(types[c]).alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in df.columns
                ]
            )

        self._rewrite_partitions(spark, handle, hit_parts, self._mutation(handle, update))
        if self.metrics is not None:
            self.metrics.incr("PartsMutations")
        return sum(hit_parts.values())

    def mutate_rename_column(self, spark, handle: TableHandle, old_name: str, new_name: str) -> int:
        """Physically rewrite every active part with the column renamed.

        ClickHouse's RENAME COLUMN is a metadata-only O(1) change; here it
        is a synchronous mutation (the same part-rewrite machinery as
        ALTER … UPDATE) because parts store the physical column name in
        their parquet footers — DOCUMENTED DEVIATION: correct semantics,
        O(table) cost. Returns rows rewritten."""
        by_partition = self.parts.active_by_partition(handle.name, handle.path)
        order = [new_name if c == old_name else c for c in handle.order_columns]
        self._rewrite_partitions(
            spark,
            handle,
            sorted(by_partition),
            self._mutation(handle, lambda df: df.withColumnRenamed(old_name, new_name), order),
        )
        if self.metrics is not None:
            self.metrics.incr("PartsMutations")
        return sum(p["rows"] for plist in by_partition.values() for p in plist)

    def optimize(
        self, spark, handle: TableHandle, deduplicate: bool = False, partition: str | None = None
    ) -> int:
        """Compact each partition's parts into one (≈ CH background merge /
        OPTIMIZE TABLE). Old parts are retired (active=false) in the manifest
        and their files removed. Returns number of partitions compacted.

        ``deduplicate``: CH's ``OPTIMIZE … DEDUPLICATE`` — drop fully
        identical rows during the merge rewrite (all columns compared, like
        CH's default column list). Partition-local like the merge itself:
        CH deduplicates within the merging parts, never across partitions.
        """
        by_partition = self.parts.active_by_partition(handle.name, handle.path)
        if partition is not None:
            # OPTIMIZE ... PARTITION 'p': compact ONE partition — O(its
            # parts), never a table rewrite; unknown values no-op like CH
            by_partition = {k: v for k, v in by_partition.items() if k == str(partition)}
        family = (handle.engine or {}).get("family", "MergeTree")
        # plain MergeTree: single-part partitions need no merge; the
        # collapsing families (and DEDUPLICATE) must still process them
        # (duplicates can live INSIDE one part — CH's OPTIMIZE FINAL does
        # the same)
        targets = [
            pv
            for pv, plist in by_partition.items()
            if len(plist) >= 2 or family != "MergeTree" or deduplicate
        ]

        def transform(df):
            df = _merge_collapse(df, handle, family)
            return _sorted(df.dropDuplicates() if deduplicate else df, handle.order_columns)

        self._rewrite_partitions(spark, handle, targets, lambda pv: transform, n_files=1)
        return len(targets)
