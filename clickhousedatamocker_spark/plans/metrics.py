"""Engine metrics store → the ``system_metrics`` introspection table.

Reproduces the metric-name surface of ``sql/query_metrics.sql:8-17`` (plus
the CLAUDE.md variant names) from the engine's own counters. Replication
metrics exist with value 0 — there is no replication here, but the names are
part of the observable surface the monitoring queries filter on.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from clickhousedatamocker_spark.schema import SYSTEM_METRICS_SCHEMA, local_view

# name -> description; the 10 canonical names (query_metrics.sql:8-17) + 2
# from the CLAUDE.md variant (CLAUDE.md:233-234).
METRIC_CATALOG = {
    "DelayedInserts": "Number of INSERT queries that are throttled due to high number of active data parts",
    "DistributedFilesToInsert": "Number of pending files to process for asynchronous insertion into Distributed tables",
    "InsertedRows": "Number of rows inserted into all tables",
    "InsertedBytes": "Number of bytes inserted into all tables",
    "PartsActive": "Active data part, used by current and upcoming SELECTs",
    "PartsCommitted": "Committed parts (deprecated alias of PartsActive)",
    "PartsInMemory": "In-memory parts",
    "PartsMutations": "Number of mutations (ALTER DELETE/UPDATE)",
    "ReplicatedChecks": "Number of data parts checking for consistency",
    "ReplicatedFetch": "Number of data parts being fetched from replica",
    "MergeTreeAllRangesAnnouncementsSent": "The current number of announcement being sent in flight",
    "MergeTreeDataSelectParts": "Number of data parts selected for reading",
    "RejectedInserts": "Number of times the INSERT of a block to a MergeTree table was rejected with Too many parts",
    "Merge": "Number of executing background merges",
    "MergedRows": "Rows read for background merges. This is the number of rows before merge",
}


class MetricsStore:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._values: dict[str, int] = {name: 0 for name in METRIC_CATALOG}
        # bumped on every write — the system_metrics view is rebuilt only
        # when it moved
        self.version = 0

    def incr(self, metric: str, by: int = 1) -> None:
        with self._lock:
            self._values[metric] = self._values.get(metric, 0) + by
            self.version += 1

    def set(self, metric: str, value: int) -> None:
        with self._lock:
            self._values[metric] = value
            self.version += 1

    def get(self, metric: str) -> int:
        with self._lock:
            return self._values.get(metric, 0)

    def to_df(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = [
                (name, int(self._values.get(name, 0)), METRIC_CATALOG.get(name, ""))
                for name in sorted(set(METRIC_CATALOG) | set(self._values))
            ]
        return local_view(spark, rows, SYSTEM_METRICS_SCHEMA)
