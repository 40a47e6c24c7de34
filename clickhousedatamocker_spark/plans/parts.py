"""Parts inventory → the ``system_parts`` introspection table.

ClickHouse's "part" = immutable sorted file created per insert per partition
(``sql/query_parts.sql:2-9``). The Spark analogue is one Parquet file per
task per partition directory. This module maintains a commit log
(``_parts_manifest.jsonl`` sidecar per table) recording every file the
writer commits, with ``active`` flags so a compaction ("merge") can retire
parts without losing observability — mirroring ``system.parts.active``.

Per-insert cost is independent of total part count (the 100 TB growth
discipline):

- the commit log is APPEND-ONLY — an insert, a part rewrite or an ATTACH
  writes O(changed parts) records, never a full-manifest rewrite (only
  FREEZE/BACKUP compact it, so the copied log is self-contained);
- new-file discovery walks only partition directories whose mtime moved
  past the insert's start watermark — O(#partitions + new files), not
  O(all files); the known-file set diff is an in-memory hash lookup;
- the flow-control input (``active_parts_count``) is an incrementally
  maintained counter, not a per-call scan.

Only an insert discovers files by walking; every other path that adds
files (part rewrites, ATTACH) registers exactly the files it moved in, so
no path can claim another's in-flight files. Row counts come from parquet
footers (metadata-only reads, new files only).
"""

from __future__ import annotations

import functools
import json
import os
import threading
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from clickhousedatamocker_spark.schema import SYSTEM_PARTS_SCHEMA, local_view

# re-walk slack below the watermark: filesystem mtime and time.time_ns()
# are the same realtime clock on one host, and the committer moves files
# into partition dirs strictly AFTER the watermark is taken — the slack
# only guards mtime-granularity rounding. Missing slack would drop a new
# file; excess slack merely re-lists a dir (the known-set diff makes
# re-walks idempotent), but hot dirs from the previous insert then defeat
# the scoping, so keep it tight.
_WM_SLACK_NS = 10_000_000  # 10 ms


def _locked(fn):
    """Hold the inventory lock for the whole call (reentrant — composed
    calls from an already-locked caller don't deadlock)."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self.lock:
            return fn(self, *args, **kwargs)

    return wrapper


class PartsInventory:
    def __init__(self, database: str = "default", metrics=None):
        self.database = database
        # the MetricsStore whose PartsActive/PartsCommitted gauges follow
        # every commit and retire (None: no gauges)
        self.metrics = metrics
        # Serializes manifest mutation between the insert path and the
        # background MergeScheduler thread (plans/merges.py): reentrant so
        # a locked caller can compose load/retire/record/save atomically.
        # CH's MergeTreeData does the same with data_parts_mutex.
        self.lock = threading.RLock()
        # manifest: table -> list of part dicts (full history, CH-style)
        self._manifest: dict[str, list[dict]] = {}
        # every file name ever committed (active or retired) — the diff set
        self._known: dict[str, set[str]] = {}
        self._active_counts: dict[str, int] = {}
        # bumped on every commit/retire — lets readers cache derived state
        self._versions: dict[str, int] = {}

    def inventory_version(self, table: str) -> int:
        return self._versions.get(table, 0)

    def _bump(self, table: str) -> None:
        """Record a change to ``table``'s active parts: readers' caches go
        stale and the part gauges take the new count."""
        self._versions[table] = self._versions.get(table, 0) + 1
        if self.metrics is not None and table in self._active_counts:
            self.metrics.set("PartsActive", self._active_counts[table])
            self.metrics.set("PartsCommitted", self._active_counts[table])

    # -- commit log -------------------------------------------------------
    def _log_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_parts_manifest.jsonl")

    def _legacy_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_parts_manifest.json")

    @_locked
    def load(self, table: str, table_path: str) -> None:
        parts: list[dict] = []
        log = self._log_path(table_path)
        legacy = self._legacy_path(table_path)
        if os.path.exists(log):
            by_name: dict[str, dict] = {}
            with open(log) as f:
                for line in f:
                    if not line.strip():
                        continue
                    rec = json.loads(line)
                    if rec.get("op") == "retire":
                        for name in rec["names"]:
                            if name in by_name:
                                by_name[name]["active"] = False
                    else:
                        p = {k: v for k, v in rec.items() if k != "op"}
                        by_name[p["name"]] = p
                        parts.append(p)
        elif os.path.exists(legacy):
            with open(legacy) as f:
                parts = json.load(f)
        self._manifest[table] = parts
        self._known[table] = {p["name"] for p in parts}
        self._active_counts[table] = sum(1 for p in parts if p["active"])

    def _ensure_loaded(self, table: str, table_path: str) -> None:
        if table not in self._manifest:
            self.load(table, table_path)

    def _append_log(self, table_path: str, records: list[dict]) -> None:
        with open(self._log_path(table_path), "a") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")

    @_locked
    def save(self, table: str, table_path: str) -> None:
        """Full log compaction — rewrite current state. Called before
        FREEZE/BACKUP copy the table, never per-insert or per-rewrite."""
        log = self._log_path(table_path)
        with open(log + ".tmp", "w") as f:
            for p in self._manifest.get(table, []):
                f.write(json.dumps({"op": "add", **p}) + "\n")
        os.replace(log + ".tmp", log)
        legacy = self._legacy_path(table_path)
        if os.path.exists(legacy):
            os.remove(legacy)

    # -- commits ----------------------------------------------------------
    @_locked
    def record_commit(self, table: str, table_path: str, since_ns: int) -> list[dict]:
        """Register every data file not yet in the known set as an active
        part. ``since_ns`` (a ``time.time_ns()`` watermark taken before the
        write) scopes the directory walk to partitions the write touched."""
        return self.commit_parts(table, table_path, list(_walk_parquet(table_path, since_ns)))

    @_locked
    def commit_parts(
        self, table: str, table_path: str, names: list[str], retire: tuple | list = ()
    ) -> list[dict]:
        """Register exactly ``names`` (file paths relative to the table) as
        active parts and retire the ``retire`` names, as one log append —
        a part rewrite swaps its inputs for its output in one step. Names
        already known are skipped. Returns the new part dicts."""
        self._ensure_loaded(table, table_path)
        known = self._known[table]
        now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        new_parts = []
        for rel in names:
            if rel in known:
                continue
            full = os.path.join(table_path, rel)
            new_parts.append(
                {
                    "partition": _partition_value(os.path.dirname(rel)),
                    "name": rel,
                    "rows": _parquet_rows(full),
                    "bytes_on_disk": os.path.getsize(full),
                    "active": True,
                    "modification_time": now,
                }
            )
            known.add(rel)
        records = [{"op": "retire", "names": sorted(retire)}] if retire else []
        self._mark_retired(table, retire)
        self._manifest[table].extend(new_parts)
        self._active_counts[table] += len(new_parts)
        self._bump(table)
        self._append_log(table_path, records + [{"op": "add", **p} for p in new_parts])
        return new_parts

    def _mark_retired(self, table: str, names) -> None:
        names_set = set(names)
        for part in self._manifest.get(table, []):
            if part["name"] in names_set and part["active"]:
                part["active"] = False
                self._active_counts[table] = self._active_counts.get(table, 0) - 1

    @_locked
    def retire(
        self, table: str, table_path: str, names: list[str], forget: bool = False
    ) -> None:
        """Mark parts inactive, keeping history like CH (DROP/DETACH
        PARTITION; part rewrites retire through :meth:`commit_parts`).

        ``forget`` also removes the names from the known-file set, so a
        file with the SAME name can re-register later — the DETACH/ATTACH
        cycle (without it, ATTACH would skip the re-attached files as
        already known)."""
        self._mark_retired(table, names)
        if forget:
            self._known.get(table, set()).difference_update(names)
        self._bump(table)
        self._append_log(table_path, [{"op": "retire", "names": sorted(set(names))}])

    @_locked
    def evict(self, table: str) -> None:
        """Drop the in-memory state for a table name (RENAME/DROP paths):
        the on-disk manifest log travels with the table directory, so the
        next access under either name reloads from the right place. Without
        this, a table RE-CREATED under a renamed-away name would inherit
        the old in-memory parts history — phantom active-part counts that
        trip flow control on an empty table."""
        self._manifest.pop(table, None)
        self._known.pop(table, None)
        self._active_counts.pop(table, None)
        self._bump(table)

    @_locked
    def active_by_partition(self, table: str, table_path: str) -> dict[str, list[dict]]:
        """Active parts (copies of their dicts) grouped by partition value."""
        self._ensure_loaded(table, table_path)
        by_partition: dict[str, list[dict]] = {}
        for p in self._manifest[table]:
            if p["active"]:
                by_partition.setdefault(p["partition"], []).append(dict(p))
        return by_partition

    @_locked
    def active_names(self, table: str, table_path: str, partition: str | None = None) -> list[str]:
        """Active part names, optionally restricted to one partition value."""
        self._ensure_loaded(table, table_path)
        return [
            p["name"]
            for p in self._manifest.get(table, [])
            if p["active"] and (partition is None or p["partition"] == partition)
        ]

    # -- introspection ----------------------------------------------------
    @_locked
    def active_parts_count(self, table: str, table_path: str) -> int:
        """The flow-control input: live part-file count for one table
        (monitor_metrics.sh:100). O(1) — incrementally maintained."""
        self._ensure_loaded(table, table_path)
        return self._active_counts[table]

    @_locked
    def to_df(self, spark: SparkSession, tables: dict[str, str]) -> DataFrame:
        """``system_parts`` DataFrame over all known tables ({name: path})."""
        rows = []
        for table, path in tables.items():
            self._ensure_loaded(table, path)
            for p in self._manifest[table]:
                rows.append(
                    (
                        self.database,
                        table,
                        p["partition"],
                        p["name"],
                        p["rows"],
                        p["bytes_on_disk"],
                        p["active"],
                        datetime.strptime(p["modification_time"], "%Y-%m-%d %H:%M:%S").replace(
                            tzinfo=timezone.utc
                        ),
                    )
                )
        return local_view(spark, rows, SYSTEM_PARTS_SCHEMA)


def _walk_parquet(table_path: str, since_ns: int):
    """Yield the table-relative names of data files.

    Partition directories whose mtime predates the watermark (minus slack)
    are skipped without listing their contents — the walk is
    O(#partitions + files in touched partitions)."""
    if not os.path.isdir(table_path):
        return
    cutoff = since_ns - _WM_SLACK_NS
    root_touched = os.stat(table_path).st_mtime_ns >= cutoff
    for entry in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, entry)
        if entry.endswith(".tmp"):
            # staging dirs of in-flight part rewrites (".<dir>.<id>.tmp")
            # contain '=' like a partition dir — walking one would register
            # phantom parts whose files are about to move
            continue
        if os.path.isdir(full) and "=" in entry:
            if os.stat(full).st_mtime_ns < cutoff:
                continue
            for f in sorted(os.listdir(full)):
                if f.endswith(".parquet"):
                    yield os.path.join(entry, f)
        elif entry.endswith(".parquet") and root_touched:
            yield entry


def _partition_value(partition_dir: str | None) -> str:
    if not partition_dir:
        return "all"
    return partition_dir.split("=", 1)[1]


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
