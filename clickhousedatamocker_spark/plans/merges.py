"""Background merge scheduler — the ClickHouse behavior the reference's
experiment is ABOUT.

The reference harness (`scripts/setup.sh:125-151`,
`scripts/set_flow_control.sh:24-47`) tightens `parts_to_delay_insert` /
`parts_to_throw_insert` precisely because a healthy ClickHouse server's
background merges otherwise keep the active-part count in equilibrium and
backpressure never fires within the demo's one-minute window. Rounds 1-4
modeled the part lifecycle (insert → parts; OPTIMIZE → compaction) but left
merging manual; this module closes the loop with CH's merge-selector
discipline:

- per partition, once active parts reach ``min_parts_to_merge``, merge the
  ``max_parts_per_merge`` SMALLEST parts (by bytes) into one — preferring
  small parts maximizes part-count reduction per byte rewritten, the same
  greedy heuristic CH's simple merge selector applies at the base level;
- the merge rewrite applies the table's engine-family collapse
  (Replacing keep-newest / Summing sums) over the merging parts only —
  never across parts that are not part of this merge, exactly CH's scoping;
- merged output is re-sorted on the ORDER BY key and lands as ONE part;
  old parts retire in the manifest (active=false) and their files go away.

Scale: each merge reads only its selected parts (O(merge size), never
O(table)); selection is a manifest scan (metadata, no data I/O). On a real
cluster this is embarrassingly parallel per partition; here ``run_once``
merges deterministically in partition order so tests can pin outcomes, and
``start`` wraps it in a daemon thread for harness parity with CH's
background pool (Spark job submission is thread-safe).
"""

from __future__ import annotations

import threading
import time

from clickhousedatamocker_spark.plans.ingest import _merge_collapse


class MergeScheduler:
    def __init__(
        self,
        writer,
        metrics=None,
        min_parts_to_merge: int = 8,
        max_parts_per_merge: int = 10,
        registry: dict | None = None,
        registry_lock=None,
    ):
        if min_parts_to_merge < 2 or max_parts_per_merge < 2:
            raise ValueError("merging needs at least 2 parts")
        # optional in-flight registry (Engine.running_merges -> system.merges)
        self.registry = registry if registry is not None else {}
        self.registry_lock = registry_lock or threading.Lock()
        self.writer = writer
        self.parts = writer.parts
        self.metrics = metrics
        self.min_parts_to_merge = min_parts_to_merge
        self.max_parts_per_merge = max_parts_per_merge
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.merges_performed = 0

    # -- selection (manifest-only, no data I/O) ---------------------------
    def select(self, table: str, table_path: str) -> list[tuple[str, list[dict]]]:
        """CH-style merge selection: per partition with >= min_parts_to_merge
        active parts, the max_parts_per_merge smallest parts by bytes."""
        by_partition = self.parts.active_by_partition(table, table_path)
        picks = []
        for partition in sorted(by_partition):
            plist = by_partition[partition]
            if len(plist) >= self.min_parts_to_merge:
                plist.sort(key=lambda p: (p["bytes_on_disk"], p["name"]))
                picks.append((partition, plist[: self.max_parts_per_merge]))
        return picks

    # -- one scheduling pass ----------------------------------------------
    def run_once(self, spark, handle, max_workers: int = 8) -> int:
        """Select and execute merges for every eligible partition once.
        Returns the number of merges performed (0 = equilibrium).

        Merges run CONCURRENTLY across partitions (CH's background pool is
        16 threads for the same reason): each merge is a tiny Spark job, and
        a sequential pass over 24 hourly partitions would lose the race
        against a 1 Hz insert loop that adds 24 parts per batch. Partition
        disjointness makes the rewrites independent; the manifest swap is
        serialized by the inventory lock. Spark job submission is
        thread-safe."""
        picks = self.select(handle.name, handle.path)
        if not picks:
            return 0
        if len(picks) == 1 or max_workers <= 1:
            for partition, plist in picks:
                self._merge(spark, handle, partition, plist)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(max_workers, len(picks))) as ex:
                list(ex.map(lambda pp: self._merge(spark, handle, pp[0], pp[1]), picks))
        self.merges_performed += len(picks)
        return len(picks)

    def _merge(self, spark, handle, partition: str, plist: list[dict]) -> None:
        """Rewrite the selected parts of one partition into a single part
        through :meth:`Writer.rewrite_parts`, scoped to a subset (a real
        merge never touches the partition's other parts). Picks that a
        concurrent rewrite already retired merge nothing."""
        if self.metrics is not None:
            self.metrics.incr("Merge")
        key = (handle.name, partition)
        with self.registry_lock:
            self.registry[key] = {
                "table": handle.name,
                "partition": partition,
                "num_parts": len(plist),
                "rows_read": sum(p["rows"] for p in plist),
                "started": time.monotonic(),
            }
        try:
            family = (handle.engine or {}).get("family", "MergeTree")
            merged = self.writer.rewrite_parts(
                spark,
                handle,
                partition,
                plist,
                lambda df: _merge_collapse(df, handle, family),
            )
            if merged is not None and self.metrics is not None:
                self.metrics.incr("MergedRows", sum(p["rows"] for p in plist))
        finally:
            with self.registry_lock:
                self.registry.pop(key, None)
            if self.metrics is not None:
                self.metrics.incr("Merge", -1)

    # -- background pool parity -------------------------------------------
    def start(self, spark, handle, interval_s: float = 0.2) -> "MergeScheduler":
        """Run the scheduling pass on a daemon thread every ``interval_s``
        until :meth:`stop` — CH's background merge pool shape. One thread is
        enough here: merges within one single-writer engine are serialized
        by the manifest anyway."""
        if self._thread is not None:
            raise RuntimeError("scheduler already started")

        def loop() -> None:
            while not self._stop.wait(interval_s):
                self.run_once(spark, handle)

        self._thread = threading.Thread(target=loop, name=f"merges-{handle.name}", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            self._thread = None
        self._stop.clear()
