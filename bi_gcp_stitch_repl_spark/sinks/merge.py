"""Table sinks: atomic merge-upsert, overwrite, append, history capture.

The reference implements five sink semantics against BigQuery (SURVEY.md
§2.2); this module re-expresses them on an immutable parquet lake with the
atomicity the reference lacks:

- K1/K6 delete+insert upsert — the reference issues a DELETE job then an
  INSERT job (``dags/bexio/bexio_invoice_and_line_items_de.py:147-150,
  182-186,362-386``; staging-table variant ``dags/stripe/stripe_charges.py:
  26-36,123-151``). A crash between the two loses rows. Here the merge is
  ``existing LEFT ANTI batch  UNION  batch`` written to a staging directory
  and atomically swapped via ``os.replace``-style directory rename, so a
  re-run is idempotent and a crash leaves the old table intact.
- K2 truncate-refresh (``WRITE_TRUNCATE`` loads, ``DELETE WHERE TRUE``) →
  ``overwrite`` with the same staged swap.
- K5 incremental append (NDJSON chunked append,
  ``dags/billwerk/billwerk_invoices.py:101-135``) → ``append``.
- K7 dedup-append history capture (``NOT EXISTS`` / ``LEFT JOIN … IS NULL``,
  ``dags/finance/disputed_invoices/stripe_dispute.py:32-46``,
  ``dags/sql-queries/bexio_and_stripe/execute_bexio_and_stripe_sql_queries.py:
  45-57``) → ``append_if_absent`` (left_anti on the composite key, then
  append).
- S4 persisted keyset watermark (Airflow Variable ``last_processed_id``,
  ``dags/billwerk/billwerk_invoices.py:14,86-99,160-163``) →
  ``WatermarkStore``: a small JSON checkpoint advanced only after a
  successful commit, exactly the reference's contract.

Scale notes: the anti-join side of a merge shuffles both relations on the
key. For a 100 TB table receiving small daily batches, broadcast the batch
(it is the small side) — Spark's AQE does this automatically once the batch
stats are known; we additionally hint it when the batch row count is known
small. Partition the physical table by an ingest-date column so K2 overwrites
and P6-style date predicates prune partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: parquet footer key under which Spark stores the row schema it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> T.StructType | None:
    """The Spark schema embedded in a parquet footer, or None."""
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return T.StructType.fromJson(json.loads(raw)) if raw else None
    except Exception:  # noqa: BLE001 — unreadable or legacy: infer instead
        return None


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this transaction's read and its
    swap. The table now holds THEIR result; this transaction's staged
    output was computed from a stale snapshot and must not clobber the
    interloper — re-read and re-run the merge. (ParquetTable offers
    last-writer-wins only for non-overlapping schedules; concurrent
    writers that need real OCC should use VersionedTable.)"""


def _null_safe_on(left: DataFrame, right: DataFrame, keys: list[str]):
    """Join condition matching key tuples with NULL == NULL semantics:
    plain ``on=keys`` equality never matches NULL keys, so a NULL-key row
    would survive every anti-join delete and re-append on every re-run —
    idempotency (the module's core contract) requires null-safe
    equality, exactly like Delta MERGE's ``<=>``."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return cond


class ParquetTable:
    """One logical table stored as a parquet directory with atomic swaps.

    ``partition_by`` (e.g. ``["ingest_date"]``) lays the table out as hive
    partitions so date predicates prune whole directories
    (``PartitionFilters`` in the scan) — the physical layout the reference
    never had and the reason its P6-style date scans read full tables."""

    def __init__(self, spark: SparkSession, path: str, partition_by: list[str] | None = None):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by or []

    # -- read ---------------------------------------------------------------

    def _recover(self) -> None:
        """Crash recovery for the two-rename swap: a failure BETWEEN
        ``rename(path, old)`` and ``rename(stage, path)`` leaves the
        table path missing while the pre-swap snapshot survives under
        ``<path>.old-*`` — roll it back so readers see the pre-merge
        table (the swap never committed). When several ``.old-`` dirs
        exist (a prior crash ALSO failed its cleanup), the NEWEST by
        mtime is the pre-crash snapshot — uuid names carry no order, and
        restoring an older one would silently roll back every merge
        since that crash. A failure AFTER the swap only leaves garbage
        ``.old-*`` / ``.stage-*`` dirs next to a valid table; those are
        ignored here (never deleted — a sibling writer may be mid-swap
        on its own stage)."""
        import glob

        if os.path.exists(self.path):
            return
        olds = glob.glob(glob.escape(self.path) + ".old-*")
        if olds:
            newest = max(olds, key=lambda p: os.path.getmtime(p))
            try:
                os.rename(newest, self.path)
            except OSError:
                # two readers can race this rollback (both observed the
                # path missing); the loser's rename fails AFTER the
                # winner restored the table — that is success, not an
                # error. Also covers a writer's retry swap landing its
                # stage first. Re-raise only if the table is still gone.
                if not os.path.exists(self.path):
                    raise

    def exists(self) -> bool:
        self._recover()
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        # a concurrent writer's swap can yank the path between _recover's
        # success and Spark resolving the scan (schema read happens HERE);
        # the window is microseconds wide but real — retry the resolution
        # a few times before surfacing the error
        last_err: Exception | None = None
        for _ in range(3):
            self._recover()
            try:
                return self._reader().parquet(self.path)
            except Exception as e:  # AnalysisException: PATH_NOT_FOUND
                if "PATH_NOT_FOUND" not in str(e) and not isinstance(
                    e, FileNotFoundError
                ):
                    raise
                last_err = e
                time.sleep(0.05)
        raise last_err

    def _reader(self):
        """A reader given the Spark schema of the first top-level part file
        (the file inference would read), so resolving the scan runs no
        schema-inference job. A partitioned layout (no top-level part
        files) or a footer without the schema keeps inference."""
        parts = [
            f for f in os.listdir(self.path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        schema = _footer_schema(os.path.join(self.path, min(parts))) if parts else None
        reader = self.spark.read
        return reader.schema(schema) if schema is not None else reader

    # -- write primitives ----------------------------------------------------

    def _staged_write(self, df: DataFrame) -> None:
        """Write ``df`` to a staging dir, then atomically swap it in.

        ``os.rename`` of the directory is the commit point: readers see either
        the old table or the new one, never a partial write. This closes the
        reference's DELETE-then-INSERT data-loss window (SURVEY.md §4.3.2).

        The commit rename retries once: a concurrent reader's
        ``_recover`` can observe the path missing mid-swap and roll the
        just-renamed ``.old`` back into place, making the stage→path
        rename fail with ENOTEMPTY. The retry distinguishes WHO put the
        table back: a reader rollback consumed OUR ``.old`` dir (it no
        longer exists) and the retry simply swaps again — the rolled-back
        snapshot is exactly the pre-merge table. But if our ``.old`` dir
        still exists, the reappeared table is a CONCURRENT WRITER'S
        commit; renaming it away and committing our stale-snapshot result
        would permanently delete every row that writer merged (lost
        update) — raise ConcurrentWriteError instead and leave their
        table standing.
        """
        stage = f"{self.path}.stage-{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(stage)
        moved_olds: list[str] = []
        for attempt in (0, 1):
            old = f"{self.path}.old-{uuid.uuid4().hex}"
            if os.path.exists(self.path):
                os.rename(self.path, old)
                # bump the snapshot's mtime: rename PRESERVES it, so a
                # table last written hours ago would look hours old the
                # instant it becomes a .old-* dir and a concurrent
                # vacuum's retention window wouldn't protect it — the
                # touch makes "age" mean time-since-swap, not
                # time-since-last-write
                try:
                    os.utime(old, None)
                except OSError:
                    pass
                moved_olds.append(old)
            try:
                os.rename(stage, self.path)
                break
            except OSError:
                if attempt:
                    raise
                if not os.path.exists(self.path):
                    # the rename failed for a reason OTHER than the path
                    # reappearing (IO error mid-swap): propagate — the
                    # .old snapshot stays for _recover to roll back
                    raise
                if not moved_olds or os.path.exists(moved_olds[-1]):
                    # the table reappeared but NOT via a reader rolling
                    # back our own .old dir → a concurrent writer
                    # committed; do not clobber their result
                    shutil.rmtree(stage, ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"{self.path}: another writer committed during the "
                        "swap; re-read the table and re-run this merge"
                    )
        for old in moved_olds:
            if os.path.exists(old):
                shutil.rmtree(old, ignore_errors=True)
        # drop Spark's cached file listing for the path: stale listings
        # reference the pre-swap part files and fail later reads
        self.spark.catalog.refreshByPath(self.path)

    def overwrite(self, df: DataFrame) -> None:
        """K2 truncate-refresh."""
        self._staged_write(df)

    def append(self, df: DataFrame) -> None:
        """K5 incremental append (parquet append is naturally atomic per
        file; new files only become part of the table once fully written).

        Runs recovery first: an append is a WRITE to the existing table,
        and appending while the path is absent after a mid-swap crash
        would re-create the table holding only this batch — parquet
        append-mode happily writes into a fresh directory, permanently
        stranding the ``.old-`` snapshot (found in review r04)."""
        self._recover()
        writer = df.write.mode("append")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.path)
        self.spark.catalog.refreshByPath(self.path)

    # -- merge semantics -----------------------------------------------------

    def merge_upsert(
        self,
        batch: DataFrame,
        keys: list[str],
        broadcast_batch: bool = True,
        schema_evolution: bool = False,
        key_frame: DataFrame | None = None,
    ) -> None:
        """K1/K6 delete+insert upsert: rows in ``batch`` replace existing rows
        with the same key; all other existing rows survive.

        Equivalent to ``MERGE INTO t USING b ON t.k=b.k WHEN MATCHED THEN
        UPDATE * WHEN NOT MATCHED THEN INSERT *``.

        ``key_frame`` widens the DELETE scope beyond the keys present in
        ``batch``: every existing row whose key appears in ``key_frame``
        is removed in the same atomic commit, even when ``batch`` carries
        no row for that key. This is the parent-key merge a fan-out
        pipeline needs — a parent (invoice) whose child set became EMPTY
        upstream produces zero batch rows, so a batch-keyed anti join
        alone would let its stale children survive forever. Pass the
        full fetched parent-id set and the purge is exact. The scope is
        key_frame ∪ batch keys, so batch rows always replace same-key
        rows regardless of the frame's contents. Default None: delete
        scope = batch keys (classic upsert).

        ``schema_evolution=True`` accepts a batch with added/removed columns
        (union takes the superset, missing sides fill NULL); since this
        table rewrites fully on merge, the result is immediately
        homogeneous. Default False: a column typo should fail loudly, not
        fork the schema.

        Contract: the swap invalidates any OUTSTANDING DataFrame whose
        lineage reads this table (their plans reference the pre-swap part
        files). Execute dependent reads/counts before calling, or
        ``localCheckpoint()`` them — same rule a Delta MERGE has for
        snapshot-pinned readers on overwrite.
        """
        if not self.exists():
            self._staged_write(batch)
            return
        existing = self.read()
        delete_keys = batch.select(*keys)
        if key_frame is not None:
            delete_keys = delete_keys.unionByName(key_frame.select(*keys)).distinct()
        anti_rhs = F.broadcast(delete_keys) if broadcast_batch else delete_keys
        # null-safe key match (see _null_safe_on): a NULL-key batch row
        # must REPLACE the existing NULL-key row, or every re-run appends
        # another copy and idempotency — the crash-recovery story — breaks
        survivors = existing.join(
            anti_rhs, on=_null_safe_on(existing, anti_rhs, keys), how="left_anti"
        )
        merged = survivors.unionByName(batch, allowMissingColumns=schema_evolution)
        self._staged_write(merged)

    def delete_matching(
        self,
        keys_df: DataFrame,
        keys: list[str],
        broadcast_keys: bool = True,
    ) -> int:
        """Hard-delete every row whose key appears in ``keys_df`` (GDPR /
        right-to-be-forgotten erasure across a replicated lake).

        Returns the number of rows removed. Idempotent: re-running with the
        same key set is a no-op, so a crashed erasure job can simply re-run
        — the same atomic staged-swap guarantee as ``merge_upsert``, and the
        same outstanding-DataFrame invalidation contract. The key set is
        broadcast (erasure requests are tiny next to the table), making the
        pass one map-side anti join per partition. Cost honesty: the
        staged swap rewrites the WHOLE table, untouched hive partitions
        included (a partition-scoped replace is not implemented here) —
        VersionedTable's file-pruned delete is the O(affected-data) path;
        size erasure jobs on this sink accordingly.
        """
        if not self.exists():
            return 0
        existing = self.read()
        rhs = keys_df.select(*keys).distinct()
        if broadcast_keys:
            rhs = F.broadcast(rhs)
        # Count via a key-column-pruned semi join first (the scan reads ONLY
        # the key columns thanks to parquet column pruning), then rewrite
        # with the anti join only when something actually matched. Two cheap
        # passes instead of materializing the survivor set to executor disk
        # (localCheckpoint) — which at 100 TB would write the whole surviving
        # table TWICE (checkpoint + staged parquet).
        removed = existing.join(
            rhs, on=_null_safe_on(existing, rhs, keys), how="left_semi"
        ).count()
        if removed:
            survivors = existing.join(
                rhs, on=_null_safe_on(existing, rhs, keys), how="left_anti"
            )
            self._staged_write(survivors)
        return removed

    def compact(
        self,
        target_partitions: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the table into ``target_partitions`` files (default: let
        AQE coalesce). Incremental appends (K5/K7) accumulate small files;
        at 100 TB small files dominate scan overhead (footer reads, task
        scheduling), so compaction is a scheduled maintenance job exactly
        like OPTIMIZE on a lakehouse table. Atomic like every other write.

        ``zorder_by`` additionally clusters the rewrite along the Z-order
        curve of those columns (ops/layout.py), so subsequent scans
        filtering on ANY of them skip most files via parquet min/max
        stats — OPTIMIZE ZORDER BY semantics on plain parquet.
        Returns the row count preserved."""
        df = self.read()
        n = df.count()
        if zorder_by:
            from ..ops.layout import zorder_layout

            compacted = zorder_layout(df, zorder_by, target_partitions or 8)
        elif target_partitions:
            compacted = df.repartition(target_partitions)
        else:
            # no explicit target: write at the SCAN's partitioning — the
            # parquet reader packs small files up to
            # spark.sql.files.maxPartitionBytes per task, so the rewrite
            # lands ~totalBytes/128MB right-sized files at any table
            # size. A fixed coalesce(N) here would clamp the whole job
            # (scan included — coalesce propagates upstream) to N tasks
            # and emit N unboundedly-large files on a big table.
            compacted = df
        self._staged_write(compacted)
        return n

    def vacuum(self, retention_sec: float = 3600.0) -> list[str]:
        """Remove orphaned write generations left by crashed writers.

        A crash before the commit rename leaves a ``.stage-*`` directory; a
        crash BETWEEN the two commit renames leaves a ``.old-*`` directory
        with the table path itself absent — in that state the ``.old``
        dir is the ONLY copy of the data, so recovery runs first (rolls
        it back into place) and, belt-and-braces, ``.old`` dirs are never
        removed while the table path is missing. Like lakehouse VACUUM,
        only orphans older than ``retention_sec`` are removed so a
        concurrent in-flight writer's staging dir is never yanked from
        under it. Returns the paths removed.
        """
        self._recover()
        parent = os.path.dirname(self.path) or "."
        base = os.path.basename(self.path)
        now = time.time()
        removed: list[str] = []
        if not os.path.isdir(parent):
            return removed
        for entry in os.listdir(parent):
            if not (entry.startswith(f"{base}.stage-") or entry.startswith(f"{base}.old-")):
                continue
            # re-check PER ENTRY, not once up front: a writer can enter
            # its swap window (path renamed away) while this loop runs,
            # making a just-created .old-* dir the sole live snapshot
            if entry.startswith(f"{base}.old-") and not os.path.exists(self.path):
                continue  # sole surviving snapshot — never vacuum it
            full = os.path.join(parent, entry)
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue  # already gone (concurrent vacuum / finishing writer)
            if age >= retention_sec:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed

    def append_if_absent(self, batch: DataFrame, keys: list[str]) -> DataFrame:
        """K7 history capture: append only rows whose composite key is not yet
        present. Returns the appended delta (useful for logging/row counts,
        which is all the reference observes)."""
        if not self.exists():
            delta = batch.dropDuplicates(keys)
            self._staged_write(delta)
            return delta
        hist_keys = self.read().select(*keys)
        deduped = batch.dropDuplicates(keys)
        # null-safe: dropDuplicates already treats NULL keys as equal
        # within the batch, so the history join must too — plain equality
        # would re-append the NULL-key row on EVERY scheduled run
        delta = deduped.join(
            hist_keys, on=_null_safe_on(deduped, hist_keys, keys), how="left_anti"
        )
        self.append(delta)
        return delta


class WatermarkStore:
    """Keyset watermark persisted as a JSON file, advanced post-commit.

    Mirrors the reference's Airflow-Variable cursor
    (``dags/billwerk/billwerk_invoices.py:86-99,160-163``): read the cursor,
    fetch ``WHERE key > cursor``, load, and only then advance the cursor —
    so a failed load re-reads the same slice (at-least-once + idempotent
    sink = effectively-once).
    """

    def __init__(self, path: str):
        self.path = path

    def get(self, name: str, default=None):
        if not os.path.exists(self.path):
            return default
        with open(self.path) as f:
            return json.load(f).get(name, default)

    def advance(self, name: str, value) -> None:
        if value is None:
            # an empty fetch yields no new cursor — advancing to None
            # would CLOBBER the stored watermark and make the next run
            # re-read the entire source history
            return
        state = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                state = json.load(f)
        prev = state.get(name)
        if prev is not None and value <= prev:
            return  # never move backwards (re-run safety)
        state[name] = value
        state[f"{name}__advanced_at"] = time.time()
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)
