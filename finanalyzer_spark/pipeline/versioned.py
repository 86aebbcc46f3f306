"""Versioned snapshot store on plain parquet — MVCC semantics behind
the same seam `pipeline/merge.py` defines, one step closer to a table
format.

`overwrite_atomic` (merge.py) makes a single swap crash-recoverable,
but readers planned against the old directory can still lose files
mid-scan, and there is no history. A `VersionedTable` removes both
limits the way Delta/Iceberg do — immutable snapshot directories plus
an atomically-replaced pointer:

    table/
      _CURRENT          <- text file holding "3" (rename-replaced)
      v=1/ ... parquet
      v=2/ ... parquet
      v=3/ ... parquet

* Writers stage `v=N+1` fully, then atomically repoint `_CURRENT`
  (write temp + `os.replace`, atomic on POSIX). A crash mid-write
  leaves a dangling unreferenced snapshot — invisible, reclaimed by
  the next `vacuum`.
* Readers resolve `_CURRENT` once at plan time and scan an immutable
  directory: a concurrent commit can never delete files under a
  running scan (until `vacuum` passes its retention).
* Time travel = reading any still-retained `v=K`.

The reference keeps one mutable SQLite file — history is simply lost
(findatabase.py:79-91 truncates on re-init). At 100 TB the same layout
holds per PARTITION rather than per table (rewriting the full table
per commit is the plain-parquet tax merge.py already documents); a
real deployment graduates to Delta, where `_CURRENT` becomes the
transaction log and `vacuum` is literally `VACUUM`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..catalog import forget_schema, read_parquet, remember_schema


class VersionedTable:
    """Snapshot-versioned parquet table rooted at `root`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointer management ------------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> int:
        """0 = no committed snapshot yet."""
        try:
            with open(self._pointer) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return 0

    def versions(self) -> list[int]:
        """All snapshot versions present on disk (committed or not
        yet vacuumed), ascending."""
        out = []
        for entry in os.listdir(self.root):
            if entry.startswith("v="):
                try:
                    out.append(int(entry[2:]))
                except ValueError:
                    continue
        return sorted(out)

    def _snapshot_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v={version}")

    # -- write path --------------------------------------------------------
    def commit(self, df: DataFrame) -> int:
        """Write `df` as the next snapshot and atomically repoint
        `_CURRENT` to it. Returns the new version number.

        The snapshot directory is fully materialized before the
        pointer moves, so a crash at ANY point leaves the previous
        version live and intact. Any snapshot ABOVE the pointer is a
        dead stage from a crashed writer (single-writer protocol) and
        is reclaimed here first — which keeps the invariant that every
        on-disk version <= current is genuinely committed history, so
        time travel can never surface uncommitted data."""
        current = self.current_version()
        for v in self.versions():
            if v > current:
                self._drop_snapshot(v)
        version = current + 1
        target = self._snapshot_dir(version)
        df.write.mode("overwrite").parquet(target)
        remember_schema(target, df)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._pointer)  # atomic on POSIX
        return version

    # -- read path ---------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or time travel to any retained `version`."""
        v = self.current_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        path = self._snapshot_dir(v)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {v} of {self.root} is gone (vacuumed?); "
                f"retained: {self.versions()}"
            )
        return read_parquet(self.spark, path)

    # -- transactional batch tracking (Delta's txn appId/version) ----------
    @property
    def _txn_pointer(self) -> str:
        return os.path.join(self.root, "_LAST_TXN")

    def last_txn(self) -> int:
        """Highest committed transaction id; -1 before any."""
        try:
            with open(self._txn_pointer) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return -1

    def _record_txn(self, txn_id: int) -> None:
        tmp = self._txn_pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(txn_id))
        os.replace(tmp, self._txn_pointer)

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        order_by: list | None = None,
        retain=None,
        txn_id: int | None = None,
    ) -> int:
        """Keyed upsert as a snapshot commit: same semantics as
        pipeline.merge.merge_into (matched keys replaced, deterministic
        within-batch survivor under `order_by`, `retain` predicate
        fused into the write) but readers of the previous version are
        never disturbed and the pre-merge state stays time-travelable
        until vacuum. Returns the committed version.

        `txn_id` makes the commit TRANSACTIONALLY idempotent (Delta's
        txn appId/version pattern): a merge whose id is <= the last
        recorded one is a redelivery and returns the current version
        without writing — the guarantee a foreachBatch sink needs to
        turn at-least-once batch delivery into exactly-once, even
        across query restarts (keyed idempotence alone can't skip the
        snapshot churn, and non-keyed appends can't dedup at all)."""
        if txn_id is not None and txn_id <= self.last_txn():
            return self.current_version()
        if order_by:
            from ..operators.dedup import dedup_by_key

            incoming = dedup_by_key(source, keys, order_by)
        else:
            incoming = source.dropDuplicates(keys)
        if self.current_version() > 0:
            current = self.read()
            merged = current.join(incoming, keys, "left_anti").unionByName(
                incoming
            )
        else:
            merged = incoming
        if retain is not None:
            merged = merged.where(retain)
        version = self.commit(merged)
        if txn_id is not None:
            # recorded AFTER the snapshot commit: a crash in between
            # redelivers the batch, and the keyed merge makes the
            # redelivery a row-set no-op (at-least-once collapses to
            # effectively-once on the data, exactly-once on the txn log)
            self._record_txn(txn_id)
        return version

    def delete_where(
        self,
        condition,
        txn_id: int | None = None,
        purge: bool = False,
    ) -> int:
        """Targeted row deletion (the GDPR right-to-erasure shape) as a
        snapshot commit: rows where `condition` is TRUE are dropped,
        everything else is rewritten unchanged. Returns the committed
        version. Standard SQL DELETE null-semantics: rows where the
        predicate evaluates to NULL are KEPT.

        Deletion by commit means prior snapshots STILL CONTAIN the
        rows — time travel and the CDF ('delete' change rows) keep the
        erasure auditable, but actual forgetting requires dropping the
        retention window: `purge=True` runs ``vacuum(keep_last=1)``
        after the commit so no retained snapshot holds the deleted
        rows (Delta has the same two-step contract: DELETE then VACUUM
        inside the compliance window).

        `txn_id` gives redelivered delete requests the same
        exactly-once skip as `merge`."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if txn_id is not None and txn_id <= self.last_txn():
            return self.current_version()
        cond = condition if isinstance(condition, Column) else F.expr(condition)
        kept = self.read().where(~F.coalesce(cond, F.lit(False)))
        version = self.commit(kept)
        if txn_id is not None:
            self._record_txn(txn_id)
        if purge:
            self.vacuum(keep_last=1)
        return version

    def changes(
        self,
        keys: list[str],
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change data feed between two snapshots: keyed diff with a
        `_change_type` column — 'insert' (key only in the newer
        version), 'delete' (key only in the older), and
        'update_preimage'/'update_postimage' pairs for keys present in
        both with different payloads. Delta's CDF surface derived from
        snapshots instead of logged — O(two scans + one join) per
        consumption, the trade the snapshot store makes.

        `from_version=0` diffs against empty (everything 'insert');
        `to_version=None` means current. This is what an incremental
        downstream pipeline consumes to maintain derived tables
        without rescanning the world."""
        from pyspark.sql import functions as F

        resolved_to = self.current_version() if to_version is None else to_version
        if from_version > resolved_to:
            raise ValueError(
                f"from_version={from_version} is newer than "
                f"to_version={resolved_to}; a reversed range would silently "
                "swap insert/delete semantics"
            )
        new = self.read(resolved_to)
        old = (
            self.read(from_version)
            if from_version > 0
            else self.spark.createDataFrame([], new.schema)
        )
        payload = [c for c in new.columns if c not in keys]
        inserted = new.join(old, keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        deleted = old.join(new, keys, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        o = old.alias("o")
        n = new.alias("n")
        changed = o.join(n, keys, "inner").where(
            ~F.struct(*[F.col(f"o.{c}") for c in payload]).eqNullSafe(
                F.struct(*[F.col(f"n.{c}") for c in payload])
            )
        )
        pre = changed.select(
            *keys, *[F.col(f"o.{c}") for c in payload]
        ).withColumn("_change_type", F.lit("update_preimage"))
        post = changed.select(
            *keys, *[F.col(f"n.{c}") for c in payload]
        ).withColumn("_change_type", F.lit("update_postimage"))
        return inserted.unionByName(deleted).unionByName(pre).unionByName(post)

    # -- maintenance -------------------------------------------------------
    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all snapshots older than the `keep_last` most recent
        committed ones, plus any dead stage a crashed writer left
        above the pointer. Returns the versions removed.

        `keep_last >= 1`; the current version is always retained. The
        retention window is the time-travel horizon AND the grace
        period for in-flight readers of old snapshots — identical to
        Delta's VACUUM contract."""
        keep_last = max(1, keep_last)
        current = self.current_version()
        removed = []
        for v in self.versions():
            if current - keep_last < v <= current:
                continue
            self._drop_snapshot(v)
            removed.append(v)
        return removed

    def _drop_snapshot(self, version: int) -> None:
        path = self._snapshot_dir(version)
        shutil.rmtree(path)
        forget_schema(path)
