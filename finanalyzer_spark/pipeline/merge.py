"""Keyed MERGE / atomic overwrite on plain parquet — the thin seam a
Delta/Iceberg backend drops into.

The reference "merges" by inserting everything and deleting duplicates
afterwards (redundancy.sql); the Spark-first shape is an idempotent
keyed upsert. On plain parquet that is necessarily read-union-rewrite:
parquet can't overwrite a path its own plan is reading, so we stage to
a sibling directory and swap with a rename. Every caller goes through
these two functions, so upgrading the store means reimplementing ONLY
this module:

* `merge_into`  -> `DeltaTable.merge(...).whenMatched...` — a
  metadata-only operation touching just the files holding matched
  keys, instead of rewriting the table;
* `overwrite_atomic` -> a transactional `overwrite` commit.

At 100 TB the parquet fallback is the wrong tool (full rewrite per
merge); the docstrings say so rather than pretending otherwise. The
os.rename swap is atomic on a local filesystem and NOT on S3 — another
reason the production path is a table format, not raw parquet.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..catalog import read_parquet, remember_schema


def overwrite_atomic(df: DataFrame, path: str) -> None:
    """Overwrite `path` with `df`, staging to a sibling temp dir first
    so a plan that READS `path` can be written back to it (parquet
    self-overwrite guard), and readers never observe a half-written
    directory. Records `df`'s schema for the swapped-in path, so the
    next read of it infers nothing."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    # Rename-aside swap: park the live dir, promote the staged one, then
    # reclaim. The table-missing window is a single rename (not a full
    # rmtree), and a crash between the renames leaves `.old-*` intact so
    # recovery has both versions on disk.
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    had_old = os.path.isdir(path)
    if had_old:
        os.rename(path, old)
    os.rename(tmp, path)
    if had_old:
        shutil.rmtree(old)
    # invalidate cached relations/plans over the path (df.cache()'d
    # tables, cached listings): repeated swaps — e.g. a foreachBatch
    # merge sink, one rewrite per trigger — otherwise leave them
    # referencing deleted part files
    df.sparkSession.catalog.refreshByPath(path)
    remember_schema(path, df)


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    order_by: list | None = None,
    retain=None,
) -> DataFrame:
    """Idempotent keyed upsert of `source` into the parquet table at
    `target_path`: target rows whose key matches an incoming row are
    replaced; unmatched target rows survive; incoming rows are
    key-deduplicated first — by `order_by` (deterministic survivor:
    first row per key under that ordering) when given, else
    `dropDuplicates` (arbitrary survivor, the reference's
    redundancy.sql semantics).

    `retain`, when given, is a boolean Column applied to the merged
    frame before the write — the TTL/retention DELETE fused into the
    same rewrite (on Delta it becomes a separate `DELETE WHERE`).

    Replaying the same source is a no-op on the row set — the property
    at-least-once streaming sinks and restarted batch jobs need.
    Returns the merged DataFrame: a fresh read of the target with the
    schema the write recorded, so neither the read of the target nor
    the returned frame launches a schema-inference job (on a cluster,
    each such job is a remote task launch plus a footer GET)."""
    if order_by:
        from ..operators.dedup import dedup_by_key

        incoming = dedup_by_key(source, keys, order_by)
    else:
        incoming = source.dropDuplicates(keys)
    if os.path.isdir(target_path):
        current = read_parquet(spark, target_path)
        merged = current.join(incoming, keys, "left_anti").unionByName(incoming)
    else:
        merged = incoming
    if retain is not None:
        merged = merged.where(retain)
    overwrite_atomic(merged, target_path)
    return read_parquet(spark, target_path)
