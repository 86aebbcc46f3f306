"""Keyed MERGE / atomic overwrite on plain parquet — the thin seam a
Delta/Iceberg backend drops into.

The reference "merges" by inserting everything and deleting duplicates
afterwards (redundancy.sql); the Spark-first shape is an idempotent
keyed upsert. On plain parquet that is necessarily read-union-rewrite:
parquet can't overwrite a path its own plan is reading, so we stage to
a sibling directory and swap with a rename. Every caller goes through
this module, so upgrading the store means reimplementing ONLY it:

* `upsert_frame` + `merge_into` -> `DeltaTable.merge(s, "t.k <=> s.k")
  .whenMatchedUpdateAll().whenNotMatchedInsertAll()` over the
  key-deduplicated source `s`, a metadata-only operation touching just
  the files holding matched keys, instead of rewriting the table;
* `overwrite_atomic` -> a transactional `overwrite` commit.

The merge is ONE pass over target and source. `upsert_frame` unions the
target rows (flag 1) with the source rows (flag 0) and keeps the first
row per key under `(flag, *order_by)`: one window over one exchange
does the in-batch dedup and the upsert together, and the source occurs
once in the plan. That is the point: an anti-join-then-union plan holds
the source twice, and column pruning makes the two copies differ (the
anti-join side needs only the keys), so Catalyst cannot reuse the
exchange. Such a merge evaluates its source twice, i.e. fetches from
the feed twice, and a nondeterministic source (a live feed, a
recomputed micro-batch) can disagree with itself between the two and
leave duplicate keys. Keys compare with `IS NOT DISTINCT FROM` (Delta's
`<=>`): a NULL key matches a NULL key, as it does within a batch, so
replaying a batch with a NULL-key row is a no-op like any other replay.
Persisting the source instead (persist + count, then anti-join) was
measured slower: the count is an extra job, and the cached partitioning
made the write run more tasks and write more files.

At 100 TB the parquet fallback is the wrong tool (full rewrite per
merge); the docstrings say so rather than pretending otherwise. The
os.rename swap is atomic on a local filesystem and NOT on S3 — another
reason the production path is a table format, not raw parquet.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet, remember_schema
from ..operators.dedup import dedup_by_key

#: helper columns of `upsert_frame`; a user column of either name is an error
_FLAG = "_merge_from_target"
_RN = "_merge_rn"


def upsert_frame(
    current: DataFrame | None,
    source: DataFrame,
    keys: list[str],
    order_by: list | None = None,
    retain=None,
) -> DataFrame:
    """The merged table of a keyed upsert of `source` into `current`
    (None: no target yet), in one pass: target rows whose key matches a
    source row are replaced, unmatched target rows survive, and the
    source keeps one row per key, the first under `order_by` (arbitrary
    without it, as `dropDuplicates`). Keys compare null-safe. `retain`
    filters the merged rows. Columns come in the target's order, or the
    source's when there is no target.

    Raises ValueError, from the schemas alone, when a column of either
    side is named like a helper column."""
    sides = [df for df in (current, source) if df is not None]
    cols = sides[0].columns
    clash = {_FLAG, _RN}.intersection(c for df in sides for c in df.columns)
    if clash:
        raise ValueError(f"merge helper column name(s) {sorted(clash)} are taken")
    both = source.withColumn(_FLAG, F.lit(0))
    if current is not None:
        both = current.withColumn(_FLAG, F.lit(1)).unionByName(both)
    order = [F.col(_FLAG), *(order_by or [])]
    merged = dedup_by_key(both, keys, order, rn=_RN).select(*cols)
    return merged if retain is None else merged.where(retain)


def recover_swap(path: str) -> None:
    """Clean up after a crashed `overwrite_atomic` of `path`. A swap
    that crashed between the two renames leaves `path` missing and
    exactly one `<path>.old-*` beside it: the parked table is the last
    committed version, so it is renamed back. Without this the table
    reads as absent, and the next refresh re-fetches its whole history
    from the feed. Any `<path>.tmp-*` staging dir is an uncommitted
    write (a crash inside the staged write, or before its promote) and
    is removed.

    It cannot tell a crashed swap from one still running: between the
    renames of a live `overwrite_atomic`, `path` is missing and one
    `.old-*` exists, and renaming it back would make the writer's
    promote fail; a live staged write owns its `.tmp-*`. So it assumes a
    single writer whose calls run in sequence, with no read, probe or
    second merge of `path` overlapping a swap of it — the contract of
    the plain-parquet store (FinStore)."""
    pattern = glob.escape(path)
    if not os.path.exists(path):
        olds = glob.glob(pattern + ".old-*")
        if len(olds) == 1:
            os.rename(olds[0], path)
    for tmp in glob.glob(pattern + ".tmp-*"):
        shutil.rmtree(tmp)


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
    # rmtree), and a crash between the renames leaves `.old-*` intact,
    # which `recover_swap` promotes back (and drops the stage). Nothing may read or probe
    # `path` inside that window: a `recover_swap` there would undo the
    # park and make the promote below fail (single writer, calls in
    # sequence).
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
    `target_path`, written with `overwrite_atomic`: the merged table is
    `upsert_frame` of the target and `source`, so one pass evaluates
    the source exactly once (one feed fetch, one scan of whatever the
    source reads; the module docstring says why, and why the source is
    not persisted instead). Target rows whose key matches an incoming
    row are replaced; unmatched target rows survive; incoming rows are
    key-deduplicated first — by `order_by` (deterministic survivor:
    first row per key under that ordering) when given, else with an
    arbitrary survivor (the reference's redundancy.sql semantics).
    NULL keys compare equal, as Delta's `t.k <=> s.k`.

    `retain`, when given, is a boolean Column applied to the merged
    frame before the write — the TTL/retention DELETE fused into the
    same rewrite (on Delta it becomes a separate `DELETE WHERE`).

    Replaying the same source is a no-op on the row set — the property
    at-least-once streaming sinks and restarted batch jobs need. A
    swap that crashed between its renames is recovered first
    (`recover_swap`). Returns the merged DataFrame: a fresh read of the
    target with the schema the write recorded, so neither the read of
    the target nor the returned frame launches a schema-inference job
    (on a cluster, each such job is a remote task launch plus a footer
    GET)."""
    recover_swap(target_path)
    current = (
        read_parquet(spark, target_path) if os.path.isdir(target_path) else None
    )
    overwrite_atomic(
        upsert_frame(current, source, keys, order_by, retain), target_path
    )
    return read_parquet(spark, target_path)
