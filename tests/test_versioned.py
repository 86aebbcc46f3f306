"""Versioned snapshot store (pipeline/versioned.py): MVCC on plain
parquet — commit/pointer atomicity, snapshot-pinned readers, time
travel, vacuum retention, crash-leftover reclamation.
"""

from __future__ import annotations

import os

import pytest

from finanalyzer_spark.pipeline.versioned import VersionedTable


def _df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_commit_read_roundtrip_and_history(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    assert t.current_version() == 0
    with pytest.raises(FileNotFoundError):
        t.read()

    assert t.commit(_df(spark, 1, 2)) == 1
    assert t.commit(_df(spark, 3)) == 2
    assert t.current_version() == 2
    assert {r["x"] for r in t.read().collect()} == {3}
    # time travel
    assert {r["x"] for r in t.read(version=1).collect()} == {1, 2}


def test_reader_planned_before_commit_survives_it(spark, tmp_path):
    """Snapshot isolation: a reader planned against the current
    snapshot keeps scanning immutable files while a writer commits —
    the failure mode overwrite-in-place has (files deleted under a
    running scan) cannot occur."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 10, 20))
    pinned = t.read()  # plans against v=1
    t.commit(_df(spark, 99))
    assert {r["x"] for r in pinned.collect()} == {10, 20}
    assert {r["x"] for r in t.read().collect()} == {99}


def test_vacuum_retention_and_time_travel_horizon(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(1, 4):
        t.commit(_df(spark, i))
    assert {r["x"] for r in t.read(version=1).collect()} == {1}  # cached schema
    removed = t.vacuum(keep_last=2)
    assert removed == [1]
    assert t.versions() == [2, 3]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(version=1)
    assert {r["x"] for r in t.read(version=2).collect()} == {2}
    # current always survives even with keep_last=1
    t.vacuum(keep_last=1)
    assert t.versions() == [3]
    assert {r["x"] for r in t.read().collect()} == {3}


def test_merge_commits_upsert_with_history(spark, tmp_path):
    """Versioned keyed merge: merge_into semantics, but the pre-merge
    snapshot survives for time travel and pinned readers."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, ver long, v string"
    )
    assert t.merge(base, ["k"]) == 1

    pinned = t.read()  # v=1
    upd = spark.createDataFrame(
        [(2, 3, "B"), (2, 2, "stale"), (3, 1, "c")],
        "k long, ver long, v string",
    )
    assert t.merge(upd, ["k"], order_by=[F.col("ver").desc()]) == 2

    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # pre-merge snapshot intact for the pinned reader AND time travel
    assert {(r["k"], r["v"]) for r in pinned.collect()} == {(1, "a"), (2, "b")}
    assert t.read(version=1).count() == 2

    # replay the same source: row set unchanged, but as a NEW version
    assert t.merge(upd, ["k"], order_by=[F.col("ver").desc()]) == 3
    assert {(r["k"], r["v"]) for r in t.read().collect()} == got


def test_merge_null_key_replay_is_noop(spark, tmp_path):
    """NULL keys compare equal across snapshot and source: replaying a
    batch with a NULL-key row three times leaves exactly one."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge(spark.createDataFrame([(1, "a")], "k long, v string"), ["k"])
    batch = spark.createDataFrame([(None, "n"), (2, "b")], "k long, v string")
    for _ in range(3):
        t.merge(batch, ["k"])
    got = sorted((r["k"] or 0, r["v"]) for r in t.read().collect())
    assert got == [(0, "n"), (1, "a"), (2, "b")]


def test_merge_evaluates_source_once(spark, tmp_path):
    """A versioned merge into a non-empty table runs the source's kernel
    once, as merge_into does."""
    from pyspark.sql import functions as F

    from .conftest import logged_source, read_log

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), ["k"])
    log = str(tmp_path / "calls.log")
    src = logged_source(spark, log, [(2, "B"), (3, "c")], "k long, v string")
    t.merge(src, ["k"], order_by=[F.col("v")])
    assert len(read_log(log)) == 1
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_nondeterministic_source_keeps_keys_unique(spark, tmp_path):
    """A source returning a random subset of keys per call: the commit
    holds unique keys, replaces those it returned and keeps the rest."""
    from .conftest import logged_source, read_log

    t = VersionedTable(spark, str(tmp_path / "t"))
    keys = range(20)
    t.merge(spark.createDataFrame([(k, "old") for k in keys], "k long, v string"), ["k"])
    log = str(tmp_path / "calls.log")
    src = logged_source(spark, log, [(k, "new") for k in keys], "k long, v string", random_subset=True)
    t.merge(src, ["k"])
    rows = [(r["k"], r["v"]) for r in t.read().collect()]
    assert len(rows) == len({k for k, _ in rows}), "duplicate keys"
    (returned,) = read_log(log)
    assert sorted(rows) == [(k, "new" if k in returned else "old") for k in keys]


def test_changes_between_snapshots_cdf(spark, tmp_path):
    """Change data feed: keyed diff of two snapshots yields exact
    insert / delete / update pre+post rows — the surface an
    incremental downstream pipeline consumes."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    # v2: update k=2, insert k=4, drop k=3 (retention), keep k=1
    t.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        ["k"],
        retain=F.col("k") != 3,
    )
    got = {
        (r["k"], r["v"], r["_change_type"])
        for r in t.changes(["k"], from_version=1, to_version=2).collect()
    }
    assert got == {
        (4, "d", "insert"),
        (3, "c", "delete"),
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
    }
    # from empty: everything is an insert
    all_ins = t.changes(["k"], from_version=0, to_version=1)
    assert {r["_change_type"] for r in all_ins.collect()} == {"insert"}
    assert all_ins.count() == 3
    # reversed range is an error, not silently-swapped semantics
    with pytest.raises(ValueError, match="reversed"):
        t.changes(["k"], from_version=2, to_version=1)


def test_cdf_maintains_derived_aggregate_incrementally(spark, tmp_path):
    """The point of the change feed: maintain a derived aggregate from
    the CDF delta alone (insert/update_postimage contribute +, delete/
    update_preimage contribute −) and land exactly the full recompute —
    without rescanning the base table."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [("A", 1, 10.0), ("A", 2, 20.0), ("B", 3, 5.0), ("C", 4, 1.0)],
            "g string, k long, x double",
        )
    )

    def full(df):
        return df.groupBy("g").agg(
            F.count("*").alias("n"), F.round(F.sum("x"), 6).alias("s")
        )

    derived_v1 = full(t.read(version=1)).collect()

    # v2: update k=2 (A: 20→25), insert k=5 (new group D), drop group C
    t.merge(
        spark.createDataFrame(
            [("A", 2, 25.0), ("D", 5, 7.0)], "g string, k long, x double"
        ),
        ["k"],
        retain=F.col("g") != "C",
    )

    signed = t.changes(["k"], from_version=1, to_version=2).withColumn(
        "_w",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1),
    )
    delta = signed.groupBy("g").agg(
        F.sum("_w").alias("dn"),
        F.round(F.sum(F.col("x") * F.col("_w")), 6).alias("ds"),
    )
    prev = spark.createDataFrame(derived_v1)
    maintained = (
        prev.join(delta, "g", "full_outer")
        .select(
            "g",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            F.round(
                F.coalesce("s", F.lit(0.0)) + F.coalesce("ds", F.lit(0.0)), 6
            ).alias("s"),
        )
        .where(F.col("n") > 0)
    )
    got = {(r["g"], r["n"], r["s"]) for r in maintained.collect()}
    want = {(r["g"], r["n"], r["s"]) for r in full(t.read()).collect()}
    assert got == want == {("A", 2, 35.0), ("B", 1, 5.0), ("D", 1, 7.0)}


def test_txn_id_makes_merge_exactly_once(spark, tmp_path):
    """Transactional idempotence (Delta txn pattern): redelivering a
    batch with an already-recorded txn id is a version-level no-op, so
    at-least-once foreachBatch delivery cannot even churn snapshots;
    a NEW txn id commits normally."""
    from pyspark.sql import functions as F  # noqa: F401

    t = VersionedTable(spark, str(tmp_path / "t"))
    b0 = _df(spark, 1, 2)
    assert t.merge(b0, ["x"], txn_id=0) == 1
    # redelivery of batch 0: same version back, nothing written
    assert t.merge(b0, ["x"], txn_id=0) == 1
    assert t.current_version() == 1 and t.last_txn() == 0

    assert t.merge(_df(spark, 3), ["x"], txn_id=1) == 2
    # stale redelivery after later progress: still a no-op
    assert t.merge(b0, ["x"], txn_id=0) == 2
    assert t.versions() == [1, 2]
    assert {r["x"] for r in t.read().collect()} == {1, 2, 3}


def test_streaming_versioned_merge_sink(spark, tmp_path):
    """The feed stream writing through the MVCC merge sink: one
    snapshot per data-bearing trigger, the final version holds exactly
    the batch reader's rows, and every intermediate snapshot remains
    time-travelable — a reader pinned mid-stream is never disturbed."""
    from finanalyzer_spark.sources.feed_datasource import FeedDataSource
    from finanalyzer_spark.streaming.events import (
        foreach_batch_versioned_merge,
    )

    try:
        spark.dataSource.register(FeedDataSource)
    except Exception:
        pass
    t = VersionedTable(spark, str(tmp_path / "t"))
    opts = {"tickers": "AAPL,MSFT", "start": "2026-08-01", "end": "2026-08-04"}
    stream = (
        spark.readStream.format("fake_feed")
        .options(**opts, days_per_batch="2")
        .load()
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_versioned_merge(t, ["ticker", "date_value"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # 4 days at 2/trigger -> 2 committed snapshots
    assert t.current_version() == 2
    want = spark.read.format("fake_feed").options(**opts).load()
    got = t.read()
    assert got.count() == want.count() == 2 * 4
    assert got.exceptAll(want).count() == 0
    # time travel into the mid-stream state: first 2 days only
    v1 = t.read(version=1)
    assert v1.count() == 2 * 2
    assert {r["date_value"] for r in v1.collect()} == {
        "2026-08-01", "2026-08-02"
    }


def test_stream_restart_from_checkpoint_resumes_exactly_once(spark, tmp_path):
    """Kill the ingest mid-stream, restart from the same checkpoint:
    already-committed days are not re-delivered (offset log) and the
    txn-id guard means not even a redelivered epoch could churn a
    snapshot — the final table equals the uninterrupted run's."""
    import time

    from finanalyzer_spark.sources.feed_datasource import FeedDataSource
    from finanalyzer_spark.streaming.events import (
        foreach_batch_versioned_merge,
    )

    try:
        spark.dataSource.register(FeedDataSource)
    except Exception:
        pass
    t = VersionedTable(spark, str(tmp_path / "t"))
    opts = {"tickers": "AAPL,MSFT", "start": "2026-08-01", "end": "2026-08-06"}
    ckpt = str(tmp_path / "ckpt")

    def start_query():
        return (
            spark.readStream.format("fake_feed")
            .options(**opts, days_per_batch="2")
            .load()
            .writeStream.foreachBatch(
                foreach_batch_versioned_merge(t, ["ticker", "date_value"])
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # run until at least one data batch landed, then kill
    q = start_query()
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            if any(p["numInputRows"] > 0 for p in q.recentProgress):
                break
            time.sleep(0.2)
        else:
            raise AssertionError("no data batch within 60s")
    finally:
        q.stop()
    v_mid = t.current_version()
    assert v_mid >= 1

    # restart from the same checkpoint: runs to completion
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = spark.read.format("fake_feed").options(**opts).load()
    got = t.read()
    assert got.count() == want.count() == 2 * 6
    assert got.exceptAll(want).count() == 0
    # 6 days / 2 per trigger = 3 data epochs TOTAL across both runs —
    # no epoch committed twice
    assert t.current_version() == 3


def test_crashed_commit_leftover_is_invisible_and_reclaimed(spark, tmp_path):
    """A snapshot staged but never referenced (writer died before the
    pointer move) is invisible to readers and reclaimed by the next
    commit, which takes its version slot — so time travel can never
    surface the uncommitted data."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, 1))
    # simulate a crashed writer: v=2 exists, pointer still at 1
    crashed = os.path.join(str(tmp_path / "t"), "v=2")
    _df(spark, 666).write.parquet(crashed)
    assert t.current_version() == 1
    assert {r["x"] for r in t.read().collect()} == {1}

    v = t.commit(_df(spark, 2))  # reclaims the dead stage, reuses the slot
    assert v == 2
    assert {r["x"] for r in t.read().collect()} == {2}
    assert {r["x"] for r in t.read(version=2).collect()} == {2}  # never 666
    assert t.versions() == [1, 2]


def test_delete_where_erasure_and_audit(spark, tmp_path):
    """Right-to-erasure: delete commits a new snapshot, the CDF shows
    auditable 'delete' rows, prior snapshots still hold the data until
    purge drops the retention window."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    rows = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "uid long, name string"
    )
    t.commit(rows)
    v = t.delete_where(F.col("uid") == 2)
    assert v == 2
    assert {r["uid"] for r in t.read().collect()} == {1, 3}
    # audit trail: CDF records the deletion; time travel still sees bob
    cdf = t.changes(["uid"], from_version=1).collect()
    assert {(r["uid"], r["_change_type"]) for r in cdf} == {(2, "delete")}
    assert {r["uid"] for r in t.read(version=1).collect()} == {1, 2, 3}
    # purge completes the forgetting: no retained snapshot has uid=2
    t.delete_where(F.lit(False), purge=True)
    assert t.versions() == [t.current_version()]
    assert {r["uid"] for r in t.read().collect()} == {1, 3}


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: NULL-valued predicates do not delete."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(1, 5), (2, None), (3, 50)], "uid long, score int"
        )
    )
    t.delete_where("score > 10")
    assert {r["uid"] for r in t.read().collect()} == {1, 2}


def test_delete_where_txn_idempotent(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1,), (2,)], "uid long"))
    v1 = t.delete_where("uid = 1", txn_id=7)
    v2 = t.delete_where("uid = 1", txn_id=7)  # redelivery: no new snapshot
    assert v1 == v2 == t.current_version()


def test_schema_cache_holds_one_entry_per_live_path(spark, tmp_path):
    """Repeated merges into one path replace its schema-cache entry
    rather than adding one each; vacuum drops the entries of the
    snapshot directories it deletes."""
    from finanalyzer_spark.catalog import _SCHEMA_CACHE
    from finanalyzer_spark.pipeline.merge import merge_into

    def entries(prefix):
        return sorted(k for k in _SCHEMA_CACHE if k.startswith(prefix))

    target = str(tmp_path / "merged")
    for i in range(20):
        merge_into(spark, target, _df(spark, i % 7), ["x"])
    assert entries(target) == [target]
    merged = merge_into(spark, target, _df(spark, 0), ["x"])
    assert {r["x"] for r in merged.collect()} == set(range(7))

    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(5):
        t.commit(_df(spark, i))
    assert len(entries(t.root)) == 5
    assert t.vacuum(keep_last=2) == [1, 2, 3]
    assert entries(t.root) == [os.path.join(t.root, f"v={v}") for v in (4, 5)]
