"""End-to-end ETL pipeline tests — mirrors the reference lifecycle
(initialize_database → update_database day N / N+1 → fill_all_data,
findatabase.py:79-91,203-232,181-201) with the invariants SURVEY.md §5
item 3 calls for: key-uniqueness after dedup, retention, idempotence,
incremental-only fetching, 1-based positional surrogate ids.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from finanalyzer_spark.pipeline.finjobs import (
    FinStore,
    RETENTION_DAYS,
    bootstrap_registry,
    fill_all_history,
    update_history,
)
from finanalyzer_spark.sources.fetcher import FakeFeed

TODAY = dt.date(2026, 8, 10)


@pytest.fixture()
def tickers_csv(tmp_path) -> str:
    p = tmp_path / "tickers.csv"
    p.write_text(
        "Ticker,Name,Exchange\n"
        "AAPL,Apple Inc.,NASDAQ\n"
        "MSFT,Microsoft,NASDAQ\n"
        "TTE,TotalEnergies,EPA\n"
    )
    return str(p)


@pytest.fixture()
def store(spark, tmp_path) -> FinStore:
    return FinStore(spark, str(tmp_path / "warehouse"))


def test_bootstrap_ids_are_1_based_positional(store, tickers_csv):
    names = bootstrap_registry(store, tickers_csv)
    rows = {r["ticker"]: r["id"] for r in names.collect()}
    # reference ids are 1-based insertion-order (findatabase.py:158);
    # ours are 1-based over the deterministic ticker ordering
    assert rows == {"AAPL": 1, "MSFT": 2, "TTE": 3}


def test_bootstrap_is_idempotent_and_appends_only_new(store, tickers_csv, tmp_path):
    bootstrap_registry(store, tickers_csv)
    again = bootstrap_registry(store, tickers_csv)  # J2 anti-join: no dupes
    assert again.count() == 3
    # add one new ticker to the seed → only it is appended, ids extend
    p = tmp_path / "tickers2.csv"
    p.write_text("Ticker,Name,Exchange\nAAPL,Apple,NASDAQ\nNVDA,NVIDIA,NASDAQ\n")
    names = bootstrap_registry(store, str(p))
    rows = {r["ticker"]: r["id"] for r in names.collect()}
    assert rows["NVDA"] == 4 and len(rows) == 4


def test_update_history_full_then_incremental(store, tickers_csv):
    bootstrap_registry(store, tickers_csv)
    feed = FakeFeed()
    h1 = update_history(store, TODAY, feed)
    n1 = h1.count()
    # 3 tickers x (RETENTION_DAYS+1) synthetic days
    assert n1 == 3 * (RETENTION_DAYS + 1)
    # key uniqueness invariant (redundancy.sql semantics)
    assert h1.groupBy("names_id", "date_value").count().where("count > 1").count() == 0

    # same-day rerun: every key fresh → fetch nothing, history unchanged
    h2 = update_history(store, TODAY, feed)
    assert h2.count() == n1

    # two days later the keys are stale (beyond the today-or-yesterday
    # tolerance) → exactly the two missing days per ticker arrive
    h3 = update_history(store, TODAY + dt.timedelta(days=2), feed)
    assert h3.count() == n1 + 2 * 3
    assert h3.groupBy("names_id", "date_value").count().where("count > 1").count() == 0


def test_stream_update_history_matches_batch(spark, store, tickers_csv, tmp_path):
    """The streaming ingest (feed stream reader → broadcast registry
    join → foreachBatch merge) must land EXACTLY the rows the batch
    update_history lands for the same range — the reference's daily
    loop and its continuous form are the same job — and replaying the
    whole stream from scratch must be a row-set no-op (idempotent
    merge sink + pure feed)."""
    from finanalyzer_spark.pipeline.finjobs import stream_update_history

    bootstrap_registry(store, tickers_csv)
    start = TODAY - dt.timedelta(days=RETENTION_DAYS)
    got = stream_update_history(
        store, start, TODAY, days_per_batch=2000,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert (
        got.groupBy("names_id", "date_value").count().where("count > 1").count()
        == 0
    )

    store2 = FinStore(spark, str(tmp_path / "warehouse2"))
    bootstrap_registry(store2, tickers_csv)
    want = update_history(store2, TODAY, FakeFeed())
    n_got = got.count()
    assert n_got == want.count() == 3 * (RETENTION_DAYS + 1)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # full replay (fresh checkpoint -> every day re-delivered): no-op.
    # NOTE: `got`'s captured file listing dies with the replay's swap
    # (overwrite-in-place semantics — the VersionedTable store is the
    # fix when pinned readers must survive); count it before, re-read
    # after.
    again = stream_update_history(
        store, start, TODAY, days_per_batch=4000,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert again.count() == n_got
    assert (
        again.groupBy("names_id", "date_value").count().where("count > 1").count()
        == 0
    )


def test_full_lifecycle_on_versioned_store_matches_plain(
    spark, tickers_csv, tmp_path
):
    """The same jobs on the MVCC backend (VersionedFinStore) land the
    same rows as on plain parquet — the storage seam really is
    swappable — and add what MVCC promises: the pre-refresh history
    stays time-travelable after an incremental update."""
    from finanalyzer_spark.pipeline.finjobs import VersionedFinStore

    plain = FinStore(spark, str(tmp_path / "plain"))
    mvcc = VersionedFinStore(spark, str(tmp_path / "mvcc"))
    feed = FakeFeed()
    for s in (plain, mvcc):
        bootstrap_registry(s, tickers_csv)
        update_history(s, TODAY, feed)
    # day+2 incremental on both
    h_plain = update_history(plain, TODAY + dt.timedelta(days=2), feed)
    h_mvcc = update_history(mvcc, TODAY + dt.timedelta(days=2), feed)
    assert h_mvcc.count() == h_plain.count()
    assert h_mvcc.exceptAll(h_plain).count() == 0
    assert h_plain.exceptAll(h_mvcc).count() == 0

    # MVCC extras: the pre-update snapshot is still readable, and the
    # incremental added exactly 2 days x 3 tickers
    hist_table = mvcc.table("history")
    assert hist_table.current_version() == 2
    pre = hist_table.read(version=1)
    assert h_mvcc.count() - pre.count() == 2 * 3
    # change feed across the refresh: only inserts (new days)
    cdf = hist_table.changes(["names_id", "date_value"], 1, 2)
    assert {r["_change_type"] for r in cdf.collect()} == {"insert"}


def test_update_history_freshness_tolerance_yesterday(store, tickers_csv):
    """Reference skips refresh when last date is today OR yesterday
    (findatabase.py:217) — so a day-after rerun right after a full load
    must be a no-op."""
    bootstrap_registry(store, tickers_csv)
    feed = FakeFeed()
    update_history(store, TODAY, feed)
    # last_date == TODAY == tomorrow-1 → fresh → no fetch
    h = update_history(store, TODAY + dt.timedelta(days=1), feed)
    # (assert exact: one new day per ticker happens only when stale by
    # >1 day; at datediff==1 the branch is 'fresh')
    per_key_max = h.groupBy("names_id").agg(F.max("date_value").alias("m"))
    assert all(r["m"] == TODAY for r in per_key_max.collect())


def test_fill_all_history_overwrites(store, tickers_csv):
    bootstrap_registry(store, tickers_csv)
    feed = FakeFeed()
    h = fill_all_history(store, TODAY, feed)
    assert h.count() == 3 * (RETENTION_DAYS + 1)
    assert h.groupBy("names_id", "date_value").count().where("count > 1").count() == 0
    # deterministic feed → rerun produces identical content (materialize
    # the first result before the overwrite invalidates its files)
    keys = ["names_id", "date_value"]
    first = h.toPandas().sort_values(keys).reset_index(drop=True)
    second = (
        fill_all_history(store, TODAY, feed)
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert first.equals(second)


def test_fill_all_history_equals_serial_fetch(store, tickers_csv):
    """The fill's fetch runs one task per core; its rows are exactly
    what fetching every ticker serially from the feed gives."""
    import pandas as pd

    names = bootstrap_registry(store, tickers_csv).toPandas()
    feed = FakeFeed()
    got = fill_all_history(store, TODAY, feed).toPandas()
    start = TODAY - dt.timedelta(days=RETENTION_DAYS)
    parts = []
    for ticker, names_id in zip(names["ticker"], names["id"]):
        pdf = feed.history(ticker, start, TODAY)
        pdf.insert(0, "names_id", names_id)
        parts.append(pdf)
    want = pd.concat(parts)
    cols = ["names_id", "date_value", "open", "high", "low", "close"]
    got["date_value"] = got["date_value"].map(lambda d: d.isoformat())
    assert (got["date_added"] == TODAY).all()
    keys = ["names_id", "date_value"]
    got = got[cols].sort_values(keys).reset_index(drop=True)
    want = want[cols].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_update_fundamentals_stale_today_only(store, tickers_csv):
    """Info refreshes unless its snapshot is EXACTLY today
    (findatabase.py:225-227 — no yesterday tolerance, unlike history)."""
    from finanalyzer_spark.pipeline.finjobs import update_fundamentals

    bootstrap_registry(store, tickers_csv)
    feed = FakeFeed()
    f1 = update_fundamentals(store, TODAY, feed)
    assert f1.count() == 3  # one snapshot per ticker
    # null→0 coercion: no NULLs anywhere in the wide row
    non_null = f1.na.drop()
    assert non_null.count() == 3

    # same-day rerun: everyone fresh → no new rows
    f2 = update_fundamentals(store, TODAY, feed)
    assert f2.count() == 3

    # NEXT day: stale again (== today only), one more snapshot each
    f3 = update_fundamentals(store, TODAY + dt.timedelta(days=1), feed)
    assert f3.count() == 6
    assert f3.groupBy("names_id", "date_value").count().where("count > 1").count() == 0


def test_latest_fundamentals_asof(store, tickers_csv):
    from finanalyzer_spark.pipeline.finjobs import (
        latest_fundamentals_asof,
        update_fundamentals,
    )

    bootstrap_registry(store, tickers_csv)
    feed = FakeFeed()
    update_history(store, TODAY, feed)
    update_fundamentals(store, TODAY - dt.timedelta(days=3), feed)
    joined = latest_fundamentals_asof(
        store.read("history"), store.read("fundamentals")
    )
    rows = joined.where(F.col("date_value") == TODAY.isoformat()).collect()
    assert len(rows) == 3
    # snapshot is 3 days old → every as-of match carries it
    assert all(r["currentPrice"] is not None for r in rows)
    # price rows BEFORE the snapshot date get no fundamentals
    early = joined.where(
        F.col("date_value") < (TODAY - dt.timedelta(days=3)).isoformat()
    )
    assert early.where(F.col("currentPrice").isNotNull()).count() == 0


# -- schema cache on the store read path -------------------------------------


def _live_dir(store, table: str) -> str:
    import os

    from finanalyzer_spark.pipeline.finjobs import VersionedFinStore

    if isinstance(store, VersionedFinStore):
        t = store.table(table)
        return os.path.join(t.root, f"v={t.current_version()}")
    return store.path(table)


def _jobs_started(spark, fn):
    """(result of fn(), number of Spark jobs fn started), counted in a
    job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("backend", ["plain", "versioned"])
def test_store_reads_match_inferred_schema_over_lifecycle(
    spark, tickers_csv, tmp_path, backend
):
    """A store read uses the schema its writer recorded; it must equal
    the schema Spark infers from the live files, after the full fill
    and after each daily cycle."""
    from finanalyzer_spark.catalog import _SCHEMA_CACHE
    from finanalyzer_spark.pipeline.finjobs import (
        VersionedFinStore,
        update_fundamentals,
    )

    cls = VersionedFinStore if backend == "versioned" else FinStore
    store = cls(spark, str(tmp_path / backend))
    feed = FakeFeed()

    def check(tables):
        for t in tables:
            live = _live_dir(store, t)
            inferred = spark.read.parquet(live).schema.json()
            assert store.read(t).schema.json() == inferred, t
            # the recorded entry itself is what inference would store
            assert _SCHEMA_CACHE[live][1].json() == inferred, t

    bootstrap_registry(store, tickers_csv)
    fill_all_history(store, TODAY, feed)
    check(["names", "history"])
    for day in (2, 4):
        today = TODAY + dt.timedelta(days=day)
        update_history(store, today, feed)
        update_fundamentals(store, today, feed)
        check(["names", "history", "fundamentals"])


def test_schema_cache_sees_out_of_band_rewrite(spark, tmp_path):
    """A write records what inference would store, non-nullable and
    nested fields included; a path rewritten behind the store's back,
    with another schema, is re-inferred on the next read; missing
    tables keep the plain read's error."""
    from pyspark.errors import AnalysisException

    from finanalyzer_spark.catalog import _SCHEMA_CACHE, read_parquet

    store = FinStore(spark, str(tmp_path / "w"))
    written = spark.range(2).select(
        F.col("id").alias("k"),
        F.array("id").alias("a"),
        F.struct(F.lit("x").alias("s")).alias("st"),
        F.create_map(F.lit("m"), F.col("id")).alias("m"),
    )
    store.write(written, "t")
    inferred = spark.read.parquet(store.path("t")).schema.json()
    assert _SCHEMA_CACHE[store.path("t")][1].json() == inferred
    assert store.read("t").schema.json() == inferred
    other = spark.createDataFrame([(1.5, 2, True)], "x double, y int, z boolean")
    other.write.mode("overwrite").parquet(store.path("t"))
    got = read_parquet(spark, store.path("t"))
    assert got.schema.json() == spark.read.parquet(store.path("t")).schema.json()
    assert got.columns == ["x", "y", "z"]
    assert store.read("t").collect()[0]["y"] == 2
    with pytest.raises(AnalysisException):
        store.read("missing")


@pytest.mark.parametrize("backend", ["plain", "versioned"])
def test_reads_after_merge_start_no_jobs(
    spark, tickers_csv, tmp_path, monkeypatch, backend
):
    """After a merge, store reads and the frames the merge itself reads
    and returns are planned from the recorded schema: no Spark job
    (no schema-inference footer read) while they are built."""
    from finanalyzer_spark.pipeline import merge, versioned
    from finanalyzer_spark.pipeline.finjobs import (
        VersionedFinStore,
        update_fundamentals,
    )

    cls = VersionedFinStore if backend == "versioned" else FinStore
    store = cls(spark, str(tmp_path / backend))
    feed = FakeFeed()
    bootstrap_registry(store, tickers_csv)
    fill_all_history(store, TODAY, feed)
    update_fundamentals(store, TODAY, feed)

    merge_reads = []
    for mod in (merge, versioned):
        real = mod.read_parquet

        def counted(spark_, path, real=real):
            df, jobs = _jobs_started(spark_, lambda: real(spark_, path))
            merge_reads.append(jobs)
            return df

        monkeypatch.setattr(mod, "read_parquet", counted)
    today = TODAY + dt.timedelta(days=2)
    update_history(store, today, feed)
    update_fundamentals(store, today, feed)
    monkeypatch.undo()
    # plain: the target read and the returned frame of each merge;
    # versioned: every snapshot read, which is those two per merge plus
    # the jobs' own store reads (names, then history or fundamentals)
    assert merge_reads == [0] * (4 if backend == "plain" else 8)

    for table in ("history", "fundamentals"):
        df, jobs = _jobs_started(spark, lambda: store.read(table))
        assert jobs == 0, table
        assert df.count() > 0
