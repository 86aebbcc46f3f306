"""The benchmark's three workloads and their metrics.

Every workload is a closed loop with one client: the next op starts
when the previous one has returned. A run has three phases.

1. Set-up, once: start a Spark session through ``session.get_spark``,
   generate the seeded inputs, then run the query workloads' two
   warm-up passes (the first keeps each result for the oracle check and
   builds the heavy queries' artifacts) or bootstrap the etl stores'
   ticker registries. ``setup_s`` is the time from
   process start to the start of the first timed op, so it holds
   interpreter and package import, JVM launch, data generation and
   warm-up.
2. The timed phase, at least ``--seconds`` long (query workloads run
   whole passes; etl runs at least ``MIN_CYCLES`` daily cycles per
   store). Every timed op runs under its own Spark job group.
3. Verification: query results are compared with the DuckDB oracle,
   etl stores are checked against the lifecycle's invariants. An op
   that raised or produced a wrong result counts as failed; its time
   stays in the totals.

Every end-to-end metric is reported on every workload. Where a metric
is named after another workload's notion, it carries this workload's
counterpart:

========================  =========================  ==========================
metric                    query workloads            etl-lifecycle
========================  =========================  ==========================
queries_per_s             queries per timed second   as-of reads per timed second
query_p50_s, query_p90_s  query latency              as-of read latency
read_p50_s                query latency (a query is  as-of read latency
                          the workload's read)
cycle_p50_s, cycle_p75_s  one pass over the query    one daily cycle, pooled over
                          list                       both stores
rows_per_s                oracle result rows of the  history rows landed, both
                          queries run, per second    stores, per timed second
========================  =========================  ==========================

The share of failed ops is ``failed / attempted`` of the result line;
it is not a metric because it is 0 on every correct run.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from finanalyzer_spark import catalog
from finanalyzer_spark.pipeline import finjobs, merge, versioned
from finanalyzer_spark.plans import REGISTRY, artifacts
from finanalyzer_spark.session import default_parallelism, get_spark
from finanalyzer_spark.sources.fetcher import FakeFeed, fetch_history

from . import datagen, oracle
from .tracing import COUNTERS, JobLedger, Spans, wrap

#: Scale factor of the query workloads' generated tables.
SF = 0.01
#: Sub-second registry queries: per-query fixed cost (plan construction,
#: eager driver jobs, Catalyst, scheduling) dominates. ``media_*`` and
#: ``warc_*`` queries are left out: their Python workers import the
#: package from the working directory, not from ``PYTHONPATH``.
TAIL = (
    "tpch_q7_volume_shipping", "tpch_q18_large_orders",
    "tpch_q22_idle_customers", "pricing_summary", "groupby_last_update",
    "select_project_filter", "sql_surface", "latest_price_per_key",
    "window_rownum_dedup", "granger_causality_f", "sessionize_events", "asof_join_events",
    "text_token_stats", "cosine_topk",
)
#: Multi-second queries: fixpoint loops (job and stage count) and
#: scan/shuffle-heavy statistics (executor operators, shuffle bytes).
HEAVY = (
    "kcore_cosupply", "hits_trade_graph", "garman_klass_volatility",
    "kruskal_wallis_returnflag",
)
#: etl: seeded tickers (plus one MISSING* ticker), minimum daily cycles
#: per store, days ``today`` advances per cycle, as-of reads timed after
#: each cycle besides the cycle's own, and days of the closing stream
#: catch-up. A cycle advances two days because the reference's
#: freshness rule skips a ticker whose last day is yesterday: with
#: one-day steps every other cycle would fetch nothing. The extra reads
#: give the read latency enough samples within a run.
N_TICKERS = 10
MIN_CYCLES = 3
EXTRA_READS = 2
CYCLE_DAYS = 2
STREAM_DAYS = 2
VACUUM_KEEP = 2


def now() -> float:
    return time.perf_counter()


def quantile(xs: list[float], q: float) -> float:
    """Inclusive-method quantile; the single value for one sample."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


@dataclass
class Run:
    """State of one benchmark run."""

    seed: int
    seconds: int
    trace: bool
    work: str
    #: ``time.perf_counter()`` at process start
    t_process: float
    spans: Spans = field(init=False)
    spark: object = None
    ledger: JobLedger | None = None
    session_start_s: float = 0.0
    setup_s: float = 0.0

    def __post_init__(self):
        self.spans = Spans(self.trace)

    def start_session(self) -> None:
        t0 = now()
        self.spark = get_spark("perfbench")
        self.session_start_s = now() - t0
        self.ledger = JobLedger(self.spark, read_counters=self.trace)

    def end_setup(self) -> None:
        """Mark the start of the first timed op."""
        self.setup_s = now() - self.t_process

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _in_ops(pred):
    """Span filter: spans recorded inside timed ops matching ``pred``."""
    return lambda op: op is not None and pred(op)


# -- query workloads ---------------------------------------------------------


def run_queries(run: Run, names: tuple[str, ...]) -> dict:
    if run.trace:
        wrap(run.spans, catalog.Catalog, "table", "catalog.table")
    run.start_session()
    spark = run.spark
    data = run.path("data")
    datagen.write_tables(data, run.seed, SF)
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = run.path("artifacts")

    # warm-up at the workload's own SF; each result is kept (as its
    # fingerprint) for the comparison with the oracle after the timed phase
    builds_before = dict(artifacts.BUILD_SECONDS)
    got: dict[str, tuple | None] = {}
    for name in names:
        try:
            got[name] = oracle.fingerprint(REGISTRY[name].fn(spark, data).toPandas())
        except Exception as exc:  # a raising query is a failed op, not a crash
            print(f"warm-up {name} raised: {exc!r}", flush=True)
            got[name] = None
        spark.catalog.clearCache()
    build_keys = [k for k in artifacts.BUILD_SECONDS if k not in builds_before]
    # a second, untimed pass in the timed phase's form: the first timed
    # passes are otherwise still JIT-compiling
    rng = random.Random(run.seed)
    order = list(names)
    for name in order:
        try:
            REGISTRY[name].fn(spark, data).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # counted when the timed phase runs the query again
        spark.catalog.clearCache()
    schema_cache_before = len(catalog._SCHEMA_CACHE)

    # timed phase: whole passes in a seeded order until --seconds passed
    samples: list[tuple[str, float, bool]] = []
    passes: list[float] = []
    run.end_setup()
    t_start = now()
    while not passes or now() - t_start < run.seconds:
        rng.shuffle(order)
        p0 = now()
        for name in order:
            op = f"{name}#{len(samples)}"
            run.spans.op = op
            t0 = now()
            ok = True
            try:
                with run.ledger.group(f"{op}|build"), run.spans.span("plans.build"):
                    df = REGISTRY[name].fn(spark, data)
                with run.ledger.group(f"{op}|exec"), run.spans.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"{op} raised: {exc!r}", flush=True)
                ok = False
            samples.append((name, now() - t0, ok))
            spark.catalog.clearCache()
        passes.append(now() - p0)
    elapsed = now() - t_start
    run.spans.op = None

    t0 = now()
    want = oracle.duck_fingerprints(data, {n: REGISTRY[n].oracle for n in names})
    check_s = now() - t0
    wrong = {n for n in names if got[n] is None or got[n] != want[n]}
    for n in sorted(wrong):
        print(f"{n}: result differs from the oracle: {got[n]} != {want[n]}", flush=True)
    failed = sum(1 for n, _, ok in samples if not ok or n in wrong)
    lat = [s for _, s, _ in samples]
    rows = sum(want[n][1] for n, _, _ in samples)
    e2e = {
        "setup_s": run.setup_s,
        "queries_per_s": len(samples) / elapsed,
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "read_p50_s": quantile(lat, 0.5),
        "cycle_p50_s": quantile(passes, 0.5),
        "cycle_p75_s": quantile(passes, 0.75),
        "rows_per_s": rows / elapsed,
    }
    layers = {}
    if run.trace:
        selfs = run.spans.self_seconds(_in_ops(lambda op: True))
        layers = {
            "catalog.table_s": selfs.get("catalog.table", 0.0) / len(samples),
            "catalog.schema_cache_misses": len(catalog._SCHEMA_CACHE) - schema_cache_before,
            "plans.build_s": selfs.get("plans.build", 0.0) / len(samples),
            "artifacts.builds": len(build_keys),
            "artifacts.build_s": sum(artifacts.BUILD_SECONDS[k] for k in build_keys),
        }
    return {
        "e2e": e2e, "layers": layers, "elapsed": elapsed,
        "ops": lat, "log": [(n, s) for n, s, _ in samples],
        "phases": {"passes": passes, "check_s": check_s},
        "attempted": len(samples), "failed": failed,
        "wrong": sorted(wrong),
    }


# -- etl lifecycle -----------------------------------------------------------


class StreamProgress:
    """Collects micro-batch progress of the stream catch-ups."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "addbatch_ms": p.durationMs.get("addBatch", 0),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def _disk(root: str) -> dict[str, int]:
    """path -> size of every parquet file under ``root``."""
    out = {}
    for r, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                out[p] = os.path.getsize(p)
    return out


def _live_files(store, table: str) -> dict[str, int]:
    if isinstance(store, finjobs.VersionedFinStore):
        t = store.table(table)
        return _disk(os.path.join(t.root, f"v={t.current_version()}"))
    return _disk(store.path(table))


def run_etl(run: Run) -> dict:
    if run.trace:
        for owner, attr, name in (
            (finjobs, "merge_into", "merge"),
            (merge, "overwrite_atomic", "merge.write"),
            (versioned.VersionedTable, "merge", "merge"),
            (versioned.VersionedTable, "commit", "merge.write"),
        ):
            wrap(run.spans, owner, attr, name)
    run.start_session()
    spark = run.spark
    root = run.path("etl")
    os.makedirs(root)
    csv = os.path.join(root, "tickers.csv")
    tickers = datagen.write_tickers(csv, run.seed, N_TICKERS)
    stores = {
        "plain": finjobs.FinStore(spark, os.path.join(root, "plain")),
        "versioned": finjobs.VersionedFinStore(spark, os.path.join(root, "versioned")),
    }
    for store in stores.values():
        finjobs.bootstrap_registry(store, csv)
    progress = StreamProgress() if run.trace else None
    if progress:
        spark.streams.addListener(progress.listener)

    today0 = datagen.epoch_today(run.seed)
    reads: list[float] = []
    cycles: list[float] = []
    ops: list[tuple[str, float, bool]] = []
    store_stats = {"bytes_written": 0, "history_rows": 0, "fundamentals_rows": 0, "cycles": 0}
    final: dict[str, tuple[dt.date, dt.date, int]] = {}

    def timed(op: str, fn) -> float:
        run.spans.op = op
        t0 = now()
        ok = True
        try:
            with run.ledger.group(op):
                fn()
        except Exception as exc:
            print(f"{op} raised: {exc!r}", flush=True)
            ok = False
        ops.append((op, now() - t0, ok))
        run.spans.op = None
        return ops[-1][1]

    def asof_read(store) -> None:
        r0 = now()
        with run.spans.span("pipeline.read"):
            finjobs.latest_fundamentals_asof(
                store.read("history"), store.read("fundamentals")
            ).write.format("noop").mode("overwrite").save()
        reads.append(now() - r0)

    run.end_setup()
    t_start = now()
    for backend, store in stores.items():
        b0 = now()

        def fill():
            with run.spans.span("pipeline.fill"):
                finjobs.fill_all_history(store, today0)

        timed(f"{backend}/fill", fill)
        days: list[dt.date] = []
        while len(days) < MIN_CYCLES or now() - b0 < run.seconds / 2:
            today = today0 + dt.timedelta(days=CYCLE_DAYS * (len(days) + 1))
            days.append(today)
            before = _disk(store.root) if run.trace else {}

            def cycle(today=today):
                with run.spans.span("pipeline.update_history"):
                    finjobs.update_history(store, today)
                with run.spans.span("pipeline.update_fundamentals"):
                    finjobs.update_fundamentals(store, today)
                asof_read(store)
                if backend == "versioned":
                    with run.spans.span("versioned.vacuum"):
                        for t in ("history", "fundamentals"):
                            store.table(t).vacuum(keep_last=VACUUM_KEEP)

            cycles.append(timed(f"{backend}/cycle{len(days)}", cycle))
            for _ in range(EXTRA_READS):
                timed(f"{backend}/read{len(reads)}", lambda: asof_read(store))
            if run.trace:
                after = _disk(store.root)
                store_stats["bytes_written"] += sum(
                    s for p, s in after.items() if p not in before
                )
                store_stats["cycles"] += 1
                store_stats["history_rows"] += CYCLE_DAYS * N_TICKERS
                store_stats["fundamentals_rows"] += len(tickers)
        start = days[-1] + dt.timedelta(days=1)
        end = start + dt.timedelta(days=STREAM_DAYS - 1)

        def stream():
            with run.spans.span("pipeline.stream"):
                finjobs.stream_update_history(
                    store, start, end, days_per_batch=STREAM_DAYS,
                    checkpoint_dir=os.path.join(store.root, "_checkpoint"),
                )

        timed(f"{backend}/stream", stream)
        final[backend] = (start, end, len(days))
    elapsed = now() - t_start

    # verification: the lifecycle's invariants, per store
    t0 = now()
    wrong: set[str] = set()
    landed = 0
    for backend, store in stores.items():
        start, end, n_cycles = final[backend]
        try:
            problems, rows = _check_store(store, today0, start, end, tickers, n_cycles)
        except Exception as exc:
            problems, rows = [f"check raised {exc!r}"], 0
        if problems:
            wrong.add(backend)
            print(f"etl {backend}: {problems}", flush=True)
        landed += rows

    check_s = now() - t0
    failed = sum(1 for op, _, ok in ops if not ok or op.split("/")[0] in wrong)
    e2e = {
        "setup_s": run.setup_s,
        "queries_per_s": len(reads) / elapsed,
        "query_p50_s": quantile(reads, 0.5),
        "query_p90_s": quantile(reads, 0.9),
        "read_p50_s": quantile(reads, 0.5),
        "cycle_p50_s": quantile(cycles, 0.5),
        "cycle_p75_s": quantile(cycles, 0.75),
        "rows_per_s": landed / elapsed,
    }
    layers = {}
    if run.trace:
        layers = _etl_layers(run, stores, today0, store_stats, progress)
    return {
        "e2e": e2e, "layers": layers, "elapsed": elapsed,
        "ops": [s for _, s, _ in ops], "log": [(op, s) for op, s, _ in ops],
        "phases": {"check_s": check_s},
        "attempted": len(ops), "failed": failed, "wrong": sorted(wrong),
    }


def _check_store(store, today0, start, end, tickers, n_cycles) -> tuple[list[str], int]:
    """Invariants of a store after the lifecycle. Returns the broken
    ones and the number of history rows."""
    problems = []
    hist = store.read("history").toPandas()
    names = store.read("names").toPandas()
    hist["ticker"] = hist["names_id"].map(dict(zip(names["id"], names["ticker"])))
    if hist.duplicated(["names_id", "date_value"]).any():
        problems.append("duplicate (names_id, date_value) keys")
    if sorted(names["ticker"]) != sorted(tickers):
        problems.append(f"registry holds {sorted(names['ticker'])}")
    first_day = today0 - dt.timedelta(days=finjobs.RETENTION_DAYS)
    expect = (end - first_day).days + 1
    per = hist.groupby("ticker").size().to_dict()
    bad = {t: per.get(t, 0) for t in tickers
           if per.get(t, 0) != (0 if t.startswith("MISSING") else expect)}
    if bad:
        problems.append(f"rows per ticker (want {expect}, MISSING* 0): {bad}")
    cutoff = end - dt.timedelta(days=finjobs.RETENTION_DAYS)
    if hist["date_added"].min() < cutoff or hist["date_value"].min() < first_day:
        problems.append("retention bound broken")
    # the stream's rows equal the feed rows the batch fetch lands for
    # the same range
    cols = ["ticker", "date_value", "open", "high", "low", "close"]
    streamed = hist[(hist["date_value"] >= start) & (hist["date_value"] <= end)][cols]
    feed = FakeFeed()
    for t in tickers:
        want = feed.history(t, start, end)
        got = streamed[streamed["ticker"] == t].sort_values("date_value")
        rows = [(d.isoformat(), o, h, lo, c) for d, o, h, lo, c in
                got[cols[1:]].itertuples(index=False)]
        if rows != list(want[cols[1:]].itertuples(index=False, name=None)):
            problems.append(f"stream rows of {t} differ from the feed's batch rows")
    fund = store.read("fundamentals").count()
    if fund != n_cycles * len(tickers):
        problems.append(f"fundamentals rows {fund} != {n_cycles * len(tickers)}")
    return problems, len(hist)


def _etl_layers(run, stores, today0, store_stats, progress) -> dict:
    def per(pred, name):
        return run.spans.self_seconds(_in_ops(pred)).get(name, 0.0)

    n_fill = sum(1 for o in run.ledger.per_op if o["group"].endswith("/fill"))
    n_cycles = store_stats["cycles"]
    n_vacuum = sum(1 for o in run.ledger.per_op if o["group"].startswith("versioned/cycle"))
    in_cycle = lambda op: "/cycle" in op  # noqa: E731
    # standalone fetch over the fill's task frame (traced run only)
    first = today0 - dt.timedelta(days=finjobs.RETENTION_DAYS)
    tasks = stores["plain"].read("names").select(
        "ticker",
        F.lit(first.isoformat()).alias("start_date"),
        F.lit(today0.isoformat()).alias("end_date"),
    )
    t0 = now()
    fetch_history(tasks).write.format("noop").mode("overwrite").save()
    fetch_s = now() - t0
    live = disk = live_files = 0
    for store in stores.values():
        for t in ("history", "fundamentals", "names"):
            files = _live_files(store, t)
            live += sum(files.values())
            live_files += len(files)
        disk += sum(_disk(store.root).values())
    rows_bytes = (
        store_stats["history_rows"] * _bytes_per_row(stores, "history")
        + store_stats["fundamentals_rows"] * _bytes_per_row(stores, "fundamentals")
    )
    cycle_jobs = [o["jobs"] for o in run.ledger.per_op if in_cycle(o["group"])]
    batches = progress.batches
    return {
        "pipeline.fill_s": per(lambda op: op.endswith("/fill"), "pipeline.fill") / n_fill,
        "sources.fetch_s": fetch_s,
        "pipeline.update_history_s": per(in_cycle, "pipeline.update_history") / n_cycles,
        "pipeline.update_fundamentals_s":
            per(in_cycle, "pipeline.update_fundamentals") / n_cycles,
        "pipeline.jobs_per_cycle": statistics.mean(cycle_jobs),
        "merge.s": per(in_cycle, "merge") / n_cycles,
        "merge.write_s": per(in_cycle, "merge.write") / n_cycles,
        "store.bytes_written_per_cycle": store_stats["bytes_written"] / n_cycles,
        "store.write_amp": store_stats["bytes_written"] / rows_bytes,
        "versioned.vacuum_s": per(in_cycle, "versioned.vacuum") / n_vacuum,
        "store.files_live": live_files,
        "store.space_amp": disk / live,
        "streaming.batches": len(batches),
        "streaming.batch_p50_s":
            statistics.median(b["trigger_ms"] for b in batches) / 1000.0 if batches else 0.0,
        "streaming.addbatch_s":
            statistics.mean(b["addbatch_ms"] for b in batches) / 1000.0 if batches else 0.0,
    }


def _bytes_per_row(stores, table: str) -> float:
    """Average on-disk bytes per row of a live table across the stores."""
    size = rows = 0
    for store in stores.values():
        size += sum(_live_files(store, table).values())
        rows += store.read(table).count()
    return size / rows


def exec_layers(run: Run, res: dict) -> dict:
    """Layer metrics every workload has: session start and the Spark
    execution counters of the timed ops, per op (sums over an op's job
    groups, averaged over ops). ``exec.s`` is the wall time covered by
    running stages."""
    tot = dict.fromkeys(COUNTERS, 0)
    build_jobs = 0
    for rec in run.ledger.per_op:
        for k in COUNTERS:
            tot[k] += rec[k]
        if rec["group"].endswith("|build"):
            build_jobs += rec["jobs"]
    n = len(res["ops"])
    return {
        "session.start_s": run.session_start_s,
        "plans.build_jobs": build_jobs / n,
        "exec.s": tot["stage_wall_s"] / n,
        "exec.jobs": tot["jobs"] / n,
        "exec.stages": tot["stages"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.executor_run_s": tot["executor_run_s"] / n,
        "exec.busy_share": tot["executor_run_s"] / (res["elapsed"] * default_parallelism()),
        "exec.input_bytes": tot["input_bytes"] / n,
        "exec.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "exec.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "exec.spill_bytes": tot["spill_bytes"] / n,
    }


WORKLOADS = {
    "query-tail": lambda run: run_queries(run, TAIL),
    "query-heavy": lambda run: run_queries(run, HEAVY),
    "etl-lifecycle": run_etl,
}
