"""SparkSession factory + runtime tuning.

Two layers:

* :func:`get_spark` — builds a session for standalone runs (tests,
  bench.py). Local mode by default, sized from ``SPARK_GRAFT_CPUS``.
* :func:`tune` — applies *runtime* SQL confs to any externally supplied
  session (the correctness driver builds its own ``SparkSession`` and
  hands it to us, so everything that matters for correctness/perf must
  be settable at runtime, not only at builder time).

Scale notes (100 TB target):
* AQE on — runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy demotion are essential at cluster scale and
  harmless locally.
* ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
  semantics; the DuckDB oracle is UTC-naive.
* Shuffle partitions default to a small local value; on a real cluster
  AQE's coalescing makes the initial number mostly an upper bound, so a
  deployment would raise ``spark.sql.shuffle.partitions`` (or set
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) to
  ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs (safe to apply to a live session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scan parallelism: 128 MB splits are the right granularity
    # both locally and at 100 TB (≈800k tasks — fine for a 1000-exec cluster).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # ANSI off: the reference's semantics are permissive (SQLite); we want
    # NULL-on-bad-cast, not errors, matching DuckDB's non-strict reads too.
    "spark.sql.ansi.enabled": "false",
    # Spark's Parquet reader rejects TIMESTAMP(NANOS) outright; read them
    # as int64 nanos and convert in the catalog (events.ts in older
    # fixture generations — the current fixture stores micros, for which
    # this conf is a no-op; kept so a ns regeneration keeps working).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r13, guide §4 applied to the driver side of the boundary: with
    # DataFrame debugging ON (the default), EVERY DataFrame/Column API
    # call pays a call-site capture of 5 py4j round trips + a Python
    # traceback walk (pyspark/errors/utils.py::_with_origin —
    # getActiveSession/isDefined + PySparkCurrentOrigin.set/clear).
    # Measured here: ~190 wrapped calls ≈ 950 JVM round trips ≈ 0.5 s
    # of pure plan-construction overhead PER stats query. The feature
    # only enriches error messages with user call sites; production
    # batch jobs don't want to buy that per-call. Scale-independent:
    # this is driver-side constant cost, identical on local[32] and a
    # 1000-executor cluster.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours).

    Every query entry point calls ``load()`` -> ``tune()``; the ~10
    conf.set py4j round trips are pure fixed overhead after the first
    call on a session, so mark the session object and skip thereafter
    (a fresh session lacks the marker and gets tuned)."""
    n = shuffle_partitions or default_parallelism()
    if getattr(spark, "_finanalyzer_tuned", None) == n:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — builder-time only
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    # The dataFrameDebugging conf is a STATIC conf, so the conf.set above
    # is refused on a session built without it (any driver-owned one).
    # Write it to this session's SQLConf, which skips the static check,
    # so the public conf reports what is in force. PySpark also caches
    # the conf in a module global at the FIRST wrapped API call; a
    # driver-owned session may have made wrapped calls before handing
    # the session to us, so set the cached value too and the per-call
    # capture stops either way. tests/test_session.py pins both.
    debugging = "spark.python.sql.dataFrameDebugging.enabled"
    try:
        if spark.conf.get(debugging) != "false":
            spark._jsparkSession.sessionState().conf().setConfString(debugging, "false")
    except Exception:  # pragma: no cover - a PySpark without the conf
        pass
    from pyspark.errors import utils as _pyspark_err_utils

    _pyspark_err_utils._enable_debugging_cache = False
    spark._finanalyzer_tuned = n
    return spark


def get_spark(app_name: str = "finanalyzer_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local session."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(n))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, n)
