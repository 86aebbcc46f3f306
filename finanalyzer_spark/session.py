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

Python workers (:func:`get_spark` only):
* ``spark.python.daemon.module`` is :mod:`finanalyzer_spark.pydaemon`,
  PySpark's own daemon with a stat-gated ``zipimporter.invalidate_caches``.
  PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
  EVERY task (``worker_util.setup_spark_files``), and on CPython < 3.13
  ``zipimporter.invalidate_caches`` eagerly re-reads its archive's whole
  central directory. The workers import pyspark from Spark's
  ``python/lib/pyspark.zip``, so a worker holds 16 zipimporters: 12 over
  pyspark.zip (1,328 entries, ~9 ms a read), 2 over the spark-core jar
  on the worker path (5,359 entries, 24-29 ms a read) and 2 over the py4j
  zip (~0.1 ms). That is 120-180 ms of directory parsing before each
  task's kernel starts, measured on CPython 3.11.7, 4 cores. The gate
  re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed,
  so an ``addPyFile`` archive or one rewritten in place is still seen
  by the next task; the setup step falls to ~0.2 ms. CPython 3.12.1 is
  still eager; 3.13 made the method lazy (it drops the directory, and a
  later lookup in the archive re-reads it), so there the gate saves
  little.
  The cut holds on a cluster too: YARN and Kubernetes workers also put
  pyspark.zip and py4j on ``PYTHONPATH`` and run the same per-task
  setup, but shipping this module to them (``spark.submit.pyFiles``)
  is left to a deployment.
* The JVM talks to the Python workers over Unix domain sockets
  (``spark.python.unix.domain.socket.enabled``), not loopback TCP. Over
  TCP each JVM-Python exchange of a task stalls ~40 ms, the signature of
  Nagle's algorithm meeting a delayed ACK: a 10-row ``mapInPandas`` job
  took 127 ms over TCP and 82 ms over a Unix socket, an RDD ``map`` 74
  and 31 ms (both with the daemon above). On a Unix socket the daemon's
  workers skip the secret handshake, so the sockets live in a private
  directory (:func:`socket_dir`).
* The workers' ``PYTHONPATH`` (``SparkContext.environment``, which holds
  the ``spark.executorEnv.*`` confs and goes out with every Python
  function) gains this package's parent directory, appended to any
  value the launch config sets, so the daemon module and every kernel
  that imports ``finanalyzer_spark`` load from any working directory.
  It is set after the session starts: starting the JVM early to read
  the launch config would drop the builder's ``spark.driver.memory``.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: the directory that holds the ``finanalyzer_spark`` package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def socket_dir() -> str:
    """This process's directory for the Unix sockets of its session: the
    JVM's, the Python daemon's and PySpark's accumulator server's. Mode
    0700, so only this user can connect; removed at exit, so a process
    that ends without ``spark.stop()`` leaves no socket file behind.
    Under ``/tmp`` because Spark's default, ``java.io.tmpdir``, may be
    too long for a socket path (107 bytes on Linux) once
    ``/.<uuid>.sock`` is appended."""
    path = tempfile.mkdtemp(prefix="finanalyzer-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


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
    (a fresh session lacks the marker and gets tuned).

    The Python worker daemon and the Unix-socket transport
    :func:`get_spark` sets are static confs, so a driver-owned session
    keeps PySpark's own daemon over TCP, and its Python tasks pay the
    per-task costs the module docstring describes; its workers'
    ``PYTHONPATH`` is left as it is too."""
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
    """Build (or reuse) a tuned local session whose Python workers run
    under :mod:`finanalyzer_spark.pydaemon` and talk to the JVM over Unix
    sockets (module docstring)."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.python.daemon.module", "finanalyzer_spark.pydaemon")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the `spark.executorEnv.*` map PySpark ships with every Python
    # function; it already holds the launch config's value
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p != PACKAGE_ROOT]
    env["PYTHONPATH"] = os.pathsep.join([*parts, PACKAGE_ROOT])
    return tune(spark, n)
