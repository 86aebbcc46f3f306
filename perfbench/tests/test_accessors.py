"""Pins the private accessors the benchmark's traced run reads.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

A PySpark or package change that renames these accessors, or leaves
their counters at zero, fails here instead of making the benchmark
report zeros.
"""

from __future__ import annotations

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from finanalyzer_spark import catalog
from finanalyzer_spark.plans import artifacts
from finanalyzer_spark.session import get_spark
from perfbench.tracing import JobLedger


@pytest.fixture(scope="module")
def spark():
    return get_spark("perfbench_tests")


def test_status_store_counters(spark, tmp_path):
    """``sc._jsc.sc().statusStore().lastStageAttempt`` gives input and
    shuffle bytes of a scan + aggregation, read per job group."""
    path = str(tmp_path / "t.parquet")
    spark.range(50_000).withColumn("k", F.col("id") % 7).write.parquet(path)
    ledger = JobLedger(spark, read_counters=True)
    with ledger.group("pin|scan-shuffle"):
        (spark.read.parquet(path).groupBy("k").count()
         .write.format("noop").mode("overwrite").save())
    rec = ledger.per_op[-1]
    assert rec["group"] == "pin|scan-shuffle"
    assert rec["jobs"] >= 1
    assert rec["stages"] >= 2
    assert rec["tasks"] >= 2
    assert rec["input_bytes"] > 0
    assert rec["shuffle_write_bytes"] > 0
    assert rec["shuffle_read_bytes"] > 0
    assert rec["stage_wall_s"] > 0
    assert rec["spill_bytes"] == 0


def test_job_group_is_cleared(spark):
    """Jobs after a group has closed are not counted in it."""
    ledger = JobLedger(spark, read_counters=True)
    with ledger.group("pin|closed"):
        spark.range(10).count()
    jobs = ledger.per_op[-1]["jobs"]
    spark.range(10).count()
    assert jobs >= 1
    assert ledger.counters("pin|closed")["jobs"] == jobs


def test_package_hooks(spark):
    """Package internals read for per-layer counts, and the gateway
    process whose high-water RSS is ``peak_rss_mb``."""
    assert isinstance(catalog._SCHEMA_CACHE, dict)
    assert isinstance(artifacts.BUILD_SECONDS, dict)
    assert callable(catalog.Catalog.table)
    assert SparkContext._gateway.proc.pid > 0
