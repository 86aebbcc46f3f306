from __future__ import annotations

import os

import pytest

from finanalyzer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("finanalyzer_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def logged_source(spark, log_path: str, rows, schema: str, random_subset=False):
    """A one-partition source frame whose mapInPandas kernel appends one
    line per batch to `log_path`: the sorted `k` values it emitted. The
    number of lines counts how often a plan evaluated the source. With
    `random_subset`, every call emits a fresh random subset of `rows`,
    as a live feed or a recomputed micro-batch may."""

    def kernel(batches):
        import json
        import random

        rng = random.SystemRandom()
        for pdf in batches:
            if random_subset:
                pdf = pdf[[rng.random() < 0.5 for _ in range(len(pdf))]]
            with open(log_path, "a") as fh:
                fh.write(json.dumps(sorted(pdf["k"].tolist())) + "\n")
            yield pdf

    return (
        spark.createDataFrame(rows, schema).coalesce(1).mapInPandas(kernel, schema)
    )


def read_log(log_path: str) -> list[list]:
    """The lines `logged_source` wrote, one list of keys per batch."""
    import json

    if not os.path.exists(log_path):
        return []
    with open(log_path) as fh:
        return [json.loads(line) for line in fh]
