"""`tune()` turns PySpark's per-call DataFrame debugging capture off
through the session conf and a private module global. Both are pinned
here on a vanilla session, so a PySpark upgrade that moves either one
fails loudly."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VANILLA = """
from pyspark.sql import SparkSession
import pyspark.errors.utils as utils
from finanalyzer_spark.session import tune

spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
key = "spark.python.sql.dataFrameDebugging.enabled"
before = spark.conf.get(key)
tune(spark)
print("RESULT", before, spark.conf.get(key), utils._enable_debugging_cache)
spark.stop()
"""


def test_tune_turns_dataframe_debugging_off_on_vanilla_session():
    # a fresh process: the test session was built with the conf already
    # off, and the conf is static, so no session in it is vanilla
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", VANILLA], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert result == ["RESULT true false False"], out.stdout
