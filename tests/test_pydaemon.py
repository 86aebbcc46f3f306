"""The Python worker daemon `get_spark` sets (`finanalyzer_spark.pydaemon`)
and the private internals it relies on, pinned so a PySpark or CPython
upgrade that moves them fails here:

* PySpark's worker calls `importlib.invalidate_caches()` before every
  task, and CPython 3.11's `zipimporter.invalidate_caches` re-reads the
  archive's directory through `zipimport._read_directory`, keeping it in
  `zipimport._zip_directory_cache` and `zipimporter._files`;
* `spark.python.daemon.module` runs our module as the daemon, and
  `spark.python.unix.domain.socket.*` puts the workers on Unix sockets;
* `SparkContext.environment["PYTHONPATH"]` reaches the daemon, so the
  workers import the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from finanalyzer_spark import pydaemon
from finanalyzer_spark.session import PACKAGE_ROOT, socket_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _one_row_task(spark, kernel_value):
    """Run `kernel_value()` once in a Python worker (one task); its
    string result."""

    def kernel(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"v": [str(kernel_value())]})

    return spark.range(1).coalesce(1).mapInPandas(kernel, "v string").collect()[0]["v"]


def test_python_task_runs_under_the_gated_invalidate_caches(spark):
    def gate_file():
        import os
        import zipimport

        return os.path.abspath(zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    assert _one_row_task(spark, gate_file) == pydaemon.__file__


def test_python_task_talks_to_the_jvm_over_a_unix_socket(spark):
    def transport():
        import os

        return "{} {}".format(
            os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower(),
            os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR"),
        )

    assert _one_row_task(spark, transport) == f"true {socket_dir()}"
    assert os.stat(socket_dir()).st_mode & 0o777 == 0o700


def test_reused_worker_task_reads_no_archive_directory(spark):
    """The first task a worker runs wraps `zipimport._read_directory`
    with a counter; a later task on the same worker reports how many
    directory reads its setup made. Ungated, that is one per zipimporter
    on the worker's path (16 with Spark's pyspark.zip, py4j zip and
    spark-core jar)."""

    def probe():
        import json
        import os
        import sys
        import zipimport

        state = getattr(zipimport, "_test_read_counter", None)
        if state is None:
            state = zipimport._test_read_counter = {"reads": 0}
            read = zipimport._read_directory

            def counted(archive):
                state["reads"] += 1
                return read(archive)

            zipimport._read_directory = counted
            reads = None
        else:
            reads, state["reads"] = state["reads"], 0
        importers = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        return json.dumps([os.getpid(), reads, importers])

    import json

    seen = []
    for _ in range(12):
        pid, reads, importers = json.loads(_one_row_task(spark, probe))
        seen.append((pid, reads, importers))
        if reads is not None:
            break
    else:
        pytest.fail(f"no worker ran two probe tasks: {seen}")
    assert importers > 0, seen  # the workers import pyspark from a zip
    assert reads == 0, seen


def test_pyfile_added_after_a_task_is_importable_in_the_next(spark, tmp_path):
    _one_row_task(spark, lambda: "warm")
    name = f"pyfile_probe_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 'added'\n")
    spark.sparkContext.addPyFile(str(archive))

    def value():
        import importlib

        return importlib.import_module(name).VALUE

    assert _one_row_task(spark, value) == "added"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    reads = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"gate_mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    other = zipimport.zipimporter(path)  # a second importer over the archive
    reads.clear()

    pydaemon.invalidate_caches(importer)  # first sight of the path: read
    pydaemon.invalidate_caches(other)
    pydaemon.invalidate_caches(importer)
    assert reads == [path]
    assert other._files is importer._files

    # rewritten in place with a new module: re-read, and it imports
    _write_zip(path, {"gate_mod_a": "X = 1\n", "gate_mod_b": "Y = 2\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    pydaemon.invalidate_caches(importer)
    assert reads == [path, path]
    spec = importer.find_spec("gate_mod_b")
    assert spec is not None
    module = type(sys)("gate_mod_b")
    spec.loader.exec_module(module)
    assert module.Y == 2

    # deleted: the original behaviour, no files
    os.remove(path)
    pydaemon.invalidate_caches(importer)
    assert importer._files == {}
    assert importer.find_spec("gate_mod_a") is None
    assert path not in zipimport._zip_directory_cache


FROM_ELSEWHERE = """
import sys
sys.path.insert(0, {repo!r})  # the driver only; workers get get_spark's PYTHONPATH
import datetime as dt
from finanalyzer_spark.operators.rows import map_rows
from finanalyzer_spark.plans import REGISTRY
from finanalyzer_spark.session import get_spark
from finanalyzer_spark.sources.fetcher import fetch_history

spark = get_spark("pydaemon_elsewhere", cpus=2)
print("PYTHONPATH", spark.sparkContext.environment["PYTHONPATH"])

def row(i):
    import finanalyzer_spark
    yield (int(i), finanalyzer_spark.__file__)

print("MAP_ROWS", map_rows(spark.range(2), "i long, f string", row).collect()[0]["f"])
print("MEDIA", REGISTRY["media_qoi_pixel_stats"].fn(spark, {sf_dir!r}).count())
tasks = spark.createDataFrame(
    [("AAA", "2024-01-01", "2024-01-10")], "ticker string, start_date string, end_date string"
)
print("HISTORY", fetch_history(tasks).count())
spark.stop()
"""


def test_workers_import_the_package_from_another_working_directory(sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a launch-config value is kept, with the package root appended
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.executorEnv.PYTHONPATH=/nonexistent/extra pyspark-shell"
    )
    out = subprocess.run(
        [sys.executable, "-c", FROM_ELSEWHERE.format(repo=REPO, sf_dir=sf_dir)],
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(ln.split(" ", 1) for ln in out.stdout.splitlines() if " " in ln)
    assert lines["PYTHONPATH"] == os.pathsep.join(["/nonexistent/extra", PACKAGE_ROOT])
    assert lines["MAP_ROWS"] == os.path.join(PACKAGE_ROOT, "finanalyzer_spark", "__init__.py")
    assert int(lines["MEDIA"]) > 0
    assert int(lines["HISTORY"]) > 0
