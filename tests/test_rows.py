"""`operators.rows.map_rows`: the one seam for per-row Python kernels.

The helper yields pandas frames with integer column labels and relies on
PySpark matching such frames to the output schema by position; the first
test pins that behavior for every column type the kernels emit."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DataType

from finanalyzer_spark.operators.multimodal import MEDIA_DHASH_SCHEMA, media_dhash_row
from finanalyzer_spark.operators.rows import map_rows

MIXED = "id long, name string, score double, vec array<float>, blob binary"


def test_map_rows_matches_columns_by_position(spark):
    src = spark.createDataFrame([(1, "a"), (2, "bb"), (3, None)], "k long, s string")

    def row(k, s):
        import numpy as np

        score = None if s is None else len(s) * 0.5
        yield k * 10, s, score, np.array([k, 0.25], dtype=np.float32), bytes([k] * k)

    out = map_rows(src, MIXED, row)
    assert out.schema == DataType.fromDDL(MIXED)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (10, "a", 0.5, [1.0, 0.25], b"\x01"),
        (20, "bb", 1.0, [2.0, 0.25], b"\x02\x02"),
        (30, None, None, [3.0, 0.25], b"\x03\x03\x03"),
    ]


def test_map_rows_zero_one_or_many_rows_per_input(spark):
    src = spark.createDataFrame([(0,), (1,), (3,)], "n long")

    def row(n):
        for i in range(n):
            yield n, i

    got = sorted(tuple(r) for r in map_rows(src, "n long, i int", row).collect())
    assert got == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_map_rows_all_empty_input(spark):
    def row(n):
        yield n, "x"

    empty = spark.createDataFrame([], "n long")
    assert map_rows(empty, "n long, s string", row).collect() == []
    # every partition non-empty on input, every row dropped by the kernel
    src = spark.range(8).repartition(4)
    dropped = map_rows(src, "id long", lambda i: iter(()))
    assert dropped.collect() == []
    assert dropped.schema == DataType.fromDDL("id long")


@pytest.mark.parametrize(
    "arity", [lambda n: (n,), lambda n: (n, "x", 1), lambda n: (n, "x") if n else (n,)]
)
def test_map_rows_wrong_arity_raises(spark, arity):
    src = spark.createDataFrame([(0,), (1,)], "n long").coalesce(1)

    def row(n):
        yield arity(n)

    with pytest.raises(Exception, match="row function yielded"):
        map_rows(src, "n long, s string", row).collect()


def test_dhash_row_factory_on_a_stream(spark, tmp_path):
    rows = [(i, i % 4, i % 3) for i in range(12)]
    src = tmp_path / "src"
    spark.createDataFrame(rows, "media_id long, k long, fmt long").coalesce(
        1
    ).write.parquet(str(src))
    stream = spark.readStream.schema("media_id long, k long, fmt long").parquet(
        str(src)
    )
    q = (
        map_rows(stream, MEDIA_DHASH_SCHEMA, media_dhash_row(8))
        .writeStream.format("memory")
        .queryName("rows_dhash_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("select * from rows_dhash_stream").collect()
    )
    # the row function is plain Python: run it on the driver for the answer
    row = media_dhash_row(8)
    want = sorted(out for r in rows for out in row(*r))
    assert got == want
    # pattern k is encoded as PNG, QOI and BMP: one hash, three blobs
    for k in range(4):
        mine = [out for out in want if out[0] % 4 == k]
        assert len({d for _, _, d, _ in mine}) == 1
        assert len({md5 for _, _, _, md5 in mine}) == 3
