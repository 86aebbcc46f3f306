"""Table catalog for the synthetic star schema + LLM-pipeline tables.

The reference keeps three SQLite tables and introspects them with
``PRAGMA table_info`` (reference: finanalyzer/database/findatabase.py:119-126).
Here the catalog is a set of Parquet-backed DataFrames registered as
temp views, so every operator can be written against either the
DataFrame API or ``spark.sql``.

At 100 TB the fact tables (lineitem/orders/events) would be
date-partitioned Parquet/Delta directories; the loaders below read
whatever layout sits at ``{sf_dir}/{name}.parquet`` (file or
directory), so the same code path serves both.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import tune

#: All tables the driver materializes per scale factor (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — always broadcast-join these (region: 5 rows,
#: nation: 25, supplier: O(100)); mirrors the reference's dimension
#: registry `namesCompanies` (findatabase.py:18-21), which is a
#: broadcast-join candidate at any scale.
DIM_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: path -> (content fingerprint, parquet schema). Schema inference
#: launches a one-task Spark job per `read.parquet` call (a footer
#: read); over a ~770-invocation bench suite, or the ~10 store reads of
#: one ETL daily cycle, that fixed cost is seconds of pure metadata
#: work. A production catalog keeps schemas in a metastore (Delta in
#: its transaction log); this cache is that seam. Reads go through
#: :func:`read_parquet`, and the stores' writers call
#: :func:`remember_schema`, so a read that follows a write launches no
#: job at all. On a cluster each avoided job is a remote task launch
#: plus an object-store footer GET, so the saving grows there. Only
#: METADATA is cached: every action still scans the parquet files, and
#: the fingerprint carries (name, size, mtime_ns) of the data files, so
#: a rewritten path can never serve a stale schema. One entry per path:
#: a rewrite replaces its entry instead of adding one.
_SCHEMA_CACHE: dict = {}


def _path_fingerprint(p: str) -> tuple:
    if os.path.isdir(p):
        entries = []
        for r, _, fs in os.walk(p):
            for f in fs:
                if f.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(r, f))
                entries.append((f, st.st_size, st.st_mtime_ns))
        return tuple(sorted(entries))
    st = os.stat(p)
    return (st.st_size, st.st_mtime_ns)


def _cacheable(path: str) -> bool:
    """Local paths that exist. URI paths (s3a://, hdfs://) and missing
    paths take the plain read, so its errors stay unchanged."""
    return "://" not in path and os.path.exists(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers the schema at most once
    per content of `path` and reads with the cached schema after."""
    if not _cacheable(path):
        return spark.read.parquet(path)
    fp = _path_fingerprint(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (fp, df.schema)
    return df


def remember_schema(path: str, df: DataFrame) -> None:
    """Record the schema of `df`, just written (unpartitioned) to
    `path`, as the entry inference would store: the file source reports
    every field nullable."""
    if _cacheable(path):
        _SCHEMA_CACHE[path] = (_path_fingerprint(path), _as_nullable(df.schema))


def forget_schema(path: str) -> None:
    """Drop the entry of a deleted path."""
    _SCHEMA_CACHE.pop(path, None)


def _as_nullable(t: T.DataType) -> T.DataType:
    """Spark's `DataType.asNullable`: nullable at every nesting level."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


@dataclass
class Catalog:
    """Lazy loader + view registrar for one scale-factor directory."""

    spark: SparkSession
    sf_dir: str = DEFAULT_SF_DIR
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            if name not in TABLE_NAMES:
                raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
            self._cache[name] = _normalize(read_parquet(self.spark, self.path(name)))
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        for n in names:
            self.table(n).createOrReplaceTempView(n)

    def columns(self, name: str) -> list[str]:
        """Schema introspection (reference S8: PRAGMA table_info,
        findatabase.py:119-122)."""
        return self.table(name).columns


def _normalize(df: DataFrame) -> DataFrame:
    """Convert nanosecond-timestamp columns (read as int64 via the
    nanosAsLong legacy conf) to microsecond TimestampType, truncating —
    DuckDB's TIMESTAMP_NS→TIMESTAMP cast truncates identically.

    Heuristic: long columns named `ts` (the events table). Integer
    division (`div`) — a double roundtrip would lose precision above
    2^53 ns."""
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load(spark: SparkSession, sf_dir: str) -> Catalog:
    """Tune the (possibly driver-owned) session and open a catalog."""
    tune(spark)
    return Catalog(spark, sf_dir)
