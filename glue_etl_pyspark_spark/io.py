"""Table loading for the engine.

Reads the driver-generated parquet tables by path
(``{sf_dir}/{name}.parquet``), hiding per-table quirks so no other
code ever sees them:

- ``events.ts`` is parquet TIMESTAMP(NANOS); under
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a raw
  nanosecond ``long`` and is converted here to ``timestamp_ntz`` with
  exact DuckDB parity (integer ``div 1000`` — double division loses
  sub-microsecond precision at this magnitude; SURVEY.md §8.1).

Scale notes: loaders return plain lazy DataFrames — no data caching,
no collect. What is cached is metadata only: each table file's parquet
schema is inferred once per process (``parquet_schema``), because a
bare ``spark.read.parquet`` launches a footer-reading Spark job on
every call. Filter/column pruning on top of these reaches the parquet
scan (verified via plans.assert_pushed_filters). At 100 TB the same
code reads a partitioned table dir; partition pruning is automatic
for filters on partition columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_session_configs

TABLE_NAMES = (
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

# Dimension tables small enough to broadcast at ANY scale factor —
# at TPC-H-like scaling these stay tiny (region=5, nation=25) or grow
# slowly; broadcast keeps their joins shuffle-free.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})


# Inferred schemas keyed by the resolved path's stat identity, so a file
# rewritten at the same path (new inode, size or mtime) is re-inferred.
# A directory source is identified by the directory's own stat, which
# changes when its entries do (Spark's overwrite replaces them).
_SCHEMAS: dict[tuple[str, int, int, int], StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file version. Inference reads parquet footers in a Spark job;
    reading with this schema given launches none. A path ``os.stat``
    cannot see (``s3://``, ``hdfs://``) is inferred on every call."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return spark.read.parquet(path).schema
    key = (real, st.st_ino, st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table as a DataFrame with canonical types."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_configs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = _fix_events_ts(df)
    return df


def _fix_events_ts(df: DataFrame) -> DataFrame:
    """Convert the raw-nanos ``ts`` long back to timestamp_ntz.

    Keeps column order stable. If ``ts`` already reads as a timestamp
    (future driver fix), pass it through unchanged.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type != "bigint":
        return df
    cols = [
        F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)").alias("ts")
        if c == "ts"
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``load_tables(spark, d, 'orders', 'lineitem')``."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register tables as temp views so ``spark.sql`` sees the same names
    the DuckDB oracle does (region nation customer ... embeddings)."""
    for n in names or TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
