"""The parquet schema memo behind ``io.load_table``.

A table's schema is inferred once per file version and then given to
the reader, so a warm load launches no Spark job. These tests pin that
the given schema is the one Spark would infer, that a rewritten file is
re-inferred, and that symlinked and Spark-written directory sources
read the same way.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from glue_etl_pyspark_spark.io import TABLE_NAMES, _fix_events_ts, load_table
from test_job_counts import jobs_launched


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_schema_equals_inferred(spark, sf_dir, name):
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        inferred = _fix_events_ts(inferred)
    assert load_table(spark, sf_dir, name).schema == inferred.schema


def test_warm_load_launches_no_job(spark, sf_dir, tmp_path):
    # a fresh copy is a new file version, so its first load is cold
    d = str(tmp_path)
    shutil.copy(f"{sf_dir}/events.parquet", d)
    assert jobs_launched(spark, lambda: load_table(spark, d, "events")) == 1
    assert jobs_launched(spark, lambda: load_table(spark, d, "events")) == 0


def test_rewritten_table_is_reinferred(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, d, "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    df = load_table(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "A"), (1, "B")]


def test_symlinked_fixture(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    for t in TABLE_NAMES:
        os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    for t in TABLE_NAMES:
        assert load_table(spark, d, t).schema == load_table(spark, sf_dir, t).schema
    # the link resolves to the fixture's memo entry: warm at once
    assert jobs_launched(spark, lambda: load_table(spark, d, "orders")) == 0
    assert load_table(spark, d, "orders").count() == load_table(spark, sf_dir, "orders").count()


def test_spark_written_directory_source(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    src = load_table(spark, sf_dir, "nation")
    src.write.partitionBy("n_regionkey").parquet(f"{d}/nation.parquet")
    df = load_table(spark, d, "nation")
    assert df.schema == spark.read.parquet(f"{d}/nation.parquet").schema
    assert sorted(map(tuple, df.select(*src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )
