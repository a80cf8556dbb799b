"""Smoke tests for the driver contract module itself."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) == 10


def test_contract_shapes(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 1
    # every oracle key must be a real query
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_runtime_confs_applied_to_external_session(spark):
    """The driver builds its OWN vanilla session; every conf the
    engine depends on at runtime must be in RUNTIME_CONFS and applied
    by ensure_session_configs (which load_table calls). Pins the
    r8 cached-plan AQE conf — without it every persist-using query
    runs its shuffles at the static 200-partition width under the
    driver (44.5 s basket-rules pathology, SCALING.md round 8)."""
    from glue_etl_pyspark_spark.session import RUNTIME_CONFS, ensure_session_configs

    must_have = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    }
    for k, v in must_have.items():
        assert RUNTIME_CONFS.get(k) == v, k
    ensure_session_configs(spark)
    for k, v in must_have.items():
        assert spark.conf.get(k) == v, k


def test_sql_script_leaves_scripting_conf_as_found(spark, smoke_dir):
    """sql_scripting_loop enables SQL scripting only for its own call:
    the script runs at the call, so the frame it returns still collects
    after the driver's session is put back as it was."""
    from glue_etl_pyspark_spark.registry import load_all

    key = "spark.sql.scripting.enabled"
    before = spark.conf.get(key, None)
    out = load_all()["sql_scripting_loop"].fn(spark, smoke_dir)
    assert spark.conf.get(key, None) == before
    (row,) = out.collect()
    assert row.checks_run == 4 and row.total_hits > 0
