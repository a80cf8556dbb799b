"""Mirror of the driver's t2 gate: every registered query with an
oracle must hash-match DuckDB at sf0.01; oracle-less queries must at
least run and return a DataFrame."""

from __future__ import annotations

import pytest

from glue_etl_pyspark_spark.parity import check_query
from glue_etl_pyspark_spark.registry import load_all


def _names():
    return sorted(load_all().keys())


@pytest.mark.parametrize("name", _names())
def test_query_parity(spark, sf_dir, oracle_con, name):
    result = check_query(spark, sf_dir, name, con=oracle_con)
    assert result.ok, f"{name}: {result.detail}"


def test_rolling_hourly_pre1970_block_boundary(spark, smoke_dir, tmp_path):
    """events_rolling_hourly shards its window by 1-day blocks of epoch
    seconds. Before 1970 those seconds are negative: the block number
    must floor and the in-block offset must stay non-negative, or rows
    just after a pre-1970 midnight lose the previous day's last hour."""
    import os

    import duckdb

    from glue_etl_pyspark_spark.io import TABLE_NAMES

    d = str(tmp_path)
    for t in TABLE_NAMES:
        if t != "events":
            os.symlink(f"{smoke_dir}/{t}.parquet", f"{d}/{t}.parquet")
    # seconds around the midnights of 1969-12-29, 1969-12-31 and 1970-01-01
    secs = [-3 * 86400 - 100, -3 * 86400 + 200, -86400 - 600, -86400 - 1,
            -86400 + 600, -300, 300, 86400 - 60, 86400 + 60]
    rows = [
        (2 * k + j, s, k % 3, etype, 1.25 * (2 * k + j + 1))
        for k, s in enumerate(secs)
        for j, etype in enumerate(("click", "view"))
    ]
    with duckdb.connect() as con:
        con.execute("CREATE TABLE ev (event_id BIGINT, sec BIGINT, user_id BIGINT, event_type VARCHAR, value DOUBLE)")
        con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(
            "COPY (SELECT event_id, make_timestamp(sec * 1000000) AS ts, user_id, event_type, value, "
            f"'{{}}' AS props FROM ev) TO '{d}/events.parquet' (FORMAT parquet)"
        )
    result = check_query(spark, d, "events_rolling_hourly")
    assert result.ok, result.detail
    assert result.spark_rows == len(rows)
