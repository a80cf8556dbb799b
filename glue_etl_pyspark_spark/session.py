"""SparkSession construction and config for this engine.

Two paths:

- ``get_spark()`` — build our own session (tests, bench). local master,
  AQE on, UTC session timezone, nanos-as-long for the events table.
- ``ensure_session_configs(spark)`` — the driver contract hands us an
  already-built session (``entry(spark)``); this applies the same
  *runtime-settable* SQL configs to it so table loading behaves
  identically. All configs we depend on at read time are dynamic SQL
  confs, so this is safe on a live session.

Scale notes (100 TB design): AQE handles skew-join splitting and
shuffle-partition coalescing at runtime; on a real cluster
``spark.sql.shuffle.partitions`` should start around 2-3x total cores
and let AQE coalesce down. Locally we pin a small value so sf0.01
tests don't pay 200-partition scheduling overhead.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# SQL confs that are runtime-settable and required for correct reads.
# - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS); Spark 4 rejects
#   it outright without this (SURVEY.md §8.1). Only NANOS columns are
#   affected; MILLIS/MICROS tables read unchanged.
# - UTC session tz: makes timestamp_micros()->timestamp_ntz casts
#   deterministic and DuckDB-comparable.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # Let AQE re-plan (coalesce/skew-split) the stages that produce
    # AND consume persisted frames. The default (false) pins every
    # cached subplan to the static shuffle width — on a vanilla
    # 200-partition session each persist-using query (basket rules,
    # dedup clusters, ngram pairs) runs chains of 200 near-empty
    # tasks: basket_association_rules measured 44.5 s -> 7.5 s cold /
    # 1.7 s warm at sf0.01 with this on. Values are unaffected
    # (partitioning only); the repeated-run shuffle-width stress
    # suite pins that.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_session_configs(spark: SparkSession) -> SparkSession:
    """Apply required dynamic SQL confs to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be non-settable on some builds; reads that need
            # it will fail loudly there, which is the right failure mode.
            pass
    return spark


@contextmanager
def pinned_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the block, then put every key back
    as it was — its old value, or unset if it had none — also when the
    block raises. The one way this package changes a session conf for a
    while (a stream's state-store count and provider, a batch query's
    shuffle width): the driver hands us its session, and we leave it as
    we found it."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def get_spark(
    app_name: str = "glue-etl-pyspark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local fixtures are single small parquet files; the 128m default
        # would scan them as 1-3 tasks on a 32-core box. On a real cluster
        # with TB-scale multi-file tables, keep the default (set the env
        # var to 128m) — more splits than row groups buys nothing there.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow for the pandas-UDF paths (similarity, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session; re-assert.
    return ensure_session_configs(spark)
