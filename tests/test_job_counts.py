"""Job-count pins for the iterative operators that loop on the Spark driver.

Suffix ranking (prefix doubling, ``operators/ranks.py``) and connected
components (label propagation, ``cc_labels`` in
``operators/components.py``, behind both graph CC and near-dup
clustering) run Spark jobs per loop round. A change that adds a round, or a separate collect per round,
moves these counts before it shows in wall time. A count covers the
whole query: its registry ``fn`` plus a noop write, in one job group.
The pins are per fixture; a deliberate change to either loop
re-measures them.

The partitioned parquet sink is pinned too: it reads its output back
with the schema it wrote, so a bare read (one footer schema-inference
job per call) shows as one more job.

Fixture schema inference is not counted: ``io.load_table`` infers each table's
schema once per process, so ``count_jobs`` loads every table of the
fixture before it counts. A count is then the same whichever tests ran
before it.
"""

from __future__ import annotations

import os
import uuid

import pytest

from glue_etl_pyspark_spark.io import load_tables
from glue_etl_pyspark_spark.registry import load_all

JOBS = {
    "sf0.01": {
        "text_repeated_substrings": 66,
        "graph_connected_components": 60,
        "dedup_clusters_minlabel": 32,
    },
    "sf0.1": {
        "text_repeated_substrings": 66,
        "graph_connected_components": 84,
        "dedup_clusters_minlabel": 32,
    },
}


def jobs_launched(spark, fn, what: str = "job count") -> int:
    """Spark jobs launched by ``fn()``, counted by a fresh job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, what)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def count_jobs(spark, name: str, sf_dir: str) -> int:
    load_tables(spark, sf_dir)
    spark.catalog.clearCache()
    return jobs_launched(
        spark,
        lambda: load_all()[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save(),
        name,
    )


@pytest.mark.parametrize(
    "name",
    ["text_repeated_substrings", "graph_connected_components", "dedup_clusters_minlabel"],
)
def test_iterative_op_job_count(spark, sf_dir, name):
    pins = JOBS.get(os.path.basename(os.path.normpath(sf_dir)))
    if pins is None:
        pytest.skip(f"no job-count pin for {sf_dir}")
    assert count_jobs(spark, name, sf_dir) == pins[name]


def test_partitioned_sink_reads_back_without_inference(spark, sf_dir):
    """The partitioned write, then the pruned read and its aggregate
    (3 jobs at sf0.01 and sf0.1; the bare read launched 4)."""
    assert count_jobs(spark, "sink_partitioned_pruned", sf_dir) == 3
