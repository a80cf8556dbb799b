"""Job-count pins for the iterative operators that loop on the Spark driver.

Suffix ranking (prefix doubling, ``operators/ranks.py``) and connected
components (label propagation, ``cc_labels``) run Spark jobs per loop
round. A change that adds a round, or a separate collect per round,
moves these counts before it shows in wall time. A count covers the
whole query: its registry ``fn`` plus a noop write, in one job group.
The pins are per fixture and were measured before the change that
added them; a deliberate change to either loop re-measures them.
"""

from __future__ import annotations

import os
import uuid

import pytest

from glue_etl_pyspark_spark.registry import load_all

JOBS = {
    "sf0.01": {"text_repeated_substrings": 67, "graph_connected_components": 61},
    "sf0.1": {"text_repeated_substrings": 67, "graph_connected_components": 85},
}


def count_jobs(spark, name: str, sf_dir: str) -> int:
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    spark.catalog.clearCache()
    sc.setJobGroup(group, name)
    try:
        load_all()[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["text_repeated_substrings", "graph_connected_components"])
def test_iterative_op_job_count(spark, sf_dir, name):
    pins = JOBS.get(os.path.basename(os.path.normpath(sf_dir)))
    if pins is None:
        pytest.skip(f"no job-count pin for {sf_dir}")
    assert count_jobs(spark, name, sf_dir) == pins[name]
