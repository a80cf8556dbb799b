"""The benchmark's workloads: which registry queries one pass runs.

Each pass calls every query of its workload once, one at a time, in an
order drawn from the run's seed. The tables are the fixed sf0.1 copy in
``perfbench/data``; the query order is the one input property a seed
can vary without new data.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "etl_relational",
            (
                "q1_pricing_summary",
                "join_multiway_revenue",
                "agg_rollup",
                "topk_per_group",
                "join_asof_purchase_click",
            ),
        ),
        Workload(
            "curation_pipeline",
            (
                "knn_bruteforce_numpy",
                "udf_mapinpandas",
                "stream_tumbling",
                "sink_partitioned_pruned",
            ),
        ),
    )
}
