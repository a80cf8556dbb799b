"""Named-query registry backing the driver contract.

Every operator/query the engine claims is registered here with:
- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an optional DuckDB oracle SQL string (ANSI SQL over the
  pre-registered views region/nation/.../embeddings). Queries without
  an oracle get the driver's weaker rows-only check — reserved for
  streaming/randomized/UDF-backed ops.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    category: str
    doc: str = field(default="")


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, category: str = "relational"):
    """Decorator registering a named query.

    >>> @query("q1_pricing_summary", oracle="SELECT ...", category="agg")
    ... def q1(spark, sf_dir): ...
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name, fn, oracle, category, (fn.__doc__ or "").strip())
        return fn

    return deco


# The driver checks the FIRST 50 queries in ``queries()`` dict-insertion
# order against its oracle and records each checked name in
# ``CORRECTNESS_rN.json`` at the repo root (confirmed rounds 1-17; every
# round checked exactly 50 names). ``load_all()`` computes that order
# from those files, so the window rotates itself as rows land.
#
# The only hand-kept input: queries whose code changed after their last
# external row, as ``{name: round}`` — "changed after round N's check".
# A name leads while its newest row is from round N or older; once a
# newer row lands the entry is inert and may be deleted. Never
# hand-order the registry; add a changed query here instead.
DRIVER_REWORKED: dict[str, int] = {
    "events_winsorize_bounds": 17,
    "events_rolling_hourly": 17,
    # pair cosine routed through functions.vectors.cosine
    "knn_bruteforce_cosine": 17,
    "knn_bruteforce_numpy": 17,
    "knn_ivf": 17,
    "knn_ivf_clustered": 17,
    "knn_ivf_persisted": 17,
    "knn_label_purity": 17,
    "embedding_dedup_pairs": 17,
    "knn_pq_rerank": 17,
    "knn_int8_rerank": 17,
    "dedup_semantic_clusters": 17,
    "knn_hard_negatives": 17,
    "knn_mutual_nn": 17,
    "knn_triplet_mining": 17,
    "cluster_medoids": 17,
    "hybrid_search_rrf": 17,
}


def last_checked_rounds() -> dict[str, int]:
    """``{name: newest round whose CORRECTNESS_rN.json lists it}``,
    read from the repo root; empty when the evidence files are absent."""
    last: dict[str, int] = {}
    for path in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        r = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = max(last.get(name, 0), r)
    return last


def driver_order(
    specs: dict[str, QuerySpec], last_checked: dict[str, int]
) -> list[str]:
    """Names of ``specs`` in the order the driver should check them:
    never checked, then live reworks, then oldest last check, then
    oracled before rows-only, then registration order. With no evidence
    this is oracled-first registration order (the sort is stable)."""

    def rank(name: str):
        seen = last_checked.get(name, 0)
        return (
            name in last_checked,
            seen > DRIVER_REWORKED.get(name, -1),
            seen,
            specs[name].oracle is None,
        )

    return sorted(specs, key=rank)


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: registration) and return
    the registry in ``driver_order``, so the driver's bounded check hits
    the queries that most need an external correctness row."""
    from . import queries  # noqa: F401  (imports submodules in its __init__)

    return {n: QUERIES[n] for n in driver_order(QUERIES, last_checked_rounds())}
