from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_etl_pyspark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_DIR = "/root/testdata/sf0.001"

# Driver-facing fast tier (r17, VERDICT r16 item 2 — see pyproject
# [tool.pytest.ini_options]): the heaviest property/stress/scale gates
# by measured duration (>= ~8 s in the r17-open full-suite run; ~28 min
# of the 45-min wall). Curated from --durations output, names matched
# with their [param] suffix where only specific params are heavy.
# Deliberately NOT marked despite cost (each gates a recently reworked
# path and stays in the bare tier): quantile_bisect order-statistics,
# the two suffix smoke-exogenous gates, cc_supercritical_fixpoint,
# minhash pinned pairs. preflight.py selects BOTH tiers.
_SLOW_TESTS = {
    "test_arrowdocs_directory_table",
    "test_arrowdocs_row_group_partitioning",
    "test_asof_join_matches_bruteforce",
    "test_boruvka_known_shapes[edges_w2]",
    "test_boruvka_known_shapes[edges_w3]",
    "test_boruvka_known_shapes[edges_w4]",
    "test_boruvka_known_shapes[edges_w5]",
    "test_boruvka_known_shapes[edges_w6]",
    "test_boruvka_random_graphs",
    "test_cc_known_shapes[edges0]",
    "test_cc_known_shapes[edges4]",
    "test_cc_labels_match_union_find",
    "test_cc_random_graphs",
    "test_closing_ops_repeated_run_determinism",
    "test_ewma_literal_recursion_matches_recursive_sql",
    "test_filter_groupby_agreement",
    "test_glue_map_and_filter",
    "test_gram_np_equals_expression_path",
    "test_gram_np_stable_across_partitionings",
    "test_jsonldir_writer_two_phase_commit",
    "test_knn_graph_cap_and_width_determinism",
    "test_knn_ivf_persisted_prunes_index_partitions",
    "test_langid_literal_intersect_equals_join_scoring",
    "test_lcp_interval_ops_random_corpora",
    "test_manifest_pruning_int_stat_col",
    "test_ngram_jaccard_matches_python_bruteforce",
    "test_oracled_outputs_are_atomic[knn_ivf]",
    "test_oracled_outputs_are_atomic[text_exactsubstr_cut]",
    "test_oracled_outputs_are_atomic[text_longest_repeat_per_doc]",
    "test_oracled_outputs_are_atomic[text_repeated_substrings]",
    "test_pack_concat_chunk_matches_global_scan",
    "test_pack_greedy_matches_sequential_reference",
    "test_python_xxhash64_matches_spark",
    "test_query_parity[cluster_medoids]",
    "test_query_parity[dedup_cluster_canonical]",
    "test_query_parity[dedup_clusters_minlabel]",
    "test_query_parity[dedup_jaccard_prefix]",
    "test_query_parity[dedup_simhash_pairs]",
    "test_query_parity[text_exactsubstr_cut]",
    "test_query_parity[text_longest_repeat_per_doc]",
    "test_query_parity[text_repeated_substrings]",
    "test_r13_additions_width_determinism",
    "test_r14_additions_width_determinism",
    "test_range_join_matches_bruteforce",
    "test_repeat_families_random_corpora",
    "test_repeated_substrings_width_determinism",
    "test_sf_scaled_joins_have_no_forced_broadcast",
    "test_shingle_kernel_is_bitexact_twin",
    "test_simhash_kernel_is_bitexact_twin",
    "test_suffix_ranks_random_corpora",
    "test_triangles_random_graphs",
    "test_winnowing_long_doc_wide_position_field",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def smoke_dir() -> str:
    return SMOKE_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from glue_etl_pyspark_spark.parity import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()
