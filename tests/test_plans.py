"""Plan-shape regression tests (SURVEY.md §4.2): pushdown, pruning,
broadcast strategy, top-k physical operators. A change that silently
loses one of these costs ~100x at the 100 TB target, so they're
pinned here."""

from __future__ import annotations

from glue_etl_pyspark_spark.plans import (
    assert_broadcast_joins,
    assert_no_sort_merge_join,
    assert_pushed_filter,
    explain_str,
    operator_counts,
    read_schemas,
)
from glue_etl_pyspark_spark.registry import load_all


def _df(spark, sf_dir, name):
    return load_all()[name].fn(spark, sf_dir)


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    assert_pushed_filter(df, "l_shipdate")
    ops = operator_counts(df)
    n_hash_agg = sum(v for k, v in ops.items() if "HashAggregate" in k)
    assert n_hash_agg >= 2, f"expected partial+final HashAggregate: {ops}"


def test_q1_column_pruning(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    [schema] = read_schemas(df)
    # only the 7 needed columns reach the scan; the 4 others are pruned
    assert "l_orderkey" not in schema and "l_partkey" not in schema
    assert "l_extendedprice" in schema and "l_shipdate" in schema


def test_apply_mapping_pushdown_through_projection(spark, sf_dir):
    df = _df(spark, sf_dir, "apply_mapping_orders")
    # the filter on the *renamed* column still reaches the scan
    assert_pushed_filter(df, "o_totalprice")
    [schema] = read_schemas(df)
    assert "o_orderpriority" not in schema, "unused column not pruned"


def test_multiway_join_is_all_broadcast(spark, sf_dir):
    df = _df(spark, sf_dir, "join_multiway_revenue")
    assert_broadcast_joins(df, at_least=4)
    assert_no_sort_merge_join(df)


def test_topk_global_is_take_ordered(spark, sf_dir):
    df = _df(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in explain_str(df)


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = explain_str(_df(spark, sf_dir, "topk_per_group"))
    assert "WindowGroupLimit" in plan, "rank filter should push a group limit"


def test_compound_filter_fully_pushed(spark, sf_dir):
    df = _df(spark, sf_dir, "filter_compound")
    assert_pushed_filter(df, "l_discount")
    assert_pushed_filter(df, "l_quantity")
    assert_pushed_filter(df, "l_returnflag")


def test_stream_static_join_batch_broadcasts_dim(spark, sf_dir):
    df = _df(spark, sf_dir, "stream_static_join_batch")
    assert_broadcast_joins(df, at_least=1)
    assert_no_sort_merge_join(df)


def test_incremental_bookmark_pushes_watermark(spark, sf_dir):
    df = _df(spark, sf_dir, "incremental_bookmark")
    assert_pushed_filter(df, "ts")


def test_partitioned_sink_read_prunes_partitions(spark, sf_dir):
    df = _df(spark, sf_dir, "sink_partitioned_pruned")
    plan = explain_str(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "order_year" in pf[0], f"no partition pruning: {pf}"


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    df = _df(spark, sf_dir, "dpp_partitioned_join")
    plan = explain_str(df)
    assert "dynamicpruning" in plan.lower(), "DPP did not fire on partitioned join"


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    df = _df(spark, sf_dir, "bucketed_join")
    plan = explain_str(df)
    assert "Exchange" not in plan, "bucketed join should not shuffle either side"


def test_q11_reuses_value_exchange(spark, sf_dir):
    """Both consumers of the per-part value frame (the rows and the
    global threshold) are built on the identical aggregate subtree, so
    the shuffle must be computed once — AQE replaces the second branch
    with a ReusedExchange. (The SQL-CTE form would scan lineitem
    twice: Spark inlines CTEs.)"""
    df = _df(spark, sf_dir, "tpch_q11_important_parts")
    df.collect()  # AQE finalizes reuse at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, "per-part value shuffle computed twice"


def test_knn_bruteforce_broadcasts_query_side(spark, sf_dir):
    """The cross join's bound is the small query side: it must be the
    broadcast input (corpus streams), and per-query top-k must push a
    group limit."""
    plan = explain_str(_df(spark, sf_dir, "knn_bruteforce_cosine"))
    assert "BroadcastNestedLoopJoin" in plan, plan[:500]
    assert "WindowGroupLimit" in plan
    # corpus side never sort-merges/shuffles for the join itself
    assert "SortMergeJoin" not in plan


def test_ngram_dedup_count_verify_no_array_rejoin(spark, sf_dir):
    """Complete-index path: |A∩B| comes from the pair-count aggregate
    (map-side combine), so the plan must contain partial+final
    HashAggregates and NO array_intersect re-join of shingle arrays."""
    plan = explain_str(_df(spark, sf_dir, "dedup_ngram_jaccard"))
    assert "array_intersect" not in plan, "count-verify regressed to array re-join"
    ops = operator_counts(_df(spark, sf_dir, "dedup_ngram_jaccard"))
    n_hash_agg = sum(v for k, v in ops.items() if "HashAggregate" in k)
    assert n_hash_agg >= 2, f"expected partial+final pair-count aggregate: {ops}"
    # shuffle keys are 8-byte shingle hashes from the vectorized
    # kernel (MapInPandas; xxHash64 replicated in Python — the r8
    # kernel rework), never shingle strings
    assert "mapinpandas" in plan.lower()


def test_aqe_splits_skewed_join(spark):
    """The AQE skew-join safety net (SCALING.md ground rule): a
    sort-merge join with one dominant key must be re-planned at runtime
    with the skewed partition split — pinned so a conf regression
    can't silently reintroduce straggler tasks at scale."""
    from pyspark.sql import functions as F

    big = spark.range(2000000).select(
        F.when(F.col("id") < 1900000, 0).otherwise((F.col("id") % 1000) + 1).alias("k"),
        F.col("id").alias("v"), F.lit("x" * 64).alias("pad"),
    )
    dim = spark.range(1001).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = big.join(dim.hint("merge"), "k").select(F.sum("v").alias("s"))
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, "AQE did not split the skewed partition"
    assert "skewed" in plan, plan[:400]
    # semantics unchanged by the split
    assert row.s == sum(i for i in range(2000000) if i < 1900000 or (i % 1000) + 1 <= 1000)


def test_pack_sequences_no_global_corpus_window(spark, sf_dir):
    """The packer's running sum over the CORPUS must be partitioned by
    shard — a single-partition window over all documents is the scale
    killer the two-phase prefix sum exists to avoid. Since round 5 the
    shard bases are collected and re-shipped as literal data (the r4
    driver hash flake), so the plan must have NO SinglePartition
    exchange at all — phase 2 is a driver-side prefix sum over
    n/shard_span rows."""
    plan = explain_str(_df(spark, sf_dir, "doc_pack_sequences"))
    corpus_windows = [
        line for line in plan.splitlines()
        if "sum(n_tokens" in line and "windowspecdefinition" in line
    ]
    assert corpus_windows, "corpus running-sum window missing from plan"
    for line in corpus_windows:
        assert "windowspecdefinition(__shard" in line, (
            "corpus window lost its shard partitioning:\n" + line
        )
    assert plan.count("SinglePartition") == 0, (
        "expected no SinglePartition exchange (bases are literal data)"
    )


def test_salted_join_keys_carry_salt(spark, sf_dir):
    """The salted join must actually key on (event_type, __salt) —
    otherwise the query silently degrades to the unsalted plan and
    the hot key lands on one partition again."""
    plan = explain_str(_df(spark, sf_dir, "join_salted_skew"))
    assert "__salt" in plan, "salt column missing from the physical plan"


def test_zorder_range_partitions_and_locality(spark, sf_dir):
    """zorder_layout must (a) range-partition on zval — the write-side
    clustering step — and (b) actually cluster BOTH source dimensions:
    the mean per-partition span must be bounded in BOTH dimensions
    (measured ~284/1024 per dim at sf0.01 with 32 partitions). A
    sort-by-one-dim layout passes on its sort dim but leaves the
    other at full span (~1023), so requiring both below 600 is what
    actually pins the interleave."""
    from pyspark.sql import functions as F

    df = _df(spark, sf_dir, "zorder_layout")
    assert "rangepartitioning(zval" in explain_str(df).lower(), (
        "zorder output lost its RangePartitioning on zval"
    )
    [spans] = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("zx") - F.min("zx")).alias("dx"),
            (F.max("zy") - F.min("zy")).alias("dy"),
        )
        .agg(F.avg("dx").alias("mdx"), F.avg("dy").alias("mdy"))
        .collect()
    )
    assert spans.mdx < 600 and spans.mdy < 600, (
        f"z-order partitions are not 2-D local: mean spans {spans}"
    )


def test_observe_metrics_collects_during_action(spark, sf_dir):
    """The CollectMetrics node must deliver metrics from the SAME pass
    that computed the result — no second scan."""
    df = _df(spark, sf_dir, "observe_metrics")
    rows = df.collect()
    obs = df._spark_graft_observation
    metrics = obs.get
    assert metrics["rows_seen"] > metrics["rows_open"] > 0
    # rows_open (counted pre-filter by the observation) must equal the
    # per-priority counts the query itself returned
    assert metrics["rows_open"] == sum(r.n_orders for r in rows)


def test_funnel_is_monotone(spark, sf_dir):
    """Ordered-funnel invariant: each stage can only lose users."""
    rows = {r.stage: r.n_users for r in _df(spark, sf_dir, "events_funnel").collect()}
    assert rows["viewed"] >= rows["clicked"] >= rows["purchased"] > 0


def test_bloom_prune_join_broadcasts_and_prunes(spark, sf_dir):
    """The bloom-pruned join must (a) plan every probe + the exact join
    as broadcast-hash (the fact side never shuffles pre-aggregation)
    and (b) actually prune: candidates surviving the two bit-probes
    must number well under the full fact table while containing every
    true match (no false negatives by construction)."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.queries.sketches import (
        _BLOOM_POS_FACT,
        bloom_words,
    )

    df = _df(spark, sf_dir, "bloom_prune_join")
    assert_broadcast_joins(df, at_least=3)
    assert_no_sort_merge_join(df)

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1995)
    ).select("o_orderkey")
    words = bloom_words(dim, "o_orderkey")

    fact = li.select(
        "l_orderkey",
        *[F.expr(f).cast("bigint").alias(p) for p, f in _BLOOM_POS_FACT.items()],
    )
    surviving = fact
    for p in _BLOOM_POS_FACT:
        probe = words.select(
            F.col("word").alias(f"__w_{p}"), F.col("mask").alias(f"__m_{p}")
        )
        surviving = (
            surviving.join(
                F.broadcast(probe), F.shiftright(F.col(p), 6) == F.col(f"__w_{p}")
            )
            .filter(
                F.expr(
                    f"(__m_{p} & shiftleft(cast(1 as bigint), "
                    f"cast({p} % 64 as int))) != 0"
                )
            )
            .drop(f"__w_{p}", f"__m_{p}")
        )
    n_fact = li.count()
    n_candidates = surviving.count()
    n_true = li.join(dim, li.l_orderkey == dim.o_orderkey, "left_semi").count()
    assert n_true <= n_candidates, "bloom dropped a true match (false negative!)"
    assert n_candidates < n_fact * 0.3, (
        f"bloom prefilter barely prunes: {n_candidates}/{n_fact} survive "
        f"({n_true} true matches)"
    )


def test_count_min_sketch_one_sided_error(spark, sf_dir):
    """CMS guarantee: the estimate NEVER undercounts — est >= true for
    every key, and the top-20 overcounts are bounded by the sketch
    collision budget (n/w per row ~ small multiples here)."""
    rows = _df(spark, sf_dir, "agg_count_min_topk").collect()
    assert len(rows) == 20
    assert all(r.est >= r.true_cnt for r in rows), "CMS undercounted a key"
    assert all(r.overcount == r.est - r.true_cnt for r in rows)


def test_line_dedup_single_wide_shuffle(spark, sf_dir):
    """line_dedup_corpus must shuffle the exploded lines ONCE (the
    per-line window); the doc-grain re-aggregation rides a second
    keyed exchange but nothing reshuffles the full line set twice."""
    plan = explain_str(_df(spark, sf_dir, "line_dedup_corpus"))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 3, f"unexpected extra shuffles in line dedup plan:\n{plan[:800]}"
    assert "Window" in plan


def test_contamination_dedups_train_before_join(spark, sf_dir):
    """The train side must aggregate to DISTINCT grams before joining
    eval occurrences — a HashAggregate must feed the join's build
    side, otherwise boilerplate grams fan out quadratically."""
    ops = operator_counts(_df(spark, sf_dir, "contamination_ngram_overlap"))
    n_agg = sum(v for k, v in ops.items() if "HashAggregate" in k)
    assert n_agg >= 3, f"expected distinct-aggregate before join: {ops}"


def test_count_min_sketch_partial_aggregates(spark, sf_dir):
    """The CMS build must plan partial+final hash aggregation on
    (seed,bucket) — the map-side combine is what caps the shuffle at
    d*w rows regardless of input size."""
    ops = operator_counts(_df(spark, sf_dir, "agg_count_min_topk"))
    n_agg = sum(v for k, v in ops.items() if "HashAggregate" in k)
    assert n_agg >= 4, f"expected partial+final aggs for sketch+truth: {ops}"


def test_pagerank_iteration_plan_is_flat_and_broadcast(spark, sf_dir):
    """The returned PageRank frame's lineage starts at the LAST
    localCheckpoint (per-round truncation working as intended — the
    edge-build star join executes once, under the same broadcast plan
    join_multiway_revenue pins); the visible tail must itself be
    all-broadcast with no sort-merge join."""
    df = _df(spark, sf_dir, "graph_pagerank_topk")
    plan = explain_str(df)
    assert "Scan ExistingRDD" in plan, "lineage not truncated at the checkpoint"
    assert_broadcast_joins(df, at_least=1)
    assert_no_sort_merge_join(df)


def test_compaction_reduces_file_count(spark, sf_dir):
    """sink_compaction must actually shrink the file count (32 shards
    → ≤2 parquet files) while preserving the row set (the parity
    oracle pins content)."""
    import glob

    from glue_etl_pyspark_spark.sources.formats import scratch_dir

    _df(spark, sf_dir, "sink_compaction").collect()
    frag = glob.glob(f"{scratch_dir('events_fragmented')}/part-*.parquet")
    comp = glob.glob(f"{scratch_dir('events_compacted')}/part-*.parquet")
    assert len(frag) >= 16, f"fragmented dir not fragmented: {len(frag)} files"
    assert len(comp) <= 2, f"compaction left {len(comp)} files"


def test_length_bucket_packing_window_is_sharded(spark, sf_dir):
    """The batch row-number must be a (bucket, id-range-shard) window —
    a bare per-bucket window is one corpus-sized task per bucket at
    100 TB. The global offsets arrive as literal data (driver prefix
    sum), so no SinglePartition exchange may appear."""
    plan = explain_str(_df(spark, sf_dir, "length_bucket_packing"))
    win_lines = [
        l for l in plan.splitlines() if "windowspecdefinition" in l
    ]
    assert win_lines, "row-number window missing from plan"
    for l in win_lines:
        assert "bucket_len" in l and "__shard" in l, (
            "window lost its (bucket_len, __shard) partitioning:\n" + l
        )
    assert plan.count("SinglePartition") == 0


def test_bm25_topk_plan(spark, sf_dir):
    """BM25 must plan as: IN-filter pruning before the tf aggregate,
    broadcast df/stats joins, and a TakeOrderedAndProject top-k (never
    a global sort of all scored docs)."""
    plan = explain_str(_df(spark, sf_dir, "text_bm25_topk"))
    assert "TakeOrderedAndProject" in plan
    assert_broadcast_joins(_df(spark, sf_dir, "text_bm25_topk"), at_least=2)


def test_minhash_portable_is_bucket_join(spark, sf_dir):
    """The LSH candidate join must key on (band, k1, k2) buckets —
    a nested-loop/cartesian pair generation defeats the whole point."""
    plan = explain_str(_df(spark, sf_dir, "dedup_minhash_portable"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_oov_vocab_is_take_ordered(spark, sf_dir):
    """The vocab top-k must be TakeOrderedAndProject (per-partition
    heaps), not a single-partition rank window over all tokens."""
    plan = explain_str(_df(spark, sf_dir, "text_oov_rate"))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("SinglePartition") == 0


def test_stratified_exact_uses_window_group_limit(spark, sf_dir):
    """rank<=N per stratum must plan as WindowGroupLimit — partial
    per-partition top-N before the shuffle, so no stratum ever
    materializes its full ordered partition."""
    plan = explain_str(_df(spark, sf_dir, "sample_stratified_exact"))
    assert "WindowGroupLimit" in plan


def test_contamination_minhash_broadcasts_eval_bands(spark, sf_dir):
    """The eval (benchmark) band table must broadcast: the probe adds
    no shuffle to the train side, and the candidate join must be a
    keyed bucket join, never a nested loop."""
    plan = explain_str(_df(spark, sf_dir, "contamination_minhash"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_pmi_broadcasts_unigrams_and_takes_ordered(spark, sf_dir):
    """Both unigram-frequency joins onto the pair counts are
    vocab-sized — they must broadcast — and the top-k must be
    per-partition heaps, not a global sort."""
    df = _df(spark, sf_dir, "text_bigram_pmi")
    assert_broadcast_joins(df, at_least=2)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_triangles_never_materialize_wedges(spark, sf_dir):
    """The triangle join must stay keyed (adjacency-intersection
    edge-iterator): no cartesian pair generation, and the final top-k
    is TakeOrderedAndProject."""
    plan = explain_str(_df(spark, sf_dir, "graph_triangles_topk"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bpe_corpus_pass_is_take_ordered_once(spark, sf_dir):
    """BPE's only corpus-scale stage is the word-frequency top-V —
    TakeOrderedAndProject — after which the merge loop runs on a
    literal vocab table: the plan must contain NO parquet scan of the
    corpus (the vocab was collected and re-shipped as literal data)."""
    df = _df(spark, sf_dir, "vocab_bpe_merges")
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "parquet" not in plan.lower(), "merge loop must not re-scan corpus"


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-ES top-k must reduce via per-partition heaps — no global
    sort, no shuffle of the keyed corpus."""
    plan = explain_str(_df(spark, sf_dir, "sample_weighted_noreplace"))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("SinglePartition") == 0


def test_hll_partial_aggregates_and_tiny_shuffle(spark, sf_dir):
    """The HLL register build must combine map-side (partial+final
    HashAggregate) — the whole point of the sketch is that the shuffle
    carries at most m rows per task."""
    df = _df(spark, sf_dir, "agg_hll_portable")
    ops = operator_counts(df)
    n_hash_agg = sum(v for k, v in ops.items() if "HashAggregate" in k)
    assert n_hash_agg >= 4, f"expected partial+final aggs on both passes: {ops}"


def test_boilerplate_strip_broadcasts_line_table(spark, sf_dir):
    """The boilerplate table is tiny by construction and must broadcast
    — a shuffle join on the raw line strings would move the whole
    corpus twice."""
    df = _df(spark, sf_dir, "text_boilerplate_strip")
    assert_broadcast_joins(df, at_least=1)
    assert_no_sort_merge_join(df)


def test_semdedup_pairs_join_on_cluster_key(spark, sf_dir):
    """SemDeDup's quadratic stage must be an equi-join on cent_id —
    never a cartesian product over the corpus."""
    plan = explain_str(_df(spark, sf_dir, "dedup_semantic_clusters"))
    assert "CartesianProduct" not in plan
    assert "cent_id" in plan


def test_bigram_lm_broadcasts_unigram_side(spark, sf_dir):
    """The unigram/vocab tables broadcast; only the bigram-key join may
    shuffle."""
    df = _df(spark, sf_dir, "text_bigram_lm_score")
    assert_broadcast_joins(df, at_least=2)


def test_sampled_quantiles_filter_reaches_scan(spark, sf_dir):
    """The hash-sample predicate must evaluate in the scan stage (no
    pre-shuffle of unsampled rows): the sampled aggregate's input is a
    Filter directly over the file scan."""
    from glue_etl_pyspark_spark.plans import explain_str as _es

    plan = _es(_df(spark, sf_dir, "agg_quantiles_sampled"))
    assert "md5" in plan and "Filter" in plan
    assert "CartesianProduct" not in plan


def test_profile_stats_avoids_multi_distinct_expand(spark, sf_dir):
    """The table profile must NEVER plan the multi-distinct Expand
    (measured 8-10x slower at the 10x probe): NDVs run as slim
    per-column aggregates instead."""
    plan = explain_str(_df(spark, sf_dir, "profile_table_stats"))
    assert "Expand" not in plan, "multi-distinct Expand crept back in"


def test_hybrid_rrf_takeordered_and_broadcasts(spark, sf_dir):
    plan = explain_str(_df(spark, sf_dir, "hybrid_search_rrf"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_reconcile_preaggregates_before_join(spark, sf_dir):
    """The lineitem side must aggregate to one row per order BEFORE
    the join — the shuffle carries orders, not lineitems."""
    df = _df(spark, sf_dir, "dq_reconcile_amounts")
    plan = explain_str(df)
    # the join's lineitem input is a HashAggregate keyed on l_orderkey
    import re

    join_pos = plan.find("SortMergeJoin") if "SortMergeJoin" in plan else plan.find("Join")
    assert join_pos != -1
    assert plan.count("HashAggregate") >= 2, plan[:500]


def test_decayed_popularity_single_pass(spark, sf_dir):
    """The decay weighting is one map-side-combined aggregate over a
    broadcast one-row max-date frame: no window, no extra shuffle."""
    plan = explain_str(_df(spark, sf_dir, "events_decayed_popularity"))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_inverted_index_partial_aggregation(spark, sf_dir):
    ops = operator_counts(_df(spark, sf_dir, "text_inverted_index"))
    n_agg = sum(v for k, v in ops.items() if "Aggregate" in k)
    assert n_agg >= 2, f"expected partial+final aggregates: {ops}"


def test_skyline_window_partitioned_by_bucket(spark, sf_dir):
    """The skyline windows must partition by the price bucket (never a
    global SinglePartition sort) and share ONE Window node; the bucket
    bases join is a broadcast of driver literals."""
    plan = explain_str(_df(spark, sf_dir, "skyline_parts_frontier"))
    assert "Window" in plan
    assert "windowspecdefinition(__bkt" in plan, plan[:400]
    ops = operator_counts(_df(spark, sf_dir, "skyline_parts_frontier"))
    n_win = sum(v for k, v in ops.items() if k.startswith("Window"))
    assert n_win == 1, f"both frames must share one Window node: {ops}"
    assert "BroadcastHashJoin" in plan


def test_association_rules_takeordered(spark, sf_dir):
    """Top-50 by lift must be TakeOrderedAndProject (never a global
    sort), with the item-count joins broadcast."""
    plan = explain_str(_df(spark, sf_dir, "basket_association_rules"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_pca_gram_partial_aggregation(spark, sf_dir):
    """The Gram sketch must map-side combine (partial+final aggregate)
    — the shuffle carries at most 2080 triangle cells per task, never
    row-pair data — with a narrow explode and no pre-agg join."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.queries.linalg import gram_triangle

    e = load_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )
    g = gram_triangle(e)
    ops = operator_counts(g)
    n_agg = sum(v for k, v in ops.items() if "Aggregate" in k)
    assert n_agg >= 2, f"expected partial+final aggregates: {ops}"
    plan = explain_str(g)
    assert "Generate" in plan  # narrow explode, no join before the agg
    assert "Join" not in plan


def test_point_in_time_join_stays_equi(spark, sf_dir):
    """The temporal-validity join must extract the custkey equi-key
    with the interval bounds as a join residual — never degrade to a
    nested-loop over facts x versions."""
    plan = explain_str(_df(spark, sf_dir, "join_point_in_time"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the residual rides the hash/merge join, not a post-join filter
    assert "Join" in plan and "valid_from" in plan


# ---------------------------------------------------------------------------
# Round-6 pins: scale-load-bearing plan properties of the driver-window
# queries (each one costs ~100x at the 100 TB target if silently lost)
# ---------------------------------------------------------------------------


def test_cluster_medoids_pair_join_is_equi_not_cartesian(spark, sf_dir):
    # the SemDeDup pair stage must join on cent_id — an accidental
    # cartesian over members is the all-pairs explosion the design bans
    plan = explain_str(_df(spark, sf_dir, "cluster_medoids"))
    assert "CartesianProduct" not in plan


def test_knn_anchor_family_broadcasts_bounded_side(spark, sf_dir):
    # the cross join's BROADCAST side must be the bounded anchor set;
    # a plain CartesianProduct would shuffle the corpus against itself
    for name in ("knn_hard_negatives", "knn_mutual_nn", "knn_triplet_mining"):
        plan = explain_str(_df(spark, sf_dir, name))
        assert "BroadcastNestedLoopJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_knn_ivf_persisted_prunes_index_partitions(spark, sf_dir):
    # the reloaded members index is partitioned by cent_id; the probe
    # search must read only its clusters' files — the property that
    # makes a persisted ANN index serve at scale
    plan = explain_str(_df(spark, sf_dir, "knn_ivf_persisted"))
    assert "PartitionFilters" in plan and "cent_id" in plan


def test_revenue_share_broadcasts_dims(spark, sf_dir):
    df = _df(spark, sf_dir, "revenue_share_of_region")
    assert_broadcast_joins(df, at_least=4)


def test_embedding_feature_stats_partial_final_agg(spark, sf_dir):
    # one narrow Generate, then map-side-combined aggregation: exactly
    # partial+final around a single exchange
    ops = operator_counts(_df(spark, sf_dir, "embedding_feature_stats"))
    assert sum(v for k, v in ops.items() if "HashAggregate" in k) >= 2
    assert sum(v for k, v in ops.items() if k == "Exchange") == 1


def test_events_time_to_conversion_has_no_window(spark, sf_dir):
    # per-user latencies come from conditional MINs — a Window over
    # event-grain rows would serialize per-user partitions needlessly
    plan = explain_str(_df(spark, sf_dir, "events_time_to_conversion"))
    assert "Window" not in plan


def test_curriculum_phase_window_is_shard_partitioned(spark, sf_dir):
    # the ranking window must partition by shard (parallel), never run
    # as one global ordered partition
    plan = explain_str(_df(spark, sf_dir, "curriculum_phase_assign"))
    assert "shard" in plan  # the windowspecdefinition partitions on it
    assert "SinglePartition" not in plan


def test_chi2_and_target_encode_broadcast_scalar_totals(spark, sf_dir):
    # the one-row totals frame joins by broadcast, never a shuffle
    for name in ("dq_sampler_chi2", "feature_target_encode"):
        plan = explain_str(_df(spark, sf_dir, name))
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_rolling_correlation_prefilters_event_types(spark, sf_dir):
    # the view/purchase filters must reach the scan; the window then
    # runs over the daily aggregate, not event grain
    df = _df(spark, sf_dir, "events_rolling_correlation")
    assert_pushed_filter(df, "event_type")


def test_containment_dedup_joins_inverted_index_equi(spark, sf_dir):
    plan = explain_str(_df(spark, sf_dir, "dedup_containment"))
    assert "CartesianProduct" not in plan


# --- r12: forced-broadcast hygiene on SF-scaled relations -----------------
#
# An explicit broadcast() hint is honored regardless of
# autoBroadcastJoinThreshold, so a hint on an SF-scaled side (orders,
# customer, part, supplier — all grow linearly with data) pins an
# OOM-class plan at the 100 TB target. These queries must instead rely
# on size-based conversion (static estimate or AQE): broadcast at bench
# scale, shuffle join when the side outgrows the threshold. The pin:
# with the threshold disabled, every one of them must plan at least one
# shuffle join (a hinted plan would stay all-broadcast), while the
# threshold-on plan stays broadcast (pinned by the tests above).

_SF_SCALED_JOIN_QUERIES = [
    "join_inner_equi",
    "join_multiway_revenue",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q12_priority_counts",
    "tpch_q14_promo_effect",
    "tpch_q19_disjunctive",
    "revenue_share_of_region",
    "feature_target_encode",
    "dq_expectations",
    "bloom_prune_join",
    "stream_static_join_batch",
]


# Every forced-broadcast call site in non-test source, frozen after the
# r12 de-hint review (all are dims, one-row/constant frames, or
# query-bounded shortlists — never an SF-scaled side). The gate below
# auto-discovers NEW sites: adding broadcast() anywhere fails this test
# until the site is reviewed against the de-hint rule (would this frame
# still fit in executor+driver memory at 1000x the data?) and added
# here. Keyed by (file, first-arg prefix) with counts, so a second
# broadcast of a same-named frame in the same file also trips it.
_REVIEWED_BROADCAST_SITES = {
    # r14: quantile_bisect_exact's per-round search state — one row per
    # l_returnflag (domain 3 at EVERY SF; constant-size by the value
    # domain, never data-scaled), rebroadcast each bisection round
    ("queries/aggregates.py", "mids"): 1,
    ("operators/packing.py", "bases"): 1,
    ("operators/similarity.py", ""): 1,
    ("operators/similarity.py", "(qids"): 1,
    ("operators/similarity.py", "q"): 2,
    # r17: events_winsorize_bounds driver-literal per-type counts
    # (domain-bounded, 5 rows at every SF) broadcast into the asc and
    # desc rank-pick joins
    ("queries/analytics.py", 'lit.select("event_type"'): 2,
    ("queries/analytics.py", "base_df"): 1,
    ("queries/analytics.py", "mx"): 1,
    ("queries/analytics.py", "n"): 1,
    ("queries/analytics.py", "n_baskets"): 1,
    ("queries/analytics.py", "profile"): 1,
    ("queries/analytics.py", "r"): 1,
    ("queries/analytics.py", "tot"): 1,
    ("queries/analytics.py", "truth"): 1,
    ("queries/curation.py", "anchors"): 1,
    ("queries/curation.py", "glob"): 1,
    ("queries/curation.py", "ranked"): 1,
    ("queries/curation.py", "tot"): 1,
    ("queries/curation.py", "vocab"): 1,
    ("queries/extras.py", "lex"): 1,
    ("queries/graph.py", 'deg.select(F.col("node"'): 2,
    ("queries/graph.py", "nation"): 1,
    ("queries/joins_q.py", "inc"): 1,
    ("queries/joins_q.py", "nation"): 1,
    ("queries/joins_q.py", "r"): 1,
    ("queries/llm_knn.py", ""): 1,
    ("queries/llm_knn.py", "a"): 1,
    ("queries/llm_knn.py", "cents"): 1,
    ("queries/llm_knn.py", "hp"): 1,
    ("queries/llm_knn.py", "n_labels"): 1,
    ("queries/llm_knn.py", "q"): 3,
    ("queries/llm_knn.py", "q_labels"): 1,
    ("queries/llm_knn.py", "seeds"): 1,
    ("queries/llm_pack.py", "bases"): 1,
    # r15 suffix ranking: bases = per-shard dense-rank offsets (<=257
    # rows by construction — span sizing); vr = the round-0 BIGRAM
    # vocabulary (tok, tok2, rank) since the r17 bigram round-0 —
    # broadcast ONLY while its measured distinct count stays under the
    # explicit 2M-row budget (the code itself branches: above the
    # budget the attach join is hint("merge"), so a 100 TB-class pair
    # vocabulary can never be forced through a broadcast). Every
    # corpus-scaled join in the op carries hint("merge") — reviewed
    # r15 after the AQE broadcast-convert OOM; re-reviewed r16 with
    # the shard rework, r17 with the bigram round-0.
    # TWO bases sites since the r16-opt fused round: dense_rank_shards'
    # offsets join (round 0 vocab) and suffix_ranks' in-loop offsets
    # join — both ship the per-shard rank bases, <= ~257 rows by
    # construction (shard span = 1 + n_distinct // 256, so the shard
    # count is algorithm-bounded at EVERY data scale), the endorsed
    # driver-literal constant-size re-ship.
    ("operators/ranks.py", "bases"): 2,
    ("operators/ranks.py", "vr"): 1,
    ("queries/llm_pack.py", "fv_q"): 1,
    ("queries/llm_pack.py", "tot"): 1,
    ("queries/llm_quality.py", "boiler"): 1,
    ("queries/llm_quality.py", "freq"): 1,
    ("queries/llm_quality.py", "thr"): 1,
    ("queries/llm_text.py", "n"): 1,
    ("queries/llm_text.py", "top_profile"): 1,
    ("queries/profiling.py", "live"): 1,
    ("queries/profiling.py", "stats"): 1,
    ("queries/retrieval.py", "dfs"): 2,
    ("queries/retrieval.py", "q"): 1,
    ("queries/retrieval.py", "stats"): 2,
    ("queries/selection.py", "_mh_bands(evald"): 1,
    ("queries/selection.py", "enc"): 1,
    ("queries/selection.py", "uni"): 1,
    ("queries/selection.py", 'uni.select(F.col("token"'): 2,
    ("queries/selection.py", "vocab"): 1,
    ("queries/sketches.py", "probe"): 1,
    ("queries/sketches.py", "truth"): 1,
    ("queries/tpch_like.py", "n"): 3,
    ("queries/tpch_like.py", "n1"): 2,
    ("queries/tpch_like.py", "n2"): 2,
    ("queries/tpch_like.py", "r"): 2,
    ("queries/tpch_like.py", "thr"): 1,
}


def test_every_broadcast_site_is_reviewed():
    """Auto-discovering forced-broadcast gate (VERDICT r12 item 6): the
    plan-based check below pins a FIXED list of queries; this source
    scan catches any NEW broadcast() call site anywhere in non-test
    code, so an r13+ addition can't silently reintroduce a hint on an
    SF-scaled side. Fails with the offending (file, arg) until the
    site is reviewed and frozen into _REVIEWED_BROADCAST_SITES."""
    import collections
    import pathlib
    import re

    import glue_etl_pyspark_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    pat = re.compile(r"\bbroadcast\(([^\n,)]*)")
    got: collections.Counter = collections.Counter()
    for p in sorted(root.rglob("*.py")):
        for line in p.read_text().splitlines():
            code = line.split("#", 1)[0]
            for m in pat.finditer(code):
                got[(str(p.relative_to(root)), m.group(1).strip())] += 1
    new = {k: v for k, v in got.items() if v > _REVIEWED_BROADCAST_SITES.get(k, 0)}
    gone = {k: v for k, v in _REVIEWED_BROADCAST_SITES.items() if got.get(k, 0) < v}
    assert not new, (
        f"unreviewed broadcast() sites {sorted(new)} — review each against "
        "the de-hint rule (must be a dim/constant/query-bounded frame at "
        "1000x data) and add to _REVIEWED_BROADCAST_SITES"
    )
    assert not gone, f"stale allowlist entries (site removed): {sorted(gone)}"


def test_sf_scaled_joins_have_no_forced_broadcast(spark, sf_dir):
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unhinted = []
        for name in _SF_SCALED_JOIN_QUERIES:
            ops = operator_counts(_df(spark, sf_dir, name))
            n_shuffle = sum(
                v
                for k, v in ops.items()
                if "SortMergeJoin" in k or "ShuffledHashJoin" in k
            )
            if n_shuffle >= 1:
                unhinted.append(name)
        assert unhinted == _SF_SCALED_JOIN_QUERIES, (
            "forced broadcast() hint survives threshold=-1 (OOM-class at "
            f"100 TB) in: {sorted(set(_SF_SCALED_JOIN_QUERIES) - set(unhinted))}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_winnow_fingerprints_single_shuffle_and_pruned(spark, sf_dir):
    """The whole winnowing selection (char explode -> lead-window gram
    build -> hash -> min-window -> distinct -> per-doc agg) must ride
    ONE doc_id exchange — both window specs and both aggregations
    share the partitioning — and the scan must read only
    (doc_id, text)."""
    df = _df(spark, sf_dir, "text_winnow_fingerprints")
    ops = operator_counts(df)
    n_ex = sum(v for k, v in ops.items() if k == "Exchange")
    assert n_ex == 1, f"expected exactly 1 exchange, got {n_ex}: {ops}"
    [schema] = read_schemas(df)
    assert "text" in schema and "lang" not in schema and "source" not in schema


def test_lateral_join_api_decorrelates_to_window_group_limit(spark, sf_dir):
    """join_lateral_api's correlated LIMIT-per-key subquery must
    decorrelate to WindowGroupLimit + an equi join — never a nested
    loop (the plan that survives 100x; docstring claim, pinned)."""
    plan = explain_str(_df(spark, sf_dir, "join_lateral_api"))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_subquery_api_plans_semi_join_and_single_scalar(spark, sf_dir):
    """filter_subquery_api: the DataFrame EXISTS must plan a (left)
    semi join, and the uncorrelated scalar subquery must appear as a
    one-row subquery/aggregate — not a per-row join blowup."""
    plan = explain_str(_df(spark, sf_dir, "filter_subquery_api"))
    assert "Semi" in plan, plan[:800]
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
