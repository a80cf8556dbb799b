"""Aggregation queries (SURVEY.md §2.5): distinct aggs, stats,
collect, rollup/cube/grouping sets, pivot, having, quantiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import MSUM_SQL, msum
from ..io import load_table
from ..registry import query

DISTINCT_ORACLE = """
SELECT l_returnflag,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supp_cnt,
  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS part_cnt,
  CAST(COUNT(*) AS BIGINT) AS row_cnt
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_distinct", oracle=DISTINCT_ORACLE, category="agg")
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT ...) — planned as a two-phase expand+agg, still
    fully shuffle-partitioned (no driver-side dedup)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("supp_cnt"),
        F.countDistinct("l_partkey").alias("part_cnt"),
        F.count(F.lit(1)).alias("row_cnt"),
    )


STATS_ORACLE = """
SELECT l_returnflag,
  ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
  ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
  ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_price_qty,
  ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS covar_price_qty,
  ROUND(SKEWNESS(l_quantity), 4) AS skew_qty,
  ROUND(KURTOSIS(l_quantity), 4) AS kurt_qty
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_stats", oracle=STATS_ORACLE, category="agg")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; rounded before comparison per the
    float-parity policy (SURVEY.md §5.3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("covar_price_qty"),
        F.round(F.skewness("l_quantity"), 4).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 4).alias("kurt_qty"),
    )


COLLECT_ORACLE = """
SELECT o_orderstatus,
  array_to_string(list(DISTINCT o_orderpriority ORDER BY o_orderpriority), ',')
    AS priorities,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders GROUP BY o_orderstatus
"""


@query("agg_collect_set", oracle=COLLECT_ORACLE, category="agg")
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + sort_array — sorted for cross-engine determinism.

    The array is serialized with array_join at the query boundary:
    array-typed output columns crash order-insensitive pandas
    canonicalizers (unhashable list cells), so every oracled query
    projects atomic columns only (enforced by
    tests/test_registry.py::test_oracled_outputs_are_atomic).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("cnt"),
    )


ROLLUP_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
  CAST(COUNT(*) AS BIGINT) AS cnt,
  {MSUM_SQL.format(expr="o_totalprice")} AS sum_total
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


@query("agg_rollup", oracle=ROLLUP_ORACLE, category="agg")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — subtotal rows carry NULL keys."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        msum(F.col("o_totalprice")).alias("sum_total"),
    )


CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
  ROUND(AVG(o_totalprice), 4) AS avg_total,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


@query("agg_cube", oracle=CUBE_ORACLE, category="agg")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_total"),
        F.count(F.lit(1)).alias("cnt"),
    )


PIVOT_ORACLE = """
SELECT o_orderpriority,
  CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS cnt_f,
  CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS cnt_o,
  CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS cnt_p
FROM orders GROUP BY o_orderpriority
"""


@query("agg_pivot", oracle=PIVOT_ORACLE, category="agg")
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never leave the list
    implicit at scale — discovery is an extra distinct scan). Empty
    cells coalesced to 0 to match SQL FILTER counts."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("cnt_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("cnt_p"),
    )


QUANTILES_ORACLE = """
SELECT l_returnflag,
  MEDIAN(l_quantity) AS median_qty,
  QUANTILE_CONT(l_quantity, 0.25) AS q1_qty,
  QUANTILE_CONT(l_quantity, 0.75) AS q3_qty,
  MIN(l_quantity) AS min_qty,
  MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_quantiles", oracle=QUANTILES_ORACLE, category="agg")
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/percentiles (the oracle-checkable twins of
    percentile_approx, which is the 100 TB path)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q1_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q3_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


HAVING_ORACLE = """
SELECT l_suppkey, SUM(l_quantity) AS sum_qty, CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY l_suppkey HAVING SUM(l_quantity) > 14000
"""


@query("agg_having", oracle=HAVING_ORACLE, category="agg")
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("sum_qty") > 14000)
    )


@query("agg_approx_distinct", oracle=None, category="agg")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) — the 100 TB path for cardinality;
    not hash-comparable across engines, so rows-only here with a
    tolerance test in tests/ against the exact count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


# --- exact quantiles by domain radix selection ------------------------

# Exact rank-k selection WITHOUT a sort: split the VALUE domain into
# up to 2^13 equal buckets per pass, count per (group, quantile,
# bucket) with one map-side-combinable aggregate, locate the target
# bucket by a driver-side prefix sum over the (domain-bounded,
# constant-size) histogram, recurse into it — the 100 TB exact-
# quantile shape (a global sort shuffles the corpus;
# percentile_approx is the approximate path; this is the exact path
# at O(log_8192 domain) counting passes over one thin persisted
# projection). r16 rework: this generalizes the former 2-way
# bisection — identical selection invariant, 8192-way split — so the
# 24-bit cents domain resolves in TWO passes instead of 26
# (interleaved A/B at sf0.1: median 10.72 -> 2.74 s, min 9.00 -> 2.72;
# at 100 TB that is 2 corpus scans, not 26).
# Pass count stays bounded by the DOMAIN bit width (26-round valve,
# never data volume, per the recursion rule); the per-pass search
# state and histogram are domain-bounded (<= groups x 2 x 8192 rows),
# so the prefix sum is the endorsed driver-literal re-ship (packing-
# bases discipline — deterministic at any shuffle width by
# construction, width-stressed 2/32/200 in tests/test_graph_ops.py).
#
# Rank semantics pinned to DuckDB's quantile_disc(q) = the ceil(q*n)-th
# order statistic, expressed in pure integers on the Spark side:
# k50 = (n+1) DIV 2, k90 = (9n+9) DIV 10 — verified identical for
# n = 1..199 against DuckDB before shipping.
_QB_ROUNDS = 26
_QB_BUCKETS = 8192

QB_ORACLE = """
WITH v AS (
  SELECT l_returnflag,
    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
)
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(quantile_disc(cents, 0.5) AS BIGINT) AS median_cents,
  CAST(quantile_disc(cents, 0.9) AS BIGINT) AS p90_cents
FROM v GROUP BY l_returnflag
"""


@query("quantile_bisect_exact", oracle=QB_ORACLE, category="agg")
def quantile_bisect_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median and p90 of l_extendedprice (cents) by
    domain radix selection: per pass, broadcast the constant-size
    (group x quantile) search state, count values per 8192-way domain
    bucket in one map-side-combined aggregate over the persisted thin
    (group, cents) projection, locate each target bucket with a
    driver-side prefix sum, recurse. agg_quantiles is the sort-backed
    twin; THIS plan's cost at 100 TB is ceil(log2(domain)/13)
    map-side-combined counting scans (2 for a 24-bit cents domain) —
    no corpus shuffle, no sort. Oracle = DuckDB quantile_disc (a
    different algorithm computing the same order statistic), so the
    check is pure value equality."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    vals = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .persist(StorageLevel.DISK_ONLY)
    )
    init = vals.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).collect()
    # search state, driver-side: {(group, which): (lo, hi, k)} with k =
    # the target rank WITHIN [lo, hi] (values below lo are already
    # accounted for as the search narrows). quantile_disc(q) is the
    # ceil(q*n)-th order statistic: k50 = (n+1) DIV 2, k90 = (9n+9) DIV 10.
    n_rows = {r["l_returnflag"]: int(r["n"]) for r in init}
    state = {}
    for r in init:
        g, n = r["l_returnflag"], int(r["n"])
        state[(g, 50)] = [int(r["lo"]), int(r["hi"]), (n + 1) // 2]
        state[(g, 90)] = [int(r["lo"]), int(r["hi"]), (9 * n + 9) // 10]

    rounds = 0
    while any(lo < hi for lo, hi, _k in state.values()):
        rounds += 1
        if rounds > _QB_ROUNDS:
            raise RuntimeError(
                "quantile_bisect_exact: radix selection exceeded the "
                f"{_QB_ROUNDS}-round domain valve — loud stop, not a "
                "truncation"
            )
        # per-state bucket width: ceil((hi - lo + 1) / _QB_BUCKETS)
        mids = spark.createDataFrame(
            [
                (g, which, lo, hi, (hi - lo) // _QB_BUCKETS + 1)
                for (g, which), (lo, hi, _k) in state.items()
                if lo < hi
            ],
            "l_returnflag string, which int, lo bigint, hi bigint, w bigint",
        )
        hist = (
            vals.join(F.broadcast(mids), "l_returnflag")
            .filter(F.col("cents").between(F.col("lo"), F.col("hi")))
            .groupBy(
                "l_returnflag",
                "which",
                F.expr("(cents - lo) DIV w").alias("b"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        # driver prefix sum per (group, which) over the domain-bounded
        # histogram (<= groups x 2 x 8192 nonzero buckets)
        per_key: dict[tuple, list] = {}
        for row in hist:
            per_key.setdefault(
                (row["l_returnflag"], row["which"]), []
            ).append((int(row["b"]), int(row["c"])))
        for key, buckets in per_key.items():
            lo, hi, k = state[key]
            w = (hi - lo) // _QB_BUCKETS + 1
            cum = 0
            for b, c in sorted(buckets):
                if cum + c >= k:
                    state[key] = [
                        lo + b * w,
                        min(hi, lo + (b + 1) * w - 1),
                        k - cum,
                    ]
                    break
                cum += c
            else:  # pragma: no cover - k <= group count by construction
                raise RuntimeError(
                    f"quantile_bisect_exact: rank {k} not reached in "
                    f"[{lo}, {hi}] for {key} — counts are inconsistent"
                )
    vals.unpersist()
    # answers are driver scalars now — re-ship as literal data (the
    # packing-bases discipline: reproducible at any shuffle width)
    return spark.createDataFrame(
        [
            (g, n_rows[g], state[(g, 50)][0], state[(g, 90)][0])
            for g in sorted(n_rows)
        ],
        "l_returnflag string, n_rows bigint, median_cents bigint, p90_cents bigint",
    )
