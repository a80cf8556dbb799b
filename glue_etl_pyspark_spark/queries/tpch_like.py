"""TPC-H-adapted complex queries: multi-way join + agg + top-k (Q3),
correlated scalar subquery (Q17), and quantified-subquery combo
(Q21-ish). These exercise Catalyst's subquery decorrelation
(SURVEY.md §4.2) — the rewrites that turn a per-row subquery into a
join-aggregate, without which these shapes are O(n²) at scale."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.money import MSUM_SQL, msum
from ..io import load_table, register_views
from ..registry import query

Q3_ORACLE = f"""
SELECT l.l_orderkey,
  {MSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
  o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-03-15'
  AND l.l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("tpch_q3_shipping_priority", oracle=Q3_ORACLE, category="tpch")
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers → orders → lineitem,
    revenue per order, global top-10. Orders/customer are SF-scaled so
    they carry no broadcast hint (AQE size-converts at bench scale,
    shuffle-joins at 100 TB); the sort compiles to
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q17_ORACLE = f"""
SELECT {MSUM_SQL.format(expr="l.l_extendedprice")} / 7.0 AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
"""


@query("tpch_q17_small_qty", oracle=Q17_ORACLE, category="tpch")
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    through the SQL entry point — Catalyst decorrelates it into an
    aggregate + join; the naive reading would rescan lineitem per row."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        f"""
        SELECT {MSUM_SQL.format(expr="l.l_extendedprice")} / 7.0 AS avg_yearly
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#3'
          AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        """
    )


Q21_ORACLE = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s.s_name
"""


@query("tpch_q21_waiting_supplier", oracle=Q21_ORACLE, category="tpch")
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated subqueries
    (multi-supplier orders where this supplier shipped last) — the
    heaviest decorrelation pattern; planned as semi/anti joins."""
    register_views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        SELECT s.s_name, COUNT(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s.s_name
        """
    )


Q6_ORACLE = f"""
SELECT {MSUM_SQL.format(expr="l_extendedprice * l_discount")} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", oracle=Q6_ORACLE, category="tpch")
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + single aggregate — every predicate
    pushes to the scan; the canonical scan-bound query."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(msum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


Q12_ORACLE = """
SELECT o.o_orderpriority,
  CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS final_count,
  CAST(SUM(CASE WHEN o.o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS other_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY o.o_orderpriority
"""


@query("tpch_q12_priority_counts", oracle=Q12_ORACLE, category="tpch")
def tpch_q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional aggregation (CASE inside
    SUM — the map-side-combinable alternative to two filtered joins)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("final_count"),
            F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)).alias("other_count"),
        )
    )


Q14_ORACLE = f"""
SELECT 100.0 * {MSUM_SQL.format(expr="CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {MSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
"""


@query("tpch_q14_promo_effect", oracle=Q14_ORACLE, category="tpch")
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: ratio of conditional aggregates over the part join
    (part is SF-scaled — no hint; AQE picks the strategy by size)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            (
                100.0
                * msum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / msum(rev)
            ).alias("promo_revenue_pct")
        )
    )


Q4_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", oracle=Q4_ORACLE, category="tpch")
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery per order → planned as a
    left-semi join after decorrelation."""
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP_NTZ '1996-07-01'
          AND o_orderdate < TIMESTAMP_NTZ '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        GROUP BY o_orderpriority
        """
    )


Q22_ORACLE = f"""
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust, {MSUM_SQL.format(expr="c_acctbal")} AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


@query("tpch_q22_global_sales_opp", oracle=Q22_ORACLE, category="tpch")
def tpch_q22_global_sales_opp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery against a global average +
    NOT EXISTS anti join — above-average-balance customers with no
    urgent orders, per nation (no-orders-at-all is empty at sf0.01,
    which would make the check vacuous)."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        f"""
        SELECT c_nationkey, COUNT(*) AS numcust, {MSUM_SQL.format(expr="c_acctbal")} AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        """
    )


Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, {MSUM_SQL.format(expr="volume")} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
    l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_1')
     OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_0')
) GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_nation_volume", oracle=Q7_ORACLE, category="tpch")
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 5-way join tying each lineitem to its supplier
    nation AND (through orders→customer) its customer nation, revenue
    per directed nation pair per year. Only the two nation legs (25
    rows) are hinted; supplier/orders/customer are SF-scaled and left
    to AQE so the plan stays executable at 100 TB."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1") | (
        F.col("supp_nation") == "NATION_1"
    ) & (F.col("cust_nation") == "NATION_0")
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q13_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count
"""


@query("tpch_q13_order_distribution", oracle=Q13_ORACLE, category="tpch")
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with an extra join-condition filter
    (customers keep their zero row), then a distribution over the
    per-customer counts — two chained aggregations where the second's
    input is exactly #customers rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey, {MSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@query("tpch_q15_top_supplier", oracle=Q15_ORACLE, category="tpch")
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (view + scalar-max subquery) through the SQL
    entry point. Note Spark inlines the CTE — rev is computed in both
    the main branch and the MAX subquery (the revenue frame here is
    |supplier|-sized, so that's cheap); at 100 TB you'd materialize
    rev first, which is exactly what the DataFrame form of
    tpch_q11_important_parts demonstrates via exchange reuse."""
    register_views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(
        f"""
        WITH rev AS (
          SELECT l_suppkey, {MSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """
    )


Q16_ORACLE = """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS INTEGER) AS p_size,
  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_size IN (1, 5, 9, 14, 19, 23)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("tpch_q16_supplier_counts", oracle=Q16_ORACLE, category="tpch")
def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (planned as a null-aware anti
    join against the 6 negative-balance suppliers) + COUNT DISTINCT
    per part group."""
    register_views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type, p.p_size,
          COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#3' AND p.p_size IN (1, 5, 9, 14, 19, 23)
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        """
    )


Q18_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
  SUM(l.l_quantity) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@query("tpch_q18_large_orders", oracle=Q18_ORACLE, category="tpch")
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate (orders
    whose total quantity exceeds a threshold) planned as a semi join,
    then re-aggregation with the customer dim (unhinted SQL — the
    planner/AQE sizes the joins)."""
    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(
        """
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
          SUM(l.l_quantity) AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 250
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        """
    )


Q19_ORACLE = f"""
SELECT {MSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
"""


@query("tpch_q19_disjunctive", oracle=Q19_ORACLE, category="tpch")
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive bracket predicates spanning both
    join sides — Catalyst extracts the common join key and pushes the
    per-side conjuncts (brand/size to the part scan) while keeping the
    cross-side OR as a post-join residual."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bracket = (
        (F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    ) | (
        (F.col("p_brand") == "Brand#4") & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(bracket)
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q11_ORACLE = f"""
WITH val AS (
  SELECT l_partkey, {MSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value FROM val
WHERE part_value > (SELECT {MSUM_SQL.format(expr="part_value")} * 1.5 / COUNT(*) FROM val)
"""


@query("tpch_q11_important_parts", oracle=Q11_ORACLE, category="tpch")
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value vs a fraction of the GLOBAL
    total. Spark INLINES SQL CTEs, so the WITH form scans lineitem
    twice; building both consumers on the identical DataFrame
    aggregate subtree instead lets runtime exchange reuse kick in —
    the per-part shuffle is computed once and the 1-row threshold
    attaches as a broadcast (ReusedExchange pinned in
    tests/test_plans.py).

    Threshold is DATA-ADAPTIVE (1.5x the mean part value), not the
    spec's fixed fraction: TPC-H scales Q11's fraction by 1/SF, and a
    frozen 0.0007 selected 0 rows at sf0.1 — caught by the r10
    vacuous-pass guard in the r11 sf0.1 sweep. The mean-based form is
    non-empty at every fixture SF (2/29/252 rows at sf0.001/0.01/0.1)
    and stays selective as data grows. The global sum feeding the
    threshold goes through msum on BOTH engines so the cutoff is
    bit-identical regardless of partitioning (a plain double SUM of
    20k part values drifts ~1e-10 with tree shape — enough to flip a
    boundary part)."""
    li = load_table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_value")
    )
    thr = val.agg(
        (msum(F.col("part_value")) * F.lit(1.5) / F.count(F.lit(1))).alias("__thr")
    )
    return (
        val.join(broadcast(thr))
        .filter(F.col("part_value") > F.col("__thr"))
        .select("l_partkey", "part_value")
    )


LATERAL_ORACLE = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rk
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice,
    CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
  FROM orders WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t ON TRUE
WHERE c.c_custkey < 200
"""


@query("lateral_top_orders", oracle=LATERAL_ORACLE, category="tpch")
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table (SQL:2016 / Spark 3.2+): per
    customer, the 2 highest-value orders. Catalyst plans the lateral
    as a DomainJoin and rewrites it into a windowed join — the same
    WindowGroupLimit shape as topk_per_group, not a per-row re-scan
    of orders."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rk
        FROM customer c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice,
            row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey < 200
        """
    )


# The fixture has no partsupp table; Q2/Q9/Q20 derive one from lineitem
# (supplycost = min observed unit price, availqty = total shipped
# quantity per part+supplier). The derived frame keeps each original
# query's SHAPE — correlated min over a region-filtered chain (Q2),
# fact-to-partsupp profit join (Q9), aggregate-correlated IN (Q20) —
# which is what exercises the planner; only the base relation differs.
PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
    MIN(l_extendedprice / l_quantity) AS ps_supplycost,
    SUM(l_quantity) AS ps_availqty
  FROM lineitem GROUP BY l_partkey, l_suppkey
"""

Q2_ORACLE = f"""
WITH ps AS ({PS_SQL})
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type
FROM part p
JOIN ps ON p.p_partkey = ps.ps_partkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@query("tpch_q2_min_cost_supplier", oracle=Q2_ORACLE, category="tpch")
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-MIN subquery whose inner query
    repeats a 4-way join chain (part's cheapest EUROPE supplier).
    Catalyst decorrelates the MIN into an aggregate joined back on
    p_partkey — without decorrelation this re-runs the supplier chain
    per part. MIN over doubles picks an existing value (no accumulation
    order), so the comparison is cross-engine exact."""
    register_views(spark, sf_dir, "part", "supplier", "nation", "region", "lineitem")
    return spark.sql(Q2_ORACLE)


Q5_ORACLE = f"""
SELECT n.n_name,
  {MSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@query("tpch_q5_local_supplier_volume", oracle=Q5_ORACLE, category="tpch")
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join where the supplier join carries the
    extra same-nation equi-condition (customer and supplier co-located)
    — revenue per nation in one region-year. Only nation/region (fixed
    25/5 rows) are hinted; orders/customer/supplier scale with SF and
    are left to AQE — broadcast at bench scale, shuffle join when they
    outgrow the threshold at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q8_ORACLE = f"""
WITH all_sales AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
    l.l_extendedprice * (1 - l.l_discount) AS volume,
    n2.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
  floor(
    {MSUM_SQL.format(expr="CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
    / {MSUM_SQL.format(expr="volume")} * 1e6
  ) / 1e6 AS mkt_share
FROM all_sales
GROUP BY o_year
"""


@query("tpch_q8_market_share", oracle=Q8_ORACLE, category="tpch")
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-way join (nation twice: customer-side region
    filter, supplier-side share target) feeding a conditional-share
    aggregate — NATION_3's fraction of ECONOMY-part volume per year.
    Both sums are decimal-accumulated (order-independent) so the
    quotient is bit-identical cross-engine; the 6-dp floor scaling is
    belt-and-braces, never a half-even/half-up coin flip."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = load_table(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(broadcast(r), F.col("n1_region") == r["r_regionkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.floor(
                    msum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                    / msum(vol)
                    * 1e6
                )
                / 1e6
            ).alias("mkt_share")
        )
    )


Q9_ORACLE = f"""
WITH ps AS ({PS_SQL})
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
  {MSUM_SQL.format(expr="floor((l.l_extendedprice * (1 - l.l_discount) - ps.ps_supplycost * l.l_quantity) * 1e6) / 1e6")} AS sum_profit
FROM lineitem l
JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@query("tpch_q9_product_profit", oracle=Q9_ORACLE, category="tpch")
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: the fact table joins the (derived) partsupp on a
    COMPOSITE key (partkey, suppkey) plus three dims — profit per
    supplier nation per year for one part family. The ps frame scales
    with data (never broadcast; equi-join shuffles co-partition it with
    lineitem); per-row profit is pure double arithmetic (cross-engine
    exact), accumulation is ``msum``. The profit expression is
    truncated to 6 dp per row (``floor(x*1e6)/1e6``) before ``msum``:
    supplycost*qty reconstructs near-price values that land on .5e-6
    boundaries, and the truncation is part of the query's definition —
    dropping it would let msum's round-half-up step move sum_profit
    off the values every earlier external check recorded."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg((F.min(F.col("l_extendedprice") / F.col("l_quantity"))).alias("ps_supplycost"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.floor(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("ps_supplycost") * F.col("l_quantity")
            )
            * 1e6
        )
        / 1e6
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"]) & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(msum(profit).alias("sum_profit"))
    )


Q10_ORACLE = f"""
SELECT c.c_custkey, c.c_name,
  {MSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
  c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@query("tpch_q10_returned_items", oracle=Q10_ORACLE, category="tpch")
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer in one
    quarter, global top-20 (TakeOrderedAndProject; revenue ties broken
    by c_custkey). The returnflag filter pushes to the lineitem scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q20_ORACLE = f"""
WITH ps AS ({PS_SQL})
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND s.s_suppkey IN (
    SELECT ps_suppkey FROM ps
    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
      AND ps_availqty > 0.5 * (
        SELECT SUM(l.l_quantity) FROM lineitem l
        WHERE l.l_partkey = ps_partkey AND l.l_suppkey = ps_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
      )
  )
ORDER BY s.s_name
"""


@query("tpch_q20_promotion_stock", oracle=Q20_ORACLE, category="tpch")
def tpch_q20_promotion_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over a derived table whose WHERE holds BOTH
    a nested IN (part family) and an aggregate-correlated comparison
    (stock vs half the year's shipped quantity for that part+supplier)
    — two levels of decorrelation. Quantity sums are integer-valued
    doubles (exact well below 2^53), so the 0.5x comparison is
    cross-engine exact with no decimal detour."""
    register_views(
        spark, sf_dir, "supplier", "nation", "region", "part", "lineitem"
    )
    return spark.sql(Q20_ORACLE)
