"""Core relational queries (SURVEY.md §2.1–2.7).

Flagship: ``q1_pricing_summary`` — scan → pushed filter → project →
partial/final hash aggregate → sort, the canonical full-table
aggregation. At 100 TB this is the shape that must stay map-side
partial-aggregated: groupBy on low-cardinality keys means the shuffle
carries only (num_partitions x num_groups) pre-aggregated rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import MSUM_SQL, msum
from ..io import load_table
from ..registry import query

Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
  {MSUM_SQL.format(expr="l_extendedprice")} AS sum_base_price,
  {MSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
  {MSUM_SQL.format(expr="l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
  AVG(l_quantity) AS avg_qty,
  AVG(l_extendedprice) AS avg_price,
  AVG(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=Q1_ORACLE, category="agg")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary over lineitem.

    Filter is pushed to the parquet scan; aggregation is a
    partial+final HashAggregate pair (verify with .explain). Money
    sums accumulate via ``msum`` (floor-scaled integer micro-units,
    order-invariant);
    quantity is integral, so a plain long sum is already exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("double").alias("sum_qty"),
            msum(F.col("l_extendedprice")).alias("sum_base_price"),
            msum(disc_price).alias("sum_disc_price"),
            msum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
