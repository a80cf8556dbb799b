"""ETL patterns the reference's job family lives on: bucketed-table
co-located joins, unpivot, and CDC upsert / SCD2 emulation (Glue jobs
do these against the catalog; here against the local warehouse)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import MSUM_SQL, msum
from ..io import load_table
from ..registry import query

BUCKETED_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 400000
"""


@query("bucketed_join", oracle=BUCKETED_ORACLE, category="source-sink")
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables (bucketBy + saveAsTable): both sides pre-hashed
    on the join key into the same bucket count, so the join needs NO
    exchange on either side (verified in tests/test_plans.py). At
    100 TB this is how repeated fact-dim joins amortize their shuffle
    to zero — the catalog analog of Glue's partitioned tables."""
    import shutil
    from urllib.parse import urlparse

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("bkt_orders", "bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # the default in-memory catalog forgets tables between sessions
        # but leaves the managed location on disk; clear it too
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (orders.write.mode("overwrite").bucketBy(8, "o_custkey")
     .sortBy("o_custkey").saveAsTable("bkt_orders"))
    (customer.write.mode("overwrite").bucketBy(8, "c_custkey")
     .sortBy("c_custkey").saveAsTable("bkt_customer"))
    o = spark.table("bkt_orders").filter(F.col("o_totalprice") > 400000)
    c = spark.table("bkt_customer")
    # merge hint: a broadcast join would ignore bucketing entirely;
    # sort-merge on co-bucketed tables is the zero-exchange path this
    # query exists to demonstrate
    return o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_totalprice", "c_mktsegment"
    )


UNPIVOT_ORACLE = """
SELECT l_returnflag, metric, value FROM (
  SELECT l_returnflag,
    SUM(l_quantity) AS qty,
    SUM(l_extendedprice) AS price,
    SUM(l_discount) AS discount
  FROM lineitem GROUP BY l_returnflag
) UNPIVOT (value FOR metric IN (qty, price, discount))
"""


@query("unpivot_stack", oracle=UNPIVOT_ORACLE, category="agg")
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via stack() — the inverse of pivot."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        F.sum("l_extendedprice").alias("price"),
        F.sum("l_discount").alias("discount"),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(3, 'qty', qty, 'price', price, 'discount', discount) AS (metric, value)",
    )


UPSERT_ORACLE = """
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
         'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT 9000000 + c_custkey, c_name, c_nationkey, c_acctbal, 'INSERTED'
  FROM customer WHERE c_custkey < 5
)
SELECT * FROM updates
UNION ALL
SELECT c.* FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
"""


@query("cdc_upsert_merge", oracle=UPSERT_ORACLE, category="source-sink")
def cdc_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert (MERGE INTO emulation without Delta): target rows
    whose key appears in the updates frame are replaced (anti-join),
    new keys are appended (union) — the incremental-load shape of
    every Glue job that maintains a mirror table. One shuffle on the
    key; updates side broadcastable when small."""
    customer = load_table(spark, sf_dir, "customer")
    updates = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    ).unionByName(
        customer.filter(F.col("c_custkey") < 5)
        .withColumn("c_custkey", F.col("c_custkey") + 9000000)
        .withColumn("c_mktsegment", F.lit("INSERTED"))
    )
    untouched = customer.join(updates.select("c_custkey"), "c_custkey", "anti")
    return updates.unionByName(untouched)


_Z_BITS = 10


def _z_spark(x: str, y: str, bits: int = _Z_BITS) -> str:
    """Spark-SQL bit-interleave expression (shiftleft/shiftright)."""
    terms = [f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})" for i in range(bits)]
    terms += [f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})" for i in range(bits)]
    return " + ".join(terms)


def _z_duck(x: str, y: str, bits: int = _Z_BITS) -> str:
    """Identical interleave in DuckDB operator syntax."""
    terms = [f"((({x} >> {i}) & 1) << {2 * i})" for i in range(bits)]
    terms += [f"((({y} >> {i}) & 1) << {2 * i + 1})" for i in range(bits)]
    return " + ".join(terms)


ZORDER_ORACLE = f"""
WITH keyed AS (
  SELECT o_orderkey,
    CAST(o_custkey % 1024 AS BIGINT) AS zx,
    CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024
         AS BIGINT) AS zy
  FROM orders
)
SELECT o_orderkey, zx, zy,
  CAST({_z_duck("zx", "zy")} AS BIGINT) AS zval
FROM keyed
"""


@query("zorder_layout", oracle=ZORDER_ORACLE, category="source-sink")
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key: interleave the low 10 bits of the
    customer and order-date dimensions so range-partitioning on the
    single zval column co-locates rows that are close in BOTH
    dimensions — parquet min/max stats then prune multi-dimensional
    predicates without a second sort column (the Delta OPTIMIZE
    ZORDER BY recipe, done with plain Spark). The interleave is pure
    JVM bit arithmetic generated from one term list in both dialects;
    repartitionByRange(zval) is the write-side clustering step (plan
    pin: RangePartitioning; locality measured in tests/test_plans.py).
    """
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.selectExpr(
        "o_orderkey",
        "CAST(o_custkey % 1024 AS BIGINT) AS zx",
        "CAST(datediff(o_orderdate, DATE '1992-01-01') % 1024 AS BIGINT) AS zy",
    )
    z = keyed.selectExpr(
        "o_orderkey", "zx", "zy",
        f"CAST({_z_spark('zx', 'zy')} AS BIGINT) AS zval",
    )
    return z.repartitionByRange(32, F.col("zval"))


OBSERVE_ORACLE = f"""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {MSUM_SQL.format(expr="o_totalprice")} AS sum_price
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@query("observe_metrics", oracle=OBSERVE_ORACLE, category="source-sink")
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe(): accumulator-style job metrics (rows seen, rows
    kept, mass total) collected DURING the action with zero extra
    passes — the Glue job-metrics/DQ-listener analog. The observation
    rides the returned plan as a CollectMetrics node; the query result
    itself is a plain oracled aggregate. Metric retrieval is asserted
    in tests/test_plans.py (Observation.get after the action)."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("observe_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias(
            "rows_open"
        ),
    )
    out = (
        observed.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            msum(F.col("o_totalprice")).alias("sum_price"),
        )
    )
    # stash the Observation so a test (or caller) can read the metrics
    # after the driver's collect; harmless for the driver itself
    out._spark_graft_observation = obs  # type: ignore[attr-defined]
    return out


SALTED_ORACLE = f"""
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 0.2), ('purchase', 5.0),
         ('signup', 2.0), ('error', 0.0)
)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  {MSUM_SQL.format(expr="e.value * CAST(d.weight AS DOUBLE)")}
    AS weighted_value
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type
"""


@query("join_salted_skew", oracle=SALTED_ORACLE, category="join")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted dimension join (SURVEY.md §4.3): the fact side gets
    a deterministic salt from stable row content, the dimension is
    exploded once per salt bucket, and the join keys on (key, salt) —
    the hot key's rows spread over `buckets` shuffle partitions
    instead of one. Salting MUST be semantically invisible, which is
    exactly what the oracle checks: the result hash-matches a plain
    unsalted join + aggregate. event_type is the low-cardinality hot
    key; weights are an inline dimension (VALUES on both engines)."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.2), ("purchase", 5.0),
         ("signup", 2.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    j = salted_join(ev, dim, on="event_type", salt_cols=["event_id"], buckets=8)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        msum(F.col("value") * F.col("weight")).alias("weighted_value"),
    )


# --- incremental aggregate maintenance (materialized-view merge) ------

INCR_AGG_ORACLE = """
SELECT event_type, CAST(ts AS DATE) AS day,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_cents,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


@query("agg_incremental_merge", oracle=INCR_AGG_ORACLE, category="etl-pattern")
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the algebraic-merge pattern
    behind every materialized view: the historical state (events before
    the split date, pre-aggregated exactly as a nightly job would have
    left it) MERGES with the new batch's partials instead of
    recomputing from raw history. COUNT and the integer-cents SUM
    merge by addition; COUNT(DISTINCT user_id) is deliberately NOT
    merged from counts (it can't be) — the state for it is the
    per-(key, user) presence grain, the standard exact-distinct MV
    layout (an HLL register table — agg_hll_grouped — is the sketch
    alternative). The oracle is the recompute-from-scratch answer, so
    the merge's correctness IS the check.

    Scale: the nightly merge touches |new batch| + |state| rows, never
    raw history; both sides combine map-side on (type, day) and the
    distinct grain shuffles once on (type, day, user)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    split = F.lit("2024-01-16").cast("date")  # mid-fixture: both sides non-empty
    key = [F.col("event_type"), F.to_date("ts").alias("day")]

    def additive(df: DataFrame) -> DataFrame:
        return df.groupBy(*key).agg(
            F.count("*").alias("n_events"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
        )

    hist, new = ev.filter(F.to_date("ts") < split), ev.filter(
        F.to_date("ts") >= split
    )
    merged = (
        additive(hist)
        .unionByName(additive(new))
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        )
    )
    # exact-distinct state: (key, user) presence rows merge by set union
    presence = (
        ev.select(*key, "user_id")
        .distinct()
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n_users"))
    )
    return merged.join(presence, ["event_type", "day"])


# ---------------------------------------------------------------------------
# At-least-once ingest dedup (replayed-delivery compaction)
# ---------------------------------------------------------------------------

INGEST_DEDUP_ORACLE = """
WITH feed AS (
  SELECT event_id, event_type, 1 AS attempt FROM events
  UNION ALL
  SELECT event_id, event_type, 2 AS attempt FROM events WHERE event_id % 3 = 0
), ranked AS (
  SELECT event_id, event_type, attempt,
    row_number() OVER (PARTITION BY event_id ORDER BY attempt) AS rn
  FROM feed
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_deduped,
  CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped_zero,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM feed f2 WHERE f2.event_type = ranked.event_type)
    AS n_raw_feed
FROM ranked WHERE rn = 1
GROUP BY event_type
"""


@query("ingest_dedup_replay", oracle=INGEST_DEDUP_ORACLE, category="etl-pattern")
def ingest_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingestion compaction: a feed with replayed
    deliveries (every third event redelivered as attempt 2) deduped
    to exactly-once by keeping the first attempt per event_id — the
    batch half of the exactly-once story whose streaming half is
    `stream_dedup` (dropDuplicatesWithinWatermark). One event_id
    window with the attempt ordering; the raw-feed count rides along
    so the op reports its own dedup rate. At 100 TB the window
    becomes the same keyed shuffle `dedup_exact` uses — state is one
    row per key either way."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    feed = e.withColumn("attempt", F.lit(1)).unionAll(
        e.filter("event_id % 3 = 0").withColumn("attempt", F.lit(2))
    )
    w = Window.partitionBy("event_id").orderBy("attempt")
    ranked = feed.withColumn("rn", F.row_number().over(w))
    raw = feed.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_raw_feed"))
    kept = (
        ranked.filter("rn = 1")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_deduped"),
            F.lit(0).cast("bigint").alias("n_dropped_zero"),
        )
    )
    return kept.join(raw, "event_type").select(
        "event_type", "n_deduped", "n_dropped_zero", "n_raw_feed"
    )


# --- bitmap exact-distinct (mergeable partials) -----------------------

BITMAP_DISTINCT_ORACLE = """
SELECT event_type,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@query(
    "agg_bitmap_distinct", oracle=BITMAP_DISTINCT_ORACLE, category="etl-pattern"
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5+
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    / bitmap_or_agg / bitmap_count): daily per-(type, bucket) bitmap
    PARTIALS are OR-merged across days, then popcounted and summed
    over buckets. Unlike COUNT(DISTINCT), the partials are mergeable
    state — the materialized-view / incremental-rollup layout that
    never re-scans history (agg_incremental_merge keeps the raw
    presence grain; HLL is the approximate cousin) — and unlike HLL
    they stay EXACT: the oracle is plain COUNT(DISTINCT). Each bucket
    covers 32768 ids, so state is |id range|/8 bytes per group worst
    case, shuffled as fixed-width binary."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"),
        F.count(F.lit(1)).alias("pc"),
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm"),
        F.sum("pc").alias("pc"),
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_users"),
        F.sum("pc").cast("bigint").alias("n_events"),
    )
