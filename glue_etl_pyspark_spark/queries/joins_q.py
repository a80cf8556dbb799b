"""Join queries (SURVEY.md §2.4): every join type, plus the as-of and
range time-joins built from scale-safe plans."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.money import MSUM_SQL, msum
from ..io import load_table
from ..operators import asof_join, glue_join, range_join
from ..registry import query

# ---------------------------------------------------------------------------

INNER_ORACLE = """
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS order_cnt, SUM(o.o_totalprice) AS sum_total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("join_inner_equi", oracle=INNER_ORACLE, category="join")
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (Glue Join.apply). No explicit broadcast hint:
    customer scales with SF (150k x SF rows), so the plan must be
    allowed to flip to shuffle join at 100 TB; AQE's runtime
    size-based conversion still picks broadcast at bench scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        glue_join(orders, customer, keys1=["o_custkey"], keys2=["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("order_cnt"), F.sum("o_totalprice").alias("sum_total"))
    )


SEMI_ORACLE = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


@query("join_left_semi", oracle=SEMI_ORACLE, category="join")
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: existence filter, emits left columns only."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return glue_join(
        customer.select("c_custkey", "c_mktsegment"), urgent,
        keys1=["c_custkey"], keys2=["o_custkey"], how="semi",
    )


ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


@query("join_left_anti", oracle=ANTI_ORACLE, category="join")
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders (non-empty at
    every scale factor, unlike no-orders-at-all)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return glue_join(
        customer.select("c_custkey", "c_name"), urgent,
        keys1=["c_custkey"], keys2=["o_custkey"], how="anti",
    )


FULL_OUTER_ORACLE = """
SELECT
  COALESCE(s.nk, c.nk) AS nationkey,
  s.supp_cnt,
  c.cust_cnt
FROM
  (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS supp_cnt
   FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey) s
FULL OUTER JOIN
  (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS cust_cnt
   FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey) c
ON s.nk = c.nk
"""


@query("join_full_outer", oracle=FULL_OUTER_ORACLE, category="join")
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two filtered per-nation aggregates; the
    filters make the key sets disjoint enough to null-extend both ways."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    s = (
        supplier.filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("supp_cnt"))
    )
    c = (
        customer.filter(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
    )
    return s.join(c, s["s_nk"] == c["c_nk"], "full").select(
        F.coalesce(F.col("s_nk"), F.col("c_nk")).alias("nationkey"),
        "supp_cnt",
        "cust_cnt",
    )


RIGHT_OUTER_ORACLE = """
SELECT
  c.c_custkey,
  c.c_mktsegment,
  CAST(COALESCE(o.urgent_cnt, 0) AS BIGINT) AS urgent_cnt,
  (o.ok IS NOT NULL) AS has_urgent
FROM
  (SELECT o_custkey AS ok, CAST(COUNT(*) AS BIGINT) AS urgent_cnt
   FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) o
RIGHT JOIN customer c ON o.ok = c.c_custkey
"""


@query("join_right_outer", oracle=RIGHT_OUTER_ORACLE, category="join")
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: urgent-order counts per customer keep EVERY
    customer row; customers with no urgent orders null-extend from the
    left side (``has_urgent`` is the null-extension witness —
    COALESCE'd counts alone would be indistinguishable from an inner
    join + fill). Mirrors the green ``join_full_outer``/left-outer
    pair; Spark plans right outer as the same shuffled hash/sort-merge
    join with build-side swap, so the scale story is identical — no
    broadcast hint on the SF-scaled sides (r12 de-hint discipline).

    The count is COALESCE'd to 0 so the output column stays BIGINT on
    both engines (a nullable count renders as float64 NaN in pandas —
    the r4 dtype-hash trap)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("ok"))
        .agg(F.count(F.lit(1)).alias("urgent_cnt"))
    )
    j = glue_join(
        urgent,
        customer.select("c_custkey", "c_mktsegment"),
        keys1=["ok"],
        keys2=["c_custkey"],
        how="right",
    )
    return j.select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("urgent_cnt"), F.lit(0)).cast("bigint").alias("urgent_cnt"),
        F.col("ok").isNotNull().alias("has_urgent"),
    )


CROSS_ORACLE = """
SELECT r.r_name, s.o_orderstatus
FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""


@query("join_cross", oracle=CROSS_ORACLE, category="join")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny relations (the only sane cross
    join: both sides provably bounded)."""
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    statuses = orders.select("o_orderstatus").distinct()
    return region.select("r_name").crossJoin(statuses)


NON_EQUI_ORACLE = """
SELECT n1.n_name AS nation_a, n2.n_name AS nation_b, n1.n_regionkey AS regionkey
FROM nation n1 JOIN nation n2
  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
"""


@query("join_non_equi_pairs", oracle=NON_EQUI_ORACLE, category="join")
def join_non_equi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: same-region nation pairs via an equi key plus a
    `<` residual — planner gets a hash join with residual filter, not
    a nested loop."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    return n1.join(
        n2,
        (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
        & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
    ).select(
        F.col("n1.n_name").alias("nation_a"),
        F.col("n2.n_name").alias("nation_b"),
        F.col("n1.n_regionkey").alias("regionkey"),
    )


MULTIWAY_ORACLE = f"""
SELECT n.n_name, {MSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@query("join_multiway_revenue", oracle=MULTIWAY_ORACLE, category="join")
def join_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 5-way join. Only the fixed-cardinality dims
    (nation=25, region=5) carry explicit broadcast hints; orders and
    customer scale with SF, so their join strategy is left to AQE —
    broadcast at bench scale, shuffle join when they outgrow the
    threshold at 100 TB. That is the shape that survives a 100x
    fact-table scale-up."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    r = region.filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(customer, o["o_custkey"] == customer["c_custkey"])
        .join(broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(broadcast(r), nation["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
u AS (
  SELECT user_id, ts, 1 AS side, event_id, value,
         CAST(NULL AS TIMESTAMP) AS click_ts, CAST(NULL AS DOUBLE) AS click_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0 AS side, NULL, NULL, ts, click_value FROM clicks
),
f AS (
  SELECT user_id, ts, side, event_id, value,
    last_value(click_ts IGNORE NULLS) OVER w AS click_ts,
    last_value(click_value IGNORE NULLS) OVER w AS click_value
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value, click_ts, click_value
FROM f WHERE side = 1
"""


@query("join_asof_purchase_click", oracle=ASOF_ORACLE, category="join")
def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent click at
    or before it. Union+window plan — one shuffle on user_id, no
    quadratic candidate pairs. Right side pre-aggregated per (user,
    ts) so ties are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .withColumn("click_ts", F.col("ts"))
    )
    return asof_join(
        purchases,
        clicks.select("user_id", "ts", "click_ts", "click_value"),
        on="ts",
        by=["user_id"],
        value_cols=["click_ts", "click_value"],
    )


RANGE_ORACLE = """
WITH w AS (
  SELECT gs AS week_start, gs + INTERVAL 7 DAY AS week_end
  FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-28', INTERVAL 7 DAY) t(gs)
)
SELECT w.week_start, CAST(COUNT(*) AS BIGINT) AS event_cnt, SUM(e.value) AS sum_value
FROM events e JOIN w ON e.ts >= w.week_start AND e.ts < w.week_end
GROUP BY w.week_start
"""


@query("join_range_weekly", oracle=RANGE_ORACLE, category="join")
def join_range_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join via coarse-bucket equi-join prefilter (the
    scale path — candidate pairs stay near-linear instead of |L|x|R|)."""
    ev = load_table(spark, sf_dir, "events")
    weeks = spark.sql(
        """
        SELECT week_start, week_start + INTERVAL 7 DAYS AS week_end
        FROM (SELECT explode(sequence(
                 TIMESTAMP_NTZ '2024-01-01', TIMESTAMP_NTZ '2024-01-28',
                 INTERVAL 7 DAYS)) AS week_start)
        """
    )
    joined = range_join(
        ev, weeks, point="ts", start="week_start", end="week_end", bucket_seconds=7 * 86400
    )
    return joined.groupBy("week_start").agg(
        F.count(F.lit(1)).alias("event_cnt"), F.sum("value").alias("sum_value")
    )


PIT_JOIN_ORACLE = """
WITH feed AS (
  SELECT o_custkey AS custkey, o_orderdate AS eff_ts,
         o_orderpriority AS priority, o_orderkey AS change_id
  FROM orders
), ordered AS (
  SELECT custkey, eff_ts, priority, change_id,
    lag(priority) OVER w AS prev_priority
  FROM feed
  WINDOW w AS (PARTITION BY custkey ORDER BY eff_ts, change_id)
), dim AS (
  SELECT custkey, priority, eff_ts AS valid_from,
    lead(eff_ts) OVER (PARTITION BY custkey ORDER BY eff_ts, change_id)
      AS valid_to,
    CAST(row_number() OVER (PARTITION BY custkey ORDER BY eff_ts, change_id)
      AS BIGINT) AS version
  FROM ordered
  WHERE prev_priority IS NULL OR priority <> prev_priority
), facts AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate AS ship_ts,
         o.o_custkey AS custkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
)
SELECT f.l_orderkey, CAST(f.l_linenumber AS BIGINT) AS linenumber,
  f.ship_ts, f.custkey, d.priority AS priority_at_ship, d.version
FROM facts f JOIN dim d
  ON f.custkey = d.custkey
 AND d.valid_from <= f.ship_ts
 AND (d.valid_to IS NULL OR f.ship_ts < d.valid_to)
"""


@query("join_point_in_time", oracle=PIT_JOIN_ORACLE, category="join")
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal validity) join — the feature-store
    lookup that prevents label leakage: each returned lineitem is
    enriched with the customer-priority version that was valid AT its
    ship date, from the SCD2 interval table the scd2 query builds
    (collapse-to-change-points, [valid_from, valid_to) half-open).

    Scale design: the dimension side is interval rows per key
    (bounded per-key version counts), so the equi-join on custkey
    plus the range residual fans out by versions-per-key, never a
    theta product over facts x facts; both sides shuffle once on the
    join key and the interval filter runs inside the join. Half-open
    intervals make the match unique and deterministic — a fact on a
    version boundary belongs to exactly one version."""
    o = load_table(spark, sf_dir, "orders")
    feed = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("eff_ts"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").alias("change_id"),
    )
    w = Window.partitionBy("custkey").orderBy("eff_ts", "change_id")
    dim = (
        feed.withColumn("prev_priority", F.lag("priority").over(w))
        .filter(
            F.col("prev_priority").isNull()
            | (F.col("priority") != F.col("prev_priority"))
        )
        .select(
            "custkey",
            "priority",
            F.col("eff_ts").alias("valid_from"),
            F.lead("eff_ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("bigint").alias("version"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_linenumber", F.col("l_shipdate").alias("ship_ts"))
    facts = li.join(
        o.select("o_orderkey", F.col("o_custkey").alias("custkey")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("l_orderkey", "l_linenumber", "ship_ts", "custkey")
    joined = facts.join(
        dim.withColumnRenamed("custkey", "d_custkey"),
        (F.col("custkey") == F.col("d_custkey"))
        & (F.col("valid_from") <= F.col("ship_ts"))
        & (F.col("valid_to").isNull() | (F.col("ship_ts") < F.col("valid_to"))),
    )
    return joined.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("linenumber"),
        "ship_ts",
        "custkey",
        F.col("priority").alias("priority_at_ship"),
        "version",
    )


_ASOF_TOL_US = 1_800_000_000  # 30 minutes

ASOF_TOLERANCE_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), u AS (
  SELECT user_id, ts, 1 AS side, event_id, value,
         CAST(NULL AS TIMESTAMP) AS click_ts, CAST(NULL AS DOUBLE) AS click_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0 AS side, NULL, NULL, ts, click_value FROM clicks
), f AS (
  SELECT user_id, ts, side, event_id, value,
    last_value(click_ts IGNORE NULLS) OVER w AS click_ts,
    last_value(click_value IGNORE NULLS) OVER w AS click_value
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value,
  CASE WHEN click_ts IS NOT NULL
        AND epoch_us(ts) - epoch_us(click_ts) <= {_ASOF_TOL_US}
       THEN click_ts END AS click_ts,
  CASE WHEN click_ts IS NOT NULL
        AND epoch_us(ts) - epoch_us(click_ts) <= {_ASOF_TOL_US}
       THEN click_value END AS click_value,
  click_ts IS NOT NULL
    AND epoch_us(ts) - epoch_us(click_ts) <= {_ASOF_TOL_US} AS fresh
FROM f WHERE side = 1
"""


@query(
    "join_asof_tolerance", oracle=ASOF_TOLERANCE_ORACLE, category="join"
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (the feature-store
    variant: a feature older than the bound must NOT be served): same
    union+window machinery as join_asof_purchase_click, then matches
    older than 30 minutes are nulled out and flagged — a purchase
    with only a stale click behaves as unmatched. Staleness compares
    exact epoch MICROseconds (the bot-burst discipline). One shuffle
    on user_id; the tolerance is a row-local projection — the
    100 TB-safe as-of shape is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .withColumn("click_ts", F.col("ts"))
    )
    from ..operators.joins import asof_join

    matched = asof_join(
        purchases,
        clicks.select("user_id", "ts", "click_ts", "click_value"),
        on="ts",
        by=["user_id"],
        value_cols=["click_ts", "click_value"],
    )
    age_us = F.expr(
        "unix_micros(cast(ts AS timestamp))"
        " - unix_micros(cast(click_ts AS timestamp))"
    )
    fresh = F.col("click_ts").isNotNull() & (age_us <= _ASOF_TOL_US)
    return matched.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("click_ts")).alias("click_ts"),
        F.when(fresh, F.col("click_value")).alias("click_value"),
        fresh.alias("fresh"),
    )


INTERVAL_OVERLAP_ORACLE = """
WITH spans AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
    CAST(floor(epoch(MIN(ts))) AS BIGINT) AS ss,
    CAST(floor(epoch(MAX(ts))) AS BIGINT) AS se
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), inc AS (
  SELECT CAST(n_nationkey AS BIGINT) AS incident_id,
    DATE '2024-01-01' + CAST(n_nationkey % 28 AS INTEGER) AS day,
    CAST(floor(epoch(CAST(DATE '2024-01-01'
        + CAST(n_nationkey % 28 AS INTEGER) AS TIMESTAMP))) AS BIGINT)
      + ((n_nationkey * 7) % 20) * 3600 AS si
  FROM nation
), j AS (
  SELECT i.incident_id, i.day, s.user_id,
    least(s.se, i.si + 14400) - greatest(s.ss, i.si) AS osec
  FROM inc i JOIN spans s
    ON s.day = i.day AND s.ss <= i.si + 14400 AND i.si <= s.se
)
SELECT incident_id, day, CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(osec) AS BIGINT) AS overlap_sec
FROM j GROUP BY incident_id, day
"""


@query("join_interval_overlap", oracle=INTERVAL_OVERLAP_ORACLE, category="join")
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-x-INTERVAL overlap join (the range_join generalization:
    both sides are intervals, not point-in-window): per-user daily
    activity spans [min ts, max ts] joined against 25 deterministic
    4-hour incident windows (one per nation key, spread over the event
    month), reporting per incident how many users were active during
    it and the total overlap seconds — the blast-radius query every
    incident review starts with.

    Shape: the small interval side carries an equi-join day key, so
    the plan is a broadcast hash join on day with the overlap
    predicate as a residual filter — candidates are bounded by
    per-day span count, never |L|x|R|. All time math is integer epoch
    seconds (to_unix_timestamp on ntz == DuckDB floor(epoch()) under
    the UTC session — the events_rolling_hourly precedent); closed
    intervals, so the overlap length least(e)-greatest(s) is >= 0
    exactly when the join predicate holds. At 100 TB the span
    pre-aggregation is the corpus-sized pass (map-side combined);
    incident windows spanning midnight would explode to one row per
    covered day — same bounded fan-out as range_join's bucket
    prefilter."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.expr("to_unix_timestamp(MIN(ts))").alias("ss"),
        F.expr("to_unix_timestamp(MAX(ts))").alias("se"),
    )
    inc = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("incident_id"),
        F.expr("date_add(DATE '2024-01-01', CAST(n_nationkey % 28 AS INT))").alias(
            "day"
        ),
        (
            F.expr(
                "to_unix_timestamp(CAST(date_add(DATE '2024-01-01',"
                " CAST(n_nationkey % 28 AS INT)) AS TIMESTAMP_NTZ))"
            )
            + ((F.col("n_nationkey") * 7) % 20) * 3600
        ).alias("si"),
    )
    j = spans.join(
        broadcast(inc),
        on=[
            spans["day"] == inc["day"],
            spans["ss"] <= inc["si"] + 14400,
            inc["si"] <= spans["se"],
        ],
    ).select(
        "incident_id",
        inc["day"].alias("day"),
        (
            F.least(F.col("se"), F.col("si") + 14400)
            - F.greatest(F.col("ss"), F.col("si"))
        ).alias("osec"),
    )
    return j.groupBy("incident_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("osec").cast("bigint").alias("overlap_sec"),
    )


LATERAL_API_ORACLE = """
SELECT n_nationkey, n_name, s_suppkey, s_acctbal
FROM (
  SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_acctbal,
         row_number() OVER (
           PARTITION BY n.n_nationkey
           ORDER BY s.s_acctbal DESC, s.s_suppkey
         ) AS rk
  FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
) WHERE rk <= 2
"""


@query("join_lateral_api", oracle=LATERAL_API_ORACLE, category="join")
def join_lateral_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.lateralJoin`` (Spark 4.0) — the DataFrame-API twin
    of SQL LATERAL (lateral_top_orders): top-2 suppliers per nation,
    the correlated subquery referencing the outer row via
    ``F.col(...).outer()``. Catalyst rewrites correlated LIMIT-per-key
    to the same WindowGroupLimit shape as the window form, so this is
    API surface, not a new physical plan. Determinism: the inner
    ORDER BY ends in the unique s_suppkey (house top-k rule). Inner
    lateral semantics — supplier-less nations drop — matches the
    oracle's plain JOIN. Acctbal is projected verbatim (no
    arithmetic), so doubles compare exactly."""
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    return nation.select("n_nationkey", "n_name").lateralJoin(
        supplier.where(F.col("s_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .limit(2)
        .select("s_suppkey", "s_acctbal")
    )
