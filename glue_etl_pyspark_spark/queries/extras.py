"""Coverage for the remaining SURVEY.md §2 inventory rows: extra
window analytics, sum(DISTINCT), GROUPING SETS, intersectAll/
exceptAll, map functions, date arithmetic, lexicon-join sentiment
scoring, and the Glue Map/Filter.apply record callbacks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import MSUM_SQL
from ..io import load_table, register_views
from ..operators.record_ops import glue_filter, glue_map
from ..registry import query

ANALYTIC2_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume,
  nth_value(o_totalprice, 2) OVER (PARTITION BY o_orderstatus
    ORDER BY o_totalprice DESC, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_highest
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
"""


@query("window_analytic_extra", oracle=ANALYTIC2_ORACLE, category="window")
def window_analytic_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / nth_value (§2.6 remainder)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_highest"),
    )


SUM_DISTINCT_ORACLE = """
SELECT l_returnflag,
  SUM(DISTINCT l_quantity) AS sum_uniq_qty,
  SUM(l_quantity) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_sum_distinct", oracle=SUM_DISTINCT_ORACLE, category="agg")
def agg_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(DISTINCT ...) next to the plain sum (§2.5 remainder)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum_distinct(F.col("l_quantity")).alias("sum_uniq_qty"),
        F.sum("l_quantity").alias("sum_qty"),
    )


GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", oracle=GROUPING_SETS_ORACLE, category="agg")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL entry point — a set
    rollup/cube can't express: (status), (priority), and grand total,
    but no (status, priority) pairs."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          grouping_id(o_orderstatus, o_orderpriority) AS gid,
          COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SETOPS_ALL_ORACLE = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("setops_intersect_all", oracle=SETOPS_ALL_ORACLE, category="setop")
def setops_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll: bag intersection preserves multiplicity
    (min of the two sides' counts per value)."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(op)


MAP_FUNCS_ORACLE = """
SELECT event_id,
  array_to_string([CAST(json_extract_string(props, '$.k') AS INTEGER)], ',')
    AS vals,
  array_to_string([CAST(json_extract_string(props, '$.k') AS INTEGER) * 2], ',')
    AS vals_x2,
  array_to_string(['k', 'extra'], ',') AS all_keys,
  CAST(json_extract_string(props, '$.k') AS INTEGER) + 1 AS k_from_entries
FROM events WHERE event_id < 1000
"""


@query("func_map_ops", oracle=MAP_FUNCS_ORACLE, category="function")
def func_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_values / transform_values / map_concat / map_from_entries
    (§2.9 map family remainder). Outputs are projected to arrays and
    scalars — MAP-typed result columns aren't comparable across
    engines, the map ops themselves are what's exercised. Arrays are
    serialized with array_join at the boundary: list cells crash
    order-insensitive pandas canonicalizers (unhashable type)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    m = F.from_json("props", "map<string,int>")
    merged = F.map_concat(m, F.create_map(F.lit("extra"), F.lit(0)))
    from_entries = F.map_from_entries(
        F.transform(F.map_entries(m), lambda e: F.struct(e["key"], e["value"] + 1))
    )

    def _joined(arr):  # array<int> -> 'a,b' string (atomic output column)
        return F.array_join(F.transform(arr, lambda v: v.cast("string")), ",")

    return ev.select(
        "event_id",
        _joined(F.map_values(m)).alias("vals"),
        _joined(F.map_values(F.transform_values(m, lambda _k, v: v * 2))).alias(
            "vals_x2"
        ),
        F.array_join(F.map_keys(merged), ",").alias("all_keys"),
        F.element_at(from_entries, "k").alias("k_from_entries"),
    )


DATE_ARITH_ORACLE = """
SELECT o_orderkey,
  make_date(CAST(year(o_orderdate) AS INTEGER), 7, 1) AS mid_year,
  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
  CAST(o_orderdate AS DATE) - 15 AS minus_15d,
  make_timestamp(epoch_us(o_orderdate)) AS ts_roundtrip
FROM orders
"""


@query("func_date_arith", oracle=DATE_ARITH_ORACLE, category="function")
def func_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_date / add_months / date_sub / epoch-microsecond
    round-trip (§2.9 date family remainder)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.make_date(F.year("o_orderdate"), F.lit(7), F.lit(1)).alias("mid_year"),
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus_3m"),
        F.date_sub(F.to_date("o_orderdate"), 15).alias("minus_15d"),
        F.timestamp_micros(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .cast("timestamp_ntz")
        .alias("ts_roundtrip"),
    )


_LEXICON = [
    ("fast", 2), ("small", 1), ("new", 1), ("hot", 1),
    ("slow", -2), ("big", -1), ("old", -1), ("error", -2),
]
_LEX_SQL = ", ".join(f"('{w}', {s})" for w, s in _LEXICON)

SENTIMENT_ORACLE = f"""
WITH lex(word, weight) AS (VALUES {_LEX_SQL}),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS word
  FROM documents
)
SELECT t.doc_id,
  CAST(SUM(l.weight) AS BIGINT) AS sentiment,
  CAST(COUNT(*) AS BIGINT) AS n_hits
FROM toks t JOIN lex l USING (word)
GROUP BY t.doc_id
"""


@query("text_sentiment_lexicon", oracle=SENTIMENT_ORACLE, category="llm-text")
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-join sentiment/keyword tagging (§2.12, EDBT'16 shape):
    exploded tokens ⋈ broadcast lexicon → per-doc weight sum. The
    lexicon is the canonical broadcast-join small side — at 100 TB the
    token stream never shuffles for it."""
    from ..functions.text import tokenize_ws

    d = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_LEXICON, "word string, weight int")
    toks = d.select("doc_id", F.explode(tokenize_ws("text")).alias("word"))
    return (
        toks.join(F.broadcast(lex), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("weight").cast("bigint").alias("sentiment"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )


GLUE_MAP_ORACLE = """
SELECT o_orderkey, CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS price_bucket,
  lower(o_orderpriority) AS priority_lc
FROM orders WHERE o_orderstatus = 'P'
"""


@query("glue_map_filter", oracle=GLUE_MAP_ORACLE, category="udf")
def glue_map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glue Map.apply + Filter.apply with real per-record Python
    callbacks (Arrow-batched under the hood); oracle = the SQL twin of
    the same logic."""
    o = load_table(spark, sf_dir, "orders")
    kept = glue_filter(o, lambda rec: rec["o_orderstatus"] == "P")
    return glue_map(
        kept,
        lambda rec: {
            "o_orderkey": rec["o_orderkey"],
            "price_bucket": int(rec["o_totalprice"] // 1000) * 1000,
            "priority_lc": rec["o_orderpriority"].lower(),
        },
        schema="o_orderkey bigint, price_bucket bigint, priority_lc string",
    )


STOPWORD_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS word
  FROM documents
),
filtered AS (
  SELECT doc_id, word FROM toks
  WHERE NOT list_contains(['a','an','and','are','as','at','be','by','for','from',
    'has','he','in','is','it','its','of','on','or','that','the','to','was',
    'were','will','with','this','these','those'], word)
)
, counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM filtered GROUP BY word
)
SELECT word, freq, rn FROM (
  SELECT word, freq,
    CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rn
  FROM counts
) WHERE rn <= 20
"""


@query("text_stopword_topterms", oracle=STOPWORD_ORACLE, category="llm-text")
def text_stopword_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal (array_except against a broadcast list) →
    corpus top-20 terms (§2.12 stopword-removal row)."""
    from ..functions.text import EN_STOPWORDS, tokenize_ws

    d = load_table(spark, sf_dir, "documents")
    stoplist = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    # NOT array_except: that is a set op and would collapse duplicate
    # words within a doc; filter keeps multiplicity
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(tokenize_ws("text"), lambda t: ~F.array_contains(stoplist, t))
        ).alias("word"),
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # top-k first (TakeOrderedAndProject — per-partition heaps), THEN
    # rank the 20 survivors; a global row_number over all counts would
    # single-partition the whole vocabulary
    top = counts.orderBy(F.col("freq").desc(), F.col("word")).limit(20)
    w = Window.orderBy(F.col("freq").desc(), F.col("word"))
    return top.select(
        "word", "freq", F.row_number().over(w).cast("bigint").alias("rn")
    )


@query("func_spark_only", oracle=None, category="function")
def func_spark_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functions with no DuckDB equivalent (initcap, months_between,
    format_string, bround, conv, xxhash64, crc32) — rows-only by
    necessity; unit-tested for spot values in tests/."""
    d = load_table(spark, sf_dir, "documents")
    o = load_table(spark, sf_dir, "orders").limit(100)
    return o.crossJoin(d.limit(1)).select(
        "o_orderkey",
        F.initcap(F.substring("text", 1, 20)).alias("head_title"),
        F.months_between(F.lit("1998-06-15").cast("timestamp_ntz"), F.col("o_orderdate")).alias("months_to_98h1"),
        F.format_string("order-%06d", "o_orderkey").alias("tag"),
        F.bround(F.col("o_totalprice"), -3).alias("price_k"),
        F.conv(F.lit("ff"), 16, 10).alias("conv_255"),
        F.xxhash64("o_orderpriority").alias("xx"),
        F.crc32(F.col("o_orderpriority").cast("binary")).alias("crc"),
    )


DECIMAL_ORACLE = """
SELECT l_returnflag,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue_exact,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_exact,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_decimal_exact", oracle=DECIMAL_ORACLE, category="agg")
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType arithmetic (§1.2): money math in exact decimals —
    no float accumulation error — cast to double only at the output
    boundary. Both engines compute identical exact decimals, so the
    doubles match bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price * (1 - disc)).cast("double").alias("revenue_exact"),
        F.sum(price).cast("double").alias("gross_exact"),
        F.count(F.lit(1)).alias("n"),
    )


SALTED_ORACLE = """
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, SUM(e.value) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("skew_salted_join", oracle=SALTED_ORACLE, category="join")
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (§4.3): events.user_id is the skewable key;
    the salted join spreads each hot key over 8 buckets (deterministic
    salt from event_id, dim side exploded x8). The oracle is the PLAIN
    join — salting must be semantically invisible."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, on="user_id", salt_cols=["event_id"], buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )


# The SAME recursive SQL text runs on both engines (Spark 4 gained
# WITH RECURSIVE; DuckDB always had it) — only integer division needs
# the portable floor spelling. The hierarchy is synthetic but the
# shape (walk-to-root with accumulators) is the org-chart/BOM query
# Glue users push to warehouses.
_RECURSIVE_SQL = """
WITH RECURSIVE walk(custkey, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 2047
  UNION ALL
  SELECT custkey, CAST(floor(anc / 2.0) AS BIGINT), depth + 1
  FROM walk WHERE anc > 1
)
SELECT custkey, CAST(MAX(depth) AS BIGINT) AS depth_to_root,
  CAST(COUNT(*) - 1 AS BIGINT) AS n_ancestors
FROM walk GROUP BY custkey
"""

RECURSIVE_ORACLE = _RECURSIVE_SQL


@query("sql_recursive_cte", oracle=RECURSIVE_ORACLE, category="relational")
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE, planned as UnionLoop):
    walk a synthetic binary-tree hierarchy (parent = custkey/2) from
    each of the first 2047 customers to the root, reporting depth and
    ancestor count. The oracle is the IDENTICAL SQL text in DuckDB —
    the first query here where both engines run the same recursive
    program. Iteration count is log2-bounded (11 levels), so the loop
    is shallow however wide the base table is — the safe recursion
    shape at scale (per-row walks that terminate fast, not unbounded
    graph closure; operators.components.cc_labels covers that case
    with explicit, certified rounds)."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(_RECURSIVE_SQL)


LISTAGG_ORACLE = """
SELECT o_orderstatus,
  string_agg(o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
  CAST(COUNT(*) AS BIGINT) AS n_distinct
FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
GROUP BY o_orderstatus
"""


@query("agg_listagg", oracle=LISTAGG_ORACLE, category="aggregation")
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 listagg / string_agg with WITHIN GROUP ordering — the
    ordered-concatenation aggregate (DuckDB spells it string_agg with
    an inline ORDER BY). Deterministic because the order-by key is the
    aggregated value itself, made unique by the pre-DISTINCT."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
          listagg(o_orderpriority, '|')
            WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
          COUNT(*) AS n_distinct
        FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        GROUP BY o_orderstatus
        """
    )


DATENAME_ORACLE = """
SELECT o_orderkey,
  substr(dayname(o_orderdate), 1, 3) AS dow_name,
  substr(monthname(o_orderdate), 1, 3) AS mon_name
FROM orders
"""


@query("func_datename", oracle=DATENAME_ORACLE, category="function")
def func_datename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 dayname/monthname (3-letter English names; DuckDB
    returns full names, so the oracle truncates to the shared
    prefix)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.dayname("o_orderdate").alias("dow_name"),
        F.monthname("o_orderdate").alias("mon_name"),
    )


_EWMA_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
seq AS (
  SELECT event_type, day, x,
    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
      AS BIGINT) AS rn
  FROM daily
),
ew(event_type, rn, day, x, prev_micro, ewma_micro) AS (
  SELECT event_type, rn, day, x,
    CAST(NULL AS BIGINT), x * 1000000
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_type, s.rn, s.day, s.x, e.ewma_micro,
    CAST(floor((3 * e.ewma_micro + s.x * 1000000) / 4.0) AS BIGINT)
  FROM ew e JOIN seq s
    ON s.event_type = e.event_type AND s.rn = e.rn + 1
)
SELECT event_type, day, x, ewma_micro,
  prev_micro IS NOT NULL AND 2 * x * 1000000 > 3 * prev_micro AS spike,
  prev_micro IS NOT NULL AND 2 * x * 1000000 < prev_micro AS drop_alert
FROM ew
"""

EWMA_ORACLE = _EWMA_SQL


@query("events_ewma_control", oracle=EWMA_ORACLE, category="analytics")
def events_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily event rates (alpha = 1/4): the
    smoothed baseline plus spike (x > 1.5x previous EWMA) and drop
    (x < 0.5x) alerts — the anomaly monitor that reacts faster than
    the seasonal baseline and smoother than raw thresholds. The
    recursion is genuinely sequential, so it runs as a WITH RECURSIVE
    program — the IDENTICAL SQL text on both engines (the
    sql_recursive_cte precedent). All state is integer micro-units;
    the alpha = 1/4 update divides by a power of two, so the double
    division is exact and floor-pinned.

    Scale: the corpus-sized work is the daily pre-aggregation;
    recursion depth = number of DAYS (bounded by the window, not the
    data volume), and each step joins on (event_type, rn) — types
    advance in parallel within one recursive step.

    The recursion itself runs ON THE DRIVER (the endorsed
    driver-collect + literal re-ship rework, r8): Spark does the one
    corpus-sized daily pre-aggregation, the (types x days) frame —
    CONSTANT-size, calendar-bounded, never data-scaled — collects,
    and Python replays the IDENTICAL update (floor((3*prev +
    x*1e6)/4.0): exact power-of-two double division below 2^53 micro
    — the same envelope the SQL has) before re-shipping the result as
    literal rows. Replaces ~30 recursive Spark jobs (~0.4 s/step
    scheduling constant: 13.4 s at sf0.01 under the driver sim, 16.2 s
    at 10x) with one job + O(days) driver arithmetic; the WITH
    RECURSIVE program remains the oracle AND the Spark-side twin
    (`_EWMA_SQL`), equality- and shuffle-width-stress-pinned in
    tests/test_operators.py."""
    import math
    from collections import defaultdict

    register_views(spark, sf_dir, "events")
    daily = spark.sql(
        "SELECT event_type, CAST(ts AS DATE) AS day, "
        "CAST(COUNT(*) AS BIGINT) AS x "
        "FROM events GROUP BY event_type, CAST(ts AS DATE)"
    ).collect()
    by_type: dict[str, list] = defaultdict(list)
    for r in daily:
        by_type[r["event_type"]].append((r["day"], r["x"]))
    out = []
    for et, lst in by_type.items():
        lst.sort()
        prev = None
        for day, x in lst:
            if prev is None:
                ew = x * 1_000_000
                out.append((et, day, x, ew, False, False))
            else:
                ew = math.floor((3 * prev + x * 1_000_000) / 4.0)
                out.append(
                    (
                        et,
                        day,
                        x,
                        ew,
                        2 * x * 1_000_000 > 3 * prev,
                        2 * x * 1_000_000 < prev,
                    )
                )
            prev = ew
    return spark.createDataFrame(
        out,
        "event_type string, day date, x bigint, ewma_micro bigint, "
        "spike boolean, drop_alert boolean",
    )


SALTED_AGG_ORACLE = f"""
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS event_cnt,
  {MSUM_SQL.format(expr="value")}
    AS value_sum
FROM events GROUP BY event_type
"""


@query("agg_salted_hotkey", oracle=SALTED_AGG_ORACLE, category="agg")
def agg_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted TWO-PHASE aggregation over a pathologically hot group key
    (event_type has ~5 values — at 100 TB a plain groupBy lands ~20 TB
    on 5 reducers): phase 1 aggregates on (event_type, salt=pmod(
    event_id, 32)) spreading each hot key over 32 reducers; phase 2
    merges the 5x32 partials. Result is EXACTLY the plain GROUP BY
    (the oracle): counts add, and money accumulates as floor-scaled
    integer micro-units in DECIMAL(38,0) (the msum discipline) so the
    two-phase split is associative with no float-order drift and no
    int64 overflow at any scale. Same playbook as skew_salted_join,
    applied to aggregation; AQE can split skewed shuffle READS but
    cannot split a single hot GROUP key — the salt can."""
    ev = load_table(spark, sf_dir, "events")
    micro = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("decimal(38,0)")
    partials = ev.withColumn(
        "__salt", F.pmod(F.col("event_id"), F.lit(32))
    ).groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum(micro).alias("pm"),
    )
    return partials.groupBy("event_type").agg(
        F.sum("pc").cast("bigint").alias("event_cnt"),
        (F.sum("pm").cast("double") / F.lit(1e6)).alias("value_sum"),
    )


TRANSPOSE_ORACLE = """
WITH s AS (
  SELECT o_orderstatus AS st,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
  FROM orders GROUP BY o_orderstatus
)
SELECT 'n_orders' AS key,
       CAST(MAX(CASE WHEN st = 'F' THEN n END) AS BIGINT) AS "F",
       CAST(MAX(CASE WHEN st = 'O' THEN n END) AS BIGINT) AS "O",
       CAST(MAX(CASE WHEN st = 'P' THEN n END) AS BIGINT) AS "P"
FROM s
UNION ALL
SELECT 'total_cents' AS key,
       CAST(MAX(CASE WHEN st = 'F' THEN m END) AS BIGINT) AS "F",
       CAST(MAX(CASE WHEN st = 'O' THEN m END) AS BIGINT) AS "O",
       CAST(MAX(CASE WHEN st = 'P' THEN m END) AS BIGINT) AS "P"
FROM s
"""


@query("relational_transpose", oracle=TRANSPOSE_ORACLE, category="relational")
def relational_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0): rows↔columns over a
    CONSTANT-cardinality aggregate — order-status metrics become
    columns named by the index-column values (TPC-H o_orderstatus
    domain is fixed {F,O,P} at every SF, so the output schema is
    stable). Money pre-aggregated to integer CENTS (floor-scale;
    CLAUDE.md money rule) so both metric rows share one exact BIGINT
    type — transpose requires a least-common type across the
    transposed columns, and mixing exact counts with drifting double
    sums would poison both. The per-status sum is CORPUS-scaled, so
    the accumulation is DECIMAL(38,0) (DuckDB's SUM(BIGINT) is
    HUGEINT — same discipline) with only the final cast back to
    BIGINT: cents keep that cast safe through ~5e10 rows/status
    (~100 TB), where micro-units would overflow at ~sf1000. Oracle =
    the manual CASE-pivot of the same aggregate. Scale shape: the
    aggregate reduces to |domain| rows before transpose, so the pivot
    itself is constant-size at any SF; transpose is for metric-sheet
    shaped frames only — never on a data-scaled axis (column count =
    row count)."""
    orders = load_table(spark, sf_dir, "orders")
    agg = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100))
                .cast("long")
                .cast("decimal(38,0)")
            )
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )
    return agg.transpose()
