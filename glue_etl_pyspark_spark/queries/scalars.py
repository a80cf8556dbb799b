"""Scalar-function surface queries (SURVEY.md §2.9): string, date,
math, conditional, array, map/json, hash families. Implemented by
*using* the builtins in named queries — all JVM-side expressions
inside whole-stage codegen, no UDFs.

Cross-engine notes baked into the oracles: DuckDB ``log`` is log10
(Spark's one-arg ``log`` is ln → DuckDB ``ln``); DuckDB ``dayofweek``
is 0-based (Spark 1-based); DuckDB ``ceil(double)`` returns DOUBLE
(Spark returns BIGINT); DuckDB lacks ``initcap``/``months_between``
(left un-oracled rather than approximated)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import MSUM_SQL
from ..io import load_table, register_views
from ..registry import query
from ..session import pinned_confs

STRING_ORACLE = """
SELECT doc_id,
  upper(substring(text, 1, 12)) AS head_upper,
  lower(source) AS src_lower,
  CAST(length(text) AS BIGINT) AS text_len,
  concat_ws('|', lang, source) AS lang_src,
  replace(substring(text, 1, 20), ' ', '_') AS head_snake,
  lpad(lang, 5, '*') AS lang_pad,
  CAST(instr(text, 'query') AS BIGINT) AS query_pos,
  regexp_extract(text, '([a-z]+)', 1) AS first_word,
  regexp_replace(substring(text, 1, 30), '[aeiou]', '', 'g') AS head_novowel,
  trim(concat('  ', lang, '  ')) AS lang_trim
FROM documents
"""


@query("func_string", oracle=STRING_ORACLE, category="function")
def func_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family over documents.text."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.lower("source").alias("src_lower"),
        F.length("text").cast("bigint").alias("text_len"),
        F.concat_ws("|", "lang", "source").alias("lang_src"),
        F.replace(F.substring("text", 1, 20), F.lit(" "), F.lit("_")).alias("head_snake"),
        F.lpad("lang", 5, "*").alias("lang_pad"),
        F.instr("text", "query").cast("bigint").alias("query_pos"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.substring("text", 1, 30), "[aeiou]", "").alias("head_novowel"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("lang_trim"),
    )


DATE_ORACLE = """
SELECT o_orderkey,
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  CAST(month(o_orderdate) AS INTEGER) AS order_month,
  CAST(day(o_orderdate) AS INTEGER) AS order_day,
  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
  CAST(weekofyear(o_orderdate) AS INTEGER) AS order_week,
  CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  CAST(o_orderdate AS DATE) + 30 AS ship_by,
  CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since_95,
  CAST(epoch(o_orderdate) AS BIGINT) AS unix_ts,
  last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
"""


@query("func_date", oracle=DATE_ORACLE, category="function")
def func_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family over orders.o_orderdate (timestamp_ntz
    end-to-end for oracle parity)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.weekofyear("o_orderdate").alias("order_week"),
        F.quarter("o_orderdate").alias("order_quarter"),
        # date_trunc re-types ntz input as ltz; cast back so the result
        # is timezone-independent (oracle compares naive timestamps)
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("month_start"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("ship_by"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp_ntz")).alias(
            "days_since_95"
        ),
        F.unix_timestamp("o_orderdate").alias("unix_ts"),
        F.last_day(F.to_date("o_orderdate")).alias("month_end"),
    )


MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
  abs(l_discount - 0.05) AS abs_disc,
  floor(l_extendedprice / l_quantity * 100) / 100 AS unit_price,
  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
  round(sqrt(l_quantity), 6) AS qty_sqrt,
  round(exp(l_discount), 6) AS disc_exp,
  round(ln(l_extendedprice), 6) AS price_ln,
  round(log(l_extendedprice), 6) AS price_log10,
  round(pow(l_quantity, 2), 1) AS qty_sq,
  CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
  CAST(((l_orderkey % 7) + 7) % 7 AS BIGINT) AS key_mod7,
  greatest(l_quantity, 25.0) AS qty_hi,
  least(l_quantity, 25.0) AS qty_lo
FROM lineitem
"""


@query("func_math", oracle=MATH_ORACLE, category="function")
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc"),
        (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100) / 100).alias("unit_price"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 1).alias("qty_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.pmod("l_orderkey", F.lit(7)).cast("bigint").alias("key_mod7"),
        F.greatest("l_quantity", F.lit(25.0)).alias("qty_hi"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_lo"),
    )


COND_ORACLE = """
SELECT o_orderkey,
  CASE WHEN o_totalprice >= 300000 THEN 'large'
       WHEN o_totalprice >= 100000 THEN 'medium'
       ELSE 'small' END AS size_class,
  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS is_hot,
  NULLIF(o_orderstatus, o_orderstatus) AS always_null
FROM orders
"""


@query("func_conditional", oracle=COND_ORACLE, category="function")
def func_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise chains, coalesce, nullif."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "large")
        .when(F.col("o_totalprice") >= 100000, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("is_hot"),
        F.nullif("o_orderstatus", "o_orderstatus").alias("always_null"),
    )


ARRAY_ORACLE = """
SELECT vec_id, label,
  CAST(len(embedding) AS INTEGER) AS dim,
  round(CAST(embedding[1] AS DOUBLE), 6) AS first_comp,
  round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_comp,
  round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_comp,
  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm,
  CAST(len(list_filter(embedding, x -> x > 0.1)) AS INTEGER) AS n_big,
  len(list_filter(embedding, x -> x > 0.25)) > 0 AS has_huge
FROM embeddings
"""


@query("func_array", oracle=ARRAY_ORACLE, category="function")
def func_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over embeddings — size, indexing,
    transform/filter/exists/aggregate. The sq_norm shape (zip-free
    dot product) is the building block for §2.12 cosine similarity."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_comp"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_comp"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_comp"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda s, x: s + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("sq_norm"),
        F.size(F.filter("embedding", lambda x: x > 0.1)).alias("n_big"),
        F.exists("embedding", lambda x: x > 0.25).alias("has_huge"),
    )


MAP_JSON_ORACLE = """
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
  json_extract_string(props, '$.k') AS prop_k_str,
  array_to_string(list_sort(json_keys(props)), ',') AS prop_keys
FROM events
"""


@query("func_map_json", oracle=MAP_JSON_ORACLE, category="function")
def func_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parse (Glue Unbox semantics) + map functions over
    events.props. Key list is sorted + array_join-serialized at the
    boundary (driver canonicalizer requires atomic columns)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("props_map", F.from_json("props", "map<string,int>"))
    return parsed.select(
        "event_id",
        F.element_at("props_map", "k").alias("prop_k"),
        F.get_json_object("props", "$.k").alias("prop_k_str"),
        F.array_join(F.sort_array(F.map_keys("props_map")), ",").alias("prop_keys"),
    )


HASH_ORACLE = """
SELECT doc_id,
  md5(text) AS text_md5,
  sha256(text) AS text_sha256,
  substring(md5(text), 1, 8) AS md5_prefix
FROM documents
"""


@query("func_hash", oracle=HASH_ORACLE, category="function")
def func_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-stable hash functions (dedup keys for §2.12).
    xxhash64/crc32 exist Spark-side but aren't DuckDB-comparable, so
    the oracle sticks to md5/sha256."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.substring(F.md5("text"), 1, 8).alias("md5_prefix"),
    )


ARRAY_EXTRA_ORACLE = """
SELECT doc_id,
  CAST(list_position(toks, 'query') AS INTEGER) AS query_pos,
  array_to_string(toks[1:3] || ['<end>'], ',') AS head_plus,
  CAST(len(flatten([toks[1:2], toks[3:4]])) AS INTEGER) AS flat_len,
  array_to_string(list_transform(range(1, 4), i -> i * 10), ',') AS tens
FROM (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents)
WHERE len(toks) >= 4
"""


@query("func_array_extra", oracle=ARRAY_EXTRA_ORACLE, category="function")
def func_array_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining §2.9 array items: array_position, slice+concat,
    flatten, sequence-generated arrays. (arrays_zip appears via
    zip_with throughout functions/vectors.py.) Array results are
    array_join-serialized at the boundary (driver canonicalizer
    requires atomic columns)."""
    from ..functions.text import tokenize_ws

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokenize_ws("text").alias("toks")).filter(
        F.size("toks") >= 4
    )
    return base.select(
        "doc_id",
        F.array_position("toks", "query").cast("int").alias("query_pos"),
        F.array_join(
            F.concat(F.slice("toks", 1, 3), F.array(F.lit("<end>")))
        , ",").alias("head_plus"),
        F.size(
            F.flatten(F.array(F.slice("toks", 1, 2), F.slice("toks", 3, 2)))
        ).alias("flat_len"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: (i * 10).cast("string"))
        , ",").alias("tens"),
    )


VARIANT_ORACLE = """
SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
  CAST(json_extract_string(props, '$.k') AS DOUBLE) * 1.5 AS k_scaled,
  json_extract_string(props, '$.missing') AS missing_val,
  CAST(json_valid(props) AS BOOLEAN) AS is_valid
FROM events WHERE event_id < 500
"""


@query("func_variant", oracle=VARIANT_ORACLE, category="function")
def func_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type over semi-structured JSON: parse_json into
    a variant, typed path extraction with variant_get (missing paths
    yield NULL), try_parse_json for validity. k*1.5 is exact in double
    for small ints, so no rounding is needed."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        (F.variant_get(v, "$.k", "double") * 1.5).alias("k_scaled"),
        F.variant_get(v, "$.missing", "string").alias("missing_val"),
        F.try_parse_json("props").isNotNull().alias("is_valid"),
    )


COLLATION_ORACLE = """
WITH mixed AS (
  SELECT lang, source AS src FROM documents
  UNION ALL SELECT lang, upper(source) FROM documents
)
SELECT lang,
  CAST(COUNT(DISTINCT src) AS BIGINT) AS n_binary,
  CAST(COUNT(DISTINCT lower(src)) AS BIGINT) AS n_ci,
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM mixed GROUP BY lang
"""


@query("func_collation", oracle=COLLATION_ORACLE, category="function")
def func_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations + GROUP BY ALL through the SQL entry
    point: a UNICODE_CI-collated COUNT DISTINCT collapses case
    variants that the binary collation keeps apart (the oracle models
    CI as lower(); exact for this ASCII corpus). Collation-aware
    comparison happens JVM-side in the aggregate — no lower()
    materialization on the Spark side."""
    register_views(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH mixed AS (
          SELECT lang, source AS src FROM documents
          UNION ALL SELECT lang, upper(source) FROM documents
        )
        SELECT lang,
          COUNT(DISTINCT src) AS n_binary,
          COUNT(DISTINCT src COLLATE UNICODE_CI) AS n_ci,
          COUNT(*) AS n_rows
        FROM mixed GROUP BY ALL
        """
    )


REGEXP_ORACLE = """
SELECT doc_id,
  regexp_extract(text, '[a-z]{6,}') AS first_long,
  CAST(len(regexp_extract_all(text, '\\bthe\\b')) AS BIGINT) AS n_the,
  coalesce(array_to_string(regexp_extract_all(text, '[a-z]{6,}'), ','), '') AS long_words,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CASE WHEN regexp_matches(text, 'query.*join') THEN 1 ELSE 0 END AS has_qj,
  regexp_replace(substring(text, 1, 40), '[aeiou]+', '.', 'g') AS head_dotted
FROM documents
"""


@query("func_regexp", oracle=REGEXP_ORACLE, category="function")
def func_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp family over documents.text: extract / extract_all /
    count / rlike / global replace — all JVM-side codegen expressions.
    The extract_all array is serialized with array_join at the query
    boundary (driver canonicalizer needs atomic cells); DuckDB's
    regexp_replace needs the 'g' flag to match Spark's global-replace
    default."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "[a-z]{6,}", 0).alias("first_long"),
        F.regexp_count("text", F.lit(r"\bthe\b")).cast("bigint").alias("n_the"),
        F.array_join(F.regexp_extract_all("text", F.lit("[a-z]{6,}"), 0), ",").alias(
            "long_words"
        ),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.when(F.col("text").rlike("query.*join"), 1).otherwise(0).alias("has_qj"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]+", ".").alias(
            "head_dotted"
        ),
    )


BITWISE_ORACLE = """
SELECT l_orderkey, l_linenumber,
  l_orderkey & l_partkey AS k_and,
  l_orderkey | l_partkey AS k_or,
  xor(l_orderkey, l_partkey) AS k_xor,
  ~l_orderkey AS k_not,
  CAST(l_linenumber << 4 AS INT) AS ln_shl,
  l_orderkey >> 3 AS k_shr,
  CAST(bit_count(l_orderkey) AS INT) AS k_bits,
  (l_orderkey >> 2) & 1 AS k_bit2
FROM lineitem
"""


@query("func_bitwise", oracle=BITWISE_ORACLE, category="function")
def func_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family over lineitem keys: and/or/xor/not, shifts,
    bit_count, getbit. DuckDB spells xor as a function and getbit as
    shift+mask; two's-complement semantics agree on BIGINT."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey").bitwiseAND(F.col("l_partkey"))).alias("k_and"),
        (F.col("l_orderkey").bitwiseOR(F.col("l_partkey"))).alias("k_or"),
        (F.col("l_orderkey").bitwiseXOR(F.col("l_partkey"))).alias("k_xor"),
        F.bitwise_not(F.col("l_orderkey")).alias("k_not"),
        F.shiftleft(F.col("l_linenumber"), 4).cast("int").alias("ln_shl"),
        F.shiftright(F.col("l_orderkey"), 3).alias("k_shr"),
        F.bit_count("l_orderkey").cast("int").alias("k_bits"),
        F.getbit(F.col("l_orderkey"), F.lit(2)).cast("bigint").alias("k_bit2"),
    )


# Both engines synthesize the SAME url string from customer columns,
# then Spark parses it with parse_url while the oracle re-derives the
# parts with regexps — exact because the charset is URL-safe by
# construction (mktsegment has no spaces; keys are digits).
URL_ORACLE = """
WITH u AS (
  SELECT c_custkey, c_name,
    concat('https://n', c_nationkey, '.example.com/cust/', c_custkey,
           '?seg=', c_mktsegment, '&bal=',
           CAST(FLOOR(c_acctbal) AS BIGINT)) AS url
  FROM customer
)
SELECT c_custkey, url,
  regexp_extract(url, '^https://([^/]+)', 1) AS host,
  regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
  regexp_extract(url, '\\?(.*)$', 1) AS query,
  regexp_extract(url, '[?&]seg=([^&]*)', 1) AS seg_param,
  replace(c_name, '#', '%23') AS name_enc,
  c_name AS name_roundtrip
FROM u
"""


@query("func_url", oracle=URL_ORACLE, category="function")
def func_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family: parse_url(HOST/PATH/QUERY/param) + url_encode/
    url_decode over synthesized customer URLs."""
    c = load_table(spark, sf_dir, "customer")
    u = c.withColumn(
        "url",
        F.concat(
            F.lit("https://n"),
            F.col("c_nationkey"),
            F.lit(".example.com/cust/"),
            F.col("c_custkey"),
            F.lit("?seg="),
            F.col("c_mktsegment"),
            F.lit("&bal="),
            F.floor("c_acctbal").cast("bigint"),
        ),
    )
    return u.select(
        "c_custkey",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("seg")).alias("seg_param"),
        F.url_encode("c_name").alias("name_enc"),
        F.url_decode(F.url_encode("c_name")).alias("name_roundtrip"),
    )


INTERVAL_ORACLE = """
SELECT o_orderkey,
  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
  CAST(o_orderdate - INTERVAL 14 DAY AS DATE) AS minus_2w,
  o_orderdate + INTERVAL 90 MINUTE AS plus_90min,
  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1)
    AS month_anchor,
  CAST(o_orderdate AS DATE)
    + CAST((7 - dayofweek(o_orderdate)) % 7 + 1 AS INT) AS next_monday
FROM orders
"""


@query("func_interval", oracle=INTERVAL_ORACLE, category="function")
def func_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic over orders.o_orderdate: month/day/minute
    offsets, quarter truncation, make_date, next_day. The oracle
    models next_day('Mon') with DuckDB's 0-based dayofweek
    (k = (7-dow)%7 + 1 days ahead)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus_3m"),
        F.date_sub(F.to_date("o_orderdate"), 14).alias("minus_2w"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 MINUTE")).alias("plus_90min"),
        F.date_trunc("quarter", "o_orderdate").cast("timestamp_ntz").alias(
            "quarter_start"
        ),
        F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)).alias(
            "month_anchor"
        ),
        F.next_day(F.to_date("o_orderdate"), "Mon").alias("next_monday"),
    )


# Error-tolerant expression family: malformed rows must degrade to
# NULL, not kill a 1000-executor job five hours in (ANSI mode makes
# the non-try forms THROW). The probe strings mix valid and invalid
# numerics/dates deterministically from customer columns.
TRY_ORACLE = """
WITH probes AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 3 = 0 THEN 'not-a-number'
         ELSE CAST(c_custkey AS VARCHAR) END AS numish,
    CASE WHEN c_custkey % 4 = 0 THEN '1995-13-45'
         ELSE '1995-03-07' END AS dateish,
    c_acctbal
  FROM customer
)
SELECT c_custkey,
  TRY_CAST(numish AS BIGINT) AS maybe_num,
  TRY_CAST(dateish AS DATE) AS maybe_date,
  CASE WHEN c_custkey % 5 = 0 THEN NULL
       ELSE floor(c_acctbal * 100 / NULLIF(c_custkey % 7, 0)) / 100
  END AS safe_div,
  COALESCE(TRY_CAST(numish AS BIGINT), -1) AS num_or_default
FROM probes
"""


@query("func_try_safe", oracle=TRY_ORACLE, category="function")
def func_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast / try_divide / coalesce-default — the bad-data
    tolerance layer (Glue's ResolveChoice-cast semantics under ANSI
    mode, where plain casts and div-by-zero THROW). Invalid probes
    degrade to NULL identically on both engines; the division is
    floor-pinned at 2 dp."""
    c = load_table(spark, sf_dir, "customer")
    probes = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("not-a-number"))
        .otherwise(F.col("c_custkey").cast("string"))
        .alias("numish"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("1995-13-45"))
        .otherwise(F.lit("1995-03-07"))
        .alias("dateish"),
        "c_acctbal",
    )
    return probes.select(
        "c_custkey",
        F.col("numish").try_cast("bigint").alias("maybe_num"),
        F.col("dateish").try_cast("date").alias("maybe_date"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                F.try_divide(F.col("c_acctbal") * 100, F.col("c_custkey") % 7)
            )
            / 100
        )
        .alias("safe_div"),
        F.coalesce(F.col("numish").try_cast("bigint"), F.lit(-1)).alias(
            "num_or_default"
        ),
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL-defined functions (CREATE FUNCTION ... RETURN)
# ---------------------------------------------------------------------------

SQL_UDF_ORACLE = """
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
  CAST(SUM(CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 2 = 0
       THEN 1 ELSE 0 END) AS BIGINT) AS n_even_cents
FROM orders GROUP BY o_orderstatus
"""


@query("sql_udf_declarative", oracle=SQL_UDF_ORACLE, category="scalar")
def sql_udf_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined functions: CREATE FUNCTION ... RETURN <expr>
    declares a scalar function in pure SQL — unlike a Python UDF it
    INLINES into the plan (whole-stage codegen, pushdown through it,
    zero serialization), which makes it the right tool for shared
    business logic at 100 TB; the oracle simply inlines the same
    expressions. Two SQL UDFs compose here (parity(cents(x)) — one
    calling the other's result) over an ordinary aggregate."""
    from ..io import register_views

    register_views(spark, sf_dir, "orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION money_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_even(n BIGINT) "
        "RETURNS INT RETURN CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(money_cents(o_totalprice)) AS BIGINT) AS cents,
          CAST(SUM(is_even(money_cents(o_totalprice))) AS BIGINT) AS n_even_cents
        FROM orders GROUP BY o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL scripting (BEGIN ... END procedural control flow)
# ---------------------------------------------------------------------------

SQL_SCRIPT_ORACLE = """
SELECT CAST(4 AS BIGINT) AS checks_run,
  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
     + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
     + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 0)
     + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 = 0) AS BIGINT)
    AS total_hits
"""


@query("sql_scripting_loop", oracle=SQL_SCRIPT_ORACLE, category="scalar")
def sql_scripting_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting: a BEGIN...END block with DECLAREd
    session variables and a WHILE loop whose body runs data-dependent
    queries (the procedural maintenance-job surface — what a stored
    procedure does on a warehouse). The loop counts orders divisible
    by each modulus 2..5, accumulating into a variable the final
    SELECT returns; the oracle is the unrolled closed form. Each loop
    iteration is still a full declarative Spark job — scripting
    sequences plans, it never row-loops."""
    register_views(spark, sf_dir, "orders")
    # spark.sql runs a script eagerly (its loop's jobs at the call, a
    # local-relation result), so scripting is needed only for the call
    with pinned_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
        BEGIN
          DECLARE tot BIGINT DEFAULT 0;
          DECLARE m INT DEFAULT 2;
          WHILE m <= 5 DO
            SET tot = tot + (SELECT COUNT(*) FROM orders WHERE o_orderkey % m = 0);
            SET m = m + 1;
          END WHILE;
          SELECT CAST(4 AS BIGINT) AS checks_run, CAST(tot AS BIGINT) AS total_hits;
        END
        """
        )


# ---------------------------------------------------------------------------
# Spark 4 SQL pipe syntax (FROM ... |> op |> op)
# ---------------------------------------------------------------------------

SQL_PIPE_ORACLE = f"""
SELECT c_mktsegment,
  year(o_orderdate) AS o_year,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {MSUM_SQL.format(expr="o_totalprice")} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY c_mktsegment, year(o_orderdate)
HAVING COUNT(*) > 10
ORDER BY c_mktsegment, o_year
LIMIT 12
"""


@query("sql_pipe_syntax", oracle=SQL_PIPE_ORACLE, category="relational")
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax: the linear |> operator chain (FROM →
    WHERE → JOIN → EXTEND → AGGREGATE..GROUP BY → post-agg WHERE
    (=HAVING) → SELECT → ORDER BY → LIMIT). Pipes are pure parser
    sugar — each operator lowers to the same logical plan Catalyst
    optimizes for the ANSI form, so pushdown/broadcast/partial-agg
    behavior is unchanged at 100 TB; the oracle IS that ANSI form.
    Money accumulates via the shared MSUM fragment on both engines;
    LIMIT rides a total order on the unique group key pair."""
    from ..io import register_views

    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        f"""
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |> JOIN customer ON o_custkey = c_custkey
        |> EXTEND year(o_orderdate) AS o_year
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
             {MSUM_SQL.format(expr="o_totalprice")} AS revenue
           GROUP BY c_mktsegment, o_year
        |> WHERE n_orders > 10
        |> SELECT c_mktsegment, o_year, n_orders, revenue
        |> ORDER BY c_mktsegment, o_year
        |> LIMIT 12
        """
    )


PARAM_SQL_ORACLE = f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
  {MSUM_SQL.format(expr="o_totalprice")} AS revenue
FROM orders WHERE o_totalprice > 300000.0
GROUP BY o_orderpriority
"""


@query("sql_parameterized", oracle=PARAM_SQL_ORACLE, category="relational")
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (``spark.sql(..., args={...})``)
    with the ``IDENTIFIER()`` clause resolving the table name from a
    parameter — the injection-safe templating surface (parameters are
    literals in the plan, identifiers are catalog-validated; string
    interpolation is neither). Plan-identical to the inlined form, so
    pushdown and partial aggregation are untouched."""
    from ..io import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
          {MSUM_SQL.format(expr="o_totalprice")} AS revenue
        FROM IDENTIFIER(:tbl) WHERE o_totalprice > :cutoff
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "cutoff": 300000.0},
    )


PANDAS_API_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@query("pandas_api_groupby", oracle=PANDAS_API_ORACLE, category="relational")
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark (``df.pandas_api()`` — the pyspark.pandas
    migration path for pandas codebases): a groupby/agg written in
    pandas idiom that lowers to the SAME Catalyst aggregate plan as
    the DataFrame form, then ``to_spark()`` back. Distributed
    end-to-end — no driver materialization; the pandas surface is
    API sugar, not pandas execution. Quantities are integral doubles,
    so the sum is exact in both engines; it re-casts to BIGINT at the
    boundary for dtype-kind parity."""
    from ..io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ps_df = li.pandas_api()
    out = (
        ps_df.groupby(["l_returnflag", "l_linestatus"], as_index=False)
        .agg({"l_quantity": ["sum", "max"], "l_orderkey": "count"})
    )
    sdf = out.to_spark()
    # flattened multi-index columns come back as "(l_quantity, sum)";
    # resolve by NAME, not position — agg-dict iteration order is an
    # implementation detail
    def c(name: str):
        return F.col(f"`{name}`")

    return sdf.select(
        c("(l_returnflag, )").alias("l_returnflag"),
        c("(l_linestatus, )").alias("l_linestatus"),
        c("(l_quantity, sum)").cast("bigint").alias("sum_qty"),
        c("(l_orderkey, count)").cast("bigint").alias("n_items"),
        c("(l_quantity, max)").cast("double").alias("max_qty"),
    )
