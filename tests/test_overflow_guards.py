"""Regression pins for the round-6 int64-overflow audit.

Each test drives the EXACT decimal/wide-integer expression a reworked
query ships, at synthetic magnitudes PAST where the pre-fix int64 form
crossed 2^63 (where ANSI Spark errored and DuckDB silently widened to
int128 and diverged), and checks the result against exact Python
bignum arithmetic. sf-based parity can never exercise these
magnitudes — that blind spot is how the originals shipped.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_chi2_decimal_form_exact_past_int64(spark):
    """dq_sampler_chi2's reduced form at 1e12-doc magnitudes: the old
    (obs*N - sel*n)^2 numerator would be ~1e50 here."""
    rows = [
        # (n_lang, obs, n_total, n_sel)
        (10**12, 99_000_000_000, 4 * 10**12, 4 * 10**11),
        (3 * 10**12, 310_000_000_000, 4 * 10**12, 4 * 10**11),
        (7, 1, 4 * 10**12, 4 * 10**11),
    ]
    df = spark.createDataFrame(rows, "n_lang long, obs long, n_total long, n_sel long")
    wide = df.withColumn(
        "expected_micro",
        F.expr(
            "(CAST(n_sel AS DECIMAL(38,0)) * n_lang * 1000000) DIV n_total"
        ).cast("bigint"),
    )
    dev = wide.withColumn("dev_micro", F.expr("obs * 1000000 - expected_micro"))
    out = dev.select(
        "n_lang",
        "expected_micro",
        F.expr(
            "(CAST(dev_micro AS DECIMAL(38,0)) * dev_micro)"
            " DIV GREATEST(expected_micro, 1)"
        )
        .cast("bigint")
        .alias("chi2_term_ppm"),
    ).collect()
    for r, (n_lang, obs, n_total, n_sel) in zip(
        sorted(out, key=lambda x: x["n_lang"]), sorted(rows)
    ):
        exp = (n_sel * n_lang * 1_000_000) // n_total
        dev_micro = obs * 1_000_000 - exp
        want = (dev_micro * dev_micro) // max(exp, 1)
        assert r["expected_micro"] == exp
        assert r["chi2_term_ppm"] == want


def test_variance_div_n2_exact_past_int64(spark):
    """embedding_feature_stats' variance: 100k values (the old
    numerator n*Σx²-(Σx)² would be ~1e32 — 1e13x past int64)."""
    n = 100_000
    # deterministic pseudo-values on the e6 grid, mean ~0, |v6| ~ 1e6
    df = spark.range(n).select(
        F.lit(0).alias("dim"),
        ((F.col("id") * 2654435761 % 2000001) - 1000000)
        .cast("bigint")
        .alias("v6"),
    )
    stats = df.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v6").cast("bigint").alias("sum_e6"),
        F.sum(F.col("v6").cast("decimal(38,0)") * F.col("v6")).alias("__ssq"),
    )
    out = stats.select(
        F.expr(
            "(n * __ssq - CAST(sum_e6 AS DECIMAL(38,0)) * sum_e6)"
            " DIV (CAST(n AS DECIMAL(38,0)) * n)"
        )
        .cast("bigint")
        .alias("var_e12"),
        "n",
        "sum_e6",
    ).collect()[0]
    vals = [((i * 2654435761) % 2000001) - 1000000 for i in range(n)]
    s, ssq = sum(vals), sum(v * v for v in vals)
    assert out["n"] == n and out["sum_e6"] == s
    assert out["var_e12"] == (n * ssq - s * s) // (n * n)
    assert n * ssq - s * s > 2**63  # the old output column cannot exist here


def test_skew_and_share_decimal_products_past_int64(spark):
    """dq_join_skew_report / revenue_share_of_region products at
    100 TB-ish magnitudes (rows*skew*1e6 and cents*1e6 both > 2^63)."""
    df = spark.createDataFrame(
        [(5 * 10**9, 10**10, 6 * 10**11), (1, 1, 1)],
        "max_cnt long, n_keys long, total_rows long",
    )
    out = df.select(
        F.expr(
            "(CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 1000000) DIV total_rows"
        )
        .cast("bigint")
        .alias("skew_factor_ppm"),
        F.expr("CAST(max_cnt AS DECIMAL(38,0)) * n_keys DIV total_rows + 1")
        .cast("bigint")
        .alias("suggested_salt"),
    ).collect()
    big = max(out, key=lambda r: r["skew_factor_ppm"])
    assert big["skew_factor_ppm"] == (5 * 10**9 * 10**10 * 10**6) // (6 * 10**11)
    assert big["suggested_salt"] == (5 * 10**9 * 10**10) // (6 * 10**11) + 1

    cents = spark.createDataFrame(
        [(3 * 10**15, 9 * 10**15)], "cents long, region_cents long"
    )
    share = cents.select(
        F.expr("CAST(cents AS DECIMAL(38,0)) * 1000000 div region_cents")
        .cast("bigint")
        .alias("share_ppm")
    ).collect()[0]
    assert share["share_ppm"] == (3 * 10**15 * 10**6) // (9 * 10**15)


def test_span_hash_fold_identity(spark):
    """span_corruption_layout's folded pre-mix equals the unfolded
    value for every doc_id where the unfolded form is computable, and
    stays computable where the unfolded one would overflow."""
    P, K = 1_000_000_007, 1_000_003
    small = spark.range(0, 50_000, 7).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13).alias("b")
    )
    cmp = small.select(
        F.expr(f"((doc_id % {P}) * {K} + b) % {P}").alias("folded"),
        F.expr(f"(doc_id * {K} + b) % {P}").alias("unfolded"),
    )
    assert cmp.filter(F.col("folded") != F.col("unfolded")).count() == 0
    # past-int64 doc_ids: folded form still evaluates (the unfolded
    # product would exceed 2^63 at doc_id ~ 9.2e12 under ANSI)
    huge = spark.createDataFrame(
        [(9_300_000_000_000,), (4 * 10**15,)], "doc_id long"
    ).select(F.expr(f"((doc_id % {P}) * {K} + 1) % {P}").alias("h"))
    vals = [r["h"] for r in huge.collect()]
    assert vals == [
        ((9_300_000_000_000 % P) * K + 1) % P,
        ((4 * 10**15 % P) * K + 1) % P,
    ]


def test_cms_dot_decimal_accumulation_past_int64(spark):
    """sketch_join_cardinality's dot product with per-bucket counts
    whose products exceed 2^63."""
    df = spark.createDataFrame(
        [(0, 4 * 10**9, 5 * 10**9), (0, 3 * 10**9, 6 * 10**9)],
        "seed long, cnt long, cnt_b long",
    )
    out = df.groupBy("seed").agg(
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt_b")).alias("dot")
    ).collect()[0]
    assert int(out["dot"]) == 4 * 10**9 * 5 * 10**9 + 3 * 10**9 * 6 * 10**9


def test_msum_matches_oracle_on_boundaries_and_past_int64(spark):
    """``msum`` vs its SQL twin ``MSUM_SQL`` on DuckDB and Spark SQL,
    over values the fixtures never reach: money on or next to a .5e-6
    boundary (odd multiples of 1/128 sit exactly on it; literals like
    1.0079195 print as on it but are a hair off in binary, where a
    decimal cast rounds the printed digits on Spark and the binary
    value on DuckDB), q9-style ``price / qty * qty`` reconstructions
    of them, and one group whose total passes 2^63 micro-units
    (~9.2e12 money units, where a long accumulator overflows under
    ANSI). All three must equal the exact integer sum at shuffle
    widths 2/32/200."""
    import math

    import duckdb

    from glue_etl_pyspark_spark.functions.money import MSUM_SQL, msum

    edge = [(2 * i + 1) / 128 for i in range(60)]
    edge += [float(f"{i}.{7919 * i % 10**6:06d}5") for i in range(60)]
    rows = [("edge", v * q, float(q)) for v in edge for q in (1, 3, 7)]
    rows += [("big", 3.0e12 + i / 128, 1.0) for i in range(4)]
    expr = "price / qty * qty"
    sql = f"SELECT g, {MSUM_SQL.format(expr=expr)} AS s FROM msum_edge GROUP BY g"
    vals = {g: [] for g, _, _ in rows}
    for g, price, qty in rows:
        vals[g].append(price / qty * qty)
    assert any((v * 1e6) % 1 == 0.5 for v in vals["edge"])
    micro = {g: sum(math.floor(v * 1e6 + 0.5) for v in vs) for g, vs in vals.items()}
    assert micro["big"] > 2**63
    want = {g: m / 1e6 for g, m in micro.items()}

    with duckdb.connect() as con:
        con.execute("CREATE TABLE msum_edge (g VARCHAR, price DOUBLE, qty DOUBLE)")
        con.executemany("INSERT INTO msum_edge VALUES (?, ?, ?)", rows)
        duck = dict(con.execute(sql).fetchall())
    assert duck == want

    df = spark.createDataFrame(rows, "g string, price double, qty double")
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (2, 32, 200):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            wide = df.repartition(parts)
            got = wide.groupBy("g").agg(msum(F.expr(expr)).alias("s")).collect()
            assert {r["g"]: r["s"] for r in got} == want, parts
            wide.createOrReplaceTempView("msum_edge")
            got = spark.sql(sql).collect()
            assert {r["g"]: r["s"] for r in got} == want, parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
        spark.catalog.dropTempView("msum_edge")
