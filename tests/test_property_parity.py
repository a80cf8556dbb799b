"""Property-based Spark-vs-DuckDB agreement (SURVEY.md §5.3 optional
layer): hypothesis generates small dirty frames (nulls, duplicates,
negative numbers, empty strings) and asserts both engines agree on
composed filter/aggregate pipelines — the generic guarantee behind
the hand-written oracles."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

rows_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
        st.sampled_from(["a", "b", "c", ""]),
        st.one_of(st.none(), st.floats(min_value=-100, max_value=100,
                                       allow_nan=False, allow_infinity=False)),
    ),
    min_size=0,
    max_size=50,
)


def _norm(rows):
    out = []
    for r in rows:
        out.append(tuple(round(v, 6) if isinstance(v, float) else v for v in r))
    return sorted(out, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_strategy)
def test_filter_groupby_agreement(spark, rows):
    pdf = pd.DataFrame(rows, columns=["n", "s", "x"]).astype(
        {"n": "Int64", "s": "string", "x": "float64"}
    )
    sdf = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                                "n bigint, s string, x double")
    from pyspark.sql import functions as F

    got = sdf.filter("n IS NULL OR n > -500").groupBy("s").agg(
        F.count("n").alias("cnt_n"), F.sum("x").alias("sum_x")
    ).collect()
    spark_rows = [(r.s, r.cnt_n, r.sum_x) for r in got]

    con = duckdb.connect()
    con.register("t", pdf)
    duck_rows = con.execute(
        """
        SELECT s, CAST(COUNT(n) AS BIGINT) AS cnt_n, SUM(x) AS sum_x
        FROM t WHERE n IS NULL OR n > -500 GROUP BY s
        """
    ).fetchall()
    con.close()
    assert _norm(spark_rows) == _norm(duck_rows)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_strategy)
def test_distinct_orderby_agreement(spark, rows):
    pdf = pd.DataFrame(rows, columns=["n", "s", "x"]).astype(
        {"n": "Int64", "s": "string", "x": "float64"}
    )
    sdf = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                                "n bigint, s string, x double")
    spark_rows = [(r.s, r.n) for r in sdf.select("s", "n").distinct().collect()]

    con = duckdb.connect()
    con.register("t", pdf)
    duck_rows = con.execute("SELECT DISTINCT s, n FROM t").fetchall()
    con.close()
    assert _norm(spark_rows) == _norm(duck_rows)


asof_strategy = st.tuples(
    # left: (user, ts-minute) pairs
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 120)),
             min_size=1, max_size=20),
    # right: (user, ts-minute, value) — duplicates per (user, ts) allowed;
    # values made unique below so the max-tie-break winner is checkable
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 120)),
             min_size=0, max_size=20),
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=asof_strategy)
def test_asof_join_matches_bruteforce(spark, data):
    """asof_join (union + keyed window) must equal the brute-force
    per-left-row definition: the right row with the greatest ts <= left
    ts for the same key, ties on ts resolved to the largest tie_break."""
    import datetime as dt

    from glue_etl_pyspark_spark.operators import asof_join

    left_raw, right_raw = data
    base = dt.datetime(2024, 1, 1)
    left = [(u, base + dt.timedelta(minutes=m), i)
            for i, (u, m) in enumerate(left_raw)]
    right = [(u, base + dt.timedelta(minutes=m), i, float(i))
             for i, (u, m) in enumerate(right_raw)]

    ldf = spark.createDataFrame(left, "user_id int, ts timestamp_ntz, lid int")
    rdf = spark.createDataFrame(
        right, "user_id int, ts timestamp_ntz, seq int, score double"
    )
    got = {
        r.lid: r.score
        for r in asof_join(
            ldf, rdf, on="ts", by=["user_id"], value_cols=["score"],
            tie_break="seq",
        ).collect()
    }

    want = {}
    for u, lts, lid in left:
        cands = [(rts, seq, score) for (ru, rts, seq, score) in right
                 if ru == u and rts <= lts]
        want[lid] = max(cands)[2] if cands else None
    assert got == want


range_strategy = st.tuples(
    st.lists(st.integers(0, 2000), min_size=1, max_size=25),          # point minutes
    st.lists(st.tuples(st.integers(0, 2000), st.integers(0, 300)),    # (start, duration)
             min_size=1, max_size=10),
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=range_strategy)
def test_range_join_matches_bruteforce(spark, data):
    """range_join (coarse-bucket prefilter + exact residual) must equal
    the brute-force interval-containment definition — including
    intervals spanning multiple buckets and points on boundaries
    (start inclusive, end exclusive)."""
    import datetime as dt

    from glue_etl_pyspark_spark.operators import range_join

    point_mins, intervals_raw = data
    base = dt.datetime(2024, 1, 1)
    points = [(i, base + dt.timedelta(minutes=m)) for i, m in enumerate(point_mins)]
    intervals = [
        (base + dt.timedelta(minutes=s), base + dt.timedelta(minutes=s + d), f"iv{j}")
        for j, (s, d) in enumerate(intervals_raw)
    ]
    pdf = spark.createDataFrame(points, "id int, ts timestamp_ntz")
    idf = spark.createDataFrame(
        intervals, "start timestamp_ntz, end timestamp_ntz, label string"
    )
    got = {(r.id, r.label)
           for r in range_join(pdf, idf, point="ts", start="start", end="end",
                               bucket_seconds=3600).collect()}
    want = {(i, lbl) for i, ts in points for s, e, lbl in intervals if s <= ts < e}
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@example(edges=[(9, 2), (2, 9), (2, 9), (4, 4), (2, 6), (6, 1)])
@given(edges=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                      min_size=1, max_size=40))
def test_cc_labels_match_union_find(spark, edges):
    """The certified min-label fixpoint must produce exactly the
    connected components a union-find gives, labels = component min.
    The pairs go in raw — duplicates, both orientations and self-loops
    included — so cc_labels' own symmetrization is what is tested."""
    from glue_etl_pyspark_spark.operators.components import cc_labels

    pdf = spark.createDataFrame(edges, "u bigint, v bigint")
    got = {r.node: r.label for r in cc_labels(pdf).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(" ".join),
    min_size=2, max_size=12))
def test_ngram_jaccard_matches_python_bruteforce(spark, docs):
    """The inverted-index pair miner must equal the brute-force
    definition of n-gram Jaccard over every doc pair (both prefix-
    filter modes; single-char 'words' maximize shingle collisions)."""
    from glue_etl_pyspark_spark.operators.dedup import ngram_jaccard_pairs

    n, tau = 2, 0.4
    pdf = spark.createDataFrame(list(enumerate(docs)), "doc_id bigint, text string")

    def sh(text):
        toks = text.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    sets = {i: sh(t) for i, t in enumerate(docs) if sh(t)}
    want = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                union_ = len(sets[i] | sets[j])
                jac = inter / union_
                if jac >= tau:
                    want[(i, j)] = round(jac, 9)

    for mode in (True, False):
        got = {(r.id_a, r.id_b): round(r.jaccard, 9)
               for r in ngram_jaccard_pairs(pdf, "doc_id", "text", n=n,
                                            threshold=tau,
                                            prefix_filter=mode).collect()}
        assert got == want, f"prefix_filter={mode}"


pack_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),   # id gap (shards vary)
        st.integers(min_value=1, max_value=40),   # token count (> ctx possible vs ctx=32)
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=pack_strategy)
def test_pack_concat_chunk_matches_global_scan(spark, items):
    """The sharded two-phase prefix sum must equal the naive global
    running sum for ANY id spacing / length mix (integer arithmetic —
    exact), including ids that straddle shard boundaries."""
    from glue_etl_pyspark_spark.operators.packing import pack_concat_chunk

    CTX, SPAN = 32, 25
    ids, acc = [], 0
    for gap, _ in items:
        acc += gap + 1
        ids.append(acc)
    lens = [n for _, n in items]
    sdf = spark.createDataFrame(list(zip(ids, lens)), "doc_id bigint, n_tokens bigint")
    got = {
        r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
        for r in pack_concat_chunk(sdf, ctx_len=CTX, shard_span=SPAN).collect()
    }
    start = 0
    for i, n in sorted(zip(ids, lens)):
        assert got[i] == (n, start // CTX, start % CTX), (i, got[i], start)
        start += n


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=pack_strategy)
def test_pack_greedy_matches_sequential_reference(spark, items):
    """Distributed greedy packing must equal a sequential first-fit
    reference run independently per shard."""
    from glue_etl_pyspark_spark.operators.packing import pack_greedy_shard

    CTX, SPAN, STRIDE = 32, 25, 1_000_000_000
    ids, acc = [], 0
    for gap, _ in items:
        acc += gap + 1
        ids.append(acc)
    lens = [n for _, n in items]
    sdf = spark.createDataFrame(list(zip(ids, lens)), "doc_id bigint, n_tokens bigint")
    got = {
        r.doc_id: (r.bin_id, r.bin_fill)
        for r in pack_greedy_shard(sdf, ctx_len=CTX, shard_span=SPAN).collect()
    }
    expected = {}
    state = {}  # shard -> [seq, fill]
    for i, n in sorted(zip(ids, lens)):
        shard = i // SPAN
        seq, fill = state.get(shard, (0, 0))
        if fill > 0 and fill + n > CTX:
            seq, fill = seq + 1, 0
        fill += n
        state[shard] = (seq, fill)
        expected[i] = (shard * STRIDE + seq, fill)
    assert got == expected


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tokens=st.lists(
    st.text(
        # any codepoint except surrogates (invalid in UTF-8)
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0,
        max_size=80,  # crosses the 32-byte stripe + every tail length
    ),
    min_size=1,
    max_size=12,
))
def test_python_xxhash64_matches_spark(spark, tokens):
    """The pure-Python xxHash64(seed=42) inside
    operators/dedup.hashed_shingles_kernel must agree with
    F.xxhash64 on ARBITRARY unicode — hypothesis drives string
    lengths across the 32-byte stripe loop and all 8/4/1-byte tail
    branches, and multi-byte UTF-8 on every boundary."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.operators.dedup import hashed_shingles_kernel

    # n=1 hashed shingles ARE the raw token hashes (no fold passes),
    # so the kernel output pins the hash function itself
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "id long, text string"
    )
    # tokenization may split/drop text; compare via the same expression
    # tree the kernel mirrors
    from glue_etl_pyspark_spark.functions.text import token_hashes, tokenize_ws

    a = df.select(
        "id", F.array_distinct(token_hashes(tokenize_ws("text"))).alias("ea")
    )
    b = hashed_shingles_kernel(df, "id", "text", 1).withColumnRenamed("sh", "eb")
    diff = a.join(b, "id").filter(~(F.col("ea") == F.col("eb"))).count()
    assert diff == 0


# --- symmetric-delete blocking completeness (linkage_fuzzy_match) ---
#
# The r11 linkage rework replaced the quadratic block join with
# SymSpell candidate generation; its correctness rests on one lemma:
# any two strings with levenshtein(a, b) <= 1 share a delete-one
# variant (the string itself counts as a variant). Pin the lemma
# itself, driver-side, over adversarial small strings — if it held
# only for the fixture's name shapes, a future dataset would silently
# lose pairs.

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _variants(s: str) -> set[str]:
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


@settings(max_examples=300, deadline=None)
@given(
    a=st.text(alphabet="ab0#é", max_size=8),
    b=st.text(alphabet="ab0#é", max_size=8),
)
def test_symdelete_variants_complete_for_dist_le_1(a, b):
    if _lev(a, b) <= 1:
        assert _variants(a) & _variants(b), (
            f"dist<=1 pair {a!r}/{b!r} shares no delete variant — "
            "symdelete blocking would lose it"
        )
