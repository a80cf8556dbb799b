"""Retrieval-flavored corpus queries (round 5): BM25 ranking and a
fully VALUE-oracled MinHash-LSH (portable hash family).

``dedup_minhash_lsh`` (pyspark.ml, seeded murmur) is rows-only by
necessity; ``dedup_minhash_portable`` re-expresses the same
signature→band→bucket-join pipeline over the md5-polynomial hash
family (queries/sketches._md5_mod), which DuckDB evaluates
bit-identically — so the whole LSH chain gets a hash-checked oracle,
the same upgrade the CMS/Bloom sketches got in round 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize_ws
from ..io import load_table
from ..registry import query
from .llm_text import _DUCK_TOKS
from .sketches import _md5_mod, _md5_mod_at, _md5_mod_at_spark

# --- BM25 ----------------------------------------------------------

_BM25_TERMS = ("hash", "vector", "filter")
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOPK = 50

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"

# Per-(doc,term) BM25 partial; summed over the FIXED term list in a
# FIXED order (one conditional aggregate per term, added left to
# right) so the 3-double addition is bit-identical on both engines.
_BM25_SCORE = (
    "(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    f" * (tf * ({_BM25_K1} + 1.0))"
    f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"
)

BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), dls AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dl) AS BIGINT) * 1.0 / COUNT(*) AS avgdl
  FROM dls
), occ AS (
  SELECT doc_id, unnest(toks) AS term FROM toks
), tfs AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM occ WHERE term IN {_TERMS_SQL} GROUP BY doc_id, term
), dfs AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfs GROUP BY term
), scored AS (
  SELECT t.doc_id, t.term, {_BM25_SCORE} AS s
  FROM tfs t
  JOIN dfs USING (term)
  JOIN dls USING (doc_id)
  CROSS JOIN stats
), pivoted AS (
  SELECT doc_id,
    coalesce(SUM(CASE WHEN term = '{_BM25_TERMS[0]}' THEN s END), 0.0)
      + coalesce(SUM(CASE WHEN term = '{_BM25_TERMS[1]}' THEN s END), 0.0)
      + coalesce(SUM(CASE WHEN term = '{_BM25_TERMS[2]}' THEN s END), 0.0)
      AS raw
  FROM scored GROUP BY doc_id
)
SELECT doc_id, floor(raw * 1e6) / 1e6 AS bm25
FROM pivoted
ORDER BY floor(raw * 1e6) / 1e6 DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@query("text_bm25_topk", oracle=BM25_ORACLE, category="llm-text")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) of the corpus for a fixed query,
    top-50. The per-(doc,term) score is one arithmetic expression over
    integer tf/df/dl/N (identical doubles on both engines); the doc
    score adds the per-term conditional sums in FIXED order, then
    floor-pins at 6 dp with a unique tie-break — the full-text scoring
    shape, hash-checked. Scale: one tf shuffle on (doc, term) for the
    3 query terms only (the IN filter prunes at scan), df/avgdl are
    tiny broadcasts; top-k is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize_ws("text").alias("toks"))
    dls = toks.select(
        "doc_id", F.size("toks").cast("bigint").alias("dl")
    )
    stats = dls.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    occ = toks.select("doc_id", F.explode("toks").alias("term"))
    tfs = (
        occ.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfs = tfs.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tfs.join(F.broadcast(dfs), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.expr(_BM25_SCORE).alias("s"))
    )
    per_term = [
        F.coalesce(
            F.sum(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
        )
        for t in _BM25_TERMS
    ]
    pivoted = scored.groupBy("doc_id").agg(
        (per_term[0] + per_term[1] + per_term[2]).alias("raw")
    )
    return (
        pivoted.select(
            "doc_id", (F.floor(F.col("raw") * 1e6) / 1e6).alias("bm25")
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


# --- portable MinHash-LSH ------------------------------------------

_MH_K = 8          # signature length
_MH_BANDS = 2      # bands of 4 rows each: 1-(1-s^4)^2 candidate curve
_MH_ROWS = 4       # (4x2 was measured far too permissive on this
                   # small-vocab corpus: moderate-similarity docs
                   # collided at ~68% and candidates went quadratic)
_MH_MOD = 16777216  # 2^24 — the md5-polynomial fragment's 6 hex digits

# 8 hashes from TWO md5 evaluations per shingle (4 six-digit slices
# each) — the hashing stage is the linear cost of the banding build,
# so halving-twice the md5 count matters at corpus scale
_MH_FRAGS = {
    f"h{j}": _md5_mod_at(
        "shingle", "mhA" if j < 4 else "mhB", _MH_MOD, 6 * (j % 4)
    )
    for j in range(_MH_K)
}

# Spark-side hot-path twins (one md5 + conv per fragment instead of six
# digit parses — bit-identical, pinned in tests/test_sketches.py). The
# oracle keeps the polynomial _MH_FRAGS; Spark query bodies use these.
_MH_FRAGS_SPARK = {
    f"h{j}": _md5_mod_at_spark(
        "shingle", "mhA" if j < 4 else "mhB", _MH_MOD, 6 * (j % 4)
    )
    for j in range(_MH_K)
}

from .llm_dedup import _TWIN_OFF  # collision-proof twin-id offset

_MH_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents
"""

_MH_SIG_COLS_SQL = ",\n    ".join(
    f"MIN({frag}) AS h{j}" for j, frag in enumerate(_MH_FRAGS.values())
)

_MH_BAND_SQL = "\n  UNION ALL\n".join(
    "SELECT id, {b} AS band, {ks} FROM sig".format(
        b=b,
        ks=", ".join(
            f"h{_MH_ROWS * b + r} AS k{r + 1}" for r in range(_MH_ROWS)
        ),
    )
    for b in range(_MH_BANDS)
)

MINHASH_PORTABLE_ORACLE = f"""
WITH corpus AS ({_MH_CORPUS_SQL}),
sh AS (
  SELECT doc_id AS id, unnest(list_distinct(
    list_transform(range(1, len(toks) - 2),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
  )) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
  WHERE len(toks) >= 4
),
sig AS (
  SELECT id,
    {_MH_SIG_COLS_SQL}
  FROM sh GROUP BY id
),
bands AS (
  {_MH_BAND_SQL}
)
SELECT a.id AS id_a, b.id AS id_b,
  CAST(COUNT(*) AS BIGINT) AS n_bands
FROM bands a
JOIN bands b
  ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
  AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.id < b.id
GROUP BY a.id, b.id
"""


@query(
    "dedup_minhash_portable",
    oracle=MINHASH_PORTABLE_ORACLE,
    category="llm-dedup",
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with a VALUE oracle: 8 minhashes
    over distinct 4-gram shingles (md5-polynomial hash family — both
    engines compute identical integers), banded 2x4; documents
    sharing a band bucket become candidates (id_a < id_b, with the
    shared-band count). Same banding scale shape as simhash/LSH —
    bucket equi-join on (band, k1, k2), never all-pairs — but unlike
    the seeded-murmur ml.feature path the entire chain is
    hash-checked. Corpus = documents ∪ perturbed twins (llm_dedup
    fixture), so planted near-dups are the expected collisions."""
    d = load_table(spark, sf_dir, "documents")
    ws = tokenize_ws("text")
    twins = d.select(
        (F.col("doc_id") + _TWIN_OFF).alias("doc_id"),
        F.array_join(
            F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))), " "
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(twins)
    toks = corpus.select(
        F.col("doc_id").alias("id"), tokenize_ws("text").alias("toks")
    ).filter(F.size("toks") >= 4)
    sh = toks.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 4),
                    lambda i: F.concat_ws(
                        " ",
                        F.col("toks")[i],
                        F.col("toks")[i + 1],
                        F.col("toks")[i + 2],
                        F.col("toks")[i + 3],
                    ),
                )
            )
        ).alias("shingle"),
    )
    sig = sh.groupBy("id").agg(
        *[
            F.min(F.expr(frag)).alias(f"h{j}")
            for j, frag in enumerate(_MH_FRAGS_SPARK.values())
        ]
    )
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"h{_MH_ROWS * b + r}").alias(f"k{r + 1}")
                            for r in range(_MH_ROWS)
                        ],
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "bk.band", *[f"bk.k{r + 1}" for r in range(_MH_ROWS)]
    )
    keys = ["band"] + [f"k{r + 1}" for r in range(_MH_ROWS)]
    left = bands.select(F.col("id").alias("id_a"), *keys)
    right = bands.select(F.col("id").alias("id_b"), *keys)
    return (
        left.join(right, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )


# --- hybrid search: BM25 + embedding, reciprocal-rank fusion -------

_RRF_K = 60
_RRF_DEPTH = 20   # fuse each ranker's top-20
_RRF_TOPK = 10
_RRF_QVEC = 0     # the query document's embedding (vec_id == doc_id)

# rrf term from an integer rank: 1/(60+r) as a double (identical on
# both engines for identical integer r), floored to the 1e-9 grid
# before the 2-term fixed-order add.
_RRF_TERM = f"floor(1e9 / ({_RRF_K} + {{r}}))"

HYBRID_RRF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), dls AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dl) AS BIGINT) * 1.0 / COUNT(*) AS avgdl
  FROM dls
), occ AS (
  SELECT doc_id, unnest(toks) AS term FROM toks
), tfs AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM occ WHERE term IN {_TERMS_SQL} GROUP BY doc_id, term
), dfs AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfs GROUP BY term
), scored AS (
  SELECT t.doc_id, t.term, {_BM25_SCORE} AS s
  FROM tfs t JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
), pivoted AS (
  SELECT doc_id,
    coalesce(SUM(CASE WHEN term = '{_BM25_TERMS[0]}' THEN s END), 0.0)
      + coalesce(SUM(CASE WHEN term = '{_BM25_TERMS[1]}' THEN s END), 0.0)
      + coalesce(SUM(CASE WHEN term = '{_BM25_TERMS[2]}' THEN s END), 0.0)
      AS raw
  FROM pivoted_src GROUP BY doc_id
), pivoted_src AS (SELECT * FROM scored), bm AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY floor(raw * 1e6) / 1e6 DESC, doc_id) AS BIGINT) AS bm25_rank
  FROM pivoted QUALIFY bm25_rank <= {_RRF_DEPTH}
), q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RRF_QVEC}
), sims AS (
  SELECT c.vec_id AS doc_id,
    SUM(CAST(c.embedding[r.i] AS DOUBLE) * CAST(q.qv[r.i] AS DOUBLE))
      / (sqrt(SUM(CAST(c.embedding[r.i] AS DOUBLE) * CAST(c.embedding[r.i] AS DOUBLE)))
         * sqrt(SUM(CAST(q.qv[r.i] AS DOUBLE) * CAST(q.qv[r.i] AS DOUBLE)))) AS cs
  FROM embeddings c, q, range(1, 65) r(i)
  WHERE c.vec_id <> {_RRF_QVEC}
  GROUP BY c.vec_id
), vec AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY round(cs, 6) DESC, doc_id) AS BIGINT) AS vec_rank
  FROM sims QUALIFY vec_rank <= {_RRF_DEPTH}
), fused AS (
  SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
    CAST(COALESCE(bm.bm25_rank, 0) AS BIGINT) AS bm25_rank,
    CAST(COALESCE(vec.vec_rank, 0) AS BIGINT) AS vec_rank,
    CAST(COALESCE({_RRF_TERM.format(r="bm.bm25_rank")}, 0)
       + COALESCE({_RRF_TERM.format(r="vec.vec_rank")}, 0) AS BIGINT) AS rrf_e9
  FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id
)
SELECT doc_id, bm25_rank, vec_rank, rrf_e9 FROM fused
ORDER BY rrf_e9 DESC, doc_id
LIMIT {_RRF_TOPK}
"""


@query("hybrid_search_rrf", oracle=HYBRID_RRF_ORACLE, category="llm-retrieval")
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the modern RAG search stack end to end:
    lexical BM25 (fixed 3-term query) and dense cosine (the query
    document's embedding; vec_id aligns with doc_id chunk-for-chunk)
    each rank the corpus top-20, then reciprocal-rank fusion
    1/(60+rank) merges them — RRF needs only the integer RANKS, so
    after each ranker's floor-pinned ordering the fusion is exact
    arithmetic on both engines (terms floored to the 1e-9 grid, two
    fixed-order adds). Docs surfaced by only one ranker carry rank 0
    for the other (RRF's strength: no score calibration needed).
    Scale: the BM25 side prunes to the query terms at scan; the dense
    side is the brute-force anchor — swap in `knn_ivf`'s probed search
    for the 100 TB path; fusion itself joins two top-k lists (tiny)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    # --- lexical leg (text_bm25_topk's chain, kept to rank depth) ---
    toks = d.select("doc_id", tokenize_ws("text").alias("toks"))
    dls = toks.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dls.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    occ = toks.select("doc_id", F.explode("toks").alias("term"))
    tfs = (
        occ.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfs = tfs.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tfs.join(F.broadcast(dfs), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.expr(_BM25_SCORE).alias("s"))
    )
    per_term = [
        F.coalesce(F.sum(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0))
        for t in _BM25_TERMS
    ]
    pivoted = scored.groupBy("doc_id").agg(
        (per_term[0] + per_term[1] + per_term[2]).alias("raw")
    )
    from pyspark.sql import Window

    wb = Window.orderBy(F.desc(F.floor(F.col("raw") * 1e6) / 1e6), "doc_id")
    bm = (
        pivoted.withColumn("bm25_rank", F.row_number().over(wb).cast("bigint"))
        .filter(F.col("bm25_rank") <= _RRF_DEPTH)
        .select("doc_id", "bm25_rank")
    )

    # --- dense leg (brute-force anchor against the query embedding) ---
    from ..functions.vectors import cosine, l2_norm

    ev = e.withColumn("__n", l2_norm("embedding"))
    q = ev.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("embedding").alias("qv"), F.col("__n").alias("qn")
    )
    sims = (
        ev.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine("embedding", "__n", "qv", "qn").alias("cs"),
        )
    )
    wv = Window.orderBy(F.desc(F.round(F.col("cs"), 6)), "doc_id")
    vec = (
        sims.withColumn("vec_rank", F.row_number().over(wv).cast("bigint"))
        .filter(F.col("vec_rank") <= _RRF_DEPTH)
        .select("doc_id", "vec_rank")
    )

    # --- fusion ---
    fused = bm.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("bm25_rank", F.lit(0)).cast("bigint").alias("bm25_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("bigint").alias("vec_rank"),
        (
            F.coalesce(F.expr(_RRF_TERM.format(r="bm25_rank")), F.lit(0))
            + F.coalesce(F.expr(_RRF_TERM.format(r="vec_rank")), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_e9"),
    )
    return fused.orderBy(F.desc("rrf_e9"), "doc_id").limit(_RRF_TOPK)
