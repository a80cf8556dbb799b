"""Training-data assembly queries (SURVEY.md §2.12 extension):
sequence packing into fixed context windows, int8 embedding
quantization, and deterministic (reproducible) corpus sampling.

These are the ops between "curated corpus" and "training batches":
pack documents into ctx-sized sequences, shrink embedding storage 4x,
and carve reproducible subsets without RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize_ws
from ..functions.vectors import quantize_int8
from ..io import load_table
from ..operators.packing import pack_concat_chunk, pack_greedy_shard
from ..registry import query
from .llm_text import _DUCK_TOKS

_CTX = 256
_SHARD_SPAN = 1000

PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens FROM documents
), st AS (
  SELECT doc_id, n_tokens,
    SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_tokens AS s
  FROM toks
)
SELECT doc_id, n_tokens,
  CAST(s // {_CTX} AS BIGINT) AS bin_id,
  CAST(s % {_CTX} AS BIGINT) AS bin_offset
FROM st
"""
# The windowed SUM is HUGEINT in DuckDB; without the casts the driver's
# pandas canonicalizer renders these columns float64 ("0.0") against
# Spark's int64 ("0") and the value hash diverges — the r4 driver-only
# hash FAIL. parity.check_query now gates on exactly this.


@query("doc_pack_sequences", oracle=PACK_ORACLE, category="llm-pack")
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (GPT-style): every document's
    context-window id and offset, from a sharded two-phase prefix sum
    (see operators/packing.py — no single-partition global window).
    The oracle is the equivalent GLOBAL running sum: integer token
    counts make the two-phase result exactly equal."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.size(tokenize_ws("text")).cast("bigint").alias("n_tokens")
    )
    return pack_concat_chunk(
        docs, id_col="doc_id", len_col="n_tokens", ctx_len=_CTX,
        shard_span=_SHARD_SPAN,
    )


GREEDY_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens,
    doc_id // {_SHARD_SPAN} AS shard
  FROM documents
), ordered AS (
  SELECT doc_id, n_tokens, shard,
    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks
), walk AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS seq,
    n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN w.fill > 0 AND w.fill + o.n_tokens > {_CTX}
         THEN w.seq + 1 ELSE w.seq END,
    CASE WHEN w.fill > 0 AND w.fill + o.n_tokens > {_CTX}
         THEN o.n_tokens ELSE w.fill + o.n_tokens END
  FROM walk w JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1
)
SELECT doc_id, n_tokens, shard * 1000000000 + seq AS bin_id, fill AS bin_fill
FROM walk
"""


@query("doc_pack_greedy", oracle=GREEDY_ORACLE, category="llm-pack")
def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit sequential packing (no document splits) per id-range
    shard via applyInPandas. The sequential bin state is beyond plain
    window SQL, but NOT beyond a recursive CTE — the oracle walks each
    shard's documents in id order carrying (seq, fill), exactly the
    operator's loop (the dedup_clusters_minlabel closure-oracle
    precedent: linear recursion makes a sequential op fully
    hash-checkable). Also property-gated in pytest (exactly-once,
    capacity, monotone bins)."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.size(tokenize_ws("text")).cast("bigint").alias("n_tokens")
    )
    return pack_greedy_shard(
        docs, id_col="doc_id", len_col="n_tokens", ctx_len=_CTX,
        shard_span=_SHARD_SPAN,
    )


QUANT_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), mm AS (
  SELECT vec_id, dv,
    list_aggregate(dv, 'min') AS qmin, list_aggregate(dv, 'max') AS qmax
  FROM v
)
SELECT vec_id, qmin, qmax,
  array_to_string(
    CASE WHEN qmax = qmin THEN list_transform(dv, x -> 0)
         ELSE list_transform(dv, x ->
           CAST(floor((x - qmin) / (qmax - qmin) * 255 + 0.5) AS INTEGER) - 128)
    END, ',') AS codes
FROM mm
"""


@query("embedding_quantize_int8", oracle=QUANT_ORACLE, category="llm-knn")
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization of the embedding column —
    the 4x storage/bandwidth path for ANN candidate generation (rerank
    keeps full precision). qmin/qmax are staged columns (the
    lambda-capture rule); floor(x+0.5) avoids the half-up/half-even
    round() split. Quantized-search fidelity is recall-gated in
    tests/test_llm_ops.py."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("__dv", F.transform("embedding", lambda x: x.cast("double")))
        .withColumn("qmin", F.array_min("__dv"))
        .withColumn("qmax", F.array_max("__dv"))
    )
    codes = quantize_int8("__dv", "qmin", "qmax")
    # list cells crash the driver's hash canonicalizer (round-1
    # lesson) — serialize at the query boundary, identically in SQL
    return e.select(
        "vec_id", "qmin", "qmax",
        F.array_join(F.transform(codes, lambda c: c.cast("string")), ",").alias("codes"),
    )


SAMPLE_DET_ORACLE = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE ((doc_id % 1000000007) * 2654435761) % 4294967296 < 429496730
"""


@query("sample_docs_deterministic", oracle=SAMPLE_DET_ORACLE, category="llm-curation")
def sample_docs_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% corpus subset via multiplicative hashing
    (Knuth constant, exact BIGINT arithmetic — no RNG state, no seed
    plumbing): the sampling decision is a pure function of doc_id, so
    reruns, retries, and different partitionings all select the SAME
    documents — unlike rdd-sample-based spigots, this is the
    train/eval-split discipline a reproducible pipeline needs. Fully
    oracled (the first sampling query that can be): both engines
    compute identical integers."""
    d = load_table(spark, sf_dir, "documents")
    # fold mod 1e9+7 before the Knuth multiply (ANSI-overflow rule):
    # bare doc_id * 2654435761 overflows 2^63 past doc_id ~3.4e9
    return d.filter(
        ((F.col("doc_id") % F.lit(1000000007)) * F.lit(2654435761))
        % F.lit(4294967296)
        < 429496730
    ).select("doc_id", "lang", "source", "n_chars")


# Cosine between two vectors over the 64 dims (llm_knn idiom), all
# accumulation in DOUBLE.
_COS = (
    "SUM(CAST({a}[r.i] AS DOUBLE) * CAST({b}[r.i] AS DOUBLE))"
    " / (sqrt(SUM(CAST({a}[r.i] AS DOUBLE) * CAST({a}[r.i] AS DOUBLE)))"
    " * sqrt(SUM(CAST({b}[r.i] AS DOUBLE) * CAST({b}[r.i] AS DOUBLE))))"
)

_K, _OVERFETCH = 5, 25

INT8_RERANK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), mm AS (
  SELECT vec_id, dv,
    list_aggregate(dv, 'min') AS qmin, list_aggregate(dv, 'max') AS qmax
  FROM v
), dq AS (
  SELECT vec_id,
    CASE WHEN qmax = qmin THEN list_transform(dv, x -> qmin)
         ELSE list_transform(dv, x ->
           (CAST(CAST(floor((x - qmin) / (qmax - qmin) * 255 + 0.5) AS INTEGER) - 128
             AS DOUBLE) + 128) / 255 * (qmax - qmin) + qmin)
    END AS w
  FROM mm
), e AS (SELECT vec_id, embedding AS fv FROM embeddings),
stage1 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_COS.format(a="q.fv", b="c.w")} DESC, c.vec_id
      ) AS rn1
    FROM e q, dq c, range(1, 65) r(i)
    WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
    GROUP BY q.vec_id, c.vec_id
  ) WHERE rn1 <= {_OVERFETCH}
),
rerank AS (
  SELECT s.query_id, s.neighbor_id, {_COS.format(a="q.fv", b="c.fv")} AS cs
  FROM stage1 s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e c ON c.vec_id = s.neighbor_id, range(1, 65) r(i)
  GROUP BY s.query_id, s.neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, rn FROM (
  SELECT query_id, neighbor_id, cs,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rn
  FROM rerank
) WHERE rn <= {_K}
"""


@query("knn_int8_rerank", oracle=INT8_RERANK_ORACLE, category="llm-knn")
def knn_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve-rerank, the production ANN discipline: stage
    1 scans the int8-COMPRESSED corpus (4x less bandwidth — at 100 TB
    the candidate scan reads codes, never full vectors) for top-25
    candidates per full-precision query; stage 2 joins only those
    25/query back to full-precision vectors for the exact top-5.
    Fully deterministic end to end (quantization is floor-rounded,
    both ranks tie-break on neighbor_id), so the whole two-stage
    pipeline is hash-oracled — unlike LSH-style candidate generation,
    compression loss here is verifiable, not just recall-gated."""
    from ..functions.vectors import cosine, dequantize_int8, l2_norm
    from ..operators.similarity import knn_bruteforce
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    e = load_table(spark, sf_dir, "embeddings")
    dq = (
        e.withColumn("__dv", F.transform("embedding", lambda x: x.cast("double")))
        .withColumn("qmin", F.array_min("__dv"))
        .withColumn("qmax", F.array_max("__dv"))
        .select(
            "vec_id",
            dequantize_int8(
                quantize_int8("__dv", "qmin", "qmax"), "qmin", "qmax"
            ).alias("embedding"),
        )
    )
    q = e.filter(F.col("vec_id") < 20)
    stage1 = knn_bruteforce(q, dq, k=_OVERFETCH, round_dp=None).select(
        "query_id", "neighbor_id"
    )
    fv_c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        l2_norm("embedding").alias("__cn"),
    )
    fv_q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        l2_norm("embedding").alias("__qn"),
    )
    rerank = (
        stage1.join(fv_c, "neighbor_id")
        .join(broadcast(fv_q), "query_id")
        .select(
            "query_id", "neighbor_id",
            cosine("__qv", "__qn", "__cv", "__cn").alias("__cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__cs").desc(), "neighbor_id")
    return (
        rerank.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _K)
        .select("query_id", "neighbor_id", F.round("__cs", 6).alias("cos_sim"), "rn")
    )


_CHUNK_W, _CHUNK_STRIDE = 64, 48

CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS t, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n
  FROM documents
), starts AS (
  SELECT doc_id, t, n, unnest(range(0, greatest(n, 1), {_CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id, CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
  s AS start_tok,
  CAST(least(n - s, {_CHUNK_W}) AS BIGINT) AS chunk_len,
  array_to_string(list_slice(t, s + 1, least(s + {_CHUNK_W}, n)), ' ')
    AS chunk_text
FROM starts
"""


@query("doc_chunk_overlap", oracle=CHUNK_ORACLE, category="llm-pack")
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (RAG / long-context prep):
    window of 64 tokens advancing by 48 (16-token overlap keeps
    context across boundaries). Pure JVM expressions — tokenize once,
    sequence() the chunk starts, explode, slice — no Python in the
    path, no shuffle at all (narrow per-row fan-out, ~n_tokens/stride
    chunks per doc), so it streams at scan speed at any corpus size.
    The trailing chunk is the natural remainder (< window tokens)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        tokenize_ws("text").alias("t"),
    ).withColumn("n", F.size("t").cast("bigint"))
    starts = toks.select(
        "doc_id", "t", "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.greatest(F.col("n") - 1, F.lit(0).cast("bigint")),
                F.lit(_CHUNK_STRIDE).cast("bigint"),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        F.floor(F.col("s") / _CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.col("s").alias("start_tok"),
        F.least(F.col("n") - F.col("s"), F.lit(_CHUNK_W).cast("bigint"))
        .cast("bigint")
        .alias("chunk_len"),
        F.concat_ws(
            " ", F.slice(F.col("t"), F.col("s").cast("int") + 1, _CHUNK_W)
        ).alias("chunk_text"),
    )


MANIFEST_ORACLE = f"""
WITH quality AS (
  SELECT doc_id, text, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM documents WHERE n_chars >= 100
),
deduped AS (
  SELECT * FROM quality
  WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY md5(text))
),
train AS (
  SELECT doc_id, n_tokens FROM deduped
  WHERE ((doc_id % 1000000007) * 2654435761) % 4294967296 >= 429496730
),
packed AS (
  SELECT doc_id, n_tokens,
    CAST((SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_tokens) // {_CTX} AS BIGINT) AS bin_id
  FROM train
)
SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY bin_id
"""


@query("llm_training_manifest", oracle=MANIFEST_ORACLE, category="llm-pack")
def llm_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-batch manifest composing the §2.12 stack in
    one declarative pipeline: length gate → exact dedup (sha2-keyed,
    min-doc_id winner) → deterministic hash-mod train split (the ~90%
    complement of the eval sample) → concat-then-chunk packing →
    per-context-window manifest (docs starting in each bin, their
    token mass, first/last doc). Each stage is one shuffle at most;
    the whole chain stays hash-oracled because every stage is
    deterministic — this is the query a pipeline runs nightly to know
    what the next training epoch reads."""
    from ..operators.dedup import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    quality = d.filter(F.col("n_chars") >= 100).select(
        "doc_id", "text", F.size(tokenize_ws("text")).cast("bigint").alias("n_tokens")
    )
    deduped = exact_dedup(quality, cols=["text"], tie_break=["doc_id"])
    train = deduped.filter(
        ((F.col("doc_id") % F.lit(1000000007)) * F.lit(2654435761))
        % F.lit(4294967296)
        >= 429496730
    ).select("doc_id", "n_tokens")
    packed = pack_concat_chunk(
        train, id_col="doc_id", len_col="n_tokens", ctx_len=_CTX,
        shard_span=_SHARD_SPAN,
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# Per-lang (base_copies, extra_threshold) resampling plan in pure
# integer math: a doc yields base copies plus one more when its
# Knuth-hash uniform u < threshold (thresholds are exact multiples of
# 2^31, so both engines compare identical BIGINTs — no float rates).
_MIX_PLAN = {
    "en": (0, 2147483648),  # 0.5x downsample
    "de": (1, 0),           # keep
    "es": (2, 0),           # 2x upsample
    "fr": (2, 2147483648),  # 2.5x upsample
    "zh": (0, 0),           # drop
}

_MIX_BASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{l}' THEN {b}" for l, (b, _) in _MIX_PLAN.items())
    + " ELSE 1 END"
)
_MIX_THR_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{l}' THEN {t}" for l, (_, t) in _MIX_PLAN.items())
    + " ELSE 0 END"
)

MIX_RESAMPLE_ORACLE = f"""
WITH plan AS (
  SELECT doc_id, lang, source,
    {_MIX_BASE_SQL}
      + CASE WHEN ((doc_id % 1000000007) * 2654435761) % 4294967296
               < {_MIX_THR_SQL}
             THEN 1 ELSE 0 END AS n_copies
  FROM documents
)
SELECT doc_id, lang, source, CAST(t.g AS BIGINT) AS rep
FROM plan, unnest(generate_series(1, n_copies)) AS t(g)
WHERE n_copies > 0
"""


@query("corpus_mix_resample", oracle=MIX_RESAMPLE_ORACLE, category="llm-curation")
def corpus_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: reweight languages to a target mix
    by integer-exact replicate-or-drop — each doc yields base_copies
    plus one extra iff its Knuth-hash uniform clears the per-lang
    threshold (fractional rates as exact 2^31 multiples, so the whole
    decision is BIGINT math and fully oracled — the standard
    domain-reweighting step in training-data pipelines, reproducible
    across reruns and partitionings). Replication is a narrow explode
    (no shuffle); downsampling is a scan-level filter."""
    d = load_table(spark, sf_dir, "documents")
    plan = d.select(
        "doc_id",
        "lang",
        "source",
        (
            F.expr(_MIX_BASE_SQL)
            # fold doc_id mod 1e9+7 BEFORE the Knuth multiply: bare
            # doc_id * 2654435761 overflows 2^63 once ids pass ~3.4e9
            # (ANSI-mode error on Spark, silent int128 widening in
            # DuckDB — the oracle would diverge instead of erroring)
            + F.when(
                ((F.col("doc_id") % F.lit(1000000007)) * F.lit(2654435761))
                % F.lit(4294967296)
                < F.expr(_MIX_THR_SQL),
                1,
            ).otherwise(0)
        ).alias("n_copies"),
    ).filter(F.col("n_copies") > 0)
    # filter-before-sequence matters: Spark's sequence(1, 0) counts
    # DOWN ([1,0]) instead of returning empty like generate_series
    return plan.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.sequence(F.lit(1).cast("bigint"), F.col("n_copies").cast("bigint"))
        ).alias("rep"),
    )


_BUCKET_SQL = (
    "CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32 "
    "WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128 "
    "WHEN n_tokens <= 256 THEN 256 ELSE 512 END"
)

LENGTH_BUCKET_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
bucketed AS (
  SELECT doc_id, n_tokens, CAST({_BUCKET_SQL} AS BIGINT) AS bucket_len,
    ROW_NUMBER() OVER (
      PARTITION BY {_BUCKET_SQL} ORDER BY doc_id) AS rn
  FROM sized
)
SELECT bucket_len, CAST(floor((rn - 1) / 8.0) AS BIGINT) AS batch_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(COUNT(*) AS BIGINT) * bucket_len - CAST(SUM(n_tokens) AS BIGINT)
    AS pad_tokens
FROM bucketed
GROUP BY bucket_len, CAST(floor((rn - 1) / 8.0) AS BIGINT)
"""


@query("length_bucket_packing", oracle=LENGTH_BUCKET_ORACLE, category="llm-curation")
def length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch packing (the dynamic-padding trainer
    feed): docs land in power-of-2 token buckets, each bucket is cut
    into fixed-size batches in deterministic doc_id order, and every
    batch reports its padding waste — the quantity this layout
    minimizes vs naive global batching. Scale path (round 5): with
    only ~6 coarse buckets a per-bucket window is corpus-sized at
    100 TB, so the global row number is computed the same two-phase
    way as pack_concat_chunk — a (bucket, id-range-shard) local
    row_number at scan parallelism, plus per-(bucket, shard) counts
    collected to the driver (6 x n/shard_span rows), prefix-summed in
    Python, and re-shipped as literal base offsets. Counts are
    integers, so the result is EXACTLY the global window's — the
    oracle keeps the global ROW_NUMBER."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.size(tokenize_ws("text")).cast("bigint").alias("n_tokens")
    )
    # persist the NARROW frame (4 bigint-ish cols, no text): the
    # counts job below is a second full pass — without this it would
    # re-tokenize the whole corpus
    bucketed = (
        sized.withColumn("bucket_len", F.expr(_BUCKET_SQL).cast("bigint"))
        .withColumn("__shard", F.expr(f"doc_id div {_SHARD_SPAN}"))
        .persist()
    )
    w_local = Window.partitionBy("bucket_len", "__shard").orderBy("doc_id")
    local = bucketed.withColumn("__lrn", F.row_number().over(w_local))
    counts = sorted(
        bucketed.groupBy("bucket_len", "__shard").count().collect(),
        key=lambda r: (r["bucket_len"], r["__shard"]),
    )
    rows, running, cur = [], 0, None
    for r in counts:
        if r["bucket_len"] != cur:
            cur, running = r["bucket_len"], 0
        rows.append((r["bucket_len"], r["__shard"], running))
        running += r["count"]
    bases = spark.createDataFrame(
        rows, "bucket_len bigint, __shard bigint, __base bigint"
    )
    batched = local.join(F.broadcast(bases), ["bucket_len", "__shard"]).withColumn(
        "batch_id", F.expr("(__base + __lrn - 1) div 8")
    )
    return batched.groupBy("bucket_len", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        (F.count("*") * F.first("bucket_len") - F.sum("n_tokens")).alias(
            "pad_tokens"
        ),
    )


_RS_N = 1000          # resample size (number of drawn positions)
_RS_SHARD = 250       # doc_id span per prefix-sum shard

RESAMPLE_SYS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents
), cum AS (
  SELECT doc_id, wt,
    CAST(SUM(wt) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - wt AS BIGINT)
      AS cum_lo
  FROM w
), tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS total FROM w),
rng AS (
  SELECT c.doc_id, c.wt, c.cum_lo,
    -- odd integers m with m*total in [2N*cum_lo, 2N*(cum_lo+wt)):
    -- m >= ceil(A/total), m <= ceil(B/total) - 1
    (2 * {_RS_N} * c.cum_lo + t.total - 1) // t.total AS mlo,
    (2 * {_RS_N} * (c.cum_lo + c.wt) + t.total - 1) // t.total - 1 AS mhi
  FROM cum c, tot t
)
SELECT doc_id, wt, CAST(cum_lo AS BIGINT) AS cum_lo,
  CAST((mhi + 1) // 2 - mlo // 2 AS BIGINT) AS n_copies
FROM rng
WHERE mhi >= mlo AND (mhi + 1) // 2 - mlo // 2 > 0
"""


@query(
    "sample_weighted_systematic", oracle=RESAMPLE_SYS_ORACLE, category="llm-curation"
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted resampling WITH replacement (systematic
    / low-variance bootstrap): N = 1000 equally-spaced positions over
    the cumulative weight line select documents proportionally to
    weight (n_chars) — heavy docs draw multiple copies, light docs
    may draw none, and the copy counts ALWAYS sum to exactly N (the
    property test). This is the resample-to-target-size primitive
    behind corpus mixing and bagged training sets, with zero RNG
    state: a pure function of the weights.

    Each doc's copy count comes from a closed-form count of odd
    integers m with m*total in [2N*cum_lo, 2N*cum_hi) — all BIGINT
    ceil-division, no doubles. The running weight sum is the sharded
    two-phase prefix sum (literal bases, the r4-flake-proof
    construction), NOT a single-partition window; products stay in
    int64 to total*2N < 2^63 (fold to DECIMAL(38,0) past ~4e15 total
    weight)."""
    from ..operators.packing import sharded_prefix_sum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("wt")
    )
    cum = sharded_prefix_sum(d, id_col="doc_id", len_col="wt", shard_span=_RS_SHARD)
    cum = cum.select(
        "doc_id", "wt", (F.col("__base") + F.col("__local_start")).alias("cum_lo")
    )
    tot = d.agg(F.sum("wt").cast("bigint").alias("total"))
    rng = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "wt",
        "cum_lo",
        F.expr(f"(2 * {_RS_N} * cum_lo + total - 1) DIV total").alias("mlo"),
        F.expr(
            f"(2 * {_RS_N} * (cum_lo + wt) + total - 1) DIV total - 1"
        ).alias("mhi"),
    )
    return rng.filter(F.col("mhi") >= F.col("mlo")).select(
        "doc_id",
        "wt",
        F.col("cum_lo").cast("bigint").alias("cum_lo"),
        F.expr("(mhi + 1) DIV 2 - mlo DIV 2").cast("bigint").alias("n_copies"),
    ).filter(F.col("n_copies") > 0)
