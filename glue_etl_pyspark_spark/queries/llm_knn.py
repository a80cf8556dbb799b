"""Similarity-search queries over embeddings (SURVEY.md §2.12):
exact brute-force knn (the correctness anchor), deterministic IVF
(the oracle-checkable scale path), LSH (randomized scale path,
rows-only + recall tests), embedding near-dup pairs, and the
multimodal feature-extraction plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.multimodal import attach_media, extract_features, resize_media
from ..functions.vectors import cosine, l2_norm
from ..operators.similarity import (
    embedding_dup_pairs,
    ivf_build,
    ivf_knn,
    knn_bruteforce,
    lsh_knn,
)
from ..registry import query

# Shared SQL fragment: cosine between two vectors a.v / b.v summed
# over the 64 dims, all accumulation in DOUBLE (float32 accumulation
# drifts ~1e-8 — SURVEY.md §8.3).
_COS = (
    "SUM(CAST({a}[r.i] AS DOUBLE) * CAST({b}[r.i] AS DOUBLE))"
    " / (sqrt(SUM(CAST({a}[r.i] AS DOUBLE) * CAST({a}[r.i] AS DOUBLE)))"
    " * sqrt(SUM(CAST({b}[r.i] AS DOUBLE) * CAST({b}[r.i] AS DOUBLE))))"
)

# Zero-norm-safe twin: NULLIF on the norm product turns a 0/0 into NULL
# instead of NaN (which would ERROR under a downstream CAST(floor(...))
# in both engines). Bit-identical to _COS whenever both norms are
# non-zero — NULLIF(x, 0) returns x itself, no extra float op on the
# live path — so swapping it in cannot move a hash.
_COS_SAFE = (
    "SUM(CAST({a}[r.i] AS DOUBLE) * CAST({b}[r.i] AS DOUBLE))"
    " / NULLIF(sqrt(SUM(CAST({a}[r.i] AS DOUBLE) * CAST({a}[r.i] AS DOUBLE)))"
    " * sqrt(SUM(CAST({b}[r.i] AS DOUBLE) * CAST({b}[r.i] AS DOUBLE))), 0)"
)

KNN_BRUTE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {_COS.format(a="q.v", b="c.v")} AS cs
  FROM e q, e c, range(1, 65) r(i)
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, rn FROM (
  SELECT query_id, neighbor_id, cs,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rn
  FROM sims
) WHERE rn <= 5
"""


@query("knn_bruteforce_cosine", oracle=KNN_BRUTE_ORACLE, category="llm-knn")
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 20.
    Query side broadcast (documented cross-join bound); dot products
    are JVM-side zip_with/aggregate — no UDF, no collect."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(e.filter(F.col("vec_id") < 20), e, k=5)


# One deterministic Lloyd iteration in SQL: assign every vector to its
# nearest current centroid (cosine, cent_id tie-break), then recompute
# each centroid as the per-dimension mean floor-scaled to 6 dp (so the
# mean's float summation order can't drift between engines).
def _lloyd_cte(prev: str, sfx: str, src: str = "e") -> str:
    """``src`` is the TRAINING relation: "e" (full corpus) for the
    bounded jittered-corpus oracles, "et" (the vec_id % train_stride
    sample) for the data-scaled ones — mirroring
    ivf_build(train_stride=...)."""
    return f"""
s{sfx} AS (
  SELECT a.vec_id, c.cent_id, {_COS.format(a="a.v", b="c.cv")} AS cs
  FROM {src} a, {prev} c, range(1, 65) r(i)
  GROUP BY a.vec_id, c.cent_id
),
a{sfx} AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM s{sfx}) WHERE rn = 1
),
c{sfx} AS (
  SELECT cent_id, list(m ORDER BY i) AS cv FROM (
    SELECT a{sfx}.cent_id, r.i,
      floor(AVG(CAST({src}.v[r.i] AS DOUBLE)) * 1e6) / 1e6 AS m
    FROM a{sfx} JOIN {src} ON {src}.vec_id = a{sfx}.vec_id, range(1, 65) r(i)
    GROUP BY a{sfx}.cent_id, r.i)
  GROUP BY cent_id
)"""


# Adaptive stride pair for the DATA-SCALED IVF oracles — the exact SQL
# twin of operators.similarity.ivf_auto_strides (GREATEST/floor(sqrt)/
# integer // mirror max/math.floor(math.sqrt)/.// bit-for-bit for any
# corpus below ~1e13 rows). c0/et then select on these scalars.
# ``et`` mirrors ivf_build's empty-strided-train fallback (ADVICE r12):
# a sparse/offset vec_id domain can stride the training sample to zero
# rows, where Spark falls back to the full corpus — without the UNION
# branch the oracle would train on nothing and silently return zero
# rows while Spark returns real neighbors. ``_ivf_strides_cte`` is
# parameterized on the train-stride expression ONLY so the fallback
# branch is unit-testable (auto ts > 1 needs >= 65536 vectors);
# production oracles use the adaptive default.
def _ivf_strides_cte(ts_expr: str = "GREATEST(1, cs // 256)") -> str:
    return f"""
p AS (
  SELECT GREATEST(31, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))
    AS cs FROM e
),
p2 AS (SELECT cs, {ts_expr} AS ts FROM p),
et0 AS (SELECT e.* FROM e, p2 WHERE e.vec_id % p2.ts = 0),
et AS (SELECT * FROM et0
       UNION ALL
       SELECT e.* FROM e WHERE NOT EXISTS (SELECT 1 FROM et0))"""


_IVF_STRIDES_CTE = _ivf_strides_cte()


KNN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
{_IVF_STRIDES_CTE},
c0 AS (SELECT vec_id AS cent_id,
         list_transform(v, x -> CAST(x AS DOUBLE)) AS cv
       FROM e, p2 WHERE vec_id % p2.cs = 0),
{_lloyd_cte("c0", "1", src="et")},
{_lloyd_cte("c1", "2", src="et")},
cent_sims AS (
  SELECT a.vec_id, c.cent_id, {_COS.format(a="a.v", b="c.cv")} AS cs
  FROM e a, c2 c, range(1, 65) r(i)
  GROUP BY a.vec_id, c.cent_id
),
assign AS (
  SELECT vec_id AS neighbor_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM cent_sims) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM cent_sims WHERE vec_id < 20) WHERE rn <= 10
),
cand AS (
  SELECT p.query_id, m.neighbor_id
  FROM probes p JOIN assign m USING (cent_id)
  WHERE p.query_id <> m.neighbor_id
),
cand_sims AS (
  SELECT cd.query_id, cd.neighbor_id, {_COS.format(a="q.v", b="n.v")} AS cs
  FROM cand cd
  JOIN e q ON q.vec_id = cd.query_id
  JOIN e n ON n.vec_id = cd.neighbor_id,
  range(1, 65) r(i)
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, rn FROM (
  SELECT query_id, neighbor_id, cs,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rn
  FROM cand_sims
) WHERE rn <= 5
"""


@query("knn_ivf", oracle=KNN_IVF_ORACLE, category="llm-knn")
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-level knn with a k-means coarse quantizer trained by two
    deterministic Lloyd iterations (stride init, floor-scaled means, id
    tie-breaks) — deterministic end-to-end and therefore fully
    oracle-checked: train → assign → probe 10 clusters → exact rerank.
    Candidate generation is an equi-join on cent_id; recall vs brute
    force is gated ≥0.8 in tests/test_llm_ops.py (measured 0.87 at
    sf0.01). Measured honestly across scales: this synthetic corpus is
    NEAR-RANDOM, so recall tracks the probed fraction — 0.87 at
    nprobe 10/17 cents (sf0.01) but 0.58 at 10/161 (sf0.1). On real
    embedding corpora the cluster structure IVF exploits exists and
    fixed nprobe holds recall as ncents grows; for structureless data,
    production tuning raises nprobe to meet a recall SLO (the operator
    takes it as a parameter; here it is pinned so the oracle stays a
    literal). r12: strides are DATA-ADAPTIVE (ncents ~ sqrt(n),
    ~256-per-centroid training sample — ivf_auto_strides), mirrored in
    the oracle's p2/et CTEs; at sf0.01 the formula reduces to the
    historical stride 31, so driver-scale values are unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_knn(
        e.filter(F.col("vec_id") < 20), e, k=5, nprobe=10,
        centroid_stride=None, lloyd_iters=2, train_stride=None,
    )


@query("knn_lsh", oracle=None, category="llm-knn")
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH knn on unit vectors (seed=42) — the
    randomized scale path; rows-only + recall-vs-bruteforce test."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_knn(e.filter(F.col("vec_id") < 20), e, k=5)


EMB_DEDUP_ORACLE = f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
pert AS (
  SELECT vec_id + 10000 AS vec_id,
    list_append(list_transform(embedding[1:63], x -> CAST(x AS DOUBLE)),
                CAST(embedding[64] AS DOUBLE) + 0.05) AS v
  FROM base
),
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base
  UNION ALL SELECT vec_id, v FROM pert
),
sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS.format(a="a.v", b="b.v")} AS cs
  FROM corpus a, corpus b, range(1, 65) r(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM sims WHERE cs >= 0.99
"""


def _twin_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 vectors ∪ slightly-perturbed twins (vec_id+10000) —
    the planted-near-dup fixture shared by both dedup-pair paths."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    base = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    pert = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.transform(F.slice("embedding", 1, 63), lambda x: x.cast("double")),
            F.array(F.element_at("embedding", 64).cast("double") + 0.05),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


@query("embedding_dedup_pairs", oracle=EMB_DEDUP_ORACLE, category="llm-knn")
def embedding_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical embedding detection: emits pairs with cosine ≥
    0.99 over the planted-twin corpus. All-pairs here is the
    small-n correctness anchor (hash-checked vs the SQL oracle);
    embedding_dedup_pairs_lsh is the same verify over LSH-generated
    candidates — the 100 TB path."""
    return embedding_dup_pairs(
        _twin_corpus(spark, sf_dir), "vec_id", "embedding", min_cos=0.99
    )


@query("embedding_dedup_pairs_lsh", oracle=None, category="llm-knn")
def embedding_dedup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for near-identical embedding detection:
    LSH-bucketed candidate generation (equi-joins, no cross product)
    with the identical exact cosine ≥ 0.99 verify. Randomized
    (seed-stable) → rows-only here; the planted-twin recall gate vs
    the all-pairs twin lives in tests/test_llm_ops.py."""
    return embedding_dup_pairs(
        _twin_corpus(spark, sf_dir), "vec_id", "embedding", min_cos=0.99,
        method="lsh",
    )


@query("multimodal_features", oracle=None, category="llm-multimodal")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents' bytes stand in for media
    payloads (binary column + mime metadata), features extracted by an
    Arrow-batched mapInPandas kernel (deterministic stub where a real
    codec would slot in). Rows-only: the sha256/feature math is
    byte-level Python, not SQL-expressible. The float feature vector
    is serialized to a JSON string at this driver boundary (the r3
    driver canonicalizer can't hash list cells); the operator itself
    stays array-typed."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_media(d, "doc_id", "text", "text/plain")
    feats = extract_features(media, dim=8)
    return feats.withColumn("feature", F.to_json("feature"))


@query("knn_bruteforce_numpy", oracle=KNN_BRUTE_ORACLE, category="llm-knn")
def knn_bruteforce_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact knn through the Arrow/numpy GEMM kernel
    (operators.similarity.knn_bruteforce_batch) — ~4x the expression
    version; shares the brute-force oracle. This kernel is what the
    IVF/LSH scale paths plug in for cluster-local reranking."""
    from ..operators.similarity import knn_bruteforce_batch

    e = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce_batch(e.filter(F.col("vec_id") < 20), e, k=5)


MM_FINGERPRINT_ORACLE = """
WITH b AS (
  SELECT doc_id AS id, sha256(text) AS sha256,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
),
bytes AS (
  SELECT id, sha256, n_bytes,
    list_transform(range(1, 33), i ->
      (strpos('0123456789abcdef', substring(sha256, 2*i-1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substring(sha256, 2*i, 1)) - 1)) AS bs
  FROM b
)
SELECT id, sha256, n_bytes,
  round(list_sum(bs) / (255.0 * 32), 6) AS feat_mean
FROM bytes
"""


@query("multimodal_fingerprint", oracle=MM_FINGERPRINT_ORACLE, category="llm-multimodal")
def multimodal_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal mapInPandas path, hash-checked: the Arrow-batched
    Python kernel's digest/size/feature-mean outputs are reproduced in
    pure SQL by the oracle (sha256 + hex-parsed byte math), so the
    §2.12 multimodal family gets a full value-checked row — not just
    the rows-only determinism test. Atomic columns only (the float
    feature vector stays on the rows-only query)."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_media(d, "doc_id", "text", "text/plain")
    feats = extract_features(media, dim=8)
    return feats.select(
        "id", "sha256", "n_bytes", F.round("feat_mean", 6).alias("feat_mean")
    )


def _jittered_cluster_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 seed vectors × 50 deterministically-jittered copies each
    (ids 100000+s*50+c): a corpus WITH the cluster structure real
    embedding collections have — the construction is pure integer/
    float arithmetic, so DuckDB reproduces it bit-for-bit."""
    seeds = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    copies = spark.range(50).select(F.col("id").alias("__c"))
    # __cid must be a SEPARATE column before the final projection:
    # aliasing the id as "vec_id" in the same select would make a
    # lambda's F.col("vec_id") resolve to the LATERAL column alias
    # (the new id), silently changing the jitter (found by the oracle
    # hash mismatch — exactly what the cross-engine check is for).
    staged = seeds.crossJoin(copies).withColumn(
        "__cid", F.lit(100000) + F.col("vec_id") * 50 + F.col("__c")
    )
    return staged.select(
        F.col("__cid").alias("vec_id"),
        F.zip_with(
            "embedding",
            F.sequence(F.lit(1), F.lit(64)),
            lambda x, i: x.cast("double")
            + ((F.col("__cid") * 31 + i * 7) % 11 - 5) * 0.004,
        ).alias("embedding"),
    )


KNN_IVF_CLUSTERED_ORACLE = f"""
WITH e AS (
  SELECT 100000 + s.vec_id * 50 + c.c AS vec_id,
    list_transform(range(1, 65), i -> CAST(s.embedding[i] AS DOUBLE)
      + (((100000 + s.vec_id * 50 + c.c) * 31 + i * 7) % 11 - 5) * 0.004) AS v
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) s,
       range(0, 50) c(c)
),
q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 20),
c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 31 = 0),
{_lloyd_cte("c0", "1")},
{_lloyd_cte("c1", "2")},
cent_sims AS (
  SELECT a.vec_id, c.cent_id, {_COS.format(a="a.v", b="c.cv")} AS cs
  FROM e a, c2 c, range(1, 65) r(i)
  GROUP BY a.vec_id, c.cent_id
),
assign AS (
  SELECT vec_id AS neighbor_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM cent_sims) WHERE rn = 1
),
q_sims AS (
  SELECT a.vec_id, c.cent_id, {_COS.format(a="a.v", b="c.cv")} AS cs
  FROM q a, c2 c, range(1, 65) r(i)
  GROUP BY a.vec_id, c.cent_id
),
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM q_sims) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, m.neighbor_id
  FROM probes p JOIN assign m USING (cent_id)
),
cand_sims AS (
  SELECT cd.query_id, cd.neighbor_id, {_COS.format(a="qq.v", b="n.v")} AS cs
  FROM cand cd
  JOIN q qq ON qq.vec_id = cd.query_id
  JOIN e n ON n.vec_id = cd.neighbor_id,
  range(1, 65) r(i)
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, rn FROM (
  SELECT query_id, neighbor_id, cs,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rn
  FROM cand_sims
) WHERE rn <= 5
"""


@query("knn_ivf_clustered", oracle=KNN_IVF_CLUSTERED_ORACLE, category="llm-knn")
def knn_ivf_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF on data WITH cluster structure — the case the index exists
    for: 20 seed clusters × 50 jittered members; each seed queries the
    1000-vector corpus probing only 2 of ~33 trained centroids (6% of
    the corpus) and still recovers the true top-5 (recall ≥0.9 gated
    in tests/test_llm_ops.py; measured 0.99). Deterministic
    construction + trainer ⇒ hash-checked end-to-end. Contrast with
    knn_ivf over the near-random table, where recall tracks probe
    fraction — structure, not magic, is what IVF exploits."""
    seeds = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    corpus = _jittered_cluster_corpus(spark, sf_dir)
    return ivf_knn(seeds, corpus, k=5, nprobe=2, centroid_stride=31, lloyd_iters=2)


LABEL_PURITY_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
    c.vec_id AS neighbor_id, c.label AS n_label,
    {_COS.format(a="q.v", b="c.v")} AS cs
  FROM e q, e c, range(1, 65) r(i)
  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, q.label, c.vec_id, c.label
),
topk AS (
  SELECT query_id, q_label, n_label FROM (
    SELECT query_id, q_label, n_label,
      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        AS rn
    FROM sims
  ) WHERE rn <= 5
)
SELECT query_id, CAST(q_label AS INT) AS q_label,
  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_same_label,
  floor(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) * 1e6 / 5) / 1e6
    AS purity
FROM topk GROUP BY query_id, q_label
"""


@query("knn_label_purity", oracle=LABEL_PURITY_ORACLE, category="llm-knn")
def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation against ground-truth labels (the
    embeddings fixture carries one): top-5 cosine neighbors per query,
    scored by label purity — the recall-eval loop every embedding-
    search deployment runs. The knn stage is the exact brute-force
    kernel (documented bound: 50 queries broadcast); purity is an
    integer ratio floored at 6 dp."""
    e = load_table(spark, sf_dir, "embeddings")
    nn = knn_bruteforce(e.filter(F.col("vec_id") < 50), e, k=5)
    q_labels = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    n_labels = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    return (
        nn.join(F.broadcast(q_labels), "query_id")
        .join(F.broadcast(n_labels), "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.sum(F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_same_label")
        )
        .select(
            "query_id",
            F.col("q_label").cast("int").alias("q_label"),
            "n_same_label",
            (F.floor(F.col("n_same_label") * 1e6 / 5) / 1e6).alias("purity"),
        )
    )


RESIZE_META_ORACLE = """
SELECT doc_id AS id, 'text/plain' AS mime,
  8 AS width, 8 AS height,
  CAST(64 AS BIGINT) AS out_len,
  sha256(text) AS head32
FROM documents
"""


@query("multimodal_resize_meta", oracle=RESIZE_META_ORACLE, category="llm-multimodal")
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas resize kernel, value-checked: the stub's output
    payload is an iterated-sha256 stream, so its FIRST 32 bytes equal
    sha256(input) — which DuckDB computes directly from the text. That
    pins the Arrow batch plumbing, output sizing (width*height bytes),
    and metadata propagation with a real hash oracle; the codec seam
    itself stays stubbed (no image libs here), exactly like
    multimodal_fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_media(d, "doc_id", "text", "text/plain")
    resized = resize_media(media, width=8, height=8)
    return resized.select(
        "id",
        "mime",
        "width",
        "height",
        F.octet_length("media").cast("bigint").alias("out_len"),
        F.lower(F.hex(F.expr("substring(media, 1, 32)"))).alias("head32"),
    )


# --- product quantization (PQ) + ADC search ------------------------

_PQ_M = 4        # subspaces
_PQ_DSUB = 16    # dims per subspace (64-dim embeddings)
_PQ_K = 8        # codebook size per subspace (seeds = 8 lowest ids)
_PQ_NQ = 20      # query vectors: vec_id < 20
_PQ_TOPK = 5

# per-subspace squared L2 over the 16 slice dims (SUM over the range
# table — the _COS accumulation precedent), floored at 6 dp before any
# ranking so assignment/tie-break order is grid-pinned on both engines
_PQ_L2 = (
    "floor(SUM((CAST({a}[r.i] AS DOUBLE) - CAST({b}[r.i] AS DOUBLE))"
    " * (CAST({a}[r.i] AS DOUBLE) - CAST({b}[r.i] AS DOUBLE))) * 1e6) / 1e6"
)

_PQ_CORE_CTES = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sv AS (
  SELECT vec_id, s.sub, list_slice(v, s.sub*{_PQ_DSUB}+1, s.sub*{_PQ_DSUB}+{_PQ_DSUB}) AS x
  FROM e, (SELECT unnest(range(0, {_PQ_M})) AS sub) s
),
seeds AS (SELECT vec_id AS cent_id FROM e ORDER BY vec_id LIMIT {_PQ_K}),
c0 AS (
  SELECT sub, cent_id, x AS cv FROM sv JOIN seeds ON sv.vec_id = seeds.cent_id
),
d1 AS (
  SELECT s.vec_id, s.sub, c.cent_id, {_PQ_L2.format(a="s.x", b="c.cv")} AS d
  FROM sv s JOIN c0 c USING (sub), range(1, {_PQ_DSUB + 1}) r(i)
  GROUP BY s.vec_id, s.sub, c.cent_id
),
a1 AS (
  SELECT vec_id, sub, cent_id FROM (
    SELECT vec_id, sub, cent_id,
      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS (
  SELECT sub, cent_id, list(m ORDER BY i) AS cv FROM (
    SELECT a1.sub, a1.cent_id, r.i,
      floor(AVG(s.x[r.i]) * 1e6) / 1e6 AS m
    FROM a1 JOIN sv s ON s.vec_id = a1.vec_id AND s.sub = a1.sub,
         range(1, {_PQ_DSUB + 1}) r(i)
    GROUP BY a1.sub, a1.cent_id, r.i)
  GROUP BY sub, cent_id
),
d2 AS (
  SELECT s.vec_id, s.sub, c.cent_id, {_PQ_L2.format(a="s.x", b="c.cv")} AS d
  FROM sv s JOIN c1 c USING (sub), range(1, {_PQ_DSUB + 1}) r(i)
  GROUP BY s.vec_id, s.sub, c.cent_id
),
codes AS (
  SELECT vec_id, sub, cent_id FROM (
    SELECT vec_id, sub, cent_id,
      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn
    FROM d2) WHERE rn = 1
),
adc AS (
  SELECT q.vec_id AS query_id, codes.vec_id AS neighbor_id,
    floor((
      MAX(CASE WHEN codes.sub = 0 THEN q.d END)
      + MAX(CASE WHEN codes.sub = 1 THEN q.d END)
      + MAX(CASE WHEN codes.sub = 2 THEN q.d END)
      + MAX(CASE WHEN codes.sub = 3 THEN q.d END)) * 1e6) / 1e6 AS adc
  FROM codes
  JOIN d2 q ON q.sub = codes.sub AND q.cent_id = codes.cent_id
  WHERE q.vec_id < {_PQ_NQ} AND codes.vec_id <> q.vec_id
  GROUP BY q.vec_id, codes.vec_id
)"""

KNN_PQ_ORACLE = f"""{_PQ_CORE_CTES}
SELECT query_id, neighbor_id, adc, rn FROM (
  SELECT query_id, neighbor_id, adc,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rn
  FROM adc) WHERE rn <= {_PQ_TOPK}
"""

_PQ_SHORTLIST = 25

KNN_PQ_RERANK_ORACLE = f"""{_PQ_CORE_CTES},
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (
        PARTITION BY query_id ORDER BY adc, neighbor_id) AS srn
    FROM adc) WHERE srn <= {_PQ_SHORTLIST}
),
rerank AS (
  SELECT sl.query_id, sl.neighbor_id,
    {_COS.format(a="q.v", b="n.v")} AS cs
  FROM shortlist sl
  JOIN e q ON q.vec_id = sl.query_id
  JOIN e n ON n.vec_id = sl.neighbor_id,
  range(1, 65) r(i)
  GROUP BY sl.query_id, sl.neighbor_id
)
SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim, rn FROM (
  SELECT query_id, neighbor_id, cs,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rn
  FROM rerank) WHERE rn <= {_PQ_TOPK}
"""


def _pq_l2sq_col(a, b):
    diff = F.zip_with(
        a, b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.floor(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x) * 1e6
    ) / 1e6


@query("knn_pq_adc", oracle=KNN_PQ_ORACLE, category="llm-knn")
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the compressed-domain leg of the §2.12 similarity stack
    (IVF probes fewer vectors; PQ shrinks each vector 64x): vectors
    split into 4 x 16-dim subspaces, each trained with one
    deterministic Lloyd round from the 8 lowest-id seeds
    (floor-scaled means — the IVF trainer discipline), then every
    vector is encoded as 4 one-byte codes. Queries keep RAW
    subvectors: per-(query, subspace, centroid) distance tables are
    query-sized and broadcast, and the scan touches only the codes —
    at 100 TB the raw corpus is never read at search time, which IS
    the PQ economics. The per-candidate ADC distance adds the 4 table
    entries in fixed left-to-right order (the handful-of-doubles
    rule) and every distance is floor-pinned before ranking, so the
    whole train -> encode -> search chain is hash-checked against the
    chained-CTE oracle. Measured honestly (tests/test_llm_ops.py):
    recall@5 vs exact is 0.17 at sf0.01 and 0.09 at sf0.1 — these
    synthetic vectors are NEAR-RANDOM, the worst case for any
    quantizer (the knn_ivf caveat, compounded by 64x compression);
    the top-50 ADC shortlist already recovers 0.52 of the exact
    top-5 at sf0.01, which is why production PQ always runs as
    IVF-shortlist -> ADC -> exact rerank (knn_int8_rerank shows the
    rerank leg; knn_pq_rerank IS that composition). The gate pins a
    regression floor, not a quality claim."""
    adc, _ = _pq_adc_frame(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc", "rn")
    )


def _pq_adc_frame(spark: SparkSession, sf_dir: str):
    """Shared PQ chain: train codebooks, encode, ADC-score every
    (query, candidate) pair. Returns (adc frame, raw-vector frame)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice("v", s * _PQ_DSUB + 1, _PQ_DSUB) for s in range(_PQ_M)]
            )
        ).alias("sub", "x"),
    )
    seeds = e.orderBy("vec_id").limit(_PQ_K).select(F.col("vec_id").alias("cent_id"))
    c0 = subs.join(
        F.broadcast(seeds), subs.vec_id == seeds.cent_id
    ).select("sub", "cent_id", F.col("x").alias("cv"))

    def assign(cents):
        d = subs.join(F.broadcast(cents), "sub").withColumn(
            "d", _pq_l2sq_col(F.col("x"), F.col("cv"))
        )
        return d

    d1 = assign(c0)
    a1 = d1.groupBy("vec_id", "sub").agg(
        F.min_by("cent_id", F.struct("d", "cent_id")).alias("cent_id")
    )
    c1 = (
        a1.join(subs, ["vec_id", "sub"])
        .select("sub", "cent_id", F.posexplode("x").alias("i", "val"))
        .groupBy("sub", "cent_id", "i")
        .agg((F.floor(F.avg("val") * 1e6) / 1e6).alias("m"))
        .groupBy("sub", "cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    )
    d2 = assign(c1)
    codes = d2.groupBy("vec_id", "sub").agg(
        F.min_by("cent_id", F.struct("d", "cent_id")).alias("cent_id")
    )
    qd = F.broadcast(
        d2.filter(F.col("vec_id") < _PQ_NQ).select(
            F.col("vec_id").alias("query_id"), "sub", "cent_id", "d"
        )
    )
    adc = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(qd, ["sub", "cent_id"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            *[
                F.max(F.when(F.col("sub") == s, F.col("d"))).alias(f"__d{s}")
                for s in range(_PQ_M)
            ]
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.floor(
                    (F.col("__d0") + F.col("__d1") + F.col("__d2") + F.col("__d3"))
                    * 1e6
                )
                / 1e6
            ).alias("adc"),
        )
    )
    return adc, e


@query("knn_pq_rerank", oracle=KNN_PQ_RERANK_ORACLE, category="llm-knn")
def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ composition: ADC top-25 shortlist over the
    compressed codes, then an EXACT cosine rerank on raw vectors for
    just those candidates — the same two-stage shape as
    knn_int8_rerank, with PQ's 64x compression on the scan leg. At
    100 TB the first stage reads 4 bytes/vector and the second reads
    25 raw vectors per query, so raw-vector bandwidth is
    per-query-bounded instead of corpus-sized. Recall equals the
    shortlist's recall (measured 0.38 at sf0.01 on these structureless
    fixtures — the knn_pq_adc caveat); the rerank fixes ORDERING
    within the shortlist, which on clustered real data is where ADC's
    quantization error actually bites. Fully value-oracled
    end-to-end."""
    adc, e = _pq_adc_frame(spark, sf_dir)
    ws = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    shortlist = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    q = e.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), l2_norm("v").alias("qn")
    )
    n = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), l2_norm("v").alias("nn")
    )
    rer = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .withColumn("cs", cosine("qv", "qn", "nv", "nn"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cs"), "neighbor_id")
    return (
        rer.withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select(
            "query_id", "neighbor_id", F.round("cs", 6).alias("cos_sim"), "rn"
        )
    )


# --- portable random-hyperplane LSH --------------------------------

# 16 deterministic +/-1 hyperplanes over the 64 dims, derived once from
# hashlib.md5 at import and injected as the SAME repr'd literals into
# both engines (the shared-constants rule) — the VALUE-oracled twin of
# the seeded-ml.feature knn_lsh / embedding_dedup_pairs_lsh paths, the
# same upgrade dedup_minhash_portable gave the text-side LSH.
_HP_BITS = 16
_HP_BAND_BITS = 8


def _hp_coef(j: int, i: int) -> float:
    import hashlib

    return 1.0 if hashlib.md5(f"hp:{j}:{i}".encode()).digest()[0] & 1 else -1.0


_HP = [[_hp_coef(j, i) for i in range(64)] for j in range(_HP_BITS)]

_HP_SQL = "\nUNION ALL\n".join(
    f"SELECT {j} AS j, [{', '.join(repr(c) for c in _HP[j])}] AS cv"
    for j in range(_HP_BITS)
)

EMB_LSH_PORTABLE_ORACLE = f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
pert AS (
  SELECT vec_id + 10000 AS vec_id,
    list_append(list_transform(embedding[1:63], x -> CAST(x AS DOUBLE)),
                CAST(embedding[64] AS DOUBLE) + 0.05) AS v
  FROM base
),
corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM base
  UNION ALL SELECT vec_id, v FROM pert
),
hp AS ({_HP_SQL}),
dots AS (
  SELECT c.vec_id, h.j,
    CAST(floor(SUM(h.cv[r.i] * c.v[r.i]) * 1e9) >= 0 AS BIGINT) AS b
  FROM corpus c, hp h, range(1, 65) r(i)
  GROUP BY c.vec_id, h.j
),
bands AS (
  SELECT vec_id, 0 AS band,
    CAST(SUM(CASE WHEN j < {_HP_BAND_BITS} THEN b * (1 << j) ELSE 0 END)
      AS BIGINT) AS key
  FROM dots GROUP BY vec_id
  UNION ALL
  SELECT vec_id, 1,
    CAST(SUM(CASE WHEN j >= {_HP_BAND_BITS}
             THEN b * (1 << (j - {_HP_BAND_BITS})) ELSE 0 END) AS BIGINT)
  FROM dots GROUP BY vec_id
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  CAST(COUNT(*) AS BIGINT) AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
GROUP BY a.vec_id, b.vec_id
"""


@query(
    "embedding_lsh_portable",
    oracle=EMB_LSH_PORTABLE_ORACLE,
    category="llm-knn",
)
def embedding_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH candidate pairs with a VALUE oracle: 16
    sign bits from deterministic +/-1 hyperplanes (cosine LSH), banded
    8+8 into two integer keys; vectors sharing a band bucket become
    candidates. Unlike the seeded-murmur ml.feature LSH paths (rows
    only by necessity), every stage here — hyperplanes, sign bits,
    band keys, bucket join — computes identical values on both
    engines, so the whole chain is hash-checked; the sign decision is
    grid-pinned (floor(dot*1e9) >= 0) so a boundary dot can't flip
    between engines. Corpus = planted-twin fixture (98/100 twins
    collide at sf0.01; recall gated in tests/test_llm_ops.py). Scale:
    the hyperplane table is 16 rows (broadcast), signatures are one
    narrow pass, and candidates come from a band-key equi-join —
    never all-pairs."""
    corpus = _twin_corpus(spark, sf_dir).withColumnRenamed("embedding", "v")
    hp = spark.createDataFrame(
        [(j, _HP[j]) for j in range(_HP_BITS)], "j int, cv array<double>"
    )
    dot = F.aggregate(
        F.zip_with(F.col("cv"), F.col("v"), lambda c, x: c * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dots = corpus.crossJoin(F.broadcast(hp)).select(
        "vec_id", "j", (F.floor(dot * 1e9) >= 0).cast("bigint").alias("b")
    )
    b0 = dots.groupBy("vec_id").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN j < {_HP_BAND_BITS} THEN b * shiftleft(1, j)"
            " ELSE 0 END) AS BIGINT)"
        ).alias("key")
    ).withColumn("band", F.lit(0))
    b1 = dots.groupBy("vec_id").agg(
        F.expr(
            f"CAST(SUM(CASE WHEN j >= {_HP_BAND_BITS}"
            f" THEN b * shiftleft(1, j - {_HP_BAND_BITS}) ELSE 0 END) AS BIGINT)"
        ).alias("key")
    ).withColumn("band", F.lit(1))
    bands = b0.unionByName(b1)
    a = bands.select(F.col("vec_id").alias("id_a"), "band", "key")
    b = bands.select(F.col("vec_id").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )


# --- SemDeDup: semantic dedup via cluster-then-compare ----------------

_SEMDEDUP_TAU = 0.98

SEMDEDUP_ORACLE = f"""
WITH e AS (
  SELECT 100000 + s.vec_id * 50 + c.c AS vec_id,
    list_transform(range(1, 65), i -> CAST(s.embedding[i] AS DOUBLE)
      + (((100000 + s.vec_id * 50 + c.c) * 31 + i * 7) % 11 - 5) * 0.004) AS v
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) s,
       range(0, 50) c(c)
),
c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % 31 = 0),
{_lloyd_cte("c0", "1")},
{_lloyd_cte("c1", "2")},
cent_sims AS (
  SELECT a.vec_id, c.cent_id, {_COS.format(a="a.v", b="c.cv")} AS cs
  FROM e a, c2 c, range(1, 65) r(i)
  GROUP BY a.vec_id, c.cent_id
),
assign AS (
  SELECT vec_id AS neighbor_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM cent_sims) WHERE rn = 1
),
pairs AS (
  SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b
  FROM assign a JOIN assign b
    ON a.cent_id = b.cent_id AND a.neighbor_id < b.neighbor_id
),
pair_sims AS (
  SELECT p.id_a, p.id_b, {_COS.format(a="va.v", b="vb.v")} AS cs
  FROM pairs p
  JOIN e va ON va.vec_id = p.id_a
  JOIN e vb ON vb.vec_id = p.id_b,
  range(1, 65) r(i)
  GROUP BY p.id_a, p.id_b
),
dups AS (SELECT DISTINCT id_b FROM pair_sims WHERE cs >= {_SEMDEDUP_TAU})
SELECT m.neighbor_id AS vec_id, m.cent_id,
  CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS kept
FROM assign m LEFT JOIN dups d ON d.id_b = m.neighbor_id
"""


@query("dedup_semantic_clusters", oracle=SEMDEDUP_ORACLE, category="llm-dedup")
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): cluster the corpus with the
    deterministic k-means coarse quantizer, compare embeddings ONLY
    within a cluster, and drop every vector that has a smaller-id
    in-cluster neighbor above cosine {_SEMDEDUP_TAU} — keep-first
    semantic dedup without the all-pairs cross join. Deterministic
    trainer + portable cosine ⇒ the whole chain (assignment, pair
    threshold, keep flags) is hash-checked against the SQL oracle.

    Scale: the pair stage is an equi-join on cent_id, so the quadratic
    term is bounded per cluster (ncents ~ √n keeps clusters ~√n; a
    runaway cluster gets capped or re-clustered in practice — the
    per-domain-cap treatment). The 1000-vector jittered-cluster corpus
    plants ground truth: ~20 true groups of 50 mutual near-dups, so
    the expected keep set is ~1 per (kmeans-cluster ∩ true group) —
    gated in tests/test_llm_ops.py."""
    corpus = _jittered_cluster_corpus(spark, sf_dir)
    cents, members = ivf_build(corpus, centroid_stride=31, lloyd_iters=2)
    m = members.select("cent_id", F.col("neighbor_id").alias("vec_id"), "vec")
    a = m.select(
        "cent_id",
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("__va"),
        l2_norm("vec").alias("__na"),
    )
    b = m.select(
        "cent_id",
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("__vb"),
        l2_norm("vec").alias("__nb"),
    )
    dups = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cs", cosine("__va", "__na", "__vb", "__nb"))
        .filter(F.col("cs") >= _SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__d", F.lit(1))
    )
    return m.join(dups, "vec_id", "left").select(
        "vec_id",
        "cent_id",
        F.when(F.col("__d").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Chunk -> document embedding pooling (mean pooling, exact fixed point)
# ---------------------------------------------------------------------------

_POOL_CHUNKS = 4  # vec_id div 4 = document id

POOL_ORACLE = f"""
WITH comp AS (
  SELECT vec_id // {_POOL_CHUNKS} AS doc_id,
    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS idx,
    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v6
  FROM embeddings
), dims AS (
  SELECT doc_id, idx, CAST(SUM(v6) AS BIGINT) AS s,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM comp GROUP BY doc_id, idx
)
SELECT doc_id,
  CAST(MAX(n) AS BIGINT) AS n_chunks,
  CAST(COUNT(*) AS BIGINT) AS dim,
  CAST(MAX(CASE WHEN idx = 0 THEN s END) AS BIGINT) AS c0_sum_e6,
  CAST(MAX(CASE WHEN idx = 1 THEN s END) AS BIGINT) AS c1_sum_e6,
  CAST(MAX(CASE WHEN idx = 2 THEN s END) AS BIGINT) AS c2_sum_e6,
  CAST(SUM(s * s) AS BIGINT) AS norm2_sum_e12
FROM dims GROUP BY doc_id
"""


@query("embedding_pool_mean", oracle=POOL_ORACLE, category="llm-knn")
def embedding_pool_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling (the long-document retrieval
    discipline: embed fixed-size chunks, mean-pool per document).
    Components floor-scale to exact 1e6 integers BEFORE summing, so
    the per-dimension pooled sums — and the pooled squared-norm
    aggregate — are pure BIGINT arithmetic: order-invariant across
    partitionings and engines (a double mean over float32 chunks would
    drift under AQE re-plans; the repo's money-sum rule applied to
    vectors). The mean itself is sum/n_chunks — reported as the exact
    scaled sums plus n, which any consumer divides losslessly. Scale:
    one (doc, dim) shuffle, algebraic all the way; n_chunks x dim rows
    per doc, map-side combined."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.expr(f"vec_id div {_POOL_CHUNKS}").alias("doc_id"),
        F.posexplode("embedding").alias("idx", "val"),
    ).select(
        "doc_id",
        "idx",
        F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("v6"),
    )
    dims = comp.groupBy("doc_id", "idx").agg(
        F.sum("v6").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    return dims.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("dim"),
        F.max(F.when(F.col("idx") == 0, F.col("s"))).cast("bigint").alias("c0_sum_e6"),
        F.max(F.when(F.col("idx") == 1, F.col("s"))).cast("bigint").alias("c1_sum_e6"),
        F.max(F.when(F.col("idx") == 2, F.col("s"))).cast("bigint").alias("c2_sum_e6"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("norm2_sum_e12"),
    )


# ---------------------------------------------------------------------------
# Feature-scaling statistics (per-dimension normalization prep)
# ---------------------------------------------------------------------------

FEATURE_STATS_ORACLE = """
WITH comp AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v6
  FROM embeddings
)
SELECT dim,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(v6) AS BIGINT) AS sum_e6,
  CAST(MIN(v6) AS BIGINT) AS min_e6,
  CAST(MAX(v6) AS BIGINT) AS max_e6,
  CAST((COUNT(*) * SUM(CAST(v6 AS HUGEINT) * v6) - SUM(v6) * SUM(v6))
       // (CAST(COUNT(*) AS HUGEINT) * COUNT(*)) AS BIGINT) AS var_e12
FROM comp GROUP BY dim
"""


@query("embedding_feature_stats", oracle=FEATURE_STATS_ORACLE, category="llm-knn")
def embedding_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature-scaling statistics — the preprocessing
    pass behind standardization / min-max normalization of an
    embedding (or tabular feature) matrix. Components floor-scale to
    exact 1e6 integers, so count/sum/min/max AND the variance are pure
    integer algebra: order-invariant, engine-exact (a naive double Σx²
    drifts under re-partitioning — same rule as
    `embedding_pool_mean`). The variance ships as the exact population
    variance in 1e-12 units, (n*Σx² - (Σx)²) DIV n², with Σx² and the
    products accumulated in DECIMAL(38,0)/HUGEINT — the raw numerator
    n*Σx²-(Σx)² grows as n²·1e12 and crosses 2^63 at only ~3k vectors
    (an earlier cut shipped it as the output column: green at sf0.1's
    2k vectors, an ANSI overflow error one scale notch up, and a
    silent DuckDB int128 divergence — the audited landmine class),
    while the DIV-n² form is corpus-size-invariant (≤ range²·1e12)
    and exact to ~3e12 vectors in the decimal intermediate. One narrow
    posexplode, one 64-group map-side-combined aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        "dim",
        F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("v6"),
    )
    stats = comp.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v6").cast("bigint").alias("sum_e6"),
        F.min("v6").cast("bigint").alias("min_e6"),
        F.max("v6").cast("bigint").alias("max_e6"),
        # Σx² in DECIMAL(38,0): the bigint sum alone overflows at ~1e6
        # vectors (Σv6² ~ n·1e13)
        F.sum(F.col("v6").cast("decimal(38,0)") * F.col("v6")).alias("__ssq"),
    )
    return stats.select(
        "dim",
        "n",
        "sum_e6",
        "min_e6",
        "max_e6",
        F.expr(
            "(n * __ssq - CAST(sum_e6 AS DECIMAL(38,0)) * sum_e6)"
            " DIV (CAST(n AS DECIMAL(38,0)) * n)"
        )
        .cast("bigint")
        .alias("var_e12"),
    )


HARD_NEG_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
    c.vec_id AS neg_id, c.label AS n_label,
    {_COS.format(a="q.v", b="c.v")} AS cs
  FROM e q, e c, range(1, 65) r(i)
  WHERE q.vec_id < 20 AND q.label <> c.label
  GROUP BY q.vec_id, q.label, c.vec_id, c.label
)
SELECT query_id, CAST(q_label AS INTEGER) AS q_label, neg_id,
  CAST(n_label AS INTEGER) AS n_label, round(cs, 6) AS cos_sim, rn
FROM (
  SELECT query_id, q_label, neg_id, n_label, cs,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neg_id)
      AS BIGINT) AS rn
  FROM sims
) WHERE rn <= 5
"""


@query("knn_hard_negatives", oracle=HARD_NEG_ORACLE, category="llm-knn")
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: per
    anchor (vec_id < 20), the 5 MOST similar corpus vectors with a
    DIFFERENT label — the near-miss negatives that actually teach a
    dual encoder, versus random negatives that are trivially far. The
    label filter applies BEFORE the top-k (top-k of negatives, not
    negatives of top-k — the ordering bug naive implementations hit).

    Same scale shape as knn_bruteforce: anchors broadcast, corpus
    streams, norms factored out of the pair loop (materialized
    columns under ``functions.vectors.cosine``, the oracle's exact
    IEEE tree), WindowGroupLimit top-k; the IVF path swaps in for
    corpus-scale anchor sets."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id", "label", F.col("embedding").alias("__v"),
        l2_norm("embedding").alias("__n"),
    )
    q = ev.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = ev.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("n_label"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_label") != F.col("n_label"))
        .select(
            "query_id", "q_label", "neg_id", "n_label",
            cosine("__qv", "__qn", "__cv", "__cn").alias("__sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neg_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            F.col("q_label").cast("int").alias("q_label"),
            "neg_id",
            F.col("n_label").cast("int").alias("n_label"),
            F.round("__sim", 6).alias("cos_sim"),
            "rn",
        )
    )


MUTUAL_NN_ORACLE = f"""
WITH a AS (
  SELECT vec_id, embedding AS v FROM embeddings
  WHERE label % 2 = 0 AND vec_id < 300
),
b AS (SELECT vec_id, embedding AS v FROM embeddings WHERE label % 2 = 1),
sims AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
    {_COS.format(a="a.v", b="b.v")} AS cs
  FROM a, b, range(1, 65) r(i)
  GROUP BY a.vec_id, b.vec_id
),
ranked AS (
  SELECT a_id, b_id, cs,
    row_number() OVER (PARTITION BY a_id ORDER BY cs DESC, b_id) AS ra,
    row_number() OVER (PARTITION BY b_id ORDER BY cs DESC, a_id) AS rb
  FROM sims
)
SELECT a_id, b_id, round(cs, 6) AS cos_sim
FROM ranked WHERE ra = 1 AND rb = 1
"""


@query("knn_mutual_nn", oracle=MUTUAL_NN_ORACLE, category="llm-knn")
def knn_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairing across two vector sets (the
    bitext-mining / cross-lingual alignment primitive: a pair is kept
    only when each side is the other's single best match — the
    reciprocity filter that kills hubness false positives). One
    similarity frame, TWO windows over it (per-a and per-b ranks, both
    ending in the partner id), mutual = ra = rb = 1.

    Scale: the bounded anchor set (even-label, vec_id < 300) is the
    documented all-pairs correctness anchor — the production path
    blocks through IVF buckets exactly like knn_ivf. Norms factored
    out as materialized columns under ``functions.vectors.cosine``;
    both rankings reuse the single sims exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id", "label", F.col("embedding").alias("__v"),
        l2_norm("embedding").alias("__n"),
    )
    a = ev.filter((F.col("label") % 2 == 0) & (F.col("vec_id") < 300)).select(
        F.col("vec_id").alias("a_id"),
        F.col("__v").alias("__av"),
        F.col("__n").alias("__an"),
    )
    b = ev.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("__v").alias("__bv"),
        F.col("__n").alias("__bn"),
    )
    sims = b.crossJoin(F.broadcast(a)).select(
        "a_id",
        "b_id",
        cosine("__av", "__an", "__bv", "__bn").alias("__cs"),
    )
    wa = Window.partitionBy("a_id").orderBy(F.col("__cs").desc(), F.col("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.col("__cs").desc(), F.col("a_id"))
    ranked = sims.select(
        "a_id",
        "b_id",
        "__cs",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    return ranked.filter((F.col("ra") == 1) & (F.col("rb") == 1)).select(
        "a_id", "b_id", F.round("__cs", 6).alias("cos_sim")
    )


TRIPLET_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
sims AS (
  SELECT q.vec_id AS anchor_id, q.label AS a_label,
    c.vec_id AS cand_id, c.label = q.label AS is_same,
    {_COS.format(a="q.v", b="c.v")} AS cs
  FROM e q, e c, range(1, 65) r(i)
  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, q.label, c.vec_id, c.label
),
ranked AS (
  SELECT anchor_id, a_label, cand_id, is_same, cs,
    row_number() OVER (PARTITION BY anchor_id, is_same
                       ORDER BY cs DESC, cand_id) AS rn
  FROM sims
),
pos AS (SELECT anchor_id, a_label, cand_id AS pos_id, cs AS pos_cs
        FROM ranked WHERE is_same AND rn = 1),
neg AS (SELECT anchor_id, cand_id AS neg_id, cs AS neg_cs
        FROM ranked WHERE NOT is_same AND rn = 1)
SELECT p.anchor_id, CAST(p.a_label AS INTEGER) AS a_label,
  p.pos_id, n.neg_id,
  round(p.pos_cs, 6) AS pos_sim, round(n.neg_cs, 6) AS neg_sim,
  round(p.pos_cs, 6) - round(n.neg_cs, 6) AS margin
FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
"""


@query("knn_triplet_mining", oracle=TRIPLET_ORACLE, category="llm-knn")
def knn_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet generation: per anchor, the most
    similar SAME-label vector (positive) and the most similar
    DIFFERENT-label vector (hard negative) with the similarity margin
    — the (a, p, n) batches a triplet/InfoNCE loss trains on, mined
    in one pass. One sims frame, one window partitioned by (anchor,
    same-label flag) yields both picks; margin = difference of the
    6dp-rounded sims (identical expression both engines).

    Scale: same bounded-anchor all-pairs anchor as the knn family
    (norms factored out as materialized columns under
    ``functions.vectors.cosine``); corpus-scale mining swaps in the
    IVF bucketed path for candidate generation, the ranking shape is
    unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id", "label", F.col("embedding").alias("__v"),
        l2_norm("embedding").alias("__n"),
    )
    q = ev.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    c = ev.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("__v").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "a_label",
            "cand_id",
            (F.col("c_label") == F.col("a_label")).alias("is_same"),
            cosine("__qv", "__qn", "__cv", "__cn").alias("__cs"),
        )
    )
    w = Window.partitionBy("anchor_id", "is_same").orderBy(
        F.col("__cs").desc(), F.col("cand_id")
    )
    ranked = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    pos = ranked.filter(F.col("is_same")).select(
        "anchor_id",
        F.col("a_label").cast("int").alias("a_label"),
        F.col("cand_id").alias("pos_id"),
        F.round("__cs", 6).alias("pos_sim"),
    )
    neg = ranked.filter(~F.col("is_same")).select(
        "anchor_id",
        F.col("cand_id").alias("neg_id"),
        F.round("__cs", 6).alias("neg_sim"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "a_label",
        "pos_id",
        "neg_id",
        "pos_sim",
        "neg_sim",
        (F.col("pos_sim") - F.col("neg_sim")).alias("margin"),
    )


@query("knn_ivf_persisted", oracle=KNN_IVF_ORACLE, category="llm-knn")
def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN workflow: build the IVF index ONCE, persist
    it as parquet (centroids + members partitioned by cent_id so a
    probe reads only its clusters' files), reload, then serve the
    search from the PERSISTED index. Same oracle as knn_ivf — the
    save/load roundtrip must be value-lossless (floats come back
    bit-identical from parquet), so the persisted search returns
    exactly what the in-memory build returns. This is the row that
    proves index amortization: train nightly, serve all day. The
    staged index lives under the atexit-cleaned scratch root
    (sources.formats.staging_dir) — it must outlive this LAZY result
    frame, so cleanup happens at process exit, not here."""
    from ..operators.similarity import ivf_build, ivf_load, ivf_save, ivf_search
    from ..sources.formats import staging_dir

    e = load_table(spark, sf_dir, "embeddings")
    cents, members = ivf_build(e, centroid_stride=None, lloyd_iters=2, train_stride=None)
    path = staging_dir("sgraft_ivf_idx_")
    ivf_save(cents, members, path)
    cents2, members2 = ivf_load(spark, path)
    return ivf_search(
        e.filter(F.col("vec_id") < 20), cents2, members2, k=5, nprobe=10
    )


CLUSTER_MEDOID_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
{_IVF_STRIDES_CTE},
c0 AS (SELECT vec_id AS cent_id,
         list_transform(v, x -> CAST(x AS DOUBLE)) AS cv
       FROM e, p2 WHERE vec_id % p2.cs = 0),
{_lloyd_cte("c0", "1", src="et")},
{_lloyd_cte("c1", "2", src="et")},
cent_sims AS (
  SELECT a.vec_id, c.cent_id, {_COS.format(a="a.v", b="c.cv")} AS cs
  FROM e a, c2 c, range(1, 65) r(i)
  GROUP BY a.vec_id, c.cent_id
),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) AS rn
    FROM cent_sims) WHERE rn = 1
),
sizes AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM assign GROUP BY cent_id
),
pairs AS (
  SELECT a.cent_id, a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
),
ps AS (
  SELECT p.cent_id, p.id_a, p.id_b,
    CAST(floor(({_COS_SAFE.format(a="va.v", b="vb.v")}) * 1e9) AS BIGINT) AS c9
  FROM pairs p
  JOIN e va ON va.vec_id = p.id_a
  JOIN e vb ON vb.vec_id = p.id_b,
  range(1, 65) r(i)
  GROUP BY p.cent_id, p.id_a, p.id_b
),
scores AS (
  SELECT cent_id, id_a AS vec_id, CAST(SUM(c9) AS BIGINT) AS score9
  FROM ps GROUP BY cent_id, id_a
),
winners AS (
  SELECT cent_id, vec_id, score9 FROM (
    SELECT cent_id, vec_id, score9,
      row_number() OVER (PARTITION BY cent_id ORDER BY score9 DESC, vec_id)
        AS rn
    FROM scores) WHERE rn = 1
)
SELECT w.cent_id, w.vec_id AS medoid_id, s.n_members, w.score9
FROM winners w JOIN sizes s ON w.cent_id = s.cent_id
UNION ALL
SELECT s.cent_id, a.vec_id AS medoid_id, s.n_members,
  CAST(0 AS BIGINT) AS score9
FROM sizes s JOIN assign a ON a.cent_id = s.cent_id
WHERE s.n_members = 1
"""


@query("cluster_medoids", oracle=CLUSTER_MEDOID_ORACLE, category="llm-knn")
def cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True MEDOID per k-means cluster — the member maximizing summed
    cosine to its cluster peers (the representative SemDeDup keeps
    when quality matters more than min-id): per-pair cosines floor to
    the 1e-9 integer grid so the per-member sum is order-invariant
    BIGINT; argmax ties break on vec_id; singleton clusters elect
    their lone member at score 0.

    Scale: the pair stage is the SemDeDup equi-join on cent_id —
    quadratic only within a cluster (~sqrt(n) members at ncents ~
    sqrt(n)); everything downstream is cluster-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, members = ivf_build(e, centroid_stride=None, lloyd_iters=2, train_stride=None)
    assign = members.select("cent_id", F.col("neighbor_id").alias("vec_id"))
    sizes = assign.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )

    # Norms factored OUT as columns under functions.vectors.cosine, the
    # oracle's _COS tree: a pre-normalized sum lands ~0.04% of pair cells
    # on a different floor(x*1e9) grid cell.
    ev = e.select(
        "vec_id",
        F.col("embedding").alias("__v"),
        l2_norm("embedding").alias("__n"),
    )
    a = assign.join(ev, "vec_id").select(
        "cent_id",
        F.col("vec_id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = assign.join(ev, "vec_id").select(
        "cent_id",
        F.col("vec_id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    ps = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "cent_id",
            "id_a",
            # a 0-norm member's NULL cosine drops out of the SUM on both
            # engines (0/0 = NaN would make CAST(floor(NaN)) error under ANSI)
            F.floor(cosine("__va", "__na", "__vb", "__nb") * F.lit(1e9))
            .cast("bigint")
            .alias("c9"),
        )
    )
    scores = ps.groupBy("cent_id", "id_a").agg(
        F.sum("c9").cast("bigint").alias("score9")
    )
    w = Window.partitionBy("cent_id").orderBy(
        F.col("score9").desc(), F.col("id_a")
    )
    winners = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cent_id", F.col("id_a").alias("w_id"), "score9")
    )
    multi = winners.join(sizes, "cent_id").select(
        "cent_id",
        F.col("w_id").alias("medoid_id"),
        "n_members",
        F.col("score9").cast("bigint").alias("score9"),
    )
    singles = (
        sizes.filter(F.col("n_members") == 1)
        .join(assign, "cent_id")
        .select(
            "cent_id",
            F.col("vec_id").alias("medoid_id"),
            "n_members",
            F.lit(0).cast("bigint").alias("score9"),
        )
    )
    return multi.unionAll(singles)
