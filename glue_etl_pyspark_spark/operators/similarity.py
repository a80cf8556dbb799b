"""Similarity search over embedding columns (SURVEY.md §2.12).

Three tiers, correctness-anchored:

- ``knn_bruteforce`` — exact top-k cosine. The cross join is bounded
  by the (small, broadcast) query side; the corpus side streams. This
  is the sf≤0.1 correctness anchor and the rerank kernel.
- ``ivf_knn`` — IVF-style two-level search: deterministic coarse
  centroids, cluster assignment, probe the nprobe nearest clusters,
  exact rerank inside. Same answer as brute force when recall holds;
  the 100 TB path (each query touches nprobe/k of the corpus).
- ``lsh_knn`` — BucketedRandomProjectionLSH on unit vectors
  (euclidean on normalized vectors is monotone in cosine). Randomized
  (seed-stable), so rows-only checked with a recall test against
  brute force.

All vector math is JVM-side higher-order functions (functions.vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.vectors import cosine, l2_norm, l2_normalize


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Emits (query_id, neighbor_id, cos_sim, rn). Self-matches (same
    id) are excluded; ties break on neighbor_id. The query side is
    broadcast — callers must keep it small (the documented bound for
    the cross join); the corpus side never shuffles until the final
    per-query top-k, which carries only k rows per query partition.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        l2_norm(query_vec).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        l2_norm(corpus_vec).alias("__cn"),
    )
    sims = (
        c.crossJoin(broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("__qv", "__qn", "__cv", "__cn").alias("__sim"),
        )
    )
    return _top_k(sims, "__sim", k, round_dp)


def _top_k(sims: DataFrame, sim_col: str, k: int, round_dp: int | None) -> DataFrame:
    """The k most similar neighbors per query of a (query_id,
    neighbor_id, ``sim_col``) pair frame: rank by (sim DESC,
    neighbor_id), keep rn <= k and emit (query_id, neighbor_id,
    cos_sim, rn), with cos_sim rounded to ``round_dp`` places (None
    keeps the raw double). NULL sims rank last."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(sim_col).desc(), F.col("neighbor_id")
    )
    out_sim = F.col(sim_col) if round_dp is None else F.round(F.col(sim_col), round_dp)
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", out_sim.alias("cos_sim"), "rn")
    )


def _nearest_cents(
    df: DataFrame, cents: DataFrame, id_out: str, vec_col: str, n: int
) -> DataFrame:
    """ids of the n nearest centroids per input row (broadcast join;
    cosine, cent_id tie-break). cents: (cent_id, centroid).

    Per-pair work is ONE dot product (``functions.vectors.cosine``):
    each side's norm is a projected column below the join, so Catalyst
    evaluates it once per vector — 1 interpreted array-aggregate per
    pair instead of 3. The 10x scale probe measured the per-pair-norm
    version at 275 s for one 12.9M-pair assignment pass.

    Nearest-1 (the bulk assignment case) aggregates with ``min_by``
    over (-cos, cent_id) — map-side partial aggregation shuffles n
    rows, not the n·ncents pair set a window sort would. NULL cosines
    (zero-norm vectors) map to +inf so they lose to any real
    similarity, matching the window path's NULLS LAST; an all-NULL row
    still picks its lowest cent_id, exactly as row_number would.
    """
    left = df.withColumn("__n", l2_norm(vec_col))
    cent = broadcast(
        cents.select(
            "cent_id",
            F.col("centroid").alias("__cent"),
            l2_norm("centroid").alias("__cn"),
        )
    )
    sims = left.crossJoin(cent).select(
        F.col(id_out),
        "cent_id",
        cosine(vec_col, "__n", "__cent", "__cn").alias("__cs"),
    )
    if n == 1:
        key = F.struct(
            F.coalesce(-F.col("__cs"), F.lit(float("inf"))).alias("s"),
            F.col("cent_id").alias("c"),
        )
        return sims.groupBy(id_out).agg(F.min_by("cent_id", key).alias("cent_id"))
    w = Window.partitionBy(id_out).orderBy(F.col("__cs").desc(), F.col("cent_id"))
    return (
        sims.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .select(id_out, "cent_id")
    )


def ivf_auto_strides(n: int) -> tuple[int, int]:
    """Data-adaptive (centroid_stride, train_stride) for an n-vector
    corpus: ncents ≈ √n (the IVF serve-cost optimum for fixed nprobe)
    and a training sample of ≈256 vectors per centroid — together they
    bound the trainer at O(256·n·d) instead of the quadratic
    O(n·(n/31)·d) a FIXED stride-31 init degrades to (the r12 100x
    probe hung cluster_medoids for an hour on exactly that).

    centroid_stride = max(31, floor(sqrt(n))) — the max keeps every
    value at the driver's sf0.01 check scale bit-identical to the
    historical stride-31 numbers. Computed as floor of the IEEE double
    sqrt so the DuckDB oracle's GREATEST(31, CAST(floor(sqrt(n)) AS
    BIGINT)) derives the SAME integer (double sqrt of an exact int can
    only floor-flip vs isqrt for n ≳ 1e13 — far past any corpus this
    runs on). train_stride = max(1, centroid_stride // 256) — both
    integer DIV, mirrored by // in the oracle."""
    import math

    cs = max(31, int(math.floor(math.sqrt(float(n)))))
    return cs, max(1, cs // 256)


def ivf_build(
    corpus: DataFrame,
    centroid_stride: int | None = 31,
    lloyd_iters: int = 2,
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    train_stride: int | None = 1,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: returns ``(centroids, members)`` —
    ``centroids`` (cent_id, centroid array<double>) and ``members``
    (neighbor_id, cent_id, vec array<double>) — the inverted lists a
    real IVF index stores. Build once, search many; both frames are
    plain DataFrames, so ``ivf_save``/``ivf_load`` persist the index
    as parquet for reuse across jobs.

    Coarse quantizer: k-means trained with ``lloyd_iters`` Lloyd
    iterations from a deterministic stride init (every
    ``centroid_stride``-th corpus vector by id). Each iteration assigns
    every corpus vector to its nearest centroid (cosine, cent_id
    tie-break) and recomputes centroids as the per-dimension mean,
    floor-scaled to 6 dp so the mean's float summation order can't
    drift across engines — the whole trainer is reproducible in ANSI
    SQL, which keeps the knn_ivf query hash-checked end-to-end rather
    than recall-gated only. Empty clusters drop out (identically on
    both engines, since assignments are deterministic).

    At 100 TB the trainer runs on a sample — ``train_stride`` > 1
    restricts the Lloyd iterations to the deterministic subset
    ``corpus_id % train_stride == 0`` (hash-free modulus: reproducible,
    no RNG), then the FINAL assignment pass still covers the full
    corpus, so the inverted lists are complete. Per-iteration cost
    drops from O(n·ncents·d) to O(n/train_stride·ncents·d); standard
    k-means practice needs only ~hundreds of training points per
    centroid, so train_stride can grow with n while keeping
    sample ≈ 256·ncents. ncents grows ~√n with nprobe fixed, so the
    probed fraction shrinks with scale. The r11 10x probe (20k
    vectors, 397 surviving cents) kept recall 1.0 vs brute force on
    the same queries with a stride-4 training sample
    (tests/test_llm_ops.py pins recall ≥ 0.8 for the sampled trainer
    at sf0.01, where near-random vectors make the gate meaningful).
    """
    if centroid_stride is None or train_stride is None:
        auto_cs, auto_ts = ivf_auto_strides(corpus.count())
        centroid_stride = auto_cs if centroid_stride is None else centroid_stride
        train_stride = auto_ts if train_stride is None else train_stride
    cents = corpus.filter(F.col(corpus_id) % centroid_stride == 0).select(
        F.col(corpus_id).alias("cent_id"),
        F.transform(vec, lambda x: x.cast("double")).alias("centroid"),
    )

    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec).alias("__cv"))
    train = (
        c
        if train_stride <= 1
        else c.filter(F.col("neighbor_id") % train_stride == 0)
    )
    # A sparse/offset id domain (or a tiny corpus) can stride the
    # training set down to ZERO rows, which would make Lloyd emit an
    # empty centroid frame and the build silently return no members
    # (ADVICE r11). Fall back to the full corpus — one cheap probe of
    # a frame we were about to scan lloyd_iters times anyway.
    if train_stride > 1 and not train.limit(1).count():
        train = c

    # Lloyd training: assign-train-set -> per-dim mean -> floor 6 dp.
    # Each iteration is one window shuffle (assignment) + one groupBy
    # (recompute); centroid frames stay tiny and broadcast.
    for _ in range(lloyd_iters):
        a = _nearest_cents(
            train.select("neighbor_id", F.col("__cv").alias("__v")), cents,
            "neighbor_id", "__v", 1,
        )
        cents = (
            train.join(a, "neighbor_id")
            .select("cent_id", F.posexplode("__cv").alias("__pos", "__val"))
            .groupBy("cent_id", "__pos")
            .agg(
                (F.floor(F.avg(F.col("__val").cast("double")) * 1e6) / 1e6).alias(
                    "__mean"
                )
            )
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__mean"))),
                    lambda s: s["__mean"],
                ).alias("centroid")
            )
            # iterative-lineage rule (same as cc_labels): truncate
            # per iteration, else iteration N's broadcast re-executes
            # every prior assignment pass — quadratic recompute that the
            # 10x scale probe exposed (sf0.1 hid it). The frame is tiny
            # (n/stride rows), so eager materialization is ~free; all
            # ops are deterministic, so recompute-on-loss is identical.
            .localCheckpoint(eager=True)
        )

    final_assign = _nearest_cents(
        c.select("neighbor_id", F.col("__cv").alias("__v")), cents,
        "neighbor_id", "__v", 1,
    )
    members = c.join(final_assign, "neighbor_id").select(
        "neighbor_id", "cent_id",
        F.transform("__cv", lambda x: x.cast("double")).alias("vec"),
    )
    return cents, members


def ivf_search(
    queries: DataFrame,
    centroids: DataFrame,
    members: DataFrame,
    k: int = 5,
    nprobe: int = 10,
    query_id: str = "vec_id",
    vec: str = "embedding",
    round_dp: int | None = 6,
) -> DataFrame:
    """Search a prebuilt IVF index: each query probes its ``nprobe``
    nearest centroids and exact-reranks only those clusters' members.
    Candidate generation is an equi-join on cent_id (hash-
    partitionable); per-query work is ~nprobe·|corpus|/n_centroids.
    Emits (query_id, neighbor_id, cos_sim, rn)."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec).alias("__qv"),
        l2_norm(vec).alias("__qn"),
    )
    probes = _nearest_cents(
        q.select("query_id", F.col("__qv").alias("__v")), centroids,
        "query_id", "__v", nprobe,
    )
    cands = (
        probes.join(members.withColumn("__mn", l2_norm("vec")), "cent_id")
        .join(broadcast(q), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a corpus vector can sit in only one cluster, so (query,
        # neighbor) pairs are already distinct across probes
        .select(
            "query_id",
            "neighbor_id",
            cosine("__qv", "__qn", "vec", "__mn").alias("__sim"),
        )
    )
    return _top_k(cands, "__sim", k, round_dp)


def ivf_save(centroids: DataFrame, members: DataFrame, path: str) -> None:
    """Persist an IVF index as parquet (centroids/ + members/
    partitioned by cent_id — a probe reads only its clusters' files)."""
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    members.write.mode("overwrite").partitionBy("cent_id").parquet(f"{path}/members")


def ivf_load(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load an IVF index written by ivf_save.

    ``cent_id`` is a partition column in members/, so partition-value
    inference types it INT and the read-back moves it last; the built
    index carries BIGINT at position 2. Cast and reorder so the
    reloaded index is schema-identical to a fresh build (unions/schema
    comparisons, not just joins, stay valid)."""
    members = (
        spark.read.parquet(f"{path}/members")
        .withColumn("cent_id", F.col("cent_id").cast("bigint"))
        .select("neighbor_id", "cent_id", "vec")
    )
    return spark.read.parquet(f"{path}/centroids"), members


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 10,
    centroid_stride: int | None = 31,
    lloyd_iters: int = 2,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    round_dp: int | None = 6,
    train_stride: int | None = 1,
) -> DataFrame:
    """End-to-end IVF knn: ``ivf_build`` + ``ivf_search`` in one call
    (see those for the trainer/search design). Fully deterministic and
    oracle-checkable; amortizing callers build once and search many."""
    cents, members = ivf_build(
        corpus, centroid_stride=centroid_stride, lloyd_iters=lloyd_iters,
        corpus_id=corpus_id, vec=vec, train_stride=train_stride,
    )
    return ivf_search(
        queries, cents, members, k=k, nprobe=nprobe,
        query_id=query_id, vec=vec, round_dp=round_dp,
    )


def lsh_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    max_euclid_dist: float = 1.2,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate knn via random-projection LSH on unit vectors.

    On normalized vectors euclidean distance d and cosine c satisfy
    c = 1 - d²/2, so bucketing by euclidean distance preserves cosine
    order. Randomized (seed-stable) → rows-only checks + recall tests.
    Emits (query_id, neighbor_id, cos_sim, rn).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    qn = queries.select(
        F.col(query_id).alias("id"), array_to_vector(l2_normalize(vec)).alias("features")
    )
    cn = corpus.select(
        F.col(corpus_id).alias("id"), array_to_vector(l2_normalize(vec)).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cn)
    pairs = model.approxSimilarityJoin(qn, cn, max_euclid_dist, distCol="euclid")
    sims = (
        pairs.filter(F.col("datasetA.id") != F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("query_id"),
            F.col("datasetB.id").alias("neighbor_id"),
            (1 - F.col("euclid") * F.col("euclid") / 2).alias("cos_sim"),
        )
    )
    return _top_k(sims, "cos_sim", k, 6)


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    min_cos: float = 0.99,
    method: str = "allpairs",
    num_hash_tables: int = 6,
    bucket_length: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Near-identical embedding pairs (cosine ≥ min_cos), id_a < id_b.

    Both paths end in the same exact cosine ≥ min_cos verify; only
    candidate generation differs:

    - ``method="allpairs"`` — self cross join. O(n²): the small-n
      correctness anchor (≤ a few 1e4 vectors), also the oracle twin.
    - ``method="lsh"`` — the 100 TB path. Random-projection LSH on
      unit vectors generates candidates via bucket equi-joins (no
      cross product); on unit vectors cos ≥ t ⟺ euclid ≤ √(2(1-t)),
      so the LSH join radius is exact, not a heuristic — the only
      approximation is bucket-collision recall, which the planted-twin
      recall test gates. Randomized but seed-stable.
    """
    if method == "lsh":
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.functions import array_to_vector

        n = df.select(
            F.col(id_col).alias("id"),
            F.col(vec).alias("__v"),
            l2_norm(vec).alias("__n"),
            array_to_vector(l2_normalize(vec)).alias("features"),
        )
        lsh = BucketedRandomProjectionLSH(
            inputCol="features",
            outputCol="hashes",
            bucketLength=bucket_length,
            numHashTables=num_hash_tables,
            seed=seed,
        )
        model = lsh.fit(n)
        # tiny epsilon absorbs float32->double norm jitter at the radius
        radius = (2.0 * (1.0 - min_cos)) ** 0.5 + 1e-9
        pairs = model.approxSimilarityJoin(n, n, radius, distCol="__euclid")
        return (
            pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
            .select(
                F.col("datasetA.id").alias("id_a"),
                F.col("datasetB.id").alias("id_b"),
                cosine(
                    "datasetA.__v", "datasetA.__n", "datasetB.__v", "datasetB.__n"
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= min_cos)
            .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
        )
    if method != "allpairs":
        raise ValueError(f"unknown method {method!r} (allpairs|lsh)")
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec).alias("__va"), l2_norm(vec).alias("__na")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec).alias("__vb"), l2_norm(vec).alias("__nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine("__va", "__na", "__vb", "__nb"))
        .filter(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def knn_bruteforce_batch(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine via an Arrow-batched numpy matmul kernel —
    the vectorized rerank engine for the scale paths (~4x the
    zip_with expression version at sf0.1, identical results at 6 dp).

    The normalized query matrix is broadcast once (same small-side
    bound as knn_bruteforce); each corpus Arrow batch computes one
    (batch x nq) float64 GEMM. Per-query top-k is the usual
    window + WindowGroupLimit. Emits (query_id, neighbor_id,
    cos_sim, rn)."""
    import numpy as np
    import pandas as pd

    # Zero-norm guard: norm 0 -> divide yields NaN, and NaN sorts FIRST
    # under Spark's descending double order (NaN > any value), poisoning
    # top-k — while the expression path (functions.vectors.cosine) returns NULL
    # (excluded). Normalizing by max(norm, tiny) then dropping non-finite
    # sims matches the NULL-excluding expression semantics exactly.
    def _unit(m: "np.ndarray") -> "np.ndarray":
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        out = m / np.where(norms == 0, np.nan, norms)
        return out

    q = queries.select(F.col(query_id).alias("qid"), F.col(vec).alias("qv")).toPandas()
    if q.empty:
        return corpus.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, cos_sim double, rn bigint"
        )
    qm = _unit(np.stack([np.asarray(v, dtype=np.float64) for v in q["qv"]]))
    qids = q["qid"].to_numpy()
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qm))

    def batches(it):
        qids_, qm_ = bq.value
        nq = len(qids_)
        for pdf in it:
            cm = _unit(np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]))
            sims = cm @ qm_.T
            cids = pdf["__cid"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, len(cids)),
                    "neighbor_id": np.tile(cids, nq),
                    "__sim": sims.T.ravel(),
                }
            )
            yield out[np.isfinite(out["__sim"])]

    sims = (
        corpus.select(F.col(corpus_id).alias("__cid"), F.col(vec).alias("__cv"))
        .mapInPandas(batches, schema="query_id bigint, neighbor_id bigint, __sim double")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _top_k(sims, "__sim", k, round_dp)


__all__ = [
    "knn_bruteforce",
    "knn_bruteforce_batch",
    "ivf_knn",
    "ivf_build",
    "ivf_search",
    "ivf_save",
    "ivf_load",
    "lsh_knn",
    "embedding_dup_pairs",
]
