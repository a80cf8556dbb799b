"""Quality gates for the randomized/rows-only LLM ops: recall against
exact twins, planted-pair recovery, multimodal plumbing."""

from __future__ import annotations

import csv
import os

from pyspark.sql import functions as F

from glue_etl_pyspark_spark.queries.llm_dedup import _TWIN_OFF

from glue_etl_pyspark_spark.registry import load_all

DATA = os.path.join(os.path.dirname(__file__), "data")


def _run(spark, sf_dir, name):
    return load_all()[name].fn(spark, sf_dir)


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.id_a, r.id_b) for r in _run(spark, sf_dir, "dedup_ngram_jaccard").collect()
    }
    approx = {
        (r.id_a, r.id_b) for r in _run(spark, sf_dir, "dedup_minhash_lsh").collect()
    }
    assert exact, "exact twin produced no pairs — planted dups missing?"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"MinHash-LSH recall {recall:.2f} < 0.9"


def test_minhash_lsh_pinned_pairs_sf01(spark):
    """r17 (VERDICT r16 item 7): dedup_minhash_lsh sits in the
    no-oracle class, so its r16 persist rework (and any future plan
    change) must stay falsifiable driver-visibly — pin the EXACT
    seeded candidate-pair set at sf0.1, not just recall. MinHashLSH
    hash functions are seed-derived and the candidate set is a
    partitioning-independent value, so the pinned list is stable across
    widths/machines (the r16 A/B observed the identical 6024 pairs
    across all variants). The list is checked in, so a mismatch names
    the pairs that moved."""
    with open(os.path.join(DATA, "dedup_minhash_lsh_pairs_sf0.1.csv")) as f:
        pinned = {(int(a), int(b)) for a, b in csv.reader(f) if a != "id_a"}
    rows = (
        load_all()["dedup_minhash_lsh"].fn(spark, "/root/testdata/sf0.1").collect()
    )
    got = [(int(r.id_a), int(r.id_b)) for r in rows]
    pairs = set(got)
    missing, extra = sorted(pinned - pairs), sorted(pairs - pinned)
    assert len(got) == len(pairs) and not missing and not extra, (
        f"seeded candidate set moved: {len(got)} rows ({len(pairs)} distinct) "
        f"vs {len(pinned)} pinned; {len(missing)} missing, first {missing[:5]}; "
        f"{len(extra)} extra, first {extra[:5]}"
    )


def test_simhash_pairs_recover_planted_twins(spark, sf_dir):
    pairs = _run(spark, sf_dir, "dedup_simhash_pairs")
    planted = pairs.filter(F.col("id_b") == F.col("id_a") + _TWIN_OFF)
    n_docs = 500
    n_planted = planted.count()
    # banding guarantees candidates for hamming < bands; most twins
    # (1 word dropped) land well under max_hamming=10
    assert n_planted >= 0.9 * n_docs, f"only {n_planted}/{n_docs} twins found"


def test_lsh_knn_recall_vs_bruteforce(spark, sf_dir):
    brute = _run(spark, sf_dir, "knn_bruteforce_cosine")
    lsh = _run(spark, sf_dir, "knn_lsh")
    bset = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    lset = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    assert bset
    recall = len(bset & lset) / len(bset)
    assert recall >= 0.8, f"LSH knn recall {recall:.2f} < 0.8 (measured 0.90)"


def test_ivf_knn_recall_vs_bruteforce(spark, sf_dir):
    brute = _run(spark, sf_dir, "knn_bruteforce_cosine")
    ivf = _run(spark, sf_dir, "knn_ivf")
    bset = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    iset = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bset & iset) / len(bset)
    # 2 Lloyd iterations + nprobe=10 of ~17 trained centroids:
    # measured 0.87 at sf0.01 (near-random vectors cap what any
    # quantizer can do at 500 points — probe fraction is the lever)
    assert recall >= 0.8, f"IVF recall {recall:.2f} < 0.8 (measured 0.87)"


def test_ivf_sampled_recall_vs_bruteforce(spark, sf_dir):
    """The 100 TB build path — Lloyd trained on the deterministic
    ``vec_id % train_stride`` sample — must hold the same recall gate
    as the full-train build. Sampling shrinks per-iteration cost
    O(n·ncents·d) by the stride while the final full-corpus
    assignment keeps the inverted lists complete."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import (
        ivf_build,
        ivf_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, members = ivf_build(
        emb, centroid_stride=31, lloyd_iters=2, train_stride=3
    )
    # inverted lists stay complete despite sampled training
    assert members.count() == emb.count()
    queries = emb.filter(F.col("vec_id") < 20)
    got = ivf_search(queries, cents, members, k=5, nprobe=10)
    brute = _run(spark, sf_dir, "knn_bruteforce_cosine")
    bset = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    gset = {(r.query_id, r.neighbor_id) for r in got.collect()}
    assert bset
    recall = len(bset & gset) / len(bset)
    assert recall >= 0.8, f"sampled-train IVF recall {recall:.2f} < 0.8"


def test_multimodal_features_deterministic(spark, sf_dir):
    import json

    feats = _run(spark, sf_dir, "multimodal_features")
    rows = {r.id: r for r in feats.collect()}
    assert len(rows) == 500
    r0 = rows[0]
    # the query serializes the feature vector to JSON at the driver
    # boundary (list cells break the driver's hash canonicalizer)
    assert len(r0.sha256) == 64 and len(json.loads(r0.feature)) == 8
    again = {r.id: r for r in _run(spark, sf_dir, "multimodal_features").collect()}
    assert again[0].sha256 == r0.sha256 and again[0].feature == r0.feature


def test_binary_file_source(spark, tmp_path):
    from glue_etl_pyspark_spark.operators.multimodal import binary_file_source

    (tmp_path / "a.bin").write_bytes(b"hello")
    (tmp_path / "b.bin").write_bytes(b"world!")
    df = binary_file_source(spark, str(tmp_path), glob="*.bin")
    rows = sorted((r.length, bytes(r.content)) for r in df.collect())
    assert rows == [(5, b"hello"), (6, b"world!")]


def test_exact_dedup_deterministic_tiebreak(spark):
    from glue_etl_pyspark_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "x"), (9, "y")], "id int, t string"
    )
    out = exact_dedup(df, cols=["t"], tie_break=["id"])
    assert {(r.id, r.t) for r in out.collect()} == {(1, "x"), (9, "y")}


def test_ngram_prefix_filter_modes_agree(spark, sf_dir):
    """Prefix filtering is an exact optimization: both modes must
    produce identical pair sets."""
    from glue_etl_pyspark_spark.operators.dedup import ngram_jaccard_pairs
    from glue_etl_pyspark_spark.queries.llm_dedup import _with_perturbed_copies

    corpus = _with_perturbed_copies(spark, "/root/testdata/sf0.001")
    on = ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5,
                             prefix_filter=True)
    off = ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5,
                              prefix_filter=False)
    a = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in on.collect()}
    b = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in off.collect()}
    assert a == b and a


def test_exact_dedup_null_patterns_distinct(spark):
    """(NULL,'a'), ('a',NULL) and ('a','a') are three distinct keys —
    concat_ws alone would collapse the first two."""
    from glue_etl_pyspark_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None, "a"), (2, "a", None), (3, "a", "a"), (4, None, "a")],
        "id int, x string, y string",
    )
    out = exact_dedup(df, cols=["x", "y"], tie_break=["id"])
    assert {(r.id) for r in out.collect()} == {1, 2, 3}


def test_knn_numpy_matches_expression_impl(spark, sf_dir):
    """The GEMM kernel and the zip_with expression path are the same
    exact algorithm — results must agree exactly at 6 dp."""
    a = {(r.query_id, r.neighbor_id, r.rn, r.cos_sim)
         for r in _run(spark, sf_dir, "knn_bruteforce_cosine").collect()}
    b = {(r.query_id, r.neighbor_id, r.rn, r.cos_sim)
         for r in _run(spark, sf_dir, "knn_bruteforce_numpy").collect()}
    assert a == b and len(a) == 100


def test_dedup_clusters_contain_planted_twins(spark, sf_dir):
    """Cluster labels must be valid connected components: every pair's
    two endpoints share a label, and each twin joins its original."""
    from pyspark.sql import functions as F

    labels = _run(spark, sf_dir, "dedup_clusters_minlabel")
    lab = {r.id: r.cluster_id for r in labels.collect()}
    pairs = _run(spark, sf_dir, "dedup_ngram_jaccard")
    for r in pairs.collect():
        assert lab[r.id_a] == lab[r.id_b], (r.id_a, r.id_b)
    # planted twins (id+_TWIN_OFF) clustered with originals when paired
    twins = [r for r in pairs.collect() if r.id_b == r.id_a + _TWIN_OFF]
    assert len(twins) >= 450  # nearly all 500 planted twins found
    # labels are the min id of each component
    assert all(lab[i] <= i for i in lab)


def test_embedding_dup_lsh_finds_allpairs_pairs(spark, sf_dir):
    """The LSH candidate path must recover the all-pairs result: same
    exact verify, so precision is 1.0 by construction; recall over the
    planted twins (cos≈0.999, far inside the LSH radius) must be
    complete."""
    exact = {(r.id_a, r.id_b) for r in
             _run(spark, sf_dir, "embedding_dedup_pairs").collect()}
    lsh = {(r.id_a, r.id_b) for r in
           _run(spark, sf_dir, "embedding_dedup_pairs_lsh").collect()}
    assert lsh <= exact, f"LSH emitted non-duplicate pairs: {sorted(lsh - exact)[:5]}"
    recall = len(exact & lsh) / len(exact)
    assert recall == 1.0, f"LSH dup-pair recall {recall:.2f} < 1.0 ({len(exact)} pairs)"


def test_ivf_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """Build-once/search-many: a persisted index reloaded from parquet
    must return exactly the same neighbors as the fresh build."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    cents, members = ivf_build(e)
    direct = {(r.query_id, r.neighbor_id, r.rn)
              for r in ivf_search(q, cents, members).collect()}
    ivf_save(cents, members, str(tmp_path / "ivf"))
    cents2, members2 = ivf_load(spark, str(tmp_path / "ivf"))
    # schema-identical (names+types; parquet read-back is always
    # nullable), not merely join-compatible: partition-column inference
    # must not drift cent_id to INT or reorder columns
    def nt(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    assert nt(members2) == nt(members)
    assert nt(cents2) == nt(cents)
    reloaded = {(r.query_id, r.neighbor_id, r.rn)
                for r in ivf_search(q, cents2, members2).collect()}
    assert direct == reloaded and len(direct) == 100


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    """Resize emits exactly width*height bytes with updated metadata;
    frame sampling is a deterministic 1-to-N expansion; both raise at
    the codec seam when the real decoder is requested."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.multimodal import (
        attach_media,
        resize_media,
        sample_frames,
    )

    d = load_table(spark, sf_dir, "documents").limit(5)
    media = attach_media(d, "doc_id", "text", "image/png")

    resized = resize_media(media, width=4, height=3)
    rows = resized.collect()
    assert len(rows) == 5
    assert all(len(bytes(r.media)) == 12 and r.width == 4 and r.height == 3
               for r in rows)
    again = {r.id: bytes(r.media) for r in resize_media(media, 4, 3).collect()}
    assert all(bytes(r.media) == again[r.id] for r in rows)  # deterministic

    frames = sample_frames(media, every_n_bytes=64, max_frames=3).collect()
    per_id = {}
    for r in frames:
        per_id.setdefault(r.id, []).append(r.frame_idx)
    assert all(sorted(v) == list(range(len(v))) and 1 <= len(v) <= 3
               for v in per_id.values())


def test_ivf_clustered_recall_high_at_low_probe_fraction(spark, sf_dir):
    """On data WITH cluster structure, IVF must keep recall ≥0.9 while
    probing only 2 of ~33 centroids (6% of the corpus) — the property
    that justifies the index; contrast with the near-random-table
    query, where recall tracks probe fraction (documented)."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import knn_bruteforce
    from glue_etl_pyspark_spark.queries.llm_knn import _jittered_cluster_corpus

    seeds = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    corpus = _jittered_cluster_corpus(spark, sf_dir)
    truth = {(r.query_id, r.neighbor_id)
             for r in knn_bruteforce(seeds, corpus, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in _run(spark, sf_dir, "knn_ivf_clustered").collect()}
    recall = len(truth & ivf) / len(truth)
    assert recall >= 0.9, f"clustered IVF recall {recall:.2f} < 0.9 (measured 0.99)"


def test_int8_quantized_knn_recall(spark, sf_dir):
    """Dequantized int8 embeddings must preserve neighbor structure:
    recall@5 vs full-precision knn (measured 0.99 at sf0.01 AND
    sf0.1; the per-vector scale bounds error at half a step/element)."""
    from glue_etl_pyspark_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import knn_bruteforce

    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("__dv", F.transform("embedding", lambda x: x.cast("double")))
        .withColumn("qmin", F.array_min("__dv"))
        .withColumn("qmax", F.array_max("__dv"))
    )
    full = e.select("vec_id", F.col("__dv").alias("embedding"))
    dq = e.select(
        "vec_id",
        dequantize_int8(quantize_int8("__dv", "qmin", "qmax"), "qmin", "qmax").alias(
            "embedding"
        ),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(full.filter(F.col("vec_id") < 20), full, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(dq.filter(F.col("vec_id") < 20), dq, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"int8 knn recall {recall:.2f} < 0.95 (measured 0.99)"


def test_langid_literal_intersect_equals_join_scoring(spark, sf_dir):
    """text_language_id's r7 scoring rework (constant-size profile
    collected + re-shipped as literals, hits = array_intersect size,
    argmax via struct array_max) must emit EXACTLY the rows of the
    pre-r7 explode+broadcast-join shape — same docs kept (zero-hit
    docs dropped), same predictions (hits DESC, plang ASC tie-break),
    same hit counts."""
    from glue_etl_pyspark_spark.queries.llm_text import (
        _langid_score_join,
        text_language_id,
    )

    new = {tuple(r) for r in text_language_id(spark, sf_dir).collect()}
    old = {tuple(r) for r in _langid_score_join(spark, sf_dir).collect()}
    assert new == old, (
        f"only_new={list(new - old)[:3]} only_old={list(old - new)[:3]}"
    )


def test_trigram_fast_extraction_is_bitexact_twin(spark, sf_dir):
    """_TRI_EXPR_FAST (O(L) char-array reads) must yield EXACTLY the
    trigram array of the _TRI_EXPR substring form (which the DuckDB
    oracle mirrors) — over every fixture doc AND the short/unicode
    edge cases where the two could plausibly part ways (empty text,
    sub-trigram docs, BMP accents/Greek, whitespace). The boundary
    that is NOT covered (documented in llm_text.py): non-BMP
    surrogate-pair chars, absent from the corpus."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.queries.llm_text import _TRI_EXPR, _TRI_EXPR_FAST

    def both(df):
        a = df.select("doc_id", F.expr(_TRI_EXPR).alias("ta"))
        b = (
            df.withColumn("__ch", F.split("text", ""))
            .select("doc_id", F.expr(_TRI_EXPR_FAST).alias("tb"))
        )
        return a.join(b, "doc_id").filter(~(F.col("ta") == F.col("tb")))

    assert both(load_table(spark, sf_dir, "documents")).count() == 0

    edge = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["", "a", "ab", "abc", "abcd", "héllo wörld", "ααβγδ", "ab\ncd\te"]
        )],
        "doc_id long, text string",
    )
    diffs = both(edge).collect()
    assert not diffs, diffs


def test_knn_bruteforce_tree_matches_oracle_cosine_bitexact(spark, sf_dir):
    """knn_bruteforce's sim tree must be BIT-IDENTICAL (no rounding) to
    dot(raw)/(norm*norm) with double accumulation, the IEEE tree the
    DuckDB _COS oracle evaluates. The reference is written out here,
    without functions.vectors, so the pin does not compare the helper
    with itself. The pre-r7 form (pre-normalize then dot unit vectors)
    differs by up to ~2e-15, which crosses 6 dp grid boundaries (the
    cluster_medoids r6 failure class, CLAUDE.md rule); this pin makes a
    regression to that tree a hard failure rather than a measured-safe
    residual."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import knn_bruteforce

    def ref_dot(a, b):
        prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prods, F.lit(0.0), lambda s, x: s + x)

    def ref_norm(a):
        return F.sqrt(
            F.aggregate(a, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double"))
        )

    e = load_table(spark, sf_dir, "embeddings")
    got = knn_bruteforce(
        e.filter(F.col("vec_id") < 20), e, k=5, round_dp=None
    ).withColumnRenamed("cos_sim", "got_sim")
    q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q"))
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__c"))
    ref = got.join(q, "query_id").join(c, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        "got_sim",
        (
            ref_dot(F.col("__q"), F.col("__c"))
            / (ref_norm(F.col("__q")) * ref_norm(F.col("__c")))
        ).alias("want_sim"),
    )
    diverged = ref.filter(
        F.col("got_sim").cast("string") != F.col("want_sim").cast("string")
    ).count()
    assert diverged == 0, f"{diverged} pairs diverge from the oracle cosine tree"


def test_cosine_zero_vector_is_null_like_oracle(spark):
    """functions.vectors.cosine returns NULL for a pair with a zero
    vector on either side, exactly where DuckDB's _COS_SAFE returns
    NULL, and the same double elsewhere."""
    import duckdb

    from glue_etl_pyspark_spark.functions.vectors import cosine, l2_norm
    from glue_etl_pyspark_spark.queries.llm_knn import _COS_SAFE

    pairs = [
        (0, [0.0, 0.0], [1.0, 2.0]),
        (1, [3.0, 4.0], [0.0, 0.0]),
        (2, [0.0, 0.0], [0.0, 0.0]),
        (3, [3.0, 4.0], [1.0, 2.0]),
    ]
    df = spark.createDataFrame(pairs, "id int, a array<double>, b array<double>")
    got = {
        r.id: r.cs
        for r in df.select("id", "a", "b", l2_norm("a").alias("na"), l2_norm("b").alias("nb"))
        .select("id", cosine("a", "na", "b", "nb").alias("cs"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", pairs)
    want = dict(
        con.execute(
            f"SELECT id, {_COS_SAFE.format(a='a', b='b')} FROM t, range(1, 3) r(i) GROUP BY id"
        ).fetchall()
    )
    assert got == want
    assert [got[i] is None for i in range(4)] == [True, True, True, False]


def test_knn_paths_return_no_rows_for_no_queries(spark, sf_dir):
    """An empty query set yields an empty top-k frame on both the
    expression path and the numpy GEMM path, with the same columns."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import (
        knn_bruteforce,
        knn_bruteforce_batch,
    )

    e = load_table(spark, sf_dir, "embeddings")
    none = e.filter(F.col("vec_id") < 0)
    expr, batch = knn_bruteforce(none, e), knn_bruteforce_batch(none, e)
    assert expr.columns == batch.columns == ["query_id", "neighbor_id", "cos_sim", "rn"]
    assert expr.count() == 0 and batch.count() == 0


def test_greedy_packing_properties(spark, sf_dir):
    """First-fit sequential packing invariants: every document is
    assigned exactly once; no bin exceeds ctx_len unless it holds a
    single oversized document; bin ids are non-decreasing in doc order
    (greedy never reopens a bin)."""
    from collections import defaultdict

    from glue_etl_pyspark_spark.io import load_table

    CTX = 256
    rows = sorted(
        _run(spark, sf_dir, "doc_pack_greedy").collect(), key=lambda r: r.doc_id
    )
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs

    bins = defaultdict(list)
    for r in rows:
        bins[r.bin_id].append(r)
    for bin_id, members in bins.items():
        total = sum(r.n_tokens for r in members)
        assert total <= CTX or len(members) == 1, (bin_id, total, len(members))
        # bin_fill is the running fill; the max equals the bin total
        assert max(r.bin_fill for r in members) == total
    # within a shard, greedy emits monotonically non-decreasing bins
    last_by_shard = {}
    for r in rows:
        shard = r.bin_id // 1_000_000_000
        assert r.bin_id >= last_by_shard.get(shard, r.bin_id)
        last_by_shard[shard] = r.bin_id


def test_deterministic_sample_reproducible(spark, sf_dir):
    """The hash-mod sample must select the SAME documents on rerun
    (that is its whole point) at roughly the target fraction."""
    from glue_etl_pyspark_spark.io import load_table

    a = {r.doc_id for r in _run(spark, sf_dir, "sample_docs_deterministic").collect()}
    b = {r.doc_id for r in _run(spark, sf_dir, "sample_docs_deterministic").collect()}
    assert a == b
    n = load_table(spark, sf_dir, "documents").count()
    assert 0.04 <= len(a) / n <= 0.16, f"fraction {len(a)/n:.3f} far from 0.10"


def test_int8_rerank_recovers_exact_topk(spark, sf_dir):
    """Retrieve-rerank over the compressed corpus must recover the
    full-precision brute-force top-5 EXACTLY (measured equal at sf0.01
    and sf0.1 — 5x overfetch plus 0.99 stage-1 recall leaves no
    boundary losses on this corpus)."""
    exact = {
        (r.query_id, r.neighbor_id, r.rn)
        for r in _run(spark, sf_dir, "knn_bruteforce_cosine").collect()
    }
    rr = {
        (r.query_id, r.neighbor_id, r.rn)
        for r in _run(spark, sf_dir, "knn_int8_rerank").collect()
    }
    assert rr == exact and len(rr) == 100


def test_pack_concat_chunk_repeated_run_determinism(spark, sf_dir):
    """r4 driver-window regression pin: doc_pack_sequences hash-diverged
    ONCE at the driver but never in local reproduction. The packer's
    shard bases are now collected and re-shipped as literal data
    (operators/packing.py), so no plan re-execution (AQE, broadcast
    recompute, task retry) can change them. Stress: repeated runs under
    varying shuffle widths must be bit-identical, including against a
    fresh-plan run of the registry query itself."""
    runs = []
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("2", "8", "32", "200", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = sorted(
                (r.doc_id, r.n_tokens, r.bin_id, r.bin_offset)
                for r in _run(spark, sf_dir, "doc_pack_sequences").collect()
            )
            runs.append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert all(r == runs[0] for r in runs[1:]), "pack output varies with shuffle width"
    # manifest consumes the same packer — its totals must be stable too
    m1 = sorted(map(tuple, _run(spark, sf_dir, "llm_training_manifest").collect()))
    m2 = sorted(map(tuple, _run(spark, sf_dir, "llm_training_manifest").collect()))
    assert m1 == m2


def test_minhash_portable_recall_vs_exact(spark, sf_dir):
    """The value-oracled MinHash banding must still be a GOOD LSH:
    every planted (doc, doc-minus-last-word) twin pair from the exact
    4-gram Jaccard twin set should surface as a band collision
    (near-identical shingle sets -> near-identical signatures)."""
    exact = {
        (r.id_a, r.id_b)
        for r in _run(spark, sf_dir, "dedup_ngram_jaccard").collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in _run(spark, sf_dir, "dedup_minhash_portable").collect()
    }
    twins = {(a, b) for a, b in exact if b == a + _TWIN_OFF}
    hit = len(twins & cand) / len(twins)
    assert hit >= 0.9, f"planted-twin recall {hit:.2f} < 0.9"


def test_grouped_prefix_sum_repeated_run_determinism(spark, sf_dir):
    """Same stress pin as the packer's, for the GROUPED variant
    (curation_token_budget): repeated runs across shuffle widths must
    be bit-identical — the bases are literal data by construction."""
    runs = []
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("2", "32", "200"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = sorted(
                map(tuple, _run(spark, sf_dir, "curation_token_budget").collect())
            )
            runs.append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert all(r == runs[0] for r in runs[1:])


def test_pq_adc_recall_floor_and_structure(spark, sf_dir):
    """PQ-ADC on structureless vectors: recall@5 is inherently low
    (measured 0.17 at sf0.01 / 0.09 at sf0.1 — see the query
    docstring), so this gates a regression FLOOR plus the structural
    invariants: full query coverage at exactly top-5 and ADC
    distances non-negative/monotone per rank."""
    brute = _run(spark, sf_dir, "knn_bruteforce_cosine")
    pq = _run(spark, sf_dir, "knn_pq_adc")
    rows = pq.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 20
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == [1, 2, 3, 4, 5]
        assert all(r.adc >= 0 for r in rs)
        assert all(rs[i].adc <= rs[i + 1].adc for i in range(len(rs) - 1))
    bset = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    pset = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(bset & pset) / len(bset)
    assert recall >= 0.05, f"PQ recall floor breached: {recall:.2f}"


def test_embedding_lsh_portable_twin_recall(spark, sf_dir):
    """Planted near-dup twins must collide in at least one band:
    measured 98/100 at sf0.01 (2 misses are genuine LSH behavior at
    1-(1-s^8)^2); gate at >= 0.9."""
    pairs = _run(spark, sf_dir, "embedding_lsh_portable").collect()
    hits = {(r.id_a, r.id_b) for r in pairs}
    recall = sum(1 for i in range(100) if (i, i + 10000) in hits) / 100
    assert recall >= 0.9, f"twin recall {recall:.2f} < 0.9"


def test_pq_rerank_recall_floor(spark, sf_dir):
    """Two-stage PQ+rerank recall equals the shortlist's (measured
    0.38 at sf0.01 on structureless vectors); floor-gated, and the
    rerank output must be exact cosines in descending order."""
    rr = _run(spark, sf_dir, "knn_pq_rerank").collect()
    brute = _run(spark, sf_dir, "knn_bruteforce_cosine")
    bset = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    pset = {(r.query_id, r.neighbor_id) for r in rr}
    recall = len(bset & pset) / len(bset)
    assert recall >= 0.15, f"PQ+rerank recall floor breached: {recall:.2f}"
    by_q = {}
    for r in rr:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rn)
        assert all(
            rs[i].cos_sim >= rs[i + 1].cos_sim for i in range(len(rs) - 1)
        )


def test_boilerplate_strip_nonvacuous_and_clean_hash(spark, sf_dir):
    """The threshold must actually fire on the fixture (else the query
    proves nothing), stripped docs must change their clean hash vs the
    full reconstruction, and untouched docs must keep it."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.registry import load_all

    df = load_all()["text_boilerplate_strip"].fn(spark, sf_dir)
    agg = df.agg(
        F.sum("n_boiler").alias("b"),
        F.count("*").alias("n"),
        F.sum((F.col("n_boiler") == 0).cast("int")).alias("clean_docs"),
    ).collect()[0]
    assert agg.b > 0, "no boilerplate found - threshold vacuous on fixture"
    assert agg.clean_docs > 0, "every doc stripped - threshold too loose"
    # an all-kept doc's md5 equals md5 of its own joined lines
    import hashlib

    from glue_etl_pyspark_spark.queries.llm_quality import _with_lines
    from glue_etl_pyspark_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    probe = (
        _with_lines(d)
        .join(df.filter(F.col("n_boiler") == 0).select("doc_id", "clean_md5"), "doc_id")
        .select("doc_id", "lines", "clean_md5")
        .limit(5)
        .collect()
    )
    for r in probe:
        assert hashlib.md5("\n".join(r.lines).encode()).hexdigest() == r.clean_md5


def test_semdedup_keeps_one_per_true_group(spark, sf_dir):
    """The jittered corpus plants 20 true groups of 50 mutual
    near-dups: SemDeDup must keep at least one representative per true
    group (nothing is over-deleted), and collapse the vast majority of
    each group (the dedup actually fires)."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.registry import load_all

    df = load_all()["dedup_semantic_clusters"].fn(spark, sf_dir)
    rows = df.withColumn(
        "true_group", F.floor((F.col("vec_id") - 100000) / 50)
    ).collect()
    assert len(rows) == 1000
    kept = [r for r in rows if r.kept == 1]
    groups_kept = {r.true_group for r in kept}
    assert groups_kept == set(range(20)), "some true group lost entirely"
    # heavy collapse: >=80% of the corpus is removed as semantic dups
    assert len(kept) <= 200, f"kept {len(kept)} - dedup barely fired"


def test_systematic_resample_sums_to_n(spark, sf_dir):
    """Systematic weighted resampling must draw EXACTLY N copies in
    total (the low-variance guarantee), stably across shuffle widths
    (the prefix-sum bases are literal data)."""
    totals = []
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = _run(spark, sf_dir, "sample_weighted_systematic").collect()
            totals.append(sum(r.n_copies for r in rows))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert totals == [1000, 1000]


def test_simhash_kernel_is_bitexact_twin(spark, sf_dir):
    """simhash_bits_kernel (numpy mapInPandas) must emit EXACTLY the
    bit arrays of simhash64(tokenize_ws(text)) — over every fixture
    doc AND the tokenization edge cases where Python could part ways
    with the JVM (unicode whitespace that Java's ASCII \\s does NOT
    split on, empty/whitespace-only text, repeated tokens, case)."""
    from glue_etl_pyspark_spark.functions.text import simhash64, tokenize_ws
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.dedup import simhash_bits_kernel

    def diff_count(df, id_col):
        a = df.select(
            F.col(id_col).alias("id"),
            simhash64(tokenize_ws("text")).alias("ea"),
        )
        b = simhash_bits_kernel(
            df.select(F.col(id_col).alias("id"), "text"), "id", "text"
        ).withColumnRenamed("bits", "eb")
        # the packed long must be the same 64 bits (bit i of the array
        # at long position i, two's complement at bit 63)
        repack = F.expr(
            "aggregate(zip_with(eb, sequence(0, 63), "
            "(b, i) -> shiftleft(cast(b as bigint), i)), 0L, "
            "(acc, x) -> acc | x)"
        )
        joined = a.join(b, "id")
        bad_pack = joined.filter(~(F.col("sh64") == repack)).count()
        assert bad_pack == 0, "sh64 disagrees with its own bits array"
        return joined.filter(~(F.col("ea") == F.col("eb"))).count()

    assert diff_count(load_table(spark, sf_dir, "documents"), "doc_id") == 0

    edge = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "", "   ", "a", "A a a\tA", "x y",  # NBSP: Java \s keeps it glued
            "tab\tnewline\nret\rvt\x0bff\x0c", "Héllo HÉLLO", "ααβ ΑΑΒ",
        ])],
        "doc_id long, text string",
    )
    assert diff_count(edge, "doc_id") == 0
    # NULL text → NULL bits on BOTH paths (the equality filter can't
    # see NULL-vs-value, so assert the kernel side directly)
    null_df = spark.createDataFrame([(99, None)], "doc_id long, text string")
    rows = simhash_bits_kernel(null_df, "doc_id", "text").collect()
    assert len(rows) == 1 and rows[0]["bits"] is None
    assert rows[0]["sh64"] is None


def test_shingle_kernel_is_bitexact_twin(spark, sf_dir):
    """hashed_shingles_kernel (numpy mapInPandas, pure-Python
    xxHash64(seed=42) replication) must emit EXACTLY the arrays of
    array_distinct(hashed_shingles(token_hashes(tokenize_ws(text))))
    — values AND order — over every fixture doc plus the xxhash64
    stripe/tail boundaries (0/3/4/7/8/9/31/32/33-byte tokens, utf-8
    multibyte) and the Java-vs-Python whitespace edges."""
    from glue_etl_pyspark_spark.functions.text import (
        hashed_shingles,
        token_hashes,
        tokenize_ws,
    )
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.dedup import hashed_shingles_kernel

    def diff_count(df, id_col, n):
        a = df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                hashed_shingles(token_hashes(tokenize_ws("text")), n)
            ).alias("ea"),
        )
        b = hashed_shingles_kernel(
            df.select(F.col(id_col).alias("id"), "text"), "id", "text", n
        ).withColumnRenamed("sh", "eb")
        return a.join(b, "id").filter(~(F.col("ea") == F.col("eb"))).count()

    docs = load_table(spark, sf_dir, "documents")
    assert diff_count(docs, "doc_id", 4) == 0
    assert diff_count(docs, "doc_id", 2) == 0

    edge = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "", "   ", "a b c", "a a a a a a",  # repeats → distinct collapses
            "x y",  # NBSP inside a token: Java \s keeps it glued
            " ".join(["q" * L for L in (1, 3, 4, 7, 8, 9, 31, 32, 33)]),
            "Héllo wörld ααβ ΑΑΒ mixed case TOKENS here",
            "tab\tnewline\nret\rvt\x0bff\x0c end",
        ])],
        "doc_id long, text string",
    )
    assert diff_count(edge, "doc_id", 3) == 0
    null_df = spark.createDataFrame([(99, None)], "doc_id long, text string")
    rows = hashed_shingles_kernel(null_df, "doc_id", "text", 3).collect()
    assert len(rows) == 1 and rows[0]["sh"] is None


def test_kernels_accept_non_long_ids(spark):
    """The kernels hardcoded `{id_col} long` in their output schema,
    breaking the public ngram_jaccard_pairs/simhash_pairs operators for
    string or int ids (Arrow conversion error) — the expression path
    they replaced accepted any id type (ADVICE r8). The schema must
    derive the id field from the input."""
    from glue_etl_pyspark_spark.operators.dedup import (
        hashed_shingles_kernel,
        ngram_jaccard_pairs,
        simhash_bits_kernel,
        simhash_pairs,
    )

    sdf = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "the quick brown fox jumps over the lazy dog"),
         ("c", "completely different text with no overlap at all")],
        "doc_id string, text string",
    )
    idf = sdf.withColumn(
        "doc_id", F.abs(F.hash("doc_id")).cast("int")
    )
    for df, id_type in ((sdf, "string"), (idf, "int")):
        sh = hashed_shingles_kernel(df, "doc_id", "text", 3)
        assert sh.schema["doc_id"].dataType.simpleString() == id_type
        bits = simhash_bits_kernel(df, "doc_id", "text")
        assert bits.schema["doc_id"].dataType.simpleString() == id_type
        # end-to-end through the public operators: the duplicate pair
        # (a,b) must surface, the unrelated doc must not pair
        jacc = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3)
        pairs = {(r["id_a"], r["id_b"]) for r in jacc.collect()}
        assert len(pairs) == 1
        sim = simhash_pairs(df, "doc_id", "text", max_hamming=4)
        assert sim.count() == 1


def test_winnowing_guarantee_shared_substring(spark):
    """The winnowing theorem (Schleimer et al. '03): two documents
    sharing a substring of length >= w + k - 1 (= 10 here) must share
    at least one selected fingerprint HASH. Pinned on synthetic docs
    whose only common content is the planted run, plus a negative
    control with no 7-gram in common."""
    from glue_etl_pyspark_spark.queries.llm_dedup import winnow_fingerprints

    shared = "zqxjkvbwpm"  # 10 chars = w + k - 1, rare alphabet
    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc " + shared + " dddd eeee ffff"),
            (2, "1111 2222 3333 4444 " + shared + " 5555 6666"),
            (3, "no overlap here at all with anything else!"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs).select("doc_id", "fp_hash").collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "planted >=10-char run missed"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3]), (
        "negative control shares a fingerprint"
    )


def test_winnowing_long_doc_wide_position_field(spark):
    """Docs longer than 65535 grams exercised end-to-end (ADVICE r12:
    the old 16-bit position field overflowed there, decoding the same
    gram hash to different fp_hash values by position bucket and going
    negative for hash=0 — a Spark-DIV vs DuckDB-// divergence). With
    the 32-bit field: (a) the winnowing guarantee holds for a shared
    run planted PAST position 65535, (b) fp_pos decodes correctly
    beyond 65535, (c) the full selection is bit-identical to the
    DuckDB oracle fragment on the same long docs."""
    import duckdb
    import pandas as pd

    from glue_etl_pyspark_spark.queries.llm_dedup import (
        _WN_POS_MAX,
        _WN_POS_W,
        _winnow_oracle,
        winnow_fingerprints,
    )

    shared = "zqxjkvbwpm"  # 10 chars = w + k - 1
    filler_a = "".join(chr(97 + (7 * i) % 26) for i in range(70000))
    filler_b = "".join(chr(48 + (3 * i) % 10) for i in range(70000))
    rows = [
        (1, filler_a[:66000] + shared + filler_a[66000:]),
        (2, filler_b[:66000] + shared + filler_b[66000:]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(docs)
    got = {(r.doc_id, r.fp_hash, r.fp_pos) for r in fp.collect()}
    by_doc = {}
    for d, h, _p in got:
        by_doc.setdefault(d, set()).add(h)
    assert by_doc[1] & by_doc[2], "planted run past 65535 missed"
    assert any(p > 65535 for _d, _h, p in got), "no fp_pos beyond 16-bit range"
    assert all(0 <= h < (1 << 24) for _d, h, _p in got), "hash out of domain"

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = _winnow_oracle(
        f"SELECT doc_id, win_min // {_WN_POS_W} AS fp_hash,"
        f" {_WN_POS_MAX} - (win_min % {_WN_POS_W}) AS fp_pos FROM wsel"
    )
    want = {(int(d), int(h), int(p)) for d, h, p in con.sql(sql).fetchall()}
    assert got == want, "Spark selection diverges from oracle on long docs"


def test_winnowing_density_and_positions(spark, sf_dir):
    """Selection density ~2/(w+1) of gram positions (upper-bounded by
    1, lower-bounded by 1/w since every w-window selects something),
    and every selected position indexes a real gram."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.queries.llm_dedup import (
        _WN_K,
        _WN_W,
        winnow_fingerprints,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(50)
    )
    fp = winnow_fingerprints(docs)
    stats = (
        fp.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sel"), F.max("fp_pos").alias("max_pos"))
        .join(
            docs.select(
                "doc_id",
                (F.length("text") - F.lit(_WN_K - 1)).alias("n_grams"),
            ),
            "doc_id",
        )
        .collect()
    )
    assert stats, "no docs selected"
    for r in stats:
        n_windows = r.n_grams - _WN_W + 1
        assert 1 <= r.n_sel <= n_windows
        assert r.n_sel >= n_windows / _WN_W - 1  # every window picks one
        assert 1 <= r.max_pos <= r.n_grams


def test_ivf_empty_strided_train_falls_back_to_full_corpus(spark, sf_dir):
    """A sparse/offset id domain can stride the training set to zero
    rows; the trainer must fall back to the full corpus instead of
    emitting an empty centroid frame and silently empty inverted
    lists (ADVICE r11)."""
    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.operators.similarity import ivf_build

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .limit(40)
        # shift ids so NO id satisfies id % train_stride == 0
        .withColumn("vec_id", F.col("vec_id") * 10 + 3)
    )
    cents, members = ivf_build(emb, centroid_stride=7, train_stride=10)
    n_c, n_m = cents.count(), members.count()
    assert n_c > 0, "empty centroid frame after strided train wipeout"
    assert n_m == 40, f"members lost: {n_m}/40"


def test_ivf_oracle_train_cte_mirrors_empty_fallback():
    """The oracle's ``et`` training CTE must mirror ivf_build's
    empty-strided-train fallback (ADVICE r12): when no vec_id
    satisfies ``vec_id % ts = 0`` the oracle would otherwise train on
    an EMPTY set and return zero rows while Spark trains on the full
    corpus. Forced-stride DuckDB check: (a) wiped-out stride -> et ==
    full corpus, (b) live stride -> et == the strided sample only."""
    import duckdb
    import pandas as pd

    from glue_etl_pyspark_spark.queries.llm_knn import _ivf_strides_cte

    con = duckdb.connect()
    # ids 3, 13, 23, ... 393: none divisible by 10, all odd
    con.register(
        "e",
        pd.DataFrame({"vec_id": [10 * i + 3 for i in range(40)], "v": 0.0}),
    )
    n_all, n_et = con.sql(
        f"WITH {_ivf_strides_cte('10')} "
        "SELECT (SELECT COUNT(*) FROM e), (SELECT COUNT(*) FROM et)"
    ).fetchone()
    assert n_et == n_all == 40, "wiped-out stride must fall back to full corpus"
    n_strided, n_et2 = con.sql(
        f"WITH {_ivf_strides_cte('3')} "
        "SELECT (SELECT COUNT(*) FROM e WHERE vec_id % 3 = 0), "
        "(SELECT COUNT(*) FROM et)"
    ).fetchone()
    assert n_et2 == n_strided > 0, "live stride must NOT trigger the fallback"


def test_winnow_pairs_stable_across_shuffle_widths(spark, sf_dir):
    """The pair set must be identical under different shuffle widths
    (the DISK_ONLY materialization + self-join must not pick up any
    partition-order sensitivity). Widths 3 and 32."""
    from glue_etl_pyspark_spark.registry import load_all

    fn = load_all()["dedup_winnow_pairs"].fn
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    out = {}
    try:
        for w in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", w)
            out[w] = {
                (r.doc_a, r.doc_b, r.n_shared) for r in fn(spark, sf_dir).collect()
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert out["3"] == out["32"] and out["3"], "pair set varies with width"
