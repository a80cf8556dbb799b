"""Deduplication operators for LLM-training-data pipelines
(SURVEY.md §2.12): exact, MinHash-LSH, SimHash banding, exact n-gram
Jaccard. Clustering the mined pairs (connected components) is
``operators.components.cc_labels``.

100 TB design rules applied throughout: dedup keys are fixed-width
hashes (shuffle the 64-char digest, never the document body); all
candidate generation is inverted-index / band-bucket equi-joins (no
document cross products); hot-key blowup is bounded by document-
frequency filters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokenize_ws


def exact_dedup(
    df: DataFrame,
    cols: Sequence[str],
    tie_break: Sequence[str],
) -> DataFrame:
    """Keep one row per distinct value of ``cols`` — the first under
    ``tie_break`` ordering (deterministic, unlike ``dropDuplicates``).

    Rows shuffle on ``sha2`` of the dedup columns, not the columns
    themselves: constant-width shuffle keys regardless of document
    size. Digest collisions (2^-256) are accepted by design.
    """
    # Hash each column separately, then hash the concatenation of the
    # fixed-width digests. Joining raw values is ambiguous twice over:
    # concat_ws SKIPS nulls (colliding (NULL,'a') with ('a',NULL)),
    # and any in-band separator can be forged by values containing it
    # (('a\\x00b','c') vs ('a','b\\x00c')). Digests are fixed-width
    # hex, so their concatenation parses uniquely.
    parts = [
        F.coalesce(F.sha2(F.col(c).cast("string"), 256), F.lit("<NULL>"))
        for c in cols
    ]
    key = F.sha2(F.concat(*parts), 256)
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in tie_break])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs: emits (id_a, id_b, jaccard)
    with id_a < id_b and |A∩B|/|A∪B| ≥ threshold.

    With ``prefix_filter`` (AllPairs/SSJoin), candidate generation
    indexes only each doc's *prefix* — its |sh| - ceil(τ·|sh|) + 1
    globally-rarest shingles (rarity = corpus document frequency, ties
    by shingle text). Any pair with jaccard ≥ τ must collide inside
    both prefixes, so no true pair is lost, while hot common shingles
    never generate candidates — the classic fix for the df² pair
    blowup of a naive inverted-index join when the shingle space
    saturates (small vocabulary / short n).

    Set ``prefix_filter=False`` when shingle document frequency is
    known to be low (df ~1-2, e.g. long n-grams over a diverse
    corpus): the df-computation + per-doc ranking then costs more
    than the pairs it prunes (~1.7x measured on the 4-gram dedup
    corpus).

    Verify differs by path. Without the prefix filter the inverted
    index is COMPLETE, so the self-join emits every shared shingle
    exactly once per pair (arrays are array_distinct) and
    ``groupBy(pair).count()`` IS |A∩B| — map-side combine collapses
    the pair rows in the same shuffle the old ``distinct()`` already
    paid, and the per-candidate array_intersect re-join disappears
    (~2x on the 4-gram corpus). With the prefix filter the index is
    partial, so candidates still verify against the two full shingle
    arrays with array_intersect — per-pair work, no second big
    shuffle. Both paths are exact.
    """
    from pyspark import StorageLevel

    sh = (
        # shingle hashes are 8-byte rotate-xor folds of per-token
        # xxhash64 — join/group keys with NO per-shingle string concat
        # or string hashing. |A∩B| over hashed sets equals the
        # string-set value modulo 64-bit collisions (~n²/2^65 ≈ 1e-8
        # at 0.5M distinct shingles) — same accepted-collision stance
        # as exact_dedup's sha2 keys, and still deterministic +
        # oracle-checked. Computed by the vectorized kernel
        # (bit-identical twin of the hashed_shingles expression path,
        # pinned); repartition the raw (id, text) BEFORE the kernel: a
        # small single-file input scans as 1-2 tasks, and anything
        # computed pre-shuffle runs at that width.
        hashed_shingles_kernel(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
            .repartition(F.col("id")),
            "id",
            "__text",
            n,
        )
        .filter(F.size("sh") > 0)
        # read up to 3x downstream (df-count, prefix, verify) — persist
        # makes the reuse physical (spills to disk when bigger than
        # memory). The cached blocks stay pinned until the caller's
        # session drops them (spark.catalog.clearCache() or session
        # end) — callers running this repeatedly in one long session
        # should clear the cache between runs, as bench.py does.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    inv = sh.select("id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    if prefix_filter:
        sdf = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        prefix_len = (
            F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
        ).cast("int")
        w = Window.partitionBy("id").orderBy("df", "shingle")
        index = (
            inv.join(sdf, "shingle")
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= prefix_len)
            .select("id", "shingle")
        )
        cands = (
            index.select(F.col("id").alias("id_a"), "shingle")
            .join(index.select(F.col("id").alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("shared", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("shared")
                / (F.size("sh_a") + F.size("sh_b") - F.col("shared")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return verified.select("id_a", "id_b", "jaccard")

    # complete index: count-based verify (see docstring). The sizes
    # frame is one row per doc — joined un-hinted so AQE broadcasts it
    # at small sf while a 100 TB run falls back to a keyed shuffle.
    index = inv.select("id", "shingle")
    shared = (
        index.select(F.col("id").alias("id_a"), "shingle")
        .join(index.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    verified = (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def hashed_shingles_kernel(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """numpy mapInPandas twin of
    ``array_distinct(hashed_shingles(token_hashes(tokenize_ws(text)), n))``
    — emits (id, sh array<bigint>), bit-identical to the expression
    path INCLUDING element order (array_distinct keeps first
    occurrence; so does the kernel's unique pass). Equality-pinned
    over every fixture doc + tokenization edge cases in
    tests/test_llm_ops.py.

    Why it's exact: xxHash64(seed=42) is replicated verbatim on the
    token's UTF-8 bytes (per-string-value pinned vs F.xxhash64 in the
    same test); tokenization replicates Java's ASCII ``\\s`` class;
    the rotate-xor fold is uint64 math identical to
    ``_rotl64(a,k)^b``.

    Why it's faster: each UNIQUE token is hashed once per partition
    and cached, and the n-1 fold passes are vectorized numpy shifts
    instead of interpreted zip_with element-ops. The lead is 0.7-0.9 s
    a query at sf0.1 (4 cores, 4 interleaved warm pairs, identical
    digests, kernel faster in every pair): with the expression path
    swapped in, ``dedup_ngram_jaccard`` goes from a 2.37 s to a 3.24 s
    median and ``dedup_clusters_minlabel`` from 4.64 s to 5.35 s. That
    is above the 240-310 ms fixed cost of an Arrow-Python task, so the
    kernel stays. The edge grows with n (fold passes scale with n-1;
    the cache amortizes token hashing across the corpus' Zipf head)."""
    # derive the id type from the input: callers pass string/int ids
    # through ngram_jaccard_pairs, and a hardcoded `long` makes Arrow
    # conversion fail for them (ADVICE r8)
    id_type = df.schema[id_col].dataType.simpleString()
    spark_schema = f"{id_col} {id_type}, sh array<bigint>"

    def gen(batches):
        import re

        import numpy as np
        import pandas as pd

        M = (1 << 64) - 1
        P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
        P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

        def rotl(x, r):
            return ((x << r) | (x >> (64 - r))) & M

        def xxh64(data: bytes, seed: int = 42) -> int:
            ln = len(data)
            i = 0
            if ln >= 32:
                v1 = (seed + P1 + P2) & M
                v2 = (seed + P2) & M
                v3 = seed & M
                v4 = (seed - P1) & M
                while i + 32 <= ln:
                    v1 = (rotl((v1 + int.from_bytes(data[i : i + 8], "little") * P2) & M, 31) * P1) & M
                    v2 = (rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * P2) & M, 31) * P1) & M
                    v3 = (rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * P2) & M, 31) * P1) & M
                    v4 = (rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * P2) & M, 31) * P1) & M
                    i += 32
                h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
                for v in (v1, v2, v3, v4):
                    h ^= (rotl((v * P2) & M, 31) * P1) & M
                    h = (h * P1 + P4) & M
            else:
                h = (seed + P5) & M
            h = (h + ln) & M
            while i + 8 <= ln:
                h ^= (rotl((int.from_bytes(data[i : i + 8], "little") * P2) & M, 31) * P1) & M
                h = (rotl(h, 27) * P1 + P4) & M
                i += 8
            if i + 4 <= ln:
                h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & M
                h = (rotl(h, 23) * P2 + P3) & M
                i += 4
            while i < ln:
                h ^= (data[i] * P5) & M
                h = (rotl(h, 11) * P1) & M
                i += 1
            h ^= h >> 33
            h = (h * P2) & M
            h ^= h >> 29
            h = (h * P3) & M
            h ^= h >> 32
            return h

        ws = re.compile("[ \t\n\x0b\f\r]+")
        cache: dict[str, int] = {}

        def tok_hash(t: str) -> int:
            v = cache.get(t)
            if v is None:
                v = xxh64(t.encode("utf-8"))
                cache[t] = v
            return v

        empty = np.empty(0, dtype=np.int64)
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                if text is None:
                    # expression path yields NULL through the whole
                    # tree on NULL text; size(NULL) drops it the same
                    # way size([]) < 1 drops the empty array
                    out.append(None)
                    continue
                toks = [t for t in ws.split(text.lower()) if t]
                m = len(toks) - n + 1
                if m <= 0:
                    out.append(empty)
                    continue
                h = np.fromiter(
                    (tok_hash(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                acc = h[:m].copy()
                for j in range(1, n):
                    k = np.uint64((17 * j) % 63 + 1)
                    acc = ((acc << k) | (acc >> np.uint64(64 - k))) ^ h[j : m + j]
                _, idx = np.unique(acc, return_index=True)
                out.append(acc[np.sort(idx)].astype(np.int64))
            yield pd.DataFrame({id_col: pdf[id_col].values, "sh": out})

    return df.select(id_col, text_col).mapInPandas(gen, spark_schema)


def simhash_bits_kernel(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """numpy mapInPandas twin of ``simhash64(tokenize_ws(text))`` —
    emits (id, bits array<int>), bit-identical to the expression path
    (equality-pinned over every fixture doc + whitespace/unicode edge
    cases in tests/test_llm_ops.py; the endorsed exact-kernel pattern,
    PCA precedent).

    Why it's exact: md5 is md5; tokenization replicates the JVM's
    exactly (lower, split on Java's ASCII ``\\s`` class
    ``[ \\t\\n\\x0b\\f\\r]+`` — NOT Python's unicode-aware ``\\s`` —
    drop empties); bit extraction is the same nibble/LSB order; the
    ±1 sums are small exact integers, order-independent.

    Why it's faster (~6x on the fold): each UNIQUE token's 64-wide ±1
    row is computed once per partition and cached (corpus vocab is
    tiny vs token count), and per-doc sums become one vectorized
    numpy gather-sum instead of ~15 interpreted-HOF expression-node
    evaluations per bit per token (SCALING.md round 8: shrinking the
    per-element tree bought 0%; removing the evaluations is the
    lever)."""
    # id type derived from the input (see hashed_shingles_kernel)
    id_type = df.schema[id_col].dataType.simpleString()
    spark_schema = f"{id_col} {id_type}, bits array<int>, sh64 bigint"

    def gen(batches):
        import numpy as np
        import pandas as pd

        import hashlib
        import re

        ws = re.compile("[ \t\n\x0b\f\r]+")
        cache: dict[str, object] = {}
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

        def pm1_row(tok: str):
            row = cache.get(tok)
            if row is None:
                d = hashlib.md5(tok.encode("utf-8")).hexdigest()[:16]
                nibs = np.array([int(c, 16) for c in d], dtype=np.int64)
                row = (
                    ((nibs[:, None] >> np.arange(4)) & 1) * 2 - 1
                ).reshape(64)
                cache[tok] = row
            return row

        def pack(bits) -> int:
            # bit i of the array -> bit i of the long (two's complement
            # for bit 63, so the value round-trips as a Spark BIGINT)
            u = int((bits.astype(np.uint64) * weights).sum())
            return u - (1 << 64) if u >= 1 << 63 else u

        for pdf in batches:
            bits_out: list = []
            packed_out: list = []
            for text in pdf[text_col]:
                if text is None:
                    # expression path: NULL text → NULL bits
                    bits_out.append(None)
                    packed_out.append(None)
                    continue
                toks = [t for t in ws.split(text.lower()) if t]
                if toks:
                    sums = np.sum([pm1_row(t) for t in toks], axis=0)
                    bits = (sums > 0).astype(np.int32)
                else:
                    bits = np.zeros(64, dtype=np.int32)
                bits_out.append(bits)
                packed_out.append(pack(bits))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "bits": bits_out,
                    "sh64": pd.array(packed_out, dtype="Int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, spark_schema)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs via 64-bit SimHash with band blocking: the bit
    array splits into ``bands`` equal slices; any pair agreeing on at
    least one full band becomes a candidate (guaranteed to catch every
    pair with hamming < bands by pigeonhole), then exact hamming ≤
    ``max_hamming`` verifies. Emits (id_a, id_b, hamming_dist).

    Candidate generation is a band-value equi-join — shuffle keys are
    (band_index, 16-bit slice), so the plan is hash-partitionable and
    never compares all pairs.

    The whole pipeline runs on the PACKED 64-bit simhash (one BIGINT
    per doc, emitted by the kernel): band keys are integer bit-slices
    (``shiftrightunsigned & mask``) and the verify is
    ``bit_count(sh_a ^ sh_b)`` — whole-stage-codegen intrinsics, and
    the candidate shuffle carries 2 longs per pair instead of two
    64-int arrays. Value-equivalent to the oracle's bit-string form:
    band-string equality ⇔ equality of the same 16 bits, and
    SUM(bit<>bit) ⇔ popcount of the XOR (pinned in
    tests/test_llm_ops.py against the expression path). The r11 10x
    probe measured the array form at 119.5 s / 50k docs; the packed
    form cut it to seconds-scale (SCALING.md round-11).
    """
    width = 64 // bands
    mask = (1 << width) - 1
    # the banded frame feeds BOTH sides of the self-join below, and the
    # per-doc simhash fold is the dominant per-row cost — compute it
    # with the vectorized kernel (bit-identical twin of
    # simhash64(tokenize_ws(.)), pinned) and materialize once (id + one
    # long per doc) so neither join side re-runs it. Measured at
    # sf0.1: 23.8 s (expression, computed twice) -> 10.4 s (expression,
    # once) -> see SCALING.md for the kernel number.
    sh = (
        simhash_bits_kernel(df.select(F.col(id_col).alias("id"), text_col), "id", text_col)
        .select("id", "sh64")
        .localCheckpoint(eager=True)
    )
    banded = sh.select(
        "id",
        "sh64",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> shiftrightunsigned(sh64, b * {width}) & {mask})"
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("sh64").alias("sh_a"), "band", "band_val"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("sh64").alias("sh_b"), "band", "band_val"
    )
    cands = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming_dist", F.expr("bit_count(sh_a ^ sh_b)")
        )
        .filter(F.col("hamming_dist") <= max_hamming)
        .select("id_a", "id_b", "hamming_dist")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    max_jaccard_distance: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs via pyspark.ml MinHashLSH over
    hashed shingle sets. Randomized but seed-stable; not oracle-
    comparable (use ``ngram_jaccard_pairs`` as the exact twin).
    Emits (id_a, id_b, jaccard_dist)."""
    from pyspark import StorageLevel
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = df.select(
        F.col(id_col).alias("id"),
        shingles(tokenize_ws(text_col), n).alias("sh"),
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    # approxSimilarityJoin(feats, feats) plans the tokenize + shingle +
    # HashingTF subtree TWICE (self-join); persist makes the transform
    # physical once (r16: interleaved sf0.1 A/B min 10.90 -> 6.76 s,
    # median 14.60 -> 10.53 s, identical 6024 pairs).
    feats = tf.transform(sh).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        lsh = MinHashLSH(
            inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
        )
        model = lsh.fit(feats)
        pairs = model.approxSimilarityJoin(
            feats, feats, max_jaccard_distance, distCol="jaccard_dist"
        )
        out = pairs.filter(F.col("datasetA.id") < F.col("datasetB.id")).select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            "jaccard_dist",
        )
        # Persist hygiene (r17, VERDICT r16 item 9): materialize the
        # pair set (near-dup-pair-sized, orders of magnitude below the
        # feature blocks) via DISK_ONLY localCheckpoint so the features
        # cache can be released HERE instead of leaking one
        # MEMORY_AND_DISK copy per call into long-lived sessions —
        # checkpoint blocks are ContextCleaner-managed (freed when the
        # caller drops the frame), CacheManager entries are not. All
        # work still happens inside the caller's timed region.
        return out.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    finally:
        feats.unpersist()
