"""Deduplication queries (SURVEY.md §2.12) over a corpus with planted
duplicates: the documents table unioned with exact copies (exact
dedup) or slightly-perturbed copies (near-dedup; twin doc_id =
doc_id + _TWIN_OFF, last word dropped).

Exact ops are DuckDB-oracled; MinHash-LSH is seed-stable-randomized →
rows-only + recall tests in tests/test_llm_ops.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import hamming, simhash64, tokenize_ws
from ..io import load_table
from ..operators.components import cc_labels
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..registry import query
from ..session import pinned_confs

_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

# Twin-id offset for the perturbed-copy corpora. 1e7, NOT 1e4: the
# offset must clear the largest corpus the queries will ever run on
# (scale probes clone sf0.1 10-100x => up to ~5e5 doc ids) or twin ids
# COLLIDE with real ids and every pair join silently corrupts — the
# r7 10x probe caught exactly that as a Jaccard divide-by-zero.
# Divisible by 1e4 so `doc_id % 10000` sampling picks a twin iff it
# picks the original (dedup_jaccard_prefix relies on this).
_TWIN_OFF = 10_000_000


def _with_exact_copies(d: DataFrame) -> DataFrame:
    """documents ∪ byte-identical copies with shifted ids."""
    copies = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return d.select("doc_id", "text", "lang", "source", "n_chars").unionByName(copies)


def _with_perturbed_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies (last word dropped), twin id =
    id + _TWIN_OFF."""
    d = load_table(spark, sf_dir, "documents")
    ws = tokenize_ws("text")
    twins = d.select(
        (F.col("doc_id") + _TWIN_OFF).alias("doc_id"),
        # greatest(...,0): slice length -1 (empty/whitespace-only text)
        # is a runtime error, not an empty array
        F.array_join(
            F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))), " "
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(twins)


EXACT_ORACLE = """
WITH all_docs AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents
)
SELECT doc_id, text, lang, source, n_chars FROM all_docs
WHERE doc_id IN (SELECT MIN(doc_id) FROM all_docs GROUP BY text)
"""


@query("dedup_exact", oracle=EXACT_ORACLE, category="llm-dedup")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: planted byte-identical copies are
    removed, keeping the lowest doc_id. Shuffles sha2 digests, not
    document bodies."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(_with_exact_copies(d), cols=["text"], tie_break=["doc_id"])


NGRAM_JACCARD_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents
),
sh AS (
  SELECT doc_id AS id, list_distinct(
    CASE WHEN len(toks) < 4 THEN []
         ELSE list_transform(range(1, len(toks) - 2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS shs
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
  WHERE len(toks) >= 4
),
inv AS (SELECT id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT id, len(shs) AS n_sh FROM sh),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
  shared * 1.0 / (sa.n_sh + sb.n_sh - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.6
"""


@query("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE, category="llm-dedup")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram Jaccard near-dup pairs via the inverted shingle
    index — the oracle-checkable twin of MinHash-LSH. Every planted
    (doc, doc-minus-last-word) twin scores close to 1. 4-grams, not
    3-grams: this corpus's vocabulary is tiny, so the 3-gram space
    saturates (avg shingle df ~19) and candidate generation goes
    quadratic; 4-gram df is ~1-2, so the plain inverted-index join is
    already near-linear and prefix filtering is disabled (its df pass
    costs more than it prunes here)."""
    corpus = _with_perturbed_copies(spark, sf_dir)
    return ngram_jaccard_pairs(corpus, "doc_id", "text", n=4, threshold=0.6,
                               prefix_filter=False)


SIMHASH_TWINS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents
),
toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM corpus
),
wb AS (
  SELECT doc_id, r.i AS i,
    CASE WHEN CAST(floor(
        (strpos('0123456789abcdef', substring(md5(w), CAST(r.i // 4 AS INTEGER) + 1, 1)) - 1)
        / pow(2, r.i % 4)) AS INTEGER) % 2 = 1
      THEN 1 ELSE -1 END AS c
  FROM toks, range(0, 64) r(i)
),
bits AS (
  SELECT doc_id, i, CASE WHEN SUM(c) > 0 THEN 1 ELSE 0 END AS bit
  FROM wb GROUP BY doc_id, i
)
SELECT a.doc_id,
  CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming_dist
FROM bits a JOIN bits b ON b.doc_id = a.doc_id + {_TWIN_OFF} AND a.i = b.i
GROUP BY a.doc_id
"""


@query("dedup_simhash_twins", oracle=SIMHASH_TWINS_ORACLE, category="llm-dedup")
def dedup_simhash_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash is deterministic (md5-derived), so the 64-bit hamming
    distance between each doc and its perturbed twin is fully
    oracle-checkable — near-dups land close to 0, far from the ~32 of
    unrelated docs."""
    corpus = _with_perturbed_copies(spark, sf_dir)
    sh = corpus.select("doc_id", simhash64(tokenize_ws("text")).alias("bits"))
    a = sh.filter(F.col("doc_id") < _TWIN_OFF)
    b = sh.select(
        (F.col("doc_id") - _TWIN_OFF).alias("doc_id"),
        F.col("bits").alias("bits_b"),
    )
    return (
        a.join(b, "doc_id")
        .select("doc_id", hamming("bits", "bits_b").alias("hamming_dist"))
    )


SIMHASH_PAIRS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents
),
toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM corpus
),
wb AS (
  SELECT doc_id, r.i AS i,
    CASE WHEN CAST(floor(
        (strpos('0123456789abcdef', substring(md5(w), CAST(r.i // 4 AS INTEGER) + 1, 1)) - 1)
        / pow(2, r.i % 4)) AS INTEGER) % 2 = 1
      THEN 1 ELSE -1 END AS c
  FROM toks, range(0, 64) r(i)
),
bits AS (
  SELECT doc_id, i, CASE WHEN SUM(c) > 0 THEN 1 ELSE 0 END AS bit
  FROM wb GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(i // 16 AS INTEGER) AS band,
         string_agg(CAST(bit AS VARCHAR), '' ORDER BY i) AS band_val
  FROM bits GROUP BY doc_id, CAST(i // 16 AS INTEGER)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
  WHERE a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
    CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming_dist
  FROM cand c
  JOIN bits x ON x.doc_id = c.id_a
  JOIN bits y ON y.doc_id = c.id_b AND y.i = x.i
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, hamming_dist FROM ham WHERE hamming_dist <= 10
"""


@query("dedup_simhash_pairs", oracle=SIMHASH_PAIRS_ORACLE, category="llm-dedup")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pair mining (band-bucket equi-join
    candidates, exact hamming verify). Fully deterministic
    (md5-derived), so the ENTIRE pipeline — bit derivation, 16-bit
    banding, candidate join, hamming filter — is mirrored in the
    DuckDB oracle and hash-checked; the planted-twin recovery test
    stays as the semantic gate."""
    corpus = _with_perturbed_copies(spark, sf_dir)
    return simhash_pairs(corpus, "doc_id", "text", max_hamming=10, bands=4)


@query("dedup_minhash_lsh", oracle=None, category="llm-dedup")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (pyspark.ml, seed=42) —
    the sub-quadratic scale path; randomized → rows-only + recall
    tests against the exact Jaccard twin."""
    corpus = _with_perturbed_copies(spark, sf_dir)
    return minhash_lsh_pairs(
        corpus, "doc_id", "text", n=3, max_jaccard_distance=0.5, seed=42
    )


CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({NGRAM_JACCARD_ORACLE}),
nodes AS (SELECT DISTINCT id FROM
          (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT id, id AS lbl FROM nodes
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY id
"""


@query("dedup_clusters_minlabel", oracle=CLUSTERS_ORACLE, category="llm-dedup")
def dedup_clusters_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact 4-gram Jaccard pairs → connected
    components by iterative min-label propagation. Every planted twin
    must land in its original's cluster (asserted in tests); chains of
    natural near-dups merge transitively. Hash-checked end-to-end: the
    oracle recomputes the pairs in SQL and takes the transitive
    closure with a recursive CTE (reach = every label reachable from a
    node; component label = MIN over reach) — duplicate cliques are
    small so the closure stays tiny. The union-find property test
    remains the semantic gate for arbitrary graphs."""
    return _near_dup_clusters(_with_perturbed_copies(spark, sf_dir))


def _near_dup_clusters(corpus: DataFrame) -> DataFrame:
    """(id, cluster_id) for every doc in some exact 4-gram Jaccard >=
    0.6 pair: connected components via the certified ``cc_labels``
    fixpoint, whose non-convergence raises rather than returning a
    partial propagation the closure oracle would only catch later."""
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", n=4, threshold=0.6,
                                prefix_filter=False)
    return cc_labels(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).select(F.col("node").alias("id"), F.col("label").alias("cluster_id"))


CURATION_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, n_chars FROM documents
),
quality AS (
  SELECT doc_id, lang, text, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
  FROM corpus WHERE n_chars BETWEEN 100 AND 2000
),
kept AS (
  SELECT * FROM quality
  WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY md5(text))
    AND n_tokens >= 20
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(MIN(n_tokens) AS BIGINT) AS min_tokens
FROM kept GROUP BY lang
"""


@query("llm_corpus_curation", oracle=CURATION_ORACLE, category="llm-dedup")
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation composing the §2.12
    operators: length gate → exact dedup (keep smallest doc_id per
    byte-identical text, via the sha2-keyed exact_dedup operator) →
    token-count floor → per-language corpus stats. The planted exact
    copies (doc_id+1e6) must all be removed by the dedup stage; every
    stage is a single declarative pass, so the whole pipeline is one
    shuffle per stage at scale (filter stages are free)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text", "lang", "n_chars").unionByName(
        d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "n_chars"
        )
    )
    quality = corpus.filter(F.col("n_chars").between(100, 2000)).select(
        "doc_id", "lang", "text",
        F.size(tokenize_ws("text")).cast("bigint").alias("n_tokens"),
    )
    deduped = exact_dedup(quality, cols=["text"], tie_break=["doc_id"])
    kept = deduped.filter(F.col("n_tokens") >= 20)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
    )


CANONICAL_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents
),
assign AS (
  SELECT id, cluster_id FROM ({CLUSTERS_ORACLE})
),
full_c AS (
  SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS len,
    coalesce(a.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN assign a ON a.id = c.doc_id
),
ranked AS (
  SELECT doc_id, len, cluster_id,
    row_number() OVER (
      PARTITION BY cluster_id ORDER BY len DESC, doc_id) AS rn
  FROM full_c
),
counts AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM full_c
  GROUP BY cluster_id
)
SELECT r.cluster_id, r.doc_id AS keep_id, r.len AS keep_len, c.n_members
FROM ranked r JOIN counts c ON c.cluster_id = r.cluster_id
WHERE r.rn = 1 AND c.n_members > 1
"""


@query("dedup_cluster_canonical", oracle=CANONICAL_ORACLE, category="llm-dedup")
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one-per-cluster step that FINISHES near-dedup: after
    pair mining and connected components, each multi-member cluster
    elects its canonical document (longest text, doc_id tie-break) —
    the rewrite rule a dedup pipeline applies to the corpus. Built on
    cc_labels (certified min-label fixpoint, lineage-truncated); docs in
    no pair are singleton clusters and drop out of the report. The
    per-cluster window partitions are clique-sized (tiny at any corpus
    scale). Hash-checked end-to-end through the recursive-CTE closure
    oracle — the iterative chain stays value-verified."""
    corpus = _with_perturbed_copies(spark, sf_dir)
    assign = _near_dup_clusters(corpus)
    full_c = (
        corpus.select("doc_id", F.length("text").cast("bigint").alias("len"))
        .join(assign, corpus.doc_id == assign.id, "left")
        .select(
            "doc_id",
            "len",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("len"), "doc_id")
    ranked = full_c.withColumn("rn", F.row_number().over(w))
    counts = full_c.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        ranked.filter(F.col("rn") == 1)
        .join(counts, "cluster_id")
        .filter(F.col("n_members") > 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("len").alias("keep_len"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# Substring-level duplicate spans (Lee et al. 2022 exact-substring dedup)
# ---------------------------------------------------------------------------

_SPAN_W = 8  # duplicated-substring width, in tokens

SUBSTRING_SPANS_ORACLE = f"""
WITH tn AS (
  SELECT doc_id, {_DUCK_TOKS} AS t, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n
  FROM documents
), sh AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{_SPAN_W - 1}], ' ') AS s
  FROM tn, unnest(range(1, CAST(n - {_SPAN_W - 2} AS BIGINT))) AS u(i)
  WHERE n >= {_SPAN_W}
), dup AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 1
), ds AS (
  SELECT sh.doc_id, sh.pos FROM sh JOIN dup ON sh.s = dup.s
), cv AS (
  SELECT doc_id,
    COALESCE(LEAST({_SPAN_W}, pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)), {_SPAN_W}) AS contrib
  FROM ds
), cov AS (
  SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS covered FROM cv GROUP BY doc_id
)
SELECT tn.doc_id, tn.n AS n_tokens,
  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
  CAST(COALESCE(cov.covered, 0) * 1000000 // tn.n AS BIGINT) AS dup_ppm
FROM tn LEFT JOIN cov ON tn.doc_id = cov.doc_id
"""


@query("dedup_substring_spans", oracle=SUBSTRING_SPANS_ORACLE, category="llm-dedup")
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile (the Lee et al. 2022
    "Deduplicating Training Data" discipline, at token shingle
    granularity): every {W}-token window that occurs more than once in
    the corpus marks its span duplicated; per document we report how
    many token positions fall under at least one duplicated window and
    the ppm fraction — the removal mask a substring-dedup pass would
    cut. Exact interval-union coverage without exploding positions:
    duplicated windows all have width W, so sorting their start
    positions per doc and summing LEAST(W, gap-to-previous) IS the
    union length (one lag window over dup starts only). Scale: the
    shingle groupBy is the only corpus-wide shuffle; the production
    path hashes shingles to 8-byte keys first (see
    `dedup_ngram_jaccard`) — kept as raw strings here so the grouping
    key is value-portable for the oracle. All arithmetic is integer
    (exact on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    tn = d.select(
        "doc_id", tokenize_ws("text").alias("t")
    ).withColumn("n", F.size("t").cast("bigint"))
    sh = (
        tn.filter(F.col("n") >= _SPAN_W)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), (F.col("n") - F.lit(_SPAN_W - 1)).cast("int"))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(F.expr(f"slice(t, pos, {_SPAN_W})"), " ").alias("s"),
        )
    )
    dup = sh.groupBy("s").count().filter(F.col("count") > 1).select("s")
    ds = sh.join(dup, "s").select("doc_id", "pos")
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id").orderBy("pos")
    cv = ds.select(
        "doc_id",
        F.coalesce(
            F.least(F.lit(_SPAN_W), F.col("pos") - F.lag("pos").over(wd)),
            F.lit(_SPAN_W),
        ).alias("contrib"),
    )
    cov = cv.groupBy("doc_id").agg(F.sum("contrib").cast("bigint").alias("covered"))
    return (
        tn.select("doc_id", F.col("n").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered", F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.expr("coalesce(covered, 0) * 1000000 div n_tokens")
            .cast("bigint")
            .alias("dup_ppm"),
        )
    )


_CONT_THR_PPM = 900_000

CONTAINMENT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents
),
sh AS (
  SELECT doc_id AS id, list_distinct(
    CASE WHEN len(toks) < 4 THEN []
         ELSE list_transform(range(1, len(toks) - 2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS shs
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
  WHERE len(toks) >= 4
),
inv AS (SELECT id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT id, CAST(len(shs) AS BIGINT) AS n_sh FROM sh),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, shared,
  CAST((shared * 1000000) // sa.n_sh AS BIGINT) AS cont_ab_ppm,
  CAST((shared * 1000000) // sb.n_sh AS BIGINT) AS cont_ba_ppm
FROM shared
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE greatest((shared * 1000000) // sa.n_sh,
               (shared * 1000000) // sb.n_sh) >= {_CONT_THR_PPM}
"""


@query("dedup_containment", oracle=CONTAINMENT_ORACLE, category="llm-dedup")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup (|A∩B|/|A| — what Jaccard misses):
    a short document quoted whole inside a long one has low Jaccard
    (the union is large) but containment ~1 in one direction, which is
    exactly the quote-inclusion / subset-duplicate case corpus dedup
    must catch. Same hashed inverted-index count-verify as the Jaccard
    op (one shuffle, 8-byte keys), different normalization: both
    directional containments as exact integer ppm (DIV — no doubles),
    pairs kept when EITHER direction clears 0.9.

    The planted doc-minus-last-word twins surface with cont ~1 in the
    small->large direction regardless of their Jaccard."""
    from ..functions.text import hashed_shingles, token_hashes, tokenize_ws
    from pyspark import StorageLevel

    corpus = _with_perturbed_copies(spark, sf_dir)
    sh = (
        corpus.select(F.col("doc_id").alias("id"), F.col("text").alias("__text"))
        .repartition(F.col("id"))
        .withColumn("__th", token_hashes(tokenize_ws("__text")))
        .select("id", F.array_distinct(hashed_shingles("__th", 4)).alias("sh"))
        .filter(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    inv = sh.select("id", F.explode("sh").alias("shingle"))
    shared = (
        inv.select(F.col("id").alias("id_a"), "shingle")
        .join(inv.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = sh.select("id", F.size("sh").cast("bigint").alias("n_sh"))
    out = (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            "shared",
            F.expr("(shared * 1000000) DIV n_a").cast("bigint").alias("cont_ab_ppm"),
            F.expr("(shared * 1000000) DIV n_b").cast("bigint").alias("cont_ba_ppm"),
        )
        .filter(
            F.greatest("cont_ab_ppm", "cont_ba_ppm") >= F.lit(_CONT_THR_PPM)
        )
    )
    return out


JACCARD_PREFIX_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + {_TWIN_OFF},
         array_to_string(({_DUCK_TOKS})[1:len({_DUCK_TOKS}) - 1], ' ')
  FROM documents WHERE doc_id < 200
),
sh AS (
  SELECT doc_id AS id, list_distinct(
    CASE WHEN len(toks) < 3 THEN []
         ELSE list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS shs
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM corpus)
  WHERE len(toks) >= 3
),
inv AS (SELECT id, unnest(shs) AS shingle FROM sh),
sizes AS (SELECT id, len(shs) AS n_sh FROM sh),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
  shared * 1.0 / (sa.n_sh + sb.n_sh - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.75
"""


@query(
    "dedup_jaccard_prefix", oracle=JACCARD_PREFIX_ORACLE, category="llm-dedup"
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PREFIX-FILTERED (AllPairs/SSJoin) Jaccard path with its own
    external correctness row: 3-gram shingles saturate this corpus's
    tiny vocabulary (avg df ~19), which is exactly the regime where
    indexing only each doc's |sh| - ceil(tau*|sh|) + 1 globally-rarest
    shingles prevents the df^2 candidate blowup a complete inverted
    index suffers. Higher threshold (0.75) keeps the prefix short.
    Candidate generation is lossless for pairs >= tau (the prefix
    overlap guarantee); verification re-intersects the full hashed
    shingle arrays. Same result as the complete-index path (equality
    pinned in tests); this registration gives the ALGORITHM its own
    driver evidence. Corpus bounded to 200 base docs + twins so the
    vanilla-session window stages stay driver-cheap; the algorithm
    path is identical at any size."""
    corpus = _with_perturbed_copies(spark, sf_dir).filter(
        (F.col("doc_id") % 10000) < 200
    )
    # the prefix path chains several windows/joins over a TINY frame:
    # on a vanilla 200-partition session every stage pays 200 tasks.
    # Pin the shuffle width while localCheckpoint materializes the
    # pairs eagerly, then hand back a plain frame; the driver evaluates
    # queries sequentially, so the pin is race-free.
    with pinned_confs(spark, {"spark.sql.shuffle.partitions": "16"}):
        return ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=3, threshold=0.75, prefix_filter=True
        ).localCheckpoint()


# --- winnowing fingerprints (r12) --------------------------------------
#
# MOSS-style document fingerprinting [Schleimer, Wilkerson, Aiken,
# SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting"]:
# hash every k-char gram, slide a window of w consecutive gram hashes,
# and keep each window's minimum (rightmost-minimal on hash ties). The
# guarantee: any shared substring of length >= w + k - 1 between two
# documents contributes at least one IDENTICAL selected hash to both —
# position-robust near-dup/plagiarism/contamination detection with
# ~2/(w+1) of the grams retained.
#
# Implementation is pure window SQL, identical tree on both engines:
# the (hash, position) pair packs into ONE BIGINT key
# (hash * 65536 + (65535 - pos), hash < 2^24 so key < 2^40) whose MIN
# over the w-frame is exactly "smallest hash, rightmost position" —
# no arg_min needed, and DISTINCT over the per-start minima IS the
# winnowing selection set. Spark hashes the exploded grams with the
# codegen _md5_mod_spark twin (one md5 + conv per gram); the oracle
# keeps the portable polynomial. Gram extraction is O(L) per doc via
# the split-once char array (the langid discipline — substring(str,i,k)
# per position would rescan UTF-8 from offset 0 and go O(L^2)).
#
# Scale: one shuffle (window partitioned by doc_id); per-doc work is
# bounded by doc length, per-row state by w. The pair query joins on
# fp_hash through a df-cap (HAVING <= 10 docs) inverted index, so
# candidates stay linear in corpus size — never all-pairs.

_WN_K = 7          # gram chars
_WN_W = 4          # window of consecutive gram hashes
_WN_MOD = 1 << 24  # md5 hash domain (6 hex digits)
_WN_DF_CAP = 10    # pair query: drop fingerprints in more docs
_WN_SHARED = 3     # pair query: min shared fingerprint hashes
# Position field width for the packed (hash, pos) window key. 32 bits,
# not 16: a 16-bit field overflows for docs > 65535 grams — the same
# gram hash would decode to a different fp_hash depending on position
# bucket (silently voiding the winnowing shared-substring guarantee),
# and hash = 0 would yield a NEGATIVE key where Spark DIV (truncates
# toward zero) and DuckDB // (floors) diverge. With 32 bits the key is
# hash(<2^24) * 2^32 + posfield(<2^32) < 2^56 — comfortably BIGINT,
# always non-negative, correct for docs up to 2^32-1 chars. The
# tie-break semantics (hash-major, rightmost position wins equal
# hashes) are identical to the narrow field for every in-range doc.
_WN_POS_W = 1 << 32
_WN_POS_MAX = _WN_POS_W - 1

_WN_SEL_SQL = f"""
WITH wnd AS (
  SELECT doc_id, text, length(text) - {_WN_K - 1} AS n FROM documents
  WHERE length(text) >= {_WN_K + _WN_W - 1}
), wng AS (
  SELECT doc_id, n, pos, substr(text, CAST(pos AS INT), {_WN_K}) AS gram
  FROM (SELECT doc_id, n, text, unnest(generate_series(1, n)) AS pos
        FROM wnd) u
), wnk AS (
  SELECT doc_id, n, pos,
         CAST({{poly}} AS BIGINT) * {_WN_POS_W} + ({_WN_POS_MAX} - pos) AS key
  FROM wng
), wnm AS (
  SELECT doc_id, pos, n,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING)
           AS win_min
  FROM wnk
), wsel AS (
  SELECT DISTINCT doc_id, win_min FROM wnm WHERE pos <= n - {_WN_W - 1}
)
"""


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp_hash, fp_pos) winnowing selection over (doc_id,
    text). Exported for the guarantee unit test; both registered
    queries build on it.

    BMP-only text assumption (repo-wide discipline, see langid): gram
    extraction splits with ``F.split(text, '')`` which yields UTF-16
    code units, while ``length()`` and the oracle's substr/
    generate_series count code points — non-BMP characters (surrogate
    pairs) would misalign positions and grams between engines. The
    synthetic corpus is ASCII; real pipelines should strip or gate
    non-BMP text upstream (``text_normalize_clean``)."""
    from .sketches import _md5_mod_spark

    d = docs.filter(F.length("text") >= _WN_K + _WN_W - 1)
    d = d.withColumn("__n", (F.length("text") - F.lit(_WN_K - 1)).cast("int"))
    # Gram extraction stays entirely in whole-stage codegen: explode
    # the char array ONCE (split evaluated once per doc inside the
    # generator), then assemble each k-gram from window lead()s over
    # the char rows. The first-draft HOF shape —
    # transform(sequence(1,n), i -> concat(get(__ch,...) x k)) fed to
    # posexplode — collapsed the split INTO the per-element lambda and
    # re-evaluated it per element-access (~145 s for 1.5M grams at
    # sf0.1, single-core); this window form does the same work in
    # ~2 s. Both window specs share (doc_id, pos) partitioning, so the
    # whole selection costs ONE shuffle.
    ch = d.select(
        "doc_id", "__n", F.posexplode(F.split("text", "")).alias("__c0", "__ch")
    )
    wc = Window.partitionBy("doc_id").orderBy("__c0")
    gram = F.concat(
        F.col("__ch"),
        *[F.lead("__ch", j, "").over(wc) for j in range(1, _WN_K)],
    )
    ex = (
        ch.withColumn("gram", gram)
        .withColumn("pos", (F.col("__c0") + 1).cast("int"))
        .filter(F.col("pos") <= F.col("__n"))
    )
    ex = ex.withColumn(
        "key",
        F.expr(_md5_mod_spark("gram", "wn", _WN_MOD)).cast("bigint")
        * F.lit(_WN_POS_W).cast("bigint")
        + (F.lit(_WN_POS_MAX).cast("bigint") - F.col("pos")),
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WN_W - 1)
    sel = (
        ex.withColumn("win_min", F.min("key").over(wnd))
        .filter(F.col("pos") <= F.col("__n") - (_WN_W - 1))
        .select("doc_id", "win_min")
        .distinct()
    )
    return sel.select(
        "doc_id",
        F.expr(f"CAST(win_min DIV {_WN_POS_W} AS BIGINT)").alias("fp_hash"),
        F.expr(f"CAST({_WN_POS_MAX} - (win_min % {_WN_POS_W}) AS BIGINT)").alias(
            "fp_pos"
        ),
    )


def _winnow_oracle(tail: str) -> str:
    from .sketches import _md5_mod

    return _WN_SEL_SQL.format(poly=_md5_mod("gram", "wn", _WN_MOD)) + tail


WINNOW_PROFILE_ORACLE = _winnow_oracle(f"""
, fp AS (
  SELECT doc_id, win_min // {_WN_POS_W} AS fp_hash FROM wsel
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST(COUNT(DISTINCT fp_hash) AS BIGINT) AS n_hashes,
       CAST(SUM(fp_hash) AS BIGINT) AS fp_sum,
       CAST(MIN(fp_hash) AS BIGINT) AS fp_min,
       CAST(MAX(fp_hash) AS BIGINT) AS fp_max
FROM fp GROUP BY doc_id
""")


@query(
    "text_winnow_fingerprints",
    oracle=WINNOW_PROFILE_ORACLE,
    category="llm-dedup",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint profile: selection count,
    distinct hash count, and an order-invariant integer digest
    (sum/min/max of selected 24-bit hashes — per-doc sum is bounded by
    2^24 x grams-per-doc, integer-exact in BIGINT at any corpus
    size)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = winnow_fingerprints(docs)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        F.countDistinct("fp_hash").cast("bigint").alias("n_hashes"),
        F.sum("fp_hash").cast("bigint").alias("fp_sum"),
        F.min("fp_hash").cast("bigint").alias("fp_min"),
        F.max("fp_hash").cast("bigint").alias("fp_max"),
    )


WINNOW_PAIRS_ORACLE = _winnow_oracle(f"""
, fps AS (
  SELECT DISTINCT doc_id, win_min // {_WN_POS_W} AS fp_hash FROM wsel
), kept AS (
  SELECT fp_hash FROM fps GROUP BY fp_hash HAVING COUNT(*) <= {_WN_DF_CAP}
), ff AS (
  SELECT f.doc_id, f.fp_hash FROM fps f JOIN kept USING (fp_hash)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ff a JOIN ff b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_WN_SHARED}
""")


@query("dedup_winnow_pairs", oracle=WINNOW_PAIRS_ORACLE, category="llm-dedup")
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via shared winnowing fingerprints: docs
    sharing >= 3 selected hashes after a document-frequency cut
    (fingerprints present in > 10 docs are boilerplate, dropped — the
    df-cap bounds every inverted-index bucket, so the candidate join
    stays linear in corpus size; the winnowing guarantee still catches
    any >= w+k-1 = 10-char rare shared substring run)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the df-cut + self-join reference the selection FOUR times through
    # their lineage (kept, ff, a, b) — materialize it once so the char
    # explode + windows run a single time. DISK_ONLY, not
    # localCheckpoint: the fingerprint set is CORPUS-scaled (~60 rows
    # per doc), and memory-backed materialization of a corpus-scaled
    # frame OOMs the moment the corpus outgrows the heap (the r12 100x
    # probe killed the 8g JVM at 500k docs through exactly this line);
    # serialized disk blocks cost one linear write and never compete
    # with the self-join's sort buffers for heap.
    from pyspark import StorageLevel

    fps = (
        winnow_fingerprints(docs)
        .select("doc_id", "fp_hash")
        .distinct()
        .persist(StorageLevel.DISK_ONLY)
    )
    kept = fps.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") <= _WN_DF_CAP
    )
    ff = fps.join(kept.select("fp_hash"), "fp_hash")
    a = ff.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = ff.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WN_SHARED)
    )
    # Release the ~60-rows/doc fingerprint blocks before handing the
    # result back: materialize the (much smaller, df-cap-bounded) pair
    # aggregate to its own DISK_ONLY blocks, then drop fps. Long-lived
    # sessions that sweep many queries otherwise accumulate
    # corpus-scaled disk blocks per sweep. The result's own blocks
    # (bounded by n_fps x df_cap pairs pre-agg, far fewer post-agg)
    # live until the consumer's session ends — acceptable residue; a
    # recompute after eviction would still be correct, just slower.
    pairs = pairs.persist(StorageLevel.DISK_ONLY)
    pairs.count()
    fps.unpersist()
    return pairs
