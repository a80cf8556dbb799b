"""Exact repeated-substring structure via distributed suffix ranking
(round 15): the ExactSubstr primitive of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better") — find
the longest token sequences that occur more than once in the corpus,
exactly, without any hashing or sketching.

Spark side: Manber-Myers prefix doubling over (doc_id, pos) token
suffixes (operators/ranks.py) — ceil(log2(max doc tokens)) rounds of
a lead()-window rank pairing + a sharded global dense rank with
driver-literal offsets, stopping early on the uniqueness certificate.
Never a global sort of suffix strings. The classic suffix-array fact
makes the top-k exact: the maximum common prefix between ANY two
distinct suffixes is achieved by some pair ADJACENT in suffix order,
so the LCP array (plus duplicate-suffix groups, whose members match
in full) contains every longest-repeat witness.

Oracle: a genuinely DIFFERENT algorithm — DuckDB sorts the suffixes
directly (chr(1)-joined token strings; the separator byte sorts below
every token character, so string order == token-sequence order) and
computes the same LCP table. Pure integers + token strings, so the
whole pipeline is hash-checked end to end (the CC closure-oracle
discipline: iteration on one engine, direct construction on the
other)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.components import cc_labels
from ..operators.ranks import suffix_ranks
from ..registry import query
from .llm_text import _DUCK_TOKS

_SUF_TOPK = 20
_SAMPLE_TOKS = 8
# ExactSubstr cut threshold (tokens). Lee et al. 2022 use 50 BPE
# tokens at web scale; these synthetic docs average ~54 whitespace
# tokens, so 5 keeps the transform selective but non-vacuous
# (sf0.01: 71/500 docs cut, ~9% of tokens).
_CUT_K = 5

REPEATED_SUBSTR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
pos0 AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(len(toks) AS BIGINT) - 1)) AS pos
  FROM toks
),
suf AS (
  SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
         CAST(len(t.toks) - p.pos AS BIGINT) AS slen,
         array_to_string(t.toks[CAST(p.pos + 1 AS BIGINT):], chr(1)) AS s
  FROM pos0 p JOIN toks t USING (doc_id)
),
rk AS (SELECT *, dense_rank() OVER (ORDER BY s) AS r FROM suf),
g AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY r ORDER BY doc_id, pos) AS m
  FROM rk
),
wrep AS (
  SELECT p.r, p.doc_id, p.pos, p.slen,
         t.toks[CAST(p.pos + 1 AS BIGINT):] AS ta
  FROM g p JOIN toks t ON t.doc_id = p.doc_id WHERE p.m = 1
),
sec AS (SELECT r, doc_id, pos FROM g WHERE m = 2),
adj AS (
  SELECT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b,
         b.pos AS pos_b,
         COALESCE(NULLIF(list_position(list_transform(
             generate_series(1, CAST(least(a.slen, b.slen) AS BIGINT)),
             j -> a.ta[j] = b.ta[j]), false), 0) - 1,
           least(a.slen, b.slen)) AS lcp,
         a.ta AS ta
  FROM wrep a JOIN wrep b ON b.r = a.r + 1
),
ties AS (
  SELECT a.doc_id AS doc_a, a.pos AS pos_a, s.doc_id AS doc_b,
         s.pos AS pos_b, a.slen AS lcp, a.ta
  FROM wrep a JOIN sec s USING (r)
),
allp AS (SELECT * FROM adj UNION ALL SELECT * FROM ties)
SELECT CAST(lcp AS BIGINT) AS lcp, CAST(doc_a AS BIGINT) AS doc_a,
  CAST(pos_a AS BIGINT) AS pos_a, CAST(doc_b AS BIGINT) AS doc_b,
  CAST(pos_b AS BIGINT) AS pos_b,
  COALESCE(array_to_string(
    ta[1:CAST(least(lcp, {_SAMPLE_TOKS}) AS BIGINT)], ' '), '') AS sample
FROM allp
ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b LIMIT {_SUF_TOPK}
"""


@query(
    "text_repeated_substrings",
    oracle=REPEATED_SUBSTR_ORACLE,
    category="llm-dedup",
)
def text_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 longest exactly-repeated token sequences in the corpus
    (the ExactSubstr dedup witness table): every row is a repeat of
    ``lcp`` tokens occurring at (doc_a, pos_a) and (doc_b, pos_b),
    with an 8-token sample. Pairs come from the suffix-order LCP
    array — rank-adjacent distinct suffixes — plus duplicate-suffix
    groups (full-length matches between their two smallest members);
    by the suffix-array adjacency fact that set contains every
    longest-repeat witness, so the top of this table IS the exact
    answer a quadratic all-pairs scan would give.

    Scale: suffix ranking is log2(max doc len) prefix-doubling rounds
    (domain-bounded + uniqueness certificate — operators/ranks.py),
    each a lead()-window rank pairing plus a sharded dense rank whose
    offsets ship as driver literals (the packing-bases discipline; no
    repartitionByRange sampling, no single-partition window over the
    corpus). The LCP stage touches only rank-group representatives
    (suffix-count rows, token arrays materialized per pair via one
    doc-keyed join) and zip_with evaluates its inputs once (the HOF
    capture rule). At 100 TB this is the shape ExactSubstr shards by
    rank ranges; nothing here sorts strings globally."""
    from ..functions.text import tokenize_ws

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize_ws("text").alias("toks"))

    ranks = suffix_ranks(d)
    wg = Window.partitionBy("r").orderBy("doc_id", "pos")
    g = ranks.withColumn("m", F.row_number().over(wg))
    rep = g.filter(F.col("m") == 1).drop("m")
    sec = g.filter(F.col("m") == 2).drop("m")

    # token arrays only for the representatives (rank-group count of
    # rows, not all suffixes x lengths)
    # every join below is group/corpus-scaled on BOTH sides — merge
    # hints keep AQE from broadcast-converting on deceptively small
    # compressed shuffle stats (the r15 100x probe OOM'd the 8g
    # driver building a broadcast of 350k token-array rows)
    wrep = rep.join(toks.hint("merge"), "doc_id").select(
        "r", "doc_id", "pos", "slen",
        F.expr("slice(toks, cast(pos + 1 as int), cast(slen as int))").alias("ta"),
    )
    a = wrep.select(
        F.col("r"),
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"),
        F.col("slen").alias("la"), F.col("ta"),
    )
    b = wrep.select(
        (F.col("r") - 1).alias("r"),
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"),
        F.col("slen").alias("lb"), F.col("ta").alias("tb"),
    )
    # Spark array_position returns 0 (not NULL) when absent — map the
    # no-mismatch case (one suffix is a prefix of the other) to
    # min(la, lb) explicitly
    mm = F.array_position(
        F.zip_with(
            F.slice("ta", 1, F.least("la", "lb").cast("int")),
            F.slice("tb", 1, F.least("la", "lb").cast("int")),
            lambda x, y: x == y,
        ),
        F.lit(False),
    )
    adj = a.join(b.hint("merge"), "r").select(
        "doc_a", "pos_a", "doc_b", "pos_b",
        F.when(mm > 0, mm - 1)
        .otherwise(F.least("la", "lb"))
        .cast("bigint")
        .alias("lcp"),
        "ta",
    )
    ties = (
        wrep.select(
            "r",
            F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"),
            F.col("slen").alias("lcp"), "ta",
        )
        .join(
            sec.select(
                "r",
                F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"),
            ).hint("merge"),
            "r",
        )
        .select("doc_a", "pos_a", "doc_b", "pos_b",
                F.col("lcp").cast("bigint").alias("lcp"), "ta")
    )
    allp = adj.unionByName(ties)
    return (
        allp.select(
            "lcp", "doc_a", "pos_a", "doc_b", "pos_b",
            F.array_join(
                F.slice("ta", 1, F.least("lcp", F.lit(_SAMPLE_TOKS)).cast("int")),
                " ",
            ).alias("sample"),
        )
        .orderBy(F.desc("lcp"), "doc_a", "pos_a", "doc_b", "pos_b")
        .limit(_SUF_TOPK)
    )


# Shared oracle prefix: per-suffix repeat lengths by direct suffix
# sort. rep_len(p) = length of the longest prefix of suffix p that
# occurs at some OTHER (doc, pos) — slen for duplicate-suffix groups,
# else the max LCP with the rank-adjacent distinct suffixes (the
# suffix-array adjacency fact again: the max LCP over ALL other
# suffixes is achieved at an adjacent rank).
_REPEAT_LEN_PREFIX = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
pos0 AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(len(toks) AS BIGINT) - 1)) AS pos
  FROM toks
),
suf AS (
  SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
         CAST(len(t.toks) - p.pos AS BIGINT) AS slen,
         array_to_string(t.toks[CAST(p.pos + 1 AS BIGINT):], chr(1)) AS s
  FROM pos0 p JOIN toks t USING (doc_id)
),
rk AS (
  SELECT doc_id, pos, slen,
         dense_rank() OVER (ORDER BY s) AS r,
         count(*) OVER (PARTITION BY s) AS gsz,
         row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS m
  FROM suf
),
wrep AS (
  SELECT k.r, k.slen, t.toks[CAST(k.pos + 1 AS BIGINT):] AS ta
  FROM rk k JOIN toks t USING (doc_id) WHERE k.m = 1
),
adj AS (
  SELECT a.r,
         COALESCE(NULLIF(list_position(list_transform(
             generate_series(1, CAST(least(a.slen, b.slen) AS BIGINT)),
             j -> a.ta[j] = b.ta[j]), false), 0) - 1,
           least(a.slen, b.slen)) AS lcp
  FROM wrep a JOIN wrep b ON b.r = a.r + 1
),
nbr AS (
  SELECT r, max(lcp) AS nl
  FROM (SELECT r, lcp FROM adj
        UNION ALL SELECT r + 1 AS r, lcp FROM adj) u
  GROUP BY r
),
per_suf AS (
  SELECT k.doc_id, k.pos, k.slen,
         CASE WHEN k.gsz >= 2 THEN k.slen
              ELSE COALESCE(n.nl, 0) END AS rep_len
  FROM rk k LEFT JOIN nbr n USING (r)
)"""

LONGEST_REPEAT_ORACLE = f"""{_REPEAT_LEN_PREFIX},
best AS (
  SELECT doc_id, pos, rep_len,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY rep_len DESC, pos) AS rn
  FROM per_suf
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(b.rep_len AS BIGINT) AS rep_len,
       CAST(b.pos AS BIGINT) AS rep_pos,
       COALESCE(array_to_string(
         t.toks[CAST(b.pos + 1 AS BIGINT)
                :CAST(b.pos + least(b.rep_len, {_SAMPLE_TOKS}) AS BIGINT)],
         ' '), '') AS sample
FROM best b JOIN toks t USING (doc_id)
WHERE b.rn = 1
ORDER BY doc_id
"""

EXACTSUBSTR_CUT_ORACLE = f"""{_REPEAT_LEN_PREFIX},
flags AS (
  SELECT doc_id, pos,
         COALESCE(
           max(CASE WHEN rep_len >= {_CUT_K} THEN pos + rep_len END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           > pos, false) AS covered
  FROM per_suf
)
SELECT CAST(f.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN f.covered THEN 1 ELSE 0 END) AS BIGINT)
         AS cut_tokens,
       COALESCE(string_agg(t.toks[CAST(f.pos + 1 AS BIGINT)], ' '
                           ORDER BY f.pos)
                FILTER (WHERE NOT f.covered), '') AS kept_text
FROM flags f JOIN toks t USING (doc_id)
GROUP BY f.doc_id
ORDER BY doc_id
"""


def _repeat_lengths(d: DataFrame):
    """(toks, per) where per = (doc_id, pos, slen, rep_len): for every
    corpus suffix, the length of its longest prefix that also occurs
    at some other (doc, pos). Duplicate-suffix groups (gsz >= 2) get
    slen; singletons get the max LCP with the rank-adjacent distinct
    suffixes (which, by the suffix-array adjacency fact, equals the
    max LCP over ALL other suffixes). Same merge-hint discipline as
    text_repeated_substrings: every join is corpus-scaled on both
    sides, and AQE's compressed-shuffle stats make token-array frames
    look broadcastable (the r15 OOM). ``d`` is any (doc_id, text)
    frame — queries pass the documents table, tests pass in-memory
    corpora."""
    from ..functions.text import tokenize_ws

    toks = d.select("doc_id", tokenize_ws("text").alias("toks"))

    ranks = suffix_ranks(d)
    wr = Window.partitionBy("r")
    wg = Window.partitionBy("r").orderBy("doc_id", "pos")
    g = ranks.withColumn("gsz", F.count("*").over(wr)).withColumn(
        "m", F.row_number().over(wg)
    )
    wrep = (
        g.filter(F.col("m") == 1)
        .join(toks.hint("merge"), "doc_id")
        .select(
            "r",
            "slen",
            F.expr(
                "slice(toks, cast(pos + 1 as int), cast(slen as int))"
            ).alias("ta"),
        )
    )
    a = wrep.select("r", F.col("slen").alias("la"), "ta")
    b = wrep.select(
        (F.col("r") - 1).alias("r"),
        F.col("slen").alias("lb"),
        F.col("ta").alias("tb"),
    )
    # Spark array_position returns 0 (not NULL) when absent — map the
    # prefix case (no mismatch) to min(la, lb) explicitly
    mm = F.array_position(
        F.zip_with(
            F.slice("ta", 1, F.least("la", "lb").cast("int")),
            F.slice("tb", 1, F.least("la", "lb").cast("int")),
            lambda x, y: x == y,
        ),
        F.lit(False),
    )
    adj = a.join(b.hint("merge"), "r").select(
        "r",
        F.when(mm > 0, mm - 1)
        .otherwise(F.least("la", "lb"))
        .cast("bigint")
        .alias("lcp"),
    )
    nbr = (
        adj.select("r", "lcp")
        .unionByName(adj.select((F.col("r") + 1).alias("r"), "lcp"))
        .groupBy("r")
        .agg(F.max("lcp").alias("nl"))
    )
    per = g.join(nbr.hint("merge"), "r", "left").select(
        "doc_id",
        "pos",
        "slen",
        F.when(F.col("gsz") >= 2, F.col("slen"))
        .otherwise(F.coalesce(F.col("nl"), F.lit(0)))
        .cast("bigint")
        .alias("rep_len"),
    )
    return toks, per


@query(
    "text_longest_repeat_per_doc",
    oracle=LONGEST_REPEAT_ORACLE,
    category="llm-dedup",
)
def text_longest_repeat_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest exactly-repeated token span per document (see
    ``longest_repeat_frame`` for semantics and scale design)."""
    return longest_repeat_frame(load_table(spark, sf_dir, "documents"))


def longest_repeat_frame(d: DataFrame) -> DataFrame:
    """Per document: the length and start position of the longest
    token span that also occurs at some other (doc, pos) in the
    corpus (overlapping occurrences count, as in Lee et al. 2022),
    plus an 8-token sample — the per-doc reduction of the ExactSubstr
    witness structure. Tie-break: smallest start position.

    Scale: one suffix-ranking pass (domain-bounded prefix doubling,
    operators/ranks.py), rank-group windows, and a per-doc top-1
    window ending in the unique (doc_id, pos) key. All joins are
    corpus-scaled merge joins; nothing sorts strings globally."""
    toks, per = _repeat_lengths(d)
    wbest = Window.partitionBy("doc_id").orderBy(F.desc("rep_len"), "pos")
    best = (
        per.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(toks.hint("merge"), "doc_id")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            F.col("rep_len"),
            F.col("pos").cast("bigint").alias("rep_pos"),
            F.array_join(
                F.slice(
                    "toks",
                    F.col("pos").cast("int") + F.lit(1),
                    F.least("rep_len", F.lit(_SAMPLE_TOKS)).cast("int"),
                ),
                " ",
            ).alias("sample"),
        )
        .orderBy("doc_id")
    )


# --- cross-doc repeat families ---------------------------------------

# Family gram width. Two documents share an exactly-repeated span of
# >= K tokens IFF they share some K-token contiguous gram (any span of
# length >= K contains a K-gram; a shared K-gram IS a shared K-span),
# so K-gram co-occurrence edges + connected components give EXACTLY
# the "repeat family" partition of the corpus — the cross-doc grouping
# of the ExactSubstr witness structure. K matches contamination's
# 8-gram width; measured sf0.1: 10,533 shared grams, max 4 docs/gram,
# 247 star edges over 5,000 docs — sparse, so the closure oracle stays
# linear.
_FAM_K = 8
_FAM_TOPK = 20

_FAM_GRAMS_DUCK = f"""
toks AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + {_FAM_K - 1}], ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_FAM_K - 1})) AS i
        FROM toks WHERE len(toks) >= {_FAM_K})
),
hubs AS MATERIALIZED (
  SELECT gram, MIN(doc_id) AS hub, COUNT(*) AS n FROM grams GROUP BY gram
),
sedges AS MATERIALIZED (
  SELECT DISTINCT h.hub AS u, g.doc_id AS v
  FROM grams g JOIN hubs h USING (gram)
  WHERE h.n >= 2 AND g.doc_id <> h.hub
)"""

REPEAT_FAMILIES_ORACLE = f"""
WITH RECURSIVE {_FAM_GRAMS_DUCK},
edges AS MATERIALIZED (
  SELECT u, v FROM sedges UNION ALL SELECT v, u FROM sedges
),
nodes AS MATERIALIZED (SELECT DISTINCT doc_id AS node FROM documents),
reach(node, lbl) AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.u AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.v
),
comp AS MATERIALIZED (
  SELECT node, MIN(lbl) AS label FROM reach GROUP BY node
)
SELECT CAST(label AS BIGINT) AS family,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(MIN(node) AS BIGINT) AS min_doc,
  CAST(MAX(node) AS BIGINT) AS max_doc,
  (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comp) AS n_families
FROM comp GROUP BY label
ORDER BY n_docs DESC, family LIMIT {_FAM_TOPK}
"""


def repeat_families_frame(d: DataFrame, k: int = _FAM_K) -> DataFrame:
    """(doc_id, family) — the repeat-family partition of a (doc_id,
    text) corpus: docs in one family iff connected by "shares an
    exactly-repeated span of >= k tokens" (equivalently, shares a
    k-gram — see the _FAM_K note). Every doc appears; docs sharing no
    span are singleton families labeled by their own id.

    Scale shape: grams are built with the contamination window-lead
    form (posexplode + K-1 lead()s, shuffled as xxhash64 keys — never
    ~50-byte strings; the string==hash identity is pinned by every
    parity row against the string-keyed oracle). Per gram group only
    STAR edges to the min doc ship (linear in gram occurrences, never
    the quadratic within-group pair set — same components), and the
    fixpoint iteration is the certified ``cc_labels``. Both the
    per-doc gram frame (read twice: hub agg + edge join) and the edge
    frame (re-read every fixpoint round, persisted by ``cc_labels``
    itself) are corpus-scaled reuse frames — persist(DISK_ONLY) per
    the winnow rule, released once the node-scaled labels are
    materialized (cc_labels checkpoints per round, so the returned
    plan no longer references them)."""
    from pyspark import StorageLevel

    from ..functions.text import tokenize_ws

    toks = d.select("doc_id", tokenize_ws("text").alias("toks"))
    pe = toks.filter(F.size("toks") >= k).select(
        "doc_id", F.posexplode("toks").alias("pos", "t0")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cols = ["t0"] + [f"t{i}" for i in range(1, k)]
    dg = (
        pe.select(
            "doc_id",
            "t0",
            *[F.lead("t0", i).over(w).alias(f"t{i}") for i in range(1, k)],
        )
        .filter(F.col(f"t{k - 1}").isNotNull())
        .select("doc_id", F.xxhash64(*cols).alias("gh"))
        .dropDuplicates(["doc_id", "gh"])
        .persist(StorageLevel.DISK_ONLY)
    )
    hubs = dg.groupBy("gh").agg(
        F.min("doc_id").alias("hub"), F.count("*").alias("n")
    )
    sedges = (
        dg.join(hubs.filter(F.col("n") >= 2), "gh")
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("u"), F.col("doc_id").alias("v"))
        .distinct()
    )
    labels = cc_labels(sedges)
    dg.unpersist()
    return (
        d.select("doc_id")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").cast("bigint").alias("family"),
        )
    )


@query(
    "text_repeat_families",
    oracle=REPEAT_FAMILIES_ORACLE,
    category="llm-dedup",
)
def text_repeat_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeat families: connected components of the
    "documents share an exactly-repeated >= 8-token span" relation
    (the doc-level grouping of the ExactSubstr witness structure —
    the consolidation step a dedup pipeline runs before choosing
    which family member to keep). Top-20 families by size plus the
    total family count; singleton docs count as their own family.

    Oracle: a genuinely different algorithm — string-keyed K-gram
    star edges + a recursive-CTE transitive closure (the CC closure
    discipline), against Spark's hash-keyed grams + certified
    ``cc_labels`` fixpoint (see ``repeat_families_frame`` for the
    scale shape)."""
    fam = repeat_families_frame(load_table(spark, sf_dir, "documents"))
    nfam = fam.agg(
        F.countDistinct("family").cast("bigint").alias("n_families")
    ).localCheckpoint(eager=True)
    return (
        fam.groupBy("family")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .crossJoin(nfam)
        .orderBy(F.desc("n_docs"), "family")
        .limit(_FAM_TOPK)
    )


@query(
    "text_exactsubstr_cut",
    oracle=EXACTSUBSTR_CUT_ORACLE,
    category="llm-dedup",
)
def text_exactsubstr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span-removal transform (see
    ``exactsubstr_cut_frame`` for semantics and scale design)."""
    return exactsubstr_cut_frame(load_table(spark, sf_dir, "documents"))


def exactsubstr_cut_frame(d: DataFrame, k: int = _CUT_K) -> DataFrame:
    """The actual ExactSubstr span-removal transform of Lee et al.
    2022: every token position covered by some repeated span of
    >= _CUT_K tokens (a span [pos, pos+rep_len) with rep_len >= K
    occurs verbatim elsewhere in the corpus) is cut; the kept tokens
    are re-joined as the deduplicated text. Output per doc: token
    count, cut count, and the cleaned text.

    Coverage is an interval-union sweep, not a per-interval explode:
    position p is covered iff the running max of span ends over
    starts <= p exceeds p — one window over the per-suffix frame.
    Scale: suffix ranking dominates; the sweep adds one doc-keyed
    window and the token re-join one merge join."""
    toks, per = _repeat_lengths(d)
    wcov = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flags = (
        per.withColumn(
            "e",
            F.when(
                F.col("rep_len") >= k, F.col("pos") + F.col("rep_len")
            ),
        )
        .withColumn("cm", F.max("e").over(wcov))
        .withColumn(
            "covered",
            F.coalesce(F.col("cm") > F.col("pos"), F.lit(False)),
        )
    )
    tokpos = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    return (
        flags.join(tokpos.hint("merge"), ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.col("covered").cast("int"))
            .cast("bigint")
            .alias("cut_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("covered"),
                                F.struct("pos", "tok"),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("kept_text"),
        )
        .orderBy("doc_id")
    )
