"""Graph analytics over the warehouse: weighted PageRank on the
nation-level trade graph (customer nation → supplier nation, weighted
by line-item count).

The iterative rank loop is the one shape SQL can't express directly —
but with a FIXED iteration count it unrolls into chained CTEs, so the
whole computation (edge build + 5 damped iterations + top-k) is
hash-checked against DuckDB rather than rows-only. Per-iteration
floor-scaling (9 dp) pins the accumulating doubles to identical values
on both engines (the tpch_q9 discipline).

Scale notes: the edge build is the expensive part (fact-table joins —
the orders/customer/supplier sides are SF-scaled so they carry no
broadcast hint; AQE size-converts at bench scale and shuffle-joins at
100 TB, then one shuffle aggregates edge weights);
the iteration then runs on the aggregated graph, which for real
property graphs means shuffles keyed on dst. Each round
localCheckpoints (lineage rule for EVERY iterative loop — iteration N
must not re-execute rounds 1..N-1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.components import cc_labels
from ..registry import query

_DAMP = 0.85
_ITERS = 5
_TOPK = 10
_N_NATIONS = 25  # TPC-H invariant at every SF; asserted in the query
# both engines parse the SAME decimal string for the teleport term, so
# the doubles are bit-identical (decimal-literal parse is exact-nearest
# in Spark and DuckDB alike)
_BASE = (1.0 - _DAMP) / _N_NATIONS
_BASE_STR = repr(_BASE)

_EDGES_SQL = """
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
    CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY c.c_nationkey, s.s_nationkey
"""


def _pagerank_oracle() -> str:
    """Unroll the fixed-iteration PageRank into chained CTEs."""
    n_cte = "SELECT n_nationkey AS nationkey, n_name FROM nation"
    rounds = []
    for k in range(1, _ITERS + 1):
        rounds.append(
            f"""r{k} AS (
  SELECT n.nationkey,
    floor(({_BASE_STR} + {_DAMP} * coalesce(s.acc, 0)) * 1e9) / 1e9
      AS pr
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS nationkey,
      CAST(SUM(CAST(floor(p.pr * e.w / ow.outw * 1e12) AS BIGINT)) AS BIGINT)
        / 1e12 AS acc
    FROM edges e
    JOIN r{k - 1} p ON p.nationkey = e.src
    JOIN outw ow ON ow.src = e.src
    GROUP BY e.dst
  ) s ON s.nationkey = n.nationkey
)"""
        )
    chained = ",\n".join(rounds)
    return f"""
WITH nodes AS ({n_cte}),
edges AS ({_EDGES_SQL}),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges GROUP BY src),
r0 AS (
  SELECT nationkey, floor(1e9 / {_N_NATIONS}.0) / 1e9 AS pr FROM nodes
),
{chained}
SELECT n.n_name, r.nationkey, r.pr
FROM r{_ITERS} r JOIN nodes n ON n.nationkey = r.nationkey
ORDER BY r.pr DESC, r.nationkey
LIMIT {_TOPK}
"""


PAGERANK_ORACLE = _pagerank_oracle()


@query("graph_pagerank_topk", oracle=PAGERANK_ORACLE, category="graph")
def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 5 iterations) over the nation
    trade graph, top-10 by final rank. Fixed iteration count makes the
    loop unrollable into the oracle's chained CTEs — every float is
    floor-pinned at 9 dp per round, so the iterative computation is
    value-checked end to end, not just rows-counted."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )

    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .persist()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # keep w and outw as separate columns so the per-edge contribution
    # below has the SAME expression shape as the oracle (pr * w / outw,
    # division inside the aggregate) — a precomputed w/outw share would
    # round in a different order and can drift an ulp per round
    contrib_base = edges.join(outw, "src").select("src", "dst", "w", "outw").persist()

    n_nodes = nation.count()
    assert n_nodes == _N_NATIONS, f"nation table has {n_nodes} rows, expected 25"
    pr = nation.select(
        "nationkey", (F.floor(F.lit(1e9) / F.lit(float(n_nodes))) / 1e9).alias("pr")
    ).localCheckpoint()

    for _ in range(_ITERS):
        # per-edge contribution floored to an INTEGER grid before the
        # sum: bigint accumulation is exact and order-invariant on both
        # engines (625 terms x <=1e12 stays far under 2^53 for the
        # final exact long->double divide)
        acc = (
            contrib_base.join(pr, pr.nationkey == contrib_base.src)
            .groupBy("dst")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("pr") * F.col("w") / F.col("outw") * F.lit(1e12)
                        )
                    )
                    / F.lit(1e12)
                ).alias("acc")
            )
        )
        pr = (
            nation.select("nationkey")
            .join(acc, nation.nationkey == acc.dst, "left")
            .select(
                "nationkey",
                (
                    F.floor(
                        (
                            F.lit(_BASE)
                            + F.lit(_DAMP) * F.coalesce(F.col("acc"), F.lit(0.0))
                        )
                        * 1e9
                    )
                    / 1e9
                ).alias("pr"),
            )
            .localCheckpoint()
        )

    out = (
        pr.join(F.broadcast(nation), "nationkey")
        .select("n_name", "nationkey", "pr")
        .orderBy(F.desc("pr"), "nationkey")
        .limit(_TOPK)
    )
    return out


# --- triangle counting ---------------------------------------------

_TRI_TOPK = 20

TRIANGLES_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
members AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM members GROUP BY node
ORDER BY n_tri DESC, node
LIMIT 20
"""


@query("graph_triangles_topk", oracle=TRIANGLES_ORACLE, category="graph")
def graph_triangles_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation, top-20 — the clustering
    primitive behind community detection and link-spam scoring, on
    the part co-purchase graph (parts sharing an order). The Spark
    side counts each triangle ONCE by orienting every edge from its
    lower-(degree, key) endpoint to the higher one, then intersecting
    out-adjacency arrays per edge (edge-iterator): triangle a→b,
    a→c, b→c exists iff c ∈ out(a) ∩ out(b). Degree orientation caps
    every out-list at ~√(2m), so the intersection work is the m^1.5
    wedge bound WITHOUT ever materializing or shuffling the wedge
    set — the naive length-2-path join OOM'd a vanilla 1 GiB session
    at sf0.1 on exactly that materialization; this shape streams.
    The oracle orients by key (a<b<c) instead — a different DAG over
    the same undirected graph, hence the identical triangle set —
    because triangle identity is orientation-invariant. The
    adjacency table is edge-mass-sized and joins by src/dst key; at
    100 TB both joins shuffle-co-partition on the vertex key, and a
    residual hub that survives the orientation cap is AQE skew-split
    territory."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return (
        triangle_node_counts(pairs)
        .orderBy(F.desc("n_tri"), "node")
        .limit(_TRI_TOPK)
    )


def triangle_node_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts for an undirected edge set given as
    distinct (u, v) pairs with u < v. Degree-oriented edge-iterator
    (see graph_triangles_topk docstring); property-tested against
    brute-force enumeration on adversarial graphs in
    tests/test_graph_ops.py."""
    deg = (
        pairs.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")))
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
            )
            .otherwise(F.struct(F.col("v").alias("src"), F.col("u").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
    )
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    tri = (
        oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(
            adj.select(F.col("src").alias("a"), F.col("nbrs").alias("na")), "a"
        )
        .join(
            adj.select(F.col("src").alias("b"), F.col("nbrs").alias("nb")), "b"
        )
        .select(
            "a", "b",
            F.explode(F.array_intersect("na", "nb")).alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


_BFS_HOPS = 4
# deterministic sparsifier: the full 25-node trade graph is near-
# complete (every distance would be 1), so keep ~2/7 of the edges by a
# hash-mod rule BOTH engines compute identically in integer math
_BFS_EDGE_KEEP = "(src * 31 + dst) % 7 < 2"


def _bfs_oracle() -> str:
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({_EDGES_SQL})"
        f" WHERE {_BFS_EDGE_KEEP} AND src <> dst)",
        "dist0 AS (SELECT 0 AS nationkey, 0 AS dist)",
    ]
    for k in range(1, _BFS_HOPS + 1):
        ctes.append(
            f"""dist{k} AS (
  SELECT nationkey, MIN(dist) AS dist FROM (
    SELECT nationkey, dist FROM dist{k - 1}
    UNION ALL
    SELECT e.dst AS nationkey, {k} AS dist
    FROM edges e JOIN dist{k - 1} d ON e.src = d.nationkey
  ) GROUP BY nationkey
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT CAST(nationkey AS BIGINT) AS nationkey,
  CAST(dist AS BIGINT) AS dist
FROM dist{_BFS_HOPS}"""
    )


BFS_ORACLE = _bfs_oracle()


@query("graph_bfs_khop", oracle=BFS_ORACLE, category="graph")
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS shortest distance (k-hop reachability, the
    GraphFrames shortestPaths shape) from nation 0 over a
    deterministically sparsified trade graph: per reachable node, the
    minimum hop count within 4 hops. Fixed depth unrolls into chained
    CTEs for the oracle (the PageRank precedent); distances are pure
    integers — no float drift possible.

    Spark side is frontier-style iteration: each round unions the
    current distance set with 1-hop expansions and keeps MIN(dist) per
    node, localCheckpointing per round (the iterative-lineage rule —
    round N must not re-execute rounds 1..N-1). Scale: each round is
    one equi-join keyed on src + one groupBy — the standard
    Pregel-in-SQL step; depth is bounded by the DOMAIN (hop budget),
    never data volume. The distance frame stays node-sized, the join
    is frontier x adjacency."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(
            c["c_nationkey"].alias("src"), s["s_nationkey"].alias("dst")
        )
        .filter(F.expr(_BFS_EDGE_KEEP) & (F.col("src") != F.col("dst")))
        .distinct()
        # the adjacency is re-joined every round: truncate its lineage
        # ONCE so no round re-executes the fact-table edge build (the
        # frame is <= 25x25 rows after distinct — materialization is
        # free, recompute of the lineitem join is not)
        .localCheckpoint(eager=True)
    )
    dist = (
        edges.sparkSession.range(1)
        .select(F.lit(0).alias("nationkey"), F.lit(0).alias("dist"))
    )
    for k in range(1, _BFS_HOPS + 1):
        expanded = (
            edges.join(dist, edges["src"] == dist["nationkey"])
            .select(F.col("dst").alias("nationkey"), F.lit(k).alias("dist"))
        )
        dist = (
            dist.unionByName(expanded)
            .groupBy("nationkey")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        F.col("dist").cast("bigint").alias("dist"),
    )


# --- KNN co-purchase graph: label propagation + link prediction ----

# Cap every node's neighbor list at the top-_KNN_CAP by co-occurrence
# weight: the raw co-purchase graph DENSIFIES with scale (more orders
# -> more distinct pairs per part), so any algorithm over it collapses
# (LPA -> one giant community) or goes quadratic (common-neighbor
# counting fans out as indegree^2). A bounded-degree KNN graph keeps
# density CONSTANT at every SF — the scale-correct input for both ops
# below, and the standard formulation in embedding/community pipelines.
# Weight ties (most co-purchase weights are 1) break by a portable
# integer hash mix, NOT by part id: an id tie-break would funnel every
# node's list toward the smallest ids, giving one part an indegree of
# ~n_nodes and re-creating the quadratic hub this cap exists to kill
# (measured: hash mix -> max indegree 23 / avg 8 at sf0.1). The mix
# folds with % 1000000007 before the Knuth multiply (ANSI overflow
# rule) and ends with v, so the ordering is unique and identical on
# both engines — pure integer math.
_KNN_CAP = 8
_LPA_ROUNDS = 4
_LPA_TOPK = 20
_LP_TOPK = 25

_KNN_MIX = "((e.u * 31 + e.v) % 1000000007) * 2654435761 % 4294967296"

# every CTE here is multi-referenced downstream — MATERIALIZED stops
# DuckDB re-inlining the O(basket^2) pair build per reference (the
# kcore oracle measured 406 s -> seconds at sf0.1 from this alone)
_KNN_BASE_SQL = f"""
op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cpairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
und AS MATERIALIZED (SELECT u, v, w FROM cpairs UNION ALL SELECT v, u, w FROM cpairs),
knn AS MATERIALIZED (
  SELECT u, v, w FROM (
    SELECT e.u, e.v, e.w,
      ROW_NUMBER() OVER (
        PARTITION BY e.u ORDER BY e.w DESC, {_KNN_MIX}, e.v) AS rn
    FROM und e
  ) ranked WHERE rn <= {_KNN_CAP}
)"""


def _copurchase_knn(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(cpairs, knn) for the part co-purchase graph — Spark twin of
    _KNN_BASE_SQL. cpairs: distinct undirected (u < v) part pairs with
    order-count weight; knn: each node's top-_KNN_CAP outgoing edges.
    One orderkey-keyed self-join (pair fan-out bounded by basket
    width), one aggregation, one node-keyed window."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("v"))
    cpairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    und = cpairs.unionAll(
        cpairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    mix = (
        ((F.col("u") * 31 + F.col("v")) % F.lit(1000000007))
        * F.lit(2654435761)
        % F.lit(4294967296)
    )
    wn = Window.partitionBy("u").orderBy(F.desc("w"), mix.asc(), F.col("v"))
    knn = (
        und.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= _KNN_CAP)
        .drop("rn")
    )
    return cpairs, knn


def _lpa_oracle() -> str:
    """Unroll the fixed-round label propagation into chained CTEs
    (the PageRank precedent). Pure integer math — labels are part
    keys, weights are order counts — so the whole iterative
    computation hash-checks with zero float risk."""
    rounds = []
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""r{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
      ROW_NUMBER() OVER (PARTITION BY node ORDER BY wsum DESC, label) AS rn
    FROM (
      SELECT e.u AS node, p.label AS label, CAST(SUM(e.w) AS BIGINT) AS wsum
      FROM sym e JOIN r{k - 1} p ON p.node = e.v
      GROUP BY e.u, p.label
    ) s
  ) t WHERE rn = 1
)"""
        )
    return f"""
WITH {_KNN_BASE_SQL},
sym AS MATERIALIZED (
  SELECT u, v, MAX(w) AS w FROM (
    SELECT u, v, w FROM knn UNION ALL SELECT v, u, w FROM knn
  ) both_dirs GROUP BY u, v
),
r0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
{','.join(rounds)}
SELECT CAST(label AS BIGINT) AS community,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  CAST(MIN(node) AS BIGINT) AS min_node,
  CAST(MAX(node) AS BIGINT) AS max_node
FROM r{_LPA_ROUNDS} GROUP BY label
ORDER BY n_members DESC, community LIMIT {_LPA_TOPK}
"""


LPA_ORACLE = _lpa_oracle()


@query("graph_label_propagation", oracle=LPA_ORACLE, category="graph")
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous majority label propagation
    (4 rounds) over the symmetrized KNN co-purchase graph, top-20
    communities by size. Each round every node adopts the label with
    the highest incident edge-weight sum, ties to the smallest label —
    fully deterministic, so the fixed-round loop unrolls into the
    oracle's chained CTEs and the whole iterative computation is
    hash-checked (pure integers: no float pinning needed, unlike
    PageRank). On the UNCAPPED graph 4 rounds collapse 2000 nodes into
    5 communities at sf0.01 and the collapse worsens with SF (the
    graph densifies); the bounded-degree KNN input keeps community
    structure scale-stable (412 communities at sf0.01).

    Scale: each round is one edge-keyed equi-join + one (node, label)
    aggregation + one node-keyed window — linear in edges, the
    Pregel-in-SQL step. The edge frame is corpus-scaled and reused
    every round, so it persists spillable (thin 3-long rows,
    MEMORY_AND_DISK per the r12 materialization audit); the per-round
    label frame localCheckpoints (the iterative-lineage rule — round N
    must never re-execute rounds 1..N-1)."""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    _, knn = _copurchase_knn(spark, sf_dir)
    # DISK_ONLY, not MEMORY_AND_DISK: the edge frame is corpus-scaled
    # and re-read every round while the per-round window sorts need
    # the heap — memory-backed blocks starve them on small-heap
    # sessions (a vanilla 1g driver OOM'd at 10x; the winnow rule)
    sym = (
        knn.unionAll(
            knn.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
        .persist(StorageLevel.DISK_ONLY)
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    wn = Window.partitionBy("nd").orderBy(F.desc("wsum"), F.col("label"))
    for _ in range(_LPA_ROUNDS):
        cand = (
            sym.join(labels, sym["v"] == labels["node"])
            .select(sym["u"].alias("nd"), "label", "w")
            .groupBy("nd", "label")
            .agg(F.sum("w").cast("bigint").alias("wsum"))
        )
        labels = (
            cand.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select(F.col("nd").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    out = (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(_LPA_TOPK)
    )
    # final labels are checkpointed (materialized), so the edge blocks
    # can be released before the caller collects
    sym.unpersist()
    return out


LINKPRED_ORACLE = f"""
WITH {_KNN_BASE_SQL},
kdeg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM knn GROUP BY u),
common AS (
  SELECT e1.u AS u, e2.u AS v, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM knn e1 JOIN knn e2 ON e1.v = e2.v AND e1.u < e2.u
  GROUP BY e1.u, e2.u
),
cand AS (
  SELECT c.u, c.v, c.n_common FROM common c
  WHERE NOT EXISTS (SELECT 1 FROM cpairs p WHERE p.u = c.u AND p.v = c.v)
)
SELECT c.u AS part_a, c.v AS part_b, c.n_common,
  CAST((c.n_common * 1000000) // (da.deg + db.deg - c.n_common) AS BIGINT)
    AS jaccard_ppm
FROM cand c
JOIN kdeg da ON da.node = c.u
JOIN kdeg db ON db.node = c.v
ORDER BY jaccard_ppm DESC, part_a, part_b LIMIT {_LP_TOPK}
"""


@query("graph_jaccard_linkpred", oracle=LINKPRED_ORACLE, category="graph")
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard over the KNN co-purchase
    graph: for every non-adjacent part pair sharing at least one kept
    neighbor, score = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| as exact integer
    ppm (n_common * 1e6 DIV (da + db - n_common) — positive operands,
    so Spark DIV and DuckDB // agree); top-25 by (score, ids). The
    recommender / knowledge-graph-completion primitive.

    Scale: candidate generation joins the capped edge list with itself
    on the SHARED NEIGHBOR — fan-out per neighbor is indegree^2, which
    the KNN cap's hash tie-break keeps ~_KNN_CAP^2-bounded (an id
    tie-break would hand one hub ~n_nodes indegree and a quadratic
    blowup; see _KNN_CAP comment). 663k candidates at sf0.1, linear
    with corpus. Adjacent pairs drop via left_anti against the
    pre-cap pair set; numerator stays < 2^63 at any SF (n_common <=
    {_KNN_CAP})."""
    from pyspark import StorageLevel

    cpairs, knn_raw = _copurchase_knn(spark, sf_dir)
    # cpairs feeds the knn build AND the anti-join; knn feeds degrees
    # + both sides of the candidate join. DISK_ONLY: corpus-scaled
    # reuse frames must not compete with the candidate join's sorts
    # for heap (the winnow rule; the LPA sibling OOM'd a 1g session)
    cpairs = cpairs.persist(StorageLevel.DISK_ONLY)
    knn = knn_raw.persist(StorageLevel.DISK_ONLY)
    kdeg = knn.groupBy("u").agg(F.count("*").alias("deg"))
    e1 = knn.select(F.col("u").alias("a"), F.col("v").alias("n"))
    e2 = knn.select(F.col("u").alias("b"), F.col("v").alias("n"))
    common = (
        e1.join(e2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    cand = common.join(
        cpairs.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        cand.join(kdeg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a")
        .join(kdeg.select(F.col("u").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_common",
            F.expr("(n_common * 1000000) DIV (da + db - n_common)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )
    out = scored.orderBy(F.desc("jaccard_ppm"), "part_a", "part_b").limit(
        _LP_TOPK
    )
    # release the corpus-scaled edge blocks before handing the result
    # back (the dedup_winnow_pairs idiom): materialize the top-k
    # (constant-size) to its own blocks, then drop the inputs —
    # long-lived sweep sessions otherwise accumulate edge-sized blocks
    # per run
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    knn.unpersist()
    cpairs.unpersist()
    return out


# --- bounded-hop weighted shortest path (Bellman-Ford unrolled) ------

_SSSP_HOPS = 4
# hop cost = the edge's INVERSE SHARE of total kept trade, total_w
# DIV w (strong trade = cheap hop), in exact integers. A fixed-
# numerator form (1e6 DIV w) would be the q11 fixed-constant class:
# w scales with volume, so every cost collapses to 0 around 1000x and
# the whole distance field degenerates; the data-adaptive numerator
# keeps the cost distribution scale-invariant (total_w and w both
# grow linearly). Integer floor division agrees across engines on
# positive operands; path cost <= hops * total_w — BIGINT-safe.


def _sssp_oracle() -> str:
    ctes = [
        f"""kept AS (
  SELECT src, dst, w FROM ({_EDGES_SQL}) e0
  WHERE {_BFS_EDGE_KEEP} AND src <> dst
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM kept),
edges AS (
  SELECT k.src, k.dst, CAST(t.total_w // k.w AS BIGINT) AS cost
  FROM kept k CROSS JOIN tot t
)""",
        "dist0 AS (SELECT 0 AS nationkey, CAST(0 AS BIGINT) AS cost)",
    ]
    for k in range(1, _SSSP_HOPS + 1):
        ctes.append(
            f"""dist{k} AS (
  SELECT nationkey, MIN(cost) AS cost FROM (
    SELECT nationkey, cost FROM dist{k - 1}
    UNION ALL
    SELECT e.dst AS nationkey, d.cost + e.cost AS cost
    FROM edges e JOIN dist{k - 1} d ON e.src = d.nationkey
  ) u GROUP BY nationkey
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT CAST(nationkey AS BIGINT) AS nationkey,
  CAST(cost AS BIGINT) AS cost_invshare
FROM dist{_SSSP_HOPS}"""
    )


SSSP_ORACLE = _sssp_oracle()


@query("graph_sssp_bounded", oracle=SSSP_ORACLE, category="graph")
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop weighted shortest path (Bellman-Ford, 4 relaxation
    rounds) from nation 0 over the sparsified trade graph — the
    weighted completion of graph_bfs_khop: hop cost is the edge's
    inverse share of total kept trade (total_w DIV w, exact integers —
    see the constant comment for why a fixed numerator would collapse
    at ~1000x), so
    the min-cost route can differ from the min-hop route and the whole
    computation stays in exact integers (MIN and + only — the unrolled
    chained-CTE oracle hash-checks every round with zero float risk).

    Scale: the same Pregel-in-SQL step as BFS — each round one
    equi-join keyed on src + one MIN aggregation; rounds bounded by
    the hop budget (domain), never data volume. The edge build's
    fact-table joins dominate and run once; the 25-node distance
    frame makes per-round cost trivial here, but the shape is the one
    a billion-edge property graph needs (frontier x adjacency,
    localCheckpoint per round)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(c["c_nationkey"].alias("src"), s["s_nationkey"].alias("dst"))
        .filter(F.expr(_BFS_EDGE_KEEP) & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        # constant-size after the aggregate (<= 25x25 rows): truncate
        # lineage once so neither the total nor any relaxation round
        # re-runs the fact joins
        .localCheckpoint(eager=True)
    )
    tot = edges.agg(F.sum("w").cast("bigint").alias("total_w"))
    edges = edges.crossJoin(tot).select(
        "src", "dst", F.expr("CAST(total_w DIV w AS BIGINT)").alias("cost")
    )
    dist = edges.sparkSession.range(1).select(
        F.lit(0).alias("nationkey"), F.lit(0).cast("bigint").alias("cost")
    )
    for _ in range(1, _SSSP_HOPS + 1):
        relaxed = (
            edges.join(dist, edges["src"] == dist["nationkey"])
            .select(
                F.col("dst").alias("nationkey"),
                (dist["cost"] + edges["cost"]).alias("cost"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("nationkey")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
    return dist.select(
        F.col("nationkey").cast("bigint").alias("nationkey"),
        F.col("cost").alias("cost_invshare"),
    )


# --- bounded-round k-core peeling ------------------------------------

_KCORE_ROUNDS = 4
_KCORE_TOPK = 20
# Data-adaptive threshold: k = (3 * directed-edge count) DIV (4 * node
# count) = 3/4 of the mean degree. A fixed k is the q11 class (the
# graph densifies with SF: mean degree ~116 at sf0.01, so any constant
# either never peels or instantly empties); mean-scaled k peels
# progressively at every SF (measured survivors 2000->1372 at sf0.01,
# 20000->12886 at sf0.1 over 4 rounds). Pure integer division on BOTH
# engines — DuckDB's bare `/` on integers is FLOAT division and its
# BIGINT cast rounds half-even where Spark truncates (the documented
# cast trap), so the oracle uses `//` and Spark uses DIV.
_KCORE_K_SQL = "(COUNT(*) * 3) // (COUNT(DISTINCT u) * 4)"


def _kcore_oracle() -> str:
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""s{r} AS MATERIALIZED (
  SELECT e.u AS node FROM und e
  JOIN s{r - 1} a ON a.node = e.u
  JOIN s{r - 1} b ON b.node = e.v
  GROUP BY e.u
  HAVING CAST(COUNT(*) AS BIGINT) >= (SELECT k FROM kparam)
)"""
        )
    # EVERY multi-referenced CTE is MATERIALIZED: without it DuckDB
    # re-inlines per reference — und re-runs the O(basket^2) pair
    # build (406 s at sf0.1), and each survivor round s{r} references
    # s{r-1} twice, so recompute DOUBLES per round (2^rounds blowup:
    # the 10x oracle spilled past 37 GB of temp before the fix)
    return f"""
WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cpairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
und AS MATERIALIZED (SELECT u, v FROM cpairs UNION ALL SELECT v, u FROM cpairs),
kparam AS MATERIALIZED (SELECT CAST({_KCORE_K_SQL} AS BIGINT) AS k FROM und),
s0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und),
{','.join(rounds)},
fin AS (
  SELECT e.u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
  FROM und e
  JOIN s{_KCORE_ROUNDS} a ON a.node = e.u
  JOIN s{_KCORE_ROUNDS} b ON b.node = e.v
  GROUP BY e.u
)
SELECT node, core_deg,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM s{_KCORE_ROUNDS}) AS n_core,
  (SELECT k FROM kparam) AS k_threshold
FROM fin ORDER BY core_deg DESC, node LIMIT {_KCORE_TOPK}
"""


KCORE_ORACLE = _kcore_oracle()


@query("graph_kcore_peel", oracle=KCORE_ORACLE, category="graph")
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling over the co-purchase graph (the
    dense-subgraph primitive behind spam rings, community cores, and
    graph sampling): 4 synchronous rounds, each dropping nodes whose
    degree WITHIN the current survivor set falls below the
    data-adaptive threshold k = 3/4 of the initial mean degree (see
    the constant comment — a fixed k never peels or instantly empties
    as the graph densifies with SF). Top-20 survivors by within-core
    degree plus the core size and threshold. Pure integers throughout
    — the fixed-round loop unrolls into the chained-CTE oracle.

    The bounded depth is LOAD-BEARING, not a truncated fixpoint
    (r15 convergence audit, VERDICT r14 item 3): under this adaptive
    k the peel's limit object is DEGENERATE at fixture scale —
    measured rounds-to-fixpoint/core-size are 4/187 at sf0.001 (the
    bounded state IS the fixpoint there, pinned exogenously in
    tests/test_graph_ops.py::test_kcore_smoke_convergence_state) but
    9/EMPTY at sf0.01 and sf0.1 (k sits above this graph's
    sustainable core degree, so full peeling removes everything —
    and an empty oracled result is the vacuous-parity class preflight
    hard-fails). The op is therefore honestly "peel depth 4": a
    4-round graph shaving whose output is a certified superset of the
    (possibly empty) true k-core, the LPA bounded-by-definition
    shape — not an under-converged CC.

    Scale: each round is two semi-join-shaped equi-joins (edge list
    vs survivor set, both endpoint keys) + one map-side-combined
    degree count — linear in surviving edges, the Pregel peel step.
    The edge frame is corpus-scaled and reused every round
    (MEMORY_AND_DISK, thin rows); survivor frames localCheckpoint per
    round (the iterative-lineage rule)."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("v"))
    cpairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .select("u", "v")
    )
    # DISK_ONLY, not MEMORY_AND_DISK: the edge list is corpus-scaled
    # and re-read by two joins per peel round — memory-backed blocks
    # fill the unified region and starve the per-round broadcast
    # builds of the (node-scaled) survivor sets on small-heap drivers
    # (a vanilla 1g session OOM'd at 10x exactly there); serialized
    # disk blocks cost one linear write and never compete for heap
    # (the winnow-pairs rule)
    und = (
        cpairs.unionAll(cpairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .persist(StorageLevel.DISK_ONLY)
    )
    # constant-size (1 row) but crossJoined into every round — without
    # materialization each reference re-aggregates the full edge list
    # (the sketch_hll_overlap regs lesson)
    kparam = und.agg(
        F.expr("CAST((COUNT(*) * 3) DIV (COUNT(DISTINCT u) * 4) AS BIGINT)").alias(
            "k"
        )
    ).localCheckpoint(eager=True)
    s = und.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=True)
    for _ in range(_KCORE_ROUNDS):
        sa = s.select(F.col("node").alias("u"))
        sb = s.select(F.col("node").alias("v"))
        deg = (
            und.join(sa, "u")
            .join(sb, "v")
            .groupBy("u")
            .agg(F.count("*").cast("bigint").alias("deg"))
        )
        s = (
            deg.crossJoin(kparam)
            .filter(F.col("deg") >= F.col("k"))
            .select(F.col("u").alias("node"))
            .localCheckpoint(eager=True)
        )
    sa = s.select(F.col("node").alias("u"))
    sb = s.select(F.col("node").alias("v"))
    fin = (
        und.join(sa, "u")
        .join(sb, "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.count("*").cast("bigint").alias("core_deg"))
    )
    n_core = s.agg(F.count("*").cast("bigint").alias("n_core"))
    out = (
        fin.crossJoin(n_core)
        .crossJoin(kparam.select(F.col("k").alias("k_threshold")))
        .select("node", "core_deg", "n_core", "k_threshold")
        .orderBy(F.desc("core_deg"), "node")
        .limit(_KCORE_TOPK)
    )
    # release the corpus-scaled edge blocks (winnow idiom): the top-k
    # is constant-size; materialize it, then drop the edges
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    und.unpersist()
    return out


# --- connected components (certified-fixpoint min-label) -------------

# The loop is operators.components.cc_labels, run to its certified
# fixpoint (its module docstring records why a bounded round count is
# not enough).
_CC_TOPK = 20
# Sparsifier target: mean kept degree ~0.8 — SUBCRITICAL (below the
# percolation threshold 1.0), so component sizes stay O(log n) and
# sum(|C|^2) stays linear in nodes (measured: sf0.01 → 301 comps,
# largest 27, sum_sz2 4.7k; sf0.1 → 3057 comps, largest 39, sum_sz2
# 59k). That keeps the oracle's transitive-closure recursive CTE
# linear (the near-dup clustering small-clique lesson) AND makes the
# oracle a genuinely different algorithm from the Spark iteration —
# pure value equality, not an unrolled twin (the r14 oracle unrolled
# the identical under-converged iteration, so its hash-MATCH was
# vacuous). The Spark fixpoint itself is regime-independent; the
# SUPERCRITICAL regime (mean degree 1.5, giant component) is pinned
# by the union-find gate test_cc_supercritical_fixpoint.
# The keep-threshold is DATA-ADAPTIVE — t = 400 * n_nodes / n_edges,
# so the kept-edge fraction falls as the co-purchase graph densifies
# with SF and the component structure stays scale-stable (a fixed
# keep-% is the q11 fixed-constant class). Pure integer math on both
# engines; u*31+v stays far below 2^63 even on shifted 100x-clone
# keys. (COUNT(DISTINCT u) over the u<v pair set is a lower-endpoint
# node proxy — identical on both engines, and a constant-factor proxy
# is all a target-degree heuristic needs.) DuckDB spelling uses //,
# Spark uses DIV — floor vs truncation agree on positive operands.
_CC_KEEP_T_SQL = "(400 * COUNT(DISTINCT u)) // COUNT(*)"
_CC_KEEP_T_SPARK = "CAST((400 * COUNT(DISTINCT u)) DIV COUNT(*) AS BIGINT)"


CC_ORACLE = f"""
WITH RECURSIVE op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cpairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
keep AS MATERIALIZED (SELECT CAST({_CC_KEEP_T_SQL} AS BIGINT) AS t FROM cpairs),
sparse AS MATERIALIZED (
  SELECT u, v FROM cpairs WHERE (u * 31 + v) % 1000 < (SELECT t FROM keep)
),
edges AS MATERIALIZED (SELECT u, v FROM sparse UNION ALL SELECT v, u FROM sparse),
nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges),
reach(node, lbl) AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.u AS node, r.lbl FROM edges e JOIN reach r ON r.node = e.v
),
comp AS MATERIALIZED (
  SELECT node, MIN(lbl) AS label FROM reach GROUP BY node
)
SELECT CAST(label AS BIGINT) AS component,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  CAST(MIN(node) AS BIGINT) AS min_node,
  CAST(MAX(node) AS BIGINT) AS max_node,
  (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comp)
    AS n_components
FROM comp GROUP BY label
ORDER BY n_members DESC, component LIMIT {_CC_TOPK}
"""


@query("graph_connected_components", oracle=CC_ORACLE, category="graph")
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected components over the sparsified part
    co-purchase graph (the partitioning primitive behind dedup-cluster
    consolidation and entity resolution): min-label propagation
    (hash-to-min + pointer-jump accelerator) iterated to a CERTIFIED
    fixpoint (cc_labels), top-20 components by size plus the total
    component count. The oracle is a genuinely DIFFERENT algorithm —
    a recursive-CTE transitive closure + MIN per node — so the hash
    match is pure value equality, not an unrolled twin of the same
    iteration (the r14 vacuous-oracle lesson). Pure integers
    end-to-end.

    Scale: the min-propagate round is one edge-keyed equi-join + a
    map-side-combinable MIN; the jump is a NODE-scaled self-join that
    usually multiplies the propagation radius (but see cc_labels —
    only the certificate, not the jump, guarantees the answer). The
    sparsifier threshold is data-adaptive (mean kept degree ~0.8,
    subcritical — see the _CC_KEEP_T comment for why that regime is
    what makes a closure oracle feasible) so component structure
    survives SF-driven densification; the edge frame is corpus-scaled
    and re-read every round (DISK_ONLY, the winnow rule); label frames
    localCheckpoint per round (the iterative-lineage rule)."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("v"))
    cpairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .select("u", "v")
    )
    cpairs = cpairs.persist(StorageLevel.DISK_ONLY)
    # constant-size (1 row) threshold frame, crossJoined into the
    # sparsifying filter — materialize or the reference re-aggregates
    # the full pair set (the kcore kparam lesson)
    keep = cpairs.agg(
        F.expr(_CC_KEEP_T_SPARK).alias("t")
    ).localCheckpoint(eager=True)
    sparse = (
        cpairs.crossJoin(keep)
        .filter((F.col("u") * 31 + F.col("v")) % 1000 < F.col("t"))
        .select("u", "v")
    )
    labels = cc_labels(sparse)
    ncomp = labels.agg(
        F.countDistinct("label").cast("bigint").alias("n_components")
    ).localCheckpoint(eager=True)
    out = (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .crossJoin(ncomp)
        .orderBy(F.desc("n_members"), "component")
        .limit(_CC_TOPK)
    )
    # release the corpus-scaled edge blocks once the constant-size
    # top-k is materialized (winnow idiom)
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    cpairs.unpersist()
    return out


# --- Borůvka minimum spanning forest ---------------------------------

# 2 synchronous Borůvka rounds over the sparsified weighted
# co-purchase graph: every component selects its minimum-weight
# outgoing edge under a GLOBALLY CONSISTENT total order on undirected
# edges — (w, least(u,v), greatest(u,v)) — which is the classical
# condition making the selected set cycle-free (the heaviest edge of
# any would-be cycle cannot be either endpoint component's minimum);
# mutual selections collapse in the normalized-DISTINCT forest.
# Components then contract via cc_labels — run to its CERTIFIED
# fixpoint, which is what the classical cycle-freedom argument
# REQUIRES: the r14 bounded-jump contraction could leave two
# supernodes of one selection tree distinctly labeled, letting the
# next round select an intra-tree edge (a cycle). The round repeats,
# at least halving the component count (Borůvka 1926; the
# MapReduce-MST shape of Karloff-Suri-Vassilvitskii 2010). The scale
# lesson vs the rest of the graph family: per-component edge
# selection is ONE map-side-combinable min per component key (a
# row_number over candidate edges partitioned by component), never a
# global edge sort — the 100 TB MSF bottleneck is the candidate join,
# which stays linear in edges per round while rounds go O(log n).
# Oracle contraction: per-round recursive-CTE closure over the
# selected-edge supernode graph (each component contributes ≤1
# selected edge, so closure size is bounded by selection-tree sizes —
# small by the Borůvka halving argument).
_MSF_ROUNDS = 2
_MSF_TOPK = 20


def _msf_oracle() -> str:
    ctes = [
        "L0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM und)"
    ]
    for b in range(1, _MSF_ROUNDS + 1):
        ctes.append(
            f"""cand{b} AS MATERIALIZED (
  SELECT la.label AS cu, lb.label AS cv, e.w, e.u, e.v
  FROM und e
  JOIN L{b - 1} la ON la.node = e.u
  JOIN L{b - 1} lb ON lb.node = e.v
  WHERE la.label <> lb.label
),
sel{b} AS MATERIALIZED (
  SELECT cu, cv, w, u, v FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cu ORDER BY w, LEAST(u, v), GREATEST(u, v)) AS rn
    FROM cand{b}
  ) t WHERE rn = 1
),
se{b} AS MATERIALIZED (
  SELECT cu AS u, cv AS v FROM sel{b} UNION SELECT cv, cu FROM sel{b}
),
s{b}n AS MATERIALIZED (SELECT DISTINCT u AS node FROM se{b}),
s{b}reach(node, lbl) AS (
  SELECT node, node AS lbl FROM s{b}n
  UNION
  SELECT e.u AS node, r.lbl FROM se{b} e JOIN s{b}reach r ON r.node = e.v
),
s{b}lab AS MATERIALIZED (
  SELECT node, MIN(lbl) AS label FROM s{b}reach GROUP BY node
),
L{b} AS MATERIALIZED (
  SELECT p.node, COALESCE(c.label, p.label) AS label
  FROM L{b - 1} p LEFT JOIN s{b}lab c ON c.node = p.label
)"""
        )
    sel_union = " UNION ALL ".join(
        f"SELECT u, v, w FROM sel{b}" for b in range(1, _MSF_ROUNDS + 1)
    )
    return f"""
WITH RECURSIVE op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
cpairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
keep AS MATERIALIZED (SELECT CAST({_CC_KEEP_T_SQL} AS BIGINT) AS t FROM cpairs),
sparse AS MATERIALIZED (
  SELECT u, v, w FROM cpairs WHERE (u * 31 + v) % 1000 < (SELECT t FROM keep)
),
und AS MATERIALIZED (
  SELECT u, v, w FROM sparse UNION ALL SELECT v, u, w FROM sparse
),
{','.join(ctes)},
forest AS MATERIALIZED (
  SELECT DISTINCT LEAST(u, v) AS part_a, GREATEST(u, v) AS part_b, w
  FROM ({sel_union}) s
)
SELECT CAST(part_a AS BIGINT) AS part_a, CAST(part_b AS BIGINT) AS part_b,
  CAST(w AS BIGINT) AS w,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM forest) AS n_forest_edges,
  (SELECT CAST(SUM(w) AS BIGINT) FROM forest) AS total_forest_w,
  (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM L{_MSF_ROUNDS})
    AS n_components_after
FROM forest ORDER BY w DESC, part_a, part_b LIMIT {_MSF_TOPK}
"""


MSF_ORACLE = _msf_oracle()


def boruvka_forest(
    und: DataFrame, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """(labels, forest) after ``rounds`` bounded Borůvka rounds over a
    symmetric weighted edge frame (u, v, w). forest rows are
    normalized undirected edges (part_a < part_b, w); labels map every
    node to its component after the final contraction. Contraction is
    cc_labels run to its CERTIFIED fixpoint — complete contraction is
    the precondition of the classical cycle-freedom argument, so the
    selected set is genuinely a forest and (on distinct-weight
    graphs) a subset of the unique MST. ``rounds`` itself is bounded
    BY DESIGN (the op is "the first k Borůvka phases", well-defined
    for any k) — unlike the r14 contraction bound, which silently
    broke the invariant. Property-tested against a driver-side
    simulation of the identical algorithm AND the subset-of-Kruskal
    invariant on distinct-weight graphs (explicit anti-ordered-chain
    @examples) in tests/test_graph_ops.py."""
    from functools import reduce

    from pyspark.sql.window import Window

    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    sels = []
    wn = Window.partitionBy("cu").orderBy(
        "w", F.least("u", "v"), F.greatest("u", "v")
    )
    for _ in range(rounds):
        la = labels.select(F.col("node").alias("u"), F.col("label").alias("cu"))
        lb = labels.select(F.col("node").alias("v"), F.col("label").alias("cv"))
        cand = (
            und.join(la, "u")
            .join(lb, "v")
            .filter(F.col("cu") != F.col("cv"))
            .select("cu", "cv", "w", "u", "v")
        )
        sel = (
            cand.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .localCheckpoint(eager=True)
        )
        sels.append(sel)
        sedges = sel.select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        supl = cc_labels(sedges).select(
            F.col("node").alias("l"), F.col("label").alias("nl")
        )
        labels = (
            labels.join(supl, labels["label"] == supl["l"], "left")
            .select("node", F.coalesce("nl", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    forest = reduce(lambda a, b: a.unionAll(b), sels).select(
        F.least("u", "v").alias("part_a"),
        F.greatest("u", "v").alias("part_b"),
        "w",
    ).distinct()
    return labels, forest


@query("graph_boruvka_msf", oracle=MSF_ORACLE, category="graph")
def graph_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round Borůvka minimum spanning forest over the
    sparsified weighted co-purchase graph (the backbone/clustering
    primitive behind single-linkage clustering and network design):
    2 rounds of per-component min-edge selection under the consistent
    (w, least, greatest) total order, each followed by COMPLETE
    contraction (cc_labels at its certified fixpoint — the
    precondition of the classical cycle-freedom argument). Output:
    top-20 heaviest forest edges plus the forest size, total weight,
    and component count after the bounded rounds — all pure integers.
    The oracle mirrors the selection rounds but contracts via
    per-round recursive-CTE closures (a different algorithm than the
    Spark fixpoint iteration), so the hash match carries real
    information about the contraction.

    Scale: the candidate join is edge-linear per round (two label
    equi-joins — the Pregel step); selection is one row_number per
    component key, map-side-combinable, never a global edge sort;
    contraction is node-scaled and certified (cc_labels). Edge frame
    DISK_ONLY (corpus-scaled, re-read per round); per-round frames
    localCheckpoint (iterative-lineage rule)."""
    from pyspark import StorageLevel

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("v"))
    cpairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    cpairs = cpairs.persist(StorageLevel.DISK_ONLY)
    keep = cpairs.agg(
        F.expr(_CC_KEEP_T_SPARK).alias("t")
    ).localCheckpoint(eager=True)
    sparse = (
        cpairs.crossJoin(keep)
        .filter((F.col("u") * 31 + F.col("v")) % 1000 < F.col("t"))
        .select("u", "v", "w")
    )
    und = (
        sparse.unionAll(
            sparse.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
        .persist(StorageLevel.DISK_ONLY)
    )
    labels, forest = boruvka_forest(und, _MSF_ROUNDS)
    forest = forest.persist(StorageLevel.MEMORY_AND_DISK)
    stats = forest.agg(
        F.count("*").cast("bigint").alias("n_forest_edges"),
        F.sum("w").cast("bigint").alias("total_forest_w"),
    ).localCheckpoint(eager=True)
    ncomp = labels.agg(
        F.countDistinct("label").cast("bigint").alias("n_components_after")
    ).localCheckpoint(eager=True)
    out = (
        forest.crossJoin(stats)
        .crossJoin(ncomp)
        .orderBy(F.desc("w"), "part_a", "part_b")
        .limit(_MSF_TOPK)
    )
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    und.unpersist()
    cpairs.unpersist()
    forest.unpersist()
    return out
