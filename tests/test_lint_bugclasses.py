"""Source-level lints for audited bug classes, so new code can't
silently reintroduce them (VERDICT r6 item 6):

1. Data-scaled int64 products — two BIGINTs that each scale with data
   volume multiplied in int64 (count*sum variance numerators, cnt*cnt,
   cnt*1e6 shares). ANSI Spark errors past 2^63 while DuckDB silently
   widens to int128 and DIVERGES. Rule: promote to DECIMAL(38,0) /
   HUGEINT before the multiply (CLAUDE.md).

2. Pre-normalized cosine — sum((xi/na)*(yi/nb)) is a DIFFERENT IEEE
   tree from dot/(na*nb) (up to ~2e-15 apart, crosses floor/round grid
   cells); any oracled cosine must materialize norms and divide the
   raw dot (CLAUDE.md, cluster_medoids r6 / knn_bruteforce r7).

3. A second money-sum path — a per-row cast to a fixed-scale decimal
   splits on .5e-6 boundaries (Spark rounds the printed digits, DuckDB
   the binary value; tpch_q9). Money sums go through
   ``functions.money.msum`` / ``MSUM_SQL`` only.

4. A fixture table read bare — ``spark.read.parquet(f"{sf_dir}/...")``
   outside ``io.py`` skips ``load_table``: its memoized schema (a bare
   read launches a schema-inference Spark job per call) and the
   events ``ts`` conversion.

5. A soft failure or a session mutation — ``warnings.warn(`` lets a
   non-converged loop hand back a partial answer, and
   ``setCheckpointDir(`` changes the caller's session. Non-convergence
   raises (``operators.components.cc_labels``); operators leave the
   session as they found it.

6. A hand-rolled stream start or shuffle-width pin — ``.trigger(``,
   ``.awaitTermination(`` or ``conf.set("spark.sql.shuffle.partitions"``
   outside ``streaming/ops.py`` and ``session.py``. Drains start
   through ``streaming.ops.run_available_now`` (its ``STATE_PARTITIONS``
   sizes the state stores) and temporary confs go through
   ``session.pinned_confs``, which restores them.

7. A hand-copied pair cosine — ``dot(`` or a norm-product zero guard
   (``na * nb == 0,``) outside ``functions/vectors.py``. Every pair
   cosine goes through ``functions.vectors.cosine`` over norms
   projected once per vector, the oracle's ``_COS`` tree.

The lints run over the query/operator sources as text; known-safe
sites are allowlisted by (path suffix, line-content marker) so a line
move doesn't break the pin but a NEW occurrence fails loudly.
"""

from __future__ import annotations

import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "glue_etl_pyspark_spark"

# The documented greps from CLAUDE.md, as real regexes.
_INT64_PRODUCT = re.compile(
    r"(\* F\.sum\b)|(count\(\*\) \* SUM)|(COUNT\(\*\) \* SUM)|(\bcnt \* cnt\b)"
)
# a match on a line that already promotes to a wide type is the fix, not the bug
_WIDE = re.compile(r"HUGEINT|DECIMAL\(38|decimal\(38", re.IGNORECASE)

# Known-safe multi-line sites: the DECIMAL(38,0)/HUGEINT promotion sits
# on a DIFFERENT line than the multiply, so the same-line _WIDE check
# can't see it. Pin by (path suffix, distinctive line fragment) — a
# line move doesn't break the pin, a NEW occurrence still fails.
# Empty today; the escape hatch the docstring promises.
_INT64_ALLOWLIST: tuple[tuple[str, str], ...] = ()


def _allowlisted(path: str, line: str) -> bool:
    return any(
        path.endswith(suffix) and marker in line
        for suffix, marker in _INT64_ALLOWLIST
    )


def _scan(pattern: re.Pattern, subdirs: tuple[str, ...]) -> list[tuple[str, int, str]]:
    hits = []
    for sub in subdirs:
        for p in sorted((PKG / sub).glob("*.py")):
            for i, line in enumerate(p.read_text().splitlines(), 1):
                if pattern.search(line):
                    hits.append((f"{sub}/{p.name}", i, line.strip()))
    return hits


def test_no_new_unpromoted_int64_data_products():
    hits = [
        h for h in _scan(_INT64_PRODUCT, ("queries", "operators", "functions"))
        if not _WIDE.search(h[2]) and not _allowlisted(h[0], h[2])
    ]
    assert not hits, (
        "data-scaled int64 product without DECIMAL(38,0)/HUGEINT promotion "
        f"(CLAUDE.md rule; ANSI overflow at scale): {hits}"
    )


def test_no_prenormalized_cosine_in_query_modules():
    """l2_normalize in a queries/ module means a query-local cosine is
    being built from unit vectors — the wrong IEEE tree for any
    floor/round-pinned oracle comparison. The legit uses (LSH
    bucketing, rows-only randomized paths) live in operators/
    similarity.py and are individually allowlisted there by the
    bit-exact knn_bruteforce pin in test_llm_ops."""
    hits = _scan(re.compile(r"\bl2_normalize\b"), ("queries",))
    assert not hits, (
        "pre-normalized cosine tree in a query module — use materialized "
        f"norms + dot/(na*nb) (CLAUDE.md rule): {hits}"
    )


def test_operator_prenormalized_dot_sites_are_frozen():
    """In operators/similarity.py, l2_normalize may feed ONLY the LSH
    bucketing paths (randomized, rows-only checked). A new use — e.g.
    reverting knn_bruteforce to the pre-r7 unit-vector dot — fails
    here before it can flake a driver hash."""
    src = (PKG / "operators" / "similarity.py").read_text()
    uses = [
        line.strip()
        for line in src.splitlines()
        if "l2_normalize" in line
        and "import" not in line
        and '"l2_normalize"' not in line
    ]
    assert len(uses) == 3 and all("array_to_vector" in u for u in uses), (
        "l2_normalize outside the three LSH array_to_vector sites in "
        f"similarity.py — oracled cosines must use dot/(na*nb): {uses}"
    )


@pytest.mark.parametrize(
    "bad",
    [
        "F.count(F.lit(1)) * F.sum('x')",  # matches '* F.sum'
        "SELECT COUNT(*) * SUM(v) FROM t",
        "sel = cnt * cnt DIV total",
    ],
)
def test_lint_catches_seeded_regressions(bad):
    assert _INT64_PRODUCT.search(bad) and not _WIDE.search(bad)


# the retired decimal-cast money sum: its helper name and its scale
_SECOND_MONEY_PATH = re.compile(r"\bdsum\(|DECIMAL\(28,6\)|decimal\(28,6\)")


def test_one_money_sum_path():
    hits = [
        (str(p.relative_to(PKG)), i, line.strip())
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _SECOND_MONEY_PATH.search(line)
    ]
    assert not hits, (
        "second money-sum path — use functions.money.msum on Spark and "
        f"MSUM_SQL in SQL, on BOTH engines (CLAUDE.md rule): {hits}"
    )


# a parquet read (or write) whose path is built from the fixture dir
_BARE_FIXTURE_READ = re.compile(
    r"\.parquet\(\s*(f[\"'][^\"']*\{sf_dir\}|os\.path\.join\(\s*sf_dir\b)"
)


def test_fixture_tables_read_through_load_table():
    files = [p for p in sorted(PKG.rglob("*.py")) if p != PKG / "io.py"]
    files += sorted((PKG.parent / "scripts").glob("*.py"))
    hits = [
        (str(p.relative_to(PKG.parent)), i, line.strip())
        for p in files
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _BARE_FIXTURE_READ.search(line)
    ]
    assert not hits, (
        "fixture table read bare — use io.load_table, which memoizes the "
        f"schema and converts events.ts (CLAUDE.md rule): {hits}"
    )


@pytest.mark.parametrize(
    "line, bad",
    [
        ('spark.read.parquet(f"{sf_dir}/orders.parquet")', True),
        ("spark.read.option('mergeSchema', 'true').parquet(f'{sf_dir}/x.parquet')", True),
        ('spark.read.parquet(os.path.join(sf_dir, "events.parquet"))', True),
        ("spark.read.parquet(path)", False),
        ('spark.read.parquet(f"{out_dir}/part")', False),
    ],
)
def test_bare_fixture_read_lint(line, bad):
    assert bool(_BARE_FIXTURE_READ.search(line)) is bad


# a warn-and-continue failure path, or an operator mutating the session
_SOFT_FAIL_OR_SESSION_MUTATION = re.compile(r"\bwarnings\.warn\(|\bsetCheckpointDir\(")


def test_no_soft_failures_or_session_mutation():
    hits = [
        (str(p.relative_to(PKG)), i, line.strip())
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _SOFT_FAIL_OR_SESSION_MUTATION.search(line)
    ]
    assert not hits, (
        "non-convergence must raise, not warn, and operators must not "
        f"mutate the session (CLAUDE.md rule): {hits}"
    )


@pytest.mark.parametrize(
    "line, bad",
    [
        ("warnings.warn(msg, RuntimeWarning, stacklevel=2)", True),
        ("spark.sparkContext.setCheckpointDir(checkpoint_dir)", True),
        ("raise RuntimeError(msg)", False),
        ("df.localCheckpoint(eager=True)", False),
    ],
)
def test_soft_failure_lint(line, bad):
    assert bool(_SOFT_FAIL_OR_SESSION_MUTATION.search(line)) is bad


# a stream start, a stream wait or a shuffle-width pin outside the two
# modules that own them
_HAND_ROLLED_DRAIN = re.compile(
    r"\.trigger\(|\.awaitTermination\(|conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions[\"']"
)
_DRAIN_OWNERS = (PKG / "streaming" / "ops.py", PKG / "session.py")


def test_one_stream_drain_path():
    hits = [
        (str(p.relative_to(PKG)), i, line.strip())
        for p in sorted(PKG.rglob("*.py"))
        if p not in _DRAIN_OWNERS
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _HAND_ROLLED_DRAIN.search(line)
    ]
    assert not hits, (
        "hand-rolled stream start or shuffle-width pin — drain through "
        "streaming.ops.run_available_now and pin confs with "
        f"session.pinned_confs (CLAUDE.md rule): {hits}"
    )


@pytest.mark.parametrize(
    "line, bad",
    [
        (".trigger(availableNow=True)", True),
        ("finished = q.awaitTermination(120)", True),
        ('spark.conf.set("spark.sql.shuffle.partitions", "16")', True),
        ("spark.conf.set('spark.sql.shuffle.partitions', orig)", True),
        ("run_available_now(spark, writer, \"state-inspect drain\")", False),
        ('with pinned_confs(spark, {"spark.sql.shuffle.partitions": "16"}):', False),
        ('spark.conf.get("spark.sql.shuffle.partitions")', False),
    ],
)
def test_hand_rolled_drain_lint(line, bad):
    assert bool(_HAND_ROLLED_DRAIN.search(line)) is bad


# a dot product or a norm-product zero guard: the pieces of a pair cosine
_HAND_COPIED_COSINE = re.compile(
    r"(?<![\w.])dot\(|\*\s*(F\.col\([^()]*\)|\w+)\s*==\s*0\s*,"
)
_COSINE_OWNER = PKG / "functions" / "vectors.py"


def test_one_pair_cosine():
    hits = [
        (str(p.relative_to(PKG)), i, line.strip())
        for p in sorted(PKG.rglob("*.py"))
        if p != _COSINE_OWNER
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _HAND_COPIED_COSINE.search(line)
    ]
    assert not hits, (
        "hand-copied pair cosine — use functions.vectors.cosine over "
        f"l2_norm columns projected below the join (CLAUDE.md rule): {hits}"
    )


@pytest.mark.parametrize(
    "line, bad",
    [
        ('.otherwise(dot("__qv", "__cv") / (F.col("__qn") * F.col("__cn")))', True),
        ('F.col("__qn") * F.col("__cn") == 0,', True),
        ("F.when(na * nb == 0, F.lit(None).cast(\"double\"))", True),
        ('cosine("__qv", "__qn", "__cv", "__cn").alias("__sim")', False),
        ('F.when(F.col("event_id") % 7 == 0, F.lit(1))', False),
        ("cm @ qm_.T  # np.dot(cm, qm_.T)", False),
        ('(F.floor(dot * 1e9) >= 0).cast("bigint")', False),
    ],
)
def test_hand_copied_cosine_lint(line, bad):
    assert bool(_HAND_COPIED_COSINE.search(line)) is bad
