"""Local mirror of the driver's t2 correctness check (SURVEY.md §5.3).

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count + order-insensitive
values. Lets parity failures be debugged locally before driver runs.

Float policy: round to 6 dp before comparison (SURVEY.md §5.3 —
absorbs float32-accumulation differences like the array-cosine case).
Timestamps are compared as naive datetimes (both engines are NTZ here).
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass

from pyspark.sql import SparkSession

from .io import TABLE_NAMES

FLOAT_DP = 6


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, FLOAT_DP)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(row):
    # None sorts first; everything else by (type-name, repr) to avoid
    # cross-type comparison errors.
    return tuple((v is not None, type(v).__name__, repr(v)) for v in row)


# Spark type name -> driver pandas kind ('i' int / 'f' float); the
# driver hashes toPandas()/df() output, where int64 "0" and float64
# "0.0" hash DIFFERENTLY even though fetchall()-level values compare
# equal (python int == float). DuckDB HUGEINT (any SUM/'//' chain over
# BIGINT) and DECIMAL land as float64 there, so an integer-valued
# oracle column must be CAST to BIGINT. This gate caught the r4
# doc_pack_sequences / llm_training_manifest driver hash FAILs that
# three fresh-process fetchall()-based reproductions could not.
_SPARK_NUM_KIND = {
    "byte": "i", "short": "i", "integer": "i", "long": "i",
    "float": "f", "double": "f",
}


def _duck_num_kind(duck_type: str) -> str | None:
    t = duck_type.upper()
    if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
        return "f"  # pandas renders these float64
    if t.endswith("INT"):
        return "i"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "f"
    return None


def _numeric_kind_mismatches(sdf, con, oracle_sql: str) -> list[str]:
    """Columns whose int/float kind differs between the Spark schema
    and the DuckDB result schema — i.e. columns the driver's pandas
    canonicalizer will hash differently despite equal values.
    DESCRIBE only binds the query; the oracle is not executed twice."""
    skind = {
        f.name: _SPARK_NUM_KIND.get(f.dataType.typeName())
        for f in sdf.schema.fields
    }
    out = []
    for row in con.execute(f"DESCRIBE {oracle_sql}").fetchall():
        cname, ctype = row[0], row[1]
        sk, ok = skind.get(cname), _duck_num_kind(ctype)
        if sk and ok and sk != ok:
            out.append(f"{cname}: spark {sk} vs oracle {ctype}")
    return out


def _normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return out


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""

    def __bool__(self) -> bool:
        return self.ok


def duckdb_connect(sf_dir: str):
    """A DuckDB connection with the driver's table views pre-registered.

    Handles both layouts: the testdata's single-file ``{t}.parquet``
    and Spark's directory-style ``{t}.parquet/part-*.parquet`` (probe
    clones written by Spark) — read_parquet can't open a directory
    path directly, so directories get a glob."""
    import os

    import duckdb

    con = duckdb.connect()
    # bounded, absolute temp: the default is cwd-relative ".tmp" with a
    # near-disk-sized cap — one runaway spill (e.g. an oracle missing a
    # MATERIALIZED hint at a probe scale) fills the disk and fails
    # UNRELATED concurrent work with "No space left on device"
    con.execute("SET temp_directory='/tmp/spark_graft_duckdb_tmp'")
    con.execute("SET max_temp_directory_size='40GB'")
    for t in TABLE_NAMES:
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )
    return con


def check_query(
    spark: SparkSession, sf_dir: str, name: str, con=None
) -> ParityResult:
    """Run one registered query against its oracle; compare."""
    from .registry import load_all

    spec = load_all()[name]
    sdf = spec.fn(spark, sf_dir)

    if spec.oracle is not None:
        # The driver's canonicalizer pandas-sorts every column; list/dict
        # cells raise "unhashable type" there (round-1 ERRs on
        # agg_collect_set/func_map_ops). Fail locally the way the driver
        # would: oracled queries must project atomic columns only.
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            return ParityResult(
                name, False, -1, -1,
                "oracled query has non-atomic output columns "
                f"{complex_cols} — serialize (array_join/to_json) at the "
                "query boundary; the driver canonicalizer crashes on these",
            )

    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)

    if spec.oracle is None:
        # mirror the driver's rows>0 smoke — an empty result from a
        # rows-only query is a regression, not a pass
        return ParityResult(
            name, len(srows) > 0, len(srows), -1,
            "rows-only (no oracle)" if srows else "rows-only query returned 0 rows",
        )

    own_con = con is None
    if own_con:
        con = duckdb_connect(sf_dir)
    try:
        dtype_bad = _numeric_kind_mismatches(sdf, con, spec.oracle)
        res = con.execute(spec.oracle)
        ocols = [d[0] for d in res.description]
        orows = [tuple(r) for r in res.fetchall()]
    finally:
        if own_con:
            con.close()

    if dtype_bad:
        return ParityResult(
            name, False, len(srows), -1,
            "driver-dtype mismatch (int vs float at the pandas "
            f"canonicalizer): {dtype_bad} — DuckDB SUM/''//'' over BIGINT "
            "is HUGEINT and lands as float64 in the driver's hash even "
            "though fetchall() compares equal; CAST the oracle column "
            "(or align the Spark type)",
        )

    if sorted(scols) != sorted(ocols):
        return ParityResult(
            name, False, len(srows), len(orows),
            f"column mismatch: spark={sorted(scols)} oracle={sorted(ocols)}",
        )
    if len(srows) != len(orows):
        return ParityResult(
            name, False, len(srows), len(orows),
            f"row count mismatch: {len(srows)} vs {len(orows)}",
        )
    if not srows:
        # VERDICT r9: an empty-vs-empty hash match proves nothing — the
        # broken manifest window passed vacuously this way. Every oracled
        # query must exercise real rows at sf0.01.
        return ParityResult(
            name, False, 0, 0,
            "vacuous: query and oracle both returned 0 rows — an "
            "empty-vs-empty match verifies nothing; fix the query's "
            "predicate/window to hit fixture data",
        )
    sn = _normalize(srows, scols)
    on = _normalize(orows, ocols)
    if sn != on:
        diffs = [
            f"  row {i}: spark={a} oracle={b}"
            for i, (a, b) in enumerate(zip(sn, on))
            if a != b
        ][:5]
        return ParityResult(
            name, False, len(srows), len(orows),
            "value mismatch (first 5 normalized diffs):\n" + "\n".join(diffs),
        )
    return ParityResult(name, True, len(srows), len(orows))
