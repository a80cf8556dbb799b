"""Sequence packing for LLM pretraining pipelines (SURVEY.md §2.12
extension): assign variable-length documents to fixed-size context
windows.

Two packers, one per real-world packing discipline:

- ``pack_concat_chunk`` — the GPT-style "concatenate the token stream,
  split every ctx_len tokens" discipline. Every document's bin is a
  pure function of its start offset in the global stream, so the whole
  packer is running-sum arithmetic: deterministic, exactly
  SQL-expressible (DuckDB-oracled), and the bin boundaries may split a
  document across two bins (exactly like the real pipeline, which
  splits at the token level).
- ``pack_greedy_shard`` — first-fit sequential packing (no document
  splits): walk documents in id order, append to the current bin while
  it fits, else open a new bin. Sequential state makes it
  non-SQL-expressible, so it runs per shard via ``applyInPandas`` and
  is property-gated in tests (every doc assigned exactly once, no bin
  over capacity unless a single document alone exceeds it, bins are
  contiguous id runs within a shard).

Scale design: a naive global running sum is a single-partition window
(one task owns the whole corpus — the classic scale killer). Both
packers shard by id range (``shard = id div shard_span``) and use the
two-phase prefix-sum shape: per-shard local scan in parallel, then a
prefix sum over the (tiny, one-row-per-shard) totals frame, broadcast
back as each shard's base offset. Wall-clock is O(n/shards) + O(shards)
instead of O(n) on one task; results are identical to the global scan
because token counts are integers (exact arithmetic, no reorder drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# greedy bins are numbered shard * _BIN_STRIDE + seq; a shard would
# need >1e9 bins to collide, i.e. shard_span * ctx_len > 1e9 tokens
_BIN_STRIDE = 1_000_000_000


def sharded_prefix_sum(
    df: DataFrame,
    id_col: str,
    len_col: str,
    shard_span: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distributed running sum of ``len_col`` in ``id_col`` order
    (optionally per ``group_cols`` group): adds ``__shard`` (id-range
    shard), ``__local_start`` (running sum within the (group, shard),
    exclusive of the current row) and ``__base`` (the (group, shard)'s
    base offset). ``__base + __local_start`` is exactly the global
    per-group running sum — integer arithmetic, no reorder drift.

    Phase 2 runs ON THE DRIVER: collect one row per (group, shard)
    (n/shard_span rows — the same bounded collect RDD.zipWithIndex
    does for its partition-count pass), prefix-sum in exact Python
    ints, and re-ship the bases as LITERAL data. The base offsets are
    therefore values, not a recomputable plan — AQE/retry can never
    re-derive them differently from the window+join shape this
    replaces (r4 driver hash flake on doc_pack_sequences). Rows with a
    NULL group key or id drop out (inner join), matching SQL window
    PARTITION BY semantics closely enough for the non-null corpora
    this engine feeds."""
    from pyspark.sql.types import LongType, StructField, StructType

    gs = list(group_cols)
    sharded = df.withColumn("__shard", F.expr(f"{id_col} div {shard_span}"))
    w_local = (
        Window.partitionBy(*gs, "__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sharded.withColumn(
        "__local_start", F.sum(len_col).over(w_local) - F.col(len_col)
    )
    totals = sorted(
        sharded.groupBy(*gs, "__shard").agg(F.sum(len_col).alias("__t")).collect(),
        key=lambda r: tuple(
            (r[c] is None, r[c]) for c in (*gs, "__shard")
        ),
    )
    rows, running = [], {}
    for r in totals:
        if r["__shard"] is None or any(r[g] is None for g in gs):
            continue
        key = tuple(r[g] for g in gs)
        base = running.get(key, 0)
        rows.append((*key, int(r["__shard"]), base))
        running[key] = base + int(r["__t"] or 0)
    schema = StructType(
        [sharded.schema[g] for g in gs]
        + [StructField("__shard", LongType()), StructField("__base", LongType())]
    )
    bases = df.sparkSession.createDataFrame(rows, schema=schema)
    return local.join(broadcast(bases), [*gs, "__shard"])


def pack_concat_chunk(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tokens",
    ctx_len: int = 256,
    shard_span: int = 100_000,
) -> DataFrame:
    """Concat-then-chunk packing: emits (id, len, bin_id, bin_offset)
    where ``bin_id = global_start div ctx_len`` and ``bin_offset`` is
    the document's first-token position inside its bin. A document
    whose span crosses a bin boundary continues into the next bin
    (token-level split, as in real packed pretraining)."""
    out = sharded_prefix_sum(df, id_col, len_col, shard_span).withColumn(
        "__start", F.col("__base") + F.col("__local_start")
    )
    return out.select(
        F.col(id_col),
        F.col(len_col).cast("bigint").alias("n_tokens"),
        F.expr(f"__start div {ctx_len}").alias("bin_id"),
        (F.col("__start") % ctx_len).alias("bin_offset"),
    )


def pack_greedy_shard(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tokens",
    ctx_len: int = 256,
    shard_span: int = 100_000,
) -> DataFrame:
    """First-fit sequential packing per id-range shard: emits
    (id, len, bin_id, bin_fill) with no document split across bins.
    Bin ids are ``shard * 1e9 + seq`` (globally unique, ordered). A
    document longer than ctx_len gets a bin of its own (oversized —
    flagged by bin_fill > ctx_len, callers decide to truncate/drop).
    Shard-local greedy is the honest distributed semantics: bins never
    span shards, matching how a 1000-executor packer really behaves.
    """
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        shard = int(pdf["__shard"].iloc[0])
        seq, fill = 0, 0
        bins, fills = [], []
        for n in pdf["__len"]:
            n = int(n)
            if fill > 0 and fill + n > ctx_len:
                seq += 1
                fill = 0
            fill += n
            bins.append(shard * _BIN_STRIDE + seq)
            fills.append(fill)
        pdf["bin_id"] = bins
        pdf["bin_fill"] = fills
        return pdf[["__id", "__len", "bin_id", "bin_fill"]]

    prepped = df.select(
        F.col(id_col).alias("__id"),
        F.col(len_col).cast("bigint").alias("__len"),
        F.expr(f"{id_col} div {shard_span}").alias("__shard"),
    )
    return (
        prepped.groupBy("__shard")
        .applyInPandas(
            pack, schema="__id bigint, __len bigint, bin_id bigint, bin_fill bigint"
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__len").alias("n_tokens"),
            "bin_id",
            "bin_fill",
        )
    )


__all__ = ["pack_concat_chunk", "pack_greedy_shard", "sharded_prefix_sum"]
