"""Structured Streaming plumbing (SURVEY.md §2.10).

The events parquet is replayed as a micro-batch file stream. Spark's
file stream source requires a *directory*, and the driver's table
layout is one flat dir with all ten tables — so we stage a per-table
symlink directory under /tmp (read-only view of the source file, no
data copied).

Batch-equivalence discipline: every windowed streaming query here has
an oracled batch twin registered next to it (tumbling ≡ date_trunc,
sliding ≡ offset-explode, session ≡ gaps-and-islands), so the
streaming semantics stay hash-checked even though streaming output
itself is rows-only.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..io import parquet_schema
from ..session import ensure_session_configs, pinned_confs

_MEM_COUNTER = itertools.count()


# State-store count of every drain. A stateful query takes its store
# count from spark.sql.shuffle.partitions at its FIRST micro-batch and
# the checkpoint keeps it, so it is sized to the state volume (these
# bounded replays hold at most tens of thousands of state rows, where
# per-store open/commit overhead per batch dominates), not to the batch
# shuffle width. sf0.1 tumbling drain, min wall: 1.033 s at 8 stores,
# 0.837 s at 4, 0.874 s at 2 (r16; re-measured fresh-process r17). Those
# walls were taken with the FileContext checkpoint manager, before
# _DRAIN_CONFS pinned the FileSystem one. A vanilla 200-partition
# session makes tiny drains ~4x slower.
STATE_PARTITIONS = 4
# A drain not done within this budget is stopped and raises: its sink
# would hold a partial answer.
AWAIT_SECONDS = 120
# Confs pinned for the whole life of every drain.
#
# The checkpoint file manager: Spark's default (FileContext-based) has
# Hadoop's local FS set each offset, commit, source-log and state-store
# file's permissions and resolve symlinks, and without the native
# libhadoop each of those forks a chmod/readlink shell command — ~100
# helper processes and ~0.3 core-s of their CPU per sf0.1 tumbling
# drain. The FileSystem-based manager writes a temp file with
# FileSystem.create and renames it into place, which forks nothing but
# a directory mkdirs. It is safe here: each drain is the only writer of
# its own checkpoint dir, FileSystem.rename is atomic on local FS and
# HDFS, and its check-then-rename gap matters only for two writers on
# one checkpoint, which Spark already refuses (one active query per
# checkpoint location).
_DRAIN_CONFS = {
    "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    ),
}


STAGE_ROOT = "/tmp/glue_etl_pyspark_spark_stream_stage"


def stage_stream_dir(sf_dir: str, table: str = "events") -> str:
    """Create (once) a directory of symlinks to ``{sf_dir}/{table}
    .parquet`` — the file-stream source dir.

    The source may be a single parquet FILE (the driver fixtures) or
    a Spark-written DIRECTORY of part files (probe clones, real
    tables): the file-stream source does not follow a symlinked
    subdirectory, so a directory source is staged as one symlink per
    part file. A directory staged as a file-symlink drains ZERO rows
    silently — the r8 10x streaming probe found exactly that."""
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(STAGE_ROOT, key, table)
    os.makedirs(d, exist_ok=True)
    _link_parquet(os.path.join(sf_dir, f"{table}.parquet"), d, table)
    return d


def _link_parquet(src: str, d: str, table: str) -> None:
    """Symlink a parquet source into stage dir ``d`` — one link for a
    single file, one link PER PART FILE for a Spark-written directory
    (the file-stream source does not follow a symlinked subdir).

    Directory sources are walked recursively with the relative layout
    mirrored as REAL directories (leaf files stay symlinks): a
    hive-partitioned source (nested key=value subdirs) must keep its
    path components so partition-column discovery still works, and the
    top-level-only scan staged ZERO links for it — the silent-empty-
    drain class this helper exists to prevent (ADVICE r8). Raises if a
    directory source yields no parquet files."""
    if os.path.isdir(src):
        linked = 0
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            sub = d if rel == "." else os.path.join(d, rel)
            for name in sorted(files):
                if not name.endswith(".parquet"):
                    continue
                os.makedirs(sub, exist_ok=True)
                link = os.path.join(sub, name)
                if not os.path.islink(link):
                    os.symlink(os.path.join(root, name), link)
                linked += 1
        if linked == 0:
            raise FileNotFoundError(
                f"directory source {src!r} contains no .parquet files — "
                "a stream reading this stage dir would drain zero rows "
                "silently"
            )
    else:
        link = os.path.join(d, f"{table}.parquet")
        if not os.path.islink(link):
            os.symlink(src, link)


def events_stream(
    spark: SparkSession, sf_dir: str, staged_dir: str | None = None
) -> DataFrame:
    """The events table as a micro-batch stream with the same schema
    and ts conversion as the batch loader (io.load_table): raw
    TIMESTAMP(NANOS) longs become timestamp_ntz. ``staged_dir``
    overrides the file-source directory (e.g. the sentinel-augmented
    staging from ``stage_events_with_sentinel``)."""
    ensure_session_configs(spark)
    # schema from the batch reader (footer), including the raw ts long
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(raw_schema).parquet(
        staged_dir or stage_stream_dir(sf_dir)
    )
    # Watermarks reject TIMESTAMP_NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]),
    # so the stream carries ltz `timestamp`; the session tz is pinned to UTC
    # (session.RUNTIME_CONFS), so wall-clock values match the batch ntz ones,
    # and streaming queries cast window bounds back to ntz at output.
    if dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields).get("ts") == "bigint":
        stream = stream.select(
            *[
                F.expr("timestamp_micros(ts div 1000)").alias("ts")
                if c == "ts"
                else F.col(c)
                for c in stream.columns
            ]
        )
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


# The RocksDB state-store provider, for keyed state bigger than the
# executor heap: the default HDFS-backed provider keeps each partition's
# state map on the heap, RocksDB spills to local disk with an off-heap
# block cache. Like the store count, the provider is captured at the
# query's first micro-batch (and recorded in the checkpoint), so the
# confs stay pinned for the whole drain. The provider changes where
# state lives, never values (stream≡stream≡batch equality test).
ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # changelog checkpointing: commit the per-batch delta instead of
    # snapshotting the full RocksDB instance — the production mode for
    # large state (upload cost stops scaling with state size; recovery
    # replays the changelog onto the last snapshot)
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def run_available_now(spark: SparkSession, writer: DataStreamWriter, what: str) -> None:
    """The package's one availableNow start: run ``writer`` over the
    stream's whole backlog under ``_DRAIN_CONFS`` (STATE_PARTITIONS
    state stores, the FileSystem-based checkpoint manager), wait
    AWAIT_SECONDS for it to finish, and otherwise stop the query and
    raise ``TimeoutError`` naming ``what``."""
    with pinned_confs(spark, _DRAIN_CONFS):
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(AWAIT_SECONDS):
            q.stop()
            raise TimeoutError(
                f"{what} did not finish within {AWAIT_SECONDS}s; "
                "its sink would hold a partial answer"
            )


@contextmanager
def _memory_sink(spark: SparkSession) -> Iterator[str]:
    """A fresh memory-sink query name for the block. The sink's temp
    view is dropped when the block exits: a frame resolved from it with
    ``spark.table`` inside the block keeps the sink in its own plan,
    while the view would hold the rows for the session's whole life."""
    name = f"mem_sink_{os.getpid()}_{next(_MEM_COUNTER)}"
    try:
        yield name
    finally:
        spark.catalog.dropTempView(name)


def drain_to_memory(df: DataFrame, mode: str = "append") -> DataFrame:
    """Run a bounded streaming query to completion (availableNow) into
    a memory sink and return the sink's contents as a batch DataFrame.

    This is the test/driver harness for streaming queries — a real
    deployment replaces it with writeStream.format(...)
    .option("checkpointLocation", ...).start() and keeps the same
    upstream plan. Memory sink is driver-local by design; only use it
    on aggregated/bounded outputs.
    """
    with _memory_sink(df.sparkSession) as name:
        writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
        run_available_now(df.sparkSession, writer, f"streaming drain {name!r}")
        return df.sparkSession.table(name)


def drain_micro_batches(
    df: DataFrame, mode: str = "complete", total_input: int | None = None
) -> DataFrame:
    """Drain a stream whose source does NOT support availableNow (e.g.
    Python SimpleDataSourceStreamReader sources fall back to
    single-batch under that trigger): run continuous micro-batches
    until ``total_input`` source rows have been consumed by COMMITTED
    batches (or, if None, until an idle batch follows data), then stop.

    recentProgress only lists completed batches, so reaching the
    target guarantees the memory sink holds their output.

    Rows are accumulated per batchId across poll iterations:
    recentProgress is a ring buffer (default 100 entries), so a drain
    needing more micro-batches than the buffer holds would undercount
    if re-summed from the buffer alone."""
    import time

    # conf stays pinned until the query stops: micro-batches keep
    # planning (and reading the conf) for the query's whole life
    with _memory_sink(df.sparkSession) as name, pinned_confs(df.sparkSession, _DRAIN_CONFS):
        q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
        deadline = time.time() + AWAIT_SECONDS
        done = False
        rows_by_batch: dict[int, int] = {}
        last_batch_rows = None
        while time.time() < deadline:
            time.sleep(0.25)
            for p in q.recentProgress:
                rows_by_batch[p["batchId"]] = p["numInputRows"]
                last_batch_rows = p["numInputRows"]
            seen = sum(rows_by_batch.values())
            if total_input is not None:
                if seen >= total_input:
                    done = True
                    break
            elif rows_by_batch and seen > 0 and last_batch_rows == 0:
                done = True
                break
        q.stop()
        q.awaitTermination(AWAIT_SECONDS)
        if not done:
            want = f"{total_input} rows" if total_input is not None else "an idle batch"
            raise TimeoutError(
                f"streaming drain {name!r} did not reach {want} within "
                f"{AWAIT_SECONDS}s (committed {sum(rows_by_batch.values())} rows)"
            )
        return df.sparkSession.table(name)


def foreach_batch_collect(df: DataFrame) -> DataFrame:
    """TEST-ONLY demo drain: run a stream through ``foreachBatch``
    (the Glue streaming-sink hook), appending each micro-batch's rows
    into a DRIVER-SIDE accumulator, and return them as one batch
    DataFrame.

    The per-batch ``collect()`` makes this a driver-memory sink —
    bounded to small aggregated outputs (≲10k rows per batch; the
    registered query emits one row per event_type). It is never the
    production path: at scale, foreachBatch's batch_df writes straight
    to a distributed sink — see ``foreach_batch_to_parquet`` for that
    shape. foreachBatch itself still runs the batch plan distributed;
    only this demo's final hop collects."""
    batches: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batches.extend(batch_df.collect())

    writer = df.writeStream.foreachBatch(sink).outputMode("update")
    run_available_now(df.sparkSession, writer, "foreachBatch drain")
    return df.sparkSession.createDataFrame(batches, df.schema)


def foreach_batch_to_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Production-shape foreachBatch sink: every micro-batch is
    written DISTRIBUTED as partitioned parquet under
    ``{path}/batch_id=N`` — nothing ever crosses the driver.

    Writing each batch under its own ``batch_id=N`` directory makes
    the sink idempotent per batch: a replayed micro-batch (restart
    from checkpoint) overwrites its own directory instead of
    double-appending, which is the standard exactly-once recipe for
    file sinks without a transaction log (a table format with commits
    — e.g. an ACID lakehouse table — replaces this at larger scale).
    Readers scan ``path`` recursively; ``batch_id`` surfaces as a
    partition column and is dropped on re-read by the caller."""
    part = list(partition_by or [])

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.mode("overwrite")
        if part:
            w = w.partitionBy(*part)
        w.parquet(f"{path}/batch_id={batch_id}")

    writer = df.writeStream.foreachBatch(sink).outputMode("append")
    run_available_now(df.sparkSession, writer, f"foreachBatch parquet sink to {path}")


def stage_events_with_sentinel(sf_dir: str, gap_days: int = 10) -> str:
    """Staging dir = events.parquet symlink + a far-future sentinel
    row in its own file. The sentinel's only job is to push the event
    -time watermark past every real row once consumed, so OUTER
    stream-stream joins can emit their unmatched (NULL-padded) rows
    before an availableNow drain terminates — without it the final
    watermark never passes the last real events and their state is
    held forever. The sentinel rows carry the REAL joined event types
    ('purchase' and 'click'): Catalyst pushes the type filter below
    the EventTimeWatermark operator, so a special sentinel type would
    be dropped before the watermark tracker ever saw it. They can
    never pollute the output — equal far-future timestamps satisfy no
    interval bound, and their own unmatched emission would require
    the watermark to pass their own ts, which it never does. The
    sentinel file mirrors the source's arrow schema exactly (ts unit
    included) so the file-stream source reads both files under one
    schema."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(STAGE_ROOT, key, "events_wm")
    os.makedirs(d, exist_ok=True)
    src_path = os.path.join(sf_dir, "events.parquet")
    # directory-shaped tables stage per part file (same landmine as
    # stage_stream_dir: a dir staged as one file-symlink drains ZERO
    # real rows and the sentinel alone produces empty windows)
    _link_parquet(src_path, d, "events")
    sentinel = os.path.join(d, "sentinel.parquet")
    if not os.path.exists(sentinel):
        src = pq.read_table(src_path)
        ts_type = src.schema.field("ts").type
        unit_per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
        max_raw = pc.max(src.column("ts").cast(pa.int64())).as_py()
        far = max_raw + gap_days * 86400 * unit_per_s
        tbl = pa.table({
            "event_id": pa.array([-1, -2], src.schema.field("event_id").type),
            "ts": pa.array([far, far], pa.int64()).cast(ts_type),
            "user_id": pa.array([-1, -1], src.schema.field("user_id").type),
            "event_type": pa.array(["purchase", "click"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }).select(src.schema.names)
        pq.write_table(tbl, sentinel, coerce_timestamps=ts_type.unit if ts_type.unit in ("us", "ms") else None)
    return d
