"""Streaming semantics: each stream drain must agree with its oracled
batch twin; dedup must halve the duplicated stream; stateful counts
must match a batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_etl_pyspark_spark.io import load_table
from glue_etl_pyspark_spark.registry import load_all


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _run(spark, sf_dir, name):
    return load_all()[name].fn(spark, sf_dir)


def test_stream_tumbling_matches_batch(spark, smoke_dir):
    stream = _run(spark, smoke_dir, "stream_tumbling")
    batch = _run(spark, smoke_dir, "window_tumbling_batch")
    cols = ["window_start", "event_type", "n"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_tumbling_rocksdb_matches_default_and_batch(spark, smoke_dir):
    """State-store provider choice (RocksDB vs HDFS-backed heap maps)
    must relocate state without changing one output value — the gate
    for the 100 TB larger-than-heap state path."""
    rocks = _run(spark, smoke_dir, "stream_tumbling_rocksdb")
    stream = _run(spark, smoke_dir, "stream_tumbling")
    batch = _run(spark, smoke_dir, "window_tumbling_batch")
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(rocks, cols) == _rows(stream, cols)
    bcols = ["window_start", "event_type", "n"]
    assert _rows(rocks, bcols) == _rows(batch, bcols)
    # provider conf restored after the drain
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", "unset")
        != "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )


def test_stream_sliding_matches_batch(spark, smoke_dir):
    stream = _run(spark, smoke_dir, "stream_sliding")
    batch = _run(spark, smoke_dir, "window_sliding_batch")
    cols = ["window_start", "n"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_session_matches_batch(spark, smoke_dir):
    stream = _run(spark, smoke_dir, "stream_session")
    batch = _run(spark, smoke_dir, "window_session_batch")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_session_dynamic_matches_batch(spark, smoke_dir):
    """Dynamic-gap session windows (per-event gap expression) must
    merge identically in the stateful stream and the batch twin."""
    stream = _run(spark, smoke_dir, "stream_session_dynamic")
    batch = _run(spark, smoke_dir, "window_session_dynamic_batch")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_dedup_halves_duplicates(spark, smoke_dir):
    out = _run(spark, smoke_dir, "stream_dedup")
    n_events = load_table(spark, smoke_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_static_join_matches_batch(spark, smoke_dir):
    """stream_static_join is the one rows-only driver entry whose
    oracle anchor is its batch twin — so this equality gate must cover
    EVERY output column, not just the exact-integer ones. Counts per
    segment compare exactly; the double sum_value compares to 1e-9
    relative tolerance (micro-batch accumulation order differs from
    the batch plan's, so bit-equality would over-promise)."""
    stream = _run(spark, smoke_dir, "stream_static_join")
    batch = _run(spark, smoke_dir, "stream_static_join_batch")
    cols = ["c_mktsegment", "n"]
    assert _rows(stream, cols) == _rows(batch, cols)
    sv = {r["c_mktsegment"]: r["sum_value"] for r in stream.collect()}
    bv = {r["c_mktsegment"]: r["sum_value"] for r in batch.collect()}
    assert sv.keys() == bv.keys()
    for seg, v in bv.items():
        assert abs(sv[seg] - v) <= 1e-9 * max(1.0, abs(v)), (
            f"sum_value drift for {seg}: stream={sv[seg]!r} batch={v!r}"
        )


def test_stream_stateful_counts_match_batch(spark, smoke_dir):
    out = _run(spark, smoke_dir, "stream_stateful_counts")
    batch = _run(spark, smoke_dir, "stream_stateful_batch")
    cols = ["user_id", "n_events", "sum_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_stream_foreachbatch_totals(spark, smoke_dir):
    out = _run(spark, smoke_dir, "stream_foreachbatch")
    assert out.count() == 5  # one row per event_type
    total = sum(r.n for r in out.collect())
    assert total == load_table(spark, smoke_dir, "events").count()


def test_stream_stream_join_matches_batch(spark, smoke_dir):
    stream = _run(spark, smoke_dir, "stream_stream_join")
    batch = _run(spark, smoke_dir, "stream_stream_join_batch")
    cols = ["purchase_id", "click_id"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_multi_batch_incremental_state(spark, smoke_dir, tmp_path):
    """Real incremental processing: the events table split into 4
    files, replayed one file per micro-batch (maxFilesPerTrigger=1) —
    aggregation state must carry across batches and converge to the
    batch answer."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table

    ev = load_table(spark, smoke_dir, "events")
    src = str(tmp_path / "events_split")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("multi_batch_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    n_batches = len(q.recentProgress)
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    got = {(r.event_type, r.n) for r in spark.table("multi_batch_sink").collect()}
    want = {
        (r.event_type, r.n)
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg across two micro-batches: an event
    arriving in batch 2 that is older than the advanced watermark must
    be DROPPED — the state-bounding contract that makes streaming
    aggregation viable at scale."""
    import os
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "late_src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:30:00")
    # batch 1: hours 0..10 -> post-batch watermark 09:30
    b1 = pd.DataFrame({
        "event_id": range(22),
        "ts": [base + pd.Timedelta(hours=h) for h in range(11) for _ in (0, 1)],
    })
    # batch 2: fresh event (hour 11) — during this batch windows up to
    # 09:30 are evicted + emitted (hour-0 closes with n=2)
    b2 = pd.DataFrame({"event_id": [101], "ts": [base + pd.Timedelta(hours=11)]})
    # batch 3: a LATE event back in hour 0 — its window was already
    # emitted; the row must be dropped, not merged or re-emitted
    b3 = pd.DataFrame({"event_id": [100], "ts": [base]})
    for name, frame in [("a", b1), ("b", b2), ("c", b3)]:
        frame.to_parquet(src / f"{name}.parquet", coerce_timestamps="us")
        _time.sleep(1.1)  # file-source orders batches by modification time
    os.utime  # (mtimes spaced by the sleeps above)

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("late_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    assert len(q.recentProgress) >= 3, "expected three micro-batches"
    got = {(str(r.ws), r.n) for r in spark.table("late_sink").collect()}
    hour0 = [n for ws, n in got if ws.startswith("2024-01-01 00:00")]
    # hour-0 emitted exactly once, with ONLY batch-1's 2 events; the
    # late event_id=100 was dropped, not merged and not re-emitted
    assert hour0 == [2], f"late event leaked into closed window: {sorted(got)}"


def test_checkpoint_resume_exactly_once(spark, smoke_dir, tmp_path):
    """The streaming job-bookmark: a checkpointed query stopped
    mid-replay and restarted must resume from its offset — every
    event lands in the sink exactly once across both runs."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table

    ev = load_table(spark, smoke_dir, "events")
    n_events = ev.count()
    src = str(tmp_path / "split_src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id")
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # run 1: stop after at least one micro-batch committed
    q1 = start()
    import time as _time

    for _ in range(100):
        if len(q1.recentProgress) >= 1:
            break
        _time.sleep(0.2)
    q1.stop()
    q1.awaitTermination(60)
    n_first = spark.read.parquet(out).count()

    # run 2: same checkpoint — resumes, never reprocesses
    q2 = start()
    assert q2.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == n_events, f"run1 had {n_first}; total {got.count()} != {n_events}"
    assert got.select("event_id").distinct().count() == n_events, "duplicates: bookmark replayed data"


def test_rate_source_smoke(spark):
    """The built-in rate source (the no-broker stand-in for Kafka):
    a few micro-batches must deliver monotonically increasing values."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .select("value")
    )
    q = (
        stream.writeStream.format("memory").queryName("rate_sink")
        .outputMode("append").start()
    )
    import time as _time

    deadline = _time.time() + 30
    while _time.time() < deadline and spark.table("rate_sink").count() < 20:
        _time.sleep(0.5)
    q.stop()
    vals = [r.value for r in spark.table("rate_sink").collect()]
    assert len(vals) >= 20 and len(set(vals)) == len(vals)


def test_pyds_stream_sequence_closed_form(spark, smoke_dir):
    """The custom Python streaming source is deterministic: per-bucket
    counts and sums must equal the closed form over [0, 1000)."""
    out = _run(spark, smoke_dir, "pyds_stream_sequence")
    rows = {r.bucket: (r.n, r.sum_value) for r in out.collect()}
    assert len(rows) == 10
    for b in range(10):
        vals = range(b, 1000, 10)
        assert rows[b] == (100, round(0.5 * sum(vals), 2)), b


def test_stream_stream_outer_join_matches_batch_left_join(spark, smoke_dir):
    """The left-outer stream-stream join must equal the batch LEFT
    JOIN — including the NULL-padded unmatched purchases, which only
    emit because the sentinel advances the watermark past all real
    rows before the drain terminates."""
    from pyspark.sql import functions as F

    from glue_etl_pyspark_spark.io import load_table

    stream = _run(spark, smoke_dir, "stream_stream_join_outer")
    ev = load_table(spark, smoke_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts"),
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "click_id")
    cols = ["purchase_id", "click_id"]
    assert _rows(stream, cols) == _rows(batch, cols)
    # the outer semantics must actually be exercised: some purchases
    # have no preceding click
    assert any(r.click_id is None for r in stream.collect())


def test_stateful_timeout_sessions_match_batch(spark, smoke_dir):
    """Closed sessions from the EventTimeTimeout stateful operator
    must equal batch session_window sessions exactly — the sentinel
    forces every real session to time out before the drain ends."""
    stream = _run(spark, smoke_dir, "stream_stateful_timeout_sessions")
    batch = _run(spark, smoke_dir, "window_session_batch")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_streaming_query_listener_observability(spark, smoke_dir):
    """StreamingQueryListener — the ops-monitoring surface: per-batch
    progress events must report the rows each micro-batch ingested,
    and their total must equal the drained input (what a production
    pipeline exports to its metrics system)."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from glue_etl_pyspark_spark.streaming.ops import events_stream

    events = {"progress": [], "started": 0, "terminated": 0}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    spark.streams.addListener(listener := Capture())
    try:
        stream = events_stream(spark, smoke_dir)
        agg = stream.groupBy("event_type").count()
        q = (
            agg.writeStream.format("memory")
            .queryName("listener_probe")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        total_in = spark.read.parquet(f"{smoke_dir}/events.parquet").count()
        while time.time() < deadline and sum(events["progress"]) < total_in:
            time.sleep(0.5)
        assert events["started"] >= 1
        assert sum(events["progress"]) == total_in, events["progress"]
    finally:
        spark.streams.removeListener(listener)


def test_rocksdb_state_store_provider(spark, smoke_dir):
    """Production state backend: the same per-type count drained under
    the RocksDB state-store provider (state off-heap, incremental
    checkpointing — the 100 TB configuration) must equal the batch
    GROUP BY, and its checkpoint must be readable via the statestore
    source. Provider is pinned per-query via the conf at start time;
    restored afterwards."""
    import tempfile

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.session import pinned_confs
    from glue_etl_pyspark_spark.streaming.ops import (
        ROCKSDB_CONFS,
        STATE_PARTITIONS,
        events_stream,
        run_available_now,
    )

    ckpt = tempfile.mkdtemp(prefix="sgraft_rocksdb_")
    with pinned_confs(spark, ROCKSDB_CONFS):
        agg = events_stream(spark, smoke_dir).groupBy("event_type").count()
        writer = (
            agg.writeStream.format("memory")
            .queryName("rocksdb_probe")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
        )
        run_available_now(spark, writer, "rocksdb probe")
    got = {
        (r["event_type"], r["count"])
        for r in spark.table("rocksdb_probe").collect()
    }
    want = {
        (r["event_type"], r["n"])
        for r in load_table(spark, smoke_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    state = spark.read.format("statestore").load(ckpt)
    assert state.count() == len(want)
    assert _state_store_counts(spark, ckpt) == [STATE_PARTITIONS]
    # the checkpoint records the provider the drain really ran with
    with open(f"{ckpt}/offsets/0") as f:
        assert ROCKSDB_CONFS["spark.sql.streaming.stateStore.providerClass"] in f.read()


def test_foreachbatch_retry_is_exactly_once(spark, smoke_dir, tmp_path):
    """Exactly-once for the batch_id-partitioned foreachBatch file
    sink (the recipe foreach_batch_to_parquet documents): a sink
    attempt that dies AFTER a partial write must leave no duplicates
    and no missing rows once the stream restarts from the SAME
    checkpoint — Spark replays the failed micro-batch with the same
    batch_id, and the per-batch ``mode("overwrite")`` directory write
    replaces the partial output instead of appending to it. This is
    the property that makes the sink safe under task/driver retry at
    scale; an append-mode sink double-writes here and this test fails.
    """
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from glue_etl_pyspark_spark.streaming.ops import events_stream

    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    attempts = {"n": 0}

    def sink(batch_df, batch_id):
        # foreachBatch callables run on the driver: the closure dict is
        # a reliable attempt counter
        part = f"{sink_dir}/batch_id={batch_id}"
        if attempts["n"] == 0:
            attempts["n"] += 1
            # crash mid-commit: half the rows land, then the batch dies
            batch_df.filter(F.col("event_id") % 2 == 0).write.mode(
                "overwrite"
            ).parquet(part)
            raise RuntimeError("injected sink failure after partial write")
        batch_df.write.mode("overwrite").parquet(part)

    src = events_stream(spark, smoke_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def start():
        return (
            src.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        q1.awaitTermination(120)
    # partial state really is on disk (the failure mode being tested)
    partial = spark.read.parquet(sink_dir)
    full = load_table(spark, smoke_dir, "events")
    assert partial.count() < full.count()

    q2 = start()
    assert q2.awaitTermination(120)
    assert attempts["n"] == 1, "restart must NOT re-enter the failing branch"

    back = spark.read.parquet(sink_dir).drop("batch_id")
    assert back.count() == full.count()
    dupes = back.groupBy("event_id").count().filter(F.col("count") > 1)
    assert dupes.count() == 0
    assert _rows(back, ["event_id", "user_id", "event_type", "value"]) == _rows(
        full.select("event_id", "user_id", "event_type", "value"),
        ["event_id", "user_id", "event_type", "value"],
    )


def test_stream_chained_windows_matches_batch(spark, smoke_dir):
    """Two chained stateful window aggregations (15-min -> hourly)
    must equal the batch window-over-window twin exactly; the
    sentinel rows' far-future windows must never emit."""
    stream = _run(spark, smoke_dir, "stream_chained_windows")
    batch = _run(spark, smoke_dir, "window_chained_batch")
    cols = ["hour_start", "event_type", "n_events", "n_subwindows"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stage_stream_dir_handles_directory_tables(spark, smoke_dir, tmp_path):
    """A Spark-WRITTEN table is a directory of part files; staging it
    as a single file-symlink makes every stream drain a silent no-op
    (the r8 10x-probe landmine). The staging helper must symlink the
    part files so the file-stream source sees them."""
    import os

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.streaming.ops import drain_to_memory, stage_stream_dir

    src_root = str(tmp_path / "dirtable")
    ev = load_table(spark, smoke_dir, "events").limit(500)
    ev.write.parquet(os.path.join(src_root, "events.parquet"))

    staged = stage_stream_dir(src_root)
    links = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    assert links and all(os.path.islink(os.path.join(staged, f)) for f in links)

    s = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(staged)
    )
    out = drain_to_memory(s.select("event_id"), mode="append")
    assert out.count() == 500


def test_stage_stream_dir_handles_hive_partitioned_tables(
    spark, smoke_dir, tmp_path
):
    """A hive-partitioned source (nested key=value subdirs) staged
    with a top-level-only scan links ZERO files and drains empty
    silently (ADVICE r8). The helper must walk the tree, mirror the
    key=value path components, and raise loudly when a directory
    source yields no parquet at all."""
    import os

    import pytest as _pytest

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.streaming.ops import (
        _link_parquet,
        drain_to_memory,
        stage_stream_dir,
    )

    src_root = str(tmp_path / "hiveroot")
    ev = load_table(spark, smoke_dir, "events").limit(300)
    ev.write.partitionBy("event_type").parquet(
        os.path.join(src_root, "events.parquet")
    )

    staged = stage_stream_dir(src_root)
    linked = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(staged)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert linked, "hive-partitioned source staged zero links"
    assert any("event_type=" in p for p in linked), (
        "partition path components must be preserved"
    )
    # the partition column must survive the drain (schema includes it;
    # values come from the mirrored key=value dirs)
    s = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(staged)
    )
    out = drain_to_memory(s.select("event_id", "event_type"), mode="append")
    pdf = out.toPandas()
    assert len(pdf) == 300 and pdf["event_type"].notna().all()

    # empty directory source → loud error, never a silent empty drain
    empty = tmp_path / "emptysrc"
    empty.mkdir()
    with _pytest.raises(FileNotFoundError, match="no .parquet files"):
        _link_parquet(str(empty), str(tmp_path / "stage_out"), "events")


def test_sentinel_staging_handles_directory_tables(spark, smoke_dir, tmp_path):
    """stage_events_with_sentinel must stage directory-shaped events
    per part file too — staged as one file-symlink, a drain would see
    ONLY the sentinel file and emit empty windows (the r8 10x
    follow-up finding)."""
    import os

    from glue_etl_pyspark_spark.io import load_table
    from glue_etl_pyspark_spark.streaming.ops import stage_events_with_sentinel

    src_root = str(tmp_path / "evroot")
    ev = load_table(spark, smoke_dir, "events").limit(400)
    ev.write.parquet(os.path.join(src_root, "events.parquet"))

    staged = stage_events_with_sentinel(src_root)
    links = [f for f in os.listdir(staged) if f.startswith("part-")]
    assert links, "expected per-part-file symlinks for a directory table"
    assert os.path.exists(os.path.join(staged, "sentinel.parquet"))
    # the staged dir must read back as real rows + the 2 sentinels
    n = spark.read.parquet(staged).count()
    assert n == 400 + 2


def test_pinned_confs_restores_set_and_unset_keys(spark):
    """pinned_confs puts a key that had a value back to that value and
    unsets a key that had none, also when the block raises."""
    import pytest

    from glue_etl_pyspark_spark.session import pinned_confs

    was_set, was_unset = "spark.sql.shuffle.partitions", "spark.sql.graftTest.pinned"
    before = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None
    pins = {was_set: "3", was_unset: "on"}
    with pinned_confs(spark, pins):
        assert spark.conf.get(was_set) == "3" and spark.conf.get(was_unset) == "on"
    assert spark.conf.get(was_set) == before
    assert spark.conf.get(was_unset, None) is None
    with pytest.raises(RuntimeError, match="inside the pin"):
        with pinned_confs(spark, pins):
            raise RuntimeError("inside the pin")
    assert spark.conf.get(was_set) == before
    assert spark.conf.get(was_unset, None) is None


def _state_store_counts(spark, ckpt):
    """Store count per stateful operator from the checkpoint's state
    metadata, checked against the partition ids the statestore reader
    sees."""
    ids = {r.partition_id for r in spark.read.format("statestore").load(ckpt).collect()}
    counts = [r.numPartitions for r in spark.read.format("state-metadata").load(ckpt).collect()]
    assert ids and max(ids) < min(counts), (ids, counts)
    return counts


def test_drain_pins_state_stores_and_restores_shuffle_width(spark, smoke_dir, tmp_path):
    """A drain runs with exactly STATE_PARTITIONS state stores, however
    wide the session's shuffle is, and leaves the session's width as
    it found it."""
    import os

    from glue_etl_pyspark_spark.session import pinned_confs
    from glue_etl_pyspark_spark.streaming.ops import (
        STATE_PARTITIONS,
        drain_to_memory,
        events_stream,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(STATE_PARTITIONS)
    root = str(tmp_path / "ckpts")
    agg = events_stream(spark, smoke_dir).groupBy("event_type").count()
    with pinned_confs(spark, {"spark.sql.streaming.checkpointLocation": root}):
        out = drain_to_memory(agg, mode="complete")
    assert out.count() == 5
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    (name,) = os.listdir(root)
    assert _state_store_counts(spark, os.path.join(root, name)) == [STATE_PARTITIONS]


def test_stream_state_inspect_pins_store_count(spark, smoke_dir, monkeypatch):
    """stream_state_inspect drains through the shared start, so its
    checkpoint has STATE_PARTITIONS stores too."""
    from glue_etl_pyspark_spark.sources import formats
    from glue_etl_pyspark_spark.streaming.ops import STATE_PARTITIONS

    made, real = [], formats.staging_dir

    def recording_staging_dir(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(formats, "staging_dir", recording_staging_dir)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = _run(spark, smoke_dir, "stream_state_inspect")
    assert out.count() == 5
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    (ckpt,) = made
    assert _state_store_counts(spark, ckpt) == [STATE_PARTITIONS]


def test_run_available_now_times_out_loudly(spark, smoke_dir, monkeypatch):
    """A drain that outlives AWAIT_SECONDS is stopped and raises
    instead of handing back a partial sink; the session's shuffle width
    is restored on that path too."""
    import pytest

    from glue_etl_pyspark_spark.streaming import ops

    monkeypatch.setattr(ops, "AWAIT_SECONDS", 0.001)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    agg = ops.events_stream(spark, smoke_dir).groupBy("event_type").count()
    with pytest.raises(TimeoutError, match="did not finish within"):
        ops.drain_to_memory(agg, mode="complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert not spark.streams.active


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_drain_pins_checkpoint_manager_and_unsets_it(spark, smoke_dir):
    """A foreachBatch drain (the writer foreach_batch_collect starts)
    plans its batches with the drain's checkpoint manager, and the
    driver's session has the key unset again afterwards."""
    from glue_etl_pyspark_spark.streaming import ops

    assert spark.conf.get(_MANAGER_KEY, None) is None
    seen = []

    def sink(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(_MANAGER_KEY, None))
        batch_df.collect()  # a stateful batch must be consumed whole

    agg = ops.events_stream(spark, smoke_dir).groupBy("event_type").count()
    writer = agg.writeStream.foreachBatch(sink).outputMode("update")
    ops.run_available_now(spark, writer, "manager-pin drain")
    assert seen and set(seen) == {ops._DRAIN_CONFS[_MANAGER_KEY]}
    assert spark.conf.get(_MANAGER_KEY, None) is None


def test_timed_out_drain_unsets_checkpoint_manager(spark, smoke_dir, monkeypatch):
    from glue_etl_pyspark_spark.streaming import ops

    monkeypatch.setattr(ops, "AWAIT_SECONDS", 0.001)
    agg = ops.events_stream(spark, smoke_dir).groupBy("event_type").count()
    with pytest.raises(TimeoutError, match="did not finish within"):
        ops.foreach_batch_collect(agg)
    assert spark.conf.get(_MANAGER_KEY, None) is None
    assert not spark.streams.active


def _mem_sink_views(spark):
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_sink_")]


def test_memory_drain_drops_its_sink_view(spark, smoke_dir):
    """The memory sink's temp view is dropped once the drain returns;
    the returned frame holds the sink in its plan and still collects
    the drained rows."""
    from glue_etl_pyspark_spark.streaming.ops import drain_to_memory, events_stream

    agg = events_stream(spark, smoke_dir).groupBy("event_type").count()
    out = drain_to_memory(agg, mode="complete")
    assert _mem_sink_views(spark) == []
    batch = load_table(spark, smoke_dir, "events").groupBy("event_type").count()
    assert _rows(out, ["event_type", "count"]) == _rows(batch, ["event_type", "count"])


def test_timed_out_memory_drain_drops_its_sink_view(spark, smoke_dir, monkeypatch):
    from glue_etl_pyspark_spark.streaming import ops

    monkeypatch.setattr(ops, "AWAIT_SECONDS", 0.001)
    agg = ops.events_stream(spark, smoke_dir).groupBy("event_type").count()
    with pytest.raises(TimeoutError):
        ops.drain_to_memory(agg, mode="complete")
    assert _mem_sink_views(spark) == []


def test_drain_resumes_a_file_context_checkpoint(spark, smoke_dir, tmp_path):
    """A checkpoint written under Spark's default FileContext manager
    (a hand-started query, as before drains pinned their manager)
    resumes under the drain's manager: the second run reads only the
    file added since, and every event lands exactly once."""
    from glue_etl_pyspark_spark.streaming.ops import run_available_now

    ev = load_table(spark, smoke_dir, "events")
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.filter("event_id % 2 = 0").write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src).select("event_id")
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    assert spark.conf.get(_MANAGER_KEY, None) is None
    first = writer.trigger(availableNow=True).start()
    assert first.awaitTermination(120)
    ev.filter("event_id % 2 = 1").write.mode("append").parquet(src)
    run_available_now(spark, writer, "resumed drain")
    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
