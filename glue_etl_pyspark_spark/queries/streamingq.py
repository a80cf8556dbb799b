"""Streaming queries (SURVEY.md §2.10) with oracled batch twins.

Pattern: each streaming query drains the bounded events replay
through a memory sink (rows-only check), and its batch twin computes
the same answer with batch operators + a DuckDB oracle — so the
window semantics are still hash-verified.

Aggregating streams use complete mode: under availableNow the whole
replay is one micro-batch, so append mode would emit nothing (the
watermark only advances after the batch — windows never close within
it). The watermark is still declared: it is what bounds state at
scale."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import query
from ..session import pinned_confs
from ..streaming.ops import (
    ROCKSDB_CONFS,
    drain_to_memory,
    events_stream,
    foreach_batch_collect,
    foreach_batch_to_parquet,
    run_available_now,
)

# --------------------------------------------------------------------------
# tumbling window

TUMBLING_BATCH_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  CAST(COUNT(*) AS BIGINT) AS n, SUM(value) AS sum_value
FROM events GROUP BY 1, 2
"""


@query("window_tumbling_batch", oracle=TUMBLING_BATCH_ORACLE, category="streaming")
def window_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the tumbling-window stream: window().start equals
    date_trunc('hour') exactly (verified SURVEY.md §8.4)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query("stream_tumbling", oracle=None, category="streaming")
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts over the replayed events stream with a
    1-hour watermark; drained via availableNow → memory sink. Must
    agree with window_tumbling_batch (asserted in tests)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return drain_to_memory(agg, mode="complete")


@query("stream_tumbling_rocksdb", oracle=None, category="streaming")
def stream_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tumbling's exact plan drained under the RocksDB
    state-store provider (bundled rocksdbjni) instead of the default
    HDFS-backed in-heap maps — the scale path for keyed state bigger
    than executor memory (state spills to per-partition RocksDB
    instances on local disk). Provider choice relocates state, never
    values: asserted identical to stream_tumbling AND
    window_tumbling_batch in tests/test_streaming.py."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    with pinned_confs(spark, ROCKSDB_CONFS):
        return drain_to_memory(agg, mode="complete")


# --------------------------------------------------------------------------
# sliding window

SLIDING_BATCH_ORACLE = """
WITH slid AS (
  SELECT date_trunc('hour', ts)
           + to_minutes(CAST(15 * (minute(ts) // 15) AS BIGINT))
           - to_minutes(CAST(15 * j.j AS BIGINT)) AS window_start,
         value
  FROM events, range(0, 4) j(j)
)
SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n, SUM(value) AS sum_value
FROM slid GROUP BY window_start
"""


@query("window_sliding_batch", oracle=SLIDING_BATCH_ORACLE, category="streaming")
def window_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of a 1h/15min sliding window: each event belongs to
    exactly 4 windows (offset-explode in the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@query("stream_sliding", oracle=None, category="streaming")
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min windowed sums over the stream (complete mode
    drain; watermark declared for state bounding)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    return drain_to_memory(agg, mode="complete")


# --------------------------------------------------------------------------
# session window

SESSION_BATCH_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_id,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT user_id, ts, event_id,
    -- >=: Spark's session end (prev + gap) is EXCLUSIVE, so an
    -- exactly-gap-sized step starts a new session
    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM o
),
g AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, sid
"""


@query("window_session_batch", oracle=SESSION_BATCH_ORACLE, category="streaming")
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) — session_window works in batch
    groupBy and matches the gaps-and-islands SQL twin exactly
    (SURVEY.md §8.4: 946 sessions at sf0.001)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


@query("stream_session", oracle=None, category="streaming")
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on the stream (stateful merge of adjacent
    sessions per key; complete-mode drain)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return drain_to_memory(agg, mode="complete")


# --------------------------------------------------------------------------
# streaming dedup / stream-static join / foreachBatch / stateful

SESSION_DYNAMIC_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id,
    ts + CASE WHEN event_type = 'view'
      THEN INTERVAL 10 MINUTE ELSE INTERVAL 30 MINUTE END AS w_end
  FROM events
),
o AS (
  SELECT user_id, ts, event_id, w_end,
    -- dynamic gaps need the RUNNING MAX window end, not lag(ts): an
    -- earlier long-gap event can hold the session open past a later
    -- short-gap event's own window
    MAX(w_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev_max_end
  FROM e
),
f AS (
  SELECT user_id, ts, event_id, w_end,
    -- >=: the merged end is exclusive, like the static twin
    CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
      THEN 1 ELSE 0 END AS new_s
  FROM o
),
g AS (
  SELECT user_id, ts, w_end,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS sid
  FROM f
)
SELECT user_id, MIN(ts) AS session_start, MAX(w_end) AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, sid
"""


def _dynamic_gap():
    return F.when(
        F.col("event_type") == "view", F.lit("10 minutes")
    ).otherwise(F.lit("30 minutes"))


@query(
    "window_session_dynamic_batch",
    oracle=SESSION_DYNAMIC_ORACLE,
    category="streaming",
)
def window_session_dynamic_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: the gap duration is a PER-EVENT
    expression (views time out in 10 min, everything else 30) —
    `session_window(ts, gap_column)`, the Spark 3.2+ surface the
    fixed-gap twin can't express. Oracle is the running-max-end
    gaps-and-islands form (see SQL comment: lag(ts) is WRONG under
    mixed gaps)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", _dynamic_gap()))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


@query("stream_session_dynamic", oracle=None, category="streaming")
def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows on the stream (stateful interval
    merge per key, per-event gap expression; complete-mode drain).
    Must agree with window_session_dynamic_batch (asserted in
    tests/test_streaming.py)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", _dynamic_gap()))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return drain_to_memory(agg, mode="complete")


@query("stream_dedup", oracle=None, category="streaming")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a deliberately-duplicated
    stream (the replay unioned with itself): every event_id arrives
    twice, exactly one survives. State is bounded by the watermark —
    the scale guarantee vs. unbounded dropDuplicates."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    dup = a.unionByName(b)
    dedup = dup.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    return drain_to_memory(dedup.select("event_id", "ts", "user_id", "event_type"), mode="append")


STREAM_STATIC_BATCH_ORACLE = """
SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, SUM(e.value) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("stream_static_join_batch", oracle=STREAM_STATIC_BATCH_ORACLE, category="streaming")
def stream_static_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrich join."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )


@query("stream_static_join", oracle=None, category="streaming")
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch joins against the static
    customer dim (no stream-side state needed). No broadcast hint —
    customer is SF-scaled; Spark's size estimate picks broadcast at
    bench scale, a shuffled join when the dim outgrows the threshold
    (or pre-bucket the dim at 100 TB)."""
    s = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = (
        s.join(cust, s["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    return drain_to_memory(joined, mode="complete")


@query("stream_foreachbatch", oracle=None, category="streaming")
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom sink (the Glue streaming-job hook): per-
    event-type value sums collected batch-by-batch."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    return foreach_batch_collect(agg)


FOREACHBATCH_PARQUET_ORACLE = """
SELECT event_id, user_id, event_type, ts, value
FROM events WHERE value > 0
"""


@query(
    "stream_foreachbatch_parquet",
    oracle=FOREACHBATCH_PARQUET_ORACLE,
    category="streaming",
)
def stream_foreachbatch_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION foreachBatch shape: every micro-batch of the
    events replay is written distributed as parquet partitioned by
    event_type under a batch_id=N dir (idempotent per-batch overwrite
    — the exactly-once file-sink recipe), then the sink is re-read and
    the full row set hash-checked against the batch oracle. Nothing
    crosses the driver; contrast with the test-only collect() demo in
    ``stream_foreachbatch``."""
    from ..sources.formats import scratch_dir

    s = events_stream(spark, sf_dir)
    out = s.filter(F.col("value") > 0).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
    )
    path = scratch_dir("stream_foreachbatch_parquet")
    foreach_batch_to_parquet(out, path, partition_by=["event_type"])
    back = spark.read.parquet(path)
    # batch_id / event_type come back as partition columns; restore
    # the written order and drop the sink-internal batch_id
    return back.select("event_id", "user_id", "event_type", "ts", "value")


STATEFUL_BATCH_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  round(SUM(value), 6) AS sum_value
FROM events GROUP BY user_id
"""


@query("stream_stateful_batch", oracle=STATEFUL_BATCH_ORACLE, category="streaming")
def stream_stateful_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running per-user
    count/sum: after the full replay the stateful op's final update per
    user must equal this plain aggregation (equality asserted in
    tests/test_streaming.py); the twin itself is hash-checked vs the
    DuckDB oracle, giving the stateful operator an oracled anchor."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@query("stream_stateful_counts", oracle=None, category="streaming")
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-key operator (applyInPandasWithState):
    running event count + value sum per user, state persisted in the
    state store between micro-batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 6)]}
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain_to_memory(out, mode="update")


# --------------------------------------------------------------------------
# incremental (job bookmark) source

BOOKMARK_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
"""


@query("incremental_bookmark", oracle=BOOKMARK_ORACLE, category="streaming")
def incremental_bookmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glue job-bookmark semantics, batch flavor: a high-watermark
    predicate selects only rows newer than the last run's position
    (the predicate pushes to the scan; at scale it prunes whole
    partitions of a ts-partitioned table)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        F.col("ts") > F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    ).select("event_id", "ts", "user_id", "event_type", "value")


# --------------------------------------------------------------------------
# stream-stream join

STREAM_STREAM_BATCH_ORACLE = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
"""


@query("stream_stream_join_batch", oracle=STREAM_STREAM_BATCH_ORACLE, category="streaming")
def stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream join: clicks within the 10
    minutes before each purchase, per user."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("click_ts") < F.col("purchase_ts")),
        )
        .select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    )


@query("stream_stream_join", oracle=None, category="streaming")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: both sides watermarked, join
    condition carries the time bound so each side's state is evictable
    (purchases keep 10 min of clicks per user). The §2.10 shape Spark
    executes with symmetric hash join + state store."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    p = (
        a.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("purchase_ts"))
    )
    c = (
        b.filter(F.col("event_type") == "click")
        .withWatermark("ts", "30 minutes")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts"))
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts")),
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    return drain_to_memory(joined, mode="append")


CDC_APPLY_ORACLE = """
SELECT user_id, event_id AS last_event_id,
  ts AS last_ts, event_type AS last_type, round(value, 6) AS last_value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
      AS rn
  FROM events
) WHERE rn = 1
"""


@query("stream_cdc_apply", oracle=CDC_APPLY_ORACLE, category="streaming")
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply with last-write-wins merge semantics: the
    events replay streams through foreachBatch into per-batch parquet
    generations (the idempotent exactly-once sink), and the CURRENT
    TABLE STATE is the latest row per user_id by (ts, event_id) across
    all generations — the standard upsert-view over an append log
    (compaction folds old generations without changing the answer).
    Micro-batch boundaries are nondeterministic, but last-write-wins
    is batch-order-INVARIANT, so the final state is fully
    hash-oracled against the batch window twin — rare for a streaming
    pipeline. At scale the per-user window shards on user_id (one
    shuffle); generations bound the read amplification and a
    compaction job rewrites them on a schedule."""
    from ..sources.formats import scratch_dir

    s = events_stream(spark, sf_dir)
    out = s.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
    )
    path = scratch_dir("stream_cdc_apply")
    foreach_batch_to_parquet(out, path)
    log = spark.read.parquet(path)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


@query("stream_stream_join_outer", oracle=None, category="streaming")
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics inner joins
    can't show: a purchase with no click in its preceding 10 minutes
    must still emit, NULL-padded, once the watermark proves no
    matching click can arrive. Unmatched state is only released when
    the event-time watermark passes the join bound, and a bounded
    replay's watermark never passes its own final rows — so the
    staged source appends a far-future sentinel row
    (streaming/ops.stage_events_with_sentinel) that each side's
    watermark sees BEFORE the type filter drops it, forcing the final
    eviction/emission before the availableNow drain terminates. This
    is exactly the production pattern of a heartbeat topic keeping
    watermarks moving through quiet periods. Rows-only by necessity;
    the stream≡batch-left-join equality check lives in
    tests/test_streaming.py."""
    from ..streaming.ops import stage_events_with_sentinel

    d = stage_events_with_sentinel(sf_dir)
    a = events_stream(spark, sf_dir, staged_dir=d)
    b = events_stream(spark, sf_dir, staged_dir=d)
    p = (
        a.withWatermark("ts", "30 minutes")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    c = (
        b.withWatermark("ts", "30 minutes")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    # availableNow terminates after the last FILE batch, before the
    # no-data cleanup batch that evicts (and NULL-emits) the most
    # recent held purchases — drain with continuous micro-batches
    # until an idle batch follows data, so the eviction batch lands
    from ..streaming.ops import drain_micro_batches

    return drain_micro_batches(joined, mode="append")


@query("stream_stateful_timeout_sessions", oracle=None, category="streaming")
def stream_stateful_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT — the
    applyInPandasWithState leg NoTimeout can't show: each user's open
    session closes either when a later event exceeds the 30-min gap
    (emitted immediately, in-batch) or when the WATERMARK passes the
    session's end (state.hasTimedOut — the inactivity close). The
    sentinel-augmented source pushes the final watermark 10 days past
    the last real event, so every real session times out and the
    stream's closed-session set equals window_session_batch exactly
    (the equality test in tests/test_streaming.py) — sessions for the
    sentinel's own key are suppressed in the state function. State is
    one (start, last, n) tuple per user; at 100 TB this shards on
    user_id across state stores and the timeout sweep is per-store."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.ops import stage_events_with_sentinel

    gap_us = 30 * 60 * 1_000_000
    d = stage_events_with_sentinel(sf_dir)
    s = events_stream(spark, sf_dir, staged_dir=d).withWatermark("ts", "0 seconds")

    def update(key, pdfs, state: GroupState):
        user = key[0]
        frames = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            frames.append((user, start_us, last_us + gap_us, n))
            state.remove()
        else:
            rows = []
            for pdf in pdfs:
                rows.extend(
                    zip(pdf["ts"].astype("int64") // 1000, pdf["event_id"])
                )
            rows.sort()
            if rows:
                if state.exists:
                    start_us, last_us, n = state.get
                else:
                    start_us, last_us, n = rows[0][0], rows[0][0], 0
                for ts_us, _ in rows:
                    if ts_us - last_us >= gap_us:
                        frames.append((user, start_us, last_us + gap_us, n))
                        start_us, n = ts_us, 0
                    last_us = ts_us
                    n += 1
                state.update((start_us, last_us, n))
                state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
        out = [f for f in frames if f[0] >= 0]  # drop sentinel-key rows
        if not out:
            yield pd.DataFrame(
                {"user_id": [], "start_us": [], "end_us": [], "n_events": []}
            )
            return
        yield pd.DataFrame(
            [
                {"user_id": u, "start_us": a, "end_us": b, "n_events": n}
                for u, a, b, n in out
            ]
        )

    closed = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, start_us bigint, end_us bigint, n_events bigint",
        stateStructType="start_us bigint, last_us bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    from ..streaming.ops import drain_micro_batches

    drained = drain_micro_batches(closed, mode="append")
    return drained.select(
        "user_id",
        F.expr("timestamp_micros(start_us)").cast("timestamp_ntz").alias("session_start"),
        F.expr("timestamp_micros(end_us)").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


# --------------------------------------------------------------------------
# state-store inspection (Spark 4 statestore reader)

STATE_INSPECT_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


@query("stream_state_inspect", oracle=STATE_INSPECT_ORACLE, category="streaming")
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store OBSERVABILITY (Spark 4 `statestore` data
    source): drain a per-type running count over the replayed events
    stream, then read the checkpoint's state store back and unnest it
    — the debugging workflow for inspecting what a stateful query
    actually holds. Because the drain consumes the whole table, the
    state contents must equal the batch GROUP BY exactly, which makes
    this the one streaming query whose STATE (not its sink) is fully
    value-oracled.

    Scale: state rows = distinct keys, partitioned across the
    checkpoint's state stores; the reader is a normal parallel scan
    over them. A fresh checkpoint dir per call keeps reruns and
    different SFs isolated; it lives under the atexit-cleaned scratch
    root since the lazy statestore frame reads it at collect time."""
    from ..sources.formats import staging_dir

    ckpt = staging_dir("sgraft_state_inspect_")
    s = events_stream(spark, sf_dir).select("event_type")
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # NOTE: ckpt must outlive the returned (lazy) DataFrame — the
    # statestore scan reads it at collection time, so no cleanup here;
    # the scratch root it lives under is removed atexit.
    writer = (
        agg.writeStream.format("memory")
        .queryName(f"state_inspect_{os.getpid()}_{id(ckpt)}")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
    )
    run_available_now(spark, writer, "state-inspect drain")
    state = spark.read.format("statestore").load(ckpt)
    # the value struct's field is named after the INTERNAL aggregation
    # buffer (e.g. `count`), not the query alias — resolve it by
    # position so the projection survives buffer-name changes
    value_field = state.schema["value"].dataType.names[0]
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{value_field}").cast("bigint").alias("n"),
    )


CHAINED_BATCH_ORACLE = """
WITH sub AS (
  SELECT date_trunc('hour', ts)
           + to_minutes(CAST(15 * (minute(ts) // 15) AS BIGINT)) AS sub_start,
         event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT date_trunc('hour', sub_start) AS hour_start, event_type,
  CAST(SUM(n) AS BIGINT) AS n_events,
  CAST(COUNT(*) AS BIGINT) AS n_subwindows
FROM sub GROUP BY 1, 2
"""


@query("window_chained_batch", oracle=CHAINED_BATCH_ORACLE, category="streaming")
def window_chained_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the chained-window stream: 15-minute tumbling
    counts re-aggregated to hourly (window-over-window via
    window_time, the same operator pair the stream runs)."""
    ev = load_table(spark, sf_dir, "events")
    sub = ev.groupBy(F.window("ts", "15 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        sub.groupBy(
            F.window(F.window_time("window"), "1 hour"), "event_type"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )


@query("stream_chained_windows", oracle=None, category="streaming")
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE STATEFUL OPERATORS in one streaming query (Spark 3.5+/
    4): a 15-minute tumbling count re-aggregated into hourly rollups
    by a second windowed aggregation over window_time() — two state
    stores chained in one plan, append mode (the only mode chained
    stateful ops support). Level-1 windows emit when the watermark
    passes their end and flow INTO level 2 in the same micro-batch;
    the far-future sentinel rows (real event types, equal timestamps)
    push the final watermark past every real hour so both levels
    fully evict before the drain stops — their own windows are held
    in state forever and never pollute the output. Drained with
    continuous micro-batches (the availableNow final-batch trap,
    CLAUDE.md). Must equal window_chained_batch exactly (asserted in
    tests/test_streaming.py). At 100 TB the two stores shard
    independently on their grouping keys; level 2's input is already
    window-grain, ~1/900th of the event stream."""
    from ..streaming.ops import drain_micro_batches, stage_events_with_sentinel

    d = stage_events_with_sentinel(sf_dir)
    s = events_stream(spark, sf_dir, staged_dir=d)
    lvl1 = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lvl2 = (
        lvl1.groupBy(
            F.window(F.window_time("window"), "1 hour"), "event_type"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_subwindows"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
    )
    return drain_micro_batches(lvl2, mode="append")
