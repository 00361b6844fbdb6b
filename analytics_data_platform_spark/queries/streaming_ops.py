"""Structured-Streaming queries under the DuckDB oracle gate.

Everything else in streaming/ is pytest-verified; this module puts actual
streaming EXECUTIONS under the same external hash-verification as the
batch registry:

- ``streaming_hourly_type_counts``: readStream → event-time tumbling
  window → complete-mode memory sink, one availableNow drain.
- ``streaming_watermark_dedup_counts``: readStream → watermark →
  dropDuplicates → APPEND-mode parquet sink across TWO availableNow
  drains sharing one checkpoint — the second drain replays the whole
  input as duplicates, so the final table proves watermark state
  survival across restarts, duplicate suppression via state, and
  late-row dropping (every replayed row is either late or a known key).
- ``streaming_session_windows``: ``session_window`` sessionization in
  append mode — emitted sessions are exactly those the final watermark
  closed, re-derived by a gaps-and-islands oracle with the same cutoff.
- ``streaming_interval_join_stats``: stream-stream interval join (dual
  watermarks + closed time bound → bounded buffered state); inner-join
  emission has no watermark cutoff, so the oracle is the exact batch
  range join.
- ``streaming_stateful_running_totals``: applyInPandasWithState custom
  state across two checkpointed drains — the 2× replay invariant proves
  cross-restart state resume and exactly-once update accounting.
- ``streaming_cdc_merge_state``: streaming CDC ingestion — two
  incremental foreachBatch ``apply_changes`` merges into persisted
  tombstone-retaining state; the associative winner rule makes the
  incremental result provably equal the oracle's one-shot collapse.

If the streaming engine dropped, duplicated, or mis-windowed anything,
the value hash against the batch oracle catches it. (Stream-stream join
state eviction and outer-join emission stay in tests/test_streaming.py.)
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from analytics_data_platform_spark.queries import QuerySpec, register

# read with an explicit LongType for ts so BOTH micro- and nano-precision
# parquet sources stream without the batch reader's nanosAsLong conf
_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events_ts_unit(path: str) -> str:
    """The parquet logical-type time unit of events.ts ('us' | 'ns' | ...),
    read from the file footer — schema-based detection instead of guessing
    from value magnitude (a pre-1973 nano timestamp would fool a magnitude
    heuristic; the footer cannot be fooled)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).schema_arrow.field("ts").type.unit


def _ts_long_to_timestamp(unit: str):
    """LongType ts (as surfaced by the streaming reader under the explicit
    schema) → TimestampType, using the footer-declared unit."""
    if unit == "ns":
        # the streaming parquet reader has been observed to coerce
        # TIMESTAMP(NANOS)→LongType to MICROS (unlike the batch
        # nanosAsLong path, which yields raw nanos) — keep a magnitude
        # disambiguation ONLY inside this declared-nanos branch, where
        # the post-1973 precondition is documented: epoch micros are
        # ~1e15-1e16 this millennium, nanos ~1e18
        return F.timestamp_micros(
            F.when(F.col("ts") > F.lit(100_000_000_000_000_000), F.expr("ts div 1000"))
            .otherwise(F.col("ts"))
        )
    # declared micros: the long IS micros, no heuristic involved
    return F.timestamp_micros(F.col("ts"))


def streaming_hourly_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event counts computed BY THE STREAMING ENGINE
    (file-stream source → event-time tumbling window → availableNow drain
    → complete-mode memory sink) and hash-compared with a batch oracle.

    Output cardinality is calendar×|types| — bounded regardless of corpus
    size, so the complete-mode state is safe at any SF (a data-linear
    aggregate would use append mode + watermark instead, as
    streaming_watermark_dedup_counts does). At 100 TB the same plan runs
    continuously with ``trigger(processingTime=…)`` against arriving
    files; availableNow here makes it a terminating, driver-gateable
    query. The bounded result is materialized as a literal frame so the
    checkpoint dir and the memory-sink table can be torn down before
    returning (no per-invocation leak in long-lived sessions).
    """
    from analytics_data_platform_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    unit = _events_ts_unit(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        # the file-stream source needs a DIRECTORY; select just the events
        # file out of the sf dir with a glob filter
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", _ts_long_to_timestamp(unit))
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"stream_hourly_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="adps-stream-q-")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name).select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
        )
        rows = out.collect()  # bounded: calendar-hours × |event types|
        schema = out.schema
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


STREAM_HOURLY_SQL = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""

register(
    QuerySpec(
        "streaming_hourly_type_counts",
        streaming_hourly_type_counts,
        STREAM_HOURLY_SQL,
        doc="hourly event counts computed by Structured Streaming (availableNow), batch-oracle hash-verified",
        cites="streaming_hourly_type_counts: watermarked tumbling-window aggregation; SURVEY §2.10 streaming family",
        tags=("streaming",),
    )
)


def streaming_watermark_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup across TWO availableNow drains, final
    table hash-verified against batch SQL — the append-mode/watermark
    path that matters at 100 TB (SURVEY §2.10), where complete-mode state
    would be data-linear and unbounded.

    Drain 1 streams the events file through ``withWatermark(ts, 1 hour)
    → dropDuplicates([event_id, ts])`` into an append-mode parquet sink.
    The file is then copied into the staging dir a second time — every
    row now a byte-identical duplicate — and drain 2 resumes from the
    SAME checkpoint. Each replayed row is either older than the restored
    watermark (dropped as late) or matches retained dedup state (dropped
    as a duplicate); the boundary is the same watermark value, so no row
    can slip through both checks. The final table therefore holds exactly
    one copy of each input row iff watermark persistence, state-backed
    dedup, and late-row dropping all work across a restart.

    The dedup key includes the event-time column so state is evictable by
    watermark (bounded state at scale: retained keys span only the
    watermark delay, not the full history).
    """
    from analytics_data_platform_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    unit = _events_ts_unit(src)
    staging = tempfile.mkdtemp(prefix="adps-stream-stage-")
    ckpt = tempfile.mkdtemp(prefix="adps-stream-ckpt-")
    outdir = tempfile.mkdtemp(prefix="adps-stream-out-")

    def drain() -> None:
        stream = (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .parquet(staging)
            .withColumn("ts", _ts_long_to_timestamp(unit))
        )
        dd = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id", "ts"])
        q = (
            dd.writeStream.format("parquet")
            .option("path", f"{outdir}/table")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        shutil.copy(src, f"{staging}/part-000.parquet")
        drain()
        # replay: the identical file again — all duplicates, zero new rows
        shutil.copy(src, f"{staging}/part-001.parquet")
        drain()
        out = (
            spark.read.parquet(f"{outdir}/table")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("event_id").alias("n_ids"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            )
            .orderBy("event_type")
        )
        rows = out.collect()  # bounded: |event types|
        schema = out.schema
    finally:
        for d in (staging, ckpt, outdir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# the oracle replays the dedup rule in batch: one copy per (event_id, ts) —
# with the replayed file every key appears exactly twice with identical
# attributes, so DISTINCT over the carried columns is the same collapse.
# (If the RAW corpus ever carried two different rows under one
# (event_id, ts) key, Spark would keep an arbitrary one while DISTINCT
# keeps both — n_events vs n_ids would separate and the hash would fail
# loudly, which is the desired behavior for a broken key assumption.)
STREAM_DEDUP_SQL = """
WITH dd AS (
  SELECT DISTINCT event_id, ts, event_type, CAST(value AS DECIMAL(18,2)) AS value_d
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
       CAST(SUM(value_d) AS DOUBLE) AS total_value
FROM dd
GROUP BY event_type
ORDER BY event_type
"""

register(
    QuerySpec(
        "streaming_watermark_dedup_counts",
        streaming_watermark_dedup_counts,
        STREAM_DEDUP_SQL,
        doc="append-mode watermarked streaming dedup across two checkpointed drains, batch-oracle hash-verified",
        cites="streaming_watermark_dedup_counts: dropDuplicatesWithinWatermark; SURVEY §2.10 out-of-order/replay family",
        tags=("streaming",),
    )
)


_SESSION_GAP_MIN = 30
_SESSION_DELAY_MIN = 120


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSIONIZATION under the oracle gate: a real
    ``session_window`` aggregation (Spark merges overlapping per-event
    gap windows into dynamic sessions in state) in APPEND mode with a
    watermark, drained with availableNow into a parquet sink.

    Append mode only emits sessions the watermark has CLOSED (final
    watermark = max(ts) − delay; a session is closed once its end —
    last event + gap — falls at or below it), so the emitted set is a
    deterministic function of the data: the oracle re-derives the same
    sessions with gaps-and-islands SQL and applies the same closure
    cutoff. Trailing sessions near max(ts) correctly stay in state —
    at 100 TB this plan runs continuously and they emit when later
    files advance the watermark; availableNow only terminates it.

    The profile returned (sessions bucketed by event count, per
    event-count bucket: session count, event total, exact DECIMAL value
    sum) is |buckets|-bounded, so the collect is a few rows.
    """
    from analytics_data_platform_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    unit = _events_ts_unit(src)
    ckpt = tempfile.mkdtemp(prefix="adps-stream-sess-ckpt-")
    outdir = tempfile.mkdtemp(prefix="adps-stream-sess-out-")
    try:
        stream = (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", _ts_long_to_timestamp(unit))
        )
        sessions = (
            stream.withWatermark("ts", f"{_SESSION_DELAY_MIN} minutes")
            .groupBy(
                F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("s"),
                "user_id",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("value_d"),
            )
        )
        q = (
            sessions.writeStream.format("parquet")
            .option("path", f"{outdir}/table")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{outdir}/table")
            .groupBy(
                F.when(F.col("n_events") >= 4, F.lit("4+"))
                .otherwise(F.col("n_events").cast("string"))
                .alias("session_size")
            )
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
                F.sum("value_d").cast("double").alias("total_value"),
            )
            .orderBy("session_size")
        )
        rows = out.collect()  # bounded: |session-size buckets|
        schema = out.schema
    finally:
        for d in (ckpt, outdir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# gaps-and-islands replay of session_window semantics: a new session
# starts when the gap to the previous event (per user) is >= the session
# gap (Spark merges [ts, ts+gap) windows that OVERLAP; two events exactly
# gap apart do NOT merge). Closure cutoff mirrors append-mode emission:
# session end (last event + gap) at or below the final watermark
# (max ts − delay).
STREAM_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS value_d,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {_SESSION_GAP_MIN * 60 * 1000000}
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value_d,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM e
),
sess AS (
  SELECT user_id, session_id,
         COUNT(*) AS n_events,
         SUM(value_d) AS value_d,
         MAX(ts) AS last_ts
  FROM s GROUP BY user_id, session_id
),
closed AS (
  SELECT * FROM sess
  WHERE epoch_us(last_ts) + {_SESSION_GAP_MIN * 60 * 1000000}
        <= (SELECT MAX(epoch_us(ts)) FROM events) - {_SESSION_DELAY_MIN * 60 * 1000000}
)
SELECT CASE WHEN n_events >= 4 THEN '4+' ELSE CAST(n_events AS VARCHAR) END AS session_size,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(value_d) AS DOUBLE) AS total_value
FROM closed
GROUP BY 1
ORDER BY session_size
"""

register(
    QuerySpec(
        "streaming_session_windows",
        streaming_session_windows,
        STREAM_SESSION_SQL,
        doc="streaming session_window aggregation (append mode + watermark closure), batch-oracle hash-verified",
        cites="streaming_session_windows: session_window gap semantics; batch twin queries/relational.py sessionize_events; SURVEY §2.10 streaming family",
        tags=("streaming",),
    )
)


_SSJ_HORIZON_MIN = 30
_SSJ_DELAY_MIN = 10


def streaming_interval_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL JOIN under the oracle gate: purchases pick
    up the same user's clicks from the preceding 30 minutes
    (streaming/streams.py::join_purchases_with_clicks — watermarks on
    BOTH sides + the closed time bound let Spark expire buffered state;
    without the bound a stream-stream join buffers forever).

    Inner stream-stream joins emit every match once both sides have
    arrived, with no watermark emission cutoff (the watermark only
    bounds state retention), so one availableNow drain over the static
    file emits exactly the batch interval-join result — the oracle
    recomputes it with epoch-microsecond range SQL. Per purchase-day
    pair counts/distinct-side counts/exact DECIMAL value sums are the
    |calendar-days|-bounded profile returned.
    """
    from analytics_data_platform_spark.session import ensure_session_defaults
    from analytics_data_platform_spark.streaming.streams import (
        join_purchases_with_clicks,
    )

    ensure_session_defaults(spark)
    unit = _events_ts_unit(f"{sf_dir}/events.parquet")
    ckpt = tempfile.mkdtemp(prefix="adps-stream-ssj-ckpt-")
    outdir = tempfile.mkdtemp(prefix="adps-stream-ssj-out-")

    def branch(event_type: str) -> DataFrame:
        return (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", _ts_long_to_timestamp(unit))
            .where(F.col("event_type") == event_type)
        )

    try:
        joined = join_purchases_with_clicks(
            branch("click"),
            branch("purchase"),
            horizon=f"{_SSJ_HORIZON_MIN} minutes",
            delay=f"{_SSJ_DELAY_MIN} minutes",
            how="inner",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{outdir}/table")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(f"{outdir}/table")
            .groupBy(F.date_trunc("day", "purchase_ts").alias("purchase_day"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.count_distinct("purchase_id").alias("n_purchases"),
                F.count_distinct("click_id").alias("n_clicks"),
                F.sum(F.col("purchase_value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .orderBy("purchase_day")
        )
        rows = out.collect()  # bounded: calendar days
        schema = out.schema
    finally:
        for d in (ckpt, outdir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


STREAM_SSJ_SQL = f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
         CAST(value AS DECIMAL(18,2)) AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT date_trunc('day', purchase_ts) AS purchase_day,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT click_id) AS BIGINT) AS n_clicks,
       CAST(SUM(purchase_value) AS DOUBLE) AS total_value
FROM p JOIN c ON p.user_id = c.user_id
 AND epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
 AND epoch_us(c.click_ts) >= epoch_us(p.purchase_ts) - {_SSJ_HORIZON_MIN * 60 * 1000000}
GROUP BY 1
ORDER BY purchase_day
"""

register(
    QuerySpec(
        "streaming_interval_join_stats",
        streaming_interval_join_stats,
        STREAM_SSJ_SQL,
        doc="stream-stream interval join (dual watermarks, bounded state), batch-oracle hash-verified",
        cites="streaming/streams.py join_purchases_with_clicks; batch twin operators/asof.py; SURVEY §2.10",
        tags=("streaming", "join", "asof"),
    )
)


_STATEFUL_DELAY_MIN = 10


def streaming_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR under the oracle gate:
    ``applyInPandasWithState`` per-user running totals (explicit state
    tuple per key, update-mode emission) across TWO availableNow drains
    sharing one checkpoint — the semantics class the built-in windowed /
    session aggregations cannot express (SURVEY §2.10 escape hatch),
    with integer-cent accumulation so the state arithmetic is exact and
    hash-stable.

    Drain 2 replays the whole file. Unlike dropDuplicates / windowed
    aggregations, ARBITRARY stateful operators receive late rows too —
    Spark documents that late filtering inside applyInPandasWithState is
    the user function's responsibility (the watermark drives timeouts
    and replay bounds, not an input filter) — and a raw counter does not
    dedup, so every per-user total accumulates EXACTLY TWICE its
    single-file value. That doubling is the assertion: if state failed
    to resume across the restart, drain 2 would re-emit the single-file
    totals (1×); if an update were lost or applied twice, the 2×
    invariant breaks. The oracle computes the doubled profile in SQL.

    Scale shape: state is one 2-field tuple per user key, partitioned by
    the grouping key across executors and checkpointed; Arrow-batched
    Python per group. The final collect is the 1-row profile.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from analytics_data_platform_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    unit = _events_ts_unit(src)
    staging = tempfile.mkdtemp(prefix="adps-stream-st-stage-")
    ckpt = tempfile.mkdtemp(prefix="adps-stream-st-ckpt-")
    outdir = tempfile.mkdtemp(prefix="adps-stream-st-out-")

    def update(key, pdfs, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer cents: the corpus stores 2-decimal values, so
            # v*100 rounds to the same integer on every engine
            cents += int((pdf["value"].fillna(0.0) * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
        )

    def drain() -> None:
        stream = (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .parquet(staging)
            .withColumn("ts", _ts_long_to_timestamp(unit))
        )
        totals = (
            stream.withWatermark("ts", f"{_STATEFUL_DELAY_MIN} minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long, value_cents long",
                stateStructType="n long, cents long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(f"{outdir}/table")

        q = (
            totals.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        shutil.copy(src, f"{staging}/part-000.parquet")
        drain()
        shutil.copy(src, f"{staging}/part-001.parquet")
        drain()
        # latest emission per user = the row with the largest n_events
        # (strictly monotone per accumulating user; single row otherwise)
        final = (
            spark.read.parquet(f"{outdir}/table")
            .groupBy("user_id")
            .agg(F.max(F.struct("n_events", "value_cents")).alias("s"))
            .select("user_id", "s.n_events", "s.value_cents")
        )
        out = final.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("total_events"),
            (F.sum("value_cents") / 100.0).alias("total_value"),
            F.max("n_events").alias("max_events_per_user"),
        )
        rows = out.collect()  # 1-row profile
        schema = out.schema
    finally:
        for d in (staging, ckpt, outdir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# the replay accumulates every row a second time (arbitrary stateful ops
# receive late rows — filtering is the user function's job), so the final
# state is exactly 2× the single-file totals; the doubling is what proves
# cross-restart state resume (a reset would read 1×)
STREAM_STATEFUL_SQL = """
WITH cents AS (
  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events
),
per_user AS (
  SELECT user_id,
         2 * COUNT(*) AS n_events,
         2 * SUM(c) AS value_cents
  FROM cents GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(value_cents) AS DOUBLE) / 100.0 AS total_value,
       CAST(MAX(n_events) AS BIGINT) AS max_events_per_user
FROM per_user
"""

register(
    QuerySpec(
        "streaming_stateful_running_totals",
        streaming_stateful_running_totals,
        STREAM_STATEFUL_SQL,
        doc="applyInPandasWithState running totals across two checkpointed drains (2x replay proves state resume), oracle-verified",
        cites="streaming_stateful_running_totals: applyInPandasWithState; SURVEY §2.10 custom-stateful escape hatch",
        tags=("streaming", "stateful"),
    )
)


def streaming_cdc_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC INGESTION end to end: a Debezium-style changelog
    arrives in TWO incremental micro-batches (the events table split by
    event_id parity into two staged files, drained one per availableNow
    tick from a shared checkpoint), and each ``foreachBatch`` merges the
    batch into a persisted state table with
    ``operators/cdc.py::apply_changes(keep_tombstones=True)`` — the
    collapse → upsert-sink loop (S13) a warehouse runs continuously.

    Tombstones are RETAINED in the persisted state (a delete dropped
    early would let a late, lower-sequence upsert from a later batch
    resurrect its key) and filtered only at read time; because the
    winner rule is an associative max(struct(seq…)), incremental
    per-batch merging provably equals the one-shot collapse of the full
    changelog — which is exactly what the oracle computes (the same SQL
    as ``cdc_apply_changes_state``). A lost batch, a dropped tombstone,
    or a merge that kept the wrong winner hash-diverges.

    Scale shape: each merge round is one key shuffle over
    state ∪ batch with map-side max partials; state stays one row per
    ever-seen key. (The copy-on-write versioned-path state table here is
    the catalog-free stand-in for the MERGE INTO sink.)
    """
    import pyarrow.parquet as pq
    import pyarrow.compute as pc

    from analytics_data_platform_spark.operators.cdc import apply_changes
    from analytics_data_platform_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    src = f"{sf_dir}/events.parquet"
    unit = _events_ts_unit(src)
    staging = tempfile.mkdtemp(prefix="adps-stream-cdc-stage-")
    ckpt = tempfile.mkdtemp(prefix="adps-stream-cdc-ckpt-")
    outdir = tempfile.mkdtemp(prefix="adps-stream-cdc-out-")

    def state_versions() -> list[str]:
        import os

        return sorted(
            f"{outdir}/{d}" for d in os.listdir(outdir) if d.startswith("state_v")
        )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("value_d"),
        )
        versions = state_versions()
        merged_src = (
            spark.read.parquet(versions[-1]).unionByName(batch) if versions else batch
        )
        state = apply_changes(
            merged_src,
            key_cols=["user_id"],
            seq_cols=["ts", "event_id"],
            op_col="op",
            keep_tombstones=True,
        )
        state.write.mode("overwrite").parquet(f"{outdir}/state_v{batch_id:05d}")

    def drain() -> None:
        stream = (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .parquet(staging)
            .withColumn("ts", _ts_long_to_timestamp(unit))
        )
        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        # split the changelog into two incremental arrivals by key parity
        t = pq.read_table(src)
        even = pc.equal(pc.bit_wise_and(t.column("event_id"), 1), 0)
        pq.write_table(t.filter(even), f"{staging}/part-000.parquet")
        drain()
        pq.write_table(t.filter(pc.invert(even)), f"{staging}/part-001.parquet")
        drain()
        final = spark.read.parquet(state_versions()[-1]).where(
            ~F.col("op").eqNullSafe("delete")
        )
        out = (
            final.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("value_d").cast("double").alias("total_value"),
            )
            .orderBy("event_type")
        )
        rows = out.collect()  # bounded: |event types|
        schema = out.schema
    finally:
        for d in (staging, ckpt, outdir):
            shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _cdc_merge_oracle() -> str:
    # incremental merge == one-shot collapse (associative max winner), so
    # the oracle IS the cdc_apply_changes_state SQL
    from analytics_data_platform_spark.queries.warehouse_ops import CDC_APPLY_SQL

    return CDC_APPLY_SQL


register(
    QuerySpec(
        "streaming_cdc_merge_state",
        streaming_cdc_merge_state,
        _cdc_merge_oracle(),
        doc="streaming CDC ingestion: two foreachBatch apply_changes merges into persisted state, oracle = one-shot collapse",
        cites="operators/cdc.py apply_changes; S13 upsert sink; SURVEY §2.10 incremental-batch ticks",
        tags=("streaming", "cdc", "warehouse"),
    )
)
