"""Structured Streaming over the events table.

The reference's ingestion is micro-batch incremental with a sink-derived
watermark (SURVEY.md §1.1) — the batch analog of exactly this module:
``readStream → withWatermark → windowed agg / foreachBatch merge``.

Scale notes: file-source streaming with ``maxFilesPerTrigger`` gives
bounded micro-batches; the windowed aggregation state is keyed by
(window, event_type) — bounded cardinality, safe state store growth;
the watermark bounds state retention for late data. The foreachBatch
merge reuses the engine's last-writer-wins upsert so the gold table gets
the same idempotence ON CONFLICT gave the reference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.streaming import runner


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Derive the streaming schema from the actual parquet footer (one
    batch read of the same file — metadata only, no scan). The driver's
    testdata has shipped events.ts as TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS, NTZ) across generations; hardcoding either breaks
    the other (nanos-as-long div 1000 applied to micros collapses the
    time axis 1000×), so always ask the file."""
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table with ``ts`` normalized to TIMESTAMP (LTZ),
    whatever the parquet encoding — ``withWatermark`` rejects NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and unix_millis rejects it too,
    so every downstream consumer gets LTZ under the pinned UTC session tz.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = _events_stream_schema(spark, sf_dir)
    # file streaming sources require a directory: stream the sf dir with a
    # glob filter selecting only the events file
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanos-as-long: ns -> µs truncation
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):  # UTC relabel, instant-preserving
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_windowed_counts_batchlike(
    spark: SparkSession, sf_dir: str, name: str = "stream_window_counts"
) -> DataFrame:
    """Run the streaming aggregation to completion over the finite input
    (availableNow trigger, complete mode into a memory sink) and return
    the result as a normal DataFrame. Used by the catalog so the driver
    can oracle-check streaming semantics against batch SQL."""
    agg = windowed_counts(read_events_stream(spark, sf_dir))
    return runner.drain_to_memory(agg, name, "complete")


def stream_upsert_to_gold(
    spark: SparkSession,
    sf_dir: str,
    gold_path: str,
    checkpoint: str,
) -> None:
    """foreachBatch merge: each micro-batch last-writer-wins-upserted into
    the gold parquet by event_id — the streaming version of the
    reference's ON CONFLICT loop (dags/dag.py:380-421).

    Each merge is written once. The first batch writes gold itself: there
    is nothing to replace, and a crash inside that write leaves no gold,
    or a gold dir holding only uncommitted task output, which the replay
    reads as empty. Every later merge goes to the staging sibling and is
    promoted over gold by delete + rename (maintenance._swap_dirs). A
    crash before the delete leaves gold whole; one after it leaves a
    committed staging dir, which the next batch's read_store promotes
    before reading. The replayed batch then merges again, idempotently."""
    from reddit_tech_jobs_data_pipeline_spark.operators import maintenance
    from reddit_tech_jobs_data_pipeline_spark.operators.merge import merge_upsert

    events = read_events_stream(spark, sf_dir)
    staging = maintenance._staging_path(gold_path)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        # only a genuine first batch may find no gold (runner.read_store)
        old = runner.read_store(sp, gold_path, batch.schema)
        if old is None:
            merge_upsert(batch.limit(0), batch, ["event_id"], "ts").write.parquet(gold_path)
            return
        merge_upsert(old, batch, ["event_id"], "ts").write.mode("overwrite").parquet(staging)
        maintenance._swap_dirs(sp, staging, gold_path)

    runner.drain(events, _merge, checkpoint, None)


def interval_join_stream(
    events: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner interval join: each click joined to the same
    user's purchases within ``max_delay`` after it.

    Both sides carry an event-time watermark and the join condition
    bounds purchase_ts to [click_ts, click_ts + max_delay], so Spark can
    derive state-expiry for BOTH sides (a click older than watermark +
    max_delay can never match a future purchase and is evicted; ditto
    purchases) — without the time bound the join state grows forever.
    That bounded-state property is the whole point at 100 TB/day stream
    volumes; the join itself hash-partitions both sides on user_id.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user_id AND purchase_ts >= click_ts"
            f" AND purchase_ts <= click_ts + INTERVAL {max_delay}"
        ),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias(
            "delay_sec"
        ),
    )


def run_interval_join_batchlike(
    spark: SparkSession, sf_dir: str, name: str = "stream_interval_join"
) -> DataFrame:
    """Run the stream-stream interval join to completion over the finite
    events input (append mode into a memory sink)."""
    joined = interval_join_stream(read_events_stream(spark, sf_dir))
    return runner.drain_to_memory(joined, name, "append")


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication by event_id with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes it, so state is O(keys per watermark horizon), not
    O(all keys ever) — the streaming analog of the reference's
    ON CONFLICT DO NOTHING idempotence (dags/dag.py:380-421). At-least-
    once upstream delivery (retried scrapes, replayed micro-batches)
    becomes exactly-once downstream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_dedup_stream_batchlike(
    spark: SparkSession, src_dir: str, schema, name: str = "stream_dedup"
) -> DataFrame:
    """Run the streaming dedup to completion over a finite directory of
    parquet files (append mode into a memory sink)."""
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    if isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # withWatermark rejects NTZ outright; UTC relabel is instant-preserving
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return runner.drain_to_memory(dedup_stream(raw), name, "append")


def run_session_windows_batchlike(
    spark: SparkSession, sf_dir: str, name: str = "stream_session_windows"
) -> DataFrame:
    """Native session_window aggregation running AS A STREAM (the same
    expression catalog_sessions.session_window_native runs in batch):
    watermark bounds session state, sessions merge as events arrive,
    complete mode over the finite replay equals the batch answer.
    Timestamps ms-truncated as in the batch twin (encoding-proof)."""
    ev = read_events_stream(spark, sf_dir)
    ms = ev.select(
        "user_id", "value", F.timestamp_millis(F.unix_millis("ts")).alias("tsm")
    )
    agg = (
        ms.withWatermark("tsm", "2 hours")
        .groupBy("user_id", F.session_window("tsm", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_millis("sw.start").alias("session_start_ms"),
            F.unix_millis("sw.end").alias("session_end_ms"),
            "n_events",
            "total_value",
        )
    )
    return runner.drain_to_memory(agg, name, "complete")


def run_stream_static_join_batchlike(
    spark: SparkSession, sf_dir: str, name: str = "stream_static_join"
) -> DataFrame:
    """Stream-static enrichment join: the streaming fact joins a STATIC
    dimension (customer) re-read per micro-batch — no state at all on
    the dim side (unlike stream-stream joins), the canonical shape for
    attaching slowly-changing reference data to a firehose. The dim is
    broadcast when it fits (it is a dimension; it fits), so the stream
    never reshuffles."""
    ev = read_events_stream(spark, sf_dir)
    dim = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return runner.drain_to_memory(joined, name, "complete")
