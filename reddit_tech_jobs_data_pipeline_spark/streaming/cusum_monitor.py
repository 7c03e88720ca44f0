"""Streaming CUSUM changepoint monitor: per-user control-chart state
carried EXACTLY across micro-batches through a persisted state store.

The production shape for "alarm when a user's metric drifts, without
ever rescanning history": each micro-batch loads the bounded per-user
state table (one row per user: the running CUSUM statistic), extends
every user's scan with only the batch's events, and writes per-event
(cusum, alarm) rows AND the updated state in ONE partitioned write —
the scan UDF emits the final post-reset statistic as a flagged state
row per user, so no second pass (window + anti-join) re-derives it.
The recurrence is associative under splitting — state carried exactly
at the boundary makes chunked processing bit-identical to the one-shot
batch scan — which is what the catalog oracle exploits: the streaming
replay's output must hash-match the SAME recursive-CTE oracle as the
batch ``cusum_changepoint`` query.

Batch determinism for the oracle: the input is split into one parquet
file per time span (all events of a day land in exactly one chunk) and
the chunk files get strictly increasing mtimes, so Spark's file stream
under ``maxFilesPerTrigger=1`` replays them chronologically — the
order the recurrence requires, unlike the drift monitor's
order-independent tag slices.

State rows for users absent from a batch are re-emitted by the scan
(they ride in as seed pseudo-rows and ride out unchanged), so each
batch's state partition is the COMPLETE state — no cross-version merge
on read. State size is |users| rows (bounded), per-batch cost is
O(batch + users) in one action — the monitor runs forever at 100 TB;
parallelism is the user key, the same shard as the batch scan.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import runner

_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("cusum", T.DoubleType(), True),
        T.StructField("alarm", T.BooleanType(), False),
        T.StructField("is_state", T.BooleanType(), False),
    ]
)

_STATE_SCHEMA = "user_id long, s double"


def cusum_scan_with_state(
    events: DataFrame,
    state: DataFrame,
    target: float,
    threshold: float,
) -> DataFrame:
    """Per-user CUSUM scan seeded from a state table (user_id, s),
    emitting BOTH the per-event rows (is_state = false) and one final
    post-reset state row per user (is_state = true, cusum = the carry
    value). Seeds enter the grouped-map UDF as pseudo-rows (event_id
    NULL), so a user with state but no batch events still re-emits
    their state — each batch's state output is complete. Identical
    recurrence to operators/sequential.cusum_scan, one shuffle."""
    ev = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lit(None).cast("double").alias("s"),
    )
    seeds = state.select(
        "user_id",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("double").alias("value"),
        "s",
    )

    # mapInPandas over user-sorted partitions instead of a grouped-map:
    # applyInPandas invokes the UDF once per GROUP, and with tens of
    # thousands of tiny per-user groups the per-group Arrow slicing
    # dominated (measured 6-10 s per micro-batch at sf0.1); one
    # sequential pass over each partition with user-change detection is
    # the identical recurrence at ~20x less overhead. Seed pseudo-rows
    # (ts NULL) sort before a user's events, so the carry initializes
    # before the first event; state is carried across Arrow chunk
    # boundaries inside the iterator (a user may span chunks).
    sorted_df = (
        ev.unionByName(seeds)
        .repartition("user_id")
        .sortWithinPartitions(
            "user_id",
            F.col("ts").asc_nulls_first(),
            F.col("event_id").asc_nulls_first(),
        )
    )

    def _scan_partition(chunks):
        cur_uid = None
        s = 0.0

        def flush_state(buf):
            buf["event_id"].append(None)
            buf["user_id"].append(cur_uid)
            buf["cusum"].append(s)
            buf["alarm"].append(False)
            buf["is_state"].append(True)

        for pdf in chunks:
            buf = {
                "event_id": [],
                "user_id": [],
                "cusum": [],
                "alarm": [],
                "is_state": [],
            }
            for uid, eid, v, seed in zip(
                pdf["user_id"], pdf["event_id"], pdf["value"], pdf["s"]
            ):
                uid = int(uid)
                if uid != cur_uid:
                    if cur_uid is not None:
                        flush_state(buf)
                    cur_uid = uid
                    s = 0.0
                if pd.isna(eid):
                    # seed pseudo-row: initialize the carry
                    s = float(seed)
                    continue
                s = max(0.0, s + v - target)
                fired = s > threshold
                buf["event_id"].append(int(eid))
                buf["user_id"].append(uid)
                buf["cusum"].append(s)
                buf["alarm"].append(fired)
                buf["is_state"].append(False)
                if fired:
                    s = 0.0
            if buf["user_id"]:
                yield pd.DataFrame(
                    {
                        "event_id": pd.array(buf["event_id"], dtype="Int64"),
                        "user_id": buf["user_id"],
                        "cusum": buf["cusum"],
                        "alarm": buf["alarm"],
                        "is_state": buf["is_state"],
                    }
                )
        if cur_uid is not None:
            buf = {
                "event_id": [],
                "user_id": [],
                "cusum": [],
                "alarm": [],
                "is_state": [],
            }
            flush_state(buf)
            yield pd.DataFrame(
                {
                    "event_id": pd.array(buf["event_id"], dtype="Int64"),
                    "user_id": buf["user_id"],
                    "cusum": buf["cusum"],
                    "alarm": buf["alarm"],
                    "is_state": buf["is_state"],
                }
            )

    return sorted_df.mapInPandas(_scan_partition, schema=_SCAN_SCHEMA)


def _write_time_chunks(
    spark: SparkSession, sf_dir: str, src_dir: str, n_chunks: int
) -> None:
    """One flat parquet file per equal time span (whole days only) with
    strictly increasing mtimes, so maxFilesPerTrigger=1 replays
    chronologically."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span_days = max(1, ((hi - lo).days + 1 + n_chunks - 1) // n_chunks)
    chunk = F.floor(F.datediff(F.to_date("ts"), F.lit(lo)) / span_days)
    runner.write_tag_files(ev, chunk, src_dir, n_chunks, prefix="chunk")


def run_stream(
    spark: SparkSession,
    work: str,
    target: float = 55.0,
    threshold: float = 150.0,
    name: str = "stream_cusum",
) -> None:
    """Drive the monitor over whatever chunk files currently sit in
    ``work/src``, resuming from ``work/ckpt`` if it exists. Batch ids
    are monotonic across restarts (Structured Streaming checkpoint
    contract) and each batch overwrites only its OWN ``b{id}`` dir, so
    a replayed batch after a crash is idempotent: ``_latest_state``
    seeds from the newest COMPLETE (``_SUCCESS``-marked) batch dir with
    index STRICTLY BELOW the current batch id. Without the strict bound
    a replay of batch N (crash between the parquet write and the
    checkpoint commit) would pick bN itself — post-batch state — and
    double-apply N's events; without the ``_SUCCESS`` gate it could
    read a partially-written dir."""
    src_dir = os.path.join(work, "src")
    out_root = os.path.join(work, "out")
    os.makedirs(out_root, exist_ok=True)

    def _latest_state(before_batch_id: int) -> DataFrame:
        versions = sorted(
            d
            for d in glob.glob(os.path.join(out_root, "b*"))
            if int(os.path.basename(d)[1:]) < before_batch_id
            and os.path.exists(os.path.join(d, "_SUCCESS"))
        )
        if not versions:
            return spark.createDataFrame([], _STATE_SCHEMA)
        return (
            spark.read.parquet(os.path.join(versions[-1], "is_state=true"))
            .select("user_id", F.col("cusum").alias("s"))
        )

    def _monitor(batch: DataFrame, batch_id: int) -> None:
        state = _latest_state(batch_id)
        scored = cusum_scan_with_state(batch, state, target, threshold)
        # ONE action per batch: events and the complete next-batch state
        # land in sibling partition dirs of the same write
        scored.write.partitionBy("is_state").mode("overwrite").parquet(
            os.path.join(out_root, f"b{batch_id:06d}")
        )

    # resumes read whatever chunks sit in src, so the schema comes from
    # the files rather than from the frame that staged them
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    runner.drain(stream, _monitor, os.path.join(work, "ckpt"), name)


def read_events(spark: SparkSession, work: str) -> DataFrame:
    """All per-event rows emitted so far across every batch dir."""
    event_dirs = [
        os.path.join(d, "is_state=false")
        for d in sorted(glob.glob(os.path.join(work, "out", "b*")))
        if os.path.isdir(os.path.join(d, "is_state=false"))
    ]
    return (
        spark.read.parquet(*event_dirs)
        .select("event_id", "user_id", "cusum", "alarm")
        .localCheckpoint()
    )


def run_cusum_monitor_batchlike(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 5,
    target: float = 55.0,
    threshold: float = 150.0,
    name: str = "stream_cusum",
) -> DataFrame:
    """Run the CUSUM monitor to completion over the chronological chunk
    replay and return every per-event (event_id, user_id, cusum, alarm)
    row — bit-identical to the one-shot batch scan because the state
    store carries the exact boundary statistic (post-reset when the
    user's last chunk event alarmed)."""
    work = runner.scratch_dir("cusum", sf_dir, n_chunks, target, threshold)
    _write_time_chunks(spark, sf_dir, os.path.join(work, "src"), n_chunks)
    run_stream(spark, work, target, threshold, name)
    return read_events(spark, work)
