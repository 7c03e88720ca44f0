"""How a batchlike stream runs: the one module that stages replay files,
starts and drains Structured Streaming queries, and reads the persisted
stores their micro-batches append to.

Every ``run_*_batchlike`` entry has the same skeleton, and it lives here
rather than in each store module:

- ``scratch_dir`` wipes and recreates the per-input work dir;
- ``tag_stream`` stages the input as n deterministic tag files (one
  micro-batch each under ``maxFilesPerTrigger=1``) and returns the reader;
- ``drain`` / ``drain_to_memory`` run a query to completion under the
  pinned stream shuffle-partition count;
- ``read_store`` (operators/maintenance.py, re-exported here) is the
  missing-path contract every store reader shares;
- ``drop_seen`` is the replay-skip anti-join;
- ``ingest_step`` is the whole micro-batch of a frozen-model index
  ingest (PQ, IVF-PQ, SRP): replay skip, append, scheduled compaction.

Replay safety rests on read_store and drop_seen. foreachBatch is
at-least-once (a failure after the append but before the checkpoint
commit replays the batch), so each store skips rows it already holds,
and ONLY a genuine first batch may see a missing store: any other read
failure (permissions, corrupt footer, transient FS error) fails the
batch rather than silently resetting the store's state.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators import maintenance
from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (  # noqa: F401
    read_store,
)
from reddit_tech_jobs_data_pipeline_spark.workdirs import stable_work_key


def scratch_dir(name: str, *key: object) -> str:
    """Wipe and recreate ``<tmp>/spark_graft_<name>_<stable_work_key(*key)>``:
    the same inputs always map to the same dir, so each run reclaims the
    previous run's store and checkpoint."""
    work = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{name}_{stable_work_key(*key)}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def write_tag_files(
    df: DataFrame,
    tag_expr: Column,
    src_dir: str,
    n_tags: int,
    prefix: str = "tag",
) -> None:
    """Split ``df`` into ``src_dir/<prefix><i>.parquet`` (i = value of
    ``tag_expr``, an int expression in [0, n_tags)) with ONE scan and
    one shuffle: repartition on the tag key so each tag's rows land in
    exactly one task, write partitioned by it (the tag column is a
    partition dir, so the data files carry exactly the original
    columns), then move each tag's single part file into place. Tags
    with no rows produce no file.

    Files are stamped with strictly increasing mtimes in tag order —
    FileStreamSource's ordering key — so micro-batch ORDER is the tag
    order, whatever the listing order of the paths."""
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, "_tmp")
    (
        df.withColumn("__tag", tag_expr.cast("int"))
        .repartition(n_tags, "__tag")
        .write.partitionBy("__tag")
        .mode("overwrite")
        .parquet(tmp)
    )
    now = time.time()
    for i in range(n_tags):
        parts = glob.glob(os.path.join(tmp, f"__tag={i}", "part-*.parquet"))
        if not parts:
            continue
        if len(parts) != 1:
            # ValueError (not assert) so the one-file-per-tag invariant
            # survives python -O and a maxRecordsPerFile split can never
            # silently drop rows from the staged fixture
            raise ValueError(f"tag {i} split across {len(parts)} files")
        dest = os.path.join(src_dir, f"{prefix}{i}.parquet")
        os.replace(parts[0], dest)
        t = now - (n_tags - i) * 50
        os.utime(dest, (t, t))
    shutil.rmtree(tmp)


def tag_stream(
    spark: SparkSession,
    df: DataFrame,
    tag_expr: Column,
    n_tags: int,
    work: str,
    prefix: str = "tag",
) -> DataFrame:
    """Stage ``df`` as tag files under ``work/src`` and return the
    one-file-per-micro-batch reader over them. The tag files hold exactly
    ``df``'s columns, so the reader takes ``df.schema`` — no inference
    job over the staged files."""
    src_dir = os.path.join(work, "src")
    write_tag_files(df, tag_expr, src_dir, n_tags, prefix)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


@contextlib.contextmanager
def _pinned_shuffle_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` (which fixes the stateful-
    operator partition count at stream start) for the duration of a
    drain, then restore.

    State-store overhead is PER PARTITION per micro-batch (delta +
    snapshot files, store maintenance, task scheduling — including the
    trailing no-data batch), so over-partitioning a modest stream is
    expensive: measured locally at sf0.1, the interval join runs 13.8s
    with 32 state partitions vs 2.8s with 8, identical results. At
    production volumes state must SHARD, not shrink — size the count to
    keep per-partition state in memory (it is baked into the checkpoint
    at first start). Override via SPARK_GRAFT_STREAM_PARTITIONS."""
    n = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(
    stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    name: str | None,
) -> None:
    """Run ``on_batch`` over every micro-batch of the available input
    (``availableNow``: drain what exists, then stop — the scheduled-job
    shape), resuming from ``checkpoint``. ``name`` is the streaming
    query name progress listeners key on (None leaves it unnamed)."""
    with _pinned_shuffle_partitions(stream.sparkSession):
        writer = (
            stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )
        if name is not None:
            writer = writer.queryName(name)
        q = writer.start()
        try:
            q.awaitTermination()
        finally:
            q.stop()


def drain_to_memory(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run a streaming query to completion into a memory sink in output
    ``mode`` and return its result as a batch DataFrame."""
    spark = df.sparkSession
    with _pinned_shuffle_partitions(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            # eager localCheckpoint: materializes before the memory sink
            # goes stale at q.stop(), and the blocks are GC-cleaned with
            # the DataFrame (a .cache() would leak in the CacheManager)
            return spark.table(name).localCheckpoint()
        finally:
            q.stop()


def drop_seen(
    batch: DataFrame, store: DataFrame | None, batch_col: str, store_col: str
) -> DataFrame:
    """The replay skip: ``batch`` rows whose ``batch_col`` already rides
    the store's ``store_col`` (a column-pruned anti-join; no collect).
    A missing store (None) has seen nothing."""
    if store is None:
        return batch
    seen = store.select(F.col(store_col).alias(batch_col))
    return batch.join(seen, batch_col, "left_anti")


def ingest_step(
    store_path: str,
    store_id: str,
    append: Callable[[DataFrame], None],
    every_n_batches: int = 0,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body of a frozen-model index ingest (PQ, IVF-PQ,
    SRP): drop the batch rows whose ``vec_id`` the store at
    ``store_path`` already holds in ``store_id`` (a column-pruned read,
    typed like the batch ids, so no inference job), hand the rest to the
    kind's ``append``, then run the store's scheduled compaction
    (maintenance.run_store_maintenance; ``every_n_batches`` ≤ 0 never
    compacts). The model is frozen, so a replayed batch re-derives rows
    the store already holds, and the skip makes it append none."""

    def step(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ids = T.StructType([T.StructField(store_id, batch.schema["vec_id"].dataType)])
        append(drop_seen(batch, read_store(spark, store_path, ids), "vec_id", store_id))
        maintenance.run_store_maintenance(
            spark, store_path, batch_id, every_n_batches=every_n_batches
        )

    return step
