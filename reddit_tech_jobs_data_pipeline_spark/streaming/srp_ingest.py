"""Streaming ingest into the persisted SRP-LSH index.

The end-to-end daily-ingest shape for the round-11 index family: vectors
arrive in micro-batches, each batch is signatured with the FROZEN plane
literals and appended into the index's bucket directories, scheduled
compaction bounds hot-bucket fragment growth, and a probe over the
resulting index returns exactly what a one-shot build over the full
corpus would — signatures are data-independent, so append ≡ rebuild and
the catalog oracle for the inline SRP top-k gates the streamed index too.

Idempotent-append discipline (the incremental_dedup contract): a
replayed batch's vectors are already in the index, so the ingest
left-anti joins the batch against the store's neighbor_ids before
appending (a column-pruned id scan, never the vectors), and ONLY the
first-batch missing-path read may fall back to an empty store — any
other store-read failure fails the batch rather than silently
double-appending.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators import maintenance, similarity
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming.events import (
    _stream_shuffle_partitions,
)
from reddit_tech_jobs_data_pipeline_spark.streaming.incremental_dedup import (
    _recover_or_first_batch,
)
from reddit_tech_jobs_data_pipeline_spark.workdirs import stable_work_key
from reddit_tech_jobs_data_pipeline_spark.streaming.tagfiles import write_tag_files


def ingest_batch_srp(
    batch: DataFrame,
    store_path: str,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append one micro-batch into a write_srp_index layout,
    idempotently: vectors whose id already rides the store are dropped
    (replay skip — a column-pruned anti-join on neighbor_id)."""
    sp = batch.sparkSession
    # read with a schema: inference would run one footer-reading job per
    # batch; a missing path still raises PATH_NOT_FOUND at the read
    ids_schema = T.StructType(
        [
            T.StructField("neighbor_id", batch.schema[id_col].dataType),
            T.StructField("sig", T.StringType()),
        ]
    )

    def _read_ids() -> DataFrame:
        return sp.read.schema(ids_schema).parquet(store_path).select("neighbor_id")

    try:
        existing = _read_ids()
    except AnalysisException as e:
        # repair an interrupted compaction swap (and retry) before
        # treating a missing path as the first batch
        existing = _read_ids() if _recover_or_first_batch(sp, store_path, e) else None
    new = batch
    if existing is not None:
        new = batch.join(
            existing, batch[id_col] == existing["neighbor_id"], "left_anti"
        )
    similarity.append_srp_index(new, planes, store_path, id_col, vec_col)


def run_srp_ingest_batchlike(
    spark: SparkSession,
    sf_dir: str,
    n_tags: int = 4,
    n_planes: int = 6,
    k: int = 5,
    maintenance_every: int = 3,
) -> DataFrame:
    """Run the SRP-index ingest to completion over a tag-sliced
    embeddings replay (vec_id % n_tags, one file per tag,
    maxFilesPerTrigger=1), compacting the bucket layout every
    ``maintenance_every`` batches (partition-preserving — the sig= dirs
    the probe prunes on survive), then probe the streamed index with the
    vec_id < 16 query set. Signatures are frozen-model, so the result is
    bit-identical to a one-shot build: the catalog gates it with the
    SAME oracle as srp_lsh_ann_topk."""
    planes = similarity.srp_planes(n_planes, 64)
    work = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_srpstream_{stable_work_key(sf_dir, n_tags, n_planes)}",
    )
    src_dir = os.path.join(work, "src")
    store = os.path.join(work, "store")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(src_dir, exist_ok=True)
    emb = load_table(spark, sf_dir, "embeddings")
    write_tag_files(emb, F.col("vec_id") % n_tags, src_dir, n_tags)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_batch_srp(batch, store, planes)
        # partition-preserving compaction on the cadence: the SRP store
        # is sig=-partitioned, so the flat compact_append_store path
        # would destroy pruning — go through compact(partition_col=)
        if maintenance_every > 0 and (batch_id + 1) % maintenance_every == 0:
            if os.path.exists(store):
                maintenance.compact(
                    batch.sparkSession, store, partition_col="sig"
                )

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with _stream_shuffle_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .queryName("stream_srp_ingest")
            .start()
        )
        q.awaitTermination()
        q.stop()

    return similarity.srp_index_topk(
        spark, store, emb.filter(F.col("vec_id") < 16), planes, k=k
    ).localCheckpoint()
