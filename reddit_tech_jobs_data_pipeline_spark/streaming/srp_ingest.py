"""Streaming ingest into the persisted SRP-LSH index.

The end-to-end daily-ingest shape for the round-11 index family: vectors
arrive in micro-batches, each batch is signatured with the FROZEN plane
literals and appended into the index's bucket directories, scheduled
compaction bounds hot-bucket fragment growth, and a probe over the
resulting index returns exactly what a one-shot build over the full
corpus would — signatures are data-independent, so append ≡ rebuild and
the catalog oracle for the inline SRP top-k gates the streamed index too.

Each micro-batch is runner.ingest_step: a replayed batch's vectors are
already in the index, so the batch is left-anti joined against the
store's neighbor_ids before appending (a column-pruned id scan, never
the vectors), and ONLY the first-batch missing-path read may fall back
to an empty store — any other store-read failure fails the batch rather
than silently double-appending.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators import similarity
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import runner


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
    work = runner.scratch_dir("srpstream", sf_dir, n_tags, n_planes)
    store = os.path.join(work, "store")
    emb = load_table(spark, sf_dir, "embeddings")
    stream = runner.tag_stream(spark, emb, F.col("vec_id") % n_tags, n_tags, work)

    # the store is sig=-partitioned: maintenance keeps that layout, which
    # the probe prunes on. append_srp_index is looked up per batch, so a
    # wrapper installed on the module sees every call.
    step = runner.ingest_step(
        store,
        "neighbor_id",
        lambda new: similarity.append_srp_index(new, planes, store),
        every_n_batches=maintenance_every,
    )
    runner.drain(stream, step, os.path.join(work, "ckpt"), "stream_srp_ingest")

    return similarity.srp_index_topk(
        spark, store, emb.filter(F.col("vec_id") < 16), planes, k=k
    ).localCheckpoint()
