"""Streaming ingest into the persisted SRP-LSH index.

The end-to-end daily-ingest shape for the round-11 index family: vectors
arrive in micro-batches, each batch is signatured with the FROZEN plane
literals and appended into the index's bucket directories, scheduled
compaction bounds hot-bucket fragment growth, and a probe over the
resulting index returns exactly what a one-shot build over the full
corpus would — signatures are data-independent, so append ≡ rebuild and
the catalog oracle for the inline SRP top-k gates the streamed index too.

Idempotent-append discipline (runner.read_store / runner.drop_seen): a
replayed batch's vectors are already in the index, so the ingest
left-anti joins the batch against the store's neighbor_ids before
appending (a column-pruned id scan, never the vectors), and ONLY the
first-batch missing-path read may fall back to an empty store — any
other store-read failure fails the batch rather than silently
double-appending.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators import maintenance, similarity
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import runner


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
    # batch
    ids_schema = T.StructType(
        [
            T.StructField("neighbor_id", batch.schema[id_col].dataType),
            T.StructField("sig", T.StringType()),
        ]
    )

    existing = runner.read_store(sp, store_path, ids_schema)
    new = runner.drop_seen(batch, existing, id_col, "neighbor_id")
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
    work = runner.scratch_dir("srpstream", sf_dir, n_tags, n_planes)
    store = os.path.join(work, "store")
    emb = load_table(spark, sf_dir, "embeddings")
    stream = runner.tag_stream(spark, emb, F.col("vec_id") % n_tags, n_tags, work)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_batch_srp(batch, store, planes)
        # the store is sig=-partitioned: maintenance keeps that layout,
        # which the probe prunes on
        maintenance.run_store_maintenance(
            batch.sparkSession, store, batch_id, every_n_batches=maintenance_every
        )

    runner.drain(stream, _ingest, os.path.join(work, "ckpt"), "stream_srp_ingest")

    return similarity.srp_index_topk(
        spark, store, emb.filter(F.col("vec_id") < 16), planes, k=k
    ).localCheckpoint()
