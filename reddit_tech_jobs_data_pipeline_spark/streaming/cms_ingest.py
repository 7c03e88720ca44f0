"""Streaming Count-Min ingest: per-micro-batch sketches appended to a
persisted store, idempotently, merged only at read time.

The sketch's cell-wise additivity (operators/sketches.py) makes the
store APPEND-ONLY: each micro-batch writes its own d×w cells tagged
with a content-derived batch key; the corpus sketch is the groupBy-sum
of whatever is in the store. No read-modify-write of a mutable store,
so concurrent writers and replays cannot corrupt anything — a replayed
batch is skipped by its key (runner.drop_seen), and only a first batch
may find no store (runner.read_store): any OTHER store-read failure
fails the batch rather than silently double-counting.

Batch determinism for the oracle: documents replay tag-sliced (one
parquet file per doc_id % n_tags, maxFilesPerTrigger=1), so batch keys
are the deterministic tag values and the final merged sketch equals the
single-pass batch sketch by merge associativity — which is exactly what
the catalog oracle recomputes in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.functions.extract import tokens
from reddit_tech_jobs_data_pipeline_spark.operators import maintenance, sketches
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import runner

_STORE_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.LongType()),
        T.StructField("row_i", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def ingest_batch_sketch(
    batch: DataFrame,
    store_path: str,
    batch_key_expr,
    text_col: str = "text",
    width: int = 1024,
    depth: int = 4,
) -> None:
    """Sketch one batch's tokens and append the cells under the batch's
    key(s) — skipping any key already present in the store (replay
    safety). The store is never rewritten, only appended."""
    store = runner.read_store(batch.sparkSession, store_path, _STORE_SCHEMA)
    keyed = batch.select(batch_key_expr.alias("batch_key"), F.col(text_col))
    new = runner.drop_seen(keyed, store, "batch_key", "batch_key")
    tok = new.select(
        "batch_key", F.explode(tokens(text_col)).alias("token")
    )
    cells = (
        tok.groupBy("batch_key", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "batch_key",
            F.posexplode(
                sketches._bucket_array(F.col("token"), width, depth)
            ).alias("row_i", "bucket"),
            "n",
        )
        .groupBy("batch_key", "row_i", "bucket")
        .agg(F.sum("n").alias("cnt"))
    )
    if not cells.isEmpty():
        cells.write.mode("append").parquet(store_path)


def merged_sketch(spark: SparkSession, store_path: str) -> DataFrame:
    """The corpus sketch: groupBy-sum of every appended batch's cells."""
    return (
        spark.read.schema(_STORE_SCHEMA)
        .parquet(store_path)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def run_cms_ingest_batchlike(
    spark: SparkSession,
    sf_dir: str,
    n_tags: int = 4,
    width: int = 1024,
    depth: int = 4,
    top_k: int = 20,
    maintenance_every: int = 3,
) -> DataFrame:
    """Run the sketch ingest to completion over the tag-sliced documents
    replay, then return the top-k tokens by estimate from the MERGED
    store (token, est_n, rank) — by cell additivity this equals the
    single-pass batch sketch, which is what the oracle asserts."""
    work = runner.scratch_dir("cms", sf_dir, n_tags, width)
    store = os.path.join(work, "store")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = runner.tag_stream(spark, docs, F.col("doc_id") % n_tags, n_tags, work)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_batch_sketch(
            batch,
            store,
            batch_key_expr=F.col("doc_id") % n_tags,
            width=width,
            depth=depth,
        )
        # scheduled small-file compaction: fragment count stays
        # O(cadence), not O(batches ingested); row-preserving, so the
        # merged read and batch_key replay-skip are invariant
        maintenance.run_store_maintenance(
            batch.sparkSession, store, batch_id, every_n_batches=maintenance_every
        )

    runner.drain(stream, _ingest, os.path.join(work, "ckpt"), "stream_cms_ingest")

    sk = merged_sketch(spark, store)
    vocab = docs.select(F.explode(tokens("text")).alias("token")).distinct()
    est = sketches.cms_estimate(vocab, sk, width=width, depth=depth)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("est_n").desc(), F.col("token").asc())
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("token", "est_n", F.col("rank").cast("long").alias("rank"))
        .localCheckpoint()
    )
