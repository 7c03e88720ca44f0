"""Streaming incremental near-dup ingest: the daily-ingest dedup chain
(operators/dedup.incremental_lsh_ingest) composed into a Structured
Streaming ``foreachBatch`` job.

Each micro-batch of documents is MinHash-signed, deduped against the
PERSISTED signature store (the static side — k longs per corpus doc,
never the corpus text), and the batch's survivors are appended to the
store. This is the streaming form of the reference's cross-run keyed
idempotence (dags/dag.py:389-403) generalized from exact keys to
near-dup text, and the continuous version of the batch
``incremental_corpus_daily_e2e`` chain.

Exactly-once across restarts has the same two layers as
streaming/events.stream_upsert_to_gold:

  1. source offsets live in the checkpoint — a restart with the same
     checkpoint never re-reads consumed files;
  2. the store append is idempotent anyway — survivors are anti-joined
     against the store's existing ids before the append, so even a
     REPLAYED batch (failure after append, before checkpoint commit —
     foreachBatch is at-least-once) adds nothing twice.

At 100 TB: the per-batch work is the incremental join (batch band keys
against the store's band index — no store-side reshuffle, see
tests/test_incremental_dedup.py's plan assertion) plus an append of
survivor signatures; store growth is survivors-only, keeping every later
batch's join right-sized. The store re-read per micro-batch is a
parquet scan of (id, mh_0..mh_k) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
    incremental_lsh_ingest,
    minhash_signatures,
)
from reddit_tech_jobs_data_pipeline_spark.streaming import runner


def _sig_schema(num_hashes: int) -> T.StructType:
    return T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(f"mh_{i}", T.LongType()) for i in range(num_hashes)]
    )


def stream_dedup_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "id",
    num_hashes: int = 16,
    bands: int = 4,
    min_agree: int = 12,
    n: int = 3,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the available data through the incremental dedup chain
    (``availableNow`` trigger: drains what exists, then stops — the
    scheduled-job shape; a production deployment would drop the trigger
    for continuous ingest). ``max_files_per_trigger`` splits the drain
    into multiple micro-batches (tests use it to exercise store growth
    across batches within one run)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        # sign once and materialize once: the dedup plan reads the
        # signature five times and the survivor append once more —
        # unmaterialized, the append re-scanned and re-shingled the batch
        sig = minhash_signatures(batch, text_col, id_col, num_hashes, n).localCheckpoint()

        # only a genuine first batch may see no store (runner.read_store)
        store = runner.read_store(sp, store_path, _sig_schema(num_hashes))
        out = incremental_lsh_ingest(
            sig.limit(0) if store is None else store, sig, num_hashes, bands, min_agree
        )
        survivors = sig.join(
            out.filter("is_new").select("id"), "id", "left_semi"
        )
        # idempotent-append layer: a replayed batch's survivors are
        # already in the store — never append an id twice
        runner.drop_seen(survivors, store, "id", "id").write.mode("append").parquet(
            store_path
        )

    runner.drain(docs, _ingest, checkpoint, None)
