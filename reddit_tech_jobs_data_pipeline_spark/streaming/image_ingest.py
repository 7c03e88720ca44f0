"""Streaming image dedup-at-ingest: perceptual-hash batches deduped
against a persisted hash store — the image modality's
incremental_dedup.py (text got this in round 8; images their hash
family in round 12; round 13 factored the modality-agnostic engine into
streaming/fingerprint_ingest.py, which audio and video now share).

The corpus of already-accepted images is represented ONLY by its hash
store (id + two longs per image — the raster is never re-read, never
re-decoded): each arriving micro-batch is decoded + aHashed once
(multimodal.image_ahash), then deduped by the whole-item fingerprint
rules (fingerprint_ingest.ingest_batch_fingerprints):

  1. batch-vs-store near-dups via the cross band join
     (dedup.hamming_band_pairs_cross, store collapsed to one rep per
     distinct hash) — an arriving image within Hamming ≤ 2 of ANY
     stored survivor is a duplicate and is dropped;
  2. batch-internal near-dups via the linear star-edge band join — the
     larger id of a verified pair drops (the incremental_lsh_ingest
     rule: earlier/smaller id survives);
  3. survivors append their 3-long hash rows to the store.

Replay safety is STRUCTURAL: a replayed batch's survivors are already
in the store, so they self-match at Hamming 0 in step 1 and drop —
nothing is appended twice, no id bookkeeping needed. A missing store is
accepted only as the first batch, after interrupted-compaction-swap
repair (the runner.read_store contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_tech_jobs_data_pipeline_spark.operators import multimodal
from reddit_tech_jobs_data_pipeline_spark.streaming.fingerprint_ingest import (
    ingest_batch_fingerprints,
    run_two_batch_ingest_batchlike,
)
from reddit_tech_jobs_data_pipeline_spark.workdirs import stable_work_key


def ingest_batch_image_hashes(
    batch_blobs: DataFrame,
    store_path: str,
    max_hamming: int = 2,
) -> None:
    """Hash one micro-batch of image blobs (id, content) and append the
    near-dup SURVIVORS' hash rows to the store (see module docstring
    for the dup rules and the structural replay skip)."""
    ingest_batch_fingerprints(
        multimodal.image_ahash(batch_blobs).localCheckpoint(),
        store_path,
        max_hamming=max_hamming,
    )


def run_image_dedup_ingest_batchlike(
    spark: SparkSession,
    sf_dir: str,
    maintenance_every: int = 2,
) -> DataFrame:
    """Run the image dedup-at-ingest to completion over a two-batch
    replay of the planted-family images (batch 1 = family members
    doc_id % 4 < 2, batch 2 = the rest; FileStreamSource consumes by
    mtime, pinned so batch order is deterministic), compacting the flat
    hash store on the cadence, and return the final store's ids — the
    accepted, deduplicated image corpus. Batch 1's families collapse to
    their min-id member (batch-internal rule); batch 2's members then
    collide with the stored survivors and drop unless their variant
    pixel pushed them past Hamming 2. The oracle replays both rounds in
    SQL over the same md5-derived hashes."""
    from reddit_tech_jobs_data_pipeline_spark.plans.catalog_analytics import (
        _phash_blobs,
    )
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return run_two_batch_ingest_batchlike(
        spark,
        _phash_blobs(docs),
        f"imgdedup_{stable_work_key(sf_dir)}",
        lambda batch, store: ingest_batch_image_hashes(batch, store),
        maintenance_every=maintenance_every,
    )
