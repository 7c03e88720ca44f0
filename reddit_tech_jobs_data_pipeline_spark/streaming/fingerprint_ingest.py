"""Modality-agnostic streaming dedup-at-ingest over packed 64-bit
fingerprints — the one engine behind the image, audio, and video
dedup-at-ingest catalog queries: all three fingerprints share the
(id, h_lo, h_hi) shape, so one store + band-join loop
(``run_two_batch_ingest_batchlike``) serves them, given the modality's
fingerprint operator and dedup rule.

The corpus of already-accepted items is represented ONLY by its
fingerprint store (id + two longs per item for whole-item fingerprints;
id + two longs per DISTINCT FRAME for videos — payloads are never
re-read, never re-decoded). Each arriving micro-batch is fingerprinted
once, then deduped by one of two rules:

- whole-item (image aHash, audio energy-delta): an arrival within
  Hamming ≤ ``max_hamming`` of ANY stored survivor drops
  (dedup.hamming_band_pairs_cross, store side kept collapsed to one rep
  per distinct hash); batch-internal near-dups drop the larger id of a
  verified pair (the linear star-edge form — same survivor set).
- per-frame vote (video): an arrival sharing ≥ ``min_shared`` distinct
  frame hashes with ANY single stored video drops
  (dedup.shared_hash_vote_pairs_cross — the CBVR blocking vote);
  batch-internal pairs drop the larger id.

Survivors append their fingerprint rows; the store grows by survivors
only, keeping every later batch's join right-sized. Replay safety is
STRUCTURAL for whole-item fingerprints (a replayed survivor self-matches
at Hamming 0 — the cross join keeps id_a == id_b for exactly this
reason); the vote rule additionally carries an id-presence skip, because
a stored single-distinct-frame video cannot out-vote the ≥2 threshold
against itself. A missing store is accepted only as the first batch,
after interrupted-compaction-swap repair (runner.read_store).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators import maintenance
from reddit_tech_jobs_data_pipeline_spark.operators.dedup import (
    hamming_band_pairs,
    hamming_band_pairs_cross,
    shared_hash_vote_pairs,
    shared_hash_vote_pairs_cross,
)
from reddit_tech_jobs_data_pipeline_spark.streaming import runner

HASH_STORE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("h_lo", T.LongType()),
        T.StructField("h_hi", T.LongType()),
    ]
)


def ingest_batch_fingerprints(
    fps: DataFrame,
    store_path: str,
    max_hamming: int = 2,
) -> None:
    """Dedup one micro-batch of WHOLE-ITEM fingerprints (id, h_lo, h_hi)
    against the store and itself, appending the survivors' rows (see
    module docstring for the rules and the structural replay skip).
    ``fps`` should already be materialized (localCheckpoint) by the
    caller — the decode pass is the expensive part and feeds two joins."""
    store = runner.read_store(fps.sparkSession, store_path, HASH_STORE_SCHEMA)
    dup_ids = None
    if store is not None:
        # expand_right=False: only WHETHER a batch id matched matters —
        # a store flooded with identical hashes stays one rep row
        dup_ids = (
            hamming_band_pairs_cross(
                fps, store, max_hamming=max_hamming, expand_right=False
            )
            .select(F.col("id_a").alias("id"))
            .distinct()
        )
    # exact_pairs=False: the linear star-edge form has the same survivor
    # set (every non-minimal member still appears as id_b) without the
    # B² within-group expansion a degenerate batch would pay
    batch_dups = (
        hamming_band_pairs(fps, max_hamming=max_hamming, exact_pairs=False)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    dup_ids = batch_dups if dup_ids is None else dup_ids.unionByName(batch_dups).distinct()
    survivors = fps.join(dup_ids, "id", "left_anti")
    if not survivors.isEmpty():
        survivors.write.mode("append").parquet(store_path)


def ingest_batch_frame_votes(
    fh: DataFrame,
    store_path: str,
    min_shared: int = 2,
    max_frame_df: int | None = None,
) -> None:
    """Dedup one micro-batch of PER-FRAME hashes (id, h_lo, h_hi — one
    row per distinct frame hash per video) against the frame store and
    the batch itself with the ≥``min_shared``-shared-frames vote,
    appending survivors' frame rows. The id-presence skip (anti-join on
    stored ids) makes replays total even for videos whose distinct-frame
    count is below the vote threshold."""
    store = runner.read_store(fh.sparkSession, store_path, HASH_STORE_SCHEMA)
    frames = runner.drop_seen(
        fh.select("id", "h_lo", "h_hi").distinct(), store, "id", "id"
    )
    dup_ids = None
    if store is not None:
        dup_ids = (
            shared_hash_vote_pairs_cross(
                frames, store, min_shared=min_shared, max_frame_df=max_frame_df
            )
            .select(F.col("id_a").alias("id"))
            .distinct()
        )
    batch_dups = (
        shared_hash_vote_pairs(frames, min_shared=min_shared, max_frame_df=max_frame_df)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    dup_ids = batch_dups if dup_ids is None else dup_ids.unionByName(batch_dups).distinct()
    survivors = frames.join(dup_ids, "id", "left_anti")
    if not survivors.isEmpty():
        survivors.write.mode("append").parquet(store_path)


def run_two_batch_ingest_batchlike(
    spark: SparkSession,
    blobs: DataFrame,
    work_name: str,
    fingerprint: Callable[[DataFrame], DataFrame],
    ingest: Callable[[DataFrame, str], None],
    distinct_ids: bool = False,
) -> DataFrame:
    """The one dedup-at-ingest run behind the image, audio and video
    catalog queries: split ``blobs`` (id, content) into two
    deterministic micro-batches (family members id % 4 < 2, then the
    rest — mtime pinned so FileStreamSource's batch order is fixed), run
    the real Structured Streaming loop (foreachBatch → ``fingerprint``
    the batch once, materialized → ``ingest(fps, store_path)`` →
    store compaction every second batch), and return the final store's ids — the
    accepted, deduplicated corpus. ``distinct_ids`` for per-frame stores
    where one id holds many rows."""
    work = runner.scratch_dir(work_name, work_name)
    store = os.path.join(work, "store")
    stream = runner.tag_stream(
        spark,
        blobs,
        F.when(F.col("id") % 4 < 2, F.lit(0)).otherwise(F.lit(1)),
        2,
        work,
        prefix="batch",
    )

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest(fingerprint(batch).localCheckpoint(), store)
        maintenance.run_store_maintenance(
            batch.sparkSession, store, batch_id, every_n_batches=2
        )

    runner.drain(stream, _ingest, os.path.join(work, "ckpt"), f"stream_{work_name}")

    out = spark.read.schema(HASH_STORE_SCHEMA).parquet(store).select("id")
    if distinct_ids:
        out = out.distinct()
    return out.orderBy("id").localCheckpoint()
