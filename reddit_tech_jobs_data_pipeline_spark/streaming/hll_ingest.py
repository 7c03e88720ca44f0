"""Streaming HLL ingest: per-micro-batch HyperLogLog sketches appended
to a persisted store, idempotently, unioned only at read time.

The distinct-count analogue of streaming/cms_ingest.py, with the same
discipline: Datasketches HLL is MERGEABLE (union of sketches = sketch
of the union — order- and duplication-of-element insensitive), so the
store is APPEND-ONLY. Each micro-batch writes one (batch_key, group,
sketch-binary) row per group it touched; a replayed batch is skipped by
its content-derived key; the corpus cardinality is hll_union_agg over
whatever is in the store. No read-modify-write, so concurrent writers
and replays cannot corrupt the store — and unlike CMS counts, even a
NON-idempotent duplicate insert of the same elements would not shift
the estimate (distinct-ness absorbs it); the key check exists to keep
the store bounded, one row per (batch, group).

100 TB: the store holds a few KB per (batch, group) regardless of how
many events fed each sketch; re-estimating after N ingest days costs
N×|groups| sketch rows, never a raw re-scan. The estimate itself is
implementation-defined, so the catalog contract is exact + bound flag
(approx_distinct_accuracy's precedent), with the merged-batch count
value-checked exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators import maintenance
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import runner

_STORE_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("sk", T.BinaryType()),
    ]
)


def ingest_batch_hll(
    batch: DataFrame,
    store_path: str,
    batch_key_expr,
    key_col: str = "user_id",
    group_col: str = "event_type",
) -> None:
    """Sketch one batch's keys per group and append one row per
    (batch_key, group) — skipping keys already present (replay safety;
    same missing-path-only first-batch fallback contract as the other
    stores: any non-PATH_NOT_FOUND read failure fails the batch)."""
    store = runner.read_store(batch.sparkSession, store_path, _STORE_SCHEMA)
    keyed = batch.select(
        batch_key_expr.alias("batch_key"),
        F.col(group_col).alias("grp"),
        F.col(key_col).cast("string").alias("__k"),
    )
    new = runner.drop_seen(keyed, store, "batch_key", "batch_key")
    sk = new.groupBy("batch_key", "grp").agg(F.hll_sketch_agg("__k").alias("sk"))
    if not sk.isEmpty():
        sk.write.mode("append").parquet(store_path)


def merged_hll(spark: SparkSession, store_path: str) -> DataFrame:
    """(grp, est, n_batches_merged): union every appended sketch per
    group — the store is the only input, raw data is never re-read."""
    return (
        spark.read.schema(_STORE_SCHEMA)
        .parquet(store_path)
        .groupBy("grp")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
            F.count(F.lit(1)).alias("n_batches_merged"),
        )
    )


def run_hll_ingest_batchlike(
    spark: SparkSession, sf_dir: str, n_tags: int = 4, maintenance_every: int = 3
) -> DataFrame:
    """Run the HLL ingest to completion over a tag-sliced events replay
    (one parquet file per event_id % n_tags, maxFilesPerTrigger=1), then
    return per event_type: exact distinct users, how many batch sketches
    merged, and the 5% bound flag. Batch keys are the deterministic tag
    values, so n_batches_merged is exactly the number of tags in which
    the type occurs — which the oracle recomputes in SQL."""
    work = runner.scratch_dir("hll", sf_dir, n_tags)
    store = os.path.join(work, "store")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    stream = runner.tag_stream(spark, ev, F.col("event_id") % n_tags, n_tags, work)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_batch_hll(batch, store, batch_key_expr=F.col("event_id") % n_tags)
        # scheduled small-file compaction (row-preserving; see
        # maintenance.run_store_maintenance)
        maintenance.run_store_maintenance(
            batch.sparkSession, store, batch_id, every_n_batches=maintenance_every
        )

    runner.drain(stream, _ingest, os.path.join(work, "ckpt"), "stream_hll_ingest")

    est = merged_hll(spark, store)
    exact = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    j = est.join(exact, "grp")
    return j.select(
        F.col("grp").alias("event_type"),
        "exact_users",
        "n_batches_merged",
        (F.abs(F.col("est") - F.col("exact_users")) <= 0.05 * F.col("exact_users")).alias(
            "hll_within_5pct"
        ),
    ).localCheckpoint()
