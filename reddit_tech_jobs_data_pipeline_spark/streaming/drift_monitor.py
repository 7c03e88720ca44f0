"""Streaming distribution-drift monitor: per-micro-batch PSI of the
incoming slice against a persisted baseline histogram.

The production shape for "alert when today's ingest stops looking like
the corpus": the baseline is a K-row binned model table built ONCE (one
corpus pass, then persisted); each micro-batch contributes exactly one
aggregation of its own rows plus K-row arithmetic — per-batch cost is
O(batch + bins), independent of corpus size, which is what lets the
monitor run forever. Extends the reference's per-row validity gating
(dags/dag.py:132-137) to the distribution level.

Batch determinism for the oracle: the input is split into one parquet
file per ``user_id % n_tags`` slice and streamed with
``maxFilesPerTrigger=1``, so each micro-batch is one deterministic tag
slice and the emitted (tag → psi) rows form a deterministic SET whatever
order the files are listed in. The catalog oracle recomputes each tag
slice's PSI against the full-table distribution in batch SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators import drift
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import runner


def baseline_histogram(
    df: DataFrame, value_col: str = "value", bin_width: float = 5.0
) -> DataFrame:
    """The persisted drift-baseline model: fixed-width bin → row count.
    One narrow corpus pass with map-side combine; the result is
    bins-sized, not corpus-sized (this is what a daily job writes to the
    lake and every monitor run reads back). NULL values carry no
    distribution information and are excluded on both the baseline and
    batch sides."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.floor(F.col(value_col) / F.lit(float(bin_width))).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("ca"))
    )


def batch_psi_vs_baseline(
    batch: DataFrame,
    baseline_rows: list,
    tag_expr,
    value_col: str = "value",
    bin_width: float = 5.0,
) -> DataFrame:
    """PSI of each tag slice in ``batch`` against the baseline histogram
    (passed as collected (bin, ca) rows — K of them, re-created as a
    local DataFrame so no corpus re-scan ever happens inside a batch).
    The batch's bins are always a subset of the baseline's when the
    baseline covers the full corpus, but the full-outer join keeps the
    math correct even when they are not (novel bins get ca = 0 and an
    eps-smoothed penalty)."""
    sp = batch.sparkSession
    cur = (
        batch.filter(F.col(value_col).isNotNull())
        .groupBy(
            tag_expr.alias("tag"),
            F.floor(F.col(value_col) / F.lit(float(bin_width))).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    base = sp.createDataFrame(
        [(int(r["bin"]), int(r["ca"])) for r in baseline_rows], "bin long, ca long"
    )
    tags = cur.select("tag").distinct()
    grid = tags.crossJoin(F.broadcast(base))
    binned = grid.join(cur, ["tag", "bin"], "full_outer").select(
        "tag",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    return drift.psi_from_counts(binned, group_cols=["tag"])


def run_drift_psi_batchlike(
    spark: SparkSession,
    sf_dir: str,
    n_tags: int = 4,
    bin_width: float = 5.0,
    name: str = "stream_drift_psi",
) -> DataFrame:
    """Run the drift monitor to completion over the finite tag-sliced
    replay and return one (tag, n_bins, n_a, n_b, psi) row per
    micro-batch. The baseline histogram is built once up front (the
    persisted-model step); each foreachBatch call aggregates only its
    own rows."""
    work = runner.scratch_dir("drift", sf_dir, n_tags)
    out_dir = os.path.join(work, "out")
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    stream = runner.tag_stream(spark, ev, F.col("user_id") % n_tags, n_tags, work)

    baseline_rows = (
        baseline_histogram(
            load_table(spark, sf_dir, "events"), "value", bin_width
        ).collect()
    )

    def _monitor(batch: DataFrame, batch_id: int) -> None:
        out = batch_psi_vs_baseline(
            batch,
            baseline_rows,
            tag_expr=F.col("user_id") % n_tags,
            value_col="value",
            bin_width=bin_width,
        )
        out.write.mode("append").parquet(out_dir)

    runner.drain(stream, _monitor, os.path.join(work, "ckpt"), name)
    return spark.read.parquet(out_dir).localCheckpoint()
