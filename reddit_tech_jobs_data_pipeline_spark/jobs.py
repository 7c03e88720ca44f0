"""The full EP1 pipeline as one idempotent incremental job.

Reference trace (SURVEY.md §3 EP1): watermark probe → scrape from
watermark → transform → upsert — four Airflow tasks crossing
JSON-over-Postgres between each. Here gold is read once with its schema,
and the run has three materialization points: the scalar watermark
probe over recent partitions, silver (computed from raw exactly once,
with its row count and touched partitions observed on the same job),
and the one staged merge write that sink.upsert_gold swaps into gold.

Idempotence contract (reference achieves it via ON CONFLICT): running the
same batch twice leaves the gold table unchanged — property-tested in
tests/test_jobs.py.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark import pipeline
from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import read_store
from reddit_tech_jobs_data_pipeline_spark.operators.merge import watermark_lower_bound
from reddit_tech_jobs_data_pipeline_spark.schemas import GOLD_SCHEMA
from reddit_tech_jobs_data_pipeline_spark.sources import sink


def run_with_retries(fn, retries: int = 3, delay_s: float = 300.0, on_failure=None):
    """O3 — job-level retry policy (reference: Airflow ``retries=3`` /
    5-min delay / failure callback, dags/dag.py:423-441). Spark handles
    task-level retries itself; this wraps whole-job attempts."""
    import time

    last = None
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            last = e
            if on_failure is not None:
                on_failure(attempt, e)
            if attempt < retries:
                time.sleep(delay_s)
    raise last


def run_incremental(
    spark: SparkSession,
    raw: DataFrame,
    gold_path: str,
    now: dt.datetime,
    lookback_days: int = 30,
    fallback_days: int = 7,
) -> int:
    """One scheduled run: watermark → filter raw forward → transform →
    upsert. Returns the number of rows merged (0 ⇒ the O4 short-circuit:
    nothing written, schema untouched). Only a missing gold is a first
    run (read_store); a gold that exists but cannot be read fails the
    run and is left as it is."""
    gold = read_store(spark, gold_path, GOLD_SCHEMA)
    if gold is None:  # first run: no gold yet
        wm = now - dt.timedelta(days=fallback_days)
    else:
        # created_date = to_date(created_datetime), so this partition
        # filter only prunes the probe to recent days; the max is unchanged
        since = F.to_date(F.lit(now - dt.timedelta(days=lookback_days)))
        wm = watermark_lower_bound(
            gold.filter(F.col(sink.PARTITION_COL) >= since), "created_datetime",
            now=now, lookback_days=lookback_days, fallback_days=fallback_days,
        )

    fresh = raw.filter(F.col("created_datetime") >= F.lit(wm))
    silver = pipeline.transform(fresh).withColumn("ingest_ts", F.lit(now))
    silver = sink.with_partition_col(silver.select(
        "post_id", "title", F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("text"), F.lit(None).cast("string").alias("author"),
        F.lit(None).cast("string").alias("subreddit"), "created_datetime",
        F.lit(None).cast("int").alias("upvotes"), F.lit(None).cast("int").alias("comments_count"),
        "salary_currency", "lower_salary", "upper_salary", "job_position",
        "location", "field", "technologies", "ingest_ts",
    ))
    # one job computes silver from raw: the checkpoint feeds the write,
    # and the observation carries its row count and touched partitions
    # (structs, so a NULL partition would be kept: collect_set drops NULLs)
    stats = Observation()
    silver = silver.observe(
        stats, F.count(F.lit(1)).alias("n"),
        F.collect_set(F.struct(sink.PARTITION_COL)).alias("touched"),
    ).localCheckpoint()
    n = stats.get["n"]
    if n == 0:
        return 0
    if gold is None:
        sink.write_gold(silver, gold_path)
    else:
        touched = [r[0] for r in stats.get["touched"]]
        sink.upsert_gold(spark, gold_path, silver, touched=touched)
    return n
