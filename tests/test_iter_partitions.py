"""The adaptive iterative-loop partition pin
(operators/graph.iterative_shuffle_partitions): fixed 8 at test SF,
linear growth with the iterated table, env override wins, and the
session conf is always restored."""

from __future__ import annotations

import os

from reddit_tech_jobs_data_pipeline_spark.operators.graph import (
    ITER_ROWS_PER_PARTITION,
    iterative_shuffle_partitions,
)

KEY = "spark.sql.shuffle.partitions"


def _pinned(spark, **kwargs):
    with iterative_shuffle_partitions(spark, **kwargs):
        return int(spark.conf.get(KEY))


def test_default_and_small_rows_pin_eight(spark):
    before = spark.conf.get(KEY)
    assert _pinned(spark) == 8
    assert _pinned(spark, rows=1) == 8
    assert _pinned(spark, rows=8 * ITER_ROWS_PER_PARTITION) == 8
    assert spark.conf.get(KEY) == before  # restored


def test_large_rows_grow_linearly_and_clamp(spark):
    assert _pinned(spark, rows=10 * ITER_ROWS_PER_PARTITION) == 10
    # ceil division: one row over → one more partition
    assert _pinned(spark, rows=10 * ITER_ROWS_PER_PARTITION + 1) == 11
    assert _pinned(spark, rows=10**12) == 2048  # clamped


def test_env_override_beats_rows(spark):
    os.environ["SPARK_GRAFT_ITER_PARTITIONS"] = "5"
    try:
        assert _pinned(spark, rows=10**12) == 5
    finally:
        del os.environ["SPARK_GRAFT_ITER_PARTITIONS"]

