"""streaming/runner.py: the store-read contract, the replay skip, and a
guard that keeps the streaming skeleton in that one module (and the
store-read failure handler in operators/maintenance.py)."""

from __future__ import annotations

import os
import pathlib
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators import maintenance
from reddit_tech_jobs_data_pipeline_spark.streaming import runner

RUNNER = pathlib.Path(runner.__file__).resolve()
PACKAGE = RUNNER.parents[1]
# the store-read failure handler lives beside the swap recovery it runs
HOME = {"except AnalysisException": pathlib.Path(maintenance.__file__).resolve()}
SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def test_read_store_missing_path_is_first_batch(spark, tmp_path):
    assert runner.read_store(spark, str(tmp_path / "no_store"), SCHEMA) is None


def test_read_store_repairs_interrupted_swap_then_reads(spark, tmp_path):
    """A compaction that died between its delete and its rename leaves
    only the staging copy: read_store must finish the rename and read it,
    not report a first batch."""
    store = str(tmp_path / "store")
    spark.range(7).write.parquet(store + "__compact_staging")
    out = runner.read_store(spark, store, SCHEMA)
    assert out is not None and os.path.isdir(store)
    assert sorted(r.id for r in out.collect()) == list(range(7))


def test_read_store_reraises_other_analysis_errors(spark, tmp_path):
    """Only PATH_NOT_FOUND may become None; any other read failure of an
    existing store (here a schema the read rejects) raises."""
    store = str(tmp_path / "store")
    spark.range(3).write.parquet(store)
    dup = T.StructType([T.StructField("id", T.LongType())] * 2)
    with pytest.raises(AnalysisException) as exc_info:
        runner.read_store(spark, store, dup)
    assert not maintenance._is_missing_path(exc_info.value)


def test_drop_seen_without_store_returns_batch(spark):
    batch = spark.range(5)
    assert runner.drop_seen(batch, None, "id", "id") is batch


def test_drop_seen_skips_stored_keys(spark):
    batch = spark.range(6).withColumnRenamed("id", "k")
    store = spark.range(0, 6, 2).withColumnRenamed("id", "batch_key")
    out = runner.drop_seen(batch, store, "k", "batch_key")
    assert out.columns == ["k"]
    assert sorted(r.k for r in out.collect()) == [1, 3, 5]


def test_scratch_dir_is_stable_and_wiped():
    a = runner.scratch_dir("runner_test", "x", 1)
    pathlib.Path(a, "leftover").write_text("stale")
    b = runner.scratch_dir("runner_test", "x", 1)
    assert a == b and os.listdir(b) == []
    shutil.rmtree(b)


@pytest.mark.parametrize("needle", ["writeStream", "foreachBatch(", "except AnalysisException"])
def test_streaming_skeleton_lives_only_in_runner(needle):
    """No module outside streaming/runner.py may start a query or
    register a batch callback, and none outside operators/maintenance.py
    may catch a store-read failure itself — new runners go through
    runner.drain / drain_to_memory / read_store."""
    home = HOME.get(needle, RUNNER)
    offenders = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != home and needle in p.read_text()
    ]
    assert offenders == []
