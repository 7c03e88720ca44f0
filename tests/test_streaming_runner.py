"""streaming/runner.py: the store-read contract, the replay skip, and a
guard that keeps the streaming skeleton in that one module (and keeps
every module from catching a store-read failure)."""

from __future__ import annotations

import contextlib
import os
import pathlib
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.streaming import runner
from reddit_tech_jobs_data_pipeline_spark.streaming.incremental_dedup import stream_dedup_ingest

RUNNER = pathlib.Path(runner.__file__).resolve()
PACKAGE = RUNNER.parents[1]
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
    """Only a missing path may become None; a read failure of an
    existing store (here a schema the read rejects) raises."""
    store = str(tmp_path / "store")
    spark.range(3).write.parquet(store)
    dup = T.StructType([T.StructField("id", T.LongType())] * 2)
    with pytest.raises(AnalysisException):
        runner.read_store(spark, store, dup)


@contextlib.contextmanager
def _jvm_log(spark):
    """Collect what the JVM logs (WARN and up, the session's level) while
    the block runs, through a log4j2 appender on the root logger."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    writer = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(), None, writer, "test-capture", False, True
    )
    appender.start()
    root = ctx.getConfiguration().getRootLogger()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    lines: list[str] = []
    try:
        yield lines
    finally:
        root.removeAppender("test-capture")
        ctx.updateLoggers()
        appender.stop()
        lines.extend(writer.toString().splitlines())


def test_store_first_batch_logs_no_missing_path(spark, tmp_path):
    """A store's first micro-batch finds no store and must not try to
    read it: a failed read logs Spark's FileNotFoundException warning and
    a PATH_NOT_FOUND error from the query-execution listener bus."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src, store = str(tmp_path / "docs"), str(tmp_path / "sig_store")
    spark.createDataFrame([(1, "alpha beta gamma delta epsilon")], schema).write.parquet(src)
    with _jvm_log(spark) as lines:
        stream_dedup_ingest(spark, src, schema, store, str(tmp_path / "ckpt"))
    assert spark.read.parquet(store).count() == 1
    assert not [ln for ln in lines if "PATH_NOT_FOUND" in ln or "FileNotFoundException" in ln]


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
    register a batch callback, and none may catch a store-read failure
    — new runners go through runner.drain / drain_to_memory / read_store,
    which lets every failure to read an existing store raise."""
    offenders = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != RUNNER and needle in p.read_text()
    ]
    assert offenders == []
