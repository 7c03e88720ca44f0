"""Streaming incremental near-dup ingest
(streaming/incremental_dedup.stream_dedup_ingest): the signature store
must grow by survivors only across micro-batches, and stay EXACTLY-ONCE
across both a checkpoint restart (offsets layer) and a forced replay
(idempotent-append layer)."""

from __future__ import annotations

import os
import time

from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.streaming.incremental_dedup import (
    stream_dedup_ingest,
)

DOC_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
)

UNIQUE_3 = "gamma delta epsilon zeta eta theta"
UNIQUE_5 = "iota kappa lam mu nu xi omicron"
DUP_TEXT = "alpha beta alpha beta alpha beta alpha"


def _write_docs(spark, src, rows, name):
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # distinct mtimes keep FileStreamSource's file ordering deterministic
    time.sleep(1.1)


def _run(spark, tmp_path, ckpt_name="ckpt"):
    src = str(tmp_path / "docs")
    store = str(tmp_path / "sig_store")
    ckpt = str(tmp_path / ckpt_name)
    return src, store, ckpt


def _store_ids(spark, store):
    return {r.id for r in spark.read.parquet(store).select("id").collect()}


def test_survivors_only_store_and_exactly_once_restart(spark, tmp_path):
    src, store, ckpt = _run(spark, tmp_path)
    # file 1: doc 2 is an exact near-dup of doc 1 (batch-internal);
    # file 2: doc 4 duplicates the cluster already IN the store, doc 5 novel
    _write_docs(spark, src, [(1, DUP_TEXT), (2, DUP_TEXT), (3, UNIQUE_3)], "f1")
    _write_docs(spark, src, [(4, DUP_TEXT), (5, UNIQUE_5)], "f2")

    stream_dedup_ingest(
        spark, src, DOC_SCHEMA, store, ckpt, max_files_per_trigger=1
    )
    ids = _store_ids(spark, store)
    # one survivor per near-dup cluster: exactly one of the identical-text
    # docs {1, 2, 4}, plus both novel docs — regardless of file order
    assert len(ids) == 3
    assert len(ids & {1, 2, 4}) == 1
    assert {3, 5} <= ids

    # restart with the SAME checkpoint: consumed files are not re-read,
    # store must be unchanged (offsets layer)
    stream_dedup_ingest(
        spark, src, DOC_SCHEMA, store, ckpt, max_files_per_trigger=1
    )
    assert _store_ids(spark, store) == ids

    # forced replay: a FRESH checkpoint re-processes every file (the
    # failure-after-append shape) — the idempotent-append anti-join must
    # keep the store identical, not doubled
    stream_dedup_ingest(
        spark, src, DOC_SCHEMA, store, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    assert _store_ids(spark, store) == ids
    # and no duplicate rows per id either
    assert spark.read.parquet(store).count() == 3


def test_corrupt_store_fails_batch_instead_of_resetting(spark, tmp_path):
    """A store-read failure that is NOT missing-path (here: a corrupt
    parquet footer) must fail the batch — falling back to an empty store
    would silently reset dedup state and append duplicates forever."""
    import pytest

    src, store, ckpt = _run(spark, tmp_path)
    _write_docs(spark, src, [(1, DUP_TEXT)], "f1")
    os.makedirs(store, exist_ok=True)
    with open(os.path.join(store, "part-corrupt.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception) as exc_info:
        stream_dedup_ingest(spark, src, DOC_SCHEMA, store, ckpt)
    # the failure must NOT be swallowed into the first-batch path; the
    # store dir must still hold only our corrupt file (no append happened)
    assert os.listdir(store) == ["part-corrupt.parquet"]
    assert "PATH_NOT_FOUND" not in str(exc_info.value)


def test_new_files_after_restart_are_ingested_incrementally(spark, tmp_path):
    src, store, ckpt = _run(spark, tmp_path)
    _write_docs(spark, src, [(1, DUP_TEXT), (3, UNIQUE_3)], "f1")
    stream_dedup_ingest(spark, src, DOC_SCHEMA, store, ckpt)
    assert _store_ids(spark, store) == {1, 3}

    # a later run with the same checkpoint picks up ONLY the new file;
    # its dup is flagged against the persisted store, its novel survives
    _write_docs(spark, src, [(6, DUP_TEXT), (7, UNIQUE_5)], "f2")
    stream_dedup_ingest(spark, src, DOC_SCHEMA, store, ckpt)
    assert _store_ids(spark, store) == {1, 3, 7}
