"""Streaming-store compaction (operators/maintenance.compact_append_store):
the append-only stores grow one parquet fragment per micro-batch; the
compaction rewrite must preserve (1) the merged read exactly, (2) the
replay-skip contract (batch_key values survive), for the CMS, HLL and
boilerplate stores alike."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
    compact_append_store,
)
from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _n_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.parquet")))


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("text").isNotNull()
    )


def test_cms_store_compaction_preserves_merge_and_replay_skip(spark, tmp_path):
    from reddit_tech_jobs_data_pipeline_spark.streaming.cms_ingest import (
        ingest_batch_sketch,
        merged_sketch,
    )

    store = str(tmp_path / "cms_store")
    docs = _docs(spark)
    for tag in range(3):
        ingest_batch_sketch(
            docs.filter(F.col("doc_id") % 3 == tag),
            store,
            batch_key_expr=F.col("doc_id") % 3,
            width=64,
            depth=2,
        )
    n_before = _n_files(store)
    assert n_before >= 3  # one fragment (or more) per micro-batch
    before = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, store).collect()
    }

    n_after = compact_append_store(spark, store)
    assert n_after == _n_files(store) == 1 < n_before  # tiny store → 1 file

    after = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, store).collect()
    }
    assert after == before  # merged read identical

    # replay of an already-ingested batch key must still be skipped
    rows_before = spark.read.parquet(store).count()
    ingest_batch_sketch(
        docs.filter(F.col("doc_id") % 3 == 1),
        store,
        batch_key_expr=F.col("doc_id") % 3,
        width=64,
        depth=2,
    )
    assert spark.read.parquet(store).count() == rows_before


def test_hll_store_compaction_preserves_union(spark, tmp_path):
    from reddit_tech_jobs_data_pipeline_spark.streaming.hll_ingest import (
        ingest_batch_hll,
        merged_hll,
    )

    store = str(tmp_path / "hll_store")
    ev = load_table(spark, SF, "events")
    for tag in range(3):
        ingest_batch_hll(
            ev.filter(F.col("event_id") % 3 == tag),
            store,
            batch_key_expr=F.col("event_id") % 3,
        )
    before = {
        r.grp: (r.est, r.n_batches_merged)
        for r in merged_hll(spark, store).collect()
    }
    assert compact_append_store(spark, store) == 1
    after = {
        r.grp: (r.est, r.n_batches_merged)
        for r in merged_hll(spark, store).collect()
    }
    # binary sketches round-trip the rewrite: unions estimate identically
    assert after == before

    rows_before = spark.read.parquet(store).count()
    ingest_batch_hll(
        ev.filter(F.col("event_id") % 3 == 0),
        store,
        batch_key_expr=F.col("event_id") % 3,
    )
    assert spark.read.parquet(store).count() == rows_before


def test_boilerplate_store_compaction_preserves_decision(spark, tmp_path):
    from reddit_tech_jobs_data_pipeline_spark.streaming.boilerplate_ingest import (
        ingest_batch_line_df,
        merged_boilerplate,
    )

    store = str(tmp_path / "boiler_store")
    pages = _docs(spark).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 4).cast("string"))
    )
    for tag in range(3):
        ingest_batch_line_df(
            pages.filter(F.col("doc_id") % 3 == tag),
            store,
            batch_key_expr=F.col("doc_id") % 3,
        )
    before = sorted(
        tuple(r) for r in merged_boilerplate(spark, store).collect()
    )
    assert compact_append_store(spark, store) == 1
    after = sorted(
        tuple(r) for r in merged_boilerplate(spark, store).collect()
    )
    assert after == before


def _cell_dirs(path: str) -> list[str]:
    return sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(path, "cell_id=*"))
        if os.path.isdir(d)
    )


def test_compact_append_store_refuses_partitioned_layout(spark, tmp_path):
    # a flat rewrite of a cell_id= partitioned index would destroy the
    # directory layout probe pruning depends on — it must refuse
    import pytest

    from reddit_tech_jobs_data_pipeline_spark.operators import similarity
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = similarity.seeded_centroids(emb, 4)
    idx = str(tmp_path / "ivf_idx")
    similarity.write_ivf_index(emb, cents, idx)
    with pytest.raises(ValueError, match="partitioned by \\['cell_id'\\]"):
        compact_append_store(spark, idx)
    # layout untouched by the refusal
    assert _cell_dirs(idx) and spark.read.parquet(idx).count() == emb.count()


def test_compact_ivf_index_preserves_layout_and_probe(spark, tmp_path):
    from reddit_tech_jobs_data_pipeline_spark.operators import similarity
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        compact_ivf_index,
        partition_dirs,
    )
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = similarity.seeded_centroids(emb, 4)
    idx = str(tmp_path / "ivf_idx")
    # build + 3 appends → hot-cell fragments
    similarity.write_ivf_index(emb.filter(F.col("vec_id") % 4 == 0), cents, idx)
    for r in (1, 2, 3):
        similarity.append_ivf_index(
            emb.filter(F.col("vec_id") % 4 == r), cents, idx
        )
    queries = emb.filter(F.col("vec_id") < 10)
    before = sorted(
        tuple(r)
        for r in similarity.ivf_index_topk(
            spark, idx, queries, cents, k=5, nprobe=2
        ).collect()
    )
    n_frag_before = len(glob.glob(os.path.join(idx, "cell_id=*", "*.parquet")))

    compact_ivf_index(spark, idx)

    assert partition_dirs(spark, idx) == ["cell_id"]  # layout preserved
    n_frag_after = len(glob.glob(os.path.join(idx, "cell_id=*", "*.parquet")))
    assert n_frag_after < n_frag_before
    after = sorted(
        tuple(r)
        for r in similarity.ivf_index_topk(
            spark, idx, queries, cents, k=5, nprobe=2
        ).collect()
    )
    assert after == before  # probe results invariant


def test_compact_ivf_index_handles_nested_ivfpq_codes(spark, tmp_path):
    # write_ivfpq_index nests cell_id= dirs at path/codes beside the
    # frozen books/cents model tables — the wrapper must find and
    # compact codes/ only, leaving the model tables untouched
    from reddit_tech_jobs_data_pipeline_spark.operators import similarity
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        compact_ivf_index,
        partition_dirs,
    )
    from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivfpq_idx")
    similarity.write_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx, num_cells=4, m=8, ks=16, dim=64
    )
    similarity.append_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), idx, dim=64
    )
    queries = emb.filter(F.col("vec_id") < 10)
    before = sorted(
        tuple(r)
        for r in similarity.ivfpq_index_topk(
            spark, idx, queries, corpus=emb, k=5, nprobe=2, rerank_n=50
        ).collect()
    )
    books_before = sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(idx, "books", "*"))
    )

    compact_ivf_index(spark, idx)

    assert partition_dirs(spark, os.path.join(idx, "codes")) == ["cell_id"]
    books_after = sorted(
        os.path.basename(f) for f in glob.glob(os.path.join(idx, "books", "*"))
    )
    assert books_after == books_before  # model tables untouched
    after = sorted(
        tuple(r)
        for r in similarity.ivfpq_index_topk(
            spark, idx, queries, corpus=emb, k=5, nprobe=2, rerank_n=50
        ).collect()
    )
    assert after == before


def test_compact_ivf_index_refuses_flat_store(spark, tmp_path):
    import pytest

    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        compact_ivf_index,
    )

    flat = str(tmp_path / "flat")
    _docs(spark).limit(10).write.parquet(flat)
    with pytest.raises(ValueError, match="cell_id= partition layout"):
        compact_ivf_index(spark, flat)


def test_run_store_maintenance_bounds_fragments_across_cadence(spark, tmp_path):
    """The executable cadence (r10 advisor item 8): drive 9 ingest
    batches with maintenance every 3 — 3× the interval — and assert the
    fragment count stays bounded by the cadence (base + at most
    every_n fresh fragments) instead of growing one file per batch,
    while the merged sketch still equals the one computed from an
    uncompacted twin store."""
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        run_store_maintenance,
    )
    from reddit_tech_jobs_data_pipeline_spark.streaming.cms_ingest import (
        ingest_batch_sketch,
        merged_sketch,
    )

    docs = _docs(spark)
    every = 3
    managed = str(tmp_path / "cms_managed")
    raw = str(tmp_path / "cms_raw")
    max_seen = 0
    for tag in range(9):
        batch = docs.filter(F.col("doc_id") % 9 == tag)
        for store in (managed, raw):
            ingest_batch_sketch(
                batch, store, batch_key_expr=F.col("doc_id") % 9, width=64, depth=2
            )
        run_store_maintenance(spark, managed, batch_id=tag, every_n_batches=every)
        max_seen = max(max_seen, _n_files(managed))
    # compacted base (1 file at this size) + at most `every` fresh
    # fragments between compactions; each append may write >1 file, so
    # bound by fragments-per-append * every + base with margin 2x
    per_append = _n_files(raw) / 9
    assert max_seen <= 1 + 2 * per_append * every, (max_seen, per_append)
    # and strictly fewer files than the unmanaged twin by the end
    assert _n_files(managed) < _n_files(raw)
    a = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, managed).collect()
    }
    b = {(r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, raw).collect()}
    assert a == b

    # off-cadence batches are no-ops (None), cadence batches return a count
    assert run_store_maintenance(spark, managed, batch_id=0, every_n_batches=3) is None
    assert run_store_maintenance(spark, managed, batch_id=2, every_n_batches=3) >= 1
    # missing store: skipped, not an error
    assert (
        run_store_maintenance(spark, str(tmp_path / "nope"), 2, every_n_batches=3)
        is None
    )


# ---------------------------------------------------------------------------
# Interrupted-swap recovery (round-11 advisor finding): a crash between
# _swap_dirs' delete(path) and rename(staging -> path) leaves the store
# MISSING with the only copy in the staging dir. Every store reader and
# compaction entry point must repair that state instead of treating it
# as a first batch (which would rebuild from one batch and let the next
# compaction destroy the surviving copy).
# ---------------------------------------------------------------------------


def _simulate_mid_swap_crash(spark, store: str) -> None:
    """Reproduce the exact crash state: staging fully written (with
    _SUCCESS), store deleted — i.e. _swap_dirs died after its delete."""
    import shutil

    staging = store.rstrip("/") + "__compact_staging"
    spark.read.parquet(store).repartition(1).write.mode("overwrite").parquet(staging)
    shutil.rmtree(store)


def test_recover_interrupted_swap_completes_rename(spark, tmp_path):
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        recover_interrupted_swap,
    )
    from reddit_tech_jobs_data_pipeline_spark.streaming.cms_ingest import (
        ingest_batch_sketch,
        merged_sketch,
    )

    store = str(tmp_path / "cms_store")
    docs = _docs(spark)
    for tag in range(2):
        ingest_batch_sketch(
            docs.filter(F.col("doc_id") % 3 == tag),
            store,
            batch_key_expr=F.col("doc_id") % 3,
            width=64,
            depth=2,
        )
    before = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, store).collect()
    }
    _simulate_mid_swap_crash(spark, store)
    assert not os.path.exists(store)
    assert recover_interrupted_swap(spark, store) is True
    assert os.path.exists(store)
    after = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, store).collect()
    }
    assert after == before
    # idempotent: a second call is a no-op
    assert recover_interrupted_swap(spark, store) is False


def test_recover_interrupted_swap_drops_stale_staging(spark, tmp_path):
    """Both dirs present = crash BEFORE the delete: path is authoritative
    (compaction is row-preserving, so both hold the same rows); recovery
    drops the stale staging and leaves path untouched."""
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        recover_interrupted_swap,
    )

    store = str(tmp_path / "t")
    staging = store + "__compact_staging"
    df = spark.range(10)
    df.write.parquet(store)
    df.write.parquet(staging)
    assert recover_interrupted_swap(spark, store) is False
    assert os.path.exists(store) and not os.path.exists(staging)
    assert spark.read.parquet(store).count() == 10


def test_ingest_reader_recovers_mid_swap_crash_on_replay(spark, tmp_path):
    """The routine-crash scenario end to end: ingest two batches, crash a
    compaction mid-swap, then REPLAY a batch. The reader must restore the
    store from staging and keep the replay-skip (not rebuild the store
    from the replayed batch alone)."""
    from reddit_tech_jobs_data_pipeline_spark.streaming.cms_ingest import (
        ingest_batch_sketch,
        merged_sketch,
    )

    store = str(tmp_path / "cms_store")
    docs = _docs(spark)
    for tag in range(2):
        ingest_batch_sketch(
            docs.filter(F.col("doc_id") % 3 == tag),
            store,
            batch_key_expr=F.col("doc_id") % 3,
            width=64,
            depth=2,
        )
    before = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, store).collect()
    }
    _simulate_mid_swap_crash(spark, store)
    # crash-replay of batch 0: without recovery this would "first-batch"
    # a fresh store containing only tag 0's cells
    ingest_batch_sketch(
        docs.filter(F.col("doc_id") % 3 == 0),
        store,
        batch_key_expr=F.col("doc_id") % 3,
        width=64,
        depth=2,
    )
    after = {
        (r.row_i, r.bucket): r.cnt for r in merged_sketch(spark, store).collect()
    }
    assert after == before  # store restored AND the replay was skipped


def test_run_store_maintenance_repairs_before_cadence_check(spark, tmp_path):
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        run_store_maintenance,
    )

    store = str(tmp_path / "t")
    spark.range(100).repartition(4).write.parquet(store)
    before = spark.read.parquet(store).count()
    _simulate_mid_swap_crash(spark, store)
    # batch_id=2, every 3 -> on cadence; must first complete the rename,
    # then compact the recovered store rather than skipping it as missing
    n = run_store_maintenance(spark, store, batch_id=2, every_n_batches=3)
    assert n is not None and os.path.exists(store)
    assert spark.read.parquet(store).count() == before


def _sig_layout(path: str) -> dict[str, int]:
    """sig= partition dir -> number of data files in it."""
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "sig=*"))
    }


def test_run_store_maintenance_keeps_sig_partitioned_layout(spark, tmp_path):
    """The SRP index is sig=-partitioned: scheduled maintenance must read
    that layout and compact per partition — same sig= dirs, same rows,
    and no more files than partitions at this size — where a flat
    rewrite would destroy the directory pruning the probe relies on."""
    from reddit_tech_jobs_data_pipeline_spark.operators import similarity
    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        run_store_maintenance,
    )
    from reddit_tech_jobs_data_pipeline_spark.streaming import runner

    emb = load_table(spark, SF, "embeddings")
    planes = similarity.srp_planes(4, 64)
    store = str(tmp_path / "srp_store")
    step = runner.ingest_step(
        store, "neighbor_id", lambda new: similarity.append_srp_index(new, planes, store)
    )
    for tag in range(3):
        step(emb.filter(F.col("vec_id") % 3 == tag), tag)
    before = _sig_layout(store)
    rows = sorted(
        tuple(r) for r in spark.read.parquet(store).select("neighbor_id", "sig").collect()
    )
    assert sum(before.values()) > len(before)  # several fragments per bucket

    assert run_store_maintenance(spark, store, batch_id=2, every_n_batches=3) is not None
    after = _sig_layout(store)
    assert after.keys() == before.keys()
    assert all(n == 1 for n in after.values())
    assert sorted(
        tuple(r) for r in spark.read.parquet(store).select("neighbor_id", "sig").collect()
    ) == rows


def test_run_store_maintenance_refuses_ambiguous_layout(spark, tmp_path):
    """Top-level partition dirs of two columns are not a layout any store
    writes: maintenance raises instead of picking one."""
    import pytest

    from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
        run_store_maintenance,
    )

    store = tmp_path / "mixed"
    spark.range(4).write.parquet(str(store / "a=1"))
    spark.range(4).write.parquet(str(store / "b=1"))
    with pytest.raises(ValueError, match="several columns"):
        run_store_maintenance(spark, str(store), batch_id=2, every_n_batches=3)
