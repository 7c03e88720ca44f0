"""Seeded inputs: the same seed writes identical tables, another seed
different ones."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.workloads import SIZES


def _tables(d: str) -> dict:
    return {os.path.relpath(p, d): pq.read_table(p)
            for p in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))}


def _write_all(d: str, seed: int) -> dict:
    etl = SIZES["posts_daily_upsert"]["tiny"]
    _, etl_stats = gen.write_daily_batches(
        os.path.join(d, "etl"), seed, etl["base_days"] + 1, etl["posts_per_day"],
        etl["rescrape_share"], etl["noise_share"], etl["stale_share"])
    gen.write_sf_dir(os.path.join(d, "sf"), seed, SIZES["corpus_query_mix"]["tiny"])
    st = SIZES["stream_store_ingest"]["tiny"]
    gen.write_stream_batches(os.path.join(d, "docs"), seed, st["batches"],
                             st["docs_per_batch"], st["dup_share"])
    return etl_stats


def test_same_seed_same_inputs(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    a, b = _tables(str(tmp_path / "a")), _tables(str(tmp_path / "b"))
    assert a.keys() == b.keys() and len(a) > 5
    assert all(a[k].equals(b[k]) for k in a)


def test_other_seed_other_inputs(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 8)
    a, b = _tables(str(tmp_path / "a")), _tables(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(not a[k].equals(b[k]) for k in a)


def test_daily_batches_plant_each_row_kind(tmp_path):
    stats = _write_all(str(tmp_path), 3)
    assert stats["rescrape_share"] > 0 and stats["noise_share"] > 0 and stats["stale_share"] > 0
