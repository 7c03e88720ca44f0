"""EP1 end-to-end incremental job: bootstrap, incremental merge,
idempotent re-run, watermark-driven skipping."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark import jobs
from reddit_tech_jobs_data_pipeline_spark.operators import maintenance, merge
from reddit_tech_jobs_data_pipeline_spark.schemas import GOLD_SCHEMA


def _raw(spark, rows):
    return spark.createDataFrame(
        [
            (pid, title, dt.datetime(2024, 1, day, 12), seq)
            for pid, title, day, seq in rows
        ],
        "post_id string, title string, created_datetime timestamp, scrape_seq long",
    )


def test_incremental_job_lifecycle(spark, tmp_path):
    gold = str(tmp_path / "gold")
    now = dt.datetime(2024, 1, 20)

    # run 1 — bootstrap
    r1 = _raw(
        spark,
        [
            ("a", "Hiring Data Engineer $100k - 120k Remote", 15, 1),
            ("b", "Question about pay", 14, 2),          # filtered out
            ("c", "Backend Engineer position Berlin", 15, 3),
        ],
    )
    n1 = jobs.run_incremental(spark, r1, gold, now)
    assert n1 == 2
    # materialize now: the DataFrame handle would go stale after run 2
    # overwrites the partitions underneath it
    g1_rows = spark.read.parquet(gold).collect()
    assert {r.post_id for r in g1_rows} == {"a", "c"}

    # run 2 — same batch again: the watermark (max created = Jan 15 12:00)
    # admits only the boundary rows, which re-merge to identical values —
    # idempotence at the sink
    n2 = jobs.run_incremental(spark, r1, gold, now)
    assert n2 == 2
    g2_rows = spark.read.parquet(gold).collect()
    assert sorted((r.post_id, r.lower_salary) for r in g2_rows) == sorted(
        (r.post_id, r.lower_salary) for r in g1_rows
    )

    # run 3 — new post + update to an old one (rescraped: created_datetime
    # is immutable — creation time — so it stays Jan 15, inside the window)
    r3 = _raw(
        spark,
        [
            ("a", "Hiring Data Engineer $150k - 180k Remote", 15, 4),  # update
            ("d", "We are hiring a QA Engineer", 17, 5),               # new
        ],
    )
    n3 = jobs.run_incremental(spark, r3, gold, dt.datetime(2024, 1, 21))
    assert n3 == 2
    g3 = {r.post_id: r for r in spark.read.parquet(gold).collect()}
    assert set(g3) == {"a", "c", "d"}
    assert g3["a"].lower_salary == 150000.0  # last writer won

    # run 4 — stale data below the watermark: O4 short-circuit, no write
    stale = _raw(spark, [("e", "Hiring ancient role", 1, 6)])
    wm_now = dt.datetime(2024, 1, 21)
    n4 = jobs.run_incremental(spark, stale, gold, wm_now)
    assert n4 == 0
    assert set(r.post_id for r in spark.read.parquet(gold).collect()) == {"a", "c", "d"}


def test_run_with_retries():
    calls = []
    failures = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    out = jobs.run_with_retries(
        flaky, retries=3, delay_s=0, on_failure=lambda a, e: failures.append(a)
    )
    assert out == "ok" and len(calls) == 3 and failures == [0, 1]

    def always_fails():
        raise RuntimeError("permanent")

    import pytest

    with pytest.raises(RuntimeError, match="permanent"):
        jobs.run_with_retries(always_fails, retries=1, delay_s=0)


# ---------------------------------------------------------------------------
# Gold safety: an unreadable gold is never taken for a first run, and a
# crash inside the partition swap is finished by the next run.
# ---------------------------------------------------------------------------

R1 = [
    ("a", "Hiring Data Engineer $100k - 120k Remote", 14, 1),
    ("c", "Backend Engineer position Berlin", 15, 2),
]
# an update in the 01-15 partition and a new post on 01-17: two partitions
R2 = [
    ("c", "Backend Engineer position Berlin $90k - 110k", 15, 3),
    ("d", "We are hiring a QA Engineer", 17, 4),
]
NOW = dt.datetime(2024, 1, 20)


def _files(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _gold_rows(spark, path):
    return sorted(spark.read.schema(GOLD_SCHEMA).parquet(path).collect())


def test_unreadable_gold_fails_loudly_and_is_left_unchanged(spark, tmp_path):
    """A non-parquet part file in a gold partition: the run must raise,
    not take the read failure for a first run and overwrite gold with
    the batch."""
    gold = str(tmp_path / "gold")
    assert jobs.run_incremental(spark, _raw(spark, R1), gold, NOW) == 2
    with open(os.path.join(gold, "created_date=2024-01-15", "part-99999-bad.parquet"), "w") as f:
        f.write("not parquet")
    before = _files(gold)
    with pytest.raises(Exception):
        jobs.run_incremental(spark, _raw(spark, R2[1:]), gold, NOW)
    assert _files(gold) == before
    assert not os.path.exists(gold + "__staging")


def test_crash_between_partition_renames_rolls_forward(spark, tmp_path, monkeypatch):
    """Fail the swap after its first partition moved: gold is half old,
    half new, with the committed staging beside it. The restarted run
    must finish the moves first, and end equal to a clean run."""
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for gold in (clean, crashed):
        jobs.run_incremental(spark, _raw(spark, R1), gold, NOW)
    jobs.run_incremental(spark, _raw(spark, R2), clean, NOW)

    real, moves = maintenance._replace_dir, []

    def crash_on_second(fs, src, dst):
        moves.append(dst.getName())
        if len(moves) == 2:
            raise IOError("injected crash between partition renames")
        real(fs, src, dst)

    monkeypatch.setattr(maintenance, "_replace_dir", crash_on_second)
    with pytest.raises(IOError, match="injected"):
        jobs.run_incremental(spark, _raw(spark, R2), crashed, NOW)
    monkeypatch.undo()
    staging = crashed + "__staging"
    assert os.path.exists(os.path.join(staging, "_SUCCESS"))
    assert os.path.exists(os.path.join(staging, moves[1]))

    jobs.run_incremental(spark, _raw(spark, R2), crashed, NOW)
    assert not os.path.exists(staging)
    assert _gold_rows(spark, crashed) == _gold_rows(spark, clean)


def test_staging_without_success_is_discarded(spark, tmp_path):
    """A staging dir with no _SUCCESS is a write that crashed before the
    swap began: gold was never touched, so the staged rows are dropped
    and gold stays exactly as it was."""
    gold = str(tmp_path / "gold")
    jobs.run_incremental(spark, _raw(spark, R1), gold, NOW)
    rows, files = _gold_rows(spark, gold), _files(gold)
    staging = gold + "__staging"
    spark.read.schema(GOLD_SCHEMA).parquet(gold).withColumn(
        "title", F.lit("half-written")
    ).write.partitionBy("created_date").parquet(staging)
    os.remove(os.path.join(staging, "_SUCCESS"))

    stale = _raw(spark, [("e", "Hiring ancient role", 1, 9)])
    assert jobs.run_incremental(spark, stale, gold, NOW) == 0
    assert not os.path.exists(staging)
    assert _files(gold) == files
    assert _gold_rows(spark, gold) == rows


def test_watermark_probe_prunes_to_recent_partitions(spark, tmp_path, monkeypatch):
    """The probe filters created_date to the lookback window: its scan
    has partition filters, and its answer equals the unpruned probe."""
    gold = str(tmp_path / "gold")
    old = _raw(spark, [("z", "Hiring Data Engineer $100k - 120k Remote", 2, 0)])
    jobs.run_incremental(spark, old, gold, dt.datetime(2024, 1, 5))
    jobs.run_incremental(spark, _raw(spark, R1), gold, NOW)
    days = {d for d in os.listdir(gold) if d.startswith("created_date=")}
    assert len(days) == 3

    probes = []

    def spy(df, *args, **kwargs):
        probes.append(df)
        return merge.watermark_lower_bound(df, *args, **kwargs)

    monkeypatch.setattr(jobs, "watermark_lower_bound", spy)
    stale = _raw(spark, [("e", "Hiring ancient role", 1, 9)])
    later = dt.datetime(2024, 2, 5)  # 30-day window starts 2024-01-06
    assert jobs.run_incremental(spark, stale, gold, later) == 0

    (probe,) = probes
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "PartitionFilters: []" not in plan
    unpruned = spark.read.parquet(gold)
    assert merge.watermark_lower_bound(
        probe, "created_datetime", now=later
    ) == merge.watermark_lower_bound(unpruned, "created_datetime", now=later)
    assert merge.watermark_lower_bound(
        probe, "created_datetime", now=later
    ) == dt.datetime(2024, 1, 15, 12)
