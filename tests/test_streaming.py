"""Streaming tests: windowed counts to memory sink, foreachBatch gold
upsert, and the applyInPandasWithState custom sessionizer."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.sources.testdata import load_table
from reddit_tech_jobs_data_pipeline_spark.streaming import events as sev
from reddit_tech_jobs_data_pipeline_spark.streaming.stateful_sessions import (
    streaming_sessionize,
)

SF = "/root/testdata/sf0.001"


class TestWindowedCounts:
    def test_matches_batch_groupby(self, spark):
        out = sev.run_windowed_counts_batchlike(spark, SF, name="t_stream_wc")
        batch = (
            load_table(spark, SF, "events")
            .groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        )
        a = {tuple(r) for r in out.collect()}
        b = {tuple(r) for r in batch.collect()}
        assert a == b


class TestStreamStreamIntervalJoin:
    def test_matches_batch_range_join(self, spark):
        out = sev.run_interval_join_batchlike(spark, SF, name="t_stream_ij")
        ev = load_table(spark, SF, "events")
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
        )
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("pu"),
            F.col("ts").alias("pts"),
        )
        batch = (
            c.join(
                p,
                (F.col("user_id") == F.col("pu"))
                & (F.col("pts") >= F.col("cts"))
                & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
            )
            .select(
                "click_id",
                "purchase_id",
                "user_id",
                (F.unix_timestamp("pts") - F.unix_timestamp("cts")).alias("delay_sec"),
            )
        )
        a = {tuple(r) for r in out.collect()}
        b = {tuple(r) for r in batch.collect()}
        assert a == b and a  # identical and non-vacuous


class TestForeachBatchUpsert:
    def test_stream_merges_into_gold(self, spark, tmp_path):
        gold = str(tmp_path / "gold_events")
        ckpt = str(tmp_path / "ckpt")
        sev.stream_upsert_to_gold(spark, SF, gold, ckpt)
        out = spark.read.parquet(gold)
        n_events = load_table(spark, SF, "events").count()
        assert out.count() == n_events  # event_id unique -> all rows land
        assert out.select("event_id").distinct().count() == n_events
        # one staged write per batch, promoted by rename: no copy of gold
        # is left beside it
        assert sorted(p.name for p in tmp_path.iterdir()) == ["ckpt", "gold_events"]

    def test_crash_in_swap_restart_equals_clean_run(self, spark, tmp_path, monkeypatch):
        """Over an existing gold, a crash after the staged merge commits
        (here: gold deleted, then the rename fails) fails the drain; the
        restart promotes the committed staging dir, replays the batch,
        and ends equal to a clean run."""
        import pytest

        from reddit_tech_jobs_data_pipeline_spark.operators import maintenance

        clean = str(tmp_path / "clean")
        sev.stream_upsert_to_gold(spark, SF, clean, str(tmp_path / "ckpt_clean"))
        want = sorted(tuple(r) for r in spark.read.parquet(clean).collect())

        gold = str(tmp_path / "gold_events")
        sev.stream_upsert_to_gold(spark, SF, gold, str(tmp_path / "ckpt_first"))
        real = maintenance._replace_dir
        calls = []

        def crash_once(fs, src, dst):
            calls.append(src.toString())
            if len(calls) == 1:
                if fs.exists(dst):
                    fs.delete(dst, True)
                raise IOError("simulated crash between delete and rename")
            real(fs, src, dst)

        monkeypatch.setattr(maintenance, "_replace_dir", crash_once)
        # a second checkpoint replays the events over the existing gold
        ckpt = str(tmp_path / "ckpt")
        with pytest.raises(Exception):
            sev.stream_upsert_to_gold(spark, SF, gold, ckpt)
        assert not os.path.exists(gold)
        sev.stream_upsert_to_gold(spark, SF, gold, ckpt)
        assert len(calls) >= 2  # the restart went through the swap again
        assert sorted(tuple(r) for r in spark.read.parquet(gold).collect()) == want
        assert not os.path.exists(maintenance._staging_path(gold))

    def test_crash_in_first_write_restart_equals_clean_run(
        self, spark, tmp_path, monkeypatch
    ):
        """A driver killed inside the first batch's write (no gold yet)
        leaves uncommitted task output in a dir without _SUCCESS. The
        restart replays the batch over it and ends equal to a clean run,
        with no staging dir left."""
        import pytest
        from pyspark.sql import DataFrameWriter

        from reddit_tech_jobs_data_pipeline_spark.operators import maintenance

        clean = str(tmp_path / "clean")
        sev.stream_upsert_to_gold(spark, SF, clean, str(tmp_path / "ckpt_clean"))
        want = sorted(tuple(r) for r in spark.read.parquet(clean).collect())

        real = DataFrameWriter.parquet
        written = []

        def killed_once(self, path, *a, **kw):
            written.append(path)
            if len(written) == 1:
                attempt = os.path.join(path, "_temporary", "0", "_temporary", "attempt_0")
                os.makedirs(attempt)
                with open(os.path.join(attempt, "part-00000.snappy.parquet"), "wb") as f:
                    f.write(b"partial")
                raise RuntimeError("simulated driver kill inside the write")
            return real(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", killed_once)
        gold = str(tmp_path / "gold_events")
        ckpt = str(tmp_path / "ckpt")
        with pytest.raises(Exception):
            sev.stream_upsert_to_gold(spark, SF, gold, ckpt)
        sev.stream_upsert_to_gold(spark, SF, gold, ckpt)
        assert len(written) >= 2  # the restart wrote again
        assert sorted(tuple(r) for r in spark.read.parquet(gold).collect()) == want
        assert not os.path.exists(maintenance._staging_path(gold))

    def test_unreadable_gold_fails_the_batch(self, spark, tmp_path):
        """Only a missing gold is a first batch. A gold dir that exists
        but cannot be read (here a corrupt part file) must fail the
        drain, not be replaced by the batch alone."""
        import os

        import pytest

        gold = tmp_path / "gold_events"
        gold.mkdir()
        (gold / "part-00000-corrupt.parquet").write_bytes(b"not a parquet file")
        before = sorted(os.listdir(gold))
        with pytest.raises(Exception):
            sev.stream_upsert_to_gold(spark, SF, str(gold), str(tmp_path / "ckpt"))
        assert sorted(os.listdir(gold)) == before


class TestStatefulSessionizer:
    def test_sessions_match_batch_operator(self, spark, tmp_path):
        """Feed a finite event stream; closed sessions from the stateful
        operator must match the batch sessionizer's closed sessions."""
        from reddit_tech_jobs_data_pipeline_spark.operators.sessions import session_stats

        rows = []
        eid = 0
        base = dt.datetime(2024, 3, 1)
        for user in (1, 2, 3):
            for s, start_min in enumerate((0, 120, 300)):
                for k in range(2 + user):
                    rows.append(
                        (eid, user, base + dt.timedelta(minutes=start_min + k), float(user))
                    )
                    eid += 1
        src_dir = tmp_path / "stream_src"
        src_dir.mkdir()
        pdf = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )
        pdf.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "p"))

        stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
            .parquet(str(src_dir / "p"))
        )
        sessions = streaming_sessionize(stream, gap_seconds=1800)
        q = (
            sessions.writeStream.format("memory")
            .queryName("t_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        q.awaitTermination()
        got = {
            (r.user_id, r.session_seq): (r.n_events, r.span_sec, r.total_value)
            for r in spark.table("t_sessions").collect()
        }
        q.stop()

        batch = session_stats(pdf, gap_minutes=30)
        # batch session_seq is 1-based; the stream emits only CLOSED
        # sessions (the last session per user stays open awaiting timeout)
        expect = {
            (r.user_id, r.session_seq - 1): (r.n_events, r.span_sec, r.total_value)
            for r in batch.collect()
        }
        open_seq = {u: max(s for (uu, s) in expect if uu == u) for u in (1, 2, 3)}
        expect_closed = {k: v for k, v in expect.items() if k[1] < open_seq[k[0]]}
        assert got == expect_closed


class TestStreamingDedup:
    def test_duplicated_stream_dedups_to_distinct_ids(self, spark, tmp_path):
        """Two copies of the events table streamed through
        dropDuplicatesWithinWatermark must come out as one: at-least-once
        in, exactly-once out."""
        src = str(tmp_path / "dup_src")
        ev = load_table(spark, SF, "events")
        ev.write.mode("overwrite").parquet(src)
        ev.write.mode("append").parquet(src)
        assert spark.read.parquet(src).count() == 2 * ev.count()

        out = sev.run_dedup_stream_batchlike(
            spark, src, spark.read.parquet(src).schema, name="t_stream_dedup"
        )
        assert out.count() == ev.count()
        assert out.select("event_id").distinct().count() == ev.count()


class TestCheckpointRestart:
    def test_restart_with_same_checkpoint_is_exactly_once(self, spark, tmp_path):
        """Exactly-once across restarts: rerunning the foreachBatch
        upsert with the SAME checkpoint must not reprocess consumed
        files (source offsets live in the checkpoint), and the
        last-writer-wins merge makes even a replayed batch idempotent —
        the two layers of the reference's ON CONFLICT guarantee
        (dags/dag.py:389-403) in streaming form."""
        gold = str(tmp_path / "gold_events")
        ckpt = str(tmp_path / "ckpt")
        sev.stream_upsert_to_gold(spark, SF, gold, ckpt)
        first = {tuple(r) for r in spark.read.parquet(gold).select("event_id", "value").collect()}

        sev.stream_upsert_to_gold(spark, SF, gold, ckpt)  # restart, same ckpt
        second = {tuple(r) for r in spark.read.parquet(gold).select("event_id", "value").collect()}
        assert first == second and first


class TestTransformWithState:
    def test_tws_user_stats_matches_batch_or_env_gated(self, spark):
        """transformWithStateInPandas (Spark 4's arbitrary-state API):
        per-user running (count, max) must equal the batch aggregate
        over the finite replay. The API's Python runner needs protobuf;
        environments without it raise the documented NotImplementedError
        (the applyInPandasWithState sessionizer remains the
        protobuf-free stateful path)."""
        import pytest

        from reddit_tech_jobs_data_pipeline_spark.streaming.stateful_sessions import (
            run_tws_user_stats_batchlike,
        )

        try:
            out = run_tws_user_stats_batchlike(spark, SF, name="t_tws_stats")
        except NotImplementedError as e:
            pytest.skip(f"env gate: {e}")
        batch = (
            load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.max("value"), 2).alias("max_value"),
            )
        )
        a = {tuple(r) for r in out.collect()}
        b = {tuple(r) for r in batch.collect()}
        assert a == b and a
