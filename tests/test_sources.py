"""Tests for sources: custom Python DataSource (S1/S3/S4/S5), HTML
expression parsing (S2), partitioned gold sink (S7/S8), empty-input
schema preservation (O4)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark import pipeline
from reddit_tech_jobs_data_pipeline_spark.schemas import RAW_POST_SCHEMA
from reddit_tech_jobs_data_pipeline_spark.sources import html_parse, reddit_source, sink


def _page_html(page: int, n: int = 4) -> str:
    rows = []
    for i in range(n):
        pid = page * 100 + i
        ts = 1704067200000 + pid * 3600000
        rows.append(
            f'<div class="thing" data-fullname="t3_{pid}" data-author="u{pid}" '
            f'data-timestamp="{ts}" data-score="{pid % 50}">'
            f'<p class="title"><a class="title" href="https://x/p/{pid}">Post {pid} hiring</a></p>'
            f'<a class="comments">{pid % 9} comments</a></div>'
        )
    return "\n".join(rows)


class TestRedditDataSource:
    def test_partition_per_page_and_pinned_flag(self, spark, tmp_path):
        pages = tmp_path / "pages"
        pages.mkdir()
        for p in range(3):
            (pages / f"page_{p}.html").write_text(_page_html(p))
        reddit_source.register(spark)
        df = spark.read.format("reddit_pages").option("path", str(pages)).load()
        rows = df.collect()
        assert len(rows) == 12
        assert {r.page for r in rows} == {0, 1, 2}
        # S5: exactly the first record of each page flagged pinned
        assert sorted(r.post_id for r in rows if r.is_pinned) == ["t3_0", "t3_100", "t3_200"]
        by_id = {r.post_id: r for r in rows}
        assert by_id["t3_101"].comments_count == 101 % 9
        assert by_id["t3_101"].upvotes == 101 % 50

    def test_watermark_pushdown(self, spark, tmp_path):
        pages = tmp_path / "pages"
        pages.mkdir()
        (pages / "p0.html").write_text(_page_html(0))
        reddit_source.register(spark)
        min_ts = 1704067200000 + 2 * 3600000  # drop posts 0,1
        df = (
            spark.read.format("reddit_pages")
            .option("path", str(pages))
            .option("min_ts_ms", str(min_ts))
            .load()
        )
        assert sorted(r.post_id for r in df.collect()) == ["t3_2", "t3_3"]


class TestHtmlParse:
    def test_parse_and_drop_pinned(self, spark):
        html = (
            '<div class="thing" data-fullname="t3_9" data-stickied="true" data-author="a" '
            'data-timestamp="1704067200000" data-score="5">'
            '<p class="title"><a class="title" href="u">T</a></p>'
            '<a class="comments">3 comments</a></div>'
        )
        df = spark.createDataFrame([(html,), ('<div class="thing" data-fullname="t3_1"></div>',)], "html string")
        parsed = html_parse.parse_post_records(df)
        out = {r.post_id: r for r in parsed.collect()}
        assert out["t3_9"].is_pinned is True
        assert out["t3_9"].upvotes == 5 and out["t3_9"].comments_count == 3
        assert out["t3_1"].title is None and out["t3_1"].comments_count == 0
        kept = html_parse.drop_pinned(parsed)
        assert [r.post_id for r in kept.collect()] == ["t3_1"]


class TestGoldSink:
    def _posts(self, spark, day: int, price: float, ingest: int):
        return spark.createDataFrame(
            [
                (
                    f"t3_{day}_{i}", "title", None, None, "a", "r",
                    dt.datetime(2024, 1, day, 12), 1, 0, None, price, None,
                    None, None, None, [], dt.datetime(2024, 2, 1, ingest),
                )
                for i in range(3)
            ],
            sink_schema(),
        )

    def test_partitioned_upsert_touches_only_affected_partitions(self, spark, tmp_path):
        path = str(tmp_path / "gold")
        d1 = self._posts(spark, 1, 100.0, 0)
        d2 = self._posts(spark, 2, 200.0, 0)
        sink.write_gold(d1.unionByName(d2), path)
        files_before = _partition_files(path)
        assert set(files_before) == {"created_date=2024-01-01", "created_date=2024-01-02"}
        mtime_day2 = os.path.getmtime(os.path.join(path, "created_date=2024-01-02"))

        # update only day 1
        upd = self._posts(spark, 1, 999.0, 1)
        sink.upsert_gold(spark, path, upd)
        out = spark.read.parquet(path)
        assert out.count() == 6
        day1 = out.filter(F.col("created_date") == "2024-01-01").select("lower_salary").distinct().collect()
        assert [r.lower_salary for r in day1] == [999.0]
        day2 = out.filter(F.col("created_date") == "2024-01-02").select("lower_salary").distinct().collect()
        assert [r.lower_salary for r in day2] == [200.0]
        # dynamic overwrite left the day-2 partition untouched on disk
        assert os.path.getmtime(os.path.join(path, "created_date=2024-01-02")) == mtime_day2


def sink_schema() -> str:
    return (
        "post_id string, title string, url string, text string, author string, "
        "subreddit string, created_datetime timestamp, upvotes int, comments_count int, "
        "salary_currency string, lower_salary double, upper_salary double, "
        "job_position string, location string, field string, technologies array<string>, "
        "ingest_ts timestamp"
    )


def _partition_files(path: str) -> list[str]:
    return [d for d in os.listdir(path) if d.startswith("created_date=")]


class TestEmptyInputSchema:
    def test_transform_preserves_schema_on_empty(self, spark):
        # O4 — the reference loses schema on its empty path (SURVEY §2.7);
        # the engine must not
        empty = spark.createDataFrame([], RAW_POST_SCHEMA)
        out = pipeline.transform(empty)
        assert out.count() == 0
        for f in ["salary_currency", "lower_salary", "job_position", "technologies"]:
            assert f in out.columns


def test_gold_table_ddl_matches_gold_schema(spark, tmp_path):
    """ensure_gold_table's catalog table and GOLD_SCHEMA (the schema
    every gold read uses) agree, up to nullability."""
    from pyspark.sql import types as T

    from reddit_tech_jobs_data_pipeline_spark.schemas import GOLD_SCHEMA

    def nullable(schema):
        return T.StructType([T.StructField(f.name, f.dataType, True) for f in schema])

    name = "posts_gold_schema_pin"
    sink.ensure_gold_table(spark, str(tmp_path / "gold"), name=name)
    try:
        assert nullable(spark.table(name).schema) == nullable(GOLD_SCHEMA)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
