"""Canonical schemas.

The reference declares its sink schema once as Postgres DDL
(reference dags/dag.py:494-510) and lets pandas infer everything in the
middle — which is where its type fidelity silently degrades (datetimes
stringified for XCom at dag.py:358-360). Here the canonical `posts`
schema is a single explicit StructType and inference is never used.
"""

from __future__ import annotations

from pyspark.sql import types as T

# reference dags/dag.py:494-510 — posts table DDL.
# TIMESTAMP WITH TIME ZONE -> TimestampType under a UTC session timezone.
# TEXT[] technologies -> ArrayType(StringType).
POSTS_SCHEMA = T.StructType(
    [
        T.StructField("post_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("subreddit", T.StringType(), True),
        T.StructField("created_datetime", T.TimestampType(), True),
        T.StructField("upvotes", T.IntegerType(), True),
        T.StructField("comments_count", T.IntegerType(), True),
        T.StructField("salary_currency", T.StringType(), True),
        T.StructField("lower_salary", T.DoubleType(), True),
        T.StructField("upper_salary", T.DoubleType(), True),
        T.StructField("job_position", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("field", T.StringType(), True),
        T.StructField("technologies", T.ArrayType(T.StringType()), True),
    ]
)

# The gold table (sources/sink.py): posts, the merge version column, then
# the partition column derived from created_datetime. Gold is always read
# with it, so no read pays an inference job.
GOLD_SCHEMA = T.StructType(
    POSTS_SCHEMA.fields
    + [
        T.StructField("ingest_ts", T.TimestampType(), True),
        T.StructField("created_date", T.DateType(), True),
    ]
)

# Raw scrape record before enrichment (reference dags/dag.py:239-249
# post_data dict): what the HTML parse stage emits.
RAW_POST_SCHEMA = T.StructType(
    [
        T.StructField("post_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("subreddit", T.StringType(), True),
        T.StructField("created_datetime", T.TimestampType(), True),
        T.StructField("upvotes", T.IntegerType(), True),
        T.StructField("comments_count", T.IntegerType(), True),
        # monotonically increasing scrape order — carried so dedup survivor
        # choice (pandas keep='first', dag.py:322) is deterministic in Spark.
        T.StructField("scrape_seq", T.LongType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
