"""Streaming boilerplate ingest: per-micro-batch line document-frequency
cells appended to a persisted store, idempotently, merged at read time.

Completes the hygiene family's incremental story (the CMS/HLL store
discipline applied to template discovery): each batch of pages
contributes, per (domain, line-hash), the count of ITS documents
containing the line, plus one ``__DOCS__`` sentinel row per domain with
the batch's document count. Because every document lives in exactly one
batch, both counts are ADDITIVE over batches — the merged store equals
the single-pass counts exactly (integers, no estimate), so yesterday's
crawl never needs re-reading to re-decide what is boilerplate after
today's ingest shifts the ratios. Replay safety is the family's
standard content-derived batch-key skip; the store is append-only.

100 TB: store rows are (batches × domains × distinct-lines-per-batch)
16-byte hashes + counts — no raw line text; the merged decision is one
groupBy-sum + the threshold filter. Cleaning a NEW batch against the
accumulated store is one anti-join on (domain, line-hash).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_tech_jobs_data_pipeline_spark.operators.structure import split_lines
from reddit_tech_jobs_data_pipeline_spark.streaming import runner

#: sentinel line-hash carrying each batch's per-domain document count —
#: real hashes are 32 hex chars, so collision is impossible by format
_DOCS_ROW = "__DOCS__"

_STORE_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lh", T.StringType()),
        T.StructField("df", T.LongType()),
    ]
)


def ingest_batch_line_df(
    batch: DataFrame,
    store_path: str,
    batch_key_expr,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> None:
    """Append one batch's (domain, line-hash) document frequencies and
    per-domain doc counts under its key — skipping keys already present
    (replay safety; missing-path-only first-batch fallback, any other
    store-read failure fails the batch)."""
    store = runner.read_store(batch.sparkSession, store_path, _STORE_SCHEMA)
    keyed = batch.withColumn("__bk", batch_key_expr)
    new = runner.drop_seen(keyed, store, "__bk", "batch_key")
    lines = split_lines(
        new.select("__bk", id_col, domain_col, text_col), text_col, id_col
    ).withColumn("lh", F.md5("line"))
    cells = (
        lines.groupBy("__bk", domain_col, "lh")
        .agg(F.countDistinct(id_col).alias("df"))
        .select(
            F.col("__bk").alias("batch_key"),
            F.col(domain_col).alias("source"),
            "lh",
            "df",
        )
    )
    docs = (
        new.groupBy("__bk", domain_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            F.col("__bk").alias("batch_key"),
            F.col(domain_col).alias("source"),
            F.lit(_DOCS_ROW).alias("lh"),
            "df",
        )
    )
    out = cells.unionByName(docs)
    if not out.isEmpty():
        out.write.mode("append").parquet(store_path)


def merged_boilerplate(
    spark: SparkSession,
    store_path: str,
    min_docs: int = 2,
    df_ratio: float = 0.5,
) -> DataFrame:
    """The accumulated boilerplate decision: (source, lh) rows whose
    summed document frequency crosses the thresholds against the summed
    per-domain doc counts — raw data never re-read."""
    store = spark.read.schema(_STORE_SCHEMA).parquet(store_path)
    sums = store.groupBy("source", "lh").agg(F.sum("df").alias("df"))
    doms = (
        sums.filter(F.col("lh") == _DOCS_ROW)
        .select("source", F.col("df").alias("dom_n"))
    )
    return (
        sums.filter(F.col("lh") != _DOCS_ROW)
        .join(F.broadcast(doms), "source")
        .filter(
            (F.col("df") >= min_docs)
            & (F.col("df") >= F.lit(df_ratio) * F.col("dom_n"))
        )
        .select("source", "lh", "df", "dom_n")
    )


def run_boilerplate_ingest_batchlike(
    spark: SparkSession,
    pages: DataFrame,
    n_tags: int = 3,
    min_docs: int = 2,
    df_ratio: float = 0.5,
    ident: str = "",
) -> DataFrame:
    """Run the ingest to completion over a tag-sliced pages replay
    (doc_id % n_tags, one file per tag, maxFilesPerTrigger=1), then
    report per source: accumulated doc count and how many distinct lines
    crossed the boilerplate thresholds. Counts are integers and additive
    over the disjoint batches, so the oracle recomputes them single-pass.

    ``ident`` must name the input (e.g. the sf_dir) — it keys the work
    dir, so two concurrent runs over different inputs don't rmtree each
    other's store/checkpoint (the run_hll_ingest_batchlike contract)."""
    work = runner.scratch_dir("boiler", ident, n_tags, df_ratio)
    store = os.path.join(work, "store")
    stream = runner.tag_stream(spark, pages, F.col("doc_id") % n_tags, n_tags, work)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_batch_line_df(batch, store, batch_key_expr=F.col("doc_id") % n_tags)

    runner.drain(
        stream, _ingest, os.path.join(work, "ckpt"), "stream_boilerplate_ingest"
    )

    boiler = merged_boilerplate(spark, store, min_docs, df_ratio)
    per_src = boiler.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_boiler_lines"),
        F.min("dom_n").alias("dom_docs"),
    )
    return per_src.localCheckpoint()
