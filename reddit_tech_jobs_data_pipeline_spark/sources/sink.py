"""Gold-table sink: DDL bootstrap + date-partitioned parquet layout.

Replaces the reference's Postgres DDL + btree index (S7, dags/dag.py:490-514):
the ``created_date`` partition column + parquet column statistics serve the
same access pattern the ``idx_posts_created_datetime`` index served —
watermark probes (max over recent partitions) and recency filters prune to
a handful of partitions instead of scanning the table.

At 100 TB: daily partitions keep rewrite units bounded (upsert_gold and
purge_keys rewrite only the partitions a batch touches); a second-level
bucket-by on the merge
key (post_id) would additionally make upsert joins shuffle-free — noted
here because vanilla parquet tables only support bucketing through the
catalog (``bucketBy`` + saveAsTable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.maintenance import (
    hadoop_fs,
    partition_staging_path,
    read_store,
    recover_interrupted_swap,
    swap_partitions,
)
from reddit_tech_jobs_data_pipeline_spark.operators.merge import merge_upsert
from reddit_tech_jobs_data_pipeline_spark.schemas import GOLD_SCHEMA

PARTITION_COL = "created_date"


def _touched_pred(touched: list) -> F.Column:
    """Membership predicate over partition values that is NULL-correct:
    ``isin()`` never matches NULL (SQL three-valued logic), so a null
    partition value — possible because ``created_date`` derives from a
    nullable timestamp and lands on disk as ``__HIVE_DEFAULT_PARTITION__``
    — needs an explicit ``isNull`` arm. Without it, null-partition rows
    are invisible to the touched-partition filters and a rewrite would
    silently drop (upsert) or wrongly delete (purge) them."""
    pred = F.col(PARTITION_COL).isin([v for v in touched if v is not None])
    if any(v is None for v in touched):
        pred = pred | F.col(PARTITION_COL).isNull()
    return pred


def ensure_gold_table(spark: SparkSession, path: str, name: str = "posts_gold") -> None:
    """CREATE TABLE IF NOT EXISTS analog (S7): external parquet table
    partitioned by date, registered in the session catalog. Its columns
    are GOLD_SCHEMA's, the schema every gold read uses."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in GOLD_SCHEMA)
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {name} ({cols})
        USING parquet
        PARTITIONED BY ({PARTITION_COL})
        LOCATION '{path}'
        """
    )


def with_partition_col(df: DataFrame, ts_col: str = "created_datetime") -> DataFrame:
    return df.withColumn(PARTITION_COL, F.to_date(F.col(ts_col)))


def write_gold(df: DataFrame, path: str) -> None:
    """Initial/full write of the partitioned layout.

    Rows are clustered by post_id within each date partition
    (sortWithinPartitions): parquet row-group min/max stats on post_id
    then prune point lookups and merge-key probes inside a partition —
    the poor man's secondary index, free at write time."""
    (
        with_partition_col(df)
        .sortWithinPartitions(PARTITION_COL, "post_id")
        .write.mode("overwrite")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )


def upsert_gold(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    version_col: str = "ingest_ts",
    touched: list | None = None,
) -> None:
    """S8/D2 — keyed last-writer-wins upsert touching ONLY the partitions
    present in the incoming batch.

    Gold's touched partitions are read with GOLD_SCHEMA (read_store: a
    crashed swap is finished first, and an unreadable gold raises rather
    than reading as empty), merged with ``new``, and the merge is written
    once to a staging sibling. swap_partitions then moves each staged
    partition over gold's copy by delete + rename: no file of gold is
    deleted while the merge still reads it, untouched partitions keep
    their files byte-identical, and a crash during the moves is rolled
    forward by the next read (recover_interrupted_swap). A transactional
    table format would make this a single-commit MERGE.

    ``touched`` lists the batch's partition values when the caller
    already has them (run_incremental observes them while materializing
    silver); without it one distinct-collect over ``new`` finds them.

    INVARIANT: the partition column derives from ``created_datetime``,
    which is immutable per post_id (a post's creation time never changes;
    the reference's ON CONFLICT upsert relies on the same fact). Updates
    therefore always land in the partition that already holds their key.
    A merge key whose partition attribute can change would need a
    key→partition index or a full-key semi-join — different operator.
    """
    new = with_partition_col(new)
    if touched is None:
        touched = [r[0] for r in new.select(PARTITION_COL).distinct().collect()]
    old = read_store(spark, path, GOLD_SCHEMA)
    if old is None:
        raise FileNotFoundError(f"upsert_gold: no gold table at {path}; write_gold bootstraps it")
    merged = merge_upsert(old.filter(_touched_pred(touched)), new, ["post_id"], version_col)
    staging = partition_staging_path(path)
    merged.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(staging)
    swap_partitions(spark, staging, path)


def purge_keys(spark: SparkSession, path: str, keys: DataFrame, key_col: str = "post_id") -> int:
    """Targeted row deletion (the right-to-erasure / bad-record purge
    corner of the sink's CRUD surface): remove every row whose key
    appears in ``keys``, rewriting ONLY the partitions that contain one.
    Returns the number of rows removed.

    One aggregate over the table (a broadcast left join of the tiny key
    list, projected to the key and partition columns) counts, per
    partition, its rows and its purged rows. Partitions with a purged
    row are the touched ones; those where every row is purged are
    emptied. The survivors of the others are staged once (left_anti) and
    swapped in through the same crash-safe partition swap as upsert_gold.
    Untouched partitions keep their files byte-identical
    (tests/test_purge.py proves it).

    An emptied partition has no row left to carry it into staging, so it
    is marked there by an empty ``col=value`` directory, created before
    the staging write commits: the swap deletes gold's copy, and a crash
    rolls the deletion forward with the rest. Directory names use Spark's
    own escaping (_escape_partition_value), so a value with special
    characters or a NULL one deletes the directory that is really there.
    """
    recover_interrupted_swap(spark, path)
    hit = keys.select(F.col(key_col)).distinct()
    table = spark.read.parquet(path)
    parts = (
        table.join(F.broadcast(hit.withColumn("__hit", F.lit(1))), key_col, "left")
        .groupBy(PARTITION_COL)
        .agg(F.count("__hit").alias("hits"), F.count(F.lit(1)).alias("rows"))
        .filter(F.col("hits") > 0)
        .collect()
    )
    if not parts:
        return 0
    staging = partition_staging_path(path)
    fs, root = hadoop_fs(spark, staging)
    fs.delete(root, True)
    for r in parts:
        if r["hits"] == r["rows"]:
            e = _escape_partition_value(spark, r[0])
            fs.mkdirs(spark._jvm.org.apache.hadoop.fs.Path(f"{staging}/{PARTITION_COL}={e}"))
    kept = [r[0] for r in parts if r["hits"] < r["rows"]]
    (
        table.filter(_touched_pred(kept))
        .join(F.broadcast(hit), key_col, "left_anti")
        .write.mode("append")
        .partitionBy(PARTITION_COL)
        .parquet(staging)
    )
    swap_partitions(spark, staging, path)
    return sum(r["hits"] for r in parts)


def _escape_partition_value(spark: SparkSession, v) -> str:
    """Spark's own partition-directory encoding for a value — the same
    `ExternalCatalogUtils.escapePathName` the writer uses, so names built
    here always match what `partitionBy` put on disk. A null partition
    value is written by Spark as the `__HIVE_DEFAULT_PARTITION__`
    directory (never the string 'None'), so it maps there explicitly —
    possible in practice because the partition column derives from a
    nullable timestamp."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
        str(v)
    )
