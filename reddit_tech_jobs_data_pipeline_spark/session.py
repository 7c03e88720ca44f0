"""SparkSession factory.

UTC session timezone is load-bearing: the reference pipeline is UTC
end-to-end (reference dags/dag.py:147,224 — datetime.now(timezone.utc),
fromtimestamp(tz=utc)) and the sink column is TIMESTAMPTZ (dag.py:499).
Without it, timestamp-valued oracle comparisons drift by the host offset.

AQE is on so that at real cluster scale skewed shuffle partitions get
split and post-shuffle partitions get coalesced without manual tuning;
locally it also keeps small-SF runs from scheduling 200 empty tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "reddit_tech_jobs_data_pipeline_spark") -> SparkSession:
    """Build (or fetch) the session with scale-sane defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-neutral semantics + optimizer config.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dimension tables (region/nation/supplier/part
        # at any SF we meet locally) should broadcast; at 100 TB the big
        # fact tables still exceed this by orders of magnitude, so plans
        # stay correct.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # UI off (tests spawn many sessions)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
