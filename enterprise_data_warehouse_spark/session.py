"""SparkSession factory.

Local test mode mirrors the driver contract (local[$SPARK_GRAFT_CPUS]); the
same configs are what we would ship to a 1000-executor cluster: AQE handles
runtime re-planning (skew joins, partition coalescing, dynamic broadcast),
Arrow accelerates every pandas boundary. Every tuning value below is a
constant; ``extra_conf`` (or ``spark.conf.set`` for runtime SQL confs) is
the one override, e.g. to size shuffle partitions to cluster cores × 2-3.
Only deployment settings come from the environment: ``SPARK_MASTER``,
``SPARK_GRAFT_CPUS`` and ``EDW_DRIVER_MEMORY``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "edw-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    At 100 TB the same settings apply, only scaled: shuffle partitions sized
    so each post-shuffle partition is ~128-200 MB, AQE coalesces the rest.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, dynamic
        # broadcast conversion — essential at scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/customer at test SF) stay under
        # this; facts never auto-broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Deliberate join strategy (guide §3.1): when a side is too big to
        # broadcast but its per-partition share fits a hash table, a
        # shuffled-hash join beats sort-merge by skipping BOTH sorts — the
        # dominant spill source of the big-big star joins (measured:
        # catalog_fact_sales_daily at sf100 spilled 42.4 GB sorting a
        # 600M×150M SMJ; SHJ removes the sorts). Static planning honors
        # size estimates; the AQE threshold converts misestimated SMJs at
        # runtime once real post-shuffle sizes are known. Both are
        # scale-independent policies (ratios/thresholds, not counts). Both
        # are runtime SQL confs: an A/B sets them through extra_conf or
        # spark.conf.set.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256MB")
        # Timestamps in testdata are TIMESTAMP_NTZ-like; keep session UTC so
        # date_trunc/extract match the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark reads it as long ns
        # with this flag, and sources.tables converts to µs timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("EDW_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
