from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@contextmanager
def count_jobs(spark):
    """Counts the Spark jobs launched inside the block: the status-tracker
    job-id delta of a fresh job group, read after the listener bus drains
    (job-start events reach the status store asynchronously)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count")
    out = {"n": 0}
    try:
        yield out
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out["n"] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="session")
def spark():
    # Deliberately a PLAIN session (no nanosAsLong / timeZone / AQE tuning):
    # the verify driver builds its own session the same way, so every query
    # must self-provision its confs via sources.tables.ensure_runtime_confs.
    # shuffle.partitions is test-speed only; it cannot change results.
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("edw-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()
