"""The schema memo of ``sources.tables.load_table``: a warm read of
unchanged local files passes the schema inferred on the first read to
``spark.read.schema`` and launches no Spark job, with the same schema and
the same result-cache key as the inferring read. A changed file set or
inference conf infers again; a path ``os.stat`` cannot resolve always
infers and is never memoized."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from enterprise_data_warehouse_spark.plans.result_cache import plan_fingerprint
from enterprise_data_warehouse_spark.queries import load_registry
from enterprise_data_warehouse_spark.sources import tables
from enterprise_data_warehouse_spark.sources.tables import TABLE_NAMES, load_table

from .conftest import SF_ORACLE, SF_SMOKE, count_jobs

BUILT = ("pricing_summary", "shipping_priority_topk", "star_revenue_rollup")


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for the test; the process-wide one comes back after."""
    fresh: dict = {}
    monkeypatch.setattr(tables, "_SCHEMAS", fresh)
    return fresh


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_warm_read_matches_inferred_schema_and_cache_key(spark, memo, sf_dir):
    for name in TABLE_NAMES:
        inferred = load_table(spark, sf_dir, name)
        assert os.path.join(sf_dir, f"{name}.parquet") in memo
        warm = load_table(spark, sf_dir, name)
        assert warm.schema == inferred.schema, name
        assert plan_fingerprint(warm) == plan_fingerprint(inferred), name


def test_warm_reads_and_builds_launch_no_job(spark, memo):
    with count_jobs(spark) as cold:
        load_table(spark, SF_ORACLE, "lineitem")
    assert cold["n"] >= 1
    with count_jobs(spark) as warm:
        load_table(spark, SF_ORACLE, "lineitem")
    assert warm["n"] == 0

    registry = load_registry()
    for name in BUILT:
        registry[name].fn(spark, SF_ORACLE)
    with count_jobs(spark) as builds:
        for name in BUILT:
            registry[name].fn(spark, SF_ORACLE)
    assert builds["n"] == 0


def test_rewritten_table_is_seen(spark, memo, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    for _ in range(2):
        assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 as extra").write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert sorted(r.extra for r in df.collect()) == [0, 2, 4]


def test_inference_conf_change_is_seen(spark, memo, tmp_path):
    """binaryAsString applies only to files without a Spark schema in their
    footer, so the table is written by pyarrow."""
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}),
                   str(tmp_path / "b.parquet"))
    for _ in range(2):
        assert dict(load_table(spark, str(tmp_path), "b").dtypes)["b"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = load_table(spark, str(tmp_path), "b")
        assert dict(df.dtypes)["b"] == "string"
        assert df.collect()[0]["b"] == "ab"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(load_table(spark, str(tmp_path), "b").dtypes)["b"] == "binary"


def test_unstatable_path_infers_and_is_not_memoized(spark, memo, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    uri = f"file://{tmp_path}"
    load_table(spark, uri, "t")
    with count_jobs(spark) as jobs:
        df = load_table(spark, uri, "t")
    assert jobs["n"] >= 1
    assert df.count() == 3
    assert memo == {}


def test_concurrent_cold_reads_agree(spark, memo):
    path = os.path.join(SF_ORACLE, "lineitem.parquet")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(4) as pool:
            futures = [pool.submit(lambda: load_table(spark, SF_ORACLE, "lineitem").schema)
                       for _ in range(4)]
            schemas = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(s == schemas[0] for s in schemas)
    assert memo[path][1] == schemas[0]
    assert load_table(spark, SF_ORACLE, "lineitem").schema == schemas[0]
