"""Side-effect operators: sinks, incremental MERGE materialization, SCD2
invariants (the dbt-test layer re-expressed — SURVEY.md §5 items 1-2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.sources.sink import (
    append_audit,
    incremental_build,
    merge_upsert,
    read_table,
    write_table,
)
from enterprise_data_warehouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_write_overwrite_append(spark, tmp_path):
    path = str(tmp_path / "t1")
    o = load_table(spark, SF, "orders")
    write_table(o, path)
    n = spark.read.parquet(path).count()
    write_table(o.limit(10), path, mode="append")
    assert spark.read.parquet(path).count() == n + 10


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "t2")
    o = load_table(spark, SF, "orders").withColumn("order_year", F.year("o_orderdate"))
    write_table(o, path, partition_by=["order_year"])
    pruned = spark.read.parquet(path).where(F.col("order_year") == 1999)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() > 0
    # partition filter must reach the scan (no full-table read)
    assert "order_year" in plan


def test_merge_upsert_delta_wins(spark, tmp_path):
    path = str(tmp_path / "t3")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_table(o, path)
    delta = o.limit(100).withColumn("o_totalprice", F.lit(-1.0))
    merge_upsert(spark, path, delta, ["o_orderkey"])
    merged = read_table(spark, path)
    assert merged.count() == o.count()
    assert merged.where(F.col("o_totalprice") == -1.0).count() == 100


def test_incremental_build_idempotent(spark, tmp_path):
    path = str(tmp_path / "t4")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice", "o_orderdate")
    first = o.where(F.col("o_orderdate") < "2000-01-01")
    write_table(first, path)
    incremental_build(spark, path, o, "o_orderdate", ["o_orderkey"])
    assert read_table(spark, path).count() == o.count()
    # replay: nothing newer than watermark → no change
    incremental_build(spark, path, o, "o_orderdate", ["o_orderkey"])
    assert read_table(spark, path).count() == o.count()


def test_scd2_invariants_two_batches(spark):
    from enterprise_data_warehouse_spark.operators.scd2 import (
        TRACKED,
        _customer_updates,
        _with_cents,
        scd2_apply,
        scd2_initial_load,
        scd2_integrity_violations,
    )

    c = _with_cents(load_table(spark, SF, "customer"))
    attrs = ["c_name", "c_mktsegment", "c_acctbal", "_acctbal_cents"]
    base = scd2_initial_load(c, "c_custkey", TRACKED, "2020-01-01", attrs=attrs)
    upd = _with_cents(_customer_updates(spark, SF))
    dim1 = scd2_apply(base, upd, "c_custkey", TRACKED, "updated_at", attrs=attrs)
    assert scd2_integrity_violations(dim1, "c_custkey").count() == 0

    # Re-applying the same batch is a no-op (hashes match → unchanged path)
    dim2 = scd2_apply(dim1, upd, "c_custkey", TRACKED, "updated_at", attrs=attrs)
    assert dim2.count() == dim1.count()
    assert scd2_integrity_violations(dim2, "c_custkey").count() == 0

    # A second real change creates one more version and expires the old one
    upd2 = upd.withColumn("c_mktsegment", F.lit("SEG2")).withColumn(
        "updated_at", F.lit("2022-01-01").cast("timestamp")
    )
    dim3 = scd2_apply(dim2, _with_cents(upd2.drop("_acctbal_cents")), "c_custkey", TRACKED, "updated_at", attrs=attrs)
    assert scd2_integrity_violations(dim3, "c_custkey").count() == 0
    keys_updated = upd2.select("c_custkey").distinct().count()
    assert dim3.count() == dim2.count() + keys_updated


def test_audit_append(spark, tmp_path):
    path = str(tmp_path / "audit")
    append_audit(spark, path, "run1", "SUCCESS", {"rows": 100})
    append_audit(spark, path, "run2", "FAILED", {"rows": 0})
    log = spark.read.parquet(path)
    assert log.count() == 2
    assert set(r["status"] for r in log.collect()) == {"SUCCESS", "FAILED"}


def test_write_with_audit_single_pass(spark, tmp_path):
    from enterprise_data_warehouse_spark.sources.sink import write_with_audit

    orders = load_table(spark, SF, "orders")
    path = str(tmp_path / "orders_out")
    audit = str(tmp_path / "audit")
    metrics = write_with_audit(
        spark,
        orders,
        path,
        audit,
        "orders_build",
        not_null_cols=["o_custkey", "o_orderdate"],
        watermark_col="o_orderdate",
    )
    n = orders.count()
    assert metrics["n_rows"] == n
    assert metrics["nulls_o_custkey"] == 0 and metrics["nulls_o_orderdate"] == 0
    assert metrics["max_watermark"] == str(
        orders.agg(F.max(F.col("o_orderdate").cast("string"))).first()[0]
    )
    # the write itself is complete and equal to the source
    assert spark.read.parquet(path).count() == n
    # audit row landed with PASS
    arow = spark.read.parquet(audit).first()
    assert arow["run_name"] == "orders_build" and arow["status"] == "PASS"


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """on_schema_change=append_new_columns semantics: a widened source
    grows the table (old rows null-fill the new column), a later narrowed
    source still merges (null-filling its gap), and the default strict
    mode keeps failing loudly on drift."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    path = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string")
    merge_upsert(spark, path, v1, ["id"])

    v2 = spark.createDataFrame(
        [(2, "b2", 20.0), (3, "c", 30.0)], "id int, val string, score double"
    )
    with pytest.raises(AnalysisException):
        merge_upsert(spark, path, v2, ["id"])  # strict default: loud fail
    merge_upsert(spark, path, v2, ["id"], evolve_schema=True)
    got = {
        r["id"]: (r["val"], r["score"])
        for r in read_table(spark, path, merge_schema=True).collect()
    }
    assert got == {1: ("a", None), 2: ("b2", 20.0), 3: ("c", 30.0)}

    v3 = spark.createDataFrame([(4, "d")], "id int, val string")  # narrowed
    merge_upsert(spark, path, v3, ["id"], evolve_schema=True)
    got = {
        r["id"]: (r["val"], r["score"])
        for r in read_table(spark, path, merge_schema=True).collect()
    }
    assert got[4] == ("d", None) and got[2] == ("b2", 20.0) and len(got) == 4


def test_incremental_build_partitioned_scoped_and_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from enterprise_data_warehouse_spark.sources.sink import (
        incremental_build_partitioned,
        read_table,
    )
    from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

    path = str(tmp_path / "fact")

    def src(rows):
        return spark.createDataFrame(
            rows, "id int, updated_at string, day string, val string"
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    batch1 = src([(1, "2024-01-01 08:00:00", "d1", "a"),
                  (2, "2024-01-02 08:00:00", "d2", "b")])
    incremental_build_partitioned(spark, path, batch1, "updated_at",
                                  ["id"], "day")
    t = VersionedTable(spark, path)
    assert t._read_marker(t.current_version())["wm"] == {
        "updated_at": "2024-01-02 08:00:00"
    }
    batch2 = src([(3, "2024-01-03 08:00:00", "d2", "c")])
    incremental_build_partitioned(spark, path, batch2, "updated_at",
                                  ["id"], "day", retain_versions=2)
    assert t._read_marker(t.current_version())["touched"] == ["d2"]
    got = {(r["id"], r["val"]) for r in read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # replay: no duplicates
    incremental_build_partitioned(spark, path, batch2, "updated_at",
                                  ["id"], "day")
    assert {(r["id"], r["val"])
            for r in read_table(spark, path).collect()} == got
