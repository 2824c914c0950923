"""Catalog-driven SCD2: a `scd_type: 2` spec from warehouse.yml compiles
through the same pipeline as the hand-built dimension and preserves the
SCD invariants (exactly one current row per key, no overlaps/gaps)."""

from __future__ import annotations

from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.operators.scd2 import (
    _customer_updates,
    scd2_integrity_violations,
)
from enterprise_data_warehouse_spark.plans.catalog import (
    Catalog,
    build_scd1_dimension,
    build_scd2_dimension,
)
from enterprise_data_warehouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_catalog_scd2_dimension_invariants(spark):
    spec = Catalog.load("catalog/warehouse.yml").dimension("dim_customer")
    assert int(spec["scd_type"]) == 2
    customer = load_table(spark, SF, "customer")
    dim = build_scd2_dimension(customer, _customer_updates(spark, SF), spec)

    key = spec["natural_key"]
    assert scd2_integrity_violations(dim, key).count() == 0

    # every natural key has exactly one current row
    per_key = dim.where("is_current").groupBy(key).count()
    assert per_key.where("count != 1").count() == 0
    # changed keys carry expired predecessors with aligned validity ranges
    expired = dim.where(~F.col("is_current"))
    assert expired.count() > 0
    bad_ranges = expired.where(F.col("effective_to") <= F.col("effective_from"))
    assert bad_ranges.count() == 0


def test_catalog_scd1_dimension_shape(spark):
    spec = Catalog.load("catalog/warehouse.yml").dimension("dim_part")
    part = load_table(spark, SF, "part")
    dim = build_scd1_dimension(part, spec)
    assert dim.count() == part.select("p_partkey").distinct().count()
    assert "price_tier" in dim.columns and "size_band" in dim.columns


def test_catalog_exists_in_semi_join_flag(spark):
    """dim_employee's is_manager is a YAML-declared membership semi-join:
    true exactly for employees appearing as someone's manager_id."""
    from enterprise_data_warehouse_spark.operators.facts import _registry

    spec = Catalog.load("catalog/warehouse.yml").dimension("dim_employee")
    reg = _registry(spark, SF)
    staged = reg.ref(spec["source"])
    dim = build_scd1_dimension(staged, spec, lookups={"staging_employees": staged})
    rows = {r["employee_id"]: r["is_manager"] for r in dim.collect()}
    managers = {
        r["manager_id"]
        for r in staged.where(F.col("manager_id").isNotNull()).collect()
    }
    assert rows, "empty dimension"
    for emp, flag in rows.items():
        assert flag == (emp in managers), (emp, flag)


def test_catalog_fact_sum_int_is_bigint(spark):
    """sum_int measures stay exact bigint — no decimal/double detour."""
    from enterprise_data_warehouse_spark.operators.facts import _registry
    from enterprise_data_warehouse_spark.plans.catalog import build_fact

    cat = Catalog.load("catalog/warehouse.yml")
    spec = cat.fact("fact_customer_behavior")
    reg = _registry(spark, SF)
    fact = build_fact(reg.ref(spec["source"]), spec)
    dtypes = dict(fact.dtypes)
    assert dtypes["page_views"] == "bigint" and dtypes["clicks"] == "bigint"


def test_quality_codegen_from_catalog():
    """compile_checks derives the suite purely from YAML declarations:
    natural-key defaults, per-column tests, fact relationship refs."""
    from enterprise_data_warehouse_spark.operators.quality import (
        Check,
        compile_checks,
    )

    checks = compile_checks(Catalog.load("catalog/warehouse.yml"))
    kinds = {(c.kind, c.table, c.column) for c in checks}
    # natural-key defaults
    assert ("unique", "part", "p_partkey") in kinds
    assert ("not_null", "staging_employees", "employee_id") in kinds
    # declared column tests incl. email_format and accepted_values
    assert ("email_format", "staging_employees", "email") in kinds
    assert ("accepted_values", "customer", "c_mktsegment") in kinds
    # fact relationship refs target the raw `from:` table
    assert (
        Check("relationships", "orders", "o_custkey",
              ref_table="customer", ref_column="c_custkey") in checks
    )
    assert len(checks) == len(set(checks)), "duplicate generated checks"


def test_topo_parallel_build_all(spark):
    """build_all levels the catalog graph (staging before consumers) and
    builds each level with driver-side threads; every dep's action fires
    before its dependent's."""
    import threading

    from enterprise_data_warehouse_spark.operators.facts import full_catalog_registry

    reg = full_catalog_registry(spark, SF)
    idx = {n: i for i, layer in enumerate(reg.layers()) for n in layer}
    assert idx["sales_transactions"] < idx["fact_sales_daily"]
    assert idx["staging_employees"] < idx["dim_employee"]
    assert idx["staged_products"] < idx["dim_product"]

    events, lock = [], threading.Lock()

    def act(name, df):
        n = df.count()
        with lock:
            events.append((name, n))

    built = reg.build_all(threads=8, action=act)
    done = [n for n, _ in events]
    assert set(done) == set(reg.builders), "every model built exactly once"
    assert len(done) == len(set(done))
    for name, deps in reg.deps.items():
        for d in deps:
            if d in reg.builders:
                assert done.index(d) < done.index(name), (d, name)
    assert all(n > 0 for _, n in events), "empty model build"
    assert set(built) == set(reg.builders)


def test_build_all_detects_cycles(spark):
    from enterprise_data_warehouse_spark.plans.catalog import ModelRegistry

    import pytest

    reg = ModelRegistry(spark)
    reg.add_model("a", lambda r: r.ref("b"), deps=("b",))
    reg.add_model("b", lambda r: r.ref("a"), deps=("a",))
    with pytest.raises(ValueError, match="cycle"):
        reg.layers()
