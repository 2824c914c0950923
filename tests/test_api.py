"""Warehouse façade: one surface over tables / SQL / registry queries /
catalog models / result cache."""

from __future__ import annotations

from enterprise_data_warehouse_spark.api import Warehouse

from .conftest import SF_ORACLE, count_jobs

SF = "/root/testdata/sf0.001"


def _wh(spark, **kw) -> Warehouse:
    return Warehouse(spark=spark, sf_dir=SF, **kw)


def test_sql_and_table_agree(spark):
    wh = _wh(spark)
    assert wh.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"] == (
        wh.table("orders").count()
    )


def test_registry_query_runs_and_oracle_exposed(spark):
    wh = _wh(spark)
    assert "pricing_summary" in wh.query_names()
    rows = wh.query("pricing_summary").collect()
    assert len(rows) > 0
    assert "l_returnflag" in (wh.oracle_sql("pricing_summary") or "")
    assert wh.oracle_sql("streaming_hourly_counts") is None


def test_build_models_compiles_all(spark):
    wh = _wh(spark)
    built = wh.build_models(threads=4)
    assert set(built) == set(wh.models().builders)
    for df in built.values():
        assert df.columns  # compiled plans with real schemas


def test_cached_query_round_trip(spark, tmp_path):
    wh = _wh(spark, cache_root=str(tmp_path / "rc"))
    out1, hit1 = wh.cached_query("order_priority_counts", {"orders": 1})
    out2, hit2 = wh.cached_query("order_priority_counts", {"orders": 1})
    assert (hit1, hit2) == (False, True)
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_two_warehouses_do_not_cross_serve(spark):
    from enterprise_data_warehouse_spark.api import Warehouse

    wh_small = Warehouse(spark=spark, sf_dir="/root/testdata/sf0.001")
    wh_big = Warehouse(spark=spark, sf_dir="/root/testdata/sf0.01")
    n_small = wh_small.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    n_big = wh_big.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    n_small_again = wh_small.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    assert n_small == n_small_again == 1500
    assert n_big == 15000


def test_register_views_on_warm_process_launches_no_job(spark):
    wh = Warehouse(spark, SF_ORACLE)
    wh.register_views()
    with count_jobs(spark) as jobs:
        wh.register_views()
    assert jobs["n"] == 0
    assert wh.sql("SELECT count(*) FROM region").collect()[0][0] == 5


def test_explain_returns_formatted_plan(spark):
    wh = _wh(spark)
    plan = wh.explain("pricing_summary")
    assert "HashAggregate" in plan and "Scan parquet" in plan


def test_catalog_docgen_covers_every_model(spark):
    from enterprise_data_warehouse_spark.plans.catalog import Catalog
    from enterprise_data_warehouse_spark.plans.docgen import catalog_markdown

    path = "catalog/warehouse.yml"
    md = catalog_markdown(path)
    cat = Catalog.load(path)
    for f in cat.facts:
        assert f"### {f['name']}" in md
        for m in f.get("measures", []):
            assert m["name"] in md
    for d in cat.dimensions:
        assert f"### {d['name']}" in md
    assert "relationships test vs `customer.c_custkey`" in md


def test_cli_list_and_oracle(capsys):
    from enterprise_data_warehouse_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "* pricing_summary" in out
    assert main(["oracle", "pricing_summary"]) == 0
    assert "l_returnflag" in capsys.readouterr().out
    assert main(["docs"]) == 0
    assert "fact_sales_daily" in capsys.readouterr().out


def test_cli_table_skipping_handles_empty_table(spark, tmp_path, capsys, monkeypatch):
    """ADVICE r07: table-skipping on a path with no committed version must
    print a clean null report, not TypeError on the marker-path format."""
    import json

    import enterprise_data_warehouse_spark.__main__ as cli
    import enterprise_data_warehouse_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    assert cli.main(["table-skipping", str(tmp_path / "nothing-here")]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out == {"version": None, "stats": None, "bloom": None,
                   "pcol": None, "n_mapped": None}
