"""S4 CSV seed source: typed load, FAILFAST on malformed rows, round-trip."""

from __future__ import annotations

import pytest

from enterprise_data_warehouse_spark.sources.seeds import load_csv_seed, seed_to_table

SCHEMA = "country_code string, country_name string, region_key int"


def test_seed_load_typed(spark, tmp_path):
    p = tmp_path / "countries.csv"
    p.write_text(
        "country_code,country_name,region_key\n"
        "US,United States,1\nDE,Germany,3\nJP,Japan,2\n"
    )
    df = load_csv_seed(spark, str(p), SCHEMA)
    assert df.columns == ["country_code", "country_name", "region_key"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string",
        "string",
        "int",
    ]
    rows = {r["country_code"]: r["region_key"] for r in df.collect()}
    assert rows == {"US": 1, "DE": 3, "JP": 2}


def test_seed_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("country_code,country_name,region_key\nUS,United States,not_an_int\n")
    df = load_csv_seed(spark, str(p), SCHEMA)
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


def test_seed_round_trip(spark, tmp_path):
    p = tmp_path / "countries.csv"
    p.write_text("country_code,country_name,region_key\nUS,United States,1\n")
    out = tmp_path / "seed_table"
    seed_to_table(load_csv_seed(spark, str(p), SCHEMA), str(out))
    back = spark.read.parquet(str(out))
    assert back.count() == 1
    assert back.first()["country_name"] == "United States"
