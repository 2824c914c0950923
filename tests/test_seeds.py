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


# --- JSONL ingest (sources/jsonl.py) ----------------------------------------

JSONL_SCHEMA = "doc_id bigint, text string, lang string"


def test_jsonl_good_and_bad_split(spark, tmp_path):
    from enterprise_data_warehouse_spark.sources.jsonl import read_jsonl

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr"}\n'
        "{not json at all}\n"
        '{"doc_id": "NaN-ish", "text": "bad type", "lang": "en"}\n'
    )
    good, bad = read_jsonl(spark, str(p), JSONL_SCHEMA)
    g = {r["doc_id"]: r["lang"] for r in good.collect()}
    assert g == {1: "en", 2: "fr"}
    assert good.columns == ["doc_id", "text", "lang"]
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert any("not json" in b for b in bad_lines)
    assert any("NaN-ish" in b for b in bad_lines)


def test_jsonl_to_parquet_round_trip(spark, tmp_path):
    from enterprise_data_warehouse_spark.sources.jsonl import read_jsonl
    from enterprise_data_warehouse_spark.sources.sink import write_table

    p = tmp_path / "feed.jsonl"
    p.write_text('{"doc_id": 7, "text": "t", "lang": "en"}\n')
    good, _ = read_jsonl(spark, str(p), JSONL_SCHEMA)
    out = str(tmp_path / "docs_parquet")
    write_table(good, out)
    back = spark.read.parquet(out)
    assert [tuple(r) for r in back.collect()] == [(7, "t", "en")]
