"""The commit marker's recorded ``schema``: it must equal what Spark's
schema inference returns for the version's files, for every committing op
and every column type, so that reads passing it to ``spark.read.schema``
see exactly the schema and rows an inferring read sees. Reads of committed
versions and result-cache entries then launch no Spark job. Markers
without a usable schema (older markers, ``partition_by`` commits,
partitioned merges that change the schema) must keep inferring."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from enterprise_data_warehouse_spark.plans.result_cache import ResultCache
from enterprise_data_warehouse_spark.sources.sink import (
    _adopt_plain,
    read_table,
)
from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

from .conftest import count_jobs

# one column per type family whose parquet round trip has a quirk:
# timezone semantics, decimal precision, char padding, nesting, binary
TYPED = {
    "timestamp": "timestamp'2024-01-02 03:04:05'",
    "timestamp_ntz": "timestamp_ntz'2024-01-02 03:04:05'",
    "decimal": "cast(id as decimal(12, 2))",
    "char": "cast('ab' as char(3))",
    "array": "array(id, id + 1)",
    "struct": "named_struct('a', id, 'b', array(named_struct('c', 'x')))",
    "map": "map('k', id)",
    "date": "date'2024-01-02'",
    "binary": "cast('ab' as binary)",
}


def _typed(spark, ids=range(6)):
    cols = ["cast(id as int) as id", "cast(id % 3 as string) as part"]
    cols += [f"{expr} as c_{name}" for name, expr in TYPED.items()]
    return spark.range(ids.start, ids.stop).selectExpr(*cols)


def _dirs(t: VersionedTable, meta: dict) -> list[str]:
    rels = sorted(meta["parts"].values()) if meta.get("parts") else [meta["dir"]]
    return [t._abs(rel) for rel in rels]


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.collect())


def _strip_schema(root, version: int) -> None:
    marker = root / "_commits" / f"v{version:08d}.json"
    meta = json.loads(marker.read_text())
    del meta["schema"]
    marker.write_text(json.dumps(meta, sort_keys=True))
    for crc in root.glob("_commits/.*.crc"):
        crc.unlink()


def _op_commit(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_typed(spark))
    return t


def _op_merge(spark, tmp_path):
    t = _op_commit(spark, tmp_path)
    t.merge(_typed(spark, range(4, 9)), keys=["id"])
    return t


def _op_merge_partitioned_fresh(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(_typed(spark), keys=["id"], partition_col="part")
    return t


def _op_merge_partitioned_inherited(spark, tmp_path):
    t = _op_merge_partitioned_fresh(spark, tmp_path)
    t.merge_partitioned(_typed(spark, range(4, 5)), keys=["id"],
                        partition_col="part")
    assert len(t._read_marker(t.current_version())["touched"]) == 1
    return t


def _op_adopt(spark, tmp_path):
    path = str(tmp_path / "t")
    _typed(spark).write.parquet(path)
    t = VersionedTable(spark, path)
    _adopt_plain(t)
    return t


def _op_erase(spark, tmp_path):
    t = _op_commit(spark, tmp_path)
    t.erase(spark.createDataFrame([(1,), (2,)], "id int"), keys=["id"])
    return t


def _op_compact(spark, tmp_path):
    t = _op_merge_partitioned_fresh(spark, tmp_path)
    t.compact()
    return t


def _op_clone(spark, tmp_path):
    parent = _op_merge_partitioned_fresh(spark, tmp_path)
    return parent.clone(str(tmp_path / "clone"))


# case -> (table-building function, the op its current marker records)
OPS = {
    "commit": (_op_commit, "overwrite"),
    "merge": (_op_merge, "merge"),
    "merge_partitioned_fresh": (_op_merge_partitioned_fresh, "merge_partitioned"),
    "merge_partitioned_inherited": (_op_merge_partitioned_inherited,
                                    "merge_partitioned"),
    "adopt": (_op_adopt, "adopt"),
    "erase": (_op_erase, "erase"),
    "compact": (_op_compact, "compact"),
    "clone": (_op_clone, "clone"),
}


@pytest.mark.parametrize("case", sorted(OPS))
def test_recorded_schema_equals_inference_for_every_op(spark, tmp_path, case):
    build, op = OPS[case]
    t = build(spark, tmp_path)
    version, meta = t.current()
    assert meta["op"] == op
    inferred = spark.read.parquet(*_dirs(t, meta))
    assert StructType.fromJson(meta["schema"]) == inferred.schema
    got = t.read(version)
    assert got.schema == inferred.schema
    assert _rows(got) == _rows(inferred)


@pytest.mark.parametrize("kind", sorted(TYPED))
def test_recorded_schema_equals_inference_for_every_type(spark, tmp_path, kind):
    df = spark.range(3).selectExpr("id", f"{TYPED[kind]} as v")
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df)
    meta = t._read_marker(1)
    inferred = spark.read.parquet(t._abs(meta["dir"]))
    assert StructType.fromJson(meta["schema"]) == inferred.schema
    assert _rows(t.read()) == _rows(inferred)


def test_marker_without_schema_still_infers(spark, tmp_path):
    """Markers written before the field existed read as they always did."""
    t = _op_commit(spark, tmp_path)
    with_schema = t.read()
    _strip_schema(tmp_path / "t", 1)
    assert "schema" not in t._read_marker(1)
    inferred = t.read()
    assert inferred.schema == with_schema.schema
    assert _rows(inferred) == _rows(with_schema)
    # and a merge on top of it records a schema again
    t.merge(_typed(spark, range(2)), keys=["id"])
    assert "schema" in t._read_marker(2)


def test_partition_by_commit_infers(spark, tmp_path):
    """Hive partition columns read back LAST with inferred types, so a
    partition_by commit records no schema."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(6).selectExpr("id", "id % 2 as k", "'x' as s"),
             partition_by=["k"])
    meta = t._read_marker(1)
    assert "schema" not in meta
    inferred = spark.read.parquet(t._abs(meta["dir"]))
    assert [f.name for f in inferred.schema] == ["id", "s", "k"]
    assert t.read().schema == inferred.schema
    assert _rows(t.read()) == _rows(inferred)


def test_evolve_schema_merge_reads_like_inference(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(3).selectExpr("id", "'a' as v"))
    t.merge(spark.range(2, 5).selectExpr("id", "'b' as v", "id * 10 as w"),
            keys=["id"], evolve_schema=True)
    meta = t._read_marker(2)
    inferred = spark.read.parquet(t._abs(meta["dir"]))
    for got in (t.read(), t.read(merge_schema=True)):
        assert got.schema == inferred.schema
        assert _rows(got) == _rows(inferred)
    assert [f.name for f in inferred.schema] == ["id", "v", "w"]
    assert sorted(r.w for r in t.read().collect() if r.w is not None) == [20, 30, 40]


def test_partitioned_merge_that_changes_schema_infers(spark, tmp_path):
    """An inherited parts map whose new files differ in schema from the
    recorded one (here: a column comment added) holds files of two
    schemas, so the marker drops the schema and reads infer, exactly as an
    unrecorded read of the mapped dirs; the next merge with an unchanged
    schema still infers, because the inherited map has no recorded schema
    to match."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    base = spark.range(6).selectExpr("id", "cast(id % 3 as string) as part",
                                     "id * 10 as v")
    t.merge_partitioned(base, keys=["id"], partition_col="part")
    assert "schema" in t._read_marker(1)
    commented = base.where("id = 0").select(
        "id", "part", F.col("v").alias("v", metadata={"comment": "cents"}))
    t.merge_partitioned(commented, keys=["id"], partition_col="part")
    t.merge_partitioned(base.where("id = 1"), keys=["id"], partition_col="part")
    for version in (2, 3):
        meta = t._read_marker(version)
        assert "schema" not in meta
        inferred = spark.read.parquet(*_dirs(t, meta))
        assert t.read(version).schema == inferred.schema
        assert _rows(t.read(version)) == _rows(inferred)
    assert sorted(r.v for r in t.read().collect()) == [0, 10, 20, 30, 40, 50]


def test_reads_launch_no_spark_job(spark, tmp_path):
    """read_table of a committed table (plain and partition-mapped), a
    time-travel read and a result-cache hit each build their DataFrame
    without a Spark job; a marker without a schema still pays the
    inference job, which shows the count is not vacuous."""
    plain = _op_merge(spark, tmp_path / "a")
    mapped = _op_merge_partitioned_inherited(spark, tmp_path / "b")
    for path in (plain.root, mapped.root):
        with count_jobs(spark) as jobs:
            read_table(spark, path)
        assert jobs["n"] == 0, path
    with count_jobs(spark) as jobs:
        plain.read(version=1)
    assert jobs["n"] == 0

    cache = ResultCache(spark, str(tmp_path / "cache"))

    def totals():
        return read_table(spark, plain.root).agg(F.count("*").alias("n"))

    _, hit = cache.get_or_build("totals", totals(), {"t": 2})
    assert not hit
    with count_jobs(spark) as jobs:
        out, hit = cache.get_or_build("totals", totals(), {"t": 2})
    assert hit and jobs["n"] == 0
    assert out.collect()[0]["n"] == 9

    _strip_schema(tmp_path / "a" / "t", 2)
    with count_jobs(spark) as jobs:
        read_table(spark, plain.root)
    assert jobs["n"] >= 1


def test_result_cache_key_names_the_schema(spark, tmp_path):
    """Canonicalized plans erase alias names, so the output schema is part
    of the key: a renamed column is a different entry, never the first
    entry read back under the new name (which would read as all-null)."""
    cache = ResultCache(spark, str(tmp_path / "cache"))
    base = spark.range(10)
    n, hit_n = cache.get_or_build("q", base.agg(F.count("*").alias("n")))
    m, hit_m = cache.get_or_build("q", base.agg(F.count("*").alias("m")))
    assert not hit_n and not hit_m
    assert n.collect()[0]["n"] == 10 and m.collect()[0]["m"] == 10
