"""Partition-scoped MERGE on the commit-manifest layout: correctness AND
the file-level guarantee — a delta touching one partition must leave every
other partition's data files physically untouched (the marker's parts map
keeps pointing at the older versions' immutable dirs)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.sources.sink import (
    merge_upsert_partitioned,
    read_table,
)
from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

from .conftest import count_jobs


def _files_with_mtimes(root: str, rel: str) -> dict[str, float]:
    d = os.path.join(root, rel)
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def _parts_map(spark, path: str) -> dict[str, str]:
    t = VersionedTable(spark, path)
    return t._read_marker(t.current_version())["parts"]


def test_partition_scoped_merge(spark, tmp_path):
    path = str(tmp_path / "fact")
    initial = spark.createDataFrame(
        [
            (1, "2024-01-01", 10.0),
            (2, "2024-01-01", 20.0),
            (3, "2024-01-02", 30.0),
            (4, "2024-01-03", 40.0),
        ],
        "id int, date_key string, amount double",
    )
    merge_upsert_partitioned(spark, path, initial, ["id"], "date_key")

    parts_v1 = _parts_map(spark, path)
    assert set(parts_v1) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    untouched_before = {
        p: _files_with_mtimes(path, parts_v1[p])
        for p in ("2024-01-02", "2024-01-03")
    }

    delta = spark.createDataFrame(
        [(2, "2024-01-01", 99.0), (5, "2024-01-01", 50.0)],
        "id int, date_key string, amount double",
    )
    merge_upsert_partitioned(spark, path, delta, ["id"], "date_key")

    got = {
        (r["id"]): (str(r["date_key"]), r["amount"])
        for r in read_table(spark, path).collect()
    }
    assert got == {
        1: ("2024-01-01", 10.0),
        2: ("2024-01-01", 99.0),  # updated
        3: ("2024-01-02", 30.0),
        4: ("2024-01-03", 40.0),
        5: ("2024-01-01", 50.0),  # inserted
    }

    # untouched partitions: v2's marker still maps them to v1's dirs, and
    # those files are identical byte-for-byte timestamps
    parts_v2 = _parts_map(spark, path)
    assert parts_v2["2024-01-02"] == parts_v1["2024-01-02"]
    assert parts_v2["2024-01-03"] == parts_v1["2024-01-03"]
    assert parts_v2["2024-01-01"] != parts_v1["2024-01-01"]  # rewritten
    for p, before in untouched_before.items():
        after = _files_with_mtimes(path, parts_v2[p])
        assert after == before, p

    # write volume ∝ touched: v2's staged dir holds ONLY the touched
    # partition's subdir — untouched partitions were not rewritten anywhere
    t = VersionedTable(spark, path)
    v2_dir = t._read_marker(t.current_version())["dir"]
    staged = [
        d for d in os.listdir(os.path.join(path, v2_dir))
        if d.startswith("_pv=")
    ]
    assert staged == ["_pv=2024-01-01"]


def test_partitioned_merge_idempotent(spark, tmp_path):
    path = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "id int, date_key string, amount double",
    )
    merge_upsert_partitioned(spark, path, batch, ["id"], "date_key")
    merge_upsert_partitioned(spark, path, batch, ["id"], "date_key")
    assert read_table(spark, path).count() == 2


def test_partitioned_merge_kill_before_marker_keeps_table(spark, tmp_path):
    """Crash window: v2's partition data fully staged but no marker —
    readers still see v1 complete; a re-run commits cleanly."""
    path = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "id int, date_key string, amount double",
    )
    merge_upsert_partitioned(spark, path, batch, ["id"], "date_key")
    t = VersionedTable(spark, path)

    # simulate the dead writer: stage v2-like data with no marker
    orphan = t._stage_data(
        spark.createDataFrame([(9, "2024-01-09", 9.0)], batch.schema), version=2
    )
    assert os.path.isdir(tmp_path / "fact" / orphan)
    assert read_table(spark, path).count() == 2  # v1 intact

    delta = spark.createDataFrame([(2, "2024-01-02", 22.0)], batch.schema)
    merge_upsert_partitioned(spark, path, delta, ["id"], "date_key")
    got = {r["id"]: r["amount"] for r in read_table(spark, path).collect()}
    assert got == {1: 1.0, 2: 22.0}
    # vacuum reclaims the orphan but must KEEP v1's dir — v2's parts map
    # still references it for the untouched partition
    removed = t.vacuum(keep=1, orphan_grace_ms=0)
    assert orphan in removed["orphans"]
    got = {r["id"]: r["amount"] for r in read_table(spark, path).collect()}
    assert got == {1: 1.0, 2: 22.0}


def test_plain_parquet_target_is_adopted(spark, tmp_path):
    """A pre-existing plain (hive-partitioned) parquet table is migrated
    into the manifest layout on first merge; nothing is lost."""
    path = str(tmp_path / "fact")
    initial = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "id int, date_key string, amount double",
    )
    initial.write.partitionBy("date_key").parquet(path)  # legacy layout
    delta = spark.createDataFrame(
        [(2, "2024-01-02", 22.0), (3, "2024-01-03", 3.0)],
        "id int, date_key string, amount double",
    )
    merge_upsert_partitioned(spark, path, delta, ["id"], "date_key")
    got = {
        r["id"]: (str(r["date_key"]), r["amount"])
        for r in read_table(spark, path).collect()
    }
    assert got == {
        1: ("2024-01-01", 1.0),
        2: ("2024-01-02", 22.0),
        3: ("2024-01-03", 3.0),
    }
    # legacy hive dirs are gone; manifest layout only
    top = set(os.listdir(path))
    assert "_commits" in top
    assert not [d for d in top if d.startswith("date_key=")]


def test_null_partition_values_survive_merges(spark, tmp_path):
    """NULL partition values land in the hive default dir; the parts map
    must key them consistently so a later merge touching the null
    partition finds its survivors (regression: str(None) key orphaned the
    existing null partition — silent data loss)."""
    path = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, None, 1.0), (2, "2024-01-02", 2.0)],
        "id int, date_key string, amount double",
    )
    merge_upsert_partitioned(spark, path, batch, ["id"], "date_key")
    delta = spark.createDataFrame(
        [(3, None, 3.0)], "id int, date_key string, amount double"
    )
    merge_upsert_partitioned(spark, path, delta, ["id"], "date_key")
    got = {
        r["id"]: (r["date_key"], r["amount"])
        for r in read_table(spark, path).collect()
    }
    assert got == {
        1: (None, 1.0),  # existing null-partition row survives
        2: ("2024-01-02", 2.0),
        3: (None, 3.0),
    }


def test_date_typed_partition_column(spark, tmp_path):
    """A DATE-typed partition key must round-trip through the string-keyed
    parts map (cast-to-string on the touched list == hive dir name) and
    keep its type in the data files."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "id int, d string, amount double",
    ).withColumn("d", F.col("d").cast("date"))
    merge_upsert_partitioned(spark, path, batch, ["id"], "d")
    delta = spark.createDataFrame(
        [(2, "2024-01-02", 22.0)], "id int, d string, amount double"
    ).withColumn("d", F.col("d").cast("date"))
    merge_upsert_partitioned(spark, path, delta, ["id"], "d")
    out = read_table(spark, path)
    assert dict(out.dtypes)["d"] == "date"
    got = {r["id"]: (str(r["d"]), r["amount"]) for r in out.collect()}
    assert got == {1: ("2024-01-01", 1.0), 2: ("2024-01-02", 22.0)}


def test_empty_string_partition_survives_second_merge(spark, tmp_path):
    """Spark writes BOTH null and '' partition values to
    __HIVE_DEFAULT_PARTITION__; the touched-partition keys must map ''
    the same way or the second merge touching '' skips the survivor read
    and overwrites the parts-map entry — silent loss of every
    default-partition row not in the delta."""
    from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

    path = str(tmp_path / "fact")
    t = VersionedTable(spark, path)
    mk = lambda rows: spark.createDataFrame(rows, "id int, pcol string, v string")
    t.merge_partitioned(mk([(1, "", "keep"), (2, "a", "a1")]), ["id"], "pcol")
    # second merge touches the ''-partition with a DIFFERENT key
    t.merge_partitioned(mk([(3, "", "new")]), ["id"], "pcol")
    got = {(r["id"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "keep"), (2, "a1"), (3, "new")}
    # and null + '' in one delta must not double-read the default dir
    t.merge_partitioned(mk([(4, None, "n1"), (5, "", "e1")]), ["id"], "pcol")
    got = {(r["id"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "keep"), (2, "a1"), (3, "new"), (4, "n1"), (5, "e1")}


def test_partition_mapped_prune_selects_mapped_dirs(spark, tmp_path):
    """read(prune={pcol: value}) on a partition-mapped version touches
    only the matching mapped dirs (Delta partition pruning on the
    manifest); ranges, unfaithful value types, and foreign columns fail
    open to the full union; a value with no mapped partition returns an
    empty frame with the full schema."""
    from pyspark.sql import functions as F

    def mk(rows):
        return spark.createDataFrame(rows, "id int, day string, val string")

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(mk([(1, "d1", "a"), (2, "d2", "b")]), ["id"], "day")
    t.merge_partitioned(mk([(3, "d3", "c")]), ["id"], "day")
    meta = t._read_marker(t.current_version())
    assert meta["pcol"] == "day" and len(meta["parts"]) == 3
    full = t.read()
    n_full = len(full.inputFiles())
    one = t.read(prune={"day": "d2"})
    assert len(one.inputFiles()) < n_full
    assert [(r.id, r.val) for r in one.where("day = 'd2'").collect()] == [(2, "b")]
    # IN-list selects exactly the named partitions
    two = t.read(prune={"day": ["d1", "d3", "nope"]})
    assert sorted(r.id for r in two.collect()) == [1, 3]
    # missing value: empty result, schema intact
    empty = t.read(prune={"day": "never"})
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "day", "val"]
    # fail-open shapes: range band, float probe, foreign column
    assert t.read(prune={"day": ("d1", "d3")}).count() == 3
    assert t.read(prune={"day": 1.5}).count() == 3
    assert t.read(prune={"val": "a"}).count() == 3


def test_partition_mapped_prune_int_keys_and_pcol_continuity(spark, tmp_path):
    """Int partition values match through the str() key form; switching
    partition_col mid-history drops pcol so pruning fails open instead of
    matching keys from the wrong column."""
    def mk(rows):
        return spark.createDataFrame(rows, "id int, bucket int, region string")

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(mk([(1, 10, "eu"), (2, 20, "us")]), ["id"], "bucket")
    got = t.read(prune={"bucket": 20}).where("bucket = 20").collect()
    assert [(r.id, r.region) for r in got] == [(2, "us")]
    # same column again: pcol persists
    t.merge_partitioned(mk([(3, 30, "ap")]), ["id"], "bucket")
    assert t._read_marker(t.current_version())["pcol"] == "bucket"
    # switch columns: mixed keys -> pcol dropped -> prune fails open
    t.merge_partitioned(mk([(4, 40, "sa")]), ["id"], "region")
    meta = t._read_marker(t.current_version())
    assert "pcol" not in meta
    assert t.read(prune={"bucket": 20}).count() == 4


def test_partition_mapped_prune_empty_string_routes_to_default_dir(spark, tmp_path):
    """'' partition values live in __HIVE_DEFAULT_PARTITION__ (with the
    original column keeping '' inside the files); pruning on '' must
    select that dir, not return a wrongly-empty frame."""
    def mk(rows):
        return spark.createDataFrame(rows, "id int, day string, val string")

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(
        mk([(1, "", "empty"), (2, None, "null"), (3, "d1", "a")]),
        ["id"], "day",
    )
    got = t.read(prune={"day": ""}).where("day = ''").collect()
    assert [(r.id, r.val) for r in got] == [(1, "empty")]
    # the default dir is shared with nulls; the superset + filter stays exact
    n = t.read(prune={"day": ["", "d1"]})
    assert sorted(r.id for r in n.where("day = '' OR day = 'd1'").collect()) == [1, 3]


def test_partition_mapped_prune_survives_clone(spark, tmp_path):
    def mk(rows):
        return spark.createDataFrame(rows, "id int, day string, val string")

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(mk([(1, "d1", "a"), (2, "d2", "b")]), ["id"], "day")
    c = t.clone(str(tmp_path / "dev"))
    assert c._read_marker(1)["pcol"] == "day"
    pruned = c.read(prune={"day": "d2"})
    assert len(pruned.inputFiles()) < len(c.read().inputFiles())
    assert [(r.id, r.val) for r in pruned.where("day = 'd2'").collect()] == [(2, "b")]


def test_partition_prune_random_probes_always_answer_preserving(spark, tmp_path):
    """Randomized sweep over the partition-prune surface: random point
    and IN-list probes (hits, misses, '', int-typed) against a
    multi-merge partition-mapped table must equal full-read + filter."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(13)

    def mk(rows):
        return spark.createDataFrame(rows, "id int, day string, val string")

    days = [f"d{i}" for i in range(9)] + [""]
    t = VersionedTable(spark, str(tmp_path / "t"))
    rows = [(i, days[int(rng.integers(0, len(days)))], f"v{i}")
            for i in range(400)]
    t.merge_partitioned(mk(rows[:250]), ["id"], "day")
    t.merge_partitioned(mk(rows[250:]), ["id"], "day")
    full = t.read()

    universe = days + ["nope", "d99"]
    for _ in range(20):
        k = int(rng.integers(1, 4))
        probe = [universe[int(rng.integers(0, len(universe)))]
                 for _ in range(k)]
        band = probe[0] if k == 1 else probe
        cond = F.col("day").isin(probe)
        want = sorted(r.id for r in full.where(cond).collect())
        got = sorted(
            r.id for r in t.read(prune={"day": band}).where(cond).collect()
        )
        assert got == want, (probe, len(got), len(want))


def test_incremental_partitioned_memoized_watermark_and_touched_scope(
    spark, tmp_path, monkeypatch
):
    """incremental_partitioned = O(1) watermark + O(touched partition)
    merge: the second run reads its watermark from the marker (no table
    scan) and rewrites only the delta's partitions."""
    from pyspark.sql import functions as F

    def src(rows):
        return spark.createDataFrame(
            rows, "id int, updated_at string, day string, val string"
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.incremental_partitioned(
        src([(1, "2024-01-01 10:00:00", "d1", "a"),
             (2, "2024-01-02 10:00:00", "d2", "b")]),
        "updated_at", ["id"], "day",
    )
    m1 = t._read_marker(t.current_version())
    assert m1["op"] == "merge_partitioned"
    assert m1["wm"] == {"updated_at": "2024-01-02 10:00:00"}
    assert m1["pcol"] == "day"

    real_read = VersionedTable.read
    reads = []
    monkeypatch.setattr(
        VersionedTable, "read",
        lambda self, *a, **kw: reads.append(1) or real_read(self, *a, **kw),
    )
    t.incremental_partitioned(
        src([(3, "2024-01-03 10:00:00", "d2", "c"),
             (4, "2023-12-31 00:00:00", "d9", "stale")]),
        "updated_at", ["id"], "day",
    )
    monkeypatch.undo()
    # NO table read at all: watermark came from the marker and the merge
    # read only the touched partition's existing dir (direct parquet read)
    assert not reads
    m2 = t._read_marker(t.current_version())
    assert m2["wm"] == {"updated_at": "2024-01-03 10:00:00"}
    assert m2["touched"] == ["d2"], "stale row must not touch d9"
    got = {(r["id"], r["val"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # replay: same delta, no duplicates, watermark unchanged
    t.incremental_partitioned(
        src([(3, "2024-01-03 10:00:00", "d2", "c")]),
        "updated_at", ["id"], "day",
    )
    assert {(r["id"], r["val"]) for r in t.read().collect()} == got
    assert t._read_marker(t.current_version())["wm"] == m2["wm"]


def test_cross_typed_partition_probe_fails_open(spark, tmp_path):
    """A probe whose Python type doesn't match the RECORDED partition
    column dtype must fail open to the full read, never key-miss: Spark's
    real equality filter coerces across types (int 20 matches string
    '020'; string '020' matches int 20), while the parts map is keyed by
    raw cast-to-string values — a cross-typed key lookup would wrongly
    skip matching partitions (ADVICE r08)."""
    # string partition column holding a zero-padded value
    s = VersionedTable(spark, str(tmp_path / "s"))
    s.merge_partitioned(
        spark.createDataFrame([(1, "020", "pad"), (2, "7", "plain")],
                              "id int, bucket string, val string"),
        ["id"], "bucket",
    )
    assert s._read_marker(s.current_version())["ptype"] == "string"
    # int probe on the string column: filter `bucket = 20` casts the
    # COLUMN, so row '020' matches — the prune must not skip its dir
    got = s.read(prune={"bucket": 20}).where("bucket = 20").collect()
    assert [(r.id, r.val) for r in got] == [(1, "pad")]

    # int partition column probed with a padded string
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(
        spark.createDataFrame([(1, 20, "a"), (2, 7, "b")],
                              "id int, bucket int, val string"),
        ["id"], "bucket",
    )
    assert t._read_marker(t.current_version())["ptype"] == "int"
    got = t.read(prune={"bucket": "020"}).where("bucket = '020'").collect()
    assert [(r.id, r.val) for r in got] == [(1, "a")]
    # same-typed probes still prune
    assert len(t.read(prune={"bucket": 20}).inputFiles()) < len(
        t.read().inputFiles())


def test_pre_ptype_marker_fails_open(spark, tmp_path):
    """Markers written before ptype existed (or whose ptype was dropped
    on dtype drift) must not prune at all — the key family of the parts
    map is unprovable."""
    import json
    import os

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.merge_partitioned(
        spark.createDataFrame([(1, "d1", "a"), (2, "d2", "b")],
                              "id int, day string, val string"),
        ["id"], "day",
    )
    # simulate an old marker: strip ptype from the committed JSON
    mpath = os.path.join(str(tmp_path / "t"), "_commits", "v00000001.json")
    meta = json.load(open(mpath))
    del meta["ptype"]
    with open(mpath, "w") as f:
        json.dump(meta, f)
    # drop the Hadoop LocalFS checksum sidecar the raw rewrite broke
    crc = os.path.join(os.path.dirname(mpath), ".v00000001.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    full_n = len(t.read().inputFiles())
    pruned = t.read(prune={"day": "d2"})
    assert len(pruned.inputFiles()) == full_n  # fail open: no skip
    assert [(r.id,) for r in pruned.where("day = 'd2'").collect()] == [(2,)]


def test_ptype_survives_clone_and_continuity(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(rows, "id int, day string, v string")
    t.merge_partitioned(mk([(1, "d1", "a"), (2, "d2", "b")]), ["id"], "day")
    t.merge_partitioned(mk([(3, "d3", "c")]), ["id"], "day")
    assert t._read_marker(t.current_version())["ptype"] == "string"
    c = t.clone(str(tmp_path / "dev"))
    assert c._read_marker(1)["ptype"] == "string"
    pruned = c.read(prune={"day": "d2"})
    assert len(pruned.inputFiles()) < len(c.read().inputFiles())


def test_wm_memo_is_timestamp_compared_not_string_compared(spark, tmp_path):
    """A non-ISO default_watermark whose STRING form sorts above the ISO
    delta max ('2024-2-5' > '2024-10-01' lexicographically) must never be
    memoized as the new watermark: the memo is either the chronologically
    correct max or absent (next run falls back to the exact scan)."""
    from pyspark.sql import functions as F

    def src(rows):
        return spark.createDataFrame(
            rows, "id int, updated_at string, day string"
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.incremental_partitioned(
        src([(1, "2024-10-01 00:00:00", "d1")]),
        "updated_at", ["id"], "day",
        default_watermark="2024-2-5 00:00:00",
    )
    m = t._read_marker(t.current_version())
    wm = (m.get("wm") or {}).get("updated_at")
    assert wm is None or wm == "2024-10-01 00:00:00", wm
    # the next incremental still resolves a correct watermark (memo or
    # scan) — a replay row at the ingested max must not duplicate
    t.incremental_partitioned(
        src([(1, "2024-10-01 00:00:00", "d1"),
             (2, "2024-11-02 00:00:00", "d2")]),
        "updated_at", ["id"], "day",
    )
    rows = {(r.id, str(r.updated_at)) for r in t.read().collect()}
    assert rows == {(1, "2024-10-01 00:00:00"), (2, "2024-11-02 00:00:00")}
    m2 = t._read_marker(t.current_version())
    assert m2["wm"] == {"updated_at": "2024-11-02 00:00:00"}


def test_wm_memo_mixed_second_and_microsecond_precision(spark, tmp_path):
    """Watermark strings of mixed sub-second precision order as
    TIMESTAMPS in the memo: a microsecond max must survive a later batch
    whose (earlier) delta max prints without the fraction."""
    from pyspark.sql import functions as F

    def src(rows):
        return spark.createDataFrame(
            rows, "id int, updated_at string, day string"
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.incremental_partitioned(
        src([(1, "2024-01-02 10:00:00.500000", "d1")]),
        "updated_at", ["id"], "day",
    )
    wm1 = t._read_marker(t.current_version())["wm"]["updated_at"]
    assert wm1 == "2024-01-02 10:00:00.500000"
    # a batch whose rows all sit AT or BELOW the memo is a no-op
    t.incremental_partitioned(
        src([(1, "2024-01-02 10:00:00", "d1"),
             (2, "2024-01-02 10:00:00.500000", "d1")]),
        "updated_at", ["id"], "day",
    )
    assert t._read_marker(t.current_version())["wm"]["updated_at"] == wm1
    assert sorted(r.id for r in t.read().collect()) == [1]
    # and one strictly above advances it, fraction intact
    t.incremental_partitioned(
        src([(3, "2024-01-02 10:00:00.600000", "d2")]),
        "updated_at", ["id"], "day",
    )
    assert (t._read_marker(t.current_version())["wm"]["updated_at"]
            == "2024-01-02 10:00:00.600000")
    assert sorted(r.id for r in t.read().collect()) == [1, 3]


def _month(i: int) -> str:
    # partition-stable: a key's month never changes between merges
    return f"2024-{i % 6 + 1:02d}"


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_merge_partitioned_writes_one_file_per_partition(spark, tmp_path, aqe):
    """A source spread over 8 tasks, then three merges touching
    overlapping partitions: every _pv dir of every new version holds
    exactly one parquet file (the write is shuffled on _pv; without it
    each task writes into every partition it holds), with AQE on and off.
    Rows and Σ match a pure-Python model."""
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        t = VersionedTable(spark, str(tmp_path / "fact"))
        model: dict[int, tuple[str, int]] = {}

        def merge(ids, rnd):
            rows = [(i, _month(i), i * 10 + rnd * 1000) for i in ids]
            src = spark.createDataFrame(
                rows, "id int, month string, amount long").repartition(8)
            assert src.rdd.getNumPartitions() == 8
            t.merge_partitioned(src, ["id"], "month")
            model.update({i: (m, a) for i, m, a in rows})
            meta = t._read_marker(t.current_version())
            staged = os.path.join(t.root, meta["dir"])
            pv_dirs = [d for d in os.listdir(staged) if d.startswith("_pv=")]
            assert sorted(d[len("_pv="):] for d in pv_dirs) == sorted(
                {_month(i) for i in ids})
            for d in pv_dirs:
                files = [f for f in os.listdir(os.path.join(staged, d))
                         if f.endswith(".parquet")]
                assert len(files) == 1, (rnd, d, files)

        merge(range(200), 0)
        # rounds touch months {1,2,3}, {2,3,4}, {3,4,5}: updates plus inserts
        for rnd in (1, 2, 3):
            merge([i for i in range(300) if i % 6 in (rnd - 1, rnd, rnd + 1)],
                  rnd)

        got = sorted((r["id"], r["month"], r["amount"])
                     for r in t.read().collect())
        assert got == sorted((i, m, a) for i, (m, a) in model.items())
        total = t.read().agg(F.sum("amount")).first()[0]
        assert total == sum(a for _, a in model.values())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_merge_partitioned_splits_partition_above_advisory_size(
        spark, tmp_path):
    """Under AQE the write is a rebalance, not a plain repartition: a
    partition above spark.sql.adaptive.advisoryPartitionSizeInBytes is
    split across tasks (several files), a small one stays one file."""
    prev = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
    try:
        t = VersionedTable(spark, str(tmp_path / "fact"))
        src = spark.range(0, 20_000, numPartitions=8).select(
            F.col("id"),
            F.when(F.col("id") < 19_990, "big").otherwise("small").alias("p"),
            F.sha2(F.col("id").cast("string"), 256).alias("s"))
        v = t.merge_partitioned(src, ["id"], "p")
        staged = os.path.join(t.root, t._read_marker(v)["dir"])
        n = {d: sum(f.endswith(".parquet")
                    for f in os.listdir(os.path.join(staged, d)))
             for d in os.listdir(staged) if d.startswith("_pv=")}
        assert n["_pv=small"] == 1 and n["_pv=big"] > 1, n
        assert t.read().count() == 20_000
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prev)


def test_merge_partitioned_onto_existing_map_job_count(spark, tmp_path):
    """A merge onto an existing map launches no more jobs than before the
    shuffled write. Measured before it (AQE on, 8 shuffle
    partitions): 5 jobs for a delta read from parquet, 6 for one built
    from Python rows. Now 5 for both: 2 for the touched-partition collect,
    the broadcast of the delta's keys, the _pv shuffle, the write.

    A parquet delta is small by its file size, so its anti-join was
    always a broadcast, and the _pv shuffle's job replaces the dropped
    key-set distinct's. Spark cannot size a delta of Python rows: without
    the row-count broadcast its anti-join is planned shuffled, and AQE
    converts it to a broadcast only after the survivor side's shuffle has
    run, one job more (7 with the _pv shuffle)."""
    schema = "id int, val string, p string"
    t = VersionedTable(spark, str(tmp_path / "fact"))
    t.merge_partitioned(spark.createDataFrame(
        [(i, str(i), f"p{i % 3}") for i in range(30)], schema), ["id"], "p")
    spark.createDataFrame(
        [(i, f"n{i}", f"p{i % 3}") for i in range(0, 40, 4)], schema
    ).write.parquet(str(tmp_path / "delta"))
    delta = spark.read.schema(schema).parquet(str(tmp_path / "delta"))
    with count_jobs(spark) as jobs:
        t.merge_partitioned(delta, ["id"], "p")
    assert jobs["n"] <= 5
    rows = spark.createDataFrame(
        [(i, f"m{i}", f"p{i % 3}") for i in range(0, 40, 4)], schema)
    with count_jobs(spark) as jobs:
        t.merge_partitioned(rows, ["id"], "p")
    assert jobs["n"] <= 5
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got == {i: (f"m{i}" if i % 4 == 0 else str(i)) for i in range(40)
                   if i < 30 or i % 4 == 0}


@pytest.mark.parametrize("limit", ["-1", "1b", "10MB"])
def test_merge_partitioned_broadcasts_keys_only_under_threshold(
        spark, tmp_path, limit):
    """The survivor anti-join broadcasts the delta's keys only when the
    delta's row count at Spark's per-row size estimate fits
    spark.sql.autoBroadcastJoinThreshold; -1 broadcasts nothing. The
    merged rows are the same either way."""
    schema = "id int, val string, p string"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", limit)
    try:
        t = VersionedTable(spark, str(tmp_path / "fact"))
        t.merge_partitioned(spark.createDataFrame(
            [(i, str(i), f"p{i % 3}") for i in range(30)], schema),
            ["id"], "p")
        delta = spark.createDataFrame(
            [(i, f"m{i}", f"p{i % 3}") for i in range(0, 40, 4)], schema)
        keyset = t._delta_keys(delta, ["id"], 10)
        hinted = "broadcast" in keyset._jdf.queryExecution().logical().toString()
        assert hinted == (limit == "10MB")
        t.merge_partitioned(delta, ["id"], "p")
        got = {r["id"]: r["val"] for r in t.read().collect()}
        assert got == {i: (f"m{i}" if i % 4 == 0 else str(i))
                       for i in range(40) if i < 30 or i % 4 == 0}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
