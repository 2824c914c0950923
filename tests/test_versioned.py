"""Commit-manifest protocol (sources/versioned.py): the table must stay
readable — and show ONLY fully-committed data — through every crash point,
including the window where a delete-then-rename swap is unsafe on object
stores, and through lost commit races."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.sources.versioned import (
    ConcurrentWriteError,
    VersionedTable,
)


def _rows(df):
    return {(r["id"], r["val"]) for r in df.collect()}


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id int, val string")


def _data_dirs(tmp_path):
    return sorted(
        d for d in os.listdir(tmp_path / "t") if d.startswith("v") and "-" in d
    )


def test_commit_read_roundtrip(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read()
    v = t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    assert v == 1 and t.current_version() == 1
    assert _rows(t.read()) == {(1, "a"), (2, "b")}


def test_merge_semantics_match_merge_upsert(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge(_mk(spark, [(2, "B"), (4, "d")]), keys=["id"])
    assert _rows(t.read()) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert t.current_version() == 2
    # old version still present until vacuum — time travel for free
    assert t.committed_versions() == [1, 2]


def test_kill_between_data_write_and_marker_leaves_table_readable(spark, tmp_path):
    """THE crash window: writer dies after fully staging v2's data but
    before the commit marker. merge_upsert's swap at this point has already
    deleted the target on an object store; here readers never look at the
    staged dir."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))

    # simulate the crash: stage v2 data, "die" before _create_marker
    merged = _mk(spark, [(1, "a"), (2, "B"), (3, "c")])
    staged = t._stage_data(merged, version=2)
    assert os.path.isdir(tmp_path / "t" / staged)  # orphan staged dir

    # reader: still v1, still complete
    assert t.current_version() == 1
    assert _rows(t.read()) == {(1, "a"), (2, "b")}

    # recovery is just a re-run: merge retries, commits v2 in a fresh dir
    t.merge(_mk(spark, [(2, "B"), (3, "c")]), keys=["id"])
    assert t.current_version() == 2
    assert _rows(t.read()) == {(1, "a"), (2, "B"), (3, "c")}


def test_kill_with_half_written_data_dir(spark, tmp_path):
    """Partial data dir (writer died mid-parquet-write): no marker, so the
    half-written files are invisible to readers and vacuum reclaims them."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    bad = tmp_path / "t" / "v00000002-deadbeef"
    bad.mkdir()
    (bad / "part-00000.parquet._COPYING_").write_bytes(b"\x00garbage")
    assert t.current_version() == 1
    assert _rows(t.read()) == {(1, "a")}
    removed = t.vacuum(keep=2, orphan_grace_ms=0)
    assert removed["orphans"] == ["v00000002-deadbeef"]
    assert not bad.exists()


def test_marker_without_data_dir_is_ignored(spark, tmp_path):
    """Crash mid-vacuum (marker deleted first, then data) in the inverse
    order — or manual damage: a marker pointing at a missing dir must not
    break reads."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    # damage: v2's data dir vanishes but its marker survives
    import shutil

    v2_dir = t._read_marker(2)["dir"]
    shutil.rmtree(tmp_path / "t" / v2_dir)
    assert t.current_version() == 1
    assert _rows(t.read()) == {(1, "a")}


def test_vacuum_keeps_last_n_and_drops_orphans(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.commit(_mk(spark, [(1, f"v{i + 1}")]))
    orphan = t._stage_data(_mk(spark, [(9, "orphan")]), version=9)
    removed = t.vacuum(keep=2, orphan_grace_ms=0, supersede_grace_ms=0)
    assert removed["versions"] == [1, 2]
    assert removed["orphans"] == [orphan]
    assert t.committed_versions() == [3, 4]
    assert _rows(t.read()) == {(1, "v4")}
    assert _data_dirs(tmp_path) == sorted(
        t._read_marker(v)["dir"] for v in (3, 4)
    )


def test_time_travel_and_racing_writer_conflict(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.commit(_mk(spark, [(1, "A"), (2, "b")]))
    # time travel: v1 still readable until vacuum
    assert _rows(t.read(version=1)) == {(1, "a")}
    assert _rows(t.read()) == {(1, "A"), (2, "b")}
    with pytest.raises(FileNotFoundError):
        t.read(version=9)
    # racing writers of the SAME version: unique staging dirs never touch
    # committed data, and the marker create (overwrite=False) arbitrates —
    # the loser gets ConcurrentWriteError and the table is unchanged
    staged = t._stage_data(_mk(spark, [(9, "loser")]), version=2)
    with pytest.raises(ConcurrentWriteError):
        t._create_marker(2, {"version": 2, "dir": staged, "op": "overwrite"})
    assert _rows(t.read()) == {(1, "A"), (2, "b")}
    assert _rows(t.read(version=1)) == {(1, "a")}  # history intact too


def test_incremental_idempotent_and_crash_replayable(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (2, "2024-01-02 10:00:00", "b")],
        "id int, updated_at string, val string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    t.incremental(src, "updated_at", ["id"])
    rows1 = {(r["id"], r["val"]) for r in t.read().collect()}
    assert rows1 == {(1, "a"), (2, "b")}
    # replay (e.g. after a crash downstream): same source, no duplicates
    t.incremental(src, "updated_at", ["id"])
    rows2 = {(r["id"], r["val"]) for r in t.read().collect()}
    assert rows2 == rows1


def test_erase_removes_rows_and_purges_history(spark, tmp_path):
    """GDPR erase: subject rows gone from the live version, ALL prior
    versions physically deleted (no time travel back to the data), audit
    counts correct, and the erased version still readable."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.commit(_mk(spark, [(1, "a"), (2, "b2"), (3, "c"), (4, "d")]))
    subjects = spark.createDataFrame([(2,), (3,)], "id int")
    audit = t.erase(subjects, ["id"])
    assert audit["n_erased"] == 2
    assert audit["version"] == 3
    assert audit["purged_versions"] == [1, 2]
    assert _rows(t.read()) == {(1, "a"), (4, "d")}
    # history is gone: only the erased version remains committed/readable
    assert t.committed_versions() == [3]
    with pytest.raises(FileNotFoundError):
        t.read(2)
    # no data dir on disk still contains the erased rows
    assert _data_dirs(tmp_path) == [t._read_marker(3)["dir"]]


def test_erase_on_missing_subjects_is_noop_commit(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    audit = t.erase(spark.createDataFrame([(99,)], "id int"), ["id"])
    assert audit["n_erased"] == 0
    assert _rows(t.read()) == {(1, "a"), (2, "b")}


def test_merge_upsert_runs_on_manifest_protocol(spark, tmp_path):
    """sink.merge_upsert (the default S9 MERGE path) now commits through
    the manifest: every merge is a new immutable version, the kill window
    between data write and marker leaves the previous version live, and
    read_table resolves the committed state."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
    )

    path = str(tmp_path / "t")
    merge_upsert(spark, path, _mk(spark, [(1, "a"), (2, "b")]), ["id"])
    t = VersionedTable(spark, path)
    assert t.current_version() == 1
    merge_upsert(spark, path, _mk(spark, [(2, "B"), (3, "c")]), ["id"])
    assert t.current_version() == 2
    assert _rows(read_table(spark, path)) == {(1, "a"), (2, "B"), (3, "c")}

    # kill window: stage v3 data, die before the marker → readers see v2
    t._stage_data(_mk(spark, [(9, "ghost")]), version=3)
    assert _rows(read_table(spark, path)) == {(1, "a"), (2, "B"), (3, "c")}

    # replayed merge (same delta) converges, no duplicates
    merge_upsert(spark, path, _mk(spark, [(2, "B"), (3, "c")]), ["id"])
    assert _rows(read_table(spark, path)) == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_upsert_adopts_plain_table(spark, tmp_path):
    """A pre-existing plain-parquet target (legacy write_table output)
    migrates to the manifest on first merge with nothing lost."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
        write_table,
    )

    path = str(tmp_path / "t")
    write_table(_mk(spark, [(1, "a"), (2, "b")]), path)
    merge_upsert(spark, path, _mk(spark, [(2, "B")]), ["id"])
    assert _rows(read_table(spark, path)) == {(1, "a"), (2, "B")}
    t = VersionedTable(spark, path)
    assert t.current_version() == 2  # v1 = adopted plain, v2 = merge
    # no stray plain part-files left at the root
    stray = [
        f for f in os.listdir(tmp_path / "t")
        if f.endswith(".parquet") or f.startswith("part-")
    ]
    assert not stray


def test_merge_onto_committed_table_resolves_version_once(
    spark, tmp_path, monkeypatch
):
    """A sink merge onto a committed table resolves the current version
    once, inside the merge: the plain-table adoption check lists the root,
    finds only ``_commits`` and version dirs, and returns without a
    version resolution of its own."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        merge_upsert_partitioned,
        read_table,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "id int, d string, val string")

    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    base = mk([(1, "x", "a"), (2, "y", "b")])
    merge_upsert(spark, flat, base, ["id"])
    merge_upsert_partitioned(spark, parted, base, ["id"], "d")

    calls = []
    real_current = VersionedTable.current

    def counting_current(self):
        calls.append(self.root)
        return real_current(self)

    monkeypatch.setattr(VersionedTable, "current", counting_current)
    merge_upsert(spark, flat, mk([(2, "y", "B")]), ["id"])
    assert len(calls) == 1, calls
    calls.clear()
    merge_upsert_partitioned(spark, parted, mk([(2, "y", "B")]), ["id"], "d")
    assert len(calls) == 1, calls
    monkeypatch.undo()

    for path in (flat, parted):
        got = {(r["id"], r["d"], r["val"])
               for r in read_table(spark, path).collect()}
        assert got == {(1, "x", "a"), (2, "y", "B")}


def test_merge_onto_clone_resolves_version_once(spark, tmp_path, monkeypatch):
    """A clone's root, and its source's root, hold ``_clone.json``,
    ``_refs`` and their checksums next to the version dirs. The adoption
    check skips those metadata names, so a sink merge onto either table
    resolves the current version once, inside the merge."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "id int, val string")

    src_path, dev_path = str(tmp_path / "src"), str(tmp_path / "dev")
    merge_upsert(spark, src_path, mk([(1, "a"), (2, "b")]), ["id"])
    VersionedTable(spark, src_path).clone(dev_path)
    assert {"_clone.json", "._clone.json.crc"} <= set(os.listdir(dev_path))
    assert "_refs" in os.listdir(src_path)

    calls = []
    real_current = VersionedTable.current

    def counting_current(self):
        calls.append(self.root)
        return real_current(self)

    monkeypatch.setattr(VersionedTable, "current", counting_current)
    merge_upsert(spark, dev_path, mk([(2, "B")]), ["id"])
    assert len(calls) == 1, calls
    calls.clear()
    merge_upsert(spark, src_path, mk([(1, "A")]), ["id"])
    assert len(calls) == 1, calls
    monkeypatch.undo()

    assert {tuple(r) for r in read_table(spark, dev_path).collect()} == {
        (1, "a"), (2, "B")}
    assert {tuple(r) for r in read_table(spark, src_path).collect()} == {
        (1, "A"), (2, "b")}


def test_data_writes_leave_only_data_files(spark, tmp_path):
    """A committed version dir, a partitioned merge's dir and a result-cache
    entry hold only parquet files and their ``.crc`` sidecars: no
    ``_SUCCESS`` marker, which nothing reads (the commit marker, or the
    cache's rename, is the commit point)."""
    from enterprise_data_warehouse_spark.plans.result_cache import ResultCache

    def stray_files(top):
        out = []
        for dirpath, _, names in os.walk(top):
            data = {n for n in names if n.endswith(".parquet")}
            crcs = {f".{n}.crc" for n in data}
            out += [os.path.join(dirpath, n) for n in names
                    if n not in data and n not in crcs]
        return out

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    p = VersionedTable(spark, str(tmp_path / "p"))
    p.merge_partitioned(
        _mk(spark, [(1, "a"), (2, "b"), (3, "a")]), ["id"], "val")
    cache = ResultCache(spark, str(tmp_path / "rc"))
    cache.get_or_build("q", _mk(spark, [(1, "a")]), {"t": 1})

    written = [tmp_path / "t" / _data_dirs(tmp_path)[0],
               *(tmp_path / "p" / d for d in os.listdir(tmp_path / "p")
                 if d.startswith("v")),
               tmp_path / "rc"]
    assert len(written) == 3
    for top in written:
        assert not stray_files(top), stray_files(top)
    assert any(n.startswith("_pv=") for n in os.listdir(written[1]))


def _mk_ts(spark, rows, ts):
    """``_mk`` rows plus a watermark column ``ts`` and a per-key stable
    partition column ``p``."""
    return (_mk(spark, rows).withColumn("ts", F.lit(ts).cast("timestamp"))
            .withColumn("p", F.col("id") % 2))


# every sink wrapper that runs the adopt -> commit-retry -> vacuum loop
_SINK_WRITES = {
    "merge_upsert": lambda sink, spark, path, src: sink.merge_upsert(
        spark, path, src, ["id"]),
    "merge_upsert_partitioned":
        lambda sink, spark, path, src: sink.merge_upsert_partitioned(
            spark, path, src, ["id"], "p"),
    "incremental_build": lambda sink, spark, path, src: sink.incremental_build(
        spark, path, src, "ts", ["id"]),
    "incremental_build_partitioned":
        lambda sink, spark, path, src: sink.incremental_build_partitioned(
            spark, path, src, "ts", ["id"], "p"),
}


@pytest.mark.parametrize("wrapper", sorted(_SINK_WRITES))
def test_merge_upsert_retries_lost_commit_race(spark, tmp_path, wrapper):
    """Optimistic concurrency self-heals at the sink level, in every sink
    wrapper: the plain-parquet target is adopted as v1, and when another
    writer steals the next version marker mid-merge, the wrapper re-derives
    against the winner's table and retries — the final state contains BOTH
    writers' rows with source-wins semantics, not an exception."""
    from enterprise_data_warehouse_spark.sources import sink

    old_ts, new_ts = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
    path = str(tmp_path / "t")
    sink.write_table(_mk_ts(spark, [(1, "a"), (2, "b")], old_ts), path)

    # interpose: the first marker create after adoption is beaten by a
    # racing writer
    original = VersionedTable._create_marker
    state = {"raced": False}

    def racing_create(self, version, meta):
        if version >= 2 and not state["raced"]:
            state["raced"] = True
            # the racing writer lands the same version first — with ITS
            # merge result (v1 ∪ its delta), as a real MERGE writer would
            rival = _mk_ts(spark, [(1, "a"), (2, "b"), (9, "rival")], old_ts)
            original(
                self,
                version,
                {
                    "version": version,
                    "dir": self._stage_data(rival, version),
                    "op": "merge",
                },
            )
        return original(self, version, meta)

    VersionedTable._create_marker = racing_create
    try:
        _SINK_WRITES[wrapper](
            sink, spark, path, _mk_ts(spark, [(2, "B"), (3, "c")], new_ts))
    finally:
        VersionedTable._create_marker = original

    assert state["raced"]
    assert VersionedTable(spark, path).current_version() == 3
    assert _rows(sink.read_table(spark, path)) == {
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (9, "rival"),
    }


def test_adoption_survives_crashed_staging_dir(spark, tmp_path):
    """Crash shape: a legacy plain table plus an orphan v*-* staging dir
    from a writer that died before its first marker. Adoption must read
    ONLY the plain files (the orphan would poison a whole-root read),
    migrate them to v1, and merge cleanly."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
        write_table,
    )

    path = str(tmp_path / "t")
    write_table(_mk(spark, [(1, "a"), (2, "b")]), path)
    # orphan staging dir with DIFFERENT data — must not leak into v1
    t = VersionedTable(spark, path)
    t._stage_data(_mk(spark, [(9, "ghost")]), version=1)
    assert not t.exists()  # no marker: still a "plain" table to adopt

    merge_upsert(spark, path, _mk(spark, [(2, "B")]), ["id"])
    assert _rows(read_table(spark, path)) == {(1, "a"), (2, "B")}


def test_randomized_op_sequences_match_model(spark, tmp_path):
    """Model-based check: a seeded random interleaving of commits, plain
    merges, partition-mapped merges, crashed writers (staged data, no
    marker), and vacuums must always read back exactly what a dict model
    predicts — the protocol's invariants hold under composition, not just
    in the hand-picked scenarios above. The merge key is (id, part):
    partition-scoped MERGE contracts that the key is partition-stable
    (same as Delta MERGE under partition pruning), so the model keys on
    the pair. The dead_marker op plants an aged 0-byte marker at
    current+1 (a writer killed between marker create and content write) —
    every later write must heal through it and every read ignore it."""
    import random

    from enterprise_data_warehouse_spark.sources import versioned as V

    for seed in (7, 23, 41):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        t = VersionedTable(spark, path)
        model: dict[tuple[int, str], str] = {}  # (id, part) -> val

        def mkdf(rows):
            return spark.createDataFrame(rows, "id int, part string, val string")

        def rand_rows(n):
            return [
                (
                    rng.randint(1, 8),
                    rng.choice(["p1", "p2", "p3"]),
                    f"v{rng.randint(0, 99)}",
                )
                for _ in range(n)
            ]

        for step in range(14):
            op = rng.choice(
                ["commit", "merge", "merge_part", "crash", "dead_marker",
                 "vacuum", "erase", "compact"]
            )
            rows = rand_rows(rng.randint(1, 4))
            # de-dup keys within a batch (upsert source must be key-unique)
            rows = list({(r[0], r[1]): r for r in rows}.values())
            if op == "dead_marker":
                if t.exists():
                    marker = (
                        tmp_path
                        / f"t{seed}"
                        / "_commits"
                        / f"v{t.current_version() + 1:08d}.json"
                    )
                    if not marker.exists():
                        marker.write_bytes(b"")
                        _age(marker, V.MARKER_GRACE_MS / 1000 + 5)
            elif op == "commit":
                t.commit(mkdf(rows))
                model = {(r[0], r[1]): r[2] for r in rows}
            elif op == "merge":
                t.merge(mkdf(rows), keys=["id", "part"])
                for r in rows:
                    model[(r[0], r[1])] = r[2]
            elif op == "merge_part":
                t.merge_partitioned(
                    mkdf(rows), keys=["id", "part"], partition_col="part"
                )
                for r in rows:
                    model[(r[0], r[1])] = r[2]
            elif op == "crash":
                if t.exists():
                    t._stage_data(mkdf(rows), version=t.current_version() + 1)
            elif op == "compact":
                # layout-only rewrite: the model must be unchanged
                if t.exists():
                    t.compact()
            elif op == "vacuum":
                # grace 0 (no live writers here) half the time so orphan
                # reclaim composes with the other ops; default-grace the
                # rest so the sparing path is exercised too
                t.vacuum(
                    keep=rng.choice([1, 2]),
                    orphan_grace_ms=rng.choice([0, None]),
                    supersede_grace_ms=rng.choice([0, None]),
                )
            elif op == "erase":
                # right-to-be-forgotten composes with everything else: the
                # purge commit + full-history vacuum must leave exactly the
                # model minus the subjects (and never a missing table)
                if t.exists() and model:
                    victim_ids = sorted({k[0] for k in model})[:2]
                    subjects = spark.createDataFrame(
                        [(i,) for i in victim_ids], "id int"
                    )
                    t.erase(subjects, keys=["id"])
                    model = {
                        k: v for k, v in model.items() if k[0] not in victim_ids
                    }
            if t.exists():
                got = {
                    (r["id"], r["part"]): r["val"] for r in t.read().collect()
                }
                assert got == model, f"seed={seed} step={step} op={op}"


def _age(path, by_s: float) -> None:
    old = os.stat(path).st_mtime - by_s
    os.utime(path, (old, old))


def _age_tree(path, by_s: float) -> None:
    """Age a directory AND every file under it — orphan-dir staleness is
    judged by the newest contained FILE (object stores report dir mtime 0,
    see VersionedTable._newest_mtime_ms), so aging just the dir entry no
    longer makes it reclaimable."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            _age(os.path.join(root, f), by_s)
    _age(path, by_s)


def test_kill_between_marker_create_and_content_write(spark, tmp_path):
    """The OTHER crash window: writer dies after creating the marker file
    but before writing its JSON content. The 0-byte marker must not poison
    reads (one bad marker would otherwise raise on every
    committed_versions() call), must not take the version number forever,
    and the table must heal on the next merge once the grace expires."""
    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    # simulate: stage v2's data, create the marker, die before the write
    t._stage_data(_mk(spark, [(1, "A")]), version=2)
    marker = tmp_path / "t" / "_commits" / "v00000002.json"
    marker.write_bytes(b"")

    # readers: unaffected, v1 stays current
    assert t.committed_versions() == [1]
    assert _rows(t.read()) == {(1, "a")}

    # inside the grace the version must NOT be stolen — the marker's owner
    # may be a live racer milliseconds from landing its content
    with pytest.raises(ConcurrentWriteError):
        t.merge(_mk(spark, [(2, "b")]), keys=["id"])
    assert _rows(t.read()) == {(1, "a")}

    # past the grace the dead marker is reclaimed and the merge commits
    _age(marker, V.MARKER_GRACE_MS / 1000 + 5)
    t.merge(_mk(spark, [(2, "b")]), keys=["id"])
    assert t.current_version() == 2
    assert _rows(t.read()) == {(1, "a"), (2, "b")}


def test_truncated_marker_content_heals(spark, tmp_path):
    """Same window, content half-written (e.g. died mid-flush): treated
    exactly like the 0-byte case."""
    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    marker = tmp_path / "t" / "_commits" / "v00000002.json"
    marker.write_bytes(b'{"version": 2, "dir": "v0000')
    assert t.committed_versions() == [1]
    assert _rows(t.read()) == {(1, "a")}
    _age(marker, V.MARKER_GRACE_MS / 1000 + 5)
    t.merge(_mk(spark, [(1, "A")]), keys=["id"])
    assert t.current_version() == 2
    assert _rows(t.read()) == {(1, "A")}


def test_vacuum_spares_young_orphans_reclaims_stale(spark, tmp_path):
    """An unreferenced v*-* dir younger than the grace may be a LIVE
    writer mid-stage — vacuum must not vaporize its in-flight commit.
    Past the grace it is a dead writer's leftover and is reclaimed."""
    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    orphan = t._stage_data(_mk(spark, [(9, "staging")]), version=2)
    removed = t.vacuum(keep=2)  # default grace: spared
    assert removed["orphans"] == []
    assert os.path.isdir(tmp_path / "t" / orphan)
    # aging the DIR entry alone must not suffice — staleness keys on the
    # newest contained file (dir mtimes are 0 on object stores)
    _age(tmp_path / "t" / orphan, V.ORPHAN_GRACE_MS / 1000 + 5)
    removed = t.vacuum(keep=2)
    assert removed["orphans"] == []
    _age_tree(tmp_path / "t" / orphan, V.ORPHAN_GRACE_MS / 1000 + 5)
    removed = t.vacuum(keep=2)
    assert removed["orphans"] == [orphan]
    assert not os.path.isdir(tmp_path / "t" / orphan)


def test_vacuum_reclaims_stale_dead_markers(spark, tmp_path):
    """Vacuum also sweeps dead markers: unparseable ones (writer died
    mid-create) and ones whose data dir is gone (crash mid-vacuum in the
    inverse order) — grace-gated like orphan dirs."""
    import shutil

    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    # dead marker kind 1: v3 marker with no content
    empty = tmp_path / "t" / "_commits" / "v00000003.json"
    empty.write_bytes(b"")
    # dead marker kind 2: v1 committed but its data dir vanished
    shutil.rmtree(tmp_path / "t" / t._read_marker(1)["dir"])
    removed = t.vacuum(keep=2)  # young: both spared
    assert removed["markers"] == []
    _age(empty, V.ORPHAN_GRACE_MS / 1000 + 5)
    _age(tmp_path / "t" / "_commits" / "v00000001.json",
         V.ORPHAN_GRACE_MS / 1000 + 5)
    removed = t.vacuum(keep=2)
    assert removed["markers"] == ["v00000001.json", "v00000003.json"]
    assert t.committed_versions() == [2]
    assert _rows(t.read()) == {(1, "a"), (2, "b")}


def test_merge_upsert_concurrent_threads_all_land(spark, tmp_path):
    """REAL concurrency (not interposed): three threads merge disjoint
    deltas into the same table at once. The marker create arbitrates,
    losers re-derive against the winner's version and retry, and the final
    table holds the base plus ALL three deltas. With N writers a thread
    can lose at most N-1 races (every loss means someone else committed),
    so the 3-attempt retry loop is sufficient by construction here."""
    import threading

    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
    )

    path = str(tmp_path / "t")
    VersionedTable(spark, path).commit(_mk(spark, [(1, "base")]))

    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            merge_upsert(spark, path, _mk(spark, [(10 + i, f"w{i}")]), ["id"])
        except Exception as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert _rows(read_table(spark, path)) == {
        (1, "base"),
        (10, "w0"),
        (11, "w1"),
        (12, "w2"),
    }
    # every successful merge produced its own committed version
    assert VersionedTable(spark, path).current_version() == 4


def test_merge_pins_version_against_mid_derivation_rival(spark, tmp_path):
    """Lost-update guard: a rival committing BETWEEN merge's read and its
    commit must raise ConcurrentWriteError (the commit is pinned to
    read_version+1), never silently land one number higher with state
    derived from the stale read — and merge_upsert's retry must then
    re-derive so BOTH writers' rows survive."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
    )

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.commit(_mk(spark, [(1, "base")]))

    original = VersionedTable._stage_data
    state = {"raced": False}

    def racing_stage(self, df, version, partition_by=None):
        if not state["raced"]:
            state["raced"] = True
            # rival MERGES (not overwrites) v2 while our merge is deriving
            rival = VersionedTable(spark, self.root)
            rival.merge(_mk(spark, [(9, "rival")]), keys=["id"])
        return original(self, df, version, partition_by)

    VersionedTable._stage_data = racing_stage
    try:
        merge_upsert(spark, path, _mk(spark, [(2, "mine")]), ["id"])
    finally:
        VersionedTable._stage_data = original

    assert state["raced"]
    # no lost update: base, rival's row, AND our row are all present
    assert _rows(read_table(spark, path)) == {
        (1, "base"),
        (9, "rival"),
        (2, "mine"),
    }


def test_pinned_commit_rejects_stale_adoption(spark, tmp_path):
    """Adoption commits are pinned at v1: once any version exists, a
    delayed adopter's stale plain snapshot must collide and back off, not
    land as the NEWEST version shadowing interleaved merges."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.merge(_mk(spark, [(2, "b")]), keys=["id"])
    with pytest.raises(ConcurrentWriteError):
        t.commit(_mk(spark, [(1, "stale-plain")]), op="adopt", at_version=1)
    assert _rows(t.read()) == {(1, "a"), (2, "b")}


def test_merge_upsert_retention_bounds_history(spark, tmp_path, monkeypatch):
    """retain_versions=N vacuums after each merge: a high-frequency merge
    loop (streaming foreachBatch) must not accumulate one full table copy
    per batch. Supersede-grace is zeroed here (no concurrent readers in the
    test) — with it, the bound is N plus versions superseded within the
    last SUPERSEDE_GRACE_MS."""
    from enterprise_data_warehouse_spark.sources import versioned as V
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        read_table,
    )

    monkeypatch.setattr(V, "SUPERSEDE_GRACE_MS", 0)
    path = str(tmp_path / "t")
    for i in range(5):
        merge_upsert(
            spark, path, _mk(spark, [(i, f"v{i}")]), ["id"], retain_versions=2
        )
    t = VersionedTable(spark, path)
    assert len(t.committed_versions()) <= 2
    assert _rows(read_table(spark, path)) == {(i, f"v{i}") for i in range(5)}
    # old version DIRS are gone too, not just markers
    assert len(_data_dirs(tmp_path)) <= 2


def test_vacuum_spares_recently_superseded_versions(spark, tmp_path):
    """A version superseded moments ago may still be mid-scan by a reader
    that resolved it as current — vacuum (with grace) must keep it AND its
    data dir (the orphan sweep must not treat the kept dir as orphaned).
    Reader retention is its OWN knob: quiescing writers (orphan grace 0)
    must NOT drop it; only supersede_grace_ms=0 (readers quiesced too,
    e.g. erase) purges immediately."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "v1")]))
    t.commit(_mk(spark, [(1, "v2")]))
    t.commit(_mk(spark, [(1, "v3")]))
    removed = t.vacuum(keep=1)  # default grace; v1/v2 superseded just now
    assert removed["versions"] == []
    assert t.committed_versions() == [1, 2, 3]
    # every kept version still fully readable (marker AND data dir intact)
    assert _rows(t.read(version=1)) == {(1, "v1")}
    assert _rows(t.read(version=2)) == {(1, "v2")}
    # orphan grace 0 = "no live WRITERS"; in-flight READERS of the
    # recently-superseded versions are still protected
    removed = t.vacuum(keep=1, orphan_grace_ms=0)
    assert removed["versions"] == []
    assert t.committed_versions() == [1, 2, 3]
    removed = t.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert removed["versions"] == [1, 2]
    assert t.committed_versions() == [3]


def test_vacuum_keep_zero_rejected(spark, tmp_path):
    """keep=0 would reclaim the CURRENT version — and committed[-0:]
    would actually keep everything silently. Both wrong: reject."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="keep"):
        t.vacuum(keep=0)


def test_vacuum_keeps_dirs_shared_with_spared_versions(spark, tmp_path):
    """A reclaimed version's data dir may still be referenced by a
    SPARED (recently-superseded) partition-mapped version's parts map for
    an untouched partition — the dir must survive even though its owner
    version is reclaimed, or the spared version breaks mid-read."""
    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    mk = lambda rows: spark.createDataFrame(
        rows, "id int, part string, val string"
    )
    t.merge_partitioned(mk([(1, "a", "a1"), (2, "b", "b1")]), ["id", "part"], "part")
    t.merge_partitioned(mk([(2, "b", "b2")]), ["id", "part"], "part")
    t.merge_partitioned(mk([(1, "a", "a3")]), ["id", "part"], "part")
    # v1: superseded long ago (its successor v2's marker is aged stale);
    # v2: superseded moments ago (v3's marker stays fresh) — spared
    _age(
        tmp_path / "t" / "_commits" / "v00000002.json",
        V.SUPERSEDE_GRACE_MS / 1000 + 5,
    )
    removed = t.vacuum(keep=1)
    assert removed["versions"] == [1]
    assert t.committed_versions() == [2, 3]
    # the spared v2 remains FULLY readable: its parts map references v1's
    # dir for the untouched partition 'a'
    got = {(r["id"], r["part"]): r["val"] for r in t.read(version=2).collect()}
    assert got == {(1, "a"): "a1", (2, "b"): "b2"}
    # current version intact too
    got = {(r["id"], r["part"]): r["val"] for r in t.read().collect()}
    assert got == {(1, "a"): "a3", (2, "b"): "b2"}


def test_unsupported_scheme_refused(spark, tmp_path, monkeypatch):
    """Version arbitration is exactly as strong as atomic
    create-no-overwrite; on a scheme not known to provide it (bare s3a's
    HEAD-then-PUT emulation) the constructor must fail LOUDLY instead of
    letting two racers both 'win' a commit — silent corruption is never an
    acceptable default. The explicit opt-in acknowledges the store has a
    conditional-write mode enabled."""
    from enterprise_data_warehouse_spark.sources import versioned as V

    monkeypatch.setattr(VersionedTable, "_scheme", lambda self: "s3a")
    with pytest.raises(V.UnsupportedStoreError, match="s3a"):
        VersionedTable(spark, str(tmp_path / "t"))
    t = VersionedTable(
        spark, str(tmp_path / "t"), assume_atomic_marker_create=True
    )
    t.commit(_mk(spark, [(1, "a")]))
    assert _rows(t.read()) == {(1, "a")}


def test_non_atomic_create_loses_update_hence_the_probe(spark, tmp_path):
    """THE failure mode the scheme probe exists to prevent: with a
    check-then-act create (bare S3's emulation) two writers racing for the
    same version BOTH report success, and the first writer's commit is
    silently replaced — a lost update no reader can detect. The real
    (atomic) create turns the same race into ConcurrentWriteError."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "base")]))

    def non_atomic_create_marker(self, version, meta):
        # HEAD-then-PUT: exists-check, then an unconditional overwrite PUT
        marker = self._marker(version)
        self._hfs.mkdirs(marker.getParent())
        if self._hfs.exists(marker):
            raise ConcurrentWriteError(f"version {version} taken")
        import json as _json

        out = self._hfs.create(marker, True)  # blind PUT — NOT create-excl
        try:
            out.write(bytearray(_json.dumps(meta, sort_keys=True), "utf-8"))
        finally:
            out.close()

    # writer A passes the exists-check... (simulated by committing B first
    # below, then replaying A's PUT on top)
    dir_a = t._stage_data(_mk(spark, [(2, "A")]), version=2)
    dir_b = t._stage_data(_mk(spark, [(2, "B")]), version=2)
    non_atomic_create_marker(
        t, 2, {"version": 2, "dir": dir_b, "op": "overwrite"}
    )
    # ...and A's delayed blind PUT lands AFTER B's commit: no error, and
    # B's committed version is silently gone — the lost update
    marker = t._marker(2)
    out = t._hfs.create(marker, True)
    import json as _json

    meta_a = {"version": 2, "dir": dir_a, "op": "overwrite"}
    try:
        out.write(bytearray(_json.dumps(meta_a, sort_keys=True), "utf-8"))
    finally:
        out.close()
    assert _rows(t.read()) == {(2, "A")}  # B's commit vanished silently

    # the REAL protocol on an atomic store: the same race raises instead
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(_mk(spark, [(1, "base")]))
    t2.commit(_mk(spark, [(2, "B")]), at_version=2)
    with pytest.raises(ConcurrentWriteError):
        t2.commit(_mk(spark, [(2, "A")]), at_version=2)
    assert _rows(t2.read()) == {(2, "B")}


def test_stalled_writer_marker_steal_surfaces_as_conflict(spark, tmp_path):
    """ADVICE r04: writer A stalls past MARKER_GRACE_MS between marker
    create() and the content write (GC pause); a rival judges the 0-byte
    marker dead, reclaims it, and commits its own v2. A's buffered write
    then lands on the unlinked inode — WITHOUT the read-back check A would
    return success for a commit that never became visible. The read-back
    must turn that into ConcurrentWriteError."""
    import json as _json

    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "base")]))

    state = {"raced": False}
    orig_dumps = _json.dumps

    def stalling_dumps(meta, **kw):
        # fires inside _create_marker between create() and out.write():
        # exactly the stall window
        if (
            isinstance(meta, dict)
            and meta.get("version") == 2
            and not state["raced"]
        ):
            state["raced"] = True
            _age(
                tmp_path / "t" / "_commits" / "v00000002.json",
                V.MARKER_GRACE_MS / 1000 + 5,
            )
            rival = VersionedTable(spark, str(tmp_path / "t"))
            rival.merge(_mk(spark, [(9, "rival")]), keys=["id"])
        return orig_dumps(meta, **kw)

    V.json.dumps = stalling_dumps
    try:
        with pytest.raises(ConcurrentWriteError, match="reclaimed"):
            t.merge(_mk(spark, [(2, "mine")]), keys=["id"])
    finally:
        V.json.dumps = orig_dumps
    assert state["raced"]
    # the rival's commit is the visible one; A's never surfaced as success
    assert _rows(t.read()) == {(1, "base"), (9, "rival")}


def test_parseable_marker_with_missing_dir_unwedges_writers(spark, tmp_path):
    """ADVICE r04: a marker that PARSES but references a vanished data dir
    (external deletion / partial tampering) must not take its version
    number forever — committed_versions() already treats it as dead, so
    _reclaim_dead_marker must too (past the same grace), or every merge
    collides on current+1 until a vacuum happens to run."""
    import shutil

    from enterprise_data_warehouse_spark.sources import versioned as V

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.commit(_mk(spark, [(1, "a"), (2, "b")]))
    shutil.rmtree(tmp_path / "t" / t._read_marker(2)["dir"])
    assert t.current_version() == 1  # dirless v2 is not live

    # young: could be a racer between marker create and a pending rename —
    # spared, so the merge still collides
    with pytest.raises(ConcurrentWriteError):
        t.merge(_mk(spark, [(3, "c")]), keys=["id"])

    # past the grace: reclaimed in-line by the next writer, table heals
    _age(
        tmp_path / "t" / "_commits" / "v00000002.json",
        V.MARKER_GRACE_MS / 1000 + 5,
    )
    t.merge(_mk(spark, [(3, "c")]), keys=["id"])
    assert t.current_version() == 2
    assert _rows(t.read()) == {(1, "a"), (3, "c")}


def test_fs_clock_probe_failure_fails_closed(spark, tmp_path, monkeypatch):
    """ADVICE r04: when the storage-clock probe cannot be written,
    substituting the LOCAL wall clock would re-enable premature reclaim
    whenever the local clock runs ahead of the store's. The sentinel (0)
    must make every artifact read as young — vacuum reclaims nothing that
    round — and a later round with a working probe reclaims normally."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    orphan = t._stage_data(_mk(spark, [(9, "dead")]), version=2)
    _age_tree(tmp_path / "t" / orphan, 10_000_000)

    monkeypatch.setattr(VersionedTable, "_fs_now_ms", lambda self: 0)
    removed = t.vacuum(keep=2)
    assert removed == {
        "versions": [], "orphans": [], "markers": [], "refs": []
    }
    assert os.path.isdir(tmp_path / "t" / orphan)

    monkeypatch.undo()
    removed = t.vacuum(keep=2)
    assert removed["orphans"] == [orphan]


def test_history_lists_retained_versions_newest_first(spark, tmp_path):
    """DESCRIBE HISTORY surface: op labels, storage-clock timestamps, and
    partition counts for the retained versions; vacuumed versions drop
    out."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))
    t.merge(_mk(spark, [(2, "b")]), keys=["id"])
    mk = lambda rows: spark.createDataFrame(rows, "id int, part string, val string")
    t2 = VersionedTable(spark, str(tmp_path / "p"))
    t2.merge_partitioned(mk([(1, "x", "v"), (2, "y", "v")]), ["id", "part"], "part")

    h = t.history()
    assert [r["version"] for r in h] == [2, 1]
    assert [r["op"] for r in h] == ["merge", "overwrite"]
    assert all(r["committed_at_ms"] and r["n_mapped"] is None for r in h)
    assert t2.history()[0]["n_mapped"] == 2
    # blast radius vs table-wide map: a one-partition delta touches 1 but
    # the cumulative parts map still covers both partitions
    t2.merge_partitioned(mk([(1, "x", "v2")]), ["id", "part"], "part")
    top = t2.history()[0]
    assert top["n_touched"] == 1 and top["n_mapped"] == 2

    t.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert [r["version"] for r in t.history()] == [2]


# ---------------------------------------------------------------------------
# compact() — pinned layout rewrite on the manifest protocol
# ---------------------------------------------------------------------------


def test_compact_rewrites_layout_preserving_content_and_history(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    rows = [(i, f"v{i}") for i in range(1, 41)]
    t.commit(_mk(spark, rows).repartition(8))
    stats = t.compact()
    assert stats["version"] == 2
    assert stats["files_before"] == 8
    assert stats["files_after"] == 1  # tiny table → one target-size file
    assert _rows(t.read()) == set(rows)
    # the pre-compact version stays time-travelable
    assert _rows(t.read(version=1)) == set(rows)
    assert t.current_version() == 2


def test_compact_retries_lost_commit_race_and_preserves_rival_merge(
    spark, tmp_path
):
    """A merge landing in compact's read→commit window must surface as
    ConcurrentWriteError on the pinned commit and be re-derived — the
    rival's rows survive the compaction (the lost-update footgun of an
    unpinned commit(read()))."""
    from enterprise_data_warehouse_spark.sources import versioned as V

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.commit(_mk(spark, [(1, "base")]).repartition(4))

    real_commit = t.commit
    raced = {"done": False}

    def racing_commit(df, *a, **kw):
        if not raced["done"]:
            raced["done"] = True
            # rival merge lands first at the version compact pinned
            VersionedTable(spark, path).merge(_mk(spark, [(2, "rival")]), ["id"])
        return real_commit(df, *a, **kw)

    t.commit = racing_commit  # interpose on this handle only
    try:
        stats = t.compact()
    finally:
        t.commit = real_commit
    assert stats["version"] == 3  # re-derived on top of the rival's v2
    assert _rows(t.read()) == {(1, "base"), (2, "rival")}


def test_compact_on_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        VersionedTable(spark, str(tmp_path / "missing")).compact()


def test_mixed_op_soak_under_concurrency(spark, tmp_path):
    """Mixed-op protocol soak (VERDICT r05 #6): concurrent merge writers,
    a compactor, a vacuum loop, and invariant-checking readers hammer ONE
    table. Under the documented grace contract (defaults spare everything
    young), every read must see a consistent committed snapshot — unique
    keys, well-formed values, monotone history — and at the end the table
    must hold the base plus every writer's last value, through a final
    quiesced full vacuum."""
    import re
    import threading

    from enterprise_data_warehouse_spark.sources.sink import merge_upsert

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    # stats_cols on the base commit: every soak merge then INHERITS the
    # stats (footer reads between stage and marker, racing the vacuum
    # loop) and every compaction re-clusters on them — the r07
    # data-skipping surface runs under the same concurrency hammer as
    # the rest of the protocol
    t.commit(_mk(spark, [(0, "base")]), stats_cols=["id"])

    N_WRITERS, N_MERGES, N_COMPACTS, N_VACUUMS = 3, 5, 3, 5
    errors: list[str] = []
    writers_done = threading.Event()
    val_re = re.compile(r"^(base|w\d+s\d+|v\d+)$")

    def writer(i: int) -> None:
        try:
            for step in range(N_MERGES):
                # each writer owns keys {i*10+1 .. i*10+2}: overlapping
                # steps exercise upsert, disjoint ranges make the final
                # state deterministic per writer
                # retry budget ≥ total rival commits possible in the whole
                # soak (15 merges + 3 compactions) — sufficiency is then
                # by construction, since every lost race means a rival
                # committed
                merge_upsert(
                    spark, path,
                    _mk(spark, [(i * 10 + 1 + (step % 2), f"w{i}s{step}")]),
                    ["id"], max_retries=20,
                )
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer{i}: {type(e).__name__}: {e}")

    def compactor() -> None:
        try:
            for _ in range(N_COMPACTS):
                t.compact(max_retries=20)
        except Exception as e:  # noqa: BLE001
            errors.append(f"compactor: {type(e).__name__}: {e}")

    def vacuumer() -> None:
        try:
            for _ in range(N_VACUUMS):
                # default graces: must spare every young version/orphan —
                # the invariant checked here is NON-interference
                t.vacuum(keep=2)
        except Exception as e:  # noqa: BLE001
            errors.append(f"vacuum: {type(e).__name__}: {e}")

    def reader() -> None:
        try:
            while not writers_done.is_set():
                rows = t.read().collect()
                ids = [r["id"] for r in rows]
                if len(ids) != len(set(ids)):
                    errors.append(f"reader: duplicate keys in snapshot {ids}")
                    return
                bad = [r["val"] for r in rows if not val_re.match(r["val"])]
                if bad:
                    errors.append(f"reader: malformed values {bad}")
                    return
                hist = [h["version"] for h in t.history()]
                if hist != sorted(hist, reverse=True):
                    errors.append(f"reader: history not descending {hist}")
                    return
                if len(hist) > 1:  # a superseded version is still readable
                    t.read(version=hist[1]).count()
        except Exception as e:  # noqa: BLE001
            errors.append(f"reader: {type(e).__name__}: {e}")

    threads = (
        [threading.Thread(target=writer, args=(i,)) for i in range(N_WRITERS)]
        + [threading.Thread(target=compactor), threading.Thread(target=vacuumer)]
        + [threading.Thread(target=reader) for _ in range(2)]
    )
    for th in threads:
        th.start()
    for th in threads[:N_WRITERS]:
        th.join()
    writers_done.set()
    for th in threads[N_WRITERS:]:
        th.join()
    assert not errors, errors

    # final state: base + each writer's LAST value on its two keys
    expect = {(0, "base")}
    last = N_MERGES - 1
    for i in range(N_WRITERS):
        expect.add((i * 10 + 1 + (last % 2), f"w{i}s{last}"))
        expect.add((i * 10 + 1 + ((last - 1) % 2), f"w{i}s{last - 1}"))
    assert _rows(t.read()) == expect
    # every merge and compaction produced its own committed version
    assert t.current_version() == 1 + N_WRITERS * N_MERGES + N_COMPACTS

    # the stats inheritance chain survived the whole soak: the final
    # version (a merge or compact commit) still carries stats for "id"
    # and a pruned point-read answers exactly
    final_meta = t._read_marker(t.current_version())
    assert final_meta["stats"]["cols"] == ["id"], final_meta.get("stats")
    got = {
        (r.id, r.val) for r in t.read(prune={"id": 0}).where("id = 0").collect()
    }
    assert got == {(0, "base")}

    # quiesced full vacuum: reclaim everything but current, content intact
    res = t.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert t.committed_versions() == [t.current_version()]
    assert _rows(t.read()) == expect


# ---------------------------------------------------------------------------
# zero-copy clone (Snowflake CREATE TABLE ... CLONE parity)
# ---------------------------------------------------------------------------


def test_clone_reads_pinned_version_without_copying_data(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a"), (2, "b")]))
    parent.merge(_mk(spark, [(2, "b2"), (3, "c")]), ["id"])

    clone = parent.clone(str(tmp_path / "dev"), version=1)
    assert _rows(clone.read()) == {(1, "a"), (2, "b")}
    # zero-copy: the clone root holds ONLY metadata, no parquet data
    import os

    data = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(tmp_path / "dev")
        for f in fs
        if f.endswith(".parquet")
    ]
    assert data == [], data
    # parent keeps evolving without affecting the branch
    parent.merge(_mk(spark, [(1, "a3")]), ["id"])
    assert _rows(clone.read()) == {(1, "a"), (2, "b")}
    assert clone.history()[0]["op"] == "clone"


def test_clone_diverges_copy_on_write(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a"), (2, "b")]))
    clone = parent.clone(str(tmp_path / "dev"))
    clone.merge(_mk(spark, [(2, "dev-b"), (9, "dev-new")]), ["id"])
    # divergence is two-way invisible
    assert _rows(clone.read()) == {(1, "a"), (2, "dev-b"), (9, "dev-new")}
    assert _rows(parent.read()) == {(1, "a"), (2, "b")}
    # the clone's v1 is still the zero-copy snapshot (time travel works)
    assert _rows(clone.read(version=1)) == {(1, "a"), (2, "b")}


def test_parent_vacuum_spares_dirs_a_clone_references(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "v1")]))
    clone = parent.clone(str(tmp_path / "dev"), version=1)
    parent.commit(_mk(spark, [(1, "v2")]))
    parent.commit(_mk(spark, [(1, "v3")]))
    # full-strength vacuum: without the hard ref this reclaims v1's dir
    parent.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert parent.committed_versions() == [3]
    assert _rows(clone.read()) == {(1, "v1")}, "clone must survive parent vacuum"


def test_clone_of_partition_mapped_version_and_partitioned_cow(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))

    def mkp(rows):
        return spark.createDataFrame(rows, "id int, part string, val string")

    def prows(df):
        return {(r["id"], r["part"], r["val"]) for r in df.collect()}

    parent.merge_partitioned(
        mkp([(1, "p1", "a"), (2, "p2", "b")]), keys=["id", "part"],
        partition_col="part",
    )
    clone = parent.clone(str(tmp_path / "dev"))
    assert prows(clone.read()) == {(1, "p1", "a"), (2, "p2", "b")}
    # partition-scoped merge on the clone: touched partition rewrites
    # locally, untouched partition keeps reading the PARENT's dir
    clone.merge_partitioned(
        mkp([(1, "p1", "dev")]), keys=["id", "part"], partition_col="part"
    )
    assert prows(clone.read()) == {(1, "p1", "dev"), (2, "p2", "b")}
    assert prows(parent.read()) == {(1, "p1", "a"), (2, "p2", "b")}


def test_erase_refuses_while_clones_reference_parent(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "secret"), (2, "keep")]))
    clone = parent.clone(str(tmp_path / "dev"))
    with pytest.raises(RuntimeError, match="zero-copy clone"):
        parent.erase(spark.createDataFrame([(1,)], "id int"), keys=["id"])

    # localize the clone, release the pin, then erasure proceeds
    clone.compact()
    clone.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert clone.release_parent_ref() is True
    res = parent.erase(spark.createDataFrame([(1,)], "id int"), keys=["id"])
    assert res["n_erased"] == 1
    assert _rows(parent.read()) == {(2, "keep")}
    # the clone kept its own (now local) copy — separate table, separate data
    assert _rows(clone.read()) == {(1, "secret"), (2, "keep")}


def test_release_parent_ref_refuses_while_still_shared(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))
    clone = parent.clone(str(tmp_path / "dev"))
    with pytest.raises(ValueError, match="still reads parent storage"):
        clone.release_parent_ref()
    # after a local rewrite the v1 clone marker STILL references the parent
    clone.compact()
    with pytest.raises(ValueError, match="still reads parent storage"):
        clone.release_parent_ref()
    clone.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert clone.release_parent_ref() is True
    assert parent.clone_refs() == []
    # released: parent vacuum may now reclaim freely
    parent.commit(_mk(spark, [(1, "b")]))
    parent.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert parent.committed_versions() == [2]


def test_clone_rejects_existing_dest_and_vacuumed_version(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))
    parent.commit(_mk(spark, [(1, "b")]))
    parent.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    with pytest.raises(FileNotFoundError):
        parent.clone(str(tmp_path / "dev"), version=1)
    occupied = VersionedTable(spark, str(tmp_path / "occupied"))
    occupied.commit(_mk(spark, [(9, "x")]))
    with pytest.raises(ValueError, match="already exists"):
        parent.clone(str(tmp_path / "occupied"))
    # both failures must not leak a ref that would pin the parent forever
    assert parent.clone_refs() == []


def test_unparseable_clone_ref_pins_everything(spark, tmp_path):
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "v1")]))
    parent.commit(_mk(spark, [(1, "v2")]))
    refs = tmp_path / "p" / "_refs"
    refs.mkdir()
    (refs / "deadbeef.json").write_bytes(b"{truncated")
    parent.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    # v1's MARKER may go, but no data dir may be deleted under a ref that
    # cannot prove what it pins
    assert _rows(parent.read()) == {(1, "v2")}
    import os

    dirs = [d for d in os.listdir(tmp_path / "p") if d.startswith("v0000000")]
    assert len(dirs) == 2, dirs


def test_clone_of_a_clone_refused_until_localized(spark, tmp_path):
    """A clone's v1 reads the PARENT's dirs — cloning it again would
    register a ref that pins nothing in the grandparent (silent data loss
    once the middle table releases its own ref). Refused until the chain
    is broken by a local rewrite; after compact()+vacuum the re-clone is
    an ordinary single-hop clone."""
    grand = VersionedTable(spark, str(tmp_path / "g"))
    grand.commit(_mk(spark, [(1, "a")]))
    mid = grand.clone(str(tmp_path / "mid"))
    with pytest.raises(ValueError, match="another\ntable's storage|another table's storage|localize"):
        mid.clone(str(tmp_path / "leaf"))
    assert mid.clone_refs() == []  # the failed clone must not leak a ref
    mid.compact()
    mid.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    leaf = mid.clone(str(tmp_path / "leaf"))
    assert _rows(leaf.read()) == {(1, "a")}


def test_merge_and_compact_reject_zero_retry_budget(spark, tmp_path):
    """max_retries=0 must be an error, not a silent no-op merge."""
    from enterprise_data_warehouse_spark.sources.sink import (
        merge_upsert,
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    t = VersionedTable(spark, path)
    t.commit(_mk(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="max_retries"):
        merge_upsert(spark, path, _mk(spark, [(2, "b")]), ["id"], max_retries=0)
    with pytest.raises(ValueError, match="max_retries"):
        merge_upsert_partitioned(spark, path, _mk(spark, [(2, "b")]), ["id"],
                                 "val", max_retries=0)
    assert _rows(t.read()) == {(1, "a")}  # nothing was silently skipped
    with pytest.raises(ValueError, match="max_retries"):
        t.compact(max_retries=0)


def test_clone_withdraws_ref_when_dest_constructor_raises(spark, tmp_path):
    """An orphan ref would pin parent vacuum (and block erase) forever —
    every post-ref failure, including the dest VersionedTable constructor
    itself raising, must withdraw it."""
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))
    with pytest.raises(Exception):
        parent.clone("bogus-scheme://nowhere/dev")
    assert parent.clone_refs() == []


def test_erase_fails_loudly_when_clone_races_past_the_check(spark, tmp_path):
    """A clone registering its ref AFTER erase's up-front check has its
    dirs spared by the vacuum — erase must then report the incomplete
    purge instead of returning a clean audit."""
    import json as _json

    path = tmp_path / "p"
    parent = VersionedTable(spark, str(path))
    parent.commit(_mk(spark, [(1, "secret")]))
    parent.commit(_mk(spark, [(1, "secret"), (2, "keep")]))

    real_vacuum = parent.vacuum

    def racing_vacuum(*a, **kw):
        # a REAL clone completes between erase's up-front check and its
        # purge vacuum (the erase contract says quiesce cloners; this is
        # what happens when an operator does not)
        parent.clone(str(tmp_path / "dev"), version=1)  # pre-purge snapshot
        return real_vacuum(*a, **kw)

    parent.vacuum = racing_vacuum
    try:
        with pytest.raises(RuntimeError, match="left pinned history"):
            parent.erase(spark.createDataFrame([(1,)], "id int"), keys=["id"])
    finally:
        parent.vacuum = real_vacuum
    # the racer's pinned dir survived the purge attempt (data intact for
    # the clone; the operator was told the erase is incomplete)
    import os

    dirs = [d for d in os.listdir(path) if d.startswith("v0000000")]
    assert len(dirs) >= 2, dirs


def test_vacuum_reaps_stale_refs_of_dead_clones_only(spark, tmp_path):
    """A clone() crash between ref write and dest marker (or an rm -rf'd
    clone) must not pin the parent forever: vacuum reaps a STALE ref when
    the dest provably no longer depends on it — and keeps it in every
    ambiguous case."""
    import json as _json

    from enterprise_data_warehouse_spark.sources import versioned as V

    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))

    live = parent.clone(str(tmp_path / "live"))  # genuine live clone

    refs = tmp_path / "p" / "_refs"
    mark = parent._read_marker(1)["dir"]
    # (a) dest root vanished entirely (rm -rf'd clone)
    (refs / "deadbeef00.json").write_text(_json.dumps(
        {"dest": str(tmp_path / "gone"), "version": 1, "dirs": [mark]}))
    # (b) half-created clone: linkage matches but no marker ever landed
    half = tmp_path / "half"
    half.mkdir()
    (half / "_clone.json").write_text(_json.dumps(
        {"source": str(tmp_path / "p"), "ref": "deadbeef01"}))
    (refs / "deadbeef01.json").write_text(_json.dumps(
        {"dest": str(half), "version": 1, "dirs": [mark]}))
    # (c) ambiguous: dest exists, no linkage — must be KEPT
    amb = tmp_path / "amb"
    amb.mkdir()
    (refs / "deadbeef02.json").write_text(_json.dumps(
        {"dest": str(amb), "version": 1, "dirs": [mark]}))

    for f in refs.iterdir():
        _age(f, V.ORPHAN_GRACE_MS / 1000 + 5)

    res = parent.vacuum(keep=1)
    assert res["refs"] == ["deadbeef00.json", "deadbeef01.json"]
    kept = {r["token"] for r in parent.clone_refs()}
    assert "deadbeef02" in kept, "ambiguous ref must be kept"
    assert len(kept) == 2  # the live clone's ref + the ambiguous one
    assert _rows(live.read()) == {(1, "a")}

    # young refs are never reaped, even when dest is missing
    (refs / "deadbeef03.json").write_text(_json.dumps(
        {"dest": str(tmp_path / "also-gone"), "version": 1, "dirs": [mark]}))
    res2 = parent.vacuum(keep=1)
    assert res2["refs"] == []


def test_clone_of_empty_delta_partition_version_survives_parent_vacuum(
    spark, tmp_path
):
    """A partition-mapped version whose own dir holds no _pv subdirs (an
    empty-delta merge) is absent from parts.values() — the clone ref must
    still pin it, or the parent vacuum bricks the clone."""
    parent = VersionedTable(spark, str(tmp_path / "p"))

    def mkp(rows):
        return spark.createDataFrame(rows, "id int, part string, val string")

    parent.merge_partitioned(
        mkp([(1, "p1", "a")]), keys=["id", "part"], partition_col="part"
    )
    # empty delta: v2's own staged dir has no _pv children
    parent.merge_partitioned(
        mkp([]).limit(0), keys=["id", "part"], partition_col="part"
    )
    clone = parent.clone(str(tmp_path / "dev"))
    parent.commit(mkp([(9, "p9", "z")]))
    parent.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    got = {(r["id"], r["part"], r["val"]) for r in clone.read().collect()}
    assert got == {(1, "p1", "a")}


def test_create_marker_reraises_non_collision_failures(spark, tmp_path):
    """An IO/permission failure from the marker create must surface as
    itself, not as ConcurrentWriteError — a conflict diagnosis sends
    callers into pointless full re-derive retry loops."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk(spark, [(1, "a")]))

    class FailingCreate:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def create(self, *a, **kw):
            raise RuntimeError("simulated storage permission failure")

    real = t._hfs
    t._hfs = FailingCreate(real)
    try:
        with pytest.raises(RuntimeError, match="permission failure"):
            t.commit(_mk(spark, [(2, "b")]))
    finally:
        t._hfs = real
    # and a REAL collision still classifies as a conflict
    staged = t._stage_data(_mk(spark, [(9, "x")]), version=1)
    with pytest.raises(ConcurrentWriteError):
        t._create_marker(1, {"version": 1, "dir": staged, "op": "overwrite"})


def test_staged_swap_preserves_staged_copy_on_non_race_failure(
    spark, tmp_path, monkeypatch
):
    """rename returning false with NO rival output in place must raise and
    leave the staged copy — deleting it there would destroy the ONLY copy
    of the result."""
    from enterprise_data_warehouse_spark.sources import sink

    staged = tmp_path / "staged"
    staged.mkdir()
    (staged / "part-0.parquet").write_bytes(b"payload")

    class RenameFalse:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def rename(self, *a):
            return False  # transient store failure: no move happened

    real = sink.fs_handles

    def proxied(spark_, path_):
        jvm, fs, hpath = real(spark_, path_)
        return jvm, RenameFalse(fs), hpath

    monkeypatch.setattr(sink, "fs_handles", proxied)
    with pytest.raises(IOError, match="no rival output"):
        sink.staged_swap(spark, str(staged), str(tmp_path / "out"))
    assert (staged / "part-0.parquet").exists(), "staged copy must survive"


# ---------------------------------------------------------------------------
# clone failure-injection edges (round-7 ADVICE findings)
# ---------------------------------------------------------------------------


def _rewrite_linkage(dest_dir, payload):
    """Overwrite _clone.json from Python, clearing hadoop's checksum
    sidecar (which still describes the old bytes)."""
    import json as _json

    (dest_dir / "_clone.json").write_text(_json.dumps(payload))
    crc = dest_dir / "._clone.json.crc"
    if crc.exists():
        crc.unlink()


def test_clone_reassert_failure_never_withdraws_ref_once_marker_durable(
    spark, tmp_path, monkeypatch
):
    """Once the clone's v1 marker is durable the clone is LIVE and reads
    the parent's dirs — a failing linkage re-assert (transient IO on the
    _clone.json overwrite) must surface an error but must NOT withdraw the
    parent ref, or a later parent vacuum silently deletes data the clone
    serves."""
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))

    real_read_json = VersionedTable._read_json

    def flaky_read_json(self, hpath):
        # only the re-assert loop reads the DEST's _clone.json during
        # clone(); fail it persistently (3 retries all exhausted)
        if str(hpath).endswith("_clone.json"):
            raise IOError("transient store failure")
        return real_read_json(self, hpath)

    monkeypatch.setattr(VersionedTable, "_read_json", flaky_read_json)
    with pytest.raises(RuntimeError, match="LIVE.*remains|remains\n?.*registered"):
        parent.clone(str(tmp_path / "dev"))
    monkeypatch.setattr(VersionedTable, "_read_json", real_read_json)

    # the ref survived the failure (fail closed) and the clone is live
    refs = parent.clone_refs()
    assert len(refs) == 1, refs
    clone = VersionedTable(spark, str(tmp_path / "dev"))
    assert clone.exists() and _rows(clone.read()) == {(1, "a")}
    # parent vacuum must still spare the pinned dirs
    parent.commit(_mk(spark, [(1, "b")]))
    parent.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert _rows(clone.read()) == {(1, "a")}
    # repair per the error message: rewrite the linkage, then the normal
    # release flow works end-to-end
    import json as _json

    _rewrite_linkage(tmp_path / "dev",
                     {"source": str(tmp_path / "p"), "ref": refs[0]["token"]})
    clone.compact()
    clone.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert clone.release_parent_ref() is True
    assert parent.clone_refs() == []


def test_clone_loser_cleanup_spares_rival_linkage(spark, tmp_path, monkeypatch):
    """A clone that fails its marker create (lost the race / transient IO)
    must withdraw its own parent ref but must NOT delete the dest's
    _clone.json — the file may already carry a rival winner's token, and
    an orphan linkage without a marker is inert anyway."""
    import json as _json

    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))

    # simulate the rival's linkage already sitting at the dest (the dest
    # has no marker yet, so exists() is False and clone() proceeds); our
    # write_link overwrites it, the rival "re-asserts" it back, then our
    # marker create fails
    dev = tmp_path / "dev"
    dev.mkdir()
    rival_link = {"source": str(tmp_path / "p"), "ref": "rivaltoken"}

    real_create_marker = VersionedTable._create_marker

    def losing_create_marker(self, version, meta):
        if self.root.endswith("/dev"):
            # rival wins the linkage back just before our marker attempt
            (dev / "_clone.json").write_text(_json.dumps(rival_link))
            raise ConcurrentWriteError("version 1 committed concurrently")
        return real_create_marker(self, version, meta)

    monkeypatch.setattr(VersionedTable, "_create_marker", losing_create_marker)
    with pytest.raises(ConcurrentWriteError):
        parent.clone(str(dev))
    monkeypatch.setattr(VersionedTable, "_create_marker", real_create_marker)

    # our ref is withdrawn; the rival's linkage is untouched
    assert parent.clone_refs() == []
    assert _json.loads((dev / "_clone.json").read_text()) == rival_link


def test_clone_error_names_resolved_version(spark, tmp_path):
    """clone() on an empty table (default version=None) must say 'no
    committed version', not 'version None not committed'."""
    empty = VersionedTable(spark, str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError, match="no committed version"):
        empty.clone(str(tmp_path / "dev"))
    full = VersionedTable(spark, str(tmp_path / "p"))
    full.commit(_mk(spark, [(1, "a")]))
    with pytest.raises(FileNotFoundError, match="version 7 not committed"):
        full.clone(str(tmp_path / "dev"), version=7)


def test_release_parent_ref_refuses_partial_linkage_without_consuming(
    spark, tmp_path
):
    """A parseable-but-partial _clone.json (truncated rewrite that still
    parses) must raise a descriptive error and leave BOTH the linkage and
    the parent ref in place for repair — not KeyError with the linkage
    half-consumed."""
    import json as _json

    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))
    clone = parent.clone(str(tmp_path / "dev"))
    clone.compact()
    clone.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)

    link_path = tmp_path / "dev" / "_clone.json"
    good = _json.loads(link_path.read_text())
    _rewrite_linkage(tmp_path / "dev", {"source": good["source"]})  # no ref
    with pytest.raises(ValueError, match="corrupt clone linkage.*ref"):
        clone.release_parent_ref()
    assert link_path.exists(), "linkage must not be consumed on refusal"
    assert len(parent.clone_refs()) == 1, "parent ref must stay (fail closed)"
    # repair and release normally
    _rewrite_linkage(tmp_path / "dev", good)
    assert clone.release_parent_ref() is True
    assert parent.clone_refs() == []


# ---------------------------------------------------------------------------
# manifest data skipping (file-level min/max stats — VERDICT r06 #8)
# ---------------------------------------------------------------------------


def _mk_range(spark, n=20000, files=8):
    from pyspark.sql import functions as F

    return (
        spark.range(0, n)
        .withColumn("val", (F.col("id") * 7) % 1000)
        .repartitionByRange(files, "id")
    )


def test_stats_pruned_read_skips_files_and_preserves_answers(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk_range(spark), stats_cols=["id"])
    full_files = len(t.read().inputFiles())
    assert full_files >= 4
    pruned = t.read(prune={"id": (5000, 6000)})
    # the point of the capability: fewer files reach Spark's listing
    assert 0 < len(pruned.inputFiles()) < full_files
    # pruning returns a SUPERSET; the real filter on top is exact
    got = sorted(
        r.id for r in pruned.where(F.col("id").between(5000, 6000)).collect()
    )
    assert got == list(range(5000, 6001))
    # scalar band form
    one = t.read(prune={"id": 123}).where(F.col("id") == 123).collect()
    assert [r.id for r in one] == [123]


def test_stats_prune_fails_open_everywhere(spark, tmp_path):
    """Every stats gap must widen the read, never narrow it: no stats
    recorded, stats for a different column, open bounds, bands outside
    the domain, and versions that never carried stats."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk_range(spark), stats_cols=["id"])
    full = t.read().count()
    # column without stats -> full read
    assert t.read(prune={"val": (1, 2)}).count() == full
    # open bounds -> full read through the stats path
    assert t.read(prune={"id": (None, None)}).count() == full
    # band outside the domain -> empty result, schema intact
    empty = t.read(prune={"id": (10**12, 2 * 10**12)})
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "val"]
    # a version committed WITHOUT stats ignores prune entirely
    t.commit(_mk_range(spark, n=5000))
    assert t.read(prune={"id": (0, 10)}).count() == 5000
    # time travel back to the stats-bearing version still prunes
    assert 0 < len(t.read(version=1, prune={"id": (0, 10)}).inputFiles()) < 8


def test_stats_survive_merge_vacuum_and_bad_types(spark, tmp_path):
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk_range(spark), stats_cols=["id"])
    # merge INHERITS the stats columns; pruning stays answer-preserving
    # (the 3-row delta lands in its own wide-or-narrow files)
    t.merge(spark.range(3).withColumn("val", F.lit(0)), keys=["id"])
    pruned = t.read(prune={"id": (0, 1)})
    assert pruned.where(F.col("id").between(0, 1)).count() == 2
    assert t.read().count() == 20000
    # the old version's stats are untouched until vacuumed
    assert len(t.read(version=1, prune={"id": (0, 1)}).inputFiles()) == 1
    t.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    # stats_cols naming a missing column records nothing and stays usable
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    v = t2.commit(_mk_range(spark, n=100), stats_cols=["nope"])
    assert "stats" not in (t2._read_marker(v) or {})
    assert t2.read(prune={"nope": (1, 2)}).count() == 100


def test_stats_inherited_through_merge_and_recluster_on_compact(spark, tmp_path):
    """A table that opted into data skipping keeps it across maintenance:
    merge re-records stats for the same columns (ranges may widen — the
    delta lands unclustered), and compact() re-clusters on the stats
    columns, restoring point-lookup selectivity."""
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk_range(spark), stats_cols=["id"])
    delta = spark.range(0, 20000, 97).withColumn("val", F.lit(-1))
    t.merge(delta, keys=["id"])
    meta = t._read_marker(t.current_version())
    assert meta["stats"]["cols"] == ["id"], "merge must inherit stats cols"
    # correctness through the widened ranges (fail-open superset + filter)
    got = sorted(
        r.id for r in t.read(prune={"id": (5000, 5100)})
        .where(F.col("id").between(5000, 5100)).collect()
    )
    assert got == list(range(5000, 5101))
    # compact re-clusters: the pruned lookup narrows back to few files
    t.compact(target_file_bytes=16 << 10)
    meta2 = t._read_marker(t.current_version())
    assert meta2["op"] == "compact" and meta2["stats"]["cols"] == ["id"]
    full = len(t.read().inputFiles())
    pruned = len(t.read(prune={"id": (5000, 5100)}).inputFiles())
    assert full >= 4 and pruned <= max(1, full // 4), (pruned, full)
    # merged values survived the whole lifecycle
    assert t.read().where(F.col("id") == 97).collect()[0].val == -1


def test_release_parent_ref_recovers_from_clobbered_linkage(spark, tmp_path):
    """A losing clone racer can overwrite _clone.json with its own (dead)
    token after the winner's re-assert. release_parent_ref must then fall
    back to scanning the parent's _refs for refs registered for this dest
    and release the winner's ref — never leak it behind the dead token."""
    parent = VersionedTable(spark, str(tmp_path / "p"))
    parent.commit(_mk(spark, [(1, "a")]))
    clone = parent.clone(str(tmp_path / "dev"))
    clone.compact()
    clone.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
    assert len(parent.clone_refs()) == 1
    # simulate the loser's stale overwrite: same source, dead rival token
    _rewrite_linkage(tmp_path / "dev",
                     {"source": str(tmp_path / "p"), "ref": "deadrival"})
    assert clone.release_parent_ref() is True
    assert parent.clone_refs() == []
    # linkage is spent; a second release is a clean no-op
    assert clone.release_parent_ref() is False


# ---------------------------------------------------------------------------
# bloom-filter file skipping (point lookups on UNclustered columns)
# ---------------------------------------------------------------------------


def _mk_bloomed(spark, tmp_path, n=60000, files=8):
    from pyspark.sql import functions as F

    # each user_id occurs ~4 times TOTAL, scattered across files (a point
    # lookup's true file set is small — the case blooms exist for); the
    # layout is clustered on id, NOT user_id, so min/max can't help
    df = (
        spark.range(0, n)
        .withColumn(
            "user_id",
            F.concat(F.lit("u"),
                     ((F.col("id") * 2654435761) % (n // 4 + 1)).cast("string")),
        )
        .repartitionByRange(files, "id")
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, stats_cols=["id"], bloom_cols=["user_id"])
    return t


def test_bloom_point_lookup_skips_files_and_preserves_answers(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk_bloomed(spark, tmp_path)
    full = t.read()
    n_full = len(full.inputFiles())
    assert n_full >= 4
    probe = "u777"
    pruned = t.read(prune={"user_id": probe})
    assert len(pruned.inputFiles()) < n_full, "bloom must skip some files"
    a = sorted(r.id for r in pruned.where(F.col("user_id") == probe).collect())
    b = sorted(r.id for r in full.where(F.col("user_id") == probe).collect())
    assert a == b and a, "bloom pruning must be answer-preserving"
    # absent value: most files skipped, the filtered result is empty
    miss = t.read(prune={"user_id": "u99999999"})
    assert miss.where(F.col("user_id") == "u99999999").count() == 0
    # composes with min/max stats in one prune dict
    both = t.read(prune={"id": (0, 5000), "user_id": probe})
    assert len(both.inputFiles()) <= len(pruned.inputFiles())


def test_bloom_fails_open_everywhere(spark, tmp_path):
    import json as _json
    import os

    t = _mk_bloomed(spark, tmp_path)
    n = t.read().count()
    # a RANGE band on the bloom column cannot use the bloom (membership
    # only answers points) -> full read, full answer
    assert t.read(prune={"user_id": ("u0", "u9")}).count() == n
    # sidecar deleted out from under the marker -> full read
    meta = t._read_marker(1)
    side = os.path.join(str(tmp_path / "t"), meta["bloom"]["path"])
    os.remove(side)
    crc = os.path.join(os.path.dirname(side), "._bloom.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert t.read(prune={"user_id": "u777"}).count() == n
    # corrupt sidecar (parseable, wrong shape) -> full read
    with open(side, "w") as f:
        _json.dump({"files": None}, f)
    assert t.read(prune={"user_id": "u777"}).count() == n


def test_bloom_inherited_through_merge_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk_bloomed(spark, tmp_path, n=20000, files=4)
    delta = (
        spark.range(0, 5)
        .withColumn("user_id", F.lit("brandnew"))
    )
    t.merge(delta, keys=["id"])
    m = t._read_marker(t.current_version())
    assert "bloom" in m and list(m["bloom"]["cols"]) == ["user_id"]
    found = t.read(prune={"user_id": "brandnew"}).where(
        "user_id = 'brandnew'"
    ).count()
    assert found == 5, "merged rows must be findable through the new bloom"
    t.compact(target_file_bytes=1 << 20)
    m2 = t._read_marker(t.current_version())
    assert m2["op"] == "compact" and "bloom" in m2
    assert t.read(prune={"user_id": "brandnew"}).where(
        "user_id = 'brandnew'"
    ).count() == 5


def test_bloom_int_column_probe_casts_to_recorded_dtype(spark, tmp_path):
    """xxhash64 is type-sensitive: probing an int64 column with a Python
    int must hash under the RECORDED dtype, not whatever lit() infers."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20000).withColumn(
        "k", (F.col("id") * 7919) % 1013
    ).repartitionByRange(4, "id")
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, bloom_cols=["k"])
    got = sorted(
        r.id for r in t.read(prune={"k": 500}).where("k = 500").collect()
    )
    want = sorted(r.id for r in t.read().where("k = 500").collect())
    assert got == want and got


def test_prune_random_bands_and_points_always_answer_preserving(spark, tmp_path):
    """Randomized correctness sweep over the skipping surface: for dozens
    of random range bands (stats path) and point probes (bloom path,
    hit and miss), pruned-read + filter must equal full-read + filter —
    including bands straddling file boundaries, empty bands, and bands
    outside the domain."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n = 40000
    df = (
        spark.range(0, n)
        .withColumn(
            "user_id",
            F.concat(F.lit("u"),
                     ((F.col("id") * 2654435761) % (n // 4 + 1)).cast("string")),
        )
        .repartitionByRange(8, "id")
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, stats_cols=["id"], bloom_cols=["user_id"])
    full = t.read()

    for _ in range(25):
        lo = int(rng.integers(-5000, n + 5000))
        hi = lo + int(rng.integers(0, 8000))
        want = sorted(
            r.id for r in full.where(F.col("id").between(lo, hi)).collect()
        )
        got = sorted(
            r.id for r in t.read(prune={"id": (lo, hi)})
            .where(F.col("id").between(lo, hi)).collect()
        )
        assert got == want, (lo, hi, len(got), len(want))

    for _ in range(15):
        probe = f"u{int(rng.integers(0, n // 2))}"  # ~half will be misses
        want = sorted(
            r.id for r in full.where(F.col("user_id") == probe).collect()
        )
        got = sorted(
            r.id for r in t.read(prune={"user_id": probe})
            .where(F.col("user_id") == probe).collect()
        )
        assert got == want, (probe, len(got), len(want))


# ---------------------------------------------------------------------------
# round 8: distributed stats collection, bounded bloom pass, probe memo,
# partitioned-prune schema contract, type-mismatch fail-open
# ---------------------------------------------------------------------------


def test_distributed_stats_match_footer_stats_and_preserve_answers(
    spark, tmp_path, monkeypatch
):
    """VERDICT r07 #2: with the pyarrow footer fast-path force-disabled,
    commit(stats_cols=...) must still record per-file min/max via the
    distributed Spark pass (the object-store shape), the recorded ranges
    must match the footer path's, pruning must touch the SAME files, and
    the randomized answer-preservation property must hold."""
    import numpy as np

    # materialize once so both commits stage IDENTICAL files (a live
    # repartitionByRange would re-sample per action and shift boundaries)
    src = str(tmp_path / "src")
    _mk_range(spark).write.parquet(src)
    df = spark.read.parquet(src)
    foot = VersionedTable(spark, str(tmp_path / "foot"))
    foot.commit(df, stats_cols=["id"])
    # footer path returns None -> the distributed fall-through
    monkeypatch.setattr(VersionedTable, "_collect_file_stats_footer",
                        lambda self, dirname, cols: None)
    dist = VersionedTable(spark, str(tmp_path / "dist"))
    dist.commit(df, stats_cols=["id"])

    ms_f = foot._read_marker(1)["stats"]
    ms_d = dist._read_marker(1)["stats"]
    assert ms_d is not None and ms_d["cols"] == ["id"]
    # same per-file ranges (dir uuids differ; compare the range multisets)
    assert sorted(v["id"] for v in ms_f["files"].values()) == sorted(
        v["id"] for v in ms_d["files"].values()
    )
    # identical files-touched for the same band
    for band in [(5000, 6000), (0, 10), (19990, 30000)]:
        nf = len(foot.read(prune={"id": band}).inputFiles())
        nd = len(dist.read(prune={"id": band}).inputFiles())
        assert nf == nd, (band, nf, nd)
    full_files = len(dist.read().inputFiles())
    assert 0 < len(dist.read(prune={"id": (5000, 6000)}).inputFiles()) < full_files

    rng = np.random.default_rng(11)
    full = dist.read()
    for _ in range(12):
        lo = int(rng.integers(-3000, 23000))
        hi = lo + int(rng.integers(0, 6000))
        want = sorted(
            r.id for r in full.where(F.col("id").between(lo, hi)).collect()
        )
        got = sorted(
            r.id for r in dist.read(prune={"id": (lo, hi)})
            .where(F.col("id").between(lo, hi)).collect()
        )
        assert got == want, (lo, hi)


def test_distributed_stats_cover_partition_columns(spark, tmp_path, monkeypatch):
    """The distributed pass reads with basePath, so hive partition columns
    get per-file stats too (min=max=the partition value) — something the
    footer path can never see. Pruning on the partition column must then
    skip sibling partitions' files."""
    # footer path returns None -> the distributed fall-through
    monkeypatch.setattr(VersionedTable, "_collect_file_stats_footer",
                        lambda self, dirname, cols: None)
    df = (
        spark.range(0, 1000)
        .withColumn("bucket", (F.col("id") % 4).cast("int"))
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, partition_by=["bucket"], stats_cols=["bucket"])
    stats = t._read_marker(1)["stats"]
    assert stats and all("bucket" in v for v in stats["files"].values())
    pruned = t.read(prune={"bucket": 2})
    assert 0 < len(pruned.inputFiles()) < len(t.read().inputFiles())
    assert pruned.where("bucket = 2").count() == 250


def test_pruned_partitioned_read_keeps_partition_columns(spark, tmp_path):
    """ADVICE r07 (medium): partition_by + stats_cols — a pruned read of
    leaf files must set basePath so the hive partition columns survive;
    the pruned schema must equal the full-read schema (superset contract),
    and the answer must be value-identical."""
    df = (
        spark.range(0, 2000)
        .withColumn("day", (F.col("id") % 5).cast("int"))
        .withColumn("val", (F.col("id") * 3) % 100)
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(
        df.repartitionByRange(4, "id"), partition_by=["day"], stats_cols=["id"]
    )
    full = t.read()
    pruned = t.read(prune={"id": (100, 200)})
    assert sorted(f.name for f in pruned.schema.fields) == sorted(
        f.name for f in full.schema.fields
    ), "pruned read must keep hive partition columns (basePath)"
    want = sorted(
        (r.id, r.day) for r in full.where(F.col("id").between(100, 200)).collect()
    )
    got = sorted(
        (r.id, r.day)
        for r in pruned.where(F.col("id").between(100, 200)).collect()
    )
    assert got == want and got
    # empty-hit path keeps the schema too
    empty = t.read(prune={"id": (10**12, 10**12 + 5)})
    assert sorted(f.name for f in empty.schema.fields) == sorted(
        f.name for f in full.schema.fields
    )
    assert empty.count() == 0


def test_bloom_pass_bails_before_any_data_read_when_over_file_cap(
    spark, tmp_path, monkeypatch
):
    """VERDICT r07 #3: the MAX_STATS_FILES guard must run BEFORE the bloom
    pass launches anything — an over-limit table returns None from one
    metadata listing, never materializing per-file position sets."""
    from pyspark.sql import SparkSession

    df = spark.range(0, 1000).withColumn("k", F.col("id") % 97)
    t = VersionedTable(spark, str(tmp_path / "t"))
    v = t.commit(df.repartition(6))
    dirname = t._read_marker(v)["dir"]

    monkeypatch.setattr(VersionedTable, "MAX_STATS_FILES", 4)
    reads = []
    real_read = SparkSession.read

    def _spy(self):
        reads.append(1)
        return real_read.fget(self)

    monkeypatch.setattr(SparkSession, "read", property(_spy))
    assert t._collect_file_blooms(dirname, ["k"], 1024, 3) is None
    assert not reads, "over-cap bloom pass must not launch a data read"
    # same pre-guard on the distributed stats pass
    assert t._collect_file_stats_distributed(dirname, ["k"]) is None
    assert not reads


def test_bloom_sidecar_payloads_are_packed_executor_side(spark, tmp_path):
    """The driver only ever receives m/8-byte b64 bitmaps, never boxed
    position sets: every sidecar payload must be exactly the packed size."""
    import base64
    import json as _json

    m = 65536
    df = spark.range(0, 20000).withColumn(
        "k", (F.col("id") * 7919) % 5003
    ).repartitionByRange(4, "id")
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, bloom_cols=["k"], bloom_bits=m)
    meta = t._read_marker(1)
    side = os.path.join(str(tmp_path / "t"), meta["bloom"]["path"])
    with open(side) as f:
        bloom = _json.load(f)
    packed_len = len(base64.b64encode(bytes(m // 8)))
    payloads = [b for fc in bloom["files"].values() for b in fc.values()]
    assert payloads and all(len(b) == packed_len for b in payloads)


def test_bloom_params_validated_loudly(spark, tmp_path):
    """bloom_bits/bloom_hashes are explicit user arguments: out-of-range
    values raise a named ValueError BEFORE staging any data (an unbounded
    m is an executor-OOM lever via the pre-pack position sets; fail-open
    covers environmental failures, not bad inputs)."""
    df = spark.range(0, 10).withColumn("k", F.col("id") % 3)
    t = VersionedTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="bloom_bits"):
        t.commit(df, bloom_cols=["k"], bloom_bits=(1 << 22) + 1)
    with pytest.raises(ValueError, match="bloom_bits"):
        t.commit(df, bloom_cols=["k"], bloom_bits=32)
    with pytest.raises(ValueError, match="bloom_hashes"):
        t.commit(df, bloom_cols=["k"], bloom_hashes=0)
    assert t.current_version() is None  # nothing staged, nothing committed
    # in-range still commits
    t.commit(df, bloom_cols=["k"], bloom_bits=1024, bloom_hashes=3)
    assert t.current_version() == 1


def test_bloom_probe_positions_are_memoized(spark, tmp_path, monkeypatch):
    """VERDICT r07 #7: the second probe of the same (value, dtype, m, k)
    must come from the process-wide memo — no one-row Spark job."""
    from pyspark.sql import SparkSession

    t = VersionedTable(spark, str(tmp_path / "t"))
    first = t._bloom_positions("memo-probe-xyz", "string", 65536, 5)
    assert first is not None and len(first) == 5

    def _boom(self, *a, **kw):
        raise AssertionError("memoized probe must not launch a Spark job")

    monkeypatch.setattr(SparkSession, "range", _boom)
    assert t._bloom_positions("memo-probe-xyz", "string", 65536, 5) == first
    # different geometry = different key -> would need a job (and raises)
    with_job = t._bloom_positions("memo-probe-xyz", "string", 32768, 5)
    assert with_job is None  # job path failed -> fail open, NOT cached


def test_prune_incomparable_band_types_fail_open(spark, tmp_path):
    """ADVICE r07: a band whose type can't order against the recorded stat
    type (str band on int stats) must keep every file — never TypeError."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(_mk_range(spark, n=4000, files=4), stats_cols=["id"])
    full = t.read().count()
    assert t.read(prune={"id": ("a", "z")}).count() == full
    assert t.read(prune={"id": "not-an-int"}).count() == full


def test_bloom_type_mismatched_probe_fails_open(spark, tmp_path):
    """ADVICE r07: an int probe on a STRING bloom column must not use the
    bloom (Spark's real filter coerces the column side, so 'o5' vs 5
    semantics diverge from the write-side hashes) — full read instead."""
    df = spark.range(0, 8000).withColumn(
        "code", F.concat(F.lit("0"), (F.col("id") % 500).cast("string"))
    ).repartitionByRange(4, "id")
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, bloom_cols=["code"])
    n_full = len(t.read().inputFiles())
    # int probe on string column: bloom must NOT narrow the file set
    assert len(t.read(prune={"code": 42}).inputFiles()) == n_full
    # native-typed probe still prunes correctly
    hit = t.read(prune={"code": "042"})
    want = sorted(r.id for r in t.read().where("code = '042'").collect())
    got = sorted(r.id for r in hit.where("code = '042'").collect())
    assert got == want and got


def test_bloom_with_partition_by_keeps_schema_and_answers(spark, tmp_path):
    """blooms + hive partitioning compose: the sidecar rel-paths include
    the partition subdirs, pruned reads keep the partition columns
    (basePath), and point probes stay answer-preserving."""
    df = (
        spark.range(0, 6000)
        .withColumn("day", (F.col("id") % 3).cast("int"))
        .withColumn(
            "user_id",
            F.concat(F.lit("u"), ((F.col("id") * 2654435761) % 997).cast("string")),
        )
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df.repartitionByRange(4, "id"), partition_by=["day"],
             bloom_cols=["user_id"])
    full = t.read()
    pruned = t.read(prune={"user_id": "u123"})
    assert sorted(f.name for f in pruned.schema.fields) == sorted(
        f.name for f in full.schema.fields
    )
    want = sorted(
        (r.id, r.day) for r in full.where("user_id = 'u123'").collect()
    )
    got = sorted(
        (r.id, r.day) for r in pruned.where("user_id = 'u123'").collect()
    )
    assert got == want and got


def test_bloom_pass_failure_on_one_column_fails_open(spark, tmp_path, monkeypatch):
    """A per-column bloom pass that throws (here: injected) must skip
    that column and commit the rest — never crash the commit."""
    from pyspark.sql import functions as F_

    df = spark.range(0, 2000).withColumn("k", F_.col("id") % 97).withColumn(
        "j", (F_.col("id") * 7) % 31
    ).repartition(4)
    t = VersionedTable(spark, str(tmp_path / "t"))

    real_explode = F.explode

    def sabotage(col):
        # blow up only the pass for column "k" (first arg is an array expr;
        # detect via its string form)
        if "xxhash64(k," in str(col):
            raise RuntimeError("injected")
        return real_explode(col)

    monkeypatch.setattr(
        "enterprise_data_warehouse_spark.sources.versioned.F.explode", sabotage
    )
    v = t.commit(df, bloom_cols=["k", "j"])
    meta = t._read_marker(v)
    assert "bloom" in meta and list(meta["bloom"]["cols"]) == ["j"]
    # the surviving column still prunes answer-preservingly
    got = t.read(prune={"j": 5}).where("j = 5").count()
    assert got == t.read().where("j = 5").count() > 0


def test_inlist_pruning_stats_and_bloom_answer_preserving(spark, tmp_path):
    """prune={col: [v1, v2, ...]} — the Delta `col IN (...)` skipping
    shape: stats keep a file when ANY value falls in its range; blooms
    keep a file when ANY value might be present. Answers stay identical
    to the full read + IN filter; mixed/incompatible value types fail
    open."""
    df = (
        spark.range(0, 24000)
        .withColumn(
            "user_id",
            F.concat(F.lit("u"),
                     ((F.col("id") * 2654435761) % 6001).cast("string")),
        )
        .repartitionByRange(8, "id")
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(df, stats_cols=["id"], bloom_cols=["user_id"])
    full = t.read()
    n_files = len(full.inputFiles())

    # stats IN-list: two points in distant files -> ~2 files, exact rows
    ids = [150, 21000]
    pruned = t.read(prune={"id": ids})
    assert 0 < len(pruned.inputFiles()) < n_files
    got = sorted(r.id for r in pruned.where(F.col("id").isin(ids)).collect())
    assert got == ids
    # bloom IN-list on the unclustered column
    users = ["u777", "u4242", "u999999"]  # two hits + one absent
    bp = t.read(prune={"user_id": users})
    assert len(bp.inputFiles()) < n_files
    want = sorted(
        r.id for r in full.where(F.col("user_id").isin(users)).collect()
    )
    got = sorted(r.id for r in bp.where(F.col("user_id").isin(users)).collect())
    assert got == want and got
    # empty list and mixed-type lists fail open (full read)
    assert t.read(prune={"id": []}).count() == 24000
    assert t.read(prune={"id": [5, "oops"]}).count() == 24000
    assert t.read(prune={"user_id": ["u1", 7]}).count() == 24000


def test_incremental_watermark_memoized_in_marker(spark, tmp_path, monkeypatch):
    """incremental() records max(old wm, max(delta)) in the marker and
    the NEXT run reads it there — no full-table max() scan. A commit
    that doesn't carry the memo (plain merge) drops it, and the next
    incremental falls back to the exact scan."""
    t = VersionedTable(spark, str(tmp_path / "t"))

    def src(rows):
        return spark.createDataFrame(
            rows, "id int, updated_at string, val string"
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))

    t.incremental(src([(1, "2024-01-01 10:00:00", "a"),
                       (2, "2024-01-02 10:00:00", "b")]), "updated_at", ["id"])
    m1 = t._read_marker(t.current_version())
    assert m1["wm"] == {"updated_at": "2024-01-02 10:00:00"}

    # second run must take the watermark from the marker, not a scan:
    # sabotage DataFrame.agg on max(updated_at) of the TABLE read — the
    # only agg allowed is over the (filtered) delta
    real_read = VersionedTable.read
    reads = []

    def spy_read(self, *a, **kw):
        reads.append(1)
        return real_read(self, *a, **kw)

    monkeypatch.setattr(VersionedTable, "read", spy_read)
    t.incremental(src([(2, "2024-01-03 09:00:00", "B"),
                       (3, "2024-01-01 00:00:00", "stale")]),
                  "updated_at", ["id"])
    # one read only: the merge's survivors scan (no watermark scan)
    assert sum(reads) == 1
    monkeypatch.undo()
    m2 = t._read_marker(t.current_version())
    assert m2["wm"] == {"updated_at": "2024-01-03 09:00:00"}
    # the stale row (below the memo'd watermark) was filtered out
    got = {(r["id"], r["val"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B")}

    # empty delta keeps the old watermark
    t.incremental(src([(9, "2020-01-01 00:00:00", "old")]),
                  "updated_at", ["id"])
    assert t._read_marker(t.current_version())["wm"] == m2["wm"]

    # a plain merge drops the memo; the next incremental re-scans exactly
    t.merge(src([(4, "2024-02-01 00:00:00", "d")]), keys=["id"])
    assert "wm" not in t._read_marker(t.current_version())
    t.incremental(src([(5, "2024-02-02 00:00:00", "e"),
                       (4, "2024-01-15 00:00:00", "SHOULD_SKIP")]),
                  "updated_at", ["id"])
    got = {(r["id"], r["val"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d"), (5, "e")}
    assert t._read_marker(t.current_version())["wm"] == {
        "updated_at": "2024-02-02 00:00:00"
    }


def test_bloom_collection_fails_open_without_pandas_udf(spark, tmp_path, monkeypatch):
    """An environment where the Arrow/pandas boundary is unavailable must
    keep commit(bloom_cols=...) strictly fail-open: the commit lands
    WITHOUT a bloom instead of crashing (ADVICE r08)."""
    from pyspark.sql import functions as F

    def boom(*a, **k):
        raise ImportError("pandas unavailable")

    monkeypatch.setattr(F, "pandas_udf", boom)
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("user_id"))
    t = VersionedTable(spark, str(tmp_path / "t"))
    v = t.commit(df, bloom_cols=["user_id"])
    meta = t._read_marker(v)
    assert "bloom" not in meta
    assert t.read().count() == 100
    # probing still works (no bloom -> full read, answer preserved)
    assert t.read(prune={"user_id": 3}).where("user_id = 3").count() > 0


def test_anti_joins_keep_duplicate_and_null_key_semantics(spark, tmp_path):
    """merge, merge_partitioned and erase anti-join against the source's
    key column as it is, without de-duplicating it. A delta that repeats a
    key with two different rows and carries a null key gives the rows
    below, recorded before the key-set distinct was dropped: both rows of
    the repeated key land, a null key replaces nothing (a null target key
    survives beside the new null row), and erase removes the repeated
    subject once and no null-key row."""
    def rows(df):
        return sorted((tuple(r) for r in df.collect()),
                      key=lambda r: tuple((v is None, v) for v in r))

    t = VersionedTable(spark, str(tmp_path / "m"))
    t.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c"), (None, "t-null")]))
    t.merge(_mk(spark, [(2, "b1"), (2, "b2"), (None, "d-null"), (4, "d")]),
            ["id"])
    assert rows(t.read()) == [
        (1, "a"), (2, "b1"), (2, "b2"), (3, "c"), (4, "d"),
        (None, "d-null"), (None, "t-null")]

    schema = "id int, val string, p string"
    t = VersionedTable(spark, str(tmp_path / "mp"))
    t.merge_partitioned(spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y"), (None, "t-null", "x")],
        schema), ["id"], "p")
    t.merge_partitioned(spark.createDataFrame(
        [(2, "b1", "x"), (2, "b2", "x"), (None, "d-null", "x"), (4, "d", "y")],
        schema), ["id"], "p")
    assert rows(t.read()) == [
        (1, "a", "x"), (2, "b1", "x"), (2, "b2", "x"), (3, "c", "y"),
        (4, "d", "y"), (None, "d-null", "x"), (None, "t-null", "x")]

    t = VersionedTable(spark, str(tmp_path / "e"))
    t.commit(_mk(spark, [(1, "a"), (2, "b"), (3, "c"), (None, "t-null")]))
    audit = t.erase(
        spark.createDataFrame([(2,), (2,), (None,)], "id int"), ["id"])
    assert audit == {"version": 2, "n_erased": 1, "purged_versions": [1]}
    assert rows(t.read()) == [(1, "a"), (3, "c"), (None, "t-null")]
