"""Protocol scaling probe: evidence that the commit-manifest MERGE/vacuum
surface itself is O(touched partitions) / O(versions reclaimed) — NOT
O(table) — measured at sf0.1 vs sf1 (VERDICT r04 #6).

Three claims, each measured:

1. **Partitioned MERGE cost tracks the touched partition, not the table.**
   A one-day delta against a day-partitioned orders fact (2405 partitions)
   is merged at sf0.1 (150k rows) and sf1 (1.5M rows). Wall time should be
   near-FLAT across the decade (the touched day is 62 vs 624 rows — both
   overhead-dominated) and the bytes written by the merge should be a
   vanishing fraction of the table.

2. **Vacuum cost tracks versions reclaimed, not table size.** After 12
   same-day delta merges, vacuum(keep=2) reclaims 10 single-day version
   dirs; wall time should be near-flat sf0.1 → sf1 (it never lists or
   touches the protected full-table dir's files).

3. **Vacuum is linear in version count.** At sf0.1, 10× the superseded
   versions should cost ~10× the vacuum time (and no more).

The merge/vacuum leg also prints the Spark jobs launched per merge and
per ``read_table`` (status-tracker job-id delta of a job group): a
read of a committed version takes its schema from the commit marker, so
it launches no schema-inference job; a read naming more than 32 dirs
still runs Spark's parallel file-listing job.

Usage: python tools/protocol_probe.py   (prints a table; paste → SCALING.md)
"""

from __future__ import annotations

import shutil
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from enterprise_data_warehouse_spark.session import get_spark  # noqa: E402
from enterprise_data_warehouse_spark.sources.sink import (  # noqa: E402
    merge_upsert_partitioned,
    read_table,
)
from enterprise_data_warehouse_spark.sources.tables import load_table  # noqa: E402
from enterprise_data_warehouse_spark.sources.versioned import (  # noqa: E402
    VersionedTable,
)

SF_DIRS = {"0.1": "/root/testdata/sf0.1", "1": "/root/repo/testdata_sf1",
           "10": "/root/repo/testdata_sf10",
           "100": "/root/repo/testdata_sf100"}
DELTA_DAY = "1995-06-17"  # mid-range order date present at both SFs
WORK = Path("/tmp/protocol_probe")


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _timed_jobs(spark, fn) -> tuple[float, int]:
    """(wall seconds, Spark jobs launched) of ``fn()``: the job count is
    the status tracker's job ids for a fresh job group, read after the
    listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"protocol-probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "protocol probe")
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        wall = time.perf_counter() - t0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, jobs


def _orders(spark, sf_dir):
    # bare-day key: o_orderdate is a TIMESTAMP, whose cast-to-string form
    # carries " 00:00:00" and would never equal DELTA_DAY (empty deltas)
    return load_table(spark, sf_dir, "orders").withColumn(
        "date_key", F.date_format("o_orderdate", "yyyy-MM-dd")
    )


def _delta(orders, bump: int):
    return orders.where(F.col("date_key") == DELTA_DAY).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(bump)
    )


def probe_sf(spark, sf: str, n_versions: int) -> dict:
    root = WORK / f"fact_sf{sf.replace('.', '_')}_v{n_versions}"
    shutil.rmtree(root, ignore_errors=True)
    orders = _orders(spark, SF_DIRS[sf])

    t0 = time.perf_counter()
    merge_upsert_partitioned(spark, str(root), orders, ["o_orderkey"], "date_key")
    build_s = time.perf_counter() - t0
    table_bytes = _du(root)

    # n_versions same-day delta merges (the streaming-foreachBatch shape)
    merge_times, merge_jobs = [], []
    for i in range(n_versions):
        d = _delta(orders, i + 1)
        wall, jobs = _timed_jobs(spark, lambda: merge_upsert_partitioned(
            spark, str(root), d, ["o_orderkey"], "date_key"))
        merge_times.append(wall)
        merge_jobs.append(jobs)
    merge_bytes = _du(root) - table_bytes  # all delta versions combined
    reads = [_timed_jobs(spark, lambda: read_table(spark, str(root)))
             for _ in range(3)]

    t = VersionedTable(spark, str(root))
    n_committed = len(t.committed_versions())
    t0 = time.perf_counter()
    removed = t.vacuum(keep=2, orphan_grace_ms=0, supersede_grace_ms=0)
    vacuum_s = time.perf_counter() - t0

    return {
        "sf": sf,
        "rows": orders.count(),
        "partitions": 2405,
        "build_s": build_s,
        "table_mb": table_bytes / 1e6,
        "merge_best_s": min(merge_times),
        "merge_avg_s": sum(merge_times) / len(merge_times),
        "merge_jobs": sum(merge_jobs) / len(merge_jobs),
        "read_best_s": min(wall for wall, _ in reads),
        "read_jobs": max(jobs for _, jobs in reads),
        "merge_mb_per_version": merge_bytes / n_versions / 1e6,
        "versions_reclaimed": len(removed["versions"]),
        "vacuum_s": vacuum_s,
        "n_committed": n_committed,
    }


def probe_clone(spark, sf: str) -> None:
    """Clone is METADATA-ONLY: wall time must be flat across the 10×
    table decade (one ref write + one marker write — zero data I/O), and
    compact() throughput should track table bytes (it IS a rewrite)."""
    root = WORK / f"clone_src_sf{sf.replace('.', '_')}"
    shutil.rmtree(root, ignore_errors=True)
    orders = _orders(spark, SF_DIRS[sf])
    t = VersionedTable(spark, str(root))
    t.commit(orders)
    rows = orders.count()
    table_mb = _du(root) / 1e6

    clone_times = []
    for i in range(3):
        t0 = time.perf_counter()
        c = t.clone(str(WORK / f"clone_dst_sf{sf.replace('.', '_')}_{i}"))
        clone_times.append(time.perf_counter() - t0)
        assert c.read().count() == rows  # zero-copy branch reads the data

    t0 = time.perf_counter()
    stats = c.compact()
    compact_s = time.perf_counter() - t0
    print(
        f"sf{sf:<5}{rows:>9}{table_mb:>9.1f}"
        f"{min(clone_times) * 1000:>12.0f}ms"
        f"{compact_s:>10.2f}s{table_mb / compact_s:>9.1f}MB/s"
        f"  files {stats['files_before']}->{stats['files_after']}"
    )
    shutil.rmtree(WORK, ignore_errors=True)


def probe_stats_pruning(spark, sf: str) -> None:
    """Manifest data skipping: a point lookup on a range-clustered table
    committed with stats_cols should read ~1 file and stay near-FLAT
    across the 10× decade, while the unpruned lookup's scan cost tracks
    the table. (Both still apply the same real filter — pruning only
    changes which files Spark lists.)"""
    from pyspark.sql import functions as F

    root = WORK / f"stats_sf{sf.replace('.', '_')}"
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, SF_DIRS[sf], "orders")
    t = VersionedTable(spark, str(root))
    t.commit(orders.repartitionByRange(32, "o_orderkey"),
             stats_cols=["o_orderkey"])
    band = (1000, 2000)

    def lookup(prune):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = t.read(prune={"o_orderkey": band} if prune else None)
            n = df.where(F.col("o_orderkey").between(*band)).count()
            best = min(best, time.perf_counter() - t0)
        files = len(
            t.read(prune={"o_orderkey": band} if prune else None).inputFiles()
        )
        return best, files, n

    full_s, full_files, n1 = lookup(False)
    pruned_s, pruned_files, n2 = lookup(True)
    assert n1 == n2, (n1, n2)
    print(
        f"sf{sf:<5}{orders.count():>9}{full_files:>7}f{full_s:>9.2f}s"
        f"{pruned_files:>7}f{pruned_s:>9.2f}s"
        f"{full_s / pruned_s:>9.1f}x  rows={n1}"
    )
    shutil.rmtree(WORK, ignore_errors=True)


def probe_watermark(spark, sf: str) -> None:
    """r08 leg: the marker-memoized incremental watermark. Steady-state
    watermark resolution must be O(1) (one marker read) regardless of
    table size, vs the exact max() scan the non-memo path pays. Prints
    both resolutions' best-of-3 wall time at this SF."""
    root = WORK / f"wm_sf{sf.replace('.', '_')}"
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, SF_DIRS[sf], "orders")
    n = orders.count()
    t = VersionedTable(spark, str(root))
    t.incremental(orders, "o_orderdate", ["o_orderkey"])

    def best(fn, runs=3):
        out = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            out = min(out, time.perf_counter() - t0)
        return out

    memo_s = best(lambda: t._resolve_watermark("o_orderdate", "1900-01-01"))
    # drop the memo the documented way: a plain merge doesn't carry it
    t.merge(orders.limit(1), keys=["o_orderkey"])
    assert "wm" not in (t._read_marker(t.current_version()) or {})
    scan_s = best(lambda: t._resolve_watermark("o_orderdate", "1900-01-01"))
    print(
        f"sf{sf:<5}{n:>9}  wm(memo){memo_s * 1000:>8.1f}ms"
        f"  wm(scan){scan_s * 1000:>9.1f}ms  ratio{scan_s / memo_s:>7.1f}x"
    )
    shutil.rmtree(WORK, ignore_errors=True)


def probe_stats_distributed(spark, sf: str) -> None:
    """VERDICT r07 #2 done-criterion: the DISTRIBUTED stats pass (footer
    path force-disabled — the object-store shape) must record ranges that
    prune to the SAME files-touched as the footer path, at comparable
    commit cost. Prints one row per path and asserts identical pruning."""
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_DIRS[sf], "orders")
    staged = orders.repartitionByRange(32, "o_orderkey")
    band = (1000, 2000)
    out = {}
    for mode in ("footer", "distrib"):
        root = WORK / f"statsd_{mode}_sf{sf.replace('.', '_')}"
        shutil.rmtree(root, ignore_errors=True)
        t = VersionedTable(spark, str(root))
        if mode == "distrib":
            # footer path returns None -> the distributed fall-through
            t._collect_file_stats_footer = lambda *a: None
        t0 = time.perf_counter()
        t.commit(staged, stats_cols=["o_orderkey"])
        commit_s = time.perf_counter() - t0
        pruned = t.read(prune={"o_orderkey": band})
        files = len(pruned.inputFiles())
        rows = pruned.where(F.col("o_orderkey").between(*band)).count()
        out[mode] = (files, rows)
        print(
            f"sf{sf:<5}{mode:>8}  commit{commit_s:>7.2f}s"
            f"  pruned_files={files:<3} rows={rows}"
        )
    assert out["footer"] == out["distrib"], out
    print("identical files-touched: OK")
    shutil.rmtree(WORK, ignore_errors=True)


def probe_bloom_pruning(spark, sf: str) -> None:
    """Bloom file skipping: a point lookup on a column the layout is NOT
    clustered by (o_custkey; files are ranged on o_orderkey, so min/max
    stats are useless for this probe) should touch only the few files
    that actually hold the customer's orders plus the bloom's false
    positives. bloom_bits follows the ~5-bits-per-distinct-value-per-file
    sizing rule."""
    from pyspark.sql import functions as F

    root = WORK / f"bloom_sf{sf.replace('.', '_')}"
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, SF_DIRS[sf], "orders")
    n = orders.count()
    per_file_distinct = n // 32  # ~1 order/customer-row per file
    m = 1 << max(16, (per_file_distinct * 5).bit_length())
    t = VersionedTable(spark, str(root))
    t.commit(orders.repartitionByRange(32, "o_orderkey"),
             bloom_cols=["o_custkey"], bloom_bits=m)
    probe = 733  # a mid-range custkey present at both SFs

    def lookup(prune):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = t.read(prune={"o_custkey": probe} if prune else None)
            cnt = df.where(F.col("o_custkey") == probe).count()
            best = min(best, time.perf_counter() - t0)
        files = len(
            t.read(prune={"o_custkey": probe} if prune else None).inputFiles()
        )
        return best, files, cnt

    full_s, full_files, n1 = lookup(False)
    pruned_s, pruned_files, n2 = lookup(True)
    assert n1 == n2, (n1, n2)
    print(
        f"sf{sf:<5}{n:>9}  m={m:>7}{full_files:>6}f{full_s:>9.2f}s"
        f"{pruned_files:>6}f{pruned_s:>9.2f}s  rows={n1}"
    )
    shutil.rmtree(WORK, ignore_errors=True)


def probe_incr_partitioned(spark, sf: str) -> None:
    """r09 leg (VERDICT r08 #5): the COMPOSED steady-state loop —
    ``incremental_build_partitioned`` = marker-memoized watermark +
    partition-scoped merge — measured per batch. After the base build,
    each run ingests ONE new day; per-batch wall must be near-flat
    across the sf0.1 → sf10 decades (the touched day is 62 → 6.2k rows,
    all overhead-dominated; the years-deep table itself is never
    scanned: watermark from the marker, survivors from the one touched
    dir)."""
    from enterprise_data_warehouse_spark.sources.sink import (
        incremental_build_partitioned,
    )

    root = WORK / f"incrp_sf{sf.replace('.', '_')}"
    shutil.rmtree(root, ignore_errors=True)
    # bare-day partition key (o_orderdate is a TIMESTAMP; _orders'
    # cast-to-string form carries " 00:00:00" and would never match the
    # bare-day probe values)
    orders = load_table(spark, SF_DIRS[sf], "orders").withColumn(
        "date_key", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    cutoff = "2001-07-01"
    days = ["2001-07-02", "2001-07-03", "2001-07-04"]

    t0 = time.perf_counter()
    incremental_build_partitioned(
        spark, str(root),
        orders.where(F.col("date_key") < cutoff),
        "o_orderdate", ["o_orderkey"], "date_key",
    )
    build_s = time.perf_counter() - t0
    t = VersionedTable(spark, str(root))
    n_parts = len(t._read_marker(t.current_version())["parts"])

    batch_rows, batch_times = [], []
    for day in days:
        src = orders.where(F.col("date_key") == day)
        t0 = time.perf_counter()
        incremental_build_partitioned(
            spark, str(root), src, "o_orderdate", ["o_orderkey"], "date_key")
        batch_times.append(time.perf_counter() - t0)
        m = t._read_marker(t.current_version())
        assert m["touched"] == [day], m["touched"]  # one-day blast radius
        assert m["wm"]["o_orderdate"].startswith(day)  # memo advanced
        batch_rows.append(src.count())
    per = "/".join(f"{s:.2f}" for s in batch_times)
    print(
        f"sf{sf:<5}{n_parts:>6}parts  build{build_s:>8.1f}s"
        f"  day_rows={batch_rows[0]:<6} batch(s) {per}"
        f"  best{min(batch_times):>6.2f}s"
    )
    shutil.rmtree(WORK, ignore_errors=True)


def main() -> None:
    # one leg per invocation (each prints immediately):
    #   python tools/protocol_probe.py 0.1 12
    #   python tools/protocol_probe.py 1   12     (10× table, same merge/vacuum work)
    #   python tools/protocol_probe.py 0.1 60     (5× versions, same table)
    #   python tools/protocol_probe.py clone 0.1  (zero-copy clone leg)
    #   python tools/protocol_probe.py stats 0.1  (data-skipping leg)
    #   python tools/protocol_probe.py bloom 0.1  (bloom point-lookup leg)
    if len(sys.argv) > 1 and sys.argv[1] == "bloom":
        sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"
        spark = get_spark("protocol-probe")
        print(f"{'probe':<7}{'rows':>9}{'bits':>10}{'full':>7}{'t_full':>10}"
              f"{'pruned':>7}{'t_pruned':>10}")
        probe_bloom_pruning(spark, sf)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "stats":
        sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"
        spark = get_spark("protocol-probe")
        print(f"{'probe':<7}{'rows':>9}{'full':>8}{'t_full':>10}"
              f"{'pruned':>8}{'t_pruned':>10}{'speedup':>10}")
        probe_stats_pruning(spark, sf)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "stats-dist":
        sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"
        spark = get_spark("protocol-probe")
        probe_stats_distributed(spark, sf)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "incr-part":
        sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"
        spark = get_spark("protocol-probe")
        probe_incr_partitioned(spark, sf)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "wm":
        sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"
        spark = get_spark("protocol-probe")
        probe_watermark(spark, sf)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "clone":
        sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"
        spark = get_spark("protocol-probe")
        print(f"{'probe':<7}{'rows':>9}{'tableMB':>9}{'clone(best)':>14}"
              f"{'compact':>10}{'rate':>12}")
        probe_clone(spark, sf)
        return
    sf = sys.argv[1] if len(sys.argv) > 1 else "0.1"
    n_versions = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    spark = get_spark("protocol-probe")
    r = probe_sf(spark, sf, n_versions)
    print(
        f"{'probe':<20}{'rows':>9}{'build':>8}{'tableMB':>9}"
        f"{'merge(best)':>12}{'merge(avg)':>11}{'jobs/merge':>11}"
        f"{'read(best)':>11}{'jobs/read':>10}{'MB/ver':>8}"
        f"{'reclaimed':>10}{'vacuum':>8}"
    )
    print(
        f"sf{r['sf']:<4} v={r['n_committed']:<11}{r['rows']:>9}"
        f"{r['build_s']:>7.1f}s{r['table_mb']:>8.1f}"
        f"{r['merge_best_s']:>11.2f}s{r['merge_avg_s']:>10.2f}s"
        f"{r['merge_jobs']:>11.1f}"
        f"{r['read_best_s']:>10.3f}s{r['read_jobs']:>10}"
        f"{r['merge_mb_per_version']:>8.2f}"
        f"{r['versions_reclaimed']:>10}{r['vacuum_s']:>7.2f}s"
    )
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
