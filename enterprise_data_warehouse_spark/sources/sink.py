"""Sinks & materialization (SURVEY.md §2.1 S8–S12).

The reference's materializations (dbt view/table/incremental-merge,
chunked pandas appends, audit INSERTs) re-expressed as DataFrame writes.

MERGE on plain parquet has no atomic in-place story (SURVEY.md §7.4a), so
``merge_upsert``/``merge_upsert_partitioned`` run on the commit-manifest
protocol (sources/versioned.py) by DEFAULT: data lands in immutable
version dirs and only becomes visible via atomic marker creation —
kill-safe on HDFS AND object stores, with optimistic concurrency. Use
``read_table`` to read merge targets. The staged-swap rename remains only
for restartable derived-data sinks (backfill partitions, the query result
cache) where a crash loses nothing a re-run can't rebuild; compaction
swaps via a healing two-rename and the streaming MV store commits through
the manifest protocol. Production target is Delta `MERGE INTO`, same call
shape.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence

# Schemes whose FileSystem.rename moves a DIRECTORY as one metadata op —
# what compact_parquet's two-rename swap and crash heal depend on. Bare
# s3a/gs emulate rename with per-object copy+delete: NOT atomic.
_ATOMIC_RENAME_SCHEMES = frozenset({"file", "hdfs", "viewfs", "abfs", "abfss"})

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """S8/S10: full-table or append sink; partitioned layout gives free
    partition pruning on the date key (the reference's cluster_by)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def fs_handles(spark: SparkSession, path: str):
    """(jvm, fs, hadoop Path) for ``path`` — the one place the py4j Hadoop
    boilerplate lives (result_cache, backfill, and the swaps below all
    reuse it, so FS semantics can't drift between them)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(conf), hpath


def staged_swap(
    spark: SparkSession, staged: str, path: str, overwrite: bool = True
) -> bool:
    """Move a staged directory into place via Hadoop FS rename (atomic on
    HDFS; best-effort on object stores — sources/versioned.py is the
    commit-manifest answer when that matters). Returns whether the rename
    landed; on a lost race the staged dir is cleaned up and False returned
    so callers can adopt the winner's output."""
    jvm, fs, hpath = fs_handles(spark, path)
    hstaged = jvm.org.apache.hadoop.fs.Path(staged)
    if fs.exists(hpath):
        if not overwrite:
            fs.delete(hstaged, True)
            return False
        fs.delete(hpath, True)
    parent = hpath.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    if not fs.rename(hstaged, hpath):
        # distinguish "lost a race" (destination appeared — a rival's
        # output is in place, our copy is redundant) from a genuine rename
        # failure (destination still absent — deleting the staged copy
        # here would destroy the ONLY copy, since the old target was
        # already removed above): clean up only in the race case
        if fs.exists(hpath):
            fs.delete(hstaged, True)
            return False
        raise IOError(
            f"rename {staged} -> {path} failed with no rival output in "
            f"place; staged data left at {staged} for manual recovery"
        )
    return True


def _versioned(spark: SparkSession, path: str,
               assume_atomic_marker_create: bool = False):
    from .versioned import VersionedTable

    return VersionedTable(
        spark, path,
        assume_atomic_marker_create=assume_atomic_marker_create,
    )


def _adopt_plain(spark: SparkSession, path: str,
                 assume_atomic_marker_create: bool = False) -> None:
    """One-time migration: a pre-existing PLAIN parquet table at ``path``
    (flat or hive-partitioned — either way the read yields every column)
    becomes v1 of the commit-manifest layout, then the plain files are
    removed. The plain df's file listing is resolved eagerly at read
    creation, so the v1 dir written into the same root is never picked up
    by it. A crash after the v1 marker but before the plain-file cleanup
    leaves stale-but-invisible files (read_table prefers the manifest).
    A later merge_partitioned converts v1 to the partition-mapped layout
    on its first run."""
    from .versioned import _DIR_RE

    t = _versioned(spark, path, assume_atomic_marker_create)
    if t.exists() or not _target_exists(spark, path):
        return
    jvm, fs, hpath = fs_handles(spark, path)
    # adopt only the PLAIN entries: a crashed writer may have left orphan
    # v*-* staging dirs (or an empty _commits) next to the legacy files —
    # reading the whole root would trip over them. basePath keeps hive
    # partition columns recoverable when entries are key=value dirs.
    plain_entries = [
        st.getPath()
        for st in fs.listStatus(hpath)
        if st.getPath().getName() != "_commits"
        and not _DIR_RE.match(st.getPath().getName())
    ]
    if not plain_entries:
        return
    from .versioned import ConcurrentWriteError

    try:
        plain = spark.read.option("basePath", path).parquet(
            *[p.toString() for p in plain_entries]
        )
        # pinned at v1: a delayed adopter racing a winner (who may already
        # have MERGED on top of its v1) must collide and back off — an
        # unpinned commit would land the STALE plain snapshot as the newest
        # version, shadowing every merge that happened in between
        t.commit(plain, op="adopt", at_version=1)
    except ConcurrentWriteError:
        return  # a racing writer adopted first — its v1 is the same data
    except Exception:
        # the racing winner may have deleted the plain files mid-read; if
        # a committed version now exists the adoption is complete — any
        # other failure is real and propagates
        if t.exists():
            return
        raise
    for p in plain_entries:
        fs.delete(p, True)


def read_table(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Read a sink-managed table: commit-manifest layout when present
    (the default merge path), plain parquet otherwise (write_table
    output). The current version is resolved once and its marker handed
    to ``read``, which then needs no schema-inference job either (see
    sources/versioned.py)."""
    # read-only: the create-capability probe is irrelevant
    t = _versioned(spark, path, assume_atomic_marker_create=True)
    version, meta = t.current()
    if version is not None:
        return t.read(version=version, merge_schema=merge_schema, meta=meta)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    keys: Sequence[str],
    evolve_schema: bool = False,
    retain_versions: int | None = None,
    max_retries: int = 3,
    assume_atomic_marker_create: bool = False,
) -> None:
    """S9: MERGE semantics on parquet — source rows win on key collision.

    Runs on the commit-manifest protocol (sources/versioned.py) by
    DEFAULT: anti-join(target, src-keys) ∪ src lands as an immutable
    version dir and becomes visible only when the atomic marker file is
    created — kill-safe at every point and optimistically concurrent, the
    same guarantees the reference inherits from Snowflake's ACID MERGE
    (dbt_project.yml:79-82). A pre-existing plain-parquet target is
    adopted as v1 first. Read results back with ``read_table``.

    ``evolve_schema=True`` is dbt's ``on_schema_change: append_new_columns``
    (reference dbt_project.yml incremental config): a source with NEW
    columns widens the table (old rows null-fill), a source MISSING columns
    still merges (its rows null-fill the gap). Default off: an unexpected
    schema drift should fail loudly unless the caller opted into
    evolution.

    Lost commit races self-heal: a concurrent writer winning the version
    marker raises ConcurrentWriteError inside the protocol; this wrapper
    re-derives the merge against the NEW current version and retries (the
    documented optimistic-concurrency loop, Delta-on-S3 stance).
    ``max_retries`` is the TOTAL attempt count (must be >= 1; the default
    3 allows 2 re-derives). Every loss means a rival COMMITTED, so with
    only merge writers N total attempts suffice for N writers; a
    concurrent maintenance loop (compact/vacuum-with-commit) adds rival
    commits beyond that bound — size max_retries to one plus the total
    rival commits possible in the contention window.

    ``retain_versions=N`` vacuums down to the last N versions after a
    successful merge (young orphans of live racers are grace-spared).
    Default None keeps full history for time travel — but a HIGH-FREQUENCY
    merge loop (streaming foreachBatch, every-5-min incrementals) MUST set
    it: every merge writes a full immutable version, so unbounded history
    means storage ∝ batches × table size and O(versions) marker reads per
    merge."""
    from .versioned import ConcurrentWriteError

    if max_retries < 1:
        raise ValueError("max_retries must be >= 1 (it is the total attempt "
                         "count; 0 would silently skip the merge)")
    _adopt_plain(spark, path, assume_atomic_marker_create)
    t = _versioned(spark, path, assume_atomic_marker_create)
    for attempt in range(max_retries):
        try:
            t.merge(src, keys, evolve_schema=evolve_schema)
            break
        except ConcurrentWriteError:
            if attempt == max_retries - 1:
                raise
    if retain_versions is not None:
        t.vacuum(keep=retain_versions)


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    src: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    retain_versions: int | None = None,
    max_retries: int = 3,
    assume_atomic_marker_create: bool = False,
) -> None:
    """S9 at scale: MERGE that only reads and rewrites the partitions the
    delta touches (SURVEY.md §7.4a mitigation). A day's delta against a
    years-deep fact table costs one day's I/O, not the table.

    Runs on the partition-mapped commit manifest
    (VersionedTable.merge_partitioned): the marker's ``parts`` map points
    untouched partitions at their existing immutable dirs — Delta's
    add-file pruning with marker-last crash safety, replacing the old
    in-place dynamic-partition overwrite (which had a non-atomic window
    per partition directory). Read results back with ``read_table``.
    Lost commit races self-heal by re-deriving against the winner's
    version, same as merge_upsert."""
    from .versioned import ConcurrentWriteError

    if max_retries < 1:
        raise ValueError("max_retries must be >= 1 (it is the total attempt "
                         "count; 0 would silently skip the merge)")
    _adopt_plain(spark, path, assume_atomic_marker_create)
    t = _versioned(spark, path, assume_atomic_marker_create)
    for attempt in range(max_retries):
        try:
            t.merge_partitioned(src, keys, partition_col)
            break
        except ConcurrentWriteError:
            if attempt == max_retries - 1:
                raise
    # retention note: see merge_upsert — mandatory for high-frequency loops
    if retain_versions is not None:
        t.vacuum(keep=retain_versions)


def _target_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(conf).exists(hpath)


def read_watermark(spark: SparkSession, path: str, col: str, default: str) -> str:
    """S3/P5: scalar watermark from the target — driver-side collect of a
    max() so the incremental filter is a literal Catalyst can push into the
    source scan (SURVEY.md §4 note on scalar subqueries)."""
    if not _target_exists(spark, path):
        return default
    row = read_table(spark, path).agg(F.max(col).alias("wm")).collect()[0]
    return str(row["wm"]) if row["wm"] is not None else default


def incremental_build(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    watermark_col: str,
    keys: Sequence[str],
    default_watermark: str = "1900-01-01 00:00:00",
    retain_versions: int | None = None,
) -> None:
    """The dbt incremental-merge materialization: filter source past the
    target's watermark, MERGE on unique key. Idempotent under replays —
    re-merging the same delta is a no-op row-count-wise. Scheduled loops
    should set ``retain_versions`` (see merge_upsert) to bound history.

    Runs on ``VersionedTable.incremental``, which MEMOIZES the watermark
    in the commit marker: steady-state runs read ``max(watermark_col)``
    from the marker in O(1) instead of re-scanning the whole target (the
    S3 scalar-subquery term — a full pass over the fact at 100 TB). A
    pre-existing plain-parquet target is adopted as v1 first; races
    retry like merge_upsert."""
    from .versioned import ConcurrentWriteError

    _adopt_plain(spark, path, False)
    t = _versioned(spark, path, False)
    for attempt in range(3):
        try:
            t.incremental(source, watermark_col, keys, default_watermark)
            break
        except ConcurrentWriteError:
            if attempt == 2:
                raise
    if retain_versions is not None:
        t.vacuum(keep=retain_versions)


def incremental_build_partitioned(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    watermark_col: str,
    keys: Sequence[str],
    partition_col: str,
    default_watermark: str = "1900-01-01 00:00:00",
    retain_versions: int | None = None,
) -> None:
    """incremental_build's partition-scoped twin — the steady-state 100 TB
    materialization loop: O(1) marker-memoized watermark + one delta scan
    + O(touched-partition) rewrite per run (see
    VersionedTable.incremental_partitioned). Use for day/hour-partitioned
    facts where plain incremental_build would rewrite the whole table
    every run."""
    from .versioned import ConcurrentWriteError

    _adopt_plain(spark, path, False)
    t = _versioned(spark, path, False)
    for attempt in range(3):
        try:
            t.incremental_partitioned(
                source, watermark_col, keys, partition_col, default_watermark)
            break
        except ConcurrentWriteError:
            if attempt == 2:
                raise
    if retain_versions is not None:
        t.vacuum(keep=retain_versions)


def write_with_audit(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    audit_path: str,
    run_name: str,
    not_null_cols: Sequence[str] = (),
    watermark_col: str | None = None,
    partition_by: Sequence[str] | None = None,
) -> dict[str, float]:
    """S8+S12 fused: materialize `df` AND collect its audit metrics in ONE
    scan via `df.observe` (Spark's accumulator-backed observation API).

    The reference audits with post-hook SELECTs against the table it just
    built (macros/scd_type2_macro.sql:154-182, generate_fact_tables.sql:
    130-155) — a second full scan per model. At 100 TB that doubles I/O;
    observed metrics ride the write's own pass for free. Collected here:
    row count, per-column null counts (the dbt `not_null` tests), and the
    max watermark (feeds the next incremental run without the S3 scalar
    subquery re-scan).
    """
    from pyspark.sql import Observation

    metrics_exprs = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null_cols:
        # coalesce: F.sum over ZERO rows observes as null — an empty-but-
        # valid write must audit as PASS with nulls_*=0, not FAIL with None.
        metrics_exprs.append(
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"nulls_{c}")
        )
    if watermark_col:
        metrics_exprs.append(
            F.max(F.col(watermark_col).cast("string")).alias("max_watermark")
        )
    obs = Observation(run_name)
    observed = df.observe(obs, *metrics_exprs)
    write_table(observed, path, partition_by=partition_by)
    metrics = dict(obs.get)
    status = (
        "PASS"
        if all(v == 0 for k, v in metrics.items() if k.startswith("nulls_"))
        else "FAIL"
    )
    append_audit(spark, audit_path, run_name, status, {
        k: v for k, v in metrics.items() if k != "max_watermark"
    })
    return metrics


def append_audit(
    spark: SparkSession, path: str, run_name: str, status: str, metrics: dict[str, float]
) -> None:
    """S12: audit log sink (reference macros/scd_type2_macro.sql:154-182) —
    one appended row per run with a JSON metrics payload."""
    import json

    row = [(run_name, status, json.dumps(metrics, sort_keys=True))]
    df = (
        spark.createDataFrame(row, "run_name string, status string, metrics_json string")
        .withColumn("logged_at", F.current_timestamp())
    )
    df.write.mode("append").parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: str,
    cluster_by: Sequence[str],
    max_records_per_file: int | None = None,
) -> None:
    """The reference's clustering keys (`cluster_by=['transaction_date',
    'customer_key','product_key']`, models/marts/facts/fact_sales_daily.sql:5)
    mapped to parquet physics: directory partitioning on the coarse key
    (partition pruning) + sortWithinPartitions on the cluster keys so each
    file's row groups hold narrow min/max ranges — parquet row-group stats
    then skip I/O for point/range predicates on the cluster keys, which is
    what Snowflake micro-partition clustering buys.

    repartition(partition_by) before the sort gives one shuffle and avoids
    the small-files explosion (without it, every task writes a file into
    every partition directory: tasks × partitions files at 100 TB).
    maxRecordsPerFile caps file size so a skewed partition still splits."""
    writer = (
        df.repartition(F.col(partition_by))
        .sortWithinPartitions(partition_by, *cluster_by)
        .write.mode("overwrite")
        .partitionBy(partition_by)
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a parquet directory tree via the
    Hadoop FS API — no data read, just the file listing."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    n_files = total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            n_files += 1
            total += st.getLen()
    return n_files, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: Sequence[str] | None = None,
    assume_atomic_rename: bool = False,
) -> dict[str, int]:
    """Table maintenance: rewrite a parquet directory's many small files
    into ~target-size files (default 128 MB — one HDFS block / one scan
    split). Snowflake does this invisibly for the reference (micro-partition
    compaction); on a parquet lake it's an explicit op, and at 100 TB an
    uncompacted table turns every scan into millions of file opens — small
    files are a metadata problem long before they are an I/O problem.

    Sizing uses the ACTUAL on-disk byte count (no data read), rewrites via
    a round-robin repartition (even output sizes, no skew by content), and
    swaps the rewritten directory in with TWO RENAMES — current → aside,
    staged → current, then delete the aside copy (the in-place layout is
    the point of compaction; merge targets get the stronger
    commit-manifest protocol instead). Nothing is deleted until the new
    layout is in place: the unreadable window is two metadata ops, not a
    recursive delete of the whole table (at 100 TB a delete-then-rename
    swap leaves the table unreadable for the minutes the delete takes, and
    a crash inside it destroys the only copy). A crash between the renames
    leaves the full table under the aside name and the staged copy
    complete — the next compact_parquet call auto-heals by renaming the
    aside back before doing anything else. Returns before/after file
    counts for auditability.

    Partitioned layout: a round-robin repartition would hand EVERY task
    rows of every partition value, so the partitionBy writer would emit up
    to n_files × |values| files — compaction that can INCREASE file count.
    Instead we shuffle on the partition columns plus a bounded hash salt
    (≤ files_per_partition distinct values), so each output directory gets
    at most files_per_partition ~target-size files.

    STORAGE REQUIREMENT — atomic directory rename. Both the two-rename
    swap and the crash heal reason "path and aside cannot BOTH hold live
    rows": true when rename moves the directory as one metadata op (local/
    HDFS/viewfs, ABFS hierarchical namespace), FALSE on bare s3a/gs where
    rename is a client-side per-object copy+delete — a crash mid-rename
    splits the rows across both names and the heal would then delete live
    data. The probe refuses such schemes up front (pass
    ``assume_atomic_rename=True`` only if the store provides the
    guarantee); on object stores, compact via
    ``VersionedTable.commit(read(), ...)`` instead — the manifest protocol
    needs no renames at all.
    """
    from .versioned import UnsupportedStoreError, _fs

    _, fs_probe = _fs(spark, path)
    try:
        scheme = str(fs_probe.getScheme())
    except Exception:
        try:
            scheme = str(fs_probe.getUri().getScheme() or "unknown")
        except Exception:
            scheme = "unknown"
    if scheme not in _ATOMIC_RENAME_SCHEMES and not assume_atomic_rename:
        raise UnsupportedStoreError(
            f"filesystem scheme {scheme!r} for {path} does not rename "
            "directories atomically, so compaction's swap (and its crash "
            "heal) could split or delete live rows. Compact via "
            "VersionedTable.commit(read(), ...) on such stores, or pass "
            "assume_atomic_rename=True if the store guarantees it."
        )
    if _versioned(spark, path, assume_atomic_marker_create=True).exists():
        raise ValueError(
            f"{path} is a commit-manifest (versioned) table: compacting the "
            "root would read every version's dir as one dataset and swap "
            "the manifest away. Compact a specific version's data dir, or "
            "rewrite via VersionedTable.commit(read(), ...) instead."
        )
    _heal_interrupted_compaction(spark, path)
    n_before, total_bytes = _dir_stats(spark, path)
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    if partition_by:
        n_parts = df.select(*partition_by).distinct().count()
        files_per_part = max(1, -(-int(n_files) // max(n_parts, 1)))  # ceil
        data_cols = [c for c in df.columns if c not in partition_by]
        salt = (
            F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(files_per_part))
            if data_cols
            else F.lit(0)
        )
        shuffled = df.repartition(
            int(n_parts * files_per_part),
            *[F.col(c) for c in partition_by],
            salt,
        )
    else:
        shuffled = df.repartition(int(n_files))
    staged = path.rstrip("/") + "__compact_staged"
    writer = shuffled.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staged)
    # two-rename swap: aside the current layout, move the new one in, only
    # then delete — see the crash-window rationale in the docstring
    jvm, fs, hpath = fs_handles(spark, path)
    aside = path.rstrip("/") + "__compact_old-" + uuid.uuid4().hex[:8]
    haside = jvm.org.apache.hadoop.fs.Path(aside)
    hstaged = jvm.org.apache.hadoop.fs.Path(staged)
    if not fs.rename(hpath, haside):
        fs.delete(hstaged, True)
        raise RuntimeError(f"compaction aside-rename failed for {path}")
    if not fs.rename(hstaged, hpath):
        fs.rename(haside, hpath)  # roll the original straight back
        fs.delete(hstaged, True)
        raise RuntimeError(f"compaction swap-rename failed for {path}")
    fs.delete(haside, True)
    n_after, _ = _dir_stats(spark, path)
    return {"files_before": n_before, "files_after": n_after}


def _heal_interrupted_compaction(spark: SparkSession, path: str) -> None:
    """Recover from a compaction crash between its two renames: the table
    lives under ``<path>__compact_old-*`` and ``path`` is missing — rename
    the aside copy back (and drop any leftover staged dir) so the table is
    readable again before the new run re-stats it. No-op otherwise; if the
    swap COMPLETED but the aside delete didn't, the aside copy is stale —
    remove it. SOUND ONLY under atomic directory rename (path-or-aside,
    never rows split across both) — which compact_parquet's scheme probe
    guarantees before any swap can have happened."""
    jvm, fs, hpath = fs_handles(spark, path)
    parent = hpath.getParent()
    if parent is None or not fs.exists(parent):
        return
    base = hpath.getName()
    asides = [
        st.getPath()
        for st in fs.listStatus(parent)
        if st.getPath().getName().startswith(base + "__compact_old-")
    ]
    for haside in asides:
        if fs.exists(hpath):
            fs.delete(haside, True)  # swap completed; aside copy is stale
        else:
            fs.rename(haside, hpath)
    staged = jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "__compact_staged"
    )
    if fs.exists(staged) and fs.exists(hpath):
        fs.delete(staged, True)
