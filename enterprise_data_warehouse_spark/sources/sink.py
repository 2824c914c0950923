"""Sinks & materialization (SURVEY.md §2.1 S8–S12).

The reference's materializations (dbt view/table/incremental-merge,
chunked pandas appends, audit INSERTs) re-expressed as DataFrame writes.

MERGE on plain parquet has no atomic in-place story (SURVEY.md §7.4a), so
``merge_upsert``/``merge_upsert_partitioned`` and the two
``incremental_build`` variants are thin wrappers over the commit-manifest
protocol (sources/versioned.py): data lands in immutable version dirs and
only becomes visible via atomic marker creation — kill-safe on HDFS AND
object stores, with optimistic concurrency. Use ``read_table`` to read
merge targets. Compaction (``VersionedTable.compact``) commits through
the same protocol. The staged-swap rename remains only for the query
result cache, where an entry never changes once written and a crash loses
nothing a re-run can't rebuild. Production target is Delta `MERGE INTO`,
same call shape.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import _DIR_RE, ConcurrentWriteError, VersionedTable, fs_handles


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


def staged_swap(spark: SparkSession, staged: str, path: str) -> bool:
    """Move a staged directory into place via Hadoop FS rename unless
    ``path`` is already taken (atomic on HDFS; best-effort on object stores
    — sources/versioned.py is the commit-manifest answer when that
    matters). Returns whether the rename landed; when a rival's output is
    already at ``path`` the staged dir is cleaned up and False returned so
    callers can adopt the winner's output."""
    jvm, fs, hpath = fs_handles(spark, path)
    hstaged = jvm.org.apache.hadoop.fs.Path(staged)
    if fs.exists(hpath):
        fs.delete(hstaged, True)
        return False
    parent = hpath.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    if not fs.rename(hstaged, hpath):
        # distinguish "lost a race" (destination appeared — a rival's
        # output is in place, our copy is redundant) from a genuine rename
        # failure (destination still absent — the staged dir is the ONLY
        # copy of the result, so deleting it would lose it): clean up only
        # in the race case
        if fs.exists(hpath):
            fs.delete(hstaged, True)
            return False
        raise IOError(
            f"rename {staged} -> {path} failed with no rival output in "
            f"place; staged data left at {staged} for manual recovery"
        )
    return True


def _adopt_plain(t: VersionedTable) -> None:
    """One-time migration: a pre-existing PLAIN parquet table at ``t``'s
    root (flat or hive-partitioned — either way the read yields every
    column) becomes v1 of the commit-manifest layout, then the plain files
    are removed. The plain df's file listing is resolved eagerly at read
    creation, so the v1 dir written into the same root is never picked up
    by it. A crash after the v1 marker but before the plain-file cleanup
    leaves stale-but-invisible files (read_table prefers the manifest).
    A later merge_partitioned converts v1 to the partition-mapped layout
    on its first run.

    The root listing comes first: a committed table's root holds only
    ``_commits``, ``v*-*`` dirs and ``_``/``.``-prefixed clone metadata
    (``_clone.json``, ``_refs``, checksums), so the steady-state merge
    returns without resolving a version (the merge resolves its own)."""
    root = t._Path(t.root)
    if not t._hfs.exists(root):
        return
    # adopt only the PLAIN entries: a crashed writer may have left orphan
    # v*-* staging dirs (or an empty _commits) next to the legacy files —
    # reading the whole root would trip over them. basePath keeps hive
    # partition columns recoverable when entries are key=value dirs.
    plain_entries = [
        st.getPath()
        for st in t._hfs.listStatus(root)
        if st.getPath().getName() != "_commits"
        and not _DIR_RE.match(st.getPath().getName())
    ]
    # a root with no data entry has nothing to adopt: Spark's readers skip
    # ``_``/``.`` names, which here are clone/ref metadata. Data entries
    # next to a committed version (the plain files of a racing adopter or
    # of one that crashed before its cleanup) are not a table to adopt
    # either.
    if (all(p.getName().startswith(("_", ".")) for p in plain_entries)
            or t.exists()):
        return
    try:
        plain = t.spark.read.option("basePath", t.root).parquet(
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
        t._hfs.delete(p, True)


def _commit_retrying(
    spark: SparkSession,
    path: str,
    write: Callable[[VersionedTable], object],
    attempts: int,
    retain_versions: int | None,
    assume_atomic_marker_create: bool = False,
) -> None:
    """The one write path of the merge and incremental sinks: adopt a
    plain-parquet target as v1, run ``write(t)`` until it commits, then
    vacuum down to ``retain_versions`` versions when that is set.

    A lost commit race raises ConcurrentWriteError inside the protocol;
    the next attempt re-derives the write against the winner's version
    (the documented optimistic-concurrency loop, Delta-on-S3 stance).
    ``attempts`` is the TOTAL attempt count. ``write`` resolves the table
    method when it runs, so a wrapper installed on VersionedTable later
    (a tracer, a test double) is the one called."""
    if attempts < 1:
        raise ValueError("max_retries must be >= 1 (it is the total attempt "
                         "count; 0 would silently skip the merge)")
    t = VersionedTable(
        spark, path, assume_atomic_marker_create=assume_atomic_marker_create
    )
    _adopt_plain(t)
    for attempt in range(attempts):
        try:
            write(t)
            break
        except ConcurrentWriteError:
            if attempt == attempts - 1:
                raise
    if retain_versions is not None:
        t.vacuum(keep=retain_versions)


def read_table(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Read a sink-managed table: commit-manifest layout when present
    (the default merge path), plain parquet otherwise (write_table
    output). The current version is resolved once and its marker handed
    to ``read``, which then needs no schema-inference job either (see
    sources/versioned.py)."""
    # read-only: the create-capability probe is irrelevant
    t = VersionedTable(spark, path, assume_atomic_marker_create=True)
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

    Lost commit races self-heal (see ``_commit_retrying``).
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
    _commit_retrying(
        spark, path, lambda t: t.merge(src, keys, evolve_schema=evolve_schema),
        max_retries, retain_versions, assume_atomic_marker_create,
    )


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
    Retries and retention as in merge_upsert."""
    _commit_retrying(
        spark, path, lambda t: t.merge_partitioned(src, keys, partition_col),
        max_retries, retain_versions, assume_atomic_marker_create,
    )


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
    retry like merge_upsert, 3 attempts in all."""
    _commit_retrying(
        spark, path,
        lambda t: t.incremental(source, watermark_col, keys, default_watermark),
        3, retain_versions,
    )


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
    _commit_retrying(
        spark, path,
        lambda t: t.incremental_partitioned(
            source, watermark_col, keys, partition_col, default_watermark),
        3, retain_versions,
    )


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
