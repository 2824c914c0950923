"""Crash-safe table commits: a commit-manifest protocol for parquet sinks.

A staged directory swapped into place with delete-then-rename is atomic
per-directory on HDFS, but on object stores a crash between the delete
and the rename leaves NO readable table. This module closes that window
the way Delta Lake's ``_delta_log`` does (reference's production
materialization target is Snowflake/Delta; see SURVEY.md §7.4a). The sink
merges and incremental builds (sources/sink.py), compaction, erasure and
clones all commit through it. Data is staged into a uniquely-named
immutable directory, and the table "pointer" only moves when a tiny
commit-marker file is created. There is no moment at
which a reader can observe a half-table:

    root/
      v00000001-3f2a9c1b/ ... parquet files ...  (immutable once committed)
      v00000002-8d11e04a/ ...
      _commits/v00000001.json                    {"dir": "v00000001-3f2a9c1b", "schema": {...}, ...}
      _commits/v00000002.json

* Readers resolve ``current = max(version whose marker's data dir exists)``
  and read that directory only.
* ``schema`` is the JSON of the schema a parquet read of the version's
  files infers (for data Spark wrote: the DataFrame's schema made
  nullable). Reads pass it to ``spark.read.schema(...)``, so reading a
  committed version launches no schema-inference job. Reads infer instead
  when the marker has no ``schema``: markers written before the field
  existed, ``partition_by`` commits (partition columns move to the end and
  their types come from directory names), and partitioned merges whose
  schema differs from the recorded schema of the map they inherit.
  ``merge_schema=True`` reads (``merge(evolve_schema=True)``) always infer.
* Writers stage a fresh uuid-suffixed dir, then create the marker. A crash
  at ANY point before the marker leaves an orphan dir readers never see —
  the previous version stays live. ``vacuum`` reclaims orphans and old
  versions.
* Concurrency: the marker create uses ``overwrite=False``, so of two
  writers racing for the same version number exactly ONE commit wins; the
  loser's uuid-suffixed staging dir never collides with committed data (it
  becomes an orphan for vacuum) and the loser sees ConcurrentWriteError —
  re-derive against the new current version and retry (optimistic
  concurrency, the Delta-on-S3 stance).

STORAGE REQUIREMENT — atomic create-no-overwrite. Version arbitration is
exactly as strong as ``FileSystem.create(path, overwrite=false)``: it must
atomically fail when the file already exists. True on local/HDFS/viewfs
(NameNode op) and ABFS/WASB (lease/ETag-backed); FALSE on bare S3A, where
the Hadoop connector emulates it with a non-atomic HEAD-then-PUT — two
racers can both "win" and the second PUT silently replaces the first
commit (lost update). On such stores run with S3A conditional writes
(Hadoop 3.4.1+, ``fs.s3a.create.conditional.enabled`` backed by S3
If-None-Match), or point the table at a coordinating layer (DynamoDB-style
log store, as Delta-on-S3 does). The constructor probes the filesystem
scheme and refuses to build a table on a scheme not known to provide the
guarantee unless ``assume_atomic_marker_create=True`` is passed explicitly
(the loud-failure stance: silent corruption is never an acceptable
default). As defense-in-depth every commit also reads its marker back
after writing and raises if the content does not round-trip (catches a
stolen or overwritten marker after the fact).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_DIR_RE = re.compile(r"^v(\d{8})-[0-9a-f]{8}$")
_MARKER_RE = re.compile(r"^v(\d{8})\.json$")

# Staleness grace before reclaiming another writer's artifacts (lease
# heuristic — BOTH sides of every age comparison are the storage system's
# own timestamps: the artifact's mtime vs a freshly-written probe file's
# mtime, see _fs_now_ms — so writer wall clocks never enter the decision
# and cross-writer clock skew cannot fake staleness):
#  * a marker that exists but holds no parseable commit may be a LIVE racer
#    between create() and the content write — normally milliseconds, but a
#    GC pause or driver stall can stretch it, and a premature reclaim then
#    steals a live writer's marker (its buffered write would land invisibly
#    on a local unlinked inode, or clobber the thief's commit on an object
#    store). The grace is therefore sized well ABOVE plausible driver pause
#    times, and _create_marker additionally read-back-verifies its commit
#    so a stolen marker surfaces as ConcurrentWriteError, never a silent
#    lost update;
#  * an unreferenced v*-* dir may be a LIVE racer still staging data — a
#    window of minutes at 100 TB, hence the long default; pass
#    ``orphan_grace_ms=0`` to vacuum only when no writer can be running.
MARKER_GRACE_MS = 60_000
ORPHAN_GRACE_MS = 600_000
# How long a SUPERSEDED version stays readable after its successor commits
# (vacuum only reclaims versions superseded for longer): a reader that
# resolved v as current moments before the successor landed gets this long
# to finish its lazy scan before the files vanish — Delta's retention
# period, sized for the per-merge retain_versions loop rather than days.
# Bounds retained storage at versions-superseded-per-minute.
SUPERSEDE_GRACE_MS = 60_000
# Writer options of every data write: no _SUCCESS file (nor its .crc),
# which nothing reads — the commit marker, or a rename, is the commit point.
NO_SUCCESS_FILE = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first. Re-read and retry."""


def _parse_ts(s: str):
    """A watermark string as a comparable datetime: ISO date/timestamp
    forms (space or 'T' separator, any sub-second precision) parse; a
    bare date means midnight. Raises ValueError on anything else — the
    caller decides the fail-open path (drop the memo)."""
    import datetime

    return datetime.datetime.fromisoformat(str(s).strip())


# process-wide memo of bloom probe bit positions: (value, dtype, m, k) ->
# [k positions]. Deterministic (pure xxhash64), so session-scoped caching
# is always safe; bounded at 4096 entries (~200 KB).
_BLOOM_PROBE_CACHE: dict = {}


class UnsupportedStoreError(RuntimeError):
    """The filesystem cannot guarantee atomic create-no-overwrite, which
    version arbitration depends on (see module docstring)."""


# Schemes whose FileSystem.create(path, overwrite=false) is atomic:
# local/HDFS (single-namespace op), ABFS/WASB (lease/ETag conditional).
# Bare s3a/gs emulate it with HEAD-then-PUT — NOT atomic without
# conditional-write support; the caller must opt in explicitly.
_ATOMIC_CREATE_SCHEMES = frozenset(
    {"file", "hdfs", "viewfs", "abfs", "abfss", "wasb", "wasbs"}
)


def fs_handles(spark: SparkSession, path: str):
    """(jvm, fs, hadoop Path) for ``path`` — the one place the py4j Hadoop
    boilerplate lives (the sinks and the result cache reuse it, so FS
    semantics can't drift between them)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(conf), hpath


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a parquet directory tree via the
    Hadoop FS API — no data read, just the file listing."""
    _, fs, hpath = fs_handles(spark, path)
    n_files = total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            n_files += 1
            total += st.getLen()
    return n_files, total


def _as_nullable(t):
    """Spark's ``asNullable`` over a DataType's JSON form: every struct
    field, array element and map value nullable, at any depth."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "containsNull": True,
                "elementType": _as_nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _as_nullable(t["keyType"]),
                "valueType": _as_nullable(t["valueType"])}
    return t


def written_schema(df: DataFrame) -> dict:
    """The schema (JSON form) a parquet read infers for files Spark wrote
    from ``df`` without ``partitionBy``: Spark writes every field nullable
    and keeps names, order, types and field metadata."""
    return _as_nullable(df.schema.jsonValue())


class VersionedTable:
    """A parquet table whose visible state moves only via atomic
    commit-marker creation (see module docstring)."""

    def __init__(self, spark: SparkSession, root: str,
                 assume_atomic_marker_create: bool = False):
        self.spark = spark
        self.root = root.rstrip("/")
        self._jvm = spark.sparkContext._jvm
        # one class lookup per table: each ``jvm.org.apache...Path`` walk
        # resolves the package one py4j round trip per name segment
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._hfs = self._Path(self.root).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        scheme = self._scheme()
        if scheme not in _ATOMIC_CREATE_SCHEMES and not assume_atomic_marker_create:
            raise UnsupportedStoreError(
                f"filesystem scheme {scheme!r} for {self.root} is not known "
                "to provide atomic create-no-overwrite, so two racing "
                "writers could both believe they committed the same version "
                "(silent lost update). Enable a conditional-write mode on "
                "the store (e.g. S3A fs.s3a.create.conditional.enabled on "
                "Hadoop 3.4.1+) and pass assume_atomic_marker_create=True "
                "to acknowledge the guarantee is in place."
            )

    def _scheme(self) -> str:
        """The filesystem scheme serving this table root (capability probe
        input — see _ATOMIC_CREATE_SCHEMES). An undeterminable scheme
        reports as 'unknown', which the probe REFUSES without the explicit
        opt-in — failing open to 'file' here would silently admit a store
        the probe exists to reject."""
        try:
            return str(self._hfs.getScheme())
        except Exception:
            # older FileSystem impls don't implement getScheme()
            try:
                return str(self._hfs.getUri().getScheme() or "unknown")
            except Exception:
                return "unknown"

    # -- path helpers ------------------------------------------------------
    def _path(self, rel: str):
        return self._Path(f"{self.root}/{rel}")

    def _is_local(self, rel: str) -> bool:
        """Marker dir/parts entries are root-relative by default; CLONE
        markers store ABSOLUTE source paths (leading '/' or a URI scheme)
        pointing into the parent table's storage."""
        return not (rel.startswith("/") or "://" in rel)

    def _abs(self, rel: str) -> str:
        return rel if not self._is_local(rel) else f"{self.root}/{rel}"

    def _anypath(self, rel: str):
        return self._Path(self._abs(rel))

    def _marker(self, version: int):
        return self._path(f"_commits/v{version:08d}.json")

    def _read_json(self, hpath) -> dict | None:
        """Read+parse a small JSON metadata file (marker / clone ref /
        clone linkage) — None when ABSENT or UNPARSEABLE. Transient IO
        errors (throttle, auth refresh) PROPAGATE: returning None for them
        would make a live version read as uncommitted, and a vacuum built
        on that misreading would delete the live version's data dir —
        fail-open data loss. Callers that want fail-closed semantics for
        IO errors wrap this themselves.

        The common case costs three py4j round trips (open, one
        whole-file read, close); existence is checked only when the read
        fails (some object-store connectors open lazily and report a
        missing file on the first read)."""
        try:
            stream = self._hfs.open(hpath)
            try:
                raw = stream.readAllBytes()
            finally:
                stream.close()
        except Exception:
            if not self._hfs.exists(hpath):
                return None
            raise
        try:
            return json.loads(bytes(raw).decode("utf-8"))
        except ValueError:
            return None

    def _read_marker(self, version: int) -> dict | None:
        # an unparseable marker = writer died between marker create() and
        # the content write: the version never became visible. Treated as
        # uncommitted so reads keep resolving the previous version
        # (without this, one 0-byte marker poisons every
        # committed_versions() call), and reclaimed by the next writer
        # past MARKER_GRACE_MS.
        return self._read_json(self._marker(version))

    # -- read side ---------------------------------------------------------
    def _live_meta(self, version: int) -> dict | None:
        """The marker meta iff ``version`` is LIVE: parseable marker AND
        its referenced data dir exists (the data-dir check makes vacuum's
        marker-then-data delete order crash-safe too)."""
        meta = self._read_marker(version)
        if meta and self._hfs.exists(self._anypath(meta["dir"])):
            return meta
        return None

    def _marker_versions(self) -> list[int]:
        """Version numbers with a marker FILE present, ascending — one
        listStatus, no marker-content reads (liveness not yet checked)."""
        commits = self._path("_commits")
        if not self._hfs.exists(commits):
            return []
        return sorted(
            int(m.group(1))
            for st in self._hfs.listStatus(commits)
            if (m := _MARKER_RE.match(st.getPath().getName()))
        )

    def committed_versions(self) -> list[int]:
        """LIVE versions, ascending. O(versions) marker-content reads —
        fine for maintenance (vacuum) and history listing; the merge/read
        hot path uses current_version() instead."""
        return [v for v in self._marker_versions() if self._live_meta(v)]

    def history(self) -> list[dict]:
        """Commit history of the retained (un-vacuumed) versions, newest
        first — the DESCRIBE HISTORY surface for time travel: one dict per
        live version with its op, data dir, commit-marker timestamp (the
        storage clock, same stamp the grace logic uses), and — for
        partition-mapped merges — BOTH partition counts: ``n_touched``
        (this commit's blast radius) and ``n_mapped`` (the cumulative map,
        table-wide state carried forward from prior versions; do not read
        it as per-commit work)."""
        out = []
        for v in self._marker_versions():
            meta = self._live_meta(v)  # one content read per version
            if meta is None:
                continue  # dead marker, or vacuumed mid-listing
            try:
                ts = self._hfs.getFileStatus(self._marker(v)).getModificationTime()
            except Exception:
                ts = None
            out.append(
                {
                    "version": v,
                    "op": meta.get("op"),
                    "dir": meta["dir"],
                    "committed_at_ms": ts,
                    "n_touched": (
                        len(meta["touched"]) if meta.get("touched") else None
                    ),
                    "n_mapped": (
                        len(meta["parts"]) if meta.get("parts") else None
                    ),
                }
            )
        return sorted(out, key=lambda r: -r["version"])

    def current(self) -> tuple[int | None, dict | None]:
        """(version, marker meta) of the highest live version, or (None,
        None) — walks DOWN from the highest marker number, so the common
        case costs one listStatus + ONE marker read regardless of retained
        history depth. (The naive committed_versions()[-1] made every merge
        O(versions) driver-side marker reads — measured at 2.8× merge
        latency by 60 retained versions, SCALING.md protocol table; dead
        markers from crashed writers are rare, so the walk almost never
        descends.) Callers that go on to read the version pass the meta to
        ``read(meta=...)`` instead of re-reading the marker."""
        for v in reversed(self._marker_versions()):
            meta = self._live_meta(v)
            if meta:
                return v, meta
        return None, None

    def current_version(self) -> int | None:
        """Highest live version (see ``current``)."""
        return self.current()[0]

    def exists(self) -> bool:
        return self.current_version() is not None

    def _reader(self, schema: dict | None):
        """``spark.read`` with a recorded schema (see the module docstring)
        when there is one: Spark then skips its schema-inference job. None
        leaves the read to infer."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader

    def read(
        self, version: int | None = None, merge_schema: bool = False,
        prune: dict | None = None, meta: dict | None = None,
    ) -> DataFrame:
        """Read the current version, or a specific still-retained one
        (time travel — every committed version is immutable until
        vacuumed). Partition-mapped versions (see merge_partitioned) read
        the union of their mapped directories — untouched partitions still
        live in older versions' immutable dirs.

        ``prune`` — manifest data skipping (the analog of Delta's add-file
        stats): ``{col: value}`` (point), ``{col: (lo, hi)}`` (range,
        either bound None = open), or ``{col: [v1, v2, ...]}`` (IN-list —
        a file survives if ANY value could be in it) selects only the
        files whose marker-recorded min/max range (see
        ``commit(stats_cols=...)``) — and, for point/IN-list probes on
        ``bloom_cols`` columns, whose bloom bitmap — could hold a match,
        BEFORE Spark ever lists the directory. On partition-mapped
        versions (merge_partitioned) a point/IN-list prune on the
        recorded partition column selects only the matching mapped dirs.
        Best-effort and strictly fail-open: files without stats for a
        pruning column are included, versions without applicable skipping
        info (old commits, plain merge output, clones) read in full — the
        result is always a SUPERSET of the matching rows, so the caller
        applies the real filter on top exactly as with parquet row-group
        skipping.

        ``meta`` is the live marker of ``version`` as ``current()``
        returned it; passing it skips resolving and re-reading the
        marker. ``merge_schema=True`` infers the schema by merging every
        file's footer; otherwise the marker's recorded schema is used when
        it has one."""
        if meta is None:
            if version is None:
                version, meta = self.current()
                if version is None:
                    raise FileNotFoundError(
                        f"no committed version under {self.root}")
            else:
                meta = self._live_meta(version)
            if meta is None:
                raise FileNotFoundError(
                    f"version {version} not committed (or vacuumed) under "
                    f"{self.root}"
                )
        if merge_schema:
            reader = self.spark.read.option("mergeSchema", "true")
        else:
            reader = self._reader(meta.get("schema"))
        if meta.get("parts"):
            rels = sorted(meta["parts"].values())
            # partition-value skipping: a point/IN-list prune on the
            # recorded partition column selects only the mapped dirs whose
            # key matches — the Delta partition-pruning analog. Strictly
            # fail-open: no pcol recorded, range bands, or value types
            # whose str() form isn't engine-faithful read the full union.
            pcol = meta.get("pcol")
            if prune and pcol in prune:
                sel = self._prune_parts(
                    meta["parts"], prune[pcol], meta.get("ptype")
                )
                if sel is not None:
                    if not sel:  # no mapped partition can match
                        return reader.parquet(
                            *[self._abs(rel) for rel in rels]
                        ).where("1 = 0")
                    rels = sorted(sel)
            return reader.parquet(*[self._abs(rel) for rel in rels])
        if prune and (meta.get("stats") or meta.get("bloom")):
            hit = self._skip_files(meta, prune)
            if hit is not None:
                if not hit:  # every file provably outside the band
                    return reader.parquet(self._abs(meta["dir"])).where(
                        "1 = 0"
                    )
                # basePath keeps hive-partition-column discovery working
                # when the commit used partition_by (leaf-path reads would
                # otherwise silently drop the partition columns, breaking
                # the superset-of-the-full-read schema contract)
                return reader.option("basePath", self._abs(meta["dir"])).parquet(
                    *[self._abs(rel) for rel in hit]
                )
        return reader.parquet(self._abs(meta["dir"]))

    @staticmethod
    def _part_key(v, ptype: str | None) -> str | None:
        """The parts-map key for a probe value, or None when the value's
        Python str() form is not guaranteed to equal Spark's
        CAST(x AS STRING) (the form merge_partitioned keyed the map with):
        faithful for str and int; floats ('1e-07' vs '1.0E-7'), dates, and
        booleans fail open.

        The probe must also match the RECORDED partition-column dtype
        (``ptype``, stamped by merge_partitioned): Spark's real equality
        filter coerces across types — ``int_probe = string_col`` casts the
        COLUMN, so string '020' matches probe 20 — while the parts map is
        keyed by the raw cast-to-string values ('020'), so a cross-typed
        probe would key-miss and wrongly skip matching partitions. Same
        contract as _bloom_probe_compatible; markers written before ptype
        existed (ptype None) fail open entirely."""
        if isinstance(v, bool) or not isinstance(v, (str, int)):
            return None
        if ptype is None:
            return None  # pre-ptype marker: can't prove type agreement
        if isinstance(v, str):
            # char(n) is excluded: stored values compare space-PADDED, so
            # Spark's equality would match an unpadded probe while the
            # cast-to-string parts-map key ('ab   ') would key-miss it —
            # a wrongly-empty read, not fail-open. varchar/string don't pad.
            if not (ptype == "string" or ptype.startswith("varchar")):
                return None
        elif ptype not in ("tinyint", "smallint", "int", "bigint"):
            return None
        return str(v)

    def _prune_parts(self, parts: dict, band, ptype: str | None) -> list | None:
        """Mapped-dir list for a point/IN-list band over the partition
        column, or None when the band can't be matched faithfully (range
        bands — the keys are strings, lexicographic != numeric — or
        unfaithful / dtype-mismatched value types): caller reads the full
        union."""
        if isinstance(band, (list, set, frozenset)):
            vals = list(band)
        elif isinstance(band, tuple):
            lo, hi = band
            if lo is None or lo != hi:
                return None
            vals = [lo]
        else:
            vals = [band]
        if not vals:
            return None
        keys = []
        for v in vals:
            kv = self._part_key(v, ptype)
            if kv is None:
                return None
            # Spark writes BOTH null and '' partition values into the
            # hive default dir (the original column keeps '' inside the
            # files) — an empty-string probe must select that dir or its
            # matching rows would be wrongly skipped
            keys.append("__HIVE_DEFAULT_PARTITION__" if kv == "" else kv)
        # dedupe: repeated IN-list values (or '' next to a null probe)
        # must not select the same dir twice — Spark would read its files
        # twice and DUPLICATE rows, an answer-level corruption
        return [parts[k] for k in dict.fromkeys(keys) if k in parts]

    @staticmethod
    def _stat_norm(v):
        """Normalize a stat/bound value for JSON storage and ordered
        comparison: numbers and strings pass through; date/datetime map to
        ISO strings (lexicographic == chronological for the uniform
        format). Returns None for types without a reliable cross-format
        ordering (bytes, Decimal) — callers treat None as 'no stat'."""
        import datetime

        if isinstance(v, bool) or v is None:
            return None  # booleans: pruning on 2 values isn't worth edge cases
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            return None  # NaN/±inf: not valid strict JSON, unordered (NaN)
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return None

    @staticmethod
    def _bloom_probe_compatible(value, dtype: str) -> bool:
        """True when the probe value's Python type is in the recorded
        column dtype's family, so casting the PROBE to that dtype agrees
        with how Spark's real filter coerces the comparison. A mismatched
        probe (e.g. int 5 on a string column) must NOT use the bloom: the
        filter ``col = 5`` coerces the COLUMN side (so row '05' matches),
        while the write-side bitmap hashed the raw strings — skipping on
        hash('5') could drop a file holding only such rows, violating the
        superset contract. Fail open instead."""
        import datetime

        if isinstance(value, bool):
            return False  # booleans: 2 values, bloom is pointless
        if isinstance(value, int):
            # int probes cast exactly into every numeric dtype; the real
            # filter coerces the literal the same way
            return dtype in ("tinyint", "smallint", "int", "bigint",
                             "float", "double") or dtype.startswith("decimal")
        if isinstance(value, float):
            return dtype in ("float", "double")
        if isinstance(value, str):
            return dtype == "string"
        if isinstance(value, datetime.datetime):
            return dtype.startswith("timestamp")
        if isinstance(value, datetime.date):
            return dtype == "date"
        return False

    def _bloom_positions(self, value, dtype: str, m: int, k: int):
        """The k bloom bit positions for a probe value — computed with the
        SAME JVM xxhash64 the write-side pass used. xxhash64 is
        type-sensitive, so the probe literal is cast to the RECORDED column
        dtype; an un-castable probe returns None (fail open). Positions are
        memoized process-wide on (value, dtype, m, k) so repeated probes of
        the same point skip the one-row Spark job (~50 ms, SCALING.md)."""
        try:
            key = (value, dtype, m, k)
            hash(key)
        except TypeError:
            key = None
        if key is not None and key in _BLOOM_PROBE_CACHE:
            return _BLOOM_PROBE_CACHE[key]
        try:
            lit = F.lit(value).cast(dtype)
            row = self.spark.range(1).select(
                *[F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(m)).alias(f"p{i}")
                  for i in range(k)]
            ).first()
            positions = [row[f"p{i}"] for i in range(k)]
        except Exception:
            return None  # never cache a (possibly transient) failure
        if key is not None and len(_BLOOM_PROBE_CACHE) < 4096:
            _BLOOM_PROBE_CACHE[key] = positions
        return positions

    def _skip_files(self, meta: dict, prune: dict) -> list[str] | None:
        """Combined manifest file skipping: min/max range stats first (see
        _prune_files), then bloom membership for POINT predicates on
        bloom-indexed columns. Returns None when the marker carries no
        applicable skipping info (caller reads the full directory)."""
        hit = self._prune_files(meta["stats"], prune) if meta.get("stats") else None
        bloom = meta.get("bloom")
        if not bloom:
            return hit
        # point and IN-list predicates can use the bloom; every probed
        # value must be type-compatible or the column fails open entirely
        # (one unprobeable value means no file can be ruled out)
        points: dict[str, list] = {}
        for colname, band in prune.items():
            dtype = bloom.get("cols", {}).get(colname)
            if dtype is None:
                continue
            if isinstance(band, (list, set, frozenset)):
                vals = list(band)
                if vals and all(
                    v is not None and self._bloom_probe_compatible(v, dtype)
                    for v in vals
                ):
                    points[colname] = vals
            else:
                lo, hi = band if isinstance(band, tuple) else (band, band)
                if (lo is not None and lo == hi
                        and self._bloom_probe_compatible(lo, dtype)):
                    points[colname] = [lo]
        if not points:
            return hit
        side = self._read_json(self._anypath(bloom["path"]))
        files = (side or {}).get("files")
        if not files:
            return hit  # sidecar missing/corrupt: bloom contributes nothing
        import base64

        import numpy as np

        m, k = bloom["m"], bloom["k"]
        probe = {
            c: [self._bloom_positions(v, bloom["cols"][c], m, k) for v in vals]
            for c, vals in points.items()
        }
        # a failed position computation fails the whole column open
        probe = {c: ps for c, ps in probe.items()
                 if all(p is not None for p in ps)}
        if not probe:
            return hit
        # When stats produced no candidate list, the sidecar's keys ARE the
        # inventory. A file whose bloom column is entirely NULL never
        # enters the sidecar and is therefore excluded here — deliberately
        # safe for point predicates: a NULL can never equal the probe
        # value, so no matching row can live in such a file.
        cand = hit if hit is not None else sorted(files)
        kept = []
        for rel in cand:
            fb = files.get(rel)
            keep = True
            if fb:  # a file absent from the sidecar is kept (fail open)
                for colname, per_value in probe.items():
                    b64 = fb.get(colname)
                    if not b64:
                        continue
                    try:
                        bits = np.unpackbits(
                            np.frombuffer(base64.b64decode(b64), np.uint8)
                        )
                        if len(bits) < m:
                            continue  # malformed bitmap: fail open
                    except Exception:
                        continue
                    # IN-list: the file survives if ANY probed value might
                    # be present; it is skipped only when every value is
                    # definitely absent (blooms have no false negatives)
                    if not any(
                        all(bits[p] for p in positions)
                        for positions in per_value
                    ):
                        keep = False
                        break
            if keep:
                kept.append(rel)
        return kept

    def _prune_files(self, stats: dict, prune: dict) -> list[str] | None:
        """File list after min/max skipping, or None when the recorded
        stats cover none of the pruning columns (caller falls back to the
        full directory read). Range bands drop files whose [min, max]
        misses the band; IN-list bands drop files whose range contains
        NONE of the values."""
        bounds = {}
        inlists = {}
        for col, band in prune.items():
            if isinstance(band, (list, set, frozenset)):
                vals = [self._stat_norm(v) for v in band]
                if vals and all(v is not None for v in vals):
                    inlists[col] = vals
                # empty list / un-normalizable value: no constraint (open)
            else:
                lo, hi = band if isinstance(band, tuple) else (band, band)
                bounds[col] = (self._stat_norm(lo), self._stat_norm(hi))
        if not any(
            c in stats.get("cols", []) for c in (*bounds, *inlists)
        ):
            return None
        hit = []
        for rel, col_stats in stats.get("files", {}).items():
            keep = True
            for col, (lo, hi) in bounds.items():
                mn_mx = col_stats.get(col)
                if mn_mx is None:
                    continue  # no stat for this col in this file: fail open
                mn, mx = mn_mx
                try:
                    if (hi is not None and mn is not None and mn > hi) or (
                        lo is not None and mx is not None and mx < lo
                    ):
                        keep = False
                        break
                except TypeError:
                    continue  # bound type incomparable with the recorded
                    # stat type (str band on int stats, ...): fail open —
                    # keep the file, never crash a documented-best-effort read
            if keep:
                for col, vals in inlists.items():
                    mn_mx = col_stats.get(col)
                    if mn_mx is None:
                        continue
                    mn, mx = mn_mx
                    try:
                        if not any(mn <= v <= mx for v in vals):
                            keep = False
                            break
                    except TypeError:
                        continue  # incomparable value type: fail open
            if keep:
                hit.append(rel)
        return hit

    # -- write side --------------------------------------------------------
    def _stage_data(self, df: DataFrame, version: int,
                    partition_by: Sequence[str] | None = None) -> str:
        """Write the data into a fresh uuid-suffixed dir WITHOUT committing
        (split out so the kill-tests can simulate a crash between data
        write and marker create). Unique naming means a racing or replayed
        writer can never touch an already-committed directory."""
        dirname = f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("error").options(**NO_SUCCESS_FILE)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{self.root}/{dirname}")
        return dirname

    def _create_marker(self, version: int, meta: dict) -> None:
        marker = self._marker(version)
        self._hfs.mkdirs(marker.getParent())
        # overwrite=False: racing writers of the same version — one wins.
        for attempt in (0, 1):
            try:
                out = self._hfs.create(marker, False)
                break
            except Exception as e:  # py4j wraps FileAlreadyExistsException
                if attempt == 0 and self._reclaim_dead_marker(version):
                    continue  # stale unparseable marker removed — retry
                # Classify before blaming concurrency: if the marker does
                # NOT exist, the create failed for a non-collision reason
                # (permissions, transient IO) — surfacing that as a
                # conflict would send callers into pointless full-table
                # re-derive loops with a misleading diagnosis.
                try:
                    collided = self._hfs.exists(marker)
                except Exception:
                    collided = True  # can't tell — conflict is the safe read
                if not collided:
                    raise
                raise ConcurrentWriteError(
                    f"version {version} of {self.root} was committed concurrently"
                ) from e
        try:
            out.write(bytearray(json.dumps(meta, sort_keys=True), "utf-8"))
        finally:
            out.close()
        # Defense-in-depth read-back: if this writer stalled past
        # MARKER_GRACE_MS between create() and the content write, a rival
        # may have judged the empty marker dead, reclaimed it, and committed
        # its own — on a local fs our buffered write then landed on an
        # unlinked inode; on an object store our close() may have replaced
        # the rival's marker. Either way the marker on storage no longer
        # round-trips to OUR meta, and returning success would be a silent
        # lost update. Verify and raise instead.
        if self._read_marker(version) != meta:
            raise ConcurrentWriteError(
                f"version {version} of {self.root}: commit marker was "
                "reclaimed by a rival writer during a stall — this commit "
                "did not become visible; re-derive and retry"
            )

    def _fs_now_ms(self) -> int:
        """The STORAGE SYSTEM's current time, read back from a probe file's
        own modification stamp (created, statted, deleted). Grace checks
        compare this against artifact mtimes — same clock on both sides, so
        a writer whose wall clock is skewed past the grace cannot misjudge
        a LIVE racer's fresh marker as stale. If the probe cannot be
        written, FAIL CLOSED: return 0, which makes every ``now - mtime >
        grace`` staleness test false, so this round reclaims nothing
        (substituting the local wall clock here would re-enable exactly the
        premature marker-steal/orphan-delete the fs-clock design exists to
        prevent whenever the local clock runs ahead of the store's)."""
        probe = self._path(f"_commits/.clock-{uuid.uuid4().hex[:8]}")
        try:
            self._hfs.mkdirs(probe.getParent())
            self._hfs.create(probe, True).close()
            ts = self._hfs.getFileStatus(probe).getModificationTime()
        except Exception:
            return 0  # sentinel: treat every artifact as young this round
        try:
            self._hfs.delete(probe, False)
        except Exception:
            pass  # leaked probe — vacuum sweeps stale .clock-* files
        return ts

    def _reclaim_dead_marker(self, version: int) -> bool:
        """True if ``version``'s marker is reclaimable: it vanished since
        the failed create, or it is DEAD — holds no parseable commit (its
        writer died between create() and the content write) OR parses but
        references a data dir that no longer exists (external deletion /
        partial tampering; the same liveness definition
        committed_versions() applies) — and is older than MARKER_GRACE_MS.
        Without reclamation that version number stays taken forever and NO
        writer can ever advance the table (every merge computes current+1
        and collides with the dead marker). The grace keeps us from
        deleting a live racer's marker before its content (and, for the
        data-dir case, a racer that creates the marker an instant before
        its rename lands — our writers stage data BEFORE the marker, so
        past the grace a dirless marker is genuinely dead);
        create(overwrite=False) re-arbitrates after the delete, so two
        reclaimers can't both win."""
        marker = self._marker(version)
        if not self._hfs.exists(marker):
            return True
        meta = self._read_marker(version)
        if meta is not None and self._hfs.exists(self._anypath(meta["dir"])):
            return False  # fully-written live commit — genuine conflict
        try:
            stat = self._hfs.getFileStatus(marker)
        except Exception:
            return True  # a racing reclaimer deleted it — retry the create
        if self._fs_now_ms() - stat.getModificationTime() <= MARKER_GRACE_MS:
            return False  # possibly a racer mid-write — let it finish
        self._hfs.delete(marker, False)
        return True

    MAX_STATS_FILES = 4096  # keep the marker a small JSON, not a catalog

    def _count_staged_files(self, dirname: str) -> int:
        """Recursive count of .parquet files under the staged dir — ONE
        Hadoop listFiles (a metadata op, no data read). The cheap
        pre-guard the stats/bloom passes apply before launching any work
        sized by file count, so an over-limit table bails without
        materializing anything."""
        it = self._hfs.listFiles(self._anypath(dirname), True)
        n = 0
        while it.hasNext():
            if str(it.next().getPath().getName()).endswith(".parquet"):
                n += 1
        return n

    def _collect_file_stats(self, dirname: str, cols: Sequence[str],
                            schema: dict | None = None) -> dict | None:
        """File-level min/max for ``cols``: parquet-FOOTER fast path on
        local storage (pyarrow metadata — no data read, O(files)
        driver-side, the cost class of Delta's add-file stats), and a
        DISTRIBUTED Spark aggregation everywhere else — the object-store
        case is exactly where skipping pays (the saved term is per-file
        round-trips, SCALING.md), so stats must collect on ANY scheme, the
        way Snowflake micro-partition pruning works on S3. Returns
        {"cols": [...], "files": {rel_path: {col: [min, max]}}} or None
        when stats can't be gathered (too many files, no usable values) —
        callers then commit WITHOUT stats and read() falls back to the
        full scan: strictly fail-open. ``schema`` is the staged data's
        recorded schema, when known (saves the pass's inference job)."""
        if self._scheme() == "file":
            stats = self._collect_file_stats_footer(dirname, cols)
            if stats is not None:
                return stats
        return self._collect_file_stats_distributed(dirname, cols, schema)

    def _collect_file_stats_distributed(
        self, dirname: str, cols: Sequence[str], schema: dict | None = None
    ) -> dict | None:
        """Per-file min/max via ONE column-pruned Spark aggregation
        grouped on input_file_name() — executor-side like the write
        itself, scheme-agnostic. Collects one tiny row per file (2 scalars
        per column), bounded by the MAX_STATS_FILES pre-guard. Exact
        min/max from the data (strictly tighter than footer stats — still
        a fail-open superset under pruning)."""
        try:
            nfiles = self._count_staged_files(dirname)
        except Exception:
            return None
        if not 0 < nfiles <= self.MAX_STATS_FILES:
            return None
        base = self._abs(dirname)
        try:
            df = self._reader(schema).option("basePath", base).parquet(base)
        except Exception:
            return None
        present = [c for c in cols if c in df.columns]
        if not present:
            return None
        aggs = []
        for i, c in enumerate(present):
            aggs.append(F.min(c).alias(f"_mn{i}"))
            aggs.append(F.max(c).alias(f"_mx{i}"))
        try:
            rows = (
                df.select(F.input_file_name().alias("_f"), *present)
                .groupBy("_f")
                .agg(*aggs)
                .collect()
            )
        except Exception:
            return None
        needle = f"/{dirname}/"
        out: dict[str, dict] = {}
        for r in rows:
            at = r["_f"].find(needle)
            if at == -1:
                return None  # unexpected layout: no stats at all
            rel = f"{dirname}/{r['_f'][at + len(needle):]}"
            col_stats: dict[str, list] = {}
            for i, c in enumerate(present):
                mn = self._stat_norm(r[f"_mn{i}"])
                mx = self._stat_norm(r[f"_mx{i}"])
                if mn is not None and mx is not None:
                    col_stats[c] = [mn, mx]
            out[rel] = col_stats
        if not any(out.values()):
            return None
        return {"cols": list(cols), "files": out}

    def _collect_file_stats_footer(
        self, dirname: str, cols: Sequence[str]
    ) -> dict | None:
        """The local fast path: min/max from the staged files' parquet
        FOOTERS via pyarrow — no data read at all."""
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        base = self._abs(dirname)
        local_base = base[len("file:"):] if base.startswith("file:") else base
        files = []
        for dirpath, _, names in os.walk(local_base):
            files.extend(
                os.path.join(dirpath, f) for f in names if f.endswith(".parquet")
            )
        if not files or len(files) > self.MAX_STATS_FILES:
            return None
        out: dict[str, dict] = {}
        for path in sorted(files):
            md = pq.ParquetFile(path).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            col_stats: dict[str, list] = {}
            for col in cols:
                ci = names.get(col)
                if ci is None:
                    continue
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        ok = False  # any stat-less row group voids the file's
                        break       # range claim — fail open for this col
                    lo, hi = self._stat_norm(st.min), self._stat_norm(st.max)
                    if lo is None or hi is None:
                        ok = False
                        break
                    mn = lo if mn is None or lo < mn else mn
                    mx = hi if mx is None or hi > mx else mx
                if ok and mn is not None:
                    col_stats[col] = [mn, mx]
            rel = os.path.relpath(path, local_base)
            out[f"{dirname}/{rel}"] = col_stats
        if not any(out.values()):
            return None
        return {"cols": list(cols), "files": out}

    def _collect_file_blooms(self, dirname: str, cols: Sequence[str],
                             m: int, k: int,
                             schema: dict | None = None) -> dict | None:
        """Per-file bloom bitmaps for ``cols``, computed DISTRIBUTED: one
        Spark aggregation over the staged files (JVM xxhash64, k seeds,
        explode → per-file collect_set of bit positions, bounded by m),
        then bit-PACKING executor-side (Arrow pandas_udf → np.packbits) —
        the driver only ever receives one m/8-byte b64 string per
        file-column, never the boxed position sets (which at m=262144
        would be ~2 MB of longs per file — multi-GB driver pressure at the
        file cap). The MAX_STATS_FILES guard runs BEFORE any data pass
        (one recursive metadata listing), so an over-limit table bails
        without materializing anything. Returns {"m", "k", "cols":
        {col: dtype}, "files": {rel: {col: b64bitmap}}} or None (no
        indexable column / too many files) — callers then commit without
        a bloom: strictly fail-open. ``schema`` as in _collect_file_stats."""
        try:
            if not 0 < self._count_staged_files(dirname) <= self.MAX_STATS_FILES:
                return None
        except Exception:
            return None
        base = self._abs(dirname)
        try:
            df = self._reader(schema).option("basePath", base).parquet(base)
        except Exception:
            return None
        present = [c for c in cols if c in df.columns]
        if not present:
            return None

        # pandas/pyarrow are optional at this layer: an environment
        # without them must keep commit(bloom_cols=...) strictly
        # fail-open (commit WITHOUT a bloom), not crash the commit
        try:
            import pandas as pd

            def _pack_fn(ps):
                import base64 as b64mod

                import numpy as np

                out = []
                for arr in ps:
                    bits = np.zeros(m, dtype=bool)
                    bits[np.asarray(arr, dtype=np.int64)] = True
                    out.append(b64mod.b64encode(np.packbits(bits)).decode())
                return pd.Series(out)

            # real class objects (this module postpones annotations, so
            # inline hints would reach pyspark as unresolvable strings)
            _pack_fn.__annotations__ = {"ps": pd.Series, "return": pd.Series}
            _pack = F.pandas_udf(_pack_fn, "string")
        except Exception:
            return None

        meta: dict = {"m": m, "k": k, "cols": {}, "files": {}}
        needle = f"/{dirname}/"
        for c in present:
            try:
                pos = F.explode(F.array(*[
                    F.pmod(F.xxhash64(F.col(c), F.lit(i)), F.lit(m))
                    for i in range(k)
                ])).alias("_p")
                rows = (
                    df.select(F.input_file_name().alias("_f"), F.col(c))
                    .where(F.col(c).isNotNull())
                    .select("_f", pos)
                    .groupBy("_f")
                    .agg(F.collect_set("_p").alias("_ps"))
                    .select("_f", _pack("_ps").alias("_b"))
                    .collect()
                )
            except Exception:
                continue  # unindexable column (e.g. unhashable type, name
                # colliding with the aggregation alias): fail open — commit
                # proceeds without a bloom for this column
            meta["cols"][c] = df.schema[c].dataType.simpleString()
            if len(rows) > self.MAX_STATS_FILES:
                return None  # grew past the pre-guard mid-pass (racer)
            for r in rows:
                at = r["_f"].find(needle)
                if at == -1:
                    return None  # unexpected layout: no bloom at all
                rel = f"{dirname}/{r['_f'][at + len(needle):]}"
                meta["files"].setdefault(rel, {})[c] = r["_b"]
        return meta if meta["files"] else None

    def _write_bloom_sidecar(self, dirname: str, bloom: dict) -> str:
        """Write the bloom bitmaps INSIDE the immutable version dir (Spark
        ignores underscore-prefixed files, vacuum reaps it with the dir,
        zero extra GC surface). Returns the root-relative path."""
        rel = f"{dirname}/_bloom.json"
        out = self._hfs.create(self._path(rel), True)
        try:
            out.write(bytearray(json.dumps(bloom, sort_keys=True), "utf-8"))
        finally:
            out.close()
        return rel

    def commit(self, df: DataFrame, partition_by: Sequence[str] | None = None,
               op: str = "overwrite", at_version: int | None = None,
               stats_cols: Sequence[str] | None = None,
               bloom_cols: Sequence[str] | None = None,
               bloom_bits: int = 65536, bloom_hashes: int = 5,
               extra_meta: dict | None = None) -> int:
        """Stage ``df`` and commit it. ``at_version`` PINS the commit to a
        specific version number: read-modify-write ops (merge/incremental/
        erase/adopt) pass the version they READ plus one, so a rival commit
        landing in the read→commit window collides on the marker and raises
        ConcurrentWriteError instead of committing state derived from a
        stale read one number higher — which would silently shadow the
        rival's rows (the classic lost update). Plain overwrite keeps the
        resolve-at-commit default (last-writer-wins is its semantics).

        ``stats_cols`` records file-level min/max for the named columns in
        the commit marker (from the staged parquet footers — no extra data
        read); ``read(prune={col: band})`` then skips files whose range
        provably misses the band. Cluster the data on the stats column
        first (``df.repartitionByRange(n, col)``) or every file's range
        spans the domain and nothing prunes.

        ``bloom_cols`` additionally builds per-file bloom bitmaps
        (``bloom_bits`` bits, ``bloom_hashes`` JVM-xxhash64 probes — 8 KB
        per file-column at the defaults, good for ~13K distinct values
        per file at ~9% FPP; size ``bloom_bits`` at ~5 bits per expected
        distinct value per file. Stored in a ``_bloom.json`` sidecar
        inside the version dir) so POINT lookups skip files even on
        columns the layout is NOT clustered by — the Delta bloom-index /
        Snowflake search-optimization analog. Min/max wants clustering;
        blooms don't care. Both are fail-open supersets.

        ``extra_meta`` lets protocol ops attach auxiliary marker fields
        (e.g. incremental()'s ``wm`` watermark memo); core fields can
        never be overridden (setdefault semantics).

        The marker records ``schema`` (see the module docstring) unless
        ``partition_by`` is set: hive partition columns are read back last,
        with types inferred from the directory names."""
        if bloom_cols:
            # explicit user input → validate loudly (the fail-open
            # contract covers environmental failures, not bad arguments).
            # The upper bound caps the per-file-column position set the
            # executor-side collect_set materializes before packing
            # (m=2^22 → ≤0.5 MB packed, ~32 MB boxed worst-case per
            # file-column during the aggregation — safe; unbounded m is
            # an executor-OOM lever).
            if not 64 <= bloom_bits <= (1 << 22):
                raise ValueError(
                    f"bloom_bits={bloom_bits} out of range [64, 2^22]")
            if not 1 <= bloom_hashes <= 16:
                raise ValueError(
                    f"bloom_hashes={bloom_hashes} out of range [1, 16]")
        if at_version is None:
            at_version = (self.current_version() or 0) + 1
        dirname = self._stage_data(df, at_version, partition_by)
        meta = {"version": at_version, "dir": dirname, "op": op}
        schema = None if partition_by else written_schema(df)
        if schema is not None:
            meta["schema"] = schema
        if extra_meta:
            for kk, vv in extra_meta.items():
                meta.setdefault(kk, vv)
        if stats_cols:
            stats = self._collect_file_stats(dirname, stats_cols, schema)
            if stats:
                meta["stats"] = stats
        if bloom_cols:
            bloom = self._collect_file_blooms(
                dirname, bloom_cols, bloom_bits, bloom_hashes, schema)
            if bloom:
                meta["bloom"] = {
                    "m": bloom["m"], "k": bloom["k"], "cols": bloom["cols"],
                    "path": self._write_bloom_sidecar(dirname, bloom),
                }
        self._create_marker(at_version, meta)
        return at_version

    def _inherited_stats_cols(self, version: int | None,
                              meta: dict | None = None) -> list[str] | None:
        """Stats columns the given version's marker (``meta``, when the
        caller already holds it) carries — maintenance ops (merge/compact)
        re-record stats for the SAME columns so a table that opted into
        data skipping keeps it across its whole maintenance lifecycle, the
        way Delta's writer keeps emitting add-file stats."""
        if version is None:
            return None
        if meta is None:
            meta = self._live_meta(version)
        return (meta or {}).get("stats", {}).get("cols") or None

    def _inherited_bloom(self, version: int | None,
                         meta: dict | None = None) -> dict:
        """commit() kwargs reproducing the given version's bloom index
        (same columns, same geometry; ``meta`` as in _inherited_stats_cols)
        — maintenance ops pass these through so point-lookup skipping
        survives merges and compactions. The bloom pass is one extra
        map-side column-hash job over data the op is already rewriting in
        full."""
        if version is None:
            return {}
        if meta is None:
            meta = self._live_meta(version)
        b = (meta or {}).get("bloom")
        if not b:
            return {}
        # geometry outside commit()'s accepted range, or a malformed/absent
        # cols map (a marker written before validation existed, by a build
        # with other limits, or hand-edited) must NOT make every
        # maintenance op raise through commit()'s explicit-argument check
        # or a KeyError below: drop the inheritance instead — the
        # merged/compacted version commits without a bloom (fail-open),
        # readers fall back to scanning every file
        if not (isinstance(b.get("m"), int) and 64 <= b["m"] <= (1 << 22)
                and isinstance(b.get("k"), int) and 1 <= b["k"] <= 16
                and isinstance(b.get("cols"), dict) and b["cols"]):
            return {}
        return {"bloom_cols": list(b["cols"]), "bloom_bits": b["m"],
                "bloom_hashes": b["k"]}

    def merge(
        self, src: DataFrame, keys: Sequence[str], evolve_schema: bool = False,
        extra_meta: dict | None = None,
    ) -> int:
        """MERGE with no unreadable window: anti-join survivors ∪ src into
        v{n+1}, marker last. Source rows win on key collision. On Delta this
        is one MERGE INTO. ``evolve_schema=True`` is dbt's
        ``on_schema_change: append_new_columns``: a wider source widens the
        table (old rows null-fill), a narrower one still merges.

        The commit is PINNED to read_version+1 (see commit): a rival
        landing between our read and our commit raises ConcurrentWriteError
        so the caller re-derives — never a silent lost update.

        Data-skipping stats are INHERITED: if the current version's marker
        records stats columns, the merged commit records them too (merge
        output is not re-clustered, so file ranges may widen until the
        next compact() restores the clustering — pruning stays correct
        either way, it is fail-open)."""
        current, meta = self.current()
        if current is None:
            return self.commit(src, op="merge", at_version=1,
                               extra_meta=extra_meta)
        target = self.read(version=current, merge_schema=evolve_schema,
                           meta=meta)
        # the key set is not de-duplicated: a left-anti join keeps a row
        # exactly when no key matches, so duplicate (or null) keys give the
        # same survivors, and a distinct() would add a shuffle stage and a
        # job that the broadcast build waits for
        survivors = target.join(src.select(*keys), list(keys), "left_anti")
        merged = src.unionByName(survivors, allowMissingColumns=evolve_schema)
        return self.commit(merged, op="merge", at_version=current + 1,
                           stats_cols=self._inherited_stats_cols(current, meta),
                           extra_meta=extra_meta,
                           **self._inherited_bloom(current, meta))

    def merge_partitioned(
        self, src: DataFrame, keys: Sequence[str], partition_col: str,
        extra_meta: dict | None = None,
    ) -> int:
        """Partition-scoped MERGE on the versioned layout: only the
        partitions the delta touches are read and rewritten; untouched
        partitions keep pointing at their EXISTING immutable dirs via the
        commit marker's ``parts`` map ({partition_value: rel_dir}) — the
        manifest plays the role of Delta's add-file list, so a day's delta
        against a years-deep fact costs one day's I/O AND keeps the
        crash-safe marker-last commit (the old in-place dynamic-partition
        overwrite had a non-atomic window per partition directory).

        The staged dir nests one subdir per touched partition
        (``_pv=<value>``); the partition column itself stays in the data
        files so a mapped subdir is self-contained. The write is shuffled
        on ``_pv`` (a rebalance under AQE), so each touched partition under
        AQE's advisory partition size is ONE file. Written straight from
        the delta and survivor-scan tasks, every task wrote a file into
        every partition it held (8 files per dir for a delta of 8 tasks,
        and touched dirs kept growing merge after merge). On the perfbench
        ingest round this cut the files written per pass (parquet plus
        ``.crc`` sidecars, markers) from 88 to 48; every file create forks
        a ``chmod`` on a Hadoop local FS without its native library
        (SCALING.md, protocol section). The rebalance, not a plain
        repartition, because AQE splits a partition above the advisory
        size across tasks: merging 2M-row partitions on 4 cores took
        2.1 s unshuffled, 3.0 s rebalanced and 6.0 s repartitioned (one
        task per partition). So the shuffle costs merges of a few large
        partitions; it pays where many small partitions meet many tasks.

        The survivor anti-join broadcasts the delta's keys when the
        touched-partition collect's row count says they are small
        (``_delta_keys``).

        Contract: the merge key must be PARTITION-STABLE (a key never
        moves between partition values) — survivors are read only from
        touched partitions, so a key migrating from an untouched partition
        would leave its old row behind (the same contract Delta MERGE has
        under partition-pruning predicates; fact tables keyed on
        (entity, date) satisfy it by construction).

        The marker records ``schema`` when every mapped dir holds data of
        that schema: always for a fresh map, and for an inherited map only
        when the merged schema equals the previous marker's recorded one
        (otherwise the union's files differ and reads infer)."""
        # one step: current() hands back the live marker it resolved, so
        # no racing erase/vacuum can slip between resolving the version
        # and reading its parts map
        current, prev = self.current()
        version = (current or 0) + 1
        parts: dict[str, str] = dict((prev or {}).get("parts") or {})
        # NULL — and EMPTY-STRING — partition values land in the hive
        # default dir (Spark's getPartitionPathString maps both); key the
        # parts map by that same name so those partitions' survivors are
        # found (a str(None) or '' key would orphan the existing default
        # partition — data loss on the second merge touching it)
        null_key = "__HIVE_DEFAULT_PARTITION__"
        # row counts per partition value: the same aggregate as a
        # distinct(), and its total sizes the anti-join's key side
        counts = src.groupBy(F.col(partition_col).cast("string")).count().collect()
        touched = sorted({
            null_key if r[0] is None or r[0] == "" else str(r[0])
            for r in counts
        })  # a set: null and '' both map to null_key — a duplicated entry
        # would read the default partition's survivor files twice
        # both survivor anti-joins below take the delta's key column as it
        # is, not de-duplicated (as in merge()), and broadcast when small
        keyset = self._delta_keys(src, keys, sum(r[1] for r in counts))
        if prev and not parts:
            # current version is NOT partition-mapped (plain commit/adopt/
            # merge): one-time full conversion — every row must land in a
            # mapped dir or the new marker would silently drop it
            target = self.read(version=current, meta=prev)
            survivors = target.join(keyset, list(keys), "left_anti")
            merged = src.unionByName(survivors)
        else:
            existing_rel = [parts[p] for p in touched if p in parts]
            if existing_rel:
                target = self._reader((prev or {}).get("schema")).parquet(
                    *[self._abs(rel) for rel in existing_rel]
                )
                survivors = target.join(keyset, list(keys), "left_anti")
                merged = src.unionByName(survivors)
            else:
                merged = src
        dirname = f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        # duplicate the partition key into _pv: hive layout on _pv gives one
        # subdir per value while partition_col survives inside the files.
        # Shuffled on _pv so one task writes each touched partition as one
        # file, not one file per writing task. The rebalance hint replaces
        # the repartition under AQE (the optimizer collapses the pair into
        # the rebalance), which also splits a partition above the advisory
        # size across tasks; Spark drops the hint when AQE is off, leaving
        # the hash repartition.
        merged.withColumn("_pv", F.col(partition_col).cast("string")).repartition(
            "_pv"
        ).hint("rebalance", "_pv").write.mode("error").options(
            **NO_SUCCESS_FILE
        ).partitionBy("_pv").parquet(f"{self.root}/{dirname}")
        # map values from the dirs actually written (hive-escaped names)
        from urllib.parse import unquote

        for st in self._hfs.listStatus(self._path(dirname)):
            name = st.getPath().getName()
            if name.startswith("_pv="):
                parts[unquote(name[len("_pv="):])] = f"{dirname}/{name}"
        meta = {
            "version": version,
            "dir": dirname,
            "parts": parts,
            "touched": touched,  # this commit's blast radius (history())
            "op": "merge_partitioned",
        }
        fresh_map = prev is None or not (prev or {}).get("parts")
        schema = written_schema(merged)
        if fresh_map or (prev or {}).get("schema") == schema:
            meta["schema"] = schema
        # record the partition column so read(prune={pcol: value}) can
        # skip unmapped partitions — but only when the whole map is keyed
        # by ONE column (a caller that switched partition_col mid-history
        # has mixed keys; recording either name would mis-prune)
        prev_pcol = (prev or {}).get("pcol")
        if fresh_map or prev_pcol == partition_col:
            meta["pcol"] = partition_col
            # also record the column's DTYPE so read-side pruning can
            # refuse cross-typed probes (see _part_key) — but only when
            # every key in the map is provably of this type: a fresh map
            # is keyed entirely from this write's cast, an inherited map
            # only if the previous marker recorded the same dtype. A
            # marker without ptype prunes nothing (strict fail-open).
            ptype = merged.schema[partition_col].dataType.simpleString()
            if fresh_map or (prev or {}).get("ptype") == ptype:
                meta["ptype"] = ptype
        if extra_meta:
            for kk, vv in extra_meta.items():
                meta.setdefault(kk, vv)
        self._create_marker(version, meta)
        return version

    def _delta_keys(self, src: DataFrame, keys: Sequence[str],
                    n_rows: int) -> DataFrame:
        """The delta's key column for merge_partitioned's survivor
        anti-join. Not de-duplicated, as in merge(). Broadcast when
        ``n_rows`` at Spark's own per-row size estimate (8 bytes plus each
        key type's default size) fits ``spark.sql.autoBroadcastJoinThreshold``:
        the planner cannot size a delta built from Python rows, and AQE
        converts that shuffled join to a broadcast only after the survivor
        side's shuffle has run too. A threshold of -1 broadcasts nothing."""
        keyset = src.select(*keys)
        conf = self.spark._jsparkSession.sessionState().conf()
        limit = conf.autoBroadcastJoinThreshold()
        if 0 <= n_rows * (8 + keyset._jdf.schema().defaultSize()) <= limit:
            return F.broadcast(keyset)
        return keyset

    def incremental(self, source: DataFrame, watermark_col: str,
                    keys: Sequence[str],
                    default_watermark: str = "1900-01-01 00:00:00") -> int:
        """dbt incremental-merge materialization on the versioned layout:
        watermark from the CURRENT version, delta-filter, merge. Idempotent
        under replays; a crash mid-build replays from the same watermark
        because the watermark source never moved.

        The watermark is MEMOIZED in the commit marker (``wm`` field): an
        incremental commit records ``max(old watermark, max(delta))``, so
        the next run reads it from the marker in O(1) instead of scanning
        the whole table for ``max(watermark_col)`` — at 100 TB that scan
        is a full pass over the fact just to find one scalar. Strictly
        safe: any commit that does NOT carry the memo (plain merge/
        overwrite landing on top) simply drops it, and the next
        incremental falls back to the exact table scan. The memo'd value
        equals the scanned value inductively: str(timestamp) forms are
        canonical and lexicographic == chronological, the same convention
        _stat_norm relies on."""
        wm = self._resolve_watermark(watermark_col, default_watermark)
        delta = source.where(F.col(watermark_col) > F.lit(wm).cast("timestamp"))
        return self.merge(delta, keys,
                          extra_meta=self._wm_meta(watermark_col, wm, delta))

    def incremental_partitioned(
        self, source: DataFrame, watermark_col: str, keys: Sequence[str],
        partition_col: str, default_watermark: str = "1900-01-01 00:00:00",
    ) -> int:
        """The full 100 TB incremental shape in one call: O(1)
        marker-memoized watermark read (see incremental) + partition-SCOPED
        merge (see merge_partitioned) — a day's delta against a years-deep
        day-partitioned fact costs one marker read, one delta scan, and one
        touched-partition rewrite; the table itself is never scanned in
        steady state. Idempotent under replays like incremental()."""
        wm = self._resolve_watermark(watermark_col, default_watermark)
        delta = source.where(F.col(watermark_col) > F.lit(wm).cast("timestamp"))
        return self.merge_partitioned(
            delta, keys, partition_col,
            extra_meta=self._wm_meta(watermark_col, wm, delta))

    def _resolve_watermark(self, watermark_col: str, default: str) -> str:
        """Current watermark: the marker memo when the CURRENT version
        carries one for this column, else the exact max() table scan."""
        current, meta = self.current()
        wm = None
        if current is not None:
            rec = (meta.get("wm") or {}).get(watermark_col)
            if rec is not None:
                wm = rec
            else:
                row = self.read(version=current, meta=meta).agg(
                    F.max(watermark_col).alias("wm")).collect()[0]
                wm = str(row["wm"]) if row["wm"] is not None else None
        return default if wm is None else wm

    @staticmethod
    def _wm_meta(watermark_col: str, wm: str, delta: DataFrame) -> dict:
        """extra_meta carrying max(old watermark, max(delta)) — one scalar
        agg over the (already-filtered) delta, never the table.

        The two sides are compared AS TIMESTAMPS, not strings: the old
        watermark may be a caller-supplied ``default_watermark`` whose
        string form isn't zero-padded ISO (e.g. '1900-1-1'), and a bare
        str() max() over mixed second/microsecond precision only orders
        lexicographically by luck of the uniform format. If either side
        doesn't parse as a timestamp the memo is DROPPED (empty dict) —
        the next incremental falls back to the exact max() table scan,
        which is the strictly-safe degradation everywhere in this
        protocol."""
        dmax = delta.agg(F.max(watermark_col).alias("m")).first()["m"]
        if dmax is None:
            new_wm = wm
        else:
            try:
                new_wm = (str(dmax)
                          if _parse_ts(str(dmax)) > _parse_ts(wm) else wm)
            except (ValueError, TypeError):
                # unparseable watermark form, or an INCOMPARABLE pair
                # (offset-aware vs naive datetimes raise TypeError on >):
                # no memo, next run resolves via the exact table scan
                return {}
        return {"wm": {watermark_col: new_wm}}

    def erase(self, subject_keys: DataFrame, keys: Sequence[str]) -> dict:
        """Right-to-be-forgotten (GDPR Art. 17) erasure: drop every row
        whose key appears in ``subject_keys``, commit the purged state, and
        PHYSICALLY delete all prior versions — unlike a normal commit,
        where history is retained for time travel, erasure must leave no
        readable version still holding the subject's rows (Delta calls
        this DELETE + VACUUM RETAIN 0).

        Order is crash-safe at every step: the purged version's marker
        lands before any history is deleted, so a crash mid-erase leaves
        either (a) full history with the erase not yet visible (re-run) or
        (b) the purged version live with some history not yet reclaimed
        (re-run completes the vacuum) — never a missing table. Returns an
        audit dict {version, n_erased, purged_versions} for the
        compliance log (reference: governance retention policies,
        governance/data_catalog.yml defaults)."""
        refs = self.clone_refs()
        if refs:
            # Erasure must leave NO readable copy of the subject's rows —
            # but a clone's hard ref pins this table's data dirs (vacuum
            # would spare them) and the clone itself still reads them.
            # Deleting through the refs would silently destroy the clones;
            # sparing them would silently fail compliance. Fail loudly.
            dests = sorted(r.get("dest", "?") for r in refs)
            raise RuntimeError(
                f"cannot erase {self.root}: {len(refs)} zero-copy clone(s) "
                f"still reference its data ({', '.join(dests)}). Erase or "
                "drop each clone (release_parent_ref after a local rewrite, "
                "or delete the clone) first, then re-run the erase."
            )
        current, meta = self.current()
        target = self.read(version=current, meta=meta)
        # key set not de-duplicated, as in merge(): a subject listed twice
        # (or a null key) leaves the anti-join's survivors unchanged
        survivors = target.join(subject_keys.select(*keys), list(keys),
                                "left_anti")
        n_before = target.count()
        # pinned: a rival committing mid-erase raises instead of having its
        # rows silently purged by a commit derived from the stale read
        version = self.commit(survivors, op="erase", at_version=current + 1)
        n_after = self.read(version).count()
        # both graces 0: erasure must leave NO copy of the subject's rows,
        # orphan staging dirs and reader-retained superseded versions
        # included — the caller owns quiescing writers AND readers first
        purged = self.vacuum(keep=1, orphan_grace_ms=0, supersede_grace_ms=0)
        # a clone() racing this erase may have registered its ref after the
        # up-front check — its pinned dirs were then spared by the vacuum,
        # so the purge is INCOMPLETE: surface that as a failure (the data
        # is intact for the clone; compliance just hasn't happened yet)
        late_refs = self.clone_refs()
        if late_refs:
            dests = sorted(r.get("dest", "?") for r in late_refs)
            raise RuntimeError(
                f"erase of {self.root} left pinned history: clone(s) "
                f"registered during the erase ({', '.join(dests)}). The "
                "subject rows were removed from the live version but "
                "cloned snapshots may retain them — resolve the clones and "
                "re-run the erase."
            )
        return {
            "version": version,
            "n_erased": n_before - n_after,
            "purged_versions": purged["versions"],
        }

    # -- zero-copy clone ----------------------------------------------------
    def clone_refs(self) -> list[dict]:
        """Registered clone hard-refs ({token, dest, version, dirs}) —
        the dirs each live clone pins in THIS table's storage. Unreadable
        ref files are treated as live (fail closed: vacuum must not
        reclaim what it cannot prove unreferenced)."""
        refs_dir = self._path("_refs")
        if not self._hfs.exists(refs_dir):
            return []
        out = []
        for st in self._hfs.listStatus(refs_dir):
            name = st.getPath().getName()
            if not name.endswith(".json"):
                continue
            token = name[:-5]
            meta = self._read_json(st.getPath()) or {}
            if not meta.get("dirs"):
                # ...which would protect nothing — so an unparseable ref
                # pins EVERYTHING by protecting every current top-level dir
                meta = {"dirs": ["*"], "dest": meta.get("dest", "?")}
            meta["token"] = token
            out.append(meta)
        return out

    def clone(self, dest_root: str, version: int | None = None,
              **dest_kwargs) -> "VersionedTable":
        """Snowflake-style ZERO-COPY CLONE: branch this table at a pinned
        version into a new root without copying data. The clone's v1
        marker references this table's immutable dirs by ABSOLUTE path;
        its own later commits write into its own root (copy-on-write), so
        parent and clone diverge freely from the branch point.

        Safety against parent vacuum: BEFORE the clone becomes visible, a
        hard ref lands in the parent's ``_refs/`` recording exactly which
        top-level dirs the clone pins — parent vacuum protects those dirs
        for as long as the ref exists, and parent erase refuses while any
        ref is live. Ref-then-validate ordering closes the race with a
        concurrent vacuum: the pinned version is re-checked LIVE after the
        ref is durable; if a vacuum reclaimed it in the window, the ref is
        withdrawn and the clone fails cleanly.

        Release the pin with ``clone.release_parent_ref()`` once no
        retained clone version references parent storage (e.g. after
        ``clone.compact()`` rewrote the data locally).

        Reference parity: Snowflake CREATE TABLE ... CLONE (the backend
        the reference's dbt project gets zero-copy dev environments from).
        """
        src_version = self.current_version() if version is None else version
        meta = self._live_meta(src_version) if src_version is not None else None
        if meta is None:
            raise FileNotFoundError(
                f"no committed version under {self.root}" if src_version is None
                else f"version {src_version} not committed (or vacuumed) "
                     f"under {self.root}"
            )
        # ALWAYS include meta["dir"]: a partition-mapped version's own dir
        # may hold no _pv subdirs (empty-delta merge) and so be absent from
        # parts.values() — but clone liveness keys on it existing, so the
        # ref must pin it or a parent vacuum bricks the clone
        rels = sorted(
            set((meta.get("parts") or {}).values()) | {meta["dir"]}
        )
        foreign = sorted(r for r in rels if not self._is_local(r))
        if foreign:
            # Clone-of-a-clone: the pinned version reads dirs owned by a
            # GRANDPARENT table. A ref registered here would pin nothing
            # there — if this table later released its own ref, the
            # grandparent could vacuum dirs the new clone still reads
            # (silent data loss). Refuse until the chain is broken.
            raise ValueError(
                f"version {src_version} of {self.root} still reads another "
                f"table's storage ({foreign[0]}, ...) — localize it first "
                "(compact() then clone that version), or clone the original "
                "table directly"
            )
        top_dirs = sorted({
            (r[len(self.root) + 1:] if r.startswith(f"{self.root}/") else r)
            .split("/", 1)[0]
            for r in rels if self._is_local(r)
        })
        token = uuid.uuid4().hex
        ref_path = self._path(f"_refs/{token}.json")
        self._hfs.mkdirs(ref_path.getParent())
        ref_meta = {
            "dest": dest_root.rstrip("/"),
            "version": src_version,
            "dirs": top_dirs,
        }
        out = self._hfs.create(ref_path, False)
        try:
            out.write(bytearray(json.dumps(ref_meta, sort_keys=True), "utf-8"))
        finally:
            out.close()
        # EVERYTHING after the ref write runs under one cleanup umbrella:
        # any failure (including the dest constructor's own scheme probe
        # raising) must withdraw the ref, or an orphan ref would pin the
        # parent's vacuum — and block its erase — forever.
        try:
            # validate AFTER the ref is durable: the vacuum side re-reads
            # refs between deleting a reclaimed version's MARKER and its
            # data dirs, so if the marker is still live here our ref is
            # guaranteed visible to any racing vacuum before it deletes —
            # and if the marker is already gone, we fail cleanly.
            if self._live_meta(src_version) is None:
                raise FileNotFoundError(
                    f"version {src_version} of {self.root} was vacuumed "
                    "while cloning — re-run against a retained version"
                )
            dest = VersionedTable(self.spark, dest_root, **dest_kwargs)
            if dest._scheme() != self._scheme():
                raise ValueError(
                    f"clone destination scheme {dest._scheme()!r} differs "
                    f"from the source's {self._scheme()!r} — zero-copy "
                    "references and liveness checks require one filesystem; "
                    "copy the data (dest.commit(source.read(version=...))) "
                    "across stores instead"
                )
            if dest.exists():
                raise ValueError(
                    f"clone destination {dest.root} already exists"
                )
        except Exception:
            self._hfs.delete(ref_path, False)
            raise
        clone_meta = {
            "version": 1,
            "op": "clone",
            "dir": self._abs(meta["dir"]),
            "source": self.root,
            "source_version": src_version,
            "ref": token,
        }
        if meta.get("parts"):
            clone_meta["parts"] = {
                k: self._abs(rel) for k, rel in meta["parts"].items()
            }
            if meta.get("pcol"):  # partition pruning survives the clone
                clone_meta["pcol"] = meta["pcol"]
                if meta.get("ptype"):
                    clone_meta["ptype"] = meta["ptype"]
        if meta.get("schema"):  # same files, same schema
            clone_meta["schema"] = meta["schema"]
        # Linkage BEFORE marker: _clone.json without a marker is inert
        # (dest.exists() is still False), but a marker without linkage
        # would be a live clone whose parent ref can never be released
        # through the API. With this ordering a crash in the gap leaves a
        # releasable half-clone (vacuum's stale-ref sweep also reaps it),
        # and once the marker is durable NOTHING may withdraw the ref —
        # the clone is live and reads the parent's dirs.
        def write_link():
            out = dest._hfs.create(dest._path("_clone.json"), True)
            try:
                out.write(bytearray(
                    json.dumps({"source": self.root, "ref": token},
                               sort_keys=True),
                    "utf-8",
                ))
            finally:
                out.close()

        try:
            write_link()
            dest._create_marker(1, clone_meta)
        except Exception:
            # marker create failed (or the initial linkage write did) →
            # no live clone exists under OUR token; withdraw the parent
            # ref. The linkage is deliberately left alone: without a
            # marker it is inert (dest.exists() stays False, a later
            # clone's write_link overwrites it), and deleting it here
            # could race a rival winner's re-assert — loser reads its own
            # token, winner rewrites the linkage, loser deletes the file —
            # leaving the rival's LIVE clone linkage-less (its parent ref
            # then unreleasable through the API).
            self._hfs.delete(ref_path, False)
            raise
        # RE-ASSERT the linkage after winning the marker: a rival clone
        # racing to the same dest may have overwritten it with its own
        # token between our write and our marker win — the winner's token
        # must be the one the live clone carries, or release_parent_ref
        # targets the wrong ref and OUR ref leaks (fail-closed erase
        # block). The marker is durable at this point, so NOTHING below
        # may withdraw the parent ref: the clone is live and reads the
        # parent's dirs — withdrawing would let a later parent vacuum
        # delete data the clone still serves. Best-effort with retries;
        # a persistent failure surfaces with repair instructions while
        # the ref (and the clone) stay intact.
        reassert_err: Exception | None = None
        for _ in range(3):
            try:
                cur = dest._read_json(dest._path("_clone.json"))
                if cur is None or cur.get("ref") != token:
                    write_link()
                reassert_err = None
                break
            except Exception as exc:  # transient IO on the overwrite
                reassert_err = exc
        if reassert_err is not None:
            raise RuntimeError(
                f"clone {dest.root} is LIVE (v1 marker committed) but the "
                f"linkage re-assert failed; parent ref {token} remains "
                f"registered under {self.root}/_refs (parent vacuum/erase "
                "stay blocked — fail closed, no data loss). Repair by "
                f'writing {{"source": "{self.root}", "ref": "{token}"}} '
                f"to {dest.root}/_clone.json"
            ) from reassert_err
        return dest

    def release_parent_ref(self) -> bool:
        """Drop this CLONE's hard ref on its parent once safe: refuses
        while any retained version of the clone still references parent
        storage (vacuum old clone versions, or compact() to rewrite the
        data locally, first). Returns True if a ref was released."""
        still_shared = []
        for v in self._marker_versions():
            meta = self._live_meta(v)
            if meta is None:
                continue
            rels = list((meta.get("parts") or {}).values()) + [meta["dir"]]
            if any(not self._is_local(r) for r in rels):
                still_shared.append(v)
        if still_shared:
            raise ValueError(
                f"clone {self.root} still reads parent storage in retained "
                f"version(s) {still_shared} — vacuum them (after a local "
                "rewrite such as compact()) before releasing the ref"
            )
        link_path = self._path("_clone.json")
        link = self._read_json(link_path)
        if link is None:
            return False  # not a clone, or the ref was already released
        source, token = link.get("source"), link.get("ref")
        if not source or not token:
            # parseable-but-partial linkage (e.g. a truncated rewrite that
            # still parses) — refuse WITHOUT consuming it, so the parent
            # ref stays fail-closed and the file is available for repair
            raise ValueError(
                f"corrupt clone linkage {self.root}/_clone.json is missing "
                f"{'source' if not source else 'ref'} — repair it (see the "
                "clone v1 marker's source/ref fields) before releasing"
            )
        _, src_fs, _ = fs_handles(self.spark, source)
        ref = self._Path(f"{source}/_refs/{token}.json")
        released = bool(src_fs.delete(ref, False))
        if not released:
            # The linkage may carry a DEAD rival's token: a losing clone
            # racer can overwrite _clone.json after the winner's re-assert
            # (its own cleanup deliberately never deletes the file). Fall
            # back to scanning the parent's _refs for refs registered for
            # THIS dest — two live clones can never share a dest (marker
            # win is exclusive), so any such ref is ours or a dead
            # loser's leftover; releasing them all is safe and un-leaks
            # the winner's ref that the clobbered token was hiding.
            refs_dir = self._Path(f"{source}/_refs")
            try:
                if src_fs.exists(refs_dir):
                    for st in src_fs.listStatus(refs_dir):
                        p = st.getPath()
                        if not p.getName().endswith(".json"):
                            continue
                        meta = self._read_json(p) or {}
                        if meta.get("dest") == self.root:
                            released = bool(src_fs.delete(p, False)) or released
            except Exception:
                pass  # best-effort fallback; the token path already failed
        self._hfs.delete(link_path, False)  # linkage spent either way
        return released

    # -- maintenance -------------------------------------------------------
    def compact(self, target_file_bytes: int = 128 << 20,
                max_retries: int = 3) -> dict[str, int]:
        """Table maintenance on the manifest protocol: rewrite the CURRENT
        version's many small files (the residue of high-frequency merges)
        into ~target-size files as a NEW pinned commit — no renames, no
        unreadable window, works on object stores. The CLI
        ``table-compact`` runs it.

        The rewrite is PINNED to read_version+1 (see commit): a merge
        landing in the read→commit window raises ConcurrentWriteError and
        the compaction re-derives against the new current — a compaction
        can therefore never silently erase a racing merge (the lost-update
        footgun of an unpinned ``commit(read())``). Content is
        byte-identical to the source version; only the file layout
        changes. Old versions remain time-travelable until vacuumed.

        A partition-mapped current version is collapsed into a single
        plain dir (the parts map does not survive compaction); the next
        merge_partitioned re-establishes the map via its documented
        one-time full conversion. Compact a partition-mapped fact only
        when small files, not partition pruning, are the bottleneck.

        Returns {"version", "files_before", "files_after", "bytes"}."""
        if max_retries < 1:
            raise ValueError("compact max_retries must be >= 1")
        last_err: Exception | None = None
        for _ in range(max_retries):
            current, meta = self.current()
            if current is None:
                raise FileNotFoundError(f"no committed version under {self.root}")
            rels = (sorted(meta["parts"].values())
                    if meta.get("parts") else [meta["dir"]])
            try:
                files_before = n_bytes = 0
                for rel in set(rels):
                    files, size = _dir_stats(self.spark, self._abs(rel))
                    files_before += files
                    n_bytes += size
            except Exception as e:  # dir reclaimed under us — retry
                last_err = ConcurrentWriteError(
                    f"version {current} of {self.root} was reclaimed "
                    f"mid-compact ({type(e).__name__})"
                )
                continue
            n_files = max(1, -(-n_bytes // max(1, target_file_bytes)))
            try:
                # re-checks liveness: a racing erase/vacuum may have
                # reclaimed `current` since it was resolved and sized
                df = self.read(version=current)
                stats_cols = self._inherited_stats_cols(current, meta)
                if stats_cols:
                    # re-establish range clustering on the stats columns so
                    # the rewrite RESTORES data skipping's selectivity
                    # (Delta OPTIMIZE-with-ZORDER analog): merges append
                    # wide-range files; compaction is the natural place to
                    # narrow them back
                    df = df.repartitionByRange(n_files, *stats_cols)
                else:
                    df = df.repartition(n_files)
                version = self.commit(df, op="compact", at_version=current + 1,
                                      stats_cols=stats_cols,
                                      **self._inherited_bloom(current, meta))
            except ConcurrentWriteError as e:
                last_err = e
                continue
            except FileNotFoundError as e:
                # a racing erase/vacuum reclaimed `current` between sizing
                # and the read — re-resolve and retry like any lost race
                last_err = e
                continue
            new_meta = self._read_marker(version)
            if new_meta is None:
                # a racing erase reclaimed OUR fresh commit; the erased
                # state is the one that needs compacting now — retry
                last_err = ConcurrentWriteError(
                    f"compacted version {version} of {self.root} was "
                    "reclaimed immediately (racing erase) — re-deriving"
                )
                continue
            files_after, _ = _dir_stats(
                self.spark, f"{self.root}/{new_meta['dir']}"
            )
            return {
                "version": version,
                "files_before": files_before,
                "files_after": files_after,
                "bytes": n_bytes,
            }
        raise last_err  # every retry lost its race — surface the conflict

    def _newest_mtime_ms(self, path) -> int | None:
        """Newest FILE mtime under ``path`` (recursive), or None if it
        holds no files. Orphan-dir age must come from the files, not the
        directory entry: object stores synthesize directory statuses with
        mtime 0, so keying staleness on the dir's own stamp would judge
        every staging dir infinitely stale and delete a live writer's
        in-flight data."""
        newest = None
        try:
            it = self._hfs.listFiles(path, True)
            while it.hasNext():
                ts = it.next().getModificationTime()
                if newest is None or ts > newest:
                    newest = ts
        except Exception:
            return None  # fail closed: unknown age reads as young
        return newest

    def vacuum(
        self, keep: int = 2, orphan_grace_ms: int | None = None,
        supersede_grace_ms: int | None = None,
    ) -> dict[str, list[int] | list[str]]:
        """Reclaim (a) orphan data dirs — staged dirs whose writer died (or
        lost a commit race) before the marker — and (b) committed versions
        older than the last ``keep``, plus (c) dead unparseable markers.
        Markers are deleted BEFORE their data dir so a crash mid-vacuum
        never yields a marker pointing at missing data (readers also
        double-check the data dir exists).

        Orphan dirs and dead markers younger than the grace
        (ORPHAN_GRACE_MS default) are SPARED: an unreferenced v*-* dir may
        be a live writer mid-stage, and deleting it would vaporize that
        writer's in-flight commit (Delta's VACUUM has the same retention
        rule for the same reason). Pass ``orphan_grace_ms=0`` only when no
        concurrent writer can exist (tests; post-erase purge).

        ``supersede_grace_ms`` (SUPERSEDE_GRACE_MS default) independently
        protects recently-superseded versions still mid-scan by READERS —
        a different population from writers, so quiescing writers (orphan
        grace 0) deliberately does NOT imply dropping reader retention;
        pass ``supersede_grace_ms=0`` only when readers are quiesced too
        (erase: compliance requires the full purge)."""
        if keep < 1:
            raise ValueError(
                "vacuum keep must be >= 1 — keep=0 would reclaim the "
                "CURRENT version (and committed[-0:] would silently keep "
                "everything instead)"
            )
        grace = ORPHAN_GRACE_MS if orphan_grace_ms is None else orphan_grace_ms
        sgrace = (
            SUPERSEDE_GRACE_MS if supersede_grace_ms is None
            else supersede_grace_ms
        )
        # one storage-clock read per vacuum — fs-mtime vs fs-mtime ages
        now = self._fs_now_ms() if (grace or sgrace) else 0
        # one marker-content read per version for the WHOLE vacuum: phases
        # 1-2 reuse these metas (phase 3 re-reads only the versions it
        # reclaims, as its racing-vacuum guard)
        metas = {v: self._live_meta(v) for v in self._marker_versions()}
        committed = [v for v in sorted(metas) if metas[v]]
        live = set(committed[-keep:]) if committed else set()
        # ---- phase 1: DECIDE which non-live versions are reclaimable.
        # A reader (or a lagging writer's re-derive) may have resolved v as
        # current moments before its successor landed and still be lazily
        # reading its files; reclaim only once v has been SUPERSEDED for
        # longer than the grace — measured by the successor marker's
        # fs-age, not the commit's own age. With the per-merge
        # retain_versions loop this is what keeps concurrent readers from
        # dying on FileNotFound mid-job (Delta's retention period plays the
        # same role). Any error reading the successor's stamp fails CLOSED
        # (skip this round; the next vacuum retries) — failing open would
        # delete files out from under readers on a transient stat error.
        reclaim: set[int] = set()
        for idx, v in enumerate(committed):
            if v in live:
                continue
            if sgrace:
                try:
                    superseded_ms = now - self._hfs.getFileStatus(
                        self._marker(committed[idx + 1])
                    ).getModificationTime()
                except Exception:
                    continue
                if superseded_ms < sgrace:
                    continue
            reclaim.add(v)
        # ---- phase 2: every top-level dir ANY surviving version (the keep
        # set AND the supersede-grace-spared) references is protected —
        # including dirs an older version wrote that a partition-mapped
        # newer version still points at for its untouched partitions. This
        # must be known BEFORE any deletion: a reclaimed version's own dir
        # may be exactly such a shared dir.
        protected: set[str] = set()

        def _protect(rel: str) -> None:
            # only LOCAL top-level dirs are subject to local deletion; a
            # clone marker's absolute entries live in the PARENT's storage
            # (protected there by the clone's hard ref, see clone())
            if rel.startswith(f"{self.root}/"):
                rel = rel[len(self.root) + 1:]
            if self._is_local(rel):
                protected.add(rel.split("/", 1)[0])

        for v in committed:
            if v in reclaim:
                continue
            meta = metas[v]
            if meta:
                _protect(meta["dir"])
                for rel in (meta.get("parts") or {}).values():
                    _protect(rel)
        # every dir a registered CLONE references is protected too — the
        # hard ref (clone()) is what makes parent vacuum clone-safe. An
        # unparseable ref reports dirs=["*"]: pin EVERY data dir (fail
        # closed) until the operator repairs or removes the ref.
        for ref in self.clone_refs():
            for d in ref.get("dirs", []):
                if d == "*":
                    for st in self._hfs.listStatus(self._path("")):
                        name = st.getPath().getName()
                        if _DIR_RE.match(name):
                            protected.add(name)
                else:
                    _protect(d)
        # ---- phase 3: delete (marker first, then unprotected data dir)
        removed_versions: list[int] = []
        removed_orphans: list[str] = []
        # 3a: delete ALL reclaimed markers first, then 3b: re-read clone
        # refs ONCE, then 3c: delete data dirs. This ordering closes the
        # clone-vs-vacuum race soundly: clone() writes its ref and then
        # validates the pinned version's MARKER is live. If that
        # validation passed, the marker still existed — i.e. it ran
        # before 3a deleted it, so the ref was durable before 3b's
        # re-read and 3c spares the dirs. If the validation failed, the
        # clone withdrew its ref and raised — no clone exists to protect.
        reclaim_metas: dict[int, dict] = {}
        for v in sorted(reclaim):
            meta = self._read_marker(v)
            if meta is None:
                continue  # a racing vacuum got here first
            self._hfs.delete(self._marker(v), False)
            reclaim_metas[v] = meta
            removed_versions.append(v)
        if reclaim_metas:
            for ref in self.clone_refs():  # 3b: late refs from racing clones
                for d in ref.get("dirs", []):
                    if d == "*":
                        for st in self._hfs.listStatus(self._path("")):
                            name = st.getPath().getName()
                            if _DIR_RE.match(name):
                                protected.add(name)
                    else:
                        _protect(d)
        for v, meta in reclaim_metas.items():  # 3c
            # never delete data OUTSIDE this root (a clone marker's
            # absolute source dirs belong to the parent table)
            if (
                self._is_local(meta["dir"])
                and meta["dir"].split("/", 1)[0] not in protected
            ):
                self._hfs.delete(self._path(meta["dir"]), True)
        # after the loop above, every dir still listed that no surviving
        # version references is an orphan (crashed or race-losing writer) —
        # unless it is younger than the grace, in which case it may be a
        # live writer still staging
        if self._hfs.exists(self._path("")):
            for st in self._hfs.listStatus(self._path("")):
                name = st.getPath().getName()
                if not _DIR_RE.match(name) or name in protected:
                    continue
                if grace:
                    # age from the newest FILE inside (object-store dir
                    # statuses carry mtime 0 — see _newest_mtime_ms); an
                    # empty/unstattable dir has unknown age → spared
                    mt = self._newest_mtime_ms(st.getPath())
                    if mt is None:
                        mt = st.getModificationTime() or None
                    if mt is None or now - mt <= grace:
                        continue
                self._hfs.delete(st.getPath(), True)
                removed_orphans.append(name)
        # dead markers: unparseable (writer died mid-create) or pointing at
        # a data dir that no longer exists (crash mid-vacuum inverse order).
        # Grace-gated like orphans — a young unparseable one may be a racer
        # an instant from finishing its content write.
        removed_markers: list[str] = []
        commits = self._path("_commits")
        if self._hfs.exists(commits):
            live_markers = {self._marker(v).getName() for v in live}
            for st in self._hfs.listStatus(commits):
                name = st.getPath().getName()
                stale = not grace or now - st.getModificationTime() > grace
                if name.startswith(".clock-") and stale:
                    # clock probe whose delete failed (see _fs_now_ms)
                    self._hfs.delete(st.getPath(), False)
                    continue
                m = _MARKER_RE.match(name)
                if (
                    m
                    and name not in live_markers
                    and int(m.group(1)) not in committed
                    and stale
                ):
                    self._hfs.delete(st.getPath(), False)
                    removed_markers.append(name)
        # stale clone refs: a clone() crash between the ref write and the
        # dest marker (or an operator rm -rf'ing a clone) leaves a ref that
        # would pin dirs — and block erase — forever. Reap a ref ONLY when
        # it is past the grace AND its dest provably no longer depends on
        # it: dest root gone, dest linked to a DIFFERENT token (the clone
        # was re-created), or dest linkage matches but no version was ever
        # committed (half-created clone). A dest that exists without
        # readable linkage is ambiguous → fail closed, keep the ref.
        removed_refs: list[str] = []
        refs_dir = self._path("_refs")
        if self._hfs.exists(refs_dir):
            # the ref sweep's grace NEVER drops below the default: a
            # zero-grace purge (erase; quiesced tests) must still spare an
            # in-flight clone's young ref — reaping it would let the clone
            # complete UNPINNED and silently defeat erase's late-ref guard
            ref_grace = max(grace, ORPHAN_GRACE_MS)
            for st in self._hfs.listStatus(refs_dir):
                name = st.getPath().getName()
                if not name.endswith(".json"):
                    continue
                if now - st.getModificationTime() <= ref_grace:
                    continue  # young — may be a clone mid-creation
                ref = self._read_json(st.getPath())
                dest_root = (ref or {}).get("dest")
                if not dest_root:
                    continue  # unparseable → fail closed (pins everything)
                token = name[:-5]
                try:
                    dest_hpath = self._Path(dest_root)
                    if not self._hfs.exists(dest_hpath):
                        reap = True  # clone dropped from storage entirely
                    else:
                        link = self._read_json(
                            self._Path(
                                f"{dest_root}/_clone.json"
                            )
                        )
                        if link is None:
                            reap = False  # ambiguous — keep the pin
                        elif link.get("ref") != token:
                            reap = True  # superseded by a re-clone
                        else:
                            dest = VersionedTable(
                                self.spark, dest_root,
                                assume_atomic_marker_create=True,
                            )
                            reap = not dest.exists()  # half-created clone
                except Exception:
                    reap = False  # any probe failure → fail closed
                if reap:
                    self._hfs.delete(st.getPath(), False)
                    removed_refs.append(name)
        return {
            "versions": removed_versions,
            "orphans": sorted(removed_orphans),
            "markers": sorted(removed_markers),
            "refs": sorted(removed_refs),
        }
