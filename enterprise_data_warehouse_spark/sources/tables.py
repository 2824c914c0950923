"""Source table scans (SURVEY.md §2.1 S1/S2).

Reference behavior: dbt ``source()`` / ``ref()`` scans resolved to Snowflake
tables (reference models/staging/staging_customers.sql:45,
models/marts/facts/fact_sales_daily.sql:45). Here a scan is a lazy
``spark.read.parquet`` — Catalyst pushes filters and prunes columns into the
parquet reader, so a downstream 2-column projection reads 2 columns.

Spark answers a plain ``spark.read.parquet`` with a schema-inference job
(one task reading the footers), even for one file. ``load_table`` keeps a
process-wide memo instead: local table path -> (identity, inferred schema),
where the identity is the sorted (relative path, size, mtime_ns) of every
file under the path plus the values of the confs that change what inference
returns (``INFERENCE_CONFS``). While the identity holds, the read passes the
memoized schema to ``spark.read.schema`` and launches no job; any changed,
added or removed file, or a changed conf, infers again and replaces the
entry. A path ``os.stat`` cannot resolve (a non-local scheme, any OS error)
fails open: it infers on every read and is never memoized. The first read
of each table in a process still infers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# SQL confs whose value changes the schema parquet inference returns for the
# same files (part of a memo entry's identity)
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)
# local table path -> (identity, schema inferred under it); see the module
# docstring. Dict get/set is atomic, so concurrent readers at worst infer
# twice.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Make ANY caller-provided SparkSession meet the engine's contract.

    All three are runtime-settable SQL confs, so this works even when the
    session was built elsewhere (e.g. the verify driver's plain session):

    - ``nanosAsLong``: a TIMESTAMP(NANOS) parquet column (early testdata
      generations) is rejected by the vectorized reader outright; with the
      flag it surfaces as long ns and ``load_table`` converts to µs.
    - ``inferTimestampNTZ=false``: a naive TIMESTAMP(MICROS) parquet column
      (current testdata generation) would otherwise surface as
      TIMESTAMP_NTZ, which breaks TIMESTAMP-only expressions (unix_micros)
      and silently splits union branches into NTZ-vs-LTZ coercion casts.
      Reading it as LTZ under a pinned UTC session TZ keeps wall-clock
      values identical to the oracle's naive timestamps.
    - UTC session timezone: timestamp→date/extract semantics must match the
      DuckDB oracle's naive timestamps, independent of host TZ.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, min_partitions: int | None = None
) -> DataFrame:
    """S1: lazy columnar scan of one table.

    events.ts is TIMESTAMP(NANOS) in the parquet footer, which Spark's
    vectorized reader rejects; we read it as long ns (legacy flag, set here
    at runtime so ANY caller-provided SparkSession works — not just
    session.get_spark) and convert to a µs timestamp (lossless — the
    generator emits whole microseconds).

    The scan reuses the schema last inferred for the same local files under
    the same ``INFERENCE_CONFS`` values and so launches no Spark job; a
    first read, a changed file set or conf, or a path ``os.stat`` cannot
    resolve infers as a plain ``spark.read.parquet`` does (module
    docstring).

    ``min_partitions``: opt-in for CPU-heavy per-row operators (shingling,
    hashing). A small single-row-group file scans as ONE partition, which
    serializes the expensive map work onto one core; a cheap round-robin
    repartition restores parallelism. At production scale the scan already
    has ≥ this many splits and the branch is a no-op (no shuffle added).
    """
    ensure_runtime_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def _reraise(err: OSError) -> None:
    """``os.walk`` error hook: an unreadable directory fails the identity
    (so the read infers) instead of being left out of it."""
    raise err


def _identity(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of ``path``'s files under the session's inference
    confs; None when ``os.stat`` cannot resolve the path."""
    try:
        if os.path.isdir(path):
            files = []
            for root, _, names in os.walk(path, onerror=_reraise, followlinks=True):
                for n in names:
                    f = os.path.join(root, n)
                    st = os.stat(f)
                    files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
            files.sort()
        else:
            st = os.stat(path)
            files = [("", st.st_size, st.st_mtime_ns)]
    except OSError:
        return None
    return tuple(files), tuple(spark.conf.get(k) for k in INFERENCE_CONFS)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the memoized schema when the
    path's identity matches its memo entry. The identity is taken before
    inferring, so files that change during inference never match again."""
    identity = _identity(spark, path)
    entry = _SCHEMAS.get(path)
    if identity is not None and entry is not None and entry[0] == identity:
        return spark.read.schema(entry[1]).parquet(path)
    df = spark.read.parquet(path)
    if identity is not None:
        # a copy: the DataFrame caches the StructType it hands its callers
        _SCHEMAS[path] = (identity, StructType.fromJson(df.schema.jsonValue()))
    return df


def cpu_parallelism(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def _single_row_group(sf_dir: str, name: str) -> bool:
    """True iff the LOCAL parquet table is one row group total — i.e. only
    one scan task can ever carry rows, whatever the split count. Driver-
    local footer read (sub-ms); fails open to False for non-local paths or
    any read error, so production object-store tables are never touched."""
    try:
        from pathlib import Path

        import pyarrow.parquet as pq

        p = Path(os.path.join(sf_dir, f"{name}.parquet"))
        files = [p] if p.is_file() else sorted(p.glob("*.parquet"))
        total = 0
        for f in files:
            total += pq.ParquetFile(str(f)).metadata.num_row_groups
            if total > 1:
                return False
        return total == 1
    except Exception:  # noqa: BLE001 — fail open: no repartition
        return False


def parallelize_degenerate_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Restore parallelism ONLY for a single-row-group table scan (r13).

    A one-row-group parquet file plans as ONE working scan task no matter
    the core count or split count (Spark assigns the whole row group to
    the split containing its midpoint; the driver's sf0.1 lineitem scans
    as 3 splits of which 1 carries all 600k rows), so everything up to
    the first exchange — including heavy decimal partial aggregation —
    runs serial. Measured: pricing_summary read SLOWER at sf0.1 than at
    sf1 (8-file replica set). In the degenerate case a round-robin
    repartition of the ~10 MB table is nearly free and restores full
    parallelism (pricing_summary 2.16 → 1.31 s, star_revenue_rollup
    2.12 → 1.39 s, balanced-order best-of-3 A/B at sf0.1).

    Unlike the blanket ``min_partitions`` knob (right for CPU-heavy
    per-row operators like shingling), any multi-row-group layout is left
    alone: repartitioning sf1's 8-file lineitem to 32 was MEASURED to
    lose (pricing 1.64 → 2.5 s — the 150 MB exchange costs more than
    8→32 parallelism buys on a cheap-per-row agg). Production tables have
    many row groups (or are non-local → detector fails open): no-op.
    """
    if _single_row_group(sf_dir, name):
        return df.repartition(cpu_parallelism(spark))
    return df


def local_table_bytes(sf_dir: str, name: str) -> int:
    """Best-effort on-disk size of a local parquet table (file or dir);
    0 when unknowable (non-local path) — callers fail open to their
    small-input default. Used by operators that pick a storage/segmenting
    strategy by input scale (the decision a cluster's planner makes from
    catalog statistics)."""
    try:
        from pathlib import Path

        p = Path(f"{sf_dir}/{name}.parquet")
        if p.is_dir():
            return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
        return p.stat().st_size if p.exists() else 0
    except OSError:
        return 0
