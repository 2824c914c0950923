"""Data-layout operators: multi-dimensional Z-order clustering for parquet
file skipping (the Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order analog,
re-expressed as plain DataFrame ops over plain parquet).

Why this matters at 100 TB: min/max row-group statistics only prune scans
when each file's value range is NARROW on the filtered column. A linear
sort clusters ONE column perfectly and leaves every other filter column
spanning the full domain in every file (zero skipping). Interleaving the
bits of two (or more) dimension keys into a single Z-value and
range-partitioning + sorting on it bounds EVERY interleaved dimension's
per-file range at ~sqrt(files) granularity — both ``WHERE o_custkey = k``
and ``WHERE o_orderdate BETWEEN a AND b`` scans skip most files. The whole
operator is two narrow projections plus one RangePartitioning exchange (the
same exchange a plain sorted write pays); nothing is driver-side.

Reference parity: the reference tunes physical layout declaratively —
cluster/sort keys on warehouse tables (dbt model configs) and partition
pruning over date keys; Z-order is the multi-column generalization its
single-column ``sort_by`` cannot express.

Determinism note: bucket scaling uses pure BIGINT arithmetic
(``(v - min) * 65535 div (max - min)``) — no floating division — so Spark
and the DuckDB oracle agree bit-for-bit on every Z-value.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from ..sources.tables import load_table

ZBITS = 16  # bits per dimension; 2 dims -> 32-bit Z-value
ZMAX = (1 << ZBITS) - 1  # 65535


def interleave_bits(a: Column, b: Column, bits: int = ZBITS) -> Column:
    """Z-value of two ``[0, 2^bits)`` bucket ids: bit i of ``a`` lands at
    position 2i, bit i of ``b`` at 2i+1. Pure shift/and/or column
    arithmetic — whole-stage codegen, no UDF."""
    a64, b64 = a.cast("bigint"), b.cast("bigint")
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(a64, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(F.shiftleft(F.shiftright(b64, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda x, y: x.bitwiseOR(y), parts)


def _interleave_sql(a: str, b: str, bits: int = ZBITS) -> str:
    """DuckDB mirror of interleave_bits (BIGINT shift/mask arithmetic)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


ZORDER_KEYS_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey AS ck,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
), rng AS (
  SELECT MIN(ck) AS ck_min, MAX(ck) AS ck_max,
         MIN(dy) AS dy_min, MAX(dy) AS dy_max
  FROM base
), bucketed AS (
  SELECT o_orderkey,
         ((ck - ck_min) * {ZMAX}) // GREATEST(ck_max - ck_min, 1) AS ck_bucket,
         ((dy - dy_min) * {ZMAX}) // GREATEST(dy_max - dy_min, 1) AS dy_bucket
  FROM base CROSS JOIN rng
)
SELECT o_orderkey, ck_bucket, dy_bucket,
       {_interleave_sql("ck_bucket", "dy_bucket")} AS zval
FROM bucketed
"""


def zorder_values(
    df: DataFrame, col_a: Column, col_b: Column, key_cols: list
) -> DataFrame:
    """Attach ``ck_bucket``/``dy_bucket``/``zval`` for two integer dimension
    expressions. The min/max normalization rollup is ONE tiny row broadcast
    back over the scan (an intentional keyless broadcast join — at any scale
    the build side is 4 longs)."""
    base = df.select(
        *key_cols, col_a.cast("bigint").alias("ck"), col_b.cast("bigint").alias("dy")
    )
    rng = base.agg(
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dy").alias("dy_min"),
        F.max("dy").alias("dy_max"),
    )
    bucketed = base.crossJoin(F.broadcast(rng)).select(
        *key_cols,
        F.expr(f"(ck - ck_min) * {ZMAX} div greatest(ck_max - ck_min, 1)").alias(
            "ck_bucket"
        ),
        F.expr(f"(dy - dy_min) * {ZMAX} div greatest(dy_max - dy_min, 1)").alias(
            "dy_bucket"
        ),
    )
    return bucketed.select(
        *key_cols,
        "ck_bucket",
        "dy_bucket",
        interleave_bits(F.col("ck_bucket"), F.col("dy_bucket")).alias("zval"),
    )


@query("zorder_keys", oracle=ZORDER_KEYS_ORACLE)
def zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-values for orders on (o_custkey, o_orderdate-epoch-day): the sort
    key ``zorder_write`` clusters files by. Value-verified bit-for-bit
    against DuckDB's identical integer bit arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    return zorder_values(
        o,
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")),
        ["o_orderkey"],
    )


def zorder_write(
    df: DataFrame, col_a: Column, col_b: Column, path: str, n_files: int
) -> None:
    """Cluster ``df`` into ``n_files`` parquet files Z-ordered on two
    dimensions: range-partition on the Z-value (one exchange — the same
    exchange a sorted write pays) and sort within each partition so parquet
    row-group min/max stats are tight on BOTH dimensions. Readers filtering
    either dimension then skip most files/row-groups via footer stats alone
    — no table format needed."""
    zed = zorder_values(df, col_a, col_b, list(df.columns))
    (
        zed.repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .drop("zval", "ck_bucket", "dy_bucket")
        .write.mode("overwrite")
        .parquet(path)
    )
