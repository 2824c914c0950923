"""Z-order layout: the clustering property that makes min/max file skipping
work on BOTH dimensions — vs a linear sort, which clusters only one."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.operators.layout import (
    ZMAX,
    interleave_bits,
    zorder_values,
    zorder_write,
)
from enterprise_data_warehouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
N_FILES = 16


def _per_file_ranges(path, col):
    """(max-min) of ``col`` per parquet file, via footer stats only."""
    import pathlib

    spans = []
    for f in pathlib.Path(path).glob("*.parquet"):
        md = pq.read_metadata(f)
        idx = next(
            j
            for j in range(md.row_group(0).num_columns)
            if md.row_group(0).column(j).path_in_schema == col
        )
        stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
        spans.append(max(s.max for s in stats) - min(s.min for s in stats))
    return spans


def test_interleave_bits_known_values(spark):
    df = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5), (ZMAX, ZMAX)], "a int, b int")
    got = [r[0] for r in df.select(interleave_bits(F.col("a"), F.col("b"))).collect()]
    # morton(3,5) = interleave bits: a=011, b=101 -> b2a2 b1a1 b0a0 = 100111 = 39
    assert got == [0, 1, 2, 39, (1 << 32) - 1]


def test_zorder_clusters_both_dims_linear_sort_does_not(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    ck = F.col("o_custkey")
    dy = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))

    zpath = str(tmp_path / "zorder")
    zorder_write(orders, ck, dy, zpath, N_FILES)

    # linear layout: same file count, sorted on custkey only
    lpath = str(tmp_path / "linear")
    (
        orders.withColumn("dy", dy)
        .repartitionByRange(N_FILES, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    # rows preserved, dimensions intact
    z = spark.read.parquet(zpath)
    assert z.count() == orders.count()

    zed = zorder_values(orders, ck, dy, ["o_orderkey"])
    dom_ck = ZMAX  # bucket domain by construction
    # z-order: BOTH bucketed dims must be clustered — avg per-file span well
    # below the domain. Write bucketed dims for footer inspection.
    zb = str(tmp_path / "zbuckets")
    (
        zed.repartitionByRange(N_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(zb)
    )
    ck_spans = _per_file_ranges(zb, "ck_bucket")
    dy_spans = _per_file_ranges(zb, "dy_bucket")
    avg_ck = sum(ck_spans) / len(ck_spans) / dom_ck
    avg_dy = sum(dy_spans) / len(dy_spans) / dom_ck
    # 16 files over a 2-D morton curve: each file covers ~1/16 of the curve,
    # so each dim's span is ~1/4 of its domain. Allow slack for skew.
    assert avg_ck < 0.55, ck_spans
    assert avg_dy < 0.55, dy_spans

    # linear sort: custkey tight, but orderdate spans ~full domain per file
    lin = spark.read.parquet(lpath)
    dy_lo, dy_hi = lin.agg(F.min("dy"), F.max("dy")).first()
    lin_dy_spans = _per_file_ranges(lpath, "dy")
    avg_lin_dy = sum(lin_dy_spans) / len(lin_dy_spans) / max(dy_hi - dy_lo, 1)
    assert avg_lin_dy > 0.9, lin_dy_spans
    # and z-order's secondary-dim clustering beats linear's by a wide margin
    assert avg_dy < avg_lin_dy / 1.5


def test_zorder_write_single_exchange(spark):
    """The clustering costs exactly the RangePartitioning exchange a sorted
    write pays — plus the tiny min/max broadcast. No extra shuffles."""
    orders = load_table(spark, SF, "orders")
    ck = F.col("o_custkey")
    dy = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    zed = zorder_values(orders, ck, dy, ["o_orderkey"])
    plan = (
        zed.repartitionByRange(N_FILES, "zval")
        .sortWithinPartitions("zval")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange rangepartitioning") == 1, plan
    # the only other exchanges are the min/max rollup's own tiny
    # SinglePartition reduce and its 1-row broadcast — the big table itself
    # is never hash-shuffled
    assert "Exchange hashpartitioning" not in plan, plan
