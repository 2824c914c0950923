"""Streaming layer: real readStream runs (availableNow), batch/stream
equivalence, incremental MERGE via foreachBatch with late-data replay."""

from __future__ import annotations

from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.queries import load_registry
from enterprise_data_warehouse_spark.sources.tables import load_table
from enterprise_data_warehouse_spark.sources.sink import read_table
from enterprise_data_warehouse_spark.streaming.incremental import (
    read_file_stream,
    stream_incremental_merge,
)

SF = "/root/testdata/sf0.001"
REG = load_registry()


def _norm(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_stream_equals_batch_tumbling(spark):
    batch = REG["tumbling_hourly_counts"].fn(spark, SF)
    streamed = REG["streaming_hourly_counts"].fn(spark, SF)
    # streaming result lacks the final decimal round of the oracle variant —
    # compare on the raw columns
    b = batch.select("window_start", "window_end", "event_type", "n_events")
    s = streamed.select("window_start", "window_end", "event_type", "n_events")
    assert _norm(b) == _norm(s)


def test_stream_equals_batch_sessions(spark):
    batch = REG["session_metrics_batch"].fn(spark, SF)
    streamed = REG["streaming_session_metrics"].fn(spark, SF)
    assert _norm(batch) == _norm(streamed)


def test_stream_static_join_equals_batch(spark):
    from enterprise_data_warehouse_spark.sources.tables import load_table
    from enterprise_data_warehouse_spark.streaming.queries import _segment_hourly

    batch = _segment_hourly(load_table(spark, SF, "events"), load_table(spark, SF, "customer"))
    streamed = REG["streaming_segment_counts"].fn(spark, SF)
    assert _norm(batch) == _norm(streamed)


def test_session_window_bounce_semantics(spark):
    out = REG["session_metrics_batch"].fn(spark, SF)
    rows = out.collect()
    assert all(r["active_seconds"] >= 0 for r in rows)
    bounces = [r for r in rows if r["is_bounce"]]
    assert all(r["n_events"] == 1 for r in bounces)


def test_stream_incremental_merge_two_batches(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice", "o_orderdate")

    # batch 1 arrives
    o.where(F.col("o_orderdate") < "2000-01-01").write.parquet(src_dir)
    schema = "o_orderkey bigint, o_totalprice double, o_orderdate timestamp"
    q = stream_incremental_merge(
        read_file_stream(spark, src_dir, schema), target, ["o_orderkey"], ckpt
    )
    q.awaitTermination()
    n1 = read_table(spark, target).count()
    assert n1 == o.where(F.col("o_orderdate") < "2000-01-01").count()

    # batch 2 arrives: late + restated rows (1999 re-sent with new price)
    late = o.where(
        (F.col("o_orderdate") >= "1999-01-01")
    ).withColumn("o_totalprice", F.lit(-1.0))
    late.write.mode("append").parquet(src_dir)
    q2 = stream_incremental_merge(
        read_file_stream(spark, src_dir, schema), target, ["o_orderkey"], ckpt
    )
    q2.awaitTermination()
    merged = read_table(spark, target)
    assert merged.count() == o.count()  # last-write-wins, no dupes
    # every 1999+ row must carry the restated price
    assert (
        merged.where((F.col("o_orderdate") >= "1999-01-01") & (F.col("o_totalprice") != -1.0)).count()
        == 0
    )


def test_watermark_discards_late_events(spark, tmp_path):
    """Append-mode windowed count with a 1h watermark over a file stream:
    a row arriving behind the watermark is DROPPED (the discard semantics
    the reference lacks — its only late-data story is re-merge; SURVEY §2.9
    R6). The watermark survives the query restart via the checkpoint."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, ts timestamp"

    def arrive(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def drain():
        q = (
            read_file_stream(spark, src, schema)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import datetime as dt

    t = lambda h, m: (1, dt.datetime(2024, 1, 1, h, m))
    # run 1: three rows in [10:00,11:00) + one at 12:30 → watermark 11:30,
    # so the 10:00 window closes and is emitted
    arrive([t(10, 5), t(10, 20), t(10, 40), t(12, 30)])
    drain()
    emitted = {r["ws"].hour: r["n"] for r in spark.read.parquet(out).collect()}
    assert emitted.get(10) == 3

    # run 2: one LATE row at 10:15 (behind the 11:30 watermark — dropped)
    # and one at 14:00 (advances watermark to 13:00, closing [12:00,13:00))
    arrive([t(10, 15), t(14, 0)])
    drain()
    final = {r["ws"].hour: r["n"] for r in spark.read.parquet(out).collect()}
    assert final.get(10) == 3, "late event must not reopen the closed window"
    assert final.get(12) == 1


def test_streaming_dedup_equals_batch(spark):
    """streaming_dedup_events: doubled stream deduped on event_id must equal
    the batch table exactly (one row per event, values intact)."""
    out = REG["streaming_dedup_events"].fn(spark, SF)
    batch = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    assert _norm(out) == _norm(batch)


def test_stream_stream_join_equals_batch(spark):
    """The watermarked stream-stream view⋈click join must produce exactly
    the batch twin's row set (bounded input + availableNow drain, and no
    row is near the watermark horizon in the fixture)."""
    batch = REG["view_click_within_30m"].fn(spark, SF)
    streamed = REG["streaming_view_click_join"].fn(spark, SF)
    assert _norm(batch) == _norm(streamed)
    assert batch.count() > 0  # non-vacuous


def test_stateful_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState state must RECOVER from the checkpoint across
    separate query starts: after a restart the per-user EWMA continues the
    fold (n_obs accumulates, ewma equals the full-sequence fold) instead of
    re-seeding — the R3/R7 operator's fault-tolerance contract."""
    import datetime as dt

    from enterprise_data_warehouse_spark.streaming.stateful import stateful_ewma

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, ts timestamp, value double"

    def arrive(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def drain():
        q = (
            stateful_ewma(read_file_stream(spark, src, schema))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = dt.datetime(2024, 1, 1, 10, 0)
    vals1 = [10.0, 20.0]
    vals2 = [30.0, 40.0]
    arrive([(1, t + dt.timedelta(minutes=i), v) for i, v in enumerate(vals1)])
    drain()
    arrive(
        [(1, t + dt.timedelta(minutes=10 + i), v) for i, v in enumerate(vals2)]
    )
    drain()  # NEW query object, same checkpoint → state must be recovered

    rows = spark.read.parquet(out).orderBy("n_obs").collect()
    assert [r["n_obs"] for r in rows] == [2, 4]
    # full-sequence fold: seed 10, then ewma += 0.1*(v-ewma)
    ewma = vals1[0]
    for v in vals1[1:] + vals2:
        ewma += 0.1 * (v - ewma)
    assert abs(rows[-1]["ewma"] - ewma) < 1e-12, (
        "restart re-seeded the state instead of recovering it"
    )


def test_stream_corpus_ingest_equals_batch(spark):
    batch = REG["corpus_ingest_stats"].fn(spark, SF)
    streamed = REG["streaming_corpus_ingest"].fn(spark, SF)
    assert _norm(batch) == _norm(streamed)
