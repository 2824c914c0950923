"""Structured Streaming re-expression of the reference's "real-time" surface
(SURVEY.md §2.9 R1–R6).

The reference has no true stream processing — its real-time layer is
incremental micro-batch MERGE (dbt) plus periodic monitoring loops. Here:

- R1/R6: file-source stream + watermark + foreachBatch MERGE.
  Trigger.AvailableNow reproduces batch-incremental exactly: each run
  drains new files, merges on the unique key (idempotent last-write-wins —
  the reference's late-data story), then stops.
- R4: tumbling/sliding window aggregations over event time.
- R5: session_window sessionization (the reference consumes pre-computed
  sessions; we derive them from raw events).

At scale: the file source tracks processed files in the checkpoint; MERGE
inside foreachBatch is the Delta pattern verbatim (merge_upsert is the
parquet fallback). State stores are keyed by (window/session, entity) —
watermarks bound their size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.deterministic import dec2dbl_s
from ..sources.sink import merge_upsert


def read_file_stream(
    spark: SparkSession, path: str, schema: str, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream: schema-pinned (required), one-file-at-a-time
    ordering is not assumed anywhere downstream."""
    return spark.readStream.schema(schema).format(fmt).load(path)


def stream_incremental_merge(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint: str,
    retain_versions: int | None = 2,
) -> StreamingQuery:
    """R1+R6: watermarked micro-batch MERGE into the target — the dbt
    incremental materialization as a stream. Late rows re-merge on the key
    (last-write-wins), matching the reference's idempotent-upsert semantics.

    ``retain_versions`` defaults to 2: every micro-batch commits a full
    immutable version, so an unbounded stream would otherwise accumulate
    one table copy PER BATCH (storage ∝ batches × table size) and pay
    O(versions) marker reads per merge. Keeping 2 preserves the previous
    version for in-flight readers (plus the vacuum supersede-grace window);
    pass None to keep full history, or higher N for longer time travel.
    """
    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_upsert(
            batch.sparkSession,
            target_path,
            batch,
            keys,
            retain_versions=retain_versions,
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def tumbling_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """R4: tumbling event-time aggregation with late-data watermark."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window_len), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # not dec_sum: the state store keeps this buffer, and a new
            # buffer shape would not restore from an existing checkpoint
            dec2dbl_s(F.sum(F.col("value").cast("decimal(38,10)")), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """R4: sliding window variant — each event lands in len/slide windows."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window_len, slide), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_metrics(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """R5: session_window sessionization — session ends after `gap` of
    inactivity; emits per-session metrics (duration, events, value, bounce).
    Works identically on batch and streaming inputs (state-store-backed when
    streaming)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            # not dec_sum: a checkpointed state buffer (see tumbling_counts)
            dec2dbl_s(F.sum(F.col("value").cast("decimal(38,10)")), 4).alias("session_value"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            (
                F.unix_timestamp("last_event") - F.unix_timestamp("first_event")
            ).alias("active_seconds"),
            "n_events",
            "session_value",
            (F.col("n_events") == 1).alias("is_bounce"),
        )
    )


def run_stream_to_memory(
    spark: SparkSession, df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a (bounded) stream into an in-memory table and return it —
    availableNow trigger, so this terminates once current data is consumed."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
