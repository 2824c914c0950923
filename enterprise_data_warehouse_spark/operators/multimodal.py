"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata (driver-mandated extension; BASELINE.json north star).

The reference has no media pipeline (SURVEY.md §1.1 — warehouse types only),
so this layer is designed Spark-first for a 100 TB training-data pipeline:

- media payloads are **opaque binary columns** + a typed metadata struct;
  Parquet stores them page-compressed and Spark never materializes a payload
  until a UDF touches the row (column pruning keeps metadata-only queries
  payload-free — verify with ``ReadSchema`` in ``.explain``);
- plan-level operators (frame sampling, audio chunking) are **pure JVM
  explode/sequence** — no Python in the hot path, whole-stage codegen'd;
- decode / feature-extraction crosses the Arrow boundary ONCE per batch via
  ``mapInPandas``; the pixel decode itself is a deterministic fake
  (``_fake_pixel_stats``) so the batch shape, schema, and partitioning are
  real and value-verified against the oracle.

Deploy-time decode hook: the ``_fake_pixel_stats(bytes(p))`` call inside
``image_feature_extract``'s ``extract`` is the one line a deployment replaces
with a real decoder (e.g. PIL) returning the same ``(mean, std)`` pair.

The test corpus has no binary column, so the manifest derives one
deterministically from ``documents.text`` (UTF-8 encode) — at production
scale this is the column a crawler would have written.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from ..sources.tables import load_table

FPS = 4  # deterministic synthetic frame rate for the video plan
CHUNK_S = 10  # audio chunk length in seconds


def media_type(doc_id: Column) -> Column:
    """Deterministic modality assignment for the synthetic corpus."""
    return (
        F.when(doc_id % 3 == 0, "image")
        .when(doc_id % 3 == 1, "audio")
        .otherwise("video")
    )


def media_manifest_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest with the *payload*: binary column + typed metadata.

    ``payload`` is real binary (``encode(text)``); width/height/duration/
    n_frames are arithmetic on doc_id so every engine derives identical
    metadata. Partitioning note: at 100 TB you'd write this
    ``partitionBy(media_type)`` so modality-specific pipelines prune."""
    d = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    return d.select(
        doc_id,
        media_type(doc_id).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.lit(64) + (doc_id % 16) * 32).cast("int").alias("width"),
            (F.lit(64) + (doc_id % 12) * 32).cast("int").alias("height"),
            (F.lit(1) + doc_id % 60).cast("double").alias("duration_s"),
            ((F.lit(1) + doc_id % 60) * FPS).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


MANIFEST_ORACLE = """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS payload_md5,
  CAST(64 + (doc_id % 16) * 32 AS INT) AS width,
  CAST(64 + (doc_id % 12) * 32 AS INT) AS height,
  CAST(1 + doc_id % 60 AS DOUBLE) AS duration_s
FROM documents
"""


@query("media_manifest", oracle=MANIFEST_ORACLE, bench=True)
def media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest projection: payload stays binary internally; the oracle-facing
    row carries size + md5 (engines render raw bytes differently, hashes
    identically — Spark md5(binary) == DuckDB md5(utf8 text))."""
    m = media_manifest_df(spark, sf_dir)
    return m.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_s").alias("duration_s"),
    )


FRAME_ORACLE = f"""
SELECT doc_id,
  unnest(range(0, CAST((1 + doc_id % 60) * {FPS} AS BIGINT), {FPS})) AS frame_idx,
  CAST(unnest(range(0, CAST((1 + doc_id % 60) * {FPS} AS BIGINT), {FPS})) AS DOUBLE)
    / {FPS} AS frame_ts_s
FROM documents WHERE doc_id % 3 = 2
"""


@query("video_frame_sample_plan", oracle=FRAME_ORACLE)
def video_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling *plan*: one row per sampled frame (every FPS-th frame
    = 1 frame/sec), pure sequence+explode — the decode stub joins this plan
    to payload batches. Explode is narrow (no shuffle): each input row fans
    out inside its partition, so the plan scales with video count."""
    m = media_manifest_df(spark, sf_dir).where(F.col("media_type") == "video")
    idx = F.explode(
        F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(FPS))
    ).alias("frame_idx")
    return m.select("doc_id", idx).select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (F.col("frame_idx").cast("double") / FPS).alias("frame_ts_s"),
    )


CHUNK_ORACLE = f"""
SELECT doc_id,
  unnest(range(0, CAST(ceil((1 + doc_id % 60) / {CHUNK_S}.0) AS BIGINT))) AS chunk_idx,
  CAST(unnest(range(0, CAST(ceil((1 + doc_id % 60) / {CHUNK_S}.0) AS BIGINT))) * {CHUNK_S} AS DOUBLE) AS chunk_start_s,
  LEAST(CAST(1 + doc_id % 60 AS DOUBLE),
        CAST((unnest(range(0, CAST(ceil((1 + doc_id % 60) / {CHUNK_S}.0) AS BIGINT))) + 1) * {CHUNK_S} AS DOUBLE)) AS chunk_end_s
FROM documents WHERE doc_id % 3 = 1
"""


@query("audio_chunk_plan", oracle=CHUNK_ORACLE)
def audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan: fixed 10 s windows over each clip's duration,
    last chunk clamped to the clip end. Same narrow explode shape as the
    frame plan."""
    m = media_manifest_df(spark, sf_dir).where(F.col("media_type") == "audio")
    n_chunks = F.ceil(F.col("meta.duration_s") / CHUNK_S).cast("bigint")
    row = m.select(
        "doc_id",
        F.col("meta.duration_s").alias("duration_s"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("chunk_idx"),
    )
    return row.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_S).cast("double").alias("chunk_start_s"),
        F.least(
            F.col("duration_s"), ((F.col("chunk_idx") + 1) * CHUNK_S).cast("double")
        ).alias("chunk_end_s"),
    )


# --- decode / feature-extraction stubs (Arrow boundary) ----------------------


def _fake_pixel_stats(payload: bytes) -> tuple[float, float]:
    """Deterministic stand-in for decoded-pixel statistics: byte-value mean
    and population std of the payload.

    Computed from EXACT integer moments (s1=Σb, s2=Σb²) and then combined
    with the same double-arithmetic shape the SQL oracle uses — for payloads
    under ~1 MB both moments are < 2^53, every intermediate is exactly
    representable, and the two engines produce bit-identical doubles, which
    is what lets the Arrow boundary be value-hash-verified."""
    import math

    n = len(payload)
    if n == 0:
        return 0.0, 0.0
    s1 = sum(payload)
    s2 = sum(b * b for b in payload)
    mean = s1 / n
    var = (float(s2) - float(s1) * float(s1) / n) / n
    # math.sqrt, NOT `** 0.5`: pow(x, 0.5) routes through libm pow, which
    # is allowed to (and measured to, 13/16667 sf1 docs) mis-round by one
    # ULP relative to IEEE sqrt — the hardware-correctly-rounded sqrt is
    # what every SQL engine's SQRT computes, so it is the portable one
    return float(mean), math.sqrt(max(var, 0.0))


IMAGE_FEATURE_ORACLE = """
WITH imgs AS (
  SELECT doc_id, text,
    CAST(64 + (doc_id % 16) * 32 AS INT) AS width,
    CAST(64 + (doc_id % 12) * 32 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 0
), chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM imgs
), moments AS (
  SELECT doc_id, COUNT(*) AS n,
         SUM(ord(ch)) AS s1, SUM(ord(ch) * ord(ch)) AS s2
  FROM chars GROUP BY doc_id
)
SELECT i.doc_id, i.width, i.height,
  CAST(m.s1 AS DOUBLE) / m.n AS mean_intensity,
  SQRT(GREATEST((CAST(m.s2 AS DOUBLE) - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n) / m.n, 0.0))
    AS std_intensity,
  CAST(i.width AS DOUBLE) / i.height AS aspect_ratio
FROM imgs i JOIN moments m ON m.doc_id = i.doc_id
"""


@query("image_feature_extract", oracle=IMAGE_FEATURE_ORACLE)
def image_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-style decode→feature batch: mapInPandas over (payload, meta) — one
    Arrow batch per ~10k rows, model/decoder initialized once per batch
    iterator (not per row).

    Oracle-paired: the deterministic byte-stat fake (``_fake_pixel_stats``,
    the stand-in for pixel statistics and the call a deployment replaces
    with a real decoder) is itself SQL-expressible, so the whole Arrow
    round-trip — schema, batching, column alignment — is value-verified
    against DuckDB, not just row-counted. The corpus is ASCII, so byte
    values equal character ordinals on the oracle side."""
    import pandas as pd

    m = media_manifest_df(spark, sf_dir).where(F.col("media_type") == "image")
    src = m.select(
        "doc_id",
        "payload",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [_fake_pixel_stats(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "mean_intensity": [s[0] for s in stats],
                    "std_intensity": [s[1] for s in stats],
                    "aspect_ratio": pdf["width"] / pdf["height"],
                }
            )
            yield out

    schema = (
        "doc_id bigint, width int, height int, mean_intensity double, "
        "std_intensity double, aspect_ratio double"
    )
    return src.mapInPandas(extract, schema)
