"""Multimodal plumbing: binary payload typing, column pruning of payloads,
narrow explode plans, and the deterministic feature-extraction batch."""

from __future__ import annotations

from pyspark.sql.types import BinaryType, StructType

from enterprise_data_warehouse_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.001"


def test_manifest_payload_is_binary_with_typed_meta(spark):
    df = mm.media_manifest_df(spark, SF)
    schema = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(schema["payload"], BinaryType)
    assert isinstance(schema["meta"], StructType)
    meta_fields = {f.name for f in schema["meta"].fields}
    assert meta_fields == {"width", "height", "duration_s", "n_frames"}


def test_frame_plan_prunes_payload_from_scan(spark):
    """The frame plan never touches payload bytes — the parquet ReadSchema
    must not include `text` (the payload source column)."""
    plan = mm.video_frame_sample_plan(spark, SF)
    formatted = plan._jdf.queryExecution().executedPlan().toString()
    read_schema = [line for line in formatted.splitlines() if "ReadSchema" in line]
    assert read_schema and not any("text" in line for line in read_schema), formatted


def test_frame_plan_is_narrow_no_shuffle(spark):
    plan = mm.video_frame_sample_plan(spark, SF)
    formatted = plan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in formatted, formatted


def test_frame_count_matches_metadata(spark):
    rows = mm.video_frame_sample_plan(spark, SF).groupBy("doc_id").count().collect()
    for r in rows:
        n_frames = (1 + r["doc_id"] % 60) * mm.FPS
        expected = (n_frames + mm.FPS - 1) // mm.FPS
        assert r["count"] == expected, r


def test_image_features_deterministic(spark):
    a = sorted(map(tuple, mm.image_feature_extract(spark, SF).collect()))
    b = sorted(map(tuple, mm.image_feature_extract(spark, SF).collect()))
    assert a == b
    assert len(a) > 0
    for row in a:
        assert 0.0 <= row[3] <= 255.0  # mean_intensity in byte range
