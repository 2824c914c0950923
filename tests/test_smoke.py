from __future__ import annotations

import pytest


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_net_revenue" in df.columns


def test_queries_and_oracles_aligned():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 3


def test_registry_import_failure_is_loud(monkeypatch):
    """A missing operator module must raise, not silently shrink the
    registry; the unpatched registry pins the full query set."""
    from enterprise_data_warehouse_spark import queries as q

    reg = q.load_registry()
    assert len(reg) == 215
    assert sum(1 for s in reg.values() if s.oracle) == 203
    for name in ("media_manifest", "video_frame_sample_plan",
                 "audio_chunk_plan", "image_feature_extract"):
        assert reg[name].oracle, name

    monkeypatch.setattr(
        q, "_OPERATOR_MODULES",
        ["enterprise_data_warehouse_spark.operators.no_such_module"],
    )
    with pytest.raises(ModuleNotFoundError):
        q.load_registry()
