"""Tests of the benchmark itself, on the sf0.001 fixture.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import fixtures, run, workloads  # noqa: E402

SF = 0.001


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory) -> Path:
    return fixtures.ensure(tmp_path_factory.mktemp("data"), SF)


@pytest.fixture(scope="module")
def spark():
    from enterprise_data_warehouse_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={
        "spark.master": "local[2]", "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
    s.stop()


def bench(spark, sf_dir: Path, work: Path) -> run.Bench:
    b = run.Bench(SF, sf_dir, trace=False)
    b.work_dir = work
    b.attach(spark)
    return b


def test_fixture_is_deterministic_and_checked(sf_dir, tmp_path):
    again = fixtures.ensure(tmp_path, SF)
    for t in fixtures.TABLES:
        assert fixtures.parquet_rows(again / f"{t}.parquet") == fixtures.parquet_rows(
            sf_dir / f"{t}.parquet"
        )
    (again / "orders.parquet").unlink()
    with pytest.raises(RuntimeError, match="orders"):
        fixtures.check(again, SF)


def test_status_store_profiles_pricing_summary(spark, sf_dir, tmp_path):
    import time

    b = bench(spark, sf_dir, tmp_path)
    b.reader.begin("perfbench-test-pricing", "pricing_summary")
    w0 = time.time()
    b.registry["pricing_summary"].fn(spark, str(sf_dir)).write.format("noop").mode(
        "overwrite"
    ).save()
    prof = b.reader.profile("perfbench-test-pricing", w0, time.time())
    assert prof["jobs"] > 0
    assert prof["tasks"] > 0
    assert prof["shuffle_write_bytes"] > 0
    assert prof["scan_rows"] >= fixtures.parquet_rows(sf_dir / "lineitem.parquet")
    assert 0 <= prof["driver_gap_s"] <= time.time() - w0


def test_wrong_expected_hash_is_a_failed_operation(spark, sf_dir, tmp_path):
    names = ["pricing_summary", "text_quality_scores"]
    expected = workloads.oracle_hashes(sf_dir, names)
    expected["pricing_summary"] = "0" * 64
    b = bench(spark, sf_dir, tmp_path)
    run.warm_up(b, workloads.query_ops(names, False, b, expected))
    assert (b.attempted, b.failed) == (2, 1)
    assert len(b.problems) == 1 and b.problems[0].startswith("pricing_summary")


def _ingest_storage(spark, sf_dir: Path, work: Path, seed: int) -> dict[str, float]:
    b = bench(spark, sf_dir, work)
    ingest = workloads.Ingest(b, seed)
    for make_base in ingest.setup().values():
        make_base()
    ingest.track()
    rounds = 2
    for _ in range(rounds):
        ingest.write_delta()
        for step in ingest.ops():
            assert step(b, True) == []
    return run.ingest_storage(ingest, rounds, ingest.track())


def test_ingest_storage_repeats_for_a_seed(spark, sf_dir, tmp_path):
    first = _ingest_storage(spark, sf_dir, tmp_path / "a", seed=7)
    second = _ingest_storage(spark, sf_dir, tmp_path / "b", seed=7)
    assert first == second
    assert first["write_amp"] > 1 and first["space_amp"] >= 1
