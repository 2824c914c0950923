"""The benchmark's operations and their output checks.

A workload is a list of operations run closed-loop by one driver thread.
Each operation is called as ``op(bench, check)``: with ``check=True`` (the
untimed warm-up pass) it also verifies its output and returns the problems
found; with ``check=False`` it only does the timed work.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fixtures

def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash, with the normalisation the repo's
    oracle tests use (columns sorted by name, rows sorted)."""
    from tests.oracle_utils import _rows_to_sorted

    norm = _rows_to_sorted(rows, [c.lower() for c in cols])
    payload = repr((sorted(c.lower() for c in cols), norm))
    return hashlib.sha256(payload.encode()).hexdigest()


def oracle_hashes(sf_dir: Path, names: list[str]) -> dict[str, str]:
    """DuckDB oracle hash per query, computed once per fixture and cached
    beside it."""
    from enterprise_data_warehouse_spark.queries import load_registry

    cache = sf_dir / "_oracle.json"
    known = json.loads(cache.read_text()) if cache.exists() else {}
    todo = [n for n in names if n not in known]
    registry = load_registry() if todo else {}
    if todo:
        import duckdb

        con = duckdb.connect()
        for t in fixtures.TABLES:
            p = sf_dir / f"{t}.parquet"
            src = p / "*.parquet" if p.is_dir() else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        for n in todo:
            tbl = con.execute(registry[n].oracle).arrow()
            known[n] = result_hash(tbl.column_names, [tuple(d.values()) for d in tbl.to_pylist()])
        con.close()
        cache.write_text(json.dumps(known, indent=1, sort_keys=True))
    return known


class QueryOp:
    """One registry query forced through a noop sink."""

    kind = "query"

    def __init__(self, name: str, spec, expected: str):
        self.name, self.spec, self.expected = name, spec, expected
        self.lane = name

    def __call__(self, b, check: bool) -> list[str]:
        with b.tracer.span("operators.build"):
            df = self.spec.fn(b.spark, b.sf_dir)
        # also in the checked warm-up pass, so that the first timed pass is
        # not the first to compile the noop path
        with b.tracer.span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()
        if not check:
            return []
        got = result_hash(df.columns, [tuple(r) for r in df.collect()])
        return [] if got == self.expected else [f"{self.name}: hash {got}, oracle {self.expected}"]


class BuildModelsOp:
    """``Warehouse.build_models()`` with every model forced through a noop
    sink, models of a layer on one driver thread per core."""

    kind = "query"
    name = lane = "build_models"

    def __init__(self, threads: int):
        self.threads = threads

    def __call__(self, b, check: bool) -> list[str]:
        from enterprise_data_warehouse_spark.api import Warehouse

        def action(model: str, df) -> None:
            b.spark.sparkContext.setJobGroup(b.group, model)
            with b.tracer.span("plans.catalog.model"):
                df.write.format("noop").mode("overwrite").save()

        wh = Warehouse(b.spark, b.sf_dir)
        built = wh.build_models(threads=self.threads, action=action)
        if not check:
            return []
        missing = {m for level in wh.models().layers() for m in level} - set(built)
        return [f"build_models: not built: {sorted(missing)}"] if missing else []


def query_ops(names: list[str], models: bool, b, expected: dict[str, str]) -> list:
    ops = [QueryOp(n, b.registry[n], expected[n]) for n in names]
    if models:
        ops.append(BuildModelsOp(b.cpus))
    return ops


# --- ingest ---------------------------------------------------------------

_ORDER_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)
# A delta is 1% of the base table; 1/15 of its rows are new orders.
DELTA_SHARE, INSERT_SHARE, RECENT_SHARE, POINT_READS = 0.01, 1 / 15, 0.9, 50
_RECENT_US = 92 * 86_400_000_000  # "latest 3 months" of order dates


class Ingest:
    """Versioned-table writes beside reads. Table A is merged by the
    availableNow stream, table B is its month-partitioned twin. A pure-Python
    model of the seeded deltas gives the expected row count, price sum and
    point-read prices."""

    def __init__(self, b, seed: int):
        self.b = b
        self.rng = np.random.default_rng(seed)
        self.root = Path(b.work_dir) / "ingest"
        shutil.rmtree(self.root, ignore_errors=True)
        self.src = self.root / "deltas"
        self.src.mkdir(parents=True)
        self.a, self.b_path = str(self.root / "stream_target"), str(self.root / "month_twin")
        base = pq.read_table(Path(b.sf_dir) / "orders.parquet")
        self.cols = {c: base.column(c).to_numpy() for c in base.column_names}
        self.cents = np.round(self.cols["o_totalprice"] * 100).astype(np.int64)
        dates = self.cols["o_orderdate"].astype("datetime64[us]").astype(np.int64)
        self.recent = np.flatnonzero(dates >= dates.max() - _RECENT_US)
        self.delta_rows = round(len(self.cents) * DELTA_SHARE)
        self.round = 0
        self.delta_sizes: list[int] = []
        self.updated: np.ndarray = np.empty(0, np.int64)
        self.cache = None
        self.delta: Path | None = None
        self.seen: dict[str, int] = {}

    def setup(self) -> dict:
        """Base versions of both targets (untimed), as one function per lane
        of ``ops()``. The stream target is a plain commit of the orders
        table. The twin is made by a first partitioned merge into an empty
        root, so it is partition-mapped from the start: after a plain commit
        the first partitioned merge rewrites every partition, once."""
        from pyspark.sql import functions as F

        from enterprise_data_warehouse_spark.plans.result_cache import ResultCache
        from enterprise_data_warehouse_spark.sources.sink import merge_upsert_partitioned
        from enterprise_data_warehouse_spark.sources.tables import load_table
        from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

        spark = self.b.spark
        base = load_table(spark, self.b.sf_dir, "orders")
        self.cache = ResultCache(spark, str(self.root / "result_cache"))
        return {
            "stream": lambda: VersionedTable(spark, self.a).commit(base),
            "twin": lambda: merge_upsert_partitioned(
                spark, self.b_path,
                base.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM")),
                ["o_orderkey"], "o_month",
            ),
        }

    def write_delta(self) -> Path:
        """Next round's input, written before the round (untimed). Seeded
        delta: 90% of the updated keys from the latest 3 months, the rest
        uniform, plus new orders."""
        rng, n = self.rng, len(self.cents)
        inserts = round(self.delta_rows * INSERT_SHARE)
        updates = self.delta_rows - inserts
        n_recent = round(updates * RECENT_SHARE)
        recent = rng.choice(self.recent, n_recent, replace=False)
        rest = np.setdiff1d(np.arange(n), recent)
        upd = np.concatenate([recent, rng.choice(rest, updates - n_recent, replace=False)])
        new = np.arange(n, n + inserts)
        like = rng.choice(self.recent, inserts)
        for c, v in self.cols.items():
            self.cols[c] = np.concatenate([v, v[like]])
        self.cols["o_orderkey"][new] = new
        self.recent = np.concatenate([self.recent, new])
        keys = np.concatenate([upd, new])
        self.cents = np.concatenate([self.cents, np.zeros(inserts, np.int64)])
        self.cents[keys] = rng.integers(100_000, 50_000_000, len(keys))
        self.updated = upd
        table = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(self.cols["o_custkey"][keys], pa.int64()),
            "o_orderstatus": pa.array(self.cols["o_orderstatus"][keys]),
            "o_totalprice": pa.array(self.cents[keys] / 100.0),
            "o_orderdate": pa.array(
                self.cols["o_orderdate"][keys].astype("datetime64[us]"), pa.timestamp("us", "UTC")
            ),
            "o_orderpriority": pa.array(self.cols["o_orderpriority"][keys]),
        })
        path = self.src / f"delta-{self.round:05d}.parquet"
        pq.write_table(table, path)
        self.round += 1
        self.delta_sizes.append(path.stat().st_size)
        self.delta = path
        return path

    def ops(self) -> list:
        """One round, in order. Steps in different lanes touch different
        tables, so the warm-up pass may run the lanes side by side."""
        return [
            IngestStep("stream_merge", "merge", "stream", self.stream_merge),
            IngestStep("part_merge", "merge", "twin", self.part_merge),
            IngestStep("point_read", "read", "stream", self.point_read),
            IngestStep("agg_miss", "read", "stream", lambda check: self.aggregate(check, False)),
            IngestStep("agg_hit", "read", "stream", lambda check: self.aggregate(check, True)),
        ]

    def stream_merge(self, check: bool) -> list[str]:
        from enterprise_data_warehouse_spark.streaming.incremental import (
            read_file_stream, stream_incremental_merge,
        )

        with self.b.tracer.span("streaming.query"):
            q = stream_incremental_merge(
                read_file_stream(self.b.spark, str(self.src), _ORDER_SCHEMA),
                self.a, ["o_orderkey"], str(self.root / "checkpoint"), retain_versions=2,
            )
            q.awaitTermination()
        self.b.batches[self.b.n_ops] = sum(1 for p in q.recentProgress if p["numInputRows"])
        return [f"stream_merge: {q.exception()}"] if q.exception() else []

    def part_merge(self, check: bool) -> list[str]:
        from pyspark.sql import functions as F

        from enterprise_data_warehouse_spark.sources.sink import merge_upsert_partitioned

        delta = self.b.spark.read.schema(_ORDER_SCHEMA).parquet(str(self.delta))
        merge_upsert_partitioned(
            self.b.spark, self.b_path,
            delta.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM")),
            ["o_orderkey"], "o_month", retain_versions=2,
        )
        return self.check_table(self.b_path, "month twin") if check else []

    def point_read(self, check: bool) -> list[str]:
        from pyspark.sql import functions as F

        from enterprise_data_warehouse_spark.sources.sink import read_table

        keys = self.updated[:POINT_READS].tolist()
        rows = (
            read_table(self.b.spark, self.a)
            .where(F.col("o_orderkey").isin(keys))
            .select("o_orderkey", "o_totalprice").collect()
        )
        got = {r[0]: round(r[1] * 100) for r in rows}
        want = {k: int(self.cents[k]) for k in keys}
        return [] if got == want else [f"point_read: {len(got)} rows, prices differ from the model"]

    def _totals_df(self, path: str):
        from pyspark.sql import functions as F

        from enterprise_data_warehouse_spark.sources.sink import read_table

        return read_table(self.b.spark, path).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )

    def _expect_totals(self, row, what: str) -> list[str]:
        want = (len(self.cents), int(self.cents.sum()))
        got = (row[0], row[1])
        return [] if got == want else [f"{what}: (rows, cents) {got}, model {want}"]

    def aggregate(self, check: bool, expect_hit: bool) -> list[str]:
        from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

        version = VersionedTable(self.b.spark, self.a).current_version()
        out, hit = self.cache.get_or_build("order_totals", self._totals_df(self.a), {"orders": version})
        row = out.collect()[0]
        problems = self._expect_totals(row, "aggregate")
        if hit != expect_hit:
            problems.append(f"result cache: hit={hit}, expected {expect_hit}")
        return problems

    def check_table(self, path: str, what: str) -> list[str]:
        return self._expect_totals(self._totals_df(path).collect()[0], what)

    def storage(self) -> dict[str, float]:
        """Final vacuum with zero graces, then bytes on disk under both
        table roots against the bytes of their live versions."""
        from enterprise_data_warehouse_spark.sources.versioned import VersionedTable

        disk = live = versions = 0
        for path in (self.a, self.b_path):
            vt = VersionedTable(self.b.spark, path)
            vt.vacuum(keep=2, orphan_grace_ms=0, supersede_grace_ms=0)
            versions += len(vt.committed_versions())
            files = vt.read().inputFiles()
            live += sum(Path(urlparse(f).path).stat().st_size for f in files)
            disk += sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())
        return {"disk": disk, "live": live, "versions": versions}

    def track(self) -> tuple[int, int]:
        """Bytes and files written under the table roots since the last
        call. Superseded versions are not deleted within a run (the vacuum
        supersede grace is 60 s), so no written file is missed."""
        now = {
            str(p): p.stat().st_size
            for root in (self.a, self.b_path)
            for p in Path(root).rglob("*") if p.is_file()
        }
        fresh = [size for path, size in now.items() if self.seen.get(path) != size]
        self.seen.update(now)
        return sum(fresh), len(fresh)


class IngestStep:
    def __init__(self, name: str, kind: str, lane: str, fn):
        self.name, self.kind, self.lane, self.fn = name, kind, lane, fn

    def __call__(self, b, check: bool) -> list[str]:
        return self.fn(check)
