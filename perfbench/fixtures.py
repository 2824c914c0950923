"""Seeded synthetic fixture tables for the benchmark.

The benchmark must not read anything outside its checkout, so it makes its
own copy of the ten source tables (the schemas in FIXTURES.md) instead of
using a shared test-data directory. Shapes follow that data: uniform TPC-H-ish
keys and measures, an events stream over 30 days, a 30-word document corpus
with 5% near-duplicates (an earlier document plus the token ``dup``) and a few
exact duplicates, and 64-d unit embeddings around 10 labelled centres.

A fixture is generated once per scale into ``<data>/sf<scale>/`` and reused;
its row counts are checked before every use. Generation is fixed-seeded: the
workload seed never changes the tables, only what the workload does with them.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

_GEN_SEED = 42
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
_PART_WORDS = "large hot blue ring bolt green small steel red nut".split()
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def row_counts(sf: float) -> dict[str, int]:
    """Expected rows per table at scale ``sf`` (lineitem is data-dependent
    and recorded in the fixture manifest instead)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i, k in enumerate(lengths):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(k))))
    lang = rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centres = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n)
    v = centres[label] * 0.3 + rng.normal(0, 1, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``, deterministic for a given ``sf``."""
    rng = np.random.default_rng(_GEN_SEED)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    w = rng.choice(_PART_WORDS, (npart, 2))
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in w],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    odate = _EPOCH_1995 + rng.integers(0, _ORDER_DAYS, no) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * _DAY_US),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": np.round(np.minimum(rng.exponential(50, ne), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


_ROWS_PER_FILE = 150_000


def _write(table: pa.Table, dest: Path) -> None:
    """One single-row-group parquet file, like the shared test data, or a
    directory of files of at most ``_ROWS_PER_FILE`` rows for tables above
    that size, so that their scans split across cores."""
    if len(table) <= _ROWS_PER_FILE:
        pq.write_table(table, dest, row_group_size=len(table) or 1)
        return
    dest.mkdir()
    for i in range(0, len(table), _ROWS_PER_FILE):
        pq.write_table(
            table.slice(i, _ROWS_PER_FILE), dest / f"part-{i // _ROWS_PER_FILE:03d}.parquet"
        )


def ensure(data_root: Path, sf: float) -> Path:
    """Return the fixture directory for ``sf``, generating it if absent."""
    out = data_root / f"sf{sf:g}"
    manifest = out / "_manifest.json"
    if not manifest.exists():
        tmp = data_root / f"_tmp-sf{sf:g}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        counts = {}
        for name, table in generate(sf).items():
            _write(table, tmp / f"{name}.parquet")
            counts[name] = len(table)
        (tmp / "_manifest.json").write_text(json.dumps({"rows": counts}))
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    check(out, sf)
    return out


def parquet_rows(path: Path) -> int:
    files = [path] if path.is_file() else sorted(path.glob("*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def check(sf_dir: Path, sf: float) -> None:
    """Fail loudly if a fixture table is missing or has the wrong size."""
    recorded = json.loads((sf_dir / "_manifest.json").read_text())["rows"]
    expected = {**recorded, **row_counts(sf)}
    for name in TABLES:
        got = parquet_rows(sf_dir / f"{name}.parquet")
        if got != expected[name] or got != recorded[name]:
            raise RuntimeError(
                f"fixture {sf_dir.name}/{name}: {got} rows, "
                f"expected {expected[name]}"
            )
