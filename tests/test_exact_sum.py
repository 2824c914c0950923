"""``dec_sum`` must equal ``SUM(CAST(x AS DECIMAL(38,10)))`` exactly: the
same type and the same value on every input, with ANSI on or off, or raise
when a group is outside its capacity."""

from __future__ import annotations

import math
import random
from decimal import Decimal

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from enterprise_data_warehouse_spark.functions import deterministic as det
from enterprise_data_warehouse_spark.functions.deterministic import DEC, dec_sum

SCHEMA = StructType([StructField("g", LongType()), StructField("x", DoubleType())])
GROUPS = 7


def _adversarial(seed: int = 20261018, n: int = 3000) -> list[float | None]:
    rng = random.Random(seed)
    xs: list[float | None] = []
    for _ in range(n):  # magnitudes 1e-12 … 1e17, both signs
        xs.append(rng.choice((-1.0, 1.0)) * 10 ** rng.uniform(-12, 17))
    for _ in range(n // 3):  # near-ties (k + 0.5)·1e-10 ± 1e-17
        tie = (rng.randrange(10**10) + 0.5) * 1e-10
        xs += [s * (tie + off) for s in (-1.0, 1.0) for off in (0.0, 1e-17, -1e-17)]
    for _ in range(n // 3):  # exact decimal ties at the 11th place, |x| < 2^17 and above
        whole = rng.choice((rng.randrange(-(2**17), 2**17), rng.randrange(-(10**9), 10**9)))
        xs.append(float(f"{whole}.{rng.randrange(10**10):010d}5"))
    for _ in range(n // 3):  # short decimals below 2^20, the common case
        xs.append(rng.randrange(-(2**20) * 100, 2**20 * 100) / 100.0)
    for _ in range(n // 3):  # near-ties on [2^17, 2^20), where ½ ulp(x) nears the margin
        tie = rng.randrange(2**17, 2**20) + (rng.randrange(10**10) + 0.5) * 1e-10
        xs += [s * math.nextafter(tie, d) for s in (-1.0, 1.0) for d in (0.0, math.inf)]
    edges = [0.0, -0.0, 2.0**17, -(2.0**17), 2.0**18, -(2.0**18), 2.0**19, -(2.0**19)]
    edges += [2.0**31, -(2.0**31), 2.0**32, -(2.0**32)]
    edges += [math.nextafter(e, 0.0) for e in edges] + [math.nextafter(e, math.inf) for e in edges]
    edges += [2.0**58, -(2.0**58), 5e-324, -5e-324, 1e-11, 5e-11, -5e-11]
    xs += edges
    xs += [None, math.nan, math.inf, -math.inf] * 5
    return xs


@pytest.fixture(scope="module")
def adversarial(spark):
    xs = _adversarial()
    rows = [(i % GROUPS, x) for i, x in enumerate(xs)]
    rows += [(GROUPS, None)] * 3  # an all-null group
    rows += [(GROUPS + 1, math.nan), (GROUPS + 1, math.inf), (GROUPS + 1, None)]
    return spark.createDataFrame(rows, SCHEMA).repartition(5)


@pytest.fixture(params=["true", "false"], ids=["ansi", "no_ansi"])
def ansi(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _pairs(df, inputs: dict, by=("g",)):
    aggs = []
    for name, c in inputs.items():
        aggs += [F.sum(c.cast(DEC)).alias(f"{name}_ref"), dec_sum(c).alias(f"{name}_new")]
    out = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)
    for name in inputs:
        assert dict(out.dtypes)[f"{name}_new"] == DEC, out.dtypes
    return [(name, r[f"{name}_ref"], r[f"{name}_new"]) for r in out.collect() for name in inputs]


def test_dec_sum_equals_decimal_sum(adversarial, ansi):
    x = F.col("x")
    inputs = {
        "x": x,
        "neg": -x,
        "when": F.when(F.abs(x) < 1e6, x),  # a conditional input
        "sq": F.when(F.abs(x) < 7e8, x * x),  # the dvar_samp shape
        "dec": F.when(F.abs(x) < 1e12, x.cast("decimal(30,14)")),  # a decimal input
    }
    got = _pairs(adversarial, inputs)
    assert len(got) == (GROUPS + 2) * len(inputs)
    bad = [(n, ref, new) for n, ref, new in got if ref != new]
    assert not bad, bad[:5]
    # all-null and NaN/Inf-only groups stay NULL, as in the plain SUM
    nulls = _pairs(adversarial.where(F.col("g") >= GROUPS), {"x": x})
    assert [(ref, new) for _, ref, new in nulls] == [(None, None)] * 2


def test_dec_sum_empty_input(adversarial, ansi):
    got = _pairs(adversarial.where(F.lit(False)), {"x": F.col("x")}, by=())
    assert got == [("x", None, None)]
    # a when() that no row of a group satisfies leaves that group NULL
    got = _pairs(adversarial, {"w": F.when(F.col("g") == 0, F.col("x"))})
    assert sorted(new is None for _, _, new in got) == [False] + [True] * (GROUPS + 1)


def test_dec_sum_fast_path_reaches_both_sides(adversarial):
    """The comparison above is only meaningful if both the fast split and
    the fallback cast carry rows of the fixture, also on [2^18, 2^19),
    where the margin is widest."""
    fast = Column(det._split(det._jvm_functions(), F.col("x")._jc)[0]).cast("int")
    top = F.abs("x").between(2.0**18, 2.0**19)
    n_fast, n, top_fast, n_top = adversarial.agg(
        F.sum(fast), F.count("*"), F.sum(F.when(top, fast)), F.count(F.when(top, 1))
    ).first()
    assert min(n_fast, n - n_fast) >= 1000, (n_fast, n)
    assert min(top_fast, n_top - top_fast) >= 100, (top_fast, n_top)


def _raises(df, col, match="dec_sum"):
    with pytest.raises(Exception, match=match):
        df.groupBy("g").agg(dec_sum(col)).collect()


def test_dec_sum_capacity_raises(spark, ansi, monkeypatch):
    """A row beyond 2^63, or a group heavier than CAPACITY, raises; lighter
    groups stay exact."""
    # beyond 1e19 an ANSI session may hit the decimal cast's overflow first
    for big in (2.0**63, -(2.0**63), 1e19, 1e27):
        _raises(spark.createDataFrame([(0, 1.0), (0, big)], SCHEMA), "x",
                match="dec_sum|NUMERIC_VALUE_OUT_OF_RANGE")
    edge = math.nextafter(2.0**63, 0.0)
    ok = [(0, 2.0**59), (0, -(2.0**59)), (0, edge), (0, edge), (0, -edge), (0, 0.5)]
    row = (
        spark.createDataFrame(ok, SCHEMA)
        .groupBy("g")
        .agg(dec_sum("x").alias("s"), F.sum(F.col("x").cast(DEC)).alias("r"))
        .first()
    )
    assert row["s"] == row["r"] > 9e18
    # The real capacity (9.2e8) is too large to reach in a test, so it is
    # lowered: small values weigh about 1 each, so the guard bounds the row
    # count, and large ones weigh more.
    monkeypatch.setattr(det, "CAPACITY", 3.5)
    small = spark.createDataFrame([(0, 0.5)] * 3, SCHEMA)
    assert small.groupBy("g").agg(dec_sum("x").alias("s")).first()["s"] == Decimal("1.5")
    _raises(spark.createDataFrame([(0, 0.5)] * 4, SCHEMA), "x")
    _raises(spark.createDataFrame([(0, 3 * 2.0**53)], SCHEMA), "x")
