"""Determinism-hardened aggregates.

Problem: ``SUM(double)`` is order-dependent — Spark's partial aggregation
order varies run-to-run and differs from any single-threaded oracle, so a
value-hash comparison against DuckDB fails in the last ULP.

Fix: route every floating SUM/AVG/STDDEV through exact ``DECIMAL(38,10)``
arithmetic (associative and commutative, so partition order is irrelevant),
then cast the final result back to double. A decimal boundary at scale 10
(…5e-11) is not representable in binary floating point, so double→decimal
rounding is also engine-independent. The SQL mirror of each helper (used in
oracle_sql) is documented per function.

The sums themselves go through ``dec_sum``, which returns exactly
``SUM(CAST(x AS DECIMAL(38,10)))`` from bigint limbs. Measured on the
300k-row star fixture (4 cores, C1 JIT, 5 runs each), five grouped sums
cost 0.41–0.46 JVM CPU-s as doubles, 2.9–3.6 as plain decimal sums (about
7×: a per-row ``BigDecimal`` cast plus a 38-digit buffer) and 1.6–2.1
through ``dec_sum``. In exchange each ``dec_sum`` adds about 0.07 s per
query to build, analyse and plan, whatever the row count, so a plain
decimal SUM stays cheaper for an aggregate over a few thousand rows. Both
are one-pass, map-side-combinable aggregates, so the shuffle shape is
identical at 100 TB.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


OUT_SCALE = 4  # final round scale before the double conversion.
# CONVERSION IS SPLIT, NOT DIRECT: a direct CAST(decimal(.., 4) AS DOUBLE)
# is engine-DEPENDENT once the unscaled value exceeds 2^53 — DuckDB
# converts hugeint→double→÷10^scale (two roundings) while Spark's
# BigDecimal.doubleValue single-rounds. Measured: 901/4000 adversarial
# sums in the >2^53 regime convert to different doubles (and this is what
# made corr_quantity_price diverge in the last ULP at sf1, r06). The fix
# converts the integer part and the fraction part separately:
#   i = FLOOR(r)   — decimal scale 0; scale-0→double is a SINGLE correctly
#                    rounded conversion in both engines (0/4000 mismatches
#                    measured up to 10^28)
#   f = r − i      — exact decimal in [0, 1), unscaled ≤ 9999 < 2^53, so
#                    its conversion is exact, and f/10^4 is one correctly
#                    rounded division in both engines
#   double(r) := double(i) + double(f)   — IEEE add, identical everywhere.
# The result can differ from the true single-rounded value of r by 1 ULP,
# but it differs IDENTICALLY in both engines — which is the actual
# contract the value-hash gate needs.


def dec2dbl_s(c: Column, scale: int) -> Column:
    """decimal → double at an explicit round scale, engine-independent at
    ANY magnitude (split integer/fraction conversion — see OUT_SCALE
    note). SQL mirror: ``sql_split_dbl(f"ROUND({expr}, {scale})")``."""
    r = F.round(c, scale)
    # pmod(r, 1) is r − floor(r) for a decimal, with r written once
    return F.floor(r).cast("double") + F.pmod(r, F.lit(1)).cast("double")


def dec2dbl(c: Column) -> Column:
    """decimal → double, engine-independent at ANY magnitude (split
    integer/fraction conversion — see OUT_SCALE note)."""
    return dec2dbl_s(c, OUT_SCALE)


# dec_sum capacity, as a weight per row: 1 + |x|·2^-53 for a finite x,
# and infinite from |x| = 2^63 on, where x no longer fits a bigint. A row
# adds at most (10^10 + 2)·(1 + |x|·2^-53) to Σr, so while a group's weight
# stays under CAPACITY no bigint sum can wrap, also in a partial aggregate:
# |Σr| < (10^10 + 2)·CAPACITY < 2^63, the low limb of Σh stays under
# 2^32·CAPACITY, and |Σh| < 2^53·CAPACITY < 10^25. The weight is summed as
# a double; its rounding error (under 10^-7 of the sum for 10^9 rows) is
# inside the margin CAPACITY keeps below (2^63 − 1) / (10^10 + 2) =
# 922,337,203.
CAPACITY = 9.2e8
_FAST_LIMIT = 2.0**19  # from here on ½ ulp(x) is ½ or more in units of 1e-10
_HALF_ULP = 2.0**-53 * 1e10  # ½ ulp(x) ≤ min(|x|, 2^18)·2^-53, in units of 1e-10
# ≥ the 2^-20 rounding error of t, with room for the rounding of the test
_SLACK = 2e-6


def _jvm_functions():
    """``org.apache.spark.sql.functions`` in the active SparkContext's JVM
    (see dec_sum for why not PySpark's wrappers)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("dec_sum needs an active SparkContext")
    return getattr(sc._jvm, "org.apache.spark.sql.functions")


def _split(f, c):
    """(fast, h, r, w) as JVM Columns for a JVM Column ``c``: the
    DECIMAL(38,10) cast of ``c`` is exactly ``h + r·1e-10``, ``fast`` is
    true where ``r`` needed no decimal cast, and ``w`` is the row's
    capacity weight (see dec_sum)."""
    x = c.cast("double")
    ax = f.abs(x)
    t = x.mod(1.0).multiply(1e10)
    # distance from t to the nearest half-integer; t % 1 is exact
    gap = f.abs(f.abs(t.mod(1.0)).minus(0.5))
    # least() takes varargs, which py4j cannot pass, so PySpark builds it
    margin = F.least(Column(ax), F.lit(2.0**18))._jc.multiply(_HALF_ULP).plus(_SLACK)
    fast = f.when(ax.lt(_FAST_LIMIT), gap.gt(margin))  # NULL, so false, from 2^19 on
    h = x.try_cast("bigint")  # x truncated; NULL for NaN and ±Inf
    rd = c.cast("decimal(29,10)").minus(h).multiply(f.lit(Decimal(10**10))).cast("bigint")
    w = f.when(ax.lt(2.0**63), ax.multiply(2.0**-53).plus(1.0))
    w = w.when(ax.lt(float("inf")), float("inf"))  # NULL for NaN and ±Inf
    return fast, h, f.when(fast, f.floor(t.plus(0.5))).otherwise(rd), w


def dec_sum(col: Column | str) -> Column:
    """``SUM(CAST(x AS DECIMAL(38,10)))``, the same type and the same value,
    with an aggregation buffer of three bigint sums and a double instead of
    a 38-digit decimal and, for most rows, no per-row BigDecimal.

    Each row is split into ``h``, x truncated toward zero, and a fraction
    ``r`` in units of 1e-10, so that the row's cast is exactly
    ``h + r·1e-10``. The group sums Σr, and Σh as a limb of its low 32 bits
    plus a limb of the bits above, are bigints, and the result is
    ``Σh + Σr·1e-10`` as ``DECIMAL(38,10)``, NULL when no row contributed.
    ``r`` comes from the fast path or, for the other rows (near-ties,
    |x| ≥ 2^19, NaN, ±Inf and nulls), is ``(d − h)·1e10``, where ``d`` is
    the real cast. That cast goes to ``decimal(29,10)``: with
    ``decimal(38,10) - h`` Spark's precision-loss rule silently drops the
    last digit. NaN and ±Inf cast to NULL and add nothing, as in the plain
    SUM.

    **Fast path.** With ``t = (x % 1)·1e10``, ``r = floor(t + 0.5)`` where
    ``|x| < 2^19`` and the distance from ``t`` to the nearest half-integer
    exceeds ``min(|x|, 2^18)·2^-53·1e10 + 2e-6``. Why it is exact:

    - Spark's cast rounds R = ``Double.toString(x)`` HALF_UP to 10 places.
      R parses back to x, so |R − x| ≤ ½ ulp(x): at most |x|·2^-53 below
      2^18, and exactly 2^-35 = 2^18·2^-53 on [2^18, 2^19). Nothing else
      about ``toString`` is used, so the JDK's choice among the decimals
      that parse back to x does not matter. (Float inputs and integers
      below 2^19 convert to double exactly; a decimal input's double is its
      correctly rounded value, so the bound holds with R the decimal
      itself.)
    - ``x % 1`` is exactly x − h. ``t`` adds at most ½ ulp(2^34) = 2^-20
      ≈ 9.5e-7 of rounding, in units of 1e-10.
    - So (R − h)·1e10 is within the margin of ``t``. When no half-integer
      lies within the margin of ``t``, (R − h)·1e10 and ``t`` round to the
      same nearest integer ``r``, with no tie to break, and the cast is
      exactly ``h + r·1e-10``.

    From 2^19 on, ½ ulp(x) is ½ or more in units of 1e-10, so no margin
    works there. A value with few decimal places has ``t`` next to an
    integer: below 2^18 it always takes the fast path, and on
    [2^18, 2^19) about 70% of such values do.

    **Capacity.** A finite row with |x| < 2^63 (9.2e18) weighs
    1 + |x|·2^-53, so about 1, and a group may weigh up to ``CAPACITY``
    (9.2e8): about 920M rows, with a Σ|x| of up to 8.3e24. A larger row or
    a heavier group raises, with ANSI on or off, so a wrapped bigint is
    never returned. The plain decimal SUM reaches 10^28 and has no row
    limit.

    **Built through the JVM Column API.** Each PySpark Column call also
    records its Python call site, so building one dec_sum through PySpark's
    wrappers took about 60 ms and 509 py4j round trips, against about 22 ms
    and 82 this way (a plain decimal SUM: 3 ms, 14). In one JVM on the
    300k-row star fixture (10 interleaved runs each), ``pricing_summary``
    (seven exact sums) took 1.86 s with plain decimal sums, 1.74 s with
    dec_sum built through PySpark and 1.51 s built this way. Errors from the expression carry no
    Python call site; the capacity error names dec_sum. Like the rest of
    the engine, this needs classic (not Connect) PySpark.
    """
    f = _jvm_functions()
    _, h, r, w = _split(f, f.col(col) if isinstance(col, str) else col._jc)
    lo = f.sum(h.bitwiseAND(0xFFFFFFFF)).cast("decimal(19,0)")
    hi = f.sum(f.shiftright(h, 32)).cast("decimal(19,0)")
    whole = hi.multiply(f.lit(Decimal(2**32))).plus(lo).cast("decimal(26,0)")
    total = whole.plus(f.sum(r).cast("decimal(19,0)").multiply(f.lit(Decimal("1E-10"))))
    capacity = f.raise_error(f.lit("dec_sum: group exceeds the exact-sum capacity"))
    return Column(f.when(f.sum(w).gt(CAPACITY), capacity).otherwise(total.cast(DEC)))


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Exact sum of a double column, returned as double.

    SQL mirror: ``sql_dsum(x)`` — the SPLIT conversion of
    ``ROUND(SUM(CAST(x AS DECIMAL(38,10))), 4)``; never hand-roll a
    direct ``CAST(... AS DOUBLE)``, it is engine-dependent above 2^53
    unscaled (see OUT_SCALE note).
    """
    out = dec2dbl(dec_sum(col))
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum / count, divided as double.

    SQL mirror: ``sql_davg(x)`` = ``sql_dsum(x) / COUNT(x)`` (split
    conversion — see dsum).
    """
    c = F.col(col) if isinstance(col, str) else col
    out = dec2dbl(dec_sum(c)) / F.count(c)
    return out.alias(alias) if alias else out


def dvar_samp(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent sample variance from exact moments.

    var = (Σx² − (Σx)²/n) / (n−1), with Σ in decimal, the rest IEEE double
    (deterministic in any engine).

    SQL mirror: ``sql_dvar_samp(x)`` — built from ``sql_dsum`` (split
    conversion — see dsum), shape
    ``(dsum(x·x) − dsum(x)·dsum(x)/COUNT(x)) / (COUNT(x) − 1)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    s1 = dec2dbl(dec_sum(c))
    s2 = dec2dbl(dec_sum(c * c))
    n = F.count(c)
    out = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return out.alias(alias) if alias else out


def dstd_samp(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent sample stddev (sqrt is IEEE-correctly-rounded).

    SQL mirror: ``SQRT(<dvar_samp mirror>)``.
    """
    out = F.sqrt(dvar_samp(col))
    return out.alias(alias) if alias else out


def dzscore_parts(col: Column | str) -> tuple[Column, Column]:
    """(mean, std) pair for window-based z-scores, both order-independent."""
    return davg(col), dstd_samp(col)


# --- SQL-text builders for oracle mirrors -------------------------------

def sql_split_dbl(expr: str) -> str:
    """SQL mirror of dec2dbl's split conversion for a decimal expression
    already rounded to OUT_SCALE."""
    return (f"(CAST(FLOOR({expr}) AS DOUBLE)"
            f" + CAST({expr} - FLOOR({expr}) AS DOUBLE))")


def sql_dsum(x: str) -> str:
    return sql_split_dbl(f"ROUND(SUM(CAST(({x}) AS DECIMAL(38,10))), 4)")


def sql_davg(x: str) -> str:
    return f"({sql_dsum(x)} / COUNT({x}))"


def sql_dvar_samp(x: str) -> str:
    s1 = sql_dsum(x)
    s2 = sql_dsum(f"({x})*({x})")
    return f"(({s2} - {s1} * {s1} / COUNT({x})) / (COUNT({x}) - 1))"


def sql_dstd_samp(x: str) -> str:
    return f"SQRT({sql_dvar_samp(x)})"
