"""Scalar expression library (SURVEY.md §2.8 F1–F20).

Each helper re-expresses a scalar pattern the reference uses in dbt SQL or
pandas, as a JVM-side Column expression (no Python UDFs — everything stays
inside whole-stage codegen). The rest of F1–F20 (string cleansing, date
arithmetic, JSON props) is written inline in the query that uses it
(COVERAGE.md §2.8).

Reference citations (into /root/reference/):
  surrogate_key               macros/scd_type2_macro.sql:25-28 (md5 concat)
  safe_div                    models/marts/facts/fact_sales_daily.sql:86-95
  band (age_band / lifecycle) models/staging/staging_customers.sql:71-79,94-99
  net_revenue arithmetic      models/marts/facts/fact_sales_daily.sql:86
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- F13: multi-branch CASE bands ----------------------------------------

def band(col: Column | str, edges: list[float], labels: list[str]) -> Column:
    """Generic CASE banding: len(labels) == len(edges)+1."""
    c = _c(col)
    expr = F.when(c < F.lit(edges[0]), labels[0])
    for i in range(1, len(edges)):
        expr = expr.when(c < F.lit(edges[i]), labels[i])
    return expr.otherwise(labels[-1])


# --- F14/F15: guarded arithmetic -----------------------------------------

def safe_div(num: Column | str, den: Column | str, default: float = 0.0) -> Column:
    """CASE WHEN den > 0 THEN num/den ELSE default — guarded division."""
    n, d = _c(num), _c(den)
    return F.when(d > 0, n / d).otherwise(F.lit(default))


def net_revenue(price: Column | str, discount: Column | str, tax: Column | str) -> Column:
    """gross*(1-disc)*(1+tax) — the fact_sales derived-measure pattern.

    Pure per-row IEEE double arithmetic: deterministic across engines.
    """
    return _c(price) * (F.lit(1.0) - _c(discount)) * (F.lit(1.0) + _c(tax))


# --- F18: surrogate key ----------------------------------------------------

def surrogate_key(*cols: Column | str) -> Column:
    """md5 of '-'-joined, null-coalesced string casts — mirrors
    dbt_utils.generate_surrogate_key (reference macros/scd_type2_macro.sql:25-28).

    SQL mirror (Spark & DuckDB): md5(concat_ws('-', coalesce(cast(c as
    varchar), '_null_'), ...)).
    """
    parts = [F.coalesce(_c(c).cast("string"), F.lit("_null_")) for c in cols]
    return F.md5(F.concat_ws("-", *parts))


def change_hash(*cols: Column | str) -> Column:
    """Row-content hash for SCD2 change detection (same construction)."""
    return surrogate_key(*cols)
