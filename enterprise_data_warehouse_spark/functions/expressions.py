"""Scalar expression library (SURVEY.md §2.8 F1–F20).

Each helper re-expresses a scalar pattern the reference uses in dbt SQL or
pandas, as a JVM-side Column expression (no Python UDFs — everything stays
inside whole-stage codegen).

Reference citations (into /root/reference/):
  clean_string/upper/lower    models/staging/staging_customers.sql:15-31
  clean_phone                 models/staging/staging_customers.sql:17
  email_valid                 models/staging/staging_customers.sql:40
  surrogate_key               macros/scd_type2_macro.sql:25-28 (md5 concat)
  safe_div                    models/marts/facts/fact_sales_daily.sql:86-95
  age_band / lifecycle CASE   models/staging/staging_customers.sql:71-79,94-99
  datediff_years              models/staging/staging_customers.sql:60-67
  epoch_seconds_between       models/marts/facts/fact_sales_daily.sql:113-118
  net_revenue arithmetic      models/marts/facts/fact_sales_daily.sql:86
  json_prop                   ml_platform/core/ml_pipeline_framework.py:313,330
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- F1/F2/F3/F4: string cleansing ---------------------------------------

def clean_string(col: Column | str) -> Column:
    """trim + collapse inner whitespace (staging cleanse)."""
    return F.regexp_replace(F.trim(_c(col)), r"\s+", " ")


def clean_phone(col: Column | str) -> Column:
    """Strip everything but digits and + ( ) - ."""
    return F.regexp_replace(_c(col), r"[^0-9+()\-]", "")


EMAIL_RE = r"^[^@]+@[^@]+\.[^@]+$"


def email_valid(col: Column | str) -> Column:
    return _c(col).rlike(EMAIL_RE)


# --- F6/F7/F9/F10/F11: date & time ---------------------------------------

def datediff_years(end: Column | str, start: Column | str) -> Column:
    """Snowflake DATEDIFF('year', a, b) counts year-boundary crossings,
    not elapsed 365-day periods (SURVEY.md §7.4c)."""
    return F.year(_c(end)) - F.year(_c(start))


def epoch_seconds_between(end: Column | str, start: Column | str) -> Column:
    """extract(epoch from a - b) — data-age seconds."""
    return F.unix_timestamp(_c(end)) - F.unix_timestamp(_c(start))


# --- F13: multi-branch CASE bands ----------------------------------------

def band(col: Column | str, edges: list[float], labels: list[str]) -> Column:
    """Generic CASE banding: len(labels) == len(edges)+1."""
    c = _c(col)
    expr = F.when(c < F.lit(edges[0]), labels[0])
    for i in range(1, len(edges)):
        expr = expr.when(c < F.lit(edges[i]), labels[i])
    return expr.otherwise(labels[-1])


def price_tier(col: Column | str) -> Column:
    return band(col, [100.0, 500.0, 1000.0], ["BUDGET", "STANDARD", "PREMIUM", "LUXURY"])


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


# --- F19: JSON --------------------------------------------------------------

def json_prop(col: Column | str, path: str) -> Column:
    """get_json_object over the events.props payload.

    DuckDB mirror: json_extract_string(props, '$.k').
    """
    return F.get_json_object(_c(col), f"$.{path}")
