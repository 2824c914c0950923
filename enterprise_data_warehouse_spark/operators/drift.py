"""Drift & profiling statistics (SURVEY.md §2.4 A8/A9/A13–A18).

The reference computes these in pandas/scipy on collected data
(ml_monitoring_system.py, feature_store_manager.py); here every statistic is
a distributed aggregate built from decimal-exact moments, so results are
deterministic across engines AND across partition orders — the same property
that makes them safe under AQE re-planning at 100 TB.

p-values (scipy) are intentionally out of the SQL surface: the test
STATISTICS are native aggregates; scipy-based p-values live behind a pandas
UDF in the ML boundary (operators/mlboundary.py) where an oracle can't
check them anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import (
    davg,
    dec2dbl_s,
    dec_sum,
    dstd_samp,
    dsum,
    sql_davg,
    sql_dstd_samp,
    sql_dsum,
)
from ..queries import query
from ..sources.tables import load_table

REF_CUTOFF = "2024-01-15 00:00:00"  # events before → reference, after → current


# --- A8: descriptive statistics ------------------------------------------------

DESCRIBE_ORACLE = f"""
SELECT event_type,
  COUNT(*) AS n,
  {sql_davg("value")} AS mean_value,
  {sql_dstd_samp("value")} AS std_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  QUANTILE_CONT(value, 0.5) AS median_value,
  QUANTILE_CONT(value, 0.25) AS q25,
  QUANTILE_CONT(value, 0.75) AS q75
FROM events
GROUP BY event_type
"""


@query("feature_descriptive_stats", oracle=DESCRIBE_ORACLE)
def feature_descriptive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-feature profile (reference feature_store_manager.py:831-845).
    Exact interpolated percentiles here (oracle-checkable); at 100 TB the
    drop-in is percentile_approx with the same call shape."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        davg("value", "mean_value"),
        dstd_samp("value", "std_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.percentile("value", 0.5).alias("median_value"),
        F.percentile("value", 0.25).alias("q25"),
        F.percentile("value", 0.75).alias("q75"),
    )


# --- A9: categorical profile + entropy ------------------------------------------

PROFILE_ORACLE = """
WITH counts AS (
  SELECT lang, source, COUNT(*) AS cnt
  FROM documents GROUP BY lang, source
), tops AS (
  SELECT lang, source, cnt,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, source ASC) AS rn,
    SUM(cnt) OVER (PARTITION BY lang) AS total,
    COUNT(*) OVER (PARTITION BY lang) AS n_distinct_sources
  FROM counts
), entropy AS (
  SELECT lang,
    CAST(ROUND(-SUM(CAST((CAST(cnt AS DOUBLE)/CAST(total AS DOUBLE))
          * LN(CAST(cnt AS DOUBLE)/CAST(total AS DOUBLE)) / LN(2.0)
          AS DECIMAL(38,10))), 6) AS DOUBLE) AS source_entropy_bits
  FROM tops GROUP BY lang
)
SELECT t.lang, t.source AS top_source, t.cnt AS top_source_count,
       t.n_distinct_sources, CAST(t.total AS BIGINT) AS n_docs, e.source_entropy_bits
FROM tops t JOIN entropy e ON t.lang = e.lang
WHERE t.rn = 1
"""


@query("categorical_profile", oracle=PROFILE_ORACLE)
def categorical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: nunique / top-value / entropy per category (reference
    feature_store_manager.py:846-855). Entropy rounded to 6dp — ln() is the
    one libm call here and group counts are small."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang")
    tops = counts.select(
        "*",
        F.row_number().over(w.orderBy(F.desc("cnt"), F.asc("source"))).alias("rn"),
        F.sum("cnt").over(w).alias("total"),
        F.count("*").over(w).alias("n_distinct_sources"),
    )
    p = F.col("cnt").cast("double") / F.col("total").cast("double")
    # Per-term cast to decimal before the SUM: double addition is
    # order-dependent, and a last-ULP difference can flip the 6dp rounding.
    term = p * F.log(p) / F.log(F.lit(2.0))
    entropy = tops.groupBy("lang").agg(
        F.round(-dec_sum(term), 6).cast("double").alias("source_entropy_bits")
    )
    return (
        tops.where(F.col("rn") == 1)
        .join(entropy, "lang")
        .select(
            "lang",
            F.col("source").alias("top_source"),
            F.col("cnt").alias("top_source_count"),
            "n_distinct_sources",
            F.col("total").alias("n_docs"),
            "source_entropy_bits",
        )
    )


# --- A13: linear trend (regression slope) ----------------------------------------

SLOPE_ORACLE = f"""
WITH pts AS (
  SELECT user_id,
    CAST(DATEDIFF('second', TIMESTAMP '2024-01-01', ts) AS DOUBLE) / 86400.0 AS x,
    value AS y
  FROM events
)
SELECT user_id,
  (COUNT(*) * {sql_dsum("x*y")} - {sql_dsum("x")} * {sql_dsum("y")})
  / NULLIF(COUNT(*) * {sql_dsum("x*x")} - {sql_dsum("x")} * {sql_dsum("x")}, 0)
  AS value_trend_slope,
  COUNT(*) AS n_points
FROM pts
GROUP BY user_id
"""


@query("regr_slope_per_user", oracle=SLOPE_ORACLE)
def regr_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: np.polyfit(...,1) slope (reference ml_monitoring_system.py:500-507)
    as a grouped aggregate from exact moments — equivalent to regr_slope but
    engine-deterministic. x is measured in days: it keeps the decimal moment
    sums' unscaled values under 2^53, where decimal→double conversion is
    exact in every engine."""
    e = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-01 00:00:00").cast("timestamp")
    pts = e.select(
        "user_id",
        ((F.unix_timestamp("ts") - F.unix_timestamp(anchor)).cast("double") / 86400.0).alias("x"),
        F.col("value").alias("y"),
    )

    x, y = F.col("x"), F.col("y")
    n = F.count("*")
    num = n * dsum(x * y) - dsum(x) * dsum(y)
    den = n * dsum(x * x) - dsum(x) * dsum(x)
    return pts.groupBy("user_id").agg(
        (num / F.nullif(den, F.lit(0))).alias("value_trend_slope"),
        F.count("*").alias("n_points"),
    )


# --- A14: PSI (population stability index) ----------------------------------------

PSI_ORACLE = f"""
WITH binned AS (
  SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
         CASE WHEN ts < TIMESTAMP '{REF_CUTOFF}' THEN 'ref' ELSE 'cur' END AS slice
  FROM events
), counts AS (
  SELECT bin,
    SUM(CASE WHEN slice = 'ref' THEN 1 ELSE 0 END) AS ref_cnt,
    SUM(CASE WHEN slice = 'cur' THEN 1 ELSE 0 END) AS cur_cnt
  FROM binned GROUP BY bin
), props AS (
  SELECT bin,
    (CAST(ref_cnt AS DOUBLE) + 0.5) / (SUM(ref_cnt) OVER () + 0.5 * COUNT(*) OVER ()) AS p_ref,
    (CAST(cur_cnt AS DOUBLE) + 0.5) / (SUM(cur_cnt) OVER () + 0.5 * COUNT(*) OVER ()) AS p_cur
  FROM counts
)
SELECT (CAST(FLOOR(ROUND(SUM(CAST((p_cur - p_ref) * LN(p_cur / p_ref) AS DECIMAL(38,10))), 6)) AS DOUBLE) + CAST(ROUND(SUM(CAST((p_cur - p_ref) * LN(p_cur / p_ref) AS DECIMAL(38,10))), 6) - FLOOR(ROUND(SUM(CAST((p_cur - p_ref) * LN(p_cur / p_ref) AS DECIMAL(38,10))), 6)) AS DOUBLE)) AS psi,
       COUNT(*) AS n_bins
FROM props
"""


@query("psi_value_drift", oracle=PSI_ORACLE)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: PSI between a reference and current slice (reference
    ml_monitoring_system.py:288-310), Laplace-smoothed (+0.5/bin) exactly as
    the reference smooths empty bins. One groupBy over bins — a 100 TB input
    reduces to #bins rows before any window runs."""
    e = load_table(spark, sf_dir, "events")
    binned = e.select(
        F.floor(F.col("value") / 50.0).cast("bigint").alias("bin"),
        F.when(F.col("ts") < F.lit(REF_CUTOFF).cast("timestamp"), "ref")
        .otherwise("cur")
        .alias("slice"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("slice") == "ref", 1).otherwise(0)).alias("ref_cnt"),
        F.sum(F.when(F.col("slice") == "cur", 1).otherwise(0)).alias("cur_cnt"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    p_ref = (F.col("ref_cnt").cast("double") + 0.5) / (
        F.sum("ref_cnt").over(w) + 0.5 * F.count("*").over(w)
    )
    p_cur = (F.col("cur_cnt").cast("double") + 0.5) / (
        F.sum("cur_cnt").over(w) + 0.5 * F.count("*").over(w)
    )
    props = counts.select(p_ref.alias("p_ref"), p_cur.alias("p_cur"))
    psi_term = (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))
    return props.agg(
        dec2dbl_s(dec_sum(psi_term), 6).alias("psi"),
        F.count("*").alias("n_bins"),
    )


# --- A15: Kolmogorov–Smirnov statistic ----------------------------------------------

KS_ORACLE = f"""
WITH tagged AS (
  SELECT value,
    CASE WHEN ts < TIMESTAMP '{REF_CUTOFF}' THEN 1 ELSE 0 END AS is_ref,
    CASE WHEN ts < TIMESTAMP '{REF_CUTOFF}' THEN 0 ELSE 1 END AS is_cur
  FROM events
), cdf AS (
  SELECT value,
    SUM(is_ref) OVER (ORDER BY value) AS ref_le,
    SUM(is_cur) OVER (ORDER BY value) AS cur_le,
    SUM(is_ref) OVER () AS n_ref,
    SUM(is_cur) OVER () AS n_cur
  FROM tagged
)
SELECT MAX(ABS(CAST(ref_le AS DOUBLE)/n_ref - CAST(cur_le AS DOUBLE)/n_cur)) AS ks_stat
FROM cdf
"""


@query("ks_value_drift", oracle=KS_ORACLE)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: two-sample KS statistic (reference ml_monitoring_system.py:229-251)
    via running CDFs — the default RANGE window frame makes ties well-defined
    identically in both engines. Integer-ratio arithmetic only → exact.

    Scale note: the global ORDER BY value window is the scale bottleneck; at
    100 TB pre-bin values (like PSI) or sample — KS on a 1e6-row uniform
    sample has ±0.001 accuracy, plenty for drift gating.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(REF_CUTOFF).cast("timestamp")
    tagged = e.select(
        "value",
        F.when(F.col("ts") < cutoff, 1).otherwise(0).alias("is_ref"),
        F.when(F.col("ts") < cutoff, 0).otherwise(1).alias("is_cur"),
    )
    w = Window.orderBy("value").rangeBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cdf = tagged.select(
        F.sum("is_ref").over(w).alias("ref_le"),
        F.sum("is_cur").over(w).alias("cur_le"),
        F.sum("is_ref").over(wall).alias("n_ref"),
        F.sum("is_cur").over(wall).alias("n_cur"),
    )
    return cdf.agg(
        F.max(
            F.abs(
                F.col("ref_le").cast("double") / F.col("n_ref")
                - F.col("cur_le").cast("double") / F.col("n_cur")
            )
        ).alias("ks_stat")
    )


# --- A16: chi-square statistic ---------------------------------------------------

CHI2_ORACLE = f"""
WITH counts AS (
  SELECT event_type,
    SUM(CASE WHEN ts < TIMESTAMP '{REF_CUTOFF}' THEN 1 ELSE 0 END) AS ref_cnt,
    SUM(CASE WHEN ts >= TIMESTAMP '{REF_CUTOFF}' THEN 1 ELSE 0 END) AS cur_cnt
  FROM events GROUP BY event_type
), scaled AS (
  SELECT event_type,
    CAST(cur_cnt AS DOUBLE) AS observed,
    CAST(ref_cnt AS DOUBLE) * (SUM(cur_cnt) OVER () / CAST(SUM(ref_cnt) OVER () AS DOUBLE)) AS expected
  FROM counts
)
SELECT (CAST(FLOOR(ROUND(SUM(CAST((observed - expected) * (observed - expected) / expected
            AS DECIMAL(38,10))), 6)) AS DOUBLE) + CAST(ROUND(SUM(CAST((observed - expected) * (observed - expected) / expected
            AS DECIMAL(38,10))), 6) - FLOOR(ROUND(SUM(CAST((observed - expected) * (observed - expected) / expected
            AS DECIMAL(38,10))), 6)) AS DOUBLE)) AS chi2_stat,
       COUNT(*) - 1 AS dof
FROM scaled
"""


@query("chi2_category_drift", oracle=CHI2_ORACLE)
def chi2_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: χ² categorical drift statistic (reference
    ml_monitoring_system.py:253-282): expected = ref proportions scaled to
    the current total, exactly scipy.stats.chisquare's contract."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(REF_CUTOFF).cast("timestamp")
    counts = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("ref_cnt"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("cur_cnt"),
    )
    w = Window.partitionBy()
    observed = F.col("cur_cnt").cast("double")
    expected = F.col("ref_cnt").cast("double") * (
        F.sum("cur_cnt").over(w) / F.sum("ref_cnt").over(w).cast("double")
    )
    scaled = counts.select(observed.alias("observed"), expected.alias("expected"))
    term = (
        (F.col("observed") - F.col("expected"))
        * (F.col("observed") - F.col("expected"))
        / F.col("expected")
    )
    # decimal-route the cross-partition sum of double terms (order-independent)
    return scaled.agg(
        dec2dbl_s(dec_sum(term), 6).alias("chi2_stat"),
        (F.count("*") - 1).alias("dof"),
    )


# --- A17: median imputation ---------------------------------------------------------

IMPUTE_ORACLE = """
WITH masked AS (
  SELECT event_id, event_type,
         CASE WHEN value > 450 THEN NULL ELSE value END AS value_masked
  FROM events
), med AS (
  SELECT event_type, QUANTILE_CONT(value_masked, 0.5) AS type_median
  FROM masked GROUP BY event_type
)
SELECT event_id, m.event_type,
       COALESCE(value_masked, type_median) AS value_imputed,
       (value_masked IS NULL) AS was_imputed
FROM masked m JOIN med ON m.event_type = med.event_type
"""


@query("median_imputation", oracle=IMPUTE_ORACLE)
def median_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: median imputation (reference
    automated_training_pipeline.py:194-200) — group medians broadcast-joined
    back, COALESCE fill. (The >450 mask manufactures nulls; testdata has
    none.)"""
    e = load_table(spark, sf_dir, "events")
    masked = e.select(
        "event_id",
        "event_type",
        F.when(F.col("value") > 450, None).otherwise(F.col("value")).alias("value_masked"),
    )
    med = masked.groupBy("event_type").agg(
        F.percentile("value_masked", 0.5).alias("type_median")
    )
    return (
        masked.join(F.broadcast(med), "event_type")
        .select(
            "event_id",
            "event_type",
            F.coalesce("value_masked", "type_median").alias("value_imputed"),
            F.col("value_masked").isNull().alias("was_imputed"),
        )
    )


# --- A18: correlation from exact moments ----------------------------------------------

CORR_ORACLE = f"""
SELECT l_returnflag,
  (COUNT(*) * {sql_dsum("l_quantity * l_extendedprice")}
     - {sql_dsum("l_quantity")} * {sql_dsum("l_extendedprice")})
  / (SQRT(COUNT(*) * {sql_dsum("l_quantity * l_quantity")} - {sql_dsum("l_quantity")} * {sql_dsum("l_quantity")})
     * SQRT(COUNT(*) * {sql_dsum("l_extendedprice * l_extendedprice")} - {sql_dsum("l_extendedprice")} * {sql_dsum("l_extendedprice")}))
  AS qty_price_corr,
  COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


@query("corr_quantity_price", oracle=CORR_ORACLE)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: Pearson correlation (reference
    automated_training_pipeline.py:214) as deterministic grouped moments —
    same result as df.stat.corr but engine-exact and groupable."""
    li = load_table(spark, sf_dir, "lineitem")

    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    n = F.count("*")
    num = n * dsum(x * y) - dsum(x) * dsum(y)
    den = F.sqrt(n * dsum(x * x) - dsum(x) * dsum(x)) * F.sqrt(n * dsum(y * y) - dsum(y) * dsum(y))
    return li.groupBy("l_returnflag").agg(
        (num / den).alias("qty_price_corr"), F.count("*").alias("n")
    )


# --- A15 at scale: binned KS ---------------------------------------------------

KS_BIN_W = 10.0

KS_BINNED_ORACLE = f"""
WITH binned AS (
  SELECT CAST(floor(value / {KS_BIN_W}) AS BIGINT) AS bin,
    SUM(CASE WHEN ts < TIMESTAMP '{REF_CUTOFF}' THEN 1 ELSE 0 END) AS ref_cnt,
    SUM(CASE WHEN ts >= TIMESTAMP '{REF_CUTOFF}' THEN 1 ELSE 0 END) AS cur_cnt
  FROM events GROUP BY 1
), cdf AS (
  SELECT bin,
    SUM(ref_cnt) OVER (ORDER BY bin) AS ref_le,
    SUM(cur_cnt) OVER (ORDER BY bin) AS cur_le,
    SUM(ref_cnt) OVER () AS n_ref,
    SUM(cur_cnt) OVER () AS n_cur
  FROM binned
)
SELECT MAX(ABS(CAST(ref_le AS DOUBLE)/n_ref - CAST(cur_le AS DOUBLE)/n_cur)) AS ks_stat_binned,
       COUNT(*) AS n_bins
FROM cdf
"""


@query("ks_binned_drift", oracle=KS_BINNED_ORACLE, bench=True)
def ks_binned_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15, the 100 TB formulation: KS over BINNED CDFs. The raw-value KS
    (ks_value_drift) needs a global sort window — single-partition at any
    size. Here the heavy pass is one map-side-combinable groupBy(bin); the
    global cumulative window then runs over ~n_bins rows (dozens), which is
    free regardless of input size. The statistic is exact at bin resolution:
    |KS_binned − KS| ≤ max bin probability mass, tightened by narrowing
    KS_BIN_W — the sup over bin edges is a lower bound of the true sup."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(REF_CUTOFF).cast("timestamp")
    binned = (
        e.select(
            F.floor(F.col("value") / KS_BIN_W).cast("bigint").alias("bin"),
            F.when(F.col("ts") < cutoff, 1).otherwise(0).alias("is_ref"),
            F.when(F.col("ts") >= cutoff, 1).otherwise(0).alias("is_cur"),
        )
        .groupBy("bin")
        .agg(F.sum("is_ref").alias("ref_cnt"), F.sum("is_cur").alias("cur_cnt"))
    )
    w = Window.orderBy("bin").rangeBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cdf = binned.select(
        F.sum("ref_cnt").over(w).alias("ref_le"),
        F.sum("cur_cnt").over(w).alias("cur_le"),
        F.sum("ref_cnt").over(wall).alias("n_ref"),
        F.sum("cur_cnt").over(wall).alias("n_cur"),
    )
    return cdf.agg(
        F.max(
            F.abs(
                F.col("ref_le").cast("double") / F.col("n_ref")
                - F.col("cur_le").cast("double") / F.col("n_cur")
            )
        ).alias("ks_stat_binned"),
        F.count("*").alias("n_bins"),
    )


# --- A8 ext: higher moments (skewness / kurtosis), engine-exact ----------------

# Raw power sums in decimal (order-independent), then ONE identical IEEE
# double expression tree on both engines — no library skewness()/kurtosis()
# call, because Spark and DuckDB disagree on sample-adjustment formulas.
# pow(var, 1.5) is avoided (libm pow is not correctly rounded); sqrt is, so
# sd³ = sqrt(var)·var is bit-deterministic. Power sums round at scale 0:
# Σx⁴ magnitudes would overflow the 2^53 single-rounding guarantee at the
# default scale 4, and integer-rounded sums keep the decimal→double cast
# exact far beyond 100 TB row counts.


def _psum(x, power: int):
    c = F.col(x)
    prod = c
    for _ in range(power - 1):
        prod = prod * c
    return dec2dbl_s(dec_sum(prod), 0)


def _sql_psum(x: str, power: int) -> str:
    prod = "*".join([x] * power)
    return f"(CAST(FLOOR(ROUND(SUM(CAST(({prod}) AS DECIMAL(38,10))), 0)) AS DOUBLE) + CAST(ROUND(SUM(CAST(({prod}) AS DECIMAL(38,10))), 0) - FLOOR(ROUND(SUM(CAST(({prod}) AS DECIMAL(38,10))), 0)) AS DOUBLE))"


MOMENTS_ORACLE = f"""
WITH sums AS (
  SELECT event_type,
    COUNT(value) AS n,
    {_sql_psum('value', 1)} AS s1,
    {_sql_psum('value', 2)} AS s2,
    {_sql_psum('value', 3)} AS s3,
    {_sql_psum('value', 4)} AS s4
  FROM events GROUP BY event_type
), m AS (
  SELECT event_type, n,
    s1 / n AS m1, s2 / n AS m2, s3 / n AS m3, s4 / n AS m4
  FROM sums
), c AS (
  SELECT event_type, n, m1,
    m2 - m1 * m1 AS var_pop,
    m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1 AS mu3,
    m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1 AS mu4
  FROM m
)
SELECT event_type, n,
  m1 AS mean_value,
  var_pop,
  mu3 / (SQRT(var_pop) * var_pop) AS skewness_pop,
  mu4 / (var_pop * var_pop) - 3 AS kurtosis_excess
FROM c
"""


@query("feature_moments", oracle=MOMENTS_ORACLE)
def feature_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 ext: population skewness + excess kurtosis per feature slice
    (reference feature_store_manager.py:831-845 profiles skew/kurtosis via
    pandas). One map-side-combinable groupBy computes the four power sums;
    the moment algebra is a per-group scalar epilogue — the aggregation
    shape is identical at 100 TB (no second pass, no window)."""
    e = load_table(spark, sf_dir, "events")
    sums = e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        _psum("value", 1).alias("s1"),
        _psum("value", 2).alias("s2"),
        _psum("value", 3).alias("s3"),
        _psum("value", 4).alias("s4"),
    )
    n = F.col("n")
    m1, m2 = F.col("s1") / n, F.col("s2") / n
    m3, m4 = F.col("s3") / n, F.col("s4") / n
    var_pop = m2 - m1 * m1
    mu3 = m3 - F.lit(3) * m1 * m2 + F.lit(2) * m1 * m1 * m1
    mu4 = (
        m4
        - F.lit(4) * m1 * m3
        + F.lit(6) * m1 * m1 * m2
        - F.lit(3) * m1 * m1 * m1 * m1
    )
    return sums.select(
        "event_type",
        "n",
        m1.alias("mean_value"),
        var_pop.alias("var_pop"),
        (mu3 / (F.sqrt(var_pop) * var_pop)).alias("skewness_pop"),
        (mu4 / (var_pop * var_pop) - F.lit(3)).alias("kurtosis_excess"),
    )


# --- join-key skew profiler ----------------------------------------------------

SKEW_TOPK = 10

SKEW_ORACLE = f"""
WITH counts AS (
  SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY user_id
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
), ranked AS (
  SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS rk
  FROM counts
)
SELECT r.rk, r.key, CAST(r.cnt AS BIGINT) AS cnt,
  CAST(r.cnt AS DOUBLE) / t.total_rows AS share,
  CAST(r.cnt AS DOUBLE) * t.n_keys / t.total_rows AS skew_ratio
FROM ranked r CROSS JOIN tot t
WHERE r.rk <= {SKEW_TOPK}
"""


@query("key_skew_profile", oracle=SKEW_ORACLE)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the top-SKEW_TOPK heaviest keys of
    events.user_id with their row share and skew ratio (count ÷ the fair
    1/n_keys share). The pre-flight check a 100 TB join needs — a
    skew_ratio ≫ 1 key is the one that OOMs a sort-merge task, and its
    share tells you whether AQE skew-split handles it or the job wants the
    salting pattern (salted_event_rollup).

    Scale shape: one map-side-combined count per key, a one-row global
    rollup broadcast back (BNLJ against a single row, allowlisted), and a
    TakeOrderedAndProject top-k — no global sort of the key histogram."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    # orderBy+limit plans TakeOrderedAndProject (per-partition heaps); the
    # rank window then runs over ONLY the SKEW_TOPK surviving rows.
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(SKEW_TOPK)
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return (
        top.join(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w))
        .select(
            "rk",
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total_rows")).alias("share"),
            (
                F.col("cnt").cast("double")
                * F.col("n_keys")
                / F.col("total_rows")
            ).alias("skew_ratio"),
        )
    )


# --- robust outliers: median absolute deviation ------------------------------

MAD_K = 1.4826  # consistency constant: MAD * 1.4826 estimates sigma under
#                normality, so the 3.0 cut mirrors the z-score rule robustly
MAD_CUT = 3.0

MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, MEDIAN(value) AS type_median
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.type_median,
         ABS(e.value - m.type_median) AS abs_dev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, MEDIAN(abs_dev) AS type_mad FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type,
       ROUND(d.value, 4) AS value_r4,
       ROUND(d.type_median, 4) AS median_r4,
       ROUND(m.type_mad, 4) AS mad_r4,
       ROUND(ABS(d.value - d.type_median) / ({MAD_K} * m.type_mad), 4)
         AS robust_z_r4
FROM dev d JOIN mad m USING (event_type)
WHERE ABS(d.value - d.type_median) > {MAD_CUT} * {MAD_K} * m.type_mad
"""


@query("mad_outliers", oracle=MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    breakdown-resistant twin of A11's z-score rule (windows.py): mean/stddev
    move with the outliers they hunt; median/MAD (50% breakdown point) do
    not. Flags |value − median| > 3·1.4826·MAD per event_type.

    Shape: two grouped EXACT medians (percentile is a sort-based agg — the
    group count here is tiny and fixed; at 100 TB with high-cardinality
    groups swap approx_percentile, same plan otherwise), each broadcast
    back over the event scan — the big table is never shuffled, and the
    second median reuses the first join's projection. Outputs rounded to
    4dp for cross-engine hashing; the comparison predicate is pure double
    arithmetic identical in both engines."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("type_median")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "type_median",
        F.abs(F.col("value") - F.col("type_median")).alias("abs_dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("abs_dev", 0.5).alias("type_mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("abs_dev") > MAD_CUT * MAD_K * F.col("type_mad"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value_r4"),
            F.round("type_median", 4).alias("median_r4"),
            F.round("type_mad", 4).alias("mad_r4"),
            F.round(F.col("abs_dev") / (MAD_K * F.col("type_mad")), 4).alias(
                "robust_z_r4"
            ),
        )
    )


# --- exact interpolated percentiles (PERCENTILE_CONT family) ------------------

PCTL_ORACLE = """
SELECT o_orderpriority,
  COUNT(*) AS n_orders,
  quantile_cont(o_totalprice, 0.25) AS p25,
  quantile_cont(o_totalprice, 0.50) AS p50,
  quantile_cont(o_totalprice, 0.90) AS p90,
  quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY o_orderpriority
"""


@query("order_price_percentiles", oracle=PCTL_ORACLE)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (the ANSI
    PERCENTILE_CONT family): p25/p50/p90/p99 of order value by priority.
    Spark's `percentile` and DuckDB's `quantile_cont` share the
    sort-and-interpolate definition, so the doubles match bit-for-bit
    (verified — sorting is exact, interpolation is one IEEE lerp).

    Scale note: EXACT percentiles buffer each group's values (cost ∝ group
    size, a per-group sort inside ObjectHashAggregate) — correct here
    because priority groups are value-bounded, and the right tool whenever
    an SLA needs exact tail latencies per bounded key. For unbounded or
    skewed groups the engine's scale twin is `approx_percentile`
    (customer_rfm_scalable's approxQuantile banding) — sketch-mergeable,
    one pass, bounded memory."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.percentile("o_totalprice", 0.25).alias("p25"),
        F.percentile("o_totalprice", 0.50).alias("p50"),
        F.percentile("o_totalprice", 0.90).alias("p90"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )


# --- sequential EWMA fold (the stateful stream's oracle-paired twin) ----------

# Alpha and the update expression MUST mirror streaming/stateful.py's
# per-value fold (`ewma += 0.1 * (v - ewma)`) OPERATION FOR OPERATION:
# identical IEEE op sequence over the identical ts-order ⇒ bit-identical
# result across the SQL fold, the DuckDB oracle, and the streamed state —
# tests pin all three to each other.
EWMA_FOLD_ALPHA = "CAST(0.1 AS DOUBLE)"

EWMA_FOLD_ORACLE = f"""
WITH ordered AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(LEN(vals) AS BIGINT) AS n_obs,
       list_reduce(vals, (acc, x) -> acc + {EWMA_FOLD_ALPHA} * (x - acc))
         AS ewma
FROM ordered
"""


@query("ewma_fold_sql", oracle=EWMA_FOLD_ORACLE)
def ewma_fold_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA as a JVM-native sequential fold: events sort into a
    per-user array (ts, event_id tie-break) and one `aggregate` lambda
    walks it — the BATCH twin of the stateful streaming EWMA
    (streaming/stateful.py), here fully DuckDB-oracle-verified because the
    fold order is total and both engines execute the identical IEEE
    sequence (seed = first value, then acc + α·(x − acc)).

    Scale shape: one user_id exchange, arrays bounded by per-user event
    counts (monitoring entities, not the corpus); the fold itself is
    codegen'd — no Python. The chain
    oracle ⇒ this fold ⇒ streamed state (test-pinned equal) is what makes
    the streaming operator debuggable: any divergence bisects to either
    the state plumbing or the arithmetic."""
    e = load_table(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.col("value").cast("double").alias("value"),
            )
        )
    )
    grouped = e.groupBy("user_id").agg(arr.alias("arr"))
    vals = F.expr("transform(arr, a -> a.value)")
    fold = F.expr(
        f"""aggregate(slice(vals, 2, size(vals) - 1),
                      element_at(vals, 1),
                      (acc, x) -> acc + {EWMA_FOLD_ALPHA} * (x - acc))"""
    )
    return grouped.withColumn("vals", vals).select(
        "user_id",
        F.size("arr").cast("bigint").alias("n_obs"),
        fold.alias("ewma"),
    )
