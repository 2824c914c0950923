"""Window-function operator layer (SURVEY.md §2.5 W1–W6, §2.6, A10/A11).

Window partitioning notes for 100 TB: every window here partitions by a
high-cardinality entity key (user_id/custkey), so state per partition stays
small and Spark distributes partitions across executors. The only global
window is the RFM ntile — acceptable for dimension-sized inputs (customers),
with an approxQuantile-based scale path documented on the function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.deterministic import DEC, davg, dec2dbl, dec_sum, dstd_samp, sql_davg, sql_dstd_samp, sql_dsum
from ..queries import query
from ..sources.tables import load_table


# --- W1: latest-wins dedup ---------------------------------------------------

LATEST_ORACLE = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_id, user_id, ts, event_type, value
FROM ranked WHERE rn = 1
"""


@query("latest_event_per_user", oracle=LATEST_ORACLE)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: row_number() latest-wins dedup — the SCD2 source-dedup idiom
    (reference macros/scd_type2_macro.sql:30-34). event_id breaks ts ties so
    the survivor is engine-independent."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


# --- W2: lag gap detection ---------------------------------------------------

GAP_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
  FROM events
)
SELECT user_id, event_id, ts, prev_ts,
       DATEDIFF('second', prev_ts, ts) AS gap_seconds
FROM seq
WHERE prev_ts IS NOT NULL AND DATEDIFF('second', prev_ts, ts) > 21600
"""


@query("session_gap_detection", oracle=GAP_ORACLE)
def session_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag() gap detection (reference macros/scd_type2_macro.sql:215-226
    uses it for SCD2 effective-date gaps; here: >6h inactivity gaps)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .where(F.col("prev_ts").isNotNull())
        .withColumn("gap_seconds", gap)
        .where(F.col("gap_seconds") > 21600)
        .select("user_id", "event_id", "ts", "prev_ts", "gap_seconds")
    )


# --- W3: frequency encoding ----------------------------------------------------

FREQ_ORACLE = """
SELECT event_id, user_id, event_type,
       COUNT(*) OVER (PARTITION BY user_id, event_type) AS user_type_frequency,
       COUNT(*) OVER (PARTITION BY user_id) AS user_frequency
FROM events
"""


@query("frequency_encoding", oracle=FREQ_ORACLE)
def frequency_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: groupby-transform('count') frequency encoding (reference
    feature_store_manager.py:336-338) as unbounded count windows."""
    e = load_table(spark, sf_dir, "events")
    w_ut = Window.partitionBy("user_id", "event_type")
    w_u = Window.partitionBy("user_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.count("*").over(w_ut).alias("user_type_frequency"),
        F.count("*").over(w_u).alias("user_frequency"),
    )


# --- W4: rolling time-range windows -------------------------------------------

ROLLING_ORACLE = f"""
SELECT event_id, user_id, ts,
  (CAST(FLOOR(ROUND(SUM(CAST(value AS DECIMAL(38,10))) OVER w, 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))) OVER w, 4) - FLOOR(ROUND(SUM(CAST(value AS DECIMAL(38,10))) OVER w, 4)) AS DOUBLE)) AS value_sum_1h,
  COUNT(*) OVER w AS events_1h,
  CAST(MAX(value) OVER w AS DOUBLE) AS value_max_1h
FROM events
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY DATEDIFF('second', TIMESTAMP '2024-01-01', ts)
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
"""


@query("rolling_1h_features", oracle=ROLLING_ORACLE)
def rolling_1h_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: rolling 1-hour per-entity features (reference window specs
    feature_store_manager.py:67-68). rangeBetween over epoch seconds — the
    batch expression of a sliding stream window; partitioned by user so state
    is bounded per entity at any scale."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        # dec_sum is several aggregates in one expression, so it cannot take .over(w)
        dec2dbl(F.sum(F.col("value").cast(DEC)).over(w)).alias("value_sum_1h"),
        F.count("*").over(w).alias("events_1h"),
        F.max("value").over(w).cast("double").alias("value_max_1h"),
    )


# --- A10/W5: RFM quintiles via ntile ------------------------------------------

RFM_ORACLE = f"""
WITH base AS (
  SELECT c_custkey,
    DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '2002-01-01') AS recency_days,
    COUNT(*) AS frequency,
    {sql_dsum("o_totalprice")} AS monetary
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey
), scored AS (
  SELECT *,
    NTILE(5) OVER (ORDER BY recency_days DESC, c_custkey) AS r_score,
    NTILE(5) OVER (ORDER BY frequency ASC, c_custkey) AS f_score,
    NTILE(5) OVER (ORDER BY monetary ASC, c_custkey) AS m_score
  FROM base
)
SELECT c_custkey, recency_days, frequency, monetary,
  CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
  CAST(m_score AS INT) AS m_score,
  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'CHAMPION'
       WHEN r_score >= 3 AND f_score >= 3 THEN 'LOYAL'
       WHEN r_score >= 3 THEN 'PROMISING'
       WHEN f_score >= 3 THEN 'AT_RISK'
       ELSE 'HIBERNATING' END AS rfm_segment
FROM scored
"""


@query("customer_rfm", oracle=RFM_ORACLE)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+W5+F13: RFM quintile scoring (reference
    feature_store_manager.py:209-239). ntile ties broken by custkey → exact
    pandas-rank(method='first') reproduction (SURVEY.md §7.4d).

    Scale path: a global ntile is a single-partition sort; for fact-sized
    inputs switch to approxQuantile breakpoints + banding (§7.4e). Customers
    are dimension-sized, so the exact quintile is the right default here.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    from ..functions.deterministic import dsum

    base = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.datediff(
                F.lit("2002-01-01").cast("date"), F.max("o_orderdate").cast("date")
            ).cast("bigint").alias("recency_days"),
            F.count("*").alias("frequency"),
            dsum("o_totalprice", "monetary"),
        )
    )
    r = F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.asc("c_custkey")))
    f_ = F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("c_custkey")))
    m = F.ntile(5).over(Window.orderBy(F.asc("monetary"), F.asc("c_custkey")))
    scored = base.select(
        "*", r.alias("r_score"), f_.alias("f_score"), m.alias("m_score")
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "CHAMPION")
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "LOYAL")
        .when(F.col("r_score") >= 3, "PROMISING")
        .when(F.col("f_score") >= 3, "AT_RISK")
        .otherwise("HIBERNATING")
    )
    return scored.withColumn("rfm_segment", seg)


# --- rank/dense_rank/lead/first_value (extension beyond reference) -------------

RANKING_ORACLE = """
WITH w AS (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
    DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
    LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey) AS next_order_date,
    FIRST_VALUE(o_totalprice) OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS max_order_price
  FROM orders
)
SELECT * FROM w WHERE price_rank <= 3
"""


@query("order_ranking", oracle=RANKING_ORACLE)
def order_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank/lead/first_value — absent from the reference (SURVEY.md
    §2.5 'absent' row) but part of a complete window surface."""
    o = load_table(spark, sf_dir, "orders")
    w_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w_date = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    w_full = w_price.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
            F.dense_rank().over(w_price).cast("bigint").alias("price_rank"),
            F.lead("o_orderdate").over(w_date).alias("next_order_date"),
            F.first("o_totalprice").over(w_full).alias("max_order_price"),
        )
        .where(F.col("price_rank") <= 3)
    )


# --- A11: z-score outliers ------------------------------------------------------

ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT event_type,
    {sql_davg("value")} AS mean_value,
    {sql_dstd_samp("value")} AS std_value
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       (value - mean_value) / std_value AS z_score
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS((value - mean_value) / std_value) > 2.5
"""


@query("value_zscore_outliers", oracle=ZSCORE_ORACLE)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: 3σ-style outlier detection (reference
    feature_store_manager.py:332,606-615). Group stats come from the
    deterministic-moment layer and broadcast-join back onto the rows — no
    per-row window state, scales to any fact size."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        davg("value", "mean_value"), dstd_samp("value", "std_value")
    )
    z = (F.col("value") - F.col("mean_value")) / F.col("std_value")
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z_score", z)
        .where(F.abs(F.col("z_score")) > 2.5)
        .select("event_id", "event_type", "value", "z_score")
    )


# --- A10 at scale: RFM via quantile breakpoints --------------------------------

RFM_SCALABLE_ORACLE = f"""
WITH base AS (
  SELECT c_custkey,
    DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '2002-01-01') AS recency_days,
    COUNT(*) AS frequency,
    {sql_dsum("o_totalprice")} AS monetary
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey
), brk AS (
  SELECT
    [QUANTILE_CONT(recency_days, 0.2), QUANTILE_CONT(recency_days, 0.4),
     QUANTILE_CONT(recency_days, 0.6), QUANTILE_CONT(recency_days, 0.8)] AS rb,
    [QUANTILE_CONT(frequency, 0.2), QUANTILE_CONT(frequency, 0.4),
     QUANTILE_CONT(frequency, 0.6), QUANTILE_CONT(frequency, 0.8)] AS fb,
    [QUANTILE_CONT(monetary, 0.2), QUANTILE_CONT(monetary, 0.4),
     QUANTILE_CONT(monetary, 0.6), QUANTILE_CONT(monetary, 0.8)] AS mb
  FROM base
)
SELECT c_custkey, recency_days, frequency, monetary,
  CAST(1 + len(list_filter(rb, b -> CAST(recency_days AS DOUBLE) < b)) AS INT) AS r_score,
  CAST(1 + len(list_filter(fb, b -> CAST(frequency AS DOUBLE) > b)) AS INT) AS f_score,
  CAST(1 + len(list_filter(mb, b -> monetary > b)) AS INT) AS m_score
FROM base CROSS JOIN brk
"""


@query("customer_rfm_scalable", oracle=RFM_SCALABLE_ORACLE)
def customer_rfm_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10, the fact-scale formulation (SURVEY.md §7.4e): quintile scores
    from QUANTILE BREAKPOINTS instead of a global ntile sort. One aggregate
    computes the 4 breakpoints per metric; scoring is then a broadcast
    cross-join + per-row comparisons — no single-partition window anywhere.

    Exact interpolated quantiles here (oracle-matched vs QUANTILE_CONT); at
    100 TB swap F.percentile → F.percentile_approx, same call shape.
    Definition note: breakpoint banding ≈ ntile but assigns equal VALUES the
    same score (ntile splits ties by row order) — for segmentation that tie
    behavior is usually the one actually wanted.
    """
    from ..functions.deterministic import dsum

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.datediff(
                F.lit("2002-01-01").cast("date"), F.max("o_orderdate").cast("date")
            ).cast("bigint").alias("recency_days"),
            F.count("*").alias("frequency"),
            dsum("o_totalprice", "monetary"),
        )
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    brk = base.agg(
        F.array(*[F.percentile(F.col("recency_days").cast("double"), q) for q in qs]).alias("rb"),
        F.array(*[F.percentile(F.col("frequency").cast("double"), q) for q in qs]).alias("fb"),
        F.array(*[F.percentile("monetary", q) for q in qs]).alias("mb"),
    )

    def score(val, brks, descending=False):
        cmp = (lambda b: val < b) if descending else (lambda b: val > b)
        return (1 + F.size(F.filter(brks, cmp))).cast("int")

    return base.crossJoin(F.broadcast(brk)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        score(F.col("recency_days").cast("double"), F.col("rb"), descending=True).alias("r_score"),
        score(F.col("frequency").cast("double"), F.col("fb")).alias("f_score"),
        score(F.col("monetary"), F.col("mb")).alias("m_score"),
    )


# --- W4 full matrix: windows × aggregates over ONE partitioning ----------------

MATRIX_WINDOWS = {"1h": 3600, "24h": 86400, "7d": 604800}

def _matrix_sum_sql(name: str) -> str:
    from ..functions.deterministic import sql_split_dbl

    return sql_split_dbl(
        f"ROUND(SUM(CAST(value AS DECIMAL(38,10))) OVER w_{name}, 4)"
    )


_MATRIX_COLS_SQL = ",\n  ".join(
    f"""{_matrix_sum_sql(name)} AS value_sum_{name},
  COUNT(*) OVER w_{name} AS events_{name},
  {_matrix_sum_sql(name)}
    / COUNT(*) OVER w_{name} AS value_mean_{name}"""
    for name in MATRIX_WINDOWS
)

_MATRIX_WINDOWS_SQL = ",\n  ".join(
    f"""w_{name} AS (
    PARTITION BY user_id
    ORDER BY DATEDIFF('second', TIMESTAMP '2024-01-01', ts)
    RANGE BETWEEN {secs} PRECEDING AND CURRENT ROW)"""
    for name, secs in MATRIX_WINDOWS.items()
)

MATRIX_ORACLE = f"""
SELECT event_id, user_id, ts,
  {_MATRIX_COLS_SQL}
FROM events
WINDOW
  {_MATRIX_WINDOWS_SQL}
"""


@query("rolling_feature_matrix", oracle=MATRIX_ORACLE)
def rolling_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4, the reference's full spec: the window×aggregate MATRIX
    (feature_store_manager.py:67-68 configures ['1h','6h','24h','7d','30d'] ×
    ['mean','sum','std','min','max','count']). Nine features over three
    range windows here — the scale point is that every frame hangs off the
    SAME (user_id, epoch) partitioning+sort, so Spark plans ONE shuffle and
    ONE sort for the entire matrix, then evaluates the frames in a single
    Window operator pass. Adding more windows/aggs widens the row, not the
    shuffle count."""
    e = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    cols = ["event_id", "user_id", "ts"]
    out_cols = []
    for name, secs in MATRIX_WINDOWS.items():
        w = Window.partitionBy("user_id").orderBy(epoch).rangeBetween(-secs, 0)
        # a windowed sum: dec_sum cannot take .over(w) (see rolling_1h_features)
        s = dec2dbl(F.sum(F.col("value").cast(DEC)).over(w))
        n = F.count("*").over(w)
        out_cols += [
            s.alias(f"value_sum_{name}"),
            n.alias(f"events_{name}"),
            (s / n).alias(f"value_mean_{name}"),
        ]
    return e.select(*cols, *out_cols)


# --- forward fill (LOCF) --------------------------------------------------------

LOCF_ORACLE = """
SELECT event_id, user_id, ts,
  NULLIF(value, 0) AS raw_value,
  last_value(NULLIF(value, 0) IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM events
"""


@query("forward_fill_values", oracle=LOCF_ORACLE)
def forward_fill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last-observation-carried-forward): the time-series
    imputation the reference's median-fill (A17) can't do — each gap takes
    the entity's most recent real reading, not a global statistic. NULL gaps
    are derived via NULLIF(value, 0) so both engines see identical holes.

    last(ignorenulls) over an UNBOUNDED PRECEDING frame is an O(1)-per-row
    running state, ONE shuffle on user_id; at 100 TB add a date bucket to
    the partition key to bound partition width (same trick as W4)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    raw = F.nullif(F.col("value"), F.lit(0.0))
    return e.select(
        "event_id",
        "user_id",
        "ts",
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
    )


# --- forecast baselines over the day-grain series -----------------------------

FORECAST_BASELINE_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))) * 100, 0) AS BIGINT)
      AS rev_cents
  FROM orders GROUP BY o_orderdate
), framed AS (
  SELECT d, rev_cents,
    CAST(SUM(rev_cents) OVER (ORDER BY d
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7_cents,
    CAST(COUNT(*) OVER (ORDER BY d
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7,
    LAG(rev_cents, 7) OVER (ORDER BY d) AS naive7_cents
  FROM daily
)
SELECT d, rev_cents,
  CAST(sum7_cents AS DOUBLE) / n7 / 100.0 AS ma7,
  naive7_cents,
  CASE WHEN naive7_cents IS NOT NULL
       THEN ABS(rev_cents - naive7_cents) END AS naive_abs_err_cents
FROM framed
"""


@query("forecast_baseline_daily", oracle=FORECAST_BASELINE_ORACLE)
def forecast_baseline_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast baselines every revenue dashboard starts from: the 7-day
    trailing moving average and the seasonal-naive (same-weekday-last-week)
    forecast with its absolute error — the yardstick any real model must
    beat.

    Exactness: daily revenue is folded to INTEGER CENTS (decimal-exact sum,
    half-up at the cent — this repo's standard money form), so the sliding
    frame sums are integer and immune to the incremental-update float
    drift sliding-window AVGs suffer across engines; ma7 divides once at
    the end. Scale shape: one date-grain aggregate (map-side combined),
    then windows over the DAY-grain frame — years of history is ~10³ rows,
    so the unpartitioned ORDER BY d window is a deliberately tiny,
    bounded frame (at event grain it would be the classic scale killer —
    see rolling_1h_features for that form)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(dec_sum("o_totalprice") * 100, 0)
        .cast("long")
        .alias("rev_cents")
    )
    frame = Window.orderBy("d").rowsBetween(-6, 0)
    lagw = Window.orderBy("d")
    framed = daily.select(
        "d",
        "rev_cents",
        F.sum("rev_cents").over(frame).alias("sum7_cents"),
        F.count("*").over(frame).alias("n7"),
        F.lag("rev_cents", 7).over(lagw).alias("naive7_cents"),
    )
    return framed.select(
        "d",
        "rev_cents",
        (F.col("sum7_cents").cast("double") / F.col("n7") / 100.0).alias("ma7"),
        "naive7_cents",
        F.when(
            F.col("naive7_cents").isNotNull(),
            F.abs(F.col("rev_cents") - F.col("naive7_cents")),
        ).alias("naive_abs_err_cents"),
    )


# --- date-spine densification (forecast prep) ----------------------------------

DENSIFY_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))) * 100, 0) AS BIGINT)
      AS rev_cents
  FROM orders GROUP BY o_orderdate
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
)
SELECT s.d,
  COALESCE(dy.rev_cents, 0) AS rev_cents,
  dy.rev_cents IS NULL AS is_gap
FROM spine s LEFT JOIN daily dy USING (d)
"""


@query("densify_daily_revenue", oracle=DENSIFY_ORACLE)
def densify_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification: the daily revenue series joined onto a
    COMPLETE calendar between its min and max date, zero-filling the days
    with no orders (and flagging them) — the step every forecasting /
    moving-average consumer needs first, because a gapped series silently
    shifts ROWS-frame windows (forecast_baseline_daily's 7-row frame means
    "7 calendar days" only on a dense spine).

    Shape: the spine is generated from a 1-row bounds aggregate via
    sequence+explode (never a driver loop). BOTH join sides are day-grain
    (≤ |calendar days| rows at any fact scale); the broadcast hint goes on
    the RIGHT side (`daily`) because left-outer BroadcastHashJoin only
    supports build-right — hinting the preserved spine side is silently
    ignored and the join degrades to sort-merge. The day-grain aggregate
    is the usual map-side-combined exchange. Integer-cent revenue,
    engine-exact."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(dec_sum("o_totalprice") * 100, 0)
        .cast("long")
        .alias("rev_cents")
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("_d")
    ).select(F.col("_d").cast("date").alias("d"))
    return (
        spine.join(F.broadcast(daily), "d", "left")
        .select(
            "d",
            F.coalesce("rev_cents", F.lit(0)).alias("rev_cents"),
            F.col("rev_cents").isNull().alias("is_gap"),
        )
    )
