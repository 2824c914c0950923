"""Core relational operator layer (SURVEY.md §2.1–2.3, 2.7–2.8).

Each query re-expresses one reference pattern as idiomatic DataFrame code,
paired with its DuckDB oracle. Per-row derived columns use only IEEE-exact
double ops (+ - * /) or string ops, so values hash-match across engines
without rounding; grouped sums go through decimal (functions.deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import DEC, dec2dbl, dec_sum, sql_dsum
from ..functions.expressions import band, safe_div, surrogate_key
from ..queries import query
from ..sources.tables import load_table


# --- P1–P4 + F1/F5/F13/F18: staging cleanse ------------------------------

STAGING_ORACLE = """
SELECT
  c_custkey,
  UPPER(TRIM(c_name)) AS customer_name,
  LOWER(c_mktsegment) AS segment,
  CASE WHEN c_acctbal < 0 THEN 'DELINQUENT'
       WHEN c_acctbal < 1000 THEN 'LOW'
       WHEN c_acctbal < 5000 THEN 'MEDIUM'
       ELSE 'HIGH' END AS balance_band,
  CONCAT(LOWER(REPLACE(TRIM(c_name), ' ', '.')), '@example.com') AS email,
  (CONCAT(LOWER(REPLACE(TRIM(c_name), ' ', '.')), '@example.com')
     SIMILAR TO '[^@]+@[^@]+\\.[^@]+') AS email_valid,
  MD5(CONCAT_WS('-', COALESCE(CAST(c_custkey AS VARCHAR), '_null_'),
                     COALESCE(CAST(c_nationkey AS VARCHAR), '_null_'))) AS customer_sk
FROM customer
WHERE c_name IS NOT NULL
  AND c_name NOT LIKE 'TEST_%'
  AND LOWER(c_name) NOT LIKE '%testrow%'
"""


@query("staging_customer_cleanse", oracle=STAGING_ORACLE)
def staging_customer_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging cleanse (reference models/staging/staging_customers.sql:10-50):
    projection+rename, trim/upper/lower, CASE banding, regex validation,
    md5 surrogate key, TEST-row exclusion. All JVM-side, codegen-friendly."""
    c = load_table(spark, sf_dir, "customer")
    name = F.trim(F.col("c_name"))
    email = F.concat(F.lower(F.regexp_replace(name, " ", ".")), F.lit("@example.com"))
    return (
        c.where(
            F.col("c_name").isNotNull()
            & ~F.col("c_name").like("TEST_%")
            & ~F.lower(F.col("c_name")).like("%testrow%")
        )
        .select(
            "c_custkey",
            F.upper(name).alias("customer_name"),
            F.lower(F.col("c_mktsegment")).alias("segment"),
            band("c_acctbal", [0.0, 1000.0, 5000.0], ["DELINQUENT", "LOW", "MEDIUM", "HIGH"]).alias("balance_band"),
            email.alias("email"),
            email.rlike(r"^[^@]+@[^@]+\.[^@]+$").alias("email_valid"),
            surrogate_key("c_custkey", "c_nationkey").alias("customer_sk"),
        )
    )


# --- A2: conditional aggregation over anchored windows --------------------

COND_AGG_ORACLE = f"""
SELECT
  o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS BIGINT)
    AS orders_since_2000,
  CAST(ROUND(COALESCE(SUM(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01'
       THEN CAST(o_totalprice AS DECIMAL(38,10)) END), 0), 4) AS DOUBLE) AS revenue_since_2000,
  CAST(ROUND(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT'
       THEN CAST(o_totalprice AS DECIMAL(38,10)) END), 0), 4) AS DOUBLE) AS urgent_revenue
FROM orders
GROUP BY o_orderstatus
"""


@query("conditional_agg_orders", oracle=COND_AGG_ORACLE)
def conditional_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: COUNT/SUM(CASE WHEN ...) — the reference's 7d/30d rolling-window
    idiom (feature_store_manager.py:169-173) with a fixed anchor so the
    oracle is reproducible."""
    o = load_table(spark, sf_dir, "orders")
    anchor = F.lit("2000-01-01 00:00:00").cast("timestamp")

    def cond_dsum(cond, alias):
        return dec2dbl(
            F.coalesce(dec_sum(F.when(cond, F.col("o_totalprice"))), F.lit(0).cast(DEC))
        ).alias(alias)

    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_orderdate") >= anchor, 1).otherwise(0)).alias("orders_since_2000"),
        cond_dsum(F.col("o_orderdate") >= anchor, "revenue_since_2000"),
        cond_dsum(F.col("o_orderpriority") == "1-URGENT", "urgent_revenue"),
    )


# --- A3: distinct counts over truncated time ------------------------------

ACTIVE_WEEKS_ORACLE = """
SELECT user_id,
  COUNT(DISTINCT DATE_TRUNC('week', ts)) AS active_weeks,
  COUNT(DISTINCT DATE_TRUNC('day', ts)) AS active_days,
  COUNT(*) AS n_events
FROM events
GROUP BY user_id
"""


@query("active_weeks", oracle=ACTIVE_WEEKS_ORACLE)
def active_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: COUNT(DISTINCT date_trunc(...)). At 100 TB swap to
    approx_count_distinct; exact here because the oracle must match."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.countDistinct(F.date_trunc("week", "ts")).alias("active_weeks"),
        F.countDistinct(F.date_trunc("day", "ts")).alias("active_days"),
        F.count("*").alias("n_events"),
    )


# --- A4: duplicate detection (group-having) -------------------------------

DUP_ORACLE = """
SELECT user_id, event_type, COUNT(*) AS cnt
FROM events
GROUP BY user_id, event_type
HAVING COUNT(*) > 1
"""


@query("duplicate_detection", oracle=DUP_ORACLE)
def duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: GROUP BY ... HAVING COUNT(*) > 1 (reference
    macros/scd_type2_macro.sql:205-213)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
    )


# --- A5: mode with deterministic tie-break --------------------------------

MODE_ORACLE = """
WITH counted AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
), ranked AS (
  SELECT user_id, event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn
  FROM counted
)
SELECT user_id, event_type AS modal_event_type, cnt AS modal_count
FROM ranked WHERE rn = 1
"""


@query("mode_per_user", oracle=MODE_ORACLE)
def mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: mode() with an explicit (count DESC, value ASC) tie-break so the
    result is engine-independent (native mode() breaks ties arbitrarily)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    counted = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_event_type"),
            F.col("cnt").alias("modal_count"),
        )
    )


# --- A6/A12: data-quality pass-rate & completeness rollup -----------------

QUALITY_ORACLE = """
SELECT
  l_returnflag AS table_slice,
  COUNT(*) AS n_rows,
  CAST(100 * SUM(CASE WHEN l_quantity BETWEEN 1 AND 50
                       AND l_discount BETWEEN 0 AND 0.1
                       AND l_extendedprice > 0 THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS pass_rate_pct,
  CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS shipdate_completeness
FROM lineitem
GROUP BY l_returnflag
"""


@query("quality_rollup", oracle=QUALITY_ORACLE)
def quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A12: quality pass-rate per slice (reference
    deploy_snowflake_objects.py:331-344) — integer-ratio arithmetic only, no
    rounding needed for cross-engine determinism."""
    li = load_table(spark, sf_dir, "lineitem")
    passed = (
        F.col("l_quantity").between(1, 50)
        & F.col("l_discount").between(0, 0.1)
        & (F.col("l_extendedprice") > 0)
    )
    return li.groupBy(F.col("l_returnflag").alias("table_slice")).agg(
        F.count("*").alias("n_rows"),
        (F.lit(100) * F.sum(F.when(passed, 1).otherwise(0)).cast("double") / F.count("*")).alias("pass_rate_pct"),
        (
            F.sum(F.when(F.col("l_shipdate").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("shipdate_completeness"),
    )


# --- J2: anti join ---------------------------------------------------------

ANTI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query("customers_without_orders", oracle=ANTI_ORACLE)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left_anti join — the reference's LEFT JOIN ... IS NULL new-record
    probe (macros/scd_type2_macro.sql:80-111), as a first-class anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


# --- J6/J7: semi join ------------------------------------------------------

SEMI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


@query("customers_with_finished_orders", oracle=SEMI_ORACLE)
def customers_with_finished_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7: left_semi join replaces the reference's IN-(subquery) probes."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


# --- J5/U3: full-outer alignment ------------------------------------------

FULL_OUTER_ORACLE = """
WITH views AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, COUNT(*) AS n_views
  FROM events WHERE event_type = 'view' GROUP BY 1
), clicks AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, COUNT(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1
)
SELECT COALESCE(v.day, c.day) AS day,
       COALESCE(n_views, 0) AS n_views,
       COALESCE(n_clicks, 0) AS n_clicks
FROM views v FULL OUTER JOIN clicks c ON v.day = c.day
"""


@query("daily_view_click_alignment", oracle=FULL_OUTER_ORACLE)
def daily_view_click_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: full-outer feature-frame alignment (reference
    feature_store_manager.py:520-523)."""
    e = load_table(spark, sf_dir, "events")
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_views"))
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_clicks"))
    )
    return (
        views.alias("v")
        .join(clicks.alias("c"), F.col("v.day") == F.col("c.day"), "full_outer")
        .select(
            F.coalesce(F.col("v.day"), F.col("c.day")).alias("day"),
            F.coalesce(F.col("n_views"), F.lit(0)).alias("n_views"),
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        )
    )


# --- U1: union all ----------------------------------------------------------

UNION_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, 'HIGH_VALUE' AS record_source
FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, 'URGENT' AS record_source
FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@query("union_order_sets", oracle=UNION_ORACLE)
def union_order_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: schema-conformed unionByName (reference SCD merge
    macros/scd_type2_macro.sql:134-143)."""
    o = load_table(spark, sf_dir, "orders")
    high = o.where(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit("HIGH_VALUE").alias("record_source")
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit("URGENT").alias("record_source")
    )
    return high.unionByName(urgent)


# --- F19: JSON extraction ---------------------------------------------------

JSON_ORACLE = """
SELECT event_id, user_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
"""


@query("json_prop_filter", oracle=JSON_ORACLE)
def json_prop_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: get_json_object over the props payload (reference caches rows as
    JSON — ml_pipeline_framework.py:313,330)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.withColumn("k_val", k)
        .where(F.col("k_val") > 90)
        .select("event_id", "user_id", "k_val")
    )


# --- F11/F12: datetime parts & boolean derivations --------------------------

DATEPARTS_ORACLE = """
SELECT event_id,
       EXTRACT(hour FROM ts) AS event_hour,
       CAST(ISODOW(ts) AS INT) AS iso_dow,
       CAST(ISODOW(ts) IN (6, 7) AS BOOLEAN) AS is_weekend,
       CAST(EXTRACT(hour FROM ts) BETWEEN 9 AND 17 AS BOOLEAN) AS is_business_hours,
       CAST(DATE_TRUNC('day', ts) AS DATE) AS event_date
FROM events
"""


@query("event_time_features", oracle=DATEPARTS_ORACLE)
def event_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11/F12: hour/ISO-weekday/is_weekend/is_business_hours derivations
    (reference feature_store_manager.py:318-329)."""
    e = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    iso_dow = F.weekday("ts") + F.lit(1)  # weekday(): 0=Mon → ISO 1=Mon
    return e.select(
        "event_id",
        hour.alias("event_hour"),
        iso_dow.cast("int").alias("iso_dow"),
        iso_dow.isin(6, 7).alias("is_weekend"),
        hour.between(9, 17).alias("is_business_hours"),
        F.date_trunc("day", "ts").cast("date").alias("event_date"),
    )


# --- S7: deterministic (hash-based) sampling --------------------------------

SAMPLE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity ELSE 0.0 END AS unit_price
FROM lineitem
WHERE SUBSTR(MD5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
"""


@query("hash_sample_unit_price", oracle=SAMPLE_ORACLE)
def hash_sample_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+F14: reproducible ~1/8 Bernoulli sample via md5 bucket (RNG-based
    SAMPLE isn't cross-engine reproducible; hash-mod is, and pushes down).
    Also exercises guarded division (F14) as pure IEEE per-row arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1)
    return (
        li.where(bucket.isin("0", "1"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            safe_div("l_extendedprice", "l_quantity").alias("unit_price"),
        )
    )


# --- F6/F10: date arithmetic -------------------------------------------------

DATEDIFF_ORACLE = """
SELECT
  (2002 - EXTRACT(year FROM o_orderdate)) AS order_age_years,
  COUNT(*) AS n_orders,
  DATEDIFF('second', MIN(o_orderdate), MAX(o_orderdate)) AS span_seconds
FROM orders
GROUP BY order_age_years
"""


@query("order_age_rollup", oracle=DATEDIFF_ORACLE)
def order_age_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (Snowflake year-boundary datediff semantics) + F10 (epoch diff)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_age_years", (F.lit(2002) - F.year("o_orderdate")).cast("bigint"))
        .groupBy("order_age_years")
        .agg(
            F.count("*").alias("n_orders"),
            (F.unix_timestamp(F.max("o_orderdate")) - F.unix_timestamp(F.min("o_orderdate"))).alias("span_seconds"),
        )
    )


# --- A19: multi-dim grouping -------------------------------------------------

MULTIDIM_ORACLE = f"""
SELECT c_mktsegment, o_orderstatus,
  COUNT(*) AS n_orders,
  {sql_dsum("o_totalprice")} AS segment_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderstatus
"""


@query("segment_status_rollup", oracle=MULTIDIM_ORACLE)
def segment_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: grouped audit summary over two dims (reference
    deploy_snowflake_objects.py:347-363)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    from ..functions.deterministic import dsum

    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "segment_revenue"))
    )


# --- skew handling: salted two-phase aggregation -------------------------------

N_SALTS = 16

SALTED_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value")} AS total_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
"""


@query("salted_event_rollup", oracle=SALTED_ORACLE)
def salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation by salting: event_type has ~5 distinct values,
    so a plain groupBy at 100 TB lands the whole table on 5 reducers. Phase
    1 groups by (event_type, salt) — fan-out ×{N_SALTS} — phase 2 re-reduces
    the {N_SALTS} partials per key.

    The salt is pmod(xxhash64(event_id), {N_SALTS}): deterministic, uniform,
    and key-independent. Every aggregate here is re-reducible (count→sum,
    decimal-sum→sum, max→max) and the decimal sums are associative, so the
    salted result is BIT-IDENTICAL to the plain groupBy — which is exactly
    what the oracle checks (its SQL is the unsalted form).
    """
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("_n"),
        dec_sum("value").alias("_sum"),
        F.max("value").alias("_max"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        dec2dbl(F.sum("_sum")).alias("total_value"),
        F.max("_max").alias("max_value"),
    )


# --- skew handling: salted shuffle join ----------------------------------------

SALTED_JOIN_ORACLE = """
WITH dim AS (
  SELECT event_type, COUNT(*) AS type_count FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, d.type_count
FROM events e JOIN dim d USING (event_type)
"""


@query("salted_skew_join", oracle=SALTED_JOIN_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe SHUFFLE join by salting — the join-side sibling of
    salted_event_rollup. event_type has ~5 values, so a plain shuffle join
    funnels the whole fact through 5 reducers; when the enrichment side is
    too big to broadcast (assume it here: the hint pins a shuffled hash
    join), the classic fix is to SALT the hot key: the big side gets
    salt = pmod(xxhash64(row_key), S); the small side is replicated S times
    via a sequence-explode; the join key becomes (event_type, salt), giving
    S-way fan-out per hot key. Join semantics are unchanged — every big-side
    row meets exactly one replica — which is what the (unsalted) oracle
    states. AQE's skew-join split is the automatic cousin for sort-merge
    plans; explicit salting is the form that works for EVERY join strategy
    and is plan-asserted here (keys include the salt, no broadcast)."""
    e = load_table(spark, sf_dir, "events")
    dim = e.groupBy("event_type").agg(F.count("*").alias("type_count"))
    rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    )
    big = e.select("event_id", "event_type").withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS))
    )
    # The hint pins the shuffled join this query demonstrates (a plan test
    # asserts it); no timing measurement chose it over a broadcast of the
    # 5-row dim (unmeasured, ROADMAP item 2).
    return (
        big.join(rep.hint("shuffle_hash"), ["event_type", "_salt"])
        .select("event_id", "event_type", "type_count")
    )


# --- U-ext: INTERSECT / EXCEPT (SURVEY §2.7 absent-in-reference note) ----------

INTERSECT_ORACLE = """
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
"""


@query("retained_customers_intersect", oracle=INTERSECT_ORACLE)
def retained_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers active in BOTH 1996 and 1997.
    The reference has no INTERSECT (SURVEY §2.7); Spark plans it as a
    distinct + shuffle hash join on the full row — same work profile as the
    semi-join formulation but declared in one operator, and Catalyst pushes
    the year filters to both scans."""
    o = load_table(spark, sf_dir, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97)


EXCEPT_ORACLE = """
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
EXCEPT ALL
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
"""


@query("churned_orders_except_all", oracle=EXCEPT_ORACLE)
def churned_orders_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics): per-order occurrences in 1996 minus
    matched occurrences in 1997 — duplicates survive by multiplicity, which
    `left_anti` cannot express (it drops ALL copies of a matched key).
    Completes the §2.7 set-operation surface with U1 (union) and
    retained_customers_intersect."""
    o = load_table(spark, sf_dir, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.exceptAll(y97)


# --- A3 scale path: approx_count_distinct -------------------------------------


@query("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3's 100 TB path: HyperLogLog++ distinct-user counts per event_type.
    Exact countDistinct shuffles every (key, user) pair; HLL++ carries a
    fixed-size sketch per key through a map-side partial, so the shuffle is
    O(keys), not O(rows). rsd=0.5% keeps the estimate within ~1% of exact
    (asserted vs exact countDistinct in tests/test_oracle_parity.py).
    Rows-only check: sketch estimates are engine-specific, so no value
    oracle — the bounded-error property test is the correctness claim."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.005).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


# --- correlated scalar subquery (Spark SQL entry point) ------------------------

CORRELATED_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice = (SELECT MAX(i.o_totalprice) FROM orders i
                        WHERE i.o_custkey = o.o_custkey)
"""


@query("customer_peak_orders", oracle=CORRELATED_ORACLE)
def customer_peak_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, submitted through ``spark.sql`` — the
    engine's second authoring surface (the reference's only surface is SQL;
    SURVEY §3.1). Each order is kept iff it matches its customer's max
    order value. Catalyst decorrelates this into a grouped-max aggregate
    joined back on o_custkey — the rewrite a hand-built engine would need a
    dedicated rule for — so execution is two scans + one shuffle, not a
    per-row subquery. MAX is exact (no float summation), so values
    hash-match any engine."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM v_orders_sq o
        WHERE o.o_totalprice = (SELECT MAX(i.o_totalprice) FROM v_orders_sq i
                                WHERE i.o_custkey = o.o_custkey)
        """
    )


# --- MapType surface: JSON → map → explode -------------------------------------

MAP_EXPLODE_ORACLE = f"""
WITH kv AS (
  SELECT event_id, unnest(json_keys(props)) AS prop_key,
         CAST(json_extract_string(props, '$.' || unnest(json_keys(props))) AS BIGINT)
           AS prop_value
  FROM events
)
SELECT prop_key, COUNT(*) AS n_props,
       {sql_dsum("prop_value")} AS sum_value,
       MAX(prop_value) AS max_value
FROM kv GROUP BY prop_key
"""


@query("event_props_kv_rollup", oracle=MAP_EXPLODE_ORACLE)
def event_props_kv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round trip (SURVEY §1.2 — the reference's only semi-structured
    data is JSON-serialized dicts): from_json parses the props payload into
    map<string,bigint> once per row, explode(map) emits (key, value) pairs,
    and the rollup aggregates per key. The JSON parse happens inside the scan
    stage (codegen'd Jackson path), so at 100 TB this costs one pass over the
    payload bytes with no Python and no extra shuffle beyond the rollup."""
    from ..functions.deterministic import dsum

    e = load_table(spark, sf_dir, "events")
    kv = e.select(
        "event_id",
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "prop_key", "prop_value"
        ),
    )
    return kv.groupBy("prop_key").agg(
        F.count("*").alias("n_props"),
        dsum("prop_value", "sum_value"),
        F.max("prop_value").alias("max_value"),
    )


# --- array aggregation: collect_list → sort_array ------------------------------

ARRAY_AGG_ORACLE = """
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderkey)), ',') AS order_ids,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


@query("customer_order_id_lists", oracle=ARRAY_AGG_ORACLE)
def customer_order_id_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_list is arrival-order-nondeterministic
    under parallel execution, so the canonical scalable form is
    sort_array(collect_list(...)) — deterministic regardless of partition
    scheduling, which is what makes the result testable at all. Serialized
    via array_join so the value comparison is a plain string in any engine.
    The per-group array lives in the aggregation buffer: fine when groups
    are bounded (orders per customer), a red flag for unbounded keys."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias(
            "order_ids"
        ),
        F.count("*").alias("n_orders"),
    )


# --- null-safe equality join ----------------------------------------------------

NULLSAFE_ORACLE = """
WITH bucketed AS (
  SELECT o_orderkey, NULLIF(o_custkey % 7, 0) AS bucket FROM orders
), dim AS (
  SELECT NULLIF(b, 0) AS bucket,
         CASE WHEN NULLIF(b, 0) IS NULL THEN 'UNKNOWN' ELSE 'B' || CAST(b AS VARCHAR) END AS bucket_name
  FROM generate_series(0, 6) AS t(b)
)
SELECT d.bucket_name, COUNT(*) AS n_orders
FROM bucketed o JOIN dim d ON o.bucket IS NOT DISTINCT FROM d.bucket
GROUP BY d.bucket_name
"""


@query("nullsafe_bucket_join", oracle=NULLSAFE_ORACLE)
def nullsafe_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other — the dimension-lookup semantics needed when 'unknown' is a
    real category (a plain equi join silently drops every NULL-keyed fact
    row). Spark hashes <=> like any equi key, so the join still broadcasts /
    shuffles normally — nothing degenerates to a cross product."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("bucket")
    )
    dim = spark.range(0, 7).select(
        F.nullif(F.col("id"), F.lit(0)).alias("bucket"),
        F.when(F.nullif(F.col("id"), F.lit(0)).isNull(), "UNKNOWN")
        .otherwise(F.concat(F.lit("B"), F.col("id").cast("string")))
        .alias("bucket_name"),
    )
    return (
        o.join(F.broadcast(dim), o["bucket"].eqNullSafe(dim["bucket"]))
        .groupBy("bucket_name")
        .agg(F.count("*").alias("n_orders"))
    )
