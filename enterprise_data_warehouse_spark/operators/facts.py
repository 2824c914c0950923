"""Catalog-compiled fact/dimension builds + star-schema test layer
(SURVEY.md §2.1 S8, §2.3 J8, §2.4 A7, §5 items 1-2).

These queries run the plans.catalog compiler end-to-end: the YAML catalog at
catalog/warehouse.yml declares the models; the oracle SQL re-states what the
compiled plan must equal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import DEC, dec2dbl, dec_sum, sql_davg, sql_dsum
from ..plans.catalog import Catalog, ModelRegistry, build_fact, build_scd1_dimension
from ..queries import query
from ..sources.tables import cpu_parallelism, load_table

CATALOG_PATH = os.path.join(os.path.dirname(__file__), "..", "..", "catalog", "warehouse.yml")


def _registry(spark: SparkSession, sf_dir: str) -> ModelRegistry:
    reg = ModelRegistry(spark)
    for t in ("lineitem", "orders", "customer", "part", "events", "supplier", "nation", "region"):
        reg.add_source(t, load_table(spark, sf_dir, t))

    def sales_transactions(r: ModelRegistry) -> DataFrame:
        li, o = r.ref("lineitem"), r.ref("orders")
        return li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))

    def customer_events(r: ModelRegistry) -> DataFrame:
        # behavioral indicator columns so the fact's measures stay plain
        # column aggregations (the reference stages bounce/page-view flags
        # the same way in staging_customer_events)
        e = r.ref("events")
        return e.withColumn(
            "is_view", (F.col("event_type") == "view").cast("int")
        ).withColumn("is_click", (F.col("event_type") == "click").cast("int"))

    def inventory_transactions(r: ModelRegistry) -> DataFrame:
        # lineitem staged as signed stock movements: returns flow negative
        li = r.ref("lineitem")
        sign = F.when(F.col("l_returnflag") == "R", F.lit(-1.0)).otherwise(F.lit(1.0))
        return (
            li.withColumn("quantity_moved", sign * F.col("l_quantity"))
            .withColumn("unit_cost", F.col("l_extendedprice") / F.col("l_quantity"))
            .withColumn("movement_value", sign * F.col("l_extendedprice"))
        )

    def staging_financials(r: ModelRegistry) -> DataFrame:
        # orders enriched with the customer's nation as the business unit and
        # deterministic budget/forecast columns (pure IEEE double arithmetic,
        # engine-identical — the reference stages these from a GL feed,
        # data_catalog.yml:144)
        o, c = r.ref("orders"), r.ref("customer")
        return o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
            "o_orderdate",
            F.col("c_nationkey").alias("business_unit_id"),
            F.col("o_orderpriority").alias("account_id"),
            F.col("o_totalprice").alias("actual_amount_usd"),
            # double * bigint then / exact-double divisor: every intermediate
            # is a double-on-double op, so the value is bit-identical in any
            # IEEE engine (a `1 + k/100.0` form is NOT — DuckDB folds the
            # literal division in decimal, rounding at a different point)
            (
                F.col("o_totalprice") * (F.lit(95) + F.col("o_orderkey") % 11)
                / F.lit(100.0)
            ).alias("budget_amount_usd"),
            # divisor must be a power of ten: cents × int / 10^4 terminates at
            # scale 4, so the decimal sum never lands on a ROUND(…,4) half
            # boundary (a /200 divisor puts every value exactly on .00005 —
            # where sub-ulp engine differences flip the final rounding)
            (
                F.col("o_totalprice") * (F.lit(98) + F.col("o_orderkey") % 5)
                / F.lit(100.0)
            ).alias("forecast_amount_usd"),
        )

    def staging_employee_metrics(r: ModelRegistry) -> DataFrame:
        # lineitem staged as per-employee (supplier) shipping metrics with a
        # deterministic per-employee target
        li = r.ref("lineitem")
        return li.select(
            "l_shipdate",
            F.col("l_suppkey").alias("employee_id"),
            F.col("l_returnflag").alias("metric_type"),
            F.col("l_quantity").alias("metric_value"),
            (F.lit(25.0) + (F.col("l_suppkey") % 10)).alias("target_value"),
        )

    def staging_marketing_events(r: ModelRegistry) -> DataFrame:
        # events staged as campaign touchpoints: deterministic campaign key,
        # channel = event_type, unit impressions, click indicator, cost share
        e = r.ref("events")
        return e.select(
            "ts",
            (F.lit(1) + F.col("event_id") % 8).alias("campaign_id"),
            F.col("event_type").alias("channel_id"),
            (F.lit(1) + F.col("event_id") % 3).cast("int").alias("impressions"),
            (F.col("event_type") == "click").cast("int").alias("clicks"),
            (F.col("value") / F.lit(10.0)).alias("cost_usd"),
        )

    def staging_date_spine(r: ModelRegistry) -> DataFrame:
        # generated calendar spine — no source table, pure Catalyst sequence
        spark_ = r.spark
        spine = spark_.range(1).select(
            F.explode(
                F.sequence(
                    F.lit("1995-01-01").cast("date"),
                    F.lit("2001-12-31").cast("date"),
                    F.expr("interval 1 day"),
                )
            ).alias("d")
        )
        iso_dow = (F.weekday("d") + 1).cast("int")
        return spine.select(
            F.col("d").alias("date_key"),
            F.col("d").alias("calendar_date"),
            F.year("d").cast("bigint").alias("year"),
            F.quarter("d").cast("bigint").alias("quarter"),
            F.month("d").cast("bigint").alias("month"),
            F.dayofmonth("d").cast("bigint").alias("day_of_month"),
            iso_dow.alias("iso_dow"),
            F.date_format("d", "EEEE").alias("day_name"),
            F.date_format("d", "MMMM").alias("month_name"),
        )

    def staged_products(r: ModelRegistry) -> DataFrame:
        # pure double multiply — bit-identical in any IEEE engine, so the
        # derived margin needs no decimal detour
        return r.ref("part").withColumn("standard_cost", F.col("p_retailprice") * 0.8)

    def staging_employees(r: ModelRegistry) -> DataFrame:
        # supplier org chart: blocks of 10 report to the block's first key
        s, n = r.ref("supplier"), r.ref("nation")
        manager = F.when(F.col("s_suppkey") % 10 == 1, F.lit(None).cast("bigint")).otherwise(
            (F.floor((F.col("s_suppkey") - 1) / 10) * 10 + 1).cast("bigint")
        )
        return (
            s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
            .select(
                F.col("s_suppkey").alias("employee_id"),
                F.col("s_name").alias("employee_number"),
                F.col("n_name").alias("department"),
                F.col("s_acctbal").alias("acctbal"),
                manager.alias("manager_id"),
                F.expr(
                    "CONCAT(LOWER(REPLACE(s_name, 'Supplier#', 'emp')), '@corp.example')"
                ).alias("email"),
            )
        )

    def staging_geography(r: ModelRegistry) -> DataFrame:
        n, rg = r.ref("nation"), r.ref("region")
        return n.join(F.broadcast(rg), F.col("r_regionkey") == F.col("n_regionkey")).select(
            F.col("n_nationkey").alias("geography_key"),
            F.col("n_name").alias("country_name"),
            F.col("r_name").alias("region"),
        )

    reg.add_model("sales_transactions", sales_transactions, deps=("lineitem", "orders"))
    reg.add_model("customer_events", customer_events, deps=("events",))
    reg.add_model("inventory_transactions", inventory_transactions, deps=("lineitem",))
    reg.add_model(
        "staging_financials", staging_financials, deps=("orders", "customer")
    )
    reg.add_model(
        "staging_employee_metrics", staging_employee_metrics, deps=("lineitem",)
    )
    reg.add_model(
        "staging_marketing_events", staging_marketing_events, deps=("events",)
    )
    reg.add_model("staging_date_spine", staging_date_spine, deps=())
    reg.add_model("staged_products", staged_products, deps=("part",))
    reg.add_model("staging_employees", staging_employees, deps=("supplier", "nation"))
    reg.add_model("staging_geography", staging_geography, deps=("nation", "region"))
    return reg


def full_catalog_registry(spark: SparkSession, sf_dir: str) -> ModelRegistry:
    """Every YAML catalog model registered with its dependency edges — the
    graph ModelRegistry.build_all runs topo-parallel (staging layer first,
    then facts/dims concurrently, mirroring the reference's dbt layer order
    and thread count). dim_customer (SCD2) is excluded: it takes an update
    batch as input, so it builds through the sinks/scd2 path, not the
    stateless graph."""
    _scd1 = build_scd1_dimension
    reg = _registry(spark, sf_dir)
    cat = Catalog.load(CATALOG_PATH)
    for fact_name in (
        "fact_sales_daily",
        "fact_events_daily",
        "fact_customer_behavior",
        "fact_inventory_daily",
        "fact_financial_performance",
        "fact_employee_performance",
        "fact_marketing_campaigns",
    ):
        spec = cat.fact(fact_name)
        reg.add_model(
            fact_name,
            lambda r, s=spec: build_fact(r.ref(s["source"]), s),
            deps=(spec["source"],),
        )
    for dim_name in ("dim_part", "dim_product", "dim_geography", "dim_date"):
        spec = cat.dimension(dim_name)
        src = spec.get("source", "part")
        reg.add_model(
            dim_name,
            lambda r, s=spec, src=src: _scd1(r.ref(src), s),
            deps=(src,),
        )
    emp = cat.dimension("dim_employee")
    reg.add_model(
        "dim_employee",
        lambda r, s=emp: _scd1(
            r.ref(s["source"]), s, lookups={s["source"]: r.ref(s["source"])}
        ),
        deps=(emp["source"],),
    )
    return reg


FACT_SALES_ORACLE = f"""
SELECT
  CAST(DATE_TRUNC('day', o_orderdate) AS DATE) AS date_key,
  o_custkey AS customer_key,
  l_partkey AS part_key,
  {sql_dsum("l_quantity")} AS quantity_sold,
  {sql_dsum("l_extendedprice")} AS gross_revenue,
  {sql_davg("l_discount")} AS avg_discount,
  COUNT(l_orderkey) AS order_lines,
  COUNT(*) AS row_count,
  CASE WHEN {sql_dsum("l_quantity")} > 0
       THEN {sql_dsum("l_extendedprice")} / {sql_dsum("l_quantity")}
       ELSE 0.0 END AS revenue_per_unit,
  CASE WHEN {sql_dsum("l_quantity")} >= 100 THEN 'HIGH'
       WHEN {sql_dsum("l_quantity")} >= 20 THEN 'MEDIUM'
       ELSE 'LOW' END AS volume_tier
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2, 3
"""


@query("catalog_fact_sales_daily", oracle=FACT_SALES_ORACLE, bench=True)
def catalog_fact_sales_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+S8: the YAML catalog's fact_sales_daily spec compiled to a plan —
    grain-truncated date key, dimension FKs, decimal-deterministic measures,
    F.expr derived measures (reference
    scripts/utilities/generate_fact_dimension_models.py:66-241)."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    return build_fact(reg.ref("sales_transactions"), cat.fact("fact_sales_daily"))


DIM_PART_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice,
  CASE WHEN p_retailprice < 1000 THEN 'BUDGET'
       WHEN p_retailprice < 1500 THEN 'STANDARD'
       ELSE 'PREMIUM' END AS price_tier,
  CASE WHEN p_size < 10 THEN 'SMALL'
       WHEN p_size < 30 THEN 'MEDIUM'
       ELSE 'LARGE' END AS size_band
FROM part
"""


@query("catalog_dim_part", oracle=DIM_PART_ORACLE)
def catalog_dim_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: SCD1 dimension compiled from the catalog, derived attributes via
    F.expr calculation strings."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    return build_scd1_dimension(reg.ref("part"), cat.dimension("dim_part"))


RI_ORACLE = """
SELECT 'orders->customer' AS fk, COUNT(*) AS n_orphans
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem->part' AS fk, COUNT(*) AS n_orphans
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'customer->nation' AS fk, COUNT(*) AS n_orphans
FROM customer WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
"""


@query("referential_integrity", oracle=RI_ORACLE)
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: the dbt `relationships` test (generated per FK — reference
    generate_fact_dimension_models.py:435-442) as anti-join counts. All-zero
    result = healthy star schema."""
    def orphans(child: DataFrame, parent: DataFrame, ck: str, pk: str, label: str) -> DataFrame:
        return (
            child.join(parent, F.col(ck) == F.col(pk), "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    return (
        orphans(o, c, "o_custkey", "c_custkey", "orders->customer")
        .unionByName(orphans(li, o, "l_orderkey", "o_orderkey", "lineitem->orders"))
        .unionByName(orphans(li, p, "l_partkey", "p_partkey", "lineitem->part"))
        .unionByName(orphans(c, n, "c_nationkey", "n_nationkey", "customer->nation"))
    )


DATE_DIM_ORACLE = """
WITH spine AS (
  SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS d
)
SELECT CAST(d AS DATE) AS date_key,
  EXTRACT(year FROM d) AS year,
  EXTRACT(quarter FROM d) AS quarter,
  EXTRACT(month FROM d) AS month,
  EXTRACT(day FROM d) AS day_of_month,
  CAST(ISODOW(d) AS INT) AS iso_dow,
  CAST(ISODOW(d) IN (6,7) AS BOOLEAN) AS is_weekend,
  CAST(DATE_TRUNC('month', d) AS DATE) AS month_start,
  CAST(EXTRACT(year FROM d) * 100 + EXTRACT(month FROM d) AS BIGINT) AS year_month_key,
  CASE WHEN EXTRACT(month FROM d) >= 7
       THEN EXTRACT(year FROM d) + 1 ELSE EXTRACT(year FROM d) END AS fiscal_year
FROM spine
"""


@query("date_dimension", oracle=DATE_DIM_ORACLE)
def date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date spine + calendar/fiscal attributes (reference
    governance/data_catalog.yml:433-527): generated with sequence() — no
    source table, pure Catalyst."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    iso_dow = (F.weekday("d") + 1).cast("int")
    return spine.select(
        F.col("d").cast("date").alias("date_key"),
        F.year("d").cast("bigint").alias("year"),
        F.quarter("d").cast("bigint").alias("quarter"),
        F.month("d").cast("bigint").alias("month"),
        F.dayofmonth("d").cast("bigint").alias("day_of_month"),
        iso_dow.alias("iso_dow"),
        iso_dow.isin(6, 7).alias("is_weekend"),
        F.date_trunc("month", "d").cast("date").alias("month_start"),
        (F.year("d") * 100 + F.month("d")).cast("bigint").alias("year_month_key"),
        F.when(F.month("d") >= 7, F.year("d") + 1).otherwise(F.year("d")).cast("bigint").alias("fiscal_year"),
    )


FRESHNESS_ORACLE = """
SELECT event_type AS table_name,
  MAX(ts) AS last_loaded_at,
  DATEDIFF('hour', MAX(ts), TIMESTAMP '2024-02-01 00:00:00') AS hours_stale,
  CASE WHEN DATEDIFF('hour', MAX(ts), TIMESTAMP '2024-02-01 00:00:00') <= 24 THEN 'FRESH'
       WHEN DATEDIFF('hour', MAX(ts), TIMESTAMP '2024-02-01 00:00:00') <= 72 THEN 'STALE'
       ELSE 'CRITICAL' END AS freshness_status
FROM events
GROUP BY event_type
"""


@query("freshness_rollup", oracle=FRESHNESS_ORACLE)
def freshness_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: data-freshness monitor (reference
    deploy_snowflake_objects.py:313-328) with a pinned 'now' so the oracle
    reproduces. DATEDIFF('hour') = hour-boundary crossings in both engines."""
    e = load_table(spark, sf_dir, "events")
    now = F.lit("2024-02-01 00:00:00").cast("timestamp")
    hours = (
        F.floor(F.unix_timestamp(now) / 3600) - F.floor(F.unix_timestamp(F.max("ts")) / 3600)
    ).cast("bigint")
    return e.groupBy(F.col("event_type").alias("table_name")).agg(
        F.max("ts").alias("last_loaded_at"),
        hours.alias("hours_stale"),
        F.when(hours <= 24, "FRESH").when(hours <= 72, "STALE").otherwise("CRITICAL").alias("freshness_status"),
    )


FACT_EVENTS_ORACLE = """
SELECT
  CAST(DATE_TRUNC('day', ts) AS DATE) AS date_key,
  user_id AS user_key,
  event_type AS event_type_key,
  (CAST(FLOOR(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS total_value,
  MAX(value) AS max_value,
  COUNT(event_id) AS n_events,
  COUNT(*) AS row_count
FROM events
GROUP BY 1, 2, 3
"""


@query("catalog_fact_events_daily", oracle=FACT_EVENTS_ORACLE)
def catalog_fact_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 second spec: the catalog compiler on the events stream — proves
    the compiler is generic over specs (different grain source column,
    measures, no derived block), not shaped around one table."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    return build_fact(reg.ref("events"), cat.fact("fact_events_daily"))


# --- round-3 catalog breadth: the reference's remaining facts + dims --------

_VIEWS = "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
_CLICKS = "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"

FACT_BEHAVIOR_ORACLE = f"""
SELECT
  CAST(DATE_TRUNC('day', ts) AS DATE) AS date_key,
  user_id AS customer_key,
  CAST({_VIEWS} AS BIGINT) AS page_views,
  CAST({_CLICKS} AS BIGINT) AS clicks,
  {sql_davg("value")} AS avg_value,
  COUNT(event_id) AS n_events,
  COUNT(*) AS row_count,
  CASE WHEN {_VIEWS} > 0
       THEN CAST({_CLICKS} AS DOUBLE) / {_VIEWS}
       ELSE 0.0 END AS click_through_rate,
  CASE WHEN COUNT(*) >= 10 THEN 'HIGH'
       WHEN COUNT(*) >= 3 THEN 'MEDIUM'
       ELSE 'LOW' END AS engagement_tier
FROM events
GROUP BY 1, 2
"""


@query("catalog_fact_customer_behavior", oracle=FACT_BEHAVIOR_ORACLE)
def catalog_fact_customer_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference fact_customer_behavior (data_catalog.yml:70-104) — the
    staging model contributes view/click indicator columns, the fact spec
    aggregates them (sum_int: exact bigint sums) and derives a click-through
    rate + engagement tier post-agg."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.fact("fact_customer_behavior")
    return build_fact(reg.ref(spec["source"]), spec)


_INV_STAGE = """
  SELECT l_partkey, l_suppkey, l_shipdate,
    CASE WHEN l_returnflag = 'R' THEN -1.0 ELSE 1.0 END * l_quantity AS quantity_moved,
    l_extendedprice / l_quantity AS unit_cost,
    CASE WHEN l_returnflag = 'R' THEN -1.0 ELSE 1.0 END * l_extendedprice AS movement_value
  FROM lineitem
"""

FACT_INVENTORY_ORACLE = f"""
WITH inv AS ({_INV_STAGE})
SELECT
  CAST(DATE_TRUNC('day', l_shipdate) AS DATE) AS date_key,
  l_partkey AS product_key,
  l_suppkey AS warehouse_key,
  {sql_dsum("quantity_moved")} AS quantity_change,
  {sql_davg("unit_cost")} AS avg_unit_cost,
  {sql_dsum("movement_value")} AS total_value,
  COUNT(*) AS row_count,
  CASE WHEN {sql_dsum("quantity_moved")} > 0 THEN 'INBOUND'
       WHEN {sql_dsum("quantity_moved")} < 0 THEN 'OUTBOUND'
       ELSE 'BALANCED' END AS net_direction
FROM inv
GROUP BY 1, 2, 3
"""


@query("catalog_fact_inventory_daily", oracle=FACT_INVENTORY_ORACLE)
def catalog_fact_inventory_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference fact_inventory_movements (data_catalog.yml:105-141) —
    signed movement staging (returns negative), decimal-deterministic sums,
    post-agg direction classification."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.fact("fact_inventory_daily")
    return build_fact(reg.ref(spec["source"]), spec)


# staged-model SQL mirrors shared by the dim oracles and the generated
# quality-suite oracle (single source of truth per staging model)
STAGING_EMPLOYEES_SQL = """
  SELECT s_suppkey AS employee_id,
         s_name AS employee_number,
         n_name AS department,
         s_acctbal AS acctbal,
         CASE WHEN s_suppkey % 10 = 1 THEN NULL
              ELSE CAST(FLOOR((s_suppkey - 1) / 10) * 10 + 1 AS BIGINT) END AS manager_id,
         LOWER(REPLACE(s_name, 'Supplier#', 'emp')) || '@corp.example' AS email
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
"""

STAGED_PRODUCTS_SQL = "SELECT *, p_retailprice * 0.8 AS standard_cost FROM part"

STAGING_GEOGRAPHY_SQL = """
  SELECT n_nationkey AS geography_key, n_name AS country_name, r_name AS region
  FROM nation JOIN region ON r_regionkey = n_regionkey
"""

DIM_PRODUCT_ORACLE = f"""
WITH staged AS ({STAGED_PRODUCTS_SQL})
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice, standard_cost,
  CASE WHEN p_retailprice < 1000 THEN 'BUDGET'
       WHEN p_retailprice < 1400 THEN 'STANDARD'
       WHEN p_retailprice < 1800 THEN 'PREMIUM'
       ELSE 'LUXURY' END AS price_tier,
  p_brand || ' > ' || p_type AS product_hierarchy,
  CASE WHEN p_retailprice > 0
       THEN (p_retailprice - standard_cost) / p_retailprice
       ELSE 0.0 END AS profit_margin
FROM staged
"""


@query("catalog_dim_product", oracle=DIM_PRODUCT_ORACLE)
def catalog_dim_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference dim_product (data_catalog.yml:330-432) — staged cost
    column + 4-tier pricing, hierarchy concat, and margin derived attrs
    (pure IEEE double arithmetic, engine-identical without rounding)."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.dimension("dim_product")
    return build_scd1_dimension(reg.ref(spec["source"]), spec)


DIM_EMPLOYEE_ORACLE = f"""
WITH staged AS ({STAGING_EMPLOYEES_SQL})
SELECT employee_id, employee_number, department, manager_id, email,
  REPLACE(employee_number, 'Supplier#', 'Employee #') AS full_name,
  employee_id IN (SELECT manager_id FROM staged WHERE manager_id IS NOT NULL)
    AS is_manager,
  CASE WHEN acctbal >= 5000 THEN 'SENIOR'
       WHEN acctbal >= 0 THEN 'STANDARD'
       ELSE 'PROBATION' END AS seniority_band
FROM staged
"""


@query("catalog_dim_employee", oracle=DIM_EMPLOYEE_ORACLE)
def catalog_dim_employee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+J7: reference dim_employee (data_catalog.yml:530-599) with the
    is_manager membership subquery (:596-597) declared in YAML as an
    `exists_in` attribute and compiled to a broadcast semi-join flag."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.dimension("dim_employee")
    staged = reg.ref(spec["source"])
    return build_scd1_dimension(staged, spec, lookups={"staging_employees": staged})


DIM_GEOGRAPHY_ORACLE = f"""
WITH staged AS ({STAGING_GEOGRAPHY_SQL})
SELECT geography_key, country_name, region,
  country_name || ', ' || region AS full_location,
  UPPER(SUBSTR(country_name, 1, 3)) AS location_code
FROM staged
"""


@query("catalog_dim_geography", oracle=DIM_GEOGRAPHY_ORACLE)
def catalog_dim_geography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference dim_geography (data_catalog.yml:600-656) — the
    country/region hierarchy staged from nation ⋈ region (broadcast) with
    concat/substring derived locations."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.dimension("dim_geography")
    return build_scd1_dimension(reg.ref(spec["source"]), spec)


# --- round-3 catalog completion: reference facts 5-6-7 + dim_date -----------

STAGING_FINANCIALS_SQL = """
  SELECT o_orderdate,
         c_nationkey AS business_unit_id,
         o_orderpriority AS account_id,
         o_totalprice AS actual_amount_usd,
         o_totalprice * (95 + o_orderkey % 11) / 100.0 AS budget_amount_usd,
         o_totalprice * (98 + o_orderkey % 5) / 100.0 AS forecast_amount_usd
  FROM orders JOIN customer ON o_custkey = c_custkey
"""

_FIN_ACTUAL = sql_dsum("actual_amount_usd")
_FIN_BUDGET = sql_dsum("budget_amount_usd")

FACT_FINANCIAL_ORACLE = f"""
WITH staged AS ({STAGING_FINANCIALS_SQL})
SELECT
  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS date_key,
  business_unit_id AS business_unit_key,
  account_id AS account_key,
  {_FIN_ACTUAL} AS actual_amount,
  {_FIN_BUDGET} AS budget_amount,
  {sql_dsum("forecast_amount_usd")} AS forecast_amount,
  COUNT(*) AS row_count,
  {_FIN_ACTUAL} - COALESCE({_FIN_BUDGET}, 0.0) AS budget_variance,
  CASE WHEN {_FIN_BUDGET} > 0
       THEN ({_FIN_ACTUAL} - {_FIN_BUDGET}) / {_FIN_BUDGET}
       ELSE 0.0 END AS budget_variance_pct
FROM staged
GROUP BY 1, 2, 3
"""


@query("catalog_fact_financial", oracle=FACT_FINANCIAL_ORACLE)
def catalog_fact_financial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference fact_financial_performance (data_catalog.yml:142-182) —
    first MONTHLY-grain spec through the compiler (GRAIN_TRUNC month), with
    actual/budget/forecast decimal-deterministic sums and the variance /
    variance-pct derived measures computed post-agg."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.fact("fact_financial_performance")
    return build_fact(reg.ref(spec["source"]), spec)


STAGING_EMPLOYEE_METRICS_SQL = """
  SELECT l_shipdate,
         l_suppkey AS employee_id,
         l_returnflag AS metric_type,
         l_quantity AS metric_value,
         25.0 + (l_suppkey % 10) AS target_value
  FROM lineitem
"""

_EMP_SCORE = sql_davg("metric_value")
_EMP_TARGET = sql_davg("target_value")

FACT_EMPLOYEE_ORACLE = f"""
WITH staged AS ({STAGING_EMPLOYEE_METRICS_SQL})
SELECT
  CAST(DATE_TRUNC('quarter', l_shipdate) AS DATE) AS date_key,
  employee_id AS employee_key,
  metric_type AS metric_type_key,
  {_EMP_SCORE} AS performance_score,
  {_EMP_TARGET} AS target_score,
  COUNT(*) AS row_count,
  CASE WHEN {_EMP_TARGET} > 0
       THEN {_EMP_SCORE} / {_EMP_TARGET} ELSE 0.0 END AS target_attainment,
  CASE WHEN {_EMP_SCORE} >= {_EMP_TARGET} THEN 'EXCEEDS'
       WHEN {_EMP_SCORE} >= {_EMP_TARGET} * 0.8 THEN 'MEETS'
       ELSE 'BELOW' END AS rating
FROM staged
GROUP BY 1, 2, 3
"""


@query("catalog_fact_employee_perf", oracle=FACT_EMPLOYEE_ORACLE)
def catalog_fact_employee_perf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference fact_employee_performance (data_catalog.yml:183-212) —
    QUARTERLY grain with avg-aggregated measures (davg: order-independent
    decimal sum ÷ count) and attainment/rating derived post-agg."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.fact("fact_employee_performance")
    return build_fact(reg.ref(spec["source"]), spec)


STAGING_MARKETING_SQL = """
  SELECT ts,
         1 + event_id % 8 AS campaign_id,
         event_type AS channel_id,
         CAST(1 + event_id % 3 AS INT) AS impressions,
         CAST(event_type = 'click' AS INT) AS clicks,
         value / 10.0 AS cost_usd
  FROM events
"""

FACT_MARKETING_ORACLE = f"""
WITH staged AS ({STAGING_MARKETING_SQL})
SELECT
  CAST(DATE_TRUNC('day', ts) AS DATE) AS date_key,
  campaign_id AS campaign_key,
  channel_id AS channel_key,
  CAST(SUM(impressions) AS BIGINT) AS impressions,
  CAST(SUM(clicks) AS BIGINT) AS clicks,
  {sql_dsum("cost_usd")} AS campaign_cost,
  COUNT(*) AS row_count,
  CASE WHEN SUM(impressions) > 0
       THEN CAST(SUM(clicks) AS DOUBLE) / SUM(impressions)
       ELSE 0.0 END AS click_through_rate,
  CASE WHEN SUM(clicks) > 0
       THEN {sql_dsum("cost_usd")} / SUM(clicks)
       ELSE 0.0 END AS cost_per_click
FROM staged
GROUP BY 1, 2, 3
"""


@query("catalog_fact_marketing", oracle=FACT_MARKETING_ORACLE)
def catalog_fact_marketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference fact_marketing_campaigns (data_catalog.yml:214-247) —
    attribution rollup with sum_int impression/click counters and the
    guarded CTR / cost-per-click derived measures."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.fact("fact_marketing_campaigns")
    return build_fact(reg.ref(spec["source"]), spec)


STAGING_DATE_SPINE_SQL = """
  SELECT CAST(d AS DATE) AS date_key, CAST(d AS DATE) AS calendar_date,
    EXTRACT(year FROM d) AS year,
    EXTRACT(quarter FROM d) AS quarter,
    EXTRACT(month FROM d) AS month,
    EXTRACT(day FROM d) AS day_of_month,
    CAST(ISODOW(d) AS INT) AS iso_dow,
    STRFTIME(d, '%A') AS day_name,
    STRFTIME(d, '%B') AS month_name
  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS d)
"""

DIM_DATE_CATALOG_ORACLE = f"""
WITH staged AS ({STAGING_DATE_SPINE_SQL})
SELECT date_key, calendar_date, year, quarter, month, day_of_month, iso_dow,
  day_name, month_name,
  iso_dow IN (6, 7) AS is_weekend,
  iso_dow BETWEEN 1 AND 5 AS is_weekday,
  CONCAT('Q', quarter, ' ', year) AS quarter_name,
  CONCAT(month_name, ' ', year) AS month_year,
  CASE WHEN month >= 7 THEN year + 1 ELSE year END AS fiscal_year,
  CAST(DATE_TRUNC('month', calendar_date) AS DATE) AS month_start_date
FROM staged
"""


@query("catalog_dim_date", oracle=DIM_DATE_CATALOG_ORACLE)
def catalog_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: reference dim_date (data_catalog.yml:433-527) as a YAML-declared
    SCD1 model — the generated spine is the staging source; calendar names
    and the fiscal/weekend/concat attributes are catalog `calculation`
    strings compiled by F.expr (vs the hand-written date_dimension twin)."""
    cat = Catalog.load(CATALOG_PATH)
    reg = _registry(spark, sf_dir)
    spec = cat.dimension("dim_date")
    return build_scd1_dimension(reg.ref(spec["source"]), spec)


# --- snapshot reconciliation -------------------------------------------------

_DIFF_HASH = "MD5(CONCAT(CAST(o_custkey AS VARCHAR), '|', o_orderstatus, '|', CAST(o_totalprice AS VARCHAR), '|', CAST(o_orderdate AS VARCHAR), '|', o_orderpriority))"

SNAPSHOT_DIFF_ORACLE = f"""
WITH old AS (
  SELECT o_orderkey, {_DIFF_HASH} AS row_hash
  FROM orders WHERE o_orderkey % 97 != 0
), new AS (
  SELECT o_orderkey, {_DIFF_HASH} AS row_hash
  FROM (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 89 = 0
                THEN ROUND(o_totalprice * 1.1, 2) ELSE o_totalprice END
             AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 101 != 0
  )
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
  CASE WHEN o.o_orderkey IS NULL THEN 'added'
       WHEN n.o_orderkey IS NULL THEN 'removed'
       ELSE 'changed' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.row_hash != n.row_hash
"""


def _order_row_hash(df: DataFrame) -> DataFrame:
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
            F.col("o_totalprice").cast("string"),
            F.col("o_orderdate").cast("string"),
            "o_orderpriority",
        )
    )
    return df.select("o_orderkey", h.alias("row_hash"))


@query("snapshot_diff", oracle=SNAPSHOT_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version reconciliation (the audit-helper / anti-entropy
    primitive behind incremental-load validation): full-outer join two
    snapshots on the business key, classify each key as added / removed /
    changed by non-key row hash. Test fixture derives both snapshots from
    `orders` deterministically (every 97th key absent from the old
    snapshot → 'added', every 101st absent from the new → 'removed',
    every 89th repriced in the new → 'changed').

    Scale: rows collapse to (key, 16-byte hash) BEFORE the join — shuffle
    bytes ∝ key count, not row width; the join is a plain hash-partitioned
    equi-join, and unchanged keys (the overwhelming majority) are filtered
    without leaving the join stage."""
    orders = load_table(spark, sf_dir, "orders")
    old = _order_row_hash(orders.where(F.col("o_orderkey") % 97 != 0))
    new = _order_row_hash(
        orders.where(F.col("o_orderkey") % 101 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
            ).otherwise(F.col("o_totalprice")),
        )
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .otherwise("changed")
    )
    return joined.where(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.row_hash") != F.col("n.row_hash"))
    ).select(
        F.coalesce("o.o_orderkey", "n.o_orderkey").alias("o_orderkey"),
        change.alias("change_type"),
    )


# --- incremental materialized-view maintenance --------------------------------

MV_CUTOFF = "2001-01-01"  # rows shipped on/after this are "the new batch"

MV_MAINT_ORACLE = """
SELECT
  CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS ship_month,
  l_returnflag,
  COUNT(*) AS n_rows,
  (CAST(FLOOR(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4)) AS DOUBLE))
    AS sum_qty,
  (CAST(FLOOR(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
    AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
    AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
    AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS sum_revenue
FROM lineitem
GROUP BY 1, 2
"""


@query("mv_incremental_maintenance", oracle=MV_MAINT_ORACLE)
def mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly revenue rollup
    is kept current by aggregating ONLY the new batch and merging partial
    states — count-sum and exact decimal sums are associative, so
    merge(mv, agg(delta)) == agg(base ∪ delta), which is precisely what
    the oracle (a full recompute) checks.

    The split here bootstraps both halves from one table (base =
    pre-cutoff, delta = post-cutoff) so the query is self-contained; in
    production the base aggregate IS the stored MV, and the maintenance
    cost is |delta| + |touched groups| — the base fact table is never
    re-read (the reason this beats re-running catalog_fact_sales_daily on
    every load). Partial state stays UNROUNDED decimal(38,10) through the
    merge; rounding happens once in the final projection, so maintained
    and recomputed values are bit-identical. Reference parity: dbt
    incremental facts (dbt_project.yml:79-82) merge ROWS; this extends the
    same watermark-delta shape to merging AGGREGATE state."""
    li = load_table(spark, sf_dir, "lineitem", min_partitions=cpu_parallelism(spark))
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")
    keys = [
        F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
        F.col("l_returnflag"),
    ]
    partials = lambda d: d.groupBy(*keys).agg(  # noqa: E731
        F.count("*").alias("n_rows"),
        dec_sum("l_quantity").alias("qty_dec"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_dec"),
    )
    mv = partials(li.where(F.col("l_shipdate") < cutoff))  # the stored MV
    delta_agg = partials(li.where(F.col("l_shipdate") >= cutoff))
    merged = (
        mv.unionByName(delta_agg)
        .groupBy("ship_month", "l_returnflag")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("qty_dec").alias("qty_dec"),
            F.sum("rev_dec").alias("rev_dec"),
        )
    )
    return merged.select(
        "ship_month",
        "l_returnflag",
        "n_rows",
        dec2dbl(F.col("qty_dec")).alias("sum_qty"),
        dec2dbl(F.col("rev_dec")).alias("sum_revenue"),
    )


# --- MV routing (aggregate navigator) ------------------------------------------

MV_ROUTING_ORACLE = f"""
SELECT DATE_TRUNC('month', o_orderdate) AS month_key,
  o_orderstatus,
  COUNT(*) AS n_orders,
  {sql_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY 1, 2
"""


@query("mv_rollup_routing", oracle=MV_ROUTING_ORACLE)
def mv_rollup_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV routing / aggregate navigation: a MONTHLY question answered from
    the DAILY materialized view instead of the base fact — the classic
    warehouse optimization (Snowflake/BigQuery's MV rewrite; the reference
    serves dashboards from fact_sales_daily the same way, reference
    models/marts/facts/fact_sales_daily.sql grain note).

    Routing is legal exactly when the requested keys are a SUBSET of the
    MV's grain and every requested measure is derivable from the MV's
    partial states: count = Σ counts, sum = Σ decimal partial sums (the
    associativity mv_incremental_maintenance relies on). The oracle
    computes straight from the base table — the value-hash match IS the
    compatibility proof that routing returns identical answers.

    Scale note: the MV is |days × statuses| rows, ~4 orders of magnitude
    smaller than the fact; the routed query's cost is an MV scan + a tiny
    re-aggregate, independent of fact-table size."""
    from ..functions.deterministic import dec2dbl

    o = load_table(spark, sf_dir, "orders")
    # the stored daily MV: partial states, NOT finalized measures
    daily_mv = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("date_key"),
        "o_orderstatus",
    ).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_sum_dec"),
    )
    # routed monthly answer: re-aggregate the partial states only
    return daily_mv.groupBy(
        F.date_trunc("month", "date_key").cast("date").alias("month_key"),
        "o_orderstatus",
    ).agg(
        F.sum("_n").alias("n_orders"),
        dec2dbl(F.sum("_sum_dec")).alias("revenue"),
    )
