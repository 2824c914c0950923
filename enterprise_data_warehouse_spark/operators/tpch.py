"""TPC-H-shape query pack — classic warehouse query capabilities.

The reference's warehouse layer answers dimensional rollups shaped exactly
like the TPC-H suite (star joins + conditional aggregation + correlated
subqueries; reference models/marts/facts/fact_sales_daily.sql:45-128 and
the generated fact models). This module re-expresses the canonical shapes
the rest of the registry doesn't already cover, adapted to the test
star schema (no partsupp table; lineitem carries the part⋈supplier
association).

Scale discipline (100 TB): every query here keeps exactly one big-table
scan (lineitem) shuffling on its natural key; dimensions are broadcast.
Scalar "global threshold" subqueries (Q11/Q15/Q22 shapes) become one-row
broadcast joins — a BroadcastNestedLoopJoin against a single aggregate row,
constant cost at any scale (allowlisted in tests/test_plans.py).

Already covered elsewhere: Q1 (pricing_summary), Q3 (shipping_priority_topk),
Q4 (order_priority_counts), Q5 (local_supplier_volume), Q10
(returned_customer_ranking), Q21-ish EXISTS shapes (customers_with_*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import davg, dec2dbl, dec_sum, dsum, sql_davg, sql_dsum
from ..queries import query
from ..sources.tables import load_table

DISC_REV = "l_extendedprice * (1.0 - l_discount)"


def _disc_rev() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# --- Q7: volume shipping between two nations ---------------------------------

VOLUME_SHIPPING_ORACLE = f"""
SELECT supp_nation, cust_nation, ship_year, {sql_dsum("volume")} AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS INT) AS ship_year,
         {DISC_REV} AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
     OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, ship_year
"""


@query("volume_shipping", oracle=VOLUME_SHIPPING_ORACLE, bench=True)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume by (supplier nation, customer nation,
    year). nation is broadcast twice under different aliases; the nation-pair
    disjunction prunes at the joins, so only matching rows reach the single
    (supp_nation, cust_nation, year) shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                              F.col("n_name").alias("supp_nation")))
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cn_key"),
                              F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(dsum(_disc_rev(), "revenue"))
    )


# --- Q8: national market share ------------------------------------------------

MARKET_SHARE_ORACLE = f"""
SELECT ship_year,
       (CAST(FLOOR(ROUND(SUM(CASE WHEN supp_nation = 'NATION_5'
                      THEN CAST(volume AS DECIMAL(38,10)) ELSE 0 END), 4)) AS DOUBLE) + CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_5'
                      THEN CAST(volume AS DECIMAL(38,10)) ELSE 0 END), 4) - FLOOR(ROUND(SUM(CASE WHEN supp_nation = 'NATION_5'
                      THEN CAST(volume AS DECIMAL(38,10)) ELSE 0 END), 4)) AS DOUBLE))
       / (CAST(FLOOR(ROUND(SUM(CAST(volume AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(volume AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(volume AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS mkt_share
FROM (
  SELECT CAST(YEAR(o_orderdate) AS INT) AS ship_year,
         {DISC_REV} AS volume, sn.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = 'ECONOMY'
) all_nations
GROUP BY ship_year
"""


@query("market_share", oracle=MARKET_SHARE_ORACLE)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of ECONOMY-part revenue per year — the
    conditional-numerator / total-denominator pattern in a single grouped
    pass (no self-join, no second scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    vol = _disc_rev()
    national = dec_sum(F.when(F.col("n_name") == "NATION_5", vol).otherwise(F.lit(0.0)))
    total = dec_sum(vol)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("ship_year"))
        .agg((dec2dbl(national) / dec2dbl(total)).alias("mkt_share"))
    )


# --- Q9: product-line profit by nation and year -------------------------------

PRODUCT_PROFIT_ORACLE = f"""
SELECT nation_name, order_year, {sql_dsum("amount")} AS profit
FROM (
  SELECT n_name AS nation_name, CAST(YEAR(o_orderdate) AS INT) AS order_year,
         {DISC_REV} AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation_name, order_year
"""


@query("product_profit", oracle=PRODUCT_PROFIT_ORACLE)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit on a product line (p_name LIKE pattern) by supplier
    nation × order year. The part filter broadcasts pre-filtered keys, so the
    LIKE never touches the fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(dsum(_disc_rev(), "profit"))
    )


# --- Q11: important suppliers (global-threshold scalar subquery) --------------

IMPORTANT_SUPPLIERS_ORACLE = f"""
SELECT s_suppkey, {sql_dsum(DISC_REV)} AS supplier_value
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey
HAVING {sql_dsum(DISC_REV)} > (
  SELECT {sql_dsum(DISC_REV)} * 0.002 FROM lineitem
)
"""


@query("important_suppliers", oracle=IMPORTANT_SUPPLIERS_ORACLE)
def important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: suppliers whose revenue exceeds a fraction of GLOBAL
    revenue. The global total is a one-row aggregate broadcast against the
    grouped rows (constant-size nested-loop — the Spark-native scalar
    subquery), so both sides reuse the same lineitem scan shape and no
    second full shuffle is added."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    per_supp = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(dsum(_disc_rev(), "supplier_value"))
    )
    threshold = li.agg(
        (dsum(_disc_rev()) * F.lit(0.002)).alias("cutoff")
    )
    return (
        per_supp.join(F.broadcast(threshold))
        .where(F.col("supplier_value") > F.col("cutoff"))
        .select("s_suppkey", "supplier_value")
    )


# --- Q13: customer order-count distribution -----------------------------------

CUSTOMER_DISTRIBUTION_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query("customer_distribution", oracle=CUSTOMER_DISTRIBUTION_ORACLE)
def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of per-customer order counts (join predicate on
    the outer join, two stacked aggregations). COUNT(col) ignores the nulls
    the outer join manufactures, so no-order customers land in bucket 0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- Q14: promotion revenue share ---------------------------------------------

PROMO_REVENUE_ORACLE = f"""
SELECT CAST(YEAR(l_shipdate) AS INT) AS ship_year,
       100.0 * (CAST(FLOOR(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST({DISC_REV} AS DECIMAL(38,10)) ELSE 0 END), 4)) AS DOUBLE) + CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST({DISC_REV} AS DECIMAL(38,10)) ELSE 0 END), 4) - FLOOR(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST({DISC_REV} AS DECIMAL(38,10)) ELSE 0 END), 4)) AS DOUBLE))
             / (CAST(FLOOR(ROUND(SUM(CAST({DISC_REV} AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST({DISC_REV} AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST({DISC_REV} AS DECIMAL(38,10))), 4)) AS DOUBLE))
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ship_year
"""


@query("promo_revenue", oracle=PROMO_REVENUE_ORACLE)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: percent of revenue from PROMO parts per ship year —
    conditional numerator over unconditional denominator, one grouped pass,
    part broadcast into the fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    vol = _disc_rev()
    promo = dec_sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
    total = dec_sum(vol)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            (F.lit(100.0) * dec2dbl(promo) / dec2dbl(total)).alias("promo_revenue_pct")
        )
    )


# --- Q15: top supplier (max-revenue scalar subquery) --------------------------

TOP_SUPPLIER_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {sql_dsum(DISC_REV)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("top_supplier", oracle=TOP_SUPPLIER_ORACLE)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) achieving the maximum quarterly revenue,
    ties included. The self-referencing MAX scalar subquery is rewritten as
    a scalar window over the ALREADY-AGGREGATED per-supplier frame — this
    structurally guarantees lineitem is scanned once (a naive two-branch
    formulation defeats Spark's ReuseExchange because the join-key
    null-filter pushes into only one branch's scan). The single-partition
    window sees ≈|suppliers| aggregated rows, not fact rows — constant and
    small relative to the fact at any scale."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_disc_rev(), "total_revenue"))
    )
    top = revenue.withColumn(
        "max_revenue", F.max("total_revenue").over(Window.partitionBy())
    ).where(F.col("total_revenue") == F.col("max_revenue"))
    return (
        F.broadcast(s)
        .join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- Q17: small-quantity-order revenue (correlated avg subquery) --------------

SMALL_QTY_ORACLE = f"""
SELECT {sql_dsum("l_extendedprice")} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
  SELECT l_partkey AS agg_partkey, 0.5 * ({sql_davg("l_quantity")}) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) part_agg ON agg_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < avg_qty
"""


@query("small_qty_revenue", oracle=SMALL_QTY_ORACLE)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from lineitems whose quantity is below half the
    part's average — the correlated aggregate decorrelated into a grouped
    self-join on l_partkey (TPC-H's own recommended rewrite). The per-part
    averages aggregate BEFORE the join, so the big⋈big join is
    fact ⋈ (already tiny per-part aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    part_avg = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        (F.lit(0.5) * davg("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("agg_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# --- Q18: large-volume orders -------------------------------------------------

LARGE_ORDERS_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {sql_dsum("l_quantity")} AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(38,10))) > 140
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("large_orders", oracle=LARGE_ORDERS_ORACLE, bench=True)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders whose total quantity exceeds a threshold, with
    customer context, top-100 by price. The HAVING pre-aggregate runs on
    lineitem alone and semi-joins back — only qualifying orderkeys flow
    into the wide join (TakeOrderedAndProject caps the result).

    The re-join with lineitem carries a shuffle_hash hint on the
    semi-joined side: Spark's estimator cannot see through the semi-join +
    aggregate, so below the broadcast threshold it broadcast the ENTIRE
    raw lineitem as the build side (a driver-serial multi-million-row
    fact build at sf0.1–sf1), and above it picked SHJ BuildRight —
    building the hash on the 10×-bigger lineitem side. The hint pins SHJ
    with the semi side as build at every scale: the fact is only ever
    scanned, shuffled once by orderkey and probed; the build side is
    always the smaller. (A broadcast hint was measured and rejected:
    qty > 140 matches ~24% of orders on this corpus — 3.57M at sf10 —
    so the semi side is NOT broadcast-safe at scale.) The join's orderkey
    exchange then satisfies the rollup's distribution requirement —
    groupBy keys lead with o_orderkey — so the aggregation runs
    partial+final with no separate exchange. Measured interleaved warm
    A/B when the hint went in: sf1 3.6–3.7 s → 1.9–2.0 s, neutral at
    sf0.1 and sf10 (the shared HAVING pre-aggregate dominates)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 140)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "bigkey"),
               F.col("o_orderkey") == F.col("bigkey"), "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .hint("shuffle_hash")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --- Q19: disjunctive predicate revenue ---------------------------------------

DISJUNCTIVE_ORACLE = f"""
SELECT {sql_dsum(DISC_REV)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""


@query("disjunctive_revenue", oracle=DISJUNCTIVE_ORACLE)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs mixing join-side (brand/size) and fact-side
    (quantity) predicates. Catalyst extracts the common l_quantity bounds
    ([1,40]) as a scan-level filter while the full disjunction evaluates
    post-join — the standard CNF-extraction win."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1, 21))
        | ((b == "Brand#2") & sz.between(1, 25) & q.between(10, 30))
        | ((b == "Brand#3") & sz.between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(dsum(_disc_rev(), "revenue"))
    )


# --- Q22: dormant high-balance customers --------------------------------------

DORMANT_CUSTOMERS_ORACLE = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
       (CAST(FLOOR(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS totacctbal
FROM customer
WHERE c_acctbal > (
  SELECT (CAST(FLOOR(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,10))), 4)) AS DOUBLE))
         / COUNT(c_acctbal)
  FROM customer WHERE c_acctbal > 0.0
)
AND NOT EXISTS (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


@query("dormant_customers", oracle=DORMANT_CUSTOMERS_ORACLE)
def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers with above-average balance and no URGENT orders,
    rolled up by segment — scalar-average broadcast + anti-join
    (NOT EXISTS with a correlated predicate), then a tiny aggregation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


# --- Q6: forecast revenue change ----------------------------------------------

FORECAST_REVENUE_ORACLE = """
SELECT (CAST(FLOOR(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
"""


@query("forecast_revenue", oracle=FORECAST_REVENUE_ORACLE)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: revenue increase from eliminating a discount band — a pure
    filter-aggregate with NO join and NO groupBy. The whole point at scale
    is pushdown: all three predicates reach the parquet scan as
    PushedFilters, row-group stats skip everything outside the year, and
    the aggregate is one map-side partial + a single-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24.0)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# --- Q12: late shipments by priority (adapted) --------------------------------

LATE_SHIP_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
"""


@query("late_shipment_priority", oracle=LATE_SHIP_ORACLE)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape adapted to this schema (no l_shipmode/l_receiptdate: "late"
    = shipped >60 days after order date; l_linestatus stands in for the
    shipmode grouping): join + cross-table date predicate + dual CASE
    counts. One shuffle on the join key, then a tiny grouped agg; the
    priority CASEs stay inside whole-stage codegen."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# --- Q2: min-cost supplier per part (adapted) ---------------------------------

MIN_COST_ORACLE = """
WITH observed AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem WHERE l_quantity > 0.0
), part_min AS (
  SELECT l_partkey, MIN(unit_price) AS min_price
  FROM observed GROUP BY l_partkey
)
SELECT p_brand, o.l_partkey AS partkey, s_name, s_acctbal, o.unit_price AS min_unit_price
FROM observed o
JOIN part_min m ON o.l_partkey = m.l_partkey AND o.unit_price = m.min_price
JOIN part ON p_partkey = o.l_partkey
JOIN supplier ON s_suppkey = o.l_suppkey
WHERE p_size <= 5
"""


@query("min_cost_supplier", oracle=MIN_COST_ORACLE)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape adapted (no partsupp: supply cost = observed unit price on
    lineitem): the correlated-min subquery — the supplier(s) achieving each
    part's minimum price. The min is computed once per part and joined
    back (the standard decorrelation); at scale both sides shuffle on
    l_partkey only, and the dimension joins broadcast. Doubles compare
    exactly cross-engine because both sides derive the SAME division."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    s = load_table(spark, sf_dir, "supplier")
    observed = li.where(F.col("l_quantity") > 0.0).select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    part_min = observed.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_price")
    ).select(F.col("l_partkey").alias("pm_partkey"), "min_price")
    return (
        observed.join(
            part_min,
            (F.col("l_partkey") == F.col("pm_partkey"))
            & (F.col("unit_price") == F.col("min_price")),
        )
        .select(F.col("l_partkey").alias("partkey"), "l_suppkey", "unit_price")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "p_brand",
            "partkey",
            "s_name",
            "s_acctbal",
            F.col("unit_price").alias("min_unit_price"),
        )
    )


# --- Q16: supplier diversity by part attributes (adapted) ---------------------

SUPPLIER_PART_ORACLE = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'BRAND_1' AND p_size IN (1, 4, 7)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""


@query("supplier_part_counts", oracle=SUPPLIER_PART_ORACLE)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape adapted (part⋈supplier association via lineitem; negative
    account balance stands in for the complaints NOT IN): distinct-count
    aggregation behind a broadcast anti-join exclusion list. The distinct
    shuffles (p_brand, p_type, p_size, l_suppkey) — exact, not approx,
    because Q16 answers "how many suppliers COULD supply this", where an
    HLL estimate would mis-rank close groups."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "BRAND_1") & (F.col("p_size").isin(1, 4, 7))
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0.0)
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --- Q20: dominant-share suppliers (adapted) ----------------------------------

EXCESS_MULT = 3.0  # "excess" = a supplier ships >3× its fair share of a part

EXCESS_SHIPPED_ORACLE = f"""
WITH supplier_part_qty AS (
  SELECT l_suppkey, l_partkey,
         (CAST(FLOOR(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS supp_qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
), part_qty AS (
  SELECT l_partkey,
         (CAST(FLOOR(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS total_qty,
         CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
  FROM lineitem GROUP BY l_partkey
)
SELECT DISTINCT s_name, n.n_name AS nation
FROM supplier_part_qty sp
JOIN part_qty pq ON sp.l_partkey = pq.l_partkey
JOIN supplier ON s_suppkey = sp.l_suppkey
JOIN nation n ON s_nationkey = n.n_nationkey
WHERE sp.supp_qty * pq.n_suppliers > {EXCESS_MULT} * pq.total_qty
"""


@query("excess_shipped_parts", oracle=EXCESS_SHIPPED_ORACLE)
def excess_shipped_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape adapted (no partsupp stock: a supplier "holds excess" when
    it shipped more than EXCESS_MULT× its fair 1/n share of a part's total
    volume — a relative rule, so it stays discriminating as row counts per
    part grow with scale): nested aggregations at two grains joined on the
    finer key, then a DISTINCT projection through broadcast dims. Both aggs
    and their join shuffle on l_partkey — at scale this is two
    map-side-combined passes over one scan, no re-shuffle between them."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(dsum("l_quantity", "supp_qty"))
    pq = li.groupBy("l_partkey").agg(
        dsum("l_quantity", "total_qty"),
        F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
    )
    return (
        sp.join(pq, "l_partkey")
        .where(
            F.col("supp_qty") * F.col("n_suppliers")
            > F.lit(EXCESS_MULT) * F.col("total_qty")
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
        .distinct()
    )


# --- Q21: sole-late suppliers on multi-supplier orders (adapted) --------------

WAITING_SUPPLIERS_ORACLE = """
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_suppliers,
         COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late
  FROM lines GROUP BY l_orderkey
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lines l
  JOIN per_order po ON l.l_orderkey = po.l_orderkey
  WHERE l.is_late = 1 AND po.n_suppliers >= 2 AND po.n_late = 1
) sole_late
JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
"""


@query("waiting_suppliers", oracle=WAITING_SUPPLIERS_ORACLE)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape adapted (late = shipped >30 days after order date):
    suppliers who were the ONLY late supplier on a finished multi-supplier
    order. The classic EXISTS/NOT-EXISTS pair decorrelates into ONE
    per-order aggregation (distinct suppliers, distinct late suppliers)
    joined back to the late lines — one l_orderkey shuffle replaces two
    correlated self-joins of lineitem against itself, the difference
    between O(scan) and O(scan²) at 100 TB."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    lines = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30), 1
        ).otherwise(0).alias("is_late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late"),
    )
    sole_late = (
        lines.where(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .where((F.col("n_suppliers") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole_late.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )
