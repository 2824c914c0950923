"""Star-schema fact build + rollup — the flagship pipeline (SURVEY.md §7.2).

Re-expresses the reference's fact_sales_daily build (reference
models/marts/facts/fact_sales_daily.sql:20-128): staging cleanse → star join
→ derived measures → grouped conditional aggregation.

Scale notes (100 TB): lineitem is the only big table here. nation/region are
broadcast explicitly; customer/orders join via shuffle-hash on their keys and
AQE handles skew. All money aggregates run through decimal-exact sums (see
functions.deterministic) — same shuffle shape as native double sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import DEC, davg, dec2dbl, dec_sum, dsum, sql_davg, sql_dsum
from ..functions.expressions import net_revenue
from ..queries import query
from ..sources.tables import load_table, parallelize_degenerate_scan


def star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region with cleanse filters.

    Dimension sides (nation, region) are broadcast — no shuffle for them at
    any scale. The lineitem⋈orders join shuffles on orderkey; Catalyst pushes
    the quantity/price filters into the parquet scan.

    The lineitem scan goes through parallelize_degenerate_scan (r13): the
    driver's single-row-group test file otherwise plans the whole
    scan→probe→partial-agg stage as ONE task (star_revenue_rollup 2.12 →
    1.39 s at sf0.1 with the fix); any multi-partition scan is left alone
    (measured to lose at sf1) and production scans are a no-op. Exact
    decimal sums keep the result partitioning-order-free.
    """
    li = parallelize_degenerate_scan(
        spark, load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem"
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.where((F.col("l_quantity") > 0) & (F.col("l_extendedprice") >= 0))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )


FLAGSHIP_ORACLE = f"""
SELECT
  r_name AS region_name,
  n_name AS nation_name,
  COUNT(*) AS n_items,
  {sql_dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_net_revenue,
  {sql_davg("l_quantity")} AS avg_qty,
  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_items,
  CAST(ROUND(COALESCE(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10)) END), 0), 4) AS DOUBLE)
       AS urgent_discounted_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE l_quantity > 0 AND l_extendedprice >= 0
GROUP BY r_name, n_name
"""


@query("star_revenue_rollup", oracle=FLAGSHIP_ORACLE, bench=True)
def star_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: star join + grouped conditional rollup (A1+A2+J3+F13-15)."""
    disc_rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        star_join(spark, sf_dir)
        .withColumn("net_revenue", net_revenue("l_extendedprice", "l_discount", "l_tax"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count("*").alias("n_items"),
            dsum("net_revenue", "sum_net_revenue"),
            davg("l_quantity", "avg_qty"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "returned_items"
            ),
            dec2dbl(
                F.coalesce(
                    dec_sum(F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), disc_rev)),
                    F.lit(0).cast(DEC),
                )
            ).alias("urgent_discounted_revenue"),
        )
    )


PRICING_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum("l_quantity")} AS sum_qty,
  {sql_dsum("l_extendedprice")} AS sum_base_price,
  {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
  {sql_dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
  {sql_davg("l_quantity")} AS avg_qty,
  {sql_davg("l_extendedprice")} AS avg_price,
  {sql_davg("l_discount")} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", oracle=PRICING_ORACLE, bench=True)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the canonical grouped multi-agg (A1).

    One shuffle on (returnflag, linestatus); partial aggregation map-side.

    The lineitem scan goes through parallelize_degenerate_scan (r13): the
    single-row-group test file otherwise scans as ONE task, serializing the
    eight decimal partial aggregates onto one core (measured: sf0.1 read
    SLOWER than sf1, whose replica set has 8 files; with the fix 2.16 →
    1.31 s at sf0.1). Multi-partition scans are left alone — repartitioning
    sf1's 8-file scan was measured to lose. Exact decimal aggs are
    order-free.
    """
    li = parallelize_degenerate_scan(
        spark, load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem"
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


TOPK_ORACLE = f"""
SELECT c_custkey, c_name,
  {sql_dsum("o_totalprice")} AS total_spend,
  COUNT(*) AS n_orders
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 10
"""


@query("top_customers", oracle=TOPK_ORACLE)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 top-k: Spark plans TakeOrderedAndProject — no global sort at scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(dsum("o_totalprice", "total_spend"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


# --- local supplier volume (Q5 shape) -----------------------------------------

LOCAL_SUPPLIER_ORACLE = f"""
SELECT n_name AS nation_name,
       COUNT(*) AS n_items,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS local_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE s_nationkey = c_nationkey
GROUP BY n_name
"""


@query("local_supplier_volume", oracle=LOCAL_SUPPLIER_ORACLE)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue shipped by suppliers in the customer's own
    nation. Exercises the supplier dimension and a join-predicate filter
    (s_nationkey = c_nationkey) that prunes BEFORE the aggregation — Catalyst
    evaluates it at the supplier join, so mismatched rows never reach the
    shuffle. supplier/nation broadcast; lineitem⋈orders is the only big
    exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount")), "local_revenue"
            ),
        )
    )


# --- shipping-priority top-k (TPC-H Q3 shape) ----------------------------------

SHIPPING_PRIORITY_ORACLE = f"""
SELECT l_orderkey,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1996-07-01'
  AND l_shipdate  > DATE '1996-07-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("shipping_priority_topk", oracle=SHIPPING_PRIORITY_ORACLE, bench=True)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered 3-way join → per-order revenue →
    global top-10. The segment and the two date predicates all push to their
    scans, so the join probes a fraction of each table; the final ORDER BY +
    LIMIT plans as TakeOrderedAndProject (per-partition top-10 heaps, 10-row
    merge at the driver) — no global sort at any scale. The orderkey
    tie-break makes the top-k deterministic across engines.

    The lineitem join carries a shuffle_hash hint on the (customer-segment ×
    pre-cutoff orders) side: Spark's post-filter size estimate puts the
    shipdate-filtered LINEITEM under the broadcast threshold and builds a
    fact-side hash relation on the driver — a single-threaded multi-million
    row build that also vanishes above the threshold, changing the plan shape
    with scale. The hint pins SHJ BuildLeft at every SF (the orders side is
    the smaller at all of them), and the join's orderkey exchange then
    satisfies the groupBy's distribution requirement, so the aggregation runs
    partial+final with NO separate exchange. Measured interleaved warm A/B:
    sf0.1 1.29–2.07 s → 0.94–1.58 s, sf1 3.89–5.57 s → 1.49–2.89 s; rows
    bit-identical (exact decimal sums are partitioning-order-free)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1996-07-01").cast("date")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < cutoff)
        .hint("shuffle_hash")
        .join(li.where(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            # A plain decimal SUM, not dsum: this aggregate sees 1,467 rows
            # at sf0.05, and dsum's bigint-limb split adds about 0.12 s a
            # query to build, analyse and plan (about 300 expression nodes
            # against 37) to save about 1.4 µs a row.
            dec2dbl(
                F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- returned-item customer ranking (TPC-H Q10 shape) --------------------------

RETURNS_RANKING_ORACLE = f"""
SELECT c_custkey, c_name, n_name,
       {sql_dsum("l_extendedprice * (1.0 - l_discount)")} AS lost_revenue,
       COUNT(*) AS n_returned_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


@query("returned_customer_ranking", oracle=RETURNS_RANKING_ORACLE)
def returned_customer_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returns analysis — returnflag + order-date window
    pushed to the scans, nation broadcast, top-20 customers by lost revenue
    (TakeOrderedAndProject; custkey tie-break for determinism).

    Like shipping_priority_topk, the lineitem join carries a shuffle_hash
    hint on the (customer × date-window orders) side: Spark's post-filter
    estimate put the returnflag-filtered LINEITEM under the broadcast
    threshold and built the fact on the driver (and the shape flips to
    SMJ above the threshold). The hint pins SHJ with the smaller
    customer⋈orders side as build at every scale; exact decimal sums keep
    the result partitioning-order-free. Measured interleaved warm A/B:
    sf0.1 0.84–1.12 s → 0.81–0.86 s, sf1 1.92–2.00 s → 1.31–1.45 s."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("date"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .hint("shuffle_hash")
        .join(li.where(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "lost_revenue"),
            F.count("*").alias("n_returned_items"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


PRIORITY_COUNTS_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@query("order_priority_counts", oracle=PRIORITY_COUNTS_ORACLE)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: correlated EXISTS → LEFT SEMI join (J7 family).
    Returned-lineitem existence probe against a quarter of orders, counted
    per priority (the synthetic lineitem has no commit/receipt dates, so
    the EXISTS predicate is l_returnflag = 'R' — same plan shape). The
    date-range predicate pushes to the orders scan; the returnflag filter
    pushes to the lineitem scan; the semi-join stops probing an order at
    its first match, so no distinct/dedup pass is needed on the probe
    side."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --- ratio-to-report + ABC (Pareto) classification ------------------------------

SEGMENT_SHARE_ORACLE = """
WITH seg AS (
  SELECT c.c_mktsegment AS segment, n.n_name AS nation,
    CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) * 100, 0) AS BIGINT)
      AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT segment, nation, rev_cents,
  CAST(rev_cents AS DOUBLE)
    / CAST(SUM(rev_cents) OVER (PARTITION BY segment) AS BIGINT)
    AS share_of_segment,
  CAST(rev_cents AS DOUBLE) / CAST(SUM(rev_cents) OVER () AS BIGINT)
    AS share_of_total
FROM seg
"""


@query("segment_revenue_share", oracle=SEGMENT_SHARE_ORACLE)
def segment_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (segment, nation) cell's revenue as a share of
    its segment and of the grand total — the OLAP percent-of-total that
    needs window sums over the AGGREGATED frame, never a second fact scan.

    Integer-cent revenue makes both window sums exact BIGINTs; each share
    is one double division. The windows run over the |segments × nations|
    rollup (tiny at any fact scale)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)) * 100, 0)
            .cast("long")
            .alias("rev_cents")
        )
    )
    w_seg = Window.partitionBy("segment")
    w_all = Window.partitionBy()
    return seg.select(
        "segment",
        "nation",
        "rev_cents",
        (F.col("rev_cents").cast("double") / F.sum("rev_cents").over(w_seg)).alias(
            "share_of_segment"
        ),
        (F.col("rev_cents").cast("double") / F.sum("rev_cents").over(w_all)).alias(
            "share_of_total"
        ),
    )


ABC_ORACLE = """
WITH part_rev AS (
  SELECT l_partkey,
    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) * 100, 0) AS BIGINT)
      AS rev_cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev_cents,
    CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
    CAST(SUM(rev_cents) OVER () AS BIGINT) AS total_cents
  FROM part_rev
)
SELECT l_partkey, rev_cents,
  CAST(cum_cents AS DOUBLE) / total_cents AS cum_share,
  CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.8 THEN 'A'
       WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.95 THEN 'B'
       ELSE 'C' END AS abc_class
FROM ranked
"""


@query("abc_part_classification", oracle=ABC_ORACLE)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, cumulative
    share cut at 80% (A) and 95% (B) — the inventory-prioritization
    classic. The cumulative window runs over the PART-grain rollup
    (|parts| rows, not lineitems); its global ordering is the one thing
    ABC fundamentally requires, so the scale note is honest: at extreme
    |parts| this becomes the two-phase distributed prefix sum
    sequence_packing already implements — same recipe, bucket by revenue
    range instead of hash. Integer-cent cumulative sums, tie-broken on
    part key, shares as single divisions."""
    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.round(dec_sum("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("rev_cents")
    )
    w_cum = (
        Window.orderBy(F.desc("rev_cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    ranked = part_rev.select(
        "l_partkey",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).alias("cum_cents"),
        F.sum("rev_cents").over(w_all).alias("total_cents"),
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents")
    return ranked.select(
        "l_partkey",
        "rev_cents",
        share.alias("cum_share"),
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


# --- fulfillment lead-time SLA ---------------------------------------------------

SLA_DAYS = 30

LEAD_TIME_ORACLE = f"""
WITH lt AS (
  SELECT o.o_orderpriority,
    date_diff('day', o.o_orderdate, l.l_shipdate) AS lead_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
  COUNT(*) AS n_lines,
  CAST(SUM(lead_days) AS BIGINT) AS total_lead_days,
  CAST(SUM(lead_days) AS DOUBLE) / COUNT(*) AS avg_lead_days,
  quantile_cont(lead_days, 0.5) AS p50_lead_days,
  quantile_cont(lead_days, 0.95) AS p95_lead_days,
  CAST(SUM(CASE WHEN lead_days <= {SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_within_sla,
  CAST(SUM(CASE WHEN lead_days <= {SLA_DAYS} THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS sla_hit_rate
FROM lt GROUP BY o_orderpriority
"""


@query("fulfillment_lead_time", oracle=LEAD_TIME_ORACLE)
def fulfillment_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA analysis: order-date → ship-date lead time per
    priority class — average, exact p50/p95 (the tail the SLA is written
    against), and the ≤{SLA_DAYS}-day hit rate.

    Exactness: lead times are integer DAY diffs (datediff — identical
    calendar arithmetic in both engines), so every sum is a BIGINT and the
    exact interpolated percentiles ride the established sort+lerp parity
    (order_price_percentiles). One fact-side join (orders broadcastable at
    test SF, shuffle-hash at scale) and one priority-grain aggregate —
    percentile buffering is bounded because priority classes are a fixed
    enum (the same caveat + approx_percentile twin noted there)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lead_days"),
    )
    within = F.sum(F.when(F.col("lead_days") <= SLA_DAYS, 1).otherwise(0))
    return lt.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum("lead_days").alias("total_lead_days"),
        (F.sum("lead_days").cast("double") / F.count("*")).alias("avg_lead_days"),
        F.percentile("lead_days", 0.5).alias("p50_lead_days"),
        F.percentile("lead_days", 0.95).alias("p95_lead_days"),
        within.alias("n_within_sla"),
        (within.cast("double") / F.count("*")).alias("sla_hit_rate"),
    )
