"""Extension operators beyond the reference surface (SURVEY.md §2.3 "absent —
noted for build plan", §2.4 A19 note, §2.5 absent-frames note): as-of join,
range/bucket lookup join, ROLLUP grouping sets, full window-frame functions,
stratified sampling.

The reference has none of these (its engine is Snowflake SQL authored via
dbt, reference macros/scd_type2_macro.sql + models/), but a user scaling the
same warehouse to event data needs them; each is expressed in the shape that
survives 100 TB — partition-local windows instead of point lookups, bucket
equi-joins instead of theta joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import davg, sql_davg, sql_dsum
from ..functions.deterministic import dec2dbl_s
from ..queries import query
from ..sources.tables import load_table

# --- as-of join ---------------------------------------------------------------

ASOF_ORACLE = """
SELECT c.event_id AS click_event_id,
       c.user_id,
       c.ts AS click_ts,
       v.ts AS view_ts,
       date_diff('microsecond', v.ts, c.ts) AS micros_since_view
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""


@query("asof_click_attribution", oracle=ASOF_ORACLE, bench=True)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the latest view at-or-before it by
    the same user (classic attribution).

    Spark has no ASOF keyword; the scalable formulation is union + one
    partition-local window: tag views 0 / clicks 1, sort within user by
    (ts, tag) — views first on ties, giving the inclusive ``v.ts <= c.ts``
    semantics — and carry the last non-null view ts forward. ONE shuffle on
    user_id, no join at all; a sort-merge as-of join would shuffle the same
    rows and then still need the per-user ordering."""
    e = load_table(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        "user_id",
        F.lit(None).cast("long").alias("click_event_id"),
        F.col("ts").alias("ts"),
        F.col("ts").alias("view_ts"),
        F.lit(0).alias("tag"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("ts"),
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = views.unionByName(clicks).withColumn(
        "last_view_ts", F.last("view_ts", ignorenulls=True).over(w)
    )
    return merged.where(F.col("tag") == 1).select(
        "click_event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("last_view_ts").alias("view_ts"),
        (F.unix_micros("ts") - F.unix_micros("last_view_ts")).alias(
            "micros_since_view"
        ),
    )


# --- range / bucket lookup join ----------------------------------------------

BIN_WIDTH = 25.0
N_BINS = 40  # covers [0, 1000) — events.value is [0, ~560]

RANGE_BIN_ORACLE = f"""
WITH bins AS (
  SELECT i AS bin_id,
         CAST(i * {BIN_WIDTH} AS DOUBLE) AS lo,
         CAST((i + 1) * {BIN_WIDTH} AS DOUBLE) AS hi
  FROM (SELECT unnest(range(0, {N_BINS})) AS i)
)
SELECT b.bin_id, b.lo, b.hi,
       COUNT(*) AS n_events,
       {sql_dsum("e.value")} AS sum_value
FROM events e
JOIN bins b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.bin_id, b.lo, b.hi
"""


@query("range_bin_lookup", oracle=RANGE_BIN_ORACLE)
def range_bin_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-lookup join: each event matched to the interval [lo, hi)
    containing its value.

    The oracle writes it as a theta join (``value >= lo AND value < hi``) —
    O(n·m) at scale. Here the intervals are fixed-width, so the scalable
    plan derives the bucket key arithmetically and equi-joins:
    ``floor(value / width) = bin_id``. For variable-width intervals the same
    pattern holds with each interval exploded to the buckets it overlaps.
    The bin dim is built from ``sequence`` and broadcast."""
    from ..functions.deterministic import dsum

    e = load_table(spark, sf_dir, "events")
    bins = spark.range(N_BINS).select(
        F.col("id").cast("int").alias("bin_id"),
        (F.col("id") * BIN_WIDTH).alias("lo"),
        ((F.col("id") + 1) * BIN_WIDTH).alias("hi"),
    )
    probe = e.withColumn("bin_id", F.floor(F.col("value") / BIN_WIDTH).cast("int"))
    return (
        probe.join(F.broadcast(bins), "bin_id")
        .where((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("bin_id", "lo", "hi")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
    )


# --- grouping sets / rollup ---------------------------------------------------

ROLLUP_ORACLE = f"""
SELECT EXTRACT(year FROM o_orderdate) AS order_year,
       o_orderstatus,
       GROUPING(EXTRACT(year FROM o_orderdate)) AS grp_year,
       GROUPING(o_orderstatus) AS grp_status,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_revenue
FROM orders
GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate), o_orderstatus)
"""


@query("order_rollup_hierarchy", oracle=ROLLUP_ORACLE, bench=True)
def order_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, status): per-(year,status), per-year, and grand-total
    rows in one pass — Spark plans a single Expand + hash aggregate, so the
    hierarchy costs one shuffle, not three queries. GROUPING() markers
    disambiguate real NULLs from rolled-up levels."""
    from ..functions.deterministic import dsum

    o = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").alias("order_year")
    return (
        o.select(year, "o_orderstatus", "o_totalprice")
        .rollup("order_year", "o_orderstatus")
        .agg(
            F.grouping("order_year").cast("bigint").alias("grp_year"),
            F.grouping("o_orderstatus").cast("bigint").alias("grp_status"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_revenue"),
        )
        .select(
            "order_year",
            "o_orderstatus",
            "grp_year",
            "grp_status",
            "n_orders",
            "total_revenue",
        )
    )


# --- full window-frame surface -------------------------------------------------

FRAMES_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderdate,
  LAG(o_totalprice) OVER w AS prev_price,
  LEAD(o_totalprice) OVER w AS next_price,
  FIRST_VALUE(o_totalprice) OVER w AS first_price,
  LAST_VALUE(o_totalprice)
    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
  (CAST(FLOOR(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) - FLOOR(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)) AS DOUBLE))
    AS running_spend,
  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("order_window_frames", oracle=FRAMES_ORACLE, bench=True)
def order_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window functions the reference never uses (SURVEY.md §2.5 absent
    note): lead / first_value / last_value with explicit ROWS frames, rank,
    dense_rank, and an exact running sum (decimal-summed — frame order is
    deterministic, so only representation needs hardening). All frames hang
    off ONE partitioning (o_custkey): a single shuffle serves seven
    functions."""
    o = load_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = seq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.lag("o_totalprice").over(seq).alias("prev_price"),
        F.lead("o_totalprice").over(seq).alias("next_price"),
        F.first("o_totalprice").over(seq).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        # a windowed sum: dec_sum is several aggregates and cannot take .over()
        dec2dbl_s(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).over(run), 4
        ).alias("running_spend"),
        F.rank()
        .over(Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice")))
        .cast("bigint")
        .alias("price_rank"),
        F.dense_rank()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderpriority"))
        .cast("bigint")
        .alias("prio_rank"),
    )


# --- stratified sampling -------------------------------------------------------

# per-stratum keep fractions out of 16 (first md5 nibble < threshold)
STRATA_KEEP = {"1-URGENT": 8, "2-HIGH": 4, "3-MEDIUM": 2, "4-NOT SPECIFIED": 1, "5-LOW": 1}

_STRATA_CASE = " ".join(
    f"WHEN o_orderpriority = '{k}' THEN {v}" for k, v in STRATA_KEEP.items()
)

STRATIFIED_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
FROM orders
WHERE CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1)) AS INT)
      < (CASE {_STRATA_CASE} ELSE 0 END)
"""


@query("stratified_order_sample", oracle=STRATIFIED_ORACLE)
def stratified_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 extended to ``sampleBy`` semantics, made reproducible across
    engines: per-stratum keep fractions decided by a hash of the row key
    (md5 first nibble), not an RNG — the sample is stable under re-runs,
    partitioning, and engine choice, which is what a training pipeline
    actually wants from stratified sampling. The predicate is scan-pushed."""
    o = load_table(spark, sf_dir, "orders")
    nibble = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1), 16, 10).cast("int")
    threshold = F.when(F.lit(False), 0)
    for k, v in STRATA_KEEP.items():
        threshold = threshold.when(F.col("o_orderpriority") == k, v)
    return o.where(nibble < threshold.otherwise(0)).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )


# --- CUBE ----------------------------------------------------------------------

CUBE_ORACLE = f"""
SELECT o_orderpriority, o_orderstatus,
       GROUPING(o_orderpriority) AS grp_prio,
       GROUPING(o_orderstatus) AS grp_status,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


@query("order_cube", oracle=CUBE_ORACLE)
def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (priority, status): all 2² grouping combinations in one Expand
    pass — with ROLLUP (order_rollup_hierarchy) this completes the grouping-
    sets surface SURVEY §2.4 notes as absent from the reference."""
    from ..functions.deterministic import dsum

    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", "o_orderstatus", "o_totalprice")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("bigint").alias("grp_prio"),
            F.grouping("o_orderstatus").cast("bigint").alias("grp_status"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_revenue"),
        )
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "grp_prio",
            "grp_status",
            "n_orders",
            "total_revenue",
        )
    )


# --- PIVOT ---------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

PIVOT_ORACLE = """
SELECT user_id,
  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY user_id
"""


@query("event_type_pivot", oracle=PIVOT_ORACLE)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event-type counts as columns. The explicit value list
    matters at scale — with it, Spark pivots in a single Expand+aggregate
    pass with no distinct-values pre-query (an implicit pivot first runs a
    blocking `SELECT DISTINCT event_type` over the full table). The oracle
    is the equivalent conditional-aggregation form (A2), which is exactly
    the rewrite Spark's analyzer performs."""
    e = load_table(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    # pivot emits nullable counts (null = no rows in that cell); conform to
    # the oracle's COUNT(CASE...) = 0 semantics... COUNT(CASE) returns 0,
    # pivot-count returns null — coalesce to 0 for hash parity.
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


# --- EXPLODE / lateral view ----------------------------------------------------

TOKEN_FREQ_ORACLE = """
SELECT w AS token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
WHERE LEN(w) >= 3
GROUP BY w
HAVING COUNT(*) >= 5
"""


@query("token_frequencies", oracle=TOKEN_FREQ_ORACLE, bench=True)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLODE (lateral view) over the tokenized corpus → vocabulary with
    document frequencies — the corpus-statistics primitive behind TF-IDF
    and BPE vocabulary induction. explode() multiplies rows ~170× here;
    the length filter runs BEFORE the shuffle (partial aggregation on the
    map side), so the exchange carries (token, partial-count) pairs, not
    raw occurrences. At 100 TB the groupBy key space is the vocabulary
    (~millions), far smaller than the corpus — this shape scales."""
    d = load_table(spark, sf_dir, "documents")
    # explode_OUTER: avoids the inferred size(split)>0/isnotnull filter
    # re-evaluating the split below the exchange (see
    # dedup._ngram_pair_partials); the length filter drops the NULL row.
    toks = d.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("token")
    )
    return (
        toks.where(F.length("token") >= 3)
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= 5)
    )


# --- GROUPING SETS (explicit) --------------------------------------------------

GROUPING_SETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) AS grp_status,
       GROUPING(o_orderpriority) AS grp_prio,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("order_grouping_sets", oracle=GROUPING_SETS_ORACLE)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third grouping-set form beside ROLLUP
    (order_rollup_hierarchy) and CUBE (order_cube): two independent
    single-dimension rollups + grand total in ONE Expand pass over the scan,
    where separate GROUP BYs + UNION would scan the fact table three times."""
    from ..functions.deterministic import dsum

    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority", "o_totalprice")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("grp_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("grp_prio"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_revenue"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "grp_status", "grp_prio",
            "n_orders", "total_revenue",
        )
    )


# --- distribution-rank window functions --------------------------------------

RANK_DIST_ORACLE = """
SELECT o_orderkey, o_custkey,
  percent_rank() OVER w AS price_pct_rank,
  cume_dist() OVER w AS price_cume_dist,
  CAST(ntile(4) OVER w AS BIGINT) AS spend_quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


@query("order_rank_distributions", oracle=RANK_DIST_ORACLE)
def order_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile per customer — the distribution-rank
    window family (absent from the reference; SURVEY.md §2.5 note). One
    partitioning serves all three. The ORDER BY is tie-broken on o_orderkey
    because ntile assigns by row position: without a total order the
    quartile of tied rows is partition-luck, with it the result is
    deterministic in any engine."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
        F.ntile(4).over(w).cast("bigint").alias("spend_quartile"),
    )


# --- UNPIVOT / melt ------------------------------------------------------------

_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

UNPIVOT_ORACLE = f"""
WITH long AS (
  {" UNION ALL ".join(f"SELECT '{m}' AS measure, {m} AS value FROM lineitem" for m in _MEASURES)}
)
SELECT measure, COUNT(*) AS n_rows, {sql_davg("value")} AS avg_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM long GROUP BY measure
"""


@query("lineitem_measure_unpivot", oracle=UNPIVOT_ORACLE)
def lineitem_measure_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt) + per-measure profile: the inverse of
    `event_type_pivot`, turning the four lineitem measures into
    (measure, value) rows, then one grouped rollup per measure — the
    schema-on-the-fly reshape feature stores and profilers run before
    per-feature statistics.

    Spark plans df.unpivot as a single Expand over the scan — each row is
    read ONCE and emits |measures| rows map-side (no join, no repeated
    scan), then the rollup is a 4-group partial agg; the ANSI mirror is the
    classic UNION ALL formulation, which DuckDB scans per branch. Mean goes
    through the decimal-exact davg (order-independent); min/max/count are
    exact in any engine."""
    li = load_table(spark, sf_dir, "lineitem").select(*_MEASURES)
    long = li.unpivot([], list(_MEASURES), "measure", "value")
    return long.groupBy("measure").agg(
        F.count("*").alias("n_rows"),
        davg("value", "avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --- funnel conversion (ordered-sequence product analytics) --------------------

FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t_first_view
  FROM events GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_first_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_first_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_first_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_first_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_first_view, c.t_first_click, p.t_first_purchase,
  CAST(CASE WHEN p.t_first_purchase IS NOT NULL THEN 3
            WHEN c.t_first_click IS NOT NULL THEN 2
            WHEN v.t_first_view IS NOT NULL THEN 1
            ELSE 0 END AS INT) AS reached_stage
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
"""


@query("funnel_conversion", oracle=FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click → purchase): per user, the
    first view, the first click STRICTLY AFTER that view, and the first
    purchase strictly after that click — the stage-ordering semantics that
    separate a funnel from three independent MINs (a purchase before the
    first view must NOT convert).

    Spark-first shape: ONE scan, ONE shuffle — events fold into a per-user
    time-sorted struct array and a single F.aggregate lambda walks it
    carrying (t_view, t_click, t_purchase) state; the per-user array is
    session-sized (bounded by per-user activity, the same assumption every
    sessionizer here makes). The oracle states identical semantics in the
    staged-CTE form (three passes) — Spark runs the single-pass plan, DuckDB
    the relational one, and the results must agree exactly."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    state = F.aggregate(
        F.col("evs"),
        F.struct(
            F.lit(None).cast("timestamp").alias("tv"),
            F.lit(None).cast("timestamp").alias("tc"),
            F.lit(None).cast("timestamp").alias("tp"),
        ),
        lambda acc, ev: F.struct(
            F.when(
                acc["tv"].isNull() & (ev["event_type"] == "view"), ev["ts"]
            ).otherwise(acc["tv"]).alias("tv"),
            F.when(
                acc["tc"].isNull()
                & acc["tv"].isNotNull()
                & (ev["event_type"] == "click")
                & (ev["ts"] > acc["tv"]),
                ev["ts"],
            ).otherwise(acc["tc"]).alias("tc"),
            F.when(
                acc["tp"].isNull()
                & acc["tc"].isNotNull()
                & (ev["event_type"] == "purchase")
                & (ev["ts"] > acc["tc"]),
                ev["ts"],
            ).otherwise(acc["tp"]).alias("tp"),
        ),
    )
    out = per_user.select("user_id", state.alias("s")).where(
        F.col("s.tv").isNotNull()
    )
    return out.select(
        "user_id",
        F.col("s.tv").alias("t_first_view"),
        F.col("s.tc").alias("t_first_click"),
        F.col("s.tp").alias("t_first_purchase"),
        F.when(F.col("s.tp").isNotNull(), 3)
        .when(F.col("s.tc").isNotNull(), 2)
        .otherwise(1)
        .cast("int")
        .alias("reached_stage"),
    )


# --- cohort retention ----------------------------------------------------------

COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS activity_week
  FROM events
)
SELECT f.cohort_week,
  date_diff('day', f.cohort_week, a.activity_week) // 7 AS week_offset,
  COUNT(DISTINCT a.user_id) AS n_active_users
FROM activity a JOIN firsts f ON f.user_id = a.user_id
GROUP BY f.cohort_week, week_offset
"""


@query("cohort_retention", oracle=COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week, counted
    distinct in each subsequent activity week (offset 0 = the cohort's own
    week) — the classic warehouse retention triangle.

    Scale shape: both the cohort assignment and the distinct-activity set
    aggregate on user_id, so the join of the two is co-partitioned — ONE
    user_id exchange serves cohort agg, distinct, and join; only the final
    tiny (cohort × offset) rollup reshuffles. No window over a global
    ordering anywhere."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("activity_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff("activity_week", "cohort_week") / 7
            ).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


# --- recursive hierarchy traversal (BOM / org-chart rollup) --------------------

# Spark has no recursive CTE; the engine supplies the missing capability as
# an iterative ancestor-expansion loop (the CONNECT BY / WITH RECURSIVE
# workload every enterprise DW runs for BOM explosions and org rollups).
# The part table plays a BOM: part p's assembly parent is p // 2, root 0.

HIERARCHY_ORACLE = """
WITH RECURSIVE anc(node, ancestor, dist) AS (
  SELECT p_partkey, p_partkey // 2, 1 FROM part WHERE p_partkey >= 1
  UNION ALL
  SELECT a.node, a.ancestor // 2, a.dist + 1 FROM anc a WHERE a.ancestor >= 1
), depths AS (
  SELECT node, MAX(dist) AS depth FROM anc GROUP BY node
), subtree AS (
  SELECT ancestor, COUNT(*) AS n_descendants FROM anc GROUP BY ancestor
)
SELECT p.p_partkey, COALESCE(d.depth, 0) AS depth,
  COALESCE(s.n_descendants, 0) + 1 AS subtree_size
FROM part p
LEFT JOIN depths d ON d.node = p.p_partkey
LEFT JOIN subtree s ON s.ancestor = p.p_partkey
"""


@query("part_hierarchy_rollup", oracle=HIERARCHY_ORACLE)
def part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy rollup WITHOUT a recursive CTE: per node, its
    depth (distance to the root) and subtree size (descendants + self) —
    the BOM-explosion / org-chart aggregate. The ancestor set is built by
    an iterative frontier loop (each round joins the still-climbing
    frontier to the parent link and localCheckpoints to keep the plan O(1)
    deep), terminating at the root: O(depth) rounds, and real hierarchies
    are shallow (BOM ≈ 10–20 levels) while arbitrarily WIDE — the width is
    what Spark parallelizes. The DuckDB oracle states the same traversal
    as WITH RECURSIVE; both aggregate the identical (node, ancestor, dist)
    closure. At 100 TB the closure is |nodes|·depth rows — linear in the
    hierarchy, never quadratic, because paths to the root are unique in a
    tree."""
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    links = p.where(F.col("p_partkey") >= 1).select(
        F.col("p_partkey").alias("node"),
        (F.col("p_partkey") / 2).cast("bigint").alias("ancestor"),
        F.lit(1).alias("dist"),
    )
    closure = links.localCheckpoint()
    frontier = closure
    while True:
        nxt = frontier.where(F.col("ancestor") >= 1).select(
            "node",
            (F.col("ancestor") / 2).cast("bigint").alias("ancestor"),
            (F.col("dist") + 1).alias("dist"),
        )
        if nxt.limit(1).count() == 0:
            break
        nxt = nxt.localCheckpoint()
        closure = closure.unionByName(nxt)
        frontier = nxt
    depths = closure.groupBy("node").agg(F.max("dist").alias("depth"))
    subtree = closure.groupBy("ancestor").agg(
        F.count("*").alias("n_descendants")
    )
    return (
        p.join(depths, p.p_partkey == depths.node, "left")
        .join(subtree, p.p_partkey == subtree.ancestor, "left")
        .select(
            "p_partkey",
            F.coalesce("depth", F.lit(0)).alias("depth"),
            (F.coalesce("n_descendants", F.lit(0)) + 1).alias("subtree_size"),
        )
    )


# --- per-group top-k via salted two-phase selection ---------------------------

GROUP_TOPK_K = 20
GROUP_TOPK_SALTS = 32

GROUP_TOPK_ORACLE = f"""
WITH keyed AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
    CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || '#gtk'), 1, 15))
      AS BIGINT) AS u
  FROM orders
)
SELECT o_orderpriority, o_orderkey, o_totalprice,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY o_orderpriority ORDER BY u, o_orderkey
       ) AS BIGINT) AS rk
FROM keyed
QUALIFY rk <= {GROUP_TOPK_K}
"""


@query("stratum_topk_sample", oracle=GROUP_TOPK_ORACLE)
def stratum_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample PER STRATUM (k smallest portable-hash draws
    per order priority) — the per-group counterpart of
    `weighted_doc_sample`'s global Efraimidis–Spirakis, and the general
    per-group top-k pattern.

    The naive form is one window `PARTITION BY stratum` — with 5 strata
    that funnels the whole table through 5 tasks, the classic low-
    cardinality-key skew killer. This runs the algebraically identical
    two-phase selection instead: phase 1 ranks within (stratum, salt) —
    a BALANCED exchange across stratum×{GROUP_TOPK_SALTS} keys — keeping
    k per salted cell; phase 2 re-ranks the ≤ k×{GROUP_TOPK_SALTS}
    survivors per stratum (tiny). Top-k of a union of per-cell top-ks IS
    the global per-stratum top-k, so the result is exactly the naive
    window's — which is what the oracle states and checks."""
    from .dedup import portable_hash64

    o = load_table(spark, sf_dir, "orders")
    u = portable_hash64(F.col("o_orderkey").cast("string"), "gtk").alias("u")
    keyed = o.select("o_orderpriority", "o_orderkey", "o_totalprice", u).withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(GROUP_TOPK_SALTS))
    )
    local_w = Window.partitionBy("o_orderpriority", "salt").orderBy("u", "o_orderkey")
    survivors = keyed.withColumn("lrk", F.row_number().over(local_w)).where(
        F.col("lrk") <= GROUP_TOPK_K
    )
    final_w = Window.partitionBy("o_orderpriority").orderBy("u", "o_orderkey")
    return (
        survivors.withColumn("rk", F.row_number().over(final_w).cast("bigint"))
        .where(F.col("rk") <= GROUP_TOPK_K)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


# --- market-basket association rules ------------------------------------------

MB_MIN_SUPPORT = 3  # minimum co-occurrence count for a rule

BASKET_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), item_counts AS (
  SELECT l_partkey, COUNT(*) AS item_n FROM baskets GROUP BY l_partkey
), n_orders AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
), pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS pair_n
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {MB_MIN_SUPPORT}
)
SELECT p.item_a, p.item_b, p.pair_n,
  ia.item_n AS n_a, ib.item_n AS n_b,
  CAST(p.pair_n AS DOUBLE) / (SELECT n FROM n_orders) AS support,
  CAST(p.pair_n AS DOUBLE) / ia.item_n AS confidence_a_to_b,
  (CAST(p.pair_n AS DOUBLE) / ia.item_n)
    / (CAST(ib.item_n AS DOUBLE) / (SELECT n FROM n_orders)) AS lift
FROM pairs p
JOIN item_counts ia ON ia.l_partkey = p.item_a
JOIN item_counts ib ON ib.l_partkey = p.item_b
"""


@query("association_rules", oracle=BASKET_ORACLE)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (the classic co-purchase analytic):
    support / confidence / lift for item pairs co-occurring in ≥
    MB_MIN_SUPPORT orders.

    Scale shape: co-occurrence pairs come from GROUPED PER-BASKET i<j
    emission over each order's sorted distinct item list — fan-out is
    |basket|², bounded by the largest basket (TPC-H ≤ 7 lines; retail
    baskets ~10¹-10²), never |catalog|². A basket-id self-join states the
    same semantics (the oracle's form) but shuffles the basket table
    twice; the grouped form is one l_orderkey exchange + one pair
    aggregate. Item counts broadcast back; the basket total is a LAZY 1-row
    broadcast crossJoin (never an eager driver count — query builders stay
    plan-only until an action). Ratios are single IEEE division chains over
    exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    items = F.array_sort(F.collect_set("l_partkey"))
    grouped = baskets.groupBy("l_orderkey").agg(items.alias("items"))
    arr = F.col("items")
    n = F.size(arr)
    pair_arrays = F.transform(
        arr,
        lambda x, i: F.transform(
            F.slice(arr, i + F.lit(2), n - i - F.lit(1)),
            lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
        ),
    )
    pairs = (
        # explode_OUTER + isNotNull — a plain explode makes the optimizer
        # infer size(...)>0/isnotnull over the whole pair-emission lambda
        # chain and evaluate it 3× per basket (see dedup._ngram_pair_partials)
        grouped.where(F.size("items") >= 2)
        .select(F.explode_outer(F.flatten(pair_arrays)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.*")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_n"))
        .where(F.col("pair_n") >= MB_MIN_SUPPORT)
    )
    item_counts = baskets.groupBy("l_partkey").agg(F.count("*").alias("item_n"))
    # the basket total joins in LAZILY as a broadcast 1-row frame (an eager
    # .count() here would run a real job at plan-build time and recompute
    # the basket shuffle twice); countDistinct over the scan keeps it off
    # the grouped lineage
    totals = li.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    ia = item_counts.select(
        F.col("l_partkey").alias("item_a"), F.col("item_n").alias("n_a")
    )
    ib = item_counts.select(
        F.col("l_partkey").alias("item_b"), F.col("item_n").alias("n_b")
    )
    conf = F.col("pair_n").cast("double") / F.col("n_a")
    total = F.col("n_baskets")
    return (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            (F.col("pair_n").cast("double") / total).alias("support"),
            conf.alias("confidence_a_to_b"),
            (conf / (F.col("n_b").cast("double") / total)).alias("lift"),
        )
    )


# --- multi-touch attribution --------------------------------------------------

ATTR_WINDOW_MIN = 240  # lookback window per purchase (4 h)

MULTITOUCH_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id, ts,
    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
), pairs AS (
  SELECT p.event_id AS pid, v.event_id AS vid, p.cents,
    COUNT(*) OVER (PARTITION BY p.event_id) AS n_views
  FROM p JOIN v ON v.user_id = p.user_id
    AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL {ATTR_WINDOW_MIN} MINUTE
)
SELECT vid AS view_event_id,
  CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
  CAST(SUM((cents * 1000000) // n_views) AS BIGINT) AS credit_micro_cents
FROM pairs GROUP BY vid
"""


@query("multitouch_attribution", oracle=MULTITOUCH_ORACLE)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each purchase's value splits evenly
    across the user's views in the preceding ATTR_WINDOW_MIN minutes (the multi-touch
    counterpart of asof_click_attribution's last-touch join).

    Exactness: purchase value folds to integer cents (F.round half-up, the
    repo's money form), each view's share is integer floor-division in
    MICRO-cents, and per-view totals are BIGINT sums — deterministic under
    any aggregation order; the sub-micro-cent floored remainder is
    deliberately dropped (same documented contract as PageRank's mass).

    Scale shape: ONE user_id exchange builds each user's sorted event
    array; per purchase, the qualifying views come from an array filter
    (bounded by per-user event counts, the same envelope every session
    operator here lives in) and credits explode straight into the final
    integer rollup — no time-range join, no per-purchase window."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    ev = e.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("ts_us"),
            F.col("event_id").alias("event_id"),
            F.col("event_type").alias("etype"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).alias("s"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("s")).alias("evs")
    )
    evs = F.col("evs")
    win_us = ATTR_WINDOW_MIN * 60 * 1_000_000
    purchases = F.filter(evs, lambda x: x["etype"] == F.lit("purchase"))
    credit_arrays = F.transform(
        purchases,
        lambda p: F.transform(
            F.filter(
                evs,
                lambda v: (v["etype"] == F.lit("view"))
                & (v["ts_us"] < p["ts_us"])
                & (v["ts_us"] >= p["ts_us"] - F.lit(win_us)),
            ),
            lambda v: F.struct(
                v["event_id"].alias("view_event_id"),
                p["cents"].alias("cents"),
            ),
        ),
    )
    touches = (
        per_user.select(F.explode(credit_arrays).alias("per_p"))
        .where(F.size("per_p") > 0)
        .select(F.size("per_p").alias("n_views"), F.explode("per_p").alias("t"))
        .select(
            F.col("t.view_event_id").alias("view_event_id"),
            F.expr("t.cents * 1000000 div n_views").alias("credit"),
        )
    )
    return touches.groupBy("view_event_id").agg(
        F.count("*").alias("n_purchases_touched"),
        F.sum("credit").alias("credit_micro_cents"),
    )
