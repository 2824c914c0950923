"""SCD Type 2 dimension pipeline + incremental merge (SURVEY.md §2 J1/J2/U1/
W1/P5/P6/S9 — the reference's signature logic).

Re-expresses macros/scd_type2_macro.sql (reference, 251 lines of Jinja-SQL)
as one composable DataFrame pipeline:

    dedup latest-wins (W1) → change_hash diff (F18+J1) →
    split changed/unchanged/new (J2) → expire + version + insert (U1)

Differences from the reference, by design:
- ``current_timestamp`` effective dates (macro line 97) are replaced by the
  update batch's own ``updated_at`` — deterministic, replayable, testable
  (SURVEY.md §7.4b).
- The MERGE sink is a separate concern (sources/sink.py): this function is a
  pure DataFrame → DataFrame transform, so Catalyst can fuse it with
  upstream/downstream plans.

Scale: one shuffle on the business key for the dedup window + one for the
join against the current slice. The current slice is usually ≪ history —
read it with ``is_current`` pushdown so the join input stays dimension-sized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expressions import change_hash
from ..queries import query
from ..sources.tables import load_table


def _hash_expr(tracked: Sequence[str | Column]) -> Column:
    return change_hash(*tracked)


def scd2_apply(
    existing: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: Sequence[str],
    updated_at: str = "updated_at",
    attrs: Sequence[str] | None = None,
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension, returning the new dim.

    ``existing`` must carry: attrs..., change_hash, effective_from,
    effective_to (null = current), is_current.
    ``updates`` must carry: attrs..., updated_at.
    ``tracked`` ⊆ attrs drives change detection; other attrs ride along.
    """
    attr_cols = [key, *(attrs or tracked)] if attrs else [key, *tracked]
    attr_cols = list(dict.fromkeys(attr_cols))  # key first, dedup

    # W1: latest-wins dedup inside the batch (macro lines 30-34).
    w = Window.partitionBy(key).orderBy(F.desc(updated_at))
    latest = (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("change_hash", _hash_expr(tracked))
    )

    history = existing.where(~F.col("is_current"))
    current = existing.where(F.col("is_current"))

    cur_keyed = current.select(
        F.col(key).alias("_k"),
        F.col("change_hash").alias("_cur_hash"),
        F.col("effective_from").alias("_cur_from"),
    )
    joined = latest.join(cur_keyed, latest[key] == cur_keyed["_k"], "left")

    # J1: changed = key exists and hash differs; J2: new = no current row.
    changed = joined.where(
        F.col("_k").isNotNull() & (F.col("change_hash") != F.col("_cur_hash"))
    )
    new = joined.where(F.col("_k").isNull())

    new_versions = changed.unionByName(new).select(
        *attr_cols,
        "change_hash",
        F.col(updated_at).alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )

    changed_keys = changed.select(
        F.col(key).alias("_ck"), F.col(updated_at).alias("_new_from")
    )
    # Expire the replaced versions (macro lines 70-78).
    expired = (
        current.join(changed_keys, current[key] == changed_keys["_ck"], "inner")
        .select(
            *attr_cols,
            "change_hash",
            "effective_from",
            F.col("_new_from").alias("effective_to"),
            F.lit(False).alias("is_current"),
        )
    )
    # J2 anti: current rows not touched by the batch pass through.
    unchanged = current.join(
        changed_keys, current[key] == changed_keys["_ck"], "left_anti"
    ).select(*attr_cols, "change_hash", "effective_from", "effective_to", "is_current")

    return (
        history.select(*attr_cols, "change_hash", "effective_from", "effective_to", "is_current")
        .unionByName(expired)
        .unionByName(unchanged)
        .unionByName(new_versions)
    )


def scd2_initial_load(
    src: DataFrame,
    key: str,
    tracked: Sequence[str],
    effective_from: str,
    attrs: Sequence[str] | None = None,
) -> DataFrame:
    """Initial SCD2 snapshot from a source extract."""
    carry = [c for c in dict.fromkeys(attrs or tracked) if c != key]
    return src.select(
        key,
        *carry,
        _hash_expr(tracked).alias("change_hash"),
        F.lit(effective_from).cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_integrity_violations(dim: DataFrame, key: str) -> DataFrame:
    """validate_scd_integrity (macro lines 202-251): keys with ≠1 current row,
    or gaps/overlaps between consecutive versions. Empty result = healthy."""
    cur = (
        dim.groupBy(key)
        .agg(F.sum(F.when(F.col("is_current"), 1).otherwise(0)).alias("n_current"))
        .where(F.col("n_current") != 1)
        .select(F.col(key).alias("violating_key"), F.lit("current_count").alias("violation"))
    )
    w = Window.partitionBy(key).orderBy("effective_from")
    gaps = (
        dim.withColumn("_prev_to", F.lag("effective_to").over(w))
        .where(F.col("_prev_to").isNotNull() & (F.col("_prev_to") != F.col("effective_from")))
        .select(F.col(key).alias("violating_key"), F.lit("gap_or_overlap").alias("violation"))
    )
    return cur.unionByName(gaps)


# ---------------------------------------------------------------------------
# Oracle-checked query: full SCD2 cycle on synthetic update batches derived
# from the customer table (FIXTURES.md §C mapping).
# ---------------------------------------------------------------------------

SCD2_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
    MD5(CONCAT_WS('-',
      COALESCE(c_name, '_null_'),
      COALESCE(c_mktsegment, '_null_'),
      COALESCE(CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR), '_null_'))) AS change_hash,
    TIMESTAMP '2020-01-01' AS effective_from,
    CAST(NULL AS TIMESTAMP) AS effective_to,
    TRUE AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal + 100.0 AS c_acctbal,
         TIMESTAMP '2021-06-01' AS updated_at
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_name, 'MACHINERY' AS c_mktsegment, c_acctbal,
         TIMESTAMP '2021-06-02' AS updated_at
  FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey, c_name, 'NEWSEG' AS c_mktsegment,
         0.0 AS c_acctbal, TIMESTAMP '2021-06-03' AS updated_at
  FROM customer WHERE c_custkey % 97 = 0
), latest AS (
  SELECT *, MD5(CONCAT_WS('-',
      COALESCE(c_name, '_null_'),
      COALESCE(c_mktsegment, '_null_'),
      COALESCE(CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS VARCHAR), '_null_'))) AS change_hash
  FROM (
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal, updated_at,
           ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY updated_at DESC) AS rn
    FROM upd) t
  WHERE rn = 1
), joined AS (
  SELECT l.*, b.change_hash AS cur_hash
  FROM latest l LEFT JOIN base b ON l.c_custkey = b.c_custkey
), changed AS (
  SELECT * FROM joined WHERE cur_hash IS NOT NULL AND change_hash != cur_hash
), new_rows AS (
  SELECT * FROM joined WHERE cur_hash IS NULL
), new_versions AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, change_hash,
         updated_at AS effective_from, CAST(NULL AS TIMESTAMP) AS effective_to,
         TRUE AS is_current
  FROM (SELECT * FROM changed UNION ALL SELECT * FROM new_rows) u
), expired AS (
  SELECT b.c_custkey, b.c_name, b.c_mktsegment, b.c_acctbal, b.change_hash,
         b.effective_from, c.updated_at AS effective_to, FALSE AS is_current
  FROM base b JOIN changed c ON b.c_custkey = c.c_custkey
), unchanged AS (
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM changed c WHERE c.c_custkey = b.c_custkey)
)
SELECT * FROM expired
UNION ALL SELECT * FROM unchanged
UNION ALL SELECT * FROM new_versions
"""


def _customer_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SCD2 update batches derived from customer (FIXTURES §C):
    acctbal bump for custkey%7, segment move for %13 (a day later — exercises
    the latest-wins dedup on the %91 overlap), brand-new keys for %97."""
    c = load_table(spark, sf_dir, "customer")
    bump = (
        c.where(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit("2021-06-01").cast("timestamp").alias("updated_at"),
        )
    )
    moveseg = (
        c.where(F.col("c_custkey") % 13 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.lit("MACHINERY").alias("c_mktsegment"),
            "c_acctbal",
            F.lit("2021-06-02").cast("timestamp").alias("updated_at"),
        )
    )
    newkeys = (
        c.where(F.col("c_custkey") % 97 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "c_name",
            F.lit("NEWSEG").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
            F.lit("2021-06-03").cast("timestamp").alias("updated_at"),
        )
    )
    return bump.unionByName(moveseg).unionByName(newkeys)


TRACKED = ["c_name", "c_mktsegment", "_acctbal_cents"]


def _with_cents(df: DataFrame) -> DataFrame:
    """Hash-stable money representation: floor(x*100) as bigint-string avoids
    double→string formatting differences across engines."""
    return df.withColumn(
        "_acctbal_cents", F.floor(F.col("c_acctbal") * 100).cast("bigint")
    )


@query("scd2_customer_dim", oracle=SCD2_ORACLE, bench=True)
def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD2 cycle: initial load at 2020-01-01, then one update batch with
    in-batch duplicates, attribute changes, no-op changes, and new keys."""
    c = load_table(spark, sf_dir, "customer")
    attrs = ["c_name", "c_mktsegment", "c_acctbal", "_acctbal_cents"]
    base = scd2_initial_load(
        _with_cents(c), "c_custkey", TRACKED, "2020-01-01 00:00:00", attrs=attrs
    )
    updates = _with_cents(_customer_updates(spark, sf_dir))
    dim = scd2_apply(base, updates, "c_custkey", TRACKED, "updated_at", attrs=attrs)
    # Project the public dim shape (drop the internal cents column); keep
    # c_acctbal itself out of the hash but in the row.
    attrs = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    return dim.select(
        *attrs, "change_hash", "effective_from", "effective_to", "is_current"
    )


# ---------------------------------------------------------------------------
# Incremental fact merge (P5 + S9): watermark delta + key-based upsert.
# ---------------------------------------------------------------------------

INCR_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 'baseline' AS load_source
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
), delta AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 'incremental' AS load_source
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
)
SELECT * FROM delta
UNION ALL
SELECT t.* FROM target t
WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = t.o_orderkey)
"""


@query("incremental_fact_merge", oracle=INCR_ORACLE)
def incremental_fact_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+S9: incremental MERGE semantics on plain DataFrames — delta rows win
    on key collision, untouched target rows survive (anti-join + union, the
    OSS-parquet fallback for Delta MERGE INTO; reference
    models/marts/facts/fact_sales_daily.sql:51-56 + dbt merge strategy).

    The overlapping year (1999) is deliberately restated by the delta.
    """
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    target = o.where(F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")).select(
        *cols, F.lit("baseline").alias("load_source")
    )
    delta = o.where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")).select(
        *cols, F.lit("incremental").alias("load_source")
    )
    survivors = target.join(delta.select("o_orderkey"), "o_orderkey", "left_anti")
    return delta.unionByName(survivors)


# --- CDC apply (Debezium-style op-log compaction) -----------------------------

# The events fixture plays a CDC topic: per user_id, 'signup' is the insert,
# 'purchase' an update carrying a new value, 'error' a delete tombstone. The
# operator is generic over any (key, seq, op, payload) change log.
_CDC_OPS = {"signup": "I", "purchase": "U", "error": "D"}

CDC_APPLY_ORACLE = """
WITH ops AS (
  SELECT user_id, ts, event_id, value,
    CASE event_type WHEN 'signup' THEN 'I'
                    WHEN 'purchase' THEN 'U'
                    ELSE 'D' END AS op
  FROM events WHERE event_type IN ('signup', 'purchase', 'error')
), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM ops
)
SELECT user_id, n_changes, ts AS last_ts, op AS last_op,
  op <> 'D' AS is_live,
  CASE WHEN op <> 'D' THEN value END AS current_value
FROM ranked WHERE rn = 1
"""


@query("cdc_apply", oracle=CDC_APPLY_ORACLE)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: reduce an insert/update/delete change stream to
    current state per key — last op wins by (seq, id), delete tombstones
    keep the key visible with ``is_live = false`` and a NULL payload (the
    consumer decides whether to drop or retain tombstones; dropping them
    silently is how downstream mirrors resurrect deleted rows on the next
    full sync). This is the batch half of the Debezium→merge pattern; the
    streaming half is streaming/incremental.py's foreachBatch MERGE.

    Scale shape: one key-partitioned window ranks the log (no global
    order); at 100 TB the log is typically date-partitioned and this
    compaction runs per partition-window with identical semantics."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(*_CDC_OPS)
    )
    op = F.element_at(
        F.create_map(*[F.lit(x) for kv in _CDC_OPS.items() for x in kv]),
        F.col("event_type"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = e.select("user_id", "ts", "event_id", "value", op.alias("op")) \
        .withColumn("rn", F.row_number().over(w)) \
        .withColumn("n_changes", F.count("*").over(Window.partitionBy("user_id")))
    live = F.col("op") != "D"
    return ranked.where(F.col("rn") == 1).select(
        "user_id",
        "n_changes",
        F.col("ts").alias("last_ts"),
        "op",
        live.alias("is_live"),
        F.when(live, F.col("value")).alias("current_value"),
    ).withColumnRenamed("op", "last_op")


# ---------------------------------------------------------------------------
# Temporal (point-in-time) dimension join: facts ⋈ the SCD2 version valid
# at fact time.
# ---------------------------------------------------------------------------

SCD2_PIT_ORACLE = f"""
WITH dim AS ({SCD2_ORACLE}),
facts AS (
  SELECT o_custkey, o_orderdate + INTERVAL 22 YEAR AS fact_ts FROM orders
)
SELECT COALESCE(d.c_mktsegment, '(pre-history)') AS segment_at_fact_time,
       COUNT(*) AS n_facts,
       COUNT(DISTINCT f.o_custkey) AS n_customers
FROM facts f LEFT JOIN dim d
  ON f.o_custkey = d.c_custkey
 AND f.fact_ts >= d.effective_from
 AND (d.effective_to IS NULL OR f.fact_ts < d.effective_to)
GROUP BY 1
"""


@query("scd2_temporal_join", oracle=SCD2_PIT_ORACLE)
def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kimball point-in-time dimension join: each fact row picks the
    SCD2 dimension VERSION valid at fact time (effective_from ≤ t <
    effective_to, open-ended current), not the current row — the query
    "what segment was this customer in WHEN they ordered", which is the
    entire reason versioned dimensions exist. Facts are the orders table
    staged onto the dim's timeline (+22 years, straddling both the 2020
    initial load and the 2021-06 segment-move boundary, so version
    selection has real work: the %13 segment-movers' facts split across
    versions, and pre-2020 facts fall off the front as '(pre-history)').

    Spark-first shape: the validity predicate rides as a residual
    condition on the c_custkey equi hash join — NO range-join blowup; the
    SCD2 invariant (disjoint version intervals per key) guarantees ≤ 1
    match per fact so the left join never fans out. At 100 TB both sides
    hash on the dim key the fact table is already bucketed by. Reference
    parity: macros/scd_type2_macro.sql builds the versions but the
    reference never joins them temporally — its marts only filter
    is_current (dim_customer.sql:16)."""
    dim = scd2_customer_dim(spark, sf_dir)
    facts = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("timestampadd(YEAR, 22, o_orderdate)").alias("fact_ts"),
    )
    cond = (
        (facts["o_custkey"] == dim["c_custkey"])
        & (facts["fact_ts"] >= dim["effective_from"])
        & (dim["effective_to"].isNull() | (facts["fact_ts"] < dim["effective_to"]))
    )
    return (
        facts.join(dim, cond, "left")
        .groupBy(
            F.coalesce("c_mktsegment", F.lit("(pre-history)")).alias(
                "segment_at_fact_time"
            )
        )
        .agg(
            F.count("*").alias("n_facts"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
