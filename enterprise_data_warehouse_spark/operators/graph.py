"""Graph analytics over warehouse relations: bipartite PageRank on the
part↔supplier supply graph derived from lineitem.

The reference has no graph operators (SURVEY.md §1.1 "no graphs"); this is
a driver-mandated-extension family member alongside dedup's connected
components (operators/dedup.py near_dup_clusters): where hash-min label
propagation answers "which nodes form one group", PageRank answers "which
nodes are structurally central" — the supply-chain criticality question
(which suppliers/parts would disrupt the most flow) asked of the same
edges the RI checks walk.

Spark-first shape: each PageRank round is one hash join (rank → edges) +
one groupBy(dst) sum — both shuffles keyed on node id, map-side combined;
a fixed iteration count unrolls into a single lazy plan (no driver
round-trips, no checkpoint needed at 2 rounds). At 100 TB the edge list
partitioning is reused across rounds by Catalyst (same key), and the rank
frame is ~|nodes| ≪ |edges|.

Cross-engine exactness: ranks live in BIGINT micro-units (10^12 total
mass) — every transfer is integer floor-division (`div`), every combine an
integer sum, so the result is bit-identical in any engine and immune to
float summation order under AQE re-planning (the same trick as
functions/deterministic.py, taken all the way to integers). The floored
remainder mass (< outdeg per node per round) is deliberately dropped,
NOT redistributed — documented contract, mirrored in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..queries import query
from ..sources.tables import cpu_parallelism, load_table, local_table_bytes

PR_ITERS = 2  # fixed unrolled rounds (exactness over convergence in tests;
#               production raises this — the plan shape is identical)
PR_MASS = 10**12  # total rank mass in integer micro-units
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an integer ratio

# node ids: parts keep their key, suppliers are offset into a disjoint range.
# 10^12 clears TPC-H partkeys (200_000×SF) up to SF ~5e6 — a 10^9 offset
# would alias parts onto suppliers from SF 5000, silently merging vertices
SUPP_OFFSET = 10**12

# Above this driving-table size the per-round edge checkpoint goes
# serialized-to-disk instead of in-heap (see bipartite_pagerank). 8 GB of
# lineitem parquet ≈ 300M+ rows — the regime where deserialized storage
# blocks for the ~2×distinct(part,supp) edge frame displace execution
# memory (measured r09: OOM at 80-100 GB heaps at sf100's 15 GB input;
# sf10's 2 GB input completes comfortably in-heap).
_DISK_CKPT_BYTES = 8 << 30

_EDGES_SQL = f"""
  SELECT DISTINCT l_partkey AS src, l_suppkey + {SUPP_OFFSET} AS dst
  FROM lineitem
"""

PAGERANK_ORACLE = f"""
WITH pairs AS ({_EDGES_SQL}),
edges AS (
  SELECT src, dst FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), deg AS (
  SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src
), n AS (
  SELECT COUNT(*) AS n_nodes FROM nodes
), r0 AS (
  SELECT node, {PR_MASS} // (SELECT n_nodes FROM n) AS rank FROM nodes
), t1 AS (
  SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS got
  FROM edges e
  JOIN r0 r ON e.src = r.node
  JOIN deg d ON e.src = d.node
  GROUP BY e.dst
), r1 AS (
  SELECT nodes.node,
    (({PR_D_DEN} - {PR_D_NUM}) * ({PR_MASS} // (SELECT n_nodes FROM n)))
      // {PR_D_DEN}
    + ({PR_D_NUM} * COALESCE(t1.got, 0)) // {PR_D_DEN} AS rank
  FROM nodes LEFT JOIN t1 ON nodes.node = t1.node
), t2 AS (
  SELECT e.dst AS node, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS got
  FROM edges e
  JOIN r1 r ON e.src = r.node
  JOIN deg d ON e.src = d.node
  GROUP BY e.dst
), r2 AS (
  SELECT nodes.node,
    (({PR_D_DEN} - {PR_D_NUM}) * ({PR_MASS} // (SELECT n_nodes FROM n)))
      // {PR_D_DEN}
    + ({PR_D_NUM} * COALESCE(t2.got, 0)) // {PR_D_DEN} AS rank
  FROM nodes LEFT JOIN t2 ON nodes.node = t2.node
)
SELECT CASE WHEN node >= {SUPP_OFFSET} THEN 'supplier' ELSE 'part' END
         AS node_kind,
       CASE WHEN node >= {SUPP_OFFSET} THEN node - {SUPP_OFFSET} ELSE node END
         AS node_key,
       rank AS rank_micro
FROM r2
ORDER BY rank DESC, node_kind, node_key
LIMIT 50
"""


def _pagerank_round(
    ranks: DataFrame, edges: DataFrame, nodes_n: DataFrame
) -> DataFrame:
    """One unrolled round: transfer rank//outdeg along every edge, sum at
    the destination (map-side combinable), damp with integer arithmetic.
    ``ranks`` carries (src, share) with share = rank//outdeg ALREADY
    divided on the |nodes|-sized frame (r12 — the degree lives with the
    rank row, not duplicated onto every edge row), so the round is ONE
    join + ONE aggregate and the join payload is a single long;
    ``nodes_n`` carries the broadcast node count for the base share."""
    got = (
        edges.join(ranks, "src")
        .groupBy("dst")
        .agg(F.sum("share").alias("got"))
        .withColumnRenamed("dst", "node")
    )
    return nodes_n.join(got, "node", "left").select(
        "node",
        "outdeg",
        "n_nodes",
        (
            F.expr(
                f"(({PR_D_DEN} - {PR_D_NUM}) * ({PR_MASS} div n_nodes))"
                f" div {PR_D_DEN}"
            )
            + F.expr(f"({PR_D_NUM} * coalesce(got, 0L)) div {PR_D_DEN}")
        ).alias("rank"),
    )


def _pagerank_edge_frame(li: DataFrame) -> DataFrame:
    """Symmetric edge list from lineitem, both directions from ONE distinct
    subtree via a per-row explode of a 2-element struct array (r12). The
    former plan-level union(pairs, swap(pairs)) + deg self-join duplicated
    the pairs SUBTREE — Spark reuses exchanges only for bit-identical
    physical subtrees, so the lineitem scan + distinct executed FOUR times
    inside the edge-build job (plan-verified: 4 parquet scans, 12
    exchanges → now 1 scan, ≤3 exchanges — pinned by
    tests/test_plans.py::test_pagerank_edge_job_single_scan)."""
    pairs = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + SUPP_OFFSET).alias("dst"),
    ).distinct()
    both_dirs = F.array(
        F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return pairs.select(F.explode(both_dirs).alias("e")).select("e.src", "e.dst")


@query("bipartite_pagerank", oracle=PAGERANK_ORACLE, bench=True)
def bipartite_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, PR_ITERS unrolled rounds) over the
    undirected part↔supplier graph: distinct lineitem (partkey, suppkey)
    pairs, suppliers offset into a disjoint id range. Returns the top-50
    most central nodes — the supply-chain criticality ranking.

    Shape: edge build (distinct — the only corpus-sized shuffle, one
    subtree, both directions emitted per row), degrees computed ONCE onto
    the |nodes|-sized rank frame (each round ships rank//outdeg as the
    join payload — no degree column duplicated across edge rows), then
    PR_ITERS join+agg rounds and a TakeOrderedAndProject top-k. Integer
    micro-unit arithmetic makes the ranking bit-stable cross-engine and
    under AQE."""
    li = load_table(spark, sf_dir, "lineitem", min_partitions=cpu_parallelism(spark))
    edges_lazy = _pagerank_edge_frame(li)
    # materialize the deduped edge frame ONCE: every round joins against
    # it, and without truncating the lineage the unrolled plan re-runs the
    # lineitem scan + distinct per round (measured 1.3× slower at 2 rounds;
    # the gap widens linearly with iteration count).
    # Storage level is sized to the input: the edge frame is the
    # corpus-sized object here (~400M rows at sf100 — 2× distinct lineitem
    # pairs), and deserialized in-JVM storage blocks for it must coexist
    # with the shuffle that builds it — the measured r09 sf100 OOM at
    # 80-100 GB heaps. Past _DISK_CKPT_BYTES of input the checkpoint
    # goes DISK_ONLY (serialized blocks stream from local disk, heap stays
    # execution-only); below it the in-heap default stands (DISK_ONLY
    # measured 1.4× slower at sf0.1, where the frame is 30 MB).
    big_input = local_table_bytes(sf_dir, "lineitem") > _DISK_CKPT_BYTES
    edges = edges_lazy.localCheckpoint(
        eager=True,
        storageLevel=StorageLevel.DISK_ONLY if big_input else None,
    )
    # nodes AND degrees in one aggregate over the checkpoint (r12): the
    # degree rides on the |nodes|-sized rank frame instead of being joined
    # onto every edge row — the old edges⋈deg join (one more corpus-sized
    # shuffle + 8 bytes per EDGE row in the checkpoint) is gone; each
    # round's transfer divides rank by outdeg before the edge join.
    node_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    n_nodes = node_deg.agg(F.count("*").alias("n_nodes"))
    nodes_n = node_deg.crossJoin(F.broadcast(n_nodes)).localCheckpoint()

    ranks = nodes_n.select(
        "node", "outdeg", F.expr(f"{PR_MASS} div n_nodes").alias("rank")
    )
    for _ in range(PR_ITERS):
        ranks = _pagerank_round(
            ranks.select(
                F.col("node").alias("src"),
                F.expr("rank div outdeg").alias("share"),
            ),
            edges,
            nodes_n,
        )
    out = ranks.select(
        F.when(F.col("node") >= SUPP_OFFSET, F.lit("supplier"))
        .otherwise(F.lit("part"))
        .alias("node_kind"),
        F.when(
            F.col("node") >= SUPP_OFFSET, F.col("node") - SUPP_OFFSET
        )
        .otherwise(F.col("node"))
        .alias("node_key"),
        F.col("rank").alias("rank_micro"),
    )
    return out.orderBy(
        F.desc("rank_micro"), "node_kind", "node_key"
    ).limit(50)


# --- triangle counting (degree-oriented wedge closure) ------------------------

TRI_MIN_COPURCHASE = 2  # co-purchase edge threshold (orders sharing the pair)

# MATERIALIZED CTEs pin the wedge-first join order: left to its own cost
# model DuckDB reordered the three-way closure join into a per-hub blowup
# that spilled >80 GB at sf1 from a 36K-edge graph; materializing
# oriented + wedges makes the oracle compute the (orientation-bounded)
# wedge set first and close it with one two-column equi-join — 2 s at sf1.
TRIANGLES_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {TRI_MIN_COPURCHASE}
), degs AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
), oriented AS MATERIALIZED (
  -- orient each edge from lower (deg, id) to higher (deg, id)
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e
  JOIN degs du ON du.node = e.u
  JOIN degs dv ON dv.node = e.v
), wedges AS MATERIALIZED (
  SELECT w1.s AS a, w1.t AS b, w2.t AS c
  FROM oriented w1
  JOIN oriented w2 ON w2.s = w1.t
), tris AS (
  SELECT w.a, w.b, w.c
  FROM wedges w
  JOIN oriented cl ON cl.s = w.a AND cl.t = w.c
), member AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT node AS part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM member GROUP BY node
"""


@query("copurchase_triangles", oracle=TRIANGLES_ORACLE)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts in the part co-purchase graph — the
    community-density primitive (clustering coefficient numerator,
    spam/botnet structure detection, feature for graph ML).

    The scalable algorithm, not the naive one: edges are ORIENTED from the
    lower to the higher (degree, id) endpoint, so every wedge is generated
    at its lowest-degree vertex — Suri & Vassilvitskii's MapReduce
    orientation bound: wedge count Σ min-side² ≪ Σ deg², which tames the
    celebrity-vertex blowup a naive neighbor self-join suffers (a hub of
    degree 10⁶ generates ~10¹² wedges unoriented, near-zero oriented).
    Each triangle is then counted EXACTLY once (its orientation is a DAG),
    and membership explodes back to the three corners.

    Shape: edge build reuses the per-basket grouped pair emission (no
    basket self-join), then two equi-joins on the oriented edge table —
    wedge (s→t, t→w) closed by (s→w). All integers; oracle states the
    same construction relationally."""
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
            lambda y: F.struct(x.alias("u"), y.alias("v")),
        ),
    )
    edges = (
        # explode_OUTER + isNotNull — a plain explode makes the optimizer
        # infer size(...)>0/isnotnull over the whole pair-emission lambda
        # chain and evaluate it 3× per basket (see dedup._ngram_pair_partials)
        grouped.where(F.size("items") >= 2)
        .select(F.explode_outer(F.flatten(pair_arrays)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.*")
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= TRI_MIN_COPURCHASE)
        .drop("w")
    )
    degs = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = degs.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = degs.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    e = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    w1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    w2 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    cl = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tris = w1.join(w2, "b").join(cl, ["a", "c"])
    member = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    return member
