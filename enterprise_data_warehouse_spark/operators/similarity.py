"""Similarity search over embedding columns (driver-mandated extension):
brute-force cosine top-k (the exactness baseline) and a random-hyperplane
LSH bucket path (the 100 TB ANN strategy).

Determinism: dot products are sequential left-to-right folds over
double-cast elements — `F.aggregate(zip_with(...))` in Spark and
`list_reduce(list_transform(...))` in DuckDB reduce in the same order, and
IEEE addition order fixed → bit-identical cosines, so rankings agree with
no tolerance games.

Scale design: brute-force is O(Q·N·d) but embarrassingly parallel — the
query set broadcasts and each partition scores its slice (this is exactly
how a 1000-executor scan behaves). The LSH path buckets vectors by
hyperplane sign bits so candidate generation is a hash join; at 100 TB add
multi-probe (flip low-margin bits) to recover recall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import davg, dsum
from ..queries import query
from ..sources.tables import load_table

DIM = 64  # embeddings.embedding is a fixed 64-dim float vector (FIXTURES.md)


def as_double(arr: Column | str) -> Column:
    c = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(c, lambda x: x.cast("double"))


def seq_dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (order-fixed IEEE, engine-portable).

    DuckDB mirror:
    list_reduce(list_transform(range(1, 65),
        i -> CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE)), (x, y) -> x + y)
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(seq_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return seq_dot(a, b) / (norm(a) * norm(b))


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (SQRT({_sql_dot(a, a)}) * SQRT({_sql_dot(b, b)})))"


TOPK_K = 5

COSINE_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         {_sql_cosine('qv', 'embedding')} AS cosine_sim
  FROM q CROSS JOIN embeddings
  WHERE vec_id != query_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {TOPK_K}
"""


@query("cosine_topk", oracle=COSINE_TOPK_ORACLE, bench=True)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set × full scan, windowed
    top-k per query. The exactness baseline every ANN variant is judged
    against."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(as_double("qv"), as_double("embedding")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK_K)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rk").cast("int").alias("rk"))
    )


NEAR_DUP_THRESHOLD = 0.99

NEAR_DUP_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 10 = 0
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_sql_cosine('a.embedding', 'b.embedding')} AS cosine_sim
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine_sim FROM pairs
WHERE cosine_sim >= {NEAR_DUP_THRESHOLD}
"""


@query("embedding_near_dup", oracle=NEAR_DUP_ORACLE)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.99). Planted exact
    copies (every 10th vector re-injected) give the operator real positives —
    the synthetic vectors are otherwise near-orthogonal random points.

    All-pairs here (test-scale); the production candidate generator is
    ann_lsh_buckets below.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = e.where(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    corpus = e.unionByName(copies)
    a = corpus.alias("a")
    b = corpus.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(as_double("a.embedding"), as_double("b.embedding")).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= NEAR_DUP_THRESHOLD)
    )


N_PLANES = 12


def hyperplane_sig(vec: Column) -> Column:
    """Random-hyperplane signature: N_PLANES sign bits. Plane weights are
    deterministic pseudo-randoms from xxhash64(plane, dim) — reproducible
    across runs/cluster sizes with no stored model."""
    def plane_dot(p: int) -> Column:
        weights = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.lit(p), j), F.lit(2001)).cast("double") - 1000.0
            )
            / 1000.0,
        )
        return seq_dot(vec, weights)

    bits = [F.when(plane_dot(p) > 0, F.lit(1)).otherwise(F.lit(0)) * (2**p) for p in range(N_PLANES)]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


@query("ann_lsh_buckets")
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket vectors by sign signature, pair
    within buckets, verify with true cosine. Rows-only check (engine-native
    hashing in the plane weights).

    At 100 TB: bucket cardinality 2^N_PLANES partitions the corpus; the
    within-bucket pair join replaces the quadratic all-pairs scan. Recall
    is tuned by N_PLANES ↓ / multi-probe ↑.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    sig = e.withColumn("bucket", hyperplane_sig(F.col("v")))
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") > 0.2)
    )


# --- ANN-LSH, cross-engine-verified variant ------------------------------------

# Same portability move as dedup.minhash_lsh_verified: plane weights derived
# from md5 (bit-identical in DuckDB) instead of xxhash64, so bucketing,
# candidate pairs, and verification cosines are all value-checked. The
# xxhash64 fast path above stays the production default.


def _portable_weight(p: int, j) -> Column:
    """((md5-hash % 2001) - 1000) / 1000 ∈ [-1, 1], identical in DuckDB:
    ``(CAST(('0x'||SUBSTR(MD5(p||'#'||j),1,15)) AS BIGINT) % 2001 - 1000)/1000.0``
    (hash is non-negative, so % == pmod in both engines)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("#", F.lit(str(p)), j.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (h % 2001 - 1000).cast("double") / 1000.0


def _portable_plane_dot(vec: Column, p: int) -> Column:
    weights = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)), lambda j: _portable_weight(p, j)
    )
    return seq_dot(vec, weights)


def portable_plane_dots(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Array of the raw hyperplane dot products. Sign gives the signature
    bit; magnitude is the MARGIN — how close the vector sits to plane p —
    which drives multi-probe (flip the least-confident bits first)."""
    return F.array(*[_portable_plane_dot(vec, p) for p in range(n_planes)])


def bucket_from_dots(dots: Column, n_planes: int = N_PLANES) -> Column:
    out = F.lit(0)
    for p in range(n_planes):
        out = out + F.when(dots[p] > 0, F.lit(2**p)).otherwise(F.lit(0))
    return out.cast("bigint")


def portable_hyperplane_sig(vec: Column) -> Column:
    return bucket_from_dots(portable_plane_dots(vec))


_SQL_WEIGHTS = (
    "list_transform(range(0, {dim}), j -> "
    "(CAST(('0x' || SUBSTR(MD5(CAST(p.plane AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) "
    "% 2001 - 1000) / 1000.0)"
).format(dim=DIM)

ANN_VERIFIED_ORACLE = f"""
WITH planes AS (
  SELECT p.plane, {_SQL_WEIGHTS} AS w
  FROM (SELECT unnest(range(0, {N_PLANES})) AS plane) p
), dots AS (
  SELECT e.vec_id, pl.plane,
    {_sql_dot('e.embedding', 'pl.w')} AS d
  FROM embeddings e CROSS JOIN planes pl
), sigs AS (
  SELECT vec_id,
    SUM(CASE WHEN d > 0 THEN CAST(POW(2, plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
), pairs AS (
  SELECT sa.bucket, sa.vec_id AS vec_a, sb.vec_id AS vec_b
  FROM sigs sa JOIN sigs sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
)
SELECT CAST(p.bucket AS BIGINT) AS bucket, p.vec_a, p.vec_b,
  {_sql_cosine('ea.embedding', 'eb.embedding')} AS cosine_sim
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.vec_a
JOIN embeddings eb ON eb.vec_id = p.vec_b
WHERE {_sql_cosine('ea.embedding', 'eb.embedding')} > 0.2
"""


@query("ann_lsh_verified", oracle=ANN_VERIFIED_ORACLE)
def ann_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired ANN: portable hyperplane signatures → bucket equi-join →
    exact-cosine verification, every stage value-checked."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    sig = e.withColumn("bucket", portable_hyperplane_sig(F.col("v")).cast("bigint"))
    a = sig.alias("a")
    # sort-merge hint on the bucket self-join: no measurement chose it
    # (unmeasured, ROADMAP item 2)
    b = sig.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") > 0.2)
    )


# --- multi-probe ANN ---------------------------------------------------------

MULTIPROBE_FLIPS = 2  # probe base bucket + 2 lowest-margin single-bit flips
MULTIPROBE_QUERIES = 50  # query-set width for the registered query/oracle
_POWERS = [2**p for p in range(N_PLANES)]


def multiprobe_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    flips: int = MULTIPROBE_FLIPS,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Multi-probe LSH candidate generation (Lv et al., VLDB'07): each query
    probes its own bucket PLUS the buckets reached by flipping its
    ``flips`` lowest-margin signature bits — the planes the query sits
    closest to, i.e. exactly where a true neighbor most likely landed on
    the other side. Recall rises without re-bucketing the corpus or adding
    hash tables; candidate volume grows only ``flips+1``×.

    corpus: (vec_id, v); queries: (query_id, qv). Returns
    (query_id, qv, neighbor_id, nv) candidate rows.

    Scale shape: signatures are map-side arithmetic on both sides, probes
    explode to ``flips+1`` rows per query, and candidates come from ONE
    bucket equi-join — same join the single-probe path runs, just with a
    slightly wider (still tiny) probe side. No all-pairs anywhere."""
    c_sig = corpus.withColumn(
        "bucket", bucket_from_dots(portable_plane_dots(F.col("v"), n_planes), n_planes)
    )
    q_dots = queries.withColumn("dots", portable_plane_dots(F.col("qv"), n_planes))
    q_sig = q_dots.withColumn(
        "bucket", bucket_from_dots(F.col("dots"), n_planes)
    )
    # planes ranked by |margin| ascending, ties by plane id — the flip order
    margins = F.array_sort(
        F.transform(
            F.col("dots"),
            lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("plane")),
        )
    )
    powers = F.array(*[F.lit(p).cast("bigint") for p in _POWERS[:n_planes]])
    probes = F.concat(
        F.array(F.col("bucket")),
        F.transform(
            F.slice(margins, 1, flips),
            lambda s: F.col("bucket").bitwiseXOR(
                F.element_at(powers, s["plane"] + 1)
            ),
        ),
    )
    probe_rows = q_sig.select(
        "query_id", "qv", F.explode(probes).alias("probe_bucket")
    )
    return probe_rows.join(
        c_sig.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.col("bucket").alias("probe_bucket"),
        ),
        "probe_bucket",
    ).where(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "qv", "neighbor_id", "nv"
    )


MULTIPROBE_ORACLE = f"""
WITH planes AS (
  SELECT p.plane, {_SQL_WEIGHTS} AS w
  FROM (SELECT unnest(range(0, {N_PLANES})) AS plane) p
), dots AS (
  SELECT e.vec_id, pl.plane,
    {_sql_dot('e.embedding', 'pl.w')} AS d
  FROM embeddings e CROSS JOIN planes pl
), sigs AS (
  SELECT vec_id,
    SUM(CASE WHEN d > 0 THEN CAST(POW(2, plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id
), qm AS (
  SELECT vec_id, plane,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ABS(d) ASC, plane ASC) AS mr
  FROM dots WHERE vec_id < {MULTIPROBE_QUERIES}
), probes AS (
  SELECT vec_id AS query_id, bucket AS probe_bucket FROM sigs
  WHERE vec_id < {MULTIPROBE_QUERIES}
  UNION ALL
  SELECT q.vec_id, xor(s.bucket, CAST(POW(2, q.plane) AS BIGINT))
  FROM qm q JOIN sigs s ON s.vec_id = q.vec_id
  WHERE q.mr <= {MULTIPROBE_FLIPS}
), cand AS (
  SELECT p.query_id, s.vec_id AS neighbor_id
  FROM probes p JOIN sigs s ON s.bucket = p.probe_bucket
  WHERE s.vec_id != p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
    {_sql_cosine('q.embedding', 'n.embedding')} AS cosine_sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {TOPK_K}
"""


@query("ann_multiprobe_topk", oracle=MULTIPROBE_ORACLE)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN top-k, every stage value-checked: portable signatures
    + margins → base-plus-flipped probe buckets → bucket equi-join → exact
    cosine rerank. tests/test_ann_recall.py proves the recall gain over
    single-probe against cosine_topk-style ground truth."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    queries = e.where(F.col("vec_id") < MULTIPROBE_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cand = multiprobe_candidates(e, queries)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("nv")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK_K)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rk").cast("int").alias("rk"))
    )


# --- IVF coarse quantizer -------------------------------------------------------

IVF_CELLS = 16
IVF_NPROBE = 2


def _assign_cells(vectors: DataFrame, centroids: DataFrame, n: int, id_col: str) -> DataFrame:
    """Rank centroids per vector by cosine (ties: centroid id) and keep the
    top n cells. centroids is broadcast — assignment is a map-side cross
    score, exactly how a 1000-executor IVF build behaves."""
    from pyspark.sql.window import Window

    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        id_col,
        "v",
        "cell_id",
        cosine(F.col("v"), F.col("cv")).alias("cell_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cell_sim"), F.asc("cell_id"))
    return (
        scored.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n)
        .select(id_col, "v", "cell_id", "cell_rank")
    )


IVF_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, embedding FROM embeddings
), cents AS (
  SELECT vec_id AS cell_id, embedding AS cv FROM embeddings WHERE vec_id < {IVF_CELLS}
), assign AS (
  SELECT e.vec_id, c.cell_id,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cell_id ASC) AS cell_rank
  FROM emb e CROSS JOIN cents c
), corpus_cells AS (
  SELECT vec_id, cell_id FROM assign WHERE cell_rank = 1
), probe_cells AS (
  SELECT vec_id AS query_id, cell_id FROM assign
  WHERE cell_rank <= {IVF_NPROBE} AND vec_id < 5
), cand AS (
  SELECT DISTINCT p.query_id, cc.vec_id AS neighbor_id
  FROM probe_cells p JOIN corpus_cells cc ON cc.cell_id = p.cell_id
  WHERE cc.vec_id != p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
    {_sql_cosine('q.embedding', 'n.embedding')} AS cosine_sim
  FROM cand c
  JOIN emb q ON q.vec_id = c.query_id
  JOIN emb n ON n.vec_id = c.neighbor_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {TOPK_K}
"""


@query("ivf_topk", oracle=IVF_ORACLE)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into {IVF_CELLS} cells
    (deterministic centroids: the first vectors by id — at production scale
    these come from a k-means fit persisted as a tiny table), probe each
    query's {IVF_NPROBE} nearest cells, exact-rerank candidates.

    Scale shape: corpus assignment is one broadcast cross-score (no
    shuffle), the probe is a cell-keyed equi-join — the quadratic scan of
    brute force never happens. Recall tunes with IVF_NPROBE."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cents = e.where(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    corpus_cells = _assign_cells(e, cents, 1, "vec_id")
    queries = e.where(F.col("vec_id") < 5)
    probe_cells = _assign_cells(queries, cents, IVF_NPROBE, "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell_id"
    )
    cand = (
        probe_cells.join(
            corpus_cells.select("vec_id", "cell_id", F.col("v").alias("nv")), "cell_id"
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "nv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("nv")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK_K)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rk").cast("int").alias("rk"))
    )


# --- per-label centroids (element-wise array aggregation) --------------------

CENTROID_ORACLE = f"""
WITH ex AS (
  SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, {DIM + 1})) AS t(i)
)
SELECT label, CAST(pos AS INT) AS pos,
  (CAST(FLOOR(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 4)) AS DOUBLE)) / COUNT(x)
    AS component,
  COUNT(x) AS n_vectors
FROM ex GROUP BY label, pos
"""


@query("embedding_centroids", oracle=CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid: element-wise mean of 64-dim vectors — the
    cluster-center / class-prototype primitive (IVF training step, label
    prototypes, drift reference vectors). Output is the scalar rows form
    (label, pos, component, n_vectors) — one row per vector component —
    rather than an array column: downstream consumers reassemble with
    collect_list when they need the packed vector, and scalar rows keep the
    result hashable by any result-canonicalization harness.

    Scale shape: posexplode to (label, pos, x) then ONE groupBy(label, pos)
    — the narrow explode keeps component sums map-side-combinable, so the
    shuffle carries 64 partial rows per (label × partition) regardless of
    vector count; no per-label reassembly stage at all. Component means use
    the decimal-exact davg discipline (functions/deterministic.py) so
    partition order can't shift a ULP."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(as_double("embedding")).alias("pos", "x")
    )
    # posexplode is 0-based; the oracle's unnest(range(1, DIM+1)) is 1-based.
    return ex.groupBy("label", "pos").agg(
        davg("x", "component"),
        F.count("x").alias("n_vectors"),
    ).select(
        "label", (F.col("pos") + 1).cast("int").alias("pos"),
        "component", "n_vectors",
    )


# --- k-means (fixed-iteration Lloyd, oracle-verified) ------------------------

KMEANS_K = 4
KMEANS_ITERS = 2


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (same determinism discipline as
    seq_dot)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sql_sq_dist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def _sql_assign(cent: str) -> str:
    return f"""
  SELECT e.vec_id, e.embedding, c.cluster_id,
         {_sql_sq_dist('e.embedding', 'c.c')} AS dist
  FROM embeddings e CROSS JOIN {cent} c
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                             ORDER BY dist, c.cluster_id) = 1
"""


def _sql_recenter(assign: str) -> str:
    return f"""
  SELECT cluster_id, list(comp ORDER BY pos) AS c FROM (
    SELECT cluster_id, i AS pos,
      (CAST(FLOOR(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(38,10))), 4)) AS DOUBLE)) / COUNT(*) AS comp
    FROM {assign}, unnest(range(1, {DIM + 1})) AS t(i)
    GROUP BY cluster_id, i
  ) GROUP BY cluster_id
"""


KMEANS_ORACLE = f"""
WITH cent0 AS (
  SELECT vec_id AS cluster_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
  FROM embeddings WHERE vec_id < {KMEANS_K}
), assign1 AS ({_sql_assign('cent0')}),
cent1 AS ({_sql_recenter('assign1')}),
assign2 AS ({_sql_assign('cent1')})
SELECT cluster_id, COUNT(*) AS n_vectors, MIN(vec_id) AS first_vec_id
FROM assign2 GROUP BY cluster_id
"""


@query("kmeans_embeddings", oracle=KMEANS_ORACLE, bench=True)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table (k/iters: see KMEANS_K and
    KMEANS_ITERS above) — the iterative-algorithm pattern
    (assign → recenter → repeat) as a driver-side loop of DataFrame ops,
    value-verified against a DuckDB oracle that unrolls the same two
    iterations in CTEs. Determinism stack: seeded centroids (first k
    vectors), sequential-fold distances, argmin tie-broken on cluster_id,
    decimal-exact component means — bit-identical assignments cross-engine.

    Scale shape per iteration: centroids are k×DIM doubles → broadcast;
    assignment is a map-side crossJoin + per-row argmin (no shuffle);
    recentering is the narrow posexplode groupBy of embedding_centroids.
    Production differences (noted, not semantic): k-means++ init from a
    sampled sketch, convergence test on centroid movement, and
    localCheckpoint per iteration to truncate lineage."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    centroids = e.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("c")
    )
    assigned = _lloyd_iterations(e, centroids, KMEANS_ITERS)
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("first_vec_id")
    )


SKETCH_MOD = 10  # ~10% hash sample feeds the seeding pass

_SQL_SKETCH_PRED = (
    "(CAST(('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR) || '#seed'), 1, 15)) "
    f"AS BIGINT) % {SKETCH_MOD}) = 0"
)


def _sql_ff_round(i: int, prev_d: str, prev_c: str) -> str:
    """One farthest-first round: fold centroid i-1's distance into the
    running min, then pick the sketch point with the max min-distance."""
    return f"""d{i} AS (
  SELECT p.vec_id, p.v, LEAST(p.dmin, {_sql_sq_dist('p.v', 'cc.c')}) AS dmin
  FROM {prev_d} p CROSS JOIN {prev_c} cc
), c{i} AS (
  SELECT {i} AS cluster_id, v AS c FROM d{i} ORDER BY dmin DESC, vec_id ASC LIMIT 1
)"""


KMEANS_PP_ORACLE = f"""
WITH sketch AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE {_SQL_SKETCH_PRED}
), c0 AS (
  SELECT 0 AS cluster_id, v AS c FROM sketch ORDER BY vec_id ASC LIMIT 1
), d0 AS (
  SELECT s.vec_id, s.v, {_sql_sq_dist('s.v', 'cc.c')} AS dmin
  FROM sketch s CROSS JOIN c0 cc
), c1 AS (
  SELECT 1 AS cluster_id, v AS c FROM d0 ORDER BY dmin DESC, vec_id ASC LIMIT 1
), {_sql_ff_round(2, 'd0', 'c1')}, {_sql_ff_round(3, 'd2', 'c2')},
cent0 AS (
  SELECT * FROM c0 UNION ALL SELECT * FROM c1
  UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
), assign1 AS ({_sql_assign('cent0')}),
cent1 AS ({_sql_recenter('assign1')}),
assign2 AS ({_sql_assign('cent1')})
SELECT CAST(cluster_id AS INT) AS cluster_id, COUNT(*) AS n_vectors,
       MIN(vec_id) AS first_vec_id
FROM assign2 GROUP BY cluster_id
"""


@query("kmeans_pp_embeddings", oracle=KMEANS_PP_ORACLE)
def kmeans_pp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means with k-means++-style seeding from a sampled sketch — the
    production init the plain kmeans_embeddings docstring promises. The
    sketch is a ~10% portable-hash sample (see SKETCH_MOD); seeding is the
    deterministic greedy D² variant (farthest-first traversal: next seed =
    sketch point with max min-distance to the seeds so far, ties → lowest
    vec_id), then the shared Lloyd loop runs on the FULL corpus.

    Scale shape: the k-1 seeding rounds each reduce the sketch to ONE row
    (a scalar argmax collect — sketch-sized driver interaction, same
    discipline as the watermark scalar in sources/sink.py); distances fold
    against literal centroid arrays map-side, so seeding never shuffles.
    Every stage is value-checked: the DuckDB oracle unrolls the same
    sketch, the same 3 farthest-first rounds, and the same 2 Lloyd
    iterations in CTEs — bit-identical assignments cross-engine."""
    from ..operators.dedup import portable_hash64

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    sketch = e.where(
        portable_hash64(F.col("vec_id").cast("string"), F.lit("seed")) % SKETCH_MOD == 0
    )

    def lit_vec(vals: list[float]) -> Column:
        return F.array(*[F.lit(float(x)) for x in vals])

    first = sketch.orderBy(F.asc("vec_id")).select("v").head()
    seeds = [list(first["v"])]
    cur = sketch.withColumn("dmin", sq_dist(F.col("v"), lit_vec(seeds[0])))
    for _ in range(KMEANS_K - 1):
        nxt = cur.orderBy(F.desc("dmin"), F.asc("vec_id")).select("v", "dmin").head()
        seeds.append(list(nxt["v"]))
        cur = cur.withColumn(
            "dmin", F.least(F.col("dmin"), sq_dist(F.col("v"), lit_vec(seeds[-1])))
        )
    centroids = spark.createDataFrame(
        [(i, vec) for i, vec in enumerate(seeds)], "cluster_id int, c array<double>"
    )
    assigned = _lloyd_iterations(e, centroids, KMEANS_ITERS)
    return assigned.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("first_vec_id")
    )


def _lloyd_iterations(e: DataFrame, centroids: DataFrame, iters: int) -> DataFrame:
    """Shared Lloyd loop: per iteration, broadcast the (k×DIM) centroid set,
    map-side argmin assignment (ties → cluster_id), decimal-exact
    posexplode recentering. Returns the final (vec_id, v, cluster_id)."""
    from pyspark.sql.window import Window

    assigned = None
    for _ in range(iters):
        w = Window.partitionBy("vec_id").orderBy("dist", "cluster_id")
        assigned = (
            e.crossJoin(F.broadcast(centroids))
            .withColumn("dist", sq_dist(F.col("v"), F.col("c")))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "v", "cluster_id")
        )
        comp = assigned.select(
            "cluster_id", F.posexplode("v").alias("pos", "x")
        ).groupBy("cluster_id", "pos").agg(
            davg("x", "comp")
        )
        centroids = comp.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "comp"))),
                lambda s: s["comp"],
            ).alias("c")
        )
    return assigned


# --- int8 embedding quantization ----------------------------------------------

QUANT_ORACLE = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), scaled AS (
  SELECT vec_id, vd,
    list_reduce(list_transform(vd, x -> ABS(x)), (a, b) -> GREATEST(a, b)) / 127.0
      AS scale
  FROM v
), q AS (
  SELECT vec_id, vd, scale,
    list_transform(vd, x -> CAST(FLOOR(x / scale + 0.5) AS INT)) AS qvec
  FROM scaled
)
SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec_csv,
  list_reduce(list_transform(range(1, {DIM + 1}),
    i -> (qvec[i] * scale - vd[i]) * (qvec[i] * scale - vd[i])), (a, b) -> a + b)
    / {DIM} AS recon_mse
FROM q
"""


@query("embedding_quantize", oracle=QUANT_ORACLE)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the storage/transport form an ANN index keeps at scale (4× smaller
    than float32, 8× smaller than the double compute form; recall cost
    measured by the reconstruction MSE emitted per row). scale =
    max|x|/127, q = round-half-up(x/scale) — written as FLOOR(x/s + 0.5)
    in BOTH engines so the tie-rounding rule cannot diverge.

    Scale shape: pure per-row array arithmetic — map-only, zero shuffle,
    whole-stage codegen; quantizing 100 TB is exactly one pass. The int8
    codes are emitted as a deterministic CSV string (qvec_csv) — ints
    serialize exactly, and scalar string columns stay hashable by any
    result-canonicalization harness; a production sink would keep the
    array<tinyint> form."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("vd")
    )
    scale = (
        F.aggregate(
            F.transform(F.col("vd"), lambda x: F.abs(x)),
            F.lit(0.0),
            lambda a, b: F.greatest(a, b),
        )
        / 127.0
    )
    scaled = e.withColumn("scale", scale)
    qvec = F.transform(
        F.col("vd"), lambda x: F.floor(x / F.col("scale") + 0.5).cast("int")
    )
    q = scaled.withColumn("qvec", qvec)
    err = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("vd"),
            lambda qx, x: (qx * F.col("scale") - x) * (qx * F.col("scale") - x),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    ) / float(DIM)
    qvec_csv = F.concat_ws(
        ",", F.transform(F.col("qvec"), lambda x: x.cast("string"))
    )
    return q.select(
        "vec_id", "scale", qvec_csv.alias("qvec_csv"), err.alias("recon_mse")
    )


# --- SemDeDup: cluster-then-prune semantic deduplication ---------------------

SEMDEDUP_THRESHOLD = 0.95
SEMDEDUP_CELLS = 16

_SEM_CORPUS = """
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
    list_transform(range(1, 65), i -> CASE WHEN i = 1
      THEN CAST(embedding[i] AS DOUBLE) + 0.1
      ELSE CAST(embedding[i] AS DOUBLE) END) AS v
  FROM embeddings WHERE vec_id % 10 = 0
"""

SEMDEDUP_ORACLE = f"""
WITH corpus AS ({_SEM_CORPUS}
), cents AS (
  SELECT vec_id AS cell_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < {SEMDEDUP_CELLS}
), assigned AS (
  SELECT c.vec_id, c.v, cc.cell_id,
    ROW_NUMBER() OVER (PARTITION BY c.vec_id
      ORDER BY {_sql_cosine('c.v', 'cc.cv')} DESC, cc.cell_id ASC) AS cell_rank
  FROM corpus c CROSS JOIN cents cc
), cells AS (
  SELECT vec_id, v, cell_id FROM assigned WHERE cell_rank = 1
), pairs AS (
  SELECT b.vec_id, a.vec_id AS dup_of, a.cell_id,
         {_sql_cosine('a.v', 'b.v')} AS cosine_sim
  FROM cells a JOIN cells b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
), hits AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
    ORDER BY cosine_sim DESC, dup_of ASC) AS rk
  FROM pairs WHERE cosine_sim >= {SEMDEDUP_THRESHOLD}
)
SELECT vec_id, dup_of, cell_id, cosine_sim FROM hits WHERE rk = 1
"""


@query("semantic_dedup", oracle=SEMDEDUP_ORACLE)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    embeddings, then prune within each cluster — a vector is removed when an
    earlier same-cell vector is cosine-similar above the threshold. Returns
    the removed rows with their best keeper (max cosine, ties → lowest id).
    Test fixture plants perturbed copies (every 10th vector, first
    coordinate +0.1 → cosine ≈ 0.995) since the synthetic corpus is
    otherwise near-orthogonal (natural max ≈ 0.51 at sf0.01).

    Scale shape (the paper's recipe): centroid count grows with the corpus
    (they use ~100k clusters for billions of docs — here the deterministic
    {SEMDEDUP_CELLS}-cell coarse quantizer that ivf_topk shares), assignment
    is a broadcast map-side cross-score, and pruning is a cell-keyed
    equi-join — candidate pairs stream through the join, never materialize
    per-task arrays, and cost is bounded by cell size, not corpus size.
    Cross-cell duplicates are missed by design (the paper's documented
    recall trade-off)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", as_double("embedding").alias("v"))
    perturbed = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x.cast("double") + 0.1).otherwise(
                x.cast("double")
            ),
        ).alias("v"),
    )
    corpus = base.unionByName(perturbed)
    cents = base.where(F.col("vec_id") < SEMDEDUP_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    cells = _assign_cells(corpus, cents, 1, "vec_id").select("vec_id", "v", "cell_id")
    a = cells.select(
        F.col("vec_id").alias("dup_of"), F.col("v").alias("va"), "cell_id"
    )
    b = cells.select("vec_id", F.col("v").alias("vb"), F.col("cell_id").alias("cb"))
    pairs = (
        a.join(b, (F.col("cell_id") == F.col("cb")) & (F.col("dup_of") < F.col("vec_id")))
        .select(
            "vec_id",
            "dup_of",
            "cell_id",
            cosine(F.col("va"), F.col("vb")).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= SEMDEDUP_THRESHOLD)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine_sim"), F.asc("dup_of"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "dup_of", "cell_id", "cosine_sim")
    )


# --- Product Quantization: codes + asymmetric-distance search ----------------

PQ_M = 8          # subspaces
PQ_K = 16         # codes per subspace codebook
PQ_SUB = DIM // PQ_M

_SQL_SQD_SUB = (
    f"list_reduce(list_transform(range(1, {PQ_SUB + 1}), "
    "i -> (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))"
    " * (CAST(sv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))), (x, y) -> x + y)"
)

_PQ_COMMON_SQL = f"""
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cb AS (
  SELECT m, CAST(vec_id AS INT) AS k,
         v[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS cv
  FROM emb, unnest(range(0, {PQ_M})) AS t(m)
  WHERE vec_id < {PQ_K}
), sub AS (
  SELECT vec_id, m, v[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM emb, unnest(range(0, {PQ_M})) AS t(m)
), best AS (
  SELECT s.vec_id, s.m, c.k, {_SQL_SQD_SUB} AS d2
  FROM sub s JOIN cb c ON c.m = s.m
  QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY d2, c.k) = 1
)"""

PQ_ENCODE_ORACLE = f"""
WITH {_PQ_COMMON_SQL}
SELECT vec_id,
  array_to_string(list(k ORDER BY m), ',') AS codes_csv,
  list_reduce(list(d2 ORDER BY m), (x, y) -> x + y) AS pq_err
FROM best GROUP BY vec_id
"""


def _pq_subspaces(df: DataFrame, id_alias: str) -> DataFrame:
    """Explode a (vec_id, v) frame into (id, m, sv) subvector rows."""
    m = F.explode(F.array(*[F.lit(i) for i in range(PQ_M)])).alias("m")
    out = df.select(F.col("vec_id").alias(id_alias), "v", m)
    return out.select(
        id_alias, "m", F.slice("v", F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sv")
    )


def _pq_codebook(e: DataFrame) -> DataFrame:
    """Deterministic fixture codebook: the first PQ_K vectors' subvectors
    (production: per-subspace k-means — the Lloyd loop above, run once per
    subspace over a sample, persisted as this same tiny table)."""
    cb = _pq_subspaces(e.where(F.col("vec_id") < PQ_K), "k")
    return cb.select("m", F.col("k").cast("int").alias("k"), F.col("sv").alias("cv"))


def _pq_best_codes(e: DataFrame) -> DataFrame:
    """(vec_id, m, k, d2): nearest codebook entry per subspace, ties → k."""
    from pyspark.sql.window import Window

    cb = _pq_codebook(e)
    scored = _pq_subspaces(e, "vec_id").join(F.broadcast(cb), "m").select(
        "vec_id", "m", "k", sq_dist(F.col("sv"), F.col("cv")).alias("d2")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2", "k")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _ordered_fold(pairs: Column, value_field: str) -> Column:
    """Deterministic sum of per-subspace doubles: sort by m, fold in order
    (a bare SUM(double) is partial-order-dependent and breaks the oracle
    hash; 8 elements make the fold free)."""
    return F.aggregate(
        F.transform(F.array_sort(pairs), lambda s: s[value_field]),
        F.lit(0.0),
        lambda a, b: a + b,
    )


@query("pq_encode", oracle=PQ_ENCODE_ORACLE)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, the IVF-PQ storage
    form): split each vector into {PQ_M} subspaces, code each subvector as
    its nearest codebook entry — {PQ_M} small ints (~8 bytes) replace 256
    bytes of float32, with the per-vector quantization error reported.

    Scale shape: the codebook is {PQ_M}×{PQ_K} tiny rows → broadcast;
    scoring is a map-side equi-join on the subspace id; the only exchange
    is the per-vector regroup. At 100 TB the codes table is what an ANN
    service scans — 32× smaller than the raw embeddings."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    best = _pq_best_codes(e)
    codes = F.transform(
        F.array_sort(F.collect_list(F.struct("m", "k"))),
        lambda s: s["k"].cast("string"),
    )
    # m-ordered codes serialized as CSV: ints serialize exactly, and the
    # scalar string column stays hashable by result canonicalizers (the
    # production codes table would keep array<tinyint>).
    return best.groupBy("vec_id").agg(
        F.concat_ws(",", codes).alias("codes_csv"),
        _ordered_fold(F.collect_list(F.struct("m", "d2")), "d2").alias("pq_err"),
    )


PQ_TOPK_ORACLE = f"""
WITH {_PQ_COMMON_SQL}, qsub AS (
  SELECT vec_id AS query_id, m, v[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM emb, unnest(range(0, {PQ_M})) AS t(m)
  WHERE vec_id < 5
), dtab AS (
  SELECT q.query_id, q.m, c.k, {_SQL_SQD_SUB} AS d2
  FROM qsub q JOIN cb c ON c.m = q.m
), pairs AS (
  SELECT d.query_id, b.vec_id AS neighbor_id,
    list_reduce(list(d.d2 ORDER BY d.m), (x, y) -> x + y) AS approx_dist
  FROM best b JOIN dtab d ON d.m = b.m AND d.k = b.k
  WHERE b.vec_id != d.query_id
  GROUP BY d.query_id, b.vec_id
)
SELECT query_id, neighbor_id, approx_dist, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
    ORDER BY approx_dist ASC, neighbor_id ASC) AS rk
  FROM pairs
) WHERE rk <= {TOPK_K}
"""


@query("pq_adc_topk", oracle=PQ_TOPK_ORACLE)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: per query, precompute the
    {PQ_M}×{PQ_K} table of exact subvector→codebook distances, then score
    every corpus vector as the sum of {PQ_M} table lookups on its codes —
    the query never touches raw corpus floats.

    Scale shape: the distance table is queries×{PQ_M}×{PQ_K} rows →
    broadcast; scoring joins it to the codes on (m, k) map-side, and the
    per-(query, vector) regroup is the one exchange. Production keeps codes
    as a packed array column and folds the lookup inside a single projection
    (no explode) — the exploded join here keeps the plan oracle-mirrorable
    while preserving the same shuffle bound (one row per subspace, never
    per-dimension)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    best = _pq_best_codes(e)
    cb = _pq_codebook(e)
    qsub = _pq_subspaces(e.where(F.col("vec_id") < 5), "query_id")
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "k", sq_dist(F.col("sv"), F.col("cv")).alias("qd2")
    )
    pairs = (
        best.join(F.broadcast(dtab), ["m", "k"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            _ordered_fold(
                F.collect_list(F.struct("m", "qd2")), "qd2"
            ).alias("approx_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK_K)
        .select("query_id", "neighbor_id", "approx_dist", F.col("rk").cast("int").alias("rk"))
    )


# --- PCA (top principal direction via power iteration) -------------------------

PCA_ITERS = 2

_PCA_DOT_V = (
    f"list_reduce(list_transform(range(1, {DIM + 1}), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * v.v[i]), (x, y) -> x + y)"
)


def _sql_pca_step(vtab: str) -> str:
    """One power-iteration step: comp_j = decimal-exact Σ_i (x_i·v) x_ij,
    then row-local normalization by the decimal-exact ‖comp‖."""
    return f"""
  SELECT list(comp / SQRT(n2) ORDER BY pos) AS v FROM (
    SELECT pos, comp,
      (CAST(FLOOR(ROUND(SUM(CAST(comp * comp AS DECIMAL(38,10))) OVER (), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(comp * comp AS DECIMAL(38,10))) OVER (), 4) - FLOOR(ROUND(SUM(CAST(comp * comp AS DECIMAL(38,10))) OVER (), 4)) AS DOUBLE)) AS n2
    FROM (
      SELECT i - 1 AS pos,
        (CAST(FLOOR(ROUND(SUM(CAST(({_PCA_DOT_V}) * CAST(e.embedding[i] AS DOUBLE)
          AS DECIMAL(38,10))), 4)) AS DOUBLE) + CAST(ROUND(SUM(CAST(({_PCA_DOT_V}) * CAST(e.embedding[i] AS DOUBLE)
          AS DECIMAL(38,10))), 4) - FLOOR(ROUND(SUM(CAST(({_PCA_DOT_V}) * CAST(e.embedding[i] AS DOUBLE)
          AS DECIMAL(38,10))), 4)) AS DOUBLE)) AS comp
      FROM embeddings e CROSS JOIN {vtab} v, unnest(range(1, {DIM + 1})) AS t(i)
      GROUP BY i
    )
  )
"""


PCA_ORACLE = f"""
WITH v0 AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id = 0
), v1 AS ({_sql_pca_step('v0')}),
v2 AS ({_sql_pca_step('v1')})
SELECT CAST(t.i - 1 AS INT) AS pos, ROUND(v.v[t.i], 4) AS loading_r4
FROM v2 v, unnest(range(1, {DIM + 1})) AS t(i)
"""


@query("pca_power_iteration", oracle=PCA_ORACLE)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding table by power iteration
    (PCA_ITERS unrolled rounds, uncentered — the top right-singular
    vector), the dimensionality-reduction primitive next to k-means and PQ
    in the embeddings toolkit. Each round: score every vector against v
    (sequential-fold dot — order-fixed IEEE), accumulate per-component sums
    of score·x (decimal-exact, so partition order is irrelevant), normalize
    row-locally. The DuckDB oracle unrolls the same two rounds in CTEs —
    same discipline as the k-means oracle.

    Scale shape per round: v is ONE broadcast row; scoring + posexplode
    component sums are one map-side pass + one |DIM|-key aggregation (the
    embedding_centroids shape); nothing global except the 64-row norm
    rollup. Cost per round is one corpus scan — power iteration at 100 TB
    is exactly as expensive as computing centroids."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    v = e.where(F.col("vec_id") == 0).select(F.col("emb").alias("v"))
    for _ in range(PCA_ITERS):
        scored = e.crossJoin(F.broadcast(v)).select(
            seq_dot(F.col("emb"), F.col("v")).alias("score"),
            F.posexplode("emb").alias("pos", "x"),
        )
        comps = scored.groupBy("pos").agg(
            dsum(F.col("score") * F.col("x"), "comp")
        )
        n2 = comps.agg(
            dsum(F.col("comp") * F.col("comp"), "n2")
        )
        normed = comps.crossJoin(F.broadcast(n2)).select(
            "pos", (F.col("comp") / F.sqrt("n2")).alias("val")
        )
        v = normed.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"],
            ).alias("v")
        )
    return (
        v.select(F.posexplode("v").alias("pos", "loading"))
        .select("pos", F.round("loading", 4).alias("loading_r4"))
    )


# --- hard-negative mining (contrastive-training data prep) -------------------

HARDNEG_K = 5
HARDNEG_QUERIES = 8

HARDNEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS qv
  FROM embeddings WHERE vec_id < {HARDNEG_QUERIES}
), scored AS (
  SELECT query_id, query_label, vec_id AS negative_id, label AS negative_label,
         {_sql_cosine('qv', 'embedding')} AS cosine_sim
  FROM q CROSS JOIN embeddings
  WHERE label != query_label
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, negative_id ASC) AS rk
  FROM scored
)
SELECT query_id, query_label, negative_id, negative_label, cosine_sim,
       CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {HARDNEG_K}
"""


@query("hard_negative_mining", oracle=HARDNEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training (ANCE /
    DPR-style): for each anchor, the top-k most-similar vectors with a
    DIFFERENT label — the negatives that actually move the loss, vs the
    uninformative random negatives in-batch sampling yields.

    Same execution shape as cosine_topk (broadcast anchor set ×
    embarrassingly-parallel scan, per-anchor windowed top-k) with the
    label-mismatch predicate applied BEFORE scoring, so disqualified rows
    never pay the dot product. At 100 TB the scan side is replaced by the
    ANN candidate stream (ann_multiprobe_topk / ivf_topk) and this ranking
    runs unchanged over candidates — mining cost then scales with the
    candidate budget, not the corpus."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < HARDNEG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .where(F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            cosine(as_double("qv"), as_double("embedding")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HARDNEG_K)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            "cosine_sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --- incremental IVF maintenance --------------------------------------------

IVF_REBALANCE_GROWTH = 0.25  # re-cluster a cell once it grows by >25%

INCR_IVF_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cv FROM embeddings
  WHERE vec_id < {IVF_CELLS}
), corpus_assign AS (
  SELECT e.vec_id, c.cell_id,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      ORDER BY {_sql_cosine('e.embedding', 'c.cv')} DESC, c.cell_id ASC) AS rk
  FROM embeddings e CROSS JOIN cents c
), corpus_cells AS (
  SELECT cell_id, COUNT(*) AS n_corpus FROM corpus_assign
  WHERE rk = 1 GROUP BY cell_id
), batch AS (
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id % 7 = 0
), batch_assign AS (
  SELECT b.vec_id, c.cell_id,
    ROW_NUMBER() OVER (PARTITION BY b.vec_id
      ORDER BY {_sql_cosine('b.embedding', 'c.cv')} DESC, c.cell_id ASC) AS rk
  FROM batch b CROSS JOIN cents c
), batch_cells AS (
  SELECT cell_id, COUNT(*) AS n_new FROM batch_assign
  WHERE rk = 1 GROUP BY cell_id
)
SELECT
  COALESCE(cc.cell_id, bc.cell_id) AS cell_id,
  CAST(COALESCE(cc.n_corpus, 0) AS BIGINT) AS n_corpus,
  CAST(COALESCE(bc.n_new, 0) AS BIGINT) AS n_new,
  CASE WHEN COALESCE(cc.n_corpus, 0) > 0
       THEN CAST(COALESCE(bc.n_new, 0) AS DOUBLE) / cc.n_corpus END
    AS growth_ratio,
  CASE WHEN COALESCE(cc.n_corpus, 0) > 0
       THEN CAST(COALESCE(bc.n_new, 0) AS DOUBLE) / cc.n_corpus
            > {IVF_REBALANCE_GROWTH}
       ELSE TRUE END AS needs_recluster
FROM corpus_cells cc FULL OUTER JOIN batch_cells bc USING (cell_id)
"""


@query("incremental_ivf_assign", oracle=INCR_IVF_ORACLE)
def incremental_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the embeddings-side sibling of
    incremental_dedup: a new ingest batch is assigned to the EXISTING IVF
    cells (broadcast centroids, map-side cross-score — the corpus index is
    never rebuilt), then per-cell growth is rolled up and cells whose
    population grew past IVF_REBALANCE_GROWTH (or that had no corpus
    vectors at all) are flagged for re-clustering. This is the daily loop
    of a production vector store: cheap assignment every batch, targeted
    re-clustering only where drift concentrates.

    Scale shape: both assignments are broadcast cross-scores over their own
    scan (zero shuffle before the cell rollup); the rollups meet in a
    cell-keyed full-outer join over |cells| rows. Integer counts; the only
    float output is one guarded division."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cents = e.where(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    corpus_cells = (
        _assign_cells(e, cents, 1, "vec_id").groupBy("cell_id").agg(
            F.count("*").alias("n_corpus")
        )
    )
    batch = e.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "v"
    )
    batch_cells = (
        _assign_cells(batch, cents, 1, "vec_id").groupBy("cell_id").agg(
            F.count("*").alias("n_new")
        )
    )
    joined = corpus_cells.join(batch_cells, "cell_id", "full_outer").select(
        "cell_id",
        F.coalesce("n_corpus", F.lit(0)).alias("n_corpus"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    growth = F.when(
        F.col("n_corpus") > 0, F.col("n_new").cast("double") / F.col("n_corpus")
    )
    return joined.select(
        "cell_id",
        "n_corpus",
        "n_new",
        growth.alias("growth_ratio"),
        F.when(F.col("n_corpus") > 0, growth > IVF_REBALANCE_GROWTH)
        .otherwise(F.lit(True))
        .alias("needs_recluster"),
    )
