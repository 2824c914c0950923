"""Deduplication operators for training-data pipelines (driver-mandated
extension): exact hash dedup, n-gram Jaccard near-dup, MinHash-LSH, SimHash.

Scale design:
- exact: one groupBy on a 128-bit content hash — the cheapest possible
  shuffle key; survivors picked with min(doc_id) (deterministic).
- n-gram Jaccard: shingle-explode → per-shingle doc-list grouping → pair
  emission with array lambdas (ONE scan, no self-join; see
  ngram_jaccard_pairs). Frequency capping (drop shingles appearing in
  > MAX_DF docs) bounds pair fan-out at web scale.
- MinHash-LSH: k=32 hash functions, b=8 bands × r=4 rows; candidates = docs
  sharing a band key, emitted by the same grouped-pairs shape
  (_band_pairs — the signature table is computed and shuffled once). Two registrations: the fast path (xxhash64, JVM-native,
  rows-only check + Jaccard-tracking tests) and a portable-md5 variant whose
  ENTIRE pipeline is value-verified against the DuckDB oracle.
- SimHash: 64-bit signature from per-token hash bits, banded for Hamming
  candidate search. Pure array/lambda SQL — no UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..queries import query
from ..sources.tables import cpu_parallelism, load_table, local_table_bytes


def _with_synthetic_dupes(d: DataFrame) -> DataFrame:
    """Test fixture: re-inject every 5th doc under a new doc_id so dedup has
    real work (the synthetic corpus is 100% distinct)."""
    dupes = d.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return d.unionByName(dupes)


EXACT_ORACLE = """
WITH corpus AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
), hashed AS (
  SELECT doc_id, MD5(text) AS content_hash FROM corpus
)
SELECT content_hash,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_copies,
       COUNT(*) - 1 AS n_removed
FROM hashed
GROUP BY content_hash
"""


@query("exact_dedup", oracle=EXACT_ORACLE, bench=True)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy with deterministic survivor selection.
    At 100 TB: hash is computed map-side, shuffle carries (hash, doc_id)
    only — bytes shuffled ∝ doc count, not corpus bytes."""
    d = _with_synthetic_dupes(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count("*").alias("n_copies"),
            (F.count("*") - 1).alias("n_removed"),
        )
    )


# --- word-level n-gram Jaccard ---------------------------------------------

NGRAM_N = 3
JACCARD_THRESHOLD = 0.10
MAX_SHINGLE_DF = 1000  # drop shingles in > this many docs: boilerplate
# n-grams ("click here to") otherwise generate O(df²) candidate pairs; the
# cap bounds self-join fan-out at web scale. No effect on the synthetic
# corpus (max df ≪ cap) — semantics mirrored in the oracle regardless.

# Parity note: the Spark side joins on xxhash64(shingle) (see
# exploded_shingles) while this oracle joins raw shingle strings, so parity
# is PROBABILISTIC under the int64-hash trade-off — a (birthday-bound ~1e-7)
# collision would perturb one n_common/DF count. If this oracle ever
# mismatches at a larger SF, triage as a hash collision first.
JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), shingle_sets AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(w) - {NGRAM_N - 2}),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM toks
), shingles AS (
  SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle
  FROM shingle_sets
), capped AS (
  SELECT * FROM shingles
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common,
  CAST(COUNT(*) AS DOUBLE)
    / (MIN(a.n_shingles) + MIN(b.n_shingles) - COUNT(*)) AS jaccard
FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING CAST(COUNT(*) AS DOUBLE)
    / (MIN(a.n_shingles) + MIN(b.n_shingles) - COUNT(*)) >= {JACCARD_THRESHOLD}
"""


def shingle_sets(d: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """Per-doc DISTINCT word n-gram shingle array — pure per-row array ops
    (transform + array_distinct), NO shuffle. Set size rides along, so
    Jaccard needs no separate sizes join.

    The token array is BOUND as a column before the transform: an inline
    ``split(text)`` inside the lambda is re-evaluated per element
    (O(words²) per doc — measured 8× slower); a column reference is
    evaluated once per row."""
    d2 = d.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
    w = F.col("_w")
    idx = F.sequence(F.lit(0), F.size(w) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)])
    )
    return (
        d2.select("doc_id", F.array_distinct(grams).alias("shingles"))
        .withColumn("n_shingles", F.size("shingles"))
    )


def exploded_shingles(d: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, n_shingles, sh64) rows — the join-ready shape. Shingles are
    hashed to int64 (xxhash64) BEFORE the explode: the DF-cap window and the
    self-join then shuffle and compare 8-byte keys instead of ~30-char
    strings (measured 4.4× at sf0.1, identical pairs). Collision risk is the
    standard birthday bound — ~1e-7 at 5M distinct shingles, and a collision
    only perturbs one n_common count by 1; every dedup system at scale
    makes this trade."""
    # explode_OUTER + isNotNull, not plain explode: the non-outer generator
    # makes InferFiltersFromGenerate push `size(...)>0 AND isnotnull(...)`
    # over the FULL interpreted shingle chain below the exchange — two extra
    # evaluations of the most expensive map expression in the pipeline
    # (see minhash_signatures). No doc has a null/empty shingle set (min 10
    # words/doc at every SF), so row semantics are identical.
    return (
        shingle_sets(d, n)
        .select(
            "doc_id",
            "n_shingles",
            F.explode_outer(
                F.transform("shingles", lambda x: F.xxhash64(x))
            ).alias("sh64"),
        )
        .where(F.col("sh64").isNotNull())
    )


def _ngram_pair_partials(ex: DataFrame) -> DataFrame:
    """DF-cap window → per-shingle grouped i<j pair emission → per-pair
    PARTIAL aggregate (co-occurrence count + set sizes), over one exploded
    (doc_id, n_shingles, sh64) stream. One sh64 hash partitioning feeds
    both the cap window and the collect_list; the pair aggregation is the
    only other exchange; no join operator (plan-asserted).

    Shard-composable by construction: every emission belongs to exactly
    one shingle, so over a PARTITION of the sh64 space the per-shard
    partials sum to the single-pass aggregate (n_common is additive,
    sa/sb are per-doc constants) — the lossless property the segmented
    sf100 path in ngram_jaccard_pairs relies on."""
    w = Window.partitionBy("sh64")
    capped = ex.withColumn("shingle_df", F.count("*").over(w)).where(
        F.col("shingle_df") <= MAX_SHINGLE_DF
    )
    docs_sorted = F.array_sort(F.collect_list(F.struct("doc_id", "n_shingles")))
    grouped = capped.groupBy("sh64").agg(docs_sorted.alias("docs"))
    docs = F.col("docs")
    n = F.size(docs)
    pair_arrays = F.transform(
        docs,
        lambda x, i: F.transform(
            F.slice(docs, i + F.lit(2), n - i - F.lit(1)),
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["n_shingles"].alias("sa"),
                y["n_shingles"].alias("sb"),
            ),
        ),
    )
    # explode_OUTER + isNotNull: a plain explode makes the optimizer infer
    # `size(flatten(transform(...))) > 0 AND isnotnull(...)` above the
    # aggregate (InferFiltersFromGenerate) — evaluating the ENTIRE
    # interpreted pair-emission lambda chain two extra times per bucket.
    # The outer form infers nothing; the null filter on the generated
    # attribute drops exactly the rows inner explode never emitted
    # (single-doc buckets flatten to an empty pair list → one NULL row).
    # Singleton buckets (one doc per shingle — the common case) emit no
    # pairs: drop them BEFORE the generate with an O(1) size() on the
    # materialized list column, which the old inferred filter did only by
    # re-evaluating the whole emission chain.
    pairs = (
        grouped.where(F.size("docs") >= 2)
        .select(F.explode_outer(F.flatten(pair_arrays)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.*")
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_common"),
        F.min("sa").alias("sa"),
        F.min("sb").alias("sb"),
    )


def _ngram_finalize(partials: DataFrame) -> DataFrame:
    """Jaccard from the (n_common, sa, sb) aggregate + threshold filter —
    shared by the single-pass plan and the segmented merge."""
    jac = F.col("n_common").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("n_common")
    )
    return (
        partials.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


@query("ngram_jaccard_pairs", oracle=JACCARD_ORACLE, bench=True)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.10.

    Shuffle budget (the whole point at 100 TB): a self-JOIN formulation
    scans and shingles the corpus TWICE (Spark does not reuse the exchange
    across the aliased sides — verified) and either sort-merges two
    full shingle tables or, if size misestimates win, broadcasts one
    (OOM at web scale). Instead: ONE scan → ONE hash partitioning on the
    shingle hash, where the document-frequency cap window and a
    groupBy(sh64).collect_list share the same exchange, then candidate
    pairs are emitted per shingle with array lambdas (i<j over the
    doc_id-sorted list — bounded at MAX_SHINGLE_DF² per shingle by the DF
    cap, which filters BEFORE the list materializes so boilerplate
    shingles never build giant arrays). The pair aggregation is the only
    other exchange, and there is no join operator in the plan at all
    (plan-asserted). Measured: same 260 pairs as the join form at sf0.1,
    ~25% faster warm, half the corpus I/O. Integer ratio arithmetic →
    engine-exact vs the oracle.

    SCALE PATH (input past _NGRAM_SEGMENT_BYTES, K = _ngram_shards): the
    SAME operators cut into K sequential jobs over disjoint sh64 ranges
    against a disk-backed checkpoint of the hashed shingle sets, each
    pass reduced to a per-pair PARTIAL aggregate (tiny: true pairs, not
    exploded tokens) before a cross-pass merge sums n_common. LOSSLESS:
    each shingle lands in exactly one range, so the per-shard partials
    sum to the single-pass aggregate (sa/sb are per-doc constants) —
    pinned by test_llm_pipeline_ops.py::
    test_ngram_sharded_equals_single_pass. This path exists to BOUND ONE
    NODE'S DISK for corpora whose single-pass shuffle spill would exceed
    it (per-pass high-water ≈ 1/K of the spill; on a cluster the same
    cut bounds per-executor shuffle dirs) — it is NOT a throughput win:
    the measured sf100 A/B (SCALING.md "Round-11") has K=5 1.9× slower
    than single-pass, so the default threshold sits where spill
    approaches node disk (~2 GiB of documents), a decade past sf100."""
    shards = _ngram_shards(sf_dir)
    d = load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    if shards == 1:
        return _ngram_finalize(_ngram_pair_partials(exploded_shingles(d)))

    # --- segmented regime (corpus-scale input) -----------------------------
    sets = (
        shingle_sets(d)
        .select(
            "doc_id",
            "n_shingles",
            F.transform("shingles", lambda x: F.xxhash64(x)).alias("sh"),
        )
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    _reclaim_shuffles(spark)
    parts = []
    for k in range(shards):
        ex = sets.select(
            "doc_id", "n_shingles", F.explode("sh").alias("sh64")
        ).where(F.pmod(F.col("sh64"), F.lit(shards)) == k)
        p = _ngram_pair_partials(ex).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        parts.append(p)
        _reclaim_shuffles(spark)
    _unpersist_checkpoint(sets)
    del sets
    _reclaim_shuffles(spark)
    merged = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum("n_common").alias("n_common"),
            F.min("sa").alias("sa"),
            F.min("sb").alias("sb"),
        )
    )
    return _ngram_finalize(merged)


# --- MinHash + LSH ------------------------------------------------------------

MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = MINHASH_K // LSH_BANDS


def minhash_signatures(ss: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """k minhashes per doc via a codegen'd shingle explode + k MIN
    aggregates, reassembled into the ordered signature array.

    Two-level hashing (unchanged, bit-identical): each variable-length
    shingle STRING is hashed ONCE (``xxhash64(shingle)``), and the k
    per-seed hashes re-hash only that fixed 8-byte long
    (``xxhash64(base, s)``) — O(len + k·8) bytes hashed per shingle.
    (Multiply-add universal hashing would be cheaper still, but bigint
    overflow throws under ANSI mode, which the driver's session may
    enable; xxhash64 over a long cannot overflow.)

    Execution shape (r12): the previous nested-lambda form
    (``transform(seq(0,k-1), s -> array_min(transform(base, h -> ...)))``)
    kept everything map-side but ran INTERPRETED — Spark never codegens
    higher-order lambdas — costing k·|shingles| boxed evals per doc plus k
    array allocations; it was the measured wall of the bench query (cold
    first runs 3-5× warm while C2 chews the interpreter paths). The
    explode + ``min(xxhash64(_b, s))``-per-seed aggregate runs fully
    compiled (explode, hash projection, and PARTIAL hash agg in one
    whole-stage-codegen span), and because each doc's shingles arrive in
    one input row the partial agg collapses to ONE row per doc map-side —
    the exchange ships |docs| × k longs, never shingle rows (the 2.4×
    regression the old docstring pinned on "explode + groupBy" belonged to
    a k·|shingles|-ROW explode; this form explodes shingles once).

    A/B vs the old map-side lambda shape (r13, SCALING.md — the
    full minhash_lsh_candidates pipeline, interleaved in one warm session
    per SF; VERDICT r12 item 3): sf0.1 warm is a TIE within host noise
    (new 1.585 s best vs old 1.517 — the earlier "1.9 → 0.9 s" claim
    was wrong), sf1 this shape wins decisively — warm best 2.534 s vs
    4.501 (1.78×), cold 4.868 vs 14.693 (3.0×): the interpreted
    k·|shingles| lambda loop is the term that grows with corpus size.
    Kept: flat at the small scale, wins every larger one. Signatures
    bit-identical (seeds stay INT literals, matching the old
    ``sequence(0, k-1)`` element type xxhash64 hashes by)."""
    # explode_OUTER, not explode: for a non-outer generator the optimizer
    # infers `size(child) > 0 AND isnotnull(child)` and pushes it below the
    # exchange (InferFiltersFromGenerate) — re-evaluating the INTERPRETED
    # shingle chain two more times per doc (measured 3.3 s vs 0.38 s for
    # the explode alone at sf0.1). The outer form infers nothing; the
    # isNotNull filter on the GENERATED attribute restores inner-explode
    # row semantics at per-row cost ~0.
    ex = ss.select("doc_id", F.explode_outer("shingles").alias("_sh")).where(
        F.col("_sh").isNotNull()
    )
    mins = (
        ex.select("doc_id", F.xxhash64(F.col("_sh")).alias("_b"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("_b"), F.lit(s))).alias(f"_m{s}")
                for s in range(k)
            ]
        )
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"_m{s}") for s in range(k)]).alias("signature")
    )


MAX_BAND_BUCKET = 1000  # docs per band bucket before the bucket is dropped.
# Banding does NOT keep buckets small when the corpus is exact-dup heavy:
# N byte-identical docs share identical signatures, hence one bucket in
# EVERY band, and the grouped emission would build an N-element array plus
# ~N²/2 pair structs in a single task (the self-join it replaced streamed
# those pairs). The cap filters such buckets BEFORE collect_list
# materializes anything — the count window shares the bucket-key exchange,
# so it costs no extra shuffle (same shape as MAX_SHINGLE_DF in the n-gram
# path). Recall note: a >cap bucket is overwhelmingly an exact-duplicate
# cluster; run exact_dedup first (as any production pipeline does) and the
# cap never triggers on true near-dups. Mirrored in both oracles.


def _band_pairs(
    bands: DataFrame, group_cols: list, max_bucket: int = MAX_BAND_BUCKET
) -> DataFrame:
    """Candidate pairs from band rows WITHOUT a self-join: group docs per
    band bucket and emit i<j pairs over the doc_id-sorted list with array
    lambdas. The self-join formulation computes the (expensive, map-side)
    signature table TWICE — Spark does not reuse exchanges across aliased
    self-join sides — and needs a merge hint to avoid a misestimated
    broadcast; this shape computes it once and shuffles it once. Bucket
    fan-out is bounded by ``max_bucket`` (see MAX_BAND_BUCKET): oversized
    buckets — exact-dup clusters sharing identical signatures in all
    bands — are dropped before the doc list materializes."""
    w = Window.partitionBy(*group_cols)
    capped = bands.withColumn("_bucket_n", F.count("*").over(w)).where(
        F.col("_bucket_n") <= max_bucket
    )
    grouped = capped.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "signature"))).alias("docs")
    )
    docs = F.col("docs")
    n = F.size(docs)
    pair_arrays = F.transform(
        docs,
        lambda x, i: F.transform(
            F.slice(docs, i + F.lit(2), n - i - F.lit(1)),
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["signature"].alias("sig_a"),
                y["signature"].alias("sig_b"),
            ),
        ),
    )
    # explode_OUTER + isNotNull — see _ngram_pair_partials: avoids the
    # inferred-filter triple evaluation of the pair-emission chain; the
    # null filter drops the one NULL row an empty (single-doc) bucket's
    # flattened pair list generates under the outer form.
    return (
        # singleton buckets emit no pairs — O(1) size() pre-filter (see
        # _ngram_pair_partials)
        grouped.where(F.size("docs") >= 2)
        .select(F.explode_outer(F.flatten(pair_arrays)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.*")
    )


@query("minhash_lsh_candidates", bench=True)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: b=8 bands x r=4; docs sharing a band
    key become candidate pairs (grouped emission, no self-join — see
    _band_pairs), then verified by signature agreement rate.

    No SQL oracle (xxhash64 is engine-native); the driver records a
    rows-only check and tests verify against true Jaccard on known dupes.
    """
    d = _with_synthetic_dupes(
        load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    )
    sig = minhash_signatures(shingle_sets(d))
    # band key = hash of that band's slice of the signature
    band_key = F.md5(
        F.concat_ws(
            "-",
            F.col("band").cast("string"),
            F.slice("signature", F.col("band") * LSH_ROWS + 1, LSH_ROWS).cast("string"),
        )
    )
    bands = sig.select(
        "doc_id",
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).select("doc_id", "signature", band_key.alias("band_key"))
    pairs = _band_pairs(bands, ["band_key"])
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / MINHASH_K).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= 0.5)
        .distinct()
    )


# --- SimHash --------------------------------------------------------------------

@query("simhash_signatures")
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per doc from token-hash bit votes, plus 4×16-bit band
    keys for Hamming-distance candidate search. Codegen'd explode + per-bit
    SUM votes (same compiled shape and tf-telescoping equivalence as
    _simhash_sig_compiled), no Python. Rows-only check (engine-native
    hash)."""
    d = load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    # Plain explode is CORRECT here (r13, measured): InferFiltersFromGenerate
    # does not fire on a bare split(text) child in Spark 4.1.x — the r13
    # before-plan shows `explode(split(..)), outer=false` with NO inferred
    # size-filter below it — so the explode_outer+isNotNull rewrite applied
    # to the expensive transform-chain generators would only ADD a per-token
    # Filter node on this hot path (plan-verified: plans/r13/
    # simhash_hamming_pairs_after.txt from the trial rewrite).
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    out = _simhash_sig_compiled(tokens, "xxhash64(t)", 64).withColumnRenamed(
        "signature", "simhash"
    )
    for band in range(4):
        out = out.withColumn(
            f"band_{band}",
            F.shiftright(F.col("simhash"), band * 16).bitwiseAND(F.lit(0xFFFF)),
        )
    return out


# --- MinHash-LSH, cross-engine-verified variant -------------------------------

# The fast path above uses xxhash64 (JVM-native, no DuckDB equivalent), so the
# driver can only row-count it. This variant swaps in a PORTABLE hash — the
# first 15 hex digits of md5(shingle + '#' + seed) as a 60-bit integer, an
# idiom both engines evaluate identically — making the ENTIRE pipeline
# (shingles → signatures → bands → candidates → similarity estimates)
# value-hash-verifiable against the oracle. Same plan shape as the fast path;
# md5 costs ~3× xxhash64 in the map stage, so production keeps xxhash64.


def portable_hash64(c: Column, seed: int | Column) -> Column:
    """SQL mirror:
    ``CAST(('0x' || SUBSTR(MD5(x || '#' || seed), 1, 15)) AS BIGINT)``.

    ``seed`` may be a literal int/str or a Column (e.g. a lambda variable
    inside a higher-order transform) — one definition for every call site
    (dedup bands, batching prefix cut, sketches, per-group sampling), so
    the formulations cannot drift apart."""
    seed_col = (
        F.lit(str(seed)) if isinstance(seed, (int, str)) else seed.cast("string")
    )
    return (
        F.conv(F.substring(F.md5(F.concat_ws("#", c, seed_col)), 1, 15), 16, 10)
        .cast("bigint")
    )


MINHASH_VERIFIED_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
), sets AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - {NGRAM_N - 2}),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
), exploded AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sets
), seeded AS (
  SELECT doc_id, s.seed,
    MIN(CAST(('0x' || SUBSTR(MD5(shingle || '#' || CAST(s.seed AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
  FROM exploded CROSS JOIN (SELECT unnest(range(0, {MINHASH_K})) AS seed) s
  GROUP BY doc_id, s.seed
), sigs AS (
  SELECT doc_id, list(mh ORDER BY seed) AS signature FROM seeded GROUP BY doc_id
), bands AS (
  SELECT doc_id, signature, b.band,
         signature[b.band*{LSH_ROWS}+1 : b.band*{LSH_ROWS}+{LSH_ROWS}] AS band_sig
  FROM sigs CROSS JOIN (SELECT unnest(range(0, {LSH_BANDS})) AS band) b
  QUALIFY COUNT(*) OVER (PARTITION BY b.band, band_sig) <= {MAX_BAND_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(len(list_filter(list_transform(range(1, {MINHASH_K + 1}),
       i -> a.signature[i] = b.signature[i]), x -> x)) AS DOUBLE) / {MINHASH_K}
    AS est_jaccard
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(list_transform(range(1, {MINHASH_K + 1}),
       i -> a.signature[i] = b.signature[i]), x -> x)) AS DOUBLE) / {MINHASH_K} >= 0.5
"""


@query("minhash_lsh_verified", oracle=MINHASH_VERIFIED_ORACLE)
def minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-paired MinHash-LSH: portable md5-derived minhashes, band
    bucketing on (band, signature-slice). The oracle states the semantics
    as a band self-join; the engine computes the identical pair set via
    grouped emission (_band_pairs) so the signature table is computed and
    shuffled exactly once."""
    d = _with_synthetic_dupes(
        load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    )
    # map-side signatures (see minhash_signatures); the seed arrives as a
    # Column from the outer lambda — portable_hash64 accepts both
    sig_expr = F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_K - 1)),
        lambda s: F.array_min(
            F.transform(F.col("shingles"), lambda x: portable_hash64(x, s))
        ),
    )
    sig = shingle_sets(d).select("doc_id", sig_expr.alias("signature"))
    bands = sig.select(
        "doc_id",
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).withColumn("band_sig", F.slice("signature", F.col("band") * LSH_ROWS + 1, LSH_ROWS))
    pairs = _band_pairs(bands, ["band", "band_sig"])
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / MINHASH_K).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= 0.5)
        .distinct()
    )


# --- SimHash, cross-engine-verified Hamming pairs ------------------------------

SIMHASH_BITS = 60  # full width of the portable 60-bit token hash: 4×15-bit
# bands give a 32768-key space per band — 8× fewer coincidental band
# collisions than the earlier 48-bit/12-bit layout on bucket-heavy corpora
# (measured at sf0.1: candidate pairs 10.6M → a fraction, wall time ~halved)
# while exact/near dupes still collide in every band, as they must.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = 3

_PORTABLE_TOKEN_HASH = (
    "CAST(CONV(SUBSTR(MD5(CONCAT(t, '#0')), 1, 15), 16, 10) AS BIGINT)"
)

# tf-WEIGHTED bit votes (Charikar's actual formulation): each distinct token
# votes with weight = its in-doc frequency. Unweighted votes over distinct
# tokens degenerate on vocabulary-saturated corpora — two long docs over the
# same vocabulary have IDENTICAL distinct-token sets, hence identical
# signatures, and the Hamming pair stage explodes on false near-dups
# (measured at sf0.1: 633K Hamming-≤3 pairs unweighted vs the true near-dup
# set weighted).


def _simhash_sig_compiled(tokens: DataFrame, hash_sql: str, bits: int) -> DataFrame:
    """(doc_id, signature) SimHash via a codegen'd explode + per-bit SUM
    aggregate — replaces the former two-level higher-order aggregate
    (``transform(sequence(0,bits), i -> aggregate(hs, ...))``), which Spark
    always evaluates INTERPRETED (higher-order lambdas get no codegen): at
    sf0.1 that interpreted vote loop was the measured wall of the whole
    query (~1.5 s warm of 2.9 s, 35 s cold before C2 compiles the
    interpreter paths; at sf100 the query was CPU-bound at 1567 s).

    EQUIVALENT BY TELESCOPING, bit-identical: Charikar's tf-weighted vote
    over DISTINCT tokens, Σ_t tf(t)·(2·bit_i(h(t))−1), equals the unweighted
    sum over every token OCCURRENCE — each occurrence contributes its
    token's ±1 vote exactly once, and integer addition is order-free, so
    per-bit sums and the packed signature match the per-distinct-token form
    the oracle states (the oracle keeps that form; pinned value-exact).

    Shuffle shape: every doc's tokens arrive in ONE input row, so the
    PARTIAL hash aggregate collapses to one row per doc map-side and the
    exchange ships |docs| × bits longs — never token rows. The md5 hash
    runs once per occurrence instead of once per distinct token, which
    trades ~15% more (compiled, native) hashing for dropping the
    O(distinct × tokens) interpreted tf scan entirely.

    ``tokens``: (doc_id, t) rows, one per token occurrence; ``hash_sql``:
    a SQL expression over ``t`` yielding the BIGINT token hash. Docs with
    NULL/absent text would be dropped by the explode upstream — the corpus
    generator never emits them (asserted against every SF)."""
    h = F.expr(hash_sql)
    votes = tokens.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).cast(
                    "long"
                )
            ).alias(f"_s{i}")
            for i in range(bits)
        ]
    )
    packed = reduce(
        Column.__add__,
        [
            F.when(
                F.col(f"_s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ],
    )
    return votes.select("doc_id", packed.alias("signature"))

SIMHASH_PAIRS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
), hashed AS (
  SELECT doc_id,
    list_transform(list_distinct(w), t ->
      {{'h': CAST(('0x' || SUBSTR(MD5(t || '#0'), 1, 15)) AS BIGINT),
        'w': CAST(len(list_filter(w, x -> x = t)) AS BIGINT)}}) AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
), sigs AS (
  SELECT doc_id,
    list_reduce(
      list_transform(range(0, {SIMHASH_BITS}), i ->
        CASE WHEN list_reduce(
                  list_transform(hs, e -> e.w * (((e.h >> i) & 1) * 2 - 1)),
                  (x, y) -> x + y) > 0
             THEN CAST(2**i AS BIGINT) ELSE CAST(0 AS BIGINT) END),
      (x, y) -> x + y) AS simhash
  FROM hashed
), bands AS (
  SELECT doc_id, simhash, b.band,
    (simhash >> (b.band * {SIMHASH_BAND_BITS})) & {2**SIMHASH_BAND_BITS - 1} AS band_key
  FROM sigs CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band) b
  QUALIFY COUNT(*) OVER (PARTITION BY b.band, band_key) <= {MAX_BAND_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


@query("simhash_hamming_pairs", oracle=SIMHASH_PAIRS_ORACLE, bench=True)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs, fully oracle-verified: portable
    60-bit signatures from md5 token hashes (one hash per DISTINCT token,
    bits voted sign-majority weighted by in-doc tf — Charikar's weighted
    form; see _SIMHASH_EXPR), banded into 4×15-bit keys — a pair within
    Hamming ≤ {HAMMING_MAX} of a shared band key is a candidate. Same
    pigeonhole guarantee as production SimHash dedup: any pair with ≤
    {SIMHASH_BANDS}-1 differing bands shares a key. Pairs come from the
    grouped per-bucket emission (_band_pairs) — one signature
    computation, one tiny doc-level exchange plus the band shuffle, no
    self-join (the oracle still states the semantics as the band join;
    the vote loop runs compiled — see _simhash_sig_compiled)."""
    d = _with_synthetic_dupes(
        load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    )
    # Plain explode — see simhash_signatures: no inferred size-filter fires
    # on a bare split child, so the outer+isNotNull form would only add a
    # useless per-token Filter (r13 plan-verified).
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    sigs = _simhash_sig_compiled(tokens, _PORTABLE_TOKEN_HASH, SIMHASH_BITS)
    band_key = F.expr(
        f"shiftright(signature, band * {SIMHASH_BAND_BITS}) & {2**SIMHASH_BAND_BITS - 1}"
    )
    bands = sigs.select(
        "doc_id",
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn("band_key", band_key)
    pairs = _band_pairs(bands, ["band", "band_key"])
    hamming = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


# --- near-dup connected components -----------------------------------------

CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({JACCARD_ORACLE})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(doc_id, origin) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst AS doc_id, r.origin FROM reach r JOIN edges e ON e.src = r.doc_id
), comp AS (
  SELECT doc_id, MIN(origin) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT doc_id, cluster_id,
       doc_id = cluster_id AS is_canonical,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


@query("near_dup_clusters", oracle=CLUSTER_ORACLE, bench=True)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the near-dup candidate
    graph (Jaccard ≥ JACCARD_THRESHOLD pairs), cluster id = min doc_id in
    the component, canonical survivor = that doc. The step that turns
    pairwise candidates into "keep one per group" decisions.

    Spark-first shape: iterative hash-min label propagation (the GraphX
    connected-components recurrence) as a driver-side loop of join +
    groupBy(min), run ONLY over nodes that appear in an edge — singleton
    docs (the overwhelming majority of a real corpus) never enter the
    loop and are stitched back with one left join at the end. Each round
    `localCheckpoint` truncates the lineage so the plan stays O(1) deep
    instead of O(iterations). Converges in O(component diameter) rounds;
    near-dup components are tiny (pairs, triangles), so 2-3 rounds in
    practice. For adversarial long-chain graphs the large-star/small-star
    variant (Kiveris et al., "Connected Components in MapReduce") gets
    O(log n) — noted, not needed for dedup graphs.

    The DuckDB oracle computes the same fixpoint as a recursive CTE
    (transitive closure + MIN(origin)) — engine-independent semantics.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # Materialize the candidate pairs once — the shingle self-join must not
    # be recomputed every iteration.
    pairs = pairs.localCheckpoint()
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    # Fused first round (r12): the classic init (label = own id) followed by
    # one propagation is identically ONE groupBy over the edge list —
    # label(d) = min(d, min neighbor) — because edges carry both directions.
    # Same shuffle as the old init's distinct, one fewer join+agg round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "_m").alias("cluster_id"),
        )
        .localCheckpoint()
    )
    while True:
        # The convergence probe rides IN the aggregate (r12): the old label
        # arrives tagged on each doc's own row (exactly one per doc), so
        # min(old) recovers it and "any new < old" is read off the already-
        # materialized checkpoint — the former per-round labels⋈new equi-join
        # (an extra two-shuffle job per iteration) is gone.
        prop = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"),
            "cluster_id",
            F.lit(None).cast("long").alias("_old"),
        )
        own = labels.select(
            "doc_id", "cluster_id", F.col("cluster_id").alias("_old")
        )
        new = (
            own.unionByName(prop)
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min("_old").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = (
            new.where(F.col("cluster_id") != F.col("_old")).limit(1).count()
        )
        labels = new.select("doc_id", "cluster_id")
        if changed == 0:
            break
    full = docs.join(labels, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    w = Window.partitionBy("cluster_id")
    return full.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        F.count("*").over(w).alias("cluster_size"),
    )


REPRESENTATIVE_ORACLE = f"""
WITH comp AS ({CLUSTER_ORACLE}), ranked AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
       cluster_size, cluster_size - 1 AS n_pruned
FROM ranked WHERE rk = 1
"""


@query("dedup_representatives", oracle=REPRESENTATIVE_ORACLE)
def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: one representative per near-dup
    cluster, chosen by a quality key (longest doc, doc_id tiebreak) rather
    than near_dup_clusters' min-id canonical — the policy real pipelines
    want ("keep the best copy"), and the step that turns cluster labels
    into the final keep-list (n_pruned = docs dropped per cluster).

    Scale shape: the cluster labels come from the iterative hash-min
    propagation (near_dup_clusters — loop over edge-touching nodes only);
    selection itself is one broadcast-friendly join onto the quality
    column plus a per-cluster window. The window partitions by cluster_id,
    whose cardinality ~= corpus size (mostly singletons), so there is no
    skewed partition: max group size = max cluster size, bounded by the
    band-bucket caps upstream. Policy key is exact (bigint n_chars +
    doc_id) — no float ordering ambiguity cross-engine."""
    clusters = near_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rk_w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    sz_w = Window.partitionBy("cluster_id")
    ranked = (
        clusters.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(rk_w))
        .withColumn("cluster_size", F.count("*").over(sz_w))
    )
    return ranked.where(F.col("rk") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("rep_doc_id"),
        F.col("n_chars").alias("rep_n_chars"),
        "cluster_size",
        (F.col("cluster_size") - 1).alias("n_pruned"),
    )


# --- blocked record linkage (entity resolution) -------------------------------

LINKAGE_BLOCK_CAP = 500  # max block size before the block is dropped (same
#                          fan-out guard as MAX_BAND_BUCKET — a blocking key
#                          this dense means the key is non-discriminative)
LINKAGE_MAX_DIST = 2

LINKAGE_ORACLE = f"""
WITH capped AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment
  FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS _bn
    FROM customer
  ) WHERE _bn <= {LINKAGE_BLOCK_CAP}
)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       a.c_name AS name_a, b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name) AS edit_distance
FROM capped a JOIN capped b
  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {LINKAGE_MAX_DIST}
"""


@query("record_linkage_pairs", oracle=LINKAGE_ORACLE)
def record_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (entity resolution): candidate pairs from a
    blocking key (nation × market segment), scored with Levenshtein edit
    distance on the name, kept at distance ≤ LINKAGE_MAX_DIST — the
    fuzzy-key cousin of exact_dedup for dimension tables whose natural
    keys are dirty (the MDM half of the reference's customer cleanse,
    scripts/utilities/data_quality_checks shape).

    Same scale discipline as the LSH paths: NO all-pairs join — pairs are
    emitted per block via the grouped i<j array pattern (one scan, one
    shuffle on the block key; a self-join would scan and shuffle customer
    twice), and blocks above LINKAGE_BLOCK_CAP are dropped before any list
    materializes (a key that dense is non-discriminative — production
    answer is a finer blocking key, e.g. name prefix). The distance filter
    runs JVM-side on the exploded pairs; Levenshtein is engine-portable
    (classic Wagner–Fischer in both Spark and DuckDB)."""
    # no min_partitions round-robin here: the block-key window immediately
    # hash-partitions anyway, and a preceding repartition would be a second
    # (pure-overhead) exchange of the same rows.
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey", "c_mktsegment")
    capped = (
        c.select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        .withColumn("_bn", F.count("*").over(w))
        .where(F.col("_bn") <= LINKAGE_BLOCK_CAP)
    )
    grouped = capped.groupBy("c_nationkey", "c_mktsegment").agg(
        F.array_sort(F.collect_list(F.struct("c_custkey", "c_name"))).alias("members")
    )
    members = F.col("members")
    n = F.size(members)
    pair_arrays = F.transform(
        members,
        lambda x, i: F.transform(
            F.slice(members, i + F.lit(2), n - i - F.lit(1)),
            lambda y: F.struct(
                x["c_custkey"].alias("custkey_a"),
                y["c_custkey"].alias("custkey_b"),
                x["c_name"].alias("name_a"),
                y["c_name"].alias("name_b"),
            ),
        ),
    )
    # explode_OUTER + isNotNull + singleton pre-filter — see
    # _ngram_pair_partials
    pairs = (
        grouped.where(F.size("members") >= 2)
        .select(F.explode_outer(F.flatten(pair_arrays)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.*")
    )
    return pairs.withColumn(
        "edit_distance", F.levenshtein("name_a", "name_b")
    ).where(F.col("edit_distance") <= LINKAGE_MAX_DIST)


# --- benchmark decontamination ------------------------------------------------

DECON_N = 5  # contamination n-gram width (13 in GPT-3's rule; 5 fits the
#              short synthetic docs — the operator is width-parametric)
DECON_EVAL_MOD = 20  # ~5% deterministic hash sample plays the benchmark set

DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(range(1, len(w) - {DECON_N - 2}),
      i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(DECON_N))}))) AS g
  FROM toks
), hashed AS (
  SELECT doc_id,
    CAST(('0x' || SUBSTR(MD5(g || '#g'), 1, 15)) AS BIGINT) AS g64,
    (CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '#eval'), 1, 15))
      AS BIGINT) % {DECON_EVAL_MOD}) = 0 AS is_eval
  FROM grams
)
SELECT t.doc_id,
  CAST(COUNT(DISTINCT t.g64) AS BIGINT) AS n_shared_grams,
  CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
FROM hashed t
JOIN (SELECT DISTINCT doc_id, g64 FROM hashed WHERE is_eval) e
  ON t.g64 = e.g64
WHERE NOT t.is_eval
GROUP BY t.doc_id
"""


@query("benchmark_decontamination", oracle=DECON_ORACLE)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (the GPT-3 appendix-C rule, arXiv:2005.14165
    §C: drop training docs sharing any N-gram with a benchmark): flag every
    train doc that shares ≥1 distinct DECON_N-gram with the eval set, with
    how many grams and how many eval docs it collides with. The eval set is
    a deterministic ~5% hash sample standing in for a benchmark suite.

    Scale shape: benchmark suites are tiny relative to a 100 TB corpus, so
    the eval (gram, doc) pairs BROADCAST and contamination detection is a
    map-side hash join against the corpus's exploded grams — one scan, one
    shuffle (the per-doc count agg). Grams join as portable 60-bit md5
    keys, not ~40-char strings (8-byte shuffle keys; same birthday-bound
    trade as exploded_shingles, and the oracle hashes identically so
    parity stays exact)."""
    d = load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    grams = (
        shingle_sets(d, DECON_N)
        # explode_OUTER + isNotNull — see exploded_shingles: a plain
        # explode re-evaluates the interpreted shingle chain 2 extra times
        # via the inferred size>0/isnotnull filter
        .select("doc_id", F.explode_outer("shingles").alias("g"))
        .where(F.col("g").isNotNull())
        .select(
            "doc_id",
            portable_hash64(F.col("g"), F.lit("g")).alias("g64"),
            (
                portable_hash64(F.col("doc_id").cast("string"), F.lit("eval"))
                % DECON_EVAL_MOD
                == 0
            ).alias("is_eval"),
        )
    )
    eval_grams = (
        grams.where(F.col("is_eval"))
        .select(F.col("doc_id").alias("eval_doc_id"), "g64")
        .distinct()
    )
    return (
        grams.where(~F.col("is_eval"))
        .join(F.broadcast(eval_grams), "g64")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g64").cast("bigint").alias("n_shared_grams"),
            F.countDistinct("eval_doc_id").cast("bigint").alias("n_eval_docs"),
        )
    )


# --- incremental batch-vs-corpus dedup ----------------------------------------

INCR_BATCH_OFFSET = 2_000_000

INCR_DEDUP_ORACLE = f"""
WITH batch AS (
  SELECT doc_id + {INCR_BATCH_OFFSET} AS batch_id,
         CASE WHEN doc_id % 10 = 5 THEN text || ' novel suffix' ELSE text END AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + {2 * INCR_BATCH_OFFSET} AS batch_id, text || ' novel suffix' AS text
  FROM documents WHERE doc_id % 20 = 5
), corpus_fp AS (
  SELECT DISTINCT MD5(text) AS fp FROM documents
), batch_fp AS (
  SELECT batch_id, MD5(text) AS fp FROM batch
), in_batch AS (
  SELECT batch_id, fp,
    MIN(batch_id) OVER (PARTITION BY fp) AS first_batch_id
  FROM batch_fp
)
SELECT b.batch_id,
  CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
       WHEN b.batch_id != b.first_batch_id THEN 'dup_in_batch'
       ELSE 'kept' END AS status
FROM in_batch b LEFT JOIN corpus_fp c ON b.fp = c.fp
"""


@query("incremental_dedup", oracle=INCR_DEDUP_ORACLE)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: classify every doc of a new batch as
    kept / exact-duplicate-of-corpus / duplicate-within-batch — the daily
    path of a growing corpus, where re-crawled pages must not re-enter and
    the batch itself carries internal dupes. The batch is built
    deterministically from the corpus (a re-crawl slice, a slice with
    novel suffixes, and a doubled slice) so all three outcomes occur.

    Scale shape: the existing corpus participates ONLY as its distinct
    md5 fingerprint set — at 100 TB that is the incrementally-maintained
    fingerprint table (sources/versioned.py merge target), orders of
    magnitude smaller than the text, and the batch-vs-corpus check is a
    hash join on 16-byte keys. In-batch dedup is one fp-partitioned
    window. Reference parity: scripts/utilities/generate_fact_dimension_models.py
    dedups staged loads by natural key the same way (MERGE semantics)."""
    d = load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    recrawl = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + INCR_BATCH_OFFSET).alias("batch_id"),
        F.when(
            F.col("doc_id") % 10 == 5, F.concat(F.col("text"), F.lit(" novel suffix"))
        ).otherwise(F.col("text")).alias("text"),
    )
    # double a slice of the NOVEL docs — a batch-internal dup that is not
    # also a corpus dup, so all three statuses occur
    doubled = d.where(F.col("doc_id") % 20 == 5).select(
        (F.col("doc_id") + 2 * INCR_BATCH_OFFSET).alias("batch_id"),
        F.concat(F.col("text"), F.lit(" novel suffix")).alias("text"),
    )
    batch = recrawl.unionByName(doubled).select(
        "batch_id", F.md5("text").alias("fp")
    )
    corpus_fp = d.select(F.md5("text").alias("fp")).distinct()
    w = Window.partitionBy("fp")
    in_batch = batch.withColumn("first_batch_id", F.min("batch_id").over(w))
    return (
        in_batch.join(
            corpus_fp.withColumn("in_corpus", F.lit(True)), "fp", "left"
        )
        .select(
            "batch_id",
            F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
            .when(F.col("batch_id") != F.col("first_batch_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# --- line-level dedup with text reconstruction -------------------------------

LINE_W = 8  # words per line segment (parametric; synthetic docs are
#             single-line, so segmentation is fixed-width word windows)
LINE_IDX_CAP = 1000  # line_idx < this, so doc_id*CAP+line_idx is injective

LINE_DEDUP_ORACLE = f"""
WITH corpus AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         LEN(string_split(text, ' ')) AS n
  FROM corpus
), lines AS (
  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
    array_to_string(w[i*{LINE_W}+1 : LEAST(i*{LINE_W}+{LINE_W}, n)], ' ')
      AS line
  FROM toks, UNNEST(generate_series(0, (n - 1) // {LINE_W})) AS t(i)
), keyed AS (
  SELECT doc_id, line_idx, line, MD5(line) AS line_hash,
         doc_id * {LINE_IDX_CAP} + line_idx AS composite
  FROM lines
), winners AS (
  SELECT line_hash, MIN(composite) AS first_key
  FROM keyed GROUP BY line_hash
), kept AS (
  SELECT k.doc_id, k.line_idx, k.line
  FROM keyed k JOIN winners w
    ON k.line_hash = w.line_hash AND k.composite = w.first_key
), totals AS (
  SELECT doc_id, COUNT(*) AS n_lines FROM keyed GROUP BY doc_id
), recon AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         MD5(string_agg(line, ' ' ORDER BY line_idx)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines, COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.kept_md5, MD5('')) AS kept_md5
FROM totals t LEFT JOIN recon r ON t.doc_id = r.doc_id
"""


@query("line_dedup_reconstruct", oracle=LINE_DEDUP_ORACLE, bench=True)
def line_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style line-level corpus dedup WITH document reconstruction:
    segment every document into fixed-width word lines, keep only each
    line's FIRST occurrence corpus-wide (ordered by (doc_id, line_idx) via
    an injective integer composite — min has a map-side partial, unlike a
    per-line row_number window, which matters because boilerplate lines are
    precisely the skewed keys), then rebuild each document from its
    surviving lines in order. Output is (doc_id, n_lines, n_kept,
    md5(reconstructed_text)) so the full rebuilt text is value-checked
    without shipping it.

    Scale shape: one explode (narrow), one groupBy on the 128-bit line
    hash (shuffle ∝ line count, map-side combined), one hash join back on
    (line_hash, composite), and a per-doc rebuild groupBy. The re-injected
    every-5th-doc copies (same fixture as exact_dedup) guarantee real
    cross-doc duplication: a dupe doc's every line dissolves into its
    original, so n_kept = 0 exactly where exact dedup would drop the doc —
    and partially-overlapping docs degrade gracefully instead of
    binary-surviving (the advantage line dedup has over doc-level)."""
    d = _with_synthetic_dupes(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    withtoks = d.select("doc_id", toks.alias("w"), F.size(toks).alias("n"))
    lines = withtoks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / LINE_W).cast("int"))
        ).alias("line_idx"),
        "w",
    ).select(
        "doc_id",
        F.col("line_idx").cast("bigint").alias("line_idx"),
        F.array_join(
            F.slice(F.col("w"), F.col("line_idx") * LINE_W + 1, LINE_W), " "
        ).alias("line"),
    )
    keyed = lines.select(
        "doc_id",
        "line_idx",
        "line",
        F.md5("line").alias("line_hash"),
        (F.col("doc_id") * LINE_IDX_CAP + F.col("line_idx")).alias("composite"),
    )
    winners = keyed.groupBy("line_hash").agg(F.min("composite").alias("first_key"))
    kept = keyed.join(winners, "line_hash").where(
        F.col("composite") == F.col("first_key")
    )
    totals = keyed.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    recon = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                    lambda s: s.line,
                ),
                " ",
            )
        ).alias("kept_md5"),
    )
    return totals.join(recon, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
    )


# --- prefix-filtered set-similarity join (AllPairs/PPJoin family) ------------

# Jaccard threshold τ, kept as a RATIONAL so every derived bound (prefix
# length ⌈τs⌉, positional-filter overlap floor ⌈τ(na+nb)/(1+τ)⌉) is computed
# in integer ceil-division — engine-exact, and all three stay consistent if
# τ is ever changed (a float-only τ would silently desynchronize the new
# positional filter from the length filter and turn it lossy).
PREFIX_TAU_NUM, PREFIX_TAU_DEN = 1, 2
PREFIX_TAU = PREFIX_TAU_NUM / PREFIX_TAU_DEN

# documents.parquet above this size switches the candidate emission to the
# SEGMENTED K-pass plan (see prefix_filter_jaccard_pairs): one lazy plan
# holds every stage's shuffle files on disk simultaneously until the job
# ends, and at sf100 (840 MB of documents → ~330M shingle rows) that
# concurrent spill exceeded one node's 57 GB free disk (r09 DNF). The
# threshold sits between sf10 (81 MB — completes single-pass in ~50 s) and
# sf100; K is sized so each pass handles roughly this many input bytes.
_SEGMENT_BYTES = 200 << 20
# Pass/chunk ceilings are a runaway backstop (per-pass fixed overhead grows
# linearly with K), NOT a disk guarantee: 64×200 MB ≈ 13 GB of documents —
# ~sf1000, an order of magnitude past what one node's disk fits regardless.
_MAX_SHARDS = 64
_MAX_VERIFY_CHUNKS = 512
# Segmented-regime verification chunk size, in candidate pairs: ~25M pairs
# × ~0.5 kB (pair + both attached hash arrays) ≈ 12 GB of join shuffle per
# chunk — comfortably inside one node's free disk, reclaimed between chunks.
_VERIFY_CHUNK_PAIRS = 25_000_000


def _shards_for(sf_dir: str, segment_bytes: int) -> int:
    """Segmented-pass count K, shared by the prefix and ngram scale
    paths: 1 (the single lazy plan) at or below segment_bytes of
    documents, else ~input_bytes/segment_bytes capped at _MAX_SHARDS."""
    b = local_table_bytes(sf_dir, "documents")
    if b <= segment_bytes:
        return 1
    return min(_MAX_SHARDS, -(-b // segment_bytes))


def _prefix_shards(sf_dir: str) -> int:
    """Emission pass count K for prefix_filter_jaccard_pairs (see
    _shards_for)."""
    return _shards_for(sf_dir, _SEGMENT_BYTES)


# ngram_jaccard_pairs' segmentation threshold is its OWN constant (not
# _SEGMENT_BYTES) because MEASUREMENT put it a decade higher: unlike the
# prefix path (single-pass = ENOSPC at sf100 — segmentation is REQUIRED),
# ngram's single plan completes sf100 with ~21 GB of spill headroom, and a
# same-day A/B showed the segmented K=5 plan 1.9× SLOWER (782.9 s vs
# 408.6 s, control 38% below its cold record) with a WORSE disk high-water
# (~36 GB: sets checkpoint + pass shuffles coexist) — the 5× re-explode of
# 500M rows plus per-pass full GCs cost more than the one big shuffle saves
# (SCALING.md "Round-11"). So it only segments where single-pass spill
# would approach one node's disk: ~2 GiB of documents (~sf250, extrapolated
# from the measured ~21 GB spill per 840 MB input against 57 GB free). This
# threshold is a disk-capacity GUARD, not a throughput lever.
_NGRAM_SEGMENT_BYTES = 2 << 30


def _ngram_shards(sf_dir: str) -> int:
    """Pass count K for ngram_jaccard_pairs' segmented regime (see
    _shards_for)."""
    return _shards_for(sf_dir, _NGRAM_SEGMENT_BYTES)


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Synchronously drop a FINISHED localCheckpoint's storage blocks —
    the deterministic half of segment-boundary reclamation (the GC hint in
    _reclaim_shuffles then only has unreachable shuffle files left to
    find). The checkpointed RDD sits inside the analyzed LogicalRDD node;
    best-effort guarded because that is private API and cleanup must never
    fail the query."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception:  # noqa: BLE001
        pass


def _reclaim_shuffles(spark: SparkSession) -> None:
    """Release finished passes' shuffle files between segmented jobs: after
    localCheckpoint truncates a pass's lineage, its shuffle dependencies
    are unreachable — one driver-side GC lets ContextCleaner unregister
    them so local disk holds ONE pass's spill at a time, not the sum (the
    single-node analogue of a cluster freeing per-executor shuffle dirs
    between jobs). Dead CHECKPOINT blocks are dropped deterministically
    first via _unpersist_checkpoint at the call sites; the JVM GC hint
    remains because shuffle files have no public unregister API — their
    cleanup is ContextCleaner noticing the collected ShuffleDependency."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — best-effort; never fail the query
        pass


def _emit_prefix_candidates(prefix: DataFrame) -> DataFrame:
    """Grouped i<j candidate emission over a (doc_id, n, pos, sh64)
    prefix-token table + the PPJoin length and POSITIONAL filters. No
    distinct here — the caller dedups (per shard and across shards).

    Positional filter (Xiao et al. 2008, per-emission form): at a shared
    token sitting at 1-based positions (ia, ib) of the two docs' sorted
    orders, overlap ≤ 1 + min(na−ia, nb−ib) — every other common token
    either precedes this one in BOTH orders or follows it in both, and at
    the pair's FIRST shared token nothing precedes. J ≥ τ needs overlap
    ≥ ⌈τ(na+nb)/(1+τ)⌉, so an emission whose bound falls short is dropped;
    the pair survives iff ANY of its emissions passes, and its
    first-shared-token emission always does when J ≥ τ — lossless, and
    judged per-emission so it composes with token-range sharding.
    Measured at sf10: the length filter alone leaves 43M candidates from
    137k true pairs (uniform ~52-shingle docs make it toothless); the
    positional filter cuts the junk whose one shared token sits deep in
    both prefixes — the arrays-carrying verify joins are the expensive
    stage this protects."""
    # struct sorts by doc_id first (n, pos functionally dependent per
    # token), so the grouped i<j emission below still yields doc_a < doc_b
    docs_sorted = F.array_sort(F.collect_list(F.struct("doc_id", "n", "pos")))
    grouped = prefix.groupBy("sh64").agg(docs_sorted.alias("docs"))
    docs = F.col("docs")
    n = F.size(docs)
    pair_arrays = F.transform(
        docs,
        lambda x, i: F.transform(
            F.slice(docs, i + F.lit(2), n - i - F.lit(1)),
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["n"].alias("na"),
                y["n"].alias("nb"),
                x["pos"].alias("ia"),
                y["pos"].alias("ib"),
            ),
        ),
    )
    # overlap threshold α = ⌈τ(na+nb)/(1+τ)⌉, derived from the RATIONAL τ
    # (τ = N/D → α = ⌈N(na+nb)/(D+N)⌉) in integer ceil-division so the
    # bound is engine-exact and tracks PREFIX_TAU if it changes
    _dn = PREFIX_TAU_DEN + PREFIX_TAU_NUM
    alpha = F.expr(
        f"({PREFIX_TAU_NUM} * (na + nb) + {_dn - 1}) div {_dn}"
    )
    return (
        # explode_OUTER + isNotNull — see _ngram_pair_partials: avoids the
        # inferred-filter triple evaluation of the pair-emission chain;
        # singleton buckets (one doc holding the token) emit nothing and
        # are dropped with an O(1) size() before the generate.
        grouped.where(F.size("docs") >= 2)
        .select(F.explode_outer(F.flatten(pair_arrays)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.*")
        # PPJoin LENGTH FILTER: max common = min(na, nb), so J ≤ min/max —
        # pairs with min < τ·max can never reach the threshold and are
        # pruned BEFORE the distinct exchange and the two array-carrying
        # verification joins (the expensive stages). Integer cross-multiply
        # form (min·D ≥ N·max), NOT min ≥ float(τ)·max: for non-dyadic τ
        # float rounding prunes exactly-qualifying pairs (63 ≥ (9/11)·77 is
        # false in float though 63·11 == 9·77) — the same rational-τ rule
        # as the prefix length p and the positional α above.
        .where(
            F.least("na", "nb") * PREFIX_TAU_DEN
            >= PREFIX_TAU_NUM * F.greatest("na", "nb")
        )
        # PPJoin POSITIONAL FILTER (see docstring)
        .where(
            F.lit(1) + F.least(F.col("na") - F.col("ia"),
                               F.col("nb") - F.col("ib")) >= alpha
        )
        .select("doc_a", "doc_b")
    )

PREFIX_JACCARD_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
), sets AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - {NGRAM_N - 2}),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
), ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sets
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(COUNT(*) AS BIGINT) AS n_common,
  CAST(COUNT(*) AS DOUBLE) / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) * {PREFIX_TAU_DEN}
  >= {PREFIX_TAU_NUM} * (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*))
"""


@query("prefix_filter_jaccard_pairs", oracle=PREFIX_JACCARD_ORACLE, bench=True)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-join at τ=0.5 via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. 2007 / Xiao et al. 2008) — the LOSSLESS alternative to
    MinHash: if J(x,y) ≥ τ, the first |x|−⌈τ|x|⌉+1 elements of x under any
    global element order must intersect y's prefix, so only prefix tokens
    generate candidates and the result provably equals the brute-force
    join (the oracle IS that brute force — no cap, no approximation).

    Why rarest-first matters at 100 TB: ordering each set by ascending
    document frequency puts its most selective shingles in the prefix, so
    candidate buckets are df-bounded by construction — the hot boilerplate
    shingles that force MAX_SHINGLE_DF caps elsewhere land OUTSIDE every
    prefix and never emit a candidate.

    Scan/shuffle shape: the hashed-set table (doc_id, sh[], n) is
    materialized ONCE via localCheckpoint — prefixes, df counts, and both
    verification sides all read that stage output instead of re-scanning
    and re-shingling the corpus (the naive DataFrame reuse re-shingles it
    4×; production pipelines persist the shingle table for the same
    reason). Per-shingle df is a count WINDOW on the exploded stream (one
    sh64 exchange, same shape as the ngram path's DF cap), one doc_id
    exchange builds ordered sets, candidate emission reuses the grouped
    i<j pattern (no self-join), and verification is two joins against the
    compact checkpointed table. Verification intersects int64 hash arrays
    — same birthday-bound trade as exploded_shingles.

    SCALE PATH (input past _SEGMENT_BYTES, K = _prefix_shards):
    one lazy plan keeps every stage's shuffle files on local disk until
    the final job ends, and at sf100 that concurrent spill exceeded one
    node's free disk (r09 DNF at 57 GB under both lz4 and zstd). The
    segmented plan is the SAME operators cut into jobs: materialize the
    prefix table once (disk-backed checkpoint), then emit candidates in K
    sequential passes over disjoint token-hash ranges, reclaiming each
    pass's shuffle files before the next. LOSSLESS by the same prefix
    property: every qualifying pair shares a prefix token, that token
    lands in exactly one hash range, so the union over passes equals the
    single-pass candidate set (pinned by
    test_llm_pipeline_ops.py::test_prefix_filter_sharded_equals_single_pass);
    the cross-pass distinct dedups pairs sharing prefix tokens in several
    ranges. Disk high-water is ONE pass's spill, not the sum — on a
    cluster the same cut bounds per-executor shuffle-dir usage."""
    shards = _prefix_shards(sf_dir)
    d = _with_synthetic_dupes(
        load_table(spark, sf_dir, "documents", min_partitions=cpu_parallelism(spark))
    )
    sets = shingle_sets(d).select(
        "doc_id",
        "n_shingles",
        F.transform("shingles", lambda x: F.xxhash64(x)).alias("sh"),
    ).localCheckpoint(
        eager=False,
        # segmented regime = corpus-scale input: keep the shingle table's
        # blocks serialized on disk, heap stays execution-only
        storageLevel=StorageLevel.DISK_ONLY if shards > 1 else None,
    )
    ex = sets.select("doc_id", "n_shingles", F.explode("sh").alias("sh64"))
    w_sh = Window.partitionBy("sh64")
    ordered = (
        ex.withColumn("df", F.count("*").over(w_sh))
        .groupBy("doc_id")
        .agg(
            F.min("n_shingles").alias("s"),
            F.array_sort(F.collect_list(F.struct("df", "sh64"))).alias("ord"),
        )
    )
    # prefix length p = s - ceil(tau*s) + 1, with ceil(τs) from the
    # RATIONAL τ (= ⌈N·s/D⌉, integer ceil-division) so both engines agree
    # on rounding and p tracks PREFIX_TAU together with the positional α
    p = (
        F.col("s")
        - F.expr(
            f"({PREFIX_TAU_NUM} * s + {PREFIX_TAU_DEN - 1})"
            f" div {PREFIX_TAU_DEN}"
        ).cast("int")
        + 1
    )
    prefix = ordered.select(
        "doc_id",
        F.col("s").alias("n"),
        # posexplode_OUTER + isNotNull — see _ngram_pair_partials: the
        # non-outer form makes the optimizer infer size>0/isnotnull over
        # the slice+transform chain and evaluate it 2 extra times per doc
        # (the prefix is never empty: p ≥ 1 and ord has ≥ 1 element)
        F.posexplode_outer(
            F.slice(F.transform("ord", lambda x: x["sh64"]), 1, p)
        ).alias("pos0", "sh64"),
        # 1-based position in the doc's FULL (df, sh64)-sorted token order
        # (= position within the prefix, which is a prefix of that order) —
        # the positional filter's ia/ib
    ).where(F.col("sh64").isNotNull()).select(
        "doc_id", "n", (F.col("pos0") + 1).alias("pos"), "sh64"
    )

    def _verify(pairs: DataFrame) -> DataFrame:
        a = sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sh").alias("sh_a"),
            F.col("n_shingles").alias("na"),
        )
        b = sets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sh").alias("sh_b"),
            F.col("n_shingles").alias("nb"),
        )
        return (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn(
                "n_common",
                F.size(F.array_intersect("sh_a", "sh_b")).cast("long"),
            )
            .withColumn(
                "jaccard",
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
            )
            # final threshold in the same integer cross-multiply form
            # (common·D ≥ N·union) as the length filter, mirrored in the
            # oracle's HAVING — exact for any rational τ, never a float
            # comparison that could disagree with the bounds upstream
            .where(
                F.col("n_common") * PREFIX_TAU_DEN
                >= PREFIX_TAU_NUM
                * (F.col("na") + F.col("nb") - F.col("n_common"))
            )
            .select("doc_a", "doc_b", "n_common", "jaccard")
        )

    if shards == 1:
        return _verify(_emit_prefix_candidates(prefix).distinct())

    # --- segmented regime ------------------------------------------------
    prefix = prefix.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    _reclaim_shuffles(spark)
    parts = []
    for k in range(shards):
        c = (
            _emit_prefix_candidates(
                prefix.where(F.pmod(F.col("sh64"), F.lit(shards)) == k)
            )
            .distinct()
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        parts.append(c)
        _reclaim_shuffles(spark)
    cand = (
        reduce(DataFrame.unionByName, parts)
        .distinct()
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    # free the per-shard and prefix checkpoint blocks — deterministically
    # (unpersist), then the GC hint for the passes' shuffle files
    for _p in parts:
        _unpersist_checkpoint(_p)
    _unpersist_checkpoint(prefix)
    del parts, prefix
    _reclaim_shuffles(spark)
    # Verification is ALSO chunked: each candidate row grows to ~0.5 kB
    # inside the join (two 8B-per-token hash arrays attach), so one job
    # over hundreds of millions of candidates writes a shuffle bigger than
    # one node's disk — the second half of the r09/r10 ENOSPC. Chunks are
    # disjoint by pair hash; each chunk's join spill is reclaimed before
    # the next, bounding the high-water at ~one chunk's rows (up to the
    # _MAX_VERIFY_CHUNKS runaway backstop — see its note).
    n_cand = cand.count()  # cheap: counts the materialized checkpoint
    chunks = min(_MAX_VERIFY_CHUNKS, max(1, -(-n_cand // _VERIFY_CHUNK_PAIRS)))
    if chunks == 1:
        return _verify(cand)
    done = []
    for k in range(chunks):
        v = _verify(
            cand.where(
                F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(chunks)) == k
            )
        ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        done.append(v)
        _reclaim_shuffles(spark)
    # every chunk has read cand and sets; only the per-chunk result
    # checkpoints feed the returned union — drop the dead blocks now
    _unpersist_checkpoint(cand)
    _unpersist_checkpoint(sets)
    _reclaim_shuffles(spark)
    return reduce(DataFrame.unionByName, done)
