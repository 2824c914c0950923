"""Recall/precision sanity for the approximate (non-oracle) LLM-pipeline
operators: MinHash-LSH must find the planted exact dupes; hyperplane-LSH
buckets only ever pair identical-signature vectors; SimHash signatures are
stable and identical for identical texts."""

from __future__ import annotations

from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.queries import load_registry

SF = "/root/testdata/sf0.001"
REG = load_registry()


def test_minhash_finds_planted_dupes(spark):
    # planted: doc_id % 5 == 0 re-injected as doc_id + 1_000_000 (exact copy)
    cand = REG["minhash_lsh_candidates"].fn(spark, SF)
    hits = cand.where(
        (F.col("doc_b") == F.col("doc_a") + 1000000) & (F.col("est_jaccard") >= 0.99)
    ).count()
    planted = 500 // 5
    assert hits == planted, f"minhash missed planted dupes: {hits}/{planted}"


def test_minhash_estimates_track_true_jaccard(spark):
    from enterprise_data_warehouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        ngram_jaccard_pairs,
    )

    true_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(spark, SF).collect()
    }
    est_pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in REG["minhash_lsh_candidates"].fn(spark, SF).collect()
        if r["doc_a"] < 1000000 and r["doc_b"] < 1000000
    }
    # every high-estimate candidate among original docs should be a real
    # near-dup pair or close to the threshold (LSH has false positives at
    # the margin, none should be wildly off)
    for pair, est in est_pairs.items():
        true_j = true_pairs.get(pair, 0.0)
        assert est <= true_j + 0.45, f"{pair}: est {est} vs true {true_j}"


def test_simhash_identical_for_identical_text(spark):
    sig = REG["simhash_signatures"].fn(spark, SF)
    rows = sig.collect()
    assert len(rows) == 500
    by_doc = {r["doc_id"]: r["simhash"] for r in rows}
    # deterministic across two runs
    rows2 = REG["simhash_signatures"].fn(spark, SF).collect()
    for r in rows2:
        assert by_doc[r["doc_id"]] == r["simhash"]


def test_ann_buckets_contain_planted_neighbors(spark):
    df = REG["ann_lsh_buckets"].fn(spark, SF)
    # bucket pairing is reflexive-free and ordered
    bad = df.where(F.col("vec_a") >= F.col("vec_b")).count()
    assert bad == 0


def test_cosine_topk_self_excluded_and_ranked(spark):
    df = REG["cosine_topk"].fn(spark, SF)
    rows = df.collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rk"], r["cosine_sim"]))
    for q, lst in per_q.items():
        lst.sort()
        sims = [s for _, s in lst]
        assert sims == sorted(sims, reverse=True), f"query {q} not rank-ordered"
        assert len(lst) == 5


def test_band_pairs_caps_oversized_buckets(spark):
    """An exact-dup-heavy bucket (identical signatures in every band) must be
    dropped before collect_list materializes O(N^2) pair structs; small
    buckets still emit pairs."""
    from enterprise_data_warehouse_spark.operators.dedup import _band_pairs

    rows = (
        # 50 docs sharing one signature (one oversized bucket) ...
        [(i, [7, 7], "big") for i in range(50)]
        # ... plus 3 docs sharing another (a real near-dup bucket)
        + [(100 + i, [9, 9], "small") for i in range(3)]
    )
    bands = spark.createDataFrame(rows, "doc_id long, signature array<long>, band_key string")
    out = _band_pairs(bands, ["band_key"], max_bucket=10).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert got == {(100, 101), (100, 102), (101, 102)}, got


def test_token_budget_mix_respects_budget_and_allocations(spark):
    """Water-fill invariants: total selected tokens never exceed the global
    budget (half the corpus), no source exceeds its own token mass, and the
    per-source selection is a prefix (cum_tokens strictly increasing along
    the deterministic hash order)."""
    from enterprise_data_warehouse_spark.sources.tables import load_table

    sel = REG["token_budget_mix"].fn(spark, SF).toPandas()
    docs = load_table(spark, SF, "documents").select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    budget = sum(totals.values()) // 2
    assert sel["n_tokens"].sum() <= budget
    per_src = sel.groupby("source")["n_tokens"].sum()
    for src, got in per_src.items():
        assert got <= totals[src], f"{src} over-selected"
    for _, grp in sel.sort_values("cum_tokens").groupby("source"):
        assert (grp["cum_tokens"].diff().dropna() > 0).all()


def test_line_dedup_dissolves_planted_copies_and_reconstructs(spark):
    """Planted exact copies (doc_id + 1_000_000) must lose EVERY line to
    their original (n_kept = 0); any doc keeping all its lines must
    reconstruct byte-identically to its source text."""
    from enterprise_data_warehouse_spark.sources.tables import load_table

    out = REG["line_dedup_reconstruct"].fn(spark, SF)
    dupes = out.where(F.col("doc_id") >= 1000000)
    assert dupes.count() == 500 // 5
    assert dupes.where(F.col("n_kept") > 0).count() == 0
    full = out.where(F.col("n_kept") == F.col("n_lines"))
    orig = load_table(spark, SF, "documents").select(
        "doc_id", F.md5("text").alias("text_md5")
    )
    mismatches = full.join(orig, "doc_id").where(
        F.col("kept_md5") != F.col("text_md5")
    )
    assert full.count() > 0
    assert mismatches.count() == 0


def test_pagerank_mass_and_structure(spark):
    """Integer PageRank invariants: floor-division only LOSES mass (total
    final rank <= initial mass), every rank is positive, and on the
    part<->supplier bipartite graph the hubs (the ~100 suppliers, each
    touching hundreds of parts) must out-rank every leaf part."""
    from enterprise_data_warehouse_spark.operators.graph import PR_MASS

    top = REG["bipartite_pagerank"].fn(spark, SF).toPandas()
    assert len(top) == 50
    assert (top["rank_micro"] > 0).all()
    assert top["rank_micro"].sum() <= PR_MASS
    # suppliers are the high-degree side (each touches hundreds of parts):
    # every supplier in the list must out-rank every part
    sup = top[top["node_kind"] == "supplier"]["rank_micro"]
    part = top[top["node_kind"] == "part"]["rank_micro"]
    assert top.iloc[0]["node_kind"] == "supplier"
    assert len(sup) > 0
    if len(part) > 0:
        assert sup.min() >= part.max(), (
            "a part out-ranked a supplier — transfer direction or degree "
            "join broke"
        )


def test_countmin_never_underestimates(spark):
    """CMS error is one-sided by construction: every estimate >= the exact
    count, and equals it when no bucket collision occurred in some row."""
    out = REG["countmin_heavy_hitters"].fn(spark, SF).toPandas()
    assert len(out) > 0
    assert (out["cms_est"] >= out["exact_cnt"]).all()


def test_hll_tracks_exact_distinct(spark):
    """Portable-HLL estimates stay within sketch-theory error of the exact
    per-event_type distinct user counts (m=64 → ~13% standard error; the
    linear-counting branch is tighter at low occupancy)."""
    from pyspark.sql import functions as F

    from enterprise_data_warehouse_spark.sources.tables import load_table

    est = {
        r["event_type"]: r["hll_estimate"]
        for r in REG["hll_distinct_users"].fn(spark, SF).collect()
    }
    exact = {
        r["event_type"]: r["x"]
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(est) == set(exact)
    for etype, e in est.items():
        rel = abs(e - exact[etype]) / max(exact[etype], 1)
        assert rel < 0.35, f"{etype}: est={e} exact={exact[etype]}"


def test_hll_sliding_merge_equals_window_recompute(spark):
    """Sketch-merge soundness: merging per-hour registers over a 3-hour
    window must give EXACTLY the estimate a from-scratch HLL over that
    window's raw events gives (max-merge is lossless for HLL), and it must
    track the exact windowed distinct count within sketch error."""
    import datetime

    from pyspark.sql import functions as F

    from enterprise_data_warehouse_spark.sources.tables import load_table

    out = {
        r["window_end"]: (r["n_filled"], r["denom"], r["hll_estimate"])
        for r in REG["hll_sliding_distinct"].fn(spark, SF).collect()
    }
    ev = load_table(spark, SF, "events").select(
        F.date_trunc("hour", "ts").alias("hr"), "user_id"
    )
    exact = {
        r["window_end"]: r["x"]
        for r in ev.withColumn(
            "o", F.explode(F.sequence(F.lit(0), F.lit(2)))
        )
        .select(F.expr("timestampadd(HOUR, o, hr)").alias("window_end"), "user_id")
        .join(ev.select(F.col("hr").alias("window_end")).distinct(), "window_end")
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(out) == set(exact)
    for w, (_, _, est) in out.items():
        err = abs(est - exact[w])
        rel = err / max(exact[w], 1)
        # tiny windows (a handful of users) carry large RELATIVE noise by
        # sketch theory — accept a small absolute slack there
        assert rel < 0.4 or err <= 3, f"{w}: est={est} exact={exact[w]}"


def test_trigram_lm_tolerates_short_documents(spark, tmp_path):
    """Documents with <3 tokens must contribute zero trigrams, not fail the
    job with a negative slice length (regression: size(w)-2 unclamped)."""
    import shutil
    from pathlib import Path

    sf = tmp_path / "sf_short"
    sf.mkdir()
    for t in Path(SF).glob("*.parquet"):
        if t.stem != "documents":
            (shutil.copytree if t.is_dir() else shutil.copy)(t, sf / t.name)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    short = spark.createDataFrame(
        [(9000001, "one", "web"), (9000002, "two words", "web"), (9000003, "", "web")],
        "doc_id bigint, text string, source string",
    )
    aligned = short.select(*[c for c in docs.columns if c in short.columns])
    docs.select(*aligned.columns).unionByName(aligned).write.parquet(
        str(sf / "documents.parquet")
    )
    out = REG["trigram_lm_counts"].fn(spark, str(sf))
    base = REG["trigram_lm_counts"].fn(spark, SF)
    # short docs add no trigrams → identical count table, and no crash
    assert out.count() == base.count()


def test_prefix_filter_sharded_equals_single_pass(spark, monkeypatch):
    """The segmented K-pass candidate emission (the sf100 scale path) must
    be LOSSLESS: every qualifying pair shares a prefix token, that token
    lands in exactly one hash range, so the union over passes equals the
    single-pass result — pairs, counts, and jaccard values bit-identical."""
    from enterprise_data_warehouse_spark.operators import dedup

    def rows(df):
        return sorted(
            (r["doc_a"], r["doc_b"], r["n_common"], r["jaccard"])
            for r in df.collect()
        )

    monkeypatch.setattr(dedup, "_prefix_shards", lambda sf_dir: 1)
    single = rows(dedup.prefix_filter_jaccard_pairs(spark, SF))
    monkeypatch.setattr(dedup, "_prefix_shards", lambda sf_dir: 4)
    sharded = rows(dedup.prefix_filter_jaccard_pairs(spark, SF))
    assert single and sharded == single
    # ...and with the chunked verification forced on — tiny chunk size →
    # many chunks: still bit-identical
    monkeypatch.setattr(dedup, "_VERIFY_CHUNK_PAIRS", 10)
    chunked = rows(dedup.prefix_filter_jaccard_pairs(spark, SF))
    assert chunked == single


def test_ngram_sharded_equals_single_pass(spark, monkeypatch):
    """The segmented K-pass ngram emission (the sf100 scale path) must be
    LOSSLESS: every shingle lands in exactly one sh64 hash range, so the
    per-shard per-pair partial aggregates SUM to the single-pass aggregate
    (n_common is additive over disjoint shingle sets; sa/sb are per-doc
    constants) — pairs, counts, and jaccard values bit-identical."""
    from enterprise_data_warehouse_spark.operators import dedup

    def rows(df):
        return sorted(
            (r["doc_a"], r["doc_b"], r["n_common"], r["jaccard"])
            for r in df.collect()
        )

    monkeypatch.setattr(dedup, "_ngram_shards", lambda sf_dir: 1)
    single = rows(dedup.ngram_jaccard_pairs(spark, SF))
    monkeypatch.setattr(dedup, "_ngram_shards", lambda sf_dir: 3)
    sharded = rows(dedup.ngram_jaccard_pairs(spark, SF))
    assert single and sharded == single


def test_unpersist_checkpoint_frees_blocks(spark):
    """_unpersist_checkpoint must synchronously drop a localCheckpoint's
    storage blocks (the deterministic half of segment-boundary
    reclamation) — and stay harmless on a non-checkpointed frame."""
    from pyspark.storagelevel import StorageLevel

    from enterprise_data_warehouse_spark.operators.dedup import (
        _unpersist_checkpoint,
    )

    def n_stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_stored()
    df = spark.range(10000).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    assert n_stored() == base + 1
    _unpersist_checkpoint(df)
    assert n_stored() == base
    # guarded no-op on a plain DataFrame (no LogicalRDD to unpersist)
    _unpersist_checkpoint(spark.range(10))


def test_pagerank_disk_checkpoint_equals_default(spark, monkeypatch):
    """The size-gated DISK_ONLY edge checkpoint (the sf100 heap-wall fix)
    must be a pure storage-strategy change: forcing the threshold to zero
    routes sf0.001 through the disk-backed branch and the top-50 ranking
    must be bit-identical (integer micro-unit ranks make equality exact)."""
    from enterprise_data_warehouse_spark.operators import graph

    def rows(df):
        return [tuple(r) for r in df.collect()]

    base = rows(graph.bipartite_pagerank(spark, SF))
    # read as a module global per call, so patching it reroutes the branch
    monkeypatch.setattr(graph, "_DISK_CKPT_BYTES", 0)  # every input is "big"
    disk = rows(graph.bipartite_pagerank(spark, SF))
    assert base and disk == base


def test_local_table_bytes_sizing_helper(tmp_path):
    """Fail-open contract: real file/dir sizes when local, 0 when absent
    or unknowable (non-local path) so callers keep their in-heap default."""
    from enterprise_data_warehouse_spark.sources.tables import (
        local_table_bytes,
    )

    f = tmp_path / "t.parquet"
    f.write_bytes(b"x" * 1000)
    assert local_table_bytes(str(tmp_path), "t") == 1000
    d = tmp_path / "d.parquet"
    (d / "part").mkdir(parents=True)
    (d / "part" / "a").write_bytes(b"y" * 10)
    (d / "b").write_bytes(b"z" * 5)
    assert local_table_bytes(str(tmp_path), "d") == 15
    assert local_table_bytes(str(tmp_path), "missing") == 0
    assert local_table_bytes("s3://bucket/prefix", "t") == 0


def test_segment_knob_zero_means_always_segment():
    """The segmented-pass sizing rule: one pass at or below the threshold,
    else ceil(input bytes / threshold) passes, capped at _MAX_SHARDS."""
    from enterprise_data_warehouse_spark.operators.dedup import (
        _MAX_SHARDS,
        _shards_for,
    )
    from enterprise_data_warehouse_spark.sources.tables import (
        local_table_bytes,
    )

    b = local_table_bytes(SF, "documents")
    assert b > 3
    assert 1 < _shards_for(SF, 1) <= _MAX_SHARDS == 64
    assert _shards_for(SF, 1 << 62) == 1
    assert _shards_for(SF, b) == 1
    assert _shards_for(SF, b - 1) == 2
    assert _shards_for(SF, -(-b // 3)) == 3
