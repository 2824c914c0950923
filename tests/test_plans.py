"""Physical-plan quality gates (the 100 TB contract, asserted).

Correctness tests prove the SQL semantics; these prove the PLAN is the one
we'd want on a 1000-executor cluster: filters and projections reach the
parquet scan, dimension joins broadcast, hot paths stay inside whole-stage
codegen, and no operator sneaks in an unnecessary shuffle. If a refactor
regresses any of that, these fail before a benchmark would notice.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from enterprise_data_warehouse_spark.queries import load_registry
from enterprise_data_warehouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
REG = load_registry()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark):
    """nation/region broadcast by hint; customer/orders small enough that
    AQE broadcasts them too at this SF — assert at least the two hinted
    broadcasts and that lineitem (the fact) is never broadcast."""
    df = REG["star_revenue_rollup"].fn(spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    bcast_sections = re.findall(r"BroadcastExchange[^\n]*\n(?:.*\n){0,6}", plan)
    assert not any("lineitem" in s for s in bcast_sections), "fact side broadcast!"


def test_filter_pushdown_reaches_scan(spark):
    """The staging cleanse predicates must appear as PushedFilters in the
    parquet scan node, not as a post-scan Filter only."""
    df = REG["star_revenue_rollup"].fn(spark, SF)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "GreaterThan(l_quantity" in ln or "IsNotNull(l_quantity)" in ln
        for ln in pushed
    ), pushed


def test_column_pruning_projects_only_needed(spark):
    """A 2-column projection over lineitem must read 2 columns (ReadSchema),
    not the full 16-column row."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(li)
    rs = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "l_quantity" in rs and "l_extendedprice" not in rs, rs


def test_pricing_summary_single_shuffle(spark):
    """TPC-H Q1 shape: scan → partial agg → ONE exchange → final agg."""
    df = REG["pricing_summary"].fn(spark, SF)
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 2, plan  # hash agg exchange (+ optional AQE read)


def test_exact_dedup_single_shuffle(spark):
    df = REG["exact_dedup"].fn(spark, SF)
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 1, plan


def test_whole_stage_codegen_on_hot_paths(spark):
    """Hot paths stay JVM-side: no Python eval nodes anywhere; whole-stage
    codegen where eligible (higher-order array lambdas run vectorized but
    outside WSCG, so text ops assert only the no-Python invariant)."""
    for name in ["text_quality_scores", "pricing_summary", "language_id"]:
        plan = plan_of(REG[name].fn(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} fell off the JVM path"
        )
    df = REG["pricing_summary"].fn(spark, SF)
    df.collect()  # finalize AQE so codegen spans appear in the plan
    # codegen'd operators carry the "*(n)" stage marker in the tree string
    assert re.search(r"\*\(\d+\) HashAggregate", plan_of(df)), plan_of(df)


def test_pricing_summary_partial_aggregation(spark):
    """The decimal-exact sums must still combine map-side (partial_sum
    before the exchange) — determinism hardening must not break the
    one-shuffle aggregation shape."""
    plan = plan_of(REG["pricing_summary"].fn(spark, SF))
    partial_idx = plan.find("partial_sum")
    exchange_idx = plan.find("Exchange")
    assert 0 <= exchange_idx < partial_idx, plan


def _plan_nodes(node) -> list:
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.inputPlan()
    kids = node.children()
    return [node] + [n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))]


def test_pricing_summary_partial_buffer_has_no_decimal(spark):
    """The exact sums combine map-side in bigint limbs (dec_sum): the
    partial HashAggregate that feeds the exchange carries no 38-digit
    decimal buffer."""
    plan = REG["pricing_summary"].fn(spark, SF)._jdf.queryExecution().executedPlan()
    partial = [
        n.schema().simpleString()
        for n in _plan_nodes(plan)
        if n.nodeName() == "HashAggregate" and "partial_" in n.toString()
    ]
    assert partial, plan_of(REG["pricing_summary"].fn(spark, SF))
    assert not any("decimal(38,10)" in schema for schema in partial), partial


def test_in_list_predicate_pushed(spark):
    """S5: the IN-list feature fetch must push the id filter into the scan."""
    df = REG["feature_fetch_inlist"].fn(spark, SF)
    plan = plan_of(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(o_custkey" in ln for ln in pushed), pushed


def test_range_bin_lookup_broadcasts_bin_dim(spark):
    """The bucket-join range lookup must broadcast the tiny bin dim, never
    shuffle the events side by bin."""
    df = REG["range_bin_lookup"].fn(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_asof_join_single_shuffle_no_join(spark):
    """The as-of union+window plan must contain NO join operator and at most
    one exchange (the user_id window partitioning)."""
    df = REG["asof_click_attribution"].fn(spark, SF)
    plan = plan_of(df)
    assert "Join" not in plan, plan
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 1, plan


def test_rollup_is_single_expand_pass(spark):
    """ROLLUP must plan one Expand + aggregation, not a union of queries."""
    df = REG["order_rollup_hierarchy"].fn(spark, SF)
    plan = plan_of(df)
    assert "Expand" in plan and "Union" not in plan, plan


def test_metadata_only_multimodal_skips_payload(spark):
    """Binary-payload hygiene: plans that only need metadata must not read
    the payload source column."""
    from enterprise_data_warehouse_spark.operators.multimodal import media_manifest_df

    meta_only = media_manifest_df(spark, SF).select("doc_id", "media_type")
    rs = next(ln for ln in plan_of(meta_only).splitlines() if "ReadSchema" in ln)
    assert "text" not in rs, rs


def test_native_chunker_stays_jvm_side(spark):
    """doc_chunks_native is the 100 TB chunking path: its plan must contain
    no Python eval node (the UDTF twin is the escape hatch, not this)."""
    plan = plan_of(REG["doc_chunks_native"].fn(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "PythonUDTF" not in plan, plan


def test_token_frequencies_partial_agg_before_shuffle(spark):
    """Vocabulary counting must combine map-side: the exploded token rows
    collapse to (token, partial_count) before the exchange."""
    plan = plan_of(REG["token_frequencies"].fn(spark, SF))
    partial_idx = plan.find("partial_count")
    exchange_idx = plan.find("Exchange")
    assert 0 <= exchange_idx < partial_idx, plan


def test_topk_plans_take_ordered(spark):
    """Q3/Q10 shapes: ORDER BY + LIMIT must plan TakeOrderedAndProject
    (per-partition heaps), never a global Sort."""
    for name in ["shipping_priority_topk", "returned_customer_ranking"]:
        plan = plan_of(REG[name].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, f"{name}: {plan}"


# Queries whose whole point is a Python boundary (Arrow-batched).
PYTHON_BOUNDARY = {
    "score_customers_pandas",
    "ts_features_pandas",
    "image_feature_extract",
    "ks_drift_pvalue",
    "median_price_udaf",
    "doc_chunks_udtf",
    "stateful_user_ewma",
}
# Real-stream queries: fn() drains a stream; plan inspection is meaningless.
STREAM_RUNNERS = {
    "streaming_hourly_counts",
    "streaming_dedup_events",
    "stateful_user_ewma",
    "streaming_session_metrics",
    "streaming_segment_counts",
    "streaming_view_click_join",
    "streaming_corpus_ingest",
}


def test_map_side_corpus_ops_have_zero_exchanges(spark):
    """corpus_source_mix and pii_scrub claim pure map-side execution —
    assert no Exchange at all (filter/projection push to the scan)."""
    for name in ("corpus_source_mix", "pii_scrub"):
        plan = plan_of(REG[name].fn(spark, SF))
        assert "Exchange" not in plan, f"{name}: {plan}"


def test_minhash_signature_stage_shape(spark):
    """MinHash signatures (r12 compiled form): shingles explode into a
    codegen'd k-MIN hash aggregate whose PARTIAL pass collapses each doc
    to one row map-side — so the stage carries exactly ONE exchange
    (hashpartitioning on doc_id, |docs| rows of k longs), no join, and
    the generate node is the outer form (no inferred size>0 filter
    re-evaluating the interpreted shingle chain below the exchange)."""
    from enterprise_data_warehouse_spark.operators.dedup import (
        _with_synthetic_dupes,
        minhash_signatures,
        shingle_sets,
    )

    d = _with_synthetic_dupes(load_table(spark, SF, "documents"))
    plan = plan_of(minhash_signatures(shingle_sets(d)))
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges == 1 and "hashpartitioning(doc_id" in plan, plan
    assert "Join" not in plan, plan
    # the inferred-filter regression guard: nothing below the generate may
    # re-evaluate the shingle transform (no size(array_distinct(... filter)
    assert "Filter (size(array_distinct" not in plan, plan


def test_embedding_centroids_two_shuffles(spark):
    """posexplode → groupBy(label,pos): at most the aggregation exchanges
    (rows-form output needs just one), no join, no global sort."""
    plan = plan_of(REG["embedding_centroids"].fn(spark, SF))
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 2 and "Join" not in plan and "Sort [" not in plan, plan


# Queries whose BroadcastNestedLoopJoin is INTENTIONAL: the broadcast side
# is provably tiny and key-less (scalar stats, quantile cut-points, k
# centroids, a handful of query vectors), so a nested-loop against it is the
# right plan at any scale. Anything NOT listed here that grows a BNLJ is a
# plan regression (e.g. an equi-join whose keys stopped being recognized).
BNLJ_ALLOWED = {
    "customer_rfm_scalable",  # broadcast quantile cut-points (9 rows)
    "cosine_topk",  # broadcast query vectors (constant count)
    "embedding_near_dup",  # broadcast sampled probe vectors
    "ivf_topk",  # broadcast coarse centroids (k rows)
    "semantic_dedup",  # broadcast coarse centroids (k rows)
    "kmeans_embeddings",  # broadcast centroids (k rows per iteration)
    "kmeans_pp_embeddings",  # broadcast sketch-seeded centroids (k rows)
    "key_skew_profile",  # broadcast global count rollup (1 row)
    "token_budget_mix",  # broadcast water-fill globals (1 row × 2 rounds)
    "bipartite_pagerank",  # broadcast node-count scalar (1 row)
    "ks_drift_pvalue",  # broadcast scalar KS statistic (1 row)
    "important_suppliers",  # broadcast global revenue threshold (1 row)
    "zorder_keys",  # broadcast min/max normalization rollup (1 row)
    "dormant_customers",  # broadcast global average balance (1 row)
    "pca_power_iteration",  # broadcast direction vector + norm (1 row each)
    "perplexity_buckets",  # broadcast token-total + tertile cuts (1 row each)
    "hard_negative_mining",  # broadcast anchor query set (constant count)
    "incremental_ivf_assign",  # broadcast coarse centroids (k rows × 2 scores)
    "association_rules",  # broadcast basket-total scalar (1 row)
}


def test_no_cartesian_products_anywhere(spark):
    """Sweep every registered batch query's physical plan: an accidental
    CartesianProduct — or a BroadcastNestedLoopJoin outside the explicit
    tiny-side allowlist — is the classic silent 100 TB killer.
    (ngram_jaccard_pairs & simhash band joins are equi-joins — they must
    NOT appear here either.)"""
    offenders = []
    for name, spec in REG.items():
        if name in STREAM_RUNNERS:
            continue
        plan = plan_of(spec.fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            offenders.append(f"{name}: BroadcastNestedLoopJoin")
    assert not offenders, offenders


def test_python_nodes_only_where_declared(spark):
    """No query outside the declared Python-boundary set may contain a
    Python eval node — keeps the hot paths JVM-side as modules evolve."""
    offenders = []
    for name, spec in REG.items():
        if name in STREAM_RUNNERS or name in PYTHON_BOUNDARY:
            continue
        plan = plan_of(spec.fn(spark, SF))
        if any(m in plan for m in ("BatchEvalPython", "ArrowEvalPython", "PythonUDTF", "FlatMapGroupsInPandas")):
            offenders.append(name)
    assert not offenders, offenders


def test_no_complex_typed_output_columns(spark):
    """Sweep every registered batch query's result schema: top-level
    array/map/struct columns break downstream result canonicalizers (pandas
    sort_values on a list cell → `unhashable type: 'list'`) and most BI
    sinks. Queries must serialize vectors as deterministic strings or emit
    (id, pos, value) rows instead (CORRECTNESS_r03: embedding_centroids /
    embedding_quantize err — fixed in r04; this gate keeps them fixed)."""
    offenders = []
    for name, spec in REG.items():
        if name in STREAM_RUNNERS:
            continue
        for f in spec.fn(spark, SF).schema.fields:
            if f.dataType.typeName() in ("array", "map", "struct"):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


def test_tpch_pack_broadcasts_dims_not_fact(spark):
    """TPC-H-shape pack: part/nation/supplier dimensions broadcast; the
    lineitem fact must never be the broadcast side.

    shipping_priority_topk joined the guard in r13: Spark's post-filter
    size estimate put the shipdate-filtered lineitem under the broadcast
    threshold and built the fact on the driver — now pinned SHJ via hint
    (large_orders gets its own test below: its legitimate broadcast side
    CONTAINS an aggregated-lineitem subtree, so this regex misfires)."""
    for name in (
        "promo_revenue",
        "product_profit",
        "disjunctive_revenue",
        "shipping_priority_topk",
        "returned_customer_ranking",
    ):
        plan = plan_of(REG[name].fn(spark, SF))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"
        bcast_sections = re.findall(r"BroadcastExchange[^\n]*\n(?:.*\n){0,8}", plan)
        assert not any("lineitem" in s for s in bcast_sections), (
            f"{name}: fact side broadcast"
        )


def test_large_orders_topk_no_global_sort(spark):
    """Q18 shape must plan TakeOrderedAndProject (top-k), not a full global
    Sort+Exchange of the joined result."""
    plan = plan_of(REG["large_orders"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_large_orders_builds_semi_side_never_fact(spark):
    """Q18's lineitem re-join must plan ShuffledHashJoin BuildLeft: the
    semi-joined orders side (the smaller at every scale) is the hash
    build, the raw fact is shuffled once and probed. Before the r13 hint,
    Spark's estimator could not see through the semi-join + aggregate and
    below the broadcast threshold broadcast the ENTIRE raw lineitem as
    the build side (driver-serial multi-million-row fact build; measured
    3.7 s -> 1.9 s at sf1), while above it it picked SHJ BuildRight —
    building on the 10x-bigger fact side. A broadcast hint was rejected:
    qty > 140 matches ~24% of orders on this corpus (3.57M at sf10), so
    the semi side must shuffle, not broadcast."""
    plan = plan_of(REG["large_orders"].fn(spark, SF))
    m = re.search(r"ShuffledHashJoin \[o_orderkey[^\]]*\], \[l_orderkey[^\]]*\], Inner, (\w+)", plan)
    assert m, plan
    assert m.group(1) == "BuildLeft", plan


def test_top_supplier_scans_lineitem_once(spark):
    """Q15 shape: the MAX-revenue scalar is a window over the per-supplier
    aggregate, so the plan must contain exactly ONE lineitem scan (the naive
    two-branch subquery formulation scans it twice)."""
    plan = plan_of(REG["top_supplier"].fn(spark, SF))
    assert plan.count("lineitem.parquet") == 1, plan


def test_sequence_packing_prefix_sum_is_distributed(spark):
    """The doc-level running offset must be a bucket-partitioned window (+
    tiny bucket-offset rollup), never a global ORDER BY window that funnels
    every document row through one partition."""
    plan = plan_of(REG["sequence_packing"].fn(spark, SF))
    assert "windowspecdefinition(bucket" in plan, plan


def test_ngram_jaccard_single_scan_no_join(spark):
    """The pair generator must scan documents ONCE and contain no join:
    the DF-cap window and the per-shingle doc-list aggregation share one
    sh64 partitioning, pairs come from array lambdas."""
    plan = plan_of(REG["ngram_jaccard_pairs"].fn(spark, SF))
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, plan


def test_funnel_single_scan_single_user_exchange(spark):
    """The ordered-sequence funnel must be the one-pass array-fold plan:
    events scanned ONCE, one user_id hash exchange, no join operator
    (the staged-CTE formulation scans events three times and joins twice)."""
    plan = plan_of(REG["funnel_conversion"].fn(spark, SF))
    assert plan.count("events.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_unpivot_is_single_expand_pass(spark):
    """UNPIVOT must plan as one Expand over one lineitem scan (the UNION
    ALL formulation scans the table once per measure)."""
    plan = plan_of(REG["lineitem_measure_unpivot"].fn(spark, SF))
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("Expand") >= 1, plan
    assert "Union" not in plan, plan


def test_record_linkage_no_self_join_single_block_exchange(spark):
    """Blocked entity resolution must emit pairs via the grouped array
    pattern: customer scanned ONCE, no join operator, and the block-cap
    window + pair grouping share one block-key exchange."""
    plan = plan_of(REG["record_linkage_pairs"].fn(spark, SF))
    assert plan.count("customer.parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_token_budget_prefix_cut_is_distributed(spark):
    """The per-source token cumsum must be the bucket-partitioned window
    (+ tiny bucket-offset rollup broadcast back), never a source-only
    window over document rows — one giant source would otherwise sort
    through a single task. The only source-only window allowed is the
    |sources|x16 bucket-offset rollup."""
    plan = plan_of(REG["token_budget_mix"].fn(spark, SF))
    assert re.search(r"windowspecdefinition\(source#\d+, bucket", plan), plan
    doc_windows = re.findall(
        r"windowspecdefinition\(source#\d+, u#", plan
    )
    assert not doc_windows, plan


def test_stratum_topk_first_phase_is_salted(spark):
    """Per-stratum top-k must rank within (stratum, salt) first — a lone
    PARTITION BY stratum window over the full table would funnel it
    through |strata| tasks. The stratum-only window may appear only above
    the salted one (over the k×salts survivors)."""
    plan = plan_of(REG["stratum_topk_sample"].fn(spark, SF))
    assert re.search(r"windowspecdefinition\(o_orderpriority#\d+, salt", plan), plan


def test_scd2_temporal_join_is_equi_with_residual(spark):
    """The point-in-time dim join must hash/merge on the dim KEY with the
    validity interval as a residual condition — a range-join formulation
    (BNLJ/cartesian over intervals) would explode at scale."""
    plan = plan_of(REG["scd2_temporal_join"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[o_custkey", plan
    ), plan


def test_countmin_single_scan_per_consumer(spark):
    """The CM sketch must compute all depth-rows in ONE projection
    (posexplode over a bucket array) — the union-of-scans formulation
    reads events CM_DEPTH times per consumer."""
    plan = plan_of(REG["countmin_heavy_hitters"].fn(spark, SF))
    assert "Union" not in plan, plan
    assert plan.count("events.parquet") <= 3, plan


def test_salted_join_keys_include_salt_no_broadcast(spark):
    """The skew-join demo must actually join on (event_type, _salt) through
    a shuffled hash join — if AQE or a size misestimate rewrote it to a
    broadcast, the query would silently stop demonstrating the pattern."""
    plan = plan_of(REG["salted_skew_join"].fn(spark, SF))
    assert "ShuffledHashJoin" in plan, plan
    m = re.search(r"ShuffledHashJoin \[([^\]]*)\]", plan)
    assert m and "_salt" in m.group(1) and "event_type" in m.group(1), m
    assert "BroadcastHashJoin" not in plan


def test_densify_spine_join_is_broadcast(spark):
    """The date-spine left join must hash-broadcast the day-grain
    aggregate (build-right). Hinting the preserved LEFT side is silently
    ignored by Spark (HintErrorLogger warning) and the join degrades to
    sort-merge — the regression this pin guards against."""
    plan = plan_of(REG["densify_daily_revenue"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


# Queries ALLOWED an unpartitioned ordered Window (WindowExec moves all
# rows to one partition — the classic silent 100 TB killer). Every entry
# must operate on a BOUNDED-grain frame or have a documented scale twin.
GLOBAL_WINDOW_ALLOWED = {
    "abc_part_classification",  # part-grain rollup; extreme-cardinality recipe documented
    "customer_rfm",  # exact ntile spec; customer_rfm_scalable is the approxQuantile twin
    "forecast_baseline_daily",  # day-grain series (bounded by calendar days)
    "key_skew_profile",  # top-10 over key-count rollup
    "ks_binned_drift",  # bin-grain CDF (fixed bin count)
    "ks_drift_pvalue",  # bin-grain CDF (fixed bin count)
    "ks_value_drift",  # exact KS needs the global CDF; ks_binned_drift is the scale twin
    "sequence_packing",  # bucket-grain offsets: level 2 of the distributed prefix sum
    "vocab_growth_buckets",  # bucket-grain cumulative vocabulary
}


def test_unpartitioned_windows_only_where_allowed(spark):
    """Sweep every registered batch query's executed plan for Window nodes
    with NO partition spec (plan text: two bracket groups instead of three,
    the last being an order spec). Any query outside the justified
    allowlist fails — an unpartitioned ordered window funnels the whole
    input through one task and cannot survive a 100× scale-up."""
    offenders = []
    for name, spec in REG.items():
        if name in STREAM_RUNNERS:
            continue
        plan = plan_of(spec.fn(spark, SF))
        for line in plan.splitlines():
            stripped = line.strip().lstrip("+-*: ").strip()
            if not stripped.startswith("Window "):
                continue
            if line.count("], [") == 1:
                last = line.rsplit("], [", 1)[1]
                if (" ASC" in last or " DESC" in last) and (
                    name not in GLOBAL_WINDOW_ALLOWED
                ):
                    offenders.append(f"{name}: {stripped[:120]}")
    assert not offenders, offenders


def test_scd2_customer_dim_plan_shape(spark):
    """The SCD2 cycle (the r12 decade-probe shape): change detection is
    equi-join based — exactly one left-anti (untouched-current
    passthrough), a union of the four version branches, the latest-wins
    window, and the %7/%13/%97 update-batch predicates pushed into the
    customer scans. Never a cartesian, never a Python eval node."""
    plan = plan_of(REG["scd2_customer_dim"].fn(spark, SF))
    assert plan.count("LeftAnti") == 1, plan
    assert "Union" in plan and "Window" in plan, plan
    assert "CartesianProduct" not in plan and "EvalPython" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert any("% 97" in ln for ln in scans), scans  # batch filter pushed


def test_catalog_fact_sales_daily_plan_shape(spark):
    """The catalog star build (the r12 decade-probe shape, r13 exchange
    layout): one equi join (broadcast at this SF, shuffled-hash at
    scale), then — because the (date, customer, part) grain is declared
    near-unique — a REPARTITION_BY_COL exchange of the RAW narrow rows
    with the partial+final aggregate pair running entirely post-shuffle
    (widened decimal partials never cross the wire), and column pruning
    on both scans."""
    plan = plan_of(REG["catalog_fact_sales_daily"].fn(spark, SF))
    assert ("BroadcastHashJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "SortMergeJoin" in plan
    ), plan
    assert "CartesianProduct" not in plan and "EvalPython" not in plan, plan
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 3, plan  # join bcast/shuffle + one agg exchange
    # the near-unique-grain exchange: group-key repartition of raw rows
    assert "REPARTITION_BY_COL" in plan, plan
    li_scan = next(
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "l_orderkey" in ln
    )
    assert "l_comment" not in li_scan and "l_shipinstruct" not in li_scan, li_scan
    # orders scan pruned to the join key + grain columns (VERDICT r12 #8)
    o_scan = next(
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "o_orderkey" in ln
    )
    for col in ("o_totalprice", "o_comment", "o_orderstatus", "o_clerk"):
        assert col not in o_scan, o_scan


def test_pagerank_edge_job_single_scan(spark):
    """The r12 pagerank edge rewrite, pinned (VERDICT r12 item 4): both
    edge directions explode from ONE distinct subtree, so the edge job
    reads lineitem once and carries at most 3 exchanges (the repartition
    on read, the distinct, and AQE bookkeeping) — never the 4-scan/
    12-exchange union(pairs, swap(pairs)) + degree self-join shape."""
    from enterprise_data_warehouse_spark.operators.graph import (
        _pagerank_edge_frame,
    )

    plan = plan_of(_pagerank_edge_frame(load_table(spark, SF, "lineitem")))
    assert plan.count("FileScan parquet") == 1, plan
    n_exchanges = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 3, plan
    assert "Generate explode" in plan, plan
    assert "Join" not in plan, plan


def test_no_inferred_size_filter_over_generator_chains(spark):
    """The outer-generate family, pinned for every converted dedup/text
    path (VERDICT r12 item 4): no Generate may carry an
    InferFiltersFromGenerate-inferred `size(<expensive chain>)` filter
    that re-evaluates the interpreted shingle/gram transform below the
    exchange. The deliberate `size(docs) >= 2` singleton pre-filters
    (over a collected array ATTRIBUTE, not a chain) stay allowed."""
    for name in (
        "ngram_jaccard_pairs",
        "prefix_filter_jaccard_pairs",
        "dsir_importance_weights",
        "doc_chunks_native",
        "token_frequencies",
        "ngram_novelty_scores",
        "trigram_lm_counts",
    ):
        plan = plan_of(REG[name].fn(spark, SF))
        assert "size(transform(" not in plan, (name, plan)
        assert "size(array_distinct(" not in plan, (name, plan)
        assert "size(sequence(" not in plan, (name, plan)
