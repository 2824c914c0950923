"""Regenerate PLANS.md: annotated physical plans for headline queries.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from enterprise_data_warehouse_spark.queries import load_registry  # noqa: E402
from enterprise_data_warehouse_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

# (query, what the plan proves)
SHOWCASE = [
    ("star_revenue_rollup",
     "Star join: nation/region broadcast (hint), orders/customer broadcast "
     "(AQE at this SF; shuffle-hash at 100 TB), cleanse filters pushed into "
     "the lineitem scan, decimal-exact sums keep map-side partials."),
    ("pricing_summary",
     "TPC-H Q1 shape: scan → partial agg → ONE exchange → final agg; "
     "whole-stage codegen end to end."),
    ("shipping_priority_topk",
     "Q3 shape: all three filters pushed to their scans; top-k plans "
     "TakeOrderedAndProject (per-partition heaps), no global sort."),
    ("top_supplier",
     "Q15 shape: the MAX-revenue scalar is a window over the per-supplier "
     "aggregate — exactly one lineitem scan (a naive self-referencing "
     "subquery scans it twice because asymmetric null-filter pushdown "
     "defeats ReuseExchange)."),
    ("sequence_packing",
     "Distributed prefix sum: bucket-partitioned cumulative window + tiny "
     "bucket-offset rollup broadcast back — no global-order window, so no "
     "single-partition funnel of the corpus."),
    ("minhash_lsh_candidates",
     "MinHash signatures: one shingle explode feeds k compiled "
     "MIN(xxhash64(...)) aggregates whose partial agg collapses each doc "
     "to one row map-side, so the exchange ships |docs| × k longs; "
     "candidate pairs come from grouped per-bucket emission — the signature "
     "table is computed and shuffled once, and there is no join operator."),
    ("ngram_jaccard_pairs",
     "Single-scan near-dup candidate generation: the DF-cap window and the "
     "per-shingle doc-list aggregation share one sh64 partitioning; pairs "
     "are emitted with array lambdas — no self-join, half the corpus I/O."),
    ("asof_click_attribution",
     "As-of join as union + ONE partition-local window — no join operator "
     "at all, one exchange."),
    ("doc_chunks_native",
     "Chunk expansion (sequence → explode → slice) runs inside the scan "
     "stage, fully codegen'd, no Python."),
    ("forecast_revenue",
     "Q6 shape: all three predicates reach the scan as DataFilters, then "
     "map-side partial sum → ONE single-partition exchange. The minimal "
     "possible plan for a filter-aggregate."),
    ("waiting_suppliers",
     "Q21 shape decorrelated: the EXISTS/NOT-EXISTS pair is ONE per-order "
     "aggregation (distinct/distinct-late supplier counts) joined back to "
     "the late lines on l_orderkey — no correlated lineitem self-join; "
     "orders and supplier broadcast."),
    ("ann_multiprobe_topk",
     "Multi-probe ANN: signatures and margins are map-side array "
     "arithmetic, probe buckets explode flips+1 rows per query, and "
     "candidates come from a bucket equi-join (broadcast at this SF, "
     "shuffle-hash at scale) — never an all-pairs join."),
    ("semantic_dedup",
     "SemDeDup: centroid assignment is a broadcast nested-loop against "
     "the tiny centroid table (map-side, no shuffle of the corpus); "
     "within-cell pruning is a cell-keyed equi-join whose candidates "
     "stream through the join operator — cost bounded by cell size."),
    ("simhash_hamming_pairs",
     "tf-weighted 60-bit SimHash: signatures are one map-side pass "
     "(each distinct token hashed once, weighted bit votes), banded "
     "candidates from grouped per-bucket emission — one shuffle, no "
     "self-join, fan-out capped."),
    ("zorder_keys",
     "Z-order clustering key: min/max normalization is a 1-row broadcast "
     "back over the scan; bit interleave is pure integer arithmetic in "
     "the projection — the subsequent zorder_write adds only the "
     "RangePartitioning exchange any sorted write pays."),
    ("inverted_index_topk",
     "Sparse-retrieval index: explode → per-(token,doc) tf (map-side "
     "combinable) → vocabulary stats joined back on the token key tf "
     "already shuffled on → per-token top-k window on that same key."),
    ("catalog_fact_financial",
     "Catalog-compiled monthly fact: staging join → grain-truncated "
     "grouped aggregate with decimal-exact partials → derived measures "
     "projected post-agg; one exchange past the join."),
    ("funnel_conversion",
     "Ordered-sequence funnel: ONE scan, ONE user_id exchange — events "
     "fold into a sorted per-user array and a single aggregate lambda "
     "walks it carrying stage state (the staged-CTE formulation would "
     "scan events three times and join twice)."),
    ("lineitem_measure_unpivot",
     "UNPIVOT as a single Expand over the scan: each row read once, "
     "|measures| long rows emitted map-side, then a 4-group partial agg — "
     "the UNION ALL formulation scans the table once per measure."),
    ("record_linkage_pairs",
     "Blocked entity resolution: block-size-cap window and grouped i<j "
     "pair emission share ONE block-key exchange; Levenshtein scoring "
     "runs JVM-side on the exploded pairs — no customer self-join."),
    ("token_budget_mix",
     "Exact token-budget mixing: water-fill allocation runs over "
     "|sources|-sized frames (broadcast crossJoins of 1-row globals); the "
     "per-source prefix cut is the bucket-partitioned distributed prefix "
     "sum — no source-wide ORDER BY window ever touches document rows."),
    ("bipartite_pagerank",
     "Unrolled PageRank: per round ONE src-keyed join (rank → edges, "
     "degree pre-folded into the edge frame) + ONE dst-keyed partial-agg "
     "exchange; integer micro-unit ranks keep every round associative; "
     "final top-k is TakeOrderedAndProject, not a global sort."),
    ("dsir_importance_weights",
     "DSIR scoring: the 256-row bucket-weight table BROADCASTS at any "
     "corpus size, so per-gram scoring is map-side; one bucket aggregate "
     "(map-side combined) + one doc_id exchange; ln is folded to integer "
     "micro-nats per bucket so document sums stay associative."),
    ("prefix_filter_jaccard_pairs",
     "Lossless exact-Jaccard join (AllPairs/PPJoin): the hashed-set table "
     "is checkpointed once — prefixes, df counts, and both verification "
     "sides read that stage output instead of re-shingling the corpus 4×; "
     "df is a count window on the sh64 exchange, candidates come from "
     "grouped i<j emission with the PPJoin LENGTH and POSITIONAL filters "
     "applied per emission (min(n) ≥ τ·max(n); 1 + min(na−ia, nb−ib) ≥ "
     "⌈(na+nb)/3⌉ — both prune before the distinct exchange and the "
     "array-carrying verify joins), no self-join anywhere. Past 200 MB "
     "of input the same operators run segmented (K token-hash emission "
     "passes + pair-hash verify chunks, disk-checkpointed boundaries) so "
     "one node's disk holds a single pass's shuffle — this dump shows "
     "the K=1 plan, pinned bit-identical to the segmented one."),
    ("perplexity_buckets",
     "CCNet perplexity gate: vocab NLL aggregate (map-side combined) "
     "joined back on the token key; the tertile cut runs on the per-DOC "
     "frame and broadcasts back as a 1-row crossJoin — the corpus-sized "
     "token stream never passes through a global window."),
    ("salted_skew_join",
     "Skew-safe shuffle join: the hot key is salted on the big side and "
     "the small side replicated, so the join keys become (event_type, "
     "_salt) through a ShuffledHashJoin — S-way fan-out per hot key, "
     "plan-asserted not-broadcast."),
    ("association_rules",
     "Market-basket rules: co-occurrence pairs from per-basket grouped "
     "i<j emission (fan-out bounded by basket size, never |catalog|²); "
     "item stats broadcast back onto the pair aggregate."),
    ("line_dedup_reconstruct",
     "Line-level dedup: one explode inside the scan stage, first-owner "
     "selection as a map-side-combinable MIN on the 128-bit line hash "
     "(not a per-line row_number window — boilerplate lines are the "
     "skewed keys), join-back and per-doc rebuild on the same hash key."),
    ("scd2_customer_dim",
     "SCD2 cycle (r12 fourth-decade probe, ratio 1.27): latest-wins "
     "window only over the pushed-down update batch (%7/%13/%97 "
     "predicates reach the customer scans), hash-diff change detection "
     "as equi joins, exactly one left-anti for untouched-current "
     "passthrough, 4-way union of version branches — no cartesian, no "
     "Python."),
    ("catalog_fact_sales_daily",
     "Catalog star build (r12 fourth-decade probe, 42.4 GB spill "
     "high-water at sf100): pruned lineitem scan (grain + measures "
     "only) ⋈ orders on orderkey, then ONE aggregation exchange; the "
     "near-unique (date, custkey, partkey) grain defeats partial "
     "aggregation by constitution, so at real scale the fact table is "
     "bucketed by orderkey to delete the join shuffle "
     "(tests/test_bucketed.py pins the bucketed path)."),
]


def main() -> None:
    spark = get_spark("dump-plans")
    reg = load_registry()
    out = [
        "# PLANS — physical plans of headline queries (regenerate: "
        "`python tools/dump_plans.py`)",
        "",
        "Captured at sf0.001 with the engine session (AQE on, 32 shuffle "
        "partitions). Each note describes the plan printed under it. "
        "Plan-shape tests (most of them in `tests/test_plans.py`) pin some "
        "of these properties, not all: read an unpinned note as a snapshot "
        "of the current plan, not an invariant.",
        "",
    ]
    for name, note in SHOWCASE:
        plan = (
            reg[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        )
        out += [f"## {name}", "", note, "", "```", plan.rstrip(), "```", ""]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
