#!/usr/bin/env python
"""Snapshot formatted physical plans of the headline queries into PLANS.md.

Committed evidence of plan quality: for each selected query, the AQE-final
formatted plan at sf0.01 plus the mechanical facts that matter at 100 TB —
Exchange count, pushed filters, read schemas, whole-stage-codegen spans,
and any Python eval nodes (Arrow-batched only; BatchEvalPython would be a
bug, see tools/explain_audit.py).

Usage: python tools/plan_snapshots.py [sf_dir] [name ...]
(default: every HEADLINERS query, written to PLANS.md; named queries are
printed)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.harness import (  # noqa: E402
    GATE_SF_DIR,
    arrow_python_nodes,
    exit_status,
    plan,
    plan_stats,
    run_each,
    select,
)

#: queries worth showing, with a one-line scale story each.
HEADLINERS: dict[str, str] = {
    "q1_pricing_summary": "filter pushed to the scan, partial+final hash agg — "
    "the shape that makes TPC-H Q1 embarrassingly parallel at any scale",
    "q3_shipping_priority": "selective dim filters push below the fact joins; "
    "deterministic top-10 via TakeOrderedAndProject (no global sort)",
    "join_broadcast_dims": "dims broadcast — the fact side never shuffles",
    "join_asof_purchase_click": "as-of via union+window: ONE shuffle on the "
    "key, linear in |left|+|right| (no range explosion)",
    "join_bucketed_revenue": "bucketed ingest -> co-located SMJ and agg: "
    "ZERO Exchange nodes in the executed plan",
    "join_salted_skew": "salted join: hot keys spread over 8 reducers, "
    "deterministic salt survives task retries",
    "dedup_minhash_lsh": "band-bucket equi-join candidates (no O(n^2)); "
    "exploded signatures get map-side combine",
    "knn_cosine_ivf": "IVF probe: corpus scanned once for assignment, "
    "queries touch nprobe/n_centroids of the corpus",
    "corpus_build_pipeline": "quality -> lang -> dedup -> pack as ONE "
    "Catalyst plan — no materialization barriers between phases",
    "events_tumbling_hourly": "time-bucketed agg with partial aggregation; "
    "the streaming twin adds only a watermark",
    "text_repetition_ratio": "per-row array ops (no shuffle) + doc-local "
    "explode/count — both shuffle keys uniform by construction",
    "join_bloom_runtime_filter": "InjectRuntimeFilter: might_contain(bloom) "
    "prunes the probe side BEFORE its shuffle — the non-broadcastable-dim "
    "path",
    "cdc_apply_upsert": "MERGE-INTO core: latest-change compaction + "
    "full-outer coalesce, one key shuffle per side",
    "contamination_ngram_overlap": "distinct 5-gram shuffle equi-join; "
    "shingles computed once per row (no filter re-inline)",
    "ks_click_purchase_drift": "cogroup -> applyInPandas: one co-partitioned "
    "shuffle each side, Arrow-batched per-key numpy",
    "q18_large_volume_customers": "window-filter form of the HAVING "
    "semi-join: ONE fact scan, ONE shuffle the join reuses (was two of "
    "each; 1.6x faster measured)",
    "join_range_bands": "range join via the binning rewrite: broadcast "
    "HASH join on floor(value/width) + exact residual — replaces the "
    "BroadcastNestedLoopJoin (0.82s -> 0.13s warm at sf0.1)",
    "funnel_signup_click_purchase": "single-pass funnel: stage left-joins "
    "carry (t_signup, t_click, t_purchase) per user, all three counts "
    "from ONE aggregate — 3 pruned events scans (was 6), 7 Exchanges "
    "(was 19)",
    "q7_nation_volume": "dual-role dimension: nation broadcast twice "
    "(seller/buyer roles); the IN-filters prune both fact sides via "
    "join-predicate inference before the fact-fact shuffles",
    "pii_redaction": "pure map-side narrow transform: ONE Exchange (the "
    "noop-sink write), regexes evaluated inside whole-stage codegen",
    "bm25_search": "postings restricted to query terms before any shuffle; "
    "df + 1-row avgdl stats broadcast; top-20 via TakeOrderedAndProject",
    "semdedup_prune": "corpus-derived k (~sqrt(n) broadcast centroids) -> "
    "map-side assignment; within-cluster self-join reuses the assignment "
    "shuffle (ReusedExchange), pairwise bounded by the ~sqrt(n) cluster "
    "size at ANY corpus scale",
    "graph_pagerank_parts": "Pregel-on-dataframes: persisted+coalesced "
    "edge list, broadcast rank table per iteration, fixed-point BIGINT "
    "update (cross-engine bit-identical)",
    "bpe_merge_steps": "corpus-scale work is ONE explode+count; merges "
    "are vocab-scale bigram aggs + 1-row argmax broadcast + map-side "
    "replace",
    "graph_scc_forward_backward": "FW-BW SCC kernel: ONE fact shuffle "
    "builds the persisted digraph; every unrolled hop is an edges⋈frontier "
    "equi-join + distinct with early exit at fixpoint",
    "fifo_inventory_matching": "sequential FIFO state as a declarative "
    "interval-intersection self-join on per-part cumulative quantities — "
    "per-part windows, bounded match multiplicity",
    "ml_roc_curve_points": "the whole threshold sweep is ONE pass of 22 "
    "conditional sums + stack(11): no fan-out, a 1-row shuffle",
    "ab_cuped_adjustment": "experiment readout as two moment aggregates "
    "(1-row global theta, 2-row arms) over one user-keyed shuffle",
    "q2_min_cost_supplier": "correlated-MIN-as-window: part filter "
    "broadcast-prunes lineitem before the (partkey,suppkey) agg; "
    "supplier/nation/region broadcast; the min-equality filter rides the "
    "partkey window — no re-scan of the fact for the subquery",
    "dedup_prefix_jaccard": "prefix-filter similarity join: candidates "
    "keyed ONLY on each doc's rarest tokens (df-ranked), so common-token "
    "skew never reaches a shuffle; persisted token table read 4x; all "
    "pruning decisions integer-exact",
    "ts_max_concurrency_daily": "two-phase interval sweep: tiny per-hour "
    "carry-in window (day-partitioned, ~24 rows/day) + (day,hour)-bounded "
    "run window — no day-sized single-partition sort",
    "text_bigram_logprob": "bigrams via zip-of-slices (one tokenize per "
    "row; the element_at HOF form re-inlines the chain per element, "
    "measured 10x slower); LM join on uniform (w1,w2) keys",
    "graph_walks_recursive_cte": "native WITH RECURSIVE execution: the "
    "UNION ALL loop materializes per-step frontiers; hop cap + "
    "weight-floored edges bound the recursion",
    "multimodal_video_frame_stats": "three Arrow-batched map-side passes "
    "(synth -> frame-walk decode+sample -> stats), ZERO shuffles until "
    "the final stats projection — payload bytes never leave the executor",
    "diag_join_cardinality": "one full-outer join of two per-key count "
    "tables + one aggregate -> all five fan-out metrics in a single pass",
    "graph_triangle_degree_ordered": "degree-ordered wedges: oriented edge "
    "table eager-persisted (3 consumers), wedge work bounded O(m^1.5) "
    "regardless of hub skew",
    "heavy_hitters_tokens": "map-side Misra-Gries candidates (bounded "
    "memory, NO vocabulary shuffle) -> broadcast semi-join -> exact "
    "verify of candidates only",
    "ts_downsample_ohlc": "ONE bucket-key shuffle shared by the "
    "first/last window and the OHLC aggregate",
    "attribution_last_touch": "ONE user shuffle: paired IGNORE-NULLS "
    "last_value windows + partial-agg'd channel counts on top",
    "scan_zorder_layout": "Morton interleave as pure codegen arithmetic; "
    "z-range buckets are a map-side divide (no global sort) + one "
    "partial-agg'd bounding-box aggregate",
    "source_custom_wirelog": "wire frames assembled JVM-side (concat + "
    "IntegerSerde codec inside codegen); Python writer only joins "
    "finished byte strings per Arrow batch",
    "bpe_encode_corpus": "merges applied VOCABULARY-side; corpus encode "
    "is one exploded-tokens hash join onto the word->symbols table",
    "quantile_exact_twopass": "exact p25/50/75 with NO global sort: "
    "domain-bounded histogram pass + target-bucket-only second pass "
    "(~1/1000 slice shuffled)",
    "knn_pq_adc": "PQ encode + ADC scoring in ONE Arrow map-side corpus "
    "pass (codebook/queries ride the closure); only q*k rows per batch "
    "reach the reduce window",
    "graph_cc_two_phase": "large-star/small-star rounds: two groupBy+join "
    "passes over a SHRINKING edge set, O(log^2 n) rounds independent of "
    "component diameter",
    "lm_kneser_ney_bigram": "corpus touched once (map-side bigram zip); "
    "continuation counts are windows over the vocabulary^2-bounded type "
    "table; T is a 1-row broadcast",
    "scan_hilbert_layout": "10-level Hilbert xy2d unrolled as pure codegen "
    "div/mod/CASE arithmetic; buckets are exact 256x256 quadrants "
    "(tighter than z-order seams)",
    "ivm_join_delta": "three delta-sized joins replace the full-view "
    "recompute; the n_incremental == n_full identity is verified in the "
    "same plan",
    "graph_kcore_peel": "3 peel rounds on a monotonically shrinking edge "
    "set: two semi-joins + one partial-agg'd count per round, lazy "
    "localCheckpoint truncates the twice-consumed lineage",
    "scd2_point_in_time_join": "equi hash join on the dimension key with "
    "the half-open validity interval as a residual filter — the "
    "temporal join without a range-explosion BNLJ",
    "corpus_chunk_documents": "token table eager-persisted, then each "
    "overlapping chunk is one slice of the cached array (per-chunk "
    "re-tokenize trap avoided)",
    "diag_groupwise_ols": "per-key closed-form normal equation: one "
    "partial-agg'd pass collecting decimal-exact power sums, zero "
    "further shuffles",
    "ml_nb_lang_confusion": "train = two partial-agg shuffles; the "
    "vocab×classes model and priors broadcast into the scoring join — "
    "the corpus-side token stream shuffles only on doc_id for the "
    "score roll-up",
    "ml_logreg_gd": "each GD step = broadcast 1-row weights + one "
    "map-side-combined gradient aggregate over the persisted feature "
    "frame; the fact table never shuffles",
    "graph_link_prediction": "wedge join over the persisted weight-"
    "floored adjacency; candidates (not all pairs) flow into the "
    "anti-join; vertex-sized degree table broadcast",
    "tfidf_cosine_pairs": "postings self-join on shared terms with "
    "max_df hub pruning — pair fan-out bounded per term; dict-sized "
    "idf table broadcast",
    "ts_seasonal_decompose": "one shuffle to daily grain; trend window "
    "sorted within event_type partitions; 7-row-per-type seasonal "
    "table joined back broadcast",
    "golden_record_customers": "single map-side-combined shuffle on the "
    "customer key; all survivorship rules ride one aggregate",
    "scan_dpp_date_join": "dynamic partition pruning: the weekend filter "
    "lives on the dim side, yet the fact scan's PartitionFilters carry a "
    "runtime dynamicpruning subquery — ~22 of 30 day-dirs skipped before IO",
    "bitmap_user_retention": "events reduce 32:1 into bit_or word bitmaps "
    "at the first partial agg; the retention join moves only bitmap words "
    "and bit_count does the set intersection",
    "sessionize_incremental_merge": "history collapses to a 1-row-per-user "
    "broadcast state; the delta sessionizes against it and the merge is a "
    "union of session-size rows — O(delta + users), not O(history)",
    "graph_bfs_levels": "per-hop frontier⋈edges + broadcast anti-join vs "
    "visited; frontiers localCheckpointed (lineage would double per hop), "
    "edge table persisted once",
    "ts_ltob_downsample": "two window passes + per-bucket argmax, all "
    "within series partitions — shape-preserving decimation with ONE "
    "shuffle on the series key",
    "alloc_largest_remainder": "floors, remainders, ranks and the deficit "
    "all ride ONE orderkey window partitioning — exact integer proration "
    "with no iteration",
    "diag_group_median_arrow": "grouped Arrow UDF: one shuffle on the "
    "group key, per-group index selection on exact cents inside the "
    "Arrow kernel",
    # ------- round-9 headliners -------
    "graph_closeness_sampled": "multi-source BFS: (seed, node) frontier "
    "joins edges per hop, localCheckpoint cuts per-hop lineage doubling; "
    "the (seed, node) key shards the fan-out — no celebrity-seed hotspot",
    "ml_decile_lift": "scored frame eager-persisted above the ntile "
    "machinery's three branches; the decile cut is quantile-edge range "
    "buckets + per-bucket row_number, never a single-partition sort",
    "corpus_token_budget_fill": "distributed prefix sum on ONE BIGINT "
    "order key; the budget threshold is an integer comparison, the "
    "token totals broadcast",
    "attribution_shapley": "one groupBy(user) with 4 conditional maxes, "
    "an 8-row mask rollup, then constant-size game arithmetic — the "
    "whole Shapley computation is one stage regardless of corpus size",
    "diag_mahalanobis_outliers": "1-row moment aggregate broadcast onto "
    "the row scan; the 3-threshold grid folds into one conditional-sum "
    "pass + stack (no per-threshold rescans)",
    "reco_item_item_jaccard": "basket pair fan-out bounded by "
    "parts-per-order, w>=2 pruning BEFORE the item-frequency joins, "
    "top-k via TakeOrderedAndProject",
    "ab_benjamini_hochberg": "BH step-up in z-space: one user-keyed "
    "shuffle to per-(metric,user) scale, 1-row midpoint broadcast, the "
    "literal inverse-CDF grid joined at metric-family scale",
    "cluster_dbscan_grid": "points collapse to a constant cell domain in "
    "ONE map-side-combined groupBy; density rule and union-find merge run "
    "at cell scale — the point set is never joined or sorted",
    "er_fellegi_sunter": "five comparators evaluated map-side per blocked "
    "pair; integer weight sums; pattern-scale (<=32 rows) rollup",
    "ml_learning_curve": "ONE tiered token-count shuffle serves all four "
    "training fractions; vocab-scale models broadcast into the single "
    "test-scoring fan-out",
    "graph_betweenness_sampled": "multi-source BFS frontiers with exact "
    "path counts, each backward level joins only the NEXT level — "
    "(source x frontier)-scale state, never all-pairs",
    "ml_ridge_kfold_cv": "whole 5-fold CV = one scan: per-fold moments, "
    "train = total-minus-fold, held-out RMSE expanded algebraically "
    "(per-row residuals never exist)",
    "ml_tree_depth2": "histogram split search per level: value-domain "
    "windows, 1-row model broadcasts between levels — O(distinct values), "
    "never per-threshold scans",
    "graph_ktruss": "per-round wedge-join support counts on a strictly "
    "shrinking checkpointed edge set",
    "ts_holt_winters": "3-state recursion folded into literal weight "
    "vectors: two rollups then pure per-row codegen expressions — no "
    "fold, no window, no extra shuffle",
    "seq_prefixspan": "sequential-pattern levels: three user-keyed "
    "shuffles (one per level), frequent-set broadcasts, tiny frames "
    "checkpointed",
    "graph_louvain_refine": "one synchronous gain sweep over checkpointed "
    "LPA labels: Pregel-style joins, exact 4m^2 fixed-point modularity, "
    "1-row model crossJoins",
    "ts_dtw_dayofweek": "one (type, dow) conditional aggregate, a "
    "type-domain pair self-join, the band DP inside one MapInPandas",
    "join_spatial_grid_knn": "the 9-offset literal fan-out of the supplier "
    "side, one (cx, cy) equi-join, per-supplier rank window",
    "ts_weighted_interval_sched": "per-user DP in ONE applyInPandas after "
    "a single shuffle on the key; exact BIGINT micros/cents state",
    "join_asof_nearest_event": "both-directions nearest as-of in ONE "
    "union+window pass: backward last(ignorenulls) + forward "
    "first(ignorenulls) over the same sort — no second shuffle, no range "
    "explosion",
    "agg_argminmax_daily": "max_by/min_by over a collision-free "
    "BIGINT-encoded ordering key: one partial-agg'd hash aggregate, no "
    "window",
    "knn_ivfpq_residual": "residual IVF-PQ: assign + encode + ADC all "
    "map-side in one corpus mapInPandas; only the per-query top-k window "
    "shuffles candidate rows",
    "reco_als_rank1": "fixed-point rank-1 ALS: persisted+coalesced ratings "
    "frame, each half-step one shuffle join against the previous "
    "BROADCAST factor table",
    "graph_adamic_adar": "wedge self-join on the hub node with broadcast "
    "inverse-log-degree weights; anti-join drops existing edges; exact "
    "top-50 via TakeOrdered",
    "text_rake_keywords": "corpus-derived delimiters -> running-stopword-"
    "count window builds phrase ids in one per-doc pass; vocabulary-scale "
    "word scores broadcast back",
    "privacy_dp_noisy_histogram": "one partial-agg'd histogram shuffle; the "
    "literal integer inverse-CDF noise map is a bucket-scale projection",
    "source_statestore_depgraph": "batch read of the streaming state "
    "store: one statestore scan, no stream restart",
}


def snapshot(spark, name: str, q, sf_dir: str) -> list[str]:
    """The query's PLANS.md section: its story, plan_stats figures of the
    AQE-final plan, and that plan's tree."""
    df = q.fn(spark, sf_dir)
    # collect() (not a noop write) so THIS DataFrame's QueryExecution
    # runs and its executedPlan is the AQE-final one (isFinalPlan=true);
    # a write wraps the plan in a fresh execution and leaves this one
    # unadapted. Headliner results are all small.
    df.collect()
    stats = plan_stats(plan(df))
    nodes = stats["nodes"]
    executed = df._jdf.queryExecution().executedPlan().toString()
    # the adaptive toString prints "== Final Plan ==" then repeats the
    # pre-adaptive tree under "== Initial Plan ==" — show only the final
    # section (plan_stats skips the initial one too). Cut at the top-level
    # marker: a cached frame's nested adaptive plan prints its own, earlier.
    executed = re.split(r"^\+- == Initial Plan ==", executed, flags=re.M)[0].rstrip()
    arrow = "yes" if arrow_python_nodes(nodes) else "no"
    return [
        f"## {name}",
        "",
        HEADLINERS.get(name, q.doc) + ".",
        "",
        f"- Exchange nodes: **{nodes['Exchange']}** · BroadcastExchange nodes: "
        f"**{nodes['BroadcastExchange']}** · scans with pushed filters: "
        f"**{len(stats['pushed_scans'])}** · whole-stage-codegen spans: "
        f"**{nodes['WholeStageCodegen']}** · Arrow-batched Python: {arrow}",
        "",
        "```",
        executed.rstrip()[:4000],
        "```",
        "",
    ]


def main(argv: list[str]) -> int:
    from logflow.session import get_spark

    sf_dir = argv[0] if argv else GATE_SF_DIR
    queries = select(argv[1:] or list(HEADLINERS))
    spark = get_spark(app_name="logflow-plan-snapshots")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/plan_snapshots.py` at `{sf_dir}`. "
        "Plans are AQE-final (the query is executed, then its adapted plan "
        "is captured). "
        "What to look for: shuffle `Exchange` count, `BroadcastExchange` "
        "count, `PushedFilters` on the parquet scans, `WholeStageCodegen` "
        "spans (JVM-compiled pipelines), and the absence of `BatchEvalPython` "
        "(row-at-a-time Python) anywhere. The counts are distinct plan nodes "
        "(tools/harness.py::plan_stats).",
        "",
    ]
    errors: dict[str, str] = {}
    sections = run_each(
        spark, queries, lambda n, q: snapshot(spark, n, q, sf_dir), errors, "plan_snapshots"
    )
    for lines in sections.values():
        out += lines
    if argv[1:]:  # a look at named plans, not the committed snapshot
        print("\n".join(out))
        return exit_status(errors)
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(sections)} plans)")
    return exit_status(errors)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
