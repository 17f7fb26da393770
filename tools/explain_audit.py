#!/usr/bin/env python
"""Plan-quality audit: .explain() every registered query and flag smells.

Checks per physical plan (the formatted explain, read by
tools/harness.py::plan_stats):

* **cartesian**: CartesianProduct nodes — O(n·m) row explosion; only the
  explicitly bounded verification queries may contain one.
* **bnlj**: BroadcastNestedLoopJoin — fine for tiny broadcast sides
  (range-band VALUES tables), a scale bug anywhere else.
* **hof-in-filter**: a lambdafunction inside a Filter condition — usually
  a pushed-down predicate that re-inlined a derived expression.
* **python-row-udf**: BatchEvalPython (row-at-a-time Python UDF) — the
  slow path; only ArrowEvalPython / MapInPandas are acceptable.
* **shuffle-count**: informational — number of shuffle Exchange nodes.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Writes a per-query report to stdout; exit 1 if a non-whitelisted smell is
found (so it can run as a CI gate).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import exit_status, parse_args, plan, plan_stats, run_each  # noqa: E402

#: queries allowed to contain the listed smell, with the reason.
WHITELIST: dict[str, dict[str, str]] = {
    # ------- round-12 tail -------
    "ml_knn_label_classifier": {
        "bnlj": "cosine_topk's crossJoin broadcasts the BOUNDED held-out "
        "query set onto the train corpus (the knn_cosine_brute "
        "pattern) — the corpus never shuffles"
    },
    "ml_naive_bayes_text": {
        "bnlj": "crossJoins of the source-domain model (priors/defaults, "
        "|sources| rows) and the 1-row vocab scalar — the broadcast-"
        "the-model pattern; token scoring is a broadcast equi-join"
    },
    "diag_benford_law": {
        "bnlj": "crossJoin of the 1-row total-count aggregate onto the "
        "9-row literal digit table — the broadcast-the-model pattern, "
        "never a data-scale nested loop"
    },
    "ml_gbt_stumps": {
        "bnlj": "crossJoins of 1-row frames only (global mean, per-round "
        "eager-checkpointed winner stump, per-round SSE scalar) — the "
        "broadcast-the-model pattern; residual updates are map-side"
    },
    # ------- round-11 crop -------
    "seq_prefixspan": {
        "bnlj": "crossJoins of the 1-row n_users/minsup aggregate and the "
        "type-domain-scale frequent-set broadcasts (<= |T|^2 rows) — "
        "Apriori support thresholds, never a data-scale nested loop"
    },
    "ts_dtw_dayofweek": {
        "bnlj": "the a.t < b.t pair self-join runs on the |T|-row "
        "day-of-week profile frame (type-domain scale, 5 rows here) — "
        "the DP input, never a data-scale nested loop"
    },
    "graph_louvain_refine": {
        "bnlj": "crossJoins of 1-row frames only (edge count m, the "
        "q4m2/count scalars) — the broadcast-the-model pattern"
    },
    "ab_permutation_test": {
        "bnlj": "crossJoin of the 1-row midpoint aggregate (shared "
        "_ab_user_frame pre/post split anchor)"
    },
    "scan_bloom_skipping_audit": {
        "bnlj": "crossJoin of the 1-row MAX(l_orderkey) aggregate (file-"
        "range anchor) — the broadcast-the-model pattern"
    },
    "ml_silhouette_ivf": {
        "bnlj": "crossJoin of the 8-row trained-centroid model onto the "
        "corpus — the broadcast-assign pass every IVF op in this file "
        "uses; never a data-scale nested loop"
    },
    "diag_kendall_tau": {
        "bnlj": "the xs x ys densification crossJoin runs on the bounded "
        "value-domain grid (50 x ~105 cells) plus 1-row scalar "
        "crossJoins — never a data-scale nested loop"
    },
    "join_spatial_grid_knn": {
        "bnlj": "crossJoin of the 9-row literal cell-offset table onto "
        "the supplier side — the grid-probe fan-out; the data-scale "
        "join is the (cx, cy) equi-join"
    },
    # ------- round-12 crop -------
    "sketch_countmin_verify": {
        "bnlj": "crossJoin of the 1-row (n_total, n_keys) aggregate onto "
        "the distinct-key estimate frame — the broadcast-the-model "
        "threshold pattern, never a data-scale nested loop"
    },
    # ------- round-8 crop: every BNLJ below is a crossJoin whose broadcast
    # side is a CONSTANT-SIZE frame (1-row moment/total aggregates, <=11-row
    # threshold grids, <=10-row bin tables) — the broadcast-the-model
    # pattern, never a data-scale nested loop -------
    "ml_isotonic_calibration": {
        "bnlj": "the <=11-row prefix-sum self-join (ko > jm) and the 1-row "
        "GD weight/gradient crossJoins — the whole PAV minimax runs on "
        "B=10 bins by construction"
    },
    "ml_roc_curve_points": {
        "bnlj": "crossJoins of the 11-row fixed threshold grid and the "
        "1-row GD weight/positive-total aggregates"
    },
    "privacy_k_anonymity": {
        "bnlj": "crossJoins of the 4-row k-threshold grid and the 1-row "
        "groups/rows total aggregate"
    },
    "ab_cuped_adjustment": {
        "bnlj": "crossJoins of the 1-row midpoint and 1-row global-moment "
        "aggregates (theta broadcast)"
    },
    "ab_delta_method_ratio": {
        "bnlj": "crossJoin of the 1-row midpoint aggregate (pre/post split "
        "anchor)"
    },
    "ab_two_proportion_ztest": {
        "bnlj": "crossJoin of the 1-row midpoint aggregate (shared "
        "_ab_user_frame pattern)"
    },
    "ab_power_analysis": {
        "bnlj": "crossJoins of the 1-row midpoint/moment aggregates and the "
        "4-row MDE grid"
    },
    "diag_kruskal_wallis": {
        "bnlj": "crossJoins of the 1-row N/k, tie-sum and term-sum "
        "aggregates"
    },
    "diag_levene_brown_forsythe": {
        "bnlj": "crossJoin of the 1-row ANOVA component aggregates"
    },
    "graph_degree_assortativity": {
        "bnlj": "crossJoin of the 1-row node-count aggregate"
    },
    "ts_nelson_aalen": {
        "bnlj": "crossJoin of the 1-row study-end (MAX ts) aggregate (the "
        "ts_kaplan_meier censoring-cutoff broadcast)"
    },
    "graph_hits_hubs_authorities": {
        "bnlj": "crossJoins of the 1-row max-score normalizer per HITS "
        "half-round (the ml_pca_power_iteration pattern)"
    },
    "ml_knn_classifier": {
        "bnlj": "query set is the broadcast side (50 rows by contract — "
        "the knn_cosine_brute pattern)"
    },
    "graph_modularity_lpa": {
        "bnlj": "crossJoins of the 1-row edge-count / community-count / "
        "term-sum aggregates"
    },
    "diag_qq_normal_points": {
        "bnlj": "crossJoins of the 1-row moment aggregate and the 19-row "
        "percentile target table (rank-selection broadcast)"
    },
    "text_heaps_law": {
        "bnlj": "crossJoins of the 1-row max-doc aggregate and the 12-row "
        "checkpoint grid"
    },
    "diag_cohens_kappa": {
        "bnlj": "crossJoin of the 1-row marginal-product aggregate"
    },
    "ab_srm_check": {
        "bnlj": "crossJoin of the 1-row midpoint aggregate (shared "
        "_ab_user_frame pattern)"
    },
    "multimodal_image_histogram": {
        "bnlj": "crossJoin of the 1-row total-pixel aggregate"
    },
    "ml_nb_lang_confusion": {
        "bnlj": "crossJoins of the 1-row vocab-size/doc-total aggregates and "
        "the 5-row class table (model scoring fan-out)"
    },
    "diag_benford_first_digit": {
        "bnlj": "crossJoin of the single-row total-count aggregate"
    },
    "diag_equidepth_histogram": {
        "bnlj": "crossJoin of the constant 9-row quantile-probability table "
        "(edge selection fan-out by design)"
    },
    "diag_woe_binning": {
        "bnlj": "crossJoin of the single-row good/bad-total aggregate"
    },
    "ml_calibration_bins": {
        "bnlj": "crossJoins of the 1-row weight vector / gradient aggregates "
        "(shared _lr_fit broadcast-the-model pattern)"
    },
    "tfidf_cosine_pairs": {
        "bnlj": "crossJoin of the single-row subset-doc-count aggregate (N "
        "for idf)"
    },
    "ml_pca_power_iteration": {
        "bnlj": "crossJoins of the 1-row max-abs normalizer per power step "
        "(broadcast-the-model pattern)"
    },
    "ts_kaplan_meier": {
        "bnlj": "crossJoin of the 1-row study-end (MAX ts) aggregate "
        "(censoring cutoff broadcast)"
    },
    "ml_decision_stump": {
        "bnlj": "crossJoin of the 1-row global (n, pos) total aggregate "
        "(Gini normalizer)"
    },
    "lm_kneser_ney_bigram": {
        "bnlj": "crossJoin of the 1-row bigram-type-count aggregate (the "
        "Kneser-Ney continuation denominator)"
    },
    "ml_logreg_gd": {
        "bnlj": "crossJoins of the 1-row weight vector / gradient / metric "
        "aggregates (one per unrolled GD step — the broadcast-the-model "
        "pattern)"
    },
    "ts_autocorrelation": {
        "bnlj": "crossJoin of the constant 3-row lag table (fan-out by design)"
    },
    "diag_chi2_independence": {
        "bnlj": "crossJoin of the single-row grand-total aggregate"
    },
    "diag_cramers_v": {
        "bnlj": "crossJoins of the single-row grand-total / dimension / "
        "chi2 aggregates (the diag_chi2_independence pattern)"
    },
    "dedup_ngram_jaccard": {
        "cartesian": "bounded all-pairs verification (doc_id < 60 by contract)",
        "bnlj": "bounded all-pairs verification (doc_id < 60 by contract)",
        "hof-in-filter": "size(g)>0 over the bounded ≤60-doc subset",
    },
    "knn_cosine_brute": {"bnlj": "query set is the broadcast side (10 rows)"},
    "knn_matryoshka_recall": {
        "bnlj": "two cosine_topk passes (full + truncated dims): the "
        "broadcast side is the 10-row query set both times"
    },
    "assoc_rules_copurchase": {
        "bnlj": "the 1-row basket-count aggregate is the broadcast side"
    },
    "assoc_rules_triples": {
        "bnlj": "the 1-row basket-count aggregate is the broadcast side "
        "(shared with assoc_rules_copurchase)"
    },
    "rfm_quintile_segments": {
        "bnlj": "crossJoin of the 1-row global max-order-date aggregate "
        "(the recency anchor broadcast)"
    },
    "pmi_collocations": {
        "bnlj": "the two 1-row corpus totals (n_tokens, n_bigrams) are "
        "the broadcast sides"
    },
    "knn_cosine_ivf": {"bnlj": "centroid set is the broadcast side (8 rows)"},
    "knn_ivf_kmeans": {
        "bnlj": "centroid set is the broadcast side (8 rows, incl. the "
        "per-Lloyd-iteration assignment crossJoins — k is fixed and tiny)"
    },
    "knn_recall_eval": {
        "bnlj": "composes knn_cosine_brute + knn_cosine_ivf: broadcast "
        "sides are the 10-row query set / 8-row centroid set"
    },
    "setops_customer_cohorts": {
        "bnlj": "crossJoin of three single-row aggregate results"
    },
    "text_tfidf_top_terms": {
        "bnlj": "crossJoin of the single-row corpus-size aggregate (N for IDF)"
    },
    "text_unigram_logprob": {
        "bnlj": "crossJoin of the single-row total-token-count aggregate"
    },
    "corpus_mixture_weights": {
        "bnlj": "crossJoin of the single-row corpus-total aggregate"
    },
    "anomaly_hourly_error_spikes": {
        "bnlj": "crossJoin of the single-row median/MAD threshold aggregate"
    },
    "bm25_search": {
        "bnlj": "crossJoin of the single-row avgdl/N corpus-stats aggregate"
    },
    "semdedup_prune": {
        "bnlj": "centroid set is the broadcast side (~sqrt(n) rows, corpus-derived)"
    },
    "mine_hard_negatives": {
        "bnlj": "centroid set is the broadcast side (~sqrt(n) rows — the "
        "semdedup_prune assignment layout)"
    },
    "graph_pagerank_parts": {
        "bnlj": "crossJoin of the single-row node-count aggregate (per iteration)"
    },
    "graph_ppr_seed": {
        "bnlj": "crossJoin of the single-row seed-count aggregate (per "
        "iteration — the graph_pagerank_parts pattern with |S| for n)"
    },
    "corpus_importance_resample": {
        "bnlj": "crossJoin of the single-row corpus-total/source-count aggregate"
    },
    "bpe_encode_corpus": {
        "bnlj": "crossJoin of the 1-row winning-pair argmax (per merge step)"
    },
    "heavy_hitters_tokens": {
        "bnlj": "crossJoin of the single-row total-count aggregate (exact threshold)"
    },
    "bpe_merge_steps": {
        "bnlj": "crossJoin of the 1-row winning-pair argmax (per merge step)"
    },
    "q11_important_parts": {
        "bnlj": "crossJoin of the single-row grand-total threshold aggregate"
    },
    "diag_key_skew": {
        "bnlj": "crossJoin of the single-row global count stats (base/hot)"
    },
    "diag_psi_value_drift": {
        "bnlj": "crossJoin of the 10-row literal bin grid (spark.range(10))"
    },
    "knn_ivfpq_adc": {
        "bnlj": "broadcast sides are the trained coarse-centroid set "
        "(8 rows) and the 16-row PQ codebook — the IVF route + ADC "
        "scoring pattern shared with knn_ivf_kmeans / knn_pq_adc"
    },
    "scan_zonemap_audit": {
        "bnlj": "crossJoin of the 1-row global min/max bounds aggregate "
        "(the zone-map probe predicate broadcast)"
    },
    "er_blocking_quality": {
        "bnlj": "ground-truth all-pairs join over DISTINCT p_name, capped "
        "by explicit ORDER BY/LIMIT 256 contract (~32k pairs max; 64 "
        "names in this generator) — the bounded-verification pattern of "
        "dedup_ngram_jaccard"
    },
    "search_rrf_fusion": {
        "bnlj": "crossJoin of the 1-row corpus-stats (N, avgdl) aggregate "
        "feeding both the BM25 and query-likelihood rankers"
    },
    "ts_cross_correlation": {
        "bnlj": "crossJoin of the constant 4-row lag table (lags 0-3 "
        "fan-out by design, the ts_autocorrelation pattern)"
    },
    "diag_mann_whitney_value": {
        "bnlj": "crossJoin of the 1-row global rank-stats aggregate "
        "(one-vs-rest U normalizer)"
    },
    "trace_tree_edges": {
        "hof-in-filter": "inferred isnotnull join constraints re-inline the "
        "b3 header parse (a few string ops per row); constraint inference "
        "is otherwise load-bearing for join pruning"
    },
    # ------- round-9 crop: every BNLJ below is a crossJoin whose broadcast
    # side is a CONSTANT-SIZE frame (1-row totals/moments, <=4-row
    # threshold grids, per-bucket offset tables bounded by the bucket
    # count) — the broadcast-the-model pattern, never a data-scale loop ----
    "ml_class_prf1_report": {
        "bnlj": "crossJoins of the 1-row kNN/NB confusion totals feeding "
        "the macro/micro rollups"
    },
    "er_soundex_blocking": {
        "bnlj": "crossJoin of the 1-row all-pairs/total aggregates (the "
        "er_blocking_quality reduction-ratio pattern)"
    },
    "ml_decile_lift": {
        "bnlj": "crossJoins of the 1-row GD weight vector (shared _lr_fit "
        "broadcast-the-model), the 1-row decile totals, and the "
        "bucket-count-bounded prefix-offset table from global_ntile"
    },
    "diag_lorenz_curve": {
        "bnlj": "crossJoins of the 1-row decile-totals aggregate and the "
        "bucket-count-bounded prefix-offset table from global_ntile"
    },
    "ts_logrank_test": {
        "bnlj": "crossJoins of the 1-row study-end (MAX ts) censoring "
        "cutoff and the 1-row statistic/arm-size aggregates"
    },
    "corpus_token_budget_fill": {
        "bnlj": "crossJoins of the 1-row corpus-token-total (the budget) "
        "and the bucket-count-bounded prefix-offset table from "
        "global_running_sum"
    },
    "diag_jackknife_variance": {
        "bnlj": "crossJoins of the 1-row grand-total and replicate-moment "
        "aggregates (G-scale arithmetic, never a second data pass)"
    },
    "privacy_t_closeness": {
        "bnlj": "crossJoin of the 1-row population band histogram (6 "
        "conditional sums) against the QI-class table"
    },
    "diag_ks_exact_value": {
        "bnlj": "crossJoins of the 1-row n1/n2 totals and the 1-row "
        "max-gap aggregate"
    },
    "graph_rich_club": {
        "bnlj": "crossJoin of the two 1-row conditional-sum frames (N_k "
        "and E_k grids folded into single aggregates + stack)"
    },
    "text_term_burstiness": {
        "bnlj": "crossJoin of the 1-row document-count aggregate (the "
        "zero-cell fold-in denominator)"
    },
    "diag_mahalanobis_outliers": {
        "bnlj": "crossJoin of the 1-row moment aggregate broadcast onto "
        "the row scan (centroid + covariance as the model)"
    },
    "ts_pacf": {
        "bnlj": "crossJoin of the 3-row lag grid (the ts_autocorrelation "
        "pattern) feeding the calendar-lag self-join"
    },
    # ---- round-10 crop: same constant-size broadcast contract ----
    "ab_benjamini_hochberg": {
        "bnlj": "crossJoins of the 1-row midpoint (shared _ab_user_frame "
        "anchor) and the 1-row kmax aggregate over the <=5-row metric "
        "family"
    },
    "cluster_dbscan_grid": {
        "bnlj": "crossJoins of the 1-row cell-total aggregate (the "
        "density rule) and the 8-row literal neighbor-offset table"
    },
    "er_fellegi_sunter": {
        "bnlj": "the bounded 256-name all-pairs inequality join (the "
        "er_soundex_blocking audit contract: pairs are LIMIT-bounded, "
        "never corpus-scale)"
    },
    "ml_learning_curve": {
        "bnlj": "tier<=frac joins against the 4-row fraction dimension "
        "(nested-subset rollup) — the broadcast side is a literal grid"
    },
    "ml_tree_depth2": {
        "bnlj": "crossJoins of the 1-row label totals and the 1-row best "
        "root split (broadcast-the-model at each tree level)"
    },
    "ml_ridge_kfold_cv": {
        "bnlj": "crossJoin of the 1-row total-moment aggregate against "
        "the fold-count-scale frame (train = total minus fold)"
    },
    # NOTE: knn_cosine_numpy / multimodal_features use Arrow-batched
    # mapInPandas, which shows as MapInPandas (not BatchEvalPython) and is
    # not a smell.
}


def audit_plan(stats: dict) -> list[tuple[str, str]]:
    """The smells of one plan, as predicates on its ``plan_stats``."""
    nodes = stats["nodes"]
    checks = [
        ("cartesian", nodes["CartesianProduct"], "CartesianProduct node present"),
        ("bnlj", nodes["BroadcastNestedLoopJoin"], "BroadcastNestedLoopJoin present"),
        ("python-row-udf", nodes["BatchEvalPython"], "row-at-a-time Python UDF in plan"),
        (
            "hof-in-filter",
            stats["hof_filters"],
            "higher-order function inside a Filter condition — usually a "
            "pushed-down predicate that re-inlined an expensive derived "
            "expression below the scan/repartition",
        ),
        ("shuffle-count", nodes["Exchange"] > 8, f"{nodes['Exchange']} Exchange nodes"),
    ]
    return [(kind, detail) for kind, hit, detail in checks if hit]


def main(argv: list[str]) -> int:
    from logflow.session import get_spark

    sf_dir, queries = parse_args(argv)
    spark = get_spark(app_name="logflow-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    def audit(name, q) -> bool:
        """Print the query's report; whether it has a non-whitelisted smell."""
        stats = plan_stats(plan(q.fn(spark, sf_dir)))
        allowed = WHITELIST.get(name, {})
        flagged = []
        for kind, detail in audit_plan(stats):
            if kind in allowed:
                continue
            if kind == "shuffle-count":
                print(f"INFO {name}: {detail}")
                continue
            flagged.append((kind, detail))
        for kind, detail in flagged:
            print(f"SMELL {name}: [{kind}] {detail}")
        if not flagged:
            exchanges, pushed = stats["nodes"]["Exchange"], len(stats["pushed_scans"])
            print(f"OK   {name}: exchanges={exchanges} scans_with_pushdown={pushed}")
        return bool(flagged)

    errors: dict[str, str] = {}
    smelly = any(run_each(spark, queries, audit, errors, "explain_audit").values())
    failed = exit_status(errors)
    return 1 if smelly else failed


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
