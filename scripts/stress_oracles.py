"""Flakiness stress for the float-heavy oracles: run each query 3x in
one session and require a SINGLE (spark_hash, duck_hash, match=True)
outcome — catches fold-order / lattice-rounding nondeterminism (the
class that made the first PCA draft ~2/3 flaky) before the driver's
sampled gate can trip on it. Usage: python scripts/stress_oracles.py
[sf_dir]."""
import os
import sys
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)
import __spark_entry__ as mod
import duckdb
from check_oracles import value_hash, TABLES
from raptor_service_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")

NAMES = [
    "ppcc_expon", "ppcc_weibull", "spearman_corr", "rfm_segments",
    "conversion_lag_quantiles", "zipf_slope", "source_delta",  # round-5 two-phase rewrites
    "kmeans_geo", "cell_pagerank", "cell_sssp", "gravity_fit",
    "theil_sen_cells", "mmr_retrieval", "dtw_pairs", "huff_demand",
    "spacetime_scan", "idw_interpolation", "morans_i", "getis_hotspots",
    "gearys_c", "hourly_acf", "ivf_knn_ann", "pca_top_component",
    "interarrival_fit", "doc_bigram_ppl", "bpe_merges", "cell_gini",
    "user_burstiness", "deviational_ellipse", "cross_k", "knox_test",
    "viterbi_match", "dsir_weights", "local_moran", "ripley_k",
    "emerging_hotspots", "colocation_quotient", "g_function", "quadrat_csr",
    "colbert_maxsim", "contact_reach", "cotravel_pairs", "doc_dup_substrings",
    "semivariogram", "variogram_fit", "od_ipf_balance", "kmv_distinct",
    "histogram_quantiles", "kmv_set_ops", "matryoshka_recall",
    "psi_drift", "ks_two_sample", "binary_quant_recall",
    "fdr_hotspots", "radiation_model", "ewma_anomaly", "prf_expansion",
    "rbo_rankings", "kaplan_meier", "did_estimator",
    "dp_cell_counts", "crosstrack_deviation",
    # round-3 session-9 float-heavy additions
    "hits_scores", "rocchio_feedback", "jsd_sources", "kn_bigram_lm",
    "hll_distinct", "textrank_keywords", "ppr_scores", "nb_langid",
    "silhouette_kmeans", "logreg_train", "moran_correlogram",
    "monge_elkan_pairs", "markov_attribution", "semivariogram_dir",
    "cell_xcorr", "jl_projection_audit", "spherical_centroid",
    "mobility_entropy_rate", "term_burstiness", "segregation_indices",
    "stl_lite", "changepoint_detect", "ransac_fit", "next_cell_eval",
    # round-3 session-10 float-heavy additions
    "rayleigh_bearing", "bootstrap_ci", "pr_curve_11pt", "kalman_tracks",
    "holt_trend_cells", "semdedup_clusters", "plsa_topics",
    "betweenness_cells", "hard_negatives", "clarity_score", "rouge_pairs",
    "wilson_ctr", "sprt_monitor", "good_turing", "chao1_richness",
    "ppr_sweep_cut", "rich_club", "randomized_response", "bivariate_moran",
    # round-3 session-11 float-heavy additions
    "kriging_ordinary", "texttiling_boundaries", "traj_sinuosity",
    "lee_l", "theil_decomposition", "jump_length_fit", "dbsf_fusion",
    "idw_loocv", "ot_transport_plan",
    # round-3 session-12/13 float-heavy additions
    "ridge_regression", "llr_bigrams", "nearest_centroid_eval",
    "katz_centrality", "jw_title_pairs", "simrank_pairs", "gesd_outliers",
    "cochran_armitage", "poisson_irls", "st_dbscan", "james_stein",
    "atkinson_index", "bradley_terry", "median_polish", "curve_locality_audit", "cox_ph", "markov_surprise",
    "rbp_eval", "logrank_test", "effective_mesh", "harmonic_centrality",
    "hill_diversity", "adjusted_rand", "croston_cells", "capture_recapture",
    "huber_irls", "general_g", "domain_shift_ppl",
    "propensity_ate", "design_effect", "gpd_tail", "pair_correlation",
    "bm25f_topk", "trimmed_means", "nelson_aalen", "power_analysis",
    "ucb_replay", "shape_compactness", "allan_variance",
    "regression_influence", "block_entropy", "fano_factor",
    "kendall_tau", "competing_risks", "cross_variogram", "skew_report",
    "leaderboard_churn", "week_overlap", "friendship_paradox",
    "emd_values", "conversion_lag_quantiles", "flow_asymmetry",
    "runs_test", "goertzel_power",
    # round-4 session-15: codegen-fix reworks + the new multi-model family
    "pq_knn", "stkde_hotspots", "multi_model_dims",
    "gopher_quality", "c4_filter", "curation_pipeline_v2",
]
qs, os_ = mod.queries(), mod.oracle_sql()
if len(sys.argv) > 2:  # optional: restrict to named queries
    NAMES = sys.argv[2:]
bad = 0
for name in NAMES:
    hs = set()
    for r in range(3):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
        sdf = qs[name](spark, SF)
        srows = sdf.collect()
        sh = value_hash(srows, sdf.columns)
        dres = con.execute(os_[name])
        dh = value_hash(dres.fetchall(), [d[0] for d in dres.description])
        hs.add((sh, dh, sh == dh))
        con.close()
    ok = all(m for _, _, m in hs) and len({a for a, _, _ in hs}) == 1 and len({b for _, b, _ in hs}) == 1
    print(f"{name:28s} {'STABLE' if ok else 'FLAKY/FAIL ' + str(hs)}")
    bad += 0 if ok else 1
print("BAD:", bad)
