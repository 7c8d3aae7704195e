"""Physical-plan audit for every suite query -> PLANS.md.

The detection core lives in the PACKAGE as `datafusion_functions_extra_spark.planlint` (the user-facing `plan_lint` API); this tool drives it over the suite and applies the bounded-case annotation tables below.

For each `queries()` entry, inspects the AQE executed plan and records the
scale-relevant facts: exchange (shuffle) count, join strategies, whether
parquet scans prune columns (ReadSchema), whole-stage-codegen coverage,
cache usage, and any Python-on-executor operators (expected ONLY for the
mapInPandas decode query and the Structured Streaming drain).

r05 additions (VERDICT r04 "plan-audit blind spots"): BroadcastNestedLoopJoin
gets its OWN column (it was folded into the bcast count, which hid the
rolling-WAU theta join), and single-partition WindowExec (a window with no
partition spec — Spark moves the whole relation to ONE task) is detected and
flagged.  Both conditions ⚠-flag the query unless it carries an explicit
BOUNDED annotation below: a 1-row scalar join-back (stats broadcast) plans
as BNLJ but cannot blow up, and a rank window over a sort+limit head or a
<=256-row bucket relation is bounded by construction.  The annotation table
IS the contract — a new query that introduces either operator without a
documented bound fails the audit.

Usage: python tools/audit_plans.py [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import sys

_SCALAR = (
    "build side is a 1-row scalar aggregate (corpus stats join-back) — "
    "a single broadcast row, cannot grow with data"
)
_QUERYSET = (
    "build side is the broadcast QUERY/probe set (non-equi self-exclusion "
    "or label predicate) — bounded by the query-set size, not the corpus"
)
_SEEDS = (
    "plus k-row centroid crossJoin(broadcast) per Lloyd assign step — "
    "build side is the k-centroid relation"
)
_GRID = (
    "build side is the 10-row doc-id checkpoint grid (theta probe against "
    "a constant-size grid)"
)

#: queries allowed to contain BroadcastNestedLoopJoin, with the bound that
#: makes it safe: every entry is a scalar/constant-size build side (1-row
#: aggregate join-back, a broadcast query set, or a constant grid), never
#: a data-sized relation.
#: queries whose executed plan carries Python-on-executor operators BY
#: DESIGN — each an Arrow-batched worker that is either the decode
#: plumbing itself or an r10 NumPy worker pytest-pinned bit-identical to
#: an independent reference: DuckDB replaying the oracle fragments
#: (tests/test_r10_arrow_np.py) or the Spark window plan over the
#: scored relation (tests/test_r10_knn_scorer.py).  Python anywhere else still flags.
PY_OK = {
    "multimodal_decode_meta",   # Arrow decode plumbing — Python IS the op
    "multimodal_frame_samples", # same (frame sampling + md5)
    "audio_fingerprint_pairs",  # audio_np WAV round trip (2 scorers)
    "audio_wav_stats",          # audio_np WAV round trip
    "audio_silence_segments",   # audio_np WAV round trip
    "audio_spectral_centroid",  # audio_np twiddle sums (checkpointed leaf)
    "multimodal_cdc_chunks",    # cdc_chunks_np byte chunker
    "multimodal_cdc_incremental",  # same, behind an eager checkpoint
    "multimodal_payload_entropy",  # byte_histogram_np (np.bincount)
    "embedding_knn_label_eval",    # kNN Arrow block scorer (r10 §7)
    "embedding_knn_outliers",      # same
    "embedding_label_noise_screen",  # same (lazy persist: plan shows k nodes, executes once)
    "embedding_knn_link_prediction",  # same
    "embedding_label_propagation",    # same
    "embedding_knn_shapley",          # same (checkpointed half relation)
    "embedding_knn_shapley_ann",      # same
}

BNLJ_BOUNDED: dict[str, str] = {
    "embedding_knn_shapley_ann": (
        "build sides are the 1-row summary relations (coverage counts, "
        "Spearman power sums, top-50 overlap count, corpus totals) "
        "joined into the single output row, plus the 1-row n_train "
        "scalar for the top-D denominators — never data-sized (the "
        "candidate and exact scoring joins are bucket/broadcast "
        "equi-joins)"
    ),
    "embedding_semantic_decontam": (
        "build sides are the fixed 3-row threshold grid and the two "
        "1-row count summaries joined into the 3-row sweep — never "
        "data-sized (the candidate join is a bucket equi-join with a "
        "broadcast bench probe side)"
    ),
    "embedding_facility_location_greedy": (
        "build sides are the per-round 1-row argmax pick and 1-row "
        "objective/coverage stats plus the final 1-row corpus count — "
        "all single broadcast rows, 5 fixed rounds (the edge build is a "
        "576-row broadcast probe side bucket equi-join)"
    ),
    "near_dup_bcubed_eval": (
        "build sides are the 1-row BCubed term aggregate and the 1-row "
        "pred/true cluster-count relations joined into the single output "
        "row — never data-sized (the contingency relation itself joins "
        "hash-equi on pred/true keys)"
    ),
    "minhash_oph_densified": (
        "build sides are the fixed 32-row densification position grid "
        "(2x OPH bins, a constant) and the 1-row empty-bin summary — the "
        "corpus-sized signature/shingle relations all join hash-equi on id"
    ),
    "supplier_coverage_greedy": (
        "build sides are the per-round 1-row argmax pick, 1-row "
        "cumulative-coverage count, and the 1-row part universe — all "
        "single broadcast rows, 5 fixed rounds"
    ),
    "lineitem_twoway_fe_price": (
        "build sides are the |nations|/|years| group-mean relations and "
        "three 1-row aggregates (global moments, group counts) — "
        "domain-bounded, never fact-sized"
    ),
    "near_dup_capture_recapture": (
        "build sides are the three 1-row pair-count aggregates (n_b, "
        "n_both, n_union) joined into the single Chapman row — never "
        "data-sized"
    ),
    "docs_bloom_decontam": (
        "build sides are the three 1-row summary relations (pair counts, "
        "doc counts, bench-gram/bit sizes) joined into the single output "
        "row — never data-sized"
    ),
    "events_seq_patterns": (
        "build side is the 1-row distinct-user total for the support "
        "ratio — a single broadcast row"
    ),
    "lineitem_huber_price_model": (
        "build sides are the 1-row OLS/IRLS fit relations (b0, b1, sigma) "
        "joined back onto the base scan for each of the two fixed "
        "reweighting passes — always exactly one row per fit, never "
        "data-sized"
    ),
    "quality_platt_scaling": (
        "build sides are the 1-row Newton fit (a, b) joined back onto the "
        "score HISTOGRAM (not the corpus) for each of the three fixed "
        "steps plus the log-loss pass and the 1-row totals join-back — "
        "all single-row broadcasts"
    ),
    "events_hurst_exponent": (
        "build side is the 4-row block-size constant array (8/16/32/64) — "
        "a literal, never data-sized"
    ),
    "events_granger_lag1": (
        "build sides are the |types| domain relation (grid cross) and the "
        "1-row min/max hour bounds — both calendar/domain-bounded"
    ),
    "text_term_burstiness": _SCALAR + " (doc-count join-back)",
    "corpus_vocab_coverage": (
        "build side is the 3-row vocab-budget constant (theta <= probe "
        "against the pre-pruned top-10k rank head) plus the 1-row "
        "corpus-total join-back"
    ),
    "orders_hill_tail_index": _SCALAR + " (the 1-row x_(k+1) join-back)",
    "embedding_semantic_shards": _SCALAR + " (total-count join-back)",
    "orders_pot_gpd": _SCALAR + " (total-count row + 1-row threshold)",
    "embedding_ivf_nprobe_recall": (
        _SEEDS + "; " + _QUERYSET + " (probe fan-out multiplies only the "
        "8-row query side x the 3-row nprobe constant)"
    ),
    "orders_eb_shrunk_segment_means": (
        _SCALAR + " (precision-weighted grand-mean row + 1-row tau2)"
    ),
    "text_bm25_topk": _SCALAR,
    "hybrid_rrf_topk": _SCALAR + "; " + _QUERYSET,
    "corpus_heaps_curve": _GRID,
    "embedding_ann_recall": _SCALAR + "; " + _QUERYSET,
    "near_dup_triangles": _SCALAR,
    "parts_pareto_frontier": _SCALAR + " (pmin/pmax + 256-bucket prune table)",
    "near_dup_threshold_curve": _SCALAR,
    "brand_basket_lift": _SCALAR,
    "lang_id_kappa": _SCALAR,
    "text_tfidf_top_terms": _SCALAR,
    "docs_temperature_mixture": _SCALAR,
    "corpus_token_budget": _SCALAR,
    "embedding_kmeans_clusters": _SEEDS,
    "text_unigram_logprob": _SCALAR,
    "docs_learnability_selection": _SCALAR,  # the two LM corpus-total join-backs
    "corpus_doremi_weights": _SCALAR + " (unigram corpus-total join-back)",
    "embedding_ivf_balance": _SEEDS + " (the ivf_assign centroid cross)",
    "docs_padding_efficiency": _SCALAR + " (corpus row-count for bucket ids)",
    "embedding_prototype_confusion": _SCALAR,
    "text_pmi_collocations": _SCALAR,
    "source_lang_kl_drift": _SCALAR,
    "text_bigram_logprob": _SCALAR,
    "embedding_semdedup": _SCALAR + "; " + _SEEDS,
    "docs_dsir_importance": _SCALAR,
    "embedding_hard_negatives": _QUERYSET,
    "events_join_size_estimate": _SCALAR,
    "embedding_cosine_topk": _QUERYSET,
    "embedding_ivf_topk": _SCALAR + "; " + _QUERYSET,
    "events_funnel_conversion": _SCALAR,
    "customer_balance_deciles": _SCALAR + " (percentile cutoffs)",
    "embedding_matryoshka_topk": _QUERYSET,
    "rich_customers_without_orders": _SCALAR,
    "source_length_psi": _SCALAR,
    "corpus_curriculum_phases": _SCALAR + " (decile cutoffs + token totals)",
    "near_dup_pagerank": _SCALAR + " (node count N, once per unrolled round)",
    "brand_value_share_q11": _SCALAR + " (global total for the 2% threshold)",
    "sessions_incident_overlap": _SCALAR + " (mean error-bucket threshold)",
    "docs_perplexity_prune": _SCALAR + " (p25/p75 cutoffs + unigram total)",
    "corpus_unimax_allocation": _SCALAR + " (budget row + (k, committed) row)",
    "embedding_pq_topk": _SEEDS + " (x4 subspaces)",
    "corpus_bpe_merges": _SCALAR + " (the 1-row argmax merge, once per round)",
    "embedding_rp_distortion": _QUERYSET + " (30-vector sample pair set)",
    "orders_benford_digits": _SCALAR + " (digit-histogram total)",
    "quality_neardup_auc": _SCALAR + " (P/Q totals x rank-sum row)",
    "lang_source_chi2": (
        "build sides are the language and source DOMAIN marginals plus the "
        "1-row total — bounded by |langs| x |sources| at any corpus size"
    ),
    "event_type_welch_t": (
        "theta pair-grid over the per-TYPE moment aggregate — bounded by "
        "|event types|^2, never data-sized"
    ),
    "hll_set_ops": _SCALAR + " (register pivot x exact-intersection row)",
    "embedding_alignment_uniformity": (
        _SCALAR + " (1-row alignment x 1-row uniformity aggregate)"
    ),
    "orders_bootstrap_ci": _SCALAR + " (64-replica cutoff row x base stats row)",
    "users_rfm_segments": _SCALAR + " (dmax row + 9-cutoff row join-backs)",
    "embedding_kmeans_silhouette": _SEEDS + " (+ k-centroid scoring cross)",
    "referential_integrity_audit": _SCALAR + " (per-edge orphan-count row)",
    "customer_revenue_concentration": (
        _SCALAR + " (totals row x S_r row x bottom-rev row x k80 row)"
    ),
    "lang_id_mcnemar": _SCALAR + " (1-row modal-language baseline)",
    "embedding_knn_label_eval": (
        "EVAL harness by design: all-pairs exact kNN ground truth over "
        "the broadcast EVAL corpus (half-pair `>` self-exclusion is the "
        "non-equi condition) — documented eval-on-sample at scale "
        "(SURVEY §9.5), with the ANN probe family as the production path"
    ),
    "embedding_knn_outliers": (
        "same _knn_scored_sym eval harness as embedding_knn_label_eval "
        "(all-pairs exact ground truth, eval-on-sample at scale)"
    ),
    "embedding_knn_link_prediction": (
        "same _knn_scored_sym eval harness as embedding_knn_label_eval "
        "for the kNN(3) edge list (all-pairs exact ground truth; at "
        "100 TB the edges come from the ANN probe family instead)"
    ),
    "segment_woe_iv": _SCALAR + " (1-row good/bad totals join-back)",
    "text_rocchio_expansion": _SCALAR
    + " (the BM25 1-row (N, avgdl) stats join-back, x2 retrieval passes)",
    "embedding_label_propagation": (
        "same _knn_scored_sym eval harness as embedding_knn_label_eval "
        "for the kNN(3) edge list (all-pairs exact ground truth; at "
        "100 TB the edges come from the ANN probe family instead)"
    ),
    "embedding_graph_assortativity": (
        "same _knn_scored_sym eval harness as embedding_knn_label_eval "
        "for the kNN(3) edge list (all-pairs exact ground truth; at "
        "100 TB the edges come from the ANN probe family instead)"
    ),
    "embedding_label_noise_screen": (
        "same _knn_scored_sym eval harness as embedding_knn_label_eval "
        "(all-pairs exact ground truth, eval-on-sample at scale)"
    ),
    "brand_price_indices": _SCALAR + " (1-row base-month lookup)",
    "brand_price_volume_bridge": _SCALAR + " (1-row span lookup, x2 slices)",
    "spatial_hotspots_gistar": _SCALAR + " (1-row grid-moment join-back)",
    "events_burst_intervals": _SCALAR
    + " (1-row calendar-span lookup for the dense day grid)",
    "spatial_kdist_curve": _SCALAR
    + " (1-row censoring counts + 11-row decile grid join-backs)",
    "source_burrows_delta": _SCALAR
    + " (1-row source-count k join-back; panel head is TakeOrdered)",
    "docs_modality_agreement": _QUERYSET
    + " (32-doc md5 panel crossJoin — fixed-size at any corpus scale)",
    "text_kneser_ney_logprob": _SCALAR + " (1-row ntypes join-back)",
    "events_uplift_qini": _SCALAR + " (decile-cutoff broadcast)",
    "brand_abc_xyz": _SCALAR + " (1-row revenue total join-back)",
    "corpus_learning_curve": (
        "build sides are the 4-row level grid and |levels|-row stats "
        "relation — bounded by the ladder, never data-sized"
    ),
    "corpus_scaling_law_fit": (
        "build sides are the learning curve's 4-row level grid / "
        "|levels|-row stats relations plus the final 1-row pivoted fit — "
        "ladder-bounded, never data-sized"
    ),
    "docs_quality_logreg_gd": (
        "build sides are the 1-row feature-moment stats relation and the "
        "per-GD-step 1-row weight relation joined back onto the "
        "checkpointed feature relation — always exactly one row per "
        "step, never data-sized"
    ),
    "near_dup_spectral_bipartition": (
        "build sides are the per-round 1-row deflation-dot and norm "
        "relations, the 1-row 2m total, and the final 1-row "
        "cut/volume/Rayleigh summaries — always single broadcast rows; "
        "the propagation join is node-keyed hash-equi (adj x vector), "
        "edges from the banded LSH equi-join"
    ),
    "dedup_shard_locality_loss": (
        "build sides are the 1-row pair/doc-count aggregates and the two "
        "1-row max-shard-size relations unioned into the 2-row verdict — "
        "never data-sized (pairs come from the banded equi-join; shard "
        "lookups join hash-equi on id)"
    ),
    "docs_k_anon_ladder": _SCALAR + " (4-row level grid explode)",
    "events_dau_mau_stickiness": (
        "build side is the observed-day grid (calendar-bounded)"
    ),
    "customer_segment_migration": _SCALAR
    + " (1-row median-date + 2-row tercile cutoffs + 1-row total)",
    "corpus_dedup_cascade": _SEEDS
    + " (semdedup's Lloyd assign steps) plus the 1-row stage rollup",
    "events_neyman_allocation": _SCALAR + " (1-row total-weight join-back)",
    "customer_theil_by_nation": _SCALAR + " (1-row corpus-totals join-back)",
    "users_growth_accounting": _SCALAR + " (1-row max-week join-back)",
    "lineitem_simpson_slopes": _SCALAR + " (1-row pooled-moments join-back)",
    "orders_interarrival_cadence": _SCALAR + " (1-row gap-totals join-back)",
    "docs_t_closeness": _SCALAR + " (1-row corpus-count join-back)",
    "lineitem_ks_returned_price": _SCALAR + " (totals row x sup-stat row)",
    "text_textrank_keywords": (
        _SCALAR + " (1-row node-count join-back, once per PR round)"
    ),
    "events_type_entropy_rate": (
        _SCALAR + " (transition-total row x marginal row join-backs)"
    ),
    "event_type_welch_bh_fdr": (
        "theta pair-grid over the per-TYPE moment aggregate (|types|^2) "
        "plus the 1-row BH k* join-back"
    ),
    "events_cuped_adjustment": _SCALAR + " (1-row midpoint-day join-back)",
    "events_error_rate_ztest": _SCALAR + " (1-row midpoint-day join-back)",
    "orders_runs_test": _SCALAR + " (median row x totals row join-backs)",
    "events_markov_stationary": (
        _SCALAR + " (1-row transition-total join-back; the matrix row is "
        "|types|^2 nested arrays)"
    ),
    "events_absorbing_steps": (
        "|types|^2 transient-grid crossJoin(broadcast) — bounded by the "
        "event-type domain, never data-sized (same shape as the "
        "stationary-distribution sibling)"
    ),
    "text_ql_topk": _SCALAR + " (1-row corpus-token-total join-back)",
    "retrieval_map_mrr": _SCALAR + " (BM25 n_docs/sum_dl corpus-stats row)",
    "events_f2_sketch": _SCALAR + " (9-row lane-median row onto the exact-F2 row)",
    "parts_linkage_weights": (
        _SCALAR + " (1-row part-count for the derangement shift + the "
        "1-row match/random agreement-sum join)"
    ),
    "events_markov_attribution": (
        "1-row p_full and share-total join-backs onto the checkpointed "
        "|types|+1-row variant relation — all build sides bounded by the "
        "event-type domain"
    ),
    "text_trigram_logprob": _SCALAR + " (1-row train-token-total join-back)",
    "events_shapley_attribution": (
        "1-row credit-total join-back onto the checkpointed "
        "2^|channels|-row subset relation — bounded by the channel domain"
    ),
    "retrieval_rbo_bm25_ql": (
        _SCALAR + " (BM25 n_docs/sum_dl row + QL corpus-token-total row, "
        "one per retrieval head)"
    ),
    "events_littles_law": _SCALAR + " (1-row span join-back)",
    "quality_isotonic_calibration": (
        "minimax interval joins over the <=10-row decile-bin relation "
        "(O(bins^3) on a bounded build side, never data-sized)"
    ),
    "token_heavy_hitters_merged": _SCALAR + " (1-row residual-total crossJoin)",
    "event_value_kruskal_wallis": _SCALAR + " (1-row tie-total join-back)",
    "event_value_cliffs_delta": (
        "the |event-type|-row domain grid cross join (5-row broadcast "
        "side, bounded by the type domain at any data volume)"
    ),
    "events_seasonal_decomposition": (
        _SCALAR + " (1-row pivoted seasonal-center join-back onto the "
        "7-row dow relation)"
    ),
    "source_quality_ks_drift": (
        "source-domain x distinct-6dp-score grid fan-out (|sources| "
        "broadcast rows, <= 1e6 distinct scores) plus 1-row corpus-total "
        "join-backs — bounded by the score domain, never data-sized"
    ),
    "events_type_value_mi": (
        _SCALAR + " (1-row n join-backs onto the |types| x 16-bin "
        "contingency relation and its two marginals)"
    ),
    "quality_quantile_norm_map": (
        "1-row pooled-total and 9-row decile-grid broadcast fan-outs "
        "onto domain-bounded histogram relations"
    ),
    "lineitem_kendall_tau": (
        "dense |quantity| x |discount-cent| domain-grid crossJoin "
        "(51 x 11 cells max) plus 1-row tie/total-stat join-backs — "
        "bounded by the value domains, never data-sized"
    ),
    "source_ks_fdr": (
        "inherited from the inlined KS screen: source-domain x "
        "distinct-6dp-score grid fan-out plus 1-row corpus-total "
        "join-backs (see source_quality_ks_drift)"
    ),
    "embedding_ann_ndcg": _QUERYSET,
    "docs_dp_noisy_counts": (
        "3-row epsilon-grid crossJoin(broadcast) onto the |sources|-row "
        "count relation — bounded by the epsilon grid"
    ),
    "segment_target_encoding": (
        _SCALAR + " (1-row grand-total join-back onto the |segments| x "
        "5-fold cell relation)"
    ),
    "source_quality_psi": (
        "pooled-decile-cutoff (9-row) and bin-grid (10-row) broadcast "
        "fan-outs onto the bounded (source x distinct-6dp-score) "
        "histogram, plus 1-row corpus-total join-backs — all domain-"
        "bounded, never data-sized"
    ),
    "quality_brier_ece": (
        _SCALAR + " (1-row train-prior and ECE-total join-backs onto "
        "the <= 11-bin prediction-cell relation)"
    ),
    "event_type_value_jsd": (
        "16-row fixed-bin-grid broadcast fan-out onto the |types|-row "
        "marginal relation, plus the histogram-sized pair join"
    ),
    "source_score_wasserstein": (
        "source-domain x distinct-6dp-score grid fan-out (|sources| "
        "broadcast rows) — bounded by the score domain, never data-sized"
    ),
    "users_logrank_test": (
        _SCALAR + " (1-row dmax / group-total join-backs onto the "
        "calendar-bounded duration histogram)"
    ),
    "events_cuped_adjustment": (
        _SCALAR + " (1-row calendar-midpoint join-back before the "
        "per-user aggregate)"
    ),
    "docs_ht_estimate": (
        _SCALAR + " (1-row true-total join-back onto the 1-row "
        "HT-estimate aggregate)"
    ),
    "event_type_dtw_distance": (
        _SCALAR + " (1-row calendar-span join-back) plus the "
        "|types|-row curve crossJoin(broadcast) — both bounded by the "
        "type/calendar domains"
    ),
    "events_pass_at_k": (
        "3-row k-grid crossJoin(broadcast) onto the per-user attempt "
        "relation — bounded by the k grid"
    ),
}

#: queries allowed to contain an unpartitioned WindowExec, with the bound:
#: the window input is a sort+limit head (top-k), a fixed bucket/seed/
#: partition-count relation, or a calendar-sized rollup — never an
#: unbounded data relation.
UNPART_WINDOW_BOUNDED: dict[str, str] = {
    "embedding_knn_shapley_ann": (
        "two-phase global_cumsum offset windows (<= #partitions rows) "
        "over the two per-value midrank histograms of the Spearman leg; "
        "all Shapley windows are partitioned per test point"
    ),
    "customers_bass_diffusion_fit": (
        "cumulative-adopter window runs over the MONTHLY rollup "
        "(<= |months| rows however many customers), never raw orders"
    ),
    "corpus_vocab_coverage": (
        "two-phase global_rank/global_cumsum offset windows "
        "(<= #partitions rows) over the vocab histogram"
    ),
    "orders_pot_gpd": (
        "two-phase global_cumsum offset window (<= #partitions rows) "
        "over the distinct-cent-value histogram"
    ),
    "events_slo_burn_alerts": (
        "sliding burn windows over the hourly error rollup — "
        "calendar-bounded regardless of event volume"
    ),
    "lineitem_energy_distance": (
        "two-phase global_cumsum_multi offset window (<= #partitions rows) "
        "over the distinct-cent-value histogram"
    ),
    "orders_hill_tail_index": (
        "row_number over the 201-row sort+limit head — bounded at k+1"
    ),
    "orders_neyman_allocation": (
        "largest-remainder windows over the |strata|-row weight relation "
        "(5 order priorities) — domain-bounded"
    ),
    "corpus_doremi_weights": (
        "share/softmax windows over the |sources|-row loss relation — "
        "domain-bounded"
    ),
    "docs_padding_efficiency": (
        "two-phase global_rank offset window (<= #partitions rows)"
    ),
    "events_uplift_qini": (
        "cumulative Qini over the 10-row decile rollup — domain-bounded"
    ),
    "brand_abc_xyz": (
        "cumulative revenue share over the ~25-row brand DOMAIN — "
        "catalog-bounded, never data-sized"
    ),
    "spatial_kdist_curve": (
        "cumulative count over the 256-row k-distance histogram — "
        "bin-bounded (the binned-percentile device)"
    ),
    "corpus_zipf_slope": "rank over the sort+limit(1000) head — 1000 rows",
    "docs_sorted_neighborhood_pairs": (
        "two-phase global_rank offset window (<= #partitions rows)"
    ),
    "events_session_top_paths": "rank over the sort+limit(10) head — 10 rows",
    "parts_pareto_frontier": (
        "256-row bucket cum-min + final sweep over grid-prune SURVIVORS "
        "(frontier + per-bucket slop, output-sized for non-adversarial data)"
    ),
    "text_vocabulary": (
        "cumulative offsets over the <= shuffle-partition-count row-count "
        "relation (two-phase ranking)"
    ),
    "embedding_kmeans_clusters": "row_number over the k seed rows",
    "embedding_semdedup": "row_number over the k seed rows (x3 reuse)",
    "events_new_users_daily": (
        "cumulative sum over the per-DAY rollup — calendar-bounded "
        "(~365 rows/year regardless of data volume)"
    ),
    "orders_revenue_growth_mom": (
        "lag over the per-MONTH revenue rollup — calendar-bounded"
    ),
    "corpus_curriculum_phases": (
        "two-phase cumsum offset windows (<= #partitions rows) + the "
        "10-row phase rollup cumsum"
    ),
    "prefix_filter_jaccard_pairs": (
        "two-phase global_rank offset window (<= #partitions rows)"
    ),
    "ppjoin_jaccard_pairs": (
        "two-phase global_rank offset window (<= #partitions rows)"
    ),
    "layout_skipping_eval": (
        "three two-phase global_rank offset windows (<= #partitions rows "
        "each), one per evaluated layout"
    ),
    "sessions_incident_overlap": (
        "gaps-and-islands over the FLAGGED error-bucket relation — "
        "calendar-bounded (<= span/5min rows regardless of event volume)"
    ),
    "orders_active_daily": (
        "two-phase global_cumsum offset window (<= #partitions rows); "
        "the daily histogram itself is calendar-bounded"
    ),
    "docs_perplexity_prune": (
        "two-phase percentile-cutoff offset window (<= #partitions rows)"
    ),
    "corpus_unimax_allocation": (
        "water-filling order/cumsum over the LANGUAGE-domain cap relation "
        "— bounded by #languages at any corpus size"
    ),
    "embedding_pq_topk": (
        "row_number over the 8 seed rows, once per subspace (x4)"
    ),
    "quality_neardup_auc": (
        "two-phase global_cumsum offset window (<= #partitions rows)"
    ),
    "event_value_kruskal_wallis": (
        "two-phase global_cumsum offset window (<= #partitions rows) over "
        "the distinct-cent-value histogram"
    ),
    "events_seasonal_decomposition": (
        "centered 7-day moving average over the per-DAY rollup — "
        "calendar-bounded (~365 rows/year regardless of event volume)"
    ),
    "users_survival_curve": (
        "two-phase global_cumsum offset windows (<= #partitions rows); the "
        "duration histogram itself is calendar-bounded"
    ),
    "quality_quantile_norm_map": (
        "two-phase global_cumsum offset window (<= #partitions rows) over "
        "the pooled distinct-6dp-score histogram"
    ),
    "near_dup_pagerank_exact": (
        "row_number over the sort+limit(20) top-k head — 20 rows"
    ),
    "source_ks_fdr": (
        "BH rank / m-count / step-up suffix-min windows over the "
        "|sources|-row p-value relation — bounded by the source domain"
    ),
    "source_quality_psi": (
        "two-phase global_cumsum offset window (<= #partitions rows) over "
        "the pooled distinct-6dp-score histogram (decile cutoffs)"
    ),
    "source_score_wasserstein": (
        "two-phase global_cumsum offset windows (<= #partitions rows) over "
        "the bounded distinct-6dp-score relation (rank for the gap join)"
    ),
    "users_logrank_test": (
        "two-phase global_cumsum offset windows (<= #partitions rows) over "
        "the calendar-bounded duration histogram (at-risk counts)"
    ),
    "doc_term_hits": (
        "row_number over the sort+limit(10) authority head — 10 rows"
    ),
    "embedding_alignment_uniformity": (
        "two-phase global_rank offset window (<= #partitions rows)"
    ),
    "orders_bootstrap_ci": (
        "two-phase cutoff offset window over the 64-replica-mean histogram"
    ),
    "embedding_kmeans_silhouette": (
        "row_number over the k seed rows (same Lloyd trajectory as "
        "embedding_kmeans_clusters)"
    ),
    "customer_revenue_concentration": (
        "two-phase global_cumsum_multi offset window (<= #partitions rows); "
        "the Lorenz histogram is distinct-revenue-sized"
    ),
    "orders_interarrival_cadence": (
        "two-phase global_cumsum offset window (<= #partitions rows); the "
        "gap histogram is calendar-bounded"
    ),
    "lineitem_ks_returned_price": (
        "two-phase global_cumsum_multi offset window (<= #partitions rows) "
        "over the shared two-sample price histogram"
    ),
    "lineitem_spearman_rho": (
        "two two-phase global_cumsum offset windows (<= #partitions rows) "
        "over the per-variable value histograms"
    ),
    "event_type_welch_bh_fdr": (
        "BH rank/count windows over the |types|^2 pair grid — bounded by "
        "the type-domain size at any corpus size"
    ),
    "orders_runs_test": (
        "two-phase global_cumsum offset window (<= #partitions rows) plus "
        "the run-boundary lag over the per-DAY rollup — calendar-bounded"
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    sys.path.insert(0, ".")
    from datafusion_functions_extra_spark import suite
    from datafusion_functions_extra_spark.planlint import audit, executed_plan_str
    from datafusion_functions_extra_spark.sources import get_spark

    spark = get_spark("audit-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit per suite query",
        "",
        f"Generated by `tools/audit_plans.py` at sf-dir `{args.sf_dir}`.",
        "Health criteria: no CartesianProduct anywhere; SortMergeJoin only",
        "where both sides are large; Python operators only in the annotated",
        "Arrow-batched worker queries (PY_OK below — decode plumbing, the",
        "r10 NumPy byte/WAV workers and the kNN block scorer, each",
        "pytest-pinned bit-identical to an independent reference);",
        "parquet ReadSchema pruned to used columns;",
        "BroadcastNestedLoopJoin only for annotated scalar join-backs;",
        "single-partition WindowExec only over annotated BOUNDED relations",
        "(sort+limit heads, fixed bucket counts) — never an unbounded one.",
        "",
        "| query | shuffles | bcast hash | BNLJ | SMJ | cartesian | 1-part window | codegen spans | cached scans | python ops |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    schemas: list[str] = []
    notes: list[str] = []
    bad = 0
    for name, fn in suite.QUERIES.items():
        if "streaming" in name:
            # building a streaming drain RUNS it (availableNow); plan
            # shape is covered by the matching batch twin entries
            continue
        df = fn(spark, args.sf_dir)
        plan = executed_plan_str(df)
        a = audit(plan)
        flag = ""
        if a["cartesian"] or (a["python_ops"] and name not in PY_OK):
            flag = " ⚠"
        if a["bnlj"]:
            if name in BNLJ_BOUNDED:
                notes.append(f"- `{name}` BNLJ x{a['bnlj']}: {BNLJ_BOUNDED[name]}")
            else:
                flag = " ⚠"
        if a["unpart_window"]:
            if name in UNPART_WINDOW_BOUNDED:
                notes.append(
                    f"- `{name}` 1-part window x{a['unpart_window']}: "
                    f"{UNPART_WINDOW_BOUNDED[name]}"
                )
            else:
                flag = " ⚠"
        if flag:
            bad += 1
        lines.append(
            f"| {name}{flag} | {a['exchanges']} | {a['broadcast_joins']} | "
            f"{a['bnlj']} | {a['sortmerge_joins']} | {a['cartesian']} | "
            f"{a['unpart_window']} | {a['codegen_spans']} | "
            f"{a['cached_scans']} | {a['python_ops']} |"
        )
        for s in a["read_schemas"]:
            schemas.append(f"- `{name}`: `{s}`")
    if notes:
        lines += ["", "## Annotated bounded BNLJ / single-partition windows", ""]
        lines += notes
    lines += ["", "## Parquet read schemas (column pruning)", ""] + schemas
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}; flagged={bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
