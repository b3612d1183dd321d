"""The plan lint: every batch query's physical plan, checked in each
Tier-1 run against the rules that keep a plan safe at scale.

The plan text is the one the session-scoped ``built_query`` fixture
captured (conftest.py), so the lint builds nothing of its own. The
rules (:func:`audit_plan`):

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: a non-equi join
  scales as |A|x|B|. It is legitimate only when one side is provably
  tiny (``NESTED_LOOP_LEGIT``).
* ``BatchEvalPython``: a row-at-a-time Python UDF. Only the literal
  ``@udtf`` front-end ``flagship_scraped_udtf`` may have one; every
  other Python stage is Arrow-vectorized.
* ``Exchange SinglePartition`` consumed by a ``Window``: a global
  window funnels the whole input through one task
  (``GLOBAL_WINDOW_LEGIT``). A single-partition exchange feeding a
  1-row global aggregate is fine and not flagged.
* A base table scanned more than once: exchange reuse does not unify
  differing aggregate branches over one subtree, so a DataFrame read
  by two branches silently rescans its input (``KNOWN_LEGIT``).

The fifth rule, that a Python stage appears only in the queries of
``_PYTHON_RESIDENT``, is ``test_plan_shapes.py::
test_python_stages_only_where_declared``; its allowlist lives here
with the others. One Python stage never shows in a plan: a frame built
by ``createDataFrame(<list>)`` reserializes the list in a Python-worker
job and plans as ``Scan ExistingRDD``, the same leaf a
``localCheckpoint`` gives. :func:`test_literal_frames_go_through_local_frame`
therefore reads the source: every literal frame is
``catalog.local_frame`` (an Arrow ``LocalTableScan``).

Text-plan caveat: cached subtrees and AQE repeat plan text, so a
finding means "open the plan", not "bug". Each allowlist entry carries
its review verdict, and :func:`test_no_stale_allowlist_entries` fails
as soon as an entry no longer excuses anything.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

import movie_rankings_spark
from movie_rankings_spark.plans.all_queries import QUERIES

_BATCH = sorted(n for n in QUERIES if not n.startswith("stream_"))

#: reviewed nested-loop / cartesian shapes: each joins a provably tiny
#: side (collected scalar, |labels| rows, |groups| thresholds)
NESTED_LOOP_LEGIT = {
    "join_size_cms_events",  # 1-row exact size x 1-row sketch estimate (r5)
    "anova_price_returnflag",  # |groups|-row table x 1-row totals (r6)
    "kruskal_doclen_source",  # bounded distinct-value grid theta join + 1-row totals (r6)
    "kendall_qty_shipdelay",  # |X|x|Y| cell-table theta self-join, domain-bounded (r6)
    "dedup_embedding_lsh",  # 1-row exact-pair count x 1-row LSH count (r6 recall gate)
    "survival_customer_km",  # 1-row horizon-date scalar vs per-customer table (r6)
    "target_encode_segment_loo",  # 1-row global-mean scalar vs encode join-back (r6)
    "nb_train_lang_model",  # 1-row vocab/doc-total scalars + |vocab|-row grid expansion (r6)
    "seqmine_event_triples",  # 1-row total-sequence scalar vs |types|^3 support rows (r6)
    "conformal_interval_price",  # 1-row conformal-quantile scalar vs test rows (r6)
    "runs_daily_revenue",  # date-bounded daily table x 1-row total (r7)
    "binseg_changepoint_revenue",  # date-bounded daily prefix/rank windows x 1-row totals (r7)
    "seasonal_decompose_revenue",  # date-bounded daily MA window; 7-row position map broadcast (r7)
    "grubbs_daily_revenue",  # daily table x 1-row moment frame (r7)
    "friedman_price_month_priority",  # |treatments|-row sums x 1-row totals (r7)
    "dw_trend_daily_revenue",  # daily table x 1-row OLS-fit scalars (r7)
    "inclusion_deps_tpch",  # per-pair 1-row count x 1-row dangling count (r7)
    "pmi_collocations_docs",  # scored bigrams x 1-row corpus totals (r7)
    "nb_score_docs",  # model grid construction: bounded vocab x classes (r7)
    "mk_trend_daily_revenue",  # date-bounded daily theta self-join + 1-row ties (r7)
    "jt_priority_linecount",  # |groups|x|V| cell-table theta join + 1-row marginals (r7)
    "concentration_supplier_revenue",  # per-key share table x 1-row totals (r7)
    "mood_median_doclen_source",  # bounded cells x 1-row median/total scalars (r7)
    "hellinger_qty_returnflag",  # bounded value cells x 1-row totals (r7)
    "bartlett_doclen_source",  # |groups| variance rows x 1-row pooled scalars (r7)
    "survival_nelson_aalen",  # 1-row horizon scalar x per-customer table; duration-bounded windows (r7)
    "periodogram_daily_revenue",  # 1-row N/S totals x bounded daily/angle tables (r7)
    "assortativity_copurchase",  # 1-row node-count scalar x 1-row moment row (r7)
    "ordinal_gamma_qty_discount",  # bounded |X|x|Y| cell theta join x 1-row marginals (r7)
    "uncertainty_priority_segment",  # bounded cells x 1-row entropy/MI scalars (r7)
    "hurst_daily_revenue",  # 1-row N scalar x bounded daily; 4-row fit scalar (r7)
    "yuen_trimmed_doclen",  # bounded length cells x 1-row side totals (r7)
    "retrieval_ql_dirichlet",  # 1-row corpus scalar x |q|-term stats; candidate grid (r7)
    "rbo_bm25_vs_ql",  # two bounded top-10 rankings x 10-row depth grid + 1-row rbo scalar (r7)
    "burrows_delta_sources",  # bounded top-N vocab x group grid; 1-row scalars (r7)
    "good_turing_vocab",  # bounded count-of-counts x 1-row totals (r7)
    "kneser_ney_source_scores",  # bounded model tiers x 1-row continuation total (r7)
    "ndcg_ql_ranking",  # 10-row ranking x 1-row dcg/idcg scalars (r7)
    "survival_logrank_segment",  # 1-row horizon + 2-row group grid broadcasts; duration-bounded windows (r7)
    "cramersv_priority_segment",  # 1-row grand total / levels / chi2 scalars (r7)
    "fleiss_quality_raters",  # 1-row moment x 1-row chance-agreement scalars (r7)
    "q11_important_parts",  # 1-row global threshold vs group sums
    "q22_global_sales_opportunity",  # 1-row avg-balance scalar
    "histogram_equidepth_price",  # 1-row quantile boundary array
    "chi2_lang_source",  # 1-row totals vs contingency cells
    "drift_train_val_js",  # 1-row totals vs the per-bin cells
    "quality_filtered_docs",  # 1-row percentile threshold
    "text_lm_score",  # 1-row perplexity threshold
    "pipeline_curated_chunks",  # 1-row quality threshold + 1-row totals
    "mix_temperature_sampling",  # |langs|-row rate table (n_min scalar)
    "text_top_terms",  # 1-row doc-count
    "vocab_heavy_hitters",  # 1-row n/k threshold
    "centroid_similarity_labels",  # |labels| x |labels| prototype join
    "decontaminate_bloom_gate",  # 1-row bloom bit array
    "dedup_semantic_clusters",  # centroid table vs 1-row stats
    "similarity_ivf_kmeans_topk",  # centroid refresh scalars
    "q20_heavy_red_shippers",  # qty > 1-row aggregated threshold
    "collocations_lift",  # 1-row corpus totals vs bigram counts
    "similarity_tfidf_topk",  # 1-row idf normalizer / query slice
    "triangles_copurchase",  # 1-row totals cross joins
    "basket_association_rules",  # 1-row basket count vs rules
    "classifier_auc_eval",  # theta join of the BOUNDED logit histogram
    "active_users_rolling",  # day x bucket grid densify (bounded)
    "similarity_mmr_topk",  # bounded query set vs pool
    "retrieval_eval_prefix",  # bounded 8-query broadcast sides x2 + 1-row scalars (r8)
    "similarity_ivf_exact_topk",  # broadcast 32-centroid codebook + 8-query probe sides (documented exact IVF tier, r8)
    "sink_sorted_write_roundtrip",  # 8-row file-span self-join + 1-row audit scalars cross-joined (r8)
    "interchange_files_roundtrip",  # 1-row per-format audit aggregates cross-joined (r8)
    "similarity_cosine_topk",  # broadcast 8-query side (documented exact tier)
    "matryoshka_prefix_recall",  # broadcast 8-query sides x2 + 1-row mean scalar (r7)
    "search_bm25_topk",  # 1-row corpus stats onto the |terms|-row weight table
    "dsir_importance_topk",  # 1-row totals onto the vocab table
    "split_time_embargo",  # 1-row cut scalar broadcast onto the fact
    "seasonality_monthly_index",  # 1-row grand mean onto 12 month cells
    "sample_neyman_allocation",  # 1-row N_h*sigma_h total onto |langs| strata
    "rfm_customer_segments",  # 1-row median-threshold vector onto customers
    "pps_sample_orders",  # 1-row total-weight scalar onto the fact (r4)
    "classifier_roc_curve",  # theta join of the BOUNDED logit histogram (AUC shape, r4)
    "corpus_heaps_law",  # 1-row OLS fit broadcast onto |sources| rows (r4)
    "hll_audience_overlap",  # |groups| x |groups| pair enumeration over the bounded group list (r4)
    "mi_lang_source",  # 1-row grand total onto |langs|*|sources| cells (chi2 shape, r5)
    "coverage_topdoc_chars",  # theta join of the BOUNDED length histogram (ROC shape, r5)
    "benford_totalprice",  # 1-row total onto the <=9-digit frame (r5)
    "acf_daily_revenue",  # 14-row lag frame onto the bounded daily series (r5)
    "changepoint_daily_revenue",  # 1-row totals onto the bounded daily series (r5)
    "search_hybrid_rrf",  # 1-query broadcast in the cosine arm + 1-row corpus stats in the BM25 arm (r5)
    "drift_train_val_psi",  # 1-row totals onto the 10-bin frame (r5)
    "embedding_jl_rademacher",  # 16-row sign table broadcast onto the vectors (JIT-able per-row fold) (r5)
    "ks_source_length_profiles",  # theta join of the BOUNDED length grid (ROC shape) + 1-row total (r5)
    "isotonic_price_status",  # prefix/minimax theta joins over the <=20-row BIN grid (r6)
    "brown_forsythe_price_priority",  # anova 1-row totals cross join (|groups|=5 table) (r6)
    "attribution_shapley_channels",  # 16-row subset-grid bitmask theta joins + 1-row total (r6)
    "ccf_views_purchases",  # 15-row lag frame onto the date-domain-bounded daily series (acf shape) (r6)
    "ks_sweep_fdr_sources",  # ks-sweep grid (allowlisted shape) + |groups|^2 BH rank/run-min theta self-joins + 50-row k-grid (r6)
    "markov_steady_state_sessions",  # 1-row folded pi vector cross-joined onto the 5-row state list + 1-row total (r6)
    "group_percentiles_priority",  # 5-row quantile-fraction frame cross-joined onto the per-group cell table (r6)
    "dunn_posthoc_doclen",  # kruskal's bounded distinct-value grid theta join + |groups|^2 pair self-join + 1-row ties (r6)
    "hits_purchase_graph",  # each half-step divides by a keyless sum(mass): a 1-row broadcast onto the node-sized mass table
}

#: the one query allowed row-at-a-time Python: the literal Spark-4
#: ``@udtf`` front-end (the UDTF API is row-based by design; the
#: production form is flagship_scraped's Arrow mapInPandas)
ROW_PYTHON_LEGIT = {"flagship_scraped_udtf"}

#: reviewed single-partition-into-window shapes (inputs bounded by a
#: domain, not by the data)
GLOBAL_WINDOW_LEGIT = {
    "changepoint_daily_revenue",  # prefix window over the date-domain-bounded daily series (r5)
    # one row per order date, so the input is bounded by the calendar,
    # not by the fact table:
    "binseg_changepoint_revenue",  # prefix sums over the daily series
    "dw_trend_daily_revenue",  # LAG of residuals + day ordinal over the daily series
    "hurst_daily_revenue",  # day ordinal over the daily series
    "periodogram_daily_revenue",  # day ordinal over the daily series
    "runs_daily_revenue",  # LAG over the daily above/below-mean flags
    "seasonal_decompose_revenue",  # centred 7-day moving average over the daily series
    # one row per distinct value (days, characters), bounded by the
    # value domain, not by the row count:
    "survival_nelson_aalen",  # at-risk running sum over the distinct durations
    "mood_median_doclen_source",  # cumulative count over the distinct doc lengths
    "yuen_trimmed_doclen",  # cumulative counts over the distinct doc lengths
}

#: reviewed multi-scan shapes: self-joins, scalar subqueries, two-pass
#: algorithms, snapshot diffs, and persisted intermediates whose cached
#: plan text repeats the one real scan
KNOWN_LEGIT = {
    "setops_repeat_customers",  # per-branch set operands
    "q15_top_supplier", "q17_small_quantity_revenue",  # scalar subqueries
    "q7_volume_shipping", "q8_market_share",  # two nation roles
    "q11_important_parts", "q20_heavy_red_shippers",
    "q21_waiting_suppliers", "q22_global_sales_opportunity",
    "asof_purchase_context", "rangejoin_purchase_context",
    "overlap_view_click_windows", "cogroup_asof_purchase",  # two event roles
    "cohort_retention_daily", "timeseries_gapfill_daily",
    "incremental_monthly_revenue", "diff_orders_snapshots",
    "anomaly_events_zscore",  # window+agg branches, shared exchange
    "robust_outliers_mad",  # documented 3-pass median/MAD/flag
    "histogram_equidepth_price",  # documented 2-pass equi-depth
    "dedup_simhash", "similarity_cosine_topk_numpy",
    "dedup_ngram_jaccard", "dedup_embedding_cosine",  # self-join sides
    "chi2_lang_source", "drift_train_val_js",  # cached; text artifact
    "collocations_lift", "embedding_covariance",
    "dedup_semantic_clusters", "similarity_mmr_topk",
    "funnel_view_click_purchase",  # per-stage pruned scans
    "bitmap_users_rollup",  # cached; text artifact
    # corpus + probe/query slices of one table (different filters):
    "decontaminate_bloom_gate", "decontaminate_report",
    "similarity_cosine_topk",
    "similarity_ivf_exact_topk",  # corpus scan + 32-row head-codebook slice (read by assignment AND probes) + 8-query slice — documented exact IVF tier (r8)
    "similarity_pq_exact_topk",  # corpus sub-vector scan + 16-row head-codebook slice (read by codes AND LUT) + 8-query slices + join-pruned rescore scan — documented exact PQ tier; caching the corpus would be worse at 100 TB (r9)
    "similarity_ivf_kmeans_topk",  # trained centroids checkpointed (training runs once); remaining scans = corpus assignment + 8-query probe slice + join-pruned rescore — same slice pattern as similarity_ivf_exact_topk (r9)
    # documented multi-pass algorithms (threshold pass + apply pass —
    # at 100 TB a pruned re-scan beats caching a corpus-sized frame):
    "quality_filtered_docs", "text_lm_score", "vocab_heavy_hitters",
    "pipeline_curated_chunks", "mix_corpus_token_budget",
    "text_top_terms",  # tf pass + metadata-cheap count pass
    # persisted-intermediate plans whose cache text repeats the scan:
    "join_size_cms_events",  # persisted per-key counts feed sketch + exact side (r5)
    "bootstrap_mean_ci_orders",  # persisted per-replica sums feed CI + exact-mean branches (one real scan; cache-text artifact) (r5)
    "mi_lang_source",  # persisted cell table feeds marginals + totals (one real scan; cache-text artifact) (r5)
    "coverage_topdoc_chars",  # persisted length histogram feeds theta sides + totals (one real scan; cache-text artifact) (r5)
    "benford_totalprice",  # persisted <=9-row digit table feeds total + output branches (one real scan; cache-text artifact) (r5)
    "spearman_qty_price",  # persisted pair table + two rank caches feed the moment join (one real scan; cache-text artifact) (r5)
    "acf_daily_revenue",  # persisted daily series feeds scalar + both lag-join sides (one real scan; cache-text artifact) (r5)
    "changepoint_daily_revenue",  # persisted daily series feeds prefix + totals (one real scan; cache-text artifact) (r5)
    "drift_train_val_psi",  # persisted 10-bin table feeds totals + output branches (one real scan; cache-text artifact) (r5)
    "ks_source_length_profiles",  # persisted (source, length) cells feed grid + totals + both cum sides (one real scan; cache-text artifact) (r5)
    "anova_price_returnflag",  # persisted |groups|-row moment table feeds totals + output branches (one real scan; cache-text artifact) (r6)
    "kruskal_doclen_source",  # persisted cell/value tables feed grid + ranks + ties + totals (one real scan; cache-text artifact) (r6)
    "kendall_qty_shipdelay",  # persisted cell table feeds both theta sides + both marginals (one real scan; cache-text artifact) (r6)
    "weighted_price_quantiles",  # persisted weight table feeds bounds + bucket totals + windows (one real scan; cache-text artifact) (r6)
    "profile_columns_orders_approx",  # 2 scans BY CONTRACT: approx production branch + exact-NDV audit gate (r6 bounded-error oracle); production form is the approx branch alone (r6)
    "survival_customer_km",  # persisted per-customer (first,last) table feeds horizon scalar + risk table (one real scan; cache-text artifact) (r6)
    "target_encode_segment_loo",  # 2 scans BY DESIGN: per-category agg (broadcast) + row-wise encode join-back; persisting a fact-sized projection would be worse at 100 TB (r6)
    "nb_train_lang_model",  # 2 real scans BY DESIGN (token counts + per-class doc priors, both column-pruned); persisted counts/docs tables feed the 4 grid branches (cache-text artifact) (r6)
    "nb_score_docs",  # nb_train's 2 by-design scans + 1 doc-token scoring scan; the 12 cached grid branches are InMemoryTableScans (r7)
    "pmi_collocations_docs",  # 2 real scans (bigram + unigram counts); persisted count tables feed totals + the scored join (r7)
    "mk_trend_daily_revenue",  # 1 real scan; persisted daily series feeds self-join sides + ties (cache-text artifact) (r7)
    "rake_keyphrases_docs",  # 1 real scan; persisted candidate-token table feeds word stats + phrase reassembly (cache-text artifact) (r7)
    "concentration_supplier_revenue",  # 1 real scan; persisted per-key totals feed moments + Theil terms (cache-text artifact) (r7)
    "mood_median_doclen_source",  # 1 real scan; persisted cell/group tables feed median, splits, chi2 (cache-text artifact) (r7)
    "hellinger_qty_returnflag",  # 1 real scan; persisted value cells feed totals + BC terms (cache-text artifact) (r7)
    "bartlett_doclen_source",  # 1 real scan; persisted per-group variance rows feed totals + output (cache-text artifact) (r7)
    "cramersv_priority_segment",  # 1 real join scan; persisted cells feed grand/chi2/levels (cache-text artifact) (r7)
    "fleiss_quality_raters",  # 1 real scan; persisted rated rows feed moments + category tally (cache-text artifact) (r7)
    "runs_daily_revenue",  # 1 real scan; persisted daily series feeds total + sequence (cache-text artifact) (r7)
    "binseg_changepoint_revenue",  # 1 real scan; persisted daily series feeds prefix + totals (cache-text artifact) (r7)
    "local_clustering_copurchase",  # 1 real basket scan; persisted und/deg/oriented tiers feed wedge + closure + output (deep cache-text repetition) (r7)
    "itemsim_cosine_topk",  # 1 real join scan; persisted (basket,item) feeds support + pair join sides (cache-text artifact) (r7)
    "survival_nelson_aalen",  # 1 real scan; persisted per-customer table feeds horizon + risk table (cache-text artifact) (r7)
    "periodogram_daily_revenue",  # 1 real scan; persisted daily series feeds totals + angle/term tables (cache-text artifact) (r7)
    "assortativity_copurchase",  # 1 real basket scan; persisted und/deg feed stubs + moments (cache-text artifact) (r7)
    "page_trend_price_priority",  # 1 real scan; persisted cell table feeds k-count, completeness filter, ranks (friedman shape) (r7)
    "ordinal_gamma_qty_discount",  # 1 real scan; persisted cells feed theta join + 3 marginals (cache-text artifact) (r7)
    "uncertainty_priority_segment",  # 1 real join scan; persisted cells feed marginals + MI branch (cache-text artifact) (r7)
    "gumbel_monthly_peak_revenue",  # 1 real scan; persisted 1-row moments feed both return-prob branches (cache-text artifact) (r7)
    "hurst_daily_revenue",  # 1 real scan; persisted daily/seq feed all 4 block-size branches + fit (deep cache-text repetition) (r7)
    "yuen_trimmed_doclen",  # 1 real scan; persisted value cells feed totals + cumulative pass (cache-text artifact) (r7)
    "retrieval_ql_dirichlet",  # 3 real scans BY DESIGN (postings slice + vocab reduce + length projection; the bm25 documented trade) (r7)
    "rbo_bm25_vs_ql",  # composes the BM25 and QL rankers end-to-end BY DESIGN (each ranker's documented scans) (r7)
    "burrows_delta_sources",  # 1 real scan; persisted cells/grid feed vocab, totals, moments, z-pairs (cache-text artifact) (r7)
    "good_turing_vocab",  # 1 real scan; persisted count-of-counts feeds totals + r+1 join (cache-text artifact) (r7)
    "kneser_ney_source_scores",  # 1 real scan; persisted per-group bigram counts feed model tiers + scoring (cache-text artifact) (r7)
    "ndcg_ql_ranking",  # QL ranker's documented scans + bounded eval tiers (cache-text artifact) (r7)
    "matryoshka_prefix_recall",  # composes the exact ranker TWICE by design (full + prefix dims; column-pruned embedding scans) (r7)
    "survival_logrank_segment",  # 1 real join scan; persisted per-customer/cells tiers feed horizon, grid, sizes (cache-text artifact) (r7)
    "seasonal_decompose_revenue",  # 1 real scan; persisted daily/base tables feed MA, position means, output (cache-text artifact) (r7)
    "grubbs_daily_revenue",  # 1 real scan; persisted daily table feeds the operator's moment + max passes (cache-text artifact) (r7)
    "friedman_price_month_priority",  # 1 real scan; persisted cell table feeds k-count, completeness filter, ranks (cache-text artifact) (r7)
    "dw_trend_daily_revenue",  # 1 real scan; persisted day-sequence feeds moments + residual lag (cache-text artifact) (r7)
    "inclusion_deps_tpch",  # 1 real scan per side; persisted per-pair distinct tables feed count + anti join (cache-text artifact) (r7)
    "ngram_novelty_docs",  # 2 real scans (candidate + reference gram reductions); persisted candidate table feeds totals + anti join (r7)
    "jt_priority_linecount",  # 1 real scan per table; persisted cell table feeds theta-join sides + both marginals (cache-text artifact) (r7)
    "seqmine_event_triples",  # 2 real scans BY DESIGN (per-scope type min/max agg + b-event interval probe); persisted min/max table feeds grid + total count (cache-text artifact) (r6)
    "conformal_interval_price",  # 3 real scans BY DESIGN (train/calibrate/test split roles, each column-pruned); persisted cell tables feed median window + quantile + totals (cache-text artifact) (r6)
    "isotonic_price_status",  # persisted <=20-bin cell table feeds prefix + bins + readout branches (one real scan; cache-text artifact) (r6)
    "brown_forsythe_price_priority",  # 2 real scans BY DESIGN (median cell pass + deviation aggregate, both column-pruned); persisted cells feed ng + window (cache-text artifact) (r6)
    "attribution_shapley_channels",  # persisted 2^n subset-value table feeds total + marginal branches (one real journey scan; cache-text artifact) (r6)
    "feature_infogain_orders",  # persisted stacked cell table feeds 3 marginals + MI/H branches (one real x|features| scan; cache-text artifact) (r6)
    "ccf_views_purchases",  # persisted daily series feeds scalar + both lag-join sides (acf shape; one real scan; cache-text artifact) (r6)
    "markov_steady_state_sessions",  # persisted densified 25-cell matrix feeds row sums + fold + empirical share (one real sessionize scan; cache-text artifact) (r6)
    "ks_sweep_fdr_sources",  # nested persisted tiers (sweep cells -> ks rows -> p-values -> ranks) each read by 2-3 bounded branches (one real fact scan; deep cache-text repetition) (r6)
    "contrastive_triplets_docs",  # 2 real scans BY DESIGN (prefix-join positives + column-pruned md5-ring negatives); inherits dedup_jaccard_prefix's reviewed shape (r6)
    "group_percentiles_priority",  # persisted per-group cell table feeds totals + cumulative window (one real scan; cache-text artifact) (r6)
    "dunn_posthoc_doclen",  # kruskal's persisted cell/value/per-group tiers each read by 2 bounded branches (one real scan; cache-text artifact) (r6)
    "similarity_tfidf_topk",  # inverted index + query-doc slice + norms of one table (exact sparse cosine)
    "triangles_copurchase",  # persisted edge/degree tiers feed wedge, closure and census branches (cache-text artifact)
    "dedup_jaccard_prefix",  # persisted shingle/df tiers feed the prefix index + verification (cache-text artifact)
    "cms_word_frequency",  # persisted token counts feed sketch cells + probe words (cache-text artifact)
    "basket_association_rules",  # persisted basket/item tiers feed item + pair support (cache-text artifact)
    "dedup_minhash_lsh",  # persisted signature/shingle tiers feed banding + verification (cache-text artifact)
    "dedup_incremental_batch",  # batch + corpus hash-split slices of one table, each banded and verified
    "dedup_embedding_lsh",  # recall gate: the LSH pipeline and the exact verifier both read embeddings BY DESIGN
    # train + encode + rescore are separate pipeline stages the demo
    # query runs end-to-end; production persists codes between them:
    "similarity_pq_topk",
    # r3s4 reviewed shapes:
    "profile_columns_orders",  # documented 2-pass (stats + NDV), both pruned
    "classifier_calibration_bins",  # score pass + label projection (AUC pattern)
    "classifier_auc_eval",  # same, partially cached
    "funnel_time_bounded", "funnel_time_to_convert",  # per-stage pruned scans (funnel pattern)
    "erasure_audit_events",  # forget list derived from the fact here; separate table in prod
    "dsir_importance_topk",  # persisted tf feeds vocab + scoring (cache-text artifact)
    "split_time_embargo",  # 1-row cut pass + tag pass
    "folds_grouped_by_user",  # distinct-user fold map + fact pass
    # r4 reviewed shapes:
    "skyline_parts_frontier",  # documented 2-pass (per-x maxima + frontier semi-join), both pruned column scans
    "pps_sample_orders",  # documented 2-pass (1-row weight total + selection pass) — at 100 TB a pruned re-scan beats caching the fact
    "seasonality_monthly_index",  # grand-mean pass + index pass over month cells
    "langid_confusion_matrix",  # totals pass + matrix pass (bounded)
    "winsorized_mean_price",  # documented 2-pass bounds + clip (MAD pattern)
    "quality_filtered_per_lang",  # threshold pass + apply pass (documented)
    "knn_label_propagation",  # holdout + corpus slices of one table
    "knn_label_propagation_ivf",  # holdout + corpus + centroid slices of one table (r5)
    "retrieval_eval_prefix",  # full-dim + prefix-dim exact pipelines both read embeddings (eval, r8)
    "active_users_rolling",  # cached bitmap grid (text artifact)
    "dedup_editdistance_verify",  # persisted pair pipeline (text artifact)
    "mix_temperature_sampling",  # persisted rate table; min scalar branch
    "centroid_similarity_labels",  # persisted centroids; self-join text artifact
    "regression_theilsen_trend",  # persisted monthly series; 3 branch reads
    "ivm_join_segment_revenue",  # 4 delta-term joins BY DESIGN (delta-join algebra demo)
    "cohort_ltv_curve",  # first-seen + revenue slices of one fact
    "rfm_customer_segments",  # threshold pass + taxonomy pass (documented 2-pass)
    "dedup_impact_report",  # persisted docs; exact tier + LSH pipeline branches
    "sample_neyman_allocation",  # persisted strata moments (r4 fix); cache-text artifact
    # postings slice + doc-length pass (re-scan beats caching the
    # corpus-sized exploded frame; same trade as text_top_terms):
    "search_bm25_topk",
    # fusion of the BM25 arm (postings + doc-length passes, above) and
    # the cosine arm (corpus + query slices of embeddings):
    "search_hybrid_rrf",
    # r4 reviewed shapes:
    "classifier_roc_curve",  # score pass + label projection (AUC pattern)
    "linkpred_adamic_adar",  # persisted+materialized edge list; cache-text artifact
    "overlap_sources_shingles",  # persisted+materialized shingle set; cache-text artifact
    "dedup_sorted_neighborhood",  # position pass + shingle pass, both pruned (documented 2-pass)
    "overlap_event_audiences",  # persisted+materialized (type,user) set; cache-text artifact
    "corpus_heaps_law",  # persisted+materialized per-source moments; cache-text artifact
    "hll_audience_overlap",  # persisted+materialized register table feeds singles/pairs/unions; cache-text artifact
    "dedup_boilerplate_strip",  # persisted chunk table feeds recurring-set + anti-join + totals (InMemoryTableScan=3); cache-text artifact
    # one lazy bounded-round BFS plan: the pre-execution text repeats
    # the edge subtree once per round (4) + the seeds scan; executed,
    # the final plan has 2 FileScans, the edge broadcast reused 3x
    # (ReusedExchange):
    "sssp_copurchase_reach", "centrality_harmonic_hubs",
}

#: The ONLY queries allowed a Python stage, each for a stated reason:
#: Arrow GEMM (LSH signatures, numpy/IVF similarity), HTML parsing
#: (no JVM parser), stubbed multimodal codecs, and the sequential
#: packing recurrence. Everything else must compile 100% JVM-side.
_PYTHON_RESIDENT = {
    "dedup_embedding_lsh",  # Arrow GEMM for the hyperplane LSH signatures
    "flagship_scraped",  # HTML parsing (no JVM parser), mapInPandas
    "flagship_scraped_udtf",  # LATERAL Python UDTF (fetch+parse per source)
    "multimodal_features",  # stubbed multimodal codecs over binary payloads
    "pack_docs_batches",  # the sequential packing recurrence (applyInPandas)
    "pipeline_curation_report",  # r10 composed journey ends in the packing recurrence (applyInPandas); all upstream stages are JVM codegen
    "similarity_cosine_topk_numpy",  # numpy GEMM similarity
    "similarity_ivf_topk",  # IVF assign + probe GEMMs
    "similarity_pq_topk",  # PQ encode + ADC LUT scan
    "embedding_jl_projection",  # seeded-Gaussian GEMM
    "vocab_heavy_hitters",  # per-partition candidate value_counts
    "cogroup_asof_purchase",  # cogrouped merge_asof (FlatMapCoGroupsInPandas by design)
    "embedding_pca_project",  # covariance + projection GEMM (mapInPandas by design)
    "similarity_mmr_topk",  # greedy MMR selection over pooled candidates
    "multimodal_audio_frames",  # windowed DSP over binary payloads (mapInPandas by design)
    "multimodal_resize_meta",  # r4: real PNG/JFIF header decode over binary payloads (mapInPandas by design; resize math itself is codegen'd)
    "flagship_pandas_api",  # pandas-API front-end demo; stages Python eval by design (DataFrame form is the production path)
    "dedup_embedding_cosine",  # r4 block-GEMM rewrite: applyInPandas vectorized GEMM over block pairs (352s->3.2s); reviewed fast plan
    "knn_label_propagation",  # exact holdout-vs-corpus scoring via Arrow-batched GEMM cut (reviewed); IVF variant is the scale path
    "knn_label_propagation_ivf",  # IVF bucket assign + probe scoring GEMMs (r5; the kNN scale path)
}

_PY_NODE = re.compile(r"InPandas|EvalPython|PythonUDF|BatchEvalPython", re.I)


def _node(line: str) -> tuple[int, str]:
    """(depth of the ``:-``/``+-`` marker or -1, node text without the
    marker or a whole-stage-codegen ``*(n)`` prefix) of one plan line."""
    m = re.search(r"[:+]-", line)
    if m is None:
        return -1, line.strip()
    return m.start(), re.sub(r"^\*\(\d+\)\s*", "", line[m.end():].lstrip())


def _single_partition_window(plan: str) -> bool:
    """Whether a Window consumes an ``Exchange SinglePartition``. In
    tree text a node's consumer is the closest previous line with a
    shallower marker; the walk up from the exchange passes the Sort
    Spark always puts between it and the Window."""
    lines = [_node(line) for line in plan.splitlines()]
    for i, (depth, text) in enumerate(lines):
        if not text.startswith("Exchange SinglePartition"):
            continue
        for d, parent in reversed(lines[:i]):
            if d == -1 or d >= depth:
                continue
            if not parent.startswith("Sort "):
                if re.match(r"Window\b", parent):
                    return True
                break
            depth = d
    return False


def strip_initial_plans(plan: str) -> str:
    """Drop every ``== Initial Plan ==`` body from a physical-plan dump.

    A finalized ``AdaptiveSparkPlan isFinalPlan=true`` subtree (e.g. a
    persisted intermediate's cached plan) prints BOTH its final and its
    initial plan; the initial section repeats the same FileScans, so a
    raw mention count would see one real scan twice. The body lines of
    the section are indented deeper than the marker line, so stripping
    stops at the first line strictly shallower than the marker."""
    out: list[str] = []
    skip_depth: int | None = None
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-")
        depth = len(line) - len(stripped)
        if skip_depth is not None:
            if depth >= skip_depth:
                continue
            skip_depth = None
        if stripped.startswith("== Initial Plan =="):
            skip_depth = depth
            continue
        out.append(line)
    return "\n".join(out)


def count_base_scans(plan: str) -> Counter:
    """Mentions of each base table in the FINAL plan text only."""
    return Counter(re.findall(r"/(\w+)\.parquet", strip_initial_plans(plan)))


def _findings(plan: str) -> list[tuple[str, set[str]]]:
    """Each rule ``plan`` breaks, as (flag, the allowlist that can
    excuse it)."""
    found = [
        (node, NESTED_LOOP_LEGIT)
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin")
        if node in plan
    ]
    if "BatchEvalPython" in plan:
        found.append(("BatchEvalPython(row-at-a-time UDF)", ROW_PYTHON_LEGIT))
    if _single_partition_window(plan):
        found.append(("SinglePartition->Window", GLOBAL_WINDOW_LEGIT))
    dups = {t: n for t, n in count_base_scans(plan).items() if n > 1}
    if dups:
        found.append((f"duplicate base scans {dups}", KNOWN_LEGIT))
    return found


def audit_plan(name: str, plan: str) -> list[str]:
    """The rules ``name``'s plan breaks that no allowlist excuses."""
    return [flag for flag, legit in _findings(plan) if name not in legit]


@pytest.mark.parametrize("name", _BATCH)
def test_plan_lint(built_query, name):
    """Fix the plan, or allowlist it above WITH the review reason."""
    assert audit_plan(name, built_query(name)[1]) == []


def test_no_stale_allowlist_entries(built_query):
    """Every entry names a registered batch query whose plan still
    breaks the rule the entry excuses (``_PYTHON_RESIDENT`` entries are
    held to theirs by test_python_stages_only_where_declared)."""
    stale = [f"_PYTHON_RESIDENT: {n}" for n in _PYTHON_RESIDENT if n not in _BATCH]
    for listname, entries in [
        ("NESTED_LOOP_LEGIT", NESTED_LOOP_LEGIT),
        ("ROW_PYTHON_LEGIT", ROW_PYTHON_LEGIT),
        ("GLOBAL_WINDOW_LEGIT", GLOBAL_WINDOW_LEGIT),
        ("KNOWN_LEGIT", KNOWN_LEGIT),
    ]:
        for name in sorted(entries):
            if name not in _BATCH:
                stale.append(f"{listname}: {name} is not a registered batch query")
                continue
            excused = [legit for _, legit in _findings(built_query(name)[1])]
            if all(legit is not entries for legit in excused):
                stale.append(f"{listname}: {name} no longer needs it")
    assert not stale, stale


def test_audit_plan_rules():
    window_over_single = (
        "+- Window [row_number()], [], [k ASC]\n"
        "   +- Sort [k ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "         +- FileScan parquet\n"
    )
    assert audit_plan("q", window_over_single) == ["SinglePartition->Window"]
    # a 1-row global aggregate over a windowed CHILD must NOT flag: the
    # Window is below the exchange, not consuming it
    agg_over_window = (
        "+- HashAggregate(keys=[], functions=[percentile(q)])\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "      +- HashAggregate(keys=[], functions=[partial_percentile(q)])\n"
        "         +- Window [row_number()], [grp], [k ASC]\n"
    )
    assert audit_plan("q", agg_over_window) == []
    assert audit_plan("q", "+- CartesianProduct\n") == ["CartesianProduct"]
    assert audit_plan("q", "+- BatchEvalPython [f(x)]\n") == [
        "BatchEvalPython(row-at-a-time UDF)"
    ]
    assert audit_plan("flagship_scraped_udtf", "+- BatchEvalPython\n") == []
    two_scans = "+- FileScan parquet /x/orders.parquet\n" * 2
    assert audit_plan("q", two_scans) == ["duplicate base scans {'orders': 2}"]


def test_window_order_by_plan_is_flagged(spark, sf_dir):
    """A real ``Window.orderBy`` plan: Window -> Sort -> Exchange
    SinglePartition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_totalprice"))
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert audit_plan("q", plan) == ["SinglePartition->Window"]


def test_strip_initial_plans_dedupes_finalized_aqe_sections():
    """A finalized AdaptiveSparkPlan (cached intermediate) prints its
    FileScan in BOTH the Final and Initial sections; the audit counter
    must see one scan."""
    plan = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=false",
            "+- InMemoryTableScan",
            "      +- AdaptiveSparkPlan isFinalPlan=true",
            "         +- == Final Plan ==",
            "            Result",
            "            +- FileScan parquet /x/embeddings.parquet",
            "         +- == Initial Plan ==",
            "            Project",
            "            +- FileScan parquet /x/embeddings.parquet",
            "+- BroadcastExchange",
            "   +- FileScan parquet /x/orders.parquet",
        ]
    )
    assert count_base_scans(plan) == {"embeddings": 1, "orders": 1}


def create_dataframe_calls(source: str, path: str) -> list[str]:
    """``path:line`` of each ``createDataFrame`` call in ``source``
    outside ``catalog.local_frame``."""
    tree = ast.parse(source)
    allowed: set[int] = set()
    if path.endswith("movie_rankings_spark/catalog.py"):
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(range(node.lineno, node.end_lineno + 1))
    return [
        f"{path}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and node.lineno not in allowed
    ]


def test_literal_frames_go_through_local_frame():
    """``createDataFrame(<list>)`` costs a Python-worker job per frame
    and a statistics-free ``LogicalRDD``; build literal frames with
    ``catalog.local_frame``."""
    root = Path(movie_rankings_spark.__file__).parent
    calls = [
        call
        for f in sorted(root.rglob("*.py"))
        for call in create_dataframe_calls(f.read_text(), f.as_posix())
    ]
    assert calls == []


def test_create_dataframe_calls_rule():
    call = "def f(spark):\n    return spark.createDataFrame([(1,)], 'x int')\n"
    assert create_dataframe_calls(call, "pkg/x.py") == ["pkg/x.py:2"]
    helper = call.replace("def f", "def local_frame")
    assert create_dataframe_calls(helper, "movie_rankings_spark/catalog.py") == []
    assert create_dataframe_calls(helper, "movie_rankings_spark/x.py") != []
