package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Scope

/** Scale-jump sweep: times an audited query set at two scale factors
  * (default sf0.1 → the 10× `scaledata/sf1` built by
  * scripts/gen_scale.py) and ASSERTS each query's growth exponent
  * e = log10(t_big / t_small) against a documented per-query budget —
  * the BenchGuard-style check that turns the "100 TB posture" plan
  * audits into measured evidence. A query whose plan silently degrades
  * (a broadcast that stops broadcasting, a candidate volume that goes
  * quadratic) fails the budget loudly instead of surviving as a
  * one-scale-point timing.
  *
  * Exponent semantics at a 10× data jump on a fixed local[32] host:
  *   ~1.0  linear (scan-bound / bounded-sketch work, fully parallel)
  *   <1.0  latency-dominated at the small point (fixed planning/session
  *         overhead amortizes at the big point) — common for sub-second
  *         queries, so budgets BOUND ABOVE only
  *   >1.0  super-linear: n·log n sorts, candidate-volume growth in
  *         banded all-pairs joins, per-round driver iteration
  * Budgets are set per query class (see `audited`), with the all-pairs
  * oracle-regime queries given their documented super-linear allowance.
  *
  * Writes BENCH_scale.md (the measured table + verdicts) and exits 1 on
  * any budget breach. Each query runs `reps` times per scale and takes
  * the MINIMUM (the least-contended observation — the README documents
  * 20-40% ambient host swing on this box).
  */
object BenchScale {

  /** Observed x15 growth exponents from prior sweeps (rounds 8-9) — the
    * empirical noise band that justifies the 2.1 budget over the exhibit's
    * theoretical 2.0. Append when a sweep lands outside the recorded
    * spread; a drift past 2.1 is a regression, not noise. */
  private val x15ExponentHistory: Seq[Double] = Seq(1.85, 1.91, 1.94, 2.01)

  /** (query, exponent budget). Classes:
    *   1.2 — scans, sketches, pure projections, bounded-state aggs
    *   1.3 — one-keyed-exchange aggs/joins/windows; broadcast retrieval
    *   1.4 — multi-stage composed pipelines (several keyed exchanges)
    *   1.5 — sorted-neighborhood / block-local candidate joins
    *   1.8 — banded all-pairs with EXACT-recall oracles: candidate pairs
    *         inside a bucket grow ~quadratically with bucket occupancy,
    *         which is the documented price of the exact all-pairs regime
    *         (the recall<1 LSH settings are the scale path)
    */
  val audited: Seq[(String, Double)] = Seq(
    // linear anchors: scan/sketch/projection
    "q01_lineitem_agg" -> 1.2,
    "x02_token_count" -> 1.2,
    "x46_cms_heavy_hitters" -> 1.2,
    "x82_kmv_distinct" -> 1.2,
    "x84_hrw_shards" -> 1.2,
    "x92_c4_filters" -> 1.2,
    "x93_mg_heavy_hitters" -> 1.2,
    "d40_mad_sketch" -> 1.2,
    "x101_pq_encode" -> 1.2,
    "x104_html_extract" -> 1.2,
    "x105_pr_curve" -> 1.2,
    // one keyed exchange
    "d12_dedup_rownum" -> 1.3,
    "x102_pq_adc_topk" -> 1.3,
    "x103_ann_recall" -> 1.3,
    "d38_mad_outliers" -> 1.3,
    "x26_ngram_lm_score" -> 1.3,
    "x43_dsir_weights" -> 1.3,
    "x53_perplexity_buckets" -> 1.3,
    "x65_source_overlap" -> 1.3,
    "x68_source_dup_rate" -> 1.3,
    "x71_nb_classifier" -> 1.3,
    "x81_bm25_search" -> 1.3,
    "x89_embargo_split" -> 1.3,
    "x96_more_like_this" -> 1.3,
    "x98_heaps_fit" -> 1.3,
    // composed pipelines
    "x17_training_pipeline" -> 1.4,
    "x37_serving_pipeline" -> 1.4,
    "x45_substring_spans" -> 1.4,
    "x60_cluster_canonical" -> 1.4,
    "x99_embedding_curation" -> 1.4,
    "x100_curation_flagship" -> 1.4,
    // block-local candidate joins
    "x80_record_linkage" -> 1.5,
    "x88_soft_dedup" -> 1.5,
    // the x15 QUERY auto-scales nCentroids with corpus size (occupancy-
    // constant, the round-8 fix after this sweep measured the fixed-knob
    // cliff), so its budget is the near-linear class; the extra
    // x15_fixed_ncentroids8 row below keeps the quadratic exhibit — the
    // SAME operator at a FIXED nCentroids = 8 has documented cost
    // Σ cell² ≈ passes · n²/nCentroids (exponent ceiling 2.0, measured
    // 1.85 on the clusterless iid fixture). Together they are the
    // measured statement "quadratic at a fixed knob, linear when the
    // knob tracks n".
    "x15_embedding_neardup" -> 1.4,
    // round-9 additions — linear class: bounded-state gram fits (the
    // iterations run on the driver's dim×dim matrix, not the corpus),
    // the kernel-projection source prior
    "x109_pca_project" -> 1.2,
    "x110_ridge_probe" -> 1.2,
    "x111_source_prior" -> 1.2,
    // ridge fit + bounded score group-by (one keyed exchange)
    "x112_probe_eval" -> 1.3,
    // five Pregel supersteps, each one keyed join+agg over the cached
    // edge projection (edges grow ~linearly with lineitem)
    "x108_pagerank_trade" -> 1.4,
    // banded all-pairs, exact-recall oracle regime
    "x09_ngram_jaccard" -> 1.8,
    "x86_prefix_jaccard" -> 1.8,
    // late round-9 additions — linear class: single-scan contingency
    // reports (kappa, TVD drift)
    "x120_agreement_kappa" -> 1.2,
    "x123_drift_tvd" -> 1.2,
    // one keyed exchange to a bounded frame (daily counts / group sizes)
    "x121_seasonal_anomaly" -> 1.3,
    "x122_group_kfold" -> 1.3,
    // multi-exchange composed plans: rank-normalized fusion, seeded and
    // min-label supersteps over cached edge projections
    "x115_signal_fusion" -> 1.4,
    "x117_personalized_pagerank" -> 1.4,
    "x118_trade_components" -> 1.4,
    // block-local candidate joins: basket pairs are (basket choose 2)-
    // bounded; the triangle wedge join is bounded by oriented out-degree
    // O(√m), but the co-purchase PROJECTION itself densifies with shared-
    // customer growth — the documented ceiling covers both effects
    "x116_association_rules" -> 1.5,
    "x119_triangle_census" -> 1.5,
    // whole-frontier peel rounds over a shrinking checkpointed edge set
    "x124_kcore_trade" -> 1.4,
    // one keyed exchange to the per-source frame; windows on that frame
    "x125_mixture_waterfill" -> 1.3,
    "x126_privacy_audit" -> 1.3,
    // four HITS supersteps, two keyed join+aggs each over cached edges
    "x127_hits_trade" -> 1.4,
    // four walk steps, one keyed join + argmin-agg each; candidate
    // volume per step = frontier out-degree sum (a PageRank superstep)
    "x128_graph_walks" -> 1.4,
    // two range exchanges (global rank) + one keyed window + position join
    "x129_quantile_normalize" -> 1.4,
    // five anti-join pairs over dimension-broadcast key sets
    "x130_referential_audit" -> 1.3,
    // wedge self-join: volume Σ deg² over left nodes — the documented
    // super-linear budget of the exact bipartite-clustering regime
    "x131_butterfly_census" -> 1.8,
    // one keyed exchange to the daily frame; running/lag windows on it
    "x132_cusum_changepoints" -> 1.3,
    "x133_seasonal_mase" -> 1.3,
    // composed dashboard: one cached daily frame + three finishing views
    "x134_series_health" -> 1.3,
    // base min-label supersteps over the cached strong-edge projection
    // dominate (the x118 class); the incremental merge itself is
    // batch-sized — label lookups + a broadcast remap
    "x135_components_incremental" -> 1.4,
    // ≤ diameter BFS supersteps, one keyed join + min-agg each over the
    // cached symmetric edge projection (the x117/x118 class)
    "x136_bfs_levels" -> 1.4,
    // wedge self-join keyed by the shared right node: candidate volume
    // Σ deg(r)² — the documented super-linear budget of the exact
    // shared-neighbor regime (same class as the butterfly census)
    "x137_link_prediction" -> 1.8,
    // pair wedge + peer-keyed contribution join: the same Σ deg² regime
    // as x137 with one extra keyed fan-out over peer partner lists
    "x138_recommendations" -> 1.8,
    // one keyed exchange to the (quasi × value) cell frame; windows on
    // that bounded frame (the x126 class)
    "x139_tcloseness" -> 1.3,
    // vocab aggregation (one keyed exchange, map-side combined) + the
    // two-phase prefix sum + a broadcast bucket join for the draws
    "x140_negative_sampling" -> 1.3,
    // per-key counts partial-aggregate map-side; ranks via TakeOrdered
    "x141_skew_report" -> 1.3,
    // ≤ ceil(bits/8) histogram scans; the shuffled payload per round is a
    // ≤ 256×|prefixes| histogram — linear in data, constant in distinct
    "x142_radix_select" -> 1.2,
    // one scan fans out all features; per-feature partitioned windows on
    // the distinct-value frame
    "x143_feature_auc" -> 1.3,
    // IVF-cell-blocked self-join at occupancy-constant auto-scaled cells
    // (max(16, n/250), SQL-replayed) — the x15 scaled class
    "x144_knn_label_audit" -> 1.4,
    // group stats + broadcast-back: one keyed exchange of group rows
    "x145_target_encoding" -> 1.2,
    // B weighted partial sums on one scan; exchange carries B×tasks rows
    "x146_poisson_bootstrap" -> 1.3,
    // ≤ 8 histogram descents for the cuts + one clip-aggregate pass
    "x147_winsorized_mean" -> 1.2,
    // one scan fans out all audited columns, counts collapse map-side
    "x148_diversity_audit" -> 1.2,
    // group stats broadcast-back + a radix-descent residual quantile +
    // one coverage aggregation — all aggregation-only passes
    "x149_conformal_intervals" -> 1.3,
    // (group, term) counts collapse map-side; estimator over |groups| rows
    "x150_vocab_richness" -> 1.3,
    // probe-prefix × full-index postings join: candidate volume
    // Σ prefixDf·df — the exact-recall containment analog of x86's
    // documented super-linear all-pairs budget
    "x151_containment_join" -> 1.8,
    // k persisted-scan rounds, one new cosine arm per row per round —
    // the x97 iteration class
    "x152_mmr_select" -> 1.3,
    // k anti-join+agg rounds over the persisted shrinking (doc, shingle)
    // frame — keyed 8-byte joins, remaining set monotonically shrinks
    "x153_coverage_select" -> 1.4,
    // rarest-gram prefix candidates are an ALL-PAIRS-within-postings
    // join: candidate volume tracks Σ prefixDf², and the 10× scale
    // fixture multiplies true-duplicate density (each title gains ~10
    // near-copies, so the TRUE pair set itself grows ~quadratically) —
    // the same documented exact-recall regime as x86/x09; the measured
    // exponent at the 10× point is 1.55
    "x154_qgram_join" -> 1.8,
    // one kernel scan + keyed hash joins over vocab-sized count tables
    "x155_kneser_ney_score" -> 1.3,
    // pair-distinct + 5 cached supersteps over the word graph — the
    // pagerank iteration class (vocab-sized state, corpus-sized explode)
    "x156_textrank_keywords" -> 1.4,
    // two pruned-retriever scans + a union of two k-bounded lists
    "x157_rrf_hybrid" -> 1.3,
    // shuffle-free literal-matrix projection scan
    "x158_jl_project" -> 1.2,
    // eps-cell equi-join candidates (occupancy grows with density at
    // fixed eps: documented super-linear allowance) + component rounds
    "x159_dbscan_embed" -> 1.6,
    // x159's plan + one cluster-keyed window over the assignment frame
    "x160_cluster_cap" -> 1.6,
    // daily-count collapse + per-series bounded fold
    "x161_holt_forecast" -> 1.3,
    // one pruned count aggregation + pure projection
    "x162_dp_release" -> 1.2,
    // cached tokenization + slice/zip explode + one pair aggregation
    "x163_skipgram_pairs" -> 1.3,
    // one corpus scan to integer diffs; everything after is
    // magnitude-granular (bounded tie frame)
    "x164_wilcoxon_paired" -> 1.3,
    // distinct + degree agg + one keyed join, single 1-row aggregation
    "x165_assortativity" -> 1.3,
    // one keyed mass aggregation; rank + sums on the |sources| frame
    "x166_source_gini" -> 1.2,
    // two distinct-value range exchanges + two value-keyed rank joins
    // back to the corpus (the x129 two-exchange class)
    "x167_spearman_rho" -> 1.4,
    // one aggregation to DOMAIN-bounded contingency cells + a broadcast
    // non-equi self-join on that bounded frame (tokenization dominates)
    "x168_kendall_tau" -> 1.3,
    // one scan to ≤ 9 digit counts; finish on the literal digit frame
    "x169_benford_digits" -> 1.2,
    // one entity-keyed span aggregation; folds on the calendar-bounded
    // life table
    "x170_kaplan_meier" -> 1.3,
    // one aggregation to the distinct-value frame + a single two-phase
    // range exchange for both ECDFs
    "x171_ks_test" -> 1.3,
    // one aggregation of four conditional sums
    "x172_ab_ztest" -> 1.2,
    // one scan with B+1 plan-literal conditional sums (64 md5 draws per
    // row — heavy but strictly linear, constant reduce state)
    "x173_permutation_test" -> 1.2,
    // 4 LPA supersteps, each one keyed join + count agg + struct-argmin
    // over the cached symmetric edge projection (the superstep class)
    "x174_label_communities" -> 1.4,
    // one explode to (doc, term) counts + one term-keyed agg; TakeOrdered
    "x175_burstiness" -> 1.3,
    // the ksTest class: one agg to the distinct-value frame + a single
    // range exchange (plus the boundary-lead map, driver-side)
    "x176_wasserstein" -> 1.3,
    // one agg to bounded cells + marginal joins + a 1-row ordered fold
    "x177_chi2_cramers_v" -> 1.3,
    // x143's single-explode fan-out + bounded-cell integer algebra
    "x178_gini_gain" -> 1.3,
    // five cell aggregations, each map-side combined to key-sized frames
    "x179_fd_audit" -> 1.3,
    // the x123 state + a bounded-frame finishing lens
    "x180_psi_drift" -> 1.2,
    // one pair explode + two margin aggs of the same cached pair frame
    "x181_llr_collocations" -> 1.3,
    // one keyed agg to the calendar-bounded daily frame + bounded self-join
    "x182_mann_kendall" -> 1.3,
    // ONE corpus scan with plan-literal sufficient statistics (O(k²)
    // agg state); the pair unpivot is a union over the cached 1-row frame
    "x183_correlation_matrix" -> 1.2,
    // one keyed agg to the calendar-bounded daily frame (exchange reused
    // across the self-join sides) + bounded lag-window self-join
    "x184_acf" -> 1.3,
    // daily agg + bounded pairwise-slope self-join + bounded rank window
    "x185_theil_sen" -> 1.3,
    // the x180 shape: one keyed agg + a bounded-frame finishing lens
    "x186_jsd_drift" -> 1.2,
    // x178's single-explode fan-out; fold on the bounded cell frame
    "x187_mi_screen" -> 1.3,
    // daily agg + exploded-lag EQUI self-join on the bounded frame
    "x188_cross_correlation" -> 1.3,
    // pivot TakeOrdered + one (cell, dim) stats agg + one cached scan
    // with plan-literal distance folds + the |cells|-row report agg
    "x189_silhouette" -> 1.3,
    // one keyed agg to domain-bounded buckets + a 1-row close
    "x190_trend_test" -> 1.2,
    // one keyed agg + prefix windows on the bounded distinct-value frame
    "x191_cliffs_delta" -> 1.2,
    // one keyed agg + suffix windows on the bounded distinct-value frame
    "x192_gains_lift" -> 1.2,
    // probe fit + ONE corpus scan to the quantized bin state; the Murphy
    // close is window + agg on the ≤ 12-row frame
    "x194_brier_decomposition" -> 1.3,
    // one corpus scan into the cached cell frame; ranks + group sums on
    // the bounded distinct-value frame
    "x195_kruskal_wallis" -> 1.2,
    // one pruned aggregation scan to per-group decimals; 1-row close
    "x196_anova_f" -> 1.2,
    // one aggregation of five conditional sums (string scan dominates)
    "x197_mcnemar" -> 1.2,
    // one corpus agg to the quantized bin state; minimax joins on the
    // ≤ 12-row frame
    "x198_pav_calibration" -> 1.2,
    // assignment = pure projection through plan-literal pivots; one agg
    // to the (labels × cells) contingency; folds on the bounded frame
    "x199_cluster_agreement" -> 1.3,
    // one cached tokenization feeds ranking AND relevance; metrics on
    // |queries| driver-sized rows
    "x193_retrieval_eval" -> 1.4,
    // one corpus agg to the domain-bounded value frame; all λ arms are
    // folds over the one collected array
    "x200_boxcox_scan" -> 1.2,
    // one keyed agg to the calendar-bounded daily frame; grid + rank
    // windows on that bounded frame
    "x201_friedman" -> 1.2,
    // one cached tokenization feeds BOTH ranking variants; match join
    // and folds on |queries|·k rows
    "x202_rbo_rankings" -> 1.4,
    // one keyed mass aggregation; lens on the |sources| frame
    "x203_hhi_diversity" -> 1.2,
    // one aggregation of six conditional sums
    "x204_effect_size" -> 1.2,
    // one entity-keyed span agg; folds on the calendar-bounded life table
    "x205_nelson_aalen" -> 1.3,
    // probe fit + ONE corpus scan to the bin state; PAV joins and both
    // Brier closes on the ≤ 12-row cached frame
    "x206_recalibration_lift" -> 1.3,
    // one keyed agg to the stratum frame; draw = group-limited rank
    // window under a broadcast allocation
    "x207_neyman_sample" -> 1.3,
    // one aggregation; per-row correct-count is bounded by k
    "x208_cochran_q" -> 1.2,
    // one keyed agg to the calendar-bounded daily frame; ≤ 7-element
    // dow folds per series
    "x209_seasonal_strength" -> 1.2,
    // daily agg + lag window on the bounded frame
    "x210_runs_test" -> 1.2,
    // the ACF machinery (cached daily frame + bounded lag self-join);
    // the unrolled algebra runs on the |series|-row pivot
    "x211_pacf" -> 1.3,
    // the ACF machinery + an order-pinned per-series lag fold
    "x212_ljung_box" -> 1.3,
    // one keyed agg to exact decimal raw moments; 1-row close per group
    "x213_jarque_bera" -> 1.2,
    // one user-keyed agg + one 1-row sufficient-statistics agg
    "x214_cuped" -> 1.3,
    // one aggregation of four conditional sums
    "x215_mde" -> 1.2,
    // one aggregation of six conditional sums
    "x216_welch_t" -> 1.2,
    // one tokenization explode + one term agg; TakeOrdered cuts, folds
    // on the two ≤ k frames
    "x217_vocab_overlap" -> 1.3,
    // one distinct exchange + the two-phase range-exchange rank + one
    // maxima aggregation over the cached rank frame
    "x218_draw_uniformity" -> 1.3,
    // one aggregation of four conditional sums; 1-row close
    "x219_ab_readout" -> 1.2,
    // three banded-candidate legs (collision-driven buckets at the scale
    // fixture's perturbed-copy density) composed into one tag union —
    // the block-local candidate-join class
    "x106_dedup_method_venn" -> 1.5,
    // constant 20-query probe set over the codes projection: LUT folds
    // scan candidates linearly; re-rank is k-bounded (the x102 class)
    "x107_ivfpq_topk" -> 1.3,
    // ridge fit (bounded gram state) + ONE keyed agg to ≤ 12 bins
    "x113_calibration" -> 1.3,
    // pivot pick = TakeOrdered over the base; both assignments are pure
    // plan-literal projections; ledger = one keyed agg to |cells| rows
    "x114_ivf_incremental" -> 1.3,
    // round-10 additions — one keyed window + one sequence-vocab agg
    "x220_frequent_sequences" -> 1.3,
    // one keyed-window scan to the |types|² metadata matrix; iterations
    // run on the driver's tiny matrix (the Linalg shape)
    "x221_markov_stationary" -> 1.3,
    "x222_next_event_baseline" -> 1.3,
    // two keyed aggs to per-user bounded cell state
    "x223_session_entropy" -> 1.3,
    // ridge fit (bounded gram state) + two aggregation passes
    "x224_confident_learning" -> 1.3,
    // one weight aggregation broadcast back onto a single corpus scan
    "x225_weak_labels" -> 1.2,
    // min/max + bin-count aggs to nBins frames, broadcast back — the
    // corpus is never shuffled; TakeOrdered epilogue
    "x226_hbos_outliers" -> 1.2,
    // distinct-value cdf frames broadcast back + TakeOrdered epilogue
    "x227_ecod_outliers" -> 1.3,
    // ONE grouped gram scan (bounded buffers) + ONE 3K+1-conditional-sum
    // scoring scan; all 21 refits are driver-side metadata
    "x228_logo_influence" -> 1.3,
    // distributed TakeOrdered of k+1 rows, then a single tiny agg
    "x229_hill_tail" -> 1.2,
    // one keyed agg to the |sources| frame + broadcast gap row
    "x230_fairness_audit" -> 1.2,
    // one keyed agg to the calendar-day frame; windows on that frame only
    "x231_msprt_monitor" -> 1.3,
    // one scan to |cells| quantized sums; kernel + scaling = driver metadata
    "x232_sinkhorn_ot" -> 1.2,
    // banded candidate join + exact verify (the x09 candidate class),
    // then a <=101-row histogram and metadata grid math
    "x233_lsh_plan" -> 1.8,
    // explode -> map-side term counts + an 11-row spectrum frame
    "x234_good_turing" -> 1.3,
    // one keyed agg per content key + a 1-row count aggregate
    "x235_capture_recapture" -> 1.3,
    // the ED-Join LINEAR prologue only (gram explode + df agg + prefix
    // windows) + group-then-multiply counts — no pair materialization,
    // which is the point: pricing x154's 1.8-class join at 1.4 cost
    "x236_qgram_preflight" -> 1.4,
    // one 128-dim gram scan (x109's kernel at 4x state) + driver folds
    "x237_cka_quant" -> 1.2,
    // one keyed agg to the |actions| frame + metadata arithmetic
    "x238_ips_offpolicy" -> 1.2,
    // one keyed agg to the |domains| frame; MW rounds on driver metadata
    "x239_mixture_mw" -> 1.2,
    // 3-covariate explode collapsing map-side to 2·|covariates| cells
    "x240_smd_balance" -> 1.2,
    // two keyed aggs to the split |actions| frames + metadata arithmetic
    "x241_dr_offpolicy" -> 1.2,
    // row-grain pair-agreement agg + m·N explode to the |categories| frame
    "x242_fleiss_kappa" -> 1.3,
    // one gram scan + driver Newton-Schulz on 64x64 + projection scan
    "x243_zca_whiten" -> 1.2,
    // one grouped gram scan; the Frobenius fold is driver metadata
    "x244_embedding_mmd" -> 1.2,
    // one gram scan + driver power iteration on the 64x64 matrix
    "x245_effective_rank" -> 1.2,
    // exact all-pairs cosine at the full-recall parameter point — the
    // quadratic exhibit BY CONSTRUCTION (choose-2 exact sims, its
    // oracle-checkability is the point); the scale path is x15's
    // occupancy-constant blocking. The fixed-knob noise-band rationale
    // applies: ceiling 2.1 over the 2.0 expectation
    "x246_embedding_neardup_full" -> 2.1,
    // preflight + routed execution; prices WITHIN the 1e8 default budget
    // at sf0.1/sf1 so the exact ED-Join runs — the x154 class (+ the
    // linear preflight prologue)
    "x247_similarity_join_auto" -> 1.8,
    // x248 (the budget-flip exhibit) is deliberately NOT in this list:
    // its forced full-recall (32, 2) planning point is a GATE-SCALE
    // oracle fixture, and at sf1 the 2-row bands collapse into hot
    // buckets on this corpus's skewed gram spectrum (the sub-threshold
    // candidate mass LshPlanner's subhalf_ppm column exists to price:
    // detectPpm at s = 0.1 is 148544 ppm for (32, 2) vs 1600 ppm for
    // the production (16, 4) — a 93x low-similarity candidate rate).
    // The PRODUCTION routing path is what scales, and it is audited as
    // x247 here and again at the sf1 → sf10 decade below.
    //
    // one codec scan to 8-byte hashes + pigeonhole band self-join:
    // candidate volume Σ bucket² over the 4 band tables — the banded
    // exact-recall regime (recall 1 by construction)
    "x249_phash_neardup" -> 1.8)

  /** Second-decade spot audit (sf1 → sf10, 100× the driver's sf0.1):
    * the most expensive queries re-measured one decade further up,
    * turning the 10× exponents into a trend line. Enabled with
    * SPARK_GRAFT_DECADE2=1 (args supply the sf1/sf10 dirs).
    *
    * x154's EXACT join is deliberately absent: at sf10 the x236
    * preflight prices 6.79e9 candidate pairs — 68× the 1e8 default
    * budget (sf1 prices 6.88e7, within) — so the library's own routing
    * rule forbids the exact plan there (projected wall ≈ 306 s × the
    * measured 1.66-exponent growth ≈ hours). x247, which EXECUTES that
    * rule, is audited in its place: it runs the exact join at sf1 and
    * the banded minhash route at sf10, so its cross-decade "exponent"
    * is the routing rule's headline number — wall time stays bounded
    * across the decade BECAUSE the plan flips.
    *
    * Round-13 additions: the three operators the routing rule SENDS
    * 100 TB users toward carry the same two-decade trend line as the
    * guard rail itself — x07 (banded minhash near-dup) and x86 (ppjoin
    * prefix-Jaccard), the approximate siblings named by qgramJoin's
    * routing guidance, and x249 (the perceptual-hash media dedup, now
    * pre-collapsed + salt-pinned). */
  val decade2Audited: Seq[(String, Double)] = Seq(
    "x100_curation_flagship" -> 1.4,
    "x108_pagerank_trade" -> 1.4,
    "x117_personalized_pagerank" -> 1.4,
    "x136_bfs_levels" -> 1.4,
    "x247_similarity_join_auto" -> 1.8,
    "x07_minhash_neardup" -> 1.8,
    "x86_prefix_jaccard" -> 1.8,
    "x249_phash_neardup" -> 1.8,
    // round-14 addition (r13 verdict item 8): the continuous guard rail's
    // whole value claim is that buildQgramIndex amortizes across batches —
    // x251 runs the index build + one priced batch join, so its
    // cross-decade exponent IS that claim's trend line. The banding is
    // planned from the index's own df spectrum (LshPlanner), so candidate
    // volume tracks the planned recall point, not bucket occupancy²; the
    // multi-stage-pipeline budget applies. x252 (the routed join at the
    // deliberately-hot (32,2) full-recall fixture point) stays excluded —
    // its candidate rate is the documented contract, same rule as x154.
    "x251_incremental_linkage" -> 1.5)

  /** Build `df` and drain it into the noop sink inside one Scope: the sink
    * runs every operator of the plan (a count() lets Catalyst prune the
    * projection or sort that IS the query), and the Scope releases the
    * query's caches and checkpoints. */
  private def drain(df: => DataFrame): Unit =
    Scope { df.write.format("noop").mode("overwrite").save() }

  def main(args: Array[String]): Unit = {
    val smallDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val bigDir = if (args.length > 1) args(1) else "scaledata/sf1"
    val outMd = if (args.length > 2) args(2) else "BENCH_scale.md"
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    // compact warmup: JIT the kernel + operator paths once (Bench's
    // rationale) by running three representative queries on sf0.001
    val warmDir = "/root/testdata/sf0.001"
    Seq("q01_lineitem_agg", "x09_ngram_jaccard", "x96_more_like_this")
      .foreach(n => drain(SparkEntry.queries(n)(spark, warmDir)))

    def time(name: String, dir: String): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        drain(SparkEntry.queries(name)(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        System.gc()
        dt
      }
      ts.min
    }

    case class Row(name: String, budget: Double, tSmall: Double, tBig: Double) {
      def ratio: Double = tBig / tSmall
      def exponent: Double = math.log10(ratio)
      def ok: Boolean = exponent <= budget
    }

    val decade2 = sys.env.get("SPARK_GRAFT_DECADE2").contains("1")
    val auditSource = if (decade2) decade2Audited else audited
    val sel = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def report(r: Row): Row = {
      println(f"SCALE ${r.name}%-28s sf0.1=${r.tSmall}%6.2fs sf1=${r.tBig}%6.2fs " +
        f"ratio=${r.ratio}%6.2f exp=${r.exponent}%5.2f budget=${r.budget}%4.2f " +
        (if (r.ok) "OK" else "BREACH"))
      r
    }
    val fixedRows = auditSource
      .filter { case (n, _) => sel.forall(p => p.exists(n.startsWith)) }
      .map { case (name, budget) =>
        report(Row(name, budget, time(name, smallDir), time(name, bigDir)))
      }
    // the x15 fixed-knob exhibit: same operator, nCentroids pinned at 8 on
    // both points, so Σ cell² (the candidate volume) grows quadratically —
    // the documented cost the auto-scaled query row above avoids. Recall
    // at a given similarity is the documented trade of the dial
    // (RecallSpec pins the shipped setting; more centroids = fewer
    // candidates = lower recall floor).
    val knobRows =
      if (!decade2 &&
        sel.forall(p => p.exists("x15_fixed_ncentroids8".startsWith))) {
        def run(dir: String, nCentroids: Int): Double = {
          val ts = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            drain(graft.operators.Similarity.cellBlockedPairs(
              graft.queries.Tables.embeddings(spark, dir),
              "vec_id", "embedding", threshold = 0.3,
              nCentroids = nCentroids, passes = 6))
            val dt = (System.nanoTime() - t0) / 1e9
            System.gc()
            dt
          }
          ts.min
        }
        // the exhibit's EXPECTED exponent is 2.0 (that is its point) — a
        // budget at exactly the expectation is a coin flip against host
        // noise, so allow the noise band above it. Observed history is
        // RECORDED (x15ExponentHistory, emitted into the artifact) so the
        // 2.1 bound stays auditable against drift instead of silently
        // absorbing a real regression.
        Seq(report(Row("x15_fixed_ncentroids8", 2.1,
          run(smallDir, 8), run(bigDir, 8))))
      } else Seq.empty
    val rows = fixedRows ++ knobRows

    val smallLbl = new java.io.File(smallDir).getName
    val bigLbl = new java.io.File(bigDir).getName
    val md = new StringBuilder
    md ++= s"# BENCH_scale — 10× scale sweep ($smallLbl → $bigLbl)\n\n"
    md ++= s"Inputs: `$smallDir` vs `$bigDir` (10× rows per table, built by\n"
    md ++= "`scripts/gen_scale.py`: key cardinalities scale 10×, marginal\n"
    md ++= "distributions preserved, document copies token-perturbed to mean\n"
    md ++= "shingle-Jaccard ≈ 0.19 so near-dup rates stay collision-driven).\n"
    md ++= s"Host: local[$cpus], min of $reps reps per point. Growth exponent\n"
    md ++= s"e = log10(t_$bigLbl / t_$smallLbl): 1.0 = linear in data, < 1 =\n"
    md ++= "latency-amortized, budget column = the documented ceiling for the\n"
    md ++= "query's plan class (see `graft.BenchScale.audited`).\n\n"
    md ++= s"| query | $smallLbl s | $bigLbl s | ratio | exponent | budget | verdict |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    rows.foreach { r =>
      md ++= f"| ${r.name} | ${r.tSmall}%.2f | ${r.tBig}%.2f | ${r.ratio}%.2f " +
        f"| ${r.exponent}%.2f | ${r.budget}%.2f " +
        f"| ${if (r.ok) "ok" else "**BREACH**"} |\n"
    }
    val breaches = rows.filterNot(_.ok)
    md ++= s"\n**${rows.size} audited, ${breaches.size} budget breaches.**\n"
    // exponent provenance for the one budget that was widened above its
    // theoretical expectation: the observed history justifies (and bounds)
    // the noise band — a future sweep drifting past it is a REAL regression
    // even while still under the 2.1 gate
    rows.find(_.name == "x15_fixed_ncentroids8").foreach { r =>
      md ++= "\nx15 exponent history (expected 2.0; budget 2.1 = expectation " +
        "+ observed noise band): rounds 8-9 measured " +
        x15ExponentHistory.map(e => f"$e%.2f").mkString(", ") +
        f"; this sweep ${r.exponent}%.2f.\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd),
      md.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $outMd")
    spark.stop()
    if (breaches.nonEmpty) sys.exit(1)
  }
}
