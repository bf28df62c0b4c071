package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{Bpe, CurationAudit, Dedup, Distill, ForecastQueries, GraphRank, Hybrid, Layout, Multimodal, PrepPipeline, Relational, Sampling, SeriesQueries, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is one operator from SURVEY.md §2 (or the
  * north-star batch surface) run over the driver's parquet tables; every
  * key in [[oracleSql]] is the equivalent ANSI SQL the driver executes in
  * DuckDB over the same tables for a hash-compare.
  *
  * Conventions for oracle parity (hash match):
  *  - computed double columns are `round(...)`ed in BOTH engines so
  *    summation-order ULP drift cannot flip the hash;
  *  - derived integer columns are cast to BIGINT on both sides
  *    (Spark `row_number` is int32, DuckDB's is int64);
  *  - the nanosecond `events.ts` is used as `ts_us = ts_ns div 1000`
  *    microseconds on the Spark side because DuckDB truncates ns->µs
  *    on parquet read; every ordering uses (ts_us, event_id).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** ListMap, not Map: Verify/Bench/Explain iterate this, and a HashMap's
    * arbitrary (Scala/JDK-version-dependent) order would make per-query
    * bench attribution and report ordering unstable run-to-run. Insertion
    * order below IS the defined execution order. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = scala.collection.immutable.ListMap(
    // --- TPC-H-style relational surface (north star; SURVEY §2.10) ---
    "q1_pricing_summary" -> (Relational.pricingSummary _),
    "q6_revenue_filter" -> (Relational.revenueFilter _),
    "q3_top_orders" -> (Relational.topRevenueOrders _),
    "q5_nation_revenue" -> (Relational.nationRevenue _),
    "q_top_customers" -> (Relational.topCustomers _),
    "q_cust_no_orders" -> (Relational.customersWithoutOrders _),
    "q4_order_priority" -> (Relational.orderPriorityCheck _),
    "q_returns_rollup" -> (Relational.returnsRollup _),
    "q_top_orders_per_cust" -> (Relational.topOrdersPerCustomer _),
    "q_running_spend" -> (Relational.runningCustomerSpend _),
    "q_distinct_counts" -> (Relational.distinctCounts _),
    "q_quantity_cube" -> (Relational.quantityCube _),
    "q_revenue_pivot" -> (Relational.revenuePivot _),
    "q_order_histogram" -> (Relational.orderValueHistogram _),
    "q_parts_intersect" -> (Relational.returnedAndAcceptedParts _),
    "q_parts_except" -> (Relational.returnedNeverAcceptedParts _),
    // oracle-facing sketch surface: exact scaffolding + in-row bounds on
    // the sketch outputs (raw HLL++/t-digest values can't cross-engine
    // hash; tight error-vs-exact contract lives in RelationalSpec; raw
    // values via Relational.approxStats)
    "q_approx_stats" -> (Relational.approxStatsChecked _),
    "q2_min_price_supp" -> (Relational.minPriceSupplier _),
    "q7_nation_trade" -> (Relational.nationTrade _),
    "q_exact_stats" -> (Relational.exactStats _),
    "bloom_semi" -> (Relational.bloomSemi _), // bloom-pruned exact semi-join (manual runtime filter)
    "q_order_gaps" -> (Relational.orderGaps _),
    // scale-safe form (bucketed exact ranks, no global-order window); the
    // single-window form remains as spendQuartiles, spec-asserted identical
    "q_spend_quartiles" -> ((s: SparkSession, d: String) => Relational.spendQuartilesScalable(s, d)),
    // --- reference operator surface over events (SURVEY §2.2-2.7) ---
    "tr1_change_filter" -> (SeriesQueries.changeFilter _),
    "tr2_anchored_return" -> (SeriesQueries.anchoredReturn _),
    "nrm1_minmax_scale" -> (SeriesQueries.minMaxScale _),
    "win1_sliding_features" -> (SeriesQueries.slidingFeatures _),
    "win2_latest_window" -> (SeriesQueries.latestWindow _),
    "jn1_fifo_rank_join" -> (SeriesQueries.fifoRankJoin _),
    "jn2_asof_join" -> (SeriesQueries.asOfJoin _),
    "jn3_asof_tolerance" -> (SeriesQueries.asOfJoinTolerance _),
    "jn4_asof_native" -> (SeriesQueries.asOfJoinNative _), // custom LogicalPlan+Strategy+SparkPlan merge as-of
    "jn5_asof_forward" -> (SeriesQueries.asOfJoinForward _), // forward as-of (next at-or-after) via time negation on the same merge exec
    "agg2_persistence_rmse" -> (SeriesQueries.persistenceRmse _),
    "agg3_value_summary" -> (SeriesQueries.valueSummary _),
    "src2_json_extract" -> (SeriesQueries.jsonExtract _),
    "q_events_hourly" -> (SeriesQueries.hourlyRollup _),
    "q_evt_slide" -> (SeriesQueries.slidingRollup _), // built-in sliding window(3h,1h) in batch
    "q_sessionize" -> (SeriesQueries.sessionize _),
    "rj_sessions" -> (SeriesQueries.activeSessions _), // bucketed point-in-interval join (RangeJoin)
    "rj_overlap" -> (SeriesQueries.concurrentSessions _), // interval-overlap self-join, canonical-bucket exactly-once (no pair dedup)
    "zorder_key" -> (Layout.zorderKey _), // native Morton-interleave expression (data-skipping layout)
    "hilbert_key" -> (Layout.hilbertKey _), // native Hilbert-curve expression: continuous sibling of zorder_key
    "layout_zone_stats" -> (Layout.zoneStats _), // zone-map manifest: per-tile min/max boxes readers prune with
    "rsmp_ffill" -> (SeriesQueries.resampleFfill _), // regular-grid resample + forward fill (as-of)
    "ts_outliers" -> (SeriesQueries.tsOutliers _), // exact-integer 3-MAD outlier gate per key
    "ts_ewma" -> (SeriesQueries.ewma _), // trailing-10 EWMA, ordered-fold bit parity with list_reduce
    "ts_autocorr" -> (SeriesQueries.lagAutocorr _), // lag-1 Pearson r from exact BIGINT sufficient stats
    "ts_seasonal" -> (SeriesQueries.seasonalProfile _), // hour-of-day additive seasonal index from exact cent sums
    "ts_trend" -> (SeriesQueries.trendProfile _), // trailing-12 moving-average trend + residual, floor-scaled micro-units
    "ts_ohlc" -> (SeriesQueries.ohlcBars(_, _)), // daily OHLC bars: min_by/max_by on a total-order key, one keyed aggregation
    "q_funnel" -> (SeriesQueries.funnel _), // ordered view->click->purchase conversion funnel
    "q_window_funnel" -> ((s: org.apache.spark.sql.SparkSession, d: String) => SeriesQueries.windowFunnel(s, d)), // ClickHouse-windowFunnel depth via two forward as-of passes
    "q_evt_pctl" -> (SeriesQueries.hourlyPercentiles _), // hourly p25/p50/p75 bands per event type
    "q_transitions" -> (SeriesQueries.transitions _), // per-user event-type Markov transition matrix
    "fuzzy_names" -> (Relational.fuzzyNames _), // blocked edit-distance entity resolution on the name dictionary
    "q_trailing_spend" -> ((s: SparkSession, d: String) => Relational.trailingSpend(s, d)), // RANGE-frame trailing 30-day window
    "q_grouping_sets" -> (Relational.groupingSets _), // explicit GROUPING SETS via the spark.sql entry point
    "q10_returned_cust" -> (Relational.returnedCustomers _), // TPC-H Q10: top returned-value customers
    "q14_promo_share" -> (Relational.promoShare _), // TPC-H Q14: promo revenue share by ship year
    "q18_big_orders" -> ((s: SparkSession, d: String) => Relational.bigOrders(s, d)), // TPC-H Q18: large-volume orders
    "q19_bracket_revenue" -> (Relational.bracketRevenue _), // TPC-H Q19: disjunctive bracket predicate pushdown
    "q8_market_share" -> ((s: SparkSession, d: String) => Relational.marketShare(s, d)), // TPC-H Q8: national market share, exact BIGINT ratio
    "q9_nation_profit" -> ((s: SparkSession, d: String) => Relational.nationProfit(s, d)), // TPC-H Q9: profit by nation/year (retailprice cost proxy)
    "q13_order_dist" -> (Relational.custOrderDistribution _), // TPC-H Q13: customer order-count distribution incl. zeros
    "q15_top_supplier" -> ((s: SparkSession, d: String) => Relational.topSupplier(s, d)), // TPC-H Q15: max-revenue supplier via broadcast scalar frame
    "q17_small_qty_revenue" -> ((s: SparkSession, d: String) => Relational.smallQtyRevenue(s, d)), // TPC-H Q17: decorrelated 20%-of-avg quantity cut
    "q22_lapsed_balance" -> ((s: SparkSession, d: String) => Relational.lapsedHighBalance(s, d)), // TPC-H Q22: lapsed high-balance customers, anti-join recency
    "q_retention" -> (SeriesQueries.retention _), // weekly cohort retention matrix, one user-keyed shuffle
    "ts_cusum" -> (SeriesQueries.cusum _), // exact-integer CUSUM changepoint scan per key
    "q_cms_counts" -> (SeriesQueries.cmsCounts _), // native Count-Min aggregate vs exact counts
    // salted-join surface proof: the deterministic-salt equi-join must be
    // RESULT-identical to the plain join the oracle runs — the salt is an
    // execution detail (straggler spreading), never a semantics change
    "q_skew_join" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      val ev = graft.Tables.events(s, dir).select("user_id", "event_type")
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("n_user_events"))
      graft.operators.SkewJoin.saltedJoin(ev, dim, "user_id", salts = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("n_user_events").as("total_weight"))
        .orderBy("event_type")
    }),
    // --- model-in-the-loop surface (SURVEY §2.3/2.5/2.7) ---
    "ml3_persistence_backtest" -> (ForecastQueries.persistenceBacktest(_, _)),
    "nrm2_frozen_scale" -> (ForecastQueries.frozenScale _),
    "agg4_rmse_history_mean" -> (ForecastQueries.rmseHistoryMean _),
    "ml1_ridge_forecast" -> (ForecastQueries.ridgeForecast(_, _)), // bit-stable fit (StableRidge) => full hash oracle
    "ml1_ridge_forecast_per_key" -> (ForecastQueries.ridgeForecastPerKey(_, _)), // per-ticker mirror of the reference model
    "ml1_boost_forecast" -> (ForecastQueries.boostForecast(_, _)), // nonlinear rung: bit-stable boosted stumps (StableBoost), full hash oracle
    "ml1_boost_forecast_per_key" -> (ForecastQueries.boostForecastPerKey(_, _)), // per-ticker nonlinear mirror (one boost fit per user)
    // --- LLM-data-pipeline track: dedup over documents ---
    "dedup_exact" -> (Dedup.exactQuery _),
    "dedup_incremental" -> (Dedup.incrementalQuery _), // bloom-pruned anti join: novel mass never shuffles
    "dedup_ngram_jaccard" -> (Dedup.ngramQuery _),
    "dedup_containment" -> (Dedup.containmentQuery _), // overlap coefficient: doc-in-doc dups Jaccard misses
    "dedup_minhash_sig" -> (Dedup.minhashQuery _),
    "dedup_minhash_lsh" -> (Dedup.minhashLshQuery _),
    "dedup_simhash" -> (Dedup.simhashQuery _),
    "dedup_simhash_pairs" -> (Dedup.simhashPairsQuery _),
    "dedup_clusters" -> (Dedup.clustersQuery _),
    "dedup_fold_leakage" -> (Dedup.foldLeakageQuery _),
    "dedup_contam" -> (Dedup.contaminationQuery _),
    "dedup_contam_semantic" -> (Similarity.semanticContaminationQuery _), // SEMANTIC eval leakage: cross-fold LSH candidates verified by exact cosine (what 13-grams can't see)
    "dedup_substring_spans" -> (Dedup.substringSpansQuery _), // Lee-et-al substring dedup, exact stride-1 form
    "dedup_substring_winnow" -> (Dedup.substringWinnowQuery _), // MOSS winnowing: the ~2/(w+1)-density scale path
    "dedup_substring_cut" -> (Dedup.substringCutQuery _), // span EXCISION: first occurrence kept, rest cut, text reassembled
    "dedup_keep_best" -> (Dedup.keepBestQuery _), // FineWeb-style canonicalization: keep the best-quality cluster member
    "dedup_reweight" -> (Dedup.reweightQuery _), // SoftDedup: down-weight near-dup clusters to unit mass instead of dropping
    // --- text analysis over documents ---
    "txt_redact" -> (TextAnalysis.redactQuery _),
    "txt_token_stats" -> (TextAnalysis.tokenStatsQuery _),
    "txt_quality" -> (TextAnalysis.qualityQuery _),
    "txt_lang_id" -> (TextAnalysis.langIdQuery _),
    "txt_fingerprint" -> (TextAnalysis.fingerprintQuery _),
    "txt_top_bigrams" -> (TextAnalysis.topBigramsQuery _),
    "txt_pmi_bigrams" -> (TextAnalysis.pmiBigramsQuery _), // collocation detection: per-term 1e-8-grid ln PMI over adjacent pairs, top-50
    "q_kmv_distinct" -> (TextAnalysis.kmvDistinctQuery _), // native KMV sketch: per-source distinct-shingle estimate vs the exact baseline
    "q_phrase_search" -> (TextAnalysis.phraseSearchQuery _), // exact 3-word phrase containment: row-local trigrams, broadcast phrase set
    "txt_vocab" -> (TextAnalysis.vocabQuery _),
    "txt_tfidf" -> (TextAnalysis.tfidfQuery _),
    "txt_lm_score" -> (TextAnalysis.lmScoreQuery _),
    "txt_rolling_fp" -> (TextAnalysis.rollingFingerprintsQuery _),
    "txt_c4_filter" -> (TextAnalysis.c4FilterQuery _),
    "txt_reps" -> (TextAnalysis.repetitionQuery _), // Gopher-style intra-doc n-gram repetition signals
    "txt_bm25" -> (TextAnalysis.bm25Query _), // BM25 scoring vs a fixed query-term set
    "txt_bpe_train" -> (Bpe.trainQuery _), // distributed BPE tokenizer training: 12 greedy merge rounds over the word-frequency state
    "txt_bpe_encode" -> (Bpe.encodeQuery _), // corpus tokenization with the learned merges: scan-shaped, zero shuffle
    "txt_bpe_vocab" -> (Bpe.vocabQuery _), // the shipped tokenizer artifact: top-k post-merge symbols with corpus totals
    "txt_bpe_train_deep" -> (Bpe.trainDeepQuery _), // REAL-vocab trainer: one corpus agg + driver-local merge loop, 256 SentencePiece-style merges
    "txt_bpe_tokenize" -> (Bpe.tokenizeQuery _), // native bpe_tokenize expression: per-doc token stream, plan size constant in vocab depth
    "txt_bpe_tokenize_1k" -> (Bpe.tokenize1kQuery _), // scale-depth rung: train+tokenize at 1024 merges, where the heap-walk encoder's rank queue binds
    "txt_bpe_vocab_deep" -> (Bpe.vocabDeepQuery _), // the deep tokenizer's shipped vocab: driver-local aggregation of the trained segment state
    "dedup_cdc" -> (Dedup.cdcQuery _), // content-defined chunking (Rabin/LBFS): cross-doc shared-chunk report, boundaries from the rolling hash
    "dedup_cdc_mass" -> (Dedup.cdcMassQuery _), // per-doc duplicated-byte mass from the CDC chunks: the doc-level signal a curation run acts on
    "txt_bpe_fertility" -> (Bpe.fertilityQuery _), // per-source tokenizer fertility (tokens/word, chars/token): the vocab-rebalancing audit table
    "txt_quality_distill" -> (Distill.distillGateQuery _), // FineWeb-Edu-style gate distillation: teacher-labeled boosted-stump student, scored as plan literals
    "pipe_prep" -> (PrepPipeline.manifest _), // flagship composition: gate -> dedup -> split -> decontam -> pack
    "pipe_prep_quality" -> (PrepPipeline.manifestQuality _), // v2: near-dup clusters + argmax-quality keeper (FineWeb-style)
    "pipe_prep_clean" -> (PrepPipeline.manifestClean _), // v3: + substring EXCISION before clustering (dedup the bytes, then the docs)
    "pipe_prep_semantic" -> (PrepPipeline.manifestSemantic _), // v4: + SemDeDup prune over the survivors' embeddings (paraphrase mass)
    "pipe_prep_train" -> (PrepPipeline.manifestTrain _), // the training-ready view: survivors -> curriculum stage -> concat-chunk sequences
    "pipe_prep_tok" -> (PrepPipeline.manifestTok _), // v5: the tokenizer is trained ON the curated corpus and the packing runs over real BPE token counts
    "pipe_prep_dsir" -> (PrepPipeline.manifestDsir _), // v6: the curation chain ends in the importance gate (positive-LLR half packed)
    "pipe_prep_html" -> (PrepPipeline.manifestHtml _), // v7: curation FROM CRAWL HTML — boilerplate extraction feeds the unchanged gate->dedup->split->decontam->pack chain
    "pipe_prep_incr" -> (PrepPipeline.manifestIncr _), // v8: INCREMENTAL re-crawl curation — snapshot-diff increment + novelty floor + resident-corpus dedup feed the unchanged chain
    "pipe_prep_mm" -> (PrepPipeline.manifestMm _), // v9: MULTIMODAL curation — perceptual image-cluster keepers gate rows alongside the text gate + exact dedup
    "chunk_overlap" -> (TextAnalysis.chunkQuery _), // overlapping token-window training chunks
    // --- similarity search over embeddings ---
    "knn_exact" -> (Similarity.knnExactQuery _),
    "knn_range_search" -> (Similarity.annIvfRangeQuery _), // IVF radius search: tau filter instead of rank window, data-dependent result size
    "sample_negatives" -> (Similarity.contrastiveTripletsQuery _), // contrastive triplet mining: IVF positive + hard negatives + salted random negatives
    "emb_project" -> (Similarity.projectSignedQuery _), // signed random projection (JL/Achlioptas): exact BIGINT sums over the 1e-6 grid, zero shuffle
    "knn_ann_ivf_proj" -> (Similarity.annIvfProjectedQuery _), // coarse stage in 16-dim projected space, exact full-dim re-rank (OPQ-style split)
    "knn_ann_lsh" -> (Similarity.annLshQuery _), // oracled: md5 planes + list_reduce replay the sign bits exactly (+ recall spec)
    "knn_ann_ivf" -> (Similarity.annIvfQuery _), // deterministic IVF-Flat => full hash oracle
    "knn_ann_ivf_refined" -> (Similarity.annIvfRefinedQuery _), // Lloyd-refined centroids: balanced lists = bounded probe cost
    "knn_ann_ivf_balanced" -> (Similarity.annIvfBalancedQuery _), // size-penalized Lloyd: heavy lists repel boundary vectors, probe cost equalized
    "knn_ann_filtered" -> (Similarity.annIvfFilteredQuery _), // metadata-constrained ANN: post-filter on shared index, probe 2x
    "knn_ann_prefiltered" -> (Similarity.annIvfPrefilteredQuery _), // partition-per-label regime: (label, list_id) probe key, prunes before IO
    "emb_quantize" -> (Similarity.quantizeStatsQuery _), // SQ8 codebook + integer fingerprint (scan-shaped)
    "emb_pca_power" -> (Similarity.pcaPowerQuery _), // matrix-free top-PC power iteration (All-but-the-top), all-integer rounds
    "emb_abtt" -> (Similarity.abttCoeffsQuery _), // the apply side: per-vector top-PC coefficient, one scan vs the broadcast fit
    "knn_quantized" -> ((s: SparkSession, d: String) => Similarity.knnQuantized(s, d)), // SQ8 accuracy baseline (quadratic, like knn_exact)
    "knn_ann_ivf_sq8" -> (Similarity.annIvfSq8Query _), // IVF probing over SQ8-coded residents: the compressed-index serving path
    "knn_ann_ivf_pq" -> (Similarity.annIvfPqQuery _), // IVF + product quantization, ADC lookup-table scoring: the 64x-compressed serving path
    "knn_ann_ivf_pq_served" -> Similarity.annIvfServedQuery("pq"), // the PQ rung through the persisted-artifact lifecycle: codebooks/codes/centroids/assign from files, no training in-plan
    "knn_ann_ivf_opq" -> (Similarity.annIvfOpqQuery _), // OPQ: variance-balancing permutation rotation (parametric OPQ) before the identical IVF-PQ chain
    "knn_ann_ivf_opq_served" -> Similarity.annIvfServedQuery("opq"), // the OPQ rung served from files incl. the stored rotation; queries rotate by the artifact, never refit
    "knn_ann_ivf_sq8_served" -> Similarity.annIvfServedQuery("sq8"), // the SQ8 rung served from its persisted codes/centroids/assign artifacts: no quantize pass in-plan
    "knn_ann_ivf_ins_served" -> Similarity.annIvfServedQuery("ivf_ins"), // the ingest lifecycle: base build + incremental insert by the stored rule + compaction, served; must equal the fresh full index
    "knn_ann_ivf_del_served" -> Similarity.annIvfServedQuery("ivf_del"), // the delete lifecycle: full build + tombstoned high-hash tenth, served through the live anti-join path
    "knn_ann_ivf_opq_pca" -> (Similarity.annIvfOpqPcaQuery _), // the PCA cascade rung (r17 #5): natural gate -> Householder-rotate by the integer-grid top PC and re-fit the allocation on the rotated basis -> identity; catches the oblique anisotropy no natural-dim permutation can
    "knn_ann_ivf_opq_pca_served" -> Similarity.annIvfServedQuery("opq_pca"), // the cascade through the persisted lifecycle: stored hw/perm artifacts transform queries (and inserted arrivals), identical serving tail
    "emb_householder" -> (Similarity.embHouseholderQuery _), // the rotation's exact-integer diagnostic: rs = q*den - w*num per (vector, dim) — hash-pins the PCA fit + Householder model cross-engine even where the cascade's gates refuse
    "knn_ann_ivf_pq_ins_served" -> Similarity.annIvfServedQuery("pq_ins"), // CODED ingest lifecycle (r17 #1): codebooks/centroids trained on the base, arrivals encoded at INSERT against the frozen model, compacted, served
    "knn_ann_ivf_sq8_ins_served" -> Similarity.annIvfServedQuery("sq8_ins"), // SQ8 ingest lifecycle: per-vector coding is model-free, centroid seeding base-scoped; arrivals quantize at insert exactly as a build pass would
    "knn_ann_ivf_opq_ins_served" -> Similarity.annIvfServedQuery("opq_ins"), // OPQ ingest lifecycle: rotation FIT on the base and frozen; arrivals and queries rotate by the STORED perm, never refit
    "knn_ann_ivf_proj_served" -> Similarity.annIvfServedQuery("proj"), // the projected rung served from its persisted transform/centroids/assign artifacts: stored sign matrix projects the queries, no corpus projection in-plan
    "q_ivf_list_stats" -> (Similarity.ivfListStatsQuery _), // index ops audit: per-list resident histogram from the persisted membership; oracle replays the rule from scratch = artifact-integrity gate
    "knn_eval" -> (Similarity.knnEvalQuery _), // retrieval-quality eval table: recall@k / MRR@k / NDCG@k per ANN rung vs the exact ground truth, all-integer metrics
    "dedup_embedding_exact" -> (Similarity.embeddingDupExactQuery _),
    "dedup_embedding_lsh" -> (Similarity.embeddingDupLshQuery _), // oracled (same sig CTEs) + recall spec
    "dedup_embedding_clusters" -> (Similarity.embeddingClustersQuery _),
    "dedup_semantic" -> (Similarity.semanticDedupQuery _), // SemDeDup: cluster-scoped greedy pruning, keep low-centroid-sim members
    "dedup_semantic_multi" -> (Similarity.semanticDedupMultiQuery _), // spill-band top-2 assignment: recovers list-straddling paraphrase pairs
    "knn_hybrid_rrf" -> (Hybrid.hybridRrfQuery _), // lexical + vector arms fused by reciprocal-rank: the RAG hybrid serving shape
    "knn_mmr" -> (Similarity.mmrRerankQuery _), // MMR diversified re-rank: greedy rounds over the workload-sized IVF candidate frame
    "graph_pagerank" -> (GraphRank.pagerankQuery(_, _)), // PageRank hubs of the LSH similarity graph: integer-grid power iteration
    // --- dataset assembly: deterministic splits + sequence packing ---
    "split_folds" -> (Sampling.splitQuery _),
    "split_assign" -> (Sampling.splitAssignQuery _),
    "pack_sequences" -> (Sampling.packQuery _),
    "pack_concat_chunk" -> (Sampling.concatChunkQuery _), // GPT-style concat-and-chunk: docs split across fixed-length sequences, zero padding
    "mix_epochs" -> (Sampling.mixEpochsQuery _), // data-constrained epoch schedule (repeat-capped, deficit-reported; Muennighoff 2023)
    "mix_curriculum" -> (Sampling.curriculumQuery _), // easy->hard curriculum stages by exact global quality rank (bucketed, no global sort)
    // curation observability (CurationAudit): the audit tables between corpus versions
    "ds_snapshot_diff" -> (CurationAudit.snapshotDiff _), // per-source added/removed/changed/churn between corpus snapshots; digests shuffle, text never
    "pack_length_buckets" -> (CurationAudit.lengthBuckets _), // power-of-two length buckets + integer padding-waste per-mille (batch-scheduler audit)
    "txt_ngram_novelty" -> ((s: SparkSession, d: String) => CurationAudit.ngramNovelty(s, d)), // per-doc trigram novelty vs the held-in reference slice
    "mix_source_kl" -> (CurationAudit.sourceKl _), // KL(source ‖ corpus) over unigram distributions on the ln·1e8 grid (mixture drift)
    "emb_label_drift" -> (CurationAudit.labelDrift _), // per-label centroid distance/cosine vs the corpus centroid on the 1e6 grid (semantic drift)
    "dedup_threshold_sweep" -> ((s: SparkSession, d: String) => Dedup.thresholdSweep(graft.Tables.documents(s, d))), // pair/doc counts at several Jaccard cutoffs from ONE verified-pairs pass
    "sample_group_reservoir" -> (Sampling.groupReservoirQuery _), // per-source Efraimidis-Spirakis top-k: balanced per-domain sampling, group-partitioned window
    "mix_epochs_expand" -> (Sampling.mixEpochsExpandQuery _), // the epoch schedule materialized: per-copy rows, fractional epoch via salted hash
    "sample_stratified" -> (Sampling.stratifiedSampleQuery _),
    "mix_sources" -> (Sampling.mixSourcesQuery _), // deterministic static domain reweighting (DoReMi-style)
    "mix_temperature" -> (Sampling.mixTemperatureQuery _), // alpha=0.5 temperature-flattened source sampling (XLM-R recipe; sqrt is IEEE-exact)
    "sample_weighted" -> (Sampling.weightedSampleQuery _),
    "mix_dsir" -> (Sampling.dsirQuery _), // DSIR importance selection: hashed-ngram LLR weights vs the English target slice
    "mix_dsir_gumbel" -> (Sampling.dsirGumbelQuery _), // the DSIR resample proper: Gumbel-top-k over the logweights, salted-hash draws
    // --- multimodal binary-column plumbing ---
    "mm_payload_stats" -> (Multimodal.payloadStatsQuery _),
    "mm_decode_features" -> (Multimodal.decodeFeaturesQuery _),
    "mm_frame_sample" -> (Multimodal.frameSampleQuery _),
    "mm_media_probe" -> (Multimodal.mediaProbeQuery _), // REAL BMP/WAV header build+parse round trip
    "mm_phash_dedup" -> (Multimodal.phashDedupQuery _), // perceptual dHash over the decoded BMP grid -> banded-Hamming near-dup pairs (never all-pairs)
    "mm_phash_clusters" -> (Multimodal.phashClustersQuery _), // cluster resolution over the perceptual pairs: min-reachable-id keeper per image, the post-pair decision stage
    "mm_phash_incr" -> (Multimodal.phashIncrQuery _), // incremental perceptual dedup: the crawl increment against the RESIDENT fingerprint index (banded, never all-pairs)
    "mm_ahash_dedup" -> (Multimodal.ahashDedupQuery _), // AUDIO near-dup pairs: windowed PCM energy-envelope fingerprint through the same banded-Hamming machinery
    "mm_ahash_clusters" -> (Multimodal.ahashClustersQuery _), // cluster resolution over the audio pairs: min-reachable-id keeper per recording (the mm_phash_clusters shape)
    "mm_ahash_incr" -> (Multimodal.ahashIncrQuery _), // incremental audio dedup: the crawl increment against the RESIDENT audio-fingerprint index (one body with mm_phash_incr)
    "txt_html_extract" -> (TextAnalysis.htmlExtractQuery _), // HTML -> text boilerplate extraction (tag strip + text-density + link-density block gates), chained into the c4 gate
  )

  // ---- DuckDB oracle SQL building blocks (documents track) ----

  /** Normalized text (mirror of TextAnalysis.normalized). */
  private val normSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  /** Whitespace tokens (mirror of TextAnalysis.tokens). */
  private val toksSql = "string_split_regex(trim(text), '\\s+')"

  /** Banded-Hamming simhash pairs (mirror of Dedup.simhashPairs; requires
    * [[simhashCte]] in scope). */
  private val simhashPairsCte =
    """banded AS (SELECT doc_id, simhash, p AS band, (simhash >> (p*8)) & 255 AS bv
                  FROM sim, LATERAL (SELECT unnest(range(4)) AS p) g),
       shp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
               FROM banded a JOIN banded b
               ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
               WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)"""

  /** [[graft.analytics.Sampling.hashBucket]] of doc_id over 1000 buckets. */
  private val docBucketSql =
    "(('0x'||substr(md5(doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000)"

  /** BPE trainer mirror ([[graft.analytics.Bpe]]): `rounds` chained merge
    * rounds as CTEs. w0 is the word-frequency state with every character
    * wrapped chr(1)·c·chr(2); each round is pair-count (pN) → argmax (mN,
    * ties count DESC then pair ASC — same as the Spark `orderBy`) → greedy
    * replace (wN). The COALESCE(..., chr(3)) arms make a dry round (no
    * pair left) a no-op replace, mirroring the trainer's early stop. All
    * CTEs MATERIALIZED: each wN is referenced twice and the chain would
    * otherwise inline exponentially. */
  private def bpeTrainCtes(rounds: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
           SELECT count(*)::BIGINT AS freq,
                  regexp_replace(w, '(.)', chr(1)||'\1'||chr(2), 'g') AS seq
           FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
           WHERE len(w) > 0 GROUP BY w)"""
    val perRound = (1 to rounds).map { n =>
      s"""p$n AS MATERIALIZED (
            SELECT s[i] AS lhs, s[i+1] AS rhs, sum(freq)::BIGINT AS cnt
            FROM (SELECT freq, string_split(substr(seq, 2, len(seq) - 2),
                                            chr(2)||chr(1)) AS s FROM w${n - 1}) t,
                 LATERAL (SELECT unnest(range(1, len(s))) AS i) r
            GROUP BY 1, 2),
          m$n AS MATERIALIZED (
            SELECT lhs, rhs, cnt FROM p$n ORDER BY cnt DESC, lhs, rhs LIMIT 1),
          w$n AS MATERIALIZED (
            SELECT freq, ${bpeApplySql(n, "seq")} AS seq FROM w${n - 1})"""
    }
    (w0 +: perRound).mkString(",\n")
  }

  /** One greedy merge application: replace round-N's wrapped pair with the
    * wrapped concatenation (no-op via chr(3) when the round was dry). */
  private def bpeApplySql(n: Int, src: String): String =
    s"""replace($src,
          coalesce((SELECT chr(1)||lhs||chr(2)||chr(1)||rhs||chr(2) FROM m$n), chr(3)),
          coalesce((SELECT chr(1)||lhs||rhs||chr(2) FROM m$n), chr(3)))"""

  /** The learned merge table (round, lhs, rhs, merged, pair_count). */
  private def bpeMergeUnion(rounds: Int): String =
    (1 to rounds).map { n =>
      s"""SELECT $n::BIGINT AS round, lhs, rhs, lhs||rhs AS merged,
                 cnt AS pair_count FROM m$n"""
    }.mkString(" UNION ALL ")

  /** Corpus encoding with the learned merges: e0 wraps every non-space
    * char of the trimmed text (spaces stay bare, so merges never cross a
    * word boundary), then one replace per round. */
  private def bpeEncodeCtes(rounds: Int): String = {
    val e0 =
      """e0 AS MATERIALIZED (
           SELECT doc_id, trim(text) AS raw,
                  regexp_replace(trim(text), '(\S)', chr(1)||'\1'||chr(2), 'g') AS s
           FROM documents WHERE len(trim(text)) > 0)"""
    val perRound = (1 to rounds).map { n =>
      s"""e$n AS MATERIALIZED (
            SELECT doc_id, raw, ${bpeApplySql(n, "s")} AS s FROM e${n - 1})"""
    }
    (e0 +: perRound).mkString(",\n")
  }
  /** Deep-BPE trainer mirror ([[graft.analytics.Bpe.trainDeep]]): the
    * whole `rounds`-deep merge loop as ONE recursive CTE instead of a
    * generated per-round chain — the recursive working table holds the
    * previous round's segment state, the recursive term computes that
    * round's argmax pair (count DESC, lhs, rhs — binary collation, same
    * as the driver-local trainer's UTF8String compare) in a LATERAL-free
    * scalar subquery and applies the greedy replace. A generated chain at
    * 256 rounds is 158 KB of SQL and ~25 s of per-CTE overhead; this is
    * 1 KB and ~2 s, bit-identical output (prototyped head-to-head).
    * Training sample (mirrors [[graft.analytics.Bpe.segmentTable]]):
    * SentencePiece-style pieces — trimmed sentence runs `[^.!?]+[.!?]*`,
    * spaces → `▁` (chr(9601)) — HASH-SAMPLED to the `cap` pieces with the
    * smallest salted md5 (VERDICT r12 #1: representative, no corpus-text
    * shuffle), frequencies counted within the sample. A dry corpus stops
    * the recursion naturally (empty argmax ⇒ empty cross join). */
  private def bpeDeepCtes(rounds: Int, cap: Int, src: String = "documents",
                          p: String = ""): String =
    s"""${p}w0 AS MATERIALIZED (
          SELECT freq, regexp_replace(seg, '(.)', chr(1)||'\\1'||chr(2), 'g') AS seq FROM (
            SELECT seg, count(*)::BIGINT AS freq FROM (
              SELECT seg FROM (
                SELECT replace(trim(s), ' ', chr(9601)) AS seg,
                       ${md5L60(s"'bpeseg:'||replace(trim(s), ' ', chr(9601))")} AS h
                FROM (SELECT unnest(regexp_extract_all(trim(text), '[^.!?]+[.!?]*')) AS s
                      FROM $src WHERE len(trim(text)) > 0) raw
                WHERE len(trim(s)) > 0) hashed
              ORDER BY h, seg LIMIT $cap) picked
            GROUP BY seg)),
        ${p}st AS (
          SELECT 0::BIGINT AS r, freq, seq,
                 NULL::VARCHAR AS lhs, NULL::VARCHAR AS rhs, NULL::BIGINT AS cnt
          FROM ${p}w0
          UNION ALL
          SELECT t.r + 1, t.freq,
                 replace(t.seq, chr(1)||b.lhs||chr(2)||chr(1)||b.rhs||chr(2),
                                chr(1)||b.lhs||b.rhs||chr(2)),
                 b.lhs, b.rhs, b.cnt
          FROM ${p}st t,
               (SELECT s[i] AS lhs, s[i+1] AS rhs, sum(freq)::BIGINT AS cnt
                FROM (SELECT freq, string_split(substr(seq, 2, len(seq) - 2),
                                                chr(2)||chr(1)) AS s FROM ${p}st) p2,
                     LATERAL (SELECT unnest(range(1, len(s))) AS i) ix
                GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1) b
          WHERE t.r < $rounds),
        ${p}mall AS MATERIALIZED (
          SELECT DISTINCT r AS round, lhs, rhs, cnt FROM ${p}st WHERE r > 0)"""

  /** Corpus tokenization against the deep merge table: a second recursive
    * CTE walks every DISTINCT segment through the merge sequence (one
    * replace per round via a join on `mall`), then docs join back on
    * their segment. QUALIFY keeps each segment's deepest state so a dry
    * trainer (fewer realized rounds) still encodes correctly. */
  private def bpeDeepEncodeCtes(src: String = "documents", p: String = ""): String =
    s"""${p}e0 AS MATERIALIZED (
          SELECT seg, regexp_replace(seg, '(.)', chr(1)||'\\1'||chr(2), 'g') AS s FROM (
            SELECT DISTINCT replace(trim(text), ' ', chr(9601)) AS seg FROM $src
            WHERE len(trim(text)) > 0)),
        ${p}enc AS (
          SELECT seg, s, 0::BIGINT AS r FROM ${p}e0
          UNION ALL
          SELECT ${p}enc.seg,
                 replace(${p}enc.s, chr(1)||m.lhs||chr(2)||chr(1)||m.rhs||chr(2),
                                chr(1)||m.lhs||m.rhs||chr(2)) AS s,
                 ${p}enc.r + 1 AS r
          FROM ${p}enc JOIN ${p}mall m ON m.round = ${p}enc.r + 1),
        ${p}efin AS (
          SELECT seg, s FROM ${p}enc
          QUALIFY row_number() OVER (PARTITION BY seg ORDER BY r DESC) = 1)"""

  /** 60-bit / 32-bit md5-derived ints (mirror of graft.functions.Hashes). */
  private def md5L60(x: String) = s"('0x'||substr(md5($x),1,15))::UBIGINT::BIGINT"
  private def md5L32(x: String) = s"('0x'||substr(md5($x),1,8))::UBIGINT::BIGINT"

  /** The c4 quality-gate verdict SELECT over a (doc_id, text) relation
    * (mirror of `TextAnalysis.c4Filter`) — shared by `txt_c4_filter`
    * (over documents) and `txt_html_extract` (over its extracted-text
    * CTE), so the gate arithmetic cannot drift between the two faces. */
  private def c4GateOracleSql(srcRel: String): String =
    s"""SELECT doc_id, n_tokens, lang_pred,
          reason = 'ok' AS keep, reason FROM (
            SELECT doc_id, n_tokens, lang_pred,
              CASE WHEN n_tokens < 20 THEN 'too_short'
                   WHEN n_tokens > 1000 THEN 'too_long'
                   WHEN n_punct * 10 > n_chars THEN 'too_much_punct'
                   WHEN n_stop * 20 < n_tokens THEN 'too_few_stopwords'
                   WHEN lang_pred <> 'en' THEN 'non_english'
                   ELSE 'ok' END AS reason
            FROM (
              SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
                length(text)::BIGINT AS n_chars,
                len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS n_punct,
                len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))::BIGINT AS n_stop,
                CASE WHEN len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b')) >= len(regexp_extract_all(text, '\\b(stream|merge|window)\\b'))
                      AND len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b')) >= len(regexp_extract_all(text, '\\b(table|query|group)\\b'))
                      AND len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b')) >= len(regexp_extract_all(text, '\\b(join|filter|sort)\\b')) THEN 'en'
                     WHEN len(regexp_extract_all(text, '\\b(stream|merge|window)\\b')) >= len(regexp_extract_all(text, '\\b(table|query|group)\\b'))
                      AND len(regexp_extract_all(text, '\\b(stream|merge|window)\\b')) >= len(regexp_extract_all(text, '\\b(join|filter|sort)\\b')) THEN 'de'
                     WHEN len(regexp_extract_all(text, '\\b(table|query|group)\\b')) >= len(regexp_extract_all(text, '\\b(join|filter|sort)\\b')) THEN 'es'
                     ELSE 'fr' END AS lang_pred
              FROM $srcRel) b) r"""

  /** Extent-merged duplicated-position islands (mirror of
    * `Dedup.mergedIntervals`): positions in a `(doc_id, pos)` hit CTE
    * chain into one span while the gap to the previous position is ≤ k,
    * so the spans' character ranges `[s, e)` are DISJOINT. Yields CTEs
    * `isl` and `spans(doc_id, s, e)`; shared by the substring-dedup span
    * report and the cut operator's interval stage. */
  private def spanMergeCtes(hitsCte: String, k: Int = 20, p: String = ""): String =
    s"""${p}isl AS (SELECT doc_id, pos,
            sum(CASE WHEN prev IS NULL OR pos - prev > $k THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM (SELECT doc_id, pos,
                  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM $hitsCte) t),
       ${p}spans AS (SELECT doc_id, min(pos) AS s, max(pos) + $k AS e
                 FROM ${p}isl GROUP BY doc_id, grp)"""

  /** Substring-excision CTEs over an arbitrary (doc_id, text) source
    * (mirror of `Dedup.substringCut`): duplicated-gram detection with
    * min-doc_id ownership, extent-merged cut intervals
    * ([[spanMergeCtes]]), and per-doc reassembly of the kept islands.
    * Yields `g`, `own`, `hits`, `isl`, `spans`, `seg`, `pieces`, and
    * `clean(doc_id, ct)` — a doc absent from `clean` is uncut; every
    * name takes the prefix `p` so the block can splice into a chain that
    * already uses those names (pipe_prep_clean's tail defines `g`).
    * Shared by the dedup_substring_cut query and the pipe_prep_clean
    * chain. */
  private def substringCutCtes(src: String, p: String = ""): String =
    s"""${p}g AS (SELECT doc_id, i.i AS pos,
                ('0x'||substr(md5(substr(text, i.i::INT + 1, 20)),1,15))::UBIGINT::BIGINT AS g
              FROM $src, LATERAL (SELECT unnest(range(0, length(text) - 19)) AS i) i
              WHERE length(text) >= 20),
          ${p}own AS (SELECT g, min(doc_id) AS own FROM ${p}g
                  GROUP BY g HAVING min(doc_id) <> max(doc_id)),
          ${p}hits AS (SELECT ${p}g.doc_id, ${p}g.pos FROM ${p}g JOIN ${p}own USING (g)
                   WHERE ${p}g.doc_id <> ${p}own.own),
          ${spanMergeCtes(s"${p}hits", 20, p)},
          ${p}seg AS (SELECT doc_id, s, e,
                    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
                  FROM ${p}spans),
          ${p}pieces AS (
            SELECT sg.doc_id, sg.s AS ord,
                   substr(d.text, (sg.pe + 1)::INT, (sg.s - sg.pe)::INT) AS piece
            FROM ${p}seg sg JOIN $src d USING (doc_id)
            UNION ALL
            SELECT t.doc_id, 2147483647 AS ord, substr(d.text, (t.me + 1)::INT) AS piece
            FROM (SELECT doc_id, max(e) AS me FROM ${p}spans GROUP BY doc_id) t
            JOIN $src d USING (doc_id)),
          ${p}clean AS (SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS ct
                    FROM ${p}pieces GROUP BY doc_id)"""

  /** Stage 1 of the prep compositions: the c4 quality-gate CTE `c4` and
    * the gated corpus `k(doc_id, text)` (mirror of TextAnalysis.c4Filter
    * over documents). Shared by pipe_prep and pipe_prep_quality. */
  private lazy val prepGateCtes = prepGateCtesOver("documents")

  /** [[prepGateCtes]] over an arbitrary (doc_id, text) relation — the
    * pipe_prep_html chain gates the EXTRACTED corpus (`ex`), documents
    * everywhere else; one SQL body so the gate cannot drift. */
  private def prepGateCtesOver(src: String) =
    s"""c4 AS MATERIALIZED (
            SELECT doc_id FROM (
              SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
                length(text)::BIGINT AS n_chars,
                len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS n_punct,
                len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))::BIGINT AS n_stop,
                CASE WHEN len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b')) >= len(regexp_extract_all(text, '\\b(stream|merge|window)\\b'))
                      AND len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b')) >= len(regexp_extract_all(text, '\\b(table|query|group)\\b'))
                      AND len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b')) >= len(regexp_extract_all(text, '\\b(join|filter|sort)\\b')) THEN 'en'
                     WHEN len(regexp_extract_all(text, '\\b(stream|merge|window)\\b')) >= len(regexp_extract_all(text, '\\b(table|query|group)\\b'))
                      AND len(regexp_extract_all(text, '\\b(stream|merge|window)\\b')) >= len(regexp_extract_all(text, '\\b(join|filter|sort)\\b')) THEN 'de'
                     WHEN len(regexp_extract_all(text, '\\b(table|query|group)\\b')) >= len(regexp_extract_all(text, '\\b(join|filter|sort)\\b')) THEN 'es'
                     ELSE 'fr' END AS lang_pred
              FROM $src) b
            WHERE NOT (n_tokens < 20 OR n_tokens > 1000 OR n_punct * 10 > n_chars
                       OR n_stop * 20 < n_tokens OR lang_pred <> 'en')),
          k AS MATERIALIZED (SELECT d.doc_id, d.text FROM $src d JOIN c4 USING (doc_id))"""

  /** Stages 3–5 of the prep compositions over a `dd(doc_id, text)` CTE
    * (fold split, TRAIN-side 13-gram decontamination, per-shard packing)
    * plus the final manifest SELECT. Shared by pipe_prep and
    * pipe_prep_quality — the keeper policy is the ONLY difference
    * between the two chains. */
  /** The survivor half of the prep tail — gate/keeper CTEs (`dd`) →
    * folds, 13-gram decontamination, survivors, token counts. Shared by
    * every pipe_prep variant's tail AND pipe_prep_train's training view. */
  private lazy val prepSurvCtes =
    s"""f AS MATERIALIZED (
            SELECT doc_id, CASE WHEN $docBucketSql < 800 THEN 'train'
                                WHEN $docBucketSql < 900 THEN 'val'
                                ELSE 'test' END AS fold FROM dd),
          t AS MATERIALIZED (SELECT doc_id, $toksSql AS ws FROM dd),
          g AS MATERIALIZED (
            SELECT DISTINCT doc_id, ${md5L60("gram")} AS gh FROM (
              SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
              FROM t, LATERAL (SELECT unnest(range(1, len(ws) - 11)) AS i) r
              WHERE len(ws) >= 13) x),
          gf AS MATERIALIZED (SELECT g.doc_id, g.gh, f.fold FROM g JOIN f USING (doc_id)),
          ct AS MATERIALIZED (
            SELECT DISTINCT tr.doc_id FROM gf tr JOIN gf ev
            ON tr.gh = ev.gh AND tr.fold = 'train' AND ev.fold <> 'train'),
          surv AS MATERIALIZED (
            SELECT f.doc_id, f.fold FROM f LEFT JOIN ct ON f.doc_id = ct.doc_id
            WHERE f.fold <> 'train' OR ct.doc_id IS NULL),
          tok AS MATERIALIZED (SELECT doc_id, len(ws)::BIGINT AS n_tokens FROM t)"""

  private lazy val prepTailSql =
    s"""$prepSurvCtes,
          packed AS MATERIALIZED (
            SELECT doc_id, shard,
              CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin
            FROM (SELECT s.doc_id, tok.n_tokens,
                    ('0x'||substr(md5(s.doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 8 AS shard
                  FROM surv s JOIN tok USING (doc_id) WHERE s.fold = 'train') q)
          SELECT s.doc_id, s.fold, tok.n_tokens, packed.shard, packed.bin
          FROM surv s JOIN tok USING (doc_id) LEFT JOIN packed USING (doc_id)"""

  /** Distinct word 5-gram shingles per doc, pre-hashed to the two 32-bit
    * md5 halves (mirror of Dedup.shingleHashes n=5: distinct AFTER
    * hashing). */
  private val shinglesCte =
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       shs AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
               FROM ws, LATERAL (SELECT unnest(range(1, len(w)-3)) AS i) r
               WHERE len(w) >= 5),
       sh AS (SELECT DISTINCT doc_id,
                ${md5L32("shingle")} AS h1,
                ('0x'||substr(md5(shingle),9,8))::UBIGINT::BIGINT AS h2
              FROM shs)"""

  /** Candidate-pair verification by exact Jaccard over the FULL shingle
    * sets (mirror of the verification stage shared by ngramJaccardPairs and
    * minhashLshPairs); expects a CTE `cand(doc_a, doc_b)`. */
  private def jaccardVerifySql(selectCols: String, threshold: Double) =
    s"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (SELECT doc_a, doc_b, count(*) AS inter
                  FROM cand
                  JOIN sh sa ON sa.doc_id = cand.doc_a
                  JOIN sh sb ON sb.doc_id = cand.doc_b
                            AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
                  GROUP BY doc_a, doc_b)
        SELECT $selectCols FROM (
          SELECT doc_a, doc_b, inter,
                 round(inter / (na.n_sh + nb.n_sh - inter), 4) AS jaccard
          FROM inter
          JOIN sizes na ON na.doc_id = doc_a
          JOIN sizes nb ON nb.doc_id = doc_b) v
        WHERE jaccard >= $threshold"""

  /** MinHash signature CTE `sig(doc_id, mh0..mh15)` (mirror of
    * Dedup.minhashSignatures: 16 Kirsch–Mitzenmacher min-hashes,
    * h_j = h1 + j·h2 over the pre-hashed shingles). */
  private val minhashSigCte = {
    val cols = (0 until 16)
      .map(j => s"min(h1 + $j * h2) AS mh$j").mkString(",\n               ")
    s"sig AS (SELECT doc_id,\n               $cols\n             FROM sh GROUP BY doc_id)"
  }

  /** SimHash CTEs `sim(doc_id, simhash)` over an arbitrary source CTE /
    * table with (doc_id, text) (mirror of Dedup.simhash: 32
    * frequency-weighted sign sums over the bits of each token's md5-32).
    * Parameterized so the prep composition can hash the GATED corpus
    * rather than the whole table. */
  private def simhashCteOver(src: String) = {
    val sums = (0 until 32)
      .map(b => s"sum((((h >> $b) & 1)*2 - 1) * cnt) AS s$b").mkString(",\n               ")
    val bits = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)").mkString(" + ")
    s"""toks AS (SELECT doc_id, w, count(*) AS cnt
               FROM (SELECT doc_id, unnest($toksSql) AS w FROM $src) t
               GROUP BY doc_id, w),
        th AS (SELECT doc_id, cnt, ${md5L32("w")} AS h FROM toks),
        bits AS (SELECT doc_id,
               $sums
             FROM th GROUP BY doc_id),
        sim AS (SELECT doc_id, ($bits)::BIGINT AS simhash FROM bits)"""
  }
  private val simhashCte = simhashCteOver("documents")

  /** Generated DuckDB mirror of [[graft.functions.HilbertValue]]'s
    * 21-step quadrant walk (the `hilbert_key` query): each step consumes
    * the previous step's rotated sub-square coordinates, so the loop
    * unrolls into a chained-CTE pipeline with per-step column names (no
    * alias shadowing). Integer-exact throughout — s²·((3·rx) XOR ry)
    * sums to a 42-bit key, far inside BIGINT. */
  private def hilbertOracleSql: String = {
    val bits = graft.functions.ZValue.BITS
    val steps = (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      val hx = s"hx_$k"; val hy = s"hy_$k"
      val rx = s"(CASE WHEN ($hx & $s) != 0 THEN 1 ELSE 0 END)"
      s"""h${k + 1} AS (SELECT event_id, x, y,
          CASE WHEN ($hy & $s) = 0
               THEN (CASE WHEN ($hx & $s) != 0 THEN ${s - 1} - $hy ELSE $hy END)
               ELSE $hx END AS hx_${k + 1},
          CASE WHEN ($hy & $s) = 0
               THEN (CASE WHEN ($hx & $s) != 0 THEN ${s - 1} - $hx ELSE $hx END)
               ELSE $hy END AS hy_${k + 1},
          d_$k + ${s * s} * xor((3 * $rx)::BIGINT,
            (CASE WHEN ($hy & $s) != 0 THEN 1 ELSE 0 END)::BIGINT) AS d_${k + 1}
        FROM h$k)"""
    }
    s"""WITH h0 AS (SELECT event_id, user_id AS x,
            (epoch_us(ts::TIMESTAMP) // 86400000000) AS y,
            user_id AS hx_0,
            (epoch_us(ts::TIMESTAMP) // 86400000000) AS hy_0,
            0::BIGINT AS d_0
          FROM events),
        ${steps.mkString(",\n        ")}
        SELECT event_id, x, y, d_$bits AS hkey FROM h$bits"""
  }

  /** Generated DuckDB mirror of the [[graft.model.StableRidge]] fit+predict
    * queries (`ml1_ridge_forecast`, `ml1_ridge_forecast_per_key`): exact
    * HUGEINT Gram sums over the quantized WIN-1 windows, then the solve as
    * a lateral-alias chain replaying [[graft.model.StableRidge.solve]]'s
    * exact operation order — every double op is individually IEEE-
    * deterministic, so the weights (and the rounded predictions) are
    * bit-identical across engines. `perKey` fits one model per user on
    * that user's own min/max scaling (the reference's per-ticker
    * semantics); global fits one model on all users' windows under the
    * global scaler. */
  private def ml1OracleSql(perKey: Boolean): String = {
    import graft.model.StableRidge
    val seqLen = 10; val horizon = 5
    val leads = (1 to seqLen + horizon - 1).map { k =>
      val name = if (k < seqLen) f"f${k + 1}%02d" else s"l${k - seqLen + 1}"
      s"lead(value,$k) OVER w AS $name"
    }.mkString(",\n             ")
    val fcols = (1 to seqLen).map(k => f"f$k%02d")
    val lcols = (1 to horizon).map(h => s"l$h")
    def scale(c: String) = s"(CASE WHEN mx > mn THEN ($c - mn)/(mx - mn) ELSE 0.0 END)"
    def qexpr(c: String) = s"CAST(floor(${scale(c)} * 67108864 + 0.5) AS HUGEINT)"
    val qxs = (s"CAST(67108864 AS HUGEINT) AS qx_0" +:
      (fcols.zipWithIndex.map { case (c, i) => s"${qexpr(c)} AS qx_${i + 1}" } ++
        lcols.zipWithIndex.map { case (c, h) => s"${qexpr(c)} AS qy_${h + 1}" }))
      .mkString(",\n             ")
    val gsums =
      ((for { i <- 0 to seqLen; j <- i to seqLen } yield s"sum(qx_$i * qx_$j) AS g_${i}_$j") ++
        (for { i <- 0 to seqLen; h <- 1 to horizon } yield s"sum(qx_$i * qy_$h) AS c_${i}_$h"))
        .mkString(",\n             ")
    val stats =
      if (perKey) "SELECT user_id, min(value) AS mn, max(value) AS mx FROM events GROUP BY user_id"
      else "SELECT min(value) AS mn, max(value) AS mx FROM events"
    val winCols = (if (perKey) Seq("user_id") else Nil) ++ fcols ++ lcols
    val qFrom = if (perKey) "FROM win w JOIN stats s ON s.user_id = w.user_id" else "FROM win, stats"
    val qUid = if (perKey) "w.user_id,\n             " else ""
    val gramSel = if (perKey) "user_id,\n             " else ""
    val gramGroup = if (perKey) "\n           GROUP BY user_id" else ""
    val us = (1 to seqLen).map { k =>
      s"floor(${scale(s"max(CASE WHEN rn = ${seqLen + 1 - k} THEN value END)")} * 67108864 + 0.5)/67108864.0 AS u_$k"
    }.mkString(",\n             ")
    val lastFrom = if (perKey) "JOIN stats s ON s.user_id = t.user_id" else ", stats"
    val finalFrom =
      if (perKey) "FROM lastw l JOIN slv ON slv.user_id = l.user_id JOIN stats st ON st.user_id = l.user_id"
      else "FROM lastw l, slv, stats st"
    val preds = (1 to horizon).map { h =>
      s"round(CASE WHEN mx > mn THEN ${StableRidge.sqlPredict(seqLen, h)} * (mx - mn) + mn ELSE mn END, 4) AS p$h"
    }.mkString(",\n           ")
    val (solveStages, slvName) = StableRidge.sqlSolveStages(seqLen, horizon, "gram")
    s"""WITH stats AS ($stats),
        win AS (
          SELECT ${winCols.mkString(", ")} FROM (
            SELECT user_id, value AS f01,
             $leads
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
          WHERE l5 IS NOT NULL),
        q AS (
          SELECT $qUid$qxs
          $qFrom),
        gram AS (
          SELECT $gramSel$gsums
           FROM q$gramGroup),
        ${solveStages.mkString(",\n        ")},
        slv AS (SELECT * FROM $slvName),
        lastw AS (
          SELECT t.user_id,
             $us
          FROM (SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t $lastFrom
          WHERE rn <= $seqLen
          GROUP BY t.user_id, mn, mx
          HAVING count(*) >= $seqLen)
        SELECT l.user_id,
           $preds
        $finalFrom"""
  }

  /** Generated DuckDB mirror of [[graft.model.StableBoost]]'s
    * `ml1_boost_forecast`: quantize the scaled windows to the 2^-26 grid
    * as BIGINTs, then replay each boosting round as three CTEs —
    * exact-integer per-candidate residual sums over the fixed (lag,
    * threshold) grid, the grid-snapped leaf means + integer split score
    * with the (gain DESC, j, k) argmax as ORDER BY ... LIMIT 1, and the
    * integer residual update — and finally the same stump-sum projection
    * over each user's latest quantized window. Every float op
    * (the two per-leaf divides and the final scale-back) is replayed in
    * [[graft.model.StableBoost]]'s canonical order, so predictions are
    * bit-identical across engines. */
  private def ml1BoostOracleSql(perKey: Boolean): String = {
    import graft.model.{StableBoost, StableRidge}
    val seqLen = 10; val horizon = 5; val rounds = 4
    val leads = (1 to seqLen + horizon - 1).map { k =>
      val name = if (k < seqLen) f"f${k + 1}%02d" else s"l${k - seqLen + 1}"
      s"lead(value,$k) OVER w AS $name"
    }.mkString(",\n             ")
    val fcols = (1 to seqLen).map(k => f"f$k%02d")
    val lcols = (1 to horizon).map(h => s"l$h")
    def scale(c: String) = s"(CASE WHEN mx > mn THEN ($c - mn)/(mx - mn) ELSE 0.0 END)"
    def qexpr(c: String) = s"CAST(floor(${scale(c)} * ${StableRidge.Q} + 0.5) AS BIGINT)"
    val qxs = (fcols.zipWithIndex.map { case (c, i) => s"${qexpr(c)} AS qx_${i + 1}" } ++
      lcols.zipWithIndex.map { case (c, h) => s"${qexpr(c)} AS qy_${h + 1}" })
      .mkString(",\n             ")
    val (boostStages, stumpSum) = StableBoost.sqlBoostStages(seqLen, horizon, rounds, perKey)
    val us = (1 to seqLen).map { k =>
      s"CAST(floor(${scale(s"max(CASE WHEN rn = ${seqLen + 1 - k} THEN value END)")} * ${StableRidge.Q} + 0.5) AS BIGINT) AS qu_$k"
    }.mkString(",\n             ")
    val preds = (1 to horizon).map { h =>
      // window slot j of the latest window is qu_j — rebind the stump
      // sum's qx_j names to qu_j
      // descending so "qx_1" cannot clobber the prefix of "qx_10"
      val ss = (seqLen to 1 by -1).foldLeft(stumpSum(h)) { (acc, j) =>
        acc.replace(s"qx_$j", s"qu_$j")
      }
      s"round(CASE WHEN mx > mn THEN (CAST(f0_$h + $ss AS DOUBLE)/${StableRidge.Q}.0) * (mx - mn) + mn ELSE mn END, 4) AS p$h"
    }.mkString(",\n           ")
    val stats =
      if (perKey) "SELECT user_id, min(value) AS mn, max(value) AS mx FROM events GROUP BY user_id"
      else "SELECT min(value) AS mn, max(value) AS mx FROM events"
    val winCols = (if (perKey) Seq("t.user_id") else Nil) ++ fcols ++ lcols
    val qSel = if (perKey) "w.user_id,\n             " else ""
    val qFrom = if (perKey) "FROM win w JOIN stats s ON s.user_id = w.user_id" else "FROM win, stats"
    val lastFrom = if (perKey) "JOIN stats s ON s.user_id = t.user_id" else ", stats"
    val stumpNames = for (h <- 1 to horizon; t <- 1 to rounds) yield s"s_${h}_$t"
    val finalFrom =
      if (perKey)
        "FROM lastw l JOIN f0 ON f0.user_id = l.user_id " +
          stumpNames.map(s => s"JOIN $s ON $s.user_id = l.user_id").mkString(" ") +
          " JOIN stats st ON st.user_id = l.user_id"
      else s"FROM lastw l, f0, ${stumpNames.mkString(", ")}, stats st"
    s"""WITH stats AS ($stats),
        win AS (
          SELECT ${winCols.mkString(", ")} FROM (
            SELECT user_id, value AS f01,
             $leads
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
          WHERE l5 IS NOT NULL),
        q AS (
          SELECT $qSel$qxs
          $qFrom),
        ${boostStages.mkString(",\n        ")},
        lastw AS (
          SELECT t.user_id,
             $us
          FROM (SELECT user_id, value,
                row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t $lastFrom
          WHERE rn <= $seqLen
          GROUP BY t.user_id, mn, mx
          HAVING count(*) >= $seqLen)
        SELECT l.user_id,
           $preds
        $finalFrom"""
  }

  /** Mirror of [[graft.analytics.Distill.distillGate]]: the 5 integer-
    * ratio features + the C4 teacher bit, quantized to the 2^-26 grid,
    * then the SAME generated boost chain as the ml1 oracles (seqLen=5
    * features, horizon=1 label, 6 rounds) and the per-doc score as plan
    * scalars. Every division is integer-through-IEEE-double, so the
    * feature values — and hence the quantized grid points, the fit, and
    * the scores — are bit-identical across engines. */
  private def txtDistillOracleSql: String = {
    import graft.model.{StableBoost, StableRidge}
    val nQ = StableRidge.Q
    val rounds = graft.analytics.Distill.Rounds
    val nf = graft.analytics.Distill.Feats
    val (stages, stumpSum) =
      StableBoost.sqlBoostStages(seqLen = nf, horizon = 1, rounds = rounds)
    val langCase =
      """CASE WHEN len(regexp_extract_all(text, '\b(the|order|fast|scan)\b')) >= len(regexp_extract_all(text, '\b(stream|merge|window)\b'))
              AND len(regexp_extract_all(text, '\b(the|order|fast|scan)\b')) >= len(regexp_extract_all(text, '\b(table|query|group)\b'))
              AND len(regexp_extract_all(text, '\b(the|order|fast|scan)\b')) >= len(regexp_extract_all(text, '\b(join|filter|sort)\b')) THEN 'en'
             WHEN len(regexp_extract_all(text, '\b(stream|merge|window)\b')) >= len(regexp_extract_all(text, '\b(table|query|group)\b'))
              AND len(regexp_extract_all(text, '\b(stream|merge|window)\b')) >= len(regexp_extract_all(text, '\b(join|filter|sort)\b')) THEN 'de'
             WHEN len(regexp_extract_all(text, '\b(table|query|group)\b')) >= len(regexp_extract_all(text, '\b(join|filter|sort)\b')) THEN 'es'
             ELSE 'fr' END"""
    val qxs = (1 to nf)
      .map(i => s"CAST(floor(f$i * $nQ + 0.5) AS BIGINT) AS qx_$i")
      .mkString(",\n             ")
    val margin = (cx: String) =>
      s"LEAST(GREATEST($cx - c_en + 4, 0), 8) / 8.0"
    val stumpNames = (1 to rounds).map(t => s"s_1_$t").mkString(", ")
    s"""WITH raw AS MATERIALIZED (
          SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
            length(text)::BIGINT AS n_chars,
            len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS n_punct,
            len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))::BIGINT AS n_stop,
            len(list_distinct($toksSql))::BIGINT AS n_distinct,
            len(regexp_extract_all(text, '\\b(the|order|fast|scan)\\b'))::BIGINT AS c_en,
            len(regexp_extract_all(text, '\\b(stream|merge|window)\\b'))::BIGINT AS c_de,
            len(regexp_extract_all(text, '\\b(table|query|group)\\b'))::BIGINT AS c_es,
            len(regexp_extract_all(text, '\\b(join|filter|sort)\\b'))::BIGINT AS c_fr,
            $langCase AS lang_pred
          FROM documents),
        feats AS MATERIALIZED (
          SELECT doc_id,
            NOT (n_tokens < 20 OR n_tokens > 1000 OR n_punct * 10 > n_chars
                 OR n_stop * 20 < n_tokens OR lang_pred <> 'en') AS teacher_keep,
            LEAST(n_tokens, 159) / 159.0 AS f1,
            LEAST(n_tokens, 1024) / 1024.0 AS f2,
            LEAST(n_punct / n_chars * 1.25, 1.0) AS f3,
            LEAST(n_stop / n_tokens * 2.5, 1.0) AS f4,
            ${margin("c_de")} AS f5,
            ${margin("c_es")} AS f6,
            ${margin("c_fr")} AS f7,
            n_distinct / n_tokens AS f8
          FROM raw),
        q AS MATERIALIZED (
          SELECT doc_id, teacher_keep,
             $qxs,
             (CASE WHEN teacher_keep THEN $nQ ELSE 0 END)::BIGINT AS qy_1
          FROM feats),
        ${stages.mkString(",\n        ")}
        SELECT q.doc_id, q.teacher_keep,
               f0_1 + ${stumpSum(1)} AS score_q,
               f0_1 + ${stumpSum(1)} >= ${graft.analytics.Distill.KeepThresholdQ} AS student_keep
        FROM q, f0, $stumpNames
        ORDER BY doc_id"""
  }

  /** Hyperplane-LSH banded-signature CTEs (mirror of
    * `Similarity.bandedSignatures` / [[graft.functions.HyperplaneSig]]):
    * the plane matrix is embedded as VALUES literals (md5-derived doubles
    * — `Double.toString` round-trips exactly through DuckDB's parser),
    * and each dot product is a `list_reduce` — DuckDB's sequential
    * left-to-right fold, the same accumulation order as the native
    * expression's loop, so every sign bit (and hence every bucket) is
    * bit-identical. Yields CTEs `eb(vec_id, e)` and
    * `sig(vec_id, band, bucket)`. */
  private def lshSigCtes(dims: Int = 64, bands: Int = 8, rowsPerBand: Int = 4): String = {
    val rows = (0 until bands * rowsPerBand).map { p =>
      val comps = (0 until dims)
        .map(d => graft.functions.HyperplaneSig.planeComponent(p, d))
      s"($p, [${comps.mkString(", ")}])"
    }.mkString(",\n             ")
    s"""eb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        planes AS (SELECT * FROM (VALUES
             $rows) pl(plane, pv)),
        dots AS (SELECT v.vec_id, p.plane,
               CASE WHEN list_reduce(list_transform(range(1, ${dims + 1}),
                      d -> v.e[d] * p.pv[d]), (a, b) -> a + b) > 0
                    THEN 1 << (p.plane % $rowsPerBand) ELSE 0 END AS bit
             FROM eb v, planes p),
        sig AS (SELECT vec_id, plane // $rowsPerBand AS band, sum(bit)::INT AS bucket
             FROM dots GROUP BY vec_id, band)"""
  }

  def oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // the artifact-served PQ rung must reproduce the inline-trained rung
    // EXACTLY — same oracle by construction (the round trip changes the
    // plan, never a row; IndexArtifactsSpec pins row equality too)
    "knn_ann_ivf_pq_served" -> oracleSqlBase("knn_ann_ivf_pq"),
    "knn_ann_ivf_opq_served" -> oracleSqlBase("knn_ann_ivf_opq"),
    "knn_ann_ivf_sq8_served" -> oracleSqlBase("knn_ann_ivf_sq8"),
    // the ingest lifecycle (base build -> insert by the stored rule ->
    // compact) must reproduce the fresh full-corpus index exactly: the
    // rounds-0 seed set is contained in the base split by construction
    // (Similarity.InsertHashThreshold), so the same oracle applies
    "knn_ann_ivf_ins_served" -> oracleSqlBase("knn_ann_ivf"),
    // the delete lifecycle serves with LIVE tombstones: residents are the
    // low-hash survivors, centroids/queries stay full-corpus (the seed
    // set is all low-hash, so it survives the delete by construction)
    "knn_ann_ivf_del_served" -> ivfFlatOracleSql(
      s"WHERE ${md5L60("v.vec_id::VARCHAR")} < ${graft.analytics.Similarity.InsertHashThreshold}"),
    // the CODED ingest lifecycles (r17 VERDICT #1): the oracle replays
    // train-on-base / encode-everything from first principles — a
    // hash-match proves the INSERT-time encode against the frozen model
    // equals the build-time encode (the FAISS add contract at the query
    // surface). PQ/OPQ: codebook seeds + Lloyd corpus + centroid seeds
    // base-scoped; OPQ additionally fits the rotation on the base.
    // SQ8: only the centroid seeding is base-scoped (per-vector codes).
    "knn_ann_ivf_pq_ins_served" -> pqOracleSqlOver(
      "d AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
      Some(insBasePred)),
    "knn_ann_ivf_sq8_ins_served" -> sq8OracleSqlOver(Some(insBasePred)),
    "knn_ann_ivf_opq_ins_served" -> pqOracleSqlOver(
      opqDChainSql(Some(insBasePred)), Some(insBasePred)),
    // the projected rung's artifact round trip must change nothing: the
    // stored sign matrix IS the build matrix, centroids/membership are
    // the inline chain's — same oracle as the inline twin
    "knn_ann_ivf_proj_served" -> oracleSqlBase("knn_ann_ivf_proj"),
    "knn_eval" -> knnEvalOracleSql,
    // per-list resident histogram: the oracle re-derives the assignment
    // from the rule while the engine reads the persisted artifact — a
    // match is an integrity proof of the membership, not just arithmetic
    "q_ivf_list_stats" -> {
      def nn(filter: String, keep: Int, idAs: String, eAs: String) =
        s"""SELECT $idAs, $eAs, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e")}),
          counts AS (SELECT list_id, count(*)::BIGINT AS n_residents
                     FROM lists GROUP BY list_id),
          tot AS (SELECT sum(n_residents)::BIGINT AS n FROM counts)
          SELECT list_id, n_residents,
                 (n_residents * 1000 // tot.n)::BIGINT AS share_pm
          FROM counts, tot ORDER BY list_id"""
    },
  )

  /** Deterministic IVF-Flat oracle: hash-sampled centroids ->
    * nearest-list assignment -> probe 4 lists -> exact cosine rank
    * (mirror of `Similarity.annIvfCosine`; cosines rounded to 4 before
    * ranking on both sides, ties by id). `residentFilter` narrows the
    * RESIDENT set only (`knn_ann_ivf_del_served`: tombstoned ids are
    * gone from the lists) — centroid seeds and the query batch always
    * come from the full corpus, exactly like the engine (queries are
    * arrivals; the seed set survives a high-hash delete by
    * construction). */
  private def ivfFlatOracleSql(residentFilter: String): String = {
    def nn(filter: String, keep: Int, idAs: String, eAs: String) =
      s"""SELECT $idAs, $eAs, c_id AS list_id FROM (
            SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, c.c_id,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                         c.c_id) AS rk
            FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
    s"""WITH cent AS (
          SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
          ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
        lists AS (${nn(residentFilter, 1, "vec_id", "e")}),
        probes AS (${nn("WHERE v.vec_id < 10", 4, "q_id", "qe")}),
        cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                 FROM lists l JOIN probes p ON p.list_id = l.list_id
                                           AND l.vec_id <> p.q_id)
        SELECT q_id, n_id, rank, cos FROM (
          SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos,
            row_number() OVER (PARTITION BY q_id
              ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id)::BIGINT AS rank
          FROM cand) t
        WHERE rank <= 5"""
  }

  /** `knn_eval` oracle: each rung's existing oracle SQL becomes a CTE
    * (scopes nest, so CTE-name reuse across rungs shadows harmlessly),
    * then the metric arithmetic replays the engine's exact integer
    * forms — truncating `//` division, the interpolated NDCG gain table
    * from [[graft.analytics.Similarity.ndcgGains]] (shared derivation,
    * cannot drift). */
  private def knnEvalOracleSql: String = {
    val gains = graft.analytics.Similarity.ndcgGains(5)
    val idcg = gains.sum
    // the delete lifecycle's survivor set: low-hash ids (the engine's
    // InsertHashThreshold split) — both its serving rung AND its exact
    // ground truth are scoped to the survivors, so the del row measures
    // quality-invariance under delete (== a fresh index on the survivors)
    val survF =
      s"WHERE ${md5L60("v.vec_id::VARCHAR")} < ${graft.analytics.Similarity.InsertHashThreshold}"
    s"""WITH exact_gt AS (${oracleSqlBase("knn_exact")}),
        exact_surv AS (
          SELECT q_id, n_id FROM (
            SELECT q.q_id, v.vec_id AS n_id,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY round(list_cosine_similarity(q.qe, v.embedding::DOUBLE[]), 4) DESC,
                         v.vec_id) AS rank
            FROM (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
                  FROM embeddings WHERE vec_id < 10) q, embeddings v
            $survF AND v.vec_id <> q.q_id) t
          WHERE rank <= 5),
        r_ivf AS (${oracleSqlBase("knn_ann_ivf")}),
        r_pq AS (${oracleSqlBase("knn_ann_ivf_pq")}),
        r_pq_ins AS (${pqOracleSqlOver(
          "d AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
          Some(insBasePred))}),
        r_opq AS (${oracleSqlBase("knn_ann_ivf_opq")}),
        r_pca AS (${pqOracleSqlOver(opqPcaDChainSql)}),
        r_sq8 AS (${oracleSqlBase("knn_ann_ivf_sq8")}),
        r_proj AS (${oracleSqlBase("knn_ann_ivf_proj")}),
        r_del AS (${ivfFlatOracleSql(survF)}),
        ev AS (SELECT 'ivf' AS rung, q_id, rank, n_id FROM r_ivf
               UNION ALL SELECT 'pq' AS rung, q_id, rank, n_id FROM r_pq
               UNION ALL SELECT 'opq' AS rung, q_id, rank, n_id FROM r_opq
               -- the PCA cascade (r18), replayed from first principles —
               -- on this corpus its gates refuse and the row must EQUAL
               -- the pq row (the never-a-loss law as an oracled equality)
               UNION ALL SELECT 'pca' AS rung, q_id, rank, n_id FROM r_pca
               UNION ALL SELECT 'sq8' AS rung, q_id, rank, n_id FROM r_sq8
               UNION ALL SELECT 'proj' AS rung, q_id, rank, n_id FROM r_proj
               -- the ingest lifecycle reproduces the fresh index
               -- row-for-row (the knn_ann_ivf_ins_served law), so its
               -- eval rung replays from the same fresh-IVF SQL
               UNION ALL SELECT 'ivf_ins' AS rung, q_id, rank, n_id FROM r_ivf
               -- the CODED ingest lifecycle (r18): train-on-base /
               -- encode-everything, replayed from first principles
               UNION ALL SELECT 'pq_ins' AS rung, q_id, rank, n_id FROM r_pq_ins),
        hits AS (SELECT ev.rung, ev.q_id, ev.rank,
                   CASE WHEN e.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
                 FROM ev LEFT JOIN exact_gt e
                   ON e.q_id = ev.q_id AND e.n_id = ev.n_id
                 UNION ALL
                 SELECT 'ivf_del' AS rung, d.q_id, d.rank,
                   CASE WHEN s.n_id IS NOT NULL THEN 1 ELSE 0 END AS hit
                 FROM r_del d LEFT JOIN exact_surv s
                   ON s.q_id = d.q_id AND s.n_id = d.n_id),
        perq AS (SELECT rung, q_id, sum(hit)::BIGINT AS n_hits,
                   min(CASE WHEN hit = 1 THEN rank END) AS first_hit,
                   sum(CASE WHEN hit = 1
                        THEN ([${gains.mkString(", ")}])[rank] ELSE 0 END)::BIGINT AS dcg
                 FROM hits GROUP BY rung, q_id)
        SELECT rung,
               (sum(n_hits) * 1000 // 50)::BIGINT AS recall_pm,
               (sum(CASE WHEN first_hit IS NULL THEN 0
                    ELSE 1000000 // first_hit END) // 10)::BIGINT AS mrr_ppm,
               (sum(dcg * 1000 // $idcg) // 10)::BIGINT AS ndcg_pm
        FROM perq GROUP BY rung ORDER BY rung"""
  }

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "ml1_ridge_forecast" -> ml1OracleSql(perKey = false),
    "ml1_ridge_forecast_per_key" -> ml1OracleSql(perKey = true),
    "ml1_boost_forecast" -> ml1BoostOracleSql(perKey = false),
    "ml1_boost_forecast_per_key" -> ml1BoostOracleSql(perKey = true),
    "txt_quality_distill" -> txtDistillOracleSql,
    "knn_ann_lsh" ->
      s"""WITH ${lshSigCtes()},
          q AS (SELECT vec_id AS q_id, band, bucket FROM sig WHERE vec_id < 10),
          cand AS (SELECT DISTINCT q.q_id, s.vec_id AS n_id
                   FROM sig s JOIN q ON s.band = q.band AND s.bucket = q.bucket
                                     AND s.vec_id <> q.q_id),
          scored AS (SELECT c.q_id, c.n_id,
                       round(list_cosine_similarity(a.e, b.e), 4) AS cos
                     FROM cand c
                     JOIN eb a ON a.vec_id = c.q_id
                     JOIN eb b ON b.vec_id = c.n_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, n_id)::BIGINT AS rank
            FROM scored) t
          WHERE rank <= 5""",
    "dedup_embedding_lsh" ->
      s"""WITH ${lshSigCtes()},
          cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                                         AND a.vec_id < b.vec_id)
          SELECT vec_a, vec_b, cos FROM (
            SELECT c.vec_a, c.vec_b,
                   round(list_cosine_similarity(ea.e, eb2.e), 4) AS cos
            FROM cand c
            JOIN eb ea ON ea.vec_id = c.vec_a
            JOIN eb eb2 ON eb2.vec_id = c.vec_b) t
          WHERE cos >= 0.4""",
    "dedup_contam_semantic" ->
      // the dedup_embedding_lsh sig CTEs restricted to CROSS-FOLD pairs:
      // folds by the md5-bucket split (the prepSurvCtes formula over
      // vec_id), candidates = train×eval band collisions, verified by the
      // same exact 4-dp cosine
      s"""WITH ${lshSigCtes()},
          folds AS (SELECT vec_id,
                      CASE WHEN (('0x'||substr(md5(vec_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 800 THEN 'train'
                           WHEN (('0x'||substr(md5(vec_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 900 THEN 'val'
                           ELSE 'test' END AS fold
                    FROM eb),
          cand AS (SELECT DISTINCT t.vec_id AS train_doc, e2.vec_id AS eval_doc,
                          f2.fold AS eval_fold
                   FROM sig t
                   JOIN folds f ON f.vec_id = t.vec_id AND f.fold = 'train'
                   JOIN sig e2 ON e2.band = t.band AND e2.bucket = t.bucket
                   JOIN folds f2 ON f2.vec_id = e2.vec_id AND f2.fold <> 'train')
          SELECT train_doc, eval_doc, eval_fold, cos FROM (
            SELECT c.train_doc, c.eval_doc, c.eval_fold,
                   round(list_cosine_similarity(ea.e, eb2.e), 4) AS cos
            FROM cand c
            JOIN eb ea ON ea.vec_id = c.train_doc
            JOIN eb eb2 ON eb2.vec_id = c.eval_doc) t
          WHERE cos >= 0.4 ORDER BY train_doc, eval_doc""",
    "dedup_embedding_clusters" ->
      // same LSH pair generation as dedup_embedding_lsh, then connected
      // components as a recursive CTE (the same fixpoint the path-halving
      // propagation converges to — mirrors the dedup_clusters oracle)
      s"""WITH RECURSIVE ${lshSigCtes()},
          cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                                         AND a.vec_id < b.vec_id),
          pairs AS MATERIALIZED (SELECT vec_a, vec_b FROM (
                     SELECT c.vec_a, c.vec_b,
                            round(list_cosine_similarity(ea.e, eb2.e), 4) AS cos
                     FROM cand c
                     JOIN eb ea ON ea.vec_id = c.vec_a
                     JOIN eb eb2 ON eb2.vec_id = c.vec_b) t
                   WHERE cos >= 0.4),
          edges AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM pairs
                    UNION ALL SELECT vec_b, vec_a FROM pairs),
          reach(id, lbl) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id)
          SELECT id AS vec_id, min(lbl) AS keeper FROM reach GROUP BY id""",
    "graph_pagerank" ->
      // mirror of GraphRank.pagerankQuery: the dedup_embedding_lsh pair
      // generation symmetrized into a directed edge frame, then 10
      // power-iteration rounds as a recursive CTE in ALL-INTEGER
      // arithmetic on the 1e12 grid — r' = (15·1e12 + 85·Σ_in(r div
      // deg)) div 100 — so both engines replay bit-identical longs (no
      // FP accumulation order). Top 25 hubs by final mass, ties by node.
      s"""WITH RECURSIVE ${lshSigCtes()},
          cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                                         AND a.vec_id < b.vec_id),
          lshp AS MATERIALIZED (SELECT vec_a, vec_b FROM (
                     SELECT c.vec_a, c.vec_b,
                            round(list_cosine_similarity(ea.e, eb2.e), 4) AS cos
                     FROM cand c
                     JOIN eb ea ON ea.vec_id = c.vec_a
                     JOIN eb eb2 ON eb2.vec_id = c.vec_b) t
                   WHERE cos >= 0.4),
          edges AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM lshp
                    UNION ALL SELECT vec_b, vec_a FROM lshp),
          deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
          pr(node, it, r) AS (
            SELECT src, 0, 1000000000000::BIGINT FROM deg
            UNION ALL
            SELECT e.dst, p.it + 1,
              (15 * 1000000000000 + 85 * sum(p.r // dg.d)) // 100
            FROM pr p JOIN deg dg ON dg.src = p.node JOIN edges e ON e.src = p.node
            WHERE p.it < 10
            GROUP BY e.dst, p.it)
          SELECT node, mass, rank FROM (
            SELECT node, r AS mass,
                   row_number() OVER (ORDER BY r DESC, node)::BIGINT AS rank
            FROM pr WHERE it = 10) t
          WHERE rank <= 25""",
    "dedup_semantic" ->
      // SemDeDup mirror: same hash-seeded centroid sample + rounded-argmax
      // cluster assignment as knn_ann_ivf, then the paper's greedy
      // triangular sweep as a dominance join — a member is dropped iff a
      // (cent_cos ASC, vec_id ASC)-predecessor in its cluster is within tau
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          m AS MATERIALIZED (
            SELECT vec_id, e, c_id AS list_id, c AS cent_cos FROM (
              SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.c_id,
                     round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) AS c,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                                c.c_id) AS rk
              FROM embeddings v, cent c) t WHERE rk = 1),
          drp AS (SELECT DISTINCT a.vec_id FROM m a JOIN m b
                    ON a.list_id = b.list_id
                   AND (b.cent_cos < a.cent_cos
                        OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
                   AND round(list_cosine_similarity(a.e, b.e), 4) >= 0.4)
          SELECT m.vec_id, m.list_id, m.cent_cos, (d.vec_id IS NULL) AS kept
          FROM m LEFT JOIN drp d ON m.vec_id = d.vec_id""",
    "dedup_semantic_multi" ->
      // spill-band top-2 mirror: rk 1 and 2 of the same rounded-argmax
      // ranking; the second list survives iff its integer-shifted cosine
      // (round(round(cos,4)*1e4) — exact decimal shift) is within 500
      // (eps=0.05) of the winner's. Retention order stays GLOBAL on the
      // primary cent_cos; a member drops iff a predecessor shares ANY
      // assigned list within tau (DISTINCT = the pair-decision dedup).
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          sc AS (SELECT v.vec_id, v.embedding::DOUBLE[] AS e, c.c_id,
                   round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) AS c,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                              c.c_id) AS rk
                 FROM embeddings v, cent c),
          m AS MATERIALIZED (
            SELECT p.vec_id, p.e, p.c_id AS list_id, p.c AS cent_cos,
                   CASE WHEN round(p.c * 1e4, 0)::BIGINT - round(s.c * 1e4, 0)::BIGINT <= 500
                        THEN s.c_id END AS list_id2
            FROM sc p JOIN sc s ON p.vec_id = s.vec_id AND p.rk = 1 AND s.rk = 2),
          ax AS (SELECT vec_id, e, cent_cos, list_id AS al FROM m
                 UNION ALL
                 SELECT vec_id, e, cent_cos, list_id2 AS al FROM m WHERE list_id2 IS NOT NULL),
          drp AS (SELECT DISTINCT a.vec_id FROM ax a JOIN ax b
                    ON a.al = b.al
                   AND (b.cent_cos < a.cent_cos
                        OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
                   AND round(list_cosine_similarity(a.e, b.e), 4) >= 0.4)
          SELECT m.vec_id, m.list_id, m.list_id2, m.cent_cos, (d.vec_id IS NULL) AS kept
          FROM m LEFT JOIN drp d ON m.vec_id = d.vec_id""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
         round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
         round(avg(l_quantity),4) AS avg_qty, round(avg(l_extendedprice),4) AS avg_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q6_revenue_filter" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue FROM lineitem
         WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderpriority,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         WHERE c_mktsegment='BUILDING'
         GROUP BY o_orderkey, o_orderpriority
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_nation_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
         JOIN nation ON s_nationkey=n_nationkey
         GROUP BY n_name""",
    "q_top_customers" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice),2) AS total_spend,
         count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey=c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY total_spend DESC, c_custkey LIMIT 10""",
    "q_cust_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey=c_custkey AND o_totalprice > 400000)""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey=o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority""",
    "q_returns_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
         count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice, rk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders) t WHERE rk <= 3""",
    "q_running_spend" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend
         FROM orders""",
    "q_distinct_counts" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q_quantity_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
         count(*) AS n FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q_revenue_pivot" ->
      """SELECT l_returnflag,
         round(sum(CASE WHEN l_linestatus='F' THEN l_extendedprice*(1-l_discount) END),2) AS rev_f,
         round(sum(CASE WHEN l_linestatus='O' THEN l_extendedprice*(1-l_discount) END),2) AS rev_o
         FROM lineitem GROUP BY l_returnflag""",
    "q_order_histogram" ->
      """SELECT CAST(floor(o_totalprice/100000) AS BIGINT) AS bucket,
         count(*) AS n_orders FROM orders GROUP BY 1""",
    "q_parts_intersect" ->
      """SELECT l_partkey FROM lineitem WHERE l_returnflag='R'
         INTERSECT
         SELECT l_partkey FROM lineitem WHERE l_returnflag='A'""",
    "q_parts_except" ->
      """SELECT l_partkey FROM lineitem WHERE l_returnflag='R' AND l_quantity >= 48
         EXCEPT
         SELECT l_partkey FROM lineitem WHERE l_returnflag='A' AND l_quantity >= 48""",
    "q2_min_price_supp" ->
      """SELECT l_partkey, l_suppkey, round(min_price,2) AS min_price FROM (
           SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_price,
                  row_number() OVER (PARTITION BY l_partkey
                    ORDER BY min(l_extendedprice), l_suppkey) AS rk
           FROM lineitem GROUP BY l_partkey, l_suppkey) t
         WHERE rk = 1""",
    "q7_nation_trade" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
         sum(CAST(round(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) / 100.0 AS volume,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN supplier ON l_suppkey=s_suppkey
         JOIN nation cn ON c_nationkey=cn.n_nationkey
         JOIN nation sn ON s_nationkey=sn.n_nationkey
         WHERE cn.n_name <> sn.n_name
         GROUP BY cn.n_name, sn.n_name""",
    "q_exact_stats" ->
      // percentiles on the exact cent grid (mirror of Relational
      // .exactStats): interpolation over integer-valued doubles is the
      // same correctly-rounded op sequence in both engines, and the one
      // division back to price units is a single IEEE op — no rounding
      // of an inexact double at a decimal tie (an even-count median of
      // 2-dp prices IS a half-cent tie)
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) / 100.0 AS median_price,
         quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.9) / 100.0 AS p90_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q_approx_stats" ->
      // the exact half replays; the bounds columns are literal TRUE — the
      // Spark side computed them FROM the live sketches, so an HLL/t-digest
      // estimate escaping its range breaks this hash
      """SELECT l_returnflag, count(*) AS n_rows,
         round(min(l_extendedprice),2) AS min_price,
         round(max(l_extendedprice),2) AS max_price,
         TRUE AS approx_parts_in_range,
         TRUE AS approx_median_in_range
         FROM lineitem GROUP BY l_returnflag""",
    "bloom_semi" ->
      // the plain semi-join: the bloom prefilter is an execution detail
      """SELECT l_suppkey, count(*) AS n_items,
         (sum(round(l_quantity * 100))::BIGINT / 100.0) AS total_qty
         FROM lineitem
         WHERE l_suppkey IN (
           SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_3')
         GROUP BY l_suppkey""",
    "q_order_gaps" ->
      """SELECT o_custkey, round(avg(gap_days),4) AS avg_gap_days,
         max(gap_days) AS max_gap_days, count(*) + 1 AS n_orders
         FROM (SELECT o_custkey,
                 (epoch_ms(o_orderdate) - epoch_ms(lag(o_orderdate) OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey))) // 86400000 AS gap_days
               FROM orders) g
         WHERE gap_days IS NOT NULL GROUP BY o_custkey""",
    "q_spend_quartiles" ->
      """SELECT o_custkey, total_spend,
         ntile(4) OVER w AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM (SELECT o_custkey,
                 sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) / 100.0 AS total_spend
               FROM orders GROUP BY o_custkey) s
         WINDOW w AS (ORDER BY total_spend DESC, o_custkey)""",
    "tr1_change_filter" ->
      """SELECT user_id, event_id, value FROM (
         SELECT user_id, event_id, value,
                lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events) t WHERE prev IS NULL OR value <> prev""",
    "tr2_anchored_return" ->
      """SELECT user_id, event_id,
         round(value / first_value(value) OVER (PARTITION BY user_id
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1, 6) AS variation
         FROM events""",
    "nrm1_minmax_scale" ->
      """SELECT event_id,
         round(CASE WHEN mx > mn THEN (value-mn)/(mx-mn) ELSE 0.0 END, 6) AS scaled
         FROM events, (SELECT min(value) AS mn, max(value) AS mx FROM events)""",
    "win1_sliding_features" ->
      """SELECT user_id, event_id, f01,f02,f03,f04,f05,f06,f07,f08,f09,f10,
                l1,l2,l3,l4,l5 FROM (
         SELECT user_id, event_id, value AS f01,
           lead(value,1) OVER w AS f02, lead(value,2) OVER w AS f03,
           lead(value,3) OVER w AS f04, lead(value,4) OVER w AS f05,
           lead(value,5) OVER w AS f06, lead(value,6) OVER w AS f07,
           lead(value,7) OVER w AS f08, lead(value,8) OVER w AS f09,
           lead(value,9) OVER w AS f10, lead(value,10) OVER w AS l1,
           lead(value,11) OVER w AS l2, lead(value,12) OVER w AS l3,
           lead(value,13) OVER w AS l4, lead(value,14) OVER w AS l5
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
         WHERE l5 IS NOT NULL""",
    "win2_latest_window" ->
      """SELECT user_id, (11 - rn)::BIGINT AS pos, event_id, value FROM (
         SELECT user_id, event_id, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) t WHERE rn <= 10""",
    "jn1_fifo_rank_join" ->
      """WITH f AS (SELECT user_id, event_id AS f_event_id, value AS f_value,
                    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                    FROM events WHERE event_type='purchase'),
              a AS (SELECT user_id, event_id AS a_event_id, value AS a_value,
                    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                    FROM events WHERE event_type='view')
         SELECT user_id, f_event_id, f_value, a_event_id, a_value
         FROM f LEFT JOIN a USING (user_id, rn)""",
    "jn2_asof_join" ->
      """WITH v AS (SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
                    row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type='view') WHERE rn = 1),
           u AS (SELECT user_id, ts, event_id, value, 1 AS side, NULL AS v_value
                 FROM events WHERE event_type='purchase'
                 UNION ALL
                 SELECT user_id, ts, NULL, NULL, 0, value FROM v)
         SELECT user_id, event_id, value, last_view_value FROM (
           SELECT user_id, event_id, value, side,
             last_value(v_value IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_value
           FROM u) t WHERE side = 1""",
    "jn4_asof_native" ->
      // IDENTICAL oracle to jn2_asof_join BY DESIGN: the custom
      // AsOfMergeJoinExec must reproduce the composed operator's result
      // exactly, and the driver's hash gate enforces it
      """WITH v AS (SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
                    row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type='view') WHERE rn = 1),
           u AS (SELECT user_id, ts, event_id, value, 1 AS side, NULL AS v_value
                 FROM events WHERE event_type='purchase'
                 UNION ALL
                 SELECT user_id, ts, NULL, NULL, 0, value FROM v)
         SELECT user_id, event_id, value, last_view_value FROM (
           SELECT user_id, event_id, value, side,
             last_value(v_value IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_value
           FROM u) t WHERE side = 1""",
    "jn5_asof_forward" ->
      // forward mirror of jn4: first_value over the FOLLOWING frame with
      // side DESC so an equal-time view is inside the purchase's frame
      // (inclusive at-or-after, matching the negated merge exec)
      """WITH v AS (SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
                    row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type='view') WHERE rn = 1),
           u AS (SELECT user_id, ts, event_id, value, 1 AS side, NULL AS v_value
                 FROM events WHERE event_type='purchase'
                 UNION ALL
                 SELECT user_id, ts, NULL, NULL, 0, value FROM v)
         SELECT user_id, event_id, value, next_view_value FROM (
           SELECT user_id, event_id, value, side,
             first_value(v_value IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side DESC
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_value
           FROM u) t WHERE side = 1""",
    "jn3_asof_tolerance" ->
      """WITH v AS (SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
                    row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type='view') WHERE rn = 1),
           u AS (SELECT user_id, ts, event_id, value, 1 AS side,
                        NULL AS v_value, NULL::TIMESTAMP_NS AS v_ts
                 FROM events WHERE event_type='purchase'
                 UNION ALL
                 SELECT user_id, ts, NULL, NULL, 0, value, ts FROM v)
         SELECT user_id, event_id, value,
           CASE WHEN epoch_us(ts) - epoch_us(lt) <= 3600000000 THEN lv END AS view_value_1h
         FROM (
           SELECT user_id, ts, event_id, value, side,
             last_value(v_value IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv,
             last_value(v_ts IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
           FROM u) t WHERE side = 1""",
    "agg2_persistence_rmse" ->
      """SELECT user_id, round(sqrt(avg(pow(value - prev, 2))), 4) AS rmse FROM (
         SELECT user_id, value,
                lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events) t WHERE prev IS NOT NULL GROUP BY user_id""",
    "agg3_value_summary" ->
      """SELECT event_type, min(value) AS min_value, max(value) AS max_value,
         round(avg(value),4) AS avg_value, count(*) AS n
         FROM events GROUP BY event_type""",
    "src2_json_extract" ->
      """SELECT (json_extract_string(props,'$.k')::INT) % 10 AS k_bucket,
         count(*) AS n, round(sum(value),2) AS sum_value
         FROM events GROUP BY 1""",
    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n, round(sum(value),2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_sessionize" ->
      """WITH t AS (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts::TIMESTAMP)
                       - lag(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts_us,
             (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
           FROM t)
         SELECT user_id, session_id, count(*) AS n_events,
                ((max(ts_us) - min(ts_us)) // 1000000)::BIGINT AS duration_sec
         FROM s GROUP BY user_id, session_id""",
    "zorder_key" ->
      // bit-exact Morton interleave replayed in SQL: per bit i of each
      // 21-bit dimension, x's bit lands at position 2i and y's at 2i+1
      """SELECT event_id, user_id AS x,
           (epoch_us(ts::TIMESTAMP) // 86400000000) AS y,
           (list_sum([ (((user_id >> CAST(i AS BIGINT)) & 1)
                          << (2 * CAST(i AS BIGINT)))
                     + ((((epoch_us(ts::TIMESTAMP) // 86400000000)
                            >> CAST(i AS BIGINT)) & 1)
                          << (2 * CAST(i AS BIGINT) + 1))
               for i in range(0, 21) ]))::BIGINT AS zval
         FROM events""",
    "hilbert_key" -> hilbertOracleSql,
    "layout_zone_stats" ->
      // same Morton-interleave mirror as zorder_key; tile = zval >> 2*5
      // (32x32 cells), then plain min/max/count per tile
      """WITH z AS (
           SELECT user_id AS x,
             (epoch_us(ts::TIMESTAMP) // 86400000000) AS y,
             (list_sum([ (((user_id >> CAST(i AS BIGINT)) & 1)
                            << (2 * CAST(i AS BIGINT)))
                       + ((((epoch_us(ts::TIMESTAMP) // 86400000000)
                              >> CAST(i AS BIGINT)) & 1)
                            << (2 * CAST(i AS BIGINT) + 1))
                 for i in range(0, 21) ]))::BIGINT AS zval
           FROM events)
         SELECT zval >> 10 AS tile, count(*) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max,
           min(zval) AS z_min, max(zval) AS z_max
         FROM z GROUP BY 1""",
    "q_evt_slide" ->
      // overlap replication: each event belongs to the 3 epoch-aligned
      // hourly-slide windows of length 3h covering it (same alignment as
      // Spark's window(ts, '3 hours', '1 hour') with default startTime)
      """WITH e AS MATERIALIZED (
           SELECT event_type, epoch_us(ts::TIMESTAMP) AS ts_us,
                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         w AS MATERIALIZED (
           SELECT event_type, cents,
                  ((ts_us // 3600000000) - k) * 3600000000 AS ws_us
           FROM e, UNNEST([0,1,2]) AS u(k))
         SELECT ws_us, event_type, count(*) AS n,
                (sum(cents)::BIGINT / 100.0) AS sum_value
         FROM w GROUP BY ws_us, event_type""",
    "ts_outliers" ->
      // exact-integer MAD rule: |c·n − S|·n > 3·Σ|c_j·n − S| — identical
      // BIGINT algebra both engines (DuckDB's HUGEINT sums cast back)
      """WITH e AS MATERIALIZED (
           SELECT user_id, event_id,
                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         st AS MATERIALIZED (
           SELECT user_id, count(*) AS n, sum(cents) AS s
           FROM e GROUP BY user_id),
         d AS MATERIALIZED (
           SELECT e.user_id, e.event_id, e.cents, st.n, st.s,
                  abs(e.cents * st.n - st.s) AS dev
           FROM e JOIN st USING (user_id)),
         m AS MATERIALIZED (
           SELECT user_id, sum(dev) AS dev_sum FROM d GROUP BY user_id)
         SELECT d.user_id, d.event_id, (d.cents / 100.0) AS value,
                d.dev::BIGINT AS dev_scaled, d.n::BIGINT AS n
         FROM d JOIN m USING (user_id)
         WHERE d.dev * d.n > 3 * m.dev_sum""",
    "ts_ewma" ->
      // ordered-fold parity: list() collects the frame in window order and
      // list_reduce folds left from element 1 — integer cents × dyadic
      // weights keep every step exact, so the doubles are bit-equal and
      // NO round() is applied (decimal-tie rounding diverges cross-engine)
      """WITH c AS (SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT)::DOUBLE AS cents FROM events)
         SELECT user_id, event_id,
           list_reduce(list(cents) OVER w,
             (acc, x) -> acc * 0.75 + x * 0.25) / 100.0 AS ewma
         FROM c
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    "ts_seasonal" ->
      // mirror of SeriesQueries.seasonalProfile: exact BIGINT cent sums to
      // (user, hour-of-day), per-user rollup of that, outputs floor-scaled
      // micro-units via sign·(abs div ·) — no double rounding anywhere
      // (these small-integer ratios land on decimal ties constantly)
      """WITH c AS (SELECT user_id, (epoch_us(ts::TIMESTAMP) // 3600000000) % 24 AS phase,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          p AS (SELECT user_id, phase, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s
                FROM c GROUP BY 1, 2),
          u AS (SELECT user_id AS uu, sum(n)::BIGINT AS nu, sum(s)::BIGINT AS su
                FROM p GROUP BY 1),
          j AS (SELECT user_id, phase, n, s, nu, s * nu - su * n AS idx_n
                FROM p JOIN u ON uu = user_id)
          SELECT user_id, phase::BIGINT AS phase, n,
            ((CASE WHEN s < 0 THEN -1 ELSE 1 END)
              * (abs(s) * 10000 // n))::BIGINT AS phase_mean_u,
            ((CASE WHEN idx_n < 0 THEN -1 ELSE 1 END)
              * (abs(idx_n) * 10000 // (n * nu)))::BIGINT AS idx_u
          FROM j""",
    "ts_trend" ->
      // mirror of SeriesQueries.trendProfile: trailing-12 BIGINT cent sums,
      // residual numerator exact before the one scaled division, outputs
      // floor-scaled micro-units via sign·(abs div ·)
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events),
          wnd AS (SELECT user_id, event_id, cents,
                 (sum(cents) OVER w)::BIGINT AS s, (count(*) OVER w)::BIGINT AS n
               FROM c
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
          d AS (SELECT *, cents * n - s AS dev_n FROM wnd)
          SELECT user_id, event_id, n,
            ((CASE WHEN s < 0 THEN -1 ELSE 1 END)
              * (abs(s) * 10000 // n))::BIGINT AS trend_u,
            ((CASE WHEN dev_n < 0 THEN -1 ELSE 1 END)
              * (abs(dev_n) * 10000 // n))::BIGINT AS resid_u
          FROM d""",
    "ts_ohlc" ->
      // mirror of SeriesQueries.ohlcBars: daily bars, open/close by
      // arg_min/arg_max on the zero-padded (ts_us, event_id) string key
      // (a total order even under ts collisions), exact cent integers
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
          SELECT user_id, ts_us // 86400000000 AS bar,
            arg_min(cents, printf('%020d:%020d', ts_us, event_id)) AS open_c,
            max(cents) AS high_c, min(cents) AS low_c,
            arg_max(cents, printf('%020d:%020d', ts_us, event_id)) AS close_c,
            count(*)::BIGINT AS n_ticks, sum(cents)::BIGINT AS sum_c
          FROM c GROUP BY 1, 2""",
    "ts_autocorr" ->
      // five exact BIGINT sufficient statistics -> one shared double formula
      """WITH c AS (SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS x FROM events),
         p AS (SELECT user_id, x,
                 lead(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
               FROM c),
         s AS (SELECT user_id, count(*) AS n, sum(x)::BIGINT AS sx,
                 sum(y)::BIGINT AS sy, sum(x*x)::BIGINT AS sxx,
                 sum(y*y)::BIGINT AS syy, sum(x*y)::BIGINT AS sxy
               FROM p WHERE y IS NOT NULL GROUP BY user_id)
         SELECT user_id, n,
           round((n*sxy - sx*sy)::DOUBLE /
             sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6) AS r
         FROM s WHERE (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0""",
    "q_funnel" ->
      // first-occurrence ordered funnel; latencies are exact integer-µs
      // floor-division averages (all values positive, so // == div)
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us
                    FROM events),
         v AS (SELECT user_id, min(ts_us) AS t_view FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, v.t_view, min(e.ts_us) AS t_click
               FROM e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts_us > v.t_view
               GROUP BY e.user_id, v.t_view),
         p AS (SELECT e.user_id, c.t_click, min(e.ts_us) AS t_purchase
               FROM e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click
               GROUP BY e.user_id, c.t_click)
         SELECT 1::BIGINT AS stage, 'view' AS step, count(*) AS n_users,
                NULL::BIGINT AS avg_us_from_prev FROM v
         UNION ALL
         SELECT 2::BIGINT, 'click', count(*),
                (sum(t_click - t_view) // count(*))::BIGINT FROM c
         UNION ALL
         SELECT 3::BIGINT, 'purchase', count(*),
                (sum(t_purchase - t_click) // count(*))::BIGINT FROM p""",
    "q_window_funnel" ->
      // greedy earliest-next-step from every view anchor is exact for the
      // exists-a-chain semantics; 6 h window in integer micros
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
         v AS (SELECT user_id, ts_us AS t1 FROM e WHERE event_type = 'view'),
         c2 AS (SELECT v.user_id, v.t1, min(e.ts_us) AS t2
                FROM v LEFT JOIN e ON e.user_id = v.user_id
                     AND e.event_type = 'click' AND e.ts_us > v.t1
                GROUP BY v.user_id, v.t1),
         p3 AS (SELECT c2.user_id, c2.t1, c2.t2, min(e.ts_us) AS t3
                FROM c2 LEFT JOIN e ON e.user_id = c2.user_id
                     AND e.event_type = 'purchase'
                     AND c2.t2 IS NOT NULL AND e.ts_us > c2.t2
                GROUP BY c2.user_id, c2.t1, c2.t2),
         d AS (SELECT user_id, t1,
                 CASE WHEN t2 IS NOT NULL AND t2 <= t1 + 21600000000
                      THEN CASE WHEN t3 IS NOT NULL AND t3 <= t1 + 21600000000
                           THEN 3 ELSE 2 END
                      ELSE 1 END AS depth
               FROM p3)
         SELECT user_id, count(*)::BIGINT AS n_views, max(depth)::BIGINT AS depth
         FROM d GROUP BY user_id ORDER BY user_id""",
    "q_transitions" ->
      // row-normalized probability is one BIGINT/BIGINT IEEE division —
      // identical cross-engine without rounding
      """WITH t AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS from_type,
                  event_type AS to_type
           FROM events),
         m AS (SELECT from_type, to_type, count(*) AS n FROM t
               WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
         SELECT from_type, to_type, n,
                n / (sum(n) OVER (PARTITION BY from_type))::BIGINT AS p
         FROM m""",
    "q_trailing_spend" ->
      // RANGE frame over the epoch-day value: same-day orders share one
      // frame, so the sum is tie-insensitive; cents keep it exact
      """WITH o AS (SELECT o_orderkey, o_custkey,
                      epoch(o_orderdate)::BIGINT // 86400 AS day,
                      CAST(round(o_totalprice*100) AS BIGINT) AS cents
                    FROM orders)
         SELECT o_orderkey, o_custkey, day,
                CAST(sum(cents) OVER w AS BIGINT) AS spend_30d_cents,
                count(*) OVER w AS n_orders_30d
         FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""",
    "q_grouping_sets" ->
      // grouping() flags — not the NULLs — mark the superaggregate rows
      """SELECT l_returnflag, l_linestatus,
                CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
                CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
                sum(CAST(round(l_extendedprice*100) AS BIGINT))::BIGINT AS price_cents,
                count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
    "q10_returned_cust" ->
      // exact BIGINT cents revenue (q14's pattern): the top-20 cut orders
      // by revenue, so a summation-order float flip could change the ROW
      // SET, not just a value — exact algebra removes the class
      """SELECT c_custkey, c_name, n_name,
                round(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(round(l_discount*100) AS BIGINT)))::BIGINT
                  / 10000.0, 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN nation ON c_nationkey=n_nationkey
         WHERE l_returnflag='R'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q14_promo_share" ->
      // revenue summed exactly as cents*(100-disc100) in BIGINT, one
      // division by 1e4 — zero summation-order dependence (a rounded
      // DOUBLE sum diverged by a cent on the ~10k-row year groups)
      """SELECT ship_year, promo_revenue, total_revenue,
                round(100 * promo_revenue / total_revenue, 6) AS promo_pct
         FROM (SELECT year(l_shipdate)::BIGINT AS ship_year,
                 round(sum(CASE WHEN p_type='PROMO'
                   THEN CAST(round(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l_discount*100) AS BIGINT)) END)::BIGINT
                   / 10000.0, 2) AS promo_revenue,
                 round(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l_discount*100) AS BIGINT)))::BIGINT
                   / 10000.0, 2) AS total_revenue
               FROM lineitem JOIN part ON p_partkey=l_partkey
               GROUP BY 1) t""",
    "q18_big_orders" ->
      // integral quantities: the sum and BIGINT cast are exact
      """WITH big AS (SELECT l_orderkey, sum(l_quantity)::BIGINT AS order_qty
                      FROM lineitem GROUP BY l_orderkey
                      HAVING sum(l_quantity)::BIGINT > 300)
         SELECT c_custkey, c_name, o_orderkey,
                round(o_totalprice,2) AS o_totalprice, order_qty
         FROM big JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey""",
    "q19_bracket_revenue" ->
      // exact BIGINT cents revenue (q14's pattern)
      """SELECT count(*) AS n_rows,
                round(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(round(l_discount*100) AS BIGINT)))::BIGINT
                  / 10000.0, 2) AS revenue
         FROM lineitem JOIN part ON p_partkey=l_partkey
         WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand='Brand#23' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 25)
            OR (p_brand='Brand#34' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 35)""",
    "q8_market_share" ->
      // share = BIGINT 1e-4-dollar sums in ONE IEEE division (both
      // engines divide the same two exact integers)
      """WITH base AS (
           SELECT year(o_orderdate)::BIGINT AS o_year,
                  CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev1e4,
                  sn.n_name AS supp_nation
           FROM lineitem
           JOIN orders    ON l_orderkey = o_orderkey
           JOIN part      ON l_partkey = p_partkey
           JOIN customer  ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region    ON cn.n_regionkey = r_regionkey
           JOIN supplier  ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           WHERE r_name = 'EUROPE' AND p_type = 'STANDARD')
         SELECT o_year,
                round(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev1e4 ELSE 0 END)::BIGINT::DOUBLE
                      / sum(rev1e4)::BIGINT::DOUBLE, 6) AS mkt_share
         FROM base GROUP BY o_year ORDER BY o_year""",
    "q9_nation_profit" ->
      // profit on the 1e-4-dollar BIGINT grid: rev1e4 − retail_cents·qty·100,
      // summed exactly (retailprice cost proxy — the driver schema ships
      // no partsupp); the 2-decimal rounding is integer half-away-from-
      // zero on the grid (round(double,2) flips on half-cent sums)
      """SELECT nation, o_year,
                (CASE WHEN sum(amount1e4) >= 0
                      THEN  (sum(amount1e4)::BIGINT + 50) // 100
                      ELSE -((-sum(amount1e4)::BIGINT + 50) // 100) END)
                / 100.0 AS sum_profit
         FROM (
           SELECT sn.n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
                  CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))
                  - CAST(round(p_retailprice*100) AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT) * 100 AS amount1e4
           FROM lineitem
           JOIN orders    ON l_orderkey = o_orderkey
           JOIN part      ON l_partkey = p_partkey
           JOIN supplier  ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           WHERE p_name LIKE '%widget%') t
         GROUP BY nation, o_year ORDER BY nation, o_year""",
    "q13_order_dist" ->
      """WITH c_orders AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist
         FROM c_orders GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q15_top_supplier" ->
      // the max cut compares BIGINT 1e-4-dollar totals — no float ulp
      """WITH rev AS (
           SELECT l_suppkey AS supplier_no,
                  sum(CAST(round(l_extendedprice*100) AS BIGINT)
                      * (100 - CAST(round(l_discount*100) AS BIGINT)))::BIGINT AS total1e4
           FROM lineitem
           WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, ((total1e4 + 50) // 100) / 100.0 AS total_revenue
         FROM supplier JOIN rev ON s_suppkey = supplier_no
         WHERE total1e4 = (SELECT max(total1e4) FROM rev)
         ORDER BY s_suppkey""",
    "q17_small_qty_revenue" ->
      // all-integer 20%-of-average cut: qty·5·cnt < Σqty picks identical
      // rows in both engines; avg_yearly rounds half-up on the cents grid
      // ((2s+7) // 14 = floor(s/7 + 1/2)) before the single exact /100.0
      """WITH agg AS (
           SELECT l_partkey AS a_partkey,
                  sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS sum_qty,
                  count(*)::BIGINT AS cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#23'
           GROUP BY l_partkey)
         SELECT ((2 * sum(CAST(round(l_extendedprice*100) AS BIGINT))::BIGINT + 7) // 14)
                  / 100.0 AS avg_yearly,
                count(*) AS n_small
         FROM lineitem JOIN agg ON l_partkey = a_partkey
         WHERE CAST(round(l_quantity) AS BIGINT) * 5 * cnt < sum_qty""",
    "q22_lapsed_balance" ->
      // average-balance cut as BIGINT cross-multiplication (bal·cnt > Σ);
      // recency as NOT EXISTS ≡ the Spark side's left-anti join
      """WITH pos AS (
           SELECT sum(CAST(round(c_acctbal*100) AS BIGINT))::BIGINT AS sum_c,
                  count(*)::BIGINT AS cnt
           FROM customer WHERE CAST(round(c_acctbal*100) AS BIGINT) > 0),
         idle AS (
           SELECT c_custkey, c_nationkey,
                  CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
           FROM customer
           WHERE CAST(round(c_acctbal*100) AS BIGINT) * (SELECT cnt FROM pos)
                   > (SELECT sum_c FROM pos)
             AND NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey
                               AND o_orderdate >= DATE '1999-01-01'))
         SELECT n_name AS nation, count(*) AS numcust,
                round(sum(bal_c)::BIGINT / 100.0, 2) AS totacctbal
         FROM idle JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_retention" ->
      // distinct-activity + cohort-join formulation — semantically equal
      // to the Spark side's single-shuffle collect_set form; retention is
      // BIGINT/BIGINT in one IEEE division
      """WITH w AS (SELECT DISTINCT user_id,
                      epoch_us(ts::TIMESTAMP) // 604800000000 AS week FROM events),
         coh AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
         act AS (SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
                        count(*) AS n_active
                 FROM w JOIN coh c USING (user_id) GROUP BY 1, 2),
         sz AS (SELECT cohort_week, count(*) AS cohort_size FROM coh GROUP BY cohort_week)
         SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
                a.n_active / s.cohort_size AS retention
         FROM act a JOIN sz s USING (cohort_week)""",
    "ts_cusum" ->
      // deviations scaled by n (d_i = c_i*n - S) keep the running sum in
      // exact BIGINT algebra — no division enters until never
      """WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
                      CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         st AS (SELECT user_id, sum(cents)::BIGINT AS s, count(*) AS n
                FROM e GROUP BY user_id),
         c AS (SELECT e.user_id, e.ts_us, e.event_id, st.n,
                 CAST(sum(e.cents * st.n - st.s) OVER (PARTITION BY e.user_id
                   ORDER BY e.ts_us, e.event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
               FROM e JOIN st USING (user_id)),
         r AS (SELECT user_id, event_id, ts_us, abs(cusum) AS max_abs_cusum, n,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY abs(cusum) DESC, ts_us, event_id) AS rn FROM c)
         SELECT user_id, event_id AS cp_event_id, ts_us AS cp_ts_us, max_abs_cusum, n
         FROM r WHERE rn = 1""",
    "q_cms_counts" ->
      // the CMS matrix rebuilt relationally: cell (j, b) holds the count
      // of rows whose j-th md5 bucket is b — elementwise-add merge makes
      // the native aggregate's matrix identical to this group-by
      s"""WITH cells AS (
            SELECT j, ${md5L60("j::VARCHAR || ':' || user_id::VARCHAR")} % 256 AS b,
                   count(*) AS v
            FROM events, range(4) t(j) GROUP BY 1, 2),
          probes AS (SELECT user_id, count(*) AS exact_n FROM events
                     WHERE user_id < 10 GROUP BY user_id),
          pj AS (SELECT p.user_id, p.exact_n, t.j,
                   ${md5L60("t.j::VARCHAR || ':' || p.user_id::VARCHAR")} % 256 AS b
                 FROM probes p, range(4) t(j))
          SELECT pj.user_id, pj.exact_n,
                 min(coalesce(c.v, 0))::BIGINT AS cms_est
          FROM pj LEFT JOIN cells c ON c.j = pj.j AND c.b = pj.b
          GROUP BY pj.user_id, pj.exact_n""",
    "fuzzy_names" ->
      // two-pass token blocking (first token ∪ last token), verified by
      // levenshtein — DuckDB's unit-cost edit distance matches Spark's
      """WITH names AS (
           SELECT p_name, count(*) AS n_rows,
                  string_split(p_name, ' ')[1] AS tok1,
                  string_split(p_name, ' ')[-1] AS tok2
           FROM part GROUP BY p_name),
         cand AS (
           SELECT a.p_name AS name_a, b.p_name AS name_b
           FROM names a JOIN names b ON a.tok1 = b.tok1 AND a.p_name < b.p_name
           UNION
           SELECT a.p_name, b.p_name
           FROM names a JOIN names b ON a.tok2 = b.tok2 AND a.p_name < b.p_name),
         v AS (SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
               FROM cand)
         SELECT name_a, name_b, dist, na.n_rows AS n_a, nb.n_rows AS n_b
         FROM v
         JOIN names na ON na.p_name = v.name_a
         JOIN names nb ON nb.p_name = v.name_b
         WHERE dist BETWEEN 1 AND 3""",
    "q_evt_pctl" ->
      // quartiles over integer cents: rank fraction k/4 and the integer
      // order statistics make the interpolation exact dyadic arithmetic —
      // identical doubles cross-engine with no rounding step
      """SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n,
         quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) / 100.0 AS p25,
         quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100.0 AS p50,
         quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75) / 100.0 AS p75
         FROM events GROUP BY 1, 2""",
    "rsmp_ffill" ->
      // DuckDB's native ASOF LEFT JOIN is the oracle; ties at one ts_us
      // are broken to the max event_id on both sides
      """WITH b AS MATERIALIZED (
           SELECT user_id, min(epoch_us(ts::TIMESTAMP)) AS lo,
                  max(epoch_us(ts::TIMESTAMP)) AS hi
           FROM events GROUP BY user_id),
         g AS MATERIALIZED (
           SELECT user_id, unnest(range((lo // 3600000000) * 3600000000,
                                        hi + 1, 3600000000)) AS grid_ts
           FROM b),
         o AS MATERIALIZED (
           SELECT user_id, ts_us, value FROM (
             SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, value,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts::TIMESTAMP)
                                  ORDER BY event_id DESC) AS rn
             FROM events) t WHERE rn = 1)
         SELECT g.user_id, CAST(g.grid_ts AS BIGINT) AS grid_ts,
                o.value AS value_ffill
         FROM g ASOF LEFT JOIN o
           ON g.user_id = o.user_id AND g.grid_ts >= o.ts_us""",
    "rj_sessions" ->
      // the NAIVE inequality join — DuckDB's IEJoin runs it exactly; the
      // Spark side must produce the identical result through the bucketed
      // equi-join path (RangeJoin.pointInInterval)
      """WITH t AS MATERIALIZED (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts::TIMESTAMP)
                       - lag(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS MATERIALIZED (
           SELECT user_id, ts_us,
             (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
           FROM t),
         b AS MATERIALIZED (
           SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us
           FROM s GROUP BY user_id, session_id)
         SELECT e.event_id, count(*) AS n_active
         FROM (SELECT event_id, epoch_us(ts::TIMESTAMP) AS ts_us
               FROM events WHERE event_type = 'purchase') e
         JOIN b ON e.ts_us >= b.start_us AND e.ts_us <= b.end_us
         GROUP BY e.event_id""",
    "rj_overlap" ->
      // mirror of SeriesQueries.concurrentSessions: the NAIVE inequality
      // self-join over the rj_sessions session bounds (DuckDB IEJoin);
      // the Spark side must match through the canonical-bucket
      // exactly-once decomposition (RangeJoin.intervalOverlap)
      """WITH t AS MATERIALIZED (
           SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts::TIMESTAMP)
                       - lag(epoch_us(ts::TIMESTAMP)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS MATERIALIZED (
           SELECT user_id, ts_us,
             (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
           FROM t),
         b AS MATERIALIZED (
           SELECT user_id, session_id, min(ts_us) AS start_us, max(ts_us) AS end_us
           FROM s GROUP BY user_id, session_id)
         SELECT x.user_id, x.session_id, count(y.user_id)::BIGINT AS n_concurrent
         FROM b x LEFT JOIN b y
           ON x.start_us <= y.end_us AND y.start_us <= x.end_us
           AND NOT (x.user_id = y.user_id AND x.session_id = y.session_id)
         GROUP BY 1, 2""",
    "q_skew_join" ->
      // the PLAIN join: the salted execution must be result-identical
      """SELECT event_type, count(*) AS n, sum(n_user_events)::BIGINT AS total_weight
         FROM events e JOIN (SELECT user_id, count(*) AS n_user_events
                             FROM events GROUP BY user_id) d
         ON e.user_id = d.user_id
         GROUP BY event_type""",
    // --- model-in-the-loop surface (events) ---
    "ml3_persistence_backtest" ->
      """WITH t AS (SELECT user_id, value,
             lead(value,1) OVER w AS l1, lead(value,2) OVER w AS l2,
             lead(value,3) OVER w AS l3, lead(value,4) OVER w AS l4,
             lead(value,5) OVER w AS l5
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         u AS (SELECT 1::BIGINT AS h, value, l1 AS actual FROM t
               UNION ALL SELECT 2, value, l2 FROM t
               UNION ALL SELECT 3, value, l3 FROM t
               UNION ALL SELECT 4, value, l4 FROM t
               UNION ALL SELECT 5, value, l5 FROM t)
         SELECT h, round(sqrt(avg(pow(actual - value, 2))), 4) AS rmse, count(*) AS n
         FROM u WHERE actual IS NOT NULL GROUP BY h""",
    "nrm2_frozen_scale" ->
      """SELECT event_id,
         round(CASE WHEN mx > mn THEN (value - mn)/(mx - mn) ELSE 0.0 END, 6) AS scaled_frozen
         FROM events, (SELECT min(value) AS mn, max(value) AS mx
                       FROM events WHERE event_id % 2 = 0) s""",
    "agg4_rmse_history_mean" ->
      """WITH t AS (SELECT user_id, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         c AS (SELECT user_id,
                 sqrt(avg(pow(value - prev, 2))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cum_rmse
               FROM t WHERE prev IS NOT NULL)
         SELECT user_id, round(avg(cum_rmse), 4) AS avg_rmse, count(*) AS n_history
         FROM c GROUP BY user_id""",
    // --- dedup track (documents) ---
    "dedup_exact" ->
      s"""SELECT md5($normSql) AS h, min(doc_id) AS keep_doc_id,
          count(*) AS n_copies FROM documents GROUP BY 1""",
    "dedup_incremental" ->
      // the bloom prefilter is an execution detail; the semantics is a
      // plain digest anti-join of the incoming slice vs the historical
      // corpus (NOT EXISTS, never NOT IN — a null would poison NOT IN)
      """WITH hist AS (SELECT DISTINCT
              ('0x'||substr(md5(coalesce(text,'')),1,15))::UBIGINT::BIGINT AS digest
            FROM documents WHERE doc_id % 5 <> 0),
          inc AS (SELECT doc_id,
              ('0x'||substr(md5(coalesce(text,'')),1,15))::UBIGINT::BIGINT AS digest
            FROM documents WHERE doc_id % 5 = 0)
          SELECT doc_id, digest FROM inc
          WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.digest = inc.digest)
          ORDER BY doc_id""",
    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesCte,
          rare AS (SELECT h1, h2 FROM sh GROUP BY h1, h2
                   HAVING count(*) BETWEEN 2 AND 1000),
          shf AS (SELECT sh.doc_id, sh.h1, sh.h2 FROM sh JOIN rare USING (h1, h2)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM shf a JOIN shf b
                   ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
          ${jaccardVerifySql("doc_a, doc_b, inter, jaccard", 0.8)}""",
    "dedup_threshold_sweep" ->
      // same candidate/verify CTEs at the sweep floor 0.7, then each pair
      // fans out to the thresholds it clears; n_pairs = exploded-rows/2
      s"""WITH $shinglesCte,
          rare AS (SELECT h1, h2 FROM sh GROUP BY h1, h2
                   HAVING count(*) BETWEEN 2 AND 1000),
          shf AS (SELECT sh.doc_id, sh.h1, sh.h2 FROM sh JOIN rare USING (h1, h2)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM shf a JOIN shf b
                   ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
          inter AS (SELECT doc_a, doc_b, count(*) AS inter
                    FROM cand
                    JOIN sh sa ON sa.doc_id = cand.doc_a
                    JOIN sh sb ON sb.doc_id = cand.doc_b
                              AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
                    GROUP BY doc_a, doc_b),
          vp AS (SELECT doc_a, doc_b,
                   CAST(round(round(inter / (na.n_sh + nb.n_sh - inter), 4) * 10000)
                     AS BIGINT) AS j4
                 FROM inter
                 JOIN sizes na ON na.doc_id = doc_a
                 JOIN sizes nb ON nb.doc_id = doc_b
                 WHERE round(inter / (na.n_sh + nb.n_sh - inter), 4) >= 0.7),
          taus(tau_e4) AS (VALUES (7000), (8000), (9000)),
          e AS (SELECT tau_e4, doc_a, doc_b FROM vp, taus WHERE j4 >= tau_e4)
          SELECT tau_e4::BIGINT AS tau_e4, (count(*) // 2)::BIGINT AS n_pairs,
                 count(DISTINCT d) AS n_docs
          FROM (SELECT tau_e4, doc_a AS d FROM e
                UNION ALL SELECT tau_e4, doc_b AS d FROM e) u
          GROUP BY tau_e4 ORDER BY tau_e4""",
    "dedup_containment" ->
      // same candidate CTEs as dedup_ngram_jaccard; the verified metric is
      // the overlap coefficient inter/min(|A|,|B|) (doc-in-doc detection)
      s"""WITH $shinglesCte,
          rare AS (SELECT h1, h2 FROM sh GROUP BY h1, h2
                   HAVING count(*) BETWEEN 2 AND 1000),
          shf AS (SELECT sh.doc_id, sh.h1, sh.h2 FROM sh JOIN rare USING (h1, h2)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM shf a JOIN shf b
                   ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
          inter AS (SELECT doc_a, doc_b, count(*) AS inter
                    FROM cand
                    JOIN sh sa ON sa.doc_id = cand.doc_a
                    JOIN sh sb ON sb.doc_id = cand.doc_b
                              AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
                    GROUP BY doc_a, doc_b)
          SELECT doc_a, doc_b, inter, overlap FROM (
            SELECT doc_a, doc_b, inter,
                   round(inter / least(na.n_sh, nb.n_sh), 4) AS overlap
            FROM inter
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b) v
          WHERE overlap >= 0.9""",
    "dedup_minhash_sig" ->
      s"""WITH $shinglesCte,
          $minhashSigCte
          SELECT * FROM sig""",
    "dedup_minhash_lsh" -> {
      val bandSelects = (0 until 4).map { b =>
        val rowCols = (0 until 4).map(r => s"mh${b * 4 + r}::VARCHAR").mkString("||','||")
        s"SELECT doc_id, $b AS band, md5($rowCols) AS bh FROM sig"
      }.mkString("\n                      UNION ALL ")
      s"""WITH $shinglesCte,
          $minhashSigCte,
          banded AS ($bandSelects),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM banded a JOIN banded b
                   ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
          ${jaccardVerifySql("doc_a, doc_b, jaccard", 0.8)}"""
    },
    "dedup_simhash" ->
      s"""WITH $simhashCte
          SELECT doc_id, simhash FROM sim""",
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCte,
          $simhashPairsCte
          SELECT doc_a, doc_b, hamming FROM shp""",
    "dedup_fold_leakage" ->
      s"""WITH $simhashCte,
          $simhashPairsCte,
          folds AS (SELECT doc_id, CASE WHEN $docBucketSql < 800 THEN 'train'
                                        WHEN $docBucketSql < 900 THEN 'val'
                                        ELSE 'test' END AS fold FROM documents)
          SELECT doc_a, doc_b, fa.fold AS fold_a, fb.fold AS fold_b, hamming
          FROM shp
          JOIN folds fa ON fa.doc_id = shp.doc_a
          JOIN folds fb ON fb.doc_id = shp.doc_b
          WHERE fa.fold <> fb.fold""",
    "dedup_contam" ->
      s"""WITH f AS (SELECT doc_id, CASE WHEN $docBucketSql < 800 THEN 'train'
                                         WHEN $docBucketSql < 900 THEN 'val'
                                         ELSE 'test' END AS fold FROM documents),
          t AS (SELECT doc_id, $toksSql AS ws FROM documents),
          g AS (SELECT DISTINCT doc_id, ${md5L60("gram")} AS gh FROM (
                  SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
                  FROM t, LATERAL (SELECT unnest(range(1, len(ws) - 11)) AS i) r
                  WHERE len(ws) >= 13) x),
          gf AS (SELECT g.doc_id, g.gh, f.fold FROM g JOIN f USING (doc_id)),
          tr AS (SELECT gh, doc_id AS train_doc FROM gf WHERE fold = 'train'),
          ev AS (SELECT gh, doc_id AS eval_doc, fold AS eval_fold
                 FROM gf WHERE fold <> 'train')
          SELECT eval_doc, eval_fold, count(DISTINCT ev.gh) AS n_shared_grams,
                 min(train_doc) AS sample_train_doc
          FROM ev JOIN tr ON ev.gh = tr.gh
          GROUP BY eval_doc, eval_fold""",
    "dedup_clusters" ->
      // connected components as a recursive CTE: reach enumerates every
      // (node, reachable node) pair over the bidirectional dup edges
      // (UNION dedup terminates it); keeper = min reachable id — the same
      // fixpoint Dedup.dupClusters converges to by label propagation
      s"""WITH RECURSIVE $simhashCte,
          $simhashPairsCte,
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM shp
                    UNION ALL SELECT doc_b, doc_a FROM shp),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id)
          SELECT id AS doc_id, min(lbl) AS keeper FROM reach GROUP BY id""",
    "dedup_reweight" ->
      // same recursive-CTE cluster base as dedup_clusters; weight is the
      // reciprocal of the window count over the resolved cluster label
      s"""WITH RECURSIVE $simhashCte,
          $simhashPairsCte,
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM shp
                    UNION ALL SELECT doc_b, doc_a FROM shp),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id)
          SELECT doc_id, cluster,
                 count(*) OVER (PARTITION BY cluster)::BIGINT AS cluster_size,
                 round(1.0::DOUBLE / count(*) OVER (PARTITION BY cluster), 6) AS weight
          FROM cl""",
    "dedup_keep_best" ->
      // same recursive-CTE cluster base as dedup_clusters, keeper chosen
      // by the txt_quality score (argmax quality, ties to smaller doc_id)
      s"""WITH RECURSIVE $simhashCte,
          $simhashPairsCte,
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM shp
                    UNION ALL SELECT doc_b, doc_a FROM shp),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id),
          q AS (SELECT doc_id,
                  round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                              / len($toksSql), 4) * 2.0
                        - round(len(regexp_extract_all(text, '[.!?,;:]'))
                                / length(text), 4), 4) AS quality
                FROM documents),
          m AS (SELECT cl.cluster, cl.doc_id, q.quality,
                  row_number() OVER (PARTITION BY cluster
                                     ORDER BY quality DESC NULLS LAST, cl.doc_id) AS rn,
                  count(*) OVER (PARTITION BY cluster) AS n_members
                FROM cl JOIN q USING (doc_id))
          SELECT cluster, doc_id AS best_doc_id, quality AS best_quality, n_members
          FROM m WHERE rn = 1""",
    "dedup_substring_spans" ->
      // mirror of Dedup.substringSpans: stride-1 char-20-gram digests,
      // cross-doc duplicated positions, then EXTENT-merged islands (a new
      // span starts only when the position gap exceeds k=20, so span char
      // ranges are disjoint and dup_chars is exact — r7 ADVICE fix)
      s"""WITH g AS (SELECT doc_id, i.i AS pos,
                ('0x'||substr(md5(substr(text, i.i::INT + 1, 20)),1,15))::UBIGINT::BIGINT AS g
              FROM documents, LATERAL (SELECT unnest(range(0, length(text) - 19)) AS i) i
              WHERE length(text) >= 20),
          dup AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id)),
          hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (g)),
          ${spanMergeCtes("hits")}
          SELECT doc_id, count(*) AS n_spans, sum(e - s)::BIGINT AS dup_chars,
                 max(e - s)::BIGINT AS max_span
          FROM spans GROUP BY doc_id""",
    "dedup_substring_cut" ->
      // mirror of Dedup.substringCut: per duplicated gram the min-doc_id
      // copy is canonical; other docs' occurrences become cut positions,
      // merged to disjoint intervals (same extent-merge as the spans),
      // and each doc's clean text is reassembled as the ordered concat of
      // kept islands (string_agg ORDER BY = the Spark fold's order)
      s"""WITH ${substringCutCtes("documents")},
          ncuts AS (SELECT doc_id, count(*)::BIGINT AS n_cuts FROM spans GROUP BY doc_id)
          SELECT d.doc_id, coalesce(n.n_cuts, 0)::BIGINT AS n_cuts,
                 (coalesce(length(d.text), 0) - coalesce(length(coalesce(c.ct, d.text)), 0))::BIGINT AS cut_chars,
                 coalesce(length(coalesce(c.ct, d.text)), 0)::BIGINT AS clean_len,
                 md5(coalesce(c.ct, d.text, '')) AS clean_md5
          FROM documents d
          LEFT JOIN clean c USING (doc_id)
          LEFT JOIN ncuts n USING (doc_id)
          ORDER BY doc_id""",
    "dedup_substring_winnow" ->
      // mirror of Dedup.substringWinnowPairs: the row-local winnowing
      // selection is replayed positionally — min combined key over every
      // FULL w=8 window (cnt = 8) is exactly array_min over slice(cks,q,8)
      // for q = 1..n-7; fingerprint df capped at 1000, pairs need >= 2
      """WITH g AS (SELECT doc_id, i.i AS pos,
                ('0x'||substr(md5(substr(text, i.i::INT + 1, 20)),1,15))::UBIGINT::BIGINT AS g
              FROM documents, LATERAL (SELECT unnest(range(0, length(text) - 19)) AS i) i
              WHERE length(text) >= 27 AND length(text) < 1048576),
          ck AS (SELECT doc_id, pos, g,
                   (g % 1099511627776) * 1048576 + pos AS ck FROM g),
          wm AS (SELECT doc_id,
                   min(ck) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mck,
                   count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS cnt
                 FROM ck),
          sel AS (SELECT DISTINCT doc_id, mck FROM wm WHERE cnt = 8),
          fp AS (SELECT DISTINCT s.doc_id, c.g
                 FROM sel s JOIN ck c ON c.doc_id = s.doc_id AND c.ck = s.mck),
          rare AS (SELECT g FROM fp GROUP BY g HAVING count(*) BETWEEN 2 AND 1000),
          fpf AS (SELECT fp.doc_id, fp.g FROM fp JOIN rare USING (g))
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fp
          FROM fpf a JOIN fpf b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2""",
    // --- text analysis track (documents) ---
    "split_folds" ->
      s"""SELECT fold, count(*) AS n_docs FROM (
          SELECT CASE WHEN $docBucketSql < 800 THEN 'train'
                      WHEN $docBucketSql < 900 THEN 'val'
                      ELSE 'test' END AS fold FROM documents) t
          GROUP BY fold""",
    "split_assign" ->
      s"""SELECT doc_id, CASE WHEN $docBucketSql < 800 THEN 'train'
                              WHEN $docBucketSql < 900 THEN 'val'
                              ELSE 'test' END AS fold FROM documents""",
    "mix_sources" ->
      // all-integer rate derivation: M = min(n_s*1000 div t_pm), then
      // rate_pm = (t_pm*M) div n_s — identical keep set on every engine
      s"""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
          t(source, t_pm) AS (VALUES ('src0', 400), ('src1', 250),
                                     ('src2', 200), ('src3', 150)),
          ct AS (SELECT c.source, n_s, t_pm FROM c JOIN t USING (source)),
          m AS (SELECT min(n_s * 1000 // t_pm) AS m FROM ct),
          r AS (SELECT source, least(1000, (t_pm * m) // n_s)::BIGINT AS rate_pm
                FROM ct, m)
          SELECT d.doc_id, d.source, r.rate_pm
          FROM documents d JOIN r ON d.source = r.source
          WHERE $docBucketSql < rate_pm""",
    "mix_temperature" ->
      // alpha = 0.5: rate_s = sqrt(n_min/n_s) — the only temperature
      // whose rate is an IEEE-correctly-rounded single op (sqrt) rather
      // than a libm-dependent pow, hence cross-engine exact
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
          mn AS (SELECT min(n_s) AS n_min FROM c),
          r AS (SELECT source,
                  CAST(floor(1000 * sqrt(CAST(n_min AS DOUBLE)/n_s)) AS BIGINT) AS rate_pm
                FROM c, mn)
          SELECT d.doc_id, d.source, r.rate_pm
          FROM documents d JOIN r USING (source)
          WHERE ('0x'||substr(md5('mt:'||d.doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000
                < r.rate_pm""",
    "sample_stratified" ->
      """SELECT event_id, event_type, bucket AS keep_bucket FROM (
           SELECT event_id, event_type,
             ('0x'||substr(md5(event_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000 AS bucket
           FROM events) t
         WHERE bucket < CASE event_type WHEN 'purchase' THEN 1000
                                        WHEN 'signup' THEN 500
                                        WHEN 'view' THEN 200
                                        WHEN 'click' THEN 100
                                        ELSE 50 END""",
    // Efraimidis–Spirakis key: ln(u) quantized to the 1e-8 integer grid
    // BEFORE the /weight division, so both engines rank identical IEEE
    // doubles (integer numerator / integer weight) — recipe (c) of the
    // bit-parity notes, same as txt_tfidf/txt_lm_score
    "sample_group_reservoir" ->
      // sample_weighted's ES recipe with PARTITION BY source — per-domain
      // top-10; the quantized ln numerator / integer weight division is
      // the same IEEE double in both engines
      """SELECT doc_id, source, n_chars, rank FROM (
           SELECT doc_id, source, n_chars, row_number() OVER (PARTITION BY source ORDER BY
               CAST(round(ln((('0x'||substr(md5('gr:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT + 1)
                             / 1152921504606846976.0) * 1e8) AS BIGINT)::DOUBLE
                 / greatest(n_chars, 1) DESC, doc_id) AS rank
           FROM documents) t
         WHERE rank <= 10 ORDER BY source, rank""",
    "sample_weighted" ->
      """SELECT doc_id, n_chars, rank FROM (
           SELECT doc_id, n_chars, row_number() OVER (ORDER BY
               CAST(round(ln((('0x'||substr(md5('ws:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT + 1)
                             / 1152921504606846976.0) * 1e8) AS BIGINT)::DOUBLE
                 / greatest(n_chars, 1) DESC, doc_id) AS rank
           FROM documents) t
         WHERE rank <= 100""",
    "mix_dsir" ->
      // mirror of Sampling.dsirSelect: hashed-unigram bucket model
      // (raw + target counts in one aggregation), Laplace-smoothed
      // log-ratio quantized round(ln·1e8) per bucket BEFORE arithmetic
      // (the lmScore discipline), integer per-doc weights, top-100.
      s"""WITH bucketed AS (
            SELECT doc_id, lang,
                   ('0x'||substr(md5(w),1,15))::UBIGINT::BIGINT % 64 AS b
            FROM (SELECT doc_id, lang, unnest($toksSql) AS w FROM documents) t),
          model AS (SELECT b, count(*) AS cr,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
                    FROM bucketed GROUP BY b),
          tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
          ratio AS (
            SELECT m.b,
              cast(round(ln( ((m.ct + 1)::DOUBLE / (tot.nt + 64))
                           / ((m.cr + 1)::DOUBLE / (tot.nr + 64)) ) * 1e8) AS BIGINT) AS lr
            FROM model m, tot),
          docw AS (
            SELECT d.doc_id, sum(d.cnt * r.lr)::BIGINT AS dsir_w
            FROM (SELECT doc_id, b, count(*) AS cnt FROM bucketed GROUP BY doc_id, b) d
            JOIN ratio r ON r.b = d.b GROUP BY d.doc_id)
          SELECT doc_id, source, lang, dsir_w, rank FROM (
            SELECT doc_id, dsir_w,
                   row_number() OVER (ORDER BY dsir_w DESC, doc_id)::BIGINT AS rank
            FROM docw) t JOIN documents USING (doc_id)
          WHERE rank <= 100""",
    "mix_dsir_gumbel" ->
      // mirror of Sampling.dsirGumbel: the mix_dsir weight CTEs + the
      // Gumbel-max resample — noise from the "dg:"-salted md5 uniform
      // (the sample_weighted idiom), quantized round(·1e8), integer
      // score w + g8 div 10 (trunc division both engines)
      s"""WITH bucketed AS (
            SELECT doc_id, lang,
                   ('0x'||substr(md5(w),1,15))::UBIGINT::BIGINT % 64 AS b
            FROM (SELECT doc_id, lang, unnest($toksSql) AS w FROM documents) t),
          model AS (SELECT b, count(*) AS cr,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
                    FROM bucketed GROUP BY b),
          tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
          ratio AS (
            SELECT m.b,
              cast(round(ln( ((m.ct + 1)::DOUBLE / (tot.nt + 64))
                           / ((m.cr + 1)::DOUBLE / (tot.nr + 64)) ) * 1e8) AS BIGINT) AS lr
            FROM model m, tot),
          docw AS (
            SELECT d.doc_id, sum(d.cnt * r.lr)::BIGINT AS dsir_w
            FROM (SELECT doc_id, b, count(*) AS cnt FROM bucketed GROUP BY doc_id, b) d
            JOIN ratio r ON r.b = d.b GROUP BY d.doc_id),
          gum AS (SELECT doc_id, dsir_w,
              cast(round(-ln(-ln(
                (('0x'||substr(md5('dg:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT + 1)
                  / 1152921504606846976.0)) * 1e8) AS BIGINT) AS g8
            FROM docw),
          sc AS (SELECT doc_id, dsir_w, g8, dsir_w + g8 // 10 AS score FROM gum)
          SELECT doc_id, source, lang, dsir_w, g8, score, rank FROM (
            SELECT doc_id, dsir_w, g8, score,
                   row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank
            FROM sc) t JOIN documents USING (doc_id)
          WHERE rank <= 100""",
    "pack_concat_chunk" ->
      // mirror of Sampling.concatChunk: per-shard running token totals,
      // then each doc explodes into the sequences its [t_start, t_end)
      // interval overlaps — all BIGINT interval arithmetic
      s"""WITH t AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 8 AS shard
               FROM documents),
          c AS (SELECT shard, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS t_end
               FROM t WHERE n_tokens > 0),
          e AS (SELECT shard, doc_id, t_end, t_end - n_tokens AS t_start FROM c),
          x AS (SELECT shard, doc_id, t_start, t_end,
                 unnest(generate_series(t_start//256, (t_end-1)//256)) AS seq_id FROM e)
          SELECT shard, seq_id::BIGINT AS seq_id, doc_id,
            (greatest(t_start, seq_id*256) - t_start)::BIGINT AS doc_offset,
            (least(t_end, (seq_id+1)*256) - greatest(t_start, seq_id*256))::BIGINT AS n_toks
          FROM x""",
    "mix_epochs" ->
      // mirror of Sampling.mixEpochs at budget 40000, cap 4000 pm: all
      // integer floor-division arithmetic, deficit reported not over-repeated
      s"""WITH t AS (SELECT source, sum(len($toksSql))::BIGINT AS data_tokens
                 FROM documents GROUP BY source),
          tgt AS (SELECT * FROM (VALUES ('src0',400),('src1',250),('src2',200),('src3',150))
                  v(source, t_pm)),
          j AS (SELECT t.source, data_tokens, t_pm::BIGINT AS t_pm,
                  (40000 * t_pm // 1000)::BIGINT AS wanted_tokens
                FROM t JOIN tgt ON tgt.source = t.source),
          k AS (SELECT *, least(4000, coalesce(wanted_tokens * 1000 // data_tokens, 0))::BIGINT AS epochs_pm
                FROM j),
          l AS (SELECT *, (data_tokens * epochs_pm // 1000)::BIGINT AS served_tokens FROM k)
          SELECT source, data_tokens, t_pm, wanted_tokens, epochs_pm, served_tokens,
            greatest(0, wanted_tokens - served_tokens)::BIGINT AS deficit_tokens
          FROM l""",
    "mix_curriculum" ->
      // mirror of Sampling.curriculumStages over the txt_quality score:
      // plain ntile over the exact (quality ASC, doc_id) order — the Spark
      // side must reproduce it through the bucketed two-pass rank
      s"""WITH q AS (SELECT doc_id,
                 round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                       / len($toksSql), 4) * 2.0
                   - round(len(regexp_extract_all(text, '[.!?,;:]')) / length(text), 4),
                   4) AS quality
               FROM documents)
          SELECT doc_id, quality,
            ntile(4) OVER (ORDER BY quality ASC, doc_id) AS stage
          FROM q""",
    "ds_snapshot_diff" ->
      // mirror of CurationAudit.snapshotDiff: v1/v2 are the salted-md5
      // derived snapshots (5% added, 5% removed, 10% re-extracted to 100
      // chars), diffed by text digest per source; churn is integer per-mille
      """WITH v1 AS (
           SELECT doc_id, source, md5(text) AS dig FROM documents
           WHERE (('0x'||substr(md5('v1:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 50),
         v2 AS (
           SELECT doc_id, source,
             md5(CASE WHEN (('0x'||substr(md5('chg:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 100
                      THEN substr(text, 1, 100) ELSE text END) AS dig
           FROM documents
           WHERE NOT ((('0x'||substr(md5('v2:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 950)),
         d AS (
           SELECT coalesce(v1.source, v2.source) AS src,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.dig <> v2.dig THEN 'changed'
                  ELSE 'unchanged' END AS status
           FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         SELECT src,
                sum(CASE WHEN status='added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
                sum(CASE WHEN status='removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
                sum(CASE WHEN status='changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
                sum(CASE WHEN status='unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged,
                count(*) AS n_total,
                ((sum(CASE WHEN status IN ('added','removed','changed') THEN 1 ELSE 0 END)::BIGINT
                  * 1000) // count(*)) AS churn_pm
         FROM d GROUP BY src ORDER BY src""",
    "pack_length_buckets" ->
      // all-integer power-of-two bucketing: floor(log2) from the binary
      // string length (no float log near a power-of-two boundary)
      s"""SELECT bucket_top, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
                 (bucket_top * count(*))::BIGINT AS capacity,
                 (((bucket_top * count(*) - sum(n_tokens)) * 1000)
                   // (bucket_top * count(*)))::BIGINT AS waste_pm
          FROM (SELECT n_tokens,
                  CAST(pow(2, CASE WHEN (n_tokens & (n_tokens - 1)) = 0
                                   THEN length(bin(n_tokens)) - 1
                                   ELSE length(bin(n_tokens)) END) AS BIGINT) AS bucket_top
                FROM (SELECT len($toksSql)::BIGINT AS n_tokens FROM documents) a) b
          GROUP BY bucket_top ORDER BY bucket_top""",
    "txt_ngram_novelty" ->
      // trigram variant of the shingle CTE (distinct AFTER hashing, the
      // Dedup.shingleHashes discipline); reference slice = salted 10%
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         shs AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
                 FROM ws, LATERAL (SELECT unnest(range(1, len(w)-1)) AS i) r
                 WHERE len(w) >= 3),
         sh AS (SELECT DISTINCT doc_id,
                  ('0x'||substr(md5(shingle),1,8))::UBIGINT::BIGINT AS h1,
                  ('0x'||substr(md5(shingle),9,8))::UBIGINT::BIGINT AS h2
                FROM shs),
         refset AS (SELECT DISTINCT h1, h2 FROM sh
                    WHERE (('0x'||substr(md5('ref:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 100),
         cand AS (SELECT * FROM sh
                  WHERE (('0x'||substr(md5('ref:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 100),
         novel AS (SELECT doc_id, count(*) AS n_novel FROM cand
                   WHERE NOT EXISTS (SELECT 1 FROM refset
                                     WHERE refset.h1 = cand.h1 AND refset.h2 = cand.h2)
                   GROUP BY doc_id)
         SELECT c.doc_id, count(*) AS n_tri,
                coalesce(any_value(novel.n_novel), 0)::BIGINT AS n_novel,
                ((coalesce(any_value(novel.n_novel), 0) * 1000) // count(*))::BIGINT AS novelty_pm
         FROM cand c LEFT JOIN novel ON novel.doc_id = c.doc_id
         GROUP BY c.doc_id ORDER BY c.doc_id""",
    "mix_source_kl" ->
      // mirror of CurationAudit.sourceKl: both log-probabilities quantized
      // to the ln·1e8 BIGINT grid BEFORE arithmetic (txt_lm_score recipe);
      // kl_e8 is an integer division of two BIGINTs
      s"""WITH toks AS MATERIALIZED (
            SELECT source, unnest($toksSql) AS term FROM documents),
          bysrc AS MATERIALIZED (
            SELECT source, term, count(*)::BIGINT AS cs FROM toks GROUP BY 1, 2),
          byterm AS (SELECT term, sum(cs)::BIGINT AS c FROM bysrc GROUP BY term),
          st AS (SELECT source, sum(cs)::BIGINT AS ns FROM bysrc GROUP BY source),
          tot AS (SELECT sum(c)::BIGINT AS n FROM byterm),
          terms AS (
            SELECT b.source, b.cs,
                   CAST(round(ln(b.cs::DOUBLE / st.ns) * 1e8) AS BIGINT)
                 - CAST(round(ln(t.c::DOUBLE / tot.n) * 1e8) AS BIGINT) AS dln_e8
            FROM bysrc b JOIN byterm t USING (term) JOIN st USING (source), tot)
          SELECT source, sum(cs)::BIGINT AS n_tokens, count(*) AS n_terms,
                 (greatest(sum(cs * dln_e8), 0)::BIGINT // sum(cs)::BIGINT) AS kl_e8,
                 (greatest(sum(cs * dln_e8), 0)::BIGINT // sum(cs)::BIGINT) / 1e8 AS kl
          FROM terms GROUP BY source ORDER BY source""",
    "emb_label_drift" ->
      // mirror of CurationAudit.labelDrift: components quantize to the 1e6
      // BIGINT grid before summation, per-dim means re-quantize after one
      // IEEE division each, and the sqrt/divide chain is the same IEEE
      // sequence — every aggregated value is an exact integer
      """WITH q AS (
           SELECT label, i AS d,
                  CAST(round(embedding[i]::DOUBLE * 1e6) AS BIGINT) AS q
           FROM embeddings,
                LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r),
         bl AS (SELECT label, d, sum(q)::BIGINT AS s, count(*)::BIGINT AS nl
                FROM q GROUP BY 1, 2),
         c AS (SELECT d, sum(s)::BIGINT AS cs, sum(nl)::BIGINT AS cn
               FROM bl GROUP BY d),
         m AS (SELECT label, nl,
                 CAST(round(s::DOUBLE / nl - cs::DOUBLE / cn) AS BIGINT) AS md,
                 CAST(round(s::DOUBLE / nl) AS BIGINT) AS ml,
                 CAST(round(cs::DOUBLE / cn) AS BIGINT) AS mc
               FROM bl JOIN c USING (d))
         SELECT label, max(nl) AS n_vecs,
                sum(md * md)::BIGINT AS dist2_e12,
                round(sqrt(sum(md * md)) / 1e6, 6) AS dist,
                CASE WHEN sum(ml * ml) > 0 AND sum(mc * mc) > 0
                     THEN round(sum(ml * mc)
                                / (sqrt(sum(ml * ml)) * sqrt(sum(mc * mc))), 6)
                END AS cos_sim
         FROM m GROUP BY label ORDER BY label""",
    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 8 AS shard
          FROM documents)
          SELECT shard, CAST(floor((sum(n_tokens) OVER (PARTITION BY shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) / 512) AS BIGINT) AS bin,
                 doc_id, n_tokens
          FROM t""",
    "txt_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "https?://[^\\s]+"
      val digits = "[0-9]{7,}"
      s"""WITH r1 AS (SELECT doc_id, text,
                 regexp_replace(text, '$email', '<EMAIL>', 'g') AS after_email
               FROM documents),
          r2 AS (SELECT doc_id, text, after_email,
                 regexp_replace(after_email, '$url', '<URL>', 'g') AS after_url
               FROM r1)
          SELECT doc_id,
          regexp_replace(after_url, '$digits', '<NUM>', 'g') AS clean_text,
          (len(string_split_regex(text, '$email')) - 1
           + len(string_split_regex(after_email, '$url')) - 1
           + len(string_split_regex(after_url, '$digits')) - 1)::BIGINT AS n_redactions
          FROM r2"""
    },
    "txt_token_stats" ->
      s"""SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
          length(text)::BIGINT AS n_text_chars,
          ceil(length(text)/4.0)::BIGINT AS n_bpe_est,
          round(length(text) / len($toksSql), 4) AS chars_per_token
          FROM documents""",
    "txt_quality" ->
      s"""SELECT doc_id, n_tokens, n_punct, n_stop, punct_ratio, stop_ratio,
          round(stop_ratio*2.0 - punct_ratio, 4) AS quality FROM (
            SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
              len(regexp_extract_all(text, '[.!?,;:]'))::BIGINT AS n_punct,
              len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))::BIGINT AS n_stop,
              round(len(regexp_extract_all(text, '[.!?,;:]')) / length(text), 4) AS punct_ratio,
              round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                    / len($toksSql), 4) AS stop_ratio
            FROM documents) t""",
    "txt_lang_id" ->
      """SELECT doc_id,
         CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
              WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
              WHEN c_es >= c_fr THEN 'es' ELSE 'fr' END AS lang_pred,
         c_en::BIGINT AS c_en, c_de::BIGINT AS c_de,
         c_es::BIGINT AS c_es, c_fr::BIGINT AS c_fr FROM (
           SELECT doc_id,
             len(regexp_extract_all(text, '\b(the|order|fast|scan)\b')) AS c_en,
             len(regexp_extract_all(text, '\b(stream|merge|window)\b')) AS c_de,
             len(regexp_extract_all(text, '\b(table|query|group)\b')) AS c_es,
             len(regexp_extract_all(text, '\b(join|filter|sort)\b')) AS c_fr
           FROM documents) t""",
    "txt_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fp_md5,
          ${md5L60(normSql)} AS fp60 FROM documents""",
    "txt_top_bigrams" ->
      """SELECT bigram, n, rank FROM (
           SELECT bigram, count(*) AS n,
                  row_number() OVER (ORDER BY count(*) DESC, bigram) AS rank
           FROM (SELECT array_to_string(w[i:i+1], ' ') AS bigram
                 FROM (SELECT string_split(text, ' ') AS w FROM documents) ws,
                      LATERAL (SELECT unnest(range(1, len(w))) AS i) r
                 WHERE len(w) >= 2) b
           GROUP BY bigram) t
         WHERE rank <= 50""",
    "txt_pmi_bigrams" ->
      // per-term ln rounds to the 1e-8 grid BEFORE the sum (the
      // txt_lm_score rule) so pmi_e8 is exact BIGINT arithmetic
      s"""WITH toks AS MATERIALIZED (SELECT $toksSql AS ws FROM documents
            WHERE len(trim(text)) > 0),
          uni AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c
            FROM (SELECT unnest(ws) AS w FROM toks) u GROUP BY w),
          bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*)::BIGINT AS n_pair
                 FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r
                 WHERE len(ws) >= 2 GROUP BY 1, 2),
          n AS (SELECT sum(c)::BIGINT AS n FROM uni)
          SELECT w1, w2, n_pair, pmi_e8,
                 row_number() OVER (ORDER BY pmi_e8 DESC, w1, w2) AS rank
          FROM (SELECT w1, w2, bi.n_pair,
                  (round(ln(bi.n_pair) * 1e8) + round(ln(n.n) * 1e8)
                   - round(ln(u1.c) * 1e8) - round(ln(u2.c) * 1e8))::BIGINT AS pmi_e8
                FROM bi, n
                JOIN uni u1 ON u1.w = bi.w1
                JOIN uni u2 ON u2.w = bi.w2
                WHERE bi.n_pair >= 5) s
          QUALIFY rank <= 50 ORDER BY rank""",
    "q_kmv_distinct" ->
      // the serial replay of the KMV set semantics: k smallest distinct
      // 60-bit salted hashes per group; estimator (k-1)*2^60/h_k is one
      // IEEE double division + round, bit-identical cross-engine
      s"""WITH sh AS (SELECT DISTINCT source,
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
               FROM (SELECT source, $toksSql AS ws FROM documents
                     WHERE len(trim(text)) > 0) t,
                    LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) r
               WHERE len(ws) >= 3),
          h AS (SELECT source, shingle,
                  ${md5L60("'kmv:'||shingle")} AS h FROM sh),
          mins AS (SELECT source, h,
                     row_number() OVER (PARTITION BY source ORDER BY h) AS rk
                   FROM (SELECT DISTINCT source, h FROM h) d QUALIFY rk <= 64),
          ex AS (SELECT source, count(DISTINCT shingle)::BIGINT AS n_exact
                 FROM h GROUP BY source),
          sk AS (SELECT source, count(*)::BIGINT AS n_kept, max(h) AS kth
                 FROM mins GROUP BY source),
          est AS (SELECT ex.source, ex.n_exact, sk.n_kept,
                 CASE WHEN sk.n_kept < 64 THEN sk.n_kept
                      ELSE round(63 * 1152921504606846976.0
                                 / greatest(kth, 1))::BIGINT END AS n_est
               FROM ex JOIN sk USING (source))
          SELECT source, n_exact, n_kept, n_est,
                 abs(n_est - n_exact) * 1000 // n_exact AS err_pm,
                 ${math.ceil(4000.0 / math.sqrt(62.0)).toLong}::BIGINT AS bound_pm,
                 abs(n_est - n_exact) * 1000 // n_exact
                   <= ${math.ceil(4000.0 / math.sqrt(62.0)).toLong} AS within_bound
          FROM est ORDER BY source""",
    "q_phrase_search" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS ws FROM documents
            WHERE len(trim(text)) > 0),
          q AS (SELECT doc_id AS q_id, ws[1] || ' ' || ws[2] || ' ' || ws[3] AS phrase
                FROM toks WHERE doc_id < 5 AND len(ws) >= 3),
          tri AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tri
                  FROM toks, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) r
                  WHERE len(ws) >= 3)
          SELECT q.q_id, q.phrase, t.doc_id, count(*)::BIGINT AS n_hits
          FROM q JOIN tri t ON t.tri = q.phrase
          GROUP BY q.q_id, q.phrase, t.doc_id
          ORDER BY q.q_id, t.doc_id""",
    "txt_vocab" ->
      s"""SELECT term, tf, df, rank FROM (
            SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df,
                   row_number() OVER (ORDER BY count(*) DESC, term) AS rank
            FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents) t
            GROUP BY term) r
          WHERE rank <= 100""",
    "txt_tfidf" ->
      s"""SELECT term, tf, df, idf, tfidf, rank FROM (
            SELECT term, tf, df, idf, round(tf * idf, 4) AS tfidf,
                   row_number() OVER (ORDER BY round(tf * idf, 4) DESC, term) AS rank
            FROM (SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df,
                    round(ln((SELECT count(*) FROM documents)::DOUBLE
                             / count(DISTINCT doc_id)), 8) AS idf
                  FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents) t
                  GROUP BY term) g) r
          WHERE rank <= 50""",
    "txt_lm_score" ->
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, $toksSql AS ws FROM documents),
          uni AS MATERIALIZED (SELECT t, count(*) AS ca
                FROM (SELECT unnest(ws) AS t FROM toks) u GROUP BY t),
          vocab AS (SELECT count(*) AS v FROM uni),
          bg AS MATERIALIZED (SELECT doc_id, ws[i] AS a, ws[i+1] AS b
                FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r
                WHERE len(ws) >= 2),
          bi AS MATERIALIZED (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
          scored AS (SELECT g.doc_id,
                CAST(round(ln((bi.cab + 1)::DOUBLE / (uni.ca + vocab.v)) * 1e8) AS BIGINT) AS lq
              FROM bg g JOIN bi ON g.a = bi.a AND g.b = bi.b
              JOIN uni ON uni.t = g.a, vocab),
          per_doc AS (SELECT doc_id, count(*) AS n_bigrams,
                round(sum(lq) / (1e8 * count(*)), 6) AS lm_score
              FROM scored GROUP BY doc_id)
          SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, p.lm_score
          FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""",
    "txt_reps" ->
      // same tagged-gram shape as the Spark side: counts collapse per
      // (doc, n, md5-digest); fractions are BIGINT/BIGINT IEEE divisions
      s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents),
          g AS (
            SELECT doc_id, 2 AS n, ${md5L60("array_to_string(ws[i:i+1], ' ')")} AS gh
            FROM t, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r
            WHERE len(ws) >= 2
            UNION ALL
            SELECT doc_id, 3 AS n, ${md5L60("array_to_string(ws[i:i+2], ' ')")} AS gh
            FROM t, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) r
            WHERE len(ws) >= 3),
          c AS (SELECT doc_id, n, gh, count(*) AS c FROM g GROUP BY doc_id, n, gh),
          a AS (SELECT doc_id, n, sum(c)::BIGINT AS total, count(*) AS n_distinct,
                       max(c) AS top
                FROM c GROUP BY doc_id, n),
          b AS (SELECT doc_id,
                  max(CASE WHEN n = 2 THEN total END) AS n2,
                  max(CASE WHEN n = 2 THEN top END) AS t2,
                  max(CASE WHEN n = 3 THEN total END) AS n3,
                  max(CASE WHEN n = 3 THEN n_distinct END) AS d3
                FROM a GROUP BY doc_id)
          SELECT d.doc_id, coalesce(n2, 0)::BIGINT AS n_2grams,
                 coalesce(t2, 0)::BIGINT AS top_2gram_n, t2 / n2 AS top_2gram_frac,
                 coalesce(n3, 0)::BIGINT AS n_3grams,
                 coalesce(d3, 0)::BIGINT AS n_distinct_3grams,
                 (n3 - d3) / n3 AS dup_3gram_frac
          FROM documents d LEFT JOIN b USING (doc_id)""",
    "txt_bm25" ->
      // identical expression shape to the Spark side: idf quantized at
      // 1e-8 before the multiply, each term contribution quantized to a
      // BIGINT at 1e6 so the cross-term sum has no float-order dependence
      s"""WITH t AS (SELECT doc_id, $toksSql AS ws FROM documents),
          base AS (SELECT doc_id, len(ws)::BIGINT AS dl,
                     len(list_filter(ws, x -> x = 'spark'))::BIGINT AS tf_0,
                     len(list_filter(ws, x -> x = 'join'))::BIGINT AS tf_1,
                     len(list_filter(ws, x -> x = 'window'))::BIGINT AS tf_2
                   FROM t),
          st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
                   sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_0,
                   sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_1,
                   sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_2
                 FROM base),
          s AS (SELECT b.doc_id, b.dl, b.tf_0, b.tf_1, b.tf_2,
                  CAST(round(round(ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1), 8)
                    * ((tf_0 * (1.2 + 1)) / (tf_0 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
                    * 1e6) AS BIGINT) AS c0,
                  CAST(round(round(ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1), 8)
                    * ((tf_1 * (1.2 + 1)) / (tf_1 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
                    * 1e6) AS BIGINT) AS c1,
                  CAST(round(round(ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1), 8)
                    * ((tf_2 * (1.2 + 1)) / (tf_2 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
                    * 1e6) AS BIGINT) AS c2
                FROM base b, st)
          SELECT doc_id, dl, tf_0 AS tf_spark, tf_1 AS tf_join, tf_2 AS tf_window,
                 (c0 + c1 + c2) / 1e6 AS bm25
          FROM s""",
    "txt_bpe_train" ->
      s"""WITH ${bpeTrainCtes(graft.analytics.Bpe.Rounds)}
          SELECT * FROM (${bpeMergeUnion(graft.analytics.Bpe.Rounds)}) ORDER BY round""",
    "txt_bpe_encode" ->
      s"""WITH ${bpeTrainCtes(graft.analytics.Bpe.Rounds)},
          ${bpeEncodeCtes(graft.analytics.Bpe.Rounds)}
          SELECT doc_id,
                 len(string_split_regex(raw, '\\s+'))::BIGINT AS n_ws_tokens,
                 len(regexp_replace(raw, '\\s', '', 'g'))::BIGINT AS n_chars,
                 (len(s) - len(replace(s, chr(1), '')))::BIGINT AS n_bpe_tokens,
                 round(len(regexp_replace(raw, '\\s', '', 'g'))::DOUBLE
                       / (len(s) - len(replace(s, chr(1), ''))), 4) AS bpe_ratio
          FROM e${graft.analytics.Bpe.Rounds} ORDER BY doc_id""",
    "txt_bpe_fertility" ->
      // per-source fertility over the deep tokenizer: counts from the
      // recursive encode chain, ratios as integer per-mille
      s"""WITH RECURSIVE ${bpeDeepCtes(graft.analytics.Bpe.DeepRounds, graft.analytics.Bpe.DeepCap)},
          ${bpeDeepEncodeCtes()},
          per AS (SELECT d.doc_id, d.source,
                    len(${toksSql})::BIGINT AS ws,
                    len(regexp_replace(d.text, '\\s', '', 'g'))::BIGINT AS ch,
                    (len(e.s) - len(replace(e.s, chr(1), '')))::BIGINT AS bpe
                  FROM (SELECT doc_id, source, text,
                          replace(trim(text), ' ', chr(9601)) AS seg FROM documents
                        WHERE len(trim(text)) > 0) d
                  JOIN efin e USING (seg))
          SELECT source, count(*)::BIGINT AS n_docs,
                 sum(ws)::BIGINT AS n_ws_tokens,
                 sum(bpe)::BIGINT AS n_bpe_tokens,
                 sum(ch)::BIGINT AS n_chars,
                 (sum(bpe) * 1000 // sum(ws))::BIGINT AS fert_pm,
                 (sum(ch) * 1000 // sum(bpe))::BIGINT AS cpt_pm
          FROM per GROUP BY source ORDER BY source""",
    "txt_bpe_train_deep" ->
      s"""WITH RECURSIVE ${bpeDeepCtes(graft.analytics.Bpe.DeepRounds, graft.analytics.Bpe.DeepCap)}
          SELECT round, lhs, rhs, lhs||rhs AS merged, cnt AS pair_count
          FROM mall ORDER BY round""",
    "txt_bpe_tokenize" ->
      s"""WITH RECURSIVE ${bpeDeepCtes(graft.analytics.Bpe.DeepRounds, graft.analytics.Bpe.DeepCap)},
          ${bpeDeepEncodeCtes()}
          SELECT d.doc_id,
                 (len(s) - len(replace(s, chr(1), '')))::BIGINT AS n_bpe_tokens,
                 array_to_string(string_split(substr(s, 2, len(s) - 2),
                                              chr(2)||chr(1)), ' ') AS tokens
          FROM (SELECT doc_id, replace(trim(text), ' ', chr(9601)) AS seg FROM documents
                WHERE len(trim(text)) > 0) d
          JOIN efin e USING (seg) ORDER BY d.doc_id""",
    "txt_bpe_tokenize_1k" ->
      // identical recipe at the SCALE depth: the recursive trainer CTE
      // parameterized to 1024 rounds (VERDICT r12 #8 — the encoder's
      // heap-walk correctness oracle-checked where the depth binds)
      s"""WITH RECURSIVE ${bpeDeepCtes(graft.analytics.Bpe.Deep1kRounds, graft.analytics.Bpe.DeepCap)},
          ${bpeDeepEncodeCtes()}
          SELECT d.doc_id,
                 (len(s) - len(replace(s, chr(1), '')))::BIGINT AS n_bpe_tokens,
                 array_to_string(string_split(substr(s, 2, len(s) - 2),
                                              chr(2)||chr(1)), ' ') AS tokens
          FROM (SELECT doc_id, replace(trim(text), ' ', chr(9601)) AS seg FROM documents
                WHERE len(trim(text)) > 0) d
          JOIN efin e USING (seg) ORDER BY d.doc_id""",
    "txt_bpe_vocab_deep" ->
      s"""WITH RECURSIVE ${bpeDeepCtes(graft.analytics.Bpe.DeepRounds, graft.analytics.Bpe.DeepCap)},
          fin AS (SELECT freq, seq FROM st WHERE r = (SELECT max(r) FROM st)),
          v AS (SELECT symbol, sum(freq)::BIGINT AS n_occ,
                       count(DISTINCT seq)::BIGINT AS n_segs
                FROM (SELECT freq, seq,
                        unnest(string_split(substr(seq, 2, len(seq) - 2),
                                            chr(2)||chr(1))) AS symbol
                      FROM fin) t
                GROUP BY symbol)
          SELECT symbol, n_occ, n_segs, rank FROM (
            SELECT symbol, n_occ, n_segs,
                   row_number() OVER (ORDER BY n_occ DESC, symbol) AS rank
            FROM v) r
          WHERE rank <= 100 ORDER BY rank""",
    "txt_bpe_vocab" ->
      s"""WITH ${bpeTrainCtes(graft.analytics.Bpe.Rounds)},
          v AS (SELECT symbol, sum(freq)::BIGINT AS n_occ,
                       count(DISTINCT seq)::BIGINT AS n_words
                FROM (SELECT freq, seq,
                        unnest(string_split(substr(seq, 2, len(seq) - 2),
                                            chr(2)||chr(1))) AS symbol
                      FROM w${graft.analytics.Bpe.Rounds}) t
                GROUP BY symbol)
          SELECT symbol, n_occ, n_words, rank FROM (
            SELECT symbol, n_occ, n_words,
                   row_number() OVER (ORDER BY n_occ DESC, symbol) AS rank
            FROM v) r
          WHERE rank <= 100 ORDER BY rank""",
    "dedup_cdc_mass" ->
      // per-doc rollup of the CDC chunks: bytes in chunks carried by >=2
      // docs, integer per-mille share
      s"""WITH d AS (SELECT doc_id, $normSql AS nt FROM documents
                     WHERE length($normSql) >= 8),
          b AS (SELECT doc_id, nt,
                  list_append(
                    list_filter(
                      list_transform(
                        list_filter(range(1, length(nt) - 6),
                          i -> list_reduce(list_transform(range(i, i + 8),
                                 j -> ascii(substring(nt, j::INT, 1))::BIGINT),
                               (acc, c) -> (acc * 257 + c) % 2147483647) % 64 = 0),
                        i -> i + 7),
                      e -> e < length(nt)),
                    length(nt)) AS ends
                FROM d),
          c AS (SELECT doc_id, nt, ends, unnest(range(1, len(ends) + 1)) AS jx FROM b),
          ch AS (SELECT doc_id,
                   md5(substring(nt,
                     (CASE WHEN jx = 1 THEN 1 ELSE ends[(jx - 1)::INT] + 1 END)::INT,
                     (ends[jx::INT] - (CASE WHEN jx = 1 THEN 1 ELSE ends[(jx - 1)::INT] + 1 END) + 1)::INT)) AS c_hash,
                   (ends[jx::INT] - (CASE WHEN jx = 1 THEN 1 ELSE ends[(jx - 1)::INT] + 1 END) + 1)::BIGINT AS c_len
                 FROM c),
          sh AS (SELECT c_hash FROM ch GROUP BY c_hash HAVING count(DISTINCT doc_id) >= 2),
          tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks, sum(c_len)::BIGINT AS total_bytes
                  FROM ch GROUP BY doc_id),
          dup AS (SELECT doc_id, sum(c_len)::BIGINT AS dup_bytes
                  FROM ch JOIN sh USING (c_hash) GROUP BY doc_id)
          SELECT t.doc_id, n_chunks, total_bytes,
                 coalesce(dup_bytes, 0)::BIGINT AS dup_bytes,
                 (coalesce(dup_bytes, 0) * 1000 // total_bytes)::BIGINT AS dup_pm
          FROM tot t LEFT JOIN dup USING (doc_id) ORDER BY t.doc_id""",
    "dedup_cdc" ->
      // content-defined chunk boundaries: gram starts whose Horner hash
      // (the txt_rolling_fp arithmetic) is 0 mod 64 end a chunk at char
      // i+7; the doc tail always closes the last chunk. DuckDB lists are
      // 1-based where Spark arrays are 0-based — the jx arithmetic
      // differs by one on purpose.
      s"""WITH d AS (SELECT doc_id, $normSql AS nt FROM documents
                     WHERE length($normSql) >= 8),
          b AS (SELECT doc_id, nt,
                  list_append(
                    list_filter(
                      list_transform(
                        list_filter(range(1, length(nt) - 6),
                          i -> list_reduce(list_transform(range(i, i + 8),
                                 j -> ascii(substring(nt, j::INT, 1))::BIGINT),
                               (acc, c) -> (acc * 257 + c) % 2147483647) % 64 = 0),
                        i -> i + 7),
                      e -> e < length(nt)),
                    length(nt)) AS ends
                FROM d),
          c AS (SELECT doc_id, nt, ends, unnest(range(1, len(ends) + 1)) AS jx FROM b),
          ch AS (SELECT doc_id,
                   CASE WHEN jx = 1 THEN 1 ELSE ends[(jx - 1)::INT] + 1 END AS s,
                   ends[jx::INT] AS e, nt FROM c)
          SELECT c_hash, min(c_len)::BIGINT AS c_len,
                 count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_occ
          FROM (SELECT doc_id, md5(substring(nt, s::INT, (e - s + 1)::INT)) AS c_hash,
                       (e - s + 1)::BIGINT AS c_len FROM ch) t
          GROUP BY c_hash HAVING count(DISTINCT doc_id) >= 2 ORDER BY c_hash""",
    "txt_rolling_fp" ->
      // Horner-rule rolling hash: DuckDB's list_reduce has no seed, but
      // starting from the first element equals seeding with 0 since
      // (0*257+c) % M = c — the fold chains identically thereafter
      s"""WITH d AS (SELECT doc_id, $normSql AS nt FROM documents
                     WHERE length($normSql) >= 8),
          g AS (SELECT doc_id, i::BIGINT AS pos,
                  list_reduce(list_transform(range(i, i + 8),
                                             j -> ascii(substring(nt, j::INT, 1))::BIGINT),
                              (acc, c) -> (acc * 257 + c) % 2147483647) AS h
                FROM d, LATERAL (SELECT unnest(range(1, length(nt) - 6)) AS i) r)
          SELECT doc_id, pos, fp FROM (
            SELECT doc_id, pos, h AS fp,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS wmin
            FROM g) t
          WHERE fp = wmin""",
    "txt_c4_filter" -> c4GateOracleSql("documents"),
    "txt_html_extract" ->
      // the extraction CTEs mirror TextAnalysis.htmlOf/htmlExtract (same
      // RE2-safe regexes, same integer link-density per-mille, same
      // block-order string_agg), then the SHARED c4-gate SQL runs over
      // the extracted text exactly as it runs over documents
      s"""WITH $htmlExtractCtes,
          cg AS (${c4GateOracleSql("ex")})
          SELECT e.doc_id, e.n_blocks, e.n_kept, length(e.text)::BIGINT AS ex_chars,
                 c.n_tokens, c.lang_pred, c.keep, c.reason
          FROM ex e JOIN cg c USING (doc_id)""",
    "pipe_prep_html" ->
      // the v7 composition: the SHARED html-extraction CTEs produce the
      // extracted corpus `ex`, then the UNCHANGED pipe_prep chain (gate
      // -> exact dedup -> split -> decontam -> pack) runs over it — the
      // gate CTEs are the same SQL body retargeted (prepGateCtesOver)
      s"""WITH ${htmlExtractCtes},
          ${prepGateCtesOver("ex")},
          keepers AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5($normSql) AS h FROM k) t GROUP BY h),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepTailSql""",
    "pipe_prep_incr" ->
      // v8: the increment (digest anti-join of the two snapshot CTEs, the
      // ds_snapshot_diff semantics) through the novelty floor (≥1 trigram
      // the resident corpus lacks) into the UNCHANGED gate/dedup/tail —
      // with the keeper set also anti-joined against v1's normalized
      // digests (the dedup_incremental semantics)
      s"""WITH v1 AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            WHERE (('0x'||substr(md5('v1:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 50),
          v2 AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN (('0x'||substr(md5('chg:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 100
                        THEN substr(text, 1, 100) ELSE text END AS text
            FROM documents
            WHERE NOT ((('0x'||substr(md5('v2:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 950)),
          v1d AS (SELECT doc_id, md5(text) AS dig FROM v1),
          inc AS MATERIALIZED (
            SELECT v2.doc_id, v2.text FROM v2 LEFT JOIN v1d
              ON v2.doc_id = v1d.doc_id AND md5(v2.text) = v1d.dig
            WHERE v1d.doc_id IS NULL),
          rtri AS MATERIALIZED (
            SELECT DISTINCT ${md5L32("shingle")} AS h1,
                   ('0x'||substr(md5(shingle),9,8))::UBIGINT::BIGINT AS h2
            FROM (SELECT array_to_string(w[i:i+2], ' ') AS shingle
                  FROM (SELECT string_split(text, ' ') AS w FROM v1) rws,
                       LATERAL (SELECT unnest(range(1, len(w)-1)) AS i) r
                  WHERE len(w) >= 3) s),
          itri AS (
            SELECT DISTINCT doc_id, ${md5L32("shingle")} AS h1,
                   ('0x'||substr(md5(shingle),9,8))::UBIGINT::BIGINT AS h2
            FROM (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
                  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM inc) iws,
                       LATERAL (SELECT unnest(range(1, len(w)-1)) AS i) r
                  WHERE len(w) >= 3) s),
          novel AS (SELECT DISTINCT doc_id FROM itri
                    WHERE NOT EXISTS (SELECT 1 FROM rtri
                                      WHERE rtri.h1 = itri.h1 AND rtri.h2 = itri.h2)),
          fresh AS MATERIALIZED (
            SELECT inc.doc_id, inc.text FROM inc JOIN novel USING (doc_id)),
          ${prepGateCtesOver("fresh")},
          v1n AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
                  FROM v1),
          keepers AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5($normSql) AS h FROM k) t
            WHERE NOT EXISTS (SELECT 1 FROM v1n WHERE v1n.h = t.h)
            GROUP BY h),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepTailSql""",
    "pipe_prep_mm" ->
      // v10: the shared gate CTEs, the shared dHash AND aHash chains
      // OVER THE GATED corpus (mmPhashCtesOver("k")/mmAhashCtesOver("k")
      // — one SQL body each with mm_phash_dedup/mm_ahash_dedup), both
      // media's cluster-components fixpoints, and keepers = exact text
      // keepers ∩ image-cluster keepers ∩ audio-cluster keepers (min
      // reachable id == self on each axis) feeding the unchanged tail
      s"""WITH RECURSIVE $prepGateCtes,
          ${mmPhashCtesOver("k")},
          ${mmAhashCtesOver("k")},
          edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM phpairs
                    UNION ALL SELECT doc_b, doc_a FROM phpairs),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM k
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
          imgkeep AS MATERIALIZED (
            SELECT id AS doc_id FROM reach GROUP BY id HAVING min(lbl) = id),
          aedges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM ahpairs
                    UNION ALL SELECT doc_b, doc_a FROM ahpairs),
          areach(id, lbl) AS (
            SELECT doc_id, doc_id FROM k
            UNION
            SELECT e.src, r.lbl FROM areach r JOIN aedges e ON e.dst = r.id),
          audkeep AS MATERIALIZED (
            SELECT id AS doc_id FROM areach GROUP BY id HAVING min(lbl) = id),
          keepers AS MATERIALIZED (
            SELECT tk.doc_id FROM (
              SELECT min(doc_id) AS doc_id FROM (
                SELECT doc_id, md5($normSql) AS h FROM k) t0 GROUP BY h) tk
            JOIN imgkeep USING (doc_id)
            JOIN audkeep USING (doc_id)),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepTailSql""",
    "pipe_prep" ->
      // the composition mirror: each CTE is the oracle of one already-
      // verified stage (c4 gate, exact-dedup keepers, fold split, 13-gram
      // decontamination from the TRAIN side, per-shard packing), chained
      s"""WITH $prepGateCtes,
          keepers AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5($normSql) AS h FROM k) t GROUP BY h),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepTailSql""",
        "pipe_prep_dsir" ->
      // v6: the pipe_prep_train survivor chain, then the mix_dsir bucket
      // model FIT ON the surviving train corpus (lang joined back from
      // documents), the positive-LLR half kept, concat-chunk packing
      // over the kept set
      s"""WITH $prepGateCtes,
          keepers AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5($normSql) AS h FROM k) t GROUP BY h),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepSurvCtes,
          td AS MATERIALIZED (
            SELECT dd.doc_id, dd.text FROM dd JOIN surv s USING (doc_id)
            WHERE s.fold = 'train'),
          bucketed AS (
            SELECT w.doc_id, d.lang,
                   ('0x'||substr(md5(w.w),1,15))::UBIGINT::BIGINT % 64 AS b
            FROM (SELECT doc_id, unnest($toksSql) AS w FROM td) w
            JOIN documents d USING (doc_id)),
          model AS (SELECT b, count(*) AS cr,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
                    FROM bucketed GROUP BY b),
          tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
          ratio AS (
            SELECT m.b,
              cast(round(ln( ((m.ct + 1)::DOUBLE / (tot.nt + 64))
                           / ((m.cr + 1)::DOUBLE / (tot.nr + 64)) ) * 1e8) AS BIGINT) AS lr
            FROM model m, tot),
          docw AS (
            SELECT dcnt.doc_id, sum(dcnt.cnt * r.lr)::BIGINT AS dsir_w
            FROM (SELECT doc_id, b, count(*) AS cnt FROM bucketed GROUP BY doc_id, b) dcnt
            JOIN ratio r ON r.b = dcnt.b GROUP BY dcnt.doc_id),
          kd AS MATERIALIZED (SELECT doc_id, dsir_w FROM docw WHERE dsir_w > 0),
          c0 AS (SELECT td.doc_id, len($toksSql)::BIGINT AS n_tokens,
                   ('0x'||substr(md5(td.doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 8 AS shard
                 FROM td JOIN kd USING (doc_id)),
          c1 AS (SELECT shard, doc_id, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS t_end
                 FROM c0 WHERE n_tokens > 0),
          c2 AS (SELECT shard, doc_id, t_end, t_end - n_tokens AS t_start FROM c1),
          c3 AS (SELECT shard, doc_id, t_start, t_end,
                   unnest(generate_series(t_start//256, (t_end-1)//256)) AS seq_id FROM c2)
          SELECT c3.doc_id, kd.dsir_w, shard, seq_id::BIGINT AS seq_id,
            (greatest(t_start, seq_id*256) - t_start)::BIGINT AS doc_offset,
            (least(t_end, (seq_id+1)*256) - greatest(t_start, seq_id*256))::BIGINT AS n_toks
          FROM c3 JOIN kd ON kd.doc_id = c3.doc_id""",
        "pipe_prep_tok" ->
      // v5: the pipe_prep_train chain with n_tokens from the DEEP BPE
      // tokenizer trained on the surviving train corpus itself (bpe CTEs
      // prefixed "b" over td; segment join recovers per-doc counts)
      s"""WITH RECURSIVE $prepGateCtes,
          keepers AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5($normSql) AS h FROM k) t GROUP BY h),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepSurvCtes,
          td AS MATERIALIZED (
            SELECT dd.doc_id, dd.text FROM dd JOIN surv s USING (doc_id)
            WHERE s.fold = 'train'),
          ${bpeDeepCtes(graft.analytics.Bpe.DeepRounds, graft.analytics.Bpe.DeepCap, "td", "b")},
          ${bpeDeepEncodeCtes("td", "b")},
          q AS (SELECT doc_id,
                  round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                              / len($toksSql), 4) * 2.0
                        - round(len(regexp_extract_all(text, '[.!?,;:]'))
                                / length(text), 4), 4) AS quality
                FROM td),
          stg AS (SELECT doc_id, ntile(4) OVER (ORDER BY quality ASC, doc_id) AS stage FROM q),
          c0 AS (SELECT d.doc_id,
                   (len(e.s) - len(replace(e.s, chr(1), '')))::BIGINT AS n_tokens,
                   ('0x'||substr(md5(d.doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 8 AS shard
                 FROM (SELECT doc_id, replace(trim(text), ' ', chr(9601)) AS seg
                       FROM td WHERE len(trim(text)) > 0) d
                 JOIN befin e USING (seg)),
          c1 AS (SELECT shard, doc_id, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS t_end
                 FROM c0 WHERE n_tokens > 0),
          c2 AS (SELECT shard, doc_id, t_end, t_end - n_tokens AS t_start FROM c1),
          c3 AS (SELECT shard, doc_id, t_start, t_end,
                   unnest(generate_series(t_start//256, (t_end-1)//256)) AS seq_id FROM c2)
          SELECT c3.doc_id, stg.stage::BIGINT AS stage, shard, seq_id::BIGINT AS seq_id,
            (greatest(t_start, seq_id*256) - t_start)::BIGINT AS doc_offset,
            (least(t_end, (seq_id+1)*256) - greatest(t_start, seq_id*256))::BIGINT AS n_toks
          FROM c3 JOIN stg ON stg.doc_id = c3.doc_id""",
"pipe_prep_train" ->
      // the TRAINING-READY view: the pipe_prep survivor chain continued
      // through curriculum ntile over surviving-train quality and the
      // pack_concat_chunk CTEs over the surviving train text
      s"""WITH $prepGateCtes,
          keepers AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id FROM (
              SELECT doc_id, md5($normSql) AS h FROM k) t GROUP BY h),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN keepers USING (doc_id)),
          $prepSurvCtes,
          td AS MATERIALIZED (
            SELECT dd.doc_id, dd.text FROM dd JOIN surv s USING (doc_id)
            WHERE s.fold = 'train'),
          q AS (SELECT doc_id,
                  round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                              / len($toksSql), 4) * 2.0
                        - round(len(regexp_extract_all(text, '[.!?,;:]'))
                                / length(text), 4), 4) AS quality
                FROM td),
          st AS (SELECT doc_id, ntile(4) OVER (ORDER BY quality ASC, doc_id) AS stage FROM q),
          c0 AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tokens,
                   ('0x'||substr(md5(doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 8 AS shard
                 FROM td),
          c1 AS (SELECT shard, doc_id, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS t_end
                 FROM c0 WHERE n_tokens > 0),
          c2 AS (SELECT shard, doc_id, t_end, t_end - n_tokens AS t_start FROM c1),
          c3 AS (SELECT shard, doc_id, t_start, t_end,
                   unnest(generate_series(t_start//256, (t_end-1)//256)) AS seq_id FROM c2)
          SELECT c3.doc_id, st.stage::BIGINT AS stage, shard, seq_id::BIGINT AS seq_id,
            (greatest(t_start, seq_id*256) - t_start)::BIGINT AS doc_offset,
            (least(t_end, (seq_id+1)*256) - greatest(t_start, seq_id*256))::BIGINT AS n_toks
          FROM c3 JOIN st ON st.doc_id = c3.doc_id""",
    "mix_epochs_expand" ->
      // the mix_epochs schedule expanded to per-copy rows: base repeats
      // from the integer epochs, the fractional epoch carried by the
      // "me:"-salted md5 bucket
      s"""WITH t AS (SELECT source, sum(len($toksSql))::BIGINT AS data_tokens
                 FROM documents GROUP BY source),
          tgt AS (SELECT * FROM (VALUES ('src0',400),('src1',250),('src2',200),('src3',150))
                  v(source, t_pm)),
          j AS (SELECT t.source, data_tokens,
                  (40000 * t_pm // 1000)::BIGINT AS wanted_tokens
                FROM t JOIN tgt ON tgt.source = t.source),
          k2 AS (SELECT source,
                  least(4000, wanted_tokens * 1000 // data_tokens)::BIGINT AS epochs_pm
                FROM j),
          d AS (SELECT doc_id, d.source, epochs_pm,
                  (epochs_pm // 1000)
                    + CASE WHEN ('0x'||substr(md5('me:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000
                                < epochs_pm % 1000 THEN 1 ELSE 0 END AS n_copies
                FROM documents d JOIN k2 ON k2.source = d.source)
          SELECT doc_id, source, u.copy::BIGINT AS copy
          FROM (SELECT * FROM d WHERE n_copies > 0) dd,
               LATERAL (SELECT unnest(generate_series(0, n_copies - 1)) AS copy) u""",
    "pipe_prep_quality" ->
      // the FineWeb-style variant: stage 2 swaps the exact min-id keeper
      // for near-dup clustering over the GATED corpus (simhash CTEs over
      // k, recursive-CTE components — the dedup_clusters fixpoint) with
      // the argmax-quality member kept per cluster (the dedup_keep_best
      // selection); stages 1 and 3-5 are byte-identical to pipe_prep
      s"""WITH RECURSIVE $prepGateCtes,
          ${simhashCteOver("k")},
          $simhashPairsCte,
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM shp
                    UNION ALL SELECT doc_b, doc_a FROM shp),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM k
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id),
          q AS (SELECT doc_id,
                  round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                              / len($toksSql), 4) * 2.0
                        - round(len(regexp_extract_all(text, '[.!?,;:]'))
                                / length(text), 4), 4) AS quality
                FROM k),
          best AS (SELECT doc_id FROM (
                     SELECT cl.doc_id,
                       row_number() OVER (PARTITION BY cl.cluster
                         ORDER BY q.quality DESC NULLS LAST, cl.doc_id) AS rn
                     FROM cl JOIN q USING (doc_id)) b WHERE rn = 1),
          dd AS MATERIALIZED (SELECT k.doc_id, k.text FROM k JOIN best USING (doc_id)),
          $prepTailSql""",
    "pipe_prep_clean" ->
      // v3 mirror: the pipe_prep_quality chain with the substring-
      // excision CTEs spliced between the gate and the clustering — the
      // cleaned corpus kc (cut text where spans existed, pass-through
      // otherwise) feeds the simhash CTEs, the component seed set, the
      // quality scores, AND the tail stages, so every downstream hash
      // sees deduplicated bytes exactly like the Spark composition
      s"""WITH RECURSIVE $prepGateCtes,
          ${substringCutCtes("k", "x_")},
          kc AS MATERIALIZED (SELECT doc_id, text FROM (
                   SELECT k.doc_id, coalesce(c.ct, k.text) AS text
                   FROM k LEFT JOIN x_clean c USING (doc_id)) kt
                 WHERE length(text) > 0),
          ${simhashCteOver("kc")},
          $simhashPairsCte,
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM shp
                    UNION ALL SELECT doc_b, doc_a FROM shp),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM kc
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id),
          q AS (SELECT doc_id,
                  round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                              / len($toksSql), 4) * 2.0
                        - round(len(regexp_extract_all(text, '[.!?,;:]'))
                                / length(text), 4), 4) AS quality
                FROM kc),
          best AS (SELECT doc_id FROM (
                     SELECT cl.doc_id,
                       row_number() OVER (PARTITION BY cl.cluster
                         ORDER BY q.quality DESC NULLS LAST, cl.doc_id) AS rn
                     FROM cl JOIN q USING (doc_id)) b WHERE rn = 1),
          dd AS MATERIALIZED (SELECT kc.doc_id, kc.text FROM kc JOIN best USING (doc_id)),
          $prepTailSql""",
    "pipe_prep_semantic" ->
      // v4 mirror: the pipe_prep_clean chain with the SemDeDup CTEs
      // (the dedup_semantic oracle, scoped to the near-dup SURVIVORS'
      // embeddings — centroid sample included) spliced between `best`
      // and `dd`. A survivor with no embedding row is never in sdrp, so
      // the anti-join keeps it — the pass-through the Spark side unions
      // in explicitly
      s"""WITH RECURSIVE $prepGateCtes,
          ${substringCutCtes("k", "x_")},
          kc AS MATERIALIZED (SELECT doc_id, text FROM (
                   SELECT k.doc_id, coalesce(c.ct, k.text) AS text
                   FROM k LEFT JOIN x_clean c USING (doc_id)) kt
                 WHERE length(text) > 0),
          ${simhashCteOver("kc")},
          $simhashPairsCte,
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM shp
                    UNION ALL SELECT doc_b, doc_a FROM shp),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM kc
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id),
          cl AS (SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id),
          q AS (SELECT doc_id,
                  round(round(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b'))
                              / len($toksSql), 4) * 2.0
                        - round(len(regexp_extract_all(text, '[.!?,;:]'))
                                / length(text), 4), 4) AS quality
                FROM kc),
          best AS (SELECT doc_id FROM (
                     SELECT cl.doc_id,
                       row_number() OVER (PARTITION BY cl.cluster
                         ORDER BY q.quality DESC NULLS LAST, cl.doc_id) AS rn
                     FROM cl JOIN q USING (doc_id)) b WHERE rn = 1),
          es AS MATERIALIZED (SELECT e.vec_id, e.embedding::DOUBLE[] AS ev
                 FROM embeddings e JOIN best b ON e.vec_id = b.doc_id),
          scent AS (SELECT vec_id AS c_id, ev AS ce FROM es
                    ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          sm AS MATERIALIZED (
            SELECT vec_id, ev, c_id AS list_id, c AS cent_cos FROM (
              SELECT v.vec_id, v.ev, c.c_id,
                     round(list_cosine_similarity(v.ev, c.ce), 4) AS c,
                     row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round(list_cosine_similarity(v.ev, c.ce), 4) DESC,
                                c.c_id) AS rk
              FROM es v, scent c) t WHERE rk = 1),
          sdrp AS (SELECT DISTINCT a.vec_id FROM sm a JOIN sm b
                     ON a.list_id = b.list_id
                    AND (b.cent_cos < a.cent_cos
                         OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
                    AND round(list_cosine_similarity(a.ev, b.ev), 4) >= 0.4),
          semk AS MATERIALIZED (SELECT b.doc_id FROM best b
                   LEFT JOIN sdrp d ON b.doc_id = d.vec_id
                   WHERE d.vec_id IS NULL),
          dd AS MATERIALIZED (SELECT kc.doc_id, kc.text FROM kc JOIN semk USING (doc_id)),
          $prepTailSql""",
    "chunk_overlap" ->
      // 1-based inclusive list slices in DuckDB == slice(toks, s+1, 32)
      // in Spark; range(0, n, 24) == sequence(0, n-1, 24) for n >= 1
      """WITH t AS MATERIALIZED (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents WHERE length(trim(text)) > 0),
         u AS MATERIALIZED (
           SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS s FROM t)
         SELECT doc_id, CAST(s AS BIGINT) AS start_tok,
           array_to_string(toks[s+1 : s+32], ' ') AS chunk,
           least(32, len(toks) - s)::BIGINT AS chunk_tokens
         FROM u""",
    "dedup_embedding_exact" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4""",
    // --- similarity search (embeddings) ---
    "emb_quantize" ->
      // replays the SQ8 arithmetic dimension-by-dimension ((x-mn)*255/
      // (mx-mn), round-half-up on non-negative values in both engines),
      // fingerprinted to scalars so the hash is array-layout-free
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM d),
          qd AS (SELECT vec_id, mn, mx,
                   list_transform(e, x -> CASE WHEN mx = mn THEN 0
                     ELSE round((x - mn) * 255 / (mx - mn))::BIGINT END) AS q
                 FROM b)
          SELECT vec_id, mn, mx,
            list_sum(q)::BIGINT AS q_sum,
            list_sum(list_transform(q, x -> x * x))::BIGINT AS q_sumsq,
            q[1] AS q_head, q[len(q)] AS q_tail, len(q)::BIGINT AS n_dims
          FROM qd ORDER BY vec_id""",
    "knn_quantized" ->
      // knn_exact's mirror over DEQUANTIZED vectors: same quantize +
      // mn + q*(mx-mn)/255 reconstruction on both sides, cosine rounded
      // to 4 before ranking, ties by id
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM d),
          dq AS (SELECT vec_id, mn, mx,
                   list_transform(e, x -> CASE WHEN mx = mn THEN mn
                     ELSE mn + round((x - mn) * 255 / (mx - mn))::BIGINT
                          * (mx - mn) / 255 END) AS v
                 FROM b),
          q AS (SELECT vec_id AS q_id, v AS qe FROM dq WHERE vec_id < 10),
          c AS (SELECT q_id, vec_id AS n_id,
                  round(list_cosine_similarity(qe, v), 4) AS cos
                FROM q, dq WHERE vec_id <> q_id)
         SELECT q_id, n_id, rank, cos FROM (
           SELECT q_id, n_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           FROM c) t
         WHERE rank <= 5 ORDER BY q_id, rank""",
    "knn_range_search" -> {
      // mirror of Similarity.annIvfRange: the knn_ann_ivf candidate chain
      // with the rank window replaced by a tau filter on the rounded cosine
      def nn(filter: String, keep: Int, idAs: String, eAs: String) =
        s"""SELECT $idAs, $eAs, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e")}),
          probes AS (${nn("WHERE v.vec_id < 10", 4, "q_id", "qe")}),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos
          FROM cand
          WHERE round(list_cosine_similarity(qe, e), 4) >= 0.25"""
    },
    "emb_project" ->
      // mirror of Similarity.projectSigned: the md5-parity sign matrix is
      // derived in SQL; coordinates quantize to the 1e-6 grid so every
      // signed sum is BIGINT-exact in both engines
      """WITH ev AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                 CAST(round(unnest(embedding)::DOUBLE * 1e6, 0) AS BIGINT) AS qv
               FROM embeddings),
          s AS (SELECT j, i,
                 CASE WHEN ('0x'||substr(md5('rp:'||j||':'||i),1,15))::UBIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
               FROM range(16) r(j), range(64) r2(i))
          SELECT ev.vec_id, s.j::BIGINT AS dim, sum(ev.qv * s.sgn)::BIGINT AS p
          FROM ev JOIN s ON s.i = ev.i
          GROUP BY ev.vec_id, s.j""",
    "emb_pca_power" ->
      // mirror of Similarity.pcaPower: 12 matrix-free power rounds as a
      // recursive CTE whose working table is the 64 direction rows of
      // the previous round; all-integer (1e-6 coordinate grid, per-row
      // dot truncated by 1e10, sign-split truncating renormalization —
      // HUGEINT for the multiply, the quotient returns to BIGINT).
      // DuckDB `//` and Spark `div`/Java `/` both truncate toward zero
      // (pinned by spec), so every round replays bit-identically.
      """WITH RECURSIVE
          xq AS (SELECT vec_id,
                   list_transform(embedding::DOUBLE[], x -> cast(round(x*1e6) AS BIGINT)) AS q
                 FROM embeddings),
          mu AS (SELECT j, CASE WHEN sum(q[j]) >= 0 THEN sum(q[j]) // count(*)
                                ELSE -((-sum(q[j])) // count(*)) END AS m
                 FROM xq, range(1, 65) t(j) GROUP BY j),
          cvec AS (SELECT vec_id,
                   (SELECT list(q[j] - m ORDER BY j) FROM mu) AS c
                 FROM xq),
          it(r, j, vj) AS (
            SELECT 0, j::BIGINT, 1000000::BIGINT FROM range(1, 65) t(j)
            UNION ALL
            SELECT r, j,
              (CASE WHEN u >= 0 THEN (u::HUGEINT * 1000000) // mx
                    ELSE -(((-u)::HUGEINT * 1000000) // mx) END)::BIGINT
            FROM (
              SELECT uu.r, uu.j, uu.u, max(abs(uu.u)) OVER (PARTITION BY uu.r) AS mx
              FROM (
                SELECT sp.r + 1 AS r, t.j,
                  sum(CASE WHEN sp.s >= 0 THEN sp.s // 10000000000
                           ELSE -((-sp.s) // 10000000000) END * sp.c[t.j]) AS u
                FROM (
                  SELECT cvec.vec_id, cvec.c, p.r, sum(cvec.c[p.j] * p.vj) AS s
                  FROM cvec, it p
                  WHERE p.r < 12
                  GROUP BY cvec.vec_id, cvec.c, p.r
                ) sp, range(1, 65) t(j)
                GROUP BY sp.r, t.j
              ) uu
            ) nn)
          SELECT j AS dim, vj AS w FROM it WHERE r = 12 ORDER BY dim""",
    "emb_abtt" ->
      // apply side of emb_pca_power: the same recursive fit, then one
      // projection scan — coef = (c·v) div 1e10, the identical truncated
      // dot the power rounds use (sign-split, trunc toward zero)
      """WITH RECURSIVE
          xq AS (SELECT vec_id,
                   list_transform(embedding::DOUBLE[], x -> cast(round(x*1e6) AS BIGINT)) AS q
                 FROM embeddings),
          mu AS (SELECT j, CASE WHEN sum(q[j]) >= 0 THEN sum(q[j]) // count(*)
                                ELSE -((-sum(q[j])) // count(*)) END AS m
                 FROM xq, range(1, 65) t(j) GROUP BY j),
          cvec AS (SELECT vec_id,
                   (SELECT list(q[j] - m ORDER BY j) FROM mu) AS c
                 FROM xq),
          it(r, j, vj) AS (
            SELECT 0, j::BIGINT, 1000000::BIGINT FROM range(1, 65) t(j)
            UNION ALL
            SELECT r, j,
              (CASE WHEN u >= 0 THEN (u::HUGEINT * 1000000) // mx
                    ELSE -(((-u)::HUGEINT * 1000000) // mx) END)::BIGINT
            FROM (
              SELECT uu.r, uu.j, uu.u, max(abs(uu.u)) OVER (PARTITION BY uu.r) AS mx
              FROM (
                SELECT sp.r + 1 AS r, t.j,
                  sum(CASE WHEN sp.s >= 0 THEN sp.s // 10000000000
                           ELSE -((-sp.s) // 10000000000) END * sp.c[t.j]) AS u
                FROM (
                  SELECT cvec.vec_id, cvec.c, p.r, sum(cvec.c[p.j] * p.vj) AS s
                  FROM cvec, it p
                  WHERE p.r < 12
                  GROUP BY cvec.vec_id, cvec.c, p.r
                ) sp, range(1, 65) t(j)
                GROUP BY sp.r, t.j
              ) uu
            ) nn)
          SELECT vec_id,
            (CASE WHEN s >= 0 THEN s // 10000000000
                  ELSE -((-s) // 10000000000) END)::BIGINT AS coef
          FROM (SELECT cv.vec_id, sum(cv.c[p.j] * p.vj) AS s
                FROM cvec cv, it p WHERE p.r = 12
                GROUP BY cv.vec_id) t""",
    "knn_ann_ivf_proj" ->
      // mirror of Similarity.annIvfProjected: the emb_project sign matrix
      // builds 16-dim list vectors (exact BIGINT sums / 1e6 — one IEEE
      // division); assignment + probing rank by PROJECTED cosine, the
      // final re-rank by exact full-dimension cosine
      s"""WITH ev AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                 CAST(round(unnest(embedding)::DOUBLE * 1e6, 0) AS BIGINT) AS qv
               FROM embeddings),
          sg AS (SELECT j, i,
                 CASE WHEN ('0x'||substr(md5('rp:'||j||':'||i),1,15))::UBIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
               FROM range(16) r(j), range(64) r2(i)),
          pr AS (SELECT ev.vec_id, sg.j, sum(ev.qv * sg.sgn)::BIGINT AS p
               FROM ev JOIN sg ON sg.i = ev.i GROUP BY 1, 2),
          pv AS (SELECT vec_id, list(p::DOUBLE / 1000000.0 ORDER BY j) AS ep
                 FROM pr GROUP BY vec_id),
          f AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS fe, pv.ep
                FROM embeddings e JOIN pv ON pv.vec_id = e.vec_id),
          cent AS (SELECT vec_id AS c_id, ep AS ce FROM pv
                   ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (SELECT vec_id, fe, c_id AS list_id FROM (
             SELECT f.vec_id, f.fe, c.c_id, row_number() OVER (PARTITION BY f.vec_id
               ORDER BY round(list_cosine_similarity(f.ep, c.ce), 4) DESC, c.c_id) AS rk
             FROM f, cent c) t WHERE rk <= 1),
          probes AS (SELECT q_id, qe, c_id AS list_id FROM (
             SELECT f.vec_id AS q_id, f.fe AS qe, c.c_id, row_number() OVER (PARTITION BY f.vec_id
               ORDER BY round(list_cosine_similarity(f.ep, c.ce), 4) DESC, c.c_id) AS rk
             FROM f, cent c WHERE f.vec_id < 10) t WHERE rk <= 4),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.fe
                   FROM lists l JOIN probes p ON p.list_id = l.list_id AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, round(list_cosine_similarity(qe, fe), 4) AS cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qe, fe), 4) DESC, n_id)::BIGINT AS rank
            FROM cand) t WHERE rank <= 5""",
    "sample_negatives" -> {
      // mirror of Similarity.contrastiveTriplets: the knn_ann_ivf chain at
      // depth 4 split into pos/hard roles, plus salted-md5 random picks
      // scored by the same exact cosine (self/positive collisions dropped,
      // not resampled — engine-replayable)
      def nn(filter: String, keep: Int, idAs: String, eAs: String) =
        s"""SELECT $idAs, $eAs, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e")}),
          probes AS (${nn("WHERE v.vec_id < 10", 4, "q_id", "qe")}),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id),
          rk AS (SELECT q_id, n_id, cos, rank FROM (
             SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id)::BIGINT AS rank
             FROM cand) t WHERE rank <= 4),
          pr AS (SELECT q_id, CASE WHEN rank = 1 THEN 'pos' ELSE 'hard' END AS role,
                   rank, n_id, cos FROM rk),
          nq AS (SELECT count(*)::BIGINT AS n FROM embeddings),
          qs AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
                 FROM embeddings WHERE vec_id < 10),
          pos AS (SELECT q_id, n_id AS pos_id FROM rk WHERE rank = 1),
          picks AS (SELECT q_id, qe, i.rank,
              ('0x'||substr(md5('ng:'||q_id||':'||i.rank),1,15))::UBIGINT::BIGINT % n AS n_id
            FROM qs, nq, (SELECT unnest([1,2,3]::BIGINT[]) AS rank) i),
          rand AS (SELECT p.q_id, 'rand' AS role, p.rank, p.n_id,
              round(list_cosine_similarity(p.qe, e.embedding::DOUBLE[]), 4) AS cos
            FROM picks p JOIN pos ON pos.q_id = p.q_id
            JOIN embeddings e ON e.vec_id = p.n_id
            WHERE p.n_id <> p.q_id AND p.n_id <> pos.pos_id)
          SELECT q_id, role, rank, n_id, cos FROM pr
          UNION ALL SELECT q_id, role, rank, n_id, cos FROM rand"""
    },
    "knn_exact" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
                    FROM embeddings WHERE vec_id < 10),
          c AS (SELECT q_id, vec_id AS n_id,
                  round(list_cosine_similarity(qe, embedding::DOUBLE[]), 4) AS cos
                FROM q, embeddings WHERE vec_id <> q_id)
         SELECT q_id, n_id, rank, cos FROM (
           SELECT q_id, n_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           FROM c) t
         WHERE rank <= 5""",
    "knn_hybrid_rrf" -> {
      // mirror of Hybrid.hybridRrfQuery: lexical arm = distinct-token
      // postings joined on term with the BM25-idf integer weight (the
      // txt_bm25 two-step quantization, so the per-pair score is a BIGINT
      // sum), vector arm = the knn_ann_ivf chain truncated at 20, fused
      // by 1/(60+rank) reciprocal ranks (IEEE-identical divisions both
      // engines), ties to the smaller neighbor id at every ranking
      def nn(filter: String, keep: Int, idAs: String, eAs: String) =
        s"""SELECT $idAs, $eAs, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest(list_distinct($toksSql)) AS term FROM documents),
          st AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
          iw AS MATERIALIZED (
            SELECT term, CAST(round(round(ln((n_docs - count(*) + 0.5)
                     / (count(*) + 0.5) + 1), 8) * 1e6) AS BIGINT) AS iw
            FROM toks, st GROUP BY term, n_docs),
          lex AS (SELECT q.doc_id AS q_id, d.doc_id AS n_id, sum(i.iw)::BIGINT AS lex_i
                  FROM toks q JOIN toks d ON d.term = q.term AND d.doc_id <> q.doc_id
                  JOIN iw i ON i.term = q.term
                  WHERE q.doc_id < 10
                  GROUP BY 1, 2),
          lexr AS (SELECT q_id, n_id, rank_lex FROM (
            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
              ORDER BY lex_i DESC, n_id)::BIGINT AS rank_lex FROM lex) t
            WHERE rank_lex <= 20),
          cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e")}),
          probes AS (${nn("WHERE v.vec_id < 10", 4, "q_id", "qe")}),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id),
          vecr AS (SELECT q_id, n_id, rank_vec FROM (
            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
              ORDER BY round(list_cosine_similarity(qe, e), 4) DESC,
                       n_id)::BIGINT AS rank_vec FROM cand) t
            WHERE rank_vec <= 20),
          fused AS (
            SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.n_id, l.n_id) AS n_id,
                   v.rank_vec, l.rank_lex,
                   coalesce(1.0::DOUBLE / (60 + v.rank_vec), 0)
                     + coalesce(1.0::DOUBLE / (60 + l.rank_lex), 0) AS rrf
            FROM vecr v FULL JOIN lexr l ON l.q_id = v.q_id AND l.n_id = v.n_id)
          SELECT q_id, n_id, rank, round(rrf, 6) AS rrf,
                 coalesce(rank_vec, 0)::BIGINT AS rank_vec,
                 coalesce(rank_lex, 0)::BIGINT AS rank_lex
          FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY rrf DESC, n_id)::BIGINT AS rank FROM fused) t
          WHERE rank <= 5"""
    },
    "knn_ann_ivf" -> ivfFlatOracleSql(""),
    "knn_mmr" -> {
      // mirror of Similarity.mmrRerank: the knn_ann_ivf candidate chain
      // at depth 12, relevance/pairwise cosines on the exact decimal
      // shift (round(round(cos,4)*1e4) ∈ BIGINT), then the greedy MMR
      // loop as ONE recursive CTE carrying the selected list per query
      // (the loop-oracle discipline): each round LATERAL-picks the
      // argmax of 7*rel - 3*max_pair_cos_to_selected, ties by n_id.
      def nn(filter: String, keep: Int, idAs: String, eAs: String) =
        s"""SELECT $idAs, $eAs, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH RECURSIVE cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e")}),
          probes AS (${nn("WHERE v.vec_id < 10", 4, "q_id", "qe")}),
          cand0 AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                    FROM lists l JOIN probes p ON p.list_id = l.list_id
                                              AND l.vec_id <> p.q_id),
          cand AS MATERIALIZED (SELECT q_id, n_id, e, rel FROM (
              SELECT q_id, n_id, e,
                cast(round(round(list_cosine_similarity(qe, e), 4)*1e4) AS BIGINT) AS rel,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id) AS rk
              FROM cand0) t WHERE rk <= 12),
          pairs AS MATERIALIZED (SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id,
              cast(round(round(list_cosine_similarity(a.e, b.e), 4)*1e4) AS BIGINT) AS pc
            FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id),
          sel AS (
            SELECT q_id, 1 AS pick, n_id, [n_id] AS chosen, 7*rel AS mmr
            FROM (SELECT q_id, n_id, rel,
                    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rk
                  FROM cand) t WHERE rk = 1
            UNION ALL
            SELECT s.q_id, s.pick + 1, p.n_id, list_append(s.chosen, p.n_id), p.mmr
            FROM sel s JOIN LATERAL (
              SELECT c.n_id,
                7*c.rel - 3*(SELECT max(pp.pc) FROM pairs pp
                             WHERE pp.q_id = c.q_id AND pp.a_id = c.n_id
                               AND list_contains(s.chosen, pp.b_id)) AS mmr
              FROM cand c
              WHERE c.q_id = s.q_id AND NOT list_contains(s.chosen, c.n_id)
              ORDER BY mmr DESC, c.n_id LIMIT 1
            ) p ON true
            WHERE s.pick < 5)
          SELECT q_id, pick::BIGINT AS pick, n_id, mmr FROM sel"""
    },
    "knn_ann_filtered" -> {
      // mirror of Similarity.annIvfFiltered: the knn_ann_ivf chain with
      // the label carried through the candidate join, the query's label
      // applied BEFORE scoring, and nProbe doubled to 8 (the filtered-
      // serving practice: the predicate thins the probed lists)
      def nn(filter: String, keep: Int, idAs: String, eAs: String, lbl: String) =
        s"""SELECT $idAs, $eAs, $lbl, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, v.label AS $lbl, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e", "label")}),
          probes AS (${nn("WHERE v.vec_id < 10", 8, "q_id", "qe", "q_label")}),
          cand AS (SELECT DISTINCT p.q_id, p.qe, p.q_label, l.vec_id AS n_id, l.e, l.label
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id)::BIGINT AS rank
            FROM cand WHERE label = q_label) t
          WHERE rank <= 5"""
    },
    "knn_ann_prefiltered" -> {
      // mirror of Similarity.annIvfPrefiltered: the knn_ann_filtered
      // chain with the label equality moved INTO the candidate join (the
      // (label, list_id) partition key) — same centroids, same nProbe,
      // same ties, so the result is row-identical to post-filter; only
      // the join order (prune-before-fetch) differs
      def nn(filter: String, keep: Int, idAs: String, eAs: String, lbl: String) =
        s"""SELECT $idAs, $eAs, $lbl, c_id AS list_id FROM (
              SELECT v.vec_id AS $idAs, v.embedding::DOUBLE[] AS $eAs, v.label AS $lbl, c.c_id,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 4) DESC,
                           c.c_id) AS rk
              FROM embeddings v, cent c $filter) t WHERE rk <= $keep"""
      s"""WITH cent AS (
            SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings
            ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (${nn("", 1, "vec_id", "e", "label")}),
          probes AS (${nn("WHERE v.vec_id < 10", 8, "q_id", "qe", "q_label")}),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.label = p.q_label
                                             AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id)::BIGINT AS rank
            FROM cand) t
          WHERE rank <= 5"""
    },
    "knn_ann_ivf_refined" -> {
      // mirror of Similarity.annIvfRefined: the knn_ann_ivf chain with a
      // 3-round fixed-point Lloyd refinement of the centroid seeds — per
      // round, rounded-cosine argmax assignment (the query-time rule),
      // then per-(list, dim) exact BIGINT sums of 2^-20-floored
      // coordinates and ONE double division back; empty lists keep their
      // centroid via the LEFT JOIN coalesce. Same round/tie discipline
      // as knn_ann_ivf everywhere else.
      val grid = 1L << 20; val rounds = 3; val dims = 64
      def refineRound(r: Int): String =
        s"""asg$r AS MATERIALIZED (SELECT vec_id, e, c_id FROM (
           |              SELECT v.vec_id, v.e, c.c_id,
           |                row_number() OVER (PARTITION BY v.vec_id
           |                  ORDER BY round(list_cosine_similarity(v.e, c.ce), 4) DESC, c.c_id) AS rk
           |              FROM d v, cent$r c) t WHERE rk <= 1),
           |          upd$r AS MATERIALIZED (SELECT c_id, dd.d AS d, count(*) AS n,
           |              sum(floor(e[dd.d] * $grid)::BIGINT) AS s
           |            FROM asg$r, LATERAL (SELECT unnest(range(1, ${dims + 1})) AS d) dd
           |            GROUP BY c_id, dd.d),
           |          cent${r + 1} AS MATERIALIZED (SELECT c.c_id, coalesce(u.ce, c.ce) AS ce
           |            FROM cent$r c LEFT JOIN (
           |              SELECT c_id, list(s::DOUBLE / (n * $grid)::DOUBLE ORDER BY d) AS ce
           |              FROM upd$r GROUP BY c_id) u ON u.c_id = c.c_id)""".stripMargin
      s"""WITH d AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          cent0 AS MATERIALIZED (SELECT vec_id AS c_id, e AS ce FROM d
                   ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          ${(0 until rounds).map(refineRound).mkString(",\n          ")},
          cent AS MATERIALIZED (SELECT c_id, ce FROM cent$rounds),
          lists AS MATERIALIZED (SELECT vec_id, e, c_id AS list_id FROM (
                      SELECT v.vec_id, v.e, c.c_id,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY round(list_cosine_similarity(v.e, c.ce), 4) DESC, c.c_id) AS rk
                      FROM d v, cent c) t WHERE rk <= 1),
          probes AS MATERIALIZED (SELECT q_id, qe, c_id AS list_id FROM (
                      SELECT v.vec_id AS q_id, v.e AS qe, c.c_id,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY round(list_cosine_similarity(v.e, c.ce), 4) DESC, c.c_id) AS rk
                      FROM d v, cent c WHERE v.vec_id < 10) t WHERE rk <= 4),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id)::BIGINT AS rank
            FROM cand) t
          WHERE rank <= 5 ORDER BY q_id, rank"""
    },
    "knn_ann_ivf_balanced" -> {
      // mirror of Similarity.annIvfBalanced: the knn_ann_ivf_refined CTE
      // chain with SIZE-PENALIZED assignment — per round (and for the
      // final resident lists) the argmax is over the BIGINT score
      // round(round(cos,4)*1e4) - pen (the DECIMAL SHIFT of the refined
      // chain's 4-dp quantization: inner round is the shared HALF_UP at
      // 4 dp, outer round only snaps float shift error), where pen =
      // round(5000 * prev list share) carried on the centroid row;
      // probes rank by PLAIN cosine (a query has no load to shed). Same
      // rounds/ties as the refined chain; λ=0 degenerates to it exactly
      // (BalancedIvfSpec law).
      val grid = 1L << 20; val rounds = 3; val dims = 64; val lambdaI = 5000L
      def refineRound(r: Int): String =
        s"""asg$r AS MATERIALIZED (SELECT vec_id, e, c_id FROM (
           |              SELECT v.vec_id, v.e, c.c_id,
           |                row_number() OVER (PARTITION BY v.vec_id
           |                  ORDER BY CAST(round(round(list_cosine_similarity(v.e, c.ce), 4) * 10000) AS BIGINT)
           |                             - c.pen DESC, c.c_id) AS rk
           |              FROM d v, cent$r c) t WHERE rk <= 1),
           |          cnt$r AS MATERIALIZED (SELECT c_id, count(*)::BIGINT AS n
           |            FROM asg$r GROUP BY c_id),
           |          upd$r AS MATERIALIZED (SELECT c_id, dd.d AS d, count(*) AS n,
           |              sum(floor(e[dd.d] * $grid)::BIGINT) AS s
           |            FROM asg$r, LATERAL (SELECT unnest(range(1, ${dims + 1})) AS d) dd
           |            GROUP BY c_id, dd.d),
           |          cent${r + 1} AS MATERIALIZED (SELECT c.c_id, coalesce(u.ce, c.ce) AS ce,
           |            coalesce(CAST(round($lambdaI * cnt.n::DOUBLE
           |                                / (SELECT count(*) FROM d)) AS BIGINT), 0) AS pen
           |            FROM cent$r c LEFT JOIN (
           |              SELECT c_id, list(s::DOUBLE / (n * $grid)::DOUBLE ORDER BY d) AS ce
           |              FROM upd$r GROUP BY c_id) u ON u.c_id = c.c_id
           |            LEFT JOIN cnt$r cnt ON cnt.c_id = c.c_id)""".stripMargin
      s"""WITH d AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          cent0 AS MATERIALIZED (SELECT vec_id AS c_id, e AS ce, 0::BIGINT AS pen FROM d
                   ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          ${(0 until rounds).map(refineRound).mkString(",\n          ")},
          cent AS MATERIALIZED (SELECT c_id, ce, pen FROM cent$rounds),
          lists AS MATERIALIZED (SELECT vec_id, e, c_id AS list_id FROM (
                      SELECT v.vec_id, v.e, c.c_id,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY CAST(round(round(list_cosine_similarity(v.e, c.ce), 4) * 10000) AS BIGINT)
                                     - c.pen DESC, c.c_id) AS rk
                      FROM d v, cent c) t WHERE rk <= 1),
          probes AS MATERIALIZED (SELECT q_id, qe, c_id AS list_id FROM (
                      SELECT v.vec_id AS q_id, v.e AS qe, c.c_id,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY round(list_cosine_similarity(v.e, c.ce), 4) DESC, c.c_id) AS rk
                      FROM d v, cent c WHERE v.vec_id < 10) t WHERE rk <= 4),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.e
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, round(list_cosine_similarity(qe, e), 4) AS cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qe, e), 4) DESC, n_id)::BIGINT AS rank
            FROM cand) t
          WHERE rank <= 5 ORDER BY q_id, rank"""
    },
    "knn_ann_ivf_sq8" -> sq8OracleSqlOver(None),
    "knn_ann_ivf_opq_pca" ->
      // the PCA-OPQ cascade (r17 #5): the whole decision chain — natural
      // variance gate, 12 integer power rounds, Householder rotation,
      // rotated-basis gate + snake — replays from first principles; the
      // oracle-data branch is the double-refusal one (near-isotropic
      // corpus), so the rung hashes as plain PQ exactly like the
      // never-a-loss opq law, while the spec plants the oblique corpus
      // where stage 2 engages and wins
      pqOracleSqlOver(opqPcaDChainSql),
    // the served twin's artifact round trip must change nothing: stored
    // hw/perm ARE the build's transforms — same oracle as the inline rung
    "knn_ann_ivf_opq_pca_served" -> pqOracleSqlOver(opqPcaDChainSql),
    "emb_householder" ->
      // the exact scaled rotated coordinate, all-integer: replays the
      // power rounds + sign choice + den + per-vector numerators and
      // hash-compares the int64 results — no rounding anywhere
      s"""WITH RECURSIVE raw AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          $pcaHouseholderCtes
          SELECT t.vec_id, h.j::BIGINT AS dim,
            t.q[h.j] * (SELECT den FROM hden) - h.w * n.num AS rs
          FROM q4 t JOIN hnum n ON n.vec_id = t.vec_id, hw h
          ORDER BY t.vec_id, dim""",
    "knn_ann_ivf_pq" -> pqOracleSqlOver(
      "d AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"),
    "knn_ann_ivf_opq" ->
      // the IDENTICAL PQ chain over the rotated corpus: per-dim variance
      // statistic n*sum(q^2) - sum(q)^2 on the 1e4 grid (exact BIGINTs,
      // the Spark fold's twin), rank by variance DESC (ties to the
      // smaller dim), snake-deal rank r into subspace s (row t = r//M,
      // left-to-right on even rows), slot = s*dsub + t — the closed-form
      // OPQ-P allocation Similarity.opqPermutation computes; queries and
      // corpus both read the permuted view so every float fold runs in
      // the permuted order on both engines
      pqOracleSqlOver(opqDChainSql(None)),
        // --- multimodal payload plumbing (documents; payload = UTF-8 bytes) ---
    "mm_payload_stats" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
         ('0x'||substr(md5(text),1,4))::UBIGINT::BIGINT % 1920 AS width,
         ('0x'||substr(md5(text),5,4))::UBIGINT::BIGINT % 1080 AS height,
         md5(text) AS payload_md5,
         md5(substr(text, 1, 64)) AS head_md5
         FROM documents""",
    "mm_decode_features" -> {
      // COALESCE + LEFT JOIN mirror decodeStub's short-doc behavior: a
      // slice with hi<=lo (doc shorter than 8 bytes) yields 0.0 and an
      // empty doc keeps its row — without them a sub-8-char document
      // would be a NULL/dropped-row parity break.
      val fcols = (1 to 8).map(i => s"coalesce(round(f$i, 6), 0.0) AS f$i").mkString(", ")
      val pivots = (0 until 8).map(i => s"avg(CASE WHEN slice = $i THEN bv END)/255.0 AS f${i + 1}")
        .mkString(",\n                 ")
      s"""WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS n FROM documents),
          sl AS (SELECT doc_id, n, i, (n*i)//8 AS lo, (n*(i+1))//8 AS hi
                 FROM d, LATERAL (SELECT unnest(range(8)) AS i) r),
          bytes AS (SELECT doc_id, p, ascii(substr(text, (p+1)::INT, 1)) AS bv
                    FROM d, LATERAL (SELECT unnest(range(0, n)) AS p) r),
          tagged AS (SELECT b.doc_id, sl.i AS slice, b.bv
                     FROM bytes b JOIN sl ON sl.doc_id = b.doc_id
                                        AND b.p >= sl.lo AND b.p < sl.hi),
          f AS (SELECT doc_id,
                 $pivots
               FROM tagged GROUP BY doc_id)
          SELECT d.doc_id, d.n AS n_bytes, $fcols
          FROM d LEFT JOIN f ON f.doc_id = d.doc_id"""
    },
    "mm_media_probe" ->
      // replays MediaCodec's container geometry from first principles:
      // bmp height = rows of 64 3-byte pixels over ceil(len/3) pixels;
      // wav samples = ceil(len/2) 16-bit mono frames. The Spark side
      // built REAL headers and parsed them back; the oracle checks the
      // arithmetic those headers must encode.
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS fmt,
           CASE WHEN doc_id % 2 = 0 THEN 64::BIGINT END AS width,
           CASE WHEN doc_id % 2 = 0 THEN
             greatest(1::BIGINT,
               ((coalesce(octet_length(encode(text)), 0) + 2) // 3 + 63) // 64)
           END AS height,
           CASE WHEN doc_id % 2 = 1 THEN 8000::BIGINT END AS sample_rate,
           CASE WHEN doc_id % 2 = 1 THEN 1::BIGINT END AS channels,
           CASE WHEN doc_id % 2 = 1 THEN
             ((coalesce(octet_length(encode(text)), 0) + 1) // 2)::BIGINT
           END AS n_samples
         FROM documents ORDER BY doc_id""",
    "mm_frame_sample" ->
      // the ASCII synthetic corpus makes byte-substring == char-substring,
      // so DuckDB's text-side md5 replays the Spark binary-side digests
      """WITH p AS (SELECT doc_id, text, strlen(text) // 32 AS n_frames
                    FROM documents),
          s AS (SELECT doc_id, text, n_frames,
                  unnest(range(0, least(8, (n_frames + 3) // 4))) AS k
                FROM p WHERE n_frames > 0)
          SELECT doc_id, k*4 AS frame_idx, n_frames,
            md5(substring(text, (k*128 + 1)::INT, 32)) AS frame_md5
          FROM s""",
    "mm_phash_dedup" -> s"WITH $mmPhashCtes\n          SELECT doc_a, doc_b, hamming FROM phpairs",
    "mm_ahash_dedup" ->
      // the SHARED ahash CTE chain (mmAhashCtesOver — one SQL body with
      // mm_ahash_clusters and pipe_prep_mm's audio stage)
      s"""WITH ${mmAhashCtesOver("documents")}
          SELECT doc_a, doc_b, hamming FROM ahpairs ORDER BY doc_a, doc_b""",
    "mm_ahash_clusters" ->
      // the audio pairs' components fixpoint — the identical
      // recursive-CTE shape every cluster family replays
      s"""WITH RECURSIVE ${mmAhashCtesOver("documents")},
          aedges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM ahpairs
                    UNION ALL SELECT doc_b, doc_a FROM ahpairs),
          areach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM areach r JOIN aedges e ON e.dst = r.id)
          SELECT id AS doc_id, min(lbl) AS keeper FROM areach GROUP BY id""",
    "mm_ahash_incr" ->
      // mm_phash_incr's snapshot/increment/verdict body with the SHARED
      // aHash hash stage instantiated twice (resident prefix r,
      // increment prefix i) — one set of CTEs per medium, same verdict
      // encode (hamming·2^40 + rid)
      s"""WITH v1 AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            WHERE (('0x'||substr(md5('v1:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 50),
          v2 AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN (('0x'||substr(md5('chg:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 100
                        THEN substr(text, 1, 100) ELSE text END AS text
            FROM documents
            WHERE NOT ((('0x'||substr(md5('v2:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 950)),
          v1d AS (SELECT doc_id, md5(text) AS dig FROM v1),
          inc AS MATERIALIZED (
            SELECT v2.doc_id, v2.text FROM v2 LEFT JOIN v1d
              ON v2.doc_id = v1d.doc_id AND md5(v2.text) = v1d.dig
            WHERE v1d.doc_id IS NULL),
          ${mmAhashHvCtes("v1", "r")},
          ${mmAhashHvCtes("inc", "i")},
          ${mmBandCtes("rahv", "ra")},
          ${mmBandCtes("iahv", "ia")},
          best AS (
            SELECT i.doc_id AS iid, min(
                (bit_count(xor(i.h0, r.h0)) + bit_count(xor(i.h1, r.h1)))::BIGINT
                  * 1099511627776 + r.doc_id) AS hr
            FROM iabanded i JOIN rabanded r ON i.band = r.band AND i.bv = r.bv
            WHERE bit_count(xor(i.h0, r.h0)) + bit_count(xor(i.h1, r.h1)) <= 3
            GROUP BY i.doc_id)
          SELECT inc.doc_id,
                 CASE WHEN b.hr IS NOT NULL THEN b.hr % 1099511627776 END AS dup_of,
                 CASE WHEN b.hr IS NOT NULL THEN b.hr // 1099511627776 END AS hamming,
                 b.hr IS NULL AS kept
          FROM inc LEFT JOIN best b ON b.iid = inc.doc_id
          ORDER BY inc.doc_id""",
    "mm_phash_incr" ->
      // the v8 snapshot/increment CTEs (one SQL body with pipe_prep_incr's
      // stage 0a), the SHARED dHash hash stage instantiated twice (resident
      // prefix r, increment prefix i — mmHvCtes), a banded resident×increment
      // join, and the verdict neighbor as an integer-encoded lexicographic
      // min (hamming·2^40 + rid — Spark's min(struct) ordering, exactly)
      s"""WITH v1 AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            WHERE (('0x'||substr(md5('v1:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 50),
          v2 AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN (('0x'||substr(md5('chg:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) < 100
                        THEN substr(text, 1, 100) ELSE text END AS text
            FROM documents
            WHERE NOT ((('0x'||substr(md5('v2:'||doc_id::VARCHAR),1,15))::UBIGINT::BIGINT % 1000) >= 950)),
          v1d AS (SELECT doc_id, md5(text) AS dig FROM v1),
          inc AS MATERIALIZED (
            SELECT v2.doc_id, v2.text FROM v2 LEFT JOIN v1d
              ON v2.doc_id = v1d.doc_id AND md5(v2.text) = v1d.dig
            WHERE v1d.doc_id IS NULL),
          ${mmHvCtes("v1", "r")},
          ${mmHvCtes("inc", "i")},
          ${mmBandCtes("rhv", "r")},
          ${mmBandCtes("ihv", "i")},
          best AS (
            SELECT i.doc_id AS iid, min(
                (bit_count(xor(i.h0, r.h0)) + bit_count(xor(i.h1, r.h1)))::BIGINT
                  * 1099511627776 + r.doc_id) AS hr
            FROM ibanded i JOIN rbanded r ON i.band = r.band AND i.bv = r.bv
            WHERE bit_count(xor(i.h0, r.h0)) + bit_count(xor(i.h1, r.h1)) <= 3
            GROUP BY i.doc_id)
          SELECT inc.doc_id,
                 CASE WHEN b.hr IS NOT NULL THEN b.hr % 1099511627776 END AS dup_of,
                 CASE WHEN b.hr IS NOT NULL THEN b.hr // 1099511627776 END AS hamming,
                 b.hr IS NULL AS kept
          FROM inc LEFT JOIN best b ON b.iid = inc.doc_id
          ORDER BY inc.doc_id""",
    "mm_phash_clusters" ->
      // the perceptual pairs' components fixpoint — the identical
      // recursive-CTE shape every cluster family replays
      s"""WITH RECURSIVE $mmPhashCtes,
          edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM phpairs
                    UNION ALL SELECT doc_b, doc_a FROM phpairs),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id)
          SELECT id AS doc_id, min(lbl) AS keeper FROM reach GROUP BY id""",
  )

  /** The HTML-extraction CTE chain shared by `txt_html_extract` and
    * `pipe_prep_html` — mirror of `TextAnalysis.htmlOf`/`htmlExtract`
    * (deterministic 7-block page fixture; per block: tag strip, text-
    * density ≥ 25 chars, integer link-density ≤ 300‰; kept blocks join
    * in block order). Ends with `ex(doc_id, n_blocks, n_kept, text)`. */
  private def htmlExtractCtes: String =
    s"""h AS (SELECT doc_id,
            '<html><head><title>Doc ' || doc_id || '</title></head><body>' || chr(10) ||
            '<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a> <a href="/login">Log in</a></div>' || chr(10) ||
            '<h1>Document ' || doc_id || '</h1>' || chr(10) ||
            '<p>' || regexp_replace(text, 'spark', '<a href="/spark">spark framework docs link</a>', 'g') || '</p>' || chr(10) ||
            '<p>See <a href="/d">the canonical version</a> and <a href="/r">a related document</a>.</p>' || chr(10) ||
            '<div class="footer"><a href="/terms">Terms</a> <a href="/privacy">Privacy</a> <a href="/imprint">Imprint</a></div>' || chr(10) ||
            '</body></html>' AS html
          FROM documents),
          bl AS (SELECT doc_id, p.i AS pos, l[p.i] AS block
                 FROM (SELECT doc_id, string_split(html, chr(10)) AS l FROM h) t,
                      LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) p),
          sc AS (SELECT doc_id, pos,
                   trim(regexp_replace(block, '<[^>]*>', '', 'g')) AS btext,
                   -- coalesce: DuckDB's array_to_string of an EMPTY
                   -- extract list is NULL, not '' (Spark's array_join
                   -- gives ''), and a NULL alen would null the gate
                   coalesce(length(array_to_string(
                     regexp_extract_all(block, '<a [^>]*>([^<]*)</a>', 1), '')), 0)::BIGINT AS alen
                 FROM bl),
          g2 AS (SELECT doc_id, pos, btext,
                   length(btext) >= 25 AND alen * 1000 // greatest(length(btext), 1) <= 300 AS keepb
                 FROM sc),
          ex AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS n_blocks,
                   sum(CASE WHEN keepb THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                   coalesce(string_agg(CASE WHEN keepb THEN btext END, ' ' ORDER BY pos), '') AS text
                 FROM g2 GROUP BY doc_id)"""

  /** The perceptual-hash CTE chain shared by `mm_phash_dedup` and
    * `mm_phash_clusters` — replays [[graft.analytics.Multimodal
    * .localDHash]]'s decoded-BMP arithmetic from first principles on the
    * text side (ascii parity: byte == char): the width-9 wrap puts
    * payload byte 3p..3p+2 under pixel p (row padding consumes no
    * payload), so lum(p) = (b0+b1+b2) div 3 with zero fill past len;
    * 9x8 average-pooled cells (cell row = pixelrow*8 div height,
    * missing cells 0), dHash bit = left > right neighbor, halves h0/h1
    * by bit (r%4)*8+j; then the SAME 4x16-bit banded-Hamming pair join
    * the engine runs (Dedup.hash64Pairs). Ends with
    * `phpairs(doc_a, doc_b, hamming)`. */
  private def mmPhashCtes: String = mmPhashCtesOver("documents")

  /** The dHash HASH stage alone — `${p}d … ${p}hv(doc_id, h0, h1)` over
    * an arbitrary (doc_id, text) relation, name-prefixed so a query can
    * hash TWO relations (mm_phash_incr hashes the resident snapshot and
    * the increment; the substringCutCtes precedent). */
  private def mmHvCtes(src: String, p: String = ""): String =
    s"""${p}d AS (SELECT doc_id, text, length(text)::BIGINT AS len,
                      greatest(1, (((length(text) + 2) // 3) + 8) // 9)::BIGINT AS hh
                    FROM $src),
          ${p}px AS (SELECT doc_id, hh, p.p,
                   ((CASE WHEN 3*p.p   < len THEN ascii(substr(text, (3*p.p+1)::INT, 1)) ELSE 0 END
                   + CASE WHEN 3*p.p+1 < len THEN ascii(substr(text, (3*p.p+2)::INT, 1)) ELSE 0 END
                   + CASE WHEN 3*p.p+2 < len THEN ascii(substr(text, (3*p.p+3)::INT, 1)) ELSE 0 END) // 3)::BIGINT AS lum
                 FROM ${p}d, LATERAL (SELECT unnest(range(0, 9*hh)) AS p) p),
          ${p}cells0 AS (SELECT doc_id, ((p // 9) * 8 // hh)::BIGINT AS cr, (p % 9)::BIGINT AS cc,
                       (sum(lum) // count(*))::BIGINT AS avgl
                     FROM ${p}px GROUP BY doc_id, cr, cc),
          ${p}grid AS (SELECT dd.doc_id, r.r AS cr, c.c AS cc, coalesce(cl.avgl, 0)::BIGINT AS avgl
                   FROM (SELECT doc_id FROM ${p}d) dd
                   CROSS JOIN (SELECT unnest(range(0, 8)) AS r) r
                   CROSS JOIN (SELECT unnest(range(0, 9)) AS c) c
                   LEFT JOIN ${p}cells0 cl ON cl.doc_id = dd.doc_id AND cl.cr = r.r AND cl.cc = c.c),
          ${p}bits AS (SELECT a.doc_id, a.cr, a.cc,
                     CASE WHEN a.avgl > b.avgl THEN 1 ELSE 0 END AS bit
                   FROM ${p}grid a JOIN ${p}grid b ON b.doc_id = a.doc_id AND b.cr = a.cr AND b.cc = a.cc + 1
                   WHERE a.cc < 8),
          ${p}hv AS (SELECT doc_id,
                   sum(CASE WHEN cr < 4 THEN bit * (1::BIGINT << ((cr*8 + cc))::INT) ELSE 0 END)::BIGINT AS h0,
                   sum(CASE WHEN cr >= 4 THEN bit * (1::BIGINT << (((cr-4)*8 + cc))::INT) ELSE 0 END)::BIGINT AS h1
                 FROM ${p}bits GROUP BY doc_id)"""

  /** The 4×16-bit band CTE over a `(doc_id, h0, h1)` hash CTE — ONE SQL
    * body for every consumer of the banding geometry (the phpairs
    * self-join via [[mmPhashCtesOver]], mm_phash_incr's two sides),
    * mirroring `Dedup.banded16` on the Spark side. Yields
    * `${p}banded(doc_id, h0, h1, band, bv)`. */
  private def mmBandCtes(hvRel: String, p: String = ""): String =
    s"""${p}banded AS (SELECT doc_id, h0, h1, b.b AS band,
                       CASE b.b WHEN 0 THEN h0 % 65536 WHEN 1 THEN h0 // 65536
                                WHEN 2 THEN h1 % 65536 ELSE h1 // 65536 END AS bv
                     FROM $hvRel CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b)"""

  /** [[mmPhashCtes]] over an arbitrary (doc_id, text) relation — the
    * pipe_prep_mm chain fingerprints the GATED corpus (`k`), documents
    * everywhere else; one SQL body so the dHash mirror cannot drift.
    * Ends with `phpairs(doc_a, doc_b, hamming)`. */
  private def mmPhashCtesOver(src: String): String =
    s"""${mmHvCtes(src)},
          ${mmBandCtes("hv")},
          phpairs AS MATERIALIZED (SELECT doc_a, doc_b, hamming FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              (bit_count(xor(a.h0, b2.h0)) + bit_count(xor(a.h1, b2.h1)))::BIGINT AS hamming
            FROM banded a JOIN banded b2
              ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id) t
          WHERE hamming <= 3)"""

  /** The ingest lifecycles' base-split predicate over a bare `vec_id`
    * column — the low-hash ~90% every `*_ins_served` build TRAINS on
    * ([[graft.analytics.Similarity.InsertHashThreshold]]). */
  private def insBasePred: String =
    s"${md5L60("vec_id::VARCHAR")} < ${graft.analytics.Similarity.InsertHashThreshold}"

  /** IVF probing over SQ8-decoded residents (mirror of
    * `Similarity.annIvfSq8`): centroids and list assignment derive from
    * the DEQUANTIZED corpus — the index stores codes only — while
    * probes stay exact (queries arrive fresh). Same SQ8 reconstruction
    * as knn_quantized, same round-to-4-before-rank tie discipline as
    * knn_ann_ivf. `centPred` (bare boolean over `vec_id`) scopes the
    * centroid seeding to the ingest base split for the
    * `knn_ann_ivf_sq8_ins_served` twin — the ONLY frozen-model stage
    * SQ8 has (the coding itself is per-vector, so build-time and
    * insert-time encodes are the same expression). */
  private def sq8OracleSqlOver(centPred: Option[String]): String = {
    val w = centPred.map(p => s"WHERE $p").getOrElse("")
    s"""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          b AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM d),
          dq AS (SELECT vec_id, list_transform(e, x -> CASE WHEN mx = mn THEN mn
                   ELSE mn + round((x - mn) * 255 / (mx - mn))::BIGINT
                        * (mx - mn) / 255 END) AS v
                 FROM b),
          cent AS (SELECT vec_id AS c_id, v AS ce FROM dq $w
                   ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS (SELECT vec_id, v, c_id AS list_id FROM (
                      SELECT r.vec_id, r.v, c.c_id,
                        row_number() OVER (PARTITION BY r.vec_id
                          ORDER BY round(list_cosine_similarity(r.v, c.ce), 4) DESC,
                                   c.c_id) AS rk
                      FROM dq r, cent c) t WHERE rk <= 1),
          probes AS (SELECT q_id, qe, c_id AS list_id FROM (
                      SELECT q.vec_id AS q_id, q.e AS qe, c.c_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(q.e, c.ce), 4) DESC,
                                   c.c_id) AS rk
                      FROM d q, cent c WHERE q.vec_id < 10) t WHERE rk <= 4),
          cand AS (SELECT DISTINCT p.q_id, p.qe, l.vec_id AS n_id, l.v
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, round(list_cosine_similarity(qe, v), 4) AS cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY round(list_cosine_similarity(qe, v), 4) DESC, n_id)::BIGINT AS rank
            FROM cand) t
          WHERE rank <= 5 ORDER BY q_id, rank"""
  }

  /** The OPQ rotation CTE chain feeding [[pqOracleSqlOver]]'s `d`:
    * per-dim variance statistic n·Σq² − (Σq)² on the 1e4 grid (exact —
    * DuckDB's BIGINT sums auto-promote, the Spark fold is BigInt), dims
    * ranked variance-DESC (ties to the smaller dim), snake-deal rank r
    * into subspace s — the closed-form OPQ-P allocation
    * `Similarity.opqPermutation` computes; queries and corpus both read
    * the permuted view so every float fold runs in the permuted order
    * on both engines. `trainPred` scopes the FIT (fitsrc and its
    * sample-guard count) to the ingest base split — the stored-perm
    * contract: arrivals and queries rotate by the base-fit permutation,
    * never refit. */
  private def opqDChainSql(trainPred: Option[String]): String = {
    val fitRel = trainPred.map(_ => "trbase").getOrElse("raw")
    val trbase = trainPred.map(p =>
      s"""trbase AS MATERIALIZED (SELECT vec_id, e FROM raw WHERE $p),
          """).getOrElse("")
    s"""raw AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          ${trbase}fitsrc AS MATERIALIZED (
            -- the sum-overflow sample guard (Similarity.OpqFitCap):
            -- inactive at every oracle SF (corpus <= 5000 vectors), but
            -- mirrored so the contract stays total on both engines
            SELECT vec_id, e FROM $fitRel
            WHERE (SELECT count(*) FROM $fitRel) <= 300000
               OR ('0x'||substr(md5('opqfit:'||vec_id::VARCHAR),1,15))::UBIGINT::BIGINT <
                  (1152921504606846976::HUGEINT * 300000 // (SELECT count(*) FROM $fitRel))),
          vstat AS MATERIALIZED (
            SELECT j, count(*)::BIGINT * sum(q*q)::BIGINT - sum(q)::BIGINT * sum(q)::BIGINT AS v
            FROM (SELECT j.j AS j, round(r.e[j.j+1] * 10000, 0)::BIGINT AS q
                  FROM fitsrc r, LATERAL (SELECT unnest(range(64)) AS j) j) t
            GROUP BY j),
          eng AS (SELECT max(sv) * 100 > min(sv) * 115 AS e
                  FROM (SELECT j // 4 AS s, sum(v) AS sv FROM vstat GROUP BY s) g),
          alloc AS MATERIALIZED (
            SELECT j AS dim,
              CASE WHEN (SELECT e FROM eng)
                THEN (CASE WHEN ((rk-1) // 16) % 2 = 0 THEN (rk-1) % 16
                      ELSE 15 - ((rk-1) % 16) END) * 4 + (rk-1) // 16
                ELSE j END AS slot
            FROM (SELECT j, row_number() OVER (ORDER BY v DESC, j) AS rk FROM vstat) u),
          d AS MATERIALIZED (
            SELECT r.vec_id, list(r.e[p.dim+1] ORDER BY p.slot) AS e
            FROM raw r CROSS JOIN alloc p GROUP BY r.vec_id)"""
  }

  /** The PCA-OPQ cascade CTE chain feeding [[pqOracleSqlOver]]'s `d`
    * (VERDICT r17 #5 — mirror of `Similarity.opqPcaView`): natural
    * variance gate first; when it refuses, the 12-round integer power
    * iteration (the `emb_pca_power` recursive CTE, verbatim) recovers
    * the top PC, the Householder reflection w = v + sign(v₁)·e₁ (1e6
    * grid) axis-aligns it — each rotated coordinate is exact int64
    * arithmetic with ONE cast-to-double and ONE division,
    * `(qⱼ·den − wⱼ·num)::DOUBLE / (den·1e4)::DOUBLE`, bit-identical to
    * the Spark scan — and the variance/snake allocation re-fits on the
    * ROTATED view; when that gate also refuses, d = raw (the rung
    * hashes as plain PQ — the never-a-loss law). The three branches
    * union under mutually exclusive scalar-subquery gates, exactly the
    * booleans `Similarity.opqPermutationEngaged` returns. Leads with
    * the RECURSIVE keyword so the splice `WITH <chain>, sub AS ...`
    * legalizes the recursive `it`. */
  /** The shared PCA + Householder CTE run (over a `raw (vec_id, e)`
    * relation): 12-round integer power iteration (the `emb_pca_power`
    * chain verbatim) → top PC → w = v + sign(v₁)·e₁ on the 1e6 grid →
    * den = Σw² → per-vector num = 2Σwⱼqⱼ on the 1e4 q-grid. Consumed
    * by [[opqPcaDChainSql]] (which divides down to the rotated double
    * view) and by the `emb_householder` diagnostic oracle (which
    * hash-pins the EXACT scaled integers cross-engine). */
  private def pcaHouseholderCtes: String =
    """-- 12-round integer power iteration (the emb_pca_power chain)
          xq AS (SELECT vec_id, list_transform(e, x -> cast(round(x*1e6) AS BIGINT)) AS q
                 FROM raw),
          mu AS (SELECT j, CASE WHEN sum(q[j]) >= 0 THEN sum(q[j]) // count(*)
                                ELSE -((-sum(q[j])) // count(*)) END AS m
                 FROM xq, range(1, 65) t(j) GROUP BY j),
          cvec AS (SELECT vec_id,
                   (SELECT list(q[j] - m ORDER BY j) FROM mu) AS c
                 FROM xq),
          it(r, j, vj) AS (
            SELECT 0, j::BIGINT, 1000000::BIGINT FROM range(1, 65) t(j)
            UNION ALL
            SELECT r, j,
              (CASE WHEN u >= 0 THEN (u::HUGEINT * 1000000) // mx
                    ELSE -(((-u)::HUGEINT * 1000000) // mx) END)::BIGINT
            FROM (
              SELECT uu.r, uu.j, uu.u, max(abs(uu.u)) OVER (PARTITION BY uu.r) AS mx
              FROM (
                SELECT sp.r + 1 AS r, t.j,
                  sum(CASE WHEN sp.s >= 0 THEN sp.s // 10000000000
                           ELSE -((-sp.s) // 10000000000) END * sp.c[t.j]) AS u
                FROM (
                  SELECT cvec.vec_id, cvec.c, p.r, sum(cvec.c[p.j] * p.vj) AS s
                  FROM cvec, it p
                  WHERE p.r < 12
                  GROUP BY cvec.vec_id, cvec.c, p.r
                ) sp, range(1, 65) t(j)
                GROUP BY sp.r, t.j
              ) uu
            ) nn),
          pc AS MATERIALIZED (SELECT j, vj FROM it WHERE r = 12),
          -- Householder w = v + sign(v1)*||v||*e1: ||v|| rounded once
          -- (sum v^2 < 2^53 converts to double exactly, same IEEE sqrt
          -- both engines), then w scales down by a truncating //100 to
          -- the 1e4 grid (H is scale-invariant in w; trunc-toward-zero
          -- mirrors Java /)
          hw AS MATERIALIZED (SELECT j,
                 CASE WHEN wraw >= 0 THEN wraw // 100
                      ELSE -((-wraw) // 100) END AS w
               FROM (SELECT j,
                 vj + CASE WHEN j = 1 THEN
                   (CASE WHEN (SELECT vj FROM pc WHERE j = 1) >= 0
                         THEN 1 ELSE -1 END)
                   * (SELECT round(sqrt(sum(vj * vj)))::BIGINT FROM pc)
                 ELSE 0 END AS wraw
                 FROM pc) t),
          hden AS (SELECT sum(w*w)::BIGINT AS den FROM hw),
          q4 AS MATERIALIZED (SELECT vec_id,
                 list_transform(e, x -> round(x * 10000, 0)::BIGINT) AS q FROM raw),
          hnum AS MATERIALIZED (SELECT t.vec_id, 2 * sum(t.q[h.j] * h.w)::BIGINT AS num
                 FROM q4 t, hw h GROUP BY t.vec_id)"""

  private def opqPcaDChainSql: String =
    s"""RECURSIVE raw AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
          nfit AS MATERIALIZED (
            -- natural-axis fit sample (Similarity.OpqFitCap guard,
            -- inactive at oracle SFs but mirrored for totality)
            SELECT vec_id, e FROM raw
            WHERE (SELECT count(*) FROM raw) <= 300000
               OR ('0x'||substr(md5('opqfit:'||vec_id::VARCHAR),1,15))::UBIGINT::BIGINT <
                  (1152921504606846976::HUGEINT * 300000 // (SELECT count(*) FROM raw))),
          nvstat AS MATERIALIZED (
            SELECT j, count(*)::BIGINT * sum(q*q)::BIGINT - sum(q)::BIGINT * sum(q)::BIGINT AS v
            FROM (SELECT j.j AS j, round(r.e[j.j+1] * 10000, 0)::BIGINT AS q
                  FROM nfit r, LATERAL (SELECT unnest(range(64)) AS j) j) t
            GROUP BY j),
          neng AS (SELECT max(sv) * 100 > min(sv) * 115 AS e
                  FROM (SELECT j // 4 AS s, sum(v) AS sv FROM nvstat GROUP BY s) g),
          nalloc AS MATERIALIZED (
            SELECT j AS dim,
              (CASE WHEN ((rk-1) // 16) % 2 = 0 THEN (rk-1) % 16
                    ELSE 15 - ((rk-1) % 16) END) * 4 + (rk-1) // 16 AS slot
            FROM (SELECT j, row_number() OVER (ORDER BY v DESC, j) AS rk FROM nvstat) u),
          $pcaHouseholderCtes,
          rot AS MATERIALIZED (SELECT t.vec_id,
                   list((t.q[h.j] * (SELECT den FROM hden) - h.w * n.num)::DOUBLE
                        / ((SELECT den FROM hden) * 10000)::DOUBLE ORDER BY h.j) AS e
                 FROM q4 t JOIN hnum n ON n.vec_id = t.vec_id, hw h
                 GROUP BY t.vec_id),
          -- rotated-basis fit: same sample guard, same stat, same snake
          rfit AS MATERIALIZED (
            SELECT vec_id, e FROM rot
            WHERE (SELECT count(*) FROM rot) <= 300000
               OR ('0x'||substr(md5('opqfit:'||vec_id::VARCHAR),1,15))::UBIGINT::BIGINT <
                  (1152921504606846976::HUGEINT * 300000 // (SELECT count(*) FROM rot))),
          rvstat AS MATERIALIZED (
            SELECT j, count(*)::BIGINT * sum(q*q)::BIGINT - sum(q)::BIGINT * sum(q)::BIGINT AS v
            FROM (SELECT j.j AS j, round(r.e[j.j+1] * 10000, 0)::BIGINT AS q
                  FROM rfit r, LATERAL (SELECT unnest(range(64)) AS j) j) t
            GROUP BY j),
          reng AS (SELECT max(sv) * 100 > min(sv) * 115 AS e
                  FROM (SELECT j // 4 AS s, sum(v) AS sv FROM rvstat GROUP BY s) g),
          ralloc AS MATERIALIZED (
            SELECT j AS dim,
              (CASE WHEN ((rk-1) // 16) % 2 = 0 THEN (rk-1) % 16
                    ELSE 15 - ((rk-1) % 16) END) * 4 + (rk-1) // 16 AS slot
            FROM (SELECT j, row_number() OVER (ORDER BY v DESC, j) AS rk FROM rvstat) u),
          d AS MATERIALIZED (
            SELECT vec_id, e FROM (
              SELECT r.vec_id, list(r.e[p.dim+1] ORDER BY p.slot) AS e
              FROM raw r CROSS JOIN nalloc p GROUP BY r.vec_id) nb
            WHERE (SELECT e FROM neng)
            UNION ALL
            SELECT vec_id, e FROM (
              SELECT r.vec_id, list(r.e[p.dim+1] ORDER BY p.slot) AS e
              FROM rot r CROSS JOIN ralloc p GROUP BY r.vec_id) rb
            WHERE NOT (SELECT e FROM neng) AND (SELECT e FROM reng)
            UNION ALL
            SELECT vec_id, e FROM raw
            WHERE NOT (SELECT e FROM neng) AND NOT (SELECT e FROM reng))"""

  /** The full IVF-PQ oracle chain over a caller-supplied `d` CTE chunk
    * (the `(vec_id, e)` relation, optionally preceded by rotation CTEs)
    * — ONE SQL body for `knn_ann_ivf_pq`, `knn_ann_ivf_opq`, their
    * served twins, AND (r18) their coded-INGEST twins, mirroring
    * [[graft.analytics.Similarity.annIvfPqOver]]'s
    * one-body-per-rotation structure.
    *
    * `trainPred` (a bare boolean over an unqualified `vec_id` column)
    * scopes every FROZEN-model stage — codebook seeds, the Lloyd
    * refinement corpus, and the IVF centroid seeds — to the ingest
    * lifecycle's base split, while the ENCODE (codes/recon/lists) and
    * the query side stay full-corpus: exactly the train-once/add-forever
    * contract [[graft.analytics.IvfIndex.insert]] implements for
    * coded indexes, replayed from first principles. None = train on
    * everything (the plain rungs). */
  private def pqOracleSqlOver(dChain: String, trainPred: Option[String] = None): String = {
      // mirror of Similarity.annIvfPq. Every float sum is replayed in the
      // same association order as the Spark side: per-subspace folds are
      // DuckDB's list_reduce (sequential left fold — bit-identical to the
      // Scala/Catalyst seed-0.0 left folds), and cross-subspace sums are
      // explicit left-associated + chains mirroring reduceLeft. The
      // codebook CTE is the subspace-salted hash sample, codes come from
      // the same argmin-of-dists (list_position finds the FIRST min), the
      // reconstruction is list concat of selected codewords, and ADC
      // scoring joins the per-(query, subspace) table rows — so the final
      // rounded cosine hashes identically.
      val M = 16; val dsub = 4; val ks = 16; val lloyd = 3; val grid = 1L << 20
      // the training scope: empty for the plain rungs, the ingest base
      // split for the coded-ins twins (tsub/seed/cent below)
      val w = trainPred.map(p => s"WHERE $p").getOrElse("")
      def sumsqChain(v: String) = (0 until M).map(m =>
        s"list_reduce(list_transform(range(1, ${dsub + 1}), d -> $v[${m * dsub}+d] * $v[${m * dsub}+d]), (a, b) -> a + b)")
        .mkString("(", "\n                 + ", ")")
      val codesPivot = (0 until M).map(m =>
        s"max(CASE WHEN m = $m THEN cw END) AS c$m").mkString(",\n                  ")
      val reconJoins = (0 until M).map(m =>
        s"JOIN cb cb$m ON cb$m.m = $m AND cb$m.j = codes.c$m").mkString("\n                 ")
      val tJoins = (0 until M).map(m =>
        s"JOIN tq t$m ON t$m.q_id = c.q_id AND t$m.m = $m AND t$m.j = x.c$m").mkString("\n                 ")
      val nJoins = (0 until M).map(m =>
        s"JOIN cb n$m ON n$m.m = $m AND n$m.j = x.c$m").mkString("\n                 ")
      // distance-list lambda against a codeword list column (shared by
      // the Lloyd assignment rounds and the final encode)
      def distsOver(cblCte: String) =
        s"""list_transform($cblCte.subs, c -> list_reduce(list_transform(range(1, ${dsub + 1}),
           |                       d -> (sub.sv[d] - c[d]) * (sub.sv[d] - c[d])), (a, b) -> a + b))""".stripMargin
      // one bounded Lloyd round (mirror of Similarity.pqLloydRefine):
      // assign to the nearest previous-round codeword, then the
      // fixed-point member mean — floor to the 2^-20 grid, exact BIGINT
      // sums, one double division back; empty codewords keep their value
      def lloydRound(r: Int): String = {
        val prev = s"cb$r"; val cur = s"cb${r + 1}"
        val newSv = (0 until dsub).map(d =>
          s"u.s${d + 1}::DOUBLE / (u.n * $grid)::DOUBLE").mkString("[", ", ", "]")
        s"""cbl$r AS MATERIALIZED (SELECT m, list(sv ORDER BY j) AS subs FROM $prev GROUP BY m),
           |          asg$r AS MATERIALIZED (SELECT sub.vec_id, sub.m,
           |                     list_position(${distsOver(s"cbl$r")}, list_min(${distsOver(s"cbl$r")})) - 1 AS j
           |                   FROM tsub sub JOIN cbl$r USING (m)),
           |          upd$r AS MATERIALIZED (SELECT a.m, a.j, count(*) AS n, ${(1 to dsub).map(d => s"s$d").zipWithIndex.map { case (nm, d) => s"sum(floor(sub.sv[${d + 1}] * $grid)::BIGINT) AS $nm" }.mkString(", ")}
           |                   FROM asg$r a JOIN tsub sub ON sub.vec_id = a.vec_id AND sub.m = a.m
           |                   GROUP BY a.m, a.j),
           |          $cur AS MATERIALIZED (SELECT c.m, c.j,
           |                     CASE WHEN u.n IS NULL THEN c.sv ELSE $newSv END AS sv
           |                   FROM $prev c LEFT JOIN upd$r u ON u.m = c.m AND u.j = c.j)""".stripMargin
      }
      s"""WITH $dChain,
          sub AS MATERIALIZED (SELECT vec_id, m.m AS m, e[(m.m*$dsub+1):(m.m*$dsub+$dsub)] AS sv
                  FROM d, LATERAL (SELECT unnest(range($M)) AS m) m),
          tsub AS (SELECT * FROM sub $w),
          seed AS MATERIALIZED (SELECT e, row_number() OVER (ORDER BY
                    ('0x'||substr(md5('pq:'||vec_id::VARCHAR),1,15))::UBIGINT::BIGINT, vec_id) AS rk
                 FROM d $w QUALIFY rk <= $ks),
          cb0 AS MATERIALIZED (SELECT m.m AS m, rk - 1 AS j,
                   e[(m.m*$dsub+1):(m.m*$dsub+$dsub)] AS sv
                 FROM seed, LATERAL (SELECT unnest(range($M)) AS m) m),
          ${(0 until lloyd).map(lloydRound).mkString(",\n          ")},
          cb AS MATERIALIZED (SELECT m, j, sv,
                   list_reduce(list_transform(range(1, ${dsub + 1}), d -> sv[d] * sv[d]), (a, b) -> a + b) AS nn
                 FROM cb$lloyd),
          cbl AS MATERIALIZED (SELECT m, list(sv ORDER BY j) AS subs FROM cb GROUP BY m),
          dist AS (SELECT sub.vec_id, sub.m,
                     list_transform(cbl.subs, c -> list_reduce(list_transform(range(1, ${dsub + 1}),
                       d -> (sub.sv[d] - c[d]) * (sub.sv[d] - c[d])), (a, b) -> a + b)) AS dists
                   FROM sub JOIN cbl USING (m)),
          code AS (SELECT vec_id, m, list_position(dists, list_min(dists)) - 1 AS cw FROM dist),
          codes AS MATERIALIZED (SELECT vec_id,
                  $codesPivot
                FROM code GROUP BY vec_id),
          recon AS MATERIALIZED (SELECT codes.vec_id, ${(0 until M).map(m => s"cb$m.sv").mkString(" || ")} AS v
                 FROM codes
                 $reconJoins),
          cent AS MATERIALIZED (SELECT vec_id AS c_id, v AS ce FROM recon $w
                   ORDER BY ${md5L60("vec_id::VARCHAR")}, vec_id LIMIT 16),
          lists AS MATERIALIZED (SELECT vec_id, c_id AS list_id FROM (
                      SELECT r.vec_id, c.c_id,
                        row_number() OVER (PARTITION BY r.vec_id
                          ORDER BY round(list_cosine_similarity(r.v, c.ce), 4) DESC,
                                   c.c_id) AS rk
                      FROM recon r, cent c) t WHERE rk <= 1),
          probes AS MATERIALIZED (SELECT q_id, c_id AS list_id FROM (
                      SELECT q.vec_id AS q_id, c.c_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(q.e, c.ce), 4) DESC,
                                   c.c_id) AS rk
                      FROM d q, cent c WHERE q.vec_id < 10) t WHERE rk <= 4),
          cand AS MATERIALIZED (SELECT DISTINCT p.q_id, l.vec_id AS n_id
                   FROM lists l JOIN probes p ON p.list_id = l.list_id
                                             AND l.vec_id <> p.q_id),
          tq AS MATERIALIZED (SELECT q.vec_id AS q_id, cb.m, cb.j,
                   list_reduce(list_transform(range(1, ${dsub + 1}),
                     d -> q.e[cb.m*$dsub+d] * cb.sv[d]), (a, b) -> a + b) AS t
                 FROM d q, cb WHERE q.vec_id < 10),
          qn AS MATERIALIZED (SELECT vec_id AS q_id,
                 ${sumsqChain("e")} AS qn2
                 FROM d WHERE vec_id < 10),
          scored AS (SELECT c.q_id, c.n_id,
                       round((${(0 until M).map(m => s"t$m.t").mkString(" + ")})
                         / (sqrt(qn.qn2) * sqrt(${(0 until M).map(m => s"n$m.nn").mkString(" + ")})), 4) AS cos
                     FROM cand c
                     JOIN codes x ON x.vec_id = c.n_id
                     $tJoins
                     $nJoins
                     JOIN qn ON qn.q_id = c.q_id)
          SELECT q_id, n_id, rank, cos FROM (
            SELECT q_id, n_id, cos,
              row_number() OVER (PARTITION BY q_id
                ORDER BY cos DESC, n_id)::BIGINT AS rank
            FROM scored) t
          WHERE rank <= 5 ORDER BY q_id, rank"""
    }

  /** The aHash HASH stage alone — replays [[graft.analytics.Multimodal
    * .localAHash]]'s decoded-WAV arithmetic from first principles on the
    * text side (ascii parity: byte == char): toWav appends the payload
    * verbatim after the 44-byte header, so sample k = byte 2k +
    * 256·byte 2k+1 (zero-padded past len; the signed-16-bit CASE is the
    * identity for ASCII but rides along for faithfulness to the
    * engine's general-byte arithmetic), pooled into 65 equal windows of
    * absolute-amplitude energy, bit j = energy(j) > energy(j+1). Name-
    * prefixed so a query can hash TWO relations (mm_ahash_incr —
    * the [[mmHvCtes]] precedent); ends `${p}ahv(doc_id, h0, h1)`. */
  private def mmAhashHvCtes(src: String, p: String = ""): String =
    s"""${p}ad AS (SELECT doc_id, text, length(text)::BIGINT AS len,
                        ((length(text) + 1) // 2)::BIGINT AS ns
                      FROM $src),
          ${p}asmp AS (SELECT doc_id, ns, k.k,
                     (CASE WHEN 2*k.k < len THEN ascii(substr(text, (2*k.k+1)::INT, 1)) ELSE 0 END
                      + 256 * CASE WHEN 2*k.k+1 < len THEN ascii(substr(text, (2*k.k+2)::INT, 1)) ELSE 0 END) AS v
                   FROM ${p}ad, LATERAL (SELECT unnest(range(0, ns)) AS k) k),
          ${p}aen AS (SELECT doc_id, ((k * 65) // ns)::BIGINT AS w,
                    sum(abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END))::BIGINT AS e
                  FROM ${p}asmp GROUP BY doc_id, w),
          ${p}agrid AS (SELECT dd.doc_id, w.w, coalesce(a.e, 0)::BIGINT AS e
                    FROM (SELECT doc_id FROM ${p}ad) dd
                    CROSS JOIN (SELECT unnest(range(0, 65)) AS w) w
                    LEFT JOIN ${p}aen a ON a.doc_id = dd.doc_id AND a.w = w.w),
          ${p}abits AS (SELECT l.doc_id, l.w AS j,
                      CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
                    FROM ${p}agrid l JOIN ${p}agrid r ON r.doc_id = l.doc_id AND r.w = l.w + 1
                    WHERE l.w < 64),
          ${p}ahv AS (SELECT doc_id,
                   sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << j::INT) ELSE 0 END)::BIGINT AS h0,
                   sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32)::INT) ELSE 0 END)::BIGINT AS h1
                 FROM ${p}abits GROUP BY doc_id)"""

  /** The full aHash pair chain over an arbitrary (doc_id, text) relation
    * — hash stage + the SHARED band CTE + the phpairs join shape; one
    * SQL body for `mm_ahash_dedup`, `mm_ahash_clusters`, and
    * pipe_prep_mm's audio stage. CTE names are disjoint from
    * [[mmPhashCtesOver]]'s so both media can ride one WITH clause.
    * Ends with `ahpairs(doc_a, doc_b, hamming)`. */
  private def mmAhashCtesOver(src: String): String =
    s"""${mmAhashHvCtes(src)},
          ${mmBandCtes("ahv", "a")},
          ahpairs AS MATERIALIZED (SELECT doc_a, doc_b, hamming FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              (bit_count(xor(a.h0, b2.h0)) + bit_count(xor(a.h1, b2.h1)))::BIGINT AS hamming
            FROM abanded a JOIN abanded b2
              ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id) t
          WHERE hamming <= 3)"""
}
