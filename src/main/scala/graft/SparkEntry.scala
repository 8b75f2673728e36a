package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{PortableHash, Shingles, TokenCol}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 has a `queries` entry; each entry
  * has a DuckDB `oracleSql` twin unless it's rows-only (approximate /
  * hash-family ops, which are spec-tested instead). Column aliases and
  * ORDER BYs match the oracle exactly; money sums are exact
  * integer-cents sums (order-independent) and averages/ratios are
  * rounded identically on both sides, so aggregation-order noise
  * can't flip the driver's hash compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TextMR.wordcount(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. MapReduce core
    "mr_wordcount" -> (TextMR.wordcount _),
    "mr_grep_count" -> (TextMR.grepCount _),
    "mr_inverted_index" -> (TextMR.invertedIndex _),
    "mr_topwords" -> ((s: SparkSession, d: String) => TextMR.topWords(s, d)),
    "mr_cms_freq" -> ((s: SparkSession, d: String) => TextMR.cmsFreq(s, d)),
    "mr_heavyhitters" -> ((s: SparkSession, d: String) => TextMR.heavyHitters(s, d)),
    // B. relational
    "q1_agg" -> (Relational.q1Agg _),
    "q1_sql" -> ((s: SparkSession, d: String) => runSql(s, d, Q1AggSql)),
    "q3_join_topk" -> (Relational.q3JoinTopk _),
    "q5_multijoin" -> (Relational.q5Multijoin _),
    "q6_filter_agg" -> (Relational.q6FilterAgg _),
    "q_topk_orders" -> (Relational.qTopkOrders _),
    "q_group_having" -> (Relational.qGroupHaving _),
    "q_distinct_agg" -> (Relational.qDistinctAgg _),
    "q_window_rank" -> (Relational.qWindowRank _),
    "q_window_running" -> (Relational.qWindowRunning _),
    "q_window_range" -> (Relational.qWindowRange _),
    "q_return_ratio" -> (Relational.qReturnRatio _),
    "q_semi_join" -> (Relational.qSemiJoin _),
    "q_anti_join" -> (Relational.qAntiJoin _),
    "q_union_agg" -> (Relational.qUnionAgg _),
    "q_rollup" -> (Relational.qRollup _),
    "q_grouping_sets" -> (Relational.qGroupingSets _),
    "q_salted_join" -> (Relational.qSaltedJoin _),
    "q_pivot" -> (Relational.qPivot _),
    "q_case_agg" -> (Relational.qCaseAgg _),
    "q_month_revenue" -> (Relational.qMonthRevenue _),
    "q_string_funcs" -> (Relational.qStringFuncs _),
    "q_percentiles" -> (Relational.qPercentiles _),
    "q7_nation_volume" -> (Relational.q7NationVolume _),
    "q10_returned" -> (Relational.q10Returned _),
    "q18_big_orders" -> (Relational.q18BigOrders _),
    "q_correlated_sub" -> (Relational.qCorrelatedSub _),
    "q_in_sub" -> (Relational.qInSub _),
    "q_cube" -> (Relational.qCube _),
    "q_window_lead" -> (Relational.qWindowLead _),
    "q14_promo" -> (Relational.q14Promo _),
    "q_ntile" -> (Relational.qNtile _),
    "q_minmax_by" -> (Relational.qMinmaxBy _),
    "q15_top_supplier" -> (Relational.q15TopSupplier _),
    "q4_priority" -> (Relational.q4Priority _),
    "q13_cust_dist" -> (Relational.q13CustDist _),
    "q17_avg_qty" -> (Relational.q17AvgQty _),
    "q19_or_pred" -> (Relational.q19OrPred _),
    "q22_no_orders" -> (Relational.q22NoOrders _),
    "q2_min_cost" -> (Relational.q2MinCost _),
    "q8_market_share" -> (Relational.q8MarketShare _),
    "q9_profit" -> (Relational.q9Profit _),
    "q11_important_parts" -> (Relational.q11ImportantParts _),
    "q12_late_lines" -> (Relational.q12LateLines _),
    "q16_supplier_cnt" -> (Relational.q16SupplierCnt _),
    "q20_excess_suppliers" -> (Relational.q20ExcessSuppliers _),
    "q21_waiting" -> (Relational.q21Waiting _),
    "q_unpivot" -> (Relational.qUnpivot _),
    "q_first_last" -> (Relational.qFirstLast _),
    "q_bloom_join" -> (Relational.qBloomJoin _),
    "q_funnel" -> (Events.qFunnel _),
    // C. events / time-series
    "q_event_window" -> (Events.qEventWindow _),
    "q_event_topusers" -> (Events.qEventTopusers _),
    "q_json_extract" -> (Events.qJsonExtract _),
    "q_sessionize" -> (Events.qSessionize _),
    "q_sessionize_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, SessionizeSparkSql)),
    "q_asof_join" -> (Events.qAsofJoin _),
    "q_nearest_join" -> (Events.qNearestJoin _),
    "events_seasonality" -> (Events.eventsSeasonality _),
    "events_stl" -> (Events.eventsStl _),
    "events_acf" -> ((s: SparkSession, d: String) => Events.eventsAcf(s, d)),
    "events_ccf" -> ((s: SparkSession, d: String) => Events.eventsCcf(s, d)),
    "events_survival" -> (Events.eventsSurvival _),
    "events_holt_winters" -> (Events.eventsHoltWinters _),
    "events_forecast_hw" -> (Events.eventsForecastHw _),
    "events_anomaly_stl" -> ((s: SparkSession, d: String) =>
      Events.eventsAnomalyStl(s, d)),
    "q_islands" -> (Events.qIslands _),
    "events_attribution" -> (Events.qAttribution _),
    "q_range_join" -> (Events.qRangeJoin _),
    "q_gap_fill" -> (Events.qGapFill _),
    "q_anomaly_days" -> (Events.qAnomalyDays _),
    "events_retention" -> (Events.qRetention _),
    "events_retention_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, RetentionSparkSql)),
    "events_ltv" -> (Events.eventsLtv _),
    "events_active_users" -> (Events.eventsActiveUsers _),
    "events_stickiness" -> (Events.eventsStickiness _),
    "events_session_stats" -> (Events.sessionStats _),
    "events_cumulative_users" -> (Events.cumulativeUsers _),
    "events_holt" -> (Events.eventsHolt _),
    "events_features" -> (Events.eventsFeatures _),
    "events_markov" -> (Events.qMarkov _),
    "events_changepoint" -> (Events.qChangepoint _),
    "events_rfm" -> (Events.qRfm _),
    "events_paths" -> ((s, d) => Events.qPaths(s, d)),
    "profile_fd" -> (Profile.fdProfile _),
    "profile_mi" -> (Profile.miProfile _),
    "profile_benford" -> (Profile.benfordProfile _),
    "profile_psi" -> (Profile.psiProfile _),
    "profile_psi_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, PsiSparkSql)),
    "profile_ks" -> (Profile.ksProfile _),
    "profile_jsd" -> (Profile.jsdProfile _),
    "profile_checks" -> (Profile.checksProfile _),
    "profile_outliers" -> (Profile.profileOutliers _),
    "profile_chi2" -> (Profile.profileChi2 _),
    "profile_cramers_v" -> (Profile.profileCramersV _),
    "profile_vocab_growth" -> (TextOps.profileVocabGrowth _),
    "text_zipf" -> (TextOps.textZipf _),
    "dedup_report" -> (Dedup.dedupReport _),
    "dedup_cross_source" -> (Dedup.dedupCrossSource _),
    "profile_cat_entropy" -> (Profile.catEntropy _),
    "profile_topk_values" -> ((s: SparkSession, d: String) =>
      Profile.topValues(s, d)),
    "profile_seq_gaps" -> (Profile.seqProfile _),
    "profile_qsketch" -> ((s: SparkSession, d: String) => Profile.qsketchProfile(s, d)),
    "profile_kmv_overlap" -> (Profile.kmvOverlap _),
    "profile_skew" -> (Profile.skewProfile _),
    "profile_mad" -> ((s, d) => Profile.madProfile(s, d)),
    "profile_numeric" -> (Profile.numericProfile _),
    "profile_hll_users" -> (Profile.hllUsers _),
    "profile_strings" -> (Profile.stringProfile _),
    "profile_corr" -> (Profile.corrProfile _),
    "profile_quantiles" -> ((s, d) => Profile.quantileProfile(s, d)),
    "profile_histogram" -> ((s, d) => Profile.histogramProfile(s, d)),
    "graph_pagerank" -> ((s, d) => Graph.pagerank(s, d)),
    "graph_pagerank_weighted" -> ((s, d) => Graph.pagerankWeighted(s, d)),
    "graph_hits" -> ((s, d) => Graph.hits(s, d)),
    "graph_pagerank_resume" -> ((s: SparkSession, d: String) => Graph.pagerankResume(s, d)),
    "graph_triangles" -> (Graph.supplierTriangles _),
    "graph_assortativity" -> (Graph.assortativity _),
    "graph_clustering" -> (Graph.clustering _),
    "graph_linkpred" -> ((s: SparkSession, d: String) => Graph.linkPrediction(s, d)),
    "basket_rules" -> ((s: SparkSession, d: String) => Graph.basketRules(s, d)),
    "graph_components" -> ((s: SparkSession, d: String) => Graph.supplierComponents(s, d)),
    "graph_communities" -> ((s: SparkSession, d: String) => Graph.supplierCommunities(s, d)),
    "graph_communities_sweep" -> ((s: SparkSession, d: String) => Graph.supplierCommunitySweep(s, d)),
    "graph_modularity" -> ((s: SparkSession, d: String) => Graph.modularity(s, d)),
    "graph_degree_dist" -> ((s: SparkSession, d: String) => Graph.degreeDist(s, d)),
    "graph_degree_dist_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, DegreeDistSparkSql)),
    "graph_sssp" -> ((s: SparkSession, d: String) => Graph.sssp(s, d)),
    "graph_backbone" -> (Graph.backbone _),
    "graph_ktruss" -> (Graph.ktruss _),
    "graph_coreness" -> ((s: SparkSession, d: String) => Graph.coreness(s, d)),
    // D. dedup
    "dedup_exact" -> (Dedup.exact _),
    // SQL-surface twins (see the *SparkSql vals): the same operator
    // semantics typed as plain SQL, gated against the identical oracle
    "dedup_exact_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, DedupExactSparkSql)),
    "dedup_minhash_lsh_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, MinhashLshSparkSql)),
    "dedup_simhash_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, SimhashSparkSql)),
    "dedup_normalized" -> (Dedup.exactNormalized _),
    // maxDf passed explicitly: the 100 TB operating configuration of
    // the capped candidate generation (public default is exact/uncapped)
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d, maxDf = 1000)),
    "dedup_minhash_lsh" -> ((s: SparkSession, d: String) => Dedup.minhashLsh(s, d)),
    "dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.incremental(s, d)),
    "snapshot_diff" -> (Snapshot.snapshotDiff _),
    "snapshot_column_churn" -> (Snapshot.columnChurn _),
    "snapshot_scd2" -> (Snapshot.scd2 _),
    "snapshot_agg_delta" -> (Snapshot.aggDelta _),
    "snapshot_asof" -> ((s: SparkSession, d: String) => Snapshot.asOf(s, d)),
    "snapshot_apply" -> (Snapshot.applyDiff _),
    "emb_kmeans" -> ((s: SparkSession, d: String) => Cluster.embKmeans(s, d)),
    "emb_kmeans_eval" -> ((s: SparkSession, d: String) =>
      Cluster.embKmeansEval(s, d)),
    "emb_pca" -> ((s: SparkSession, d: String) => Cluster.embPca(s, d)),
    "emb_kmeans_resume" -> ((s: SparkSession, d: String) => Cluster.embKmeansResume(s, d)),
    "emb_coreset" -> ((s: SparkSession, d: String) => Cluster.embCoreset(s, d)),
    "q_skyline" -> (Skyline.qSkyline _),
    "q_hierarchy" -> (Hierarchy.hierarchy _),
    "q_hierarchy_rollup" -> (Hierarchy.hierarchyRollup _),
    "q_set_ops" -> (Relational.qSetOps _),
    "graph_kcore" -> ((s: SparkSession, d: String) => Graph.kcore(s, d)),
    "graph_kcore_weighted" -> ((s: SparkSession, d: String) => Graph.kcoreWeighted(s, d)),
    "events_forecast" -> (Events.qForecast _),
    "events_forecast_filled" -> (Events.qForecastFilled _),
    "events_forecast_eval" -> (Events.qForecastEval _),
    "dedup_simhash" -> ((s: SparkSession, d: String) => Dedup.simhash(s, d)),
    "dedup_sweep_hamming" -> (Dedup.sweepHamming _),
    "dedup_embedding" -> ((s: SparkSession, d: String) => Dedup.embedding(s, d)),
    "dedup_sweep" -> (Dedup.sweep _),
    "dedup_sweep_jaccard" -> (Dedup.sweepJaccard _),
    "dedup_sweep_lsh" -> ((s: SparkSession, d: String) => Dedup.sweepLsh(s, d)),
    "dedup_semantic" -> ((s: SparkSession, d: String) => Dedup.semantic(s, d)),
    "dedup_substring" -> ((s: SparkSession, d: String) => Dedup.substringSpans(s, d)),
    "dedup_containment" -> ((s: SparkSession, d: String) => Dedup.containment(s, d)),
    "dedup_components" -> ((s: SparkSession, d: String) => Dedup.ngramComponents(s, d)),
    "dedup_keep_best" -> ((s: SparkSession, d: String) => Dedup.keepBest(s, d)),
    "dedup_components_resume" -> ((s: SparkSession, d: String) => Dedup.ngramComponentsResumed(s, d)),
    "er_fuzzy_names" -> (Linkage.fuzzyNames _),
    "er_qgram_names" -> (Linkage.qgramNames _),
    "er_tau_sweep" -> (Linkage.erTauSweep _),
    "er_canonical" -> (Linkage.canonicalNames _),
    "dedup_prefix_filter" -> ((s: SparkSession, d: String) =>
      Dedup.prefixJaccard(s, d)),
    // E. similarity search
    "ann_bruteforce" -> (Ann.bruteforce _),
    "ann_bruteforce_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, BruteforceSparkSql)),
    "ann_mips" -> (Ann.mips _),
    "ann_filtered" -> (Ann.filtered _),
    "ann_filtered_ivf" -> ((s: SparkSession, d: String) =>
      Ann.filteredIvf(s, d)),
    "ann_lsh" -> (Ann.lsh _),
    "ann_eval" -> (Ann.evalLsh _),
    "ann_eval_ivf" -> (Ann.evalIvf _),
    "ann_sweep_k" -> (Ann.sweepK _),
    "ann_sweep_k_ivf" -> (Ann.sweepKIvf _),
    "ann_sweep_nprobe" -> (Ann.sweepNprobe _),
    "ann_ivf" -> ((s: SparkSession, d: String) => Ann.ivf(s, d)),
    "ann_quantized" -> (Ann.quantized _),
    "ann_pq" -> (Ann.pq _),
    "ann_pq_trained" -> ((s: SparkSession, d: String) => Ann.pqTrained(s, d)),
    "ann_ivf_pq" -> ((s: SparkSession, d: String) => Ann.ivfPq(s, d)),
    "emb_centroids" -> (Ann.centroidStats _),
    "ann_knn_join" -> ((s: SparkSession, d: String) => Ann.knnJoin(s, d)),
    "ann_range" -> ((s: SparkSession, d: String) => Ann.rangeSearch(s, d)),
    // G. multimodal plumbing
    // r13: the former stub tier, re-pointed at REAL decode — per-
    // format metadata over the BMP/PNG-mixed corpus, a real container
    // walk + per-frame decode, an EXECUTED checksummed resample,
    // exact pixel moments, and histogram-signature near-dup over
    // decoded pixels
    "mm_meta_stats" -> (Multimodal.metaStatsMixed _),
    "mm_frame_sample" -> (Multimodal.frameSampleReal _),
    "mm_resize" -> (Multimodal.resizeReal _),
    "mm_features" -> (Multimodal.pixelMomentsReal _),
    "mm_dedup" -> (Multimodal.nearDupMedia _),
    "mm_decode_meta" -> (Multimodal.decodeMetaReal _),
    "mm_decode_hist" -> (Multimodal.pixelHistReal _),
    "mm_dhash" -> (Multimodal.mediaDhash _),
    "mm_phash" -> (Multimodal.mediaPhash _),
    "mm_ahash" -> (Multimodal.mediaAhash _),
    "mm_dedup_real" -> (Multimodal.nearDupDhash _),
    "mm_dedup_hamming" -> ((s: SparkSession, d: String) =>
      Multimodal.nearDupHamming(s, d)),
    // the same chain over a half-BMP/half-PNG corpus — the hash gate
    // itself proves the PNG decode path (lossless ⇒ same oracle)
    "mm_dedup_hamming_mixed" -> ((s: SparkSession, d: String) =>
      Multimodal.nearDupHammingMixed(s, d)),
    "mm_decode_hist_mixed" -> (Multimodal.pixelHistRealMixed _),
    "mm_dedup_phash" -> ((s: SparkSession, d: String) =>
      Multimodal.nearDupPhash(s, d)),
    "mm_dedup_ahash" -> ((s: SparkSession, d: String) =>
      Multimodal.nearDupAhash(s, d)),
    // F. text analysis
    "text_quality" -> (TextOps.textQuality _),
    "text_readability" -> (TextOps.textReadability _),
    "text_collocations" -> (TextOps.textCollocations _),
    "text_tokens" -> (TextOps.textTokens _),
    "text_fingerprint" -> (TextOps.textFingerprint _),
    "pipeline_clean" -> (TextOps.pipelineClean _),
    "pipeline_clean_sweep" -> (TextOps.pipelineCleanSweep _),
    "pipeline_pack_sweep" -> (TextOps.pipelinePackSweep _),
    "text_normalize" -> (TextOps.textNormalize _),
    "pipeline_split" -> (TextOps.pipelineSplit _),
    "pipeline_pack" -> ((s: SparkSession, d: String) => TextOps.pipelinePack(s, d)),
    "pipeline_pack_bpe" -> ((s: SparkSession, d: String) => TextOps.pipelinePackBpe(s, d)),
    "text_langid" -> (TextOps.textLangid _),
    "text_textrank" -> (TextOps.textTextrank _),
    // F'. corpus curation (training-data gates)
    "text_repetition" -> (Curation.textRepetition _),
    "text_gopher" -> (Curation.textGopher _),
    "pipeline_decontam" -> ((s: SparkSession, d: String) => Curation.pipelineDecontam(s, d)),
    "sample_stratified" -> (Curation.sampleStratified _),
    "sample_temperature" -> (Curation.sampleTemperature _),
    "sample_temperature_sweep" -> (Curation.sampleTemperatureSweep _),
    "sample_weighted" -> (Curation.sampleWeighted _),
    "sample_uniform_k" -> ((s: SparkSession, d: String) =>
      Curation.sampleUniformK(s, d)),
    "pipeline_mix" -> (Curation.pipelineMix _),
    "pipeline_funnel" -> ((s: SparkSession, d: String) =>
      Curation.pipelineFunnel(s, d)),
    "pipeline_shuffle" -> (Curation.pipelineShuffle _),
    "pipeline_curriculum" -> (Curation.pipelineCurriculum _),
    "pipeline_zorder" -> (Layout.zorderManifest _),
    "sample_per_group" -> (Curation.samplePerGroup _),
    "sample_importance" -> (Curation.sampleImportance _),
    "pipeline_pii" -> (Curation.pipelinePii _),
    "text_lm_score" -> (TextOps.textLmScore _),
    "text_rake" -> ((s: SparkSession, d: String) => TextOps.textRake(s, d)),
    "text_bpe_merges" -> (TextOps.textBpeMerges _),
    "text_bpe_vocab" -> (TextOps.textBpeVocab _),
    "text_bpe_tokens" -> (TextOps.textBpeTokens _),
    "text_entropy" -> (TextOps.textEntropy _),
    "text_tfidf" -> ((s: SparkSession, d: String) => TextOps.textTfidf(s, d)),
    "text_tfidf_sql" -> ((s: SparkSession, d: String) =>
      runSql(s, d, TfidfSparkSql)),
    "text_bm25" -> ((s: SparkSession, d: String) => TextOps.textBm25(s, d)),
    "search_hybrid" -> ((s: SparkSession, d: String) => Search.hybrid(s, d)),
    // H. sources/sinks: the per-column Avro envelope (Kafka ingest hop)
    "avro_roundtrip" -> (graft.sources.IO.avroRoundtrip _),
  )

  /** Naive all-pairs levenshtein at the dictionary level — ground
    * truth by construction, shared by BOTH blocked linkage surfaces
    * (FastSS deletion variants and positional q-gram count filter):
    * each hash match proves that blocking complete. Dictionary-
    * bounded: 64 distinct part names at every SF. */
  private val FuzzyNamesSql =
    s"""WITH nm AS (SELECT p_name AS name, count(*) AS cnt
                   FROM part GROUP BY 1)
       SELECT a.name AS name_a, b.name AS name_b,
              CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
              a.cnt AS cnt_a, b.cnt AS cnt_b
       FROM nm a JOIN nm b ON a.name < b.name
       WHERE levenshtein(a.name, b.name) <= ${Linkage.Tau}
       ORDER BY name_a, name_b"""

  /** The dedup_ngram_jaccard oracle statement — shared verbatim by
    * the pair query and the cross-source attribution built on it. */
  private val NgramJaccardPairsSql: String =
    s"""WITH ${Dedup.interPairsCtes}
         SELECT d1, d2, inter,
                round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = d1
         JOIN sizes s2 ON s2.doc_id = d2
         WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.1
         ORDER BY d1, d2"""

  private val BruteforceTopkSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                    WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.qe AS DOUBLE[])), 6) AS cosine
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""

  /** Shared LSH-bucket CTE prefix (`e`/`b`/`ck`), generated from the
    * same plane constants the Spark operators use: per-vector
    * DOUBLE[] cast, the 4 per-table 8-sign-bit bucket ints, and the
    * 4 "t#bucket" corpus keys. */
  private lazy val lshBucketCte: String = {
    def planeLit(p: Array[Float]): String =
      p.map(_.toDouble.toString).mkString("[", ", ", "]")
    def bucketExpr(t: Int): String =
      (0 until 8).map { b =>
        s"CASE WHEN list_cosine_similarity(emb, ${planeLit(operators.Ann.planes(t * 8 + b))}) > 0 THEN ${1 << b} ELSE 0 END"
      }.mkString("\n                  + ")
    val bucketCols = (0 until 4)
      .map(t => s"${bucketExpr(t)} AS b$t").mkString(",\n                ")
    val corpusKeys = (0 until 4)
      .map(t => s"'$t#' || CAST(b$t AS VARCHAR)").mkString(", ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
         b AS (SELECT vec_id,
                $bucketCols
               FROM e),
         ck AS (SELECT vec_id, unnest([$corpusKeys]) AS k FROM b)"""
  }

  /** ann_lsh oracle, generated from the same plane constants and probe
    * masks the Spark operator uses. */
  private lazy val annLshSql: String = {
    val probeKeys = (0 until 4)
      .map(t => s"'$t#' || CAST(xor(b$t, m) AS VARCHAR)").mkString(", ")
    val masks = operators.Ann.probeMasks.mkString("[", ", ", "]")
    s"""WITH $lshBucketCte,
         pm AS (SELECT unnest($masks) AS m),
         pk AS (SELECT qid, unnest([$probeKeys]) AS k
                FROM (SELECT vec_id AS qid, b0, b1, b2, b3 FROM b
                      WHERE vec_id < 10)
                CROSS JOIN pm),
         cand AS (SELECT DISTINCT pk.qid, ck.vec_id
                  FROM ck JOIN pk ON ck.k = pk.k),
         scored AS (
           SELECT c.qid, c.vec_id,
                  round(list_cosine_similarity(ec.emb, eq.emb), 6) AS cosine
           FROM cand c
           JOIN e ec ON ec.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.qid),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank"""
  }

  /** The ann_ivf CTE chain ending at `ranked` — shared by the ann_ivf
    * oracle and the IVF eval oracle (one SQL statement of truth,
    * same constants as the Spark operator: hash-ordered codebook of
    * [[operators.Ann.IvfK]] cells via the shared
    * [[operators.Ann.codebookCteSql]] fragment, nprobe 8,
    * query set < 10). */
  private val ivfCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         c AS (${operators.Ann.codebookCteSql("e")}),
         cells AS (
           SELECT vec_id, emb, cell FROM (
             SELECT e.vec_id, e.emb, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                               c.cent_id) AS rn
             FROM e CROSS JOIN c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qe, cell FROM (
             SELECT q.qid, q.qe, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                               c.cent_id) AS rn
             FROM q CROSS JOIN c) WHERE rn <= 8),
         scored AS (
           SELECT DISTINCT p.qid, s.vec_id,
                  round(list_cosine_similarity(s.emb, p.qe), 6) AS cosine
           FROM cells s JOIN probes p ON p.cell = s.cell),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)"""

  /** Brute-force truth CTEs (`scored_b` + `t`) over an existing `e`
    * CTE — shared by every eval oracle. */
  private val bruteTruthCtes: String =
    """scored_b AS (
           SELECT q.qid, c.vec_id,
                  round(list_cosine_similarity(c.emb, q.emb), 6) AS cosine
           FROM e c CROSS JOIN
             (SELECT vec_id AS qid, emb FROM e WHERE vec_id < 10) q),
         t AS (
           SELECT qid, vec_id, rank FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
             FROM scored_b) WHERE rank <= 5)"""

  /** Shared eval tail over CTEs `al` (approx top-5) and `t` (truth
    * top-5): overlap/recall/reciprocal-rank metrics — id joins only,
    * the reciprocal rank micro-quantized so the summary MRR
    * numerator is an exact BIGINT sum. ONE statement of truth for
    * every ranking the harness scores. */
  private val evalTailSql: String =
    """kq AS (SELECT qid, CAST(count(*) AS BIGINT) AS k_truth
                FROM t GROUP BY 1),
         ov AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS n_overlap
                FROM t JOIN al ON al.qid = t.qid AND al.vec_id = t.vec_id
                GROUP BY 1),
         nn2 AS (SELECT qid, vec_id FROM t WHERE rank = 2),
         nr AS (SELECT nn2.qid, CAST(al.rank AS BIGINT) AS nn_rank
                FROM nn2 LEFT JOIN al
                  ON al.qid = nn2.qid AND al.vec_id = nn2.vec_id),
         per AS (
           SELECT kq.qid,
                  coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
                  round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
                        / CAST(kq.k_truth AS DOUBLE), 6) AS recall,
                  nr.nn_rank,
                  coalesce(CAST(round(1e6 / nr.nn_rank, 0) AS BIGINT),
                           CAST(0 AS BIGINT)) AS rr_micro,
                  kq.k_truth
           FROM kq LEFT JOIN ov ON ov.qid = kq.qid
                   LEFT JOIN nr ON nr.qid = kq.qid)
         SELECT qid, n_overlap, recall, nn_rank, rr_micro FROM per
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(sum(n_overlap) AS BIGINT),
                round(CAST(sum(n_overlap) AS DOUBLE)
                      / CAST(sum(k_truth) AS DOUBLE), 6),
                CAST(NULL AS BIGINT), CAST(sum(rr_micro) AS BIGINT)
         FROM per
         ORDER BY qid"""

  /** ann_sweep_k oracle family: the truth chain + a caller-chosen
    * approx ranking composed as CTEs, one conditional-count arm per
    * k over the single joined frame — the same one-pass bank the
    * Spark side runs. The k bank interpolates [[operators.Ann.TopK]]
    * (the constant the Spark side derives its sequence from), so a
    * TopK edit moves oracle and operator together. */
  private def annSweepKSqlOver(approxSql: String): String =
    s"""WITH truth_r AS ($BruteforceTopkSql),
         approx_r AS ($approxSql),
         j AS (SELECT t.qid, t.rank AS trank, a.rank AS arank
               FROM truth_r t LEFT JOIN approx_r a
                 ON a.qid = t.qid AND a.vec_id = t.vec_id),
         f AS (SELECT j.*, ks.k
               FROM j CROSS JOIN
                 (SELECT unnest(range(1, ${operators.Ann.TopK + 1}))
                    AS k) ks)
       SELECT CAST(k AS BIGINT) AS k,
              CAST(sum(CASE WHEN trank <= k AND arank IS NOT NULL
                             AND arank <= k THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hit,
              CAST(sum(CASE WHEN trank <= k THEN 1 ELSE 0 END) AS BIGINT)
                AS n_truth,
              round(CAST(sum(CASE WHEN trank <= k AND arank IS NOT NULL
                              AND arank <= k THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(sum(CASE WHEN trank <= k THEN 1 ELSE 0 END)
                           AS DOUBLE), 6) AS recall
       FROM f GROUP BY k ORDER BY k"""

  private lazy val annSweepKSql: String = annSweepKSqlOver(annLshSql)

  /** ann_sweep_k_ivf oracle: the same bank over the SERVING-TIER ivf
    * ranking (the nested WITH scopes the ivf CTE names locally, so
    * they can't collide with the truth chain's). */
  private lazy val annSweepKIvfSql: String = annSweepKSqlOver(
    s"""WITH $ivfCtes
        SELECT qid, rank, vec_id, cosine FROM ranked
        WHERE rank <= ${operators.Ann.TopK}""")

  /** ann_eval oracle: the ann_lsh chain, the brute-force chain, and
    * the shared metrics tail composed. */
  private lazy val annEvalSql: String = {
    val probeKeys = (0 until 4)
      .map(t => s"'$t#' || CAST(xor(b$t, m) AS VARCHAR)").mkString(", ")
    val masks = operators.Ann.probeMasks.mkString("[", ", ", "]")
    s"""WITH $lshBucketCte,
         pm AS (SELECT unnest($masks) AS m),
         pk AS (SELECT qid, unnest([$probeKeys]) AS k
                FROM (SELECT vec_id AS qid, b0, b1, b2, b3 FROM b
                      WHERE vec_id < 10)
                CROSS JOIN pm),
         cand AS (SELECT DISTINCT pk.qid, ck.vec_id
                  FROM ck JOIN pk ON ck.k = pk.k),
         scored_l AS (
           SELECT c.qid, c.vec_id,
                  round(list_cosine_similarity(ec.emb, eq.emb), 6) AS cosine
           FROM cand c
           JOIN e ec ON ec.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.qid),
         al AS (
           SELECT qid, vec_id, rank FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, vec_id) AS rank
             FROM scored_l) WHERE rank <= 5),
         $bruteTruthCtes,
         $evalTailSql"""
  }

  /** ann_eval_ivf oracle: the ann_ivf chain + the same truth and
    * metrics tail. */
  private lazy val annEvalIvfSql: String =
    s"""WITH $ivfCtes,
         al AS (SELECT qid, vec_id, rank FROM ranked WHERE rank <= 5),
         $bruteTruthCtes,
         $evalTailSql"""

  /** ann_knn_join oracle: same bucket CTE, self-joined. */
  private lazy val annKnnJoinSql: String =
    s"""WITH $lshBucketCte,
         cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vid
                  FROM ck a JOIN ck b
                    ON a.k = b.k AND a.vec_id <> b.vec_id),
         scored AS (
           SELECT c.qid, c.vid AS vec_id,
                  round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
           FROM cand c
           JOIN e ea ON ea.vec_id = c.qid
           JOIN e eb ON eb.vec_id = c.vid),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank"""

  /** dedup_minhash_lsh oracle, generated from the same affine salt
    * parameters as [[graft.functions.MinHashAgg]]. */
  private lazy val minhashLshSql: String =
    s"""WITH ${Shingles.grams3Cte},
         ${Shingles.minhashSigCte(32)},
         bk AS (SELECT doc_id, unnest(${Shingles.bandKeysSql(8, 4)}) AS bk FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bk a JOIN bk b
                    ON a.bk = b.bk AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         inter AS (SELECT c.d1, c.d2, count(*) AS inter
                   FROM cand c
                   JOIN posts p1 ON p1.doc_id = c.d1
                   JOIN posts p2 ON p2.doc_id = c.d2 AND p2.gram = p1.gram
                   GROUP BY c.d1, c.d2)
         SELECT i.d1, i.d2,
                round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) AS jaccard
         FROM inter i
         JOIN sizes s1 ON s1.doc_id = i.d1
         JOIN sizes s2 ON s2.doc_id = i.d2
         WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) >= 0.5
         ORDER BY d1, d2"""

  /** dedup_incremental oracle: same generated signature/band-key
    * machinery as [[minhashLshSql]], with the asymmetric
    * fresh-probes-existing candidate join and a per-fresh-doc
    * best-match verdict. */
  private lazy val dedupIncrementalSql: String =
    s"""WITH ${Shingles.grams3Cte},
         ${Shingles.minhashSigCte(32)},
         bk AS (SELECT doc_id, unnest(${Shingles.bandKeysSql(8, 4)}) AS bk FROM sig),
         cand AS (SELECT DISTINCT f.doc_id AS dn, e.doc_id AS de
                  FROM bk f JOIN bk e ON f.bk = e.bk
                  WHERE f.doc_id % 10 = 0 AND e.doc_id % 10 <> 0),
         sizes AS (SELECT doc_id, len(gs) AS n FROM g),
         inter AS (SELECT c.dn, c.de, count(*) AS inter
                   FROM cand c
                   JOIN posts p1 ON p1.doc_id = c.dn
                   JOIN posts p2 ON p2.doc_id = c.de AND p2.gram = p1.gram
                   GROUP BY c.dn, c.de),
         scored AS (SELECT i.dn, i.de,
                           round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) AS j
                    FROM inter i
                    JOIN sizes s1 ON s1.doc_id = i.dn
                    JOIN sizes s2 ON s2.doc_id = i.de
                    WHERE round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) >= 0.5),
         best AS (SELECT dn, de, j,
                         row_number() OVER (PARTITION BY dn
                           ORDER BY j DESC, de ASC) AS rn
                  FROM scored)
         SELECT d.doc_id,
                b.de IS NOT NULL AS is_dup,
                coalesce(b.de, -1) AS best_match,
                coalesce(b.j, 0.0) AS best_jaccard
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         LEFT JOIN (SELECT dn, de, j FROM best WHERE rn = 1) b
           ON b.dn = d.doc_id
         ORDER BY d.doc_id"""

  /** dedup_simhash oracle: the portable 60-bit base hash makes the
    * signature pure SQL (votes per bit position, sign-packed). */
  private val simhashSql: String =
    s"""WITH ${Shingles.grams3Cte},
         ${Shingles.simhashCte},
         chunks AS (SELECT doc_id, sim,
                           CAST(c AS VARCHAR) || '#' ||
                             CAST(((sim >> (16 * c)) & 65535) AS VARCHAR) AS ck
                    FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)),
         pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                          bit_count(xor(a.sim, b.sim)) AS hamming
                   FROM chunks a JOIN chunks b
                     ON a.ck = b.ck AND a.doc_id < b.doc_id)
         SELECT d1, d2, hamming FROM pairs
         WHERE hamming <= 3 ORDER BY d1, d2"""

  /** dedup_sweep_hamming oracle: the simhash sig chain, candidates
    * once at the loosest (5×12-bit pigeonhole) threshold, one
    * conditional arm per tolerance. */
  private lazy val sweepHammingSql: String =
    s"""WITH ${Shingles.grams3Cte},
         ${Shingles.simhashCte},
         chunks AS (SELECT doc_id, sim,
                           CAST(c AS VARCHAR) || '#' ||
                             CAST(((sim >> (12 * c)) & 4095) AS VARCHAR) AS ck
                    FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS c)),
         pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                          bit_count(xor(a.sim, b.sim)) AS hamming
                   FROM chunks a JOIN chunks b
                     ON a.ck = b.ck AND a.doc_id < b.doc_id),
         bank AS (SELECT unnest([1, 2, 3, 4]) AS max_hamming)
       SELECT CAST(bank.max_hamming AS BIGINT) AS max_hamming,
              CAST(count(p.d1) AS BIGINT) AS n_pairs
       FROM bank LEFT JOIN pairs p ON p.hamming <= bank.max_hamming
       GROUP BY bank.max_hamming ORDER BY max_hamming"""

  /** graph_pagerank oracle: the fixed-point integer formulation makes
    * every iteration pure SQL — unrolled here as chained CTEs (one
    * per round), since the arithmetic is integer-exact on both
    * engines (`div`/`//` truncation on non-negative values). */
  private lazy val pagerankSql: String = pagerankOracle(weighted = false)

  /** graph_pagerank_weighted oracle: per-edge (pr · w) // wout —
    * truncation applied per edge BEFORE the sum in both engines, so
    * the chain stays hash-exact. The unweighted chain is this one at
    * w ≡ 1, where wout is the out-degree. */
  private lazy val pagerankWeightedSql: String = pagerankOracle(weighted = true)

  private def pagerankOracle(weighted: Boolean): String = {
    val iters = 5
    val chain = (1 to iters).map { i =>
      s"""pr$i AS (SELECT d.node, d.wout,
             (${Graph.Scale} * 15 // 100) // c.n
               + (${Graph.Damping} * sum((p.pr * e.w) // p.wout)) // 100 AS pr
           FROM pr${i - 1} p JOIN edges e ON p.node = e.src
             JOIN deg d ON e.dst = d.node
             CROSS JOIN const c
           GROUP BY d.node, d.wout, c.n)"""
    }.mkString(",\n         ")
    s"""WITH pairs AS (SELECT
             'C' || CAST(o_custkey AS VARCHAR) AS c,
             'S' || CAST(l_suppkey AS VARCHAR) AS s,
             ${if (weighted) "count(*)" else "1"} AS w
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         edges AS (SELECT c AS src, s AS dst, w FROM pairs
                   UNION ALL SELECT s AS src, c AS dst, w FROM pairs),
         deg AS (SELECT src AS node, sum(w) AS wout FROM edges GROUP BY src),
         const AS (SELECT count(*) AS n FROM deg),
         pr0 AS (SELECT node, wout, ${Graph.Scale} // n AS pr
                 FROM deg CROSS JOIN const),
         $chain
         SELECT node, CAST(pr AS BIGINT) AS pr FROM pr$iters
         ORDER BY pr DESC, node LIMIT 100"""
  }

  /** The n-gram-LSH near-dup graph + transitive closure as a CTE
    * prefix ending at `comp` = (doc_id, component) — shared by the
    * components oracle and the keep-best oracle so the clustering
    * trajectory has one SQL statement of truth. */
  private lazy val dedupComponentsCtes: String =
    s"""WITH RECURSIVE ${Dedup.interPairsCtes},
         near AS (
           SELECT d1, d2 FROM pairs
           JOIN sizes s1 ON s1.doc_id = d1
           JOIN sizes s2 ON s2.doc_id = d2
           WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6) >= 0.1),
         edges AS (SELECT d1 AS a, d2 AS b FROM near
                   UNION SELECT d2, d1 FROM near),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS doc_id, least(a, min(b)) AS component
           FROM reach GROUP BY a)"""

  /** dedup_components oracle: recursive-CTE transitive closure over
    * the same near-dup pair set the Spark side derives (tiny clusters
    * → closure stays small). Shared VERBATIM with
    * `dedup_components_resume`: the warm-started loop must land on
    * the identical fixed point, so one oracle text gates both. */
  private lazy val dedupComponentsSql: String =
    dedupComponentsCtes +
      "\n         SELECT doc_id, component FROM comp ORDER BY doc_id"

  /** Keep-best oracle: the same closure, then byte-length argmax per
    * cluster (strlen = UTF-8 BYTES in DuckDB ≡ Spark octet_length —
    * the codepoint/code-unit divergence the unicode gate exists to
    * catch is avoided by construction). */
  private lazy val dedupKeepBestSql: String =
    dedupComponentsCtes + """,
         base AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS blen
                  FROM documents),
         lab AS (SELECT b.doc_id,
                        coalesce(c.component, b.doc_id) AS component,
                        b.blen
                 FROM base b LEFT JOIN comp c ON c.doc_id = b.doc_id),
         cs AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
                FROM lab GROUP BY 1),
         keep AS (SELECT component, doc_id, blen FROM lab
                  QUALIFY row_number() OVER (PARTITION BY component
                    ORDER BY blen DESC, doc_id) = 1)
         SELECT k.component, k.doc_id, k.blen, cs.csize
         FROM keep k JOIN cs USING (component) ORDER BY component"""

  /** mr_cms_freq oracle: a Count-Min counter's content is "sum of
    * counts of every token in the bucket", so DuckDB rebuilds the
    * d×w matrix with d group-bys over the same affine-salt
    * arithmetic (literals below) and takes the same min. */
  private lazy val cmsFreqSql: String = {
    val depth = 4
    val width = 64
    val (a, b) = graft.functions.PortableHash.affineParams(depth)
    val p = graft.functions.PortableHash.P
    val bucketCols = (0 until depth).map(i =>
      s"(((${a(i)} * hp + ${b(i)}) % $p) % $width) AS b$i").mkString(",\n                ")
    val counterCtes = (0 until depth).map(i =>
      s"c$i AS (SELECT b$i AS bk, CAST(sum(cnt) AS BIGINT) AS c FROM bkt GROUP BY b$i)")
      .mkString(",\n         ")
    val joins = (0 until depth).map(i => s"JOIN c$i ON bkt.b$i = c$i.bk")
      .mkString("\n           ")
    val least = (0 until depth).map(i => s"c$i.c").mkString(", ")
    s"""WITH w AS (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word
                   FROM documents),
         t AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         h AS (SELECT word, cnt,
                      ${PortableHash.h60Sql("word")} % $p AS hp
               FROM t),
         bkt AS (SELECT word, cnt,
                $bucketCols
                 FROM h),
         $counterCtes
         SELECT word, cnt, least($least) AS est
         FROM bkt $joins
         ORDER BY word"""
  }

  /** The Q1 oracle is written in the dialect-portable subset BOTH
    * engines parse — `q1_sql` feeds this exact text to `spark.sql`
    * (over registered views) while the driver runs it in DuckDB, so
    * one string is simultaneously the query and its own oracle.
    *
    * Type portability constraint: the money sums CAST to DOUBLE
    * *before* the `/ 100.0` — `BIGINT / 100.0` types DECIMAL(27,6)
    * in Spark but DOUBLE in DuckDB, which serializes `x.600000` vs
    * `x.6` and fails the driver's value-hash compare even though the
    * numbers are equal. DOUBLE ÷ decimal-literal is DOUBLE in both. */
  private val Q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              CAST(sum(CAST(round((l_extendedprice) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
              CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
              CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(avg(l_discount), 4) AS avg_disc,
              count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** SQL-first surface: register the tables as temp views and run a
    * dialect-portable SQL text through `spark.sql` — the engine a
    * SQL-only user gets, driven end-to-end by the same oracle gate
    * as the DataFrame API. */
  /** SQL-first entry path: registers EVERY table as a temp view plus
    * graft's custom expressions ([[GraftFunctions.register]],
    * idempotent), then runs the query text — what an SQL-only user's
    * session looks like. The `*_sql` queries below go through here
    * and are gated against the SAME DuckDB oracle as their DataFrame
    * twins, so the SQL surface can't drift from the library one. */
  private def runSql(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val t = graft.core.Tables(spark, dir)
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    GraftFunctions.register(spark)
    spark.sql(sql)
  }

  // ---- SQL-surface twins of the LLM-pipeline operators ----
  // Each is PLAIN Spark SQL over the registered views + graft
  // functions — the query an SQL-only user would type — and is gated
  // against the IDENTICAL DuckDB oracle as its DataFrame twin, so a
  // twin that drifted from the library semantics hash-fails.

  /** [[graft.operators.Dedup.exact]] in plain SQL. */
  private val DedupExactSparkSql =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
       FROM documents GROUP BY md5(text)"""

  /** [[graft.operators.Dedup.minhashLsh]] in plain SQL: the one-loop
    * signature kernel via the registered `minhash_sig`, the same
    * literal band layout (k=32, 8 bands × 4 rows, "band#v_v_v_v"
    * keys), bucket self-join, exact-Jaccard verify at τ=0.5. The
    * bucket join is the only corpus-scale shuffle, same as the
    * DataFrame plan. */
  private lazy val MinhashLshSparkSql: String = {
    val bandKeys = (0 until 8).map { b =>
      val parts = (b * 4 until (b + 1) * 4)
        .map(i => s"CAST(element_at(sig, ${i + 1}) AS STRING)")
        .mkString(", ")
      s"concat('$b#', concat_ws('_', $parts))"
    }.mkString(",\n                       ")
    s"""WITH g AS (SELECT doc_id,
                          ngram_shingles(split(trim(text), '\\\\s+'), 3)
                            AS grams
                   FROM documents),
         s AS (SELECT doc_id, minhash_sig(grams, 32) AS sig
               FROM g WHERE size(grams) > 0),
         bk AS (SELECT doc_id,
                       explode(array($bandKeys)) AS bk
                FROM s),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bk a JOIN bk b
                    ON a.bk = b.bk AND a.doc_id < b.doc_id),
         scored AS (SELECT c.d1, c.d2,
                           round(CAST(size(array_intersect(g1.grams, g2.grams)) AS DOUBLE)
                                 / CAST(size(array_union(g1.grams, g2.grams)) AS DOUBLE),
                                 6) AS jaccard
                    FROM cand c
                    JOIN g g1 ON c.d1 = g1.doc_id
                    JOIN g g2 ON c.d2 = g2.doc_id)
       SELECT d1, d2, jaccard FROM scored WHERE jaccard >= 0.5"""
  }

  /** [[graft.operators.Dedup.simhash]] in plain SQL: the registered
    * one-loop `simhash_sig` kernel, the same 4×16-bit chunk buckets
    * (pigeonhole: any pair within Hamming 3 shares a chunk), and a
    * codegen'd `bit_count(xor)` verify. */
  private val SimhashSparkSql =
    """WITH g AS (SELECT doc_id,
                         ngram_shingles(split(trim(text), '\\s+'), 3) AS grams
                  FROM documents),
         s AS (SELECT doc_id, simhash_sig(grams) AS sim
               FROM g WHERE size(grams) > 0),
         ck AS (SELECT doc_id, sim,
                       explode(array(
                         concat('0#', CAST(shiftright(sim, 0) & 65535 AS STRING)),
                         concat('1#', CAST(shiftright(sim, 16) & 65535 AS STRING)),
                         concat('2#', CAST(shiftright(sim, 32) & 65535 AS STRING)),
                         concat('3#', CAST(shiftright(sim, 48) & 65535 AS STRING)))) AS ck
                FROM s),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                         bit_count(a.sim ^ b.sim) AS hamming
                  FROM ck a JOIN ck b
                    ON a.ck = b.ck AND a.doc_id < b.doc_id)
       SELECT d1, d2, hamming FROM cand WHERE hamming <= 3"""

  /** [[graft.operators.Ann.bruteforce]] in plain SQL: broadcast the
    * 10-query side, score with the registered `cosine_sim`, keep
    * top-5 per query with the registered bounded-heap
    * `topk_by_score` aggregate — never a corpus-wide sort. */
  private val BruteforceSparkSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe
                  FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT /*+ BROADCAST(q) */ q.qid, e.vec_id,
                           round(cosine_sim(e.embedding, q.qe), 6) AS cosine
                    FROM embeddings e CROSS JOIN q),
         tk AS (SELECT qid, topk_by_score(cosine, vec_id, 5) AS top
                FROM scored GROUP BY qid)
       SELECT qid, CAST(pos + 1 AS INT) AS rank,
              col.id AS vec_id, col.score AS cosine
       FROM tk LATERAL VIEW posexplode(top) t AS pos, col
       ORDER BY qid, rank"""

  /** [[graft.operators.TextOps.textTfidf]] in plain SQL: the same
    * whitespace tokenization (`split(trim(text), '\s+')` — the
    * [[graft.functions.Shingles.tokens]] kernel spelled out), the
    * same micro-nat idf quantized ONCE per term, per-doc top-3 by
    * (score desc, term). */
  private val TfidfSparkSql =
    """WITH toks AS (
           SELECT doc_id, explode(split(trim(text), '\\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT t.doc_id, t.term, t.tf, d.df,
                      t.tf * CAST(round(ln((n_docs + 1.0) / (d.df + 1.0))
                                        * 1000000, 0) AS BIGINT)
                        AS score_scaled
               FROM tf t JOIN dft d ON d.term = t.term CROSS JOIN n),
         r AS (SELECT doc_id, term, tf, df, score_scaled,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_scaled DESC, term) AS rn
               FROM s)
       SELECT doc_id, term, tf, df,
              round(CAST(score_scaled AS DOUBLE) / 1000000.0, 6) AS tfidf,
              rn
       FROM r WHERE rn <= 3 ORDER BY doc_id, rn"""

  /** [[graft.operators.Events.qSessionize]] in plain SQL: the lag +
    * running-sum session-boundary idiom over the identical
    * (ts, event_id) window order and the 1800 s gap. */
  private val SessionizeSparkSql =
    """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (
           SELECT user_id, ts,
                  sum(CASE WHEN prev_ts IS NULL
                           OR CAST(ts AS DOUBLE) - CAST(prev_ts AS DOUBLE)
                              > 1800
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
           FROM x)
       SELECT user_id, session_id, count(*) AS n_events,
              CAST(floor(min(CAST(ts AS DOUBLE))) AS BIGINT) AS start_s,
              CAST(floor(max(CAST(ts AS DOUBLE))) AS BIGINT) AS end_s
       FROM y GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  /** [[graft.operators.Graph.degreeDist]] in plain SQL — the r13
    * graph-family entry of the SQL-only tier: the co-supply edge
    * base (DISTINCT (order, supplier) pairs self-joined, ≥ 3 shared
    * orders) and the two grouped aggregates, verbatim the algebra of
    * the DataFrame twin and hash-gated against its IDENTICAL oracle.
    * (The DataFrame twin additionally reuses the PlanCache-memoized
    * edge base across the graph family — a library optimization the
    * SQL surface doesn't need for correctness.) */
  private val DegreeDistSparkSql =
    """WITH sl AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         e0 AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
                FROM sl a JOIN sl b ON a.l_orderkey = b.l_orderkey
                 AND a.l_suppkey < b.l_suppkey
                GROUP BY a.l_suppkey, b.l_suppkey HAVING count(*) >= 3),
         d AS (SELECT n, count(*) AS degree
               FROM (SELECT u AS n FROM e0
                     UNION ALL SELECT v AS n FROM e0) t
               GROUP BY n)
       SELECT degree, count(*) AS n_nodes
       FROM d GROUP BY degree ORDER BY degree"""

  /** [[graft.operators.Profile.psiProfile]] in plain SQL — the r13
    * profile-family entry of the SQL-only tier: same split constant,
    * same micro-nat quantization and declared op order (DOUBLE share
    * difference × BIGINT micro-log-ratio, one final round), same
    * NULL contract for single-sided types, same `__total__` row.
    * The 1-row totals CTE rides a broadcast hint exactly like the
    * DataFrame twin's `broadcast(tot)`. */
  private val PsiSparkSql = {
    val split = graft.operators.Profile.PsiSplitTs
    s"""WITH c AS (
          SELECT event_type,
                 sum(CASE WHEN ts < TIMESTAMP '$split' THEN 1 ELSE 0 END) AS n_ref,
                 sum(CASE WHEN ts >= TIMESTAMP '$split' THEN 1 ELSE 0 END) AS n_cur
          FROM events GROUP BY event_type),
        t AS (SELECT sum(n_ref) AS nr, sum(n_cur) AS nc FROM c),
        s AS (
          SELECT /*+ BROADCAST(t) */ c.event_type, c.n_ref, c.n_cur,
                 CAST(round(
                   (CAST(c.n_ref AS DOUBLE) / t.nr - CAST(c.n_cur AS DOUBLE) / t.nc)
                   * (CASE WHEN c.n_ref > 0 AND c.n_cur > 0 THEN
                        CAST(round(ln(CAST(c.n_ref * t.nc AS DOUBLE)
                                      / CAST(c.n_cur * t.nr AS DOUBLE)) * 1e6, 0) AS BIGINT)
                      END), 0) AS BIGINT) AS psi_micro
          FROM c CROSS JOIN t)
        SELECT event_type, n_ref, n_cur, psi_micro,
               round(CAST(psi_micro AS DOUBLE) / 1e6, 6) AS psi
        FROM s
        UNION ALL
        SELECT /*+ BROADCAST(t) */ '__total__', t.nr, t.nc, x.sm,
               round(CAST(x.sm AS DOUBLE) / 1e6, 6)
        FROM t CROSS JOIN (SELECT sum(psi_micro) AS sm FROM s) x
        ORDER BY event_type"""
  }

  /** [[graft.operators.Events.qRetention]] in plain SQL: the cohort
    * self-join formulation an SQL user writes (the DataFrame twin's
    * sorted-set element_at is a library idiom; distinct (user, day)
    * → min-day cohort → (cohort, offset) roll-up is the same
    * algebra, and the rows must hash-match it exactly). */
  private val RetentionSparkSql =
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('DAY', ts) AS day
                   FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
       SELECT c.cohort_day,
              CAST(datediff(u.day, c.cohort_day) AS INT) AS day_offset,
              count(*) AS n_users
       FROM ud u JOIN c ON u.user_id = c.user_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q_sessionize oracle (shared verbatim with the `_sql` twin). */
  private val SessionizeOracleSql =
    """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         y AS (
           SELECT user_id, ts,
                  CAST(sum(CASE WHEN prev_ts IS NULL
                           OR epoch(ts) - epoch(prev_ts) > 1800
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM x)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(floor(min(epoch(ts))) AS BIGINT) AS start_s,
                CAST(floor(max(epoch(ts))) AS BIGINT) AS end_s
         FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** events_retention oracle (shared verbatim with the `_sql` twin). */
  private val RetentionOracleSql =
    """WITH ud AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
                   FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
         SELECT c.cohort_day,
                CAST(date_diff('day', c.cohort_day, u.day) AS INT) AS day_offset,
                count(*) AS n_users
         FROM ud u JOIN c ON u.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""

  /** text_tfidf oracle (shared verbatim with the `_sql` twin). */
  private val TfidfOracleSql =
    s"""WITH toks AS (
           SELECT doc_id, unnest(${Shingles.tokensSql("text")}) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT t.doc_id, t.term, t.tf, d.df,
                      t.tf * CAST(round(ln(CAST(n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS score_scaled
               FROM tf t JOIN dft d ON d.term = t.term CROSS JOIN n),
         r AS (SELECT doc_id, term, tf, df, score_scaled,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_scaled DESC, term) AS rn
               FROM s)
         SELECT doc_id, term, tf, df,
                round(CAST(score_scaled AS DOUBLE) / 1000000.0, 6) AS tfidf, rn
         FROM r WHERE rn <= 3 ORDER BY doc_id, rn"""

  /** The bottom-k-by-hash sample shared by profile_quantiles and
    * profile_mad: per lineitem column, the 1000 rows with the smallest
    * portable row hash (`s`: col_name, value, value rank `vr`, `n`). */
  private val LineitemSampleCtes: String =
    s"""m AS (
           SELECT ${PortableHash.h60Sql(
                    "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")} AS h,
                  col_name, value
           FROM (SELECT l_orderkey, l_linenumber, 'l_quantity' AS col_name,
                        l_quantity AS value FROM lineitem
                 UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                        l_extendedprice FROM lineitem
                 UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
                        l_discount FROM lineitem
                 UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
                        l_tax FROM lineitem)),
         r AS (SELECT col_name, value,
                      row_number() OVER (PARTITION BY col_name
                                         ORDER BY h, value) AS rn
               FROM m),
         s AS (SELECT col_name, value,
                      row_number() OVER (PARTITION BY col_name
                                         ORDER BY value) AS vr,
                      count(*) OVER (PARTITION BY col_name) AS n
               FROM r WHERE rn <= 1000)"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has one (50/50): the sketch
    * ops use the engine-portable [[graft.functions.PortableHash]]
    * family (md5-60bit + affine salts over 2³¹−1) and the LSH/IVF ops
    * inline their plane/codebook constants, so DuckDB reproduces the
    * identical signatures, buckets, and cells. */
  def oracleSql: Map[String, String] = Map(
    "mr_wordcount" ->
      s"""SELECT word, count(*) AS cnt
         FROM (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word
               FROM documents)
         GROUP BY word ORDER BY word""",
    "mr_grep_count" ->
      """SELECT source, count(*) AS n_match FROM documents
         WHERE text LIKE '%join%' GROUP BY source ORDER BY source""",
    "mr_inverted_index" ->
      s"""WITH wd AS (
           SELECT DISTINCT word, doc_id
           FROM (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word,
                        doc_id FROM documents))
         SELECT word, count(*) AS df,
                string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM wd GROUP BY word ORDER BY word""",
    // full per-source wordcount + window: the heavy-hitters aggregate
    // is exact while capacity >= per-source vocabulary, so the hash
    // must match the exhaustive computation
    "mr_topwords" ->
      s"""WITH w AS (
           SELECT source,
                  unnest(${TokenCol.letterTokensSql("text")}) AS word
           FROM documents),
         c AS (SELECT source, word, count(*) AS cnt FROM w
               GROUP BY source, word),
         r AS (SELECT source, word, cnt,
                      row_number() OVER (PARTITION BY source
                        ORDER BY cnt DESC, word) AS rank
               FROM c)
         SELECT source, rank, word, cnt FROM r
         WHERE rank <= 10 ORDER BY source, rank""",
    "mr_cms_freq" -> cmsFreqSql,
    // canonical Misra-Gries summary at capacity 8: theta = the 9th
    // largest exact count (0 if vocabulary <= 8), survivors = counts
    // above it with lower bound cnt - theta — a pure multiset function,
    // so the window-rank replay hash-matches at any partitioning
    "mr_heavyhitters" ->
      s"""WITH w AS (SELECT unnest(${TokenCol.letterTokensSql("text")}) AS word
                    FROM documents),
         c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
               FROM c),
         t AS (SELECT CAST(coalesce(max(CASE WHEN rk = 9 THEN cnt END), 0)
                        AS BIGINT) AS theta FROM r)
         SELECT word, cnt, cnt - theta AS lo_bound, theta
         FROM c CROSS JOIN t WHERE cnt > theta
         ORDER BY cnt DESC, word""",
    "q1_agg" -> Q1AggSql,
    "q1_sql" -> Q1AggSql,
    "q3_join_topk" ->
      """SELECT l_orderkey,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue,
                o_orderdate, o_orderpriority
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q5_multijoin" ->
      """SELECT n_name,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6_filter_agg" ->
      """SELECT sum(CAST(round((l_extendedprice * l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= CAST(0.03 AS DOUBLE)
           AND l_discount <= CAST(0.07 AS DOUBLE)
           AND l_quantity < 24""",
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q_group_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
                sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT)) / 100.0 AS spend
         FROM orders GROUP BY o_custkey HAVING count(*) >= 5
         ORDER BY o_custkey""",
    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
                CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                  ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
                  AS spend_30d
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_return_ratio" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                round(CAST(sum(CASE WHEN l_returnflag = 'R'
                         THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                         AS DOUBLE), 6) AS return_share,
                count(*) AS n
         FROM lineitem GROUP BY month ORDER BY month""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q_union_agg" ->
      """SELECT o_orderstatus, bucket, count(*) AS n FROM (
           SELECT o_orderstatus, 'high' AS bucket FROM orders
           WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_orderstatus, 'low' AS bucket FROM orders
           WHERE o_totalprice < 50000)
         GROUP BY o_orderstatus, bucket ORDER BY o_orderstatus, bucket""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    // the PLAIN projection: a hash match proves the to_avro→from_avro
    // codec pair is value-invisible (lossless round trip) — same
    // argument as q_salted_join below
    "avro_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    // the PLAIN join: a hash match proves the salted join is
    // value-invisible
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT)) / 100.0 AS spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_pivot" ->
      """SELECT o_orderstatus,
                sum(CAST(round((CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS urgent,
                sum(CAST(round((CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS high,
                sum(CAST(round((CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS medium,
                sum(CAST(round((CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS notspec,
                sum(CAST(round((CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_case_agg" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                     WHEN o_totalprice < 300000 THEN 'medium'
                     ELSE 'large' END AS size_bucket,
                count(*) AS n, sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT)) / 100.0 AS total
         FROM orders GROUP BY size_bucket ORDER BY size_bucket""",
    "q_month_revenue" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem GROUP BY month ORDER BY month""",
    "q_string_funcs" ->
      """SELECT p_brand, upper(p_type) AS type_u,
                substring(p_name, 1, 8) AS name8, count(*) AS n
         FROM part WHERE p_name LIKE '%a%'
         GROUP BY p_brand, type_u, name8 ORDER BY p_brand, type_u, name8""",
    "q_percentiles" ->
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.75), 4) AS p75
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem, orders, supplier, customer, nation n1, nation n2
         WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey
           AND c_nationkey = n2.n_nationkey
           AND n1.n_name <> n2.n_name
           AND l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY supp_nation, cust_nation
         ORDER BY supp_nation, cust_nation""",
    "q10_returned" ->
      """SELECT c_custkey, c_name,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem, orders, customer
         WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
           AND o_custkey = c_custkey
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-07-01'
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q18_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                round(sum(l_quantity), 2) AS total_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING sum(l_quantity) > 300)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q14_promo" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)
                    ELSE 0 END) / 100.0 AS promo_revenue,
                sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS total_revenue,
                round(CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)
                         ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT))
                         AS DOUBLE), 6) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY month ORDER BY month""",
    "q_ntile" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                ntile(4) OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice, o_orderkey) AS quartile,
                round(percent_rank() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice, o_orderkey), 6) AS pr
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_cents = (SELECT max(rev_cents) FROM rev)
         ORDER BY s_suppkey""",
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q13_cust_dist" ->
      """WITH per_cust AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist FROM per_cust
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "q17_avg_qty" ->
      """WITH li AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#5'),
         aq AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
                FROM li GROUP BY l_partkey)
         SELECT round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                      / 700.0, 4) AS avg_yearly
         FROM li JOIN aq ON l_partkey = ap_partkey
         WHERE l_quantity < 0.2 * avg_qty""",
    "q19_or_pred" ->
      """SELECT sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
                AND l_quantity BETWEEN 20 AND 30)""",
    // threshold as integer cross-multiplication (bal_cents·n >
    // sum_cents) — the scalar average never becomes a float on either
    // engine
    "q22_no_orders" ->
      """WITH avg_pos AS (
           SELECT CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
                  count(*) AS n_pos
           FROM customer WHERE c_acctbal > 0)
         SELECT c_nationkey, count(*) AS numcust,
                sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0 AS totacctbal
         FROM customer CROSS JOIN avg_pos
         WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) * n_pos > sum_cents
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-06-01')
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    // Q2 shape: supply cost = min observed unit price (no partsupp
    // table); correlated min spelled as groupBy-min + join on both
    // engines
    "q2_min_cost" ->
      """WITH supply AS (
           SELECT l_partkey, l_suppkey,
                  min(CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)) AS cost_cents
           FROM lineitem GROUP BY 1, 2),
         eu AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         cand AS (
           SELECT p_partkey, s_name, s_acctbal, n_name, cost_cents
           FROM part JOIN supply ON p_partkey = l_partkey
                     JOIN eu ON l_suppkey = s_suppkey
           WHERE p_type = 'LARGE'),
         best AS (SELECT p_partkey AS bp, min(cost_cents) AS best_cents
                  FROM cand GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, p_partkey,
                round(cost_cents / 100.0, 2) AS supply_cost
         FROM cand JOIN best ON p_partkey = bp AND cost_cents = best_cents
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "q8_market_share" ->
      """WITH an AS (
           SELECT year(o_orderdate) AS yr,
                  CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) AS vol_cents,
                  n2.n_name AS supp_nation
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           JOIN part ON l_partkey = p_partkey
           WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
             AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
         SELECT yr,
                round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol_cents ELSE 0 END) AS DOUBLE)
                      / CAST(sum(vol_cents) AS DOUBLE), 6) AS mkt_share
         FROM an GROUP BY yr ORDER BY yr""",
    // Q9 shape: supply cost stand-in = 50% of p_retailprice per unit
    "q9_profit" ->
      """SELECT nation, o_year,
                round(CAST(sum(amount_cents) AS BIGINT) / 100.0, 2) AS sum_profit
         FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                      CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
                      - CAST(round(p_retailprice * l_quantity * 50, 0) AS BIGINT) AS amount_cents
               FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                 JOIN part ON l_partkey = p_partkey
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN nation ON s_nationkey = n_nationkey
               WHERE p_name LIKE '%red%') t
         GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
    // Q11 shape: exact integer cross-multiplication threshold
    "q11_important_parts" ->
      """WITH v AS (
           SELECT l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS val_cents
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_3' GROUP BY 1),
         tot AS (SELECT CAST(sum(val_cents) AS BIGINT) AS tot_cents FROM v)
         SELECT l_partkey AS p_partkey, round(val_cents / 100.0, 2) AS value
         FROM v, tot WHERE val_cents * 1000 > tot_cents * 3
         ORDER BY value DESC, p_partkey""",
    // Q12 shape: late = shipped > 45 days after order date (no
    // commit/receipt dates in the testdata)
    "q12_late_lines" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // Q20 shape: excess share = more than half a part's 1998 volume
    "q20_excess_suppliers" ->
      """WITH sq AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS sup_qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'SMALL'
             AND l_shipdate >= TIMESTAMP '1998-01-01'
             AND l_shipdate < TIMESTAMP '1999-01-01'
           GROUP BY 1, 2),
         pt AS (SELECT l_partkey AS pk, sum(sup_qty) AS part_qty FROM sq GROUP BY 1)
         SELECT s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (SELECT l_suppkey FROM sq JOIN pt ON l_partkey = pk
                             WHERE sup_qty * 2 > part_qty)
         ORDER BY s_name""",
    // Q21 shape: lateness on l_shipdate (no receipt/commit dates)
    "q21_waiting" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate
                    FROM lineitem JOIN orders
                      ON l_orderkey = o_orderkey AND o_orderstatus = 'F')
         SELECT s_name, count(*) AS numwait
         FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE EXISTS (SELECT 1 FROM l l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM l l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate >= l1.l_shipdate)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    // UNION ALL melt of the pivot — semantically UNPIVOT, spelled
    // portably
    "q_unpivot" ->
      """WITH w AS (
           SELECT o_orderstatus,
                  sum(CAST(round((CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS urgent,
                  sum(CAST(round((CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS high,
                  sum(CAST(round((CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS medium,
                  sum(CAST(round((CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS notspec,
                  sum(CAST(round((CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice ELSE 0 END) * 100, 0) AS BIGINT)) / 100.0 AS low
           FROM orders GROUP BY o_orderstatus)
         SELECT o_orderstatus, priority, spend FROM (
           SELECT o_orderstatus, 'urgent' AS priority, urgent AS spend FROM w
           UNION ALL SELECT o_orderstatus, 'high', high FROM w
           UNION ALL SELECT o_orderstatus, 'medium', medium FROM w
           UNION ALL SELECT o_orderstatus, 'notspec', notspec FROM w
           UNION ALL SELECT o_orderstatus, 'low', low FROM w)
         ORDER BY o_orderstatus, priority""",
    "q_first_last" ->
      """SELECT o_custkey, o_orderkey,
                first_value(o_orderkey) OVER w AS cheapest_key,
                last_value(o_orderkey) OVER w AS priciest_key,
                nth_value(o_orderkey, 2) OVER w AS second_key
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",
    // composite sort value packed into one BIGINT — see
    // Relational.qMinmaxBy for the bounds argument
    "q_minmax_by" ->
      """SELECT o_orderstatus,
                arg_max(o_orderkey,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2147483648 + o_orderkey)
                  AS best_key,
                round(max(o_totalprice), 2) AS best_price,
                arg_min(o_orderkey,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2147483648 + o_orderkey)
                  AS worst_key,
                round(min(o_totalprice), 2) AS worst_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_correlated_sub" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice FROM part p
         WHERE p_retailprice = (SELECT max(p2.p_retailprice) FROM part p2
                                WHERE p2.p_brand = p.p_brand)
         ORDER BY p_brand, p_partkey""",
    "q_in_sub" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_acctbal > 9000)
         ORDER BY o_orderkey""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_window_lead" ->
      """SELECT o_custkey, o_orderkey,
                CAST(floor(epoch(lead(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey))) AS BIGINT)
                - CAST(floor(epoch(o_orderdate)) AS BIGINT) AS gap_s
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_event_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
                count(*) AS n, sum(CAST(round((value) * 100, 0) AS BIGINT)) / 100.0 AS total
         FROM events GROUP BY hour, event_type ORDER BY hour, event_type""",
    "q_event_topusers" ->
      """SELECT user_id, count(*) AS n_purchases,
                sum(CAST(round((value) * 100, 0) AS BIGINT)) / 100.0 AS spend
         FROM events WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY spend DESC, user_id LIMIT 20""",
    "q_json_extract" ->
      """SELECT event_type,
                round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_sessionize" -> SessionizeOracleSql,
    // the SQL-surface twin is gated against the SAME oracle text
    "q_sessionize_sql" -> SessionizeOracleSql,
    // the same union + last_value IGNORE NULLS formulation (not ASOF
    // JOIN: its equal-timestamp pick is unspecified; the window's
    // (ts, side, id) order is deterministic in both engines)
    "events_attribution" ->
      """WITH u AS (
           SELECT user_id, ts, 0 AS side, event_id AS touch_id,
                  event_type AS touch_type,
                  NULL::BIGINT AS purchase_id, NULL::DOUBLE AS value
           FROM events WHERE event_type IN ('click', 'view')
           UNION ALL
           SELECT user_id, ts, 1, NULL, NULL, event_id, value
           FROM events WHERE event_type = 'purchase'),
         x AS (
           SELECT *,
                  last_value(touch_id IGNORE NULLS) OVER w AS lt_id,
                  last_value(touch_type IGNORE NULLS) OVER w AS lt_type,
                  last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER w AS lt_ts
           FROM u
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY ts, side, coalesce(touch_id, purchase_id)
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         y AS (SELECT *, lt_ts IS NOT NULL
                          AND lt_ts >= ts - INTERVAL 24 HOUR AS fresh
               FROM x WHERE side = 1)
         SELECT purchase_id, user_id,
                CASE WHEN fresh THEN lt_id END AS touch_id,
                CASE WHEN fresh THEN lt_type ELSE 'direct' END AS channel,
                CASE WHEN fresh THEN CAST(floor(epoch(ts)) AS BIGINT)
                                     - CAST(floor(epoch(lt_ts)) AS BIGINT)
                END AS secs_since_touch,
                value
         FROM y ORDER BY purchase_id""",
    "q_asof_join" ->
      """SELECT e.event_id AS error_id, e.user_id,
                p.event_id AS last_purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY error_id""",
    // bidirectional nearest: the same union+window construction
    // evaluated by the second engine (DuckDB has no native nearest
    // join); exact integer-microsecond deltas, prev wins ties
    "q_nearest_join" ->
      """WITH b AS (
           SELECT user_id, ts, 0 AS side, event_id AS purchase_id,
                  CAST(NULL AS BIGINT) AS error_id
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 1, CAST(NULL AS BIGINT), event_id
           FROM events WHERE event_type = 'error'),
         w AS (
           SELECT error_id, user_id, side, epoch_us(ts) AS us,
                  last_value(purchase_id IGNORE NULLS) OVER wb AS prev_pid,
                  last_value(CASE WHEN purchase_id IS NOT NULL
                             THEN epoch_us(ts) END IGNORE NULLS) OVER wb AS prev_us,
                  first_value(purchase_id IGNORE NULLS) OVER wf AS next_pid,
                  first_value(CASE WHEN purchase_id IS NOT NULL
                              THEN epoch_us(ts) END IGNORE NULLS) OVER wf AS next_us
           FROM b
           WINDOW
             wb AS (PARTITION BY user_id
                    ORDER BY ts, side, coalesce(purchase_id, error_id)
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id
                    ORDER BY ts, side, coalesce(purchase_id, error_id)
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT error_id, user_id,
                CASE WHEN prev_pid IS NULL THEN next_pid
                     WHEN next_pid IS NULL THEN prev_pid
                     WHEN us - prev_us <= next_us - us THEN prev_pid
                     ELSE next_pid END AS nearest_purchase_id,
                CASE WHEN prev_pid IS NULL THEN next_us - us
                     WHEN next_pid IS NULL THEN us - prev_us
                     WHEN us - prev_us <= next_us - us THEN us - prev_us
                     ELSE next_us - us END AS delta_us
         FROM w WHERE side = 1 ORDER BY error_id""",
    // weekday from pure epoch-day arithmetic ((d+3) mod 7 + 1,
    // Monday=1) — no engine calendar function whose week-start
    // convention could fork; index in exact micro-units
    "events_seasonality" ->
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                  count(*) AS n
           FROM events GROUP BY 1),
         dw AS (SELECT (d + 3) % 7 + 1 AS dow_iso, n FROM daily),
         p AS (SELECT dow_iso, CAST(count(*) AS BIGINT) AS n_days,
                      CAST(sum(n) AS BIGINT) AS n_events
               FROM dw GROUP BY 1),
         t AS (SELECT CAST(sum(n_days) AS BIGINT) AS dd,
                      CAST(sum(n_events) AS BIGINT) AS ss FROM p)
         SELECT dow_iso, n_days, n_events,
                CAST(round(1e6 * CAST(n_events * dd AS DOUBLE)
                           / CAST(n_days * ss AS DOUBLE), 0) AS BIGINT)
                  AS index_micro
         FROM p CROSS JOIN t ORDER BY dow_iso""",
    // gaps-and-islands: day - row_number() island key over distinct
    // (user, day); one missed day breaks the streak
    "q_islands" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
           FROM events),
         isl AS (SELECT user_id, day,
                        day - row_number() OVER (PARTITION BY user_id
                          ORDER BY day) AS island
                 FROM ud)
         SELECT user_id, min(day) AS start_day, max(day) AS end_day,
                CAST(count(*) AS BIGINT) AS len_days
         FROM isl GROUP BY user_id, island
         ORDER BY user_id, start_day""",
    // STL decomposition of daily revenue: zero-filled spine, centered
    // 7-day integer trend, per-dow seasonal as mean(cents)-mean(trend)
    // (both divisions on non-negative milli sums — the truncate-vs-
    // floor rule), residual by subtraction; inner days only
    "events_stl" ->
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                    FROM spine LEFT JOIN daily d ON d.day = spine.day),
         tr AS (SELECT day, cents,
                  CAST(sum(cents) OVER (ORDER BY day
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                    // 7 AS trend_cents
                FROM filled),
         inn AS (SELECT t.day, t.cents, t.trend_cents, t.day % 7 AS dow
                 FROM tr t CROSS JOIN sp
                 WHERE t.day >= sp.dmin + 3 AND t.day <= sp.dmax - 3),
         seas AS (SELECT dow,
                    CAST((1000 * sum(cents)) // count(*)
                      - (1000 * sum(trend_cents)) // count(*) AS BIGINT)
                      AS seasonal_milli
                  FROM inn GROUP BY 1)
         SELECT i.day, i.cents, i.trend_cents, i.dow, s.seasonal_milli,
                CAST(1000 * i.cents - 1000 * i.trend_cents
                     - s.seasonal_milli AS BIGINT) AS resid_milli
         FROM inn i JOIN seas s ON s.dow = i.dow
         ORDER BY i.day""",
    // pre-scaled integer deviations, HUGEINT lag products (the Spark
    // side's DECIMAL(38,0) twin), one final double division
    "events_acf" -> graft.operators.Events.acfOracleSql(),
    // two-series CCF: same spine/deviation/HUGEINT chain, ONE forced-
    // double normalization num/sqrt(denx·deny) in identical op order
    "events_ccf" -> graft.operators.Events.ccfOracleSql(),
    // no-censoring empirical survival: the K-M product telescopes to
    // an exact integer ratio under a fixed observation window
    "events_survival" -> graft.operators.Events.survivalOracleSql,
    // triple smoothing: the holt shift recurrence + a 7-slot seasonal
    // register carried as a list column through the recursive CTE
    "events_holt_winters" -> graft.operators.Events.holtWintersOracleSql,
    // terminal-state projection: f_{T+h} = l + h·b + s_{T+h−7}
    "events_forecast_hw" -> graft.operators.Events.forecastHwOracleSql,
    // STL residuals vs median + k*MAD — both robust statistics are
    // rank SELECTIONS on (value, day), no division anywhere
    "events_anomaly_stl" ->
      """WITH daily AS (
           SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sp AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         filled AS (SELECT spine.day, coalesce(d.cents, 0) AS cents
                    FROM spine LEFT JOIN daily d ON d.day = spine.day),
         tr AS (SELECT day, cents,
                  CAST(sum(cents) OVER (ORDER BY day
                    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                    // 7 AS trend_cents
                FROM filled),
         inn AS (SELECT t.day, t.cents, t.trend_cents, t.day % 7 AS dow
                 FROM tr t CROSS JOIN sp
                 WHERE t.day >= sp.dmin + 3 AND t.day <= sp.dmax - 3),
         seas AS (SELECT dow,
                    CAST((1000 * sum(cents)) // count(*)
                      - (1000 * sum(trend_cents)) // count(*) AS BIGINT)
                      AS seasonal_milli
                  FROM inn GROUP BY 1),
         r AS (SELECT i.day, i.cents,
                      CAST(1000 * i.cents - 1000 * i.trend_cents
                           - s.seasonal_milli AS BIGINT) AS resid_milli
               FROM inn i JOIN seas s ON s.dow = i.dow),
         mr AS (SELECT (count(*) + 1) // 2 AS mrank FROM r),
         med AS (SELECT resid_milli AS med_milli FROM
                 (SELECT resid_milli,
                         row_number() OVER (ORDER BY resid_milli, day) AS rn
                  FROM r) CROSS JOIN mr WHERE rn = mrank),
         dev AS (SELECT r.day, r.cents, r.resid_milli, med.med_milli,
                        abs(r.resid_milli - med.med_milli) AS adev
                 FROM r CROSS JOIN med),
         mad AS (SELECT adev AS mad_milli FROM
                 (SELECT adev, day,
                         row_number() OVER (ORDER BY adev, day) AS rn
                  FROM dev) CROSS JOIN mr WHERE rn = mrank)
         SELECT d.day, d.cents, d.resid_milli, d.med_milli, mad.mad_milli,
                (abs(d.resid_milli - d.med_milli) > 3 * mad.mad_milli)
                  AS is_anomaly
         FROM dev d CROSS JOIN mad ORDER BY d.day""",
    "q_range_join" ->
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id,
                p.user_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'error') e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts
          AND e.ts <= p.ts + INTERVAL 30 MINUTE
         ORDER BY purchase_id, error_id""",
    // DAU/WAU/MAU by ONE offset-tagged observation fan-out: each
    // distinct (user, day) announces itself to its <=30 future days
    // carrying the offset; per (day, user) keep the smallest offset,
    // then every horizon is a conditional count. Exact epoch-day
    // arithmetic; a dmin..dmax spine guarantees every in-span day a
    // row (quiet days — even inside a >30-day gap — report 0)
    "events_active_users" ->
      """WITH ud AS (
           SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                  user_id
           FROM events),
         sp AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ud),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         obs AS (SELECT day, user_id, min(day - d) AS off
                 FROM (SELECT user_id, d, unnest(range(d, d + 30)) AS day
                       FROM ud)
                 CROSS JOIN sp WHERE day <= sp.dmax GROUP BY day, user_id),
         c AS (SELECT day,
                      CAST(sum(CASE WHEN off < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
                      CAST(sum(CASE WHEN off < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
                      CAST(sum(CASE WHEN off < 30 THEN 1 ELSE 0 END) AS BIGINT) AS mau
               FROM obs GROUP BY day)
         SELECT spine.day, coalesce(c.dau, 0) AS dau,
                coalesce(c.wau, 0) AS wau, coalesce(c.mau, 0) AS mau
         FROM spine LEFT JOIN c ON c.day = spine.day
         ORDER BY spine.day""",
    // sessionize chain + integer-rank quantile selections
    "events_session_stats" ->
      graft.operators.Events.sessionStatsOracleSql,
    "events_cumulative_users" ->
      graft.operators.Events.cumulativeUsersOracleSql,
    // the shift-smoothing recurrence as a native recursive CTE vs the
    // Spark side's single-partition ordered fold over the bounded spine
    "events_holt" -> graft.operators.Events.holtOracleSql,
    // identical integer-day RANGE frames per user
    "events_features" -> graft.operators.Events.featuresOracleSql,
    // the DAU/MAU ratio on the same exact rolling distincts — one
    // final rounded division, zero-MAU days report 0
    "events_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
                  user_id
           FROM events),
         sp AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ud),
         spine AS (SELECT unnest(range(dmin, dmax + 1)) AS day FROM sp),
         obs AS (SELECT day, user_id, min(day - d) AS off
                 FROM (SELECT user_id, d, unnest(range(d, d + 30)) AS day
                       FROM ud)
                 CROSS JOIN sp WHERE day <= sp.dmax GROUP BY day, user_id),
         c AS (SELECT day,
                      CAST(sum(CASE WHEN off < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
                      CAST(sum(CASE WHEN off < 30 THEN 1 ELSE 0 END) AS BIGINT) AS mau
               FROM obs GROUP BY day)
         SELECT spine.day, coalesce(c.dau, 0) AS dau,
                coalesce(c.mau, 0) AS mau,
                CASE WHEN coalesce(c.mau, 0) = 0 THEN 0.0
                     ELSE round(CAST(coalesce(c.dau, 0) AS DOUBLE)
                                / coalesce(c.mau, 0), 6) END AS stickiness
         FROM spine LEFT JOIN c ON c.day = spine.day
         ORDER BY spine.day""",
    // retention's revenue sibling: same first-active-day cohort,
    // exact cents, truncating integer LTV division on both engines
    "events_ltv" ->
      """WITH c AS (SELECT user_id,
                           CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
                    FROM events GROUP BY 1),
         s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
               FROM c GROUP BY 1),
         p AS (SELECT e.user_id,
                      CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
                      CAST(round(e.value * 100, 0) AS BIGINT) AS cents
               FROM events e WHERE e.event_type = 'purchase'),
         r AS (SELECT c.cohort_day,
                      CAST(date_diff('day', c.cohort_day, p.day) AS INT) AS day_offset,
                      CAST(sum(p.cents) AS BIGINT) AS rev_cents,
                      CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers
               FROM p JOIN c ON c.user_id = p.user_id GROUP BY 1, 2),
         cum AS (SELECT cohort_day, day_offset, n_buyers, rev_cents,
                        CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
                          ORDER BY day_offset) AS BIGINT) AS cum_rev_cents
                 FROM r)
         SELECT cum.cohort_day, day_offset, n_buyers, rev_cents,
                cum_rev_cents, s.cohort_size,
                cum_rev_cents // s.cohort_size AS ltv_cents_per_user
         FROM cum JOIN s ON s.cohort_day = cum.cohort_day
         ORDER BY cum.cohort_day, day_offset""",
    // distinct (user, day) + min-day cohort join ≡ the collect_set
    // formulation: exploded sets are distinct by construction
    "events_retention" -> RetentionOracleSql,
    // the SQL-surface twin is gated against the SAME oracle text
    "events_retention_sql" -> RetentionOracleSql,
    // integer ppm division keeps the probability column
    // hash-matchable (DuckDB `//` ≡ Spark `DIV` on non-negatives)
    "events_markov" ->
      """WITH x AS (
           SELECT user_id, event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
           FROM events),
         t AS (SELECT from_type, to_type, count(*) AS n
               FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2),
         s AS (SELECT from_type AS t_from, sum(n) AS tot FROM t GROUP BY 1)
         SELECT t.from_type, t.to_type, t.n,
                CAST((t.n * 1000000) // s.tot AS BIGINT) AS p_ppm
         FROM t JOIN s ON t.from_type = s.t_from
         ORDER BY from_type, to_type""",
    // ordered string_agg ≡ the sorted-struct collect: both assemble
    // the first-3 path in (ts, event_id) order
    "events_paths" ->
      """WITH r AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (SELECT user_id,
                      string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users
         FROM p GROUP BY path
         ORDER BY n_users DESC, path LIMIT 20""",
    // fixed scoring bands (not data-driven ntiles) keep the operator
    // map-shaped; exact cents and whole-day diffs on both engines
    "events_rfm" ->
      """WITH mx AS (SELECT date_trunc('day', max(ts)) AS max_day FROM events),
         p AS (SELECT user_id, date_trunc('day', max(ts)) AS last_day,
                      count(*) AS f,
                      CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                           AS BIGINT) AS m_cents
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         s AS (SELECT user_id,
                      CAST(date_diff('day', last_day, max_day) AS BIGINT)
                        AS r_days,
                      f, m_cents
               FROM p CROSS JOIN mx)
         SELECT user_id, r_days, f, m_cents,
                CASE WHEN r_days <= 0 THEN 5 WHEN r_days <= 2 THEN 4
                     WHEN r_days <= 5 THEN 3 WHEN r_days <= 10 THEN 2
                     ELSE 1 END AS r_score,
                CASE WHEN f >= 20 THEN 5 WHEN f >= 15 THEN 4
                     WHEN f >= 10 THEN 3 WHEN f >= 5 THEN 2
                     ELSE 1 END AS f_score,
                CASE WHEN m_cents >= 100000 THEN 5 WHEN m_cents >= 75000 THEN 4
                     WHEN m_cents >= 50000 THEN 3 WHEN m_cents >= 25000 THEN 2
                     ELSE 1 END AS m_score,
                CAST((CASE WHEN r_days <= 0 THEN 5 WHEN r_days <= 2 THEN 4
                           WHEN r_days <= 5 THEN 3 WHEN r_days <= 10 THEN 2
                           ELSE 1 END) * 100
                     + (CASE WHEN f >= 20 THEN 5 WHEN f >= 15 THEN 4
                             WHEN f >= 10 THEN 3 WHEN f >= 5 THEN 2
                             ELSE 1 END) * 10
                     + (CASE WHEN m_cents >= 100000 THEN 5
                             WHEN m_cents >= 75000 THEN 4
                             WHEN m_cents >= 50000 THEN 3
                             WHEN m_cents >= 25000 THEN 2
                             ELSE 1 END) AS INT) AS rfm
         FROM s ORDER BY user_id""",
    // denominators cleared (D_i = n*S_i - i*S_n) so the CUSUM argmax
    // and truncating milli-means are exact integers on both engines
    "events_changepoint" ->
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS c
           FROM events GROUP BY 1, 2),
         scored AS (
           SELECT event_type, day, c,
                  row_number() OVER w AS i,
                  CAST(sum(c) OVER w AS BIGINT) AS s,
                  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                  CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS sn
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         d AS (SELECT *, n * s - i * sn AS dd FROM scored)
         SELECT event_type, day AS split_day, n AS n_days,
                abs(dd) AS dmax,
                CAST((1000 * s) // i AS BIGINT) AS mean_before_milli,
                CASE WHEN i = n THEN NULL
                     ELSE CAST((1000 * (sn - s)) // (n - i) AS BIGINT)
                END AS mean_after_milli
         FROM d
         QUALIFY row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(dd) DESC, day) = 1
         ORDER BY event_type""",
    "q_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS spent_cents
           FROM events GROUP BY 1, 2),
         cal AS (SELECT user_id AS cal_user,
                        unnest(generate_series(min(day), max(day),
                                               INTERVAL 1 DAY)) AS day
                 FROM daily GROUP BY user_id)
         SELECT c.cal_user AS user_id, c.day,
                coalesce(d.n_events, 0) AS n_events,
                coalesce(d.spent_cents, 0) / 100.0 AS spent,
                (last_value(d.spent_cents IGNORE NULLS)
                   OVER (PARTITION BY c.cal_user ORDER BY c.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  / 100.0 AS carried
         FROM cal c LEFT JOIN daily d
           ON c.cal_user = d.user_id AND c.day = d.day
         ORDER BY 1, 2""",
    "profile_numeric" ->
      """WITH m AS (
           SELECT 'l_quantity' AS col_name, l_quantity AS value FROM lineitem
           UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL SELECT 'l_discount', l_discount FROM lineitem
           UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
         SELECT col_name, count(value) AS n,
                count(DISTINCT value) AS n_distinct,
                round(min(value), 4) AS min_value,
                round(max(value), 4) AS max_value,
                round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                      / 100.0 / count(value), 6) AS mean
         FROM m GROUP BY col_name ORDER BY col_name""",
    "graph_pagerank" -> pagerankSql,
    "graph_pagerank_weighted" -> pagerankWeightedSql,
    "graph_hits" -> Graph.hitsOracleSql(),
    // SAME oracle text as graph_pagerank: 3 cold rounds + a 2-round
    // warm resume from the full round-3 vector must be bit-identical
    // to 5 straight rounds — the hash match IS the resume proof
    "graph_pagerank_resume" -> pagerankSql,
    "graph_sssp" -> graft.operators.Graph.ssspOracleSql(),
    // mutual-top-m sparsification: same co-supply CTE as the triangle
    // family, (w desc, id) rank rule on both sides
    "graph_backbone" -> graft.operators.Graph.backboneOracleSql(),
    // synchronous support peel unrolled (extra rounds idempotent);
    // final support recomputed on the surviving subgraph
    "graph_ktruss" -> graft.operators.Graph.ktrussOracleSql(),
    "graph_coreness" -> graft.operators.Graph.corenessOracleSql(),
    // id-ordered 3-way self-join: orientation in the Spark plan only
    // changes where each triangle is FOUND, never the per-node census
    "graph_triangles" ->
      s"""WITH ${Graph.coOrderedCtes("e", "l_suppkey", 5)},
         t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1 JOIN e e2 ON e1.v = e2.u
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT a AS suppkey FROM t UNION ALL
               SELECT b FROM t UNION ALL SELECT c FROM t)
         SELECT suppkey, count(*) AS n_tri FROM n
         GROUP BY suppkey ORDER BY suppkey""",
    // triangles census + degrees, wedge-normalized in exact ppm;
    // deg >= 2 rows only, triangle-free nodes report 0
    "graph_clustering" ->
      s"""WITH ${Graph.coOrderedCtes("e", "l_suppkey", 5)},
         t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1 JOIN e e2 ON e1.v = e2.u
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         n AS (SELECT a AS suppkey FROM t UNION ALL
               SELECT b FROM t UNION ALL SELECT c FROM t),
         tri AS (SELECT suppkey, CAST(count(*) AS BIGINT) AS n_tri
                 FROM n GROUP BY suppkey),
         d AS (SELECT nn, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT u AS nn FROM e UNION ALL SELECT v FROM e)
               GROUP BY nn)
         SELECT d.nn AS suppkey, d.deg,
                coalesce(tri.n_tri, 0) AS n_tri,
                CAST((2000000 * coalesce(tri.n_tri, 0))
                     // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
         FROM d LEFT JOIN tri ON tri.suppkey = d.nn
         WHERE d.deg >= 2 ORDER BY suppkey""",
    // part co-purchase edges (co-ordered >= 2); wedge pairs from the
    // id-ordered neighbor self-join (≡ the Spark side's sorted-array
    // pair generation), per-wedge truncating 10^6 // deg(z) for
    // resource allocation, anti-join drops existing edges, top-100
    // by (jaccard, cn, u, v)
    "graph_linkpred" ->
      s"""WITH ${Graph.coOrderedCtes("e", "l_partkey", 2)},
         nb AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
         d AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY n),
         w AS (SELECT a.m AS u, b.m AS v, a.n AS z
               FROM nb a JOIN nb b ON a.n = b.n AND a.m < b.m),
         s AS (SELECT w.u, w.v, CAST(count(*) AS BIGINT) AS cn,
                      CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_ppm
               FROM w JOIN d ON d.n = w.z GROUP BY 1, 2),
         c AS (SELECT s.* FROM s LEFT JOIN e
                 ON e.u = s.u AND e.v = s.v WHERE e.u IS NULL)
         SELECT c.u, c.v, c.cn,
                CAST(1000000 * c.cn // (du.deg + dv.deg - c.cn) AS BIGINT)
                  AS jac_ppm,
                c.ra_ppm
         FROM c JOIN d du ON du.n = c.u JOIN d dv ON dv.n = c.v
         ORDER BY jac_ppm DESC, cn DESC, u, v LIMIT 100""",
    // same thresholded co-purchase pairs; truncating integer ppm for
    // support/confidence, one rounded double for lift
    "basket_rules" ->
      s"""WITH ${Graph.coOrderedCtes("e", "l_partkey", 2)},
         pc AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS np
                FROM sl GROUP BY 1),
         nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
                FROM lineitem),
         d AS (SELECT u AS ant, v AS cons, w FROM e
               UNION ALL SELECT v, u, w FROM e)
         SELECT d.ant, d.cons, d.w AS n_both, pa.np AS n_ant,
                pb.np AS n_cons, nb.n AS n_baskets,
                CAST(1000000 * d.w // nb.n AS BIGINT) AS support_ppm,
                CAST(1000000 * d.w // pa.np AS BIGINT) AS conf_ppm,
                round(CAST(d.w AS DOUBLE) * CAST(nb.n AS DOUBLE)
                      / (CAST(pa.np AS DOUBLE) * CAST(pb.np AS DOUBLE)), 6)
                  AS lift
         FROM d JOIN pc pa ON pa.p = d.ant
                JOIN pc pb ON pb.p = d.cons CROSS JOIN nb
         ORDER BY ant, cons""",
    // same co-supply edges + degree join, exact BIGINT moment sums
    // (DuckDB's HUGEINT sums cast back), and the identical one-shot
    // double Pearson expression — NULL on a variance-free graph
    "graph_assortativity" ->
      s"""WITH ${Graph.coOrderedCtes("e", "l_suppkey", 5)},
         d AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
               GROUP BY n),
         j AS (SELECT du.deg AS du, dv.deg AS dv
               FROM e JOIN d du ON du.n = e.u JOIN d dv ON dv.n = e.v),
         s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                      CAST(sum(du + dv) AS BIGINT) AS s_deg,
                      CAST(sum(du * du + dv * dv) AS BIGINT) AS s_deg2,
                      CAST(sum(du * dv * 2) AS BIGINT) AS s_degprod
               FROM j)
         SELECT m * 2 AS n, s_deg, s_deg2, s_degprod,
                round(CASE WHEN CAST(m * 2 AS DOUBLE) * CAST(s_deg2 AS DOUBLE)
                                - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE) = 0
                           THEN NULL
                           ELSE (CAST(m * 2 AS DOUBLE) * CAST(s_degprod AS DOUBLE)
                                 - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE))
                                / (CAST(m * 2 AS DOUBLE) * CAST(s_deg2 AS DOUBLE)
                                   - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE)) END,
                      6) AS assortativity
         FROM s""",
    // same co-supply edge derivation as graph_triangles, then a
    // recursive-CTE transitive closure labels each supplier with the
    // min reachable suppkey — the oracle for the generic min-label
    // propagation loop on its second input (reach is bounded by
    // |component|² rows, fine at the gate SF)
    "graph_components" ->
      s"""WITH RECURSIVE ${Graph.coOrderedCtes("e0", "l_suppkey", 5)},
         edges AS (SELECT u AS a, v AS b FROM e0
                   UNION SELECT v, u FROM e0),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS suppkey, least(a, min(b)) AS component
           FROM reach GROUP BY a)
         SELECT suppkey, component FROM comp ORDER BY suppkey""",
    // same transitive closure as graph_components, weights kept into
    // the per-community aggregate; integer density in ppm
    // the τ=5 partition scored on the τ=3 graph — HUGEINT numerator
    // mirrors the Spark DECIMAL(38,0), singleton coalesce identical
    "graph_modularity" -> graft.operators.Graph.modularityOracleSql(),
    "graph_degree_dist" -> graft.operators.Graph.degreeDistOracleSql(),
    // the SQL twin is gated against the VERBATIM same oracle text
    "graph_degree_dist_sql" -> graft.operators.Graph.degreeDistOracleSql(),
    "text_rake" -> graft.operators.TextOps.rakeOracleSql(),
    "graph_communities" ->
      s"""WITH RECURSIVE ${Graph.coOrderedCtes("e0", "l_suppkey", 5)},
         edges AS (SELECT u AS a, v AS b FROM e0
                   UNION SELECT v, u FROM e0),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS node, least(a, min(b)) AS component
           FROM reach GROUP BY a),
         ns AS (SELECT component, count(*) AS n_members
                FROM comp GROUP BY 1),
         es AS (SELECT c.component, count(*) AS n_edges,
                       CAST(sum(e0.w) AS BIGINT) AS internal_weight
                FROM e0 JOIN comp c ON e0.u = c.node GROUP BY 1)
         SELECT ns.component, ns.n_members, es.n_edges,
                es.internal_weight,
                CAST((2000000 * es.n_edges)
                     // (ns.n_members * (ns.n_members - 1)) AS BIGINT)
                  AS density_ppm
         FROM ns JOIN es ON ns.component = es.component
         ORDER BY ns.component""",
    // the same closure replayed per threshold level over one
    // materialized base edge set (generated, so sweep and oracle
    // share the threshold list by construction)
    "graph_communities_sweep" ->
      graft.operators.Graph.communitySweepOracleSql(),
    // the PLAIN semi-join: a hash match proves the bloom prefilter is
    // value-invisible (no false negatives; false positives removed by
    // the exact join)
    "q_bloom_join" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_acctbal > 9500)
         ORDER BY o_orderkey""",
    "q_funnel" ->
      """WITH v AS (SELECT user_id, event_id, ts FROM events
                    WHERE event_type = 'view'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         vc AS (SELECT v.user_id, v.event_id, min(c.ts) AS click_ts
                FROM v JOIN c ON c.user_id = v.user_id
                  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
                GROUP BY v.user_id, v.event_id),
         vcp AS (SELECT vc.user_id, vc.event_id
                 FROM vc JOIN p ON p.user_id = vc.user_id
                   AND p.ts > vc.click_ts
                   AND p.ts <= vc.click_ts + INTERVAL 30 MINUTE
                 GROUP BY vc.user_id, vc.event_id),
         nv AS (SELECT user_id, count(*) AS n_views FROM v GROUP BY user_id),
         nc AS (SELECT user_id, count(*) AS n_clicked FROM vc GROUP BY user_id),
         nf AS (SELECT user_id, count(*) AS n_full FROM vcp GROUP BY user_id)
         SELECT nv.user_id, nv.n_views,
                coalesce(nc.n_clicked, 0) AS n_clicked,
                coalesce(nf.n_full, 0) AS n_full
         FROM nv LEFT JOIN nc ON nc.user_id = nv.user_id
                 LEFT JOIN nf ON nf.user_id = nv.user_id
         ORDER BY nv.user_id""",
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY h""",
    // the SQL-surface twin is gated against the SAME oracle text as
    // the DataFrame operator — twin drift hash-fails
    "dedup_exact_sql" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY h""",
    // NFC + utf8proc-lower (the normalize_text twin) + ASCII \s+
    // collapse, then the same exact grouping
    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)),
                '\s+', ' ', 'g'), ' ')) AS h,
                min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents
         GROUP BY 1 ORDER BY h""",
    "dedup_ngram_jaccard" -> NgramJaccardPairsSql,
    // EXACT all-pairs ground truth at τ=0.5 — the Spark side only
    // ever sees prefix-filtered candidates (rarest-first global
    // order, first |s|−⌈τ|s|⌉+1 shingles), so the hash match IS the
    // prefix-bound completeness proof
    "dedup_prefix_filter" ->
      s"""WITH ${Dedup.interPairsCtes}
         SELECT d1, d2, inter,
                round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = d1
         JOIN sizes s2 ON s2.doc_id = d2
         WHERE round(inter * 1.0 / (s1.n + s2.n - inter), 6) >= 0.5
         ORDER BY d1, d2""",
    // Recursive-CTE transitive closure over the same pair set the
    // Spark side derives (tiny clusters → closure stays small).
    "dedup_components" -> dedupComponentsSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    // SAME oracle text as dedup_components: the resume query's
    // warm-started propagation must land on the identical fixed point
    // — the hash match IS the resume-correctness proof
    "dedup_components_resume" -> dedupComponentsSql,
    // Naive all-pairs at the dictionary level IS the ground truth:
    // the Spark side only ever sees FastSS deletion-variant-blocked
    // candidates, so the hash match proves the blocking complete
    // (the q_salted_join contract). Dictionary-bounded: 64 distinct
    // part names at every SF.
    "er_fuzzy_names" -> FuzzyNamesSql,
    // SAME ground-truth oracle text: the q-gram-blocked surface must
    // land on the identical pair set, so the hash match proves the
    // positional count filter (+ short-name fallback) complete — the
    // dedup_components_resume shared-oracle contract
    "er_qgram_names" -> FuzzyNamesSql,
    // τ bank over the verified pair set, candidates once at τ=max;
    // the naive all-pairs oracle doubles as the completeness proof
    "er_tau_sweep" -> graft.operators.Linkage.tauSweepOracleSql,
    "er_canonical" -> graft.operators.Linkage.canonicalOracleSql,
    // same postings-hash pair derivation as dedup_ngram_jaccard; only
    // the scoring differs (both per-side containments, max-gated)
    "dedup_containment" ->
      s"""WITH ${Dedup.interPairsCtes}
         SELECT d1, d2, inter,
                round(inter * 1.0 / s1.n, 6) AS cont_d1_in_d2,
                round(inter * 1.0 / s2.n, 6) AS cont_d2_in_d1
         FROM pairs
         JOIN sizes s1 ON s1.doc_id = d1
         JOIN sizes s2 ON s2.doc_id = d2
         WHERE greatest(round(inter * 1.0 / s1.n, 6),
                        round(inter * 1.0 / s2.n, 6)) >= 0.6
         ORDER BY d1, d2""",
    // same content-defined anchors (base-31 polynomial of the 4-gram
    // at each position, mod 17 = 0 — coprime modulus, see
    // Dedup.substringSpans; first term widened to BIGINT so astral
    // code points can't overflow INT32) and the same 64-char window
    // hash
    "dedup_substring" ->
      """WITH docs AS (SELECT doc_id, text, length(text) AS len,
                       [ascii(x) FOR x IN string_split(text, '')] AS codes
                       FROM documents WHERE length(text) >= 64),
         a AS (SELECT doc_id, CAST(p AS INT) AS p, text
               FROM docs, unnest(range(1, len - 64 + 2)) AS t(p)
               WHERE (CAST(codes[CAST(p AS INT)] AS BIGINT) * 29791
                    + codes[CAST(p AS INT) + 1] * 961
                    + codes[CAST(p AS INT) + 2] * 31
                    + codes[CAST(p AS INT) + 3]) % 17 = 0),
         w AS (SELECT doc_id, md5(substring(text, p, 64)) AS h FROM a)
         SELECT h, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_id
         FROM w GROUP BY h HAVING count(DISTINCT doc_id) > 1
         ORDER BY h""",
    // the k-means CTE chain is the SAME statement the emb_kmeans
    // oracle uses — the clustering trajectory has one source of truth
    "dedup_semantic" -> {
      s"""WITH ${graft.operators.Cluster.kmeansAssignCtes()},
         ec AS (SELECT em.vec_id, em.embedding, a.cid
                FROM embeddings em JOIN a3 a ON em.vec_id = a.vec_id)
         SELECT a.vec_id AS v1, b.vec_id AS v2,
                CAST(a.cid AS BIGINT) AS cluster,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM ec a JOIN ec b
           ON a.cid = b.cid AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
         ORDER BY v1, v2"""
    },
    "dedup_embedding" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
         ORDER BY v1, v2""",
    // threshold-tuning readout: one pair pass at the bank's lowest
    // bound, tighter thresholds sliced row-locally; absent → 0
    "dedup_sweep" -> Dedup.sweepOracleSql,
    "dedup_sweep_jaccard" -> Dedup.sweepJaccardOracleSql,
    "dedup_sweep_lsh" -> Dedup.sweepLshOracleSql(),
    "text_langid" -> {
      val lexRows = graft.operators.TextOps.Profiles.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }
        .mkString(", ")
      s"""WITH lex(lang, word) AS (SELECT * FROM (VALUES $lexRows) AS v(lang, word)),
         toks AS (SELECT doc_id,
                         unnest(${Shingles.tokensSql("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')")}) AS tok
                  FROM documents),
         n AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         hits AS (SELECT t.doc_id, l.lang, count(*) AS h
                  FROM toks t JOIN lex l ON t.tok = l.word
                  GROUP BY t.doc_id, l.lang),
         langs AS (SELECT DISTINCT lang FROM lex),
         scored AS (
           SELECT d.doc_id, langs.lang,
                  coalesce(h.h, 0) / CAST(n.n AS DOUBLE) AS score
           FROM (SELECT doc_id FROM documents) d
           CROSS JOIN langs
           JOIN n ON n.doc_id = d.doc_id
           LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = langs.lang),
         ranked AS (
           SELECT doc_id, lang, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, lang DESC) AS rn
           FROM scored)
         SELECT doc_id, lang AS pred_lang, round(score, 6) AS score
         FROM ranked WHERE rn = 1 ORDER BY doc_id"""
    },
    "ann_bruteforce" -> BruteforceTopkSql,
    "ann_bruteforce_sql" -> BruteforceTopkSql,
    "ann_range" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                      WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.qe AS DOUBLE[])), 6) AS cosine
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.qid)
         SELECT qid, vec_id, cosine FROM scored
         WHERE cosine >= 0.15 ORDER BY qid, vec_id""",
    // int8 quantization + 10× margin + exact float rerank provably
    // recovers the exact top-5 on this corpus (AnnSpec measures
    // recall@5 = 1.0; the margin dwarfs the ~1e-2 quantization noise
    // on cosine) — so the brute-force top-k IS its oracle.
    "ann_quantized" -> BruteforceTopkSql,
    // exact MIPS: same scan, dot-product kernel — both engines sum
    // the DOUBLE-cast float products in index order
    "ann_mips" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe),
                        6) AS dot
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT qid, vec_id, dot,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY dot DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, dot FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    // exact filtered search: the label predicate applies BEFORE
    // scoring on both sides, so top-k never starves below k
    "ann_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(q.qe AS DOUBLE[])), 6) AS cosine
           FROM embeddings e JOIN q ON e.label = q.qlabel),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    // full-pipeline PQ oracle (not the bruteforce shortcut): the
    // approximate path is integer-exact end to end, so codes, ADC
    // ordering, and the rerank all hash-match by construction rather
    // than by recall luck
    "ann_pq" -> operators.Ann.pqOracleSql,
    // the trained twin comes from the SAME generator at PqTrainRounds,
    // so the two oracles replay one codebook-trajectory definition
    "ann_pq_trained" -> operators.Ann.pqTrainedOracleSql,
    // two-level IVF-PQ: coarse cosine cells + integer residual codes,
    // probed-cell ADC, exact rerank — all integer-exact end to end
    "ann_ivf_pq" -> operators.Ann.ivfPqOracleSql,
    // IVF is pure SQL end-to-end: deterministic codebook (the IvfK
    // lowest-portable-hash vectors), nearest-cell argmax (csim desc,
    // cent_id asc — the same tie-break as the Spark argmax over the
    // broadcast codebook), probes, exact cosine top-5 over the cells.
    "ann_ivf" ->
      s"""WITH $ivfCtes
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    // the ivf chain with the label predicate INSIDE the probed cells
    "ann_filtered_ivf" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
                    FROM embeddings),
         c AS (${operators.Ann.codebookCteSql("e")}),
         cells AS (
           SELECT vec_id, emb, label, cell FROM (
             SELECT e.vec_id, e.emb, e.label, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                               c.cent_id) AS rn
             FROM e CROSS JOIN c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, emb AS qe, label AS qlabel
               FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qe, qlabel, cell FROM (
             SELECT q.qid, q.qe, q.qlabel, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                               c.cent_id) AS rn
             FROM q CROSS JOIN c) WHERE rn <= 8),
         scored AS (
           SELECT DISTINCT p.qid, s.vec_id,
                  round(list_cosine_similarity(s.emb, p.qe), 6) AS cosine
           FROM cells s JOIN probes p ON p.cell = s.cell
           WHERE s.label = p.qlabel),
         ranked AS (
           SELECT qid, vec_id, cosine,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS rank
           FROM scored)
         SELECT qid, rank, vec_id, cosine FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    // the harness over the IVF ranking: same truth + metrics tail
    "ann_eval_ivf" -> annEvalIvfSql,
    // recall@k bank over ONE joined ranking frame (k = 1..5)
    "ann_sweep_k" -> annSweepKSql,
    // the same recall@k bank over the serving-tier IVF ranking
    "ann_sweep_k_ivf" -> annSweepKIvfSql,
    "ann_sweep_nprobe" -> Ann.sweepNprobeOracleSql,
    // generated unrolled synchronous peel (idempotent past stability)
    "graph_kcore" -> graft.operators.Graph.kcoreOracleSql(),
    "graph_kcore_weighted" -> graft.operators.Graph.kcoreWeightedOracleSql(),
    // engine-free weekday: day = epoch_s // 86400, dow = day % 7
    // (0 = Thursday) — no locale/week-start convention to diverge
    "events_forecast" ->
      """WITH d AS (SELECT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT event_type, day % 7 AS dow, count(*) AS n_days,
                CAST(sum(cnt) AS BIGINT) AS total_events,
                CAST((1000 * sum(cnt)) // count(*) AS BIGINT) AS forecast_milli
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""",
    // backtest: trailing-week holdout, fit on the rest, per-type MAE
    // in exact milli-units; only the non-negative abs total is ever
    // divided (div ≡ // only on non-negatives), signed bias stays a
    // total
    "events_forecast_eval" ->
      """WITH d AS (SELECT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         g AS (SELECT max(day) - 6 AS s FROM d),
         f AS (SELECT event_type, day % 7 AS dow,
                      CAST((1000 * sum(cnt)) // count(*) AS BIGINT) AS forecast_milli
               FROM d, g WHERE day < s GROUP BY 1, 2),
         t AS (SELECT d.event_type, d.cnt, f.forecast_milli
               FROM d, g, f
               WHERE d.day >= g.s AND f.event_type = d.event_type
                 AND f.dow = d.day % 7)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_test_days,
                CAST(sum(abs(1000 * cnt - forecast_milli)) AS BIGINT)
                  AS total_abs_err_milli,
                CAST(sum(abs(1000 * cnt - forecast_milli)) AS BIGINT)
                  // count(*) AS mae_milli,
                CAST(sum(1000 * cnt - forecast_milli) AS BIGINT)
                  AS total_err_milli
         FROM t GROUP BY event_type ORDER BY event_type""",
    // gap-filled twin: absent days count as zeros; days ≡ r (mod 7)
    // in [a, b] via the closed form (b−r)//7 − (a−r+6)//7 + 1 — no
    // calendar explosion on either engine
    "events_forecast_filled" ->
      """WITH d AS (SELECT event_type,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, min(day) AS a, max(day) AS b
               FROM d GROUP BY 1),
         r AS (SELECT unnest(range(7)) AS dow),
         pd AS (SELECT s.event_type, r.dow,
                  (s.b - r.dow) // 7 - (s.a - r.dow + 6) // 7 + 1
                    AS n_days_span
                FROM s CROSS JOIN r),
         agg AS (SELECT event_type, day % 7 AS dow,
                   count(*) AS n_days_present,
                   CAST(sum(cnt) AS BIGINT) AS total_events
                 FROM d GROUP BY 1, 2)
         SELECT pd.event_type, pd.dow,
                coalesce(agg.n_days_present, 0) AS n_days_present,
                coalesce(agg.total_events, 0) AS total_events,
                pd.n_days_span,
                CAST((1000 * coalesce(agg.total_events, 0)) // pd.n_days_span
                  AS BIGINT) AS forecast_milli
         FROM pd LEFT JOIN agg
           ON pd.event_type = agg.event_type AND pd.dow = agg.dow
         WHERE pd.n_days_span > 0
         ORDER BY 1, 2""",
    "q_set_ops" ->
      """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1997),
         y98 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1998)
         SELECT o_custkey, 'retained' AS cohort
         FROM (SELECT o_custkey FROM y97 INTERSECT
               SELECT o_custkey FROM y98)
         UNION ALL
         SELECT o_custkey, 'churned'
         FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y98)
         UNION ALL
         SELECT o_custkey, 'acquired'
         FROM (SELECT o_custkey FROM y98 EXCEPT SELECT o_custkey FROM y97)
         ORDER BY cohort, o_custkey""",
    // the naive O(depth) recursive walk vs the Spark side's
    // O(log depth) pointer doubling — the hash match proves the
    // doubled composition lands on the identical closure
    "q_hierarchy" -> graft.operators.Hierarchy.hierarchyOracleSql,
    "q_hierarchy_rollup" ->
      graft.operators.Hierarchy.hierarchyRollupOracleSql,
    // quadratic NOT-EXISTS dominance is fine as an oracle at sf0.01;
    // the Spark side is the two-phase local-prune skyline
    "q_skyline" ->
      """WITH agg AS (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       // count(*) AS BIGINT) AS avg_cents,
                  count(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT o_custkey, avg_cents, n_orders FROM agg a
         WHERE NOT EXISTS (
           SELECT 1 FROM agg b
           WHERE b.avg_cents >= a.avg_cents AND b.n_orders >= a.n_orders
             AND (b.avg_cents > a.avg_cents OR b.n_orders > a.n_orders))
         ORDER BY avg_cents DESC, n_orders DESC, o_custkey""",
    // generated unrolled-CTE Lloyd's rounds (the PageRank trick):
    // same quantization, seeds, and truncating-integer updates
    "emb_kmeans" -> graft.operators.Cluster.kmeansOracleSql(),
    // per-cluster simplified silhouette in integer micro-units over
    // the same unrolled Lloyd's chain (d3 already holds all n×k
    // final-round distances)
    "emb_kmeans_eval" -> graft.operators.Cluster.kmeansEvalOracleSql(),
    // power iteration on the second-moment matrix: exact-integer
    // matvec + L-infinity renormalize rounds unrolled in HUGEINT
    "emb_pca" -> graft.operators.Cluster.embPcaOracleSql(),
    // resume(2 cold + 2 warm) is BIT-identical to the straight 3-round
    // run (the warm phase's first assignment replays the cold run's
    // last), so the oracle IS the cold query's generated unroll at the
    // combined round count — the strongest possible resume statement
    "emb_kmeans_resume" -> graft.operators.Cluster.kmeansOracleSql(8, 3),
    // same CTE chain + DOUBLE quota arithmetic + bottom-m-by-hash
    "emb_coreset" -> graft.operators.Cluster.coresetOracleSql(),
    // Per-(label, dim) means over the embedding corpus; DOUBLE[] cast
    // on both sides so the accumulation arithmetic matches.
    "emb_centroids" ->
      """SELECT label, i - 1 AS dim, count(*) AS n,
                round(avg(CAST(embedding AS DOUBLE[])[i]), 6) AS mean_v
         FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
         GROUP BY label, dim ORDER BY label, dim""",
    // Random-hyperplane LSH with the hyperplanes inlined as DOUBLE
    // literals (the exact double values of Ann.planes' floats): same
    // sign bits, same buckets, same Hamming-≤2 multiprobe ring, same
    // candidate set, exact cosine top-5.
    "ann_lsh" -> annLshSql,
    // recall/MRR readout of ann_lsh vs the brute-force ground truth:
    // the two proven CTE chains composed; metrics are id-join
    // arithmetic with the reciprocal rank micro-quantized (exact
    // BIGINT summary sum)
    "ann_eval" -> annEvalSql,
    // Bucketed KNN self-join: deterministic given the planes, so the
    // bucket rule is the semantics and the oracle checks it exactly.
    "ann_knn_join" -> annKnnJoinSql,
    // MinHash-LSH over the portable hash family: identical 32-entry
    // signatures (md5-60bit base, affine salts over 2³¹−1, literal
    // parameters below), identical "band#v_v_v_v" bucket keys, exact
    // Jaccard verify on candidates.
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_minhash_lsh_sql" -> minhashLshSql,
    "dedup_incremental" -> dedupIncrementalSql,
    // which columns move between versions — one full-outer join, one
    // stacked conditional aggregate
    "snapshot_column_churn" ->
      graft.operators.Snapshot.columnChurnOracleSql,
    // both snapshots rebuilt from the same portable-hash carve the
    // Spark side uses, so the diff is value-identical
    "snapshot_diff" ->
      s"""WITH c AS (
           SELECT c_custkey,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
                  ${PortableHash.h60Sql("CAST(c_custkey AS VARCHAR)")} % 20 AS hv
           FROM customer),
         base AS (SELECT c_custkey AS b_key, cents AS old_cents
                  FROM c WHERE hv != 0),
         curr AS (SELECT c_custkey AS n_key,
                         CASE WHEN hv % 7 = 3 THEN cents + 100
                              ELSE cents END AS new_cents
                  FROM c WHERE hv != 1)
         SELECT coalesce(b_key, n_key) AS c_custkey,
                CASE WHEN b_key IS NULL THEN 'insert'
                     WHEN n_key IS NULL THEN 'delete'
                     WHEN old_cents != new_cents THEN 'update' END AS change,
                old_cents, new_cents
         FROM base FULL OUTER JOIN curr ON b_key = n_key
         WHERE (b_key IS NULL OR n_key IS NULL OR old_cents != new_cents)
         ORDER BY c_custkey""",
    // same carved versions, same gaps-and-islands fold: lag flags a
    // new interval on first-row / version-gap / value-change, the
    // running flag sum is the island id, min/max version per island
    // become the validity stamps
    "snapshot_scd2" ->
      s"""WITH c AS (
           SELECT c_custkey,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
                  ${PortableHash.h60Sql("CAST(c_custkey AS VARCHAR)")} % 20 AS hv
           FROM customer),
         rows_ AS (
           SELECT c_custkey, 1 AS ver, cents FROM c WHERE hv != 0
           UNION ALL
           SELECT c_custkey, 2,
                  cents + CASE WHEN hv % 7 = 3 THEN 100 ELSE 0 END
           FROM c WHERE hv != 1 AND hv != 5
           UNION ALL
           SELECT c_custkey, 3,
                  cents + CASE WHEN hv % 7 = 3 THEN 100 ELSE 0 END
                        + CASE WHEN hv % 5 = 4 THEN 50 ELSE 0 END
           FROM c WHERE hv != 1 AND hv != 2),
         f AS (SELECT c_custkey, ver, cents,
                      CASE WHEN lag(ver) OVER w IS NULL
                             OR ver != lag(ver) OVER w + 1
                             OR cents != lag(cents) OVER w
                           THEN 1 ELSE 0 END AS newint
               FROM rows_
               WINDOW w AS (PARTITION BY c_custkey ORDER BY ver)),
         isl AS (SELECT c_custkey, ver, cents,
                        sum(newint) OVER (PARTITION BY c_custkey
                          ORDER BY ver ROWS UNBOUNDED PRECEDING) AS isl
                 FROM f),
         runs AS (SELECT c_custkey, isl,
                         CAST(min(cents) AS BIGINT) AS cents,
                         CAST(min(ver) AS BIGINT) AS valid_from,
                         max(ver) AS last_ver
                  FROM isl GROUP BY 1, 2)
         SELECT c_custkey, cents, valid_from,
                CASE WHEN last_ver = 3 THEN NULL
                     ELSE CAST(last_ver + 1 AS BIGINT) END AS valid_to,
                CAST(last_ver = 3 AS INT) AS is_current
         FROM runs ORDER BY c_custkey, valid_from""",
    // time-travel round-trip contract: Spark reconstructs version 2
    // from the SCD-2 validity intervals; the oracle carves version 2
    // directly from the base — match ⇔ reconstruct ≡ snapshot_v
    "snapshot_asof" -> Snapshot.asOfOracleSql,
    // merge round-trip: the oracle carves the post-merge snapshot
    // directly from the base, so the hash match proves
    // apply(base, diff(base, v2)) == v2
    "snapshot_apply" -> Snapshot.applyOracleSql,
    // IVM contract probed from the other side: Spark folds the CDC
    // delta into yesterday's aggregate; the oracle recomputes the
    // aggregate from the NEW snapshot directly. A hash match means
    // fold(old_agg, delta) == agg(new) — the incremental refresh is
    // indistinguishable from a full rescan.
    "snapshot_agg_delta" ->
      s"""WITH c AS (
           SELECT c_custkey, c_nationkey,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
                  ${PortableHash.h60Sql("CAST(c_custkey AS VARCHAR)")} % 20 AS hv
           FROM customer),
         curr AS (SELECT c_nationkey,
                         CASE WHEN hv % 7 = 3 THEN cents + 100
                              ELSE cents END AS new_cents
                  FROM c WHERE hv != 1)
         SELECT c_nationkey, count(*) AS n_cust,
                CAST(sum(new_cents) AS BIGINT) AS sum_cents
         FROM curr GROUP BY c_nationkey ORDER BY c_nationkey""",
    // SimHash over the portable 60-bit base hash: bit-identical
    // signatures (votes per bit, sign-packed), 4×16-bit chunk
    // buckets, bit_count(xor) Hamming verify.
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_sql" -> simhashSql,
    // one loosest-threshold candidate pass serves the whole radius bank
    "dedup_sweep_hamming" -> sweepHammingSql,
    // r13 REAL-decode oracles for the promoted tier: each
    // recomputes what the codec MUST yield from the planted
    // geometry/pixels (generated from Multimodal's single source of
    // truth), so a header-parse, container-walk, resample, or moment
    // bug on either side fails the hash.
    "mm_meta_stats" -> Multimodal.metaStatsMixedOracleSql,
    "mm_frame_sample" -> Multimodal.frameSampleRealOracleSql,
    "mm_resize" -> Multimodal.resizeRealOracleSql,
    "mm_features" -> Multimodal.pixelMomentsRealOracleSql,
    "mm_dedup" -> Multimodal.nearDupMediaOracleSql,
    // REAL-decode pair: the Spark side renders genuine BMP bytes and
    // decodes them with javax.imageio; these oracles recompute what
    // the decode MUST yield from the planted geometry (generated from
    // Multimodal's single source of truth — BMP is lossless, so a
    // stride/padding/row-order bug on either side fails the hash).
    "mm_decode_meta" -> Multimodal.decodeMetaRealOracleSql,
    "mm_decode_hist" -> Multimodal.pixelHistRealOracleSql,
    // decode → 8x8 nearest-neighbor thumbnail → 56-bit dHash, all on
    // genuine decoded pixels; oracle rebuilds every comparison bit
    // through the same integer resample mapping
    "mm_dhash" -> Multimodal.mediaDhashOracleSql,
    "mm_dedup_real" -> Multimodal.nearDupDhashOracleSql,
    "mm_dedup_hamming" -> Multimodal.nearDupHammingOracleSql,
    // the mixed BMP/PNG corpus is gated against the IDENTICAL
    // planted-pixel oracles — lossless decode means format-invariant
    // rows, so a PNG-path bug hash-fails at the driver's gate
    "mm_dedup_hamming_mixed" -> Multimodal.nearDupHammingOracleSql,
    "mm_decode_hist_mixed" -> Multimodal.pixelHistRealOracleSql,
    "mm_phash" -> Multimodal.mediaPhashOracleSql,
    "mm_ahash" -> Multimodal.mediaAhashOracleSql,
    "mm_dedup_phash" -> Multimodal.nearDupPhashOracleSql,
    "mm_dedup_ahash" -> Multimodal.nearDupAhashOracleSql,
    // Same 16-bit-limb bucket arithmetic as TextOps.splitAssignment —
    // equal to (doc_id * 2654435761) % 2^32 but overflow-free for
    // doc_id beyond ~3.5e9 on both engines.
    "pipeline_split" ->
      """WITH b AS (
           SELECT doc_id,
                  (2654435761 * ((doc_id % 4294967296) % 65536)
                   + ((2654435761 * ((doc_id % 4294967296) // 65536)) % 65536)
                     * 65536) % 4294967296 AS bucket
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN bucket < 3435973836 THEN 'train'
                       WHEN bucket < 3865470565 THEN 'val'
                       ELSE 'test' END AS split
           FROM b)
         SELECT split, count(*) AS n, min(doc_id) AS min_id,
                max(doc_id) AS max_id
         FROM s GROUP BY split ORDER BY split""",
    // Running token total per source, pack = starting offset / budget.
    "pipeline_pack" ->
      s"""WITH t AS (
           SELECT source, doc_id,
                  CAST(len(${Shingles.tokensSql("text")}) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT source, doc_id, n_tok,
                  CAST(sum(n_tok) OVER (PARTITION BY source
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
           FROM t),
         p AS (
           SELECT source, doc_id, n_tok,
                  (cum - n_tok) // 2048 AS pack_id
           FROM c)
         SELECT source, pack_id, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM p GROUP BY source, pack_id ORDER BY source, pack_id""",
    "text_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars_m,
                len(${Shingles.tokensSql("text")}) AS n_tokens,
                round(CAST(list_sum(list_transform(${Shingles.tokensSql("text")}, t -> length(t))) AS DOUBLE)
                      / len(${Shingles.tokensSql("text")}), 6) AS avg_tok_len,
                round(CAST(len(list_filter(${Shingles.tokensSql("text")},
                        t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
                      / len(${Shingles.tokensSql("text")}), 6) AS stopword_ratio,
                round(CAST(len(list_distinct(${Shingles.tokensSql("text")})) AS DOUBLE)
                      / len(${Shingles.tokensSql("text")}), 6) AS distinct_ratio,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                                / length(text), 6) END AS punct_ratio
         FROM documents ORDER BY doc_id""",
    // word co-occurrence graph + the unrolled weighted-PageRank
    // integer chain (the graph_pagerank_weighted formulation)
    "text_textrank" -> TextOps.textrankOracleSql,
    // PMI decomposes into a linear combination of per-count logs;
    // each ln quantizes once to micro-nats (counts ≥ 1 → ln ≥ 0, so
    // half-up and half-away rounding agree), then exact BIGINT adds
    "text_collocations" ->
      s"""WITH toks AS (
           SELECT doc_id, ${Shingles.tokensSql("text")} AS t
           FROM documents),
         uni AS (SELECT w, count(*) AS c1
                 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
         n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM uni),
         g AS (SELECT CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                           ELSE list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i+1])
                      END AS bgs
               FROM toks),
         b AS (SELECT bg, count(*) AS c2
               FROM (SELECT unnest(bgs) AS bg FROM g)
               WHERE bg LIKE '% %' GROUP BY bg),
         n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM b),
         sel AS (SELECT b.bg, b.c2, ua.c1 AS ca, ub.c1 AS cb
                 FROM b
                 JOIN uni ua ON ua.w = string_split(b.bg, ' ')[1]
                 JOIN uni ub ON ub.w = string_split(b.bg, ' ')[2]
                 WHERE b.c2 >= 5)
         SELECT bg, c2,
                CAST(round(ln(CAST(c2 AS DOUBLE)) * 1000000, 0) AS BIGINT)
                - CAST(round(ln(CAST(n2 AS DOUBLE)) * 1000000, 0) AS BIGINT)
                - CAST(round(ln(CAST(ca AS DOUBLE)) * 1000000, 0) AS BIGINT)
                - CAST(round(ln(CAST(cb AS DOUBLE)) * 1000000, 0) AS BIGINT)
                + 2 * CAST(round(ln(CAST(n1 AS DOUBLE)) * 1000000, 0) AS BIGINT)
                  AS pmi_micro
         FROM sel CROSS JOIN n1 CROSS JOIN n2
         ORDER BY pmi_micro DESC, bg LIMIT 50""",
    // milli-unit integer Flesch: DuckDB // ≡ Spark DIV on the
    // non-negative counts, so the score column hash-matches exactly
    "text_readability" ->
      s"""WITH c AS (
           SELECT doc_id,
                  greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                  len(${Shingles.tokensSql("text")}) AS n_words,
                  len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[aeiouy]+')) AS n_syllables
           FROM documents)
         SELECT doc_id,
                CAST(n_sentences AS BIGINT) AS n_sentences,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(n_syllables AS BIGINT) AS n_syllables,
                CAST((1000 * n_words) // n_sentences AS BIGINT) AS wps_milli,
                CAST((1000 * n_syllables) // n_words AS BIGINT) AS spw_milli,
                CAST(206835 - (1015 * n_words) // n_sentences
                     - (84600 * n_syllables) // n_words AS BIGINT) AS flesch_milli
         FROM c ORDER BY doc_id""",
    "text_tokens" ->
      s"""SELECT doc_id,
                len(${Shingles.tokensSql("text")}) AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS re_tokens
         FROM documents ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
                md5(translate(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
         FROM documents ORDER BY doc_id""",
    // NFC + SIMPLE casefold: utf8proc lower is the 1:1 UnicodeData
    // mapping, the same semantics as the Spark kernel's per-codepoint
    // Character.toLowerCase (İ → i, never i + combining dot); NFC
    // first on both sides; trim is explicit-ASCII (the one-arg trap)
    "text_normalize" ->
      """WITH n AS (
           SELECT doc_id, text,
                  regexp_replace(trim(lower(nfc_normalize(text)), ' '),
                                 '\s+', ' ', 'g') AS norm_text
           FROM documents)
         SELECT doc_id, norm_text,
                length(text) AS n_before,
                length(norm_text) AS n_after,
                CAST(norm_text <> text AS INT) AS changed
         FROM n ORDER BY doc_id""",
    "pipeline_clean" ->
      s"""WITH q AS (
           SELECT doc_id, text,
                  len(${Shingles.tokensSql("text")}) AS n_tokens,
                  round(CAST(len(list_distinct(${Shingles.tokensSql("text")})) AS DOUBLE)
                        / len(${Shingles.tokensSql("text")}), 6) AS dr,
                  round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                        / length(text), 6) AS pr
           FROM documents)
         SELECT min(doc_id) AS keep_id,
                md5(translate(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
                count(*) AS n_dups, min(n_tokens) AS n_tokens
         FROM q WHERE n_tokens >= 20 AND dr >= 0.3 AND pr <= 0.3
         GROUP BY fp ORDER BY keep_id""",
    // the cleaning gate's threshold bank: pipeline_clean's exact
    // gate/fingerprint fragments, all thresholds from one pass
    "pipeline_clean_sweep" ->
      graft.operators.TextOps.pipelineCleanSweepSql,
    // context-length bank: every budget derives map-side from ONE
    // per-source running-sum window
    "pipeline_pack_sweep" ->
      graft.operators.TextOps.pipelinePackSweepSql,
    // Non-distinct bigram list (the duplicate count IS the signal);
    // same degenerate len<2 rule as the shingle expression.
    "text_repetition" ->
      s"""WITH toks AS (
           SELECT doc_id, ${Shingles.tokensSql("text")} AS t
           FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                       ELSE list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i+1])
                  END AS bgs
           FROM toks)
         SELECT doc_id, len(bgs) AS n_bigrams,
                len(list_distinct(bgs)) AS n_distinct,
                round(1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs), 6)
                  AS rep_ratio
         FROM g ORDER BY doc_id""",
    // Flags compare against the 6dp-rounded metrics on both engines,
    // so gate decisions can't flip on accumulation order.
    "text_gopher" ->
      s"""WITH tk AS (
           SELECT doc_id,
                  unnest(${Shingles.tokensSql("text")}) AS tok
           FROM documents),
         per AS (
           SELECT doc_id, count(*) AS n_tokens,
                  sum(length(tok)) AS tok_chars,
                  count(DISTINCT CASE WHEN tok IN
                    ('the','a','of','and','to','in','is','on','for','with')
                    THEN tok END) AS n_stop
           FROM tk GROUP BY doc_id),
         m AS (
           SELECT d.doc_id, per.n_tokens,
                  round(per.tok_chars * 1.0 / per.n_tokens, 6) AS avg_word_len,
                  CASE WHEN length(d.text) = 0 THEN 0.0
                       ELSE round(CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                                  / length(d.text), 6) END AS punct_ratio,
                  per.n_stop
           FROM documents d JOIN per ON per.doc_id = d.doc_id)
         SELECT doc_id, n_tokens, avg_word_len, punct_ratio, n_stop,
                n_tokens BETWEEN 20 AND 1000 AS ok_len,
                avg_word_len BETWEEN 2.0 AND 10.0 AS ok_word_len,
                punct_ratio <= 0.2 AS ok_symbol,
                n_stop >= 2 AS ok_stop,
                (n_tokens BETWEEN 20 AND 1000)
                  AND (avg_word_len BETWEEN 2.0 AND 10.0)
                  AND punct_ratio <= 0.2 AND n_stop >= 2 AS keep
         FROM m ORDER BY doc_id""",
    // Distinct 13-gram overlap vs the src0 "benchmark" documents (the
    // GPT-3/Gopher decontamination window) — same shingle rule as the
    // Spark expression (degenerate len<13 → one all-tokens shingle).
    "pipeline_decontam" ->
      s"""WITH toks AS (
           SELECT doc_id, source, ${Shingles.tokensSql("text")} AS t
           FROM documents),
         g AS (
           SELECT doc_id, source,
                  CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
                       ELSE list_distinct(list_transform(range(1, len(t) - 11),
                              i -> array_to_string(t[i:i+12], ' ')))
                  END AS gs
           FROM toks),
         bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g
                   WHERE source = 'src0'),
         posts AS (SELECT doc_id, unnest(gs) AS gram FROM g
                   WHERE source <> 'src0'),
         hits AS (SELECT p.doc_id, count(*) AS n_hits
                  FROM posts p JOIN bench b ON p.gram = b.gram
                  GROUP BY p.doc_id)
         SELECT d.doc_id, d.source,
                coalesce(h.n_hits, 0) AS n_hits,
                coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM (SELECT doc_id, source FROM documents WHERE source <> 'src0') d
         LEFT JOIN hits h ON h.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    // Integer thresholds (floor div) + the portable md5-60bit hash —
    // the sample membership is bit-identical across engines.
    "sample_stratified" ->
      s"""WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents
                         GROUP BY lang),
         m AS (SELECT min(n_lang) AS min_n FROM counts),
         th AS (SELECT lang, (min_n * 1048576) // n_lang AS thresh
                FROM counts CROSS JOIN m),
         h AS (SELECT doc_id, lang,
                      ${PortableHash.h60Sql("'smp#' || CAST(doc_id AS VARCHAR)")}
                        % 1048576 AS b
               FROM documents)
         SELECT h.doc_id, h.lang FROM h JOIN th ON th.lang = h.lang
         WHERE h.b < th.thresh ORDER BY h.doc_id""",
    "sample_uniform_k" -> graft.operators.Curation.sampleUniformKSql(),
    // α=0.5 temperature rebalance: forced-double sqrt threshold chain
    // (IEEE-correctly-rounded ops in declared order ⇒ identical
    // integer thresholds), then the portable-hash keep gate
    "sample_temperature" -> graft.operators.Curation.sampleTemperatureSql,
    // α bank from sqrt compositions only (general pow is not
    // correctly rounded and would hash-diverge); one pass, ≤3×langs
    "sample_temperature_sweep" ->
      graft.operators.Curation.sampleTemperatureSweepSql,
    // Weight-proportional hash gate: keep iff hash mod 2^20 is below
    // floor(w * 2^20) — DOUBLE forced before every division/floor so
    // both engines derive the identical integer threshold.
    "sample_weighted" ->
      s"""SELECT doc_id,
                round(least(CAST(1 AS DOUBLE), CAST(length(text) AS DOUBLE) / 500.0), 6) AS weight
         FROM documents
         WHERE ${PortableHash.h60Sql("'wsmp#' || CAST(doc_id AS VARCHAR)")} % 1048576
               < CAST(floor(least(CAST(1 AS DOUBLE), CAST(length(text) AS DOUBLE) / 500.0) * 1048576) AS BIGINT)
         ORDER BY doc_id""",
    // Generated from Curation.MixTargetsPpm (operator and oracle
    // share the mix by construction): BIGINT water-line capacity,
    // forced-DOUBLE fraction in the identical IEEE op order, the
    // same portable-hash membership gate.
    "pipeline_mix" -> graft.operators.Curation.mixOracleSql,
    "pipeline_funnel" -> graft.operators.Curation.funnelOracleSql,
    "pipeline_shuffle" -> graft.operators.Curation.shuffleOracleSql,
    // decile stages from the portable bottom-k sample (the
    // profile_quantiles rank rule at pct = 10·i) over a declared
    // integer quality composite — no NTILE window over the corpus
    "pipeline_curriculum" -> graft.operators.Curation.curriculumOracleSql,
    // z-order manifest: bucket, interleave, and file expressions all
    // render from one Scala source into both dialects — integer math
    // on non-negatives, so div ≡ // and the manifest hash-matches
    "pipeline_zorder" -> graft.operators.Layout.zorderOracleSql,
    // per-group bottom-k sample: same hash, same (hash, id) order,
    // same cut — the window formulation is the oracle, the bounded
    // aggregate is the plan
    "sample_per_group" -> graft.operators.Curation.perGroupOracleSql,
    // DSIR importance resampling: hashed-unigram likelihood ratios in
    // exact micro-nats, integer log-u keep gate (no exp/float
    // boundary anywhere) — generated from the same constants
    "sample_importance" -> graft.operators.Curation.importanceOracleSql,
    // Generated from the same Curation.PiiPatterns strings, applied
    // in the same order; DuckDB needs the explicit 'g' flag to match
    // Spark's replace-all default.
    "pipeline_pii" -> piiSql,
    // Exact-integer co-moments (HUGEINT twin of DECIMAL(38,0)) make
    // a normally order-dependent float statistic hash-matchable.
    "profile_corr" -> corrSql,
    // generated from the same FdPairs list the Spark sweep uses
    "profile_fd" -> graft.operators.Profile.fdOracleSql,
    // generated from the same MiPairs list; per-factor micro-nat log
    // quantization (the collocations PMI rule) keeps the cell sums
    // exact BIGINTs in both engines
    "profile_mi" -> graft.operators.Profile.miOracleSql,
    // same column list and ppm literals; the chi-square quantizes
    // each term to micro-units so the 9-term sum is order-proof
    "profile_benford" -> graft.operators.Profile.benfordOracleSql,
    // PSI drift: same split constant and micro-nat ln quantization;
    // per-type terms micro-quantized before the total so the sum is
    // exact BIGINT on both engines
    "profile_psi" -> graft.operators.Profile.psiOracleSql,
    // the SQL twin is gated against the VERBATIM same oracle text
    "profile_psi_sql" -> graft.operators.Profile.psiOracleSql,
    "profile_jsd" -> graft.operators.Profile.jsdOracleSql,
    "profile_checks" -> graft.operators.Profile.checksOracleSql,
    // Tukey fences as cleared-fraction integer compares on rank-
    // selected quartiles — no float boundary
    "profile_outliers" -> graft.operators.Profile.profileOutliersSql,
    // (O−E)²/E with every fraction cleared through n²: deterministic
    // integer micro-units per cell + the __total__ sum row
    "profile_chi2" -> graft.operators.Profile.profileChi2Sql,
    // the chi2 oracle as a CTE + the identical forced-double
    // effect-size tail (cast -> /1e6 -> /n -> /df -> sqrt -> round 6)
    "profile_cramers_v" -> graft.operators.Profile.profileCramersVSql,
    // per-source duplication ppm — two map-side aggregates
    "dedup_report" -> graft.operators.Dedup.dedupReportSql,
    // the near-dup pair set attributed to unordered source pairs —
    // diagonal = within-feed dup, off-diagonal = feed copies feed
    "dedup_cross_source" ->
      s"""WITH p AS ($NgramJaccardPairsSql)
         SELECT least(da.source, db.source) AS source_a,
                greatest(da.source, db.source) AS source_b,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM p JOIN documents da ON da.doc_id = p.d1
                JOIN documents db ON db.doc_id = p.d2
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // Heaps-law curve from (type → first_doc) + value-fraction cuts —
    // no corpus sort, no cumulative distinct
    "profile_vocab_growth" -> graft.operators.TextOps.vocabGrowthSql,
    // micro-nat quantized log-log least squares over the top-100
    // frequency head; HUGEINT sums, one forced-double division per
    // coefficient
    "text_zipf" -> graft.operators.TextOps.textZipfSql,
    "profile_cat_entropy" -> graft.operators.Profile.catEntropySql,
    "profile_topk_values" -> graft.operators.Profile.topValuesSql(),
    // quantized two-sample KS on the shared HDR bucket grid: exact
    // BIGINT D numerator, one final double division
    "profile_ks" -> graft.operators.Profile.ksOracleSql,
    "profile_seq_gaps" -> graft.operators.Profile.seqOracleSql,
    // generated from the same CASE chains the Spark plan runs — the
    // bucket/rank/midpoint rules have one Scala source of truth
    "profile_qsketch" -> graft.operators.Profile.qsketchOracleSql,
    // KMV overlap: the oracle rebuilds the identical bottom-k sketch
    // from the same portable hash and derives the same exact-in-DOUBLE
    // estimator — an approximate operator under the exact hash gate.
    "profile_kmv_overlap" -> graft.operators.Profile.kmvOverlapOracleSql,
    // per-key-column count histogram folded to max/distinct/total;
    // all-integer ppm ratios (div ≡ // on non-negatives)
    "profile_skew" ->
      """WITH m AS (
           SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
           UNION ALL
           SELECT 'l_partkey', l_partkey FROM lineitem
           UNION ALL
           SELECT 'l_suppkey', l_suppkey FROM lineitem),
         c AS (SELECT key_col, k, count(*) AS cnt FROM m GROUP BY 1, 2),
         f AS (SELECT key_col,
                      CAST(sum(cnt) AS BIGINT) AS n_rows,
                      CAST(count(*) AS BIGINT) AS n_distinct,
                      CAST(max(cnt) AS BIGINT) AS max_cnt
               FROM c GROUP BY key_col)
         SELECT key_col, n_rows, n_distinct, max_cnt,
                max_cnt * 1000000 // n_rows AS hot_share_ppm,
                max_cnt * n_distinct * 1000000 // n_rows AS skew_ratio_ppm
         FROM f ORDER BY key_col""",
    // identical IEEE double bucket arithmetic; max clamps into the
    // last bucket, constant columns collapse to bucket 0
    "profile_histogram" ->
      """WITH m AS (
           SELECT 'l_quantity' AS col_name, l_quantity AS value FROM lineitem
           UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL SELECT 'l_discount', l_discount FROM lineitem
           UNION ALL SELECT 'l_tax', l_tax FROM lineitem),
         b AS (SELECT col_name, min(value) AS lo, max(value) AS hi
               FROM m GROUP BY 1)
         SELECT m.col_name,
                CAST(CASE WHEN b.hi = b.lo THEN 0
                     ELSE least(floor((m.value - b.lo) * 16 / (b.hi - b.lo)),
                                15) END AS INT) AS bucket,
                count(*) AS cnt
         FROM m JOIN b ON m.col_name = b.col_name
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // identical bottom-k sample: rank by the shared portable row hash
    // (ties broken by value — value ties across the k boundary leave
    // the sample MULTISET unchanged), then exact index picks from the
    // value-sorted sample
    "profile_quantiles" ->
      s"""WITH $LineitemSampleCtes,
         p AS (SELECT * FROM (VALUES (1), (5), (25), (50), (75), (95), (99))
               AS t(pct))
         SELECT s.col_name, p.pct, s.value
         FROM s JOIN p
           ON s.vr = CAST(floor(p.pct / 100.0 * (s.n - 1)) AS BIGINT) + 1
         ORDER BY col_name, pct""",
    // same bottom-k-by-hash sample as profile_quantiles; median and
    // MAD are exact index-selects within it (|x−med| is IEEE-exact)
    "profile_mad" ->
      s"""WITH $LineitemSampleCtes,
         med AS (SELECT col_name, n, value AS median FROM s
                 WHERE vr = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1),
         d AS (SELECT s.col_name, med.n, med.median,
                      abs(s.value - med.median) AS dev
               FROM s JOIN med ON s.col_name = med.col_name),
         dr AS (SELECT col_name, n, median, dev,
                       row_number() OVER (PARTITION BY col_name
                                          ORDER BY dev) AS dvr
                FROM d)
         SELECT col_name, CAST(n AS BIGINT) AS n_sample, median,
                dev AS mad
         FROM dr WHERE dvr = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
         ORDER BY col_name""",
    // Same exact-moment z-score: (c·m − Σc) / √(m·Σc² − (Σc)²), all
    // inputs exact HUGEINT/DECIMAL integers, σ=0 guarded to z=0.
    "q_anomaly_days" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS cnt
           FROM events GROUP BY user_id, day),
         mo AS (SELECT user_id AS m_user,
                       CAST(count(*) AS HUGEINT) AS m,
                       sum(CAST(cnt AS HUGEINT)) AS sc,
                       sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS scc
                FROM daily GROUP BY user_id),
         z AS (SELECT d.user_id, d.day, d.cnt,
                      CASE WHEN mo.m * mo.scc - mo.sc * mo.sc = 0
                           THEN CAST(0 AS DOUBLE)
                           ELSE round(
                             CAST(CAST(d.cnt AS HUGEINT) * mo.m - mo.sc AS DOUBLE)
                             / sqrt(CAST(mo.m * mo.scc - mo.sc * mo.sc AS DOUBLE)), 4)
                      END AS z
               FROM daily d JOIN mo ON mo.m_user = d.user_id)
         SELECT user_id, day, cnt, z, abs(z) > 3.0 AS is_anomaly
         FROM z ORDER BY user_id, day""",
    // HLL oracle: rebuilds every register with one group-by-max over
    // the same portable hash, then derives the identical estimate —
    // rank rule and estimate formula are generated from the SAME
    // Hll.rankCaseSql/estimateSql strings the library uses.
    "profile_hll_users" -> hllUsersSql,
    // Mode rule mirrored exactly: max(struct(cnt, value)) ≡
    // ORDER BY cnt DESC, value DESC LIMIT 1 per column.
    "profile_strings" ->
      """WITH m AS (
           SELECT 'p_name' AS col_name, p_name AS value FROM part
           UNION ALL SELECT 'p_brand', p_brand FROM part
           UNION ALL SELECT 'p_type', p_type FROM part),
         base AS (
           SELECT col_name,
                  count(value) AS n,
                  count(DISTINCT value) AS n_distinct,
                  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  min(length(value)) AS min_len,
                  max(length(value)) AS max_len,
                  round(CAST(sum(length(value)) AS DOUBLE) / count(value), 4) AS avg_len
           FROM m GROUP BY col_name),
         cnts AS (
           SELECT col_name, value, count(*) AS cnt
           FROM m WHERE value IS NOT NULL GROUP BY col_name, value),
         tops AS (
           SELECT col_name, value AS top_value, cnt AS top_cnt,
                  row_number() OVER (PARTITION BY col_name
                    ORDER BY cnt DESC, value DESC) AS rn
           FROM cnts)
         SELECT b.col_name, b.n, b.n_distinct, b.n_null, b.min_len,
                b.max_len, b.avg_len, t.top_value, t.top_cnt
         FROM base b JOIN tops t ON t.col_name = b.col_name AND t.rn = 1
         ORDER BY b.col_name""",
    // Micro-nat idf quantized once per term; (doc, term) scores are
    // exact tf·idf_micro BIGINTs, so the top-3 selection on
    // (score, term) is engine-reproducible.
    "text_tfidf" -> TfidfOracleSql,
    // the SQL-surface twin is gated against the SAME oracle text
    "text_tfidf_sql" -> TfidfOracleSql,
    // Okapi BM25 (k1=1.2, b=0.75, smooth idf) for the fixed query —
    // every per-term score is deterministic IEEE arithmetic over
    // exact integers (DOUBLE forced early: DuckDB's exact DECIMAL
    // literals would otherwise diverge from Spark's double math),
    // quantized to micro-units so the per-doc sum is exact BIGINT.
    "text_bm25" -> bm25Sql,
    // RRF fusion of the two rank lists above/below: ranks come from
    // already-hash-proven score surfaces, the fused score is a
    // two-term DOUBLE sum of exact-integer reciprocals.
    "search_hybrid" -> searchHybridSql,
    // Same micro-nat fixed-point model as the Spark side: the bigram
    // model quantizes ln(c2/c1) ONCE per entry, per-doc sums are
    // exact BIGINT arithmetic (order-independent on both engines).
    // same micro-nat ln quantization: each ln computed once, rounded
    // to an integer, exact integer sums after that
    "text_entropy" ->
      """WITH docs AS (SELECT doc_id, text, length(text) AS len
                       FROM documents),
         ch AS (SELECT doc_id, substring(text, CAST(p AS INT), 1) AS c
                FROM docs, unnest(range(1, len + 1)) AS t(p)
                WHERE len > 0),
         cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                        CAST(sum(cnt * CAST(round(ln(cnt) * 1000000, 0)
                                            AS BIGINT)) AS BIGINT) AS s_micro
                 FROM cc GROUP BY 1)
         SELECT d.doc_id, coalesce(a.n, 0) AS n_chars,
                round(CASE WHEN coalesce(a.n, 0) = 0 THEN 0.0
                      ELSE (CAST(round(ln(a.n) * 1000000, 0) AS BIGINT)
                            - a.s_micro * 1.0 / a.n) / 1000000.0
                      END, 6) AS entropy_nats
         FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id""",
    // BPE merge learning: 8-round unrolled exact-integer trajectory,
    // (cnt DESC, a, b) tie order, triple-replace greedy merge — the
    // CTE chain is generated from the same constants as the operator
    "text_bpe_merges" -> TextOps.bpeOracleSql,
    // the encode side: post-merge subword frequency table off the
    // same generated trajectory (final vocab state exploded)
    "text_bpe_vocab" -> TextOps.bpeVocabOracleSql,
    // the apply side: per-doc subword counts under the learned
    // merges; the oracle replays learn AND encode (computed winners
    // feed per-round corpus re-encodings via 1-row cross joins)
    "text_bpe_tokens" -> TextOps.bpeTokensOracleSql,
    "pipeline_pack_bpe" -> TextOps.pipelinePackBpeOracleSql,
    "text_lm_score" ->
      s"""WITH toks AS (
           SELECT doc_id, ${Shingles.tokensSql("text")} AS t
           FROM documents),
         bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
                FROM toks, unnest(range(1, len(t))) AS r(i)),
         cnt2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
         cnt1 AS (SELECT bg, c2,
                         sum(c2) OVER (PARTITION BY split_part(bg, ' ', 1)) AS c1
                  FROM cnt2),
         model AS (SELECT bg,
                          CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lp_micro
                   FROM cnt1),
         scored AS (SELECT b.doc_id, count(*) AS n_bigrams,
                           CAST(sum(m.lp_micro) AS BIGINT) AS nat_micro
                    FROM bg b JOIN model m ON m.bg = b.bg
                    GROUP BY b.doc_id)
         SELECT d.doc_id,
                coalesce(s.n_bigrams, 0) AS n_bigrams,
                coalesce(s.nat_micro, 0) AS nat_micro,
                round(CAST(coalesce(s.nat_micro, 0) AS DOUBLE) / 1000000.0
                      / greatest(coalesce(s.n_bigrams, 0), 1), 6) AS avg_logprob
         FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
         ORDER BY d.doc_id""",
  )

  /** profile_corr oracle: the same exact integer co-moments in
    * HUGEINT (DuckDB's int128 twin of Spark's DECIMAL(38,0)), the
    * same textbook formula, pair labels generated from one list. */
  private def corrSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val centsCols = cols.map(c =>
      s"CAST(round($c * 100, 0) AS BIGINT) AS c_$c").mkString(",\n                ")
    val sums = (
      cols.map(c => s"sum(CAST(c_$c AS HUGEINT)) AS s_$c") ++
        cols.map(c => s"sum(CAST(c_$c AS HUGEINT) * CAST(c_$c AS HUGEINT)) AS ss_$c") ++
        cols.combinations(2).map { case Seq(a, b) =>
          s"sum(CAST(c_$a AS HUGEINT) * CAST(c_$b AS HUGEINT)) AS sp_${a}_$b"
        }).mkString(",\n                ")
    val rows = cols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
              round(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
                / sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
                       * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)), 6) AS corr
         FROM a"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH c AS (SELECT
                $centsCols
           FROM lineitem),
         a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                $sums
               FROM c)
         $rows
         ORDER BY col_x, col_y"""
  }

  /** profile_hll_users oracle: registers via group-by-max over the
    * portable hash, estimate via the shared dialect-portable formula
    * ([[graft.functions.Hll]]). */
  private def hllUsersSql: String = {
    import graft.functions.Hll
    val rank = Hll.rankCaseSql("v")
    val est = Hll.estimateSql("n_present", "z_present")
    s"""WITH h AS (
           SELECT event_type, user_id,
                  ${PortableHash.h60Sql("'hll#' || CAST(user_id AS VARCHAR)")} AS hv
           FROM events),
         b AS (SELECT event_type, user_id,
                      hv % ${Hll.M} AS bucket, hv // ${Hll.M} AS v
               FROM h),
         r AS (SELECT event_type, bucket, max($rank) AS reg
               FROM b GROUP BY event_type, bucket),
         a AS (SELECT event_type, count(*) AS n_present,
                      CAST(sum(CAST(1 AS BIGINT) << CAST(${Hll.W + 1} - reg AS INT)) AS BIGINT) AS z_present
               FROM r GROUP BY event_type),
         x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
               FROM events GROUP BY event_type)
         SELECT a.event_type, x.n_exact,
                round($est, 2) AS est_distinct,
                round(abs(($est) - x.n_exact) / x.n_exact, 4) AS rel_err,
                CAST(${Hll.M} - a.n_present AS BIGINT) AS v_zero
         FROM a JOIN x ON x.event_type = a.event_type
         ORDER BY a.event_type"""
  }

  /** Shared BM25 CTE chain (generated from the same
    * [[TextOps.Bm25Query]] term list; the arithmetic mirrors the
    * Spark expression tree operation-for-operation), ending at CTE
    * `bm` = top-`limit` (doc_id, n_hit_terms, bm25). Shared by the
    * text_bm25 oracle and the search_hybrid fusion oracle so the
    * ranking has one SQL statement of truth. */
  private def bm25Ctes(limit: Int): String = {
    val terms = TextOps.Bm25Query.map("'" + _ + "'").mkString(", ")
    s"""toks AS (
           SELECT doc_id, unnest(${Shingles.tokensSql("text")}) AS term
           FROM documents),
         lens AS (SELECT doc_id,
                         len(${Shingles.tokensSql("text")}) AS dl
                  FROM documents),
         stats AS (SELECT count(*) AS n_docs,
                          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                   FROM lens),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term IN ($terms) GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         s AS (SELECT t.doc_id,
                      CAST(round(
                        (CAST(CAST(round(ln(CAST(st.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS DOUBLE) / 1000000.0)
                        * (CAST(t.tf AS DOUBLE) * 2.2)
                        / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE) / st.avgdl)))
                        * 1000000.0, 0) AS BIGINT) AS score_micro
               FROM tf t JOIN dft d ON d.term = t.term
               JOIN lens l ON l.doc_id = t.doc_id
               CROSS JOIN stats st),
         bm AS (SELECT doc_id, count(*) AS n_hit_terms,
                round(CAST(CAST(sum(score_micro) AS BIGINT) AS DOUBLE) / 1000000.0, 6) AS bm25
         FROM s GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT $limit)"""
  }

  private def bm25Sql: String =
    s"""WITH ${bm25Ctes(20)}
         SELECT doc_id, n_hit_terms, bm25 FROM bm
         ORDER BY bm25 DESC, doc_id"""

  /** search_hybrid oracle: RRF fusion of the BM25 CTE chain and the
    * round-6 cosine ranking (the ann_bruteforce scoring surface) for
    * the fixed dense query vec_id 0. The reciprocal terms are forced
    * DOUBLE — a bare `1.0 / n` is DECIMAL division in DuckDB (the
    * q1_sql lesson) — and ordering is on the unrounded fused sum with
    * a doc_id tie-break, exactly like the Spark side. */
  private def searchHybridSql: String = {
    import graft.operators.Search.{NCand, QueryVecId, RrfK, TopK}
    s"""WITH ${bm25Ctes(NCand)},
         bmr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_text
                 FROM bm),
         qv AS (SELECT embedding AS qe FROM embeddings
                WHERE vec_id = $QueryVecId),
         sc AS (SELECT e.vec_id AS doc_id,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                        CAST(qv.qe AS DOUBLE[])), 6) AS cosine
                FROM embeddings e CROSS JOIN qv),
         vr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_vec
                FROM sc QUALIFY r_vec <= $NCand),
         f AS (SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
                      b.r_text, v.r_vec,
                      coalesce(CAST(1 AS DOUBLE) / ($RrfK + b.r_text), 0)
                    + coalesce(CAST(1 AS DOUBLE) / ($RrfK + v.r_vec), 0) AS rrf_raw
               FROM bmr b FULL OUTER JOIN vr v ON b.doc_id = v.doc_id)
         SELECT doc_id, r_text, r_vec, round(rrf_raw, 6) AS rrf
         FROM f ORDER BY rrf_raw DESC, doc_id LIMIT $TopK"""
  }

  /** pipeline_pii oracle, generated from [[Curation.PiiPatterns]] so
    * the two sides can never drift. */
  private def piiSql: String = {
    // progressive counting mirror: pattern i counts on the text
    // already redacted by patterns 0..i-1, exactly like the Spark side
    val stages = Curation.PiiPatterns.scanLeft("text") {
      case (acc, (_, p, repl)) => s"regexp_replace($acc, '$p', '$repl', 'g')"
    }
    val counts = Curation.PiiPatterns.zipWithIndex.map { case ((n, p, _), i) =>
      s"len(regexp_extract_all(${stages(i)}, '$p')) AS n_$n"
    }.mkString(",\n                ")
    val clean = stages.last
    val hasPii = Curation.PiiPatterns
      .map { case (n, _, _) => s"n_$n > 0" }.mkString(" OR ")
    s"""WITH c AS (SELECT doc_id,
                $counts,
                $clean AS clean
         FROM documents)
       SELECT doc_id, n_email, n_ip, n_phone, clean, ($hasPii) AS has_pii
       FROM c ORDER BY doc_id"""
  }
}
