package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{AnalyticsQueries, BatchQueries, DialectQueries, PipelineQueries, RemoteQueries, SourceQueries, StreamQueries, TimeSeriesQueries, WarehouseQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is one operator/capability from SURVEY.md §2
  * (or a beyond-reference pipeline op); `oracleSql` carries the DuckDB
  * equivalent for the driver's hash compare. Column names are aliased
  * identically on both sides and every query ends in a deterministic
  * ORDER BY.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    BatchQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"           -> (BatchQueries.q1Agg _),
    "q_agg_global"     -> (BatchQueries.qAggGlobal _),
    "q_avg_int_compat" -> (BatchQueries.qAvgIntCompat _),
    "q_filter_pred"    -> (BatchQueries.qFilterPred _),
    "q_filter_in"      -> (BatchQueries.qFilterIn _),
    "q_like_contains"  -> (BatchQueries.qLikeContains _),
    "q_bool_nested"    -> (BatchQueries.qBoolNested _),
    "q_join_broadcast" -> (BatchQueries.qJoinBroadcast _),
    "q_join_merge"     -> (BatchQueries.qJoinMerge _),
    "q_join_theta"     -> (BatchQueries.qJoinTheta _),
    "q_join_multiway"  -> (BatchQueries.qJoinMultiway _),
    "q_semi_join"      -> (BatchQueries.qSemiJoin _),
    "q_anti_join"      -> (BatchQueries.qAntiJoin _),
    "q_orderby"        -> (BatchQueries.qOrderBy _),
    "q_distinct"       -> (BatchQueries.qDistinct _),
    "q_topk"           -> (BatchQueries.qTopK _),
    "q_set_ops"        -> (BatchQueries.qSetOps _),
    "q_scalar_funcs"   -> (BatchQueries.qScalarFuncs _),
    "q_persist_find"   -> (BatchQueries.qPersistFind _),
    "q_threshold_retention" -> (BatchQueries.qThresholdRetention _),
    "q_join_skew_aqe"  -> (BatchQueries.qJoinSkewAqe _),
    "q_clone"          -> (BatchQueries.qClone _),
    "q_join_runtime_filter" -> (BatchQueries.qJoinRuntimeFilter _),
    "q_quarantine"     -> (BatchQueries.qQuarantine _),
    "q_time_travel"    -> (BatchQueries.qTimeTravel _),
    "q_join_salted"    -> (BatchQueries.qJoinSalted _),
    "q_window_sliding" -> (BatchQueries.qWindowSliding _),
    "q_window_tumbling"-> (BatchQueries.qWindowTumbling _),
    // dialect-routed (GraftSession.execute end-to-end)
    "q_sql_agg"        -> (DialectQueries.qSqlAgg _),
    "q_sql_join"       -> (DialectQueries.qSqlJoin _),
    "q_sql_filter"     -> (DialectQueries.qSqlFilter _),
    "q_sql_like"       -> (DialectQueries.qSqlLike _),
    "q_sql_window"     -> (DialectQueries.qSqlWindow _),
    "q_sql_window_keyed" -> (DialectQueries.qSqlWindowKeyed _),
    "q_sql_window_string" -> (DialectQueries.qSqlWindowString _),
    "q_sql_custom_agg" -> (DialectQueries.qSqlCustomAgg _),
    "q_sql_in_subquery" -> (DialectQueries.qSqlInSubquery _),
    "q_sql_not_in_subquery" -> (DialectQueries.qSqlNotInSubquery _),
    "q_sql_not_in_empty" -> (DialectQueries.qSqlNotInEmpty _),
    "q_sql_date_range" -> (DialectQueries.qSqlDateRange _),
    "q_sql_null_funcs" -> (DialectQueries.qSqlNullFuncs _),
    "q_sql_last"       -> (DialectQueries.qSqlLast _),
    // streaming + CEP (real streaming queries, AvailableNow-drained)
    "q_stream_filter"  -> (StreamQueries.qStreamFilter _),
    "q_stream_tumbling"-> (StreamQueries.qStreamTumbling _),
    "q_stream_count_window" -> (StreamQueries.qStreamCountWindow _),
    "q_stream_time_window" -> (StreamQueries.qStreamTimeWindow _),
    "q_process_retained" -> (StreamQueries.qProcessRetained _),
    "q_process_stream" -> (StreamQueries.qProcessStream _),
    "q_subscription"   -> (StreamQueries.qSubscription _),
    "q_stream_dedup"   -> (StreamQueries.qStreamDedup _),
    "q_stream_neardup" -> (StreamQueries.qStreamNeardup _),
    // remote client (S8): dialect over the Thrift/JDBC endpoint
    "q_remote"         -> (RemoteQueries.qRemote _),
    // training-data pipeline ops (documents / embeddings tables)
    "q_dedup_exact"    -> (PipelineQueries.qDedupExact _),
    "q_dedup_minhash"  -> (PipelineQueries.qDedupMinhash _),
    "q_dedup_simhash"  -> (PipelineQueries.qDedupSimhash _),
    "q_dedup_image"    -> (PipelineQueries.qDedupImage _),
    "q_dedup_audio"    -> (PipelineQueries.qDedupAudio _),
    "q_dedup_video"    -> (PipelineQueries.qDedupVideo _),
    "q_dedup_media_incremental" -> (PipelineQueries.qDedupMediaIncremental _),
    "q_dedup_ngram"    -> (PipelineQueries.qDedupNgram _),
    "q_dedup_incremental" -> (PipelineQueries.qDedupIncremental _),
    "q_dedup_embed"    -> (PipelineQueries.qDedupEmbed _),
    "q_dedup_kmeans"   -> (PipelineQueries.qDedupKmeans _),
    "q_text_stats"     -> (PipelineQueries.qTextStats _),
    "q_text_quality"   -> (PipelineQueries.qTextQuality _),
    "q_gopher_rules"   -> (PipelineQueries.qGopherRules _),
    "q_compress_ratio" -> (PipelineQueries.qCompressRatio _),
    "q_classifier"     -> (PipelineQueries.qClassifier _),
    "q_embed_project"  -> (PipelineQueries.qEmbedProject _),
    "q_conv_pairs"     -> (PipelineQueries.qConvPairs _),
    "q_dedup_canonical" -> (PipelineQueries.qDedupCanonical _),
    "q_text_analyze"   -> (PipelineQueries.qTextAnalyze _),
    "q_text_tokens"    -> (PipelineQueries.qTextTokens _),
    "q_text_repetition" -> (PipelineQueries.qTextRepetition _),
    "q_text_chunks"    -> (PipelineQueries.qTextChunks _),
    "q_sequence_pack"  -> (PipelineQueries.qSequencePack _),
    "q_concat_chunks"  -> (PipelineQueries.qConcatChunks _),
    "q_dedup_spans"    -> (PipelineQueries.qDedupSpans _),
    "q_span_corrupt"   -> (PipelineQueries.qSpanCorrupt _),
    "q_sft_render"     -> (PipelineQueries.qSftRender _),
    "q_pref_pairs"     -> (PipelineQueries.qPrefPairs _),
    "q_stream_topk"    -> (StreamQueries.qStreamTopk _),
    "q_unigram"        -> (TimeSeriesQueries.qUnigram _),
    "q_unigram_encode" -> (TimeSeriesQueries.qUnigramEncode _),
    "q_dedup_probe"    -> (PipelineQueries.qDedupProbe _),
    "q_dedup_saturated" -> (PipelineQueries.qDedupSaturated _),
    "q_mix_reweight"   -> (PipelineQueries.qMixReweight _),
    "q_stream_anomaly" -> (StreamQueries.qStreamAnomaly _),
    "q_stream_throttle" -> (StreamQueries.qStreamThrottle _),
    "q_change_feed"    -> (WarehouseQueries.qChangeFeed _),
    "q_ivm_sync"       -> (WarehouseQueries.qIvmSync _),
    "q_funnel_conv"    -> (TimeSeriesQueries.qFunnelConv _),
    "q_select_budget"  -> (PipelineQueries.qSelectBudget _),
    "q_pipeline_assemble" -> (PipelineQueries.qPipelineAssemble _),
    "q_decontaminate"  -> (PipelineQueries.qDecontaminate _),
    "q_multimodal_frames" -> (PipelineQueries.qMultimodalFrames _),
    "q_multimodal_features" -> (PipelineQueries.qMultimodalFeatures _),
    "q_sim_bruteforce" -> (PipelineQueries.qSimBruteforce _),
    "q_sim_lsh"        -> (PipelineQueries.qSimLsh _),
    "q_sim_ivf"        -> (PipelineQueries.qSimIvf _),
    "q_sim_ivf_indexed" -> (PipelineQueries.qSimIvfIndexed _),
    "q_sim_pq"         -> (PipelineQueries.qSimPq _),
    "q_sim_ivf_append" -> (PipelineQueries.qSimIvfAppend _),
    "q_multimodal_meta"-> (PipelineQueries.qMultimodalMeta _),
    "q_multimodal_audio" -> (PipelineQueries.qMultimodalAudio _),
    "q_audio_stats"    -> (PipelineQueries.qAudioStats _),
    "q_image_stats"    -> (PipelineQueries.qImageStats _),
    "q_source_cap"     -> ((s, dir) => PipelineQueries.qSourceCap(s, dir)),
    "q_split_hash"     -> (PipelineQueries.qSplitHash _),
    "q_pipeline_curate" -> (PipelineQueries.qPipelineCurate _),
    "q_dedup_cc"       -> (PipelineQueries.qDedupCc _),
    "q_pii_redact"     -> (PipelineQueries.qPiiRedact _),
    "q_boilerplate"    -> (PipelineQueries.qBoilerplate _),
    "q_url_filter"     -> (PipelineQueries.qUrlFilter _),
    "q_sample_stratified" -> (PipelineQueries.qSampleStratified _),
    "q_fuzzy_join"     -> (PipelineQueries.qFuzzyJoin _),
    "q_bm25"           -> (PipelineQueries.qBm25 _),
    "q_dedup_semantic" -> (PipelineQueries.qDedupSemantic _),
    "q_lm_score"       -> (PipelineQueries.qLmScore _),
    "q_grep_index"     -> (PipelineQueries.qGrepIndex _),
    "q_sample_weighted" -> (PipelineQueries.qSampleWeighted _),
    // analytics extensions: temporal joins, rollup, ranking windows,
    // sketch aggregates (ops/TemporalJoins, ops/Sketches)
    "q_sessionize"     -> (AnalyticsQueries.qSessionize _),
    "q_stream_session" -> (StreamQueries.qStreamSession _),
    "q_stream_enrich"  -> (StreamQueries.qStreamEnrich _),
    "q_stream_join"    -> (StreamQueries.qStreamJoin _),
    "q_stream_join_outer" -> (StreamQueries.qStreamJoinOuter _),
    "q_percentiles"    -> (AnalyticsQueries.qPercentiles _),
    "q_sample_topk"    -> (AnalyticsQueries.qSampleTopk _),
    "q_asof_join"      -> (AnalyticsQueries.qAsofJoin _),
    "q_pattern_seq"    -> (AnalyticsQueries.qPatternSeq _),
    "q_range_join"     -> (AnalyticsQueries.qRangeJoin _),
    "q_rollup"         -> (AnalyticsQueries.qRollup _),
    "q_cube"           -> (AnalyticsQueries.qCube _),
    "q_pivot"          -> (AnalyticsQueries.qPivot _),
    "q_explode"        -> (AnalyticsQueries.qExplode _),
    "q_window_time_range" -> (AnalyticsQueries.qWindowTimeRange _),
    "q_ntile"          -> (AnalyticsQueries.qNtile _),
    "q_collect_list"   -> (AnalyticsQueries.qCollectList _),
    "q_stats_numeric"  -> (AnalyticsQueries.qStatsNumeric _),
    "q_quantile_clamp" -> (AnalyticsQueries.qQuantileClamp _),
    "q_histogram"      -> (AnalyticsQueries.qHistogram _),
    "q_zorder"         -> (AnalyticsQueries.qZorder _),
    "q_outer_join"     -> (BatchQueries.qOuterJoin _),
    "q_rag_retrieve"   -> (PipelineQueries.qRagRetrieve _),
    "q_string_funcs"   -> (BatchQueries.qStringFuncs _),
    "q_datetime_funcs" -> (BatchQueries.qDatetimeFuncs _),
    "q_rank_analytics" -> (AnalyticsQueries.qRankAnalytics _),
    "q_freq_topk"      -> (AnalyticsQueries.qFreqTopk _),
    "q_sketch_distinct"  -> (AnalyticsQueries.qSketchDistinct _),
    "q_sketch_distinct_exact" -> (AnalyticsQueries.qSketchDistinctExact _),
    "q_sketch_cms"       -> (AnalyticsQueries.qSketchCms _),
    "q_sketch_cms_exact" -> (AnalyticsQueries.qSketchCmsExact _),
    "q_sketch_quantiles" -> (AnalyticsQueries.qSketchQuantiles _),
    "q_sketch_quantiles_exact" -> (AnalyticsQueries.qSketchQuantilesExact _),
    "q_profile"        -> (WarehouseQueries.qProfile _),
    "q_scd2"           -> (WarehouseQueries.qScd2 _),
    "q_pagerank"       -> (WarehouseQueries.qPageRank _),
    "q_triangles"      -> (WarehouseQueries.qTriangles _),
    "q_ivm"            -> (WarehouseQueries.qIvm _),
    "q_group_topk"     -> (WarehouseQueries.qGroupTopk _),
    "q_expectations"   -> (WarehouseQueries.qExpectations _),
    "q_skyline"        -> (AnalyticsQueries.qSkyline _),
    "q_funnel"         -> (AnalyticsQueries.qFunnel _),
    "q_latest_wins"    -> (AnalyticsQueries.qLatestWins _),
    "q_mix_sources"    -> (PipelineQueries.qMixSources _),
    "q_schema_evolve"  -> (SourceQueries.qSchemaEvolve _),
    "q_source_jsonl"   -> (SourceQueries.qSourceJsonl _),
    "q_outliers"       -> (AnalyticsQueries.qOutliers _),
    "q_source_overlap" -> (PipelineQueries.qSourceOverlap _),
    "q_label_encode"   -> (AnalyticsQueries.qLabelEncode _),
    "q_regression"     -> (AnalyticsQueries.qRegression _),
    "q_version_diff"   -> (BatchQueries.qVersionDiff _),
    "q_resample"       -> (TimeSeriesQueries.qResample _),
    "q_concurrency"    -> (TimeSeriesQueries.qConcurrency _),
    "q_retention"      -> (TimeSeriesQueries.qRetention _),
    "q_entropy"        -> (TimeSeriesQueries.qEntropy _),
    "q_bpe"            -> (TimeSeriesQueries.qBpe _),
    "q_source_csv"     -> (SourceQueries.qSourceCsv _),
    "q_source_orc"     -> (SourceQueries.qSourceOrc _),
    "q_kcore"          -> (WarehouseQueries.qKcore _),
    "q_bpe_encode"     -> (TimeSeriesQueries.qBpeEncode _),
    "q_decayed"        -> (TimeSeriesQueries.qDecayed _),
    "q_json_extract"   -> (SourceQueries.qJsonExtract _),
    "q_mad"            -> (AnalyticsQueries.qMad _),
    "q_rank_fusion"    -> (PipelineQueries.qRankFusion _),
    "q_store_optimize" -> (BatchQueries.qStoreOptimize _),
    "q_data_skip"      -> (BatchQueries.qDataSkip _),
    "q_bucket_join"    -> (BatchQueries.qBucketJoin _),
    "q_col_skip"       -> (BatchQueries.qColSkip _),
    "q_vacuum"         -> (BatchQueries.qVacuum _),
    "q_stream_sink"    -> (StreamQueries.qStreamSink _),
    "q_store_tail"     -> (StreamQueries.qStoreTail _),
    "q_stream_resume"  -> (StreamQueries.qStreamResume _),
    "q_stream_mview"   -> (StreamQueries.qStreamMview _),
    "q_schema_enforce" -> (WarehouseQueries.qSchemaEnforce _),
    "q_dialect_prune"  -> (WarehouseQueries.qDialectPrune _),
    "q_profile_drift"  -> (WarehouseQueries.qProfileDrift _),
    "q_dialect_prune_col" -> (WarehouseQueries.qDialectPruneCol _),
    "q_append_checked" -> (WarehouseQueries.qAppendChecked _),
    "q_merge_store" -> (WarehouseQueries.qMergeStore _),
    "q_partition_prune" -> (SourceQueries.qPartitionPrune _),
    "q_dpp_join"       -> (SourceQueries.qDppJoin _),
    "q_split_leakfree" -> (PipelineQueries.qSplitLeakfree _),
    "q_hard_negatives" -> (PipelineQueries.qHardNegatives _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 2) AS avg_qty,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_agg_global" ->
      """SELECT count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price,
         round(min(o_totalprice), 2) AS min_price,
         round(max(o_totalprice), 2) AS max_price
         FROM orders""",
    "q_avg_int_compat" ->
      """SELECT p_brand,
         CAST(floor(sum(CAST(p_size AS BIGINT)) / count(p_size)) AS BIGINT) AS avg_size_int,
         CAST(sum(CAST(p_size AS BIGINT)) AS BIGINT) AS sum_size
         FROM part GROUP BY p_brand ORDER BY p_brand""",
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
         l_extendedprice * (1.0 - l_discount) AS net_price
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount < 0.05
           AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
         ORDER BY l_orderkey, l_linenumber""",
    "q_filter_in" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus
         FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           AND o_orderstatus NOT IN ('F')
         ORDER BY o_orderkey""",
    "q_like_contains" ->
      """SELECT p_partkey, p_type, p_name
         FROM part
         WHERE contains(p_type, 'ECO') AND NOT contains(p_name, 'red')
         ORDER BY p_partkey""",
    "q_bool_nested" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal AS acctbal
         FROM customer
         WHERE (c_mktsegment = 'BUILDING' AND c_acctbal > 5000.0)
            OR (c_mktsegment = 'MACHINERY' AND c_acctbal < 0.0)
         ORDER BY c_custkey""",
    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
         round(sum(c_acctbal), 2) AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_join_merge" ->
      """SELECT o_orderpriority, count(*) AS n_lines, sum(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'O'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_theta" ->
      """SELECT n1.n_regionkey AS r1, n2.n_regionkey AS r2, count(*) AS n_pairs
         FROM nation n1 JOIN nation n2 ON n1.n_regionkey < n2.n_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_join_multiway" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY n_name""",
    "q_semi_join" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
         ORDER BY o_orderkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_orderby" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal AS acctbal
         FROM supplier
         ORDER BY s_nationkey ASC, acctbal DESC, s_suppkey ASC""",
    "q_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
         ORDER BY c_nationkey, c_mktsegment""",
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice AS totalprice
         FROM orders
         ORDER BY totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q_set_ops" ->
      """(SELECT DISTINCT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
         UNION ALL
         (SELECT DISTINCT c_nationkey AS nationkey FROM customer
         EXCEPT
         SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
         ORDER BY nationkey""",
    "q_scalar_funcs" ->
      """SELECT o_orderkey,
         CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS to_number_price,
         strftime(o_orderdate, '%Y-%m-%d') AS to_char_date,
         strftime(CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE), '%Y-%m-%d') AS to_date_rt
         FROM orders ORDER BY o_orderkey""",
    // quarantine ingest: the split + per-violation-combo rollup
    // replayed (concat_ws skips NULLs = array_join over filtered nulls;
    // check order matches the Spark checks Seq)
    "q_quarantine" ->
      """SELECT violated, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS price_sum
         FROM (SELECT o_totalprice,
                 concat_ws(',',
                   CASE WHEN NOT coalesce(o_totalprice < 100000.0, false)
                        THEN 'price_under_100k' END,
                   CASE WHEN NOT coalesce(o_orderdate BETWEEN '1992-01-01' AND '1998-12-31', false)
                        THEN 'date_in_range' END) AS violated
               FROM orders)
         GROUP BY violated ORDER BY violated""",
    // runtime bloom filter: join content replayed relationally;
    // might_contain injection asserted in-gate on the physical plan
    "q_join_runtime_filter" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                sum(l_quantity) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // shallow clone: both divergent states replayed from orders
    // (clone deleted status F at ORIGINAL prices; source doubled
    // prices for keys <= 100)
    "q_clone" ->
      """SELECT side, CAST(n AS BIGINT) AS n, price_sum FROM (
           SELECT 'clone' AS side, count(*) AS n,
                  round(sum(o_totalprice), 2) AS price_sum
           FROM orders WHERE o_orderstatus <> 'F'
           UNION ALL
           SELECT 'source', count(*),
                  round(sum(CASE WHEN o_orderkey <= 100
                            THEN o_totalprice * 2 ELSE o_totalprice END), 2)
           FROM orders)
         ORDER BY side""",
    // AQE skew join: the hot-key mapping is replayed relationally;
    // skew-split + wall-time bounds are asserted in-gate
    "q_join_skew_aqe" ->
      """SELECT w, CAST(count(*) AS BIGINT) AS n,
                sum(l_quantity) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM (SELECT CASE WHEN l_orderkey % 5 = 0 THEN 0
                           ELSE l_orderkey % 1000 END AS k,
                      l_quantity, l_extendedprice
               FROM lineitem) f
         JOIN (SELECT r AS k, CAST(r % 7 AS BIGINT) AS w
               FROM (SELECT unnest(range(0, 1000)) AS r)) d USING (k)
         GROUP BY w ORDER BY w""",
    // @Threshold(500) keeps the newest 500 ids across all persists
    "q_threshold_retention" ->
      """SELECT k, price, st FROM (
           SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS st
           FROM orders ORDER BY o_orderkey DESC LIMIT 500)
         ORDER BY k""",
    "q_persist_find" ->
      """WITH st AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderpriority = '1-URGENT'
                       THEN o_totalprice * 2 ELSE o_totalprice END AS price,
                  o_orderstatus AS st
           FROM orders
           UNION ALL
           SELECT -(o_orderkey + 1) AS k, o_totalprice AS price, o_orderstatus AS st
           FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)
         )
         SELECT k, price, st FROM st
         WHERE NOT (st = 'F' AND price < 100000.0) ORDER BY k""",
    "q_window_sliding" ->
      """SELECT user_id, event_id,
         round(sum(value) OVER w, 2) AS sliding_sum,
         count(*) OVER w AS sliding_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "q_window_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_sql_agg" ->
      """SELECT l_returnflag AS f, count(l_orderkey) AS c, sum(l_quantity) AS sq,
         min(l_quantity) AS mn, max(l_quantity) AS mx
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_sql_join" ->
      """SELECT r_name AS rname, n_name AS nname, count(c_custkey) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_sql_filter" ->
      """SELECT o_orderkey AS k, o_orderpriority AS p FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
           AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'
         ORDER BY o_orderkey""",
    "q_sql_like" ->
      """SELECT p_partkey AS k, p_name AS nm FROM part
         WHERE contains(p_name, 'ring') OR contains(p_name, 'bolt')
         ORDER BY p_partkey""",
    "q_sql_window" ->
      """SELECT id, c, mn, mx FROM (
           SELECT event_id AS id,
                  count(*) OVER w AS c,
                  min(value) OVER w AS mn,
                  max(value) OVER w AS mx,
                  row_number() OVER (ORDER BY event_id) AS rn
           FROM events
           WINDOW w AS (ORDER BY event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
         ) WHERE rn >= 100 ORDER BY id""",
    "q_sql_custom_agg" ->
      """SELECT l_returnflag AS f, sum(l_quantity * l_quantity) AS ssq,
         count(l_orderkey) AS c
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_sql_last" ->
      """SELECT event_type AS t, max_by(value, event_id) AS lv,
         max(event_id) AS mxid
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_sql_in_subquery" ->
      """SELECT o_orderkey AS k, o_orderpriority AS p FROM orders
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
         ORDER BY o_orderkey""",
    "q_sql_not_in_subquery" ->
      """SELECT c_custkey AS k, c_name AS nm FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_sql_not_in_empty" ->
      """SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
         WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 1000)
         ORDER BY o_orderkey""",
    "q_sql_date_range" ->
      """SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
         ORDER BY o_orderkey""",
    "q_sql_null_funcs" ->
      """SELECT o_orderkey AS k, TRY_CAST(o_orderpriority AS DOUBLE) AS nc,
         CAST(o_totalprice AS DOUBLE) AS np
         FROM orders ORDER BY o_orderkey""",
    "q_sql_window_keyed" ->
      """SELECT uid, id, c, mn, mx FROM (
           SELECT user_id AS uid, event_id AS id,
                  count(*) OVER w AS c,
                  min(value) OVER w AS mn,
                  max(value) OVER w AS mx,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ) WHERE rn >= 10 ORDER BY uid, id""",
    // global count window over a STRING order column (unique md5 keys
    // → deterministic frames); DuckDB orders the same lowercase-hex
    // ASCII identically, so the bucketed byte-prefix-proxy lowering is
    // checked against a true single-partition window
    "q_sql_window_string" ->
      """SELECT skey AS k, c, mn, mx, sq FROM (
           SELECT skey,
                  count(*) OVER win AS c,
                  min(n_chars) OVER win AS mn,
                  max(n_chars) OVER win AS mx,
                  CAST(sum(n_chars) OVER win AS BIGINT) AS sq,
                  row_number() OVER (ORDER BY skey) AS rn
           FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS skey, n_chars FROM documents)
           WINDOW win AS (ORDER BY skey ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
         ) WHERE rn >= 50 ORDER BY k""",
    "q_stream_filter" ->
      """SELECT event_id AS id, user_id AS uid, value AS v FROM events
         WHERE event_type = 'purchase' AND value > 100.0 ORDER BY id""",
    "q_stream_tumbling" ->
      """SELECT event_type AS t, count(event_id) AS c, min(value) AS mn, max(value) AS mx
         FROM events GROUP BY 1 ORDER BY 1""",
    "q_stream_count_window" ->
      """SELECT uid, id, c, mn, mx FROM (
           SELECT user_id AS uid, event_id AS id,
                  count(*) OVER w AS c,
                  min(value) OVER w AS mn,
                  max(value) OVER w AS mx,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         ) WHERE rn >= 10 ORDER BY uid, id""",
    "q_stream_time_window" ->
      """SELECT hour, t, n, sum_value FROM (
           SELECT date_trunc('hour', ts) AS hour, event_type AS t,
                  count(*) AS n, round(sum(value), 2) AS sum_value
           FROM events GROUP BY 1, 2)
         WHERE hour + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
         ORDER BY hour, t""",
    "q_process_retained" ->
      """SELECT event_id AS id, user_id AS uid, event_type AS t, value AS v
         FROM events WHERE NOT (event_type = 'error') ORDER BY id""",
    "q_process_stream" ->
      """SELECT event_id AS id, user_id AS uid, event_type AS t, value AS v
         FROM events WHERE NOT (event_type = 'click' AND value < 50.0) ORDER BY id""",
    "q_subscription" ->
      """SELECT * FROM (
           SELECT 'subA' AS sub, event_id AS id FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT 'subB' AS sub, event_id AS id FROM events WHERE event_type = 'purchase'
         ) ORDER BY sub, id""",
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id AS uid, event_type AS t
         FROM events ORDER BY uid, t""",
    "q_remote" ->
      """SELECT n_name AS nname, count(c_custkey) AS ncust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS group_size
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q_dedup_ngram" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+4], ' ') for i in generate_series(1, len(t)-4)] END) AS s
           FROM toks
         )
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)/len(list_distinct(a.s || b.s)) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)/len(list_distinct(a.s || b.s)) >= 0.5
         ORDER BY id1, id2""",
    "q_text_stats" ->
      """SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS n_stop
         FROM documents ORDER BY doc_id""",
    "q_text_quality" ->
      """WITH f AS (
           SELECT doc_id,
                  length(text) AS n_chars,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
                  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
                  len(list_intersect(regexp_split_to_array(trim(lower(text)), '\s+'),
                      ['the', 'a', 'and', 'of', 'to', 'in', 'is'])) AS n_stop
           FROM documents
         )
         SELECT doc_id, n_tokens,
                CASE WHEN n_chars > 0
                     THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                     ELSE 0.0 END AS punct_ratio,
                CASE WHEN n_tokens > 0
                     THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     ELSE 0.0 END AS stopword_ratio,
                CASE WHEN n_tokens > 0
                     THEN CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                     ELSE 0.0 END AS mean_token_len
         FROM f ORDER BY doc_id""",
    // cluster canonicalization: the q_dedup_cc transitive closure plus
    // an arg_max keeper election on (n_chars, -doc_id)
    "q_dedup_canonical" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+4], ' ')
                        for i in generate_series(1, len(t)-4)] END) AS s
           FROM toks
         ), p AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)) >= 0.5
         ), e AS (
           SELECT id1 AS u, id2 AS v FROM p
           UNION SELECT id2, id1 FROM p
         ), reach AS (
           SELECT u, v FROM e
           UNION
           SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
         ), lbl AS (
           SELECT u AS doc_id, least(u, min(v)) AS component
           FROM reach GROUP BY u
         ), full_lbl AS (
           SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
           FROM documents d LEFT JOIN lbl l USING (doc_id)
         ), keep AS (
           -- composite BIGINT key = (n_chars desc, doc_id asc): doc_id
           -- stays far below the 1e10 stride at any fixture scale
           SELECT component,
                  arg_max(f.doc_id,
                    CAST(d.n_chars AS BIGINT) * 10000000000 - f.doc_id) AS keeper_id
           FROM full_lbl f JOIN documents d USING (doc_id)
           GROUP BY component
         )
         SELECT f.doc_id, f.component, k.keeper_id,
                f.doc_id = k.keeper_id AS is_keeper
         FROM full_lbl f JOIN keep k USING (component)
         ORDER BY f.doc_id""",
    // conversation pairs: the oracle rebuilds prompt/response pairs
    // straight from the token formula, bypassing JSON entirely
    "q_conv_pairs" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), n AS (
           SELECT doc_id, t, least(4, len(t) // 4) AS nt FROM toks WHERE len(t) >= 4
         )
         SELECT doc_id, CAST(i // 2 AS BIGINT) AS pair_idx,
                array_to_string(t[i*4+1 : i*4+4], ' ') AS prompt,
                array_to_string(t[(i+1)*4+1 : (i+1)*4+4], ' ') AS response
         FROM n, (SELECT unnest([0, 2]) AS i)
         WHERE i + 1 <= nt - 1
         ORDER BY doc_id, pair_idx""",
    // streaming z-score anomalies (r12, formerly rows-only): the
    // per-key Welford fold is a deterministic IEEE op SEQUENCE —
    // order-contracted to ascending (seq1, seq2) regardless of batch
    // boundaries — so a recursive CTE replays it op-for-op with ZERO
    // float tolerance (the q_pagerank precedent): mean/m2 updates,
    // sqrt, and the 3-sigma flag all bit-match. epoch_us(TIMESTAMP_NS)
    // floors to micros exactly like the engine's nanos DIV 1000.
    "q_stream_anomaly" ->
      """WITH RECURSIVE ev AS (
           SELECT CAST(user_id AS VARCHAR) AS k, epoch_us(ts) AS s1,
                  event_id AS s2, value AS v,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS rn
           FROM events),
         walk AS (
           SELECT k, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS n,
                  CAST(0.0 AS DOUBLE) AS mean, CAST(0.0 AS DOUBLE) AS m2,
                  CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS s2,
                  CAST(NULL AS DOUBLE) AS v, CAST(NULL AS DOUBLE) AS z,
                  FALSE AS flagged
           FROM (SELECT DISTINCT k FROM ev)
           UNION ALL
           SELECT w.k, e.rn, w.n + 1,
                  w.mean + (e.v - w.mean) / (w.n + 1),
                  w.m2 + (e.v - w.mean) *
                    (e.v - (w.mean + (e.v - w.mean) / (w.n + 1))),
                  e.s1, e.s2, e.v,
                  CASE WHEN w.n >= 8 AND sqrt(w.m2 / (w.n - 1)) > 0.0
                       THEN (e.v - w.mean) / sqrt(w.m2 / (w.n - 1)) END,
                  w.n >= 8 AND sqrt(w.m2 / (w.n - 1)) > 0.0
                    AND abs(e.v - w.mean) > 3.0 * sqrt(w.m2 / (w.n - 1))
           FROM walk w JOIN ev e ON e.k = w.k AND e.rn = w.rn + 1)
         SELECT k AS key, s1 AS seq1, s2 AS seq2, v AS value, z AS zscore
         FROM walk WHERE flagged ORDER BY key, seq1, seq2""",
    // streaming heavy hitters: capacity >> cardinality pins the
    // sketch in its exact regime (locked in-gate), so the drained
    // top-20 equals the exact batch counts
    "q_stream_topk" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS freq
         FROM events GROUP BY 1
         ORDER BY freq DESC, user_id ASC LIMIT 20""",
    // SFT rendering: the oracle rebuilds the rendered text and BOTH
    // token counts (prefix, full) from the raw conversation formula
    "q_sft_render" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), n AS (
           SELECT doc_id, t, least(4, len(t) // 4) AS nt FROM toks WHERE len(t) >= 4
         ), p AS (
           SELECT doc_id, CAST(i // 2 AS BIGINT) AS pair_idx,
                  array_to_string(t[i*4+1 : i*4+4], ' ') AS prompt,
                  array_to_string(t[(i+1)*4+1 : (i+1)*4+4], ' ') AS response
           FROM n, (SELECT unnest([0, 2]) AS i)
           WHERE i + 1 <= nt - 1
         )
         SELECT doc_id, pair_idx,
                'user: ' || prompt || ' assistant: ' || response AS text,
                CAST(len(regexp_split_to_array(
                  trim(lower('user: ' || prompt || ' assistant: ')), '\s+'))
                  AS BIGINT) AS loss_start,
                CAST(len(regexp_split_to_array(
                  trim(lower('user: ' || prompt || ' assistant: ' || response)), '\s+'))
                  AS BIGINT) AS n_tokens
         FROM p ORDER BY doc_id, pair_idx""",
    // preference pairs: rank windows rebuild chosen (score DESC, id ASC)
    // and rejected (score ASC, id DESC) — the deterministic tiebreaks
    // the max_by/min_by struct ordering encodes
    "q_pref_pairs" ->
      """WITH cand AS (
           SELECT doc_id // 4 AS prompt_id, doc_id AS resp_id, text AS response,
                  CAST(length(text) % 997 AS BIGINT) AS score
           FROM documents
         ), ranked AS (
           SELECT *,
                  row_number() OVER (PARTITION BY prompt_id
                                     ORDER BY score DESC, resp_id ASC) AS rc,
                  row_number() OVER (PARTITION BY prompt_id
                                     ORDER BY score ASC, resp_id DESC) AS rr,
                  count(*) OVER (PARTITION BY prompt_id) AS n_candidates
           FROM cand
         )
         SELECT c.prompt_id, c.response AS chosen, r.response AS rejected,
                c.resp_id AS chosen_id, r.resp_id AS rejected_id,
                c.score - r.score AS margin,
                CAST(c.n_candidates AS BIGINT) AS n_candidates
         FROM ranked c JOIN ranked r ON c.prompt_id = r.prompt_id
         WHERE c.rc = 1 AND r.rr = 1 AND c.score - r.score >= 1
         ORDER BY c.prompt_id""",
    // random projection: the oracle regenerates the formula-derived
    // matrix and folds in the same ascending-index double order
    "q_embed_project" ->
      """SELECT vec_id, CAST(j AS BIGINT) AS j,
                round(list_sum(list_transform(generate_series(1, len(embedding)),
                  i -> embedding[i] * (CAST((i*37 + j*101) % 211 - 105 AS DOUBLE) / 105.0))), 6)
                  AS proj
         FROM embeddings, (SELECT unnest(generate_series(1, 8)) AS j)
         ORDER BY vec_id, j""",
    // Gopher rule suite: every rule's verdict recomputed relationally —
    // exact-string replace counting, list_intersect stopword sets, the
    // same zero-word edge semantics (empty doc fails per-word rules).
    "q_gopher_rules" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
                  length(text) - length(replace(text, '#', '')) AS n_hash,
                  (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                  string_split(text, chr(10)) AS lns
           FROM documents
         ), g AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS wc,
                  n_hash, n_ell,
                  CAST(len(lns) AS BIGINT) AS n_lines,
                  len(list_filter(lns, l -> left(ltrim(l), 1) IN ('-', '*', '•'))) AS n_bullet,
                  len(list_filter(lns, l -> ends_with(rtrim(l), '...')
                                         OR ends_with(rtrim(l), '…'))) AS n_ell_lines,
                  len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
                  CAST(len(list_intersect(toks,
                    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop
           FROM f
         ), v AS (
           SELECT doc_id, n_words, wc, n_stop,
                  n_words >= 50 AND n_words <= 100000 AS r_word_count,
                  n_words > 0 AND CAST(wc AS DOUBLE)/n_words >= 3.0
                    AND CAST(wc AS DOUBLE)/n_words <= 10.0 AS r_mean_word_len,
                  n_words > 0 AND (n_hash + n_ell)/n_words <= 0.1 AS r_symbol_ratio,
                  CAST(n_bullet AS DOUBLE)/n_lines <= 0.9 AS r_bullet_lines,
                  CAST(n_ell_lines AS DOUBLE)/n_lines <= 0.3 AS r_ellipsis_lines,
                  n_words > 0 AND CAST(n_alpha AS DOUBLE)/n_words >= 0.8 AS r_alpha_words,
                  n_stop >= 2 AS r_stopwords
           FROM g
         )
         SELECT doc_id, n_words,
                round(CASE WHEN n_words > 0 THEN CAST(wc AS DOUBLE)/n_words ELSE 0.0 END, 4)
                  AS mean_word_len,
                n_stop AS n_req_stopwords,
                r_word_count, r_mean_word_len, r_symbol_ratio,
                r_bullet_lines, r_ellipsis_lines, r_alpha_words, r_stopwords,
                r_word_count AND r_mean_word_len AND r_symbol_ratio
                  AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
                  AND r_stopwords AS keep
         FROM v ORDER BY doc_id""",
    // Language-ID + quality score, fully oracle-backed: the heuristics
    // are deterministic SQL over token/char counts — CJK code-point
    // ratio, marker-lexicon overlap with argmax via struct sort (ties →
    // lexicographically largest lang code, the kernel's rule), and the
    // length×punct×stopword quality product. Marker lists must stay in
    // sync with TextAnalysis.langMarkers.
    "q_text_analyze" ->
      """WITH f AS (
           SELECT doc_id,
                  length(text) AS n_chars,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
                  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
                  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS n_cjk
           FROM documents
         ), s AS (
           SELECT doc_id, n_tokens, toks,
                  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END AS punct_ratio,
                  CASE WHEN n_tokens > 0
                       THEN CAST(len(list_intersect(toks, ['the','a','and','of','to','in','is'])) AS DOUBLE)/n_tokens
                       ELSE 0.0 END AS stopword_ratio,
                  CAST(n_cjk AS DOUBLE)/greatest(n_chars, 1) AS cjk_ratio,
                  CAST(greatest(n_tokens, 1) AS DOUBLE) AS ntokf
           FROM f
         ), l AS (
           SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
             CASE WHEN cjk_ratio > 0.2 THEN 'zh'
             ELSE (list_sort([
               {s: len(list_intersect(toks, ['the','and','of','to','a','in','is','that','it','for','table','key','value','row','scan','fast','slow','part']))/ntokf, l: 'en'},
               {s: len(list_intersect(toks, ['el','la','de','que','y','en','un','una','los','las','es','por','con','para','del','se']))/ntokf, l: 'es'},
               {s: len(list_intersect(toks, ['le','la','les','de','des','et','en','un','une','est','que','pour','dans','du','sur','avec']))/ntokf, l: 'fr'},
               {s: len(list_intersect(toks, ['der','die','das','und','in','den','von','zu','mit','ist','des','ein','eine','auf','für','nicht']))/ntokf, l: 'de'}
             ], 'DESC')[1]).l END AS lang_pred
           FROM s
         )
         SELECT doc_id, lang_pred,
                round(least(CAST(n_tokens AS DOUBLE)/20.0, 1.0)
                      * (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END)
                      * (CASE WHEN stopword_ratio > 0.01 THEN 1.0 ELSE 0.7 END), 4) AS quality,
                n_tokens
         FROM l ORDER BY doc_id""",
    // BPE-ish token budget: words + punct + one unit per FULL 6 chars
    // of long words; floor() on both sides (Spark cast truncates,
    // DuckDB cast rounds — floor is the portable spelling)
    "q_text_tokens" ->
      """WITH f AS (
           SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
                  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
           FROM documents
         )
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(n_tokens
                     + list_sum(list_transform(toks,
                         w -> greatest(0, CAST(floor((length(w) - 1) / 6.0) AS BIGINT))))
                     + n_punct AS BIGINT) AS n_subwords
         FROM f ORDER BY doc_id""",
    // repetition-rule quality stats: duplicated bigram/trigram
    // INSTANCES (count − distinct) and top-token share; same
    // tokenization convention as q_text_stats, exact integer counts,
    // one double division
    "q_text_repetition" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), g AS (
           SELECT doc_id, toks, len(toks) AS nt,
                  CASE WHEN len(toks) >= 2
                       THEN [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks)-1)]
                       ELSE CAST([] AS VARCHAR[]) END AS g2,
                  CASE WHEN len(toks) >= 3
                       THEN [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]
                       ELSE CAST([] AS VARCHAR[]) END AS g3
           FROM f
         )
         SELECT doc_id,
                CAST(nt AS BIGINT) AS n_tokens,
                CAST(len(g2) - len(list_distinct(g2)) AS BIGINT) AS n_dup2,
                CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS n_dup3,
                CASE WHEN nt > 0
                     THEN CAST(list_max(list_transform(list_distinct(toks),
                          d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE) / nt
                     ELSE 0.0 END AS top_tok_ratio
         FROM g ORDER BY doc_id""",
    // token-window chunking: budget 40, overlap 8 → stride 32; chunk i
    // covers tokens [i·32, i·32+40), count = max(1, ceil((n-8)/32));
    // span corruption: DuckDB replays the integer span-budget split
    // and the md5-PRF segmented placement formula exactly
    "q_span_corrupt" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
                  END AS n
           FROM documents
         ), p AS (
           SELECT doc_id, n,
                  greatest(1, (n * 1500) // 10000) AS n_noise
           FROM w WHERE n >= 1
         ), q AS (
           SELECT doc_id, n, n_noise,
                  greatest(1, n_noise // 3) AS n_spans
           FROM p
         ), e AS (
           SELECT doc_id, n, n_noise, n_spans,
                  n_noise // n_spans AS lbase, n_noise % n_spans AS extra,
                  n // n_spans AS seg,
                  unnest(generate_series(0, n_spans - 1)) AS span_idx
           FROM q
         ), f AS (
           SELECT doc_id, n, seg, span_idx,
                  least(lbase + CASE WHEN span_idx < extra THEN 1 ELSE 0 END,
                        seg) AS span_len
           FROM e
         ), g AS (
           SELECT doc_id, n, seg, span_idx, span_len,
                  CAST(('0x' || substr(md5('t5:' || CAST(doc_id AS VARCHAR) ||
                         ':' || CAST(span_idx AS VARCHAR)), 1, 4)) AS BIGINT)
                    % (seg - span_len + 1) AS off
           FROM f
         )
         SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx,
                CAST(span_idx * seg + off AS BIGINT) AS span_start,
                CAST(span_idx * seg + off + span_len AS BIGINT) AS span_end,
                CAST(n AS BIGINT) AS n_tokens
         FROM g ORDER BY doc_id, span_idx""",
    // duplicate spans: DuckDB groups the 8-token window STRINGS (no
    // hashing) and replays the island merge — validates the Spark
    // side's rolling-chain hashes end-to-end
    "q_dedup_spans" ->
      """WITH f AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents WHERE length(trim(text)) > 0
         ), g AS (
           SELECT doc_id, toks, len(toks) AS n FROM f WHERE len(toks) >= 8
         ), wnd AS (
           SELECT doc_id, toks, unnest(generate_series(1, n - 7)) AS i FROM g
         ), wtxt AS (
           SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS wt
           FROM wnd
         ), freq AS (
           SELECT wt FROM wtxt GROUP BY wt HAVING count(DISTINCT doc_id) >= 2
         ), flagged AS (
           SELECT w.doc_id, w.pos FROM wtxt w JOIN freq USING (wt)
         ), isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                       THEN 0 ELSE 1 END AS ns
           FROM flagged
         ), sp AS (
           SELECT doc_id, pos,
                  sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
           FROM isl
         )
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 8 AS BIGINT) AS span_end,
                CAST(count(*) AS BIGINT) AS n_windows
         FROM sp GROUP BY doc_id, si ORDER BY doc_id, span_start""",
    // concat-and-chunk: DuckDB replays the offsets with ONE window
    // cumsum (the Spark side computes them with the two-phase
    // distributed prefix sum — any bucket-boundary error shifts every
    // downstream span and fails the hash)
    "q_concat_chunks" ->
      """WITH w AS (
           SELECT doc_id,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
                   END) + 1 AS w
           FROM documents
         ), o AS (
           SELECT doc_id, w,
                  CAST(COALESCE(sum(w) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS off
           FROM w
         ), e AS (
           SELECT doc_id, w, off,
                  unnest(generate_series(off // 256, (off + w - 1) // 256)) AS chunk_id
           FROM o
         )
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
                CAST(greatest(0, chunk_id * 256 - off) AS BIGINT) AS tok_start,
                CAST(least(w, (chunk_id + 1) * 256 - off) AS BIGINT) AS tok_end
         FROM e ORDER BY chunk_id, doc_id""",
    // DuckDB replays the slice arithmetic (1-based inclusive slices =
    // Spark's slice(toks, s+1, budget))
    "q_text_chunks" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), c AS (
           SELECT doc_id, toks, len(toks) AS n,
                  CASE WHEN len(toks) = 0 THEN 0
                       ELSE greatest(1, CAST(ceil((len(toks) - 8) / 32.0) AS INT)) END AS nc
           FROM f
         )
         SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                array_to_string(toks[ci*32+1 : ci*32+40], ' ') AS chunk,
                CAST(len(toks[ci*32+1 : ci*32+40]) AS INT) AS chunk_tokens
         FROM c, unnest(generate_series(0, nc - 1)) AS u(ci)
         ORDER BY doc_id, chunk_idx""",
    // next-fit sequence packing: the sequential per-source fold (bin
    // breaks when fill + next > 200) replayed with a recursive CTE —
    // rn joins each step to its predecessor within the source
    "q_sequence_pack" ->
      """WITH RECURSIVE t AS (
           SELECT source, doc_id,
                  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS BIGINT)
                    AS n_tokens,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents
         ), r AS (
           SELECT source, rn, doc_id, n_tokens,
                  CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.source, t.rn, t.doc_id, t.n_tokens,
                  CASE WHEN r.fill + t.n_tokens > 200
                       THEN r.bin_idx + 1 ELSE r.bin_idx END,
                  CASE WHEN r.fill + t.n_tokens > 200
                       THEN t.n_tokens ELSE r.fill + t.n_tokens END
           FROM t JOIN r ON t.source = r.source AND t.rn = r.rn + 1
         )
         SELECT source, doc_id, n_tokens, bin_idx
         FROM r ORDER BY source, doc_id""",
    // decontamination: any shared 8-token shingle with the benchmark
    // subset (doc_id % 37 = 0) flags the document; DuckDB intersects
    // shingle strings (Spark joins their hashes — collision odds 2^-64)
    "q_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+7], ' ') for i in generate_series(1, len(t)-7)] END) AS s
           FROM toks
         ), bench AS (
           SELECT list_distinct(flatten(list(s))) AS bs FROM sh WHERE doc_id % 37 = 0
         )
         SELECT doc_id, len(list_intersect(s, bs)) > 0 AS contaminated
         FROM sh, bench ORDER BY doc_id""",
    // video demux round-trip: Spark synthesizes real MJPEG-in-AVI
    // containers (frame count / frame dims pure functions of doc_id),
    // demuxes the real movi chunk list, samples every 2nd frame, and
    // ImageIO-decodes each sampled frame's own JPEG bytes; DuckDB
    // recomputes the formulas — a wrong container write, chunk walk,
    // stride, or frame extraction all fail the hash
    "q_multimodal_frames" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST(2 + (doc_id * 5) % 9 AS INT) AS nf,
                  CAST(16 + (doc_id * 3) % 32 AS INT) AS fw,
                  CAST(16 + (doc_id * 13) % 32 AS INT) AS fh
           FROM documents
         )
         SELECT doc_id, nf, CAST(frame_idx AS INT) AS frame_idx, fw, fh
         FROM f, unnest(generate_series(0, nf - 1, 2)) AS u(frame_idx)
         ORDER BY doc_id, frame_idx""",
    // pixel-derived features: PNG is lossless, so decoded pixels equal
    // the render gradient exactly; DuckDB replays the mean-pooled 4×4
    // RGB grid over the formula — pixel v(x,y) = (doc_id·31 + y·13 +
    // x·7) mod 2²⁴, cell = ((y·4)//h, (x·4)//w), feature = one double
    // division of exact integer sums rounded once to float (REAL) —
    // the identical IEEE arithmetic the Scala kernel performs. All 48
    // dimensions of every vector are hash-checked
    "q_multimodal_features" ->
      """WITH dims AS (
           SELECT doc_id,
                  CAST(16 + (doc_id * 7) % 64 AS INT) AS w,
                  CAST(16 + (doc_id * 13) % 64 AS INT) AS h
           FROM documents
         ), px AS (
           SELECT doc_id, w, h, y.y AS y, x.x AS x,
                  (doc_id * 31 + y.y * 13 + x.x * 7) % 16777216 AS v
           FROM dims,
                unnest(generate_series(0, h - 1)) AS y(y),
                unnest(generate_series(0, w - 1)) AS x(x)
         ), ch AS (
           SELECT doc_id,
                  (((y * 4) // h) * 4 + ((x * 4) // w)) * 3 + c.c AS idx,
                  CASE c.c WHEN 0 THEN v // 65536
                           WHEN 1 THEN (v // 256) % 256
                           ELSE v % 256 END AS cval
           FROM px, unnest([0, 1, 2]) AS c(c)
         )
         SELECT doc_id, CAST(idx AS INT) AS idx,
                CAST(CAST(CAST(sum(cval) AS DOUBLE) / count(*) AS REAL) AS DOUBLE) AS val
         FROM ch GROUP BY doc_id, idx ORDER BY doc_id, idx""",
    // multimodal round-trip: Spark synthesizes real PNG/JPEG payloads
    // whose dimensions are a pure function of doc_id, then ImageIO
    // header-decodes, pixel-resizes (maxSide 32, floor scaling) and
    // re-decodes; DuckDB recomputes the dimension formulas from doc_id
    // independently — a wrong decode/resize/re-encode fails the hash
    "q_multimodal_meta" ->
      """SELECT doc_id, w, h, fmt,
                CAST(CASE WHEN greatest(w, h) <= 32 THEN w
                     ELSE greatest(1, floor(w * (32.0 / greatest(w, h)))) END AS INT) AS rw,
                CAST(CASE WHEN greatest(w, h) <= 32 THEN h
                     ELSE greatest(1, floor(h * (32.0 / greatest(w, h)))) END AS INT) AS rh
         FROM (
           SELECT doc_id,
                  CAST(16 + (doc_id * 7) % 64 AS INT) AS w,
                  CAST(16 + (doc_id * 13) % 64 AS INT) AS h,
                  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt
           FROM documents)
         ORDER BY doc_id""",
    // audio round-trip: real WAVs whose frame count / sample rate are
    // pure functions of doc_id; JDK decode reports them back, DuckDB
    // recomputes independently (floor + BIGINT casts per convention)
    "q_image_stats" ->
      """WITH dims AS (
           SELECT doc_id,
                  CAST(16 + (doc_id * 7) % 64 AS BIGINT) AS w,
                  CAST(16 + (doc_id * 13) % 64 AS BIGINT) AS h
           FROM documents
         ), px AS (
           SELECT doc_id, w, h, y.y AS y, x.x AS x,
                  (doc_id * 31 + y.y * 13 + x.x * 7) % 16777216 AS v
           FROM dims,
                unnest(generate_series(0, h - 1)) AS y(y),
                unnest(generate_series(0, w - 1)) AS x(x)
         ), l AS (
           SELECT doc_id, w, h, x, y,
                  299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256) AS l
           FROM px
         ), n AS (
           SELECT doc_id, w, h, x, y, l, l // 1000 AS l8,
                  lag(l // 1000)  OVER wx AS lxm, lead(l // 1000) OVER wx AS lxp,
                  lag(l // 1000)  OVER wy AS lym, lead(l // 1000) OVER wy AS lyp
           FROM l
           WINDOW wx AS (PARTITION BY doc_id, y ORDER BY x),
                  wy AS (PARTITION BY doc_id, x ORDER BY y)
         )
         SELECT doc_id,
                CAST(max(w) AS INT) AS w,
                CAST(max(h) AS INT) AS h,
                CAST(sum(l) AS BIGINT) AS sum_luma,
                CAST(sum(l * l) AS BIGINT) AS sum_luma_sq,
                CAST(sum(CASE WHEN x > 0 AND x < w - 1 AND y > 0 AND y < h - 1
                         THEN (4*l8 - lxm - lxp - lym - lyp) * (4*l8 - lxm - lxp - lym - lyp)
                         ELSE 0 END) AS BIGINT) AS lap_sq,
                CAST(sum(CASE WHEN l >= 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
                CAST(sum(CASE WHEN l <= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_under
         FROM n GROUP BY doc_id ORDER BY doc_id""",
    "q_audio_stats" ->
      """WITH f AS (
           SELECT doc_id, CAST(800 + (doc_id * 11) % 1600 AS BIGINT) AS frames
           FROM documents
         ), s AS (
           SELECT doc_id, unnest(generate_series(0, frames - 1)) AS i FROM f
         ), v AS (
           SELECT doc_id, i,
                  (doc_id * 31 + i * 7919 + (i * i) % 97) % 65536 - 32768 AS v
           FROM s
         ), c AS (
           SELECT doc_id, i, v,
                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
           FROM v
         )
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_samples,
                CAST(max(abs(v)) AS INT) AS peak,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                CAST(sum(CASE WHEN abs(v) >= 32767 THEN 1 ELSE 0 END) AS BIGINT) AS clip_count
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_multimodal_audio" ->
      """SELECT doc_id,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS INT) AS rate,
                CAST(1 AS INT) AS ch,
                CAST(800 + (doc_id * 11) % 1600 AS BIGINT) AS frames,
                CAST(floor((800 + (doc_id * 11) % 1600) * 1000.0
                  / (CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END)) AS BIGINT) AS dur_ms
         FROM documents ORDER BY doc_id""",
    "q_sim_bruteforce" ->
      """SELECT query_id, item_id FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS item_id,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                    CAST(b.embedding AS DOUBLE[])) DESC,
                             b.vec_id) AS rn
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           WHERE a.vec_id < 200
         ) WHERE rn = 1 ORDER BY query_id""",
    // per-source quota cap: longest docs win, doc_id tiebreak
    "q_source_cap" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM documents
         ) WHERE rn <= 50 ORDER BY doc_id""",
    // deterministic hash split: md5 agrees byte-for-byte across
    // engines; bucket = first 4 hex digits mod 100
    "q_split_hash" ->
      """WITH b AS (
           SELECT n_chars,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100
                    AS bucket
           FROM documents
         )
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM b GROUP BY 1 ORDER BY split""",
    // the full curation DAG replayed in SQL: quality filter → md5
    // min-id dedup → per-source cap 50 → hash split → rollup. Quality
    // formula and CAST/floor conventions match q_text_analyze /
    // q_split_hash (BIGINT casts keep HUGEINT away from the pandas
    // bridge)
    "q_pipeline_curate" ->
      """WITH f AS (
           SELECT doc_id, source, n_chars, text,
                  length(text) AS tlen,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
                  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
           FROM documents
         ), q AS (
           SELECT doc_id, source, n_chars, text,
                  round(least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
                    * (CASE WHEN (CASE WHEN tlen > 0
                         THEN CAST(n_punct AS DOUBLE) / tlen ELSE 0.0 END) < 0.2
                       THEN 1.0 ELSE 0.5 END)
                    * (CASE WHEN (CASE WHEN n_tokens > 0
                         THEN CAST(len(list_intersect(
                                regexp_split_to_array(trim(lower(text)), '\s+'),
                                ['the','a','and','of','to','in','is'])) AS DOUBLE) / n_tokens
                         ELSE 0.0 END) > 0.01
                       THEN 1.0 ELSE 0.7 END), 4) AS quality
           FROM f
         ), qual AS (
           SELECT * FROM q WHERE quality >= 0.5
         ), dedup AS (
           SELECT * FROM qual
           WHERE doc_id IN (SELECT min(doc_id) FROM qual GROUP BY md5(text))
         ), capped AS (
           SELECT doc_id, source, n_chars FROM (
             SELECT doc_id, source, n_chars,
                    row_number() OVER (PARTITION BY source
                      ORDER BY n_chars DESC, doc_id ASC) AS rn
             FROM dedup) WHERE rn <= 50
         )
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM (SELECT *,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100
                   AS bucket
               FROM capped)
         GROUP BY 1, 2 ORDER BY split, source""",
    // salted skew join: must equal the plain join's rollup exactly
    "q_join_salted" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                sum(l_quantity) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    // time travel: each committed snapshot recomputed from the base
    // table — manifests must be immutable history
    "q_time_travel" ->
      """SELECT 'v1_clicks' AS snapshot, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS sum_value
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT 'v2_plus_purchases', CAST(count(*) AS BIGINT),
                round(sum(value), 2)
         FROM events WHERE event_type IN ('click', 'purchase')
         UNION ALL
         SELECT 'v3_after_delete', CAST(count(*) AS BIGINT),
                round(sum(value), 2)
         FROM events WHERE event_type IN ('click', 'purchase')
           AND NOT (value < 10.0)
         ORDER BY snapshot""",
    // stream-stream interval join: inner matches emit on arrival, so
    // the drained result is the batch interval join
    "q_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id,
                p.user_id AS user_id, p.value AS p_value
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         ORDER BY p_id, c_id""",
    // stream-stream LEFT OUTER interval join: matched rows emit on
    // arrival; a null row emits once the GLOBAL watermark (min of the
    // two inputs' max ts, minus the 10-min delay — Spark's
    // multipleWatermarkPolicy=min) passes the purchase's latest
    // possible match time (its own ts). Verified empirically: the one
    // unmatched purchase above the min-watermark stays unemitted
    "q_stream_join_outer" ->
      """WITH p AS (
           SELECT event_id AS p_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'
         ), c AS (
           SELECT event_id AS c_id, user_id AS c_uid, ts AS c_ts FROM events
           WHERE event_type = 'click'
         ), wm AS (
           SELECT least((SELECT max(ts) FROM p), (SELECT max(c_ts) FROM c))
                  - INTERVAL 10 MINUTE AS w
         )
         SELECT p_id, c_id, user_id, p_value FROM (
           SELECT p.p_id, c.c_id, p.user_id, p.value AS p_value, p.ts AS p_ts
           FROM p LEFT JOIN c
             ON p.user_id = c.c_uid
            AND c.c_ts >= p.ts - INTERVAL 6 HOUR AND c.c_ts <= p.ts
         ) j, wm
         WHERE j.c_id IS NOT NULL OR j.p_ts < wm.w
         ORDER BY p_id, c_id NULLS FIRST""",
    // stream-static enrichment: the oracle is the identical batch
    // left join — streaming adds no semantics, only per-batch re-plan
    "q_stream_enrich" ->
      """SELECT event_id, user_id, c_mktsegment, value
         FROM events LEFT JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",
    // exact percentiles: Spark's native `percentile` aggregate and
    // DuckDB's quantile_cont share the continuous-interpolation rule
    "q_percentiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.5), 2) AS p50,
                round(quantile_cont(value, 0.9), 2) AS p90,
                round(quantile_cont(value, 0.99), 2) AS p99
         FROM events GROUP BY 1 ORDER BY event_type""",
    // deterministic uniform k-sample: DuckDB reproduces the salted
    // md5 order and takes the same 100 rows
    "q_sample_topk" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars
           FROM documents
           ORDER BY md5('uks:' || CAST(doc_id AS VARCHAR)) LIMIT 100)
         ORDER BY doc_id""",
    // gap-based sessionization: the island rule (a >= 4h silence
    // starts a new session) replayed with lag + running sum; Spark's
    // native session_window must produce the identical partition
    "q_sessionize" ->
      """WITH x AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 4 HOUR
                       THEN 1 ELSE 0 END AS is_new
           FROM events
         ), sess AS (
           SELECT user_id, ts, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM x
         )
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                CAST(count(*) AS BIGINT) AS n_events,
                round(sum(value), 2) AS sum_value
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    // streaming sessionization: same islands, restricted to sessions
    // the final watermark finalized (end + gap <= max ts - delay) —
    // the exactly-once Append contract
    "q_stream_session" ->
      """WITH x AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 4 HOUR
                       THEN 1 ELSE 0 END AS is_new
           FROM events
         ), sess AS (
           SELECT user_id, ts, value,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM x
         ), agg AS (
           SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                  CAST(count(*) AS BIGINT) AS n_events,
                  round(sum(value), 2) AS sum_value
           FROM sess GROUP BY user_id, sid
         )
         SELECT user_id, session_start, session_end, n_events, sum_value
         FROM agg
         WHERE session_end + INTERVAL 4 HOUR
               <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
         ORDER BY user_id, session_start""",
    // near-dup cluster resolution: DuckDB replays the n-gram pair
    // graph (true Jaccard, same params as q_dedup_ngram) and computes
    // components as min reachable id via recursive transitive closure
    // — the declarative spec the alternating-star rounds must equal
    "q_dedup_cc" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+4], ' ')
                        for i in generate_series(1, len(t)-4)] END) AS s
           FROM toks
         ), p AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)) >= 0.5
         ), e AS (
           SELECT id1 AS u, id2 AS v FROM p
           UNION SELECT id2, id1 FROM p
         ), reach AS (
           SELECT u, v FROM e
           UNION
           SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
         ), lbl AS (
           SELECT u AS doc_id, least(u, min(v)) AS component
           FROM reach GROUP BY u
         ), full_lbl AS (
           SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
           FROM documents d LEFT JOIN lbl l USING (doc_id)
         )
         SELECT f.doc_id, f.component, CAST(c.n AS BIGINT) AS n_members
         FROM full_lbl f
         JOIN (SELECT component, count(*) AS n FROM full_lbl GROUP BY 1) c
           USING (component)
         ORDER BY f.doc_id""",
    // PII redaction: the oracle rebuilds the redacted text and the
    // counts FROM THE FIXTURE FORMULA (no regex on the DuckDB side) —
    // the Spark kernel must find exactly the injected spans with its
    // generic email/phone/IPv4 patterns and nothing else
    "q_pii_redact" ->
      """SELECT doc_id,
                text
                  || repeat(' mail <EMAIL>', CAST(doc_id % 3 AS INT))
                  || repeat(' call <PHONE>', CAST(doc_id % 2 AS INT))
                  || repeat(' host <IP>', CAST(1 + doc_id % 2 AS INT)) AS redacted,
                CAST(doc_id % 3 AS BIGINT) AS n_emails,
                CAST(doc_id % 2 AS BIGINT) AS n_phones,
                CAST(1 + doc_id % 2 AS BIGINT) AS n_ips
         FROM documents ORDER BY doc_id""",
    // URL extraction + domain blocklist: hosts and the blocked flag
    // recomputed from the fixture formula — no URL parsing on the
    // oracle side
    "q_url_filter" ->
      """WITH f AS (
           SELECT doc_id,
                  'site' || CAST(doc_id % 10 AS VARCHAR) || '.ex'
                    || CAST(doc_id % 3 AS VARCHAR) || '.org' AS h1,
                  CASE WHEN doc_id % 2 = 1
                       THEN 'cdn' || CAST(doc_id % 5 AS VARCHAR) || '.ex'
                            || CAST(doc_id % 7 AS VARCHAR) || '.net' END AS h2
           FROM documents
         )
         SELECT doc_id,
                CAST(CASE WHEN h2 IS NULL THEN 1 ELSE 2 END AS BIGINT) AS n_urls,
                CASE WHEN h2 IS NULL THEN h1
                     ELSE array_to_string(list_sort([h1, h2]), ',') END AS hosts,
                (h1 IN ('site0.ex0.org', 'site3.ex0.org', 'cdn1.ex2.net')
                 OR coalesce(h2 IN ('site0.ex0.org', 'site3.ex0.org',
                                    'cdn1.ex2.net'), false)) AS blocked
         FROM f ORDER BY doc_id""",
    // boilerplate-line removal: 6-token-window lines, any line in
    // >= 3 distinct docs dropped everywhere, doc reassembled from
    // survivors in order; DuckDB counts/joins the line STRINGS where
    // Spark joins their xxhash64s
    "q_boilerplate" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
           FROM documents
         ), ln AS (
           SELECT doc_id, i AS pos, array_to_string(t[i*6+1 : i*6+6], ' ') AS line
           FROM f, unnest(generate_series(0,
                  CAST(ceil(len(t) / 6.0) AS INT) - 1)) AS u(i)
         ), freq AS (
           SELECT line FROM (
             SELECT line, count(DISTINCT doc_id) AS nd FROM ln GROUP BY 1)
           WHERE nd >= 3
         ), kept AS (
           SELECT doc_id, pos, line FROM ln
           WHERE line NOT IN (SELECT line FROM freq)
         ), agg AS (
           SELECT doc_id,
                  array_to_string(list(line ORDER BY pos), ' ') AS cleaned,
                  count(*) AS n_kept
           FROM kept GROUP BY 1
         ), tot AS (
           SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1
         )
         SELECT f.doc_id,
                coalesce(agg.cleaned, '') AS cleaned,
                CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
                CAST(coalesce(tot.n_lines, 0) - coalesce(agg.n_kept, 0) AS BIGINT)
                  AS n_dropped
         FROM f LEFT JOIN agg USING (doc_id) LEFT JOIN tot USING (doc_id)
         ORDER BY doc_id""",
    // weighted sampling without replacement: DuckDB replays the A-ES
    // priorities (ln(md5-uniform)/weight, top-k)
    "q_sample_weighted" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars
           FROM documents
           WHERE n_chars > 0
           ORDER BY ln((CAST(('0x' || substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 4))
                             AS INT) % 10000 + 1) / 10001.0)
                    / n_chars DESC
           LIMIT 100)
         ORDER BY doc_id""",
    // stratified sampling: DuckDB reproduces the exact md5-bucketed
    // sample (salted key, per-source basis-point thresholds), then
    // aggregates the survivors per source
    "q_sample_stratified" ->
      """WITH b AS (
           SELECT source, n_chars,
                  CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 4))
                       AS INT) % 10000 AS bucket
           FROM documents
         )
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         FROM b
         WHERE bucket < CASE source WHEN 'src0' THEN 10000 WHEN 'src5' THEN 5000
                                    WHEN 'src10' THEN 2500 WHEN 'src15' THEN 500
                                    ELSE 6000 END
         GROUP BY 1 ORDER BY source""",
    // fuzzy join: DuckDB rebuilds the fixture strings from the same
    // md5 formula and brute-forces ALL pairs with its own levenshtein
    // — the symmetric-delete blocking must be lossless and the
    // distance exact or the hash fails
    "q_fuzzy_join" ->
      """WITH s AS (
           SELECT doc_id,
                  substr(md5('fz:' || CAST(doc_id // 5 AS VARCHAR)), 1,
                         12 - CAST(doc_id % 5 AS INT))
                  || substr(md5('m:' || CAST(doc_id AS VARCHAR)), 1,
                            CAST(doc_id % 5 AS INT)) AS s
           FROM documents
         )
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.s, b.s) <= 2
         ORDER BY id1, id2""",
    // BM25: identical formula, term order, and left-to-right term sum
    // (round(...,4) compares the doubles); corpus stats via one CTE
    "q_bm25" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
           FROM documents
         ), g AS (
           SELECT doc_id, len(t) AS dl,
                  len(list_filter(t, w -> w = 'table')) AS tf0,
                  len(list_filter(t, w -> w = 'scan'))  AS tf1,
                  len(list_filter(t, w -> w = 'fast'))  AS tf2,
                  len(list_filter(t, w -> w = 'key'))   AS tf3,
                  len(list_filter(t, w -> w = 'slow'))  AS tf4
           FROM f
         ), st AS (
           SELECT count(*) AS n, sum(dl) AS sumdl,
                  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                  sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3,
                  sum(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS df4
           FROM g
         ), scored AS (
           SELECT doc_id, round(
               ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*2.2) / (tf0 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*2.2) / (tf1 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df2 + 0.5)/(df2 + 0.5)) * (tf2*2.2) / (tf2 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df3 + 0.5)/(df3 + 0.5)) * (tf3*2.2) / (tf3 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df4 + 0.5)/(df4 + 0.5)) * (tf4*2.2) / (tf4 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             , 4) AS score
           FROM g, st
         )
         SELECT doc_id, score, rank FROM (
           SELECT doc_id, score,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
           FROM scored
         ) WHERE rank <= 50 ORDER BY doc_id""",
    // indexed grep: the oracle is a raw-text scan — index + probe +
    // verify must reproduce it exactly
    "q_grep_index" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id % 2 = 0 AND contains(text, 'scan the')
         ORDER BY doc_id""",
    // semantic dedup, exact variant: DuckDB recomputes every pairwise
    // cosine over the bounded id range and the transitive closure
    // (same recursive-CTE component spec as q_dedup_cc)
    "q_dedup_semantic" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 2000
         ), p AS (
           SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.4
         ), ed AS (
           SELECT id1 AS u, id2 AS v FROM p
           UNION SELECT id2, id1 FROM p
         ), reach AS (
           SELECT u, v FROM ed
           UNION
           SELECT r.u, e2.v FROM reach r JOIN ed e2 ON r.v = e2.u
         ), lbl AS (
           SELECT u AS vec_id, least(u, min(v)) AS component
           FROM reach GROUP BY u
         ), full_lbl AS (
           SELECT d.vec_id, coalesce(l.component, d.vec_id) AS component
           FROM (SELECT vec_id FROM embeddings WHERE vec_id < 2000) d
           LEFT JOIN lbl l USING (vec_id)
         )
         SELECT f.vec_id, f.component, CAST(c.n AS BIGINT) AS n_members
         FROM full_lbl f
         JOIN (SELECT component, count(*) AS n FROM full_lbl GROUP BY 1) c
           USING (component)
         ORDER BY f.vec_id""",
    // SemDeDup k-means cells (r17 promotion): cell assignment + exact
    // within-cell cosine replayed from the gate-persisted NORMALIZED
    // codebook (__GRAFT_AUX__ — Verify substitutes the absolute aux
    // path; the codebook is the one artifact SQL cannot re-derive).
    // Ranking is the kernel's rule exactly: dot product against the
    // normalized centroid, descending, ties to the LOWER cell, top-2
    // probes. The planted probe rows never appear here: the output
    // filters to original-corpus pairs, and per-vector assignment is
    // independent of the rest of the corpus, so only the codebook
    // carries their influence — exactly what the aux file captures.
    "q_dedup_kmeans" ->
      """WITH cents AS MATERIALIZED (
           SELECT cell, cent
           FROM read_parquet('__GRAFT_AUX__/kmeans_codebook.parquet/*.parquet')
         ), e AS MATERIALIZED (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), assigned AS MATERIALIZED (
           SELECT vec_id, v, cell FROM (
             SELECT e.vec_id, e.v, c.cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.v, c.cent) DESC, c.cell) AS rn
             FROM e CROSS JOIN cents c)
           WHERE rn <= 2
         ), pairs AS (
           SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
                  list_cosine_similarity(a.v, b.v) AS cos
           FROM assigned a JOIN assigned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.4
         )
         SELECT id1, id2, round(cos, 4) AS cosine FROM pairs
         ORDER BY id1, id2""",
    // IVF top-k family (r17 promotion, same aux-codebook mechanism):
    // all three gates return the identical logical ranking — corpus
    // assigned to its nearest cell, queries (vec_id < 200) probing
    // their 4 nearest cells, candidates scored by exact cosine, top-3
    // per query with item_id tie-break — over the FULL corpus
    // (q_sim_ivf in memory; _indexed over the persisted
    // cell-partitioned index, asserted row-identical in-gate;
    // _append over an even/odd build+append of the same corpus, same
    // assertion). Each gate persists its own trained codebook.
    "q_sim_ivf" -> ivfOracle("ivf_codebook"),
    "q_sim_ivf_indexed" -> ivfOracle("ivf_indexed_codebook"),
    "q_sim_ivf_append" -> ivfOracle("ivf_append_codebook"),
    // PQ ANN (r17 promotion): sub-codebooks persisted in raw +
    // normalized form via the aux channel; the replay normalizes each
    // corpus vector through the engine's exact float round-trip,
    // encodes each 8-dim slice by (dot vs normalized sub-centroid
    // desc, cell asc), builds per-query LUTs from the RAW centroids
    // against the (double-precision) normalized query, sums the ADC
    // as an explicit left-associative 8-term expression (the kernel's
    // j-order), pools top-48 by (adc desc, item_id), exact-cosine
    // re-ranks to top 3. The brute-force recall floor stays in-gate.
    "q_sim_pq" -> pqOracle(m = 8, ksub = 256, subDim = 8),
    // Hyperplane-LSH embedding near-dup survivors (r17 promotion): the
    // planes are formula-derived, so the WHOLE pipeline — auto-sized
    // planes, 12-table signatures, 2000-cap bucket drop, candidate
    // pairing, exact-cosine ≥ 0.9 verify, min-id-keeps greedy drop —
    // replays in SQL with no aux artifact at all. The planted-probe
    // recall floors stay engine-side (they assert on a separate
    // sliced+planted corpus that never reaches this output).
    "q_dedup_embed" ->
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ),
         ${lshSigCtes(tables = 12, occupancy = 32)},
         okb AS (SELECT tbl, sig FROM sig GROUP BY tbl, sig
                 HAVING count(*) <= 2000),
         banded AS (SELECT s.vec_id, s.tbl, s.sig
                    FROM sig s JOIN okb USING (tbl, sig)),
         cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
                  FROM banded a JOIN banded b USING (tbl, sig)
                  WHERE a.vec_id < b.vec_id),
         dropped AS (SELECT DISTINCT c.id2 AS vec_id
                     FROM cand c
                     JOIN e ea ON ea.vec_id = c.id1
                     JOIN e eb ON eb.vec_id = c.id2
                     WHERE list_cosine_similarity(ea.v, eb.v) >= 0.9)
         SELECT e.vec_id, e.label FROM e
         LEFT JOIN dropped d ON d.vec_id = e.vec_id
         WHERE d.vec_id IS NULL ORDER BY e.vec_id""",
    // LSH top-k (r17 promotion, same machinery at the 8-table /
    // occupancy-128 operating point): every bucket-sharing ordered
    // pair scored by exact cosine, row_number (cosine desc, item_id)
    // per query, top 3. The planted-neighbor recall probe stays
    // engine-side (separate synthetic corpus).
    "q_sim_lsh" ->
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ),
         ${lshSigCtes(tables = 8, occupancy = 128)},
         cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS item_id
                  FROM sig a JOIN sig b USING (tbl, sig)
                  WHERE a.vec_id <> b.vec_id),
         scored AS (SELECT c.query_id, c.item_id,
                           list_cosine_similarity(ei.v, eq.v) AS cos
                    FROM cand c
                    JOIN e eq ON eq.vec_id = c.query_id
                    JOIN e ei ON ei.vec_id = c.item_id)
         SELECT query_id, item_id, CAST(rank AS INTEGER) AS rank FROM (
           SELECT query_id, item_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, item_id) AS rank
           FROM scored)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    // bigram LM: same add-alpha statistics (bigram-start contexts,
    // distinct-token vocabulary) and the same ln arithmetic; docs
    // with < 2 tokens score (0, 0.0)
    "q_lm_score" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
           FROM documents
         ), inst AS (
           SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
           FROM f, unnest(generate_series(1, len(t) - 1)) AS u(i)
           WHERE len(t) >= 2
         ), cb AS (
           SELECT w1, w2, count(*) AS cb FROM inst GROUP BY 1, 2
         ), cs AS (
           SELECT w1, count(*) AS cs FROM inst GROUP BY 1
         ), voc AS (
           SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM f)
         ), scored AS (
           SELECT i.doc_id, ln((cb.cb + 0.1) / (cs.cs + 0.1 * voc.v)) AS lp
           FROM inst i JOIN cb USING (w1, w2) JOIN cs USING (w1), voc
         ), agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                  -avg(lp) AS nll
           FROM scored GROUP BY 1
         )
         SELECT d.doc_id,
                coalesce(a.n_bigrams, 0) AS n_bigrams,
                round(coalesce(a.nll, 0.0), 4) AS nll
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id""",
    // as-of join: most recent same-user click at or before each
    // purchase; ties on click ts broken by largest event_id — the same
    // (ts, id) max the Spark window's last() picks
    "q_asof_join" ->
      """SELECT id, uid, click_id, click_ts FROM (
           SELECT p.event_id AS id, p.user_id AS uid,
                  c.event_id AS click_id, c.ts AS click_ts,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON c.user_id = p.user_id AND c.ts <= p.ts
         ) WHERE rn = 1 ORDER BY id""",
    // followed-by pattern: first same-user purchase at-or-after each
    // error, within the 1h horizon; gap = difference of floored epochs
    "q_pattern_seq" ->
      """SELECT err_id, uid, p_id, gap_sec FROM (
           SELECT e.event_id AS err_id, e.user_id AS uid,
                  p.event_id AS p_id,
                  CAST(floor(epoch(p.ts)) AS BIGINT)
                    - CAST(floor(epoch(e.ts)) AS BIGINT) AS gap_sec,
                  row_number() OVER (PARTITION BY e.event_id
                    ORDER BY p.ts ASC, p.event_id ASC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'error') e
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             ON p.user_id = e.user_id
            AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
         ) WHERE rn = 1 ORDER BY err_id""",
    // range join: purchases inside [error_ts, error_ts + 1h) per error
    "q_range_join" ->
      """SELECT er.event_id AS err_id, count(*) AS n_purch,
                round(sum(p.value), 2) AS sum_value
         FROM (SELECT * FROM events WHERE event_type = 'error') er
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON p.ts >= er.ts AND p.ts < er.ts + INTERVAL 1 HOUR
         GROUP BY 1 ORDER BY 1""",
    "q_rollup" ->
      """SELECT l_returnflag AS f, l_linestatus AS st,
                sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY f NULLS FIRST, st NULLS FIRST""",
    // CUBE: same bitmask convention (first grouping col = high bit)
    "q_cube" ->
      """SELECT l_returnflag AS f, l_linestatus AS st,
                sum(l_quantity) AS sum_qty, count(*) AS n,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, f NULLS FIRST, st NULLS FIRST""",
    // pivot with an explicit value list = one conditional-sum pass
    "q_pivot" ->
      """SELECT o_orderpriority,
                round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS "F",
                round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS "O",
                round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // posexplode: DuckDB replays positions via generate_series (same
    // whitespace tokenization convention as the text gates)
    "q_explode" ->
      """WITH f AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
           WHERE doc_id % 25 = 0 AND length(trim(text)) > 0
         )
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok
         FROM f, unnest(generate_series(1, len(t))) AS u(i)
         ORDER BY doc_id, pos""",
    // time-range window: both engines floor sub-second epoch parts,
    // so the RANGE frames contain the same peer sets
    "q_window_time_range" ->
      """SELECT user_id, event_id, n_1h, sum_1h FROM (
           SELECT user_id, event_id,
                  count(*) OVER w AS n_1h,
                  round(sum(value) OVER w, 2) AS sum_1h
           FROM (SELECT user_id, event_id, value,
                        CAST(floor(epoch(ts)) AS BIGINT) AS e
                 FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY e
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ) ORDER BY user_id, event_id""",
    // ntile remainder rule and percent_rank's exact (rank-1)/(n-1)
    // are SQL-standard in both engines
    "q_ntile" ->
      """SELECT doc_id, source, n_chars,
                ntile(4) OVER w AS quartile,
                percent_rank() OVER w AS pr
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
         ORDER BY doc_id""",
    // deterministic grouped collect: sorted id list as one string
    "q_collect_list" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                array_to_string(list(doc_id ORDER BY doc_id), ',') AS ids
         FROM documents GROUP BY source ORDER BY source""",
    // moment statistics: shared co-moment formulas, round(4) absorbs
    // accumulation-order ulps
    "q_stats_numeric" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(stddev_samp(value), 4) AS sd,
                round(var_samp(value), 4) AS vr,
                round(corr(value, CAST(floor(epoch(ts)) AS BIGINT)), 4) AS cr
         FROM events GROUP BY event_type ORDER BY event_type""",
    // z-order rewrite round-trip: lossless by hash
    "q_zorder" ->
      """SELECT event_id, user_id, value FROM events ORDER BY event_id""",
    // equi-width histogram: shared floor-bin arithmetic
    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
                CAST(floor(value / 50.0) AS BIGINT) * 50.0 AS bin_lo,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, bin""",
    // winsorized aggregates: quantile_cont shares Spark percentile's
    // continuous-interpolation rule (established by q_percentiles)
    "q_quantile_clamp" ->
      """WITH b AS (
           SELECT event_type,
                  quantile_cont(value, 0.05) AS p05,
                  quantile_cont(value, 0.95) AS p95
           FROM events GROUP BY event_type
         )
         SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(greatest(b.p05, least(b.p95, e.value))), 2) AS sum_clamped,
                round(avg(greatest(b.p05, least(b.p95, e.value))), 2) AS avg_clamped
         FROM events e JOIN b USING (event_type)
         GROUP BY e.event_type ORDER BY e.event_type""",
    // full outer join: both null sides exercised
    "q_outer_join" ->
      """SELECT coalesce(o_custkey, c_custkey) AS ck, o_orderkey AS ok,
                o_totalprice AS price, c_name AS nm
         FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE o_orderpriority = '1-URGENT') o
         FULL OUTER JOIN (SELECT c_custkey, c_name FROM customer
                          WHERE c_acctbal > 9000) c
           ON o_custkey = c_custkey
         ORDER BY ck, ok NULLS FIRST""",
    // retrieval + quality fusion: the cosine ranking (q_sim_bruteforce
    // spec) composed with the quality formula (q_text_analyze spec)
    "q_rag_retrieve" ->
      """WITH f AS (
           SELECT doc_id,
                  length(text) AS tlen,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
                  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
           FROM documents
         ), q AS (
           SELECT doc_id,
                  round(least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
                    * (CASE WHEN (CASE WHEN tlen > 0
                         THEN CAST(n_punct AS DOUBLE) / tlen ELSE 0.0 END) < 0.2
                       THEN 1.0 ELSE 0.5 END)
                    * (CASE WHEN (CASE WHEN n_tokens > 0
                         THEN CAST(len(list_intersect(toks,
                                ['the','a','and','of','to','in','is'])) AS DOUBLE) / n_tokens
                         ELSE 0.0 END) > 0.01
                       THEN 1.0 ELSE 0.7 END), 4) AS quality
           FROM f
         ), r AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                    row_number() OVER (PARTITION BY a.vec_id
                      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                      CAST(b.embedding AS DOUBLE[])) DESC,
                               b.vec_id) AS rank
             FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
             WHERE a.vec_id < 50
           ) WHERE rank <= 3
         )
         SELECT r.query_id, r.doc_id, CAST(r.rank AS BIGINT) AS rank, q.quality
         FROM r JOIN q USING (doc_id)
         WHERE q.quality >= 0.5
         ORDER BY query_id, rank""",
    // string-function parity, value-for-value
    "q_string_funcs" ->
      """SELECT p_partkey,
                upper(p_name) AS up,
                CAST(length(p_name) AS BIGINT) AS len,
                regexp_replace(p_type, ' ', '_', 'g') AS undered,
                lpad(CAST(p_size AS VARCHAR), 5, '0') AS padded,
                reverse(p_brand) AS rev,
                translate(p_type, 'AEIOU', 'aeiou') AS xlat,
                regexp_extract(p_type, '^([A-Z]+)', 1) AS first_word
         FROM part ORDER BY p_partkey""",
    // datetime parity: calendar algebra, no floats
    "q_datetime_funcs" ->
      """SELECT o_orderkey,
                CAST(year(d) AS BIGINT) AS y,
                CAST(month(d) AS BIGINT) AS m,
                CAST(day(d) AS BIGINT) AS dom,
                strftime(d + 30, '%Y-%m-%d') AS plus30,
                strftime(last_day(d), '%Y-%m-%d') AS eom,
                strftime(CAST(date_trunc('month', d) AS DATE), '%Y-%m-%d') AS som,
                CAST(datediff('day', DATE '1995-01-01', d) AS BIGINT) AS dd,
                CAST(isodow(d) AS BIGINT) AS isodow
         FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
         ORDER BY o_orderkey""",
    "q_rank_analytics" ->
      """SELECT o_custkey AS ck, o_orderkey AS ok,
                row_number() OVER w AS rn,
                round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS price_delta
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY ck, ok""",
    "q_freq_topk" ->
      """SELECT p_brand, p_type, count(*) AS freq
         FROM part GROUP BY 1, 2
         ORDER BY freq DESC, p_brand ASC, p_type ASC LIMIT 10""",
    // the sketch family's oracle row (r12): exact distinct counts are
    // plain SQL; the HLL 2×rsd accuracy check rides the query as an
    // in-gate require (DuckDB count(DISTINCT) is already BIGINT — no
    // HUGEINT cast needed)
    "q_sketch_distinct_exact" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_d
         FROM events GROUP BY 1 ORDER BY event_type""",
    // exact quantiles by rank selection: the value AT rank ceil(p*n)
    // is tie-order-independent and passes through unrounded; ceil(p*n)
    // is the same IEEE double product on both engines
    "q_sketch_quantiles_exact" ->
      """WITH ranked AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL)
         SELECT event_type,
                max(CASE WHEN rk = CAST(least(ceil(0.5 * n), n) AS BIGINT)
                    THEN value END) AS p50_exact,
                max(CASE WHEN rk = CAST(least(ceil(0.95 * n), n) AS BIGINT)
                    THEN value END) AS p95_exact,
                max(CASE WHEN rk = CAST(least(ceil(0.99 * n), n) AS BIGINT)
                    THEN value END) AS p99_exact
         FROM ranked GROUP BY 1 ORDER BY event_type""",
    "q_sketch_cms_exact" ->
      """SELECT user_id, count(*) AS exact_n
         FROM events GROUP BY 1 ORDER BY user_id""",
    // count-min ESTIMATES (r17 promotion): the cells are
    // pmod(xxhash64(CAST(key AS STRING), r), 256) and Spark's XXH64 is
    // pure wrapping 64-bit arithmetic — replayed exactly by
    // [[xxh64BucketCtes]], so the sketch build (cell = Σ exact counts
    // of keys hashing there) and the per-key min-over-rows estimate
    // are both integer-exact. The Markov-bound assertions stay
    // in-gate. width 256 divides 2^64, so the unsigned mod equals
    // Spark's pmod of the signed hash.
    "q_sketch_cms" ->
      s"""WITH keys AS MATERIALIZED (
           SELECT user_id AS u, CAST(user_id AS VARCHAR) AS s
           FROM (SELECT DISTINCT user_id FROM events)),
         ${xxh64BucketCtes(depth = 4, width = 256)},
         exact AS MATERIALIZED (
           SELECT user_id AS u, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         cells AS MATERIALIZED (
           SELECT b.r, b.bucket, CAST(SUM(e.c) AS BIGINT) AS cnt
           FROM buckets b JOIN exact e USING (u) GROUP BY 1, 2)
         SELECT b.u AS user_id, MIN(cl.cnt) AS est
         FROM buckets b JOIN cells cl ON cl.r = b.r AND cl.bucket = b.bucket
         GROUP BY b.u ORDER BY user_id""",
    // one-pass column profile: numeric stats null for strings & vice
    // versa; avg rounded on both engines
    "q_profile" -> Seq(
        ("c_custkey", true), ("c_name", false), ("c_nationkey", true),
        ("c_acctbal", true), ("c_mktsegment", false)).map {
          case (c, numeric) =>
            val (mn, mx, av, ms, xs) =
              if (numeric)
                (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
                  s"round(avg($c), 4)",
                  "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
              else
                ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
                  "CAST(NULL AS DOUBLE)", s"min($c)", s"max($c)")
            s"""SELECT '$c' AS col_name,
                CAST(count($c) AS BIGINT) AS n_nonnull,
                CAST(count(*) - count($c) AS BIGINT) AS n_null,
                CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                $mn AS min_num, $mx AS max_num, $av AS avg_num,
                $ms AS min_str, $xs AS max_str
                FROM customer"""
        }.mkString("", " UNION ALL ", " ORDER BY col_name"),
    // checked ingest: only the clean batch lands (abort atomicity
    // asserted in-gate)
    "q_append_checked" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(sum(c_acctbal), 2) AS bal_sum
         FROM customer GROUP BY 1 ORDER BY 1""",
    // funnel conversion table: chained correlated mins replay each
    // step's frontier; strict ordering (ties do not advance) + ppm
    // floor conversions
    "q_funnel_conv" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts) AS t
                     FROM events e JOIN s1 ON e.user_id = s1.user_id
                     WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
              s3 AS (SELECT e.user_id, min(e.ts) AS t
                     FROM events e JOIN s2 ON e.user_id = s2.user_id
                     WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
              s4 AS (SELECT e.user_id, min(e.ts) AS t
                     FROM events e JOIN s3 ON e.user_id = s3.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
              n AS (SELECT 1 AS step_idx, 'signup' AS step,
                           (SELECT count(*) FROM s1) AS n_entities
                    UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
                    UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
                    UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4))
         SELECT CAST(step_idx AS INT) AS step_idx, step,
                CAST(n_entities AS BIGINT) AS n_entities,
                CAST(CASE WHEN step_idx = 1 THEN 1000000
                     WHEN lag(n_entities) OVER (ORDER BY step_idx) = 0 THEN 0
                     ELSE (1000000 * n_entities) //
                          lag(n_entities) OVER (ORDER BY step_idx)
                END AS BIGINT) AS conv_ppm
         FROM n ORDER BY step_idx""",
    // streaming throttle: the accept rule is a row_number over
    // (user, hour window) in event order — replayable exactly
    // because the state is all-integer
    "q_stream_throttle" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
              w AS (SELECT user_id, tsu, event_id,
                      row_number() OVER (
                        PARTITION BY user_id, tsu // 3600000000
                        ORDER BY tsu, event_id) AS nth
                    FROM e)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_accepted,
                CAST(max(nth) AS BIGINT) AS max_nth
         FROM w WHERE nth <= 5 GROUP BY 1 ORDER BY 1""",
    // store-to-store view sync: the final maintained view must equal
    // the direct aggregate over the final source state
    "q_ivm_sync" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal
                       FROM customer WHERE c_custkey % 2 = 0),
              up AS (SELECT c_custkey, c_nationkey, c_acctbal + 1000.0 AS c_acctbal
                     FROM customer
                     WHERE c_custkey % 4 = 0
                        OR (c_custkey % 2 = 1 AND c_custkey % 5 = 0)),
              t2 AS (SELECT b.c_custkey, b.c_nationkey,
                            COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal
                     FROM base b LEFT JOIN up u USING (c_custkey)
                     UNION ALL
                     SELECT u.c_custkey, u.c_nationkey, u.c_acctbal
                     FROM up u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM base)),
              fin AS (SELECT * FROM t2 WHERE c_custkey % 6 <> 0)
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS view_n,
                round(sum(c_acctbal), 2) AS bal_sum
         FROM fin GROUP BY 1 ORDER BY 1""",
    // change feed: every step's insert/delete set replayed from the
    // slice formulas (upsert = delete+insert of CHANGED rows only;
    // unchanged rows sharing a rewritten file must not appear)
    "q_change_feed" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment
                       FROM customer WHERE c_custkey % 2 = 0),
              up AS (SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
                     FROM customer
                     WHERE c_custkey % 4 = 0
                        OR (c_custkey % 2 = 1 AND c_custkey % 5 = 0)),
              t2 AS (SELECT b.c_custkey,
                            COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
                            b.c_mktsegment
                     FROM base b LEFT JOIN up u USING (c_custkey)
                     UNION ALL
                     SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment
                     FROM up u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM base))
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS step, 'insert' AS _change_type,
                  c_custkey, c_acctbal, c_mktsegment
           FROM up
           UNION ALL
           SELECT CAST(1 AS BIGINT), 'delete', c_custkey, c_acctbal, c_mktsegment
           FROM base WHERE c_custkey % 4 = 0
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'delete', c_custkey, c_acctbal, c_mktsegment
           FROM t2 WHERE c_custkey % 6 = 0
         ) ORDER BY step, _change_type, c_custkey""",
    // full MERGE INTO: the standard LEFT-JOIN + anti-join expansion of
    // matched-update / matched-delete / not-matched-insert; target =
    // even keys (two range-disjoint appends), source = key%3=0 of the
    // high half. Per-row double addition is IEEE-deterministic on both
    // engines; file pruning + single-version atomicity assert in-gate
    "q_merge_store" ->
      """WITH mid AS (SELECT max(c_custkey) // 2 AS m FROM customer),
              t AS (SELECT c_custkey, c_acctbal, c_mktsegment
                    FROM customer WHERE c_custkey % 2 = 0),
              s AS (SELECT c_custkey, c_acctbal, c_mktsegment
                    FROM customer, mid
                    WHERE c_custkey % 3 = 0 AND c_custkey >= m)
         SELECT * FROM (
           SELECT t.c_custkey,
                  CASE WHEN s.c_custkey IS NOT NULL
                       THEN t.c_acctbal + s.c_acctbal
                       ELSE t.c_acctbal END AS c_acctbal,
                  CASE WHEN s.c_custkey IS NOT NULL
                       THEN s.c_mktsegment || '#M'
                       ELSE t.c_mktsegment END AS c_mktsegment
           FROM t LEFT JOIN s ON t.c_custkey = s.c_custkey
           WHERE s.c_custkey IS NULL OR s.c_custkey % 30 <> 0
           UNION ALL
           SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment
           FROM s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM t)
         ) ORDER BY c_custkey""",
    // dialect column-stats pruning: same aggregate as q_col_skip with
    // renamed dialect output columns; pruning asserted in-gate
    "q_dialect_prune_col" ->
      """SELECT c_nationkey AS nat, CAST(count(*) AS BIGINT) AS n,
                round(sum(c_acctbal), 2) AS bal_sum,
                CAST(min(c_custkey) AS BIGINT) AS k_min,
                CAST(max(c_custkey) AS BIGINT) AS k_max
         FROM customer WHERE c_nationkey >= 5 AND c_nationkey <= 9
         GROUP BY 1 ORDER BY 1""",
    // profile drift: both version snapshots rebuilt relationally, the
    // per-column profiles and their deltas replayed exactly
    "q_profile_drift" -> {
      val sides = Seq(
        "b" -> "SELECT c_custkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0",
        "a" -> """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0
                  UNION ALL
                  SELECT c_custkey,
                         CASE WHEN c_custkey % 9 = 0 THEN NULL ELSE c_acctbal END,
                         c_mktsegment
                  FROM customer WHERE c_custkey % 3 = 0""")
      val colsSpec = Seq(("c_custkey", true), ("c_acctbal", true), ("c_mktsegment", false))
      val perSide = sides.map { case (tag, src) =>
        val rows = colsSpec.map { case (c, numeric) =>
          val av = if (numeric) s"round(avg($c), 4)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS col_name,
                CAST(count($c) AS BIGINT) AS nonnull_$tag,
                CAST(count(*) - count($c) AS BIGINT) AS null_$tag,
                CAST(count(DISTINCT $c) AS BIGINT) AS distinct_$tag,
                $av AS avg_$tag
              FROM side_$tag"""
        }.mkString(" UNION ALL ")
        s"p_$tag AS ($rows)"
      }.mkString(", ")
      s"""WITH side_b AS (${sides(0)._2}), side_a AS (${sides(1)._2}), $perSide
          SELECT p_b.col_name,
                 nonnull_b, nonnull_a, nonnull_a - nonnull_b AS nonnull_delta,
                 null_b, null_a, null_a - null_b AS null_delta,
                 distinct_b, distinct_a, distinct_a - distinct_b AS distinct_delta,
                 avg_b, avg_a, round(avg_a - avg_b, 4) AS avg_delta
          FROM p_b JOIN p_a ON p_b.col_name = p_a.col_name
          ORDER BY p_b.col_name"""
    },
    // SCD2 merge replay: %7 keys close+reopen, %5-not-%7 keys are a
    // no-op re-send, %31 keys insert as new entities
    "q_scd2" ->
      """WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
         SELECT c_custkey, round(bal, 2) AS bal, seg,
                valid_from, valid_to, is_current
         FROM (
           SELECT c_custkey, c_acctbal AS bal, c_mktsegment AS seg,
                  '2020-01-01' AS valid_from, '2021-06-01' AS valid_to,
                  CAST(0 AS INT) AS is_current
           FROM base WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal + 100, c_mktsegment,
                  '2021-06-01', CAST(NULL AS VARCHAR), CAST(1 AS INT)
           FROM base WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 1.5 * c_custkey, 'NEW',
                  '2021-06-01', CAST(NULL AS VARCHAR), CAST(1 AS INT)
           FROM base WHERE c_custkey % 31 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal, c_mktsegment,
                  '2020-01-01', CAST(NULL AS VARCHAR), CAST(1 AS INT)
           FROM base WHERE c_custkey % 7 <> 0
         ) ORDER BY c_custkey, valid_from""",
    "q_pagerank" -> pageRankOracle(5),
    // batch-perceptron corpus filter (r13, formerly no_oracle): the fit
    // is ALL-INTEGER and its update schedule is a deterministic op
    // sequence, so DuckDB replays it op-for-op — FNV-1a + the mix64
    // finalizer over each distinct token (UBIGINT folds, 128-bit
    // decomposed wrapping multiplies), then the 20 unrolled epoch CTEs
    // (score → misclassified → per-bucket Σy update — the pageRank
    // unroll pattern) and the strict-> pocket selection. Zero
    // tolerance: weights, bias, scores, preds all hash-match.
    "q_classifier" -> classifierOracle(20),
    // simhash near-dup pairs (r13): integer majority-vote hash over
    // the shared FNV+mix64 token-hash replay; brute-force all-pairs
    // equals the banded result because recall is GUARANTEED to the
    // gate's Hamming 3 and no bucket approaches the cap at gate scale
    "q_dedup_simhash" -> simhashOracle,
    // BPE merge chain + encode stats (r13): greedy merges replayed as
    // 30 chained CTEs with separator-framed string replace as the
    // merge pass — bit-exact ranks/pairs/freqs, zero tolerance
    "q_bpe" -> bpeOracle(30, encode = false),
    "q_bpe_encode" -> bpeOracle(30, encode = true),
    "q_unigram" -> unigramOracle(encode = false),
    "q_unigram_encode" -> unigramOracle(encode = true),
    // the WHOLE MinHash dedup pipeline replayed op-for-op (r13):
    // shingles, seeded signature minima, band folds, skew cap,
    // agreement threshold, greedy min-id drop — survivor set
    // hash-matches with zero tolerance
    "q_dedup_minhash" -> minhashDedupOracle,
    // incremental two-batch dedup and the read-only index probe ride
    // the same core replay (r13): batch split at the exact median,
    // index side = batch-1 survivors / even-half survivors
    "q_dedup_incremental" -> incrementalDedupOracle,
    "q_dedup_probe" -> probeOracle,
    // saturated-index recall at volume (r15): the gate's in-query
    // requires prove the split/exemplar machinery (nonzero counters,
    // zero copy leaks, memoized verdict); the oracle locks the
    // OUTPUT — survivors are exactly the 500 fresh docs, whose ids
    // are a pure function of max(doc_id), reproducible in SQL
    // without modeling the index
    "q_dedup_saturated" ->
      """SELECT (SELECT max(doc_id) FROM documents) + 1201 + range AS doc_id
         FROM range(500) ORDER BY doc_id""",
    // the streamed run is in-gate-locked to the direct two-batch
    // incremental over deterministic halves — the oracle replays that
    "q_stream_neardup" -> streamNeardupOracle,
    // triangle counts: DuckDB replays the ring-with-chords edge formula
    // and closes triangles with the id-ordered three-way join (u<v<w,
    // each triangle once); per-node counts by exploding the members
    "q_triangles" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
         e0 AS (
           SELECT doc_id AS src, (doc_id + j) % (SELECT n FROM nn) AS dst
           FROM documents, (VALUES (1), (2), (3)) AS t(j)
           UNION ALL
           SELECT doc_id, (doc_id * 7 + 13) % (SELECT n FROM nn) FROM documents),
         e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM e0 WHERE src <> dst),
         tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                 FROM e a JOIN e b ON b.u = a.v
                          JOIN e c ON c.u = a.u AND c.v = b.v)
         SELECT node, count(*) AS n_tri FROM (
           SELECT x AS node FROM tri
           UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri)
         GROUP BY node ORDER BY node""",
    // per-group top-k: identical window rank + filter in DuckDB
    "q_group_topk" ->
      """SELECT source, rk, doc_id, n_chars FROM (
           SELECT source, doc_id, length(text) AS n_chars,
                  CAST(row_number() OVER (
                    PARTITION BY source
                    ORDER BY length(text) DESC, doc_id) AS INT) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY source, rk""",
    // expectations: each check's violation count recomputed as an
    // independent conditional sum; NULL predicate = violation.
    // Each count is CAST to BIGINT: DuckDB's sum(CASE…) is HUGEINT,
    // which pandas renders as float64 and the driver's hash then sees
    // 58580.0 != 58580 against Spark's int64.
    "q_expectations" ->
      """WITH t AS (
           SELECT count(*) AS total,
                  CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0.0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
                  CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('F','O','P'), false) THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
                  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
                  CAST(sum(CASE WHEN NOT coalesce(o_orderdate BETWEEN '1992-01-01' AND '1998-12-31', false) THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
                  CAST(sum(CASE WHEN NOT coalesce(o_totalprice < 100000.0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v_cap,
                  count(DISTINCT o_orderkey) AS d
           FROM orders)
         SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
                CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS pass
         FROM (
           SELECT 'totalprice_positive' AS check_name, v_price AS n_violations FROM t
           UNION ALL SELECT 'status_known', v_status FROM t
           UNION ALL SELECT 'priority_nonnull', v_prio FROM t
           UNION ALL SELECT 'date_in_range', v_date FROM t
           UNION ALL SELECT 'totalprice_under_100k', v_cap FROM t
           UNION ALL SELECT 'unique_o_orderkey', total - d FROM t)
         ORDER BY check_name""",
    // incremental view maintenance: the oracle rebuilds the FINAL
    // snapshot's aggregate directly (clicks + purchases, minus the
    // deleted value<10 rows) — the gate's delta-maintained view must
    // land on the identical state
    "q_ivm" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events
         WHERE event_type IN ('click', 'purchase') AND value >= 10.0
         GROUP BY event_type ORDER BY event_type""",
    // 2D skyline: the window replays the op's sweep rule — descending
    // x, keep iff y strictly beats every earlier y
    "q_skyline" ->
      """WITH p AS (
           SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) AS ep, value
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         s AS (
           SELECT ep, value,
                  max(value) OVER (ORDER BY ep DESC, value DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM p)
         SELECT ep, value FROM s WHERE pm IS NULL OR value > pm
         ORDER BY ep DESC""",
    // 3-step funnel: first-in-horizon semantics of q_pattern_seq,
    // chained twice
    "q_funnel" ->
      """WITH v AS (SELECT event_id AS v_id, user_id AS uid, ts
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         s1 AS (SELECT v_id, uid, c_id, c_ts FROM (
           SELECT v.v_id, v.uid, c.event_id AS c_id, c.ts AS c_ts,
                  row_number() OVER (PARTITION BY v.v_id
                    ORDER BY c.ts ASC, c.event_id ASC) AS rn
           FROM v LEFT JOIN c
             ON c.user_id = v.uid AND c.ts >= v.ts
            AND c.ts <= v.ts + INTERVAL 2 HOUR) WHERE rn = 1),
         s2 AS (SELECT v_id, uid, c_id, p_id FROM (
           SELECT s1.v_id, s1.uid, s1.c_id, p.event_id AS p_id,
                  row_number() OVER (PARTITION BY s1.v_id
                    ORDER BY p.ts ASC, p.event_id ASC) AS rn
           FROM s1 LEFT JOIN p
             ON s1.c_id IS NOT NULL AND p.user_id = s1.uid
            AND p.ts >= s1.c_ts AND p.ts <= s1.c_ts + INTERVAL 2 HOUR)
           WHERE rn = 1)
         SELECT v_id, uid, c_id, p_id FROM s2 ORDER BY v_id""",
    // arg-max under the total (ts, event_id) order, replayed with
    // row_number since the struct-keyed max_by is Spark-side
    "q_latest_wins" ->
      """WITH e AS (
           SELECT user_id, value, ts,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rd,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC) AS ra
           FROM events)
         SELECT user_id AS uid,
                max(CASE WHEN rd = 1 THEN value END) AS last_value,
                max(CASE WHEN ra = 1 THEN value END) AS first_value,
                CAST(max(floor(epoch(ts))) AS BIGINT) AS last_ep,
                CAST(count(*) AS BIGINT) AS n
         FROM e GROUP BY user_id ORDER BY uid""",
    // √-temperature mixing: all-integer replay — floor∘sqrt is
    // IEEE-stable, allocations/rates are floor division, keep test is
    // a modular hash of doc_id
    // assembly DAG composition: filter -> budget cutoff -> offsets ->
    // spans, replayed end-to-end
    "q_pipeline_assemble" ->
      """WITH f AS (
           SELECT doc_id, text, n_chars,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
           FROM documents
         ), g AS (
           SELECT doc_id, text, n_chars,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS wc,
                  len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS n_alpha
           FROM f
         ), kept AS (
           SELECT doc_id, text, n_chars FROM g
           WHERE n_words >= 50 AND n_words <= 100000
             AND n_words > 0
             AND CAST(wc AS DOUBLE)/n_words >= 3.0
             AND CAST(wc AS DOUBLE)/n_words <= 10.0
             AND CAST(n_alpha AS DOUBLE)/n_words >= 0.8
         ), b AS (SELECT CAST(COALESCE(sum(n_chars), 0) AS BIGINT) // 2 AS budget
                  FROM kept),
         sel AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
                    CAST(sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cw
             FROM kept), b
           WHERE cw <= budget
         ), w AS (
           SELECT doc_id,
                  (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
                   END) + 1 AS w
           FROM sel
         ), o AS (
           SELECT doc_id, w,
                  CAST(COALESCE(sum(w) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS off
           FROM w
         ), e AS (
           SELECT doc_id, w, off,
                  unnest(generate_series(off // 128, (off + w - 1) // 128)) AS chunk_id
           FROM o
         )
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
                CAST(greatest(0, chunk_id * 128 - off) AS BIGINT) AS tok_start,
                CAST(least(w, (chunk_id + 1) * 128 - off) AS BIGINT) AS tok_end
         FROM e ORDER BY chunk_id, doc_id""",
    // budget selection: one window cumsum in (quality desc, id) order
    // replays the distributed two-phase prefix sum exactly
    "q_select_budget" ->
      """WITH b AS (SELECT CAST(sum(n_chars) AS BIGINT) // 3 AS budget
                    FROM documents),
              c AS (SELECT doc_id, n_chars,
                      CAST(sum(n_chars) OVER (
                        ORDER BY n_chars DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_weight
                    FROM documents)
         SELECT doc_id, n_chars, cum_weight
         FROM c, b WHERE cum_weight <= budget ORDER BY doc_id""",
    // multiplicative-weights reweighting: weight update, allocation,
    // rates, and the realized modular-hash sample all replay in
    // integer arithmetic (losses non-negative by construction — the
    // div/floor divergence below zero is documented on the op)
    "q_mix_reweight" ->
      """WITH sz AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
                     FROM documents GROUP BY source),
         lo AS (SELECT source,
                  CAST((ascii(substr(source, 1, 1)) * 7919) % 700000 AS BIGINT)
                    AS loss_ppm
                FROM (SELECT DISTINCT source FROM documents)),
         w AS (SELECT sz.source, sz.n, lo.loss_ppm,
                 (sz.n * (1000000 + (500000 * lo.loss_ppm) // 1000000)) // 1000000 AS w
               FROM sz JOIN lo USING (source)),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_sum,
                   CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) // 2 AS budget
                 FROM w),
         r AS (SELECT w.source, w.n, w.loss_ppm,
                 least(1000000,
                   (1000000 * ((tot.budget * w.w) // tot.w_sum)) // w.n) AS rate_ppm
               FROM w CROSS JOIN tot),
         k AS (SELECT d.source, d.n_chars
               FROM documents d JOIN r ON d.source = r.source
               WHERE (d.doc_id * 2654435761) % 1000000 < r.rate_ppm),
         ka AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                       CAST(sum(n_chars) AS BIGINT) AS mass_kept
                FROM k GROUP BY source)
         SELECT r.source, r.n, CAST(r.loss_ppm AS BIGINT) AS loss_ppm,
                CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
                COALESCE(ka.n_kept, 0) AS n_kept,
                COALESCE(ka.mass_kept, 0) AS mass_kept
         FROM r LEFT JOIN ka USING (source) ORDER BY r.source""",
    "q_mix_sources" ->
      """WITH sz AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
                     FROM documents GROUP BY source),
         tot AS (SELECT
             CAST(sum(CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s_sum,
             CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) // 2 AS budget
           FROM sz),
         r AS (SELECT sz.source, sz.n,
                 least(1000000,
                   (1000000 * ((tot.budget *
                     CAST(floor(sqrt(CAST(sz.n AS DOUBLE))) AS BIGINT))
                       // tot.s_sum)) // sz.n) AS rate_ppm
               FROM sz CROSS JOIN tot),
         k AS (SELECT d.source, d.n_chars
               FROM documents d JOIN r ON d.source = r.source
               WHERE (d.doc_id * 2654435761) % 1000000 < r.rate_ppm),
         ka AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                       CAST(sum(n_chars) AS BIGINT) AS mass_kept
                FROM k GROUP BY source)
         SELECT r.source, r.n, r.rate_ppm,
                COALESCE(ka.n_kept, 0) AS n_kept,
                COALESCE(ka.mass_kept, 0) AS mass_kept
         FROM r LEFT JOIN ka ON r.source = ka.source
         ORDER BY r.source""",
    // schema evolution: even keys predate the added column
    "q_schema_evolve" ->
      """SELECT c_custkey, c_acctbal,
                CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS seg
         FROM customer ORDER BY c_custkey""",
    // JSONL quarantine: one malformed line per doc_id ≡ 0 (mod 50)
    "q_source_jsonl" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_parsed,
                CAST((SELECT count(*) FROM documents WHERE doc_id % 50 = 0)
                  AS BIGINT) AS n_corrupt,
                CAST(sum(n_chars) AS BIGINT) AS chars_total
         FROM documents""",
    // z-score tail trim: per-type stats then the same filter
    "q_outliers" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
                            stddev_samp(value) AS sd
                     FROM events GROUP BY event_type)
         SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_out,
                min(e.value) AS v_lo, max(e.value) AS v_hi
         FROM events e JOIN st USING (event_type)
         WHERE abs(e.value - st.mu) > 1.5 * st.sd
         GROUP BY e.event_type ORDER BY e.event_type""",
    // source contamination matrix: identical raw 5-char shingle sets
    "q_source_overlap" ->
      """WITH sh AS (
           SELECT DISTINCT g, substr(text, CAST(i AS INT), 5) AS s
           FROM (SELECT source AS g, text,
                        unnest(range(1, length(text) - 3)) AS i
                 FROM documents WHERE length(text) >= 5)),
         per AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY g),
         pr AS (SELECT a.g AS g1, b.g AS g2, CAST(count(*) AS BIGINT) AS n_ab
                FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
                GROUP BY a.g, b.g)
         SELECT pr.g1, pr.g2, pa.n AS n_a, pb.n AS n_b, pr.n_ab,
                round(CAST(pr.n_ab AS DOUBLE) / (pa.n + pb.n - pr.n_ab), 6)
                  AS jaccard
         FROM pr JOIN per pa ON pa.g = pr.g1 JOIN per pb ON pb.g = pr.g2
         ORDER BY pr.g1, pr.g2""",
    // label encoding: dense_rank over the sorted category dictionary
    "q_label_encode" ->
      """SELECT c_mktsegment,
                CAST(dense_rank() OVER (ORDER BY c_mktsegment) AS BIGINT)
                  AS seg_id,
                CAST(count(*) AS BIGINT) AS n
         FROM customer GROUP BY c_mktsegment ORDER BY seg_id""",
    // groupwise least squares via SQL-standard regr_* aggregates;
    // x centered at epoch 1.6e9 on both engines
    "q_regression" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(regr_slope(value,
                  CAST(CAST(floor(epoch(ts)) AS BIGINT) - 1600000000 AS DOUBLE))
                  * 1e6, 4) AS slope_scaled,
                round(regr_intercept(value,
                  CAST(CAST(floor(epoch(ts)) AS BIGINT) - 1600000000 AS DOUBLE)),
                  2) AS icept,
                round(regr_r2(value,
                  CAST(CAST(floor(epoch(ts)) AS BIGINT) - 1600000000 AS DOUBLE)),
                  4) AS r2
         FROM events GROUP BY event_type ORDER BY event_type""",
    // snapshot CDC: append leg adds purchases; delete leg removes
    // value<10 rows of the click+purchase table
    "q_version_diff" ->
      """WITH cp AS (SELECT * FROM events
                     WHERE event_type IN ('click', 'purchase'))
         SELECT 'v1_v2' AS leg,
                CAST((SELECT count(*) FROM events
                      WHERE event_type = 'purchase') AS BIGINT) AS n_added,
                round((SELECT sum(value) FROM events
                       WHERE event_type = 'purchase'), 2) AS val_added,
                CAST(0 AS BIGINT) AS n_removed,
                0.0 AS val_removed
         UNION ALL
         SELECT 'v2_v3', CAST(0 AS BIGINT), 0.0,
                CAST((SELECT count(*) FROM cp WHERE value < 10) AS BIGINT),
                round(coalesce((SELECT sum(value) FROM cp WHERE value < 10),
                  0.0), 2)
         ORDER BY leg""",
    // per-key daily grid + forward fill: generate_series over each
    // key's own span, IGNORE NULLS window carries the last daily max
    "q_resample" ->
      """WITH obs AS (
           SELECT user_id, date_trunc('day', ts) AS bucket, max(value) AS v_obs
           FROM events GROUP BY 1, 2
         ), spans AS (
           SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
           FROM obs GROUP BY 1
         ), grid AS (
           SELECT user_id,
                  unnest(generate_series(b0, b1, INTERVAL 1 DAY)) AS bucket
           FROM spans
         ), j AS (
           SELECT g.user_id, g.bucket, o.v_obs
           FROM grid g LEFT JOIN obs o
             ON g.user_id = o.user_id AND g.bucket = o.bucket
         )
         SELECT user_id, bucket,
                last_value(v_obs IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
                CAST(CASE WHEN v_obs IS NULL THEN 0 ELSE 1 END AS BIGINT)
                  AS is_obs
         FROM j ORDER BY user_id, bucket""",
    // session-concurrency sweep: islands -> [first, last+4h) intervals,
    // +/-1 boundary deltas grouped by (ts, delta), one ordered prefix
    "q_concurrency" ->
      """WITH x AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 4 HOUR
                       THEN 1 ELSE 0 END AS is_new
           FROM events
         ), sess AS (
           SELECT user_id, ts,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM x
         ), iv AS (
           SELECT user_id, min(ts) AS st, max(ts) + INTERVAL 4 HOUR AS en
           FROM sess GROUP BY user_id, sid
         ), d AS (
           SELECT st AS ts, 1 AS delta FROM iv
           UNION ALL SELECT en, -1 FROM iv
         ), g AS (
           SELECT ts, CAST(delta AS BIGINT) AS delta,
                  CAST(count(*) AS BIGINT) AS n
           FROM d GROUP BY 1, 2
         )
         SELECT ts, delta, n,
                CAST(sum(delta * n) OVER (ORDER BY ts, delta
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS concurrency
         FROM g ORDER BY ts, delta""",
    // cohort retention: first-seen day per user, distinct actives per
    // (cohort, day offset)
    "q_retention" ->
      """WITH firsts AS (
           SELECT user_id, min(date_trunc('day', ts)) AS cohort
           FROM events GROUP BY 1
         )
         SELECT f.cohort,
                CAST(datediff('day', f.cohort, date_trunc('day', e.ts))
                  AS BIGINT) AS day_offset,
                CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
         FROM events e JOIN firsts f ON e.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // token entropy: the oracle rebuilds the unigram distribution
    // relationally (unnest + group) and must agree with the one-pass
    // kernel to 4 decimals; ln(n) - sum(c ln c)/n keeps only integer
    // counts in the float math
    "q_entropy" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents
         ), tf AS (
           SELECT doc_id, tok, count(*) AS c
           FROM toks WHERE tok <> '' GROUP BY 1, 2
         ), agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_distinct,
                  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
           FROM tf GROUP BY doc_id
         )
         SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.n_distinct, 0) AS n_distinct,
                coalesce(a.entropy, 0.0) AS entropy
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id""",
    // CSV round-trip: the aggregate over what survived the trip must
    // equal the same aggregate over the source-of-truth parquet
    "q_source_csv" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS chars_total,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         FROM documents GROUP BY source ORDER BY source""",
    // ORC round-trip: q1-agg shape over the ORC copy vs parquet truth
    "q_source_orc" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
                round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_kcore" -> kCoreOracle(k = 4, rounds = 10),
    // decayed score: the same bounded-horizon contribution explode in
    // exact integer arithmetic — score_fp is a BIGINT equality, score
    // one shared IEEE division
    "q_decayed" ->
      """WITH obs AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(round(max(value) * 100) AS BIGINT) AS v_fp
           FROM events GROUP BY 1, 2
         ), ages AS (SELECT unnest(range(0, 14)) AS age),
         contrib AS (
           SELECT o.user_id, o.day + CAST(a.age AS INT) AS day,
                  o.v_fp * (CAST(1 AS BIGINT) << (13 - CAST(a.age AS INT)))
                    AS w
           FROM obs o CROSS JOIN ages a
         )
         SELECT c.user_id, CAST(c.day AS TIMESTAMP) AS day,
                CAST(sum(c.w) AS BIGINT) AS score_fp,
                CAST(sum(c.w) AS DOUBLE) / 819200.0 AS score
         FROM contrib c JOIN obs d ON c.user_id = d.user_id AND c.day = d.day
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // typed JSON extraction: DuckDB's ->> replays from_json's k field
    "q_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
                CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_min,
                CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_max,
                CAST(sum(CASE WHEN props->>'k' IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bad
         FROM events GROUP BY 1 ORDER BY 1""",
    // MAD robust fence: two quantile_cont passes mirror the two
    // native-percentile passes
    "q_mad" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY 1),
         mad AS (SELECT e.event_type, min(m.med) AS med,
                        quantile_cont(abs(e.value - m.med), 0.5) AS mad
                 FROM events e JOIN med m USING (event_type) GROUP BY 1)
         SELECT e.event_type, round(min(m.med), 4) AS med,
                round(min(m.mad), 4) AS mad,
                CAST(sum(CASE WHEN abs(e.value - m.med) > m.mad * 3 * 1.4826
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
         FROM events e JOIN mad m USING (event_type) GROUP BY 1 ORDER BY 1""",
    // RRF hybrid fusion: the q_bm25 ranking CTEs verbatim + a length
    // ranking, fused by 1/(60+rank), top-20 re-ranked
    "q_rank_fusion" ->
      """WITH f AS (
           SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
           FROM documents
         ), g AS (
           SELECT doc_id, len(t) AS dl,
                  len(list_filter(t, w -> w = 'table')) AS tf0,
                  len(list_filter(t, w -> w = 'scan'))  AS tf1,
                  len(list_filter(t, w -> w = 'fast'))  AS tf2,
                  len(list_filter(t, w -> w = 'key'))   AS tf3,
                  len(list_filter(t, w -> w = 'slow'))  AS tf4
           FROM f
         ), st AS (
           SELECT count(*) AS n, sum(dl) AS sumdl,
                  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                  sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3,
                  sum(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS df4
           FROM g
         ), scored AS (
           SELECT doc_id, round(
               ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0*2.2) / (tf0 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1*2.2) / (tf1 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df2 + 0.5)/(df2 + 0.5)) * (tf2*2.2) / (tf2 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df3 + 0.5)/(df3 + 0.5)) * (tf3*2.2) / (tf3 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             + ln(1 + (n - df4 + 0.5)/(df4 + 0.5)) * (tf4*2.2) / (tf4 + 1.2*(0.25 + 0.75*dl/(CAST(sumdl AS DOUBLE)/n)))
             , 4) AS score
           FROM g, st
         ), bm AS (
           SELECT doc_id, rank FROM (
             SELECT doc_id,
                    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
             FROM scored) WHERE rank <= 50
         ), ln_rk AS (
           SELECT doc_id, rank FROM (
             SELECT doc_id,
                    row_number() OVER (ORDER BY length(text) DESC, doc_id ASC)
                      AS rank
             FROM documents) WHERE rank <= 50
         ), fused AS (
           SELECT doc_id, round(sum(1.0 / (rank + 60)), 6) AS rrf,
                  CAST(count(*) AS BIGINT) AS n_lists
           FROM (SELECT * FROM bm UNION ALL SELECT * FROM ln_rk)
           GROUP BY doc_id
         )
         SELECT doc_id, rrf, n_lists, frank FROM (
           SELECT doc_id, rrf, n_lists,
                  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC)
                    AS BIGINT) AS frank
           FROM fused) WHERE frank <= 20
         ORDER BY doc_id""",
    // compaction content gate: the aggregate over the compacted store
    // equals the source-table truth (structure checks run in-query)
    "q_store_optimize" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(sum(c_acctbal), 2) AS bal_sum,
                CAST(min(c_custkey) AS BIGINT) AS k_min,
                CAST(max(c_custkey) AS BIGINT) AS k_max
         FROM customer GROUP BY 1 ORDER BY 1""",
    // dialect-driven manifest pruning: band 5 of the 8-band layout,
    // bounds re-derived relationally; pruning asserted in-gate
    "q_dialect_prune" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
              w AS (SELECT lo, (hi - lo) // 8 + 1 AS width FROM b)
         SELECT o_orderstatus AS ostat, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS price_sum,
                CAST(min(o_orderkey) AS BIGINT) AS k_min,
                CAST(max(o_orderkey) AS BIGINT) AS k_max
         FROM orders, w
         WHERE o_orderkey >= lo + 5 * width AND o_orderkey <= lo + 6 * width - 1
         GROUP BY 1 ORDER BY 1""",
    // write-side schema evolution: pre-evolution rows surface the new
    // column as NULL; rejection/time-travel asserted in-gate
    "q_schema_enforce" ->
      """SELECT c_custkey, c_name,
                CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
         FROM customer ORDER BY c_custkey""",
    // streaming materialized view: the maintained store must equal the
    // batch aggregate (replay-immunity asserted in-gate)
    "q_stream_mview" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                round(sum(value), 2) AS val_sum
         FROM events GROUP BY 1 ORDER BY 1""",
    // store-as-queue tail: the drained stream aggregates to the whole
    // source table (backlog/tail exactly-once asserted in-gate)
    "q_store_tail" ->
      """SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS val_sum,
                CAST(min(event_id) AS BIGINT) AS id_min,
                CAST(max(event_id) AS BIGINT) AS id_max
         FROM events GROUP BY 1 ORDER BY 1""",
    // stop/resume exactly-once: disjointness + completeness are
    // asserted in-gate; the unioned drains must aggregate to the table
    "q_stream_resume" ->
      """SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS val_sum,
                CAST(min(event_id) AS BIGINT) AS id_min,
                CAST(max(event_id) AS BIGINT) AS id_max
         FROM events GROUP BY 1 ORDER BY 1""",
    // exactly-once streamed ingest: content equality vs the source
    // table — the replay/no-dup property is asserted in-gate
    "q_stream_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS val_sum,
                CAST(min(event_id) AS BIGINT) AS id_min,
                CAST(max(event_id) AS BIGINT) AS id_max
         FROM events GROUP BY 1 ORDER BY 1""",
    // bucketed co-located join: plain join content — the zero-Exchange
    // co-location property is asserted on the physical plan in-gate
    "q_bucket_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS price_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    // vacuum: content equality AFTER retention cleanup (deleted rows
    // filtered like the store's delete); structure asserted in-gate
    "q_vacuum" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
                round(sum(s_acctbal), 2) AS bal_sum
         FROM supplier WHERE s_suppkey % 5 <> 0
         GROUP BY 1 ORDER BY 1""",
    // column-stats skipping: plain range aggregate — the file pruning
    // after the clustered rewrite is asserted in-gate
    "q_col_skip" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                round(sum(c_acctbal), 2) AS bal_sum,
                CAST(min(c_custkey) AS BIGINT) AS k_min,
                CAST(max(c_custkey) AS BIGINT) AS k_max
         FROM customer WHERE c_nationkey >= 5 AND c_nationkey <= 9
         GROUP BY 1 ORDER BY 1""",
    // data skipping: same band arithmetic (integer division) rebuilt
    // relationally; the file-level pruning is asserted in-gate
    "q_data_skip" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
              w AS (SELECT lo, (hi - lo) // 8 + 1 AS width FROM b)
         SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS price_sum,
                CAST(min(o_orderkey) AS BIGINT) AS k_min,
                CAST(max(o_orderkey) AS BIGINT) AS k_max
         FROM orders, w
         WHERE o_orderkey >= lo + 3 * width AND o_orderkey <= lo + 4 * width - 1
         GROUP BY 1 ORDER BY 1""",
    // partition pruning: content equality after the directory-pruned
    // read (the pruning itself is asserted on the plan in-gate)
    "q_partition_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS val_sum,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1 ORDER BY 1""",
    // dynamic partition pruning: the dim's predicate decides the fact
    // partitions at runtime (injection asserted on the plan in-gate)
    "q_dpp_join" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(sum(value), 2) AS val_sum
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1 ORDER BY 1""",
    // leak-free split: the q_dedup_cc transitive-closure replay, then
    // the md5 bucket of the COMPONENT decides the whole cluster
    "q_split_leakfree" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
           FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE [array_to_string(t[i:i+4], ' ')
                        for i in generate_series(1, len(t)-4)] END) AS s
           FROM toks
         ), p AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(a.s || b.s)) >= 0.5
         ), e AS (
           SELECT id1 AS u, id2 AS v FROM p
           UNION SELECT id2, id1 FROM p
         ), reach AS (
           SELECT u, v FROM e
           UNION
           SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
         ), lbl AS (
           SELECT u AS doc_id, least(u, min(v)) AS component
           FROM reach GROUP BY u
         ), full_lbl AS (
           SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
           FROM documents d LEFT JOIN lbl l USING (doc_id)
         )
         SELECT doc_id, component,
                CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, component,
                      CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 4))
                        AS INT) % 100 AS b
               FROM full_lbl)
         ORDER BY doc_id""",
    // hard negatives: per (query, label-match) rank over exact cosine,
    // ties on item id; rn=1 rows pivot into pos/neg columns
    "q_hard_negatives" ->
      """SELECT query_id,
                max(CASE WHEN same THEN item_id END) AS pos_id,
                round(max(CASE WHEN same THEN cos END), 6) AS pos_cos,
                max(CASE WHEN NOT same THEN item_id END) AS neg_id,
                round(max(CASE WHEN NOT same THEN cos END), 6) AS neg_cos
         FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS item_id,
                  (a.label = b.label) AS same,
                  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) AS cos,
                  row_number() OVER (
                    PARTITION BY a.vec_id, (a.label = b.label)
                    ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                    CAST(b.embedding AS DOUBLE[]))
                             DESC, b.vec_id) AS rn
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           WHERE a.vec_id < 100)
         WHERE rn = 1
         GROUP BY query_id ORDER BY query_id""",
  )

  /** DuckDB replay of the k=4 peel: the same formula graph, `rounds`
    * unrolled induced-subgraph degree filters (idempotent once the
    * cascade converges — Graphs.kCore's `require(converged)` makes
    * sure it has), then the survivors' in-core degrees. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: each round references the previous
    // TWICE, so inlined CTEs expand 2^rounds-fold (DuckDB ran out of
    // file handles re-opening the parquet per expansion)
    val steps = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
           SELECT e.a AS node FROM e
           JOIN a${r - 1} x ON x.node = e.a
           JOIN a${r - 1} y ON y.node = e.b
           GROUP BY e.a HAVING count(*) >= $k)"""
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       e0 AS (
         SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst
         FROM documents
         UNION ALL SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn)
           FROM documents WHERE doc_id % 2 = 0
         UNION ALL SELECT doc_id, (doc_id + 4) % (SELECT n FROM nn)
           FROM documents WHERE doc_id % 4 = 0
         UNION ALL SELECT doc_id, (doc_id + 8) % (SELECT n FROM nn)
           FROM documents WHERE doc_id % 8 = 0
         UNION ALL SELECT doc_id, (doc_id + 16) % (SELECT n FROM nn)
           FROM documents WHERE doc_id % 16 = 0
         UNION ALL SELECT doc_id, (doc_id + j) % 64
           FROM documents, (VALUES (1), (2), (3), (4)) AS t(j)
           WHERE doc_id < 64),
       eu AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM e0 WHERE src <> dst),
       e AS MATERIALIZED (SELECT u AS a, v AS b FROM eu
                          UNION ALL SELECT v, u FROM eu),
       a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM e),
       $steps
       SELECT e.a AS node, CAST(count(*) AS BIGINT) AS core_deg FROM e
       JOIN a$rounds x ON x.node = e.a
       JOIN a$rounds y ON y.node = e.b
       GROUP BY e.a ORDER BY node"""
  }

  /** DuckDB replay of fixed-point PageRank: the same formula-derived
    * edge list, outdegrees, and `iters` unrolled power-iteration CTEs
    * in exact integer arithmetic (`//` floor-div = Spark `div` on the
    * all-positive ranks) — so rank_fp hash-matches bit-for-bit. */
  /** Shared DuckDB replay of the engine's token hash
    * (graft.functions.TextHash.hashString: FNV-1a over UTF-16 code
    * units, then the mix64 finalizer) as a `vh(tok, h)` CTE over a
    * `vocab(tok)` CTE in scope — h is the exact UBIGINT value of the
    * Scala Long. 64-bit wrapping multiplies decompose through HUGEINT
    * (hi/lo 32-bit halves of 0xff51afd7ed558ccd / 0xc4ceb9fe1a85ec53);
    * `unicode()` yields code points, which equal UTF-16 units on the
    * BMP (the fixtures are ASCII). Reused by the classifier, simhash
    * (and any future hash-replay) oracles. */
  private val fnvMixVhCte: String =
    """vh AS MATERIALIZED (
         SELECT tok, xor(x4, x4 >> 33) AS h FROM (
           SELECT tok, CAST((x3::HUGEINT * 444984403 + ((x3::HUGEINT * 3301882366) % 4294967296) * 4294967296)
                 % 18446744073709551616 AS UBIGINT) AS x4 FROM (
             SELECT tok, xor(x2, x2 >> 33) AS x3 FROM (
               SELECT tok, CAST((x1::HUGEINT * 3981806797 + ((x1::HUGEINT * 4283543511) % 4294967296) * 4294967296)
                     % 18446744073709551616 AS UBIGINT) AS x2 FROM (
                 SELECT tok, xor(h0, h0 >> 33) AS x1 FROM (
                   SELECT tok, list_reduce(
                     [CAST(14695981039346656037 AS UBIGINT)] ||
                       list_transform(range(1, len(tok) + 1),
                         i -> CAST(unicode(tok[i]) AS UBIGINT)),
                     (acc, c) -> CAST((xor(acc, c)::HUGEINT * 1099511628211)
                       % 18446744073709551616 AS UBIGINT)) AS h0
                   FROM vocab)))))) """

  /** DuckDB replay of ops/Classifier.fitBatch + pocket scoring (the
    * pageRankOracle unroll pattern, r12 VERDICT #5): the fit is
    * all-integer and bit-identical under any partitioning, so a chain
    * of per-epoch CTEs replays it exactly. Stages: (1) hash every
    * DISTINCT token — FNV-1a over chars then the mix64 finalizer, in
    * UBIGINT with 64-bit wrapping multiplies decomposed through
    * HUGEINT (hi/lo 32-bit halves) — and floorMod into 256 buckets
    * (power-of-two dims: unsigned %256 == Java floorMod on the signed
    * view); (2) per-doc bucket counts; (3) `epochs` unrolled epoch
    * CTEs: score under w{e-1}, count correct, per-bucket Σ label over
    * misclassified docs (bias rides bucket -1), apply; convergence
    * needs no special case — a zero net update leaves w fixed, exactly
    * like the engine's early stop; (4) pocket = earliest state with
    * max correct (strict >), including the final post-loop state;
    * (5) score the corpus under the pocket. */
  private def classifierOracle(epochs: Int): String = {
    val scoreSteps = (1 to epochs + 1).map { e =>
      val w = s"w${e - 1}"
      val upd = if (e <= epochs) s""",
         delta$e AS MATERIALIZED (
           SELECT db.k AS k, SUM(m.y * db.cnt) AS dw
           FROM s$e m JOIN db ON db.doc_id = m.doc_id
           WHERE m.y * m.s <= 0 GROUP BY db.k
           UNION ALL
           SELECT -1, COALESCE(SUM(y), 0) FROM s$e WHERE y * s <= 0),
         w$e AS MATERIALIZED (
           SELECT p.k, CAST(p.w + COALESCE(d.dw, 0) AS BIGINT) AS w
           FROM $w p LEFT JOIN delta$e d ON d.k = p.k)""" else ""
      s"""s$e AS MATERIALIZED (
           SELECT dy.doc_id, dy.y, b.bias + COALESCE(SUM(wt.w * db.cnt), 0) AS s
           FROM docy dy
           CROSS JOIN (SELECT w AS bias FROM $w WHERE k = -1) b
           LEFT JOIN db ON db.doc_id = dy.doc_id
           LEFT JOIN $w wt ON wt.k = db.k
           GROUP BY dy.doc_id, dy.y, b.bias),
         c$e AS MATERIALIZED (SELECT count(*) FILTER (WHERE y * s > 0) AS correct FROM s$e)$upd"""
    }.mkString(",\n")
    val cand = (1 to epochs + 1)
      .map(e => s"SELECT $e AS e, correct FROM c$e").mkString(" UNION ALL ")
    val allw = (1 to epochs + 1)
      .map(e => s"SELECT $e AS e, k, w FROM w${e - 1}").mkString(" UNION ALL ")
    s"""WITH toks AS MATERIALIZED (
         SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
         FROM documents),
       vocab AS MATERIALIZED (SELECT DISTINCT tok FROM toks),
       $fnvMixVhCte,
       vb AS MATERIALIZED (SELECT tok, CAST(h % 256 AS BIGINT) AS k FROM vh),
       db AS MATERIALIZED (
         SELECT t.doc_id, v.k, count(*) AS cnt
         FROM toks t JOIN vb v ON v.tok = t.tok
         GROUP BY t.doc_id, v.k),
       docy AS MATERIALIZED (
         SELECT doc_id, CASE WHEN
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 x -> x = 'spark'))
           > len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 x -> x = 'vector'))
           THEN 1 ELSE -1 END AS y
         FROM documents),
       w0 AS MATERIALIZED (SELECT k, CAST(0 AS BIGINT) AS w FROM range(-1, 256) t(k)),
       $scoreSteps,
       cand AS MATERIALIZED ($cand),
       best AS (SELECT e FROM cand ORDER BY correct DESC, e ASC LIMIT 1),
       allw AS MATERIALIZED ($allw),
       pw AS MATERIALIZED (SELECT k, w FROM allw WHERE e = (SELECT e FROM best)),
       fin AS (
         SELECT dy.doc_id, dy.y, b.bias + COALESCE(SUM(wt.w * db.cnt), 0) AS s
         FROM docy dy
         CROSS JOIN (SELECT w AS bias FROM pw WHERE k = -1) b
         LEFT JOIN db ON db.doc_id = dy.doc_id
         LEFT JOIN pw wt ON wt.k = db.k
         GROUP BY dy.doc_id, dy.y, b.bias)
       SELECT doc_id, CAST(s AS BIGINT) AS score,
              CAST(CASE WHEN s >= 0 THEN 1 ELSE -1 END AS INTEGER) AS pred,
              CAST(y AS BIGINT) AS y
       FROM fin ORDER BY doc_id"""
  }

  /** DuckDB replay of ops/Dedup.simhashPairs over the documents table
    * (r13): simhash is all-integer (per-bit majority vote over the
    * [[fnvMixVhCte]] token hashes — NO empty-token filter, matching
    * TextHash.simhash's tokenize), and the banded candidate generation
    * GUARANTEES recall to Hamming ≤ 3 with no bucket anywhere near the
    * skew cap at gate scale — so the banded+verified pair set equals
    * the brute-force all-pairs set this oracle computes. */
  private val simhashOracle: String =
    s"""WITH toks AS MATERIALIZED (
         SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         FROM documents),
       vocab AS MATERIALIZED (SELECT DISTINCT tok FROM toks),
       $fnvMixVhCte,
       bits AS MATERIALIZED (
         SELECT t.doc_id, b.b,
                SUM(CASE WHEN (v.h >> CAST(b.b AS INTEGER)) % 2 = 1 THEN 1 ELSE 0 END) AS ones,
                COUNT(*) AS n
         FROM toks t JOIN vh v USING (tok)
         CROSS JOIN (SELECT unnest(range(64)) AS b) b
         GROUP BY t.doc_id, b.b),
       sh AS MATERIALIZED (
         SELECT doc_id,
                CAST(SUM(CASE WHEN ones * 2 > n
                         THEN (CAST(1 AS UBIGINT) << CAST(b AS INTEGER))::HUGEINT
                         ELSE 0 END) % 18446744073709551616 AS UBIGINT) AS h
         FROM bits GROUP BY doc_id)
       SELECT a.doc_id AS id1, c.doc_id AS id2,
              CAST(bit_count(xor(a.h, c.h)) AS INTEGER) AS hamming
       FROM sh a JOIN sh c ON a.doc_id < c.doc_id
       WHERE bit_count(xor(a.h, c.h)) <= 3
       ORDER BY id1, id2"""

  /** DuckDB replay of ops/Bpe.learnMerges (r13, the classifierOracle
    * unroll pattern): the greedy merge chain is a deterministic
    * integer/string op sequence, so `epochs` chained CTEs replay it
    * exactly. Each word's segmentation travels as a STRING of
    * separator-wrapped symbols (sym → 0x1F+sym+0x1F, concatenated):
    * one greedy left-to-right non-overlapping merge pass is then
    * literally `replace(s, ⟨a⟩⟨b⟩, ⟨ab⟩)` — SQL replace is
    * left-to-right non-overlapping, the exact fuse rule of each pass
    * of the engine's BpeKernel.mergeChain and referenceLearn. A scan's
    * best pair below minFreq=2 leaves its m-CTE empty, which empties
    * every later CTE — the engine's early stop falls out for free.
    * With `encode = true` the segmentation of the last NON-EMPTY
    * w-CTE (early stop empties the later ones — r13 advice) is
    * re-aggregated into q_bpe_encode's per-source fertility stats
    * instead of the merge list. 0x1F never occurs in the fixture text
    * (asserted cheap: a symbol containing the separator would break
    * the framing). */
  private def bpeOracle(epochs: Int, encode: Boolean): String = {
    val S = "chr(31)"
    val steps = (1 to epochs).map { e =>
      s"""p$e AS MATERIALIZED (
           SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(wcount) AS BIGINT) AS freq
           FROM (SELECT wcount, list_filter(string_split(s, $S), x -> x <> '') AS syms
                 FROM w${e - 1}),
                UNNEST(range(1, len(syms))) AS t(i)
           GROUP BY 1, 2),
         m$e AS MATERIALIZED (
           SELECT l, r, freq FROM p$e WHERE freq >= 2
           ORDER BY freq DESC, l, r LIMIT 1),
         w$e AS MATERIALIZED (
           SELECT w.word, w.wcount,
                  replace(w.s, $S||m.l||$S||$S||m.r||$S, $S||m.l||m.r||$S) AS s
           FROM w${e - 1} w CROSS JOIN m$e m)"""
    }.mkString(",\n")
    val finalSel =
      if (!encode) {
        val cand = (1 to epochs)
          .map(e => s"SELECT ${e - 1} AS rank, l, r, freq FROM m$e")
          .mkString(" UNION ALL ")
        s"""SELECT CAST(rank AS BIGINT) AS rank, l AS "left", r AS "right",
                  l || r AS merged, freq
           FROM ($cand) ORDER BY rank"""
      } else {
        // segmentations come from the last NON-EMPTY w-CTE, not
        // w$epochs (r13 advice): an engine early-stop before `epochs`
        // merges empties every later m-CTE and hence every later
        // w-CTE (w$e cross-joins m$e), so reading w$epochs would turn
        // every per-doc token count into 0 while the engine reports
        // the truncated-but-real segmentation. The merge-list variant
        // already handles early stop (absent m rows are absent merge
        // rows); this makes the encode variant degrade identically.
        val allW = (0 to epochs)
          .map(e => s"SELECT word, s, $e AS e FROM w$e")
          .mkString(" UNION ALL ")
        s"""SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(SUM(s.toks) AS BIGINT) AS tokens_total,
                  CAST(SUM(len(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g'))) AS BIGINT) AS chars_norm,
                  round(CAST(SUM(s.toks) AS DOUBLE) /
                    SUM(len(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g'))), 4) AS fertility
           FROM (SELECT d.doc_id, d.source, COALESCE(SUM(g.n), 0) AS toks
                 FROM (SELECT doc_id, source FROM documents) d
                 LEFT JOIN dtoks t ON t.doc_id = d.doc_id
                 LEFT JOIN (SELECT word,
                              CAST(len(list_filter(string_split(s, $S), x -> x <> '')) AS BIGINT) AS n
                            FROM (SELECT word, s,
                                    MAX(e) OVER () AS me, e
                                  FROM ($allW))
                            WHERE e = me) g ON g.word = t.word
                 GROUP BY d.doc_id, d.source) s
           JOIN documents d ON d.doc_id = s.doc_id
           GROUP BY s.source ORDER BY s.source"""
      }
    s"""WITH dtoks AS MATERIALIZED (
         SELECT doc_id, source,
                unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                  x -> x <> '')) AS word
         FROM documents),
       w0 AS MATERIALIZED (
         SELECT word, CAST(count(*) AS BIGINT) AS wcount,
                $S || array_to_string(
                  list_transform(range(1, len(word)+1), i -> word[i]) || ['</w>'],
                  $S||$S) || $S AS s
         FROM dtoks GROUP BY word),
       $steps
       $finalSel"""
  }

  /** Exact DuckDB replay of Spark's xxhash64(key_string, salt_int)
    * (r17, promotes q_sketch_cms): the count-min cells are
    * `pmod(xxhash64(CAST(key AS STRING), r), width)`, and Spark's
    * XXH64 chain — string bytes hashed at seed 42, then the int salt
    * hashed at the string hash as seed — is pure 64-bit wrapping
    * arithmetic, replayed here with the HUGEINT-decomposed multiply
    * [[combineSql]] established. Branches are generated per key
    * string length 1..8 (decimal BIGINT keys; a longer key simply
    * drops out of the union and the gate fails LOUDLY as a row-count
    * mismatch). Validated bit-identical against pyspark's xxhash64 on
    * probe keys and against an independent python model over every
    * fixture key before wiring. Emits `buckets` (u, r, bucket) for
    * r = 0..depth-1 over CTE `keys(u, s)` the caller defines. */
  private def xxh64BucketCtes(depth: Int, width: Int): String = {
    val M64 = "18446744073709551616"
    val P1 = 0x9E3779B185EBCA87L; val P2 = 0xC2B2AE3D27D4EB4FL
    val P3 = 0x165667B19E3779F9L; val P4 = 0x85EBCA77C2B2AE63L
    val P5 = 0x27D4EB2F165667C5L
    def u(x: Long): String = java.lang.Long.toUnsignedString(x)
    def mulc(x: String, c: Long): String = {
      val hi = c >>> 32; val lo = c & 0xFFFFFFFFL
      s"CAST((CAST($x AS HUGEINT) * $lo + ((CAST($x AS HUGEINT) * $hi) % 4294967296) * 4294967296) % $M64 AS UBIGINT)"
    }
    def rotl(x: String, k: Int): String =
      s"CAST(((CAST($x AS HUGEINT) * ${1L << k}) % $M64 + CAST($x AS HUGEINT) // ${1L << (64 - k)}) AS UBIGINT)"
    def addc(x: String, c: Long): String =
      s"CAST((CAST($x AS HUGEINT) + ${u(c)}) % $M64 AS UBIGINT)"
    var n = 0
    def chainSel(src: String, keep: String, steps: Seq[String]): String =
      steps.foldLeft(src) { (q, s) =>
        n += 1; s"(SELECT $keep, $s AS h FROM $q ch$n)"
      }
    val fmix = Seq(
      s"xor(h, h // ${1L << 33})", mulc("h", P2),
      s"xor(h, h // ${1L << 29})", mulc("h", P3),
      s"xor(h, h // ${1L << 32})")
    def branch(len: Int): String = {
      val init = s"CAST(${u(42L + P5 + len)} AS UBIGINT)"
      val keep = "u, k8, k4a, k4b, b1, b2, b3, b4, b5, b6, b7, b8"
      var first = true
      def base = { val b = if (first) init else "h"; first = false; b }
      val steps = scala.collection.mutable.ArrayBuffer.empty[String]
      var off = 0
      if (len >= 8) { // one full 8-byte word: k1 round
        steps += s"xor($base, ${mulc(rotl(mulc("k8", P2), 31), P1)})"
        steps += rotl("h", 27); steps += mulc("h", P1); steps += addc("h", P4)
        off = 8
      }
      if (len - off >= 4) { // 4-byte tail step
        val k4 = if (off == 0) "k4a" else "k4b"
        steps += s"xor($base, ${mulc(k4, P1)})"
        steps += rotl("h", 23); steps += mulc("h", P2); steps += addc("h", P3)
        off += 4
      }
      ((off + 1) to len).foreach { j => // byte tail steps
        steps += s"xor($base, ${mulc(s"b$j", P5)})"
        steps += rotl("h", 11); steps += mulc("h", P1)
      }
      steps ++= fmix
      chainSel(s"(SELECT $keep FROM ub2 WHERE L = $len)", keep, steps.toSeq)
    }
    val saltRows = (0 until depth)
      .map(r => s"(CAST($r AS INTEGER), CAST('${u(r * P1)}' AS UBIGINT))")
      .mkString(", ")
    val saltChain = chainSel("(SELECT * FROM hsalt0)", "u, r",
      Seq(s"xor(${addc("h", P5 + 4L)}, saltc)",
        rotl("h", 23), mulc("h", P2), addc("h", P3)) ++ fmix)
    def byteAt(j: Int): String =
      s"CAST(CASE WHEN length(s) >= $j THEN ord(substr(s,$j,1)) ELSE 0 END AS UBIGINT)"
    val byteCols = (1 to 8).map(j => s"${byteAt(j)} AS b$j").mkString(", ")
    val k4a = (1 to 4).map(j => s"b$j * ${u(1L << (8 * (j - 1)))}").mkString(" + ")
    val k4b = (5 to 8).map(j => s"b$j * ${u(1L << (8 * (j - 5)))}").mkString(" + ")
    val k8 = (1 to 8).map(j => s"CAST(b$j AS HUGEINT) * ${u(1L << (8 * (j - 1)))}").mkString(" + ")
    s"""ub AS MATERIALIZED (
         SELECT u, length(s) AS L, $byteCols FROM keys),
       ub2 AS MATERIALIZED (
         SELECT *, $k4a AS k4a, $k4b AS k4b,
                CAST(($k8) % $M64 AS UBIGINT) AS k8
         FROM ub),
       hstr AS MATERIALIZED (
         ${(1 to 8).map(l => s"SELECT u, h FROM ${branch(l)} bb$l")
             .mkString("\nUNION ALL\n")}),
       hsalt0 AS (
         SELECT hstr.u, st.r, st.saltc, hstr.h
         FROM hstr CROSS JOIN (VALUES $saltRows) st(r, saltc)),
       buckets AS MATERIALIZED (
         SELECT u, r, CAST(h % $width AS BIGINT) AS bucket FROM $saltChain fc)"""
  }

  /** PQ ANN DuckDB replay (q_sim_pq, r17) — see the oracle-map entry
    * for the step-by-step semantics. `pool·k` is fixed at 48 (pool 16,
    * k 3) matching the gate's call. */
  private def pqOracle(m: Int, ksub: Int, subDim: Int): String = {
    // explicit left-associative j-order sum — the ADC kernel's loop
    val adcSum = (0 until m)
      .map(j => s"q.lut[${j * ksub} + it.codes[${j + 1}] + 1]")
      .mkString(" + ")
    val subCodes = (0 until m).map { j =>
      s"""SELECT en.vec_id, $j AS j,
             en.vn[${j * subDim + 1}:${(j + 1) * subDim}] AS sub
          FROM en"""
    }.mkString("\nUNION ALL\n")
    s"""WITH cb AS MATERIALIZED (
         SELECT j, c, cent, ncent
         FROM read_parquet('__GRAFT_AUX__/pq_codebook.parquet/*.parquet')
       ), e AS MATERIALIZED (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), en AS MATERIALIZED (
         -- the engine's l2normalizedF: double norm, per-element
         -- double division rounded through FLOAT, zero-norm passthrough
         SELECT vec_id, v,
                CASE WHEN nrm = 0 THEN v
                     ELSE list_transform(v, x ->
                       CAST(CAST(x / nrm AS FLOAT) AS DOUBLE)) END AS vn
         FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
       ), subs AS MATERIALIZED ($subCodes
       ), coded AS MATERIALIZED (
         SELECT vec_id, j, c AS code FROM (
           SELECT s.vec_id, s.j, cb.c,
                  row_number() OVER (PARTITION BY s.vec_id, s.j
                    ORDER BY list_dot_product(s.sub, cb.ncent) DESC, cb.c) AS rn
           FROM subs s JOIN cb ON cb.j = s.j) WHERE rn = 1
       ), codes AS MATERIALIZED (
         SELECT vec_id AS item_id, list(code ORDER BY j) AS codes
         FROM coded GROUP BY vec_id
       ), qn AS MATERIALIZED (
         -- query normalization stays DOUBLE precision (the driver-side
         -- LUT path never rounds through float)
         SELECT vec_id AS query_id, v,
                CASE WHEN nrm = 0 THEN v
                     ELSE list_transform(v, x -> x / nrm) END AS vn
         FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
               FROM e WHERE vec_id < 100)
       ), lutvals AS MATERIALIZED (
         SELECT q.query_id, cb.j, cb.c,
                list_dot_product(
                  q.vn[cb.j * $subDim + 1:(cb.j + 1) * $subDim], cb.cent) AS lv
         FROM qn q CROSS JOIN cb
       ), lutflat AS MATERIALIZED (
         SELECT query_id, list(lv ORDER BY j, c) AS lut
         FROM lutvals GROUP BY query_id
       ), adc AS MATERIALIZED (
         SELECT q.query_id, it.item_id, $adcSum AS adc
         FROM codes it CROSS JOIN lutflat q
         WHERE it.item_id <> q.query_id
       ), cand AS (
         SELECT query_id, item_id FROM (
           SELECT query_id, item_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY adc DESC, item_id) AS arank
           FROM adc) WHERE arank <= 48
       ), scored AS (
         SELECT c.query_id, c.item_id,
                list_cosine_similarity(ei.v, eq.v) AS cos
         FROM cand c
         JOIN e ei ON ei.vec_id = c.item_id
         JOIN e eq ON eq.vec_id = c.query_id
       )
       SELECT query_id, item_id, CAST(rank AS INTEGER) AS rank FROM (
         SELECT query_id, item_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, item_id) AS rank
         FROM scored)
       WHERE rank <= 3 ORDER BY query_id, rank"""
  }

  /** Hyperplane-LSH signature machinery as shared CTEs over an `e`
    * CTE the caller defines (vec_id, …, v DOUBLE[]) — the r17 replay
    * that promotes q_dedup_embed / q_sim_lsh: the hyperplanes are
    * FORMULA-DERIVED (VectorSim.weight: TextHash.combine(tbl·1024+p,
    * d) → floorMod 2000001 → [-1, 1]), so the whole signature is
    * deterministic SQL — [[combineSql]] replays the hash, the weight
    * lists assemble in dimension order, and each sign bit is the
    * left-to-right double dot product's `>= 0` exactly as the kernel
    * computes it. `planes` auto-sizes from the corpus count with the
    * engine's max(4, ceil(log₂(n/occupancy))) formula. Produces
    * `sig` (vec_id, tbl, sig). */
  private def lshSigCtes(tables: Int, occupancy: Int): String = {
    val comb = combineSql(Seq("tbl", "p", "d"), "famU", "dU")
      .replace("__SRC__", "gridw")
    s"""nw AS (SELECT count(*) AS n FROM e),
       pl AS (SELECT greatest(4, CAST(ceil(ln(greatest(1.0, n / $occupancy.0))
                / ln(2.0)) AS INTEGER)) AS planes FROM nw),
       gridw AS MATERIALIZED (
         SELECT t.tbl, p.p, CAST(t.tbl * 1024 + p.p AS UBIGINT) AS famU,
                d.d, CAST(d.d AS UBIGINT) AS dU
         FROM (SELECT unnest(range($tables)) AS tbl) t,
              (SELECT unnest(range((SELECT planes FROM pl))) AS p) p,
              (SELECT unnest(range(64)) AS d) d),
       weightsw AS MATERIALIZED (
         SELECT tbl, p, d,
                (CAST(((sm % 2000001) + 2000001) % 2000001 AS DOUBLE)
                  - 1000000.0) / 1000000.0 AS w
         FROM (SELECT tbl, p, d,
                 CASE WHEN comb >= CAST(9223372036854775808 AS UBIGINT)
                      THEN CAST(comb AS HUGEINT) - 18446744073709551616
                      ELSE CAST(comb AS HUGEINT) END AS sm
               FROM $comb qcmb) sgn),
       wl AS MATERIALIZED (
         SELECT tbl, p, list(w ORDER BY d) AS wl FROM weightsw GROUP BY tbl, p),
       sig AS MATERIALIZED (
         SELECT e.vec_id, w.tbl,
                CAST(SUM(CASE WHEN list_dot_product(e.v, w.wl) >= 0
                              THEN CAST(1 AS BIGINT) << w.p ELSE 0 END) AS BIGINT) AS sig
         FROM e CROSS JOIN wl w GROUP BY e.vec_id, w.tbl)"""
  }

  /** IVF top-k DuckDB replay from a gate-persisted NORMALIZED
    * codebook (`__GRAFT_AUX__/<auxFile>.parquet`): corpus rows take
    * their rank-1 cell, query rows (vec_id < 200) their 4 nearest
    * cells — both by (dot product vs normalized centroid DESC, cell
    * ASC), the NearestCellsExpr rule — then exact cosine over shared
    * cells, row_number (cosine DESC, item_id ASC), top 3. */
  private def ivfOracle(auxFile: String): String =
    s"""WITH cents AS MATERIALIZED (
         SELECT cell, cent
         FROM read_parquet('__GRAFT_AUX__/$auxFile.parquet/*.parquet')
       ), e AS MATERIALIZED (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       ), ranked_cells AS MATERIALIZED (
         SELECT e.vec_id, e.v, c.cell,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_dot_product(e.v, c.cent) DESC, c.cell) AS rn
         FROM e CROSS JOIN cents c
       ), ca AS MATERIALIZED (
         SELECT vec_id, v, cell FROM ranked_cells WHERE rn = 1
       ), qa AS MATERIALIZED (
         SELECT vec_id, v, cell FROM ranked_cells
         WHERE rn <= 4 AND vec_id < 200
       ), scored AS (
         SELECT q.vec_id AS query_id, i.vec_id AS item_id,
                list_cosine_similarity(q.v, i.v) AS cos
         FROM qa q JOIN ca i USING (cell)
         WHERE i.vec_id <> q.vec_id
       )
       SELECT query_id, item_id, CAST(rank AS INTEGER) AS rank FROM (
         SELECT query_id, item_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, item_id) AS rank
         FROM scored)
       WHERE rank <= 3 ORDER BY query_id, rank"""

  /** Full DuckDB replay of the unigram-LM tokenizer trainer
    * (q_unigram / q_unigram_encode, r17 — promoted from no_oracle via
    * the q_bpe merge-epoch precedent): word dict → ≤6-codepoint
    * substring seeding (top 2048 by (freq desc, piece) + the full
    * single-char alphabet) → 3 hard-EM rounds. Each round segments
    * every dict word with a Viterbi DP replayed as one generated CTE
    * per position 1..$maxWord (the fixture dict's longest word is 8
    * code points; 16 is the safety bound — a longer word would drop
    * out of the DP and fail the gate LOUDLY as a row-count mismatch),
    * candidate (score desc, piece-length desc) per position exactly
    * matching the kernel's strictly-greater / longer-tie rule
    * (functions/UnigramExprs.scala). Scores are the engine's Q32
    * fixed-point log₂ values (ops/Unigram.log2Fp): each round's piece
    * table runs 32 square-and-compare layers of EXACT integer
    * arithmetic (HUGEINT product, truncating division), so every DP
    * comparison and tie is bit-identical across engines — the float
    * `logp` column is derived from the integer by the same one exact
    * division + one multiplication on both sides. encode=true
    * segments the dict once more under the final vocabulary and
    * re-aggregates the per-source fertility table (the bpeOracle
    * encode shape, including the LEFT-JOIN zero for wordless docs). */
  private def unigramOracle(encode: Boolean): String = {
    val vocabSize = 512
    val seedSize = 2048
    val maxLen = 6
    val maxWord = 16
    // Q32 log2 over `src` (cols: key, is_total, x) → lg$tag (key,
    // is_total, lg): 32 exact square-and-compare layers (the
    // engine's log2Fp loop, verified value-identical in UnigramSpec)
    def log2Cte(tag: String, src: String): String = {
      val steps = (1 to 32).map { i =>
        s"""lg${tag}_$i AS (
             SELECT key, is_total, ip,
                    CASE WHEN y2 >= 8589934592 THEN y2 // 2 ELSE y2 END AS y,
                    frac * 2 + CASE WHEN y2 >= 8589934592 THEN 1 ELSE 0 END AS frac
             FROM (SELECT key, is_total, ip,
                          CAST(CAST(y AS HUGEINT) * y // 4294967296 AS BIGINT) AS y2,
                          frac
                   FROM lg${tag}_${i - 1}))"""
      }.mkString(",\n")
      s"""lg${tag}_0 AS (
           SELECT key, is_total, ip,
                  CASE WHEN ip >= 32 THEN x // (CAST(1 AS BIGINT) << greatest(ip - 32, 0))
                       ELSE x * (CAST(1 AS BIGINT) << greatest(32 - ip, 0)) END AS y,
                  CAST(0 AS BIGINT) AS frac
           FROM (SELECT key, is_total, x, length(bin(x)) - 1 AS ip FROM $src)),
         $steps,
         lg$tag AS MATERIALIZED (
           SELECT key, is_total, ip * 4294967296 + frac AS lg FROM lg${tag}_32)"""
    }
    // fixed-point piece scores for vocab table v$r (piece, cnt):
    // fp = log2fp(cnt) − log2fp(Σcnt)
    def fpCte(r: Int): String =
      s"""fpsrc$r AS (
           SELECT piece AS key, false AS is_total, cnt AS x FROM v$r
           UNION ALL
           SELECT NULL, true, CAST((SELECT SUM(cnt) FROM v$r) AS BIGINT)),
         ${log2Cte(r.toString, s"fpsrc$r")},
         vfp$r AS MATERIALIZED (
           SELECT v.piece, v.cnt,
                  l.lg - (SELECT lg FROM lg$r WHERE is_total) AS fp
           FROM v$r v JOIN lg$r l ON l.key = v.piece AND NOT l.is_total)"""
    // Viterbi DP for round r over piece scores vfp${r-1}: dp$r_$i =
    // best (score, longest-last-piece) segmentation of word[1..i]
    def dpCtes(r: Int): String = {
      val dp0 =
        s"""dp${r}_0 AS MATERIALIZED (
             SELECT word, wcount, CAST(0 AS BIGINT) AS score,
                    CAST([] AS VARCHAR[]) AS pieces
             FROM wdict)"""
      // every dp CTE MUST be MATERIALIZED: dp$i is referenced by up to
      // $maxLen later positions, so a non-materialized chain inlines
      // exponentially (the planner never returns)
      val steps = (1 to maxWord).map { i =>
        val branches = (1 to math.min(maxLen, i)).map { l =>
          s"""SELECT d.word, d.wcount, d.score + v.fp AS score,
                     list_append(d.pieces, v.piece) AS pieces, $l AS l
              FROM dp${r}_${i - l} d
              JOIN vfp${r - 1} v ON v.piece = substr(d.word, ${i - l + 1}, $l)
              WHERE length(d.word) >= $i"""
        }.mkString("\nUNION ALL\n")
        s"""dp${r}_$i AS MATERIALIZED (
             SELECT word, wcount, score, pieces FROM (
               SELECT word, wcount, score, pieces,
                      row_number() OVER (PARTITION BY word
                        ORDER BY score DESC, l DESC) AS rn
               FROM ($branches) cand) rk
             WHERE rn = 1)"""
      }.mkString(",\n")
      val segs = (1 to maxWord)
        .map(i => s"SELECT word, wcount, pieces FROM dp${r}_$i WHERE length(word) = $i")
        .mkString("\nUNION ALL\n")
      s"""$dp0,
         $steps,
         seg$r AS MATERIALIZED ($segs)"""
    }
    // piece counts from round r's segmentation, then the selection
    // rule: previous vocab re-counted, keep (count>0 or alphabet),
    // rank (count desc, piece), top $vocabSize plus ALL alphabet
    // pieces, alphabet counts floored at 1
    def selCtes(r: Int): String =
      s"""cnt$r AS (
           SELECT p AS piece, CAST(SUM(wcount) AS BIGINT) AS c
           FROM (SELECT wcount, unnest(pieces) AS p FROM seg$r)
           GROUP BY 1),
         v$r AS MATERIALIZED (
           SELECT piece, CASE WHEN isalpha THEN greatest(c, 1) ELSE c END AS cnt
           FROM (
             SELECT piece, c, isalpha,
                    row_number() OVER (ORDER BY c DESC, piece) AS rn
             FROM (SELECT v.piece, COALESCE(t.c, 0) AS c,
                          v.piece IN (SELECT piece FROM alpha) AS isalpha
                   FROM v${r - 1} v LEFT JOIN cnt$r t ON t.piece = v.piece)
             WHERE c > 0 OR isalpha)
           WHERE rn <= $vocabSize OR isalpha)"""
    // seeding: every ≤$maxLen-codepoint substring instance of every
    // dict word, weighted by wcount
    val subBranches = (1 to maxLen).map { k =>
      s"""SELECT substr(word, i, $k) AS piece, wcount
          FROM wdict, unnest(generate_series(1, length(word) - $k + 1)) AS u(i)"""
    }.mkString("\nUNION ALL\n")
    val rounds = (1 to 3).map(r => s"${dpCtes(r)},\n${selCtes(r)},\n${fpCte(r)}")
      .mkString(",\n")
    val finalSel =
      if (!encode)
        s"""SELECT piece, CAST(cnt AS BIGINT) AS "count", fp AS logp_fp,
                  (CAST(fp AS DOUBLE) / 4294967296.0) * 0.6931471805599453 AS logp
           FROM vfp3 ORDER BY piece"""
      else
        s""",${dpCtes(4)}
           SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(SUM(s.toks) AS BIGINT) AS tokens_total,
                  CAST(SUM(len(regexp_replace(trim(lower(d.text)), '\\s+', '', 'g'))) AS BIGINT) AS chars_squeezed,
                  round(CAST(SUM(s.toks) AS DOUBLE) /
                    SUM(len(regexp_replace(trim(lower(d.text)), '\\s+', '', 'g'))), 4) AS fertility
           FROM (SELECT d.doc_id, d.source, COALESCE(SUM(g.n), 0) AS toks
                 FROM (SELECT doc_id, source FROM documents) d
                 LEFT JOIN dtoks t ON t.doc_id = d.doc_id
                 LEFT JOIN (SELECT word, CAST(len(pieces) AS BIGINT) AS n FROM seg4) g
                   ON g.word = t.word
                 GROUP BY d.doc_id, d.source) s
           JOIN documents d ON d.doc_id = s.doc_id
           GROUP BY s.source ORDER BY s.source"""
    s"""WITH dtoks AS MATERIALIZED (
         SELECT doc_id, source,
                unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                  x -> x <> '')) AS word
         FROM documents),
       wdict AS MATERIALIZED (
         SELECT word, CAST(count(*) AS BIGINT) AS wcount
         FROM dtoks GROUP BY word),
       subfreq AS MATERIALIZED (
         SELECT piece, CAST(SUM(wcount) AS BIGINT) AS freq
         FROM ($subBranches) GROUP BY piece),
       seedtop AS (SELECT piece, freq FROM subfreq
                   ORDER BY freq DESC, piece LIMIT $seedSize),
       alpha AS MATERIALIZED (
         SELECT piece, freq FROM subfreq WHERE length(piece) = 1),
       v0 AS MATERIALIZED (
         SELECT DISTINCT piece, freq AS cnt
         FROM (SELECT * FROM seedtop UNION ALL SELECT * FROM alpha)),
       ${fpCte(0)},
       $rounds
       $finalSel"""
  }

  /** Layered DuckDB replay of TextHash.combine(a, b) =
    * mix64(a xor (b · 0x9e3779b97f4a7c15)) — the order-sensitive hash
    * combiner behind shingles, MinHash seeding and band folding.
    * Emits SIX nested projections over the `__SRC__` placeholder
    * (caller substitutes its FROM source and aliases the block), each
    * layer referencing the previous once, so chained combines stay
    * LINEAR in SQL size — inlining the mix64 steps instead doubles the
    * text per level (mulmod uses its argument twice) and goes
    * exponential. All arithmetic UBIGINT with the 64-bit wrapping
    * multiplies decomposed through HUGEINT, as in [[fnvMixVhCte]]. */
  private def combineSql(keep: Seq[String], a: String, b: String): String = {
    val M = "18446744073709551616"
    def mulmod(col: String, hi: Long, lo: Long): String =
      s"CAST(($col::HUGEINT * $lo + (($col::HUGEINT * $hi) % 4294967296) * 4294967296) % $M AS UBIGINT)"
    val k = keep.mkString(", ")
    s"""(
       SELECT $k, xor(m4, m4 >> 33) AS comb FROM (
        SELECT $k, ${mulmod("m3", 3301882366L, 444984403L)} AS m4 FROM (
         SELECT $k, xor(m2, m2 >> 33) AS m3 FROM (
          SELECT $k, ${mulmod("m1", 4283543511L, 3981806797L)} AS m2 FROM (
           SELECT $k, xor(m0, m0 >> 33) AS m1 FROM (
            SELECT $k, xor($a, ${mulmod(b, 2654435769L, 2135587861L)}) AS m0 FROM __SRC__ ))))))"""
  }

  /** The MinHash pipeline as shared DuckDB CTEs over a `corpus(doc_id,
    * text, …)` CTE the caller defines first (r13): tokenize →
    * [[fnvMixVhCte]] token hashes → k=5 rolling shingles (chained
    * [[combineSql]] folds; <k-token docs take one whole-doc shingle) →
    * 64 seeded-rehash minima as `sig` (SIGNED Long minima, matching
    * the engine) → 16 band folds salted by band index as `bands`.
    * Every step is integer-exact; the per-query oracles below differ
    * only in candidate generation / thresholds / drop rules. */
  private def minhashCoreCtes: String = {
    val M = "18446744073709551616"
    val shingleSteps = (1 to 4).map { j =>
      val inner = s"""
        (SELECT s.doc_id, s.i, s.acc, s.nt, t.h AS thj
         FROM sh${j - 1} s LEFT JOIN th t ON t.doc_id = s.doc_id AND t.pos = s.i + $j
           AND (s.nt >= 5 OR s.i + $j <= s.nt)) src$j"""
      val lay = combineSql(Seq("doc_id", "i", "acc", "nt", "thj"),
        "acc", "COALESCE(thj, CAST(0 AS UBIGINT))").replace("__SRC__", inner)
      s"""sh$j AS MATERIALIZED (
           SELECT doc_id, i, nt,
                  CASE WHEN thj IS NULL THEN acc ELSE comb END AS acc
           FROM $lay q$j)"""
    }.mkString(",\n")
    val sigSel = combineSql(Seq("doc_id", "seed"), "acc", "CAST(seed AS UBIGINT)")
      .replace("__SRC__",
        "(SELECT s.doc_id, s.acc, g.seed FROM shing s CROSS JOIN (SELECT unnest(range(64)) AS seed) g) srcS")
    val bandSteps = (1 to 3).map { j =>
      val inner = s"""
        (SELECT b.doc_id, b.band, b.acc,
                CAST(((s.mn::HUGEINT % $M) + $M) % $M AS UBIGINT) AS nx
         FROM bf${j - 1} b JOIN sig s ON s.doc_id = b.doc_id AND s.seed = b.band * 4 + $j) srcB$j"""
      val lay = combineSql(Seq("doc_id", "band"), "acc", "nx").replace("__SRC__", inner)
      s"bf$j AS MATERIALIZED (SELECT doc_id, band, comb AS acc FROM $lay qb$j)"
    }.mkString(",\n")
    val salt = combineSql(Seq("doc_id", "band"), "acc", "CAST(band AS UBIGINT)")
      .replace("__SRC__", "bf3")
    s"""dt AS MATERIALIZED (
         SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS l FROM corpus),
       vocab AS MATERIALIZED (SELECT DISTINCT unnest(l) AS tok FROM dt),
       $fnvMixVhCte,
       th AS MATERIALIZED (
         SELECT e.doc_id, e.s['p'] AS pos, v.h
         FROM (SELECT doc_id, unnest(list_transform(range(1, len(l)+1),
                 i -> {'p': i, 'tok': l[i]})) AS s FROM dt) e
         JOIN vh v ON v.tok = e.s['tok']),
       nt AS MATERIALIZED (SELECT doc_id, len(l) AS nt FROM dt),
       sh0 AS MATERIALIZED (
         SELECT t.doc_id, t.pos AS i, t.h AS acc, n.nt
         FROM th t JOIN nt n USING (doc_id)
         WHERE (n.nt >= 5 AND t.pos <= n.nt - 4) OR (n.nt < 5 AND t.pos = 1)),
       $shingleSteps,
       shing AS MATERIALIZED (SELECT doc_id, acc FROM sh4),
       sig AS MATERIALIZED (
         SELECT doc_id, seed,
                MIN(CASE WHEN comb >= CAST(9223372036854775808 AS UBIGINT)
                         THEN CAST(comb::HUGEINT - $M AS BIGINT)
                         ELSE CAST(comb AS BIGINT) END) AS mn
         FROM $sigSel q GROUP BY doc_id, seed),
       bf0 AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
                CAST(((mn::HUGEINT % $M) + $M) % $M AS UBIGINT) AS acc
         FROM sig WHERE seed % 4 = 0),
       $bandSteps,
       bands AS MATERIALIZED (SELECT doc_id, band, comb AS bucket FROM $salt qs)"""
  }

  /** DuckDB replay of the WHOLE one-shot MinHash dedup behind
    * q_dedup_minhash (r13): [[minhashCoreCtes]], then skew-capped
    * band-bucket candidates → signature-agreement estimate ≥ 0.6 →
    * greedy min-id drop (id2 of any passing pair). Survivor set
    * hash-matches with zero tolerance. */
  private def minhashDedupOracle: String =
    s"""WITH corpus AS MATERIALIZED (SELECT doc_id, text FROM documents),
       $minhashCoreCtes,
       capped AS MATERIALIZED (
         SELECT b.* FROM bands b
         JOIN (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 1000) ok
         USING (band, bucket)),
       cand AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM capped a JOIN capped b USING (band, bucket)
         WHERE a.doc_id < b.doc_id),
       agree AS MATERIALIZED (
         SELECT c.id1, c.id2, count(*) FILTER (WHERE s1.mn = s2.mn) AS agr
         FROM cand c
         JOIN sig s1 ON s1.doc_id = c.id1
         JOIN sig s2 ON s2.doc_id = c.id2 AND s2.seed = s1.seed
         GROUP BY c.id1, c.id2),
       dropped AS MATERIALIZED (
         SELECT DISTINCT id2 AS doc_id FROM agree WHERE CAST(agr AS DOUBLE) / 64 >= 0.6)
       SELECT d.doc_id, d.lang, d.source
       FROM documents d LEFT JOIN dropped x ON x.doc_id = d.doc_id
       WHERE x.doc_id IS NULL
       ORDER BY d.doc_id"""

  /** DuckDB replay of q_dedup_incremental (r13): the corpus splits at
    * the approx-median doc_id (accuracy 10M ≫ corpus rows → the sketch
    * retains every value, so both engines compute the exact
    * lower-median; the gate ASSERTS corpus rows < accuracy in the same
    * job as the median — r13 advice) into two ingest batches; batch
    * 1 dedups within itself (greedy id2-of-passing-pair drop, cap
    * effectively unbounded like the gate's), batch 2 dedups within
    * itself AND against batch 1's KEPT survivors. Pure set algebra
    * over the shared core's passing pairs — ids in batch 1 are all
    * below ids in batch 2, so a cross pair's id1 side is always the
    * index side. */
  private def incrementalDedupOracle: String =
    s"""WITH corpus AS MATERIALIZED (SELECT doc_id, text, source FROM documents),
       $minhashCoreCtes,
       mid AS MATERIALIZED (SELECT quantile_disc(doc_id, 0.5) AS m FROM corpus),
       cand AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM bands a JOIN bands b USING (band, bucket)
         WHERE a.doc_id < b.doc_id),
       passing AS MATERIALIZED (
         SELECT c.id1, c.id2
         FROM cand c
         JOIN sig s1 ON s1.doc_id = c.id1
         JOIN sig s2 ON s2.doc_id = c.id2 AND s2.seed = s1.seed
         GROUP BY c.id1, c.id2
         HAVING CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64 >= 0.6),
       b1 AS MATERIALIZED (SELECT doc_id FROM corpus, mid WHERE doc_id < m),
       b2 AS MATERIALIZED (SELECT doc_id FROM corpus, mid WHERE doc_id >= m),
       s1k AS MATERIALIZED (
         SELECT doc_id FROM b1 WHERE doc_id NOT IN (
           SELECT p.id2 FROM passing p JOIN b1 x ON x.doc_id = p.id1)),
       surv2 AS MATERIALIZED (
         SELECT doc_id FROM b2
         WHERE doc_id NOT IN (SELECT p.id2 FROM passing p JOIN b2 x ON x.doc_id = p.id1)
           AND doc_id NOT IN (SELECT p.id2 FROM passing p JOIN s1k k ON k.doc_id = p.id1))
       SELECT c.doc_id, c.source FROM corpus c
       JOIN (SELECT doc_id FROM s1k UNION ALL SELECT doc_id FROM surv2) s USING (doc_id)
       ORDER BY c.doc_id"""

  /** DuckDB replay of q_dedup_probe (r13): the index is the even-id
    * half deduped within itself at the open() default threshold 0.7;
    * the probes are the first 100 survivors re-keyed past max(doc_id)
    * with IDENTICAL text, so each probe's signature and bands EQUAL
    * its source's and the replay reuses them by src_id. Probe hits =
    * band collisions against the index-side skew-capped KEPT rows,
    * verified by signature agreement ≥ 0.7; est_jaccard = agr/64 has
    * ≤ 6 decimal digits exactly (64 = 2⁶), so round(…, 6) is the
    * identity on both engines. The noise probes and the
    * read-only/version asserts stay in-gate. */
  private def probeOracle: String =
    s"""WITH corpus AS MATERIALIZED (
         SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
       $minhashCoreCtes,
       capped AS MATERIALIZED (
         SELECT b.* FROM bands b
         JOIN (SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 1000) ok
         USING (band, bucket)),
       passing AS MATERIALIZED (
         SELECT c.id1, c.id2 FROM
           (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM capped a JOIN capped b USING (band, bucket) WHERE a.doc_id < b.doc_id) c
         JOIN sig s1 ON s1.doc_id = c.id1
         JOIN sig s2 ON s2.doc_id = c.id2 AND s2.seed = s1.seed
         GROUP BY c.id1, c.id2
         HAVING CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64 >= 0.7),
       kept AS MATERIALIZED (
         SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT id2 FROM passing)),
       keptCapped AS MATERIALIZED (
         SELECT b.* FROM bands b JOIN kept k USING (doc_id)
         JOIN (SELECT band, bucket FROM bands JOIN kept USING (doc_id)
               GROUP BY band, bucket HAVING count(*) <= 1000) ok
         USING (band, bucket)),
       mx AS MATERIALIZED (SELECT max(doc_id) AS m FROM documents),
       probes AS MATERIALIZED (
         SELECT doc_id AS src_id, doc_id + (SELECT m FROM mx) + 1 AS probe_id
         FROM kept ORDER BY doc_id LIMIT 100),
       phits AS MATERIALIZED (
         SELECT p.probe_id, p.src_id, kb.doc_id AS kept_id
         FROM probes p
         JOIN bands pb ON pb.doc_id = p.src_id
         JOIN keptCapped kb ON kb.band = pb.band AND kb.bucket = pb.bucket
         GROUP BY p.probe_id, p.src_id, kb.doc_id)
       SELECT h.probe_id AS doc_id, h.kept_id,
              round(CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64, 6) AS est_jaccard
       FROM phits h
       JOIN sig s1 ON s1.doc_id = h.src_id
       JOIN sig s2 ON s2.doc_id = h.kept_id AND s2.seed = s1.seed
       GROUP BY h.probe_id, h.kept_id
       HAVING CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64 >= 0.7
       ORDER BY doc_id, kept_id"""

  /** DuckDB replay of q_stream_neardup (r13): the gate's streamed
    * foreachBatch run is spec-locked IN-GATE to equal a direct
    * two-batch incremental dedup over deterministic halves (batch 1 =
    * doc_id % 8 = 0 of the quarter corpus, batch 2 = the rest,
    * threshold 0.9, open() default cap 1000) — so the oracle replays
    * that two-batch semantics directly: per-batch within dedup over
    * per-batch skew-capped bands, then batch 2 against batch 1's KEPT
    * survivors (index side capped among kept rows). The batches
    * interleave ids, so the cross drop keys on batch membership, not
    * id order. */
  private def streamNeardupOracle: String =
    s"""WITH corpus AS MATERIALIZED (
         SELECT doc_id, text, source FROM documents WHERE doc_id % 4 = 0),
       $minhashCoreCtes,
       b1 AS MATERIALIZED (SELECT doc_id FROM corpus WHERE doc_id % 8 = 0),
       b2 AS MATERIALIZED (SELECT doc_id FROM corpus WHERE doc_id % 8 <> 0),
       c1 AS MATERIALIZED (
         SELECT b.* FROM bands b JOIN b1 USING (doc_id)
         JOIN (SELECT band, bucket FROM bands JOIN b1 USING (doc_id)
               GROUP BY band, bucket HAVING count(*) <= 1000) ok USING (band, bucket)),
       pass1 AS MATERIALIZED (
         SELECT c.id1, c.id2 FROM
           (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM c1 a JOIN c1 b USING (band, bucket) WHERE a.doc_id < b.doc_id) c
         JOIN sig s1 ON s1.doc_id = c.id1
         JOIN sig s2 ON s2.doc_id = c.id2 AND s2.seed = s1.seed
         GROUP BY c.id1, c.id2
         HAVING CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64 >= 0.9),
       s1k AS MATERIALIZED (
         SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT id2 FROM pass1)),
       c2 AS MATERIALIZED (
         SELECT b.* FROM bands b JOIN b2 USING (doc_id)
         JOIN (SELECT band, bucket FROM bands JOIN b2 USING (doc_id)
               GROUP BY band, bucket HAVING count(*) <= 1000) ok USING (band, bucket)),
       pass2 AS MATERIALIZED (
         SELECT c.id1, c.id2 FROM
           (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM c2 a JOIN c2 b USING (band, bucket) WHERE a.doc_id < b.doc_id) c
         JOIN sig s1 ON s1.doc_id = c.id1
         JOIN sig s2 ON s2.doc_id = c.id2 AND s2.seed = s1.seed
         GROUP BY c.id1, c.id2
         HAVING CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64 >= 0.9),
       idxb AS MATERIALIZED (
         SELECT b.* FROM bands b JOIN s1k USING (doc_id)
         JOIN (SELECT band, bucket FROM bands JOIN s1k USING (doc_id)
               GROUP BY band, bucket HAVING count(*) <= 1000) ok USING (band, bucket)),
       crossdrop AS MATERIALIZED (
         SELECT c.d FROM
           (SELECT DISTINCT pb.doc_id AS d, kb.doc_id AS k
            FROM bands pb JOIN b2 ON b2.doc_id = pb.doc_id
            JOIN idxb kb ON kb.band = pb.band AND kb.bucket = pb.bucket) c
         JOIN sig s1 ON s1.doc_id = c.d
         JOIN sig s2 ON s2.doc_id = c.k AND s2.seed = s1.seed
         GROUP BY c.d, c.k
         HAVING CAST(count(*) FILTER (WHERE s1.mn = s2.mn) AS DOUBLE) / 64 >= 0.9),
       surv AS MATERIALIZED (
         SELECT doc_id FROM s1k
         UNION ALL
         SELECT doc_id FROM b2
         WHERE doc_id NOT IN (SELECT id2 FROM pass2)
           AND doc_id NOT IN (SELECT d FROM crossdrop))
       SELECT c.doc_id, c.source FROM corpus c JOIN surv USING (doc_id)
       ORDER BY c.doc_id"""

  private def pageRankOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
           SELECT d.doc_id AS node,
                  CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
           FROM documents d LEFT JOIN (
             SELECT e.dst AS dst, SUM(r.r // o.dg) AS s
             FROM edges e JOIN r${k - 1} r ON r.node = e.src
             JOIN outd o ON o.src = e.src
             GROUP BY e.dst) c ON c.dst = d.doc_id)"""
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*) AS c FROM documents),
       edges AS (SELECT d.doc_id AS src,
                        (d.doc_id * 7 + t.j * 13) % nn.c AS dst
                 FROM documents d
                 CROSS JOIN (VALUES (1), (2), (3)) t(j)
                 CROSS JOIN nn),
       outd AS (SELECT src, count(*) AS dg FROM edges GROUP BY src),
       r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS r
              FROM documents),
       $steps
       SELECT node, r AS rank_fp FROM r$iters ORDER BY node"""
  }
}
