package graft

/** DuckDB oracle SQL for every SQL-expressible query in [[Queries]].
  * Column names/aliases match the Spark side exactly (driver sorts
  * columns by name before hashing). Determinism rules documented on
  * [[Queries]]; notable DuckDB-vs-Spark alignments:
  *
  *  - double sums go through DECIMAL (associative) then CAST AS DOUBLE;
  *  - `CAST(ts AS TIMESTAMP)` truncates the events table's ns
  *    timestamps to Spark's microsecond precision;
  *  - `regexp_split_to_array(trim(x), '\s+')` ≡ Spark
  *    `split(trim(x), "\\s+")`;
  *  - integer outputs are BIGINT on both sides (DuckDB sum(BIGINT) is
  *    HUGEINT → explicit cast).
  */
object OracleSql {

  val all: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q04_join_shuffle_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q05_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q06_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q07_except" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal < 1000
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY c_custkey""".stripMargin,

    "q08_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q09_union_all" ->
      """SELECT 'customer' AS src, count(*) AS n FROM customer
        |UNION ALL
        |SELECT 'supplier' AS src, count(*) AS n FROM supplier
        |ORDER BY src""".stripMargin,

    "q10_anti_join" ->
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin,

    "q11_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q12_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 10
        |ORDER BY o_custkey""".stripMargin,

    "q13_case_when" ->
      """SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
        |            WHEN o_totalprice >= 100000 THEN 'mid'
        |            ELSE 'low' END AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q14_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q15_transform_chain" ->
      """SELECT event_id, user_id, event_type, value AS amount, 'kpipe' AS source
        |FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    // real JSON parsing (not regexp): robust to any key order/payload
    "q16_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, 'k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q17_result_split" ->
      """SELECT event_id, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |  CAST(NULL AS VARCHAR) AS decode_error
        |FROM events ORDER BY event_id""".stripMargin,

    "q18_window_running" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS running_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q19_time_bucket_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q20_dedup_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q21_multi_route" ->
      """SELECT event_id, 'clicks' AS route, value AS amount FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, 'errors' AS route, value AS amount FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,

    "q22_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q23_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""".stripMargin,

    "q24_exact_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin,

    "q25_text_quality" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS n_tokens,
        |  CAST(length(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', '', 'g')) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q26_lang_distribution" ->
      """SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q27_word_jaccard" ->
      """WITH ws AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        |    / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
        |FROM ws a JOIN ws b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,

    "q28_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |       * sqrt(list_dot_product(q.qv, q.qv))), 4) AS sim
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin,

    "q37_pipeline_e2e" ->
      """SELECT event_id, user_id, event_type, value AS amount, 'kpipe' AS source
        |FROM events WHERE event_type <> 'error'
        |ORDER BY event_id""".stripMargin,

    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY coalesce(l_returnflag, '~'), coalesce(l_linestatus, '~')""".stripMargin,

    "q39_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY coalesce(o_orderstatus, '~'), coalesce(o_orderpriority, '~')""".stripMargin,

    "q40_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY coalesce(l_returnflag, '~'), coalesce(l_linestatus, '~')""".stripMargin,

    "q41_pivot" ->
      """SELECT lang,
        |  count(*) FILTER (WHERE source = 'src0') AS src0,
        |  count(*) FILTER (WHERE source = 'src1') AS src1,
        |  count(*) FILTER (WHERE source = 'src2') AS src2,
        |  count(*) FILTER (WHERE source = 'src3') AS src3
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q42_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q43_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_name, 1, 8) AS name8,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  regexp_replace(p_type, ' ', '_', 'g') AS type_u,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q44_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q45_null_funcs" ->
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // sd_qty from exact BIGINT sums, each cast to DOUBLE before the
    // co-moment products (IEEE ops in the same order as the Spark
    // side); stddev_samp(double) would be partial-agg-order- and
    // engine-sensitive (q85 hazard class); n=1 guards to NULL (0/0 is
    // engine-divergent NaN/NULL); the numerator is clamped at 0 like
    // the Spark side — past-2^53 rounding could push a zero-variance
    // group to a tiny negative, and sqrt(neg) is NaN-vs-ERROR across
    // the engines.
    "q46_agg_stats" ->
      """SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CASE WHEN count(*) > 1 THEN
        |    sqrt(greatest(CAST(count(*) AS DOUBLE) * CAST(CAST(sum(q*q) AS BIGINT) AS DOUBLE)
        |       - CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(q) AS BIGINT) AS DOUBLE), 0.0)
        |      / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE)))
        |  END AS sd_qty,
        |  count(*) AS n
        |FROM (SELECT l_returnflag, l_quantity, CAST(l_quantity AS BIGINT) AS q
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q47_asof_join" ->
      """SELECT c.event_id, c.user_id, p.event_id AS last_purchase
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q48_topk_aggregate" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q51_asof_custom" ->
      """SELECT c.event_id, c.user_id, p.event_id AS last_purchase
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q52_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q53_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q54_posexplode" -> Gen.posexplodeSql,

    "q55_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q56_regexp_extract" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  regexp_extract(p_type, '(\w+)$', 1) AS last_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q57_array_funcs" -> Gen.arrayFuncsSql,
    "q58_hash_sample" -> Gen.hashSampleSql,

    // corr/covar from exact BIGINT sums (d = discount·100 integer),
    // each cast to DOUBLE before the co-moment products (same IEEE op
    // order as the Spark side; BIGINT products would wrap at ~6e7
    // rows/group); built-in corr/covar_samp merge float co-moments in
    // partition order (q85 hazard class). Zero-variance/n=1 groups
    // guard to NULL (0/0 is engine-divergent NaN/NULL).
    "q59_corr" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |             CAST(round(l_discount * 100.0, 0) AS BIGINT) AS d
        |           FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |        CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) AS sq,
        |        CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) AS sd,
        |        CAST(CAST(sum(q*q) AS BIGINT) AS DOUBLE) AS sqq,
        |        CAST(CAST(sum(d*d) AS BIGINT) AS DOUBLE) AS sdd,
        |        CAST(CAST(sum(q*d) AS BIGINT) AS DOUBLE) AS sqd
        |      FROM b GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, n,
        |        CAST(n AS DOUBLE) * sqd - sq * sd AS num,
        |        CAST(n AS DOUBLE) * sqq - sq * sq AS dq,
        |        CAST(n AS DOUBLE) * sdd - sd * sd AS dd
        |      FROM s)
        |SELECT l_returnflag,
        |  CASE WHEN dq > 0 AND dd > 0 THEN num / (sqrt(dq) * sqrt(dd)) END
        |    AS corr_qty_disc,
        |  CASE WHEN n > 1 THEN
        |    num / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 100.0 END
        |    AS covar_qty_disc
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q60_avro_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,

    // proto3 collapses null/default: absent fields decode as 0/''
    "q61_proto_roundtrip" ->
      """SELECT event_id, coalesce(user_id, 0) AS user_id,
        |  coalesce(event_type, '') AS event_type,
        |  coalesce(value, 0.0) AS value
        |FROM events ORDER BY event_id""".stripMargin,

    "q62_envelope" ->
      """SELECT event_id, TRUE AS has_envelope, CAST(42 AS BIGINT) AS schema_id,
        |  props AS payload
        |FROM events ORDER BY event_id""".stripMargin,

    "q63_contamination" -> Gen.contaminationSql,
    "q65_dedup_clusters" -> Gen.dedupClustersSql,
    "q74_leakage_safe_split" -> Gen.leakageSafeSplitSql,
    "q75_token_chunks" -> Gen.tokenChunksSql,
    "q66_curation_pipeline" -> Gen.curationPipelineSql,
    "q67_sequence_packing" -> Gen.sequencePackingSql,
    "q64_pii_redact" -> Gen.piiRedactSql,
    "q35_multimodal_probe" -> Gen.multimodalProbeSql,
    "q36_media_features" -> Gen.mediaFeaturesSql,
    "q29_minhash_buckets" -> Gen.minhashBucketsSql,
    "q30_simhash" -> Gen.simhashSql,
    "q31_ann_lsh" -> Gen.annLshSql,
    "q32_langid" -> Gen.langIdSql,
    "q33_quality_score" -> Gen.qualityScoreSql,
    "q34_near_dup_pairs" -> Gen.nearDupPairsSql,
    "q49_embedding_near_dup" -> Gen.embeddingNearDupSql,
    "q76_knn_self" -> Gen.knnSelfSql,
    "q77_eval_sample" -> Gen.evalSampleSql,
    "q78_adaptive_quality" -> Gen.adaptiveQualitySql,
    "q79_ivf_auto" -> Gen.ivfAutoSql,
    "q80_dup_ngram_spans" -> Gen.dupNgramSpansSql,
    "q81_semdedup" -> Gen.semDedupSql,
    "q82_shuffle_shards" -> Gen.shuffleShardsSql,
    "q83_dedup_cut" -> Gen.dedupCutSql,
    "q84_weighted_interleave" -> Gen.weightedInterleaveSql,
    "q85_hll_distinct" -> Gen.hllDistinctSql,
    "q86_hll_merge" -> Gen.hllMergeSql,
    "q87_bloom_contamination" -> Gen.bloomContaminationSql,
    "q88_cms_topk" -> Gen.cmsTopkSql,
    "q89_bloom_flag" -> Gen.bloomFlagSql,
    "q90_kmv_distinct" -> Gen.kmvDistinctSql,
    "q91_kmv_merge" -> Gen.kmvMergeSql,
    "q92_hist_quantiles" -> Gen.histQuantilesSql,
    "q93_minhash_sources" -> Gen.minhashSourcesSql,
    "q94_kmv_jaccard" -> Gen.kmvJaccardSql,
    "q95_hist_by_lang" -> Gen.histByLangSql,
    "q96_multi_bloom" -> Gen.multiBloomSql,
    "q97_cms_by_lang" -> Gen.cmsByLangSql,
    "q98_topk_shards" -> Gen.topkShardsSql,
    "q99_priority_sample" -> Gen.prioritySampleSql,
    "q100_priority_by_lang" -> Gen.priorityByLangSql,
    "q101_hll_windowed" -> Gen.hllWindowedSql,
    "q102_kmv_windowed" -> Gen.kmvWindowedSql,
    "q103_cms_agg" -> Gen.cmsAggSql,
    "q104_kmv_matrix" -> Gen.kmvMatrixSql,
    "q105_kmv_setops" -> Gen.kmvSetOpsSql,
    "q106_lm_surprisal" -> Gen.lmSurprisalSql,
    "q107_zorder_stats" -> Gen.zorderStatsSql,
    "q108_sq_ann" -> Gen.sqAnnSql,
    "q109_bm25" -> Gen.bm25Sql,
    "q110_table_profile" -> Gen.tableProfileSql,
    "q111_incremental_minhash" -> Gen.incrementalMinhashSql,
    "q112_bpe_train" -> Gen.bpeTrainSql,
    "q113_bpe_tokens" -> Gen.bpeTokensSql,
    "q114_nb_classifier" -> Gen.nbClassifierSql,
    "q115_image_header_probe" -> Gen.imageHeaderProbeSql,
    "q116_wav_probe" -> Gen.wavProbeSql,
    "q117_pq_adc" -> Gen.pqAdcSql,
    "q118_ivfpq" -> Gen.ivfPqSql,
    "q119_gopher_rules" -> Gen.gopherRulesSql,
    "q120_dsir_scores" -> Gen.dsirScoresSql,
    "q121_containment" -> Gen.containmentSql,
    "q122_budget_select" -> Gen.budgetSelectSql,
    "q123_ann_recall" -> Gen.annRecallSql,
    "q147_rank_eval" -> Gen.rankEvalSql,
    "q148_random_projection" -> Gen.randomProjectionSql,
    "q149_rp_recall" -> Gen.rpRecallSql,
    "q150_exact_decontam" -> Gen.exactDecontamSql,
    "q151_retention_cohorts" -> Gen.retentionCohortsSql,
    "q152_textrank" -> Gen.textRankSql,
    "q153_label_noise" -> Gen.labelNoiseSql,
    "q154_novelty_curve" -> Gen.noveltyCurveSql,
    "q155_psi_drift" -> Gen.psiDriftSql,
    "q156_data_expectations" -> Gen.dataExpectationsSql,
    "q157_ref_integrity" -> Gen.refIntegritySql,
    "q158_snapshot_diff" -> Gen.snapshotDiffSql,
    "q159_bmp_pixels" -> Gen.bmpPixelsSql,
    "q160_wav_pcm" -> Gen.wavPcmSql,
    "q161_word_triangles" -> Gen.wordTrianglesSql,
    "q162_assoc_rules" -> Gen.assocRulesSql,
    "q163_gif_pixels" -> Gen.gifPixelsSql,
    "q164_join_amplification" -> Gen.joinAmplificationSql,
    "q165_heaps_curve" -> Gen.heapsCurveSql,
    "q166_image_dhash" -> Gen.imageDHashSql,
    "q167_trending" -> Gen.trendingSql,
    "q168_audio_fingerprint" -> Gen.audioFingerprintSql,
    "q169_psi_baseline" -> Gen.psiBaselineSql,
    "q170_zipf_report" -> Gen.zipfReportSql,
    "q171_jpeg_pixels" -> Gen.jpegPixelsSql,
    "q172_decontam_index" -> Gen.decontamIndexSql,
    // the prefix theorem makes the persisted-index probe verify the
    // IDENTICAL match set as the union-df bipartite join — the twin
    // is q150's cross-join ground truth verbatim, pinning that
    // equivalence to DuckDB per round
    "q173_decontam_probe" -> Gen.exactDecontamSql,
    "q174_png_adam7" -> Gen.pngAdam7Sql,
    "q175_ngram_overlap" -> Gen.ngramOverlapSql,
    "q176_cluster_reps" -> Gen.clusterRepsSql,
    "q177_stratified_sample" -> Gen.stratifiedSampleSql,
    "q178_bbit_minhash" -> Gen.bbitMinhashSql,
    "q179_classification_report" -> Gen.classificationReportSql,
    "q180_cohens_kappa" -> Gen.cohensKappaSql,
    "q181_discriminative_words" -> Gen.discriminativeWordsSql,
    "q182_distinct_ngrams" -> Gen.distinctNgramsSql,
    "q183_bayesian_rates" -> Gen.bayesianRatesSql,
    "q184_uncertainty_sample" -> Gen.uncertaintySampleSql,
    "q185_js_divergence" -> Gen.jsDivergenceSql,
    "q186_rank_rbo" -> Gen.rankRboSql,
    "q187_heavy_changers" -> Gen.heavyChangersSql,
    "q188_burstiness" -> Gen.burstinessSql,
    "q189_length_gini" -> Gen.lengthGiniSql,
    "q190_token_entropy" -> Gen.tokenEntropySql,
    "q191_dbscan" -> Gen.dbscanSql,
    "q192_cbor_decode" -> Gen.cborDecodeSql,
    "q193_bm25_index" -> Gen.bm25IndexSql,
    // the probe path scores through the shared emitters, so q109's
    // ground truth pins probe ≡ per-query per round
    "q194_bm25_probe" -> Gen.bm25Sql,
    "q195_percolate" -> Gen.percolateSql,
    "q196_seasonal_anomalies" -> Gen.seasonalAnomaliesSql,
    "q197_cusum_shifts" -> Gen.cusumShiftsSql,
    "q198_chao1_richness" -> Gen.chao1RichnessSql,
    "q199_mann_kendall" -> Gen.mannKendallSql,
    "q200_lead_lag" -> Gen.leadLagSql,
    "q201_wasserstein_drift" -> Gen.wasserstein1Sql,
    "q202_markov_transitions" -> Gen.markovTransitionsSql,
    "q203_markov_stationary" -> Gen.markovStationarySql,
    "q204_sequence_patterns" -> Gen.sequencePatternsSql,
    "q205_rrf_hybrid" -> Gen.rrfHybridSql,
    "q206_benford_screen" -> Gen.benfordScreenSql,
    "q207_survival_curve" -> Gen.survivalCurveSql,
    "q208_mmr_rerank" -> Gen.mmrRerankSql,
    "q209_text_tiling" -> Gen.textTilingSql,
    "q210_zonemap_pruning" -> Gen.zoneMapPruningSql,
    "q211_concurrency_curve" -> Gen.concurrencyCurveSql,
    "q212_calibration_report" -> Gen.calibrationReportSql,
    "q213_item_similarity" -> Gen.itemSimilaritySql,
    "q214_rfm_segments" -> Gen.rfmSegmentsSql,
    "q215_cohort_ltv" -> Gen.cohortLtvSql,
    "q216_transition_dwell" -> Gen.transitionDwellSql,
    "q217_scd2_intervals" -> Gen.scd2IntervalsSql(),
    "q218_fleiss_kappa" -> Gen.fleissKappaSql,
    "q219_hill_tail" -> Gen.hillTailSql,
    "q220_ewma_bands" -> Gen.ewmaBandsSql,
    "q221_bitext_margin" -> Gen.bitextMarginSql,
    "q222_kcore_profile" -> Gen.kcorePeelSql(),
    "q223_theilsen_slope" -> Gen.theilSenSql,
    "q224_pit_join" -> Gen.pitJoinSql,
    "q225_dataset_card" -> Gen.datasetCardSql,
    "q226_acf" -> Gen.acfSql,
    "q227_ks_drift" -> Gen.ksDriftSql,
    "q228_attribution" -> Gen.attributionSql,
    "q229_lorenz_curve" -> Gen.lorenzCurveSql,
    "q230_session_paths" -> Gen.sessionPathsSql,
    "q232_user_profile" -> Gen.userProfileSql,
    "q233_revenue_trend" -> Gen.revenueTrendSql,
    "q234_tone_detect" -> Gen.toneDetectSql,
    "q235_winsorized_stats" -> Gen.winsorizedStatsSql,
    "q236_kn_surprisal" -> Gen.knSurprisalSql,
    "q237_cluster_labels" -> Gen.clusterLabelsSql,
    "q238_vocab_jaccard" -> Gen.vocabJaccardSql,
    "q239_source_outliers" -> Gen.sourceOutliersSql,
    "q240_brand_affinity" -> Gen.brandAffinitySql,
    "q241_roc_auc" -> Gen.rocAucSql,
    "q242_ols_trend" -> Gen.olsTrendSql,
    "q243_pareto_front" -> Gen.paretoFrontSql,
    "q244_ab_test" -> Gen.abTestSql,
    "q245_script_mix" -> Gen.scriptMixSql,
    "q246_readability" -> Gen.readabilitySql,
    "q247_phrase_search" -> Gen.phraseSearchSql,
    "q248_lsh_eval" -> Gen.lshEvalSql,
    "q249_interval_coverage" -> Gen.intervalCoverageSql,
    "q250_markov_attribution" -> Gen.markovAttributionSql(),
    "q251_record_linkage" -> Gen.recordLinkageSql,
    "q252_negative_sample" -> Gen.negativeSampleSql,
    "q253_sequence_surprisal" -> Gen.sequenceSurprisalSql,
    "q254_kn_next_word" -> Gen.knNextWordSql,
    "q255_source_tfidf_cosine" -> Gen.sourceTfidfCosineSql,
    "q256_nb_auc" -> Gen.nbAucSql,
    "q257_growth_accounting" -> Gen.growthAccountingSql,
    "q258_partition_agreement" -> Gen.partitionAgreementSql,
    "q259_woe_iv" -> Gen.woeIvSql,
    "q260_target_encode" -> Gen.targetEncodeLooSql,
    "q261_bootstrap_ci" -> Gen.bootstrapCiSql,
    "q262_label_prop" -> Gen.labelPropSql,
    "q263_golden_records" -> Gen.goldenRecordsSql,
    "q264_cuped" -> Gen.cupedSql,
    "q265_max_coverage" -> Gen.maxCoverageSql,
    "q266_loo_source_impact" -> Gen.looSourceImpactSql,
    "q267_image_dup_clusters" -> Gen.imageDupClustersSql,
    "q268_intrinsic_dim" -> Gen.intrinsicDimSql,
    "q269_neyman_sample" -> Gen.neymanSampleSql,
    "q270_hopkins" -> Gen.hopkinsSql,
    "q271_ch_index" -> Gen.chIndexSql,
    "q272_did_report" -> Gen.didReportSql,
    "q273_gini_split" -> Gen.giniSplitSql,
    "q274_kendall_tau" -> Gen.kendallTauSql,
    "q275_bootstrap_ratio" -> Gen.bootstrapRatioSql,
    "q276_spearman_rho" -> Gen.spearmanRhoSql,
    "q277_chi_squared" -> Gen.chiSquaredSql,
    "q278_mwu_drift" -> Gen.mwuDriftSql,
    "q279_k_anonymity" -> Gen.kAnonymitySql,
    "q280_shapley_attribution" -> Gen.shapleyAttributionSql,
    "q281_logrank" -> Gen.logRankSql,
    "q282_matryoshka_recall" -> Gen.matryoshkaRecallSql,
    "q283_brown_forecast" -> Gen.brownForecastSql,
    "q284_bh_fdr" -> Gen.bhFdrSql,
    "q285_pca_top" -> Gen.pcaTopSql,
    "q286_isotonic_calibration" -> Gen.isotonicCalibrationSql,
    "q287_fairness_report" -> Gen.fairnessReportSql,
    "q288_cum_sqrt_strata" -> Gen.cumSqrtStrataSql,
    "q289_conformal" -> Gen.conformalSql,
    "q290_mcnemar" -> Gen.mcnemarSql,
    "q291_map_eval" -> Gen.mapEvalSql,
    "q292_phonetic_blocking" -> Gen.phoneticBlockingSql,
    "q293_ql_retrieval" -> Gen.qlRetrievalSql,
    "q294_silhouette" -> Gen.silhouetteSql,
    "q295_krippendorff" -> Gen.krippendorffSql,
    "q296_t_closeness" -> Gen.tClosenessSql,
    "q297_cem_att" -> Gen.cemAttSql,
    "q298_holt_winters" -> Gen.holtWintersSql,
    "q299_token_f1" -> Gen.tokenF1Sql,
    "q300_hits" -> Gen.hitsSql,
    "q301_cmh_test" -> Gen.cmhTestSql,
    "q302_qini_curve" -> Gen.qiniCurveSql,
    "q304_sample_size" -> Gen.sampleSizeSql,
    "q305_cronbach" -> Gen.cronbachSql,
    "q306_sprt" -> Gen.sprtSql,
    "q307_good_turing" -> Gen.goodTuringSql,
    "q308_yule_k" -> Gen.yuleKSql,
    "q309_ece_report" -> Gen.eceReportSql,
    "q310_doremi_step" -> Gen.doremiStepSql,
    "q311_concentration" -> Gen.concentrationSql,
    "q312_lm_cross_ppl" -> Gen.lmCrossPplSql,
    "q313_burrows_delta" -> Gen.burrowsDeltaSql,
    "q314_brier_decomp" -> Gen.brierDecompSql,
    "q315_anova" -> Gen.anovaSql,
    "q316_durbin_watson" -> Gen.durbinWatsonSql,
    "q317_surprisal_spans" -> Gen.surprisalSpansSql,
    "q318_dim_anova" -> Gen.dimAnovaSql,
    "q319_seasonal_strength" -> Gen.seasonalStrengthSql,
    "q320_cv_auc" -> Gen.cvAucSql,
    "q321_brown_forsythe" -> Gen.brownForsytheSql,
    "q322_kruskal_wallis" -> Gen.kruskalWallisSql,
    "q323_chi_residuals" -> Gen.chiResidualsSql,
    "q324_jonckheere" -> Gen.jonckheereSql,
    "q325_cochran_q" -> Gen.cochranQSql,
    "q326_friedman" -> Gen.friedmanSql,
    "q327_page_trend" -> Gen.pageTrendSql,
    "q328_wilcoxon" -> Gen.wilcoxonSql,
    "q329_cliffs_delta" -> Gen.cliffsDeltaSql,
    "q330_template_boilerplate" -> Gen.templateBoilerplateSql,
    "q331_ljung_box" -> Gen.ljungBoxSql,
    "q332_runs_test" -> Gen.runsTestSql,
    "q333_theil" -> Gen.theilSql,
    "q334_cohens_d" -> Gen.cohensDSql,
    "q335_adjusted_rand" -> Gen.adjustedRandSql,
    "q336_bcubed" -> Gen.bcubedSql,
    "q337_vmeasure" -> Gen.vMeasureSql,
    "q338_lsh_plan" -> Gen.lshPlanSql,
    "q339_mp4_probe" -> Gen.mp4ProbeSql,
    "q340_webm_probe" -> Gen.webmProbeSql,
    "q341_changepoint" -> Gen.changepointSql,
    "q342_flac_probe" -> Gen.flacProbeSql,
    "q343_mp3_probe" -> Gen.mp3ProbeSql,
    "q344_ogg_probe" -> Gen.oggProbeSql,
    "q345_seed_expansion" -> Gen.seedExpansionSql,
    "q346_risk_coverage" -> Gen.riskCoverageSql,
    "q347_tiff_probe" -> Gen.tiffProbeSql,
    "q348_avi_probe" -> Gen.aviProbeSql,
    "q349_media_inventory" -> Gen.mediaInventorySql,
    "q350_curation_verdict" -> Gen.curationVerdictSql,
    "q351_raking" -> Gen.rakingSql,
    "q352_raked_sample" -> Gen.rakedSampleSql,
    "q353_html_extract" -> Gen.htmlExtractSql,
    "q354_curated_web" -> Gen.curatedWebSql,
    "q355_html_outlinks" -> Gen.htmlOutlinksSql,
    "q356_url_dedup" -> Gen.urlDedupSql,
    "q357_line_dedup" -> Gen.lineDedupSql,
    "q358_warc_extract" -> Gen.warcExtractSql,
    "q124_pmi_collocations" -> Gen.pmiCollocationsSql,
    "q125_fuzzy_names" -> Gen.fuzzyNamesSql,
    "q126_skew_report" -> Gen.skewReportSql,
    "q127_centroid_drift" -> Gen.centroidDriftSql,
    "q128_cdc_chunks" -> Gen.cdcChunksSql,
    "q129_winnow_matches" -> Gen.winnowMatchesSql,
    "q130_blocklist_gate" -> Gen.blocklistGateSql,
    "q131_cross_source_dups" -> Gen.crossSourceDupsSql,
    "q132_bpe_coverage" -> Gen.bpeCoverageSql,
    "q133_budget_by_lang" -> Gen.budgetByLangSql,
    "q134_hard_negatives" -> Gen.hardNegativesSql,
    "q135_cluster_balance" -> Gen.clusterBalanceSql,
    "q136_quantile_norm" -> Gen.quantileNormSql,
    "q137_fuzzy_decontam" -> Gen.fuzzyDecontamSql,
    "q138_temperature_mix" -> Gen.temperatureMixSql,
    "q139_entity_clusters" -> Gen.entityClustersSql,
    "q140_price_outliers" -> Gen.priceOutliersSql,
    "q141_sessionization" -> Gen.sessionizationSql,
    "q142_png_pixels" -> Gen.pngPixelsSql,
    "q143_setsim_join" -> Gen.setSimJoinSql,
    "q144_event_funnel" -> Gen.eventFunnelSql,
    "q146_png_grid_features" -> Gen.pngGridFeaturesSql,
    "q145_funnel_report" -> Gen.funnelReportSql,
    "q50_bpe_token_count" -> Gen.bpeTokenCountSql,
    "q68_doc_repetition" -> Gen.docRepetitionSql,
    "q69_mixture_sample" -> Gen.mixtureSampleSql,
    "q70_boilerplate" -> Gen.boilerplateSql,
    "q72_tfidf_keywords" -> Gen.tfidfKeywordsSql,

    // value-based RANGE frame: the frame is decided by epoch-second
    // values, so tie order within a second cannot change the sum
    "q73_range_window" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id
        |    ORDER BY date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |                       CAST(ts AS TIMESTAMP))
        |    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_10m
        |FROM events ORDER BY event_id""".stripMargin,

    // bucketed range join: DuckDB expresses the same semantics as a
    // plain inequality join — the bucketing is a Spark physical-plan
    // strategy, not a semantic change
    "q71_range_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |    event_type, value FROM events),
        |i AS (SELECT event_id AS incident_id, user_id, ts AS w_start,
        |    ts + INTERVAL 1 HOUR AS w_end FROM e WHERE event_type = 'error'),
        |p AS (SELECT user_id, ts, value FROM e WHERE event_type <> 'error')
        |SELECT incident_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM i JOIN p ON i.user_id = p.user_id
        |  AND p.ts >= i.w_start AND p.ts < i.w_end
        |GROUP BY incident_id ORDER BY incident_id""".stripMargin)

  /** Programmatically built oracles for the hash/LSH queries. These
    * mirror [[graft.functions.HashFns]] bit-for-bit (its Spark builders
    * and DuckDB emitters are kept side-by-side) and embed the same
    * seeded hyperplane literals [[graft.functions.VectorFns.randomHyperplanes]]
    * generates for the Spark plans.
    */
  private object Gen {
    import graft.functions.HashFns._
    import graft.functions.{TextFns, VectorFns}

    /** ASCII punct class (= TextFns.PUNCT_CLASS), RE2-safe. */
    private val PUNCT = "[!-/:-@\\[-`{-~]"

    /** ASCII whitespace class (= TextFns.WS_CLASS), RE2-safe. */
    private val WS = "[ \\t\\n\\x0b\\f\\r]"

    /** DuckDB twin of TextFns.tokens. */
    private def tokensE(textE: String): String =
      s"CASE WHEN len(trim($textE)) = 0 THEN [] " +
        s"ELSE regexp_split_to_array(trim($textE), '$WS+') END"

    /** DuckDB twin of TextFns.shingles over a word-list expression. */
    private def shinglesE(wE: String, n: Int): String =
      s"CASE WHEN len($wE) < $n THEN [array_to_string($wE, ' ')] " +
        s"ELSE [array_to_string($wE[i:i+${n - 1}], ' ') " +
        s"for i in range(1, len($wE) - ${n - 2})] END"

    /** DuckDB twin of VectorFns.cosine (no zero guard — embeddings are
      * non-zero, and q28 set this convention). */
    private def cosineE(aE: String, bE: String): String =
      s"(list_dot_product($aE, $bE) / (sqrt(list_dot_product($aE, $aE)) " +
        s"* sqrt(list_dot_product($bE, $bE))))"

    /** DuckDB twin of VectorFns.hyperplaneSignature with plane literals. */
    private def sigE(vE: String, planes: Seq[Array[Double]]): String =
      planes.zipWithIndex.map { case (p, i) =>
        val lit = "[" + p.map(_.toString).mkString(", ") + "]"
        s"(CASE WHEN list_dot_product($vE, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")

    /** Shared CTE chain: documents → shingles → (b1,b2) → 32-min
      * signature → 8 LSH band buckets. Twin of Dedup.minhashBuckets. */
    private def minhashBucketCtes(width: Int): String = {
      val sigCols = (0 until 32).map(k =>
        s"min(${duckHashAt("x", k)}) AS h$k").mkString(", ")
      val bandRows = (0 until 8).map { b =>
        val joined = "array_to_string([" +
          (0 until 4).map(i => s"h${b * 4 + i}").mkString(", ") + "], ',')"
        s"SELECT id, $b AS band, ${duckHash61(joined)} AS band_hash FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, unnest(${shinglesE("w", width)}) AS s FROM words),
         |xp AS (SELECT id, ${duckHash61("s")} AS x FROM sh),
         |sig AS (SELECT id, $sigCols FROM xp GROUP BY id),
         |buckets AS (
         |  $bandRows
         |)""".stripMargin
    }

    def minhashBucketsSql: String =
      minhashBucketCtes(3) +
        "\nSELECT id, band, band_hash FROM buckets ORDER BY id, band"

    /** Twin of q137_fuzzy_decontam: ONE bucket chain over all docs
      * (the q111 membership-predicate trick) — eval buckets are the
      * % 13 = 0 slice, corpus rows the rest, joined on the bucket
      * key.
      */
    def fuzzyDecontamSql: String =
      minhashBucketCtes(2) + s""",
        |eb AS (SELECT DISTINCT band, band_hash FROM buckets
        |       WHERE id % 13 = 0),
        |hits AS (SELECT b.id, CAST(count(*) AS BIGINT) AS n_shared
        |         FROM buckets b JOIN eb USING (band, band_hash)
        |         WHERE b.id % 13 <> 0 GROUP BY b.id)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(h.n_shared, 0) AS n_shared_buckets,
        |  (COALESCE(h.n_shared, 0) > 0) AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
        |WHERE d.doc_id % 13 <> 0 ORDER BY d.doc_id""".stripMargin

    /** Twin of q111_incremental_minhash: the same 32-sig/8-band bucket
      * chain over ALL docs; the incremental set is exactly the
      * unordered bucket-sharing pairs touching ≥1 odd (= "new") doc —
      * the Spark side builds it from an index join, this from the
      * global self-join plus the membership predicate; the sets must
      * hash-match.
      */
    def incrementalMinhashSql: String =
      minhashBucketCtes(3) + s"""
        |SELECT DISTINCT least(n.id, o.id) AS id_a,
        |  greatest(n.id, o.id) AS id_b
        |FROM buckets n JOIN buckets o
        |  ON n.band = o.band AND n.band_hash = o.band_hash AND n.id <> o.id
        |WHERE n.id % 2 = 1 OR o.id % 2 = 1
        |ORDER BY id_a, id_b""".stripMargin

    /** Shared CTE chain of the BPE trainer twins (q112/q113): top-N
      * word counts, char-split initial symbols, then `numMerges`
      * unrolled (pair-count → argmax → merge-apply) stages. The
      * merge-application expression is the double-delimited
      * exact-greedy replace of [[graft.ops.Bpe.applyMerge]], token
      * for token (widen delimiters, one replace pass, collapse,
      * trim); the argmax tie-break (count DESC, pair ASC) is a total
      * order in both engines. LEFT JOIN ON TRUE keeps a stage a
      * no-op when the dictionary runs out of pairs, matching the
      * Spark trainer's early stop.
      */
    private def bpeCtes(numMerges: Int, topWords: Int): String = {
      val init =
        s"""WITH wc AS (SELECT word, cnt FROM (
           |  SELECT word, count(*) AS cnt
           |  FROM (SELECT unnest(${tokensE("text")}) AS word FROM documents)
           |  GROUP BY word ORDER BY cnt DESC, word LIMIT $topWords)),
           |w0 AS (SELECT word, cnt,
           |  array_to_string([substr(word, i, 1) for i in range(1, len(word) + 1)], ' ') AS r
           |  FROM wc)""".stripMargin
      val stages = (1 to numMerges).map { i =>
        val p = i - 1
        s""",
           |p$i AS (SELECT bg, SUM(cnt) AS c FROM (
           |  SELECT cnt, unnest(${shinglesE("string_split(r, ' ')", 2)}) AS bg FROM w$p) t
           |  WHERE bg LIKE '% %' GROUP BY bg),
           |t$i AS (SELECT bg, replace(bg, ' ', '') AS m,
           |  ' ' || replace(bg, ' ', '  ') || ' ' AS pat
           |  FROM p$i ORDER BY c DESC, bg LIMIT 1),
           |w$i AS (SELECT w.word, w.cnt,
           |  CASE WHEN t.bg IS NULL THEN w.r ELSE
           |    trim(replace(replace(
           |      ' ' || replace(w.r, ' ', '  ') || ' ', t.pat, ' ' || t.m || ' '),
           |      '  ', ' ')) END AS r
           |  FROM w$p w LEFT JOIN t$i t ON TRUE)""".stripMargin
      }.mkString
      init + stages
    }

    /** Twin of q112_bpe_train: six unrolled merge rounds, then the
      * dictionary segmentation.
      */
    def bpeTrainSql: String =
      bpeCtes(6, 200) + s"""
        |SELECT word, cnt, r AS seg,
        |  CAST(len(string_split(r, ' ')) AS BIGINT) AS n_symbols
        |FROM w6 ORDER BY word""".stripMargin

    /** Twin of q113_bpe_tokens: the q112 model's dictionary joined to
      * the token stream; off-dictionary words fall back to character
      * count (every char a symbol when no merge applies).
      */
    def bpeTokensSql: String =
      bpeCtes(6, 200) + s""",
        |dict AS (SELECT word,
        |  CAST(len(string_split(r, ' ')) AS BIGINT) AS n_symbols FROM w6),
        |tok AS (SELECT doc_id, unnest(${tokensE("text")}) AS word FROM documents),
        |agg AS (SELECT t.doc_id, count(*) AS n_tokens,
        |  SUM(COALESCE(d.n_symbols, len(t.word))) AS n_bpe
        |  FROM tok t LEFT JOIN dict d USING (word) GROUP BY t.doc_id)
        |SELECT d.doc_id, d.lang, CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

    /** Twin of q132_bpe_coverage: the q113 dictionary CTEs, grouped
      * by lang with the same OOV / fertility integer arithmetic.
      */
    def bpeCoverageSql: String =
      bpeCtes(6, 20) + s""",
        |dict AS (SELECT word,
        |  CAST(len(string_split(r, ' ')) AS BIGINT) AS n_symbols FROM w6),
        |tok AS (SELECT lang, unnest(${tokensE("text")}) AS word FROM documents),
        |agg AS (SELECT t.lang,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN d.n_symbols IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in_dict,
        |  CAST(SUM(COALESCE(d.n_symbols, len(t.word))) AS BIGINT) AS n_sym
        |  FROM tok t LEFT JOIN dict d USING (word) GROUP BY t.lang)
        |SELECT lang, n_words, n_in_dict,
        |  CAST((1000 * (n_words - n_in_dict)) // n_words AS BIGINT) AS oov_x1000,
        |  CAST((1000 * n_sym) // n_words AS BIGINT) AS fert_x1000
        |FROM agg ORDER BY lang""".stripMargin

    /** Twin of q114_nb_classifier: identical class/token/vocab counts
      * over the 80% hold-in, the Mitchell-log CASE (`//` spelling;
      * bit-equal to the plan's native log) for both the priors and
      * the smoothed per-token surprisals, the same argmin tie-break
      * (s_e8, label) and runner-up margin.
      */
    def nbClassifierSql: String = nbClassifierFoldSql(0)

    /** The q114 NB train/score CTEs with the holdout fold
      * parameterized — fold 0 IS q114's split; the q320 CV twin
      * instantiates all five, so every fold scores through the one
      * emitter.
      */
    private def nbClassifierFoldSql(f: Int): String = {
      val shift = graft.ops.TextStats.LmShift
      val m8q = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      val m8qp = graft.ops.TextStats.mitchellE8Sql("qp", divOp = "//")
      val two20 = 1L << shift
      s"""WITH tr AS (SELECT lang, ${tokensE("text")} AS w FROM documents
         |            WHERE doc_id % 5 <> $f AND lang IS NOT NULL),
         |te AS (SELECT doc_id, lang, ${tokensE("text")} AS w FROM documents
         |       WHERE doc_id % 5 = $f),
         |cls AS (SELECT lang AS label, count(*) AS n_docs,
         |          CAST(SUM(len(w)) AS BIGINT) AS n_tokens
         |        FROM tr GROUP BY lang),
         |tokc AS (SELECT lang AS label, t, count(*) AS c
         |         FROM (SELECT lang, unnest(w) AS t FROM tr) GROUP BY lang, t),
         |v AS (SELECT count(DISTINCT t) AS v
         |      FROM (SELECT unnest(w) AS t FROM tr)),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all FROM cls),
         |pri AS (SELECT label, n_tokens, qp, $m8qp - ${8 * shift} AS prior_e8
         |        FROM (SELECT label, n_tokens,
         |          greatest((CAST(n_all AS HUGEINT) * $two20) // n_docs,
         |            $two20) AS qp
         |          FROM cls CROSS JOIN tot) t),
         |ttok AS (SELECT doc_id, unnest(w) AS t FROM te),
         |pt AS (SELECT tt.doc_id, p.label,
         |         greatest((CAST(p.n_tokens + v.v AS HUGEINT) * $two20)
         |           // (COALESCE(tc.c, 0) + 1), $two20) AS q
         |       FROM ttok tt CROSS JOIN pri p CROSS JOIN v
         |       LEFT JOIN tokc tc ON tc.label = p.label AND tc.t = tt.t),
         |pa AS (SELECT doc_id, label,
         |         CAST(SUM($m8q - ${8 * shift}) AS BIGINT) AS tok_e8
         |       FROM pt GROUP BY doc_id, label),
         |sc AS (SELECT te.doc_id, te.lang, p.label,
         |         p.prior_e8 + COALESCE(pa.tok_e8, 0) AS s_e8
         |       FROM te CROSS JOIN pri p
         |       LEFT JOIN pa ON pa.doc_id = te.doc_id AND pa.label = p.label),
         |rk AS (SELECT doc_id, lang, label, s_e8,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY s_e8, label) AS rnk,
         |         lead(s_e8) OVER (PARTITION BY doc_id ORDER BY s_e8, label) AS nxt
         |       FROM sc)
         |SELECT doc_id, lang, label AS pred, CAST(s_e8 AS BIGINT) AS s_e8,
         |  CAST(COALESCE(nxt - s_e8, 0) AS BIGINT) AS margin_e8
         |FROM rk WHERE rnk = 1 ORDER BY doc_id""".stripMargin
    }

    /** One CV fold of the q320 twin: the parameterized q114 NB CTEs
      * wrapped in the q256 margin-bin AUC arithmetic, group collapsed
      * to the fold constant.
      */
    private def cvFoldAucSql(f: Int): String =
      s"""WITH scored AS (${nbClassifierFoldSql(f)}),
         |cb AS (SELECT least(margin_e8 // 2, 10) AS s,
         |    CASE WHEN lang = pred THEN 1 ELSE 0 END AS ok FROM scored),
         |c AS (SELECT s, CAST(sum(ok) AS BIGINT) AS n_pos_s,
         |    CAST(count(*) AS BIGINT) AS n_at FROM cb GROUP BY 1),
         |w AS (SELECT *, coalesce(sum(n_at) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS below FROM c),
         |a AS (SELECT CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
         |    CAST(sum(n_at - n_pos_s) AS BIGINT) AS n_neg,
         |    sum(CAST(n_pos_s AS HUGEINT) * (2 * below + n_at + 1)) AS s2
         |  FROM w)
         |SELECT CAST($f AS BIGINT) AS fold, n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT)
         |  ELSE CAST((1000000 * (s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
         |    // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
         |  END AS auc_x1e6
         |FROM a""".stripMargin

    /** Twin of q320_cv_auc: five instantiations of the one NB + AUC
      * emitter unioned, then the q313 common-denominator mean/σ fold.
      */
    def cvAucSql: String = {
      val folds = (0 until 5).map(f => s"(${cvFoldAucSql(f)})")
        .mkString("\n  UNION ALL ")
      s"""WITH pf AS ($folds),
         |mom AS (SELECT CAST(count(*) AS BIGINT) AS nf,
         |    CAST(sum(auc_x1e6) AS BIGINT) AS sa,
         |    sum(CAST(auc_x1e6 AS HUGEINT) * auc_x1e6) AS qa
         |  FROM pf WHERE auc_x1e6 >= 0),
         |mm AS (SELECT CAST(sa // greatest(nf, 1) AS BIGINT)
         |      AS cv_mean_x1e6,
         |    CAST(floor(sqrt(CAST((nf * qa - CAST(sa AS HUGEINT) * sa) //
         |      greatest(CAST(nf AS HUGEINT) * nf, 1) AS DOUBLE)))
         |      AS BIGINT) AS cv_std_x1e6
         |  FROM mom)
         |SELECT pf.fold, pf.n_pos, pf.n_neg, pf.auc_x1e6,
         |  mm.cv_mean_x1e6, mm.cv_std_x1e6
         |FROM pf CROSS JOIN mm ORDER BY fold""".stripMargin
    }

    /** Twin of q115_image_header_probe: the Spark side lays out real
      * PNG/GIF/JPEG header bytes from each doc id and parses them back
      * with the native header parser; the twin states what a correct
      * construct∘parse round trip must return, arithmetically. (The
      * parser itself is pinned against hand-laid golden fixtures in
      * `MediaHeadersSpec`; this query pins the round trip at corpus
      * scale in the hash gate.)
      */
    def imageHeaderProbeSql: String =
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
        |    WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
        |  CAST(doc_id % 800 + 16 AS INT) AS width,
        |  CAST(doc_id % 600 + 16 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin

    /** Twin of q116_wav_probe: same construct∘parse contract for the
      * RIFF/WAVE chunk walker — duration_ms = data bytes · 1000 div
      * byte rate (rate · 2), exact integer division both sides.
      */
    def wavProbeSql: String =
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST((doc_id % 1000 + 1) * 100 * 1000
        |    // ((8000 + (doc_id % 8) * 1000) * 2) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin

    /** Twin of q117_pq_adc: per subspace, the ivfCellCtes pattern on
      * the SLICED vectors (same hash-ordered 64-sample — the id hash
      * ignores the slice — first 4 as init, one Lloyd round with
      * DECIMAL(30,15) sums, ties to the larger cell), then the
      * centroid self-max-abs int8 grid, the q108 corpus-wide query
      * quantization, per-subspace integer lookup tables, and the
      * 4-lookup integer sum — the ranking surface is exact integers,
      * so no rounding appears anywhere.
      */
    /** One k-means cell chain (the ivfCellCtes pattern) over the
      * vector slice `v[lo:hi]`, CTE names suffixed: init/sasn/sdim/
      * upd/cvec/cfin/casn`sfx`. `lo=1, hi=dim` gives the full-vector
      * coarse quantizer; PQ subspaces pass their slice bounds.
      */
    private def pqCellChain(sfx: String, lo: Int, hi: Int, ksub: Int): String = {
      val subDim = hi - lo + 1
      s""",
         |init$sfx AS (SELECT row_number() OVER (ORDER BY h) - 1 AS cell,
         |            v[$lo:$hi] AS cv
         |          FROM (SELECT h, v FROM smp ORDER BY h LIMIT $ksub) t),
         |sasn$sfx AS (SELECT id, cell FROM (
         |   SELECT p.id, c.cell,
         |     row_number() OVER (PARTITION BY p.id
         |       ORDER BY ${cosineE(s"p.v[$lo:$hi]", "c.cv")} DESC,
         |         c.cell DESC) AS rnk
         |   FROM smp p CROSS JOIN init$sfx c) t WHERE rnk = 1),
         |sdim$sfx AS (SELECT a.cell, unnest(p.v[$lo:$hi]) AS x,
         |            unnest(range(1, ${subDim + 1})) AS pos
         |          FROM sasn$sfx a JOIN smp p USING(id)),
         |upd$sfx AS (SELECT cell, pos, SUM(CAST(x AS DECIMAL(30,15))) AS sd
         |         FROM sdim$sfx GROUP BY cell, pos),
         |cvec$sfx AS (SELECT cell, list(CAST(sd AS DOUBLE) ORDER BY pos) AS cv
         |          FROM upd$sfx GROUP BY cell),
         |cfin$sfx AS (SELECT i.cell, COALESCE(c.cv, i.cv) AS cv
         |          FROM init$sfx i LEFT JOIN cvec$sfx c USING (cell)),
         |casn$sfx AS (SELECT id, cell AS code FROM (
         |  SELECT e.id, f.cell, row_number() OVER (PARTITION BY e.id
         |    ORDER BY ${cosineE(s"e.v[$lo:$hi]", "f.cv")} DESC,
         |      f.cell DESC) AS rnk
         |  FROM e CROSS JOIN cfin$sfx f) t WHERE rnk = 1)""".stripMargin
    }

    /** Per-subspace centroid int8 grid + per-query lookup table. */
    private def pqLookupChain(s: Int, lo: Int, subDim: Int): String =
      s""",
         |cq$s AS (SELECT cell,
         |          [CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
         |                ELSE CAST(floor(cv[i] * 127.0 / mx) AS BIGINT) END
         |           for i in range(1, ${subDim + 1})] AS c8
         |         FROM (SELECT cell, cv,
         |            list_aggregate([abs(x) for x in cv], 'max') AS mx
         |            FROM cfin$s) t),
         |qtab$s AS (SELECT q.query_id, c.cell,
         |   CAST(list_sum([q.q8[${lo - 1} + i] * c.c8[i]
         |                  for i in range(1, ${subDim + 1})]) AS BIGINT) AS dot
         |   FROM qz q CROSS JOIN cq$s c)""".stripMargin

    /** Shared header of the PQ twins: corpus `e`, the hash-ordered
      * sample, the q108 corpus-wide scales, and the int8-quantized
      * query vectors (id < 3).
      */
    private def pqHeader(sampleN: Int): String = {
      val h = duckHash61("'ivf42:' || CAST(id AS VARCHAR)")
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |smp AS (SELECT id, v, $h AS h FROM e ORDER BY h LIMIT $sampleN),
         |ex AS (SELECT unnest([{'pos': i, 'x': v[i]}
         |                     for i in range(1, len(v)+1)]) AS u FROM e),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS mm FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(mm ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT id AS query_id,
         |        [CASE WHEN sl.s[i] = 0 THEN 0
         |              ELSE CAST(floor(v[i] * 127.0 / sl.s[i]) AS BIGINT) END
         |         for i in range(1, len(v)+1)] AS q8
         |       FROM e CROSS JOIN sl WHERE id < 3)""".stripMargin
    }

    private val PqM = 4; private val PqSubDim = 16; private val PqKsub = 4

    private def pqSubspaces: String = (0 until PqM).map { s =>
      pqCellChain(s.toString, s * PqSubDim + 1, (s + 1) * PqSubDim, PqKsub) +
        pqLookupChain(s, s * PqSubDim + 1, PqSubDim)
    }.mkString

    private def pqRankedTail(k: Int): String =
      s""",
         |ranked AS (SELECT query_id, id, pq_dot,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY pq_dot DESC, id) AS "rank"
         |  FROM scored)
         |SELECT query_id, id, pq_dot, "rank" FROM ranked
         |WHERE "rank" <= $k ORDER BY query_id, "rank"""".stripMargin

    def pqAdcSql: String =
      pqHeader(64) + pqSubspaces + s""",
         |scored AS (SELECT q0.query_id, c0.id,
         |   q0.dot + q1.dot + q2.dot + q3.dot AS pq_dot
         |   FROM casn0 c0 JOIN casn1 c1 USING (id)
         |     JOIN casn2 c2 USING (id) JOIN casn3 c3 USING (id)
         |   JOIN qtab0 q0 ON q0.cell = c0.code
         |   JOIN qtab1 q1 ON q1.cell = c1.code AND q1.query_id = q0.query_id
         |   JOIN qtab2 q2 ON q2.cell = c2.code AND q2.query_id = q0.query_id
         |   JOIN qtab3 q3 ON q3.cell = c3.code AND q3.query_id = q0.query_id)""".stripMargin +
        pqRankedTail(5)

    /** Twin of q118_ivfpq: the q117 PQ chains plus a full-vector
      * coarse chain (suffix g) and the q79-style nProbe=2 probe set;
      * candidates are the corpus rows whose coarse cell is probed by
      * the query, scored by the same integer lookups.
      */
    def ivfPqSql: String =
      pqHeader(64) + pqCellChain("g", 1, 64, 4) + pqSubspaces + s""",
         |qv AS (SELECT id AS query_id, v FROM e WHERE id < 3),
         |qp AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, f.cell, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineE("q.v", "f.cv")} DESC, f.cell DESC) AS rnk
         |  FROM qv q CROSS JOIN cfing f) t WHERE rnk <= 2),
         |scored AS (SELECT qp.query_id, c0.id,
         |   q0.dot + q1.dot + q2.dot + q3.dot AS pq_dot
         |   FROM casng g JOIN casn0 c0 USING (id) JOIN casn1 c1 USING (id)
         |     JOIN casn2 c2 USING (id) JOIN casn3 c3 USING (id)
         |   JOIN qp ON qp.cell = g.code
         |   JOIN qtab0 q0 ON q0.cell = c0.code AND q0.query_id = qp.query_id
         |   JOIN qtab1 q1 ON q1.cell = c1.code AND q1.query_id = qp.query_id
         |   JOIN qtab2 q2 ON q2.cell = c2.code AND q2.query_id = qp.query_id
         |   JOIN qtab3 q3 ON q3.cell = c3.code AND q3.query_id = qp.query_id)""".stripMargin +
        pqRankedTail(5)

    /** Twin of q119_gopher_rules: the same integer-exact rule
      * arithmetic — replace-length deltas for symbol counts, the
      * shared WS class for the non-whitespace char count, list
      * membership for the stop list, list_distinct for the repeat
      * fraction. Booleans and integers only; nothing hashed is float.
      */
    def gopherRulesSql: String = {
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val stopSum = stops.map(s0 =>
        s"(CASE WHEN list_contains(w, '$s0') THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH wd AS (SELECT doc_id, lang, text, ${tokensE("text")} AS w FROM documents),
         |b AS (SELECT doc_id, lang,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS nd,
         |  CAST(len(regexp_replace(text, '$WS+', '', 'g')) AS BIGINT) AS chars,
         |  CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS hsh,
         |  CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS ell,
         |  CAST($stopSum AS BIGINT) AS stops
         |  FROM wd)
         |SELECT doc_id, lang, n_tokens,
         |  (n_tokens >= 10 AND n_tokens <= 10000) AS ok_words,
         |  (3 * n_tokens <= chars AND chars <= 10 * n_tokens) AS ok_mean_len,
         |  (10 * (hsh + ell) <= n_tokens) AS ok_symbols,
         |  (stops >= 1) AS ok_stopwords,
         |  (10 * (n_tokens - nd) <= 6 * n_tokens) AS ok_dup,
         |  ((n_tokens >= 10 AND n_tokens <= 10000)
         |    AND (3 * n_tokens <= chars AND chars <= 10 * n_tokens)
         |    AND (10 * (hsh + ell) <= n_tokens)
         |    AND (stops >= 1)
         |    AND (10 * (n_tokens - nd) <= 6 * n_tokens)) AS keep
         |FROM b ORDER BY doc_id""".stripMargin
    }

    /** Twin of q120_dsir_scores: same hashed-unigram buckets
      * (md5-derived hash61 % 64), same add-one-smoothed inverted
      * ratios through HUGEINT (exact, like the LM twin's DECIMAL
      * path), and the Mitchell-log CASE (`//` spelling; bit-equal to
      * the plan's native log). Unseen buckets come from a
      * range(64) left join exactly as the Spark side's `range(B)`.
      * Every SUM in a hashed projection is CAST to BIGINT
      * (OracleSql.scala:13's rule — DuckDB SUM(BIGINT) is HUGEINT).
      */
    /** Shared DSIR CTE chain producing `ds(doc_id, lang, n_tokens,
      * dsir_e8)` — used by the q120 twin and the q122 budget gate.
      */
    private def dsirCtes: String = {
      val shift = graft.ops.TextStats.LmShift
      val b = 64
      def q(totE: String, cE: String): String =
        s"CAST(least(greatest((CAST($totE + $b AS HUGEINT) * ${1L << shift}) " +
          s"// ($cE + 1), CAST(${1L << shift} AS BIGINT)), " +
          s"CAST(${1L << 62} AS BIGINT)) AS BIGINT)"
      val m8r = graft.ops.TextStats.mitchellE8Sql("q_r", divOp = "//")
      val m8t = graft.ops.TextStats.mitchellE8Sql("q_t", divOp = "//")
      s"""WITH tok AS (SELECT doc_id, ${duckHash61("t")} % $b AS b,
         |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
         |       FROM (SELECT doc_id, lang, unnest(${tokensE("text")}) AS t
         |             FROM documents)),
         |cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
         |          CAST(sum(is_t) AS BIGINT) AS c_t
         |        FROM tok GROUP BY b),
         |tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS tot_r,
         |          CAST(sum(c_t) AS BIGINT) AS tot_t FROM cnt),
         |qs AS (SELECT r.range AS b,
         |         ${q("tot_t", "coalesce(c_t, 0)")} AS q_t,
         |         ${q("tot_r", "coalesce(c_r, 0)")} AS q_r
         |       FROM range($b) r LEFT JOIN cnt ON cnt.b = r.range
         |       CROSS JOIN tot),
         |lam AS (SELECT b, ($m8r) - ($m8t) AS lam_e8 FROM qs),
         |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(lam_e8) AS BIGINT) AS dsir_e8
         |       FROM tok JOIN lam USING (b) GROUP BY doc_id),
         |ds AS (SELECT d.doc_id, d.lang,
         |         COALESCE(sc.n_tokens, 0) AS n_tokens,
         |         COALESCE(sc.dsir_e8, 0) AS dsir_e8
         |       FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)""".stripMargin
    }

    def dsirScoresSql: String =
      dsirCtes + "\nSELECT doc_id, lang, n_tokens, dsir_e8 FROM ds ORDER BY doc_id"

    /** Twin of q136_quantile_norm: the q122 milli-quality, rank-based
      * per-source percentile with the identical (score, id) tiebreak.
      */
    def quantileNormSql: String =
      qualityCtes(", source") + s""",
        |sd AS (SELECT doc_id, source,
        |         CAST(floor(quality * 1000) AS BIGINT) AS score FROM q),
        |rk AS (SELECT doc_id, source, score,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY score, doc_id) AS BIGINT) AS rk,
        |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |       FROM sd)
        |SELECT doc_id, source, score,
        |  CAST(((rk - 1) * 1000) // greatest(n - 1, 1) AS BIGINT) AS pct_x1000
        |FROM rk ORDER BY doc_id""".stripMargin

    /** Twin of q138_temperature_mix: same per-source token counts,
      * the Mitchell CASE (ratio form; bit-equal to the plan's native
      * log) and the IDENTICAL generated inverse (exp2E8 — one emitter,
      * `//` spelling), same normalization and hash filter.
      */
    def temperatureMixSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("__q", divOp = "//")
      val exp2 = graft.ops.TextStats.exp2E8Sql(
        s"((3 * delta_e8) // 10) + ${8 * shift}", divOp = "//")
      val hk = duckHash61("'temp:' || CAST(doc_id AS VARCHAR)")
      s"""WITH wd AS (SELECT doc_id, source,
         |        CAST(len(${tokensE("text")}) AS BIGINT) AS t FROM documents),
         |c AS (SELECT source AS src, CAST(sum(t) AS BIGINT) AS n
         |      FROM wd GROUP BY 1),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
         |s1 AS (SELECT src, n,
         |         CAST(least(greatest((CAST(tot AS HUGEINT) * ${1L << shift})
         |           // greatest(n, 1), CAST(${1L << shift} AS BIGINT)),
         |           CAST(${1L << 62} AS BIGINT))
         |           AS BIGINT) AS __q
         |       FROM c CROSS JOIN tt),
         |s2 AS (SELECT src, n, ($m8 - ${8 * shift}) AS delta_e8 FROM s1),
         |s3 AS (SELECT src, n, delta_e8, $exp2 AS d FROM s2),
         |dm AS (SELECT max(d) AS dmax FROM s3),
         |r AS (SELECT src, CAST((1000 * d) // greatest(dmax, 1) AS BIGINT)
         |        AS rate_pm
         |      FROM s3 CROSS JOIN dm)
         |SELECT w.doc_id, w.source, r.rate_pm,
         |  $hk % 1000 AS sample_key
         |FROM wd w JOIN r ON r.src = w.source
         |WHERE $hk % 1000 < r.rate_pm
         |ORDER BY w.doc_id""".stripMargin
    }

    /** Twin of q133_budget_by_lang: the q122 twin partitioned by
      * lang, per-group cut rows, same greedy-whole-buckets rule.
      */
    def budgetByLangSql: String =
      qualityCtes(", lang") + s""",
        |sd AS (SELECT doc_id, lang, n_tokens,
        |         CAST(floor(quality * 1000) AS BIGINT) AS score FROM q),
        |bkt AS (SELECT lang, score, CAST(sum(n_tokens) AS BIGINT) AS bt
        |        FROM sd GROUP BY lang, score),
        |cm AS (SELECT lang, score, CAST(SUM(bt) OVER (PARTITION BY lang
        |          ORDER BY score DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum FROM bkt),
        |k AS (SELECT lang, CAST(min(score) AS BIGINT) AS cut_score,
        |        CAST(max(cum) AS BIGINT) AS tokens_used
        |      FROM cm WHERE cum <= 2000 GROUP BY lang)
        |SELECT sd.doc_id, sd.lang, sd.score, sd.n_tokens,
        |  k.cut_score, k.tokens_used
        |FROM sd JOIN k ON k.lang = sd.lang AND sd.score >= k.cut_score
        |ORDER BY sd.doc_id""".stripMargin

    /** Twin of q124_pmi_collocations: same bigram counts (2-shingle
      * strings), same self-marginals, the Mitchell CASE (bit-equal to
      * the plan's native log) over q = (c2·N << 20) // (c1l·c1r)
      * through HUGEINT, same clamp, same (pmi DESC, bigram ASC)
      * top-50.
      */
    def pmiCollocationsSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT unnest(${shinglesE("w", 2)}) AS bg FROM wd WHERE len(w) >= 2),
         |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bgl GROUP BY bg),
         |p AS (SELECT bg, c2, split_part(bg, ' ', 1) AS w1,
         |        split_part(bg, ' ', 2) AS w2 FROM c2),
         |l AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1l FROM p GROUP BY w1),
         |r AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS c1r FROM p GROUP BY w2),
         |n AS (SELECT CAST(sum(c2) AS BIGINT) AS n_tot FROM c2),
         |s AS (SELECT p.bg, p.c2,
         |  CAST(least(greatest((CAST(p.c2 AS HUGEINT) * n.n_tot * ${1L << shift})
         |    // (CAST(l.c1l AS HUGEINT) * r.c1r),
         |    CAST(${1L << shift} AS BIGINT)), CAST(${1L << 62} AS BIGINT)) AS BIGINT) AS q
         |  FROM p JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n)
         |SELECT bg AS bigram, c2, ($m8 - ${8 * shift}) AS pmi_e8 FROM s
         |WHERE c2 >= 5 ORDER BY pmi_e8 DESC, bigram LIMIT 50""".stripMargin
    }

    /** Twin of q122_budget_select: same milli-quality integer score
      * (floor of the q33-proven double), bucket histogram, cumulative
      * window best-first, greedy whole-bucket cut, final filter.
      */
    def budgetSelectSql: String =
      qualityCtes(", lang") + s""",
        |sd AS (SELECT doc_id, lang, n_tokens,
        |         CAST(floor(quality * 1000) AS BIGINT) AS score FROM q),
        |bkt AS (SELECT score, CAST(sum(n_tokens) AS BIGINT) AS bt
        |        FROM sd GROUP BY score),
        |cm AS (SELECT score, CAST(SUM(bt) OVER (ORDER BY score DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum FROM bkt),
        |k AS (SELECT CAST(min(score) AS BIGINT) AS cut_score,
        |        CAST(max(cum) AS BIGINT) AS tokens_used
        |      FROM cm WHERE cum <= 8000)
        |SELECT sd.doc_id, sd.lang, sd.score, sd.n_tokens,
        |  k.cut_score, k.tokens_used
        |FROM sd CROSS JOIN k WHERE sd.score >= k.cut_score
        |ORDER BY sd.doc_id""".stripMargin

    /** Twin of q127_centroid_drift: the q108-proven max-abs scales
      * and floor-quantization, per-label integer dimension sums
      * (exact — CAST-wrapped), and an ALL-INTEGER similarity surface
      * (centroid dot + squared norms; a round(cos, 4) draft fell on
      * a decimal rounding boundary between engines — integers never
      * do).
      */
    def centroidDriftSql: String =
      s"""WITH ed AS (SELECT vec_id, label,
         |        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT label AS g,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qe
         |       FROM ed CROSS JOIN sl),
         |qx AS (SELECT g, unnest([{'pos': i, 'x': qe[i]}
         |                         for i in range(1, len(qe)+1)]) AS u FROM qz),
         |sm AS (SELECT g, u.pos AS pos, CAST(sum(u.x) AS BIGINT) AS sx
         |       FROM qx GROUP BY g, u.pos),
         |cv AS (SELECT g, list(sx ORDER BY pos) AS cv FROM sm GROUP BY g),
         |nrm AS (SELECT g, cv,
         |          CAST(list_sum([cv[i] * cv[i]
         |                         for i in range(1, len(cv)+1)]) AS BIGINT) AS nrm2
         |        FROM cv),
         |nn AS (SELECT label AS g, CAST(count(*) AS BIGINT) AS n
         |       FROM embeddings GROUP BY 1)
         |SELECT a.g AS g_a, b.g AS g_b, na.n AS n_a, nb.n AS n_b,
         |  CAST(list_sum([a.cv[i] * b.cv[i]
         |                 for i in range(1, len(a.cv)+1)]) AS BIGINT) AS cdot,
         |  a.nrm2 AS nrm2_a, b.nrm2 AS nrm2_b
         |FROM nrm a JOIN nrm b ON a.g < b.g
         |JOIN nn na ON na.g = a.g JOIN nn nb ON nb.g = b.g
         |ORDER BY g_a, g_b""".stripMargin

    /** Twin of q128_cdc_chunks: same hash-boundary flags, running-sum
      * chunk index (ROWS frame, pos unique), order-pinned string_agg
      * chunk text, md5-hash61 chunk keys, distinct-doc dup counts.
      */
    def cdcChunksSql: String =
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |p AS (SELECT doc_id, u['pos'] AS pos, u['t'] AS t FROM (
         |  SELECT doc_id, unnest([{'pos': i - 1, 't': w[i]}
         |                         for i in range(1, len(w)+1)]) AS u
         |  FROM wd WHERE len(w) > 0) z),
         |b AS (SELECT doc_id, pos, t,
         |        CASE WHEN ${duckHash61("t")} % 16 = 0 THEN 1 ELSE 0 END AS bnd
         |      FROM p),
         |c AS (SELECT doc_id, pos, t,
         |        SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck
         |      FROM b),
         |ch AS (SELECT doc_id, ck,
         |         ${duckHash61("string_agg(t, ' ' ORDER BY pos)")} AS h
         |       FROM c GROUP BY doc_id, ck),
         |ndc AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY h),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |         CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_dup
         |       FROM ch JOIN ndc USING (h) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(n_chunks, 0) AS n_chunks,
         |  coalesce(n_dup, 0) AS n_dup_chunks,
         |  CAST((1000 * coalesce(n_dup, 0))
         |    // greatest(coalesce(n_chunks, 0), 1) AS BIGINT) AS dup_chunk_x1000
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin

    /** Twin of q129_winnow_matches: positioned 3-gram hashes, the
      * same full-width forward window min, distinct per-doc
      * fingerprints, df-bounded self-join pair counts (the bounded
      * pair expansion is a Spark physical shape).
      */
    def winnowMatchesSql: String =
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, ${shinglesE("w", 3)} AS sl FROM words),
         |g AS (SELECT id, u['pos'] AS pos, u['s'] AS s FROM (
         |  SELECT id, unnest([{'pos': i - 1, 's': sl[i]}
         |                     for i in range(1, len(sl)+1)]) AS u FROM sh) z),
         |gh AS (SELECT id, pos, ${duckHash61("s")} AS h FROM g),
         |f AS (SELECT id, pos, h,
         |        count(*) OVER (PARTITION BY id) AS n,
         |        min(h) OVER (PARTITION BY id ORDER BY pos
         |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
         |      FROM gh),
         |fp AS (SELECT DISTINCT id, mn AS h FROM f WHERE pos <= n - 4),
         |dfx AS (SELECT h, count(*) AS c FROM fp GROUP BY h),
         |rare AS (SELECT fp.id, fp.h FROM fp JOIN dfx USING (h)
         |         WHERE c BETWEEN 2 AND 20)
         |SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM rare a JOIN rare b ON a.h = b.h AND a.id < b.id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin

    /** Twin of q130_blocklist_gate: same lowercase token matching
      * against the literal term list, same counts and keep rule.
      */
    def blocklistGateSql: String =
      s"""WITH wd AS (SELECT doc_id, lang, ${tokensE("text")} AS w FROM documents),
         |tk AS (SELECT doc_id, lower(t) AS t FROM (
         |  SELECT doc_id, unnest(w) AS t FROM wd) z),
         |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |        CAST(count(DISTINCT t) AS BIGINT) AS n_terms
         |      FROM tk WHERE t IN ('slow', 'big', 'the') GROUP BY doc_id)
         |SELECT d.doc_id, d.lang,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(h.n_terms, 0) AS n_terms,
         |  (coalesce(h.n_hits, 0) <= 2) AS keep
         |FROM documents d LEFT JOIN h USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin

    /** Twin of q131_cross_source_dups: the shared MinHash bucket
      * CTEs (q34's), source map join, distinct (bucket-key, source),
      * plain pair self-join counts of DISTINCT shared keys.
      */
    def crossSourceDupsSql: String =
      minhashBucketCtes(2) + s""",
        |kk AS (SELECT DISTINCT
        |         CAST(b.band AS VARCHAR) || ':' || CAST(b.band_hash AS VARCHAR) AS key,
        |         d.source AS src
        |       FROM buckets b JOIN documents d ON d.doc_id = b.id)
        |SELECT a.src AS src_a, b.src AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM kk a JOIN kk b ON a.key = b.key AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

    /** Twin of q141_sessionization: same lag/gap/running-sum session
      * index on epoch seconds, same per-session aggregates (DECIMAL
      * value sums, the decSum convention).
      */
    def sessionizationSql: String =
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |             value FROM events),
         |l AS (SELECT event_id, user_id, ts, value,
         |        lag(ts) OVER (PARTITION BY user_id
         |          ORDER BY ts, event_id) AS prev
         |      FROM e),
         |f AS (SELECT event_id, user_id, ts, value,
         |        CASE WHEN prev IS NULL OR
         |          date_diff('second', prev, ts) > 600 THEN 1 ELSE 0 END AS nw
         |      FROM l),
         |sx AS (SELECT user_id, ts, value,
         |         CAST(SUM(nw) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS session_idx
         |       FROM f)
         |SELECT user_id, session_idx,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  min(ts) AS t_start, max(ts) AS t_end,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_sec
         |FROM sx GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin

    /** Twin of q143_setsim_join: the plain exact Jaccard self-join
      * over the same distinct 3-shingle sets — the prefix-filter
      * candidate generation is a Spark physical strategy (complete by
      * the All-Pairs prefix theorem), not a semantic change, so the
      * cross join IS the reference answer. All-integer ×1000
      * similarity on both sides.
      */
    def setSimJoinSql: String =
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shx AS (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl),
         |sh AS (SELECT id, list_distinct(list(${duckHash61("s")})) AS ts
         |       FROM shx GROUP BY id),
         |s AS (SELECT id, ts, CAST(len(ts) AS BIGINT) AS n FROM sh
         |      WHERE len(ts) >= 1),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
         |         a.n AS n_a, b.n AS n_b
         |       FROM s a JOIN s b ON a.id < b.id)
         |SELECT id_a, id_b, n_inter, n_a, n_b,
         |  CAST((1000 * n_inter) // (n_a + n_b - n_inter) AS BIGINT)
         |    AS jaccard_x1000
         |FROM pr WHERE 1000 * n_inter >= 600 * (n_a + n_b - n_inter)
         |ORDER BY id_a, id_b""".stripMargin

    /** Twin of q300_hits: the 4 power iterations unrolled as CTE
      * stages (the q152 discipline), identical L1 fixed-point
      * normalization through HUGEINT.
      */
    def hitsSql: String = {
      val S = 1000000000000L
      val norm = s"CAST((CAST(r AS HUGEINT) * $S) // t AS BIGINT)"
      val iters = (1 to 4).map { i =>
        val prevHub = if (i == 1) "h0" else s"hu${i - 1}"
        s"""ar$i AS (SELECT e.a, CAST(sum(p.s) AS BIGINT) AS r
           |  FROM e JOIN $prevHub p ON p.h = e.h GROUP BY e.a),
           |at$i AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM ar$i),
           |au$i AS (SELECT a, $norm AS s
           |  FROM ar$i CROSS JOIN at$i),
           |hr$i AS (SELECT e.h, CAST(sum(q.s) AS BIGINT) AS r
           |  FROM e JOIN au$i q ON q.a = e.a GROUP BY e.h),
           |ht$i AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM hr$i),
           |hu$i AS (SELECT h, $norm AS s
           |  FROM hr$i CROSS JOIN ht$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT o_custkey AS h, l_partkey AS a
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
         |nh AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS n FROM e),
         |h0 AS (SELECT DISTINCT h, CAST($S // n AS BIGINT) AS s
         |  FROM e CROSS JOIN nh),
         |$iters,
         |hdeg AS (SELECT h, CAST(count(*) AS BIGINT) AS degree
         |  FROM e GROUP BY h),
         |adeg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree
         |  FROM e GROUP BY a),
         |ta AS (SELECT 'authority' AS role, a AS node, s AS score_p12,
         |    degree
         |  FROM au4 JOIN adeg USING (a)
         |  ORDER BY s DESC, a LIMIT 10),
         |th AS (SELECT 'hub' AS role, h AS node, s AS score_p12, degree
         |  FROM hu4 JOIN hdeg USING (h)
         |  ORDER BY s DESC, h LIMIT 10)
         |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
         |ORDER BY role, score_p12 DESC, node""".stripMargin
    }

    /** Twin of q299_token_f1: the q143 brute pair chain feeding
      * per-pair multiset overlaps Σ least(tf_a, tf_b) and the same
      * shared-numerator ppm arithmetic.
      */
    def tokenF1Sql: String =
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shx AS (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl),
         |sh AS (SELECT id, list_distinct(list(${duckHash61("s")})) AS ts
         |       FROM shx GROUP BY id),
         |s AS (SELECT id, ts, CAST(len(ts) AS BIGINT) AS n FROM sh
         |      WHERE len(ts) >= 1),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
         |         a.n AS n_a, b.n AS n_b
         |       FROM s a JOIN s b ON a.id < b.id),
         |p AS (SELECT id_a, id_b FROM pr
         |      WHERE 1000 * n_inter >= 600 * (n_a + n_b - n_inter)),
         |tok AS (SELECT id, unnest(w) AS t FROM wl),
         |tf AS (SELECT id, t, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY id, t),
         |dl AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY id),
         |ov AS (SELECT p.id_a, p.id_b,
         |         CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS ov
         |       FROM p JOIN tf ta ON ta.id = p.id_a
         |         JOIN tf tb ON tb.id = p.id_b AND tb.t = ta.t
         |       GROUP BY p.id_a, p.id_b)
         |SELECT p.id_a, p.id_b, coalesce(ov.ov, 0) AS overlap,
         |  da.dl AS len_a, db.dl AS len_b,
         |  CAST((1000000 * coalesce(ov.ov, 0)) // greatest(da.dl, 1)
         |    AS BIGINT) AS prec_ppm,
         |  CAST((1000000 * coalesce(ov.ov, 0)) // greatest(db.dl, 1)
         |    AS BIGINT) AS rec_ppm,
         |  CAST((2000000 * coalesce(ov.ov, 0)) //
         |    greatest(da.dl + db.dl, 1) AS BIGINT) AS f1_ppm
         |FROM p LEFT JOIN ov ON ov.id_a = p.id_a AND ov.id_b = p.id_b
         |JOIN dl da ON da.id = p.id_a JOIN dl db ON db.id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin

    /** Shared CTE chain of the q144/q145 twins: earliest-completion
      * funnel times per user — each step's min(ts) strictly after the
      * previous step's recorded time.
      */
    private def funnelTimesCtes: String =
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |       WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
         |       JOIN s1 USING (user_id)
         |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
         |       JOIN s2 USING (user_id)
         |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
         |ft AS (SELECT u.user_id, t1 AS t_view, t2 AS t_click,
         |         t3 AS t_purchase,
         |         CAST(CASE WHEN t3 IS NOT NULL THEN 3
         |              WHEN t2 IS NOT NULL THEN 2
         |              WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |           AS steps_completed,
         |         CAST(CASE WHEN t3 IS NOT NULL
         |              THEN date_diff('second', t1, t3) END AS BIGINT)
         |           AS secs_to_convert
         |       FROM u LEFT JOIN s1 USING (user_id)
         |         LEFT JOIN s2 USING (user_id)
         |         LEFT JOIN s3 USING (user_id))""".stripMargin

    /** Twin of q144_event_funnel: the funnel CTEs, one row per user. */
    def eventFunnelSql: String =
      funnelTimesCtes + "\nSELECT * FROM ft ORDER BY user_id"

    /** Twin of q145_funnel_report: per-step reach + per-mille
      * conversions off the same funnel CTEs.
      */
    def funnelReportSql: String =
      funnelTimesCtes + s""",
        |c AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |        CAST(count(t_view) AS BIGINT) AS c0,
        |        CAST(count(t_click) AS BIGINT) AS c1,
        |        CAST(count(t_purchase) AS BIGINT) AS c2 FROM ft)
        |SELECT step, event_type, n_users, conv_from_prev_x1000,
        |  conv_from_top_x1000 FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |    c0 AS n_users,
        |    CAST((1000 * c0) // greatest(total, 1) AS BIGINT) AS conv_from_prev_x1000,
        |    CAST((1000 * c0) // greatest(c0, 1) AS BIGINT) AS conv_from_top_x1000
        |  FROM c
        |  UNION ALL SELECT 2, 'click', c1,
        |    CAST((1000 * c1) // greatest(c0, 1) AS BIGINT),
        |    CAST((1000 * c1) // greatest(c0, 1) AS BIGINT) FROM c
        |  UNION ALL SELECT 3, 'purchase', c2,
        |    CAST((1000 * c2) // greatest(c1, 1) AS BIGINT),
        |    CAST((1000 * c2) // greatest(c0, 1) AS BIGINT) FROM c)
        |ORDER BY step""".stripMargin

    /** Twin of q167_trending: same weekly counts and lag-ratio
      * momentum, null on each type's first week.
      */
    def trendingSql: String =
      s"""WITH c AS (SELECT event_type,
         |             date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
         |             CAST(count(*) AS BIGINT) AS n_events
         |           FROM events GROUP BY 1, 2)
         |SELECT event_type, week, n_events,
         |  CAST((1000 * n_events) // lag(n_events) OVER (
         |    PARTITION BY event_type ORDER BY week) AS BIGINT) AS wow_x1000
         |FROM c ORDER BY event_type, week""".stripMargin

    /** Twin of q151_retention_cohorts: same Monday-based week
      * truncation, first-event cohort per user, distinct (user,
      * active-week) pairs, day-diff // 7 offsets, integer per-mille
      * retention.
      */
    def retentionCohortsSql: String =
      s"""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
         |      FROM ev GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM ev),
         |o AS (SELECT f.cohort_week,
         |        CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT)
         |          AS week_offset
         |      FROM a JOIN f USING (user_id)),
         |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
         |       FROM f GROUP BY 1),
         |g AS (SELECT cohort_week, week_offset,
         |        CAST(count(*) AS BIGINT) AS active_users
         |      FROM o GROUP BY 1, 2)
         |SELECT g.cohort_week, g.week_offset, g.active_users, sz.cohort_size,
         |  CAST((1000 * g.active_users) // greatest(sz.cohort_size, 1) AS BIGINT)
         |    AS retention_x1000
         |FROM g JOIN sz USING (cohort_week)
         |ORDER BY cohort_week, week_offset""".stripMargin

    /** Twin of q152_textrank: the identical integer fixed-point
      * PageRank — same bigram edges (2-shingles, q124's split
      * convention), same undirected doubling, same ⌊w·10⁶/wdeg⌋
      * shares through HUGEINT, and the same 5 damped iterations
      * unrolled as chained CTEs with every floor division mirrored.
      */
    def textRankSql: String = {
      val iters = 5
      val scale = 1000000000000L
      val iterCtes = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS node,
           |  CAST(sum((r.r * e.share_ppm) // 1000000) AS BIGINT) AS s
           |  FROM shp e JOIN r${i - 1} r ON r.node = e.src GROUP BY 1),
           |r$i AS (SELECT nd.node,
           |  CAST((15 * $scale) // (100 * n.n_nodes)
           |    + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes nd CROSS JOIN n LEFT JOIN c$i c ON c.node = nd.node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT unnest(${shinglesE("w", 2)}) AS bg FROM wd WHERE len(w) >= 2),
         |bgp AS (SELECT split_part(bg, ' ', 1) AS w1,
         |          split_part(bg, ' ', 2) AS w2 FROM bgl),
         |ed AS (SELECT w1, w2 FROM bgp WHERE w1 <> w2),
         |dir AS (SELECT w1 AS src, w2 AS dst FROM ed
         |        UNION ALL SELECT w2 AS src, w1 AS dst FROM ed),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM dir
         |      GROUP BY 1, 2),
         |dg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
         |shp AS (SELECT e.src, e.dst,
         |          CAST((CAST(e.w AS HUGEINT) * 1000000) // dg.wdeg AS BIGINT)
         |            AS share_ppm
         |        FROM e JOIN dg USING (src)),
         |nodes AS (SELECT src AS node FROM dg),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
         |r0 AS (SELECT node, CAST($scale // n.n_nodes AS BIGINT) AS r
         |       FROM nodes CROSS JOIN n),
         |$iterCtes
         |SELECT r.node AS word, r.r AS rank_p12, dg.wdeg
         |FROM r$iters r JOIN dg ON dg.src = r.node
         |ORDER BY rank_p12 DESC, word LIMIT 10""".stripMargin
    }

    /** Twin of q262_label_prop: the textRankSql edge CTEs, then the
      * 4 label-propagation rounds UNROLLED as materialized CTE
      * stages (same weight-majority argmax with the same (s DESC,
      * lab) tie-break), the same exact HUGEINT modularity sums and
      * the same sign-symmetric ×10⁶ division.
      */
    def labelPropSql: String = {
      val iters = 4
      val iterCtes = (1 to iters).map { i =>
        s"""s$i AS (SELECT node, lab, CAST(sum(w) AS BIGINT) AS s
           |  FROM (SELECT e.dst AS node, l.lab, e.w
           |        FROM e JOIN l${i - 1} l ON l.node = e.src
           |        UNION ALL SELECT node, lab, CAST(1 AS BIGINT) AS w
           |        FROM l${i - 1}) GROUP BY 1, 2),
           |l$i AS (SELECT node, lab FROM (SELECT node, lab,
           |  row_number() OVER (PARTITION BY node ORDER BY s DESC, lab)
           |    AS rn FROM s$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT unnest(${shinglesE("w", 2)}) AS bg FROM wd WHERE len(w) >= 2),
         |bgp AS (SELECT split_part(bg, ' ', 1) AS w1,
         |          split_part(bg, ' ', 2) AS w2 FROM bgl),
         |ed AS (SELECT w1, w2 FROM bgp WHERE w1 <> w2),
         |dir AS (SELECT w1 AS src, w2 AS dst FROM ed
         |        UNION ALL SELECT w2 AS src, w1 AS dst FROM ed),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM dir
         |      GROUP BY 1, 2),
         |dg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
         |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
         |$iterCtes,
         |com AS (SELECT lab, CAST(count(*) AS BIGINT) AS n_words
         |        FROM l$iters GROUP BY 1),
         |ia AS (SELECT ls.lab, CAST(sum(e.w) AS BIGINT) AS intra_w
         |       FROM e JOIN l$iters ls ON ls.node = e.src
         |       JOIN l$iters ld ON ld.node = e.dst
         |       WHERE ls.lab = ld.lab GROUP BY 1),
         |dgc AS (SELECT l.lab, CAST(sum(dg.wdeg) AS BIGINT) AS deg_w
         |        FROM dg JOIN l$iters l ON l.node = dg.src GROUP BY 1),
         |m2 AS (SELECT CAST(sum(w) AS BIGINT) AS m2 FROM e),
         |perc AS (SELECT com.lab, n_words,
         |          CAST(coalesce(intra_w, 0) AS BIGINT) AS intra_w, deg_w
         |         FROM com LEFT JOIN ia USING (lab) JOIN dgc USING (lab)),
         |q AS (SELECT sum(CAST(intra_w AS HUGEINT) * m2 -
         |        CAST(deg_w AS HUGEINT) * deg_w) AS qn,
         |        max(m2) AS m2x FROM perc CROSS JOIN m2),
         |qq AS (SELECT CAST(CASE WHEN qn >= 0
         |        THEN (1000000 * qn) // (CAST(m2x AS HUGEINT) * m2x)
         |        ELSE -((1000000 * (-qn)) // (CAST(m2x AS HUGEINT) * m2x))
         |        END AS BIGINT) AS modularity_x1e6 FROM q)
         |SELECT lab AS community, n_words, intra_w, deg_w,
         |  modularity_x1e6
         |FROM perc CROSS JOIN qq
         |ORDER BY n_words DESC, community LIMIT 20""".stripMargin
    }

    /** Twin of q153_label_noise: q76's exact LSH-mirrored kNN chain
      * (same plane literals, same 1-bit multi-probe, same (sim DESC,
      * id) ranking), then label joins and the per-vector
      * disagreement aggregate — integer counts and a boolean, so the
      * float cosine never reaches the output surface.
      */
    def labelNoiseSql: String = {
      val planes = VectorFns.randomHyperplanes(numBits = 8, dim = 64, seed = 42L)
      val probes = (Seq("xor(sig, 0)") ++ (0 until 8).map(i => s"xor(sig, ${1L << i})"))
        .mkString(", ")
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
         |             CAST(label AS BIGINT) AS lbl FROM embeddings),
         |s AS (SELECT id, v, (${sigE("v", planes)}) AS bucket FROM e),
         |p AS (SELECT id AS query_id, qv, unnest([$probes]) AS bucket
         |      FROM (SELECT id, v AS qv, (${sigE("v", planes)}) AS sig FROM e)),
         |scored AS (SELECT DISTINCT p.query_id, s.id, ${cosineE("s.v", "p.qv")} AS sim
         |  FROM s JOIN p ON s.bucket = p.bucket AND s.id <> p.query_id),
         |ranked AS (SELECT query_id, id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS "rank"
         |  FROM scored),
         |kn AS (SELECT query_id, id FROM ranked WHERE "rank" <= 3),
         |j AS (SELECT k.query_id, a.lbl AS own, b.lbl AS nb
         |      FROM kn k JOIN e a ON a.id = k.query_id JOIN e b ON b.id = k.id),
         |g AS (SELECT query_id, own AS label,
         |        CAST(count(*) AS BIGINT) AS n_neighbors,
         |        CAST(sum(CASE WHEN nb <> own THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_disagree
         |      FROM j GROUP BY 1, 2)
         |SELECT query_id AS vec_id, label, n_neighbors, n_disagree,
         |  CAST((1000 * n_disagree) // n_neighbors AS BIGINT) AS disagree_x1000,
         |  (n_disagree * 2 > n_neighbors) AS suspect
         |FROM g ORDER BY vec_id""".stripMargin
    }

    /** Twin of q268_intrinsic_dim: q108's SQ-quantization CTEs, the
      * q153 plane-signature buckets with 1-bit multi-probe, exact
      * integer squared-L2 candidates via norms + list dot, the same
      * (d2, id) two-NN rank, the Mitchell e8 log of the squared
      * ratio and the single shared MLE float step.
      */
    def intrinsicDimSql: String = {
      val planes = VectorFns.randomHyperplanes(numBits = 8, dim = 64,
        seed = 42L)
      val probes = (Seq("xor(sig, 0)") ++
        (0 until 8).map(i => s"xor(sig, ${1L << i})")).mkString(", ")
      val sh = 1L << graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats
        .mitchellE8Sql(s"((d2b * $sh) // d1)", "//")
      s"""WITH ed AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |ex AS (SELECT id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qv
         |       FROM ed CROSS JOIN sl),
         |sg AS (SELECT id, (${sigE("v", planes)}) AS bucket FROM ed),
         |b AS (SELECT qz.id, sg.bucket, qz.qv,
         |        CAST(list_sum([qz.qv[i] * qz.qv[i]
         |             for i in range(1, len(qz.qv)+1)]) AS BIGINT) AS nn
         |      FROM qz JOIN sg USING (id)),
         |p AS (SELECT id AS query_id, qv AS qq, nn AS nq,
         |        unnest([$probes]) AS bucket
         |      FROM (SELECT id, qv, nn, bucket AS sig FROM b)),
         |cand AS (SELECT DISTINCT p.query_id, b.id,
         |          b.nn + p.nq - 2 * CAST(list_sum([b.qv[i] * p.qq[i]
         |            for i in range(1, len(b.qv)+1)]) AS BIGINT) AS d2
         |        FROM b JOIN p ON b.bucket = p.bucket
         |          AND b.id <> p.query_id),
         |pos AS (SELECT query_id, id, d2 FROM cand WHERE d2 > 0),
         |rk AS (SELECT query_id, d2,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY d2, id) AS rn FROM pos),
         |dd AS (SELECT query_id,
         |        min(CASE WHEN rn = 1 THEN d2 END) AS d1,
         |        min(CASE WHEN rn = 2 THEN d2 END) AS d2b
         |       FROM rk GROUP BY query_id),
         |e8s AS (SELECT $m8 - 160 AS e8 FROM dd WHERE d2b IS NOT NULL),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
         |        CAST(sum(e8) AS BIGINT) AS sum_e8 FROM e8s)
         |SELECT n_points, sum_e8,
         |  CAST(CASE WHEN coalesce(sum_e8, 0) <= 0 THEN -1 ELSE
         |    round(16000.0 * n_points /
         |    (0.6931471805599453 * sum_e8)) END AS BIGINT) AS id_x1000
         |FROM f""".stripMargin
    }

    /** Twin of q270_hopkins: the q108 SQ chain, probe vectors
      * assembled row-wise from the SAME hash61("hop:j:d") draws,
      * exact integer squared-L2 min distances on both legs, the
      * same top-m hash-rank sample, one exact ppm division.
      */
    def hopkinsSql: String = {
      val dot = "CAST(list_sum([q.qv[i] * %s[i] " +
        "for i in range(1, len(q.qv)+1)]) AS BIGINT)"
      val h = duckHash61(
        "'hop:' || CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)")
      s"""WITH ed AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |ex AS (SELECT id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qv
         |       FROM ed CROSS JOIN sl),
         |qn AS (SELECT id, qv,
         |        CAST(list_sum([qv[i] * qv[i]
         |          for i in range(1, len(qv)+1)]) AS BIGINT) AS nn
         |       FROM qz),
         |bb AS (SELECT u2.pos - 1 AS d, CAST(min(u2.x) AS BIGINT) AS lo,
         |        CAST(max(u2.x) AS BIGINT) AS hi
         |       FROM (SELECT unnest([{'pos': i, 'x': qv[i]}
         |               for i in range(1, len(qv)+1)]) AS u2 FROM qz)
         |       GROUP BY u2.pos),
         |pd AS (SELECT j, d,
         |        CAST(lo + ($h % (hi - lo + 1)) AS BIGINT) AS x
         |       FROM (SELECT unnest(generate_series(0, 49)) AS j)
         |       CROSS JOIN bb),
         |pv AS (SELECT j AS pid, list(x ORDER BY d) AS pv FROM pd
         |       GROUP BY j),
         |pn AS (SELECT pid, pv,
         |        CAST(list_sum([pv[i] * pv[i]
         |          for i in range(1, len(pv)+1)]) AS BIGINT) AS np
         |       FROM pv),
         |uu AS (SELECT CAST(sum(du) AS BIGINT) AS sum_u FROM (
         |        SELECT p.pid,
         |          min(q.nn + p.np - 2 * ${dot.format("p.pv")}) AS du
         |        FROM qn q CROSS JOIN pn p GROUP BY p.pid)),
         |smp AS (SELECT id FROM (SELECT id, row_number() OVER (
         |          ORDER BY ${duckHash61("CAST(id AS VARCHAR)")} DESC, id)
         |          AS rn FROM qn) WHERE rn <= 50),
         |sv AS (SELECT q.id AS sid, q.qv AS svv, q.nn AS ns
         |       FROM qn q JOIN smp ON smp.id = q.id),
         |ww AS (SELECT CAST(sum(dw) AS BIGINT) AS sum_w FROM (
         |        SELECT s.sid,
         |          min(q.nn + s.ns - 2 * CAST(list_sum([q.qv[i] * s.svv[i]
         |            for i in range(1, len(q.qv)+1)]) AS BIGINT)) AS dw
         |        FROM qn q JOIN sv s ON q.id <> s.sid GROUP BY s.sid))
         |SELECT CAST(50 AS BIGINT) AS m, sum_u, sum_w,
         |  CAST((1000000 * CAST(sum_u AS HUGEINT))
         |    // greatest(sum_u + sum_w, 1) AS BIGINT) AS h_ppm
         |FROM uu CROSS JOIN ww""".stripMargin
    }

    /** Twin of q154_novelty_curve: same distinct (doc, 3-shingle
      * hash) pairs, same global min-doc first-occurrence, same
      * per-doc seen-before counts and per-mille novelty.
      */
    def noveltyCurveSql: String =
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shx AS (SELECT DISTINCT id, ${duckHash61("s")} AS h
         |        FROM (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl)),
         |f AS (SELECT h, min(id) AS first_id FROM shx GROUP BY 1)
         |SELECT shx.id AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_id < shx.id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_seen_before,
         |  CAST((1000 * (count(*) -
         |    sum(CASE WHEN f.first_id < shx.id THEN 1 ELSE 0 END)))
         |    // count(*) AS BIGINT) AS novelty_x1000
         |FROM shx JOIN f USING (h)
         |GROUP BY shx.id ORDER BY doc_id""".stripMargin

    /** Twin of q155_psi_drift: same binning, same Laplace-smoothed
      * ppm probabilities through HUGEINT, the IDENTICAL Mitchell
      * eighth-bit log over the symmetric max/min ratio, same raw
      * eighth-bit × ppm sum.
      */
    def psiDriftSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH b AS (SELECT source AS g, CAST(n_chars // 50 AS BIGINT) AS bin
         |           FROM documents),
         |gh AS (SELECT bin, CAST(count(*) AS BIGINT) AS gc FROM b GROUP BY 1),
         |sh AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS sc FROM b
         |       GROUP BY 1, 2),
         |gt AS (SELECT CAST(sum(gc) AS BIGINT) AS gt,
         |         CAST(count(*) AS BIGINT) AS nb FROM gh),
         |st AS (SELECT g, CAST(sum(sc) AS BIGINT) AS st FROM sh GROUP BY 1),
         |grid AS (SELECT gs.g, gh.bin, gh.gc
         |         FROM (SELECT DISTINCT g FROM b) gs CROSS JOIN gh),
         |pq AS (SELECT grid.g, st.st,
         |         greatest(CAST((CAST(coalesce(sh.sc, 0) + 1 AS HUGEINT)
         |           * 1000000) // (st.st + gt.nb) AS BIGINT),
         |           CAST(1 AS BIGINT)) AS p_ppm,
         |         greatest(CAST((CAST(grid.gc + 1 AS HUGEINT) * 1000000)
         |           // (gt.gt + gt.nb) AS BIGINT),
         |           CAST(1 AS BIGINT)) AS q_ppm
         |       FROM grid
         |       LEFT JOIN sh ON sh.g = grid.g AND sh.bin = grid.bin
         |       JOIN st ON st.g = grid.g CROSS JOIN gt),
         |tm AS (SELECT g, st,
         |         abs(p_ppm - q_ppm) * ($m8 - ${8 * shift}) AS term
         |       FROM (SELECT g, st, p_ppm, q_ppm,
         |               CAST((greatest(p_ppm, q_ppm) * ${1L << shift})
         |                 // least(p_ppm, q_ppm) AS BIGINT) AS q
         |             FROM pq))
         |SELECT g AS source, st AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(term) AS BIGINT) AS psi_e8_ppm
         |FROM tm GROUP BY 1, 2 ORDER BY source""".stripMargin
    }

    /** Twin of q201_wasserstein_drift: same 50-wide bins, cumulative
      * COUNTS through the per-group window cumsum, one HUGEINT ppm
      * division per bin on each side, Σ|ΔCDF| and its ·binWidth
      * value-unit form.
      */
    def wasserstein1Sql: String =
      s"""WITH b AS (SELECT source AS g, CAST(n_chars // 50 AS BIGINT) AS bin
         |           FROM documents),
         |sh AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS sc FROM b
         |       GROUP BY 1, 2),
         |gh AS (SELECT bin, CAST(sum(sc) AS BIGINT) AS gc FROM sh GROUP BY 1),
         |gt AS (SELECT CAST(sum(gc) AS BIGINT) AS gt FROM gh),
         |st AS (SELECT g, CAST(sum(sc) AS BIGINT) AS st FROM sh GROUP BY 1),
         |grid AS (SELECT gs.g, gh.bin, gh.gc
         |         FROM (SELECT DISTINCT g FROM b) gs CROSS JOIN gh),
         |cum AS (SELECT grid.g, st.st, gt.gt,
         |          sum(coalesce(sh.sc, 0)) OVER
         |            (PARTITION BY grid.g ORDER BY grid.bin
         |             ROWS UNBOUNDED PRECEDING) AS cs,
         |          sum(grid.gc) OVER
         |            (PARTITION BY grid.g ORDER BY grid.bin
         |             ROWS UNBOUNDED PRECEDING) AS cg,
         |          coalesce(lead(grid.bin, 1) OVER
         |            (PARTITION BY grid.g ORDER BY grid.bin),
         |            grid.bin + 1) - grid.bin AS gap
         |        FROM grid
         |        LEFT JOIN sh ON sh.g = grid.g AND sh.bin = grid.bin
         |        JOIN st ON st.g = grid.g CROSS JOIN gt),
         |tm AS (SELECT g, st,
         |         abs(CAST((CAST(cs AS HUGEINT) * 1000000) // st AS BIGINT)
         |           - CAST((CAST(cg AS HUGEINT) * 1000000) // gt AS BIGINT))
         |           * gap AS term
         |       FROM cum)
         |SELECT g AS source, st AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(term) AS BIGINT) AS w1_ppm,
         |  CAST(sum(term) * 50 AS BIGINT) AS w1_value_e6
         |FROM tm GROUP BY 1, 2 ORDER BY source""".stripMargin

    /** Shared transition-matrix CTEs for q202/q203: consecutive
      * per-user event pairs via the same (ts, event_id)-ordered lead
      * window, counts, row totals, HUGEINT ppm probabilities.
      */
    private def markovCtes: String =
      s"""s AS (SELECT user_id AS u, event_type AS a, ts, event_id AS id
         |      FROM events),
         |p AS (SELECT a, lead(a) OVER (PARTITION BY u ORDER BY ts, id) AS b
         |      FROM s),
         |t AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM p
         |      WHERE b IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT a, CAST(sum(n) AS BIGINT) AS nf FROM t GROUP BY 1),
         |tm AS (SELECT t.a, t.b, t.n, rt.nf,
         |         CAST((CAST(t.n AS HUGEINT) * 1000000) // rt.nf AS BIGINT)
         |           AS p_ppm
         |       FROM t JOIN rt USING (a))""".stripMargin

    /** Twin of q202_markov_transitions. */
    def markovTransitionsSql: String =
      s"""WITH $markovCtes
         |SELECT a AS from_type, b AS to_type, n AS n_pairs, nf AS n_from,
         |  p_ppm
         |FROM tm ORDER BY from_type, to_type""".stripMargin

    /** Twin of q203_markov_stationary: the IDENTICAL transition ppm
      * table, then 5 UNROLLED power-iteration CTEs (the TextRank
      * q152 convention) — π_{k+1}(b) = Σ π_k(a)·p_ppm(a,b) // 10⁶
      * through HUGEINT, types with no outgoing row shedding mass
      * exactly as the Spark loop does.
      */
    def markovStationarySql: String = {
      def iter(k: Int): String =
        s"""i$k AS (SELECT ty.st,
           |  coalesce(CAST(x.s // 1000000 AS BIGINT), 0) AS pi
           |  FROM ty LEFT JOIN
           |    (SELECT tm.b, sum(CAST(p.pi AS HUGEINT) * tm.p_ppm) AS s
           |     FROM i${k - 1} p JOIN tm ON tm.a = p.st GROUP BY tm.b) x
           |    ON x.b = ty.st)""".stripMargin
      s"""WITH $markovCtes,
         |ty AS (SELECT DISTINCT event_type AS st FROM events),
         |p0 AS (SELECT CAST(1000000 // greatest(count(*), 1) AS BIGINT) AS pi
         |       FROM ty),
         |i0 AS (SELECT ty.st, p0.pi FROM ty CROSS JOIN p0),
         |${(1 to 5).map(iter).mkString(",\n|")}
         |SELECT ty.st AS event_type,
         |  coalesce(rt.nf, 0) AS n_from,
         |  (SELECT pi FROM p0) AS pi0_ppm,
         |  i5.pi AS pi_ppm
         |FROM ty LEFT JOIN rt ON rt.a = ty.st
         |JOIN i5 ON i5.st = ty.st
         |ORDER BY event_type""".stripMargin
    }

    /** Twin of q204_sequence_patterns: the same (ts, id)-ordered
      * lead(1)/lead(2) trigrams, distinct-user reach, per-mille
      * support against the total user count.
      */
    def sequencePatternsSql: String =
      s"""WITH s AS (SELECT user_id AS u, event_type AS a, ts, event_id AS id
         |           FROM events),
         |tri AS (SELECT u, a,
         |          lead(a, 1) OVER (PARTITION BY u ORDER BY ts, id) AS b,
         |          lead(a, 2) OVER (PARTITION BY u ORDER BY ts, id) AS c
         |        FROM s),
         |ut AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users_total
         |       FROM s)
         |SELECT a AS step_1, b AS step_2, c AS step_3,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(count(DISTINCT u) AS BIGINT) AS n_users,
         |  CAST((1000 * count(DISTINCT u)) //
         |    (SELECT n_users_total FROM ut) AS BIGINT) AS support_x1000
         |FROM tri WHERE b IS NOT NULL AND c IS NOT NULL
         |GROUP BY 1, 2, 3 ORDER BY step_1, step_2, step_3""".stripMargin

    /** Twin of q205_rrf_hybrid: same two retrievers (distinct ≥5-char
      * token overlap; cosine with the q134 DOUBLE[]-first rule), the
      * same (score DESC, id) rank order and top-50 cuts, the same
      * exact 10⁶ // (60 + rank) fusion.
      */
    def rrfHybridSql: String =
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |tok AS (SELECT DISTINCT id, t FROM
         |          (SELECT doc_id AS id, unnest(w) AS t FROM wd)
         |        WHERE len(t) >= 5),
         |qt AS (SELECT id AS query_id, t FROM tok WHERE id < 3),
         |lexs AS (SELECT qt.query_id, tok.id, CAST(count(*) AS BIGINT) AS ov
         |         FROM tok JOIN qt USING (t) WHERE tok.id <> qt.query_id
         |         GROUP BY 1, 2),
         |lexr AS (SELECT query_id, id, rnk FROM
         |           (SELECT query_id, id, CAST(row_number() OVER
         |              (PARTITION BY query_id ORDER BY ov DESC, id)
         |              AS BIGINT) AS rnk FROM lexs)
         |         WHERE rnk <= 50),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
         |den AS (SELECT qv.query_id, e.vec_id AS id,
         |          ${cosineE("e.v", "qv.qv")} AS sim
         |        FROM e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |denr AS (SELECT query_id, id, rnk FROM
         |           (SELECT query_id, id, CAST(row_number() OVER
         |              (PARTITION BY query_id ORDER BY sim DESC, id)
         |              AS BIGINT) AS rnk FROM den)
         |         WHERE rnk <= 50),
         |u AS (SELECT query_id, id,
         |        CAST(1000000 // (60 + rnk) AS BIGINT) AS c FROM lexr
         |      UNION ALL
         |      SELECT query_id, id,
         |        CAST(1000000 // (60 + rnk) AS BIGINT) AS c FROM denr),
         |f AS (SELECT query_id, id, CAST(count(*) AS BIGINT) AS n_lists,
         |        CAST(sum(c) AS BIGINT) AS rrf_x
         |      FROM u GROUP BY 1, 2)
         |SELECT query_id, id, n_lists, rrf_x, "rank" FROM
         |  (SELECT query_id, id, n_lists, rrf_x, CAST(row_number() OVER
         |     (PARTITION BY query_id ORDER BY rrf_x DESC, id) AS BIGINT)
         |     AS "rank" FROM f)
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin

    /** Twin of q206_benford_screen: the IDENTICAL emitted first-digit
      * magnitude CASE ([[graft.ops.Profile.firstDigitSql]] with `//`)
      * and the same hardcoded Benford ppm table.
      */
    def benfordScreenSql: String = {
      val fd = graft.ops.Profile.firstDigitSql(
        "CAST(floor(o_totalprice) AS BIGINT)", divOp = "//")
      val vals = graft.ops.Profile.BenfordPpm
        .map { case (dg, p) => s"($dg, $p)" }.mkString(", ")
      s"""WITH dig(digit, exp_ppm) AS (VALUES $vals),
         |fc AS (SELECT CAST($fd AS BIGINT) AS digit FROM orders),
         |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM fc
         |        WHERE digit >= 1 GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cnt)
         |SELECT CAST(dig.digit AS BIGINT) AS digit,
         |  coalesce(cnt.n, 0) AS n,
         |  CAST((CAST(coalesce(cnt.n, 0) AS HUGEINT) * 1000000)
         |    // greatest(tot.nt, 1) AS BIGINT) AS obs_ppm,
         |  CAST(dig.exp_ppm AS BIGINT) AS exp_ppm,
         |  abs(CAST((CAST(coalesce(cnt.n, 0) AS HUGEINT) * 1000000)
         |    // greatest(tot.nt, 1) AS BIGINT) - dig.exp_ppm) AS dev_ppm
         |FROM dig LEFT JOIN cnt ON cnt.digit = dig.digit CROSS JOIN tot
         |ORDER BY digit""".stripMargin
    }

    /** Twin of q207_survival_curve: same censoring rule, same
      * lifetime-day reduction, the same KM hazard term
      * ([[graft.ops.Funnel.kmTermSql]]; the Spark plan computes it with
      * the native Mitchell log), same cumsums.
      */
    def survivalCurveSql: String = {
      val term = graft.ops.Funnel.kmTermSql()
      s"""WITH sp AS (SELECT user_id AS u,
         |              min(date_trunc('day', ts)) AS first_d,
         |              max(date_trunc('day', ts)) AS last_d
         |            FROM events GROUP BY 1),
         |mx AS (SELECT max(last_d) AS max_d FROM sp),
         |byt AS (SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT)
         |          AS t,
         |          CAST(sum(CASE WHEN date_diff('day', last_d, max_d) > 3
         |            THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |          CAST(sum(CASE WHEN date_diff('day', last_d, max_d) > 3
         |            THEN 0 ELSE 1 END) AS BIGINT) AS cen,
         |          CAST(count(*) AS BIGINT) AS a
         |        FROM sp CROSS JOIN mx GROUP BY 1),
         |n AS (SELECT CAST(sum(a) AS BIGINT) AS n_total FROM byt),
         |risk AS (SELECT byt.*, n.n_total,
         |           n.n_total - coalesce(sum(a) OVER (ORDER BY t
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             AS n_risk
         |         FROM byt CROSS JOIN n),
         |tm AS (SELECT t, n_risk, d, cen, $term AS term FROM risk)
         |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
         |  d AS n_events, cen AS n_censored,
         |  CAST(sum(term) OVER (ORDER BY t
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS log_surv_e8
         |FROM tm ORDER BY t_days""".stripMargin
    }

    /** Twin of q208_mmr_rerank: same top-10 candidate cut, the same
      * greedy 7·rel − 3·maxsim chain UNROLLED into two selection
      * CTEs (picks exclude priors via one-row inequality joins; the
      * q134 DOUBLE[]-first and (score DESC, id) conventions).
      */
    def mmrRerankSql: String =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
         |sc AS (SELECT qv.query_id, e.vec_id AS id,
         |         ${cosineE("e.v", "qv.qv")} AS rel
         |       FROM e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |cand AS (SELECT query_id, id, rel FROM
         |           (SELECT query_id, id, rel, row_number() OVER
         |              (PARTITION BY query_id ORDER BY rel DESC, id) AS rnk
         |            FROM sc)
         |         WHERE rnk <= 10),
         |cv AS (SELECT cand.query_id, cand.id, e.v
         |       FROM cand JOIN e ON e.vec_id = cand.id),
         |sims AS (SELECT a.query_id, a.id AS ia, b.id AS ib,
         |           ${cosineE("a.v", "b.v")} AS sim
         |         FROM cv a JOIN cv b
         |           ON a.query_id = b.query_id AND a.id <> b.id),
         |p1 AS (SELECT query_id, id, rel, mmr FROM
         |         (SELECT query_id, id, rel, rel * 7 AS mmr,
         |            row_number() OVER (PARTITION BY query_id
         |              ORDER BY rel * 7 DESC, id) AS rn FROM cand)
         |       WHERE rn = 1),
         |r2 AS (SELECT c.query_id, c.id, c.rel,
         |         c.rel * 7 - max(s.sim) * 3 AS mmr
         |       FROM cand c
         |       JOIN p1 ON p1.query_id = c.query_id AND c.id <> p1.id
         |       JOIN sims s ON s.query_id = c.query_id AND s.ia = c.id
         |         AND s.ib = p1.id
         |       GROUP BY c.query_id, c.id, c.rel),
         |p2 AS (SELECT query_id, id, rel, mmr FROM
         |         (SELECT query_id, id, rel, mmr, row_number() OVER
         |            (PARTITION BY query_id ORDER BY mmr DESC, id) AS rn
         |          FROM r2)
         |       WHERE rn = 1),
         |r3 AS (SELECT c.query_id, c.id, c.rel,
         |         c.rel * 7 - max(s.sim) * 3 AS mmr
         |       FROM cand c
         |       JOIN p1 ON p1.query_id = c.query_id AND c.id <> p1.id
         |       JOIN p2 ON p2.query_id = c.query_id AND c.id <> p2.id
         |       JOIN sims s ON s.query_id = c.query_id AND s.ia = c.id
         |         AND (s.ib = p1.id OR s.ib = p2.id)
         |       GROUP BY c.query_id, c.id, c.rel),
         |p3 AS (SELECT query_id, id, rel, mmr FROM
         |         (SELECT query_id, id, rel, mmr, row_number() OVER
         |            (PARTITION BY query_id ORDER BY mmr DESC, id) AS rn
         |          FROM r3)
         |       WHERE rn = 1),
         |u AS (SELECT query_id, CAST(1 AS BIGINT) AS pick, id, rel, mmr
         |        FROM p1
         |      UNION ALL
         |      SELECT query_id, CAST(2 AS BIGINT), id, rel, mmr FROM p2
         |      UNION ALL
         |      SELECT query_id, CAST(3 AS BIGINT), id, rel, mmr FROM p3)
         |SELECT query_id, pick, id, round(rel, 4) AS rel,
         |  round(mmr, 4) AS mmr
         |FROM u ORDER BY query_id, pick""".stripMargin

    /** Twin of q209_text_tiling: same 20-token blocks (positions via
      * a struct-list comprehension), same ×1000 Jaccard cohesion,
      * valley depths, and dip-below-integer-mean boundary rule.
      */
    def textTilingSql: String =
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bt AS (SELECT DISTINCT id, s.blk AS blk, s.t AS t FROM
         |         (SELECT doc_id AS id,
         |            UNNEST([{'blk': CAST((i - 1) // 20 AS BIGINT),
         |                     't': w[i]} for i in range(1, len(w) + 1)])
         |            AS s
         |          FROM wd)),
         |sz AS (SELECT id, blk, CAST(count(*) AS BIGINT) AS n FROM bt
         |       GROUP BY 1, 2),
         |ix AS (SELECT a.id, a.blk AS gap, CAST(count(*) AS BIGINT) AS ix
         |       FROM bt a JOIN bt b ON a.id = b.id AND b.blk = a.blk + 1
         |         AND a.t = b.t
         |       GROUP BY 1, 2),
         |coh AS (SELECT sa.id, sa.blk AS gap,
         |          CAST((1000 * coalesce(ix.ix, 0)) //
         |            (sa.n + sb.n - coalesce(ix.ix, 0)) AS BIGINT)
         |            AS coh_x1000
         |        FROM sz sa JOIN sz sb ON sb.id = sa.id
         |          AND sb.blk = sa.blk + 1
         |        LEFT JOIN ix ON ix.id = sa.id AND ix.gap = sa.blk),
         |fin AS (SELECT id, gap, coh_x1000,
         |          coalesce(lag(coh_x1000) OVER
         |            (PARTITION BY id ORDER BY gap), coh_x1000) AS cl,
         |          coalesce(lead(coh_x1000) OVER
         |            (PARTITION BY id ORDER BY gap), coh_x1000) AS cr,
         |          CAST(sum(coh_x1000) OVER (PARTITION BY id) AS BIGINT)
         |            AS cs,
         |          CAST(count(*) OVER (PARTITION BY id) AS BIGINT) AS cn
         |        FROM coh)
         |SELECT id AS doc_id, gap, coh_x1000,
         |  CAST(greatest(cl - coh_x1000, 0) + greatest(cr - coh_x1000, 0)
         |    AS BIGINT) AS depth_x1000,
         |  ((greatest(cl - coh_x1000, 0) + greatest(cr - coh_x1000, 0)) > 0
         |    AND coh_x1000 < (cs // cn)) AS is_boundary
         |FROM fin ORDER BY doc_id, gap""".stripMargin

    /** Twin of q210_zonemap_pruning: the IDENTICAL emitted z-value
      * bit arithmetic ([[graft.ops.Layout.zValueSql]]), same bucket
      * width, zone maps, overlap rule, and exact match counts.
      */
    def zoneMapPruningSql: String = {
      val z = graft.ops.Layout.zValueSql(Seq("x", "y"), 5)
      val width = (1L << 10) / 32
      s"""WITH v AS (SELECT CAST(hour(ts) AS BIGINT) AS x,
         |             CAST(user_id % 32 AS BIGINT) AS y FROM events),
         |b AS (SELECT x, y, CAST($z // $width AS BIGINT) AS bucket FROM v)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max,
         |  (max(x) >= 9 AND min(x) <= 17 AND max(y) >= 8 AND min(y) <= 15)
         |    AS scanned,
         |  CAST(sum(CASE WHEN x BETWEEN 9 AND 17 AND y BETWEEN 8 AND 15
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }

    /** Twin of q211_concurrency_curve: same gap-600 s sessionization
      * (the q141 construction), sessions exploded into their
      * overlapped hours via generate_series, same per-hour counts.
      */
    def concurrencyCurveSql: String =
      s"""WITH e AS (SELECT user_id AS u, ts, event_id AS id FROM events),
         |m AS (SELECT u, ts, id,
         |        lag(ts) OVER (PARTITION BY u ORDER BY ts, id) AS prev
         |      FROM e),
         |n AS (SELECT u, ts, id,
         |        CASE WHEN prev IS NULL OR
         |          date_diff('second', prev, ts) > 600 THEN 1 ELSE 0 END
         |          AS nw
         |      FROM m),
         |sid AS (SELECT u, ts,
         |          sum(nw) OVER (PARTITION BY u ORDER BY ts, id
         |            ROWS UNBOUNDED PRECEDING) AS s
         |        FROM n),
         |sp AS (SELECT date_trunc('hour', min(ts)) AS h_start,
         |         date_trunc('hour', max(ts)) AS h_end
         |       FROM sid GROUP BY u, s),
         |hrs AS (SELECT unnest(generate_series(h_start, h_end,
         |          INTERVAL 1 HOUR)) AS hour, h_start, h_end
         |        FROM sp)
         |SELECT hour, CAST(count(*) AS BIGINT) AS n_active,
         |  CAST(sum(CASE WHEN hour = h_start THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_started,
         |  CAST(sum(CASE WHEN hour = h_end THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ended
         |FROM hrs GROUP BY hour ORDER BY hour""".stripMargin

    /** Twin of q212_calibration_report: wraps the full NB scoring
      * twin (the q179 convention) and applies the same margin
      * binning and per-mille accuracy.
      */
    def calibrationReportSql: String =
      s"""WITH scored AS ($nbClassifierSql),
         |b AS (SELECT least(margin_e8 // 2, 10) AS bin,
         |        CASE WHEN lang = pred THEN 1 ELSE 0 END AS ok
         |      FROM scored)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |  CAST(bin * 2 AS BIGINT) AS conf_lo,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(ok) AS BIGINT) AS n_correct,
         |  CAST((1000 * sum(ok)) // count(*) AS BIGINT) AS acc_x1000
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin

    /** Twin of q286_isotonic_calibration: the q212 NB scoring CTEs,
      * the same B³ minimax grid with per-interval floored ppm rates
      * (floor commutes with min/max, so this IS floor of the exact
      * isotonic fit).
      */
    def isotonicCalibrationSql: String =
      s"""WITH scored AS ($nbClassifierSql),
         |bb AS (SELECT least(margin_e8 // 2, 10) AS bin,
         |        CASE WHEN lang = pred THEN 1 ELSE 0 END AS ok
         |      FROM scored),
         |cells AS (SELECT CAST(bin AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(ok) AS BIGINT) AS pos
         |  FROM bb GROUP BY bin),
         |iv AS (SELECT bi.bin AS i, bj.bin AS j,
         |    CAST((1000000 * sum(CAST(c.pos AS HUGEINT))) //
         |      sum(CAST(c.n AS HUGEINT)) AS BIGINT) AS m_ppm
         |  FROM cells bi JOIN cells bj ON bi.bin <= bj.bin
         |  JOIN cells c ON c.bin >= bi.bin AND c.bin <= bj.bin
         |  GROUP BY 1, 2),
         |lo AS (SELECT k.bin AS k, iv.i, min(m_ppm) AS lo
         |  FROM iv JOIN cells k ON iv.i <= k.bin AND iv.j >= k.bin
         |  GROUP BY 1, 2),
         |fit AS (SELECT k, max(lo) AS iso_ppm FROM lo GROUP BY k)
         |SELECT bin, n, pos,
         |  CAST((1000000 * pos) // n AS BIGINT) AS raw_ppm,
         |  iso_ppm
         |FROM cells JOIN fit ON fit.k = cells.bin
         |ORDER BY bin""".stripMargin

    /** Twin of q287_fairness_report: same group counts, one-row
      * reference cross join, count-exact DI ratio and parity diff.
      */
    def fairnessReportSql: String =
      s"""WITH cnt AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS sel
         |  FROM documents GROUP BY 1),
         |ref AS (SELECT n AS n_ref, sel AS sel_ref FROM cnt
         |  WHERE g = 'en')
         |SELECT g AS lang, n, sel,
         |  CAST((1000000 * sel) // n AS BIGINT) AS rate_ppm,
         |  CAST((1000000 * sel_ref) // n_ref AS BIGINT) AS ref_rate_ppm,
         |  CAST((1000000 * sel) // n - (1000000 * sel_ref) // n_ref
         |    AS BIGINT) AS parity_diff_ppm,
         |  CAST(CASE WHEN sel_ref = 0 THEN 0 ELSE
         |    (1000 * CAST(sel AS HUGEINT) * n_ref) //
         |    (CAST(n AS HUGEINT) * sel_ref) END AS BIGINT) AS di_x1000,
         |  CAST(CASE WHEN sel_ref = 0 THEN 0 ELSE
         |    (1000 * CAST(sel AS HUGEINT) * n_ref) //
         |    (CAST(n AS HUGEINT) * sel_ref) END AS BIGINT) < 800
         |    AND g <> 'en' AS below_four_fifths
         |FROM cnt CROSS JOIN ref ORDER BY lang""".stripMargin

    /** Twin of q288_cum_sqrt_strata: same $100 bins, same per-bin
      * floor(1000·√f) float step, same exact cumulative cut.
      */
    def cumSqrtStrataSql: String =
      s"""WITH bins AS (SELECT
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 10000
         |      AS b,
         |    CAST(count(*) AS BIGINT) AS f
         |  FROM customer GROUP BY 1),
         |isq AS (SELECT b, f,
         |    CAST(floor(1000 * sqrt(CAST(f AS DOUBLE))) AS BIGINT) AS isq
         |  FROM bins),
         |tot AS (SELECT CAST(sum(isq) AS BIGINT) AS t FROM isq),
         |cum AS (SELECT b, f, isq,
         |    coalesce(SUM(isq) OVER (ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cumprev
         |  FROM isq),
         |st AS (SELECT b, f,
         |    least(3, (cumprev * 4) // greatest(t, 1)) AS stratum
         |  FROM cum CROSS JOIN tot)
         |SELECT CAST(stratum AS BIGINT) AS stratum,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(min(b * 10000) AS BIGINT) AS lo_value,
         |  CAST(max(b * 10000 + 9999) AS BIGINT) AS hi_value,
         |  CAST(sum(f) AS BIGINT) AS n_rows
         |FROM st GROUP BY 1 ORDER BY stratum""".stripMargin

    /** Twin of q289_conformal: same per-quantity floor-mean
      * predictor, same ceiling-k order statistic off the
      * residual-value histogram, same exact coverage ppm.
      */
    def conformalSql: String =
      s"""WITH base AS (SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         |    (l_orderkey * 8 + l_linenumber) % 5 AS sp
         |  FROM lineitem),
         |pred AS (SELECT x,
         |    CAST(sum(CAST(y AS HUGEINT)) // count(*) AS BIGINT) AS yhat
         |  FROM base WHERE sp >= 2 GROUP BY x),
         |resid AS (SELECT abs(y - yhat) AS r, CAST(count(*) AS BIGINT)
         |      AS cnt
         |  FROM base JOIN pred USING (x) WHERE sp = 1 GROUP BY 1),
         |nc AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_cal FROM resid),
         |cum AS (SELECT r, cnt, n_cal,
         |    CAST(SUM(cnt) OVER (ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM resid CROSS JOIN nc),
         |al AS (SELECT CAST(a AS BIGINT) AS alpha_ppm
         |  FROM (VALUES (100000), (50000)) t(a)),
         |qh AS (SELECT alpha_ppm, max(n_cal) AS n_cal,
         |    max(least(n_cal, ((n_cal + 1) * (1000000 - alpha_ppm)
         |      + 999999) // 1000000)) AS k,
         |    min(r) AS qhat
         |  FROM al JOIN cum ON cum >= least(n_cal,
         |    ((n_cal + 1) * (1000000 - alpha_ppm) + 999999) // 1000000)
         |  GROUP BY alpha_ppm),
         |te AS (SELECT abs(y - yhat) AS r
         |  FROM base JOIN pred USING (x) WHERE sp = 0),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_test FROM te),
         |cov AS (SELECT alpha_ppm, n_cal, k, qhat,
         |    CAST(coalesce(sum(CASE WHEN te.r IS NOT NULL THEN 1 END), 0)
         |      AS BIGINT) AS n_cov
         |  FROM qh LEFT JOIN te ON te.r <= qh.qhat
         |  GROUP BY 1, 2, 3, 4)
         |SELECT alpha_ppm, n_cal, CAST(k AS BIGINT) AS k, qhat, n_test,
         |  CAST(CASE WHEN n_test = 0 THEN 0 ELSE
         |    (1000000 * n_cov) // n_test END AS BIGINT) AS coverage_ppm
         |FROM cov CROSS JOIN nt ORDER BY alpha_ppm""".stripMargin

    /** Twin of q290_mcnemar: the q114 NB CTEs paired with the q32
      * langId CTEs on the shared eval split; exact discordant counts
      * and the float-free χ² integral divide.
      */
    def mcnemarSql: String =
      s"""WITH scored AS ($nbClassifierSql),
         |lp AS (SELECT doc_id, lang_pred FROM ($langIdSql) t
         |  WHERE doc_id % 5 = 0),
         |pr AS (SELECT CASE WHEN s.pred = s.lang THEN 1 ELSE 0 END AS ra,
         |    CASE WHEN lp.lang_pred = s.lang THEN 1 ELSE 0 END AS rb
         |  FROM scored s JOIN lp ON lp.doc_id = s.doc_id),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(ra * rb) AS BIGINT) AS both_right,
         |    CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS both_wrong,
         |    CAST(sum(ra * (1 - rb)) AS BIGINT) AS b,
         |    CAST(sum((1 - ra) * rb) AS BIGINT) AS c
         |  FROM pr)
         |SELECT n, both_right, both_wrong, b, c,
         |  CAST(CASE WHEN b + c = 0 THEN 0 ELSE
         |    (1000 * (b - c) * (b - c)) // (b + c) END AS BIGINT)
         |    AS chi2_x1000
         |FROM agg ORDER BY n""".stripMargin

    /** Twin of q213_item_similarity: same distinct baskets, maxBasket
      * guard, a<b pair counts, minCo prune, HUGEINT squared-Ochiai.
      */
    def itemSimilaritySql: String =
      s"""WITH ui AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
         |            FROM lineitem l JOIN orders o
         |              ON l.l_orderkey = o.o_orderkey),
         |kept AS (SELECT ui.* FROM ui JOIN
         |           (SELECT u FROM ui GROUP BY u HAVING count(*) <= 1000) s
         |           USING (u)),
         |ca AS (SELECT it AS a, CAST(count(*) AS BIGINT) AS n_a FROM kept
         |       GROUP BY 1),
         |p AS (SELECT i1.it AS a, i2.it AS b, CAST(count(*) AS BIGINT) AS n_co
         |      FROM kept i1 JOIN kept i2
         |        ON i1.u = i2.u AND i1.it < i2.it
         |      GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT p.a AS item_a, p.b AS item_b, p.n_co, ca.n_a, cb.n_a AS n_b,
         |  CAST((CAST(p.n_co AS HUGEINT) * p.n_co * 1000000)
         |    // (CAST(ca.n_a AS HUGEINT) * cb.n_a) AS BIGINT) AS ochiai2_ppm
         |FROM p JOIN ca ON ca.a = p.a JOIN ca cb ON cb.a = p.b
         |ORDER BY item_a, item_b""".stripMargin

    /** Twin of q214_rfm_segments: same DECIMAL cents, same
      * bounded-table ⌈p·n/100⌉ quintile cuts, same 1–5 scoring.
      */
    def rfmSegmentsSql: String = {
      def cutsCte(dim: String): String =
        s"""c$dim AS (SELECT
           |  min(CASE WHEN cum >= (20 * n + 99) // 100 THEN v END) AS ${dim}20,
           |  min(CASE WHEN cum >= (40 * n + 99) // 100 THEN v END) AS ${dim}40,
           |  min(CASE WHEN cum >= (60 * n + 99) // 100 THEN v END) AS ${dim}60,
           |  min(CASE WHEN cum >= (80 * n + 99) // 100 THEN v END) AS ${dim}80
           |  FROM (SELECT v, c, CAST(sum(c) OVER (ORDER BY v
           |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |          CAST(sum(c) OVER () AS BIGINT) AS n
           |        FROM (SELECT $dim AS v, CAST(count(*) AS BIGINT) AS c
           |              FROM base GROUP BY 1)))""".stripMargin
      def scoreE(dim: String): String =
        s"(1 + CASE WHEN $dim > ${dim}20 THEN 1 ELSE 0 END" +
          s" + CASE WHEN $dim > ${dim}40 THEN 1 ELSE 0 END" +
          s" + CASE WHEN $dim > ${dim}60 THEN 1 ELSE 0 END" +
          s" + CASE WHEN $dim > ${dim}80 THEN 1 ELSE 0 END)"
      s"""WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
         |base AS (SELECT o_custkey,
         |    CAST(date_diff('day', max(o_orderdate), mx.mxd) AS BIGINT) AS r,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         |      AS cents,
         |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
         |      AS BIGINT) // 10000 AS BIGINT) AS m
         |  FROM orders CROSS JOIN mx GROUP BY o_custkey, mx.mxd),
         |${cutsCte("r")},
         |${cutsCte("f")},
         |${cutsCte("m")},
         |sc AS (SELECT CAST(${scoreE("r")} AS BIGINT) AS recency_q,
         |         CAST(${scoreE("f")} AS BIGINT) AS frequency_q,
         |         CAST(${scoreE("m")} AS BIGINT) AS monetary_q,
         |         cents
         |       FROM base CROSS JOIN cr CROSS JOIN cf CROSS JOIN cm)
         |SELECT recency_q, frequency_q, monetary_q,
         |  CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM sc GROUP BY 1, 2, 3
         |ORDER BY recency_q, frequency_q, monetary_q""".stripMargin
    }

    /** Twin of q215_cohort_ltv: same first-week cohorts, DECIMAL
      * cents per user-week, per-cohort running cumulative, per-member
      * LTV.
      */
    def cohortLtvSql: String =
      s"""WITH f AS (SELECT user_id AS u,
         |             date_trunc('week', min(ts)) AS cohort_week
         |           FROM events GROUP BY 1),
         |wv AS (SELECT user_id AS u, date_trunc('week', ts) AS w,
         |         CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT)
         |           AS cents
         |       FROM events GROUP BY 1, 2),
         |bo AS (SELECT f.cohort_week,
         |         CAST(date_diff('day', f.cohort_week, wv.w) // 7 AS BIGINT)
         |           AS week_offset,
         |         CAST(sum(wv.cents) AS BIGINT) AS week_cents
         |       FROM wv JOIN f USING (u) GROUP BY 1, 2),
         |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
         |       FROM f GROUP BY 1)
         |SELECT bo.cohort_week, bo.week_offset, bo.week_cents,
         |  CAST(sum(bo.week_cents) OVER (PARTITION BY bo.cohort_week
         |    ORDER BY bo.week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS cum_cents,
         |  sz.cohort_size,
         |  CAST(CAST(sum(bo.week_cents) OVER (PARTITION BY bo.cohort_week
         |    ORDER BY bo.week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    // greatest(sz.cohort_size, 1) AS BIGINT) AS ltv_cents_per_user
         |FROM bo JOIN sz USING (cohort_week)
         |ORDER BY cohort_week, week_offset""".stripMargin

    /** Twin of q216_transition_dwell: same (ts, id)-ordered lead
      * pairs, gap seconds, quantile_cont ≡ percentile parity (q140).
      */
    def transitionDwellSql: String =
      s"""WITH s AS (SELECT user_id AS u, event_type AS a, ts, event_id AS id
         |           FROM events),
         |p AS (SELECT a,
         |        lead(a) OVER (PARTITION BY u ORDER BY ts, id) AS b,
         |        CAST(date_diff('second', ts,
         |          lead(ts) OVER (PARTITION BY u ORDER BY ts, id))
         |          AS BIGINT) AS gap
         |      FROM s)
         |SELECT a AS from_type, b AS to_type,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(min(gap) AS BIGINT) AS min_sec,
         |  quantile_cont(gap, 0.5) AS median_sec,
         |  quantile_cont(gap, 0.9) AS p90_sec,
         |  CAST(max(gap) AS BIGINT) AS max_sec
         |FROM p WHERE b IS NOT NULL
         |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

    /** Twin of q217_scd2_intervals: same (ts, id)-ordered change
      * flags, run cumsum, per-run min, lead() validity chaining.
      * `where` narrows the change stream (q224 builds the dimension
      * from the odd-id half only).
      */
    def scd2IntervalsSql(where: String = ""): String =
      s"""WITH s AS (SELECT user_id AS k, event_type AS v, ts,
         |             event_id AS id FROM events $where),
         |m AS (SELECT k, v, ts, id,
         |        CASE WHEN lag(v) OVER (PARTITION BY k ORDER BY ts, id)
         |          IS NULL OR lag(v) OVER (PARTITION BY k ORDER BY ts, id)
         |          <> v THEN 1 ELSE 0 END AS chg
         |      FROM s),
         |r AS (SELECT k, v, ts,
         |        sum(chg) OVER (PARTITION BY k ORDER BY ts, id
         |          ROWS UNBOUNDED PRECEDING) AS run
         |      FROM m),
         |g AS (SELECT k, run, min(v) AS v, min(ts) AS valid_from
         |      FROM r GROUP BY 1, 2)
         |SELECT k AS user_id, v AS event_type, valid_from,
         |  lead(valid_from) OVER (PARTITION BY k ORDER BY run) AS valid_to,
         |  (lead(valid_from) OVER (PARTITION BY k ORDER BY run) IS NULL)
         |    AS is_current
         |FROM g ORDER BY user_id, valid_from, event_type""".stripMargin

    /** Twin of q218_fleiss_kappa: same three raters (truth, the NB
      * twin, the langid twin), same unpivot and exact rational.
      */
    def fleissKappaSql: String =
      s"""WITH nbp AS ($nbClassifierSql),
         |lp AS (SELECT * FROM ($langIdSql) WHERE doc_id % 5 = 0),
         |j AS (SELECT nbp.doc_id, nbp.lang, nbp.pred, lp.lang_pred
         |      FROM nbp JOIN lp USING (doc_id)),
         |tg AS (SELECT doc_id AS i, lang AS cat FROM j
         |       UNION ALL SELECT doc_id, pred FROM j
         |       UNION ALL SELECT doc_id, lang_pred FROM j),
         |nij AS (SELECT i, cat, CAST(count(*) AS BIGINT) AS nij FROM tg
         |        GROUP BY 1, 2),
         |a AS (SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS a,
         |        CAST(count(DISTINCT i) AS BIGINT) AS n FROM nij),
         |cj AS (SELECT cat, CAST(sum(nij) AS BIGINT) AS cj FROM nij
         |       GROUP BY 1),
         |sr AS (SELECT CAST(sum(CAST(cj AS HUGEINT) * cj) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS n_cats FROM cj)
         |SELECT a.n AS n_items, sr.n_cats, a.a AS a_sum, sr.s AS s_sum,
         |  CAST((1000 * (CAST(a.a AS HUGEINT) * a.n * 9
         |    - CAST(sr.s AS HUGEINT) * 6)) //
         |    (6 * (CAST(a.n AS HUGEINT) * a.n * 9 - sr.s)) AS BIGINT)
         |    AS kappa_x1000
         |FROM a CROSS JOIN sr""".stripMargin

    /** Twin of q219_hill_tail: same top-51 TakeOrdered cut, the
      * IDENTICAL Mitchell log sum, ln 2 as 693147/10⁶.
      */
    def hillTailSql: String = {
      val lc = graft.ops.TextStats.log2E8Sql("c", divOp = "//")
      val lx = graft.ops.TextStats.log2E8Sql("xk1", divOp = "//")
      s"""WITH wd AS (SELECT ${tokensE("text")} AS w FROM documents),
         |cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM
         |          (SELECT unnest(w) AS t FROM wd) GROUP BY 1),
         |top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 51),
         |xr AS (SELECT CAST(min(c) AS BIGINT) AS xk1 FROM top),
         |tt AS (SELECT CAST(sum($lc - $lx) AS BIGINT) AS t_e8,
         |         min(xk1) AS x_kplus1
         |       FROM top CROSS JOIN xr)
         |SELECT CAST(50 AS BIGINT) AS k, x_kplus1, t_e8,
         |  CAST(${8L * 50 * 1000000000L} // (693147 * greatest(t_e8, 1))
         |    AS BIGINT) AS alpha_x1000
         |FROM tt""".stripMargin
    }

    /** Twin of q156_data_expectations: evaluates the LITERAL same
      * predicate strings ([[Queries.LineitemChecks]]) in one
      * conditional-sum scan, plus the distinct-key uniqueness branch.
      */
    def dataExpectationsSql: String = {
      val checks = Queries.LineitemChecks
      val sums = checks.zipWithIndex.map { case ((_, p), i) =>
        s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS p$i"
      }.mkString(",\n|    ")
      val branches = checks.zipWithIndex.map { case ((name, _), i) =>
        s"""SELECT '$name' AS "check", n AS n_rows, p$i AS n_pass,
           |    CAST((1000 * p$i) // greatest(n, 1) AS BIGINT) AS pass_x1000,
           |    ((1000 * p$i) // greatest(n, 1) >= 1000) AS passed FROM a"""
          .stripMargin
      }.mkString("\n|  UNION ALL ")
      s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    $sums
         |  FROM lineitem),
         |u AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d
         |      FROM (SELECT count(*) AS c FROM lineitem
         |            GROUP BY l_orderkey, l_linenumber))
         |SELECT * FROM (
         |  $branches
         |  UNION ALL SELECT 'pk_unique', n, d,
         |    CAST((1000 * d) // greatest(n, 1) AS BIGINT),
         |    ((1000 * d) // greatest(n, 1) >= 1000) FROM u)
         |ORDER BY "check"""".stripMargin
    }

    /** Twin of q157_ref_integrity: per FK edge, the same
      * child-key-count ⟗ distinct-parent full join and one-row
      * classification aggregate.
      */
    def refIntegritySql: String = {
      val edges = Seq(
        ("customer.nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"))
      val branches = edges.map { case (name, ct, ck, pt, pk) =>
        s"""SELECT '$name' AS relation,
           |    CAST(coalesce(sum(cn), 0) AS BIGINT) AS n_child,
           |    CAST(coalesce(sum(CASE WHEN isp IS NULL THEN cn END), 0)
           |      AS BIGINT) AS n_orphans,
           |    CAST(count(isp) AS BIGINT) AS n_parents,
           |    CAST(count(CASE WHEN isp IS NOT NULL AND cn IS NOT NULL
           |      THEN 1 END) AS BIGINT) AS n_referenced
           |  FROM (SELECT CAST($ck AS BIGINT) AS k,
           |          CAST(count(*) AS BIGINT) AS cn
           |        FROM $ct WHERE $ck IS NOT NULL GROUP BY 1) c
           |  FULL JOIN (SELECT DISTINCT CAST($pk AS BIGINT) AS k, 1 AS isp
           |             FROM $pt) p USING (k)""".stripMargin
      }.mkString("\n|  UNION ALL ")
      s"""SELECT relation, n_child, n_orphans,
         |  CAST((1000 * n_orphans) // greatest(n_child, 1) AS BIGINT)
         |    AS orphan_x1000,
         |  n_parents, n_referenced,
         |  CAST((1000 * n_referenced) // greatest(n_parents, 1) AS BIGINT)
         |    AS coverage_x1000
         |FROM (
         |  $branches)
         |ORDER BY relation""".stripMargin
    }

    /** Twin of q158_snapshot_diff: the same derived snapshot B
      * (drops % 13, '+ edited' % 7, re-keyed adds % 11), one full
      * join, the same null-safe column comparison, class counts.
      */
    def snapshotDiffSql: String =
      s"""WITH a AS (SELECT doc_id, text, lang, source FROM documents),
         |b AS (SELECT doc_id,
         |        CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
         |             ELSE text END AS text, lang, source
         |      FROM documents WHERE doc_id % 13 <> 0
         |      UNION ALL
         |      SELECT doc_id + 10000000, text, lang, source
         |      FROM documents WHERE doc_id % 11 = 0),
         |j AS (SELECT
         |        CASE WHEN a.doc_id IS NULL THEN 'added'
         |             WHEN b.doc_id IS NULL THEN 'removed'
         |             WHEN a.text IS DISTINCT FROM b.text
         |               OR a.lang IS DISTINCT FROM b.lang
         |               OR a.source IS DISTINCT FROM b.source THEN 'changed'
         |             ELSE 'unchanged' END AS diff_status
         |      FROM a FULL JOIN b ON a.doc_id = b.doc_id)
         |SELECT diff_status, CAST(count(*) AS BIGINT) AS n_keys
         |FROM j GROUP BY 1 ORDER BY diff_status""".stripMargin

    /** Twin of q161_word_triangles: the NAIVE a<b<c triple join over
      * the same canonical distinct edge set — the degree-ordered
      * orientation on the Spark side is a physical strategy, not a
      * semantic change, so both sides count identical triangles.
      */
    def wordTrianglesSql: String =
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT unnest(${shinglesE("w", 2)}) AS bg FROM wd
         |        WHERE len(w) >= 2),
         |bgp AS (SELECT split_part(bg, ' ', 1) AS w1,
         |          split_part(bg, ' ', 2) AS w2 FROM bgl),
         |ed AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
         |       FROM bgp WHERE w1 <> w2),
         |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |         SELECT a AS node FROM ed
         |         UNION ALL SELECT b AS node FROM ed) GROUP BY 1),
         |tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |       FROM ed e1 JOIN ed e2 ON e2.a = e1.b
         |       JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
         |         SELECT x AS node FROM tr
         |         UNION ALL SELECT y AS node FROM tr
         |         UNION ALL SELECT z AS node FROM tr) GROUP BY 1)
         |SELECT dg.node AS word, dg.degree,
         |  CAST(coalesce(tn.triangles, 0) AS BIGINT) AS triangles,
         |  CASE WHEN dg.degree >= 2
         |    THEN CAST((2000 * coalesce(tn.triangles, 0))
         |      // (dg.degree * (dg.degree - 1)) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS cc_x1000
         |FROM dg LEFT JOIN tn ON tn.node = dg.node
         |ORDER BY word""".stripMargin

    /** Twin of q162_assoc_rules: same distinct (user, day, type)
      * baskets, same pair self-join and count tables, same integer
      * support/confidence/lift through HUGEINT.
      */
    def assocRulesSql: String =
      s"""WITH it AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d,
         |              event_type AS itm FROM events),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM (
         |        SELECT DISTINCT u, d FROM it)),
         |nx AS (SELECT itm AS x, CAST(count(*) AS BIGINT) AS n_x FROM it
         |       GROUP BY 1),
         |p AS (SELECT i1.itm AS x, i2.itm AS y,
         |        CAST(count(*) AS BIGINT) AS n_xy
         |      FROM it i1 JOIN it i2
         |        ON i1.u = i2.u AND i1.d = i2.d AND i1.itm <> i2.itm
         |      GROUP BY 1, 2)
         |SELECT p.x, p.y, p.n_xy, nx.n_x, ny.n_x AS n_y,
         |  CAST((1000 * p.n_xy) // b.nb AS BIGINT) AS support_x1000,
         |  CAST((1000 * p.n_xy) // nx.n_x AS BIGINT) AS confidence_x1000,
         |  CAST((CAST(p.n_xy AS HUGEINT) * 1000 * b.nb)
         |    // (CAST(nx.n_x AS HUGEINT) * ny.n_x) AS BIGINT) AS lift_x1000
         |FROM p JOIN nx ON nx.x = p.x JOIN nx ny ON ny.x = p.y CROSS JOIN b
         |ORDER BY p.x, p.y""".stripMargin

    /** Twin of q164_join_amplification: same per-key count tables and
      * products; ranking via a row_number window with the identical
      * (out_rows DESC, key ASC) order the bounded-heap TopK uses.
      */
    def joinAmplificationSql: String =
      s"""WITH cl AS (SELECT CAST(l_partkey AS BIGINT) AS key,
         |              CAST(count(*) AS BIGINT) AS n_left
         |            FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
         |amp AS (SELECT a.key, a.n_left, b.n_left AS n_right,
         |          a.n_left * b.n_left AS out_rows
         |        FROM cl a JOIN cl b ON a.key = b.key),
         |t AS (SELECT CAST(sum(out_rows) AS BIGINT) AS total FROM amp),
         |r AS (SELECT key, n_left, n_right, out_rows,
         |        row_number() OVER (ORDER BY out_rows DESC, key) AS "rank"
         |      FROM amp)
         |SELECT r.key, r.n_left, r.n_right,
         |  CAST(r.out_rows AS BIGINT) AS out_rows,
         |  CAST((1000 * r.out_rows) // greatest(t.total, 1) AS BIGINT)
         |    AS share_x1000,
         |  CAST(r."rank" AS BIGINT) AS "rank"
         |FROM r CROSS JOIN t WHERE r."rank" <= 10 ORDER BY "rank"""".stripMargin

    /** Twin of q165_heaps_curve: same fixed-bucket assignment off the
      * broadcast max id, same (bucket, word) reduction, same
      * first-bucket vocabulary attribution and bounded cumsum.
      */
    def heapsCurveSql: String =
      s"""WITH m AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
         |tk AS (SELECT CAST(least(19, (doc_id * 20) // (m.mx + 1)) AS BIGINT)
         |         AS bucket, unnest(${tokensE("text")}) AS t
         |       FROM documents CROSS JOIN m),
         |bw AS (SELECT bucket, t, CAST(count(*) AS BIGINT) AS c FROM tk
         |       GROUP BY 1, 2),
         |tc AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_tokens FROM bw
         |       GROUP BY 1),
         |nw AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new_words
         |       FROM (SELECT t, min(bucket) AS fb FROM bw GROUP BY 1)
         |       GROUP BY 1)
         |SELECT tc.bucket, tc.n_tokens,
         |  CAST(coalesce(nw.n_new_words, 0) AS BIGINT) AS n_new_words,
         |  CAST(SUM(tc.n_tokens) OVER (ORDER BY tc.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS tokens_cum,
         |  CAST(SUM(coalesce(nw.n_new_words, 0)) OVER (ORDER BY tc.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS vocab_cum
         |FROM tc LEFT JOIN nw ON nw.bucket = tc.bucket
         |ORDER BY tc.bucket""".stripMargin

    /** Twin of q169_psi_baseline: same even/odd split, same
      * per-group union bin set, Laplace ppm through HUGEINT, and the
      * identical Mitchell eighth-bit term chain as the q155 twin.
      */
    def psiBaselineSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH bl AS (SELECT CAST(n_chars // 50 AS BIGINT) AS bin,
         |              CAST(count(*) AS BIGINT) AS bc
         |            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |btt AS (SELECT CAST(sum(bc) AS BIGINT) AS bt FROM bl),
         |sh AS (SELECT source AS g, CAST(n_chars // 50 AS BIGINT) AS bin,
         |         CAST(count(*) AS BIGINT) AS sc
         |       FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2),
         |st AS (SELECT g, CAST(sum(sc) AS BIGINT) AS st FROM sh GROUP BY 1),
         |grid AS (SELECT DISTINCT g, bin FROM (
         |           SELECT g, bin FROM sh
         |           UNION ALL SELECT st.g, bl.bin FROM st CROSS JOIN bl)),
         |nbt AS (SELECT g, CAST(count(*) AS BIGINT) AS nb FROM grid
         |        GROUP BY 1),
         |pq AS (SELECT grid.g, st.st,
         |         greatest(CAST((CAST(coalesce(sh.sc, 0) + 1 AS HUGEINT)
         |           * 1000000) // (st.st + nbt.nb) AS BIGINT),
         |           CAST(1 AS BIGINT)) AS p_ppm,
         |         greatest(CAST((CAST(coalesce(bl.bc, 0) + 1 AS HUGEINT)
         |           * 1000000) // (btt.bt + nbt.nb) AS BIGINT),
         |           CAST(1 AS BIGINT)) AS q_ppm
         |       FROM grid
         |       LEFT JOIN sh ON sh.g = grid.g AND sh.bin = grid.bin
         |       LEFT JOIN bl ON bl.bin = grid.bin
         |       JOIN st ON st.g = grid.g JOIN nbt ON nbt.g = grid.g
         |       CROSS JOIN btt),
         |tm AS (SELECT g, st,
         |         abs(p_ppm - q_ppm) * ($m8 - ${8 * shift}) AS term
         |       FROM (SELECT g, st, p_ppm, q_ppm,
         |               CAST((greatest(p_ppm, q_ppm) * ${1L << shift})
         |                 // least(p_ppm, q_ppm) AS BIGINT) AS q
         |             FROM pq))
         |SELECT g AS source, st AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(term) AS BIGINT) AS psi_e8_ppm
         |FROM tm GROUP BY 1, 2 ORDER BY source""".stripMargin
    }

    /** Twin of q170_zipf_report: same word counts, (cnt DESC, word)
      * ranking, Mitchell e8 log over cnt·2²⁰, and lead-drop over the
      * top-(k+1) rows.
      */
    def zipfReportSql: String = {
      val m8 = graft.ops.TextStats.mitchellE8Sql(
        s"(cnt * ${1L << graft.ops.TextStats.LmShift})", divOp = "//")
      s"""WITH tk AS (SELECT unnest(${tokensE("text")}) AS t FROM documents),
         |c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tk
         |      WHERE t <> '' GROUP BY 1),
         |r AS (SELECT t AS word, cnt,
         |        CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT)
         |          AS "rank"
         |      FROM c),
         |top AS (SELECT word, cnt, "rank", ($m8) AS m FROM r
         |        WHERE "rank" <= 21)
         |SELECT "rank", word, cnt, drop_e8 FROM (
         |  SELECT "rank", word, cnt,
         |    CAST(m - lead(m) OVER (ORDER BY "rank") AS BIGINT) AS drop_e8
         |  FROM top)
         |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin
    }

    /** Twin of q150_exact_decontam: the plain exact bipartite Jaccard
      * join over the same hashed 3-shingle sets — the two-sided prefix
      * blocking is a Spark physical strategy, not a semantic change.
      */
    def exactDecontamSql: String =
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shx AS (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl),
         |sh AS (SELECT id, list_distinct(list(${duckHash61("s")})) AS ts
         |       FROM shx GROUP BY id),
         |s AS (SELECT id, ts, CAST(len(ts) AS BIGINT) AS n FROM sh
         |      WHERE len(ts) >= 1),
         |r AS (SELECT id, ts, n FROM s WHERE id % 50 = 0),
         |pr AS (SELECT a.id AS id, b.id AS ref_id,
         |         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
         |         a.n AS n_a, b.n AS n_b
         |       FROM s a CROSS JOIN r b)
         |SELECT id, ref_id, n_inter, n_a, n_b,
         |  CAST((1000 * n_inter) // (n_a + n_b - n_inter) AS BIGINT)
         |    AS jaccard_x1000
         |FROM pr WHERE 1000 * n_inter >= 600 * (n_a + n_b - n_inter)
         |ORDER BY id, ref_id""".stripMargin

    /** Twin of q192_cbor_decode: the record is a pure function of
      * doc_id, so the twin restates every decoded field — including
      * the full JSON rendering, character for character — from the
      * closed form the fixture encoder used.
      */
    def cborDecodeSql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 1 AS n,
         |        doc_id % 4 + 1 AS ntags FROM documents),
         |r AS (SELECT doc_id, n, CAST(ntags AS BIGINT) AS n_tags,
         |        'rec-' || CAST(doc_id AS VARCHAR) AS name,
         |        doc_id % 2 = 0 AS ok,
         |        array_to_string(['"t' || CAST((doc_id + i) % 7 AS VARCHAR)
         |          || '"' for i in range(0, ntags)], ',') AS tagjson
         |      FROM base)
         |SELECT doc_id, doc_id AS id_field, CAST(n AS BIGINT) AS n_field,
         |  n_tags, name, ok,
         |  '{"id":' || CAST(doc_id AS VARCHAR) || ',"n":' ||
         |    CAST(n AS VARCHAR) || ',"tags":[' || tagjson || '],"name":"' ||
         |    name || '","ok":' || CASE WHEN ok THEN 'true' ELSE 'false' END
         |    || '}' AS json
         |FROM r ORDER BY doc_id""".stripMargin

    /** Twin of q187_heavy_changers: same per-half counts, ppm rates
      * and |Δppm| ranking (window where Spark uses the bounded heap).
      */
    def heavyChangersSql: String =
      s"""WITH wa AS (SELECT unnest(${tokensE("text")}) AS w FROM documents
         |            WHERE doc_id % 2 = 0),
         |ca AS (SELECT w, CAST(count(*) AS BIGINT) AS c_a FROM wa GROUP BY w),
         |wb AS (SELECT unnest(${tokensE("text")}) AS w FROM documents
         |       WHERE doc_id % 2 = 1),
         |cb AS (SELECT w, CAST(count(*) AS BIGINT) AS c_b FROM wb GROUP BY w),
         |tot AS (SELECT (SELECT CAST(sum(c_a) AS BIGINT) FROM ca) AS ta,
         |               (SELECT CAST(sum(c_b) AS BIGINT) FROM cb) AS tb),
         |m AS (SELECT coalesce(ca.w, cb.w) AS word,
         |        coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
         |      FROM ca FULL JOIN cb ON ca.w = cb.w),
         |r AS (SELECT word, c_a, c_b,
         |        CAST((CAST(c_a AS HUGEINT) * 1000000) // greatest(ta, 1)
         |          AS BIGINT) AS ppm_a,
         |        CAST((CAST(c_b AS HUGEINT) * 1000000) // greatest(tb, 1)
         |          AS BIGINT) AS ppm_b
         |      FROM m CROSS JOIN tot),
         |dd AS (SELECT word, c_a, c_b, ppm_a, ppm_b,
         |         ppm_a - ppm_b AS delta_ppm FROM r),
         |rk AS (SELECT *, CAST(row_number() OVER (
         |         ORDER BY abs(delta_ppm) DESC, word, c_a, c_b, ppm_a,
         |           ppm_b, delta_ppm) AS BIGINT) AS rn
         |       FROM dd)
         |SELECT rn, word, c_a, c_b, ppm_a, ppm_b, delta_ppm
         |FROM rk WHERE rn <= 25 ORDER BY rn""".stripMargin

    /** Twin of q188_burstiness: same hour bins over the full span
      * grid with zero fills, same integer VMR.
      */
    def burstinessSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
         |c AS (SELECT et, h, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, h),
         |hrs AS (SELECT DISTINCT h FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, hrs.h, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN hrs
         |      LEFT JOIN c ON c.et = ets.et AND c.h = hrs.h),
         |a AS (SELECT et, CAST(count(*) AS BIGINT) AS n_hours,
         |        CAST(sum(x) AS BIGINT) AS n_events,
         |        sum(CAST(x AS HUGEINT) * x) AS sq
         |      FROM g GROUP BY et)
         |SELECT et AS event_type, n_hours, n_events,
         |  CAST((1000 * (n_hours * sq - CAST(n_events AS HUGEINT) * n_events))
         |    // greatest(n_hours * CAST(n_events AS HUGEINT), 1) AS BIGINT)
         |    AS vmr_x1000
         |FROM a ORDER BY event_type""".stripMargin

    /** Twin of q189_length_gini: same 32-token buckets, same exact
      * grouped-data Gini (individuals share the bucket lower bound;
      * rank mass folds per bucket).
      */
    def lengthGiniSql: String =
      s"""WITH v AS (SELECT CAST((len(${tokensE("text")}) // 32) * 32
         |             AS BIGINT) AS v FROM documents),
         |bk AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY v),
         |cp AS (SELECT v, n, CAST(coalesce(sum(n) OVER (ORDER BY v
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         AS BIGINT) AS cprev FROM bk),
         |a AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         |        sum(CAST(v AS HUGEINT) * n) AS s_mass,
         |        sum(CAST(v AS HUGEINT) * (n * cprev + (n * (n + 1)) // 2))
         |          AS rank_mass
         |      FROM cp)
         |SELECT n_rows, CAST(s_mass AS BIGINT) AS total_mass,
         |  CAST((1000 * (2 * rank_mass - (n_rows + 1) * s_mass)) //
         |    greatest(n_rows * s_mass, 1) AS BIGINT) AS gini_x1000
         |FROM a""".stripMargin

    /** Twin of q190_token_entropy: same counts, same eighth-bit log
      * decomposition H = Σ c·(L(t) − L(c)) scaled to micro-bits.
      */
    def tokenEntropySql: String = {
      val lt = graft.ops.TextStats.log2E8Sql("t", divOp = "//")
      val lc = graft.ops.TextStats.log2E8Sql("c", divOp = "//")
      s"""WITH tk AS (SELECT lang AS g, unnest(${tokensE("text")}) AS w
         |      FROM documents),
         |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
         |      FROM tk GROUP BY g, w),
         |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS t,
         |          CAST(count(*) AS BIGINT) AS n_distinct FROM c GROUP BY g),
         |tm AS (SELECT c.g, c.c * ($lt - $lc) AS term, tot.t, tot.n_distinct
         |       FROM c JOIN tot USING (g)),
         |a AS (SELECT g, CAST(max(t) AS BIGINT) AS n_tokens,
         |        CAST(max(n_distinct) AS BIGINT) AS n_distinct,
         |        CAST(sum(term) AS BIGINT) AS s FROM tm GROUP BY g)
         |SELECT g AS lang, n_tokens, n_distinct,
         |  CAST((CAST(1000000 AS HUGEINT) * s) // (8 * n_tokens) AS BIGINT)
         |    AS entropy_bits_x1e6
         |FROM a ORDER BY lang""".stripMargin
    }

    /** Twin of q185_js_divergence: same (lang, word) counts, pair
      * grid over the union vocabulary via FULL JOIN, same smoothed
      * ppm clamps, and the same JSD term
      * ([[graft.ops.Profile.jsdTermSql]]; the Spark plan computes it
      * with the native Mitchell log).
      */
    def jsDivergenceSql: String = {
      val term = graft.ops.Profile.jsdTermSql()
      s"""WITH tk AS (SELECT lang AS g, unnest(${tokensE("text")}) AS w
         |      FROM documents),
         |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS cnt
         |      FROM tk GROUP BY g, w),
         |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS t FROM c GROUP BY g),
         |pr AS (SELECT a.g AS ga, b.g AS gb FROM tot a JOIN tot b
         |       ON a.g < b.g),
         |la AS (SELECT pr.ga, pr.gb, c.w, c.cnt AS ca FROM pr
         |       JOIN c ON c.g = pr.ga),
         |lb AS (SELECT pr.ga, pr.gb, c.w, c.cnt AS cb FROM pr
         |       JOIN c ON c.g = pr.gb),
         |grid AS (SELECT coalesce(la.ga, lb.ga) AS ga,
         |           coalesce(la.gb, lb.gb) AS gb,
         |           coalesce(la.w, lb.w) AS w,
         |           coalesce(la.ca, 0) AS ca, coalesce(lb.cb, 0) AS cb
         |         FROM la FULL JOIN lb
         |           ON la.ga = lb.ga AND la.gb = lb.gb AND la.w = lb.w),
         |nu AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS nu
         |       FROM grid GROUP BY ga, gb),
         |sm AS (SELECT g.ga, g.gb, n.nu,
         |         greatest(CAST((CAST(g.ca + 1 AS HUGEINT) * 1000000) //
         |           (ta.t + n.nu) AS BIGINT), 1) AS p_ppm,
         |         greatest(CAST((CAST(g.cb + 1 AS HUGEINT) * 1000000) //
         |           (tb.t + n.nu) AS BIGINT), 1) AS q_ppm
         |       FROM grid g JOIN nu n USING (ga, gb)
         |       JOIN tot ta ON ta.g = g.ga
         |       JOIN tot tb ON tb.g = g.gb),
         |agg AS (SELECT ga, gb, CAST(max(nu) AS BIGINT) AS n_words,
         |          CAST(sum($term) AS BIGINT) AS s
         |        FROM sm GROUP BY ga, gb)
         |SELECT ga AS lang_a, gb AS lang_b, n_words,
         |  CAST((s // 2) // 8 AS BIGINT) AS jsd_bits_x1e6
         |FROM agg
         |ORDER BY lang_a, lang_b""".stripMargin
    }

    /** Twin of q182_distinct_ngrams: same per-lang total/distinct
      * gram counts off the shared token/shingle emitters, same
      * per-mille ratios.
      */
    def distinctNgramsSql: String =
      s"""WITH wl AS (SELECT lang, ${tokensE("text")} AS w FROM documents),
         |u AS (SELECT lang, unnest(w) AS t FROM wl),
         |bg AS (SELECT lang, unnest(${shinglesE("w", 2)}) AS t FROM wl),
         |u1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_unigrams,
         |         CAST(count(DISTINCT t) AS BIGINT) AS n_distinct_1
         |       FROM u GROUP BY lang),
         |b1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(count(DISTINCT t) AS BIGINT) AS n_distinct_2
         |       FROM bg GROUP BY lang)
         |SELECT lang, n_unigrams, n_distinct_1,
         |  CAST((1000 * n_distinct_1) // greatest(n_unigrams, 1) AS BIGINT)
         |    AS distinct1_x1000,
         |  n_bigrams, n_distinct_2,
         |  CAST((1000 * n_distinct_2) // greatest(n_bigrams, 1) AS BIGINT)
         |    AS distinct2_x1000
         |FROM u1 JOIN b1 USING (lang)
         |ORDER BY lang""".stripMargin

    /** Twin of q183_bayesian_rates: same per-user click/view counts,
      * same broadcast global prior and α=20 shrinkage arithmetic.
      */
    def bayesianRatesSql: String =
      s"""WITH per AS (SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_trials,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_success
         |  FROM events GROUP BY user_id),
         |p AS (SELECT CAST((1000 * sum(n_success)) //
         |        greatest(sum(n_trials), 1) AS BIGINT) AS p0_x1000 FROM per)
         |SELECT per.user_id, n_trials, n_success,
         |  CAST((1000 * n_success) // greatest(n_trials, 1) AS BIGINT)
         |    AS raw_x1000,
         |  p0_x1000,
         |  CAST((1000 * n_success + 20 * p0_x1000) // (n_trials + 20)
         |    AS BIGINT) AS smoothed_x1000
         |FROM per CROSS JOIN p
         |ORDER BY user_id""".stripMargin

    /** Twin of q184_uncertainty_sample: the q114 NB chain, then the
      * lowest-margin 10 per predicted class via a window where Spark
      * uses the bounded heap on the negated margin.
      */
    def uncertaintySampleSql: String =
      s"""WITH sc AS ($nbClassifierSql),
         |r AS (SELECT pred, doc_id, margin_e8, s_e8,
         |        CAST(row_number() OVER (PARTITION BY pred
         |          ORDER BY margin_e8 ASC, doc_id) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT pred, rn, doc_id, margin_e8, s_e8
         |FROM r WHERE rn <= 10
         |ORDER BY pred, rn""".stripMargin

    /** Twin of q181_discriminative_words: same per-doc-distinct
      * document frequencies, the same G² sum
      * ([[graft.ops.TextStats.dunningG2Sql]]; the Spark plan computes
      * it with the native Mitchell log), ranked by a per-class window
      * where Spark uses the bounded heap.
      */
    def discriminativeWordsSql: String = {
      val g2 = graft.ops.TextStats.dunningG2Sql()
      s"""WITH tk AS (SELECT lang, doc_id,
         |        unnest(list_distinct(${tokensE("text")})) AS word
         |      FROM documents),
         |n11t AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS n11
         |         FROM tk GROUP BY lang, word),
         |dft AS (SELECT word, CAST(sum(n11) AS BIGINT) AS df
         |        FROM n11t GROUP BY word),
         |nc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_class
         |       FROM documents GROUP BY lang),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         |sc AS (SELECT t.lang, t.word, t.n11, d.df, c.n_class, n.n_total,
         |         $g2 AS g2_e8
         |       FROM n11t t JOIN dft d USING (word)
         |       JOIN nc c USING (lang) CROSS JOIN nt n),
         |rk AS (SELECT lang, word, n11, df, n_class, g2_e8,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY g2_e8 DESC, word, n11, df, n_class) AS BIGINT)
         |           AS rn
         |       FROM sc)
         |SELECT lang, rn, word, n11, df, n_class, g2_e8
         |FROM rk WHERE rn <= 10
         |ORDER BY lang, rn""".stripMargin
    }

    /** Twin of q179_classification_report: the q114 NB scoring chain
      * as a CTE, then the three label-keyed counts and the same exact
      * integer precision/recall/F1 arithmetic (full join keeps
      * truth-only and prediction-only classes).
      */
    def classificationReportSql: String =
      s"""WITH scored AS ($nbClassifierSql),
         |t AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_true
         |      FROM scored GROUP BY 1),
         |p AS (SELECT pred AS label, CAST(count(*) AS BIGINT) AS n_pred
         |      FROM scored GROUP BY 1),
         |dg AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS tp
         |       FROM scored WHERE lang = pred GROUP BY 1)
         |SELECT label,
         |  CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
         |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         |  CAST((1000 * coalesce(tp, 0)) // greatest(coalesce(n_pred, 0), 1)
         |    AS BIGINT) AS precision_x1000,
         |  CAST((1000 * coalesce(tp, 0)) // greatest(coalesce(n_true, 0), 1)
         |    AS BIGINT) AS recall_x1000,
         |  CAST((2000 * coalesce(tp, 0)) //
         |    greatest(coalesce(n_pred, 0) + coalesce(n_true, 0), 1)
         |    AS BIGINT) AS f1_x1000
         |FROM t FULL JOIN p USING (label) LEFT JOIN dg USING (label)
         |ORDER BY label""".stripMargin

    /** Twin of q180_cohens_kappa: NB predictions (q114 chain) joined
      * with the heuristic langid (q32 chain, filtered to the holdout
      * slice), κ via the same (A·N − S)/(N² − S) integer reduction
      * through HUGEINT.
      */
    def cohensKappaSql: String =
      s"""WITH nbp AS ($nbClassifierSql),
         |lp AS (SELECT * FROM ($langIdSql) WHERE doc_id % 5 = 0),
         |j AS (SELECT nbp.pred AS a, lp.lang_pred AS b
         |      FROM nbp JOIN lp USING (doc_id)),
         |na AS (SELECT a AS label, CAST(count(*) AS BIGINT) AS ca
         |       FROM j GROUP BY 1),
         |nbt AS (SELECT b AS label, CAST(count(*) AS BIGINT) AS cb
         |        FROM j GROUP BY 1),
         |s AS (SELECT sum(CAST(ca AS HUGEINT) * cb) AS s_prod
         |      FROM na JOIN nbt USING (label)),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |           CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
         |             AS n_agree FROM j)
         |SELECT n, n_agree,
         |  CAST((1000 * (CAST(n_agree AS HUGEINT) * n - s_prod)) //
         |    greatest(CAST(n AS HUGEINT) * n - s_prod, 1) AS BIGINT)
         |    AS kappa_x1000
         |FROM base CROSS JOIN s""".stripMargin

    /** Twin of q295_krippendorff: the q180 labeler CTEs, α via the
      * pooled-marginal coincidence reduction (Do_num = 2·disagree,
      * De_num = n² − Σn_c²) through HUGEINT.
      */
    def krippendorffSql: String =
      s"""WITH nbp AS ($nbClassifierSql),
         |lp AS (SELECT * FROM ($langIdSql) WHERE doc_id % 5 = 0),
         |j AS (SELECT nbp.pred AS a, lp.lang_pred AS b
         |      FROM nbp JOIN lp USING (doc_id)),
         |r AS (SELECT a AS label FROM j UNION ALL SELECT b FROM j),
         |m AS (SELECT label, CAST(count(*) AS BIGINT) AS c
         |      FROM r GROUP BY 1),
         |s AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |        sum(CAST(c AS HUGEINT) * c) AS s2 FROM m),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
         |           CAST(sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT)
         |             AS n_disagree FROM j)
         |SELECT n_units, n_disagree, n AS n_ratings,
         |  CAST(1000000 - (1000000 * (n - 1) *
         |    CAST(2 * n_disagree AS HUGEINT)) //
         |    greatest(CAST(n AS HUGEINT) * n - s2, 1) AS BIGINT)
         |    AS alpha_ppm
         |FROM base CROSS JOIN s""".stripMargin

    /** Twin of q178_bbit_minhash: the same 30 multiply-add minhashes
      * (shared duckHashAt emitters), but slot matches counted by
      * DIRECT per-slot `h_a % 4 = h_b % 4` equality where the Spark
      * side packs to one long and counts via XOR + popcount — two
      * formulations of the b-bit match count, one ground truth; the
      * collision-corrected estimate and the exact list_intersect
      * Jaccard ride the same integer arithmetic as the engine.
      */
    def bbitMinhashSql: String = {
      val sigCols = (0 until 30).map(k =>
        s"min(${duckHashAt("x", k)}) AS h$k").mkString(", ")
      val eq = (0 until 30).map(i =>
        s"(CASE WHEN a.h$i % 4 = b.h$i % 4 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shx AS (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl),
         |xp AS (SELECT id, ${duckHash61("s")} AS x FROM shx),
         |sig AS (SELECT id, $sigCols FROM xp GROUP BY id),
         |sets AS (SELECT id, list_distinct(list(x)) AS ts FROM xp GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b FROM wl a
         |          JOIN wl b ON b.id = a.id + 1 WHERE a.id % 2 = 0),
         |m AS (SELECT p.id_a, p.id_b, CAST($eq AS BIGINT) AS m_matches
         |      FROM pairs p JOIN sig a ON a.id = p.id_a
         |      JOIN sig b ON b.id = p.id_b),
         |e AS (SELECT p.id_a, p.id_b,
         |        CAST(len(list_intersect(sa.ts, sb.ts)) AS BIGINT) AS ni,
         |        CAST(len(sa.ts) AS BIGINT) AS na,
         |        CAST(len(sb.ts) AS BIGINT) AS nb
         |      FROM pairs p JOIN sets sa ON sa.id = p.id_a
         |      JOIN sets sb ON sb.id = p.id_b)
         |SELECT m.id_a, m.id_b, m.m_matches,
         |  CAST(greatest(0, (1000 * (4 * m.m_matches - 30)) // 90) AS BIGINT)
         |    AS j_hat_x1000,
         |  CAST((1000 * e.ni) // (e.na + e.nb - e.ni) AS BIGINT)
         |    AS jaccard_x1000
         |FROM m JOIN e USING (id_a, id_b)
         |ORDER BY id_a""".stripMargin
    }

    /** Twin of q177_stratified_sample: same proportional allocation
      * (k_s = max(1, ⌊60·n_s/N⌋)) and the same deterministic
      * membership — per-stratum row_number over (hash61(id) DESC, id)
      * where Spark uses the bounded-heap top-k; two independent
      * statements of the same ranked cut.
      */
    def stratifiedSampleSql: String =
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_s
         |           FROM documents GROUP BY lang),
         |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM c),
         |a AS (SELECT lang, n_s,
         |        CAST(greatest(1, (60 * n_s) // n_total) AS BIGINT) AS k_s
         |      FROM c CROSS JOIN t),
         |h AS (SELECT lang, doc_id,
         |        ${duckHash61("CAST(doc_id AS VARCHAR)")} AS hh
         |      FROM documents),
         |r AS (SELECT lang, doc_id, CAST(row_number() OVER (
         |        PARTITION BY lang ORDER BY hh DESC, doc_id) AS BIGINT) AS rn
         |      FROM h)
         |SELECT r.lang, r.doc_id, r.rn AS sample_rank, a.n_s, a.k_s
         |FROM r JOIN a USING (lang) WHERE r.rn <= a.k_s
         |ORDER BY lang, sample_rank""".stripMargin

    /** Twin of q269_neyman_sample: same exact HUGEINT variance
      * numerator, the floor(sqrt(DOUBLE)) weight shared VERBATIM,
      * same allocation division, and the q177 hash-rank membership.
      */
    def neymanSampleSql: String =
      s"""WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
         |        CAST(sum(length(text)) AS BIGINT) AS sv,
         |        sum(CAST(length(text) AS HUGEINT) * length(text)) AS svv
         |      FROM documents GROUP BY source),
         |w AS (SELECT source, n_s,
         |        CAST(floor(sqrt(CAST(CAST(n_s AS HUGEINT) * svv -
         |          CAST(sv AS HUGEINT) * sv AS DOUBLE))) AS BIGINT) AS w_s
         |      FROM m),
         |t AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_total FROM w),
         |a AS (SELECT source, n_s, w_s,
         |        CAST(greatest(1, (100 * w_s) // greatest(w_total, 1))
         |          AS BIGINT) AS k_s
         |      FROM w CROSS JOIN t),
         |h AS (SELECT source, doc_id,
         |        ${duckHash61("CAST(doc_id AS VARCHAR)")} AS hh
         |      FROM documents),
         |r AS (SELECT source, doc_id, CAST(row_number() OVER (
         |        PARTITION BY source ORDER BY hh DESC, doc_id) AS BIGINT)
         |          AS rn
         |      FROM h)
         |SELECT r.source, r.doc_id, r.rn AS sample_rank, a.n_s, a.w_s,
         |  a.k_s
         |FROM r JOIN a USING (source) WHERE r.rn <= a.k_s
         |ORDER BY source, sample_rank""".stripMargin

    /** Twin of q175_ngram_overlap: same candidate pairs (every 5th
      * doc vs its successor), same clipped-count BLEU arithmetic over
      * the shared token/shingle emitters — per-gram min(cnt_a, cnt_b)
      * summed, per-million precision by integer division. LEFT join
      * keeps candidate grams absent from the reference (clip 0).
      */
    def ngramOverlapSql: String =
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |c1 AS (SELECT id, g, CAST(count(*) AS BIGINT) AS c FROM
         |         (SELECT id, unnest(w) AS g FROM wl) GROUP BY id, g),
         |c2 AS (SELECT id, g, CAST(count(*) AS BIGINT) AS c FROM
         |         (SELECT id, unnest(${shinglesE("w", 2)}) AS g FROM wl)
         |       GROUP BY id, g),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b FROM wl a
         |          JOIN wl b ON b.id = a.id + 1 WHERE a.id % 5 = 0),
         |p1 AS (SELECT p.id_a, p.id_b,
         |         CAST(sum(least(a.c, coalesce(b.c, 0))) AS BIGINT) AS clip_1,
         |         CAST(sum(a.c) AS BIGINT) AS total_1
         |       FROM pairs p
         |       JOIN c1 a ON a.id = p.id_a
         |       LEFT JOIN c1 b ON b.id = p.id_b AND b.g = a.g
         |       GROUP BY 1, 2),
         |p2 AS (SELECT p.id_a, p.id_b,
         |         CAST(sum(least(a.c, coalesce(b.c, 0))) AS BIGINT) AS clip_2,
         |         CAST(sum(a.c) AS BIGINT) AS total_2
         |       FROM pairs p
         |       JOIN c2 a ON a.id = p.id_a
         |       LEFT JOIN c2 b ON b.id = p.id_b AND b.g = a.g
         |       GROUP BY 1, 2)
         |SELECT id_a, id_b, clip_1, total_1,
         |  CAST((1000000 * clip_1) // greatest(total_1, 1) AS BIGINT) AS p1_x1e6,
         |  clip_2, total_2,
         |  CAST((1000000 * clip_2) // greatest(total_2, 1) AS BIGINT) AS p2_x1e6
         |FROM p1 JOIN p2 USING (id_a, id_b)
         |ORDER BY id_a""".stripMargin

    /** Twin of q174_png_adam7: the Spark side bit-packs a 4-bit gray
      * Adam7-INTERLACED PNG per doc and decodes it back through the
      * seven-pass de-interleave; the twin computes the same ×100
      * channel means straight from the closed-form pixel value
      * ((id%16)·3 + 5x + 7y) % 16 scaled ×17 — a hash match certifies
      * the de-interleave restored every pixel to its canvas position
      * (a pass-order bug would scramble positions but often preserve
      * sums; the ragged w/h mix makes pass dims differ per doc, so a
      * scramble changes which pixels exist and the means shift).
      * All-integer arithmetic, non-negative `%` operands.
      */
    def pngAdam7Sql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 4 AS w,
         |                     doc_id % 11 + 4 AS h FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM base),
         |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
         |g AS (SELECT doc_id, w, h,
         |        (((doc_id % 16) * 3 + 5 * x + 7 * y) % 16) * 17 AS v
         |      FROM px)
         |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST((100 * sum(v)) // (w * h) AS BIGINT) AS mean_r_x100,
         |  CAST((100 * sum(v)) // (w * h) AS BIGINT) AS mean_g_x100,
         |  CAST((100 * sum(v)) // (w * h) AS BIGINT) AS mean_b_x100,
         |  CAST((100 * sum(255)) // (w * h) AS BIGINT) AS mean_a_x100
         |FROM g GROUP BY doc_id, w, h
         |ORDER BY doc_id""".stripMargin

    /** Twin of q172_decontam_index: replay the index build — per eval
      * doc (doc_id % 50 = 0) the sorted distinct hashed 3-shingles,
      * eval-side df per token, ranks under the global (dfc, t) order,
      * prefix cut at n − ⌈0.6·n⌉ + 1. Integer-only surface; rk is
      * unique per doc so ORDER BY (ref_id, rk) is total.
      */
    def decontamIndexSql: String =
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents
         |            WHERE doc_id % 50 = 0),
         |shx AS (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl),
         |sh AS (SELECT id, list_distinct(list(${duckHash61("s")})) AS ts
         |       FROM shx GROUP BY id),
         |s AS (SELECT id, ts, CAST(len(ts) AS BIGINT) AS n FROM sh
         |      WHERE len(ts) >= 1),
         |tok AS (SELECT id, n, unnest(ts) AS t FROM s),
         |dft AS (SELECT t, CAST(count(*) AS BIGINT) AS dfc FROM tok GROUP BY t),
         |pr AS (SELECT id, n, t, dfc,
         |         CAST(row_number() OVER (PARTITION BY id ORDER BY dfc, t)
         |           AS BIGINT) AS rk
         |       FROM tok JOIN dft USING (t))
         |SELECT id AS ref_id, rk, t, n, dfc
         |FROM pr WHERE rk <= n - ((n * 600 + 999) // 1000) + 1
         |ORDER BY ref_id, rk""".stripMargin

    /** Twin of q142_png_pixels: the Spark side PNG-encodes a
      * deterministic test pattern and DECODES it back through real
      * zlib + scanline unfiltering before averaging; the twin computes
      * the identical ×100 channel means straight from the closed-form
      * pixel formula (PngCodec.testImage) — a hash match therefore
      * certifies the decode path reproduced every pixel. All-integer
      * arithmetic; `%` operands are non-negative on both engines.
      */
    def pngPixelsSql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 4 AS w,
         |                     doc_id % 11 + 4 AS h FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM base),
         |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs)
         |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST((100 * sum((doc_id * 7 + 3 * x + 5 * y) % 256)) // (w * h) AS BIGINT)
         |    AS mean_r_x100,
         |  CAST((100 * sum((doc_id * 11 + x + 2 * y) % 256)) // (w * h) AS BIGINT)
         |    AS mean_g_x100,
         |  CAST((100 * sum((doc_id * 13 + 2 * x + y) % 256)) // (w * h) AS BIGINT)
         |    AS mean_b_x100,
         |  CAST((100 * sum(255)) // (w * h) AS BIGINT) AS mean_a_x100
         |FROM px GROUP BY doc_id, w, h
         |ORDER BY doc_id""".stripMargin

    /** Twin of q171_jpeg_pixels: the Spark side JPEG-encodes a
      * blockwise-flat YCbCr fixture and DECODES it back through real
      * Huffman + fixed-point IDCT + integer color conversion; flat
      * blocks (all AC zero, q=16, even samples) make the lossy
      * container exact, so the twin computes the identical ×100
      * channel means from the closed-form per-block formula plus the
      * SAME CCIR 601 16.16 fixed-point YCbCr→RGB arithmetic. The G
      * term's numerator can be negative and the decoder's `>> 16` is
      * a floor — DuckDB `//` truncates toward zero, so the twin adds
      * a 64·65536 offset (always making the numerator positive) and
      * subtracts 64 after: floor division via trunc division.
      */
    def jpegPixelsSql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 4 AS w,
         |                     doc_id % 11 + 4 AS h FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM base),
         |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
         |ycc AS (SELECT doc_id, w, h,
         |          ((doc_id * 7 + 3 * (x // 8) + 5 * (y // 8)) % 120) * 2 + 4
         |            AS lum,
         |          ((doc_id * 11 + (x // 8) + 2 * (y // 8)) % 16) * 2 AS cb,
         |          ((doc_id * 13 + 2 * (x // 8) + (y // 8)) % 16) * 2 AS cr
         |        FROM px),
         |rgb AS (SELECT doc_id, w, h,
         |          least(greatest(
         |            lum + (91881 * cr + 32768) // 65536, 0), 255) AS r,
         |          least(greatest(
         |            lum + (-22554 * cb - 46802 * cr + 32768 + 4194304)
         |              // 65536 - 64, 0), 255) AS g,
         |          least(greatest(
         |            lum + (116130 * cb + 32768) // 65536, 0), 255) AS b
         |        FROM ycc)
         |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST((100 * sum(r)) // (w * h) AS BIGINT) AS mean_r_x100,
         |  CAST((100 * sum(g)) // (w * h) AS BIGINT) AS mean_g_x100,
         |  CAST((100 * sum(b)) // (w * h) AS BIGINT) AS mean_b_x100,
         |  CAST((100 * sum(255)) // (w * h) AS BIGINT) AS mean_a_x100
         |FROM rgb GROUP BY doc_id, w, h
         |ORDER BY doc_id""".stripMargin

    /** Twin of q159_bmp_pixels: the BMP fixture carries the SAME
      * closed-form pixel pattern and dims as q142's PNG, so the twin
      * IS the q142 closed-form sum — the Spark side differs (BMP
      * stride/BGR/bottom-up decode, not zlib), which is the point:
      * two independent real decode paths, one pixel ground truth.
      */
    def bmpPixelsSql: String = pngPixelsSql

    /** Twin of q160_wav_pcm: the same closed-form waveform
      * s(i) = ((id·31 + 17·i) % 65536) − 32768 unrolled by range
      * unnest; crossings substitute the formula at i−1, so no window
      * is needed.
      */
    def wavPcmSql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 200 + 50 AS n,
         |                CAST(8000 + (doc_id % 8) * 1000 AS INT) AS rate
         |              FROM documents),
         |sm AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM base),
         |sv AS (SELECT doc_id, n, rate, i,
         |         (doc_id * 31 + 17 * i) % 65536 - 32768 AS s,
         |         CASE WHEN i >= 1 THEN
         |           (doc_id * 31 + 17 * (i - 1)) % 65536 - 32768 END AS prev
         |       FROM sm)
         |SELECT doc_id, rate AS sample_rate, CAST(n AS BIGINT) AS n_samples,
         |  CAST(max(abs(s)) AS BIGINT) AS peak,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(sum(s * s) // n AS BIGINT) AS energy_mean,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) != (s < 0))
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         |FROM sv GROUP BY doc_id, rate, n ORDER BY doc_id""".stripMargin

    /** Twin of q163_gif_pixels: channel means from the index formula
      * i = (id·7 + 3x + 5y) % 256 mapped through the closed-form
      * palette (i, (i·11+3)%256, (i·31+7)%256) — the Spark side gets
      * there through a real LZW bitstream.
      */
    def gifPixelsSql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 4 AS w,
         |                     doc_id % 11 + 4 AS h FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM base),
         |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
         |idx AS (SELECT doc_id, w, h,
         |          (doc_id * 7 + 3 * x + 5 * y) % 256 AS i FROM px)
         |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         |  CAST((100 * sum(i)) // (w * h) AS BIGINT) AS mean_r_x100,
         |  CAST((100 * sum((i * 11 + 3) % 256)) // (w * h) AS BIGINT)
         |    AS mean_g_x100,
         |  CAST((100 * sum((i * 31 + 7) % 256)) // (w * h) AS BIGINT)
         |    AS mean_b_x100,
         |  CAST((100 * sum(255)) // (w * h) AS BIGINT) AS mean_a_x100
         |FROM idx GROUP BY doc_id, w, h
         |ORDER BY doc_id""".stripMargin

    /** Twin of q166_image_dhash: the identical dHash from the
      * closed-form pattern — same (c·w)//9, (r·h)//8 sample points,
      * same ITU-601 integer gray, same gradient bits packed into the
      * same 32-bit halves, same bit_count hamming to doc 0.
      */
    def imageDHashSql: String = {
      val x = "((c * w) // 9)"
      val y = "((r * h) // 8)"
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 4 AS w,
         |                     doc_id % 11 + 4 AS h FROM documents),
         |rc AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS r FROM base),
         |rcc AS (SELECT doc_id, w, h, r, unnest(range(0, 9)) AS c FROM rc),
         |gpx AS (SELECT doc_id, r, c,
         |    (299 * ((doc_id * 7 + 3 * $x + 5 * $y) % 256)
         |   + 587 * ((doc_id * 11 + $x + 2 * $y) % 256)
         |   + 114 * ((doc_id * 13 + 2 * $x + $y) % 256)) // 1000 AS g
         |  FROM rcc),
         |bits AS (SELECT doc_id, r, c,
         |    CASE WHEN g > lead(g) OVER (PARTITION BY doc_id, r ORDER BY c)
         |         THEN 1 ELSE 0 END AS b
         |  FROM gpx),
         |hsh AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN c < 8 AND r < 4 AND b = 1
         |      THEN (CAST(1 AS BIGINT) << (r * 8 + c)) ELSE 0 END)
         |      AS BIGINT) AS dhash_lo,
         |    CAST(sum(CASE WHEN c < 8 AND r >= 4 AND b = 1
         |      THEN (CAST(1 AS BIGINT) << ((r - 4) * 8 + c)) ELSE 0 END)
         |      AS BIGINT) AS dhash_hi
         |  FROM bits GROUP BY doc_id),
         |rf AS (SELECT dhash_lo AS rl, dhash_hi AS rh FROM hsh
         |       WHERE doc_id = 0)
         |SELECT h.doc_id, h.dhash_lo, h.dhash_hi,
         |  CAST(bit_count(xor(h.dhash_lo, rf.rl))
         |     + bit_count(xor(h.dhash_hi, rf.rh)) AS BIGINT)
         |    AS hamming_to_doc0
         |FROM hsh h CROSS JOIN rf ORDER BY doc_id""".stripMargin
    }

    /** Twin of q267_image_dup_clusters: the q166 closed-form dHash
      * CTEs keyed by doc_id % 97, the same 16-bit band keys with
      * the same 512 bucket valve (engaged at scale by the one
      * identical-gradient mega-bucket), popcount verify at hamming ≤ 6,
      * and the RECURSIVE-closure CC with min-of-component labels.
      */
    def imageDupClustersSql: String = {
      val x = "((c * w) // 9)"
      val y = "((r * h) // 8)"
      s"""WITH RECURSIVE base AS (SELECT doc_id, doc_id % 97 AS sid
         |                        FROM documents),
         |dims AS (SELECT doc_id, sid, sid % 13 + 4 AS w,
         |                sid % 11 + 4 AS h FROM base),
         |rc AS (SELECT doc_id, sid, w, h, unnest(range(0, 8)) AS r
         |       FROM dims),
         |rcc AS (SELECT doc_id, sid, w, h, r, unnest(range(0, 9)) AS c
         |        FROM rc),
         |gpx AS (SELECT doc_id, r, c,
         |    (299 * ((sid * 7 + 3 * $x + 5 * $y) % 256)
         |   + 587 * ((sid * 11 + $x + 2 * $y) % 256)
         |   + 114 * ((sid * 13 + 2 * $x + $y) % 256)) // 1000 AS g
         |  FROM rcc),
         |bits AS (SELECT doc_id, r, c,
         |    CASE WHEN g > lead(g) OVER (PARTITION BY doc_id, r ORDER BY c)
         |         THEN 1 ELSE 0 END AS b
         |  FROM gpx),
         |hsh AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN c < 8 AND r < 4 AND b = 1
         |      THEN (CAST(1 AS BIGINT) << (r * 8 + c)) ELSE 0 END)
         |      AS BIGINT) AS dhash_lo,
         |    CAST(sum(CASE WHEN c < 8 AND r >= 4 AND b = 1
         |      THEN (CAST(1 AS BIGINT) << ((r - 4) * 8 + c)) ELSE 0 END)
         |      AS BIGINT) AS dhash_hi
         |  FROM bits GROUP BY doc_id),
         |bnd AS (SELECT doc_id AS id,
         |    unnest([0, 1, 2, 3]) AS band,
         |    unnest([dhash_lo & 65535, (dhash_lo >> 16) & 65535,
         |            dhash_hi & 65535, (dhash_hi >> 16) & 65535]) AS v
         |  FROM hsh),
         |okb AS (SELECT band, v FROM bnd GROUP BY band, v
         |        HAVING count(*) <= 512),
         |g2 AS (SELECT b.id, b.band, b.v FROM bnd b
         |       JOIN okb USING (band, v)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM g2 a JOIN g2 b
         |           ON a.band = b.band AND a.v = b.v AND a.id < b.id),
         |prs AS (SELECT c.id_a, c.id_b FROM cand c
         |        JOIN hsh xa ON xa.doc_id = c.id_a
         |        JOIN hsh yb ON yb.doc_id = c.id_b
         |        WHERE bit_count(xor(xa.dhash_lo, yb.dhash_lo))
         |            + bit_count(xor(xa.dhash_hi, yb.dhash_hi)) <= 0),
         |e AS (SELECT id_a AS ea, id_b AS eb FROM prs
         |      UNION SELECT id_b, id_a FROM prs),
         |reach(ea, eb) AS (
         |  SELECT ea, eb FROM e
         |  UNION
         |  SELECT r.ea, e.eb FROM reach r JOIN e ON r.eb = e.ea),
         |labels AS (SELECT ea AS id, least(ea, min(eb)) AS cluster_id
         |           FROM reach GROUP BY ea)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |FROM labels GROUP BY cluster_id HAVING count(*) >= 2
         |ORDER BY cluster_id""".stripMargin
    }

    /** Twin of q168_audio_fingerprint: frame Σ|s| energies from the
      * closed-form waveform s(i) = ((id·31+17i) % 65536) − 32768,
      * frame = i // 64 over 65·64 samples, same gradient bits,
      * halves, and hamming to doc 0.
      */
    def audioFingerprintSql: String =
      s"""WITH sm AS (SELECT doc_id, unnest(range(0, ${65 * 64})) AS i
         |            FROM documents),
         |fe AS (SELECT doc_id, i // 64 AS f,
         |         CAST(sum(abs((doc_id * 31 + 17 * i) % 65536 - 32768))
         |           AS BIGINT) AS e
         |       FROM sm GROUP BY 1, 2),
         |bits AS (SELECT doc_id, f,
         |    CASE WHEN e > lead(e) OVER (PARTITION BY doc_id ORDER BY f)
         |         THEN 1 ELSE 0 END AS b
         |  FROM fe),
         |hsh AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN f < 32 AND b = 1
         |      THEN (CAST(1 AS BIGINT) << f) ELSE 0 END) AS BIGINT) AS fp_lo,
         |    CAST(sum(CASE WHEN f >= 32 AND f < 64 AND b = 1
         |      THEN (CAST(1 AS BIGINT) << (f - 32)) ELSE 0 END)
         |      AS BIGINT) AS fp_hi
         |  FROM bits GROUP BY doc_id),
         |rf AS (SELECT fp_lo AS rl, fp_hi AS rh FROM hsh WHERE doc_id = 0)
         |SELECT h.doc_id, h.fp_lo, h.fp_hi,
         |  CAST(bit_count(xor(h.fp_lo, rf.rl))
         |     + bit_count(xor(h.fp_hi, rf.rh)) AS BIGINT) AS hamming_to_doc0
         |FROM hsh h CROSS JOIN rf ORDER BY doc_id""".stripMargin

    /** Twin of q146_png_grid_features: every grid-cell channel mean
      * recomputed from the closed-form test-pattern formula — cell id
      * uses the SAME integer split as the decoder-side descriptor
      * ((g·y) div h, (g·x) div w), so a hash match certifies the
      * whole decode→grid→mean pipeline pixel-exactly. Unpivoted to
      * (doc_id, pos, feature) with pos = 3·cell + channel.
      */
    def pngGridFeaturesSql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 13 + 4 AS w,
         |                     doc_id % 11 + 4 AS h FROM documents),
         |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM base),
         |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
         |cp AS (SELECT doc_id,
         |         ((2 * y) // h) * 2 + ((2 * x) // w) AS cell,
         |         (doc_id * 7 + 3 * x + 5 * y) % 256 AS r,
         |         (doc_id * 11 + x + 2 * y) % 256 AS g,
         |         (doc_id * 13 + 2 * x + y) % 256 AS b
         |       FROM px),
         |cm AS (SELECT doc_id, cell,
         |         sum(r) // count(*) AS mr, sum(g) // count(*) AS mg,
         |         sum(b) // count(*) AS mb
         |       FROM cp GROUP BY doc_id, cell)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(feature AS BIGINT) AS feature FROM (
         |  SELECT doc_id, 3 * cell AS pos, mr AS feature FROM cm
         |  UNION ALL SELECT doc_id, 3 * cell + 1, mg FROM cm
         |  UNION ALL SELECT doc_id, 3 * cell + 2, mb FROM cm)
         |ORDER BY doc_id, pos""".stripMargin

    /** Twin of q140_price_outliers: quantile_cont ≡ Spark
      * `percentile` (q55 parity), same two-stage median/MAD and the
      * same 2·MAD comparison on identical doubles.
      */
    def priceOutliersSql: String =
      s"""WITH m AS (SELECT p_type, quantile_cont(p_retailprice, 0.5) AS med
         |           FROM part GROUP BY 1),
         |st AS (SELECT p.p_type, min(m.med) AS med,
         |         quantile_cont(abs(p.p_retailprice - m.med), 0.5) AS mad
         |       FROM part p JOIN m USING (p_type) GROUP BY p.p_type)
         |SELECT p.p_partkey, p.p_type, p.p_retailprice, st.med, st.mad,
         |  (abs(p.p_retailprice - st.med) > 2 * st.mad) AS is_outlier
         |FROM part p JOIN st USING (p_type)
         |ORDER BY p.p_partkey""".stripMargin

    /** Twin of q126_skew_report: per-key counts, row_number ranking
      * (count DESC, key ASC — the TopK aggregate's exact order), and
      * per-mille shares off the cast total.
      */
    def skewReportSql: String =
      s"""WITH c AS (SELECT coalesce(CAST(l_suppkey AS VARCHAR), '<null>') AS key,
         |             CAST(count(*) AS BIGINT) AS cnt
         |           FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |r AS (SELECT key, cnt,
         |        CAST(row_number() OVER (ORDER BY cnt DESC, key) AS BIGINT) AS "rank"
         |      FROM c)
         |SELECT key, cnt, CAST((1000 * cnt) // total AS BIGINT) AS share_x1000,
         |  "rank"
         |FROM r CROSS JOIN t WHERE "rank" <= 10 ORDER BY "rank"""".stripMargin

    /** Twin of q125_fuzzy_names: a plain exact Levenshtein self-join
      * over the distinct normalized names — the positional-prefix
      * blocking is a Spark physical strategy (provably complete:
      * Gravano count filter + Chaudhuri prefix principle + the
      * short-value length buckets, see
      * [[graft.dedup.Dedup.fuzzyValueMatches]]), not a semantic
      * change, so the exact join IS the reference answer at any
      * scale factor.
      */
    def fuzzyNamesSql: String =
      s"""WITH n AS (SELECT DISTINCT lower(trim(p_name)) AS s FROM part
         |           WHERE length(trim(p_name)) > 0)
         |SELECT a.s AS name_a, b.s AS name_b,
         |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         |FROM n a JOIN n b ON a.s < b.s
         |WHERE levenshtein(a.s, b.s) BETWEEN 1 AND 2
         |ORDER BY name_a, name_b""".stripMargin

    /** Twin of q121_containment: same distinct (id, hash61(shingle))
      * postings, df ≤ 20 filter, plain capped self-join for the pair
      * counts (the bounded pair expansion is a Spark physical shape,
      * not a semantic change), integer ×1000 containments both ways.
      */
    def containmentSql: String =
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shs AS (SELECT id, unnest(list_distinct(${shinglesE("w", 3)})) AS s FROM words),
         |sh AS (SELECT DISTINCT id, ${duckHash61("s")} AS x FROM shs),
         |dfx AS (SELECT x, count(*) AS dfc FROM sh GROUP BY x),
         |rare AS (SELECT id, sh.x FROM sh JOIN dfx USING (x) WHERE dfc <= 20),
         |sz AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM rare GROUP BY id),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |         CAST(count(*) AS BIGINT) AS n_inter
         |       FROM rare a JOIN rare b ON a.x = b.x AND a.id < b.id
         |       GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b,
         |  CAST((1000 * n_inter) // sa.n AS BIGINT) AS cont_a_x1000,
         |  CAST((1000 * n_inter) // sb.n AS BIGINT) AS cont_b_x1000
         |FROM pr JOIN sz sa ON sa.id = pr.id_a JOIN sz sb ON sb.id = pr.id_b
         |WHERE greatest((1000 * n_inter) // sa.n, (1000 * n_inter) // sb.n) >= 300
         |ORDER BY id_a, id_b""".stripMargin

    def nearDupPairsSql: String =
      minhashBucketCtes(2) + s""",
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id),
        |shs AS (SELECT id, list_distinct(${shinglesE("w", 2)}) AS s FROM words)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT c.id_a, c.id_b,
        |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        |  FROM cand c JOIN shs sa ON sa.id = c.id_a JOIN shs sb ON sb.id = c.id_b) t
        |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin

    def simhashSql: String = {
      val sums = (0 until 64).map(b =>
        s"sum(CASE WHEN ${duckBitAt("lo", "hi", b)} = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(", ")
      val sigExpr = ((0 until 63).map(b =>
        s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END") :+
        "CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END").mkString(" + ")
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |tok AS (SELECT id, unnest(w) AS tok FROM words),
         |hx AS (SELECT id, md5(tok) AS m FROM tok),
         |ch AS (SELECT id, ${duckChunk("m", 1)} AS lo, ${duckChunk("m", 0)} AS hi FROM hx),
         |agg AS (SELECT id, $sums FROM ch GROUP BY id)
         |SELECT id, ($sigExpr) AS sig FROM agg ORDER BY id""".stripMargin
    }

    /** Twin of q191_dbscan: identical plane literals and 1-bit probe
      * set, neighbor pairs by bucket join + cosine ≥ ε, the ≥ minPts
      * degree rule, recursive-closure CC over core–core edges (q65's
      * pattern), isolated cores self-labeling, smallest-core border
      * assignment, noise as NULL.
      */
    def dbscanSql: String = {
      val planes = VectorFns.randomHyperplanes(numBits = 8, dim = 64, seed = 42L)
      val probes = (Seq("xor(sig, 0)") ++ (0 until 8).map(i => s"xor(sig, ${1L << i})"))
        .mkString(", ")
      s"""WITH RECURSIVE e AS (SELECT vec_id AS id,
         |        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT id, v, (${sigE("v", planes)}) AS bucket FROM e),
         |p AS (SELECT id AS qid, qv, unnest([$probes]) AS bucket
         |      FROM (SELECT id, v AS qv, (${sigE("v", planes)}) AS sig FROM e)),
         |nb AS (SELECT DISTINCT p.qid AS src, s.id AS dst
         |       FROM s JOIN p ON s.bucket = p.bucket
         |       WHERE s.id <> p.qid AND ${cosineE("s.v", "p.qv")} >= 0.55),
         |core AS (SELECT src AS id FROM nb GROUP BY src
         |         HAVING count(*) >= 3),
         |ed AS (SELECT nb.src AS a, nb.dst AS b FROM nb
         |       JOIN core c1 ON c1.id = nb.src
         |       JOIN core c2 ON c2.id = nb.dst
         |       WHERE nb.src < nb.dst),
         |e2 AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
         |reach(a, b) AS (
         |  SELECT a, b FROM e2
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e2 ON r.b = e2.a),
         |lab AS (SELECT a AS id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |corelab AS (SELECT c.id, coalesce(l.cluster_id, c.id) AS cluster_id
         |            FROM core c LEFT JOIN lab l ON l.id = c.id),
         |bord AS (SELECT nb.src AS id, min(cl.cluster_id) AS cluster_id
         |         FROM nb JOIN corelab cl ON cl.id = nb.dst
         |         WHERE nb.src NOT IN (SELECT id FROM core)
         |         GROUP BY nb.src)
         |SELECT e.id AS vec_id,
         |  CAST(coalesce(corelab.cluster_id, bord.cluster_id) AS BIGINT)
         |    AS cluster_id,
         |  CASE WHEN corelab.id IS NOT NULL THEN 'core'
         |       WHEN bord.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role
         |FROM e LEFT JOIN corelab ON corelab.id = e.id
         |LEFT JOIN bord ON bord.id = e.id
         |ORDER BY vec_id""".stripMargin
    }

    def annLshSql: String = {
      val planes = VectorFns.randomHyperplanes(numBits = 8, dim = 64, seed = 42L)
      val probes = (Seq("xor(sig, 0)") ++ (0 until 8).map(i => s"xor(sig, ${1L << i})"))
        .mkString(", ")
      s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |csig AS (SELECT id, v, (${sigE("v", planes)}) AS bucket FROM c),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |qsig AS (SELECT query_id, qv, (${sigE("qv", planes)}) AS sig FROM q),
         |probes AS (SELECT query_id, qv, unnest([$probes]) AS bucket FROM qsig),
         |scored AS (SELECT DISTINCT p.query_id, c.id, ${cosineE("c.v", "p.qv")} AS sim
         |  FROM csig c JOIN probes p ON c.bucket = p.bucket),
         |ranked AS (SELECT query_id, id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS "rank"
         |  FROM scored)
         |SELECT query_id, id, round(sim, 4) AS sim, "rank" FROM ranked
         |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin
    }

    /** Twin of Similarity.knnSelfJoin (k=3, 8 bits, 1-bit multi-probe):
      * same plane literals, self-join on equal bucket, row_number
      * ranking on the unrounded cosine.
      */
    def knnSelfSql: String = {
      val planes = VectorFns.randomHyperplanes(numBits = 8, dim = 64, seed = 42L)
      val probes = (Seq("xor(sig, 0)") ++ (0 until 8).map(i => s"xor(sig, ${1L << i})"))
        .mkString(", ")
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT id, v, (${sigE("v", planes)}) AS bucket FROM e),
         |p AS (SELECT id AS query_id, qv, unnest([$probes]) AS bucket
         |      FROM (SELECT id, v AS qv, (${sigE("v", planes)}) AS sig FROM e)),
         |scored AS (SELECT DISTINCT p.query_id, s.id, ${cosineE("s.v", "p.qv")} AS sim
         |  FROM s JOIN p ON s.bucket = p.bucket AND s.id <> p.query_id),
         |ranked AS (SELECT query_id, id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS "rank"
         |  FROM scored)
         |SELECT query_id, id, round(sim, 4) AS sim, "rank" FROM ranked
         |WHERE "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin
    }

    def embeddingNearDupSql: String = {
      val planes = VectorFns.randomHyperplanes(numBits = 6, dim = 64, seed = 42L)
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT id, v, (${sigE("v", planes)}) AS bucket FROM e)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    round(${cosineE("a.v", "b.v")}, 4) AS cosine,
         |    ${cosineE("a.v", "b.v")} AS rawc
         |  FROM s a JOIN s b ON a.bucket = b.bucket AND a.id < b.id) t
         |WHERE rawc >= 0.1 ORDER BY id_a, id_b""".stripMargin
    }

    /** Twin of Multimodal.StubCodec.probe (image kind): fake dims are
      * hash61(bytes) arithmetic; blobs are the documents' text bytes.
      */
    def multimodalProbeSql: String =
      s"""WITH x AS (SELECT doc_id AS id, coalesce(strlen(text), 0) AS nb,
         |    ${duckHash61("text")} AS seed FROM documents)
         |SELECT id, 'image' AS kind,
         |  CASE WHEN nb < 4 THEN NULL ELSE 'png' END AS format,
         |  CASE WHEN nb < 4 THEN NULL ELSE seed % 1920 + 64 END AS width,
         |  CASE WHEN nb < 4 THEN NULL ELSE seed % 1080 + 64 END AS height,
         |  CASE WHEN nb < 4 THEN 'truncated media payload'
         |       ELSE CAST(NULL AS VARCHAR) END AS error
         |FROM x ORDER BY id""".stripMargin

    /** Twin of StubCodec.features (16 dyadic-rational dims — exact in
      * float32 and float64) + brute-force cosine top-5 vs doc 0.
      */
    def mediaFeaturesSql: String = {
      val feat = (0 until 16)
        .map(j => s"CAST(${duckHashAt("seed", j)} % 1024 AS DOUBLE) / 1024.0")
        .mkString(", ")
      s"""WITH x AS (SELECT doc_id AS id, ${duckHash61("text")} AS seed FROM documents),
         |f AS (SELECT id, [$feat] AS v FROM x),
         |q AS (SELECT v AS qv FROM f WHERE id = 0),
         |scored AS (SELECT f.id, ${cosineE("f.v", "q.qv")} AS sim FROM f, q),
         |ranked AS (SELECT id, sim,
         |  row_number() OVER (ORDER BY sim DESC, id) AS "rank" FROM scored)
         |SELECT CAST(0 AS BIGINT) AS query_id, id, round(sim, 4) AS sim, "rank"
         |FROM ranked WHERE "rank" <= 5 ORDER BY "rank"""".stripMargin
    }

    /** Twin of Dedup.nearDupClusters over q34's candidate pairs: the
      * min-label-propagation fixpoint equals min reachable id, computed
      * here as a recursive-CTE transitive closure over the undirected
      * near-dup edges.
      */
    /** Shared CTE chain: minhash buckets → candidate pairs → Jaccard
      * verify → symmetric edges → recursive transitive closure →
      * (id, cluster_id) labels. Twin of Dedup.minhashNearDupPairs +
      * nearDupClusters (min-reachable-id fixpoint).
      */
    private def clusterCtes: String =
      minhashBucketCtes(2).replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id),
        |shs AS (SELECT id, list_distinct(${shinglesE("w", 2)}) AS s FROM words),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT c.id_a, c.id_b,
        |      CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        |    FROM cand c JOIN shs sa ON sa.id = c.id_a JOIN shs sb ON sb.id = c.id_b) t
        |  WHERE jaccard >= 0.2),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |labels AS (SELECT a AS id, least(a, min(b)) AS cluster_id
        |           FROM reach GROUP BY a)""".stripMargin

    def dedupClustersSql: String =
      clusterCtes + "\nSELECT id, cluster_id FROM labels ORDER BY id"

    /** Twin of q176_cluster_reps: the q65 cluster chain joined with
      * the q122 milli-quality, argmax by (score DESC, id ASC) per
      * cluster — the twin uses a window over the cluster-sized
      * member table where Spark uses a struct-max aggregation, two
      * independent statements of the same argmax.
      */
    def clusterRepsSql: String =
      clusterCtes + qualityCtes("").replaceFirst("^WITH ", ",\n") + s""",
        |sc AS (SELECT doc_id AS id,
        |         CAST(floor(quality * 1000) AS BIGINT) AS score FROM q),
        |mem AS (SELECT l.cluster_id, l.id, sc.score
        |        FROM labels l JOIN sc USING (id)),
        |rk AS (SELECT cluster_id, id, score,
        |         row_number() OVER (PARTITION BY cluster_id
        |           ORDER BY score DESC, id) AS rn,
        |         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
        |           AS n_members
        |       FROM mem)
        |SELECT cluster_id, id AS keep_id, score AS best_score, n_members
        |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin

    /** Twin of q139_entity_clusters: the q125 exact fuzzy pairs as
      * edges, transitive closure via the q65 recursive-CTE pattern,
      * least-name labels — over STRING ids.
      */
    def entityClustersSql: String =
      s"""WITH RECURSIVE nm AS (SELECT DISTINCT lower(trim(p_name)) AS s
         |           FROM part WHERE length(trim(p_name)) > 0),
         |pairs AS (SELECT a.s AS id_a, b.s AS id_b
         |  FROM nm a JOIN nm b ON a.s < b.s
         |  WHERE levenshtein(a.s, b.s) BETWEEN 1 AND 2),
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs
         |      UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |labels AS (SELECT a AS id, least(a, min(b)) AS cluster_id
         |           FROM reach GROUP BY a)
         |SELECT id AS name, cluster_id AS canon FROM labels
         |ORDER BY name""".stripMargin

    /** Twin of Dedup.leakageSafeSplit over q65's clusters: the split
      * bucket hashes the CLUSTER id (singletons: the doc id).
      */
    def leakageSafeSplitSql: String =
      clusterCtes + s""",
        |docsplit AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
        |k AS (SELECT doc_id, cluster_id,
        |  ${duckHash61("'split:' || CAST(cluster_id AS VARCHAR)")} % 10 AS b
        |  FROM docsplit)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |FROM k ORDER BY doc_id""".stripMargin

    /** Twin of q66: exact dedup keep-min → near-dup canonical keep
      * (the q65 cluster labels — same shared CTE chain) → quality
      * formula (as q33) → langid (as q32) → token count → PII
      * redaction, composed in CTEs.
      */
    def curationPipelineSql: String = {
      val stop = TextFns.EN_STOPWORDS.map(w => s"'$w'").mkString(", ")
      val scores = TextFns.LANG_MARKERS.toSeq.sortBy(_._1).map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(lk, x -> list_contains([$lst], x))) AS s_$lang"
      }.mkString(", ")
      val g = "greatest(s_de, s_en, s_es, s_fr)"
      val email = TextFns.EMAIL_RE
      val ssn = TextFns.SSN_RE
      val phone = TextFns.PHONE_RE
      clusterCtes + s""",
         |keep AS (SELECT min(doc_id) AS kid FROM documents GROUP BY md5(text)),
         |d AS (SELECT doc_id, text FROM documents
         |      WHERE doc_id IN (SELECT kid FROM keep)
         |        AND doc_id NOT IN (SELECT id FROM labels WHERE cluster_id <> id)),
         |t AS (SELECT doc_id, text, ${tokensE("text")} AS tk FROM d),
         |m AS (SELECT doc_id, text, tk,
         |  CAST(len(tk) AS DOUBLE) AS n_tok,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |    ELSE CAST(length(text) - length(regexp_replace(text, '$PUNCT', '', 'g')) AS DOUBLE)
         |      / length(text) END AS pr,
         |  CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(tk, x -> list_contains([$stop], lower(x)))) AS DOUBLE)
         |      / len(tk) END AS swr,
         |  list_transform(tk, x -> lower(x)) AS lk
         |  FROM t),
         |s AS (SELECT doc_id, text, tk,
         |  round((least(n_tok / 100.0, 1.0) * 0.4
         |    + greatest(0.0, 1.0 - pr * 4.0) * 0.3
         |    + greatest(0.0, 1.0 - abs(swr - 0.4) * 2.0) * 0.3), 6) AS quality,
         |  $scores FROM m)
         |SELECT doc_id,
         |  CASE WHEN $g = 0 THEN 'und'
         |    WHEN s_fr = $g THEN 'fr'
         |    WHEN s_es = $g THEN 'es'
         |    WHEN s_en = $g THEN 'en'
         |    ELSE 'de' END AS lang_pred,
         |  quality,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'), '$ssn', '<SSN>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS redacted
         |FROM s WHERE quality >= 0.5 ORDER BY doc_id""".stripMargin
    }

    /** Twin of Packing.packBySequenceBudget (shard=8, budget=2000). */
    def sequencePackingSql: String =
      s"""WITH t AS (SELECT doc_id,
         |    ${duckHash61("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    CAST(len(${tokensE("text")}) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |    - n_tokens) / 2000) AS BIGINT) AS pack_id
         |FROM t ORDER BY doc_id""".stripMargin

    /** Twin of Dedup.contaminationScores: per-doc distinct 3-gram
      * shingle hashes vs the eval subset's (doc_id % 50 = 0) hash set.
      */
    /** Twin of ops.TextStats.repetitionStats (n=2). */
    def docRepetitionSql: String =
      s"""WITH words AS (SELECT doc_id, ${tokensE("text")} AS w,
         |    length(text) AS nc FROM documents),
         |g AS (SELECT doc_id, unnest(${shinglesE("w", 2)}) AS g FROM words),
         |cnt AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
         |top AS (SELECT doc_id, max(c * length(g)) AS top_chars FROM cnt GROUP BY doc_id)
         |SELECT w.doc_id, len(w.w) AS n_tokens,
         |  round(CASE WHEN len(w.w) = 0 THEN 0
         |    ELSE 1 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w) END, 6)
         |    AS dup_word_frac,
         |  round(CASE WHEN w.nc = 0 THEN 0
         |    ELSE CAST(t.top_chars AS DOUBLE) / w.nc END, 6) AS top_ngram_char_frac
         |FROM words w JOIN top t ON w.doc_id = t.doc_id
         |ORDER BY w.doc_id""".stripMargin

    /** Twin of ops.Mixture.sampleByRates (per-lang rates, default 300). */
    def mixtureSampleSql: String =
      s"""WITH r AS (SELECT doc_id, lang, source,
         |  CASE lang WHEN 'en' THEN 900 WHEN 'es' THEN 600 WHEN 'de' THEN 400
         |            WHEN 'fr' THEN 200 ELSE 300 END AS pm,
         |  ${duckHash61("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 AS sample_key
         |  FROM documents)
         |SELECT doc_id, lang, source, sample_key FROM r WHERE sample_key < pm
         |ORDER BY doc_id""".stripMargin

    /** Twin of Queries.q72_tfidf_keywords: tf × N / df, top-3 per doc
      * (row_number here; the Spark side uses the bounded-heap aggregate,
      * proven row-identical to the window by q48 vs q05).
      */
    def tfidfKeywordsSql: String =
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |tok AS (SELECT id, unnest(w) AS term FROM words),
         |tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT tf.id, tf.term,
         |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (SELECT id, term, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |SELECT id, term, round(score, 6) AS score, rn FROM ranked
         |WHERE rn <= 3 ORDER BY id, rn""".stripMargin

    /** Twin of Queries.q75_token_chunks: 40-token chunks on a 30-token
      * stride. DuckDB list slices are 1-based inclusive, matching
      * Spark's `slice(w, start+1, 40)` = elements start+1 .. start+40.
      */
    def tokenChunksSql: String =
      s"""WITH words AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |nz AS (SELECT doc_id, w FROM words WHERE len(w) > 0),
         |st AS (SELECT doc_id, w, unnest(range(0, len(w), 30)) AS start FROM nz),
         |ck AS (SELECT doc_id, start // 30 AS chunk_idx,
         |         w[start + 1 : start + 40] AS ck FROM st)
         |SELECT doc_id, chunk_idx, len(ck) AS n_tokens,
         |  array_to_string(ck, ' ') AS chunk_text
         |FROM ck ORDER BY doc_id, chunk_idx""".stripMargin

    /** Twin of q77_eval_sample: top-20 per lang in hash order (the
      * Spark side ranks hash DESC via the bounded-heap aggregate; the
      * window mirrors that order with doc_id as tiebreak).
      */
    def evalSampleSql: String =
      s"""WITH k AS (SELECT doc_id, lang,
         |    ${duckHash61("'eval:' || CAST(doc_id AS VARCHAR)")} AS rank_key
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY rank_key DESC, doc_id) AS rn
         |  FROM k)
         |SELECT lang, doc_id, rn FROM r WHERE rn <= 20
         |ORDER BY lang, rn""".stripMargin

    /** Twin of Dedup.boilerplateScores (n=3, minDocs=3). */
    def boilerplateSql: String =
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(${shinglesE("w", 3)})) AS s FROM words),
         |hx AS (SELECT id, ${duckHash61("s")} AS h FROM sh),
         |freq AS (SELECT h FROM hx GROUP BY h HAVING count(*) >= 3)
         |SELECT id, count(*) AS n_shingles, count(f.h) AS n_boilerplate,
         |  round(CAST(count(f.h) AS DOUBLE) / count(*), 6) AS boilerplate_frac
         |FROM hx LEFT JOIN freq f ON hx.h = f.h
         |GROUP BY id ORDER BY id""".stripMargin

    def contaminationSql: String =
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(${shinglesE("w", 3)})) AS s FROM words),
         |h AS (SELECT id, ${duckHash61("s")} AS hh FROM sh),
         |ev AS (SELECT DISTINCT hh FROM h WHERE id % 50 = 0)
         |SELECT id, count(*) AS n_shingles, count(e.hh) AS n_overlap,
         |  round(CAST(count(e.hh) AS DOUBLE) / count(*), 6) AS overlap_ratio
         |FROM h LEFT JOIN ev e ON h.hh = e.hh
         |GROUP BY id ORDER BY id""".stripMargin

    /** Twin of TextFns.redactPii/piiCount over the same augmented text. */
    def piiRedactSql: String = {
      val aug = "(text || ' contact: user' || doc_id || " +
        "'@test.org call 555-867-5309 ssn 123-45-6789')"
      val email = TextFns.EMAIL_RE
      val ssn = TextFns.SSN_RE
      val phone = TextFns.PHONE_RE
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all($aug, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all($aug, '$ssn')) AS BIGINT) AS n_ssns,
         |  CAST(len(regexp_extract_all($aug, '$phone')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace($aug,
         |    '$email', '<EMAIL>', 'g'), '$ssn', '<SSN>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin
    }

    def langIdSql: String = {
      val g = "greatest(s_de, s_en, s_es, s_fr)"
      val scores = TextFns.LANG_MARKERS.toSeq.sortBy(_._1).map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(tk, x -> list_contains([$lst], x))) AS s_$lang"
      }.mkString(", ")
      // tie-break mirrors Spark's array_max over struct(score, lang):
      // highest score wins, ties go to the lexicographically greatest lang
      s"""WITH t AS (SELECT doc_id, list_transform(${tokensE("text")}, x -> lower(x)) AS tk
         |  FROM documents),
         |s AS (SELECT doc_id, $scores FROM t)
         |SELECT doc_id, CASE WHEN $g = 0 THEN 'und'
         |  WHEN s_fr = $g THEN 'fr'
         |  WHEN s_es = $g THEN 'es'
         |  WHEN s_en = $g THEN 'en'
         |  ELSE 'de' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    }

    /** CTE chain (t → m → q) computing the quality formula exactly as
      * TextFns.qualityScore, carrying `extra` columns (e.g. ", lang")
      * through to the final q(doc_id[, extra], quality) relation.
      */
    private def qualityCtes(extra: String): String = {
      val stop = TextFns.EN_STOPWORDS.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id$extra, text, ${tokensE("text")} AS tk FROM documents),
         |m AS (SELECT doc_id$extra,
         |  CAST(len(tk) AS DOUBLE) AS n_tok,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |    ELSE CAST(length(text) - length(regexp_replace(text, '$PUNCT', '', 'g')) AS DOUBLE)
         |      / length(text) END AS pr,
         |  CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter(tk, x -> list_contains([$stop], lower(x)))) AS DOUBLE)
         |      / len(tk) END AS swr
         |  FROM t),
         |q AS (SELECT doc_id$extra, CAST(n_tok AS BIGINT) AS n_tokens,
         |  round((least(n_tok / 100.0, 1.0) * 0.4
         |  + greatest(0.0, 1.0 - pr * 4.0) * 0.3
         |  + greatest(0.0, 1.0 - abs(swr - 0.4) * 2.0) * 0.3), 6) AS quality
         |FROM m)""".stripMargin
    }

    def qualityScoreSql: String =
      qualityCtes("") + "\nSELECT doc_id, quality FROM q ORDER BY doc_id"

    /** Twin of q78_adaptive_quality: keep docs at or above their own
      * language's median quality (quantile_cont ≡ Spark `percentile`,
      * parity established by q55).
      */
    def adaptiveQualitySql: String =
      qualityCtes(", lang") + s""",
        |med AS (SELECT lang, quantile_cont(quality, 0.5) AS lang_median
        |        FROM q GROUP BY lang)
        |SELECT q.doc_id, q.lang, q.quality FROM q JOIN med ON q.lang = med.lang
        |WHERE q.quality >= med.lang_median ORDER BY q.doc_id""".stripMargin

    /** Twin of q79_ivf_auto: the identical deterministic IVF pipeline —
      * hash61-ordered sample of 64, first 4 as init centroids, one
      * Lloyd round with exact DECIMAL(30,15) dimension sums (cosine is
      * scale-invariant, so the un-divided sums ARE the centroids),
      * nearest-cell assignment with ties to the larger cell, nProbe=2
      * probing, top-5 by (sim DESC, id).
      */
    /** Shared CTE chain of the deterministic IVF pipeline (q79/q81):
      * corpus `e`, hash-ordered 64-sample, 4 init centroids, one Lloyd
      * round with exact DECIMAL(30,15) dimension sums, final centroids
      * `cfin`, and the full-corpus nearest-cell assignment `casn`
      * (ties to the larger cell). Twin of
      * Similarity.kMeansCentroids(numCells=4, iters=1, sampleN=64) +
      * nearestCell over every corpus vector.
      */
    private def ivfCellCtes: String = {
      val h = duckHash61("'ivf42:' || CAST(id AS VARCHAR)")
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |smp AS (SELECT id, v, $h AS h FROM e ORDER BY h LIMIT 64),
         |init AS (SELECT row_number() OVER (ORDER BY h) - 1 AS cell, v
         |         FROM (SELECT h, v FROM smp ORDER BY h LIMIT 4) t),
         |sasn AS (SELECT id, cell FROM (
         |   SELECT s.id, c.cell,
         |     row_number() OVER (PARTITION BY s.id
         |       ORDER BY ${cosineE("s.v", "c.v")} DESC, c.cell DESC) AS rnk
         |   FROM smp s CROSS JOIN init c) t WHERE rnk = 1),
         |sdim AS (SELECT a.cell, unnest(s.v) AS x,
         |                unnest(range(1, len(s.v) + 1)) AS pos
         |         FROM sasn a JOIN smp s USING(id)),
         |upd AS (SELECT cell, pos, SUM(CAST(x AS DECIMAL(30,15))) AS sd
         |        FROM sdim GROUP BY cell, pos),
         |cvec AS (SELECT cell, list(CAST(sd AS DOUBLE) ORDER BY pos) AS v
         |         FROM upd GROUP BY cell),
         |cfin AS (SELECT i.cell, COALESCE(c.v, i.v) AS v
         |         FROM init i LEFT JOIN cvec c USING (cell)),
         |casn AS (SELECT id, cell FROM (
         |  SELECT e.id, f.cell, row_number() OVER (PARTITION BY e.id
         |    ORDER BY ${cosineE("e.v", "f.v")} DESC, f.cell DESC) AS rnk
         |  FROM e CROSS JOIN cfin f) t WHERE rnk = 1)""".stripMargin
    }

    /** Twin of q135_cluster_balance: the q79 cell chain + the q99
      * uniform-priority rank (t = hash61 of the id string, weight 1)
      * per cell, rn ≤ 10.
      */
    def clusterBalanceSql: String = {
      val t = duckHash61("CAST(id AS VARCHAR)")
      s"""$ivfCellCtes,
         |rk AS (SELECT id, cell,
         |         row_number() OVER (PARTITION BY cell
         |           ORDER BY $t, id) AS rn
         |       FROM casn)
         |SELECT id AS vec_id, CAST(cell AS INT) AS cell
         |FROM rk WHERE rn <= 10 ORDER BY vec_id""".stripMargin
    }

    /** Twin of q271_ch_index: the q79/q135 cell chain + the q108
      * SQ quantization, reduced to the same (cell × dim) integer
      * moment table, the same exact ×10⁶ per-cell truncations and
      * the same integer CH division.
      */
    def chIndexSql: String =
      s"""$ivfCellCtes,
         |ex AS (SELECT id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM e),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qv
         |       FROM e CROSS JOIN sl),
         |j AS (SELECT casn.cell, qz.qv FROM casn JOIN qz USING (id)),
         |cp AS (SELECT cell, u2.pos AS pos,
         |        CAST(sum(u2.x) AS BIGINT) AS s,
         |        CAST(sum(u2.x * u2.x) AS BIGINT) AS ss,
         |        CAST(count(*) AS BIGINT) AS cnt
         |      FROM (SELECT cell, unnest([{'pos': i, 'x': qv[i]}
         |              for i in range(1, len(qv)+1)]) AS u2 FROM j)
         |      GROUP BY cell, u2.pos),
         |pc AS (SELECT cell, sum(CAST(s AS HUGEINT) * s) AS g,
         |        CAST(max(cnt) AS BIGINT) AS n_c FROM cp GROUP BY cell),
         |ar AS (SELECT CAST(sum(ss) AS HUGEINT) AS a2 FROM cp),
         |tr AS (SELECT sum(CAST(ts AS HUGEINT) * ts) AS t2 FROM
         |        (SELECT pos, CAST(sum(s) AS BIGINT) AS ts FROM cp
         |         GROUP BY pos)),
         |cm AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |        CAST(sum(n_c) AS BIGINT) AS n,
         |        sum((1000000 * g) // n_c) AS p6 FROM pc),
         |f AS (SELECT *, 1000000 * a2 AS a6, (1000000 * t2) // n AS t6
         |      FROM cm CROSS JOIN ar CROSS JOIN tr),
         |g2 AS (SELECT *, greatest(a6 - p6, 0) AS w6,
         |        greatest(p6 - t6, 0) AS b6 FROM f)
         |SELECT n AS n_rows, k AS n_cells,
         |  CAST((1000000 * w6) // greatest(a6 - t6, 1) AS BIGINT)
         |    AS within_ppm,
         |  CAST((1000 * b6 * (n - k)) // greatest(w6 * (k - 1), 1)
         |    AS BIGINT) AS ch_x1000
         |FROM g2""".stripMargin

    /** Twin of q294_silhouette: the q271 cell/SQ CTEs, sign-symmetric
      * truncated centroids, per-(point, centroid) exact squared L2,
      * the same (b²−a²)/max(a²,b²) ppm CASE, per-cell mean.
      */
    def silhouetteSql: String =
      s"""$ivfCellCtes,
         |ex AS (SELECT id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM e),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qv
         |       FROM e CROSS JOIN sl),
         |px AS (SELECT id, cell, u2.pos AS pos, u2.x AS x
         |       FROM (SELECT qz.id, casn.cell,
         |               unnest([{'pos': i, 'x': qv[i]}
         |                       for i in range(1, len(qv)+1)]) AS u2
         |             FROM casn JOIN qz USING (id))),
         |cp AS (SELECT cell AS ccell, pos, CAST(sum(x) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM px GROUP BY cell, pos),
         |ct AS (SELECT ccell, pos,
         |         CAST(CASE WHEN s >= 0 THEN s // cnt
         |              ELSE -((-s) // cnt) END AS BIGINT) AS c
         |       FROM cp),
         |d2 AS (SELECT px.id, px.cell, ct.ccell,
         |         CAST(sum((px.x - ct.c) * (px.x - ct.c)) AS BIGINT) AS d2
         |       FROM px JOIN ct ON px.pos = ct.pos
         |       GROUP BY px.id, px.cell, ct.ccell),
         |ab AS (SELECT id, cell,
         |         CAST(sum(CASE WHEN ccell = cell THEN d2 END) AS BIGINT) AS a2,
         |         CAST(min(CASE WHEN ccell <> cell THEN d2 END) AS BIGINT) AS b2
         |       FROM d2 GROUP BY id, cell),
         |sp AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_points,
         |         CAST(sum(CASE WHEN b2 >= a2 THEN
         |             (1000000 * (b2 - a2)) // greatest(greatest(a2, b2), 1)
         |           ELSE -((1000000 * (a2 - b2)) //
         |             greatest(greatest(a2, b2), 1)) END) AS BIGINT) AS sps
         |       FROM ab GROUP BY cell)
         |SELECT cell, n_points,
         |  CAST(CASE WHEN sps >= 0 THEN sps // n_points
         |       ELSE -((-sps) // n_points) END AS BIGINT) AS mean_sil_ppm
         |FROM sp ORDER BY cell""".stripMargin

    /** Twin of q240_brand_affinity: the q162 arithmetic over
      * order-key baskets of distinct part brands.
      */
    def brandAffinitySql: String =
      s"""WITH it AS (SELECT DISTINCT l.l_orderkey AS u, p.p_brand AS itm
         |      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
         |b AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nb FROM it),
         |nx AS (SELECT itm AS x, CAST(count(*) AS BIGINT) AS n_x FROM it
         |       GROUP BY 1),
         |p AS (SELECT i1.itm AS x, i2.itm AS y,
         |        CAST(count(*) AS BIGINT) AS n_xy
         |      FROM it i1 JOIN it i2
         |        ON i1.u = i2.u AND i1.itm <> i2.itm
         |      GROUP BY 1, 2)
         |SELECT p.x, p.y, p.n_xy, nx.n_x, ny.n_x AS n_y,
         |  CAST((1000 * p.n_xy) // b.nb AS BIGINT) AS support_x1000,
         |  CAST((1000 * p.n_xy) // nx.n_x AS BIGINT) AS confidence_x1000,
         |  CAST((CAST(p.n_xy AS HUGEINT) * 1000 * b.nb)
         |    // (CAST(nx.n_x AS HUGEINT) * ny.n_x) AS BIGINT) AS lift_x1000
         |FROM p JOIN nx ON nx.x = p.x
         |JOIN nx ny ON ny.x = p.y CROSS JOIN b
         |ORDER BY p.x, p.y""".stripMargin

    /** Twin of q239_source_outliers: the q127 int8 quantization and
      * integer centroid sums keyed by SOURCE, the same
      * double-rounded micro-cosine and the same lowest-5 pick with
      * the (cos, id) tiebreak.
      */
    def sourceOutliersSql: String =
      s"""WITH ed AS (SELECT vec_id AS id,
         |        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT id, unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY 1),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT ed.id, d.source AS g,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qe
         |       FROM ed JOIN documents d ON d.doc_id = ed.id
         |       CROSS JOIN sl),
         |qx AS (SELECT g, unnest([{'pos': i, 'x': qe[i]}
         |                         for i in range(1, len(qe)+1)]) AS u
         |       FROM qz),
         |sm AS (SELECT g, u.pos AS pos, CAST(sum(u.x) AS BIGINT) AS sx
         |       FROM qx GROUP BY g, u.pos),
         |cvv AS (SELECT g, list(sx ORDER BY pos) AS cv FROM sm GROUP BY g),
         |cn AS (SELECT g, cv, CAST(list_sum([cv[i] * cv[i]
         |          for i in range(1, len(cv)+1)]) AS BIGINT) AS n2c
         |       FROM cvv),
         |scd AS (SELECT qz.id, qz.g,
         |          CAST(list_sum([qz.qe[i] * cn.cv[i]
         |            for i in range(1, len(qz.qe)+1)]) AS BIGINT) AS d,
         |          CAST(list_sum([qz.qe[i] * qz.qe[i]
         |            for i in range(1, len(qz.qe)+1)]) AS BIGINT) AS n2q,
         |          cn.n2c
         |        FROM qz JOIN cn USING (g)),
         |cs AS (SELECT id, g, CASE WHEN n2q = 0 OR n2c = 0
         |          THEN CAST(0 AS BIGINT)
         |          ELSE CAST(round(d * 1000000.0
         |            / (sqrt(CAST(n2q AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE))))
         |            AS BIGINT) END AS cos_x1e6
         |       FROM scd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY g
         |        ORDER BY cos_x1e6, id) AS rn FROM cs)
         |SELECT g AS source, CAST(rn AS BIGINT) AS "rank", id AS doc_id,
         |  cos_x1e6
         |FROM r WHERE rn <= 5 ORDER BY source, "rank"""".stripMargin

    /** Twin of q238_vocab_jaccard: same distinct (group, word)
      * vocabularies, same intersection pair join, same exact-ppm
      * Jaccard and directional containments.
      */
    def vocabJaccardSql: String =
      s"""WITH v AS (SELECT DISTINCT source AS g,
         |        unnest(list_distinct(${tokensE("text")})) AS w
         |      FROM documents),
         |s AS (SELECT g, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY g),
         |i AS (SELECT a.g AS ga, b.g AS gb,
         |        CAST(count(*) AS BIGINT) AS n_common
         |      FROM v a JOIN v b ON b.w = a.w AND a.g < b.g
         |      GROUP BY 1, 2)
         |SELECT i.ga AS group_a, i.gb AS group_b,
         |  sa.nv AS n_a, sb.nv AS n_b, i.n_common,
         |  CAST((1000000 * i.n_common) // (sa.nv + sb.nv - i.n_common)
         |    AS BIGINT) AS jaccard_ppm,
         |  CAST((1000000 * i.n_common) // sa.nv AS BIGINT)
         |    AS containment_a_ppm,
         |  CAST((1000000 * i.n_common) // sb.nv AS BIGINT)
         |    AS containment_b_ppm
         |FROM i JOIN s sa ON sa.g = i.ga JOIN s sb ON sb.g = i.gb
         |ORDER BY group_a, group_b""".stripMargin

    /** Twin of q237_cluster_labels: the q79/q135 IVF cell chain, the
      * same distinct-word explode, the same exact-ppm lift with the
      * min-df floor and the (lift DESC, word, df_in) top-3.
      */
    def clusterLabelsSql: String =
      s"""$ivfCellCtes,
         |wd AS (SELECT doc_id AS id,
         |         unnest(list_distinct(${tokensE("text")})) AS w
         |       FROM documents),
         |tg AS (SELECT wd.id, wd.w, casn.cell FROM wd
         |       JOIN casn USING (id)),
         |nc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM casn GROUP BY cell),
         |ntt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM casn),
         |din AS (SELECT cell, w, CAST(count(*) AS BIGINT) AS df_in
         |        FROM tg GROUP BY 1, 2),
         |dall AS (SELECT w, CAST(count(*) AS BIGINT) AS df_all
         |         FROM tg GROUP BY 1),
         |sc AS (SELECT din.cell, din.w, din.df_in, nc.n_docs,
         |         CAST((CAST(din.df_in AS HUGEINT) * ntt.n_total * 1000000)
         |           // (CAST(dall.df_all AS HUGEINT) * nc.n_docs)
         |           AS BIGINT) AS lift_ppm
         |       FROM din JOIN dall USING (w) JOIN nc USING (cell)
         |       CROSS JOIN ntt
         |       WHERE din.df_in >= 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cell
         |        ORDER BY lift_ppm DESC, w, df_in) AS rn FROM sc)
         |SELECT CAST(cell AS INT) AS cell, CAST(rn AS BIGINT) AS "rank",
         |  w AS word, df_in, n_docs AS n_cluster_docs, lift_ppm
         |FROM r WHERE rn <= 3 ORDER BY cell, "rank"""".stripMargin

    def ivfAutoSql: String = {
      s"""$ivfCellCtes,
         |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 3),
         |qp AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, f.cell, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineE("q.qv", "f.v")} DESC, f.cell DESC) AS rnk
         |  FROM q CROSS JOIN cfin f) t WHERE rnk <= 2),
         |scored AS (
         |  SELECT qp.query_id, ca.id, ${cosineE("ev.v", "qq.qv")} AS sim
         |  FROM qp JOIN casn ca ON ca.cell = qp.cell
         |       JOIN e ev ON ev.id = ca.id
         |       JOIN q qq ON qq.query_id = qp.query_id),
         |ranked AS (SELECT query_id, id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS "rank"
         |  FROM scored)
         |SELECT query_id, id, round(sim, 4) AS sim, "rank" FROM ranked
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin
    }

    /** Twin of q134_hard_negatives: q28's cosine ranking with the
      * wrong-label filter and a 5-query set.
      */
    def hardNegativesSql: String =
      s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
         |             label AS lbl FROM embeddings),
         |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         |        label AS qlbl FROM embeddings WHERE vec_id < 5),
         |scored AS (SELECT q.query_id, c.id, ${cosineE("c.v", "q.qv")} AS sim
         |  FROM c CROSS JOIN q WHERE c.lbl <> q.qlbl),
         |ranked AS (SELECT query_id, id, sim,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id)
         |    AS "rank"
         |  FROM scored)
         |SELECT query_id, id, round(sim, 4) AS sim, "rank" FROM ranked
         |WHERE "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin

    /** Twin of q123_ann_recall: the q79 IVF pipeline (shared
      * ivfCellCtes) vs a brute-force ranking over the same queries,
      * joined on (query_id, id), integer recall×1000. Both rankings
      * tiebreak sim DESC then id ASC — the q28/q79-proven pattern —
      * so the two k-sets are engine-exact.
      */
    def annRecallSql: String =
      s"""$ivfCellCtes,
         |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 3),
         |qp AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, f.cell, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineE("q.qv", "f.v")} DESC, f.cell DESC) AS rnk
         |  FROM q CROSS JOIN cfin f) t WHERE rnk <= 2),
         |scored AS (
         |  SELECT qp.query_id, ca.id, ${cosineE("ev.v", "qq.qv")} AS sim
         |  FROM qp JOIN casn ca ON ca.cell = qp.cell
         |       JOIN e ev ON ev.id = ca.id
         |       JOIN q qq ON qq.query_id = qp.query_id),
         |ann AS (SELECT query_id, id FROM (SELECT query_id, id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM scored) t WHERE rnk <= 5),
         |bscored AS (SELECT q.query_id, ev.id, ${cosineE("ev.v", "q.qv")} AS sim
         |  FROM e ev CROSS JOIN q),
         |bex AS (SELECT query_id, id FROM (SELECT query_id, id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM bscored) t WHERE rnk <= 5),
         |h AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM ann a JOIN bex b ON a.query_id = b.query_id AND a.id = b.id
         |      GROUP BY a.query_id)
         |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST((1000 * COALESCE(h.n_hits, 0)) // 5 AS BIGINT) AS recall_x1000
         |FROM (SELECT DISTINCT query_id FROM bex) qq LEFT JOIN h USING (query_id)
         |ORDER BY qq.query_id""".stripMargin

    /** Twin of q147_rank_eval: the q123 CTEs with ranks kept on both
      * rankings, gains from the SAME emitted integer CASE tables
      * (graft.sim.Similarity.dcgGainCaseSql / idcgCaseSql) — the
      * one-emitter discipline makes the nDCG surface engine-exact
      * despite its logarithmic definition.
      */
    def rankEvalSql: String = {
      val gain = graft.sim.Similarity.dcgGainCaseSql("a.rank", 5)
      val idcg = graft.sim.Similarity.idcgCaseSql("n_gt", 5)
      s"""$ivfCellCtes,
         |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 3),
         |qp AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, f.cell, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineE("q.qv", "f.v")} DESC, f.cell DESC) AS rnk
         |  FROM q CROSS JOIN cfin f) t WHERE rnk <= 2),
         |scored AS (
         |  SELECT qp.query_id, ca.id, ${cosineE("ev.v", "qq.qv")} AS sim
         |  FROM qp JOIN casn ca ON ca.cell = qp.cell
         |       JOIN e ev ON ev.id = ca.id
         |       JOIN q qq ON qq.query_id = qp.query_id),
         |ann AS (SELECT query_id, id, CAST(rnk AS BIGINT) AS rank
         |  FROM (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM scored) t WHERE rnk <= 5),
         |bscored AS (SELECT q.query_id, ev.id, ${cosineE("ev.v", "q.qv")} AS sim
         |  FROM e ev CROSS JOIN q),
         |bex AS (SELECT query_id, id FROM (SELECT query_id, id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM bscored) t WHERE rnk <= 5),
         |h AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits,
         |        CAST(min(a.rank) AS BIGINT) AS fhr,
         |        CAST(sum($gain) AS BIGINT) AS dcg
         |      FROM ann a JOIN bex b ON a.query_id = b.query_id AND a.id = b.id
         |      GROUP BY a.query_id),
         |g AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_gt
         |      FROM bex GROUP BY 1)
         |SELECT g.query_id, COALESCE(n_hits, 0) AS n_hits,
         |  COALESCE(fhr, 0) AS first_hit_rank,
         |  CAST(CASE WHEN COALESCE(fhr, 0) > 0 THEN 1000 // fhr
         |       ELSE 0 END AS BIGINT) AS mrr_x1000,
         |  CAST((1000 * COALESCE(dcg, 0)) // greatest($idcg, 1) AS BIGINT)
         |    AS ndcg_x1000
         |FROM g LEFT JOIN h USING (query_id) ORDER BY g.query_id""".stripMargin
    }

    /** Twin of q291_map_eval: the q147 CTEs with an ordered
      * cumulative-hit window inside each query's k-bounded hit table;
      * precision@r and AP truncate identically in both engines.
      */
    def mapEvalSql: String =
      s"""$ivfCellCtes,
         |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 3),
         |qp AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, f.cell, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineE("q.qv", "f.v")} DESC, f.cell DESC) AS rnk
         |  FROM q CROSS JOIN cfin f) t WHERE rnk <= 2),
         |scored AS (
         |  SELECT qp.query_id, ca.id, ${cosineE("ev.v", "qq.qv")} AS sim
         |  FROM qp JOIN casn ca ON ca.cell = qp.cell
         |       JOIN e ev ON ev.id = ca.id
         |       JOIN q qq ON qq.query_id = qp.query_id),
         |ann AS (SELECT query_id, id, CAST(rnk AS BIGINT) AS rank
         |  FROM (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM scored) t WHERE rnk <= 5),
         |bscored AS (SELECT q.query_id, ev.id, ${cosineE("ev.v", "q.qv")} AS sim
         |  FROM e ev CROSS JOIN q),
         |bex AS (SELECT query_id, id FROM (SELECT query_id, id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM bscored) t WHERE rnk <= 5),
         |pr AS (SELECT a.query_id, a.rank,
         |    CAST(count(*) OVER (PARTITION BY a.query_id ORDER BY a.rank)
         |      AS BIGINT) AS cum
         |  FROM ann a JOIN bex b ON a.query_id = b.query_id AND a.id = b.id),
         |h AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
         |    CAST(sum((1000000 * cum) // rank) AS BIGINT) AS sp
         |  FROM pr GROUP BY 1),
         |g AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_gt
         |      FROM bex GROUP BY 1)
         |SELECT g.query_id, COALESCE(n_hits, 0) AS n_hits,
         |  CAST(COALESCE(sp, 0) // greatest(n_gt, 1) AS BIGINT) AS ap_x1e6
         |FROM g LEFT JOIN h USING (query_id) ORDER BY g.query_id""".stripMargin

    /** Twin of q292_phonetic_blocking: the SAME generated
      * simplified-Soundex expression chain
      * (graft.dedup.Linkage.phoneticKeySql, gFlag for RE2), pairs
      * within each key over the distinct word vocabulary.
      */
    def phoneticBlockingSql: String = {
      val pk = graft.dedup.Linkage.phoneticKeySql("w", gFlag = true)
      s"""WITH w0 AS (SELECT unnest(string_split(p_name, ' ')) AS w FROM part),
         |w AS (SELECT DISTINCT w FROM w0 WHERE length(w) > 0),
         |k AS (SELECT w, $pk AS pkey FROM w),
         |kb AS (SELECT w, pkey,
         |  CAST(count(*) OVER (PARTITION BY pkey) AS BIGINT) AS n_block
         |  FROM k)
         |SELECT a.pkey AS pkey, a.w AS word_a, b.w AS word_b,
         |  a.n_block AS n_block
         |FROM kb a JOIN kb b ON a.pkey = b.pkey AND a.w < b.w
         |ORDER BY pkey, word_a, word_b""".stripMargin
    }

    /** Twin of q81_semdedup: the q79 IVF cells, then within each cell
      * drop every vector with a lower-id neighbor at cosine >= 0.4
      * (each near-dup chain keeps its min id).
      */
    def semDedupSql: String =
      s"""$ivfCellCtes,
         |p AS (SELECT x.id AS id
         |      FROM casn x JOIN casn y ON x.cell = y.cell AND y.id < x.id
         |      JOIN e ex ON ex.id = x.id JOIN e ey ON ey.id = y.id
         |      WHERE ${cosineE("ex.v", "ey.v")} >= 0.4
         |      GROUP BY x.id)
         |SELECT c.id AS vec_id, CAST(c.cell AS INT) AS cell,
         |  (p.id IS NULL) AS kept
         |FROM casn c LEFT JOIN p ON p.id = c.id ORDER BY vec_id""".stripMargin

    /** Twin of q80_dup_ngram_spans: positioned 5-gram hashes, grams in
      * >= 2 distinct docs, per-doc gaps-and-islands union via a running
      * max window (contribution = tokens past the previous covered
      * end).
      */
    def dupNgramSpansSql: String = {
      val gramHash = duckHash61("array_to_string(w[i:i+4], ' ')")
      s"""WITH t AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |tt AS (SELECT doc_id, w, len(w) AS n_tokens FROM t WHERE len(w) >= 5),
         |g AS (SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
         |  SELECT doc_id,
         |    unnest([{'pos': i - 1, 'h': $gramHash}
         |            for i in range(1, len(w) - 3)]) AS u
         |  FROM tt) z),
         |dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM g) gd
         |        GROUP BY h HAVING count(*) >= 2),
         |hit AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
         |sp AS (SELECT doc_id, pos,
         |         max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |       FROM hit),
         |agg AS (SELECT doc_id,
         |          SUM(CASE WHEN prev_end IS NULL THEN 5
         |              ELSE greatest(0, least(5, pos + 4 - prev_end)) END) AS dup_tokens
         |        FROM sp GROUP BY doc_id)
         |SELECT tt.doc_id, CAST(tt.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  round(CAST(COALESCE(agg.dup_tokens, 0) AS DOUBLE) / tt.n_tokens, 6) AS dup_frac
         |FROM tt LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
    }

    /** Twin of q83_dedup_cut: q80's positioned dup grams, each gram
      * attributed to its min-doc canonical owner; non-canonical
      * occurrences merge into islands, explode to covered positions,
      * and the surviving tokens reassemble in position order.
      */
    def dedupCutSql: String = {
      val gramHash = duckHash61("array_to_string(w[i:i+4], ' ')")
      s"""WITH t AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |tt AS (SELECT doc_id, w FROM t WHERE len(w) >= 5),
         |g AS (SELECT doc_id, u['pos'] AS pos, u['h'] AS h FROM (
         |  SELECT doc_id,
         |    unnest([{'pos': i - 1, 'h': $gramHash}
         |            for i in range(1, len(w) - 3)]) AS u
         |  FROM tt) z),
         |dup AS (SELECT h, min(doc_id) AS keep_id
         |        FROM (SELECT DISTINCT h, doc_id FROM g) gd
         |        GROUP BY h HAVING count(*) >= 2),
         |hit AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)
         |        WHERE g.doc_id != dup.keep_id),
         |sp AS (SELECT doc_id, pos,
         |         max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |       FROM hit),
         |isl AS (SELECT doc_id, pos,
         |          SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_id ORDER BY pos
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |        FROM sp),
         |rng AS (SELECT doc_id, min(pos) AS lo, max(pos) + 4 AS hi
         |        FROM isl GROUP BY doc_id, isl),
         |cov AS (SELECT doc_id, unnest(range(lo, hi + 1)) AS pos FROM rng),
         |tok AS (SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok FROM (
         |  SELECT doc_id,
         |    unnest(list_transform(w, (x, i) -> {'pos': i - 1, 'tok': x})) AS u
         |  FROM t) z),
         |kept AS (SELECT k.doc_id, count(*) AS n_kept,
         |           array_to_string(list(k.tok ORDER BY k.pos), ' ') AS text_clean
         |         FROM tok k LEFT JOIN cov c
         |           ON c.doc_id = k.doc_id AND c.pos = k.pos
         |         WHERE c.pos IS NULL GROUP BY k.doc_id)
         |SELECT b.doc_id,
         |  CAST(len(b.w) - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(kept.text_clean, '') AS text_clean
         |FROM t b LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin
    }

    /** Twin of q84_weighted_interleave: per-(shard, source) hash rank,
      * vt = rank / weight (one IEEE division of an integer rank by a
      * literal — bit-identical across engines), merged per shard by
      * (vt, hash, doc_id).
      */
    def weightedInterleaveSql: String = {
      val sh = duckHash61("'shard42:' || CAST(doc_id AS VARCHAR)")
      val ord = duckHash61("'ord42:' || CAST(doc_id AS VARCHAR)")
      s"""WITH x AS (SELECT doc_id, source,
         |    CAST($sh % 8 AS INT) AS shard, $ord AS o
         |  FROM documents),
         |r AS (SELECT doc_id, source, shard, o,
         |    CAST(row_number() OVER (PARTITION BY shard, source
         |        ORDER BY o, doc_id) AS DOUBLE)
         |      / (CASE WHEN source = 'src0' THEN 3.0
         |              WHEN source = 'src1' THEN 0.7 ELSE 1.0 END) AS vt
         |  FROM x)
         |SELECT doc_id, source, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY vt, o, doc_id) AS pos
         |FROM r ORDER BY doc_id""".stripMargin
    }

    /** rho of the 51 post-bucket hash bits as a pure comparison ladder:
      * rho = 52 - bitlength(w), written as a CASE over the power-of-two
      * thresholds so the twin contains only arithmetic/comparison
      * operators — `length(bin(w))` assumed minimal-width `bin()`
      * output, a FORMAT (not value) assumption an engine build could
      * change (the r7/r8 failure class). w < 2^51 by construction
      * (61-bit hash >> 10), so the ladder tops out at 2^50 → rho 1.
      */
    private val rhoCaseE: String =
      "CASE WHEN w = 0 THEN 52 " +
        (50 to 1 by -1).map(j => s"WHEN w >= ${1L << j} THEN ${51 - j}")
          .mkString(" ") + " ELSE 51 END"

    /** Twin of q85_hll_distinct: the identical integer-exact HLL —
      * bucket = h % 1024, rho via the [[rhoCaseE]] threshold ladder,
      * register sums as exact BIGINT Σ 2^(52-reg), empty buckets at
      * 2^52, and the estimate as HUGEINT integer division of the same
      * precomputed 23-digit constant ([[graft.ops.Sketch.HllEstNumX10]])
      * by the register sum — no float anywhere, so no round()-ulp
      * divergence across DuckDB builds. The register sum is CAST to
      * BIGINT (fits: max 1024·2^52 = 2^62) — DuckDB SUM(BIGINT) widens
      * to HUGEINT, which the driver fetches as float64, lossy past 2^53
      * (the r8 hash-fail root cause).
      */
    def hllDistinctSql: String = {
      val h = duckHash61("tok")
      s"""WITH t AS (SELECT lang, unnest(${tokensE("text")}) AS tok FROM documents),
         |hx AS (SELECT lang, tok, $h AS h FROM t),
         |b AS (SELECT lang, h % 1024 AS bucket, h // 1024 AS w FROM hx),
         |r AS (SELECT lang, bucket, max($rhoCaseE) AS reg
         |      FROM b GROUP BY lang, bucket),
         |s AS (SELECT lang,
         |        CAST(SUM(1::BIGINT << (52 - reg))
         |          + (1024 - count(*)) * (1::BIGINT << 52) AS BIGINT)
         |          AS hll_reg_sum
         |      FROM r GROUP BY lang),
         |e AS (SELECT lang, count(DISTINCT tok) AS n_exact FROM t GROUP BY lang)
         |SELECT e.lang, CAST(e.n_exact AS BIGINT) AS n_exact, s.hll_reg_sum,
         |  CAST(CAST('${graft.ops.Sketch.HllEstNumX10}' AS HUGEINT)
         |    // s.hll_reg_sum AS BIGINT) AS hll_est_x10
         |FROM e JOIN s USING (lang) ORDER BY lang""".stripMargin
    }

    /** Twin of q101_hll_windowed: the same relational register
      * construction as [[hllDistinctSql]], keyed by (hour,
      * event_type) — the Spark side runs the ONE-PASS `HllAgg` UDAF,
      * so this hash match pins the aggregator's native fold against
      * the relational derivation in the driver's own gate.
      */
    def hllWindowedSql: String = {
      val h = duckHash61("CAST(user_id AS VARCHAR)")
      s"""WITH t AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         |             event_type, $h AS h
         |           FROM events),
         |b AS (SELECT hour, event_type, h % 1024 AS bucket,
         |        h // 1024 AS w FROM t),
         |r AS (SELECT hour, event_type, bucket, max($rhoCaseE) AS reg
         |      FROM b GROUP BY 1, 2, 3),
         |s AS (SELECT hour, event_type,
         |        CAST(SUM(1::BIGINT << (52 - reg))
         |          + (1024 - count(*)) * (1::BIGINT << 52) AS BIGINT)
         |          AS hll_reg_sum
         |      FROM r GROUP BY 1, 2)
         |SELECT hour, event_type, hll_reg_sum,
         |  CAST(CAST('${graft.ops.Sketch.HllEstNumX10}' AS HUGEINT)
         |    // hll_reg_sum AS BIGINT) AS hll_est_x10
         |FROM s ORDER BY hour, event_type""".stripMargin
    }

    /** Twin of q102_kmv_windowed: bottom-256 per (hour, event_type)
      * rebuilt relationally (distinct → row_number → rn ≤ k), q90's
      * stats readback. The Spark side runs the imperative
      * `KmvAggregate`; bottom-k of a distinct set is
      * partition-invariant, so the two must match bit for bit.
      */
    def kmvWindowedSql: String = {
      val k = 256
      val h = duckHash61("CAST(user_id AS VARCHAR)")
      s"""WITH t AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         |             event_type, $h AS h
         |           FROM events),
         |hx AS (SELECT DISTINCT hour, event_type, h FROM t),
         |r AS (SELECT hour, event_type, h, row_number() OVER (
         |        PARTITION BY hour, event_type ORDER BY h) AS rn
         |      FROM hx),
         |sk AS (SELECT hour, event_type, CAST(count(*) AS BIGINT) AS kmv_n,
         |         max(h) AS kmv_kth
         |       FROM r WHERE rn <= $k GROUP BY 1, 2)
         |SELECT hour, event_type, kmv_n,
         |  CAST(kmv_kth AS BIGINT) AS kmv_kth,
         |  CAST(CASE WHEN kmv_n < $k THEN kmv_n * 10
         |       ELSE CAST('${graft.ops.Sketch.kmvEstNumX10(k)}' AS HUGEINT)
         |         // greatest(kmv_kth, 1) END AS BIGINT) AS kmv_est_x10
         |FROM sk ORDER BY hour, event_type""".stripMargin
    }

    /** Twin of q103_cms_agg: the count-min table rebuilt relationally
      * (q97's cell construction keyed by event_type over user_id),
      * top-3 exact users per type, point estimate = min over the d
      * probed cells. Cell-wise add is associative, so the imperative
      * buffer must equal this bit for bit.
      */
    def cmsAggSql: String = {
      val w = 1024
      val k = 4
      val h = duckHash61("CAST(user_id AS VARCHAR)")
      def cellsE(xE: String): String =
        (0 until k).map(j =>
          s"{'row': $j, 'col': (${duckHashAt(xE, j)} % $w)}")
          .mkString("[", ", ", "]")
      s"""WITH hx AS (SELECT event_type, user_id, $h AS x FROM events),
         |cells AS (SELECT event_type, unnest(${cellsE("x")}) AS u FROM hx),
         |cnts AS (SELECT event_type, u['row'] AS row, u['col'] AS col,
         |           count(*) AS cnt
         |         FROM cells GROUP BY 1, 2, 3),
         |ex AS (SELECT event_type, user_id, x, count(*) AS n_exact
         |       FROM hx GROUP BY 1, 2, 3),
         |top AS (SELECT event_type, user_id, x, n_exact FROM (
         |          SELECT event_type, user_id, x, n_exact, row_number() OVER (
         |            PARTITION BY event_type
         |            ORDER BY n_exact DESC, user_id) AS rn
         |          FROM ex) r WHERE rn <= 3),
         |pj AS (SELECT event_type, user_id, n_exact, u['row'] AS row,
         |         u['col'] AS col
         |       FROM (SELECT event_type, user_id, n_exact,
         |               unnest(${cellsE("x")}) AS u
         |             FROM top) q)
         |SELECT pj.event_type, pj.user_id, pj.n_exact,
         |  min(c.cnt) AS cms_est
         |FROM pj JOIN cnts c
         |  ON c.event_type = pj.event_type AND c.row = pj.row
         |  AND c.col = pj.col
         |GROUP BY 1, 2, 3
         |ORDER BY pj.event_type, pj.n_exact DESC, pj.user_id""".stripMargin
    }

    /** Twin of q104_kmv_matrix: bottom-128 per SOURCE rebuilt
      * relationally (the Spark side runs the imperative KmvAggregate —
      * bottom-k of a distinct set is construction-invariant), then
      * q94's pair estimator over all 190 source pairs, no exact
      * anchor. Integer and list-membership operators only.
      */
    def kmvMatrixSql: String = {
      val k = 128
      s"""WITH wd AS (SELECT source, ${tokensE("text")} AS w FROM documents),
         |sh0 AS (SELECT source, unnest(${shinglesE("w", 3)}) AS s FROM wd),
         |hx AS (SELECT DISTINCT source, ${duckHash61("s")} AS h FROM sh0),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |      FROM hx),
         |sk AS (SELECT source, list(h ORDER BY h) AS kmv
         |       FROM r WHERE rn <= $k GROUP BY source),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |         a.kmv AS kmv_a, b.kmv AS kmv_b
         |       FROM sk a JOIN sk b ON a.source < b.source),
         |j AS (SELECT src_a, src_b, kmv_a, kmv_b,
         |        list_sort(list_distinct(list_concat(kmv_a, kmv_b)))[1:$k] AS u
         |      FROM pr)
         |SELECT src_a, src_b,
         |  CAST(len(list_filter(u, x -> list_contains(kmv_a, x)
         |    AND list_contains(kmv_b, x))) AS BIGINT) AS kmv_match,
         |  CAST(len(u) AS BIGINT) AS kmv_denom
         |FROM j ORDER BY 1, 2""".stripMargin
    }

    /** Twin of q86_hll_merge: the WHOLE-CORPUS sketch. The Spark side
      * builds per-half register tables and merges them by element-wise
      * max; max over (lang, bucket) is associative, so the merged
      * sketch must equal this single-pass form bit-for-bit — the hash
      * match IS the merge-correctness proof at sf0.01.
      */
    def hllMergeSql: String = {
      val h = duckHash61("tok")
      s"""WITH t AS (SELECT lang, unnest(${tokensE("text")}) AS tok FROM documents),
         |hx AS (SELECT lang, tok, $h AS h FROM t),
         |b AS (SELECT lang, h % 1024 AS bucket, h // 1024 AS w FROM hx),
         |r AS (SELECT lang, bucket, max($rhoCaseE) AS reg
         |      FROM b GROUP BY lang, bucket),
         |s AS (SELECT lang,
         |        CAST(SUM(1::BIGINT << (52 - reg))
         |          + (1024 - count(*)) * (1::BIGINT << 52) AS BIGINT)
         |          AS hll_reg_sum
         |      FROM r GROUP BY lang)
         |SELECT lang, hll_reg_sum,
         |  CAST(CAST('${graft.ops.Sketch.HllEstNumX10}' AS HUGEINT)
         |    // hll_reg_sum AS BIGINT) AS hll_est_x10
         |FROM s ORDER BY lang""".stripMargin
    }

    /** Twin of q87_bloom_contamination: identical bloom construction —
      * positions from [[HashFns.duckHashAt]] mod 65536, words as
      * bit_or of 64-bit masks, probe = bool_and over the k=4 position
      * tests. Integer/boolean arithmetic only.
      */
    def bloomContaminationSql: String = {
      val mBits = 1 << 16
      val k = 4
      def positionsE(xE: String): String =
        (0 until k).map(j => s"(${duckHashAt(xE, j)} % $mBits)")
          .mkString("[", ", ", "]")
      // bit 63: DuckDB overflow-checks 1::BIGINT << 63, Spark's
      // shiftleft wraps to Long.MinValue — write the sign bit explicitly
      val maskE =
        "CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1) " +
          "ELSE 1::BIGINT << CAST(pos % 64 AS INT) END"
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(${shinglesE("w", 3)})) AS s FROM words),
         |h AS (SELECT id, ${duckHash61("s")} AS x FROM sh),
         |evpos AS (SELECT unnest(${positionsE("x")}) AS pos FROM h WHERE id % 50 = 0),
         |bw AS (SELECT pos // 64 AS widx, bit_or($maskE) AS word
         |       FROM evpos GROUP BY widx),
         |pp AS (SELECT id, x, unnest(${positionsE("x")}) AS pos FROM h),
         |pb AS (SELECT id, x, pos // 64 AS widx,
         |         ($maskE) AS mask FROM pp),
         |pj AS (SELECT id, x,
         |         bool_and((COALESCE(b.word, 0) & mask) = mask) AS maybe
         |       FROM pb LEFT JOIN bw b USING (widx) GROUP BY id, x)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
         |FROM pj GROUP BY id ORDER BY id""".stripMargin
    }

    /** Twin of q89_bloom_flag: q87's bloom construction and probe,
      * finished as the per-doc boolean gate (maxHits = 0 ⇒ contaminated
      * = any shingle probes positive). Docs with no shingle (text
      * shorter than n words) left-join to FALSE, matching the Spark
      * side's coalesce(n_bloom_hits, 0) > 0.
      */
    def bloomFlagSql: String = {
      val mBits = 1 << 16
      val k = 4
      def positionsE(xE: String): String =
        (0 until k).map(j => s"(${duckHashAt(xE, j)} % $mBits)")
          .mkString("[", ", ", "]")
      val maskE =
        "CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1) " +
          "ELSE 1::BIGINT << CAST(pos % 64 AS INT) END"
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(${shinglesE("w", 3)})) AS s FROM words),
         |h AS (SELECT id, ${duckHash61("s")} AS x FROM sh),
         |evpos AS (SELECT unnest(${positionsE("x")}) AS pos FROM h WHERE id % 50 = 0),
         |bw AS (SELECT pos // 64 AS widx, bit_or($maskE) AS word
         |       FROM evpos GROUP BY widx),
         |pp AS (SELECT id, x, unnest(${positionsE("x")}) AS pos FROM h),
         |pb AS (SELECT id, x, pos // 64 AS widx,
         |         ($maskE) AS mask FROM pp),
         |pj AS (SELECT id, x,
         |         bool_and((COALESCE(b.word, 0) & mask) = mask) AS maybe
         |       FROM pb LEFT JOIN bw b USING (widx) GROUP BY id, x),
         |f AS (SELECT id, bool_or(maybe) AS any_hit FROM pj GROUP BY id)
         |SELECT d.doc_id, COALESCE(f.any_hit, FALSE) AS contaminated
         |FROM documents d LEFT JOIN f ON d.doc_id = f.id
         |ORDER BY d.doc_id""".stripMargin
    }

    /** Twin of q88_cms_topk: identical count-min construction — cells
      * from [[duckHashAt]] mod w for each token occurrence, exact
      * top-20 (count DESC, token tiebreak), point estimate = min over
      * the d probed cells. Integer arithmetic only.
      */
    def cmsTopkSql: String = {
      val w = 8192
      val k = 4
      def cellsE(xE: String): String =
        (0 until k).map(j =>
          s"{'row': $j, 'col': (${duckHashAt(xE, j)} % $w)}")
          .mkString("[", ", ", "]")
      s"""WITH t AS (SELECT unnest(${tokensE("text")}) AS tok FROM documents),
         |hx AS (SELECT tok, ${duckHash61("tok")} AS x FROM t),
         |cells AS (SELECT unnest(${cellsE("x")}) AS u FROM hx),
         |cnts AS (SELECT u['row'] AS row, u['col'] AS col, count(*) AS cnt
         |         FROM cells GROUP BY 1, 2),
         |top AS (SELECT tok, count(*) AS n_exact FROM hx GROUP BY tok
         |        ORDER BY n_exact DESC, tok LIMIT 20),
         |tx AS (SELECT tok, n_exact, ${duckHash61("tok")} AS x FROM top),
         |pj AS (SELECT tok, n_exact, u['row'] AS row, u['col'] AS col
         |       FROM (SELECT tok, n_exact, unnest(${cellsE("x")}) AS u FROM tx))
         |SELECT tok, n_exact, min(cnt) AS cms_est
         |FROM pj JOIN cnts USING (row, col)
         |GROUP BY tok, n_exact ORDER BY n_exact DESC, tok""".stripMargin
    }

    /** Twin of q90_kmv_distinct: identical KMV — distinct (lang,
      * shingle-hash), bottom-256 via row_number, kth = max of the held
      * values, estimate = the precomputed integer numerator
      * ([[graft.ops.Sketch.kmvEstNumX10]]) HUGEINT-divided by kth (or
      * exact-count×10 when the sketch is not full). The CASE result is
      * HUGEINT (one branch is), so the whole expression is CAST to
      * BIGINT — the r8 HUGEINT-fetch rule.
      */
    def kmvDistinctSql: String = {
      val k = 256
      s"""WITH wd AS (SELECT lang, ${tokensE("text")} AS w FROM documents),
         |sh0 AS (SELECT lang, unnest(${shinglesE("w", 3)}) AS s FROM wd),
         |hx AS (SELECT DISTINCT lang, ${duckHash61("s")} AS h FROM sh0),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |      FROM hx),
         |sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS kmv_n,
         |         max(h) AS kmv_kth
         |       FROM r WHERE rn <= $k GROUP BY lang),
         |e AS (SELECT lang, count(DISTINCT s) AS n_exact FROM sh0 GROUP BY lang)
         |SELECT e.lang, CAST(e.n_exact AS BIGINT) AS n_exact, sk.kmv_n,
         |  CAST(sk.kmv_kth AS BIGINT) AS kmv_kth,
         |  CAST(CASE WHEN sk.kmv_n < $k THEN sk.kmv_n * 10
         |       ELSE CAST('${graft.ops.Sketch.kmvEstNumX10(k)}' AS HUGEINT)
         |         // greatest(sk.kmv_kth, 1) END AS BIGINT) AS kmv_est_x10
         |FROM e JOIN sk USING (lang) ORDER BY lang""".stripMargin
    }

    /** Twin of q91_kmv_merge: the WHOLE-CORPUS single-pass KMV. The
      * Spark side builds per-half sketches and merges (k smallest of
      * the distinct union); every global bottom-k hash is inside its
      * half's bottom-k, so the merged sketch must equal this
      * bit-for-bit — the hash match IS the merge proof.
      */
    def kmvMergeSql: String = {
      val k = 256
      s"""WITH wd AS (SELECT lang, ${tokensE("text")} AS w FROM documents),
         |sh0 AS (SELECT lang, unnest(${shinglesE("w", 3)}) AS s FROM wd),
         |hx AS (SELECT DISTINCT lang, ${duckHash61("s")} AS h FROM sh0),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |      FROM hx),
         |sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS kmv_n,
         |         max(h) AS kmv_kth
         |       FROM r WHERE rn <= $k GROUP BY lang)
         |SELECT lang, kmv_n, CAST(kmv_kth AS BIGINT) AS kmv_kth,
         |  CAST(CASE WHEN kmv_n < $k THEN kmv_n * 10
         |       ELSE CAST('${graft.ops.Sketch.kmvEstNumX10(k)}' AS HUGEINT)
         |         // greatest(kmv_kth, 1) END AS BIGINT) AS kmv_est_x10
         |FROM sk ORDER BY lang""".stripMargin
    }

    /** Twin of q92_hist_quantiles: single-pass fixed-bin histogram
      * (sum is associative, so it must equal Spark's merged per-half
      * build), cumulative window over the tiny bin table, smallest bin
      * reaching ceil(pct·N/100). SUM() OVER is HUGEINT in DuckDB —
      * every final column is CAST to BIGINT.
      */
    def histQuantilesSql: String =
      s"""WITH v AS (SELECT CAST(len(${tokensE("text")}) AS BIGINT) AS v
         |           FROM documents),
         |h AS (SELECT v // 8 AS bin, count(*) AS cnt FROM v GROUP BY 1),
         |c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum,
         |        SUM(cnt) OVER () AS total FROM h),
         |p AS (SELECT bin, cum, total, unnest([50, 90, 99]) AS pct FROM c),
         |r AS (SELECT pct, (pct * total + 99) // 100 AS target_rank,
         |        min(bin) AS bin
         |      FROM p WHERE cum >= (pct * total + 99) // 100
         |      GROUP BY pct, total)
         |SELECT CAST(pct AS BIGINT) AS pct,
         |  CAST(target_rank AS BIGINT) AS target_rank,
         |  CAST(bin AS BIGINT) AS bin, CAST(bin * 8 AS BIGINT) AS bin_lo
         |FROM r ORDER BY pct""".stripMargin

    /** Twin of q93_minhash_sources: per-source 32-component MinHash
      * signature over the distinct shingle-hash set, pairwise component
      * agreement, exact intersection/union from the same distinct set.
      * Integer/boolean arithmetic only.
      */
    def minhashSourcesSql: String = {
      val K = 32
      val sigCols = (0 until K).map(j =>
        s"min(${duckHashAt("x", j)}) AS m$j").mkString(", ")
      val agreeE = (0 until K).map(j =>
        s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH wd AS (SELECT source, ${tokensE("text")} AS w FROM documents),
         |sh0 AS (SELECT source, unnest(${shinglesE("w", 3)}) AS s FROM wd),
         |sh AS (SELECT DISTINCT source, ${duckHash61("s")} AS x FROM sh0),
         |sig AS (SELECT source, count(*) AS n_sh, $sigCols
         |        FROM sh GROUP BY source),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |         a.n_sh AS na, b.n_sh AS nb, ($agreeE) AS sig_agree
         |       FROM sig a JOIN sig b ON a.source < b.source),
         |iv AS (SELECT l.source AS src_a, r.source AS src_b,
         |         count(*) AS n_inter
         |       FROM sh l JOIN sh r
         |         ON l.x = r.x AND l.source < r.source GROUP BY 1, 2)
         |SELECT pr.src_a, pr.src_b, CAST(pr.sig_agree AS BIGINT) AS sig_agree,
         |  CAST(COALESCE(iv.n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(pr.na + pr.nb - COALESCE(iv.n_inter, 0) AS BIGINT) AS n_union
         |FROM pr LEFT JOIN iv
         |  ON pr.src_a = iv.src_a AND pr.src_b = iv.src_b
         |ORDER BY 1, 2""".stripMargin
    }

    /** Twin of q97_cms_by_lang: q88's count-min construction with a
      * language dimension — cells grouped by (lang, row, col), exact
      * top-5 per language via row_number (count DESC, token tiebreak),
      * point estimate = min over the d probed cells of THAT language's
      * table. Integer arithmetic only (count(*) is BIGINT, no HUGEINT
      * sums).
      */
    def cmsByLangSql: String = {
      val w = 8192
      val k = 4
      def cellsE(xE: String): String =
        (0 until k).map(j =>
          s"{'row': $j, 'col': (${duckHashAt(xE, j)} % $w)}")
          .mkString("[", ", ", "]")
      s"""WITH t AS (SELECT lang, unnest(${tokensE("text")}) AS tok FROM documents),
         |hx AS (SELECT lang, tok, ${duckHash61("tok")} AS x FROM t),
         |cells AS (SELECT lang, unnest(${cellsE("x")}) AS u FROM hx),
         |cnts AS (SELECT lang, u['row'] AS row, u['col'] AS col,
         |           count(*) AS cnt
         |         FROM cells GROUP BY 1, 2, 3),
         |ex AS (SELECT lang, tok, count(*) AS n_exact FROM hx GROUP BY 1, 2),
         |top AS (SELECT lang, tok, n_exact FROM (
         |          SELECT lang, tok, n_exact, row_number() OVER (
         |            PARTITION BY lang ORDER BY n_exact DESC, tok) AS rn
         |          FROM ex) r WHERE rn <= 5),
         |tx AS (SELECT lang, tok, n_exact, ${duckHash61("tok")} AS x FROM top),
         |pj AS (SELECT lang, tok, n_exact, u['row'] AS row, u['col'] AS col
         |       FROM (SELECT lang, tok, n_exact, unnest(${cellsE("x")}) AS u
         |             FROM tx) q)
         |SELECT pj.lang, pj.tok, pj.n_exact, min(c.cnt) AS cms_est
         |FROM pj JOIN cnts c
         |  ON c.lang = pj.lang AND c.row = pj.row AND c.col = pj.col
         |GROUP BY 1, 2, 3 ORDER BY pj.lang, pj.n_exact DESC, pj.tok""".stripMargin
    }

    /** Twin of q98_topk_shards: exact per-(lang, shard) counts, each
      * shard's top-32 kept via row_number (cnt DESC, tok tiebreak)
      * with thr = min kept count (0 when the shard kept fewer than
      * 32), merged into est_lo = Σ kept counts and est_hi = est_lo +
      * (Σ all shard thresholds − Σ thresholds of shards that kept the
      * token), top-5 per language by est_lo. Every sum is CAST AS
      * BIGINT (HUGEINT rule); +/− on cast BIGINTs stays BIGINT.
      */
    def topkShardsSql: String = {
      val kPrime = 32
      s"""WITH t AS (SELECT lang, doc_id % 4 AS shard,
         |             unnest(${tokensE("text")}) AS tok FROM documents),
         |c AS (SELECT lang, shard, tok, count(*) AS cnt
         |      FROM t GROUP BY 1, 2, 3),
         |r AS (SELECT lang, shard, tok, cnt, row_number() OVER (
         |        PARTITION BY lang, shard ORDER BY cnt DESC, tok) AS rn
         |      FROM c),
         |kept AS (SELECT lang, shard, tok, cnt FROM r WHERE rn <= $kPrime),
         |kthr AS (SELECT lang, shard, tok, cnt,
         |           CASE WHEN count(*) OVER (PARTITION BY lang, shard)
         |                  < $kPrime THEN CAST(0 AS BIGINT)
         |                ELSE min(cnt) OVER (PARTITION BY lang, shard)
         |           END AS thr
         |         FROM kept),
         |tt AS (SELECT lang, CAST(sum(thr_s) AS BIGINT) AS thr_tot FROM (
         |         SELECT lang, shard, max(thr) AS thr_s
         |         FROM kthr GROUP BY 1, 2) s GROUP BY 1),
         |m AS (SELECT lang, tok, CAST(sum(cnt) AS BIGINT) AS est_lo,
         |        CAST(sum(thr) AS BIGINT) AS thr_present
         |      FROM kthr GROUP BY 1, 2),
         |ex AS (SELECT lang, tok, CAST(sum(cnt) AS BIGINT) AS n_exact
         |       FROM c GROUP BY 1, 2),
         |top AS (SELECT m.lang, m.tok, m.est_lo,
         |          m.est_lo + tt.thr_tot - m.thr_present AS est_hi,
         |          row_number() OVER (PARTITION BY m.lang
         |            ORDER BY m.est_lo DESC, m.tok) AS rn
         |        FROM m JOIN tt ON tt.lang = m.lang)
         |SELECT top.lang, top.tok, top.est_lo, top.est_hi,
         |  CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact
         |FROM top LEFT JOIN ex
         |  ON ex.lang = top.lang AND ex.tok = top.tok
         |WHERE top.rn <= 5
         |ORDER BY top.lang, top.est_lo DESC, top.tok""".stripMargin
    }

    /** Twin of q99_priority_sample: t = hash61(doc_id) // max(w, 1)
      * (BIGINT // BIGINT stays BIGINT — no HUGEINT appears anywhere),
      * sample = 500 smallest by (t, doc_id) via ORDER BY + LIMIT, τ =
      * the 501st t (NULL when the corpus holds ≤ 500 docs), w_hat =
      * max(w, 2^61 // max(τ, 1)). 2^61 is a BIGINT literal on both
      * engines; every column is BIGINT by construction.
      */
    def prioritySampleSql: String = {
      val k = 500
      val two61 = 2305843009213693952L
      s"""WITH w AS (SELECT doc_id,
         |             greatest(CAST(len(${tokensE("text")}) AS BIGINT),
         |               CAST(1 AS BIGINT)) AS w
         |           FROM documents),
         |b AS (SELECT doc_id, w,
         |        ${duckHash61("CAST(doc_id AS VARCHAR)")}
         |          // greatest(w, CAST(1 AS BIGINT)) AS t
         |      FROM w),
         |lim AS (SELECT doc_id, w, t FROM b
         |        ORDER BY t, doc_id LIMIT ${k + 1}),
         |tau AS (SELECT CASE WHEN count(*) = ${k + 1} THEN max(t)
         |               END AS tau FROM lim),
         |kept AS (SELECT doc_id, w, t FROM lim
         |         ORDER BY t, doc_id LIMIT $k)
         |SELECT kp.doc_id, kp.w, kp.t,
         |  CASE WHEN tau.tau IS NULL THEN kp.w
         |       ELSE greatest(kp.w,
         |         $two61 // greatest(tau.tau, CAST(1 AS BIGINT)))
         |  END AS w_hat
         |FROM kept kp CROSS JOIN tau
         |ORDER BY kp.t, kp.doc_id""".stripMargin
    }

    /** Twin of q100_priority_by_lang: q99's construction with a
      * PARTITION BY lang row_number in place of the global LIMIT, τ
      * per language = the 101st t of groups holding ≥ 101 docs (NULL
      * ⇒ census ⇒ w_hat = w). All BIGINT; row_number is filtered,
      * never emitted.
      */
    def priorityByLangSql: String = {
      val k = 100
      val two61 = 2305843009213693952L
      s"""WITH w AS (SELECT lang, doc_id,
         |             greatest(CAST(len(${tokensE("text")}) AS BIGINT),
         |               CAST(1 AS BIGINT)) AS w
         |           FROM documents),
         |b AS (SELECT lang, doc_id, w,
         |        ${duckHash61("CAST(doc_id AS VARCHAR)")}
         |          // greatest(w, CAST(1 AS BIGINT)) AS t
         |      FROM w),
         |r AS (SELECT lang, doc_id, w, t, row_number() OVER (
         |        PARTITION BY lang ORDER BY t, doc_id) AS rn
         |      FROM b),
         |rk AS (SELECT lang, doc_id, w, t, rn FROM r WHERE rn <= ${k + 1}),
         |tau AS (SELECT lang, CASE WHEN count(*) = ${k + 1} THEN max(t)
         |               END AS tau FROM rk GROUP BY lang)
         |SELECT rk.lang, rk.doc_id, rk.w, rk.t,
         |  CASE WHEN tau.tau IS NULL THEN rk.w
         |       ELSE greatest(rk.w,
         |         $two61 // greatest(tau.tau, CAST(1 AS BIGINT)))
         |  END AS w_hat
         |FROM rk LEFT JOIN tau ON tau.lang = rk.lang
         |WHERE rk.rn <= $k
         |ORDER BY rk.lang, rk.t, rk.doc_id""".stripMargin
    }

    /** Twin of q96_multi_bloom: q87's bloom construction with a set
      * dimension — per-suite word tables (bit_or grouped by set_id and
      * word index), probe = every (doc shingle, suite) pair via a
      * cross join with the 3-suite list, bool_and over the k=4
      * position tests against that suite's words. Integer/boolean
      * arithmetic only; eval shingles derive from the same per-doc
      * distinct-shingle table, which matches the Spark build because
      * bloom insertion is idempotent (OR).
      */
    def multiBloomSql: String = {
      val mBits = 1 << 16
      val k = 4
      def positionsE(xE: String): String =
        (0 until k).map(j => s"(${duckHashAt(xE, j)} % $mBits)")
          .mkString("[", ", ", "]")
      val maskE =
        "CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1) " +
          "ELSE 1::BIGINT << CAST(pos % 64 AS INT) END"
      s"""WITH words AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(${shinglesE("w", 3)})) AS s FROM words),
         |h AS (SELECT id, ${duckHash61("s")} AS x FROM sh),
         |ev AS (SELECT 'suite' || CAST(id % 50 AS VARCHAR) AS set_id, x
         |       FROM h WHERE id % 50 <= 2),
         |evpos AS (SELECT set_id, unnest(${positionsE("x")}) AS pos FROM ev),
         |bw AS (SELECT set_id, pos // 64 AS widx, bit_or($maskE) AS word
         |       FROM evpos GROUP BY 1, 2),
         |sets AS (SELECT DISTINCT set_id FROM bw),
         |pp AS (SELECT id, x, unnest(${positionsE("x")}) AS pos FROM h),
         |pb AS (SELECT id, x, pos // 64 AS widx, ($maskE) AS mask FROM pp),
         |px AS (SELECT pb.id, pb.x, pb.widx, pb.mask, s.set_id
         |       FROM pb CROSS JOIN sets s),
         |pj AS (SELECT px.id AS id, px.x AS x, px.set_id AS set_id,
         |         bool_and((COALESCE(b.word, 0) & px.mask) = px.mask) AS maybe
         |       FROM px LEFT JOIN bw b
         |         ON b.set_id = px.set_id AND b.widx = px.widx
         |       GROUP BY px.id, px.x, px.set_id)
         |SELECT id, set_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
         |FROM pj GROUP BY id, set_id ORDER BY id, set_id""".stripMargin
    }

    /** Twin of q94_kmv_jaccard: identical per-lang bottom-256 KMV
      * sketches (list(h ORDER BY h) over the row_number bottom-k), pair
      * rows via inequality self-join, U = sorted distinct concat
      * sliced to k, match = |U ∩ A ∩ B| via list_filter/list_contains,
      * exact n_inter/n_union from the same distinct-hash set. Integer
      * and list-membership operators only; len() is BIGINT in DuckDB
      * but every count column is CAST anyway (HUGEINT rule discipline).
      */
    def kmvJaccardSql: String = {
      val k = 256
      s"""WITH wd AS (SELECT lang, ${tokensE("text")} AS w FROM documents),
         |sh0 AS (SELECT lang, unnest(${shinglesE("w", 3)}) AS s FROM wd),
         |hx AS (SELECT DISTINCT lang, ${duckHash61("s")} AS h FROM sh0),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |      FROM hx),
         |sk AS (SELECT lang, list(h ORDER BY h) AS kmv
         |       FROM r WHERE rn <= $k GROUP BY lang),
         |n AS (SELECT lang, count(*) AS n FROM hx GROUP BY lang),
         |iv AS (SELECT l.lang AS ia, r2.lang AS ib, count(*) AS ni
         |       FROM hx l JOIN hx r2
         |         ON l.h = r2.h AND l.lang < r2.lang GROUP BY 1, 2),
         |pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
         |         a.kmv AS kmv_a, b.kmv AS kmv_b, na.n AS na, nb.n AS nb
         |       FROM sk a JOIN sk b ON a.lang < b.lang
         |       JOIN n na ON na.lang = a.lang
         |       JOIN n nb ON nb.lang = b.lang),
         |j AS (SELECT lang_a, lang_b, na, nb, kmv_a, kmv_b,
         |        list_sort(list_distinct(list_concat(kmv_a, kmv_b)))[1:$k] AS u
         |      FROM pr)
         |SELECT lang_a, lang_b,
         |  CAST(len(list_filter(u, x -> list_contains(kmv_a, x)
         |    AND list_contains(kmv_b, x))) AS BIGINT) AS kmv_match,
         |  CAST(len(u) AS BIGINT) AS kmv_denom,
         |  CAST(COALESCE(iv.ni, 0) AS BIGINT) AS n_inter,
         |  CAST(na + nb - COALESCE(iv.ni, 0) AS BIGINT) AS n_union
         |FROM j LEFT JOIN iv ON j.lang_a = iv.ia AND j.lang_b = iv.ib
         |ORDER BY 1, 2""".stripMargin
    }

    /** Twin of q105_kmv_setops: q94's sketch/pair construction plus
      * the set-operation readback — membership counts for ∩ / A∖B /
      * B∖A via list_filter over the union sample, and the exact-integer
      * estimate arithmetic mirrored operation for operation (HUGEINT
      * literal // greatest(kth, 1), then count · that // k, CAST to
      * BIGINT — same order as Sketch.kmvSetOpStats, so the integer
      * divisions round identically by construction). Exact anchors
      * (n_inter and the two differences) come from the same
      * distinct-hash set.
      */
    def kmvSetOpsSql: String = {
      val k = 256
      // the SAME emitters the Spark plan evaluates, with DuckDB's `//`
      // spelling — one definition, no hand-mirrored arithmetic
      def scaled(cnt: String) = graft.ops.Sketch.kmvScaledEstX10Sql(cnt, k, "//")
      s"""WITH wd AS (SELECT lang, ${tokensE("text")} AS w FROM documents),
         |sh0 AS (SELECT lang, unnest(${shinglesE("w", 3)}) AS s FROM wd),
         |hx AS (SELECT DISTINCT lang, ${duckHash61("s")} AS h FROM sh0),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |      FROM hx),
         |sk AS (SELECT lang, list(h ORDER BY h) AS kmv
         |       FROM r WHERE rn <= $k GROUP BY lang),
         |n AS (SELECT lang, count(*) AS n FROM hx GROUP BY lang),
         |iv AS (SELECT l.lang AS ia, r2.lang AS ib, count(*) AS ni
         |       FROM hx l JOIN hx r2
         |         ON l.h = r2.h AND l.lang < r2.lang GROUP BY 1, 2),
         |pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
         |         a.kmv AS kmv_a, b.kmv AS kmv_b, na.n AS na, nb.n AS nb
         |       FROM sk a JOIN sk b ON a.lang < b.lang
         |       JOIN n na ON na.lang = a.lang
         |       JOIN n nb ON nb.lang = b.lang),
         |j AS (SELECT lang_a, lang_b, na, nb, kmv_a, kmv_b,
         |        list_sort(list_distinct(list_concat(kmv_a, kmv_b)))[1:$k] AS u
         |      FROM pr),
         |m AS (SELECT lang_a, lang_b, na, nb,
         |        CAST(len(u) AS BIGINT) AS u_n,
         |        list_extract(u, len(u)) AS u_kth,
         |        CAST(len(list_filter(u, x -> list_contains(kmv_a, x)
         |          AND list_contains(kmv_b, x))) AS BIGINT) AS kmv_match,
         |        CAST(len(list_filter(u, x -> list_contains(kmv_a, x)
         |          AND NOT list_contains(kmv_b, x))) AS BIGINT) AS kmv_a_only,
         |        CAST(len(list_filter(u, x -> list_contains(kmv_b, x)
         |          AND NOT list_contains(kmv_a, x))) AS BIGINT) AS kmv_b_only
         |      FROM j)
         |SELECT m.lang_a, m.lang_b, m.kmv_match, m.kmv_a_only, m.kmv_b_only,
         |  m.u_n AS kmv_denom,
         |  ${graft.ops.Sketch.kmvUnionEstX10Sql(k, "//")}
         |    AS union_est_x10,
         |  ${scaled("kmv_match")} AS inter_est_x10,
         |  ${scaled("kmv_a_only")} AS a_only_est_x10,
         |  ${scaled("kmv_b_only")} AS b_only_est_x10,
         |  CAST(COALESCE(iv.ni, 0) AS BIGINT) AS n_inter,
         |  CAST(m.na - COALESCE(iv.ni, 0) AS BIGINT) AS n_a_only,
         |  CAST(m.nb - COALESCE(iv.ni, 0) AS BIGINT) AS n_b_only
         |FROM m LEFT JOIN iv ON m.lang_a = iv.ia AND m.lang_b = iv.ib
         |ORDER BY 1, 2""".stripMargin
    }

    /** Twin of q106_lm_surprisal: same bigram counts (c2 over the
      * 2-shingle string, c1 over the left token — parallel unnest of
      * the two aligned lists zips them in DuckDB), same V, and the
      * Mitchell-log CASE expression (TextStats.mitchellE8Sql with
      * DuckDB's `//` spelling of integer division; `MitchellE8Spec`
      * pins it bit-equal to the plan's native log).
      */
    def lmSurprisalSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, lang, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
         |          unnest(${shinglesE("w", 2)}) AS bg
         |        FROM wd WHERE len(w) >= 2),
         |c2 AS (SELECT bg, count(*) AS c2 FROM bgl GROUP BY bg),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bgl GROUP BY w1),
         |v AS (SELECT count(DISTINCT t) AS v
         |      FROM (SELECT unnest(w) AS t FROM wd)),
         |sc AS (SELECT b.doc_id,
         |         (CAST(c1.c1 + v.v AS HUGEINT) * ${1L << shift})
         |           // (c2.c2 + 1) AS q
         |       FROM bgl b JOIN c2 ON b.bg = c2.bg
         |       JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v),
         |m AS (SELECT doc_id, count(*) AS nb,
         |        SUM($m8 - ${8 * shift}) AS s8
         |      FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, d.lang,
         |  CAST(COALESCE(m.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(COALESCE(m.s8, 0) AS BIGINT) AS surprisal_e8,
         |  CAST((COALESCE(m.s8, 0) * 10)
         |    // greatest(8 * COALESCE(m.nb, 0), 1) AS BIGINT) AS avg_bits_x10
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }

    /** Twin of q107_zorder_stats: the IDENTICAL generated Morton
      * interleave (Layout.zValueSql — same bit positions and masks as
      * the Column form, `+` over disjoint bits), same 14-bit bucket
      * shift, min/max of both dimensions per bucket.
      */
    def zorderStatsSql: String = {
      val z = graft.ops.Layout.zValueSql(Seq("x", "y"), 10)
      s"""WITH b AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
         |           FROM lineitem),
         |zt AS (SELECT x, y, $z AS z FROM b)
         |SELECT z >> 14 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
         |  CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
         |FROM zt GROUP BY 1 ORDER BY bucket""".stripMargin
    }

    /** Twin of q108_sq_ann: identical per-dimension max-abs scales
      * (max is order-free; FLOAT → DOUBLE widening is exact, so both
      * engines see the same scale values), identical floor(x·127/s)
      * quantization, and an integer dot product — the only float ops
      * are the per-element multiply/divide, evaluated in the same
      * IEEE double order on both engines; the SUM is integer.
      */
    /** Twin of q148_random_projection: the q108 SQ-quantization CTEs,
      * then each output dim j sums q_i · sign(i, j) with the sign
      * drawn from the shared md5 hash family — all-integer, no float
      * summation order anywhere.
      */
    def randomProjectionSql: String = {
      val sign = s"(1 - 2 * (${duckHash61("'rp:' || CAST(i - 1 AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} % 2))"
      s"""WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |ex AS (SELECT vec_id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT vec_id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qe
         |       FROM ed CROSS JOIN sl)
         |SELECT vec_id, CAST(j AS BIGINT) AS pos,
         |  CAST(list_sum([qe[i] * $sign
         |                 for i in range(1, len(qe)+1)]) AS BIGINT) AS value
         |FROM qz, generate_series(0, 15) t(j)
         |ORDER BY vec_id, pos""".stripMargin
    }

    /** Twin of q149_rp_recall: the q148 rp vectors rebuilt as lists,
      * integer-dot top-5 per query (dot DESC, id ASC — the TopK
      * aggregate's convention), full-dimension brute cosine top-5 as
      * ground truth, recall joined per query.
      */
    def rpRecallSql: String = {
      val sign = s"(1 - 2 * (${duckHash61("'rp:' || CAST(i - 1 AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} % 2))"
      s"""WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |ex AS (SELECT vec_id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT vec_id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qe
         |       FROM ed CROSS JOIN sl),
         |rpv AS (SELECT vec_id,
         |         [CAST(list_sum([qe[i] * $sign
         |            for i in range(1, len(qe)+1)]) AS BIGINT)
         |          for j in range(0, 16)] AS rp
         |        FROM qz),
         |qv AS (SELECT vec_id AS query_id, rp AS qrp FROM rpv
         |       WHERE vec_id < 3),
         |scored AS (SELECT q.query_id, r.vec_id AS id,
         |    CAST(list_sum([r.rp[i] * q.qrp[i]
         |      for i in range(1, 17)]) AS BIGINT) AS dot
         |  FROM rpv r CROSS JOIN qv q),
         |ann AS (SELECT query_id, id FROM (SELECT query_id, id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, id) AS rnk
         |  FROM scored) t WHERE rnk <= 5),
         |bscored AS (SELECT q.query_id, ev.vec_id AS id,
         |    ${cosineE("ev.v", "q.qv")} AS sim
         |  FROM ed ev CROSS JOIN
         |    (SELECT vec_id AS query_id, v AS qv FROM ed WHERE vec_id < 3) q),
         |bex AS (SELECT query_id, id FROM (SELECT query_id, id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rnk
         |  FROM bscored) t WHERE rnk <= 5),
         |h AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM ann a JOIN bex b ON a.query_id = b.query_id AND a.id = b.id
         |      GROUP BY a.query_id)
         |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST((1000 * COALESCE(h.n_hits, 0)) // 5 AS BIGINT) AS recall_x1000
         |FROM (SELECT DISTINCT query_id FROM bex) qq LEFT JOIN h USING (query_id)
         |ORDER BY qq.query_id""".stripMargin
    }

    def sqAnnSql: String =
      s"""WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |ex AS (SELECT vec_id,
         |        unnest([{'pos': i, 'x': v[i]}
         |                for i in range(1, len(v)+1)]) AS u
         |      FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT vec_id,
         |         [CASE WHEN s[i] = 0 THEN 0
         |               ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END
         |          for i in range(1, len(v)+1)] AS qe
         |       FROM ed CROSS JOIN sl),
         |qv AS (SELECT qe AS qv FROM qz WHERE vec_id = 0)
         |SELECT z.vec_id,
         |  CAST(list_sum([z.qe[i] * qv.qv[i]
         |                 for i in range(1, len(z.qe)+1)]) AS BIGINT) AS qdot
         |FROM qz z CROSS JOIN qv
         |WHERE z.vec_id <> 0
         |ORDER BY qdot DESC, z.vec_id
         |LIMIT 10""".stripMargin

    /** Twin of q109_bm25: identical corpus-mined query terms (count
      * DESC, token ASC, LIMIT 4), integer avdl (SUM // count), the
      * same clamped Mitchell-log IDF CASE (TextStats.mitchellE8Sql
      * with `//`), and the same 10·avdl-rationalized TF normalization.
      * SUM/HUGEINT discipline: every emitted aggregate is CAST.
      */
    /** Shared CTE prefix of the q109/q186 twins: term selection, tf,
      * df, and the integer BM25 per-doc aggregate.
      */
    private def bm25Ctes: String = {
      val shift = graft.ops.TextStats.LmShift
      val two20 = s"CAST(${1L << shift} AS BIGINT)"
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, lang, ${tokensE("text")} AS w FROM documents),
         |dlt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM wd),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(greatest(SUM(dl) // count(*), 1) AS BIGINT) AS avdl
         |       FROM dlt),
         |tok AS (SELECT doc_id, unnest(w) AS t FROM wd),
         |qt AS (SELECT t FROM (
         |         SELECT t, count(*) AS c FROM tok WHERE len(t) >= 5
         |         GROUP BY t ORDER BY c DESC, t LIMIT 4)),
         |tf AS (SELECT doc_id, tok.t AS t, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok JOIN qt ON tok.t = qt.t GROUP BY doc_id, tok.t),
         |dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
         |sc AS (SELECT tf.doc_id, tf.tf, dfq.df, dlt.dl, st.n_docs, st.avdl,
         |         greatest((CAST((2 * st.n_docs) - (2 * dfq.df) + 1 AS HUGEINT)
         |           * ${1L << shift}) // ((2 * dfq.df) + 1), $two20) AS q
         |       FROM tf JOIN dfq ON tf.t = dfq.t
         |       JOIN dlt ON tf.doc_id = dlt.doc_id CROSS JOIN st),
         |rowsc AS (SELECT doc_id, dl,
         |            ($m8 - ${8 * shift}) AS idf_e8,
         |            ((22000 * tf * avdl)
         |              // ((10 * tf * avdl) + (3 * avdl) + (9 * dl))) AS tfn
         |          FROM sc),
         |agg AS (SELECT doc_id, CAST(SUM(idf_e8 * tfn) AS BIGINT) AS bm25_x,
         |          CAST(count(*) AS BIGINT) AS n_terms_hit,
         |          CAST(min(dl) AS BIGINT) AS n_tokens
         |        FROM rowsc GROUP BY doc_id)""".stripMargin
    }

    /** Twin of q198_chao1_richness: same frequency-of-frequency fold
      * and Chao1/Good–Turing arithmetic.
      */
    def chao1RichnessSql: String =
      s"""WITH tk AS (SELECT lang AS g, unnest(${tokensE("text")}) AS w
         |      FROM documents),
         |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
         |      FROM tk GROUP BY g, w),
         |a AS (SELECT g, CAST(count(*) AS BIGINT) AS v_obs,
         |        CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |      FROM c GROUP BY g)
         |SELECT g AS lang, n_tokens, v_obs, f1, f2,
         |  CAST(1000 * v_obs + CASE WHEN f2 > 0
         |    THEN (CAST(1000 AS HUGEINT) * f1 * f1) // (2 * f2)
         |    ELSE (CAST(1000 AS HUGEINT) * f1 * (f1 - 1)) // 2 END
         |    AS BIGINT) AS chao1_x1000,
         |  CAST((1000 * f1) // greatest(n_tokens, 1) AS BIGINT)
         |    AS unseen_mass_x1000
         |FROM a ORDER BY lang""".stripMargin

    /** Twin of q199_mann_kendall: same zero-filled day grid, same
      * sign-pair sums over ordered day pairs.
      */
    def mannKendallSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d),
         |days AS (SELECT DISTINCT d FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |p AS (SELECT a.et, a.x AS xi, bb.x AS xj
         |      FROM g a JOIN g bb ON a.et = bb.et AND a.d < bb.d)
         |SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(sign(xj - xi)) AS BIGINT) AS s_stat,
         |  CAST(sum(CASE WHEN xj > xi THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  CAST(sum(CASE WHEN xj < xi THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |  CAST(sum(CASE WHEN xj = xi THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
         |FROM p GROUP BY et
         |ORDER BY event_type""".stripMargin

    /** Twin of q200_lead_lag: same zero-filled hourly grid, per-mille
      * centered deviations, the same shifted-hour equi-join over the
      * ±6 lag set, and the same (xcov DESC, lag ASC) argmax.
      */
    def leadLagSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
         |c AS (SELECT et, h, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, h),
         |hrs AS (SELECT DISTINCT h FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, hrs.h, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN hrs
         |      LEFT JOIN c ON c.et = ets.et AND c.h = hrs.h),
         |mu AS (SELECT et, CAST((1000 * sum(x)) // count(*) AS BIGINT) AS mu
         |       FROM g GROUP BY et),
         |dv AS (SELECT g.et, g.h, CAST(1000 * g.x - mu.mu AS BIGINT) AS dv
         |       FROM g JOIN mu USING (et)),
         |lags AS (SELECT CAST(unnest(range(-6, 7)) AS INT) AS lag),
         |bs AS (SELECT dv.et AS tb, lags.lag,
         |         dv.h - to_hours(lags.lag) AS h, dv.dv AS db
         |       FROM dv CROSS JOIN lags),
         |xc AS (SELECT a.et AS ta, bs.tb, bs.lag,
         |         CAST(sum(CAST(a.dv AS HUGEINT) * bs.db) AS BIGINT) AS xcov,
         |         CAST(count(*) AS BIGINT) AS n_overlap
         |       FROM dv a JOIN bs ON a.h = bs.h AND a.et < bs.tb
         |       GROUP BY a.et, bs.tb, bs.lag),
         |best AS (SELECT ta, tb, lag AS best_lag, xcov AS best_xcov,
         |           row_number() OVER (PARTITION BY ta, tb
         |             ORDER BY xcov DESC, lag) AS rn
         |         FROM xc)
         |SELECT b2.ta AS type_a, b2.tb AS type_b, CAST(b2.best_lag AS INT)
         |    AS best_lag, b2.best_xcov,
         |  z.xcov AS xcov_lag0
         |FROM best b2 JOIN xc z ON z.ta = b2.ta AND z.tb = b2.tb
         |  AND z.lag = 0
         |WHERE b2.rn = 1
         |ORDER BY type_a, type_b""".stripMargin

    /** Twin of q197_cusum_shifts: the same zero-filled hourly grid,
      * the same prefix-minus-running-extremum rewrite of Page's
      * recurrence, per-mille integers throughout.
      */
    def cusumShiftsSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
         |c AS (SELECT et, h, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, h),
         |hrs AS (SELECT DISTINCT h FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, hrs.h, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN hrs
         |      LEFT JOIN c ON c.et = ets.et AND c.h = hrs.h),
         |mu AS (SELECT et, CAST((1000 * sum(x)) // count(*) AS BIGINT)
         |         AS mu_milli, CAST(count(*) AS BIGINT) AS n_hours
         |       FROM g GROUP BY et),
         |sr AS (SELECT g.et, g.h, mu.mu_milli, mu.n_hours,
         |         CAST(1000 * g.x - mu.mu_milli - (mu.mu_milli // 2)
         |           AS BIGINT) AS d,
         |         CAST(mu.mu_milli - 1000 * g.x - (mu.mu_milli // 2)
         |           AS BIGINT) AS d2
         |       FROM g JOIN mu USING (et)),
         |pw AS (SELECT et, h, mu_milli, n_hours,
         |         sum(d) OVER (PARTITION BY et ORDER BY h
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         |         sum(d2) OVER (PARTITION BY et ORDER BY h
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p2
         |       FROM sr),
         |ss AS (SELECT et, h, mu_milli, n_hours,
         |         CAST(p - least(min(p) OVER (PARTITION BY et ORDER BY h
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |           AS BIGINT) AS s_hi,
         |         CAST(p2 - least(min(p2) OVER (PARTITION BY et ORDER BY h
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |           AS BIGINT) AS s_lo
         |       FROM pw)
         |SELECT et AS event_type, CAST(max(n_hours) AS BIGINT) AS n_hours,
         |  CAST(max(mu_milli) AS BIGINT) AS mu_milli,
         |  CAST(max(s_hi) AS BIGINT) AS max_s_hi,
         |  CAST(max(s_lo) AS BIGINT) AS max_s_lo,
         |  CAST(sum(CASE WHEN s_hi > 4 * mu_milli
         |    OR s_lo > 4 * mu_milli THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
         |  min(CASE WHEN s_hi > 4 * mu_milli OR s_lo > 4 * mu_milli
         |    THEN h END) AS first_alarm_hour
         |FROM ss GROUP BY et
         |ORDER BY event_type""".stripMargin

    /** Twin of q196_seasonal_anomalies: same (type, date, hour) grid
      * with zero fills, same per-slot quantile_cont median/MAD and
      * 3·MAD flag.
      */
    def seasonalAnomaliesSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         |        CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod
         |      FROM events),
         |c AS (SELECT et, d, hod, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d, hod),
         |types AS (SELECT DISTINCT et FROM c),
         |dates AS (SELECT DISTINCT d FROM c),
         |hods AS (SELECT CAST(unnest(range(0, 24)) AS INT) AS hod),
         |g AS (SELECT t.et, dt.d, h.hod, coalesce(c.x, 0) AS x
         |      FROM types t CROSS JOIN dates dt CROSS JOIN hods h
         |      LEFT JOIN c ON c.et = t.et AND c.d = dt.d AND c.hod = h.hod),
         |m AS (SELECT et, hod, quantile_cont(x, 0.5) AS med
         |      FROM g GROUP BY et, hod),
         |st AS (SELECT g.et, g.hod, min(m.med) AS med,
         |         quantile_cont(abs(g.x - m.med), 0.5) AS mad
         |       FROM g JOIN m USING (et, hod) GROUP BY g.et, g.hod)
         |SELECT g.et AS event_type, g.d AS date, g.hod, g.x,
         |  st.med, st.mad,
         |  (abs(g.x - st.med) > 3 * st.mad) AS is_anomaly
         |FROM g JOIN st USING (et, hod)
         |ORDER BY event_type, date, hod""".stripMargin

    /** Twin of q220_ewma_bands: the same zero-filled (type × day)
      * grid, then the IDENTICAL integer recurrence (m_t = (7·m +
      * 1000·x)//8, d_t = (7·d + |1000·x − m|)//8, flag vs the PRIOR
      * state) stepped one day at a time by a recursive CTE — DuckDB
      * `//` and Spark `div` both truncate toward zero and every
      * operand is non-negative, so the walks are bit-identical.
      */
    def ewmaBandsSql: String =
      s"""WITH RECURSIVE b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d),
         |days AS (SELECT d, CAST(row_number() OVER (ORDER BY d) - 1
         |           AS BIGINT) AS t
         |         FROM (SELECT DISTINCT d FROM c)),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, days.t, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |ew AS (
         |  SELECT et, t, d, x, CAST(1000 * x AS BIGINT) AS m,
         |    CAST(0 AS BIGINT) AS dd, false AS a
         |  FROM g WHERE t = 0
         |  UNION ALL
         |  SELECT g.et, g.t, g.d, g.x,
         |    CAST((7 * ew.m + 1000 * g.x) // 8 AS BIGINT),
         |    CAST((7 * ew.dd + abs(1000 * g.x - ew.m)) // 8 AS BIGINT),
         |    (g.t >= 7 AND
         |     abs(1000 * g.x - ew.m) > 3 * greatest(ew.dd, 1000))
         |  FROM ew JOIN g ON g.et = ew.et AND g.t = ew.t + 1)
         |SELECT et AS event_type, d AS day, CAST(x AS BIGINT) AS x,
         |  m AS ewma_milli, dd AS ewmad_milli, a AS is_anomaly
         |FROM ew ORDER BY event_type, day""".stripMargin

    /** Twin of q285_pca_top: same quantized co-moment grid, the same
      * 8 fixed-point matvec steps UNROLLED into CTEs (the q152
      * unrolled-PageRank convention), same sign-guarded integral
      * renormalization and exact Rayleigh ppm.
      */
    def pcaTopSql: String = {
      val iters = 8
      val S = 1L << 20
      val steps = (1 to iters).map { k =>
        s"""w$k AS MATERIALIZED (SELECT a.i, sum(a.aij * v${k - 1}.vj) AS w
           |  FROM a JOIN v${k - 1} ON v${k - 1}.j = a.j GROUP BY a.i),
           |m$k AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS m
           |  FROM w$k),
           |v$k AS MATERIALIZED (SELECT i AS j,
           |    CASE WHEN w >= 0 THEN (w * $S) // m
           |    ELSE -(((0 - w) * $S) // m) END AS vj
           |  FROM w$k CROSS JOIN m$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS id, CAST(u['i'] AS BIGINT) AS i,
         |    CAST(round(u['x'] * 1000) AS BIGINT) AS xq
         |  FROM (SELECT vec_id, unnest(list_transform(
         |      CAST(embedding AS DOUBLE[]), (x, i) -> {'i': i - 1, 'x': x}))
         |      AS u
         |    FROM embeddings)),
         |n1 AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n FROM q),
         |sx AS (SELECT i, sum(CAST(xq AS HUGEINT)) AS sx
         |  FROM q GROUP BY i),
         |sp AS (SELECT l.i AS i, r.i AS j,
         |    sum(CAST(l.xq AS HUGEINT) * r.xq) AS sp
         |  FROM q l JOIN q r ON l.id = r.id GROUP BY 1, 2),
         |a AS MATERIALIZED (SELECT sp.i, sp.j,
         |    CASE WHEN n * sp >= sx.sx * sy.sx
         |      THEN (n * sp - sx.sx * sy.sx) // n
         |      ELSE -((sx.sx * sy.sx - n * sp) // n) END AS aij
         |  FROM sp JOIN sx ON sx.i = sp.i JOIN sx sy ON sy.i = sp.j
         |  CROSS JOIN n1),
         |v0 AS MATERIALIZED (SELECT DISTINCT i AS j,
         |    CAST($S AS HUGEINT) AS vj FROM a),
         |$steps,
         |wf AS MATERIALIZED (SELECT a.i, sum(a.aij * v$iters.vj) AS w
         |  FROM a JOIN v$iters ON v$iters.j = a.j GROUP BY a.i),
         |ray AS (SELECT sum(v$iters.vj * wf.w) AS num,
         |    sum(v$iters.vj * v$iters.vj) AS den
         |  FROM wf JOIN v$iters ON v$iters.j = wf.i),
         |tr AS (SELECT sum(aij) AS trace FROM a WHERE i = j),
         |dm AS (SELECT CAST(count(*) AS BIGINT) AS dim FROM v0),
         |ld AS MATERIALIZED (SELECT j,
         |    row_number() OVER (ORDER BY abs(vj) DESC, j) AS r
         |  FROM v$iters)
         |SELECT n AS n_vecs, dim,
         |  CAST(trace AS BIGINT) AS trace,
         |  CAST(CASE WHEN num <= 0 OR den * trace = 0 THEN 0 ELSE
         |    (1000000 * num) // (den * trace) END AS BIGINT)
         |    AS explained_ppm,
         |  (SELECT CAST(j AS BIGINT) FROM ld WHERE r = 1) AS i1,
         |  (SELECT CAST(j AS BIGINT) FROM ld WHERE r = 2) AS i2,
         |  (SELECT CAST(j AS BIGINT) FROM ld WHERE r = 3) AS i3
         |FROM ray CROSS JOIN tr CROSS JOIN n1 CROSS JOIN dm
         |ORDER BY n_vecs""".stripMargin
    }

    /** Twin of q284_bh_fdr: same exact counts, same one z float step,
      * and the IDENTICAL generated Φ⁻¹ critical-value CASE
      * ([[graft.ops.Eval.bhZcritCaseSql]]) — the dcgGain one-emitter
      * discipline keeps the BH surface engine-exact despite the
      * normal quantile in its definition.
      */
    /** Twin of q305_cronbach: the per-year CASE-sum pivot, the same
      * common-denominator variance sums through HUGEINT, the same
      * sign-symmetric alpha CASE.
      */
    def cronbachSql: String =
      s"""WITH o AS (SELECT o_custkey, year(o_orderdate) AS y,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
         |  FROM orders),
         |per AS (SELECT o_custkey,
         |    CAST(sum(CASE WHEN y = 1994 THEN c END) AS BIGINT) AS y94,
         |    CAST(sum(CASE WHEN y = 1995 THEN c END) AS BIGINT) AS y95,
         |    CAST(sum(CASE WHEN y = 1996 THEN c END) AS BIGINT) AS y96
         |  FROM o WHERE y BETWEEN 1994 AND 1996 GROUP BY 1),
         |base AS (SELECT coalesce(y94, 0) AS i0, coalesce(y95, 0) AS i1,
         |    coalesce(y96, 0) AS i2
         |  FROM customer LEFT JOIN per ON o_custkey = c_custkey),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(i0) AS BIGINT) AS s0, sum(CAST(i0 AS HUGEINT) * i0) AS q0,
         |    CAST(sum(i1) AS BIGINT) AS s1, sum(CAST(i1 AS HUGEINT) * i1) AS q1,
         |    CAST(sum(i2) AS BIGINT) AS s2, sum(CAST(i2 AS HUGEINT) * i2) AS q2,
         |    CAST(sum(i0 + i1 + i2) AS BIGINT) AS st,
         |    sum(CAST(i0 + i1 + i2 AS HUGEINT) * (i0 + i1 + i2)) AS qt
         |  FROM base),
         |v AS (SELECT n,
         |    (n * q0 - CAST(s0 AS HUGEINT) * s0)
         |      + (n * q1 - CAST(s1 AS HUGEINT) * s1)
         |      + (n * q2 - CAST(s2 AS HUGEINT) * s2) AS S,
         |    n * qt - CAST(st AS HUGEINT) * st AS T
         |  FROM agg)
         |SELECT n, CAST(3 AS BIGINT) AS k,
         |  CASE WHEN T <= 0 THEN CAST(0 AS BIGINT)
         |    WHEN T >= S THEN CAST((1000000 * 3 * (T - S)) // (2 * T)
         |      AS BIGINT)
         |    ELSE -CAST((1000000 * 3 * (S - T)) // (2 * T) AS BIGINT)
         |  END AS alpha_ppm
         |FROM v""".stripMargin

    /** Twin of q306_sprt: the q304 base counts, the IDENTICAL
      * generated Mitchell-log CASEs over p·2²⁰ and the same emitted
      * Wald boundary literals.
      */
    def sprtSql: String = {
      def e256(c: String) = graft.ops.TextStats.mitchellE256Sql(
        c, divOp = "//")
      val (upE256, loE256) = graft.ops.Eval.sprtBoundsE256(50000L, 200000L)
      s"""WITH base AS (SELECT c_nationkey AS g,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS sx
         |  FROM orders JOIN customer ON c_custkey = o_custkey),
         |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(sx) AS BIGINT) AS k
         |  FROM base GROUP BY g),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    CAST(sum(k) AS BIGINT) AS kt FROM cnt),
         |p AS (SELECT cnt.*,
         |    greatest(CAST((1000000 * kt) // greatest(nt, 1) AS BIGINT), 1)
         |      AS p0_ppm
         |  FROM cnt CROSS JOIN tot),
         |p2 AS (SELECT *, CAST(least(p0_ppm + (10 * p0_ppm) // 100,
         |    999999) AS BIGINT) AS p1_ppm
         |  FROM p),
         |r AS (SELECT *,
         |    CAST((p1_ppm * ${1L << 20}) // p0_ppm AS BIGINT) AS r1,
         |    CAST(((1000000 - p0_ppm) * ${1L << 20}) //
         |      (1000000 - p1_ppm) AS BIGINT) AS r0
         |  FROM p2),
         |l AS (SELECT *, CAST(k * ((${e256("r1")}) - 5120)
         |    - (n - k) * ((${e256("r0")}) - 5120) AS BIGINT) AS llr_e256
         |  FROM r)
         |SELECT g, n, k, p0_ppm, p1_ppm, llr_e256,
         |  CASE WHEN llr_e256 >= $upE256 THEN 'accept_h1'
         |    WHEN llr_e256 <= $loE256 THEN 'accept_h0'
         |    ELSE 'continue' END AS decision
         |FROM l ORDER BY g""".stripMargin
    }

    /** Twin of q304_sample_size: the q284 base, the SAME emitted
      * invNorm ×10⁶ literals, the same two floor(sqrt) steps and
      * ceiling HUGEINT division.
      */
    def sampleSizeSql: String = {
      val zA = math.round(1e6 * graft.ops.Eval.invNorm(1 - 0.05 / 2))
      val zB = math.round(1e6 * graft.ops.Eval.invNorm(0.8))
      s"""WITH base AS (SELECT c_nationkey AS g,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS sx
         |  FROM orders JOIN customer ON c_custkey = o_custkey),
         |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(sx) AS BIGINT) AS k
         |  FROM base GROUP BY g),
         |p AS (SELECT *, CAST((1000000 * k) // n AS BIGINT) AS p1_ppm
         |  FROM cnt),
         |p2 AS (SELECT *, CAST(least(p1_ppm + (10 * p1_ppm) // 100,
         |    999999) AS BIGINT) AS p2_ppm FROM p),
         |t AS (SELECT *, (p1_ppm + p2_ppm) // 2 AS pb FROM p2),
         |sq AS (SELECT *,
         |    CAST(floor(sqrt(CAST(2 * pb * (1000000 - pb) AS DOUBLE)))
         |      AS BIGINT) AS sa,
         |    CAST(floor(sqrt(CAST(p1_ppm * (1000000 - p1_ppm)
         |      + p2_ppm * (1000000 - p2_ppm) AS DOUBLE))) AS BIGINT) AS sb
         |  FROM t),
         |f AS (SELECT *,
         |    CAST($zA AS HUGEINT) * sa + CAST($zB AS HUGEINT) * sb AS num,
         |    CAST(greatest(p2_ppm - p1_ppm, 1) AS HUGEINT)
         |      * greatest(p2_ppm - p1_ppm, 1) * 1000000000000 AS den
         |  FROM sq)
         |SELECT g AS c_nationkey, n, k, p1_ppm, p2_ppm,
         |  CAST((num * num + den - 1) // den AS BIGINT) AS n_per_arm
         |FROM f ORDER BY g""".stripMargin
    }

    /** Twin of q307_good_turing: the shared whitespace tokenizer,
      * the (lang, word) count → frequency-of-frequencies fold, and
      * the same integer ppm divisions.
      */
    def goodTuringSql: String =
      s"""WITH tk AS (SELECT lang AS g, unnest(${tokensE("text")}) AS t
         |  FROM documents),
         |wc AS (SELECT g, t, CAST(count(*) AS BIGINT) AS r FROM tk
         |  WHERE t <> '' GROUP BY 1, 2),
         |fof AS (SELECT g, r, CAST(count(*) AS BIGINT) AS nr FROM wc
         |  GROUP BY 1, 2),
         |agg AS (SELECT g, CAST(sum(r * nr) AS BIGINT) AS n,
         |    CAST(sum(nr) AS BIGINT) AS vocab,
         |    CAST(coalesce(sum(CASE WHEN r = 1 THEN nr END), 0) AS BIGINT)
         |      AS n1,
         |    CAST(coalesce(sum(CASE WHEN r = 2 THEN nr END), 0) AS BIGINT)
         |      AS n2
         |  FROM fof GROUP BY 1)
         |SELECT g AS lang, n AS n_tokens, vocab, n1, n2,
         |  CAST((1000000 * CAST(n1 AS HUGEINT)) // greatest(n, 1)
         |    AS BIGINT) AS p0_ppm,
         |  CAST((2000 * CAST(n2 AS HUGEINT)) // greatest(n1, 1)
         |    AS BIGINT) AS r1_star_x1000
         |FROM agg ORDER BY lang""".stripMargin

    /** Twin of q308_yule_k: same tokenizer, one word-count pass,
      * K×100 = 10⁶·(Σcnt² − N)/N² through HUGEINT.
      */
    def yuleKSql: String =
      s"""WITH tk AS (SELECT source AS g, unnest(${tokensE("text")}) AS t
         |  FROM documents),
         |wc AS (SELECT g, t, CAST(count(*) AS BIGINT) AS cnt FROM tk
         |  WHERE t <> '' GROUP BY 1, 2),
         |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS vocab,
         |    CAST(sum(cnt) AS BIGINT) AS n,
         |    sum(CAST(cnt AS HUGEINT) * cnt) AS m2
         |  FROM wc GROUP BY 1)
         |SELECT g AS source, n AS n_tokens, vocab,
         |  CAST((1000000 * (m2 - n)) //
         |    greatest(CAST(n AS HUGEINT) * n, 1) AS BIGINT) AS yule_k_x100
         |FROM agg ORDER BY source""".stripMargin

    /** Twin of q309_ece_report: identical train/test date split,
      * per-brand ppm rate, the same least(p div width, 9) binning
      * and the same two-stage integer ECE fold.
      */
    def eceReportSql: String =
      s"""WITH li AS (SELECT p_brand, l_shipdate,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |train AS (SELECT p_brand,
         |    CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS p
         |  FROM li WHERE l_shipdate < DATE '1995-06-01' GROUP BY 1),
         |test AS (SELECT p, y FROM li JOIN train USING (p_brand)
         |  WHERE l_shipdate >= DATE '1995-06-01'),
         |b AS (SELECT least(greatest(CAST(p // 100000 AS BIGINT), 0), 9) AS bin,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS sp,
         |    CAST(sum(y) AS BIGINT) AS sy
         |  FROM test GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM b),
         |r AS (SELECT bin, n, CAST(sp // n AS BIGINT) AS conf_ppm,
         |    CAST((1000000 * CAST(sy AS HUGEINT)) // n AS BIGINT)
         |      AS acc_ppm, nt
         |  FROM b CROSS JOIN tot),
         |g AS (SELECT *, abs(conf_ppm - acc_ppm) AS gap_ppm FROM r),
         |e AS (SELECT CAST(sum(CAST(n AS HUGEINT) * gap_ppm) // max(nt)
         |    AS BIGINT) AS ece_ppm FROM g)
         |SELECT bin, n, conf_ppm, acc_ppm, gap_ppm, ece_ppm
         |FROM g CROSS JOIN e ORDER BY bin""".stripMargin

    /** Twin of q346_risk_coverage: the q309 train/test forecast CTEs
      * verbatim, then the ascending-score cumulative fold with both
      * ppm divides mirrored.
      */
    def riskCoverageSql: String =
      s"""WITH li AS (SELECT p_brand, l_shipdate,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |train AS (SELECT p_brand,
         |    CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS p
         |  FROM li WHERE l_shipdate < DATE '1995-06-01' GROUP BY 1),
         |test AS (SELECT p, y FROM li JOIN train USING (p_brand)
         |  WHERE l_shipdate >= DATE '1995-06-01'),
         |c AS (SELECT p, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS e FROM test GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
         |cm AS (SELECT p, n,
         |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
         |    CAST(sum(e) OVER w AS BIGINT) AS cum_e
         |  FROM c WINDOW w AS (ORDER BY p
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT p AS score_ppm, n, cum_n,
         |  CAST((1000000 * CAST(cum_n AS HUGEINT))
         |    // greatest(n_total, 1) AS BIGINT) AS coverage_ppm,
         |  cum_e AS cum_losses,
         |  CAST((1000000 * CAST(cum_e AS HUGEINT))
         |    // greatest(cum_n, 1) AS BIGINT) AS risk_ppm
         |FROM cm CROSS JOIN tot ORDER BY score_ppm""".stripMargin

    /** Twin of q347_tiff_probe: closed-form IFD fields
      * ([[graft.multimodal.ContainerProbes.tiffTestAsset]]) — both
      * byte orders, the inline-vs-offset BitsPerSample arms and the
      * thumbnail-IFD page count restated from the same formulas.
      */
    def tiffProbeSql: String =
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
         |  CAST(100 + doc_id % 400 AS BIGINT) AS width,
         |  CAST(80 + doc_id % 300 AS BIGINT) AS height,
         |  CAST(CASE doc_id % 3 WHEN 1 THEN 16 ELSE 8 END AS BIGINT)
         |    AS bits_per_sample,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 5 ELSE 7 END
         |    AS BIGINT) AS compression,
         |  CAST(CASE doc_id % 3 WHEN 2 THEN 2 ELSE 1 END AS BIGINT)
         |    AS photometric,
         |  CAST(CASE doc_id % 3 WHEN 2 THEN 3 ELSE 1 END AS BIGINT)
         |    AS samples_per_pixel,
         |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
         |  CAST(7 AS BIGINT) AS n_entries,
         |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS BIGINT)
         |    AS n_ifds
         |FROM documents ORDER BY doc_id""".stripMargin

    /** Twin of q348_avi_probe: closed-form avih/strh fields
      * ([[graft.multimodal.ContainerProbes.aviTestAsset]]) with the
      * same 24/25/30/60 fps microseconds-per-frame literal table and
      * both exact integral divides.
      */
    def aviProbeSql: String =
      s"""WITH base AS (SELECT doc_id,
         |    CAST(CASE doc_id % 4 WHEN 0 THEN 41666 WHEN 1 THEN 40000
         |      WHEN 2 THEN 33333 ELSE 16666 END AS BIGINT) AS us_per_frame,
         |    CAST((doc_id % 997 + 1) * 10 AS BIGINT) AS total_frames
         |  FROM documents)
         |SELECT doc_id, us_per_frame, total_frames,
         |  CAST(320 + 16 * (doc_id % 40) AS BIGINT) AS width,
         |  CAST(240 + 16 * (doc_id % 30) AS BIGINT) AS height,
         |  CAST(1 + doc_id % 2 AS BIGINT) AS n_streams,
         |  CASE doc_id % 4 WHEN 0 THEN 'MJPG' WHEN 1 THEN 'XVID'
         |    WHEN 2 THEN 'H264' ELSE 'FMP4' END AS video_codec,
         |  CAST(doc_id % 2 = 1 AS BOOLEAN) AS has_audio,
         |  CAST(1000000000 // us_per_frame AS BIGINT) AS fps_milli,
         |  CAST((us_per_frame * total_frames) // 1000 AS BIGINT)
         |    AS duration_ms
         |FROM base ORDER BY doc_id""".stripMargin

    /** Twin of q349_media_inventory: each doc's family is doc_id % 7
      * and every family's duration is the closed form its probe twin
      * already states — the rollup re-derives (format, duration) per
      * doc and aggregates, certifying sniff + dispatch + all seven
      * duration arithmetics in one hash.
      */
    def mediaInventorySql: String =
      s"""WITH base AS (SELECT doc_id, doc_id % 7 AS arm FROM documents),
         |d AS (SELECT doc_id, arm,
         |    CASE arm WHEN 0 THEN 'mp4' WHEN 1 THEN 'webm'
         |      WHEN 2 THEN 'flac' WHEN 3 THEN 'mp3' WHEN 4 THEN 'ogg'
         |      WHEN 5 THEN 'tiff' ELSE 'avi' END AS format,
         |    CAST(CASE arm
         |      WHEN 0 THEN (1000 * ((doc_id % 997 + 1) * 100))
         |        // (1000 + (doc_id % 9) * 600)
         |      WHEN 1 THEN (doc_id % 997 + 1) * 250
         |      WHEN 2 THEN (1000 * ((doc_id % 997 + 1) * 1000))
         |        // (CASE doc_id % 8 WHEN 0 THEN 8000 WHEN 1 THEN 16000
         |          WHEN 2 THEN 22050 WHEN 3 THEN 24000 WHEN 4 THEN 32000
         |          WHEN 5 THEN 44100 WHEN 6 THEN 48000 ELSE 96000 END)
         |      WHEN 3 THEN ((4 + (doc_id % 997 + 1) * 100) * 8)
         |        // (CASE WHEN doc_id % 3 <> 0 THEN
         |            CASE 1 + doc_id % 14 WHEN 1 THEN 32 WHEN 2 THEN 40
         |              WHEN 3 THEN 48 WHEN 4 THEN 56 WHEN 5 THEN 64
         |              WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
         |              WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
         |              WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END
         |          ELSE
         |            CASE 1 + doc_id % 14 WHEN 1 THEN 8 WHEN 2 THEN 16
         |              WHEN 3 THEN 24 WHEN 4 THEN 32 WHEN 5 THEN 40
         |              WHEN 6 THEN 48 WHEN 7 THEN 56 WHEN 8 THEN 64
         |              WHEN 9 THEN 80 WHEN 10 THEN 96 WHEN 11 THEN 112
         |              WHEN 12 THEN 128 WHEN 13 THEN 144 ELSE 160 END END)
         |      WHEN 4 THEN (CASE WHEN doc_id % 2 = 0 THEN
         |          (1000 * ((doc_id % 997 + 1) * 960))
         |            // (CASE (doc_id % 8) // 2 WHEN 0 THEN 8000
         |              WHEN 1 THEN 16000 WHEN 2 THEN 44100
         |              ELSE 48000 END)
         |          ELSE ((doc_id % 997 + 1) * 960) // 48 END)
         |      WHEN 5 THEN -1
         |      ELSE ((CASE doc_id % 4 WHEN 0 THEN 41666 WHEN 1 THEN 40000
         |          WHEN 2 THEN 33333 ELSE 16666 END)
         |        * ((doc_id % 997 + 1) * 10)) // 1000
         |      END AS BIGINT) AS duration_ms
         |  FROM base)
         |SELECT format, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN duration_ms >= 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_with_duration,
         |  CAST(sum(CASE WHEN duration_ms >= 0 THEN duration_ms
         |    ELSE 0 END) AS BIGINT) AS total_duration_ms,
         |  CAST(max(duration_ms) AS BIGINT) AS max_duration_ms
         |FROM d GROUP BY format ORDER BY format""".stripMargin

    /** Twin of q350_curation_verdict: the q64 PII plant on ids ≡ 3
      * (mod 7), the q119 Gopher flag CTE over the augmented text,
      * the q130 blocklist hits, the q24 md5 min-id dup winner, and
      * the same bit arithmetic for `reason_mask`.
      */
    def curationVerdictSql: String = curationVerdictSqlOver(
      """CASE WHEN doc_id % 7 = 3 THEN text || ' contact: user'
        |      || doc_id || '@test.org call 555-867-5309 ssn 123-45-6789'
        |      ELSE text END""".stripMargin)

    /** The q350 verdict CTE chain over an arbitrary text EXPRESSION
      * (in terms of `documents` columns) — shared with q354, whose
      * input is the planted text run through the q353 extraction
      * closed form instead of the raw column.
      */
    def curationVerdictSqlOver(textExpr: String): String = {
      // flatten to ONE line before interpolation: the template below
      // is stripMargin'd as a whole, and a multi-line expr whose
      // continuation line starts with '||' would lose its first pipe
      // to the margin strip (found the hard way by q354)
      val te = textExpr.replaceAll("\\s*\\n\\s*", " ")
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val stopSum = stops.map(s0 =>
        s"(CASE WHEN list_contains(w, '$s0') THEN 1 ELSE 0 END)").mkString(" + ")
      val email = graft.functions.TextFns.EMAIL_RE
      val ssn = graft.functions.TextFns.SSN_RE
      val phone = graft.functions.TextFns.PHONE_RE
      s"""WITH docs0 AS (SELECT doc_id, lang,
         |    $te AS text
         |  FROM documents),
         |wd AS (SELECT doc_id, lang, text, ${tokensE("text")} AS w
         |  FROM docs0),
         |b AS (SELECT doc_id, lang,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS nd,
         |  CAST(len(regexp_replace(text, '$WS+', '', 'g')) AS BIGINT) AS chars,
         |  CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS hsh,
         |  CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS ell,
         |  CAST($stopSum AS BIGINT) AS stops
         |  FROM wd),
         |fl AS (SELECT doc_id, lang, n_tokens,
         |  (n_tokens >= 10 AND n_tokens <= 10000) AS ok_words,
         |  (3 * n_tokens <= chars AND chars <= 10 * n_tokens) AS ok_mean_len,
         |  (10 * (hsh + ell) <= n_tokens) AS ok_symbols,
         |  (stops >= 1) AS ok_stopwords,
         |  (10 * (n_tokens - nd) <= 6 * n_tokens) AS ok_dup
         |  FROM b),
         |pi AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$email'))
         |      + len(regexp_extract_all(text, '$ssn'))
         |      + len(regexp_extract_all(text, '$phone')) AS BIGINT) AS pii
         |  FROM docs0),
         |tk AS (SELECT doc_id, lower(t) AS t FROM (
         |  SELECT doc_id, unnest(w) AS t FROM wd) z),
         |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM tk WHERE t IN ('slow', 'big', 'the') GROUP BY doc_id),
         |dk AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id
         |  FROM docs0 GROUP BY 1),
         |dp AS (SELECT doc_id, (doc_id <> dk.keep_id) AS loser
         |  FROM docs0 JOIN dk ON md5(docs0.text) = dk.fp),
         |m AS (SELECT fl.doc_id, fl.lang, fl.n_tokens,
         |    CAST((CASE WHEN NOT ok_words THEN 1 ELSE 0 END)
         |      + (CASE WHEN NOT ok_mean_len THEN 2 ELSE 0 END)
         |      + (CASE WHEN NOT ok_symbols THEN 4 ELSE 0 END)
         |      + (CASE WHEN NOT ok_stopwords THEN 8 ELSE 0 END)
         |      + (CASE WHEN NOT ok_dup THEN 16 ELSE 0 END)
         |      + (CASE WHEN pi.pii > 0 THEN 32 ELSE 0 END)
         |      + (CASE WHEN coalesce(h.n_hits, 0) > 2 THEN 64 ELSE 0 END)
         |      + (CASE WHEN dp.loser THEN 128 ELSE 0 END) AS BIGINT)
         |      AS reason_mask
         |  FROM fl JOIN pi USING (doc_id)
         |    LEFT JOIN h USING (doc_id)
         |    JOIN dp USING (doc_id))
         |SELECT doc_id, lang, n_tokens, reason_mask,
         |  (reason_mask = 0) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    }

    /** Twin of q351_raking: the same (lang, source) grid, uniform
      * targets `(N·10⁶) // margin-count`, and 2 row+col IPF sweeps
      * unrolled with every truncating divide mirrored through
      * HUGEINT.
      */
    /** The q351 IPF CTE chain (cells → dims → w0 → … → w4) — shared
      * verbatim by [[rakingSql]] and [[rakedSampleSql]].
      */
    private def rakeCtes: String = {
      val steps = (1 to 2).flatMap { i =>
        val (pr, pc) = (s"w${2 * i - 2}", s"w${2 * i - 1}")
        Seq(
          s"""r${i}s AS (SELECT r, sum(CAST(n AS HUGEINT) * w) AS s
             |  FROM $pr GROUP BY 1),
             |$pc AS (SELECT p.r, p.c, p.n,
             |    (p.w * ((dims.nn * 1000000) // dims.nr))
             |      // greatest(m.s, 1) AS w
             |  FROM $pr p JOIN r${i}s m USING (r) CROSS JOIN dims)""",
          s"""c${i}s AS (SELECT c, sum(CAST(n AS HUGEINT) * w) AS s
             |  FROM $pc GROUP BY 1),
             |w${2 * i} AS (SELECT p.r, p.c, p.n,
             |    (p.w * ((dims.nn * 1000000) // dims.nc))
             |      // greatest(m.s, 1) AS w
             |  FROM $pc p JOIN c${i}s m USING (c) CROSS JOIN dims)""")
      }.mkString(",\n")
      s"""cells AS (SELECT lang AS r, source AS c,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |dims AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS nr,
         |    CAST(count(DISTINCT c) AS BIGINT) AS nc,
         |    CAST(sum(n) AS HUGEINT) AS nn FROM cells),
         |w0 AS (SELECT r, c, n, CAST(1000000 AS HUGEINT) AS w
         |  FROM cells),
         |$steps"""
    }

    def rakingSql: String =
      s"""WITH $rakeCtes,
         |__final AS (SELECT * FROM w4)
         |SELECT r AS lang, c AS source, n, CAST(w AS BIGINT) AS weight_ppm,
         |  CAST((CAST(n AS HUGEINT) * w) // 1000000 AS BIGINT)
         |    AS weighted_n
         |FROM __final ORDER BY lang, source""".stripMargin

    /** Twin of q352_raked_sample: the q351 IPF chain verbatim, then
      * the md5-hash61 fractional gate and the epochs arithmetic.
      */
    def rakedSampleSql: String = {
      val u = graft.functions.HashFns.duckHash61(
        "'rake:' || CAST(doc_id AS VARCHAR)")
      s"""WITH $rakeCtes,
         |wt AS (SELECT r, c, n, CAST(w AS BIGINT) AS wp FROM w4),
         |k AS (SELECT lang AS r, source AS c, doc_id,
         |    $u % 1000000 AS u
         |  FROM documents),
         |s AS (SELECT wt.r, wt.c, wt.n, wt.wp,
         |    CAST(sum(CASE WHEN k.u < wt.wp % 1000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_sampled
         |  FROM wt JOIN k ON k.r = wt.r AND k.c = wt.c
         |  GROUP BY wt.r, wt.c, wt.n, wt.wp)
         |SELECT r AS lang, c AS source, n, wp AS weight_ppm,
         |  CAST(wp // 1000000 AS BIGINT) AS full_epochs,
         |  n_sampled,
         |  CAST(n * (wp // 1000000) + n_sampled AS BIGINT) AS n_kept
         |FROM s ORDER BY lang, source""".stripMargin
    }

    /** The q353/q354 extraction closed form over a text expression:
      * [[graft.ops.Html.testAsset]] chunks the token stream into
      * `<p>` blocks of 12, all of which the 50 % link gate keeps, so
      * the expected `main_text` is the text with every 12th space
      * replaced by a newline — one sequential-match regexp (each
      * match consumes exactly 12 tokens + the trailing space).
      */
    private def chunked(textE: String): String =
      s"""regexp_replace($textE, '((?:\\S+ ){11}\\S+) ', """ +
        """'\1' || chr(10), 'g')"""

    /** Twin of q353_html_extract: the fixture page is closed-form
      * from (doc_id, text) ([[graft.ops.Html.testAsset]]), so the
      * expected extraction is pure string arithmetic — main_text =
      * the 12-token re-chunking ([[chunked]]); kept = ⌈n_tokens/12⌉
      * paragraphs (every one under the 50 % link gate: the planted
      * inline anchor's word is ≤ 8 chars of a ≥ 23-char block);
      * dropped = nav + footer + promo (docs with even id); ppm from
      * the builder's fixed boilerplate char counts — nav text is
      * 7k−1 chars with 6k linked (k = 3 + id%4 links "home i"),
      * promo 14/14, footer 13/12, paragraphs Σchars = len(text) −
      * (paragraphs − 1) with l3 = len(3rd token) linked when the
      * id≡0 (mod 3) anchor is planted (and nothing linked
      * otherwise). The hex-entity arm (id≡0 mod 5) changes NOTHING
      * here — decode must restore the original first char, which is
      * exactly what the twin assumes.
      */
    def htmlExtractSql: String =
      s"""WITH t AS (SELECT doc_id, text, ${tokensE("text")} AS w
         |  FROM documents),
         |b AS (SELECT doc_id, text,
         |    CAST((len(w) + 11) // 12 AS BIGINT) AS np,
         |    CAST(3 + doc_id % 4 AS BIGINT) AS k,
         |    (doc_id % 2 = 0) AS promo,
         |    CASE WHEN doc_id % 3 = 0 AND len(w) >= 3
         |      THEN CAST(length(w[3]) AS BIGINT) ELSE 0 END AS l3
         |  FROM t)
         |SELECT doc_id,
         |  ${chunked("text")} AS main_text,
         |  np AS n_blocks_kept,
         |  CAST(2 + CASE WHEN promo THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_blocks_dropped,
         |  CAST((1000000 * (6 * k + 12
         |      + CASE WHEN promo THEN 14 ELSE 0 END + l3))
         |    // (7 * k - 1 + 13 + CASE WHEN promo THEN 14 ELSE 0 END
         |      + length(text) - (np - 1)) AS BIGINT)
         |    AS link_density_ppm
         |FROM b ORDER BY doc_id""".stripMargin

    /** Twin of q354_curated_web: the q350 verdict CTE chain
      * ([[curationVerdictSqlOver]]) over the PII-planted text run
      * through the q353 extraction closed form — the twin-side
      * statement of "gate the EXTRACTED text". Tokenizer, stopword,
      * PII and md5 gates all see the '\n'-chunked string, and both
      * engines hash the same bytes only if the Spark extractor
      * reproduced it exactly.
      */
    def curatedWebSql: String = curationVerdictSqlOver(chunked(
      """CASE WHEN doc_id % 7 = 3 THEN text || ' contact: user'
        |      || doc_id || '@test.org call 555-867-5309 ssn 123-45-6789'
        |      ELSE text END""".stripMargin))

    /** Twin of q355_html_outlinks: the fixture page's anchors are
      * fully closed-form, so the twin ENUMERATES the edge list — nav
      * via a per-row `range(k)` unnest, promo/inline/footer as
      * guarded UNION ALL branches — with positions from the same
      * arithmetic (nav 0..k−1, promo at k, inline after, footer
      * last) and `from_main` true only for the planted inline
      * anchor (its paragraph is the one content block carrying a
      * link; every boilerplate block fails the 50 % gate).
      */
    def htmlOutlinksSql: String =
      s"""WITH t AS (SELECT doc_id, ${tokensE("text")} AS w
         |  FROM documents),
         |base AS (SELECT doc_id,
         |    CAST(3 + doc_id % 4 AS BIGINT) AS k,
         |    (doc_id % 2 = 0) AS promo,
         |    (doc_id % 3 = 0 AND len(w) >= 3) AS inl,
         |    CASE WHEN doc_id % 3 = 0 AND len(w) >= 3
         |      THEN w[3] ELSE '' END AS tok3
         |  FROM t),
         |nav AS (SELECT doc_id, unnest(range(k)) AS i FROM base),
         |edges AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS link_pos,
         |    '/h' || i AS href, 'home ' || i AS anchor_text,
         |    false AS from_main
         |  FROM nav
         |  UNION ALL
         |  SELECT doc_id, k, '/p', 'Click here now', false
         |  FROM base WHERE promo
         |  UNION ALL
         |  SELECT doc_id, k + CASE WHEN promo THEN 1 ELSE 0 END,
         |    '/w', tok3, true
         |  FROM base WHERE inl
         |  UNION ALL
         |  SELECT doc_id,
         |    k + CASE WHEN promo THEN 1 ELSE 0 END
         |      + CASE WHEN inl THEN 1 ELSE 0 END,
         |    '/about', 'about', false
         |  FROM base
         |  UNION ALL
         |  SELECT doc_id,
         |    k + CASE WHEN promo THEN 1 ELSE 0 END
         |      + CASE WHEN inl THEN 1 ELSE 0 END + 1,
         |    '/contact', 'contact', false
         |  FROM base)
         |SELECT doc_id, link_pos, href, anchor_text, from_main
         |FROM edges ORDER BY doc_id, link_pos""".stripMargin

    /** Twin of q356_url_dedup: all four messy arms of
      * [[graft.ops.Url.testUrl]] canonicalize to the one form stated
      * here, so the twin groups the canonical expression directly;
      * n_spellings = distinct arms present in the group (the raw
      * spelling is a function of (id%50, id%7, id%4) and the group
      * key pins the first two).
      */
    def urlDedupSql: String =
      s"""WITH c AS (SELECT doc_id,
         |    'http://www.example' || (doc_id % 50) || '.com/path'
         |      || (doc_id % 7) || '?a=1&b=2' AS canonical_url,
         |    doc_id % 4 AS arm
         |  FROM documents)
         |SELECT canonical_url,
         |  CAST(count(*) AS BIGINT) AS n_variants,
         |  CAST(count(DISTINCT arm) AS BIGINT) AS n_spellings,
         |  CAST(min(doc_id) AS BIGINT) AS keep_id
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

    /** Twin of q357_line_dedup: the q353 extraction closed form
      * gives each doc's lines (the 12-token chunks), then the SAME
      * line-document-frequency computation runs in SQL — parallel
      * unnest zips line with position, one line-keyed DISTINCT-doc
      * count, ordered string_agg of the survivors (CASE nulls skip,
      * so dropped lines vanish without disturbing order), empty-doc
      * coalesce to ''.
      */
    def lineDedupSql: String =
      s"""WITH d0 AS (SELECT doc_id, ${chunked("text")} AS text
         |  FROM documents),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lst
         |  FROM d0),
         |l AS (SELECT doc_id, unnest(lst) AS line,
         |    unnest(range(len(lst))) AS pos
         |  FROM ls),
         |f AS (SELECT line, count(DISTINCT doc_id) AS line_df
         |  FROM l GROUP BY 1),
         |j AS (SELECT l.doc_id, l.pos, l.line, f.line_df
         |  FROM l JOIN f USING (line))
         |SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN line_df <= 2 THEN line END,
         |    chr(10) ORDER BY pos), '') AS clean_text,
         |  CAST(sum(CASE WHEN line_df <= 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_lines_kept,
         |  CAST(sum(CASE WHEN line_df > 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_lines_dropped
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** Twin of q358_warc_extract: every response-record field is
      * closed-form — the target URI is the RAW messy spelling of the
      * q356 fixture arm (canonicalization is q356's job, not the
      * parser's), status is the 404 plant on ids ≡ 0 (mod 9), the
      * Content-Type literal is fixed by the builder, and main_text
      * is the q353 extraction closed form. A wrong gzip inflate,
      * record framing, type dispatch or HTTP split breaks one of
      * these columns.
      */
    def warcExtractSql: String =
      s"""WITH b AS (SELECT doc_id, text,
         |    CAST(doc_id % 50 AS BIGINT) AS d,
         |    CAST(doc_id % 7 AS BIGINT) AS p
         |  FROM documents)
         |SELECT doc_id,
         |  CASE doc_id % 4
         |    WHEN 0 THEN 'HTTP://WWW.Example' || d || '.COM:80/path'
         |      || p || '?b=2&a=1#section'
         |    WHEN 1 THEN 'http://www.example' || d || '.com/path'
         |      || p || '?utm_source=feed&a=1&b=2'
         |    WHEN 2 THEN 'http://www.example' || d || '.com:80/path'
         |      || p || '/?a=1&b=2&utm_campaign=x'
         |    ELSE 'http://www.example' || d || '.com//path'
         |      || p || '?fbclid=abc&b=2&a=1' END AS target_uri,
         |  CAST(CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END
         |    AS BIGINT) AS http_status,
         |  'text/html; charset=utf-8' AS content_type,
         |  ${chunked("text")} AS main_text
         |FROM b ORDER BY doc_id""".stripMargin

    /** Twin of q310_doremi_step: the q106 LM CTEs (shared tokenizer,
      * shared Mitchell-log emitter), folded per source, then the
      * IDENTICAL generated exp2 CASE over the centered, clamped,
      * sign-symmetric eta-scaled excess.
      */
    def doremiStepSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      val exp2 = graft.ops.TextStats.exp2E8Sql("arg", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, source, ${tokensE("text")} AS w
         |  FROM documents),
         |bgl AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
         |    unnest(${shinglesE("w", 2)}) AS bg
         |  FROM wd WHERE len(w) >= 2),
         |c2 AS (SELECT bg, count(*) AS c2 FROM bgl GROUP BY bg),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bgl GROUP BY w1),
         |v AS (SELECT count(DISTINCT t) AS v
         |  FROM (SELECT unnest(w) AS t FROM wd)),
         |sc AS (SELECT b.doc_id,
         |    (CAST(c1.c1 + v.v AS HUGEINT) * ${1L << shift})
         |      // (c2.c2 + 1) AS q
         |  FROM bgl b JOIN c2 ON b.bg = c2.bg
         |  JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v),
         |m AS (SELECT doc_id, count(*) AS nb,
         |    SUM($m8 - ${8 * shift}) AS s8
         |  FROM sc GROUP BY doc_id),
         |bysrc AS (SELECT d.source AS src,
         |    CAST(sum(coalesce(m.nb, 0)) AS BIGINT) AS nb,
         |    CAST(sum(coalesce(m.s8, 0)) AS BIGINT) AS se8
         |  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS nbt,
         |    CAST(sum(se8) AS BIGINT) AS st8 FROM bysrc),
         |base AS (SELECT src, nb,
         |    CAST(se8 // greatest(nb, 1) AS BIGINT) AS avg_e8,
         |    CAST(st8 // greatest(nbt, 1) AS BIGINT) AS corpus_e8,
         |    CAST((1000000 * CAST(nb AS HUGEINT)) // greatest(nbt, 1)
         |      AS BIGINT) AS base_ppm
         |  FROM bysrc CROSS JOIN tot),
         |ex AS (SELECT *, avg_e8 - corpus_e8 AS excess_e8 FROM base),
         |ag AS (SELECT *, least(greatest((CASE WHEN excess_e8 >= 0
         |    THEN (1 * excess_e8) // 1
         |    ELSE -((1 * -excess_e8) // 1) END) + 240, 24), 479) AS arg
         |  FROM ex),
         |f AS (SELECT *, CAST(base_ppm AS HUGEINT) * ($exp2) AS raw
         |  FROM ag),
         |z AS (SELECT sum(raw) AS z FROM f)
         |SELECT src, nb AS n_bigrams, avg_e8, excess_e8, base_ppm,
         |  CAST((1000000 * raw) // greatest(z, 1) AS BIGINT) AS new_ppm
         |FROM f CROSS JOIN z ORDER BY src""".stripMargin
    }

    /** Twin of q312_lm_cross_ppl: the q106 LM CTEs per source
      * (shared tokenizer + shingler + Mitchell-log emitter), the
      * source-list cross join, per-source vocab smoothing.
      */
    def lmCrossPplSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, source, ${tokensE("text")} AS w
         |  FROM documents),
         |bgl AS (SELECT source AS ga, unnest(w[1:len(w)-1]) AS w1,
         |    unnest(${shinglesE("w", 2)}) AS bg
         |  FROM wd WHERE len(w) >= 2),
         |ac AS (SELECT ga, w1, bg, CAST(count(*) AS BIGINT) AS ca
         |  FROM bgl GROUP BY 1, 2, 3),
         |c2 AS (SELECT ga AS gb, bg, ca AS c2 FROM ac),
         |c1 AS (SELECT ga AS gb, w1, CAST(sum(ca) AS BIGINT) AS c1
         |  FROM ac GROUP BY 1, 2),
         |vb AS (SELECT gb, CAST(count(*) AS BIGINT) AS v FROM
         |  (SELECT DISTINCT source AS gb, unnest(w) AS t FROM wd)
         |  GROUP BY 1),
         |gl AS (SELECT DISTINCT ga AS gb FROM ac),
         |grid AS (SELECT a.ga, g.gb, a.ca,
         |    coalesce(c2.c2, 0) AS c2, coalesce(c1.c1, 0) AS c1, vb.v
         |  FROM ac a CROSS JOIN gl g
         |  LEFT JOIN c2 ON c2.gb = g.gb AND c2.bg = a.bg
         |  LEFT JOIN c1 ON c1.gb = g.gb AND c1.w1 = a.w1
         |  JOIN vb ON vb.gb = g.gb),
         |sc AS (SELECT ga, gb, ca,
         |    CAST(greatest((CAST(c1 + v AS HUGEINT) * ${1L << shift})
         |      // (c2 + 1), ${1L << shift}) AS BIGINT) AS q
         |  FROM grid),
         |m AS (SELECT ga AS group_a, gb AS group_b,
         |    CAST(sum(ca) AS BIGINT) AS n_bigrams,
         |    CAST(sum(ca * (($m8) - ${8 * shift})) AS BIGINT) AS cross_e8
         |  FROM sc GROUP BY 1, 2)
         |SELECT group_a, group_b, n_bigrams, cross_e8,
         |  CAST(cross_e8 // greatest(n_bigrams, 1) AS BIGINT) AS avg_e8
         |FROM m ORDER BY group_a, group_b""".stripMargin
    }

    /** Twin of q313_burrows_delta: same tokenizer, the heap's
      * (count DESC, word ASC) top-50 as ORDER BY ... LIMIT, ppm
      * rates on the (source × word) grid, common-denominator
      * variance through HUGEINT, floor(√), sign-symmetric z.
      */
    def burrowsDeltaSql: String =
      s"""WITH tk AS (SELECT source AS g, unnest(${tokensE("text")}) AS t
         |  FROM documents),
         |wc AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c FROM tk
         |  WHERE t <> '' GROUP BY 1, 2),
         |tot AS (SELECT t, CAST(sum(c) AS BIGINT) AS tc FROM wc
         |  GROUP BY 1),
         |top AS (SELECT t FROM tot ORDER BY tc DESC, t LIMIT 50),
         |ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM wc
         |  GROUP BY 1),
         |grid AS (SELECT ng.g, top.t,
         |    CAST((1000000 * CAST(coalesce(wc.c, 0) AS HUGEINT))
         |      // greatest(ng.n, 1) AS BIGINT) AS r
         |  FROM ng CROSS JOIN top
         |  LEFT JOIN wc ON wc.g = ng.g AND wc.t = top.t),
         |st AS (SELECT t, CAST(count(*) AS BIGINT) AS s,
         |    CAST(sum(r) AS BIGINT) AS sr, sum(r * r) AS srr
         |  FROM grid GROUP BY 1),
         |mz AS (SELECT t, CAST(sr // s AS BIGINT) AS mu,
         |    CAST(floor(sqrt(CAST((CAST(s AS HUGEINT) * srr
         |      - CAST(sr AS HUGEINT) * sr) // (CAST(s AS HUGEINT) * s)
         |      AS DOUBLE))) AS BIGINT) AS sd
         |  FROM st),
         |z AS (SELECT g, grid.t,
         |    CASE WHEN r >= mu THEN (1000 * (r - mu)) // greatest(sd, 1)
         |      ELSE -((1000 * (mu - r)) // greatest(sd, 1)) END AS z
         |  FROM grid JOIN mz ON grid.t = mz.t),
         |p AS (SELECT a.g AS group_a, b.g AS group_b,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(abs(a.z - b.z)) AS BIGINT) AS sd2
         |  FROM z a JOIN z b ON a.t = b.t AND a.g < b.g GROUP BY 1, 2)
         |SELECT group_a, group_b, n_words,
         |  CAST(sd2 // n_words AS BIGINT) AS delta_x1000
         |FROM p ORDER BY group_a, group_b""".stripMargin

    /** Twin of q314_brier_decomp: the q309 forecast CTEs, the same
      * binning, Σ(p−10⁶y)² through HUGEINT, Murphy terms over the
      * bin table.
      */
    def brierDecompSql: String =
      s"""WITH li AS (SELECT p_brand, l_shipdate,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |train AS (SELECT p_brand,
         |    CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS p
         |  FROM li WHERE l_shipdate < DATE '1995-06-01' GROUP BY 1),
         |test AS (SELECT p, y FROM li JOIN train USING (p_brand)
         |  WHERE l_shipdate >= DATE '1995-06-01'),
         |b AS (SELECT least(greatest(CAST(p // 100000 AS BIGINT), 0), 9) AS bin,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS sp,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(p - 1000000 * y AS HUGEINT) * (p - 1000000 * y))
         |      AS sq
         |  FROM test GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(sq) AS sqt,
         |    CAST((1000000 * CAST(sum(sy) AS HUGEINT)) // sum(n)
         |      AS BIGINT) AS ybar FROM b),
         |terms AS (SELECT n, nt, sqt, ybar,
         |    CAST(sp // n AS BIGINT) AS conf,
         |    CAST((1000000 * CAST(sy AS HUGEINT)) // n AS BIGINT) AS acc
         |  FROM b CROSS JOIN tot),
         |f AS (SELECT nt, sqt, ybar,
         |    sum(CAST(n AS HUGEINT) * (conf - acc) * (conf - acc)) AS rel,
         |    sum(CAST(n AS HUGEINT) * (acc - ybar) * (acc - ybar)) AS res
         |  FROM terms GROUP BY 1, 2, 3)
         |SELECT nt AS n, ybar AS ybar_ppm,
         |  CAST(sqt // nt AS BIGINT) AS brier_x1e12,
         |  CAST(rel // nt AS BIGINT) AS rel_x1e12,
         |  CAST(res // nt AS BIGINT) AS res_x1e12,
         |  CAST(CAST(ybar AS HUGEINT) * (1000000 - ybar) AS BIGINT)
         |    AS unc_x1e12
         |FROM f ORDER BY n""".stripMargin

    /** Twin of q315_anova: the same floored integer sums-of-squares
      * forms through HUGEINT, the same clamp and two-step F.
      */
    def anovaSql: String =
      s"""WITH b AS (SELECT o_orderpriority AS g,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
         |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(v) AS BIGINT) AS sg,
         |    sum(CAST(v AS HUGEINT) * v) AS qg
         |  FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS k, CAST(sum(sg) AS BIGINT) AS s,
         |    sum(qg) AS q,
         |    sum((CAST(sg AS HUGEINT) * sg) // ng) AS ssb_raw
         |  FROM gg),
         |u AS (SELECT n AS n_rows, k AS n_groups,
         |    greatest(ssb_raw - (CAST(s AS HUGEINT) * s) // n, 0) AS ssb,
         |    q - ssb_raw AS ssw, n, k FROM t)
         |SELECT n_rows, n_groups,
         |  CAST(CASE WHEN ssw <= 0 OR k < 2 OR n <= k THEN -1
         |    ELSE (1000 * (ssb // (k - 1))) //
         |      greatest(ssw // (n - k), 1) END AS BIGINT) AS f_x1000,
         |  CAST(CASE WHEN ssb + ssw <= 0 THEN 0
         |    ELSE (1000000 * ssb) // (ssb + ssw) END AS BIGINT)
         |    AS eta2_ppm
         |FROM u""".stripMargin

    /** Twin of q316_durbin_watson: the q242 grid + fit CTEs, exact
      * ×10⁶ residuals, lag diff per type, the same −1 sentinel.
      */
    def durbinWatsonSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS y
         |  FROM b GROUP BY et, d),
         |days AS (SELECT DISTINCT d FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, coalesce(c.y, 0) AS y
         |  FROM ets CROSS JOIN days
         |  LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |x AS (SELECT et,
         |    CAST(date_diff('day', min(d) OVER (PARTITION BY et), d)
         |      AS BIGINT) AS x, y FROM g),
         |a AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM x GROUP BY et),
         |fit AS (SELECT et,
         |    CAST((1000000 * (n * sxy - sx * sy))
         |      // greatest(n * sxx - sx * sx, 1) AS BIGINT) AS slope_micro,
         |    n, sx, sy FROM a),
         |fit2 AS (SELECT et, slope_micro,
         |    CAST((1000000 * sy - CAST(slope_micro AS HUGEINT) * sx) // n
         |      AS BIGINT) AS intercept_micro FROM fit),
         |e AS (SELECT x.et, x.x,
         |    1000000 * x.y - fit2.slope_micro * x.x - fit2.intercept_micro
         |      AS e6
         |  FROM x JOIN fit2 ON x.et = fit2.et),
         |de AS (SELECT et, e6,
         |    e6 - lag(e6, 1) OVER (PARTITION BY et ORDER BY x) AS de6
         |  FROM e),
         |f AS (SELECT et, CAST(count(*) AS BIGINT) AS n_days,
         |    sum(CAST(e6 AS HUGEINT) * e6) AS see,
         |    sum(CAST(de6 AS HUGEINT) * de6) AS sdd
         |  FROM de GROUP BY et)
         |SELECT et AS event_type, n_days,
         |  CAST(CASE WHEN see <= 0 THEN -1
         |    ELSE (1000 * sdd) // see END AS BIGINT) AS dw_x1000
         |FROM f ORDER BY event_type""".stripMargin

    /** Twin of q317_surprisal_spans: the q106 LM CTEs with a
      * parallel-unnest position column, the same 8-row window sums
      * and the same earliest-position rank tie-break.
      */
    def surprisalSpansSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT doc_id,
         |    unnest(range(0, len(w) - 1)) AS pos,
         |    unnest(w[1:len(w)-1]) AS w1,
         |    unnest(${shinglesE("w", 2)}) AS bg
         |  FROM wd WHERE len(w) >= 2),
         |c2 AS (SELECT bg, count(*) AS c2 FROM bgl GROUP BY bg),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bgl GROUP BY w1),
         |v AS (SELECT count(DISTINCT t) AS v
         |  FROM (SELECT unnest(w) AS t FROM wd)),
         |sc AS (SELECT b.doc_id, b.pos,
         |    greatest((CAST(c1.c1 + v.v AS HUGEINT) * ${1L << shift})
         |      // (c2.c2 + 1), ${1L << shift}) AS q
         |  FROM bgl b JOIN c2 ON b.bg = c2.bg
         |  JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v),
         |m AS (SELECT doc_id, pos, ($m8) - ${8 * shift} AS e8 FROM sc),
         |ww AS (SELECT doc_id, pos,
         |    sum(e8) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win_e8,
         |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS win_n,
         |    count(*) OVER (PARTITION BY doc_id) AS n_bigrams
         |  FROM m),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY win_e8 DESC, pos) AS rk
         |  FROM ww WHERE win_n = 8)
         |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         |  CAST(pos AS BIGINT) AS span_end_pos,
         |  CAST(win_e8 AS BIGINT) AS span_e8
         |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin
    }

    /** Twin of q318_dim_anova: the q108 max-abs/int8 quantization
      * CTEs (label carried through), then the q315 floored-SS ANOVA
      * arithmetic per dimension.
      */
    def dimAnovaSql: String =
      s"""WITH ed AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |ex AS (SELECT unnest([{'pos': i, 'x': v[i]}
         |    for i in range(1, len(v)+1)]) AS u FROM ed),
         |sc AS (SELECT u.pos AS pos, max(abs(u.x)) AS m FROM ex
         |  GROUP BY u.pos),
         |sl AS (SELECT list(m ORDER BY pos) AS s FROM sc),
         |qz AS (SELECT label AS lab,
         |    unnest([{'dim': i - 1, 'v': CASE WHEN s[i] = 0 THEN 0
         |      ELSE CAST(floor(v[i] * 127.0 / s[i]) AS BIGINT) END}
         |      for i in range(1, len(v)+1)]) AS u
         |  FROM ed CROSS JOIN sl),
         |g AS (SELECT u.dim AS dim, lab, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(u.v) AS BIGINT) AS sg,
         |    CAST(sum(u.v * u.v) AS BIGINT) AS qg
         |  FROM qz GROUP BY 1, 2),
         |t AS (SELECT dim, CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS k, CAST(sum(sg) AS BIGINT) AS s,
         |    CAST(sum(qg) AS BIGINT) AS q,
         |    sum((CAST(sg AS HUGEINT) * sg) // ng) AS ssb_raw
         |  FROM g GROUP BY 1),
         |u AS (SELECT dim, n AS n_rows, k AS n_labels,
         |    greatest(ssb_raw - (CAST(s AS HUGEINT) * s) // n, 0) AS ssb,
         |    q - ssb_raw AS ssw, n, k FROM t)
         |SELECT CAST(dim AS BIGINT) AS dim, n_rows, n_labels,
         |  CAST(CASE WHEN ssw <= 0 OR k < 2 OR n <= k THEN -1
         |    ELSE (1000 * (ssb // (k - 1))) //
         |      greatest(ssw // (n - k), 1) END AS BIGINT) AS f_x1000,
         |  CAST(CASE WHEN ssb + ssw <= 0 THEN 0
         |    ELSE (1000000 * ssb) // (ssb + ssw) END AS BIGINT)
         |    AS eta2_ppm
         |FROM u ORDER BY dim""".stripMargin

    /** Per-key one-way ANOVA CTE chain over a (et, g, v) cell CTE —
      * the q315 floored-SS forms keyed by `et`, emitted once per
      * factor so the q319 twin can't drift between its two ANOVAs.
      * (HUGEINT carries the s²/n quotients directly; the Spark side's
      * s·q + s·r decomposition computes the identical value.)
      */
    private def anovaKeyedSql(src: String, pfx: String): String =
      s"""${pfx}g AS (SELECT et, g, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(v) AS BIGINT) AS sg, sum(CAST(v AS HUGEINT) * v)
         |      AS qg
         |  FROM $src GROUP BY 1, 2),
         |""".stripMargin + anovaMomentsSql(s"${pfx}g", pfx)

    /** The SS/F/η² fold over a pre-computed (et, ng, sg, qg) moment
      * CTE — the bottom half of [[anovaKeyedSql]], reused by the
      * counted-moment q321 twin exactly like the Spark split.
      */
    private def anovaMomentsSql(src: String, pfx: String): String =
      s"""${pfx}t AS (SELECT et, CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS k, CAST(sum(sg) AS HUGEINT) AS s,
         |    sum(qg) AS q,
         |    sum((CAST(sg AS HUGEINT) * sg) // ng) AS ssb_raw
         |  FROM $src GROUP BY 1),
         |${pfx}u AS (SELECT et, n AS n_rows, k,
         |    greatest(ssb_raw - (CAST(s AS HUGEINT) * s) // n, 0) AS ssb,
         |    q - ssb_raw AS ssw, n FROM ${pfx}t),
         |${pfx}r AS (SELECT et, n_rows, k AS n_groups,
         |    CAST(CASE WHEN ssw <= 0 OR k < 2 OR n <= k THEN -1
         |      ELSE (1000 * (ssb // (k - 1))) //
         |        greatest(ssw // (n - k), 1) END AS BIGINT) AS f_x1000,
         |    CAST(CASE WHEN ssb + ssw <= 0 THEN 0
         |      ELSE (1000000 * ssb) // (ssb + ssw) END AS BIGINT)
         |      AS eta2_ppm
         |  FROM ${pfx}u)""".stripMargin

    /** Twin of q321_brown_forsythe: the q235 ceil-rank median off
      * the value-count table, |v − med| deviations folded to counted
      * moments, the shared ANOVA-moments chain keyed by a constant.
      */
    def brownForsytheSql: String =
      s"""WITH b AS (SELECT o_orderpriority AS g,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
         |c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM b
         |  GROUP BY 1, 2),
         |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM c
         |  GROUP BY 1),
         |rk AS (SELECT c.g, c.v,
         |    sum(cnt) OVER (PARTITION BY c.g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    tot.n
         |  FROM c JOIN tot ON c.g = tot.g),
         |med AS (SELECT g, CAST(min(v) AS BIGINT) AS med FROM rk
         |  WHERE cum >= (50 * n + 99) // 100 GROUP BY 1),
         |bfm AS (SELECT CAST(0 AS BIGINT) AS et, c.g,
         |    CAST(sum(cnt) AS BIGINT) AS ng,
         |    sum(CAST(cnt AS HUGEINT) * abs(v - med)) AS sg,
         |    sum(CAST(cnt AS HUGEINT) * abs(v - med) * abs(v - med))
         |      AS qg
         |  FROM c JOIN med ON c.g = med.g GROUP BY 1, 2),
         |${anovaMomentsSql("bfm", "b")}
         |SELECT n_rows, n_groups, f_x1000, eta2_ppm FROM br""".stripMargin

    /** Twin of q319_seasonal_strength: the q242 zero-filled grids
      * (daily + hourly cells), the shared keyed-ANOVA chain per
      * factor, joined per type. Weekday/hour numbering differs
      * across engines but never surfaces — only the cell partition
      * matters, and it is identical.
      */
    def seasonalStrengthSql: String =
      s"""WITH base AS (SELECT event_type AS et,
         |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod
         |  FROM events),
         |daily AS (SELECT et, d, CAST(count(*) AS BIGINT) AS y
         |  FROM base GROUP BY 1, 2),
         |days AS (SELECT DISTINCT d FROM daily),
         |ets AS (SELECT DISTINCT et FROM daily),
         |dcells AS (SELECT ets.et,
         |    CAST(dayofweek(days.d) AS BIGINT) AS g,
         |    coalesce(daily.y, 0) AS v
         |  FROM ets CROSS JOIN days
         |  LEFT JOIN daily ON daily.et = ets.et AND daily.d = days.d),
         |${anovaKeyedSql("dcells", "d")},
         |hourly AS (SELECT et, d, hod, CAST(count(*) AS BIGINT) AS y
         |  FROM base GROUP BY 1, 2, 3),
         |hods AS (SELECT unnest(range(0, 24)) AS hod),
         |hcells AS (SELECT ets.et, CAST(h.hod AS BIGINT) AS g,
         |    coalesce(hourly.y, 0) AS v
         |  FROM ets CROSS JOIN days CROSS JOIN hods h
         |  LEFT JOIN hourly ON hourly.et = ets.et AND hourly.d = days.d
         |    AND hourly.hod = h.hod),
         |${anovaKeyedSql("hcells", "h")}
         |SELECT dr.et AS event_type, dr.n_rows AS n_days,
         |  dr.f_x1000 AS dow_f_x1000, dr.eta2_ppm AS dow_eta2_ppm,
         |  hr.n_rows AS n_hours, hr.f_x1000 AS hod_f_x1000,
         |  hr.eta2_ppm AS hod_eta2_ppm
         |FROM dr JOIN hr ON dr.et = hr.et
         |ORDER BY event_type""".stripMargin

    /** Twin of q322_kruskal_wallis: the q278 pooled-midrank-×2
      * discipline over the banded value domain, HUGEINT rank sums
      * (exact-equal to the Spark side's quotient decomposition), the
      * same one-float-step tie-corrected H and ε².
      */
    def kruskalWallisSql: String =
      s"""WITH b AS (SELECT o_orderpriority AS g,
         |    CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS v
         |  FROM orders),
         |cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS n FROM b
         |  GROUP BY 1, 2),
         |tv AS (SELECT v, CAST(sum(n) AS BIGINT) AS t FROM cells
         |  GROUP BY 1),
         |rk AS (SELECT v, t,
         |    2 * coalesce(sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + t + 1 AS mr2
         |  FROM tv),
         |tie AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie
         |  FROM tv),
         |pg AS (SELECT g, CAST(sum(n) AS BIGINT) AS ng,
         |    sum(CAST(n AS HUGEINT) * mr2) AS rg2
         |  FROM cells JOIN rk USING (v) GROUP BY 1),
         |f AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS k,
         |    sum((CAST(rg2 AS HUGEINT) * rg2) // (4 * ng)) AS ssum
         |  FROM pg),
         |o AS (SELECT n AS n_rows, k AS n_groups,
         |    CAST(CASE WHEN n < 2 OR k < 2 OR
         |      CAST(n AS HUGEINT) * n * n - n <= tie THEN -1 ELSE
         |      round(1000 * (12.0 * CAST(ssum AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)) /
         |      (1.0 - CAST(tie AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * n * n - n))) END AS BIGINT) AS h_x1000
         |  FROM f CROSS JOIN tie)
         |SELECT n_rows, n_groups, h_x1000,
         |  CAST(CASE WHEN h_x1000 < 0 OR n_rows <= n_groups THEN -1 ELSE
         |    greatest(round(1000 * (h_x1000 - 1000 * (n_groups - 1)) /
         |    (n_rows - n_groups)), 0) END AS BIGINT) AS eps2_ppm
         |FROM o""".stripMargin

    /** Twin of q323_chi_residuals: same full marginal grid, exact
      * ×10⁶ expecteds through HUGEINT, same two-step margin-factor
      * variance fold (standardized residuals), same floor(√) +
      * sign-symmetric ×1000 residual.
      */
    def chiResidualsSql: String =
      s"""WITH cells AS (SELECT CAST(lang AS VARCHAR) AS r,
         |    CAST(source AS VARCHAR) AS c, CAST(count(*) AS BIGINT) AS o
         |  FROM documents GROUP BY 1, 2),
         |rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM cells
         |  GROUP BY 1),
         |cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM cells
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         |g AS (SELECT rm.r, cm.c, coalesce(cells.o, 0) AS o,
         |    CAST((1000000 * CAST(nr AS HUGEINT) * nc) // greatest(n, 1)
         |      AS BIGINT) AS e_x1e6,
         |    CAST((CAST((CAST((1000000 * CAST(nr AS HUGEINT) * nc)
         |      // greatest(n, 1) AS HUGEINT) * (n - nr))
         |      // greatest(n, 1) AS HUGEINT) * (n - nc))
         |      // greatest(n, 1) AS BIGINT) AS v_x1e6
         |  FROM rm CROSS JOIN cm CROSS JOIN tot
         |  LEFT JOIN cells ON cells.r = rm.r AND cells.c = cm.c),
         |s AS (SELECT *, greatest(CAST(floor(sqrt(CAST(v_x1e6 AS DOUBLE)))
         |    AS BIGINT), 1) AS sq FROM g)
         |SELECT r AS lang, c AS source, o, e_x1e6,
         |  CASE WHEN 1000000 * o >= e_x1e6
         |    THEN (1000000 * o - e_x1e6) // sq
         |    ELSE -((e_x1e6 - 1000000 * o) // sq) END AS resid_x1000
         |FROM s ORDER BY lang, source""".stripMargin

    /** Twin of q324_jonckheere: the same zero-filled per-rank value
      * cumulatives, the exact ×2 concordance fold, HUGEINT share.
      */
    def jonckheereSql: String =
      s"""WITH cells AS (SELECT
         |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
         |    CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS v,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1, 2),
         |vals AS (SELECT DISTINCT v FROM cells),
         |grps AS (SELECT DISTINCT g FROM cells),
         |grid AS (SELECT grps.g, vals.v, coalesce(cells.n, 0) AS n
         |  FROM grps CROSS JOIN vals
         |  LEFT JOIN cells ON cells.g = grps.g AND cells.v = vals.v),
         |cum AS (SELECT g, v, n,
         |    coalesce(sum(n) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cb
         |  FROM grid),
         |j AS (SELECT sum(CAST(b.n AS HUGEINT) * (2 * a.cb + a.n)) AS j2
         |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g),
         |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
         |    CAST(count(*) AS BIGINT) AS k,
         |    sum(CAST(ng AS HUGEINT) * ng) AS sq
         |  FROM (SELECT g, CAST(sum(n) AS BIGINT) AS ng FROM cells
         |    GROUP BY 1)),
         |f AS (SELECT nn AS n_rows, k AS n_groups, j2,
         |    CAST(nn AS HUGEINT) * nn - sq AS pairs_x2
         |  FROM j CROSS JOIN tot)
         |SELECT n_rows, n_groups, CAST(j2 AS BIGINT) AS j_x2,
         |  CAST(pairs_x2 AS BIGINT) AS pairs_x2,
         |  CAST(CASE WHEN pairs_x2 <= 0 THEN -1
         |    ELSE (1000000 * j2) // pairs_x2 END AS BIGINT) AS jt_ppm
         |FROM f""".stripMargin

    /** Twin of q325_cochran_q: the q290 NB + langId CTEs plus the
      * train-majority baseline (cnt DESC, lang DESC — the struct-max
      * tie-break), folded to the k+3 exact sums and the one
      * integral divide.
      */
    def cochranQSql: String =
      s"""WITH scored AS ($nbClassifierSql),
         |lp AS (SELECT doc_id, lang_pred FROM ($langIdSql) t
         |  WHERE doc_id % 5 = 0),
         |mj AS (SELECT lang AS major FROM documents WHERE doc_id % 5 <> 0
         |  GROUP BY lang ORDER BY count(*) DESC, lang DESC LIMIT 1),
         |fl AS (SELECT CASE WHEN s.pred = s.lang THEN 1 ELSE 0 END AS x1,
         |    CASE WHEN lp.lang_pred = s.lang THEN 1 ELSE 0 END AS x2,
         |    CASE WHEN mj.major = s.lang THEN 1 ELSE 0 END AS x3
         |  FROM scored s JOIN lp ON lp.doc_id = s.doc_id CROSS JOIN mj),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS nu,
         |    CAST(sum(x1 + x2 + x3) AS BIGINT) AS t,
         |    CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2,
         |    CAST(sum(x1) AS BIGINT) AS c1, CAST(sum(x2) AS BIGINT) AS c2,
         |    CAST(sum(x3) AS BIGINT) AS c3
         |  FROM fl)
         |SELECT nu AS n_units, CAST(3 AS BIGINT) AS k, t AS n_correct,
         |  CAST(CASE WHEN 3 * t - sr2 <= 0 THEN -1 ELSE
         |    (1000 * 2 * (3 * (CAST(c1 AS HUGEINT) * c1
         |      + CAST(c2 AS HUGEINT) * c2 + CAST(c3 AS HUGEINT) * c3)
         |      - CAST(t AS HUGEINT) * t)) //
         |    (3 * CAST(t AS HUGEINT) - sr2) END AS BIGINT) AS q_x1000
         |FROM agg""".stripMargin

    /** Twin of q311_concentration: three per-dimension count folds
      * through HUGEINT cross-products, unioned.
      */
    def concentrationSql: String = {
      def arm(table: String, groupE: String, dim: String) =
        s"""(SELECT '$dim' AS dim, n, k, m2, m11, mx FROM (
           |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |    CAST(count(*) AS BIGINT) AS k,
           |    sum(CAST(cnt AS HUGEINT) * cnt) AS m2,
           |    sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS m11,
           |    CAST(max(cnt) AS BIGINT) AS mx
           |  FROM (SELECT CAST($groupE AS VARCHAR) AS grp,
           |      CAST(count(*) AS BIGINT) AS cnt
           |    FROM $table GROUP BY 1)))""".stripMargin
      s"""WITH u AS (${arm("documents", "source", "docs_by_source")}
         |  UNION ALL ${arm("documents", "lang", "docs_by_lang")}
         |  UNION ALL ${arm("orders", "o_orderpriority",
        "orders_by_priority")})
         |SELECT dim, n AS n_rows, k AS n_groups,
         |  CAST((1000000 * m2) // greatest(CAST(n AS HUGEINT) * n, 1)
         |    AS BIGINT) AS hhi_ppm,
         |  CAST((1000000 * m11) //
         |    greatest(CAST(n AS HUGEINT) * (n - 1), 1) AS BIGINT)
         |    AS simpson_ppm,
         |  CAST((1000 * CAST(n AS HUGEINT) * n) // greatest(m2, 1)
         |    AS BIGINT) AS eff_n_x1000,
         |  CAST((1000000 * mx) // greatest(n, 1) AS BIGINT)
         |    AS top_share_ppm
         |FROM u ORDER BY dim""".stripMargin
    }

    /** Twin of q326_friedman: same complete-block filter, the same
      * rank()/partition-count ×2 midranks, exact HUGEINT folds and
      * the two integral divides.
      */
    def friedmanSql: String =
      s"""WITH cell AS (SELECT o_custkey AS b,
         |    CAST(year(o_orderdate) AS BIGINT) AS t,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997
         |  GROUP BY 1, 2),
         |kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cell),
         |cb AS (SELECT b, t, v, count(*) OVER (PARTITION BY b) AS kb
         |  FROM cell),
         |r AS (SELECT b, t,
         |    2 * rank() OVER (PARTITION BY b ORDER BY v) - 1
         |      + count(*) OVER (PARTITION BY b, v) AS mr2
         |  FROM cb CROSS JOIN kk WHERE kb = k),
         |pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(mr2 AS HUGEINT)) AS r2j,
         |    sum(CAST(mr2 AS HUGEINT) * mr2) AS a2j
         |  FROM r GROUP BY 1),
         |f AS (SELECT CAST(max(n) AS HUGEINT) AS n,
         |    CAST(max(k) AS HUGEINT) AS k,
         |    sum((r2j - CAST(n AS HUGEINT) * (k + 1)) *
         |        (r2j - CAST(n AS HUGEINT) * (k + 1))) AS num,
         |    sum(a2j) AS a2
         |  FROM pt CROSS JOIN kk)
         |SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
         |  CAST(CASE WHEN a2 - n * k * (k+1) * (k+1) <= 0 THEN -1
         |    ELSE (1000 * (k - 1) * num) //
         |      (a2 - n * k * (k+1) * (k+1)) END AS BIGINT) AS q_x1000,
         |  CAST(CASE WHEN n = 0 OR a2 - n * k * (k+1) * (k+1) <= 0
         |    THEN -1 ELSE (1000000 * num) //
         |      ((a2 - n * k * (k+1) * (k+1)) * n) END AS BIGINT) AS w_ppm
         |FROM f""".stripMargin

    /** Twin of q327_page_trend: the q326 rank stage with the year's
      * 1..k order index, the exact L2 fold and the closed-form
      * floor/ceiling position.
      */
    def pageTrendSql: String =
      s"""WITH cell AS (SELECT o_custkey AS b,
         |    CAST(year(o_orderdate) AS BIGINT) AS t,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997
         |  GROUP BY 1, 2),
         |kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cell),
         |cb AS (SELECT b, t, v, count(*) OVER (PARTITION BY b) AS kb
         |  FROM cell),
         |r AS (SELECT b, t - 1994 AS j,
         |    2 * rank() OVER (PARTITION BY b ORDER BY v) - 1
         |      + count(*) OVER (PARTITION BY b, v) AS mr2
         |  FROM cb CROSS JOIN kk WHERE kb = k),
         |f AS (SELECT CAST(max(k) AS HUGEINT) AS k,
         |    CAST(count(*) AS HUGEINT) // CAST(max(k) AS HUGEINT) AS n,
         |    sum(CAST(j AS HUGEINT) * mr2) AS l2
         |  FROM r CROSS JOIN kk)
         |SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
         |  CAST(l2 AS BIGINT) AS l_x2,
         |  CAST(CASE WHEN n = 0 OR k < 2 THEN -1 ELSE
         |    (1000000 * (l2 - n * (k * (k+1) * (k+1)
         |      - k * (k+1) * (2*k+1) // 3))) //
         |    (n * (2 * (k * (k+1) * (2*k+1) // 3)
         |      - k * (k+1) * (k+1))) END AS BIGINT) AS page_ppm
         |FROM f""".stripMargin

    /** Twin of q328_wilcoxon: same paired-year pivot, zero-diff drop,
      * pooled ×2 midranks off the (|d|, count) table, exact rank
      * sums and the floor(√) + sign-symmetric z.
      */
    def wilcoxonSql: String =
      s"""WITH per0 AS (SELECT o_custkey,
         |    sum(CASE WHEN year(o_orderdate) = 1995 THEN
         |      CAST(round(o_totalprice * 100) AS BIGINT) END) AS c95,
         |    sum(CASE WHEN year(o_orderdate) = 1996 THEN
         |      CAST(round(o_totalprice * 100) AS BIGINT) END) AS c96
         |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
         |  GROUP BY 1),
         |per AS (SELECT * FROM per0
         |  WHERE c95 IS NOT NULL AND c96 IS NOT NULL),
         |d AS (SELECT (c95 // 10000) - (c96 // 10000) AS d FROM per
         |  WHERE (c95 // 10000) - (c96 // 10000) <> 0),
         |cells AS (SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS np
         |  FROM d GROUP BY 1),
         |rk AS (SELECT a, t, np,
         |    2 * coalesce(sum(t) OVER (ORDER BY a ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS mr2
         |  FROM cells),
         |f AS (SELECT CAST(sum(t) AS BIGINT) AS n_pairs,
         |    sum(CAST(np AS HUGEINT) * mr2) AS w2p,
         |    sum(CAST(t - np AS HUGEINT) * mr2) AS w2m,
         |    sum(CAST(t AS HUGEINT) * mr2 * mr2) AS v4
         |  FROM rk)
         |SELECT n_pairs, CAST(w2p AS BIGINT) AS w2_plus,
         |  CAST(w2m AS BIGINT) AS w2_minus,
         |  CAST(CASE WHEN v4 <= 0 THEN 0 WHEN w2p >= w2m THEN
         |    (1000 * (w2p - w2m)) //
         |    greatest(CAST(floor(sqrt(CAST(v4 AS DOUBLE))) AS HUGEINT), 1)
         |    ELSE -((1000 * (w2m - w2p)) //
         |    greatest(CAST(floor(sqrt(CAST(v4 AS DOUBLE))) AS HUGEINT), 1))
         |    END AS BIGINT) AS z_x1000
         |FROM f""".stripMargin

    /** Twin of q330_template_boilerplate: the same edge-gram slices
      * (DuckDB list slicing clamps like the operator's guarded
      * slice), count reduction and exact ppm share.
      */
    def templateBoilerplateSql: String =
      s"""WITH tk AS (SELECT CAST(source AS VARCHAR) AS g,
         |    ${tokensE("text")} AS t FROM documents),
         |e AS (SELECT g, 'prefix' AS kind,
         |    array_to_string(t[1:3], ' ') AS gram FROM tk
         |  UNION ALL SELECT g, 'suffix' AS kind,
         |    array_to_string(t[-3:], ' ') AS gram FROM tk),
         |c AS (SELECT g, kind, gram, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM e WHERE gram <> '' GROUP BY 1, 2, 3),
         |tot AS (SELECT CAST(source AS VARCHAR) AS g,
         |    CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY 1)
         |SELECT c.g AS source, kind, gram, n_docs,
         |  CAST((1000000 * CAST(n_docs AS HUGEINT)) // greatest(nd, 1)
         |    AS BIGINT) AS share_ppm
         |FROM c JOIN tot ON tot.g = c.g WHERE n_docs >= 2
         |ORDER BY source, kind, gram""".stripMargin

    /** Twin of q333_theil: the same unit/group/total reductions, the
      * ratio column first, then the SHARED Mitchell e256 emitter
      * (divOp `//`) and the same sign-symmetric milli-e256 folds.
      */
    def theilSql: String = {
      val sh = 256 * graft.ops.TextStats.LmShift
      val shift = 1L << graft.ops.TextStats.LmShift
      val m256q = graft.ops.TextStats.mitchellE256Sql("__q", divOp = "//")
      val m256qb = graft.ops.TextStats.mitchellE256Sql("__qb", divOp = "//")
      s"""WITH per AS (SELECT o_custkey,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |unit AS (SELECT n_name AS g, x FROM per
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation ON n_nationkey = c_nationkey
         |  WHERE x > 0),
         |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(sum(x) AS BIGINT) AS xg FROM unit GROUP BY 1),
         |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
         |    CAST(sum(xg) AS BIGINT) AS x FROM pg),
         |mg AS (SELECT g, ng, xg, xg // ng AS m FROM pg),
         |uq AS (SELECT unit.g, unit.x,
         |    (greatest(unit.x, mg.m) * $shift) // least(unit.x, mg.m)
         |      AS __q,
         |    CASE WHEN unit.x >= mg.m THEN 1 ELSE -1 END AS sgn
         |  FROM unit JOIN mg ON mg.g = unit.g),
         |w AS (SELECT g, sum(CAST(x AS HUGEINT) *
         |    (sgn * ($m256q - $sh))) AS tw
         |  FROM uq GROUP BY 1),
         |b AS (SELECT mg.g, mg.ng, mg.xg, tot.n, tot.x,
         |    (greatest(mg.m, tot.x // tot.n) * $shift) //
         |      least(mg.m, tot.x // tot.n) AS __qb,
         |    CASE WHEN mg.m >= tot.x // tot.n THEN 1 ELSE -1 END AS sgnb
         |  FROM mg CROSS JOIN tot),
         |r AS (SELECT g, ng, xg, n, x,
         |    sgnb * ($m256qb - $sh) AS lrb FROM b)
         |SELECT r.g AS n_name, ng AS n_units, xg AS total_value,
         |  CAST((1000000 * CAST(ng AS HUGEINT)) // n AS BIGINT)
         |    AS pop_share_ppm,
         |  CAST((1000000 * CAST(xg AS HUGEINT)) // x AS BIGINT)
         |    AS val_share_ppm,
         |  CAST(lrb AS BIGINT) AS mean_lr_e256,
         |  CAST(CASE WHEN CAST(xg AS HUGEINT) * lrb >= 0
         |    THEN (1000 * CAST(xg AS HUGEINT) * lrb) // x
         |    ELSE -((-(1000 * CAST(xg AS HUGEINT) * lrb)) // x)
         |    END AS BIGINT) AS between_me256,
         |  CAST(CASE WHEN tw >= 0 THEN (1000 * tw) // xg
         |    ELSE -((-(1000 * tw)) // xg) END AS BIGINT) AS within_me256
         |FROM r JOIN w ON w.g = r.g
         |ORDER BY n_name""".stripMargin
    }

    /** Twin of q334_cohens_d: identical exact moments, the same
      * common-denominator pooled variance, floor(√) + sign-symmetric
      * d.
      */
    def cohensDSql: String =
      s"""WITH m AS (SELECT CAST(source AS VARCHAR) AS g,
         |    CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(n_chars AS HUGEINT)) AS s,
         |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS q
         |  FROM documents GROUP BY 1),
         |b AS (SELECT n AS nb, s AS sb, q AS qb FROM m
         |  WHERE g = 'src0'),
         |j AS (SELECT m.*, b.* FROM m CROSS JOIN b
         |  WHERE m.g <> 'src0'),
         |v AS (SELECT *, CASE WHEN nb + n <= 2 THEN CAST(0 AS HUGEINT)
         |    ELSE ((nb * qb - sb * sb) * n + (n * q - s * s) * nb) //
         |      (nb * n * (nb + n - 2)) END AS vv FROM j),
         |z AS (SELECT *, greatest(CAST(floor(sqrt(CAST(vv AS DOUBLE)))
         |    AS HUGEINT), 1) AS den FROM v)
         |SELECT g AS source, CAST(nb AS BIGINT) AS n_base,
         |  CAST(n AS BIGINT) AS n_other,
         |  CAST((1000 * sb) // nb AS BIGINT) AS mean_base_x1000,
         |  CAST((1000 * s) // n AS BIGINT) AS mean_other_x1000,
         |  CAST(CASE WHEN vv <= 0 THEN 0
         |    WHEN s * nb >= sb * n THEN
         |      (1000 * (s * nb - sb * n)) // (nb * n * den)
         |    ELSE -((1000 * (sb * n - s * nb)) // (nb * n * den))
         |    END AS BIGINT) AS d_x1000
         |FROM z ORDER BY source""".stripMargin

    /** Shared pairing of the three cluster-agreement twins
      * (q335/q336/q337): the langid partition (q32's CTE verbatim)
      * against the true `lang`, reduced to the (a, b, cnt)
      * contingency cells both operators and twins fold from.
      */
    private def agreementCellsCte: String =
      s"""pair AS (SELECT lp.lang_pred AS a, d.lang AS b
         |  FROM ($langIdSql) lp JOIN documents d ON d.doc_id = lp.doc_id),
         |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pair GROUP BY 1, 2)""".stripMargin

    /** Twin of q335_adjusted_rand: exact C(x,2) pair sums (HUGEINT —
      * the halving is exact, x(x−1) even), the same 10¹⁵ downscale
      * guard, the same sign-symmetric ppm divide.
      */
    def adjustedRandSql: String = {
      def pairs(x: String) = s"(CAST($x AS HUGEINT) * ($x - 1)) // 2"
      s"""WITH $agreementCellsCte,
         |rs AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS na FROM cells
         |  GROUP BY 1),
         |cs AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS nb FROM cells
         |  GROUP BY 1),
         |ra AS (SELECT sum(${pairs("na")}) AS pa,
         |  CAST(count(*) AS BIGINT) AS ka FROM rs),
         |rb AS (SELECT sum(${pairs("nb")}) AS pb,
         |  CAST(count(*) AS BIGINT) AS kb FROM cs),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |  sum(${pairs("cnt")}) AS pi FROM cells),
         |g AS (SELECT n, ka, kb, pi, pa, pb, ${pairs("n")} AS pc
         |  FROM tt CROSS JOIN ra CROSS JOIN rb),
         |h AS (SELECT *, greatest(pc // 1000000000000000, 1) AS gg
         |  FROM g),
         |i AS (SELECT n, ka, kb, pi // gg AS i2, pa // gg AS a2,
         |  pb // gg AS b2, pc // gg AS c2 FROM h),
         |j AS (SELECT *, 2 * (i2 * c2 - a2 * b2) AS num,
         |  (a2 + b2) * c2 - 2 * a2 * b2 AS den FROM i)
         |SELECT CAST(n AS BIGINT) AS n_items, ka AS clusters_a,
         |  kb AS clusters_b,
         |  CAST((1000000 * (c2 + 2 * i2 - a2 - b2)) //
         |    greatest(c2, 1) AS BIGINT) AS ri_ppm,
         |  CAST(CASE WHEN den <= 0 THEN 1000000
         |    WHEN num >= 0 THEN (1000000 * num) // den
         |    ELSE -((-(1000000 * num)) // den) END AS BIGINT) AS ari_ppm
         |FROM j""".stripMargin
    }

    /** Twin of q336_bcubed: the identical two-floor per-cluster ppm
      * then corpus mean, recall symmetric, harmonic F1.
      */
    def bcubedSql: String =
      s"""WITH $agreementCellsCte,
         |p AS (SELECT sum(pi) AS sp FROM (SELECT
         |    (1000000 * sum(CAST(cnt AS HUGEINT) * cnt)) // sum(cnt)
         |      AS pi
         |  FROM cells GROUP BY a) t),
         |r AS (SELECT sum(ri) AS sr FROM (SELECT
         |    (1000000 * sum(CAST(cnt AS HUGEINT) * cnt)) // sum(cnt)
         |      AS ri
         |  FROM cells GROUP BY b) t),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
         |f AS (SELECT n, sp // n AS bp, sr // n AS br
         |  FROM tt CROSS JOIN p CROSS JOIN r)
         |SELECT CAST(n AS BIGINT) AS n_items,
         |  CAST(bp AS BIGINT) AS bcubed_p_ppm,
         |  CAST(br AS BIGINT) AS bcubed_r_ppm,
         |  CAST(CASE WHEN bp + br <= 0 THEN 0
         |    ELSE (2 * bp * br) // (bp + br) END AS BIGINT)
         |    AS bcubed_f1_ppm
         |FROM f""".stripMargin

    /** Twin of q337_vmeasure: every entropy term the SAME Mitchell
      * e256 ratio log (`//` spelling), identical fold and ppm
      * quotients.
      */
    def vMeasureSql: String = {
      val shift = 1L << graft.ops.TextStats.LmShift
      val sh = 256 * graft.ops.TextStats.LmShift
      // per-term −sh: the domain pre-shift bias does not cancel in
      // the entropy quotients (see the operator note)
      def rlog(num: String, den: String) =
        s"(${graft.ops.TextStats.mitchellE256Sql(
          s"((CAST($num AS HUGEINT) * $shift) // ($den))",
          divOp = "//")} - $sh)"
      s"""WITH $agreementCellsCte,
         |rs AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS na FROM cells
         |  GROUP BY 1),
         |cs AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS nb FROM cells
         |  GROUP BY 1),
         |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
         |hba AS (SELECT sum(CAST(cnt AS HUGEINT) *
         |    (${rlog("na", "cnt")})) AS hba
         |  FROM cells JOIN rs USING (a)),
         |hab AS (SELECT sum(CAST(cnt AS HUGEINT) *
         |    (${rlog("nb", "cnt")})) AS hab
         |  FROM cells JOIN cs USING (b)),
         |hb AS (SELECT sum(CAST(nb AS HUGEINT) *
         |    (${rlog("n", "nb")})) AS hb FROM cs CROSS JOIN tt),
         |ha AS (SELECT sum(CAST(na AS HUGEINT) *
         |    (${rlog("n", "na")})) AS ha FROM rs CROSS JOIN tt),
         |f AS (SELECT n, hba, hab, hb, ha FROM tt CROSS JOIN hba
         |  CROSS JOIN hab CROSS JOIN hb CROSS JOIN ha),
         |hc AS (SELECT n,
         |  CASE WHEN hb <= 0 THEN 1000000
         |    ELSE 1000000 - (1000000 * hba) // hb END AS h,
         |  CASE WHEN ha <= 0 THEN 1000000
         |    ELSE 1000000 - (1000000 * hab) // ha END AS c
         |  FROM f)
         |SELECT CAST(n AS BIGINT) AS n_items,
         |  CAST(h AS BIGINT) AS homogeneity_ppm,
         |  CAST(c AS BIGINT) AS completeness_ppm,
         |  CAST(CASE WHEN h + c <= 0 THEN 0
         |    ELSE (2 * h * c) // (h + c) END AS BIGINT) AS v_ppm
         |FROM hc""".stripMargin
    }

    /** Twin of q338_lsh_plan: the q143 exact pair surface at τ=500,
      * the same 50‰ binning, and per-config folds whose per-bin
      * collision probabilities are the SAME Scala-computed literals
      * ([[graft.dedup.Dedup.lshCollisionPm]]) the operator inlines —
      * one source for the whole S-curve.
      */
    def lshPlanSql: String = {
      val mids = (0 until 20).map(bin => 50L * bin + 25)
      val cfgs = graft.dedup.Dedup.DefaultLshPlanGrid.map { case (b, r) =>
        val ps = mids.map(graft.dedup.Dedup.lshCollisionPm(_, r, b))
        val s50 = mids.zip(ps).collectFirst { case (m, p) if p >= 500 => m }
          .getOrElse(-1L)
        val pCase = "CASE bin " + ps.zipWithIndex.map { case (p, i) =>
          s"WHEN $i THEN $p" }.mkString(" ") + " ELSE 0 END"
        s"""SELECT $b AS bands, $r AS rows_per_band, $s50 AS s50,
           |    sum(cnt) AS n_pairs,
           |    sum(CAST(cnt AS HUGEINT) * ($pCase)) AS cm
           |  FROM bins""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH wl AS (SELECT doc_id AS id, ${tokensE("text")} AS w FROM documents),
         |shx AS (SELECT id, unnest(${shinglesE("w", 3)}) AS s FROM wl),
         |sh AS (SELECT id, list_distinct(list(${duckHash61("s")})) AS ts
         |       FROM shx GROUP BY id),
         |s AS (SELECT id, ts, CAST(len(ts) AS BIGINT) AS n FROM sh
         |      WHERE len(ts) >= 1),
         |pr AS (SELECT CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
         |         AS n_inter, a.n AS n_a, b.n AS n_b
         |       FROM s a JOIN s b ON a.id < b.id),
         |tp AS (SELECT CAST((1000 * n_inter) // (n_a + n_b - n_inter)
         |         AS BIGINT) AS j
         |       FROM pr WHERE 1000 * n_inter >= 500 * (n_a + n_b - n_inter)),
         |bins AS (SELECT least(j // 50, 19) AS bin,
         |    CAST(count(*) AS BIGINT) AS cnt FROM tp GROUP BY 1),
         |f AS (
         |$cfgs)
         |SELECT CAST(bands AS BIGINT) AS bands,
         |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |  CAST(bands * rows_per_band AS BIGINT) AS n_hashes,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(cm // greatest(n_pairs, 1) AS BIGINT) AS recall_x1000,
         |  CAST(s50 AS BIGINT) AS s50_x1000
         |FROM f ORDER BY bands, rows_per_band""".stripMargin
    }

    /** Twin of q339_mp4_probe: the probed asset is a closed-form
      * function of doc_id ([[graft.multimodal.Mp4Probe.testAsset]]),
      * so the twin restates brand/timescale/duration/track grid from
      * the same formulas — a hash match certifies the whole box walk
      * including the 16.16 fixed-point dims and both mvhd/tkhd
      * version layouts.
      */
    def mp4ProbeSql: String =
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END
         |      AS major_brand,
         |    CAST(doc_id % 100 AS BIGINT) AS minor_version,
         |    CAST(1000 + (doc_id % 9) * 600 AS BIGINT) AS movie_timescale,
         |    CAST((doc_id % 997 + 1) * 100 AS BIGINT) AS du,
         |    CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
         |  FROM documents),
         |tn AS (SELECT unnest([1, 2, 3]) AS track_no),
         |g AS (SELECT base.*, CAST(track_no AS BIGINT) AS track_id
         |  FROM base CROSS JOIN tn WHERE track_no <= n_tracks)
         |SELECT doc_id, major_brand, minor_version, movie_timescale,
         |  CAST((1000 * du) // movie_timescale AS BIGINT) AS duration_ms,
         |  n_tracks, track_id,
         |  CASE track_id WHEN 1 THEN 'vide' WHEN 2 THEN 'soun'
         |    ELSE 'text' END AS handler,
         |  CASE WHEN track_id = 1 THEN
         |      CASE doc_id % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
         |        WHEN 2 THEN 'vp09' ELSE 'av01' END
         |    WHEN track_id = 2 THEN
         |      CASE doc_id % 2 WHEN 0 THEN 'mp4a' ELSE 'opus' END
         |    ELSE 'tx3g' END AS codec,
         |  CAST(CASE WHEN track_id = 1 THEN 320 + 16 * (doc_id % 40)
         |    ELSE 0 END AS BIGINT) AS width,
         |  CAST(CASE WHEN track_id = 1 THEN 240 + 16 * (doc_id % 30)
         |    ELSE 0 END AS BIGINT) AS height
         |FROM g ORDER BY doc_id, track_id""".stripMargin

    /** Twin of q340_webm_probe: the probed asset is a closed-form
      * function of doc_id ([[graft.multimodal.EbmlProbe.testAsset]]) —
      * the twin restates DocType/scale/duration/track grid from the
      * same formulas, certifying the whole vint walk.
      */
    def webmProbeSql: String =
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END
         |      AS doc_type,
         |    CAST(1000000 AS BIGINT) AS timestamp_scale_ns,
         |    CAST((doc_id % 997 + 1) * 250 AS BIGINT) AS duration_ms,
         |    CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
         |  FROM documents),
         |tn AS (SELECT unnest([1, 2, 3]) AS track_no),
         |g AS (SELECT base.*, CAST(track_no AS BIGINT) AS track_number
         |  FROM base CROSS JOIN tn WHERE track_no <= n_tracks)
         |SELECT doc_id, doc_type, timestamp_scale_ns, duration_ms,
         |  n_tracks, track_number,
         |  CASE track_number WHEN 1 THEN 'video' WHEN 2 THEN 'audio'
         |    ELSE 'subtitle' END AS track_type,
         |  CASE WHEN track_number = 1 THEN
         |      CASE doc_id % 3 WHEN 0 THEN 'V_VP8' WHEN 1 THEN 'V_VP9'
         |        ELSE 'V_AV1' END
         |    WHEN track_number = 2 THEN
         |      CASE doc_id % 2 WHEN 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END
         |    ELSE 'S_TEXT/UTF8' END AS codec,
         |  CAST(CASE WHEN track_number = 1 THEN 320 + 16 * (doc_id % 40)
         |    ELSE 0 END AS BIGINT) AS width,
         |  CAST(CASE WHEN track_number = 1 THEN 240 + 16 * (doc_id % 30)
         |    ELSE 0 END AS BIGINT) AS height
         |FROM g ORDER BY doc_id, track_number""".stripMargin

    /** Twin of q341_changepoint: the q199 zero-filled day grid, the
      * same cumulative window, the exact common-denominator gain
      * fold through HUGEINT (numerator ≥ 0 by Cauchy–Schwarz, so
      * truncating `//` matches Spark `div`) and the same
      * (gain DESC, day ASC) argmax.
      */
    def changepointSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d),
         |days AS (SELECT DISTINCT d FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |tot AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
         |      CAST(sum(x) AS HUGEINT) AS s FROM g GROUP BY et),
         |cum AS (SELECT et, d,
         |      CAST(count(*) OVER w AS BIGINT) AS t,
         |      CAST(sum(x) OVER w AS HUGEINT) AS sl
         |    FROM g WINDOW w AS (PARTITION BY et ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |cuts AS (SELECT cum.et, cum.d, tot.n, tot.s, cum.t, cum.sl,
         |      CAST((1000 * (sl * sl * (n - t) * n
         |          + (s - sl) * (s - sl) * t * n
         |          - s * s * t * (n - t)))
         |        // (CAST(t AS HUGEINT) * (n - t) * n) AS BIGINT)
         |        AS gain_x1000
         |    FROM cum JOIN tot ON cum.et = tot.et WHERE cum.t < tot.n),
         |best AS (SELECT et, max(gain_x1000) AS bg FROM cuts GROUP BY et),
         |picked AS (SELECT cuts.et, min(d) AS split_day
         |    FROM cuts JOIN best ON cuts.et = best.et
         |      AND cuts.gain_x1000 = best.bg
         |    GROUP BY cuts.et)
         |SELECT cuts.et AS event_type, CAST(n AS BIGINT) AS n_days,
         |  picked.split_day, CAST(t AS BIGINT) AS left_days,
         |  CAST((1000 * sl) // t AS BIGINT) AS mean_left_milli,
         |  CAST((1000 * (s - sl)) // (n - t) AS BIGINT)
         |    AS mean_right_milli,
         |  gain_x1000
         |FROM cuts JOIN picked ON cuts.et = picked.et
         |  AND cuts.d = picked.split_day
         |ORDER BY event_type""".stripMargin

    /** Twin of q342_flac_probe: the probed asset is a closed-form
      * function of doc_id
      * ([[graft.multimodal.AudioProbes.flacTestAsset]]) — the twin
      * restates every STREAMINFO field and the block count from the
      * same formulas, certifying the block walk and the 20/3/5/36
      * bit unpack.
      */
    def flacProbeSql: String =
      s"""WITH base AS (SELECT doc_id,
         |    CAST(CASE doc_id % 8 WHEN 0 THEN 8000 WHEN 1 THEN 16000
         |      WHEN 2 THEN 22050 WHEN 3 THEN 24000 WHEN 4 THEN 32000
         |      WHEN 5 THEN 44100 WHEN 6 THEN 48000 ELSE 96000 END
         |      AS BIGINT) AS sample_rate,
         |    CAST((doc_id % 997 + 1) * 1000 AS BIGINT) AS total_samples
         |  FROM documents)
         |SELECT doc_id, CAST(4096 AS BIGINT) AS min_block,
         |  CAST(4096 AS BIGINT) AS max_block, sample_rate,
         |  CAST(1 + doc_id % 4 AS BIGINT) AS channels,
         |  CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
         |    AS BIGINT) AS bits_per_sample,
         |  total_samples,
         |  CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
         |    + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_blocks,
         |  CAST((1000 * total_samples) // sample_rate AS BIGINT)
         |    AS duration_ms
         |FROM base ORDER BY doc_id""".stripMargin

    /** Twin of q343_mp3_probe: closed-form tag shape
      * ([[graft.multimodal.AudioProbes.mp3TestAsset]]) and the REAL
      * Layer-III bitrate/sample-rate tables restated as CASE arms —
      * a hash match certifies the syncsafe/big-endian size codecs,
      * the frame-chain walk and both table lookups.
      */
    def mp3ProbeSql: String =
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS v,
         |    CAST(1 + doc_id % 14 AS BIGINT) AS br_idx,
         |    CAST((doc_id % 9) // 3 AS BIGINT) AS sr_idx,
         |    CAST((1 + doc_id % 4) * (12 + doc_id % 7) + 6 AS BIGINT)
         |      AS tag_size,
         |    CAST(4 + (doc_id % 997 + 1) * 100 AS BIGINT) AS audio_bytes
         |  FROM documents),
         |dec AS (SELECT doc_id, tag_size, audio_bytes,
         |    CASE WHEN doc_id % 2 = 0 THEN '2.4.0' ELSE '2.3.0' END
         |      AS id3_version,
         |    CAST(1 + doc_id % 4 AS BIGINT) AS n_id3_frames,
         |    CAST(v AS BIGINT) AS mpeg_version,
         |    CAST(3 AS BIGINT) AS layer,
         |    CAST(CASE WHEN v = 1 THEN
         |        CASE br_idx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
         |          WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
         |          WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
         |          WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
         |          WHEN 13 THEN 256 ELSE 320 END
         |      ELSE
         |        CASE br_idx WHEN 1 THEN 8 WHEN 2 THEN 16 WHEN 3 THEN 24
         |          WHEN 4 THEN 32 WHEN 5 THEN 40 WHEN 6 THEN 48
         |          WHEN 7 THEN 56 WHEN 8 THEN 64 WHEN 9 THEN 80
         |          WHEN 10 THEN 96 WHEN 11 THEN 112 WHEN 12 THEN 128
         |          WHEN 13 THEN 144 ELSE 160 END END AS BIGINT)
         |      AS bitrate_kbps,
         |    CAST(CASE WHEN v = 1 THEN
         |        CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
         |          ELSE 32000 END
         |      ELSE
         |        CASE sr_idx WHEN 0 THEN 22050 WHEN 1 THEN 24000
         |          ELSE 16000 END END AS BIGINT) AS sample_rate,
         |    CASE doc_id % 4 WHEN 0 THEN 'stereo' WHEN 1 THEN 'joint_stereo'
         |      WHEN 2 THEN 'dual_channel' ELSE 'mono' END AS channel_mode
         |  FROM base)
         |SELECT doc_id, id3_version, tag_size, n_id3_frames,
         |  mpeg_version, layer, bitrate_kbps, sample_rate, channel_mode,
         |  audio_bytes,
         |  CAST((audio_bytes * 8) // bitrate_kbps AS BIGINT)
         |    AS duration_ms
         |FROM dec ORDER BY doc_id""".stripMargin

    /** Twin of q344_ogg_probe: the probed asset is a closed-form
      * function of doc_id
      * ([[graft.multimodal.AudioProbes.oggTestAsset]]) — the twin
      * restates codec/serial/channels/rate/pre-skip/page count and
      * the exact granule-derived duration (Opus ticks at 48 kHz
      * minus pre-skip), certifying the lacing page walk and both
      * identification-header decodes.
      */
    def oggProbeSql: String =
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END
         |      AS codec,
         |    CAST(7000 + doc_id % 89 AS BIGINT) AS serial,
         |    CAST(1 + doc_id % 3 AS BIGINT) AS channels,
         |    CAST(2 + doc_id % 3 AS BIGINT) AS n_pages,
         |    CAST((doc_id % 997 + 1) * 960 AS BIGINT) AS samples
         |  FROM documents),
         |dec AS (SELECT doc_id, codec, serial, channels, n_pages, samples,
         |    CAST(CASE WHEN codec = 'vorbis' THEN
         |        CASE (doc_id % 8) // 2 WHEN 0 THEN 8000 WHEN 1 THEN 16000
         |          WHEN 2 THEN 44100 ELSE 48000 END
         |      ELSE 48000 END AS BIGINT) AS sample_rate,
         |    CAST(CASE WHEN codec = 'opus' THEN 312 ELSE 0 END AS BIGINT)
         |      AS pre_skip,
         |    CAST(CASE WHEN codec = 'vorbis' THEN samples
         |      ELSE 312 + samples END AS BIGINT) AS last_granule
         |  FROM base)
         |SELECT doc_id, codec, serial, channels, sample_rate, pre_skip,
         |  n_pages, last_granule,
         |  CAST(CASE WHEN codec = 'vorbis' THEN (1000 * samples) // sample_rate
         |    ELSE (1000 * samples) // 48000 END AS BIGINT) AS duration_ms
         |FROM dec ORDER BY doc_id""".stripMargin

    /** Twin of q345_seed_expansion: the textRankSql graph CTEs
      * verbatim, the same (wdeg DESC, word ASC) top-10 seed pick,
      * the seed-only teleport with every floor division mirrored,
      * 5 unrolled iterations.
      */
    def seedExpansionSql: String = {
      val iters = 5
      val scale = 1000000000000L
      val iterCtes = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS node,
           |  CAST(sum((r.r * e.share_ppm) // 1000000) AS BIGINT) AS s
           |  FROM shp e JOIN r${i - 1} r ON r.node = e.src GROUP BY 1),
           |r$i AS (SELECT sd.node, sd.is_seed,
           |  CAST(CASE WHEN sd.is_seed = 1
           |      THEN (15 * $scale) // (100 * ns.n_seeds) ELSE 0 END
           |    + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
           |  FROM sd CROSS JOIN ns LEFT JOIN c$i c ON c.node = sd.node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT unnest(${shinglesE("w", 2)}) AS bg FROM wd WHERE len(w) >= 2),
         |bgp AS (SELECT split_part(bg, ' ', 1) AS w1,
         |          split_part(bg, ' ', 2) AS w2 FROM bgl),
         |ed AS (SELECT w1, w2 FROM bgp WHERE w1 <> w2),
         |dir AS (SELECT w1 AS src, w2 AS dst FROM ed
         |        UNION ALL SELECT w2 AS src, w1 AS dst FROM ed),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM dir
         |      GROUP BY 1, 2),
         |dg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
         |shp AS (SELECT e.src, e.dst,
         |          CAST((CAST(e.w AS HUGEINT) * 1000000) // dg.wdeg AS BIGINT)
         |            AS share_ppm
         |        FROM e JOIN dg USING (src)),
         |nodes AS (SELECT src AS node FROM dg),
         |seeds AS (SELECT src AS node FROM dg
         |          ORDER BY wdeg DESC, src LIMIT 10),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_seeds FROM seeds),
         |sd AS (SELECT nodes.node,
         |        CASE WHEN seeds.node IS NULL THEN 0 ELSE 1 END AS is_seed
         |       FROM nodes LEFT JOIN seeds ON seeds.node = nodes.node),
         |r0 AS (SELECT sd.node, sd.is_seed,
         |        CAST(CASE WHEN sd.is_seed = 1 THEN $scale // ns.n_seeds
         |          ELSE 0 END AS BIGINT) AS r
         |       FROM sd CROSS JOIN ns),
         |$iterCtes
         |SELECT r.node AS word, r.r AS rank_p12, dg.wdeg,
         |  CAST(r.is_seed AS BIGINT) AS is_seed
         |FROM r$iters r JOIN dg ON dg.src = r.node
         |ORDER BY rank_p12 DESC, word LIMIT 20""".stripMargin
    }

    /** Twin of q331_ljung_box: the q226 ACF CTE verbatim, then the
      * same per-lag integral divide and one-row fold per type.
      */
    def ljungBoxSql: String =
      s"""WITH acf AS ($acfSql),
         |f AS (SELECT event_type, max(n_overlap + lag) AS n,
         |    CAST(count(*) AS BIGINT) AS m_lags,
         |    sum((CAST(acf_ppm AS HUGEINT) * acf_ppm) //
         |      greatest(n_overlap, 1)) AS s
         |  FROM acf GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_hours, m_lags,
         |  CAST((CAST(n AS HUGEINT) * (n + 2) * s) // 1000000000
         |    AS BIGINT) AS q_x1000
         |FROM f ORDER BY event_type""".stripMargin

    /** Twin of q332_runs_test: same exact ceil-rank median, same
      * tie-drop, sign-change lag walk and the floor(√) +
      * sign-symmetric z.
      */
    def runsTestSql: String =
      s"""WITH daily AS (SELECT
         |    date_trunc('day', CAST(o_orderdate AS TIMESTAMP)) AS d,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |      AS BIGINT) AS v
         |  FROM orders GROUP BY 1),
         |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM daily
         |  GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM daily),
         |med AS (SELECT min(v) AS med FROM
         |    (SELECT v, sum(cnt) OVER (ORDER BY v ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc)
         |    CROSS JOIN tot WHERE cum >= (50 * nt + 99) // 100),
         |sg AS (SELECT d, CASE WHEN v > med THEN 1 ELSE 0 END AS s
         |  FROM daily CROSS JOIN med WHERE v <> med),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(s) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1
         |      ELSE 0 END) AS BIGINT) AS r
         |  FROM (SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM sg)),
         |z AS (SELECT *, greatest(CAST(floor(sqrt(CAST(
         |    (2 * CAST(n1 AS HUGEINT) * (n - n1) *
         |     (2 * n1 * (n - n1) - n)) // greatest(n - 1, 1)
         |    AS DOUBLE))) AS HUGEINT), 1) AS den FROM f)
         |SELECT n AS n_days, n1 AS n_above,
         |  CAST(n - n1 AS BIGINT) AS n_below, r AS runs,
         |  CAST(CASE WHEN n < 2 OR n1 <= 0 OR n1 >= n OR
         |      2 * n1 * (n - n1) <= n THEN 0
         |    WHEN r * n >= 2 * n1 * (n - n1) + n THEN
         |      (1000 * (r * n - 2 * n1 * (n - n1) - n)) // den
         |    ELSE -((1000 * (2 * n1 * (n - n1) + n - r * n)) // den)
         |    END AS BIGINT) AS z_x1000
         |FROM z""".stripMargin

    /** Twin of q329_cliffs_delta: the q324-style zero-filled grid +
      * per-group below-cumulatives, exact HUGEINT pair folds and the
      * sign-symmetric ppm divide.
      */
    def cliffsDeltaSql: String =
      s"""WITH cells AS (SELECT CAST(source AS VARCHAR) AS g,
         |    CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2),
         |vals AS (SELECT DISTINCT v FROM cells),
         |grps AS (SELECT DISTINCT g FROM cells),
         |grid AS (SELECT grps.g, vals.v, coalesce(cells.n, 0) AS n
         |  FROM grps CROSS JOIN vals
         |  LEFT JOIN cells ON cells.g = grps.g AND cells.v = vals.v),
         |cum AS (SELECT g, v, n,
         |    coalesce(sum(n) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cb
         |  FROM grid),
         |tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS ng FROM cells
         |  GROUP BY 1),
         |p AS (SELECT a.g AS g_a, b.g AS g_b, tb.ng AS n_b,
         |    sum(CAST(a.n AS HUGEINT) * b.cb) AS gt,
         |    sum(CAST(a.n AS HUGEINT) * (tb.ng - b.cb - b.n)) AS lt
         |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
         |  JOIN tot tb ON tb.g = b.g
         |  GROUP BY 1, 2, 3)
         |SELECT g_a, g_b, ta.ng AS n_a, n_b,
         |  CAST(gt AS BIGINT) AS gt_pairs, CAST(lt AS BIGINT) AS lt_pairs,
         |  CAST(CASE WHEN ta.ng = 0 OR n_b = 0 THEN 0
         |    WHEN gt >= lt THEN (1000000 * (gt - lt)) //
         |      (CAST(ta.ng AS HUGEINT) * n_b)
         |    ELSE -((1000000 * (lt - gt)) //
         |      (CAST(ta.ng AS HUGEINT) * n_b)) END AS BIGINT)
         |    AS delta_ppm
         |FROM p JOIN tot ta ON ta.g = p.g_a
         |ORDER BY g_a, g_b""".stripMargin

    def bhFdrSql: String = {
      val crit = graft.ops.Eval.bhZcritCaseSql("rnk", 25, 50000L)
      s"""WITH base AS (SELECT c_nationkey AS g,
         |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS sx
         |  FROM orders JOIN customer ON c_custkey = o_custkey),
         |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(sx) AS BIGINT) AS s
         |  FROM base GROUP BY g),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    CAST(sum(s) AS BIGINT) AS st FROM cnt),
         |scored AS (SELECT g, n, s,
         |    CAST(CASE WHEN n = 0 OR nt = n OR st = 0 OR st = nt THEN 0
         |      ELSE round(1000 * (CAST(s AS DOUBLE) / n -
         |      CAST(st - s AS DOUBLE) / (nt - n)) /
         |      sqrt((CAST(st AS DOUBLE) / nt) *
         |      (1 - CAST(st AS DOUBLE) / nt) *
         |      (1.0 / n + 1.0 / (nt - n)))) END AS BIGINT) AS z_x1000
         |  FROM cnt CROSS JOIN tot),
         |ranked AS (SELECT g, n, s, z_x1000,
         |    CAST(row_number() OVER (ORDER BY abs(z_x1000) DESC, g)
         |      AS BIGINT) AS rnk
         |  FROM scored),
         |crit AS (SELECT ranked.*, $crit AS zcrit_x1000 FROM ranked),
         |km AS (SELECT coalesce(max(CASE WHEN abs(z_x1000) >= zcrit_x1000
         |    THEN rnk END), 0) AS kmax FROM crit)
         |SELECT g AS c_nationkey, n, s AS successes, z_x1000, rnk,
         |  zcrit_x1000, rnk <= kmax AS significant
         |FROM crit CROSS JOIN km ORDER BY rnk""".stripMargin
    }

    /** Twin of q283_brown_forecast: the q220 recursive-CTE recurrence
      * carrying (s1, s2, error-sum, error-count), the same
      * sign-guarded trend divide, final row per type.
      */
    def brownForecastSql: String = {
      val fPrev = "(2 * ew.s1 - ew.s2 + (CASE WHEN ew.s1 >= ew.s2 " +
        "THEN (ew.s1 - ew.s2) // 7 " +
        "ELSE -((ew.s2 - ew.s1) // 7) END))"
      val s1New = "(7 * ew.s1 + 1000 * g.x) // 8"
      s"""WITH RECURSIVE b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d),
         |days AS (SELECT d, CAST(row_number() OVER (ORDER BY d) - 1
         |           AS BIGINT) AS t
         |         FROM (SELECT DISTINCT d FROM c)),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, days.t, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |ew AS (
         |  SELECT et, t, CAST(1000 * x AS BIGINT) AS s1,
         |    CAST(1000 * x AS BIGINT) AS s2,
         |    CAST(0 AS BIGINT) AS es, CAST(0 AS BIGINT) AS ne
         |  FROM g WHERE t = 0
         |  UNION ALL
         |  SELECT g.et, g.t,
         |    CAST($s1New AS BIGINT),
         |    CAST((7 * ew.s2 + ($s1New)) // 8 AS BIGINT),
         |    CAST(ew.es + (CASE WHEN g.t >= 7
         |      THEN abs(1000 * g.x - $fPrev) ELSE 0 END) AS BIGINT),
         |    CAST(ew.ne + (CASE WHEN g.t >= 7 THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |  FROM ew JOIN g ON g.et = ew.et AND g.t = ew.t + 1),
         |fin AS (SELECT ew.* FROM ew
         |  JOIN (SELECT et, max(t) AS mt FROM ew GROUP BY et) m
         |    ON m.et = ew.et AND ew.t = m.mt),
         |lv AS (SELECT et, t, s1, s2, es, ne,
         |    2 * s1 - s2 AS level_milli,
         |    CASE WHEN s1 >= s2 THEN (s1 - s2) // 7
         |      ELSE -((s2 - s1) // 7) END AS trend_milli
         |  FROM fin)
         |SELECT et AS event_type, CAST(t + 1 AS BIGINT) AS n_days,
         |  s1 AS s1_milli, s2 AS s2_milli,
         |  CAST(level_milli AS BIGINT) AS level_milli,
         |  CAST(trend_milli AS BIGINT) AS trend_milli,
         |  CAST(level_milli + trend_milli AS BIGINT) AS f1_milli,
         |  CAST(level_milli + 7 * trend_milli AS BIGINT) AS f7_milli,
         |  CAST(CASE WHEN ne = 0 THEN 0 ELSE es // ne END AS BIGINT)
         |    AS mae_milli
         |FROM lv ORDER BY event_type""".stripMargin
    }

    /** Twin of q298_holt_winters: the q283 grid + recursion carrying
      * (lv, tr, s0..s6, es, ne); every step expression comes from the
      * SAME graft.ops.Funnel.hwStepSql/hwSdiv8Sql emitters as the
      * Spark fold, with the seasonal slot resolved by a t%7 CASE.
      */
    def holtWintersSql: String = {
      import graft.ops.Funnel.{hwSdiv8Sql, hwStepSql}
      val sidx = "(CASE g.t % 7 " +
        (0 to 6).map(k => s"WHEN $k THEN ew.s$k").mkString(" ") + " END)"
      val (lvNew, trNew, fPrev) =
        hwStepSql("g.x", "ew.lv", "ew.tr", sidx, "//")
      val seCols = (0 to 6).map { k =>
        s"CAST(CASE WHEN g.t % 7 = $k THEN " +
          hwSdiv8Sql(s"(1000 * g.x - ($lvNew)) + 7 * ew.s$k", "//") +
          s" ELSE ew.s$k END AS BIGINT)"
      }.mkString(",\n    ")
      val f1Idx = "(CASE (t + 1) % 7 " +
        (0 to 6).map(k => s"WHEN $k THEN s$k").mkString(" ") + " END)"
      val f7Idx = "(CASE t % 7 " +
        (0 to 6).map(k => s"WHEN $k THEN s$k").mkString(" ") + " END)"
      s"""WITH RECURSIVE b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d),
         |days AS (SELECT d, CAST(row_number() OVER (ORDER BY d) - 1
         |           AS BIGINT) AS t
         |         FROM (SELECT DISTINCT d FROM c)),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, days.t, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |ew AS (
         |  SELECT et, t, CAST(1000 * x AS BIGINT) AS lv,
         |    CAST(0 AS BIGINT) AS tr,
         |    ${(0 to 6).map(k => s"CAST(0 AS BIGINT) AS s$k")
                .mkString(", ")},
         |    CAST(0 AS BIGINT) AS es, CAST(0 AS BIGINT) AS ne
         |  FROM g WHERE t = 0
         |  UNION ALL
         |  SELECT g.et, g.t,
         |    CAST($lvNew AS BIGINT),
         |    CAST($trNew AS BIGINT),
         |    $seCols,
         |    CAST(ew.es + (CASE WHEN g.t >= 14
         |      THEN abs(1000 * g.x - $fPrev) ELSE 0 END) AS BIGINT),
         |    CAST(ew.ne + (CASE WHEN g.t >= 14 THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |  FROM ew JOIN g ON g.et = ew.et AND g.t = ew.t + 1),
         |fin AS (SELECT ew.* FROM ew
         |  JOIN (SELECT et, max(t) AS mt FROM ew GROUP BY et) m
         |    ON m.et = ew.et AND ew.t = m.mt)
         |SELECT et AS event_type, CAST(t + 1 AS BIGINT) AS n_days,
         |  lv AS level_milli, tr AS trend_milli,
         |  CAST(lv + tr + $f1Idx AS BIGINT) AS f1_milli,
         |  CAST(lv + 7 * tr + $f7Idx AS BIGINT) AS f7_milli,
         |  CAST(greatest(s0, s1, s2, s3, s4, s5, s6) -
         |    least(s0, s1, s2, s3, s4, s5, s6) AS BIGINT)
         |    AS season_amp_milli,
         |  CAST(CASE WHEN ne = 0 THEN 0 ELSE es // ne END AS BIGINT)
         |    AS mae_milli
         |FROM fin ORDER BY event_type""".stripMargin
    }

    /** Twin of q236_kn_surprisal: the q106 bigram CTEs extended with
      * follower / left-context / type counts, the same rational KN
      * ratio through HUGEINT with the same [2^20, 2^62] clamp, and
      * the Mitchell-log CASE (bit-equal to the plan's native log).
      */
    def knSurprisalSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, lang, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
         |          unnest(${shinglesE("w", 2)}) AS bg
         |        FROM wd WHERE len(w) >= 2),
         |c2 AS (SELECT w1, bg, CAST(count(*) AS BIGINT) AS c2
         |       FROM bgl GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |         CAST(count(*) AS BIGINT) AS n1w1 FROM c2 GROUP BY w1),
         |nc AS (SELECT split_part(bg, ' ', 2) AS w2,
         |         CAST(count(*) AS BIGINT) AS ncw2 FROM c2 GROUP BY 1),
         |ntt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c2),
         |sc AS (SELECT b.doc_id,
         |         CAST(least(greatest(
         |           (CAST(4 AS HUGEINT) * c1.c1 * ntt.nt * ${1L << shift})
         |             // (CAST(greatest(4 * c2.c2 - 3, 0) AS HUGEINT)
         |                  * ntt.nt
         |                + CAST(3 AS HUGEINT) * c1.n1w1 * nc.ncw2),
         |           CAST(${1L << shift} AS BIGINT)),
         |           CAST(${1L << 62} AS BIGINT)) AS BIGINT) AS q
         |       FROM bgl b JOIN c2 ON c2.bg = b.bg
         |       JOIN c1 ON c1.w1 = b.w1
         |       JOIN nc ON nc.w2 = split_part(b.bg, ' ', 2)
         |       CROSS JOIN ntt),
         |m AS (SELECT doc_id, count(*) AS nb,
         |        SUM($m8 - ${8 * shift}) AS s8
         |      FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, d.lang,
         |  CAST(COALESCE(m.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(COALESCE(m.s8, 0) AS BIGINT) AS kn_surprisal_e8,
         |  CAST((COALESCE(m.s8, 0) * 10)
         |    // greatest(8 * COALESCE(m.nb, 0), 1) AS BIGINT) AS avg_bits_x10
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }

    /** Twin of q235_winsorized_stats: same DECIMAL cents, same
      * ceil-rank bound pick over the distinct-cents cumsum, same
      * clipped HUGEINT sums and integer-div means.
      */
    def winsorizedStatsSql: String =
      s"""WITH c AS (SELECT event_type AS g,
         |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |        CAST(count(*) AS BIGINT) AS cnt
         |      FROM events GROUP BY 1, 2),
         |tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n,
         |          sum(CAST(cnt AS HUGEINT) * cents) AS raw_sum
         |        FROM c GROUP BY g),
         |rk AS (SELECT c.g, c.cents, c.cnt, tot.n,
         |         sum(c.cnt) OVER (PARTITION BY c.g ORDER BY c.cents
         |           ROWS UNBOUNDED PRECEDING) AS cum
         |       FROM c JOIN tot USING (g)),
         |lo AS (SELECT g, min(cents) AS lo_cents FROM rk
         |       WHERE cum >= (5 * n + 99) // 100 GROUP BY g),
         |hi AS (SELECT g, min(cents) AS hi_cents FROM rk
         |       WHERE cum >= (95 * n + 99) // 100 GROUP BY g),
         |ws AS (SELECT c.g,
         |         sum(CAST(c.cnt AS HUGEINT) *
         |           least(greatest(c.cents, lo.lo_cents), hi.hi_cents))
         |           AS wsum,
         |         CAST(sum(CASE WHEN c.cents < lo.lo_cents
         |             OR c.cents > hi.hi_cents THEN c.cnt ELSE 0 END)
         |           AS BIGINT) AS n_clipped,
         |         min(lo.lo_cents) AS lo_cents,
         |         min(hi.hi_cents) AS hi_cents
         |       FROM c JOIN lo USING (g) JOIN hi USING (g) GROUP BY c.g)
         |SELECT ws.g AS event_type, tot.n AS n_rows,
         |  ws.lo_cents, ws.hi_cents,
         |  CAST(tot.raw_sum // tot.n AS BIGINT) AS mean_cents,
         |  CAST(ws.wsum // tot.n AS BIGINT) AS winsorized_mean_cents,
         |  ws.n_clipped
         |FROM ws JOIN tot USING (g) ORDER BY event_type""".stripMargin

    /** Twin of q234_tone_detect: the closed-form square-wave samples
      * (the bytes [[graft.multimodal.WavCodec.testTone]] encodes),
      * the SAME ×10⁶ twiddle literals the Spark kernel uses
      * ([[graft.multimodal.Dft.valuesSql]] — shared, so no libm cos
      * disagreement can exist), the same integer bin energies and
      * (energy DESC, bin ASC) argmax.
      */
    def toneDetectSql: String =
      s"""WITH tw(k, i, ct, st) AS ${graft.multimodal.Dft.valuesSql},
         |d AS (SELECT doc_id AS id FROM documents),
         |idx AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS i),
         |x AS (SELECT d.id, idx.i,
         |        CASE WHEN ((idx.i // (2 << CAST(d.id % 4 AS INTEGER)))
         |            % 2) = 0
         |          THEN CAST(20000 AS BIGINT)
         |          ELSE CAST(-20000 AS BIGINT) END AS s
         |      FROM d CROSS JOIN idx),
         |c AS (SELECT x.id, tw.k,
         |        CAST(sum(x.s * tw.ct) AS BIGINT) AS cc,
         |        CAST(sum(x.s * tw.st) AS BIGINT) AS ss
         |      FROM x JOIN tw ON tw.i = x.i GROUP BY x.id, tw.k),
         |e AS (SELECT id, k,
         |        CAST(cc AS HUGEINT) * cc + CAST(ss AS HUGEINT) * ss AS en
         |      FROM c),
         |t AS (SELECT id, sum(en) AS tot FROM e GROUP BY id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY id
         |        ORDER BY en DESC, k) AS rn FROM e)
         |SELECT r.id AS doc_id, CAST(r.k AS BIGINT) AS detected_bin,
         |  CAST(r.en // 1000000000000 AS BIGINT) AS e_top_e12,
         |  CAST((1000 * r.en) // greatest(t.tot, 1) AS BIGINT)
         |    AS dominance_x1000
         |FROM r JOIN t USING (id) WHERE r.rn = 1
         |ORDER BY doc_id""".stripMargin

    /** Twin of q233_revenue_trend: same DECIMAL cents, same
      * zero-filled month grid, same lag-1 / lag-12 per-mille with
      * the zero-base null.
      */
    def revenueTrendSql: String =
      s"""WITH m AS (SELECT date_trunc('month', CAST(o_orderdate
         |          AS TIMESTAMP)) AS month,
         |        CAST(count(*) AS BIGINT) AS n_orders,
         |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
         |          AS BIGINT) AS revenue_cents
         |      FROM orders GROUP BY 1),
         |b AS (SELECT min(month) AS lo, max(month) AS hi FROM m),
         |gs AS (SELECT unnest(generate_series(b.lo, b.hi,
         |         INTERVAL 1 MONTH)) AS month FROM b),
         |g AS (SELECT gs.month,
         |        CAST(coalesce(m.n_orders, 0) AS BIGINT) AS n_orders,
         |        CAST(coalesce(m.revenue_cents, 0) AS BIGINT)
         |          AS revenue_cents
         |      FROM gs LEFT JOIN m USING (month)),
         |l AS (SELECT *,
         |        lag(revenue_cents, 1) OVER (ORDER BY month) AS p1,
         |        lag(revenue_cents, 12) OVER (ORDER BY month) AS p12
         |      FROM g)
         |SELECT month, n_orders, revenue_cents,
         |  CASE WHEN p1 > 0 THEN CAST((1000 * (revenue_cents - p1))
         |    // p1 AS BIGINT) END AS mom_x1000,
         |  CASE WHEN p12 > 0 THEN CAST((1000 * (revenue_cents - p12))
         |    // p12 AS BIGINT) END AS yoy_x1000
         |FROM l ORDER BY month""".stripMargin

    /** Twin of q232_user_profile: same three reductions, same
      * (count DESC, value ASC) mode tiebreaks.
      */
    def userProfileSql: String =
      s"""WITH ev AS (SELECT user_id AS u, event_type AS t,
         |        CAST(ts AS TIMESTAMP) AS ts FROM events),
         |b AS (SELECT u, CAST(count(*) AS BIGINT) AS n_events,
         |        min(ts) AS first_seen, max(ts) AS last_seen,
         |        CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
         |          AS active_days
         |      FROM ev GROUP BY u),
         |tc AS (SELECT u, t, CAST(count(*) AS BIGINT) AS c
         |       FROM ev GROUP BY u, t),
         |tm AS (SELECT u, t AS mode_type, c AS mode_type_n FROM (
         |         SELECT *, row_number() OVER (PARTITION BY u
         |           ORDER BY c DESC, t) AS r FROM tc) WHERE r = 1),
         |hc AS (SELECT u, CAST(hour(ts) AS BIGINT) AS h,
         |         CAST(count(*) AS BIGINT) AS c
         |       FROM ev GROUP BY 1, 2),
         |hm AS (SELECT u, h AS mode_hour FROM (
         |         SELECT *, row_number() OVER (PARTITION BY u
         |           ORDER BY c DESC, h) AS r FROM hc) WHERE r = 1)
         |SELECT b.u AS user_id, b.n_events, b.first_seen, b.last_seen,
         |  b.active_days, tm.mode_type, tm.mode_type_n, hm.mode_hour
         |FROM b JOIN tm USING (u) JOIN hm USING (u)
         |ORDER BY user_id""".stripMargin

    /** Twin of q230_session_paths: the q141 gap/run sessionization,
      * the same first-3 slot aggregates (concat_ws skipping null
      * slots), the same (n DESC, path) top-20.
      */
    def sessionPathsSql: String =
      s"""WITH e AS (SELECT user_id AS u, event_type AS t,
         |        CAST(ts AS TIMESTAMP) AS ts, event_id AS id FROM events),
         |m AS (SELECT *, CASE WHEN lag(ts) OVER
         |          (PARTITION BY u ORDER BY ts, id) IS NULL
         |          OR date_diff('second', lag(ts) OVER
         |            (PARTITION BY u ORDER BY ts, id), ts) > 600
         |          THEN 1 ELSE 0 END AS nw
         |      FROM e),
         |s AS (SELECT *, sum(nw) OVER (PARTITION BY u ORDER BY ts, id
         |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
         |r AS (SELECT *, row_number() OVER (PARTITION BY u, sid
         |        ORDER BY ts, id) AS rn FROM s),
         |p AS (SELECT u, sid,
         |        concat_ws('>',
         |          max(CASE WHEN rn = 1 THEN t END),
         |          max(CASE WHEN rn = 2 THEN t END),
         |          max(CASE WHEN rn = 3 THEN t END)) AS path
         |      FROM r WHERE rn <= 3 GROUP BY u, sid),
         |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         |      FROM p GROUP BY path),
         |tt AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS nt FROM c)
         |SELECT c.path, c.n_sessions,
         |  CAST((1000 * c.n_sessions) // tt.nt AS BIGINT) AS share_x1000
         |FROM c, tt
         |ORDER BY c.n_sessions DESC, c.path LIMIT 20""".stripMargin

    /** Twin of q229_lorenz_curve: the same DECIMAL cents, the same
      * $10k value buckets, the same ascending-bucket cumulative
      * shares through HUGEINT.
      */
    def lorenzCurveSql: String =
      s"""WITH per AS (SELECT o_custkey AS k,
         |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
         |          AS BIGINT) AS cents
         |      FROM orders GROUP BY 1),
         |bk AS (SELECT cents // 1000000 AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_customers,
         |         CAST(sum(cents) AS BIGINT) AS bucket_cents
         |       FROM per GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_customers) AS BIGINT) AS nt,
         |          CAST(sum(bucket_cents) AS BIGINT) AS rt FROM bk),
         |cm AS (SELECT bucket, n_customers, bucket_cents,
         |         sum(n_customers) OVER (ORDER BY bucket
         |           ROWS UNBOUNDED PRECEDING) AS ck,
         |         sum(bucket_cents) OVER (ORDER BY bucket
         |           ROWS UNBOUNDED PRECEDING) AS cr
         |       FROM bk)
         |SELECT cm.bucket, cm.n_customers, cm.bucket_cents,
         |  CAST((1000 * cm.ck) // tot.nt AS BIGINT) AS cum_cust_x1000,
         |  CAST((CAST(cm.cr AS HUGEINT) * 1000) // tot.rt AS BIGINT)
         |    AS cum_rev_x1000
         |FROM cm, tot ORDER BY bucket""".stripMargin

    /** Twin of q228_attribution: the same tagged union, the same
      * running last-touch window (touches sort before conversions at
      * equal ts via the boolean order key), the same 1-hour TTL cut
      * into `organic`, the decSum money convention.
      */
    def attributionSql: String =
      s"""WITH ev AS (SELECT user_id AS u, event_type AS t,
         |        CAST(ts AS TIMESTAMP) AS ts, event_id AS id, value AS v,
         |        (event_type = 'purchase') AS isconv
         |      FROM events
         |      WHERE event_type IN ('click', 'view', 'purchase')),
         |m AS (SELECT *,
         |        last_value(CASE WHEN NOT isconv THEN ts END IGNORE NULLS)
         |          OVER (PARTITION BY u ORDER BY ts, isconv, id
         |            ROWS UNBOUNDED PRECEDING) AS tts,
         |        last_value(CASE WHEN NOT isconv THEN t END IGNORE NULLS)
         |          OVER (PARTITION BY u ORDER BY ts, isconv, id
         |            ROWS UNBOUNDED PRECEDING) AS ttp
         |      FROM ev),
         |a AS (SELECT CASE WHEN tts IS NOT NULL
         |          AND date_diff('second', tts, ts) <= 3600 THEN ttp
         |          ELSE 'organic' END AS channel, v
         |      FROM m WHERE isconv),
         |ct AS (SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
         |         CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |       FROM a GROUP BY channel),
         |tt AS (SELECT CAST(sum(n_conversions) AS BIGINT) AS nt FROM ct)
         |SELECT ct.channel, ct.n_conversions,
         |  CAST((1000 * ct.n_conversions) // tt.nt AS BIGINT) AS share_x1000,
         |  ct.revenue
         |FROM ct, tt ORDER BY channel""".stripMargin

    /** Twin of q227_ks_drift: same 50-char bins, same ppm-quantized
      * CDFs over the shared global bin grid, same max-|gap| with the
      * smallest-bin argmax tiebreak.
      */
    def ksDriftSql: String =
      s"""WITH bn AS (SELECT source AS g,
         |        CAST(n_chars // 50 AS BIGINT) AS bin FROM documents),
         |sh AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS sc
         |       FROM bn GROUP BY g, bin),
         |bins AS (SELECT DISTINCT bin FROM sh),
         |st AS (SELECT g, CAST(sum(sc) AS BIGINT) AS n FROM sh GROUP BY g),
         |cdf AS (SELECT st.g, st.n, bins.bin,
         |          CAST((CAST(sum(coalesce(sh.sc, 0)) OVER (PARTITION BY st.g
         |            ORDER BY bins.bin ROWS UNBOUNDED PRECEDING)
         |            AS HUGEINT) * 1000000) // st.n AS BIGINT) AS cdf_ppm
         |        FROM st CROSS JOIN bins
         |        LEFT JOIN sh ON sh.g = st.g AND sh.bin = bins.bin),
         |p AS (SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b,
         |        a.bin, abs(a.cdf_ppm - b.cdf_ppm) AS d
         |      FROM cdf a JOIN cdf b ON b.bin = a.bin AND a.g < b.g),
         |r AS (SELECT *, row_number() OVER (PARTITION BY ga, gb
         |        ORDER BY d DESC, bin) AS rn FROM p)
         |SELECT ga AS group_a, gb AS group_b, n_a, n_b,
         |  d AS d_ppm, bin AS d_at_bin
         |FROM r WHERE rn = 1
         |ORDER BY group_a, group_b""".stripMargin

    /** Twin of q226_acf: the q197 hourly grid, the same per-mille
      * deviations, the same pre-shifted-hour equi-join and the same
      * (10⁶·c_k)//c_0 exact-ppm normalization.
      */
    def acfSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
         |c AS (SELECT et, h, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, h),
         |hrs AS (SELECT DISTINCT h FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, hrs.h, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN hrs
         |      LEFT JOIN c ON c.et = ets.et AND c.h = hrs.h),
         |mu AS (SELECT et, CAST((1000 * sum(x)) // count(*) AS BIGINT)
         |         AS mu FROM g GROUP BY et),
         |dev AS (SELECT g.et, g.h,
         |          CAST(1000 * g.x - mu.mu AS BIGINT) AS dv
         |        FROM g JOIN mu USING (et)),
         |c0 AS (SELECT et, sum(CAST(dv AS HUGEINT) * dv) AS c0
         |       FROM dev GROUP BY et),
         |lg AS (SELECT CAST(unnest(range(1, 27)) AS INT) AS lag),
         |sh AS (SELECT dev.et, dev.h - lg.lag * INTERVAL 1 HOUR AS h,
         |         lg.lag, dev.dv AS db
         |       FROM dev CROSS JOIN lg),
         |ck AS (SELECT dev.et, sh.lag,
         |         sum(CAST(dev.dv AS HUGEINT) * sh.db) AS ck,
         |         CAST(count(*) AS BIGINT) AS n_overlap
         |       FROM dev JOIN sh ON sh.et = dev.et AND sh.h = dev.h
         |       GROUP BY dev.et, sh.lag)
         |SELECT ck.et AS event_type, CAST(ck.lag AS BIGINT) AS lag,
         |  ck.n_overlap,
         |  CAST((1000000 * ck.ck) // greatest(c0.c0, 1) AS BIGINT) AS acf_ppm
         |FROM ck JOIN c0 ON c0.et = ck.et
         |ORDER BY event_type, lag""".stripMargin

    /** Twin of q225_dataset_card: same four reductions (doc-level,
      * md5-distinct, (source, lang), (source, word)-distinct), same
      * (count DESC, lang ASC) dominant-language pick, same integer
      * per-mille rates.
      */
    def datasetCardSql: String =
      s"""WITH base AS (SELECT source AS src,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |        CAST(sum(len(${tokensE("text")})) AS BIGINT) AS n_tokens
         |      FROM documents GROUP BY 1),
         |uq AS (SELECT src, CAST(count(*) AS BIGINT) AS n_unique_docs
         |       FROM (SELECT DISTINCT source AS src, md5(text) AS fp
         |             FROM documents) GROUP BY 1),
         |lc AS (SELECT source AS src, lang, CAST(count(*) AS BIGINT) AS c
         |       FROM documents GROUP BY 1, 2),
         |nl AS (SELECT src, CAST(count(*) AS BIGINT) AS n_langs
         |       FROM lc GROUP BY 1),
         |tl AS (SELECT src, lang AS top_lang, c AS top_lang_docs FROM (
         |         SELECT *, row_number() OVER (PARTITION BY src
         |           ORDER BY c DESC, lang) AS r FROM lc) WHERE r = 1),
         |vb AS (SELECT src, CAST(count(*) AS BIGINT) AS vocab FROM (
         |         SELECT DISTINCT source AS src,
         |           unnest(list_distinct(${tokensE("text")})) AS w
         |         FROM documents) GROUP BY 1)
         |SELECT base.src AS source, base.n_docs, base.total_chars,
         |  CAST(base.total_chars // base.n_docs AS BIGINT) AS mean_chars,
         |  base.n_tokens, vb.vocab, uq.n_unique_docs,
         |  CAST((1000 * (base.n_docs - uq.n_unique_docs)) // base.n_docs
         |    AS BIGINT) AS dup_x1000,
         |  nl.n_langs, tl.top_lang,
         |  CAST((1000 * tl.top_lang_docs) // base.n_docs AS BIGINT)
         |    AS top_lang_x1000
         |FROM base JOIN uq USING (src) JOIN nl USING (src)
         |JOIN tl USING (src) JOIN vb USING (src)
         |ORDER BY source""".stripMargin

    /** Twin of q224_pit_join: the dimension is the LITERAL q217 twin
      * narrowed to odd-id changes (the wrap-the-other-twin
      * discipline), the probe the same half-open interval predicate.
      */
    def pitJoinSql: String =
      s"""WITH dims AS (
         |${scd2IntervalsSql("WHERE event_id % 2 = 1")}),
         |f AS (SELECT event_id, user_id, ts FROM events
         |      WHERE event_id % 2 = 0)
         |SELECT f.event_id, f.user_id, f.ts,
         |  d.event_type AS state_at_ts, d.valid_from
         |FROM f LEFT JOIN dims d ON d.user_id = f.user_id
         |  AND f.ts >= d.valid_from
         |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
         |ORDER BY event_id""".stripMargin

    /** Twin of q223_theilsen_slope: the q199 zero-filled day grid,
      * the same ordered pair join, the same (10⁶·dy)//dx micro-slope
      * quantization and the same lower-median rank pick.
      */
    /** Twin of q248_lsh_eval: the q34 bucket-candidate CTEs (3-word
      * shingles) against the exact hashed-set Jaccard ≥ 0.6 pairs —
      * the truth side is the plain definition (the Spark side's
      * prefix filter is plan-level, complete by the All-Pairs
      * theorem), PRF via the q179 integer conventions.
      */
    def lshEvalSql: String =
      minhashBucketCtes(3) + s""",
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.band_hash = b.band_hash
        |   AND a.id < b.id),
        |st AS (SELECT id, list_distinct(list(x)) AS ts FROM xp GROUP BY id),
        |sz AS (SELECT id, ts, CAST(len(ts) AS BIGINT) AS n FROM st
        |       WHERE len(ts) >= 1),
        |tr AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM sz a JOIN sz b ON a.id < b.id
        |  WHERE 1000 * len(list_intersect(a.ts, b.ts))
        |    >= 600 * (a.n + b.n - len(list_intersect(a.ts, b.ts)))),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM cand),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tr),
        |tpp AS (SELECT CAST(count(*) AS BIGINT) AS tp
        |        FROM cand JOIN tr USING (id_a, id_b))
        |SELECT n_pred, n_true, tp,
        |  CAST((1000 * tp) // greatest(n_pred, 1) AS BIGINT)
        |    AS precision_x1000,
        |  CAST((1000 * tp) // greatest(n_true, 1) AS BIGINT)
        |    AS recall_x1000,
        |  CAST((2000 * tp) // greatest(n_pred + n_true, 1) AS BIGINT)
        |    AS f1_x1000
        |FROM np CROSS JOIN nt CROSS JOIN tpp""".stripMargin

    /** Twin of q249_interval_coverage: the q141 lag/island discipline
      * with equal-length [t, t+1800) intervals; covered seconds per
      * island are max−min+ttl.
      */
    def intervalCoverageSql: String =
      s"""WITH e AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t
         |      FROM events),
         |l AS (SELECT u, t, lag(t) OVER (PARTITION BY u ORDER BY t) AS prev
         |      FROM e),
         |f AS (SELECT u, t, CASE WHEN prev IS NULL OR
         |        date_diff('second', prev, t) >= 1800 THEN 1 ELSE 0 END AS nw
         |      FROM l),
         |i AS (SELECT u, t, SUM(nw) OVER (PARTITION BY u ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |      FROM f),
         |g AS (SELECT u, isl, CAST(count(*) AS BIGINT) AS n,
         |        CAST(date_diff('second', min(t), max(t)) + 1800 AS BIGINT)
         |          AS cov,
         |        CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
         |          min(t)) AS BIGINT) AS st,
         |        CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
         |          max(t)) AS BIGINT) AS en
         |      FROM i GROUP BY 1, 2)
         |SELECT u AS user_id, CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(count(*) AS BIGINT) AS n_islands,
         |  CAST(sum(cov) AS BIGINT) AS covered_sec,
         |  CAST(max(en) - min(st) + 1800 AS BIGINT) AS span_sec,
         |  CAST((1000 * CAST(sum(cov) AS HUGEINT))
         |    // (max(en) - min(st) + 1800) AS BIGINT) AS covered_x1000
         |FROM g GROUP BY u ORDER BY user_id""".stripMargin

    /** Twin of q250_markov_attribution: the same journey truncation
      * (first conv in (ts, type) sequence order), the same transition
      * ppm matrix, and the same `iters` value-iteration steps
      * unrolled as MATERIALIZED CTEs (the q152/q222 fixed-stage
      * discipline; each step truncates once after the product sum).
      */
    def markovAttributionSql(iters: Int = 8): String = {
      val steps = (1 to iters).map { k =>
        s"""r$k AS MATERIALIZED (
           |  SELECT u.removed, u.state, u.r FROM r${k - 1} u
           |  WHERE u.state = '__conv__'
           |  UNION ALL
           |  SELECT x.removed, p.src AS state,
           |    CAST(sum(p.p_ppm * x.r) // 1000000 AS BIGINT) AS r
           |  FROM r${k - 1} x JOIN p ON p.dst = x.state
           |  WHERE p.src <> x.removed AND p.dst <> x.removed
           |    AND p.src <> '__conv__'
           |  GROUP BY x.removed, p.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id AS u, event_type AS t,
         |        CAST(ts AS TIMESTAMP) AS ts FROM events),
         |pc AS (SELECT u, t, ts,
         |        coalesce(sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY u ORDER BY ts, t
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS pcv
         |      FROM e),
         |sq AS (SELECT u, ts, t,
         |         CASE WHEN t = 'purchase' THEN '__conv__' ELSE t END AS state
         |       FROM pc WHERE pcv = 0),
         |pr AS (SELECT u, state,
         |         lag(state) OVER (PARTITION BY u ORDER BY ts, t) AS prevs
         |       FROM sq),
         |pairs AS (SELECT coalesce(prevs, '__start__') AS src,
         |            state AS dst FROM pr),
         |term AS (SELECT state AS src, '__null__' AS dst FROM (
         |           SELECT state, row_number() OVER (PARTITION BY u
         |             ORDER BY ts DESC, t DESC) AS rn FROM sq) z
         |         WHERE rn = 1 AND state <> '__conv__'),
         |tc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM
         |        (SELECT * FROM pairs UNION ALL SELECT * FROM term) y
         |       GROUP BY 1, 2),
         |ot AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS tot FROM tc
         |       GROUP BY 1),
         |p AS MATERIALIZED (SELECT tc.src, tc.dst,
         |        CAST((1000000 * cnt) // tot AS BIGINT) AS p_ppm
         |      FROM tc JOIN ot USING (src)),
         |chn AS (SELECT DISTINCT ch FROM (SELECT src AS ch FROM tc
         |          UNION SELECT dst FROM tc) v
         |        WHERE ch NOT IN ('__start__', '__conv__', '__null__')),
         |rm AS (SELECT ch AS removed FROM chn
         |       UNION ALL SELECT '__none__'),
         |r0 AS (SELECT removed, '__conv__' AS state,
         |         CAST(1000000 AS BIGINT) AS r FROM rm),
         |$steps,
         |reach AS (SELECT removed, r AS reach_ppm FROM r$iters
         |          WHERE state = '__start__'),
         |fl AS (SELECT reach_ppm AS reach_full_ppm FROM reach
         |       WHERE removed = '__none__'),
         |eff AS (SELECT chn.ch AS channel, fl.reach_full_ppm,
         |          coalesce(re.reach_ppm, 0) AS reach_removed_ppm,
         |          greatest(fl.reach_full_ppm - coalesce(re.reach_ppm, 0),
         |            0) AS effect_ppm
         |        FROM chn CROSS JOIN fl
         |        LEFT JOIN reach re ON re.removed = chn.ch),
         |te AS (SELECT CAST(sum(effect_ppm) AS BIGINT) AS tot_effect
         |       FROM eff)
         |SELECT channel, reach_full_ppm, reach_removed_ppm, effect_ppm,
         |  CAST((1000 * effect_ppm) // greatest(tot_effect, 1) AS BIGINT)
         |    AS share_x1000
         |FROM eff CROSS JOIN te ORDER BY channel""".stripMargin
    }

    /** Twin of q251_record_linkage: same nation blocks, same derived
      * equality keys, same exact Σp² u-ppm, same eighth-bit log2
      * weights (the log2E8Sql ladder; native in the plan) and the same top-50
      * (score, id) order.
      */
    def recordLinkageSql: String = {
      def L(e: String) = graft.ops.TextStats.log2E8Sql(e, "//")
      def fieldTerm(ka: String, kb: String, mPpm: Long, uCol: String) =
        s"CASE WHEN $ka = $kb " +
          s"THEN ${L(s"CAST($mPpm AS BIGINT)")} - ${L(uCol)} " +
          s"ELSE ${L(s"CAST(${1000000L - mPpm} AS BIGINT)")} - " +
          s"${L(s"greatest(1000000 - $uCol, 1)")} END"
      def uCte(key: String, alias: String) =
        s"""$alias AS (SELECT greatest(CAST((1000000 * s2)
           |    // (CAST(nn AS HUGEINT) * nn) AS BIGINT), 1) AS u_$alias
           |  FROM (SELECT sum(CAST(cc AS HUGEINT) * cc) AS s2
           |        FROM (SELECT count(*) AS cc FROM c GROUP BY $key) x) y
           |  CROSS JOIN n)""".stripMargin
      s"""WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
         |        right(c_name, 2) AS ph,
         |        CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal
         |      FROM customer),
         |a AS (SELECT * FROM c WHERE c_custkey % 2 = 0),
         |b AS (SELECT * FROM c WHERE c_custkey % 2 = 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM c),
         |${uCte("ph", "phx")},
         |${uCte("bal", "balx")},
         |${uCte("c_mktsegment", "segx")},
         |u AS (SELECT u_phx, u_balx, u_segx
         |      FROM phx CROSS JOIN balx CROSS JOIN segx),
         |p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |        a.ph = b.ph AS agree_name2,
         |        a.bal = b.bal AS agree_bal,
         |        a.c_mktsegment = b.c_mktsegment AS agree_seg,
         |        CAST(${fieldTerm("a.ph", "b.ph", 950000L, "u_phx")}
         |          + ${fieldTerm("a.bal", "b.bal", 900000L, "u_balx")}
         |          + ${fieldTerm("a.c_mktsegment", "b.c_mktsegment",
                850000L, "u_segx")} AS BIGINT) AS score_e8
         |      FROM a JOIN b ON a.c_nationkey = b.c_nationkey
         |      CROSS JOIN u),
         |t AS (SELECT * FROM p ORDER BY score_e8 DESC, id_a, id_b
         |      LIMIT 50)
         |SELECT id_a, id_b, agree_name2, agree_bal, agree_seg, score_e8,
         |  CAST(row_number() OVER (ORDER BY score_e8 DESC, id_a, id_b)
         |    AS BIGINT) AS "rank"
         |FROM t ORDER BY "rank"""".stripMargin
    }

    /** Twin of q263_golden_records: the recordLinkageSql scoring CTEs
      * threshold-mode (score_e8 >= 0), RECURSIVE transitive closure
      * with min-of-component labels standing in for the Spark
      * star-contraction CC (both compute the same partition with the
      * same min-id label), then the same survivorship collapse
      * (arg_min-by-unique-id ≡ the struct-min, max balance).
      */
    def goldenRecordsSql: String = {
      def L(e: String) = graft.ops.TextStats.log2E8Sql(e, "//")
      def fieldTerm(ka: String, kb: String, mPpm: Long, uCol: String) =
        s"CASE WHEN $ka = $kb " +
          s"THEN ${L(s"CAST($mPpm AS BIGINT)")} - ${L(uCol)} " +
          s"ELSE ${L(s"CAST(${1000000L - mPpm} AS BIGINT)")} - " +
          s"${L(s"greatest(1000000 - $uCol, 1)")} END"
      def uCte(key: String, alias: String) =
        s"""$alias AS (SELECT greatest(CAST((1000000 * s2)
           |    // (CAST(nn AS HUGEINT) * nn) AS BIGINT), 1) AS u_$alias
           |  FROM (SELECT sum(CAST(cc AS HUGEINT) * cc) AS s2
           |        FROM (SELECT count(*) AS cc FROM c GROUP BY $key) x) y
           |  CROSS JOIN n)""".stripMargin
      s"""WITH RECURSIVE c AS (SELECT c_custkey, c_nationkey,
         |        c_mktsegment, c_name, right(c_name, 2) AS ph,
         |        CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal,
         |        CAST(round(c_acctbal * 100) AS BIGINT) + 100000
         |          AS bal_shift_cents
         |      FROM customer),
         |a AS (SELECT * FROM c WHERE c_custkey % 2 = 0),
         |b AS (SELECT * FROM c WHERE c_custkey % 2 = 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM c),
         |${uCte("ph", "phx")},
         |${uCte("bal", "balx")},
         |${uCte("c_mktsegment", "segx")},
         |u AS (SELECT u_phx, u_balx, u_segx
         |      FROM phx CROSS JOIN balx CROSS JOIN segx),
         |p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         |        CAST(${fieldTerm("a.ph", "b.ph", 950000L, "u_phx")}
         |          + ${fieldTerm("a.bal", "b.bal", 900000L, "u_balx")}
         |          + ${fieldTerm("a.c_mktsegment", "b.c_mktsegment",
                850000L, "u_segx")} AS BIGINT) AS score_e8
         |      FROM a JOIN b ON a.c_nationkey = b.c_nationkey
         |      CROSS JOIN u),
         |g AS (SELECT id_a, id_b FROM p WHERE score_e8 >= 0),
         |e AS (SELECT id_a AS ea, id_b AS eb FROM g
         |      UNION SELECT id_b, id_a FROM g),
         |reach(ea, eb) AS (
         |  SELECT ea, eb FROM e
         |  UNION
         |  SELECT r.ea, e.eb FROM reach r JOIN e ON r.eb = e.ea),
         |labels AS (SELECT ea AS id, least(ea, min(eb)) AS cluster_id
         |           FROM reach GROUP BY ea),
         |ent AS (SELECT c.c_custkey, c.c_name, c.c_mktsegment,
         |          c.bal_shift_cents,
         |          CAST(coalesce(l.cluster_id, c.c_custkey) AS BIGINT)
         |            AS entity_id
         |        FROM c LEFT JOIN labels l ON l.id = c.c_custkey)
         |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
         |  arg_min(c_name, c_custkey) AS canon_c_name,
         |  arg_min(c_mktsegment, c_custkey) AS canon_c_mktsegment,
         |  CAST(max(bal_shift_cents) AS BIGINT) AS max_bal_shift_cents
         |FROM ent GROUP BY entity_id
         |ORDER BY entity_id""".stripMargin
    }

    /** Twin of q264_cuped: same integer midpoint split in epoch
      * micros, same exact six-moment sums, θ / adjusted-mean / 1−ρ²
      * expressions shared VERBATIM (modulo `//` and HUGEINT).
      */
    def cupedSql: String = {
      def adj(s: String) =
        s"CAST(round(1000 * ((CAST(sy_$s AS DOUBLE) / n_$s) - " +
          "(CAST(cov_n AS DOUBLE) / CASE WHEN var_n = 0 THEN 1 ELSE CAST(var_n AS DOUBLE) END) * " +
          s"((CAST(sx_$s AS DOUBLE) / n_$s) - (CAST(sx AS DOUBLE) / n)))) " +
          s"AS BIGINT) AS adj_mean_${s}_x1000"
      s"""WITH ev AS (SELECT user_id AS u,
         |        epoch_us(CAST(ts AS TIMESTAMP)) AS tm,
         |        user_id % 2 AS v FROM events),
         |mid AS (SELECT CAST((min(tm) + max(tm)) // 2 AS BIGINT) AS t0
         |        FROM ev),
         |ux AS (SELECT u, max(v) AS v,
         |        CAST(sum(CASE WHEN tm < t0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS x,
         |        CAST(sum(CASE WHEN tm >= t0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS y
         |       FROM ev CROSS JOIN mid GROUP BY u),
         |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(y) AS BIGINT) AS sy,
         |        sum(CAST(x AS HUGEINT) * y) AS sxy,
         |        sum(CAST(x AS HUGEINT) * x) AS sxx,
         |        sum(CAST(y AS HUGEINT) * y) AS syy FROM ux),
         |wide AS (SELECT
         |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         |  CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         |  CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
         |  FROM ux),
         |j AS (SELECT *,
         |        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
         |          AS cov_n,
         |        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
         |          AS var_n,
         |        CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
         |          AS vary_n
         |      FROM wide CROSS JOIN mom)
         |SELECT n_a, n_b,
         |  CAST((1000 * sy_a) // greatest(n_a, 1) AS BIGINT)
         |    AS mean_a_x1000,
         |  CAST((1000 * sy_b) // greatest(n_b, 1) AS BIGINT)
         |    AS mean_b_x1000,
         |  CAST(CASE WHEN var_n = 0 THEN 0 WHEN cov_n >= 0
         |    THEN (1000000 * cov_n) // var_n
         |    ELSE -((1000000 * (-cov_n)) // var_n) END AS BIGINT)
         |    AS theta_ppm,
         |  ${adj("a")},
         |  ${adj("b")},
         |  CAST(CASE WHEN var_n = 0 OR vary_n = 0 THEN 0 ELSE
         |    round(1000000 * (CAST(cov_n AS DOUBLE) * CAST(cov_n AS DOUBLE)) /
         |    (CAST(var_n AS DOUBLE) * CAST(vary_n AS DOUBLE))) END AS BIGINT)
         |    AS rho2_ppm
         |FROM j""".stripMargin
    }

    /** Twin of q265_max_coverage: same 61-bit hashed distinct
      * (doc, shingle) table, the 4 greedy rounds UNROLLED — each an
      * uncovered-count argmax (c DESC, id) LIMIT 1 plus a covered
      * union — with the same disjoint marginal gains.
      */
    def maxCoverageSql: String = {
      val k = 4
      val roundCtes = (1 to k).map { i =>
        val gSrc = if (i == 1) "sh"
          else s"(SELECT * FROM sh WHERE h NOT IN (SELECT h FROM c${i - 1}))"
        val cPrev = if (i == 1) "" else s"SELECT h FROM c${i - 1} UNION "
        s"""g$i AS (SELECT id, CAST(count(*) AS BIGINT) AS c
           |  FROM $gSrc GROUP BY id),
           |p$i AS (SELECT id, c FROM g$i ORDER BY c DESC, id LIMIT 1),
           |c$i AS (${cPrev}SELECT h FROM sh
           |  WHERE id = (SELECT id FROM p$i))""".stripMargin
      }.mkString(",\n")
      val rows = (1 to k).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS "round",
           |  (SELECT id FROM p$i) AS sel_doc_id,
           |  (SELECT c FROM p$i) AS gain,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c$i) AS covered_total"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |sgl AS (SELECT doc_id AS id, unnest(${shinglesE("w", 3)}) AS s
         |        FROM wd WHERE len(w) >= 3),
         |sh AS (SELECT DISTINCT id, ${duckHash61("s")} AS h FROM sgl),
         |$roundCtes
         |SELECT * FROM (
         |$rows
         |) WHERE sel_doc_id IS NOT NULL
         |ORDER BY "round"""".stripMargin
    }

    /** Twin of q266_loo_source_impact: same exact sums, truncated
      * ×1000 means, and the subtraction-only removal shift.
      */
    def looSourceImpactSql: String =
      s"""WITH per AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n_g,
         |        CAST(sum(length(text)) AS BIGINT) AS s_g
         |      FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
         |        CAST(sum(s_g) AS BIGINT) AS s FROM per),
         |j AS (SELECT g AS source, n_g,
         |        CAST((1000 * CAST(s_g AS HUGEINT))
         |          // greatest(n_g, 1) AS BIGINT) AS mean_x1000,
         |        CAST((1000 * CAST(s AS HUGEINT))
         |          // greatest(n, 1) AS BIGINT) AS corpus_mean_x1000,
         |        CAST((1000 * (CAST(s AS HUGEINT) - s_g))
         |          // greatest(n - n_g, 1) AS BIGINT) AS loo_mean_x1000
         |      FROM per CROSS JOIN tot)
         |SELECT source, n_g, mean_x1000, corpus_mean_x1000,
         |  loo_mean_x1000,
         |  loo_mean_x1000 - corpus_mean_x1000 AS delta_x1000
         |FROM j ORDER BY source""".stripMargin

    /** Twin of q272_did_report: the cupedSql ev/mid/ux CTEs, exact
      * ×1000 per-variant means, and the subtraction-only DiD.
      */
    def didReportSql: String =
      s"""WITH ev AS (SELECT user_id AS u,
         |        epoch_us(CAST(ts AS TIMESTAMP)) AS tm,
         |        user_id % 2 AS v FROM events),
         |mid AS (SELECT CAST((min(tm) + max(tm)) // 2 AS BIGINT) AS t0
         |        FROM ev),
         |ux AS (SELECT u, max(v) AS v,
         |        CAST(sum(CASE WHEN tm < t0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS x,
         |        CAST(sum(CASE WHEN tm >= t0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS y
         |       FROM ev CROSS JOIN mid GROUP BY u),
         |wide AS (SELECT
         |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         |  CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         |  CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
         |  FROM ux),
         |m2 AS (SELECT n_a, n_b,
         |  CAST((1000 * sx_a) // greatest(n_a, 1) AS BIGINT) AS pre_a_x1000,
         |  CAST((1000 * sy_a) // greatest(n_a, 1) AS BIGINT) AS post_a_x1000,
         |  CAST((1000 * sx_b) // greatest(n_b, 1) AS BIGINT) AS pre_b_x1000,
         |  CAST((1000 * sy_b) // greatest(n_b, 1) AS BIGINT) AS post_b_x1000
         |  FROM wide)
         |SELECT *, (post_b_x1000 - pre_b_x1000) -
         |  (post_a_x1000 - pre_a_x1000) AS did_x1000
         |FROM m2""".stripMargin

    /** Twin of q273_gini_split: same (value → pos, neg) reduction,
      * cumulative window, exact HUGEINT impurity division and
      * (g, v) argmin.
      */
    def giniSplitSql: String =
      s"""WITH vals AS (SELECT CAST(l_quantity AS BIGINT) AS v,
         |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         |          AS BIGINT) AS p,
         |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
         |          AS BIGINT) AS q
         |      FROM lineitem GROUP BY 1),
         |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp,
         |        CAST(sum(q) AS BIGINT) AS tq FROM vals),
         |cum AS (SELECT v,
         |        CAST(sum(p) OVER (ORDER BY v
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl,
         |        CAST(sum(q) OVER (ORDER BY v
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ql
         |      FROM vals),
         |sc AS (SELECT v, pl, ql, pl + ql AS nl,
         |        (tp - pl) + (tq - ql) AS nr, tp, tq
         |      FROM cum CROSS JOIN tot),
         |g AS (SELECT v, nl, nr, tp, tq,
         |        CAST((2000000 * (CAST(pl AS HUGEINT) * ql * nr +
         |          CAST(tp - pl AS HUGEINT) * (tq - ql) * nl)) //
         |          (CAST(nl AS HUGEINT) * nr * (tp + tq)) AS BIGINT)
         |          AS g_x1e6
         |      FROM sc WHERE nr > 0),
         |best AS (SELECT * FROM g ORDER BY g_x1e6, v LIMIT 1)
         |SELECT v AS threshold, nl AS n_le, nr AS n_gt,
         |  g_x1e6 AS split_gini_x1e6,
         |  CAST((2000000 * CAST(tp AS HUGEINT) * tq) //
         |    (CAST(tp + tq AS HUGEINT) * (tp + tq)) AS BIGINT)
         |    AS root_gini_x1e6,
         |  CAST((2000000 * CAST(tp AS HUGEINT) * tq) //
         |    (CAST(tp + tq AS HUGEINT) * (tp + tq)) AS BIGINT) - g_x1e6
         |    AS gain_x1e6
         |FROM best""".stripMargin

    /** Twin of q274_kendall_tau: same per-customer reduction, same
      * contingency-grid concordance sums, marginal tie terms, and
      * the identical tie-adjusted float step.
      */
    def kendallTauSql: String =
      s"""WITH pc AS (SELECT o_custkey,
         |        CAST(count(*) AS BIGINT) AS n_orders,
         |        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |          AS BIGINT) AS spend_cents
         |      FROM orders GROUP BY 1),
         |pb AS (SELECT c_nationkey AS g, n_orders AS xb,
         |        spend_cents // 5000000 AS yb
         |      FROM pc JOIN customer ON c_custkey = o_custkey),
         |cells AS (SELECT g, xb, yb, CAST(count(*) AS BIGINT) AS n
         |      FROM pb GROUP BY 1, 2, 3),
         |tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS n_g FROM cells
         |        GROUP BY g),
         |txx AS (SELECT g, sum(CAST(nx AS HUGEINT) * (nx - 1)) AS tx2
         |       FROM (SELECT g, xb, CAST(sum(n) AS BIGINT) AS nx
         |             FROM cells GROUP BY 1, 2) GROUP BY g),
         |tyy AS (SELECT g, sum(CAST(ny AS HUGEINT) * (ny - 1)) AS ty2
         |       FROM (SELECT g, yb, CAST(sum(n) AS BIGINT) AS ny
         |             FROM cells GROUP BY 1, 2) GROUP BY g),
         |cd AS (SELECT a.g,
         |        sum(CASE WHEN a.yb < b.yb
         |          THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS cc,
         |        sum(CASE WHEN a.yb > b.yb
         |          THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS dd
         |      FROM cells a JOIN cells b
         |        ON a.g = b.g AND a.xb < b.xb GROUP BY a.g),
         |f AS (SELECT tot.g, n_g, coalesce(cc, 0) AS cc,
         |        coalesce(dd, 0) AS dd,
         |        CAST(n_g AS HUGEINT) * (n_g - 1) AS p2, tx2, ty2
         |      FROM tot JOIN txx USING (g) JOIN tyy USING (g)
         |      LEFT JOIN cd ON cd.g = tot.g)
         |SELECT g AS c_nationkey, n_g,
         |  CAST(cc AS BIGINT) AS concordant,
         |  CAST(dd AS BIGINT) AS discordant,
         |  CAST(CASE WHEN p2 = tx2 OR p2 = ty2 THEN 0 ELSE
         |    round(1000000 * 2 * (CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
         |    sqrt((CAST(p2 AS DOUBLE) - CAST(tx2 AS DOUBLE)) *
         |    (CAST(p2 AS DOUBLE) - CAST(ty2 AS DOUBLE)))) END AS BIGINT)
         |    AS tau_b_x1e6
         |FROM f ORDER BY c_nationkey""".stripMargin

    /** Twin of q276_spearman_rho: same grid, same ×2 midranks from
      * marginal cumulatives, same exact moment sums and the
      * identical Pearson float step.
      */
    def spearmanRhoSql: String =
      s"""WITH pc AS (SELECT o_custkey,
         |        CAST(count(*) AS BIGINT) AS n_orders,
         |        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |          AS BIGINT) AS spend_cents
         |      FROM orders GROUP BY 1),
         |pb AS (SELECT c_nationkey AS g, n_orders AS xb,
         |        spend_cents // 5000000 AS yb
         |      FROM pc JOIN customer ON c_custkey = o_custkey),
         |cells AS (SELECT g, xb, yb, CAST(count(*) AS BIGINT) AS n
         |      FROM pb GROUP BY 1, 2, 3),
         |rx AS (SELECT g, xb, CAST(2 * coalesce(sum(nv) OVER (
         |          PARTITION BY g ORDER BY xb
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          + nv + 1 AS BIGINT) AS rx2
         |      FROM (SELECT g, xb, CAST(sum(n) AS BIGINT) AS nv
         |            FROM cells GROUP BY 1, 2)),
         |ry AS (SELECT g, yb, CAST(2 * coalesce(sum(nv) OVER (
         |          PARTITION BY g ORDER BY yb
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          + nv + 1 AS BIGINT) AS ry2
         |      FROM (SELECT g, yb, CAST(sum(n) AS BIGINT) AS nv
         |            FROM cells GROUP BY 1, 2)),
         |m AS (SELECT cells.g, CAST(sum(n) AS BIGINT) AS n_g,
         |        sum(CAST(n AS HUGEINT) * rx2) AS sx,
         |        sum(CAST(n AS HUGEINT) * ry2) AS sy,
         |        sum(CAST(n AS HUGEINT) * rx2 * ry2) AS sxy,
         |        sum(CAST(n AS HUGEINT) * rx2 * rx2) AS sxx,
         |        sum(CAST(n AS HUGEINT) * ry2 * ry2) AS syy
         |      FROM cells JOIN rx USING (g, xb) JOIN ry USING (g, yb)
         |      GROUP BY cells.g)
         |SELECT g AS c_nationkey, n_g,
         |  CAST(CASE WHEN n_g * sxx = sx * sx OR n_g * syy = sy * sy
         |    THEN 0 ELSE
         |    round(1000000 * (CAST(n_g AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    sqrt((CAST(n_g AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |    (CAST(n_g AS DOUBLE) * CAST(syy AS DOUBLE) -
         |    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) END AS BIGINT)
         |    AS rho_x1e6
         |FROM m ORDER BY c_nationkey""".stripMargin

    /** Twin of q277_chi_squared: same full marginal grid with zero
      * cells, same exact per-cell HUGEINT terms, same floor and
      * Cramér's V float step.
      */
    def chiSquaredSql: String =
      s"""WITH pc AS (SELECT o_custkey,
         |        CAST(count(*) AS BIGINT) AS n_orders,
         |        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |          AS BIGINT) AS spend_cents
         |      FROM orders GROUP BY 1),
         |pb AS (SELECT c_nationkey AS g, n_orders AS xb,
         |        spend_cents // 5000000 AS yb
         |      FROM pc JOIN customer ON c_custkey = o_custkey),
         |cells AS (SELECT g, xb, yb, CAST(count(*) AS BIGINT) AS n
         |      FROM pb GROUP BY 1, 2, 3),
         |xm AS (SELECT g, xb, CAST(sum(n) AS BIGINT) AS rx FROM cells
         |       GROUP BY 1, 2),
         |ym AS (SELECT g, yb, CAST(sum(n) AS BIGINT) AS cy FROM cells
         |       GROUP BY 1, 2),
         |tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS n_g,
         |        CAST(count(DISTINCT xb) AS BIGINT) AS kx,
         |        CAST(count(DISTINCT yb) AS BIGINT) AS ky
         |      FROM cells GROUP BY g),
         |grid AS (SELECT xm.g, xm.xb, ym.yb, xm.rx, ym.cy,
         |        coalesce(cells.n, 0) AS o
         |      FROM xm JOIN ym USING (g)
         |      LEFT JOIN cells ON cells.g = xm.g AND cells.xb = xm.xb
         |        AND cells.yb = ym.yb),
         |chi AS (SELECT grid.g,
         |        sum((1000000 * (CAST(n_g AS HUGEINT) * o -
         |          CAST(rx AS HUGEINT) * cy) *
         |          (CAST(n_g AS HUGEINT) * o -
         |          CAST(rx AS HUGEINT) * cy)) //
         |          (CAST(n_g AS HUGEINT) * rx * cy)) AS chi6
         |      FROM grid JOIN tot ON tot.g = grid.g GROUP BY grid.g)
         |SELECT tot.g AS c_nationkey, n_g,
         |  CAST((kx - 1) * (ky - 1) AS BIGINT) AS dof,
         |  CAST(chi6 // 1000000 AS BIGINT) AS chi2_floor,
         |  CAST(CASE WHEN kx < 2 OR ky < 2 THEN 0 ELSE
         |    round(1000 * sqrt((CAST(chi6 AS DOUBLE) / 1e6) /
         |    (CAST(n_g AS DOUBLE) *
         |    CASE WHEN kx < ky THEN kx - 1 ELSE ky - 1 END)))
         |    END AS BIGINT) AS cramers_v_x1000
         |FROM tot JOIN chi ON chi.g = tot.g
         |ORDER BY c_nationkey""".stripMargin

    /** Twin of q278_mwu_drift: same pooled ×2 midranks over the
      * (source, n_chars) count table, same exact HUGEINT rank/tie
      * sums, same tie-corrected z float step.
      */
    def mwuDriftSql: String =
      s"""WITH cnts AS (SELECT source AS g, n_chars AS v,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM documents GROUP BY 1, 2),
         |base AS (SELECT v, n AS nb FROM cnts WHERE g = 'src0'),
         |grp AS (SELECT DISTINCT g FROM cnts WHERE g <> 'src0'),
         |brep AS (SELECT g, v, nb FROM grp CROSS JOIN base),
         |oth AS (SELECT g, v, n AS no FROM cnts WHERE g <> 'src0'),
         |pooled AS (SELECT coalesce(brep.g, oth.g) AS g,
         |    coalesce(brep.v, oth.v) AS v,
         |    coalesce(nb, 0) AS nb, coalesce(no, 0) AS no,
         |    coalesce(nb, 0) + coalesce(no, 0) AS t
         |  FROM brep FULL JOIN oth ON brep.g = oth.g AND brep.v = oth.v),
         |ranked AS (SELECT g, nb, no, t,
         |    2 * coalesce(SUM(t) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + t + 1 AS mr2
         |  FROM pooled),
         |agg AS (SELECT g, CAST(sum(nb) AS BIGINT) AS n1,
         |    CAST(sum(no) AS BIGINT) AS n2,
         |    sum(CAST(nb AS HUGEINT) * mr2) AS r1x2,
         |    sum(CAST(t AS HUGEINT) * t * t - t) AS tie
         |  FROM ranked GROUP BY g)
         |SELECT g AS source, n1 AS n_base, n2 AS n_other,
         |  CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u_x2,
         |  CAST((500000 * (r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1))) //
         |    (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS cles_x1e6,
         |  CAST(CASE WHEN (CAST(n1 AS HUGEINT) + n2 + 1) * (n1 + n2) *
         |      (n1 + n2 - 1) = tie OR n1 = 0 OR n2 = 0 THEN 0 ELSE
         |    round(1000 * (CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) -
         |      CAST(n1 AS DOUBLE) * n2) / (2 * sqrt(
         |      CAST(n1 AS DOUBLE) * n2 * ((CAST(n1 AS DOUBLE) + n2 + 1) *
         |      (CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2 - 1) -
         |      CAST(tie AS DOUBLE)) / (12 * (CAST(n1 AS DOUBLE) + n2) *
         |      (CAST(n1 AS DOUBLE) + n2 - 1)))))
         |    END AS BIGINT) AS z_x1000
         |FROM agg ORDER BY source""".stripMargin

    /** Twin of q279_k_anonymity: same equivalence-class reduction,
      * per-k folds and exact ppm integer divisions.
      */
    /** Shared base of the q301/q302 twins: per-customer treatment
      * (even custkey) and URGENT-order conversion.
      */
    private def upliftBaseCtes: String =
      s"""WITH urg AS (SELECT o_custkey,
         |    CAST(max(CASE WHEN o_orderpriority = '1-URGENT'
         |      THEN 1 ELSE 0 END) AS BIGINT) AS u
         |  FROM orders GROUP BY 1),
         |base AS (SELECT c_nationkey,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
         |      AS bal_band,
         |    (c_custkey % 2 = 0) AS treated,
         |    (coalesce(u, 0) = 1) AS converted
         |  FROM customer LEFT JOIN urg ON o_custkey = c_custkey)""".stripMargin

    /** Twin of q301_cmh_test: the q281 ×10⁶ E/V discipline over
      * per-nation 2×2 tables, the same one-float-step χ² and the
      * guarded MH odds ratio.
      */
    def cmhTestSql: String =
      upliftBaseCtes + s""",
        |st AS (SELECT c_nationkey,
        |    CAST(sum(CASE WHEN treated AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN treated AND NOT converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT treated AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT treated AND NOT converted THEN 1 ELSE 0
        |      END) AS BIGINT) AS d
        |  FROM base GROUP BY 1),
        |t2 AS (SELECT *, a + b + c + d AS n,
        |    CAST((1000000 * CAST(a + b AS HUGEINT) * (a + c)) //
        |      greatest(a + b + c + d, 1) AS BIGINT) AS e6,
        |    CAST(CASE WHEN a + b + c + d < 2 THEN 0 ELSE
        |      (1000000 * CAST(a + b AS HUGEINT) * (c + d) * (a + c)
        |      * (b + d)) // (CAST(a + b + c + d AS HUGEINT)
        |      * (a + b + c + d) * (a + b + c + d - 1)) END AS BIGINT) AS v6,
        |    CAST((1000000 * CAST(a AS HUGEINT) * d) //
        |      greatest(a + b + c + d, 1) AS BIGINT) AS ad6,
        |    CAST((1000000 * CAST(b AS HUGEINT) * c) //
        |      greatest(a + b + c + d, 1) AS BIGINT) AS bc6
        |  FROM st),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(a) AS BIGINT) AS a_tot,
        |    CAST(sum(e6) AS BIGINT) AS e_x1e6,
        |    CAST(sum(v6) AS BIGINT) AS v_x1e6,
        |    CAST(sum(ad6) AS BIGINT) AS ad, CAST(sum(bc6) AS BIGINT) AS bc
        |  FROM t2)
        |SELECT n_strata, a_tot, e_x1e6, v_x1e6,
        |  CAST(CASE WHEN v_x1e6 = 0 THEN 0 ELSE
        |    round(1000 * (CAST(a_tot AS DOUBLE) * 1000000 - e_x1e6) *
        |    (CAST(a_tot AS DOUBLE) * 1000000 - e_x1e6) /
        |    (1000000 * CAST(v_x1e6 AS DOUBLE))) END AS BIGINT)
        |    AS chi2_x1000,
        |  CAST((1000 * ad) // greatest(bc, 1) AS BIGINT) AS mh_or_x1000
        |FROM agg""".stripMargin

    /** Twin of q302_qini_curve: the same arm counts on the bounded
      * balance-band table, cumulative windows highest-score-first,
      * identical sign-symmetric milli/ppm arithmetic.
      */
    def qiniCurveSql: String =
      upliftBaseCtes + s""",
        |v AS (SELECT bal_band AS score,
        |    CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS pnt,
        |    CAST(sum(CASE WHEN treated AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pct,
        |    CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pnc,
        |    CAST(sum(CASE WHEN NOT treated AND converted THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pcc
        |  FROM base GROUP BY 1),
        |tt AS (SELECT CAST(sum(pnt + pnc) AS BIGINT) AS n FROM v),
        |cw AS (SELECT score,
        |    CAST(sum(pnt) OVER w AS BIGINT) AS nt,
        |    CAST(sum(pct) OVER w AS BIGINT) AS ct,
        |    CAST(sum(pnc) OVER w AS BIGINT) AS nc,
        |    CAST(sum(pcc) OVER w AS BIGINT) AS cc
        |  FROM v WINDOW w AS (ORDER BY score DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT score, nt, ct, nc, cc,
        |  CAST((1000000 * (nt + nc)) // tt.n AS BIGINT) AS depth_ppm,
        |  CASE WHEN CAST(ct AS HUGEINT) * nc >= CAST(cc AS HUGEINT) * nt
        |    THEN CAST((1000 * (CAST(ct AS HUGEINT) * nc
        |      - CAST(cc AS HUGEINT) * nt)) // greatest(nc, 1) AS BIGINT)
        |    ELSE -CAST((1000 * (CAST(cc AS HUGEINT) * nt
        |      - CAST(ct AS HUGEINT) * nc)) // greatest(nc, 1) AS BIGINT)
        |  END AS qini_milli,
        |  CASE WHEN CAST(ct AS HUGEINT) * nc >= CAST(cc AS HUGEINT) * nt
        |    THEN CAST((1000000 * (CAST(ct AS HUGEINT) * nc
        |      - CAST(cc AS HUGEINT) * nt)) //
        |      greatest(CAST(nt AS HUGEINT) * nc, 1) AS BIGINT)
        |    ELSE -CAST((1000000 * (CAST(cc AS HUGEINT) * nt
        |      - CAST(ct AS HUGEINT) * nc)) //
        |      greatest(CAST(nt AS HUGEINT) * nc, 1) AS BIGINT)
        |  END AS uplift_ppm
        |FROM cw CROSS JOIN tt
        |ORDER BY score DESC""".stripMargin

    /** Twin of q297_cem_att: the q279 coarsening grid with the
      * even/odd treatment split, the same sign-symmetric common-
      * denominator stratum differences and treated-weighted fold
      * through HUGEINT.
      */
    def cemAttSql: String =
      s"""WITH spend AS (SELECT o_custkey,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |      AS BIGINT) AS spend_c
         |  FROM orders GROUP BY 1),
         |base AS (SELECT c_nationkey, c_mktsegment,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
         |      AS bal_band,
         |    (c_custkey % 2 = 0) AS treated,
         |    coalesce(spend_c, 0) AS spend_c
         |  FROM customer LEFT JOIN spend ON o_custkey = c_custkey),
         |st AS (SELECT c_nationkey, c_mktsegment, bal_band,
         |    CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |    CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
         |    CAST(sum(CASE WHEN treated THEN spend_c ELSE 0 END)
         |      AS BIGINT) AS s_t,
         |    CAST(sum(CASE WHEN treated THEN 0 ELSE spend_c END)
         |      AS BIGINT) AS s_c
         |  FROM base GROUP BY 1, 2, 3),
         |m AS (SELECT *,
         |    CAST(s_t AS HUGEINT) * n_c - CAST(s_c AS HUGEINT) * n_t AS num,
         |    CAST(n_t AS HUGEINT) * n_c AS den
         |  FROM st WHERE n_t > 0 AND n_c > 0),
         |md AS (SELECT *, CASE WHEN num >= 0
         |      THEN CAST((1000 * num) // den AS BIGINT)
         |      ELSE -CAST((1000 * -num) // den AS BIGINT) END AS diff_milli
         |  FROM m),
         |rep AS (SELECT CAST(count(*) AS BIGINT) AS n_strata_matched,
         |    CAST(sum(n_t) AS BIGINT) AS n_treated_matched,
         |    CAST(sum(n_c) AS BIGINT) AS n_control_matched,
         |    sum(CAST(n_t AS HUGEINT) * diff_milli) AS w
         |  FROM md),
         |dr AS (SELECT CAST(coalesce(sum(n_t), 0) AS BIGINT)
         |      AS n_treated_dropped,
         |    CAST(coalesce(sum(n_c), 0) AS BIGINT) AS n_control_dropped
         |  FROM st WHERE n_t = 0 OR n_c = 0)
         |SELECT n_strata_matched, n_treated_matched, n_control_matched,
         |  n_treated_dropped, n_control_dropped,
         |  CASE WHEN w >= 0
         |    THEN CAST(w // greatest(n_treated_matched, 1) AS BIGINT)
         |    ELSE -CAST((-w) // greatest(n_treated_matched, 1) AS BIGINT)
         |  END AS att_milli
         |FROM rep CROSS JOIN dr""".stripMargin

    /** Twin of q296_t_closeness: the q279 base, the classes × values
      * union grid, the same common-denominator variational distance
      * through HUGEINT.
      */
    def tClosenessSql: String =
      s"""WITH sens AS (SELECT o_custkey, min(o_orderpriority) AS sv
         |      FROM orders GROUP BY 1),
         |base AS (SELECT c_nationkey, c_mktsegment,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
         |      AS bal_band,
         |    coalesce(sv, 'NONE') AS sv
         |  FROM customer LEFT JOIN sens ON o_custkey = c_custkey),
         |cv AS (SELECT c_nationkey, c_mktsegment, bal_band, sv,
         |    CAST(count(*) AS BIGINT) AS cvn
         |  FROM base GROUP BY 1, 2, 3, 4),
         |vc AS (SELECT sv, CAST(sum(cvn) AS BIGINT) AS cd
         |  FROM cv GROUP BY 1),
         |cls AS (SELECT c_nationkey, c_mktsegment, bal_band,
         |    CAST(sum(cvn) AS BIGINT) AS n_c
         |  FROM cv GROUP BY 1, 2, 3),
         |nt AS (SELECT CAST(sum(cd) AS BIGINT) AS n FROM vc),
         |grid AS (SELECT cls.*, vc.sv, vc.cd, coalesce(cv.cvn, 0) AS cvn
         |  FROM cls CROSS JOIN vc
         |  LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
         |    AND cv.c_mktsegment = cls.c_mktsegment
         |    AND cv.bal_band = cls.bal_band AND cv.sv = vc.sv),
         |agg AS (SELECT c_nationkey, c_mktsegment, bal_band, n_c,
         |    sum(abs(CAST(cvn AS HUGEINT) * nt.n
         |      - CAST(cd AS HUGEINT) * n_c)) AS num,
         |    max(nt.n) AS n
         |  FROM grid CROSS JOIN nt GROUP BY 1, 2, 3, 4)
         |SELECT c_nationkey, c_mktsegment, bal_band, n_c,
         |  CAST((1000000 * num) // (2 * CAST(n_c AS HUGEINT) * n)
         |    AS BIGINT) AS t_ppm,
         |  (CAST((1000000 * num) // (2 * CAST(n_c AS HUGEINT) * n)
         |    AS BIGINT) > 300000) AS breach
         |FROM agg
         |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin

    def kAnonymitySql: String =
      s"""WITH sens AS (SELECT o_custkey, min(o_orderpriority) AS sv
         |      FROM orders GROUP BY 1),
         |base AS (SELECT c_nationkey, c_mktsegment,
         |    (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
         |      AS bal_band,
         |    coalesce(sv, 'NONE') AS sv
         |  FROM customer LEFT JOIN sens ON o_custkey = c_custkey),
         |cls AS (SELECT c_nationkey, c_mktsegment, bal_band,
         |    CAST(count(*) AS BIGINT) AS sz,
         |    CAST(count(DISTINCT sv) AS BIGINT) AS ldiv
         |  FROM base GROUP BY 1, 2, 3),
         |tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
         |    CAST(count(*) AS BIGINT) AS n_classes,
         |    CAST(min(sz) AS BIGINT) AS k_anonymity,
         |    CAST(min(ldiv) AS BIGINT) AS l_diversity,
         |    CAST(coalesce(sum(CASE WHEN ldiv = 1 THEN sz END), 0)
         |      AS BIGINT) AS l1_rows
         |  FROM cls),
         |ks AS (SELECT CAST(k AS BIGINT) AS k
         |  FROM (VALUES (2), (5), (10), (25)) AS t(k)),
         |perk AS (SELECT k,
         |    CAST(coalesce(sum(CASE WHEN sz < k THEN 1 END), 0)
         |      AS BIGINT) AS classes_below,
         |    CAST(coalesce(sum(CASE WHEN sz < k THEN sz END), 0)
         |      AS BIGINT) AS rows_below
         |  FROM ks LEFT JOIN cls ON sz < k GROUP BY k)
         |SELECT k, classes_below, rows_below,
         |  CAST((1000000 * CAST(rows_below AS HUGEINT)) // n_rows
         |    AS BIGINT) AS rows_below_ppm,
         |  n_classes, n_rows, k_anonymity, l_diversity,
         |  CAST((1000000 * CAST(l1_rows AS HUGEINT)) // n_rows
         |    AS BIGINT) AS l1_rows_ppm
         |FROM perk CROSS JOIN tot ORDER BY k""".stripMargin

    /** Twin of q281_logrank: same span/censoring construction as the
      * q207 twin, same zero-filled cohort grid, same exact ×10⁶
      * hypergeometric E/V terms and χ² float step.
      */
    def logRankSql: String =
      s"""WITH sp AS (SELECT user_id AS u,
         |      min(date_trunc('day', ts)) AS first_d,
         |      max(date_trunc('day', ts)) AS last_d,
         |      CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
         |        AS BIGINT) AS g
         |    FROM events GROUP BY 1),
         |mx AS (SELECT max(last_d) AS max_d FROM sp),
         |byt AS (SELECT g, CAST(date_diff('day', first_d, last_d) AS BIGINT)
         |      AS t,
         |    CAST(sum(CASE WHEN date_diff('day', last_d, max_d) > 3
         |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |    CAST(count(*) AS BIGINT) AS a
         |  FROM sp CROSS JOIN mx GROUP BY 1, 2),
         |g0 AS (SELECT t, d AS d0, a AS a0 FROM byt WHERE g = 0),
         |g1 AS (SELECT t, d AS d1, a AS a1 FROM byt WHERE g = 1),
         |grid AS (SELECT coalesce(g0.t, g1.t) AS t,
         |    coalesce(d0, 0) AS d0, coalesce(a0, 0) AS a0,
         |    coalesce(d1, 0) AS d1, coalesce(a1, 0) AS a1
         |  FROM g0 FULL JOIN g1 ON g0.t = g1.t),
         |tot AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN g = 0 THEN a END), 0) AS BIGINT)
         |      AS n0_tot,
         |    CAST(coalesce(sum(CASE WHEN g = 1 THEN a END), 0) AS BIGINT)
         |      AS n1_tot
         |  FROM byt),
         |risk AS (SELECT grid.*, n0_tot, n1_tot,
         |    n0_tot - coalesce(sum(a0) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0,
         |    n1_tot - coalesce(sum(a1) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r1
         |  FROM grid CROSS JOIN tot),
         |tm AS (SELECT n0_tot, n1_tot, d1, d0 + d1 AS d, r0, r1,
         |    r0 + r1 AS n
         |  FROM risk WHERE d0 + d1 > 0),
         |terms AS (SELECT n0_tot, n1_tot, d1,
         |    CAST((1000000 * CAST(d AS HUGEINT) * r1) // n AS BIGINT)
         |      AS e1_6,
         |    CAST(CASE WHEN n < 2 THEN 0 ELSE
         |      (1000000 * CAST(d AS HUGEINT) * r0 * r1 * (n - d)) //
         |      (CAST(n AS HUGEINT) * n * (n - 1)) END AS BIGINT) AS v6
         |  FROM tm)
         |SELECT CAST(max(n0_tot) AS BIGINT) AS n0,
         |  CAST(max(n1_tot) AS BIGINT) AS n1,
         |  CAST(sum(d1) AS BIGINT) AS o1,
         |  CAST(sum(e1_6) AS BIGINT) AS e1_x1e6,
         |  CAST(sum(v6) AS BIGINT) AS v_x1e6,
         |  CAST(CASE WHEN sum(v6) = 0 THEN 0 ELSE
         |    round(1000 * (CAST(sum(d1) AS DOUBLE) * 1000000 - sum(e1_6)) *
         |    (CAST(sum(d1) AS DOUBLE) * 1000000 - sum(e1_6)) /
         |    (1000000 * CAST(sum(v6) AS DOUBLE))) END AS BIGINT)
         |    AS chi2_x1000
         |FROM terms
         |ORDER BY n0""".stripMargin

    /** Twin of q282_matryoshka_recall: DOUBLE[]-cast FIRST then
      * prefix slice (engine-identical to Spark's slice-then-cast),
      * the q123 brute-force rank convention on both rankings.
      */
    def matryoshkaRecallSql: String = {
      def dimCtes(dm: Int) =
        s"""s$dm AS (SELECT q.query_id, ev.id,
           |    ${cosineE(s"ev.v[1:$dm]", s"q.qv[1:$dm]")} AS sim
           |  FROM e ev CROSS JOIN q),
           |a$dm AS (SELECT query_id, id FROM (SELECT query_id, id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, id) AS rnk FROM s$dm) t
           |  WHERE rnk <= 5),
           |h$dm AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
           |  FROM a$dm a JOIN bex b
           |    ON a.query_id = b.query_id AND a.id = b.id
           |  GROUP BY a.query_id)""".stripMargin
      def dimSelect(dm: Int) =
        s"""SELECT CAST($dm AS BIGINT) AS trunc_dim, qq.query_id,
           |  COALESCE(n_hits, 0) AS n_hits,
           |  CAST((1000 * COALESCE(n_hits, 0)) // 5 AS BIGINT)
           |    AS recall_x1000
           |FROM (SELECT DISTINCT query_id FROM bex) qq
           |LEFT JOIN h$dm USING (query_id)""".stripMargin
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT id AS query_id, v AS qv FROM e WHERE id < 3),
         |bscored AS (SELECT q.query_id, ev.id,
         |    ${cosineE("ev.v", "q.qv")} AS sim
         |  FROM e ev CROSS JOIN q),
         |bex AS (SELECT query_id, id FROM (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, id) AS rnk FROM bscored) t
         |  WHERE rnk <= 5),
         |${dimCtes(16)},
         |${dimCtes(32)}
         |${dimSelect(16)}
         |UNION ALL
         |${dimSelect(32)}
         |ORDER BY trunc_dim, query_id""".stripMargin
    }

    /** Twin of q280_shapley_attribution: same per-user bit_or
      * coalition fold, same exact ppm v-table over the 2³ power set,
      * same integer factorial weights and guarded c! divide.
      */
    def shapleyAttributionSql: String =
      s"""WITH ev AS (SELECT user_id,
         |    CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
         |      WHEN 'signup' THEN 4 ELSE 0 END AS bitv,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS cv
         |  FROM events
         |  WHERE event_type IN ('click', 'view', 'signup', 'purchase')),
         |usr AS (SELECT user_id, CAST(bit_or(bitv) AS BIGINT) AS m,
         |    CAST(max(cv) AS BIGINT) AS cv
         |  FROM ev GROUP BY 1),
         |coal AS (SELECT m, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cv) AS BIGINT) AS cvs
         |  FROM usr WHERE m > 0 GROUP BY 1),
         |vt AS (SELECT CAST(t.s AS BIGINT) AS s,
         |    CAST(coalesce((1000000 * cvs) // n, 0) AS BIGINT) AS vppm
         |  FROM range(8) AS t(s) LEFT JOIN coal ON coal.m = t.s),
         |ch AS (SELECT channel, CAST(bit AS BIGINT) AS bit
         |  FROM (VALUES ('click', 1), ('view', 2), ('signup', 4))
         |    AS t(channel, bit)),
         |phi AS (SELECT channel,
         |    CAST(sum((CASE bit_count(sub.s) WHEN 0 THEN 2 WHEN 1 THEN 1
         |      WHEN 2 THEN 2 END) * (up.vppm - sub.vppm)) AS BIGINT)
         |      AS phi_x
         |  FROM ch JOIN vt sub ON (sub.s & bit) = 0
         |  JOIN vt up ON up.s = (sub.s | bit)
         |  GROUP BY channel),
         |expo AS (SELECT channel, CAST(sum(n) AS BIGINT) AS n_users,
         |    CAST(sum(cvs) AS BIGINT) AS n_conv
         |  FROM ch JOIN coal ON (m & bit) <> 0 GROUP BY channel)
         |SELECT phi.channel, coalesce(n_users, 0) AS n_users,
         |  coalesce(n_conv, 0) AS n_conv, phi_x,
         |  CAST(CASE WHEN phi_x >= 0 THEN phi_x // 6
         |    ELSE -((-phi_x) // 6) END AS BIGINT) AS phi_ppm
         |FROM phi LEFT JOIN expo USING (channel)
         |ORDER BY channel""".stripMargin

    /** Twin of q275_bootstrap_ratio: the bootstrapCiSql machinery
      * with the reweighted-ratio replica statistic and the global
      * ratio point estimate.
      */
    def bootstrapRatioSql: String = {
      val u = duckHash61("'boot:' || CAST(r AS VARCHAR) || ':' || id")
      val wCase = graft.ops.Eval.poissonCdfCaseSql("u")
      s"""WITH base AS (SELECT
         |        CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) AS id,
         |        CAST(round(l_extendedprice * 100) AS BIGINT) AS nu,
         |        CAST(l_quantity AS BIGINT) AS de
         |      FROM lineitem),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |        CAST((1000 * CAST(sum(nu) AS HUGEINT))
         |          // greatest(sum(de), 1) AS BIGINT) AS mean_x1000
         |      FROM base),
         |reps AS (SELECT r, $u % 1000000 AS u, nu, de
         |      FROM base CROSS JOIN
         |        (SELECT unnest(generate_series(0, 39)) AS r)),
         |w8 AS (SELECT r, $wCase AS w, nu, de FROM reps),
         |ag AS (SELECT r, CAST(sum(w * nu) AS BIGINT) AS swx,
         |        CAST(sum(w * de) AS BIGINT) AS sw FROM w8 GROUP BY r),
         |ms AS (SELECT r, CAST((1000 * CAST(swx AS HUGEINT))
         |        // greatest(sw, 1) AS BIGINT) AS m FROM ag),
         |rk AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rk
         |       FROM ms)
         |SELECT n_rows, CAST(40 AS BIGINT) AS n_replicas, mean_x1000,
         |  (SELECT m FROM rk WHERE rk = 3) AS lo_x1000,
         |  (SELECT m FROM rk WHERE rk = 38) AS hi_x1000
         |FROM pt""".stripMargin
    }

    /** Twin of q252_negative_sample: same hash61 slot proposals over
      * the same "user#slot" strings, same item-existence join, same
      * NOT-EXISTS interaction screen, same lowest-slot dedup and
      * first-k rank.
      */
    def negativeSampleSql: String =
      s"""WITH inter AS (SELECT DISTINCT o_custkey AS u,
         |        CAST(l_partkey AS BIGINT) AS itm
         |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |us AS (SELECT DISTINCT u FROM inter),
         |mx AS (SELECT CAST(max(p_partkey) AS BIGINT) AS mxi FROM part),
         |sl AS (SELECT u, unnest(range(0, 9)) AS slot FROM us),
         |cand AS (SELECT u, slot,
         |    (${duckHash61("concat_ws('#', CAST(u AS VARCHAR), " +
                "CAST(slot AS VARCHAR))")} % mxi) + 1 AS cand
         |  FROM sl CROSS JOIN mx),
         |ex AS (SELECT cand.u, cand.slot, cand.cand FROM cand
         |       JOIN part ON part.p_partkey = cand.cand),
         |fresh AS (SELECT * FROM ex WHERE NOT EXISTS (
         |            SELECT 1 FROM inter
         |            WHERE inter.u = ex.u AND inter.itm = ex.cand)),
         |d1 AS (SELECT *, row_number() OVER (PARTITION BY u, cand
         |         ORDER BY slot) AS fi FROM fresh),
         |d2 AS (SELECT *, row_number() OVER (PARTITION BY u
         |         ORDER BY slot) AS rnk FROM d1 WHERE fi = 1)
         |SELECT u AS o_custkey, CAST(rnk AS BIGINT) AS "rank",
         |  cand AS neg_l_partkey
         |FROM d2 WHERE rnk <= 3 ORDER BY o_custkey, "rank"""".stripMargin

    /** Twin of q254_kn_next_word: the q236 twin's count CTEs and the
      * SAME ×2^20 KN rational, restricted to the top-20 contexts and
      * ranked per context by (q, w2).
      */
    def knNextWordSql: String = {
      val shift = graft.ops.TextStats.LmShift
      val m8 = graft.ops.TextStats.mitchellE8Sql("q", divOp = "//")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
         |          unnest(${shinglesE("w", 2)}) AS bg
         |        FROM wd WHERE len(w) >= 2),
         |c2 AS (SELECT w1, bg, CAST(count(*) AS BIGINT) AS c2
         |       FROM bgl GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |         CAST(count(*) AS BIGINT) AS n1w1 FROM c2 GROUP BY w1),
         |nc AS (SELECT split_part(bg, ' ', 2) AS w2,
         |         CAST(count(*) AS BIGINT) AS ncw2 FROM c2 GROUP BY 1),
         |ntt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c2),
         |top AS (SELECT w1, c1, n1w1 FROM c1
         |        ORDER BY c1 DESC, w1 LIMIT 20),
         |sc AS (SELECT c2.w1, split_part(c2.bg, ' ', 2) AS w2,
         |         CAST(least(greatest(
         |           (CAST(4 AS HUGEINT) * top.c1 * ntt.nt * ${1L << shift})
         |             // (CAST(greatest(4 * c2.c2 - 3, 0) AS HUGEINT)
         |                  * ntt.nt
         |                + CAST(3 AS HUGEINT) * top.n1w1 * nc.ncw2),
         |           CAST(${1L << shift} AS BIGINT)),
         |           CAST(${1L << 62} AS BIGINT)) AS BIGINT) AS q
         |       FROM c2 JOIN top ON top.w1 = c2.w1
         |       JOIN nc ON nc.w2 = split_part(c2.bg, ' ', 2)
         |       CROSS JOIN ntt),
         |r AS (SELECT *, row_number() OVER (PARTITION BY w1
         |        ORDER BY q, w2) AS rnk FROM sc)
         |SELECT w1 AS context, CAST(rnk AS BIGINT) AS "rank",
         |  w2 AS next_word,
         |  CAST((($m8 - ${8 * shift}) * 10) // 8 AS BIGINT) AS kn_bits_x10
         |FROM r WHERE rnk <= 3 ORDER BY context, "rank"""".stripMargin
    }

    /** Twin of q255_source_tfidf_cosine: same (group, word) counts,
      * same eighth-bit idf, same HUGEINT dot/norms, same one-float
      * cosine rounding.
      */
    def sourceTfidfCosineSql: String = {
      def L(e: String) = graft.ops.TextStats.log2E8Sql(e, "//")
      s"""WITH tk AS (SELECT source AS g, unnest(${tokensE("text")}) AS w
         |      FROM documents),
         |tf AS (SELECT g, w, CAST(count(*) AS BIGINT) AS tf FROM tk
         |       GROUP BY 1, 2),
         |dfw AS (SELECT w, CAST(count(*) AS BIGINT) AS dfw FROM tf
         |        GROUP BY 1),
         |ngt AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS ng FROM tf),
         |wg AS (SELECT g, w,
         |         CAST(tf * (${L("ng + 1")} - ${L("dfw")}) AS BIGINT) AS wt
         |       FROM tf JOIN dfw USING (w) CROSS JOIN ngt),
         |nrm AS (SELECT g, sum(CAST(wt AS HUGEINT) * wt) AS n2 FROM wg
         |        GROUP BY 1),
         |d AS (SELECT a.g AS ga, b.g AS gb,
         |        CAST(count(*) AS BIGINT) AS n_common,
         |        sum(CAST(a.wt AS HUGEINT) * b.wt) AS dot
         |      FROM wg a JOIN wg b ON a.w = b.w AND a.g < b.g
         |      GROUP BY 1, 2)
         |SELECT ga AS group_a, gb AS group_b, n_common,
         |  CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN CAST(0 AS BIGINT)
         |  ELSE CAST(round(CAST(dot AS DOUBLE) * 1000000 /
         |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))))
         |    AS BIGINT) END AS cos_x1e6
         |FROM d JOIN nrm na ON na.g = d.ga JOIN nrm nb ON nb.g = d.gb
         |ORDER BY group_a, group_b""".stripMargin
    }

    /** Twin of q256_nb_auc: the full NB scoring twin (q212's wrap)
      * under the q241 midrank-AUC arithmetic, grouped by true
      * language with the same margin binning.
      */
    def nbAucSql: String =
      s"""WITH scored AS ($nbClassifierSql),
         |cb AS (SELECT lang AS g, least(margin_e8 // 2, 10) AS s,
         |        CASE WHEN lang = pred THEN 1 ELSE 0 END AS ok
         |      FROM scored),
         |c AS (SELECT g, s, CAST(sum(ok) AS BIGINT) AS n_pos_s,
         |        CAST(count(*) AS BIGINT) AS n_at
         |      FROM cb GROUP BY 1, 2),
         |w AS (SELECT *, coalesce(sum(n_at) OVER (PARTITION BY g ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |        0) AS below FROM c),
         |a AS (SELECT g, CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
         |        CAST(sum(n_at - n_pos_s) AS BIGINT) AS n_neg,
         |        sum(CAST(n_pos_s AS HUGEINT) * (2 * below + n_at + 1)) AS s2
         |      FROM w GROUP BY g)
         |SELECT g AS lang, n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT)
         |  ELSE CAST((1000000 * (s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
         |    // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END AS auc_x1e6
         |FROM a ORDER BY lang""".stripMargin

    /** Twin of q257_growth_accounting: same (user, week) distinct
      * reduction, same first-week assignment, same adjacent-week
      * full-outer flags and the same week ∪ week+7 grid.
      */
    def growthAccountingSql: String =
      s"""WITH uw AS (SELECT DISTINCT user_id AS u,
         |        date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
         |      FROM events),
         |fw AS (SELECT u, min(w) AS fw FROM uw GROUP BY u),
         |wk AS (SELECT DISTINCT w FROM uw),
         |grid AS (SELECT w FROM wk
         |         UNION SELECT w + INTERVAL 7 DAY FROM wk),
         |cur AS (SELECT uw.u, uw.w, fw.fw FROM uw JOIN fw USING (u)),
         |prv AS (SELECT u, w + INTERVAL 7 DAY AS w, 1 AS p FROM uw),
         |fl AS (SELECT coalesce(cur.w, prv.w) AS w,
         |         CASE WHEN cur.fw IS NOT NULL AND cur.fw = cur.w
         |           THEN 1 ELSE 0 END AS is_new,
         |         CASE WHEN cur.fw IS NOT NULL AND prv.p IS NOT NULL
         |           AND cur.fw <> cur.w THEN 1 ELSE 0 END AS is_ret,
         |         CASE WHEN cur.fw IS NOT NULL AND prv.p IS NULL
         |           AND cur.fw <> cur.w THEN 1 ELSE 0 END AS is_res,
         |         CASE WHEN cur.fw IS NULL AND prv.p IS NOT NULL
         |           THEN 1 ELSE 0 END AS is_churn,
         |         CASE WHEN cur.fw IS NOT NULL THEN 1 ELSE 0 END AS is_act
         |       FROM cur FULL OUTER JOIN prv
         |         ON prv.u = cur.u AND prv.w = cur.w),
         |ag AS (SELECT w, CAST(sum(is_act) AS BIGINT) AS active,
         |         CAST(sum(is_new) AS BIGINT) AS new_users,
         |         CAST(sum(is_ret) AS BIGINT) AS retained,
         |         CAST(sum(is_res) AS BIGINT) AS resurrected,
         |         CAST(sum(is_churn) AS BIGINT) AS churned
         |       FROM fl GROUP BY w)
         |SELECT grid.w AS week, coalesce(active, 0) AS active,
         |  coalesce(new_users, 0) AS new_users,
         |  coalesce(retained, 0) AS retained,
         |  coalesce(resurrected, 0) AS resurrected,
         |  coalesce(churned, 0) AS churned
         |FROM grid LEFT JOIN ag ON ag.w = grid.w
         |ORDER BY week""".stripMargin

    /** Twin of q258_partition_agreement: same contingency reduction,
      * same exact HUGEINT C(·,2) sums, the ARI float step shared
      * VERBATIM (modulo `//` and HUGEINT for DECIMAL(38,0)).
      */
    def partitionAgreementSql: String =
      s"""WITH cont AS (SELECT source AS a, lang AS b,
         |        CAST(count(*) AS BIGINT) AS nij
         |      FROM documents GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
         |        sum(CAST(nij AS HUGEINT) * (nij - 1) // 2) AS sij
         |      FROM cont),
         |ma AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ai,
         |        CAST(max(nij) AS BIGINT) AS tij FROM cont GROUP BY a),
         |fa AS (SELECT CAST(count(*) AS BIGINT) AS k_a,
         |        sum(CAST(ai AS HUGEINT) * (ai - 1) // 2) AS sa,
         |        CAST(sum(tij) AS BIGINT) AS pure_a FROM ma),
         |mb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS bj,
         |        CAST(max(nij) AS BIGINT) AS tjb FROM cont GROUP BY b),
         |fb AS (SELECT CAST(count(*) AS BIGINT) AS k_b,
         |        sum(CAST(bj AS HUGEINT) * (bj - 1) // 2) AS sb,
         |        CAST(sum(tjb) AS BIGINT) AS pure_b FROM mb),
         |j AS (SELECT *, CAST(n AS HUGEINT) * (n - 1) // 2 AS cn
         |      FROM tot CROSS JOIN fa CROSS JOIN fb)
         |SELECT n AS n_rows, k_a, k_b,
         |  CAST((1000000 * CAST(pure_a AS HUGEINT)) // n AS BIGINT)
         |    AS purity_a_ppm,
         |  CAST((1000000 * CAST(pure_b AS HUGEINT)) // n AS BIGINT)
         |    AS purity_b_ppm,
         |  CAST(CASE WHEN n < 2 THEN 1000000
         |    WHEN (sa + sb) * cn = 2 * sa * sb THEN 1000000
         |    ELSE round(1000000 * (CAST(sij AS DOUBLE) -
         |    CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(cn AS DOUBLE)) /
         |    (((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2) -
         |    CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(cn AS DOUBLE)))
         |    END AS BIGINT) AS ari_x1e6
         |FROM j""".stripMargin

    /** Twin of q259_woe_iv: UNION ALL unpivot standing in for
      * `stack`, then the IDENTICAL smoothed larger-over-smaller
      * Mitchell ratio, sign CASE, ppm deltas, and sign-symmetric IV
      * division (modulo `//` and HUGEINT for DECIMAL(38,0)).
      */
    def woeIvSql: String = {
      def m8(q: String) = graft.ops.TextStats.mitchellE8Sql(q, "//")
      val sh = 1L << graft.ops.TextStats.LmShift
      s"""WITH long AS (
         |  SELECT 'l_linestatus' AS feature,
         |    CAST(l_linestatus AS VARCHAR) AS value,
         |    (l_returnflag = 'R') AS y FROM lineitem
         |  UNION ALL SELECT 'qty_band',
         |    CAST(CAST(l_quantity AS BIGINT) // 10 AS VARCHAR),
         |    (l_returnflag = 'R') FROM lineitem
         |  UNION ALL SELECT 'ship_month',
         |    CAST(month(l_shipdate) AS VARCHAR),
         |    (l_returnflag = 'R') FROM lineitem),
         |c AS (SELECT feature, value,
         |        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |        CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
         |      FROM long GROUP BY 1, 2),
         |t AS (SELECT feature, CAST(sum(n_pos) AS BIGINT) AS p_tot,
         |        CAST(sum(n_neg) AS BIGINT) AS n_tot FROM c GROUP BY 1),
         |s AS (SELECT c.feature, c.value, n_pos, n_neg, p_tot, n_tot,
         |        CAST(n_pos + 1 AS HUGEINT) * (n_tot + 1) AS qpos,
         |        CAST(n_neg + 1 AS HUGEINT) * (p_tot + 1) AS qneg
         |      FROM c JOIN t USING (feature)),
         |w AS (SELECT feature, value, n_pos, n_neg,
         |        CAST(CASE WHEN qpos >= qneg
         |          THEN ${m8(s"((qpos * $sh) // qneg)")} - 160
         |          ELSE -(${m8(s"((qneg * $sh) // qpos)")} - 160)
         |          END AS BIGINT) AS woe_e8,
         |        CAST((1000000 * n_pos) // greatest(p_tot, 1) -
         |          (1000000 * n_neg) // greatest(n_tot, 1) AS BIGINT)
         |          AS dp_ppm
         |      FROM s),
         |iv AS (SELECT feature, sum(dp_ppm * woe_e8) AS s_iv
         |       FROM w GROUP BY 1),
         |iv2 AS (SELECT feature, CAST(CASE WHEN s_iv >= 0
         |          THEN s_iv // 8000 ELSE -((-s_iv) // 8000)
         |          END AS BIGINT) AS iv_x1000 FROM iv)
         |SELECT w.feature, w.value, n_pos, n_neg, woe_e8, dp_ppm,
         |  iv_x1000
         |FROM w JOIN iv2 USING (feature)
         |ORDER BY feature, value""".stripMargin
    }

    /** Twin of q260_target_encode: same shifted cents, same truncated
      * global mean, same leave-one-out smoothed division (all
      * operands non-negative by the shift).
      */
    def targetEncodeLooSql: String =
      s"""WITH base AS (SELECT c_custkey AS id, c_mktsegment AS cat,
         |        CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS y
         |      FROM customer),
         |pc AS (SELECT cat, CAST(sum(y) AS BIGINT) AS s_c,
         |        CAST(count(*) AS BIGINT) AS n_c FROM base GROUP BY cat),
         |g AS (SELECT CAST(CAST(sum(y) AS HUGEINT) // count(*) AS BIGINT)
         |        AS mu FROM base)
         |SELECT id AS c_custkey, cat AS c_mktsegment, y AS bal_cents,
         |  CAST((CAST(s_c AS HUGEINT) - y + 20 * mu) // (n_c - 1 + 20)
         |    AS BIGINT) AS enc
         |FROM base JOIN pc USING (cat) CROSS JOIN g
         |ORDER BY c_custkey""".stripMargin

    /** Twin of q261_bootstrap_ci: same hash61 replica draws through
      * the md5 mirror, the Poisson CDF CASE shared VERBATIM, same
      * exact replica means and order-statistic ranks.
      */
    def bootstrapCiSql: String = {
      val u = duckHash61("'boot:' || CAST(r AS VARCHAR) || ':' || id")
      val wCase = graft.ops.Eval.poissonCdfCaseSql("u")
      s"""WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
         |        CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |      FROM orders),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |        CAST((1000 * CAST(sum(v) AS HUGEINT)) // count(*)
         |          AS BIGINT) AS mean_x1000 FROM base),
         |reps AS (SELECT r, $u % 1000000 AS u, v
         |      FROM base CROSS JOIN
         |        (SELECT unnest(generate_series(0, 39)) AS r)),
         |w8 AS (SELECT r, $wCase AS w, v FROM reps),
         |ag AS (SELECT r, CAST(sum(w * v) AS BIGINT) AS swx,
         |        CAST(sum(w) AS BIGINT) AS sw FROM w8 GROUP BY r),
         |ms AS (SELECT r, CAST((1000 * CAST(swx AS HUGEINT))
         |        // greatest(sw, 1) AS BIGINT) AS m FROM ag),
         |rk AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rk
         |       FROM ms)
         |SELECT n_rows, CAST(40 AS BIGINT) AS n_replicas, mean_x1000,
         |  (SELECT m FROM rk WHERE rk = 3) AS lo_x1000,
         |  (SELECT m FROM rk WHERE rk = 38) AS hi_x1000
         |FROM pt""".stripMargin
    }

    /** Twin of q253_sequence_surprisal: same lead pairs, same
      * (a, b)/total counts, same eighth-bit L(tot) − L(cnt) surprisal
      * and the same integer mean.
      */
    def sequenceSurprisalSql: String = {
      def L(e: String) = graft.ops.TextStats.log2E8Sql(e, "//")
      s"""WITH e AS (SELECT user_id AS u, event_type AS a,
         |        CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
         |pr AS (SELECT u, a, lead(a) OVER (PARTITION BY u
         |         ORDER BY ts, event_id) AS b FROM e),
         |p2 AS (SELECT u, a, b FROM pr WHERE b IS NOT NULL),
         |c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt
         |      FROM p2 GROUP BY 1, 2),
         |t AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS tot FROM c
         |      GROUP BY 1),
         |sc AS (SELECT c.a, c.b,
         |         CAST(${L("tot")} - ${L("cnt")} AS BIGINT) AS surp_e8
         |       FROM c JOIN t USING (a))
         |SELECT u AS user_id, CAST(count(*) AS BIGINT) AS n_trans,
         |  CAST(sum(surp_e8) // count(*) AS BIGINT) AS surprisal_e8
         |FROM p2 JOIN sc USING (a, b)
         |GROUP BY u ORDER BY user_id""".stripMargin
    }

    /** Twin of q241_roc_auc: the same (group, score) count table,
      * the same strictly-below cumulative and the same integer
      * midrank identity 2·Σranks⁺ = Σ n⁺(s)·(2·below + at + 1).
      */
    def rocAucSql: String =
      s"""WITH c AS (SELECT l_linestatus AS g, CAST(l_quantity AS BIGINT) AS s,
         |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_pos_s,
         |        CAST(count(*) AS BIGINT) AS n_at
         |      FROM lineitem GROUP BY 1, 2),
         |w AS (SELECT *, coalesce(sum(n_at) OVER (PARTITION BY g ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |        0) AS below FROM c),
         |a AS (SELECT g, CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
         |        CAST(sum(n_at - n_pos_s) AS BIGINT) AS n_neg,
         |        sum(CAST(n_pos_s AS HUGEINT) * (2 * below + n_at + 1)) AS s2
         |      FROM w GROUP BY g)
         |SELECT g AS l_linestatus, n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT)
         |  ELSE CAST((1000000 * (s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
         |    // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END AS auc_x1e6
         |FROM a ORDER BY l_linestatus""".stripMargin

    /** Twin of q242_ols_trend: the q223 zero-filled day grid, the
      * same per-type day-centering and the same exact-decimal 5-sum
      * fold; r² repeats the one-float expression verbatim.
      */
    def olsTrendSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS y
         |      FROM b GROUP BY et, d),
         |days AS (SELECT DISTINCT d FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, coalesce(c.y, 0) AS y
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |x AS (SELECT et,
         |        CAST(date_diff('day', min(d) OVER (PARTITION BY et), d)
         |          AS BIGINT) AS x, y FROM g),
         |a AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
         |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |        sum(CAST(x AS HUGEINT) * x) AS sxx,
         |        sum(CAST(x AS HUGEINT) * y) AS sxy,
         |        sum(CAST(y AS HUGEINT) * y) AS syy
         |      FROM x GROUP BY et),
         |sl AS (SELECT *, CAST((1000000 * (n * sxy - sx * sy))
         |         // greatest(n * sxx - sx * sx, 1) AS BIGINT) AS slope_micro
         |       FROM a)
         |SELECT et AS event_type, n AS n_days, slope_micro,
         |  CAST((1000000 * sy - CAST(slope_micro AS HUGEINT) * sx) // n
         |    AS BIGINT) AS intercept_micro,
         |  CASE WHEN n * syy - sy * sy = 0 OR n * sxx - sx * sx = 0
         |    THEN CAST(-1 AS BIGINT)
         |  ELSE CAST(round((CAST(n * sxy - sx * sy AS DOUBLE) *
         |    CAST(n * sxy - sx * sy AS DOUBLE) * 1000000) /
         |    (CAST(n * sxx - sx * sx AS DOUBLE) *
         |    CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) END AS r2_x1e6
         |FROM sl ORDER BY event_type""".stripMargin

    /** Twin of q243_pareto_front: the textbook NOT-EXISTS dominance
      * definition — deliberately independent of the Spark side's
      * grid-prune + sort-based construction.
      */
    def paretoFrontSql: String =
      s"""WITH p AS (SELECT p_partkey,
         |        CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         |        CAST(p_size AS BIGINT) AS size_v FROM part)
         |SELECT p_partkey, price_cents, size_v FROM p r
         |WHERE NOT EXISTS (SELECT 1 FROM p q
         |  WHERE q.price_cents <= r.price_cents AND q.size_v >= r.size_v
         |    AND (q.price_cents < r.price_cents OR q.size_v > r.size_v))
         |ORDER BY price_cents, p_partkey""".stripMargin

    /** Twin of q244_ab_test: same per-user variant reduction, same
      * per-type distinct conversion counts, and the z expression
      * repeated verbatim (one float step over exact counts).
      */
    def abTestSql: String =
      s"""WITH uv AS (SELECT DISTINCT user_id AS u, user_id % 2 AS v
         |      FROM events),
         |e AS (SELECT
         |        CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |        CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |      FROM uv),
         |c AS (SELECT t,
         |        CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
         |        CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
         |      FROM (SELECT DISTINCT user_id AS u, event_type AS t,
         |              user_id % 2 AS v FROM events)
         |      GROUP BY t)
         |SELECT t AS event_type, n_a, n_b, conv_a, conv_b,
         |  CAST((1000000 * conv_a) // greatest(n_a, 1) AS BIGINT) AS rate_a_ppm,
         |  CAST((1000000 * conv_b) // greatest(n_b, 1) AS BIGINT) AS rate_b_ppm,
         |  CAST((1000000 * (CAST(conv_b AS HUGEINT) * n_a -
         |    CAST(conv_a AS HUGEINT) * n_b))
         |    // greatest(CAST(conv_a AS HUGEINT) * n_b, 1) AS BIGINT) AS lift_ppm,
         |  CAST(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
         |    THEN 0
         |    ELSE round(1000 * ((CAST(conv_b AS DOUBLE) / n_b) -
         |      (CAST(conv_a AS DOUBLE) / n_a)) /
         |      sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |      (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
         |      (1.0 / n_a + 1.0 / n_b))) END AS BIGINT) AS z_x1000
         |FROM c CROSS JOIN e ORDER BY event_type""".stripMargin

    /** Twin of q245_script_mix: same subtractive counting with the
      * same pinned classes (RE2 needs the explicit 'g' flag).
      */
    def scriptMixSql: String =
      s"""WITH d AS (SELECT source, CAST(len(text) AS BIGINT) AS nc,
         |  CAST(len(text) - len(regexp_replace(text, '[A-Za-z]+', '', 'g'))
         |    AS BIGINT) AS nl,
         |  CAST(len(text) - len(regexp_replace(text, '[0-9]+', '', 'g'))
         |    AS BIGINT) AS ndg,
         |  CAST(len(text) - len(regexp_replace(text, '$WS+', '', 'g'))
         |    AS BIGINT) AS nsp,
         |  CAST(len(text) - len(regexp_replace(text, '$PUNCT+', '', 'g'))
         |    AS BIGINT) AS npt
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nl) AS BIGINT) AS n_letter,
         |  CAST(sum(ndg) AS BIGINT) AS n_digit,
         |  CAST(sum(nsp) AS BIGINT) AS n_space,
         |  CAST(sum(npt) AS BIGINT) AS n_punct,
         |  CAST(sum(nc - nl - ndg - nsp - npt) AS BIGINT) AS n_other,
         |  CAST((1000000 * CAST(sum(nl) AS HUGEINT))
         |    // greatest(sum(nc), 1) AS BIGINT) AS letter_ppm,
         |  CAST((1000000 * CAST(sum(nc - nl - ndg - nsp - npt) AS HUGEINT))
         |    // greatest(sum(nc), 1) AS BIGINT) AS other_ppm,
         |  CAST(sum(CASE WHEN nc - nl - ndg - nsp - npt > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with_other
         |FROM d GROUP BY source ORDER BY source""".stripMargin

    /** Twin of q246_readability: same token/sentence/vowel-group
      * proxies, same integer milli-unit formulas, same integer mean.
      */
    def readabilitySql: String =
      s"""WITH sc AS (SELECT lang AS g,
         |        CAST(len(${tokensE("text")}) AS BIGINT) AS w,
         |        greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
         |          AS BIGINT), 1) AS s,
         |        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |          AS BIGINT) AS y
         |      FROM documents),
         |a AS (SELECT g,
         |        CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_docs,
         |        CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_empty,
         |        sum(CASE WHEN w > 0 THEN
         |          206835 - (1015 * w) // s - (84600 * y) // w END) AS sf,
         |        sum(CASE WHEN w > 0 THEN
         |          (390 * w) // s + (11800 * y) // w - 15590 END) AS sk
         |      FROM sc GROUP BY g)
         |SELECT g AS lang, n_docs, n_empty,
         |  CAST(CASE WHEN n_docs = 0 THEN 0 ELSE sf // n_docs END AS BIGINT)
         |    AS avg_fre_x1000,
         |  CAST(CASE WHEN n_docs = 0 THEN 0 ELSE sk // n_docs END AS BIGINT)
         |    AS avg_fk_grade_x1000
         |FROM a ORDER BY lang""".stripMargin

    /** Twin of q247_phrase_search: same bigram postings (shingle
      * twin with the ≥2-token gate), same df top-5 with the phrase
      * tiebreak, same per-phrase doc cap by lowest id.
      */
    def phraseSearchSql: String =
      s"""WITH t AS (SELECT doc_id AS id, ${tokensE("text")} AS w
         |      FROM documents),
         |bg AS (SELECT id, unnest(${shinglesE("w", 2)}) AS phrase
         |       FROM t WHERE len(w) >= 2),
         |posts AS (SELECT phrase, id, CAST(count(*) AS BIGINT) AS n_hits
         |          FROM bg GROUP BY 1, 2),
         |top AS (SELECT phrase, CAST(count(*) AS BIGINT) AS df,
         |          CAST(row_number() OVER (ORDER BY count(*) DESC, phrase)
         |            AS BIGINT) AS "rank"
         |        FROM posts GROUP BY phrase
         |        ORDER BY df DESC, phrase LIMIT 5),
         |m AS (SELECT top."rank", top.phrase, top.df, posts.id, posts.n_hits,
         |        row_number() OVER (PARTITION BY top.phrase
         |          ORDER BY posts.id) AS rn
         |      FROM posts JOIN top USING (phrase))
         |SELECT "rank", phrase, df, id AS doc_id, n_hits FROM m
         |WHERE rn <= 20 ORDER BY "rank", doc_id""".stripMargin

    def theilSenSql: String =
      s"""WITH b AS (SELECT event_type AS et,
         |        date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
         |c AS (SELECT et, d, CAST(count(*) AS BIGINT) AS x
         |      FROM b GROUP BY et, d),
         |days AS (SELECT DISTINCT d FROM c),
         |ets AS (SELECT DISTINCT et FROM c),
         |g AS (SELECT ets.et, days.d, coalesce(c.x, 0) AS x
         |      FROM ets CROSS JOIN days
         |      LEFT JOIN c ON c.et = ets.et AND c.d = days.d),
         |p AS (SELECT a.et, a.d AS di, bb.d AS dj,
         |        CAST((1000000 * (bb.x - a.x))
         |          // date_diff('day', a.d, bb.d) AS BIGINT) AS slope_micro
         |      FROM g a JOIN g bb ON bb.et = a.et AND a.d < bb.d),
         |nd AS (SELECT et, CAST(count(*) AS BIGINT) AS n_days
         |       FROM g GROUP BY et),
         |r AS (SELECT *, row_number() OVER (PARTITION BY et
         |        ORDER BY slope_micro, di, dj) AS rn FROM p)
         |SELECT r.et AS event_type, nd.n_days,
         |  CAST(nd.n_days * (nd.n_days - 1) // 2 AS BIGINT) AS n_pairs,
         |  r.slope_micro AS sen_slope_micro
         |FROM r JOIN nd USING (et)
         |WHERE r.rn = (nd.n_days * (nd.n_days - 1) // 2 + 1) // 2
         |ORDER BY event_type""".stripMargin

    /** Twin of q222_kcore_profile: the q161 bigram edge set, then
      * exactly `rounds` peel stages unrolled as CTE triples (degrees
      * → alive nodes → surviving edges) — the q152 fixed-stage
      * discipline; each profile row reads one count per stage.
      */
    def kcorePeelSql(k: Int = 4, rounds: Int = 6): String = {
      // every stage is MATERIALIZED: DuckDB inlines plain CTEs, and
      // each stage references its predecessor 3-4 times — inlined,
      // the expansion is exponential in `rounds` (the sf0.01 run
      // exhausted file handles re-opening the parquet ~4^6 times)
      val stages = (1 to rounds).map { r =>
        s"""dg$r AS MATERIALIZED (
           |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
           |         SELECT a AS node FROM e${r - 1}
           |         UNION ALL SELECT b AS node FROM e${r - 1}) GROUP BY 1),
           |al$r AS MATERIALIZED (SELECT node FROM dg$r WHERE degree >= $k),
           |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
           |        JOIN al$r x ON x.node = e.a
           |        JOIN al$r y ON y.node = e.b)""".stripMargin
      }.mkString(",\n")
      val rows = (s"""SELECT CAST(0 AS BIGINT) AS round,
         |  CAST((SELECT count(*) FROM dg1) AS BIGINT) AS n_nodes,
         |  CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges""".stripMargin
        +: (1 to rounds).map { r =>
          s"""SELECT CAST($r AS BIGINT), CAST((SELECT count(*) FROM al$r)
             |  AS BIGINT), CAST((SELECT count(*) FROM e$r) AS BIGINT)""".stripMargin
        }).mkString("\n UNION ALL ")
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |bgl AS (SELECT unnest(${shinglesE("w", 2)}) AS bg FROM wd
         |        WHERE len(w) >= 2),
         |bgp AS (SELECT split_part(bg, ' ', 1) AS w1,
         |          split_part(bg, ' ', 2) AS w2 FROM bgl),
         |e0 AS MATERIALIZED (
         |       SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
         |       FROM bgp WHERE w1 <> w2),
         |$stages
         |$rows
         |ORDER BY round""".stripMargin
    }

    /** Twin of q221_bitext_margin: identical cosine formula (the q28
      * DOUBLE[] cast + dot/(sqrt·sqrt) shape, same operand order),
      * rounded to micros at the pair level; the k-NN averages and
      * the 2c/(avgA+avgB) margin are pure BIGINT math so partition-
      * order float reassociation cannot exist on either side.
      */
    def bitextMarginSql: String = {
      def cosE(x: String, y: String) =
        s"""CAST(round(1000000 * (list_dot_product($x, $y)
           |  / (sqrt(list_dot_product($x, $x))
           |     * sqrt(list_dot_product($y, $y))))) AS BIGINT)""".stripMargin
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |a AS (SELECT * FROM e WHERE id % 2 = 0),
         |b AS (SELECT * FROM e WHERE id % 2 = 1),
         |q AS (SELECT id AS qid, v AS qv FROM a WHERE id < 80),
         |qb AS (SELECT q.qid, b.id AS bid, ${cosE("b.v", "q.qv")} AS c
         |       FROM b CROSS JOIN q),
         |qr AS (SELECT *, row_number() OVER (PARTITION BY qid
         |         ORDER BY c DESC, bid) AS r FROM qb),
         |qa AS (SELECT qid, CAST(sum(c) FILTER (WHERE r <= 4)
         |         // count(*) FILTER (WHERE r <= 4) AS BIGINT) AS q_knn
         |       FROM qr GROUP BY qid),
         |best AS (SELECT qid, bid, c FROM qr WHERE r = 1),
         |cv AS (SELECT b.id AS cid, b.v AS cvv FROM b
         |       JOIN (SELECT DISTINCT bid FROM best) cand
         |         ON cand.bid = b.id),
         |ba AS (SELECT cv.cid, a.id AS aid, ${cosE("a.v", "cv.cvv")} AS c
         |       FROM a CROSS JOIN cv),
         |br AS (SELECT *, row_number() OVER (PARTITION BY cid
         |         ORDER BY c DESC, aid) AS r FROM ba),
         |ca AS (SELECT cid, CAST(sum(c) FILTER (WHERE r <= 4)
         |         // count(*) FILTER (WHERE r <= 4) AS BIGINT) AS m_knn
         |       FROM br GROUP BY cid)
         |SELECT best.qid AS query_id, best.bid AS match_id,
         |  best.c AS cos_x1e6, qa.q_knn AS q_knn_x1e6,
         |  ca.m_knn AS m_knn_x1e6,
         |  CAST((2 * best.c * 1000000) // greatest(qa.q_knn + ca.m_knn, 1)
         |    AS BIGINT) AS margin_x1e6,
         |  (CAST((2 * best.c * 1000000)
         |     // greatest(qa.q_knn + ca.m_knn, 1) AS BIGINT)
         |   > 1060000) AS accepted
         |FROM best JOIN qa USING (qid) JOIN ca ON ca.cid = best.bid
         |ORDER BY query_id""".stripMargin
    }

    /** Twin of q195_percolate: the same literal standing queries, the
      * same per-doc-distinct token join and min-match filter.
      */
    def percolateSql: String =
      s"""WITH q(query_id, terms, min_match) AS (VALUES
         |  (1, ['table', 'row', 'scan'], 2),
         |  (2, ['fast', 'slow'], 1),
         |  (3, ['query', 'window', 'sort'], 2),
         |  (4, ['zebra', 'xylophone'], 1)),
         |po AS (SELECT CAST(query_id AS BIGINT) AS query_id,
         |         CAST(min_match AS BIGINT) AS min_match,
         |         CAST(len(list_distinct(terms)) AS BIGINT) AS n_terms,
         |         unnest(list_distinct(terms)) AS t
         |       FROM q),
         |tk AS (SELECT doc_id, unnest(list_distinct(${tokensE("text")})) AS t
         |       FROM documents),
         |m AS (SELECT tk.doc_id, po.query_id,
         |        CAST(count(*) AS BIGINT) AS n_matched,
         |        CAST(max(po.min_match) AS BIGINT) AS min_match,
         |        CAST(max(po.n_terms) AS BIGINT) AS n_terms
         |      FROM tk JOIN po USING (t)
         |      GROUP BY tk.doc_id, po.query_id)
         |SELECT doc_id, query_id, n_matched, min_match, n_terms
         |FROM m WHERE n_matched >= min_match
         |ORDER BY doc_id, query_id""".stripMargin

    /** Twin of q193_bm25_index: full-vocabulary document frequencies
      * + corpus stats from the same token emitters.
      */
    def bm25IndexSql: String =
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |dlt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM wd),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(greatest(SUM(dl) // count(*), 1) AS BIGINT) AS avdl
         |       FROM dlt),
         |tok AS (SELECT doc_id, unnest(w) AS t FROM wd),
         |po AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY t, doc_id),
         |dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM po GROUP BY t)
         |SELECT dfq.t, dfq.df, st.n_docs, st.avdl
         |FROM dfq CROSS JOIN st
         |ORDER BY t""".stripMargin

    def bm25Sql: String =
      bm25Ctes + s"""
        |SELECT a.doc_id, d.lang, a.n_tokens, a.n_terms_hit, a.bm25_x
        |FROM agg a JOIN documents d ON a.doc_id = d.doc_id
        |ORDER BY a.bm25_x DESC, a.doc_id LIMIT 100""".stripMargin

    /** Twin of q293_ql_retrieval: the q109 token/term CTEs with the
      * Dirichlet gain+prior decomposition through the IDENTICAL
      * generated Mitchell-log CASEs; the μ·2²⁰ prior term is the same
      * Scala-side mitchellE8Long literal the Spark plan embeds.
      */
    def qlRetrievalSql: String = {
      val mu = 2048L
      val m8a = graft.ops.TextStats.mitchellE8Sql("qa", divOp = "//")
      val m8b = graft.ops.TextStats.mitchellE8Sql("qb", divOp = "//")
      val m8d = graft.ops.TextStats.mitchellE8Sql("qd", divOp = "//")
      val e8mu = graft.ops.TextStats.mitchellLong(mu << 20,
        graft.ops.TextStats.E8Bits)
      s"""WITH wd AS (SELECT doc_id, ${tokensE("text")} AS w FROM documents),
         |dlt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM wd),
         |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot FROM dlt),
         |tok AS (SELECT doc_id, unnest(w) AS t FROM wd),
         |qt AS (SELECT t FROM (
         |         SELECT t, count(*) AS c FROM tok WHERE len(t) >= 5
         |         GROUP BY t ORDER BY c DESC, t LIMIT 4)),
         |nqt AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM qt),
         |cfq AS (SELECT tok.t AS t, CAST(count(*) AS BIGINT) AS cf
         |        FROM tok JOIN qt ON tok.t = qt.t GROUP BY tok.t),
         |tf AS (SELECT doc_id, tok.t AS t, CAST(count(*) AS BIGINT) AS tf
         |       FROM tok JOIN qt ON tok.t = qt.t GROUP BY doc_id, tok.t),
         |sc AS (SELECT tf.doc_id,
         |         CAST((tf.tf * st.tot + $mu * cfq.cf) * 1024 AS BIGINT) AS qa,
         |         CAST(($mu * cfq.cf) * 1024 AS BIGINT) AS qb
         |       FROM tf JOIN cfq ON tf.t = cfq.t CROSS JOIN st),
         |hit AS (SELECT doc_id, CAST(SUM(($m8a) - ($m8b)) AS BIGINT) AS hx,
         |          CAST(count(*) AS BIGINT) AS n_terms_hit
         |        FROM sc GROUP BY doc_id),
         |pr AS (SELECT dlt.doc_id, dlt.dl,
         |         CAST((dlt.dl + $mu) * ${1L << 20} AS BIGINT) AS qd
         |       FROM dlt)
         |SELECT p.doc_id, p.dl AS n_tokens,
         |  COALESCE(h.n_terms_hit, 0) AS n_terms_hit,
         |  CAST(COALESCE(h.hx, 0) +
         |    nqt.nq * (CAST($e8mu AS BIGINT) - ($m8d)) AS BIGINT) AS ql_e8
         |FROM pr p LEFT JOIN hit h ON p.doc_id = h.doc_id CROSS JOIN nqt
         |ORDER BY ql_e8 DESC, p.doc_id LIMIT 100""".stripMargin
    }

    /** Twin of q186_rank_rbo: the q109 BM25 chain feeds ranking A,
      * the raw tf-sum over the same terms feeds ranking B; depth
      * constants come from the SAME [[graft.ops.TextStats
      * .rboDepthConstants]] values as literals, so the rational
      * p-power arithmetic is numerically identical.
      */
    def rankRboSql: String = {
      val consts = graft.ops.TextStats.rboDepthConstants(20)
        .map { case (d, p9, p10) => s"($d, $p9, $p10)" }.mkString(", ")
      bm25Ctes + s""",
        |ar AS (SELECT doc_id, CAST(row_number() OVER (
        |         ORDER BY bm25_x DESC, doc_id) AS BIGINT) AS ra
        |       FROM agg ORDER BY bm25_x DESC, doc_id LIMIT 20),
        |tsum AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS s
        |         FROM tok JOIN qt ON tok.t = qt.t GROUP BY tok.doc_id),
        |br AS (SELECT doc_id, CAST(row_number() OVER (
        |         ORDER BY s DESC, doc_id) AS BIGINT) AS rb
        |       FROM tsum ORDER BY s DESC, doc_id LIMIT 20),
        |pairs AS (SELECT coalesce(ar.doc_id, br.doc_id) AS id, ar.ra, br.rb
        |          FROM ar FULL JOIN br ON ar.doc_id = br.doc_id),
        |dep(d, p9, p10) AS (VALUES $consts),
        |ov AS (SELECT dep.d, CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM dep CROSS JOIN pairs
        |       WHERE pairs.ra <= dep.d AND pairs.rb <= dep.d
        |       GROUP BY dep.d),
        |rows_ AS (SELECT dep.d, CAST(dep.p9 AS HUGEINT) AS p9,
        |            CAST(dep.p10 AS HUGEINT) AS p10,
        |            CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap
        |          FROM dep LEFT JOIN ov ON ov.d = dep.d),
        |terms_ AS (SELECT d, n_overlap,
        |             CAST((1000000 * n_overlap) // d AS BIGINT)
        |               AS agreement_x1e6,
        |             CAST((CAST(1000000 * n_overlap AS HUGEINT) * p9) //
        |               (p10 * d) AS BIGINT) AS term
        |           FROM rows_)
        |SELECT d, n_overlap, agreement_x1e6,
        |  CAST(CAST(sum(term) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) // 10 AS BIGINT)
        |    AS rbo_x1e6
        |FROM terms_
        |ORDER BY d""".stripMargin
    }

    /** Twin of q110_table_profile: one UNION ALL branch per column
      * with the identical DECIMAL(18,2) pre-cast on the double columns
      * (binary doubles never land on exact decimal midpoints for
      * 2-decimal business values, so the rounding agrees) and VARCHAR
      * renderings of min/max.
      */
    def tableProfileSql: String = {
      def branch(name: String, e: String): String =
        s"""SELECT '$name' AS col_name,
           |  CAST(count($e) AS BIGINT) AS n_non_null,
           |  CAST(count(*) - count($e) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
           |  CAST(min($e) AS VARCHAR) AS min_s,
           |  CAST(max($e) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin
      Seq(
        branch("l_orderkey", "l_orderkey"),
        branch("l_linenumber", "CAST(l_linenumber AS BIGINT)"),
        branch("l_quantity", "CAST(l_quantity AS DECIMAL(18,2))"),
        branch("l_extendedprice", "CAST(l_extendedprice AS DECIMAL(18,2))"),
        branch("l_returnflag", "l_returnflag"),
        branch("l_shipdate", "l_shipdate")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }

    /** Twin of q95_hist_by_lang: single-pass per-lang fixed-bin
      * histogram (sum is associative, so it must equal Spark's merged
      * per-half build), cumulative window PARTITION BY lang over the
      * tiny bin table, smallest bin reaching ceil(pct·N/100) per lang.
      * SUM() OVER is HUGEINT in DuckDB — every final column is CAST to
      * BIGINT.
      */
    def histByLangSql: String =
      s"""WITH v AS (SELECT lang, CAST(len(${tokensE("text")}) AS BIGINT) AS v
         |           FROM documents),
         |h AS (SELECT lang, v // 8 AS bin, count(*) AS cnt FROM v GROUP BY 1, 2),
         |c AS (SELECT lang, bin, cnt,
         |        SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
         |        SUM(cnt) OVER (PARTITION BY lang) AS total FROM h),
         |p AS (SELECT lang, bin, cum, total, unnest([50, 90, 99]) AS pct FROM c),
         |r AS (SELECT lang, pct, (pct * total + 99) // 100 AS target_rank,
         |        min(bin) AS bin
         |      FROM p WHERE cum >= (pct * total + 99) // 100
         |      GROUP BY 1, 2, 3)
         |SELECT lang, CAST(pct AS BIGINT) AS pct,
         |  CAST(target_rank AS BIGINT) AS target_rank,
         |  CAST(bin AS BIGINT) AS bin, CAST(bin * 8 AS BIGINT) AS bin_lo
         |FROM r ORDER BY lang, pct""".stripMargin

    /** Twin of q82_shuffle_shards: hash-sharded, hash-ordered training
      * manifest (ties broken by doc_id).
      */
    def shuffleShardsSql: String = {
      val sh = duckHash61("'shard42:' || CAST(doc_id AS VARCHAR)")
      val ord = duckHash61("'ord42:' || CAST(doc_id AS VARCHAR)")
      s"""WITH x AS (SELECT doc_id, CAST($sh % 16 AS INT) AS shard, $ord AS o
         |           FROM documents)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY o, doc_id) AS pos
         |FROM x ORDER BY doc_id""".stripMargin
    }

    def posexplodeSql: String =
      s"""SELECT doc_id, u['pos'] AS pos, u['token'] AS token FROM (
         |  SELECT doc_id,
         |    unnest(list_transform(w, (x, i) -> {'pos': i - 1, 'token': x})) AS u
         |  FROM (SELECT doc_id, ${tokensE("text")} AS w
         |        FROM documents WHERE doc_id < 100) t)
         |ORDER BY doc_id, pos""".stripMargin

    def arrayFuncsSql: String =
      s"""SELECT doc_id,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS n_unique,
         |  array_to_string(list_sort(list_distinct(w))[1:3], ' ') AS first3_sorted,
         |  list_contains(w, 'the') AS has_the
         |FROM (SELECT doc_id, ${tokensE("text")} AS w FROM documents) t
         |ORDER BY doc_id""".stripMargin

    def hashSampleSql: String =
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE (${duckHash61("CAST(o_orderkey AS VARCHAR)")}) % 20 = 0
         |ORDER BY o_orderkey""".stripMargin

    def bpeTokenCountSql: String =
      s"""SELECT doc_id, CAST(
         |  (length(text) - length(regexp_replace(text, '$PUNCT', '', 'g')))
         |  + len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r!-/:-@\\[-`{-~]+'),
         |      x -> len(x) > 0)) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin
  }
}
