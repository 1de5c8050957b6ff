package graft

/** Whole-stage codegen gate: the catalog queries that compute a
  * Mitchell log must run every stage in generated code. A projection
  * that inlines several SQL CASE-ladder logs outgrows janino's 64 KB
  * method limit and silently drops its stage to interpreted execution
  * (q181 in r15, q32 in r16); Spark plans therefore use the native
  * `MitchellE8` expression. Results are written to the `noop` sink,
  * not counted: a count can prune the projection that holds the log.
  */
class CodegenFallbackSpec extends SparkSpec {

  /** Every catalog query that reaches a Mitchell log in its Spark plan,
    * plus q32 and q181, the two past fallbacks. The NaiveBayes family
    * (q114 … q325) reaches it through `NaiveBayes.score`.
    */
  private val mitchellQueries = Seq(
    "q32_langid", "q106_lm_surprisal", "q109_bm25", "q120_dsir_scores",
    "q124_pmi_collocations", "q138_temperature_mix", "q155_psi_drift",
    "q169_psi_baseline", "q170_zipf_report", "q181_discriminative_words",
    "q185_js_divergence", "q186_rank_rbo", "q190_token_entropy",
    "q194_bm25_probe", "q207_survival_curve", "q219_hill_tail",
    "q236_kn_surprisal", "q251_record_linkage", "q253_sequence_surprisal",
    "q254_kn_next_word", "q255_source_tfidf_cosine", "q259_woe_iv",
    "q263_golden_records", "q268_intrinsic_dim", "q293_ql_retrieval",
    "q306_sprt", "q312_lm_cross_ppl", "q317_surprisal_spans", "q333_theil",
    "q337_vmeasure", "q114_nb_classifier", "q179_classification_report",
    "q180_cohens_kappa", "q184_uncertainty_sample", "q212_calibration_report",
    "q218_fleiss_kappa", "q256_nb_auc", "q286_isotonic_calibration",
    "q290_mcnemar", "q295_krippendorff", "q320_cv_auc", "q325_cochran_q")

  test("codegenFallbacksIn counts a stage over the huge-method limit") {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.hugeMethodLimit", "100")
    val n = codegenFallbacksIn {
      s.range(100).selectExpr("id * 2 AS a", "id % 7 AS b")
        .where("a > b").write.format("noop").mode("overwrite").save()
    }
    assert(n > 0)
    assert(codegenFallbacksIn {
      spark.range(100).selectExpr("id * 2 AS a")
        .write.format("noop").mode("overwrite").save()
    } === 0)
  }

  test("no codegen fallback on the Mitchell-log catalog queries at sf0.001") {
    assert(mitchellQueries.forall(Queries.all.contains))
    val fallbacks = mitchellQueries.map { name =>
      name -> codegenFallbacksIn {
        Queries.all(name)(spark, sf).write.format("noop").mode("overwrite").save()
      }
    }.filter(_._2 > 0)
    assert(fallbacks.isEmpty, s"queries with codegen fallbacks: $fallbacks")
  }
}
