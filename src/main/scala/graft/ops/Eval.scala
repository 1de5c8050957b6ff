package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model/experiment evaluation operators: threshold-free ranking
  * quality (ROC AUC), controlled-experiment significance (two-
  * proportion z-test), and multi-objective frontier extraction
  * (2-D Pareto skyline).
  *
  * Reference behavior target: kpipe's analytics surface stops at
  * per-attempt counters (lib/kpipe-consumer metrics); these are the
  * evaluation primitives a training-data pipeline layers on top —
  * each one reduces the corpus to a bounded table before any window
  * or join, so the shapes survive a 100 TB input.
  */
object Eval {

  /** Exact ROC AUC per group via the Mann–Whitney rank-sum with the
    * standard midrank tie correction (Hanley & McNeil 1982): AUC =
    * (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) with ties taking the average
    * rank. Integer-exact throughout: with per-score counts
    * (below = rows with strictly lower score, at = rows at the
    * score), 2·Σ ranks⁺ = Σ_s n⁺(s)·(2·below(s) + at(s) + 1), so
    *
    *   auc_x1e6 = 10⁶·(S₂ − n⁺·(n⁺+1)) div (2·n⁺·n⁻)
    *
    * with S₂ the sum above — no floats anywhere (DECIMAL(38) guards
    * the corpus-scale products). Groups with a single class report
    * auc_x1e6 = -1 (undefined).
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * (group, score) count table — bounded by the score domain (the
    * caller picks a bounded/discretized score, e.g. a 1..50
    * quantity or a bucketed probability). The cumulative-below
    * window and the final fold run over that bounded table,
    * partitioned by group.
    */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: String,
             posCol: String): DataFrame =
    aucFromCountsDf(
      df.groupBy(col(groupCol).as("g"), col(scoreCol).as("s"))
        .agg(sum(when(col(posCol), 1L).otherwise(0L)).as("n_pos_s"),
          count(lit(1)).as("n_at")),
      groupCol)

  /** The midrank AUC arithmetic over a (g, s, n_pos_s, n_at) count
    * table — shared VERBATIM by [[rocAuc]] and [[rocAucFromCounts]]
    * so the batch and streaming readbacks cannot drift.
    */
  private def aucFromCountsDf(counts: DataFrame,
                              groupCol: String): DataFrame = {
    val w = Window.partitionBy("g").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("below", coalesce(sum("n_at").over(w), lit(0L)))
      .groupBy("g")
      .agg(sum("n_pos_s").as("n_pos"),
        sum(expr("n_at - n_pos_s")).as("n_neg"),
        sum(expr("CAST(n_pos_s AS DECIMAL(38,0)) * (2 * below + n_at + 1)"))
          .as("s2"))
      .select(col("g").as(groupCol),
        col("n_pos"), col("n_neg"),
        expr("CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT) " +
          "ELSE CAST((1000000 * (s2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))) " +
          "div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT) END")
          .as("auc_x1e6"))
  }

  /** Build the [[rocAuc]]-shape report from externally accumulated
    * ((group, score) → n_pos, n_total) counts — the readback half of
    * a STREAMING ranking-quality monitor: the count table is
    * additive across micro-batches (per-row stateless), so a
    * foreachBatch can fold it per trigger and emit the live AUC
    * through the same [[aucFromCountsDf]] arithmetic the batch
    * operator uses. Counts arrive as driver values — bounded by
    * groups × the discretized score domain by construction.
    */
  def rocAucFromCounts(spark: org.apache.spark.sql.SparkSession,
                       counts: Seq[(String, Long, Long, Long)],
                       groupCol: String = "grp"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("s", LongType), StructField("n_pos_s", LongType),
      StructField("n_at", LongType)))
    aucFromCountsDf(spark.createDataFrame(
      spark.sparkContext.parallelize(
        counts.map { case (g, s, p, n) => Row(g, s, p, n) }, 1), schema),
      groupCol)
  }

  /** Two-proportion z-test A/B report: users are split into variants
    * by a caller-supplied deterministic assignment (e.g. id parity —
    * in production a salted hash), conversion is "user emitted ≥1
    * event of the target type", and each event type gets a row:
    * per-variant exposed/converted counts, exact ppm rates, the lift
    * in ppm, and the pooled two-proportion z statistic
    * z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) ×1000 (the single float step,
    * computed with one fixed expression over exact integer counts so
    * both engines round identically).
    *
    * Scale shape: one (user, type) distinct reduction + one user
    * distinct reduction; everything downstream lives on the
    * types-bounded table, with the 2-row variant totals broadcast.
    */
  def abTest(df: DataFrame, userCol: String, typeCol: String,
             variant: org.apache.spark.sql.Column): DataFrame = {
    val users = df.select(col(userCol).as("u"), variant.as("v"))
      .groupBy("u").agg(max("v").as("v"))
    val exposed = users.groupBy("v").agg(count(lit(1)).as("n"))
      .select(
        sum(when(col("v") === 0L, col("n"))).as("n_a"),
        sum(when(col("v") === 1L, col("n"))).as("n_b"))
    val conv = df.select(col(userCol).as("u"), col(typeCol).as("t"), variant.as("v"))
      .distinct()
      .groupBy("t")
      .agg(sum(when(col("v") === 0L, 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("v") === 1L, 1L).otherwise(0L)).as("conv_b"))
    conv.crossJoin(broadcast(exposed))
      .select(col("t").as("event_type"),
        col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        expr("CAST((1000000 * conv_a) div greatest(n_a, 1) AS BIGINT)")
          .as("rate_a_ppm"),
        expr("CAST((1000000 * conv_b) div greatest(n_b, 1) AS BIGINT)")
          .as("rate_b_ppm"),
        expr("CAST((1000000 * (CAST(conv_b AS DECIMAL(38,0)) * n_a - " +
          "CAST(conv_a AS DECIMAL(38,0)) * n_b)) div " +
          "greatest(CAST(conv_a AS DECIMAL(38,0)) * n_b, 1) AS BIGINT)")
          .as("lift_ppm"),
        zX1000Expr.as("z_x1000"))
  }

  /** The one float step of [[abTest]], shared verbatim with the SQL
    * twin modulo dialect: pooled p̂ and both rates as doubles from
    * exact counts, one sqrt, one round.
    */
  private def zX1000Expr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b " +
      "THEN 0 ELSE round(1000 * ((CAST(conv_b AS DOUBLE) / n_b) - " +
      "(CAST(conv_a AS DOUBLE) / n_a)) / " +
      "sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
      "(1.0 / n_a + 1.0 / n_b))) END AS BIGINT)")

  /** Partition-agreement report between two labelings of the same
    * rows — the clustering-evaluation staple (does the unsupervised
    * partition recover the known labels?): Adjusted Rand Index
    * (Hubert & Arabie 1985) plus both directional majority purities.
    *
    * Exact integer pair counts throughout: from the contingency
    * table n_ij, sij = Σ C(n_ij,2), sa = Σ C(a_i,2), sb = Σ C(b_j,2),
    * cn = C(n,2) — all DECIMAL(38,0) (exact for n up to ~10⁹ rows,
    * past which the C(·,2) products leave 38 digits; documented
    * bound). ARI = (sij − sa·sb/cn) / ((sa+sb)/2 − sa·sb/cn) is the
    * ONE float step, computed with a single fixed expression over
    * the exact sums so both engines round identically; the
    * degenerate den = 0 case (both partitions trivial in the same
    * way) reports 10⁶ per the standard convention. Purity is exact:
    * purity_a_ppm = 10⁶·Σ_a max_b n_ij div n.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * (a, b) contingency table — bounded by |A|·|B| label
    * combinations; the row/column marginal folds and the three
    * one-row agreement scalars (broadcast by design) never touch
    * the corpus again.
    */
  def partitionAgreement(df: DataFrame, aCol: String,
                         bCol: String): DataFrame = {
    val cont = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("nij"))
    val comb = (c: String) =>
      s"sum(CAST($c AS DECIMAL(38,0)) * ($c - 1) div 2)"
    val tot = cont.agg(sum("nij").as("n"),
      expr(comb("nij")).as("sij"))
    val sa = cont.groupBy("a")
      .agg(sum("nij").as("ai"), max("nij").as("tij"))
      .agg(count(lit(1)).as("k_a"), expr(comb("ai")).as("sa"),
        sum("tij").as("pure_a"))
    val sb = cont.groupBy("b")
      .agg(sum("nij").as("bj"), max("nij").as("tjb"))
      .agg(count(lit(1)).as("k_b"), expr(comb("bj")).as("sb"),
        sum("tjb").as("pure_b"))
    tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .withColumn("cn",
        expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2"))
      .select(col("n").as("n_rows"), col("k_a"), col("k_b"),
        expr("CAST((1000000 * pure_a) div n AS BIGINT)")
          .as("purity_a_ppm"),
        expr("CAST((1000000 * pure_b) div n AS BIGINT)")
          .as("purity_b_ppm"),
        ariX1e6Expr.as("ari_x1e6"))
  }

  /** The one float step of [[partitionAgreement]], shared verbatim
    * with the SQL twin modulo dialect.
    */
  private def ariX1e6Expr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN n < 2 THEN 1000000 " +
      "WHEN (sa + sb) * cn = 2 * sa * sb THEN 1000000 " +
      "ELSE round(1000000 * (CAST(sij AS DOUBLE) - " +
      "CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(cn AS DOUBLE)) / " +
      "(((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2) - " +
      "CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(cn AS DOUBLE))) " +
      "END AS BIGINT)")

  /** Poisson(1) CDF thresholds in ppm as a CASE over a uniform
    * [0, 10⁶) draw — the deterministic resampling weight of
    * [[bootstrapCiMean]]. Literal thresholds (floor of the exact
    * CDF), capped at 6; shared VERBATIM with the SQL twin so both
    * engines draw identical weights from identical hashes.
    */
  def poissonCdfCaseSql(uE: String): String =
    s"(CASE WHEN $uE < 367879 THEN 0 WHEN $uE < 735758 THEN 1 " +
      s"WHEN $uE < 919698 THEN 2 WHEN $uE < 981011 THEN 3 " +
      s"WHEN $uE < 996340 THEN 4 WHEN $uE < 999405 THEN 5 " +
      s"ELSE 6 END)"

  /** Deterministic Poisson-bootstrap confidence interval for a mean
    * (the scalable bootstrap of Chamandy et al., Google 2012 /
    * Kleiner et al.'s b-of-n family): replica r reweights each row
    * by an independent Poisson(1) draw — here derived from
    * hash61(salt:r:id), so the "randomness" is reproducible and
    * oracle-checkable — and the tail order statistics of the B
    * replica means bound the sampling error of the corpus mean.
    *
    * Integer-exact end to end: `valueCol` must be a NON-NEGATIVE
    * integer (shift upstream if needed — no negative division
    * anywhere), replica means are (1000·Σwx) div Σw in exact
    * DECIMAL(38,0), and the CI bounds are exact order statistics
    * (rank (B·pct) div 100 + 1 from each end, ties broken by replica
    * id) — no percentile interpolation, no floats.
    *
    * Scale shape: the B× `sequence` explode is map-side and feeds
    * straight into a partial aggregation keyed by replica — the
    * shuffle carries B rows per map partition, never the corpus;
    * the rank window and the CI join run on the B-row replica table
    * (bounded by parameter), and the three one-row scalars
    * broadcast. B ≤ 64 keeps the expansion a small constant of the
    * scan.
    */
  def bootstrapCiMean(df: DataFrame, idCol: String, valueCol: String,
                      b: Int = 40, tailPct: Int = 5,
                      salt: String = "boot"): DataFrame = {
    require(b >= 3 && b <= 64, "replica count must be in [3, 64]")
    val base = df.select(col(idCol).cast("string").as("id"),
      col(valueCol).cast("long").as("v"))
    val pt = base.agg(count(lit(1)).as("n_rows"),
      expr("CAST((1000 * CAST(sum(v) AS DECIMAL(38,0))) div count(1) " +
        "AS BIGINT)").as("mean_x1000"))
    val reps = base
      .withColumn("r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("u", pmod(graft.functions.HashFns.hash61(
        concat(lit(salt + ":"), col("r").cast("string"), lit(":"),
          col("id"))), lit(1000000L)))
      .withColumn("w", expr(poissonCdfCaseSql("u")))
      .groupBy("r")
      .agg(sum(expr("w * v")).as("swx"), sum("w").as("sw"))
    ciFromReplicas(reps, pt, b, tailPct)
  }

  /** Poisson-bootstrap CI for a RATIO metric (revenue per order,
    * tokens per doc — the common experimentation case where the
    * denominator varies per unit): same hash-deterministic Poisson
    * replica machinery as [[bootstrapCiMean]], but each replica's
    * statistic is (1000·Σw·num) div Σw·den — the ratio of the two
    * reweighted sums, exact integers throughout, CI again exact
    * order statistics. Both columns must be non-negative integers.
    */
  def bootstrapCiRatio(df: DataFrame, idCol: String, numCol: String,
                       denCol: String, b: Int = 40, tailPct: Int = 5,
                       salt: String = "boot"): DataFrame = {
    require(b >= 3 && b <= 64, "replica count must be in [3, 64]")
    val base = df.select(col(idCol).cast("string").as("id"),
      col(numCol).cast("long").as("nu"),
      col(denCol).cast("long").as("de"))
    val pt = base.agg(count(lit(1)).as("n_rows"),
      expr("CAST((1000 * CAST(sum(nu) AS DECIMAL(38,0))) div " +
        "greatest(sum(de), 1) AS BIGINT)").as("mean_x1000"))
    val reps = base
      .withColumn("r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("u", pmod(graft.functions.HashFns.hash61(
        concat(lit(salt + ":"), col("r").cast("string"), lit(":"),
          col("id"))), lit(1000000L)))
      .withColumn("w", expr(poissonCdfCaseSql("u")))
      .groupBy("r")
      .agg(sum(expr("w * nu")).as("swx"), sum(expr("w * de")).as("sw"))
    ciFromReplicas(reps, pt, b, tailPct)
  }

  /** The order-statistic CI tail of [[bootstrapCiMean]] — shared
    * VERBATIM with [[bootstrapFromMoments]] so the batch operator
    * and the streaming readback cannot drift.
    */
  private def ciFromReplicas(reps0: DataFrame, pt: DataFrame, b: Int,
                             tailPct: Int): DataFrame = {
    val reps = reps0.withColumn("m",
      expr("CAST((1000 * CAST(swx AS DECIMAL(38,0))) " +
        "div greatest(sw, 1) AS BIGINT)"))
    val loIdx = (b * tailPct) / 100 + 1
    val hiIdx = b - (b * tailPct) / 100
    // B-row replica table window — bounded by parameter
    val ranked = reps.withColumn("rk",
      row_number().over(Window.orderBy("m", "r")))
    val lo = ranked.where(col("rk") === loIdx)
      .select(col("m").as("lo_x1000"))
    val hi = ranked.where(col("rk") === hiIdx)
      .select(col("m").as("hi_x1000"))
    pt.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n_rows"), lit(b.toLong).as("n_replicas"),
        col("mean_x1000"), col("lo_x1000"), col("hi_x1000"))
  }

  /** Build the [[bootstrapCiMean]] report from externally accumulated
    * per-replica moments — the readback half of a STREAMING mean-CI
    * monitor: each row's (replica, w·v, w) contributions are
    * per-row deterministic (hash-drawn) and arrive exactly once, so
    * the (swx, sw) pairs and the (n, Σv) point totals are ADDITIVE
    * across micro-batches; a foreachBatch folds them per trigger
    * and emits the live CI through the same [[ciFromReplicas]]
    * arithmetic the batch operator uses. State is 2·B + 2 longs.
    */
  def bootstrapFromMoments(spark: org.apache.spark.sql.SparkSession,
                           replicas: Seq[(Long, Long, Long)],
                           nRows: Long, sumV: Long, b: Int,
                           tailPct: Int = 5): DataFrame = {
    import spark.implicits._
    val reps = replicas.toDF("r", "swx", "sw")
    val pt = Seq((nRows, sumV)).toDF("n_rows", "sv")
      .select(col("n_rows"),
        expr("CAST((1000 * CAST(sv AS DECIMAL(38,0))) div " +
          "greatest(n_rows, 1) AS BIGINT)").as("mean_x1000"))
    ciFromReplicas(reps, pt, b, tailPct)
  }

  /** CUPED variance-reduced A/B readback (Deng, Xu, Kohavi & Walker,
    * WSDM 2013 — the controlled-experiment staple at every large
    * experimentation platform): per user, the post-period metric y
    * (event count after the corpus midpoint) is adjusted by the
    * pre-period covariate x (count before it), ŷ = y − θ(x − x̄)
    * with θ = cov(x,y)/var(x), which removes the variance x
    * explains (factor 1 − ρ²) without biasing the treatment
    * contrast.
    *
    * Determinism: the split point is the exact integer midpoint of
    * the event-time range in microseconds; per-user (x, y) and the
    * six moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are exact integers
    * (DECIMAL(38) products); θ is emitted in exact sign-symmetric
    * ppm. The adjusted per-variant means and 1 − ρ² are the float
    * steps — each ONE fixed expression over the named exact sums,
    * shared verbatim with the twin.
    *
    * Scale shape: one (user) reduction to per-user pre/post counts,
    * one six-sum moment fold, one 2-row per-variant fold — the
    * report composes one-row broadcast scalars; nothing after the
    * first aggregation touches the corpus.
    */
  /** Cochran–Mantel–Haenszel stratified 2×2 test (Mantel & Haenszel
    * 1959; Cochran 1954) — "is treatment associated with outcome
    * AFTER controlling for the stratifying confounder": the
    * stratified companion to [[chiSquared]] and the inference half
    * of [[cemAtt]]'s design. Per stratum k with treated row
    * (a_k, b_k), control row (c_k, d_k) and n = a+b+c+d:
    *
    *   E_k = (a+b)(a+c)/n,  V_k = (a+b)(c+d)(a+c)(b+d) / (n²(n−1)),
    *   χ²  = (Σa − ΣE)² / ΣV
    *
    * E/V accumulate as exact ×10⁶ truncations per stratum (the q281
    * log-rank discipline) and χ² is the ONE float step. The
    * Mantel–Haenszel common odds ratio Σ(a·d/n) / Σ(b·c/n) rides
    * the same ×10⁶ per-stratum terms through one guarded integral
    * divide.
    *
    * Scale shape: ONE stratum reduction over the units (bounded by
    * the stratum domain), then scalar folds — O(strata) after the
    * first aggregation.
    */
  def cmhTest(df: DataFrame, strataCol: String, treatCol: String,
              outcomeCol: String): DataFrame =
    cmhFromStrataDf(df.groupBy(col(strataCol).as("__s"))
      .agg(
        sum(when(col(treatCol) && col(outcomeCol), 1L).otherwise(0L)).as("a"),
        sum(when(col(treatCol) && !col(outcomeCol), 1L).otherwise(0L)).as("b"),
        sum(when(!col(treatCol) && col(outcomeCol), 1L).otherwise(0L)).as("c"),
        sum(when(!col(treatCol) && !col(outcomeCol), 1L).otherwise(0L))
          .as("d")))

  /** Build the [[cmhTest]] report from externally accumulated
    * per-stratum (stratum, a, b, c, d) cell counts — the counts are
    * ADDITIVE across micro-batches, so a foreachBatch folds them and
    * emits the live stratified test through the SAME arithmetic
    * (the [[chiSquaredFromCounts]] streaming-readback convention).
    */
  def cmhFromCounts(spark: org.apache.spark.sql.SparkSession,
                    counts: Seq[(String, Long, Long, Long, Long)])
      : DataFrame = {
    import spark.implicits._
    cmhFromStrataDf(counts.toDF("__s", "a", "b", "c", "d"))
  }

  /** The CMH E/V/χ²/OR arithmetic over a (stratum, a, b, c, d)
    * table — shared VERBATIM by [[cmhTest]] and [[cmhFromCounts]].
    */
  private def cmhFromStrataDf(st0: DataFrame): DataFrame = {
    val st = st0
      .withColumn("n", expr("a + b + c + d"))
      .withColumn("e6", expr(
        "CAST((1000000 * CAST(a + b AS DECIMAL(38,0)) * (a + c)) " +
          "div greatest(n, 1) AS BIGINT)"))
      .withColumn("v6", expr(
        "CAST(CASE WHEN n < 2 THEN 0 ELSE " +
          "(1000000 * CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) " +
          "* (b + d)) div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) " +
          "END AS BIGINT)"))
      .withColumn("ad6", expr(
        "CAST((1000000 * CAST(a AS DECIMAL(38,0)) * d) " +
          "div greatest(n, 1) AS BIGINT)"))
      .withColumn("bc6", expr(
        "CAST((1000000 * CAST(b AS DECIMAL(38,0)) * c) " +
          "div greatest(n, 1) AS BIGINT)"))
    st.groupBy()
      .agg(count(lit(1)).as("n_strata"), sum("a").as("a_tot"),
        sum("e6").as("e_x1e6"), sum("v6").as("v_x1e6"),
        sum("ad6").as("__ad"), sum("bc6").as("__bc"))
      .select(col("n_strata"), col("a_tot"), col("e_x1e6"), col("v_x1e6"),
        expr("CAST(CASE WHEN v_x1e6 = 0 THEN 0 ELSE " +
          "round(1000 * (CAST(a_tot AS DOUBLE) * 1000000 - e_x1e6) * " +
          "(CAST(a_tot AS DOUBLE) * 1000000 - e_x1e6) / " +
          "(1000000 * CAST(v_x1e6 AS DOUBLE))) END AS BIGINT)")
          .as("chi2_x1000"),
        expr("CAST((1000 * __ad) div greatest(__bc, 1) AS BIGINT)")
          .as("mh_or_x1000"))
  }

  /** Qini uplift curve (Radcliffe 2007) — the experiment readback
    * that grades a TARGETING score: walking the population from the
    * highest score down, how many extra conversions did treatment
    * buy vs the control baseline at the same depth,
    *
    *   qini(k) = ct_k − cc_k · nt_k / nc_k
    *
    * (cumulative treated conversions minus depth-scaled control
    * conversions). The curve is computed on the score's VALUE table
    * — one reduction to per-score-value arm counts, cumulative
    * windows over that bounded table, never a corpus sort (the q122
    * cut-table discipline) — so `scoreCol` must be bounded-domain
    * (a band/bucket/decile, as production uplift scores are). Qini
    * in sign-symmetric exact milli-conversions; the per-depth
    * uplift-rate difference in sign-symmetric exact ppm.
    */
  def qiniCurve(df: DataFrame, scoreCol: String, treatCol: String,
                outcomeCol: String): DataFrame =
    qiniFromValsDf(df.groupBy(col(scoreCol).cast("bigint").as("score"))
      .agg(
        sum(when(col(treatCol), 1L).otherwise(0L)).as("__nt"),
        sum(when(col(treatCol) && col(outcomeCol), 1L).otherwise(0L))
          .as("__ct"),
        sum(when(!col(treatCol), 1L).otherwise(0L)).as("__nc"),
        sum(when(!col(treatCol) && col(outcomeCol), 1L).otherwise(0L))
          .as("__cc")))

  /** Build the [[qiniCurve]] from externally accumulated per-score
    * (score, n_treated, conv_treated, n_control, conv_control) arm
    * counts — additive across micro-batches, so a foreachBatch folds
    * them and emits the live uplift curve through the SAME
    * arithmetic (the [[chiSquaredFromCounts]] convention).
    */
  def qiniFromCounts(spark: org.apache.spark.sql.SparkSession,
                     counts: Seq[(Long, Long, Long, Long, Long)])
      : DataFrame = {
    import spark.implicits._
    qiniFromValsDf(counts.toDF("score", "__nt", "__ct", "__nc", "__cc"))
  }

  /** The Qini cumulative arithmetic over a per-score arm-count
    * table — shared VERBATIM by [[qiniCurve]] and [[qiniFromCounts]].
    */
  private def qiniFromValsDf(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = vals.agg(sum(expr("__nt + __nc")).cast("bigint").as("__n"))
    // score-domain-bounded cumulative windows, highest score first
    val w = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pos = "CAST(ct AS DECIMAL(38,0)) * nc - CAST(cc AS DECIMAL(38,0)) * nt"
    val neg = "CAST(cc AS DECIMAL(38,0)) * nt - CAST(ct AS DECIMAL(38,0)) * nc"
    vals
      .withColumn("nt", sum("__nt").over(w))
      .withColumn("ct", sum("__ct").over(w))
      .withColumn("nc", sum("__nc").over(w))
      .withColumn("cc", sum("__cc").over(w))
      .crossJoin(broadcast(tot))
      .select(col("score"), col("nt"), col("ct"), col("nc"), col("cc"),
        expr("CAST((1000000 * (nt + nc)) div __n AS BIGINT)")
          .as("depth_ppm"),
        expr("CASE WHEN CAST(ct AS DECIMAL(38,0)) * nc >= " +
          "CAST(cc AS DECIMAL(38,0)) * nt THEN " +
          s"CAST((1000 * ($pos)) div greatest(nc, 1) AS BIGINT) " +
          s"ELSE -CAST((1000 * ($neg)) div greatest(nc, 1) AS BIGINT) " +
          "END").as("qini_milli"),
        expr("CASE WHEN CAST(ct AS DECIMAL(38,0)) * nc >= " +
          "CAST(cc AS DECIMAL(38,0)) * nt THEN " +
          s"CAST((1000000 * ($pos)) div " +
          "greatest(CAST(nt AS DECIMAL(38,0)) * nc, 1) AS BIGINT) " +
          s"ELSE -CAST((1000000 * ($neg)) div " +
          "greatest(CAST(nt AS DECIMAL(38,0)) * nc, 1) AS BIGINT) " +
          "END").as("uplift_ppm"))
  }

  /** Coarsened exact matching ATT (Iacus, King & Porro, Political
    * Analysis 2012) — the observational-causal companion to
    * [[didReport]] and [[cupedAbTest]]: when treatment was NOT
    * randomized, exact-match treated and control units inside
    * coarsened covariate strata, DROP strata lacking either arm
    * (that's the whole method — no model, no distance metric), and
    * weight per-stratum treated/control mean differences by the
    * matched-treated share.
    *
    * Integer discipline: per matched stratum the mean difference is
    * the common-denominator rational (s_t·n_c − s_c·n_t)/(n_t·n_c)
    * in sign-symmetric truncated milli-units, and the ATT is the
    * treated-count-weighted sign-symmetric fold Σ n_t·diff div M_T
    * — DECIMAL(38) throughout, every divide CASEd on sign so Spark
    * `div` (trunc) and DuckDB `//` (floor) agree.
    *
    * Scale shape: ONE stratum reduction over the units (strata
    * bounded by the coarsening grid), a filtered fold on each side
    * of the match condition, one one-row cross-join — the report is
    * O(strata), never O(units), after the first aggregation.
    */
  def cemAtt(df: DataFrame, treatCol: String, outcomeCol: String,
             covCols: Seq[String]): DataFrame = {
    val qc = covCols.map(col)
    // matched + dropped consumers of one pass
    val st = Lineage.cut(df.groupBy(qc: _*)
      .agg(sum(when(col(treatCol), 1L).otherwise(0L)).as("n_t"),
        sum(when(col(treatCol), 0L).otherwise(1L)).as("n_c"),
        sum(when(col(treatCol), col(outcomeCol)).otherwise(0L)).as("s_t"),
        sum(when(col(treatCol), 0L).otherwise(col(outcomeCol))).as("s_c")))
    val matched = st.where(col("n_t") > 0 && col("n_c") > 0)
      .withColumn("__num", expr(
        "CAST(s_t AS DECIMAL(38,0)) * n_c - CAST(s_c AS DECIMAL(38,0)) * n_t"))
      .withColumn("__den", expr("CAST(n_t AS DECIMAL(38,0)) * n_c"))
      .withColumn("diff_milli", expr(
        "CASE WHEN __num >= 0 THEN CAST((1000 * __num) div __den AS BIGINT) " +
          "ELSE -CAST((1000 * -__num) div __den AS BIGINT) END"))
    val rep = matched.agg(count(lit(1)).as("n_strata_matched"),
      sum("n_t").cast("bigint").as("n_treated_matched"),
      sum("n_c").cast("bigint").as("n_control_matched"),
      sum(expr("CAST(n_t AS DECIMAL(38,0)) * diff_milli")).as("__w"))
    val dropped = st.where(col("n_t") === 0 || col("n_c") === 0)
      .agg(coalesce(sum("n_t"), lit(0L)).cast("bigint")
          .as("n_treated_dropped"),
        coalesce(sum("n_c"), lit(0L)).cast("bigint")
          .as("n_control_dropped"))
    rep.crossJoin(broadcast(dropped))
      .select(col("n_strata_matched"), col("n_treated_matched"),
        col("n_control_matched"), col("n_treated_dropped"),
        col("n_control_dropped"),
        expr("CASE WHEN __w >= 0 THEN " +
          "CAST(__w div greatest(n_treated_matched, 1) AS BIGINT) " +
          "ELSE -CAST((-__w) div greatest(n_treated_matched, 1) " +
          "AS BIGINT) END").as("att_milli"))
  }

  def cupedAbTest(df: DataFrame, userCol: String, tsCol: String,
                  variant: org.apache.spark.sql.Column): DataFrame = {
    val ux = prePostCounts(df, userCol, tsCol, variant)
    val mom = ux.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    val perV = ux.groupBy("v")
      .agg(count(lit(1)).as("nv"), sum("x").as("svx"),
        sum("y").as("svy"))
    val wide = perV.select(
      sum(when(col("v") === 0L, col("nv"))).as("n_a"),
      sum(when(col("v") === 0L, col("svx"))).as("sx_a"),
      sum(when(col("v") === 0L, col("svy"))).as("sy_a"),
      sum(when(col("v") === 1L, col("nv"))).as("n_b"),
      sum(when(col("v") === 1L, col("svx"))).as("sx_b"),
      sum(when(col("v") === 1L, col("svy"))).as("sy_b"))
    wide.crossJoin(broadcast(mom))
      .withColumn("cov_n", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("var_n", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("vary_n", expr(
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .select(col("n_a"), col("n_b"),
        expr("CAST((1000 * sy_a) div greatest(n_a, 1) AS BIGINT)")
          .as("mean_a_x1000"),
        expr("CAST((1000 * sy_b) div greatest(n_b, 1) AS BIGINT)")
          .as("mean_b_x1000"),
        thetaPpmExpr.as("theta_ppm"),
        adjMeanExpr("a").as("adj_mean_a_x1000"),
        adjMeanExpr("b").as("adj_mean_b_x1000"),
        rho2PpmExpr.as("rho2_ppm"))
  }

  /** Per-user (pre, post) event counts split at the exact integer
    * midpoint of the event-time range — shared by [[cupedAbTest]]
    * and [[didReport]]. NTZ-safe (the session runs UTC, so the cast
    * is a relabel); one user-keyed reduction + a one-row midpoint
    * broadcast.
    */
  private def prePostCounts(df: DataFrame, userCol: String,
                            tsCol: String,
                            variant: org.apache.spark.sql.Column): DataFrame = {
    val ev = df.select(col(userCol).as("u"),
      expr(s"unix_micros(CAST($tsCol AS TIMESTAMP))").as("tm"),
      variant.as("v"))
    val mid = ev.agg(expr("CAST((min(tm) + max(tm)) div 2 AS BIGINT)")
      .as("t0"))
    ev.crossJoin(broadcast(mid))
      .groupBy("u")
      .agg(max("v").as("v"),
        sum(when(col("tm") < col("t0"), 1L).otherwise(0L)).as("x"),
        sum(when(col("tm") >= col("t0"), 1L).otherwise(0L)).as("y"))
  }

  /** Difference-in-differences report (the quasi-experimental
    * workhorse, Card & Krueger 1994 form): with the SAME per-user
    * pre/post split as [[cupedAbTest]], the DiD effect is
    * (post_b − pre_b) − (post_a − pre_a) over the per-variant mean
    * activity — the parallel-trends-adjusted treatment estimate when
    * assignment wasn't randomized. Exact ×1000 integer means
    * (truncated divisions of exact sums), the effect a SUBTRACTION
    * of those — no floats anywhere. One user reduction + a 2-row
    * variant fold.
    */
  def didReport(df: DataFrame, userCol: String, tsCol: String,
                variant: org.apache.spark.sql.Column): DataFrame = {
    val ux = prePostCounts(df, userCol, tsCol, variant)
    ux.groupBy("v").agg(count(lit(1)).as("nv"), sum("x").as("sx"),
        sum("y").as("sy"))
      .select(
        sum(when(col("v") === 0L, col("nv"))).as("n_a"),
        sum(when(col("v") === 0L, col("sx"))).as("sx_a"),
        sum(when(col("v") === 0L, col("sy"))).as("sy_a"),
        sum(when(col("v") === 1L, col("nv"))).as("n_b"),
        sum(when(col("v") === 1L, col("sx"))).as("sx_b"),
        sum(when(col("v") === 1L, col("sy"))).as("sy_b"))
      .select(col("n_a"), col("n_b"),
        expr("CAST((1000 * sx_a) div greatest(n_a, 1) AS BIGINT)")
          .as("pre_a_x1000"),
        expr("CAST((1000 * sy_a) div greatest(n_a, 1) AS BIGINT)")
          .as("post_a_x1000"),
        expr("CAST((1000 * sx_b) div greatest(n_b, 1) AS BIGINT)")
          .as("pre_b_x1000"),
        expr("CAST((1000 * sy_b) div greatest(n_b, 1) AS BIGINT)")
          .as("post_b_x1000"))
      .withColumn("did_x1000", expr(
        "(post_b_x1000 - pre_b_x1000) - (post_a_x1000 - pre_a_x1000)"))
  }

  /** Exact sign-symmetric θ ppm of [[cupedAbTest]] — shared verbatim
    * with the twin (no negative integer division on either engine).
    */
  private def thetaPpmExpr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN var_n = 0 THEN 0 WHEN cov_n >= 0 " +
      "THEN (1000000 * cov_n) div var_n " +
      "ELSE -((1000000 * (-cov_n)) div var_n) END AS BIGINT)")

  /** The adjusted-mean float step of [[cupedAbTest]]: ȳ_v − θ(x̄_v −
    * x̄), ONE fixed double expression over the named exact sums.
    */
  private def adjMeanExpr(s: String): org.apache.spark.sql.Column = expr(
    s"CAST(round(1000 * ((CAST(sy_$s AS DOUBLE) / n_$s) - " +
      "(CAST(cov_n AS DOUBLE) / CASE WHEN var_n = 0 THEN 1 ELSE CAST(var_n AS DOUBLE) END) * " +
      s"((CAST(sx_$s AS DOUBLE) / n_$s) - (CAST(sx AS DOUBLE) / n)))) " +
      "AS BIGINT)")

  /** The 1−ρ² variance-explained float step of [[cupedAbTest]] in
    * ppm (ρ² = cov²/(varx·vary)), ONE fixed double expression.
    */
  private def rho2PpmExpr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN var_n = 0 OR vary_n = 0 THEN 0 ELSE " +
      "round(1000000 * (CAST(cov_n AS DOUBLE) * CAST(cov_n AS DOUBLE)) / " +
      "(CAST(var_n AS DOUBLE) * CAST(vary_n AS DOUBLE))) END AS BIGINT)")

  /** Kendall τ-b rank correlation between two BUCKETED metrics, per
    * group (Kendall 1945, the tie-adjusted form): do the two
    * rankings agree — +1 perfect concordance, −1 perfect reversal,
    * 0 independence. The pairwise-agreement companion to the
    * top-k-focused RBO: "does spend-rank track frequency-rank".
    *
    * Exactness: counted on the (x, y) CONTINGENCY GRID, not row
    * pairs — concordant/discordant sums are Σ n₁·n₂ over grid-cell
    * pairs with x₁<x₂ (exact DECIMAL), tie terms come from the
    * marginals, and the ONE float step is the final
    * (C−D)/√((P−Tx)(P−Ty)) expression over the named exact sums
    * (shared verbatim with the twin).
    *
    * Scale shape: ONE reduction to the per-group (x, y) cell table —
    * bounded by |X|·|Y| bucket combinations (bucket continuous
    * metrics upstream); the grid self-join, marginal folds and the
    * report all run on that bounded table. This is what makes τ-b
    * O(cells²) instead of the classical O(rows²).
    */
  def kendallTauB(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame =
    tauFromCellsDf(
      df.groupBy(col(groupCol).as("g"), col(xCol).as("xb"),
          col(yCol).as("yb"))
        .agg(count(lit(1)).as("n")),
      groupCol)

  /** Build the [[kendallTauB]] report from externally accumulated
    * ((group, x, y) → n) grid counts — the streaming-monitor
    * readback, same additive-grid discipline as
    * [[chiSquaredFromCounts]].
    */
  def kendallTauBFromCounts(spark: org.apache.spark.sql.SparkSession,
                            counts: Seq[(String, Long, Long, Long)],
                            groupCol: String = "grp"): DataFrame = {
    import spark.implicits._
    tauFromCellsDf(counts.toDF("g", "xb", "yb", "n"), groupCol)
  }

  /** The τ-b arithmetic over a (g, xb, yb, n) grid — shared VERBATIM
    * by [[kendallTauB]] and [[kendallTauBFromCounts]].
    */
  private def tauFromCellsDf(cells0: DataFrame,
                             groupCol: String): DataFrame = {
    // grid join + two marginals + totals read it
    val cells = Lineage.cut(cells0)
    val tot = cells.groupBy("g")
      .agg(sum("n").as("n_g"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).as("txy2"))
    val tx = cells.groupBy("g", "xb").agg(sum("n").as("nx"))
      .groupBy("g")
      .agg(sum(expr("CAST(nx AS DECIMAL(38,0)) * (nx - 1)")).as("tx2"))
    val ty = cells.groupBy("g", "yb").agg(sum("n").as("ny"))
      .groupBy("g")
      .agg(sum(expr("CAST(ny AS DECIMAL(38,0)) * (ny - 1)")).as("ty2"))
    val a = cells.select(col("g"), col("xb").as("x1"),
      col("yb").as("y1"), col("n").as("n1"))
    val b = cells.select(col("g").as("g2"), col("xb").as("x2"),
      col("yb").as("y2"), col("n").as("n2"))
    val cd = a.join(b, col("g") === col("g2") && col("x1") < col("x2"))
      .groupBy("g")
      .agg(sum(when(col("y1") < col("y2"),
          expr("CAST(n1 AS DECIMAL(38,0)) * n2")).otherwise(lit(0)))
          .as("conc"),
        sum(when(col("y1") > col("y2"),
          expr("CAST(n1 AS DECIMAL(38,0)) * n2")).otherwise(lit(0)))
          .as("disc"))
    tot.join(tx, Seq("g")).join(ty, Seq("g"))
      .join(cd, Seq("g"), "left")
      .withColumn("conc", coalesce(col("conc"), lit(0L)))
      .withColumn("disc", coalesce(col("disc"), lit(0L)))
      .withColumn("p2", expr("CAST(n_g AS DECIMAL(38,0)) * (n_g - 1)"))
      .select(col("g").as(groupCol), col("n_g"),
        col("conc").cast("decimal(38,0)").as("__c"),
        col("disc").cast("decimal(38,0)").as("__d"),
        col("p2"), col("tx2"), col("ty2"))
      .select(col(groupCol), col("n_g"),
        expr("CAST(__c AS BIGINT)").as("concordant"),
        expr("CAST(__d AS BIGINT)").as("discordant"),
        tauBx1e6Expr.as("tau_b_x1e6"))
  }

  /** Spearman ρ with tied midranks, per group — Pearson correlation
    * of the rank transforms, the "is the relationship monotone"
    * companion to [[kendallTauB]] (ρ reacts to rank distance, τ only
    * to order). Computed on the same bounded contingency grid:
    * midranks come from the per-axis marginal cumulatives (in exact
    * ×2 integer units — 2·below + n + 1), the six weighted moment
    * sums are exact DECIMAL(38), and the ONE float step is the
    * final correlation expression over the named sums (shared
    * verbatim with the twin). Scale shape: one reduction to the
    * grid, two marginal cumulative windows over it, one moment
    * fold — all bounded by |X|·|Y|.
    */
  def spearmanRho(df: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame =
    rhoFromCellsDf(
      df.groupBy(col(groupCol).as("g"), col(xCol).as("xb"),
          col(yCol).as("yb"))
        .agg(count(lit(1)).as("n")),
      groupCol)

  /** Build the [[spearmanRho]] report from externally accumulated
    * ((group, x, y) → n) grid counts — the streaming-monitor
    * readback, same additive-grid discipline as
    * [[chiSquaredFromCounts]].
    */
  def spearmanRhoFromCounts(spark: org.apache.spark.sql.SparkSession,
                            counts: Seq[(String, Long, Long, Long)],
                            groupCol: String = "grp"): DataFrame = {
    import spark.implicits._
    rhoFromCellsDf(counts.toDF("g", "xb", "yb", "n"), groupCol)
  }

  /** The ρ arithmetic over a (g, xb, yb, n) grid — shared VERBATIM
    * by [[spearmanRho]] and [[spearmanRhoFromCounts]].
    */
  private def rhoFromCellsDf(cells0: DataFrame,
                             groupCol: String): DataFrame = {
    // grid + two marginal consumers
    val cells = Lineage.cut(cells0)
    def ranks(axis: String, out: String): DataFrame = {
      val w = Window.partitionBy("g").orderBy(axis)
        .rowsBetween(Window.unboundedPreceding, -1)
      cells.groupBy("g", axis).agg(sum("n").as("nv"))
        .withColumn("cb", coalesce(sum("nv").over(w), lit(0L)))
        .select(col("g"), col(axis),
          expr("2 * cb + nv + 1").as(out))
    }
    val j = cells
      .join(ranks("xb", "rx2"), Seq("g", "xb"))
      .join(ranks("yb", "ry2"), Seq("g", "yb"))
    j.groupBy("g")
      .agg(sum("n").as("n_g"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * rx2")).as("sx"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * ry2")).as("sy"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * rx2 * ry2")).as("sxy"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * rx2 * rx2")).as("sxx"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * ry2 * ry2")).as("syy"))
      .select(col("g").as(groupCol), col("n_g"),
        rhoX1e6Expr.as("rho_x1e6"))
  }

  /** Pearson χ² test of independence on the same contingency grid,
    * per group — completes the grid-association trio ([[kendallTauB]]
    * for order, [[spearmanRho]] for monotone strength, χ² for ANY
    * dependence between unordered categoricals). Per cell the exact
    * term is (n·o − rx·cy)² / (n·rx·cy); summed ×10⁶ with
    * per-term exact DECIMAL division (truncated — deterministic on
    * both engines, no float sum across cells). Also reports Cramér's
    * V ×1000 (the normalized effect size) as the ONE float step
    * over the exact χ² total. Scale shape: one grid reduction, two
    * marginal folds, grid-bounded arithmetic.
    */
  def chiSquared(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame =
    chiFromCellsDf(
      df.groupBy(col(groupCol).as("g"), col(xCol).as("xb"),
          col(yCol).as("yb"))
        .agg(count(lit(1)).as("n")),
      groupCol)

  /** Build the [[chiSquared]] report from externally accumulated
    * ((group, x, y) → n) grid counts — the readback half of a
    * STREAMING dependence monitor (the grid is additive across
    * micro-batches, per-row stateless), same discipline as
    * [[rocAucFromCounts]]: a foreachBatch folds the counts and
    * emits the live χ²/V through the identical arithmetic. State is
    * bounded by groups × |X|·|Y|.
    */
  def chiSquaredFromCounts(spark: org.apache.spark.sql.SparkSession,
                           counts: Seq[(String, Long, Long, Long)],
                           groupCol: String = "grp"): DataFrame = {
    import spark.implicits._
    chiFromCellsDf(counts.toDF("g", "xb", "yb", "n"), groupCol)
  }

  /** The χ²/Cramér-V arithmetic over a (g, xb, yb, n) grid — shared
    * VERBATIM by [[chiSquared]] and [[chiSquaredFromCounts]].
    */
  private def chiFromCellsDf(cells0: DataFrame,
                             groupCol: String): DataFrame = {
    // grid + two marginal consumers
    val cells = Lineage.cut(cells0)
    val xm = cells.groupBy("g", "xb").agg(sum("n").as("rx"))
    val ym = cells.groupBy("g", "yb").agg(sum("n").as("cy"))
    val tot = cells.groupBy("g").agg(sum("n").as("n_g"),
      countDistinct("xb").as("kx"), countDistinct("yb").as("ky"))
    // the FULL grid (including zero cells) — expected counts exist
    // for every (x, y) marginal pair, observed defaults to 0
    val grid = xm.join(ym, Seq("g"))
      .join(cells, Seq("g", "xb", "yb"), "left")
      .withColumn("o", coalesce(col("n"), lit(0L)))
    val chi = grid.join(broadcast(tot.select(col("g"), col("n_g"))), Seq("g"))
      .select(col("g"), expr(
        "CAST((1000000 * (CAST(n_g AS DECIMAL(38,0)) * o - " +
          "CAST(rx AS DECIMAL(38,0)) * cy) * " +
          "(CAST(n_g AS DECIMAL(38,0)) * o - " +
          "CAST(rx AS DECIMAL(38,0)) * cy)) div " +
          "(CAST(n_g AS DECIMAL(38,0)) * rx * cy) AS BIGINT)").as("t"))
      .groupBy("g").agg(sum("t").as("chi6"))
    tot.join(chi, Seq("g"))
      .select(col("g").as(groupCol), col("n_g"),
        expr("CAST((kx - 1) * (ky - 1) AS BIGINT)").as("dof"),
        expr("CAST(chi6 div 1000000 AS BIGINT)").as("chi2_floor"),
        expr("CAST(CASE WHEN kx < 2 OR ky < 2 THEN 0 ELSE " +
          "round(1000 * sqrt((CAST(chi6 AS DOUBLE) / 1e6) / " +
          "(CAST(n_g AS DOUBLE) * " +
          "CASE WHEN kx < ky THEN kx - 1 ELSE ky - 1 END))) " +
          "END AS BIGINT)").as("cramers_v_x1000"))
  }

  /** The one float step of [[spearmanRho]] — the Pearson expression
    * over the named exact moment sums, shared verbatim with the twin.
    */
  private def rhoX1e6Expr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN n_g * sxx = sx * sx OR n_g * syy = sy * sy THEN 0 " +
      "ELSE round(1000000 * (CAST(n_g AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "sqrt((CAST(n_g AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "(CAST(n_g AS DOUBLE) * CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) END AS BIGINT)")

  /** The one float step of [[kendallTauB]] — 2(C−D)/√((P2−Tx2)(P2−Ty2))
    * over exact sums in ×2 pair units, shared verbatim with the twin.
    */
  private def tauBx1e6Expr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN p2 = tx2 OR p2 = ty2 THEN 0 ELSE " +
      "round(1000000 * 2 * (CAST(__c AS DOUBLE) - CAST(__d AS DOUBLE)) / " +
      "sqrt((CAST(p2 AS DOUBLE) - CAST(tx2 AS DOUBLE)) * " +
      "(CAST(p2 AS DOUBLE) - CAST(ty2 AS DOUBLE)))) END AS BIGINT)")

  /** 2-D Pareto frontier (skyline, Börzsönyi et al. ICDE 2001):
    * rows not dominated under (minimize `minCol`, maximize `maxCol`)
    * — r' dominates r iff min' ≤ min ∧ max' ≥ max with at least one
    * strict. Duplicated (min,max) points are all on the frontier.
    *
    * Scale shape — the grid-prune + exact-finish pattern: bucket the
    * minimize axis into fixed-width bands, take max(maxCol) per band
    * (ONE partial aggregation to a bucket-bounded table), cummax over
    * strictly-lower bands, and prune every row beaten by a strictly
    * cheaper band's champion — rows in a lower band have strictly
    * smaller minCol, so `bandBest ≥ max` proves domination. Survivors
    * (≤ one frontier candidate set per band) get the exact O(n log n)
    * sort-based finish: a RANGE cummax over strictly-lower minCol
    * plus a same-value max — both windows run over the pruned
    * survivor table, which is bounded by construction (≤ bands ×
    * per-band frontier width), never the corpus.
    */
  /** Two-sample Mann–Whitney U location test of every group against
    * a designated baseline group (Mann & Whitney 1947), the
    * rank-based fifth lens of the drift family — PSI (bin mass),
    * W1 (transport cost), JSD (distribution divergence) and KS
    * (worst CDF gap) all compare SHAPES; MWU answers the narrower
    * "has the distribution SHIFTED in location?" with a calibrated
    * z under ties. Same midrank machinery as [[rocAuc]] (AUC is
    * U/(n⁺n⁻) in disguise) but pooled per (baseline, group) pair
    * with the tie-corrected normal approximation:
    *
    *   U₁ = R₁ − n₁(n₁+1)/2,   μ = n₁n₂/2,
    *   σ² = n₁n₂ · [(n+1)·n·(n−1) − Σ(t³−t)] / (12·n·(n−1))
    *
    * Midranks ×2 keep every rank sum an exact integer (DECIMAL(38)
    * for the corpus-scale products); `u_x2` = 2·U₁ and the CLES
    * effect size U₁/(n₁n₂) ×10⁶ are exact integer outputs, the z
    * is the ONE float step. Groups where every pooled value ties
    * (σ = 0) report z = 0.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to
    * (group, value) counts — bounded by groups × value domain (the
    * caller passes a bounded/discretized integer value, the rocAuc
    * contract). The baseline's count table is then replicated per
    * comparison group via a bounded×bounded broadcast cross join
    * (the q93 pairs-of-groups shape), and all ranking windows run
    * over that bounded pooled table.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
                   baseline: String): DataFrame =
    mwuFromCells(
      df.groupBy(col(groupCol).as("g"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("n")),
      baseline, groupCol)

  /** Build the [[mannWhitneyU]] report from externally accumulated
    * ((group, value) → n) counts — the readback half of a STREAMING
    * location-drift monitor: per-value counts are additive across
    * micro-batches and row-stateless, so a foreachBatch folds them
    * and emits the live z through the identical arithmetic (the
    * [[chiSquaredFromCounts]] discipline). State is bounded by
    * groups × value domain.
    */
  def mannWhitneyFromCounts(spark: org.apache.spark.sql.SparkSession,
                            counts: Seq[(String, Long, Long)],
                            baseline: String,
                            groupCol: String = "grp"): DataFrame = {
    import spark.implicits._
    mwuFromCells(counts.toDF("g", "v", "n"), baseline, groupCol)
  }

  /** The pooled-midrank MWU arithmetic over a (g, v, n) count table —
    * shared VERBATIM by [[mannWhitneyU]] and [[mannWhitneyFromCounts]].
    */
  private def mwuFromCells(cells0: DataFrame,
                           baseline: String, groupCol: String): DataFrame = {
    // baseline + others + group list
    val cells = Lineage.cut(cells0)
    val base = cells.where(col("g") === lit(baseline))
      .select(col("v"), col("n").as("nb"))
    val groups = cells.where(col("g") =!= lit(baseline))
      .select("g").distinct()
    // bounded group list × value-bounded baseline counts: the q93
    // pairs-of-groups broadcast shape (see PlanAudit ledger)
    val baseRep = broadcast(groups).crossJoin(base)
    val others = cells.where(col("g") =!= lit(baseline))
      .select(col("g"), col("v"), col("n").as("no"))
    val pooled = baseRep.join(others, Seq("g", "v"), "full")
      .select(col("g"), col("v"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("no"), lit(0L)).as("no"))
      .withColumn("t", expr("nb + no"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    // pooled-count-table window: bounded by groups × value domain
    val ranked = pooled
      .withColumn("mr2", lit(2L) * coalesce(sum("t").over(w), lit(0L))
        + col("t") + lit(1L))
    ranked.groupBy("g")
      .agg(sum("nb").as("n1"), sum("no").as("n2"),
        sum(expr("CAST(nb AS DECIMAL(38,0)) * mr2")).as("r1x2"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tie"))
      .select(col("g").as(groupCol),
        col("n1").cast("bigint").as("n_base"),
        col("n2").cast("bigint").as("n_other"),
        expr("CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)")
          .as("u_x2"),
        expr("CAST((500000 * (r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1))) " +
          "div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)").as("cles_x1e6"),
        mwuZx1000Expr.as("z_x1000"))
  }

  /** The one float step of [[mannWhitneyU]] — the tie-corrected
    * normal z over the named exact sums, shared verbatim with the twin.
    */
  private def mwuZx1000Expr: org.apache.spark.sql.Column = expr(
    "CAST(CASE WHEN (CAST(n1 AS DECIMAL(38,0)) + n2 + 1) * (n1 + n2) * " +
      "(n1 + n2 - 1) = tie OR n1 = 0 OR n2 = 0 THEN 0 ELSE " +
      "round(1000 * (CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) - " +
      "CAST(n1 AS DOUBLE) * n2) / (2 * sqrt(" +
      "CAST(n1 AS DOUBLE) * n2 * ((CAST(n1 AS DOUBLE) + n2 + 1) * " +
      "(CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2 - 1) - " +
      "CAST(tie AS DOUBLE)) / (12 * (CAST(n1 AS DOUBLE) + n2) * " +
      "(CAST(n1 AS DOUBLE) + n2 - 1))))) END AS BIGINT)")

  /** Inverse standard-normal CDF (Acklam 2003 rational approximation,
    * |relative error| < 1.15e−9) — used ONLY to emit the BH critical
    * constants below; never evaluated inside a plan.
    */
  private[graft] def invNorm(p: Double): Double = {
    require(p > 0 && p < 1, s"p=$p out of (0,1)")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -invNorm(1 - p)
  }

  /** Two-sided BH critical z ×1000 at rank k of m tests, FDR level
    * `qPpm` ppm: Φ⁻¹(1 − (k·q/m)/2). A FIXED constant per (k, m, q) —
    * both engines consume the SAME emitted literal (the dcgGain
    * one-emitter discipline), so "BH needs p-values" never puts a
    * normal CDF in the plan.
    */
  def bhZcritX1000(k: Int, m: Int, qPpm: Long): Long =
    math.round(1000 * invNorm(1 - (k.toDouble * qPpm / 1e6 / m) / 2))

  /** The BH critical-value CASE over a 1-indexed rank expression. */
  def bhZcritCaseSql(rankE: String, m: Int, qPpm: Long): String =
    "(CASE " + (1 to m).map(k =>
      s"WHEN ($rankE) = $k THEN CAST(${bhZcritX1000(k, m, qPpm)} AS BIGINT)")
      .mkString(" ") + " ELSE CAST(0 AS BIGINT) END)"

  /** Wald SPRT decision table (Wald 1945) over per-group Bernoulli
    * counts — the ALWAYS-VALID sequential companion to the fixed-n
    * [[sampleSizeTwoProportions]] design: at any interim (n, k) the
    * log-likelihood ratio of H₁: p = p₀·(1+MDE) against H₀: p = p₀ is
    *
    *   LLR = k·log(p₁/p₀) + (n−k)·log(q₁/q₀)
    *
    * in integer 1/256-bit logs of the RATIOS — formulation matters
    * here: a 10% MDE's per-trial weight is ~0.14 bits, and computing
    * it as E(p₁·2²⁰) − E(p₀·2²⁰) puts the piecewise-linear
    * interpolation error (≤ 0.086 bit) INSIDE a near-cancellation,
    * which can flip the sign. Taking the Mitchell log of the ratio
    * itself — w₁ = E256((p₁·2²⁰) div p₀) − 256·20, and the mirrored
    * w₀ from q₀/q₁ ≥ 1 — keeps the error RELATIVE to the small
    * weight (≤ ~5% at these ratios, sign-safe). Both ratios go
    * through the same Mitchell e256 log in both engines (native in
    * the plan, [[graft.ops.TextStats.mitchellE256Sql]] in the twin),
    * so the fold is integer-identical; the
    * Wald boundaries 256·log₂((1−β)/α) and 256·log₂(β/(1−α)) are
    * emitted literals.
    * Decision: `accept_h1` / `accept_h0` / `continue`. p₀ is the
    * POOLED rate (the q284 family convention).
    *
    * The (group, n, k) counts are additive across micro-batches —
    * [[sprtFromCounts]] is the streaming readback
    * ([[chiSquaredFromCounts]]'s convention): a foreachBatch folds
    * the counts and re-reads the live decisions each trigger, which
    * is exactly the monitoring mode SPRT exists for.
    *
    * Scale shape: ONE group reduction over the units; everything
    * after is group-domain-bounded with a one-row pooled broadcast.
    */
  def sprtScreen(df: DataFrame, groupCol: String,
                 successExpr: org.apache.spark.sql.Column,
                 mdeRelPct: Int = 10, alphaPpm: Long = 50000L,
                 betaPpm: Long = 200000L): DataFrame =
    sprtFromCountsDf(
      df.groupBy(col(groupCol).as("g"))
        .agg(count(lit(1)).as("n"), sum(successExpr.cast("bigint")).as("k")),
      mdeRelPct, alphaPpm, betaPpm)

  /** Build the [[sprtScreen]] table from externally accumulated
    * per-group (group, n, k) counts — the additive streaming form.
    */
  def sprtFromCounts(spark: org.apache.spark.sql.SparkSession,
                     counts: Seq[(String, Long, Long)],
                     mdeRelPct: Int = 10, alphaPpm: Long = 50000L,
                     betaPpm: Long = 200000L): DataFrame = {
    import spark.implicits._
    sprtFromCountsDf(counts.toDF("g", "n", "k"), mdeRelPct, alphaPpm,
      betaPpm)
  }

  /** The SPRT arithmetic over a (g, n, k) table — shared VERBATIM by
    * [[sprtScreen]] and [[sprtFromCounts]].
    */
  private def sprtFromCountsDf(counts: DataFrame, mdeRelPct: Int,
                               alphaPpm: Long, betaPpm: Long): DataFrame = {
    import graft.functions.MitchellE8
    val tot = counts.agg(sum("n").cast("bigint").as("__nt"),
      sum("k").cast("bigint").as("__kt"))
    val (upE256, loE256) = sprtBoundsE256(alphaPpm, betaPpm)
    counts.crossJoin(broadcast(tot))
      .withColumn("p0_ppm", expr(
        "greatest(CAST((1000000 * __kt) div greatest(__nt, 1) AS BIGINT), 1)"))
      .withColumn("p1_ppm", expr(
        s"least(p0_ppm + ($mdeRelPct * p0_ppm) div 100, " +
          "CAST(999999 AS BIGINT))"))
      // p1 >= p0 unless p0 = 10^6, so both ratio logs are >= 0; at
      // p0 = 10^6 (every trial a success) p1/p0 < 1 logs to 0, as the
      // ladder's truncating division also gives, and the log of
      // (10^6 - p0)/(10^6 - p1) = 0 multiplies n - k = 0
      .withColumn("llr_e256",
        col("k") * MitchellE8.log2RatioE256(col("p1_ppm"), col("p0_ppm")) -
          (col("n") - col("k")) * MitchellE8.log2RatioE256(
            lit(1000000L) - col("p0_ppm"), lit(1000000L) - col("p1_ppm")))
      .select(col("g"), col("n"), col("k"), col("p0_ppm"), col("p1_ppm"),
        col("llr_e256"),
        expr(s"CASE WHEN llr_e256 >= $upE256 THEN 'accept_h1' " +
          s"WHEN llr_e256 <= $loE256 THEN 'accept_h0' " +
          "ELSE 'continue' END").as("decision"))
  }

  /** The emitted Wald boundary literals ×256 — shared by the Spark
    * plan and the DuckDB twin.
    */
  def sprtBoundsE256(alphaPpm: Long, betaPpm: Long): (Long, Long) = {
    val a = (1 - betaPpm / 1e6) / (alphaPpm / 1e6)
    val b = (betaPpm / 1e6) / (1 - alphaPpm / 1e6)
    (math.round(256 * math.log(a) / math.log(2)),
      math.round(256 * math.log(b) / math.log(2)))
  }

  /** Two-proportion sample-size table (the classic normal-
    * approximation design formula, Fleiss 1981) — the question every
    * q244/q301-style readback begs: how many units PER ARM before the
    * observed lift is even testable. Per group, baseline rate p₁
    * comes from the data, the target p₂ = p₁ + relative MDE, and
    *
    *   n = (z_{1−α/2}·√(2·p̄·q̄) + z_{1−β}·√(p₁q₁ + p₂q₂))² / (p₂−p₁)²
    *
    * Everything is exact ppm except the TWO floor(√) steps (IEEE
    * sqrt of an exact integer is correctly rounded — the
    * cumSqrtFStrata convention) and the z's, which are emitted
    * [[invNorm]] literals ×10⁶ (the q284 one-emitter discipline) —
    * no normal CDF ever runs inside a plan. The final n is one
    * ceiling DECIMAL division (sample sizes round UP).
    *
    * Scale shape: ONE partial aggregation to the group-count table;
    * everything after is group-domain-bounded arithmetic.
    */
  def sampleSizeTwoProportions(df: DataFrame, groupCol: String,
                               successExpr: org.apache.spark.sql.Column,
                               mdeRelPct: Int = 10,
                               alphaPpm: Long = 50000L,
                               powerPpm: Long = 800000L): DataFrame = {
    require(mdeRelPct >= 1, s"mdeRelPct=$mdeRelPct must be >= 1")
    val zA = math.round(1e6 * invNorm(1 - alphaPpm / 1e6 / 2))
    val zB = math.round(1e6 * invNorm(powerPpm / 1e6))
    df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"), sum(successExpr.cast("bigint")).as("k"))
      .withColumn("p1_ppm", expr("CAST((1000000 * k) div n AS BIGINT)"))
      .withColumn("p2_ppm", expr(
        s"least(p1_ppm + ($mdeRelPct * p1_ppm) div 100, " +
          "CAST(999999 AS BIGINT))"))
      .withColumn("__pb", expr("(p1_ppm + p2_ppm) div 2"))
      .withColumn("__sa", expr(
        "CAST(floor(sqrt(2 * __pb * (1000000 - __pb))) AS BIGINT)"))
      .withColumn("__sb", expr(
        "CAST(floor(sqrt(p1_ppm * (1000000 - p1_ppm) + " +
          "p2_ppm * (1000000 - p2_ppm))) AS BIGINT)"))
      .withColumn("__num", expr(
        s"CAST($zA AS DECIMAL(38,0)) * __sa + CAST($zB AS DECIMAL(38,0)) * __sb"))
      .withColumn("__den", expr(
        "CAST(greatest(p2_ppm - p1_ppm, 1) AS DECIMAL(38,0)) * " +
          "greatest(p2_ppm - p1_ppm, 1) * 1000000000000"))
      .select(col("g").as(groupCol), col("n"), col("k"),
        col("p1_ppm"), col("p2_ppm"),
        expr("CAST((__num * __num + __den - 1) div __den AS BIGINT)")
          .as("n_per_arm"))
  }

  /** Benjamini–Hochberg FDR screen (Benjamini & Hochberg 1995) over a
    * FAMILY of per-group two-proportion tests — the multiple-testing
    * guard a metrics pipeline needs before reading m simultaneous
    * segment deltas: each group's success rate is z-tested against
    * the REST (pooled variance), the |z| ranks map to BH critical
    * values zcrit(k) = Φ⁻¹(1 − (k·q/m)/2) via the emitted-constant
    * CASE, and ranks up to the LARGEST k with |z|₍ₖ₎ ≥ zcrit(k) are
    * declared discoveries. `m` is the family size (the caller's
    * group-domain cardinality; missing groups leave the test
    * conservative, which is the safe direction).
    *
    * All counts exact; the z is the ONE float step (rounded ×1000,
    * all BH comparisons integer-vs-literal). Output per group:
    * (group, n, successes, z_x1000, rnk, zcrit_x1000, significant).
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * m-row group-count table; the rest is m-bounded (one-row totals
    * broadcast, rank window and BH max over the m-row table).
    */
  def bhFdrScreen(df: DataFrame, groupCol: String, successExpr:
      org.apache.spark.sql.Column, m: Int,
      qPpm: Long = 50000L): DataFrame = {
    // totals + per-group rows
    val cnt = Lineage.cut(df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(successExpr.cast("bigint")).as("s")))
    val tot = cnt.agg(sum("n").as("nt"), sum("s").as("st"))
    val scored = cnt.crossJoin(broadcast(tot))
      .withColumn("z_x1000", expr(
        "CAST(CASE WHEN n = 0 OR nt = n OR st = 0 OR st = nt THEN 0 ELSE " +
          "round(1000 * (CAST(s AS DOUBLE) / n - " +
          "CAST(st - s AS DOUBLE) / (nt - n)) / " +
          "sqrt((CAST(st AS DOUBLE) / nt) * (1 - CAST(st AS DOUBLE) / nt) * " +
          "(1.0 / n + 1.0 / (nt - n)))) END AS BIGINT)"))
    val w = Window.orderBy(abs(col("z_x1000")).desc, col("g"))
    // m-row report-table window by construction
    // kmax + final report
    val ranked = Lineage.cut(scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("zcrit_x1000",
        expr(bhZcritCaseSql("rnk", m, qPpm))))
    val kmax = ranked
      .agg(coalesce(max(when(abs(col("z_x1000")) >= col("zcrit_x1000"),
        col("rnk"))), lit(0)).as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("g").as(groupCol), col("n"), col("s").as("successes"),
        col("z_x1000"), col("rnk").cast("bigint").as("rnk"),
        col("zcrit_x1000"), (col("rnk") <= col("kmax")).as("significant"))
  }

  /** McNemar's test (McNemar 1947) for PAIRED classifier comparison —
    * the right test when two models score the SAME rows (accuracy
    * deltas double-count the shared easy cases; only the DISCORDANT
    * pairs are evidence): b = rows A gets right and B wrong, c = the
    * reverse, χ² = (b−c)²/(b+c). Everything is exact integers — even
    * the statistic needs no float (one integral divide ×1000).
    * Output one row: (n, both_right, both_wrong, b, c, chi2_x1000).
    *
    * Scale shape: ONE stateless projection + ONE global fold.
    */
  def mcnemar(df: DataFrame, truthCol: String, predACol: String,
              predBCol: String): DataFrame =
    df.select(
        (col(predACol) === col(truthCol)).cast("bigint").as("ra"),
        (col(predBCol) === col(truthCol)).cast("bigint").as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(expr("ra * rb")).as("both_right"),
        sum(expr("(1 - ra) * (1 - rb)")).as("both_wrong"),
        sum(expr("ra * (1 - rb)")).as("b"),
        sum(expr("(1 - ra) * rb")).as("c"))
      .select(col("n"), col("both_right"), col("both_wrong"),
        col("b"), col("c"),
        expr("CAST(CASE WHEN b + c = 0 THEN 0 ELSE " +
          "(1000 * (b - c) * (b - c)) div (b + c) END AS BIGINT)")
          .as("chi2_x1000"))

  /** Split-conformal prediction intervals (Papadopoulos et al. 2002;
    * Vovk et al. 2005) — the distribution-free coverage guarantee a
    * model report should carry: fit any point predictor on the train
    * split, take the ⌈(n+1)(1−α)⌉-th smallest absolute residual on
    * the CALIBRATION split as the interval half-width q̂, and verify
    * the ≥(1−α) coverage empirically on the TEST split. The
    * predictor here is the per-`xCol` train mean (floor-exact), so
    * the whole chain is integer-exact: residuals are integers, q̂ is
    * an exact order statistic selected from the residual-VALUE
    * histogram (never a corpus sort), coverage an exact ppm.
    * One row per α: (alpha_ppm, n_cal, k, qhat, n_test,
    * coverage_ppm). Test/cal rows whose x never appears in train are
    * dropped on both engines (inner join).
    *
    * Scale shape: one train reduction to the x-domain-bounded
    * predictor table (broadcast), one calibration reduction to the
    * residual-value histogram (value-domain-bounded; its cumsum is
    * the audited bounded-window class), then ONE test-split pass: the
    * ≤|α|-row q̂ table broadcasts against the test scan and every
    * α's coverage count folds in the SAME aggregation
    * (Σ when(r ≤ q̂ᵢ) per α via the tiny-side expand). NO
    * checkpoint anywhere — the r14 form cut the
    * corpus-proportional test-residual table (a non-replicated
    * executor-local materialization, the disk-fill/executor-loss
    * hazard class) and probed it once per α; the three split scans
    * now each re-read the source with the split filter pushed down.
    */
  def conformalIntervals(df: DataFrame, xCol: String, yCol: String,
                         splitCol: String,
                         alphaPpms: Seq[Long] = Seq(100000L, 50000L))
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(xCol).as("x"), col(yCol).as("y"),
      col(splitCol).as("sp"))
    val pred = broadcast(base.where(col("sp") >= 2L)
      .groupBy("x")
      .agg(expr("CAST(sum(CAST(y AS DECIMAL(38,0))) div count(1) " +
        "AS BIGINT)").as("yhat")))
    // value-domain-bounded histogram, 2 consumers
    val resid = Lineage.cut(base.where(col("sp") === 1L).join(pred, Seq("x"))
      .select(abs(col("y") - col("yhat")).as("r"))
      .groupBy("r").agg(count(lit(1)).as("cnt")))
    val nCal = resid.agg(sum("cnt").as("n_cal"))
    val w = Window.orderBy("r")
      .rowsBetween(Window.unboundedPreceding, 0)
    // residual-VALUE histogram window: value-domain-bounded
    val cum = resid.crossJoin(broadcast(nCal))
      .withColumn("cum", sum("cnt").over(w))
    val alphas = alphaPpms.toDF("alpha_ppm")
    val qhat = broadcast(alphas).join(cum,
        col("cum") >= expr("least(n_cal, " +
          "((n_cal + 1) * (1000000 - alpha_ppm) + 999999) div 1000000)"))
      .groupBy("alpha_ppm")
      .agg(max("n_cal").as("n_cal"),
        max(expr("least(n_cal, ((n_cal + 1) * (1000000 - alpha_ppm) " +
          "+ 999999) div 1000000)")).as("k"),
        min("r").as("qhat"))
    val test = base.where(col("sp") === 0L).join(pred, Seq("x"))
      .select(abs(col("y") - col("yhat")).as("r"))
    // one corpus pass: the |α|-row broadcast expands each test row to
    // its α copies inside the same stage (BNLJ over a tiny build
    // side), and count/Σwhen fold per α — n_test is the group count,
    // so no second test scan either. The outer join back to qhat
    // keeps every α row alive when the test split is empty.
    val cov = test.crossJoin(broadcast(qhat))
      .groupBy("alpha_ppm")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_cov"))
    qhat.join(broadcast(cov), Seq("alpha_ppm"), "left")
      .select(col("alpha_ppm"), col("n_cal"), col("k"), col("qhat"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        expr("CAST(CASE WHEN coalesce(n_test, 0) = 0 THEN 0 ELSE " +
          "(1000000 * coalesce(n_cov, 0)) div n_test END AS BIGINT)")
          .as("coverage_ppm"))
  }

  def paretoFront2d(df: DataFrame, minCol: String, maxCol: String,
                    bandWidth: Long = 10000L): DataFrame = {
    val base = df.withColumn("__band", expr(s"$minCol div $bandWidth"))
    val bands = base.groupBy("__band").agg(max(maxCol).as("__bb"))
    val wb = Window.orderBy("__band").rowsBetween(Window.unboundedPreceding, -1)
    // bucket-table window: bounded by the band count (value-domain / bandWidth)
    val cutoff = bands.withColumn("__cut", max("__bb").over(wb))
    val survivors = base.join(broadcast(cutoff), Seq("__band"))
      .where(col("__cut").isNull || col(maxCol) > col("__cut"))
    // survivor-table windows: bounded by construction (see Scaladoc)
    val wStrict = Window.orderBy(minCol).rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy(minCol)
    survivors
      .withColumn("__dom", max(maxCol).over(wStrict))
      .withColumn("__peer", max(maxCol).over(wSame))
      .where((col("__dom").isNull || col(maxCol) > col("__dom")) &&
        col(maxCol) === col("__peer"))
      .drop("__band", "__bb", "__cut", "__dom", "__peer")
  }

  /** Reliability diagram + expected calibration error (Naeini et al.
    * 2015's ECE over equal-width bins): predictions in ppm are cut
    * into `nBins` confidence bins; per bin the mean predicted
    * probability (`conf_ppm`), the observed positive rate
    * (`acc_ppm`), their absolute gap, and the corpus-weighted ECE
    * Σ (n_b/N)·|acc_b − conf_b| repeated on every row (the report is
    * ≤ nBins rows, so the repeat is free and keeps the output
    * self-contained). Distinct from both neighbors in the family:
    * q286's isotonic regression FITS a repair, and
    * [[Profile.calibrationReport]] (q212) curves accuracy against a
    * multiclass confidence SURROGATE — ECE scores a probability
    * forecast against the observed rate on the same scale, the
    * proper-calibration gap itself. Exact integer — the only
    * divisions are BIGINT/DECIMAL `div`.
    *
    * Scale shape: one scan folds to the ≤ nBins-row table; the
    * ECE fold and the total row are one-row broadcasts.
    */
  def calibrationBins(df: DataFrame, probPpmCol: String,
                      labelExpr: org.apache.spark.sql.Column,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && 1000000 % nBins == 0,
      s"nBins=$nBins must be >= 2 and divide 1e6")
    val width = 1000000 / nBins
    // input contract: probPpmCol is a probability in ppm, [0, 1e6].
    // The bin id is clamped on BOTH ends (a caller feeding raw scores
    // would otherwise land negative bin ids the oracle twin mirrors
    // blindly); the per-bin conf_ppm still reflects the raw values,
    // so out-of-domain inputs show up as conf outside [0, 1e6]
    // ≤ nBins rows feed three consumers
    val b = Lineage.cut(df.select(
        expr(s"least(greatest(CAST($probPpmCol div $width AS BIGINT), 0), " +
          s"${nBins - 1})").as("bin"),
        col(probPpmCol).cast("bigint").as("p"),
        labelExpr.cast("bigint").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("p").as("sp"), sum("y").as("sy")))
    calibrationFromBinsDf(b)
  }

  /** The reliability/ECE readback over an additive per-bin
    * (bin, n, Σp, Σy) count table — the streaming form of
    * [[calibrationBins]]: per-bin counts fold across micro-batches
    * (all three sums are additive), so a foreachBatch monitor
    * accumulates them and emits the live reliability diagram through
    * the SAME arithmetic as the batch operator.
    */
  def calibrationFromCounts(spark: org.apache.spark.sql.SparkSession,
                            counts: Seq[(Long, Long, Long, Long)])
      : DataFrame = {
    import spark.implicits._
    calibrationFromBinsDf(counts.toDF("bin", "n", "sp", "sy"))
  }

  /** Risk–coverage curve (El-Yaniv & Wiener 2010's selective-risk
    * lens; Geifman & El-Yaniv 2017's AURC companion): items are
    * accepted in ascending forecast-risk order, and at every distinct
    * score cut the curve reports coverage (share accepted) against
    * selective risk (observed loss rate among the accepted) — the
    * operating table behind "abstain on the risky tail", sharper than
    * q309's ECE (which scores the probabilities themselves) and the
    * forecast-side complement to q289's conformal band. Exact
    * integer: one (score → n, losses) reduction, the cumulative
    * window over the score-VALUE table, two ppm divides per cut.
    *
    * Scale shape: one corpus reduction to the score-domain-bounded
    * count table (≤ 10⁶+1 ppm values — constant in corpus size); the
    * cumulative window and the one-row total broadcast run over that
    * bounded table (the q92/q302 audited cumsum class).
    */
  def riskCoverage(df: DataFrame, scorePpmCol: String,
                   lossExpr: org.apache.spark.sql.Column): DataFrame =
    riskCoverageFromCountsDf(
      df.select(col(scorePpmCol).cast("bigint").as("p"),
          lossExpr.cast("bigint").as("y"))
        .groupBy("p")
        .agg(count(lit(1)).as("n"), sum("y").as("e")))

  /** [[riskCoverage]] from pre-reduced (score → n, losses) counts —
    * the additive streaming readback (the [[chiSquaredFromCounts]]
    * convention): a streaming job maintains the per-score counts
    * (one bounded-domain aggregation state) and replays this fold
    * per trigger, bit-identical to the batch operator over the same
    * delivered items.
    */
  def riskCoverageFromCounts(spark: org.apache.spark.sql.SparkSession,
                             counts: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    riskCoverageFromCountsDf(counts.toDF("p", "n", "e")
      .groupBy("p").agg(sum("n").as("n"), sum("e").as("e")))
  }

  private def riskCoverageFromCountsDf(c0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // totals + window off one reduction
    val c = Lineage.cut(c0)
    val tot = c.agg(sum("n").cast("bigint").as("n_total"))
    val w = Window.orderBy("p") // score-domain-bounded by construction
      .rowsBetween(Window.unboundedPreceding, 0)
    c.withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_e", sum("e").over(w))
      .crossJoin(broadcast(tot))
      .select(col("p").as("score_ppm"), col("n").cast("bigint").as("n"),
        col("cum_n").cast("bigint").as("cum_n"),
        expr("CAST((1000000 * CAST(cum_n AS DECIMAL(38,0))) " +
          "div greatest(n_total, 1) AS BIGINT)").as("coverage_ppm"),
        col("cum_e").cast("bigint").as("cum_losses"),
        expr("CAST((1000000 * CAST(cum_e AS DECIMAL(38,0))) " +
          "div greatest(cum_n, 1) AS BIGINT)").as("risk_ppm"))
  }

  /** Brown–Forsythe variance-homogeneity test (Brown & Forsythe
    * 1974): one-way ANOVA on the absolute deviations from each
    * group's MEDIAN — "do the groups even have comparable spread",
    * the assumption check behind q315's mean comparison (the
    * median-based Levene variant, robust to heavy tails). The group
    * median is the exact ceil-rank order statistic off the
    * value-count table (q235's convention — never a corpus sort),
    * and the deviations fold through the counted-moment form of the
    * shared [[anovaFromGroupMoments]] arithmetic.
    *
    * Scale shape: one (group, value) count reduction; the median
    * rank window runs over each group's DISTINCT values and the
    * ANOVA folds over the group table.
    */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueExpr: org.apache.spark.sql.Column): DataFrame = {
    // feeds totals, the median rank and the fold
    val c = Lineage.cut(df.select(col(groupCol).as("g"),
        valueExpr.cast("bigint").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt")))
    val tot = c.groupBy("g").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val med = c.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot), Seq("g"))
      .where(expr("cum >= (50 * n + 99) div 100"))
      .groupBy("g").agg(min("v").as("med"))
    val gm = c.join(broadcast(med), Seq("g"))
      .withColumn("d", expr("abs(v - med)"))
      .groupBy(lit(0L).as("__key"), col("g"))
      .agg(sum("cnt").as("ng"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * d")).as("sg"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * d * d")).as("qg"))
    anovaFromGroupMoments(gm, "__key").drop("__key")
  }

  /** Cochran's Q (Cochran 1950): k matched binary classifiers on the
    * SAME units — "do they differ at all", the k-way extension of
    * q290's McNemar (k = 2 reduces to it). Q = (k−1)·[k·ΣC_j² − T²]
    * / [k·T − ΣR_i²] from per-unit row sums and per-classifier
    * column totals — like McNemar, ONE exact integral divide, no
    * float anywhere (the numerator is ≥ 0 by Cauchy–Schwarz; a
    * degenerate denominator — every unit all-right or all-wrong —
    * reports −1).
    *
    * Scale shape: one scan folds to a single row of k+3 sums.
    */
  def cochranQ(df: DataFrame, flagCols: Seq[String]): DataFrame = {
    val k = flagCols.size
    require(k >= 2 && k <= 16, s"flagCols must hold 2..16 columns, got $k")
    val r = df.select(flagCols.map(c => col(c).cast("bigint").as(c)): _*)
      .withColumn("__r", flagCols.map(col).reduce(_ + _))
    val sums = Seq(count(lit(1)).as("nu"), sum("__r").as("t"),
      sum(expr("__r * __r")).as("sr2")) ++
      flagCols.zipWithIndex.map { case (c, i) => sum(col(c)).as(s"__c$i") }
    val sc2 = flagCols.indices
      .map(i => s"CAST(__c$i AS DECIMAL(38,0)) * __c$i").mkString(" + ")
    r.agg(sums.head, sums.tail: _*)
      .select(col("nu").cast("bigint").as("n_units"),
        lit(k.toLong).as("k"), col("t").cast("bigint").as("n_correct"),
        expr(s"CAST(CASE WHEN $k * t - sr2 <= 0 THEN -1 ELSE " +
          s"(1000 * ${k - 1} * ($k * ($sc2) - " +
          "CAST(t AS DECIMAL(38,0)) * t)) div " +
          s"($k * CAST(t AS DECIMAL(38,0)) - sr2) END AS BIGINT)")
          .as("q_x1000"))
  }

  /** Standardized (adjusted) Pearson residuals of a two-way
    * contingency table: the per-cell drill-down behind a significant
    * χ² (q277 says the table ISN'T independent; this names WHICH
    * cells over/under-index and by how many standard deviations —
    * |resid| ≥ 2 is the conventional callout, and it belongs to THIS
    * form: the cell variance under independence is
    * e·(1 − nr/n)·(1 − nc/n) (Agresti, Categorical Data Analysis
    * §3.3.1), not e — the plain (o − e)/√e understates, e.g. every
    * 2×2 standardized residual has magnitude √χ². Expected counts
    * are exact ×10⁶ DECIMAL (zero cells of the full marginal grid
    * included, the q277 discipline); the variance folds the two
    * margin factors through exact integral divides and the residual
    * is integer ×1000 via floor(√) with sign-symmetric division.
    * floor(√(v·10⁶)) is double-exact to v ≈ 4.5·10⁹ per cell —
    * pre-bucket the dimensions past that. A degenerate margin
    * (nr = n or nc = n) zeroes the variance, but then o = e exactly,
    * so the clamped divisor reports resid 0 rather than a blow-up.
    *
    * Scale shape: one cell-count reduction; margins and the grid
    * derive from it (rows × cols bounded).
    */
  def chiResiduals(df: DataFrame, rowCol: String,
                   colCol: String): DataFrame = {
    // margins + grid off one reduction
    val cells = Lineage.cut(df.groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("o")))
    val rm = cells.groupBy("r").agg(sum("o").as("nr"))
    val cm = cells.groupBy("c").agg(sum("o").as("nc"))
    val tot = cells.agg(sum("o").as("n"))
    rm.crossJoin(broadcast(cm)) // rows × cols grid, bounded
      .join(cells, Seq("r", "c"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .select(col("r"), col("c"), col("o").cast("bigint").as("o"),
        expr("CAST((1000000 * CAST(nr AS DECIMAL(38,0)) * nc) div " +
          "greatest(n, 1) AS BIGINT)").as("e_x1e6"),
        // v = e·(n−nr)/n·(n−nc)/n, the margin factors folded one
        // exact integral divide at a time (a single n³ denominator
        // would need n⁴ in the numerator — DECIMAL(38) dies at
        // n ≈ 10⁸; this form holds to n ≈ 10¹⁶)
        expr("CAST((CAST((CAST((1000000 * CAST(nr AS DECIMAL(38,0)) * nc) " +
          "div greatest(n, 1) AS DECIMAL(38,0)) * (n - nr)) " +
          "div greatest(n, 1) AS DECIMAL(38,0)) * (n - nc)) " +
          "div greatest(n, 1) AS BIGINT)").as("v_x1e6"))
      .withColumn("__s", expr(
        "greatest(CAST(floor(sqrt(CAST(v_x1e6 AS DOUBLE))) AS BIGINT), 1)"))
      .withColumn("resid_x1000", expr(
        "CASE WHEN 1000000 * o >= e_x1e6 " +
          "THEN (1000000 * o - e_x1e6) div __s " +
          "ELSE -((e_x1e6 - 1000000 * o) div __s) END"))
      .select(col("r").as(rowCol), col("c").as(colCol), col("o"),
        col("e_x1e6"), col("resid_x1000"))
  }

  /** Cohen's d standardized mean difference of every group against a
    * designated baseline (Cohen 1988, with the pooled-SD convention)
    * — the PARAMETRIC effect size beside q329's ordinal Cliff's δ and
    * q278's MWU z: when the scale is meaningful, "how many pooled
    * standard deviations apart are the means" is the number a power
    * analysis (q304) consumes. Exact integer throughout: group
    * moments (n, Σx, Σx²) through DECIMAL(38); the pooled variance is
    * one integral divide of the common-denominator form
    * ((n_b·Q_b−S_b²)·n_o + (n_o·Q_o−S_o²)·n_b) div (n_b·n_o·(n_b+n_o−2)),
    * and d_x1000 = ±(1000·|S_o·n_b − S_b·n_o|) div (n_b·n_o·⌊√v⌋)
    * (positive = group mean ABOVE baseline). Degenerate pools
    * (n_b+n_o ≤ 2 or zero variance) report 0.
    *
    * Scale shape: ONE (group) moment reduction; everything after is
    * a bounded-group-table broadcast of the baseline row.
    */
  def cohensD(df: DataFrame, groupCol: String,
              valueExpr: org.apache.spark.sql.Column,
              baseline: String): DataFrame = {
    val m = df.select(col(groupCol).cast("string").as("g"),
        valueExpr.cast("bigint").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(v AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("q"))
    cohensDFromMomentsDf(m, groupCol, baseline)
  }

  /** The Cohen's d readback over additive per-group (n, Σx, Σx²)
    * moments — the streaming form of [[cohensD]]: the three moments
    * fold across micro-batches, so a foreachBatch monitor accumulates
    * them and emits the live effect sizes through the SAME pooled
    * arithmetic.
    */
  def cohensDFromMoments(spark: org.apache.spark.sql.SparkSession,
                         moments: Seq[(String, Long, Long, Long)],
                         groupCol: String, baseline: String): DataFrame = {
    import spark.implicits._
    cohensDFromMomentsDf(
      moments.toDF("g", "bn", "bs", "bq")
        .groupBy("g")
        .agg(sum("bn").as("n"),
          sum(expr("CAST(bs AS DECIMAL(38,0))")).as("s"),
          sum(expr("CAST(bq AS DECIMAL(38,0))")).as("q")),
      groupCol, baseline)
  }

  /** The pooled-variance d arithmetic over a (g, n, s, q) moment
    * table — shared VERBATIM by [[cohensD]] and
    * [[cohensDFromMoments]].
    */
  private def cohensDFromMomentsDf(moments: DataFrame, groupCol: String,
                                   baseline: String): DataFrame = {
    // baseline row + comparison rows share it
    val m = Lineage.cut(moments)
    val base = m.where(col("g") === lit(baseline))
      .select(col("n").as("nb"), col("s").as("sb"), col("q").as("qb"))
    m.where(col("g") =!= lit(baseline))
      .crossJoin(broadcast(base))
      .withColumn("__v", expr(
        "CASE WHEN nb + n <= 2 THEN CAST(0 AS DECIMAL(38,0)) ELSE " +
          "((nb * qb - sb * sb) * n + (n * q - s * s) * nb) div " +
          "(nb * n * (nb + n - 2)) END"))
      .withColumn("__den", expr(
        "greatest(CAST(floor(sqrt(CAST(__v AS DOUBLE))) AS DECIMAL(38,0)), 1)"))
      .select(col("g").as(groupCol),
        col("nb").cast("bigint").as("n_base"),
        col("n").cast("bigint").as("n_other"),
        expr("CAST((1000 * sb) div nb AS BIGINT)").as("mean_base_x1000"),
        expr("CAST((1000 * s) div n AS BIGINT)").as("mean_other_x1000"),
        expr("CAST(CASE WHEN __v <= 0 THEN 0 " +
          "WHEN s * nb >= sb * n THEN " +
          "(1000 * (s * nb - sb * n)) div (nb * n * __den) " +
          "ELSE -((1000 * (sb * n - s * nb)) div (nb * n * __den)) " +
          "END AS BIGINT)").as("d_x1000"))
  }

  /** Within-block ×2 midranks over complete matched blocks — the
    * shared rank stage of [[friedmanTest]] and [[pageTrend]]. One
    * (block, treatment) SUM reduction collapses the corpus; a block
    * missing any treatment is dropped (the matched design needs all
    * k measurements); mr2 = 2·rank − 1 + |ties| keeps midranks
    * integral (untied ranks land on 2,4,…,2k). Both windows
    * partition BY BLOCK — k-row partitions, millions of them, so the
    * rank stage scales with blocks, never serializes.
    */
  private def matchedBlockRanks(df: DataFrame, blockCol: String,
                                treatCol: String,
                                valueExpr: org.apache.spark.sql.Column)
      : DataFrame = {
    val cell = df.select(col(blockCol).as("b"), col(treatCol).as("t"),
        valueExpr.cast("bigint").as("v"))
      .groupBy("b", "t").agg(sum("v").as("v"))
    val kTot = cell.agg(countDistinct("t").as("k"))
    cell
      .withColumn("kb", count(lit(1)).over(Window.partitionBy("b")))
      .crossJoin(broadcast(kTot))
      .where(col("kb") === col("k"))
      .withColumn("mr2",
        lit(2L) * rank().over(Window.partitionBy("b").orderBy("v"))
          - lit(1L) + count(lit(1)).over(Window.partitionBy("b", "v")))
      .select(col("b"), col("t"), col("v"), col("mr2"), col("k"))
  }

  /** Friedman matched-block rank test (Friedman 1937): k treatments
    * measured on the SAME blocks — the within-subjects member of the
    * compare-k family (q315 ANOVA and q322 KW compare independent
    * groups; q325 Cochran's Q is this test's binary special case).
    * Each complete block ranks its k values (×2 midranks), and
    *
    *   Q = (k−1) · Σⱼ (R2ⱼ − n(k+1))² / (A2 − C2)
    *
    * with A2 = Σ mr2² and C2 = n·k(k+1)² — the Conover form whose
    * denominator carries the tie correction automatically (untied it
    * reduces to the textbook 12/(nk(k+1))·ΣRⱼ² − 3n(k+1)). Every sum
    * is exact DECIMAL and the two divides are integral, so
    * `q_x1000` and the Kendall's-W effect size `w_ppm` = Q/(n(k−1))
    * are engine-exact; an all-tied corpus (A2 = C2) reports −1.
    *
    * Scale shape: one (block, treatment) reduction; per-block k-row
    * rank windows; one global fold to k treatment rows then one row.
    */
  def friedmanTest(df: DataFrame, blockCol: String, treatCol: String,
                   valueExpr: org.apache.spark.sql.Column): DataFrame = {
    val ranked = matchedBlockRanks(df, blockCol, treatCol, valueExpr)
    val perT = ranked.groupBy("t")
      .agg(max("k").as("k"), count(lit(1)).as("n"),
        sum(expr("CAST(mr2 AS DECIMAL(38,0))")).as("r2j"),
        sum(expr("CAST(mr2 AS DECIMAL(38,0)) * mr2")).as("a2j"))
    perT.agg(max("k").as("k"), max("n").as("n"),
        sum(expr("(r2j - CAST(n AS DECIMAL(38,0)) * (k + 1)) * " +
          "(r2j - CAST(n AS DECIMAL(38,0)) * (k + 1))")).as("num"),
        sum("a2j").as("a2"))
      .select(col("n").cast("bigint").as("n_blocks"),
        col("k").cast("bigint").as("k"),
        expr("CAST(CASE WHEN a2 - CAST(n AS DECIMAL(38,0)) * k * (k + 1) " +
          "* (k + 1) <= 0 THEN -1 ELSE (1000 * (k - 1) * num) div " +
          "(a2 - CAST(n AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)) " +
          "END AS BIGINT)").as("q_x1000"),
        expr("CAST(CASE WHEN n = 0 OR a2 - CAST(n AS DECIMAL(38,0)) * k " +
          "* (k + 1) * (k + 1) <= 0 THEN -1 ELSE (1000000 * num) div " +
          "((a2 - CAST(n AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)) * n) " +
          "END AS BIGINT)").as("w_ppm"))
  }

  /** Page's L ordered-trend test (Page 1963): [[friedmanTest]]'s
    * any-difference question sharpened to "do the values RISE along
    * the treatment order" (what q324's JT asks of independent
    * groups, asked of matched blocks). The treatment must be
    * numeric; j = its 1..k order index. Reported as the exact ×2
    * statistic L2 = Σⱼ j·R2ⱼ plus `page_ppm` — L2's position between
    * the perfect-fall floor 2n·Σj(k+1−j) and the perfect-rise
    * ceiling 2n·Σj² (ties land between; all-tied reads exactly
    * 500000, the q324 ppm convention) — so no variance
    * approximation and nothing float anywhere.
    *
    * Scale shape: the [[matchedBlockRanks]] stage, then a k-row fold.
    */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
                valueExpr: org.apache.spark.sql.Column): DataFrame = {
    val ranked = matchedBlockRanks(df, blockCol, treatCol, valueExpr)
    // j = dense order index of the treatment — derived on the k-row
    // distinct-treatment table (bounded window by construction)
    val tIdx = ranked.select(col("t").cast("bigint").as("t")).distinct()
      .withColumn("j", row_number().over(Window.orderBy("t")))
    ranked.join(broadcast(tIdx), ranked("t").cast("bigint") === tIdx("t"))
      .groupBy()
      .agg(max("k").as("k"),
        (count(lit(1)) / max("k")).cast("bigint").as("n"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * mr2")).as("l2"))
      .select(col("n").as("n_blocks"), col("k").cast("bigint").as("k"),
        col("l2").cast("bigint").as("l_x2"),
        // floor/ceiling from the closed forms Σj² = k(k+1)(2k+1)/6,
        // Σj(k+1−j) = k(k+1)²/2 − k(k+1)(2k+1)/6 (both ×2n)
        expr("CAST(CASE WHEN n = 0 OR k < 2 THEN -1 ELSE " +
          "(1000000 * (l2 - CAST(n AS DECIMAL(38,0)) * (k * (k+1) * (k+1) " +
          "- k * (k+1) * (2*k+1) div 3))) div " +
          "(CAST(n AS DECIMAL(38,0)) * (2 * (k * (k+1) * (2*k+1) div 3) " +
          "- k * (k+1) * (k+1))) END AS BIGINT)").as("page_ppm"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945): matched PAIRS with a
    * magnitude — q290's McNemar sees only flip directions; this
    * weighs each pair's difference by its rank, the standard "did
    * the same population's value shift" test. Zero differences drop
    * (the standard convention); |d| midranks ×2 come off the
    * (|d|, count) table (the caller discretizes d — the rocAuc
    * contract — so the rank window runs over the bounded value
    * domain); with S2 = Σ sign(d)·mr2, Var(S2) = Σ count·mr2² EXACTLY
    * (each sign is ±1 independent under H₀, and the midrank form
    * absorbs ties), so z = S2/√Var — `z_x1000` via the floor(√) +
    * sign-symmetric divide — needs no separate tie correction.
    * `w2_plus`/`w2_minus` are the exact ×2 rank sums.
    *
    * Scale shape: one (|d|, sign) count reduction; the rank window
    * runs over distinct |d| values; one-row fold.
    */
  def wilcoxonSignedRank(df: DataFrame,
                         xExpr: org.apache.spark.sql.Column,
                         yExpr: org.apache.spark.sql.Column): DataFrame =
    wilcoxonFromCellsDf(
      df.select((xExpr.cast("bigint") - yExpr.cast("bigint")).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n")))

  /** The signed-rank readback over additive (signed difference →
    * count) cells — the streaming form: per-d counts fold across
    * micro-batches (the [[kruskalWallisFromCounts]] discipline), so
    * a foreachBatch monitor accumulates them and emits the live z
    * through the SAME arithmetic as the batch operator.
    */
  def wilcoxonFromCounts(spark: org.apache.spark.sql.SparkSession,
                         counts: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    wilcoxonFromCellsDf(counts.toDF("d", "n")
      .groupBy("d").agg(sum("n").as("n")))
  }

  /** The signed-rank arithmetic over a (d, n) count table — shared
    * VERBATIM by [[wilcoxonSignedRank]] and [[wilcoxonFromCounts]].
    */
  private def wilcoxonFromCellsDf(cells: DataFrame): DataFrame = {
    val d = cells.where(col("d") =!= 0L)
      .select(abs(col("d")).as("a"),
        when(col("d") > 0, col("n")).otherwise(lit(0L)).as("p"),
        col("n"))
      .groupBy("a").agg(sum("n").as("t"), sum("p").as("np"))
    val w = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, -1)
    // (|d|, count) table window: bounded by the discretized d domain
    d.withColumn("mr2", lit(2L) * coalesce(sum("t").over(w), lit(0L))
        + col("t") + lit(1L))
      .agg(sum("t").cast("bigint").as("n_pairs"),
        sum(expr("CAST(np AS DECIMAL(38,0)) * mr2")).as("w2p"),
        sum(expr("CAST(t - np AS DECIMAL(38,0)) * mr2")).as("w2m"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * mr2 * mr2")).as("v4"))
      .select(col("n_pairs"),
        col("w2p").cast("bigint").as("w2_plus"),
        col("w2m").cast("bigint").as("w2_minus"),
        expr("CAST(CASE WHEN v4 <= 0 THEN 0 WHEN w2p >= w2m THEN " +
          "(1000 * (w2p - w2m)) div " +
          "greatest(CAST(floor(sqrt(CAST(v4 AS DOUBLE))) AS DECIMAL(38,0)), 1) " +
          "ELSE -((1000 * (w2m - w2p)) div " +
          "greatest(CAST(floor(sqrt(CAST(v4 AS DOUBLE))) AS DECIMAL(38,0)), 1)) " +
          "END AS BIGINT)").as("z_x1000"))
  }

  /** Cliff's delta ordinal effect size (Cliff 1993) between every
    * ordered pair of groups: δ = [#(xₐ>x_b) − #(xₐ<x_b)] / (nₐ·n_b)
    * — the magnitude companion to q278's MWU z (z says "shifted,
    * confidently"; δ says "by how much", scale-free and robust).
    * Exact over the (group, value) count grid via per-group
    * below-cumulatives (the q324 JT machinery pointed at effect
    * size): greater = Σᵥ nₐ(v)·C_b(v⁻), less = Σᵥ nₐ(v)·(n_b −
    * C_b(v⁻) − n_b(v)), delta_ppm = 10⁶(gt−lt) div (nₐn_b)
    * sign-symmetric. |δ| ≥ 0.474 is Romano et al.'s "large" callout.
    *
    * Scale shape: one (group, value) reduction; the zero-filled
    * k × values grid, per-group cumulatives over it, and a
    * (k² × values)-bounded pair join — groups and the discretized
    * value domain bound everything after the first reduction.
    */
  def cliffsDelta(df: DataFrame, groupCol: String,
                  valueExpr: org.apache.spark.sql.Column): DataFrame =
    cliffsFromCellsDf(
      df.select(col(groupCol).cast("string").as("g"),
          valueExpr.cast("bigint").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("n")))

  /** The Cliff's-delta readback over additive (group, value, count)
    * cells — the streaming form (the [[kruskalWallisFromCounts]]
    * discipline): a foreachBatch monitor folds per-cell counts and
    * emits the live pairwise δ through the SAME arithmetic.
    */
  def cliffsFromCounts(spark: org.apache.spark.sql.SparkSession,
                       counts: Seq[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    cliffsFromCellsDf(counts.toDF("g", "v", "n")
      .groupBy("g", "v").agg(sum("n").as("n")))
  }

  /** The pairwise-δ arithmetic over a (g, v, n) cell table — shared
    * VERBATIM by [[cliffsDelta]] and [[cliffsFromCounts]].
    */
  private def cliffsFromCellsDf(cells0: DataFrame): DataFrame = {
    // grid + cums + totals off one reduction
    val cells = Lineage.cut(cells0)
    val vals = cells.select("v").distinct()
    val grps = cells.select("g").distinct()
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = grps.crossJoin(broadcast(vals)) // k × values, bounded
      .join(cells, Seq("g", "v"), "left").na.fill(0L, Seq("n"))
      .withColumn("cb", coalesce(sum("n").over(w), lit(0L)))
    val tot = cells.groupBy("g").agg(sum("n").as("ng"))
    val a = grid.select(col("g").as("g_a"), col("v"), col("n").as("na"))
    val b = grid.select(col("g").as("g_b"), col("v"),
      col("cb").as("cbb"), col("n").as("nbv"))
    a.join(b, Seq("v")).where(col("g_a") < col("g_b"))
      .join(broadcast(tot.select(col("g").as("g_b"), col("ng").as("n_b"))),
        Seq("g_b"))
      .groupBy("g_a", "g_b")
      .agg(max("n_b").as("n_b"),
        sum(expr("CAST(na AS DECIMAL(38,0)) * cbb")).as("gt"),
        sum(expr("CAST(na AS DECIMAL(38,0)) * (n_b - cbb - nbv)")).as("lt"))
      .join(broadcast(tot.select(col("g").as("g_a"), col("ng").as("n_a"))),
        Seq("g_a"))
      .select(col("g_a"), col("g_b"),
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        col("gt").cast("bigint").as("gt_pairs"),
        col("lt").cast("bigint").as("lt_pairs"),
        expr("CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0 " +
          "WHEN gt >= lt THEN (1000000 * (gt - lt)) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) " +
          "ELSE -((1000000 * (lt - gt)) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b)) END AS BIGINT)")
          .as("delta_ppm"))
  }

  /** Jonckheere–Terpstra ordered trend (Jonckheere 1954): when the
    * factor has a natural ORDER (priority 1..5, quality deciles),
    * "does the value rise along it" beats KW's unordered
    * any-difference. Reported as the exact concordance share
    * jt_ppm = J / max-J (ties counted half) — 500000 reads "no
    * trend", 10⁶ "perfectly increasing", 0 "perfectly decreasing" —
    * plus the raw ×2 statistic and pair count; everything integer
    * (J×2 = Σ_{i<j} Σ_v n_j(v)·(2·C_i(v⁻) + n_i(v)) off the
    * zero-filled per-group value cumulative), so no normal
    * approximation and nothing to drift between engines.
    *
    * Scale shape: one (rank, value) count reduction; the cumulative
    * runs per group over the bounded value grid and the pair join
    * is (k² × values)-bounded.
    */
  def jonckheereTrend(df: DataFrame, rankExpr: org.apache.spark.sql.Column,
                      valueExpr: org.apache.spark.sql.Column): DataFrame =
    jonckheereFromCellsDf(
      df.select(rankExpr.cast("bigint").as("g"),
          valueExpr.cast("bigint").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("n")))

  /** The JT readback over additive (rank, value, count) cells — the
    * streaming form, same additive-cell contract as
    * [[kruskalWallisFromCounts]].
    */
  def jonckheereFromCounts(spark: org.apache.spark.sql.SparkSession,
                           counts: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    jonckheereFromCellsDf(counts.toDF("g", "v", "n")
      .groupBy("g", "v").agg(sum("n").as("n")))
  }

  /** The concordance-share arithmetic over a (g, v, n) cell table —
    * shared VERBATIM by [[jonckheereTrend]] and
    * [[jonckheereFromCounts]].
    */
  private def jonckheereFromCellsDf(cells0: DataFrame): DataFrame = {
    // grid, cums and totals off one reduction
    val cells = Lineage.cut(cells0)
    val vals = cells.select("v").distinct()
    val grps = cells.select("g").distinct()
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val grid = grps.crossJoin(broadcast(vals)) // k × values, bounded
      .join(cells, Seq("g", "v"), "left").na.fill(0L, Seq("n"))
      .withColumn("cb", coalesce(sum("n").over(w), lit(0L)))
    val a = grid.select(col("g").as("gi"), col("v"),
      col("cb").as("ci"), col("n").as("ni"))
    val b = grid.select(col("g").as("gj"), col("v"), col("n").as("nj"))
    val j2 = a.join(b, Seq("v"))
      .where(col("gi") < col("gj"))
      .agg(sum(expr("CAST(nj AS DECIMAL(38,0)) * (2 * ci + ni)"))
        .as("j2"))
    val tot = cells.groupBy("g").agg(sum("n").as("ng"))
      .agg(sum("ng").as("nn"), count(lit(1)).as("k"),
        sum(expr("CAST(ng AS DECIMAL(38,0)) * ng")).as("sq"))
    j2.crossJoin(broadcast(tot))
      .select(col("nn").cast("bigint").as("n_rows"),
        col("k").as("n_groups"),
        col("j2").cast("decimal(38,0)").as("j_x2"),
        expr("CAST(nn AS DECIMAL(38,0)) * nn - sq").as("pairs_x2"))
      .select(col("n_rows"), col("n_groups"),
        col("j_x2").cast("bigint").as("j_x2"),
        col("pairs_x2").cast("bigint").as("pairs_x2"),
        expr("CAST(CASE WHEN pairs_x2 <= 0 THEN -1 " +
          "ELSE (1000000 * j_x2) div pairs_x2 END AS BIGINT)")
          .as("jt_ppm"))
  }

  /** Kruskal–Wallis rank test (Kruskal & Wallis 1952): the
    * nonparametric member of the compare-k-groups family — q315's F
    * assumes comparable spread (q321 checks it); when either fails,
    * the rank statistic H still answers "do the groups differ".
    * Pooled midranks ×2 off the (group, value) count table keep
    * every rank sum an exact integer (the q278 MWU discipline
    * generalized to k groups); Σ R_g²/n_g runs through the s·q +
    * (s·r) div d quotient decomposition so the exact sum survives
    * DECIMAL38 to N ≈ 10¹²; the tie-corrected H and the ε² effect
    * size are the one float step from the named exact sums. The
    * caller passes a bounded/discretized value (the rocAuc
    * contract) so the rank window runs over the value domain.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueExpr: org.apache.spark.sql.Column): DataFrame =
    kruskalWallisFromCellsDf(
      df.select(col(groupCol).as("g"), valueExpr.cast("bigint").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("n")))

  /** The KW readback over additive (group, value, count) cells — the
    * streaming form: per-cell counts fold across micro-batches (the
    * [[mannWhitneyFromCounts]] discipline), so a foreachBatch
    * monitor emits the live H through the SAME arithmetic.
    */
  def kruskalWallisFromCounts(spark: org.apache.spark.sql.SparkSession,
                              counts: Seq[(String, Long, Long)])
      : DataFrame = {
    import spark.implicits._
    kruskalWallisFromCellsDf(counts.toDF("g", "v", "n")
      .groupBy("g", "v").agg(sum("n").as("n")))
  }

  /** The pooled-midrank H arithmetic over a (g, v, n) cell table —
    * shared VERBATIM by [[kruskalWallis]] and
    * [[kruskalWallisFromCounts]].
    */
  private def kruskalWallisFromCellsDf(cells0: DataFrame): DataFrame = {
    // pooled ranks + per-group sums share it
    val cells = Lineage.cut(cells0)
    val tv = cells.groupBy("v").agg(sum("n").as("t"))
    // value-domain-bounded global rank window (the q278 pooled shape)
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = tv
      .withColumn("mr2", lit(2L) * coalesce(sum("t").over(w), lit(0L))
        + col("t") + lit(1L))
    val tie = tv.agg(
      sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tie"))
    val pg = cells.join(broadcast(ranked.select("v", "mr2")), Seq("v"))
      .groupBy("g")
      .agg(sum("n").as("ng"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * mr2")).as("rg2"))
    pg.agg(sum("ng").as("n"), count(lit(1)).as("k"),
        // Σ R_g²/n_g as Σ (rg2)²/(4·n_g), quotient-decomposed
        sum(expr("CAST(rg2 AS DECIMAL(38,0)) * (rg2 div (4 * ng)) " +
          "+ (CAST(rg2 AS DECIMAL(38,0)) * (rg2 % (4 * ng))) " +
          "div (4 * ng)")).as("ssum"))
      .crossJoin(broadcast(tie))
      .select(col("n").cast("bigint").as("n_rows"),
        col("k").as("n_groups"),
        // the one float step: tie-corrected H ×1000 and ε² ppm from
        // the exact (n, k, ssum, tie) sums — a single fixed
        // expression over one row, so no float summation order exists
        expr("CAST(CASE WHEN n < 2 OR k < 2 OR " +
          "CAST(n AS DECIMAL(38,0)) * n * n - n <= tie THEN -1 ELSE " +
          "round(1000 * (12.0 * CAST(ssum AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)) / " +
          "(1.0 - CAST(tie AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * n * n - n))) END AS BIGINT)")
          .as("h_x1000"))
      .withColumn("eps2_ppm", expr(
        "CAST(CASE WHEN h_x1000 < 0 OR n_rows <= n_groups THEN -1 ELSE " +
          "greatest(round(1000 * (h_x1000 - 1000 * (n_groups - 1)) / " +
          "(n_rows - n_groups)), 0) END AS BIGINT)"))
  }

  /** k-fold cross-validated classifier AUC: the [[rocAuc]] ranking
    * gate run the way an eval methodologist would — k disjoint
    * hash-folds of the corpus, a NaiveBayes model trained on each
    * complement and scored on its fold, per-fold AUC plus the CV
    * mean and spread (the single-split q256 number with an error
    * bar: a quality gate tuned on one split and deployed on a
    * different shard drifts by about cv_std). Folds are
    * deterministic (`id % k` — the q74 leakage-safe-split
    * discipline), so the report is reproducible and oracle-exact;
    * the mean/σ fold uses the same common-denominator variance +
    * floor(√) idiom as q313. Every fold whose complement holds a
    * labeled doc is reported, even when that complement has no tokens
    * (its docs score on priors alone, as a per-fold `trainScore` does).
    *
    * Scale shape (post r15/r16 fusions): ONE tokenize+aggregate pass
    * builds the (fold, label, token) count grid, every per-fold
    * complement model derives from it by subtraction, and the k
    * complement models are ONE fold-keyed [[NaiveBayes.NbModel]] that
    * [[NaiveBayes.score]] scores in one pass (`by` = the fold), with
    * the surprisal arithmetic once per model-grid row, never per
    * corpus token; everything after runs on the k-row fold table.
    */
  def cvAuc(docs: DataFrame, labelCol: String, idCol: String,
            textCol: String, folds: Int = 5): DataFrame = {
    require(folds >= 2, s"folds=$folds must be >= 2")
    // Leave-one-fold-out counts from ONE corpus pass (r15): the naive
    // form trained and scored k separate NaiveBayes models — k corpus
    // tokenize+aggregate passes plus k scoring passes (7.6 s warm at
    // sf0.1; 5× the corpus I/O at 100 TB). Counts are additive, so
    // each fold's complement model is global − own-fold, derived from
    // a single per-(fold, label, token) aggregation, and equals
    // NaiveBayes.train on the complement: complement counts are exact
    // subtractions.
    val k = folds.toLong
    val base = docs.select(col(idCol).as("__id"),
      pmod(col(idCol), lit(k)).as("__f"),
      col(labelCol).as("__lab"), col(textCol).as("__text"))
    // the training side drops null-label docs, as NaiveBayes.train does
    // (a null label is no class); every doc of a fold is still scored
    val labeled = base.where(col("__lab").isNotNull)
      .select(col("__f"), col("__lab"),
        graft.functions.TextFns.tokens(col("__text")).as("__w"))
    // grid-bounded count tables (folds × labels × vocab), cut once
    // (dual-path: reliable checkpoint under a checkpoint dir, r16) —
    // three consumers below, released after the fold table lands
    val cntF = Lineage.cut(
      labeled.select(col("__f"), col("__lab"), explode(col("__w")).as("t"))
        .groupBy("__f", "__lab", "t").agg(count(lit(1)).as("c")))
    val foldsDf = docs.sparkSession.range(folds)
      .select(col("id").as("__f"))
    // per-fold complement (label, token) counts: global − own fold
    val tokenCounts = cntF.groupBy("__lab", "t").agg(sum("c").as("cg"))
      .crossJoin(foldsDf)
      .join(cntF, Seq("__f", "__lab", "t"), "left")
      .na.fill(0L, Seq("c"))
      .select(col("__f"), col("__lab").as("label"), col("t"),
        (col("cg") - col("c")).as("c"))
      .where(col("c") > 0)
    // per-fold complement vocabulary (distinct tokens in ANY other
    // fold): every token outside fold f, i.e. all but the tokens that
    // appear ONLY in fold f — from one pass over the (fold, token) table
    val vocab = cntF.select("__f", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("nf"), min("__f").as("f0"))
      .crossJoin(foldsDf)
      .where(col("nf") > 1 || col("f0") =!= col("__f"))
      .select("__f", "t")
    // per-fold complement class doc/token totals. r16: the class token
    // totals fold out of cntF (Σ_t c ≡ Σ_docs size(__w), exactly)
    // instead of re-tokenizing the corpus — one tokenize pass fewer;
    // the doc counts read only (fold, label), never the text.
    val clsF = Lineage.cut(
      labeled.groupBy("__f", "__lab").agg(count(lit(1)).as("nd"))
        .join(cntF.groupBy("__f", "__lab").agg(sum("c").as("nt")),
          Seq("__f", "__lab"), "left")
        .na.fill(0L, Seq("nt"))) // k × L rows
    val classCounts = clsF.groupBy("__lab")
      .agg(sum("nd").as("ndg"), sum("nt").as("ntg"))
      .crossJoin(foldsDf)
      .join(clsF, Seq("__f", "__lab"), "left")
      .na.fill(0L, Seq("nd", "nt"))
      .select(col("__f"), col("__lab").as("label"),
        (col("ndg") - col("nd")).as("n_docs"),
        (col("ntg") - col("nt")).as("n_tokens"))
      .where(col("n_docs") > 0)
    // one scoring pass: each doc under its own fold's complement model,
    // then q256's margin bins
    val scored = NaiveBayes.score(base, "__id", "__text",
        NaiveBayes.NbModel(classCounts, tokenCounts, vocab),
        carry = Seq("__lab"), by = Seq("__f"))
      .select(col("__f").as("fold"),
        expr("least(margin_e8 div 2, CAST(10 AS BIGINT))").as("conf_bin"),
        (col("__lab") === col("pred")).as("ok"))
    val perFold = Lineage.cut(
      rocAuc(scored, "fold", "conf_bin", "ok")) // k rows feed the report twice
    // every consumer of the count grids is materialized inside the
    // perFold cut — release their storage now rather than at the end
    // of the caller's scope
    Lineage.release(cntF)
    Lineage.release(clsF)
    val mom = perFold.where(col("auc_x1e6") >= 0)
      .agg(count(lit(1)).as("nf"), sum("auc_x1e6").as("sa"),
        sum(expr("CAST(auc_x1e6 AS DECIMAL(38,0)) * auc_x1e6")).as("qa"))
      .select(
        expr("CAST(sa div greatest(nf, 1) AS BIGINT)").as("cv_mean_x1e6"),
        expr("CAST(floor(sqrt(CAST((nf * qa - CAST(sa AS DECIMAL(38,0)) " +
          "* sa) div greatest(CAST(nf AS DECIMAL(38,0)) * nf, 1) " +
          "AS DOUBLE))) AS BIGINT)").as("cv_std_x1e6"))
    perFold.crossJoin(broadcast(mom))
      .select(col("fold"), col("n_pos"), col("n_neg"), col("auc_x1e6"),
        col("cv_mean_x1e6"), col("cv_std_x1e6"))
  }

  /** One-way ANOVA (Fisher): does a categorical factor explain a
    * numeric outcome — the k-group generalization of the two-arm
    * t/z lens (q244), reported as the F statistic plus η² (the
    * between-group share of total variance, the effect size the
    * p-value hides). Sums of squares in the floored integer form:
    * SSB = Σ_g s_g² div n_g − S² div N and SSW = Q − Σ_g s_g² div
    * n_g, which by construction sum EXACTLY to SST = Q − S² div N,
    * so η²_ppm = (10⁶·SSB) div SST carries no drift; F divides the
    * mean squares as two floored integer steps (`div` lands in
    * BIGINT, so the flooring costs ≤ 1 unit² against sums that are
    * ≫ 10⁶ for any real value column). Domain bound, documented
    * like Cronbach's: the mean squares must fit BIGINT — pre-scale
    * the value (cents → dollars) once Σv²/(k−1) nears 2⁶³.
    *
    * Scale shape: one hash aggregation to the k-row group-moment
    * table, then a one-row fold.
    */
  def anovaOneWay(df: DataFrame, groupCol: String,
                  valueExpr: org.apache.spark.sql.Column): DataFrame =
    anovaByKey(df.select(lit(0L).as("__key"), col(groupCol).as("g"),
        valueExpr.cast("bigint").as("v")), "__key")
      .drop("__key")

  /** The floored-SS one-way ANOVA arithmetic per KEY over a
    * pre-shaped (key, g, v) frame — shared VERBATIM by
    * [[anovaOneWay]] (one constant key) and the per-series callers
    * ([[graft.ops.Funnel.seasonalStrength]] runs it per event
    * type). Returns (key, n_rows, n_groups, f_x1000, eta2_ppm).
    */
  private[graft] def anovaByKey(shaped: DataFrame,
                                keyCol: String): DataFrame =
    anovaFromGroupMoments(
      shaped.groupBy(col(keyCol), col("g"))
        .agg(count(lit(1)).as("ng"), sum("v").as("sg"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("qg")),
      keyCol)

  /** The SS/F/η² fold over pre-computed per-(key, group) moments
    * (ng, sg, qg) — the bottom half of [[anovaByKey]], split out so
    * counted-value callers ([[brownForsythe]] folds (value, count)
    * tables) reuse the identical arithmetic without exploding rows.
    */
  private[graft] def anovaFromGroupMoments(g: DataFrame,
                                           keyCol: String): DataFrame = {
    g.groupBy(keyCol)
      .agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum("sg").as("s"), sum("qg").as("q"),
        // s² div n decomposed as s·q + (s·r) div n with q = s div n,
        // r = s % n: `div` materializes its quotient in BIGINT, and
        // s²/n itself passes 2⁶³ long before any input does (it did
        // at sf0.01: 9.4e18) — the decomposition keeps every div
        // quotient ≤ s while the exact value accumulates in DECIMAL
        sum(expr("CAST(sg AS DECIMAL(38,0)) * (sg div ng) " +
          "+ (CAST(sg AS DECIMAL(38,0)) * (sg % ng)) div ng"))
          .as("ssb_raw"))
      .select(col(keyCol), col("n").cast("bigint").as("n_rows"),
        col("k").as("n_groups"),
        // SSB ≥ 0 mathematically; the per-group flooring can dip it
        // by ≤ k units — clamp so the rare negative stays 0. Same
        // quotient decomposition as ssb_raw for S²/N.
        expr("greatest(ssb_raw - (CAST(s AS DECIMAL(38,0)) * (s div n) " +
          "+ (CAST(s AS DECIMAL(38,0)) * (s % n)) div n), 0)").as("ssb"),
        expr("q - ssb_raw").as("ssw"),
        col("n"), col("k"))
      .select(col(keyCol), col("n_rows"), col("n_groups"),
        expr("CAST(CASE WHEN ssw <= 0 OR k < 2 OR n <= k THEN -1 " +
          "ELSE (1000 * (ssb div (k - 1))) div " +
          "greatest(ssw div (n - k), 1) END AS BIGINT)").as("f_x1000"),
        expr("CAST(CASE WHEN ssb + ssw <= 0 THEN 0 " +
          "ELSE (1000000 * ssb) div (ssb + ssw) END AS BIGINT)")
          .as("eta2_ppm"))
  }

  /** Brier score with the Murphy (1973) decomposition: the proper
    * scoring rule mean (p − y)² split into REL − RES + UNC over the
    * same equal-width confidence bins as [[calibrationBins]] —
    * reliability (how far bin confidence sits from bin outcome, the
    * part a recalibration can remove), resolution (how far the bins'
    * outcomes spread from the base rate, the part that is genuine
    * discrimination), and the outcome uncertainty floor ȳ(1−ȳ).
    * ECE says "miscalibrated by 3%"; the decomposition says whether
    * fixing it would even matter relative to the forecast's
    * resolution. All ×10¹² exact integer (ppm²) via DECIMAL sums;
    * the decomposition identity holds up to the bin-mean flooring,
    * which is the documented quantization.
    *
    * Scale shape: one scan folds to the ≤ nBins bin table and the
    * one-row moment fold; everything after is bin arithmetic.
    */
  def brierDecomposition(df: DataFrame, probPpmCol: String,
                         labelExpr: org.apache.spark.sql.Column,
                         nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && 1000000 % nBins == 0,
      s"nBins=$nBins must be >= 2 and divide 1e6")
    val width = 1000000 / nBins
    // same [0, 1e6] ppm input contract and two-sided bin clamp as
    // calibrationBins
    val base = df.select(
      expr(s"least(greatest(CAST($probPpmCol div $width AS BIGINT), 0), " +
        s"${nBins - 1})").as("bin"),
      col(probPpmCol).cast("bigint").as("p"),
      labelExpr.cast("bigint").as("y"))
    // ≤ nBins rows feed totals + three folds
    val b = Lineage.cut(base.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("p").as("sp"), sum("y").as("sy"),
        // Σ(p − 10⁶·y)²: per-term ≤ 10¹², DECIMAL against 10¹²-row sums
        sum(expr("CAST(p - 1000000 * y AS DECIMAL(38,0)) " +
          "* (p - 1000000 * y)")).as("sq")))
    val tot = b.agg(sum("n").as("nt"), sum("sy").as("syt"),
        sum("sq").as("sqt"))
      .select(col("nt"), col("sqt"),
        expr("CAST((1000000 * CAST(syt AS DECIMAL(38,0))) div nt " +
          "AS BIGINT)").as("ybar"))
    val terms = b.crossJoin(broadcast(tot))
      .select(col("n"), col("nt"), col("sqt"), col("ybar"),
        expr("CAST(sp div n AS BIGINT)").as("conf"),
        expr("CAST((1000000 * CAST(sy AS DECIMAL(38,0))) div n AS BIGINT)")
          .as("acc"))
    terms
      .groupBy("nt", "sqt", "ybar")
      .agg(
        sum(expr("CAST(n AS DECIMAL(38,0)) * (conf - acc) * (conf - acc)"))
          .as("__rel"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (acc - ybar) * (acc - ybar)"))
          .as("__res"))
      .select(col("nt").cast("bigint").as("n"),
        col("ybar").as("ybar_ppm"),
        expr("CAST(sqt div nt AS BIGINT)").as("brier_x1e12"),
        expr("CAST(__rel div nt AS BIGINT)").as("rel_x1e12"),
        expr("CAST(__res div nt AS BIGINT)").as("res_x1e12"),
        expr("CAST(CAST(ybar AS DECIMAL(38,0)) * (1000000 - ybar) " +
          "AS BIGINT)").as("unc_x1e12"))
  }

  /** The conf/acc/gap/ECE arithmetic over a (bin, n, sp, sy) table —
    * shared VERBATIM by [[calibrationBins]] and
    * [[calibrationFromCounts]].
    */
  private def calibrationFromBinsDf(b: DataFrame): DataFrame = {
    val tot = b.agg(sum("n").as("nt"))
    val rows = b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n").cast("bigint").as("n"),
        expr("CAST(sp div n AS BIGINT)").as("conf_ppm"),
        expr("CAST((1000000 * CAST(sy AS DECIMAL(38,0))) div n AS BIGINT)")
          .as("acc_ppm"),
        col("nt").cast("bigint").as("nt"))
      .withColumn("gap_ppm", expr("abs(conf_ppm - acc_ppm)"))
    val ece = rows.agg(expr(
      "CAST(sum(CAST(n AS DECIMAL(38,0)) * gap_ppm) div max(nt) AS BIGINT)")
      .as("ece_ppm"))
    rows.crossJoin(broadcast(ece))
      .select("bin", "n", "conf_ppm", "acc_ppm", "gap_ppm", "ece_ppm")
  }

  // ---- cluster-agreement family: two labelings of the same items
  // (a predicted clustering vs a reference partition — label NAMES
  // never need to align, only the partition structure). All three
  // metrics derive from the one (a, b, count) contingency reduction,
  // which is additive across micro-batches — each has a FromCounts
  // streaming readback through the identical arithmetic. ----

  /** The shared (a, b, cnt) label contingency — ONE count reduction;
    * everything downstream is bounded by |labels_a| × |labels_b|.
    */
  private def agreementCellsOf(df: DataFrame, aCol: String,
                               bCol: String): DataFrame =
    df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))

  /** Rand index + Adjusted Rand Index (Hubert & Arabie 1985) between
    * two labelings: pair-counting agreement, chance-corrected — THE
    * standard clustering-vs-reference score (0 at chance, 10⁶ at
    * identical partitions, negative below chance). Relationship to
    * [[partitionAgreement]] (q258): that operator emits the
    * classical FLOAT ARI plus directional purities; this one is the
    * fully integer-exact rational form (the ½ cleared, one
    * sign-symmetric divide) with the plain Rand index beside it and
    * an additive-cells streaming readback q258 has no analog of —
    * the hash-stable surface a correctness gate can pin. Exact
    * rational:
    * with I = Σᵢⱼ C(nᵢⱼ,2), A = Σᵢ C(nᵢ.,2), B = Σⱼ C(n.ⱼ,2),
    * C = C(n,2) (every C(x,2) = x(x−1)/2 is an exact integer),
    * RI  = (C + 2I − A − B)/C and
    * ARI = 2(I·C − A·B)/((A+B)·C − 2AB) — the ½ cleared so every
    * term stays integral; ppm via one sign-symmetric divide.
    *
    * Scale shape: one cell reduction; the pair sums are three
    * bounded-grid folds. DECIMAL(38) bound: 10⁶·I·C ≤ 10⁶·n⁴/4
    * overflows past n ≈ 4.5·10⁷ items — the `__g` downscale divides
    * all four pair sums by greatest(C div 10¹⁵, 1) (identity at any
    * testable n, < ppm error when engaged), so the operator stays
    * defined at corpus scale; for an EXACT figure at 100 TB evaluate
    * per shard and combine cells, which are additive.
    */
  def adjustedRand(df: DataFrame, aCol: String, bCol: String): DataFrame =
    adjustedRandFromCellsDf(agreementCellsOf(df, aCol, bCol))

  /** The ARI readback over additive (a, b, count) cells — the
    * streaming form of [[adjustedRand]]: cells fold across
    * micro-batches, so a foreachBatch monitor accumulates them and
    * emits the live score through the SAME arithmetic.
    */
  def adjustedRandFromCounts(spark: org.apache.spark.sql.SparkSession,
                             counts: Seq[(String, String, Long)])
      : DataFrame = {
    import spark.implicits._
    adjustedRandFromCellsDf(counts.toDF("a", "b", "cnt")
      .groupBy("a", "b").agg(sum("cnt").as("cnt")))
  }

  // C(x,2) with the exact halving taken on the even 64-bit FACTOR
  // before the DECIMAL product — `div` on the product would narrow
  // the result to BIGINT and overflow past x ≈ 4·10⁹
  private def pairsSql(x: String): String =
    s"(CASE WHEN ($x) % 2 = 0 " +
      s"THEN CAST(($x) div 2 AS DECIMAL(38,0)) * (($x) - 1) " +
      s"ELSE CAST($x AS DECIMAL(38,0)) * ((($x) - 1) div 2) END)"

  private def adjustedRandFromCellsDf(cells: DataFrame): DataFrame = {
    // 4 bounded-grid consumers
    val c = Lineage.cut(cells)
    val rows = c.groupBy("a").agg(sum("cnt").as("na"))
      .agg(sum(expr(pairsSql("na"))).as("pa"),
        count(lit(1)).as("ka"))
    val cols = c.groupBy("b").agg(sum("cnt").as("nb"))
      .agg(sum(expr(pairsSql("nb"))).as("pb"),
        count(lit(1)).as("kb"))
    val tot = c.agg(sum("cnt").as("n"),
      sum(expr(pairsSql("cnt"))).as("pi"))
    tot.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
      .withColumn("pc", expr(pairsSql("n")))
      // downscale guard: identity until C(n,2) exceeds 10¹⁵ (n ≈
      // 4.5·10⁷ items); past that all four pair sums shed the same
      // factor, capping them at ~10¹⁵ so 10⁶·__i·__c ≤ 10³⁶ stays
      // inside DECIMAL(38)
      .withColumn("__g", expr(
        "greatest(pc div CAST(1000000000000000 AS DECIMAL(38,0)), 1)"))
      // `div` on DECIMAL yields BIGINT — re-cast before the pairwise
      // products (≤ 10³⁰ after the guard) so nothing re-enters 64-bit
      .withColumn("__i", expr("CAST(pi div __g AS DECIMAL(38,0))"))
      .withColumn("__a", expr("CAST(pa div __g AS DECIMAL(38,0))"))
      .withColumn("__b", expr("CAST(pb div __g AS DECIMAL(38,0))"))
      .withColumn("__c", expr("CAST(pc div __g AS DECIMAL(38,0))"))
      .withColumn("__num", expr("2 * (__i * __c - __a * __b)"))
      .withColumn("__den", expr("(__a + __b) * __c - 2 * __a * __b"))
      .select(col("n").cast("bigint").as("n_items"),
        col("ka").cast("bigint").as("clusters_a"),
        col("kb").cast("bigint").as("clusters_b"),
        expr("CAST((1000000 * (__c + 2 * __i - __a - __b)) div " +
          "greatest(__c, 1) AS BIGINT)").as("ri_ppm"),
        expr("CAST(CASE WHEN __den <= 0 THEN 1000000 " +
          "WHEN __num >= 0 THEN (1000000 * __num) div __den " +
          "ELSE -((-(1000000 * __num)) div __den) END AS BIGINT)")
          .as("ari_ppm"))
  }

  /** B-cubed precision/recall/F1 (Bagga & Baldwin 1998, the Amigó
    * et al. 2009 recommendation for cluster evaluation): per-ITEM
    * precision nᵢⱼ/nᵢ. and recall nᵢⱼ/n.ⱼ averaged over the corpus —
    * unlike pair counting it weights every item equally, so a
    * shattered big cluster is punished in proportion to its size.
    * Exact-ppm via the two-floor form: per a-cluster
    * pᵢ = (10⁶·Σⱼnᵢⱼ²) div nᵢ. then P = (Σpᵢ) div n (mirrored in the
    * twin token for token); recall symmetric on b; F1 the harmonic
    * divide. All products ≤ 10⁶·n — no n⁴ anywhere, corpus-scale safe.
    *
    * Scale shape: one cell reduction, two bounded-grid folds.
    */
  def bcubed(df: DataFrame, aCol: String, bCol: String): DataFrame =
    bcubedFromCellsDf(agreementCellsOf(df, aCol, bCol))

  /** The B-cubed readback over additive (a, b, count) cells — the
    * streaming form of [[bcubed]], same arithmetic.
    */
  def bcubedFromCounts(spark: org.apache.spark.sql.SparkSession,
                       counts: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    bcubedFromCellsDf(counts.toDF("a", "b", "cnt")
      .groupBy("a", "b").agg(sum("cnt").as("cnt")))
  }

  private def bcubedFromCellsDf(cells: DataFrame): DataFrame = {
    // 3 bounded-grid consumers
    val c = Lineage.cut(cells)
    val p = c.groupBy("a")
      .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("s2"),
        sum("cnt").as("na"))
      .agg(sum(expr("(1000000 * s2) div na")).as("sp"))
    val r = c.groupBy("b")
      .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("s2"),
        sum("cnt").as("nb"))
      .agg(sum(expr("(1000000 * s2) div nb")).as("sr"))
    c.agg(sum("cnt").as("n"))
      .crossJoin(broadcast(p)).crossJoin(broadcast(r))
      .withColumn("bp", expr("sp div n"))
      .withColumn("br", expr("sr div n"))
      .select(col("n").cast("bigint").as("n_items"),
        col("bp").cast("bigint").as("bcubed_p_ppm"),
        col("br").cast("bigint").as("bcubed_r_ppm"),
        expr("CAST(CASE WHEN bp + br <= 0 THEN 0 ELSE " +
          "(2 * bp * br) div (bp + br) END AS BIGINT)")
          .as("bcubed_f1_ppm"))
  }

  /** Homogeneity / completeness / V-measure (Rosenberg & Hirschberg
    * 2007): h = 1 − H(b|a)/H(b) (each predicted cluster holds one
    * reference class), c = 1 − H(a|b)/H(a) (each class lands in one
    * cluster), V their harmonic mean — the entropy-based view
    * complementing ARI's pair counting. Every entropy term is a
    * RATIO log through the shared Mitchell e256 emitter (the
    * q155/q333 discipline): n·H(b|a) = Σᵢⱼ nᵢⱼ·log2(nᵢ./nᵢⱼ) with
    * q = (nᵢ. ≪ 20) div nᵢⱼ ≥ 2²⁰ always in domain, so BOTH engines
    * evaluate one piecewise-linear surface and the ppm quotients are
    * bit-identical. Degenerate marginals (H(b) = 0) report h = 10⁶
    * by convention.
    *
    * Scale shape: one cell reduction; every log is over the bounded
    * grid; the four entropy folds are one-row broadcasts.
    */
  def vMeasure(df: DataFrame, aCol: String, bCol: String): DataFrame =
    vMeasureFromCellsDf(agreementCellsOf(df, aCol, bCol))

  /** The V-measure readback over additive (a, b, count) cells — the
    * streaming form of [[vMeasure]], same arithmetic.
    */
  def vMeasureFromCounts(spark: org.apache.spark.sql.SparkSession,
                         counts: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    vMeasureFromCellsDf(counts.toDF("a", "b", "cnt")
      .groupBy("a", "b").agg(sum("cnt").as("cnt")))
  }

  private def vMeasureFromCellsDf(cells: DataFrame): DataFrame = {
    // w·log2(num/den) in e256 units over DECIMAL(38,0): the ratio log
    // carries no 2²⁰ pre-shift bias, which would NOT cancel in the
    // H(b|a)/H(b) quotient (the q333 discipline); num ≥ den throughout
    // so every term is ≥ 0
    def wLogE256(w: String, num: String, den: String): org.apache.spark.sql.Column =
      col(w).cast("decimal(38,0)") *
        graft.functions.MitchellE8.log2RatioE256(col(num), col(den))
    // marginals + joint off one pass
    val c = Lineage.cut(cells)
    val ra = c.groupBy("a").agg(sum("cnt").as("na"))
    val rb = c.groupBy("b").agg(sum("cnt").as("nb"))
    val tot = c.agg(sum("cnt").as("n"))
    // n·H(b|a) and n·H(a|b) in e256 units: Σ cnt·log2(marginal/cnt)
    val hba = c.join(broadcast(ra), Seq("a"))
      .select(wLogE256("cnt", "na", "cnt").as("t"))
      .agg(sum("t").as("hba"))
    val hab = c.join(broadcast(rb), Seq("b"))
      .select(wLogE256("cnt", "nb", "cnt").as("t"))
      .agg(sum("t").as("hab"))
    val hb = rb.crossJoin(broadcast(tot))
      .select(wLogE256("nb", "n", "nb").as("t"))
      .agg(sum("t").as("hb"))
    val ha = ra.crossJoin(broadcast(tot))
      .select(wLogE256("na", "n", "na").as("t"))
      .agg(sum("t").as("ha"))
    tot.crossJoin(broadcast(hba)).crossJoin(broadcast(hab))
      .crossJoin(broadcast(hb)).crossJoin(broadcast(ha))
      .withColumn("h", expr("CASE WHEN hb <= 0 THEN 1000000 ELSE " +
        "1000000 - (1000000 * hba) div hb END"))
      .withColumn("c", expr("CASE WHEN ha <= 0 THEN 1000000 ELSE " +
        "1000000 - (1000000 * hab) div ha END"))
      .select(col("n").cast("bigint").as("n_items"),
        col("h").cast("bigint").as("homogeneity_ppm"),
        col("c").cast("bigint").as("completeness_ppm"),
        expr("CAST(CASE WHEN h + c <= 0 THEN 0 ELSE " +
          "(2 * h * c) div (h + c) END AS BIGINT)").as("v_ppm"))
  }
}
