package graft.ops

import graft.functions.MitchellE8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANALYZE-style table profiling — the data-quality dashboard scan a
  * pipeline runs before trusting a new drop: per column, the non-null
  * count, null count, exact distinct count, and min/max (rendered as
  * strings so heterogeneous columns share one output schema).
  *
  * Scale shape: one COLUMN-PRUNED scan per column (parquet reads only
  * that column's pages), reduced to its distinct-value table by a
  * hash aggregation with map-side partials, then collapsed to one
  * stats row — so the shuffle carries distinct VALUES, never rows. A
  * first version used one pass with k exact distincts, which Catalyst
  * plans as an Expand that multiplies EVERY row k× before the
  * shuffle — 11 s vs ~1 s on 6 lineitem columns at sf0.1, and
  * strictly worse at 100 TB where the k× expansion dwarfs the extra
  * column-pruned scans. Swap in the HLL/KMV sketches from [[Sketch]]
  * when approximate profiles are acceptable and even distinct-value
  * shuffles are too much.
  */
object Profile {

  /** Profile `cols` of `df` → one row per column:
    * (col_name, n_non_null, n_null, n_distinct, min_s, max_s),
    * ordered by col_name. Pre-cast float/double columns to DECIMAL
    * upstream if their min/max string rendering must be
    * engine-portable.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val per = cols.map { c =>
      df.select(col(c).as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .agg(
          sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("nn"),
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("nu"),
          count(when(col("v").isNotNull, lit(1))).as("nd"),
          min(col("v")).cast("string").as("min_s"),
          max(col("v")).cast("string").as("max_s"))
        .select(lit(c).as("col_name"),
          coalesce(col("nn"), lit(0L)).as("n_non_null"),
          coalesce(col("nu"), lit(0L)).as("n_null"),
          col("nd").as("n_distinct"),
          col("min_s"), col("max_s"))
    }
    per.reduce(_.unionByName(_)).orderBy("col_name")
  }

  /** Robust per-group outlier flags — the data-quality gate a price /
    * metric column gets before aggregation trusts it: median/MAD
    * (median absolute deviation) instead of mean/stddev, so the
    * outliers being hunted cannot drag the threshold toward
    * themselves (the classic breakdown-point argument; Hampel 1974).
    * A row is flagged when |x − med| > k·MAD.
    *
    * Returns every input row as (idCol, groupCol, valueCol, med,
    * mad, is_outlier). Exact-interpolation `percentile` on both
    * engines (the q55-proven parity).
    *
    * Scale shape: two aggregations on the bounded group key (the
    * second needs the first's medians — a broadcast join, groups are
    * a dimension), then one broadcast stats join over the scan.
    * Percentile state is per-group value-list — bounded by group
    * cardinality of the VALUE domain at decimal-ish columns; swap in
    * the histogram sketch when values are high-cardinality doubles
    * at 100 TB.
    */
  def outlierFlags(df: DataFrame, idCol: String, groupCol: String,
                   valueCol: String, k: Double = 3.0): DataFrame = {
    val g = col(groupCol)
    val med = df.groupBy(groupCol)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val stats = df.join(broadcast(med), groupCol :: Nil)
      .groupBy(groupCol)
      .agg(min("med").as("med"),
        expr(s"percentile(abs($valueCol - med), 0.5)").as("mad"))
    df.join(broadcast(stats), groupCol :: Nil)
      .select(col(idCol), g, col(valueCol), col("med"), col("mad"),
        (abs(col(valueCol) - col("med")) > lit(k) * col("mad")).as("is_outlier"))
  }

  /** Join-key skew diagnostic — the "is this key safe to shuffle on"
    * report a pipeline runs before keying a 100 TB join or groupBy:
    * the `k` heaviest key values with exact counts and per-mille
    * share of all rows. A key whose top value carries 30% of the
    * table needs salting or AQE skew handling; this report is how
    * you find out BEFORE the straggler does.
    *
    * Returns (key, cnt, share_x1000, rank) for the top `k` values,
    * rank 1 = heaviest (count DESC, key ASC tiebreak); NULL keys
    * count under the literal key `<null>`.
    *
    * Scale shape: one hash aggregation on the key (map-side
    * partials), then the bounded-heap [[graft.plans.TopK]] aggregate
    * over the already-reduced distinct-key table (≤ k rows per
    * partition travel — never a global sort), and a broadcast
    * single-row total for the shares.
    */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    import graft.plans.TopK
    val counts = df
      .select(coalesce(col(keyCol).cast("string"), lit("<null>")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"))
    counts.agg(TopK.top_k(struct(col("cnt"), col("key")), k).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__row")))
      .select(col("__row.key").as("key"), col("__row.cnt").as("cnt"),
        (col("__pos") + 1).cast("bigint").as("rank"))
      .crossJoin(broadcast(tot))
      .withColumn("share_x1000", expr("(1000 * cnt) div total"))
      .select("key", "cnt", "share_x1000", "rank")
  }

  /** Population-stability-index drift report — the model-monitoring
    * staple, here as "which group's value distribution diverges from
    * the corpus": bin `valueCol` by `binWidth`, build the global and
    * per-group histograms, and per group sum the classic PSI terms
    * (p−q)·log(p/q) over the GLOBAL bin set. All-integer so both
    * engines agree exactly: probabilities are Laplace-smoothed ppm
    * (⌊(cnt+1)·10⁶/(tot+B)⌋ over B global bins — smoothing keeps
    * empty bins finite, the standard PSI practice), the log is the
    * Mitchell eighth-bit log2 the LM/PMI operators use, and each
    * term is |p−q|·(m8 − 160) ≥ 0 (sign(p−q) = sign(log p/q), so
    * the absolute form IS the PSI term). `psi_e8_ppm` is the raw sum:
    * eighth-bits × ppm; divide by 8·10⁶ for log2 units.
    *
    * Scale shape: one scan bins the corpus; every aggregation after
    * runs on histogram tables bounded by (groups × bins) — the grid
    * cross join, flagged-by-design, is broadcast-tiny on both sides.
    */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
               binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be positive")
    val binned = df.select(col(groupCol).as("g"),
      expr(s"CAST($valueCol div $binWidth AS BIGINT)").as("bin"))
    // ONE corpus scan builds the per-group histogram; the global
    // histogram, totals, and group list all derive from it (it is
    // (groups × bins)-bounded, so cut lineage once instead of
    // re-scanning the corpus per derivation)
    val sHist = Lineage.cut(binned.groupBy("g", "bin")
      .agg(count(lit(1)).as("sc")))
    val gHist = sHist.groupBy("bin").agg(sum("sc").as("gc"))
    val gTot = gHist.agg(sum("gc").as("gt"), count(lit(1)).as("nb"))
    val sTot = sHist.groupBy("g").agg(sum("sc").as("st"))
    val grid = sTot.select("g").crossJoin(broadcast(gHist))
    grid
      .join(sHist, Seq("g", "bin"), "left")
      .join(sTot, "g")
      .crossJoin(broadcast(gTot))
      .select(col("g"), col("st"),
        // clamp to >= 1 ppm: once a total exceeds ~1e6 rows the
        // floored ppm hits 0 and the max/min ratio would divide by
        // zero (NULL div under non-ANSI SQL), silently DROPPING the
        // term from sum() — exactly the at-scale regime PSI guards
        expr("greatest(CAST((CAST(coalesce(sc, 0) + 1 AS DECIMAL(38,0)) " +
          "* 1000000) div (st + nb) AS BIGINT), CAST(1 AS BIGINT))")
          .as("p_ppm"),
        expr("greatest(CAST((CAST(gc + 1 AS DECIMAL(38,0)) * 1000000) " +
          "div (gt + nb) AS BIGINT), CAST(1 AS BIGINT))").as("q_ppm"))
      .select(col("g"), col("st"),
        (abs(col("p_ppm") - col("q_ppm")) * MitchellE8.log2Ratio(
          greatest(col("p_ppm"), col("q_ppm")), least(col("p_ppm"), col("q_ppm"))))
          .as("term"))
      .groupBy("g", "st")
      .agg(count(lit(1)).as("n_bins"), sum("term").as("__t"))
      .select(col("g").as(groupCol), col("st").as("n_rows"),
        col("n_bins"), col("__t").cast("bigint").as("psi_e8_ppm"))
  }

  /** PSI against a FIXED baseline histogram — the deployment form of
    * [[psiDrift]] (in production the reference distribution is the
    * training snapshot, not the live corpus): per group, the same
    * Laplace-smoothed integer PSI, over the UNION of baseline and
    * observed bins so mass on either side's exclusive bins is
    * penalized, never dropped. `baseline` is a (bin, bc) count table
    * — value-domain-bounded, broadcast throughout.
    */
  def psiVsBaseline(df: DataFrame, groupCol: String, valueCol: String,
                    binWidth: Long, baseline: DataFrame): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be positive")
    val sHist = Lineage.cut(df.select(col(groupCol).as("g"),
        expr(s"CAST($valueCol div $binWidth AS BIGINT)").as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("sc")))
    val base = baseline.select(col("bin").cast("bigint").as("bin"),
      col("bc").cast("bigint").as("bc"))
    val bTot = base.agg(sum("bc").as("bt"))
    val sTot = sHist.groupBy("g").agg(sum("sc").as("st"))
    // PER-GROUP bin union (baseline ∪ the group's own bins) — the
    // exact set the streaming state iterates, so the two forms agree
    // bit-for-bit even when groups observe disjoint bins
    val grid = sHist.select("g", "bin")
      .unionByName(sTot.select("g").crossJoin(broadcast(base.select("bin"))))
      .distinct()
    val nB = grid.groupBy("g").agg(count(lit(1)).as("nb"))
    grid
      .join(sHist, Seq("g", "bin"), "left")
      .join(broadcast(base), Seq("bin"), "left")
      .join(sTot, "g").join(nB, "g")
      .crossJoin(broadcast(bTot))
      .select(col("g"), col("st"),
        // same >= 1 ppm clamp as [[psiDrift]] — keeps every union
        // bin's term defined at any row count, and keeps this form
        // bit-identical to the streaming monitor's clamped math
        expr("greatest(CAST((CAST(coalesce(sc, 0) + 1 AS DECIMAL(38,0)) " +
          "* 1000000) div (st + nb) AS BIGINT), CAST(1 AS BIGINT))")
          .as("p_ppm"),
        expr("greatest(CAST((CAST(coalesce(bc, 0) + 1 AS DECIMAL(38,0)) " +
          "* 1000000) div (bt + nb) AS BIGINT), CAST(1 AS BIGINT))")
          .as("q_ppm"))
      .select(col("g"), col("st"),
        (abs(col("p_ppm") - col("q_ppm")) * MitchellE8.log2Ratio(
          greatest(col("p_ppm"), col("q_ppm")), least(col("p_ppm"), col("q_ppm"))))
          .as("term"))
      .groupBy("g", "st")
      .agg(count(lit(1)).as("n_bins"), sum("term").as("__t"))
      .select(col("g").as(groupCol), col("st").as("n_rows"),
        col("n_bins"), col("__t").cast("bigint").as("psi_e8_ppm"))
  }

  /** Wasserstein-1 (earth-mover's) distance between each group's
    * value distribution and the pooled corpus distribution — the
    * drift metric PSI/JSD can't replace: those score only that mass
    * moved, W₁ scores how FAR it moved (one bin vs twenty bins of
    * shift differ 20× here, identically there). Discrete form over
    * `binWidth` bins: W₁ = Σ_bins |CDF_p − CDF_q| · binWidth, exact
    * in integers — cumulative COUNTS first (one window cumsum per
    * side), then a single ppm division per row, so rounding never
    * accumulates across bins. Both CDFs are step functions constant
    * across unoccupied bins, so each occupied bin's |ΔCDF| is
    * weighted by the GAP to the next occupied bin — skipping empty
    * bins would silently understate exactly the large shifts W₁
    * exists to measure. Output per group: n_rows, n_bins,
    * `w1_ppm` (Σ|ΔCDF|·gap in ppm·bins) and `w1_value_e6`
    * (= ·binWidth, value units × 10⁻⁶).
    *
    * Scale shape: one corpus scan bins; the grid (groups × global
    * bins, group bins ⊆ global bins) bounds every later stage; the
    * cumsum window is partitioned by group over that bounded grid.
    */
  def wasserstein1(df: DataFrame, groupCol: String, valueCol: String,
                   binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be positive")
    val binned = df.select(col(groupCol).as("g"),
      expr(s"CAST($valueCol div $binWidth AS BIGINT)").as("bin"))
    val sHist = Lineage.cut(binned.groupBy("g", "bin")
      .agg(count(lit(1)).as("sc")))
    val gHist = sHist.groupBy("bin").agg(sum("sc").as("gc"))
    val gTot = gHist.agg(sum("gc").as("gt"))
    val sTot = sHist.groupBy("g").agg(sum("sc").as("st"))
    val grid = sTot.select("g").crossJoin(broadcast(gHist))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid
      .join(sHist, Seq("g", "bin"), "left")
      .join(sTot, "g")
      .crossJoin(broadcast(gTot))
      .select(col("g"), col("st"), col("gt"),
        sum(expr("coalesce(sc, CAST(0 AS BIGINT))")).over(w).as("cs"),
        sum(col("gc")).over(w).as("cg"),
        // per-group windows carry the GLOBAL bin sequence (grid is
        // g × all global bins), so lead(bin)−bin is the step width
        // the CDFs hold this value for
        expr("coalesce(lead(bin, 1) OVER " +
          "(PARTITION BY g ORDER BY bin), bin + 1) - bin").as("gap"))
      .select(col("g"), col("st"),
        expr("abs(CAST((CAST(cs AS DECIMAL(38,0)) * 1000000) div st " +
          "AS BIGINT) - CAST((CAST(cg AS DECIMAL(38,0)) * 1000000) div gt " +
          "AS BIGINT)) * gap").as("term"))
      .groupBy("g", "st")
      .agg(count(lit(1)).as("n_bins"), sum("term").as("__t"))
      .select(col("g").as(groupCol), col("st").as("n_rows"), col("n_bins"),
        col("__t").cast("bigint").as("w1_ppm"),
        expr(s"CAST(__t * $binWidth AS BIGINT)").as("w1_value_e6"))
  }

  /** First-significant-digit extractor over a positive BIGINT
    * expression — an unrolled magnitude CASE (no float log10, whose
    * rounding at exact powers of ten diverges between engines),
    * shared VERBATIM by [[benfordReport]] and its oracle twin.
    * Covers values to 10¹⁸ (BIGINT's full positive range).
    */
  def firstDigitSql(vE: String, divOp: String = "div"): String = {
    val cases = (18 to 1 by -1).map { p =>
      val pow = BigInt(10).pow(p)
      s"WHEN ($vE) >= $pow THEN ($vE) $divOp $pow"
    }.mkString(" ")
    s"(CASE $cases ELSE ($vE) END)"
  }

  /** Benford's-law per-mille expectations for digits 1–9 — rounded
    * log10(1 + 1/d) in ppm; sums to exactly 10⁶.
    */
  val BenfordPpm: Seq[(Long, Long)] = Seq(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L, 9L -> 45757L)

  /** Benford's-law first-digit screen — the classic fabricated-data /
    * broken-upstream detector: naturally-grown magnitudes (prices,
    * populations, file sizes) put ~30.1 % of first digits at 1, and
    * uniform-random or hand-typed data does not. Per digit 1–9:
    * observed count, observed ppm, the expected Benford ppm, and the
    * absolute deviation — all exact integers (digits come from the
    * integer magnitude CASE in [[firstDigitSql]], never float log).
    * One scan + one 9-row aggregation; the digit table is broadcast.
    * `valueCol` must be a positive integral expression.
    */
  def benfordReport(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val digits = BenfordPpm.toDF("digit", "exp_ppm")
    val counts = df
      .select(expr(firstDigitSql(s"CAST($valueCol AS BIGINT)"))
        .cast("bigint").as("digit"))
      .where(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("nt"))
    broadcast(digits).join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div greatest(nt, 1) " +
          "AS BIGINT)").as("obs_ppm"),
        col("exp_ppm"))
      .withColumn("dev_ppm", expr("abs(obs_ppm - exp_ppm)"))
  }

  /** Classifier calibration / reliability report — "when the model
    * is confident, is it actually right?": rows bin by the
    * confidence surrogate (`confCol` div binWidth, capped at
    * `maxBin`), and each bin reports its size, correct count, and
    * exact per-mille accuracy. A well-calibrated classifier shows
    * accuracy rising monotonically with the bin; a flat curve means
    * the confidence column is noise and any threshold gate built on
    * it is theater. One scan, one (maxBin+1)-bounded aggregation.
    */
  def calibrationReport(scored: DataFrame, truthCol: String,
                        predCol: String, confCol: String,
                        binWidth: Long, maxBin: Long): DataFrame = {
    require(binWidth > 0 && maxBin >= 0,
      s"binWidth=$binWidth, maxBin=$maxBin out of range")
    scored
      .select(expr(s"least($confCol div $binWidth, $maxBin)").as("bin"),
        when(col(truthCol) === col(predCol), 1L).otherwise(0L).as("ok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("ok").as("n_correct"))
      .select(col("bin"), expr(s"bin * $binWidth").as("conf_lo"),
        col("n"), col("n_correct"),
        expr("CAST((1000 * n_correct) div n AS BIGINT)").as("acc_x1000"))
  }

  /** SCD type-2 interval build — collapse a keyed change stream into
    * validity intervals: per key, consecutive runs of the SAME value
    * (ordered by `tsCol` with `idCol` tiebreak) become one row
    * (key, value, valid_from, valid_to, is_current), `valid_to` =
    * the next run's start (the half-open [from, to) warehouse
    * convention), null + `is_current` on the last run. The
    * dimension-history builder behind every point-in-time join.
    * Scale shape: two windows and one aggregation, all partitioned
    * by key — a key with 10⁹ events costs its own partition only.
    */
  def scd2Intervals(df: DataFrame, keyCol: String, valueCol: String,
                    tsCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__k").orderBy(col("__ts"), col("__id"))
    val runs = df.select(col(keyCol).as("__k"), col(valueCol).as("__v"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
      .withColumn("__chg", when(lag("__v", 1).over(w).isNull ||
        lag("__v", 1).over(w) =!= col("__v"), 1L).otherwise(0L))
      .withColumn("__run", sum("__chg").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("__k", "__run")
      .agg(min("__v").as("__val"), min("__ts").as("valid_from"))
    val wr = Window.partitionBy("__k").orderBy("__run")
    runs
      .withColumn("valid_to", lead("valid_from", 1).over(wr))
      .select(col("__k").as(keyCol), col("__val").as(valueCol),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Exact winsorized statistics per group — the robust-mean staple
    * (Winsor's clipping, cf. Tukey & McLaughlin 1963): values below
    * the loPct-th / above the hiPct-th percentile are CLIPPED to
    * those exact rank values (ceil-rank over the ordered multiset,
    * the classical discrete definition) and the mean recomputed —
    * one wild row can no longer drag the group mean. Money through
    * DECIMAL cents; both means are exact integer div.
    *
    * Scale shape: one (group, cents) count reduction from the
    * corpus; the rank cumsum runs over the group's DISTINCT cent
    * values (value-domain-bounded, never a corpus sort), bounds
    * broadcast back onto the same count table for the clipped sum.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      s"bad percentile bounds [$loPct, $hiPct]")
    val c = Lineage.cut(df.select(col(groupCol).as("g"),
        expr(s"CAST(CAST($valueCol AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy("g", "cents").agg(count(lit(1)).as("cnt")))
    val tot = c.groupBy("g")
      .agg(sum("cnt").as("n"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cents")).as("raw_sum"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("cents")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ranked = c.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot.select(col("g"), col("n"))), Seq("g"))
    val lo = ranked.where(expr(s"cum >= ($loPct * n + 99) div 100"))
      .groupBy("g").agg(min("cents").as("lo_cents"))
    val hi = ranked.where(expr(s"cum >= ($hiPct * n + 99) div 100"))
      .groupBy("g").agg(min("cents").as("hi_cents"))
    val bounds = lo.join(hi, Seq("g"))
    c.join(broadcast(bounds), Seq("g"))
      .groupBy("g")
      .agg(
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * " +
          "least(greatest(cents, lo_cents), hi_cents)")).as("__ws"),
        sum(when(col("cents") < col("lo_cents") ||
          col("cents") > col("hi_cents"), col("cnt")).otherwise(0L))
          .as("n_clipped"),
        min("lo_cents").as("lo_cents"), min("hi_cents").as("hi_cents"))
      .join(broadcast(tot), Seq("g"))
      .select(col("g").as(groupCol), col("n").as("n_rows"),
        col("lo_cents"), col("hi_cents"),
        expr("CAST(raw_sum div n AS BIGINT)").as("mean_cents"),
        expr("CAST(__ws div n AS BIGINT)").as("winsorized_mean_cents"),
        col("n_clipped"))
  }

  /** Pairwise two-sample Kolmogorov–Smirnov statistic between every
    * group pair's value distributions — the drift family's fourth
    * lens (PSI reads binned mass shifts, W1 reads transport cost,
    * JSD reads word-distribution divergence; KS reads the single
    * worst CDF gap, the classical two-sample test): for each (a < b)
    * pair, D = max over the shared bin grid of |CDF_a − CDF_b|, with
    * the bin where the maximum lands (smallest such bin on ties).
    * CDFs quantize to exact ppm BEFORE the diff ((10⁶·cum) div n —
    * deterministic in both engines), so D_ppm is integer-exact.
    *
    * Scale shape: one corpus scan bins; per-group CDFs ride one
    * cumsum window over the (groups × global bins) grid; the pair
    * join runs on (groups² × bins) — both value-domain-bounded,
    * never corpus-proportional.
    */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
              binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be positive")
    val binned = df.select(col(groupCol).as("g"),
      expr(s"CAST($valueCol div $binWidth AS BIGINT)").as("bin"))
    val sHist = Lineage.cut(binned.groupBy("g", "bin")
      .agg(count(lit(1)).as("sc")))
    val bins = sHist.select("bin").distinct()
    val sTot = sHist.groupBy("g").agg(sum("sc").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cdf = Lineage.cut(sTot.select("g", "n").crossJoin(broadcast(bins))
      .join(sHist, Seq("g", "bin"), "left")
      .select(col("g"), col("n"), col("bin"),
        sum(expr("coalesce(sc, CAST(0 AS BIGINT))")).over(w).as("cum"))
      .select(col("g"), col("n"), col("bin"),
        expr("CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)")
          .as("cdf_ppm")))
    val a = cdf.select(col("g").as("ga"), col("n").as("n_a"),
      col("bin"), col("cdf_ppm").as("ca"))
    val b = cdf.select(col("g").as("gb"), col("n").as("n_b"),
      col("bin"), col("cdf_ppm").as("cb"))
    a.join(b, Seq("bin"))
      .where(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        // argmax with smallest-bin tiebreak via one struct-max
        max(struct(abs(col("ca") - col("cb")).as("d"),
          (-col("bin")).as("nb"))).as("__m"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_a"), col("n_b"), col("__m.d").as("d_ppm"),
        (-col("__m.nb")).as("d_at_bin"))
  }

  /** Per-source dataset card — the release-notes summary a data team
    * ships with a corpus drop (the "Datasheets for Datasets"
    * practice, Gebru et al. 2021, reduced to the numbers a consumer
    * checks first): volume (docs, chars, whitespace tokens), lexical
    * breadth (distinct vocabulary), exact-duplicate rate (md5
    * fingerprint), language spread (languages seen, the dominant one
    * and its per-mille share). All exact integers.
    *
    * Scale shape: one doc-level reduction, one distinct-fingerprint
    * reduction, one (source, lang) reduction and one (source, word)
    * distinct reduction — each map-side partial; NO multi-
    * countDistinct single aggregate (that plans an Expand that
    * multiplies every row k× before the shuffle); the four
    * source-keyed tables join broadcast at the end.
    */
  def datasetCard(df: DataFrame, sourceCol: String, textCol: String,
                  langCol: String, charsCol: String): DataFrame = {
    import graft.functions.TextFns
    val base = df.groupBy(col(sourceCol).as("src"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol)).as("total_chars"),
        sum(size(TextFns.tokens(col(textCol)))).as("n_tokens"))
    val uniq = df.select(col(sourceCol).as("src"),
        md5(col(textCol)).as("fp")).distinct()
      .groupBy("src").agg(count(lit(1)).as("n_unique_docs"))
    val langs = df.groupBy(col(sourceCol).as("src"),
        col(langCol).as("lang")).agg(count(lit(1)).as("c"))
    val nLangs = langs.groupBy("src").agg(count(lit(1)).as("n_langs"))
    val topLang = graft.plans.TopK.topKPerKey(
        langs.select(col("src"), col("c"),
          // rank DESC on count; the tie column must invert for an
          // ASC alphabetic tiebreak under the field0-DESC-rest-ASC
          // contract — lang itself is the rest-ASC field, fine
          col("lang")), Seq("src"), col("c"), Seq(col("lang")), 1)
      .select(col("src"), col("lang").as("top_lang"),
        col("c").as("top_lang_docs"))
    val vocab = df.select(col(sourceCol).as("src"),
        explode(array_distinct(TextFns.tokens(col(textCol)))).as("w"))
      .distinct()
      .groupBy("src").agg(count(lit(1)).as("vocab"))
    base.join(broadcast(uniq), Seq("src"))
      .join(broadcast(nLangs), Seq("src"))
      .join(broadcast(topLang), Seq("src"))
      .join(broadcast(vocab), Seq("src"))
      .select(col("src").as(sourceCol), col("n_docs"), col("total_chars"),
        expr("CAST(total_chars div n_docs AS BIGINT)").as("mean_chars"),
        col("n_tokens"), col("vocab"), col("n_unique_docs"),
        expr("CAST((1000 * (n_docs - n_unique_docs)) div n_docs AS BIGINT)")
          .as("dup_x1000"),
        col("n_langs"), col("top_lang"),
        expr("CAST((1000 * top_lang_docs) div n_docs AS BIGINT)")
          .as("top_lang_x1000"))
  }

  /** Point-in-time enrichment against an SCD2 dimension — the
    * feature-store correctness join: each fact row picks up the
    * dimension version whose half-open validity interval
    * [valid_from, valid_to) contains the fact's OWN timestamp, never
    * a later version (the leakage a naive "join current" commits).
    * Left join: facts before the key's first recorded version keep
    * null dimension columns, which is the honest answer. Dimension
    * payload columns come back prefixed `dim_`.
    *
    * Scale shape: an equi-join on the key with the interval
    * predicate as a post-join filter — Spark plans a sort-merge /
    * shuffled-hash join partitioned by key (NEVER a cross join); a
    * key's interval count is its change count, so the per-key fan
    * is version-bounded. Pairs with [[scd2Intervals]], which builds
    * the intervals.
    */
  def pitJoin(facts: DataFrame, factKeyCol: String, factTsCol: String,
              dim: DataFrame, dimKeyCol: String,
              fromCol: String = "valid_from",
              toCol: String = "valid_to"): DataFrame = {
    val renamed = dim.columns.foldLeft(dim) { (acc, c) =>
      if (c == dimKeyCol) acc.withColumnRenamed(c, "__dk")
      else if (c == fromCol || c == toCol) acc
      else acc.withColumnRenamed(c, s"dim_$c")
    }
    facts.join(renamed,
      facts(factKeyCol) === renamed("__dk") &&
        facts(factTsCol) >= renamed(fromCol) &&
        (renamed(toCol).isNull || facts(factTsCol) < renamed(toCol)),
      "left").drop("__dk")
  }

  /** Fleiss' κ (Fleiss 1971) — chance-corrected agreement among R ≥ 2
    * raters per item, the multi-labeler generalization of
    * [[cohensKappa]]: the triple-annotation QA gate. One row per
    * item with one column per rater; κ computed as the exact
    * rational (A·n·r² − S·R) / (R·(n²r² − S)) with A = Σ n_ij(n_ij−1),
    * S = Σ c_j², R = r(r−1) — per-mille integers through
    * DECIMAL(38), negative below chance. One unpivot scan; every
    * aggregate lands on (items × categories)-bounded tables, then
    * one row.
    */
  def fleissKappa(df: DataFrame, idCol: String,
                  raterCols: Seq[String]): DataFrame = {
    val r = raterCols.size
    require(r >= 2, s"need >= 2 raters, got $r")
    val tagged = df.select(col(idCol).as("__i"),
        array(raterCols.map(col): _*).as("__rs"))
      .select(col("__i"), explode(col("__rs")).as("cat"))
    val nij = Lineage.cut(tagged.groupBy("__i", "cat")
      .agg(count(lit(1)).as("nij")))
    val aRow = nij.agg(sum(expr("nij * (nij - 1)")).as("a"),
      countDistinct(col("__i")).as("n"))
    val cj = nij.groupBy("cat").agg(sum("nij").as("cj"))
    val sRow = cj.agg(sum(expr("CAST(cj AS DECIMAL(38,0)) * cj")).as("s"),
      count(lit(1)).as("n_cats"))
    val bigR = r * (r - 1)
    aRow.crossJoin(broadcast(sRow))
      .select(col("n").as("n_items"), col("n_cats"),
        col("a").cast("bigint").as("a_sum"),
        col("s").cast("bigint").as("s_sum"),
        expr(s"CAST((1000 * (CAST(a AS DECIMAL(38,0)) * n * ${r * r} " +
          s"- CAST(s AS DECIMAL(38,0)) * $bigR)) div " +
          s"($bigR * (CAST(n AS DECIMAL(38,0)) * n * ${r * r} - s)) " +
          "AS BIGINT)").as("kappa_x1000"))
  }

  /** Deequ-style expectation report over row-level predicates — ONE
    * scan, one conditional-sum aggregation, then one output row per
    * check: (check, n_rows, n_pass, pass_x1000, passed). Predicates
    * arrive as SQL strings parseable by BOTH engines, so the DuckDB
    * twin evaluates the LITERAL same text and the check list cannot
    * drift.
    */
  def rowChecks(df: DataFrame, checks: Seq[(String, String)],
                minPassX1000: Long = 1000L): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    // the ONE-row aggregate is re-selected once per check row — cut
    // lineage so the corpus scan runs once, not |checks| times
    val agg = Lineage.cut(df.agg(count(lit(1)).as("__n"),
      checks.zipWithIndex.map { case ((_, p), i) =>
        sum(when(expr(p), 1L).otherwise(0L)).as(s"__p$i") }: _*))
    val rows = checks.zipWithIndex.map { case ((name, _), i) =>
      agg.select(lit(name).as("check"), col("__n").as("n_rows"),
        col(s"__p$i").as("n_pass"),
        expr(s"CAST((1000 * __p$i) div greatest(__n, 1) AS BIGINT)")
          .as("pass_x1000"),
        (expr(s"(1000 * __p$i) div greatest(__n, 1)") >= minPassX1000)
          .as("passed"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** The uniqueness expectation (primary-key check): distinct
    * key-tuples over total rows, same output row shape as
    * [[rowChecks]] so the two union into one report. One key-hashed
    * aggregation with map-side partials; the shuffle carries distinct
    * keys, never rows.
    */
  def uniquenessCheck(df: DataFrame, keyCols: Seq[String], name: String,
                      minPassX1000: Long = 1000L): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(sum("__c").as("__n"), count(lit(1)).as("__d"))
      .select(lit(name).as("check"), col("__n").as("n_rows"),
        col("__d").as("n_pass"),
        expr("CAST((1000 * __d) div greatest(__n, 1) AS BIGINT)")
          .as("pass_x1000"),
        (expr("(1000 * __d) div greatest(__n, 1)") >= minPassX1000)
          .as("passed"))

  /** Join-amplification pre-flight — "how many rows will this
    * equi-join EMIT, and which keys dominate": per join key,
    * |left rows| × |right rows| is the key's output contribution;
    * the report carries the top `k` keys with their exact
    * amplification and per-mille share of the total output — the
    * check a pipeline runs before a 100 TB join to find the hot key
    * that needs salting BEFORE the straggler does (the join-pair
    * complement of [[skewReport]]'s single-table view).
    *
    * Scale shape: both sides reduce to per-key counts (map-side
    * partials — the shuffle carries distinct keys); ONE key join of
    * the two count tables; the total is a single-row aggregate and
    * the top-k is the bounded-heap aggregate, never a global sort.
    */
  def joinAmplification(left: DataFrame, leftKey: String,
                        right: DataFrame, rightKey: String,
                        k: Int = 10): DataFrame = {
    import graft.plans.TopK
    val cl = left.where(col(leftKey).isNotNull)
      .groupBy(col(leftKey).cast("bigint").as("key"))
      .agg(count(lit(1)).as("n_left"))
    val cr = right.where(col(rightKey).isNotNull)
      .groupBy(col(rightKey).cast("bigint").as("key"))
      .agg(count(lit(1)).as("n_right"))
    val amp = cl.join(cr, "key")
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("out_rows"))
    val tot = amp.agg(sum("out_rows").as("total"))
    amp
      .agg(TopK.top_k(struct(col("out_rows"), col("key"), col("n_left"),
        col("n_right")), k).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__row")))
      .select(col("__row.key").as("key"), col("__row.n_left").as("n_left"),
        col("__row.n_right").as("n_right"),
        col("__row.out_rows").as("out_rows"),
        (col("__pos") + 1).cast("bigint").as("rank"))
      .crossJoin(broadcast(tot))
      .select(col("key"), col("n_left"), col("n_right"), col("out_rows"),
        expr("CAST((1000 * out_rows) div greatest(total, 1) AS BIGINT)")
          .as("share_x1000"),
        col("rank"))
  }

  /** Keyed snapshot diff — "what changed between yesterday's drop and
    * today's": every key classified as added / removed / changed /
    * unchanged by ONE full-outer join on the key and a direct
    * null-safe comparison of the compared columns (no hashing, so
    * engine-portable bit-for-bit). Returns (keys…, diff_status); the
    * caller aggregates or filters — the row-level form is the one a
    * pipeline feeds into incremental reprocessing.
    *
    * Scale shape: both snapshots reduce to (key, compared columns)
    * projections — column-pruned at the scan — and meet in one
    * key-partitioned shuffle join; the classification is a codegen'd
    * projection. Nothing is collected; no windows.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(compareCols.nonEmpty, "need at least one compared column")
    val ak = a.select((keyCols ++ compareCols).map(col) :+
      lit(1).as("__ina"): _*)
    val bk = b.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"__b_$c")) :+
      lit(1).as("__inb"): _*)
    val changed = compareCols
      .map(c => !(col(c) <=> col(s"__b_$c")))
      .reduce(_ || _)
    ak.join(bk, keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__ina").isNull, lit("added"))
          .when(col("__inb").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")).as("diff_status"): _*)
  }

  /** Referential-integrity + coverage report over foreign-key edges:
    * per (child.key → parent.key) edge, the child rows, the orphans
    * (child keys with no parent), and on the parent side the distinct
    * parents and how many are actually referenced — the "is this join
    * safe, and how selective is it" pre-flight a pipeline runs before
    * trusting an equi-join at 100 TB.
    *
    * Scale shape per edge: child reduces to per-key counts (map-side
    * partials — the shuffle carries distinct keys), parent to its
    * distinct keys; ONE full-outer key join classifies every key as
    * matched/orphan/unreferenced; the final aggregate is one row.
    * Never an anti-join + semi-join + two extra scans.
    */
  def refIntegrity(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "need at least one FK edge")
    val rows = edges.map { case (name, child, ck, parent, pk) =>
      val c = child.where(col(ck).isNotNull)
        .groupBy(col(ck).cast("bigint").as("k")).agg(count(lit(1)).as("cn"))
      val p = parent.select(col(pk).cast("bigint").as("k")).distinct()
        .withColumn("isp", lit(1))
      c.join(p, Seq("k"), "full_outer")
        .agg(
          coalesce(sum("cn"), lit(0L)).as("n_child"),
          coalesce(sum(when(col("isp").isNull, col("cn"))), lit(0L))
            .as("n_orphans"),
          count(col("isp")).as("n_parents"),
          count(when(col("isp").isNotNull && col("cn").isNotNull, lit(1)))
            .as("n_referenced"))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"),
          expr("CAST((1000 * n_orphans) div greatest(n_child, 1) AS BIGINT)")
            .as("orphan_x1000"),
          col("n_parents"), col("n_referenced"),
          expr("CAST((1000 * n_referenced) div greatest(n_parents, 1) AS BIGINT)")
            .as("coverage_x1000"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** Heavy changers between two corpus snapshots (the exact form of
    * the CMS "heavy change detection" problem, Cormode &
    * Muthukrishnan): the k words whose RATE (ppm of each side's token
    * mass — rates, not raw counts, so a corpus that merely grew
    * doesn't flag everything) moved the most between snapshot A and
    * snapshot B. Emits (rn, word, c_a, c_b, ppm_a, ppm_b,
    * delta_ppm); the ranking rides the bounded heap on |Δppm| —
    * vocabulary-bounded work after two count reductions.
    */
  def heavyChangers(a: DataFrame, b: DataFrame, textCol: String,
                    k: Int = 25): DataFrame = {
    import graft.functions.TextFns
    def counts(d: DataFrame, cName: String) =
      d.select(explode(TextFns.tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as(cName))
    val ca = counts(a, "c_a"); val cb = counts(b, "c_b")
    val tot = ca.agg(sum("c_a").as("ta"))
      .crossJoin(cb.agg(sum("c_b").as("tb")))
    val merged = ca.join(cb, Seq("w"), "full_outer")
      .na.fill(0L, Seq("c_a", "c_b"))
      .crossJoin(broadcast(tot))
      .select(col("w").as("word"), col("c_a"), col("c_b"),
        expr("CAST((CAST(c_a AS DECIMAL(38,0)) * 1000000) div " +
          "greatest(ta, 1) AS BIGINT)").as("ppm_a"),
        expr("CAST((CAST(c_b AS DECIMAL(38,0)) * 1000000) div " +
          "greatest(tb, 1) AS BIGINT)").as("ppm_b"))
      .withColumn("delta_ppm", col("ppm_a") - col("ppm_b"))
    graft.plans.TopK.topKPerKey(
        merged.withColumn("__mag", abs(col("delta_ppm"))),
        Seq.empty, col("__mag"), Seq(col("word"), col("c_a"), col("c_b"),
          col("ppm_a"), col("ppm_b"), col("delta_ppm")), k)
      .select(col("rn"), col("word"), col("c_a"), col("c_b"),
        col("ppm_a"), col("ppm_b"), col("delta_ppm"))
  }

  /** Gini concentration of a value column, computed EXACTLY for the
    * `binWidth`-bucketed distribution (the standard grouped-data
    * form): individuals within a bucket share the bucket's lower
    * bound, the rank-weighted mass Σ_j j·x_(j) folds per bucket as
    * v_i·(n_i·C_{i−1} + n_i·(n_i+1)/2), and
    * G = (2·Σ j·x − (N+1)·S) / (N·S) emits per-mille through
    * DECIMAL(38). The inequality dashboard number — "how much of the
    * corpus's token mass sits in its longest documents" (0 = uniform,
    * → 1000 = all mass in one row). One bucket reduction (map-side
    * partial), then a cumulative window over the BOUNDED bucket table
    * (q92's audited shape).
    */
  def giniIndex(df: DataFrame, valueCol: String,
                binWidth: Long = 32): DataFrame = {
    require(binWidth >= 1, s"binWidth=$binWidth must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val buckets = df
      .select(expr(s"CAST(($valueCol div $binWidth) * $binWidth AS BIGINT)")
        .as("v"))
      .groupBy("v").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    buckets
      .withColumn("cprev", coalesce(sum("n").over(w), lit(0L)))
      .select(col("v"), col("n"), col("cprev"))
      .agg(sum("n").as("n_rows"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * n")).as("s_mass"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * (n * cprev + (n * (n + 1)) " +
          "div 2)")).as("rank_mass"))
      .select(col("n_rows").cast("bigint").as("n_rows"),
        col("s_mass").cast("decimal(38,0)").cast("bigint").as("total_mass"),
        expr("CAST((1000 * (2 * rank_mass - (n_rows + 1) * s_mass)) div " +
          "greatest(n_rows * s_mass, 1) AS BIGINT)").as("gini_x1000"))
  }

  /** The per-word JSD contribution in ppm-weighted eighth-bits —
    * p·(L(2p) − L(p+q)) + q·(L(2q) − L(p+q)) with
    * L = [[graft.ops.TextStats.log2E8Sql]] — over columns p_ppm /
    * q_ppm (Laplace-smoothed ≥ 1, so every log argument is ≥ 2).
    * The DuckDB twin's SQL (`//` spelling); the Spark plan builds the
    * same term from the native log ([[jsdTerm]]).
    */
  def jsdTermSql(): String = {
    def L(e: String) = graft.ops.TextStats.log2E8Sql(e, "//")
    s"(p_ppm * (${L("2 * p_ppm")} - ${L("p_ppm + q_ppm")}) " +
      s"+ q_ppm * (${L("2 * q_ppm")} - ${L("p_ppm + q_ppm")}))"
  }

  /** [[jsdTermSql]] over the native log. */
  private def jsdTerm: Column = {
    def L(c: Column) = MitchellE8.log2E8(c)
    val (p, q) = (col("p_ppm"), col("q_ppm"))
    p * (L(lit(2L) * p) - L(p + q)) + q * (L(lit(2L) * q) - L(p + q))
  }

  /** Pairwise Jensen–Shannon divergence between per-group word
    * distributions (Lin 1991) — the bounded (≤ 1 bit), symmetric
    * corpus-comparison standard: where [[psiDrift]] watches a numeric
    * column's histogram, this compares the LANGUAGE of the text
    * itself between sources, the "did this supplier's crawl change
    * register" check. Per group pair, token probabilities are
    * Laplace-smoothed integer ppm over the pair's UNION vocabulary
    * (mass on either side's exclusive words counts), and
    * JSD = ½Σ[p·ln(2p/(p+q)) + q·ln(2q/(p+q))] evaluates entirely in
    * [[graft.ops.TextStats.log2E8Sql]] eighth-bit integer logs —
    * emitted as micro-bits (10⁻⁶ bit), exact across engines: the
    * twin's [[jsdTermSql]] and the plan's native [[jsdTerm]] compute
    * the same integers.
    *
    * Scale shape: ONE (group, word) count reduction (map-side
    * partial, checkpointed — every downstream leg reuses it), a
    * groups²-bounded pair table, two vocab-scale joins + one full
    * outer building the union grid, and a pair-keyed final sum.
    * Vocabulary does not grow with corpus replication.
    */
  def jsDivergence(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    import graft.functions.TextFns
    val counts = Lineage.cut(df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c")))
    val tot = counts.groupBy("g").agg(sum("c").as("t"))
    val pairs = tot.select(col("g").as("ga"))
      .join(tot.select(col("g").as("gb")), col("ga") < col("gb"))
    val la = pairs.join(counts.select(col("g").as("ga"), col("w"),
      col("c").as("ca")), Seq("ga"))
    val lb = pairs.join(counts.select(col("g").as("gb"), col("w"),
      col("c").as("cb")), Seq("gb"))
    val grid = la.join(lb, Seq("ga", "gb", "w"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val nu = grid.groupBy("ga", "gb").agg(count(lit(1)).as("nu"))
    grid
      .join(broadcast(nu), Seq("ga", "gb"))
      .join(broadcast(tot.select(col("g").as("ga"), col("t").as("ta"))),
        Seq("ga"))
      .join(broadcast(tot.select(col("g").as("gb"), col("t").as("tb"))),
        Seq("gb"))
      .select(col("ga"), col("gb"), col("nu"),
        expr("greatest(CAST((CAST(ca + 1 AS DECIMAL(38,0)) * 1000000) " +
          "div (ta + nu) AS BIGINT), CAST(1 AS BIGINT))").as("p_ppm"),
        expr("greatest(CAST((CAST(cb + 1 AS DECIMAL(38,0)) * 1000000) " +
          "div (tb + nu) AS BIGINT), CAST(1 AS BIGINT))").as("q_ppm"))
      .withColumn("term", jsdTerm)
      .groupBy("ga", "gb")
      .agg(max("nu").as("n_words"), sum("term").as("__s"))
      .select(col("ga").as("lang_a"), col("gb").as("lang_b"),
        col("n_words"),
        expr("CAST((__s div 2) div 8 AS BIGINT)").as("jsd_bits_x1e6"))
  }

  /** Per-class precision/recall/F1 over (truth, pred) rows — the
    * basic classifier-evaluation report every labeling stage (langid,
    * quality gates, NB) gets judged by. Exact integer per-mille:
    * precision = 1000·tp div n_pred, recall = 1000·tp div n_true, and
    * F1's harmonic mean happens to be EXACTLY 2000·tp div
    * (n_pred + n_true) — no float mean-of-ratios. Classes appearing
    * only as truth or only as prediction still get a row (full outer
    * on the label), with zero-denominator metrics reported as 0.
    *
    * Scale shape: three label-keyed partial aggregations (truth
    * counts, prediction counts, diagonal counts) over the scored
    * table, joined on the classes-bounded label table — nothing wider
    * than a label ever shuffles.
    */
  def classificationReport(df: DataFrame, truthCol: String,
                           predCol: String): DataFrame = {
    val t = df.groupBy(col(truthCol).as("label"))
      .agg(count(lit(1)).as("n_true"))
    val p = df.groupBy(col(predCol).as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = df.where(col(truthCol) === col(predCol))
      .groupBy(col(truthCol).as("label"))
      .agg(count(lit(1)).as("tp"))
    reportMetricRows(t.join(p, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .na.fill(0L, Seq("n_true", "n_pred", "tp")))
  }

  /** The metric projection over a (label, n_true, n_pred, tp) counts
    * table — shared VERBATIM by [[classificationReport]] and
    * [[classificationReportFromCounts]] so the batch and streaming
    * readbacks cannot drift in the PRF arithmetic.
    */
  private def reportMetricRows(counts: DataFrame): DataFrame =
    counts.select(col("label"), col("n_true"), col("n_pred"), col("tp"),
      expr("CAST((1000 * tp) div greatest(n_pred, 1) AS BIGINT)")
        .as("precision_x1000"),
      expr("CAST((1000 * tp) div greatest(n_true, 1) AS BIGINT)")
        .as("recall_x1000"),
      expr("CAST((2000 * tp) div greatest(n_pred + n_true, 1) AS BIGINT)")
        .as("f1_x1000"))

  /** Build the [[classificationReport]]-shape report from externally
    * accumulated per-class counts — the readback half of a STREAMING
    * classification-quality monitor: the three count triples are
    * additive across micro-batches (per-row stateless, like the
    * funnel reaches), so a foreachBatch can fold (label → n_true,
    * n_pred, tp) per trigger and emit the live report through the
    * same [[reportMetricRows]] arithmetic the batch operator uses
    * (differential-specced). Counts arrive as driver values —
    * classes-bounded by construction.
    */
  def classificationReportFromCounts(
      spark: org.apache.spark.sql.SparkSession,
      counts: Seq[(String, Long, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("label", StringType),
      StructField("n_true", LongType), StructField("n_pred", LongType),
      StructField("tp", LongType)))
    reportMetricRows(spark.createDataFrame(
      spark.sparkContext.parallelize(
        counts.map { case (l, t, p, d) => Row(l, t, p, d) }, 1), schema))
  }

  /** Cohen's κ agreement between two labelers (Cohen 1960) — the
    * standard chance-corrected agreement score for comparing two
    * classifiers (or a classifier against human labels). With
    * A = agreements, N = rows and S = Σ_c n_a(c)·n_b(c) the expected-
    * agreement product sum, κ = (A/N − S/N²)/(1 − S/N²) reduces to
    * the EXACT integer form (A·N − S)/(N² − S); emitted per-mille
    * through DECIMAL(38) (N² at corpus scale exceeds int64). One row:
    * (n, n_agree, kappa_x1000), negative when observed agreement
    * falls below chance. Two label-keyed partial aggregations + one
    * classes-bounded join; the scalar totals broadcast.
    */
  def cohensKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val na = df.groupBy(col(colA).as("label")).agg(count(lit(1)).as("ca"))
    val nb = df.groupBy(col(colB).as("label")).agg(count(lit(1)).as("cb"))
    val s = na.join(nb, Seq("label"))
      .agg(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")).as("s_prod"))
    val base = df.agg(count(lit(1)).as("n"),
      sum(when(col(colA) === col(colB), 1L).otherwise(0L)).as("n_agree"))
    base.crossJoin(broadcast(s))
      .select(col("n"), col("n_agree"),
        expr("CAST((1000 * (CAST(n_agree AS DECIMAL(38,0)) * n - s_prod)) div " +
          "greatest(CAST(n AS DECIMAL(38,0)) * n - s_prod, 1) AS BIGINT)")
          .as("kappa_x1000"))
  }

  /** Cronbach's α (Cronbach, Psychometrika 1951) — internal-
    * consistency reliability of a k-item scale: do the k per-unit
    * measurements move together enough to be read as ONE construct
    * (the q295/q180 agreement lens turned inward, on items instead
    * of raters):
    *
    *   α = k/(k−1) · (1 − Σᵢ Var(itemᵢ) / Var(Σᵢ itemᵢ))
    *
    * Fully integer via the common-denominator variance form
    * n·Σx² − (Σx)² (the n² divisor cancels in the ratio):
    * alpha_ppm = sign-symmetric (10⁶·k·(T − S)) div ((k−1)·T) with
    * S = Σᵢ (n·Σxᵢ² − (Σxᵢ)²) and T the same for the row totals —
    * exact DECIMAL(38); a negative α (items moving against each
    * other) survives the subtraction.
    *
    * `items` are integer expression strings evaluated per unit row.
    * Scale shape: ONE (2k+3)-sum fold over the units; one-row report.
    */
  def cronbachAlpha(df: DataFrame, items: Seq[String]): DataFrame = {
    require(items.size >= 2, s"need k >= 2 items, got ${items.size}")
    val k = items.size
    val tot = items.map(i => s"($i)").mkString(" + ")
    val aggs =
      items.zipWithIndex.flatMap { case (i, ix) =>
        Seq(sum(expr(i)).as(s"__s$ix"),
          sum(expr(s"CAST(($i) AS DECIMAL(38,0)) * ($i)")).as(s"__q$ix"))
      } ++ Seq(count(lit(1)).as("n"),
        sum(expr(tot)).as("__st"),
        sum(expr(s"CAST(($tot) AS DECIMAL(38,0)) * ($tot)")).as("__qt"))
    val sTerms = (0 until k).map(ix =>
      s"(n * __q$ix - CAST(__s$ix AS DECIMAL(38,0)) * __s$ix)")
      .mkString(" + ")
    df.agg(aggs.head, aggs.tail: _*)
      .withColumn("__S", expr(sTerms))
      .withColumn("__T", expr(
        "n * __qt - CAST(__st AS DECIMAL(38,0)) * __st"))
      .select(col("n"), lit(k.toLong).as("k"),
        expr(s"CASE WHEN __T <= 0 THEN CAST(0 AS BIGINT) " +
          s"WHEN __T >= __S THEN " +
          s"CAST((1000000 * $k * (__T - __S)) div (${k - 1} * __T) " +
          "AS BIGINT) ELSE " +
          s"-CAST((1000000 * $k * (__S - __T)) div (${k - 1} * __T) " +
          "AS BIGINT) END").as("alpha_ppm"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    * the distributional strengthening of [[kAnonymity]]'s l-diversity
    * column: an equivalence class leaks even with l distinct
    * sensitive values if its distribution SKEWS from the corpus
    * (the classic "all k patients in this class have SOME cancer"
    * attack). For a nominal sensitive attribute the prescribed
    * distance is variational: t(class) = ½ Σ_v |p_c(v) − p(v)|.
    *
    * Exact integers via the common-denominator form: with class size
    * n_c, corpus size N, class counts cnt_cv and corpus counts
    * cnt_v,
    *
    *   t_ppm = (10⁶ · Σ_v |cnt_cv·N − cnt_v·n_c|) div (2·n_c·N)
    *
    * through DECIMAL(38) — no per-term ppm truncation, one divide
    * per class.
    *
    * Scale shape: one (class, v) reduction, one value-domain-bounded
    * corpus marginal broadcast UNDER every class row (the q155
    * union-grid shape — zero cells must contribute |0 − cnt_v·n_c|),
    * one one-row N broadcast, one class-keyed fold.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String,
                 tPpm: Long = 300000L): DataFrame = {
    val qc = quasiCols.map(col)
    // feeds the class sizes AND the grid join
    val cv = Lineage.cut(df.groupBy(qc :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__cv")))
    val vc = cv.groupBy("__v").agg(sum("__cv").cast("bigint").as("__cd"))
    val cls = cv.groupBy(qc: _*).agg(sum("__cv").cast("bigint").as("n_c"))
    val n = vc.agg(sum("__cd").cast("bigint").as("__n"))
    cls.crossJoin(broadcast(vc))
      .join(cv, quasiCols :+ "__v", "left")
      .crossJoin(broadcast(n))
      .withColumn("__term", expr(
        "abs(CAST(coalesce(__cv, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) " +
          "* __n - CAST(__cd AS DECIMAL(38,0)) * n_c)"))
      .groupBy(qc :+ col("n_c"): _*)
      .agg(sum("__term").as("__num"), max("__n").as("__n"))
      .select(qc :+ col("n_c") :+
        expr("CAST((1000000 * __num) div " +
          "(2 * CAST(n_c AS DECIMAL(38,0)) * __n) AS BIGINT)")
          .as("t_ppm"): _*)
      .withColumn("breach", col("t_ppm") > lit(tPpm))
  }

  /** Krippendorff's α (nominal data, two raters per unit) — the
    * third chance-corrected agreement measure after [[cohensKappa]]
    * (which corrects by each rater's OWN marginal) and
    * [[fleissKappa]]: α corrects by the POOLED rating distribution,
    * so it is the one that generalizes across rater counts and
    * missing data (Krippendorff, Content Analysis 1980/2004).
    *
    * For two raters over every unit the coincidence-matrix reduction
    * is closed-form integer: Do_num = 2·n_disagree, De_num =
    * n² − Σ_c n_c² over the pooled marginals n_c (n = 2·units), and
    *
    *   α = 1 − (n−1)·Do_num / De_num
    *
    * → alpha_ppm = 10⁶ − (10⁶·(n−1)·Do_num) div De_num, exact
    * through DECIMAL(38); negative (worse than chance) is a valid
    * result and survives the subtraction.
    *
    * Scale shape: one label-domain-bounded marginal reduction over
    * the pooled ratings, one two-counter fold over the pairs, one
    * one-row broadcast — O(1) state beyond the label domain.
    */
  def krippendorffAlpha(df: DataFrame, colA: String,
                        colB: String): DataFrame = {
    val ratings = df.select(col(colA).as("label"))
      .unionAll(df.select(col(colB).as("label")))
    val s2 = ratings.groupBy("label").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
    df.agg(count(lit(1)).as("n_units"),
        sum(when(col(colA) =!= col(colB), 1L).otherwise(0L))
          .as("n_disagree"))
      .crossJoin(broadcast(s2))
      .select(col("n_units"), col("n_disagree"), col("n").as("n_ratings"),
        expr("CAST(1000000 - (1000000 * (n - 1) * " +
          "CAST(2 * n_disagree AS DECIMAL(38,0))) div " +
          "greatest(CAST(n AS DECIMAL(38,0)) * n - s2, 1) AS BIGINT)")
          .as("alpha_ppm"))
  }

  /** Best Gini split of a numeric feature against a binary label —
    * the CART decision-stump screen (Breiman et al. 1984): for every
    * candidate threshold t (each observed feature value), the
    * weighted Gini impurity of the {x ≤ t} / {x > t} partition, and
    * the best split. The one-feature answer to "can a single rule
    * separate the classes", sharper than [[woeIv]]'s per-value view
    * for ORDERED features.
    *
    * Integer-exact: with binary labels, side impurity is
    * 2·pos·neg/n_side, so the weighted score is
    *
    *   g_x1e6(t) = (2·10⁶·(posL·negL·nR + posR·negR·nL))
    *                 div (nL·nR·n)
    *
    * — one exact DECIMAL(38) division per threshold, no floats;
    * argmin ties to the smallest threshold. The root impurity
    * 2·10⁶·pos·neg div n² gives the gain.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * (value → pos, neg) table (bounded by the feature's value
    * domain — bucket upstream if continuous); the cumulative window
    * and the argmin run over that bounded table, and the one-row
    * totals broadcast.
    */
  def bestGiniSplit(df: DataFrame, featureCol: String,
                    labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.groupBy(col(featureCol).cast("long").as("v"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("q"))
    val tot = vals.agg(sum("p").as("tp"), sum("q").as("tq"))
    // value-domain-bounded cumulative window
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val scored = vals
      .withColumn("pl", sum("p").over(w))
      .withColumn("ql", sum("q").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("nl", expr("pl + ql"))
      .withColumn("nr", expr("(tp - pl) + (tq - ql)"))
      .where(col("nr") > 0) // the last value is not a split
      .withColumn("g_x1e6", expr(
        "CAST((2000000 * (CAST(pl AS DECIMAL(38,0)) * ql * nr + " +
          "CAST(tp - pl AS DECIMAL(38,0)) * (tq - ql) * nl)) div " +
          "(CAST(nl AS DECIMAL(38,0)) * nr * (tp + tq)) AS BIGINT)"))
    scored
      .orderBy(col("g_x1e6"), col("v"))
      .limit(1)
      .select(col("v").as("threshold"),
        col("nl").as("n_le"), col("nr").as("n_gt"),
        col("g_x1e6").as("split_gini_x1e6"),
        expr("CAST((2000000 * CAST(tp AS DECIMAL(38,0)) * tq) div " +
          "(CAST(tp + tq AS DECIMAL(38,0)) * (tp + tq)) AS BIGINT)")
          .as("root_gini_x1e6"))
      .withColumn("gain_x1e6",
        expr("root_gini_x1e6 - split_gini_x1e6"))
  }

  /** Leave-one-group-out impact screen — the cheapest useful form of
    * data valuation (the group-ablation half of Shapley-style
    * source attribution): for every group, the corpus mean of a
    * metric WITH and WITHOUT that group, and the signed shift its
    * removal causes. "Which source is dragging corpus quality" as
    * one aggregation.
    *
    * Integer-exact: `valueCol` must be a non-negative integer
    * metric; means are truncated ×1000 divisions of exact sums and
    * the delta is a SUBTRACTION of the two (never a negative
    * division). Scale shape: ONE group-keyed partial aggregation;
    * the one-row corpus totals broadcast onto the groups-bounded
    * table.
    */
  def looGroupImpact(df: DataFrame, groupCol: String,
                     valueCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_g"), sum(col(valueCol)).as("s_g"))
    val tot = per.agg(sum("n_g").as("n"), sum("s_g").as("s"))
    per.crossJoin(broadcast(tot))
      .select(col("g").as(groupCol), col("n_g"),
        expr("CAST((1000 * CAST(s_g AS DECIMAL(38,0))) div " +
          "greatest(n_g, 1) AS BIGINT)").as("mean_x1000"),
        expr("CAST((1000 * CAST(s AS DECIMAL(38,0))) div " +
          "greatest(n, 1) AS BIGINT)").as("corpus_mean_x1000"),
        expr("CAST((1000 * (CAST(s AS DECIMAL(38,0)) - s_g)) div " +
          "greatest(n - n_g, 1) AS BIGINT)").as("loo_mean_x1000"))
      // the removal shift: what the corpus mean becomes without the
      // group, minus what it is — a subtraction, never a negative div
      .withColumn("delta_x1000",
        expr("loo_mean_x1000 - corpus_mean_x1000"))
  }

  /** Weight-of-Evidence / Information-Value feature screen (the
    * credit-scoring staple, Siddiqi 2006): for each categorical
    * feature and each of its values, WOE = log2 of the smoothed
    * positive-share : negative-share ratio, and per feature
    * IV = Σ (pos_i/P − neg_i/N)·WOE_i — the standard "does this
    * feature separate the classes at all" ranking run before any
    * model training.
    *
    * Integer-exact throughout: WOE in eighth-bit log2 via the
    * Mitchell log with +1 Laplace smoothing,
    * q = ((pos+1)·(N+1)·2^20) div ((neg+1)·(P+1)) — the ratio is
    * taken larger-over-smaller and signed by a CASE, so the Mitchell
    * domain floor is never hit and NO negative integer division
    * exists anywhere (Spark `div` truncates toward zero while other
    * engines floor — the CASE keeps both engines on the same
    * non-negative operand). Share deltas in exact ppm; the final
    * IV division is sign-symmetric by the same discipline. One float
    * step: none.
    *
    * Scale shape: ONE corpus pass — `stack` unpivots the k feature
    * columns map-side (k× width-bounded expansion, immediately
    * partial-aggregated), reducing to the Σ|domain(f)| count table;
    * the per-feature totals and IV folds live on that bounded table
    * and broadcast back onto it.
    */
  def woeIv(df: DataFrame, labelCol: String,
            featureCols: Seq[String]): DataFrame = {
    val stackArgs = featureCols
      .map(f => s"'$f', CAST($f AS STRING)").mkString(", ")
    val long = df.selectExpr(
      s"stack(${featureCols.size}, $stackArgs) AS (feature, value)",
      s"$labelCol AS y")
    val counts = long.groupBy("feature", "value")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("n_neg"))
    woeIvFromCountsDf(counts)
  }

  /** Build the [[woeIv]] report from externally accumulated
    * ((feature, value) → n_pos, n_neg) counts — the readback half
    * of a STREAMING feature-drift monitor: the count table is
    * additive across micro-batches (per-row stateless), so a
    * foreachBatch folds it per trigger and emits the live WOE/IV
    * through the same arithmetic the batch operator uses. State is
    * bounded by Σ|domain(f)|.
    */
  def woeIvFromCounts(spark: org.apache.spark.sql.SparkSession,
                      counts: Seq[(String, String, Long, Long)]): DataFrame = {
    import spark.implicits._
    woeIvFromCountsDf(counts.toDF("feature", "value", "n_pos", "n_neg"))
  }

  /** The WOE/IV arithmetic over a (feature, value, n_pos, n_neg)
    * count table — shared VERBATIM by [[woeIv]] and
    * [[woeIvFromCounts]] so batch and streaming cannot drift.
    */
  private def woeIvFromCountsDf(counts: DataFrame): DataFrame = {
    val tot = counts.groupBy("feature")
      .agg(sum("n_pos").as("p_tot"), sum("n_neg").as("n_tot"))
    val scored = counts.join(broadcast(tot), Seq("feature"))
      .withColumn("qpos",
        expr("CAST(n_pos + 1 AS DECIMAL(38,0)) * (n_tot + 1)"))
      .withColumn("qneg",
        expr("CAST(n_neg + 1 AS DECIMAL(38,0)) * (p_tot + 1)"))
      // each branch takes the larger-over-smaller ratio, so the log
      // is >= 0
      .withColumn("woe_e8", when(col("qpos") >= col("qneg"),
          MitchellE8.log2Ratio(col("qpos"), col("qneg")))
        .otherwise(-MitchellE8.log2Ratio(col("qneg"), col("qpos"))))
      .withColumn("dp_ppm", expr(
        "(1000000 * n_pos) div greatest(p_tot, 1) - " +
          "(1000000 * n_neg) div greatest(n_tot, 1)"))
    val iv = scored.groupBy("feature")
      .agg(sum(expr("dp_ppm * woe_e8")).as("s_iv"))
      .withColumn("iv_x1000", expr(
        "CAST(CASE WHEN s_iv >= 0 THEN s_iv div 8000 " +
          "ELSE -((-s_iv) div 8000) END AS BIGINT)"))
    scored.join(broadcast(iv), Seq("feature"))
      .select(col("feature"), col("value"), col("n_pos"), col("n_neg"),
        col("woe_e8"), col("dp_ppm"), col("iv_x1000"))
  }

  /** Isotonic (monotone) calibration of a binned score against a
    * binary label — the RECALIBRATION half of [[calibrationReport]]:
    * the exact isotonic-regression fit via the classical minimax
    * identity (Ayer et al. 1955; Robertson-Wright-Dykstra 1988)
    *
    *   iso(k) = max_{i≤k} min_{j≥k} pooledRate(i..j)
    *
    * equal to the PAVA solution, computed relationally on the
    * bin-bounded table. Floor-to-ppm COMMUTES with min and max, so
    * evaluating the identity over per-interval floored rates yields
    * exactly floor(true isotonic fit) — engine-exact with no float
    * anywhere. Output per bin: (bin, n, pos, raw_ppm, iso_ppm) with
    * iso_ppm nondecreasing in bin.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * B-row bin table; the interval grid and the minimax folds are
    * O(B³) over that bounded table (B is a query constant — the
    * calibration-bin count).
    */
  def isotonicCalibration(df: DataFrame, binCol: String,
                          labelCol: String): DataFrame = {
    // interval grid + membership + report
    val cells = Lineage.cut(df.groupBy(col(binCol).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("pos")))
    // bin-table-bounded inequality joins: broadcast the right sides
    // explicitly so the plan is a BroadcastNestedLoopJoin over the
    // ≤ B-row table, never a CartesianProduct (checkpointed tables
    // lose size estimates and would otherwise plan cartesian)
    val iv = cells.select(col("bin").as("i"))
      .join(broadcast(cells.select(col("bin").as("j"))),
        col("i") <= col("j"))
      .join(broadcast(cells), col("bin") >= col("i") && col("bin") <= col("j"))
      .groupBy("i", "j")
      .agg(expr("CAST((1000000 * sum(CAST(pos AS DECIMAL(38,0)))) div " +
        "sum(CAST(n AS DECIMAL(38,0))) AS BIGINT)").as("m_ppm"))
    val fit = iv
      .join(broadcast(cells.select(col("bin").as("k"))),
        col("i") <= col("k") && col("j") >= col("k"))
      .groupBy("k", "i").agg(min("m_ppm").as("lo"))
      .groupBy("k").agg(max("lo").as("iso_ppm"))
    cells.join(fit, col("bin") === col("k"))
      .select(col("bin"), col("n"), col("pos"),
        expr("CAST((1000000 * pos) div n AS BIGINT)").as("raw_ppm"),
        col("iso_ppm"))
  }

  /** Selection-rate fairness report (Feldman et al. 2015; the EEOC
    * four-fifths rule) — does a gate (quality filter, sampling
    * policy, classifier) select one group at a materially lower rate
    * than the reference group? Per group: exact selection rate,
    * statistical parity difference vs the reference, the disparate-
    * impact ratio ×1000 computed from raw counts
    * (1000·sel_g·n_ref) div (n_g·sel_ref) — exact integers, no rate
    * rounding compounding — and the four-fifths flag (ratio < 800).
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * group-count table; the reference row is a ONE-row broadcast
    * cross join (the q126 convention).
    */
  def fairnessReport(df: DataFrame, groupCol: String,
                     selectedExpr: org.apache.spark.sql.Column,
                     refGroup: String): DataFrame = {
    // reference row + report rows
    val cnt = Lineage.cut(df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(selectedExpr.cast("bigint")).as("sel")))
    val ref = cnt.where(col("g") === lit(refGroup))
      .select(col("n").as("n_ref"), col("sel").as("sel_ref"))
    cnt.crossJoin(broadcast(ref))
      .select(col("g").as(groupCol), col("n"), col("sel"),
        expr("CAST((1000000 * sel) div n AS BIGINT)").as("rate_ppm"),
        expr("CAST((1000000 * sel_ref) div n_ref AS BIGINT)")
          .as("ref_rate_ppm"),
        expr("CAST((1000000 * sel) div n - " +
          "(1000000 * sel_ref) div n_ref AS BIGINT)")
          .as("parity_diff_ppm"),
        expr("CAST(CASE WHEN sel_ref = 0 THEN 0 ELSE " +
          "(1000 * CAST(sel AS DECIMAL(38,0)) * n_ref) div " +
          "(CAST(n AS DECIMAL(38,0)) * sel_ref) END AS BIGINT)")
          .as("di_x1000"))
      .withColumn("below_four_fifths",
        col("di_x1000") < 800L && col(groupCol) =!= lit(refGroup))
  }

  /** Dalenius–Hodges cum-√f stratification (Dalenius & Hodges 1959)
    * — the survey-sampling rule for choosing stratum BOUNDARIES on a
    * skewed value: bin the value, accumulate √frequency, and cut the
    * cumulative at equal shares; the companion to Neyman ALLOCATION
    * (q269), which assumes the strata already exist. Per-bin
    * √f enters as floor(1000·√f) — the one shared float step per
    * bin (identical IEEE expression both engines); everything after
    * is exact integer cumsum/divide. Output one row per stratum:
    * (stratum, n_bins, lo_value, hi_value, n_rows).
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * value-domain-bounded bin table; the cumulative window and the
    * stratum fold run over that bounded table (the q92 audited
    * cumsum class); the total is a ONE-row broadcast.
    */
  def cumSqrtFStrata(df: DataFrame, valueCol: String, binWidth: Long,
                     strata: Int): DataFrame = {
    require(binWidth > 0 && strata >= 1,
      s"binWidth=$binWidth, strata=$strata out of range")
    // total + windowed consumers
    val bins = Lineage.cut(df
      .groupBy(expr(s"$valueCol div $binWidth").as("b"))
      .agg(count(lit(1)).as("f"))
      .withColumn("isq", expr(
        "CAST(floor(1000 * sqrt(CAST(f AS DOUBLE))) AS BIGINT)")))
    val tot = bins.agg(sum("isq").as("t"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    // value-domain-bounded bin-table window by construction
    bins.crossJoin(broadcast(tot))
      .withColumn("cumprev", coalesce(sum("isq").over(w), lit(0L)))
      .withColumn("stratum", expr(
        s"least(${strata - 1}L, (cumprev * $strata) div greatest(t, 1))"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_bins"),
        min(expr(s"b * $binWidth")).as("lo_value"),
        max(expr(s"b * $binWidth + ${binWidth - 1}")).as("hi_value"),
        sum("f").cast("bigint").as("n_rows"))
  }

  /** k-anonymity / l-diversity privacy audit (Sweeney 2002; Machanavajjhala
    * et al. 2007) — the re-identification-risk report a pipeline runs
    * before releasing a table: rows are grouped into EQUIVALENCE
    * CLASSES by the quasi-identifier columns; a class of size < k
    * makes its members k-re-identifiable, and a class whose sensitive
    * column takes a single value discloses that value outright even
    * at large k. One row per requested k threshold:
    * (k, classes_below, rows_below, rows_below_ppm) plus the global
    * figures (n_classes, n_rows, k_anonymity = min class size,
    * l_diversity = min distinct sensitive values, l1_rows_ppm = ppm
    * of rows in single-sensitive-value classes). All integer-exact.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * equivalence-class table (bounded by the quasi-identifier
    * domain); the per-k folds and the one-row totals cross join (the
    * q126 broadcast-scalar convention) run over that bounded table.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String,
                 ks: Seq[Long] = Seq(2L, 5L, 10L, 25L)): DataFrame = {
    // totals + one fold per k threshold
    val cls = Lineage.cut(df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("sz"),
        countDistinct(col(sensitiveCol)).as("ldiv")))
    val tot = cls.agg(
      sum("sz").cast("bigint").as("n_rows"),
      count(lit(1)).as("n_classes"),
      min("sz").as("k_anonymity"),
      min("ldiv").as("l_diversity"),
      coalesce(sum(when(col("ldiv") === 1L, col("sz"))), lit(0L))
        .cast("bigint").as("l1_rows"))
    val perK = ks.map { k =>
      cls.agg(lit(k).as("k"),
        coalesce(sum(when(col("sz") < k, lit(1L))), lit(0L))
          .cast("bigint").as("classes_below"),
        coalesce(sum(when(col("sz") < k, col("sz"))), lit(0L))
          .cast("bigint").as("rows_below"))
    }.reduce(_ unionByName _)
    // ONE-row totals cross-joined into the |ks|-row report
    perK.crossJoin(broadcast(tot))
      .select(col("k"), col("classes_below"), col("rows_below"),
        expr("CAST((1000000 * CAST(rows_below AS DECIMAL(38,0))) " +
          "div n_rows AS BIGINT)").as("rows_below_ppm"),
        col("n_classes"), col("n_rows"), col("k_anonymity"),
        col("l_diversity"),
        expr("CAST((1000000 * CAST(l1_rows AS DECIMAL(38,0))) " +
          "div n_rows AS BIGINT)").as("l1_rows_ppm"))
  }

  /** Theil-T inequality decomposition (Theil 1967) of a positive
    * value over units, split by group: q229's Lorenz curve draws the
    * whole-corpus inequality; this SPLITS it — how much is
    * between-group (sources/nations differing in mean) vs
    * within-group (spread inside each) — the only standard inequality
    * index that decomposes additively, which is exactly what a
    * mixture owner needs ("is revenue concentration a nation story or
    * a per-customer story"). Integer-exact via the Mitchell e256 log
    * (the q155 PSI discipline at 32× finer quantization; native in
    * the plan, the SQL ladder in the twin): every log is a RATIO log
    * — q = (greatest·2²⁰) div least ≥ 2²⁰, lr = ±(m256(q) − 256·20)
    * — so both engines evaluate the identical piecewise-linear
    * surface. Per group:
    * within_me256 = (1000·Σᵢ xᵢ·lr(xᵢ, x̄_g)) div X_g and
    * between_me256 = (1000·X_g·lr(x̄_g, x̄)) div X, in milli-(1/256
    * log2) units — value-weighted BEFORE the divide, so no per-unit
    * ppm floor; Σ_g between + Σ_g (X_g/X)·within ≈ total Theil up to
    * the documented e256 quantization. Zero/negative values drop
    * (Theil's domain).
    *
    * Scale shape: one unit scan with the codegen'd native log, one
    * (group) reduction, a broadcast group-means table (group domain
    * bounded — the per-group-report contract) and a one-row totals
    * broadcast.
    */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         valueExpr: org.apache.spark.sql.Column): DataFrame = {
    val unit = df.select(col(groupCol).cast("string").as("g"),
        valueExpr.cast("bigint").as("x"))
      .where(col("x") > 0)
    // means + totals + the per-unit join share it
    val pg = Lineage.cut(unit.groupBy("g")
      .agg(count(lit(1)).as("ng"), sum("x").as("xg")))
    val tot = pg.agg(sum("ng").as("n"), sum("xg").as("x"))
    val mg = pg.select(col("g"), col("ng"), col("xg"),
      expr("xg div ng").as("mg"))
    val within = unit.join(broadcast(mg.select("g", "mg")), Seq("g"))
      .withColumn("__lr", signedLogE256(col("x"), col("mg")))
      .select(col("g"),
        expr("CAST(x AS DECIMAL(38,0)) * __lr").as("t"))
      .groupBy("g").agg(sum("t").as("tw"))
    mg.join(within, Seq("g"))
      .crossJoin(broadcast(tot))
      .withColumn("__m", expr("x div n"))
      .withColumn("__lrb", signedLogE256(col("mg"), col("__m")))
      .select(col("g").as(groupCol),
        col("ng").cast("bigint").as("n_units"),
        col("xg").cast("bigint").as("total_value"),
        expr("CAST((1000000 * CAST(ng AS DECIMAL(38,0))) div n AS BIGINT)")
          .as("pop_share_ppm"),
        expr("CAST((1000000 * CAST(xg AS DECIMAL(38,0))) div x AS BIGINT)")
          .as("val_share_ppm"),
        col("__lrb").cast("bigint").as("mean_lr_e256"),
        expr("CAST(CASE WHEN CAST(xg AS DECIMAL(38,0)) * __lrb >= 0 " +
          "THEN (1000 * CAST(xg AS DECIMAL(38,0)) * __lrb) div x " +
          "ELSE -((-(1000 * CAST(xg AS DECIMAL(38,0)) * __lrb)) div x) " +
          "END AS BIGINT)").as("between_me256"),
        expr("CAST(CASE WHEN tw >= 0 THEN (1000 * tw) div xg " +
          "ELSE -((-(1000 * tw)) div xg) END AS BIGINT)")
          .as("within_me256"))
  }

  /** log2(a/b) in 1/256-bit units as ±log2(larger/smaller), the sign
    * + when a ≥ b: the signed ratio log of [[theilDecomposition]]'s
    * terms.
    */
  private def signedLogE256(a: Column, b: Column): Column = {
    val lr = MitchellE8.log2RatioE256(greatest(a, b), least(a, b))
    when(a >= b, lr).otherwise(-lr)
  }

  /** Concentration / diversity report of one categorical dimension:
    * Herfindahl–Hirschman index (Σ share² — the antitrust
    * concentration screen, here "is one source eating the corpus"),
    * Simpson's diversity D = Σ nᵢ(nᵢ−1)/(N(N−1)) (Simpson 1949 —
    * the probability two random rows share the group, sampled
    * WITHOUT replacement, so tiny groups don't read as diversity
    * they don't have), the effective number of groups 1/HHI (the
    * "how many equal-size sources would look like this" rendering),
    * and the top group's share. All exact integer ppm via DECIMAL
    * cross-products. `dim` labels the row so several dimensions
    * union into one report.
    *
    * Scale shape: one hash aggregation to the group-count table,
    * then a one-row fold — shuffle carries groups, never rows.
    */
  def concentration(df: DataFrame, groupCol: String,
                    dim: String): DataFrame =
    concentrationFromCountsDf(
      df.groupBy(col(groupCol).cast("string").as("grp"))
        .agg(count(lit(1)).as("cnt")), dim)

  /** The concentration readback over an additive (group, count)
    * table — the streaming form of [[concentration]]: per-group
    * counts fold across micro-batches, so a foreachBatch monitor
    * accumulates them and emits the live HHI/Simpson report through
    * the SAME arithmetic as the batch operator.
    */
  def concentrationFromCounts(spark: org.apache.spark.sql.SparkSession,
                              counts: Seq[(String, Long)],
                              dim: String): DataFrame = {
    import spark.implicits._
    concentrationFromCountsDf(counts.toDF("grp", "cnt"), dim)
  }

  /** The HHI/Simpson/effective-N arithmetic over a (grp, cnt) table —
    * shared VERBATIM by [[concentration]] and
    * [[concentrationFromCounts]].
    */
  private def concentrationFromCountsDf(c: DataFrame,
                                        dim: String): DataFrame = {
    c.agg(sum("cnt").as("n"), count(lit(1)).as("k"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("m2"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)")).as("m11"),
        max("cnt").as("mx"))
      .select(lit(dim).as("dim"), col("n").cast("bigint").as("n_rows"),
        col("k").as("n_groups"),
        expr("CAST((1000000 * m2) div greatest(CAST(n AS DECIMAL(38,0)) " +
          "* n, 1) AS BIGINT)").as("hhi_ppm"),
        expr("CAST((1000000 * m11) div greatest(CAST(n AS DECIMAL(38,0)) " +
          "* (n - 1), 1) AS BIGINT)").as("simpson_ppm"),
        expr("CAST((1000 * CAST(n AS DECIMAL(38,0)) * n) div " +
          "greatest(m2, 1) AS BIGINT)").as("eff_n_x1000"),
        expr("CAST((1000000 * mx) div greatest(n, 1) AS BIGINT)")
          .as("top_share_ppm"))
  }
}
