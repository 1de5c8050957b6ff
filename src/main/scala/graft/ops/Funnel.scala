package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered event-funnel analysis — "of the users who did A, how many
  * went on to do B after it, then C after that, and how fast": the
  * product-analytics staple over an event stream (view → click →
  * purchase), and the same shape a data pipeline uses for multi-stage
  * process tracking (ingested → parsed → indexed).
  *
  * Semantics: the funnel is EARLIEST-COMPLETION — step 1's time is the
  * user's first step-1 event; step i's time is the first step-i event
  * STRICTLY AFTER the recorded step-(i−1) time. A user stops counting
  * at the first step they never performed after the previous one
  * (events before the prior step do not count — order matters, that is
  * the point of a funnel).
  *
  * Note the earliest-completion greedy choice is deliberate and
  * standard, not the maximal matching: taking the EARLIEST valid event
  * at each step never forecloses a later completion (any chain through
  * a later step-i event is also a chain through the earliest one),
  * so "completed k steps" is exact; only the reported times are the
  * greedy ones.
  *
  * Scale shape: one filtered pass over the events per step — the
  * `event_type = step` predicate reaches the scan as a pushed filter,
  * so each pass reads only its step's rows — each aggregated
  * (map-side partial min) by user and joined on the user key; S steps
  * = S scans + S user-keyed shuffles, never a per-user window over
  * the full event history (a power user with 10⁹ events costs the
  * same as anyone else: min() partials, no sort, no collected list).
  */
object Funnel {

  /** One row per user: `(user, t_<step1>.., steps_completed,
    * secs_to_convert)` — times null from the first missed step on;
    * `secs_to_convert` = whole-funnel seconds, null unless every step
    * completed.
    */
  def funnelTimes(df: DataFrame, userCol: String, typeCol: String,
                  tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    val users = df.select(col(userCol).as("__u")).distinct()
    var acc: DataFrame = null
    steps.zipWithIndex.foreach { case (st, i) =>
      val ev = df.where(col(typeCol) === st)
        .select(col(userCol).as("__u"), col(tsCol).as("__ts"))
      val stepMin =
        if (i == 0) ev.groupBy("__u").agg(min("__ts").as(s"__t$i"))
        else ev.join(acc.select(col("__u"), col(s"__t${i - 1}")), "__u")
          .where(col("__ts") > col(s"__t${i - 1}"))
          .groupBy("__u").agg(min("__ts").as(s"__t$i"))
      acc = if (i == 0) stepMin else acc.join(stepMin, Seq("__u"), "left")
    }
    val withTimes = users.join(acc, Seq("__u"), "left")
    // ascending fold so the DEEPEST completed step wraps outermost —
    // each later `when` shadows the earlier ones
    val completed = steps.indices
      .foldLeft(lit(0L)) { (els, i) =>
        when(col(s"__t$i").isNotNull, lit((i + 1).toLong)).otherwise(els)
      }
    val last = steps.size - 1
    withTimes.select(
      col("__u").as(userCol) +:
        steps.zipWithIndex.map { case (st, i) => col(s"__t$i").as(s"t_$st") } :+
        completed.as("steps_completed") :+
        when(col(s"__t$last").isNotNull,
          (unix_timestamp(col(s"__t$last")) - unix_timestamp(col("__t0")))
            .cast("bigint")).as("secs_to_convert"): _*)
  }

  /** The aggregate funnel report over [[funnelTimes]]: one row per
    * step — users reaching it, conversion from the previous step and
    * from the top, integer per-mille. The row count is the step list,
    * so the whole report is a broadcastable handful of rows.
    */
  def funnelReport(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, steps: Seq[String]): DataFrame = {
    val times = funnelTimes(df, userCol, typeCol, tsCol, steps)
    // the one-row aggregate is re-selected once per step row below —
    // cut lineage so the funnelTimes pipeline (S filtered scans +
    // joins) runs once, not |steps| times (the rowChecks discipline)
    val counts = Lineage.cut(times.agg(
      count(lit(1)).as("__total"),
      steps.indices.map(i =>
        count(col(s"t_${steps(i)}")).as(s"__c$i")): _*))
    reportRows(counts, steps)
  }

  /** The report's per-step row emitter over a one-row counts table
    * (__total, __c0..__cS) — shared VERBATIM by [[funnelReport]] and
    * [[reportFromCounts]] so the batch and streaming readbacks cannot
    * drift in the conversion arithmetic.
    */
  private[graft] def reportRows(counts: DataFrame,
                                steps: Seq[String]): DataFrame = {
    val rows = steps.zipWithIndex.map { case (st, i) =>
      counts.select(
        lit((i + 1).toLong).as("step"),
        lit(st).as("event_type"),
        col(s"__c$i").as("n_users"),
        expr(s"CAST((1000 * __c$i) div greatest(${if (i == 0) "__total" else s"__c${i - 1}"}, 1) AS BIGINT)")
          .as("conv_from_prev_x1000"),
        expr(s"CAST((1000 * __c$i) div greatest(__c0, 1) AS BIGINT)")
          .as("conv_from_top_x1000"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** Build the [[funnelReport]]-shape report from externally
    * accumulated reach counts — the readback half of the STREAMING
    * funnel: fold [[graft.streaming.Stateful.funnelReaches]]'s
    * per-step rows into cumulative counts per trigger (step 0 is the
    * total-users denominator) and emit the same 5-column report
    * through the same [[reportRows]] arithmetic the batch operator
    * uses. Counts arrive as driver longs (S+1 values for an S-step
    * funnel), so the report stays a broadcast-sized handful of rows.
    */
  def reportFromCounts(spark: org.apache.spark.sql.SparkSession,
                       steps: Seq[String], totalUsers: Long,
                       reached: Seq[Long]): DataFrame = {
    require(reached.size == steps.size,
      s"need one reach count per step: ${reached.size} vs ${steps.size}")
    val counts = spark.range(1).select(
      lit(totalUsers).as("__total") +:
        reached.zipWithIndex.map { case (c, i) => lit(c).as(s"__c$i") }: _*)
    reportRows(counts, steps)
  }

  /** Seasonal-naive anomaly report over event arrivals: per (type,
    * date, hour-of-day) cell the observed count against that (type,
    * hour-of-day) slot's MEDIAN across the observed dates, flagged
    * when |x − med| > k·MAD — the robust "is 3 AM Tuesday unusually
    * loud" monitor (seasonal-naive baseline + the q140 median/MAD
    * robust band; means/σ would let one incident poison its own
    * baseline). EMPTY cells count as zero observations over the full
    * (type × date × hour) grid — a silent hour is an anomaly too if
    * that slot is normally busy.
    *
    * Scale shape: one (type, date, hour) count reduction from the
    * corpus (map-side partial); the grid is types × dates × 24 —
    * span-bounded, built from broadcast dimension lists; the
    * median/MAD aggregations run over that bounded grid.
    */
  def seasonalAnomalies(df: DataFrame, typeCol: String, tsCol: String,
                        k: Int = 3): DataFrame = {
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"),
        hour(col(tsCol)).as("hod"))
      .groupBy("et", "d", "hod").agg(count(lit(1)).as("x")))
    val types = c.select("et").distinct()
    val dates = c.select("d").distinct()
    val hods = df.sparkSession.range(0, 24)
      .select(col("id").cast("int").as("hod"))
    val grid = types.crossJoin(broadcast(dates))
      .crossJoin(broadcast(hods))
      .join(c, Seq("et", "d", "hod"), "left")
      .na.fill(0L, Seq("x"))
    val med = grid.groupBy("et", "hod")
      .agg(expr("percentile(x, 0.5)").as("med"))
    val mad = grid.join(med, Seq("et", "hod"))
      .groupBy("et", "hod")
      .agg(min("med").as("med"),
        expr("percentile(abs(x - med), 0.5)").as("mad"))
    grid.join(broadcast(mad), Seq("et", "hod"))
      .select(col("et").as(typeCol), col("d").as("date"), col("hod"),
        col("x"), col("med"), col("mad"),
        (abs(col("x") - col("med")) > lit(k) * col("mad")).as("is_anomaly"))
  }

  /** CUSUM changepoint detection over hourly arrival counts (Page
    * 1954) — the sequential "did the rate shift" chart: with
    * P_t = Σ_{j≤t}(1000·x_j − μ‰ − k‰) the one-sided statistics are
    * S⁺_t = P_t − min_{j≤t} P_j (upward shifts) and
    * S⁻_t = max_{j≤t} P_j − P_t (downward) — the classical
    * max(0, S+drift) recurrence rewritten as prefix-minus-running-
    * extremum, so the whole detector is two cumulative WINDOWS over
    * the span-bounded hourly series instead of a sequential loop.
    * μ‰ is the series' own mean ×1000, slack k = μ/2, alarm
    * threshold h = 4μ (the standard δ/2 and 4–5σ-ish defaults in
    * per-mille integer space — exact integers end to end). Emits per
    * type: hours, μ‰, max S⁺/S⁻, alarm count and the first alarm
    * hour (null when the series never shifts).
    *
    * Scale shape: one (type, hour) count reduction from the corpus;
    * the grid fill, both windows and the final aggregate run over
    * the span-bounded series (the q188/q196 grid class).
    */
  def cusumShifts(df: DataFrame, typeCol: String,
                  tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("hour", col(tsCol)).as("h"))
      .groupBy("et", "h").agg(count(lit(1)).as("x")))
    val hours = c.select("h").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(hours))
      .join(c, Seq("et", "h"), "left")
      .na.fill(0L, Seq("x"))
    val mu = grid.groupBy("et")
      .agg(expr("CAST((1000 * sum(x)) div count(*) AS BIGINT)").as("mu_milli"),
        count(lit(1)).as("n_hours"))
    val w = Window.partitionBy("et").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    // the two one-sided charts carry the k-slack in OPPOSITE
    // directions (S⁺ drifts by x−μ−k, S⁻ by μ−x−k) — one shared
    // prefix would double-count the slack on the downward side
    val series = grid.join(broadcast(mu), Seq("et"))
      .withColumn("__d", expr("1000 * x - mu_milli - (mu_milli div 2)"))
      .withColumn("__d2", expr("mu_milli - 1000 * x - (mu_milli div 2)"))
      .withColumn("__p", sum("__d").over(w))
      .withColumn("__p2", sum("__d2").over(w))
      // the running minimum must include the EMPTY prefix P₀ = 0 —
      // max(0, ·) can reset to zero before any row
      .withColumn("s_hi", col("__p") - least(min("__p").over(w), lit(0L)))
      .withColumn("s_lo", col("__p2") - least(min("__p2").over(w), lit(0L)))
      .withColumn("__alarm",
        col("s_hi") > lit(4) * col("mu_milli") ||
          col("s_lo") > lit(4) * col("mu_milli"))
    series.groupBy("et")
      .agg(max("n_hours").as("n_hours"), max("mu_milli").as("mu_milli"),
        max("s_hi").as("max_s_hi"), max("s_lo").as("max_s_lo"),
        sum(when(col("__alarm"), 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("__alarm"), col("h"))).as("first_alarm_hour"))
      .select(col("et").as(typeCol), col("n_hours"), col("mu_milli"),
        col("max_s_hi"), col("max_s_lo"), col("n_alarms"),
        col("first_alarm_hour"))
  }

  /** Mann–Kendall monotonic-trend test per event type (Mann 1945 /
    * Kendall's S over the daily count series — the non-parametric
    * "is traffic drifting up or down" test a level shift or outlier
    * cannot fake the way a fitted slope can): S = Σ_{i<j}
    * sign(x_j − x_i) over all ordered day pairs, with the
    * positive/negative/tie pair counts alongside. Exact integers;
    * the day grid is span-bounded (zero-filled), so the O(days²)
    * pair join is bounded — at 100 TB the only corpus-proportional
    * stage is the first (type, day) count reduction.
    */
  def mannKendallTrend(df: DataFrame, typeCol: String,
                       tsCol: String): DataFrame = {
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("x"))
    val a = grid.select(col("et"), col("d").as("di"), col("x").as("xi"))
    val b = grid.select(col("et"), col("d").as("dj"), col("x").as("xj"))
    a.join(b, Seq("et"))
      .where(col("di") < col("dj"))
      .groupBy("et")
      .agg(expr("CAST(count(*) AS BIGINT)").as("n_pairs"),
        sum(expr("CAST(sign(xj - xi) AS BIGINT)")).as("s_stat"),
        sum(when(col("xj") > col("xi"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("xj") < col("xi"), 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("xj") === col("xi"), 1L).otherwise(0L)).as("n_tie"))
      .select(col("et").as(typeCol), col("n_pairs"), col("s_stat"),
        col("n_pos"), col("n_neg"), col("n_tie"))
  }

  /** Offline best-single-changepoint per event type over the daily
    * count series (binary segmentation's first split — Scott & Knott
    * 1974 lineage; the CORE step of every offline segmentation,
    * where [[cusumShifts]] is the ONLINE alarm): for every candidate
    * boundary t between day t and t+1, the between-segment explained
    * sum of squares
    *
    *   gain(t) = S_L²/t + S_R²/(n−t) − S²/n
    *
    * (the SSE reduction of fitting two segment means instead of one
    * — maximizing it IS minimizing two-segment SSE, without touching
    * the Σx² term both costs share). Reported at the argmax with
    * earliest-day tie-break, exact via the common-denominator form
    *
    *   gain_x1000 = (1000·(S_L²·(n−t)·n + S_R²·t·n − S²·t·(n−t)))
    *                  div (t·(n−t)·n)
    *
    * through DECIMAL(38) — the numerator is ≥ 0 by Cauchy–Schwarz,
    * so truncating `div` agrees across engines, and comparing the
    * per-t truncated gains is deterministic (ties break to the
    * earliest day). Segment means ship ×1000 the same way.
    *
    * Output contract: ONE row per event type whose series spans at
    * least TWO distinct days. A single-day type has no candidate
    * boundary (the `t < n` filter leaves nothing to split) and emits
    * NO row — by design, not silently: "no interior boundary exists"
    * is different from "the best boundary has zero gain", and a
    * sentinel row would force a fake split_day value into a date
    * column. Callers needing the full type roster left-join this
    * result back to `df.select(typeCol).distinct()`.
    *
    * Scale shape: one (type, day) count reduction from the corpus;
    * the zero-filled grid, the cumulative window and both argmax
    * folds run over the span-bounded series (the q197/q199 grid
    * class) — at 100 TB only the first reduction touches rows.
    */
  def bestChangepoint(df: DataFrame, typeCol: String,
                      tsCol: String): DataFrame = {
    val c = df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x"))
    changepointFromCounts(c).withColumnRenamed("et", typeCol)
  }

  /** [[bestChangepoint]] from a pre-reduced (et, d, x) daily count
    * table — the additive readback seam: a streaming job maintains
    * the counts incrementally (one `groupBy(et, day).count` state)
    * and replays THIS bounded-table fold per trigger, bit-identical
    * to the batch operator over the same delivered events.
    */
  def changepointFromCounts(c0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // grid keys + series off one reduction
    val c = Lineage.cut(c0)
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days)) // span-bounded day grid, zero-filled
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("x"))
    val tot = grid.groupBy("et")
      .agg(count(lit(1)).as("n"),
        sum("x").cast("decimal(38,0)").as("s"))
    val w = Window.partitionBy("et").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    // argmax + pick read the same bounded table
    val cuts = Lineage.cut(grid
      .withColumn("t", count(lit(1)).over(w))
      .withColumn("sl", sum("x").over(w).cast("decimal(38,0)"))
      .join(broadcast(tot), Seq("et"))
      .where(col("t") < col("n")) // boundary AFTER day t, so t < n
      .withColumn("gain_x1000", expr(
        "CAST((1000 * (sl * sl * (n - t) * n " +
          "+ (s - sl) * (s - sl) * t * n " +
          "- s * s * t * (n - t))) " +
          "div (CAST(t AS DECIMAL(38,0)) * (n - t) * n) AS BIGINT)")))
    val best = cuts.groupBy("et").agg(max("gain_x1000").as("__g"))
    // renamed keys: picked derives from cuts, and a same-lineage join
    // trips DetectAmbiguousSelfJoin
    val picked = cuts.join(broadcast(best), Seq("et"))
      .where(col("gain_x1000") === col("__g"))
      .groupBy(col("et").as("__pet")).agg(min("d").as("split_day"))
    cuts.join(broadcast(picked),
        col("et") === col("__pet") && col("d") === col("split_day"))
      .select(col("et"), col("n").cast("bigint").as("n_days"),
        col("split_day"), col("t").cast("bigint").as("left_days"),
        expr("CAST((1000 * sl) div t AS BIGINT)").as("mean_left_milli"),
        expr("CAST((1000 * (s - sl)) div (n - t) AS BIGINT)")
          .as("mean_right_milli"),
        col("gain_x1000"))
  }

  /** Monthly revenue trend — the BI staple behind every exec
    * dashboard: per calendar month the order count and exact DECIMAL
    * cent revenue, with month-over-month and year-over-year growth
    * in per-mille (lag 1 / lag 12 over the zero-filled month grid —
    * a missing month reads as zero revenue, and growth against a
    * zero base reads null rather than a fabricated number).
    *
    * Scale shape: one (month) reduction from the corpus; the grid
    * fill and both lag windows run over the span-bounded month
    * table (the q92-class audited global window).
    */
  def revenueTrend(df: DataFrame, tsCol: String,
                   amountCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Lineage.cut(df.select(date_trunc("month", col(tsCol)).as("month"),
        col(amountCol).as("__v"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(CAST(__v AS DECIMAL(18,2))) * 100 AS BIGINT)")
          .as("revenue_cents")))
    val bounds = m.agg(min("month").as("__lo"), max("month").as("__hi"))
    val grid = bounds.select(explode(expr(
        "sequence(__lo, __hi, interval 1 month)")).as("month"))
      .join(m, Seq("month"), "left")
      .na.fill(0L, Seq("n_orders", "revenue_cents"))
    val w = Window.orderBy("month")
    grid
      .withColumn("__p1", lag("revenue_cents", 1).over(w))
      .withColumn("__p12", lag("revenue_cents", 12).over(w))
      .select(col("month"), col("n_orders"), col("revenue_cents"),
        expr("CASE WHEN __p1 > 0 THEN CAST((1000 * (revenue_cents - __p1))" +
          " div __p1 AS BIGINT) END").as("mom_x1000"),
        expr("CASE WHEN __p12 > 0 THEN CAST((1000 * (revenue_cents - __p12))" +
          " div __p12 AS BIGINT) END").as("yoy_x1000"))
  }

  /** Per-user feature profile — the feature-store base table a
    * behavioral model trains on: volume (events, active days),
    * recency span (first/last seen), and the two classic MODE
    * features (most frequent event type and most frequent
    * hour-of-day, deterministic count-DESC-then-value tiebreaks).
    * Modes come from (user, value) count reductions topped by the
    * bounded-heap aggregate — never a per-user sort or collected
    * list, so a power user costs the same as anyone else.
    */
  def userProfile(df: DataFrame, userCol: String, typeCol: String,
                  tsCol: String): DataFrame = {
    import graft.plans.TopK
    val ev = df.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      col(tsCol).as("__ts"))
    val base = ev.groupBy("__u")
      .agg(count(lit(1)).as("n_events"),
        min("__ts").as("first_seen"), max("__ts").as("last_seen"),
        countDistinct(date_trunc("day", col("__ts"))).as("active_days"))
    val modeType = TopK.topKPerKey(
        ev.groupBy("__u", "__t").agg(count(lit(1)).as("c"))
          .select(col("__u"), col("c"), col("__t")),
        Seq("__u"), col("c"), Seq(col("__t")), 1)
      .select(col("__u"), col("__t").as("mode_type"),
        col("c").as("mode_type_n"))
    val modeHour = TopK.topKPerKey(
        ev.select(col("__u"), hour(col("__ts")).cast("bigint").as("__h"))
          .groupBy("__u", "__h").agg(count(lit(1)).as("c"))
          .select(col("__u"), col("c"), col("__h")),
        Seq("__u"), col("c"), Seq(col("__h")), 1)
      .select(col("__u"), col("__h").as("mode_hour"))
    base.join(modeType, Seq("__u"))
      .join(modeHour, Seq("__u"))
      .select(col("__u").as(userCol), col("n_events"), col("first_seen"),
        col("last_seen"), col("active_days"), col("mode_type"),
        col("mode_type_n"), col("mode_hour"))
  }

  /** Top session entry paths — the Sankey-diagram source table:
    * sessions cut by the q141 inactivity gap, each labeled with its
    * first `depth` event types joined by `>` (shorter sessions keep
    * their shorter path), counted and ranked — "how do sessions
    * start, and where do they go next". Fixed path slots come from
    * per-slot conditional aggregates (`concat_ws` skips the null
    * slots), so no per-session array ever materializes beyond
    * `depth` rows.
    *
    * Scale shape: one user-keyed session window (q141's), one
    * (user, session) row_number window bounded to `depth` rows kept
    * per session, one path reduction; the report is top-k over
    * path-cardinality-bounded counts.
    */
  def sessionPaths(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, idCol: String, gapSec: Long = 600L,
                   depth: Int = 3, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(depth >= 1 && depth <= 5, s"depth=$depth out of range")
    val w = Window.partitionBy("__u").orderBy(col("__ts"), col("__id"))
    val sess = df.select(col(userCol).as("__u"), col(typeCol).as("__t"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
      .withColumn("__prev", lag("__ts", 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_timestamp(col("__ts")) - unix_timestamp(col("__prev")) > gapSec,
        1L).otherwise(0L))
      .withColumn("__s", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val wS = Window.partitionBy("__u", "__s")
      .orderBy(col("__ts"), col("__id"))
    val slots = (1 to depth).map(i =>
      max(when(col("__rn") === i, col("__t"))).as(s"__p$i"))
    val paths = Lineage.cut(sess.withColumn("__rn", row_number().over(wS))
      .where(col("__rn") <= depth)
      .groupBy("__u", "__s")
      .agg(slots.head, slots.tail: _*)
      .select(concat_ws(">",
        (1 to depth).map(i => col(s"__p$i")): _*).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions")))
    val total = paths.agg(sum("n_sessions").as("__nt"))
    paths.crossJoin(broadcast(total))
      .select(col("path"), col("n_sessions"),
        expr("CAST((1000 * n_sessions) div __nt AS BIGINT)")
          .as("share_x1000"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(topK)
  }

  /** Lorenz revenue-concentration curve — "the top x% of customers
    * carry y% of revenue" (Lorenz 1905, the Pareto-principle
    * readout behind account-tiering decisions): per-key exact
    * DECIMAL cent totals bucketed by VALUE (never a corpus sort),
    * then one cumulative pass over the ascending bucket table emits
    * (cumulative customer share, cumulative revenue share) per-mille
    * points of the curve. The money half of [[graft.ops.Profile]]'s
    * q189 length-Gini: same bucket-cumsum discipline, money through
    * DECIMAL cents.
    *
    * Scale shape: one key reduction from the corpus; buckets are
    * value-domain-bounded (cents div `bucketCents`), and the global
    * cumsum window runs over THAT table — the q92/q189 audited
    * global-window class, constant in corpus size.
    */
  def lorenzCurve(df: DataFrame, keyCol: String, amountCol: String,
                  bucketCents: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketCents > 0, s"bucketCents=$bucketCents must be positive")
    val per = df.groupBy(col(keyCol).as("__k"))
      .agg(expr(s"CAST(sum(CAST($amountCol AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT)").as("cents"))
      .select(col("__k"), col("cents"),
        expr(s"cents div $bucketCents").as("bucket"))
    val bk = Lineage.cut(per.groupBy("bucket")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("bucket_cents")))
    val tot = bk.agg(sum("n_customers").as("__nt"),
      sum("bucket_cents").as("__rt"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    bk.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_customers"), col("bucket_cents"),
        sum("n_customers").over(w).as("__ck"),
        sum("bucket_cents").over(w).as("__cr"),
        col("__nt"), col("__rt"))
      .select(col("bucket"), col("n_customers"), col("bucket_cents"),
        expr("CAST((1000 * __ck) div __nt AS BIGINT)").as("cum_cust_x1000"),
        expr("CAST((CAST(__cr AS DECIMAL(38,0)) * 1000) div __rt " +
          "AS BIGINT)").as("cum_rev_x1000"))
  }

  /** Last-touch marketing attribution — for every conversion event,
    * the most recent PRIOR touch event (any of `touches`, same key,
    * at-or-before the conversion, within `ttlSec`), rolled up per
    * attributed channel: conversions, share per-mille, and the
    * attributed revenue (exact DECIMAL money). Conversions whose
    * last touch is older than the TTL (or who have none) land in
    * the `organic` bucket — an honest answer, not a dropped row.
    *
    * The as-of mechanics are q47's scalable composition: one tagged
    * union, one per-key running `last(ignoreNulls)` window carrying
    * the (touch ts, touch type) struct — touches sort BEFORE
    * conversions at equal timestamps so "at or before" holds — one
    * shuffle on the user key, no range-join explosion.
    */
  def lastTouchAttribution(df: DataFrame, userCol: String,
                           typeCol: String, tsCol: String, idCol: String,
                           valueCol: String, touches: Seq[String],
                           conversion: String,
                           ttlSec: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(touches.nonEmpty && !touches.contains(conversion),
      s"touches=$touches must be non-empty and exclude '$conversion'")
    val ev = df.where(col(typeCol).isin(touches :+ conversion: _*))
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
        col(tsCol).as("__ts"), col(idCol).as("__id"),
        col(valueCol).as("__v"),
        when(col(typeCol) === conversion, 1).otherwise(0).as("__conv"))
    val w = Window.partitionBy("__u")
      .orderBy(col("__ts"), col("__conv"), col("__id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val attributed = ev
      .withColumn("__touch", last(
        when(col("__conv") === 0,
          struct(col("__ts").as("tts"), col("__t").as("ttp"))),
        ignoreNulls = true).over(w))
      .where(col("__conv") === 1)
      .select(col("__v"),
        when(col("__touch").isNotNull &&
          unix_timestamp(col("__ts")) - unix_timestamp(col("__touch.tts"))
            <= ttlSec, col("__touch.ttp"))
          .otherwise(lit("organic")).as("channel"))
    val counts = Lineage.cut(attributed.groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("__v").cast("decimal(18,2)")).cast("double")
          .as("revenue")))
    val total = counts.agg(sum("n_conversions").as("__nt"))
    counts.crossJoin(broadcast(total))
      .select(col("channel"), col("n_conversions"),
        expr("CAST((1000 * n_conversions) div __nt AS BIGINT)")
          .as("share_x1000"),
        col("revenue"))
  }

  /** Theil–Sen slope per event type (Theil 1950 / Sen 1968) — the
    * robust trend ESTIMATOR companion to [[mannKendallTrend]]'s
    * test: the median over all ordered day pairs of the pairwise
    * slope (x_j − x_i)/(t_j − t_i), immune to outlier days that
    * wreck a least-squares fit. Slopes quantize to integer
    * micro-counts/day ((10⁶·dy) div dx — dx ≥ 1 day, truncation
    * toward zero identical in both engines) and the median is the
    * classical LOWER median (rank ⌈n/2⌉ under the total
    * (slope, di, dj) order) so the whole surface is integer-exact.
    *
    * Scale shape: q199's — one (type, day) count reduction, then the
    * O(days²) pair join and the rank window run on the span-bounded
    * grid.
    */
  def theilSenSlope(df: DataFrame, typeCol: String,
                    tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("x"))
    val a = grid.select(col("et"), col("d").as("di"), col("x").as("xi"))
    val b = grid.select(col("et"), col("d").as("dj"), col("x").as("xj"))
    val pairs = a.join(b, Seq("et"))
      .where(col("di") < col("dj"))
      .select(col("et"), col("di"), col("dj"),
        expr("CAST((1000000 * (xj - xi)) div datediff(dj, di) AS BIGINT)")
          .as("slope_micro"))
    val nd = grid.groupBy("et").agg(count(lit(1)).as("n_days"))
    val w = Window.partitionBy("et")
      .orderBy(col("slope_micro"), col("di"), col("dj"))
    pairs.withColumn("rn", row_number().over(w))
      .join(broadcast(nd), Seq("et"))
      .where(col("rn") ===
        expr("(n_days * (n_days - 1) div 2 + 1) div 2"))
      .select(col("et").as(typeCol), col("n_days"),
        expr("CAST(n_days * (n_days - 1) div 2 AS BIGINT)").as("n_pairs"),
        col("slope_micro").as("sen_slope_micro"))
  }

  /** Per-type ordinary-least-squares trend over the daily count
    * series — the parametric companion to [[theilSenSlope]]: with
    * x = days since the type's first active day (centering keeps the
    * DECIMAL(38) products in range at corpus scale) and y = daily
    * count over the zero-filled day grid,
    *
    *   slope_micro      = 10⁶·(n·Sxy − Sx·Sy) div (n·Sxx − Sx²)
    *   intercept_micro  = (10⁶·Sy − slope_micro·Sx) div n
    *   r2_x1e6          = round(10⁶·cov² / (varx·vary))
    *
    * slope and intercept are integer-exact (matching Theil–Sen's
    * `div` truncation convention); r² is the single float step, one
    * fixed expression over exact decimal sums so both engines round
    * identically. Constant series (vary = 0) report r2_x1e6 = -1.
    *
    * Scale shape: ONE (type, day) count reduction; the grid fill,
    * the per-type min-day window and the 5-sum fold all run on the
    * span-bounded grid (types × days), never the corpus.
    */
  def olsTrend(df: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("y")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("y"))
    val xed = grid
      .withColumn("x", expr(
        "datediff(d, min(d) OVER (PARTITION BY et)) "))
    xed.groupBy("et")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("slope_micro",
        expr("CAST((1000000 * (n * sxy - sx * sy)) div " +
          "greatest(n * sxx - sx * sx, 1) AS BIGINT)"))
      .select(col("et").as(typeCol), col("n").as("n_days"),
        col("slope_micro"),
        expr("CAST((1000000 * sy - slope_micro * sx) div n AS BIGINT)")
          .as("intercept_micro"),
        expr("CASE WHEN n * syy - sy * sy = 0 OR n * sxx - sx * sx = 0 " +
          "THEN CAST(-1 AS BIGINT) " +
          "ELSE CAST(round((CAST(n * sxy - sx * sy AS DOUBLE) * " +
          "CAST(n * sxy - sx * sy AS DOUBLE) * 1000000) / " +
          "(CAST(n * sxx - sx * sx AS DOUBLE) * " +
          "CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) END")
          .as("r2_x1e6"))
  }

  /** Seasonal-strength report per event type: one-way ANOVA η² of
    * day-of-week on the zero-filled daily counts and of hour-of-day
    * on the zero-filled hourly cells — "how much of this series'
    * variance IS the weekly/diurnal cycle", the quantified companion
    * to q316's Durbin–Watson flag (DW says the trend missed
    * structure; this names the structure and sizes it) and q196's
    * cell-level anomaly screen. Factor values never surface in the
    * output, so Spark's 1-based vs the oracle's 0-based weekday
    * numbering is immaterial — only the PARTITION of cells matters,
    * and that is identical. Same floored-SS integer discipline as
    * q315 (shared [[graft.ops.Eval.anovaByKey]] arithmetic).
    *
    * Scale shape: one daily and one hourly count reduction; both
    * grids are span-bounded (types × days, types × days × 24), and
    * the ANOVA folds run on them.
    */
  def seasonalStrength(df: DataFrame, typeCol: String,
                       tsCol: String): DataFrame = {
    // one scan feeds both cell reductions
    val base = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"),
        hour(col(tsCol)).cast("bigint").as("hod")))
    val daily = base.groupBy("et", "d").agg(count(lit(1)).as("y"))
    val days = daily.select("d").distinct()
    val ets = daily.select("et").distinct()
    val dGrid = ets.crossJoin(broadcast(days))
      .join(daily, Seq("et", "d"), "left").na.fill(0L, Seq("y"))
      .select(col("et"), dayofweek(col("d")).cast("bigint").as("g"),
        col("y").as("v"))
    val dow = Eval.anovaByKey(dGrid, "et")
      .select(col("et"), col("n_rows").as("n_days"),
        col("f_x1000").as("dow_f_x1000"),
        col("eta2_ppm").as("dow_eta2_ppm"))
    val hourly = base.groupBy("et", "d", "hod").agg(count(lit(1)).as("y"))
    val spark = df.sparkSession
    import spark.implicits._
    val hods = (0L until 24L).toDF("hod")
    val hGrid = ets.crossJoin(broadcast(days)).crossJoin(broadcast(hods))
      .join(hourly, Seq("et", "d", "hod"), "left").na.fill(0L, Seq("y"))
      .select(col("et"), col("hod").as("g"), col("y").as("v"))
    val hod = Eval.anovaByKey(hGrid, "et")
      .select(col("et"), col("n_rows").as("n_hours"),
        col("f_x1000").as("hod_f_x1000"),
        col("eta2_ppm").as("hod_eta2_ppm"))
    dow.join(hod, Seq("et"))
      .select(col("et").as(typeCol), col("n_days"), col("dow_f_x1000"),
        col("dow_eta2_ppm"), col("n_hours"), col("hod_f_x1000"),
        col("hod_eta2_ppm"))
  }

  /** Durbin–Watson autocorrelation statistic of the [[olsTrend]]
    * residuals per event type (Durbin & Watson 1950): DW =
    * Σ(e_t − e_{t−1})² / Σe_t² over the zero-filled day grid — the
    * "is the linear trend missing structure" diagnostic that q242's
    * r² can't give (a seasonal weekly wave fits a flat slope with
    * high residual autocorrelation; DW ≪ 2 flags it, DW ≈ 2 clears
    * it). Residuals stay EXACT ×10⁶ integers (e₆ = 10⁶·y −
    * slope_micro·x − intercept_micro, both fit terms already ×10⁶
    * floored), so the ratio is engine-deterministic; ×1000 out, −1
    * sentinel on a degenerate zero-residual fit.
    *
    * Scale shape: the q242 day-grid reduction is the only corpus
    * stage; the lag window and both folds run per type over the
    * day-span-bounded grid.
    */
  def durbinWatson(df: DataFrame, typeCol: String,
                   tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // grid + the one-row-per-type fit share it
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("y")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("y"))
      .withColumn("x", expr(
        "datediff(d, min(d) OVER (PARTITION BY et))"))
    val fit = grid.groupBy("et")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .withColumn("slope_micro",
        expr("CAST((1000000 * (n * sxy - sx * sy)) div " +
          "greatest(n * sxx - sx * sx, 1) AS BIGINT)"))
      .select(col("et"), col("slope_micro"),
        expr("CAST((1000000 * sy - slope_micro * sx) div n AS BIGINT)")
          .as("intercept_micro"))
    val w = Window.partitionBy("et").orderBy("x")
    grid.join(broadcast(fit), Seq("et"))
      .withColumn("e6", expr(
        "1000000 * y - slope_micro * x - intercept_micro"))
      .withColumn("de6", col("e6") - lag("e6", 1).over(w))
      .groupBy("et")
      .agg(count(lit(1)).as("n_days"),
        sum(expr("CAST(e6 AS DECIMAL(38,0)) * e6")).as("see"),
        sum(expr("CAST(de6 AS DECIMAL(38,0)) * de6")).as("sdd"))
      .select(col("et").as(typeCol), col("n_days"),
        expr("CAST(CASE WHEN see <= 0 THEN -1 " +
          "ELSE (1000 * sdd) div see END AS BIGINT)").as("dw_x1000"))
  }

  /** Lead–lag cross-correlation between event types' hourly series:
    * for every ordered type pair and lag in [−maxLag, maxLag], the
    * integer cross-covariance Σ_t dα_t·dβ_{t+lag} of the per-mille
    * mean-centered counts, and the best (most positive) lag — "does
    * β's traffic follow α by k hours", the ops question behind
    * cascading-pipeline alerts. Positive best_lag = b follows a.
    * Deviations and products stay exact integers through
    * DECIMAL(38); the lag join and argmax run over the span-bounded
    * grid × (2·maxLag+1) rows.
    */
  def leadLag(df: DataFrame, typeCol: String, tsCol: String,
              maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag must be >= 1")
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("hour", col(tsCol)).as("h"))
      .groupBy("et", "h").agg(count(lit(1)).as("x")))
    val hours = c.select("h").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(hours))
      .join(c, Seq("et", "h"), "left")
      .na.fill(0L, Seq("x"))
    val mu = grid.groupBy("et")
      .agg(expr("CAST((1000 * sum(x)) div count(*) AS BIGINT)").as("mu"))
    val dev = Lineage.cut(grid.join(broadcast(mu), Seq("et"))
      .select(col("et"), col("h"),
        expr("CAST(1000 * x - mu AS BIGINT)").as("dv")))
    val lags = df.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    // β's row at hour hb contributes to lag ℓ at base hour hb − ℓ:
    // shift BEFORE the join so the lag fan-out rides an EQUI-join on
    // the hour (never an hours² product per pair)
    val bShifted = dev.crossJoin(broadcast(lags))
      .select(col("et").as("tb"), col("lag"),
        expr("h - make_interval(0, 0, 0, 0, lag, 0, 0)").as("h"),
        col("dv").as("db"))
    val pairs = dev.select(col("et").as("ta"), col("h"), col("dv").as("da"))
      .join(bShifted, Seq("h"))
      .where(col("ta") < col("tb"))
      .groupBy("ta", "tb", "lag")
      .agg(sum(expr("CAST(da AS DECIMAL(38,0)) * db")).as("__xc"),
        count(lit(1)).as("n_overlap"))
      .select(col("ta"), col("tb"), col("lag"),
        col("__xc").cast("decimal(38,0)").cast("bigint").as("xcov"),
        col("n_overlap"))
    // best (most positive) lag per pair, smallest-lag tiebreak, via
    // the struct-max aggregation (no per-pair window)
    val best = pairs.groupBy("ta", "tb")
      .agg(max(struct(col("xcov").as("s"), (-col("lag")).as("nl"))).as("__b"))
      .select(col("ta"), col("tb"), (-col("__b.nl")).as("best_lag"),
        col("__b.s").as("best_xcov"))
    best.join(pairs.where(col("lag") === 0)
        .select(col("ta"), col("tb"), col("xcov").as("xcov_lag0")),
      Seq("ta", "tb"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("best_lag"), col("best_xcov"), col("xcov_lag0"))
  }

  /** Sample autocorrelation of each type's hourly arrival series at
    * lags 1..`maxLag` — [[leadLag]]'s SELF-pair complement (that
    * operator deliberately excludes a type against itself): with the
    * default maxLag ≥ 24 the lag-24 peak reads the diurnal cycle
    * directly, lag-1 reads persistence. The estimator is the
    * standard biased ACF r_k = c_k/c_0 (one shared normalization —
    * no per-lag sqrt, so the surface stays exact): per-mille
    * mean-centered deviations, DECIMAL(38) products,
    * acf_ppm = (10⁶·c_k) div c_0; a flat series (c_0 = 0) reads 0
    * at every lag via the greatest(c_0, 1) guard.
    *
    * Scale shape: q200's — one (type, hour) count reduction; the
    * lag fan rides an EQUI-join on the pre-shifted hour (never an
    * hours² product); every aggregate lands on the span-bounded
    * grid × maxLag rows.
    */
  def autocorrelation(df: DataFrame, typeCol: String, tsCol: String,
                      maxLag: Int = 26): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag must be >= 1")
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("hour", col(tsCol)).as("h"))
      .groupBy("et", "h").agg(count(lit(1)).as("x")))
    val hours = c.select("h").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(hours))
      .join(c, Seq("et", "h"), "left")
      .na.fill(0L, Seq("x"))
    val mu = grid.groupBy("et")
      .agg(expr("CAST((1000 * sum(x)) div count(*) AS BIGINT)").as("mu"))
    val dev = Lineage.cut(grid.join(broadcast(mu), Seq("et"))
      .select(col("et"), col("h"),
        expr("CAST(1000 * x - mu AS BIGINT)").as("dv")))
    val c0 = dev.groupBy("et")
      .agg(sum(expr("CAST(dv AS DECIMAL(38,0)) * dv")).as("c0"))
    val lags = df.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val shifted = dev.crossJoin(broadcast(lags))
      .select(col("et"),
        expr("h - make_interval(0, 0, 0, 0, lag, 0, 0)").as("h"),
        col("lag"), col("dv").as("db"))
    dev.join(shifted, Seq("et", "h"))
      .groupBy("et", "lag")
      .agg(sum(expr("CAST(dv AS DECIMAL(38,0)) * db")).as("__ck"),
        count(lit(1)).as("n_overlap"))
      .join(broadcast(c0), Seq("et"))
      .select(col("et").as(typeCol), col("lag").cast("bigint").as("lag"),
        col("n_overlap"),
        expr("CAST((1000000 * __ck) div greatest(c0, 1) AS BIGINT)")
          .as("acf_ppm"))
  }

  /** Ljung–Box portmanteau test (Ljung & Box 1978) per type over the
    * hourly arrival series: q226's ACF says WHICH lags correlate;
    * this folds all of them into the one "is there ANY serial
    * structure" statistic Q = n(n+2)·Σₖ ρₖ²/(n−k) a residual
    * whiteness check compares to χ²_m. Built ON [[autocorrelation]]'s
    * exact acf_ppm surface: per-lag ρ²/(n−k) is one integral divide
    * of the ppm square (n−k IS the lag's n_overlap), the fold is one
    * DECIMAL product — so the statistic inherits the ACF's engine-
    * exactness (the per-term floor is the documented quantization,
    * ~10⁻⁶ relative).
    *
    * Scale shape: the q226 reduction, then a maxLag-row fold per type.
    */
  def ljungBox(df: DataFrame, typeCol: String, tsCol: String,
               maxLag: Int = 26): DataFrame =
    autocorrelation(df, typeCol, tsCol, maxLag)
      .groupBy(col(typeCol))
      .agg(max(expr("n_overlap + lag")).as("n"),
        count(lit(1)).as("m_lags"),
        sum(expr("(CAST(acf_ppm AS DECIMAL(38,0)) * acf_ppm) div " +
          "greatest(n_overlap, 1)")).as("s"))
      .select(col(typeCol), col("n").cast("bigint").as("n_hours"),
        col("m_lags"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * (n + 2) * s) div " +
          "1000000000 AS BIGINT)").as("q_x1000"))

  /** Wald–Wolfowitz runs test (1940) of the daily series' sign
    * sequence around its exact median: too FEW runs = persistent
    * regimes (trend, level shifts), too many = oscillation — the
    * randomness diagnostic beside q316's lag-1 Durbin–Watson (DW sees
    * linear autocorrelation; runs see any sign clumping). The median
    * is the exact ceil-rank order statistic off the value-count table
    * (q235's convention, never a corpus sort); median-tied days drop
    * (the standard convention); R counts sign changes + 1 via one lag
    * window over the span-bounded day grid. z is exact-integer:
    * z = (Rn − 2n₁n₂ − n)/√(2n₁n₂(2n₁n₂−n)/(n−1)) via the floor(√) +
    * sign-symmetric divide; a degenerate split (n₁n₂ too small for
    * positive variance) reports 0.
    *
    * Scale shape: one day reduction; every window runs over the
    * span-bounded day/value grid.
    */
  def runsTest(df: DataFrame, tsCol: String,
               valueExpr: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // median rank + sign walk share it
    val daily = Lineage.cut(df.select(date_trunc("day", col(tsCol)).as("d"),
        valueExpr.cast("bigint").as("v"))
      .groupBy("d").agg(sum("v").as("v")))
    val vc = daily.groupBy("v").agg(count(lit(1)).as("cnt"))
    val totN = daily.agg(count(lit(1)).as("nt"))
    // value-count cumsum: bounded by distinct daily values (≤ days)
    val wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val med = vc.withColumn("cum", sum("cnt").over(wv))
      .crossJoin(broadcast(totN))
      .where(expr("cum >= (50 * nt + 99) div 100"))
      .agg(min("v").as("med"))
    val sg = daily.crossJoin(broadcast(med))
      .where(col("v") =!= col("med"))
      .select(col("d"),
        when(col("v") > col("med"), 1L).otherwise(0L).as("s"))
    // sign-change walk: one lag window over the span-bounded day grid
    val wl = Window.orderBy("d")
    sg.withColumn("prev", lag("s", 1).over(wl))
      .agg(count(lit(1)).as("n"), sum("s").as("n1"),
        sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L)).as("r"))
      .withColumn("__den", expr(
        "greatest(CAST(floor(sqrt(CAST((2 * CAST(n1 AS DECIMAL(38,0)) * " +
          "(n - n1) * (2 * n1 * (n - n1) - n)) div greatest(n - 1, 1) " +
          "AS DOUBLE))) AS BIGINT), 1)"))
      .select(col("n").cast("bigint").as("n_days"),
        col("n1").cast("bigint").as("n_above"),
        expr("CAST(n - n1 AS BIGINT)").as("n_below"),
        col("r").cast("bigint").as("runs"),
        expr("CAST(CASE WHEN n < 2 OR n1 <= 0 OR n1 >= n OR " +
          "2 * n1 * (n - n1) <= n THEN 0 " +
          "WHEN r * n >= 2 * n1 * (n - n1) + n THEN " +
          "(1000 * (r * n - 2 * n1 * (n - n1) - n)) div __den " +
          "ELSE -((1000 * (2 * n1 * (n - n1) + n - r * n)) div __den) " +
          "END AS BIGINT)").as("z_x1000"))
  }

  /** Arrival burstiness per event type — the index of dispersion
    * (variance-to-mean ratio of per-hour counts over the corpus's
    * hour span, EMPTY hours included: a type that fires once an hour
    * and one that fires 24× every midnight have the same daily total
    * and utterly different VMR): Poisson arrivals ⇒ ≈ 1000‰, bursty
    * ⇒ higher, metronomic ⇒ lower. Exact integers —
    * VMR_x1000 = 1000·(n·Σx² − (Σx)²) div (n·Σx) through
    * DECIMAL(38). One (type, hour) reduction; the hour grid is
    * span-bounded and broadcast under each type (the q155 union-grid
    * shape).
    */
  def burstiness(df: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val binned = df.select(col(typeCol).as("et"),
      date_trunc("hour", col(tsCol)).as("h"))
    val counts = Lineage.cut(binned.groupBy("et", "h")
      .agg(count(lit(1)).as("x")))
    val hours = counts.select("h").distinct()
    val grid = counts.select("et").distinct()
      .crossJoin(broadcast(hours))
      .join(counts, Seq("et", "h"), "left")
      .na.fill(0L, Seq("x"))
    grid.groupBy("et")
      .agg(count(lit(1)).as("n_hours"), sum("x").as("n_events"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("__sq"))
      .select(col("et").as(typeCol), col("n_hours"), col("n_events"),
        expr("CAST((1000 * (n_hours * __sq - " +
          "CAST(n_events AS DECIMAL(38,0)) * n_events)) div " +
          "greatest(n_hours * CAST(n_events AS DECIMAL(38,0)), 1) " +
          "AS BIGINT)").as("vmr_x1000"))
  }

  /** Bayesian-smoothed success rates per key (the "Bayesian average"
    * ranking guard): raw success/trial ratios are unrankable at low
    * traffic (1/1 beats 980/1000), so each key's rate is shrunk
    * toward the GLOBAL prior p0 with pseudo-count weight α —
    * smoothed = (s + α·p0)/(t + α), emitted as the exact integer
    * per-mille (1000·s + α·p0_x1000) div (t + α) beside the raw rate
    * and the counts. One key-keyed partial aggregation + a broadcast
    * scalar prior; the classic CTR/conversion-ranking primitive.
    */
  def bayesianRates(df: DataFrame, keyCol: String, typeCol: String,
                    successType: String, trialType: String,
                    alpha: Long = 20L): DataFrame = {
    require(alpha >= 1, s"alpha=$alpha must be >= 1")
    val per = df.groupBy(col(keyCol))
      .agg(sum(when(col(typeCol) === trialType, 1L).otherwise(0L))
        .as("n_trials"),
        sum(when(col(typeCol) === successType, 1L).otherwise(0L))
          .as("n_success"))
    val prior = per.agg(
      expr("CAST((1000 * sum(n_success)) div greatest(sum(n_trials), 1) " +
        "AS BIGINT)").as("p0_x1000"))
    per.crossJoin(broadcast(prior))
      .select(col(keyCol), col("n_trials"), col("n_success"),
        expr("CAST((1000 * n_success) div greatest(n_trials, 1) AS BIGINT)")
          .as("raw_x1000"),
        col("p0_x1000"),
        expr(s"CAST((1000 * n_success + $alpha * p0_x1000) div " +
          s"(n_trials + $alpha) AS BIGINT)").as("smoothed_x1000"))
  }

  /** Pairwise association rules (the Apriori 2-itemset stage,
    * Agrawal & Srikant 1994) over per-(user, day) baskets of distinct
    * event types: for every ordered pair x→y, integer per-mille
    * support (baskets with both / all baskets), confidence (both /
    * baskets with x) and ×1000 lift (confidence / P(y)) — the
    * market-basket staple, here over behavioral events.
    *
    * Scale shape: baskets reduce to distinct (basket, item) rows
    * (map-side partial); the pair generation is a basket-keyed
    * self-join whose fan-out is bounded by itemset size² (the item
    * VOCABULARY, not the corpus — event types are a handful); the
    * count tables after are vocab²-bounded, and the scalar basket
    * total broadcasts. Lift is exact integer:
    * (1000·n_xy·B) div (n_x·n_y) through DECIMAL(38).
    */
  def assocRules(df: DataFrame, userCol: String, typeCol: String,
                 tsCol: String, minSupport: Long = 1L): DataFrame = {
    val items = df.select(col(userCol).as("__u"),
        to_date(col(tsCol)).as("__d"), col(typeCol).as("__it"))
      .distinct()
    val nB = items.select("__u", "__d").distinct()
      .agg(count(lit(1)).as("__b"))
    val nX = items.groupBy(col("__it").as("x")).agg(count(lit(1)).as("n_x"))
    val pairs = items.as("i1")
      .join(items.as("i2"),
        col("i1.__u") === col("i2.__u") && col("i1.__d") === col("i2.__d") &&
          col("i1.__it") =!= col("i2.__it"))
      .groupBy(col("i1.__it").as("x"), col("i2.__it").as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .where(col("n_xy") >= minSupport)
    pairs
      .join(nX, "x")
      .join(nX.select(col("x").as("y"), col("n_x").as("n_y")), "y")
      .crossJoin(broadcast(nB))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        expr("CAST((1000 * n_xy) div __b AS BIGINT)").as("support_x1000"),
        expr("CAST((1000 * n_xy) div n_x AS BIGINT)").as("confidence_x1000"),
        expr("CAST((CAST(n_xy AS DECIMAL(38,0)) * 1000 * __b) " +
          "div (CAST(n_x AS DECIMAL(38,0)) * n_y) AS BIGINT)").as("lift_x1000"))
  }

  /** Trending report — week-over-week momentum per event type: count
    * per (type, week) plus the integer per-mille ratio to the
    * previous week (first week emits null — no denominator to fake).
    * One map-side-partial aggregation; the lag window runs over the
    * types×weeks-bounded count table, partitioned by type.
    */
  def trendingReport(df: DataFrame, typeCol: String,
                     tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(typeCol).as("event_type"),
        date_trunc("week", col(tsCol)).as("week"))
      .groupBy("event_type", "week").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("week")
    counts
      .withColumn("__prev", lag("n_events", 1).over(w))
      .select(col("event_type"), col("week"), col("n_events"),
        expr("CAST((1000 * n_events) div __prev AS BIGINT)")
          .as("wow_x1000"))
  }

  /** Weekly retention cohorts — the other product-analytics staple
    * next to the funnel: group users by the week of their FIRST
    * event (their cohort), then for each (cohort, week-offset) count
    * how many of the cohort's users were active that many weeks
    * later. `retention_x1000` is the integer per-mille share of the
    * cohort still active (offset 0 is 1000 by construction — every
    * user is active in their own first week).
    *
    * Scale shape: one user-keyed aggregation for first-event times,
    * one distinct over (user, week) — both map-side partial — and one
    * user-keyed join between them (co-partitioned: same key); the
    * final (cohort, offset) aggregation and the cohort-size join are
    * over a weeks² -bounded table, broadcast-sized. Never a per-user
    * window over event history; a user with 10⁹ events costs two
    * min/distinct partials.
    */
  def retentionCohorts(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firsts = df.groupBy(col(userCol).as("__u"))
      .agg(min(col(tsCol)).as("__first"))
      .select(col("__u"), date_trunc("week", col("__first")).as("cohort_week"))
    val active = df
      .select(col(userCol).as("__u"), date_trunc("week", col(tsCol)).as("__w"))
      .distinct()
    // one row per (user, active week): cohort_week is functional on
    // the user, so count(*) per (cohort, offset) IS distinct users
    val offsets = active.join(firsts, "__u")
      .select(col("cohort_week"),
        expr("CAST(datediff(__w, cohort_week) div 7 AS BIGINT)").as("week_offset"))
    val sizes = firsts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    offsets.groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("active_users"),
        col("cohort_size"),
        expr("CAST((1000 * active_users) div greatest(cohort_size, 1) AS BIGINT)")
          .as("retention_x1000"))
  }

  /** The Kaplan–Meier hazard term in Mitchell eighth-bit log2 units,
    * expecting columns (n_risk, d) in scope — [[survivalCurve]]'s
    * term in the DuckDB twin's SQL (`//` spelling); the Spark plan
    * builds it from the native log ([[kmTerm]]). Days with no event
    * contribute 0; the greatest(…, 1) clamp keeps the final
    * everyone-dies day defined (true S(t) = 0, log −∞) rather than
    * NULL-dropping it from the cumsum.
    */
  def kmTermSql(): String = {
    def L(e: String) = graft.ops.TextStats.log2E8Sql(e, "//")
    s"(CASE WHEN d > 0 THEN ${L("greatest(n_risk - d, 1)")} " +
      s"- ${L("n_risk")} ELSE CAST(0 AS BIGINT) END)"
  }

  /** [[kmTermSql]] over the native log. Both log arguments are ≥ 1:
    * n_risk ≥ d > 0 on the evaluated branch, and the clamp. */
  private def kmTerm: Column = {
    def L(c: Column) = graft.functions.MitchellE8.log2E8(c)
    when(col("d") > 0,
      L(greatest(col("n_risk") - col("d"), lit(1L))) - L(col("n_risk")))
      .otherwise(lit(0L))
  }

  /** Kaplan–Meier survival curve over user lifetimes — "how long do
    * users stay active", the churn question with CENSORING done
    * right: a user whose last event falls within `horizonDays` of
    * the corpus end has not churned, merely not churned YET, and
    * counting them as deaths biases every naive churn rate downward.
    * Lifetime T = last−first activity day; death = last event more
    * than `horizonDays` before the corpus max day. Per lifetime day:
    * the at-risk count (N minus everyone whose lifetime ended
    * earlier), deaths, censored exits, and the running log-survival
    * Σ log2((n−d)/n) in exact eighth-bit integers ([[kmTermSql]] —
    * the product-limit estimator as a SUM, so one window pass
    * replaces the sequential product).
    *
    * Scale shape: one per-user min/max reduction scans the corpus;
    * everything after runs on the lifetime-day-bounded table (the
    * unpartitioned cumsum windows run there, by construction ≤ span
    * days — the q92 bounded-table convention).
    */
  def survivalCurve(df: DataFrame, userCol: String, tsCol: String,
                    horizonDays: Int = 3): DataFrame = {
    require(horizonDays >= 0, s"horizonDays=$horizonDays must be >= 0")
    val spans = df.groupBy(col(userCol).as("__u"))
      .agg(min(date_trunc("day", col(tsCol))).as("first_d"),
        max(date_trunc("day", col(tsCol))).as("last_d"))
    val maxD = spans.agg(max("last_d").as("max_d"))
    val byT = spans.crossJoin(broadcast(maxD))
      .select(expr("CAST(datediff(last_d, first_d) AS BIGINT)").as("t"),
        expr(s"CASE WHEN datediff(max_d, last_d) > $horizonDays " +
          "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("e"))
      .groupBy("t")
      .agg(sum("e").as("d"), sum(expr("1 - e")).as("cen"),
        count(lit(1)).as("a"))
    val n = byT.agg(sum("a").as("n_total"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
    val wPrev = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wCum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byT.crossJoin(broadcast(n))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum("a").over(wPrev), lit(0L)))
      .withColumn("term", kmTerm)
      .withColumn("log_surv_e8", sum("term").over(wCum).cast("bigint"))
      .select(col("t").as("t_days"), col("n_risk"), col("d").as("n_events"),
        col("cen").as("n_censored"), col("log_surv_e8"))
  }

  /** Item–item collaborative similarity ("customers who bought X
    * also bought Y"): co-purchase counts over distinct (user, item)
    * baskets scored by the SQUARED Ochiai coefficient in exact ppm —
    * c²ab·10⁶ div (ca·cb), the cosine of the binary user vectors
    * with the square root folded away so integers stay exact. The
    * rec-sys complement to [[assocRules]]' lift (Ochiai is symmetric
    * and length-normalized; lift is not). Pairs generate per user
    * basket (the assocRules join shape) with a `maxBasket` guard so
    * one crawl-everything account cannot quadratically dominate;
    * undirected pairs emitted once (a < b), `minCo` prunes noise.
    */
  def itemSimilarity(df: DataFrame, userCol: String, itemCol: String,
                     minCo: Long = 2L, maxBasket: Long = 1000L): DataFrame = {
    val ui = df.select(col(userCol).as("__u"), col(itemCol).as("__it"))
      .distinct()
    val sized = ui.groupBy("__u").agg(count(lit(1)).as("__b"))
      .where(col("__b") <= maxBasket)
    // cut ONCE (r16): `kept` has THREE consumers (the item counts and
    // both sides of the pair self-join) and `ui` two more inside this
    // plan — the r15 ledger assumed AQE stage reuse deduped the
    // repeated basket subtree at runtime, but an executed-plan capture
    // at sf1 (plans/r16/q213_sf1_*.txt) shows ZERO ReusedQueryStage
    // nodes: the corpus scan + distinct + size-filter join really ran
    // per consumer. One materialization serves all three (the hits /
    // connected-components edge-table discipline).
    val kept = Lineage.cut(ui.join(sized.select("__u"), "__u"))
    val cA = kept.groupBy(col("__it").as("a")).agg(count(lit(1)).as("n_a"))
    val pairs = kept.as("i1")
      .join(kept.as("i2"), col("i1.__u") === col("i2.__u") &&
        col("i1.__it") < col("i2.__it"))
      .groupBy(col("i1.__it").as("a"), col("i2.__it").as("b"))
      .agg(count(lit(1)).as("n_co"))
      .where(col("n_co") >= minCo)
    pairs
      .join(cA, "a")
      .join(cA.select(col("a").as("b"), col("n_a").as("n_b")), "b")
      .select(col("a").as("item_a"), col("b").as("item_b"), col("n_co"),
        col("n_a"), col("n_b"),
        expr("CAST((CAST(n_co AS DECIMAL(38,0)) * n_co * 1000000) " +
          "div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("ochiai2_ppm"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation —
    * the classic CRM partition, exact-integer end to end: per
    * customer the days since last order, order count, and cents
    * total (through DECIMAL, never float×100); each dimension then
    * scores 1–5 by quintile position, with the quintile cuts
    * computed EXACTLY over value-domain-bounded count tables
    * (recency: span days; frequency: max orders per customer;
    * monetary: $100 buckets) — cut_p = min value whose cumulative
    * count reaches ⌈p·n/100⌉, so no corpus sort and no ntile's
    * corpus-wide single-partition window. Output: one row per
    * populated (r, f, m) cell (≤125) with customer count and cents
    * total. `recency_q` 1 = most recent, `frequency_q`/`monetary_q`
    * 5 = highest.
    */
  def rfmSegments(df: DataFrame, custCol: String, dateCol: String,
                  amountCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxD = df.agg(max(col(dateCol)).as("__mx"))
    val base = Lineage.cut(df.groupBy(col(custCol).as("__c"))
      .agg(max(col(dateCol)).as("__last"), count(lit(1)).as("f"),
        expr(s"CAST(sum(CAST($amountCol AS DECIMAL(18,2))) * 100 " +
          "AS BIGINT)").as("cents"))
      .crossJoin(broadcast(maxD))
      .select(col("__c"),
        expr("CAST(datediff(__mx, __last) AS BIGINT)").as("r"),
        col("f"), col("cents"),
        expr("cents div 10000").as("m")))
    // exact quintile cuts over the bounded value-count table of one
    // dimension: the global cumsum window runs over distinct VALUES
    // (span days / order counts / $100 buckets), never customers
    def cuts(dim: String): DataFrame = {
      val counts = base.groupBy(col(dim).as("v"))
        .agg(count(lit(1)).as("c"))
      val n = counts.agg(sum("c").as("n"))
      val cum = counts.crossJoin(broadcast(n))
        .withColumn("cum", sum("c").over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)))
      cum.agg(
        min(when(expr("cum >= (20 * n + 99) div 100"), col("v")))
          .as(s"${dim}20"),
        min(when(expr("cum >= (40 * n + 99) div 100"), col("v")))
          .as(s"${dim}40"),
        min(when(expr("cum >= (60 * n + 99) div 100"), col("v")))
          .as(s"${dim}60"),
        min(when(expr("cum >= (80 * n + 99) div 100"), col("v")))
          .as(s"${dim}80"))
    }
    // STRICT > against each cut: a value sitting exactly on the p-th
    // cut belongs to the lower bucket, so 5 distinct values over 5
    // customers score exactly 1..5
    def score(dim: String): Column =
      (lit(1L) + when(col(dim) > col(s"${dim}20"), 1L).otherwise(0L)
        + when(col(dim) > col(s"${dim}40"), 1L).otherwise(0L)
        + when(col(dim) > col(s"${dim}60"), 1L).otherwise(0L)
        + when(col(dim) > col(s"${dim}80"), 1L).otherwise(0L))
        .cast("bigint")
    base
      .crossJoin(broadcast(cuts("r")))
      .crossJoin(broadcast(cuts("f")))
      .crossJoin(broadcast(cuts("m")))
      .select(score("r").as("recency_q"), score("f").as("frequency_q"),
        score("m").as("monetary_q"), col("cents"))
      .groupBy("recency_q", "frequency_q", "monetary_q")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("total_cents"))
  }

  /** Weekly cohort LTV curve — [[retentionCohorts]] with money: per
    * (first-activity cohort week, week offset) the week's event
    * value, the RUNNING cumulative value, and the cumulative
    * per-member LTV in exact cents (DECIMAL sums ×100, never
    * float×100) — "how much is a January user worth by week 6", the
    * payback-period readout. Two corpus reductions (first-week per
    * user, value per user-week); the cumsum window partitions by
    * cohort over the weeks²-bounded offset grid.
    */
  def cohortLtv(df: DataFrame, userCol: String, tsCol: String,
                valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firsts = df.groupBy(col(userCol).as("__u"))
      .agg(min(col(tsCol)).as("__first"))
      .select(col("__u"), date_trunc("week", col("__first")).as("cohort_week"))
    val weekVal = df
      .select(col(userCol).as("__u"), date_trunc("week", col(tsCol)).as("__w"),
        col(valueCol).as("__v"))
      .groupBy("__u", "__w")
      .agg(expr("CAST(sum(CAST(__v AS DECIMAL(18,2))) * 100 AS BIGINT)")
        .as("__cents"))
    val sizes = firsts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    val byOffset = weekVal.join(firsts, "__u")
      .select(col("cohort_week"),
        expr("CAST(datediff(__w, cohort_week) div 7 AS BIGINT)")
          .as("week_offset"), col("__cents"))
      .groupBy("cohort_week", "week_offset")
      .agg(sum("__cents").as("week_cents"))
    val w = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    byOffset
      .withColumn("cum_cents", sum("week_cents").over(w).cast("bigint"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("week_cents"),
        col("cum_cents"), col("cohort_size"),
        expr("CAST(cum_cents div greatest(cohort_size, 1) AS BIGINT)")
          .as("ltv_cents_per_user"))
  }

  /** Dwell-time profile per event transition — "HOW LONG between
    * view and purchase", the timing half of [[markovTransitions]]:
    * per consecutive (a → b) pair the gap-seconds count, min,
    * exact-interpolation median and p90 (Spark `percentile` ≡
    * DuckDB `quantile_cont`, the q140 parity), and max. Same single
    * per-user (ts, id)-ordered window as the transition matrix;
    * aggregation lands on the T²-bounded pair table.
    */
  def transitionDwell(df: DataFrame, userCol: String, typeCol: String,
                      tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__ts"), col("__id"))
    df.select(col(userCol).as("__u"), col(typeCol).as("a"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
      .select(col("a"), lead("a", 1).over(w).as("b"),
        (unix_timestamp(lead("__ts", 1).over(w)) -
          unix_timestamp(col("__ts"))).as("gap"))
      .where(col("b").isNotNull)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_pairs"),
        min("gap").as("min_sec"),
        expr("percentile(gap, 0.5)").as("median_sec"),
        expr("percentile(gap, 0.9)").as("p90_sec"),
        max("gap").as("max_sec"))
      .select(col("a").as("from_type"), col("b").as("to_type"),
        col("n_pairs"), col("min_sec"), col("median_sec"), col("p90_sec"),
        col("max_sec"))
  }

  /** Hour-granular session concurrency curve — "how many sessions
    * were live each hour, how many opened, how many closed": the
    * capacity-planning readout behind peak provisioning. Sessions
    * come from the same inactivity-gap construction as the q141
    * batch sessionizer (per-user (ts, id)-ordered window, new
    * session when the gap exceeds `gapSec`); each session then
    * explodes into the hours it OVERLAPS (sequence over its own
    * span — bounded per session by its duration, never a global
    * interval join), and one aggregation per hour counts active /
    * started / ended. Exact integers; output is span-hour-bounded.
    */
  /** Per-user merged-interval coverage: every event opens a
    * fixed-TTL activity interval [ts, ts+ttl); overlapping intervals
    * merge (gaps-and-islands — equal-length intervals make the
    * previous ROW's end the running maximum, so one lag suffices),
    * and the report is per user: events, merged islands, covered
    * seconds, first-to-last span seconds, and the covered-share in
    * per-mille — the "how much wall-clock was this user actually
    * active" readout that raw event counts misstate under bursts.
    *
    * Scale shape: one per-user window (lag + running island sum),
    * one (user, island) aggregation, one user aggregation — q141's
    * audited per-key-window class, never a global sort.
    */
  def intervalCoverage(df: DataFrame, userCol: String, tsCol: String,
                       ttlSec: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__u").orderBy("__ts")
    val isl = df.select(col(userCol).as("__u"), col(tsCol).as("__ts"))
      .withColumn("__prev", lag("__ts", 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_timestamp(col("__ts")) - unix_timestamp(col("__prev")) >= ttlSec,
        1L).otherwise(0L))
      .withColumn("__isl", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy("__u", "__isl")
      .agg(count(lit(1)).as("__n"),
        (unix_timestamp(max("__ts")) - unix_timestamp(min("__ts")) +
          lit(ttlSec)).as("__cov"),
        unix_timestamp(min("__ts")).as("__start"),
        unix_timestamp(max("__ts")).as("__end"))
      .groupBy(col("__u").as(userCol))
      .agg(sum("__n").as("n_events"),
        count(lit(1)).as("n_islands"),
        sum("__cov").as("covered_sec"),
        (max("__end") - min("__start") + lit(ttlSec)).as("span_sec"))
      .withColumn("covered_x1000",
        expr("CAST((1000 * covered_sec) div span_sec AS BIGINT)"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2016 — the
    * data-driven alternative to last-touch): user journeys become a
    * first-order Markov chain over channel states with synthetic
    * `__start__` / absorbing `__conv__` and `__null__`, and each
    * channel's credit is how much the start→conversion reach
    * probability DROPS when the channel is removed (transitions
    * into a removed state are lost, not rerouted — the standard
    * removal semantics). Reach is computed by `iters` fixed
    * value-iteration steps in exact integer ppm (each step: one
    * Σ p·r product-sum, truncated once after the sum), so both
    * engines agree bit-for-bit; journeys truncate at the FIRST
    * conversion in (ts, type) sequence order.
    *
    * Output per channel: full-chain reach, reach with the channel
    * removed, the removal effect (ppm), and the normalized credit
    * share ×1000.
    *
    * Scale shape: the corpus stages are one per-user sequence window
    * and one (src, dst) count reduction; the chain itself — the
    * transition matrix, the (removed × state) value-iteration
    * tables — is channels²-bounded, so the 8 iteration joins touch
    * bounded broadcast tables only.
    */
  def markovAttribution(df: DataFrame, userCol: String, typeCol: String,
                        tsCol: String, convType: String = "purchase",
                        iters: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val START = "__start__"; val CONV = "__conv__"; val NULLS = "__null__"
    val NONE = "__none__"
    val w = Window.partitionBy("__u").orderBy("__ts", "__t")
    // keep rows with no conversion strictly earlier in sequence order:
    // all channels before the first conv, plus the first conv row
    val seq0 = df.select(col(userCol).as("__u"), col(typeCol).as("__t"),
        col(tsCol).as("__ts"))
      .withColumn("__pc", coalesce(sum(
        when(col("__t") === convType, 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .where(col("__pc") === 0L)
      .withColumn("__state",
        when(col("__t") === convType, CONV).otherwise(col("__t")))
    val seq = Lineage.cut(seq0)
    val pairs = seq
      .withColumn("__prevs", lag("__state", 1).over(w))
      .select(coalesce(col("__prevs"), lit(START)).as("src"),
        col("__state").as("dst"))
    val terminals = seq
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__u").orderBy(desc("__ts"), desc("__t"))))
      .where(col("__rn") === 1 && col("__state") =!= CONV)
      .select(col("__state").as("src"), lit(NULLS).as("dst"))
    val trans = pairs.union(terminals)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    val outTot = trans.groupBy("src").agg(sum("cnt").as("tot"))
    val p = broadcast(Lineage.cut(trans.join(outTot, "src")
      .select(col("src"), col("dst"),
        expr("CAST((1000000 * cnt) div tot AS BIGINT)").as("p_ppm"))))
    val channels = Lineage.cut(trans.select(col("src").as("ch"))
      .union(trans.select(col("dst").as("ch")))
      .where(!col("ch").isin(START, CONV, NULLS))
      .distinct())
    val removedDim = channels.select(col("ch").as("removed"))
      .union(channels.sparkSession.range(1).select(lit(NONE).as("removed")))
    val convRows = broadcast(removedDim)
      .crossJoin(channels.sparkSession.range(1)
        .select(lit(CONV).as("state"), lit(1000000L).as("r")))
      .select("removed", "state", "r")
    var r = convRows
    for (_ <- 1 to iters) {
      val step = r.join(p, r("state") === p("dst"))
        .where(p("src") =!= r("removed") && p("dst") =!= r("removed"))
        .groupBy(col("removed"), col("src").as("state"))
        .agg(expr("CAST(sum(p_ppm * r) div 1000000 AS BIGINT)").as("r"))
        .where(col("state") =!= CONV)
      r = Lineage.cut(step.union(convRows))
    }
    val reach = r.where(col("state") === START)
      .select(col("removed"), col("r").as("reach_ppm"))
    val full = broadcast(reach.where(col("removed") === NONE)
      .select(col("reach_ppm").as("reach_full_ppm")))
    // a removal can disconnect __start__ entirely (no surviving
    // outgoing edge) — that channel then has NO reach row; it carried
    // every path, reach_removed = 0
    val effects = channels.select(col("ch").as("channel"))
      .join(reach.withColumnRenamed("removed", "channel"), Seq("channel"),
        "left")
      .na.fill(0L, Seq("reach_ppm"))
      .crossJoin(full)
      .select(col("channel"), col("reach_full_ppm"),
        col("reach_ppm").as("reach_removed_ppm"),
        greatest(col("reach_full_ppm") - col("reach_ppm"), lit(0L))
          .as("effect_ppm"))
    val totEffect = broadcast(effects.agg(
      sum("effect_ppm").as("tot_effect")))
    effects.crossJoin(totEffect)
      .select(col("channel"), col("reach_full_ppm"),
        col("reach_removed_ppm"), col("effect_ppm"),
        expr("CAST((1000 * effect_ppm) div greatest(tot_effect, 1) " +
          "AS BIGINT)").as("share_x1000"))
  }

  def concurrencyCurve(df: DataFrame, userCol: String, tsCol: String,
                       idCol: String, gapSec: Long = 600L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__ts"), col("__id"))
    val spans = df.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(idCol).as("__id"))
      .withColumn("__prev", lag("__ts", 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        unix_timestamp(col("__ts")) - unix_timestamp(col("__prev")) > gapSec,
        1L).otherwise(0L))
      .withColumn("__sid", sum("__new").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("__u", "__sid")
      .agg(min("__ts").as("t_start"), max("__ts").as("t_end"))
      .select(date_trunc("hour", col("t_start")).as("h_start"),
        date_trunc("hour", col("t_end")).as("h_end"))
    spans
      .select(explode(expr("sequence(h_start, h_end, interval 1 hour)"))
        .as("hour"), col("h_start"), col("h_end"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("hour") === col("h_start"), 1L).otherwise(0L))
          .as("n_started"),
        sum(when(col("hour") === col("h_end"), 1L).otherwise(0L))
          .as("n_ended"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next = b | current = a) as exact ppm from the
    * (a → b) adjacency counts of consecutive events (ordered by
    * `tsCol` with `idCol` as the deterministic tiebreak). The
    * "what do users do next" model behind next-action prediction and
    * anomalous-session scoring. One per-user lead() window builds
    * the pairs; every aggregation after runs on the T²-bounded
    * transition table (T = event-type alphabet).
    */
  def markovTransitions(df: DataFrame, userCol: String, typeCol: String,
                        tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__ts"), col("__id"))
    val pairs = df.select(col(userCol).as("__u"), col(typeCol).as("a"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
      .select(col("a"), lead("a", 1).over(w).as("b"))
      .where(col("b").isNotNull)
    transitionsFromCounts(
      pairs.groupBy("a", "b").agg(count(lit(1)).as("n_pairs")))
  }

  /** Weekly growth accounting — the standard active-user bridge
    * (new / retained / resurrected / churned): with A_w the set of
    * users active in week w and F(u) each user's first active week,
    *
    *   new_u         = |{u ∈ A_w : F(u) = w}|
    *   retained      = |A_w ∩ A_{w−1}|
    *   resurrected   = |A_w \ A_{w−1}| minus the new users
    *   churned       = |A_{w−1} \ A_w|  (reported against week w)
    *
    * and the identity active = new + retained + resurrected holds
    * per row. Weeks are `date_trunc('week', ts)`; gap weeks (nobody
    * active) still produce a churn row via the week grid.
    *
    * Scale shape: ONE (user, week) distinct reduction, a per-user
    * min-week aggregation, and self/grid joins on the week key —
    * everything after the reduction is (users-per-week)-bounded,
    * and the final report is weeks-bounded.
    */
  def growthAccounting(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val uw = Lineage.cut(df.select(col(userCol).as("u"),
        date_trunc("week", col(tsCol)).as("w"))
      .distinct())
    val first = uw.groupBy("u").agg(min("w").as("fw"))
    val weeks = uw.select("w").distinct()
    val grid = weeks.union(
        weeks.select(date_add(col("w"), 7).cast("timestamp").as("w")))
      .distinct()
    val cur = uw.join(first, "u")
    val prev = uw.select(col("u"), date_add(col("w"), 7)
      .cast("timestamp").as("w"), lit(1L).as("__p"))
    val flags = cur.join(prev, Seq("u", "w"), "full_outer")
      .select(col("w"),
        when(col("fw").isNotNull && col("fw") === col("w"), 1L)
          .otherwise(0L).as("is_new"),
        when(col("fw").isNotNull && col("__p").isNotNull &&
          col("fw") =!= col("w"), 1L).otherwise(0L).as("is_ret"),
        when(col("fw").isNotNull && col("__p").isNull &&
          col("fw") =!= col("w"), 1L).otherwise(0L).as("is_res"),
        when(col("fw").isNull && col("__p").isNotNull, 1L)
          .otherwise(0L).as("is_churn"),
        when(col("fw").isNotNull, 1L).otherwise(0L).as("is_active"))
      .groupBy("w")
      .agg(sum("is_active").as("active"), sum("is_new").as("new_users"),
        sum("is_ret").as("retained"), sum("is_res").as("resurrected"),
        sum("is_churn").as("churned"))
    grid.join(flags, Seq("w"), "left")
      .na.fill(0L, Seq("active", "new_users", "retained", "resurrected",
        "churned"))
      .select(col("w").as("week"), col("active"), col("new_users"),
        col("retained"), col("resurrected"), col("churned"))
  }

  /** Per-user sequence surprisal under the corpus's own first-order
    * transition model — the anomalous-journey detector: each user's
    * consecutive event-type transitions are scored by
    * −log2 p(a→b) = L(out_total(a)) − L(count(a→b)) in eighth-bit
    * integer log2 (native [[graft.functions.MitchellE8.log2E8]];
    * tot ≥ cnt ≥ 1), and the user
    * gets the mean (surprisal_e8 = Σ div n). Bot sessions walk
    * high-probability loops and score LOW; scripted scanners and
    * broken clients hit rare transitions and score HIGH — same
    * instinct as q106's text LM surprisal, applied to behavior.
    *
    * Scale shape: ONE per-user lead window + one (a, b) count
    * reduction; the scored transition matrix is types²-bounded and
    * broadcasts back onto the pair stream; one user-keyed fold.
    */
  def sequenceSurprisal(df: DataFrame, userCol: String, typeCol: String,
                        tsCol: String, idCol: String): DataFrame = {
    import graft.functions.MitchellE8.log2E8
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__ts"), col("__id"))
    val pairs = Lineage.cut(df.select(col(userCol).as("__u"),
        col(typeCol).as("a"), col(tsCol).as("__ts"), col(idCol).as("__id"))
      .select(col("__u"), col("a"), lead("a", 1).over(w).as("b"))
      .where(col("b").isNotNull))
    val counts = pairs.groupBy("a", "b").agg(count(lit(1)).as("cnt"))
    val tot = counts.groupBy("a").agg(sum("cnt").as("tot"))
    val scoredTrans = broadcast(counts.join(tot, "a")
      .select(col("a"), col("b"),
        (log2E8(col("tot")) - log2E8(col("cnt"))).as("surp_e8")))
    pairs.join(scoredTrans, Seq("a", "b"))
      .groupBy(col("__u").as(userCol))
      .agg(count(lit(1)).as("n_trans"),
        expr("CAST(sum(surp_e8) div count(1) AS BIGINT)")
          .as("surprisal_e8"))
  }

  /** The [[markovTransitions]] ppm step over an already-reduced
    * (a, b, n_pairs) table — the readback shared by the batch
    * operator and the streaming transition monitor (additive
    * per-trigger count folds feed the SAME arithmetic, so the two
    * forms agree bit-for-bit).
    */
  def transitionsFromCounts(counts: DataFrame): DataFrame = {
    val t = counts.select(col("a"), col("b"),
      col("n_pairs").cast("bigint").as("n_pairs"))
    val rowTot = t.groupBy("a").agg(sum("n_pairs").as("n_from"))
    t.join(broadcast(rowTot), "a")
      .select(col("a").as("from_type"), col("b").as("to_type"),
        col("n_pairs"), col("n_from"),
        expr("CAST((CAST(n_pairs AS DECIMAL(38,0)) * 1000000) div n_from " +
          "AS BIGINT)").as("p_ppm"))
  }

  /** Stationary distribution of the [[markovTransitions]] chain via
    * `iters` exact-integer power iterations from the uniform start:
    * π_{k+1}(b) = (Σ_a π_k(a)·p_ppm(a,b)) div 10⁶ — "where do user
    * journeys settle", the long-run attention share per event type.
    * Truncation drops ≤1 ppm per receiving type per iteration and
    * types with no observed outgoing transition shed their mass
    * (documented, deterministic — the TextRank q152 convention,
    * minus damping). All iterations run on the T/T²-bounded tables;
    * the corpus is touched exactly once to build the pair counts.
    */
  def markovStationary(df: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, idCol: String,
                       iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val trans = Lineage.cut(markovTransitions(df, userCol, typeCol, tsCol, idCol)
      .select(col("from_type").as("a"), col("to_type").as("b"),
        col("p_ppm"), col("n_from")))
    val types = Lineage.cut(df.select(col(typeCol).as("st")).distinct())
    val nT = types.count()
    var pi = types.select(col("st"),
      lit(1000000L / math.max(nT, 1L)).as("pi"))
    (1 to iters).foreach { _ =>
      val recv = pi.join(broadcast(trans), pi("st") === trans("a"))
        .groupBy("b")
        .agg(sum(expr("CAST(pi AS DECIMAL(38,0)) * p_ppm")).as("__s"))
        .select(col("b").as("st"),
          expr("CAST(__s div 1000000 AS BIGINT)").as("__pi1"))
      pi = types.join(broadcast(recv), Seq("st"), "left")
        .select(col("st"),
          expr("coalesce(__pi1, CAST(0 AS BIGINT))").as("pi"))
    }
    pi.join(broadcast(trans.groupBy("a").agg(min("n_from").as("n_from"))),
        pi("st") === col("a"), "left")
      .select(col("st").as(typeCol),
        expr("coalesce(n_from, CAST(0 AS BIGINT))").as("n_from"),
        lit(1000000L / math.max(nT, 1L)).as("pi0_ppm"),
        col("pi").as("pi_ppm"))
  }

  /** Ordered sequential-pattern mining over per-user event streams —
    * every CONSECUTIVE type trigram (a, b, c) with its occurrence
    * count, distinct-user reach, and per-mille user support. The
    * ordered complement to [[assocRules]] (unordered baskets) and
    * [[funnelReport]] (one fixed sequence): this surfaces which
    * sequences to ask the funnel about. Same single per-user lead()
    * window as [[markovTransitions]]; output is T³-bounded.
    */
  def sequencePatterns(df: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__u").orderBy(col("__ts"), col("__id"))
    val tri = df.select(col(userCol).as("__u"), col(typeCol).as("a"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
      .select(col("__u"), col("a"), lead("a", 1).over(w).as("b"),
        lead("a", 2).over(w).as("c"))
      .where(col("b").isNotNull && col("c").isNotNull)
    val users = df.select(col(userCol).as("__u")).distinct()
      .agg(count(lit(1)).as("n_users_total"))
    tri.groupBy("a", "b", "c")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__u")).as("n_users"))
      .crossJoin(broadcast(users))
      .select(col("a").as("step_1"), col("b").as("step_2"),
        col("c").as("step_3"), col("n_occurrences"), col("n_users"),
        expr("CAST((1000 * n_users) div n_users_total AS BIGINT)")
          .as("support_x1000"))
  }

  /** EWMA smoothing + deviation-band anomaly flags over the daily
    * arrival series per event type — the classic exponentially-
    * weighted monitoring chart (Roberts 1959; Hunter 1986, the
    * EWMA control chart), float-free: with α = 1/8 the level and the
    * smoothed absolute deviation follow the INTEGER recurrences
    *
    *   m_t = (7·m_{t−1} + 1000·x_t) div 8      (m_0 = 1000·x_0)
    *   d_t = (7·d_{t−1} + |1000·x_t − m_{t−1}|) div 8   (d_0 = 0)
    *
    * in milli-count units, and day t is flagged when its deviation
    * from YESTERDAY's level exceeds k·max(d_{t−1}, 1000) after a
    * warmup of `warmup` days (the prior-state band is the point: the
    * anomalous day must not soften its own alarm). Truncating `div`
    * matches DuckDB `//` on these non-negative operands, so every
    * row is oracle-hashable — no float smoothing constant anywhere.
    * Complements [[seasonalAnomalies]] (seasonal-slot median/MAD)
    * with the trend-following chart that adapts to level shifts.
    *
    * Scale shape: one (type, day) count reduction from the corpus
    * (map-side partial); the zero-filled grid is types × span days —
    * TIME-bounded, not corpus-bounded — and the sequential recurrence
    * folds each type's span-bounded series inside one interpreted
    * `aggregate` higher-order call (state values stay O(1000·max x):
    * no 8^t blowup, safe at any corpus size). No window over corpus
    * rows, no driver loop.
    */
  def ewmaBands(df: DataFrame, typeCol: String, tsCol: String,
                warmup: Int = 7, k: Int = 3): DataFrame = {
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("x"))
    val st = "array<struct<d:timestamp,x:bigint,m:bigint,dd:bigint,a:boolean>>"
    // prev-state shorthand: the last element of the accumulator
    val p = "element_at(acc, size(acc))"
    grid.groupBy("et")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("ser"))
      .withColumn("ser2", expr(
        s"""aggregate(ser, CAST(array() AS $st),
           |  (acc, e) -> CASE WHEN size(acc) = 0 THEN
           |      array(named_struct('d', e.d, 'x', e.x,
           |        'm', 1000L * e.x, 'dd', 0L, 'a', false))
           |    ELSE concat(acc, array(named_struct('d', e.d, 'x', e.x,
           |      'm', (7L * $p.m + 1000L * e.x) div 8L,
           |      'dd', ((7L * $p.dd) + abs(1000L * e.x - $p.m)) div 8L,
           |      'a', size(acc) >= $warmup AND
           |        abs(1000L * e.x - $p.m) > ${k}L * greatest($p.dd, 1000L))))
           |    END)""".stripMargin))
      .select(col("et"), explode(col("ser2")).as("e"))
      .select(col("et").as(typeCol), col("e.d").as("day"),
        col("e.x").as("x"), col("e.m").as("ewma_milli"),
        col("e.dd").as("ewmad_milli"), col("e.a").as("is_anomaly"))
  }

  /** Brown's double exponential smoothing forecast (Brown 1959) over
    * the daily arrival series per type — [[ewmaBands]]' trend-aware
    * sibling: a second smoothing pass turns the EWMA level into a
    * (level, trend) state, giving an h-step-ahead linear forecast
    *
    *   s1ₜ = (7·s1ₜ₋₁ + 1000·xₜ) div 8,  s2ₜ = (7·s2ₜ₋₁ + s1ₜ) div 8
    *   level = 2·s1 − s2,  trend = (s1 − s2) div 7,  f(h) = level + h·trend
    *
    * float-free in milli-count units (α = 1/8 makes α/(1−α) = 1/7
    * exact; the trend divide is sign-guarded so truncating `div`
    * matches DuckDB `//`). A one-step-ahead backtest accumulates
    * |1000·xₜ − f(1)ₜ₋₁| after `warmup` days → `mae_milli`, the
    * honesty metric a forecast report must carry. One row per type:
    * the final state, f(1), f(`horizon`), and the backtest MAE.
    *
    * Scale shape: one (type, day) count reduction from the corpus;
    * the recurrence folds each type's TIME-bounded zero-filled series
    * inside one interpreted `aggregate` call (state is O(1) wide;
    * values stay O(1000·max x)). No window over corpus rows.
    */
  /** HITS hubs & authorities (Kleinberg, JACM 1999) on a bipartite
    * interaction graph — the mutual-reinforcement importance score
    * PageRank (q152) can't express: a hub matters because it touches
    * important authorities, an authority because important hubs
    * touch it ("curator customers" vs "anchor products" on a
    * purchase graph). Fixed `iters` power iterations with L1
    * normalization in 10¹² fixed point: raw scores are exact BIGINT
    * sums, each normalization is one (raw·10¹²) div Σraw through
    * DECIMAL(38) — deterministic, oracle-hashable, and the DuckDB
    * twin unrolls the identical stages (the q152 discipline).
    *
    * Scale shape: ONE distinct reduction to the edge table (the only
    * corpus-proportional stage, cut once — every iteration re-reads
    * it); per iteration two edge-keyed joins + node-keyed folds, raw
    * node tables cut because each feeds BOTH its L1 total and the
    * normalized scores, and each round's tables are released once the
    * next round lands (the label-prop discipline, r16); the totals
    * are one-row broadcasts. Output: top-k per role, bounded-heap
    * TakeOrdered. An r16 probe tried pre-partitioned+sorted edge
    * copies with the layout re-declared through the cut so the
    * iteration joins skip the edge exchange: shuffle dropped 62.9 →
    * 41.7 MB (records 6.6 M → 4.2 M) at sf0.1 but wall-clock went
    * 5.15 → 8.4 s warm (sf1 ramp: parity) — AQE's runtime coalescing
    * and broadcast conversion on the re-shuffled shape is worth more
    * than the exchange it removes, so the exchange stays.
    */
  def hitsBipartite(edges0: DataFrame, hubCol: String, authCol: String,
                    iters: Int = 4, k: Int = 10): DataFrame = {
    require(iters >= 1 && k >= 1, s"iters=$iters, k=$k must be >= 1")
    val Scale = 1000000000000L
    val edges = Lineage.cut(edges0
      .select(col(hubCol).cast("bigint").as("h"),
        col(authCol).cast("bigint").as("a"))
      .distinct())
    val nh = edges.select("h").distinct().agg(count(lit(1)).as("n"))
    var hub = edges.select("h").distinct()
      .crossJoin(broadcast(nh))
      .select(col("h"), expr(s"CAST($Scale div n AS BIGINT)").as("s"))
    var auth: DataFrame = null
    var prevH: DataFrame = null
    for (i <- 1 to iters) {
      val araw = Lineage.cut(edges.join(hub, "h").groupBy("a")
        .agg(sum("s").as("r")))
      // hub (derived from the prior round's hraw) is fully consumed
      // by the araw cut; the final round's hraw still feeds topH
      if (prevH != null) Lineage.release(prevH)
      val at = araw.agg(sum("r").as("t"))
      auth = araw.crossJoin(broadcast(at))
        .select(col("a"), expr(
          s"CAST((CAST(r AS DECIMAL(38,0)) * $Scale) div t AS BIGINT)")
          .as("s"))
      val hraw = Lineage.cut(edges.join(auth, "a").groupBy("h")
        .agg(sum("s").as("r")))
      // auth is consumed by the hraw cut — except the final round's,
      // which topA re-reads from its araw (freed by the caller's
      // Lineage.scoped block, like the final hraw feeding topH)
      if (i < iters) Lineage.release(araw)
      prevH = hraw
      val ht = hraw.agg(sum("r").as("t"))
      hub = hraw.crossJoin(broadcast(ht))
        .select(col("h"), expr(
          s"CAST((CAST(r AS DECIMAL(38,0)) * $Scale) div t AS BIGINT)")
          .as("s"))
    }
    val hdeg = edges.groupBy("h").agg(count(lit(1)).as("degree"))
    val adeg = edges.groupBy("a").agg(count(lit(1)).as("degree"))
    val topH = hub.join(hdeg, "h")
      .select(lit("hub").as("role"), col("h").as("node"),
        col("s").as("score_p12"), col("degree"))
      .orderBy(desc("score_p12"), col("node")).limit(k)
    val topA = auth.join(adeg, "a")
      .select(lit("authority").as("role"), col("a").as("node"),
        col("s").as("score_p12"), col("degree"))
      .orderBy(desc("score_p12"), col("node")).limit(k)
    topA.unionAll(topH)
  }

  /** Sign-symmetric ÷8 — the α=β=γ=1/8 smoothing divide shared
    * VERBATIM by the Spark fold and the DuckDB recursion. Both
    * engines already truncate toward zero (-7 div 2 = -7//2 = -3);
    * the CASE is a defensive convention pinning truncation even
    * against an engine whose `//` floors.
    */
  def hwSdiv8Sql(e: String, divOp: String): String =
    s"(CASE WHEN ($e) >= 0 THEN ($e) $divOp 8 " +
      s"ELSE -((-($e)) $divOp 8) END)"

  /** The Holt–Winters additive step expressions (level', trend',
    * one-step-ahead forecast) over caller-supplied accessor strings —
    * ONE emitter feeds both engines so the integer recurrences cannot
    * drift. `x` is the day's raw count, `lv`/`tr` the prior state,
    * `sidx` the prior seasonal at this day's slot.
    */
  def hwStepSql(x: String, lv: String, tr: String, sidx: String,
                divOp: String): (String, String, String) = {
    val lvNew = hwSdiv8Sql(
      s"(1000 * $x - ($sidx)) + 7 * (($lv) + ($tr))", divOp)
    val trNew = hwSdiv8Sql(s"(($lvNew) - ($lv)) + 7 * ($tr)", divOp)
    val fPrev = s"(($lv) + ($tr) + ($sidx))"
    (lvNew, trNew, fPrev)
  }

  /** Holt–Winters additive (triple exponential) smoothing over daily
    * arrival counts per type — [[brownForecast]] plus the weekly
    * seasonal component (Winters, Management Science 1960): level,
    * trend and a 7-slot additive season folded per type with
    * α=β=γ=1/8 in float-free milli integers,
    *
    *   l_t = ((x_t·10³ − s_{t%7}) + 7·(l+b)) ÷ 8
    *   b_t = ((l_t − l) + 7·b) ÷ 8
    *   s'_{t%7} = ((x_t·10³ − l_t) + 7·s_{t%7}) ÷ 8
    *
    * (each ÷ the sign-symmetric [[hwSdiv8Sql]]; other slots carry).
    * Zero-init level=x₀, trend=0, season=0 — the bias decays within
    * the warmup, which is why the backtest MAE starts at day 14 (two
    * full seasons). Forecast h days out: l + h·b + s_{(T−1+h)%7}.
    *
    * Scale shape: q220/q283's — the types × day-span grid is the
    * only corpus-proportional stage; the recurrence folds each
    * type's span-bounded series inside ONE aggregate call (no
    * per-day shuffle, no driver loop).
    */
  def holtWinters(df: DataFrame, typeCol: String, tsCol: String,
                  horizon: Int = 7, warmup: Int = 14): DataFrame = {
    require(horizon >= 1, s"horizon=$horizon must be >= 1")
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("x"))
    val st = "array<struct<lv:bigint,tr:bigint,se:array<bigint>," +
      "es:bigint,ne:bigint>>"
    val p = "element_at(acc, size(acc))"
    val sidx = s"element_at($p.se, (size(acc) % 7) + 1)"
    val (lvNew, trNew, fPrev) =
      hwStepSql("e.x", s"$p.lv", s"$p.tr", sidx, "div")
    val seNew = s"transform($p.se, (v, j) -> " +
      s"CASE WHEN j = (size(acc) % 7) THEN " +
      hwSdiv8Sql(s"(1000 * e.x - ($lvNew)) + 7 * v", "div") +
      " ELSE v END)"
    grid.groupBy("et")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("ser"))
      .withColumn("fin", expr(
        s"""element_at(aggregate(ser, CAST(array() AS $st),
           |  (acc, e) -> CASE WHEN size(acc) = 0 THEN
           |      array(named_struct('lv', 1000L * e.x, 'tr', 0L,
           |        'se', array_repeat(0L, 7), 'es', 0L, 'ne', 0L))
           |    ELSE concat(acc, array(named_struct(
           |      'lv', $lvNew,
           |      'tr', $trNew,
           |      'se', $seNew,
           |      'es', $p.es + (CASE WHEN size(acc) >= $warmup
           |        THEN abs(1000 * e.x - $fPrev) ELSE 0L END),
           |      'ne', $p.ne + (CASE WHEN size(acc) >= $warmup
           |        THEN 1L ELSE 0L END))))
           |    END), -1)""".stripMargin))
      .withColumn("n_days", expr("CAST(size(ser) AS BIGINT)"))
      .select(col("et").as(typeCol), col("n_days"),
        col("fin.lv").as("level_milli"), col("fin.tr").as("trend_milli"),
        expr("fin.lv + fin.tr + element_at(fin.se, " +
          "CAST((n_days % 7) + 1 AS INT))").as("f1_milli"),
        expr(s"fin.lv + ${horizon} * fin.tr + element_at(fin.se, " +
          s"CAST(((n_days + ${horizon} - 1) % 7) + 1 AS INT))")
          .as(s"f${horizon}_milli"),
        expr("array_max(fin.se) - array_min(fin.se)")
          .as("season_amp_milli"),
        expr("CASE WHEN fin.ne = 0 THEN 0L ELSE fin.es div fin.ne END")
          .as("mae_milli"))
  }

  def brownForecast(df: DataFrame, typeCol: String, tsCol: String,
                    horizon: Int = 7, warmup: Int = 7): DataFrame = {
    require(horizon >= 1, s"horizon=$horizon must be >= 1")
    val c = Lineage.cut(df.select(col(typeCol).as("et"),
        date_trunc("day", col(tsCol)).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x")))
    val days = c.select("d").distinct()
    val grid = c.select("et").distinct()
      .crossJoin(broadcast(days))
      .join(c, Seq("et", "d"), "left")
      .na.fill(0L, Seq("x"))
    val st = "array<struct<s1:bigint,s2:bigint,es:bigint,ne:bigint>>"
    val p = "element_at(acc, size(acc))"
    // prev one-step forecast: level + trend from the PRIOR state
    val fPrev = s"(2L * $p.s1 - $p.s2 + (CASE WHEN $p.s1 >= $p.s2 " +
      s"THEN ($p.s1 - $p.s2) div 7L " +
      s"ELSE -(($p.s2 - $p.s1) div 7L) END))"
    val s1New = s"(7L * $p.s1 + 1000L * e.x) div 8L"
    grid.groupBy("et")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("ser"))
      .withColumn("fin", expr(
        s"""element_at(aggregate(ser, CAST(array() AS $st),
           |  (acc, e) -> CASE WHEN size(acc) = 0 THEN
           |      array(named_struct('s1', 1000L * e.x, 's2', 1000L * e.x,
           |        'es', 0L, 'ne', 0L))
           |    ELSE concat(acc, array(named_struct(
           |      's1', $s1New,
           |      's2', (7L * $p.s2 + ($s1New)) div 8L,
           |      'es', $p.es + (CASE WHEN size(acc) >= $warmup
           |        THEN abs(1000L * e.x - $fPrev) ELSE 0L END),
           |      'ne', $p.ne + (CASE WHEN size(acc) >= $warmup
           |        THEN 1L ELSE 0L END))))
           |    END), -1)""".stripMargin))
      .withColumn("n_days", expr("CAST(size(ser) AS BIGINT)"))
      .withColumn("level_milli", expr("2L * fin.s1 - fin.s2"))
      .withColumn("trend_milli", expr(
        "CASE WHEN fin.s1 >= fin.s2 THEN (fin.s1 - fin.s2) div 7L " +
          "ELSE -((fin.s2 - fin.s1) div 7L) END"))
      .select(col("et").as(typeCol), col("n_days"),
        col("fin.s1").as("s1_milli"), col("fin.s2").as("s2_milli"),
        col("level_milli"), col("trend_milli"),
        expr("level_milli + trend_milli").as("f1_milli"),
        expr(s"level_milli + ${horizon}L * trend_milli")
          .as(s"f${horizon}_milli"),
        expr("CASE WHEN fin.ne = 0 THEN 0L ELSE fin.es div fin.ne END")
          .as("mae_milli"))
  }

  /** EXACT Shapley-value channel attribution (Shapley 1953 applied to
    * the observed-coalition conversion game, Dalessandro et al. 2012)
    * — the principled third lens of the attribution trio: last-touch
    * credits the final click, Markov removal-effects credit path
    * criticality, Shapley credits each channel its average marginal
    * lift over every ordering of the exposure set. The game: a user's
    * COALITION is the set of touch channels they were exposed to;
    * v(S) = conversion rate (ppm, exact integer div) of users exposed
    * to exactly S, v = 0 for unobserved sets and ∅. Then
    *
    *   φ_i = Σ_{S ⊆ C\{i}} |S|!·(c−1−|S|)!/c! · [v(S∪{i}) − v(S)]
    *
    * computed exactly: per-term integer weights |S|!(c−1−|S|)!, the
    * c! division deferred to the final guarded integral divide (the
    * woeIv sign convention). Output per channel: exposed users,
    * their conversions, the exact Shapley numerator `phi_x` and
    * `phi_ppm` = φ in conversion-rate ppm.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to the
    * per-user (bitmask, converted) table and a second to the ≤2^c
    * coalition table; every later join is over that bounded table
    * (the q126 broadcast-scalar convention; c = |touches| is a query
    * constant, keep it small — the power set is materialized).
    */
  /** Two-cohort log-rank test (Mantel 1966) — the significance
    * companion to [[survivalCurve]]: "do cohort-1 users churn at a
    * different rate than cohort-0 users?" Same lifetime/censoring
    * construction as the KM curve (per-user span, churn = no
    * activity within `horizonDays` of the corpus max day); at each
    * event day t the observed cohort-1 deaths d₁ₜ are compared to
    * the hypergeometric expectation d·r₁/n over the at-risk counts:
    *
    *   O = Σ d₁ₜ,  E = Σ dₜ·r₁ₜ/nₜ,
    *   V = Σ dₜ·r₀ₜ·r₁ₜ·(nₜ−dₜ) / (nₜ²·(nₜ−1)),  χ² = (O−E)²/V
    *
    * E and V accumulate as exact ×10⁶ per-term integral divisions
    * (deterministic on both engines; DECIMAL(38) bounds hold to
    * ~10⁸ at-risk per day); the χ² is the ONE float step. Cohort
    * membership is `max(cohortExpr)` per user (0/1).
    *
    * Scale shape: one per-user reduction, then everything runs on
    * the (cohort, lifetime-day) table — bounded by 2× the corpus
    * day span; its cumulative at-risk windows are bounded-table
    * global windows by construction.
    */
  def logRankTest(df: DataFrame, userCol: String, tsCol: String,
                  cohortExpr: Column, horizonDays: Int = 3): DataFrame = {
    require(horizonDays >= 0, s"horizonDays=$horizonDays must be >= 0")
    val spans = df.groupBy(col(userCol).as("__u"))
      .agg(min(date_trunc("day", col(tsCol))).as("first_d"),
        max(date_trunc("day", col(tsCol))).as("last_d"),
        max(cohortExpr.cast("bigint")).as("g"))
    val maxD = spans.agg(max("last_d").as("max_d"))
    // two cohort slices + totals off one reduction
    val byT = Lineage.cut(spans.crossJoin(broadcast(maxD))
      .select(col("g"),
        expr("CAST(datediff(last_d, first_d) AS BIGINT)").as("t"),
        expr(s"CASE WHEN datediff(max_d, last_d) > $horizonDays " +
          "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("e"))
      .groupBy("g", "t")
      .agg(sum("e").as("d"), count(lit(1)).as("a")))
    val g0 = byT.where(col("g") === 0L)
      .select(col("t"), col("d").as("d0"), col("a").as("a0"))
    val g1 = byT.where(col("g") === 1L)
      .select(col("t"), col("d").as("d1"), col("a").as("a1"))
    val grid = g0.join(g1, Seq("t"), "full")
      .na.fill(0L, Seq("d0", "a0", "d1", "a1"))
    val tot = byT.groupBy().pivot("g", Seq(0L, 1L)).sum("a")
      .select(coalesce(col("0"), lit(0L)).as("n0_tot"),
        coalesce(col("1"), lit(0L)).as("n1_tot"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("t")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // lifetime-day-table windows: bounded by the corpus day span
    val risk = grid.crossJoin(broadcast(tot))
      .withColumn("r0", col("n0_tot") - coalesce(sum("a0").over(w), lit(0L)))
      .withColumn("r1", col("n1_tot") - coalesce(sum("a1").over(w), lit(0L)))
      .withColumn("d", col("d0") + col("d1"))
      .withColumn("n", col("r0") + col("r1"))
      .where(col("d") > 0L)
      .withColumn("e1_6", expr(
        "CAST((1000000 * CAST(d AS DECIMAL(38,0)) * r1) div n AS BIGINT)"))
      .withColumn("v6", expr(
        "CAST(CASE WHEN n < 2 THEN 0 ELSE " +
          "(1000000 * CAST(d AS DECIMAL(38,0)) * r0 * r1 * (n - d)) div " +
          "(CAST(n AS DECIMAL(38,0)) * n * (n - 1)) END AS BIGINT)"))
    risk.groupBy()
      .agg(max("n0_tot").as("n0"), max("n1_tot").as("n1"),
        sum("d1").as("o1"), sum("e1_6").as("e1_x1e6"),
        sum("v6").as("v_x1e6"))
      .select(col("n0"), col("n1"), col("o1"), col("e1_x1e6"), col("v_x1e6"),
        expr("CAST(CASE WHEN v_x1e6 = 0 THEN 0 ELSE " +
          "round(1000 * (CAST(o1 AS DOUBLE) * 1000000 - e1_x1e6) * " +
          "(CAST(o1 AS DOUBLE) * 1000000 - e1_x1e6) / " +
          "(1000000 * CAST(v_x1e6 AS DOUBLE))) END AS BIGINT)")
          .as("chi2_x1000"))
  }

  def shapleyAttribution(df: DataFrame, userCol: String, typeCol: String,
                         touches: Seq[String],
                         conversion: String = "purchase"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = touches.size
    require(c >= 1 && c <= 16, "touches must hold 1..16 channels")
    val maskCase = touches.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN ${1L << i}" }
      .mkString(s"CASE `$typeCol` ", " ", " ELSE 0 END")
    // ≤2^c rows; feeds v-table + exposure diag
    val coal = Lineage.cut(df
      .where(col(typeCol).isInCollection(touches :+ conversion))
      .groupBy(col(userCol))
      .agg(expr(s"bit_or($maskCase)").as("m"),
        max(when(col(typeCol) === conversion, 1L).otherwise(0L)).as("cv"))
      .where(col("m") > 0)
      .groupBy("m")
      .agg(count(lit(1)).as("n"), sum("cv").as("cvs")))
    // 2^c rows; subset + superset consumers
    val vt = Lineage.cut(spark.range(1L << c).toDF("s")
      .join(coal.withColumnRenamed("m", "s"), Seq("s"), "left")
      .select(col("s"),
        coalesce(expr("(1000000 * cvs) div n"), lit(0L)).as("vppm")))
    val chans = touches.zipWithIndex
      .map { case (t, i) => (t, 1L << i) }.toDF("channel", "bit")
    val fact = (1 to 16).scanLeft(1L)(_ * _)
    val weightCase = (0 until c)
      .map(s => s"WHEN $s THEN ${fact(s) * fact(c - 1 - s)}")
      .mkString("CASE bit_count(s) ", " ", " END")
    // channel dim × 2^c v-table: bounded×bounded broadcast by design
    val phi = broadcast(chans).crossJoin(vt)
      .where(expr("(s & bit) = 0"))
      .withColumn("su", expr("s | bit"))
      .join(vt.select(col("s").as("su"), col("vppm").as("vu")), Seq("su"))
      .withColumn("w", expr(weightCase))
      .groupBy("channel")
      .agg(sum(expr("w * (vu - vppm)")).as("phi_x"))
    val expo = broadcast(chans).crossJoin(coal)
      .where(expr("(m & bit) <> 0"))
      .groupBy("channel")
      .agg(sum("n").as("n_users"), sum("cvs").as("n_conv"))
    phi.join(expo, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        coalesce(col("n_conv"), lit(0L)).as("n_conv"),
        col("phi_x"),
        expr(s"CAST(CASE WHEN phi_x >= 0 THEN phi_x div ${fact(c)} " +
          s"ELSE -((-phi_x) div ${fact(c)}) END AS BIGINT)").as("phi_ppm"))
  }
}
