package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val events = Seq(
    // user 1: clean view -> click -> purchase chain
    (1L, "view", "2024-01-01 10:00:00"),
    (1L, "click", "2024-01-01 10:05:00"),
    (1L, "purchase", "2024-01-01 10:10:00"),
    // user 2: clicked BEFORE ever viewing — the pre-view click must
    // not count; a later click after the view completes step 2, but
    // there is no purchase after that click
    (2L, "click", "2024-01-01 09:00:00"),
    (2L, "purchase", "2024-01-01 09:30:00"),
    (2L, "view", "2024-01-01 10:00:00"),
    (2L, "click", "2024-01-01 11:00:00"),
    // user 3: viewed only
    (3L, "view", "2024-01-01 08:00:00"),
    // user 4: never in the funnel (only signups)
    (4L, "signup", "2024-01-01 08:00:00"),
    // user 5: two full chains — earliest completion wins
    (5L, "view", "2024-01-01 01:00:00"),
    (5L, "click", "2024-01-01 02:00:00"),
    (5L, "purchase", "2024-01-01 03:00:00"),
    (5L, "view", "2024-01-02 01:00:00"),
    (5L, "click", "2024-01-02 02:00:00"),
    (5L, "purchase", "2024-01-02 03:00:00"))
    .map { case (u, t, s) => (u, t, ts(s)) }
    .toDF("user_id", "event_type", "ts")

  private val steps = Seq("view", "click", "purchase")

  test("funnelTimes: order matters, earliest completion, partial depths") {
    val out = Funnel.funnelTimes(events, "user_id", "event_type", "ts", steps)
      .orderBy("user_id").collect()
    val byUser = out.map(r => r.getLong(0) ->
      (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    assert(byUser.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(byUser(1L)._4 === 3L)
    assert(byUser(1L)._5 === 600L, "10:00 -> 10:10 is 600 seconds")
    // user 2: the 09:00 click and 09:30 purchase precede the view —
    // only the 11:00 click counts, purchase never completes
    assert(byUser(2L)._2 === ts("2024-01-01 11:00:00"))
    assert(byUser(2L)._3 === null && byUser(2L)._4 === 2L && byUser(2L)._5 === -1L)
    assert(byUser(3L)._4 === 1L)
    assert(byUser(4L) === ((null, null, null, 0L, -1L)))
    // user 5: the FIRST chain's times, not the second's
    assert(byUser(5L)._1 === ts("2024-01-01 01:00:00"))
    assert(byUser(5L)._3 === ts("2024-01-01 03:00:00"))
    assert(byUser(5L)._4 === 3L)
  }

  test("funnelTimes is partition-invariant") {
    val a = Funnel.funnelTimes(events, "user_id", "event_type", "ts", steps)
      .orderBy("user_id").collect()
    val b = Funnel.funnelTimes(events.repartition(7), "user_id", "event_type", "ts", steps)
      .orderBy("user_id").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("funnelReport: per-step reach and per-mille conversions") {
    val rep = Funnel.funnelReport(events, "user_id", "event_type", "ts", steps)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 5 users total; 4 viewed (1,2,3,5), 3 clicked after view (1,2,5),
    // 2 purchased after that (1,5)
    assert(rep.toSeq === Seq(
      (1L, "view", 4L, 800L, 1000L),
      (2L, "click", 3L, 750L, 750L),
      (3L, "purchase", 2L, 666L, 500L)))
  }

  test("a single-step funnel degenerates to first-event-per-user") {
    val out = Funnel.funnelTimes(events, "user_id", "event_type", "ts", Seq("view"))
      .orderBy("user_id").collect()
    val u1 = out.find(_.getLong(0) == 1L).get
    assert(u1.getTimestamp(1) === ts("2024-01-01 10:00:00"))
    assert(u1.getLong(2) === 1L)
    assert(u1.getLong(3) === 0L, "single-step conversion time is zero")
  }

  test("retentionCohorts: first-week cohort, offsets, per-mille") {
    // 2024-01-01 is a Monday, so weeks truncate to Jan 1 / 8 / 15 / 22
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), // cohort Jan-1
      (1L, "2024-01-08 10:00:00"), // active at offset 1
      (1L, "2024-01-22 10:00:00"), // active at offset 3
      (2L, "2024-01-03 09:00:00"), // cohort Jan-1 (mid-week first event)
      (2L, "2024-01-04 09:00:00"), // same week — still one active row
      (3L, "2024-01-10 12:00:00")) // cohort Jan-8
      .map { case (u, t) => (u, ts(t)) }.toDF("user_id", "ts")
    val out = Funnel.retentionCohorts(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val w1 = ts("2024-01-01 00:00:00")
    val w2 = ts("2024-01-08 00:00:00")
    assert(out.toSeq === Seq(
      (w1, 0L, 2L, 2L, 1000L), // both cohort members active in week 0
      (w1, 1L, 1L, 2L, 500L),  // only user 1 came back a week later
      (w1, 3L, 1L, 2L, 500L),
      (w2, 0L, 1L, 1L, 1000L)))
  }

  test("assocRules: hand-counted support, confidence, and lift") {
    // baskets (user, day): u1/d1 {view, click}, u1/d2 {view},
    // u2/d1 {view, click, purchase}, u3/d1 {purchase}  → B = 4
    val ev = Seq(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 11:00:00"),
      (1L, "click", "2024-01-01 12:00:00"), // same basket, still distinct
      (1L, "view", "2024-01-02 10:00:00"),
      (2L, "view", "2024-01-01 09:00:00"),
      (2L, "click", "2024-01-01 09:30:00"),
      (2L, "purchase", "2024-01-01 09:45:00"),
      (3L, "purchase", "2024-01-01 20:00:00"))
      .map { case (u, t, s) => (u, t, ts(s)) }
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.assocRules(ev, "user_id", "event_type", "ts")
      .orderBy("x", "y").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    // n_view=3, n_click=2, n_purchase=2, B=4
    // click→view: n_xy=2, support 500, conf 1000, lift (2·4·1000)/(2·3)=1333
    assert(out(("click", "view")) === ((2L, 500L, 1000L, 1333L)))
    // view→click: conf 2/3 = 666, same lift
    assert(out(("view", "click")) === ((2L, 500L, 666L, 1333L)))
    // purchase→click: n_xy=1, conf 500, lift (1·4·1000)/(2·2)=1000
    assert(out(("purchase", "click")) === ((1L, 250L, 500L, 1000L)))
    // view→purchase: n_xy=1, conf 333, lift (1000·4)/(3·2)=666
    assert(out(("view", "purchase")) === ((1L, 250L, 333L, 666L)))
    assert(out.size === 6, "three co-occurring types, both directions")
  }

  test("trendingReport: weekly counts and week-over-week per-mille") {
    val ev = Seq(
      ("view", "2024-01-01 10:00:00"), ("view", "2024-01-02 10:00:00"),
      ("view", "2024-01-08 10:00:00"), ("view", "2024-01-09 10:00:00"),
      ("view", "2024-01-10 10:00:00"),
      ("click", "2024-01-08 12:00:00"))
      .map { case (t, s) => (t, ts(s)) }.toDF("event_type", "ts")
    val out = Funnel.trendingReport(ev, "event_type", "ts")
      .orderBy("event_type", "week").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(out.toSeq === Seq(
      ("click", ts("2024-01-08 00:00:00"), 1L, -1L),
      ("view", ts("2024-01-01 00:00:00"), 2L, -1L),
      ("view", ts("2024-01-08 00:00:00"), 3L, 1500L)))
  }

  test("retentionCohorts is partition-invariant") {
    val ev = spark.range(0, 300)
      .selectExpr("id % 37 AS user_id",
        "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 40000) AS ts")
    val a = Funnel.retentionCohorts(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_offset").collect().toSeq
    val b = Funnel.retentionCohorts(ev.repartition(7), "user_id", "ts")
      .orderBy("cohort_week", "week_offset").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("burstiness: bursty type reads 3x Poisson, metronomic reads 0; empty hours count") {
    import spark.implicits._
    def ev(tpe: String, hh: Int, mm: Int) =
      (tpe, java.sql.Timestamp.valueOf(f"2024-01-01 $hh%02d:$mm%02d:00"))
    // X: 4 events all in hour 0; Y: one event in each of hours 0-3
    // (Y's presence defines the 4-hour span X's empty hours fill)
    val events = (Seq.fill(4)(0).zipWithIndex.map { case (_, i) => ev("X", 0, i) }
      ++ (0 to 3).map(h => ev("Y", h, 30))).toDF("event_type", "ts")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Funnel.burstiness(d, "event_type", "ts")
        .orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run(events)
    // X: counts [4,0,0,0] → VMR = (4·16 − 16)/(4·4) = 3.000
    // Y: counts [1,1,1,1] → variance 0 → VMR = 0
    assert(out.toSeq === Seq(("X", 4L, 4L, 3000L), ("Y", 4L, 4L, 0L)))
    assert(out.toSeq === run(events.repartition(5)).toSeq)
  }

  test("seasonalAnomalies: spike and SILENT-hour cells flag; quiet slots don't") {
    import spark.implicits._
    def ev(tpe: String, day: Int, hh: Int, i: Int) =
      (tpe, java.sql.Timestamp.valueOf(f"2024-01-0$day $hh%02d:${i % 60}%02d:00"))
    // X hour 0: 2 / 2 / 9 across three days → day-3 spike (med 2, mad 0)
    // Y hour 1: 5 / 5 / silent → day-3 silence is the anomaly
    val events = (
      (1 to 2).flatMap(dy => (0 until 2).map(i => ev("X", dy, 0, i))) ++
        (0 until 9).map(i => ev("X", 3, 0, i)) ++
        (1 to 2).flatMap(dy => (0 until 5).map(i => ev("Y", dy, 1, i))) ++
        Seq(ev("Y", 3, 5, 0))   // keeps day 3 in Y's date list
      ).toDF("event_type", "ts")
    val out = graft.ops.Funnel.seasonalAnomalies(events, "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString.take(10),
        r.getInt(2), r.getLong(3), r.getBoolean(6)))
    val anomalies = out.filter(_._5).toSet.map(
      (t: (String, String, Int, Long, Boolean)) => (t._1, t._2, t._3, t._4))
    assert(anomalies.contains(("X", "2024-01-03", 0, 9L)), "spike flags")
    assert(anomalies.contains(("Y", "2024-01-03", 1, 0L)), "silence flags")
    // steady cells and all-zero slots never flag
    assert(!out.exists(r => r._5 && r._1 == "X" && r._2 != "2024-01-03"))
    assert(out.count(_._5) <= 4, s"only genuine cells flag: ${out.filter(_._5).toSeq}")
  }

  test("cusumShifts: window rewrite ≡ the classical Page recurrence; shift alarms") {
    import spark.implicits._
    def ev(tpe: String, hh: Int, i: Int) =
      (tpe, java.sql.Timestamp.valueOf(f"2024-01-01 $hh%02d:${i % 60}%02d:00"))
    // X: 10 quiet hours at 1/h then a sustained 5-hour burst at 10/h;
    // Y: metronomic 2/h — must never alarm
    val xs: Seq[Long] = Seq.fill(10)(1L) ++ Seq.fill(5)(10L)
    val events = (xs.zipWithIndex.flatMap { case (n, h) =>
      (0 until n.toInt).map(i => ev("X", h, i))
    } ++ (0 until 15).flatMap(h => (0 until 2).map(i => ev("Y", h, i))))
      .toDF("event_type", "ts")
    val out = graft.ops.Funnel.cusumShifts(events, "event_type", "ts")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // independent statement: the classical max(0, ·) recurrence
    def classical(series: Seq[Long]): (Long, Long, Long) = {
      val mu = 1000 * series.sum / series.length
      val k = mu / 2
      var shi = 0L; var slo = 0L; var mh = 0L; var ml = 0L; var al = 0L
      series.foreach { x =>
        shi = math.max(0L, shi + 1000 * x - mu - k)
        slo = math.max(0L, slo + mu - 1000 * x - k)
        mh = math.max(mh, shi); ml = math.max(ml, slo)
        if (shi > 4 * mu || slo > 4 * mu) al += 1
      }
      (mh, ml, al)
    }
    val (xh, xl, xa) = classical(xs)
    assert(out(0) === (("X", 15L, 1000 * xs.sum / 15, xh, xl, xa)))
    assert(xa >= 1L, "the burst must alarm")
    val (yh, yl, ya) = classical(Seq.fill(15)(2L))
    assert(out(1) === (("Y", 15L, 2000L, yh, yl, ya)))
    assert((yh, yl, ya) === ((0L, 0L, 0L)), "metronomic never alarms")
  }

  test("mannKendallTrend: rising series S=+all, flat all-ties") {
    import spark.implicits._
    def ev(tpe: String, day: Int, i: Int) =
      (tpe, java.sql.Timestamp.valueOf(f"2024-01-0$day ${10 + i % 10}%02d:00:00"))
    // RISE: 1/2/3 events on days 1..3; FLAT: 2/2/2
    val events = ((1 to 3).flatMap(dy => (0 until dy).map(i => ev("RISE", dy, i)))
      ++ (1 to 3).flatMap(dy => (0 until 2).map(i => ev("FLAT", dy, i))))
      .toDF("event_type", "ts")
    val out = graft.ops.Funnel.mannKendallTrend(events, "event_type", "ts")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(("FLAT", 3L, 0L, 0L, 0L, 3L),
      ("RISE", 3L, 3L, 3L, 0L, 0L)))
  }

  test("leadLag: a spike followed 2 hours later is recovered as best_lag=2") {
    import spark.implicits._
    def ev(tpe: String, hh: Int, i: Int) =
      (tpe, java.sql.Timestamp.valueOf(f"2024-01-01 $hh%02d:${i % 60}%02d:00"))
    // a spikes at hour 2, b spikes at hour 4; baseline 1/h over 8 hours
    val events = ((0 until 8).flatMap { h =>
      val na = if (h == 2) 6 else 1
      val nb = if (h == 4) 6 else 1
      (0 until na).map(i => ev("a", h, i)) ++ (0 until nb).map(i => ev("b", h, i))
    }).toDF("event_type", "ts")
    val out = graft.ops.Funnel.leadLag(events, "event_type", "ts", maxLag = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq === Seq(("a", "b", 2)))
  }

  test("bayesianRates: low-traffic keys shrink toward the global prior") {
    import spark.implicits._
    val ev = (Seq.fill(4)((1L, "view")) ++ Seq((1L, "click")) ++
      Seq((2L, "view"), (2L, "click")) ++ Seq((1L, "purchase")))
      .toDF("user_id", "event_type")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Funnel.bayesianRates(d, "user_id", "event_type",
          successType = "click", trialType = "view")
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
    val out = run(ev)
    // global: 5 views, 2 clicks → p0 = 400‰; α = 20
    // user 1 (4v, 1c): raw 250, smoothed (1000 + 8000)/24 = 375
    // user 2 (1v, 1c): raw 1000, smoothed (1000 + 8000)/21 = 428
    assert(out.toSeq === Seq(
      (1L, 4L, 1L, 250L, 400L, 375L),
      (2L, 1L, 1L, 1000L, 400L, 428L)))
    // the shrinkage inverts the unrankable raw order: user 2's 1/1
    // no longer beats user 1 by 4× — both sit near the prior
    assert(math.abs(out(0)._6 - out(1)._6) < math.abs(out(0)._4 - out(1)._4))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("itemSimilarity: hand-computed squared Ochiai; maxBasket excludes the whale") {
    val ui = Seq(
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L),
      (4L, 40L), (4L, 50L), (4L, 60L))   // basket 3 > maxBasket 2
      .toDF("u", "it")
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.itemSimilarity(d, "u", "it", minCo = 2L, maxBasket = 2L)
        .orderBy("item_a", "item_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
    val out = run(ui)
    // only (10,20) survives minCo: 2 co / (3 * 2) users -> 4e6/6
    assert(out.toSeq === Seq((10L, 20L, 2L, 3L, 2L, 666666L)))
    assert(out.toSeq === run(ui.repartition(4)).toSeq)
  }

  test("rfmSegments: 5 customers map to exact 1..5 quintile scores") {
    val orders = (1 to 5).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-01-0$i"), i * 100.0))
      .toDF("cust", "d", "amt")
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.rfmSegments(d, "cust", "d", "amt")
        .orderBy("recency_q").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    val out = run(orders)
    // freq is constant (all score 1); recency inverts the dates;
    // monetary follows the amounts
    assert(out.toSeq === Seq(
      (1L, 1L, 5L, 1L, 50000L),
      (2L, 1L, 4L, 1L, 40000L),
      (3L, 1L, 3L, 1L, 30000L),
      (4L, 1L, 2L, 1L, 20000L),
      (5L, 1L, 1L, 1L, 10000L)))
    assert(out.toSeq === run(orders.repartition(3)).toSeq)
  }

  test("cohortLtv: running cumulative cents and per-member LTV") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 10.0),
      (1L, "2024-01-08 10:00:00", 5.0),
      (2L, "2024-01-02 10:00:00", 2.0))
      .toDF("u", "tss", "v")
      .select(col("u"), col("tss").cast("timestamp").as("t"), col("v"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.cohortLtv(d, "u", "t", "v")
        .orderBy("week_offset").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      (0L, 1200L, 1200L, 2L, 600L),
      (1L, 500L, 1700L, 2L, 850L)))
    assert(out.toSeq === run(ev.repartition(3)).toSeq)
  }

  test("transitionDwell: exact-interpolation median/p90 over hand gaps") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (1L, "2024-01-01 10:01:00", 2L, "B"),
      (1L, "2024-01-01 10:03:00", 3L, "B"),
      (2L, "2024-01-01 11:00:00", 4L, "A"),
      (2L, "2024-01-01 11:02:00", 5L, "B"))
      .toDF("u", "tss", "id", "et")
      .select(col("u"), col("tss").cast("timestamp").as("t"), col("id"),
        col("et"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.transitionDwell(d, "u", "et", "t", "id")
        .orderBy("from_type", "to_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("A", "B", 2L, 60L, 90.0, 114.0, 120L),
      ("B", "B", 1L, 120L, 120.0, 120.0, 120L)))
    assert(out.toSeq === run(ev.repartition(4)).toSeq)
  }

  test("concurrencyCurve: cross-hour session counted live in both hours") {
    // u1: 10:55 + 11:02 chain (420 s gap, ONE session spanning two
    // hours); u2: a single 10:30 event
    val ev = Seq(
      (1L, "2024-01-01 10:55:00", 1L),
      (1L, "2024-01-01 11:02:00", 2L),
      (2L, "2024-01-01 10:30:00", 3L))
      .toDF("u", "tss", "id")
      .select(col("u"), col("tss").cast("timestamp").as("t"), col("id"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.concurrencyCurve(d, "u", "t", "id").orderBy("hour").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2),
          r.getLong(3)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("2024-01-01 10:00:00.0", 2L, 2L, 1L),
      ("2024-01-01 11:00:00.0", 1L, 0L, 1L)))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("survivalCurve: censoring rule, risk sets, exact Mitchell log-survival") {
    // corpus max day = Jan 10. horizon 3: death iff last event more
    // than 3 days before the end.
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"),                            // T=0 death
      (2L, "2024-01-01 09:00:00"), (2L, "2024-01-03 09:00:00"), // T=2 death
      (3L, "2024-01-01 08:00:00"), (3L, "2024-01-09 08:00:00"), // T=8 cens
      (4L, "2024-01-10 07:00:00"))                            // T=0 cens
      .toDF("u", "tss")
      .select(col("u"), col("tss").cast("timestamp").as("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.survivalCurve(d, "u", "t").orderBy("t_days").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    val out = run(ev)
    // t=0: risk 4, 1 death, 1 censored -> term L(3)-L(4) = 12-16 = -4
    // t=2: risk 2, 1 death            -> term L(1)-L(2) = 0-8  = -8
    // t=8: risk 1, 0 deaths           -> term 0
    assert(out.toSeq === Seq(
      (0L, 4L, 1L, 1L, -4L),
      (2L, 2L, 1L, 0L, -12L),
      (8L, 1L, 0L, 1L, -12L)))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("markovTransitions: hand-counted adjacency ppm; id tiebreak; invariant") {
    // u1: A,B,A,B -> A->B, B->A, A->B ; u2 same-second A,A (id order)
    val ev = Seq(
      (1L, "A", "2024-01-01 10:00:00", 1L),
      (1L, "B", "2024-01-01 10:01:00", 2L),
      (1L, "A", "2024-01-01 10:02:00", 3L),
      (1L, "B", "2024-01-01 10:03:00", 4L),
      (2L, "A", "2024-01-01 10:00:00", 6L),
      (2L, "A", "2024-01-01 10:00:00", 5L))
      .toDF("u", "et", "tss", "id")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"),
        col("id"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.markovTransitions(d, "u", "et", "t", "id")
        .orderBy("from_type", "to_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("A", "A", 1L, 3L, 333333L),
      ("A", "B", 2L, 3L, 666666L),
      ("B", "A", 1L, 1L, 1000000L)))
    assert(out.toSeq === run(ev.repartition(7)).toSeq)
  }

  test("markovStationary: A<->B cycle holds uniform; absorbing state sheds mass") {
    val cyc = Seq(
      (1L, "A", "2024-01-01 10:00:00", 1L),
      (1L, "B", "2024-01-01 10:01:00", 2L),
      (1L, "A", "2024-01-01 10:02:00", 3L),
      (1L, "B", "2024-01-01 10:03:00", 4L),
      (1L, "A", "2024-01-01 10:04:00", 5L))
      .toDF("u", "et", "tss", "id")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"),
        col("id"))
    val out = Funnel.markovStationary(cyc, "u", "et", "t", "id")
      .orderBy("et").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // deterministic alternation is its own stationary distribution
    assert(out.toSeq === Seq(("A", 2L, 500000L, 500000L),
      ("B", 2L, 500000L, 500000L)))
    // one A->B pair: B has no outgoing row, so all mass drains by
    // iteration 2 — the documented shed, exact
    val oneHop = Seq(
      (1L, "A", "2024-01-01 10:00:00", 1L),
      (1L, "B", "2024-01-01 10:01:00", 2L))
      .toDF("u", "et", "tss", "id")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"),
        col("id"))
    val shed = Funnel.markovStationary(oneHop, "u", "et", "t", "id")
      .orderBy("et").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(shed.toSeq === Seq(("A", 1L, 0L), ("B", 0L, 0L)))
  }

  test("sequencePatterns: consecutive trigrams, user reach, support") {
    val ev = Seq(
      (1L, "A", "2024-01-01 10:00:00", 1L),
      (1L, "B", "2024-01-01 10:01:00", 2L),
      (1L, "C", "2024-01-01 10:02:00", 3L),
      (1L, "B", "2024-01-01 10:03:00", 4L),
      (2L, "A", "2024-01-01 11:00:00", 5L),
      (2L, "B", "2024-01-01 11:01:00", 6L),
      (2L, "C", "2024-01-01 11:02:00", 7L))
      .toDF("u", "et", "tss", "id")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"),
        col("id"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.sequencePatterns(d, "u", "et", "t", "id")
        .orderBy("step_1", "step_2", "step_3").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("A", "B", "C", 2L, 2L, 1000L),
      ("B", "C", "B", 1L, 1L, 500L)))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("revenueTrend: zero-filled gap month, MoM/YoY per-mille, zero-base null") {
    // Jan 100.00, Feb missing (zero-filled), Mar 150.00, and a
    // Jan-next-year 200.00 for the YoY row
    val orders = Seq(
      ("2023-01-05", 100.0), ("2023-03-10", 150.0), ("2024-01-20", 200.0))
      .toDF("ds", "amt")
      .select(col("ds").cast("timestamp").as("t"), col("amt"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.revenueTrend(d, "t", "amt")
        .orderBy("month").collect()
        .map(r => (r.getTimestamp(0).toString.take(7), r.getLong(1),
          r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))
    val out = run(orders)
    assert(out.length === 13)
    assert(out(0) === ("2023-01", 1L, 10000L, None, None))
    // Feb: zero revenue, MoM = -1000 permille vs Jan
    assert(out(1) === ("2023-02", 0L, 0L, Some(-1000L), None))
    // Mar vs Feb: zero base -> null MoM
    assert(out(2) === ("2023-03", 1L, 15000L, None, None))
    // Jan'24 vs Jan'23: +100% YoY; MoM vs a zero Dec -> null
    assert(out(12) === ("2024-01", 1L, 20000L, None, Some(1000L)))
    assert(out.toSeq === run(orders.repartition(3)).toSeq)
  }

  test("userProfile: modes break ties deterministically, active days distinct") {
    val ev = Seq(
      // user 1: 2 views, 2 clicks (tie -> 'click' alphabetically),
      // hours 10,10,11,11 (tie -> 10), spread over 2 days
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "view", "2024-01-01 11:00:00"),
      (1L, "click", "2024-01-02 10:30:00"),
      (1L, "click", "2024-01-02 11:30:00"),
      // user 2: clear majority
      (2L, "buy", "2024-01-03 09:00:00"),
      (2L, "buy", "2024-01-03 09:10:00"),
      (2L, "view", "2024-01-03 23:00:00"))
      .toDF("u", "et", "tss")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.userProfile(d, "u", "et", "t")
        .orderBy("u").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).toString,
          r.getTimestamp(3).toString, r.getLong(4), r.getString(5),
          r.getLong(6), r.getLong(7)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      (1L, 4L, "2024-01-01 10:00:00.0", "2024-01-02 11:30:00.0", 2L,
        "click", 2L, 10L),
      (2L, 3L, "2024-01-03 09:00:00.0", "2024-01-03 23:00:00.0", 1L,
        "buy", 2L, 9L)))
    assert(out.toSeq === run(ev.repartition(4)).toSeq)
  }

  test("sessionPaths: gap cut, depth-3 truncation, short paths kept") {
    val ev = Seq(
      (1L, "a", "2024-01-01 10:00:00", 1L),
      (1L, "b", "2024-01-01 10:01:00", 2L),
      (1L, "c", "2024-01-01 10:02:00", 3L),
      (1L, "d", "2024-01-01 10:03:00", 4L), // 4th event truncated away
      (1L, "e", "2024-01-01 11:00:00", 5L), // > 600s gap -> new session
      (2L, "a", "2024-01-01 10:00:00", 6L),
      (2L, "b", "2024-01-01 10:05:00", 7L), // 300s gap -> same session
      (3L, "e", "2024-01-01 09:00:00", 8L))
      .toDF("u", "et", "tss", "id")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"),
        col("id"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.sessionPaths(d, "u", "et", "t", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("e", 2L, 500L), ("a>b", 1L, 250L), ("a>b>c", 1L, 250L)))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("lorenzCurve: hand-computed cumulative shares over $100 buckets") {
    // A and B total $100 each (bucket 1), C totals $300 (bucket 3)
    val orders = Seq(("A", 60.0), ("A", 40.0), ("B", 100.0), ("C", 300.0))
      .toDF("cust", "amt")
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.lorenzCurve(d, "cust", "amt", bucketCents = 10000L)
        .orderBy("bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    val out = run(orders)
    assert(out.toSeq === Seq(
      (1L, 2L, 20000L, 666L, 400L),
      (3L, 1L, 30000L, 1000L, 1000L)))
    assert(out.toSeq === run(orders.repartition(3)).toSeq)
  }

  test("lastTouchAttribution: TTL cut, same-ts touch counts, organic bucket") {
    val ev = Seq(
      (1L, "click", "2024-01-01 10:00:00", 1L, 0.0),
      (1L, "purchase", "2024-01-01 10:30:00", 2L, 10.0), // click, in TTL
      (2L, "view", "2024-01-01 08:00:00", 3L, 0.0),
      (2L, "purchase", "2024-01-01 10:30:00", 4L, 20.0), // stale -> organic
      (3L, "purchase", "2024-01-01 10:00:00", 5L, 5.0),  // no touch -> organic
      (4L, "view", "2024-01-01 10:00:00", 6L, 0.0),
      (4L, "click", "2024-01-01 10:10:00", 7L, 0.0),
      (4L, "purchase", "2024-01-01 10:20:00", 8L, 7.0),  // LAST touch = click
      (5L, "click", "2024-01-01 10:00:00", 9L, 0.0),
      (5L, "purchase", "2024-01-01 10:00:00", 10L, 3.0)) // same-ts touch counts
      .toDF("u", "et", "tss", "id", "v")
      .select(col("u"), col("et"), col("tss").cast("timestamp").as("t"),
        col("id"), col("v"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.lastTouchAttribution(d, "u", "et", "t", "id", "v",
          touches = Seq("click", "view"), conversion = "purchase")
        .orderBy("channel").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("click", 3L, 600L, 20.0),
      ("organic", 2L, 400L, 25.0)))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("autocorrelation: alternating series reads -875/750 permille-ish ppm; flat reads 0") {
    // type p alternates 2,0,2,0.. hourly; type w is metronomic 1/hour
    // (it also pins all 8 hours into the shared grid)
    val rows = Seq.newBuilder[(String, String)]
    for (h <- 0 to 7) {
      rows += (("w", f"2024-01-01 0$h%01d:00:00"))
      if (h % 2 == 0) { rows += (("p", f"2024-01-01 0$h:10:00"))
        rows += (("p", f"2024-01-01 0$h:20:00")) }
    }
    val ev = rows.result().toDF("et", "tss")
      .select(col("et"), col("tss").cast("timestamp").as("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.autocorrelation(d, "et", "t", maxLag = 2)
        .orderBy("et", "lag").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run(ev)
    // p: mu=1000, dev=±1000, c0=8e6; c1=-7e6 -> -875000 ppm;
    // c2=+6e6 -> 750000 ppm. w: dev=0 everywhere -> 0 via the guard.
    assert(out.toSeq === Seq(
      ("p", 1L, 7L, -875000L), ("p", 2L, 6L, 750000L),
      ("w", 1L, 7L, 0L), ("w", 2L, 6L, 0L)))
    assert(out.toSeq === run(ev.repartition(5)).toSeq)
  }

  test("theilSenSlope: rising series reads its slope; one outlier day can't move the median") {
    // type u: 1,3,5,7,9 per day — every pairwise slope is exactly 2/day;
    // type v: 1,2,3,100,5 — the day-4 spike poisons 4 of 10 pairwise
    // slopes but the lower median stays 1/day (that is the point of
    // Theil-Sen); type w: flat 5s — slope 0
    val rows = Seq.newBuilder[(String, String)]
    def add(et: String, day: Int, n: Int): Unit =
      for (i <- 1 to n) rows += ((et, f"2024-01-$day%02d 0${i % 9}:0${i % 6}:0${i % 10}"))
    Seq(1, 3, 5, 7, 9).zipWithIndex.foreach { case (n, d) => add("u", d + 1, n) }
    Seq(1, 2, 3, 100, 5).zipWithIndex.foreach { case (n, d) => add("v", d + 1, n) }
    Seq(5, 5, 5, 5, 5).zipWithIndex.foreach { case (n, d) => add("w", d + 1, n) }
    val ev = rows.result().toDF("et", "tss")
      .select(col("et"), col("tss").cast("timestamp").as("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.theilSenSlope(d, "et", "t")
        .orderBy("et").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run(ev)
    assert(out.toSeq === Seq(
      ("u", 5L, 10L, 2000000L),
      ("v", 5L, 10L, 1000000L),
      ("w", 5L, 10L, 0L)))
    assert(out.toSeq === run(ev.repartition(7)).toSeq)
  }

  test("ewmaBands: hand-stepped integer recurrence, spike flags once") {
    // type a: 8/day for 8 days, an 80-spike on day 9, back to 8 on
    // day 10; type b: 5 events on day 1 only (exercises zero-fill)
    val rows = Seq.newBuilder[(String, String)]
    for (day <- 1 to 10; i <- 1 to (if (day == 9) 80 else 8))
      rows += (("a", f"2024-01-$day%02d 0${i % 9}:0${i % 6}:00"))
    for (i <- 1 to 5) rows += (("b", s"2024-01-01 08:00:0$i"))
    val ev = rows.result().toDF("et", "tss")
      .select(col("et"), col("tss").cast("timestamp").as("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Funnel.ewmaBands(d, "et", "t")
        .orderBy("et", "day").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString.take(10),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    val out = run(ev)
    val a = out.filter(_._1 == "a")
    // hand-stepped: flat 8s hold m=8000, d=0; the day-9 spike (index
    // 8 ≥ warmup 7) deviates 72000 > 3·max(0,1000) → flag, then
    // m=(7·8000+80000)div 8=17000, d=72000 div 8=9000; day 10 deviates
    // 9000 ≤ 27000 → no flag, m=(119000+8000)div 8=15875, d=9000
    assert(a(0) === ("a", "2024-01-01", 8L, 8000L, 0L, false))
    assert(a(7) === ("a", "2024-01-08", 8L, 8000L, 0L, false))
    assert(a(8) === ("a", "2024-01-09", 80L, 17000L, 9000L, true))
    assert(a(9) === ("a", "2024-01-10", 8L, 15875L, 9000L, false))
    assert(out.count(_._6) === 1)
    // type b zero-fills the shared grid: m walks 5000 → 4375 → 3828
    val b = out.filter(_._1 == "b")
    assert(b(0) === ("b", "2024-01-01", 5L, 5000L, 0L, false))
    assert(b(1) === ("b", "2024-01-02", 0L, 4375L, 625L, false))
    assert(b(2)._4 === 3828L)
    assert(out.toSeq === run(ev.repartition(7)).toSeq)
  }

  test("olsTrend recovers an exact line (r2 = 1e6) and a flat series") {
    // type a: day d gets 3 + 2d events (y = 2x + 3, exact fit);
    // type b: constant 5/day -> slope 0, vary = 0 -> r2 = -1
    val ev = (0 until 4).flatMap { day =>
      val d = f"2024-01-${day + 1}%02d 10:00:00"
      Seq.fill(3 + 2 * day)(("a", d)) ++ Seq.fill(5)(("b", d))
    }.toDF("event_type", "t")
      .select(col("event_type"), col("t").cast("timestamp").as("ts"))
    val out = graft.ops.Funnel.olsTrend(ev, "event_type", "ts")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out(0) === ("a", 4L, 2000000L, 3000000L, 1000000L))
    assert(out(1) === ("b", 4L, 0L, 5000000L, -1L))
  }

  test("olsTrend zero-fills missing days into the slope") {
    // type a on days 1 and 3 only; day 2 is zero-filled: y = (4,0,8)
    // over x = (0,1,2): slope = 2, intercept = 2, weak fit
    val ev = (Seq.fill(4)(("a", "2024-01-01 10:00:00")) ++
      Seq.fill(8)(("a", "2024-01-03 10:00:00")) ++
      Seq.fill(1)(("pad", "2024-01-02 10:00:00")))
      .toDF("event_type", "t")
      .select(col("event_type"), col("t").cast("timestamp").as("ts"))
    val a = graft.ops.Funnel.olsTrend(ev, "event_type", "ts")
      .where(col("event_type") === "a").collect().head
    assert(a.getAs[Long]("n_days") === 3L)
    assert(a.getAs[Long]("slope_micro") === 2000000L)
    assert(a.getAs[Long]("intercept_micro") === 2000000L)
    // r2 = round(1e6 * cov^2 / (varx * vary)) from the same sums
    val n = 3.0; val sx = 3.0; val sy = 12.0; val sxy = 0 * 4 + 1 * 0 + 2 * 8
    val sxx = 5.0; val syy = 16 + 0 + 64
    val r2 = math.round(1e6 * math.pow(n * sxy - sx * sy, 2) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy)))
    assert(a.getAs[Long]("r2_x1e6") === r2)
  }

  test("sequenceSurprisal: rare transitions score high, common ones low") {
    def L(n: Long): Long =
      graft.ops.TextStats.mitchellLong(n * (1L << 20), graft.ops.TextStats.E8Bits) - 160L
    // u1: a->b, b->a, a->b ; u2: a->a
    // counts: (a,b)=2 (b,a)=1 (a,a)=1 ; totals: a=3, b=1
    val ev = Seq(
      (1L, "a", 1L), (1L, "b", 2L), (1L, "a", 3L), (1L, "b", 4L),
      (2L, "a", 5L), (2L, "a", 6L))
      .map { case (u, t, i) =>
        (u, t, java.sql.Timestamp.valueOf(f"2024-01-01 10:0$i%d:00"), i)
      }.toDF("user_id", "event_type", "ts", "event_id")
    val out = graft.ops.Funnel.sequenceSurprisal(ev, "user_id",
        "event_type", "ts", "event_id")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sAB = L(3) - L(2); val sBA = L(1) - L(1); val sAA = L(3) - L(1)
    assert(out.toSeq === Seq(
      (1L, 3L, (2 * sAB + sBA) / 3), (2L, 1L, sAA)))
    // the rare a->a transition is more surprising than the common a->b
    assert(sAA > sAB)
  }

  test("growthAccounting: bridge identity, resurrection, gap-week churn") {
    // wk1 (2024-01-01 is a Monday): u1,u2,u3 all new
    // wk2: u1 retained, u4 new; u2,u3 churn
    // wk3: u3 resurrected; u1,u4 churn
    // wk4 (grid-only): u3 churns
    val ev = Seq(
      (1L, "2024-01-02 10:00:00"), (2L, "2024-01-03 10:00:00"),
      (3L, "2024-01-04 10:00:00"), (1L, "2024-01-09 10:00:00"),
      (4L, "2024-01-10 10:00:00"), (3L, "2024-01-17 10:00:00"))
      .toDF("user_id", "t")
      .select(col("user_id"), col("t").cast("timestamp").as("ts"))
    val out = graft.ops.Funnel.growthAccounting(ev, "user_id", "ts")
      .orderBy("week").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      ("2024-01-01", 3L, 3L, 0L, 0L, 0L),
      ("2024-01-08", 2L, 1L, 1L, 0L, 2L),
      ("2024-01-15", 1L, 0L, 0L, 1L, 2L),
      ("2024-01-22", 0L, 0L, 0L, 0L, 1L)))
    // bridge identity on every row
    out.foreach { case (_, act, nw, ret, res, _) =>
      assert(act === nw + ret + res)
    }
  }

  test("intervalCoverage merges overlapping TTL intervals per user") {
    // ttl 600: user 1 events at 0s, 300s (merge), 2000s (new island);
    // user 2 one event
    val ev = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:05:00"),
      (1L, "2024-01-01 00:33:20"), (2L, "2024-01-01 05:00:00"))
      .toDF("user_id", "t")
      .select(col("user_id"), col("t").cast("timestamp").as("ts"))
    val out = graft.ops.Funnel.intervalCoverage(ev, "user_id", "ts",
        ttlSec = 600L)
      .orderBy("user_id").collect()
    val u1 = out(0)
    assert(u1.getAs[Long]("n_events") === 3L)
    assert(u1.getAs[Long]("n_islands") === 2L)
    // island 1 covers [0, 300+600) = 900s; island 2 covers 600s
    assert(u1.getAs[Long]("covered_sec") === 1500L)
    assert(u1.getAs[Long]("span_sec") === 2600L)
    assert(u1.getAs[Long]("covered_x1000") === 1000L * 1500 / 2600)
    val u2 = out(1)
    assert(u2.getAs[Long]("n_islands") === 1L &&
      u2.getAs[Long]("covered_sec") === 600L &&
      u2.getAs[Long]("covered_x1000") === 1000L)
  }

  test("markovAttribution: hand chain with exact removal effects") {
    // u1: a -> purchase; u2: a (no conv); u3: b -> purchase
    // start->a 2/3, start->b 1/3; a->conv 1/2, a->null 1/2; b->conv 1
    val ev = Seq(
      (1L, "a", "2024-01-01 10:00:00"),
      (1L, "purchase", "2024-01-01 10:01:00"),
      (2L, "a", "2024-01-01 10:00:00"),
      (3L, "b", "2024-01-01 10:00:00"),
      (3L, "purchase", "2024-01-01 10:01:00"))
      .toDF("user_id", "event_type", "t")
      .select(col("user_id"), col("event_type"),
        col("t").cast("timestamp").as("ts"))
    val out = graft.ops.Funnel.markovAttribution(ev, "user_id",
        "event_type", "ts", convType = "purchase", iters = 8)
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getAs[Long]("reach_full_ppm"),
        r.getAs[Long]("reach_removed_ppm"), r.getAs[Long]("effect_ppm"),
        r.getAs[Long]("share_x1000")))
    // full reach: (666666*500000 + 333333*1000000) div 1e6 = 666666
    // remove a: start->b path only = 333333; remove b: a path = 333333
    assert(out.toSeq === Seq(
      ("a", 666666L, 333333L, 333333L, 500L),
      ("b", 666666L, 333333L, 333333L, 500L)))
  }

  test("markovAttribution truncates journeys at the first conversion") {
    // u1 touches a AFTER converting via b — the post-conv a must not
    // appear in the chain at all
    val ev = Seq(
      (1L, "b", "2024-01-01 10:00:00"),
      (1L, "purchase", "2024-01-01 10:01:00"),
      (1L, "a", "2024-01-01 10:02:00"))
      .toDF("user_id", "event_type", "t")
      .select(col("user_id"), col("event_type"),
        col("t").cast("timestamp").as("ts"))
    val out = graft.ops.Funnel.markovAttribution(ev, "user_id",
        "event_type", "ts", convType = "purchase", iters = 8)
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("b"))
    assert(out.head.getAs[Long]("reach_full_ppm") === 1000000L)
    assert(out.head.getAs[Long]("reach_removed_ppm") === 0L)
    assert(out.head.getAs[Long]("share_x1000") === 1000L)
  }

  test("brownForecast: hand-stepped s1/s2 recurrence, trend, forecasts, backtest MAE") {
    def day(d: Int) = ts(f"2024-01-${d + 1}%02d 12:00:00")
    // daily counts for type "a": x = [1, 8, 16] (day 0 has 1 event)
    val rows = (Seq.fill(1)(day(0)) ++ Seq.fill(8)(day(1)) ++
      Seq.fill(16)(day(2)))
      .zipWithIndex.map { case (d, i) => (i.toLong, "a", d) }
      .toDF("id", "t", "tstamp")
    val out = Funnel.brownForecast(rows, "t", "tstamp",
      horizon = 7, warmup = 1).collect()
    assert(out.length === 1)
    val r = out.head
    // x = [1, 8, 16] in milli: s1_0 = s2_0 = 1000
    // t1: s1 = (7000 + 8000)//8 = 1875; s2 = (7000 + 1875)//8 = 1109
    // t2: s1 = (7·1875 + 16000)//8 = 3640
    //     s2 = (7·1109 + 3640)//8 = 1425
    assert(r.getAs[Long]("n_days") === 3L)
    assert(r.getAs[Long]("s1_milli") === 3640L)
    assert(r.getAs[Long]("s2_milli") === 1425L)
    // level = 2·3640 − 1425 = 5855; trend = (3640 − 1425)//7 = 316
    assert(r.getAs[Long]("level_milli") === 5855L)
    assert(r.getAs[Long]("trend_milli") === 316L)
    assert(r.getAs[Long]("f1_milli") === 6171L)
    assert(r.getAs[Long]("f7_milli") === 5855L + 7 * 316L)
    // backtest (warmup 1): t1 fprev = 2000−1000+0 = 1000, err 7000
    // t2 fprev = 2·1875−1109+(766//7=109) = 2750, err |16000−2750|=13250
    assert(r.getAs[Long]("mae_milli") === (7000L + 13250L) / 2)
  }

  test("hitsBipartite: bit-equal Scala power-iteration replay") {
    val S = 1000000000000L
    // hubs 1, 2; auths 10, 11, 12: hub 1 touches everything, auth 10
    // touched by both hubs -> both should dominate their roles
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
    val df = edges.toDF("c", "p")
    val out = Funnel.hitsBipartite(df, "c", "p", iters = 4, k = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // mirror
    var hub = edges.map(_._1).distinct.map(_ -> S / edges.map(_._1).distinct.size).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 4) {
      val araw = edges.groupBy(_._2).map { case (a, es) =>
        a -> es.map(e => hub(e._1)).sum }
      val at = araw.values.sum
      auth = araw.map { case (a, r) =>
        a -> (BigInt(r) * S / at).toLong }
      val hraw = edges.groupBy(_._1).map { case (h, es) =>
        h -> es.map(e => auth(e._2)).sum }
      val ht = hraw.values.sum
      hub = hraw.map { case (h, r) => h -> (BigInt(r) * S / ht).toLong }
    }
    val hdeg = edges.groupBy(_._1).map { case (h, es) => h -> es.size.toLong }
    val adeg = edges.groupBy(_._2).map { case (a, es) => a -> es.size.toLong }
    val want =
      auth.toSeq.map { case (a, s) => ("authority", a, s, adeg(a)) }
        .sortBy { case (_, n, s, _) => (-s, n) } ++
      hub.toSeq.map { case (h, s) => ("hub", h, s, hdeg(h)) }
        .sortBy { case (_, n, s, _) => (-s, n) }
    assert(out.toSeq === want)
    // mutual reinforcement: hub 1 and authority 10 lead their roles
    assert(out.head._2 === 10L && out(3)._2 === 1L)
  }

  test("holtWinters: bit-equal Scala fold replay with weekly season") {
    def day(d: Int) = ts(f"2024-01-${d + 1}%02d 12:00:00")
    // period-7 spike so the seasonal slots move; 17 days crosses the
    // 14-day warmup so the backtest MAE is exercised
    val xs = (0 until 17).map(d => if (d % 7 == 3) 20L else 4L + (d % 3))
    val rows = xs.zipWithIndex.flatMap { case (x, d) =>
      Seq.fill(x.toInt)((d.toLong, "a", day(d)))
    }.toDF("id", "t", "tstamp")
    val out = Funnel.holtWinters(rows, "t", "tstamp").collect().head
    def sdiv8(e: Long) = if (e >= 0) e / 8 else -((-e) / 8)
    var lv = 1000L * xs(0); var tr = 0L; val se = Array.fill(7)(0L)
    var es = 0L; var ne = 0L
    for (t <- 1 until xs.length) {
      val idx = t % 7
      val s = se(idx)
      val f = lv + tr + s
      val lvN = sdiv8((1000 * xs(t) - s) + 7 * (lv + tr))
      val trN = sdiv8((lvN - lv) + 7 * tr)
      se(idx) = sdiv8((1000 * xs(t) - lvN) + 7 * s)
      if (t >= 14) { es += math.abs(1000 * xs(t) - f); ne += 1 }
      lv = lvN; tr = trN
    }
    val n = xs.length
    assert(out.getAs[Long]("n_days") === n.toLong)
    assert(out.getAs[Long]("level_milli") === lv)
    assert(out.getAs[Long]("trend_milli") === tr)
    assert(out.getAs[Long]("f1_milli") === lv + tr + se(n % 7))
    assert(out.getAs[Long]("f7_milli") === lv + 7 * tr + se((n + 6) % 7))
    assert(out.getAs[Long]("season_amp_milli") === se.max - se.min)
    assert(out.getAs[Long]("mae_milli") === (if (ne == 0) 0L else es / ne))
    // the weekly spike must have carved a real seasonal amplitude
    assert(se.max - se.min > 0)
  }

  test("logRankTest: hand-computed hypergeometric E/V terms and chi2") {
    def day(d: Int) = ts(f"2024-01-${d + 1}%02d 12:00:00")
    // g=1: u1 t=0 event, u2 t=2 event; g=0: u3 t=1 event,
    // u4 t=9 censored (defines max day), u5 t=0 event
    val rows = Seq(
      (1L, "signup", day(0)),
      (2L, "signup", day(0)), (2L, "view", day(2)),
      (3L, "view", day(0)), (3L, "click", day(1)),
      (4L, "view", day(0)), (4L, "view", day(9)),
      (5L, "click", day(0)))
      .toDF("u", "t", "tstamp")
    val out = Funnel.logRankTest(rows, "u", "tstamp",
      expr("CASE WHEN t = 'signup' THEN 1 ELSE 0 END")).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n0") === 3L)
    assert(r.getAs[Long]("n1") === 2L)
    assert(r.getAs[Long]("o1") === 2L)
    // t=0: d=2 r0=3 r1=2 n=5 → e=800000, v=(1e6·2·3·2·3)//100=360000
    // t=1: d=1 r0=2 r1=1 n=3 → e=333333, v=(1e6·4)//18=222222
    // t=2: d=1 r0=1 r1=1 n=2 → e=500000, v=(1e6·1)//4=250000
    val e6 = 800000L + 333333L + 500000L
    val v6 = 360000L + 222222L + 250000L
    assert(r.getAs[Long]("e1_x1e6") === e6)
    assert(r.getAs[Long]("v_x1e6") === v6)
    val chi = (2e6 - e6) * (2e6 - e6) / (1e6 * v6)
    assert(r.getAs[Long]("chi2_x1000") === math.round(1000 * chi))
  }

  test("shapleyAttribution matches brute-force Shapley over the coalition game") {
    // users → (exposure set, converted): {a}→1/2, {a,b}→1/1, {b}→0/1
    val rows = Seq(
      (1L, "a", 1L), (1L, "buy", 2L),
      (2L, "a", 1L),
      (3L, "a", 1L), (3L, "b", 2L), (3L, "buy", 3L),
      (4L, "b", 1L))
      .map { case (u, t, k) => (u, t, ts(s"2024-01-01 00:00:0$k")) }
      .toDF("u", "t", "tstamp")
    val out = Funnel.shapleyAttribution(rows, "u", "t",
        touches = Seq("a", "b"), conversion = "buy")
      .orderBy("channel").collect()
    // v ppm: v{a}=500000, v{b}=0, v{a,b}=1000000, else 0; c=2, c!=2
    // φ_a·2 = 1!0!(v{a}−0) + 0!1!(v{ab}−v{b}) = 500000 + 1000000
    // φ_b·2 = 1!0!(v{b}−0) + 0!1!(v{ab}−v{a}) = 0 + 500000
    assert(out.length === 2)
    val a = out.head
    assert(a.getString(0) === "a")
    assert(a.getAs[Long]("n_users") === 3L) // users 1, 2, 3
    assert(a.getAs[Long]("n_conv") === 2L)
    assert(a.getAs[Long]("phi_x") === 1500000L)
    assert(a.getAs[Long]("phi_ppm") === 750000L)
    val b = out(1)
    assert(b.getAs[Long]("n_users") === 2L) // users 3, 4
    assert(b.getAs[Long]("n_conv") === 1L)
    assert(b.getAs[Long]("phi_x") === 500000L)
    assert(b.getAs[Long]("phi_ppm") === 250000L)
    // efficiency: Σφ = v(full coalition) = v{a,b}
    assert(out.map(_.getAs[Long]("phi_ppm")).sum === 1000000L)
  }

  test("durbinWatson: alternating residuals near 4, exact fit hits sentinel") {
    import spark.implicits._
    // type A: 5 events on days 1/3/5 only -> y alternates 5,0 around
    // its fitted trend (strong negative autocorrelation, DW -> 4);
    // type B: 3 events every day -> exact linear (flat) fit, zero
    // residuals -> -1 sentinel
    val rows =
      (for (d <- Seq(1, 3, 5); i <- 1 to 5)
        yield ("A", ts(f"2024-01-0$d%d 0$i%d:00:00"))) ++
      (for (d <- 1 to 6; i <- 1 to 3)
        yield ("B", ts(f"2024-01-0$d%d 0$i%d:00:00")))
    val df = rows.toDF("event_type", "ts")
    val out = Funnel.durbinWatson(df, "event_type", "ts").collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("A").getAs[Long]("n_days") === 6L)
    assert(out("A").getAs[Long]("dw_x1000") > 3000L)
    assert(out("B").getAs[Long]("dw_x1000") === -1L)
  }

  test("seasonalStrength: diurnal type reads hour eta2, weekly type reads dow eta2") {
    import spark.implicits._
    // 2024-01-01 is a Monday; 14-day span
    // diurnal: one event per day, always at 09:00 -> flat daily
    // series (dow eta2 = 0 exactly), all hourly mass at hour 9
    val diurnal = (1 to 14).map(d => ("diurnal", ts(f"2024-01-$d%02d 09:00:00")))
    // weekly: 24 events on each of the two Mondays, one per hour ->
    // Monday-only daily mass (dow eta2 -> 1), flat hourly means
    // across hours (hod eta2 = 0 exactly)
    val weekly = for (d <- Seq(1, 8); h <- 0 to 23)
      yield ("weekly", ts(f"2024-01-$d%02d $h%02d:00:00"))
    val out = Funnel.seasonalStrength((diurnal ++ weekly).toDF("event_type", "ts"),
        "event_type", "ts").collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("diurnal").getAs[Long]("n_days") === 14L)
    assert(out("diurnal").getAs[Long]("n_hours") === 14L * 24)
    assert(out("diurnal").getAs[Long]("dow_eta2_ppm") === 0L)
    assert(out("diurnal").getAs[Long]("hod_eta2_ppm") > 990000L)
    assert(out("weekly").getAs[Long]("dow_eta2_ppm") > 990000L)
    assert(out("weekly").getAs[Long]("hod_eta2_ppm") === 0L)
  }

  test("ljungBox: folds the exact ACF surface through the published formula") {
    import spark.implicits._
    // alternating-burst hourly series -> strong lag structure
    val rows = for (h <- 0 until 72; i <- 0 until (if (h % 2 == 0) 5 else 1))
      yield ("t1", ts(f"2024-01-${1 + h / 24}%02d ${h % 24}%02d:00:00"))
    val df = rows.toDF("event_type", "ts")
    val acf = Funnel.autocorrelation(df, "event_type", "ts", maxLag = 8)
      .collect()
    val n = acf.map(r => r.getAs[Long]("n_overlap") +
      r.getAs[Long]("lag")).max
    val s = acf.map(r => (BigInt(r.getAs[Long]("acf_ppm")) *
      r.getAs[Long]("acf_ppm") / r.getAs[Long]("n_overlap").max(1L))).sum
    val expQ = (BigInt(n) * (n + 2) * s / BigInt(1000000000L)).toLong
    val out = Funnel.ljungBox(df, "event_type", "ts", maxLag = 8)
      .collect()(0)
    assert(out.getAs[Long]("n_hours") === n)
    assert(out.getAs[Long]("m_lags") === 8L)
    assert(out.getAs[Long]("q_x1000") === expQ)
    // the alternating series must read as decisively non-white
    assert(out.getAs[Long]("q_x1000") > 20000L)
  }

  test("runsTest: hand median, tie drop, run count and signed z") {
    import spark.implicits._
    def day(d: Int, v: Long) = (ts(f"2024-01-$d%02d 10:00:00"), v)
    // daily values 1,5,9,5,9,1,9 -> median 5 (ceil-rank), v=5 drops,
    // remaining signs 0,1,1,0,1 -> 4 runs, n1=3, n2=2:
    // z = (4*5 - 12 - 5)*1000 div floor(sqrt((2*3*2*7) div 4)) = 750
    val df = Seq(day(1, 1L), day(2, 5L), day(3, 9L), day(4, 5L),
      day(5, 9L), day(6, 1L), day(7, 9L)).toDF("ts", "v")
    val out = Funnel.runsTest(df, "ts", col("v")).collect()(0)
    assert(out.getAs[Long]("n_days") === 5L)
    assert(out.getAs[Long]("n_above") === 3L)
    assert(out.getAs[Long]("n_below") === 2L)
    assert(out.getAs[Long]("runs") === 4L)
    assert(out.getAs[Long]("z_x1000") === 750L)
    // monotone series -> minimum runs (2) -> negative z
    val mono = Seq(day(1, 1L), day(2, 2L), day(3, 3L), day(4, 4L),
      day(5, 5L), day(6, 6L)).toDF("ts", "v")
    val m = Funnel.runsTest(mono, "ts", col("v")).collect()(0)
    assert(m.getAs[Long]("runs") === 2L)
    assert(m.getAs[Long]("z_x1000") === -1750L)
  }

  test("bestChangepoint: hand gain at a clean level shift") {
    import spark.implicits._
    // type a: 1,1,1,5,5,5 daily events — split after day 3:
    // S_L=3, S_R=15, S=18, n=6, t=3:
    // gain = 9/3 + 225/3 - 324/6 = 3 + 75 - 54 = 24 -> 24000 ×1000
    val rows = (1 to 6).flatMap { d =>
      val n = if (d <= 3) 1 else 5
      (1 to n).map(i => ("a", ts(f"2024-01-$d%02d 0$i:00:00")))
    }
    val out = Funnel.bestChangepoint(rows.toDF("event_type", "ts"),
      "event_type", "ts").collect()(0)
    assert(out.getAs[Long]("n_days") === 6L)
    assert(out.getAs[java.sql.Timestamp]("split_day") ===
      ts("2024-01-03 00:00:00"))
    assert(out.getAs[Long]("left_days") === 3L)
    assert(out.getAs[Long]("mean_left_milli") === 1000L)
    assert(out.getAs[Long]("mean_right_milli") === 5000L)
    assert(out.getAs[Long]("gain_x1000") === 24000L)
  }

  test("bestChangepoint: constant series ties break to earliest day;" +
    " zero-filled grid sees missing days") {
    import spark.implicits._
    // type c is constant (2/day over days 1..4): every gain is 0,
    // earliest boundary wins. Type z has events only on days 1 and 4
    // — the shared day grid zero-fills 2..3, so its best split is
    // after day 1 (left mean 3000, right mean (0+0+3)/3=1000).
    val rows =
      (1 to 4).flatMap(d => Seq.fill(2)(("c", ts(f"2024-01-$d%02d 01:00:00")))) ++
        Seq.fill(3)(("z", ts("2024-01-01 01:00:00"))) ++
        Seq.fill(3)(("z", ts("2024-01-04 01:00:00")))
    val out = Funnel.bestChangepoint(rows.toDF("event_type", "ts"),
        "event_type", "ts")
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val c = out("c")
    assert(c.getAs[Long]("gain_x1000") === 0L)
    assert(c.getAs[java.sql.Timestamp]("split_day") ===
      ts("2024-01-01 00:00:00"))
    assert(c.getAs[Long]("left_days") === 1L)
    val z = out("z")
    assert(z.getAs[Long]("n_days") === 4L)
    assert(z.getAs[java.sql.Timestamp]("split_day") ===
      ts("2024-01-01 00:00:00"))
    assert(z.getAs[Long]("mean_left_milli") === 3000L)
    assert(z.getAs[Long]("mean_right_milli") === 1000L)
    // gain = 9/1 + 9/3 - 36/4 = 9 + 3 - 9 = 3 -> 3000
    assert(z.getAs[Long]("gain_x1000") === 3000L)
  }

  test("changepointFromCounts ≡ bestChangepoint over the same events" +
    " (the additive streaming readback seam)") {
    import spark.implicits._
    val rows = (1 to 9).flatMap { d =>
      val n = 1 + (d * d) % 5
      (1 to n).map(i => (if (d % 2 == 0) "e" else "o",
        ts(f"2024-02-$d%02d 0$i:00:00")))
    }
    val df = rows.toDF("event_type", "ts")
    val direct = Funnel.bestChangepoint(df, "event_type", "ts")
      .orderBy("event_type").collect().toSeq
    val counts = df.select(col("event_type").as("et"),
        date_trunc("day", col("ts")).as("d"))
      .groupBy("et", "d").agg(count(lit(1)).as("x"))
    val replay = Funnel.changepointFromCounts(counts)
      .withColumnRenamed("et", "event_type")
      .orderBy("event_type").collect().toSeq
    assert(direct === replay)
  }
}
