package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("rocAuc matches brute-force pair probability with ties") {
    // scores with ties across both classes
    val rows = Seq(
      ("g", 1L, false), ("g", 2L, false), ("g", 2L, true), ("g", 3L, false),
      ("g", 3L, true), ("g", 3L, true), ("g", 5L, true), ("g", 5L, false),
      ("g", 7L, true))
    val df = rows.toDF("grp", "score", "pos")
    val out = Eval.rocAuc(df, "grp", "score", "pos").collect().head
    // brute force: P(s+ > s-) + 0.5 P(s+ = s-)
    val ps = rows.filter(_._3).map(_._2)
    val ns = rows.filterNot(_._3).map(_._2)
    val pairs = for (p <- ps; n <- ns) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0
    val auc = pairs.sum / (ps.size * ns.size)
    assert(out.getAs[Long]("n_pos") === ps.size)
    assert(out.getAs[Long]("n_neg") === ns.size)
    assert(out.getAs[Long]("auc_x1e6") === math.floor(auc * 1e6).toLong)
  }

  test("mannWhitneyU matches brute-force midrank U and tie-corrected z") {
    val baseVals = Seq(1L, 2L, 2L, 3L, 5L, 5L, 7L)
    val gVals = Seq(2L, 3L, 3L, 4L, 5L, 8L, 8L, 9L)
    val df = (baseVals.map(("b", _)) ++ gVals.map(("g", _)))
      .toDF("src", "v")
    val out = Eval.mannWhitneyU(df, "src", "v", baseline = "b")
      .collect()
    assert(out.length === 1)
    val row = out.head
    // brute force: pooled midranks with ties
    val pooled = (baseVals.map((_, true)) ++ gVals.map((_, false)))
      .sortBy(_._1)
    val ranks: Seq[(Boolean, Double)] =
      pooled.zipWithIndex.groupBy(_._1._1).toSeq.flatMap {
        case (_, grp) =>
          val mid = grp.map(_._2 + 1.0).sum / grp.size
          grp.map { case ((_, isBase), _) => (isBase, mid) }
      }
    val r1 = ranks.filter(_._1).map(_._2).sum
    val n1 = baseVals.size.toDouble
    val n2 = gVals.size.toDouble
    val n = n1 + n2
    val u1 = r1 - n1 * (n1 + 1) / 2
    val tie = pooled.groupBy(_._1).values.map(_.size.toDouble)
      .map(t => t * t * t - t).sum
    val sigma = math.sqrt(n1 * n2 * ((n + 1) * n * (n - 1) - tie) /
      (12 * n * (n - 1)))
    val z = (u1 - n1 * n2 / 2) / sigma
    assert(row.getAs[Long]("n_base") === baseVals.size)
    assert(row.getAs[Long]("n_other") === gVals.size)
    assert(row.getAs[Long]("u_x2") === math.round(2 * u1))
    assert(row.getAs[Long]("cles_x1e6") ===
      math.floor(1e6 * u1 / (n1 * n2)).toLong)
    assert(row.getAs[Long]("z_x1000") === math.round(1000 * z))
  }

  test("mannWhitneyU: all-tied pair reports z = 0; FromCounts readback is identical") {
    val df = (Seq.fill(4)(("b", 5L)) ++ Seq.fill(3)(("g", 5L)) ++
      Seq(("h", 1L), ("h", 9L))).toDF("src", "v")
    val batch = Eval.mannWhitneyU(df, "src", "v", baseline = "b")
      .orderBy("src").collect()
    val tied = batch.find(_.getString(0) == "g").get
    assert(tied.getAs[Long]("z_x1000") === 0L)
    // midranks of 7 pooled tied values: each (7+1)/2 = 4 → R1 = 16,
    // U1 = 16 - 10 = 6 = n1 n2 / 2 exactly
    assert(tied.getAs[Long]("u_x2") === 12L)
    // readback half: same counts → bit-identical report
    val counts = df.groupBy("src", "v").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val re = Eval.mannWhitneyFromCounts(spark, counts, baseline = "b",
        groupCol = "src")
      .orderBy("src").collect()
    assert(re.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("bhFdrScreen: inverse-normal constants, step-up cutoff, discovery flags") {
    // Φ⁻¹ sanity: two-sided q=0.05 with m=1 → zcrit = Φ⁻¹(0.975) ≈ 1.960
    assert(Eval.bhZcritX1000(1, 1, 50000L) === 1960L)
    // monotone: critical values shrink as rank grows
    val crits = (1 to 10).map(Eval.bhZcritX1000(_, 10, 50000L))
    assert(crits === crits.sorted(Ordering[Long].reverse))
    // hand family: group "a" wildly above the rest, b/c/d at the base
    // rate → exactly one BH discovery
    val rows =
      (1 to 50).map(i => ("a", i <= 45)) ++
        (1 to 200).flatMap(_ => Seq(("b", true), ("b", false))) ++
        (1 to 200).flatMap(_ => Seq(("c", true), ("c", false))) ++
        (1 to 200).flatMap(_ => Seq(("d", true), ("d", false)))
    val out = Eval.bhFdrScreen(rows.toDF("g", "ok"), "g", col("ok"),
        m = 4).orderBy("rnk").collect()
    assert(out.length === 4)
    val top = out.head
    assert(top.getAs[String]("g") === "a")
    assert(top.getAs[Long]("rnk") === 1L)
    assert(top.getAs[Boolean]("significant"))
    // the base-rate groups have |z| below every critical value
    assert(out.tail.forall(!_.getAs[Boolean]("significant")))
    // zcrit at rank 1 of 4 = Φ⁻¹(1 − 0.05/4/2)
    assert(top.getAs[Long]("zcrit_x1000") === Eval.bhZcritX1000(1, 4, 50000L))
  }

  test("mcnemar: hand-counted discordant pairs and float-free chi2") {
    // truth all "t"; A right on 6 (ra), B right on 4 (rb):
    // both_right 3, b = 3 (A only), c = 1 (B only), both_wrong 1
    val rows = Seq(
      ("t", "t", "t"), ("t", "t", "t"), ("t", "t", "t"), // both right
      ("t", "t", "x"), ("t", "t", "x"), ("t", "t", "x"), // A only
      ("t", "x", "t"),                                   // B only
      ("t", "x", "x"))                                   // both wrong
      .toDF("truth", "pa", "pb")
    val r = Eval.mcnemar(rows, "truth", "pa", "pb").collect().head
    assert(r.getAs[Long]("n") === 8L)
    assert(r.getAs[Long]("both_right") === 3L)
    assert(r.getAs[Long]("both_wrong") === 1L)
    assert(r.getAs[Long]("b") === 3L)
    assert(r.getAs[Long]("c") === 1L)
    // chi2 = (3-1)^2/(3+1) = 1.0 → 1000
    assert(r.getAs[Long]("chi2_x1000") === 1000L)
  }

  test("conformalIntervals: exact order-statistic qhat and test coverage") {
    // train (sp=2): x=1 → yhat = (10+20) div 2 = 15
    // cal (sp=1): residuals |y-15| = {1, 3, 5, 7} sorted
    // test (sp=0): residuals {2, 6, 9}
    val rows = Seq(
      (1L, 10L, 2L), (1L, 20L, 2L),
      (1L, 16L, 1L), (1L, 12L, 1L), (1L, 20L, 1L), (1L, 8L, 1L),
      (1L, 17L, 0L), (1L, 21L, 0L), (1L, 24L, 0L))
      .toDF("x", "y", "sp")
    // alpha 0.5: k = ceil(5*0.5) = 3 → qhat = 3rd smallest = 5 →
    // test covered {2} → 1/3; alpha 0.25: k = ceil(5*0.75) = 4 →
    // qhat = 7 → covered {2, 6} → 2/3
    val out = Eval.conformalIntervals(rows, "x", "y", "sp",
        alphaPpms = Seq(500000L, 250000L))
      .orderBy("alpha_ppm").collect()
    assert(out.length === 2)
    val a25 = out.head
    assert(a25.getAs[Long]("alpha_ppm") === 250000L)
    assert(a25.getAs[Long]("n_cal") === 4L)
    assert(a25.getAs[Long]("k") === 4L)
    assert(a25.getAs[Long]("qhat") === 7L)
    assert(a25.getAs[Long]("n_test") === 3L)
    assert(a25.getAs[Long]("coverage_ppm") === 666666L)
    val a50 = out(1)
    assert(a50.getAs[Long]("k") === 3L)
    assert(a50.getAs[Long]("qhat") === 5L)
    assert(a50.getAs[Long]("coverage_ppm") === 333333L)
  }

  test("rocAuc reports -1 for single-class groups and 1e6 for perfect ranking") {
    val df = Seq(
      ("one", 1L, true), ("one", 2L, true),
      ("sep", 1L, false), ("sep", 2L, false), ("sep", 3L, true))
      .toDF("grp", "score", "pos")
    val m = Eval.rocAuc(df, "grp", "score", "pos").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("auc_x1e6")).toMap
    assert(m("one") === -1L)
    assert(m("sep") === 1000000L)
  }

  test("abTest counts, rates and z sign") {
    // variant by id parity: users 0,2 (A) convert on "buy" only for 2;
    // users 1,3 (B) both convert on "buy"
    val df = Seq(
      (0L, "buy"), (0L, "view"), (2L, "view"),
      (1L, "buy"), (3L, "buy"), (3L, "view"), (2L, "buy"))
      .toDF("user_id", "event_type")
    val out = Eval.abTest(df, "user_id", "event_type",
        pmod(col("user_id"), lit(2L)).cast("long"))
      .collect().map(r => r.getString(0) -> r).toMap
    val buy = out("buy")
    assert(buy.getAs[Long]("n_a") === 2L && buy.getAs[Long]("n_b") === 2L)
    assert(buy.getAs[Long]("conv_a") === 2L && buy.getAs[Long]("conv_b") === 2L)
    // all convert in both arms -> pooled p = 1 -> z guarded to 0
    assert(buy.getAs[Long]("z_x1000") === 0L)
    val view = out("view")
    assert(view.getAs[Long]("conv_a") === 2L && view.getAs[Long]("conv_b") === 1L)
    assert(view.getAs[Long]("rate_a_ppm") === 1000000L)
    assert(view.getAs[Long]("rate_b_ppm") === 500000L)
    assert(view.getAs[Long]("z_x1000") < 0L) // B converts less
  }

  test("paretoFront2d equals brute-force dominance filter") {
    val pts = (1 to 400).map { i =>
      val price = ((i * 2654435761L) % 1000L) * 97L + 13L
      val size = ((i * 40503L) % 53L) + 1L
      (i.toLong, price, size)
    }
    val df = pts.toDF("id", "price", "sz")
    val got = Eval.paretoFront2d(df, "price", "sz", bandWidth = 1000L)
      .select("id").as[Long].collect().toSet
    val want = pts.filter { case (_, p, s) =>
      !pts.exists { case (_, p2, s2) =>
        p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.map(_._1).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("rocAucFromCounts ≡ batch rocAuc over accumulated micro-batches") {
    // the (g, s) count table is additive: fold three "micro-batches"
    // driver-side exactly as a foreachBatch monitor would, then the
    // readback must be bit-identical to the batch operator on the union
    val batches = Seq(
      Seq(("g", 1L, false), ("g", 3L, true), ("h", 2L, true)),
      Seq(("g", 3L, false), ("g", 2L, true), ("h", 1L, false)),
      Seq(("g", 1L, true), ("h", 2L, false), ("h", 5L, true)))
    val acc = scala.collection.mutable.Map[(String, Long), (Long, Long)]()
    batches.foreach(_.foreach { case (g, s, p) =>
      val (np, na) = acc.getOrElse((g, s), (0L, 0L))
      acc((g, s)) = (np + (if (p) 1L else 0L), na + 1L)
    })
    val streamed = Eval.rocAucFromCounts(spark,
        acc.toSeq.map { case ((g, s), (np, na)) => (g, s, np, na) }, "grp")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val batch = Eval.rocAuc(batches.flatten.toDF("grp", "score", "pos"),
        "grp", "score", "pos")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(streamed === batch && batch.nonEmpty)
  }

  test("kendallTauB: perfect, reversed, independent, tie-adjusted") {
    def run(pts: Seq[(Long, Long)]): Long =
      Eval.kendallTauB(pts.map(p => ("g", p._1, p._2)).toDF("g", "x", "y"),
        "g", "x", "y").collect().head.getAs[Long]("tau_b_x1e6")
    assert(run(Seq((1L, 1L), (2L, 2L), (3L, 3L))) === 1000000L)
    assert(run(Seq((1L, 3L), (2L, 2L), (3L, 1L))) === -1000000L)
    assert(run(Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))) === 0L)
    // ties: C=1, P−Tx = P−Ty = 2 → τ = 2·1/√(4·4)·... = 0.5
    assert(run(Seq((1L, 1L), (1L, 2L), (2L, 2L))) === 500000L)
    // duplicated points route through cell counts, not row pairs:
    // C=8, Tx=Ty=2 → τ = 2·8/√(16·16) = 1 exactly
    assert(run(Seq((1L, 1L), (1L, 1L), (2L, 2L), (2L, 2L),
      (3L, 3L))) === 1000000L)
  }

  test("spearmanRho: monotone ±1, tied midranks = hand Pearson") {
    def run(pts: Seq[(Long, Long)]): Long =
      Eval.spearmanRho(pts.map(p => ("g", p._1, p._2)).toDF("g", "x", "y"),
        "g", "x", "y").collect().head.getAs[Long]("rho_x1e6")
    assert(run(Seq((1L, 10L), (2L, 20L), (3L, 40L))) === 1000000L)
    assert(run(Seq((1L, 40L), (2L, 20L), (3L, 10L))) === -1000000L)
    // ties: midranks x=(1.5,1.5,3), y=(1,2.5,2.5) → Pearson = 0.5
    assert(run(Seq((1L, 1L), (1L, 2L), (2L, 2L))) === 500000L)
    assert(run(Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))) === 0L)
  }

  test("chiSquared: independence 0, perfect association, zero cells") {
    def run(pts: Seq[(Long, Long)]) =
      Eval.chiSquared(pts.map(p => ("g", p._1, p._2)).toDF("g", "x", "y"),
        "g", "x", "y").collect().head
    val ind = run(Seq((1L, 1L), (1L, 1L), (1L, 2L), (1L, 2L),
      (2L, 1L), (2L, 1L), (2L, 2L), (2L, 2L)))
    assert(ind.getAs[Long]("chi2_floor") === 0L)
    assert(ind.getAs[Long]("cramers_v_x1000") === 0L)
    assert(ind.getAs[Long]("dof") === 1L)
    // perfect 2x2 association (zero cells enter via the full grid):
    // χ² = n = 6, V = 1
    val per = run(Seq((1L, 1L), (1L, 1L), (1L, 1L),
      (2L, 2L), (2L, 2L), (2L, 2L)))
    assert(per.getAs[Long]("chi2_floor") === 6L)
    assert(per.getAs[Long]("cramers_v_x1000") === 1000L)
  }

  test("tau/rho FromCounts ≡ batch over accumulated grids") {
    val batches = Seq(
      Seq(("g", 1L, 1L), ("g", 1L, 2L), ("h", 2L, 2L)),
      Seq(("g", 2L, 2L), ("g", 1L, 1L), ("h", 1L, 1L)),
      Seq(("g", 2L, 1L), ("h", 1L, 2L), ("h", 2L, 1L)))
    val acc = scala.collection.mutable
      .Map.empty[(String, Long, Long), Long]
    batches.foreach(_.foreach { k =>
      acc(k) = acc.getOrElse(k, 0L) + 1L
    })
    val grid = acc.toSeq.map { case ((g, x, y), n) => (g, x, y, n) }
    val flat = batches.flatten.toDF("grp", "x", "y")
    assert(Eval.kendallTauBFromCounts(spark, grid)
      .orderBy("grp").collect().map(_.toSeq).toSeq ===
      Eval.kendallTauB(flat, "grp", "x", "y")
        .orderBy("grp").collect().map(_.toSeq).toSeq)
    assert(Eval.spearmanRhoFromCounts(spark, grid)
      .orderBy("grp").collect().map(_.toSeq).toSeq ===
      Eval.spearmanRho(flat, "grp", "x", "y")
        .orderBy("grp").collect().map(_.toSeq).toSeq)
  }

  test("chiSquaredFromCounts ≡ batch chiSquared over accumulated grids") {
    val batches = Seq(
      Seq(("g", 1L, 1L), ("g", 1L, 2L), ("h", 2L, 2L)),
      Seq(("g", 2L, 2L), ("g", 1L, 1L), ("h", 1L, 1L)),
      Seq(("g", 2L, 1L), ("h", 1L, 2L), ("h", 2L, 1L)))
    val acc = scala.collection.mutable
      .Map.empty[(String, Long, Long), Long]
    batches.foreach(_.foreach { k =>
      acc(k) = acc.getOrElse(k, 0L) + 1L
    })
    val streamed = Eval.chiSquaredFromCounts(spark,
        acc.toSeq.map { case ((g, x, y), n) => (g, x, y, n) })
      .orderBy("grp").collect().map(_.toSeq).toSeq
    val batch = Eval.chiSquared(batches.flatten.toDF("grp", "x", "y"),
        "grp", "x", "y")
      .orderBy("grp").collect().map(_.toSeq).toSeq
    assert(streamed === batch && batch.nonEmpty)
  }

  test("didReport: exact per-variant means and the DiD subtraction") {
    // v0: u2 (2,1), u4 (1,2) → pre 1500, post 1500
    // v1: u1 (1,1), u3 (1,2) → pre 1000, post 1500 → DiD = +500
    val ev = Seq(
      (2L, 100L), (2L, 200L), (2L, 600L),
      (4L, 0L), (4L, 700L), (4L, 800L),
      (1L, 300L), (1L, 900L),
      (3L, 400L), (3L, 950L), (3L, 1000L))
      .toDF("user_id", "t")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val r = Eval.didReport(ev, "user_id", "ts",
      pmod(col("user_id"), lit(2L))).collect().head
    assert(r.getAs[Long]("pre_a_x1000") === 1500L)
    assert(r.getAs[Long]("post_a_x1000") === 1500L)
    assert(r.getAs[Long]("pre_b_x1000") === 1000L)
    assert(r.getAs[Long]("post_b_x1000") === 1500L)
    assert(r.getAs[Long]("did_x1000") === 500L)
  }

  test("bootstrapFromMoments ≡ batch bootstrap over accumulated batches") {
    val b = 16
    val batches = Seq((1L to 20L), (21L to 35L), (36L to 50L))
      .map(_.map(i => (i, i * 7L)).toSeq)
    def w(u: Long): Long =
      if (u < 367879) 0 else if (u < 735758) 1 else if (u < 919698) 2
      else if (u < 981011) 3 else if (u < 996340) 4
      else if (u < 999405) 5 else 6
    // fold replica moments exactly as a foreachBatch monitor would
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    var n = 0L; var sv = 0L
    batches.foreach(_.foreach { case (id, v) =>
      n += 1; sv += v
      (0 until b).foreach { r =>
        val u = graft.functions.HashFns.hash61Bytes(
          s"boot:$r:$id".getBytes("UTF-8")) % 1000000L
        val (x, s0) = acc.getOrElse(r.toLong, (0L, 0L))
        acc(r.toLong) = (x + w(u) * v, s0 + w(u))
      }
    })
    val streamed = Eval.bootstrapFromMoments(spark,
      acc.toSeq.map { case (r, (x, s)) => (r, x, s) }, n, sv, b)
      .collect().head.toSeq
    val batch = Eval.bootstrapCiMean(
      batches.flatten.toDF("id", "v"), "id", "v", b = b)
      .collect().head.toSeq
    assert(streamed === batch)
  }

  test("bootstrapCiRatio ≡ a Scala replay of the same draws") {
    val rows = (1L to 40L).map(i => (i, i * 17L, 2L + i % 5))
    val b = 20
    val out = Eval.bootstrapCiRatio(rows.toDF("id", "nu", "de"),
      "id", "nu", "de", b = b).collect().head
    def w(u: Long): Long =
      if (u < 367879) 0 else if (u < 735758) 1 else if (u < 919698) 2
      else if (u < 981011) 3 else if (u < 996340) 4
      else if (u < 999405) 5 else 6
    val means = (0 until b).map { r =>
      val ws = rows.map { case (id, nu, de) =>
        val u = graft.functions.HashFns.hash61Bytes(
          s"boot:$r:$id".getBytes("UTF-8")) % 1000000L
        (w(u) * nu, w(u) * de)
      }
      (1000L * ws.map(_._1).sum / math.max(ws.map(_._2).sum, 1L), r)
    }.sorted
    assert(out.getAs[Long]("mean_x1000") ===
      1000L * rows.map(_._2).sum / rows.map(_._3).sum)
    assert(out.getAs[Long]("lo_x1000") === means(b * 5 / 100)._1)
    assert(out.getAs[Long]("hi_x1000") === means(b - b * 5 / 100 - 1)._1)
  }

  test("paretoFront2d keeps duplicated frontier points") {
    val df = Seq((1L, 10L, 5L), (2L, 10L, 5L), (3L, 20L, 5L), (4L, 5L, 1L))
      .toDF("id", "price", "sz")
    val got = Eval.paretoFront2d(df, "price", "sz", bandWidth = 7L)
      .select("id").as[Long].collect().toSet
    // (10,5) twice on the frontier; (20,5) dominated; (5,1) frontier
    assert(got === Set(1L, 2L, 4L))
  }

  test("partitionAgreement: hand ARI, purity, and degenerate conventions") {
    // a=[x,x,y,y] vs b=[1,1,1,2]: sij=1, sa=2, sb=3, cn=6
    // expected = sa*sb/cn = 1 → num = 0 → ARI = 0;
    // purity_a = (2+1)/4, purity_b = (2+1)/4
    val df = Seq(("x", "1"), ("x", "1"), ("y", "1"), ("y", "2"))
      .toDF("a", "b")
    val r = Eval.partitionAgreement(df, "a", "b").collect().head
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("k_a") === 2L && r.getAs[Long]("k_b") === 2L)
    assert(r.getAs[Long]("purity_a_ppm") === 750000L)
    assert(r.getAs[Long]("purity_b_ppm") === 750000L)
    assert(r.getAs[Long]("ari_x1e6") === 0L)

    // identical partitions (modulo renaming) → ARI 1e6, purity 1e6
    val same = Seq(("x", "1"), ("x", "1"), ("y", "2"))
      .toDF("a", "b")
    val rs = Eval.partitionAgreement(same, "a", "b").collect().head
    assert(rs.getAs[Long]("ari_x1e6") === 1000000L)
    assert(rs.getAs[Long]("purity_a_ppm") === 1000000L)

    // both all-singletons → den = 0 → convention 1e6
    val singles = Seq(("x", "1"), ("y", "2"), ("z", "3"))
      .toDF("a", "b")
    val rg = Eval.partitionAgreement(singles, "a", "b").collect().head
    assert(rg.getAs[Long]("ari_x1e6") === 1000000L)

    // anti-correlated: ARI below zero is representable
    val anti = Seq(("x", "1"), ("x", "2"), ("y", "1"), ("y", "2"))
      .toDF("a", "b")
    val ra = Eval.partitionAgreement(anti, "a", "b").collect().head
    // sij=0, sa=2, sb=2, cn=6: num=0-4/6, den=2-4/6 → -0.5
    assert(ra.getAs[Long]("ari_x1e6") === -500000L)
  }

  test("cmhTest: hand E/V strata terms, chi2, MH odds ratio") {
    import spark.implicits._
    // S1: treated (2 conv, 1 not), control (1 conv, 2 not)
    // S2: perfectly balanced 1/1/1/1
    val rows =
      Seq.fill(2)(("S1", true, true)) ++ Seq(("S1", true, false)) ++
      Seq(("S1", false, true)) ++ Seq.fill(2)(("S1", false, false)) ++
      Seq(("S2", true, true), ("S2", true, false),
        ("S2", false, true), ("S2", false, false))
    val out = Eval.cmhTest(rows.toDF("g", "t", "y"), "g", "t", "y")
      .collect().head
    // E: 1.5e6 + 1e6; V: 450000 + 333333; ad6: 666666 + 250000;
    // bc6: 166666 + 250000
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3)) === ((2L, 3L, 2500000L, 783333L)))
    // chi2 = round(1000 * (0.5e6)^2 / (1e6 * 783333)) = 319
    assert(out.getLong(4) === 319L)
    // OR = 1000 * 916666 / 416666 = 2200
    assert(out.getLong(5) === 2200L)
  }

  test("sprtScreen: mitchell-mirror LLR replay, decisions, counts ≡ rows") {
    import spark.implicits._
    def e256(x: Long) = graft.ops.TextStats.mitchellLong(x, graft.ops.TextStats.E256Bits)
    // pooled p0 = 3000/20000 = 150000 ppm, p1 = 165000
    val counts = Seq(("hot", 10000L, 2000L), ("cold", 10000L, 1000L))
    val out = Eval.sprtFromCounts(spark, counts)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(5), r.getString(6)))
    def llr(n: Long, k: Long): Long = {
      val p0 = 150000L; val p1 = 165000L
      val r1 = (p1 << 20) / p0
      val r0 = ((1000000L - p0) << 20) / (1000000L - p1)
      k * (e256(r1) - 5120) - (n - k) * (e256(r0) - 5120)
    }
    assert(out.toSeq === Seq(
      ("cold", llr(10000, 1000), "accept_h0"),
      ("hot", llr(10000, 2000), "accept_h1")))
    // the screen over exploded unit rows folds to the same table
    val rows = counts.flatMap { case (g, n, k) =>
      Seq.fill(k.toInt)((g, true)) ++ Seq.fill((n - k).toInt)((g, false))
    }
    val screened = Eval.sprtScreen(rows.toDF("g", "s"), "g",
        org.apache.spark.sql.functions.col("s"))
      .orderBy("g").collect().map(_.toSeq)
    val fromCounts = Eval.sprtFromCounts(spark, counts)
      .orderBy("g").collect().map(_.toSeq)
    assert(screened.toSeq === fromCounts.toSeq)
    // a group sitting exactly at p0 keeps sampling
    val mid = Eval.sprtFromCounts(spark,
      Seq(("a", 1000L, 150L), ("b", 1000L, 150L)))
      .collect().map(_.getString(6))
    assert(mid.forall(_ === "continue"))
  }

  test("sampleSizeTwoProportions: formula replay and the textbook figure") {
    import spark.implicits._
    // group A: 20% baseline (the Fleiss running example: +10% rel
    // lift at alpha 5% / power 80% needs ~6.5k per arm); B: rare 1%
    val rows = Seq.fill(20)(("A", true)) ++ Seq.fill(80)(("A", false)) ++
      Seq.fill(1)(("B", true)) ++ Seq.fill(99)(("B", false))
    val out = Eval.sampleSizeTwoProportions(rows.toDF("g", "s"), "g",
        org.apache.spark.sql.functions.col("s"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val zA = math.round(1e6 * Eval.invNorm(1 - 0.05 / 2))
    val zB = math.round(1e6 * Eval.invNorm(0.8))
    def nArm(n: Long, k: Long): (Long, Long, Long) = {
      val p1 = 1000000L * k / n
      val p2 = math.min(p1 + 10 * p1 / 100, 999999L)
      val pb = (p1 + p2) / 2
      val sa = math.floor(math.sqrt((2 * pb * (1000000 - pb)).toDouble)).toLong
      val sb = math.floor(math.sqrt(
        (p1 * (1000000 - p1) + p2 * (1000000 - p2)).toDouble)).toLong
      val num = BigInt(zA) * sa + BigInt(zB) * sb
      val d = math.max(p2 - p1, 1)
      val den = BigInt(d) * d * BigInt("1000000000000")
      (p1, p2, ((num * num + den - 1) / den).toLong)
    }
    val (p1a, p2a, na) = nArm(100, 20)
    val (p1b, p2b, nb) = nArm(100, 1)
    assert(out.toSeq === Seq(
      ("A", 100L, 20L, p1a, p2a, na), ("B", 100L, 1L, p1b, p2b, nb)))
    // the 20%-baseline +10%-relative case lands at the textbook ~6.5k
    assert(na > 6300 && na < 6700, s"na=$na")
    // rarer baselines need far larger samples
    assert(nb > 10 * na)
  }

  test("cmhFromCounts / qiniFromCounts: folded micro-batch counts ≡ batch") {
    import spark.implicits._
    val rows =
      Seq.fill(2)(("S1", true, true)) ++ Seq(("S1", true, false)) ++
      Seq(("S1", false, true)) ++ Seq.fill(2)(("S1", false, false)) ++
      Seq(("S2", true, true), ("S2", true, false),
        ("S2", false, true), ("S2", false, false))
    // fold per-stratum cells across two "micro-batches" by addition
    val (h1, h2) = rows.splitAt(5)
    def cells(b: Seq[(String, Boolean, Boolean)]) =
      b.groupBy(_._1).map { case (g, rs) =>
        g -> (rs.count(r => r._2 && r._3).toLong,
          rs.count(r => r._2 && !r._3).toLong,
          rs.count(r => !r._2 && r._3).toLong,
          rs.count(r => !r._2 && !r._3).toLong)
      }
    val folded = (cells(h1).toSeq ++ cells(h2).toSeq)
      .groupBy(_._1).map { case (g, cs) =>
        (g, cs.map(_._2._1).sum, cs.map(_._2._2).sum,
          cs.map(_._2._3).sum, cs.map(_._2._4).sum)
      }.toSeq
    val streamed = Eval.cmhFromCounts(spark, folded).collect().head
    val batch = Eval.cmhTest(rows.toDF("g", "t", "y"), "g", "t", "y")
      .collect().head
    assert(streamed.toSeq === batch.toSeq)

    val urows =
      Seq.fill(2)((2L, true, true)) ++ Seq.fill(2)((2L, false, false)) ++
      Seq.fill(2)((1L, true, false)) ++ Seq.fill(2)((1L, false, true)) ++
      Seq((0L, true, false), (0L, false, true))
    val (u1, u2) = urows.splitAt(4)
    def arms(b: Seq[(Long, Boolean, Boolean)]) =
      b.groupBy(_._1).map { case (s, rs) =>
        s -> (rs.count(_._2).toLong,
          rs.count(r => r._2 && r._3).toLong,
          rs.count(!_._2).toLong,
          rs.count(r => !r._2 && r._3).toLong)
      }
    val ufolded = (arms(u1).toSeq ++ arms(u2).toSeq)
      .groupBy(_._1).map { case (s, cs) =>
        (s, cs.map(_._2._1).sum, cs.map(_._2._2).sum,
          cs.map(_._2._3).sum, cs.map(_._2._4).sum)
      }.toSeq
    val ustreamed = Eval.qiniFromCounts(spark, ufolded)
      .orderBy(desc("score")).collect().map(_.toSeq)
    val ubatch = Eval.qiniCurve(urows.toDF("s", "t", "y"), "s", "t", "y")
      .orderBy(desc("score")).collect().map(_.toSeq)
    assert(ustreamed.toSeq === ubatch.toSeq)
  }

  test("qiniCurve: cumulative uplift incl. the negative tail") {
    import spark.implicits._
    val rows =
      Seq.fill(2)((2L, true, true)) ++ Seq.fill(2)((2L, false, false)) ++
      Seq.fill(2)((1L, true, false)) ++ Seq.fill(2)((1L, false, true)) ++
      Seq((0L, true, false), (0L, false, true))
    val out = Eval.qiniCurve(rows.toDF("s", "t", "y"), "s", "t", "y")
      .orderBy(desc("score")).collect()
      .map(r => (r.getLong(0), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.toSeq === Seq(
      (2L, 400000L, 2000L, 1000000L), // top band: pure treated lift
      (1L, 800000L, 0L, 0L),          // lift cancels at depth 8/10
      (0L, 1000000L, -1000L, -200000L))) // control-heavy tail
  }

  test("cemAtt: hand strata, drop rule, treated-weighted ATT") {
    import spark.implicits._
    val rows = Seq(
      ("A", true, 100L), ("A", false, 40L),            // diff +60000
      ("B", true, 200L), ("B", true, 100L),            // mean 150
      ("B", false, 100L),                              // diff +50000
      ("C", true, 999L),                               // no control: drop
      ("D", false, 5L))                                // no treated: drop
      .toDF("g", "treated", "y")
    val out = Eval.cemAtt(rows, "treated", "y", Seq("g")).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4), out.getLong(5)) ===
      ((2L, 3L, 2L, 1L, 1L, 160000L / 3L))) // (60000 + 2*50000)/3
  }

  test("cemAtt: negative ATT truncates toward zero in both engines") {
    import spark.implicits._
    val rows = Seq(
      ("A", true, 40L), ("A", false, 100L),   // diff -60000
      ("B", true, 100L), ("B", true, 100L),
      ("B", false, 150L))                     // diff -50000
      .toDF("g", "treated", "y")
    val out = Eval.cemAtt(rows, "treated", "y", Seq("g")).collect().head
    assert(out.getLong(5) === -53333L) // -160000/3 toward zero
  }

  test("cupedAbTest: hand moments, exact theta, adjusted means, rho2") {
    // t0 = (0+1000)/2 = 500 µs; per-user (x, y):
    // u2:(2,1) u4:(1,2) [variant 0], u1:(1,1) u3:(1,1) [variant 1]
    // cov_n = 4·6−25 = −1, var_n = vary_n = 4·7−25 = 3
    val ev = Seq(
      (2L, 100L), (2L, 200L), (2L, 600L),
      (4L, 0L), (4L, 700L), (4L, 800L),
      (1L, 300L), (1L, 900L),
      (3L, 400L), (3L, 1000L))
      .toDF("user_id", "t")
      .withColumn("ts", expr("timestamp_micros(t)"))
    val r = Eval.cupedAbTest(ev, "user_id", "ts",
      pmod(col("user_id"), lit(2L))).collect().head
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("mean_a_x1000") === 1500L)
    assert(r.getAs[Long]("mean_b_x1000") === 1000L)
    assert(r.getAs[Long]("theta_ppm") === -333333L) // sign-symmetric
    assert(r.getAs[Long]("adj_mean_a_x1000") === 1583L) // 1.5+(1/3)·0.25
    assert(r.getAs[Long]("adj_mean_b_x1000") === 917L)  // 1−(1/3)·0.25
    assert(r.getAs[Long]("rho2_ppm") === 111111L)       // 1/9
    // invariant: adjustment shifts both arms but preserves the total
    // weighted mean direction (a stays above b)
    assert(r.getAs[Long]("adj_mean_a_x1000") >
      r.getAs[Long]("adj_mean_b_x1000"))
  }

  test("bootstrapCiMean ≡ a Scala replay of the same hash draws") {
    val rows = (1L to 50L).map(i => (i, i * 10L))
    val df = rows.toDF("id", "v")
    val b = 20
    val out = Eval.bootstrapCiMean(df, "id", "v", b = b).collect().head

    // independent replay: same salt:r:id hash, same CDF thresholds
    def w(u: Long): Long =
      if (u < 367879) 0 else if (u < 735758) 1 else if (u < 919698) 2
      else if (u < 981011) 3 else if (u < 996340) 4
      else if (u < 999405) 5 else 6
    val means = (0 until b).map { r =>
      val ws = rows.map { case (id, v) =>
        val u = graft.functions.HashFns.hash61Bytes(
          s"boot:$r:$id".getBytes("UTF-8")) % 1000000L
        (w(u) * v, w(u))
      }
      val (swx, sw) = (ws.map(_._1).sum, ws.map(_._2).sum)
      (1000L * swx / math.max(sw, 1L), r)
    }.sorted
    val loIdx = b * 5 / 100 + 1
    val hiIdx = b - b * 5 / 100
    assert(out.getAs[Long]("n_rows") === 50L)
    assert(out.getAs[Long]("n_replicas") === b.toLong)
    assert(out.getAs[Long]("mean_x1000") ===
      1000L * rows.map(_._2).sum / 50L)
    assert(out.getAs[Long]("lo_x1000") === means(loIdx - 1)._1)
    assert(out.getAs[Long]("hi_x1000") === means(hiIdx - 1)._1)
    assert(out.getAs[Long]("lo_x1000") <= out.getAs[Long]("hi_x1000"))
  }

  test("calibrationBins: hand-computed bins, top-bin clamp, weighted ECE") {
    val rows = Seq(
      (250000L, 1L), (250000L, 0L), (250000L, 0L), (250000L, 0L),
      (950000L, 1L), (950000L, 1L),
      (1000000L, 1L) // p = 1e6 lands in bin 9 via the least() clamp
    ).toDF("p", "y")
    val out = Eval.calibrationBins(rows, "p", col("y")).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(out.keySet === Set(2L, 9L))
    // bin 2: conf = acc = 250000 -> gap 0
    assert(out(2L).getAs[Long]("n") === 4L)
    assert(out(2L).getAs[Long]("conf_ppm") === 250000L)
    assert(out(2L).getAs[Long]("acc_ppm") === 250000L)
    assert(out(2L).getAs[Long]("gap_ppm") === 0L)
    // bin 9: conf = 2900000/3 = 966666, acc = 1e6 -> gap 33334
    assert(out(9L).getAs[Long]("n") === 3L)
    assert(out(9L).getAs[Long]("conf_ppm") === 966666L)
    assert(out(9L).getAs[Long]("acc_ppm") === 1000000L)
    assert(out(9L).getAs[Long]("gap_ppm") === 33334L)
    // ECE = (4*0 + 3*33334) div 7 = 14286 on every row
    assert(out.values.map(_.getAs[Long]("ece_ppm")).toSet === Set(14286L))
  }

  test("calibrationFromCounts: two folded micro-batches == batch, bit-identical") {
    val batch1 = Seq((250000L, 1L), (250000L, 0L), (950000L, 1L))
    val batch2 = Seq((250000L, 0L), (250000L, 0L), (950000L, 1L),
      (1000000L, 1L))
    val all = (batch1 ++ batch2).toDF("p", "y")
    val expected = Eval.calibrationBins(all, "p", col("y"))
      .orderBy("bin").collect().toSeq
    // a foreachBatch monitor folds additive (bin, n, Σp, Σy) cells
    val folded = (batch1 ++ batch2)
      .groupBy { case (p, _) => math.min(p / 100000L, 9L) }
      .map { case (bin, rows) =>
        (bin, rows.size.toLong, rows.map(_._1).sum, rows.map(_._2).sum) }
      .toSeq
    val streamed = Eval.calibrationFromCounts(spark, folded)
      .orderBy("bin").collect().toSeq
    assert(streamed === expected)
  }

  test("brierDecomposition: hand-computed Murphy terms; identity holds") {
    val rows = Seq(
      (250000L, 1L), (250000L, 0L), (750000L, 1L), (750000L, 1L))
      .toDF("p", "y")
    val r = Eval.brierDecomposition(rows, "p", col("y")).collect()(0)
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("ybar_ppm") === 750000L)
    // sq: bin2 = 750000² + 250000², bin7 = 2·250000²
    assert(r.getAs[Long]("brier_x1e12") === 187500000000L)
    // rel: bins at |conf-acc| = 250000 each, n=2+2
    assert(r.getAs[Long]("rel_x1e12") === 62500000000L)
    // res: bin outcomes 500000/1000000 vs ybar 750000
    assert(r.getAs[Long]("res_x1e12") === 62500000000L)
    assert(r.getAs[Long]("unc_x1e12") === 187500000000L)
    // Murphy identity, exact on this fixture: B = REL - RES + UNC
    assert(r.getAs[Long]("brier_x1e12") ===
      r.getAs[Long]("rel_x1e12") - r.getAs[Long]("res_x1e12") +
        r.getAs[Long]("unc_x1e12"))
  }

  test("cvAuc: per-fold rows with self-consistent CV mean/std") {
    // two separable labels plus confusable docs so folds hold both
    // correct and wrong predictions (AUC defined, not degenerate)
    val docs = (0L until 12L).map { i =>
      val lab = if (i % 2 == 0) "a" else "b"
      val text =
        if (i < 8) (if (lab == "a") "alpha alef apple " * 3
                    else "beta bet banana " * 3)
        else "alpha beta alef bet shared tokens" // confusable tail
      (i, lab, text)
    }.toDF("doc_id", "lang", "text")
    val out = Eval.cvAuc(docs, "lang", "doc_id", "text", folds = 2)
      .orderBy("fold").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("fold")).toSeq === Seq(0L, 1L))
    out.foreach { r =>
      val a = r.getAs[Long]("auc_x1e6")
      assert(a === -1L || (a >= 0L && a <= 1000000L))
    }
    // the CV columns are one broadcast row: constant, and equal to
    // the integer mean/std of the defined per-fold AUCs
    val defined = out.map(_.getAs[Long]("auc_x1e6")).filter(_ >= 0)
    if (defined.nonEmpty) {
      val mean = defined.sum / defined.length
      assert(out.map(_.getAs[Long]("cv_mean_x1e6")).distinct.toSeq ===
        Seq(mean))
      val nf = defined.length.toLong
      val varExp = (nf * defined.map(x => x * x).sum -
        defined.sum * defined.sum) / (nf * nf)
      assert(out.head.getAs[Long]("cv_std_x1e6") ===
        math.floor(math.sqrt(varExp.toDouble)).toLong)
    }
  }

  /** (fold, n_pos, n_neg, auc_x1e6) of the fused cvAuc and of the naive
    * loop that trains and scores one NaiveBayes model per fold.
    */
  private def cvAucFusedAndNaive(docs: DataFrame, folds: Int)
      : (Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]) = {
    def rows(df: DataFrame) = df.orderBy("fold")
      .collect().map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("n_neg"), r.getAs[Long]("auc_x1e6"))).toSeq
    val naive = (0 until folds).map { f =>
      val scored = NaiveBayes.trainScore(
        docs.where(pmod(col("doc_id"), lit(folds)) =!= f),
        docs.where(pmod(col("doc_id"), lit(folds)) === f),
        "lang", "doc_id", "text", Seq("lang"))
      Eval.rocAuc(
        scored.select(lit(f.toLong).as("fold"),
          expr("least(margin_e8 div 2, CAST(10 AS BIGINT))").as("conf_bin"),
          (col("lang") === col("pred")).as("ok")),
        "fold", "conf_bin", "ok")
    }.reduce(_ unionByName _)
    (rows(Eval.cvAuc(docs, "lang", "doc_id", "text", folds)), rows(naive))
  }

  test("cvAuc: fused leave-one-fold-out pass ≡ naive per-fold train/score") {
    // r15 optimization pin: cvAuc derives each fold's complement model
    // from one global aggregation (global − own fold) instead of
    // training k separate models — this differential spec holds the
    // fused form to the naive NaiveBayes.trainScore loop bit-for-bit
    val docs = (0L until 30L).map { i =>
      val lab = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      val text =
        if (i < 21) (if (lab == "a") "alpha alef apple aleph " * 2
                     else if (lab == "b") "beta bet banana " * 2
                     else "gamma gimel grape " * 2)
        else "alpha beta gamma shared alef bet tokens"
      (i, lab, text)
    }.toDF("doc_id", "lang", "text")
    val (fused, naive) = cvAucFusedAndNaive(docs, 3)
    assert(fused === naive)
  }

  test("cvAuc: a null-label doc trains no class and scores as a miss") {
    val docs = Seq((0L, "a", "alpha alef"), (1L, "b", "beta bet"),
      (2L, "a", "alpha apple"), (3L, "b", "beta banana"),
      (4L, null, "beta beta beta"), (5L, "a", "alef aleph"),
      (6L, "b", "bet banana"), (7L, "a", "alpha")).toDF("doc_id", "lang", "text")
    val (fused, naive) = cvAucFusedAndNaive(docs, 2)
    assert(fused === naive)
    // every doc is scored once; the null-label doc 4 (fold 0) is a miss
    assert(fused.map(r => r._2 + r._3).sum === 8L)
    assert(fused.head._3 >= 1L)
  }

  test("cvAuc: a fold whose complement has no tokens scores on priors") {
    // folds = 2 and every fold-1 doc is empty: fold 0's complement model
    // has classes but an empty vocabulary (V = 0), and a per-fold
    // trainScore still scores fold 0's docs on the class priors
    val docs = (0L until 12L).map { i =>
      val lab = if (i % 3 == 0) "a" else "b"
      val text = if (i % 2 == 1) "" else if (lab == "a") "alpha alef" else "beta bet"
      (i, lab, text)
    }.toDF("doc_id", "lang", "text")
    val (fused, naive) = cvAucFusedAndNaive(docs, 2)
    assert(fused === naive)
    assert(fused.map(_._1) === Seq(0L, 1L))
  }

  test("q320 at sf0.001: at most 41 jobs") {
    val q = graft.Queries.all("q320_cv_auc")
    graft.Tables.documents(spark, sf) // the schema memo is warm in the catalog
    val jobs = jobsIn { q(spark, sf).collect(); () }
    assert(jobs <= 41, s"q320 ran $jobs jobs")
  }

  test("chiResiduals: hand 2x2 standardized residuals share magnitude sqrt(chi2)") {
    val df = (Seq.fill(30)(("r1", "a")) ++ Seq.fill(10)(("r1", "b")) ++
      Seq.fill(10)(("r2", "a")) ++ Seq.fill(10)(("r2", "b")))
      .toDF("lang", "source")
    val out = Eval.chiResiduals(df, "lang", "source").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) -> r)
      .toMap
    assert(out.size === 4)
    // e(r1,a) = 40*40/60 -> 26666666 x1e6; v = e*(20/60)*(20/60) ->
    // 2962962; (30e6-e)/floor(sqrt(v)) = 3333334 div 1721
    assert(out(("r1", "a")).getAs[Long]("e_x1e6") === 26666666L)
    assert(out(("r1", "a")).getAs[Long]("resid_x1000") === 1936L)
    // in a 2x2 every standardized residual has magnitude sqrt(chi2)
    // = 1.9365 (chi2 = 3.75) — the defining property of the adjusted
    // form; the plain (o-e)/sqrt(e) would read 645/-912/-912/1291
    assert(out(("r1", "b")).getAs[Long]("resid_x1000") === -1936L)
    assert(out(("r2", "a")).getAs[Long]("resid_x1000") === -1936L)
    assert(out(("r2", "b")).getAs[Long]("resid_x1000") === 1936L)
  }

  test("jonckheereTrend: perfect rise 1e6, perfect fall 0, pure tie 500000") {
    def jt(rows: Seq[(Long, Long)]): org.apache.spark.sql.Row =
      Eval.jonckheereTrend(rows.toDF("g", "v"), col("g"), col("v"))
        .collect()(0)
    val up = jt(Seq((1L, 1L), (1L, 1L), (2L, 2L), (2L, 2L)))
    assert(up.getAs[Long]("j_x2") === 8L)
    assert(up.getAs[Long]("pairs_x2") === 8L)
    assert(up.getAs[Long]("jt_ppm") === 1000000L)
    assert(jt(Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 1L)))
      .getAs[Long]("jt_ppm") === 0L)
    assert(jt(Seq((1L, 7L), (2L, 7L))).getAs[Long]("jt_ppm") === 500000L)
  }

  test("kruskalWallis/jonckheere fromCounts: folded micro-batch cells == batch") {
    val rows = Seq(("1", 1L), ("1", 2L), ("1", 2L), ("2", 2L),
      ("2", 3L), ("3", 3L), ("3", 4L), ("3", 4L))
    val df = rows.toDF("g", "v")
    val kwExp = Eval.kruskalWallis(df, "g", col("v")).collect().toSeq
    val jtExp = Eval.jonckheereTrend(df, col("g"), col("v"))
      .collect().toSeq
    // two "micro-batches" fold additive per-cell counts
    val (b1, b2) = rows.splitAt(3)
    val folded = (b1.groupBy(identity).map { case (k, xs) =>
      (k._1, k._2, xs.size.toLong) } ++
      b2.groupBy(identity).map { case (k, xs) =>
        (k._1, k._2, xs.size.toLong) }).toSeq
    assert(Eval.kruskalWallisFromCounts(spark, folded)
      .collect().toSeq === kwExp)
    assert(Eval.jonckheereFromCounts(spark,
      folded.map { case (g, v, n) => (g.toLong, v, n) })
      .collect().toSeq === jtExp)
  }

  test("cochranQ: textbook Q=6; degenerate all-right sentinel; k=2 McNemar zero") {
    val df = Seq(
      (true, true, false), (true, false, false),
      (true, true, false), (true, false, false))
      .toDF("x1", "x2", "x3")
    val r = Eval.cochranQ(df, Seq("x1", "x2", "x3")).collect()(0)
    // C = (4,2,0), T = 6, Ri = (2,1,2,1): Q = 2*(3*20-36)/(18-10) = 6
    assert(r.getAs[Long]("n_units") === 4L)
    assert(r.getAs[Long]("n_correct") === 6L)
    assert(r.getAs[Long]("q_x1000") === 6000L)
    // every unit all-right: denominator k*T - sr2 vanishes
    val deg = Seq((true, true), (true, true)).toDF("a", "b")
    assert(Eval.cochranQ(deg, Seq("a", "b")).collect()(0)
      .getAs[Long]("q_x1000") === -1L)
    // k = 2 with b = c = 1 discordant: McNemar chi2 = 0, Q agrees
    val two = Seq((true, false), (false, true)).toDF("a", "b")
    assert(Eval.cochranQ(two, Seq("a", "b")).collect()(0)
      .getAs[Long]("q_x1000") === 0L)
  }

  test("kruskalWallis: hand-computed floored H; all-tied sentinel") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val r = Eval.kruskalWallis(df, "g", col("v")).collect()(0)
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("n_groups") === 2L)
    // mr2 = 2,4,6,8 -> rg2 a=6, b=14; ssum = 36 div 8 + 196 div 8 = 28
    // (per-group flooring costs ~1/29 here; ppm-level at corpus sums)
    // H = 12*28/(4*5) - 3*5 = 1.8, tie = 0
    assert(r.getAs[Long]("h_x1000") === 1800L)
    assert(r.getAs[Long]("eps2_ppm") === 400000L) // (1.8-1)/2 * 1e6
    // every value tied: the correction denominator vanishes -> sentinel
    val tied = Seq(("a", 5L), ("a", 5L), ("b", 5L)).toDF("g", "v")
    val tr = Eval.kruskalWallis(tied, "g", col("v")).collect()(0)
    assert(tr.getAs[Long]("h_x1000") === -1L)
    assert(tr.getAs[Long]("eps2_ppm") === -1L)
  }

  test("brownForsythe: hand-computed deviations ANOVA; equal-spread zero") {
    val df = Seq(("a", 0L), ("a", 10L),
      ("b", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val r = Eval.brownForsythe(df, "g", col("v")).collect()(0)
    // medians: a -> 0 (ceil-rank 1), b -> 5; deviations a {0,10}, b {0,0,0}
    // ssb_raw = 100 div 2 = 50; s=10, s^2 div 5 = 20 -> ssb=30; ssw=50
    // F = (1000*30) div (50 div 3) = 30000 div 16 = 1875
    assert(r.getAs[Long]("n_rows") === 5L)
    assert(r.getAs[Long]("n_groups") === 2L)
    assert(r.getAs[Long]("f_x1000") === 1875L)
    assert(r.getAs[Long]("eta2_ppm") === 375000L) // 1e6*30/80
    // identical spreads: between-group deviation means coincide
    val eq = Seq(("a", 0L), ("a", 10L), ("b", 0L), ("b", 10L)).toDF("g", "v")
    assert(Eval.brownForsythe(eq, "g", col("v")).collect()(0)
      .getAs[Long]("f_x1000") === 0L)
  }

  test("anovaOneWay: textbook F=24 on separated groups; null case flat") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 5L), ("b", 6L), ("b", 7L)).toDF("g", "v")
    val r = Eval.anovaOneWay(df, "g", col("v")).collect()(0)
    assert(r.getAs[Long]("n_rows") === 6L)
    assert(r.getAs[Long]("n_groups") === 2L)
    // SSB=24, SSW=4, df=(1,4): F = 24/(4/4) = 24.000
    assert(r.getAs[Long]("f_x1000") === 24000L)
    // eta2 = 24/28
    assert(r.getAs[Long]("eta2_ppm") === 857142L)
    // identical groups: SSB clamps at 0, F = 0, eta2 = 0
    val flat = Seq(("a", 5L), ("a", 7L), ("b", 5L), ("b", 7L)).toDF("g", "v")
    val fr = Eval.anovaOneWay(flat, "g", col("v")).collect()(0)
    assert(fr.getAs[Long]("f_x1000") === 0L)
    assert(fr.getAs[Long]("eta2_ppm") === 0L)
  }

  test("friedmanTest: perfect agreement hits the textbook Q and W=1") {
    // two complete blocks, both ranking t1<t2<t3; block 3 is
    // incomplete (missing t3) and must drop; (b1,t1) arrives as two
    // rows summing to its value
    val df = Seq(
      ("b1", 1L, 4L), ("b1", 1L, 6L), ("b1", 2L, 20L), ("b1", 3L, 30L),
      ("b2", 1L, 5L), ("b2", 2L, 25L), ("b2", 3L, 35L),
      ("b3", 1L, 1L), ("b3", 2L, 2L)).toDF("b", "t", "v")
    val out = Eval.friedmanTest(df, "b", "t", col("v")).collect()(0)
    assert(out.getAs[Long]("n_blocks") === 2L)
    assert(out.getAs[Long]("k") === 3L)
    // Q = 12*(2^2+4^2+6^2)/(2*3*4) - 3*2*4 = 28 - 24 = 4
    assert(out.getAs[Long]("q_x1000") === 4000L)
    assert(out.getAs[Long]("w_ppm") === 1000000L)
  }

  test("friedmanTest: all-tied blocks report the -1 sentinel") {
    val df = Seq(("b1", 1L, 7L), ("b1", 2L, 7L),
      ("b2", 1L, 9L), ("b2", 2L, 9L)).toDF("b", "t", "v")
    val out = Eval.friedmanTest(df, "b", "t", col("v")).collect()(0)
    assert(out.getAs[Long]("q_x1000") === -1L)
  }

  test("pageTrend: perfect rise 1e6, perfect fall 0, all-tied 500000") {
    def pt(rows: Seq[(String, Long, Long)]): org.apache.spark.sql.Row =
      Eval.pageTrend(rows.toDF("b", "t", "v"), "b", "t", col("v"))
        .collect()(0)
    val up = pt(Seq(("b1", 1L, 10L), ("b1", 2L, 20L), ("b1", 3L, 30L),
      ("b2", 1L, 1L), ("b2", 2L, 2L), ("b2", 3L, 3L)))
    assert(up.getAs[Long]("n_blocks") === 2L)
    // L2 = 1*4 + 2*8 + 3*12 = 56 = ceiling 2n*sum(j^2) = 56
    assert(up.getAs[Long]("l_x2") === 56L)
    assert(up.getAs[Long]("page_ppm") === 1000000L)
    assert(pt(Seq(("b1", 1L, 30L), ("b1", 2L, 20L), ("b1", 3L, 10L)))
      .getAs[Long]("page_ppm") === 0L)
    assert(pt(Seq(("b1", 1L, 5L), ("b1", 2L, 5L), ("b1", 3L, 5L)))
      .getAs[Long]("page_ppm") === 500000L)
  }

  test("wilcoxonSignedRank: hand ranks, zero-diff drop, tie cancel") {
    // pairs with d = +1, +2, +3 (one zero pair drops): mr2 = 2,4,6,
    // S2 = 12, Var(S2) = 4+16+36 = 56, z = 12000 div floor(sqrt(56))
    val df = Seq((11L, 10L), (12L, 10L), (13L, 10L), (9L, 9L))
      .toDF("x", "y")
    val out = Eval.wilcoxonSignedRank(df, col("x"), col("y")).collect()(0)
    assert(out.getAs[Long]("n_pairs") === 3L)
    assert(out.getAs[Long]("w2_plus") === 12L)
    assert(out.getAs[Long]("w2_minus") === 0L)
    assert(out.getAs[Long]("z_x1000") === 12000L / 7L)
    // +1 and -1 share one midrank and cancel exactly
    val bal = Eval.wilcoxonSignedRank(
      Seq((11L, 10L), (10L, 11L)).toDF("x", "y"), col("x"), col("y"))
      .collect()(0)
    assert(bal.getAs[Long]("w2_plus") === bal.getAs[Long]("w2_minus"))
    assert(bal.getAs[Long]("z_x1000") === 0L)
  }

  test("cliffsDelta: brute-force pair counts with ties across groups") {
    val rows = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L),
      ("C", 0L), ("C", 4L))
    val df = rows.toDF("g", "v")
    val out = Eval.cliffsDelta(df, "g", col("v")).collect()
      .map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) -> r)
      .toMap
    assert(out.size === 3) // (A,B) (A,C) (B,C)
    def brute(a: Seq[Long], b: Seq[Long]): (Long, Long, Long) = {
      val gt = (for (x <- a; y <- b) yield if (x > y) 1L else 0L).sum
      val lt = (for (x <- a; y <- b) yield if (x < y) 1L else 0L).sum
      val num = 1000000L * (gt - lt)
      val den = a.size.toLong * b.size
      (gt, lt, if (num >= 0) num / den else -((-num) / den))
    }
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (((ga, gb), r) <- out) {
      val (gt, lt, d) = brute(byG(ga), byG(gb))
      assert(r.getAs[Long]("gt_pairs") === gt, s"$ga/$gb gt")
      assert(r.getAs[Long]("lt_pairs") === lt, s"$ga/$gb lt")
      assert(r.getAs[Long]("delta_ppm") === d, s"$ga/$gb delta")
    }
  }

  test("cohensD: hand moments, pooled variance, signed d") {
    val df = (Seq.fill(1)(("src0", 2000L)) ++ Seq(("src0", 4000L),
      ("s1", 5000L), ("s1", 7000L), ("s2", 1000L), ("s2", 1000L)))
      .toDF("source", "n_chars")
    val out = Eval.cohensD(df, "source", col("n_chars"), "src0")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // s1 vs base: means 3000/6000, pooled v = 2e6, den = 1414,
    // d = 12e6 div (4*1414) = 2121 (true d = 3/sqrt(2e6) = 2.1213)
    assert(out("s1").getAs[Long]("mean_base_x1000") === 3000000L)
    assert(out("s1").getAs[Long]("mean_other_x1000") === 6000000L)
    assert(out("s1").getAs[Long]("d_x1000") === 2121L)
    // s2: zero variance on one side still pools (v = 1e6, den 1000);
    // means 3000 vs 1000 -> d exactly -2
    assert(out("s2").getAs[Long]("d_x1000") === -2000L)
  }

  test("wilcoxon/cliffs fromCounts: folded micro-batch cells == batch") {
    val pairs = Seq((11L, 10L), (12L, 10L), (13L, 10L), (9L, 9L),
      (8L, 10L), (14L, 10L))
    val df = pairs.toDF("x", "y")
    val exp = Eval.wilcoxonSignedRank(df, col("x"), col("y"))
      .collect().toSeq
    // two "micro-batches" each contribute their OWN per-d counts;
    // fromCounts folds the overlapping cells additively
    val (p1, p2) = pairs.splitAt(2)
    val folded = Seq(p1, p2).flatMap(_.map { case (x, y) => x - y }
      .groupBy(identity).map { case (d, xs) => (d, xs.size.toLong) })
    assert(Eval.wilcoxonFromCounts(spark, folded).collect().toSeq === exp)

    val rows = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L),
      ("C", 0L), ("C", 4L))
    val cExp = Eval.cliffsDelta(rows.toDF("g", "v"), "g", col("v"))
      .orderBy("g_a", "g_b").collect().toSeq
    val (r1, r2) = rows.splitAt(3)
    val cFolded = (r1.groupBy(identity).map { case (k, xs) =>
      (k._1, k._2, xs.size.toLong) } ++
      r2.groupBy(identity).map { case (k, xs) =>
        (k._1, k._2, xs.size.toLong) }).toSeq
    assert(Eval.cliffsFromCounts(spark, cFolded)
      .orderBy("g_a", "g_b").collect().toSeq === cExp)
  }

  test("cohensD fromMoments: folded micro-batch moments == batch") {
    val rows = Seq(("src0", 2000L), ("src0", 4000L), ("s1", 5000L),
      ("s1", 7000L), ("s2", 1000L), ("s2", 1000L), ("s1", 6000L))
    val exp = Eval.cohensD(rows.toDF("source", "n_chars"),
      "source", col("n_chars"), "src0").orderBy("source")
      .collect().toSeq
    val (b1, b2) = rows.splitAt(3)
    // per-batch (g, n, sum, sumsq) — the same group key appears in
    // both batches so the fold must be additive
    val folded = Seq(b1, b2).flatMap(_.groupBy(_._1).map {
      case (g, xs) => (g, xs.size.toLong, xs.map(_._2).sum,
        xs.map(v => v._2 * v._2).sum) })
    assert(Eval.cohensDFromMoments(spark, folded, "source", "src0")
      .orderBy("source").collect().toSeq === exp)
  }

  test("adjustedRand: hand cases + brute-force pair counting") {
    // independent 2x2: every cell 1 -> RI = 2/6, ARI = -1/2 exactly
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val r1 = Eval.adjustedRand(ind, "a", "b").collect().head
    assert(r1.getAs[Long]("n_items") === 4L)
    assert(r1.getAs[Long]("clusters_a") === 2L)
    assert(r1.getAs[Long]("clusters_b") === 2L)
    assert(r1.getAs[Long]("ri_ppm") === 333333L)
    assert(r1.getAs[Long]("ari_ppm") === -500000L)
    // identical partitions under renamed labels -> both exactly 1e6
    val perf = Seq(("1", "u"), ("1", "u"), ("2", "w"), ("2", "w"),
      ("2", "w")).toDF("a", "b")
    val r2 = Eval.adjustedRand(perf, "a", "b").collect().head
    assert(r2.getAs[Long]("ri_ppm") === 1000000L)
    assert(r2.getAs[Long]("ari_ppm") === 1000000L)
    // brute force on an asymmetric labeling: count agreeing pairs
    // directly, then the same cleared-fraction rational
    val rows = Seq("x" -> "p", "x" -> "p", "x" -> "q", "y" -> "q",
      "y" -> "q", "z" -> "q", "z" -> "r")
    val out = Eval.adjustedRand(rows.toDF("a", "b"), "a", "b")
      .collect().head
    val idx = rows.indices
    val pairs = for (i <- idx; j <- idx if i < j) yield (rows(i), rows(j))
    val n11 = pairs.count { case (u, v) => u._1 == v._1 && u._2 == v._2 }
    val n00 = pairs.count { case (u, v) => u._1 != v._1 && u._2 != v._2 }
    val cTot = pairs.size.toLong
    assert(out.getAs[Long]("ri_ppm") ===
      1000000L * (n00 + n11) / cTot)
    val aSum = rows.groupBy(_._1).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val bSum = rows.groupBy(_._2).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val iSum = rows.groupBy(identity).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    val num = 2L * (iSum * cTot - aSum * bSum)
    val den = (aSum + bSum) * cTot - 2L * aSum * bSum
    val expAri = if (num >= 0) 1000000L * num / den
      else -(1000000L * -num / den)
    assert(out.getAs[Long]("ari_ppm") === expAri)
  }

  test("bcubed: hand per-item averages, perfect = 1e6") {
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val r1 = Eval.bcubed(ind, "a", "b").collect().head
    assert(r1.getAs[Long]("bcubed_p_ppm") === 500000L)
    assert(r1.getAs[Long]("bcubed_r_ppm") === 500000L)
    assert(r1.getAs[Long]("bcubed_f1_ppm") === 500000L)
    val perf = Seq(("1", "u"), ("1", "u"), ("2", "w"), ("2", "w"),
      ("2", "w")).toDF("a", "b")
    val r2 = Eval.bcubed(perf, "a", "b").collect().head
    assert(r2.getAs[Long]("bcubed_p_ppm") === 1000000L)
    assert(r2.getAs[Long]("bcubed_f1_ppm") === 1000000L)
    // shattering a 4-item class into 4 singleton clusters: precision
    // stays 1 (pure clusters), recall drops to 1/4 per item
    val shat = Seq(("c1", "g"), ("c2", "g"), ("c3", "g"), ("c4", "g"))
      .toDF("a", "b")
    val r3 = Eval.bcubed(shat, "a", "b").collect().head
    assert(r3.getAs[Long]("bcubed_p_ppm") === 1000000L)
    assert(r3.getAs[Long]("bcubed_r_ppm") === 250000L)
  }

  test("vMeasure: independence = 0, perfect = 1e6 (exact power-of-2" +
    " logs)") {
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val r1 = Eval.vMeasure(ind, "a", "b").collect().head
    assert(r1.getAs[Long]("homogeneity_ppm") === 0L)
    assert(r1.getAs[Long]("completeness_ppm") === 0L)
    assert(r1.getAs[Long]("v_ppm") === 0L)
    val perf = Seq(("1", "u"), ("1", "u"), ("2", "w"), ("2", "w"),
      ("2", "w")).toDF("a", "b")
    val r2 = Eval.vMeasure(perf, "a", "b").collect().head
    assert(r2.getAs[Long]("homogeneity_ppm") === 1000000L)
    assert(r2.getAs[Long]("completeness_ppm") === 1000000L)
    assert(r2.getAs[Long]("v_ppm") === 1000000L)
    // single reference class: h = 1e6 by the degenerate-marginal
    // convention, completeness 1e6 (one class lands in clusters but
    // H(a|b) = H(a) > 0 -> c = 0)
    val mono = Seq(("x", "g"), ("x", "g"), ("y", "g")).toDF("a", "b")
    val r3 = Eval.vMeasure(mono, "a", "b").collect().head
    assert(r3.getAs[Long]("homogeneity_ppm") === 1000000L)
    assert(r3.getAs[Long]("completeness_ppm") === 0L)
  }

  test("cluster-agreement fromCounts: folded micro-batch cells ==" +
    " batch for all three") {
    val rows = Seq("x" -> "p", "x" -> "p", "x" -> "q", "y" -> "q",
      "y" -> "q", "z" -> "q", "z" -> "r", "y" -> "p")
    val df = rows.toDF("a", "b")
    val (b1, b2) = rows.splitAt(3)
    // each batch contributes its OWN cells; the same (a,b) key
    // appears in both so the fold must be additive
    val folded = Seq(b1, b2).flatMap(_.groupBy(identity).map {
      case ((a, b), xs) => (a, b, xs.size.toLong) })
    assert(Eval.adjustedRandFromCounts(spark, folded).collect().toSeq ===
      Eval.adjustedRand(df, "a", "b").collect().toSeq)
    assert(Eval.bcubedFromCounts(spark, folded).collect().toSeq ===
      Eval.bcubed(df, "a", "b").collect().toSeq)
    assert(Eval.vMeasureFromCounts(spark, folded).collect().toSeq ===
      Eval.vMeasure(df, "a", "b").collect().toSeq)
  }

  test("riskCoverage: hand curve, monotone coverage, degenerate" +
    " one-score case") {
    import org.apache.spark.sql.functions.col
    // (score_ppm, loss): accepting in ascending score order
    val df = Seq((100L, 0L), (100L, 0L), (300L, 1L), (300L, 0L),
      (900L, 1L)).toDF("p", "y")
    val out = Eval.riskCoverage(df, "p", col("y"))
      .orderBy("score_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq(
      (100L, 2L, 2L, 400000L, 0L, 0L),
      (300L, 2L, 4L, 800000L, 1L, 250000L),
      (900L, 1L, 5L, 1000000L, 2L, 400000L)))
    // coverage is strictly increasing, final row covers everything
    assert(out.map(_._4).toSeq === out.map(_._4).sorted.toSeq)
    // degenerate: one score value -> one full-coverage row
    val one = Eval.riskCoverage(
      Seq((500L, 1L), (500L, 0L)).toDF("p", "y"), "p", col("y"))
      .collect()
    assert(one.length === 1)
    assert(one(0).getLong(3) === 1000000L && one(0).getLong(5) === 500000L)
    // additive fromCounts readback: two micro-batches, overlapping
    // score keys, fold == batch
    val folded = Seq((100L, 1L, 0L), (300L, 1L, 1L), // batch 1
      (100L, 1L, 0L), (300L, 1L, 0L), (900L, 1L, 1L)) // batch 2
    assert(Eval.riskCoverageFromCounts(spark, folded)
      .orderBy("score_ppm").collect().toSeq ===
      Eval.riskCoverage(df, "p", col("y")).orderBy("score_ppm")
        .collect().toSeq)
  }
}
