package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  /** Independent integer Mitchell-log reimplementation (eighth-bits),
    * for hand-computing expected surprisals.
    */
  private def m8(q: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(q)
    val p = 1L << e
    8L * e + (q - p) / (p >> 3)
  }
  private val Shift = TextStats.LmShift
  private def e8(q: Long): Long = m8(q) - 8L * Shift

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("merge(train(A), train(B)) == train(A union B) exactly") {
    val a = Seq(("en", "the cat sat"), ("en", "the dog"), ("fr", "le chat")).toDF("lang", "text")
    val b = Seq(("fr", "le chien le chat"), ("de", "der hund")).toDF("lang", "text")
    val m = NaiveBayes.merge(NaiveBayes.train(a, "lang", "text"),
      NaiveBayes.train(b, "lang", "text"))
    val u = NaiveBayes.train(a.unionByName(b), "lang", "text")
    assert(rows(m.classCounts) == rows(u.classCounts))
    assert(rows(m.tokenCounts) == rows(u.tokenCounts))
    assert(rows(m.vocab) == rows(u.vocab))
  }

  test("score matches a hand-computed integer surprisal") {
    val train = Seq(("x", "apple apple banana"), ("y", "zebra zebra zebra"))
      .toDF("lang", "text")
    val docs = Seq((1L, "apple banana")).toDF("doc_id", "text")
    val got = NaiveBayes.trainScore(train, docs, "lang", "doc_id", "text")
      .collect().map { case Row(id: Long, p: String, s: Long, mg: Long) => (id, p, s, mg) }
    // V=3, T_x=T_y=3, N=2, N_x=N_y=1, SHIFT=20.
    def q(tl: Long, c: Long) = ((tl + 3L) << Shift) / (c + 1L)
    val prior = e8(2L << Shift)
    val sx = prior + e8(q(3, 2)) + e8(q(3, 1))
    val sy = prior + e8(q(3, 0)) + e8(q(3, 0))
    assert(sx < sy)
    assert(got.toSeq == Seq((1L, "x", sx, sy - sx)))
  }

  test("empty docs score on priors alone; unseen tokens smooth") {
    val train = Seq(("x", "a a a"), ("x", "a b"), ("y", "c d")).toDF("lang", "text")
    val docs = Seq((1L, ""), (2L, "qqq")).toDF("doc_id", "text")
    val got = NaiveBayes.trainScore(train, docs, "lang", "doc_id", "text")
      .orderBy("doc_id").collect()
      .map { case Row(id: Long, p: String, s: Long, mg: Long) => (id, p, s, mg) }
    // doc 1 (empty): priors only -> x (2 of 3 docs) wins.
    // N=3, N_x=2, N_y=1: qp_x = (3<<20)/2, qp_y = 3<<20.
    val px = e8((3L << Shift) / 2L)
    val py = e8(3L << Shift)
    assert(got(0) == ((1L, "x", px, py - px)))
    // doc 2 ("qqq", unseen): c=0 both classes; T_x=5, T_y=2, V=4.
    val sx = px + e8((5L + 4L) << Shift)
    val sy = py + e8((2L + 4L) << Shift)
    val (pred, s, mg) = if (sx <= sy) ("x", sx, sy - sx) else ("y", sy, sx - sy)
    assert(got(1) == ((2L, pred, s, mg)))
  }

  test("classifies a separable corpus correctly with carry columns") {
    val train = Seq(
      ("en", "the quick brown fox the lazy dog the end"),
      ("en", "the cat and the hat"),
      ("fr", "le chat et le chien"),
      ("fr", "le vin le pain le fromage")).toDF("lang", "text")
    val docs = Seq((1L, "the fox and the dog", "en"),
      (2L, "le chat le pain", "fr")).toDF("doc_id", "text", "lang")
    val got = NaiveBayes.trainScore(train, docs, "lang", "doc_id", "text", Seq("lang"))
      .orderBy("doc_id").collect()
      .map { case Row(id: Long, l: String, p: String, _, mg: Long) => (id, l, p, mg > 0) }
    assert(got.toSeq == Seq((1L, "en", "en", true), (2L, "fr", "fr", true)))
  }

  private def scored(train: DataFrame, docs: DataFrame): Seq[(Long, String, Long, Long)] =
    NaiveBayes.trainScore(train, docs, "lang", "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  test("null-label training docs form no class") {
    val train = Seq(("x", "a a"), (null, "b b b"), ("y", "c")).toDF("lang", "text")
    val model = NaiveBayes.train(train, "lang", "text")
    assert(model.classCounts.collect().map(_.getString(0)).toSet === Set("x", "y"))
    val docs = Seq((1L, "b b"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    assert(scored(train, docs).forall(_._2 != null))
  }

  test("a null-text doc scores on priors alone") {
    val train = Seq(("x", "a"), ("x", "b"), ("y", "c")).toDF("lang", "text")
    val docs = Seq((1L, null: String)).toDF("doc_id", "text")
    val px = e8((3L << Shift) / 2L)
    val py = e8(3L << Shift)
    assert(scored(train, docs) === Seq((1L, "x", px, py - px)))
  }

  test("an exact s_e8 tie goes to the smaller label, margin 0") {
    // symmetric classes: same prior, same T_l, and "q" unseen in both
    val train = Seq(("z", "a"), ("b", "c")).toDF("lang", "text")
    val docs = Seq((1L, "q"), (2L, "q q")).toDF("doc_id", "text")
    val got = scored(train, docs)
    assert(got.map(g => (g._1, g._2, g._4)) === Seq((1L, "b", 0L), (2L, "b", 0L)))
  }

  test("a one-class model scores every doc with margin 0") {
    val train = Seq(("x", "a b"), ("x", "a")).toDF("lang", "text")
    val docs = Seq((1L, "a"), (2L, "zz"), (3L, "")).toDF("doc_id", "text")
    val got = scored(train, docs)
    assert(got.map(g => (g._2, g._4)) === Seq(("x", 0L), ("x", 0L), ("x", 0L)))
    // V=2, T_x=3, N=N_x=2: prior 0; "a" seen twice
    assert(got.map(_._3) === Seq(e8((5L << Shift) / 3L), e8(5L << Shift), 0L))
  }

  test("q256 at sf0.001: at most 18 jobs and at most 6 document scans") {
    val q = graft.Queries.all("q256_nb_auc")
    graft.Tables.documents(spark, sf) // the schema memo is warm in the catalog
    var df: DataFrame = null
    val jobs = jobsIn { df = q(spark, sf); df.collect(); () }
    assert(jobs <= 18, s"q256 ran $jobs jobs")
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.nonEmpty && scans.size <= 6, s"q256 scans documents ${scans.size} times")
  }
}
