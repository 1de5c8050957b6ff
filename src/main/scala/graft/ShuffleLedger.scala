package graft

import graft.ops.Lineage
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Shuffle-volume ledger: MEASURED shuffle bytes/records per headline
  * query at two scale factors — the volume half of the 100 TB
  * argument ([[PlanAudit]] proves plan SHAPES; this proves the
  * shuffles those plans actually move). A healthy operator's shuffle
  * grows at most linearly with the corpus (ratio ≤ ~10× at 10× data);
  * sublinear ratios are the signature of the map-side-partial /
  * fingerprint-only / bounded-grid designs the operator docs claim.
  *
  * Totals come from a task-level listener (shuffle WRITE side — every
  * exchanged byte is written exactly once, so this counts each
  * shuffle once regardless of how many consumers read it).
  *
  * Run: `sbt "runMain graft.ShuffleLedger [sfDirA] [sfDirB]"` —
  * prints one JSON line with per-query {bytes, records} at each dir
  * and the B/A byte ratio. [[Bench]] runs the same core as an
  * in-artifact phase (r14 verdict ask #5), so a ratio regression is
  * visible in BENCH_r{N}.json without a separate tool run.
  */
object ShuffleLedger {

  /** The catalog entries whose B/A byte ratio legitimately exceeds
    * the data growth because the OUTPUT grows super-linearly by
    * fixture construction (r14 ledger adjudication: q121 pair count
    * grows 11×, q129 72×, at 10× data — and the shuffle grows LESS
    * than the output in both). Machine-readable so the in-artifact
    * ledger carries its own waivers.
    */
  val outputDriven: Map[String, String] = Map(
    "q121_containment" ->
      "output-driven: ngram-containment pair count grows ~11x at 10x data by fixture construction; shuffle grows less than output",
    "q129_winnow_matches" ->
      "output-driven: winnowing match count grows ~72x at 10x data by fixture construction; shuffle grows less than output")

  /** The in-bench ledger set: the headline queries plus the dedup
    * family whose "only fingerprints shuffle" claims are exactly what
    * the ledger checks.
    */
  def benchNames: Seq[String] = Bench.headline ++ Seq(
    "q121_containment", "q129_winnow_matches",
    "q143_setsim_join", "q150_exact_decontam")

  /** Measure shuffle-write (bytes, records) of each query at `dirA`
    * and `dirB` on the GIVEN session, returning per-query JSON rows
    * (the inner `"name":{...}` fragments). `proceed` is checked
    * before every query run — under budget pressure the remaining
    * entries record -1 sentinels instead of blowing the caller's
    * clock. The task listener is removed before returning.
    */
  def measureRows(spark: SparkSession, names: Seq[String],
                  dirA: String, dirB: String,
                  proceed: () => Boolean = () => true): Seq[String] = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val recs = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def measure(dir: String, name: String): (Long, Long) = {
      if (!proceed()) return (-1L, -1L)
      bytes.set(0); recs.set(0)
      try {
        Lineage.scoped {
          Queries.all(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        // task-end events reach the listener asynchronously; every one
        // of this query's is posted by now, so one drain makes it exact
        GraftBridge.drainListenerBus(spark.sparkContext)
        (bytes.get, recs.get)
      } catch { case e: Throwable =>
        System.err.println(s"[shuffle] $name @$dir failed: ${e.getMessage}")
        (-1L, -1L)
      }
    }
    try names.map { n =>
      val (ba, ra) = measure(dirA, n)
      val (bb, rb) = measure(dirB, n)
      val ratio =
        if (ba > 0 && bb >= 0) (100L * bb / ba).toDouble / 100 else -1.0
      System.err.println(f"[shuffle] $n a=$ba b=$bb ratio=$ratio")
      s""""$n":{"a_bytes":$ba,"a_records":$ra,"b_bytes":$bb,""" +
        s""""b_records":$rb,"ratio_x":$ratio}"""
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val dirA = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val dirB = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // GRAFT_SHUFFLE_QUERIES overrides the default headline set —
    // e.g. the dedup/similarity family, whose "only fingerprints
    // shuffle" claims are exactly what this ledger checks
    val names = sys.env.get("GRAFT_SHUFFLE_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Bench.headline)
    val rows = measureRows(spark, names, dirA, dirB)
    println(s"""{"metric":"shuffle_ledger","a":"$dirA","b":"$dirB",""" +
      s""""queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
