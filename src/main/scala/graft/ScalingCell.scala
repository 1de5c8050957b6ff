package graft

/** Child-process main for the bench's sf1 scaling cell (r16, the r15
  * verdict's ask #5): times a comma-separated query list over a
  * pre-synthesized 10× ramp dir at THIS fork's core count. The parent
  * forks it once at 32 and once at 8 cores, so the 8v32 ratio is
  * measured where real work dominates scheduling — at sf0.1 every
  * headline ratio read ≤ 1.15 (r15 PERF scaling block): per-task
  * scheduler overhead at 32 threads exceeded the sub-1.4 s compute,
  * so the block measured the scheduler, not the plans.
  *
  * Kill-proofing, the StatefulBench discipline: one line per query the
  * moment it completes (`SCALING <name> cpus=<n> sec=<s>`), queries
  * shed individually under GRAFT_CHILD_BUDGET_SEC, leaked checkpoint
  * blocks dropped between queries (the r15 sweep-hygiene rule — any
  * multi-query harness must).
  */
object ScalingCell {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq.filter(_.nonEmpty)
    val cpus = Session.cpus
    val remainingSec = Bench.childClock()
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def sweep(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    names.foreach { n =>
      if (remainingSec() < 45)
        System.err.println(s"[bench] scaling child budget: skipped $n " +
          s"(remaining=${remainingSec()}s)")
      else try {
        spark.sparkContext.setJobDescription(s"scaling/$n")
        // one untimed warm pass (codegen/JIT — the headline-trial
        // discipline), then the timed pass through the noop sink
        Queries.all(n)(spark, dir).write.format("noop").mode("overwrite").save()
        sweep()
        val t1 = System.nanoTime()
        Queries.all(n)(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t1) / 1e9
        println(f"SCALING $n cpus=$cpus sec=$sec%.3f")
        System.out.flush()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scaling $n failed: ${e.getMessage}")
      } finally sweep()
    }
    spark.stop()
  }
}
