package graft

/** Child-process main for the RocksDB state-store sweep.
  *
  * Run in its own JVM (forked by [[Bench]]) because rocksdbjni's
  * `LoggerJniCallback` can SEGV when a background flush thread logs an
  * error during store teardown (observed: SetBGError → Log → Logv from
  * an unattached native thread, hs_err during the round-9 dev run).
  * In-process that crash would kill the whole bench before its JSON
  * line prints; in a child it costs only this sweep — the parent falls
  * back to -1 sentinels.
  *
  * Prints exactly one marker line `ROCKS_SWEEP {...}` the parent scans
  * for, then exits 0 WITHOUT stopping Spark: session stop unloads all
  * RocksDB stores, which is precisely the teardown window where the
  * JNI logger race fires, and the halt skips shutdown hooks entirely.
  */
object RocksBench {
  def main(args: Array[String]): Unit = {
    // IO weather stamp (the StatefulBench child-side rationale)
    System.err.println(s"[bench] child disk probe ${Bench.diskMbPerS()} MB/s")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing: commit only the batch's delta instead
    // of the full SST snapshot — without it RocksDB commit cost grows
    // with TOTAL state and the comparison to heap is meaningless
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")

    // ONE short warm pass (batches 0-1 at the smaller size), then one
    // measured pass per cell (the StatefulBench discipline: every
    // measured pass already excludes its own batch 0, so per-cell
    // warm passes double-pay). A measured pass that misses its batch
    // count earns ONE retry (a loaded host should yield a number, not
    // a -1) unless it made ZERO progress or already burned most of
    // its deadline — a wedged host won't improve, and two full 300 s
    // deadlines per cell would blow the parent's watchdog.
    // Kill-proofing (the r14 StatefulBench lesson): the sweep line
    // re-prints after EVERY cell improvement, the child obeys
    // GRAFT_CHILD_BUDGET_SEC by shrinking deadlines and shedding
    // retries, and the parent keeps the LAST sweep line it sees.
    val t0 = System.nanoTime()
    val budgetSec = sys.env.get("GRAFT_CHILD_BUDGET_SEC").map(_.toLong)
    def remainingSec(): Long = budgetSec
      .map(b => b - (System.nanoTime() - t0) / 1000000000L)
      .getOrElse(Long.MaxValue / 2)
    // optional args restrict the sweep to specific cells — the
    // parent's stamp-triggered retry re-runs ONLY the suspect sizes.
    // Measure ASCENDING (r16, the StatefulBench rationale): the r15
    // driver run burned the fork window on warm + the 2M cell and
    // produced -1 for every cell; the cheap cell first guarantees at
    // least one positive figure per provider.
    val sizes: Seq[Long] =
      if (args.nonEmpty) args.toSeq.map(_.toLong).sorted
      else Seq(1000000L, 2000000L)
    // warm at the largest cell (warming at a smaller size leaves the
    // state/shuffle paths half-compiled). Warm only when the budget can
    // hold warm AND a measured cell — this child's r14 run spent its
    // whole 150 s budget warming and skipped every cell; the deadline
    // also reserves ≥180 s for the measured cells (r16).
    if (remainingSec() > 210)
      Bench.measureStateful(spark, sizes.max, cpus,
        deadlineSec = math.max(30L, math.min(120L, remainingSec() - 180)),
        untilBatch = 2)
    else System.err.println(
      s"[bench] child budget: skipped warm pass (remaining=${remainingSec()}s)")
    val results = scala.collection.mutable.LinkedHashMap(
      sizes.map(_ -> -1.0): _*)
    def printSweep(): Unit = {
      val json = results.map { case (n, rps) =>
        "\"" + n + "\":" + (if (rps < 0) "-1" else rps.round.toString)
      }.mkString("{", ",", "}")
      println("ROCKS_SWEEP " + json)
      System.out.flush()
    }
    sizes.foreach { n =>
      def pass() = {
        val (rows, sec, nBatches) = Bench.measureStateful(spark, n,
          cpus, deadlineSec = math.min(300L, remainingSec() - 30))
        (Bench.sweepValue(rows, sec, nBatches, 4), sec, nBatches)
      }
      if (remainingSec() < 60) System.err.println(
        s"[bench] child budget: skipped rocksdb $n cell (remaining=${remainingSec()}s)")
      else {
        val (v1, sec1, b1) = pass()
        results(n) = v1
        printSweep() // survives a watchdog kill mid-next-pass
        // headline 2M cell: best-of-2 against hypervisor-steal bursts
        // (the StatefulBench rationale); others retry only on a -1
        // that showed SOME progress
        val retry = (n == 2000000L && v1 >= 0) || (v1 < 0 && b1 > 0)
        if (retry && sec1 < 240 && remainingSec() > 60 + sec1.toLong) {
          val v2 = pass()._1
          if (v2 > results(n)) { results(n) = v2; printSweep() }
        }
      }
    }
    // halt, not exit: no shutdown hooks, no store unload, no JNI race
    Runtime.getRuntime.halt(0)
  }
}
