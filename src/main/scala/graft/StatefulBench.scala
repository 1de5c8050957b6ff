package graft

/** Dev tool: measure the stateful streaming path in isolation —
  * `runMain graft.StatefulBench [rowsPerBatch ...]`. Prints per-batch
  * progress (GRAFT_BENCH_DEBUG-style) and the rec/s each size lands,
  * without waiting for the full `graft.Bench` sweep.
  * `GRAFT_STATE_STORE=rocksdb` switches the provider from the
  * default heap-backed HDFS store to RocksDB — the provider a real
  * deployment uses once keyed state outgrows executor heap (state
  * lives off-heap/on-disk with changelog checkpointing; heap-backed
  * holds every key in JVM memory).
  *
  * Kill-proofing (the r14 lesson — the parent's watchdog killed a
  * weather-slowed child at minute 7 with NOTHING printed, losing
  * even the cells that HAD finished): every pass prints its own
  * result line the moment it completes (the parent keeps the best
  * line per size), `GRAFT_CHILD_BUDGET_SEC` lets the child shrink
  * its own deadlines and shed retries instead of being shot
  * mid-pass, and a first pass that completes ZERO batches is
  * terminal for its cell — the box is too slow for the cell today,
  * and retrying the biggest cell is exactly how the whole fork
  * window got burned.
  */
object StatefulBench {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(50000L, 100000L, 250000L)
    val t0 = System.nanoTime()
    val budgetSec = sys.env.get("GRAFT_CHILD_BUDGET_SEC").map(_.toLong)
    def remainingSec(): Long = budgetSec
      .map(b => b - (System.nanoTime() - t0) / 1000000000L)
      .getOrElse(Long.MaxValue / 2)
    // IO weather stamp (the parent's disk_mb_per_s ledger, child-side):
    // the heap store's full-snapshot commits are disk-bound, so this
    // line in the kept stderr log makes a cratered cell attributable
    System.err.println(s"[bench] child disk probe ${Bench.diskMbPerS()} MB/s")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    if (sys.env.get("GRAFT_STATE_STORE").contains("rocksdb")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // without changelog checkpointing every commit uploads the FULL
      // SST snapshot — commit cost grows with total state and the
      // provider loses to heap on any growing-state workload;
      // changelog mode commits only the batch's delta (snapshots
      // happen in background maintenance), the configuration a real
      // deployment runs
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
    spark.sparkContext.setLogLevel("ERROR")
    // ONE short warm pass per child (batches 0-1), then measured
    // passes. Rationale: every measured pass already EXCLUDES its own
    // batch 0, so a per-size warm pass double-pays (the r13 best-of-2
    // at full length was ~40% of the fork's wall-clock and fed the
    // BENCH_r13 rc=124 budget overrun). Warm at the LARGEST size —
    // warming at a smaller size leaves the state/shuffle paths
    // half-compiled (the r14 dev runs read the 2M cell 290k
    // warm-at-500k vs ~420k fully warm). Under a tight child budget
    // the warm shrinks or drops — a cold measured pass still excludes
    // its own batch 0, so it degrades to "slightly conservative", not
    // to "lost".
    // warm only when the budget can hold warm AND a measured cell —
    // the r14 rocksdb child spent its whole 150 s budget warming and
    // then skipped every cell; a cold measured pass (its own batch 0
    // still excluded) beats a warm nothing. The warm deadline also
    // reserves ≥180 s for the measured cells (r16): a weather-slowed
    // warm that burns 120 s used to leave the 2M cell a too-short
    // deadline and the cheap cell nothing.
    if (remainingSec() > 210)
      Bench.measureStateful(spark, sizes.max, cpus,
        deadlineSec = math.max(30L, math.min(120L, remainingSec() - 180)),
        untilBatch = 2)
    else System.err.println(
      s"[bench] child budget: skipped warm pass (remaining=${remainingSec()}s)")
    def emit(n: Long, r: (Long, Double, Int, Double)): Unit =
      println(f"rowsPerBatch=$n%-8d batches=${r._3} rows=${r._1} " +
        f"sec=${r._2}%.2f rec/s=${r._4.round}")
    // measure ASCENDING (r16 — the r15 driver run lost BOTH state-store
    // figures to this): descending order put the expensive 2M cell
    // first, so a slow fork window burned the whole child budget on
    // warm + 2M and the cheap cell never ran — every cell read -1. The
    // cheap cell completes even under a 10%-steal window (~2.5M rows
    // inside its deadline), so ascending guarantees the artifact at
    // least one positive figure per provider; the 2M headline cell
    // still gets everything that remains.
    sizes.sorted.foreach { n =>
      def pass() = {
        // 2M cell headroom: it runs 10M docs through growing
        // per-bucket state
        val base = if (n >= 2000000L) 300L else 180L
        val (rows, sec, batches) = Bench.measureStateful(spark, n,
          cpus, deadlineSec = math.min(base, remainingSec() - 30))
        (rows, sec, batches, Bench.sweepValue(rows, sec, batches, 4))
      }
      if (remainingSec() < 60) {
        System.err.println(
          s"[bench] child budget: skipped $n cell (remaining=${remainingSec()}s)")
      } else {
        val first = pass()
        emit(n, first) // survives a watchdog kill mid-next-pass
        // the LARGEST cell is the headline figure: best-of-2 when the
        // budget allows — this box shows 5-32 % hypervisor steal in
        // bursts (r14: the same 2M cell read 118 k in one bench run
        // and 522-628 k in re-runs minutes apart), and a second pass
        // decorrelates from a single bad weather window. A -1 first
        // pass retries only if it made SOME progress: zero completed
        // batches means the cell cannot finish on this box today.
        val retry = (n == sizes.max && first._4 >= 0) ||
          (first._4 < 0 && first._3 > 0)
        if (retry && remainingSec() > 60 + first._2.toLong) {
          val second = pass()
          if (second._4 > first._4) emit(n, second)
        }
      }
    }
    spark.stop()
  }
}
