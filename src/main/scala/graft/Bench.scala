package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced to full materialization
  * with a `noop`-format write (every column decoded, every row
  * produced) — `.count()` would let Catalyst skip projection work.
  */
object Bench {
  /** Headline set: scan, the two join shapes, window, exact + LSH
    * dedup, similarity, text analysis — the operators whose plans
    * decide 100 TB behavior.
    */
  val headline: Seq[String] = Seq(
    "q01_scan_filter_project", "q02_pricing_summary", "q03_join_broadcast",
    "q04_join_shuffle_agg", "q05_window_topn", "q14_distinct",
    "q19_time_bucket_agg", "q22_token_count", "q24_exact_dedup",
    "q28_cosine_topk", "q29_minhash_buckets", "q30_simhash", "q31_ann_lsh")

  /** Extended set: every catalog query numbered 76 or above (the
    * round-7+ heavy operators) outside the headline set, in catalog
    * order. Tracked OUTSIDE the headline total so round-over-round
    * totals stay comparable to earlier BENCH_r* artifacts.
    */
  lazy val extendedNames: Seq[String] = Queries.all.keys.toSeq
    .map(n => (n.drop(1).takeWhile(_.isDigit).toInt, n))
    .filter { case (num, n) => num >= 76 && !headline.contains(n) }
    .sortBy(_._1).map(_._2)

  /** 1/5/15-minute host load — stamped into the JSON at start and end
    * so a contended run is self-diagnosing (BENCH_r07 was judged
    * unusable only by out-of-band load data).
    */
  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  /** Aggregate (busy, steal) jiffies from /proc/stat's first line.
    * Hypervisor STEAL is the contention loadavg cannot see: the r14
    * full-bench stateful cells read 118 k rec/s at loadavg 1.4 while
    * top showed 5-32 % st — the box is a VM and neighbor load
    * throttles barrier-heavy phases hardest. Each phase records its
    * steal share so a degraded figure is attributable to host
    * weather instead of reading as an engine regression.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator
        .next().split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (-1L, -1L) }

  /** steal_ppm over an interval: stolen / (busy+idle+stolen) jiffies. */
  def stealPpm(before: (Long, Long), after: (Long, Long)): Long = {
    if (before._1 < 0 || after._1 < 0) return -1L
    val total = after._1 - before._1
    val steal = after._2 - before._2
    if (total <= 0) -1L else 1000000L * steal / total
  }

  /** Synchronous 32 MB write+fsync probe of java.io.tmpdir, MB/s —
    * the IO half of the weather ledger beside [[stealPpm]]: the
    * heap-backed state store commits FULL-store snapshots through
    * this filesystem, so a noisy-neighbor disk craters the heap cell
    * 10× while RocksDB's changelog deltas barely notice (r14: heap
    * 2M read 43 k with 2 % steal while rocksdb read 399 k minutes
    * later — only an IO stamp makes that attributable). ~0.1-1 s per
    * call; failures return -1.
    */
  def diskMbPerS(): Long =
    try {
      // finally-scoped: the probe runs at EVERY phase start (parent
      // and both children), so a degraded disk throwing mid-write
      // must not leak the fd or the temp file run after run
      val f = java.io.File.createTempFile("graft-disk-probe", ".bin")
      try {
        val buf = new Array[Byte](1 << 20)
        val out = new java.io.FileOutputStream(f)
        try {
          val t0 = System.nanoTime()
          var i = 0
          while (i < 32) { out.write(buf); i += 1 }
          out.getFD.sync()
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec <= 0) -1L else (32 / sec).round
        } finally out.close()
      } finally { f.delete(); () }
    } catch { case _: Throwable => -1L }

  /** Seconds left of a `budgetSec` wall-clock budget starting now —
    * the one clock the bench's phase scheduler, its in-phase shedding
    * and every forked child read.
    */
  def budgetClock(budgetSec: Long): () => Long = {
    val t0 = System.nanoTime()
    () => budgetSec - (System.nanoTime() - t0) / 1000000000L
  }

  /** A forked child's clock: the budget [[forkChild]] hands it in
    * `GRAFT_CHILD_BUDGET_SEC`, unbounded when the child runs standalone.
    */
  def childClock(): () => Long =
    sys.env.get("GRAFT_CHILD_BUDGET_SEC").map(s => budgetClock(s.toLong))
      .getOrElse(() => Long.MaxValue / 2)

  /** One row of the bench's phase table: `contract` phases carry the
    * driver-contract figures, `floorSec` is the least remaining budget
    * the phase needs to start, and `run` does the work and returns the
    * follow-up phases it requests (a state-store retry).
    */
  final case class Phase(name: String, contract: Boolean, floorSec: Long,
                         run: () => Seq[Phase])

  /** The bench's one budget scheduler. Runs the first pass of every
    * contract phase in table order, then the follow-ups they requested,
    * then the optional phases — so a retry or an optional phase spends
    * only what the contract phases left. A phase whose floor no longer
    * fits is skipped and logged; a phase that throws is logged. Either
    * way its artifact keys keep their sentinels. `start` and `finish`
    * bracket every phase, run or skipped. Returns the names of the
    * phases that ran, in order.
    */
  def schedule(table: Seq[Phase], remainingSec: () => Long,
               start: String => Unit, finish: String => Unit): Seq[String] = {
    val ran = Seq.newBuilder[String]
    def runAll(phases: Seq[Phase]): Seq[Phase] = phases.flatMap { p =>
      start(p.name)
      val followUps =
        if (remainingSec() < p.floorSec) {
          System.err.println(s"[bench] budget: skipped ${p.name} phase " +
            s"(remaining=${remainingSec()}s, floor=${p.floorSec}s)")
          Nil
        } else {
          ran += p.name
          // a failure (or a budget-watchdog cancel) degrades the phase
          // to its sentinels — it must never take the final emits along
          try p.run()
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${p.name} phase failed: ${e.getMessage}")
            Nil
          }
        }
      finish(p.name)
      followUps
    }
    val followUps = runAll(table.filter(_.contract))
    runAll(followUps ++ table.filterNot(_.contract))
    ran.result()
  }

  /** Sweep cell value: rec/s when all `required` batches completed
    * inside the deadline, else the -1 sentinel — a partial run under
    * host contention must be distinguishable from "measured zero"
    * (BENCH_r07 reported 0 for sweeps whose batch 1 never finished).
    */
  def sweepValue(rows: Long, sec: Double, nBatches: Int, required: Int): Double =
    if (nBatches < required) -1.0
    else if (sec > 0) rows / sec
    else 0.0

  /** Shared micro-batch timing harness: start the query, wait for
    * batches 1..4 (batch 0 = codegen warm-up, excluded), time them by
    * their own triggerExecution, and report HOW MANY completed — the
    * caller turns a partial run into the -1 sentinel instead of a
    * misleading 0 (sweepValue). A failure or stall must not discard
    * earlier results: bounded wait, exceptions degrade to (0, 0, 0).
    */
  def timeStream(start: String => org.apache.spark.sql.streaming.StreamingQuery,
                 deadlineSec: Long = 180L, label: String = "",
                 untilBatch: Int = 4): (Long, Double, Int) = {
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-ckpt").toString
      val sq = start(ckpt)
      // progress for batch N posts when N completes, so batchId == 4
      // means the measured batches 1-4 are all done; warm-up callers
      // pass untilBatch=2 (codegen + state paths warm at a fraction of
      // a full measured pass)
      val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
      while (Option(sq.lastProgress).forall(_.batchId < untilBatch) && sq.isActive
             && System.nanoTime() < deadline)
        Thread.sleep(20)
      // read progress BEFORE stop(): even if the stop times out, the
      // completed batches' numbers survive into the JSON
      val measured = sq.recentProgress.filter(p => p.batchId >= 1 && p.batchId <= 4)
      // per-batch trigger durations and input rows ALWAYS go to stderr
      // (one compact line): a uniform-slow vs one-bad-batch profile
      // distinguishes host contention from a state-store hiccup
      System.err.println(s"[bench] $label batches " +
        sq.recentProgress.map(p => s"${p.batchId}:" +
          s"${p.durationMs.getOrDefault("triggerExecution", 0L)}ms" +
          s"/${p.numInputRows}rows")
          .mkString(" "))
      try sq.stop()
      catch { case e: Throwable =>
        System.err.println(s"[bench] streaming stop timed out: ${e.getMessage}") }
      // a stop() that timed out leaves the stream FINISHING its
      // in-flight micro-batch on live executor threads — starting the
      // next trial against that zombie reads 2-40× low and the final
      // session stop dies on its killed tasks (both observed in the
      // r14 dev runs). Wait — bounded — for actual termination; the
      // in-flight batch always completes on its own.
      val drainDeadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while (sq.isActive && System.nanoTime() < drainDeadline)
        Thread.sleep(100)
      if (sq.isActive) System.err.println(
        s"[bench] $label stream still active after drain wait")
      (measured.map(_.numInputRows).sum,
        measured.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000).sum,
        measured.length)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming failed: ${e.getMessage}")
      (0L, 0.0, 0)
    }
  }

  /** Deterministic rate-source doc stream for the stateful bench:
    * 12 tokens drawn INDEPENDENTLY per position from a 200-word
    * vocabulary via xxhash64(value, i) — ~200¹² possible texts, so
    * signatures stay diverse and band buckets fill to ~15 entries at
    * 1 M docs instead of degenerating. (An earlier affine draw
    * (value·a + i·b) mod 200 collapsed to value mod 200 — only 200
    * distinct docs, every bucket a 1024-duplicate worst case.)
    */
  def statefulDocs(spark: SparkSession, rowsPerBatch: Long, numPartitions: Int)
      : org.apache.spark.sql.Dataset[graft.streaming.Stateful.DocEvent] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", numPartitions)
      .load()
      .select(col("value").as("id"), col("timestamp").as("ts"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(xxhash64(col("value"), lit(i)), lit(200L)))): _*)
          .as("text"))
      .as[graft.streaming.Stateful.DocEvent]
  }

  /** Stateful-path throughput: nearDupCandidates (flatMapGroupsWithState,
    * keyed state, event-time TTL) over the rate source — the operator a
    * real deployment sizes. Returns (rows, sec, batchesMeasured).
    */
  def measureStateful(spark: SparkSession, rowsPerBatch: Long, numPartitions: Int,
                      deadlineSec: Long = 180L, untilBatch: Int = 4): (Long, Double, Int) =
    timeStream(ckpt => graft.streaming.Stateful
      .nearDupCandidates(statefulDocs(spark, rowsPerBatch, numPartitions),
        watermarkDelay = "10 seconds", stateTtlMs = 3600L * 1000)
      .writeStream.outputMode("append")
      .format("noop").option("checkpointLocation", ckpt).start(),
      deadlineSec, label = s"stateful/$rowsPerBatch", untilBatch = untilBatch)

  /** Bounded wait for the 1-minute loadavg to drop below cores/4 —
    * the pre-fork settle gate. Returns seconds actually waited.
    */
  private def settle(maxWaitSec: Int): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val gate = math.max(cores / 4.0, 2.0)
    var waited = 0
    while (waited < maxWaitSec && loadavg().head > gate) {
      Thread.sleep(5000)
      waited += 5
    }
    waited
  }

  /** Fork a fresh child JVM running `mainClass` with this JVM's
    * classpath and flags, and return its stdout lines. `stateStore` is
    * the child's `GRAFT_STATE_STORE` (never inherited from this JVM).
    * Shared by both state-store phases and the scaling cell: a fresh
    * JVM isolates GC-sensitive
    * state-store measurements from the extended sweep's heap
    * pressure, and contains rocksdbjni's teardown-SEGV class of
    * crashes to a -1 sentinel instead of a dead bench. The child
    * gets a dedicated tmpdir the parent deletes after waitFor (the
    * child may Runtime.halt and skip its own shutdown hooks), a
    * watchdog kill at `timeoutMin`, and its stderr CAPTURED to a file
    * — the driver keeps only a ~2000-char combined-output tail, and a
    * child Spark stack trace spewing after the parent's last JSON line
    * is exactly what made BENCH_r13 unparseable. On failure (nonzero
    * exit or empty stdout) the last few captured lines are replayed to
    * the parent's stderr for diagnosis. Never throws — failures return
    * whatever lines the child produced.
    */
  private def forkChild(mainClass: String, args: Seq[String],
                        timeoutMin: Int, cpus: String,
                        stateStore: Option[String] = None): List[String] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent") ||
          a.startsWith("-agentpath") || a.startsWith("-Xrunjdwp"))
      val childTmp = Files.createTempDirectory("graft-fork-tmp")
      // stderr goes OUTSIDE childTmp and survives the cleanup: the
      // per-batch timing lines are the only evidence when a child
      // measures slow without failing (see the timeStream batches
      // stamp) — childTmp itself is deleted because a halted child
      // skips its own shutdown hooks
      val keepDir = Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-bench-childlogs")
      Files.createDirectories(keepDir)
      val errFile = keepDir.resolve(s"$mainClass${stateStore.fold("")("-" + _)}" +
        s"-${System.currentTimeMillis / 1000}.stderr.log")
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq(s"-Djava.io.tmpdir=$childTmp",
          "-cp", System.getProperty("java.class.path"), mainClass) ++ args
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.environment().remove("GRAFT_STATE_STORE")
      stateStore.foreach(pb.environment().put("GRAFT_STATE_STORE", _))
      // the child sheds its own work (shrunken deadlines, dropped
      // retries) instead of being shot mid-pass by the watchdog —
      // 30 s of slack covers JVM startup + session teardown
      pb.environment().put("GRAFT_CHILD_BUDGET_SEC",
        (timeoutMin * 60L - 30L).toString)
      pb.redirectError(ProcessBuilder.Redirect.to(errFile.toFile))
      val proc = pb.start()
      val watchdog = new Thread(() => {
        try {
          if (!proc.waitFor(timeoutMin.toLong,
              java.util.concurrent.TimeUnit.MINUTES))
            proc.destroyForcibly()
        } catch { case _: Throwable => () }
      })
      watchdog.setDaemon(true); watchdog.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().toList
      proc.waitFor()
      if (proc.exitValue() != 0 || out.isEmpty)
        try new String(Files.readAllBytes(errFile)).linesIterator.toList.takeRight(12)
          .foreach(l => System.err.println(s"[bench] $mainClass stderr: $l"))
        catch { case _: Throwable => () }
      try {
        val walk = Files.walk(childTmp)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      } catch { case _: Throwable => () }
      out
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $mainClass child failed: ${e.getMessage}")
      List.empty
    }

  /** Cumulative artifact: every field the final JSON line carries,
    * initialized to sentinels and overwritten as phases complete.
    * [[emit]] prints the WHOLE current state as one JSON line after
    * every phase — the driver takes the last complete JSON line on
    * stdout, so a SIGKILL during phase N leaves a valid artifact
    * carrying phases 1..N-1 (BENCH_r11 was SIGKILLed mid-stateful and
    * lost the already-measured headline + extended sections; r09/r10
    * failed two other ways — the single end-of-run println was the
    * common single point of failure).
    */
  private val artifact =
    scala.collection.mutable.LinkedHashMap[String, String]()

  /** Compact (<1500-char) self-contained summary: headline total +
    * per-query secs, the four throughput figures, sf, phases done.
    * Printed as the LAST stdout line of every [[emit]] — the driver
    * keeps only a ~2000-char output tail, which the ~8 KB cumulative
    * line can never fit (BENCH_r09–r13 all parsed null for tail-window
    * reasons), so the parseable line must be small AND must follow the
    * big one at EVERY phase boundary, not just at the very end — a
    * kill mid-phase (BENCH_r13 died in the stateful fork) then still
    * leaves the prior phase's compact line in the window.
    */
  private def compactLine(phase: String): String = Seq(
    "\"metric\":\"total\"",
    "\"value\":" + artifact("value"),
    "\"unit\":\"sec\"",
    "\"queries\":" + artifact("queries"),
    "\"pipeline_rec_per_sec\":" + artifact("pipeline_rec_per_sec"),
    "\"streaming_rec_per_sec\":" + artifact("streaming_rec_per_sec"),
    "\"stateful_rec_per_sec\":" + artifact("stateful_rec_per_sec"),
    "\"stateful_rocksdb_by_batch_size\":" +
      artifact("stateful_rocksdb_by_batch_size"),
    "\"loadavg_start\":" + artifact("loadavg_start"),
    "\"loadavg_end\":" + artifact("loadavg_end"),
    "\"steal_ppm\":" + artifact("steal_ppm"),
    "\"disk_mb_per_s\":" + artifact("disk_mb_per_s"),
    "\"sf\":" + artifact("sf"),
    "\"phases_done\":\"" + phase + "\"").mkString("{", ",", "}")

  private def emit(phase: String): Unit = {
    if (phaseJiffies._1 >= 0 && !phase.endsWith("_partial")) {
      phaseSteal(phase) = stealPpm(phaseJiffies, cpuJiffies())
      artifact("steal_ppm") = phaseSteal
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    }
    artifact("phases_done") = "\"" + phase + "\""
    // stderr stamp FIRST: nothing of ours may print after the compact
    // line — the driver scans a small combined-output tail for the
    // last parseable JSON line
    System.err.println(s"[bench] phase=$phase done t=${System.currentTimeMillis / 1000}")
    // one synchronized println per line: PrintStream.println of a
    // single String is atomic, so log interleaving cannot split it
    println(artifact.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}"))
    println(compactLine(phase))
    System.out.flush()
  }

  // per-phase hypervisor-steal ledger (see [[cpuJiffies]]): phaseStart
  // snapshots, emit records the delta — "steal_ppm" in the artifact
  // maps phase -> stolen-CPU share while it ran; "disk_mb_per_s"
  // stamps the write+fsync probe at each phase start the same way
  private var phaseJiffies: (Long, Long) = (-1L, -1L)
  private val phaseSteal =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private val phaseDisk =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def phaseEnd(phase: String): Unit = {
    artifact("loadavg_end") = "[" + loadavg().mkString(",") + "]"
    emit(phase)
  }

  private def phaseStart(phase: String): Unit = {
    phaseJiffies = cpuJiffies()
    phaseDisk(phase) = diskMbPerS()
    artifact("disk_mb_per_s") = phaseDisk
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    System.err.println(
      s"[bench] phase=$phase start t=${System.currentTimeMillis / 1000} " +
        s"load=${loadavg().head} disk=${phaseDisk(phase)}MB/s")
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // Self-enforced wall-clock budget (BENCH_r13 lesson: the driver
    // runs the bench under an external `timeout` — rc=124 mid-stateful
    // after the 155-query catalog growth + settle gates pushed the
    // worst case past it, and an external kill leaves whatever noise
    // was last printed as the artifact tail). The bench must DEGRADE
    // (skip tail queries / shrink fork watchdogs / drop optional
    // cells, each skip logged and sentinel-recorded) rather than be
    // killed: [[schedule]] gates every phase on this clock.
    // default 780 s: the external timeout is believed ~900 s (BENCH_r12
    // at ~11 min passed, r13 died just after reaching the stateful
    // fork at ~14-15 min), THIS clock starts ~30-60 s after the
    // driver's (sbt launch + compile check run first), and the sweep's
    // in-flight query plus the final emits can run ~60 s past the last
    // guard check (the r14 dev run on an 840 budget landed at 885 s
    // in-main — too close to a 900 s kill)
    val budgetSec = sys.env.getOrElse("GRAFT_BENCH_BUDGET_SEC", "780").toLong
    val remainingSec = budgetClock(budgetSec)
    // LAZY: the two forked state-store phases run FIRST, before this
    // JVM holds any Spark session — a state-store child measured into
    // the catalog sweep's decaying load spike reads 2-4× low (r12
    // verdict; re-confirmed in the r14 dev runs: stateful 164 k vs
    // ~400 k, pipeline 2.6 M vs 4.4 M on the same box), and running
    // the forks on the pristine box removes both the spike AND the
    // settle-gate wall-clock that fed the r13 rc=124.
    lazy val spark: SparkSession = {
      val s = Session.local(cpus)
      // ERROR, not WARN: parent WARN lines (stream-stop stack traces,
      // AQE notices) printing after the last emit are tail-window
      // pollution — BENCH_r13's 2000-char tail was 100% WARN output
      s.sparkContext.setLogLevel("ERROR")
      // budget watchdog: per-phase guards stop NEW work, but a job
      // already in flight can outlive the whole budget on its own — a
      // hypervisor-steal burst ran one 1.3 s pipeline trial for 168 s
      // (r14 dev) and pushed the bench into the external kill with the
      // final emits unprinted. Once the budget is spent, cancel every
      // running job (repeatedly — stages launched after a cancel die
      // too): the in-flight phase degrades to its sentinels and the
      // remaining phases sprint to the final emits.
      val watchdog = new Thread(() => {
        try {
          while (true) {
            Thread.sleep(5000)
            if (remainingSec() < 35) {
              System.err.println(
                s"[bench] budget watchdog: cancelling in-flight jobs " +
                  s"(remaining=${remainingSec()}s)")
              s.sparkContext.cancelAllJobs()
            }
          }
        } catch { case _: Throwable => () }
      })
      watchdog.setDaemon(true); watchdog.start()
      s
    }

    def run(name: String): (Double, Double) = {
      val load1 = loadavg().head
      val t0 = System.nanoTime()
      // measurement-honesty fix (r15, outside the timed region): drop
      // localCheckpoint blocks the query leaked into the storage pool —
      // across a ~300-query sweep the accumulation degrades LATER
      // queries' figures up to 10× (measured: q250 warm 49 s as the
      // 15th query of a session vs 5.0 s isolated), and under the
      // stalest-first rotation a different subset suffers each round,
      // silently breaking round-over-round comparability.
      // try/finally (r16): a FAILED query's leaked blocks must be
      // dropped too — the old catch-path return skipped the sweep and
      // left them contaminating every later query.
      try {
        Queries.all(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, load1)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, load1)
      } finally {
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }

    // Prior-round drift guard (r12 verdict ask #3): the 1-trial
    // extended sweep trades round-over-round comparability for
    // wall-clock — a single noisy sample can masquerade as a
    // regression (r12's q122 read 2.8-3.3 s in-sweep, 1.63 s warm in
    // isolation). Load the newest BENCH_r*.json's per-query figures;
    // any query whose FIRST trial lands >1.5× its prior figure earns
    // an immediate isolated re-time, best-of. Scalar "name":secs
    // pairs only (the trials/loadavg arrays don't match the pattern);
    // missing/unreadable file degrades to no guard.
    // The driver WRAPS the raw bench stdout: BENCH_r{N}.json is
    // {"n":N, "rc":…, "tail": "<escaped last ~2000 chars>",
    // "parsed": {compact line}} — quotes inside tail are \"-escaped
    // and the parsed object puts a space after each colon, so the
    // scalar pattern must accept BOTH spellings (the r14 run of this
    // guard silently matched NOTHING against driver artifacts).
    // Consequence accepted below: a driver artifact carries only the
    // 13 headline figures plus whatever extended scalars survive the
    // 2000-char tail — prior EXTENDED coverage is mostly unknowable
    // from it, which is what the sweep-order parity fallback is for.
    val priorScalar =
      "\\\\?\"(q\\d+[A-Za-z0-9_]+)\\\\?\":\\s*(-?\\d+(?:\\.\\d+)?)[,}]".r
    // (round, file name, text) of every prior artifact, newest first,
    // read once: the drift guard, the sweep order and the ledger drift
    // all scan these texts
    val priorFiles: Seq[(Int, String, String)] = try {
      val dir = new java.io.File(
        sys.env.getOrElse("GRAFT_PRIOR_BENCH_DIR", "."))
      Option(dir.listFiles((_: java.io.File, n: String) =>
        n.matches("BENCH_r\\d+\\.json"))).getOrElse(Array.empty).toSeq
        .map(f => ("\\d+".r.findFirstIn(f.getName).getOrElse("0").toInt, f.getName,
          try Files.readString(f.toPath) catch { case _: Throwable => "" }))
        .sortBy(-_._1)
    } catch { case _: Throwable => Seq.empty }
    // inferred current round: newest prior artifact number + 1 — the
    // driver writes BENCH_r{N}.json into the repo every round, so
    // this is stable even when figures are not recoverable
    val currentRound = priorFiles.headOption.map(_._1 + 1).getOrElse(1)
    // raw text of the newest prior artifact (any rc): used to detect
    // which catalog entries EXISTED last round (name mention, even in
    // the escaped tail) — entries newer than every mention are this
    // round's operators and always measure first
    val priorRaw: String = priorFiles.headOption.map(_._3).getOrElse("")
    // newest first, but SKIP artifacts with no per-query data — a
    // killed round's file (BENCH_r13: rc=124, tail only) would
    // otherwise silently disable the guard for the whole next round
    val priorBench: Map[String, Double] = priorFiles.iterator
      .map { case (_, name, txt) =>
        (name, priorScalar.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 > 0).toMap)
      }
      .collectFirst { case (name, m) if m.nonEmpty =>
        System.err.println(s"[bench] drift guard vs $name (${m.size} figures)")
        m
      }.getOrElse(Map.empty)
    def drifted(name: String, sec: Double): Boolean =
      sec >= 0 && priorBench.get(name).exists { p =>
        val d = sec > 1.5 * p
        if (d) System.err.println(
          f"[bench] drift: $name $sec%.2fs > 1.5x prior $p%.2fs — isolated re-time")
        d
      }

    // Trial pair + contention retry (headline set): BENCH_r07 and r08
    // were both produced on a contended host (loadavg stamps proved it,
    // but only post-hoc). A trial pair whose spread exceeds 3× is
    // re-run once — external load is transient, so a third sample
    // usually lands near the true time — and every trial carries the
    // 1-min loadavg at its start, so the artifact is diagnosable
    // per-trial, not just per-run. A 3-entry trials array IS the retry
    // marker.
    val nTrials = 2
    def trialsOf(name: String): Seq[(Double, Double)] = {
      val pair = (1 to nTrials).map(_ => run(name))
      val ok = pair.map(_._1).filter(_ >= 0)
      if (ok.size == nTrials && ok.max / ok.min.max(1e-9) > 3.0) pair :+ run(name)
      else if (ok.nonEmpty && drifted(name, ok.min)) pair :+ run(name)
      else pair
    }
    // Extended set gets ONE trial (66 queries × 2 trials was ~half the
    // ~12-minute wall-clock that got BENCH_r11 SIGKILLed mid-run); the
    // contention guard stays — a trial started under external load
    // (1-min loadavg above half the worker threads) or a failed trial
    // earns one retry, best-of. A 2-entry array IS the retry marker.
    def extTrialsOf(name: String): Seq[(Double, Double)] = {
      val first = run(name)
      if (first._1 < 0 || first._2 > cpus / 2.0 ||
          drifted(name, first._1)) Seq(first, run(name))
      else Seq(first)
    }

    def bestOf(ts: Seq[(Double, Double)]): Double = {
      val ok = ts.map(_._1).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def trialsJsonOf(rs: Seq[(String, Seq[(Double, Double)])]): String =
      rs.map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(_._1).mkString(",") + "]"
      }.mkString("{", ",", "}")
    def loadJsonOf(rs: Seq[(String, Seq[(Double, Double)])]): String =
      rs.map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(_._2).mkString(",") + "]"
      }.mkString("{", ",", "}")

    val scalingNames = Seq("q04_join_shuffle_agg", "q29_minhash_buckets",
      "q30_simhash", "q31_ann_lsh")

    // sentinel-initialize EVERY artifact field up front so the first
    // emit — and any emit a kill interrupts after — is a complete,
    // parseable JSON object with -1 for whatever has not run yet
    artifact("metric") = "\"total\""
    artifact("value") = "-1"
    artifact("unit") = "\"sec\""
    artifact("queries") =
      headline.map(n => "\"" + n + "\":-1").mkString("{", ",", "}")
    artifact("trials") = "{}"
    artifact("extended") =
      extendedNames.map(n => "\"" + n + "\":-1").mkString("{", ",", "}")
    artifact("pipeline_trials_sec") = "[]"
    artifact("pipeline_rec_per_sec") = "-1"
    artifact("pipeline_rows") = "-1"
    artifact("streaming_rec_per_sec") = "-1"
    artifact("streaming_rows") = "-1"
    artifact("streaming_sec") = "-1"
    artifact("streaming_by_batch_size") = "{}"
    artifact("stateful_rec_per_sec") = "-1"
    artifact("stateful_rows") = "-1"
    artifact("stateful_sec") = "-1"
    artifact("stateful_by_batch_size") = "{}"
    artifact("stateful_rocksdb_by_batch_size") =
      "{\"1000000\":-1,\"2000000\":-1}"
    artifact("trial_loadavg") = "{}"
    artifact("loadavg_start") = "[" + loadStart.mkString(",") + "]"
    artifact("loadavg_end") = "[" + loadStart.mkString(",") + "]"
    artifact("budget_sec") = budgetSec.toString
    artifact("extended_skipped") = "0"
    artifact("sf") = "\"" + sfDir + "\""
    artifact("steal_ppm") = "{}"
    artifact("disk_mb_per_s") = "{}"
    artifact("stateful_retried") = "false"
    artifact("rocksdb_retried") = "false"
    for (p <- Seq("stateful", "rocksdb", "headline"))
      artifact(s"${p}_settle_sec") = "-1"
    artifact("scaling_sf1") = scalingNames
      .map(n => "\"" + n + "\":{\"c32\":-1,\"c8\":-1,\"ratio\":-1}")
      .mkString("{", ",", "}")
    artifact("shuffle_ledger") = "{}"
    artifact("shuffle_ledger_dirs") = "{}"
    artifact("shuffle_ledger_drift") = "{}"
    artifact("shuffle_ledger_exempt") = ShuffleLedger.outputDriven.toSeq
      .sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    artifact("phases_done") = "\"none\""

    // a swept figure's cells (rowsPerBatch, rows, sec, rec/s) as the
    // artifact's by-batch-size object, -1 for a cell not measured
    def byBatchJson(cells: Seq[(Long, Long, Double, Double)]): String =
      cells.map { case (n, _, _, rps) =>
        "\"" + n + "\":" + (if (rps < 0) "-1" else rps.round.toString)
      }.mkString("{", ",", "}")
    // the headline figure of a sweep is its best complete cell
    def recordSweep(key: String, cells: Seq[(Long, Long, Double, Double)]): Unit = {
      val complete = cells.filter(_._4 >= 0)
      val (_, rows, sec, rps) =
        if (complete.nonEmpty) complete.maxBy(_._4) else (0L, 0L, 0.0, -1.0)
      artifact(s"${key}_rec_per_sec") = if (rps < 0) "-1" else rps.round.toString
      artifact(s"${key}_rows") = rows.toString
      artifact(s"${key}_sec") = sec.toString
      artifact(s"${key}_by_batch_size") = byBatchJson(cells)
    }

    // r14 verdict ask #4: a forked state-store cell measured through a
    // hypervisor-steal burst or a noisy-neighbor disk window reads
    // 2-6× low with the stamp as the only tell (driver r14: RocksDB@2M
    // 109 k in a disk-bound window vs the judge's 592 k; judge heap
    // 351 k at 3.5 % steal vs the driver's 642 k) — a single in-run
    // retry after a settle catches exactly that. Trigger: fork-window
    // steal > 20,000 ppm, or the disk probe cratering to < 1/4 of the
    // phase-start figure, or a best figure below ~1× the reference's
    // KEY_ORDERED baseline (285,750 rec/s — an honest cell on this
    // box never lands there).
    val stateStoreFloor = 290000.0
    def forkWeatherBad(phase: String): Boolean = {
      val steal = stealPpm(phaseJiffies, cpuJiffies())
      val d0 = phaseDisk.getOrElse(phase, -1L)
      val d1 = diskMbPerS()
      val stealBad = steal > 20000
      val diskBad = d0 > 0 && d1 >= 0 && d1 * 4 < d0
      if (stealBad || diskBad) System.err.println(
        s"[bench] $phase fork weather: steal_ppm=$steal " +
          s"disk_start=${d0}MB/s disk_now=${d1}MB/s")
      stealBad || diskBad
    }

    /** One state-store phase, run once per provider: settle, fork
      * [[StatefulBench]] over `sizes` (the child prints a line per
      * PASS, kill-proofing — the best pass per size wins), `record`
      * the cells, and request one retry of the suspect cells as a
      * follow-up phase. A cell is suspect below the ~1× floor always,
      * or below 500 k (well under this box's honest 600 k+ band) when
      * the fork window's stamps were dirty — the judge's r14 heap cell
      * read 351 k at 35 k ppm steal, above the baseline floor but
      * still a weather artifact. The suspect test reads the window's
      * stamps, so it runs here, before the next phaseStart. The first
      * fork's watchdog is capped at 5 min, floored at `minCapMin`,
      * and keeps `reserveSec` for the contract phases behind it: the
      * child's own budget sheds retries and its per-pass lines survive
      * a kill, so a tight cap degrades cells, never loses them.
      */
    def stateStorePhase(name: String, stateStore: Option[String],
                        sizes: Seq[Long], floorSec: Long, minCapMin: Long,
                        reserveSec: Long,
                        record: Seq[(Long, Long, Double, Double)] => Unit): Phase = {
      val passLine =
        """rowsPerBatch=(\d+)\s+batches=(\d+) rows=(\d+) sec=([\d.]+) rec/s=(-?\d+)""".r
      var passes = List.empty[(Long, Long, Double, Double)]
      def best = sizes.map(n => passes.filter(_._1 == n).maxByOption(_._4)
        .getOrElse((n, 0L, 0.0, -1.0)))
      def fork(cells: Seq[Long], timeoutMin: Long): Unit = {
        passes ++= forkChild("graft.StatefulBench", cells.map(_.toString),
          timeoutMin.toInt, cpus.toString, stateStore)
          .flatMap(l => passLine.findFirstMatchIn(l).map(m => (m.group(1).toLong,
            m.group(3).toLong, m.group(4).toDouble, m.group(5).toDouble)))
        record(best)
      }
      Phase(name, contract = true, floorSec, () => {
        artifact(s"${name}_settle_sec") = settle(maxWaitSec = 45).toString
        fork(sizes, math.min(5L, math.max(minCapMin, (remainingSec() - reserveSec) / 60)))
        val weather = forkWeatherBad(name)
        val suspectCap = if (weather) 500000.0 else stateStoreFloor
        val retryCells = best.filter(_._4 < suspectCap).map(_._1)
        if (retryCells.isEmpty) Nil
        else {
          System.err.println(s"[bench] $name retry requested for cells " +
            s"${retryCells.mkString(",")} (weather=$weather)")
          // settle + a 2-min watchdog: the child (ascending cells, warm
          // shed under its 90 s budget) lands the cheap cell inside it
          Seq(Phase(s"${name}_retry", contract = false, floorSec = 45 + 120, () => {
            settle(maxWaitSec = 45)
            fork(retryCells, timeoutMin = 2)
            artifact(s"${name}_retried") = "true"
            Nil
          }))
        }
      })
    }

    var headlineResults = Seq.empty[(String, Seq[(Double, Double)])]
    def headlinePhase(): Unit = {
      // the forks leave their threads' worth of decaying load behind —
      // the r14 dev run started the headline at loadavg 12.5 and its
      // first trials read 2-5× slow; one bounded settle keeps the
      // phase's figures attributable to the engine
      artifact("headline_settle_sec") = settle(maxWaitSec = 45).toString
      // warm-up: a FULL untimed pass of the headline set, not just q01
      // (r13 judge finding: the binary grew ~2.5× across rounds and the
      // JIT warm-up tail with it — with a single small-query warm-up
      // the first timed trial of each query carries compile time, the
      // best-of-2 total reads ~2× its steady state, and round-over-
      // round totals stop being comparable; steady-state parity with
      // r12 was judge-confirmed once warm). Under budget pressure
      // (weather-slowed forks ahead of us) the warm pass drops and the
      // trials go single-shot — logged and visible in the trials
      // arrays, because a degraded-but-present headline beats an
      // rc=124 that loses pipeline/streaming too.
      val pressure = remainingSec() < 220
      if (pressure) System.err.println(
        s"[bench] budget: headline degraded mode (remaining=${remainingSec()}s)" +
          " — no warm pass, single trials")
      else headline.foreach { n =>
        try {
          Queries.all(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          // same leak hygiene as run(): the warm pass must not seed the
          // storage pool the timed trials then fight
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        } catch { case _: Throwable => () }
      }
      headlineResults =
        if (pressure) headline.map(n => n ->
          // under pressure even single trials stop at the margin — a
          // 5×-slow box can eat 4 min on 13 "quick" queries
          (if (remainingSec() > 60) Seq(run(n)) else Seq((-1.0, -1.0))))
        else headline.map(n => n -> trialsOf(n))
      artifact("value") =
        headlineResults.map(r => bestOf(r._2)).filter(_ >= 0).sum.toString
      artifact("queries") = headlineResults
        .map { case (k, ts) => "\"" + k + "\":" + bestOf(ts) }
        .mkString("{", ",", "}")
      artifact("trials") = trialsJsonOf(headlineResults)
      artifact("trial_loadavg") = loadJsonOf(headlineResults)
    }

    import org.apache.spark.sql.functions._
    def pipelineOver(recs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.streaming.Graft
        .json(recs, "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .filter(col("res.error").isNull && col("res.value.event_type") =!= "error")
        .addField("source", lit("kpipe"))
        .toDF
        .select(col("res.value.event_id"), col("res.value.user_id"),
          col("res.value.value"), col("source"))

    def pipelinePhase(): Unit = {
      // kpipe-comparable figure: records/s through the decode→operators→
      // sink pipeline (BASELINE.md reports the reference's consumer in
      // rec/s). Same decode→transform→sink shape as q37, but unordered
      // (a consumer pipeline has no global sort) and replicated 60× so
      // each timed trial runs multiple seconds — long enough that fixed
      // job overhead and transient host contention can't dominate the
      // best-of-3.
      val replicated = Tables.events(spark, sfDir)
        .withColumn("rep", explode(sequence(lit(0), lit(59))))
      val records = replicated.select(
        col("event_id").cast("string").cast("binary").as("key"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value")))
          .cast("binary").as("value"),
        lit("events").as("topic"), col("rep").as("partition"),
        col("event_id").as("offset"), col("ts").as("timestamp"),
        lit(0).as("timestampType"),
        array().cast("array<struct<key:string,value:binary>>").as("headers"))
      // pre-materialize the input in executor memory (the reference
      // benchmark consumes pre-produced records whose segments sit in the
      // broker's page cache — its measured cost is decode→transform→sink,
      // not ingest IO). Round 4 staged these rows as parquet in /tmp and
      // re-read them per trial; on a contended host that turned the trial
      // into a disk benchmark (BENCH_r04: 29–141 s/trial for work that is
      // ~1.5 s of CPU). An in-memory cache keeps the timed region honest
      // and host-independent. ~6 M rows × ~200 B ≈ 1.2 GB — far under the
      // local[32] storage pool.
      // spread across all cores first — events is a single small parquet
      // file, so without this the decode stage would run on 1-2 partitions
      val s = records.repartition(cpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      try {
        val stagedPipeline = pipelineOver(s)
        val eventRows = s.count()   // materializes the cache
        stagedPipeline.write.format("noop").mode("overwrite").save()   // warm codegen
        // best of 3 timed trials — single-trial numbers swing ±50% with
        // JIT/GC in a fresh JVM; steady-state throughput is the max.
        // Same contention-retry rule as the catalog trials: a >3× spread
        // (BENCH_r08's pipeline trials spanned 129-641 s under external
        // load) earns one extra sample — a 4-entry array is the marker.
        def pipelineTrial(): Double = {
          val t0 = System.nanoTime()
          stagedPipeline.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // budget-aware trials: a steal burst can run one 1.3 s trial for
        // 168 s (r14 dev), so each further trial requires live budget —
        // the first is unconditional (the phase floor already passed)
        val pipelineBase = pipelineTrial() +:
          (2 to 3).flatMap(_ =>
            if (remainingSec() > 60) Some(pipelineTrial()) else None)
        val pipelineTrials =
          if (pipelineBase.max / pipelineBase.min.max(1e-9) > 3.0 &&
              remainingSec() > 60)
            pipelineBase :+ pipelineTrial()
          else pipelineBase
        val pipelineSec = pipelineTrials.min
        val recPerSec = if (pipelineSec > 0) eventRows / pipelineSec else 0.0
        artifact("pipeline_trials_sec") = "[" + pipelineTrials.mkString(",") + "]"
        artifact("pipeline_rec_per_sec") = recPerSec.round.toString
        artifact("pipeline_rows") = eventRows.toString
      } finally {
        // the ~1.2 GB staged input is this phase's alone: free it before
        // the later phases (and the state-store retry forks) need memory
        s.unpersist(blocking = true)
      }
    }

    def streamingPhase(): Unit = {
      // streaming micro-batch throughput — BASELINE.md names "micro-batch
      // streaming throughput for the Kafka path" as the kpipe-comparable
      // streaming figure. Same decode→transform→sink pipeline, running as
      // a real micro-batch StreamingQuery over Kafka-shaped records. The
      // source is rate-micro-batch (deterministic rows per batch, spread
      // over all cores) with the JSON payload synthesized inline — a
      // MemoryStream would measure its own per-row object encoding
      // (~3 µs/row on the scan path, 30× the pipeline itself), and a file
      // source would measure the host's disk. Record synthesis is charged
      // to the pipeline, so the figure is conservative. Batch 0 (codegen
      // warm-up) is excluded, matching the batch trials' warm-up run;
      // batches 1-4 are measured by their own triggerExecution times, so
      // trigger-idle gaps don't inflate the denominator.
      // measured at several batch sizes: per-trigger fixed cost (offset
      // log + commit log writes, planning) is amortized by batch size, so
      // the sweep separates pipeline throughput from trigger overhead —
      // the headline is the best size, the sweep is in the JSON.
      def measureStreaming(rowsPerBatch: Long): (Long, Double, Int) = {
        val synth = spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", rowsPerBatch)
          .option("numPartitions", cpus)
          .load()
        val kafkaShaped = synth.select(
          col("value").cast("string").cast("binary").as("key"),
          to_json(struct(
            col("value").as("event_id"),
            pmod(col("value"), lit(150L)).as("user_id"),
            when(pmod(col("value"), lit(20L)) === 0L, lit("error"))
              .otherwise(lit("click")).as("event_type"),
            round(col("value") / 7.0, 3).as("value"))).cast("binary").as("value"),
          lit("events").as("topic"), lit(0).as("partition"),
          col("value").as("offset"), col("timestamp"),
          lit(0).as("timestampType"),
          array().cast("array<struct<key:string,value:binary>>").as("headers"))
        timeStream(ckpt => pipelineOver(kafkaShaped).writeStream
          .format("noop").option("checkpointLocation", ckpt).start(),
          // deadline bends to the remaining budget (60 s reserved for
          // drain + final emits) so a weather-slowed cell degrades to
          // fewer measured batches instead of an external kill
          deadlineSec = math.max(30L, math.min(180L, remainingSec() - 60)),
          label = s"stateless/$rowsPerBatch")
      }
      // two sizes, not three: the 250k cell prices per-trigger overhead,
      // the 2M cell is where throughput peaks (r10/r11 sweep shape) — the
      // middle cell never changed the headline and cost ~1 min of the
      // wall-clock budget the SIGKILL hardening is trying to reclaim.
      // The 2M HEADLINE cell runs first; the 250k pricing cell is
      // optional under budget pressure (skip logged, -1 sentinel kept).
      val cells = Seq(2000000L) ++
        (if (remainingSec() > 330) Seq(250000L)
         else { System.err.println(
           s"[bench] budget: skipped 250k streaming cell (remaining=${remainingSec()}s)")
           Nil })
      val measured = cells.map { n =>
        val (rows, sec, nBatches) = measureStreaming(n)
        (n, rows, sec, sweepValue(rows, sec, nBatches, 4))
      }
      recordSweep("streaming", Seq(250000L, 2000000L).map { n =>
        measured.find(_._1 == n).getOrElse((n, 0L, 0.0, -1.0))
      })
    }

    def scalingPhase(): Unit = {
      // r15 verdict ask #5: at sf0.1 every headline 8v32 ratio was
      // ≤ 1.15 — per-task scheduling overhead at 32 threads exceeds the
      // sub-1.4 s compute, so the driver's scaling block measured the
      // scheduler, not the plans. This cell times the four shuffle-heavy
      // headline queries on a 10× ramp (the ScaleRamp synthesis:
      // replicated facts with REMAPPED keys — group sizes and join
      // fan-outs stay realistic) in two forked JVMs, 32 and 8 cores, and
      // records sf1 per-query seconds + the c8/c32 ratio.
      val rampDir = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
        "/graft-scaling-sf1"
      // reuse fixtures only when they were ramped from THIS sfDir (a
      // marker file pins the source); /tmp survives within a round's
      // c32 + c8 driver runs, so the second run skips the synthesis.
      // The marker is written only after a synthesis completes, and
      // removed before one starts: an interrupted rewrite must not read
      // as reusable on the next run
      val marker = Paths.get(rampDir, ".src")
      val reuse = new java.io.File(s"$rampDir/lineitem.parquet").exists() &&
        Files.exists(marker) && Files.readString(marker).trim == sfDir
      if (!reuse) Files.deleteIfExists(marker)
      ScaleRamp.synthesize(spark, sfDir, rampDir, factor = 10,
        cpus = cpus, reuse = reuse)
      if (!reuse) Files.writeString(marker, sfDir)
      // settle after the multi-hundred-MB fixture write — the first
      // dev run forked c32 straight into the write's load/page-cache
      // wake (load 12) and read 17.4 s for a 2.4 s query while the
      // later c8 fork ran on a calm box (ratio 0.18, pure weather)
      if (!reuse) settle(maxWaitSec = 45)
      val secs = scala.collection.mutable.Map[(String, String), Double]()
      Seq("32", "8").foreach { c =>
        if (remainingSec() < 140)
          System.err.println(s"[bench] budget: skipped scaling c$c fork " +
            s"(remaining=${remainingSec()}s)")
        else forkChild("graft.ScalingCell",
          Seq(rampDir, scalingNames.mkString(",")),
          timeoutMin = math.max(2L, math.min(5L,
            (remainingSec() - 110) / 60)).toInt, cpus = c)
          .foreach { l =>
            """SCALING (\S+) cpus=(\d+) sec=([\d.]+)""".r
              .findFirstMatchIn(l)
              .foreach(m => secs((m.group(1), m.group(2))) = m.group(3).toDouble)
          }
      }
      artifact("scaling_sf1") = scalingNames.map { n =>
        val c32 = secs.getOrElse((n, "32"), -1.0)
        val c8 = secs.getOrElse((n, "8"), -1.0)
        val ratio = if (c32 > 0 && c8 > 0)
          BigDecimal(c8 / c32).setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .toString
        else "-1"
        "\"" + n + "\":{\"c32\":" + c32 + ",\"c8\":" + c8 +
          ",\"ratio\":" + ratio + "}"
      }.mkString("{", ",", "}")
    }

    def shuffleLedgerPhase(): Unit = {
      // r14 verdict ask #5: the shuffle ledger (measured shuffle-write
      // bytes per query at two scale factors — SCALE_RAMP.md's volume
      // evidence) runs as a bench phase so the per-query byte ratios
      // land IN the driver artifact and a ratio regression is visible
      // round-over-round without a separate tool run. Headline + dedup
      // family on the parent session; the output-driven exemptions
      // (q121/q129) ship machine-readably in shuffle_ledger_exempt.
      val base = sfDir.replaceAll("/+$", "")
      val dirA =
        if (base.endsWith("sf0.1")) base.stripSuffix("sf0.1") + "sf0.01"
        else if (base.endsWith("sf0.01")) base.stripSuffix("sf0.01") + "sf0.001"
        else ""
      if (dirA.isEmpty || !new java.io.File(dirA).isDirectory) {
        System.err.println(s"[bench] shuffle ledger: no smaller sf dir for $sfDir")
        return
      }
      // degraded mode: under budget pressure run the DEDUP-family
      // subset only (the "only fingerprints shuffle" claims are the
      // ledger's primary target) instead of dropping the whole phase
      // — a 4-query partial ledger beats an empty key (this run's
      // weather left 129 s and the r15 dev run lost the phase whole)
      val ledgerNames =
        if (remainingSec() >= 240) ShuffleLedger.benchNames
        else {
          System.err.println(s"[bench] budget: ledger degraded to dedup " +
            s"family (remaining=${remainingSec()}s)")
          Seq("q24_exact_dedup", "q121_containment", "q129_winnow_matches",
            "q143_setsim_join", "q150_exact_decontam")
        }
      val rows = ShuffleLedger.measureRows(spark, ledgerNames,
        dirA, sfDir, proceed = () => remainingSec() > 70)
      artifact("shuffle_ledger") = rows.mkString("{", ",", "}")
      artifact("shuffle_ledger_dirs") =
        s"""{"a":"$dirA","b":"$sfDir"}"""
      // drift vs the newest prior artifact that carried a ledger:
      // flag ratios growing >1.5× (excluding the documented
      // output-driven entries) so a volume regression is one grep
      // escape-tolerant like priorScalar: a driver-wrapped artifact
      // carries the ledger (if at all) inside the \"-escaped tail
      val priorRatioRe =
        ("\\\\?\"(q\\d+[A-Za-z0-9_]+)\\\\?\":\\{\\\\?\"a_bytes\\\\?\":" +
          "[^{}]*\\\\?\"ratio_x\\\\?\":\\s*(-?\\d+(?:\\.\\d+)?)\\}").r
      val priorRatios: Map[String, Double] = priorFiles.iterator
        .map { case (_, _, txt) =>
          priorRatioRe.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(_._2 > 0).toMap
        }.find(_.nonEmpty).getOrElse(Map.empty)
      val nowRatios = rows.flatMap { r =>
        ("\"(q\\d+[A-Za-z0-9_]+)\":\\{.*\"ratio_x\":" +
          "(-?\\d+(?:\\.\\d+)?)\\}").r.findFirstMatchIn(r)
          .map(m => m.group(1) -> m.group(2).toDouble)
      }.toMap
      val drift = nowRatios.toSeq.sortBy(_._1).collect {
        case (q, r) if r > 0 && priorRatios.get(q).exists(p => r > 1.5 * p) &&
            !ShuffleLedger.outputDriven.contains(q) =>
          "\"" + q + "\":{\"prior\":" + priorRatios(q) + ",\"now\":" + r + "}"
      }
      artifact("shuffle_ledger_drift") = drift.mkString("{", ",", "}")
      if (drift.nonEmpty) System.err.println(
        s"[bench] shuffle ledger drift: ${drift.mkString(", ")}")
    }

    def extendedPhase(): Unit = {
      // The sweep runs LAST — the budget shock absorber. Guard: keep a
      // small stop margin for the final emits; once the margin is hit,
      // remaining queries record the -1 sentinel and the skip count is
      // logged — a truncated sweep must be visible in the artifact,
      // never silent (and never an rc=124). Execution order is
      // STALEST-FIRST (r14 verdict ask #3: newest-first shed the SAME
      // contiguous oldest block every constrained round, silently
      // halving round-over-round comparability): queries with NO
      // figure in the newest parseable prior artifact — shed last
      // round, or new this round — run first, then the previously-
      // measured set; within each group newest-first. The shed tail is
      // then exactly the set with the freshest prior figures, so
      // BENCH_r{N} ∪ BENCH_r{N-1} covers the catalog and no query goes
      // two constrained rounds unmeasured. A cumulative artifact line
      // re-emits every ~75 s DURING the sweep, so even an external
      // kill mid-sweep preserves every completed query.
      val extStopMarginSec = 50L
      var extSkipped = 0
      val extBuf = scala.collection.mutable.LinkedHashMap[String, Seq[(Double, Double)]]()
      def extendedJsonOf(): String = extendedNames.map { n =>
        "\"" + n + "\":" + extBuf.get(n).map(bestOf).getOrElse(-1.0)
      }.mkString("{", ",", "}")
      var lastPartialEmit = System.nanoTime()
      // Sweep order, three layers (r14 ask #3 — the shed tail must
      // rotate round-over-round):
      //  1. THIS round's new operators first (names absent from the
      //     newest prior artifact — catalog order is chronological, so
      //     everything past the last mentioned name is new);
      //  2. if the prior artifact yields real extended coverage (raw
      //     stdout artifact, ≥1/3 of the names), stalest-first:
      //     unmeasured-last-round before measured;
      //  3. otherwise (driver-wrapped artifact: tail-truncated, prior
      //     extended coverage unknowable) alternate the sweep DIRECTION
      //     by round parity — odd rounds oldest-first, even rounds
      //     newest-first — so any two consecutive constrained rounds
      //     cover the catalog between them.
      val lastKnownIdx = extendedNames.lastIndexWhere(priorRaw.contains)
      val (oldOnes, newOnes) = extendedNames.splitAt(lastKnownIdx + 1)
      val priorKnown = oldOnes.count(priorBench.contains)
      val restOrder =
        if (priorKnown >= oldOnes.size / 3) {
          val (stale, fresh) =
            oldOnes.reverse.partition(n => !priorBench.contains(n))
          System.err.println(s"[bench] sweep order: ${newOnes.size} new, " +
            s"${stale.size} unmeasured-last-round, then ${fresh.size} measured")
          stale ++ fresh
        } else {
          val oldestFirst = currentRound % 2 == 1
          System.err.println(s"[bench] sweep order: ${newOnes.size} new, " +
            s"then parity ${if (oldestFirst) "oldest" else "newest"}-first " +
            s"(round $currentRound, prior coverage $priorKnown/${oldOnes.size})")
          if (oldestFirst) oldOnes else oldOnes.reverse
        }
      (newOnes.reverse ++ restOrder).foreach { n =>
        if (remainingSec() > extStopMarginSec) extBuf(n) = extTrialsOf(n)
        else { extSkipped += 1; extBuf(n) = Seq((-1.0, -1.0)) }
        if (System.nanoTime() - lastPartialEmit > 75L * 1000 * 1000 * 1000) {
          lastPartialEmit = System.nanoTime()
          artifact("extended") = extendedJsonOf()
          phaseEnd("extended_partial")
        }
      }
      if (extSkipped > 0) System.err.println(
        s"[bench] budget: skipped oldest $extSkipped extended queries " +
          s"(remaining=${remainingSec()}s)")
      artifact("extended_skipped") = extSkipped.toString
      artifact("extended") = extendedJsonOf()
      artifact("trial_loadavg") = loadJsonOf(headlineResults ++
        extendedNames.map(n => n -> extBuf(n)))
    }

    def step(body: => Unit): () => Seq[Phase] = () => { body; Nil }
    // The phase table. Contract phases first-pass in this order: the
    // forked state-store phases FIRST (pristine box, no parent session
    // yet — see the lazy `spark` note), then the parent-session phases.
    // Their retries and the optional phases follow on what is left;
    // the extended sweep runs LAST as the budget shock absorber (every
    // high-value figure is already in the artifact when budget pressure
    // starts shedding queries). Floors: the whole phase cannot do
    // useful work with less — in-phase shedding handles the rest.
    val table = Seq(
      // STATEFUL streaming throughput — the operator a real deployment
      // sizes is the keyed-state path (flatMapGroupsWithState), not the
      // stateless decode pipeline; the reference's KEY_ORDERED figure
      // (BASELINE.md: 285,750 rec/s @0 µs) is its natural comparable.
      // SimHash + band explode + per-bucket state scan all inside the
      // measured trigger, swept over batch sizes (per-trigger commit
      // cost amortizes with batch size; 500k prices it, 2M is the peak).
      stateStorePhase("stateful", None, Seq(500000L, 2000000L),
        floorSec = 400, minCapMin = 4, reserveSec = 330,
        recordSweep("stateful", _)),
      // The same keyed-state path on the RocksDB provider: the
      // HDFS-backed heap store snapshots the WHOLE store per commit, so
      // its commit cost scales with total state; RocksDB (changelog
      // mode) commits only the delta — the crossover is exactly the
      // state-volume regime the big batches reach.
      stateStorePhase("rocksdb", Some("rocksdb"), Seq(1000000L, 2000000L),
        floorSec = 300, minCapMin = 3, reserveSec = 280,
        cells => artifact("stateful_rocksdb_by_batch_size") = byBatchJson(cells)),
      Phase("headline", contract = true, floorSec = 0, step(headlinePhase())),
      Phase("pipeline", contract = true, floorSec = 100, step(pipelinePhase())),
      // a streaming cell started with < 2 min left cannot finish its 4
      // measured batches + drain before the external kill
      Phase("streaming", contract = true, floorSec = 120, step(streamingPhase())),
      // yields to every prior phase and sheds whole under pressure (the
      // driver's 780 s window rarely holds it; expanded-budget runs do)
      Phase("scaling", contract = false, floorSec = 420, step(scalingPhase())),
      Phase("shuffle_ledger", contract = false, floorSec = 110,
        step(shuffleLedgerPhase())),
      Phase("extended", contract = false, floorSec = 0, step(extendedPhase())))
    schedule(table, remainingSec, phaseStart, phaseEnd)

    // stop the session BEFORE the final emit so no Spark shutdown
    // logging can interleave after the last compact line
    spark.stop()
    emit("all")
  }
}
