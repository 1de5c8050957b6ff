package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

/** The JVM half of the benchmark: runs one workload against the
  * project's public entry points and writes `result.json` into the work
  * directory. The Python front end (`run.py`) builds the classes,
  * generates the seeded inputs into the work directory, launches this
  * main, checks the catalog results against DuckDB and prints the final
  * line.
  *
  * Arguments: `<workload> <seconds> <trace 0|1> <workDir> <cores>
  * <corrupt 0|1>`. The session runs on `local[cores]`; `corrupt` perturbs
  * one expected value so the checks must fail.
  */
object PerfBench {

  final case class Check(name: String, expected: String, actual: String) {
    def ok: Boolean = expected == actual
  }

  /** What a workload hands back to `main`. */
  final class Outcome {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    val checks = mutable.ArrayBuffer.empty[Check]
    var attempted = 0L
    var failed = 0L
    var firstTimedUs = 0L
    var retainedHeapMb = 0.0
  }

  final case class Ctx(spark: SparkSession, seconds: Int, tracer: Tracer,
                       work: Path, corrupt: Boolean, cores: Int) {
    def sc = spark.sparkContext
    def dir(name: String): Path = {
      val d = work.resolve(name); Files.createDirectories(d); d
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsS, traceS, workS, coresS, corruptS) = args
    val work = Paths.get(workS).toAbsolutePath
    val cores = coresS.toInt
    val jiffiesStart = graft.Bench.cpuJiffies()
    val loadStart = graft.Bench.loadavg().head
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stopTimeout", "15s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traceS == "1")
    if (tracer.enabled) spark.sparkContext.addSparkListener(new SchedulerListener(tracer))
    note("session ready")
    // the front end writes the inputs while the session starts
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(work.resolve("inputs.ready"))) {
      require(System.nanoTime() < deadline, "inputs not written within 120 s")
      Thread.sleep(10)
    }
    val ctx = Ctx(spark, secondsS.toInt, tracer, work, corruptS == "1", cores)
    val out = workload match {
      case "streaming" => Streaming.run(ctx)
      case "catalog" => Catalog.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out.info("steal_ppm") = graft.Bench.stealPpm(jiffiesStart, graft.Bench.cpuJiffies()).toString
    out.info("load1_start") = loadStart.toString
    out.info("load1_end") = graft.Bench.loadavg().head.toString
    if (tracer.enabled) tracer.writeJsonLines(work.resolve("spans.jsonl"))
    writeResult(work.resolve("result.json"), out)
    spark.stop()
  }

  private def writeResult(path: Path, o: Outcome): Unit = {
    def nums(m: collection.Map[String, Double]) = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val checks = o.checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
      "expected" -> Json.str(c.expected), "actual" -> Json.str(c.actual),
      "ok" -> c.ok.toString))).mkString("[", ",", "]")
    Files.writeString(path, Json.obj(Seq(
      "e2e" -> nums(o.e2e), "layers" -> nums(o.layers),
      "info" -> Json.obj(o.info.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "checks" -> checks, "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "first_timed_us" -> o.firstTimedUs.toString,
      "retained_heap_mb" -> Json.num(o.retainedHeapMb), "peak_rss_mb" -> Json.num(peakRssMb()))))
  }

  // ------------------------------------------------------------------ //
  // shared helpers                                                      //
  // ------------------------------------------------------------------ //

  private val jvmStartNs = System.nanoTime()
  /** A progress line on standard error, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStartNs) / 1e9}%7.2f s $msg")

  /** Heap still in use after a full collection, in MB: what the program
    * retains (state stores, cached and leaked blocks, session state).
    */
  def retainedHeapMb(): Double = {
    // collect until the heap stops shrinking: the context cleaner and the
    // listener bus release what a collection found unreachable only after
    // it, and later on a busy host
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); heap.getHeapMemoryUsage.getUsed }
    var used = collect()
    var previous = Long.MaxValue
    var rounds = 0
    while (previous - used > 1048576L && rounds < 10) {
      Thread.sleep(300)
      previous = used
      used = collect()
      rounds += 1
    }
    used / 1048576.0
  }

  /** VmHWM of this process in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, its
    * value, and the sample count. With fewer than eleven samples it is the
    * maximum, reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (100, if (n == 0) 0.0 else s.last, n)
    else (math.floor(100.0 * (n - 10) / n).toInt, s(n - 11), n)
  }

  /** A decimal sum of checksum terms: order-independent and overflow-free. */
  def hashSum(h: Column): Column = coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))

  /** Observes the row count and an order-independent checksum of every
    * row of `df`; the pair is read from `obs` once `df` has run.
    */
  def observeRows(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)), hashSum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)))
  def observed(obs: Observation): String = obs.get.values.mkString(" ")

  /** Collects every progress event of the streaming queries in this session. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def withData: Seq[StreamingQueryProgress] =
      events.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
  }

  def startUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Starts the query on the backlog, waits until every trigger of the
    * plan has committed, stops it and returns the triggers' progress
    * reports. Throws if the drain does not finish within 150 s.
    */
  def drain(ctx: Ctx, name: String, plan: Plan,
            writer: org.apache.spark.sql.streaming.DataStreamWriter[_], o: Outcome): Seq[StreamingQueryProgress] = {
    val log = new ProgressLog
    ctx.spark.streams.addListener(log)
    val q = writer.option("checkpointLocation", ctx.dir(s"$name-checkpoint").toString).start()
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (log.withData.length < plan.groups && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(10)
    o.retainedHeapMb = math.max(o.retainedHeapMb, retainedHeapMb())
    q.stop()
    ctx.spark.streams.removeListener(log)
    note(s"$name: drained")
    val all = log.withData
    require(all.length == plan.groups, s"$name drained ${all.length} of ${plan.groups} triggers")
    all
  }

  /** Adds the trigger spans, then the engine-phase medians and scheduler
    * totals per measured trigger.
    */
  def triggerLayers(ctx: Ctx, o: Outcome, all: Seq[StreamingQueryProgress],
                    measured: Seq[StreamingQueryProgress]): Unit = {
    val prefix = ctx.tracer.stream._1
    all.foreach { p =>
      val s = startUs(p)
      ctx.tracer.add(Span(ctx.tracer.triggerSpanId(p.batchId), 0L, ctx.tracer.triggerTrace(p.batchId), "trigger",
        s, s + (durMs(p, "triggerExecution") * 1000).toLong))
    }
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
      .foreach(k => o.layers(s"$prefix.trigger.${k}_ms") = median(measured.map(durMs(_, k))))
    val ids = measured.map(p => ctx.tracer.triggerSpanId(p.batchId)).toSet
    val subtree = Trees.descendants(ctx.tracer.all, ids)
    def perTrigger(f: TaskTotals => Long): Double =
      subtree.toSeq.map(id => Option(ctx.tracer.totals.get(id)).map(f).getOrElse(0L)).sum.toDouble /
        math.max(1, measured.length)
    o.layers(s"$prefix.trigger.task_s") = perTrigger(_.taskMs.get) / 1000.0
    o.layers(s"$prefix.trigger.gc_s") = perTrigger(_.gcMs.get) / 1000.0
    o.layers(s"$prefix.trigger.shuffle_bytes") = perTrigger(_.shuffleBytes.get)
  }

  /** The measured window of one stream: rows, wall time from the first
    * measured trigger's start to the last one's end, and the median trigger.
    */
  final case class Window(rows: Long, startUs: Long, endUs: Long, medianMs: Double)

  def window(measured: Seq[StreamingQueryProgress]): Window = {
    val durations = measured.map(durMs(_, "triggerExecution"))
    note("measured trigger ms: " + durations.map(_.toLong).mkString(" "))
    val (pct, v, n) = tail(durations)
    note(s"trigger tail: p$pct $v ms over $n triggers")
    Window(measured.map(_.numInputRows).sum, measured.map(startUs).min,
      measured.map(p => startUs(p) + (durMs(p, "triggerExecution") * 1000).toLong).max,
      median(durations))
  }
}

/** `streaming`: the two streaming queries, drained one after the other in
  * one session: [[KafkaPipeline]], then [[KeyedState]]. Each measures its
  * own window after its own warm-up triggers.
  */
object Streaming {
  import PerfBench._

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    ctx.tracer.stream = ("kafka", 0)
    val kafka = KafkaPipeline.run(ctx, o)
    val kafkaEndUs = Clock.nowUs()
    ctx.tracer.stream = ("keyed", 1)
    val keyed = KeyedState.run(ctx, o)
    val ws = Seq(kafka, keyed)
    o.e2e("rec_per_s") = ws.map(_.rows).sum / (ws.map(w => w.endUs - w.startUs).sum / 1e6)
    o.e2e("op_ms") = math.sqrt(kafka.medianMs * keyed.medianMs)
    // untimed time before each stream's window: launch to the first
    // measured kafka trigger, plus the keyed stream's start and warm-up
    o.firstTimedUs = kafka.startUs + (keyed.startUs - kafkaEndUs)
    o.info("kafka_window") = kafka.toString
    o.info("keyed_window") = keyed.toString
    o
  }
}

/** Span-tree helpers. */
object Trees {
  def descendants(spans: Seq[Span], roots: Set[Long]): Set[Long] = {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    val seen = mutable.Set.empty[Long] ++ roots
    var frontier = roots.toSeq
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(children.getOrElse(_, Nil)).filterNot(seen)
      seen ++= frontier
    }
    seen.toSet
  }
}

/** Where a stream's backlog is and how it is cut: `rows`
  * records per trigger, the first `warm` triggers untimed, `groups`
  * triggers in all. Written by the Python generator beside the backlog.
  */
final case class Plan(backlog: Path, rows: Int, warm: Int, groups: Int)

object Plan {
  def read(dir: Path): Plan = {
    val Array(rows, warm, groups) = Files.readString(dir.resolve("plan.txt")).trim.split("\\s+").map(_.toInt)
    Plan(dir.resolve("backlog"), rows, warm, groups)
  }
}

/** `kafka_pipeline`: a closed-loop drain of a seeded backlog of
  * Kafka-shaped JSON records through `Graft.json` and
  * `foreachBatch(Dlq.processBatch)`. Failed rows go through `Dlq.toDlq`
  * to a noop DLQ sink, passed rows through `Pipeline.filter`,
  * `addField` and `removeFields` to a noop sink. Each sink observes a
  * row count and an order-independent checksum of what it received.
  */
object KafkaPipeline {
  import PerfBench._

  val Schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

  /** The passed-row chain of operators. */
  def transform(passed: DataFrame): DataFrame =
    graft.ops.Pipeline(passed)
      .filter(col("res.value.event_type") =!= "error")
      .addField("source", lit("kpipe"))
      .removeFields("value", "headers", "timestampType")
      .toDF

  /** Checksum terms, defined as in the generator (`streams_data.py`). */
  private val sinkTerm = crc32(concat_ws("|", Seq(col("res.value.event_id"), col("res.value.user_id"),
    col("res.value.event_type"), round(col("res.value.value") * 100).cast("long"), col("source"),
    col("offset")).map(_.cast("string")): _*).cast("binary"))
  private val dlqTerm = crc32(col("value"))

  /** Per trigger: passed, failed and sunk counts, sink and DLQ checksums. */
  final case class BatchResult(passed: Long, failed: Long, sunk: Long, sinkSum: BigDecimal, dlqSum: BigDecimal)

  def run(ctx: Ctx, o: Outcome): Window = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("kafka")
    val plan = Plan.read(dir)
    val expected = Files.readAllLines(dir.resolve("expected.txt")).asScala.map { line =>
      val f = line.trim.split("\\s+")
      f(0).toLong -> BatchResult(f(1).toLong, f(2).toLong, f(3).toLong, BigDecimal(f(4)), BigDecimal(f(5)))
    }.toMap

    val results = new java.util.concurrent.ConcurrentHashMap[Long, BatchResult]()
    val tr = ctx.tracer
    val body: (DataFrame, Long) => Unit = (batch, batchId) => {
      val sc = batch.sparkSession.sparkContext
      val trace = tr.triggerTrace(batchId)
      tr.span(sc, "foreachBatch", tr.triggerSpanId(batchId), trace) { bodyId =>
        val decoded = graft.streaming.Graft.json(batch, Schema).toDF
        tr.span(sc, "Dlq.processBatch", bodyId, trace) { dlqId =>
          val sinkObs = Observation()
          val dlqObs = Observation()
          val outcome = graft.streaming.Dlq.processBatch(decoded, col("res.error"),
            sink = passed => tr.span(sc, "sink.passed", dlqId, trace) { _ =>
              transform(passed).observe(sinkObs, count(lit(1)), hashSum(sinkTerm))
                .write.format("noop").mode("overwrite").save()
            },
            // processBatch hands this sink the failed rows already rebuilt
            // by Dlq.toDlq as DLQ records
            dlqSink = Some(dlqRecords => tr.span(sc, "sink.dlq", dlqId, trace) { _ =>
              dlqRecords.observe(dlqObs, count(lit(1)), hashSum(dlqTerm))
                .write.format("noop").mode("overwrite").save()
            }))
          val s = sinkObs.get.values.toSeq
          val d = dlqObs.get.values.toSeq
          results.put(batchId, BatchResult(outcome.passed, outcome.failed, s.head.asInstanceOf[Long],
            BigDecimal(s(1).asInstanceOf[java.math.BigDecimal]),
            BigDecimal(d(1).asInstanceOf[java.math.BigDecimal])))
        }
      }
    }
    val all = drain(ctx, "kafka_pipeline", plan, spark.readStream
      .schema(spark.read.parquet(plan.backlog.toString).schema)
      .option("maxFilesPerTrigger", ctx.cores.toLong).parquet(plan.backlog.toString)
      .writeStream.foreachBatch(body), o)
    val measured = all.filter(_.batchId >= plan.warm)
    val w = window(measured)

    // correctness of every trigger, warm-up included
    o.attempted += all.length
    val failedBefore = o.failed
    all.foreach { p =>
      val e0 = expected(p.batchId)
      val e = if (ctx.corrupt && p.batchId == 0) e0.copy(sunk = e0.sunk + 1) else e0
      val got = Option(results.get(p.batchId))
      if (!got.contains(e) || p.numInputRows != plan.rows) {
        o.failed += 1
        o.checks += Check(s"trigger ${p.batchId}: rows, passed/failed/sunk, checksums",
          s"${plan.rows} $e", s"${p.numInputRows} ${got.getOrElse("no result")}")
      }
    }
    o.checks += Check("kafka triggers whose counts and checksums match the generator",
      all.length.toString, (all.length - (o.failed - failedBefore)).toString)

    if (tr.enabled) {
      triggerLayers(ctx, o, all, measured)
      val spans = tr.all
      val inMeasured = Trees.descendants(spans, measured.map(p => ctx.tracer.triggerSpanId(p.batchId)).toSet)
      val dlqSpans = spans.filter(s => s.name == "Dlq.processBatch" && inMeasured(s.id))
      o.layers("dlq.batch_ms") = median(dlqSpans.map(s => (s.endUs - s.startUs) / 1000.0))
      o.layers("dlq.jobs_per_batch") = Trees.descendants(spans, dlqSpans.map(_.id).toSet).toSeq
        .map(id => Option(tr.totals.get(id)).map(_.jobs.get).getOrElse(0L)).sum.toDouble /
        math.max(1, dlqSpans.length)
      val r = measured.flatMap(p => Option(results.get(p.batchId)))
      o.layers("dlq.failed_share") = r.map(_.failed).sum.toDouble / math.max(1L, r.map(b => b.passed + b.failed).sum)
      // decode alone, then decode plus the operator chain, over the cached
      // groups of the first measured triggers, each to the noop sink
      val groups = (plan.warm until math.min(plan.groups, plan.warm + 4)).map(g => f"g$g%06d-").toSet
      val files = Files.list(plan.backlog).iterator.asScala.map(_.toString)
        .filter(f => groups(f.split('/').last.take(8))).toSeq.sorted
      val cached = spark.read.parquet(files: _*).persist(StorageLevel.MEMORY_ONLY)
      val n = cached.count().toDouble
      def recPerS(df: => DataFrame): Double = median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        n / ((System.nanoTime() - t0) / 1e9)
      })
      o.layers("formats.decode_rec_per_s") = recPerS(graft.streaming.Graft.json(cached, Schema).toDF)
      o.layers("ops.transform_rec_per_s") = recPerS(transform(
        graft.streaming.Graft.json(cached, Schema).toDF.where(col("res.error").isNull)))
      cached.unpersist()
    }
    w
  }
}

/** `keyed_state`: a closed-loop drain of seeded 12-token documents with
  * event times through `Stateful.nearDupCandidates` on the default state
  * store. The output observes a candidate count and checksum per trigger,
  * which must equal those of [[NearDupModel]] on the same documents.
  */
object KeyedState {
  import PerfBench._

  val MaxDist = 3
  val MaxPerBucket = 1024
  /** Event time of document `id` is BaseMs + id milliseconds. */
  val BaseMs = 1700000000000L

  def run(ctx: Ctx, o: Outcome): Window = {
    val spark = ctx.spark
    import spark.implicits._
    val plan = Plan.read(ctx.work.resolve("keyed"))
    val mixUdf = udf((id: Long, d: Long, b: Int, hm: Int) => NearDupModel.mix(id, d, b, hm))
    val input = spark.readStream.schema("id BIGINT, ts TIMESTAMP, text STRING")
      .option("maxFilesPerTrigger", ctx.cores.toLong).parquet(plan.backlog.toString)
      .as[graft.streaming.Stateful.DocEvent]
    val all = drain(ctx, "keyed_state", plan, graft.streaming.Stateful
      .nearDupCandidates(input, watermarkDelay = "10 seconds", stateTtlMs = 3600L * 1000)
      .observe("candidates", count(lit(1)).as("n"),
        hashSum(mixUdf(col("id"), col("dup_of"), col("band"), col("hamming"))).as("h"))
      .writeStream.outputMode("append").format("noop"), o)
    val measured = all.filter(_.batchId >= plan.warm)
    val w = window(measured)

    // correctness: the sequential reference model, trigger by trigger
    val texts = spark.read.parquet(plan.backlog.toString).select("id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val model = new NearDupModel(MaxDist, MaxPerBucket)
    o.attempted += all.length
    val failedBefore = o.failed
    all.foreach { p =>
      val from = (p.batchId * plan.rows).toInt
      val (n0, h0) = (model.candidates, model.checksum)
      model.batch(texts.slice(from, from + plan.rows).map { case (id, t) => (id, BaseMs + id, t) }.toIndexedSeq)
      val exp = (model.candidates - n0 + (if (ctx.corrupt && p.batchId == 0) 1 else 0),
        BigDecimal(model.checksum - h0))
      val got = Option(p.observedMetrics.get("candidates")).map(r => (r.getLong(0), BigDecimal(r.getDecimal(1))))
      if (!got.contains(exp) || p.numInputRows != plan.rows) {
        o.failed += 1
        o.checks += Check(s"trigger ${p.batchId}: rows, candidates and checksum",
          s"${plan.rows} $exp", s"${p.numInputRows} ${got.getOrElse("none")}")
      }
    }
    o.checks += Check("keyed triggers whose candidates match the reference model",
      all.length.toString, (all.length - (o.failed - failedBefore)).toString)
    note("keyed_state: checked against the reference model")

    if (ctx.tracer.enabled) {
      triggerLayers(ctx, o, all, measured)
      val ops = measured.map(_.stateOperators.head)
      o.layers("state.rows_total") = ops.last.numRowsTotal.toDouble
      o.layers("state.memory_mb") = ops.last.memoryUsedBytes / 1048576.0
      o.layers("state.rows_removed") = ops.map(_.numRowsRemoved).sum.toDouble
      o.layers("state.updates_ms") = median(ops.map(_.allUpdatesTimeMs.toDouble))
      o.layers("state.removals_ms") = median(ops.map(_.allRemovalsTimeMs.toDouble))
      o.layers("state.commit_ms") = median(ops.map(_.commitTimeMs.toDouble))
      o.layers("stateful.candidates") = measured.flatMap(p =>
        Option(p.observedMetrics.get("candidates")).map(_.getLong(0))).sum.toDouble
      // SimHash alone, one thread, outside Spark
      val sample = texts.take(100000).map(_._2)
      o.layers("dedup.simhash_rec_per_s") = median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        var acc = 0L
        sample.foreach(t => acc ^= graft.dedup.Dedup.simhashLong(t))
        o.info("simhash_xor") = acc.toString
        sample.length / ((System.nanoTime() - t0) / 1e9)
      })
    }
    w
  }
}

/** `catalog`: three `graft.Bench.headline` queries on tables at scale
  * factor 0.01, then three many-job queries at 0.001, each built with
  * `Queries.all(name)` and materialized through the noop sink, in this
  * fixed order. Between them they reach `Tables`, `dedup`, `sim`,
  * `functions`, `Funnel`, `Lineage`, `NaiveBayes`, `Eval` and
  * `TextStats`. The first pass writes every result for the DuckDB check
  * and warms the session; the timed passes follow. Leaked persistent
  * RDDs are counted, not swept.
  */
object Catalog {
  import PerfBench._

  val Headline: Seq[String] = Seq("q04_join_shuffle_agg", "q24_exact_dedup", "q28_cosine_topk")
  /** Queries over the `ops` operators; these also report build time and leaks. */
  val OpsQueries: Seq[String] = Seq("q213_item_similarity", "q256_nb_auc", "q170_zipf_report")
  def queries(tables: Path): Seq[(String, String)] =
    Headline.map(_ -> tables.resolve("sf0.01").toString) ++
      OpsQueries.map(_ -> tables.resolve("sf0.001").toString)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val sc = ctx.sc
    val tr = ctx.tracer
    val list = queries(ctx.work.resolve("tables"))
    val results = ctx.dir("results")

    // set-up: the first pass writes each result for the oracle check and
    // observes its row count and checksum, which every timed pass must
    // repeat. Its queries run concurrently: the pass is untimed, and most
    // of it is the driver's first planning and code generation.
    o.attempted = 1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(list.length)
    val verified = try {
      list.map { case (name, dir) =>
        pool.submit[Option[(String, String)]] { () =>
          try {
            val obs = Observation()
            observeRows(graft.Queries.all(name)(spark, dir), obs).coalesce(1).write.mode("overwrite")
              .parquet(results.resolve(name).toString)
            Some(name -> observed(obs))
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}"); None
          }
        }
      }.flatMap(_.get).toMap
    } finally pool.shutdown()
    val broken = list.map(_._1).filterNot(verified.contains)
    if (broken.nonEmpty) o.failed += 1
    o.checks += Check("queries that ran in the verification pass", list.length.toString,
      (list.length - broken.length).toString)
    note("catalog: verification pass written")
    Files.writeString(results.resolve("oracle.json"), Json.obj(list.map { case (name, dir) =>
      name -> Json.obj(Seq("dir" -> Json.str(dir), "sql" -> Json.str(graft.SparkEntry.oracleSql(name))))
    }))

    // timed passes: a fixed number, one per six seconds of the run
    val passes = math.max(1, ctx.seconds / 6)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val builds = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val leaked = mutable.Map.empty[String, Int]
    val querySpans = mutable.Map.empty[String, Long]
    val repeated = mutable.Map.empty[(Int, String), String]
    o.firstTimedUs = Clock.nowUs()
    (1 to passes).foreach { pass =>
      o.attempted += 1
      val p0 = System.nanoTime()
      // every query runs, whatever an earlier one of the pass did
      val ok = list.map { case (name, dir) =>
        val trace = s"pass$pass/$name"
        val persisted = sc.getPersistentRDDs.keySet
        try {
          val q0 = System.nanoTime()
          tr.span(sc, "query", 0L, trace) { qid =>
            querySpans(name) = qid
            val df = tr.span(sc, "build", qid, trace)(_ => graft.Queries.all(name)(spark, dir))
            builds.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e9
            val obs = Observation()
            tr.span(sc, "execute", qid, trace)(_ =>
              observeRows(df, obs).write.format("noop").mode("overwrite").save())
            repeated((pass, name)) = observed(obs)
          }
          times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e9
          leaked(name) = (sc.getPersistentRDDs.keySet -- persisted).size
          verified.get(name).contains(repeated((pass, name)))
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] pass $pass $name failed: ${e.getMessage}"); false
        }
      }.forall(identity)
      if (!ok) o.failed += 1
      passTimes += (System.nanoTime() - p0) / 1e9
    }
    o.retainedHeapMb = retainedHeapMb()
    // each timed execution must repeat the verification pass's rows
    val differ = repeated.toSeq.sortBy(_._1).filterNot { case ((_, name), got) => verified.get(name).contains(got) }
    differ.foreach { case ((pass, name), got) =>
      o.checks += Check(s"pass $pass $name: row count and checksum as in the verification pass",
        verified.getOrElse(name, "no result"), got)
    }
    o.checks += Check("timed query executions that repeat the verification pass",
      (passes * list.length).toString, (repeated.size - differ.length).toString)

    note(s"catalog: $passes timed passes")
    // rows of every table the queries read, as counted by the generator
    val rows = Files.readString(ctx.work.resolve("tables").resolve("rows.txt")).trim.toLong
    val perQuery = list.map { case (name, _) => name -> median(times.getOrElse(name, Seq(0.0)).toSeq) }
    o.e2e("rec_per_s") = rows / median(passTimes.toSeq)
    o.e2e("op_ms") = 1000 * math.exp(perQuery.map(q => math.log(math.max(q._2, 1e-6))).sum / perQuery.length)
    val (pct, v, n) = tail(times.values.flatten.toSeq)
    o.info("op_tail") = s"p$pct ${1000 * v} ms over $n query executions"
    o.info("passes") = passes.toString
    o.info("pass_s") = passTimes.mkString(",")

    if (tr.enabled) {
      val spans = tr.all
      def owned(root: Long, f: TaskTotals => Long): Long =
        Trees.descendants(spans, Set(root)).toSeq.map(id => Option(tr.totals.get(id)).map(f).getOrElse(0L)).sum
      list.foreach { case (name, _) =>
        val root = querySpans.getOrElse(name, -1L)
        o.layers(s"q.$name.s") = median(times.getOrElse(name, Seq(0.0)).toSeq)
        o.layers(s"q.$name.jobs") = owned(root, _.jobs.get).toDouble
        o.layers(s"q.$name.stages") = owned(root, _.stages.get).toDouble
        o.layers(s"q.$name.shuffle_bytes") = owned(root, _.shuffleBytes.get).toDouble
        if (OpsQueries.contains(name)) {
          o.layers(s"q.$name.build_s") = median(builds.getOrElse(name, Seq(0.0)).toSeq)
          o.layers(s"q.$name.leaked_rdds") = leaked.getOrElse(name, 0).toDouble
        }
      }
      val timed = spans.filter(s => s.name == "query").map(_.id).toSet
      val tree = Trees.descendants(spans, timed).toSeq
      def perPass(f: TaskTotals => Long): Double =
        tree.map(id => Option(tr.totals.get(id)).map(f).getOrElse(0L)).sum.toDouble / passes
      o.layers("catalog.jobs_total") = perPass(_.jobs.get)
      o.layers("catalog.task_s") = perPass(_.taskMs.get) / 1000.0
      o.layers("catalog.gc_s") = perPass(_.gcMs.get) / 1000.0
      o.layers("catalog.spill_bytes") = perPass(_.spillBytes.get)
    }
    o
  }
}
