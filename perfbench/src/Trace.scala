package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Epoch microseconds read from the monotonic clock, so spans recorded
  * here and Spark's epoch-millisecond listener times share one axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed interval. `trace` groups the spans of one trigger or one
  * query execution; `parent` is 0 for a root.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startUs: Long, endUs: Long)

/** Work the Spark scheduler did on behalf of one benchmark span. */
final class TaskTotals {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** In-memory span recorder. Spans stay in memory and are written out
  * once, at the end of the run. When disabled, `span` only runs its body
  * and no Spark listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  /** Scheduler totals per owning span id. */
  val totals = new ConcurrentHashMap[Long, TaskTotals]()
  /** Name and number of the streaming query now running; the queries of
    * a run drain one after another.
    */
  @volatile var stream: (String, Int) = ("", 0)

  /** Fixed span id of the current stream's trigger with this batch id, so
    * children recorded before the trigger's progress event can name it.
    */
  def triggerSpanId(batchId: Long): Long = ((stream._2 + 1).toLong << 40) + batchId
  def triggerTrace(batchId: Long): String = s"${stream._1}-batch-$batchId"

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def totalsOf(owner: Long): TaskTotals = totals.computeIfAbsent(owner, _ => new TaskTotals)

  /** Runs `body` with a new span's id, inside that span. Jobs the body submits from this thread are
    * parented to the span through the [[Tracer.SpanProperty]] local
    * property, which is restored afterwards.
    */
  def span[T](sc: SparkContext, name: String, parent: Long, trace: String)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = newId()
    val saved = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, s"$id|$trace")
    val t0 = Clock.nowUs()
    try body(id)
    finally {
      spans.add(Span(id, parent, trace, name, t0, Clock.nowUs()))
      sc.setLocalProperty(Tracer.SpanProperty, saved)
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(s => (s.startUs, s.id)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":"${Json.esc(s.trace)}",""" +
        s""""name":"${Json.esc(s.name)}","start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Local property naming the benchmark span that owns a job. */
  val SpanProperty = "perfbench.span"
  /** Set by the micro-batch engine on every job of a trigger. */
  val BatchIdProperty = "streaming.sql.batchId"
}

/** Turns Spark jobs and stages into spans and sums task metrics per
  * owning span. A job is owned by the span named in its
  * [[Tracer.SpanProperty]], else by the trigger of its batch id.
  */
final class SchedulerListener(tracer: Tracer) extends SparkListener {
  private final case class JobInfo(span: Long, owner: Long, trace: String, startUs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long, String)]()

  private def ownerOf(props: java.util.Properties): Option[(Long, String)] =
    Option(props).flatMap { p =>
      Option(p.getProperty(Tracer.SpanProperty)).filter(_.nonEmpty).map { v =>
        val Array(id, trace) = v.split("\\|", 2)
        (id.toLong, trace)
      }.orElse(Option(p.getProperty(Tracer.BatchIdProperty)).map { b =>
        (tracer.triggerSpanId(b.toLong), tracer.triggerTrace(b.toLong))
      })
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    ownerOf(e.properties).foreach { case (owner, trace) =>
      val id = tracer.newId()
      jobs.put(e.jobId, JobInfo(id, owner, trace, e.time * 1000L))
      tracer.totalsOf(owner).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageOwner.putIfAbsent(s, (id, owner, trace)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      tracer.add(Span(j.span, j.owner, j.trace, "job", j.startUs, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOwner.get(info.stageId)).foreach { case (jobSpan, owner, trace) =>
      tracer.totalsOf(owner).stages.incrementAndGet()
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Span(tracer.newId(), jobSpan, trace, "stage", s * 1000L, c * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (_, owner, _) =>
      Option(e.taskMetrics).foreach { m =>
        val t = tracer.totalsOf(owner)
        t.taskMs.addAndGet(m.executorRunTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

/** Minimal JSON writing for the result file. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
