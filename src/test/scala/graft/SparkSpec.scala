package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * `getOrCreate` returns the same instance, so suites don't thrash
  * contexts). A suite that needs different SQL confs runs on
  * `spark.newSession()` so the change cannot leak into later suites.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started by `body` on this thread. Jobs are matched by
    * a thread-local property, so other threads' jobs never count; one
    * drain of the asynchronous listener bus after `body` delivers
    * every job start it posted, so the count is exact.
    */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsIn"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    val prior = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(key, prior)
      sc.removeSparkListener(listener)
    }
  }

  /** Whole-stage codegen fallbacks logged while `body` runs: Spark
    * 4.1's `WholeStageCodegenExec` logs "Found too long generated codes"
    * (INFO, a stage over `spark.sql.codegen.hugeMethodLimit` runs
    * without whole-stage codegen) and "Whole-stage codegen disabled for
    * plan" (WARN, the generated code failed to compile). Either means
    * the stage runs interpreted.
    */
  def codegenFallbacksIn(body: => Unit): Int =
    logLinesIn(classOf[org.apache.spark.sql.execution.WholeStageCodegenExec].getName,
      org.apache.logging.log4j.Level.INFO,
      Seq("Found too long generated codes", "Whole-stage codegen disabled for plan"))(body)

  /** Log lines containing any of `messages` that `logger` (a logger
    * name; "" is the root, which every logger without its own
    * configuration writes to) and its children log at `level` or above
    * while `body` runs. The logger is set to `level` for the duration,
    * since the shared session logs at WARN.
    */
  def logLinesIn(logger: String, level: org.apache.logging.log4j.Level,
                 messages: Seq[String])(body: => Unit): Int = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("graft-log-lines", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (messages.exists(m.contains)) lines.incrementAndGet()
      }
    }
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val prior = log.getLevel
    appender.start()
    // addAppender gives a non-root logger its own LoggerConfig, so the
    // level change below stays on this one logger
    log.addAppender(appender)
    log.setLevel(level)
    log.get().setLevel(level)
    ctx.updateLoggers()
    try { body; lines.get }
    finally {
      log.removeAppender(appender)
      log.setLevel(prior)
      log.get().setLevel(prior)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
