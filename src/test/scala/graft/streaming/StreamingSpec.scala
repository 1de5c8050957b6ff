package graft.streaming

import graft.SparkSpec
import graft.formats.Json
import graft.streaming.KafkaShape.{Header, KafkaRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Deterministic MemoryStream-driven tests — the `TestStream` analog
  * (SURVEY §5): poison records land in the DLQ with the six `x-dlq-*`
  * headers before the batch commits; good rows reach the sink; multi-
  * sink is best-effort; KEY_ORDERED holds per-key order.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private var tick = 0L
  private def record(topic: String, partition: Int, offset: Long,
                     key: String, value: String): KafkaRecord = {
    tick += 1
    KafkaRecord(
      key = if (key == null) null else key.getBytes("UTF-8"),
      value = if (value == null) null else value.getBytes("UTF-8"),
      topic = topic, partition = partition, offset = offset,
      timestamp = new java.sql.Timestamp(1723400000000L + tick),
      timestampType = 0,
      headers = Seq(Header("traceparent", "00-abc-def-01".getBytes("UTF-8"))))
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  // executor-side closures are serialized even in local mode, so
  // side-effect collectors must be JVM-static to be visible here
  import StreamingSpec.collected

  test("DLQ matrix: poison → DLQ with x-dlq-* headers before commit; good → sink") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KafkaRecord]
    val sunk = mutable.Buffer.empty[Row]
    val dlqd = mutable.Buffer.empty[Row]

    val q = stream.toDF().writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val decoded = Json.decodeResultDF(batch.toDF(),
          col("value").cast("string"), "k BIGINT", "res")
        Dlq.processBatch(decoded, col("res.error"),
          sink = df => sunk.synchronized { sunk ++= df.collect() },
          dlqSink = Some(df => dlqd.synchronized { dlqd ++= df.collect() }))
        ()
      }.start()

    stream.addData(
      record("events", 0, 0, "a", """{"k": 1}"""),
      record("events", 0, 1, "b", """garbage"""),
      record("events", 1, 0, "c", """{"k": 3}"""))
    q.processAllAvailable()
    q.stop()

    assert(sunk.size === 2)
    assert(dlqd.size === 1)
    val dlqRow = dlqd.head
    assert(new String(dlqRow.getAs[Array[Byte]]("value"), "UTF-8") === "garbage")
    val headers = dlqRow.getAs[Seq[Row]]("headers")
      .map(h => h.getAs[String]("key") ->
        new String(h.getAs[Array[Byte]]("value"), "UTF-8")).toMap
    assert(headers("traceparent") === "00-abc-def-01")   // trace context propagates
    assert(headers(Dlq.ExceptionClassHeader) === "graft.DecodeFailure")
    assert(headers(Dlq.ExceptionMessageHeader).startsWith("malformed JSON"))
    assert(headers(Dlq.SourceTopicHeader) === "events")
    assert(headers(Dlq.SourcePartitionHeader) === "0")
    assert(headers(Dlq.SourceOffsetHeader) === "1")
    assert(headers(Dlq.SourceTimestampHeader).toLong > 0)
  }

  test("DLQ outage fails the batch — stall, never drop (invariant I3)") {
    val batch = Seq(record("t", 0, 0, "a", "poison")).toDF()
      .transform(Json.decodeResultDF(_, col("value").cast("string"), "k BIGINT", "res"))
    var sinkRan = false
    intercept[RuntimeException] {
      Dlq.processBatch(batch, col("res.error"),
        sink = _ => sinkRan = true,
        dlqSink = Some(_ => throw new RuntimeException("DLQ broker down")))
    }
    // the DLQ write precedes the sink: a DLQ outage aborts the batch
    // before anything commits, so the micro-batch retries whole
    assert(!sinkRan)
  }

  test("no DLQ configured = log-and-advance: failures counted, dropped, batch succeeds") {
    val batch = Seq(
      record("t", 0, 0, "a", """{"k": 1}"""),
      record("t", 0, 1, "b", "oops")).toDF()
      .transform(Json.decodeResultDF(_, col("value").cast("string"), "k BIGINT", "res"))
    var sunk = 0L
    val outcome = Dlq.processBatch(batch, col("res.error"),
      sink = df => sunk = df.count(), dlqSink = None)
    assert(outcome.passed === 1 && outcome.failed === 1 && !outcome.dlqWritten)
    assert(sunk === 1)
  }

  test("multi-sink is best-effort: one failing sink suppressed, others still written") {
    val captured = mutable.Buffer.empty[Long]
    val sink = Sinks.multi(
      "boom" -> (_ => throw new RuntimeException("sink down")),
      "good" -> (df => captured.synchronized { captured += df.count() }))
    val df = Seq(record("t", 0, 0, "k", "v")).toDF()
    sink(df, batchId = 1L)
    assert(captured.toSeq === Seq(1L))
    assert(sink.lastFailures.keySet === Set("boom"))
  }

  test("KEY_ORDERED: per-key (partition, offset) order holds in the walk") {
    // interleave two keys across partitions; per key offsets must
    // arrive in order even though global arrival is scrambled
    val rows = Seq(
      record("t", 1, 10, "k1", "k1-p1-o10"),
      record("t", 0, 2, "k2", "k2-p0-o2"),
      record("t", 1, 11, "k1", "k1-p1-o11"),
      record("t", 0, 1, "k1", "k1-p0-o1"),
      record("t", 0, 3, "k2", "k2-p0-o3"),
      record("t", 1, 12, "k2", "k2-p1-o12")).toDF()
    collected.clear()
    OrderingModes.walk(rows, OrderingModes.KeyOrdered("key")) { row =>
      collected.add(Seq(new String(row.getAs[Array[Byte]]("key"), "UTF-8"),
        row.getAs[Int]("partition").toString, row.getAs[Long]("offset").toString).mkString("|"))
    }
    import scala.jdk.CollectionConverters._
    val byKey = collected.asScala.toSeq.map(_.split('|'))
      .map(a => (a(0), a(1).toInt, a(2).toLong)).groupBy(_._1)
    byKey.foreach { case (_, events) =>
      val order = events.map(e => (e._2, e._3))
      assert(order === order.sorted, s"per-key order violated: $order")
    }
    assert(byKey("k1").size === 3 && byKey("k2").size === 3)
  }

  test("SEQUENTIAL: global (partition, offset) order in a single walker") {
    val rows = Seq(
      record("t", 1, 5, "a", "x"),
      record("t", 0, 7, "b", "y"),
      record("t", 0, 6, "c", "z")).toDF()
    collected.clear()
    OrderingModes.walk(rows, OrderingModes.Sequential) { row =>
      collected.add(s"${row.getAs[Int]("partition")}|${row.getAs[Long]("offset")}")
    }
    import scala.jdk.CollectionConverters._
    val seen = collected.asScala.toSeq.map(_.split('|')).map(a => (a(0).toInt, a(1).toLong))
    assert(seen === Seq((0, 6L), (0, 7L), (1, 5L)))
  }

  test("batch sink coverage contract: unaccounted rows become failures") {
    val df = Seq(record("t", 0, 0, "a", "1"), record("t", 0, 1, "b", "2")).toDF().coalesce(1)
    collected.clear()
    Sinks.batchWithOutcomes(df,
      sink = rows => Map(0 -> Sinks.Ok),   // accounts for only the first row
      onFailure = (_, reason) => collected.add(reason))
    import scala.jdk.CollectionConverters._
    assert(collected.asScala.toSeq.exists(_.contains("coverage contract")))
  }

  test("batch sink flushes in maxChunk chunks — peak buffer is maxChunk, not the partition") {
    val df = (0 until 1000).map(i => record("t", 0, i.toLong, s"k$i", s"v$i")).toDF().coalesce(1)
    StreamingSpec.chunkSizes.clear()
    Sinks.batchWithOutcomes(df,
      sink = rows => {
        StreamingSpec.chunkSizes.add(rows.size)
        rows.indices.map(_ -> (Sinks.Ok: Sinks.RecordOutcome)).toMap
      },
      onFailure = (_, _) => throw new IllegalStateException("no failures expected"),
      maxChunk = 128)
    import scala.jdk.CollectionConverters._
    val sizes = StreamingSpec.chunkSizes.asScala.toSeq
    assert(sizes.sum === 1000)
    assert(sizes.max === 128)                  // never buffers more than maxChunk
    assert(sizes.count(_ == 128) === 7 && sizes.count(_ == 104) === 1)
  }

  private def mixedBatch = Seq(
      record("t", 0, 0, "a", """{"k": 1}"""),
      record("t", 0, 1, "b", "oops"),
      record("t", 1, 0, "c", """{"k": 3}""")).toDF()
    .transform(Json.decodeResultDF(_, col("value").cast("string"), "k BIGINT", "res"))

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("processBatch is single-pass: one DLQ action + one sink action, no count jobs") {
    val batch = mixedBatch
    var outcome: Dlq.BatchOutcome = null
    val jobs = jobsIn {
      outcome = Dlq.processBatch(batch, col("res.error"),
        sink = df => { df.collect(); () },
        dlqSink = Some(df => { df.collect(); () }))
    }
    assert(outcome.passed === 2 && outcome.failed === 1 && outcome.dlqWritten)
    assert(jobs === 2, s"expected exactly 2 jobs (dlq + sink), saw $jobs")
  }

  test("processBatch with no DLQ sink: right counts from one sink job") {
    val batch = mixedBatch
    var outcome: Dlq.BatchOutcome = null
    var sunk = 0L
    val jobs = jobsIn {
      outcome = Dlq.processBatch(batch, col("res.error"),
        sink = df => { sunk = df.collect().length }, dlqSink = None)
    }
    assert(outcome.passed === 2 && outcome.failed === 1 && !outcome.dlqWritten)
    assert(sunk === 2)
    assert(jobs === 1, s"expected exactly 1 job (the sink), saw $jobs")
  }

  test("processBatch counts each row once when a sink runs several actions") {
    val batch = mixedBatch
    for (dlqSink <- Seq(None, Some((df: DataFrame) => { df.collect(); () }))) {
      var sunk = (0L, 0L)
      val outcome = Dlq.processBatch(batch, col("res.error"),
        sink = df => { sunk = (df.count(), df.collect().length.toLong) },
        dlqSink = dlqSink)
      assert(sunk === ((2L, 2L)))
      assert(outcome.passed === 2 && outcome.failed === 1,
        s"counts with dlqSink=${dlqSink.isDefined}: $outcome")
    }
  }

  test("processBatch frees its row cache on return and when a sink throws") {
    val batch = mixedBatch
    val before = persisted
    var cachedInSink = -1
    val outcome = Dlq.processBatch(batch, col("res.error"),
      sink = df => { cachedInSink = (persisted -- before).size; df.collect(); () },
      dlqSink = Some(df => { df.collect(); () }))
    assert(outcome.passed === 2 && outcome.failed === 1)
    assert(cachedInSink === 1, "two consumers share one row cache")
    assert(persisted === before)
    for (failing <- Seq("dlq", "sink")) {
      def sinkOf(name: String): DataFrame => Unit = df =>
        if (name == failing) throw new RuntimeException(s"$name down")
        else { df.collect(); () }
      intercept[RuntimeException] {
        Dlq.processBatch(batch, col("res.error"),
          sink = sinkOf("sink"), dlqSink = Some(sinkOf("dlq")))
      }
      assert(persisted === before, s"a failing $failing sink left its cache")
    }
  }

  test("ofVoid: success-on-return covers all rows; throw fails the batch") {
    val df = Seq(record("t", 0, 0, "a", "1"), record("t", 0, 1, "b", "2")).toDF()
    collected.clear()
    Sinks.batchWithOutcomes(df, Sinks.ofVoid(_ => ()), (_, r) => collected.add(r))
    assert(collected.isEmpty)
    intercept[org.apache.spark.SparkException] {
      Sinks.batchWithOutcomes(df, Sinks.ofVoid(_ => throw new RuntimeException("all fail")),
        (_, _) => ())
    }
  }

  test("withRetry: transient failures retried with backoff, then succeeds") {
    var attempts = 0
    val out = Sinks.withRetry(maxRetries = 3, backoffMs = 1) {
      attempts += 1
      if (attempts < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out === "ok" && attempts === 3)
    intercept[RuntimeException] {
      Sinks.withRetry(maxRetries = 1, backoffMs = 1) { throw new RuntimeException("always") }
    }
  }

  test("multi-topic routes: per-topic branches, unrouted topics unmatched") {
    val df = Seq(
      record("orders", 0, 0, "a", "o1"),
      record("payments", 0, 0, "b", "p1"),
      record("unrouted", 0, 0, "c", "u1")).toDF()
    val routes = KafkaShape.routes(df, Map(
      "orders" -> (d => d.withColumn("route", lit("orders"))),
      "payments" -> (d => d.withColumn("route", lit("payments")))))
    assert(routes("orders").count() === 1)
    assert(routes("payments").count() === 1)
    // unrouted rows match no branch — dropped-and-committed for free
    assert(routes.values.map(_.count()).sum === 2)
  }

  test("streaming pipeline end-to-end with observe metrics and Handle") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[KafkaRecord]
    val listener = new Metrics.SnapshotListener("results")
    spark.streams.addListener(listener)
    try {
      val decoded = Metrics.observeResults(
        Json.decodeResultDF(stream.toDF(),
          col("value").cast("string"), "k BIGINT", "res"),
        "results", col("res.error"), lit(false))
      val q = decoded.writeStream
        .option("checkpointLocation", tmpDir())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
          df.count()   // materialize so the observe node evaluates
          ()
        }
        .start()
      val handle = new Handle(q, listener = Some(listener))
      assert(handle.isHealthy)
      stream.addData(
        record("t", 0, 0, "a", """{"k":1}"""),
        record("t", 0, 1, "b", "bad"))
      q.processAllAvailable()
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (handle.metrics.getOrElse(Metrics.MessagesReceived, 0L) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val m = handle.metrics
      assert(m(Metrics.MessagesReceived) === 2)
      assert(m(Metrics.PipelinePassed) === 1)
      assert(m(Metrics.PipelineFailed) === 1)
      assert(handle.shutdownGracefully(20000))
      assert(!handle.query.isActive)
    } finally spark.streams.removeListener(listener)
  }
}

object StreamingSpec {
  /** JVM-static collector visible to both driver and local executor tasks. */
  val collected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val chunkSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}
