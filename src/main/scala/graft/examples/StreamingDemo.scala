package graft.examples

import graft.Session
import graft.formats.Json
import graft.streaming._
import graft.streaming.KafkaShape.{Header, KafkaRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end streaming walkthrough: a Kafka-shaped MemoryStream feeds
  * a decode → DLQ-split → sink pipeline with kpipe-named observed
  * metrics, a circuit breaker gate, and a Handle lifecycle.
  *
  * Run: `sbt "runMain graft.examples.StreamingDemo"`
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def rec(p: Int, off: Long, key: String, value: String) = KafkaRecord(
      key.getBytes, value.getBytes, "events", p, off,
      new java.sql.Timestamp(1723400000000L + off), 0,
      Seq(Header("traceparent", "00-abc-def-01".getBytes)))

    val stream = MemoryStream[KafkaRecord]
    val listener = new Metrics.SnapshotListener("results")
    spark.streams.addListener(listener)
    val breaker = new CircuitBreaker(windowSize = 10, failureRateThreshold = 0.5)

    val decoded = Metrics.observeResults(
      stream.toDF().withColumn("res",
        Json.decodeResult(col("value").cast("string"), "k BIGINT")),
      "results", col("res.error"), lit(false))

    val q = decoded.writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("demo-ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        breaker.gated {
          val out = Dlq.processBatch(batch.toDF(), col("res.error"),
            sink = df => println(s"[batch $id] sink got ${df.count()} good rows"),
            dlqSink = Some(df => {
              println(s"[batch $id] DLQ got ${df.count()} poison rows:")
              df.select(col("value").cast("string"),
                expr("filter(headers, h -> h.key like 'x-dlq-%')").as("dlq_headers"))
                .show(truncate = false)
            }))
          println(s"[batch $id] outcome: $out")
        }
        ()
      }.start()

    val handle = new Handle(q, Some(breaker), Some(listener))
    stream.addData(
      rec(0, 0, "a", """{"k": 1}"""),
      rec(0, 1, "b", """{"k": 2}"""),
      rec(1, 0, "c", "NOT JSON"),
      rec(1, 1, "d", """{"k": 4}"""))
    q.processAllAvailable()
    Thread.sleep(500)   // let listener events drain
    println(s"healthy=${handle.isHealthy} breaker=${breaker.currentState}")
    println(s"metrics snapshot: ${handle.metrics.toSeq.sortBy(_._1).mkString(", ")}")
    handle.shutdownGracefully()
    spark.stop()
  }
}
