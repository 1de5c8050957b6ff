package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dead-letter-queue routing — the reference's most load-bearing
  * operator (SURVEY §2.9; `RecordProcessor.java:203-301`,
  * `KPipeProducer.java:170-216`, `docs/OFFSET-INVARIANTS.md:79-90`).
  *
  * The terminal failure matrix, in micro-batch terms:
  *  1. decode/transform failures become error columns, not exceptions;
  *  2. failed rows are rebuilt as DLQ records carrying the original
  *     key/value/headers plus the six `x-dlq-*` context headers;
  *  3. the DLQ write happens INSIDE the batch body, before it returns —
  *     so a DLQ outage fails the batch and the checkpoint retries it
  *     whole ("durably parked counts as processed; stall, never drop",
  *     invariant I3);
  *  4. with no DLQ configured, failures are counted and dropped
  *     (log-and-advance — the reference's explicit opt-in).
  */
object Dlq {

  val ExceptionClassHeader = "x-dlq-exception-class"
  val ExceptionMessageHeader = "x-dlq-exception-message"
  val SourceTopicHeader = "x-dlq-source-topic"
  val SourcePartitionHeader = "x-dlq-source-partition"
  val SourceOffsetHeader = "x-dlq-source-offset"
  val SourceTimestampHeader = "x-dlq-source-timestamp"

  /** Split on the Result convention: (passed, failed). */
  def split(df: DataFrame, errorCol: Column): (DataFrame, DataFrame) =
    (df.where(errorCol.isNull), df.where(errorCol.isNotNull))

  private def header(key: String, value: Column): Column =
    struct(lit(key).as("key"), value.cast("binary").as("value"))

  /** Rebuild failed rows as DLQ records: original key/value/headers with
    * the `x-dlq-*` headers appended (layout per
    * `KPipeProducer.java:184-196`; `exception-class` carries the failure
    * kind, `exception-message` the error column's diagnostic). Existing
    * headers — including `traceparent` — pass through untouched, so
    * trace context propagates to the DLQ topic.
    */
  def dlqRecords(failed: DataFrame, errorCol: Column,
                 exceptionClass: String = "graft.DecodeFailure"): Column = {
    val dlqHeaders = array(
      header(ExceptionClassHeader, lit(exceptionClass)),
      header(ExceptionMessageHeader, errorCol),
      header(SourceTopicHeader, col("topic")),
      header(SourcePartitionHeader, col("partition").cast("string")),
      header(SourceOffsetHeader, col("offset").cast("string")),
      header(SourceTimestampHeader, col("timestamp").cast("long").cast("string")))
    struct(
      col("key"),
      col("value"),
      concat(coalesce(col("headers"), array().cast(
        "array<struct<key:string,value:binary>>")), dlqHeaders).as("headers"))
  }

  /** Attach the DLQ record column to the failed branch. */
  def toDlq(failed: DataFrame, errorCol: Column,
            exceptionClass: String = "graft.DecodeFailure"): DataFrame =
    failed.select(dlqRecords(failed, errorCol, exceptionClass).as("dlq")).select("dlq.*")

  /** The foreachBatch body implementing the full matrix: decode-split,
    * failed rows to `dlqSink` FIRST (a DLQ outage aborts the batch
    * before anything commits), then good rows to `sink`, both BEFORE
    * returning. Either sink throwing fails the batch → micro-batch
    * retry → the no-loss invariant. `dlqSink=None` = log-and-advance.
    *
    * One pass per micro-batch: the batch (with its error column) runs
    * once as catalyst rows (`queryExecution.toRdd`), and a tally on that
    * same pass counts the passed and failed rows into two accumulators
    * — no `count()` jobs, and no conversion to external `Row`s and
    * back. The tallied rows are copied into a MEMORY_AND_DISK RDD
    * cache that every action of both sinks reads: the first action
    * decodes, counts and caches each partition whole, and later ones
    * (the sink's write after the DLQ write, or a second action inside
    * one sink) read the cache, so each input row is decoded and counted
    * once, the trigger's `numInputRows` equals the batch's rows, and
    * the batch runs one job per sink action. The cache is dropped when
    * the body returns or throws.
    *
    * The counts are observability counters with accumulator semantics:
    * a sink that never runs an action leaves them 0, and speculative
    * task retries could in principle over-count (same caveat as every
    * Spark metric).
    */
  def processBatch(batch: DataFrame, errorCol: Column,
                   sink: DataFrame => Unit,
                   dlqSink: Option[DataFrame => Unit],
                   exceptionClass: String = "graft.DecodeFailure"): BatchOutcome = {
    val spark = batch.sparkSession
    val nPassed = spark.sparkContext.longAccumulator("graft.dlq.passed")
    val nFailed = spark.sparkContext.longAccumulator("graft.dlq.failed")
    val withErr = batch.withColumn("__error", errorCol)
    val errIdx = withErr.schema.fieldIndex("__error")
    // a cached row must be a copy: the plan reuses one row buffer
    val rows = withErr.queryExecution.toRdd.map { r =>
      if (r.isNullAt(errIdx)) nPassed.add(1L) else nFailed.add(1L)
      r.copy()
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val counted = GraftBridge.internalDataFrame(spark, rows, withErr.schema)
      val (passed, failed) = split(counted, col("__error"))
      // DLQ write precedes the sink; with no failures the DLQ branch is
      // an empty DataFrame and a well-behaved sink writes nothing
      dlqSink.foreach(dlq => dlq(toDlq(failed, col("__error"), exceptionClass)))
      sink(passed.drop("__error"))
      BatchOutcome(passed = nPassed.value, failed = nFailed.value,
        dlqWritten = dlqSink.isDefined)
    } finally rows.unpersist(blocking = false)
  }

  final case class BatchOutcome(passed: Long, failed: Long, dlqWritten: Boolean)
}
