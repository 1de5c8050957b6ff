package graft.formats

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** JSON payload codec — kpipe's `JsonFormat`
  * (`lib/kpipe-format-json/.../JsonFormat.java:51-77`) re-expressed as
  * column codecs with the Result-column error-capture convention
  * (`lib/kpipe-core/.../Result.java:31-103`):
  *
  *  - Passed   ⇒ `value` struct non-null, `error` null
  *  - Failed   ⇒ `value` null, `error` = diagnostic string
  *  - Filtered ⇒ a downstream `where` drops the row (offset semantics
  *    come free from the micro-batch barrier)
  *
  * kpipe throws with a hex preview on malformed bytes; a Spark column
  * can't throw per row without poisoning the task, so failure becomes
  * data (the DLQ branch consumes it — graft.streaming.Dlq).
  */
object Json {

  def schemaOf(ddl: String): StructType = StructType.fromDDL(ddl)

  /** Plain decode: malformed input → null struct (PERMISSIVE). */
  def decode(payload: Column, schema: StructType): Column =
    from_json(payload, schema)

  /** Decode `payload` with error capture into `outCol` =
    * `struct(value, error)`.
    *
    * Failure detection uses `columnNameOfCorruptRecord`: a malformed
    * payload parses to a struct whose corrupt-record field holds the raw
    * input — exact, per-row, no exceptions in the task. Null/empty input
    * decodes to null value with null error (kpipe: null/empty → null,
    * not an error — `JsonFormat.java:56-60`).
    *
    * The parse result is referenced three times, and `JsonToStructs` is
    * CodegenFallback (no subexpression elimination), so a single
    * Column expression would evaluate THREE full JSON parses per record
    * (measured 5.9× slower at 2M records). This form parses once into
    * an intermediate attribute; CollapseProject keeps it separate
    * because the non-cheap expression is multiply referenced.
    */
  def decodeResultDF(df: org.apache.spark.sql.DataFrame, payload: Column, ddl: String,
                     outCol: String): org.apache.spark.sql.DataFrame = {
    val schema = schemaOf(ddl).add("_corrupt", org.apache.spark.sql.types.StringType)
    val tmp = s"__${outCol}_parsed"
    val p = col(tmp)
    val failed = p.getField("_corrupt").isNotNull
    df.withColumn(tmp, DecodeBarrier(from_json(payload, schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))))
      .withColumn(outCol, struct(
        when(failed, lit(null).cast(schemaOf(ddl))).otherwise(p.dropFields("_corrupt"))
          .as("value"),
        when(failed, concat(lit("malformed JSON: "), substring(payload, 1, 64)))
          .otherwise(lit(null).cast("string")).as("error")))
      .drop(tmp)
  }

  /** Encode a struct column back to JSON text (`to_json`). */
  def encode(value: Column): Column = to_json(value)
}
