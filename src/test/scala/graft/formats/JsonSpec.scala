package graft.formats

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Result-column error capture semantics, mirroring the reference's
  * `JsonFormatEdgeCasesTest` cases (null/empty → null value without
  * error; malformed → Failed with diagnostic).
  */
class JsonSpec extends SparkSpec {
  import spark.implicits._

  test("decodeResultDF: Passed / Failed / null-input matrix") {
    val rows = Seq[String](
      """{"k": 7, "s": "hi"}""",
      """not json at all""",
      """{"k": "type-mismatch-ok"}""",
      null,
      "").toDF("payload")
      .transform(Json.decodeResultDF(_, col("payload"), "k BIGINT, s STRING", "res"))
      .select("res.value.k", "res.value.s", "res.error")
      .collect()
    // Passed
    assert(rows(0).getAs[Long]("k") === 7L && rows(0).getAs[String]("s") === "hi")
    assert(rows(0).isNullAt(2))
    // Failed: garbage
    assert(rows(1).isNullAt(0) && !rows(1).isNullAt(2))
    assert(rows(1).getAs[String]("error").startsWith("malformed JSON"))
    // null / empty input: null value, no error (kpipe JsonFormat.java:56-60)
    assert(rows(3).isNullAt(0) && rows(3).isNullAt(2))
  }

  test("decode → encode round-trip") {
    val out = Seq("""{"k":1,"s":"x"}""").toDF("payload")
      .select(Json.decode(col("payload"), Json.schemaOf("k BIGINT, s STRING")).as("v"))
      .select(Json.encode(col("v")).as("j"))
      .as[String].collect().head
    assert(out === """{"k":1,"s":"x"}""")
  }
}
