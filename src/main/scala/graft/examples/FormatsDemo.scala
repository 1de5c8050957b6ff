package graft.examples

import graft.Session
import graft.formats._
import org.apache.avro.Schema
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** End-to-end format-layer walkthrough: builds Confluent-enveloped Avro
  * and protobuf payloads, decodes them through Spark plans with the
  * custom expressions (static + schema-registry dispatch), and shows
  * the Result-column error split for poison records.
  *
  * Run: `sbt "runMain graft.examples.FormatsDemo"`
  */
object FormatsDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // --- Avro over the Confluent envelope, schema-registry mode ---- //
    val schemaJson =
      """{"type":"record","name":"Event","fields":[
        |{"name":"id","type":"long"},{"name":"kind","type":"string"}]}""".stripMargin
    val schema = new Schema.Parser().parse(schemaJson)
    def avroRecord(id: Long, kind: String): Array[Byte] = {
      val r = new GenericData.Record(schema)
      r.put("id", id); r.put("kind", kind)
      ConfluentEnvelope.wrap(501, AvroCodec.serialize(r, schema))
    }
    val resolver = new CachedSchemaResolver(MapSchemaResolver(Map(501 -> schemaJson)))
    val avroDf = Seq(
      avroRecord(1, "click"), avroRecord(2, "view"),
      Array[Byte](9, 9, 9)                      // poison: no envelope
    ).toDF("value")
      .select(ConfluentAvro.from_avro_sr(col("value"), schemaJson, resolver).as("event"),
        col("value"))
      .select(col("event"),
        when(col("event").isNull, lit("DLQ: undecodable envelope")).as("route"))
    println("== Avro SR decode (2 good, 1 poison → DLQ route) ==")
    avroDf.show(truncate = false)

    // --- Protobuf compiled from .proto source text ----------------- //
    val proto =
      """syntax = "proto3";
        |message Reading { int64 sensor = 1; double value = 2; repeated int32 flags = 3; }
        |""".stripMargin
    val compiled = ProtoParser.compile(proto)
    import ProtoCodec.Writer._
    def reading(sensor: Long, v: Double): Array[Byte] =
      ConfluentEnvelope.wrap(77, ConfluentEnvelope.writeMessageIndexes(List(0)) ++
        varintField(1, sensor) ++ doubleField(2, v) ++
        bytesField(3, ConfluentEnvelope.writeVarint(1) ++ ConfluentEnvelope.writeVarint(4)))
    val protoDf = Seq(reading(11, 98.6), reading(12, 37.0)).toDF("value")
      .select(ProtoCodec.from_protobuf_sr(col("value"), compiled.byIndexPath).as("r"))
      .select("r.*")
    println("== Protobuf decode from .proto source text ==")
    protoDf.show(truncate = false)

    println(s"resolver cache: hits=${resolver.hits} misses=${resolver.misses} size=${resolver.size}")
    spark.stop()
  }
}
