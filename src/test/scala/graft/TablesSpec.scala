package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}
import org.scalatest.BeforeAndAfterAll

class TablesSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft-tables")
  private def tempDir(): String = Files.createTempDirectory(root, "t").toString
  override def afterAll(): Unit =
    try new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    finally super.afterAll()

  test("a second read of the same file infers no schema: no Spark job") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(jobsIn(Tables(spark, dir, "t")) === 1)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { again = Tables(spark, dir, "t") } === 0)
    assert(again.schema.map(_.name) === Seq("k", "v"))
    assert(again.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("a file rewritten at the same path with other columns is inferred again") {
    val dir = tempDir()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema("k").dataType === LongType)
    Seq(0.5).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    var reread: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { reread = Tables(spark, dir, "t") } === 1)
    assert(reread.schema.map(f => f.name -> f.dataType) === Seq("x" -> DoubleType))
    assert(reread.as[Double].collect().toSeq === Seq(0.5))
  }

  test("a session with another spark.sql.parquet setting gets its own schema") {
    // written without Spark's schema metadata (which would pin the type),
    // as the generated test tables are: a bare BINARY column
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally writer.close()
    assert(Tables(spark, dir, "t").schema("b").dataType === BinaryType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    val asString = Tables(other, dir, "t")
    assert(asString.schema("b").dataType === StringType)
    assert(asString.collect().map(_.getString(0)).toSeq === Seq("hi"))
    assert(Tables(spark, dir, "t").schema("b").dataType === BinaryType)
  }
}
