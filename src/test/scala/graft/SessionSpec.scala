package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SessionSpec extends SparkSpec {
  test("Session.local sets the session contract") {
    val s = Session.local(4)
    assert(s eq spark, "getOrCreate: one JVM-wide session")
    assert(s.sparkContext.master === "local[4]")
    val conf = s.sparkContext.getConf
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.streaming.stopTimeout" -> "15s",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(conf.get(k) === v, k) }
  }

  test("no main source other than Session builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    val builders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toList.sorted
    finally walk.close()
    assert(builders === List(Paths.get("graft", "Session.scala").toString))
  }
}
