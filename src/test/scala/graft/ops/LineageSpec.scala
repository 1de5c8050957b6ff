package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

class LineageSpec extends SparkSpec {
  private def sc = spark.sparkContext
  private def persisted = sc.getPersistentRDDs.keySet
  private def cutOf(n: Long) = Lineage.cut(spark.range(n).toDF("id"))
  private def rddIds(df: DataFrame) = df.queryExecution.logical
    .collectLeaves().collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("release drops the blocks a local cut holds") {
    val before = persisted
    val cut = Lineage.cut(spark.range(1000).toDF("id"))
    assert((persisted -- before).size === 1)
    Lineage.release(cut)
    assert((persisted -- before).isEmpty)
    Lineage.release(cut) // a second free is harmless
  }

  test("a scope frees its own cuts, also when its body throws") {
    val before = persisted
    val n = Lineage.scoped {
      val c = cutOf(10)
      cutOf(20)
      assert((persisted -- before).size === 2)
      c.count()
    }
    assert(n === 10)
    assert(persisted === before)
    intercept[IllegalStateException] {
      Lineage.scoped { cutOf(10); throw new IllegalStateException("boom") }
    }
    assert(persisted === before)
  }

  test("a nested scope frees only its own cuts") {
    val before = persisted
    Lineage.scoped {
      val outer = cutOf(10)
      val inner = Lineage.scoped {
        cutOf(20)
        persisted -- before
      }
      assert(inner.size === 2)
      assert(persisted -- before === rddIds(outer))
      assert(outer.count() === 10)
    }
    assert(persisted === before)
  }

  test("a cut made on another thread outside the scope survives it") {
    val before = persisted
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val other = Lineage.scoped {
        cutOf(10)
        pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call() = cutOf(30)
        }).get()
      }
      assert(persisted -- before === rddIds(other))
      assert(other.count() === 30)
      Lineage.release(other)
      assert(persisted === before)
    } finally pool.shutdown()
  }

  test("release on the reliable path deletes the checkpoint file") {
    val dir = Files.createTempDirectory("graft-lineage-ckpt")
    def rddFiles = {
      val walk = Files.walk(dir)
      try walk.iterator.asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      finally walk.close()
    }
    sc.setCheckpointDir(dir.toString)
    try {
      val cut = cutOf(100)
      assert(rddFiles.size === 1)
      assert(cut.count() === 100)
      Lineage.release(cut)
      assert(rddFiles.isEmpty)
      Lineage.scoped(cutOf(10))
      assert(rddFiles.isEmpty, "scope exit deletes reliable cuts too")
    } finally sc.setCheckpointDir(null)
  }

  test("freeing a cut logs no lineage-truncation warning") {
    import org.apache.logging.log4j.Level
    val truncated = Seq("was locally checkpointed")
    def warningsIn(body: => Unit) = logLinesIn("", Level.WARN, truncated)(body)
    // the capture sees the warning RDD.unpersist logs for a local cut
    assert(warningsIn {
      val rdd = cutOf(10).queryExecution.logical.collectLeaves()
        .collectFirst { case r: LogicalRDD => r.rdd }.get
      rdd.unpersist(blocking = false)
    } === 1)
    val before = persisted
    assert(warningsIn {
      Lineage.release(cutOf(10))
      Lineage.scoped { cutOf(20); cutOf(30) }
    } === 0)
    assert(persisted -- before === Set.empty)
  }

  test("no main source other than Lineage checkpoints a plan") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    val callers = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && {
        val src = Files.readString(p)
        src.contains(".localCheckpoint(") || src.contains(".checkpoint(")
      })
      .map(p => root.relativize(p).toString).toList.sorted
    finally walk.close()
    assert(callers === List(Paths.get("graft", "ops", "Lineage.scala").toString))
  }
}
