package graft

import graft.ops.Lineage

/** Dev tool: dump `.explain("formatted")` for catalog queries to files —
  * `runMain graft.ExplainDump <sfDir> <outDir> <queryName>...`
  * (no names = all). One `<outDir>/<name>.txt` per query. Runs on the
  * Bench session ([[Session.local]]), so the dumped plan is the plan
  * the bench actually runs.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft-plans")
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val plan = Lineage.scoped(SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$n.txt"),
          plan.getBytes("UTF-8"))
        println(s"$n -> $outDir/$n.txt")
      } catch { case e: Throwable =>
        System.err.println(s"$n explain failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
