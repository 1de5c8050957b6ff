package graft

import graft.ops.Lineage

/** Dev tool: time individual catalog queries — materialized through the
  * noop sink (every column of every row computed; `count()` would let
  * Catalyst prune columns and whole subtrees, see the optimization
  * guide §1.4) — `runMain graft.TimeQuery <sfDir> <queryName>...`
  * (no names = all). Two passes per query; the second is the warm
  * number. Runs on the Bench session ([[Session.local]]), so the
  * measured plan is the bench's plan.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(n)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Lineage.scoped {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      println(f"$n%-28s cold ${times.head}%7.3f s  warm ${times.last}%7.3f s")
    }
    spark.stop()
  }
}
