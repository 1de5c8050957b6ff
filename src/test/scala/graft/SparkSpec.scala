package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * `getOrCreate` returns the same instance, so suites don't thrash
  * contexts). A suite that needs different SQL confs runs on
  * `spark.newSession()` so the change cannot leak into later suites.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
