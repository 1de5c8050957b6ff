package graft.examples

import graft.Session
import graft.ops.Profile
import org.apache.spark.sql.functions._

/** Data-quality / governance walkthrough over the test fixtures: the
  * pre-flight sequence a pipeline runs before trusting (or joining,
  * or re-processing) a new drop —
  *
  *  1. expectation report (row-level contracts + PK uniqueness),
  *  2. referential integrity + join coverage over the FK edges,
  *  3. join-amplification hot-key check,
  *  4. per-source PSI distribution drift,
  *  5. keyed snapshot diff against a modified copy.
  *
  * Run: `sbt "runMain graft.examples.QualityDemo [sfDir]"`
  */
object QualityDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val documents = spark.read.parquet(s"$sfDir/documents.parquet")

    println("== 1. expectation report (row contracts + PK uniqueness) ==")
    Profile.rowChecks(lineitem, graft.Queries.LineitemChecks)
      .unionByName(Profile.uniquenessCheck(
        lineitem, Seq("l_orderkey", "l_linenumber"), "pk_unique"))
      .orderBy("check").show(truncate = false)

    println("== 2. referential integrity + join coverage ==")
    Profile.refIntegrity(Seq(
      ("lineitem.orderkey->orders", lineitem, "l_orderkey",
        orders, "o_orderkey")))
      .show(truncate = false)

    println("== 3. join-amplification hot keys (lineitem self-join) ==")
    Profile.joinAmplification(lineitem, "l_partkey", lineitem, "l_partkey",
      k = 5).orderBy("rank").show(truncate = false)

    println("== 4. PSI distribution drift by source (n_chars) ==")
    Profile.psiDrift(documents, "source", "n_chars", binWidth = 50)
      .orderBy(desc("psi_e8_ppm")).show(5, truncate = false)

    println("== 5. snapshot diff vs a modified copy ==")
    val modified = documents.where(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    Profile.snapshotDiff(documents, modified, Seq("doc_id"),
        Seq("text", "lang", "source"))
      .groupBy("diff_status").agg(count(lit(1)).as("n_keys"))
      .orderBy("diff_status").show(truncate = false)

    spark.stop()
  }
}
