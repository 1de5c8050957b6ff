package graft.examples

import graft.{Session, Tables}
import graft.dedup.{Curation, Dedup}
import graft.functions.TextFns
import graft.ops.{Mixture, TextStats}
import org.apache.spark.sql.functions._

/** End-to-end curation walkthrough over the fixture corpus — the
  * pretraining-data funnel assembled from the catalog's operators,
  * with per-stage survivor counts printed so each gate's bite is
  * visible:
  *
  *   1. Gopher rule gate (q119) — structural quality;
  *   2. token-blocklist gate (q130) — content policy;
  *   3. near-dup canonicalization (q34/q65 machinery) — one doc per
  *      MinHash cluster survives;
  *   4. per-language token budgets (q133) — balanced mixture under a
  *      quota, best quality first;
  *   5. shard manifest (q82 machinery) — deterministic output layout.
  *
  * Run: `sbt "runMain graft.examples.CurationDemo [sfDir]"`
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables.documents(spark, sfDir)
    def stage(name: String, n: Long): Unit =
      println(f"$name%-34s $n%6d docs")
    stage("0 raw corpus", docs.count())

    // 1. structural quality (Gopher rules tuned to the fixture corpus)
    val gophered = TextStats.gopherRules(docs, "doc_id", "text",
        minWords = 10, maxWords = 10000, stopMin = 1)
      .where(col("keep")).select("doc_id")
      .join(docs, "doc_id")
    stage("1 gopher rules", gophered.count())

    // 2. content policy
    val clean = TextStats.blocklistGate(gophered, "doc_id", "text",
        terms = Seq("slow"), maxHits = 3)
      .where(col("keep")).select("doc_id")
      .join(gophered, "doc_id")
    stage("2 blocklist", clean.count())

    // 3. near-dup canonicalization: keep the min id of each cluster
    val clusters = Dedup.nearDupClusters(
      Dedup.minhashNearDupPairs(clean, "doc_id", "text",
        threshold = 0.2, numHashes = 32, bands = 8, shingleWidth = 2))
    val canon = Curation.dedupCanonical(clean, "doc_id", clusters)
    stage("3 near-dup canonical", canon.count())

    // 4. per-language token budgets, best milli-quality first
    val scored = canon.select(col("doc_id"), col("lang"),
      floor(TextFns.qualityScore(col("text")) * 1000).cast("long").as("score"),
      TextFns.tokenCount(col("text")).as("n_tokens"))
    val selected = Mixture.budgetSelectBy(scored, "lang", "doc_id",
      "score", "n_tokens", budgetPerGroup = 2000L)
    stage("4 per-lang 2k-token budget", selected.count())
    selected.groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
      .orderBy("lang").show()

    // 5. deterministic shard layout
    val sharded = selected
      .withColumn("shard",
        graft.functions.HashFns.hash61(col("doc_id").cast("string")) % 4)
    println("shard manifest:")
    sharded.groupBy("shard").agg(count(lit(1)).as("docs"),
      sum("n_tokens").as("tokens")).orderBy("shard").show()

    spark.stop()
  }
}
