package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Staged curation: near-dup cluster labels computed ONCE per corpus
  * and fed to every downstream stage.
  *
  * MinHash + connected components are the two most expensive stages of
  * a curation pipeline, and three catalog consumers need their output
  * (canonical-keep dedup, the curation pipeline, the leakage-safe
  * split). At 100 TB, running that stage once per consumer triples the
  * dominant cost; the cure is to materialize `(id, cluster_id)` once —
  * [[Dedup.nearDupClusters]] already eagerly checkpoints its result, so
  * the staged DataFrame IS the materialization — and hand every
  * consumer the same table. The memo is keyed by (session, corpus key,
  * parameters); an entry lives as long as the cuts it references —
  * until the [[graft.ops.Lineage.scoped]] block that built it exits,
  * or for the session when built outside any scope. The catalog
  * harnesses run each query in its own scope, so there each consumer
  * query builds its own table. On a real cluster the equivalent move
  * is writing the label table to storage between jobs; within one
  * session this is the zero-ceremony form.
  */
object Curation {

  private val staged = TrieMap.empty[(SparkSession, String), DataFrame]
  private val builds = new AtomicLong()

  /** Number of times a cluster-label table was actually computed —
    * telemetry for tests asserting the stage is shared, not re-run.
    */
  def buildCount: Long = builds.get()

  /** The staged `(id, cluster_id)` label table for a corpus: built on
    * first request (MinHash-LSH candidate pairs → star-contraction
    * connected components → eager checkpoint), returned from the memo
    * afterwards. `corpusKey` identifies the corpus (e.g. its path) —
    * the caller's promise that the same key means the same rows.
    */
  def clusterLabels(docs: DataFrame, idCol: String, textCol: String,
                    corpusKey: String, threshold: Double = 0.2,
                    numHashes: Int = 32, bands: Int = 8,
                    shingleWidth: Int = 2): DataFrame = {
    val key = (docs.sparkSession,
      s"$corpusKey|$idCol|$textCol|$threshold|$numHashes|$bands|$shingleWidth")
    staged.getOrElseUpdate(key, {
      builds.incrementAndGet()
      graft.ops.Lineage.onExit(staged.remove(key))
      val pairs = Dedup.minhashNearDupPairs(graft.ops.Scale.fanOut(docs),
        idCol, textCol, threshold, numHashes, bands, shingleWidth)
      Dedup.nearDupClusters(pairs)
    })
  }

  /** Keep each near-dup cluster's canonical (minimum-id) member; docs
    * with no near-dup are their own canonical and pass through. One
    * left join on the 8-byte id against the (small) staged label table,
    * then map-only.
    */
  def dedupCanonical(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .where(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")

  /** Best-member representative per near-dup cluster —
    * [[dedupCanonical]] keeps the MINIMUM id, which throws away
    * quality information; a real curation pipeline keeps each
    * family's best member (highest quality score, ties to the
    * smallest numeric id) and reports the family size. One join of
    * the label table against the scored docs, then ONE aggregation on
    * the cluster id whose argmax rides a struct max (score major,
    * negated id minor) — map-side partial, no per-cluster window, no
    * sort; at 100 TB the shuffle carries one struct per cluster per
    * map partition. Emits (cluster_id, keep_id, best_score,
    * n_members) for every multi-member family; singletons are their
    * own representative by [[dedupCanonical]]'s pass-through.
    * Requires a numeric id (the negation tiebreak).
    */
  def clusterRepresentatives(labels: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    labels
      .join(scored.select(col(idCol).as("id"),
        col(scoreCol).cast("long").as("__score")), Seq("id"))
      .groupBy("cluster_id")
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("nid"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("__best.nid")).as("keep_id"),
        col("__best.s").as("best_score"), col("n_members"))
  }
}
