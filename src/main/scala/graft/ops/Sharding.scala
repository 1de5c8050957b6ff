package graft.ops

import graft.functions.HashFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic global shuffle for training-data ordering (kpipe has
  * no analog; standard LLM-pipeline practice — e.g. the shard/shuffle
  * step every dataloader assumes happened upstream).
  */
object Sharding {

  /** Assign every row a (shard, pos): shard by one keyed hash, order
    * within the shard by a second independent hash (ties — 61-bit hash
    * collisions — broken by id, so the manifest is total). The result
    * is a reproducible corpus-wide random permutation expressed as
    * "shard file + offset", which is how training jobs consume it: each
    * shard is written as one file and read sequentially by the loader.
    *
    * Scale shape: one hash shuffle to co-locate each shard, then a
    * per-shard sort; `nShards` scales with the corpus (shard size is
    * the knob — e.g. ~1 GB/shard ⇒ 10⁵ shards at 100 TB), so no
    * reducer ever sorts more than one shard. `row_number` over the
    * sorted shard is a running counter, not a buffered window. The
    * write-path twin — `repartition(shard).sortWithinPartitions(ord)`
    * — produces files in exactly this order; the manifest form here is
    * the oracle-checkable one.
    */
  def shardManifest(df: DataFrame, idCol: String,
                    nShards: Int, seed: String = "42"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val idStr = col(idCol).cast("string")
    val w = Window.partitionBy("shard").orderBy(col("__ord"), col(idCol))
    df.select(col(idCol),
        pmod(HashFns.hash61(concat(lit(s"shard$seed:"), idStr)),
          lit(nShards.toLong)).cast("int").as("shard"),
        HashFns.hash61(concat(lit(s"ord$seed:"), idStr)).as("__ord"))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .drop("__ord")
  }

  /** Weighted mixture interleave — the scheduling complement of rate
    * sampling (`Mixture.sampleByRates` decides WHAT goes in the mix;
    * this decides WHEN): a deterministic training order in which each
    * source appears in proportion to its weight, produced by the
    * classic virtual-time merge (a source's k-th shard-local row runs
    * at vt = k / weight; merging by vt yields weight-proportional
    * interleaving at every prefix — weighted fair queuing's stride
    * schedule). Sources missing from `weights` run at weight 1.
    *
    * Determinism: within a source, order is the seeded hash (ties on
    * the hash broken by id); across sources, vt is one IEEE division
    * of a BIGINT rank by a literal weight — bit-identical on any
    * engine, so the manifest is oracle-checkable. Pick weights whose
    * vt values cannot collide across sources (e.g. 3.0 vs 0.7), or
    * accept the deterministic (hash, id) tiebreak.
    *
    * Scale shape: same as [[shardManifest]] — ONE hash shuffle on
    * shard, then two in-partition window sorts; `nShards` scales with
    * the corpus. The single exchange is deliberate: the explicit
    * `repartition(shard)` below already CLUSTERS every (shard, source)
    * group (HashPartitioning(shard) satisfies the rank window's
    * ClusteredDistribution(shard, source) — hash keys are a subset of
    * the clustering keys), so neither window plans its own exchange;
    * left to defaults, Spark would shuffle twice — once per window
    * partitioning. Verified with `graft.ExplainDump`.
    */
  def weightedInterleave(df: DataFrame, idCol: String, srcCol: String,
                         weights: Map[String, Double], nShards: Int,
                         seed: String = "42"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val idStr = col(idCol).cast("string")
    val wExpr = weights.foldLeft(lit(1.0)) { case (acc, (s, wt)) =>
      when(col(srcCol) === s, lit(wt)).otherwise(acc)
    }
    val rankW = Window.partitionBy("shard", srcCol)
      .orderBy(col("__ord"), col(idCol))
    val mergeW = Window.partitionBy("shard")
      .orderBy(col("vt"), col("__ord"), col(idCol))
    df.select(col(idCol), col(srcCol),
        pmod(HashFns.hash61(concat(lit(s"shard$seed:"), idStr)),
          lit(nShards.toLong)).cast("int").as("shard"),
        HashFns.hash61(concat(lit(s"ord$seed:"), idStr)).as("__ord"))
      .repartition(col("shard"))
      .withColumn("vt",
        row_number().over(rankW).cast("double") / wExpr)
      .withColumn("pos", row_number().over(mergeW).cast("bigint"))
      .drop("__ord", "vt")
  }
}
