package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage cuts for multi-consumer intermediates — the one place that
  * decides HOW a plan is truncated, and the only code under
  * `src/main` that calls `checkpoint`/`localCheckpoint`
  * (`LineageSpec` guards it). Operators cut a small table that
  * several consumers read (connected components' per-round edges,
  * label propagation's per-round labels, cvAuc's count grids, the
  * span- and vocabulary-bounded count grids of Funnel, Profile, Eval
  * and TextStats), so the plan behind it runs once.
  *
  * Reliability at scale: a bare `localCheckpoint` stores its blocks on
  * executor-local storage — at 100 TB an executor loss invalidates the
  * block and FAILS the job, because the truncated lineage cannot
  * recompute. When the session has a reliable checkpoint directory
  * configured (`sparkContext.setCheckpointDir`, the production
  * setting), [[cut]] routes through `checkpoint(eager = true)`
  * instead, which survives executor loss; `localCheckpoint` remains
  * the local-mode fallback. The reliable path writes each cut to the
  * checkpoint dir, so its cost is the cut table's size. Most sites cut
  * a value-domain-bounded table (vocab², fold grids, day × type
  * grids); others cut a corpus-proportional table that several
  * consumers read (Funnel.seasonalStrength's per-event rows,
  * TextStats.tokenF1's per-(doc, word) counts, Dedup's oriented edges,
  * Similarity.intrinsicDimension's quantized vectors, Multimodal's
  * hash table), and there the reliable path writes that much.
  *
  * Ownership: a cut made inside [[scoped]] belongs to the innermost
  * scope of the thread that made it, and is freed when that scope
  * exits. Harnesses wrap building a query AND running its sink in one
  * scope, so nothing a query cuts outlives it. Iterative operators
  * still [[release]] round k−1 as soon as round k is materialized.
  */
object Lineage {
  private val scopes = new ThreadLocal[List[collection.mutable.Buffer[() => Unit]]] {
    override def initialValue() = Nil
  }

  /** Eagerly materialize `df` and truncate its lineage — reliable
    * checkpoint when a checkpoint dir is set, localCheckpoint
    * otherwise — and register the result with this thread's innermost
    * [[scoped]] block, if any.
    */
  def cut(df: DataFrame): DataFrame = {
    val c =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    rddsOf(c).foreach(r => onExit(free(r)))
    c
  }

  /** Run `f` when this thread's innermost [[scoped]] block exits;
    * outside a scope, never. A memo holding cut tables registers its
    * eviction here, so it never hands out a table whose storage the
    * scope freed.
    */
  def onExit(f: => Unit): Unit = scopes.get.headOption.foreach(_ += (() => f))

  /** Run `body`, then free every cut this thread made inside it (not
    * the cuts of nested scopes, which free their own), whether `body`
    * returns or throws.
    */
  def scoped[A](body: => A): A = {
    val own = collection.mutable.Buffer.empty[() => Unit]
    scopes.set(own :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      own.foreach(_())
    }
  }

  /** Drop a cut intermediate's storage once no downstream consumer
    * can read it again. Safe ONLY after every consumer has been
    * materialized — a cut plan cannot recompute dropped blocks. The
    * storage belongs to the RDD behind the cut's `LogicalRDD` leaf,
    * which `Dataset.unpersist` never reaches (it only consults the
    * cache manager). Freeing an RDD twice is harmless.
    */
  def release(df: DataFrame): Unit = rddsOf(df).foreach(free)

  private def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: LogicalRDD => r.rdd
    }

  /** Unpersist the local path's blocks and delete the reliable path's
    * checkpoint file. Quietly: `RDD.unpersist` would log a WARN for
    * every locally checkpointed RDD, and every local cut is one.
    */
  private def free(rdd: RDD[_]): Unit = {
    org.apache.spark.sql.GraftBridge.unpersistQuietly(rdd)
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
