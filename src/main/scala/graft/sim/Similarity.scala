package graft.sim

import graft.functions.VectorFns._
import graft.ops.{Lineage, Scale}
import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Scale posture (100 TB): the corpus side streams — it is never
  * collected, never broadcast. The query side is assumed small and is
  * broadcast. Brute force is the exact baseline (one corpus scan per
  * query batch); the LSH variant buckets both sides on an H-bit
  * hyperplane signature so the join shuffles O(corpus) rows once
  * instead of scanning per query.
  *
  * Top-k per query uses [[graft.plans.TopK.topKPerKey]] (bounded-heap
  * aggregate with map-side partials), NOT a `row_number` window: with
  * few queries × a huge corpus, a window partitioned by `query_id`
  * shuffles EVERY candidate of a query to one reducer — the hot-key
  * full shuffle that kills the plan at 100×. The aggregate shuffles at
  * most k rows per query per map partition and is oracle-proven
  * row-identical to the window form (q48 vs q05).
  */
object Similarity {

  /** (query_id, id, sim) → top-k rows per query, ranked sim DESC then
    * id ASC, as (query_id, id, sim, rank).
    */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame =
    TopK.topKPerKey(scored, Seq("query_id"), col("sim"), Seq(col("id")), k)
      .select(col("query_id"), col("id"), col("sim"), col("rn").as("rank"))

  /** XOR deltas for multi-probing: every mask flipping at most
    * `maxFlips` of the `numBits` signature bits (0 ⇒ just the home
    * bucket). Probe count is Σ C(numBits, f) for f ≤ maxFlips — the
    * explicit shuffle-multiplication cost of the recall knob.
    */
  private[sim] def probeDeltas(numBits: Int, maxFlips: Int): Seq[Long] = {
    def combos(start: Int, flips: Int): Seq[Long] =
      if (flips == 0) Seq(0L)
      else (start until numBits).flatMap(i =>
        combos(i + 1, flips - 1).map(m => m | (1L << i)))
    // non-positive maxFlips ⇒ home bucket only (never an empty probe set)
    (0 to math.max(0, maxFlips)).flatMap(f => combos(0, f))
  }

  /** Exact brute-force top-k: broadcast the (small) query set, score
    * every (query, corpus) pair, keep top-k per query via the
    * bounded-heap aggregate.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val q = queries.select(col(qIdCol).as("query_id"), toDouble(col(qVecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"),
        cosine(col("v"), col("qv")).as("sim"))
    topKRanked(scored, k)
  }

  /** LSH-bucketed ANN: hash corpus and queries to H-bit hyperplane
    * signatures, join on equal bucket (optionally multi-probe with
    * 1-bit-flipped neighbors for recall), brute-force within the
    * matched buckets only. Shuffle is on an 8-byte bucket id.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, dim: Int, numBits: Int = 12, multiProbeBits: Int = 1,
              seed: Long = 42L): DataFrame = {
    val planes = randomHyperplanes(numBits, dim, seed)
    val c = corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("bucket", hyperplaneSignature(col("v"), planes))
    // multi-probe: each query also probes buckets within hamming
    // distance `multiProbeBits` — recall knob without re-scanning the
    // corpus.
    val probes: Seq[Column] = probeDeltas(numBits, multiProbeBits).map(lit)
    val q = queries.select(col(qIdCol).as("query_id"), toDouble(col(qVecCol)).as("qv"))
      .withColumn("sig", hyperplaneSignature(col("qv"), planes))
      .withColumn("bucket", explode(array(probes.map(p => col("sig").bitwiseXOR(p)): _*)))
      .drop("sig")
    val scored = c.join(broadcast(q), "bucket")
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("sim"))
      .dropDuplicates("query_id", "id")
    topKRanked(scored, k)
  }

  /** All-pairs kNN self-join — the semantic-dedup / embedding-cluster
    * primitive: every row's top-k nearest neighbors. Both sides bucket
    * on the hyperplane signature; the probe side additionally explodes
    * buckets within hamming distance `multiProbeBits` for recall (the
    * probe-count row multiplication of 8-byte-keyed rows is the recall
    * knob's explicit shuffle cost).
    * Never an O(n²) cross join: the self-join shuffles on the bucket id
    * and neither side is broadcast (both are corpus-sized); the per-id
    * top-k is the bounded-heap aggregate, not a window.
    *
    * Hot-bucket guard: a dense embedding cluster puts b rows in one
    * bucket and would generate O(b²) pairs inside one join task.
    * Buckets larger than `bucketCap` are grid-split via
    * [[graft.ops.Scale.cappedBucketJoin]] (deterministic salt, results
    * identical); `maxBucket` optionally drops degenerate buckets
    * entirely (SemDeDup practice for boilerplate/zero-vector masses).
    */
  def knnSelfJoin(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, dim: Int, numBits: Int = 12, multiProbeBits: Int = 1,
                  seed: Long = 42L, bucketCap: Int = 10000,
                  maxBucket: Long = Long.MaxValue): DataFrame = {
    val planes = randomHyperplanes(numBits, dim, seed)
    val base = df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("bucket", hyperplaneSignature(col("v"), planes))
    val probes: Seq[Column] = probeDeltas(numBits, multiProbeBits).map(lit)
    val probing = base
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(array(probes.map(p => col("bucket").bitwiseXOR(p)): _*)).as("bucket"))
    val scored = Scale.cappedBucketJoin(base, probing, Seq("bucket"),
        col("id"), col("query_id"), bucketCap, maxBucket)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("sim"))
      .dropDuplicates("query_id", "id")
    topKRanked(scored, k)
  }

  /** Label-noise detection by kNN label disagreement (the
    * Confident-Learning / Wilson-editing heuristic: a point whose
    * nearest neighbors mostly carry a DIFFERENT label is a likely
    * annotation error — Northcutt et al. 2021 use model confidence,
    * the classical kNN form uses neighborhood votes). Runs
    * [[knnSelfJoin]] with the given knobs, joins each side's label,
    * and reports per vector: its label, neighbors found, how many
    * disagree, the integer per-mille disagreement, and the majority
    * `suspect` flag (2·disagree > neighbors).
    *
    * Scale shape: the kNN is the bucketed, hot-bucket-guarded
    * self-join (never O(n²)); the two label lookups are 8-byte-keyed
    * equi-joins on corpus-sized tables (shuffle, not broadcast); the
    * final per-vector aggregation is map-side partial over ≤ k rows
    * per key.
    */
  def labelNoise(df: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, k: Int, dim: Int, numBits: Int = 12,
                 multiProbeBits: Int = 1, seed: Long = 42L): DataFrame = {
    val knn = knnSelfJoin(df, idCol, vecCol, k, dim, numBits,
      multiProbeBits, seed)
    val labels = df.select(col(idCol).as("__lid"),
      col(labelCol).cast("bigint").as("__lbl"))
    knn
      .join(labels.select(col("__lid").as("query_id"),
        col("__lbl").as("label")), "query_id")
      .join(labels.select(col("__lid").as("id"),
        col("__lbl").as("__nb")), "id")
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nb") =!= col("label"), 1L).otherwise(0L))
          .as("n_disagree"))
      .select(col("query_id").as("vec_id"), col("label"),
        col("n_neighbors"), col("n_disagree"),
        expr("CAST((1000 * n_disagree) div n_neighbors AS BIGINT)")
          .as("disagree_x1000"),
        (col("n_disagree") * 2 > col("n_neighbors")).as("suspect"))
  }

  /** IVF-style coarse quantization ANN: assign every corpus vector to
    * its nearest of `centroids` (a small driver-provided list — e.g.
    * sampled corpus rows), then search only the query's `nProbe`
    * closest cells. Centroid assignment is a constant-width projection;
    * the search join shuffles on the cell id.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, centroids: Seq[Array[Double]], nProbe: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("cell", nearestCell(col("v"), centroids))
    val q = queries.select(col(qIdCol).as("query_id"), toDouble(col(qVecCol)).as("qv"))
      .withColumn("cell", explode(topCells(col("qv"), centroids, nProbe)))
    val scored = c.join(broadcast(q), "cell")
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("sim"))
    topKRanked(scored, k)
  }

  /** Nearest IVF cell — ONE kernel call whose generated code is
    * constant in numCells ([[graft.functions.NearestCellExpr]]; the
    * centroid matrix ships as one reference object). Replaces
    * `array_max(array(struct(cosine(v, lit(c_i)), i)))`, whose code
    * grew linearly with the cell count and got replicated into
    * join-key null filters — ScaleRamp's 40-cell semDedup tripped
    * janino's 64 KB method limit (whole-stage codegen disabled, ~2×
    * wall clock). Value surface unchanged: same ascending-fold dots,
    * same zero-norm guard, same ties-to-the-larger-cell rule.
    */
  private[sim] def nearestCell(v: Column, centroids: Seq[Array[Double]]): Column =
    graft.functions.NearestCellExpr(toDouble(v), centroids)

  /** The `n` nearest cells, best first (query-side multi-probe) —
    * same kernel family, (sim DESC, cell DESC) order.
    */
  private[sim] def topCells(v: Column, centroids: Seq[Array[Double]], n: Int): Column =
    graft.functions.TopCellsExpr(toDouble(v), centroids, n)

  /** Sampled k-means centroid builder — the "where do centroids come
    * from" half of [[ivfTopK]], so IVF runs end-to-end from raw
    * embeddings without leaving the engine.
    *
    * Shape: a hash-deterministic sample (order by `hash61(seed:id)`,
    * take `sampleN` — a bounded TakeOrdered, never a full sort) seeds
    * and feeds a few Lloyd rounds run as DataFrame aggregates:
    * assignment is the constant-width [[nearestCell]] projection, the
    * update is a (cell, dim) grouped SUM — k×dim rows to the driver
    * per round, tiny by construction. Sums are exact DECIMAL (partial
    * aggregation order never changes the result) and are used directly
    * as centroids: cosine is scale-invariant, so the un-divided sum
    * IS the mean direction. Every step is deterministic on any
    * partitioning, making a SQL oracle twin possible.
    *
    * At corpus scale nothing here grows: the sample is `sampleN` rows,
    * each round shuffles k×dim grouped partials, and the result is a
    * k×dim driver-side list that [[ivfTopK]] folds into expressions.
    */
  /** The hash-deterministic `(v, h)` training sample — ONE corpus
    * scan + TakeOrdered; multi-quantizer builds (PQ, IVF-PQ) persist
    * it once and run every Lloyd loop against the cached rows.
    */
  private[sim] def kMeansSample(corpus: DataFrame, idCol: String,
                                vecCol: String, sampleN: Int,
                                seed: Long): DataFrame = {
    import graft.functions.HashFns
    val h = HashFns.hash61(concat(lit(s"ivf$seed:"), col(idCol).cast("string")))
    corpus.select(toDouble(col(vecCol)).as("v"), h.as("h"))
      .orderBy("h").limit(sampleN)
  }

  /** Lloyd loop over a (v, h) sample: first `k` by hash order seed,
    * `iters` rounds of constant-width assignment + (cell, dim)
    * DECIMAL sums — k×dim rows to the driver per round.
    */
  private[sim] def lloydFromSample(sample: DataFrame, k: Int,
                                   iters: Int): Seq[Array[Double]] = {
    var centroids: Seq[Array[Double]] = sample.orderBy("h").limit(k)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray).toSeq
    for (_ <- 0 until iters) {
      val sums = sample
        .select(nearestCell(col("v"), centroids).as("cell"), col("v"))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(col("x").cast("decimal(30,15)")).as("s"))
        .collect()
      // empty cells keep their previous centroid
      val next = centroids.map(_.clone).toArray
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDecimal(2).doubleValue()
      }
      centroids = next.toSeq
    }
    centroids
  }

  def kMeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 2, sampleN: Int = 512,
                      seed: Long = 42L): Seq[Array[Double]] = {
    require(k > 0 && sampleN >= k, "need sampleN >= k > 0")
    val sample = kMeansSample(corpus, idCol, vecCol, sampleN, seed)
    sample.persist()
    try lloydFromSample(sample, k, iters)
    finally sample.unpersist(blocking = false)
  }

  /** End-to-end IVF ANN from raw embeddings: build centroids with
    * [[kMeansCentroids]], then search with [[ivfTopK]].
    */
  def ivfTopKAuto(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  k: Int, numCells: Int = 8, nProbe: Int = 2,
                  iters: Int = 2, sampleN: Int = 512,
                  seed: Long = 42L): DataFrame =
    ivfTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k,
      kMeansCentroids(corpus, idCol, vecCol, numCells, iters, sampleN, seed),
      nProbe)

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic dedup by
    * coarse clustering + within-cluster cosine pruning. Every vector
    * is assigned to its nearest [[kMeansCentroids]] cell; within a
    * cell, a vector is DROPPED when some lower-id vector of the same
    * cell sits at cosine >= `threshold` (so each near-dup chain keeps
    * its minimum id — deterministic, no iteration). Returns one row
    * per corpus vector: (id, cell, kept).
    *
    * Scale shape: the centroid build touches only a `sampleN`-row
    * hash-deterministic sample; cell assignment is a constant-width
    * codegen'd projection (numCells × dim literals folded into the
    * plan), so the corpus is never collected or broadcast. The
    * within-cell pair generation is the whole point of the algorithm —
    * comparisons drop from O(corpus²) to Σ cell² — and runs through
    * [[graft.ops.Scale.cappedBucketJoin]]: a dense cell (exactly what
    * a near-dup-heavy corpus produces) grid-splits instead of becoming
    * one quadratic task. At real scale numCells grows with the corpus
    * (the paper uses ~10⁵ cells for web scale) so cells stay bounded;
    * `maxBucket` additionally drops degenerate cells outright.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, numCells: Int = 8,
               iters: Int = 2, sampleN: Int = 512, seed: Long = 42L,
               bucketCap: Int = 10000,
               maxBucket: Long = Long.MaxValue): DataFrame = {
    val centroids =
      kMeansCentroids(corpus, idCol, vecCol, numCells, iters, sampleN, seed)
    val c = corpus
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("cell", nearestCell(col("v"), centroids))
    val lo = c.select(col("cell"), col("id").as("id_lo"), col("v").as("v_lo"))
    val dropped = Scale.cappedBucketJoin(c, lo, Seq("cell"),
        col("id"), col("id_lo"), bucketCap, maxBucket)
      .where(col("id_lo") < col("id") &&
        cosine(col("v"), col("v_lo")) >= threshold)
      .select("id").distinct()
      .withColumn("hit", lit(1))
    c.join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"), col("hit").isNull.as("kept"))
  }

  /** Approximate DBSCAN over embeddings (Ester et al. 1996, with the
    * ε-neighborhood generated through LSH buckets — the standard way
    * density clustering survives corpus scale; the classical
    * algorithm's region queries become the guarded bucket self-join).
    * Similarity form: p and q are neighbors iff cosine(p, q) ≥ `eps`.
    * A point with ≥ `minPts` neighbors (self excluded) is CORE; core
    * points chain into clusters via connected components over
    * core–core neighbor edges (min-member-id labels — the
    * deterministic canonicalization of classical DBSCAN's
    * order-dependent assignment); a non-core point with a core
    * neighbor is a BORDER point of its smallest core neighbor's
    * cluster; everything else is NOISE (null cluster). Neighbor
    * recall is bounded by the LSH probing like every ANN operator
    * here — the oracle twin replicates the identical buckets, so the
    * surface stays exact.
    *
    * Scale shape: signature pass is map-only; the ε-join is the
    * hot-bucket-guarded bucket join (never O(n²)); the neighbor
    * table checkpoints once and feeds degree/edges/border; CC is the
    * star-contraction + small-residue machinery. Emits (idCol,
    * cluster_id, role).
    */
  def dbscan(df: DataFrame, idCol: String, vecCol: String,
             eps: Double = 0.4, minPts: Int = 3, dim: Int = 64,
             numBits: Int = 8, multiProbeBits: Int = 1, seed: Long = 42L,
             bucketCap: Int = 10000,
             maxBucket: Long = Long.MaxValue): DataFrame = {
    require(minPts >= 1, s"minPts=$minPts must be >= 1")
    val planes = randomHyperplanes(numBits, dim, seed)
    val base = df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("bucket", hyperplaneSignature(col("v"), planes))
    val probes: Seq[Column] = probeDeltas(numBits, multiProbeBits).map(lit)
    val probing = base
      .select(col("id").as("qid"), col("v").as("qv"),
        explode(array(probes.map(p => col("bucket").bitwiseXOR(p)): _*))
          .as("bucket"))
    // three consumers: degrees, edges, border
    val nbr = Lineage.cut(Scale.cappedBucketJoin(base, probing, Seq("bucket"),
        col("id"), col("qid"), bucketCap, maxBucket)
      .where(col("id") =!= col("qid") &&
        cosine(col("v"), col("qv")) >= eps)
      .select(col("qid").as("src"), col("id").as("dst"))
      .distinct())
    // two consumers: edge filter, labels
    val core = Lineage.cut(nbr.groupBy("src").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minPts)
      .select(col("src").as("id")))
    val edges = nbr
      .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .where(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    val labels = graft.dedup.Dedup.nearDupClusters(edges)
    val coreLab = core
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id"))
        .as("cluster_id"))
    val border = nbr
      .join(core.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(coreLab.select(col("id").as("dst"), col("cluster_id")),
        Seq("dst"))
      .groupBy("src").agg(min("cluster_id").as("cluster_id"))
      .select(col("src").as("id"), col("cluster_id"))
    df.select(col(idCol).as("id"))
      .join(coreLab.withColumnRenamed("cluster_id", "__cc"), Seq("id"), "left")
      .join(border.withColumnRenamed("cluster_id", "__bc"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__cc"), col("__bc")).as("cluster_id"),
        when(col("__cc").isNotNull, "core")
          .when(col("__bc").isNotNull, "border")
          .otherwise("noise").as("role"))
  }

  // ---------------------------------------------------------------- //
  // Int8 scalar quantization (SQ) — embedding compression            //
  // ---------------------------------------------------------------- //

  /** Per-dimension max-abs scales for [[sqQuantize]] — a DIM-sized
    * (not corpus-sized) driver collect, the same bounded-collect class
    * as the k-means centroids: one stats scan, `dim` doubles back.
    * max is order-free and float→double widening is exact, so the
    * collected values are deterministic and engine-identical.
    */
  def sqScales(corpus: DataFrame, vecCol: String): Array[Double] =
    corpus.select(posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy("pos").agg(max(abs(col("x"))).as("m"))
      .orderBy("pos")
      .collect().map(_.getDouble(1))

  /** Int8 scalar quantization: dimension i maps to
    * floor(x · 127 / s_i) ∈ [−127, 127] (0 where s_i = 0) — each
    * dimension normalized to unit max-abs, then snapped to the 8-bit
    * grid. At 100 TB this is the 4× storage/shuffle-width reduction
    * of FAISS's SQ8: the quantized corpus (64 bytes/vector at dim 64)
    * replaces the float array in every downstream shuffle and cache,
    * and similarity reads below become INTEGER arithmetic — exact,
    * oracle-hashable, no float summation order anywhere.
    */
  def sqQuantize(vec: Column, scales: Array[Double]): Column =
    // native kernel (r15): the transform lambda was interpreted per
    // (row × dimension) across the whole SQ family; the expression
    // runs the identical multiply-then-divide floor in generated code
    // (bit-identical codes — VecMathSpec pins it to the lambda form)
    graft.functions.VecSqQuantize(toDouble(vec), scales)

  /** Signed random projection (Johnson–Lindenstrauss / Achlioptas
    * ±1 variant) over the int8-quantized vectors: output dimension j
    * is Σ_i sign(i, j) · q_i with sign(i, j) = 1 − 2·(hash61("rp:i:j")
    * mod 2) — a deterministic, seedless ±1 matrix drawn from the
    * md5-derived oracle-parity hash family, so the projection is
    * INTEGER-EXACT on both engines (no float summation order anywhere;
    * the classic JL guarantee holds for ±1 entries, Achlioptas 2003).
    *
    * The training-data use: cut embedding width 4× (64 → 16 dims)
    * before an ANN/clustering pass whose cost scales with dimension,
    * with JL distance distortion bounds instead of hope.
    *
    * Scale shape: one posexplode (dim rows per vector) and ONE
    * hash aggregation producing all `outDim` sums as map-side-partial
    * integer aggregates — never an outDim-way self-join, never a
    * driver-side matrix. Returns (idCol, rp = array<bigint> of
    * outDim).
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDim: Int, scales: Array[Double],
                       salt: String = "rp"): DataFrame = {
    require(outDim >= 1, s"outDim=$outDim must be >= 1")
    val q = df.select(col(idCol).as("__id"),
        posexplode(sqQuantize(col(vecCol), scales)).as(Seq("pos", "q")))
    val sums = (0 until outDim).map { j =>
      val sign = lit(1L) - lit(2L) * pmod(
        graft.functions.HashFns.hash61(
          concat(lit(s"$salt:"), col("pos").cast("string"), lit(s":$j"))),
        lit(2L))
      sum(col("q") * sign).as(s"rp$j")
    }
    q.groupBy("__id").agg(sums.head, sums.tail: _*)
      .select(col("__id").as(idCol),
        array((0 until outDim).map(j => col(s"rp$j")): _*).as("rp"))
  }

  /** Integer dot product of two quantized vectors — the asymmetric-
    * distance read over [[sqQuantize]] output, as a native kernel
    * ([[graft.functions.VecDotLong]] — one generated-code loop per
    * pair). Ranking happens in the max-abs-normalized space (each dim
    * whitened to [−1, 1]); qdot approximates
    * 127² · Σ (a_i/s_i)(b_i/s_i) within ±1 quantization error per
    * component.
    */
  def sqDot(a: Column, b: Column): Column =
    graft.functions.VecDotLong(a, b)

  // ---------------------------------------------------------------- //
  // Product quantization (PQ) — m-subspace codebook compression      //
  // ---------------------------------------------------------------- //

  /** A trained PQ model (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector splits
    * into `m` subspaces of `subDim` dims; each subspace carries a
    * `ksub`-centroid spherical codebook (cosine assignment — the
    * [[kMeansCentroids]] trainer on the slice), plus the full-dim
    * max-abs scales and the int8-quantized centroids the ADC readback
    * scores against. A vector stores as m small codes (m bytes at
    * ksub ≤ 256) instead of dim floats — the 100 TB story: a 64-dim
    * float corpus (256 B/vector) re-shuffles and caches as 4 B/vector
    * wherever approximate ranking suffices.
    */
  final case class PqModel(m: Int, subDim: Int,
                           codebooks: Seq[Seq[Array[Double]]],
                           scales: Array[Double],
                           codebooks8: Seq[Seq[Array[Long]]]) {
    def ksub: Int = codebooks.head.size
  }

  /** Train PQ codebooks: per subspace, the hash-deterministic sampled
    * k-means of [[kMeansCentroids]] over the SLICED vectors — the id
    * hash ignores the slice, so every subspace trains on the same
    * bounded sample rows and the whole build replays in SQL. Queries
    * quantize on the corpus-wide per-dimension max-abs scales
    * ([[sqQuantize]]); each CENTROID quantizes by its own max-abs
    * (centroids are un-normalized sums — only their direction matters
    * to the dot readback, and self-scaling puts every codebook entry
    * on the same [-127, 127] magnitude).
    */
  /** PQ codebooks from an already-persisted (v, h) sample — the
    * shared-scan path: slicing AFTER sampling selects the same rows
    * (the hash ignores the vector), so this is value-identical to
    * sampling each sliced corpus, without the per-subspace scans.
    */
  private def pqTrainFromSample(sample: DataFrame, scales: Array[Double],
                                m: Int, ksub: Int, iters: Int): PqModel = {
    val dim = sample.select(size(col("v"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val subDim = dim / m
    val codebooks = (0 until m).map { s =>
      lloydFromSample(
        sample.select(slice(col("v"), s * subDim + 1, subDim).as("v"), col("h")),
        ksub, iters)
    }
    // Centroids are un-normalized DECIMAL sums (cosine is
    // scale-invariant), so they overflow a corpus-scaled int8 grid;
    // each quantizes by its OWN max-abs instead — direction is all
    // the dot-product readback needs, and every codebook entry lands
    // on the same [-127, 127] magnitude. abs/max are order-free and
    // the floor(c·127/mx) doubles replay identically in SQL.
    val cb8 = codebooks.map { cbs =>
      cbs.map { c =>
        val mx = c.map(math.abs).max
        Array.tabulate(subDim) { i =>
          if (mx == 0.0) 0L else math.floor(c(i) * 127.0 / mx).toLong
        }
      }
    }
    PqModel(m, subDim, codebooks, scales, cb8)
  }

  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, ksub: Int, iters: Int = 1, sampleN: Int = 512,
              seed: Long = 42L): PqModel = {
    val scales = sqScales(corpus, vecCol)
    val sample = kMeansSample(corpus, idCol, vecCol, sampleN, seed)
    sample.persist()
    try pqTrainFromSample(sample, scales, m, ksub, iters)
    finally sample.unpersist(blocking = false)
  }

  /** Per-subspace code columns of a vector under a PQ model. */
  private def pqCodeCols(v: Column, model: PqModel): Seq[Column] =
    (0 until model.m).map { s =>
      nearestCell(slice(v, s * model.subDim + 1, model.subDim),
        model.codebooks(s)).as(s"code$s")
    }

  /** Encode a corpus under a PQ model: `(id, code0..code{m-1})` — per
    * subspace the nearest codebook centroid by cosine (ties to the
    * larger code, the [[nearestCell]] convention). A constant-width
    * codegen'd projection (m × ksub centroid literals folded into the
    * plan); the corpus is never collected.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame =
    corpus.select(col(idCol).as("id") +:
      pqCodeCols(toDouble(col(vecCol)), model): _*)

  /** PQ top-k by asymmetric distance computation: each query
    * int8-quantizes once, precomputes its per-subspace lookup table
    * (ksub integer dots against the quantized centroids —
    * [[graft.functions.VecDotLong]] kernels), and every corpus code
    * row scores with m array lookups summed — EXACT integer
    * arithmetic, so the ANN surface is oracle-hashable with no float
    * summation anywhere in the ranking. Corpus side: the encode
    * projection + one broadcast join against the tiny query tables +
    * the bounded-heap top-k; nothing shuffles wider than the m codes.
    */
  /** Per-query PQ lookup tables: `(query_id, carry..., qtab0..)` —
    * each qtab is the ksub integer dots of the int8-quantized query
    * subvector against that subspace's quantized centroids.
    */
  private def pqQueryTables(queries: DataFrame, qIdCol: String,
                            qVecCol: String, model: PqModel,
                            carry: Seq[String] = Seq.empty): DataFrame = {
    val qtabCols = (0 until model.m).map { s =>
      val sub = slice(col("__q8"), s * model.subDim + 1, model.subDim)
      array((0 until model.ksub).map(j =>
        sqDot(sub, typedlit(model.codebooks8(s)(j).toSeq))): _*).as(s"qtab$s")
    }
    queries
      .select(col(qIdCol).as("query_id") +: carry.map(col) :+
        sqQuantize(col(qVecCol), model.scales).as("__q8"): _*)
      .select(col("query_id") +: carry.map(col) ++: qtabCols: _*)
  }

  /** ADC score: m lookups summed, exact integers. */
  private def pqAdcScore(model: PqModel): Column =
    (0 until model.m).map(s =>
      element_at(col(s"qtab$s"), col(s"code$s") + 1)).reduce(_ + _)

  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qIdCol: String, qVecCol: String,
             k: Int, model: PqModel): DataFrame = {
    val codes = pqEncode(corpus, idCol, vecCol, model)
    val qt = pqQueryTables(queries, qIdCol, qVecCol, model)
    val scored = codes.crossJoin(broadcast(qt))
      .select(col("query_id"), col("id"), pqAdcScore(model).as("pq_dot"))
    TopK.topKPerKey(scored, Seq("query_id"), col("pq_dot"), Seq(col("id")), k)
      .select(col("query_id"), col("id"), col("pq_dot"), col("rn").as("rank"))
  }

  /** IVF-PQ: the web-scale ANN composition (FAISS's IVFADC layout,
    * Jégou et al. 2011 §III) — a coarse full-dim IVF partition
    * restricts candidates to the query's `nProbe` nearest cells, and
    * PQ ADC scores only those, off the compressed codes. Both
    * quantizers train on the SAME hash-deterministic sample (the id
    * hash ignores slicing), so the whole index build replays in SQL.
    *
    * Scale shape: the corpus encodes once into (cell, m codes) —
    * ~5 B/vector; search joins the tiny broadcast (query × probed
    * cell) table on the cell id, so each query touches only its
    * probed cells' rows (at real scale numCells grows so cells stay
    * bounded, the IVF contract), scores them with m array lookups,
    * and ends in the bounded-heap top-k. No full-corpus scan per
    * query, no float math in the ranking.
    */
  def ivfPqTopKAuto(corpus: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    k: Int, numCells: Int, nProbe: Int, m: Int, ksub: Int,
                    iters: Int = 1, sampleN: Int = 512,
                    seed: Long = 42L): DataFrame = {
    // one corpus scan feeds BOTH quantizers (the sample hash ignores
    // the vector, so coarse and subspace builds share rows exactly)
    val sample = kMeansSample(corpus, idCol, vecCol, sampleN, seed)
    sample.persist()
    val (coarse, model) =
      try (lloydFromSample(sample, numCells, iters),
        pqTrainFromSample(sample, sqScales(corpus, vecCol), m, ksub, iters))
      finally sample.unpersist(blocking = false)
    val enc = corpus.select(col(idCol).as("id") +:
      nearestCell(toDouble(col(vecCol)), coarse).as("cell") +:
      pqCodeCols(toDouble(col(vecCol)), model): _*)
    val qt = pqQueryTables(
        queries.select(col(qIdCol), col(qVecCol),
          topCells(toDouble(col(qVecCol)), coarse, nProbe).as("__cells")),
        qIdCol, qVecCol, model, carry = Seq("__cells"))
      .select(col("query_id") +: explode(col("__cells")).as("cell") +:
        (0 until m).map(s => col(s"qtab$s")): _*)
    val scored = enc.join(broadcast(qt), "cell")
      .select(col("query_id"), col("id"), pqAdcScore(model).as("pq_dot"))
    TopK.topKPerKey(scored, Seq("query_id"), col("pq_dot"), Seq(col("id")), k)
      .select(col("query_id"), col("id"), col("pq_dot"), col("rn").as("rank"))
  }

  /** Embedding centroid drift — the corpus-observability report that
    * catches "source X's embeddings moved" / "labels Y and Z have
    * collapsed together" before a similarity index silently degrades:
    * per-group centroids and all pairwise centroid cosines.
    *
    * The centroid is the per-dimension SUM of the int8-quantized
    * vectors ([[sqQuantize]] over shared [[sqScales]]) — exact
    * integers, so the centroid is engine-exact, and the similarity
    * surface stays INTEGER: the report emits the exact centroid dot
    * product and both squared norms (cos = cdot/√(nrm2_a·nrm2_b) is
    * one float op away for a human, but a float rounded at a decimal
    * boundary is exactly how engines disagree — q127's first draft
    * proved it at round(cos, 4)). Dividing by n would only rescale —
    * cosine is scale-invariant, so the unnormalized sum IS the
    * centroid for this purpose.
    *
    * Returns (g_a, g_b, n_a, n_b, cdot, nrm2_a, nrm2_b) for every
    * unordered group pair, g_a < g_b — all BIGINT, all exact.
    *
    * Scale shape: one scan quantizes and explodes to (group, dim,
    * int) — a map-side-partial sum on the bounded (groups × dim)
    * key; centroid assembly and the pairwise join touch only
    * G-row tables (G = #groups, broadcast inequality self-join —
    * the q93 pairs-of-groups shape). The dim-sized scales collect
    * is the k-means-centroid bounded-driver-state class.
    */
  def centroidDrift(df: DataFrame, groupCol: String,
                    vecCol: String): DataFrame = {
    val scales = sqScales(df, vecCol)
    val q = df.select(col(groupCol).as("g"),
      sqQuantize(col(vecCol), scales).as("qe"))
    val cvecs = q
      .select(col("g"), posexplode(col("qe")).as(Seq("pos", "x")))
      .groupBy("g", "pos").agg(sum("x").as("sx"))
      .groupBy("g")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
        s => s.getField("sx")).as("cv"))
    val counts = q.groupBy("g").agg(count(lit(1)).as("n"))
    val sides = cvecs.join(counts, "g")
      .withColumn("nrm2", sqDot(col("cv"), col("cv")))
    val a = sides.select(col("g").as("g_a"), col("cv").as("cv_a"),
      col("n").as("n_a"), col("nrm2").as("nrm2_a"))
    val b = sides.select(col("g").as("g_b"), col("cv").as("cv_b"),
      col("n").as("n_b"), col("nrm2").as("nrm2_b"))
    a.join(broadcast(b), col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        sqDot(col("cv_a"), col("cv_b")).as("cdot"),
        col("nrm2_a"), col("nrm2_b"))
  }

  /** Public cell assignment — the clustering half of SemDeDup/IVF as
    * a standalone operator: every corpus vector labeled with its
    * nearest [[kMeansCentroids]] cell. The building block of
    * cluster-balanced sampling ("don't let one dense topic eat the
    * mixture") and cluster-sharded layouts.
    *
    * Scale shape: the centroids are a bounded driver-side model (the
    * sampled-Lloyd class); assignment is one map-only scan through
    * the native nearest-cell kernel.
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  numCells: Int = 8, iters: Int = 2, sampleN: Int = 512,
                  seed: Long = 42L): DataFrame = {
    val cents = kMeansCentroids(corpus, idCol, vecCol, numCells, iters,
      sampleN, seed)
    corpus.select(col(idCol).as("id"),
      nearestCell(toDouble(col(vecCol)), cents).as("cell"))
  }

  /** Hard-negative mining — the contrastive-training data generator
    * (e.g. DPR, Karpukhin et al. 2020): for each query, the corpus
    * vectors MOST similar to it that carry a DIFFERENT label. Easy
    * negatives (random) teach a retriever nothing; the near-miss
    * with the wrong label is the gradient that matters.
    *
    * Returns (query_id, id, sim, rank) — the top `k` wrong-label
    * neighbors per query, cosine rounded to 4, rank 1 = hardest.
    *
    * Scale shape: the query set broadcasts (training batches are
    * small); label mismatch filters BEFORE scoring; per-query top-k
    * is the bounded-heap aggregate. Swap the scored cross join for
    * [[lshTopK]]/[[ivfTopK]] candidates at corpus scale — the
    * label-filter + heap shape is unchanged.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, qIdCol: String,
                    qVecCol: String, qLabelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"),
      col(labelCol).as("lbl"))
    val q = queries.select(col(qIdCol).as("query_id"),
      toDouble(col(qVecCol)).as("qv"), col(qLabelCol).as("qlbl"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("lbl") =!= col("qlbl"))
      .select(col("query_id"), col("id"), cosine(col("v"), col("qv")).as("sim"))
    topKRanked(scored, k)
      .select(col("query_id"), col("id"), round(col("sim"), 4).as("sim"),
        col("rank"))
  }

  /** Recall@k of an ANN result against exact ground truth — the
    * evaluation operator every approximate index needs before it
    * gates a production pipeline (tune nProbe/numBits/m against a
    * brute-forced query sample, THEN deploy). Both inputs are
    * (query_id, id, ...) top-k tables (e.g. [[ivfTopKAuto]] vs
    * [[bruteForceTopK]] over the same queries); output is one row per
    * ground-truth query: (query_id, n_hits, recall_x1000 =
    * 1000·n_hits div k) — integer only, so the evaluation surface is
    * oracle-hashable. Queries the ANN missed entirely score 0.
    *
    * Scale shape: one equi-join on (query_id, id) — both sides are
    * k-bounded per query — and a count aggregation on query_id. The
    * ground truth is usually a small query sample; nothing here
    * touches the corpus.
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = ann.select(col("query_id"), col("id"))
      .join(exact.select(col("query_id"), col("id")), Seq("query_id", "id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_x1000", expr(s"(1000 * n_hits) div $k"))
  }

  /** Top principal component of an embedding corpus by INTEGER power
    * iteration (von Mises & Pollaczek-Geiringer 1929) — the variance
    * lens on an embedding table: how much of the cloud's energy lies
    * on one axis (anisotropy / collapsed-embedding detection, the
    * corpus-level complement to q268's intrinsic dimension). The
    * plan quantizes coordinates to exact integers (×`scale`), builds
    * the d×d centered co-moment grid
    * a(i,j) = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) div n once, and runs `iters`
    * matrix-vector steps in ×2²⁰ fixed point with a sign-guarded
    * integral renormalization — no float enters until never: the
    * explained-variance share is the exact integer Rayleigh ratio
    * (10⁶·vᵀAv) div (vᵀv·trace A). Output one row: (n_vecs, dim,
    * trace, explained_ppm, i1..i3 = top-|loading| coordinates).
    *
    * Scale shape: ONE corpus pass explodes coordinates and reduces to
    * the d²-bounded grid (map-side partials absorb the d² blowup);
    * the id-keyed self-join shuffles n·d coordinate rows ONCE; the
    * iteration itself is a single-task DRIVER finisher over the
    * collected d² grid (a documented bounded collect — a
    * driver-synchronized matvec loop would cost ~3 Spark jobs per
    * iteration for dim²-bounded work). BigInt arithmetic mirrors the
    * twin's HUGEINT exactly; the distributed grid stays within
    * DECIMAL(38)/LONG to ~10⁹ vectors at scale 1000 (the div-n
    * normalization buys the margin).
    */
  def pcaTopComponent(df: DataFrame, idCol: String, vecCol: String,
                      iters: Int = 8, scale: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // grid self-join both sides + marginals
    val q = Lineage.cut(df.select(col(idCol).as("id"),
        posexplode(expr(s"CAST($vecCol AS array<double>)"))
          .as(Seq("i", "x")))
      .select(col("id"), col("i").cast("bigint").as("i"),
        expr(s"CAST(round(x * $scale) AS BIGINT)").as("xq")))
    val n1 = q.agg(countDistinct("id").as("n"))
    // row + column marginal consumers
    val sx = Lineage.cut(q.groupBy("i")
      .agg(sum(expr("CAST(xq AS DECIMAL(38,0))")).as("sx")))
    val sp = q.as("l").join(q.as("r"), "id")
      .groupBy(col("l.i").as("i"), col("r.i").as("j"))
      .agg(sum(expr("CAST(l.xq AS DECIMAL(38,0)) * r.xq")).as("sp"))
    val a = sp.join(broadcast(sx), Seq("i"))
      .join(broadcast(sx.select(col("i").as("j"), col("sx").as("sy"))),
        Seq("j"))
      .crossJoin(broadcast(n1))
      .select(col("i"), col("j"), col("n"), expr(
        "CASE WHEN n * sp >= sx * sy THEN (n * sp - sx * sy) div n " +
          "ELSE -((sx * sy - n * sp) div n) END").as("aij"))
    // SINGLE-TASK finisher over the d²-bounded grid (the q139
    // union-find lesson: a driver-synchronized matvec loop costs
    // ~3 jobs per iteration; the grid is dim²-bounded — a documented
    // bounded collect, like the k×dim centroid collects): the power
    // iteration runs in exact BigInt with the SAME truncating-div,
    // sign-guarded arithmetic the DuckDB twin unrolls in HUGEINT.
    val S = 1L << 20
    val rows = a.collect()
    if (rows.isEmpty) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
        .toDF("n_vecs", "dim", "trace", "explained_ppm", "i1", "i2", "i3")
    }
    val n = rows.head.getAs[Long]("n")
    val dims = rows.map(_.getAs[Long]("i")).distinct.sorted
    val d = dims.length
    val ix = dims.zipWithIndex.toMap
    val A = Array.fill(d, d)(BigInt(0))
    rows.foreach { r =>
      A(ix(r.getAs[Long]("i")))(ix(r.getAs[Long]("j"))) =
        BigInt(r.getAs[Long]("aij"))
    }
    def matvec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(i => (0 until d).map(j => A(i)(j) * v(j))
        .foldLeft(BigInt(0))(_ + _))
    var v = Array.fill(d)(BigInt(S))
    for (_ <- 1 to iters) {
      val w = matvec(v)
      val m = w.map(_.abs).max.max(BigInt(1))
      // BigInt '/' truncates toward zero — the guarded form keeps the
      // operands non-negative so `div`, `//` and '/' agree exactly
      v = w.map(x =>
        if (x >= 0) (x * S) / m else -(((-x) * S) / m))
    }
    val wf = matvec(v)
    val num = (0 until d).map(i => v(i) * wf(i)).foldLeft(BigInt(0))(_ + _)
    val den = (0 until d).map(i => v(i) * v(i)).foldLeft(BigInt(0))(_ + _)
    val trace = (0 until d).map(i => A(i)(i)).foldLeft(BigInt(0))(_ + _)
    val explained =
      if (num <= 0 || den * trace == 0) 0L
      else ((BigInt(1000000) * num) / (den * trace)).toLong
    val top = dims.indices.sortBy(j => (-v(j).abs, dims(j))).take(3)
      .map(j => dims(j))
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, d.toLong, trace.toLong, explained, top(0),
      if (top.length > 1) top(1) else -1L,
      if (top.length > 2) top(2) else -1L))
      .toDF("n_vecs", "dim", "trace", "explained_ppm", "i1", "i2", "i3")
  }

  /** Matryoshka truncation evaluation (Kusupati et al. 2022, MRL):
    * how much retrieval quality survives when the embedding is cut to
    * its first `dims(i)` coordinates — the knob modern
    * nested-representation models expose for cheap first-stage
    * retrieval. For each truncation width, brute-force cosine top-k
    * with the PREFIX-sliced vectors is scored against the full-dim
    * exact top-k via [[recallAtK]]; output one row per
    * (trunc_dim, query): (trunc_dim, query_id, n_hits, recall_x1000).
    *
    * Scale shape: |dims|+1 map-only corpus scans, each with the
    * broadcast query set (the q28/q123 brute-force convention);
    * everything after the bounded-heap top-k is query-bounded. The
    * slice happens BEFORE the dot product, so a fused first-stage
    * scan reads only the prefix arithmetic — at 100 TB the win is
    * proportional to dim/trunc_dim.
    */
  def matryoshkaRecall(corpus: DataFrame, idCol: String, vecCol: String,
                       queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, dims: Seq[Int]): DataFrame = {
    // Q×k rows, |dims| consumers
    val exact = Lineage.cut(bruteForceTopK(corpus, idCol, vecCol,
      queries, qIdCol, qVecCol, k))
    dims.map { dm =>
      val ct = corpus.select(col(idCol),
        slice(col(vecCol), 1, dm).as(vecCol))
      val qt = queries.select(col(qIdCol),
        slice(col(qVecCol), 1, dm).as(qVecCol))
      val ann = bruteForceTopK(ct, idCol, vecCol, qt, qIdCol, qVecCol, k)
      recallAtK(ann, exact, k)
        .select(lit(dm.toLong).as("trunc_dim"), col("query_id"),
          col("n_hits"), col("recall_x1000"))
    }.reduce(_ unionByName _)
  }

  /** Integer DCG gain ×10⁶ at 1-indexed rank r: round(10⁶/log2(r+1)).
    * A FIXED table of constants per k, so "nDCG needs floats" never
    * enters the plan — both engines consume the SAME literals via the
    * emitters below (the one-emitter oracle discipline).
    */
  def dcgGainX1e6(r: Int): Long =
    math.round(1e6 / (math.log(r + 1.0) / math.log(2.0)))

  /** Gain CASE over a 1-indexed rank expression, ranks beyond k → 0. */
  def dcgGainCaseSql(rankE: String, k: Int): String =
    "(CASE " + (1 to k).map(r =>
      s"WHEN ($rankE) = $r THEN CAST(${dcgGainX1e6(r)} AS BIGINT)")
      .mkString(" ") + " ELSE CAST(0 AS BIGINT) END)"

  /** Ideal-DCG CASE over a ground-truth-size expression (n ≤ k holds
    * by construction — the ground truth is a top-k table).
    */
  def idcgCaseSql(nE: String, k: Int): String = {
    val prefix = (1 to k).scanLeft(0L)(_ + dcgGainX1e6(_)).tail
    "(CASE " + (1 to k).map(r =>
      s"WHEN ($nE) = $r THEN CAST(${prefix(r - 1)} AS BIGINT)")
      .mkString(" ") + s" ELSE CAST(${prefix(k - 1)} AS BIGINT) END)"
  }

  /** Ranking-quality evaluation beyond set recall: MRR and nDCG@k of
    * a ranked ANN result against exact ground truth — recall@k says
    * WHETHER the true neighbors were found, these say WHERE the index
    * put them (an index that returns every true neighbor at the
    * bottom of its list recalls 1000 but ranks badly — re-ranking
    * pipelines gate on exactly this difference). `ann` must carry
    * (query_id, id, rank); `exact` is the ground-truth top-k.
    *
    * Integer end to end: gains are precomputed ×10⁶ literals
    * ([[dcgGainX1e6]]), mrr_x1000 = 1000 div first_hit_rank, and
    * ndcg_x1000 = 1000·DCG div IDCG(n_gt) — so the DuckDB twin
    * consuming the same emitted CASE tables hashes identically.
    *
    * Scale shape: one equi-join on (query_id, id) — both sides
    * k-bounded per query — and two aggregations on query_id; the gain
    * lookup is a codegen'd CASE over k literal arms.
    */
  def rankEval(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = ann.select(col("query_id"), col("id"),
        col("rank").cast("bigint").as("rank"))
      .join(exact.select(col("query_id"), col("id")), Seq("query_id", "id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"),
        min("rank").as("first_hit_rank"),
        sum(expr(dcgGainCaseSql("rank", k))).as("__dcg"))
    exact.groupBy("query_id").agg(count(lit(1)).as("__n_gt"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("first_hit_rank"), lit(0L)).as("first_hit_rank"),
        coalesce(col("__dcg"), lit(0L)).as("__dcg"), col("__n_gt"))
      .withColumn("mrr_x1000", expr(
        "CASE WHEN first_hit_rank > 0 THEN 1000 div first_hit_rank " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("ndcg_x1000", expr(
        s"CAST((1000 * __dcg) div greatest(${idcgCaseSql("__n_gt", k)}, 1) AS BIGINT)"))
      .select("query_id", "n_hits", "first_hit_rank", "mrr_x1000", "ndcg_x1000")
  }

  /** Mean-average-precision evaluation — the third lens on a ranked
    * ANN result after recall@k ([[rankEval]]'s companion): per query,
    * AP = (Σ over hits of precision@rank_of_hit) / n_ground_truth.
    * MRR only sees the FIRST hit and nDCG weights by a fixed gain
    * curve; AP integrates precision over every hit position, so an
    * index that front-loads half the truth and drops the rest
    * separates from one that spreads hits thinly.
    *
    * Integer end to end: precision@r = (10⁶ · cum_hits) div r, and
    * ap_x1e6 = Σ prec div n_gt — both engines truncate identically.
    *
    * Scale shape: the same k-bounded (query_id, id) equi-join as
    * [[rankEval]]; the cumulative-hit window partitions by query_id
    * over ≤ k rows, so no global sort and no skew beyond the ANN
    * result's own fan-in.
    */
  def mapEval(ann: DataFrame, exact: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("rank")
    val perHit = ann.select(col("query_id"), col("id"),
        col("rank").cast("bigint").as("rank"))
      .join(exact.select(col("query_id"), col("id")), Seq("query_id", "id"))
      .withColumn("__cum", count(lit(1)).over(w))
      .withColumn("__prec", expr(
        "CAST((1000000 * __cum) div rank AS BIGINT)"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"), sum("__prec").as("__sp"))
    exact.groupBy("query_id").agg(count(lit(1)).as("__n_gt"))
      .join(perHit, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("CAST(coalesce(__sp, CAST(0 AS BIGINT)) " +
          "div greatest(__n_gt, 1) AS BIGINT)").as("ap_x1e6"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell &
    * Goldstein SIGIR 1998) — the context-selection step after
    * retrieval: greedily pick `kSel` of the top-`kCand` cosine
    * candidates, each pick maximizing 7·relevance − 3·(max cosine to
    * anything already picked), so near-duplicate passages don't crowd
    * the result the way a plain top-k lets them. The greedy argmax
    * chain is inherently sequential, but only over the CANDIDATE
    * table: candidates, their pairwise similarities (Q × kCand²
    * rows), and every selection round are all query-set-bounded —
    * the corpus is touched once by the candidate scan. Ties broken
    * by id ascending; Double scoring follows the q28/q134 identical-
    * expression parity convention.
    */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                kCand: Int = 10, kSel: Int = 3): DataFrame = {
    require(kSel >= 1 && kCand >= kSel,
      s"need kCand=$kCand >= kSel=$kSel >= 1")
    val c = corpus.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val q = queries.select(col(qIdCol).as("query_id"),
      toDouble(col(qVecCol)).as("qv"))
    val cand = Lineage.cut(TopK.topKPerKey(
        c.crossJoin(broadcast(q))
          .where(col("id") =!= col("query_id"))
          .select(col("query_id"), cosine(col("v"), col("qv")).as("rel"),
            col("id")),
        Seq("query_id"), col("rel"), Seq(col("id")), kCand)
      .select(col("query_id"), col("id"), col("rel")))
    // pairwise candidate sims — Q × kCand² rows, computed once
    val cv = cand.join(c, "id")
    val sims = Lineage.cut(cv
      .select(col("query_id"), col("id").as("ia"), col("v").as("va"))
      .join(cv.select(col("query_id"), col("id").as("ib"), col("v").as("vb")),
        Seq("query_id"))
      .where(col("ia") =!= col("ib"))
      .select(col("query_id"), col("ia"), col("ib"),
        cosine(col("va"), col("vb")).as("sim")))
    def argmax(scored: DataFrame, pick: Int): DataFrame =
      scored.groupBy("query_id")
        .agg(max(struct(col("mmr").as("s"), (-col("id")).as("ni"),
          col("rel").as("r"))).as("__b"))
        .select(col("query_id"), lit(pick.toLong).as("pick"),
          (-col("__b.ni")).as("id"), col("__b.r").as("rel"),
          col("__b.s").as("mmr"))
    var sel = argmax(cand.select(col("query_id"), col("id"), col("rel"),
      (col("rel") * 7).as("mmr")), 1)
    var all = sel
    (2 to kSel).foreach { pick =>
      val remaining = cand.join(all.select(col("query_id"), col("id")),
        Seq("query_id", "id"), "left_anti")
      val maxSim = remaining.select(col("query_id"), col("id").as("ia"),
          col("rel"))
        .join(sims, Seq("query_id", "ia"))
        .join(all.select(col("query_id"), col("id").as("ib")),
          Seq("query_id", "ib"))
        .groupBy("query_id", "ia", "rel")
        .agg(max("sim").as("ms"))
      sel = argmax(maxSim.select(col("query_id"), col("ia").as("id"),
        col("rel"), (col("rel") * 7 - col("ms") * 3).as("mmr")), pick)
      all = all.unionByName(sel)
    }
    all.select(col("query_id"), col("pick"), col("id"),
      round(col("rel"), 4).as("rel"), round(col("mmr"), 4).as("mmr"))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR 2009) — THE hybrid-
    * search combiner: each retriever contributes 10⁶ div (kRrf +
    * rank) per (query, doc), exact integers, summed across lists;
    * docs surfaced by several retrievers rise without any score
    * calibration between incomparable scales (BM25 logs vs cosine).
    * Inputs are (query_id, id, rank) tables already cut to each
    * retriever's top-k, so fusion runs on Q×k-bounded rows; the
    * fused top-`topK` per query rides the bounded-heap aggregate,
    * never a per-query window.
    */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kRrf >= 1, s"kRrf=$kRrf must be >= 1")
    val tagged = rankings.map(_.select(col("query_id"), col("id"),
      expr(s"CAST(1000000 div ($kRrf + rank) AS BIGINT)").as("__c")))
    val fused = tagged.reduce(_ unionByName _)
      .groupBy("query_id", "id")
      .agg(count(lit(1)).as("n_lists"), sum("__c").as("rrf_x"))
    TopK.topKPerKey(fused.select(col("query_id"), col("rrf_x"),
        col("id"), col("n_lists")),
        Seq("query_id"), col("rrf_x"), Seq(col("id"), col("n_lists")), topK)
      .select(col("query_id"), col("id"), col("n_lists"), col("rrf_x"),
        col("rn").as("rank"))
  }

  /** Most atypical documents per source — the embedding outlier
    * screen a curation pass runs before trusting a source's label
    * ("these five docs don't look like the rest of src7"): each
    * doc's cosine to ITS OWN source centroid, lowest-k reported.
    * The centroid rides [[centroidDrift]]'s int8-quantization
    * discipline (integer dimension sums — no float-accumulation
    * order anywhere); the per-doc cosine divides integer dots and
    * rounds to micros (the q108 parity class).
    *
    * Scale shape: one quantized explode → (source, dim) integer
    * partial sums; centroids broadcast back (sources × dim —
    * bounded); scoring is one map pass; lowest-k rides the bounded
    * heap.
    */
  def sourceOutliers(emb: DataFrame, idCol: String, vecCol: String,
                     docs: DataFrame, docIdCol: String, groupCol: String,
                     k: Int = 5): DataFrame = {
    val scales = sqScales(emb, vecCol)
    val q = Lineage.cut(emb.select(col(idCol).as("id"),
        sqQuantize(col(vecCol), scales).as("qe"))
      .join(docs.select(col(docIdCol).as("id"), col(groupCol).as("g")),
        Seq("id")))
    val cvecs = q.select(col("g"), posexplode(col("qe")).as(Seq("pos", "x")))
      .groupBy("g", "pos").agg(sum("x").as("sx"))
      .groupBy("g")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
        s => s.getField("sx")).as("cv"))
      .withColumn("n2c", sqDot(col("cv"), col("cv")))
    val scored = q.join(broadcast(cvecs), Seq("g"))
      .withColumn("d", sqDot(col("qe"), col("cv")))
      .withColumn("n2q", sqDot(col("qe"), col("qe")))
      .withColumn("cos_x1e6",
        when(col("n2q") === 0L || col("n2c") === 0L, lit(0L))
          .otherwise(round(col("d") * lit(1000000.0) /
            (sqrt(col("n2q").cast("double")) * sqrt(col("n2c").cast("double"))))
            .cast("bigint")))
    TopK.topKPerKey(scored.select(col("g"), (-col("cos_x1e6")).as("__nc"),
        col("id"), col("cos_x1e6")),
        Seq("g"), col("__nc"), Seq(col("id"), col("cos_x1e6")), k)
      .select(col("g").as(groupCol), col("rn").as("rank"),
        col("id").as("doc_id"), col("cos_x1e6"))
  }

  /** Discriminative word labels per embedding cluster — the
    * auto-naming step after clustering (the practice behind
    * "cluster 3 ≈ recipes": label each cell with the words whose
    * document frequency INSIDE the cell most exceeds their corpus
    * rate, lift = (df_in/n_cell)/(df_all/N) in exact ppm, min-df
    * floored so a hapax cannot label a cluster). Rides the q79/q135
    * deterministic IVF assignment, so the label table is joint with
    * the cluster sampler's cells.
    *
    * Scale shape: one distinct-word explode joined to the 8-byte
    * cell assignment; two (cell, word)/(word) count reductions;
    * scoring lands on vocab-bounded tables and top-k per cell rides
    * the bounded heap.
    */
  def clusterLabels(emb: DataFrame, idCol: String, vecCol: String,
                    docs: DataFrame, docIdCol: String, textCol: String,
                    numCells: Int = 4, iters: Int = 1, sampleN: Int = 64,
                    minDf: Long = 3L, topK: Int = 3): DataFrame = {
    val asn = Lineage.cut(
      assignCells(emb, idCol, vecCol, numCells, iters, sampleN))
    val words = docs.select(col(docIdCol).as("id"),
      explode(array_distinct(graft.functions.TextFns.tokens(col(textCol))))
        .as("w"))
    val tagged = words.join(asn, Seq("id"))
    val nc = asn.groupBy("cell").agg(count(lit(1)).as("n_docs"))
    val nTot = asn.agg(count(lit(1)).as("n_total"))
    val dfIn = tagged.groupBy("cell", "w").agg(count(lit(1)).as("df_in"))
    val dfAll = tagged.groupBy("w").agg(count(lit(1)).as("df_all"))
    val scored = dfIn.where(col("df_in") >= minDf)
      .join(dfAll, Seq("w"))
      .join(broadcast(nc), Seq("cell"))
      .crossJoin(broadcast(nTot))
      .withColumn("lift_ppm", expr(
        "CAST((CAST(df_in AS DECIMAL(38,0)) * n_total * 1000000) div " +
          "(CAST(df_all AS DECIMAL(38,0)) * n_docs) AS BIGINT)"))
    TopK.topKPerKey(scored.select(col("cell"), col("lift_ppm"),
        col("w"), col("df_in"), col("n_docs")),
        Seq("cell"), col("lift_ppm"),
        Seq(col("w"), col("df_in"), col("n_docs")), topK)
      .select(col("cell").cast("int").as("cell"), col("rn").as("rank"),
        col("w").as("word"), col("df_in"),
        col("n_docs").as("n_cluster_docs"), col("lift_ppm"))
  }

  /** Margin-based pair mining between two corpus halves — the
    * ratio-margin criterion of Artetxe & Schwenk 2019 ("Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * the LASER/CCMatrix bitext miner): a candidate pair (x, y) is
    * accepted not on raw cosine but on cos(x,y) divided by the MEAN
    * of both points' k-NN cosines in the OTHER half — hubs with
    * uniformly high similarity to everything score margins near 1
    * and are rejected; genuinely aligned pairs stand out from their
    * own neighborhoods.
    *
    * Float-order-proof arithmetic: each pairwise cosine is rounded
    * to INTEGER micros at the pair level (the q28 parity class —
    * identical elementary float ops in both engines, then one
    * round); every aggregate after that (k-NN sums, averages, the
    * 2c/(avgA+avgB) margin ratio) is 64-bit integer math, immune to
    * partition-order float reassociation.
    *
    * Scale shape: queries are a BOUNDED probe set broadcast under
    * the corpus scan (q28's brute-exact baseline — at production
    * scale the same margins ride [[lshTopK]]'s bucketed candidates
    * instead); stage 2 re-scans side A only for the ≤|Q| distinct
    * best-match candidates. Top-k rides the bounded-heap aggregate.
    */
  def marginMine(emb: DataFrame, idCol: String, vecCol: String,
                 maxQueryId: Long = 80L, k: Int = 4,
                 thresholdX1e6: Long = 1060000L): DataFrame = {
    val e = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    val a = e.where(pmod(col("id"), lit(2L)) === 0L)
    val b = e.where(pmod(col("id"), lit(2L)) === 1L)
    val q = a.where(col("id") < maxQueryId)
      .select(col("id").as("query_id"), col("v").as("qv"))
    def cosX1e6(x: Column, y: Column): Column =
      round(cosine(x, y) * lit(1000000.0)).cast("bigint")
    // stage 1: every query's k nearest in B (corpus streams, Q
    // broadcast), rank 1 = the candidate match
    val qb = b.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"),
        cosX1e6(col("v"), col("qv")).as("c"))
    val qTop = TopK.topKPerKey(qb.select(col("query_id"), col("c"),
        col("id")), Seq("query_id"), col("c"), Seq(col("id")), k)
    val qAvg = qTop.groupBy("query_id")
      .agg(expr("CAST(sum(c) div count(*) AS BIGINT)").as("q_knn_x1e6"))
    val best = qTop.where(col("rn") === 1)
      .select(col("query_id"), col("id").as("match_id"),
        col("c").as("cos_x1e6"))
    // stage 2: each DISTINCT candidate's k nearest back in A — the
    // candidate list is ≤ |Q| rows, broadcast under one A scan
    val cand = best.select(col("match_id")).distinct()
      .join(b, col("match_id") === col("id"))
      .select(col("match_id").as("cid"), col("v").as("cv"))
    val ba = a.crossJoin(broadcast(cand))
      .select(col("cid"), col("id"),
        cosX1e6(col("v"), col("cv")).as("c"))
    val cAvg = TopK.topKPerKey(ba.select(col("cid"), col("c"),
        col("id")), Seq("cid"), col("c"), Seq(col("id")), k)
      .groupBy("cid")
      .agg(expr("CAST(sum(c) div count(*) AS BIGINT)").as("m_knn_x1e6"))
    best.join(qAvg, Seq("query_id"))
      .join(cAvg, col("match_id") === col("cid"))
      .withColumn("margin_x1e6", expr(
        "CAST((2 * cos_x1e6 * 1000000) div greatest(q_knn_x1e6 + m_knn_x1e6, 1) AS BIGINT)"))
      .select(col("query_id"), col("match_id"), col("cos_x1e6"),
        col("q_knn_x1e6"), col("m_knn_x1e6"), col("margin_x1e6"),
        (col("margin_x1e6") > thresholdX1e6).as("accepted"))
  }

  /** Hopkins clusterability statistic (Hopkins & Skellam 1954, the
    * standard pre-clustering diagnostic): H = Σu / (Σu + Σw), where
    * u_j is the nearest-data distance of m synthetic UNIFORM probe
    * points and w_j the nearest-OTHER-data distance of m sampled
    * real points. H ≈ ½ for unstructured (uniform) data; H → 1 when
    * the data clusters (uniform probes land far from the clusters);
    * H → 0 for lattice-regular data. Run it before paying for a
    * clustering pass.
    *
    * Integer-exact end to end (the squared-distance variant,
    * documented): the corpus is int8-SQ-quantized ([[sqQuantize]]),
    * probes are hash61-drawn uniform points over the quantized
    * data's PER-DIM BOUNDING BOX (lo_d + hash61("salt:j:d") mod
    * (hi_d−lo_d+1) — deterministic and oracle-parity; the box, not
    * the full grid, or empty quadrants masquerade as cluster
    * structure), distances are exact integer squared L2, and
    * H is one exact ppm division of two integer sums. No floats, no
    * RNG.
    *
    * Scale shape: both NN passes are broadcast-m × corpus map-only
    * scans with a min-per-probe partial aggregation — the m× scan
    * cost is the documented price of the EXACT diagnostic (m ≤ 64
    * enforced); the m-point sample comes from the bounded-heap
    * top-m hash rank, and the report is a one-row fold.
    */
  def hopkins(df: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 50,
              salt: String = "hop"): DataFrame = {
    require(m >= 1 && m <= 64, s"m=$m must be in [1, 64]")
    import graft.functions.{HashFns, VecDotLong}
    val scales = sqScales(df, vecCol)
    // three consumers: probes-NN, sample, sample-NN
    val q = Lineage.cut(df.select(col(idCol).cast("long").as("id"),
        sqQuantize(col(vecCol), scales).as("qv"))
      .withColumn("nn", VecDotLong(col("qv"), col("qv"))))
    val spark = df.sparkSession
    // probes must be uniform over the DATA's bounding box — drawing
    // on the full int8 grid inflates u wherever the data does not
    // reach (H read 0.96 on a uniform cloud before this fix). The
    // per-dim bounds are a dim-sized driver pull, the sqScales class.
    val bounds = q.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("pos").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val probes = spark.range(m.toLong).select(col("id").as("pid"),
        array((0 until dim).map { d =>
          val (lo, hi) = bounds(d)
          lit(lo) + pmod(HashFns.hash61(
            concat(lit(s"$salt:"), col("id").cast("string"),
              lit(s":$d"))), lit(hi - lo + 1L))
        }: _*).as("pv"))
      .withColumn("np", VecDotLong(col("pv"), col("pv")))
    val u = q.crossJoin(broadcast(probes))
      .select(col("pid"),
        (col("nn") + col("np") -
          lit(2L) * VecDotLong(col("qv"), col("pv"))).as("d2"))
      .groupBy("pid").agg(min("d2").as("du"))
      .agg(sum("du").as("sum_u"))
    val sample = graft.plans.TopK.topKPerKey(
        q.select(lit(1).as("__all"), col("id"),
          HashFns.hash61(col("id").cast("string")).as("__h")),
        Seq("__all"), col("__h"), Seq(col("id")), m)
      .join(q, Seq("id"))
      .select(col("id").as("sid"), col("qv").as("sv"),
        col("nn").as("ns"))
    val w = q.crossJoin(broadcast(sample))
      .where(col("id") =!= col("sid"))
      .select(col("sid"),
        (col("nn") + col("ns") -
          lit(2L) * VecDotLong(col("qv"), col("sv"))).as("d2"))
      .groupBy("sid").agg(min("d2").as("dw"))
      .agg(sum("dw").as("sum_w"))
    u.crossJoin(broadcast(w))
      .select(lit(m.toLong).as("m"), col("sum_u"), col("sum_w"),
        expr("CAST((1000000 * CAST(sum_u AS DECIMAL(38,0))) div " +
          "greatest(sum_u + sum_w, 1) AS BIGINT)").as("h_ppm"))
  }

  /** Calinski–Harabasz cluster-validity index (Caliński & Harabasz
    * 1974 — the variance-ratio criterion sklearn exposes as
    * `calinski_harabasz_score`): CH = (B/(k−1)) / (W/(N−k)) over the
    * between/within sum-of-squares decomposition of the corpus
    * around its [[assignCells]] partition. The "did the clustering
    * actually separate anything" readback to run after q135's
    * assignment — higher is better, ~0 means the cells explain no
    * variance.
    *
    * Integer-exact: vectors are int8-SQ-quantized; with per-(cell,
    * dim) sums s and squared sums, ||s_c||², Σ||x||² and ||S||² are
    * exact DECIMAL(38) integers, the per-cell mean divisions are
    * exact ×10⁶ truncations (deterministic on both engines — no
    * float sum over cells whose order could differ), and CH itself
    * is one exact integer division ×1000. `within_ppm` reports
    * W/(total SS) — the fraction of variance the partition fails to
    * explain.
    *
    * Scale shape: ONE posexplode pass reduces the corpus to the
    * (cell × dim) moment table (bounded by k·dim); everything after
    * runs on that table and one-row broadcasts. Requires
    * numCells ≥ 2.
    */
  def chIndex(df: DataFrame, idCol: String, vecCol: String,
              numCells: Int = 4, iters: Int = 1, sampleN: Int = 64,
              seed: Long = 42L): DataFrame = {
    require(numCells >= 2, "CH needs at least 2 cells")
    val scales = sqScales(df, vecCol)
    val cells = assignCells(df, idCol, vecCol, numCells, iters,
      sampleN, seed)
    val q = df.select(col(idCol).as("id"),
        sqQuantize(col(vecCol), scales).as("qv"))
      .join(cells, Seq("id"))
    // three consumers of the k×dim moment table
    val cp = Lineage.cut(q
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum("x").as("s"), sum(expr("x * x")).as("ss"),
        count(lit(1)).as("cnt")))
    val perCell = cp.groupBy("cell")
      .agg(expr("sum(CAST(s AS DECIMAL(38,0)) * s)").as("g"),
        max("cnt").as("n_c"))
    val aRow = cp.agg(sum("ss").as("a2"))
    val tRow = cp.groupBy("pos").agg(sum("s").as("ts"))
      .agg(expr("sum(CAST(ts AS DECIMAL(38,0)) * ts)").as("t2"))
    perCell
      .agg(count(lit(1)).as("k"), sum("n_c").as("n"),
        expr("sum((1000000 * g) div n_c)").as("p6"))
      .crossJoin(broadcast(aRow)).crossJoin(broadcast(tRow))
      .withColumn("a6", expr("1000000 * CAST(a2 AS DECIMAL(38,0))"))
      .withColumn("t6", expr("(1000000 * t2) div n"))
      .withColumn("w6", expr("greatest(a6 - p6, 0)"))
      .withColumn("b6", expr("greatest(p6 - t6, 0)"))
      .select(col("n").as("n_rows"), col("k").as("n_cells"),
        // b6/w6 can resolve to BIGINT (div yields BIGINT) — lift to
        // DECIMAL before the products, or ANSI throws long-overflow
        // at 10× data (caught by the scale ramp)
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * w6) div " +
          "greatest(a6 - t6, 1) AS BIGINT)").as("within_ppm"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * b6 * (n - k)) div " +
          "greatest(CAST(w6 AS DECIMAL(38,0)) * (k - 1), 1) AS BIGINT)")
          .as("ch_x1000"))
  }

  /** Simplified silhouette (Hruschka, de Castro & Campello, HIS 2004
    * — the centroid-based O(n·k) form of Rousseeuw's 1987 index)
    * over the [[assignCells]] partition: per point, a = d²(point,
    * own centroid), b = min over OTHER centroids, s = (b−a)/max(a,b);
    * reported as the per-cell mean. The full silhouette's per-point
    * all-pairs a/b is O(n²) and dead at corpus scale; the simplified
    * form is the standard substitute and ranks partitions the same
    * way. Squared-distance variant, documented: like
    * [[intrinsicDimension]]'s squared ratios, d² keeps every distance
    * an EXACT integer over the int8 SQ codes, and (b²−a²)/max is a
    * monotone transform of the unsquared score's sign and ordering.
    *
    * Integer discipline: centroids are sign-symmetric truncated means
    * of the quantized coordinates (Spark `div` truncates toward zero,
    * DuckDB `//` floors — every divide here CASEs the sign so both
    * engines agree), s is exact ppm, per-cell mean is one more
    * sign-symmetric divide.
    *
    * Scale shape: one k×dim moment pass for centroids (broadcast
    * back), one n·dim·k broadcast-join pass for the distances — the
    * same work assignCells itself does — two keyed aggregations, and
    * a k-row report. The (id, cell) assignment is cut
    * so the k-means rounds run once, not once per consumer.
    */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 numCells: Int = 4, iters: Int = 1, sampleN: Int = 64,
                 seed: Long = 42L): DataFrame = {
    require(numCells >= 2, "silhouette needs at least 2 cells")
    val scales = sqScales(df, vecCol)
    val cells = Lineage.cut(assignCells(df, idCol, vecCol, numCells, iters,
      sampleN, seed))
    val q = df.select(col(idCol).as("id"),
        sqQuantize(col(vecCol), scales).as("qv"))
      .join(cells, Seq("id"))
    val cent = q.select(col("cell").as("ccell"),
        posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("ccell", "pos")
      .agg(sum("x").as("s"), count(lit(1)).as("cnt"))
      .select(col("ccell"), col("pos"), expr(
        "CASE WHEN s >= 0 THEN s div cnt " +
          "ELSE -((-s) div cnt) END").as("c"))
    val pts = q.select(col("id"), col("cell"),
      posexplode(col("qv")).as(Seq("pos", "x")))
    val ab = pts.join(broadcast(cent), Seq("pos"))
      .groupBy("id", "cell", "ccell")
      .agg(sum(expr("(x - c) * (x - c)")).as("d2"))
      .groupBy("id", "cell")
      .agg(sum(when(col("ccell") === col("cell"), col("d2"))).as("a2"),
        min(when(col("ccell") =!= col("cell"), col("d2"))).as("b2"))
    ab.withColumn("__s", expr(
        "CASE WHEN b2 >= a2 THEN " +
          "(1000000 * (b2 - a2)) div greatest(greatest(a2, b2), 1) " +
          "ELSE -((1000000 * (a2 - b2)) div greatest(greatest(a2, b2), 1)) " +
          "END"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_points"), sum("__s").as("__sp"))
      .select(col("cell"), col("n_points"), expr(
        "CASE WHEN __sp >= 0 THEN __sp div n_points " +
          "ELSE -((-__sp) div n_points) END").as("mean_sil_ppm"))
  }

  /** TwoNN intrinsic-dimension estimate (Facco, d'Errico, Rodriguez
    * & Laio, Scientific Reports 2017) — "how many dimensions does
    * this embedding space ACTUALLY use": for each point, μ = r₂/r₁
    * (its 2nd/1st nearest-neighbor distance ratio), and the MLE
    * d = N / Σ ln μᵢ. A 768-wide embedding column with d ≈ 11 is
    * normal; d collapsing toward 1 flags degenerate embeddings.
    *
    * Determinism/exactness: distances are EXACT integer squared L2
    * over the int8 SQ codes ([[sqQuantize]] — corpus max-abs scales,
    * [[graft.functions.VecDotLong]] norms/dots), so the per-point
    * ratio is an integer rational; ln μ comes from the Mitchell
    * eighth-bit log2 of the SQUARED ratio (log2 μ² = 2·log2 μ), and
    * the single float step is the final
    * 16000·N / (ln 2 · Σe8) expression over the two exact totals.
    * Zero-distance duplicates are excluded (μ undefined), ties rank
    * by id.
    *
    * Scale shape: neighbors come from the [[knnSelfJoin]] machinery
    * — hyperplane-signature buckets + 1-bit multi-probe through the
    * hot-bucket-guarded [[Scale.cappedBucketJoin]] (never all-pairs);
    * the per-query rank window sees ≤ bucketCap·probes candidates;
    * the report is one two-column fold.
    */
  def intrinsicDimension(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, numBits: Int = 8,
                         multiProbeBits: Int = 1, seed: Long = 42L,
                         bucketCap: Int = 10000,
                         maxBucket: Long = Long.MaxValue): DataFrame = {
    import graft.functions.VecDotLong
    import org.apache.spark.sql.expressions.Window
    val scales = sqScales(df, vecCol)
    val planes = randomHyperplanes(numBits, dim, seed)
    // probe + corpus sides both read it
    val base = Lineage.cut(df
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("bucket", hyperplaneSignature(col("v"), planes))
      .withColumn("qv", sqQuantize(col("v"), scales))
      .withColumn("nn", VecDotLong(col("qv"), col("qv")))
      .select("id", "bucket", "qv", "nn"))
    val probes: Seq[Column] =
      probeDeltas(numBits, multiProbeBits).map(lit)
    val probing = base.select(col("id").as("query_id"),
      col("qv").as("qq"), col("nn").as("nq"),
      explode(array(probes.map(p =>
        col("bucket").bitwiseXOR(p)): _*)).as("bucket"))
    val cand = Scale.cappedBucketJoin(base, probing, Seq("bucket"),
        col("id"), col("query_id"), bucketCap, maxBucket)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (col("nn") + col("nq") -
          lit(2L) * VecDotLong(col("qv"), col("qq"))).as("d2"))
      .dropDuplicates("query_id", "id")
      .where(col("d2") > 0)
    // per-query candidate window — bucketCap-bounded (q76's class)
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("id"))
    val mu = cand.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy("query_id")
      .agg(min(when(col("rn") === 1, col("d2"))).as("d1"),
        min(when(col("rn") === 2, col("d2"))).as("d2b"))
      .where(col("d2b").isNotNull)
      // d2b >= d1 > 0, so the log is >= 0
      .select(graft.functions.MitchellE8.log2Ratio(col("d2b"), col("d1")).as("e8"))
    mu.agg(count(lit(1)).as("n_points"), sum("e8").as("sum_e8"))
      .select(col("n_points"), col("sum_e8"),
        expr("CAST(CASE WHEN coalesce(sum_e8, 0) <= 0 THEN -1 ELSE " +
          "round(16000.0 * n_points / " +
          "(0.6931471805599453 * sum_e8)) END AS BIGINT)")
          .as("id_x1000"))
  }

  /** Per-dimension one-way ANOVA of the embedding coordinates
    * against the label — the Fisher-discriminant feature screen:
    * which dimensions carry the label signal at all (F ≫ 1) and
    * how much of each coordinate's variance the label explains
    * (η²), the pruning decision before a supervised head trains on
    * a truncated embedding (q282's Matryoshka cut chosen by
    * evidence instead of position). Coordinates snap to the q108
    * int8 grid first ([[sqQuantize]] — the established engine-exact
    * float handoff), then every moment is integer; same floored
    * SS/identity discipline as [[graft.ops.Eval.anovaOneWay]],
    * with quotients bounded by 127²·n so no decomposition needed.
    *
    * Scale shape: one posexplode scan → (dim × label) moment
    * reduction with map-side partials (shuffle = dims × labels
    * rows); the per-dim folds run on that bounded table. The scale
    * collect is dim-sized (the [[sqScales]] contract).
    */
  def dimAnova(df: DataFrame, vecCol: String,
               labelCol: String): DataFrame = {
    val scales = sqScales(df, vecCol)
    val base = df.select(col(labelCol).as("lab"),
      posexplode(sqQuantize(col(vecCol), scales)).as(Seq("dim", "v")))
    val g = base.groupBy("dim", "lab")
      .agg(count(lit(1)).as("ng"), sum("v").as("sg"),
        sum(expr("v * v")).as("qg"))
    g.groupBy("dim")
      .agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum("sg").as("s"), sum("qg").as("q"),
        sum(expr("CAST((CAST(sg AS DECIMAL(38,0)) * sg) div ng " +
          "AS DECIMAL(38,0))")).as("ssb_raw"))
      .select(col("dim").cast("bigint").as("dim"),
        col("n").cast("bigint").as("n_rows"), col("k").as("n_labels"),
        expr("greatest(ssb_raw - (CAST(s AS DECIMAL(38,0)) * s) div n, " +
          "0)").as("ssb"),
        expr("q - ssb_raw").as("ssw"), col("n"), col("k"))
      .select(col("dim"), col("n_rows"), col("n_labels"),
        expr("CAST(CASE WHEN ssw <= 0 OR k < 2 OR n <= k THEN -1 " +
          "ELSE (1000 * (ssb div (k - 1))) div " +
          "greatest(ssw div (n - k), 1) END AS BIGINT)").as("f_x1000"),
        expr("CAST(CASE WHEN ssb + ssw <= 0 THEN 0 " +
          "ELSE (1000000 * ssb) div (ssb + ssw) END AS BIGINT)")
          .as("eta2_ppm"))
  }
}
