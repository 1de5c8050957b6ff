package graft.ops

import graft.functions.{HashFns, MitchellE8, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling") —
  * the importance-weight half of the classic target-domain data
  * selection stage: score every raw-corpus document by how much more
  * likely its hashed n-gram features are under a TARGET distribution
  * than under the RAW distribution, then keep the top-weighted docs.
  *
  * The float log-likelihood ratio of the paper is replaced by the
  * repo's integer-exact Mitchell log (eighth-bit units: the native
  * [[graft.functions.MitchellE8]] in the plan, the equal
  * [[TextStats.mitchellE8Sql]] ladder in the DuckDB twin), so the
  * whole surface is oracle-hashable:
  *
  *   - features: token → 61-bit md5 hash → bucket `hash61(t) % B`
  *     (hashed unigrams; B bounded, default 256);
  *   - per-bucket weight, with add-one smoothing and totals
  *     `totT = Σ cT`, `totR = Σ cR`:
  *     λ_e8[b] = m8(qR[b]) − m8(qT[b]), where
  *     qT[b] = ((totT + B) << 20) div (cT[b] + 1)  (≥ 2^20 always —
  *     the inverted ratio keeps Mitchell's domain), qR likewise, and
  *     both are clamped to ≤ 2^62 so an empty bucket of a
  *     trillion-token corpus cannot leave BIGINT range (the clamp is
  *     monotone and engine-identical, so it never breaks the oracle);
  *   - doc score: Σ_tokens λ_e8[bucket(token)] — positive = looks
  *     like the target domain.
  *
  * Lifecycle mirrors the sketch/LM profile-store family: [[train]]
  * emits a mergeable (bucket, cT, cR) count table — counts add, so
  * `merge(train(A), train(B)) == train(A ∪ B)` exactly (specced) and
  * daily increments fold without rescanning history — and [[score]]
  * applies any trained table to any corpus.
  *
  * Scale shape: train is one scan + one hash aggregation on a
  * bounded B-bucket key (map-side partials; the shuffle is ≤ B rows
  * per partition regardless of corpus size). Score is one scan whose
  * exploded tokens join a BROADCAST B-row λ table (built driver-free
  * from `range(B)` ⟕ counts), then a map-side-partial sum on the
  * 8-byte doc id. No window, no driver state, nothing unbounded.
  */
object Dsir {

  /** Bits of fractional scale in the Mitchell ratio (shared with the
    * LM/BM25 family).
    */
  final val Shift = TextStats.LmShift

  /** Train the bucket-count table: one row per OCCUPIED bucket,
    * `(b, c_r, c_t)` — c_r counts every token occurrence, c_t only
    * those in rows where `isTarget` holds. Raw counts always cover
    * the full input, so train once over `raw ∪ target` with a
    * membership predicate (the paper's formulation with target ⊆ raw
    * or a separate target corpus both reduce to this by unioning).
    */
  def train(df: DataFrame, textCol: String, isTarget: Column,
            numBuckets: Int = 256): DataFrame = {
    require(numBuckets > 0, s"numBuckets=$numBuckets must be positive")
    df.select(explode(TextFns.tokens(col(textCol))).as("t"),
        isTarget.cast("long").as("is_t"))
      .select((HashFns.hash61(col("t")) % numBuckets).as("b"), col("is_t"))
      .groupBy("b")
      .agg(count(lit(1)).as("c_r"), sum("is_t").as("c_t"))
  }

  /** Fold count tables: both counts add per bucket — associative and
    * exact, so shards/days merge in any order.
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("b")
      .agg(sum("c_r").as("c_r"), sum("c_t").as("c_t"))

  /** The broadcastable per-bucket weight table `(b, lam_e8)` for ALL
    * `numBuckets` buckets (unseen buckets get c = 0 and score by the
    * smoothing mass alone — exactly what a bucket never seen in
    * training deserves).
    */
  def weights(counts: DataFrame, numBuckets: Int = 256): DataFrame = {
    // the trained table carries no record of its numBuckets; a caller
    // re-passing a DIFFERENT value would silently mis-score (range(B)
    // left-join treats out-of-range buckets as unseen, the modulo
    // remaps tokens). Fail fast instead: a map-only in-plan check, no
    // extra job — any bucket id outside [0, numBuckets) aborts the
    // evaluation with a diagnostic.
    val checked = counts.withColumn("b",
      when(col("b") >= 0 && col("b") < numBuckets, col("b"))
        .otherwise(raise_error(format_string(
          s"DSIR bucket id %s outside [0, $numBuckets) — counts were " +
            "trained with a different numBuckets than weights()/score() " +
            "was given", col("b").cast("string"))).cast("long")))
    val tot = checked.agg(
      coalesce(sum("c_r"), lit(0L)).as("tot_r"),
      coalesce(sum("c_t"), lit(0L)).as("tot_t"))
    val full = counts.sparkSession.range(numBuckets.toLong)
      .select(col("id").as("b"))
      .join(checked, Seq("b"), "left")
      .na.fill(0L, Seq("c_r", "c_t"))
      .crossJoin(broadcast(tot))
    def surprisal(tot: String, c: String): Column =
      MitchellE8.log2Ratio(col(tot) + numBuckets, col(c) + 1)
    full
      .withColumn("lam_e8", surprisal("tot_r", "c_r") - surprisal("tot_t", "c_t"))
      .select("b", "lam_e8")
  }

  /** Score docs under a trained count table: one row per input doc,
    * `(idCol, carry..., n_tokens, dsir_e8)` — dsir_e8 is the summed
    * eighth-bit log-likelihood ratio (positive = target-like). Docs
    * with no tokens score (0, 0).
    */
  def score(df: DataFrame, idCol: String, textCol: String,
            counts: DataFrame, numBuckets: Int = 256,
            carry: Seq[String] = Seq.empty): DataFrame = {
    val lam = weights(counts, numBuckets)
    val toks = df.select(col(idCol).as("__id") +: carry.map(col) :+
      TextFns.tokens(col(textCol)).as("w"): _*)
    val scored = toks
      .select(col("__id"), explode(col("w")).as("t"))
      .select(col("__id"), (HashFns.hash61(col("t")) % numBuckets).as("b"))
      .join(broadcast(lam), Seq("b"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"), sum("lam_e8").as("dsir_e8"))
    toks.select(col("__id") +: carry.map(col): _*)
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol) +: carry.map(col) :+
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens") :+
        coalesce(col("dsir_e8"), lit(0L)).as("dsir_e8"): _*)
  }

  /** Train-and-score over one corpus (the q120 oracle surface):
    * target = rows where `isTarget`, raw = everything.
    */
  def selectScores(df: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, numBuckets: Int = 256,
                   carry: Seq[String] = Seq.empty): DataFrame =
    score(df, idCol, textCol, train(df, textCol, isTarget, numBuckets),
      numBuckets, carry)
}
