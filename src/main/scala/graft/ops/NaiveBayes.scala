package graft.ops

import graft.functions.{MitchellE8, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classification, integer end to end —
  * the fastText-shaped quality/language-classifier stage of a
  * training-data pipeline (McCallum & Nigam 1998, "A Comparison of
  * Event Models for Naive Bayes Text Classification"), with every
  * logarithm replaced by Mitchell's integer log2 approximation in
  * eighth-bit units (the native [[graft.functions.MitchellE8]]; the
  * DuckDB twin uses the equal [[TextStats.mitchellE8Sql]] ladder) so
  * train AND inference are oracle-hashable — the same no-float
  * discipline as the LM surprisal and BM25 operators.
  *
  * Scoring minimizes total surprisal (= maximizes log-likelihood):
  * per token t and class l, with add-one smoothing,
  * −log2 p(t|l) = log2((T_l + V)/(c_{l,t} + 1)) ≈ (m8(q) − 8·SHIFT)/8
  * where q = ((T_l + V) << SHIFT) div (c_{l,t} + 1), T_l = class
  * token total, V = training vocabulary size; the class prior adds
  * −log2(N_l/N) the same way. T_l ≥ c_{l,t} always, so q ≥ 2^SHIFT
  * and every term is non-negative; products route through DECIMAL
  * (HUGEINT on the oracle side) so corpus-scale counts cannot wrap.
  *
  * The model is three mergeable tables — class doc/token totals,
  * per-(class, token) counts, and the vocabulary SET (kept as a set,
  * not a count: distinct counts do not add) — counts add and sets
  * union, so `merge(train(A), train(B)) == train(A ∪ B)` exactly
  * (specced) and daily increments fold without rescanning history,
  * like the sketch and LM profile stores.
  *
  * Scale shape: training is two map-side-partial hash aggregations
  * plus a distinct (one corpus scan each). Scoring reads each model
  * table once: one global aggregation over the class and vocabulary
  * rows gives the L-row class table (L = class count, small; priors
  * and the unseen-token constant precomputed there), and the
  * per-(class, token) surprisal is precomputed on the VOCAB-BOUNDED
  * model grid and broadcast. The docs are scanned once and
  * hash-partitioned by id (the only corpus shuffle); each token × L
  * classes goes through one broadcast hash probe + integer add into
  * the (doc, class) aggregation, and the per-doc argmin window runs
  * on the same partitioning. At sf0.001 q256 plans 4 document scans
  * and 13 Spark jobs. The grid broadcast is unconditional (ROADMAP:
  * "unconditional broadcast hints"); its one `broadcast(m8tab)` hint
  * in [[score]] serves both callers, the single-model family (q114,
  * q256 and the rest of `trainScore`) and the fold-keyed models of
  * [[Eval.cvAuc]]. No state outside the query plan.
  */
object NaiveBayes {

  /** A trained model: `classCounts(label, n_docs, n_tokens)`,
    * `tokenCounts(label, t, c)`, `vocab(t)` — all mergeable. A keyed
    * family of models (see [[score]]'s `by`) leads each table with the
    * key columns.
    */
  final case class NbModel(classCounts: DataFrame, tokenCounts: DataFrame,
                           vocab: DataFrame)

  /** Train on a labeled corpus: two hash aggregations and a
    * distinct, all map-side-partial. Null-label docs are dropped: a
    * null label is no class.
    */
  def train(docs: DataFrame, labelCol: String, textCol: String): NbModel = {
    val toks = docs.where(col(labelCol).isNotNull).select(col(labelCol).as("label"),
      TextFns.tokens(col(textCol)).as("w"))
    val tok = toks.select(col("label"), explode(col("w")).as("t"))
    NbModel(
      toks.groupBy("label").agg(count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("bigint")).as("n_tokens")),
      tok.groupBy("label", "t").agg(count(lit(1)).as("c")),
      tok.select("t").distinct())
  }

  /** Fold models: counts add, vocab sets union — associative, so
    * shards/days merge in any order, exactly.
    */
  def merge(a: NbModel, b: NbModel): NbModel = NbModel(
    a.classCounts.unionByName(b.classCounts).groupBy("label")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens")),
    a.tokenCounts.unionByName(b.tokenCounts).groupBy("label", "t")
      .agg(sum("c").as("c")),
    a.vocab.unionByName(b.vocab).distinct())

  /** −log2 of the smoothed p(t | class) in eighth-bits for a token
    * seen `c` times in the class: log2((T_l + V)/(c + 1)), over the
    * `n_tokens` and `v` columns in scope.
    */
  private def surprisalE8(c: Column): Column =
    MitchellE8.log2Ratio(col("n_tokens") + col("v"), c + 1)

  /** Score docs under a model: one row per doc — `(idCol, by...,
    * carry..., pred, s_e8, margin_e8)` with `pred` the
    * minimum-surprisal class (ties to the smallest label), `s_e8` its
    * total surprisal in eighth-bits, and `margin_e8` the gap to the
    * runner-up (0 when the model has a single class). Unseen tokens
    * smooth through c = 0; empty and null docs score on priors alone.
    *
    * `by` keys a family of models scored in one pass: the docs and all
    * three model tables carry the key columns, and each doc is scored
    * under its own key's model only (a key with no class rows scores
    * none of its docs). [[Eval.cvAuc]] keys its leave-one-fold-out
    * models by fold; with no key (q256 and every single-model caller)
    * the plan is one model's.
    */
  def score(docs: DataFrame, idCol: String, textCol: String, model: NbModel,
            carry: Seq[String] = Seq.empty, by: Seq[String] = Nil): DataFrame = {
    // the per-class table (by, label, T_l, V, prior −log2(N_l/N), the
    // unseen-token c = 0 surprisal), built once: ONE aggregation per
    // key over the class rows and the vocabulary rows (label null)
    // yields the class list and V, and N folds from that list. The grid
    // below prunes the prior, so a separate N aggregate would differ
    // between the two consumers and be re-planned, scan included; this
    // way both share the one aggregation stage and each model table is
    // read once
    val keys = by.map(col)
    def keyed(cs: Column*): Seq[Column] = keys ++ cs
    val clsCols = model.classCounts.select(keyed(col("label"), col("n_docs"), col("n_tokens")): _*)
    val classes = clsCols
      .unionByName(model.vocab.select(keys ++ clsCols.schema.drop(by.size).map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*))
      .groupBy(keys: _*)
      .agg(collect_list(when(col("label").isNotNull,
          struct("label", "n_docs", "n_tokens"))).as("cls"),
        count_if(col("label").isNull).as("v"))
      .select(keyed(explode(col("cls")).as("c"), col("v"),
        aggregate(col("cls.n_docs"), lit(0L), _ + _).as("n_all")): _*)
      .select(keyed(col("c.*"), col("v"), col("n_all")): _*)
      .select(keyed(col("label"), col("n_tokens"), col("v"),
        MitchellE8.log2Ratio(col("n_all"), col("n_docs")).as("prior_e8"),
        surprisalE8(lit(0L)).as("u8v")): _*)
    // the surprisal of every seen (key, class, token) on the
    // VOCAB-BOUNDED model grid (r16), so the corpus side is one hash
    // probe and an integer add per (token, class) row. Broadcast bound:
    // trained vocab × L rows (× keys), not bounded by construction.
    // This is the one `broadcast(m8tab)` hint of both NB scorers, q256's
    // family and [[Eval.cvAuc]]. Without the hint q256 plans the same
    // broadcast join at sf0.001 and sf0.01 (size estimate under the
    // threshold) and a sort-merge join at sf0.1; a size-based choice is
    // ROADMAP's open "unconditional broadcast hints" item.
    val m8tab = model.tokenCounts
      .join(broadcast(classes.select(keyed(col("label"), col("n_tokens"), col("v")): _*)),
        by :+ "label")
      .select(keyed(col("label"), col("t"), surprisalE8(col("c")).as("m8v")): _*)
    // ONE scan of the docs, hash-partitioned by id once so that the
    // (doc, class) aggregation and the per-doc argmin window both run
    // in place: each token (a null token for an empty or null doc) ×
    // its key's L classes, one aggregation that adds the prior, the
    // window. Bit-identical to summing per-token surprisals and the
    // prior apart: the same q/m8 expressions over the same (c,
    // n_tokens, v) values, and a sum of longs is order-free.
    val keyCarry = keys ++ carry.map(col)
    val idCarry = col("__id") +: keyCarry
    val toks = docs
      .select(col(idCol).as("__id") +: keyCarry :+ col(textCol).as("__text"): _*)
      .repartition(col("__id"))
      .select(idCarry :+ explode_outer(TextFns.tokens(col("__text"))).as("t"): _*)
    val perClass = broadcast(classes.select(keyed(col("label"), col("prior_e8"), col("u8v")): _*))
    val byClass = (if (by.isEmpty) toks.crossJoin(perClass) else toks.join(perClass, by))
      .join(broadcast(m8tab), by ++ Seq("label", "t"), "left")
      .groupBy(idCarry :+ col("label") :+ col("prior_e8"): _*)
      .agg(sum(when(col("t").isNull, lit(0L))
        .otherwise(coalesce(col("m8v"), col("u8v")))).as("tok_e8"))
      .withColumn("s_e8", col("prior_e8") + col("tok_e8"))
    val w = Window.partitionBy("__id").orderBy(col("s_e8").asc, col("label").asc)
    byClass
      .withColumn("rnk", row_number().over(w))
      .withColumn("nxt", lead(col("s_e8"), 1).over(w))
      .where(col("rnk") === 1)
      .select(col("__id").as(idCol) +: keyCarry :+
        col("label").as("pred") :+ col("s_e8").cast("bigint").as("s_e8") :+
        coalesce(col("nxt") - col("s_e8"), lit(0L)).cast("bigint").as("margin_e8"): _*)
  }

  /** Train-on-holdin / score-holdout in one call (the q114 oracle
    * surface): train on `trainDocs`, score `scoreDocs`.
    */
  def trainScore(trainDocs: DataFrame, scoreDocs: DataFrame, labelCol: String,
                 idCol: String, textCol: String,
                 carry: Seq[String] = Seq.empty): DataFrame =
    score(scoreDocs, idCol, textCol, train(trainDocs, labelCol, textCol), carry)
}
