package graft.ops

import graft.functions.{HashFns, MitchellE8}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic mixture sampling — the "data mixing" stage of a
  * training-data pipeline: keep each source/language/domain at its own
  * target rate so the final mixture matches a recipe, without a shuffle
  * and without RNG state.
  *
  * Membership is decided per row by `hash61(salt ++ id) % 1000 < rate`,
  * so the same row is kept or dropped identically on every run, on any
  * partitioning, at any scale — reproducibility a `rand()`-based sample
  * cannot give. The per-group rates join in via a BROADCAST of the tiny
  * weights table; the whole operator is one map-only projection over
  * the corpus scan (no shuffle exchange in the plan).
  */
object Mixture {

  /** Filter `df` down to a deterministic per-group sample.
    *
    * @param rates          per-mille keep rate by `groupCol` value
    * @param defaultPerMille rate for group values absent from `rates`
    * @return input rows that pass, plus their `sample_key` (hash % 1000)
    */
  def sampleByRates(df: DataFrame, idCol: String, groupCol: String,
                    rates: Map[String, Int], defaultPerMille: Int,
                    salt: String = "mix:"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val weights = rates.toSeq.toDF("__g", "__pm")
    df.join(broadcast(weights), df(groupCol) === col("__g"), "left")
      .withColumn("sample_key",
        HashFns.hash61(concat(lit(salt), col(idCol).cast("string"))) % 1000)
      .where(col("sample_key") < coalesce(col("__pm"), lit(defaultPerMille)))
      .drop("__g", "__pm")
  }

  /** 2^61 — the modulus of [[HashFns.hash61]], so h/2^61 is uniform
    * in [0, 1). Fits BIGINT (2^63 ceiling) on both engines.
    */
  private val Two61 = 2305843009213693952L

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    * weight-sensitive sample-without-replacement of k rows whose
    * per-row estimate `w_hat` makes Σ w_hat over the sample an
    * (asymptotically) unbiased estimate of Σ w over ANY weight-summed
    * population — heavy rows enter with certainty, light rows enter
    * with probability ∝ w and are up-weighted to τ when they do.
    *
    * Deterministic integer construction: each row's "threshold time"
    * t = hash61(id) div max(w, 1) (the integer floor of 2^61·u/w, u
    * uniform from the hash — SMALL t ⇔ HIGH priority w/u); the sample
    * is the k smallest by (t, id), τ is the (k+1)-th smallest t, and
    * w_hat = max(w, 2^61 div max(τ, 1)) converts τ back to the weight
    * scale. No RNG state, no float: the same rows are kept on every
    * run, any partitioning, both engines. When the input holds ≤ k
    * rows τ is NULL and w_hat = w exactly (the sample is a census).
    *
    * Scale shape: both the sample and τ come from `orderBy().limit()`
    * — TakeOrderedAndProject, a per-partition top-k merge with O(k)
    * state per partition, never a global sort; τ then broadcasts as a
    * 1-row table. Returns (idCol, w, t, w_hat), all BIGINT.
    */
  def prioritySample(df: DataFrame, idCol: String, weight: Column,
                     k: Int): DataFrame = {
    val base = df
      .select(col(idCol), weight.cast("bigint").as("w"))
      .withColumn("__h", HashFns.hash61(col(idCol).cast("string")))
      .withColumn("t", expr("__h div greatest(w, CAST(1 AS BIGINT))"))
      .drop("__h")
    val lim = base.orderBy(col("t"), col(idCol)).limit(k + 1)
    val tau = lim.agg(count(lit(1)).as("__n"), max("t").as("__mx"))
      .select(when(col("__n") === k + 1, col("__mx")).as("__tau"))
    lim.orderBy(col("t"), col(idCol)).limit(k)
      .crossJoin(broadcast(tau))
      .withColumn("w_hat",
        when(col("__tau").isNull, col("w"))
          .otherwise(greatest(col("w"),
            expr(s"CAST($Two61 AS BIGINT) div greatest(__tau, CAST(1 AS BIGINT))"))))
      .drop("__tau")
  }

  /** Keyed [[prioritySample]]: an independent k-row priority sample
    * per key group (per-language / per-source quotas — the stratified
    * form a mixture recipe actually needs), with a per-group τ. ONE
    * pass: rank ≤ k+1 runs as a WindowGroupLimit (per-partition
    * group-local top-(k+1) BEFORE the shuffle, so the exchange carries
    * at most k+1 rows per group, never the corpus), and τ = the
    * (k+1)-th t rides the same partitioning as a conditional max over
    * the ≤ k+1 survivors — no second scan, no join. Groups holding ≤ k
    * rows have no (k+1)-th row, so τ is NULL and w_hat = w (census).
    * Returns (keys..., idCol, w, t, w_hat), all BIGINT.
    */
  def prioritySampleBy(df: DataFrame, keyCols: Seq[String], idCol: String,
                       weight: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val base = df
      .select(keys :+ col(idCol) :+ weight.cast("bigint").as("w"): _*)
      .withColumn("__h", HashFns.hash61(col(idCol).cast("string")))
      .withColumn("t", expr("__h div greatest(w, CAST(1 AS BIGINT))"))
      .drop("__h")
    val ranked = base
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col("t"), col(idCol))))
      .where(col("__rn") <= k + 1)
      .withColumn("__tau",
        max(when(col("__rn") === k + 1, col("t")))
          .over(Window.partitionBy(keys: _*)))
    ranked.where(col("__rn") <= k).drop("__rn")
      .withColumn("w_hat",
        when(col("__tau").isNull, col("w"))
          .otherwise(greatest(col("w"),
            expr(s"CAST($Two61 AS BIGINT) div greatest(__tau, CAST(1 AS BIGINT))"))))
      .drop("__tau")
  }

  /** Temperature-based mixture rates (Conneau et al. 2020, XLM-R
    * §3.1; also mBERT's exponential smoothing): resample sources so
    * the mixture follows q_s ∝ p_s^α instead of the raw p_s — α < 1
    * flattens the distribution, keeping big sources from drowning
    * small ones without fully equalizing. As a FILTER the achievable
    * reshape is the downsampling r_s ∝ p_s^(α−1), normalized so the
    * smallest source keeps everything.
    *
    * Integer end to end (the Mitchell discipline, both directions):
    * per source, Δ = m8((N << 20) div n_s) − 160 ≈ 8·log2(N/n_s)
    * (the RATIO form — never an overflowable N << 20), then
    * d_s = exp2E8(((αDen − αNum)·Δ) div αDen + 160) ≈
    * 2^20·(N/n_s)^(1−α), and rate_pm(s) = (1000·d_s) div d_max —
    * the 2^20 scale cancels in the ratio.
    *
    * Returns one row per source: (src, n, delta_e8, rate_pm).
    *
    * Scale shape: one count aggregation on the bounded source key, a
    * broadcast total, and a broadcast max — the per-doc application
    * ([[temperatureSample]]) is the usual map-only hash filter.
    */
  def temperatureRates(df: DataFrame, srcCol: String, tokens: Column,
                       alphaNum: Int = 7, alphaDen: Int = 10): DataFrame = {
    require(alphaDen > 0 && alphaNum >= 0 && alphaNum <= alphaDen,
      s"need 0 <= alpha = $alphaNum/$alphaDen <= 1")
    val counts = df.select(col(srcCol).as("src"), tokens.as("__t"))
      .groupBy("src").agg(sum("__t").as("n"))
    val tot = counts.agg(sum("n").as("__tot"))
    val scored = counts.crossJoin(broadcast(tot))
      .withColumn("delta_e8",
        MitchellE8.log2Ratio(col("__tot"), greatest(col("n"), lit(1L))))
      .withColumn("__d", expr(TextStats.exp2E8Sql(
        s"(((${alphaDen - alphaNum}) * delta_e8) div $alphaDen) + " +
          s"${8 * TextStats.LmShift}")))
    val dmax = scored.agg(max("__d").as("__dmax"))
    scored.crossJoin(broadcast(dmax))
      .withColumn("rate_pm", expr(
        "(1000 * __d) div greatest(__dmax, CAST(1 AS BIGINT))"))
      .select("src", "n", "delta_e8", "rate_pm")
  }

  /** Apply [[temperatureRates]] as the deterministic hash filter —
    * the same reproducible membership rule as [[sampleByRates]].
    */
  def temperatureSample(df: DataFrame, idCol: String, srcCol: String,
                        tokens: Column, alphaNum: Int = 7,
                        alphaDen: Int = 10,
                        salt: String = "temp:"): DataFrame = {
    val rates = temperatureRates(df, srcCol, tokens, alphaNum, alphaDen)
      .select(col("src").as("__src"), col("rate_pm"))
    df.join(broadcast(rates), df(srcCol) === col("__src"))
      .withColumn("sample_key",
        HashFns.hash61(concat(lit(salt), col(idCol).cast("string"))) % 1000)
      .where(col("sample_key") < col("rate_pm"))
      .drop("__src")
  }

  /** Token-budget corpus selection — "take the best documents until
    * the training budget is spent", the final gate of a curation
    * pipeline, WITHOUT a global sort of the corpus:
    *
    *  1. aggregate token counts per integer score value (`scoreCol`
    *     must have a BOUNDED value range — a per-token average score,
    *     a quality decile, an eighth-bit rate — so this table is
    *     constant-size in corpus scale);
    *  2. cumulative tokens over that bounded table, best score first
    *     (the one justified global window — q92's bin-table pattern;
    *     its input is an aggregate, never the corpus);
    *  3. cut = the lowest score whose whole bucket still fits the
    *     budget (greedy whole buckets: score ties are kept or cut
    *     together — deterministic, no tiebreak-by-id global sort);
    *  4. one broadcast join filters the corpus to `score >= cut`.
    *
    * Returns the selected rows as (idCol, carry..., scoreCol,
    * tokensCol) plus constant columns `cut_score` and `tokens_used`
    * (Σ tokens of all selected buckets). Selects nothing when even
    * the best bucket exceeds the budget.
    *
    * Scale shape: one map-side-partial aggregation on the bounded
    * score key, a window over that bounded table, and a broadcast
    * single-row join back onto the scan — no corpus-wide sort or
    * unbounded window anywhere.
    */
  def budgetSelect(scored: DataFrame, idCol: String, scoreCol: String,
                   tokensCol: String, budget: Long,
                   carry: Seq[String] = Seq.empty): DataFrame = {
    require(budget >= 0, s"budget=$budget must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val buckets = scored.groupBy(scoreCol)
      .agg(sum(tokensCol).as("__bt"))
    val cum = buckets.withColumn("__cum",
      sum("__bt").over(Window.orderBy(desc(scoreCol))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val cut = cum.where(col("__cum") <= budget)
      .agg(min(scoreCol).as("cut_score"), max("__cum").as("tokens_used"))
    scored.join(broadcast(cut), scored(scoreCol) >= cut("cut_score"))
      .select(col(idCol) +: carry.map(col) :+ col(scoreCol) :+
        col(tokensCol) :+ col("cut_score") :+ col("tokens_used"): _*)
  }

  /** Keyed [[budgetSelect]]: each `groupCol` value gets its OWN token
    * budget — "2 M tokens of every language", the balanced-mixture
    * shape (per-group quotas, not one global pot). Same
    * greedy-whole-buckets semantics per group; the cumulative window
    * partitions by group over the bounded (group × score) bucket
    * table, and the cut table (one row per group) joins back
    * broadcast. Output adds the group's `cut_score` / `tokens_used`.
    */
  def budgetSelectBy(scored: DataFrame, groupCol: String, idCol: String,
                     scoreCol: String, tokensCol: String,
                     budgetPerGroup: Long,
                     carry: Seq[String] = Seq.empty): DataFrame = {
    require(budgetPerGroup >= 0, s"budgetPerGroup=$budgetPerGroup must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val buckets = scored.groupBy(groupCol, scoreCol)
      .agg(sum(tokensCol).as("__bt"))
    val cum = buckets.withColumn("__cum",
      sum("__bt").over(Window.partitionBy(groupCol).orderBy(desc(scoreCol))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val cut = cum.where(col("__cum") <= budgetPerGroup)
      .groupBy(groupCol)
      .agg(min(scoreCol).as("cut_score"), max("__cum").as("tokens_used"))
    scored.join(broadcast(cut.withColumnRenamed(groupCol, "__g")),
        scored(groupCol) === col("__g") &&
          scored(scoreCol) >= col("cut_score"))
      .select(col(idCol) +: carry.map(col) :+ col(groupCol) :+
        col(scoreCol) :+ col(tokensCol) :+ col("cut_score") :+
        col("tokens_used"): _*)
  }

  /** Exact-count stratified sample with PROPORTIONAL allocation: of a
    * `totalK`-row target, each stratum gets k_s = max(1,
    * ⌊totalK·n_s/N⌋) rows (every stratum represented; large strata
    * proportional), and WHICH rows is deterministic — each stratum's
    * k_s highest `hash61(id)` values, smallest-id tiebreak. Unlike
    * the per-row Bernoulli gates above, the sample size is EXACT per
    * stratum (a mixture audit can assert it), and unlike a global
    * `orderBy(hash).limit(k)` no stratum can crowd out another.
    *
    * Scale shape: stratum counts are one map-side-partial aggregation
    * into a strata-bounded broadcast table; the per-stratum ranking
    * rides [[graft.plans.TopK.topKPerKey]] (WindowGroupLimit: the
    * exchange carries ≤ totalK+1 rows per stratum per map partition,
    * never the corpus), and the allocation join broadcasts. Emits
    * (strataCol, idCol, sample_rank, n_s, k_s).
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       totalK: Int): DataFrame = {
    require(totalK >= 1, s"totalK=$totalK must be >= 1")
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_s"))
    val total = counts.agg(sum("n_s").as("__n_total"))
    val alloc = counts.crossJoin(broadcast(total))
      .select(col(strataCol), col("n_s"),
        greatest(lit(1L), expr(s"(CAST($totalK AS BIGINT) * n_s) div __n_total"))
          .as("k_s"))
    val ranked = graft.plans.TopK.topKPerKey(
      df.select(col(strataCol), col(idCol),
        HashFns.hash61(col(idCol).cast("string")).as("__h")),
      Seq(strataCol), col("__h"), Seq(col(idCol)), totalK)
    ranked.join(broadcast(alloc), Seq(strataCol))
      .where(col("rn") <= col("k_s"))
      .select(col(strataCol), col(idCol), col("rn").as("sample_rank"),
        col("n_s"), col("k_s"))
  }

  /** Exact-count stratified sample with NEYMAN (optimal) allocation
    * (Neyman 1934, the survey-sampling standard): stratum h's share
    * of the `totalK` budget is proportional to N_h·σ_h — big AND
    * internally-varied strata earn more rows, homogeneous strata
    * fewer, which minimizes the variance of the estimated mean at a
    * fixed budget. The upgrade over [[stratifiedSample]]'s
    * proportional allocation when the metric's spread differs across
    * strata.
    *
    * Exactness: N_h·σ_h = √(n_h·Σv² − (Σv)²) exactly, so the weight
    * is ONE floor(sqrt(DOUBLE)) step over the exact DECIMAL(38)
    * variance numerator (shared verbatim with the twin — sqrt is
    * IEEE-correctly-rounded on both engines, so the floor cannot
    * disagree); the allocation k_h = max(1, (totalK·w_h) div Σw) and
    * the membership draw (each stratum's k_h highest hash61(id),
    * smallest-id ties) are exact integers.
    *
    * Scale shape: one stratum-keyed moment reduction, a one-row
    * weight-total broadcast, and the bounded-heap
    * [[graft.plans.TopK.topKPerKey]] per-stratum selection — no
    * corpus sort, no per-stratum single-reducer window.
    */
  def neymanSample(df: DataFrame, strataCol: String, idCol: String,
                   valueCol: String, totalK: Int): DataFrame = {
    require(totalK >= 1, s"totalK=$totalK must be >= 1")
    val mom = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_s"), sum(valueCol).as("__sv"),
        sum(expr(s"CAST($valueCol AS DECIMAL(38,0)) * $valueCol"))
          .as("__svv"))
      .withColumn("w_s", expr("CAST(floor(sqrt(CAST(" +
        "CAST(n_s AS DECIMAL(38,0)) * __svv - " +
        "CAST(__sv AS DECIMAL(38,0)) * __sv AS DOUBLE))) AS BIGINT)"))
    val wTot = mom.agg(sum("w_s").as("__w_total"))
    val alloc = mom.crossJoin(broadcast(wTot))
      .select(col(strataCol), col("n_s"), col("w_s"),
        greatest(lit(1L), expr(s"(CAST($totalK AS BIGINT) * w_s) div " +
          "greatest(__w_total, 1)")).as("k_s"))
    val ranked = graft.plans.TopK.topKPerKey(
      df.select(col(strataCol), col(idCol),
        HashFns.hash61(col(idCol).cast("string")).as("__h")),
      Seq(strataCol), col("__h"), Seq(col(idCol)), totalK)
    ranked.join(broadcast(alloc), Seq(strataCol))
      .where(col("rn") <= col("k_s"))
      .select(col(strataCol), col(idCol), col("rn").as("sample_rank"),
        col("n_s"), col("w_s"), col("k_s"))
  }

  /** Deterministic negative sampling for contrastive/recommender
    * training: for every user in the interaction set, `k` items the
    * user has NOT interacted with, drawn by hash instead of RNG
    * (Mikolov-style negative sampling made reproducible). Each user
    * gets `oversample` candidate slots; slot j proposes item id
    * `hash61(user # j) mod maxItem + 1`, proposals join the item
    * table (nonexistent ids drop out), anti-join the user's own
    * interactions, dedupe per (user, item) keeping the lowest slot,
    * and the first `k` surviving slots win. A user interacting with
    * nearly every item can underfill — by design (no resample loop;
    * raise `oversample`).
    *
    * Scale shape: no per-user item scan — candidates are k·oversample
    * ROWS per user (a sequence explode), each resolved by one keyed
    * equality join against items and one left-anti join against the
    * distinct interaction pairs; the ONE-row max-item id broadcasts.
    * The final rank window sees ≤ oversample rows per user.
    */
  def negativeSample(interactions: DataFrame, userCol: String,
                     itemCol: String, items: DataFrame,
                     itemIdCol: String, k: Int = 5,
                     oversample: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = interactions.select(col(userCol).as("__u")).distinct()
    val maxItem = items.agg(max(col(itemIdCol)).as("__max"))
    val slots = users.crossJoin(broadcast(maxItem))
      .select(col("__u"), explode(sequence(lit(0),
        lit(k * oversample - 1))).as("__slot"), col("__max"))
      .withColumn("__cand",
        pmod(HashFns.hash61(concat_ws("#", col("__u"), col("__slot"))),
          col("__max")) + 1L)
    val existing = slots
      .join(items.select(col(itemIdCol).cast("long").as("__cand")),
        Seq("__cand"))
    val pairs = interactions
      .select(col(userCol).as("__u"), col(itemCol).cast("long").as("__cand"))
      .distinct()
    val fresh = existing.join(pairs, Seq("__u", "__cand"), "left_anti")
    val wDup = Window.partitionBy("__u", "__cand").orderBy("__slot")
    val wRank = Window.partitionBy("__u").orderBy("__slot")
    fresh
      .withColumn("__first", row_number().over(wDup))
      .where(col("__first") === 1)
      .withColumn("rank", row_number().over(wRank).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("__u").as(userCol), col("rank"),
        col("__cand").as(s"neg_$itemCol"))
  }

  /** Greedy maximum-coverage document selection (Nemhauser, Wolsey &
    * Fisher 1978 — the (1−1/e)-approximate submodular greedy): pick
    * `k` documents that together cover the most DISTINCT shingles,
    * one argmax round at a time, each round scoring every document
    * by its count of still-uncovered shingles. The coverage
    * complement to [[mmrSelect]]'s relevance-diversity trade:
    * "which k docs summarize the corpus' n-gram surface".
    *
    * Determinism: 61-bit hashed shingles, argmax ties to the
    * smallest doc id. Output: one row per round
    * (round, doc id, marginal gain, cumulative covered) — gains are
    * DISJOINT by the anti-join, so cumulative covered ≡ Σ gains.
    *
    * Scale shape: ONE shingle pass to the distinct (doc, hash)
    * table (cut — every round re-reads it); each of
    * the k rounds is one anti-join + one doc-keyed count + a 1-row
    * TakeOrdered argmax (the k driver-side single-row collects are
    * the bounded, documented kind — the q65/kMeans iterative
    * discipline); the covered set grows by ≤ the chosen doc's
    * shingles per round and lives as a cut hash column,
    * never corpus-wide state.
    */
  def maxCoverageSelect(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 4, shingleWidth: Int = 3): DataFrame = {
    import graft.functions.TextFns
    val spark = df.sparkSession
    val sh = Lineage.cut(df.select(col(idCol).cast("long").as("id"),
        explode(TextFns.shingles(col(textCol), shingleWidth)).as("s"))
      .select(col("id"), HashFns.hash61(col("s")).as("h"))
      .distinct())
    var covered = Lineage.cut(sh.select("h").where(lit(false)))
    val rows = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var cum = 0L
    for (r <- 1 to k) {
      val best = sh.join(covered, Seq("h"), "left_anti")
        .groupBy("id").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("id")).limit(1)
        .collect() // ONE row by construction (bounded driver pull)
      if (best.nonEmpty) {
        val (bid, gain) = (best.head.getLong(0), best.head.getLong(1))
        cum += gain
        rows += ((r.toLong, bid, gain, cum))
        covered = Lineage.cut(covered
          .union(sh.where(col("id") === bid).select("h")))
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("round", s"sel_$idCol", "gain", "covered_total")
  }

  /** Leave-one-out target encoding with additive smoothing (the
    * Kaggle/CatBoost-family categorical encoder, Micci-Barreca
    * SIGKDD Expl. 2001): each row's category is replaced by the mean
    * target of the OTHER rows in that category, shrunk toward the
    * global mean by pseudo-count `m` —
    *
    *   enc_i = (S_c − y_i + m·μ) div (n_c − 1 + m)
    *
    * The leave-one-out subtraction is what makes the feature safe to
    * train on (a naive per-category mean leaks each row's own label
    * — the q224 point-in-time / q92 leakage-safe-split discipline
    * applied to feature engineering).
    *
    * Integer-exact: `targetCol` must be a NON-NEGATIVE integer (the
    * caller shifts, e.g. cents + offset) so no negative integer
    * division exists anywhere (truncate-vs-floor engine divergence);
    * μ is the truncated global mean computed once. Output keeps the
    * id, category, raw target, and `enc` in target units.
    *
    * Scale shape: ONE category-keyed partial aggregation to the
    * |domain(cat)| table, broadcast back with the one-row global
    * mean — the encode itself is map-only; no window, no corpus
    * shuffle.
    */
  def targetEncodeLoo(df: DataFrame, idCol: String, catCol: String,
                      targetCol: String, m: Long = 20L): DataFrame = {
    require(m >= 1L, "smoothing pseudo-count m must be >= 1")
    val base = df.select(col(idCol).as("id"), col(catCol).as("cat"),
      col(targetCol).cast("long").as("y"))
    val perCat = base.groupBy("cat")
      .agg(sum("y").as("s_c"), count(lit(1)).as("n_c"))
    val glob = base.agg(
      expr("CAST(CAST(sum(y) AS DECIMAL(38,0)) div count(1) AS BIGINT)")
        .as("mu"))
    base.join(broadcast(perCat), Seq("cat"))
      .crossJoin(broadcast(glob))
      .select(col("id").as(idCol), col("cat").as(catCol),
        col("y").as(targetCol),
        expr(s"CAST((CAST(s_c AS DECIMAL(38,0)) - y + $m * mu) div " +
          s"(n_c - 1 + $m) AS BIGINT)").as("enc"))
  }

  /** One DoReMi-style domain-reweighting step (Xie et al. 2023's
    * multiplicative-weights update, the Hedge/EG rule): each source's
    * mixture weight moves from its token share by 2^(η·excess/8)
    * where `excess` is the source's mean per-token bigram surprisal
    * (from [[TextStats.lmSurprisal]]'s corpus-trained LM) minus the
    * corpus mean, in eighth-bit log units — sources the reference
    * model finds HARD (high excess loss) are upweighted, easy ones
    * downweighted, exactly the DoReMi step with the uniform-vs-
    * proxy loss gap stood in by the excess surprisal this engine can
    * compute without a neural proxy. η = etaNum/etaDen in the
    * exponent; the exp2 argument is centered at 240 (mid-domain of
    * the shared [[TextStats.exp2E8Sql]] emitter) — a constant offset
    * in every exponent cancels in the normalization, so centering
    * costs nothing; the [24,479] domain clamp binds only ≥ ~27
    * eighth-bits (≈ 2^3.4 probability ratio) from center, documented
    * saturation. All integer, ppm out.
    *
    * Scale shape: the LM train + score is the only corpus-
    * proportional stage (shared with q106); everything after folds
    * the sources-bounded table with one-row broadcasts.
    */
  /** Survey raking / iterative proportional fitting (Deming &
    * Stephan 1940) of the (row × col) document-count grid toward
    * UNIFORM margins: alternately rescale weights so every row, then
    * every column, carries an equal weighted share — after a couple
    * of sweeps the mixture matches both margins at once, which
    * one-axis reweighting ([[temperatureRates]], [[doremiStep]])
    * cannot do (balancing lang breaks source balance and vice
    * versa). The classic cross-margin corpus-mixing tool.
    *
    * Exact integers: weights are ppm; each step multiplies by the
    * target/current ratio as ONE truncating divide
    * `w' = (w · (N·10⁶ div R)) div Σ(n·w)` through DECIMAL(38) —
    * both engines mirror every floor. `iters` row+col sweeps are
    * unrolled in the twin. Caveat (standard IPF): a near-empty
    * margin inflates its weights by ~N/(margin count); pre-bucket
    * degenerate margins before raking.
    *
    * Scale shape: ONE corpus reduction to the (row, col) grid
    * (domain-bounded); every sweep is a grid-keyed aggregation +
    * broadcast join on that bounded table — corpus rows are never
    * touched again.
    */
  def rake(df: DataFrame, rowCol: String, colCol: String,
           iters: Int = 2): DataFrame =
    rakeFromCellsDf(
      df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
        .agg(count(lit(1)).as("n")),
      rowCol, colCol, iters)

  /** [[rake]] from externally accumulated ((row, col) → n) grid
    * counts — the additive streaming readback (the
    * chiSquaredFromCounts convention): a foreachBatch folds the
    * per-batch cell counts and replays the IPF sweeps, bit-identical
    * to the batch operator over the same delivered rows.
    */
  def rakeFromCounts(spark: org.apache.spark.sql.SparkSession,
                     counts: Seq[(String, String, Long)],
                     rowCol: String = "r", colCol: String = "c",
                     iters: Int = 2): DataFrame = {
    import spark.implicits._
    rakeFromCellsDf(counts.toDF("r", "c", "n")
      .groupBy("r", "c").agg(sum("n").as("n")), rowCol, colCol, iters)
  }

  private def rakeFromCellsDf(cells0: DataFrame, rowCol: String,
                              colCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters=$iters out of range")
    // dims + every sweep read the bounded grid
    val cells = Lineage.cut(cells0)
    val dims = cells.agg(countDistinct("r").as("nr"),
      countDistinct("c").as("nc"),
      sum("n").cast("decimal(38,0)").as("nn"))
    var w = cells.crossJoin(broadcast(dims))
      .select(col("r"), col("c"), col("n"), lit(1000000L).as("w"),
        col("nr"), col("nc"), col("nn"))
    for (_ <- 1 to iters) {
      val rs = w.groupBy(col("r").as("__rr"))
        .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * w")).as("__sr"))
      w = w.join(broadcast(rs), col("r") === col("__rr"))
        .withColumn("w", expr(
          "CAST((CAST(w AS DECIMAL(38,0)) * ((nn * 1000000) div nr)) " +
            "div greatest(__sr, 1) AS BIGINT)"))
        .drop("__rr", "__sr")
      val cs = w.groupBy(col("c").as("__cc"))
        .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * w")).as("__sc"))
      w = w.join(broadcast(cs), col("c") === col("__cc"))
        .withColumn("w", expr(
          "CAST((CAST(w AS DECIMAL(38,0)) * ((nn * 1000000) div nc)) " +
            "div greatest(__sc, 1) AS BIGINT)"))
        .drop("__cc", "__sc")
    }
    w.select(col("r").as(rowCol), col("c").as(colCol), col("n"),
      col("w").as("weight_ppm"),
      expr("CAST((CAST(n AS DECIMAL(38,0)) * w) div 1000000 AS BIGINT)")
        .as("weighted_n"))
  }

  /** Execute [[rake]]'s weights as a deterministic sampling plan —
    * the step that turns per-cell ppm weights into actual kept rows:
    * a weight above 10⁶ means FULL EPOCHS (every row repeats
    * `weight div 10⁶` times) plus a fractional pass; the fractional
    * remainder samples rows by the [[sampleByRates]] hash-gate
    * convention (`hash61(salt ++ id) % 10⁶ < frac`), so membership
    * is reproducible on any partitioning at any scale. Emits the
    * per-cell plan: n, weight_ppm, full_epochs, n_sampled (rows
    * passing the fractional gate) and n_kept = n·epochs + sampled —
    * the exact manifest a training-data loader consumes.
    *
    * Scale shape: [[rake]]'s bounded-grid sweeps, then ONE corpus
    * scan gated by the broadcast weight grid with a map-side partial
    * count — rows shuffle as (cell → counts), never individually.
    */
  def rakedSample(df: DataFrame, rowCol: String, colCol: String,
                  idCol: String, iters: Int = 2,
                  salt: String = "rake:"): DataFrame = {
    val w = rake(df, rowCol, colCol, iters)
      .select(col(rowCol), col(colCol), col("n"), col("weight_ppm"))
    df.select(col(rowCol), col(colCol), col(idCol))
      .join(broadcast(w), Seq(rowCol, colCol)) // grid is domain-bounded
      .withColumn("__u", HashFns.hash61(
        concat(lit(salt), col(idCol).cast("string"))) % 1000000L)
      .groupBy(col(rowCol), col(colCol), col("n"), col("weight_ppm"))
      .agg(sum(when(col("__u") < col("weight_ppm") % 1000000L, 1L)
        .otherwise(0L)).cast("bigint").as("n_sampled"))
      .select(col(rowCol), col(colCol), col("n"), col("weight_ppm"),
        expr("weight_ppm div 1000000").as("full_epochs"),
        col("n_sampled"),
        expr("n * (weight_ppm div 1000000) + n_sampled").as("n_kept"))
  }

  def doremiStep(df: DataFrame, idCol: String, srcCol: String,
                 textCol: String, etaNum: Int = 1,
                 etaDen: Int = 1): DataFrame = {
    val scored = TextStats.lmSurprisal(df, idCol, textCol,
      carry = Seq(srcCol))
    // sources-bounded; totals + weights off one fold
    val bySrc = Lineage.cut(scored.groupBy(col(srcCol).as("src"))
      .agg(sum("n_bigrams").as("nb"), sum("surprisal_e8").as("se8")))
    doremiFromSumsDf(bySrc, etaNum, etaDen)
  }

  /** The DoReMi reweighting readback over additive per-source
    * (n_bigrams, Σ surprisal_e8) sums — the streaming form of
    * [[doremiStep]]: under a FIXED reference model (the persisted-
    * model [[TextStats.lmScore]] pattern) both sums fold across
    * micro-batches, so a foreachBatch monitor accumulates them and
    * emits the live mixture weights through the SAME arithmetic as
    * the batch operator.
    */
  def doremiFromSums(spark: org.apache.spark.sql.SparkSession,
                     sums: Seq[(String, Long, Long)], etaNum: Int = 1,
                     etaDen: Int = 1): DataFrame = {
    import spark.implicits._
    doremiFromSumsDf(sums.toDF("src", "nb", "se8"), etaNum, etaDen)
  }

  /** The excess/exp2/normalize arithmetic over a (src, nb, se8)
    * table — shared VERBATIM by [[doremiStep]] and
    * [[doremiFromSums]].
    */
  private def doremiFromSumsDf(bySrc: DataFrame, etaNum: Int,
                               etaDen: Int): DataFrame = {
    require(etaDen > 0 && etaNum >= 0, s"need eta = $etaNum/$etaDen >= 0")
    val tot = bySrc.agg(sum("nb").as("nbt"), sum("se8").as("set"))
    val base = bySrc.crossJoin(broadcast(tot))
      .select(col("src"), col("nb"),
        expr("CAST(se8 div greatest(nb, 1) AS BIGINT)").as("avg_e8"),
        expr("CAST(set div greatest(nbt, 1) AS BIGINT)").as("corpus_e8"),
        expr("CAST((1000000 * CAST(nb AS DECIMAL(38,0))) div " +
          "greatest(nbt, 1) AS BIGINT)").as("base_ppm"))
      .withColumn("excess_e8", col("avg_e8") - col("corpus_e8"))
      // sign-symmetric eta scaling, defensive convention: DuckDB's
      // `//` truncates toward zero exactly like Spark `div`
      // (-7//2 = -3 on both), but the CASE keeps the twin pinned to
      // truncation even against an engine whose `//` floors —
      // negative numerators never reach the divide bare
      .withColumn("__arg", expr(
        s"least(greatest((CASE WHEN excess_e8 >= 0 " +
          s"THEN ($etaNum * excess_e8) div $etaDen " +
          s"ELSE -(($etaNum * -excess_e8) div $etaDen) END) + 240, " +
          "24), 479)"))
      .withColumn("__f", expr(TextStats.exp2E8Sql("__arg")))
      .withColumn("__raw", expr("CAST(base_ppm AS DECIMAL(38,0)) * __f"))
    val z = base.agg(sum("__raw").as("__z"))
    base.crossJoin(broadcast(z))
      .select(col("src"), col("nb").as("n_bigrams"), col("avg_e8"),
        col("excess_e8"), col("base_ppm"),
        expr("CAST((1000000 * __raw) div greatest(__z, 1) AS BIGINT)")
          .as("new_ppm"))
  }
}
