package graft.ops

import graft.functions.{MitchellE8, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level repetition statistics — the Gopher-style "repetitive
  * document" signals a quality-filter stage cuts on (see the reference's
  * quality-filter surface; cf. Rae et al. 2021 §A.1.1). Two signals:
  *
  *  - `dup_word_frac`: fraction of word occurrences that are repeats of
  *    an earlier word (1 − distinct/total) — computed per row from the
  *    token array, map-only;
  *  - `top_ngram_char_frac`: characters covered by the most frequent
  *    word n-gram (count × gram length) over the document's character
  *    count — computed by exploding n-grams and aggregating twice on the
  *    8-byte doc id (both aggregations get map-side partials; nothing
  *    wider than (id, gram) ever shuffles).
  *
  * Scale shape: ONE scan — the per-row token stats ride through the
  * n-gram explode as extra columns (constant per doc, re-aggregated
  * with `max`), so the text is decoded and tokenized once, followed by
  * two hash aggregations on the doc id (both with map-side partials);
  * no join, no window, no driver-side state. The carried stats widen
  * the (id, gram) shuffle rows by three bigints — the price of the
  * single scan. Survives a 100 TB documents table as long as single
  * documents fit in a task.
  */
object TextStats {

  /** Per-doc repetition metrics: `(idCol, n_tokens, dup_word_frac,
    * top_ngram_char_frac)`, one row per distinct id. Expects one input
    * row per id: duplicate-id rows merge (gram counts pool while the
    * per-row stats combine via max), which inflates the fractions —
    * dedupe upstream if ids can repeat.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val exploded = df.select(col(idCol).as("__id"),
      size(toks).cast("bigint").as("n_tokens"),
      size(array_distinct(toks)).cast("bigint").as("n_distinct"),
      length(col(textCol)).cast("bigint").as("n_chars"),
      explode(TextFns.shingles(col(textCol), n)).as("g"))
    // most-repeated n-gram, measured in characters it covers; max of
    // (count × length) is tie-stable where "the" most common gram is not.
    // The per-doc stats are constant within a group, so max() re-emits
    // them without a second scan of the text.
    val topChars = exploded
      .groupBy("__id", "g")
      .agg(count(lit(1)).as("c"), max("n_tokens").as("n_tokens"),
        max("n_distinct").as("n_distinct"), max("n_chars").as("n_chars"))
      .groupBy("__id")
      .agg(max(col("c") * length(col("g"))).as("top_chars"),
        max("n_tokens").as("n_tokens"), max("n_distinct").as("n_distinct"),
        max("n_chars").as("n_chars"))
    topChars
      .select(col("__id").as(idCol),
        col("n_tokens"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")), 6)
          .as("dup_word_frac"),
        round(when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("top_chars").cast("double") / col("n_chars")), 6)
          .as("top_ngram_char_frac"))
  }

  // ------------------------------------------------------------------ //
  // Integer-exact n-gram LM surprisal (CCNet-style quality scoring)    //
  // ------------------------------------------------------------------ //

  /** Scale shift for the surprisal ratio: q = ((c1+V) << SHIFT) div
    * (c2+1), so one integer carries ~6 decimal digits of the ratio.
    */
  final val LmShift = 20

  /** Fraction bits of the two Mitchell log resolutions: eighth-bit
    * (e8) and 1/256-bit (e256).
    */
  final val E8Bits = 3
  final val E256Bits = 8

  /** floor(log2(q)) for q in [2^20, 2^63) as an explicit threshold
    * CASE — NO engine log/bin function anywhere, so the value (and its
    * output format) cannot drift between Spark and the oracle engine.
    * Part of the SQL Mitchell ladder, which the DuckDB twin evaluates
    * and the specs use as the reference for the native form.
    */
  def floorLog2CaseSql(qE: String): String =
    "(CASE " + (62 to LmShift by -1)
      .map(i => s"WHEN $qE >= ${1L << i} THEN $i").mkString(" ") +
      s" ELSE ${LmShift} END)"

  /** 2^(floor(log2(q)) − down) by the same threshold CASE (literal
    * values — no shift-by-column, whose typing differs across
    * engines): `down` = 0 is the power-of-two floor p itself, and
    * `down` = b its exact 2^−b fraction (valid for b ≤ SHIFT).
    */
  def pow2FloorCaseSql(qE: String, down: Int = 0): String =
    "(CASE " + (62 to LmShift by -1)
      .map(i => s"WHEN $qE >= ${1L << i} THEN CAST(${1L << (i - down)} AS BIGINT)")
      .mkString(" ") + s" ELSE CAST(${1L << (LmShift - down)} AS BIGINT) END)"

  /** Mitchell's logarithm approximation (Mitchell 1962) in EIGHTH-bit
    * units, integer end to end: with e = floor(log2 q) and p = 2^e,
    * m8(q) = 8e + (q − p)·8 div p — log2 with linear interpolation
    * between powers of two, monotone, max error ~0.086 bit. Exact
    * integer products and divisions, so it is bit-identical on any
    * engine — the same no-float discipline as the sketch estimates.
    *
    * This SQL ladder (~130 generated branches per call) is the DuckDB
    * twin's form and the specs' reference; every Spark plan computes
    * the same value with the native [[graft.functions.MitchellE8]]
    * expression, since a projection inlining several ladders overflows
    * janino's 64 KB method limit. Only the integer-division SPELLING
    * differs per engine (`div` in Spark SQL, `//` in DuckDB) — pass
    * `divOp` accordingly. Domain [2^20, 2^63): the ladder does NOT
    * clamp below 2^20 (it extrapolates: q = 0 gives 152), while the
    * native form and [[mitchellLong]] clamp to the floor (160).
    */
  def mitchellE8Sql(qE: String, divOp: String = "div"): String =
    mitchellSql(qE, E8Bits, divOp)

  /** Mitchell log2 in 1/256-bit units — [[mitchellE8Sql]] with 32×
    * finer interpolation, for surfaces where the ratio of interest is
    * SMALL (an SPRT per-trial weight at a 10% MDE is 0.14 bits ≈ 1
    * eighth-bit — below e8 resolution — but 35 e256 units). Same
    * division-only no-overflow form, same [2^20, 2^63) domain, same
    * twin-and-spec role; the piecewise-linear interpolation error
    * (≤ ~0.086 bit) is unchanged — only the QUANTIZATION is finer.
    */
  def mitchellE256Sql(qE: String, divOp: String = "div"): String =
    mitchellSql(qE, E256Bits, divOp)

  /** 2^bits·e + (q − p) div (p >> bits): (q − p)·2^bits div p exactly
    * (p is a power of two ≥ 2^20, so p >> bits is exact and floor
    * commutes) — the division-only form never multiplies, so no q in
    * [2^20, 2^63) can overflow the interpolation term.
    */
  private def mitchellSql(qE: String, bits: Int, divOp: String): String =
    s"(${1 << bits} * ${floorLog2CaseSql(qE)} + " +
      s"($qE - ${pow2FloorCaseSql(qE)}) $divOp ${pow2FloorCaseSql(qE, bits)})"

  /** Scala mirror of the Mitchell log with `bits` fraction bits
    * ([[E8Bits]] ≡ [[mitchellE8Sql]], [[E256Bits]] ≡
    * [[mitchellE256Sql]]): (e << bits) + (q − p) div (p >> bits).
    * The native [[graft.functions.MitchellE8]] expression calls it
    * from generated code with a constant `bits`, and executor-side
    * imperative code (streaming state) calls it directly. Inputs below
    * 2^20 clamp to the domain floor; `MitchellE8Spec` pins it
    * bit-equal to the ladder on the domain.
    */
  def mitchellLong(q: Long, bits: Int): Long = {
    val qc = math.max(q, 1L << LmShift)
    val e = 63 - java.lang.Long.numberOfLeadingZeros(qc)
    val p = 1L << e
    (e.toLong << bits) + (qc - p) / (p >> bits)
  }

  /** Inverse Mitchell: 2^(m/8) for integer eighth-bit m, as the
    * exact piecewise-linear inverse of [[mitchellE8Sql]] — with
    * e = m div 8 and f = m mod 8, 2^(m/8) ≈ 2^e·(1 + f/8) =
    * (8 + f)·2^(e−3), exact integers throughout. Emitted as a
    * threshold CASE over literal 2^(e−3) multipliers (never a
    * shift-by-column, whose typing differs across engines). Unlike
    * the forward log it has no native form: Spark plans and the
    * DuckDB twin share this one emitter.
    *
    * Domain [24, 479]: below 24 the ELSE arm returns 1; m is clamped
    * to 479 BEFORE splitting into e/f, so at saturation the function
    * pins to the maximum 15·2^56 and stays MONOTONE (clamping only e,
    * the round-11 shape, let f keep cycling — m = 479 mapped to
    * 15·2^56 while m = 480 dropped to 8·2^56, silently inverting
    * order past the cap). 15·2^56 stays far inside BIGINT.
    */
  def exp2E8Sql(mE: String, divOp: String = "div"): String = {
    val mc = s"least(($mE), 479)"
    val e = s"(($mc) $divOp 8)"
    val f = s"(($mc) % 8)"
    val cases = (3 to 59).map(i =>
      s"WHEN $e = $i THEN (8 + $f) * CAST(${1L << (i - 3)} AS BIGINT)")
      .mkString(" ")
    s"(CASE $cases ELSE CAST(1 AS BIGINT) END)"
  }

  /** The BM25 scoring expressions — shared VERBATIM by [[bm25]] and
    * [[bm25Probe]] so the per-query path and the persisted-index path
    * cannot drift in the arithmetic. Operate over columns (tf, df,
    * dl, n_docs, avdl).
    */
  private def bm25IdfE8: Column =
    MitchellE8.log2Ratio(expr("(2 * n_docs) - (2 * df) + 1"), expr("(2 * df) + 1"))
  private val Bm25TfnExpr =
    "(22000 * tf * avdl) div ((10 * tf * avdl) + (3 * avdl) + (9 * dl))"

  private def bm25Score(tfRows: DataFrame): DataFrame =
    tfRows
      .withColumn("idf_e8", bm25IdfE8)
      .withColumn("tfn_x1000", expr(Bm25TfnExpr))
      .groupBy("__id")
      .agg(sum(expr("idf_e8 * tfn_x1000")).as("bm25_x"),
        count(lit(1)).as("n_terms_hit"), min(col("dl")).as("n_tokens"))

  /** Integer-exact BM25 retrieval scoring (Robertson & Zaragoza 2009,
    * "The Probabilistic Relevance Framework: BM25 and Beyond") — the
    * seed-set relevance miner of a retrieval-based curation stage
    * (score every corpus doc against a term set, keep the top k),
    * with both float surfaces of the classic formula replaced by
    * exact integer constructions:
    *
    *  - IDF: log2((N − df + ½)/(df + ½)) via [[mitchellE8Sql]] over
    *    q = ((2N − 2df + 1) << SHIFT) div (2df + 1) (doubling clears
    *    the halves), clamped at 2^SHIFT so common terms floor to
    *    idf = 0 — the standard Lucene-style negative-IDF floor;
    *  - TF normalization with k1 = 1.2, b = 0.75 as exact rationals:
    *    multiplying numerator and denominator by 10·avdl gives
    *    tfn·1000 = (22000·tf·avdl) div (10·tf·avdl + 3·avdl + 9·dl),
    *    with avdl = Σdl div N (integer division, documented).
    *
    * score = Σ_t idf_e8(t) · tfn_x1000(d, t). Returns the top `k`
    * docs with ≥1 term hit as (idCol, carry..., n_tokens,
    * n_terms_hit, bm25_x), ordered score DESC then id.
    *
    * Scale shape: terms broadcast; tf/df are map-side-partial hash
    * aggregations on (id, term)/(term); the per-doc score joins tiny
    * broadcast tables onto the tf rows; top-k is a TakeOrdered (O(k)
    * per partition, no global sort materialization).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: DataFrame, termCol: String, carry: Seq[String] = Seq.empty,
           k: Int = 100): DataFrame = {
    val toks = docs.select(col(idCol).as("__id") +: carry.map(col) :+
      TextFns.tokens(col(textCol)).as("w"): _*)
    val dl = toks.select(col("__id"), size(col("w")).cast("bigint").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot"))
      .select(col("n_docs"),
        expr("greatest(tot div n_docs, CAST(1 AS BIGINT))").as("avdl"))
    val tok = toks.select(col("__id"), explode(col("w")).as("t"))
    val tf = tok.join(broadcast(terms.select(col(termCol).as("t"))), "t")
      .groupBy("__id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val scored = bm25Score(tf
      .join(broadcast(dfreq), "t")
      .join(dl, "__id")
      .crossJoin(broadcast(stats)))
    scored
      .join(toks.select(col("__id") +: carry.map(col): _*), "__id")
      .orderBy(desc("bm25_x"), col("__id"))
      .limit(k)
      .select(col("__id").as(idCol) +: carry.map(col) :+
        col("n_tokens") :+ col("n_terms_hit") :+ col("bm25_x"): _*)
  }

  /** Persisted BM25 search index — build once over the corpus, probe
    * with ANY term set forever (the retrieval deployment shape; the
    * per-query [[bm25]] rescans the corpus per term list). Four
    * parquet-persistable tables: full-vocabulary postings
    * (t, id, tf), document frequencies (t, df), document lengths
    * (id, dl), and the 1-row (n_docs, avdl) stats. Like
    * [[graft.dedup.Dedup.SetSimIndex]], the index is the fold target
    * of the build-once/probe-daily lifecycle.
    */
  final case class Bm25Index(postings: DataFrame, dfreq: DataFrame,
                             dl: DataFrame, stats: DataFrame) {
    def save(dir: String): Unit = {
      postings.write.mode("overwrite").parquet(s"$dir/postings")
      dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")
      dl.write.mode("overwrite").parquet(s"$dir/dl")
      stats.write.mode("overwrite").parquet(s"$dir/stats")
    }
  }

  object Bm25Index {
    def load(spark: org.apache.spark.sql.SparkSession,
             dir: String): Bm25Index =
      Bm25Index(spark.read.parquet(s"$dir/postings"),
        spark.read.parquet(s"$dir/dfreq"),
        spark.read.parquet(s"$dir/dl"),
        spark.read.parquet(s"$dir/stats"))
  }

  /** Build the [[Bm25Index]]: one token explode → (id, t, tf)
    * postings with map-side partials; df and dl fold off the same
    * pass; the scalar stats broadcast at probe time. Index size is
    * the distinct (doc, term) incidence — the classical inverted
    * index without positions.
    */
  def bm25IndexBuild(docs: DataFrame, idCol: String,
                     textCol: String): Bm25Index = {
    val toks = docs.select(col(idCol).as("id"),
      TextFns.tokens(col(textCol)).as("w"))
    val dl = toks.select(col("id"), size(col("w")).cast("bigint").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot"))
      .select(col("n_docs"),
        expr("greatest(tot div n_docs, CAST(1 AS BIGINT))").as("avdl"))
    val postings = toks.select(col("id"), explode(col("w")).as("t"))
      .groupBy("t", "id").agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy("t").agg(count(lit(1)).as("df"))
    Bm25Index(postings, dfreq, dl, stats)
  }

  /** Probe a persisted [[Bm25Index]] with a term set: postings for
    * the probe terms join the broadcast term list (partition-pruned
    * at 100 TB when the postings are written bucketed/sorted by
    * term), then the IDENTICAL scoring expressions as [[bm25]]
    * (shared emitters — specced row-for-row equal). Returns the
    * [[bm25]] schema: (id, n_tokens, n_terms_hit, bm25_x), top-k.
    */
  def bm25Probe(index: Bm25Index, terms: DataFrame, termCol: String,
                k: Int = 100): DataFrame = {
    // df rows for the PROBE terms only — never broadcast the full
    // vocabulary table
    val qdf = index.dfreq
      .join(broadcast(terms.select(col(termCol).as("t"))), "t")
    val scored = bm25Score(index.postings
      .join(broadcast(qdf), "t")
      .withColumnRenamed("id", "__id")
      .join(index.dl.withColumnRenamed("id", "__id"), "__id")
      .crossJoin(broadcast(index.stats)))
    scored
      .orderBy(desc("bm25_x"), col("__id"))
      .limit(k)
      .select(col("__id").as("id"), col("n_tokens"), col("n_terms_hit"),
        col("bm25_x"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    * SIGIR 2001) — the language-model alternative to [[bm25]]'s
    * probabilistic scoring, and the second ranker the q186 RBO
    * comparison exists for. Per document,
    *
    *   score(q, d) = Σ_{w∈q} log p(w|d),
    *   p(w|d) = (tf_{w,d} + μ·cf_w/T) / (dl + μ)
    *
    * decomposed rank-exactly into matched-term gains plus a
    * length-only prior: Σ_{hits} log(1 + tf·T/(μ·cf)) +
    * |q|·log(μ/(dl+μ)). Everything is integer eighth-bit logs
    * ([[mitchellE8Sql]]'s values, native in the plan): the gain is
    * E8((tf·T + μ·cf)·2¹⁰) − E8(μ·cf·2¹⁰) and the prior is
    * |q|·(E8(μ·2²⁰) − E8((dl+μ)·2²⁰)), with the μ·2²⁰ term a Scala
    * [[mitchellLong]] literal (μ is a power of two so it's exact).
    *
    * Scale shape: identical to [[bm25]] — postings join a broadcast
    * term list, cf/tf are one reduction each, corpus totals and |q|
    * are ONE-row broadcasts, and the final top-k is a bounded-heap
    * TakeOrdered over the doc table (every doc scores: the prior
    * alone ranks unmatched docs, as the model requires).
    */
  def qlRetrieve(docs: DataFrame, idCol: String, textCol: String,
                 terms: DataFrame, termCol: String,
                 mu: Long = 2048, k: Int = 100): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
      TextFns.tokens(col(textCol)).as("w"))
    val dl = toks.select(col("__id"), size(col("w")).cast("bigint").as("dl"))
    val tok = toks.select(col("__id"), explode(col("w")).as("t"))
    val hitTok = tok.join(broadcast(terms.select(col(termCol).as("t"))), "t")
    val cf = hitTok.groupBy("t").agg(count(lit(1)).as("cf"))
    val tf = hitTok.groupBy("__id", "t").agg(count(lit(1)).as("tf"))
    qlScore(tf, cf, dl,
        terms.select(col(termCol).as("t")).agg(count(lit(1)).as("nq")),
        mu, k)
      .withColumnRenamed("id", idCol)
  }

  /** Probe a persisted [[Bm25Index]] with the Dirichlet QL ranker —
    * the same build-once/probe-forever lifecycle as [[bm25Probe]],
    * same index, different scoring model: cf comes from the probe
    * terms' postings (Σ tf per term), T from the dl table, and the
    * IDENTICAL scoring stage as [[qlRetrieve]] (shared [[qlScore]] —
    * specced row-for-row equal).
    */
  def qlProbe(index: Bm25Index, terms: DataFrame, termCol: String,
              mu: Long = 2048, k: Int = 100): DataFrame = {
    val qt = broadcast(terms.select(col(termCol).as("t")))
    val cf = index.postings.join(qt, "t")
      .groupBy("t").agg(sum("tf").cast("bigint").as("cf"))
    val tf = index.postings.join(qt, "t")
      .select(col("id").as("__id"), col("t"), col("tf"))
    qlScore(tf, cf, index.dl.withColumnRenamed("id", "__id"),
      terms.select(col(termCol).as("t")).agg(count(lit(1)).as("nq")),
      mu, k)
  }

  /** The Dirichlet gain+prior scoring stage over (doc, term, tf)
    * hits, term cf, doc lengths and the one-row |q| — shared
    * VERBATIM by [[qlRetrieve]] and [[qlProbe]] so batch and
    * index-probe scoring cannot drift. Output keyed `id`.
    */
  private def qlScore(tf: DataFrame, cf: DataFrame, dl: DataFrame,
                      nq: DataFrame, mu: Long, k: Int): DataFrame = {
    // mu ≥ 2^10 keeps every log argument in the Mitchell domain:
    // qb = mu·cf·2^10 ≥ 2^20 (cf ≥ 1 per hit term), qa ≥ qb, and
    // qd = (dl + mu)·2^20 ≥ 2^20
    require(mu >= 1024 && (mu & (mu - 1)) == 0,
      s"mu must be a power of two >= 1024, got $mu")
    val stats = dl.agg(sum("dl").as("tot"))
    val hits = tf.join(broadcast(cf), "t")
      .crossJoin(broadcast(stats))
      .withColumn("qa", expr(s"(tf * tot + $mu * cf) * 1024"))
      .withColumn("qb", expr(s"($mu * cf) * 1024"))
      .withColumn("__gain", MitchellE8(col("qa")) - MitchellE8(col("qb")))
      .groupBy("__id")
      .agg(sum("__gain").as("__hit"), count(lit(1)).as("n_terms_hit"))
    val e8mu = mitchellLong(mu << 20, E8Bits)
    dl.join(hits, Seq("__id"), "left")
      .crossJoin(broadcast(nq))
      .withColumn("qd", expr(s"(dl + $mu) * ${1L << 20}"))
      .withColumn("ql_e8", coalesce(col("__hit"), lit(0L)) +
        col("nq") * (lit(e8mu) - MitchellE8(col("qd"))))
      .orderBy(desc("ql_e8"), col("__id"))
      .limit(k)
      .select(col("__id").as("id"), col("dl").as("n_tokens"),
        coalesce(col("n_terms_hit"), lit(0L)).as("n_terms_hit"),
        col("ql_e8"))
  }

  /** Multiset token precision / recall / F1 per candidate–reference
    * pair — the SQuAD-style answer-overlap metric (Rajpurkar et al.
    * 2016) and the standard report column for near-dup / decontam
    * MATCHED pairs: overlap = Σ_w min(tf_a(w), tf_b(w)), precision =
    * overlap/|a|, recall = overlap/|b|, F1 = 2·overlap/(|a|+|b|) —
    * every figure an exact integer ppm (the harmonic mean collapses
    * to one divide because P and R share the overlap numerator).
    *
    * `pairs` carries (id_a, id_b); texts come from `docs`. Pairs
    * whose sides share no token report zeros (left join).
    *
    * Scale shape: one (id, w) term-frequency reduction over the
    * docs, two pair-keyed joins that expand each pair to its matched
    * token rows (bounded by pair count × doc length — the q143
    * verify shape), one pair-keyed fold.
    */
  def tokenF1(pairs: DataFrame, docs: DataFrame, idCol: String,
              textCol: String): DataFrame = {
    // two pair-side consumers + the length fold
    val tf = Lineage.cut(docs.select(col(idCol).as("id"),
        explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy("id").agg(sum("tf").cast("bigint").as("dl"))
    val ov = pairs.select("id_a", "id_b")
      .join(tf.select(col("id").as("id_a"), col("w"),
        col("tf").as("__ta")), Seq("id_a"))
      .join(tf.select(col("id").as("id_b"), col("w"),
        col("tf").as("__tb")), Seq("id_b", "w"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("__ta"), col("__tb"))).cast("bigint").as("ov"))
    pairs.select("id_a", "id_b")
      .join(ov, Seq("id_a", "id_b"), "left")
      .join(dl.select(col("id").as("id_a"), col("dl").as("len_a")), Seq("id_a"))
      .join(dl.select(col("id").as("id_b"), col("dl").as("len_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        coalesce(col("ov"), lit(0L)).as("overlap"),
        col("len_a"), col("len_b"))
      .withColumn("prec_ppm", expr(
        "CAST((1000000 * overlap) div greatest(len_a, 1) AS BIGINT)"))
      .withColumn("rec_ppm", expr(
        "CAST((1000000 * overlap) div greatest(len_b, 1) AS BIGINT)"))
      .withColumn("f1_ppm", expr(
        "CAST((2000000 * overlap) div greatest(len_a + len_b, 1) AS BIGINT)"))
  }

  /** A trained bigram LM as two mergeable tables:
    * `bigrams(w1, bg, c2)` — bigram occurrence counts (c1, the
    * left-context count, is Σ c2 per w1 by definition and is derived
    * at score time) — and `vocab(t)`, the DISTINCT token set (kept as
    * a set, not a count, so merges stay exact: counts of distinct
    * things do not add). Both persist to parquet losslessly and merge
    * associatively — the train-once / fold-daily-increments /
    * score-streams lifecycle of the sketch profile-store family.
    */
  final case class LmModel(bigrams: DataFrame, vocab: DataFrame)

  /** (id, w1, bg) bigram rows of a doc table — shared by train and
    * score. Docs with < 2 tokens contribute none. Built from the
    * native 2-shingle pass: bg IS the "w1 w2" join, and w1 is its
    * prefix before the first space (tokens cannot contain spaces) —
    * every step codegen'd, no per-window lambda.
    */
  private def lmBigramRows(toks: DataFrame): DataFrame =
    toks.where(size(col("w")) >= 2)
      .select(col("__id"),
        explode(TextFns.shingles(col("__text"), 2)).as("bg"))
      .select(col("__id"), substring_index(col("bg"), " ", 1).as("w1"), col("bg"))

  /** The add-one bigram surprisal log2((c1 + V)/(c2 + 1)) in
    * eighth-bits over (c1, c2, v) columns — shared by [[lmScore]],
    * [[surprisalSpansUnderModel]] and [[lmCrossPerplexity]].
    */
  private def lmSurprisalE8: Column =
    MitchellE8.log2Ratio(col("c1") + col("v"), col("c2") + 1)

  /** The inverse Kneser–Ney probability 4·c1·Nt / (max(4·c2 − 3, 0)·Nt
    * + 3·N1+(w1·)·N1+(·w2)) as a (numerator, denominator) pair over
    * (c1, c2, nt, n1w1, ncw2) columns — shared by [[knSurprisal]] and
    * [[knNextWord]].
    */
  private def knNum: Column = expr("CAST(4 AS DECIMAL(38,0)) * c1 * nt")
  private def knDen: Column = expr("CAST(greatest(4 * c2 - 3, 0) AS DECIMAL(38,0)) * nt " +
    "+ CAST(3 AS DECIMAL(38,0)) * n1w1 * ncw2")

  private def lmToks(df: DataFrame, idCol: String, textCol: String,
                     carry: Seq[String]): DataFrame =
    df.select(col(idCol).as("__id") +: carry.map(col) :+
      TextFns.tokens(col(textCol)).as("w") :+ col(textCol).as("__text"): _*)

  /** Train a bigram LM over a corpus: two map-side-partial hash
    * aggregations (bigram counts + distinct tokens), nothing else.
    */
  def lmTrain(df: DataFrame, idCol: String, textCol: String): LmModel = {
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    LmModel(
      lmBigramRows(toks).groupBy("w1", "bg").agg(count(lit(1)).as("c2")),
      toks.select(explode(col("w")).as("t")).distinct())
  }

  /** Fold LM models: bigram counts add (count of a concatenation IS
    * the sum of counts), vocab sets union — both associative, so
    * shards/days merge in any order and `lmMerge(train(A), train(B))
    * == train(A ∪ B)` exactly (specced).
    */
  def lmMerge(a: LmModel, b: LmModel): LmModel = LmModel(
    a.bigrams.unionByName(b.bigrams)
      .groupBy("w1", "bg").agg(sum("c2").as("c2")),
    a.vocab.unionByName(b.vocab).distinct())

  /** Score docs under a (possibly separately-trained) model — the
    * apply half of [[lmSurprisal]]; unseen bigrams/left-contexts fold
    * as count 0 through the add-one smoothing, so a model trained on
    * yesterday's corpus scores today's stream unchanged (foreachBatch
    * application specced in `StatefulSpec`'s profile-store style).
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              model: LmModel, carry: Seq[String] = Seq.empty): DataFrame = {
    val toks = lmToks(df, idCol, textCol, carry)
    val bg = lmBigramRows(toks)
    val c2 = model.bigrams.select(col("bg"), col("c2"))
    val c1 = model.bigrams.groupBy("w1").agg(sum("c2").as("c1"))
    val v = model.vocab.agg(count(lit(1)).as("v"))
    val scored = bg
      .join(c2, Seq("bg"), "left").na.fill(0L, Seq("c2"))
      .join(c1, Seq("w1"), "left").na.fill(0L, Seq("c1"))
      .crossJoin(broadcast(v))
      // c1+v ≥ c2+1 whenever the vocab is non-empty (c1 = Σ c2 over
      // the left context); an empty model logs to 0 (Mitchell clamps
      // below the floor). The ratio, not the product, bounds q: c2+1 ≥
      // 1 and c1 ≤ corpus bigrams keep it far below the 2^62 cap
      .withColumn("e8", lmSurprisalE8)
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"), sum("e8").as("surprisal_e8"))
    toks.select((col("__id") +: carry.map(col)): _*)
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol) +: carry.map(col) :+
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams") :+
        coalesce(col("surprisal_e8"), lit(0L)).as("surprisal_e8"): _*)
      .withColumn("avg_bits_x10",
        expr("(surprisal_e8 * 10) div greatest(8 * n_bigrams, CAST(1 AS BIGINT))"))
  }

  /** Corpus-trained bigram language-model surprisal per document —
    * the LM-quality signal of a CCNet-style filtering stage (Wenzek et
    * al. 2020), with the float perplexity replaced by an integer-exact
    * surrogate so the whole surface is oracle-hashable:
    *
    * p(w2|w1) = (c2+1)/(c1+V)  (add-one smoothing; c2 = corpus bigram
    * count, c1 = corpus left-context count, V = vocabulary size), and
    * per-bigram surprisal −log2 p ≈ (m8(q) − 8·SHIFT)/8 bits with
    * q = ((c1+V) << SHIFT) div (c2+1) and m8 = [[mitchellE8Sql]].
    * c1+V ≥ c2+1 always (every bigram occurrence contributes its left
    * token to c1), so q ≥ 2^SHIFT and surprisal is ≥ 0.
    *
    * Returns one row per input doc: (idCol, carry..., n_bigrams,
    * surprisal_e8 = Σ per-bigram eighth-bits, avg_bits_x10 =
    * 10·surprisal_e8 div (8·n_bigrams)) — high average surprisal =
    * improbable text under the corpus's own statistics = the cut
    * candidate. Docs with < 2 tokens emit (0, 0, 0).
    *
    * Scale shape: the classic distributed LM-count job — one scan
    * explodes bigrams (map-side), c2/c1 are hash aggregations on the
    * bigram/token string with map-side partials, scoring re-joins the
    * bigram stream to the two count tables by key (sort-merge at 100 TB
    * corpus scale; Catalyst broadcasts them when small), V rides in as
    * a broadcast single-row cross join. No driver-side state, no
    * window, nothing unbounded per key.
    *
    * Train-and-score in one call (the q106 oracle surface):
    * `lmScore(df, lmTrain(df))`. Kept as the single-corpus entry
    * point; the split lifecycle is for incremental profiles.
    */
  def lmSurprisal(df: DataFrame, idCol: String,
                  textCol: String, carry: Seq[String] = Seq.empty): DataFrame =
    lmScore(df, idCol, textCol, lmTrain(df, idCol, textCol), carry)

  /** Pairwise vocabulary Jaccard between groups — the SET-overlap
    * counterpart to the q185 distributional JSD: for every (a < b)
    * group pair, |V_a ∩ V_b| / |V_a ∪ V_b| in exact ppm plus both
    * directional containments (∩/|V_a|, ∩/|V_b| — a small source
    * nested inside a big one reads high containment at low Jaccard,
    * which is the interesting case). "Do these sources even speak
    * the same words" before any frequency comparison.
    *
    * Scale shape: one DISTINCT (group, word) reduction; vocab sizes
    * are one count each; the intersection pair join shuffles the
    * distinct-word table on the word key and aggregates to
    * (groups²)-bounded rows.
    */
  def vocabJaccard(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    val v = Lineage.cut(df.select(col(groupCol).as("g"),
        explode(array_distinct(TextFns.tokens(col(textCol)))).as("w"))
      .distinct())
    val sizes = v.groupBy("g").agg(count(lit(1)).as("nv"))
    val inter = v.select(col("g").as("ga"), col("w"))
      .join(v.select(col("g").as("gb"), col("w")), Seq("w"))
      .where(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("g").as("ga"), col("nv").as("n_a"))),
        Seq("ga"))
      .join(broadcast(sizes.select(col("g").as("gb"), col("nv").as("n_b"))),
        Seq("gb"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_a"), col("n_b"), col("n_common"),
        expr("CAST((1000000 * n_common) div (n_a + n_b - n_common) " +
          "AS BIGINT)").as("jaccard_ppm"),
        expr("CAST((1000000 * n_common) div n_a AS BIGINT)")
          .as("containment_a_ppm"),
        expr("CAST((1000000 * n_common) div n_b AS BIGINT)")
          .as("containment_b_ppm"))
  }

  /** Interpolated Kneser–Ney bigram surprisal per document (Kneser &
    * Ney 1995; the Chen & Goodman 1999 benchmark winner — THE
    * canonical n-gram smoothing, upgrading [[lmSurprisal]]'s
    * add-one): with discount d = 3/4 every probability is the exact
    * rational
    *
    *   P(w2|w1) = [max(4·c2−3, 0)·Nt + 3·N1+(w1·)·N1+(·w2)]
    *              / (4·c1·Nt)
    *
    * (c2 = bigram count, c1 = left-context count, N1+(w1·) =
    * distinct followers, N1+(·w2) = distinct LEFT CONTEXTS — the
    * "how many kinds of places does this word appear" continuation
    * count that makes KN famous, Nt = total bigram types). The
    * per-bigram surprisal is the Mitchell eighth-bit log of the
    * inverse ratio, integer end to end; [[MitchellE8.log2Ratio]]
    * clamps q to ≤ 2^62 so a vanishing continuation probability cannot
    * leave Mitchell's domain (caps one bigram at ~42 bits —
    * unreachable on any self-scored corpus, where c2 ≥ 1 bounds the
    * ratio by 4·c1·Nt/Nt = 4·c1). The ratio is ≥ 1 for every observed
    * bigram (c1 ≥ c2 + N1+(w1·) − 1 and N1+(·w2) ≤ Nt), so q ≥ 2^20.
    *
    * Scale shape: the q106 class — bigram explode, three count
    * aggregations (c2 / per-w1 / per-w2) and a 1-row Nt broadcast,
    * re-joined by 8-byte-hashable keys; all map-side partial.
    */
  def knSurprisal(df: DataFrame, idCol: String, textCol: String,
                  carry: Seq[String] = Seq.empty): DataFrame = {
    val toks = lmToks(df, idCol, textCol, carry)
    val bg = lmBigramRows(toks)
    val c2t = Lineage.cut(bg.groupBy("w1", "bg").agg(count(lit(1)).as("c2")))
    val c1t = c2t.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1w1"))
    val ncw2 = c2t.select(substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("ncw2"))
    val nt = c2t.agg(count(lit(1)).as("nt"))
    val scored = bg
      .join(c2t.select(col("bg"), col("c2")), Seq("bg"))
      .join(c1t, Seq("w1"))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(ncw2, Seq("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("e8", MitchellE8.log2Ratio(knNum, knDen))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_bigrams"), sum("e8").as("kn_surprisal_e8"))
    toks.select((col("__id") +: carry.map(col)): _*)
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol) +: carry.map(col) :+
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams") :+
        coalesce(col("kn_surprisal_e8"), lit(0L)).as("kn_surprisal_e8"): _*)
      .withColumn("avg_bits_x10",
        expr("(kn_surprisal_e8 * 10) div greatest(8 * n_bigrams, CAST(1 AS BIGINT))"))
  }

  /** Kneser–Ney next-word prediction — the SERVING readback of the
    * q236 model ([[knSurprisal]]'s count tables reused verbatim): for
    * each of the `topContexts` most frequent left-contexts w1 (ties
    * by word), the `topK` next words ranked by KN probability —
    * equivalently by ascending integer inverse-probability q, the
    * SAME ×2^20 rational [[knSurprisal]] scores with (no float
    * anywhere, ties by word). Candidates are the OBSERVED (w1, w2)
    * bigrams — the standard serving shortcut; unseen w2 fall to the
    * continuation floor and cannot enter a top-k that has ≥ k
    * observed candidates.
    *
    * Output: (context, rank, next_word, kn_bits_x10) with bits the
    * eighth-bit Mitchell surprisal of the predicted bigram.
    *
    * Scale shape: one bigram count reduction (vocab²-bounded
    * output), the context top-N via bounded heap, ranking windows
    * partitioned by the N-bounded context set.
    */
  def knNextWord(df: DataFrame, idCol: String, textCol: String,
                 topContexts: Int = 20, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val bg = lmBigramRows(toks)
    val c2t = Lineage.cut(bg.groupBy("w1", "bg").agg(count(lit(1)).as("c2")))
    val c1t = c2t.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1w1"))
    val ncw2 = c2t.select(substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("ncw2"))
    val nt = c2t.agg(count(lit(1)).as("nt"))
    val top = c1t.orderBy(desc("c1"), col("w1")).limit(topContexts)
    val scored = c2t.join(broadcast(top), Seq("w1"))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(ncw2, Seq("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("q", MitchellE8.ratioQ(knNum, knDen))
    val w = Window.partitionBy("w1").orderBy(col("q"), col("w2"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= topK)
      .withColumn("e8", MitchellE8.log2Ratio(knNum, knDen))
      .select(col("w1").as("context"), col("rank"),
        col("w2").as("next_word"), expr("(e8 * 10) div 8").as("kn_bits_x10"))
  }

  /** Token-blocklist gate (the C4 "bad words" filter, Raffel et al.
    * 2020 §2.2 — reference list public as badwords_en): per doc, how
    * many token occurrences hit the blocklist, how many DISTINCT
    * blocked terms appear, and the keep decision (`hits ≤ maxHits`).
    * Emitting counts instead of silently dropping is deliberate: the
    * audit trail ("WHY was this cut") is part of the stage.
    *
    * Scale shape: tokens explode once; the blocklist joins as a
    * BROADCAST (blocklists are thousands of terms, never
    * corpus-sized); two map-side-partial aggregations on the 8-byte
    * doc id; docs with zero hits come back via the left join. Case
    * folds on the token side so the list is matched
    * case-insensitively.
    */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], maxHits: Long = 0,
                    carry: Seq[String] = Seq.empty): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bl = broadcast(terms.map(_.toLowerCase).distinct.toDF("__term"))
    val base = df.select(col(idCol).as("__id") +: carry.map(col) :+
      TextFns.tokens(col(textCol)).as("w"): _*)
    val hits = base
      .select(col("__id"), explode(col("w")).as("t"))
      .select(col("__id"), lower(col("t")).as("t"))
      .join(bl, col("t") === col("__term"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_hits"),
        size(collect_set(col("t"))).cast("bigint").as("n_terms"))
    base.select(col("__id") +: carry.map(col): _*)
      .join(hits, Seq("__id"), "left")
      .select(col("__id").as(idCol) +: carry.map(col) :+
        coalesce(col("n_hits"), lit(0L)).as("n_hits") :+
        coalesce(col("n_terms"), lit(0L)).as("n_terms"): _*)
      .withColumn("keep", col("n_hits") <= maxHits)
  }

  /** Per-group quantile normalization of an integer score — the fix
    * for "source A's quality scores run hot": a raw threshold keeps
    * 80% of A and 20% of B even when both are internally fine.
    * Normalizing each doc to its PERCENTILE WITHIN ITS OWN GROUP
    * (×1000, rank-based: (rank−1)·1000 div (n−1), ties broken by id
    * for a total order) makes "keep the top 30% of every source"
    * one uniform cut — the per-slice-threshold practice of CCNet's
    * per-language perplexity buckets.
    *
    * Scale shape: ONE window pass partitioned by the group (never
    * global; huge groups externally sort within their partition —
    * the q05 window class) carrying (id, group, score) only.
    */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        scoreCol: String,
                        carry: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol)
    df.select(col(idCol) +: carry.map(col) :+ col(groupCol) :+
        col(scoreCol): _*)
      // row_number is INT — cast before the ×1000 or a >2.1M-row group
      // overflows the product
      .withColumn("__rk", row_number().over(
        w.orderBy(col(scoreCol), col(idCol))).cast("bigint"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("pct_x1000", expr(
        "((__rk - 1) * 1000) div greatest(__n - 1, CAST(1 AS BIGINT))"))
      .drop("__rk", "__n")
  }

  /** PMI collocation mining (Church & Hanks 1990, "Word Association
    * Norms, Mutual Information, and Lexicography") — the corpus
    * statistic behind multi-word-expression extraction and
    * tokenizer-vocabulary seeding: rank adjacent word pairs by
    * pointwise mutual information, PMI(a,b) = log2(p(a,b) /
    * (p(a)·p(b))), with probabilities as the bigram table's OWN
    * marginals (p(a) = left-position count / N, p(b) =
    * right-position count / N, N = total bigrams) so the whole
    * statistic derives from ONE count table.
    *
    * The log is the integer Mitchell form: q = (c2·N << 20) div
    * (c1l·c1r) through DECIMAL(38) (N ≤ 2^40 bigrams keeps c2·N ≤
    * 2^80 and the shifted product ≤ 2^100, inside DECIMAL(38) ≈
    * 2^126), clamped to [2^20, 2^62]; pmi_e8 = m8(q) − 160 eighth-
    * bits. Negative-PMI pairs floor at 0 — a collocation miner only
    * ranks the positive tail.
    *
    * Returns the top `k` pairs with c2 ≥ `minCount` as (bigram, c2,
    * pmi_e8), ordered pmi_e8 DESC then bigram ASC.
    *
    * Scale shape: one scan explodes bigrams (native 2-shingle pass);
    * ONE map-side-partial count aggregation on the bigram string;
    * marginals are two re-aggregations of that (already reduced)
    * count table; N broadcasts as a single row; top-k is a
    * TakeOrdered. Nothing shuffles more than the distinct-bigram
    * table.
    */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5, k: Int = 50): DataFrame = {
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val c2t = lmBigramRows(toks).groupBy("bg").agg(count(lit(1)).as("c2"))
    val parts = c2t
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val c1l = parts.groupBy("w1").agg(sum("c2").as("c1l"))
    val c1r = parts.groupBy("w2").agg(sum("c2").as("c1r"))
    val nTot = c2t.agg(sum("c2").as("n_tot"))
    parts
      .join(c1l, "w1").join(c1r, "w2")
      .crossJoin(broadcast(nTot))
      .withColumn("pmi_e8", MitchellE8.log2Ratio(
        col("c2").cast("decimal(38,0)") * col("n_tot"),
        col("c1l").cast("decimal(38,0)") * col("c1r")))
      .where(col("c2") >= minCount)
      .select(col("bg").as("bigram"), col("c2"), col("pmi_e8"))
      .orderBy(desc("pmi_e8"), col("bigram"))
      .limit(k)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Texts") — PageRank over the word
    * co-occurrence graph: nodes are words, edges are adjacent-word
    * pairs (the same 2-shingles the PMI miner counts), undirected
    * (each adjacency feeds both directions), weighted by corpus
    * co-occurrence count. Returns the top `k` words by rank — the
    * graph-centrality complement to q72's TF-IDF keywords.
    *
    * All-integer fixed point so both engines agree bit-for-bit:
    * ranks live in 1e-12 units (`SCALE`); each edge carries
    * `share_ppm = ⌊w·10⁶ / wdeg(src)⌋` (≤ 10⁶ by w ≤ wdeg, computed
    * through DECIMAL(38) so a 10¹²-count edge cannot overflow);
    * one damping iteration is
    * `r'(v) = ⌊0.15·SCALE/N⌋ + ⌊85·Σᵤ ⌊r(u)·share(u,v)/10⁶⌋ / 100⌋`
    * — every product stays under 10¹⁸ because r ≤ SCALE = 10¹² and
    * share ≤ 10⁶.
    *
    * Scale shape: the corpus is touched ONCE (bigram explode +
    * count); everything after runs on the vocab²-bounded edge table
    * — cut, since `iters` joins re-read it — with
    * node-keyed shuffles per iteration (the standard distributed
    * PageRank shape: O(E) per round, O(log-ish) rounds, never
    * corpus-sized state). N reaches the expression as a broadcast
    * one-row cross join, the q124 convention.
    */
  def textRank(df: DataFrame, idCol: String, textCol: String,
               iters: Int = 5, k: Int = 10): DataFrame = {
    val Scale = 1000000000000L // 1e12: rank fixed-point
    val (shares, deg, nodes) = wordGraphShares(df, idCol, textCol)
    val nTot = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(nTot))
      .select(col("node"), expr(s"CAST($Scale div n_nodes AS BIGINT)").as("r"))
    for (_ <- 1 to iters) {
      val contrib = shares.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"),
          expr("CAST((r * share_ppm) div 1000000 AS BIGINT)").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nTot))
        .select(col("node"), expr(
          s"CAST((15 * $Scale) div (100 * n_nodes) " +
            "+ (85 * coalesce(s, CAST(0 AS BIGINT))) div 100 AS BIGINT)").as("r"))
    }
    ranks.join(deg.select(col("src").as("node"), col("wdeg")), "node")
      .select(col("node").as("word"), col("r").as("rank_p12"), col("wdeg"))
      .orderBy(desc("rank_p12"), col("word"))
      .limit(k)
  }

  /** Shared word-co-occurrence graph builder for [[textRank]] and
    * [[seedExpansion]]: bigram edges (2-shingles, the q124 split
    * convention), undirected doubling, exact ⌊w·10⁶/wdeg⌋ transition
    * shares through DECIMAL(38). Returns (shares, deg, nodes) — the
    * first and third cut, since the rank iterations
    * re-read them.
    */
  private def wordGraphShares(df: DataFrame, idCol: String,
                              textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val bg = lmBigramRows(toks)
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .where(col("w1") =!= col("w2")) // no self-loops
    val dir = bg.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(bg.select(col("w2").as("src"), col("w1").as("dst")))
    // vocab²-bounded and consumed by deg AND shares (and deg itself
    // by seeds + the final report join) — checkpoint once so the
    // corpus is scanned exactly once, never re-derived per branch
    val edges = Lineage.cut(dir.groupBy("src", "dst").agg(count(lit(1)).as("w")))
    val deg = Lineage.cut(edges.groupBy("src").agg(sum("w").as("wdeg")))
    val shares = Lineage.cut(edges.join(deg, "src")
      .select(col("src"), col("dst"), expr(
        "CAST((CAST(w AS DECIMAL(38,0)) * 1000000) div wdeg AS BIGINT)")
        .as("share_ppm")))
    val nodes = deg.select(col("src").as("node"))
    (shares, deg, nodes)
  }

  /** Personalized-PageRank seed expansion (Page et al. 1999 §6 /
    * Haveliwala 2002's topic-sensitive variant) over the [[textRank]]
    * word graph: the damping teleport lands ONLY on a seed set — here
    * the `seedK` highest-weighted-degree words (wdeg DESC, word ASC
    * tie-break, deterministic) — so the stationary mass measures
    * random-walk PROXIMITY TO THE SEEDS rather than global
    * centrality. The data-curation read: seed with a trusted
    * vocabulary (or doc set) and the top non-seed ranks are the
    * natural expansion candidates — the graph analog of q134's
    * hard-negative mining.
    *
    * Same 1e-12 fixed point as [[textRank]] with the teleport term
    * `[v ∈ S]·⌊0.15·SCALE/|S|⌋` replacing the uniform ⌊0.15·SCALE/N⌋
    * — every floor division mirrored in the twin.
    *
    * Scale shape: ONE corpus scan (the shared graph builder); seeds
    * come off the vocab-bounded degree table; `iters` node-keyed
    * edge-table shuffles, the standard distributed PageRank shape.
    */
  def seedExpansion(df: DataFrame, idCol: String, textCol: String,
                    iters: Int = 5, seedK: Int = 10,
                    k: Int = 20): DataFrame = {
    val Scale = 1000000000000L // 1e12: rank fixed-point
    val (shares, deg, nodes) = wordGraphShares(df, idCol, textCol)
    // vocab-bounded degree table: orderBy+limit here never sorts the
    // corpus, only the vocabulary
    // re-read every iteration (teleport mask)
    val seeds = Lineage.cut(deg
      .orderBy(desc("wdeg"), col("src"))
      .limit(seedK)
      .select(col("src").as("node"), lit(1L).as("is_seed")))
    val nSeeds = seeds.agg(count(lit(1)).as("n_seeds"))
    // checkpointed: the per-iteration joins and the final report all
    // re-read this bounded (node, is_seed) table, and a fresh lineage
    // avoids same-attribute self-join ambiguity across iterations
    val seeded = Lineage.cut(nodes.join(seeds, Seq("node"), "left")
      .na.fill(0L, Seq("is_seed")))
    var ranks = seeded.crossJoin(broadcast(nSeeds))
      .select(col("node"), col("is_seed"), expr(
        s"CAST(CASE WHEN is_seed = 1 THEN $Scale div n_seeds " +
          "ELSE 0 END AS BIGINT)").as("r"))
    for (_ <- 1 to iters) {
      val contrib = shares.join(ranks, col("src") === col("node"))
        .select(col("dst").as("__dnode"),
          expr("CAST((r * share_ppm) div 1000000 AS BIGINT)").as("c"))
        .groupBy("__dnode").agg(sum("c").as("s"))
      ranks = seeded.join(contrib, col("node") === col("__dnode"), "left")
        .crossJoin(broadcast(nSeeds))
        .select(col("node"), col("is_seed"), expr(
          s"CAST(CASE WHEN is_seed = 1 THEN (15 * $Scale) div (100 * n_seeds) " +
            "ELSE 0 END + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100 " +
            "AS BIGINT)").as("r"))
    }
    ranks
      .join(deg.select(col("src").as("node"), col("wdeg")), "node")
      .select(col("node").as("word"), col("r").as("rank_p12"),
        col("wdeg"), col("is_seed"))
      .orderBy(desc("rank_p12"), col("word"))
      .limit(k)
  }

  /** Heaps'-law vocabulary growth curve (Heaps 1978): cumulative
    * distinct-word count vs cumulative token count over ingest order,
    * in a FIXED number of id-range buckets — the corpus statistic
    * behind "is this source still contributing new vocabulary", the
    * aggregate complement to q154's per-document novelty.
    *
    * Scale shape: ONE corpus scan reduces to distinct (bucket, word)
    * counts (map-side partial, checkpointed — both downstream
    * aggregates read it); per-bucket token totals and per-word first
    * buckets derive from that table; the cumulative window runs over
    * the `nBuckets`-row report ONLY (bounded by the parameter, not
    * the corpus — the q92 bounded-table-window discipline). The max
    * id reaches the bucket expression as a broadcast one-row cross
    * join.
    */
  def heapsCurve(df: DataFrame, idCol: String, textCol: String,
                 nBuckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    val maxId = df.agg(max(col(idCol).cast("bigint")).as("__max"))
    val bw = Lineage.cut(df.select(col(idCol).cast("bigint").as("__id"),
        TextFns.tokens(col(textCol)).as("__w"))
      .crossJoin(broadcast(maxId))
      .select(expr(s"CAST(least($nBuckets - 1, " +
        s"(__id * $nBuckets) div (__max + 1)) AS BIGINT)").as("bucket"),
        explode(col("__w")).as("t"))
      .groupBy("bucket", "t").agg(count(lit(1)).as("__c")))
    val tokCounts = bw.groupBy("bucket").agg(sum("__c").as("n_tokens"))
    val newWords = bw.groupBy("t").agg(min("bucket").as("__fb"))
      .groupBy(col("__fb").as("bucket")).agg(count(lit(1)).as("n_new_words"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    tokCounts.join(newWords, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_words"), lit(0L)).as("n_new_words"))
      .withColumn("tokens_cum", sum("n_tokens").over(w))
      .withColumn("vocab_cum", sum("n_new_words").over(w))
  }

  /** Zipf rank-frequency report (Zipf 1949) — the companion to
    * [[heapsCurve]]: the top `k` words by corpus frequency with, per
    * rank, the Mitchell eighth-bit log-frequency DROP to the next
    * rank (a Zipfian corpus drops ≈ 8·log2((r+1)/r) e8 per rank; a
    * flat drop profile means boilerplate, a cliff means a
    * degenerate vocabulary). Integer end to end — the log is the
    * native Mitchell eighth-bit log over cnt·2²⁰ (cnt ≥ 1).
    *
    * Scale shape: ONE map-side-partial word count; the top-(k+1) is
    * the bounded-heap aggregate; the lead window runs over ≤ k+1
    * rows (bounded by the parameter, never the vocabulary).
    */
  def zipfReport(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 20): DataFrame = {
    import graft.plans.TopK
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k=$k must be positive")
    val counts = df.select(explode(TextFns.tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val top = counts
      .agg(TopK.top_k(struct(col("cnt"), col("t")), k + 1).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__row")))
      .select(col("__row.t").as("word"), col("__row.cnt").as("cnt"),
        (col("__pos") + 1).cast("bigint").as("rank"))
    val w = Window.orderBy("rank") // ≤ k+1 rows by construction
    top
      .withColumn("__m", MitchellE8(col("cnt") * lit(1L << LmShift)))
      .withColumn("drop_e8",
        (col("__m") - lead("__m", 1).over(w)).cast("bigint"))
      .where(col("rank") <= k)
      .select("rank", "word", "cnt", "drop_e8")
  }

  /** Triangle counting + local clustering coefficients over the word
    * co-occurrence graph — the third graph primitive next to
    * connected components (Dedup.nearDupClusters) and PageRank
    * ([[textRank]]): how CLIQUISH is each word's neighborhood
    * (cc = 2·triangles / deg·(deg−1), integer per-mille).
    *
    * The triangle join is the degree-ordered orientation of Suri &
    * Vassilvitskii 2011 ("Counting triangles and the curse of the
    * last reducer"): orient every edge toward the higher-(degree,
    * node) endpoint, generate wedges only at each triangle's unique
    * apex (the node with both out-edges), and close them against the
    * canonical edge set. Wedge volume is Σ outdeg² = O(E^1.5) instead
    * of the naive join's Σ deg² — the difference between a straggler
    * on the hottest word and an even shuffle at 100 TB. The oracle
    * twin runs the naive a<b<c triple join: same triangles, different
    * physical plan, which is the point.
    */
  def wordTriangles(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val bg = lmBigramRows(toks)
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .where(col("w1") =!= col("w2"))
    // canonical undirected simple edges (a < b) — vocab²-bounded and
    // consumed by degree + orientation + closure: cut lineage once
    val e = Lineage.cut(bg.select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .distinct())
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient toward the higher (degree, node) endpoint
    val oriented = Lineage.cut(e
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v")))
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.u") === col("o2.u") &&
        col("o1.v") < col("o2.v"))
      .select(col("o1.u").as("apex"),
        least(col("o1.v"), col("o2.v")).as("a"),
        greatest(col("o1.v"), col("o2.v")).as("b"))
    val tri = wedges.join(e, Seq("a", "b")) // closing edge exists
    val perNode = tri
      .select(explode(array(col("apex"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("word"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_x1000",
        when(col("degree") >= 2,
          expr("CAST((2000 * triangles) div (degree * (degree - 1)) AS BIGINT)"))
          .otherwise(lit(0L)))
  }

  /** Compression-ratio quality signal per document — the classic
    * repetitiveness detector web-corpus cleaning pipelines run
    * alongside the Gopher rules: boilerplate and template spam
    * deflate to a fraction of natural text's size, so
    * `1000·deflate(text)/bytes` separates them with one number
    * (very LOW ratios = repetitive; near-1000+ = high-entropy).
    * Flags `repetitive` below `minRatioX1000`. Map-only, one
    * codegen'd [[graft.functions.DeflateSize]] kernel per doc —
    * O(bytes) per row, embarrassingly parallel at any corpus size.
    * No SQL twin (the oracle engine has no zlib) — certified by the
    * known-plaintext spec instead, rows-only checked by the driver.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
                       minRatioX1000: Int = 300): DataFrame =
    df.select(col(idCol).as("id"),
        octet_length(col(textCol)).cast("bigint").as("n_bytes"),
        graft.functions.DeflateSize(col(textCol)).as("n_deflate"))
      .select(col("id"), col("n_bytes"), col("n_deflate"),
        expr("CAST((1000 * n_deflate) div greatest(n_bytes, 1) AS BIGINT)")
          .as("ratio_x1000"))
      .withColumn("repetitive", col("ratio_x1000") < minRatioX1000)

  /** k-core peel profile of the word co-occurrence graph (Seidman
    * 1983, "Network structure and minimum degree" — the degeneracy
    * decomposition): starting from [[wordTriangles]]' canonical
    * bigram edge set, each round drops every node whose degree fell
    * below `k` and every edge touching one, reporting (round,
    * surviving nodes, surviving edges) — the standard "dense
    * vocabulary core vs loose fringe" readout (a flat profile by
    * round R means the k-core converged; repeated rows SHOW the
    * fixpoint instead of hiding it). Exactly `rounds` peels run on
    * both engines, so the surface is well-defined and hash-equal
    * even before convergence.
    *
    * Scale shape: one bigram reduction from the corpus builds the
    * DISTINCT edge set — everything after is vocab²-bounded, never
    * corpus-proportional. The peel is the q139/CC driver-round
    * pattern: `rounds` is a small constant, each round one degree
    * aggregation + one semi-join on the (cut,
    * shrinking) edge table; counts are 1-row aggregates.
    */
  def kcorePeel(df: DataFrame, idCol: String, textCol: String,
                k: Int = 4, rounds: Int = 6): DataFrame = {
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val bg = lmBigramRows(toks)
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .where(col("w1") =!= col("w2"))
    var e = Lineage.cut(bg.select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .distinct())
    def degrees(ed: DataFrame) = ed.select(col("a").as("node"))
      .unionAll(ed.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val profile = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
    profile += ((0L, degrees(e).count(), e.count()))
    for (r <- 1 to rounds) {
      val alive = Lineage.cut(degrees(e).where(col("degree") >= k)
        .select(col("node")))
      e = Lineage.cut(e
        .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      profile += ((r.toLong, alive.count(), e.count()))
    }
    val spark = df.sparkSession
    import spark.implicits._
    profile.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  /** Chao1 vocabulary-richness estimate per group (Chao 1984, the
    * species-richness estimator ecology standardized on; corpus work
    * uses it to ask "how much vocabulary haven't we crawled yet"):
    * Ĉ = V + f1²/(2·f2) from the observed distinct count V, the
    * hapax count f1 (words seen once) and the dis legomena count f2
    * (seen twice) — exact integers, (1000·f1²) div (2·f2) per-mille
    * with the bias-corrected f1·(f1−1)/2 fallback when f2 = 0. Also
    * emits the Good–Turing unseen-mass estimate f1/N as per-mille
    * coverage gap. One (group, word) reduction → a frequency-of-
    * frequency fold — everything past the first reduction is
    * vocab-bounded.
    */
  def chao1Richness(df: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    counts.groupBy("g")
      .agg(count(lit(1)).as("v_obs"), sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("g").as(groupCol), col("n_tokens"), col("v_obs"),
        col("f1"), col("f2"),
        // Chao1 ×1000; f2=0 → the bias-corrected form f1(f1−1)/2
        // through DECIMAL(38): 1000·f1² overflows int64 once a group
        // holds ~10⁸ hapaxes
        expr("CAST(1000 * v_obs + CASE WHEN f2 > 0 " +
          "THEN (CAST(1000 AS DECIMAL(38,0)) * f1 * f1) div (2 * f2) " +
          "ELSE (CAST(1000 AS DECIMAL(38,0)) * f1 * (f1 - 1)) div 2 END " +
          "AS BIGINT)").as("chao1_x1000"),
        expr("CAST((1000 * f1) div greatest(n_tokens, 1) AS BIGINT)")
          .as("unseen_mass_x1000"))
  }

  /** Percolation — standing-query reverse search (the Elasticsearch
    * percolator shape): documents stream THROUGH a registered query
    * table instead of queries hitting an index. Each standing query
    * is (query_id, terms array, min_match); a document alerts on a
    * query when ≥ min_match of the query's DISTINCT terms appear in
    * its token set. Emits one alert row per (doc, query) match:
    * (id, query_id, n_matched, min_match, n_terms).
    *
    * Scale shape: the query table explodes to (term → query) postings
    * and BROADCASTS (standing queries are small by nature — an
    * alerting config, not a corpus); each doc then costs one
    * distinct-token explode + a broadcast join + one (doc, query)
    * count — map-side partial, no corpus shuffle. Per-doc stateless ⇒
    * the same operator percolates a batch corpus or each streaming
    * micro-batch inside `foreachBatch` (differential-specced).
    */
  def percolate(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, queryIdCol: String,
                termsCol: String, minMatchCol: String): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
        array_distinct(col(termsCol)).as("__ts"),
        col(minMatchCol).cast("bigint").as("min_match"))
      .withColumn("n_terms", size(col("__ts")).cast("bigint"))
    val postings = q.select(col("query_id"), col("min_match"),
      col("n_terms"), explode(col("__ts")).as("t"))
    docs.select(col(idCol).as("id"),
        explode(array_distinct(TextFns.tokens(col(textCol)))).as("t"))
      .join(broadcast(postings), Seq("t"))
      .groupBy("id", "query_id")
      .agg(count(lit(1)).as("n_matched"), max("min_match").as("min_match"),
        max("n_terms").as("n_terms"))
      .where(col("n_matched") >= col("min_match"))
      .select(col("id").as(idCol), col("query_id"), col("n_matched"),
        col("min_match"), col("n_terms"))
  }

  /** Shannon entropy of each group's word distribution, in exact
    * integer micro-bits: H = Σ (c/t)·log₂(t/c) evaluates as
    * (10⁶ · Σ c·(L(t) − L(c))) div (8·t) with L = [[log2E8Sql]] —
    * no probabilities ever materialize, only counts and their
    * eighth-bit logs, so the surface is exact across engines. The
    * canonical corpus statistic next to [[distinctNgramReport]]:
    * low entropy = templated/repetitive source, and entropy per
    * source is the one-number register fingerprint [[graft.ops
    * .Profile.jsDivergence]] compares pairwise. One (group, word)
    * reduction with map-side partials; groups-bounded report.
    */
  def tokenEntropy(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    val counts = df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("g")
      .agg(sum("c").as("t"), count(lit(1)).as("n_distinct"))
    counts.join(broadcast(tot), Seq("g"))
      .withColumn("__term", col("c") *
        (MitchellE8.log2E8(col("t")) - MitchellE8.log2E8(col("c"))))
      .groupBy("g")
      .agg(max("t").as("n_tokens"), max("n_distinct").as("n_distinct"),
        sum("__term").as("__s"))
      .select(col("g").as(groupCol), col("n_tokens"), col("n_distinct"),
        // through DECIMAL(38): 10⁶·Σterm exceeds int64 once a group
        // holds ~10¹² tokens
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * __s) " +
          "div (8 * n_tokens) AS BIGINT)").as("entropy_bits_x1e6"))
  }

  /** The RBO depth constants (d, 9^{d−1}, 10^{d−1}) as exact decimal
    * values — p = 9/10 kept as a RATIONAL so every p^{d−1} weight is
    * an exact integer fraction; shared by the operator's broadcast
    * depth table and the twin's VALUES literal list (same numbers,
    * zero drift).
    */
  def rboDepthConstants(k: Int): Seq[(Long, BigInt, BigInt)] =
    (1 to k).map(d =>
      (d.toLong, BigInt(9).pow(d - 1), BigInt(10).pow(d - 1)))

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010, p = 0.9)
    * between two top-k rankings — the standard top-weighted "how much
    * do two retrieval systems agree" score (Kendall's τ treats rank 1
    * and rank 100 swaps alike; RBO geometrically discounts depth).
    * Inputs are two (id, rank) tables with ranks 1..k; output is one
    * row per depth d: the overlap |A_d ∩ B_d|, the per-million
    * agreement overlap/d, and the truncated RBO@d =
    * (1−p)·Σ_{i≤d} p^{i−1}·(overlap_i/i), all exact integers — the
    * p powers stay rational (9^{i−1}/10^{i−1} through DECIMAL(38))
    * and each term floors identically in both engines.
    *
    * Scale shape: the rankings are k-row tables by construction
    * (whatever corpus-scale scoring produced them already reduced to
    * top-k), so everything here — the full-outer id join, the
    * broadcast depth×pairs filter, the cumulative window — runs on
    * O(k²) rows. The window is global BY DESIGN over the k-row depth
    * table (PlanAudit-ledgered).
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k=$k must be in [1, 100]")
    val spark = a.sparkSession
    val depths = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val rows = rboDepthConstants(k).map { case (d, p9, p10) =>
        Row(d, new java.math.BigDecimal(p9.bigInteger),
          new java.math.BigDecimal(p10.bigInteger))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("d", LongType),
          StructField("p9", DecimalType(38, 0)),
          StructField("p10", DecimalType(38, 0)))))
    }
    val pairs = a.select(col("id"), col("rank").as("ra"))
      .join(b.select(col("id"), col("rank").as("rb")), Seq("id"), "full_outer")
    val ov = broadcast(depths.select("d")).crossJoin(pairs)
      .where(col("ra") <= col("d") && col("rb") <= col("d"))
      .groupBy("d").agg(count(lit(1)).as("n_overlap"))
    depths.join(ov, Seq("d"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .withColumn("agreement_x1e6",
        expr("CAST((1000000 * n_overlap) div d AS BIGINT)"))
      .withColumn("__term",
        expr("CAST((CAST(1000000 * n_overlap AS DECIMAL(38,0)) * p9) " +
          "div (p10 * d) AS BIGINT)"))
      .withColumn("rbo_x1e6",
        expr("CAST(sum(__term) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW) div 10 AS BIGINT)"))
      .select(col("d"), col("n_overlap"), col("agreement_x1e6"),
        col("rbo_x1e6"))
  }

  /** Distinct-n diversity report (Li et al. 2016's distinct-1/-2,
    * the generation-diversity metric): per group, total and distinct
    * unigram/bigram counts with integer per-mille ratios — low
    * distinct-n = repetitive/templated text, the corpus-level
    * complement to the per-doc [[repetitionStats]]. Each n costs one
    * (group, gram) reduction (map-side partial) plus a group-keyed
    * count — the distinct count is NEVER a multi-countDistinct Expand
    * (the q110 lesson); the report is groups-bounded.
    */
  def distinctNgramReport(df: DataFrame, groupCol: String,
                          textCol: String): DataFrame = {
    def stats(n: Int, tot: String, dis: String, ratio: String): DataFrame = {
      val grams =
        if (n == 1) TextFns.tokens(col(textCol))
        else TextFns.shingles(col(textCol), n)
      val rows = df.select(col(groupCol).as("g"), explode(grams).as("t"))
      val totals = rows.groupBy("g").agg(count(lit(1)).as(tot))
      val distincts = rows.groupBy("g", "t").agg(count(lit(1)).as("__c"))
        .groupBy("g").agg(count(lit(1)).as(dis))
      totals.join(distincts, Seq("g"))
        .withColumn(ratio,
          expr(s"CAST((1000 * $dis) div greatest($tot, 1) AS BIGINT)"))
    }
    stats(1, "n_unigrams", "n_distinct_1", "distinct1_x1000")
      .join(stats(2, "n_bigrams", "n_distinct_2", "distinct2_x1000"), Seq("g"))
      .select(col("g").as(groupCol), col("n_unigrams"), col("n_distinct_1"),
        col("distinct1_x1000"), col("n_bigrams"), col("n_distinct_2"),
        col("distinct2_x1000"))
  }

  /** Eighth-bit integer log2 of a POSITIVE count expression:
    * m8(n·2^20) − 160 ≈ 8·log2(n) for n ≥ 1 — lifts [[mitchellE8Sql]]
    * (domain [2^20, 2^63)) onto plain counts so log-likelihood
    * statistics can be decomposed into per-count logs with every
    * argument ≥ 1 (no negative-log clamping). The DuckDB twin's form
    * and the specs' reference; Spark plans use the native
    * [[graft.functions.MitchellE8.log2E8]].
    */
  def log2E8Sql(nE: String, divOp: String = "div"): String =
    s"(${mitchellE8Sql(s"(($nE) * ${1L << LmShift})", divOp)} - ${8 * LmShift})"

  /** The Dunning G² sum over the four (word, class) contingency
    * cells, decomposed as Σ n·(L(n) + L(N) − L(r) − L(c)) with
    * L = [[log2E8Sql]] — zero cells contribute nothing (guarded
    * lazily), so every evaluated log argument is ≥ 1. Emitted in
    * eighth-bits ×2 (the G² doubling folded in). Expects columns
    * n11, df, n_class, n_total in scope. DuckDB spelling (`//`): only
    * the twin evaluates it; [[discriminativeWords]] builds the same
    * sum from the native log.
    */
  def dunningG2Sql(): String = {
    def L(e: String) = log2E8Sql(e, "//")
    def term(n: String, r: String, c: String) =
      s"(CASE WHEN ($n) > 0 THEN ($n) * (${L(n)} + ${L("n_total")} " +
        s"- ${L(r)} - ${L(c)}) ELSE 0 END)"
    val t11 = term("n11", "df", "n_class")
    val t10 = term("df - n11", "df", "n_total - n_class")
    val t01 = term("n_class - n11", "n_total - df", "n_class")
    val t00 = term("n_total - df - n_class + n11", "n_total - df",
      "n_total - n_class")
    s"CAST(2 * ($t11 + $t10 + $t01 + $t00) AS BIGINT)"
  }

  /** Per-class discriminative vocabulary by Dunning's log-likelihood
    * ratio (Dunning 1993, the collocation/keyness statistic corpus
    * linguistics standardized on — more reliable than χ² at the small
    * counts word statistics live in): for each (word, class), G² of
    * the 2×2 document-frequency contingency (docs in/out of the class
    * × containing/not containing the word), top-k per class. The χ²
    * alternative needs N·(ad−bc)² products that overflow any fixed
    * width at corpus scale; G² decomposes into per-count integer logs
    * ([[log2E8Sql]]) that never leave int64.
    *
    * Scale shape: one per-doc-distinct explode → (class, word)
    * counts with map-side partials; df folds off that table; class
    * counts and the scalar total broadcast; the ranking rides the
    * bounded-heap top-k. Nothing wider than (class, word) shuffles.
    */
  def discriminativeWords(df: DataFrame, idCol: String, textCol: String,
                          classCol: String, k: Int = 10): DataFrame = {
    val toks = df.select(col(classCol).as("lang"),
        col(idCol).as("__id"),
        explode(array_distinct(TextFns.tokens(col(textCol)))).as("word"))
    val n11t = toks.groupBy("lang", "word").agg(count(lit(1)).as("n11"))
    val dft = n11t.groupBy("word").agg(sum("n11").as("df"))
    val nc = df.groupBy(col(classCol).as("lang"))
      .agg(count(lit(1)).as("n_class"))
    val nTot = df.agg(count(lit(1)).as("n_total"))
    // G² over the native log: the SQL form inlines 16 CASE-ladder logs
    // (~2000 generated branches), which failed janino's 64 KB method
    // limit on exactly this projection and dropped the stage to
    // interpreted execution (r15). The twin keeps [[dunningG2Sql]].
    def lg(e: Column): Column = MitchellE8.log2E8(e)
    def term(n: Column, r: Column, c0: Column): Column =
      when(n > 0, n * (lg(n) + lg(col("n_total")) - lg(r) - lg(c0)))
        .otherwise(lit(0L))
    val g2 = (lit(2L) * (
      term(col("n11"), col("df"), col("n_class")) +
      term(col("df") - col("n11"), col("df"),
        col("n_total") - col("n_class")) +
      term(col("n_class") - col("n11"), col("n_total") - col("df"),
        col("n_class")) +
      term(col("n_total") - col("df") - col("n_class") + col("n11"),
        col("n_total") - col("df"), col("n_total") - col("n_class"))))
      .cast("bigint")
    val scored = n11t.join(dft, Seq("word"))
      .join(broadcast(nc), Seq("lang"))
      .crossJoin(broadcast(nTot))
      .withColumn("g2_e8", g2)
    graft.plans.TopK.topKPerKey(scored, Seq("lang"), col("g2_e8"),
        Seq(col("word"), col("n11"), col("df"), col("n_class")), k)
      .select(col("lang"), col("rn"), col("word"), col("n11"), col("df"),
        col("n_class"), col("g2_e8"))
  }

  /** BLEU-style modified n-gram precision (Papineni et al. 2002)
    * between candidate/reference document pairs — the generation-eval
    * staple, also the standard "how much of A is lifted from B"
    * overlap score next to Jaccard (order-sensitive via bigrams where
    * Jaccard is bag-blind). For each (id_a, id_b) pair and n ∈ {1, 2}:
    * clipped matches Σ_g min(cnt_a(g), cnt_b(g)), the candidate-side
    * total, and the integer per-million modified precision
    * (10⁶·clipped) div total — exact integers end to end, no floats
    * to drift (`p1_x1e6 = p2_x1e6 = 10⁶` ⟺ a is a sub-bag of b at
    * both orders).
    *
    * Scale shape: two corpus scans build the (id, gram, cnt) count
    * tables (map-side partial aggs on the 8-byte id + gram); each
    * pair then costs one probe of its two docs' gram rows — work
    * proportional to pairs × doc length, with the pair list bounded
    * by the caller's candidate generation (decontam matches, LSH
    * candidates, eval pairs — never all-pairs). No windows, no
    * driver state.
    */
  def ngramOverlapScores(pairs: DataFrame, docs: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    def counts(n: Int): DataFrame = {
      val toks =
        if (n == 1) TextFns.tokens(col(textCol))
        else TextFns.shingles(col(textCol), n)
      docs.select(col(idCol).as("__id"), explode(toks).as("g"))
        .groupBy("__id", "g").agg(count(lit(1)).as("c"))
    }
    def pairPrecision(n: Int, clip: String, tot: String,
                      prec: String): DataFrame = {
      val c = counts(n)
      pairs.select(col("id_a"), col("id_b"))
        .join(c.select(col("__id").as("id_a"), col("g"), col("c").as("ca")),
          Seq("id_a"))
        .join(c.select(col("__id").as("id_b"), col("g"), col("c").as("cb")),
          Seq("id_b", "g"), "left")
        .groupBy("id_a", "id_b")
        .agg(sum(least(col("ca"), coalesce(col("cb"), lit(0L)))).as(clip),
          sum(col("ca")).as(tot))
        .withColumn(prec,
          expr(s"CAST((1000000 * $clip) div greatest($tot, 1) AS BIGINT)"))
    }
    pairPrecision(1, "clip_1", "total_1", "p1_x1e6")
      .join(pairPrecision(2, "clip_2", "total_2", "p2_x1e6"),
        Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("clip_1"), col("total_1"),
        col("p1_x1e6"), col("clip_2"), col("total_2"), col("p2_x1e6"))
  }

  /** Gopher-style composite quality rules (Rae et al. 2021 §A.1.1) —
    * the classic pre-training quality gate, emitted as per-rule
    * booleans plus the conjunction, so a pipeline can both filter and
    * report WHY a document was cut:
    *
    *  - `ok_words`: word count in [minWords, maxWords];
    *  - `ok_mean_len`: mean word length in [3, 10] characters,
    *    cross-multiplied to exact integers (3·n ≤ non-ws chars ≤ 10·n);
    *  - `ok_symbols`: symbol-to-word ratio ('#' plus "..." hits) ≤ 0.1,
    *    as 10·symbols ≤ n;
    *  - `ok_stopwords`: at least `stopMin` of the 8-word Gopher stop
    *    list present;
    *  - `ok_dup`: repeated-word fraction 1 − distinct/total ≤ 0.6, as
    *    10·(n − distinct) ≤ 6·n.
    *
    * (Gopher's line-based rules — bullet/ellipsis line ratios — need a
    * multi-line corpus; the fixture text is single-line, and multiline
    * regex semantics differ across engines, so they are deliberately
    * out of the oracle surface.)
    *
    * Scale shape: ONE map-only projection — token array, char counts
    * via replace-length deltas, stopword hits via `array_contains` —
    * no explode, no shuffle, no HOF lambda; at 100 TB this is a pure
    * scan at parquet read speed.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  carry: Seq[String] = Seq.empty,
                  minWords: Long = 50, maxWords: Long = 100000,
                  stopMin: Int = 2): DataFrame = {
    val t = col(textCol)
    val w = TextFns.tokens(t)
    val base = df.select(col(idCol).as("__id") +: carry.map(col) :++
      gopherStatCols(t, w): _*)
    base.select(col("__id").as(idCol) +: carry.map(col) :+
      col("n_tokens") :++ gopherFlagCols(minWords, maxWords, stopMin): _*)
      .withColumn("keep", col("ok_words") && col("ok_mean_len") &&
        col("ok_symbols") && col("ok_stopwords") && col("ok_dup"))
  }

  /** The 8-word Gopher stop list — shared by [[gopherRules]] and
    * [[curationVerdict]].
    */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The per-row Gopher stat columns (token/char/symbol/stopword
    * counts) over (text, tokens) — ONE definition, so the fused
    * [[curationVerdict]] projection can never silently diverge from
    * [[gopherRules]]' audited gates (the r15 fusion inlined copies).
    */
  private def gopherStatCols(t: Column, w: Column): Seq[Column] = Seq(
    size(w).cast("bigint").as("n_tokens"),
    size(array_distinct(w)).cast("bigint").as("__nd"),
    length(regexp_replace(t, TextFns.WS_CLASS + "+", ""))
      .cast("bigint").as("__chars"),
    (length(t) - length(replace(t, lit("#"), lit(""))))
      .cast("bigint").as("__hash"),
    ((length(t) - length(replace(t, lit("..."), lit("")))) / 3)
      .cast("bigint").as("__ell"),
    GopherStops.map(s0 => when(array_contains(w, lit(s0)), 1L).otherwise(0L))
      .reduce(_ + _).as("__stops"))

  /** The five Gopher rule flags over [[gopherStatCols]]' columns —
    * the other half of the shared-definition discipline above.
    */
  private def gopherFlagCols(minWords: Long, maxWords: Long,
                             stopMin: Int): Seq[Column] = Seq(
    (col("n_tokens") >= minWords && col("n_tokens") <= maxWords)
      .as("ok_words"),
    (lit(3) * col("n_tokens") <= col("__chars") &&
      col("__chars") <= lit(10) * col("n_tokens")).as("ok_mean_len"),
    (lit(10) * (col("__hash") + col("__ell")) <= col("n_tokens"))
      .as("ok_symbols"),
    (col("__stops") >= stopMin).as("ok_stopwords"),
    (lit(10) * (col("n_tokens") - col("__nd")) <= lit(6) * col("n_tokens"))
      .as("ok_dup"))

  /** End-to-end curation verdict — the single keep/drop decision
    * table a pipeline owner actually ships, composing the audited
    * single-purpose gates: [[gopherRules]]' five quality checks,
    * PII presence ([[graft.functions.TextFns]] regex counts), the
    * [[blocklistGate]] term cap, and exact-duplicate LOSER marking
    * (md5 fingerprint, min-id winner — the q24 convention). Each
    * failed gate sets a bit in `reason_mask` (1 words / 2 mean-len /
    * 4 symbols / 8 stopwords / 16 intra-doc dup / 32 PII /
    * 64 blocklist / 128 exact-dup loser); `keep` = mask 0 — so the
    * drop ledger is queryable by reason, which is what a curation
    * review actually needs ("how much did the PII gate cost us").
    *
    * Scale shape (the r15 one-pass fusion): every gate is a per-row
    * computation, so all of them — the Gopher stats/flags (shared
    * definitions with [[gopherRules]]: [[gopherStatCols]] /
    * [[gopherFlagCols]], so the fused projection cannot diverge from
    * the audited operator), the PII regex counts, and the
    * token-delimited blocklist string arithmetic — fold into ONE
    * map-only projection over one scan; the exact-dup winner rides a
    * fingerprint-partitioned window over that projection, the only
    * exchange, carrying flags + fp, never text.
    */
  def curationVerdict(df: DataFrame, idCol: String, textCol: String,
                      carry: Seq[String] = Seq.empty,
                      minWords: Long = 50, maxWords: Long = 100000,
                      stopMin: Int = 2,
                      blockTerms: Seq[String] = Seq.empty,
                      maxBlockHits: Long = 0): DataFrame = {
    // ONE evaluation of the text column (r15): the four gates are all
    // per-row computations, so they fold into a single projection —
    // the old four-branch shape re-evaluated `df` once per gate and
    // re-joined the slim flag tables on id three times, which
    // quadruples the upstream work when the input is itself derived
    // (q354 re-ran the HTML synth + extract UDFs per branch). The
    // blocklist count is exact per-row string arithmetic instead of
    // the explode + broadcast-join + re-join: tokens joined with a
    // DOUBLE space (each occurrence then owns its flanking spaces, so
    // adjacent hits cannot overlap), lowercased once, and each term's
    // occurrences counted by length delta — token-exact, identical to
    // blocklistGate's per-token equality (multi-word terms match in
    // neither form). The dup gate's min-id winner rides a
    // fingerprint-partitioned window over the same projection — the
    // only exchange, carrying flags + fp, never text.
    val t = col(textCol)
    val w = TextFns.tokens(t)
    val js = concat(lit("  "), lower(array_join(w, "  ")), lit("  "))
    val nHits =
      if (blockTerms.isEmpty) lit(0L)
      else blockTerms.map(_.toLowerCase).distinct.map { term =>
        val p = s" $term "
        ((length(js) - length(replace(js, lit(p), lit("")))) /
          lit(p.length)).cast("bigint")
      }.reduce(_ + _)
    val row = df.select(col(idCol) +: carry.map(col) :++
      gopherStatCols(t, w) :+
      (TextFns.piiCount(t, TextFns.EMAIL_RE) +
        TextFns.piiCount(t, TextFns.SSN_RE) +
        TextFns.piiCount(t, TextFns.PHONE_RE)).as("__pii") :+
      nHits.as("n_hits") :+
      md5(t).as("__fp"): _*)
    row
      .select(col("*") +: gopherFlagCols(minWords, maxWords, stopMin): _*)
      .withColumn("__keep_id", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
      .withColumn("__loser", col(idCol) =!= col("__keep_id"))
      .withColumn("reason_mask",
        when(!col("ok_words"), 1L).otherwise(0L) +
          when(!col("ok_mean_len"), 2L).otherwise(0L) +
          when(!col("ok_symbols"), 4L).otherwise(0L) +
          when(!col("ok_stopwords"), 8L).otherwise(0L) +
          when(!col("ok_dup"), 16L).otherwise(0L) +
          when(col("__pii") > 0, 32L).otherwise(0L) +
          when(col("n_hits") > maxBlockHits, 64L).otherwise(0L) +
          when(col("__loser"), 128L).otherwise(0L))
      .select(col(idCol) +: carry.map(col) :+ col("n_tokens") :+
        col("reason_mask") :+ (col("reason_mask") === 0L).as("keep"): _*)
  }

  /** Hill tail-index estimator (Hill 1975) over the word-frequency
    * distribution — puts a NUMBER on the Zipf plot (q170): the
    * power-law exponent α̂ = k / Σᵢ₌₁..ₖ ln(xᵢ/x₍ₖ₊₁₎) over the top
    * k+1 frequencies. α near 1 = classic Zipf; larger = thinner
    * tail (vocabulary concentrating — a dedup/contamination smell).
    * Integer-exact: the log sum is Mitchell eighth-bits
    * (Σ(L(xᵢ)−L(x₍ₖ₊₁₎)), the k+1-th term is 0 so it sums over all
    * rows), ln2 enters once as the fixed rational 693147/10⁶.
    * One count reduction + a TakeOrdered top-(k+1); everything
    * after is (k+1)-row-bounded.
    */
  def hillTailIndex(docs: DataFrame, textCol: String,
                    k: Int = 50): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val counts = docs
      .select(explode(TextFns.tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val top = Lineage.cut(counts.orderBy(desc("c"), col("t")).limit(k + 1))
    val xk1 = top
      .agg(max(struct((-col("c")).as("nc"), col("t").as("tt"))).as("__b"))
      .select((-col("__b.nc")).as("xk1"))
    top.crossJoin(broadcast(xk1))
      .agg(count(lit(1)).as("__rows"), min("xk1").as("x_kplus1"),
        sum(MitchellE8.log2E8(col("c")) - MitchellE8.log2E8(col("xk1")))
          .as("__t"))
      .select(lit(k.toLong).as("k"), col("x_kplus1"),
        col("__t").cast("bigint").as("t_e8"),
        expr(s"CAST((8 * ${k}L * 1000000000) div " +
          "(693147 * greatest(__t, 1)) AS BIGINT)").as("alpha_x1000"))
  }

  /** TextTiling topic segmentation (Hearst CL 1997, the fixed-block
    * form): long documents rarely hold ONE topic, and chunking for
    * retrieval at fixed offsets cuts topics in half — this finds the
    * natural seams instead. Per document: tokens fall into
    * `blockTokens`-sized blocks; each adjacent-block gap scores
    * lexical cohesion as the exact ×1000 Jaccard of the blocks'
    * distinct token sets; the gap's DEPTH is how far cohesion dips
    * below both neighbors (Hearst's valley score, integers
    * throughout); a gap is a boundary when it dips (depth > 0) AND
    * sits below the document's mean cohesion (integer div). Output
    * one row per interior gap: (id, gap, coh_x1000, depth_x1000,
    * is_boundary).
    *
    * Scale shape: one posexplode scan; the distinct/count/adjacent
    * joins all shuffle on (doc, block); the lag/lead/mean windows
    * partition BY DOCUMENT over its block list — never a global
    * window, never more than blocks-per-doc rows per partition key.
    */
  def textTiling(docs: DataFrame, idCol: String, textCol: String,
                 blockTokens: Int = 20): DataFrame = {
    require(blockTokens >= 1, s"blockTokens=$blockTokens must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // ONE pass (r15): the old shape materialized the distinct
    // (id, blk, token) table and consumed it three times (sizes ×2 +
    // a blk/blk−1 self-join), recomputing the tokenize+explode+distinct
    // subtree per branch. Block token SETS collapse all of it: one
    // explode → collect_set per (id, blk) — the distinct — then a lead
    // window by id pairs each block with its successor and
    // array_intersect counts the common vocabulary natively. Blocks
    // are contiguous by construction (pos div blockTokens), so
    // lead(blk) is always blk+1 where it exists; same (na, nb, ix)
    // and identical coh values.
    val wBlk = Window.partitionBy("id").orderBy("blk")
    val coh = docs
      .select(col(idCol).as("id"),
        posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "t")))
      .select(col("id"), expr(s"CAST(pos div $blockTokens AS BIGINT)")
        .as("blk"), col("t"))
      .groupBy("id", "blk").agg(collect_set(col("t")).as("ts"))
      .withColumn("nx", lead("ts", 1).over(wBlk))
      .where(col("nx").isNotNull)
      .select(col("id"), col("blk").as("gap"),
        size(col("ts")).cast("bigint").as("na"),
        size(col("nx")).cast("bigint").as("nb"),
        size(array_intersect(col("ts"), col("nx"))).cast("bigint").as("ix"))
      .select(col("id"), col("gap"),
        expr("CAST((1000 * ix) div (na + nb - ix) AS BIGINT)")
          .as("coh_x1000"))
    val w = Window.partitionBy("id").orderBy("gap")
    coh
      .select(col("id"), col("gap"), col("coh_x1000"),
        coalesce(lag("coh_x1000", 1).over(w), col("coh_x1000")).as("cl"),
        coalesce(lead("coh_x1000", 1).over(w), col("coh_x1000")).as("cr"),
        sum("coh_x1000").over(Window.partitionBy("id")).as("cs"),
        count(lit(1)).over(Window.partitionBy("id")).as("cn"))
      .select(col("id").as(idCol), col("gap"), col("coh_x1000"),
        expr("greatest(cl - coh_x1000, CAST(0 AS BIGINT)) + " +
          "greatest(cr - coh_x1000, CAST(0 AS BIGINT))").as("depth_x1000"),
        expr("(greatest(cl - coh_x1000, CAST(0 AS BIGINT)) + " +
          "greatest(cr - coh_x1000, CAST(0 AS BIGINT))) > 0 " +
          "AND coh_x1000 < (cs div cn)").as("is_boundary"))
  }

  /** Pairwise TF-IDF cosine between group vocab vectors — the
    * WEIGHTED companion to [[vocabJaccard]]'s set overlap: each
    * group becomes a vocabulary vector with components
    * tf(g, w) · idf_e8(w), idf in eighth-bit integer log2
    * (L(n_groups + 1) − L(df(w)) — a word in every group still gets
    * a small positive weight), and every ordered group pair gets the
    * cosine ×10⁶ (the q239 convention: exact integer dot and squared
    * norms through DECIMAL(38), ONE final float rounding). Zero-norm
    * groups report 0; pairs sharing NO vocabulary have no row (their
    * cosine is 0 by definition — the inner word join IS the
    * sparse-dot-product optimization).
    *
    * Scale shape: one (group, word) count reduction (vocab ×
    * groups-bounded), a word-keyed pair join, groups²-bounded
    * output; the ONE-row group count broadcasts into the idf.
    */
  def sourceTfidfCosine(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val tf = Lineage.cut(df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy("g", "w").agg(count(lit(1)).as("tf")))
    val dfw = tf.groupBy("w").agg(count(lit(1)).as("dfw"))
    val ng = tf.select("g").distinct().agg(count(lit(1)).as("ng"))
    val wgt = tf.join(dfw, "w").crossJoin(broadcast(ng))
      .withColumn("wt", col("tf") * (MitchellE8.log2E8(col("ng") + 1) -
        MitchellE8.log2E8(col("dfw"))))
    val norms = wgt.groupBy("g")
      .agg(sum(expr("CAST(wt AS DECIMAL(38,0)) * wt")).as("n2"))
    val dots = wgt.select(col("g").as("ga"), col("w"), col("wt").as("wa"))
      .join(wgt.select(col("g").as("gb"), col("w"), col("wt").as("wb")), "w")
      .where(col("ga") < col("gb"))
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("CAST(wa AS DECIMAL(38,0)) * wb")).as("dot"))
    dots
      .join(norms.select(col("g").as("ga"), col("n2").as("na2")), Seq("ga"))
      .join(norms.select(col("g").as("gb"), col("n2").as("nb2")), Seq("gb"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_common"),
        expr("CASE WHEN na2 = 0 OR nb2 = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(round(CAST(dot AS DOUBLE) * 1000000 / " +
          "(sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))) " +
          "AS BIGINT) END").as("cos_x1e6"))
  }

  /** Per-group character-class composition: letter / digit /
    * whitespace / ASCII-punctuation / other counts and exact ppm
    * shares, plus how many docs contain ANY out-of-class ("other")
    * character — the mixed-script / mojibake screen a multilingual
    * corpus runs before trusting `lang` labels (non-ASCII bytes in a
    * claims-English doc are the classic encoding-corruption tell).
    * Counting is subtractive (`length(x) − length(regexp_replace(x,
    * class, ''))`) with the engine-pinned [[TextFns.PUNCT_CLASS]] /
    * [[TextFns.WS_CLASS]] classes, so the Spark and RE2 regex
    * dialects cannot drift.
    *
    * Scale shape: map-only per-doc counting inside codegen, ONE
    * group-keyed partial aggregation — nothing wider than the five
    * counters shuffles.
    */
  def charClassProfile(df: DataFrame, groupCol: String,
                       textCol: String): DataFrame = {
    def cnt(cls: String): org.apache.spark.sql.Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), cls + "+", ""))).cast("bigint")
    val letters = cnt("[A-Za-z]")
    val digits = cnt("[0-9]")
    val spaces = cnt(TextFns.WS_CLASS)
    val puncts = cnt(TextFns.PUNCT_CLASS)
    val other = length(col(textCol)).cast("bigint") - letters - digits -
      spaces - puncts
    df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("bigint")).as("n_chars"),
        sum(letters).as("n_letter"), sum(digits).as("n_digit"),
        sum(spaces).as("n_space"), sum(puncts).as("n_punct"),
        sum(other).as("n_other"),
        sum(when(other > 0, 1L).otherwise(0L)).as("docs_with_other"))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_chars"),
        col("n_letter"), col("n_digit"), col("n_space"), col("n_punct"),
        col("n_other"),
        expr("CAST((1000000 * n_letter) div greatest(n_chars, 1) AS BIGINT)")
          .as("letter_ppm"),
        expr("CAST((1000000 * n_other) div greatest(n_chars, 1) AS BIGINT)")
          .as("other_ppm"),
        col("docs_with_other"))
  }

  /** Per-group readability report — Flesch Reading Ease and
    * Flesch–Kincaid grade (Kincaid et al. 1975) with the standard
    * deterministic proxies: sentences = maximal `[.!?]+` runs
    * (min 1), syllables = maximal vowel-group runs `[aeiouy]+` on the
    * lowercased text. Per-doc scores are integer-exact milli-units
    * (FRE·1000 = 206835 − (1015·W) div S − (84600·Y) div W; grade
    * ·1000 = (390·W) div S + (11800·Y) div W − 15590), group scores
    * are the integer mean. Empty docs (0 words) are excluded and
    * counted.
    *
    * Scale shape: map-only per-doc regex counting, ONE group-keyed
    * partial aggregation.
    */
  def readability(df: DataFrame, groupCol: String,
                  textCol: String): DataFrame = {
    val scored = df.select(col(groupCol).as("grp"),
        TextFns.tokenCount(col(textCol)).as("w"),
        greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
          .cast("bigint").as("s"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
          .cast("bigint").as("y"))
    val perDoc = scored.where(col("w") > 0)
      .select(col("grp"),
        expr("206835 - (1015 * w) div s - (84600 * y) div w").as("fre"),
        expr("(390 * w) div s + (11800 * y) div w - 15590").as("fk"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        sum("fre").as("sf"), sum("fk").as("sk"))
    val empties = scored.groupBy("grp")
      .agg(sum(when(col("w") === 0, 1L).otherwise(0L)).as("n_empty"))
    perDoc.join(empties, Seq("grp"), "right")
      .na.fill(0L, Seq("n_docs"))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_empty"),
        expr("CAST(CASE WHEN n_docs = 0 THEN 0 ELSE sf div n_docs END " +
          "AS BIGINT)").as("avg_fre_x1000"),
        expr("CAST(CASE WHEN n_docs = 0 THEN 0 ELSE sk div n_docs END " +
          "AS BIGINT)").as("avg_fk_grade_x1000"))
  }

  /** Corpus-driven exact phrase search: the `topN` bigrams by
    * document frequency (ties broken by phrase string) become the
    * query set, and every document containing a query phrase as an
    * ADJACENT token pair is returned with its occurrence count —
    * capped at `docCap` docs per phrase (lowest doc ids) so a stop-
    * phrase cannot blow up the output. The n-gram-index form of
    * "grep the corpus for a phrase list": candidates come from an
    * equality join on the bigram key, never from running `instr`
    * over every (doc, phrase) pair.
    *
    * Scale shape: ONE tokenize+shingle explode (docs with ≥2 tokens),
    * a (bigram, doc) count aggregation, a vocabulary-bounded
    * doc-frequency aggregation with a bounded-heap global top-N, and
    * a broadcast join of the N-row phrase list back onto the bigram
    * postings — output bounded by N × docCap.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   topN: Int = 5, docCap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posts = df.select(col(idCol).as("id"), col(textCol).as("tx"))
      .where(TextFns.tokenCount(col("tx")) >= 2)
      .select(col("id"), explode(TextFns.shingles(col("tx"), 2)).as("phrase"))
      .groupBy("phrase", "id").agg(count(lit(1)).as("n_hits"))
    val top = posts.groupBy("phrase")
      .agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("phrase"))
      .limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("df"), col("phrase")))
          .cast("bigint"))
    val wDoc = Window.partitionBy("phrase").orderBy("id")
    posts.join(broadcast(top), Seq("phrase"))
      .withColumn("rn", row_number().over(wDoc))
      .where(col("rn") <= docCap)
      .select(col("rank"), col("phrase"), col("df"),
        col("id").as(idCol), col("n_hits"))
  }

  /** Community detection on the word co-occurrence graph by
    * SYNCHRONOUS label propagation (Raghavan et al. 2007, made
    * deterministic): every word starts labeled with itself; each of
    * the `iters` rounds relabels every node with the label carrying
    * the largest total edge weight among its neighbors, ties broken
    * by the lexicographically smallest label — no randomness, so
    * both engines converge identically. Each node also casts a UNIT
    * vote for its own current label: the deterministic retention
    * vote that keeps the 2-cycle oscillation synchronous LPA is
    * known for (the documented caveat of Spark GraphX's
    * `LabelPropagation`) from spreading through tie-heavy
    * neighborhoods; isolated dyads can still alternate, so an even
    * `iters` reports a fixed point of the 2-step map. The report is
    * the topK
    * communities by size with exact NEWMAN MODULARITY of the final
    * partition: Q·m2² = Σ_c (intra_c·m2 − d_c²) over the directed
    * double-counted edge weights — integer-exact in DECIMAL(38),
    * emitted ×10⁶ with a sign-symmetric division (Q can be
    * negative; no negative integer division exists anywhere).
    *
    * Scale shape: the corpus is touched ONCE (the [[textRank]]
    * bigram explode + count); every round is one node-keyed join +
    * aggregation over the vocab²-bounded edge table
    * (cut — `iters`+2 consumers re-read it), with the
    * per-node argmax window over the per-node candidate-label table
    * (bounded by degree). The modularity scalars are one-row
    * broadcasts; output is a bounded heap (topK by parameter).
    */
  def labelPropCommunities(df: DataFrame, idCol: String,
                           textCol: String, iters: Int = 4,
                           topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val bg = lmBigramRows(toks)
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .where(col("w1") =!= col("w2"))
    val dir = bg.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(bg.select(col("w2").as("src"), col("w1").as("dst")))
    // vocab²-bounded, re-read every round — cut lineage once
    val edges = Lineage.cut(dir.groupBy("src", "dst").agg(count(lit(1)).as("w")))
    var lab = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    for (round <- 1 to iters) {
      val nbr = edges
        .join(lab.select(col("node").as("src"), col("lab")), "src")
        .select(col("dst"), col("lab"), col("w"))
      val self = lab.select(col("node").as("dst"), col("lab"),
        lit(1L).as("w"))
      // r15, two changes per round: (1) the winning label is an argmax
      // — min(struct(−s, lab)) picks (max s, tie min lab) exactly like
      // the old row_number window over (desc s, asc lab) but as a hash
      // aggregation instead of a full sort+window pass; (2) cut the
      // lineage per round — each round consumes the prior label table
      // TWICE (neighbor join + self vote), and the table is
      // vocab-bounded, the same class as the cut edges above. Round
      // k−1's table is RELEASED once round k is materialized, so a
      // long run holds one round's table, not one per round.
      val prev = lab
      lab = Lineage.cut(nbr.unionAll(self)
        .groupBy("dst", "lab").agg(sum("w").as("s"))
        .groupBy("dst")
        .agg(min(struct((-col("s")).as("ns"), col("lab").as("lab")))
          .as("__b"))
        .select(col("dst").as("node"), col("__b.lab").as("lab")))
      if (round > 1) Lineage.release(prev)
    }
    // the loop's last table is already an eager cut — re-checkpointing
    // it (the r15 shape) only duplicated its blocks; the iters = 0
    // corner still cuts, because three consumers re-read labF
    val labF = if (iters >= 1) lab else Lineage.cut(lab)
    val com = labF.groupBy("lab").agg(count(lit(1)).as("n_words"))
    val intra = edges
      .join(labF.select(col("node").as("src"), col("lab").as("lab_s")),
        "src")
      .join(labF.select(col("node").as("dst"), col("lab").as("lab_d")),
        "dst")
      .where(col("lab_s") === col("lab_d"))
      .select(col("lab_s").as("lab"), col("w"))
      .groupBy("lab").agg(sum("w").as("intra_w"))
    val degc = edges.groupBy("src").agg(sum("w").as("wdeg"))
      .join(labF.select(col("node").as("src"), col("lab")), "src")
      .groupBy("lab").agg(sum("wdeg").as("deg_w"))
    val m2 = edges.agg(sum("w").as("m2"))
    val perC = com
      .join(intra, Seq("lab"), "left")
      .join(degc, Seq("lab"))
      .select(col("lab"), col("n_words"),
        coalesce(col("intra_w"), lit(0L)).as("intra_w"), col("deg_w"))
    val qrow = perC.crossJoin(broadcast(m2))
      .agg(sum(expr("CAST(intra_w AS DECIMAL(38,0)) * m2 - " +
        "CAST(deg_w AS DECIMAL(38,0)) * deg_w")).as("qn"),
        max("m2").as("m2x"))
      .select(expr("CAST(CASE WHEN qn >= 0 " +
        "THEN (1000000 * qn) div (CAST(m2x AS DECIMAL(38,0)) * m2x) " +
        "ELSE -((1000000 * (-qn)) div (CAST(m2x AS DECIMAL(38,0)) * m2x)) " +
        "END AS BIGINT)").as("modularity_x1e6"))
    perC.crossJoin(broadcast(qrow))
      .orderBy(desc("n_words"), col("lab"))
      .limit(topK)
      .select(col("lab").as("community"), col("n_words"),
        col("intra_w"), col("deg_w"), col("modularity_x1e6"))
  }

  /** Worst-surprisal span per document: the position window whose
    * summed bigram surprisal (under the corpus LM, [[lmSurprisal]]'s
    * model) is highest — q106 scores the DOCUMENT, this finds WHERE
    * it goes wrong, the quality analog of q80's duplicated-span
    * localization (Lee et al.'s span discipline applied to the
    * garbled-section problem: a good document with one mojibake
    * paragraph should lose the paragraph, not the document). Emits
    * per doc the span's end position, its summed surprisal and the
    * doc's bigram count; docs shorter than the window carry no full
    * span and are omitted. Integer end to end; ties break to the
    * earliest position via a rank window.
    *
    * Scale shape: the LM join is q106's (the only corpus stage);
    * the span sum and the argmax rank are windows PARTITIONED BY
    * document — a 10⁹-bigram doc costs its own partition only.
    */
  def surprisalSpans(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 8): DataFrame =
    surprisalSpansUnderModel(df, idCol, textCol,
      lmTrain(df, idCol, textCol), window)

  /** [[surprisalSpans]] against a FIXED (possibly persisted) model —
    * the streaming form: the span extraction is doc-local (the
    * windows partition by document), so a foreachBatch scoring each
    * micro-batch against yesterday's corpus model emits spans
    * bit-identical to the batch operator over the same docs (the
    * q111/q172 persisted-index pattern; differential-specced).
    */
  def surprisalSpansUnderModel(df: DataFrame, idCol: String,
                               textCol: String, model: LmModel,
                               window: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 2, s"window=$window must be >= 2")
    val toks = lmToks(df, idCol, textCol, Seq.empty)
    val bg = toks.where(size(col("w")) >= 2)
      .select(col("__id"),
        posexplode(TextFns.shingles(col("__text"), 2)).as(Seq("pos", "bg")))
      .select(col("__id"), col("pos"),
        substring_index(col("bg"), " ", 1).as("w1"), col("bg"))
    val c2 = model.bigrams.select(col("bg"), col("c2"))
    val c1 = model.bigrams.groupBy("w1").agg(sum("c2").as("c1"))
    val v = model.vocab.agg(count(lit(1)).as("v"))
    val scored = bg
      .join(c2, Seq("bg"), "left").na.fill(0L, Seq("c2"))
      .join(c1, Seq("w1"), "left").na.fill(0L, Seq("c1"))
      .crossJoin(broadcast(v))
      .withColumn("e8", lmSurprisalE8)
    val ws = Window.partitionBy("__id").orderBy("pos")
      .rowsBetween(-(window - 1), 0)
    val wr = Window.partitionBy("__id")
      .orderBy(desc("win_e8"), col("pos"))
    scored
      .withColumn("win_e8", sum("e8").over(ws))
      .withColumn("win_n", count(lit(1)).over(ws))
      .withColumn("n_bigrams",
        count(lit(1)).over(Window.partitionBy("__id")))
      .where(col("win_n") === window)
      .withColumn("rk", row_number().over(wr))
      .where(col("rk") === 1)
      .select(col("__id").as(idCol), col("n_bigrams"),
        col("pos").cast("bigint").as("span_end_pos"),
        col("win_e8").cast("bigint").as("span_e8"))
  }

  /** Pairwise LM cross-perplexity matrix: for every ordered source
    * pair (a, b), source a's bigram stream scored under source b's
    * add-one-smoothed bigram LM — "how surprised is b's model by a's
    * text", the DIRECTIONAL domain-transfer distance (cf. the
    * cross-entropy data-selection lens of Moore & Lewis 2010) that
    * the symmetric q185 JSD and q238 vocabulary Jaccard can't give:
    * legal text is predictable under a web model's smoothing mass,
    * web text under a legal model is not, and the asymmetry IS the
    * signal. The diagonal reproduces each source's self-surprisal.
    * Same integer discipline as [[lmScore]]: q = ((c1_b + V_b) <<
    * SHIFT) div (c2_b + 1) through the shared Mitchell-log emitter,
    * per-source vocab as the smoothing denominator (a per-source
    * [[lmTrain]], exactly).
    *
    * Scale shape: ONE (source, w1, bigram) count reduction is the
    * only corpus stage (every model table and the scoring grid
    * derive from its checkpoint); the scoring grid is bigram-TYPES ×
    * S (the per-occurrence stream folds to type counts first — the
    * score is linear in the count), with the S-row source list and
    * per-source vocab broadcast.
    */
  def lmCrossPerplexity(df: DataFrame, idCol: String, groupCol: String,
                        textCol: String): DataFrame = {
    val toks = lmToks(df, idCol, textCol, Seq(groupCol))
    // feeds the grid + both model tables
    val aCounts = Lineage.cut(toks.where(size(col("w")) >= 2)
      .select(col(groupCol).as("ga"),
        explode(TextFns.shingles(col("__text"), 2)).as("bg"))
      .select(col("ga"), substring_index(col("bg"), " ", 1).as("w1"),
        col("bg"))
      .groupBy("ga", "w1", "bg").agg(count(lit(1)).as("ca")))
    val c2 = aCounts.select(col("ga").as("gb"), col("bg"),
      col("ca").as("c2"))
    val c1 = aCounts.groupBy(col("ga").as("gb"), col("w1"))
      .agg(sum("ca").as("c1"))
    val vb = toks.select(col(groupCol).as("gb"), explode(col("w")).as("t"))
      .distinct().groupBy("gb").agg(count(lit(1)).as("v"))
    val groups = aCounts.select(col("ga").as("gb")).distinct()
    aCounts
      .crossJoin(broadcast(groups))
      .join(c2, Seq("gb", "bg"), "left").na.fill(0L, Seq("c2"))
      .join(c1, Seq("gb", "w1"), "left").na.fill(0L, Seq("c1"))
      .join(broadcast(vb), Seq("gb"))
      .withColumn("e8", lmSurprisalE8)
      .groupBy(col("ga").as("group_a"), col("gb").as("group_b"))
      .agg(sum("ca").as("n_bigrams"), sum(col("ca") * col("e8")).as("cross_e8"))
      .select(col("group_a"), col("group_b"),
        col("n_bigrams").cast("bigint").as("n_bigrams"),
        col("cross_e8").cast("bigint").as("cross_e8"),
        expr("CAST(cross_e8 div greatest(n_bigrams, 1) AS BIGINT)")
          .as("avg_e8"))
  }

  /** Burrows' Delta stylometric distance between sources (Burrows
    * 2002): over the corpus's k most frequent words, each source's
    * usage rate standardizes to a z-score against the across-source
    * mean and deviation of that word, and Delta(a,b) is the mean
    * |z_a − z_b| — the classical authorship-attribution distance,
    * deliberately built on FUNCTION words (the top-k by corpus
    * frequency) so it reads style, not topic: the third between-
    * source lens after q255's TF-IDF topic cosine and q185's JSD.
    * Integer end to end: ppm rates, population variance via the
    * common-denominator form (S·Σr² − (Σr)²)/S², floor(√) on exact
    * integers (the q304 idiom), sign-symmetric z ×1000.
    *
    * Scale shape: one (source, word) count reduction; the top-k
    * vocabulary comes off a bounded heap, and every stage after runs
    * on the (S × k) grid.
    */
  def burrowsDelta(df: DataFrame, groupCol: String, textCol: String,
                   k: Int = 50): DataFrame = {
    import graft.plans.TopK
    require(k >= 1, s"k=$k must be positive")
    // feeds totals, top-k and the rate grid
    val wc = Lineage.cut(df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy("g", "t").agg(count(lit(1)).as("c")))
    val top = wc.groupBy("t").agg(sum("c").as("tc"))
      .agg(TopK.top_k(struct(col("tc"), col("t")), k).as("__top"))
      .select(explode(col("__top")).as("__row"))
      .select(col("__row.t").as("t"))
    val nG = wc.groupBy("g").agg(sum("c").as("n"))
    // (S × k) rates feed the stats and both z sides
    val grid = Lineage.cut(nG.crossJoin(broadcast(top))
      .join(wc, Seq("g", "t"), "left")
      .select(col("g"), col("t"),
        expr("CAST((1000000 * CAST(coalesce(c, 0) AS DECIMAL(38,0))) " +
          "div greatest(n, 1) AS BIGINT)").as("r")))
    // per-word across-source moments: r ≤ 10⁶ so S·Σr² stays BIGINT
    val z = grid.join(
        grid.groupBy("t").agg(count(lit(1)).as("s"), sum("r").as("sr"),
            sum(expr("r * r")).as("srr"))
          .select(col("t"), expr("CAST(sr div s AS BIGINT)").as("mu"),
            // DECIMAL cross-products: S·Σr² and (Σr)² pass 2⁶³ once
            // the source count does ~10⁴; the variance itself is
            // ≤ 10¹² so the sqrt runs on an exact double
            expr("CAST(floor(sqrt(CAST((CAST(s AS DECIMAL(38,0)) * srr " +
              "- CAST(sr AS DECIMAL(38,0)) * sr) div " +
              "(CAST(s AS DECIMAL(38,0)) * s) AS DOUBLE))) AS BIGINT)")
              .as("sd")),
        Seq("t"))
      .select(col("g"), col("t"),
        expr("CASE WHEN r >= mu THEN (1000 * (r - mu)) div greatest(sd, 1) " +
          "ELSE -((1000 * (mu - r)) div greatest(sd, 1)) END").as("z"))
    val a = z.select(col("g").as("group_a"), col("t"), col("z").as("za"))
    val b = z.select(col("g").as("group_b"), col("t"), col("z").as("zb"))
    a.join(b, Seq("t"))
      .where(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("n_words"),
        sum(expr("abs(za - zb)")).as("__sd"))
      .select(col("group_a"), col("group_b"), col("n_words"),
        expr("CAST(__sd div n_words AS BIGINT)").as("delta_x1000"))
  }

  /** Simple Good–Turing unseen-mass estimate per group (Good 1953;
    * Gale & Sampson 1995): from the frequency-of-frequencies table,
    * P₀ = N₁/N is the probability mass the corpus has NEVER seen —
    * the "how much of this language is still missing" number that
    * tells a data-curation loop whether another crawl of the same
    * source can still buy vocabulary (the predictive rendering of
    * q165's Heaps curve). Also emits the smoothed singleton count
    * r*₁ = 2·N₂/N₁ (the Turing estimate of a once-seen word's true
    * frequency — r*₁ ≪ 1 means singletons are mostly noise/typos,
    * r*₁ near 1 means genuine thin coverage). Exact integer ppm.
    *
    * Scale shape: one (group, word) reduction with map-side partials,
    * collapsed to the (groups × distinct-frequencies) table, then a
    * one-row-per-group fold — the shuffle carries words, never rows.
    */
  def goodTuring(df: DataFrame, groupCol: String,
                 textCol: String): DataFrame = {
    val wc = df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy("g", "t").agg(count(lit(1)).as("r"))
    val fof = wc.groupBy("g", "r").agg(count(lit(1)).as("nr"))
    fof.groupBy("g").agg(
        sum(expr("r * nr")).as("n"), sum("nr").as("vocab"),
        coalesce(sum(when(col("r") === 1L, col("nr"))), lit(0L)).as("n1"),
        coalesce(sum(when(col("r") === 2L, col("nr"))), lit(0L)).as("n2"))
      .select(col("g").as(groupCol), col("n").cast("bigint").as("n_tokens"),
        col("vocab"), col("n1").cast("bigint").as("n1"),
        col("n2").cast("bigint").as("n2"),
        expr("CAST((1000000 * CAST(n1 AS DECIMAL(38,0))) div " +
          "greatest(n, 1) AS BIGINT)").as("p0_ppm"),
        expr("CAST((2000 * CAST(n2 AS DECIMAL(38,0))) div " +
          "greatest(n1, 1) AS BIGINT)").as("r1_star_x1000"))
  }

  /** Yule's characteristic K per group (Yule 1944): the classic
    * lexical-repetitiveness constant K = 10⁴·(Σᵣ r²·Nᵣ − N)/N² —
    * the word-level analog of Simpson concentration, INDEPENDENT of
    * text length in a way type-token ratios are not (TTR falls with
    * corpus size by Heaps' law; K does not), so two sources of very
    * different volumes compare honestly. Σ r²·Nᵣ is just Σ cnt² over
    * the word-count table, so the whole statistic is one reduction.
    * Emitted ×100 (i.e. 10⁶·(m₂−N)/N²) exact integer.
    */
  def yuleK(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val wc = df.select(col(groupCol).as("g"),
        explode(TextFns.tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .groupBy("g", "t").agg(count(lit(1)).as("cnt"))
    wc.groupBy("g").agg(count(lit(1)).as("vocab"),
        sum("cnt").as("n"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("m2"))
      .select(col("g").as(groupCol), col("n").cast("bigint").as("n_tokens"),
        col("vocab"),
        expr("CAST((1000000 * (m2 - n)) div " +
          "greatest(CAST(n AS DECIMAL(38,0)) * n, 1) AS BIGINT)")
          .as("yule_k_x100"))
  }

  /** Template-boilerplate screen: per group, the first-k-token and
    * last-k-token grams shared by ≥ `minDocs` documents — the
    * header/footer detector a web-corpus pipeline runs before
    * training (CCNet/RefinedWeb strip such repeated page furniture;
    * this is the discovery report that tells you WHAT to strip and
    * how much of each source it covers). A gram repeated verbatim
    * across many docs of one source is template, not content — the
    * document-level complement to q119's intra-doc repetition and
    * q80's cross-doc span dedup. `share_ppm` = docs carrying the
    * gram over the group's doc count, exact integer.
    *
    * Scale shape: ONE scan computes both edge grams per doc
    * (map-only slice of the token array — no explode), then one
    * (group, kind, gram) count reduction and a broadcast of the
    * group-total table; the ≥ minDocs filter prunes the long tail
    * before anything else consumes it.
    */
  /** Line-frequency table for [[lineDedup]]: each distinct LINE with
    * its document frequency — the corpus-global half, reusable as a
    * frozen artifact by the probe half (the q172/q193
    * persisted-index convention: build once, probe per batch).
    */
  def lineFrequencies(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(split(col(textCol), "\n")).as("line"))
      .groupBy("line").agg(countDistinct(col("__id")).as("line_df"))

  /** The probe half of [[lineDedup]]: clean each document against a
    * GIVEN line-frequency table — map-only per doc once the (line,
    * line_df) pairs are joined in, so a streaming crawl can clean
    * micro-batches against frozen corpus counts bit-identically to
    * the batch operator over the same docs.
    */
  def lineDedupAgainst(docs: DataFrame, idCol: String, textCol: String,
                       lineDf: DataFrame,
                       maxDocFreq: Long = 2L): DataFrame = {
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "line")))
    lines.join(lineDf, Seq("line"), "left")
      .withColumn("__df", coalesce(col("line_df"), lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__df") <= maxDocFreq, 1L).otherwise(0L))
          .as("n_lines_kept"),
        // kept lines re-joined in position order; collect_list drops
        // the when()'s nulls, and the per-doc array is line-count
        // bounded, so the HOF pair runs on a tiny interpreted array
        array_join(transform(array_sort(collect_list(
            when(col("__df") <= maxDocFreq,
              struct(col("__pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
      .select(col(idCol), col("clean_text"), col("n_lines_kept"),
        (col("__n") - col("n_lines_kept")).as("n_lines_dropped"))
  }

  /** CCNet-style cross-corpus LINE dedup (Wenzek et al. LREC 2020,
    * §3.1; the RefinedWeb/FineWeb pipelines keep the same stage):
    * web boilerplate that survives tag-level extraction — cookie
    * banners, nav crumbs, share bars — repeats VERBATIM as whole
    * lines across many pages, so each line is counted by its
    * document frequency corpus-wide and every line appearing in more
    * than `maxDocFreq` documents is dropped from every document; the
    * cleaned text re-joins the survivors in original order. The
    * line-granular complement of q24 (whole-doc fingerprints), q80
    * (n-gram spans) and q330 (per-source edge grams) — and the
    * natural consumer of q353's '\n'-structured extraction output.
    *
    * Per doc: (clean_text, n_lines_kept, n_lines_dropped). A doc
    * whose every line is common collapses to the empty string — the
    * CCNet behavior (the doc then dies at the downstream length
    * gate, which is the point).
    *
    * Scale shape: one (line, id) explode → one line-keyed count
    * reduction with map-side partials → one join back + one per-doc
    * fold. The shuffled key is the line text here for oracle
    * exactness; the production knob is hashing lines to 64-bit
    * fingerprints first (q24's convention) — same plan, 8-byte keys.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Long = 2L): DataFrame =
    lineDedupAgainst(docs, idCol, textCol,
      lineFrequencies(docs, idCol, textCol), maxDocFreq)

  def templateBoilerplate(docs: DataFrame, groupCol: String,
                          textCol: String, k: Int = 6,
                          minDocs: Long = 3L): DataFrame = {
    require(k >= 1 && k <= 64, s"k=$k out of [1,64]")
    val edges = docs.select(col(groupCol).cast("string").as("g"),
        TextFns.tokens(col(textCol)).as("__t"))
      .select(col("g"),
        array(
          struct(lit("prefix").as("kind"),
            concat_ws(" ", slice(col("__t"), 1, k)).as("gram")),
          struct(lit("suffix").as("kind"),
            concat_ws(" ",
              // short docs take the whole array (DuckDB's [-k:]
              // clamps; Spark's negative-start slice does not)
              when(size(col("__t")) <= k, col("__t"))
                .otherwise(slice(col("__t"), -k, k))).as("gram")))
          .as("__e"))
      .select(col("g"), explode(col("__e")).as("e"))
      .select(col("g"), col("e.kind").as("kind"), col("e.gram").as("gram"))
      .where(col("gram") =!= "")
    val counts = edges.groupBy("g", "kind", "gram")
      .agg(count(lit(1)).as("n_docs"))
    val tot = docs.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("nd"))
    counts.where(col("n_docs") >= minDocs)
      .join(broadcast(tot), Seq("g"))
      .select(col("g").as(groupCol), col("kind"), col("gram"),
        col("n_docs"),
        expr("CAST((1000000 * CAST(n_docs AS DECIMAL(38,0))) div " +
          "greatest(nd, 1) AS BIGINT)").as("share_ppm"))
  }
}
