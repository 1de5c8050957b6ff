package graft.dedup

import graft.ops.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probabilistic record linkage — Fellegi & Sunter (JASA 1969), the
  * canonical framework behind every entity-resolution system: candidate
  * pairs from blocking, a field-agreement vector γ per pair, and the
  * match score Σᵢ log(mᵢ/uᵢ) over agreeing fields plus
  * Σᵢ log((1−mᵢ)/(1−uᵢ)) over disagreeing ones, where mᵢ = P(agree |
  * match) and uᵢ = P(agree | non-match).
  *
  * Determinism/exactness conventions of this engine:
  *  - uᵢ is computed EXACTLY from the data as the chance-agreement
  *    probability Σᵥ pᵥ² of the field's value distribution (the
  *    standard u estimate when non-matches dominate random pairs),
  *    in exact ppm through DECIMAL(38);
  *  - mᵢ are caller-supplied ppm literals (the no-training-data
  *    convention; EM fitting would be nondeterministic);
  *  - logs are eighth-bit integer log2 (the native
  *    [[graft.functions.MitchellE8.log2E8]]; the DuckDB twin uses the
  *    equal [[graft.ops.TextStats.log2E8Sql]]) — score_e8 = Σ (L(m) −
  *    L(u)) or (L(1e6−m) − L(1e6−u)).
  *
  * Reference scope note: kpipe has no entity-resolution surface; this
  * is part of the training-data-pipeline extension family (cross-source
  * identity dedup before corpus mixing).
  */
object Linkage {

  /** One comparison field: a derived EQUALITY key (blocking-free
    * fields like "phone area code" or "balance $10 band") plus its
    * assumed m ppm, strictly inside (0, 10⁶) so both m and 1 − m have
    * a finite log.
    */
  case class LinkField(name: String, key: Column, mPpm: Long) {
    require(mPpm >= 1 && mPpm <= 999999,
      s"field $name: mPpm=$mPpm must lie in [1, 999999]")
  }

  /** Score candidate pairs A×B (two sides of a split, e.g. two CRM
    * extracts) under Fellegi–Sunter with exact-u weights.
    *
    * Candidates come from equality on `blockKey` — at corpus scale
    * the caller picks a key whose blocks are bounded (the
    * within-block pair stage is inherently quadratic; `maxBlock`
    * drops oversized blocks like the fuzzy-match maxDf valve, opt-in
    * so the default stays exact).
    *
    * Output: top `topK` pairs by score with the per-field agreement
    * bits — (id_a, id_b, agree_<field>..., score_e8, rank).
    *
    * Scale shape: u-weights are per-field value-frequency
    * aggregations (ONE pass each over the union, output bounded by
    * the field domain, folded to a ONE-row weight vector that
    * broadcasts); candidates shuffle on the block key only; the
    * final top-K is a bounded-heap TakeOrdered + a K-row rank
    * window.
    */
  def fellegiSunter(dfA: DataFrame, dfB: DataFrame, idCol: String,
                    blockKey: Column, fields: Seq[LinkField],
                    topK: Int = 50,
                    maxBlock: Long = Long.MaxValue): DataFrame = {
    val scored = scorePairs(dfA, dfB, idCol, blockKey, fields, maxBlock)
    val top = scored
      .orderBy(desc("score_e8"), col("id_a"), col("id_b"))
      .limit(topK)
    // K-row rank window (bounded-heap output, the q170/q247 class)
    top.withColumn("rank", row_number().over(
        Window.orderBy(desc("score_e8"), col("id_a"), col("id_b")))
      .cast("bigint"))
  }

  /** ALL blocked candidate pairs with their Fellegi–Sunter scores —
    * the threshold-consumers' form of [[fellegiSunter]] (same
    * weights, same score arithmetic, no top-K): feed
    * `where(score_e8 >= τ)` into [[goldenRecords]].
    */
  def scorePairs(dfA: DataFrame, dfB: DataFrame, idCol: String,
                 blockKey: Column, fields: Seq[LinkField],
                 maxBlock: Long = Long.MaxValue,
                 uFromBothSides: Boolean = true): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    def proj(df: DataFrame): DataFrame =
      df.select(Seq(col(idCol), blockKey.as("__blk")) ++
        fields.map(f => f.key.as(s"__k_${f.name}")): _*)
    val pop =
      if (uFromBothSides) proj(dfA).unionByName(proj(dfB))
      else proj(dfB) // reference-corpus u — the persisted-index mode
    val u = weightsFrom(pop, fields)
    val a = dfA.select(Seq(col(idCol).as("id_a"), blockKey.as("__blk")) ++
      fields.map(f => f.key.as(s"__ka_${f.name}")): _*)
    val b = dfB.select(Seq(col(idCol).as("id_b"), blockKey.as("__blk")) ++
      fields.map(f => f.key.as(s"__kb_${f.name}")): _*)
    scoreBlocked(a, b, u, fields, maxBlock)
  }

  /** The ONE-row (u, wa, wd) weight vector from a `__k_<field>`
    * projected population — exact chance-agreement u_ppm per field
    * (Σ cnt² · 10⁶ div n²), with BOTH log-weights folded in here so
    * the per-pair score is a constant pick (the 43-branch eighth-bit
    * log CASE codegens once per field on one row, never per pair).
    * Shared by [[scorePairs]] and [[buildIndex]].
    */
  private def weightsFrom(pop: DataFrame,
                          fields: Seq[LinkField]): DataFrame = {
    import graft.functions.MitchellE8.log2E8
    val n = pop.agg(count(lit(1)).as("__n"))
    val uCols = fields.map { f =>
      pop.groupBy(s"__k_${f.name}").agg(count(lit(1)).as("__c"))
        .agg(sum(expr("CAST(__c AS DECIMAL(38,0)) * __c")).as("__s2"))
        .crossJoin(broadcast(n))
        .select(expr("greatest(CAST((1000000 * __s2) div " +
          "(CAST(__n AS DECIMAL(38,0)) * __n) AS BIGINT), 1)")
          .as(s"u_${f.name}"))
        // every log argument is >= 1: mPpm and 10^6 - mPpm by
        // LinkField's bound, u and 10^6 - u by their clamps
        .select(col(s"u_${f.name}"),
          (log2E8(lit(f.mPpm)) - log2E8(col(s"u_${f.name}")))
            .as(s"wa_${f.name}"),
          (log2E8(lit(1000000L - f.mPpm)) -
            log2E8(greatest(lit(1000000L) - col(s"u_${f.name}"), lit(1L))))
            .as(s"wd_${f.name}"))
    }
    Lineage.cut(uCols.reduce(_.crossJoin(_)))
  }

  /** Simplified-Soundex phonetic key, as a SQL emitter shared
    * VERBATIM by the Spark plan and the DuckDB twin (the mitchellE8
    * one-emitter discipline): uppercase, strip non-letters, map each
    * letter to its Soundex digit class (vowels/H/W/Y → 0, BFPV → 1,
    * CGJKQSXZ → 2, DT → 3, L → 4, MN → 5, R → 6), collapse adjacent
    * equal digits, drop the first letter's own digit, drop zeros,
    * and emit `<first letter><first 3 digits, zero-padded>`.
    *
    * This is the classic American Soundex (Knuth TAOCP vol. 3 §5,
    * public since the 1918 Russell patent) WITHOUT the H/W-bridging
    * refinement — a documented variant choice: RE2-based engines
    * (DuckDB) have no regex backreferences, so run-collapsing is a
    * nested `replace` ladder (⌈log₂⌉ passes per digit, exact for
    * runs ≤ 16 — longer than any real word) that behaves identically
    * in both engines. `gFlag` parameterizes the one engine split:
    * Spark's `regexp_replace` always replaces every match, DuckDB
    * needs the `'g'` flag (the `divOp` convention).
    */
  def phoneticKeySql(e: String, gFlag: Boolean = false): String = {
    val g = if (gFlag) ", 'g'" else ""
    val letters = s"regexp_replace(upper($e), '[^A-Z]', ''$g)"
    val codes = s"translate($letters, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', " +
      "'01230120022455012623010202')"
    val collapsed = (0 to 6).foldLeft(codes) { (acc, dch) =>
      (1 to 4).foldLeft(acc)((a, _) => s"replace($a, '$dch$dch', '$dch')")
    }
    s"CASE WHEN length($letters) = 0 THEN '' ELSE " +
      s"substr($letters, 1, 1) || " +
      s"substr(rpad(replace(substr($collapsed, 2, 64), '0', ''), 3, '0'), " +
      "1, 3) END"
  }

  /** Phonetic blocking-key audit over a name vocabulary — the
    * sound-alike companion to the q125 q-gram blocking: distinct
    * words of `valueCol`, their [[phoneticKeySql]] keys, and every
    * same-key candidate pair with the block size. The pair stage is
    * quadratic ONLY within a block of the distinct-word VOCABULARY
    * (which grows sublinearly in the corpus — Heaps' law), never the
    * corpus; at 100 TB the word table is still a broadcast-size
    * object for natural-language names.
    */
  def phoneticBlocks(df: DataFrame, valueCol: String): DataFrame = {
    val words = df
      .select(explode(split(col(valueCol), " ")).as("w"))
      .where(length(col("w")) > 0).distinct()
    val keyed = words
      .select(col("w"), expr(phoneticKeySql("w")).as("pkey"))
      .withColumn("n_block", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("pkey")))
    keyed.as("a").join(keyed.as("b"),
        col("a.pkey") === col("b.pkey") && col("a.w") < col("b.w"))
      .select(col("a.pkey").as("pkey"), col("a.w").as("word_a"),
        col("b.w").as("word_b"), col("a.n_block").as("n_block"))
  }

  /** The blocked-join scoring stage over pre-projected sides and a
    * one-row weight vector — shared by [[scorePairs]] and
    * [[probeIndex]] so batch and index-probe scoring cannot drift.
    */
  private def scoreBlocked(a: DataFrame, b: DataFrame, u0: DataFrame,
                           fields: Seq[LinkField],
                           maxBlock: Long): DataFrame = {
    val u = broadcast(u0)
    val blocked =
      if (maxBlock == Long.MaxValue) a.join(b, Seq("__blk"))
      else {
        val sizes = a.groupBy("__blk").agg(count(lit(1)).as("__na"))
          .join(b.groupBy("__blk").agg(count(lit(1)).as("__nb")), Seq("__blk"))
          .where(col("__na") <= maxBlock && col("__nb") <= maxBlock)
          .select("__blk")
        a.join(broadcast(sizes), Seq("__blk")).join(b, Seq("__blk"))
      }
    blocked.crossJoin(u)
      .select(Seq(col("id_a"), col("id_b")) ++
        fields.map(f => (col(s"__ka_${f.name}") === col(s"__kb_${f.name}"))
          .as(s"agree_${f.name}")) :+
        fields.map { f =>
          expr(s"CASE WHEN __ka_${f.name} = __kb_${f.name} " +
            s"THEN wa_${f.name} ELSE wd_${f.name} END")
        }.reduce(_ + _).as("score_e8"): _*)
  }

  /** A persisted linkage index over a REFERENCE corpus (the "master
    * file"): its blocked, key-projected records plus the one-row
    * Fellegi–Sunter weight vector with u estimated from the
    * reference alone — the standard deployment where incoming
    * batches are matched against a stable customer master without
    * re-scanning it. Save/load round-trips through parquet.
    */
  case class LinkIndex(fieldMeta: Seq[(String, Long)], refs: DataFrame,
                       weights: DataFrame) {
    def save(dir: String): Unit = {
      refs.write.mode("overwrite").parquet(s"$dir/refs")
      weights.write.mode("overwrite").parquet(s"$dir/weights")
      val spark = refs.sparkSession
      import spark.implicits._
      fieldMeta.toDF("field", "m_ppm")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  object LinkIndex {
    def load(spark: org.apache.spark.sql.SparkSession,
             dir: String): LinkIndex =
      LinkIndex(
        spark.read.parquet(s"$dir/meta").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq,
        spark.read.parquet(s"$dir/refs"),
        spark.read.parquet(s"$dir/weights"))
  }

  /** Build a [[LinkIndex]] from the reference corpus: one projection
    * plus the per-field weight folds — the whole reference is
    * scanned ONCE at build time, never again at probe time.
    */
  def buildIndex(dfB: DataFrame, idCol: String, blockKey: Column,
                 fields: Seq[LinkField]): LinkIndex = {
    require(fields.nonEmpty, "need at least one comparison field")
    val pop = dfB.select(Seq(col(idCol), blockKey.as("__blk")) ++
      fields.map(f => f.key.as(s"__k_${f.name}")): _*)
    val refs = dfB.select(
      Seq(col(idCol).as("id_b"), blockKey.as("__blk")) ++
        fields.map(f => f.key.as(s"__kb_${f.name}")): _*)
    LinkIndex(fields.map(f => (f.name, f.mPpm)), refs,
      weightsFrom(pop, fields))
  }

  /** Probe a batch against a persisted [[LinkIndex]]: block-join the
    * incoming records against the index's reference rows and score
    * through the index's FROZEN weight vector — bit-identical to
    * `scorePairs(batch, reference, uFromBothSides = false)` (the
    * differential spec pins it), so a foreachBatch can link every
    * micro-batch incrementally. The caller's `fields` must carry the
    * SAME names/m as the build (validated against the meta).
    */
  def probeIndex(dfA: DataFrame, idCol: String, blockKey: Column,
                 fields: Seq[LinkField], index: LinkIndex,
                 maxBlock: Long = Long.MaxValue): DataFrame = {
    require(fields.map(f => (f.name, f.mPpm)) == index.fieldMeta,
      s"field definitions ${fields.map(f => (f.name, f.mPpm))} do not " +
        s"match the index meta ${index.fieldMeta}")
    val a = dfA.select(Seq(col(idCol).as("id_a"), blockKey.as("__blk")) ++
      fields.map(f => f.key.as(s"__ka_${f.name}")): _*)
    scoreBlocked(a, index.refs, index.weights, fields, maxBlock)
  }

  /** STREAMING incremental linkage: every micro-batch of incoming
    * records is scored against the persisted [[LinkIndex]] through
    * [[probeIndex]] (stateless per incoming row, so the union of
    * per-trigger outputs ≡ one batch probe of the delivered records
    * — the differential spec pins it). The q173 decontamStream
    * pattern applied to entity resolution: master file frozen,
    * stream linked as it arrives.
    */
  def linkStream(records: DataFrame, idCol: String, blockKey: Column,
                 fields: Seq[LinkField], index: LinkIndex,
                 checkpoint: String,
                 maxBlock: Long = Long.MaxValue)
                (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(probeIndex(batch, idCol, blockKey, fields, index, maxBlock))
        ()
      }
      .start()

  /** STREAMING golden-record snapshots — incremental MDM: every
    * micro-batch of incoming records is linked against the persisted
    * master ([[probeIndex]]), accepted pairs ACCUMULATE (pairs ≪
    * records after blocking + thresholding, so the accumulated edge
    * set stays small), and each trigger emits a fresh
    * [[goldenRecords]] snapshot over master ∪ delivered — the
    * "customer 360 view that absorbs the day's feed". The
    * differential spec pins: the final snapshot ≡ one batch
    * goldenRecords over master ∪ all delivered records.
    *
    * Note the honest cost model: the CC + survivorship recompute per
    * trigger reads the accumulated pairs and the record union — a
    * micro-batch MATERIALIZED-VIEW pattern (like the q111/q173
    * incremental families), not per-key incremental state; the
    * per-trigger cost is bounded by the accepted-pair and record
    * volumes, not the trigger count.
    */
  def goldenStream(records: DataFrame, idCol: String, blockKey: Column,
                   fields: Seq[LinkField], index: LinkIndex,
                   master: DataFrame, scoreMin: Long,
                   canonCols: Seq[String], maxCols: Seq[String],
                   checkpoint: String,
                   maxBlock: Long = Long.MaxValue)
                  (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = records.sparkSession
    import spark.implicits._
    var pairsSoFar = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    var deliveredSoFar: Option[DataFrame] = None
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // cut per-trigger lineage growth; each new cut replaces the one
        // it grew from, which is freed once the new one is materialized
        val batchRows = Lineage.cut(batch)
        val accepted = probeIndex(batchRows, idCol, blockKey, fields,
            index, maxBlock)
          .where(col("score_e8") >= scoreMin)
          .select(col("id_a").cast("long"), col("id_b").cast("long"))
        val pairs = Lineage.cut(pairsSoFar.unionByName(accepted).distinct())
        Lineage.release(pairsSoFar)
        pairsSoFar = pairs
        deliveredSoFar = Some(deliveredSoFar.fold(batchRows) { d =>
          val grown = Lineage.cut(d.unionByName(batchRows))
          Lineage.release(d)
          Lineage.release(batchRows)
          grown
        })
        // the snapshot's own cuts (connected components' rounds) are
        // freed once the sink has written it
        Lineage.scoped(sink(goldenRecords(
          master.unionByName(deliveredSoFar.get), idCol,
          pairsSoFar, canonCols, maxCols)))
        ()
      }
      .start()
  }

  /** Golden-record consolidation (the MDM "survivorship" step): from
    * accepted match pairs, entities are the CONNECTED COMPONENTS of
    * the match graph ([[graft.dedup.Dedup.connectedComponents]] —
    * the same star-contraction machinery as the near-dup clusters),
    * every unmatched record is its own entity, and each entity
    * collapses to one golden row by deterministic survivorship
    * rules:
    *
    *  - `entity_id` — the smallest member id (the CC label);
    *  - `canonCols` — taken from the SMALLEST-id member (argmin via
    *    a struct-min keyed by the unique id: order-independent);
    *  - `maxCols` — the per-entity maximum (e.g. "keep the largest
    *    balance");
    *  - `n_members` — entity size.
    *
    * Scale shape: CC runs on the match PAIRS only (pairs ≪ records
    * after blocking+thresholding); the label join is one keyed
    * shuffle against the records table, and the survivorship
    * collapse is ONE partial aggregation keyed by entity.
    */
  def goldenRecords(records: DataFrame, idCol: String,
                    pairs: DataFrame, canonCols: Seq[String],
                    maxCols: Seq[String]): DataFrame = {
    val (labels, _) = Dedup.connectedComponents(pairs)
    val ent = records
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("entity_id",
        coalesce(col("cluster_id"), col(idCol)).cast("long"))
    val canonStruct = min(struct(
      (col(idCol) +: canonCols.map(col)): _*)).as("__canon")
    val aggs = Seq(count(lit(1)).as("n_members"), canonStruct) ++
      maxCols.map(c => max(col(c)).as(s"max_$c"))
    ent.groupBy("entity_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("entity_id"), col("n_members")) ++
        canonCols.map(c => col(s"__canon.$c").as(s"canon_$c")) ++
        maxCols.map(c => col(s"max_$c")): _*)
  }
}
