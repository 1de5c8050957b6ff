package graft.dedup

import graft.SparkSpec
import graft.functions.TextFns
import graft.ops.Lineage
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // corpus with planted near-dups: 0≈1 (one word changed), 2≈3 (one word
  // appended), 4/5/6 unrelated
  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (2L, "spark makes distributed data processing simple fast and reliable at scale"),
    (3L, "spark makes distributed data processing simple fast and reliable at scale always"),
    (4L, "completely different content about cooking pasta with tomato sauce basil"),
    (5L, "orbital mechanics requires precise calculation of velocity and trajectory"),
    (6L, "the quick brown fox jumps over the lazy dog near the river bank today")
  ).toDF("doc_id", "text")

  test("exact dedup by content groups identical docs") {
    val out = Dedup.exactByContent(docs, "doc_id", "text")
    assert(out.count() === 6) // 7 docs, 0 and 6 identical
    val dup = out.where(col("n_dups") === 2).collect()
    assert(dup.length === 1 && dup.head.getAs[Long]("keep_id") === 0L)
  }

  test("exact dropDuplicates on key columns") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v")
    assert(Dedup.exact(df, Seq("k", "v")).count() === 2)
  }

  test("minhash signature: identical docs get identical signatures") {
    val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignature(col("text"), 32, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(0L) === sigs(6L))
    assert(sigs(0L) !== sigs(4L))
    assert(sigs(0L).length === 32)
  }

  test("minhash signature similarity tracks jaccard") {
    val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignature(col("text"), 64, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    def agreement(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    // near-dup pair agrees far more than unrelated pair
    assert(agreement(sigs(0L), sigs(1L)) > 0.5)
    assert(agreement(sigs(0L), sigs(4L)) < 0.2)
  }

  test("scale-path signatures equal the column-expression variants") {
    val colSigs = docs.select(col("doc_id").as("id"),
        Dedup.minhashSignature(col("text"), 16, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val dfSigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
      .as[(Long, Seq[Long])].collect().toMap
    assert(dfSigs === colSigs)
    val colSim = docs.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    val dfSim = Dedup.simhashes(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(dfSim === colSim)
  }

  test("simhashLong ≡ column expression over 300 seeded random texts (property)") {
    // house convention: seeded samples instead of the scalacheck bridge
    // (offline classpath). Texts mix unicode letters with every WS_CLASS
    // member in random runs, the exact surface where a native tokenizer
    // could drift from Spark trim/split semantics.
    val rnd = new scala.util.Random(20260813L)
    val ws = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
    def randText(): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(12)).foreach { _ =>
        if (rnd.nextBoolean()) sb.append(rnd.nextString(rnd.nextInt(8)))
        (0 until rnd.nextInt(3)).foreach(_ => sb.append(ws(rnd.nextInt(ws.length))))
      }
      sb.toString
    }
    val samples = Seq.fill(300)(randText()).distinct
    val viaColumn = samples.toDF("text")
      .select(col("text"), Dedup.simhash(col("text")).as("sig"))
      .as[(String, Long)].collect().toMap
    samples.foreach { s =>
      assert(Dedup.simhashLong(s) === viaColumn(s),
        s"native/column drift on ${s.map(_.toInt).mkString("[", ",", "]")}")
    }
  }

  test("Scala-native simhashLong equals the column expression, edge cases included") {
    // edges: empty, spaces-only (Spark trim strips ' ' only), leading tab
    // (survives trim → empty first token), trailing tab (split keeps the
    // trailing empty at limit -1), multi-space runs, unicode
    val samples = Seq("", "   ", "one", "two words here",
      "\tleading tab", "trailing tab\t", "a  b   c", "naïve café déjà-vu",
      "the quick brown fox jumps over the lazy dog")
    val viaColumn = samples.toDF("text")
      .select(Dedup.simhash(col("text")).as("sig")).as[Long].collect().toSeq
    val viaNative = samples.map(Dedup.simhashLong)
    assert(viaNative === viaColumn)
  }

  test("LSH near-dup pairs finds planted pairs without all-pairs join") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.4, numHashes = 32, bands = 16, shingleWidth = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 6L)))  // exact dup
    assert(pairs.contains((0L, 1L)) || pairs.contains((2L, 3L))) // near dup caught
    assert(!pairs.contains((0L, 4L)) && !pairs.contains((4L, 5L)))
  }

  test("b-bit minhash: packing matches the signature low bits; estimator calibrated") {
    val sigs = Dedup.bbitSignatures(docs, "doc_id", "text")
    // packed long == manual low-2-bit fold of the full signature
    val full = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 30)
      .as[(Long, Seq[Long])].collect().toMap
    val packed = sigs.as[(Long, Long)].collect().toMap
    for ((id, sig) <- full) {
      val expect = sig.zipWithIndex
        .map { case (h, i) => (h & 3L) << (2 * i) }.reduce(_ | _)
      assert(packed(id) === expect, s"doc $id packed bits")
    }
    // identical docs (0 and 6) → all 30 slots match → Ĵ = 1000
    val pairs = Seq((0L, 6L), (0L, 4L)).toDF("id_a", "id_b")
    val est = Dedup.bbitJaccardEstimates(pairs, sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(est((0L, 6L)) === ((30L, 1000L)))
    // unrelated docs: matches near the 1/4 collision floor; the
    // corrected estimate must sit at/near 0 (clamped), far from 1000
    val (m04, j04) = est((0L, 4L))
    assert(j04 === math.max(0L, (1000 * (4 * m04 - 30)) / 90))
    assert(j04 < 300, s"unrelated pair estimated j=$j04")
    // partition invariance
    val b2 = Dedup.bbitJaccardEstimates(pairs,
      Dedup.bbitSignatures(docs.repartition(5), "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(b2 === est)
  }

  test("incremental index: candidates(index(A), B) == allPairs(A∪B) ∖ allPairs(A)") {
    // a 60-doc corpus with planted families across the A/B boundary:
    // family f = ids {f, f+30} share text, so every family pair crosses
    val corpus = spark.range(60).selectExpr("id AS doc_id",
      "concat('w', CAST(id % 30 AS STRING), ' x', CAST(id % 30 AS STRING), " +
        "' y', CAST(id % 30 AS STRING), ' z', CAST(id % 30 AS STRING)) AS text")
    val dayA = corpus.where(col("doc_id") < 30)
    val dayB = corpus.where(col("doc_id") >= 30)
    def buckets(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBuckets(d, "doc_id", "text", numHashes = 32, bands = 8)
    val bA = buckets(dayA); val bB = buckets(dayB); val bAll = buckets(corpus)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val empty = bAll.limit(0)
    val full = pairSet(Dedup.minhashCandidatesAgainstIndex(empty, bAll))
    val withinA = pairSet(Dedup.minhashCandidatesAgainstIndex(empty, bA))
    // persist/reload the index like a real daily fold would
    val idxPath = java.nio.file.Files.createTempDirectory("graft-mh-idx").toString
    bA.write.mode("overwrite").parquet(idxPath)
    val incr = pairSet(Dedup.minhashCandidatesAgainstIndex(
      spark.read.parquet(idxPath), bB))
    assert(incr === (full -- withinA), "incremental must equal the cross+new slice")
    // every planted cross-boundary family pair is present
    (0L until 30L).foreach(f => assert(incr.contains((f, f + 30))))
    // and nothing within history is regenerated
    assert(incr.forall { case (a, b) => b >= 30 })
  }

  test("jaccard verification values are exact") {
    val sets = docs.select(col("doc_id"),
      array_distinct(TextFns.tokens(col("text"))).as("w"))
    val j = sets.as("a").join(sets.as("b"),
        col("a.doc_id") === 0 && col("b.doc_id") === 6)
      .select(Dedup.jaccardArrays(col("a.w"), col("b.w")).as("j"))
      .as[Double].collect().head
    assert(j === 1.0)
  }

  test("simhash: identical → same sig; near-dup hamming < unrelated hamming") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) === sigs(6L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(5L)))
  }

  test("simhash near-dup pairs: exact dups at distance 0") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 6L)))
  }

  test("ngram jaccard over explicit candidate pairs") {
    val pairs = Seq((0L, 1L), (0L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", pairs, n = 3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((0L, 1L)) > 0.5)
    assert(out((0L, 4L)) === 0.0)
  }

  test("near-dup clusters: multi-hop chains collapse to the min id") {
    // components: {1,2,3} via chain 1-2, 2-3 (no direct 1-3 edge, so the
    // min label must propagate two hops) and {10,11}
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("near-dup clusters: a 200-link chain converges in O(log n) rounds") {
    // the long-chain stress (template families): plain min-label
    // propagation needs ~200 rounds here; star contraction must land
    // the whole chain on id 0 in a handful
    // smallCutoff = 0 forces pure star contraction — the default would
    // route 200 edges straight to the union-find finisher
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (out, rounds) = Dedup.connectedComponents(pairs, maxIter = 12, smallCutoff = 0L)
    val labels = out.as[(Long, Long)].collect().toMap
    assert(labels.size === 201)
    assert(labels.values.forall(_ === 0L), s"non-min labels: ${labels.filter(_._2 != 0L).take(5)}")
    // ~log2(200) contraction rounds + the final no-change confirmation
    assert(rounds <= 10, s"expected O(log n) convergence, took $rounds rounds")
  }

  test("small-residue union-find finisher ≡ star contraction, on longs and strings") {
    // a chain (multi-hop min propagation), a triangle with a tail, and
    // singleton edges; both paths must produce identical labels
    val longPairs = Seq((2L, 3L), (1L, 2L), (5L, 4L), (4L, 6L), (5L, 6L),
      (10L, 11L)).toDF("id_a", "id_b")
    val viaFinisher = Dedup.nearDupClusters(longPairs)
      .as[(Long, Long)].collect().toMap
    val viaStars = Dedup.nearDupClusters(longPairs, smallCutoff = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaFinisher === viaStars)
    assert(viaFinisher(3L) === 1L && viaFinisher(6L) === 4L)

    val strPairs = Seq(("b", "c"), ("a", "b"), ("z", "y")).toDF("id_a", "id_b")
    val sFin = Dedup.nearDupClusters(strPairs).as[(String, String)].collect().toMap
    val sStar = Dedup.nearDupClusters(strPairs, smallCutoff = 0L)
      .as[(String, String)].collect().toMap
    assert(sFin === sStar)
    assert(sFin === Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "y", "y" -> "y"))
  }

  test("star contraction frees each round's edges once the next round is cut") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Lineage.scoped {
      val (out, rounds) = Dedup.connectedComponents(pairs, maxIter = 12,
        smallCutoff = 0L)
      assert(rounds >= 4, s"the chain should need several rounds, took $rounds")
      // the result still reads two cuts: `oriented` (through the vertex
      // set) and the last round's edges
      val grown = sc.getPersistentRDDs.keySet -- before
      assert(grown.size <= 2, s"$rounds rounds left ${grown.size} cuts persisted")
      assert(out.count() === 201)
    }
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("near-dup clusters use the reliable checkpoint dir when configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    def rddFiles = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator.asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      finally walk.close()
    }
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      // smallCutoff = 0: the star-contraction loop is what checkpoints
      // per round (the finisher path has no iterative lineage to cut)
      val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
      val out = Lineage.scoped {
        val out = Dedup.nearDupClusters(pairs, smallCutoff = 0L)
          .as[(Long, Long)].collect().toMap
        // the lineage cut actually went through the reliable dir
        assert(rddFiles.nonEmpty)
        out
      }
      assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(rddFiles.isEmpty, s"scope exit left checkpoint data: $rddFiles")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("leakage-safe split: cluster members share a split; singletons covered") {
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
    val docIds = Seq(1L, 2L, 3L, 10L, 11L, 42L).toDF("doc_id")
    val out = Dedup.leakageSafeSplit(docIds, "doc_id", clusters)
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 10L, 11L, 42L))
    // the leakage guarantee: same cluster → same split
    assert(Set(out(1L), out(2L), out(3L)).size === 1)
    assert(out(10L) === out(11L))
    assert(out(42L)._1 === 42L)  // singleton splits on its own id
    assert(out.values.forall(v => Set("train", "val", "test").contains(v._2)))
  }

  test("boilerplate: shared n-grams in >= minDocs docs are flagged, unique text is 0") {
    // docs 0, 1 and 6 share the full "the quick brown fox..." prefix
    // (doc 1 differs only in one word), so its 3-grams hit minDocs=3;
    // docs 4/5 are unique text → zero boilerplate
    val out = Dedup.boilerplateScores(docs, "doc_id", "text", n = 3, minDocs = 3)
      .select("id", "n_shingles", "n_boilerplate", "boilerplate_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._3 > 0 && out(0L)._4 > 0.5)   // shared prefix dominates
    assert(out(6L) === out(0L).copy(_1 = 6L))    // identical docs → identical scores
    assert(out(4L)._3 === 0L && out(4L)._4 === 0.0)
    assert(out(5L)._3 === 0L)
    assert(out.values.forall(s => s._3 <= s._2))
  }

  test("contamination: eval member is fully contaminated, unrelated doc is 0") {
    val evalSet = docs.where(col("doc_id") === 0)
    val scores = Dedup.contaminationScores(docs, "doc_id", "text", evalSet, "text", n = 3)
      .select("id", "n_shingles", "n_overlap", "overlap_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n0, o0, r0) = scores(0L)
    assert(n0 === o0 && r0 === 1.0)           // the eval doc overlaps itself fully
    assert(scores(4L)._4 === 0.0)             // unrelated doc: zero overlap
    assert(scores(6L)._4 === 1.0)             // exact duplicate of doc 0
    assert(scores.values.forall(s => s._3 <= s._2))
  }

  test("bloom contamination: superset of exact overlap, exact on eval members") {
    val evalSet = docs.where(col("doc_id") === 0)
    val exact = Dedup.contaminationScores(docs, "doc_id", "text", evalSet, "text", n = 3)
      .select("id", "n_shingles", "n_overlap")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val bloom = Dedup.bloomContaminationScores(docs, "doc_id", "text", evalSet, "text", n = 3)
      .select("id", "n_shingles", "n_bloom_hits")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(bloom.keySet === exact.keySet)
    exact.foreach { case (id, (_, n, overlap)) =>
      val (_, bn, hits) = bloom(id)
      assert(bn === n, s"doc $id shingle count drift")
      // no false negatives: every exact overlap is a bloom hit
      assert(hits >= overlap, s"doc $id lost overlaps: $hits < $overlap")
      assert(hits <= n)
    }
    // the eval doc still probes fully contaminated through the filter
    assert(bloom(0L)._3 === bloom(0L)._2)
    assert(bloom(6L)._3 === bloom(6L)._2)     // exact duplicate of doc 0
  }

  test("bloomFlagDocs: eval members and dups flagged, clean docs keep all columns") {
    val words = graft.ops.Sketch.bloomWords(
      docs.where(col("doc_id") === 0)
        .select(explode(array_distinct(TextFns.shingles(col("text"), 3))).as("s"))
        .select(graft.functions.HashFns.hash61(col("s")).as("x")),
      col("x"), 1 << 16, 4)
    val flagged = Dedup.bloomFlagDocs(docs, "doc_id", "text", words)
      .select("doc_id", "text", "contaminated")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(flagged.size === 7, "every doc must come back exactly once")
    assert(flagged(0L) && flagged(6L), "eval member and its exact dup flagged")
    assert(!flagged(4L) && !flagged(5L), "unrelated docs pass")
    // doc 1 shares most shingles with doc 0 (one word changed) → flagged at 0 tolerance
    assert(flagged(1L))
    // ...but survives a loose tolerance higher than its shared-shingle count
    val loose = Dedup.bloomFlagDocs(docs, "doc_id", "text", words, maxHits = 1000)
      .select("doc_id", "contaminated").as[(Long, Boolean)].collect().toMap
    assert(loose.values.forall(_ == false))
  }

  test("noveltyScores: exact dup is 0-novel, fresh doc is 1000, half is 500") {
    val corpus = Seq(
      (0L, "a b c d"),  // first doc: everything novel
      (1L, "a b c d"),  // exact dup of doc 0: nothing novel
      (2L, "x y z w"),  // all-fresh vocabulary
      (3L, "a b c x"))  // shingles {a b c, b c x}: one seen, one new
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScores(corpus, "doc_id",
        TextFns.shingles(col("text"), 3),
        itemKey = graft.functions.HashFns.hash61)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (0L, 2L, 0L, 1000L),
      (1L, 2L, 2L, 0L),
      (2L, 2L, 0L, 1000L),
      (3L, 2L, 1L, 500L)))
  }

  test("noveltyScores is partition-invariant") {
    val corpus = spark.range(0, 150).selectExpr("id AS doc_id",
      "concat('w', CAST(id % 13 AS STRING), ' w', CAST(id % 7 AS STRING), " +
        "' w', CAST(id % 5 AS STRING), ' w', CAST(id % 11 AS STRING)) AS text")
    val mk = (df: org.apache.spark.sql.DataFrame) =>
      Dedup.noveltyScores(df, "doc_id", TextFns.shingles(col("text"), 3),
        itemKey = graft.functions.HashFns.hash61).orderBy("id").collect().toSeq
    assert(mk(corpus) === mk(corpus.repartition(11)) && mk(corpus).nonEmpty)
  }

  test("lshRetrievalEval: identical docs are perfect P/R; counts bound tp") {
    import spark.implicits._
    // three identical docs (3 exact pairs, every band collides) plus
    // two unrelated docs (no shared shingles, below tau)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven"),
      (5L, "red green blue cyan magenta yellow"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRetrievalEval(docs, "doc_id", "text",
      tauX1000 = 200, numHashes = 32, bands = 8, shingleWidth = 2)
      .collect().head
    assert(r.getAs[Long]("n_true") === 3L)
    assert(r.getAs[Long]("tp") === 3L)
    assert(r.getAs[Long]("tp") <= r.getAs[Long]("n_pred"))
    assert(r.getAs[Long]("recall_x1000") === 1000L)
    // identical docs collide in every band and nothing else shares a
    // shingle — retrieval is exact here
    assert(r.getAs[Long]("n_pred") === 3L)
    assert(r.getAs[Long]("precision_x1000") === 1000L)
    assert(r.getAs[Long]("f1_x1000") === 1000L)
  }

  test("lshPlan: independent fixed-point S-curve, binning, s50") {
    import spark.implicits._
    // independent BigInt reimplementation of the per-mille power fold
    def pow(x: Long, k: Int): Long =
      (1 to k).foldLeft(BigInt(1000))((a, _) => a * x / 1000).toLong
    def p(s: Long, r: Int, b: Int): Long = 1000 - pow(1000 - pow(s, r), b)
    val pairs = (Seq.fill(3)(525L) ++ Seq(975L, 675L)).toDF("j")
    val grid = Seq((8, 4), (16, 4))
    val out = Dedup.lshPlan(pairs, "j", grid).orderBy("bands")
      .collect()
    assert(out.length === 2)
    for ((row, (b, r)) <- out.zip(grid.sortBy(_._1))) {
      // bin mids: 525 (bin 10), 975 (bin 19), 675 (bin 13)
      val exp = (3 * p(525, r, b) + p(975, r, b) + p(675, r, b)) / 5
      assert(row.getAs[Long]("n_pairs") === 5L, s"($b,$r)")
      assert(row.getAs[Long]("recall_x1000") === exp, s"($b,$r)")
      assert(row.getAs[Long]("n_hashes") === b.toLong * r)
      val s50 = (0 until 20).map(i => 50L * i + 25)
        .find(m => p(m, r, b) >= 500).getOrElse(-1L)
      assert(row.getAs[Long]("s50_x1000") === s50, s"($b,$r) s50")
    }
    // doubling bands at fixed rows can only raise recall and can
    // only move the p=1/2 threshold left
    val r8 = out(0); val r16 = out(1)
    assert(r16.getAs[Long]("recall_x1000") >= r8.getAs[Long]("recall_x1000"))
    assert(r16.getAs[Long]("s50_x1000") <= r8.getAs[Long]("s50_x1000"))
    // streaming readback: per-micro-batch (bin, count) cells fold
    // additively — same key in both batches — and reprice identically
    val folded = Seq(Seq(525L, 975L), Seq(525L, 525L, 675L)).flatMap(
      _.map(j => math.min(j / 50, 19)).groupBy(identity)
        .map { case (b, xs) => (b, xs.size.toLong) })
    assert(Dedup.lshPlanFromCounts(spark, folded, grid)
      .orderBy("bands").collect().toSeq === out.toSeq)
  }
}
