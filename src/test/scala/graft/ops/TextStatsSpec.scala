package graft.ops

import graft.SparkSpec
import org.scalactic.Tolerance._

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("repetition stats: hand-computed dup-word and top-bigram fractions") {
    val docs = Seq(
      (1L, "a b a b a b"),        // 6 tokens, 2 distinct; "a b" ×3 covers 9 of 11 chars
      (2L, "x y z w"),            // no repeated words; every bigram once (3 chars of 7)
      (3L, "solo")                // single token: shingle = whole text
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(docs, "doc_id", "text", n = 2)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap

    assert(out(1L)._2 === 6L)
    assert(out(1L)._3 === (1.0 - 2.0 / 6.0 +- 1e-6))
    assert(out(1L)._4 === (9.0 / 11.0 +- 1e-6))   // "a b" count 3 × len 3 / 11 chars
    assert(out(2L)._3 === 0.0)
    assert(out(2L)._4 === (3.0 / 7.0 +- 1e-6))
    assert(out(3L)._2 === 1L)
    assert(out(3L)._4 === 1.0)                     // whole-text shingle covers all chars
  }

  test("LM surprisal: hand-computed bigram counts, Mitchell eighth-bits") {
    // corpus: c2("a b")=3, c2("b a")=1, c1(a)=3, c1(b)=1, V=3 ({a,b,c})
    val docs = Seq(
      (1L, "en", "a b a b"),  // bigrams (a b),(b a),(a b)
      (2L, "en", "a b"),      // (a b)
      (3L, "de", "c")         // < 2 tokens: (0, 0, 0)
    ).toDF("doc_id", "lang", "text")
    val out = TextStats.lmSurprisal(docs, "doc_id", "text", Seq("lang"))
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // "a b": q = (3+3)·2^20 div (3+1) = 1.5·2^20 → e=20, frac8=4 → 4 e8
    //   (true −log2(4/6) = 0.585 bits; Mitchell 0.5)
    // "b a": q = (1+3)·2^20 div (1+1) = 2·2^20 → e=21, frac8=0 → 8 e8
    //   (true −log2(2/4) = 1 bit exactly; Mitchell exact at powers of 2)
    assert(out(1L) === ((1L, "en", 3L, 16L, 6L)))  // (16·10) div 24 = 6
    assert(out(2L) === ((2L, "en", 1L, 4L, 5L)))   // (4·10) div 8 = 5
    assert(out(3L) === ((3L, "de", 0L, 0L, 0L)))
    // surprisal is non-negative by construction (c1+V ≥ c2+1)
    val rnd = spark.range(200).selectExpr("id AS doc_id", "'en' AS lang",
      "concat('w', CAST(id % 7 AS STRING), ' w', CAST(id % 3 AS STRING), " +
        "' w', CAST(id % 11 AS STRING)) AS text")
    val all = TextStats.lmSurprisal(rnd, "doc_id", "text")
      .select("surprisal_e8").as[Long].collect()
    assert(all.forall(_ >= 0L))
  }

  test("LM lifecycle: merge(train(A), train(B)) ≡ train(A∪B); cross-corpus scoring") {
    def corpus(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
      "id AS doc_id",
      "concat('w', CAST(id % 5 AS STRING), ' w', CAST(id % 3 AS STRING), " +
        "' w', CAST(id % 7 AS STRING), ' w', CAST(id % 2 AS STRING)) AS text")
    val whole = corpus(0, 400)
    val direct = TextStats.lmTrain(whole, "doc_id", "text")
    val merged = TextStats.lmMerge(
      TextStats.lmTrain(corpus(0, 200), "doc_id", "text"),
      TextStats.lmTrain(corpus(200, 400), "doc_id", "text"))
    assert(merged.bigrams.collect().toSet === direct.bigrams.collect().toSet)
    assert(merged.vocab.as[String].collect().toSet
      === direct.vocab.as[String].collect().toSet)
    // scoring through the merged model is identical to single-pass
    def scores(m: TextStats.LmModel) =
      TextStats.lmScore(whole, "doc_id", "text", m)
        .select("doc_id", "surprisal_e8").as[(Long, Long)].collect().toMap
    assert(scores(merged) === scores(direct))
    // and lmSurprisal is exactly score-under-own-model
    val oneCall = TextStats.lmSurprisal(whole, "doc_id", "text")
      .select("doc_id", "surprisal_e8").as[(Long, Long)].collect().toMap
    assert(oneCall === scores(direct))
    // cross-corpus: unseen bigrams smooth as count 0 (higher surprisal,
    // never a crash); in-distribution text scores strictly lower
    val inDist = TextStats.lmScore(corpus(400, 410), "doc_id", "text", direct)
      .select("avg_bits_x10").as[Long].collect()
    val outDist = TextStats.lmScore(
      spark.range(5).selectExpr("id + 1000 AS doc_id",
        "concat('zz', CAST(id AS STRING), ' qq', CAST(id AS STRING), " +
          "' vv', CAST(id AS STRING)) AS text"),
      "doc_id", "text", direct)
      .select("avg_bits_x10").as[Long].collect()
    assert(inDist.nonEmpty && outDist.nonEmpty)
    assert(outDist.min > inDist.max,
      s"unseen text must score higher: ${outDist.min} vs ${inDist.max}")
  }

  test("BM25: hand-computed integer scores; zero-IDF floor; absent docs dropped") {
    // N=3, dl = (3, 2, 4), tot 9, avdl = 9 div 3 = 3
    // df(x)=1 (d1): q_idf = 5·2^20 div 3 = 1747626 → e=20, frac8=5 → idf_e8 = 5
    // df(y)=2 (d1,d3): q = 3·2^20 div 5 < 2^20 → clamped → idf_e8 = 0
    val docs = Seq(
      (1L, "en", "x x y"), (2L, "en", "z z"), (3L, "de", "y y y z")
    ).toDF("doc_id", "lang", "text")
    val terms = Seq("x", "y").toDF("t")
    val out = TextStats.bm25(docs, "doc_id", "text", terms, "t",
      Seq("lang"), k = 10)
      .as[(Long, String, Long, Long, Long)].collect()
    // d1: x → tfn = (22000·2·3) div (60+9+27) = 132000 div 96 = 1375,
    //     score 5·1375 = 6875; y → idf 0; two terms hit.
    // d3: only y (idf 0) → score 0, one term hit. d2: no hits, absent.
    assert(out.toSeq === Seq(
      (1L, "en", 3L, 2L, 6875L),
      (3L, "de", 4L, 1L, 0L)))
    // sanity of the rational TF at tf=1, dl=avdl: tfn must be exactly 1000
    val tfnRow = TextStats.bm25(
      Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("a").toDF("t"), "t", Seq.empty, 10)
      .select("bm25_x").as[Long].collect().head
    // df=1, N=3 → idf_e8 = 5 (same clamp arithmetic as above) → 5·1000
    assert(tfnRow === 5000L)
  }

  test("mixture sampling: rates honored exactly by the hash rule") {
    val docs = (0L until 1000L).map(i =>
      (i, if (i % 2 == 0) "en" else "xx")).toDF("id", "grp")
    val out = Mixture.sampleByRates(docs, "id", "grp",
      rates = Map("en" -> 900), defaultPerMille = 100)
    // exact expected membership, recomputed via the Scala-native hash
    val expected = (0L until 1000L).filter { i =>
      val key = graft.functions.HashFns.hash61Bytes(
        s"mix:$i".getBytes("UTF-8")) % 1000
      key < (if (i % 2 == 0) 900 else 100)
    }.toSet
    assert(out.select("id").as[Long].collect().toSet === expected)
    // determinism: same result on a different partitioning
    val out2 = Mixture.sampleByRates(docs.repartition(7), "id", "grp",
      rates = Map("en" -> 900), defaultPerMille = 100)
    assert(out2.select("id").as[Long].collect().toSet === expected)
  }

  test("gopherRules: each rule flips on its own signal, keep is the conjunction") {
    import spark.implicits._
    val longs = (1 to 10).map(i => s"abcdefghijklmnopq$i").mkString(" ")
    val docs = Seq(
      (1L, "the quick brown fox jumps over some lazy dogs running far"),
      (2L, "a b"),                                       // too few words
      (3L, s"the $longs"),                               // mean word length > 10
      (4L, "the aaa bbb ccc ddd eee fff ggg hhh iii ###"), // symbol ratio
      (5L, "zzz yyy xxx wwv vvu uut tts ssr rrq qqp"),   // no stopword
      (6L, "the the the the the the the the the the")    // dup fraction
    ).toDF("doc_id", "text")
    val got = TextStats.gopherRules(docs, "doc_id", "text",
        minWords = 10, maxWords = 100, stopMin = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
    //              (id, words, meanLen, symbols, stops, dup, keep)
    assert(got(0) == ((1L, true, true, true, true, true, true)))
    assert(got(1)._2 == false && got(1)._7 == false)
    assert(got(2) == ((3L, true, false, true, true, true, false)))
    assert(got(3) == ((4L, true, true, false, true, true, false)))
    assert(got(4) == ((5L, true, true, true, false, true, false)))
    assert(got(5) == ((6L, true, true, true, true, false, false)))
  }

  test("quantileNormalize: hand-computed per-group percentiles") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L), (4L, "a", 40L), (5L, "a", 50L),
      (6L, "b", 500L), (7L, "b", 100L),
      (8L, "c", 7L)).toDF("id", "g", "score")
    val out = TextStats.quantileNormalize(df, "id", "g", "score")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    // group a: ranks 1..5 → 0, 250, 500, 750, 1000
    // group b: low score → 0, high → 1000 (raw 500 beats a's 50 — the
    // normalization is exactly what makes them comparable)
    // group c: single doc → 0
    assert(out.toSeq === Seq((1L, 0L), (2L, 250L), (3L, 500L), (4L, 750L),
      (5L, 1000L), (6L, 1000L), (7L, 0L), (8L, 0L)))
  }

  test("blocklistGate: hand-computed hits, case-insensitive, zero-hit docs kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "BAD words bad words"),
      (3L, "one Bad apple"),
      (4L, "")).toDF("id", "text")
    val out = TextStats.blocklistGate(docs, "id", "text",
        terms = Seq("bad", "evil"), maxHits = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, true),
      (2L, 2L, 1L, false),   // "BAD" + "bad" → 2 hits, 1 distinct term
      (3L, 1L, 1L, true),
      (4L, 0L, 0L, true)))
  }

  test("pmiCollocations: an exclusive pair outranks a promiscuous word's pairs") {
    import spark.implicits._
    // "strong glue" only ever occur together; "of" pairs with everything
    val docs = ((1L to 8L).map(i => (i, "strong glue of x" + i + " of y" + i)) ++
      Seq((20L, "of z1 of z2 of z3"))).toDF("id", "text")
    val out = TextStats.pmiCollocations(docs, "id", "text", minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.head._1 === "strong glue",
      s"exclusive collocation should rank first, got ${out.head}")
    // and its PMI must strictly exceed any "of"-pair that qualified
    val ofPmi = out.filter(_._1.split(" ").contains("of")).map(_._3)
    ofPmi.foreach(p => assert(out.head._3 > p))
  }

  test("pmiCollocations: integer, deterministic, partition-invariant") {
    import spark.implicits._
    val docs = (1L to 60L).map(i =>
      (i, s"w${i % 6} w${i % 4} w${i % 6} w${i % 3} end")).toDF("id", "text")
    val a = TextStats.pmiCollocations(docs, "id", "text", 2, 20).collect()
    val b = TextStats.pmiCollocations(docs.repartition(9), "id", "text", 2, 20)
      .collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getLong(2) >= 0L,
      "negative PMI floors at 0 via the clamp"))
  }

  test("textRank: the hub word of a star graph ranks first") {
    val docs = Seq(
      (1L, "hub alpha"), (2L, "hub beta"), (3L, "hub gamma"),
      (4L, "hub delta"), (5L, "alpha beta"))
      .toDF("id", "text")
    val out = TextStats.textRank(docs, "id", "text", iters = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head._1 === "hub", s"hub must out-rank leaves: ${out.toSeq}")
    assert(out.map(_._1).toSet ===
      Set("hub", "alpha", "beta", "gamma", "delta"))
    // damped PageRank conserves (up to floor loss) the 1e12 total mass
    val total = out.map(_._2).sum
    assert(total <= 1000000000000L && total > 990000000000L,
      s"rank mass $total should be ~1e12 minus floor loss")
    // hub degree: 4 undirected adjacencies = wdeg 4; alpha/beta 2 each
    assert(out.find(_._1 == "hub").get._3 === 4L)
    assert(out.find(_._1 == "alpha").get._3 === 2L)
  }

  test("mitchellE8Long ≡ mitchellE8Sql over the whole domain (property)") {
    val rnd = new scala.util.Random(42)
    val qs = (Seq(1L << 20, (1L << 20) + 1, (1L << 62) - 1, 1L << 62,
      Long.MaxValue - 1) ++
      (1 to 400).map { _ =>
        val e = 20 + rnd.nextInt(43)
        (1L << e) + (math.abs(rnd.nextLong()) % (1L << math.min(e, 61)))
      }).distinct.filter(_ >= (1L << 20))
    val df = qs.toDF("q")
    val sql = df.selectExpr("q", TextStats.mitchellE8Sql("q") + " AS m")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    qs.foreach { q =>
      assert(TextStats.mitchellLong(q, TextStats.E8Bits) === sql(q),
        s"Scala/SQL Mitchell drift at q=$q")
    }
  }

  test("zipfReport: hand-computed ranks and Mitchell log drops") {
    val docs = Seq((1L, "a a a a b b c"), (2L, "a b c d")).toDF("id", "text")
    // counts: a=5, b=3, c=2, d=1; k=3 uses d only for c's drop
    val out = TextStats.zipfReport(docs, "id", "text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def m8(c: Long) = TextStats.mitchellLong(c << 20, TextStats.E8Bits)
    assert(out.toSeq === Seq(
      (1L, "a", 5L, m8(5) - m8(3)),
      (2L, "b", 3L, m8(3) - m8(2)),
      (3L, "c", 2L, m8(2) - m8(1))))
    // beyond the vocabulary the drop is null
    val all = TextStats.zipfReport(docs, "id", "text", k = 10)
      .orderBy("rank").collect()
    assert(all.length === 4 && all.last.isNullAt(3))
    val b = TextStats.zipfReport(docs.repartition(5), "id", "text", 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === b.toSeq)
  }

  test("heapsCurve: hand-computed buckets, new-word attribution, cumsums") {
    // ids 0..9, 2 buckets: 0-4 -> bucket 0, 5-9 -> bucket 1
    val docs = (0L until 10L).map(i =>
      (i, if (i < 5) "a b" else "a c c")).toDF("doc_id", "text")
    val out = TextStats.heapsCurve(docs, "doc_id", "text", nBuckets = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq(
      (0L, 10L, 2L, 10L, 2L),  // {a, b} first appear here
      (1L, 15L, 1L, 25L, 3L))) // only {c} is new
    val b = TextStats.heapsCurve(docs.repartition(7), "doc_id", "text", 2)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === b.toSeq)
  }

  test("wordTriangles: hand-counted triangle and clustering coefficients") {
    // graph: triangle a-b-c plus pendant edge a-d
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "c a"), (4L, "a d"))
      .toDF("id", "text")
    val out = TextStats.wordTriangles(docs, "id", "text")
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("a", 3L, 1L, 333L),  // 2·1/(3·2) = 1/3
      ("b", 2L, 1L, 1000L), // 2·1/(2·1) = 1
      ("c", 2L, 1L, 1000L),
      ("d", 1L, 0L, 0L)))   // degree < 2 → cc 0
  }

  test("wordTriangles ≡ across partitionings; a clique of 4 has 4 triangles") {
    // K4 over {p,q,r,s}: every doc contributes one edge
    val docs = Seq("p q", "p r", "p s", "q r", "q s", "r s")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = TextStats.wordTriangles(docs, "id", "text")
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // each K4 node: degree 3, C(3,2)=3 triangles through it, cc = 1
    assert(out.toSeq === Seq("p", "q", "r", "s").map(w => (w, 3L, 3L, 1000L)))
    val b = TextStats.wordTriangles(docs.repartition(5), "id", "text")
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === b.toSeq)
  }

  test("ngramOverlapScores: hand-computed clipped precisions, partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c"),   // unigrams {a:2, b:1, c:1}, bigrams {a b, b a, a c}
      (2L, "a b b d"),   // unigrams {a:1, b:2, d:1}, bigrams {a b, b b, b d}
      (10L, "x y"),
      (11L, "x y z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.ngramOverlapScores(pairs, d, "doc_id", "text")
        .orderBy("id_a").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val out = run(docs)
    // pair (1,2): clip1 = min(2,1)+min(1,2)+min(1,0) = 2 of 4 → 500000;
    // clip2 = {"a b"} = 1 of 3 → 333333
    assert(out(0) === ((1L, 2L, 2L, 4L, 500000L, 1L, 3L, 333333L)))
    // pair (10,11): "x y" is a sub-bag of "x y z" at both orders → 10⁶
    assert(out(1) === ((10L, 11L, 2L, 2L, 1000000L, 1L, 1L, 1000000L)))
    assert(out.toSeq === run(docs.repartition(7)).toSeq)
  }

  test("discriminativeWords: G² ranks the class-exclusive words first; values match the Scala mirror") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "x y"), (2L, "A", "x z"), (3L, "A", "x w"),
      (4L, "B", "y q"), (5L, "B", "z q"), (6L, "B", "w q"), (7L, "B", "q r"))
      .toDF("doc_id", "lang", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.discriminativeWords(d, "doc_id", "text", "lang", k = 3)
        .orderBy("lang", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
    val out = run(docs)
    // the class-exclusive words dominate their class's ranking
    assert(out.find(_._1 == "A").get._3 === "x")
    assert(out.find(_._1 == "B").get._3 === "q")
    // independent re-statement of the G² arithmetic via the Scala
    // Mitchell mirror (property-pinned to the SQL emitter elsewhere)
    def L(n: Long): Long = TextStats.mitchellLong(n << 20, TextStats.E8Bits) - 160
    def term(n: Long, r: Long, c: Long, nTot: Long): Long =
      if (n > 0) n * (L(n) + L(nTot) - L(r) - L(c)) else 0L
    def g2(n11: Long, df: Long, nc: Long, n: Long): Long =
      2 * (term(n11, df, nc, n) + term(df - n11, df, n - nc, n) +
        term(nc - n11, n - df, nc, n) +
        term(n - df - nc + n11, n - df, n - nc, n))
    // word "x": n11=3 in A (3 docs), df=3, N=7
    assert(out.find(r => r._1 == "A" && r._3 == "x").get._7 === g2(3, 3, 3, 7))
    assert(out.find(r => r._1 == "B" && r._3 == "q").get._7 === g2(4, 4, 4, 7))
    assert(out.toSeq === run(docs.repartition(5)).toSeq)
  }

  test("distinctNgramReport: hand-computed distinct-1/-2, partition-invariant") {
    import spark.implicits._
    val docs = Seq((1L, "A", "a b a"), (2L, "A", "a c"),
      (3L, "B", "x x x x")).toDF("doc_id", "lang", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.distinctNgramReport(d, "lang", "text")
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
    val out = run(docs)
    // A: unigrams 5 total {a,b,c} distinct → 600‰; bigrams
    // {"a b","b a","a c"} = 3 of 3 → 1000‰
    assert(out(0) === (("A", 5L, 3L, 600L, 3L, 3L, 1000L)))
    // B: "x x x x" → 4 unigrams 1 distinct (250‰); 3 bigrams all
    // "x x" (333‰)
    assert(out(1) === (("B", 4L, 1L, 250L, 3L, 1L, 333L)))
    assert(out.toSeq === run(docs.repartition(5)).toSeq)
  }

  test("rankBiasedOverlap: hand-computed overlaps; identical lists hit the closed form") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((2L, 1), (1L, 2), (4L, 3)).toDF("id", "rank")
    val out = TextStats.rankBiasedOverlap(a, b, 3)
      .orderBy("d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // d=1: {1}∩{2}=0; d=2: {1,2}∩{2,1}=2; d=3: {1,2,3}∩{2,1,4}=2
    // terms: 0; (1e6·2·9)div(10·2)=900000; (1e6·2·81)div(100·3)=540000
    assert(out.toSeq === Seq((1L, 0L, 0L, 0L),
      (2L, 2L, 1000000L, 90000L), (3L, 2L, 666666L, 144000L)))
    // identical k=20 lists: truncated RBO = Σ(1−p)p^{i−1} = 1 − 0.9^20
    // (up to the shared per-term floors)
    val ident = (1L to 20L).map(i => (i, i.toInt)).toDF("id", "rank")
    val rbo20 = TextStats.rankBiasedOverlap(ident, ident, 20)
      .orderBy("d").collect().last.getLong(3)
    val expect = (1 to 20).map { i =>
      (BigInt(1000000) * BigInt(9).pow(i - 1) * i /
        (BigInt(10).pow(i - 1) * i)).toLong
    }.sum / 10
    assert(rbo20 === expect)
    assert(math.abs(rbo20 - 878423L) <= 5, s"rbo20=$rbo20 vs 1−0.9^20")
  }

  test("tokenEntropy: uniform 4-word distribution is exactly 2 bits; constant is 0") {
    import spark.implicits._
    val docs = Seq((1L, "A", "a b c d"), (2L, "B", "z z z z"))
      .toDF("doc_id", "lang", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.tokenEntropy(d, "lang", "text")
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run(docs)
    // powers of two are EXACT in the Mitchell approximation: H(uniform
    // over 4) = 2.000000 bits on the nose; a constant source is 0
    assert(out.toSeq === Seq(("A", 4L, 4L, 2000000L), ("B", 4L, 1L, 0L)))
    assert(out.toSeq === run(docs.repartition(3)).toSeq)
  }

  test("Bm25Index: parquet round trip; probe ≡ per-query bm25 row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, desc}
    val docs = (1L to 40L).map(i =>
      (i, (0 to 10).map(j => s"word${(i * 3 + j * 5) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    val terms = Seq("word0", "word3", "word7").toDF("t")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    TextStats.bm25IndexBuild(docs, "doc_id", "text").save(dir)
    val loaded = TextStats.Bm25Index.load(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(desc("bm25_x"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val probe = rows(TextStats.bm25Probe(loaded, terms, "t", 100))
    val direct = TextStats.bm25(docs, "doc_id", "text", terms, "t",
        Seq.empty, 100)
      .select(col("doc_id").as("id"), col("n_tokens"), col("n_terms_hit"),
        col("bm25_x"))
    assert(probe.toSeq === rows(direct).toSeq)
    assert(probe.nonEmpty)
    // the index is query-independent: a DIFFERENT term set probes the
    // same persisted tables and still matches the per-query scorer
    val terms2 = Seq("word1", "word8").toDF("t")
    assert(rows(TextStats.bm25Probe(loaded, terms2, "t", 100)).toSeq ===
      rows(TextStats.bm25(docs, "doc_id", "text", terms2, "t", Seq.empty, 100)
        .select(col("doc_id").as("id"), col("n_tokens"),
          col("n_terms_hit"), col("bm25_x"))).toSeq)
  }

  test("percolate: min-match semantics hand-computed, partition-invariant") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the table row was scanned"),   // matches q1? terms {table,row,scan}: has table,row — scan≠scanned → 2 ≥ 2 ✓
      (2L, "a fast run"),                  // q2: fast → 1 ≥ 1 ✓
      (3L, "nothing relevant here"),       // no alerts
      (4L, "table table table"))           // q1: only 'table' distinct → 1 < 2 ✗
      .toDF("doc_id", "text")
    val queries = Seq(
      (1L, Seq("table", "row", "scan"), 2L),
      (2L, Seq("fast", "slow"), 1L)).toDF("query_id", "terms", "min_match")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.percolate(d, "doc_id", "text", queries,
          "query_id", "terms", "min_match")
        .orderBy("doc_id", "query_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    val out = run(docs)
    assert(out.toSeq === Seq((1L, 1L, 2L, 2L, 3L), (2L, 2L, 1L, 1L, 2L)))
    assert(out.toSeq === run(docs.repartition(3)).toSeq)
    // duplicate terms in a registered query don't double-count
    val dup = Seq((9L, Seq("fast", "fast"), 2L)).toDF("query_id", "terms", "min_match")
    assert(TextStats.percolate(docs, "doc_id", "text", dup,
      "query_id", "terms", "min_match").count() === 0)
  }

  test("chao1Richness: hand-computed estimator incl the f2=0 correction") {
    import spark.implicits._
    val docs = Seq((1L, "A", "a a b c"), (2L, "B", "x y"))
      .toDF("doc_id", "lang", "text")
    val out = TextStats.chao1Richness(docs, "lang", "text")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // A: V=3, N=4, f1=2, f2=1 → 3000 + 1000·4/2 = 5000; unseen 500‰
    assert(out(0) === (("A", 4L, 3L, 2L, 1L, 5000L, 500L)))
    // B: f2=0 → bias-corrected f1(f1−1)/2 = 1 → 2000 + 1000 = 3000
    assert(out(1) === (("B", 2L, 2L, 2L, 0L, 3000L, 1000L)))
  }

  test("seedExpansion: teleport mass stays near the seeds") {
    // two 3-word cliques bridged by one edge: seeds (top degree) land
    // in the 'a' clique, so the a-side leaf must out-rank the
    // symmetric b-side leaf — proximity, not global centrality
    val docs = Seq(
      (1L, "a1 a2"), (2L, "a2 a3"), (3L, "a3 a1"), (4L, "a1 a2"),
      (5L, "b1 b2"), (6L, "b2 b3"), (7L, "b3 b1"),
      (8L, "a1 b1"))
      .toDF("id", "text")
    val out = TextStats.seedExpansion(docs, "id", "text", iters = 5,
        seedK = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // degrees: a1=5, a2=4 (doc 1+4 double the a1-a2 edge), others <4
    assert(out.filter(_._4 == 1L).map(_._1).toSet === Set("a1", "a2"))
    // mass conservation up to floor loss
    val total = out.map(_._2).sum
    assert(total <= 1000000000000L && total > 980000000000L)
    // a3 touches both seeds; b2/b3 are ≥2 hops from any seed
    val rank = out.map(r => r._1 -> r._2).toMap
    assert(rank("a3") > rank("b2") && rank("a3") > rank("b3"),
      s"seed-adjacent must out-rank distant: $rank")
    // every rank positive (the graph is connected)
    assert(out.forall(_._2 > 0))
  }

  test("seedExpansion is partition-invariant and deterministic") {
    val docs = spark.range(0, 200).selectExpr("id",
      "concat('w', CAST(id % 17 AS STRING), ' w', CAST(id % 5 AS STRING), " +
        "' w', CAST(id % 11 AS STRING), ' w', CAST((id * 7) % 17 AS STRING)) AS text")
    val a = TextStats.seedExpansion(docs, "id", "text", iters = 3,
      seedK = 5, k = 15).collect()
    val b = TextStats.seedExpansion(docs.repartition(9), "id", "text",
      iters = 3, seedK = 5, k = 15).collect()
    assert(a.toSeq === b.toSeq && a.nonEmpty)
  }

  test("curationVerdict: clean keep, per-gate reason bits, dup winner" +
    " vs loser") {
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps"),         // clean -> keep
      (2L, "en", "the little pony runs fast"),         // dup winner
      (3L, "en", "the little pony runs fast"),         // dup loser -> 128
      (4L, "en", "the quick brown fox emails bob@x.com okay"), // PII -> 32
      (5L, "en", "the badword badword fox runs"),      // blocklist -> 64
      (6L, "en", "hi"))                    // short+meanlen+stops -> 1+2+8
      .toDF("doc_id", "lang", "text")
    val out = TextStats.curationVerdict(docs, "doc_id", "text",
        carry = Seq("lang"), minWords = 3, maxWords = 100, stopMin = 1,
        blockTerms = Seq("badword"), maxBlockHits = 0)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) === ((0L, true)))
    assert(out(2L) === ((0L, true)))   // min-id dup wins
    assert(out(3L) === ((128L, false)))
    assert(out(4L) === ((32L, false)))
    assert(out(5L) === ((64L, false)))
    assert(out(6L) === ((11L, false))) // words + mean-len + stopwords
  }

  test("textRank is partition-invariant and deterministic") {
    val docs = spark.range(0, 200).selectExpr("id",
      "concat('w', CAST(id % 17 AS STRING), ' w', CAST(id % 5 AS STRING), " +
        "' w', CAST(id % 11 AS STRING), ' w', CAST((id * 7) % 17 AS STRING)) AS text")
    val a = TextStats.textRank(docs, "id", "text", iters = 3, k = 15).collect()
    val b = TextStats.textRank(docs.repartition(9), "id", "text", iters = 3, k = 15)
      .collect()
    assert(a.toSeq === b.toSeq && a.nonEmpty)
  }

  test("hillTailIndex: exact Mitchell log sum on power-of-two counts") {
    import spark.implicits._
    // counts 8/4/2 with k=2: T = (L8-L2)+(L4-L2)+0 = 16+8 = 24 e8,
    // alpha_x1000 = 16e9 // (693147*24) = 961
    val docs = Seq(("a " * 8 + "b " * 4 + "c " * 2).trim).toDF("text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.hillTailIndex(d, "text", k = 2).head()
    val r = run(docs)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((2L, 2L, 24L, 961L)))
  }

  test("textTiling: the topic seam gets full depth and the boundary flag") {
    import spark.implicits._
    // two repeated topics of 2 blocks each: cohesion 1000 inside a
    // topic, 0 at the seam; only the seam dips below the 666 mean
    val docs = Seq((1L,
      "aa bb cc aa bb cc dd ee ff dd ee ff")).toDF("id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.textTiling(d, "id", "text", blockTokens = 3)
        .orderBy("gap").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val out = run(docs)
    assert(out.toSeq === Seq(
      (0L, 1000L, 0L, false),
      (1L, 0L, 2000L, true),
      (2L, 1000L, 0L, false)))
    assert(out.toSeq === run(docs.repartition(3)).toSeq)
  }

  test("vocabJaccard: hand sets — overlap, nesting reads high containment") {
    val docs = Seq(
      ("A", "x y z w"),      // V_A = {x,y,z,w}
      ("B", "x y"),          // V_B = {x,y} ⊂ V_A
      ("C", "x q r s t u")) // V_C: shares only x with A
      .toDF("source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.vocabJaccard(d, "source", "text")
        .orderBy("group_a", "group_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7)))
    val out = run(docs)
    assert(out.toSeq === Seq(
      // B nested in A: Jaccard 2/4 but containment_b = 100%
      ("A", "B", 4L, 2L, 2L, 500000L, 500000L, 1000000L),
      ("A", "C", 4L, 6L, 1L, 111111L, 250000L, 166666L),
      ("B", "C", 2L, 6L, 1L, 142857L, 500000L, 166666L)))
    assert(out.toSeq === run(docs.repartition(4)).toSeq)
  }

  test("knSurprisal ≡ a plain-Scala Kneser-Ney reference (differential)") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran on a mat"),
      (3L, "a dog ran quickly home the cat"),
      (4L, "x")) // < 2 tokens: zero bigrams, totals must still emit
    val docs = corpus.toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.knSurprisal(d, "doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run(docs)

    // reference: same whitespace tokens, rational KN with d=3/4,
    // the same Mitchell eighth-bit log and clamp
    val docBgs = corpus.map { case (id, t) =>
      val w = t.trim.split("\\s+").toSeq
      (id, if (w.size < 2) Seq.empty else w.sliding(2).map(p => (p(0), p(1))).toSeq)
    }
    val allBgs = docBgs.flatMap(_._2)
    val c2 = allBgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = allBgs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1w1 = c2.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ncw2 = c2.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nt = c2.size.toLong
    val shift = TextStats.LmShift
    def sE8(b: (String, String)): Long = {
      val num = BigInt(math.max(4 * c2(b) - 3, 0L)) * nt +
        BigInt(3) * n1w1(b._1) * ncw2(b._2)
      val qRaw = (BigInt(4) * c1(b._1) * nt * (1L << shift)) / num
      val q = qRaw.max(BigInt(1L << shift)).min(BigInt(1L << 62)).toLong
      TextStats.mitchellLong(q, TextStats.E8Bits) - 8L * shift
    }
    val expected = docBgs.map { case (id, bgs) =>
      val s8 = bgs.map(sE8).sum
      val bits = (s8 * 10) / math.max(8 * bgs.size, 1)
      (id, bgs.size.toLong, s8, bits)
    }
    assert(out.toSeq === expected)
    // "the cat" (seen twice, rich continuations) must cost fewer bits
    // than the hapax bigrams around it — spot the KN shape
    assert(sE8(("the", "cat")) < sE8(("dog", "ran")))
    assert(out.toSeq === run(docs.repartition(3)).toSeq)
  }

  test("compressionRatio: boilerplate deflates tiny, high-entropy text doesn't; empty is total") {
    val rnd = new scala.util.Random(3)
    val noisy = Seq.fill(2000)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, "ab " * 2000),  // 6000 bytes of pure repetition
      (2L, noisy),         // ~2000 chars of uniform letters
      (3L, ""))            // totality: empty doc must not divide by 0
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.compressionRatio(d, "doc_id", "text")
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4)))
    val out = run(docs)
    assert(out(0)._2 === 6000L)
    assert(out(0)._4 < 50L, s"repetition should deflate tiny: ${out(0)}")
    assert(out(0)._5, "boilerplate must flag repetitive")
    // uniform random letters carry ~4.7 bits/char — deflate cannot
    // get near the repetitive regime
    assert(out(1)._4 > 500L, s"high-entropy text flagged: ${out(1)}")
    assert(!out(1)._5)
    assert(out(2)._2 === 0L && !out(2)._5)
    assert(out.toSeq === run(docs.repartition(3)).toSeq)
  }

  test("kcorePeel: a 4-clique survives k=3, the pendant chain peels off") {
    // doc 1 walks every edge of the clique {a,b,c,d}; doc 2 hangs the
    // chain d-e-f-g off it. Degrees: a,b,c=3, d=4, e=2, f=2, g=1.
    val docs = Seq(
      (1L, "a b c d a c b d"),
      (2L, "d e f g"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextStats.kcorePeel(d, "doc_id", "text", k = 3, rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = run(docs)
    // round 1 drops e/f/g and the 3 chain edges in one sweep; the
    // clique is its own 3-core — rounds 2..3 repeat it (the fixpoint
    // is visible as the flat tail)
    assert(out.toSeq === Seq(
      (0L, 7L, 9L), (1L, 4L, 6L), (2L, 4L, 6L), (3L, 4L, 6L)))
    assert(out.toSeq === run(docs.repartition(5)).toSeq)
  }

  test("knNextWord ranks observed continuations by the exact KN rational") {
    import spark.implicits._
    // corpus "a b a b a c": c2 (a,ab)=2 (a,ac)=1 (b,ba)=2;
    // c1: a=3 (n1w1=2), b=2 (n1w1=1); ncw2: b=1, a=1, c=1; nt=3
    val docs = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val out = TextStats.knNextWord(docs, "doc_id", "text",
        topContexts = 2, topK = 3)
      .orderBy("context", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    def q(c1: Long, c2: Long, n1w1: Long, ncw2: Long, nt: Long): Long = {
      val shift = TextStats.LmShift
      val num = BigInt(4) * c1 * nt * (BigInt(1) << shift)
      val den = BigInt((4 * c2 - 3).max(0)) * nt + BigInt(3) * n1w1 * ncw2
      (num / den).toLong.max(1L << shift).min(1L << 62)
    }
    def bits(qv: Long): Long =
      ((TextStats.mitchellLong(qv, TextStats.E8Bits) - 8L * TextStats.LmShift) * 10) / 8
    assert(out.toSeq === Seq(
      ("a", 1L, "b", bits(q(3, 2, 2, 1, 3))),
      ("a", 2L, "c", bits(q(3, 1, 2, 1, 3))),
      ("b", 1L, "a", bits(q(2, 2, 1, 1, 3)))))
    // higher-count continuation is less surprising
    assert(out(0)._4 <= out(1)._4)
  }

  test("sourceTfidfCosine: identical sources cosine 1e6, disjoint absent") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "apple banana cherry"), ("s2", "apple banana cherry"),
      ("s3", "dog emu fox"), ("s4", "apple dog zebra"))
      .toDF("source", "text")
    val out = TextStats.sourceTfidfCosine(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("cos_x1e6"))).toMap
    assert(out(("s1", "s2")) === ((3L, 1000000L)))
    assert(!out.contains(("s1", "s3"))) // disjoint vocab: no pair row
    val (nc, cos) = out(("s3", "s4")) // share "dog"
    assert(nc === 1L && cos > 0L && cos < 1000000L)
  }

  test("charClassProfile counts every class and flags other-bearing docs") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "Ab c9!"),            // 3 letter, 1 digit, 1 space, 1 punct
      ("s1", "xéy"),          // é is "other": 2 letters + 1 other
      ("s2", "...."))              // all punct
      .toDF("source", "text")
    val out = TextStats.charClassProfile(docs, "source", "text")
      .orderBy("source").collect()
    val s1 = out(0)
    assert(s1.getAs[Long]("n_docs") === 2L)
    assert(s1.getAs[Long]("n_chars") === 9L)
    assert(s1.getAs[Long]("n_letter") === 5L)
    assert(s1.getAs[Long]("n_digit") === 1L)
    assert(s1.getAs[Long]("n_space") === 1L)
    assert(s1.getAs[Long]("n_punct") === 1L)
    assert(s1.getAs[Long]("n_other") === 1L)
    assert(s1.getAs[Long]("docs_with_other") === 1L)
    assert(s1.getAs[Long]("letter_ppm") === 1000000L * 5 / 9)
    val s2 = out(1)
    assert(s2.getAs[Long]("n_punct") === 4L)
    assert(s2.getAs[Long]("docs_with_other") === 0L)
  }

  test("readability scores a known sentence and excludes empty docs") {
    import spark.implicits._
    val docs = Seq(
      ("en", "the cat sat."),  // w=3 s=1 y=3 (e,a,a)
      ("en", "   "),           // empty -> excluded, counted
      ("fr", "bon jour! oui?")) // w=3 s=2 y=3 (o; ou; oui one run)
      .toDF("lang", "text")
    val out = TextStats.readability(docs, "lang", "text")
      .orderBy("lang").collect()
    val en = out(0)
    assert(en.getAs[Long]("n_docs") === 1L)
    assert(en.getAs[Long]("n_empty") === 1L)
    // fre = 206835 - 1015*3/1 - 84600*3/3 = 206835 - 3045 - 84600
    assert(en.getAs[Long]("avg_fre_x1000") === 206835L - 3045L - 84600L)
    // fk = 390*3/1 + 11800*3/3 - 15590 = 1170 + 11800 - 15590
    assert(en.getAs[Long]("avg_fk_grade_x1000") === 1170L + 11800L - 15590L)
    val fr = out(1)
    // fre = 206835 - (1015*3) div 2 - (84600*3) div 3
    assert(fr.getAs[Long]("avg_fre_x1000") ===
      206835L - (1015L * 3) / 2 - (84600L * 3) / 3)
  }

  test("phraseSearch finds top bigrams and counts occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big data big data big data"),   // "big data" x3, "data big" x2
      (2L, "big data"),
      (3L, "small data"),
      (4L, "big"),                           // 1 token -> no bigrams
      (5L, "data big"))
      .toDF("doc_id", "text")
    val out = TextStats.phraseSearch(docs, "doc_id", "text",
        topN = 2, docCap = 10)
      .orderBy("rank", "doc_id").collect()
      .map(r => (r.getAs[Long]("rank"), r.getString(1), r.getAs[Long]("df"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
    // df: "big data" in docs 1,2 (df 2); "data big" in docs 1,5 (df 2);
    // "small data" df 1. tie at 2 -> lexicographic: "big data" rank 1
    assert(out.toSeq === Seq(
      (1L, "big data", 2L, 1L, 3L), (1L, "big data", 2L, 2L, 1L),
      (2L, "data big", 2L, 1L, 2L), (2L, "data big", 2L, 5L, 1L)))
  }

  test("labelPropCommunities ≡ a Scala replay of the same rounds") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a c"), // triangle a-b-c
      (2L, "x y z x y z x z"), // triangle x-y-z
      (3L, "c x"))             // weak bridge
    val out = TextStats.labelPropCommunities(docs.toDF("doc_id", "text"),
      "doc_id", "text", iters = 4, topK = 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

    // independent replay: same bigram multigraph, same synchronous
    // weight-majority rounds with (s DESC, lab) ties, same modularity
    val bigrams = docs.flatMap { case (_, t) =>
      t.trim.split("\\s+").toSeq.sliding(2).collect {
        case Seq(u, v) if u != v => (u, v)
      }.toSeq
    }
    val edges = bigrams.flatMap(p => Seq(p, p.swap))
      .groupBy(identity).map { case ((s, d), xs) => (s, d, xs.size.toLong) }
      .toSeq
    var lab = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 4) lab = edges.groupBy(_._2).map { case (dst, es) =>
      val votes = es.map(e => (lab(e._1), e._3)) :+ ((lab(dst), 1L))
      dst -> votes.groupBy(_._1)
        .map { case (l, g) => (l, g.map(_._2).sum) }
        .toSeq.minBy { case (l, s) => (-s, l) }._1
    }
    val com = lab.values.groupBy(identity)
      .map { case (l, g) => l -> g.size.toLong }
    val intra = edges.filter(e => lab(e._1) == lab(e._2))
      .groupBy(e => lab(e._1)).map { case (l, g) => l -> g.map(_._3).sum }
    val degc = edges.groupBy(_._1).toSeq
      .groupBy { case (n, _) => lab(n) }
      .map { case (l, g) => l -> g.flatMap(_._2.map(_._3)).sum }
    val m2 = edges.map(_._3).sum
    val qn = com.keys.toSeq.map(l => BigInt(intra.getOrElse(l, 0L)) * m2 -
      BigInt(degc(l)) * degc(l)).sum
    val modExp =
      if (qn >= 0) (BigInt(1000000) * qn / (BigInt(m2) * m2)).toLong
      else -((BigInt(1000000) * -qn / (BigInt(m2) * m2)).toLong)
    val exp = com.toSeq
      .map { case (l, n) => (l, n, intra.getOrElse(l, 0L), degc(l), modExp) }
      .sortBy { case (l, n, _, _, _) => (-n, l) }.take(20)
    assert(out === exp)
    // the partition should be non-trivial: fewer communities than nodes
    assert(com.size < edges.map(_._1).distinct.size)
    assert(out.head._5 > 0L) // positive modularity on two triangles
  }

  test("qlRetrieve: hand Dirichlet gain + prior via the mitchell mirror") {
    val mu = 2048L
    def e8(q: Long) = TextStats.mitchellLong(q, TextStats.E8Bits)
    // equal dl so the prior cancels and ranking is gain-only
    val docs = Seq(
      (1L, "apple apple x"), // tf 2
      (2L, "u v w"),         // no hit
      (3L, "apple y z"))     // tf 1
      .toDF("doc_id", "text")
    val terms = Seq("apple").toDF("t")
    val out = TextStats.qlRetrieve(docs, "doc_id", "text", terms, "t",
        mu = mu, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val tot = 9L; val cf = 3L
    def gain(tf: Long) =
      e8((tf * tot + mu * cf) * 1024) - e8(mu * cf * 1024)
    def prior(dl: Long) = e8(mu << 20) - e8((dl + mu) << 20)
    val want = Seq(
      (1L, 3L, 1L, gain(2) + prior(3)),
      (2L, 3L, 0L, prior(3)),
      (3L, 3L, 1L, gain(1) + prior(3)))
      .sortBy { case (id, _, _, s) => (-s, id) }
    assert(out === want)
    // gains are monotone in tf even when the e8 resolution floors
    // tiny ratios (μ·cf ≫ tf·tot here)
    assert(gain(2) >= gain(1) && gain(1) >= 0)
  }

  test("tokenF1: multiset overlap, shared-numerator P/R/F1, zero pair") {
    val docs = Seq(
      (1L, "a a b c"),   // tf: a2 b1 c1, len 4
      (2L, "a b b d"),   // tf: a1 b2 d1, len 4
      (3L, "x y"),       // disjoint from 1
      (4L, "a a b c"))   // identical to 1
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = TextStats.tokenF1(pairs, docs, "doc_id", "text")
      .orderBy("id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // 1 vs 2: overlap = min(2,1) + min(1,2) = 2 -> P = R = 1/2, F1 = 1/2
    assert(out(0) === ((1L, 2L, 2L, 4L, 4L, 500000L, 500000L, 500000L)))
    // 1 vs 3: disjoint -> zeros
    assert(out(1) === ((1L, 3L, 0L, 4L, 2L, 0L, 0L, 0L)))
    // 1 vs 4: identical -> everything 1e6
    assert(out(2) === ((1L, 4L, 4L, 4L, 4L, 1000000L, 1000000L, 1000000L)))
  }

  test("qlProbe on the persisted-index tables ≡ qlRetrieve (differential)") {
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana date"),
      (3L, "cherry apple apple apple"),
      (4L, "elder fig grape"))
      .toDF("doc_id", "text")
    val terms = Seq("apple", "banana").toDF("t")
    val batch = TextStats.qlRetrieve(docs, "doc_id", "text", terms, "t",
        k = 10)
      .collect().map(_.toSeq)
    val idx = TextStats.bm25IndexBuild(docs, "doc_id", "text")
    val probed = TextStats.qlProbe(idx, terms, "t", k = 10)
      .collect().map(_.toSeq)
    assert(probed.toSeq === batch.toSeq)
  }

  test("qlRetrieve: the gain separates a matched doc once tf·T ≳ μ·cf") {
    // one rare term in a big corpus: cf = 1, T ≈ 10000 ≫ μ, so the
    // matched doc must STRICTLY outrank an unmatched doc of equal dl
    val filler = Seq.fill(4999)("x").mkString(" ")
    val docs = Seq(
      (1L, s"apple $filler"),
      (2L, s"zzz $filler")).toDF("doc_id", "text")
    val terms = Seq("apple").toDF("t")
    val out = TextStats.qlRetrieve(docs, "doc_id", "text", terms, "t",
        k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(out.head._1 === 1L)
    assert(out(0)._2 > out(1)._2)
  }

  test("goodTuring: hand-counted fof; all-singleton and repeat-heavy edges") {
    val df = Seq(("g1", "a a a b b c"), ("g2", "x y z")).toDF("g", "text")
    val m = TextStats.goodTuring(df, "g", "text").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    // g1: counts a=3 b=2 c=1 -> N=6 V=3 N1=1 N2=1
    assert(m("g1").getAs[Long]("n_tokens") === 6L)
    assert(m("g1").getAs[Long]("vocab") === 3L)
    assert(m("g1").getAs[Long]("n1") === 1L)
    assert(m("g1").getAs[Long]("n2") === 1L)
    assert(m("g1").getAs[Long]("p0_ppm") === 166666L)   // 1e6*1/6
    assert(m("g1").getAs[Long]("r1_star_x1000") === 2000L) // 2000*1/1
    // g2 all singletons: P0 = 1 (everything once-seen), r1* = 0
    assert(m("g2").getAs[Long]("p0_ppm") === 1000000L)
    assert(m("g2").getAs[Long]("r1_star_x1000") === 0L)
  }

  test("yuleK: hand-computed K; zero for all-singleton text") {
    val df = Seq(("s1", "a a a b b c"), ("s2", "p q r s")).toDF("g", "text")
    val m = TextStats.yuleK(df, "g", "text").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    // s1: m2 = 9+4+1 = 14, N=6 -> 1e6*(14-6)/36 = 222222
    assert(m("s1").getAs[Long]("n_tokens") === 6L)
    assert(m("s1").getAs[Long]("vocab") === 3L)
    assert(m("s1").getAs[Long]("yule_k_x100") === 222222L)
    // every word once: m2 = N -> K = 0 (the length-invariance anchor)
    assert(m("s2").getAs[Long]("yule_k_x100") === 0L)
  }

  test("lmCrossPerplexity: diagonal == per-source lmScore; asymmetry reads") {
    val df = Seq(
      (1L, "a", "x y x y x y x y"),
      (2L, "a", "x y x y"),
      (3L, "b", "p q r s t u v w x y"),
      (4L, "b", "m n o p q r")).toDF("doc_id", "src", "text")
    val out = TextStats.lmCrossPerplexity(df, "doc_id", "src", "text")
      .collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) -> r)
      .toMap
    assert(out.size === 4)
    // diagonal == lmScore of the source under its OWN lmTrain model
    for (s <- Seq("a", "b")) {
      val own = df.where(org.apache.spark.sql.functions.col("src") === s)
      val self = TextStats.lmScore(own, "doc_id", "text",
          TextStats.lmTrain(own, "doc_id", "text"))
        .agg(org.apache.spark.sql.functions.sum("n_bigrams"),
          org.apache.spark.sql.functions.sum("surprisal_e8")).collect()(0)
      assert(out((s, s)).getAs[Long]("n_bigrams") === self.getLong(0))
      assert(out((s, s)).getAs[Long]("cross_e8") === self.getLong(1))
    }
    // the Moore-Lewis direction: for FIXED text a, the in-domain
    // model beats the foreign model (1 vs 24 e8/bigram here)
    assert(out(("a", "a")).getAs[Long]("avg_e8") <
      out(("a", "b")).getAs[Long]("avg_e8"))
    // and the matrix is genuinely directional: a|b != b|a (the
    // add-one smoothing mass scales with the MODEL's vocab, so the
    // narrow model is lenient on unseen bigrams — 24 vs 7)
    assert(out(("a", "b")).getAs[Long]("avg_e8") !==
      out(("b", "a")).getAs[Long]("avg_e8"))
  }

  test("burrowsDelta: identical styles at zero, outlier style reads") {
    val df = Seq(
      ("a", "x x y"), ("b", "x x y"), ("c", "y y x"))
      .toDF("src", "text")
    val out = TextStats.burrowsDelta(df, "src", "text", k = 2).collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) -> r)
      .toMap
    assert(out.size === 3)
    assert(out(("a", "b")).getAs[Long]("delta_x1000") === 0L)
    assert(out(("a", "c")).getAs[Long]("delta_x1000") > 0L)
    // symmetry through the shared grid: delta(a,c) == delta(b,c)
    assert(out(("a", "c")).getAs[Long]("delta_x1000") ===
      out(("b", "c")).getAs[Long]("delta_x1000"))
    assert(out.values.forall(_.getAs[Long]("n_words") === 2L))
  }

  test("surprisalSpans: worst window lands on the garbled run; short docs omitted") {
    val common = "the cat sat on the mat"
    val df = Seq(
      (1L, s"$common $common $common zq xv qj wk vv bb"),
      (2L, common), // 6 tokens < window+1 -> no full 8-bigram window
      (3L, s"$common $common $common $common"))
      .toDF("doc_id", "text")
    val out = TextStats.surprisalSpans(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === Set(1L, 3L))
    assert(out(1L).getAs[Long]("n_bigrams") === 23L)
    // the six rare tokens sit at bigram positions 17..22 — the
    // worst 8-window must end inside that run
    assert(out(1L).getAs[Long]("span_end_pos") >= 17L)
    // the all-common doc's worst span is far cheaper than doc 1's
    assert(out(3L).getAs[Long]("span_e8") <
      out(1L).getAs[Long]("span_e8"))
  }

  test("surprisalSpansUnderModel: streamed micro-batches == batch, bit-identical") {
    val common = "the cat sat on the mat"
    val df = Seq(
      (1L, s"$common $common $common zq xv qj wk vv bb"),
      (3L, s"$common $common $common $common"),
      (5L, s"$common zz yy $common $common"))
      .toDF("doc_id", "text")
    val expected = TextStats.surprisalSpans(df, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    // foreachBatch form: each micro-batch scores against the FIXED
    // corpus model; spans are doc-local so the union reproduces the
    // batch result exactly
    val model = TextStats.lmTrain(df, "doc_id", "text")
    val streamed = Seq(Seq(1L), Seq(3L, 5L)).map { ids =>
      TextStats.surprisalSpansUnderModel(
        df.where(org.apache.spark.sql.functions.col("doc_id")
          .isin(ids: _*)), "doc_id", "text", model)
    }.reduce(_ unionByName _).orderBy("doc_id").collect().toSeq
    assert(streamed === expected)
  }

  test("lineDedup: common lines drop everywhere, order survives, empty collapse") {
    val docs = Seq(
      (1L, "cookie banner\nunique one\nshare bar"),
      (2L, "cookie banner\nunique two\nshare bar"),
      (3L, "cookie banner\nunique three\nshare bar"),
      (4L, "cookie banner\nshare bar"), // all lines common
      (5L, "alone here"))
      .toDF("id", "text")
    val out = TextStats.lineDedup(docs, "id", "text", maxDocFreq = 2L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_lines_kept"),
          r.getAs[Long]("n_lines_dropped"))).toMap
    // "cookie banner" and "share bar" appear in 4 docs > 2 → dropped
    assert(out(1L) === ("unique one", 1L, 2L))
    assert(out(2L) === ("unique two", 1L, 2L))
    assert(out(3L) === ("unique three", 1L, 2L))
    assert(out(4L) === ("", 0L, 2L)) // CCNet empty collapse
    assert(out(5L) === ("alone here", 1L, 0L))
  }

  test("lineDedup: maxDocFreq boundary keeps lines at exactly the cap") {
    val docs = Seq((1L, "twice\na"), (2L, "twice\nb")).toDF("id", "text")
    val out = TextStats.lineDedup(docs, "id", "text", maxDocFreq = 2L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("clean_text")).toMap
    assert(out(1L) === "twice\na") // df = 2 <= cap → kept
    // df counts DISTINCT docs: a line twice in ONE doc is df=1
    val rep = Seq((1L, "x\nx\nonly"), (2L, "z")).toDF("id", "text")
    val out2 = TextStats.lineDedup(rep, "id", "text", maxDocFreq = 1L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("clean_text")).toMap
    assert(out2(1L) === "x\nx\nonly")
  }

  test("lineDedupAgainst frozen counts: micro-batch probes == batch over same docs") {
    val docs = Seq(
      (1L, "common\none"), (2L, "common\ntwo"), (3L, "common\nthree"))
      .toDF("id", "text")
    val counts = TextStats.lineFrequencies(docs, "id", "text")
      .localCheckpoint() // the frozen artifact
    val expected = TextStats.lineDedupAgainst(docs, "id", "text",
        counts, maxDocFreq = 2L)
      .orderBy("id").collect().toSeq
    val streamed = Seq(Seq(1L), Seq(2L, 3L)).map { ids =>
      TextStats.lineDedupAgainst(
        docs.where(org.apache.spark.sql.functions.col("id")
          .isin(ids: _*)), "id", "text",
        counts, maxDocFreq = 2L)
    }.reduce(_ unionByName _).orderBy("id").collect().toSeq
    assert(streamed === expected)
    // unseen lines (not in the frozen counts) are kept: df -> 0
    val probe = TextStats.lineDedupAgainst(
      Seq((9L, "common\nbrand new line")).toDF("id", "text"),
      "id", "text", counts, maxDocFreq = 2L).collect()
    // "common" carries df=3 in the frozen table → dropped even in
    // the probe; the unseen line keeps (df → 0)
    assert(probe.head.getAs[String]("clean_text") ===
      "brand new line")
  }

  test("templateBoilerplate: shared edge grams, short-doc clamp, minDocs gate") {
    val df = Seq(
      ("s1", "welcome to acme corp unique words one here today now"),
      ("s1", "welcome to acme corp other body text goes right here"),
      ("s1", "welcome to acme corp third variant of the page body"),
      ("s1", "totally different document body with no shared header x"),
      ("s2", "tiny doc"), ("s2", "tiny doc"), ("s2", "tiny doc"))
      .toDF("source", "text")
    val out = TextStats.templateBoilerplate(df, "source", "text",
        k = 4, minDocs = 3L)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[String]("kind"), r.getAs[String]("gram")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("share_ppm"))).toMap
    // s1 header shared by 3 of 4 docs -> 750000 ppm; suffixes all
    // differ so no s1 suffix row survives minDocs
    assert(out(("s1", "prefix", "welcome to acme corp")) ===
      (3L, 750000L))
    assert(!out.keys.exists(k => k._1 == "s1" && k._2 == "suffix"))
    // 2-token docs clamp: prefix == suffix == the whole text
    assert(out(("s2", "prefix", "tiny doc")) === (3L, 1000000L))
    assert(out(("s2", "suffix", "tiny doc")) === (3L, 1000000L))
    assert(out.size === 3)
  }
}
