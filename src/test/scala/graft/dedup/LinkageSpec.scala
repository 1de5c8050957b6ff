package graft.dedup

import graft.SparkSpec
import graft.ops.TextStats
import org.apache.spark.sql.functions._

class LinkageSpec extends SparkSpec {
  import spark.implicits._

  // eighth-bit log2 of a ppm value, the Scala mirror of the operator's
  // log2E8Sql weights
  private def L(n: Long): Long =
    TextStats.mitchellLong(n * (1L << 20), TextStats.E8Bits) - 160L

  test("fellegiSunter: exact u weights, agreement bits, score order") {
    // one block; records 1/2 agree everywhere, 3 agrees with nobody
    val a = Seq((1L, 1L, "1111", 5L, "X"), (3L, 1L, "2222", 6L, "Y"))
      .toDF("id", "blk", "ph", "bal", "seg")
    val b = Seq((2L, 1L, "1111", 5L, "X"), (4L, 2L, "3333", 7L, "Z"))
      .toDF("id", "blk", "ph", "bal", "seg")
    val out = Linkage.fellegiSunter(a, b, "id", col("blk"),
        Seq(Linkage.LinkField("ph", col("ph"), 950000L),
          Linkage.LinkField("bal", col("bal"), 900000L),
          Linkage.LinkField("seg", col("seg"), 850000L)),
        topK = 10)
      .orderBy("rank").collect()
    // block 1 candidate pairs: (1,2) and (3,2)
    assert(out.length === 2)
    val best = out(0)
    assert(best.getAs[Long]("id_a") === 1L && best.getAs[Long]("id_b") === 2L)
    assert(best.getAs[Boolean]("agree_ph") &&
      best.getAs[Boolean]("agree_bal") && best.getAs[Boolean]("agree_seg"))
    // u over the 4-record union: ph counts (2,1,1) -> 6e6/16 = 375000;
    // bal counts (2,1,1) -> 375000; seg counts (2,1,1) -> 375000
    val u = 375000L
    val want = (L(950000L) - L(u)) + (L(900000L) - L(u)) +
      (L(850000L) - L(u))
    assert(best.getAs[Long]("score_e8") === want)
    val worst = out(1)
    assert(worst.getAs[Long]("id_a") === 3L)
    assert(!worst.getAs[Boolean]("agree_ph"))
    val wantWorst = (L(50000L) - L(1000000L - u)) +
      (L(100000L) - L(1000000L - u)) + (L(150000L) - L(1000000L - u))
    assert(worst.getAs[Long]("score_e8") === wantWorst)
    assert(best.getAs[Long]("score_e8") > worst.getAs[Long]("score_e8"))
  }

  test("fellegiSunter maxBlock valve drops oversized blocks") {
    val a = (1 to 20).map(i => (i.toLong, 1L, s"p$i")).toDF("id", "blk", "ph")
    val b = (21 to 40).map(i => (i.toLong, 1L, s"p$i")).toDF("id", "blk", "ph")
      .union(Seq((41L, 2L, "p1")).toDF("id", "blk", "ph"))
    val aa = a.union(Seq((42L, 2L, "p1")).toDF("id", "blk", "ph"))
    val out = Linkage.fellegiSunter(aa, b, "id", col("blk"),
      Seq(Linkage.LinkField("ph", col("ph"), 900000L)),
      topK = 100, maxBlock = 10)
    // block 1 (20×21 sides) is dropped; only block 2's single pair survives
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("id_a") === 42L &&
      rows.head.getAs[Long]("id_b") === 41L)
  }

  test("probeIndex ≡ reference-u scorePairs; parquet round trip; meta gate") {
    val mkB = (1 to 40).map(i =>
      (100L + i, i.toLong % 5, s"k${i % 7}", s"s${i % 3}"))
      .toDF("id", "blk", "f1", "f2")
    val mkA = (1 to 15).map(i =>
      (i.toLong, i.toLong % 5, s"k${i % 7}", s"s${(i + 1) % 3}"))
      .toDF("id", "blk", "f1", "f2")
    val fields = Seq(Linkage.LinkField("f1", col("f1"), 900000L),
      Linkage.LinkField("f2", col("f2"), 800000L))
    val direct = Linkage.scorePairs(mkA, mkB, "id", col("blk"), fields,
        uFromBothSides = false)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val idx = Linkage.buildIndex(mkB, "id", col("blk"), fields)
    val probed = Linkage.probeIndex(mkA, "id", col("blk"), fields, idx)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(probed === direct && direct.nonEmpty)
    // persist + reload: identical probe, batch-splittable (stateless
    // per incoming row, so micro-batch probes union to the full probe)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-linkidx").toString
    idx.save(dir)
    val re = Linkage.LinkIndex.load(spark, dir)
    val b1 = Linkage.probeIndex(mkA.where(col("id") <= 7), "id",
      col("blk"), fields, re).collect().map(_.toSeq).toSet
    val b2 = Linkage.probeIndex(mkA.where(col("id") > 7), "id",
      col("blk"), fields, re).collect().map(_.toSeq).toSet
    assert((b1 ++ b2) === direct.toSet)
    // meta validation: wrong m is rejected
    val bad = Seq(Linkage.LinkField("f1", col("f1"), 900000L),
      Linkage.LinkField("f2", col("f2"), 700000L))
    assertThrows[IllegalArgumentException] {
      Linkage.probeIndex(mkA, "id", col("blk"), bad, re)
    }
  }

  test("linkStream: per-trigger probes ≡ one batch probe of delivered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val refs = (1 to 40).map(i =>
      (100L + i, i.toLong % 5, s"k${i % 7}", s"s${i % 3}"))
      .toDF("id", "blk", "f1", "f2")
    val fields = Seq(Linkage.LinkField("f1", col("f1"), 900000L),
      Linkage.LinkField("f2", col("f2"), 800000L))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-linkidx-s").toString
    Linkage.buildIndex(refs, "id", col("blk"), fields).save(dir)
    val index = Linkage.LinkIndex.load(spark, dir)
    val stream = MemoryStream[(Long, Long, String, String)]
    val out = scala.collection.mutable.Buffer.empty[Seq[Any]]
    val q = Linkage.linkStream(
        stream.toDF().toDF("id", "blk", "f1", "f2"), "id", col("blk"),
        fields, index,
        java.nio.file.Files.createTempDirectory("graft-link-ck").toString) {
      scored => out.synchronized {
        out ++= scored.collect().map(_.toSeq)
      }
    }
    val incoming = (1 to 15).map(i =>
      (i.toLong, i.toLong % 5, s"k${i % 7}", s"s${(i + 1) % 3}"))
    stream.addData(incoming.take(6): _*)
    q.processAllAvailable()
    stream.addData(incoming.drop(6): _*)
    q.processAllAvailable()
    q.stop()
    val batch = Linkage.probeIndex(
        incoming.toDF("id", "blk", "f1", "f2"), "id", col("blk"),
        fields, index)
      .collect().map(_.toSeq)
    assert(out.toSet === batch.toSet && batch.nonEmpty)
  }

  test("goldenStream: final snapshot ≡ batch golden over delivered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val master = (1 to 40).map(i =>
      (100L + i, i.toLong % 5, s"k${i % 7}", s"s${i % 3}"))
      .toDF("id", "blk", "f1", "f2")
    val fields = Seq(Linkage.LinkField("f1", col("f1"), 900000L),
      Linkage.LinkField("f2", col("f2"), 800000L))
    val index = Linkage.buildIndex(master, "id", col("blk"), fields)
    val stream = MemoryStream[(Long, Long, String, String)]
    @volatile var last: Seq[Seq[Any]] = Seq.empty
    val q = Linkage.goldenStream(
        stream.toDF().toDF("id", "blk", "f1", "f2"), "id", col("blk"),
        fields, index, master, scoreMin = 0L,
        canonCols = Seq("f1"), maxCols = Seq("blk"),
        java.nio.file.Files.createTempDirectory("graft-gs-ck").toString) {
      snap => last = snap.orderBy("entity_id").collect().map(_.toSeq).toSeq
    }
    val incoming = (1 to 15).map(i =>
      (i.toLong, i.toLong % 5, s"k${i % 7}", s"s${(i + 1) % 3}"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def held = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    stream.addData(incoming.take(6): _*)
    q.processAllAvailable()
    val heldAfterOne = held
    stream.addData(incoming.drop(6): _*)
    q.processAllAvailable()
    val heldAfterTwo = held
    q.stop()
    // between triggers the stream holds only its accumulated pairs and
    // delivered records: each trigger frees what its new cuts replaced
    assert(heldAfterOne === 2 && heldAfterTwo === 2,
      s"persisted RDDs after trigger 1, 2: $heldAfterOne, $heldAfterTwo")
    val allRecs = master.unionByName(
      incoming.toDF("id", "blk", "f1", "f2"))
    val pairs = Linkage.probeIndex(
        incoming.toDF("id", "blk", "f1", "f2"), "id", col("blk"),
        fields, index)
      .where(col("score_e8") >= 0L).select("id_a", "id_b")
    val batch = Linkage.goldenRecords(allRecs, "id", pairs,
        canonCols = Seq("f1"), maxCols = Seq("blk"))
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    assert(last === batch && batch.nonEmpty)
    // real consolidation happened: fewer entities than records
    assert(last.size < 55)
  }

  test("goldenRecords: chain entity, survivorship rules, singletons") {
    // records 1..5; matches 1-2 and 2-3 chain into one entity; 4, 5
    // stay singletons
    val recs = Seq(
      (1L, "alice", "A", 100L), (2L, "alicia", "B", 300L),
      (3L, "alyce", "C", 200L), (4L, "bob", "D", 50L),
      (5L, "carol", "E", 70L)).toDF("id", "name", "seg", "bal")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Linkage.goldenRecords(recs, "id", pairs,
        canonCols = Seq("name", "seg"), maxCols = Seq("bal"))
      .orderBy("entity_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, 3L, "alice", "A", 300L), // min-id canon, max balance
      (4L, 1L, "bob", "D", 50L),
      (5L, 1L, "carol", "E", 70L)))
  }

  test("phoneticKeySql: classic Soundex vectors (no-H/W-bridging variant)") {
    val df = Seq("Robert", "Rupert", "Tymczak", "Pfister", "Honeyman",
      "Ashcraft", "a", "", "42").toDF("w")
    val out = df.select(col("w"),
        expr(Linkage.phoneticKeySql("w")).as("k"))
      .as[(String, String)].collect().toMap
    assert(out("Robert") === "R163")
    assert(out("Rupert") === "R163") // sound-alikes collide
    assert(out("Tymczak") === "T522")
    assert(out("Pfister") === "P236") // adjacent equal codes collapse
    assert(out("Honeyman") === "H555")
    // variant: no H/W bridging (standard with bridging gives A261)
    assert(out("Ashcraft") === "A226")
    assert(out("a") === "A000") // single letter zero-pads
    assert(out("") === "")      // empty stays empty
    assert(out("42") === "")    // digits strip to empty
  }

  test("phoneticBlocks: same-key words pair within the block, others don't") {
    val df = Seq("Robert Smith", "Rupert Smyth").toDF("name")
    val out = Linkage.phoneticBlocks(df, "name")
      .orderBy("pkey", "word_a", "word_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("R163", "Robert", "Rupert", 2L),
      ("S530", "Smith", "Smyth", 2L)))
  }
}
