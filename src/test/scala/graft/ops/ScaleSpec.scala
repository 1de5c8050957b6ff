package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join matches the plain join result") {
    // 90% of big rows share one hot key
    val big = spark.range(2000)
      .select(when(col("id") % 10 === 0, col("id") % 5).otherwise(lit(1L)).as("k"),
        col("id").as("payload"))
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      .toDF("sk", "label")
    val plain = big.join(small, col("k") === col("sk"))
      .groupBy("label").agg(count(lit(1)).as("n"), sum("payload").as("s"))
    val salted = Scale.saltedJoin(big, small, "k", "sk", saltFactor = 8)
      .groupBy("label").agg(count(lit(1)).as("n"), sum("payload").as("s"))
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("two-phase aggregation matches single-phase on a skewed key") {
    val df = spark.range(5000)
      .select(when(col("id") % 100 === 0, col("id") % 7).otherwise(lit(3L)).as("k"),
        col("id").as("v"))
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val twoPhase = Scale.twoPhaseAgg(df, "k", saltFactor = 8)(
      partials = Seq(count(lit(1)).as("pn"), sum("v").as("pt")),
      finals = Seq(sum("pn").as("n"), sum("pt").as("total")))
    assert(direct.exceptAll(twoPhase).count() === 0)
    assert(twoPhase.exceptAll(direct).count() === 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val shared = spark.conf.get(threshold)
    // a child session owns its SQL conf: forcing the non-broadcast join
    // here must not leak into the suites that share `spark`
    val s = spark.newSession()
    s.conf.set(threshold, "-1")
    // warehouse.dir is static (fixed by the shared session), so the
    // managed tables go to a database with its own temp location
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toUri
    s.sql(s"CREATE DATABASE scale_spec LOCATION '$wh'")
    try {
      val a = s.range(1000).select(col("id").as("k"), (col("id") * 2).as("va"))
      val b = s.range(1000).select(col("id").as("k2"), (col("id") * 3).as("vb"))
      Scale.writeBucketed(a, "scale_spec.bucketed_a", "k", 4)
      Scale.writeBucketed(b, "scale_spec.bucketed_b", "k2", 4)
      val joined = Scale.bucketedJoin(s, "scale_spec.bucketed_a",
        "scale_spec.bucketed_b", "k", "k2")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === 1000)
    } finally s.sql("DROP DATABASE IF EXISTS scale_spec CASCADE")
    assert(spark.conf.get(threshold) === shared)
  }

  test("sequence packing: greedy per-shard cut at the token budget") {
    import spark.implicits._
    // shards=1 → one ordered run; token counts 3,3,3,3 with budget 5:
    // tokens-before = 0,3,6,9 → packs 0,0,1,1 (boundary doc overflows
    // its pack, never starts underfull)
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f"), (3L, "g h i"), (4L, "j k l"))
      .toDF("doc_id", "text")
    val out = Packing.packBySequenceBudget(docs, "doc_id", "text",
        budgetTokens = 5, shards = 1)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  // --- cappedBucketJoin skew guard ---------------------------------
  // bucket 1 is hot on both sides (50 base rows, 30 probe rows ⇒
  // splits 5 and 3 at cap=10 — the grid-split path actually executes);
  // buckets 2..5 are cold and must flow through un-replicated.

  private def hotBase = spark.range(70).select(
    col("id").as("id_a"),
    when(col("id") < 50, lit(1L)).otherwise(col("id") % 4 + 2).as("bucket"))

  private def hotProbe = spark.range(100, 140).select(
    col("id").as("id_b"),
    when(col("id") < 130, lit(1L)).otherwise(col("id") % 4 + 2).as("bucket"))

  test("capped bucket join: hot bucket grid-splits, pair set identical to plain join") {
    val plain = hotBase.join(hotProbe, Seq("bucket")).select("id_a", "id_b")
    val capped = Scale.cappedBucketJoin(hotBase, hotProbe, Seq("bucket"),
        col("id_a"), col("id_b"), cap = 10)
      .select("id_a", "id_b")
    // the split path is planned (salt columns in the join), not just
    // the pass-through
    assert(capped.queryExecution.executedPlan.toString
      .contains(Scale.BaseSplitCol))
    // multiset equality: replication must not duplicate or drop a pair
    assert(plain.exceptAll(capped).count() === 0)
    assert(capped.exceptAll(plain).count() === 0)
  }

  test("capped bucket join: probe-hot base-cold bucket is still split (both sides counted)") {
    // 5 base rows, 60 probe rows in one bucket: hot only when the
    // probe side's counts participate
    val base = spark.range(5).select(col("id").as("id_a"), lit(1L).as("bucket"))
    val probe = spark.range(100, 160).select(col("id").as("id_b"), lit(1L).as("bucket"))
    val plain = base.join(probe, Seq("bucket")).select("id_a", "id_b")
    val capped = Scale.cappedBucketJoin(base, probe, Seq("bucket"),
        col("id_a"), col("id_b"), cap = 10)
      .select("id_a", "id_b")
    assert(plain.exceptAll(capped).count() === 0)
    assert(capped.exceptAll(plain).count() === 0)
  }

  test("capped bucket join: maxBucket drops the degenerate bucket from both sides") {
    val capped = Scale.cappedBucketJoin(hotBase, hotProbe, Seq("bucket"),
        col("id_a"), col("id_b"), cap = 10, maxBucket = 20)
      .select("bucket", "id_a", "id_b")
    // bucket 1 (50 rows > 20) contributes nothing; cold buckets intact
    assert(capped.where(col("bucket") === 1).count() === 0)
    val expected = hotBase.where(col("bucket") =!= 1)
      .join(hotProbe.where(col("bucket") =!= 1), Seq("bucket"))
      .select("bucket", "id_a", "id_b")
    assert(expected.exceptAll(capped).count() === 0)
    assert(capped.exceptAll(expected).count() === 0)
  }
}
