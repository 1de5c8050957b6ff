package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.collection.mutable

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-stateful").toString

  final case class Ev(id: Long, user: Long, ts: java.sql.Timestamp, value: Double)
  private def ev(id: Long, user: Long, minute: Int, value: Double = 1.0): Ev =
    Ev(id, user, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), value)

  test("foreachBatch LM scoring: a pre-trained model scores a doc stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextStats
    // train on yesterday's corpus once; the model tables are static
    val trainDocs = spark.range(300).selectExpr("id AS doc_id",
      "concat('w', CAST(id % 5 AS STRING), ' w', CAST(id % 3 AS STRING), " +
        "' w', CAST(id % 7 AS STRING)) AS text")
    val model = TextStats.lmTrain(trainDocs, "doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, Long, Long)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val scored = TextStats.lmScore(df, "doc_id", "text", model)
          .select("doc_id", "n_bigrams", "surprisal_e8")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        out.synchronized { out ++= scored }
        ()
      }.start()
    val docs = (0 until 20).map(i =>
      (1000L + i, s"w${i % 5} w${i % 3} zz$i w${i % 7}"))
    stream.addData(docs.take(10): _*)
    q.processAllAvailable()
    stream.addData(docs.drop(10): _*)
    q.processAllAvailable()
    q.stop()
    // per-micro-batch application ≡ one batch pass over the delivered set
    val batch = TextStats.lmScore(docs.toDF("doc_id", "text"),
      "doc_id", "text", model)
      .select("doc_id", "n_bigrams", "surprisal_e8")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
  }

  test("foreachBatch DSIR scoring: a pre-trained count table scores a doc stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dsir
    // train once over yesterday's raw∪target corpus; the count table is
    // a static mergeable profile — today's stream scores per micro-batch
    val trainDocs = spark.range(200).selectExpr("id AS doc_id",
      "concat('t', CAST(id % 11 AS STRING), ' r', CAST(id % 7 AS STRING), " +
        "' t', CAST(id % 13 AS STRING)) AS text",
      "CAST(id % 3 = 0 AS BOOLEAN) AS is_t")
    val counts = Dsir.train(trainDocs, "text", col("is_t"), numBuckets = 64)
    counts.persist()
    val stream = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, Long, Long)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val scored = Dsir.score(df, "doc_id", "text", counts, numBuckets = 64)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        out.synchronized { out ++= scored }
        ()
      }.start()
    val docs = (0 until 18).map(i =>
      (2000L + i, s"t${i % 11} r${i % 7} new$i t${i % 13}"))
    stream.addData(docs.take(9): _*)
    q.processAllAvailable()
    stream.addData(docs.drop(9): _*)
    q.processAllAvailable()
    q.stop()
    val batch = Dsir.score(docs.toDF("doc_id", "text"),
        "doc_id", "text", counts, numBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    counts.unpersist(blocking = false)
    assert(out.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
    assert(out.nonEmpty)
  }

  test("streaming DSIR training: complete-mode count aggregation ≡ batch train") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dsir
    import graft.functions.{HashFns, TextFns}
    // the train aggregation is a plain groupBy-sum, so Structured
    // Streaming maintains the count table NATIVELY in complete mode —
    // the "train on the live stream" half of the profile-store story
    val stream = MemoryStream[(Long, String, Boolean)]
    val src = stream.toDF().toDF("doc_id", "text", "is_t")
    val counts = src
      .select(explode(TextFns.tokens(col("text"))).as("t"),
        col("is_t").cast("long").as("is_t"))
      .select((HashFns.hash61(col("t")) % 32).as("b"), col("is_t"))
      .groupBy("b")
      .agg(count(lit(1)).as("c_r"), sum("is_t").as("c_t"))
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("dsir_counts")
      .option("checkpointLocation", tmpDir()).start()
    val docs = (0 until 30).map(i =>
      (i.toLong, s"t${i % 9} r${i % 5} t${i % 7}", i % 3 == 0))
    stream.addData(docs.take(15): _*)
    q.processAllAvailable()
    stream.addData(docs.drop(15): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dsir_counts")
      .orderBy("b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = Dsir.train(docs.toDF("doc_id", "text", "is_t"),
        "text", col("is_t"), numBuckets = 32)
      .orderBy("b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("foreachBatch NB classification: a pre-trained model scores a doc stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.NaiveBayes
    // train once on yesterday's labeled corpus; the three model tables
    // are static — today's stream classifies per micro-batch
    val trainDocs = spark.range(200).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS lang",
      "CASE WHEN id % 2 = 0 THEN concat('x', CAST(id % 4 AS STRING), ' common') " +
        "ELSE concat('y', CAST(id % 3 AS STRING), ' common') END AS text")
    val model = NaiveBayes.train(trainDocs, "lang", "text")
    val stream = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, String, Long, Long)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val scored = NaiveBayes.score(df, "doc_id", "text", model)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        out.synchronized { out ++= scored }
        ()
      }.start()
    val docs = (0 until 16).map(i =>
      (2000L + i, if (i % 2 == 0) s"x${i % 4} common zz$i" else s"y${i % 3} common"))
    stream.addData(docs.take(8): _*)
    q.processAllAvailable()
    stream.addData(docs.drop(8): _*)
    q.processAllAvailable()
    q.stop()
    val batch = NaiveBayes.score(docs.toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
    // and the classifier actually separates the stream
    assert(out.forall { case (id, pred, _, _) =>
      pred == (if (id % 2 == 0) "a" else "b") })
  }

  test("streaming dedup within watermark drops re-deliveries, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = mutable.Buffer.empty[Long]
    val deduped = Stateful.dedupWithinWatermark(stream.toDF(), "ts", "10 minutes", Seq("id"))
    val q = deduped.writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        out.synchronized { out ++= df.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect() }
        ()
      }.start()
    stream.addData(ev(1, 10, 0), ev(2, 11, 1), ev(1, 10, 2))   // id 1 re-delivered
    q.processAllAvailable()
    stream.addData(ev(1, 10, 3), ev(3, 12, 4))                 // id 1 again, next batch
    q.processAllAvailable()
    q.stop()
    assert(out.sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join matches clicks to purchases within the window") {
    implicit val sqlCtx = spark.sqlContext
    final case class Click(user: Long, cts: java.sql.Timestamp, click_id: Long)
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val matched = mutable.Buffer.empty[(Long, Long)]
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")

    val joined = Stateful.intervalJoin(
      clicks.toDF().toDF("user", "cts", "click_id"),
      purchases.toDF().toDF("user", "pts", "purchase_id"),
      key = "user", leftTsCol = "cts", rightTsCol = "pts",
      delay = "1 minute", within = "10 minutes")
    val q = joined.writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        matched.synchronized {
          matched ++= df.select("click_id", "purchase_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    clicks.addData((1L, t("10:00"), 100L), (2L, t("10:00"), 200L))
    purchases.addData(
      (1L, t("10:05"), 500L),   // in window for click 100
      (1L, t("10:20"), 501L),   // outside +10min
      (2L, t("09:55"), 502L))   // before the click
    q.processAllAvailable()
    q.stop()
    assert(matched.toSet === Set((100L, 500L)))
  }

  test("flatMapGroupsWithState sessionization accumulates per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.SessionEvent]
    val updates = mutable.Buffer.empty[Stateful.SessionUpdate]
    val q = Stateful.sessionize(stream.toDS(), gapMs = 60000).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.SessionUpdate], _: Long) =>
        updates.synchronized { updates ++= df.collect() }
        ()
      }.start()
    def sev(user: Long, hhmm: String, v: Double) =
      Stateful.SessionEvent(user, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), v)
    stream.addData(sev(1, "10:00", 2.0), sev(1, "10:01", 3.0), sev(2, "10:00", 1.0))
    q.processAllAvailable()
    stream.addData(sev(1, "10:02", 5.0))
    q.processAllAvailable()
    // jump event time far past the gap: the next batch's watermark
    // closes user 1 and 2's sessions via event-time timeout
    stream.addData(sev(99, "11:00", 1.0))
    q.processAllAvailable()
    stream.addData(sev(99, "11:01", 1.0))
    q.processAllAvailable()
    q.stop()
    val u1 = updates.filter(_.user == 1L)
    // batch 1: count=2 total=5; batch 2 accumulates state: count=3 total=10
    assert(u1.filter(!_.closed).map(u => (u.events, u.total)).toSet
      === Set((2L, 5.0), (3L, 10.0)))
    assert(u1.filter(_.closed).map(u => (u.events, u.total)) === Seq((3L, 10.0)))
    assert(updates.filter(u => u.user == 2L && u.closed)
      .map(u => (u.events, u.total)) === Seq((1L, 1.0)))
  }

  test("streaming funnel ≡ batch funnelTimes on event-time-ordered batches") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    def fev(user: Long, tpe: String, hhmm: String) =
      Stateful.FunnelEvent(user, tpe, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"))
    // users: 1 converts across batches; 2 clicked before viewing (the
    // pre-view click must not count); 3 views only
    val batch1 = Seq(fev(1, "view", "10:00"), fev(2, "click", "09:00"),
      fev(2, "view", "10:00"), fev(3, "view", "08:00"))
    // later batches stay within the 10s watermark of each other's max
    // event time — a cross-batch event older than the advanced
    // watermark is dropped by design (the documented ordered-arrival
    // contract)
    val batch2 = Seq(fev(1, "click", "10:05"), fev(2, "click", "10:06"))
    val batch3 = Seq(fev(1, "purchase", "10:10"))
    val stream = MemoryStream[Stateful.FunnelEvent]
    val updates = mutable.Buffer.empty[Stateful.FunnelUpdate]
    val q = Stateful.funnelUpdates(stream.toDS(), steps).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.FunnelUpdate], _: Long) =>
        updates.synchronized { updates ++= df.collect() }
        ()
      }.start()
    Seq(batch1, batch2, batch3).foreach { b =>
      stream.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // final depth per user from the stream
    val streamDepth = updates.groupBy(_.user)
      .map { case (u, us) => u -> us.map(_.steps_completed).max }
    // batch readback over the SAME events
    val all = (batch1 ++ batch2 ++ batch3)
      .map(e => (e.user, e.eventType, e.ts)).toDF("user_id", "event_type", "ts")
    val batchDepth = graft.ops.Funnel
      .funnelTimes(all, "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(streamDepth === Map(1L -> 3, 2L -> 2, 3L -> 1))
    assert(batchDepth.view.filterKeys(streamDepth.contains).toMap
      === streamDepth.map { case (k, v) => k -> v.toLong })
    // conversion flag and time match the batch chain's last step
    val conv = updates.filter(_.converted)
    assert(conv.map(_.user) === Seq(1L))
    assert(conv.head.last_step_ts === java.sql.Timestamp.valueOf("2024-01-01 10:10:00"))
  }

  test("streaming funnel: out-of-order WITHIN a batch is ordered; depth never regresses") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click")
    def fev(user: Long, tpe: String, hhmm: String) =
      Stateful.FunnelEvent(user, tpe, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"))
    val stream = MemoryStream[Stateful.FunnelEvent]
    val updates = mutable.Buffer.empty[Stateful.FunnelUpdate]
    val q = Stateful.funnelUpdates(stream.toDS(), steps).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.FunnelUpdate], _: Long) =>
        updates.synchronized { updates ++= df.collect() }
        ()
      }.start()
    // click arrives FIRST in the batch but is event-time AFTER the
    // view — in-batch ordering must complete both steps
    stream.addData(fev(7, "click", "10:30"), fev(7, "view", "10:00"))
    q.processAllAvailable()
    q.stop()
    assert(updates.map(u => (u.user, u.steps_completed, u.converted))
      === Seq((7L, 2, true)))
  }

  test("streaming funnel report: cumulative reaches ≡ batch funnelReport over delivered events") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    def fev(user: Long, tpe: String, hhmm: String) =
      Stateful.FunnelEvent(user, tpe, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"))
    // population exercising every report row: 1 converts across
    // batches, 2 stalls at click (pre-view click must not count),
    // 3 views only, 4 NEVER views (counts in total, not in step 1),
    // 5 jumps 0→3 inside one batch (must emit step rows 1, 2 AND 3)
    val batch1 = Seq(fev(1, "view", "10:00"), fev(2, "click", "09:00"),
      fev(2, "view", "10:00"), fev(3, "view", "08:00"), fev(4, "click", "09:30"))
    val batch2 = Seq(fev(1, "click", "10:05"), fev(2, "click", "10:06"),
      fev(5, "view", "10:04"), fev(5, "click", "10:06"),
      fev(5, "purchase", "10:07"))
    val batch3 = Seq(fev(1, "purchase", "10:10"))
    val stream = MemoryStream[Stateful.FunnelEvent]
    val reaches = mutable.Buffer.empty[Stateful.FunnelReach]
    val q = Stateful.funnelReaches(stream.toDS(), steps).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.FunnelReach], _: Long) =>
        reaches.synchronized { reaches ++= df.collect() }
        ()
      }.start()
    Seq(batch1, batch2, batch3).foreach { b =>
      stream.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // each (user, step) reached at most once while state lives
    assert(reaches.map(r => (r.user, r.step)).distinct.size === reaches.size)
    // the 0→3 jump emitted every intermediate step
    assert(reaches.filter(_.user == 5L).map(_.step).sorted === Seq(0, 1, 2, 3))
    val total = reaches.count(_.step == 0).toLong
    val cnt = steps.indices.map(i => reaches.count(_.step == i + 1).toLong)
    assert((total, cnt) === ((5L, Seq(4L, 3L, 2L))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val got = rows(graft.ops.Funnel.reportFromCounts(spark, steps, total, cnt))
    val all = (batch1 ++ batch2 ++ batch3)
      .map(e => (e.user, e.eventType, e.ts)).toDF("user_id", "event_type", "ts")
    val want = rows(graft.ops.Funnel.funnelReport(all, "user_id",
      "event_type", "ts", steps))
    assert(got === want)
  }

  test("streaming classification monitor: per-trigger count folds ≡ batch report") {
    implicit val sqlCtx = spark.sqlContext
    // live classifier quality against delayed truth labels: (truth,
    // pred) pairs arrive as a stream; per-class counts fold additively
    // across triggers, the report reads back through the SAME metric
    // arithmetic as the batch operator
    val stream = MemoryStream[(String, String)]
    val acc = mutable.Map.empty[String, (Long, Long, Long)]
    val q = stream.toDF().toDF("truth", "pred").writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
        acc.synchronized {
          rows.foreach { case (t, p) =>
            val (a, b, c) = acc.getOrElse(t, (0L, 0L, 0L))
            acc(t) = (a + 1, b, if (t == p) c + 1 else c)
            val (x, y, z) = acc.getOrElse(p, (0L, 0L, 0L))
            acc(p) = (x, y + 1, z)
          }
        }
        ()
      }.start()
    val batch1 = Seq(("A", "A"), ("A", "B"), ("B", "B"))
    val batch2 = Seq(("B", "B"), ("C", "B"), ("A", "A"))
    stream.addData(batch1: _*); q.processAllAvailable()
    stream.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val live = graft.ops.Profile.classificationReportFromCounts(spark,
        acc.toSeq.map { case (l, (t, p, d)) => (l, t, p, d) })
      .orderBy("label").collect().map(_.toSeq)
    val want = graft.ops.Profile.classificationReport(
        (batch1 ++ batch2).toDF("truth", "pred"), "truth", "pred")
      .orderBy("label").collect().map(_.toSeq)
    assert(live.toSeq === want.toSeq)
  }

  test("streaming percolation: per-trigger standing-query alerts ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val queries = Seq((1L, Seq("alert", "fire"), 1L),
      (2L, Seq("ok", "fine", "calm"), 2L)).toDF("query_id", "terms", "min_match")
    val stream = MemoryStream[(Long, String)]
    val alerts = mutable.Buffer.empty[(Long, Long, Long)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val rows = graft.ops.TextStats.percolate(df, "doc_id", "text",
            queries, "query_id", "terms", "min_match")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        alerts.synchronized { alerts ++= rows }
        ()
      }.start()
    val docs = Seq((1L, "fire in the logs"), (2L, "all ok and calm today"),
      (3L, "nothing"), (4L, "ok alert fine"))
    stream.addData(docs.take(2): _*); q.processAllAvailable()
    stream.addData(docs.drop(2): _*); q.processAllAvailable()
    q.stop()
    val batch = graft.ops.TextStats.percolate(docs.toDF("doc_id", "text"),
        "doc_id", "text", queries, "query_id", "terms", "min_match")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(alerts.sortBy(x => (x._1, x._2)).toSeq ===
      batch.sortBy(x => (x._1, x._2)).toSeq)
    assert(alerts.nonEmpty)
  }

  test("streaming near-dup: duplicates flagged within TTL, state dies after it") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.DocEvent]
    val out = mutable.Buffer.empty[Stateful.DupCandidate]
    val q = Stateful.nearDupCandidates(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 5 * 60 * 1000).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.DupCandidate], _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    def doc(id: Long, hhmm: String, text: String) =
      Stateful.DocEvent(id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), text)
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    stream.addData(
      doc(1, "10:00", dupText),
      doc(2, "10:00", "completely different content about cooking pasta with basil"))
    q.processAllAvailable()
    stream.addData(doc(3, "10:02", dupText)) // exact dup of 1, next batch
    q.processAllAvailable()
    // jump event time far past the TTL: buckets expire...
    stream.addData(doc(4, "11:00", "unrelated filler to advance the watermark now"))
    q.processAllAvailable()
    stream.addData(doc(5, "11:01", "more filler advancing the watermark further still"))
    q.processAllAvailable()
    // ...so a later re-arrival of the same text finds empty buckets
    stream.addData(doc(6, "11:02", dupText))
    q.processAllAvailable()
    q.stop()
    val byId = out.groupBy(_.id)
    // doc 3 matched doc 1 on all 4 bands at hamming 0
    assert(byId(3L).map(_.dup_of).toSet === Set(1L))
    assert(byId(3L).count(_.hamming == 0) === 4)
    // the unrelated doc was never flagged; the post-TTL dup found nothing
    assert(!byId.contains(2L) && !byId.contains(4L) && !byId.contains(5L))
    assert(!byId.contains(6L), s"state must expire after the TTL: $out")
  }

  test("streaming near-dup: full bucket stops growing but keeps matching") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.DocEvent]
    val out = mutable.Buffer.empty[Stateful.DupCandidate]
    val q = Stateful.nearDupCandidates(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000,
        maxPerBucket = 1).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.DupCandidate], _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    def doc(id: Long, hhmm: String, text: String) =
      Stateful.DocEvent(id, java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), text)
    val dupText = "same boilerplate blurb repeated across the whole corpus daily"
    stream.addData(doc(1, "10:00", dupText))
    q.processAllAvailable()
    stream.addData(doc(2, "10:01", dupText))
    q.processAllAvailable()
    stream.addData(doc(3, "10:02", dupText))
    q.processAllAvailable()
    q.stop()
    // both later docs matched against the single retained signature (id 1)
    assert(out.filter(_.id == 2L).map(_.dup_of).toSet === Set(1L))
    assert(out.filter(_.id == 3L).map(_.dup_of).toSet === Set(1L))
  }

  test("streaming near-dup ≡ batch simhashNearDupPairs on a replayed corpus (differential)") {
    implicit val sqlCtx = spark.sqlContext
    // seeded corpus: exact-dup family, near-dup variants, and unrelated noise
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus: Seq[(Long, String)] =
      Seq(1L -> base, 2L -> base, 3L -> (base + " indeed"),
        4L -> "unrelated cooking text about pasta sauce with fresh basil leaves",
        5L -> base.replace("lazy", "sleepy"),
        6L -> "another entirely different document covering quarterly revenue figures",
        7L -> base, 8L -> (base + " indeed"),
        9L -> "short noise", 10L -> "more filler text that resembles nothing else here at all")
    val batchDf = corpus.toDF("id", "text")
    val batchPairs = graft.dedup.Dedup
      .simhashNearDupPairs(batchDf, "id", "text", maxDist = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    // per-band chunk values, to pin band-for-band coverage
    val sigs = graft.dedup.Dedup.simhashes(batchDf, "id", "text")
      .as[(Long, Long)].collect().toMap
    def chunk(sig: Long, b: Int): Long = (sig >>> (16 * b)) & 0xFFFFL

    // replay the identical corpus in ONE micro-batch, ts ascending with id
    // (so "prior" == smaller id), TTL far away, unlimited bucket cap
    val stream = MemoryStream[Stateful.DocEvent]
    val out = mutable.Buffer.empty[Stateful.DupCandidate]
    val q = Stateful.nearDupCandidates(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.DupCandidate], _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    stream.addData(corpus.map { case (id, text) =>
      Stateful.DocEvent(id,
        java.sql.Timestamp.valueOf(f"2024-01-01 10:${id}%02d:00"), text)
    })
    q.processAllAvailable()
    q.stop()

    // (1) every streaming candidate is a batch pair with the same hamming
    out.foreach { c =>
      val key = (math.min(c.id, c.dup_of), math.max(c.id, c.dup_of))
      assert(batchPairs.contains(key), s"streaming-only pair $c")
      assert(batchPairs(key) === c.hamming.toLong, s"hamming drift on $c")
      assert(chunk(sigs(c.id), c.band) === chunk(sigs(c.dup_of), c.band),
        s"candidate on band ${c.band} without a shared chunk: $c")
    }
    // (2) band-for-band coverage: every batch pair's later doc is flagged
    // on every band where the pair shares a chunk
    val flagged = out.map(c => (c.id, c.band)).toSet
    batchPairs.keys.foreach { case (a, b) =>
      (0 until 4).foreach { band =>
        if (chunk(sigs(a), band) == chunk(sigs(b), band))
          assert(flagged.contains((b, band)),
            s"batch pair ($a,$b) shares band $band but $b was not flagged there")
      }
    }
  }

  test("streaming near-dup chunked input (sortChunk=1) still finds every dup") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.DocEvent]
    val out = mutable.Buffer.empty[Stateful.DupCandidate]
    val q = Stateful.nearDupCandidates(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000,
        sortChunk = 1).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.DupCandidate], _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    val dupText = "identical boilerplate repeated five times inside one micro batch"
    val events = (1L to 5L).map(i => Stateful.DocEvent(i,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:${i}%02d:00"), dupText)) :+
      Stateful.DocEvent(9L,
        java.sql.Timestamp.valueOf("2024-01-01 10:09:00"),
        "totally different content about mountain weather forecasts")
    stream.addData(events)
    q.processAllAvailable()
    q.stop()
    // whatever the chunk boundaries, all but the first-processed copy must
    // be flagged on all 4 bands, and never against themselves or doc 9
    val flaggedIds = out.map(_.id).toSet
    assert(flaggedIds.size === 4 && flaggedIds.subsetOf((1L to 5L).toSet),
      s"expected 4 of the 5 exact dups flagged, got $out")
    flaggedIds.foreach { id =>
      assert(out.count(_.id == id) === 4, s"doc $id not flagged on all bands")
    }
    assert(out.forall(c => c.dup_of != c.id && c.dup_of <= 5L && c.hamming == 0))
  }

  test("streaming incremental HLL ≡ batch sketch after replaying the same values") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.HllUpdate)]
    var batchNo = 0L
    val q = Stateful.hllRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.HllUpdate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(key: String, minute: Int, v: String) = Stateful.KeyedValue(key,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    // two batches with overlap and re-delivery across them
    val batch1 = (0 until 40).map(i => kv("a", 1, s"tok$i")) ++
      (0 until 10).map(i => kv("b", 1, s"word$i"))
    val batch2 = (20 until 60).map(i => kv("a", 2, s"tok$i")) ++ // 20 re-observed
      (0 until 10).map(i => kv("b", 2, s"word$i"))               // all re-observed
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    // batch twin over the union multiset
    val allValues = (batch1 ++ batch2).map(e => (e.key, e.value))
    val expected = graft.ops.Sketch.hllDistinct(
        allValues.toDF("key", "v"), Seq("key"), col("v"))
      .select("key", "hll_reg_sum", "hll_est_x10")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val lastUpdate = out.groupBy(_._2.key)
      .map { case (k, us) => k -> us.maxBy(_._1)._2 }
    assert(lastUpdate("a").hll_reg_sum === expected("a")._1)
    assert(lastUpdate("a").hll_est_x10 === expected("a")._2)
    assert(lastUpdate("b").hll_reg_sum === expected("b")._1)
    assert(lastUpdate("b").hll_est_x10 === expected("b")._2)
    // batch 2 re-delivered all of b's values: the sketch must not move
    val bUpdates = out.filter(_._2.key == "b").sortBy(_._1).map(_._2)
    assert(bUpdates.length === 2 &&
      bUpdates.head.hll_reg_sum === bUpdates.last.hll_reg_sum,
      s"re-observed values moved the sketch: $bUpdates")
  }

  test("streaming incremental CMS ≡ batch sketch over the delivered multiset") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.CmsEstimate)]
    // small w forces collisions, so the differential exercises the
    // overcount path, not just exact cells
    val q = Stateful.cmsRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000,
        w = 64, d = 4).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.CmsEstimate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(minute: Int, v: String) = Stateful.KeyedValue("a",
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    // skewed: tok0 heavy, long tail
    val batch1 = (0 until 60).map(i => kv(1, s"tok${i % 10}"))
    val batch2 = (0 until 40).map(i => kv(2, s"tok${i % 20}"))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    // batch twin over the full delivered multiset
    val allValues = (batch1 ++ batch2).map(e => (e.key, e.value))
    val hashed = allValues.toDF("key", "v")
      .select(col("v"), graft.functions.HashFns.hash61(col("v")).as("x"))
    val counts = graft.ops.Sketch.cmsCounts(hashed, col("x"), w = 64, d = 4)
      .as[(Int, Int, Long)].collect().map { case (r, c, n) => (r, c) -> n }.toMap
    def batchEst(v: String): Long = {
      val x = graft.functions.HashFns.hash61Bytes(v.getBytes("UTF-8"))
      (0 until 4).map(j =>
        counts((j, (graft.functions.HashFns.hashAtLong(x, j) % 64).toInt))).min
    }
    // every value delivered in the FINAL batch: last emission equals the
    // batch sketch over everything delivered so far
    val lastEst = out.filter(_._1 == out.map(_._1).max).map(_._2)
    assert(lastEst.nonEmpty)
    lastEst.foreach { e =>
      assert(e.cms_est === batchEst(e.value),
        s"streaming/batch drift for ${e.value}")
    }
    // counts only grow: batch-2 estimates dominate batch-1's for re-seen values
    val byBatch = out.groupBy(_._2.value)
    byBatch.foreach { case (_, emissions) =>
      val sorted = emissions.sortBy(_._1).map(_._2.cms_est)
      assert(sorted === sorted.sorted, s"estimate shrank: $emissions")
    }
  }

  test("streaming incremental bloom ≡ column-form bloom probe (differential)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.BloomSeen)]
    val q = Stateful.bloomRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.BloomSeen], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(minute: Int, v: String) = Stateful.KeyedValue("a",
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    val a = (0 until 200).map(i => s"tok$i")
    stream.addData(a.map(kv(1, _))); q.processAllAvailable()
    // full redelivery: zero false negatives, and the no-new-bit batch
    // exercises the skipped state write
    stream.addData(a.map(kv(2, _))); q.processAllAvailable()
    // then five probes, ONE per micro-batch so each has a well-defined
    // prior delivered set — the exact differential against the
    // COLUMN-form filter (cross-pins hashAtLong/bit math vs
    // bloomWords/bloomMaybe)
    val probes = (0 until 5).map(i => s"probe$i")
    probes.zipWithIndex.foreach { case (p, i) =>
      stream.addData(kv(3 + i, p)); q.processAllAvailable()
    }
    q.stop()

    // batch ids are NOT 1:1 with addData calls (watermark advance runs
    // extra no-data batches), so key every assertion by VALUE and order
    // emissions by batch id
    val byValue = out.groupBy(_._2.value)
    a.foreach { v =>
      val es = byValue(v).sortBy(_._1).map(_._2.seen_before)
      assert(es.size === 2, s"$v expected 2 emissions, got $es")
      assert(es.last, s"redelivered $v must probe seen (no false negatives)")
    }

    import graft.functions.HashFns
    import graft.ops.Sketch
    probes.zipWithIndex.foreach { case (p, i) =>
      val prior = a ++ probes.take(i)   // distinct values delivered before p
      val words = Sketch.bloomWords(
        prior.toDF("v").select(HashFns.hash61(col("v")).as("x")),
        col("x"), 1 << 16, 4)
      val expected = Seq(p).toDF("v")
        .crossJoin(broadcast(Sketch.bloomDense(words, 1 << 16)))
        .select(Sketch.bloomMaybe(HashFns.hash61(col("v")), col("bloom_words"),
          1 << 16, 4))
        .as[Boolean].collect().head
      val got = byValue(p).map(_._2.seen_before)
      assert(got === Seq(expected), s"probe $p: stream=$got batch=$expected")
    }
  }

  test("batch-built bloom filter decontaminates a doc stream via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val evalText = "the quick brown fox jumps over the lazy dog near the river bank today"
    // filter built ONCE from the (batch) eval corpus
    val words = graft.ops.Sketch.bloomWords(
      Seq(evalText).toDF("text")
        .select(explode(array_distinct(
          graft.functions.TextFns.shingles(col("text"), 3))).as("s"))
        .select(graft.functions.HashFns.hash61(col("s")).as("x")),
      col("x"), 1 << 16, 4).cache()
    words.count()

    val stream = MemoryStream[Stateful.DocEvent]
    val kept = mutable.Buffer.empty[Long]
    val dropped = mutable.Buffer.empty[Long]
    val q = stream.toDS().writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.DocEvent], _: Long) =>
        val flagged = graft.dedup.Dedup
          .bloomFlagDocs(df.toDF(), "id", "text", words)
          .select(col("id"), col("contaminated"))
          .as[(Long, Boolean)].collect()
        kept.synchronized { kept ++= flagged.filter(!_._2).map(_._1) }
        dropped.synchronized { dropped ++= flagged.filter(_._2).map(_._1) }
        ()
      }.start()
    def doc(id: Long, text: String) = Stateful.DocEvent(id,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), text)
    stream.addData(
      doc(1, evalText),                                       // exact eval dup
      doc(2, "fresh training text about alpine glacier formation processes"),
      doc(3, evalText + " with a small suffix appended here")) // partial overlap
    q.processAllAvailable()
    stream.addData(doc(4, "another clean document mentioning orbital mechanics"))
    q.processAllAvailable()
    q.stop()
    assert(dropped.toSet === Set(1L, 3L), s"dropped=$dropped")
    assert(kept.toSet === Set(2L, 4L), s"kept=$kept")
  }

  test("watermarked windowed aggregation emits closed windows (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val results = mutable.Buffer.empty[(String, Long, Double)]
    val agg = Stateful.windowedAgg(stream.toDF(), "ts", "5 minutes", "10 minutes",
      keyCols = Seq(col("user")),
      aggs = Seq(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total")))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        results.synchronized {
          results ++= df.collect().map(r =>
            (r.getAs[Row]("window").getAs[java.sql.Timestamp]("start").toString,
              r.getAs[Long]("n"), r.getAs[Double]("total")))
        }
        ()
      }.start()
    // window [10:00,10:10) for user 10; then advance event time past the
    // watermark so the window closes and appends
    stream.addData(ev(1, 10, 1, 2.0), ev(2, 10, 5, 3.0))
    q.processAllAvailable()
    stream.addData(ev(3, 10, 59, 1.0))   // 10:59 ⇒ watermark 10:54 > 10:10
    q.processAllAvailable()
    stream.addData(ev(4, 10, 59, 1.0))
    q.processAllAvailable()
    q.stop()
    assert(results.exists { case (start, n, total) =>
      start.startsWith("2024-01-01 10:00") && n == 2 && total == 5.0 })
  }

  test("streaming incremental KMV ≡ batch sketch over the delivered multiset") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.KmvUpdate)]
    // k=16: key "a" overfills (estimator branch), key "b" stays below k
    // (exact branch) — both readback paths in one differential
    val q = Stateful.kmvRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000, k = 16)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.KmvUpdate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(key: String, minute: Int, v: String) = Stateful.KeyedValue(key,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    val batch1 = (0 until 40).map(i => kv("a", 1, s"tok$i")) ++
      (0 until 10).map(i => kv("b", 1, s"word$i"))
    val batch2 = (20 until 60).map(i => kv("a", 2, s"tok$i")) ++ // 20 re-observed
      (0 until 10).map(i => kv("b", 2, s"word$i"))               // all re-observed
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    // batch twin over the union multiset
    val allValues = (batch1 ++ batch2).map(e => (e.key, e.value))
    val expected = graft.ops.Sketch.kmvStats(
        graft.ops.Sketch.kmvSketch(allValues.toDF("key", "v"), Seq("key"),
          col("v"), 16), 16)
      .select("key", "kmv_n", "kmv_kth", "kmv_est_x10")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

    val lastUpdate = out.groupBy(_._2.key)
      .map { case (k, us) => k -> us.maxBy(_._1)._2 }
    Seq("a", "b").foreach { key =>
      assert((lastUpdate(key).kmv_n, lastUpdate(key).kmv_kth,
        lastUpdate(key).kmv_est_x10) === expected(key),
        s"streaming/batch drift for $key")
    }
    assert(lastUpdate("a").kmv_n === 16L, "a must overfill the sketch")
    assert(lastUpdate("b").kmv_n === 10L)
    assert(lastUpdate("b").kmv_est_x10 === 100L,
      "below-k readback must be the exact count ×10")
    // batch 2 re-delivered all of b's values: the sketch must not move
    val bUpdates = out.filter(_._2.key == "b").sortBy(_._1).map(_._2)
    assert(bUpdates.length === 2 &&
      bUpdates.head.kmv_kth === bUpdates.last.kmv_kth &&
      bUpdates.head.kmv_n === bUpdates.last.kmv_n,
      s"re-observed values moved the sketch: $bUpdates")
  }

  test("streaming incremental histogram ≡ batch quantile readback (differential)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.HistQuantileUpdate)]
    val q = Stateful.histRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000,
        binWidth = 10L, pcts = Seq(50, 99))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[Stateful.HistQuantileUpdate], id: Long) =>
          out.synchronized { out ++= df.collect().map(u => (id, u)) }
          ()
      }.start()
    def kv(key: String, minute: Int, v: Long) = Stateful.KeyedValue(key,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v.toString)
    // key "a": 0..99 across two batches; key "b": skewed tiny set
    val batch1 = (0L until 50L).map(v => kv("a", 1, v)) ++
      Seq(0L, 1L, 2L, 90L).map(v => kv("b", 1, v))
    val batch2 = (50L until 100L).map(v => kv("a", 2, v)) ++
      Seq(91L).map(v => kv("b", 2, v))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    // batch twin over the union multiset: same bins, same ceil-rank rule
    val allValues = (batch1 ++ batch2).map(e => (e.key, e.value.toLong))
    val expected = graft.ops.Sketch.histQuantilesBy(
        graft.ops.Sketch.histogramBy(allValues.toDF("key", "v"), Seq("key"),
          col("v"), 10L), Seq("key"), 10L, Seq(50, 99))
      .select("key", "pct", "target_rank", "bin", "bin_lo")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    val last = out.groupBy(u => (u._2.key, u._2.pct))
      .map { case (k, us) => k -> us.maxBy(_._1)._2 }
    expected.foreach { case (k, (rank, bin, lo)) =>
      assert((last(k).target_rank, last(k).bin, last(k).bin_lo) === ((rank, bin, lo)),
        s"streaming/batch drift for $k")
    }
    // spot-check the arithmetic: key a holds 0..99 in width-10 bins —
    // p50 rank 50 -> bin 4, p99 rank 99 -> bin 9
    assert((last(("a", 50L)).bin, last(("a", 99L)).bin) === ((4L, 9L)))
    assert(last(("a", 50L)).total === 100L)
  }

  test("Space-Saving fold: deterministic eviction with exact error certificates") {
    val ss = new SpaceSaving(2)
    Seq("a", "a", "a", "b", "c").foreach(ss.add)
    // c evicts b (min count 1): est = 2, err = 1
    assert(ss.top(3) === Seq(("a", 3L, 0L), ("c", 2L, 1L)))
    // count tie at 1: victim is the SMALLEST item ("a"), deterministically
    val tie = new SpaceSaving(2)
    Seq("a", "b", "c").foreach(tie.add)
    assert(tie.top(3) === Seq(("c", 2L, 1L), ("b", 1L, 0L)))
    // snapshot → restore roundtrip preserves the summary exactly
    val (i, c, e) = ss.snapshot()
    assert(SpaceSaving.restore(2, i, c, e).top(3) === ss.top(3))
  }

  test("streaming heavy hitters ≡ exact top-k below cap, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.TopkUpdate)]
    val q = Stateful.topkRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000,
        cap = 8, emitK = 3)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.TopkUpdate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(key: String, minute: Int, v: String) = Stateful.KeyedValue(key,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    val b1 = Seq.fill(5)(kv("a", 1, "x")) ++ Seq.fill(3)(kv("a", 1, "y")) ++
      Seq(kv("a", 1, "z"))
    val b2 = Seq.fill(4)(kv("a", 2, "y")) ++ Seq.fill(2)(kv("a", 2, "w"))
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2); q.processAllAvailable()
    q.stop()
    // delivered multiset: x5 y7 w2 z1 — alphabet < cap, so the summary
    // is EXACT (err 0) and the readback is the true top-3
    val lastBatch = out.map(_._1).max
    val last = out.filter(u => u._1 == lastBatch && u._2.key == "a")
      .map(_._2).sortBy(_.rank)
    assert(last.map(u => (u.item, u.est, u.err, u.rank)) ===
      Seq(("y", 7L, 0L, 1L), ("x", 5L, 0L, 2L), ("w", 2L, 0L, 3L)))
  }

  test("streaming heavy hitters: eviction inherits the victim's count as err") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.TopkUpdate)]
    val q = Stateful.topkRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000,
        cap = 2, emitK = 2)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.TopkUpdate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(key: String, minute: Int, v: String) = Stateful.KeyedValue(key,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    stream.addData(Seq(kv("b", 1, "a"), kv("b", 1, "a"), kv("b", 1, "a"),
      kv("b", 1, "b")))
    q.processAllAvailable()
    stream.addData(Seq(kv("b", 2, "c")))
    q.processAllAvailable()
    q.stop()
    val byBatch = out.groupBy(_._1).view.mapValues(
      _.map(_._2).sortBy(_.rank).map(u => (u.item, u.est, u.err))).toMap
    val batches = byBatch.keys.toSeq.sorted
    assert(byBatch(batches.head) === Seq(("a", 3L, 0L), ("b", 1L, 0L)))
    // batch 2: "c" evicts "b" (min counter 1) → est 2, err 1; the
    // restored "a" counter survives untouched. Sandwich holds: for
    // "c", est 2 ≥ true 1 ≥ est − err = 1.
    assert(byBatch(batches.last) === Seq(("a", 3L, 0L), ("c", 2L, 1L)))
  }

  test("windowed streaming HLL via the one-pass aggregator closes with the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(java.sql.Timestamp, String, Long, Long)]
    // ONE stateful operator: watermarked window + the HllAgg UDAF —
    // the shape the two-aggregation column construction cannot stream
    val agg = stream.toDS()
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "10 minutes"), col("key"))
      .agg(graft.ops.Sketch.hllAgg(
        graft.functions.HashFns.hash61(col("value"))).as("hll_reg_sum"))
      .select(col("window.start").as("ws"), col("key"), col("hll_reg_sum"))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        out.synchronized {
          out ++= df.collect().map(r => (r.getTimestamp(0), r.getString(1),
            r.getLong(2), id))
        }
        ()
      }.start()
    def kv(minute: Int, v: String) = Stateful.KeyedValue("a",
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    stream.addData((0 until 40).map(i => kv(1 + i % 5, s"tok$i")))
    q.processAllAvailable()
    assert(out.isEmpty, "append mode must hold the window open")
    // an event 30 min later pushes the watermark past the window end
    stream.addData(Seq(kv(35, "later")))
    q.processAllAvailable()
    q.stop()
    val closed = out.filter(_._1.toString.startsWith("2024-01-01 10:00"))
    assert(closed.size === 1)
    val expected = graft.ops.Sketch.hllDistinct(
        (0 until 40).map(i => ("a", s"tok$i")).toDF("key", "v"),
        Seq("key"), col("v"))
      .select("hll_reg_sum").as[Long].collect().head
    assert(closed.head._3 === expected,
      "closed-window register sum must equal the batch sketch")
  }

  test("windowed streaming KMV via the imperative aggregate closes with the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(java.sql.Timestamp, String, Seq[Long])]
    // TypedImperativeAggregate inside a watermarked streaming window:
    // the BINARY agg buffer round-trips through the state store
    val agg = stream.toDS()
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "10 minutes"), col("key"))
      .agg(graft.plans.KmvAgg.kmv_sketch(
        graft.functions.HashFns.hash61(col("value")), 16).as("kmv"))
      .select(col("window.start").as("ws"), col("key"), col("kmv"))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.collect().map(r => (r.getTimestamp(0), r.getString(1),
            r.getSeq[Long](2)))
        }
        ()
      }.start()
    def kv(minute: Int, v: String) = Stateful.KeyedValue("a",
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    // two micro-batches inside the window force a partial-buffer
    // merge against state, then a late event closes the window
    stream.addData((0 until 30).map(i => kv(1 + i % 5, s"tok$i")))
    q.processAllAvailable()
    stream.addData((20 until 50).map(i => kv(1 + i % 5, s"tok$i")))
    q.processAllAvailable()
    stream.addData(Seq(kv(35, "later")))
    q.processAllAvailable()
    q.stop()
    val closed = out.filter(_._1.toString.startsWith("2024-01-01 10:00"))
    assert(closed.size === 1)
    val expected = graft.ops.Sketch.kmvSketch(
        (0 until 50).map(i => ("a", s"tok$i")).toDF("key", "v"),
        Seq("key"), col("v"), 16)
      .select("kmv").as[Seq[Long]].collect().head
    assert(closed.head._3 === expected,
      "closed-window sketch must equal the batch bottom-k over the union")
  }

  test("windowed streaming CMS via the imperative aggregate closes with the batch table") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val (w, d) = (64, 4)
    val out = mutable.Buffer.empty[(java.sql.Timestamp, String, Seq[Long])]
    val agg = stream.toDS()
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "10 minutes"), col("key"))
      .agg(graft.plans.CmsAgg.cms_counts(
        graft.functions.HashFns.hash61(col("value")), w, d).as("cms"))
      .select(col("window.start").as("ws"), col("key"), col("cms"))
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.collect().map(r => (r.getTimestamp(0), r.getString(1),
            r.getSeq[Long](2)))
        }
        ()
      }.start()
    def kv(minute: Int, v: String) = Stateful.KeyedValue("a",
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    stream.addData((0 until 40).map(i => kv(1 + i % 5, s"tok${i % 10}")))
    q.processAllAvailable()
    stream.addData(Seq(kv(35, "later")))
    q.processAllAvailable()
    q.stop()
    val closed = out.filter(_._1.toString.startsWith("2024-01-01 10:00"))
    assert(closed.size === 1)
    assert(closed.head._3.sum === 40L * d, "40 events × d increments")
    val dense = new Array[Long](d * w)
    graft.ops.Sketch.cmsCounts(
        (0 until 40).map(i => s"tok${i % 10}").toDF("v")
          .select(graft.functions.HashFns.hash61(col("v")).as("hx")),
        col("hx"), w, d)
      .select("row", "col", "cnt").as[(Int, Int, Long)].collect()
      .foreach { case (r, c, n) => dense(r * w + c) = n }
    assert(closed.head._3 === dense.toSeq,
      "closed-window table must equal the batch cell build")
  }

  test("streaming priority sample ≡ batch sampler over the delivered document set") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.WeightedEvent]
    val out = mutable.Buffer.empty[(Long, Stateful.PrioUpdate)]
    val k = 8
    val q = Stateful.priorityRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 60 * 60 * 1000, k = k)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.PrioUpdate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def we(minute: Int, i: Int) = Stateful.WeightedEvent("a",
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
      f"d$i%02d", 1L + (i % 7) * 10L)
    stream.addData((0 until 6).map(we(1, _)))   // 6 distinct < k → census
    q.processAllAvailable()
    stream.addData((3 until 26).map(we(2, _)))  // 26 distinct total, 3 redelivered
    q.processAllAvailable()
    stream.addData((3 until 26).map(we(3, _)))  // full redelivery: must not move
    q.processAllAvailable()
    q.stop()
    val ups = out.sortBy(_._1).map(_._2)
    assert(ups.length === 3)
    // census phase: exact — τ = −1, Σ w_hat = Σ w of the 6 docs
    assert((ups(0).n_held, ups(0).tau, ups(0).w_hat_sum) ===
      ((6L, -1L, (0 until 6).map(i => 1L + (i % 7) * 10L).sum)))
    // batch twin over the DISTINCT delivered docs
    val docs = (0 until 26).map(i => (f"d$i%02d", 1L + (i % 7) * 10L))
      .toDF("id", "wt")
    val twin = graft.ops.Mixture.prioritySample(docs, "id", col("wt"), k)
    val expSum = twin.agg(sum("w_hat")).as[Long].collect().head
    assert((ups(1).n_held, ups(1).w_hat_sum) === ((k.toLong, expSum)),
      s"streaming/batch drift: ${ups(1)} vs $expSum")
    // idempotence: redelivering every doc changes nothing
    assert((ups(2).n_held, ups(2).tau, ups(2).w_hat_sum) ===
      ((ups(1).n_held, ups(1).tau, ups(1).w_hat_sum)))
    assert(ups(2).n_events === 23L)
  }

  test("psiRunning ≡ batch psiVsBaseline over everything delivered (differential)") {
    implicit val sqlCtx = spark.sqlContext
    val baseline = Map(0L -> 10L, 1L -> 20L, 2L -> 10L)
    val stream = MemoryStream[Stateful.ValueEvent]
    val out = mutable.Buffer.empty[(Long, Stateful.PsiUpdate)]
    val q = Stateful.psiRunning(stream.toDS(), binWidth = 10L,
        baseline, watermarkDelay = "1 hour", stateTtlMs = 3600 * 1000L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.PsiUpdate],
                       id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def ve(g: String, minute: Int, v: Long) = Stateful.ValueEvent(g,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), v)
    // "match" tracks the baseline shape; "drift" includes a bin (35)
    // the baseline never saw
    val batch1 = Seq(ve("match", 1, 5), ve("match", 1, 12),
      ve("match", 1, 15), ve("match", 1, 22), ve("drift", 1, 35))
    val batch2 = Seq(ve("match", 2, 14), ve("drift", 2, 35),
      ve("drift", 2, 36))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    val baseDf = baseline.toSeq.toDF("bin", "bc")
    val expected = graft.ops.Profile.psiVsBaseline(
        (batch1 ++ batch2).map(e => (e.group, e.value)).toDF("g", "v"),
        "g", "v", 10L, baseDf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val lastBatch = out.map(_._1).max
    val finals = out.filter(_._1 == lastBatch).map(_._2)
    assert(finals.map(_.group).toSet === Set("match", "drift"))
    finals.foreach { u =>
      assert((u.n_rows, u.n_bins, u.psi_e8_ppm) === expected(u.group),
        s"streaming/batch PSI drift on ${u.group}")
    }
    val byG = finals.map(u => u.group -> u.psi_e8_ppm).toMap
    assert(byG("drift") > byG("match"),
      s"out-of-baseline mass must score higher: $byG")
  }

  test("psiRunning survives >1e6 baseline mass (ppm clamp) ≡ batch") {
    // regression: with bt+nb past 1e6 the un-clamped Laplace ppm
    // floors to 0 for rare bins and the Mitchell ratio divided by
    // zero, killing the query in exactly the production regime a
    // drift monitor serves; batch dropped the NULL term silently
    implicit val sqlCtx = spark.sqlContext
    val baseline = Map(0L -> 2000000L, 1L -> 1500000L)
    val stream = MemoryStream[Stateful.ValueEvent]
    val out = mutable.Buffer.empty[Stateful.PsiUpdate]
    val q = Stateful.psiRunning(stream.toDS(), binWidth = 10L,
        baseline, watermarkDelay = "1 hour", stateTtlMs = 3600 * 1000L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.PsiUpdate],
                       _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    // bin 3 is OUTSIDE the heavy baseline: its q_ppm floors to 0
    // without the clamp (1 * 1e6 / 3500003 = 0)
    val evs = Seq(
      Stateful.ValueEvent("g", java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 5L),
      Stateful.ValueEvent("g", java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 35L))
    stream.addData(evs); q.processAllAvailable()
    q.stop()
    assert(out.size === 1 && out.head.n_bins === 3L)
    assert(out.head.psi_e8_ppm > 0L, s"clamped PSI must be finite+positive: $out")
    val expected = graft.ops.Profile.psiVsBaseline(
        evs.map(e => (e.group, e.value)).toDF("g", "v"), "g", "v", 10L,
        baseline.toSeq.toDF("bin", "bc"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert((out.head.n_rows, out.head.n_bins, out.head.psi_e8_ppm) === expected,
      "streaming/batch PSI must stay bit-identical in the clamp regime")
  }

  test("pairIncrements ≡ batch assocRules pair counts (differential)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.BasketEvent]
    val incs = mutable.Buffer.empty[Stateful.PairInc]
    val q = Stateful.pairIncrements(stream.toDS(),
        watermarkDelay = "1 hour", stateTtlMs = 24 * 3600 * 1000L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.PairInc],
                       _: Long) =>
        incs.synchronized { incs ++= df.collect() }
        ()
      }.start()
    def be(u: Long, minute: Int, item: String) = Stateful.BasketEvent(u,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), item)
    // u1 basket grows across batches; u2 in one batch; duplicates no-op
    val batch1 = Seq(be(1, 1, "view"), be(1, 2, "click"), be(1, 3, "view"),
      be(2, 1, "view"))
    val batch2 = Seq(be(1, 4, "purchase"), be(2, 5, "click"),
      be(2, 6, "click"))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    val streamed = incs.groupBy(p => (p.x, p.y)).view.mapValues(_.size.toLong).toMap
    val batchDf = (batch1 ++ batch2).map(e => (e.user, e.item, e.ts))
      .toDF("user_id", "event_type", "ts")
    val expected = graft.ops.Funnel.assocRules(batchDf, "user_id",
        "event_type", "ts")
      .select("x", "y", "n_xy").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === expected,
      s"streaming pair counts drifted: $streamed vs $expected")
    // cross-batch pair: u1 purchase (batch 2) paired with batch-1 items
    assert(streamed(("view", "purchase")) === 1L)
    assert(streamed(("click", "purchase")) === 1L)
  }

  test("transitionIncrements ≡ batch markovTransitions (differential, cross-batch)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.TypedEvent]
    val incs = mutable.Buffer.empty[Stateful.TransInc]
    val q = Stateful.transitionIncrements(stream.toDS(),
        watermarkDelay = "1 hour", stateTtlMs = 24 * 3600 * 1000L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.TransInc],
                       _: Long) =>
        incs.synchronized { incs ++= df.collect() }
        ()
      }.start()
    def te(u: Long, minute: Int, id: Long, tpe: String) = Stateful.TypedEvent(
      u, java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), id, tpe)
    // u1 chain spans batches (the state bridge); u2 has a same-second
    // pair where the id tiebreak decides the order
    val batch1 = Seq(te(1, 1, 1, "view"), te(1, 2, 2, "click"),
      te(2, 1, 4, "view"), te(2, 1, 3, "signup"))
    val batch2 = Seq(te(1, 4, 5, "purchase"), te(1, 5, 6, "view"))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    val counts = incs.groupBy(p => (p.a, p.b)).view
      .mapValues(_.size.toLong).toSeq
      .map { case ((a, b), n) => (a, b, n) }
      .toDF("a", "b", "n_pairs")
    val streamed = graft.ops.Funnel.transitionsFromCounts(counts)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batchDf = (batch1 ++ batch2)
      .map(e => (e.user, e.tpe, e.ts, e.id))
      .toDF("user_id", "event_type", "ts", "event_id")
    val expected = graft.ops.Funnel.markovTransitions(batchDf, "user_id",
        "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed === expected,
      s"streaming transitions drifted: $streamed vs $expected")
    // the cross-batch bridge (click -> purchase) and the id tiebreak
    // (signup before view at the same second) both held
    assert(expected.exists(t => t._1 == "click" && t._2 == "purchase"))
    assert(expected.exists(t => t._1 == "signup" && t._2 == "view"))
  }

  test("checksRunning ≡ batch rowChecks over everything delivered (differential)") {
    implicit val sqlCtx = spark.sqlContext
    val checks = Seq(
      "amt_positive" -> "amt > 0",
      "tag_known" -> "tag IN ('A', 'B')")
    val stream = MemoryStream[(java.sql.Timestamp, Double, String)]
    val out = mutable.Buffer.empty[(Long, Stateful.CheckStatus)]
    val q = Stateful.checksRunning(
        stream.toDF().toDF("ts", "amt", "tag"), "ts", checks,
        watermarkDelay = "1 hour", stateTtlMs = 60 * 60 * 1000)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.CheckStatus],
                       id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def row(minute: Int, amt: Double, tag: String) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), amt, tag)
    val batch1 = Seq(row(1, 5.0, "A"), row(1, -2.0, "A"), row(2, 3.0, "Z"))
    val batch2 = Seq(row(3, 1.0, "B"), row(3, -1.0, "C"))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()

    // the final emission per check equals batch rowChecks on the union
    val expected = graft.ops.Profile.rowChecks(
        (batch1 ++ batch2).toDF("ts", "amt", "tag"), checks)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val lastBatch = out.map(_._1).max
    val finals = out.filter(_._1 == lastBatch).map(_._2)
    assert(finals.map(_.check).toSet === checks.map(_._1).toSet)
    finals.foreach { st =>
      assert((st.n_rows, st.n_pass, st.pass_x1000, st.passed) ===
        expected(st.check), s"drift on ${st.check}")
    }
    // intermediate emission after batch 1 matches batch 1 alone
    val mids = out.filter(_._1 == out.map(_._1).min).map(_._2)
    val exp1 = graft.ops.Profile.rowChecks(batch1.toDF("ts", "amt", "tag"), checks)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    mids.foreach { st =>
      assert((st.n_rows, st.n_pass) === exp1(st.check))
    }
  }

  test("ewmaUpdates ≡ batch ewmaBands on replayed day counts (differential)") {
    implicit val sqlCtx = spark.sqlContext
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // type a: observed every day (8s, an 80-spike on day 9); type b:
    // only days 1 and 6 observed — the stream must zero-fill 2..5
    // internally to match the batch grid walk
    val aCounts = (1 to 10).map(d => ("a", d, if (d == 9) 80L else 8L))
    val bCounts = Seq(("b", 1, 5L), ("b", 6, 2L), ("b", 10, 7L))
    val all = aCounts ++ bCounts
    val stream = MemoryStream[Stateful.DayCount]
    val out = mutable.Buffer.empty[Stateful.EwmaUpdate]
    val q = Stateful.ewmaUpdates(stream.toDS(), startDayMs = day(1).getTime,
        watermarkDelay = "1 day", stateTtlMs = 30L * 86400000L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.EwmaUpdate],
                       _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    val (b1, b2) = all.partition(_._2 <= 5)
    stream.addData(b1.map { case (et, d, x) => Stateful.DayCount(et, day(d), x) })
    q.processAllAvailable()
    stream.addData(b2.map { case (et, d, x) => Stateful.DayCount(et, day(d), x) })
    q.processAllAvailable()
    q.stop()

    // batch twin: one event row per count unit on that day
    val ev = all.flatMap { case (et, d, x) =>
      Seq.fill(x.toInt)((et, day(d))) }.toDF("et", "t")
    val expected = graft.ops.Funnel.ewmaBands(ev, "et", "t")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    val streamed = out.map(u =>
      (u.et, u.day, u.x, u.ewma_milli, u.ewmad_milli, u.is_anomaly)).toSet
    assert(streamed === expected,
      s"streaming EWMA drifted:\n missing=${expected -- streamed}\n extra=${streamed -- expected}")
    // the spike flagged exactly once, in both forms
    assert(out.count(_.is_anomaly) === 1)
  }

  test("hwUpdates: final streamed state ≡ batch holtWinters (differential)") {
    implicit val sqlCtx = spark.sqlContext
    def day(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // type a observed daily over 17 days with a weekly spike; type b
    // sparse (the stream zero-fills 2..9 and 11..16 internally);
    // BOTH end on day 17 so the batch grid and per-key streams align
    val aCounts = (1 to 17).map(d =>
      ("a", d, if (d % 7 == 3) 20L else 4L + (d % 3)))
    val bCounts = Seq(("b", 1, 5L), ("b", 10, 2L), ("b", 17, 7L))
    val all = aCounts ++ bCounts
    val stream = MemoryStream[Stateful.DayCount]
    val out = mutable.Buffer.empty[Stateful.HwUpdate]
    val q = Stateful.hwUpdates(stream.toDS(), startDayMs = day(1).getTime,
        watermarkDelay = "1 day", stateTtlMs = 60L * 86400000L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.HwUpdate],
                       _: Long) =>
        out.synchronized { out ++= df.collect() }
        ()
      }.start()
    val (b1, b2) = all.partition(_._2 <= 9)
    stream.addData(b1.map { case (et, d, x) => Stateful.DayCount(et, day(d), x) })
    q.processAllAvailable()
    stream.addData(b2.map { case (et, d, x) => Stateful.DayCount(et, day(d), x) })
    q.processAllAvailable()
    q.stop()

    val ev = all.flatMap { case (et, d, x) =>
      Seq.fill(x.toInt)((et, day(d))) }.toDF("et", "t")
    val expected = graft.ops.Funnel.holtWinters(ev, "et", "t")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // last streamed update per type carries the final state
    val finals = out.groupBy(_.et).map { case (et, us) =>
      val last = us.maxBy(_.day.getTime)
      et -> (last.n_days, last.level_milli, last.trend_milli, last.f1_milli)
    }
    assert(finals === expected)
    // every grid day emitted exactly once per type (zero fill happened)
    assert(out.count(_.et == "b") === 17)
    assert(out.filter(u => u.et == "b" && u.x == 0L).size === 14)
  }

  test("streaming coverage ≡ batch intervalCoverage over in-order batches") {
    implicit val sqlCtx = spark.sqlContext
    def cev(user: Long, hhmmss: String) = Stateful.CoverageEvent(user,
      java.sql.Timestamp.valueOf(s"2024-01-01 $hhmmss"))
    // user 1: merge (0s, 300s), new island at 2000s; user 2 single.
    // cross-batch event times must stay ahead of the watermark (the
    // funnelUpdates spec's delivery discipline) — so batches advance
    // in event time
    val batch1 = Seq(cev(1, "00:00:00"))
    val batch2 = Seq(cev(1, "00:05:00"))
    val batch3 = Seq(cev(1, "00:33:20"), cev(2, "05:00:00"))
    val stream = MemoryStream[Stateful.CoverageEvent]
    val updates = mutable.Buffer.empty[Stateful.CoverageUpdate]
    val q = Stateful.coverageUpdates(stream.toDS(), ttlSec = 600L)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.CoverageUpdate], _: Long) =>
        updates.synchronized { updates ++= df.collect() }
        ()
      }.start()
    Seq(batch1, batch2, batch3).foreach { b =>
      stream.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    // final report per user from the stream (last update wins)
    val streamed = updates.groupBy(_.user).map { case (u, us) =>
      val last = us.maxBy(_.n_events)
      u -> (last.n_events, last.n_islands, last.covered_sec, last.span_sec)
    }
    val all = (batch1 ++ batch2 ++ batch3).map(e => (e.user, e.ts))
      .toDF("user_id", "ts")
    val batch = graft.ops.Funnel
      .intervalCoverage(all, "user_id", "ts", ttlSec = 600L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_islands"),
          r.getAs[Long]("covered_sec"), r.getAs[Long]("span_sec"))).toMap
    assert(streamed === batch)
    assert(streamed(1L) === ((3L, 2L, 1500L, 2600L)))
    // every trigger that saw a user emitted a row
    assert(updates.count(_.user == 1L) === 3)
  }

  test("streaming cluster-agreement monitor: folded cells ≡ batch " +
    "ARI/B³/V over delivered pairs (differential)") {
    implicit val sqlCtx = spark.sqlContext
    // a live labeling-quality monitor: (pred, truth) pairs arrive as
    // a stream; the (a, b) contingency cells fold additively across
    // triggers and all three agreement scores read back through the
    // SAME arithmetic as the batch operators
    val stream = MemoryStream[(String, String)]
    val cells = mutable.Map.empty[(String, String), Long]
    val q = stream.toDF().toDF("pred", "truth").writeStream
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
        cells.synchronized {
          rows.foreach(k => cells(k) = cells.getOrElse(k, 0L) + 1L)
        }
        ()
      }.start()
    val batch1 = Seq(("x", "p"), ("x", "p"), ("y", "q"))
    val batch2 = Seq(("x", "q"), ("y", "q"), ("z", "q"), ("x", "p"))
    stream.addData(batch1: _*); q.processAllAvailable()
    stream.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val folded = cells.toSeq.map { case ((a, b), n) => (a, b, n) }
    val df = (batch1 ++ batch2).toDF("pred", "truth")
    import graft.ops.Eval
    assert(Eval.adjustedRandFromCounts(spark, folded).collect().toSeq ===
      Eval.adjustedRand(df, "pred", "truth").collect().toSeq)
    assert(Eval.bcubedFromCounts(spark, folded).collect().toSeq ===
      Eval.bcubed(df, "pred", "truth").collect().toSeq)
    assert(Eval.vMeasureFromCounts(spark, folded).collect().toSeq ===
      Eval.vMeasure(df, "pred", "truth").collect().toSeq)
  }

  test("streaming funnel reaches: an event at epoch 0 is late before any fold sees it") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click")
    def fev(user: Long, tpe: String, ms: Long) =
      Stateful.FunnelEvent(user, tpe, new java.sql.Timestamp(ms))
    val minute = 60L * 1000
    val stream = MemoryStream[Stateful.FunnelEvent]
    val reaches = mutable.Buffer.empty[Stateful.FunnelReach]
    val q = Stateful.funnelReaches(stream.toDS(), steps, stateTtlMs = minute).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.FunnelReach], _: Long) =>
        reaches.synchronized { reaches ++= df.collect() }
        ()
      }.start()
    // user 1's first event carries event time 0, the usual value of a
    // missing timestamp. The watermark starts at 0 and Spark drops
    // events at or behind it, so no key state is created for it: a
    // fold never anchors a TTL at or before the epoch
    stream.addData(fev(1, "view", 0L)); q.processAllAvailable()
    stream.addData(fev(2, "view", 10 * minute)); q.processAllAvailable()
    stream.addData(fev(2, "view", 11 * minute)); q.processAllAvailable()
    stream.addData(fev(1, "view", 12 * minute)); q.processAllAvailable()
    q.stop()
    // the epoch-0 view emitted nothing; the 12-minute one is a first sighting
    val u1 = reaches.filter(_.user == 1L).map(r => (r.step, r.ts.getTime)).sorted
    assert(u1 === Seq((0, 12 * minute), (1, 12 * minute)))
  }

  test("skip-write TTL: a batch that moves no HLL register still re-arms the timeout") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Stateful.KeyedValue]
    val out = mutable.Buffer.empty[(Long, Stateful.HllUpdate)]
    val q = Stateful.hllRunning(stream.toDS(),
        watermarkDelay = "1 second", stateTtlMs = 5 * 60 * 1000).writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.HllUpdate], id: Long) =>
        out.synchronized { out ++= df.collect().map(u => (id, u)) }
        ()
      }.start()
    def kv(key: String, hhmm: String, v: String) = Stateful.KeyedValue(key,
      java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00"), v)
    def send(rows: Stateful.KeyedValue*): Unit = {
      stream.addData(rows); q.processAllAvailable()
    }
    def sums(key: String): Seq[Long] =
      out.filter(_._2.key == key).sortBy(_._1).map(_._2.hll_reg_sum).toSeq
    val regSum = graft.ops.Sketch.hllDistinct(
        Seq(("x", "x"), ("xy", "x"), ("xy", "y")).toDF("key", "v"), Seq("key"), col("v"))
      .select("key", "hll_reg_sum").as[(String, Long)].collect().toMap
    assert(regSum("x") !== regSum("xy"), "x and y must land in different registers")
    send(kv("a", "10:00", "x"), kv("a", "10:00", "y"))
    // x again: no register moves, so the state row is not rewritten
    // (its lastTs stays 10:00), but the timeout moves to 10:04 + 5 min
    send(kv("a", "10:04", "x"))
    // watermark to 10:06:59 — past 10:05, short of 10:09 — and one more
    // batch that runs with it and fires whatever timed out
    send(kv("filler", "10:07", "f"))
    send(kv("filler", "10:07", "f"))
    send(kv("a", "10:08", "x"))
    assert(sums("a") === Seq(regSum("xy"), regSum("xy"), regSum("xy")),
      "key a expired at the stale 10:05 timeout")
    // now past 10:08 + 5 min: the state expires and a starts over
    send(kv("filler", "10:20", "f"))
    send(kv("filler", "10:20", "f"))
    send(kv("a", "10:20", "x"))
    q.stop()
    assert(sums("a") === Seq(regSum("xy"), regSum("xy"), regSum("xy"), regSum("x")))
  }

  test("keyedTtlFold is the only flatMapGroupsWithState call under src/main/scala") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    // the call syntax, not the bare name (comments mention the name)
    val call = """\.(?:flatM|m)apGroupsWithState\b""".r
    val walk = Files.walk(root)
    val calls = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.filter(i => call.findFirstIn(lines(i)).isDefined)
          .map(i => (root.relativize(p).toString, lines, i))
      }.toList
    finally walk.close()
    assert(calls.map(_._1) ===
      List(Paths.get("graft", "streaming", "Stateful.scala").toString))
    val (_, lines, at) = calls.head
    val enclosing = (at to 0 by -1).map(lines).find(_.matches("""\s*(private )?def .*"""))
    assert(enclosing.exists(_.contains("def keyedTtlFold")), s"call sits in $enclosing")
  }
}
