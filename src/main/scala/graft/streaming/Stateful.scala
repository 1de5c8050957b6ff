package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming operators — capabilities beyond the reference
  * (kpipe explicitly has no windows/state, `README.md:203-208`) that a
  * training-data stream pipeline needs. All state is watermark-bounded:
  * unbounded streaming state is the #1 way a 100 TB stream job dies.
  *
  * Every keyed operator below is one per-batch fold run by
  * `keyedTtlFold`, the only `flatMapGroupsWithState` call, so these
  * rules hold for all of them and are stated once:
  *  - a key whose event-time timeout fires is removed (only
  *    [[sessionize]] emits a last row for it);
  *  - the state write is optional: a batch that moved nothing skips it;
  *  - while a key's state exists, every batch that sees the key re-arms
  *    its timeout at the fold's event-time anchor + the TTL, so every
  *    key's state has a scheduled death;
  *  - the TTL drift a skipped write causes is bounded by the watermark
  *    delay.
  */
object Stateful {

  /** Streaming exact dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps a key only until the
    * watermark passes it.
    */
  def dedupWithinWatermark(df: DataFrame, eventTimeCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked tumbling-window aggregation — the streaming form of
    * the batch `q19_time_bucket_agg` (same expressions, same results on
    * the same rows).
    */
  def windowedAgg(df: DataFrame, eventTimeCol: String, delay: String,
                  windowDuration: String, keyCols: Seq[Column],
                  aggs: Seq[Column]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), windowDuration) +: keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Watermarked stream-stream interval join: left rows match right
    * rows with the same key whose event time falls in
    * [leftTs, leftTs + within]. Both sides carry watermarks so the
    * join state is bounded — Spark drops buffered rows once the
    * watermark passes the interval, the only way a stream-stream join
    * survives at scale.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String, leftTsCol: String, rightTsCol: String,
                   delay: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, delay).as("l")
    val r = right.withWatermark(rightTsCol, delay).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTsCol") >= col(s"l.$leftTsCol") &&
        col(s"r.$rightTsCol") <= col(s"l.$leftTsCol") + expr(s"INTERVAL $within"))
  }

  // ------------------------------------------------------------------ //
  // Custom keyed state (flatMapGroupsWithState)                        //
  // ------------------------------------------------------------------ //

  /** The keyed-state shell every operator below runs on:
    * `flatMapGroupsWithState` in Append mode with an EVENT-TIME timeout
    * (the watermark drives state death, so behavior is deterministic and
    * replayable; processing-time timeouts would re-trigger forever in
    * tests and drift in production). Per key and micro-batch:
    *
    *  - timed out: the state is removed and `onTimeout(key, old)` is
    *    emitted (nothing by default);
    *  - otherwise `step(key, stored state, batch rows)` returns
    *    `(write, anchorMs, out)`, then `write` (if any) replaces the
    *    state, and while state exists its timeout is re-armed at
    *    `anchorMs + ttlMs`; `out` is emitted.
    *
    * `write = None` skips the state write. State-store commit volume is
    * the throughput ceiling of these paths, so a fold whose batch moved
    * nothing (redelivery, duplicates, a full near-dup bucket) leaves the
    * stored row as it is and only the TTL clock advances. The stored
    * row's own `lastTs` then lags the true last arrival, so a later
    * batch can anchor below the timeout it replaces; that drift is
    * bounded by the watermark delay (events behind the watermark never
    * reach a fold).
    */
  private def keyedTtlFold[K, V, S: Encoder, U: Encoder](
      grouped: KeyValueGroupedDataset[K, V], ttlMs: Long)(
      step: (K, Option[S], Iterator[V]) => (Option[S], Long, Iterator[U]),
      onTimeout: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty): Dataset[U] =
    grouped.flatMapGroupsWithState[S, U](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          val old = state.get
          state.remove()
          onTimeout(key, old)
        } else {
          val (write, anchorMs, out) = step(key, state.getOption, rows)
          write.foreach(state.update)
          if (state.exists) state.setTimeoutTimestamp(anchorMs + ttlMs)
          out
        }
    }

  final case class SessionEvent(user: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(count: Long, total: Double, lastTs: Long)
  final case class SessionUpdate(user: Long, events: Long, total: Double, closed: Boolean)

  /** Inactivity-gap sessionization over a typed event stream: per-key
    * (count, total, last event time) with the gap as the event-time
    * TTL. Emits a running update per batch and a final `closed=true`
    * row when the watermark passes the gap, then clears the state.
    */
  def sessionize(ds: org.apache.spark.sql.Dataset[SessionEvent],
                 gapMs: Long, watermarkDelay: String = "1 second")
      : org.apache.spark.sql.Dataset[SessionUpdate] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedTtlFold(ds.withWatermark("ts", watermarkDelay).groupByKey(_.user), gapMs)(
      (user: Long, stored: Option[SessionState], events: Iterator[SessionEvent]) => {
        val evs = events.toSeq
        val prev = stored.getOrElse(SessionState(0, 0.0, 0L))
        val next = SessionState(
          prev.count + evs.size,
          prev.total + evs.map(_.value).sum,
          evs.map(_.ts.getTime).foldLeft(prev.lastTs)(math.max))
        (Some(next), next.lastTs,
          Iterator(SessionUpdate(user, next.count, next.total, closed = false)))
      },
      onTimeout = (user: Long, s: SessionState) =>
        Iterator(SessionUpdate(user, s.count, s.total, closed = true)))
  }

  // ------------------------------------------------------------------ //
  // Streaming ordered funnel (keyed greedy chain state)                //
  // ------------------------------------------------------------------ //

  final case class FunnelEvent(user: Long, eventType: String,
                               ts: java.sql.Timestamp)
  /** Epoch-millis time of each completed step so far (length = depth). */
  final case class FunnelState(times: Array[Long])
  final case class FunnelUpdate(user: Long, steps_completed: Int,
                                last_step_ts: java.sql.Timestamp,
                                converted: Boolean)

  /** STREAMING form of [[graft.ops.Funnel.funnelTimes]]: per user, the
    * greedy earliest view→…→purchase chain advanced incrementally —
    * state is just the completed steps' times (≤ S longs per user,
    * bounded by construction), never the event history. Emits an
    * update whenever a user's depth advances; `converted` marks full
    * completion. State dies `stateTtlMs` after the user's last event
    * (event-time timeout — deterministic and replayable).
    *
    * Semantics note (documented micro-batch deviation, same class as
    * the per-attempt observer deviation): events are processed in
    * event-time order WITHIN each micro-batch, so the result is
    * bit-identical to the batch operator whenever each user's events
    * arrive across batches in event-time order (the Kafka
    * per-partition guarantee for a user-keyed topic). A cross-batch
    * straggler that lands behind an already-advanced step cannot
    * retroactively lower the chain — the batch operator would; the
    * differential spec pins the identical-order case.
    */
  def funnelUpdates(ds: org.apache.spark.sql.Dataset[FunnelEvent],
                    steps: Seq[String], watermarkDelay: String = "10 seconds",
                    stateTtlMs: Long = 3600L * 1000)
      : org.apache.spark.sql.Dataset[FunnelUpdate] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"bad step list: $steps")
    val spark = ds.sparkSession
    import spark.implicits._
    val stepArr = steps.toArray
    keyedTtlFold(ds.withWatermark("ts", watermarkDelay).groupByKey(_.user), stateTtlMs) {
      (user: Long, stored: Option[FunnelState], events: Iterator[FunnelEvent]) =>
        var times = stored.map(_.times).getOrElse(Array.empty[Long])
        val before = times.length
        val evs = events.toArray.sortBy(_.ts.getTime)
        var lastTs = 0L
        evs.foreach { e =>
          val t = e.ts.getTime
          lastTs = math.max(lastTs, t)
          if (times.length < stepArr.length &&
              e.eventType == stepArr(times.length) &&
              (times.isEmpty || t > times.last))
            times = times :+ t
        }
        val advanced = times.length > before
        (if (advanced || stored.isEmpty) Some(FunnelState(times)) else None, lastTs,
          if (advanced)
            Iterator(FunnelUpdate(user, times.length,
              new java.sql.Timestamp(times.last),
              converted = times.length == stepArr.length))
          else Iterator.empty)
    }
  }

  final case class FunnelReach(user: Long, step: Int,
                               ts: java.sql.Timestamp)

  /** Per-step reach stream for the funnel REPORT readback: where
    * [[funnelUpdates]] emits one row per depth advance (the new depth
    * only — a user jumping 0→3 inside one micro-batch emits just
    * depth 3), this emits one row per NEWLY COMPLETED STEP (that jump
    * yields step rows 1, 2 AND 3), plus a step-0 row the first time a
    * user is seen at all — the report's total-users denominator.
    * Each (user, step) is emitted at most once while the user's state
    * lives, so CUMULATIVE per-step counts over this stream equal the
    * batch report's n_users column exactly; fold them per trigger
    * (foreachBatch) and hand the totals to
    * [[graft.ops.Funnel.reportFromCounts]], which builds the
    * q145-shape report through the SAME row emitter the batch
    * operator uses (differential-specced vs [[graft.ops.Funnel
    * .funnelReport]] over delivered events).
    *
    * Same bounded chain state, greedy earliest-completion semantics
    * and event-time-order contract as [[funnelUpdates]]; a user
    * outliving `stateTtlMs` re-counts in step 0 by construction
    * (state death forgets the sighting).
    */
  def funnelReaches(ds: org.apache.spark.sql.Dataset[FunnelEvent],
                    steps: Seq[String], watermarkDelay: String = "10 seconds",
                    stateTtlMs: Long = 3600L * 1000)
      : org.apache.spark.sql.Dataset[FunnelReach] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"bad step list: $steps")
    val spark = ds.sparkSession
    import spark.implicits._
    val stepArr = steps.toArray
    keyedTtlFold(ds.withWatermark("ts", watermarkDelay).groupByKey(_.user), stateTtlMs) {
      (user: Long, stored: Option[FunnelState], events: Iterator[FunnelEvent]) =>
        val firstSeen = stored.isEmpty
        var times = stored.map(_.times).getOrElse(Array.empty[Long])
        val before = times.length
        val evs = events.toArray.sortBy(_.ts.getTime)
        val out = scala.collection.mutable.ArrayBuffer.empty[FunnelReach]
        if (firstSeen && evs.nonEmpty)
          out += FunnelReach(user, 0, evs.head.ts)
        var lastTs = 0L
        evs.foreach { e =>
          val t = e.ts.getTime
          lastTs = math.max(lastTs, t)
          if (times.length < stepArr.length &&
              e.eventType == stepArr(times.length) &&
              (times.isEmpty || t > times.last)) {
            times = times :+ t
            out += FunnelReach(user, times.length, e.ts)
          }
        }
        (if (times.length > before || firstSeen) Some(FunnelState(times)) else None,
          lastTs, out.iterator)
    }
  }

  // ------------------------------------------------------------------ //
  // Streaming merged-interval coverage (keyed last-interval state)     //
  // ------------------------------------------------------------------ //

  final case class CoverageEvent(user: Long, ts: java.sql.Timestamp)
  /** Last island's latest start + the accumulated report — 5 longs per
    * user, never the event history.
    */
  final case class CoverageState(lastStartSec: Long, firstStartSec: Long,
                                 islands: Long, coveredSec: Long,
                                 nEvents: Long)
  final case class CoverageUpdate(user: Long, n_events: Long,
                                  n_islands: Long, covered_sec: Long,
                                  span_sec: Long)

  /** STREAMING form of [[graft.ops.Funnel.intervalCoverage]]: per
    * user, the merged fixed-TTL interval report advanced
    * incrementally — a new event either extends the current island
    * (gap < ttl: covered += gap) or opens a new one (covered += ttl).
    * Emits the updated per-user report each trigger that saw the
    * user. Same micro-batch ordering semantics as [[funnelUpdates]]
    * (in-batch event-time sort; bit-identical to batch under
    * in-order cross-batch arrival — the user-keyed Kafka guarantee;
    * the differential spec pins that case).
    */
  def coverageUpdates(ds: org.apache.spark.sql.Dataset[CoverageEvent],
                      ttlSec: Long = 1800L,
                      watermarkDelay: String = "10 seconds",
                      stateTtlMs: Long = 3600L * 1000)
      : org.apache.spark.sql.Dataset[CoverageUpdate] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedTtlFold(ds.withWatermark("ts", watermarkDelay).groupByKey(_.user), stateTtlMs) {
      (user: Long, stored: Option[CoverageState], events: Iterator[CoverageEvent]) =>
        var st = stored.getOrElse(
          CoverageState(Long.MinValue, Long.MinValue, 0L, 0L, 0L))
        var lastTs = 0L
        events.toArray.sortBy(_.ts.getTime).foreach { e =>
          val s = math.floorDiv(e.ts.getTime, 1000L)
          lastTs = math.max(lastTs, e.ts.getTime)
          st =
            if (st.islands == 0L)
              CoverageState(s, s, 1L, ttlSec, 1L)
            else if (s - st.lastStartSec >= ttlSec)
              st.copy(lastStartSec = s, islands = st.islands + 1,
                coveredSec = st.coveredSec + ttlSec,
                nEvents = st.nEvents + 1)
            else
              st.copy(lastStartSec = math.max(st.lastStartSec, s),
                coveredSec = st.coveredSec +
                  math.max(s - st.lastStartSec, 0L),
                nEvents = st.nEvents + 1)
        }
        (Some(st), lastTs,
          Iterator(CoverageUpdate(user, st.nEvents, st.islands, st.coveredSec,
            st.lastStartSec - st.firstStartSec + ttlSec)))
    }
  }

  // ------------------------------------------------------------------ //
  // Streaming near-dup detection (SimHash LSH over keyed state)        //
  // ------------------------------------------------------------------ //

  final case class KeyedValue(key: String, ts: java.sql.Timestamp, value: String)
  final case class HllState(regs: Array[Byte], lastTs: Long)
  final case class HllUpdate(key: String, hll_reg_sum: Long, hll_est_x10: Long,
                             n_events: Long)

  /** Incremental HLL distinct-count per key — the STREAMING form of
    * [[graft.ops.Sketch.hllDistinct]]: the keyed state IS the 1 KiB
    * register table (max-folded per event, so re-deliveries and
    * duplicates are free no-ops), and every micro-batch emits the
    * updated exact fingerprint + integer estimate for the keys it
    * touched. This is the incremental-profiling loop executed as a
    * stream: per-key state is 1024 bytes FOREVER regardless of how
    * many values flow through, and the emitted `hll_reg_sum` /
    * `hll_est_x10` are bit-identical to what the batch operator
    * computes over the same value multiset (differential-specced) —
    * fold today's stream into yesterday's registers instead of
    * rescanning history. State dies `stateTtlMs` after a key's last
    * arrival (event-time timeout), like [[nearDupCandidates]].
    */
  def hllRunning(events: org.apache.spark.sql.Dataset[KeyedValue],
                 watermarkDelay: String, stateTtlMs: Long)
      : org.apache.spark.sql.Dataset[HllUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val estNum = BigInt(graft.ops.Sketch.HllEstNumX10)
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[HllState], rows: Iterator[KeyedValue]) =>
        val s = stored.getOrElse(HllState(new Array[Byte](1024), 0L))
        val regs = s.regs.clone()
        var lastTs = s.lastTs
        var n = 0L
        var changed = false
        rows.foreach { kv =>
          // native twin of the column pipeline: h = md5-derived
          // 61-bit hash, bucket = low 10 bits, rho = rank of the
          // remaining 51 bits (52 - bitLength), register = max
          val h = graft.functions.HashFns.hash61Bytes(
            kv.value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val bucket = (h & 1023L).toInt
          val w = h >>> 10
          val rho =
            (if (w == 0L) 52 else 52 - (64 - java.lang.Long.numberOfLeadingZeros(w))).toByte
          if (rho > regs(bucket)) { regs(bucket) = rho; changed = true }
          lastTs = math.max(lastTs, kv.ts.getTime)
          n += 1
        }
        var regSum = 0L
        var i = 0
        while (i < 1024) { regSum += 1L << (52 - regs(i)); i += 1 }
        // no register moved (every value already observed): no write
        (if (changed) Some(HllState(regs, lastTs)) else None, lastTs,
          Iterator.single(HllUpdate(key, regSum, (estNum / regSum).toLong, n)))
    }
  }

  final case class CmsState(counts: Array[Long], lastTs: Long)
  final case class CmsEstimate(key: String, value: String, cms_est: Long)

  /** Incremental count-min frequencies per key — the streaming form of
    * [[graft.ops.Sketch.cmsCounts]]: keyed state is the flattened
    * d×w counter matrix (w·d·8 bytes forever — 32 KiB at the default),
    * and each micro-batch emits the updated point estimate for every
    * DISTINCT value it delivered (live hot-token detection without a
    * token dictionary). Estimates are bit-identical to the batch
    * sketch over the same delivered multiset (differential-specced).
    * Counting state means at-least-once delivery INFLATES counts —
    * unlike the max-folded [[hllRunning]], re-delivery is not a no-op;
    * feed exactly-once sources or dedupe upstream when that matters.
    * State dies `stateTtlMs` after a key's last arrival.
    */
  def cmsRunning(events: org.apache.spark.sql.Dataset[KeyedValue],
                 watermarkDelay: String, stateTtlMs: Long,
                 w: Int = 1024, d: Int = 4)
      : org.apache.spark.sql.Dataset[CmsEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[CmsState], rows: Iterator[KeyedValue]) =>
        val s = stored.getOrElse(CmsState(new Array[Long](d * w), 0L))
        val counts = s.counts.clone()
        var lastTs = s.lastTs
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        rows.foreach { kv =>
          val x = graft.functions.HashFns.hash61Bytes(
            kv.value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var j = 0
          while (j < d) {
            counts(j * w + (graft.functions.HashFns.hashAtLong(x, j) % w).toInt) += 1
            j += 1
          }
          lastTs = math.max(lastTs, kv.ts.getTime)
          seen.put(kv.value, x)
        }
        (Some(CmsState(counts, lastTs)), lastTs,
          seen.iterator.map { case (v, x) =>
            var est = Long.MaxValue
            var j = 0
            while (j < d) {
              val c = counts(j * w + (graft.functions.HashFns.hashAtLong(x, j) % w).toInt)
              if (c < est) est = c
              j += 1
            }
            CmsEstimate(key, v, est)
          }.toSeq.iterator)
    }
  }

  final case class BloomState(words: Array[Long], lastTs: Long)
  final case class BloomSeen(key: String, value: String, seen_before: Boolean)

  /** Incremental bloom membership per key — the streaming form of
    * [[graft.ops.Sketch.bloomWords]] run as probe-then-insert: each
    * event reports whether its value's k positions were ALREADY all
    * set (`seen_before`), then sets them. This is streaming
    * approximate first-occurrence detection at CONSTANT memory —
    * `dropDuplicatesWithinWatermark` keeps every key it has seen
    * inside the watermark; this keeps mBits/64 words (8 KiB at the
    * default) per key FOREVER, trading a bounded false-positive rate
    * ("seen" for a value that never arrived) for zero false negatives
    * (a re-delivered value ALWAYS probes seen — OR-folding is
    * idempotent, so redelivery never moves the filter). Position
    * family is the native twin of the column form (hashAtLong mod
    * mBits; bit 63 via Scala's << wrap, same as Spark shiftleft) —
    * pinned against [[graft.ops.Sketch.bloomMaybe]] by spec. A batch
    * that sets no new bit skips the state rewrite like [[hllRunning]].
    * State dies `stateTtlMs` after a key's last arrival.
    */
  def bloomRunning(events: org.apache.spark.sql.Dataset[KeyedValue],
                   watermarkDelay: String, stateTtlMs: Long,
                   mBits: Int = 1 << 16, k: Int = 4)
      : org.apache.spark.sql.Dataset[BloomSeen] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[BloomState], rows: Iterator[KeyedValue]) =>
        val s = stored.getOrElse(BloomState(new Array[Long](mBits / 64), 0L))
        val words = s.words.clone()
        var lastTs = s.lastTs
        var changed = false
        val out = Seq.newBuilder[BloomSeen]
        rows.foreach { kv =>
          val x = graft.functions.HashFns.hash61Bytes(
            kv.value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var seen = true
          var j = 0
          while (j < k) {
            val pos = (graft.functions.HashFns.hashAtLong(x, j) % mBits).toInt
            val mask = 1L << (pos & 63)
            val widx = pos >>> 6
            if ((words(widx) & mask) == 0L) {
              seen = false; words(widx) |= mask; changed = true
            }
            j += 1
          }
          out += BloomSeen(key, kv.value, seen)
          lastTs = math.max(lastTs, kv.ts.getTime)
        }
        (if (changed) Some(BloomState(words, lastTs)) else None, lastTs,
          out.result().iterator)
    }
  }

  final case class KmvState(vals: Array[Long], lastTs: Long)
  final case class KmvUpdate(key: String, kmv_n: Long, kmv_kth: Long,
                             kmv_est_x10: Long, n_events: Long)

  /** Incremental KMV distinct sketch per key — the streaming form of
    * [[graft.ops.Sketch.kmvSketch]], completing the streaming sketch
    * family next to [[hllRunning]]/[[cmsRunning]]/[[bloomRunning]]:
    * keyed state is the ≤k smallest distinct 61-bit value hashes
    * (k·8 bytes forever), and each micro-batch emits the updated
    * (kmv_n, kmv_kth, kmv_est_x10) for the keys it touched —
    * bit-identical to the batch [[graft.ops.Sketch.kmvStats]] readback
    * over the same delivered multiset (differential-specced). Like the
    * HLL, the fold is idempotent (set semantics): re-deliveries and
    * duplicates move nothing, and a batch that displaces no sketch
    * value skips the state rewrite entirely. State dies `stateTtlMs`
    * after a key's last arrival (event-time timeout).
    */
  def kmvRunning(events: org.apache.spark.sql.Dataset[KeyedValue],
                 watermarkDelay: String, stateTtlMs: Long, k: Int = 256)
      : org.apache.spark.sql.Dataset[KmvUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val estNum = BigInt(graft.ops.Sketch.kmvEstNumX10(k))
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[KmvState], rows: Iterator[KeyedValue]) =>
        val s = stored.getOrElse(KmvState(Array.emptyLongArray, 0L))
        val set = scala.collection.mutable.TreeSet.from(s.vals)
        var lastTs = s.lastTs
        var n = 0L
        var changed = false
        rows.foreach { kv =>
          val h = graft.functions.HashFns.hash61Bytes(
            kv.value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // insert only if it belongs in the bottom-k; evict the
          // displaced max so the set never exceeds k entries
          if ((set.size < k || h < set.last) && set.add(h)) {
            if (set.size > k) set.remove(set.last)
            changed = true
          }
          lastTs = math.max(lastTs, kv.ts.getTime)
          n += 1
        }
        val held = set.size.toLong
        val kth = if (set.isEmpty) 0L else set.last
        val est =
          if (held < k) held * 10
          else (estNum / math.max(kth, 1L)).toLong
        (if (changed) Some(KmvState(set.toArray, lastTs)) else None, lastTs,
          Iterator.single(KmvUpdate(key, held, kth, est, n)))
    }
  }

  final case class HistState(bins: Array[Long], cnts: Array[Long], lastTs: Long)
  final case class HistQuantileUpdate(key: String, pct: Long, target_rank: Long,
                                      bin: Long, bin_lo: Long, total: Long)

  /** Incremental keyed histogram quantiles — the streaming form of
    * [[graft.ops.Sketch.histogramBy]] + `histQuantilesBy`: keyed state
    * is the sparse (bin, cnt) table (bounded by the value range over
    * binWidth, NOT by row count), and each micro-batch emits the
    * updated integer quantile readback — one row per pct, same columns
    * and same ceil-rank rule as the batch operator, bit-identical over
    * the same delivered multiset (differential-specced). This is the
    * live distribution dashboard at constant memory: p50/p90/p99
    * document lengths per source, updated per trigger, no percentile
    * sketch approximation. Counting state means at-least-once delivery
    * INFLATES counts (like [[cmsRunning]], unlike the idempotent
    * [[hllRunning]]/[[kmvRunning]]); feed exactly-once sources or
    * dedupe upstream when that matters. `value` must parse as a
    * non-negative Long ([[graft.ops.Sketch.histogramBy]]'s contract).
    * State dies `stateTtlMs` after a key's last arrival.
    */
  def histRunning(events: org.apache.spark.sql.Dataset[KeyedValue],
                  watermarkDelay: String, stateTtlMs: Long,
                  binWidth: Long = 8L, pcts: Seq[Int] = Seq(50, 90, 99))
      : org.apache.spark.sql.Dataset[HistQuantileUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[HistState], rows: Iterator[KeyedValue]) =>
        val s = stored.getOrElse(HistState(Array.emptyLongArray, Array.emptyLongArray, 0L))
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        var i = 0
        while (i < s.bins.length) { m.put(s.bins(i), s.cnts(i)); i += 1 }
        var lastTs = s.lastTs
        rows.foreach { kv =>
          val b = kv.value.toLong / binWidth
          m.update(b, m.getOrElse(b, 0L) + 1L)
          lastTs = math.max(lastTs, kv.ts.getTime)
        }
        // counting fold: every delivered event moves a counter, so
        // every batch writes
        val sorted = m.toArray.sortBy(_._1)
        val total = sorted.iterator.map(_._2).sum
        (Some(HistState(sorted.map(_._1), sorted.map(_._2), lastTs)), lastTs,
          pcts.iterator.map { p =>
            // same integer ceil-rank rule as the batch readback:
            // target_rank = (pct·total + 99) div 100, bin = smallest
            // bin whose cumulative count reaches it
            val target = (p * total + 99L) / 100L
            var cum = 0L
            var j = 0
            while (j < sorted.length && cum + sorted(j)._2 < target) {
              cum += sorted(j)._2; j += 1
            }
            // sorted is non-empty: a fold only runs for groups that
            // delivered rows (timeouts never reach it), and any
            // delivered row populates at least one bin
            val bin = sorted(math.min(j, sorted.length - 1))._1
            HistQuantileUpdate(key, p.toLong, target, bin, bin * binWidth, total)
          }.toSeq.iterator)
    }
  }

  final case class TopkState(items: Array[String], cnts: Array[Long],
                             errs: Array[Long], lastTs: Long)
  final case class TopkUpdate(key: String, item: String, est: Long, err: Long,
                              rank: Long)

  /** Streaming heavy hitters per key — Space-Saving (Metwally et al.
    * 2005) as keyed state: at most `cap` (item, est, err) counters per
    * key FOREVER. A known item increments; an unknown item with free
    * capacity starts at (1, 0); otherwise it REPLACES the minimum
    * counter m, inheriting est = m+1 with err = m (the classic
    * overestimate bound). Invariants, per key and delivered multiset:
    * est ≥ true count ≥ est − err for every held item, and any item
    * with true count > n/cap is guaranteed held — the summary carries
    * its own error certificate, which [[cmsRunning]] cannot. Each
    * micro-batch emits the top `emitK` counters (est DESC, item ASC —
    * victim choice breaks count ties by smallest item, so the fold is
    * deterministic given per-key arrival order). Counting state:
    * at-least-once redelivery inflates counts (like [[cmsRunning]],
    * unlike the idempotent [[hllRunning]]/[[kmvRunning]]). State dies
    * `stateTtlMs` after a key's last arrival. The per-event fold is
    * [[SpaceSaving]], unit-pinned by spec.
    */
  def topkRunning(events: org.apache.spark.sql.Dataset[KeyedValue],
                  watermarkDelay: String, stateTtlMs: Long,
                  cap: Int = 64, emitK: Int = 5)
      : org.apache.spark.sql.Dataset[TopkUpdate] = {
    require(cap > 0 && emitK > 0, s"need positive cap/emitK, got $cap/$emitK")
    val spark = events.sparkSession
    import spark.implicits._
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[TopkState], rows: Iterator[KeyedValue]) =>
        val s = stored.getOrElse(
          TopkState(Array.empty, Array.emptyLongArray, Array.emptyLongArray, 0L))
        val ss = SpaceSaving.restore(cap, s.items, s.cnts, s.errs)
        var lastTs = s.lastTs
        rows.foreach { kv =>
          ss.add(kv.value)
          lastTs = math.max(lastTs, kv.ts.getTime)
        }
        // counting fold: every delivered event moves a counter, so
        // every batch writes
        val (items, cnts, errs) = ss.snapshot()
        (Some(TopkState(items, cnts, errs, lastTs)), lastTs,
          ss.top(emitK).zipWithIndex.map { case ((item, est, err), i) =>
            TopkUpdate(key, item, est, err, i + 1L)
          }.iterator)
    }
  }

  final case class WeightedEvent(key: String, ts: java.sql.Timestamp,
                                 id: String, w: Long)
  final case class PrioState(ts: Array[Long], ids: Array[String],
                             ws: Array[Long], lastTs: Long)
  final case class PrioUpdate(key: String, n_held: Long, tau: Long,
                              w_hat_sum: Long, n_events: Long)

  /** Streaming priority sampling per key — the streaming form of
    * [[graft.ops.Mixture.prioritySampleBy]]: keyed state is the
    * bottom-(k+1) of (t = hash61(id) div max(w,1), id) plus each held
    * row's weight — at most k+1 entries FOREVER. Because membership is
    * decided purely by the (t, id) ORDER SET, the fold is insertion-
    * order-free and redelivery is a no-op (set semantics) — the
    * streaming sample is bit-identical to the batch sampler over the
    * same delivered document set (differential-specced), the same
    * idempotence class as [[hllRunning]]/[[kmvRunning]]. Each batch
    * emits the live estimate: n_held (sample size, ≤ k), τ (the
    * (k+1)-th t, −1 while the key is still a census), and w_hat_sum =
    * Σ max(w, 2^61 div max(τ,1)) over the sample — an unbiased
    * running estimate of the key's TOTAL weight mass (e.g. token
    * count) maintained in O(k) memory. State dies `stateTtlMs` after
    * a key's last arrival.
    */
  def priorityRunning(events: org.apache.spark.sql.Dataset[WeightedEvent],
                      watermarkDelay: String, stateTtlMs: Long, k: Int = 256)
      : org.apache.spark.sql.Dataset[PrioUpdate] = {
    require(k > 0, s"k must be positive, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    val Two61 = 2305843009213693952L
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.key), stateTtlMs) {
      (key: String, stored: Option[PrioState], rows: Iterator[WeightedEvent]) =>
        val s = stored.getOrElse(
          PrioState(Array.emptyLongArray, Array.empty, Array.emptyLongArray, 0L))
        val set = scala.collection.mutable.TreeSet.empty[(Long, String)]
        val wOf = scala.collection.mutable.HashMap.empty[(Long, String), Long]
        var i = 0
        while (i < s.ts.length) {
          val e = (s.ts(i), s.ids(i))
          set.add(e); wOf.put(e, s.ws(i)); i += 1
        }
        var lastTs = s.lastTs
        var changed = false
        var n = 0L
        rows.foreach { ev =>
          val h = graft.functions.HashFns.hash61Bytes(
            ev.id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val t = h / math.max(ev.w, 1L)
          val e = (t, ev.id)
          // bottom-(k+1) insert with displaced-max eviction;
          // re-delivered ids land on an existing (t, id) — no-op
          if ((set.size < k + 1 || implicitly[Ordering[(Long, String)]]
                .lt(e, set.last)) && set.add(e)) {
            wOf.put(e, ev.w)
            if (set.size > k + 1) { val mx = set.last; set.remove(mx); wOf.remove(mx) }
            changed = true
          }
          lastTs = math.max(lastTs, ev.ts.getTime)
          n += 1
        }
        val held = set.toSeq
        val (sample, tau) =
          if (held.size == k + 1) (held.init, held.last._1)
          else (held, -1L)
        val whs = sample.iterator.map { e =>
          if (tau < 0) wOf(e)
          else math.max(wOf(e), Two61 / math.max(tau, 1L))
        }.sum
        val write =
          if (changed) {
            val arr = set.toArray
            Some(PrioState(arr.map(_._1), arr.map(_._2), arr.map(wOf), lastTs))
          } else None
        (write, lastTs, Iterator.single(PrioUpdate(key, sample.size.toLong, tau, whs, n)))
    }
  }

  final case class DocEvent(id: Long, ts: java.sql.Timestamp, text: String)
  final case class DupCandidate(id: Long, dup_of: Long, band: Int, hamming: Int)
  /** One document in one band bucket of [[nearDupCandidates]]: event
    * time as epoch milliseconds, the full SimHash signature.
    */
  final case class BandEvent(id: Long, ts_ms: Long, sig: Long)
  object BandEvent {
    /** Processing order within a bucket: (event time, id). */
    val byTime: Ordering[BandEvent] = (a, b) => {
      val c = java.lang.Long.compare(a.ts_ms, b.ts_ms)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }
  /** Per-bucket state as PARALLEL PRIMITIVE ARRAYS, not a
    * List[(sig, id)]: the state row is re-encoded on every update
    * (≈ once per input event), and Spark's encoder writes Array[Long]
    * through the unsafe primitive-array writer while a List of tuples
    * goes through per-element object serialization — at 10⁶ state
    * updates per micro-batch the encoder IS the hot path.
    */
  final case class BucketSigs(sigs: Array[Long], ids: Array[Long], lastTs: Long)

  /** Streaming near-duplicate detection — the streaming twin of the
    * batch [[graft.dedup.Dedup.simhashNearDupPairs]]: each document's
    * 64-bit SimHash is banded into 4×16-bit chunks; a doc lands in 4
    * band buckets and is compared (full-signature hamming ≤ `maxDist`)
    * against the signatures its buckets have seen. Emits a
    * [[DupCandidate]] per matching band — AT-LEAST-ONCE per pair (a
    * pair sharing b bands emits b times; pairs are idempotent, so
    * consumers dedupe per micro-batch or key their sink by (id,
    * dup_of)). `dup_of` is the minimum matching prior id, so output is
    * deterministic given arrival order.
    *
    * Bounded-state discipline, twice over: (1) every bucket's state
    * dies `stateTtlMs` after its last arrival (event-time timeout — the
    * dedup horizon is explicit, exactly like
    * `dropDuplicatesWithinWatermark`); (2) a bucket retains at most
    * `maxPerBucket` signatures — the streaming analog of the batch
    * hot-bucket guard: a degenerate bucket (boilerplate near-dups all
    * hashing together) stops GROWING but keeps MATCHING against what it
    * holds, so state never amplifies quadratically while detection
    * degrades gracefully.
    *
    * Per-batch input is bounded too: events are processed in sorted
    * chunks of `sortChunk`, so a degenerate bucket receiving a huge
    * micro-batch never materializes more than `sortChunk` events at
    * once (the prior form buffered + sorted the whole group).
    * Within-batch (ts, id) ordering — and therefore the deterministic
    * minimum `dup_of` — is exact when a bucket sees ≤ `sortChunk`
    * events per micro-batch; past that, ordering is chunk-local and
    * `dup_of` may name a different (still-matching) prior doc.
    * Candidate SEMANTICS (at-least-once emission against
    * already-observed signatures) are unaffected.
    *
    * State key: one Long per bucket, `band << 16 | bval` (band 0–3 in
    * bits 16–17, the band's 16-bit chunk of the signature in bits
    * 0–15), so the grouping sort compares one long — its order is the
    * (band, bval) order — and each bucket's rows arrive as
    * [[BandEvent]]s with a primitive event time. The key schema
    * changed from a (band, bval) pair to this Long, so a query
    * checkpointed with the pair key cannot restart on this operator:
    * start it from a fresh checkpoint.
    */
  def nearDupCandidates(docs: org.apache.spark.sql.Dataset[DocEvent],
                        watermarkDelay: String, stateTtlMs: Long,
                        maxDist: Int = 3, maxPerBucket: Int = 1024,
                        sortChunk: Int = 4096)
      : org.apache.spark.sql.Dataset[DupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // signature via the Scala-native simhash (bit-identical to the
    // column form, pinned by DedupSpec): the interpreted column
    // expression costs ~1.5 ms/doc — 650 rec/s, 400× under the
    // stateless pipeline — while the typed map is microseconds/doc.
    // Null-text events are dropped (a null doc has no signature; the
    // pre-r8 column path emitted a null sig that matched nothing,
    // whereas simhashLong(null) would kill the query).
    val banded = docs
      .filter(_.text != null)
      .map(d => (d.id, d.ts, graft.dedup.Dedup.simhashLong(d.text)))
      .toDF("id", "ts", "sig")
      .withWatermark("ts", watermarkDelay)
      .select(col("id"), col("ts"), unix_millis(col("ts")).as("ts_ms"),
        col("sig"), explode(array((0 until 4).map(b =>
          lit(b.toLong << 16).bitwiseOR(
            shiftright(col("sig"), 16 * b).bitwiseAND(lit(0xFFFFL)))): _*))
          .as("bucket"))
    // `ts` stays in the rows: it carries the watermark the event-time
    // timeout needs
    keyedTtlFold(banded.groupBy(col("bucket")).as[Long, BandEvent], stateTtlMs) {
      (bucket: Long, stored: Option[BucketSigs], rows: Iterator[BandEvent]) =>
        val s = stored.getOrElse(
          BucketSigs(Array.emptyLongArray, Array.emptyLongArray, 0L))
        val storedN = s.sigs.length
        // this batch's additions buffer separately and concatenate
        // into the state ONCE per batch — appending per event would
        // copy the arrays quadratically
        val newSigs = scala.collection.mutable.ArrayBuffer.empty[Long]
        val newIds = scala.collection.mutable.ArrayBuffer.empty[Long]
        var lastTs = s.lastTs
        // out is bounded by ≤1 candidate per input event (tiny rows);
        // the INPUT buffer is the bounded one: `grouped` materializes
        // at most sortChunk events at a time, sorted by (ts, id) for
        // chunk-deterministic processing order.
        val out = Seq.newBuilder[DupCandidate]
        val band = (bucket >>> 16).toInt
        rows.grouped(sortChunk).foreach { chunk =>
          chunk.sorted(BandEvent.byTime).foreach {
            case BandEvent(id, tsMs, sig) =>
              // min matching prior id across stored state + this batch
              var bestId = Long.MaxValue
              var bestSig = 0L
              var i = 0
              while (i < storedN) {
                if (s.ids(i) != id && s.ids(i) < bestId &&
                    java.lang.Long.bitCount(s.sigs(i) ^ sig) <= maxDist) {
                  bestId = s.ids(i); bestSig = s.sigs(i)
                }
                i += 1
              }
              var j = 0
              while (j < newSigs.length) {
                if (newIds(j) != id && newIds(j) < bestId &&
                    java.lang.Long.bitCount(newSigs(j) ^ sig) <= maxDist) {
                  bestId = newIds(j); bestSig = newSigs(j)
                }
                j += 1
              }
              if (bestId != Long.MaxValue)
                out += DupCandidate(id, bestId, band,
                  java.lang.Long.bitCount(bestSig ^ sig))
              if (storedN + newSigs.length < maxPerBucket) {
                newSigs += sig; newIds += id
              }
              lastTs = math.max(lastTs, tsMs)
          }
        }
        // nothing appended — the at-cap hot bucket, where every event
        // still matches but none is retained: no ~16 KiB rewrite
        val write =
          if (newSigs.isEmpty) None
          else Some(BucketSigs(s.sigs ++ newSigs, s.ids ++ newIds, lastTs))
        (write, lastTs, out.result().iterator)
    }
  }

  final case class ValueEvent(group: String, ts: java.sql.Timestamp,
                              value: Long)
  final case class PsiHistState(bins: Array[Long], counts: Array[Long],
                                lastTs: Long)
  final case class PsiUpdate(group: String, n_rows: Long, n_bins: Long,
                             psi_e8_ppm: Long)

  /** Running PSI drift monitor — the streaming form of
    * [[graft.ops.Profile.psiVsBaseline]]: per group, keyed state is
    * the observed value histogram (value-domain-bounded bin→count
    * pairs), and each batch emits the cumulative integer PSI against
    * a FIXED broadcast baseline histogram (the training snapshot) —
    * the alarm a serving pipeline watches for input drift. Identical
    * integer math to the batch form (Laplace ppm over the union bin
    * set, Mitchell eighth-bit log via
    * [[graft.ops.TextStats.mitchellLong]], |p−q|·(m8−160) terms),
    * differentially specced bit-equal to the batch operator over
    * everything delivered.
    */
  def psiRunning(ds: org.apache.spark.sql.Dataset[ValueEvent],
                 binWidth: Long, baseline: Map[Long, Long],
                 watermarkDelay: String, stateTtlMs: Long)
      : org.apache.spark.sql.Dataset[PsiUpdate] = {
    require(binWidth > 0, s"binWidth=$binWidth must be positive")
    val spark = ds.sparkSession
    import spark.implicits._
    val bt = baseline.values.sum
    keyedTtlFold(ds.withWatermark("ts", watermarkDelay).groupByKey(_.group), stateTtlMs) {
      (key: String, stored: Option[PsiHistState], rows: Iterator[ValueEvent]) =>
        val s = stored.getOrElse(PsiHistState(Array.empty, Array.empty, 0L))
        val hist = scala.collection.mutable.LinkedHashMap[Long, Long]()
        s.bins.zip(s.counts).foreach { case (b, c) => hist(b) = c }
        var last = s.lastTs
        rows.foreach { e =>
          val b = java.lang.Math.floorDiv(e.value, binWidth)
          hist(b) = hist.getOrElse(b, 0L) + 1L
          last = math.max(last, e.ts.getTime)
        }
        val union = (hist.keySet ++ baseline.keySet).toArray
        val nb = union.length.toLong
        val st = hist.values.sum
        var psi = 0L
        union.foreach { b =>
          // >= 1 ppm clamp (mirrors Profile.psiVsBaseline): once
          // st+nb or bt+nb passes ~1e6 the floored ppm hits 0 and
          // the Mitchell ratio below would divide by zero, killing
          // the query in exactly the regime a drift monitor serves
          val pPpm = math.max(1L,
            ((hist.getOrElse(b, 0L) + 1L) * 1000000L) / (st + nb))
          val qPpm = math.max(1L,
            ((baseline.getOrElse(b, 0L) + 1L) * 1000000L) / (bt + nb))
          val ratio = (math.max(pPpm, qPpm) << graft.ops.TextStats.LmShift) /
            math.min(pPpm, qPpm)
          psi += math.abs(pPpm - qPpm) *
            (graft.ops.TextStats.mitchellLong(ratio,
              graft.ops.TextStats.E8Bits) -
              8L * graft.ops.TextStats.LmShift)
        }
        (Some(PsiHistState(hist.keys.toArray, hist.values.toArray, last)), last,
          Iterator.single(PsiUpdate(key, st, nb, psi)))
    }
  }

  final case class BasketEvent(user: Long, ts: java.sql.Timestamp,
                               item: String)
  final case class BasketItems(items: Array[String], lastTs: Long)
  final case class PairInc(x: String, y: String)

  /** Streaming basket co-occurrence increments — the streaming form
    * of [[graft.ops.Funnel.assocRules]]' pair stage: baskets are
    * (user, event-date); per basket the keyed state holds the
    * DISTINCT items seen so far (bounded by the item vocabulary, not
    * the event count), and each NEW item emits one increment per
    * already-present item in BOTH orientations — so across the
    * stream every unordered basket pair is emitted exactly once per
    * direction, and a downstream count (foreachBatch accumulation,
    * the LM/NB-scoring pattern) reproduces the batch n_xy table
    * exactly. Re-delivered events are no-ops (set membership), so
    * at-least-once sources cannot inflate pair counts; state dies
    * `stateTtlMs` after the basket's last arrival.
    */
  def pairIncrements(ds: org.apache.spark.sql.Dataset[BasketEvent],
                     watermarkDelay: String, stateTtlMs: Long)
      : org.apache.spark.sql.Dataset[PairInc] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val baskets = ds.withWatermark("ts", watermarkDelay)
      // UTC day bucket, matching the batch form's to_date under the
      // session's UTC timezone (never the JVM default zone)
      .groupByKey(e => (e.user, e.ts.toInstant
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay))
    keyedTtlFold(baskets, stateTtlMs) {
      (_: (Long, Long), stored: Option[BasketItems], rows: Iterator[BasketEvent]) =>
        val s = stored.getOrElse(BasketItems(Array.empty, 0L))
        val items = scala.collection.mutable.LinkedHashSet(s.items: _*)
        var last = s.lastTs
        val out = Seq.newBuilder[PairInc]
        rows.foreach { e =>
          last = math.max(last, e.ts.getTime)
          if (!items.contains(e.item)) {
            items.foreach { prev =>
              out += PairInc(prev, e.item)
              out += PairInc(e.item, prev)
            }
            items += e.item
          }
        }
        (if (items.size > s.items.length) Some(BasketItems(items.toArray, last)) else None,
          last, out.result().iterator)
    }
  }

  final case class TypedEvent(user: Long, ts: java.sql.Timestamp,
                              id: Long, tpe: String)
  final case class LastType(tpe: String, ts: Long, id: Long)
  final case class TransInc(a: String, b: String)

  /** Streaming Markov transition increments — the streaming form of
    * [[graft.ops.Funnel.markovTransitions]]' pair stage: per user
    * the keyed state holds only the LAST event's type (plus its
    * (ts, id) order key), and each arriving event emits one (prev →
    * current) increment, so a downstream additive count fold through
    * [[graft.ops.Funnel.transitionsFromCounts]] reproduces the
    * batch transition matrix exactly. Events inside a trigger are
    * sorted by the same (ts, id) order the batch window uses;
    * cross-trigger order rides the [[funnelUpdates]] watermark
    * contract. O(1) state per user; dies `stateTtlMs` after the
    * user's last arrival.
    */
  def transitionIncrements(ds: org.apache.spark.sql.Dataset[TypedEvent],
                           watermarkDelay: String, stateTtlMs: Long)
      : org.apache.spark.sql.Dataset[TransInc] = {
    val spark = ds.sparkSession
    import spark.implicits._
    keyedTtlFold(ds.withWatermark("ts", watermarkDelay).groupByKey(_.user), stateTtlMs) {
      (_: Long, stored: Option[LastType], rows: Iterator[TypedEvent]) =>
        val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.id))
        val out = Seq.newBuilder[TransInc]
        var prev = stored.orNull
        sorted.foreach { e =>
          if (prev != null) out += TransInc(prev.tpe, e.tpe)
          prev = LastType(e.tpe, e.ts.getTime, e.id)
        }
        (Some(prev), prev.ts, out.result().iterator)
    }
  }

  final case class DayCount(et: String, day: java.sql.Timestamp, x: Long)
  final case class EwmaState(t: Long, lastDayMs: Long, m: Long, dd: Long)
  final case class EwmaUpdate(et: String, day: java.sql.Timestamp, x: Long,
                              ewma_milli: Long, ewmad_milli: Long,
                              is_anomaly: Boolean)

  /** Streaming EWMA control chart — the streaming form of
    * [[graft.ops.Funnel.ewmaBands]]: keyed by series (event type),
    * the state is FOUR longs (day index, last day, level m, band d)
    * and each arriving per-day count steps the identical integer
    * recurrence (m ← (7m + 1000x) div 8, d ← (7d + |1000x − m|) div
    * 8, flag vs the PRIOR state after `warmup` days). Days with no
    * arrivals between the last state day and an incoming day are
    * stepped as ZEROS and emitted too — a silent day droops the
    * level exactly as the batch grid's zero fill does, so a replay
    * of the same per-day counts is bit-identical to the batch chart
    * from the same `startDay` grid origin. Within a trigger, rows
    * sort by day; cross-trigger order rides the watermark contract
    * ([[funnelUpdates]]). O(1) state per series; dies `stateTtlMs`
    * after the series' last arrival.
    */
  def ewmaUpdates(ds: org.apache.spark.sql.Dataset[DayCount],
                  startDayMs: Long, watermarkDelay: String,
                  stateTtlMs: Long, warmup: Int = 7, k: Int = 3)
      : org.apache.spark.sql.Dataset[EwmaUpdate] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val DayMs = 86400000L
    keyedTtlFold(ds.withWatermark("day", watermarkDelay).groupByKey(_.et), stateTtlMs) {
      (et: String, stored: Option[EwmaState], rows: Iterator[DayCount]) =>
        val out = Seq.newBuilder[EwmaUpdate]
        var st = stored.orNull
        def step(dayMs: Long, x: Long): Unit = {
          val x1000 = 1000L * x
          if (st == null) {
            // grid origin: zero-fill from startDay up to this day
            if (dayMs > startDayMs) {
              st = EwmaState(0L, startDayMs, 0L, 0L)
              out += EwmaUpdate(et, new java.sql.Timestamp(startDayMs),
                0L, 0L, 0L, is_anomaly = false)
              step(dayMs, x)
              return
            }
            st = EwmaState(0L, dayMs, x1000, 0L)
            out += EwmaUpdate(et, new java.sql.Timestamp(dayMs), x,
              x1000, 0L, is_anomaly = false)
          } else if (dayMs > st.lastDayMs) {
            var d = st.lastDayMs + DayMs
            while (d < dayMs) { // silent days step as zeros (dev = m)
              val t = st.t + 1
              val flag = t >= warmup && st.m > k * math.max(st.dd, 1000L)
              val m2 = (7L * st.m) / 8L
              val dd2 = (7L * st.dd + st.m) / 8L
              out += EwmaUpdate(et, new java.sql.Timestamp(d), 0L, m2,
                dd2, flag)
              st = EwmaState(t, d, m2, dd2)
              d += DayMs
            }
            val t = st.t + 1
            val dev = math.abs(x1000 - st.m)
            val flag = t >= warmup && dev > k * math.max(st.dd, 1000L)
            val m2 = (7L * st.m + x1000) / 8L
            val dd2 = (7L * st.dd + dev) / 8L
            out += EwmaUpdate(et, new java.sql.Timestamp(dayMs), x,
              m2, dd2, flag)
            st = EwmaState(t, dayMs, m2, dd2)
          } // late/duplicate day: drop (watermark contract)
        }
        rows.toArray.sortBy(_.day.getTime)
          .foreach(r => step(r.day.getTime, r.x))
        (Some(st), st.lastDayMs, out.result().iterator)
    }
  }

  final case class HwState(t: Long, lastDayMs: Long, lv: Long, tr: Long,
                           se: Seq[Long])
  final case class HwUpdate(et: String, day: java.sql.Timestamp, x: Long,
                            n_days: Long, level_milli: Long,
                            trend_milli: Long, f1_milli: Long)

  /** Streaming Holt–Winters additive smoother — the streaming form of
    * [[graft.ops.Funnel.holtWinters]]: keyed by series, the state is
    * (day index, last day, level, trend, 7-slot season) and each
    * per-day count steps the IDENTICAL integer recurrence as the
    * batch fold (the [[graft.ops.Funnel.hwStepSql]] arithmetic,
    * mirrored imperatively like [[ewmaUpdates]] mirrors ewmaBands):
    * sign-symmetric ÷8 level/trend/season updates, zero-init at the
    * grid origin, silent days stepped as zeros. Emits the post-step
    * level/trend and the one-step-ahead forecast each day — the live
    * "tomorrow's expected arrivals" feed. O(1) state per series
    * (9 longs); dies `stateTtlMs` after the series' last arrival.
    */
  def hwUpdates(ds: org.apache.spark.sql.Dataset[DayCount],
                startDayMs: Long, watermarkDelay: String,
                stateTtlMs: Long)
      : org.apache.spark.sql.Dataset[HwUpdate] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val DayMs = 86400000L
    def sdiv8(e: Long) = if (e >= 0) e / 8 else -((-e) / 8)
    keyedTtlFold(ds.withWatermark("day", watermarkDelay).groupByKey(_.et), stateTtlMs) {
      (et: String, stored: Option[HwState], rows: Iterator[DayCount]) =>
        val out = Seq.newBuilder[HwUpdate]
        var st = stored.orNull
        def emit(dayMs: Long, x: Long): Unit = {
          val nxt = ((st.t + 1) % 7).toInt
          out += HwUpdate(et, new java.sql.Timestamp(dayMs), x,
            st.t + 1, st.lv, st.tr, st.lv + st.tr + st.se(nxt))
        }
        def step(dayMs: Long, x: Long): Unit = {
          val x1000 = 1000L * x
          if (st == null) {
            if (dayMs > startDayMs) {
              st = HwState(0L, startDayMs, 0L, 0L, Seq.fill(7)(0L))
              emit(startDayMs, 0L)
              step(dayMs, x)
              return
            }
            st = HwState(0L, dayMs, x1000, 0L, Seq.fill(7)(0L))
            emit(dayMs, x)
          } else if (dayMs > st.lastDayMs) {
            var d = st.lastDayMs + DayMs
            while (d <= dayMs) {
              val xd = if (d == dayMs) x else 0L
              val xm = 1000L * xd
              val t = st.t + 1
              val idx = (t % 7).toInt
              val s = st.se(idx)
              val lvN = sdiv8((xm - s) + 7L * (st.lv + st.tr))
              val trN = sdiv8((lvN - st.lv) + 7L * st.tr)
              val seN = st.se.updated(idx, sdiv8((xm - lvN) + 7L * s))
              st = HwState(t, d, lvN, trN, seN)
              emit(d, xd)
              d += DayMs
            }
          } // late/duplicate day: drop (watermark contract)
        }
        rows.toArray.sortBy(_.day.getTime)
          .foreach(r => step(r.day.getTime, r.x))
        (Some(st), st.lastDayMs, out.result().iterator)
    }
  }

  final case class CheckEvent(check: String, pass: Boolean,
                              ts: java.sql.Timestamp)
  final case class CheckCounts(n: Long, p: Long, lastTs: Long)
  final case class CheckStatus(check: String, n_rows: Long, n_pass: Long,
                               pass_x1000: Long, passed: Boolean)

  /** Running data-contract monitor — the streaming form of
    * [[graft.ops.Profile.rowChecks]]: every row is exploded into one
    * (check, pass) event per predicate in a codegen'd projection (the
    * same engine-portable predicate STRINGS the batch form takes),
    * then per-check keyed state carries exactly TWO longs (rows seen,
    * rows passed) and emits the cumulative pass rate each batch — the
    * gate a pipeline watches to pause ingestion when a contract
    * breaks mid-stream. Null predicate results count as failures,
    * matching the batch form's `when(p, 1).otherwise(0)`.
    *
    * State is O(checks) TOTAL (not per key of the data!), dies
    * `stateTtlMs` after the last arrival. At-least-once delivery
    * inflates both counters equally, so the RATE stays honest under
    * redelivery even though the counts do not.
    */
  def checksRunning(df: DataFrame, tsCol: String,
                    checks: Seq[(String, String)],
                    watermarkDelay: String, stateTtlMs: Long,
                    minPassX1000: Long = 1000L)
      : org.apache.spark.sql.Dataset[CheckStatus] = {
    require(checks.nonEmpty, "need at least one check")
    val spark = df.sparkSession
    import spark.implicits._
    val events = df.select(explode(array(checks.map { case (n, p) =>
        struct(lit(n).as("check"),
          coalesce(expr(p).cast("boolean"), lit(false)).as("pass"),
          col(tsCol).as("ts"))
      }: _*)).as("e"))
      .select(col("e.check").as("check"), col("e.pass").as("pass"),
        col("e.ts").as("ts"))
      .as[CheckEvent]
    keyedTtlFold(events.withWatermark("ts", watermarkDelay).groupByKey(_.check), stateTtlMs) {
      (key: String, stored: Option[CheckCounts], rows: Iterator[CheckEvent]) =>
        val s = stored.getOrElse(CheckCounts(0L, 0L, 0L))
        var n = s.n
        var p = s.p
        var last = s.lastTs
        rows.foreach { e =>
          n += 1
          if (e.pass) p += 1
          last = math.max(last, e.ts.getTime)
        }
        val px = if (n == 0) 0L else 1000L * p / n
        (Some(CheckCounts(n, p, last)), last,
          Iterator.single(CheckStatus(key, n, p, px, px >= minPassX1000)))
    }
  }
}

/** Mutable Space-Saving summary (Metwally et al. 2005): at most `cap`
  * (item → est, err) counters. Eviction picks the exact minimum by
  * (count, item) — a full O(cap) scan, so the fold is deterministic
  * regardless of hash-map iteration order. cap is small (≤ a few
  * hundred) by design; the scan is not the hot path.
  */
private[streaming] final class SpaceSaving(cap: Int) {
  private val cnt = scala.collection.mutable.HashMap.empty[String, Long]
  private val err = scala.collection.mutable.HashMap.empty[String, Long]

  def add(v: String): Unit =
    cnt.get(v) match {
      case Some(c) => cnt.update(v, c + 1)
      case None if cnt.size < cap =>
        cnt.update(v, 1L); err.update(v, 0L)
      case None =>
        var vi: String = null
        var vc = Long.MaxValue
        cnt.foreach { case (it, c) =>
          if (c < vc || (c == vc && (vi == null || it < vi))) { vi = it; vc = c }
        }
        cnt.remove(vi); err.remove(vi)
        cnt.update(v, vc + 1); err.update(v, vc)
    }

  /** Counters in item order — the canonical state encoding. */
  def snapshot(): (Array[String], Array[Long], Array[Long]) = {
    val items = cnt.keys.toArray.sorted
    (items, items.map(cnt), items.map(err))
  }

  /** Top k by (est DESC, item ASC). */
  def top(k: Int): Seq[(String, Long, Long)] =
    cnt.toSeq.sortBy { case (it, c) => (-c, it) }.take(k)
      .map { case (it, c) => (it, c, err(it)) }
}

private[streaming] object SpaceSaving {
  def restore(cap: Int, items: Array[String], cnts: Array[Long],
              errs: Array[Long]): SpaceSaving = {
    val ss = new SpaceSaving(cap)
    var i = 0
    while (i < items.length) {
      ss.cnt.update(items(i), cnts(i))
      ss.err.update(items(i), errs(i))
      i += 1
    }
    ss
  }
}
