package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.CompletableFuture

import scala.collection.mutable

/** Sequential reference for `Stateful.nearDupCandidates`, written
  * from its contract rather than its code: 64-bit SimHash over
  * whitespace tokens (token hash = first 8 bytes of MD5, big-endian),
  * four 16-bit bands, and per band bucket a list of retained
  * (signature, id) pairs. Each event, in batch order and within a batch
  * in (event time, id) order, emits one candidate per band bucket where
  * some other retained id lies within `maxDist` bits, naming the
  * smallest such id; it is then retained while the bucket holds fewer
  * than `maxPerBucket` entries. Event-time expiry is not modelled: the
  * workload's event times span less than the state TTL. The four bands
  * share nothing, so each walks the events in order on its own thread.
  */
final class NearDupModel(maxDist: Int, maxPerBucket: Int) {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private final class Bucket {
    var sigs = new Array[Long](4)
    var ids = new Array[Long](4)
    var size = 0
    def add(sig: Long, id: Long): Unit = {
      if (size == ids.length) {
        sigs = java.util.Arrays.copyOf(sigs, 2 * size)
        ids = java.util.Arrays.copyOf(ids, 2 * size)
      }
      sigs(size) = sig; ids(size) = id; size += 1
    }
  }
  /** Per band, keyed by the band's 16-bit value. */
  private val buckets = Array.fill(4)(mutable.LongMap.empty[Bucket])
  var candidates = 0L
  /** Order-independent checksum: sum of a 64-bit mix of each candidate. */
  var checksum = BigInt(0)

  def simhash(text: String): Long = {
    val toks = NearDupModel.Whitespace.split(text).filter(_.nonEmpty)
    val counts = new Array[Int](64)
    toks.foreach { t =>
      val d = md5.get.digest(t.getBytes(StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
      var b = 0
      while (b < 64) { counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** Feeds one micro-batch of (id, event time ms, text). The signatures
    * and the four bands are computed on all cores.
    */
  def batch(docs: IndexedSeq[(Long, Long, String)]): Unit = {
    val sigs = new Array[Long](docs.length)
    java.util.stream.IntStream.range(0, docs.length).parallel().forEach(i => sigs(i) = simhash(docs(i)._3))
    val order = docs.indices.sortBy(i => (docs(i)._2, docs(i)._1)).toArray
    val ids = order.map(docs(_)._1)
    val sorted = order.map(sigs(_))
    (0 until 4).map(band => CompletableFuture.supplyAsync(() => scanBand(band, ids, sorted)))
      .map(_.join()).foreach { case (n, sum) => candidates += n; checksum += sum }
  }

  /** One band over one batch in event order: state is read as of the
    * previous batch, and this batch's additions are visible to later
    * events of the same batch, as in the operator.
    */
  private def scanBand(band: Int, ids: Array[Long], sigs: Array[Long]): (Long, BigInt) = {
    var n = 0L
    var sum = BigInt(0)
    var k = 0
    while (k < ids.length) {
      val (id, sig) = (ids(k), sigs(k))
      val b = buckets(band).getOrElseUpdate((sig >>> (16 * band)) & 0xFFFFL, new Bucket)
      var best = Long.MaxValue
      var bestSig = 0L
      var i = 0
      while (i < b.size) {
        if (b.ids(i) != id && b.ids(i) < best &&
            java.lang.Long.bitCount(b.sigs(i) ^ sig) <= maxDist) {
          best = b.ids(i); bestSig = b.sigs(i)
        }
        i += 1
      }
      if (best != Long.MaxValue) {
        n += 1
        sum += NearDupModel.mix(id, best, band, java.lang.Long.bitCount(bestSig ^ sig))
      }
      if (b.size < maxPerBucket) b.add(sig, id)
      k += 1
    }
    (n, sum)
  }
}

object NearDupModel {
  private val Whitespace = java.util.regex.Pattern.compile("[ \\t\\n\\x0B\\f\\r]+")

  /** The checksum term of one candidate; the streaming side computes the
    * same value per output row.
    */
  def mix(id: Long, dupOf: Long, band: Int, hamming: Int): Long = {
    var h = id * 0x9E3779B97F4A7C15L
    h ^= dupOf + 0x632BE59BD9B4E019L + (h << 6) + (h >>> 2)
    h ^= band.toLong * 0x85EBCA77C2B2AE63L + (hamming.toLong << 32)
    h ^ (h >>> 29)
  }
}
