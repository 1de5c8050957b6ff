package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.Phase

/** Pure-helper specs for the bench artifact: a contended or stalled
  * run must be self-diagnosing from the JSON alone (loadavg stamps)
  * and a partial streaming sweep must read as "failed to measure"
  * (-1), never as a measured zero. The scheduler specs drive
  * [[Bench.schedule]] with fake phases on a fake clock — no Spark.
  */
class BenchSpec extends AnyFunSuite {

  /** A fake bench: every phase advances the clock by its cost and
    * overwrites its artifact sentinel. */
  private class FakeBench(budgetSec: Long) {
    var now = 0L
    val artifact = scala.collection.mutable.Map[String, String]()
    val bracket = Seq.newBuilder[String]
    def phase(name: String, contract: Boolean, floorSec: Long, costSec: Long,
              followUps: Seq[Phase] = Nil): Phase = {
      artifact(name) = "-1"
      Phase(name, contract, floorSec, () => {
        now += costSec
        artifact(name) = costSec.toString
        followUps
      })
    }
    def schedule(table: Seq[Phase]): Seq[String] =
      Bench.schedule(table, () => budgetSec - now,
        start = n => bracket += s"start:$n", finish = n => bracket += s"finish:$n")
  }

  private def capturingErr[A](body: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try (body, buf.toString) finally System.setErr(saved)
  }

  // the 780 s driver budget with a stateful first pass that requests a
  // 165 s retry; `rocksdbSec` decides whether the retry still fits
  private def driverTable(b: FakeBench, rocksdbSec: Long): Seq[Phase] = Seq(
    b.phase("stateful", contract = true, floorSec = 400, costSec = 300,
      followUps = Seq(b.phase("stateful_retry", contract = false,
        floorSec = 165, costSec = 165))),
    b.phase("rocksdb", contract = true, floorSec = 300, costSec = rocksdbSec),
    b.phase("headline", contract = true, floorSec = 0, costSec = 60),
    b.phase("pipeline", contract = true, floorSec = 100, costSec = 40),
    b.phase("streaming", contract = true, floorSec = 120, costSec = 60),
    b.phase("scaling", contract = false, floorSec = 420, costSec = 300),
    b.phase("shuffle_ledger", contract = false, floorSec = 110, costSec = 100),
    b.phase("extended", contract = false, floorSec = 0, costSec = 30))

  private val contract = Seq("stateful", "rocksdb", "headline", "pipeline", "streaming")

  test("schedule: every contract first pass runs, in table order, before the retry") {
    // 780 - (300 + 250 + 60 + 40 + 60) = 70 s left: pipeline and
    // streaming already ran, and the retry's 165 s floor no longer fits
    val b = new FakeBench(780)
    val (ran, err) = capturingErr(b.schedule(driverTable(b, rocksdbSec = 250)))
    assert(ran === contract :+ "extended")
    assert(b.artifact("stateful_retry") === "-1")
    assert(err.contains("skipped stateful_retry phase (remaining=70s"))
  }

  test("schedule: a retry whose floor still fits runs after the contract phases") {
    // 780 - 560 = 220 s left: the 165 s retry fits, then only the
    // floor-0 extended sweep does
    val b = new FakeBench(780)
    val (ran, _) = capturingErr(b.schedule(driverTable(b, rocksdbSec = 100)))
    assert(ran === contract ++ Seq("stateful_retry", "extended"))
    assert(b.now === 755)
  }

  test("schedule: under a scarce budget optional phases are skipped, logged, left at sentinels") {
    val b = new FakeBench(400)
    val table = driverTable(b, rocksdbSec = 250)
    val (ran, err) = capturingErr(b.schedule(table))
    // stateful (300 s) leaves 100: rocksdb and streaming miss their
    // floors, headline (floor 0) runs, pipeline's 100 s floor no longer
    // fits after it
    assert(ran === Seq("stateful", "headline", "extended"))
    for (n <- Seq("rocksdb", "pipeline", "streaming", "stateful_retry",
                  "scaling", "shuffle_ledger")) {
      assert(b.artifact(n) === "-1", n)
      assert(err.contains(s"skipped $n phase"), n)
    }
    // start/finish bracket every phase, run or skipped, in run order
    val order = Seq("stateful", "rocksdb", "headline", "pipeline", "streaming",
      "stateful_retry", "scaling", "shuffle_ledger", "extended")
    assert(b.bracket.result() === order.flatMap(n => Seq(s"start:$n", s"finish:$n")))
  }

  test("schedule: a failing phase is logged and the table runs on") {
    val b = new FakeBench(780)
    val table = Seq(
      b.phase("headline", contract = true, floorSec = 0, costSec = 60),
      Phase("pipeline", contract = true, floorSec = 0,
        () => throw new IllegalStateException("cancelled")),
      b.phase("streaming", contract = true, floorSec = 0, costSec = 60))
    val (ran, err) = capturingErr(b.schedule(table))
    assert(ran === Seq("headline", "pipeline", "streaming"))
    assert(err.contains("pipeline phase failed: cancelled"))
    assert(b.bracket.result().count(_.startsWith("finish:")) === 3)
  }

  test("extendedNames: catalog queries numbered 76 and up, minus the headline, in number order") {
    def num(n: String) = n.drop(1).takeWhile(_.isDigit).toInt
    val ext = Bench.extendedNames
    assert(ext.take(3) === Seq("q76_knn_self", "q77_eval_sample", "q78_adaptive_quality"))
    assert(ext.map(num) === ext.map(num).sorted.distinct)
    assert(ext.toSet === Queries.all.keySet.filter(num(_) >= 76) -- Bench.headline)
  }

  test("sweepValue: complete run reports rec/s") {
    assert(Bench.sweepValue(rows = 1000000L, sec = 2.0, nBatches = 4, required = 4)
      === 500000.0)
  }

  test("sweepValue: partial run (timeout mid-sweep) is the -1 sentinel, not 0") {
    assert(Bench.sweepValue(rows = 250000L, sec = 30.0, nBatches = 2, required = 4)
      === -1.0)
    // the BENCH_r07 failure shape: nothing finished before the deadline
    assert(Bench.sweepValue(rows = 0L, sec = 0.0, nBatches = 0, required = 4)
      === -1.0)
  }

  test("sweepValue: genuine zero (batches completed, zero duration) stays 0") {
    assert(Bench.sweepValue(rows = 0L, sec = 0.0, nBatches = 4, required = 4)
      === 0.0)
  }

  test("loadavg reads three non-negative figures from /proc") {
    val l = Bench.loadavg()
    assert(l.length === 3)
    assert(l.forall(_ >= 0.0), s"loadavg $l")
  }
}
