package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession contract every entry point runs on —
  * Bench and its forked children, Verify, the dev tools, the demos and
  * the test suites — so a plan dumped, timed or verified by a tool is
  * the plan the bench runs. `SessionSpec` rejects any other
  * `SparkSession.builder` under `src/main/scala`.
  *
  * A caller that needs more sets runtime SQL confs on the returned
  * session (`spark.conf.set`), e.g. PlanAudit's AQE-off or the RocksDB
  * state-store provider.
  */
object Session {
  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with shuffle partitions = cpus, AQE on, UTC and
    * `nanosAsLong` (the events parquet is TIMESTAMP(NANOS)).
    * `getOrCreate`: a JVM that already holds a session gets it back.
    */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // stop() joins the stream thread FOREVER by default — a wedged
    // micro-batch would hang a bench past its deadline
    .config("spark.sql.streaming.stopTimeout", "15s")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
