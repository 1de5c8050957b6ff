package graft
import java.nio.file.{Files, Paths}
import graft.ops.Lineage
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration aid — the driver always calls with exactly 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try Lineage.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Pinned-hash drift guard for the rows-only entries (no DuckDB
    // twin): recompute the canonical hash and compare to the value
    // committed in [[PinnedHashes]] — the result lands beside the
    // parquet dumps as pinned_checks.json, and a mismatch is LOUD on
    // stderr. Never throws: a pin failure must not take the oracle
    // dump for the other 350+ queries with it.
    val pins = PinnedHashes.forDir(sfDir).filter(kv => keep(kv._1))
    if (pins.nonEmpty) {
      val checks = pins.toSeq.sortBy(_._1).map { case (name, (eRows, eHash)) =>
        val (rows, hash, err) =
          try { val (r, h) = Lineage.scoped(PinnedHashes.canonicalHash(
              SparkEntry.queries(name)(spark, sfDir))); (r, h, null: String) }
          catch { case e: Throwable => (-1L, "", e.getMessage) }
        val ok = err == null && rows == eRows && hash == eHash
        System.err.println(s"[verify] pinned $name: " +
          (if (ok) "MATCH" else s"MISMATCH rows=$rows/$eRows " +
            s"hash=$hash/$eHash err=$err"))
        s"${q(name)}: {\"rows\": $rows, \"hash\": ${q(hash)}, " +
          s"\"expected_rows\": $eRows, \"expected_hash\": ${q(eHash)}, " +
          s"\"hash_match\": $ok}"
      }
      Files.writeString(Paths.get(s"$outDir/pinned_checks.json"),
        checks.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
