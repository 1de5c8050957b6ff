package graft

import graft.ops.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Drift guard for the catalog's rows-only entries (r14 verdict ask
  * #7): q231 (deflate ratio — DuckDB has no zlib) and q303
  * (Jaro–Winkler — per-pair algorithm with no set-based SQL form)
  * have no DuckDB twin, so a silent behavior change would pass the
  * driver's weaker rows-only check. Their outputs are DETERMINISTIC
  * (integer-exact kernels over fixed parquet), so this object commits
  * the expected (row count, canonical md5) at the driver's verify
  * scale factor, computed ONCE from the r14-green state; [[Verify]]
  * recomputes and compares on every run (→ `pinned_checks.json`
  * beside the parquet dumps) and `PinnedHashSpec` enforces the same
  * values under `sbt test` — a behavior change is a hard failure on
  * both gates even without an oracle.
  *
  * Canonical form (independent of the driver's internal convention):
  * columns sorted by NAME, every value cast to string (`null` →
  * `\N`), fields joined by , rows sorted lexicographically,
  * md5 over the newline-joined row block — insensitive to row and
  * column order, sensitive to any value or schema change.
  *
  * Regenerate after an INTENDED behavior change:
  * `sbt "runMain graft.PinnedHashes /root/testdata/sf0.01"` prints
  * the map literal to paste here (the diff then documents the change
  * for review — that is the point: drift must be loud).
  */
object PinnedHashes {

  /** Expected (rows, canonical md5) per pinned query, keyed by the
    * sfDir suffix the check applies at. sf0.01 is the driver's
    * verify scale; sf0.001 is the spec smoke scale.
    */
  val pinned: Map[String, Map[String, (Long, String)]] = Map(
    "sf0.01" -> Map(
      "q231_compression_ratio" ->
        (500L, "d4a1b3cf6b14990029a637f302cea460"),
      "q303_jw_verify" ->
        (1L, "45c8e518f39bee430b2184c72317cca5")),
    "sf0.001" -> Map(
      "q231_compression_ratio" ->
        (500L, "7303e330dc88ee513faf37892fd8c6fc"),
      "q303_jw_verify" ->
        (1L, "45c8e518f39bee430b2184c72317cca5")))

  /** Pins applying to `sfDir` (matched on its trailing path segment);
    * empty at any other scale.
    */
  def forDir(sfDir: String): Map[String, (Long, String)] = {
    val seg = sfDir.replaceAll("/+$", "")
      .substring(sfDir.replaceAll("/+$", "").lastIndexOf('/') + 1)
    pinned.getOrElse(seg, Map.empty)
  }

  /** Canonical (rows, md5) of a result — bounded driver pull: only
    * ever called on the two pinned queries (≤ corpus-doc rows at the
    * small verify scales; never on the 100 TB path).
    */
  def canonicalHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq
    val rows = df
      .select(cols.map(c => col(c).cast("string")): _*)
      .collect()
      .map(r => (0 until r.length)
        .map(i => if (r.isNullAt(i)) "\\N" else r.getString(i))
        .mkString(""))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** Regeneration tool: prints the current (rows, hash) of every
    * pinned query at the given sfDir as paste-ready map entries.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.local(Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pinned.values.flatMap(_.keys).toSeq.distinct.sorted.foreach { name =>
      val (n, h) = Lineage.scoped(canonicalHash(Queries.all(name)(spark, sfDir)))
      println(s"""      "$name" ->\n        (${n}L, "$h"),""")
    }
    spark.stop()
  }
}
