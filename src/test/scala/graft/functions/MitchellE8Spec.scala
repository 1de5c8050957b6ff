package graft.functions

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ops.TextStats
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

/** Pins the native [[MitchellE8]] expression bit-for-bit to BOTH the
  * SQL CASE-ladder emitters ([[TextStats.mitchellE8Sql]],
  * [[TextStats.mitchellE256Sql]]) and the Scala mirror
  * ([[TextStats.mitchellLong]]) across the domain at both resolutions,
  * and guards that Spark plans reach a Mitchell log only through it.
  */
class MitchellE8Spec extends SparkSpec {
  import spark.implicits._

  /** The domain sweep at one resolution: native (generated code and
    * interpreted) ≡ mirror everywhere, ≡ ladder on [2^20, 2^63). Below
    * the domain floor the native form returns the mirror's clamped
    * value, while the ladder extrapolates (q = 0 lands one unit of
    * 2^bits below the floor value).
    */
  private def sweep(bits: Int, native: Column => Column,
                    ladder: String => String): Unit = {
    val floor = 20L << bits
    // domain edges, power-of-two boundaries, and a spread of odd values
    val inDomain = (20 to 62).flatMap { e =>
      val p = 1L << e
      Seq(p, p + 1, p + (p >> 3), p + (p >> 1), (p << 1) - 1)
        .filter(q => q >= (1L << 20) && q > 0)
    }
    val belowFloor = Seq(0L, 1L, 1L << 19, (1L << 20) - 1)
    val qs = (inDomain ++ belowFloor).distinct
    // the repartition keeps the projection out of the local relation,
    // so the native form runs in generated code
    val rows = qs.toDF("q").repartition(1)
      .select(col("q"), native(col("q")).as("native"),
        expr(ladder("q")).as("sql"))
      .collect()
    assert(rows.length === qs.length)
    rows.foreach { r =>
      val q = r.getAs[Long]("q")
      val n = r.getAs[Long]("native")
      assert(n === TextStats.mitchellLong(q, bits), s"native != long mirror at q=$q")
      assert(n === MitchellE8(Literal(q), bits).eval(),
        s"generated != interpreted at q=$q")
      if (q >= (1L << 20)) assert(n === r.getAs[Long]("sql"), s"native != sql at q=$q")
      else assert(n === floor, s"native does not clamp at q=$q")
      if (q == 0L) assert(r.getAs[Long]("sql") === floor - (1L << bits))
    }
  }

  test("MitchellE8 ≡ mitchellE8Sql ≡ mitchellE8Long across the domain") {
    sweep(TextStats.E8Bits, MitchellE8(_), TextStats.mitchellE8Sql(_))
  }

  test("MitchellE8.e256 ≡ mitchellE256Sql ≡ mitchellLong across the domain") {
    sweep(TextStats.E256Bits, MitchellE8.e256, TextStats.mitchellE256Sql(_))
  }

  test("log2E8 column form ≡ log2E8Sql for counts") {
    val ns = Seq(1L, 2L, 3L, 7L, 100L, 12345L, 1L << 20, (1L << 42) - 1)
    val df = ns.toDF("n")
      .withColumn("native", MitchellE8.log2E8(col("n")))
      .withColumn("sql", expr(TextStats.log2E8Sql("n")))
      .collect()
    df.foreach { r =>
      assert(r.getAs[Long]("native") === r.getAs[Long]("sql"),
        s"log2E8 mismatch at n=${r.getAs[Long]("n")}")
    }
  }

  test("Spark-side sources reach a Mitchell SQL ladder only from OracleSql") {
    // Mitchell ladders may be called only from OracleSql.scala or from
    // inside an SQL emitter (a member def named `...Sql`); an emitter that
    // calls one is itself a ladder for this rule. Any other member that
    // calls one puts the ladder into a Spark plan.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    val files: List[Path] = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "OracleSql.scala").toList
    finally walk.close()
    val member = """^\s{2}(?:(?:private|final|override|lazy)\s+)*(?:def|val)\s+(\w+)""".r
    // (file, member name, code lines) with comment lines dropped
    val members = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toList
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*") ||
          l.trim.startsWith("//"))
      lines.foldLeft(List.empty[(String, List[String])]) { (acc, l) =>
        member.findFirstMatchIn(l) match {
          case Some(m) => (m.group(1), List(l)) :: acc
          case None => acc match {
            case (n, ls) :: rest => (n, l :: ls) :: rest
            case Nil => Nil
          }
        }
      }.map { case (n, ls) => (root.relativize(p).toString, n, ls.reverse) }
    }
    def calls(ls: List[String], names: Set[String]): Set[String] =
      names.filter(n => ls.exists(l => s"""\\b$n\\s*\\(""".r.findFirstIn(l).isDefined))
    var ladders = Set("mitchellE8Sql", "mitchellE256Sql", "log2E8Sql")
    var grown = true
    while (grown) {
      val more = members.collect {
        case (_, n, ls) if n.endsWith("Sql") && calls(ls, ladders).nonEmpty => n
      }.toSet -- ladders
      grown = more.nonEmpty
      ladders ++= more
    }
    val offenders = members.collect {
      case (f, n, ls) if !n.endsWith("Sql") && calls(ls, ladders).nonEmpty =>
        s"$f: $n calls ${calls(ls, ladders).mkString(", ")}"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the twin-only emitters this rule admits today
    assert(ladders === Set("mitchellE8Sql", "mitchellE256Sql", "log2E8Sql",
      "dunningG2Sql", "kmTermSql", "jsdTermSql"))
  }
}
