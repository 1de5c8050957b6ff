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

  /** The fixed-point ratio sweep at one resolution: the helper ≡ the
    * ladder of q = (num·2^20) div den, less the 2^20 bias, wherever
    * q lies in [2^20, 2^62]; 0 when num < den (q under the floor, where
    * the ladder extrapolates); the ladder's value at 2^62 for every q in
    * (2^62, 2^63), the ceiling.
    */
  private def ratioSweep(bits: Int, native: (Column, Column) => Column,
                         ladder: String => String): Unit = {
    val shift = TextStats.LmShift
    val bias = shift.toLong << bits
    val dens = Seq(1L, 3L, 1000L, 1L << 20, (1L << 31) - 1, 1L << 40)
    // num around den (< 1, = 1, just past 1, 2), num = den·2^k ± 1 for
    // the power-of-two edges, and ratios at and past the 2^42 ceiling;
    // every (num·2^20) div den stays below 2^63, the BIGINT range of div
    val pairs = (dens.flatMap { d =>
      (Seq(d - 1, d, d + 1, 2 * d - 1, 2 * d, 2 * d + 1).map(BigInt(_)) ++
        (1 to 42).map(k => BigInt(d) << k).flatMap(n => Seq(n - 1, n, n + 1)))
        .filter(n => n >= 0 && (n << shift) / d < (BigInt(1) << 63))
        .map(n => (n.toLong, d))
    } ++ Seq(((1L << 43) - 1, 1L), (3L << 41, 1L))).distinct
    val rows = pairs.toDF("num", "den").repartition(1)
      .select(col("num"), col("den"), native(col("num"), col("den")).as("native"),
        expr(s"(CAST(num AS DECIMAL(38,0)) * ${1L << shift}) div den").as("q"))
      .withColumn("sql", expr(ladder("q")))
      .withColumn("sql_cap", expr(ladder(s"CAST(${1L << 62} AS BIGINT)")))
      .collect()
    assert(rows.length === pairs.length)
    assert(rows.exists(_.getAs[Long]("q") > (1L << 62)), "no pair past the ceiling")
    rows.foreach { r =>
      val (num, den, q) = (r.getAs[Long]("num"), r.getAs[Long]("den"), r.getAs[Long]("q"))
      val n = r.getAs[Long]("native")
      val at = s"num=$num den=$den"
      if (num <= den) assert(n === 0L, s"num <= den must log to 0 at $at")
      if (q < (1L << shift)) assert(n === 0L, s"under the floor at $at")
      else if (q <= (1L << 62)) assert(n === r.getAs[Long]("sql") - bias, s"native != sql at $at")
      else assert(n === r.getAs[Long]("sql_cap") - bias, s"no ceiling at $at")
    }
  }

  test("log2Ratio ≡ mitchellE8Sql of (num·2^20) div den, floored and capped") {
    ratioSweep(TextStats.E8Bits, MitchellE8.log2Ratio, TextStats.mitchellE8Sql(_))
  }

  test("log2RatioE256 ≡ mitchellE256Sql of (num·2^20) div den, floored and capped") {
    ratioSweep(TextStats.E256Bits, MitchellE8.log2RatioE256, TextStats.mitchellE256Sql(_))
  }

  /** (file, member name, code lines) of every top-level member under
    * src/main/scala outside OracleSql.scala, comment lines dropped.
    */
  private lazy val mainMembers: List[(String, String, List[String])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    val files: List[Path] = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "OracleSql.scala").toList
    finally walk.close()
    val member = """^\s{2}(?:(?:private|final|override|lazy)\s+)*(?:def|val)\s+(\w+)""".r
    files.flatMap { p =>
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
  }

  test("Spark-side sources reach a Mitchell SQL ladder only from OracleSql") {
    // Mitchell ladders may be called only from OracleSql.scala or from
    // inside an SQL emitter (a member def named `...Sql`); an emitter that
    // calls one is itself a ladder for this rule. Any other member that
    // calls one puts the ladder into a Spark plan.
    val members = mainMembers
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

  test("Spark-side fixed-point ratio logs go through MitchellE8.log2Ratio") {
    // a member that scales an integer division by the 2^20 shift is
    // writing the Mitchell log's fixed-point ratio by hand (in the same
    // member as the log or in a helper feeding it); log2Ratio and
    // log2RatioE256 own that form. MitchellE8.scala defines it, and
    // OracleSql.scala and the `...Sql` emitters are the twin's
    // spelling. Executor-side Scala (`mitchellLong` over `/`) and logs
    // of plain counts (no division) are outside the rule.
    // `<< LmShift` (or a local `Shift`/`shift` alias) and the literal
    // `${1L << 20}` spelled into an SQL string
    val scale = """<<\s*(?:[\w.]*LmShift|Shift|shift)\b|\$\{1L\s*<<\s*20\}""".r
    val division = """\bdiv\b""".r
    val offenders = mainMembers.collect {
      case (f, n, ls) if !f.endsWith("MitchellE8.scala") && !n.endsWith("Sql") &&
          ls.exists(l => scale.findFirstIn(l).isDefined) &&
          ls.exists(l => division.findFirstIn(l).isDefined) => s"$f: $n"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
