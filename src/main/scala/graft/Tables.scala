package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At
  * cluster scale these would be partitioned directories; the API is the
  * same (`spark.read.parquet` prunes partitions + pushes filters either
  * way).
  *
  * Schema memo: a `spark.read.parquet` without a schema runs one Spark
  * job to read the footers and infer it (q24 reads one table: its build
  * took 84–138 ms with that job, 22–36 ms without, 4-core VM, sf0.01).
  * So each read infers at most once per file version and otherwise
  * reads with `spark.read.schema`. The memo is keyed by the qualified
  * path plus the reading session's `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` settings (`nanosAsLong`,
  * `binaryAsString`, … change the inferred types); the entry holds the
  * (path, length, modification time) of every data file it was
  * inferred from and is re-inferred when any of them differs, so a
  * table rewritten in place (Bench's sf1 synthesis) is never read
  * under a stale schema. Every call still returns a new DataFrame.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private final case class Key(path: String, conf: Seq[(String, String)])
  private final case class Entry(files: Seq[(String, Long, Long)], schema: StructType)
  private val schemas = new ConcurrentHashMap[Key, Entry]()

  private def schemaConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toSeq.sorted

  /** (path, length, modification time) of each data file under `path`
    * — the file itself, or the non-hidden leaves of a directory.
    */
  private def dataFiles(spark: SparkSession, path: Path): (String, Seq[(String, Long, Long)]) = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(path)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(leaves)
    val files = leaves(fs.getFileStatus(root))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    (root.toString, files)
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val file = s"$sfDir/$name.parquet"
    val (root, files) = dataFiles(spark, new Path(file))
    val key = Key(root, schemaConf(spark))
    val schema = Option(schemas.get(key)).filter(_.files == files) match {
      case Some(e) => e.schema
      case None =>
        val inferred = spark.read.parquet(file).schema
        schemas.put(key, Entry(files, inferred))
        inferred
    }
    spark.read.schema(schema).parquet(file)
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  /** The events parquet stores TIMESTAMP(NANOS), which Spark reads as
    * a long (ns since epoch) under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — normalize to Spark's
    * native microsecond TimestampType here so every downstream operator
    * sees a real timestamp.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
