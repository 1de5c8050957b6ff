package graft

/** Driver-contract guards: entry() returns rows, every oracle key has
  * a query, every query runs at the smoke scale factor and, inside
  * [[graft.ops.Lineage.scoped]], leaves no persisted RDD behind.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry() flagship query returns top-5 revenue customers") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length === 5)
    assert(rows.head.schema.fieldNames.contains("revenue"))
    // descending revenue
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.toSeq === revs.sorted.reverse.toSeq)
  }

  test("every oracleSql key is a registered query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("all queries execute at sf0.001 and return rows") {
    val sc = spark.sparkContext
    SparkEntry.queries.foreach { case (name, q) =>
      val before = sc.getPersistentRDDs.keySet
      val n = graft.ops.Lineage.scoped(q(spark, sf).count())
      assert(n > 0, s"$name returned no rows at $sf")
      assert(sc.getPersistentRDDs.keySet === before, s"$name leaked RDDs")
    }
  }
}
