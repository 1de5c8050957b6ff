package graft.ops

import graft.SparkSpec

class LineageSpec extends SparkSpec {
  test("release drops the blocks a local cut holds") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cut = Lineage.cut(spark.range(1000).toDF("id"))
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
    Lineage.release(cut)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
