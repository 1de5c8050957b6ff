package graft.dedup

import graft.SparkSpec
import graft.ops.Lineage
import org.apache.spark.sql.functions._

/** The staged-curation contract: the cluster-label stage (the most
  * expensive part of the pipeline) runs once per corpus and every
  * consumer — canonical dedup, leakage-safe split — reads the same
  * staged table.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // near-dup of 1
    (3L, "completely different text about spark engines here"),
    (4L, "unrelated corpus row with its own unique words entirely"))
    .toDF("doc_id", "text")

  test("cluster labels are built once and shared across consumers") {
    val before = Curation.buildCount
    val c1 = Curation.clusterLabels(docs, "doc_id", "text", corpusKey = "spec-corpus")
    val c2 = Curation.clusterLabels(docs, "doc_id", "text", corpusKey = "spec-corpus")
    assert(c1 eq c2, "second request must return the staged table, not a new plan")
    assert(Curation.buildCount === before + 1)

    // both consumers read the same staged labels and agree on semantics
    val labels = c1.as[(Long, Long)].collect().toMap
    assert(labels(2L) === 1L, s"docs 1/2 are near-dups, got $labels")

    val kept = Curation.dedupCanonical(docs, "doc_id", c1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L), "canonical member kept, near-dup dropped, singletons pass")

    val split = Dedup.leakageSafeSplit(docs, "doc_id", c1)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(split(1L) === split(2L), "cluster members share a split")
    assert(split.keySet === Set(1L, 2L, 3L, 4L))
  }

  test("a different corpus key stages its own table") {
    val before = Curation.buildCount
    Curation.clusterLabels(docs, "doc_id", "text", corpusKey = "spec-corpus-b")
    assert(Curation.buildCount === before + 1)
  }

  test("a table staged inside a scope is shared there and rebuilt after it") {
    def labels = Curation.clusterLabels(docs, "doc_id", "text",
      corpusKey = "spec-corpus-scoped")
    val before = Curation.buildCount
    Lineage.scoped(assert(labels eq labels))
    assert(Curation.buildCount === before + 1)
    // the first scope freed its cuts, so the next one must not reuse them
    val rows = Lineage.scoped(labels.as[(Long, Long)].collect().toMap)
    assert(Curation.buildCount === before + 2)
    assert(rows(2L) === 1L)
  }

  test("clusterRepresentatives: quality argmax with smallest-id tiebreak, partition-invariant") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val scored = Seq((1L, 500L), (2L, 700L), (3L, 700L), (10L, 100L),
      (11L, 100L), (99L, 999L))   // 99 is unclustered — must not appear
      .toDF("doc_id", "score")
    def run(l: org.apache.spark.sql.DataFrame) =
      Curation.clusterRepresentatives(l, scored, "doc_id", "score")
        .orderBy("cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = run(labels)
    // cluster 1: 2 and 3 tie at 700 → smallest id 2 wins over 3,
    // and over 1's lower 500; cluster 10: tie at 100 → 10
    assert(out.toSeq === Seq((1L, 2L, 700L, 3L), (10L, 10L, 100L, 2L)))
    assert(out.toSeq === run(labels.repartition(5)).toSeq)
  }
}
