package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Dedup.jaccardComponentEdges` must be CLUSTER-invariant: connected
  * components (ids, min-id reps, sizes) over its sparse {rep—rep pairs ∪
  * rep—member stars} edge set equal those over the full member-level pair
  * fan-out of `jaccardPairs` — the q54/q65/q73 consumers only ever read
  * the component structure, never the pairs. Checked on a template-heavy
  * corpus (clone cliques, near-dup chains for transitivity, singletons,
  * empty docs) and on the sf0.001 documents table; the keep-set
  * differential covers `keepRepresentatives` end to end.
  */
class StarEdgesSpec extends SparkSpec {

  private def corpus(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def clustersOf(edges: DataFrame): Set[(Long, Long, Long)] =
    Components.dupClusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  // forces the distributed star fixpoint too, so the differential covers
  // both CC regimes, not just the driver union-find
  private def clustersDistributed(edges: DataFrame): Set[(Long, Long)] =
    graft.core.Gates.scoped(driverEdgeRows = 0L) {
      Components.connectedComponents(edges, "id_a", "id_b")
    }.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private val template =
    "the quick brown fox jumps over the lazy dog again and again"
  private val near =
    "the quick brown fox jumps over the lazy dog again and once"
  // chains to the near-dup but NOT directly to the template — transitivity
  private val near2 =
    "a quick brown fox jumps over the lazy dog again and once"

  private def rows: Seq[(Long, String)] =
    (1L to 5L).map(i => (i, template)) ++          // 5-clique of clones
    (7L to 9L).map(i => (i, near)) ++              // 3-clique of near-dups
    Seq((10L, near2),                              // chain link
        (11L, "completely unrelated text about spark catalyst expressions"),
        (12L, "short doc"), (13L, "short doc"),    // 2-clique, no rep pair
        (14L, "")) :+                              // empty shingle set
    ((15L, template))                              // clone with a LARGER id

  test("star edges give the same clusters as the full pair fan-out") {
    val c = corpus(rows)
    val full = Dedup.jaccardPairs(c, "doc_id", "text", 3, 0.6)
    val stars = Dedup.jaccardComponentEdges(c, "doc_id", "text", 3, 0.6)
    assert(clustersOf(stars) == clustersOf(full))
    // and through the distributed fixpoint (no driver union-find)
    assert(clustersDistributed(stars) == clustersDistributed(full))
    // sanity: the chain placed near2 in the template component only if it
    // pairs the near clique — whatever the truth, both paths must agree;
    // the clone-with-larger-id must cluster under the min id 1
    assert(clustersOf(stars).exists { case (id, rep, _) => id == 15L && rep == 1L })
  }

  test("keepRepresentatives(star edges) equals keepRepresentatives(fan-out)") {
    val c = corpus(rows)
    val full = Dedup.keepRepresentatives(c, "doc_id",
      Dedup.jaccardPairs(c, "doc_id", "text", 3, 0.6))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val star = Dedup.keepRepresentatives(c, "doc_id",
      Dedup.jaccardComponentEdges(c, "doc_id", "text", 3, 0.6))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(star == full)
    // singletons and empties pass through; exactly one survivor per clique
    assert(star.contains(11L) && star.contains(14L))
    assert(star.intersect(Set(12L, 13L)).size == 1)
  }

  test("star edges give the same clusters on the sf0.001 documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
    val stars = Dedup.jaccardComponentEdges(docs, "doc_id", "text", 3, 0.6)
    assert(clustersOf(stars) == clustersOf(full))
  }

  test("maxDocFreq threads through to the rep-level candidate cut") {
    val c = corpus(rows)
    val full = Dedup.jaccardPairs(c, "doc_id", "text", 3, 0.6,
      maxDocFreq = Some(6L))
    val stars = Dedup.jaccardComponentEdges(c, "doc_id", "text", 3, 0.6,
      maxDocFreq = Some(6L))
    assert(clustersOf(stars) == clustersOf(full))
  }
}
