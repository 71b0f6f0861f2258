package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.F

/** The incremental-gain (CELF) greedy must be pick-for-pick identical
  * to the plain recount greedy — on real postings and on adversarial
  * synthetic ones (ties, containment, early exhaustion).
  */
class CoverageGreedySpec extends SparkSpecBase {

  import org.apache.spark.sql.DataFrame

  private def postings(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "h").localCheckpoint(true)
  }

  test("identical picks on the sf0.001 document shingle postings") {
    val post = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), explode(col("shs")).as("h"))
      .localCheckpoint(true)
    val a = CoverageGreedy.plain(post, 5)
    val b = CoverageGreedy.incremental(post, 5)
    Pins.scope(_.own(post))
    assert(b === a)
    assert(a.size === 5)
    // submodularity signature: marginal gains never increase
    assert(a.map(_._3) === a.map(_._3).sorted.reverse)
  }

  test("ties break to the smallest doc_id in both forms") {
    // docs 10 and 20 both cover 3 uncovered h's in round 1; 10 wins.
    // After 10's pick, 20 retains h=4 only, and 30's disjoint pair
    // {5, 6} overtakes it.
    val post = postings(Seq(
      10L -> 1L, 10L -> 2L, 10L -> 3L,
      20L -> 2L, 20L -> 3L, 20L -> 4L,
      30L -> 5L, 30L -> 6L))
    val a = CoverageGreedy.plain(post, 3)
    val b = CoverageGreedy.incremental(post, 3)
    assert(b === a)
    assert(a === Seq((1, 10L, 3L), (2, 30L, 2L), (3, 20L, 1L)))
  }

  test("exhausted universe stops both forms early, contained docs never picked") {
    // doc 2 is strictly contained in doc 1: after 1 is picked, 2's
    // gain is 0 and the loop must stop with one pick even at k=4.
    val post = postings(Seq(1L -> 7L, 1L -> 8L, 2L -> 7L, 2L -> 8L))
    val a = CoverageGreedy.plain(post, 4)
    val b = CoverageGreedy.incremental(post, 4)
    assert(b === a)
    assert(a === Seq((1, 1L, 2L)))
  }
}
