package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.NnDescent

/** Pins e158's CONVERGENCE STOP — the code path the shipped testdata
  * never exercises: the synthetic embeddings are isotropic noise (the
  * paper's worst case), so updates decline but never reach 0 within
  * the 8-round budget there. On a CLUSTERED corpus — the case the
  * paper reports 2–3-round convergence for — the loop must (a) reach a
  * zero-update round, (b) stop before exhausting maxRounds (scoring
  * nothing further), and (c) be a true fixpoint: the graph it stops at
  * equals the exact per-vertex top-K, because within-cluster edges
  * dominate every ranking once found. Everything is deterministic
  * (ring init, 4-dp + id tie-breaks), so this is a pin, not a
  * statistical test.
  */
class E158ConvergenceSpec extends SparkSpecBase {

  test("clustered corpus: zero-update round reached, loop stops " +
    "early, and the stopped graph is the exact kNN graph") {
    import spark.implicits._
    // 3 tight clusters x 11 points in 64-dim: cluster axis e_{3m},
    // per-point jitter on e_{3m+1} small enough that within-cluster
    // cosines (~1.0) dominate cross-cluster ones (~0.0) at 4 dp. With
    // K = 10, every vertex's true top-10 is exactly its 10 cluster
    // peers. vec_ids INTERLEAVE the clusters (id % 3 = cluster), so the
    // ring init starts maximally mixed — convergence is the
    // algorithm's work, not the id layout's.
    val K = 10
    val maxRounds = 8
    def vec(cluster: Int, j: Int): Seq[Float] = {
      val v = Array.fill(64)(0.0f)
      v(3 * cluster) = 1.0f
      v(3 * cluster + 1) = 0.001f * (j + 1)
      v.toSeq
    }
    val pts = (0 until 33).map { id =>
      (id.toLong, vec(id % 3, id / 3))
    }
    val dir = java.nio.file.Files
      .createTempDirectory("e158-converge").toString
    pts.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val v = NnDescent.vectors(
        graft.sources.Tables.embeddings(spark, dir), NnDescent.Float)
      val (knns, freshes, nUpdates) =
        AnalysisQueries.e158Graph(v, K, maxRounds)
      // (a) + (b): a zero-update round happened and ended the loop
      assert(nUpdates.last === 0L,
        s"loop must end on a zero-update round: $nUpdates")
      assert(knns.size - 1 < maxRounds,
        s"stop must fire before the ${maxRounds}-round budget: " +
          s"${knns.size - 1} rounds run, updates $nUpdates")
      assert(freshes.size === knns.size - 1)
      // (c) fixpoint = exact graph: every vertex's K neighbors are its
      // cluster peers (exact top-K by 4-dp cosine, id tie-break)
      val got = knns.last.select("src", "dst").as[(Long, Long)]
        .collect().toSet
      val want = (for {
        s <- 0L until 33L
        d <- 0L until 33L
        if d != s && d % 3 == s % 3
      } yield (s, d)).toSet
      assert(got === want,
        "converged graph must equal the exact within-cluster kNN graph")
      graft.operators.Pins.scope(p => (v.r +: knns).foreach(p.own))
    } finally {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
