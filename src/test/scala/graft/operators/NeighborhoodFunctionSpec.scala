package graft.operators

import graft.SparkSpecBase

/** Neighborhood function: the exact leg matches a driver-side BFS on a
  * chained-clique graph (diameter 9), the sketch leg is monotone and
  * register-converged at the fixpoint, and the production (hllOnly)
  * plan returns the audit form's est_pairs column verbatim.
  */
class NeighborhoodFunctionSpec extends SparkSpecBase {

  /** Five 5-cliques chained by a bridge from each clique's max node to
    * the next clique's min node — the e163b fixture shape with nodes
    * 5k..5k+4, true diameter 9.
    */
  private def chainedCliques: Seq[(Long, Long)] = {
    val cliques = for {
      c <- 0 until 5
      i <- 0 until 5
      j <- i + 1 until 5
    } yield ((c * 5 + i).toLong, (c * 5 + j).toLong)
    val bridges = (0 until 4).map(c => ((c * 5 + 4).toLong, ((c + 1) * 5).toLong))
    cliques ++ bridges
  }

  /** Driver-side BFS: Σ_v |B(v, r)| for r = 0..rounds. */
  private def bfsPairs(edges: Seq[(Long, Long)], rounds: Int): Seq[Long] = {
    val nbr = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
    val nodes = nbr.keys.toSeq
    (0 to rounds).map { r =>
      nodes.map { v =>
        var ball = Set(v)
        for (_ <- 1 to r) ball = ball ++ ball.flatMap(nbr(_))
        ball.size.toLong
      }.sum
    }
  }

  test("exact leg matches driver BFS round-for-round; tail converges " +
    "at the true diameter") {
    import spark.implicits._
    val edges = chainedCliques
    val got = NeighborhoodFunction
      .neighborhood(edges.toDF("a", "b"), "a", "b", rounds = 10)
      .select("round", "n_pairs", "frac_bp")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val want = bfsPairs(edges, 10)
    assert(got.map(_._2).toSeq === want)
    // single component of 25 nodes: N(∞) = 625, reached at round 9
    assert(got(9)._2 === 625L && got(10)._2 === 625L)
    assert(got(8)._2 < 625L)
    assert(got(9)._3 === 10000L && got(10)._3 === 10000L)
  }

  test("sketch leg is monotone in round and fixpoint-stable past the " +
    "diameter; hllOnly returns the same est_pairs") {
    import spark.implicits._
    val edges = chainedCliques
    val full = NeighborhoodFunction
      .neighborhood(edges.toDF("a", "b"), "a", "b", rounds = 10)
      .select("round", "est_pairs").as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2)
    // register max-merge only grows registers, so s2 only shrinks and
    // the estimate never decreases
    assert(full.sliding(2).forall { case Array(a, b) => a <= b })
    // past the diameter the register relation is a fixpoint
    assert(full(9) === full(10))
    val prod = NeighborhoodFunction
      .hllOnly(edges.toDF("a", "b"), "a", "b", rounds = 10)
      .select("round", "est_pairs").as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2)
    assert(prod.toSeq === full.toSeq)
  }

  test("hllRegisters persisted to parquet re-derive hllOnly's summary " +
    "with one scan (e169's posture); the build's checkpoint releases") {
    import spark.implicits._
    val edges = chainedCliques
    val before = spark.sparkContext.getPersistentRDDs.size
    val regs = NeighborhoodFunction
      .hllRegisters(edges.toDF("a", "b"), "a", "b", rounds = 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_anf_regs").toString + "/regs"
    regs.write.parquet(dir)
    Pins.scope(_.own(regs))
    val fromDisk = NeighborhoodFunction
      .summarizeRegisters(spark.read.parquet(dir))
      .select("round", "est_pairs", "z_total")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val direct = NeighborhoodFunction
      .hllOnly(edges.toDF("a", "b"), "a", "b", rounds = 10)
      .select("round", "est_pairs", "z_total")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(fromDisk.toSeq === direct.toSeq)
    // only hllOnly's (rounds+1)-row summary may remain persisted: the
    // register build's checkpoint was released above and every
    // per-round frame inside both calls self-releases
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"leaked checkpoints: $before -> $after")
  }

  test("neighborhood() keeps only its two summary checkpoints: every " +
    "per-round reach/register frame is released (ADVICE r13)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    NeighborhoodFunction
      .neighborhood(chainedCliques.toDF("a", "b"), "a", "b", rounds = 10)
      .collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"leaked checkpoints: $before -> $after")
  }

  test("pair-shaped graph: everything reachable at round 1, flat after") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val got = NeighborhoodFunction
      .neighborhood(edges.toDF("a", "b"), "a", "b", rounds = 2)
      .select("round", "n_pairs", "frac_bp")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq === Seq(6L, 12L, 12L))
    assert(got(1)._3 === 10000L)
  }
}
