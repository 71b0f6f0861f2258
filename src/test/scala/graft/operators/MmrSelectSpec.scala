package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.F

/** MMR selection: pick-for-pick identical to a driver-side exact greedy
  * under the operator's determinism contract, and the redundancy
  * penalty actually reorders a constructed duplicate-heavy fixture
  * (pure relevance would return the duplicates back-to-back; MMR must
  * not).
  */
class MmrSelectSpec extends SparkSpecBase {

  private def simT(a: Array[Double], b: Array[Double]): Long = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    Math.round((BigDecimal(s)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0d) * 10000)
  }

  /** Driver-side exact MMR greedy (λ = lamN/10, low-id ties, round-1
    * empty-max = 0).
    */
  private def bruteForce(
      cands: Seq[(Long, Array[Double], Long)], k: Int, lamN: Int)
      : Seq[(Int, Long, Long, Long)] = {
    val byId = cands.map(c => c._1 -> c).toMap
    var selected = Vector.empty[Long]
    (1 to k).map { r =>
      val scored = cands
        .filterNot { case (id, _, _) => selected.contains(id) }
        .map { case (id, uv, rel) =>
          val pen =
            if (selected.isEmpty) 0L
            else selected.map(s => simT(uv, byId(s)._2)).max
          (id, rel, lamN.toLong * rel - (10 - lamN).toLong * pen)
        }
      val best = scored.minBy { case (id, _, m) => (-m, id) }
      selected :+= best._1
      (r, best._1, best._2, best._3)
    }
  }

  private def normalized(dir: String) = graft.sources.Tables
    .embeddings(spark, dir)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
    .filter(col("nrm") > 0)
    .withColumn("uv", transform(col("v"), x => x / col("nrm")))
    .select(col("vec_id"), col("uv"))

  test("identical picks, relevances and scores on the sf0.001 embeddings") {
    val pts = normalized("/root/testdata/sf0.001").localCheckpoint(true)
    val qid = pts.select(min(col("vec_id"))).head().getLong(0)
    val q = pts.filter(col("vec_id") === qid).select(col("uv").as("qu"))
    def relT(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round((round(F.array_dot(a, b), 4) + lit(0d)) * 10000).cast("long")
    val cands = pts.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("uv"), relT(col("uv"), col("qu")).as("rel_t"))
      .localCheckpoint(true)
    val got = MmrSelect.select(cands, k = 6, lamN = 7)

    val local = cands.collect().map(r => (
      r.getLong(0),
      r.getSeq[Double](1).toArray,
      r.getLong(2))).toSeq
    val want = bruteForce(local, k = 6, lamN = 7)
    assert(got === want)
    Pins.scope { p => p.own(pts); p.own(cands) }
  }

  test("redundancy penalty separates a duplicate pair that pure " +
      "relevance ranks adjacent") {
    import spark.implicits._
    // Query axis = e1. Candidates: a near-identical pair (1, 2) OFF the
    // query axis (so their mutual similarity far exceeds what their
    // relevance implies — the regime where the penalty can win), a
    // slightly less relevant vector (3) on the OTHER side of the query
    // axis (similar to q, dissimilar to 1), and a low-relevance
    // vector (4).
    val cands = Seq(
      (1L, Array(0.8, 0.6, 0.0, 0.0)),
      (2L, Array(0.7996, 0.5997, 0.01, 0.0)),
      (3L, Array(0.78, -0.6256, 0.0, 0.0)),
      (4L, Array(0.1, 0.0, 0.0, math.sqrt(1 - 0.01)))
    )
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val df = cands.map { case (id, uv) => (id, uv, simT(uv, q)) }
      .toDF("vec_id", "uv", "rel_t")
    val got = MmrSelect.select(df, k = 3, lamN = 7)
    val want = bruteForce(
      cands.map { case (id, uv) => (id, uv, simT(uv, q)) }, k = 3, lamN = 7)
    assert(got === want)
    // Pure relevance would rank 1, 2 first; MMR must break the pair:
    // pick 1 is the most relevant, pick 2 must be the diverse vector 3.
    assert(got.map(_._2).take(2) === Seq(1L, 3L))
  }

  test("contract guards: empty candidates and k beyond the candidate " +
    "count fail loudly with descriptive errors") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Double], Long)]
      .toDF("vec_id", "uv", "rel_t")
    val e1 = intercept[IllegalArgumentException](MmrSelect.select(empty, 2))
    assert(e1.getMessage.contains("non-empty"))
    val two = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), 9000L),
      (2L, Seq(0.0, 1.0, 0.0, 0.0), 5000L))
      .toDF("vec_id", "uv", "rel_t").localCheckpoint(true)
    val e2 = intercept[IllegalArgumentException](MmrSelect.select(two, 3))
    assert(e2.getMessage.contains("exceeds"))
    Pins.scope(_.own(two))
  }
}
