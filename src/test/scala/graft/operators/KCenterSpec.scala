package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.functions.F

/** Gonzalez k-center: pick-for-pick identical to a driver-side exact
  * traversal, correct geometry on a constructed fixture, and the
  * non-increasing-radius signature.
  */
class KCenterSpec extends SparkSpecBase {

  /** Driver-side exact Gonzalez over (id, unit vector) pairs with the
    * operator's determinism contract (4-dp cosine, low-id ties).
    */
  private def bruteForce(
      pts: Seq[(Long, Array[Double])], k: Int): Seq[(Int, Long, Long)] = {
    def dT(a: Array[Double], b: Array[Double]): Long = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      10000L - Math.round(
        (BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0d) * 10000)
    }
    var centers = Vector(pts.map(_._1).min)
    val byId = pts.toMap
    (1 to k).map { r =>
      val far = pts.map { case (id, v) =>
        (id, centers.map(c => dT(v, byId(c))).min)
      }.minBy { case (id, d) => (-d, id) }
      val row = (r, centers(r - 1), far._2)
      if (r < k) centers :+= far._1
      row
    }
  }

  test("identical picks and radii on the sf0.001 embeddings") {
    val pts = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("uv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("uv"))
      .localCheckpoint(true)
    val got = KCenter.gonzalez(pts, 6)
    val raw = pts.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    Pins.scope(_.own(pts))
    assert(got === bruteForce(raw, 6))
    // covering radius never increases as centers are added
    val radii = got.map(_._3)
    assert(radii === radii.sorted.reverse)
  }

  test("constructed geometry: four orthogonal modes found before any " +
    "densification, then the radius collapses") {
    import spark.implicits._
    // 3 near-identical points on each of 4 orthogonal axes (64-dim);
    // orthogonal modes are at d_t = 10000 from each other, clones at
    // ~0 — the traversal must visit all four modes in picks 1..4.
    def axis(a: Int, eps: Double, epsAxis: Int): Seq[Double] = {
      val v = Array.fill(64)(0.0)
      v(a) = 1.0
      v(epsAxis) = eps
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val pts = (0 until 4).flatMap { m =>
      (0 until 3).map { j =>
        ((m * 3 + j).toLong, axis(m * 2, j * 0.01, m * 2 + 1))
      }
    }.toDF("vec_id", "uv").localCheckpoint(true)
    val got = KCenter.gonzalez(pts, 6)
    Pins.scope(_.own(pts))
    assert(got.map(_._2).take(4).toSet === Set(0L, 3L, 6L, 9L),
      s"first four picks must hit the four modes: $got")
    // while modes remain uncovered the radius stays at orthogonality
    assert(got.take(3).forall(_._3 === 10000L))
    // once all modes are covered only clones remain: radius ~ 0
    assert(got(4)._3 < 10L && got(5)._3 < 10L)
    // ties (equidistant modes) broke to the lowest vec_id each round
    assert(got.map(_._2).take(4) === Seq(0L, 3L, 6L, 9L))
  }

  test("contract guards: empty input and k beyond the point count " +
    "fail loudly; k == #points ends at radius 0") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "uv")
    val e1 = intercept[IllegalArgumentException](KCenter.gonzalez(empty, 2))
    assert(e1.getMessage.contains("non-empty"))
    def unit(a: Int): Seq[Double] = {
      val v = Array.fill(64)(0.0); v(a) = 1.0; v.toSeq
    }
    val three = Seq((0L, unit(0)), (1L, unit(2)), (2L, unit(4)))
      .toDF("vec_id", "uv").localCheckpoint(true)
    // k == N: every point becomes a center, final covering radius 0
    val full = KCenter.gonzalez(three, 3)
    assert(full.map(_._2) === Seq(0L, 1L, 2L))
    assert(full.last._3 === 0L)
    // k > N: a further round would have to duplicate a pick
    val e2 = intercept[IllegalArgumentException](KCenter.gonzalez(three, 4))
    assert(e2.getMessage.contains("exceeds"))
    Pins.scope(_.own(three))
  }
}
