package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** e146's max-min closed form must equal the textbook
  * pool-adjacent-violators algorithm, compared in exact rational
  * arithmetic, on the real sf0.01 curve and on the two boundary
  * regimes (anti-monotone input pools to one global mean;
  * already-monotone input is a fixed point).
  */
class E146IsotonicSpec extends SparkSpecBase {

  /** Exact-rational weighted PAV: pools compared by cross
    * multiplication (BigInt), per-bin fit floored to ppm.
    */
  private def pav(bins: Seq[(Long, Long, Long)]): Seq[Long] = {
    // (weight, positives, #bins) pools; merge while left mean >= right
    val pools = scala.collection.mutable.ArrayBuffer.empty[
      (BigInt, BigInt, Int)]
    bins.sortBy(_._1).foreach { case (_, n, pos) =>
      pools += ((BigInt(n), BigInt(pos), 1))
      while (pools.length > 1 && {
        val (w1, s1, _) = pools(pools.length - 2)
        val (w2, s2, _) = pools.last
        s1 * w2 >= s2 * w1
      }) {
        val (w2, s2, c2) = pools.remove(pools.length - 1)
        val (w1, s1, c1) = pools.remove(pools.length - 1)
        pools += ((w1 + w2, s1 + s2, c1 + c2))
      }
    }
    pools.toSeq.flatMap { case (w, s, c) =>
      Seq.fill(c)((s * 1000000 / w).toLong)
    }
  }

  private def runBins(bins: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
    import spark.implicits._
    graft.operators.Pins.scope(p => AnalysisQueries.isotonicFromBins(p,
        bins.toDF("q", "n", "pos"))
      .collect().map(r => (r.getLong(0), r.getLong(4))).toSeq)
  }

  test("closed form equals exact-rational PAV on the sf0.01 curve") {
    val dir = "/root/testdata/sf0.01"
    val out = AnalysisQueries.all
      .find(_.name == "e146_isotonic_calibration").get
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(out.length === 50)
    val expected = pav(out.map(t => (t._1, t._2, t._3)))
    assert(out.map(_._4).toSeq === expected)
    // and the fit is nondecreasing — the defining property
    val fits = out.sortBy(_._1).map(_._4)
    fits.sliding(2).foreach(p => assert(p(0) <= p(1)))
  }

  test("anti-monotone input pools to the global mean; monotone input" +
    " is a fixed point; ties pool exactly") {
    // strictly decreasing rates: one pool, every fit = 45/100 ppm'd
    val dec = Seq((1L, 10L, 9L), (2L, 10L, 5L), (3L, 10L, 1L))
    assert(runBins(dec).map(_._2) ===
      Seq.fill(3)(15L * 1000000 / 30L))
    // strictly increasing rates survive unchanged
    val inc = Seq((1L, 10L, 1L), (2L, 10L, 5L), (3L, 10L, 9L))
    assert(runBins(inc).map(_._2) ===
      Seq(100000L, 500000L, 900000L))
    // a violation in the middle pools exactly its two bins
    val mid = Seq((1L, 10L, 1L), (2L, 10L, 7L), (3L, 10L, 5L),
      (4L, 10L, 9L))
    assert(runBins(mid).map(_._2) ===
      Seq(100000L, 600000L, 600000L, 900000L))
  }
}
