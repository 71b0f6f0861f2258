package graft.functions

import graft.SparkSpecBase

/** [[F.isqrt]] is the exact ⌊√x⌋ every Agresti–Coull SE and e123's
  * Neyman weight rely on: pinned against `BigInteger.sqrt` at the
  * perfect-square boundaries, past 2⁵³ (where the double radicand
  * rounds) and at the overflow guard 3037000499 = ⌊√Long.MaxValue⌋.
  */
class IsqrtSpec extends SparkSpecBase {

  test("isqrt equals BigInteger.sqrt at the boundaries") {
    import spark.implicits._
    val g = 3037000499L
    val ks = Seq(2L, 94906266L, g) // 94906266² sits just above 2⁵³
    val xs = Seq(0L, 1L, g * g, g * g + 1, Long.MaxValue) ++
      ks.flatMap(k => Seq(k * k - 1, k * k))
    val got = xs.toDF("x").select($"x", F.isqrt($"x"))
      .as[(Long, Long)].collect().toMap
    xs.foreach { x =>
      val want = java.math.BigInteger.valueOf(x).sqrt().longValueExact()
      assert(got(x) === want, s"isqrt($x)")
    }
  }
}
