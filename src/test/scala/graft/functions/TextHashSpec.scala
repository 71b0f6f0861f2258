package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests (seeded sampling): the compiled hash loops must
  * equal the portable SQL reference semantics (regex words + polynomial
  * fold) for arbitrary ASCII input.
  */
class TextHashSpec extends AnyFunSuite {

  private val P = Portable.P
  private val rnd = new scala.util.Random(42)

  private def refWords(s: String): Seq[String] =
    "[a-z]+".r.findAllIn(s.toLowerCase).toSeq

  private def refWordHash(w: String): Long =
    w.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % P)

  private val alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ    .,!?;:0123456789"
  private def asciiTexts(n: Int): Seq[String] =
    Seq("", " ", "one", "one two", "a b c d") ++
      (0 until n).map { _ =>
        val len = rnd.nextInt(120)
        (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }

  test("wordHashes equals regex+fold reference") {
    asciiTexts(300).foreach { s =>
      val got = TextHash.wordHashes(UTF8String.fromString(s)).toLongArray().toSeq
      val want = refWords(s).map(refWordHash)
      assert(got === want, s"text=<$s>")
    }
  }

  test("winnowHashes: subset of gram hashes, bounded density, and the " +
    "shared-run detection guarantee") {
    def grams(s: String): Seq[Long] = {
      val wh = refWords(s).map(refWordHash)
      if (wh.length < 3) Nil
      else (0 to wh.length - 3).map(i =>
        wh.slice(i, i + 3).foldLeft(0L)((a, h) => (a * 31 + h) % P))
    }
    def winnow(s: String): Seq[Long] =
      TextHash.winnowHashes(UTF8String.fromString(s), 3, 4)
        .toLongArray().toSeq
    asciiTexts(300).foreach { s =>
      val (fp, g) = (winnow(s), grams(s))
      // every fingerprint is a gram; no duplicates
      assert(fp.toSet.subsetOf(g.toSet), s"text=<$s>")
      assert(fp.distinct === fp)
      if (g.isEmpty) assert(fp.isEmpty)
      else {
        // at least one per window; at most one NEW per window
        assert(fp.nonEmpty && fp.length <= math.max(g.length - 3, 1))
        // windows guarantee: global min of every 4-gram window selected
        assert(fp.contains(g.min))
      }
    }
    // detection guarantee: a shared run of >= w+k-1 = 7 words yields a
    // shared fingerprint regardless of surrounding text
    val run = "lorem ipsum dolor sit amet consectetur adipiscing"
    val a = s"zebra yak xylophone $run walrus vulture"
    val b = s"quack $run mamba lemur kudu jackal iguana heron"
    assert(winnow(a).toSet.intersect(winnow(b).toSet).nonEmpty)
    // short docs: fewer than k words -> empty; fewer than w grams ->
    // the global min alone
    assert(winnow("one two").isEmpty)
    val short = "alpha beta gamma delta" // 2 grams < w
    assert(winnow(short) === Seq(grams(short).min))
  }

  test("shingleHashes: distinct 3-gram hashes, empty below 3 words") {
    asciiTexts(300).foreach { s =>
      val wh = refWords(s).map(refWordHash)
      val want =
        if (wh.size < 3) Seq.empty[Long]
        else wh.sliding(3).map(w =>
          w.foldLeft(0L)((a, x) => (a * 31 + x) % P)).toSeq.distinct
      val got = TextHash
        .shingleHashes(UTF8String.fromString(s), 3).toLongArray().toSeq
      assert(got === want, s"text=<$s>")
    }
  }

  test("polyHash equals char fold; simHash majority vote") {
    asciiTexts(300).foreach { s =>
      val want = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % P)
      assert(TextHash.polyHash(UTF8String.fromString(s)) === want)
      val wh = refWords(s).map(refWordHash)
      val wantSim = (0 until 32).map { j =>
        if (2 * wh.count(h => ((h >> j) & 1L) == 1L) > wh.size) 1L << j else 0L
      }.sum
      assert(TextHash.simHash(UTF8String.fromString(s)) === wantSim)
    }
    // a light edit (casing, punctuation) keeps the word-hash multiset
    // and so the simhash; different text does not
    def sim(s: String): Long = TextHash.simHash(UTF8String.fromString(s))
    assert(sim("The QUICK, brown fox!") === sim("the quick brown fox"))
    assert(sim("an entirely different document body") !==
      sim("the quick brown fox"))
  }

  test("minHashes: affine min per coefficient pair") {
    (0 until 100).foreach { _ =>
      val xs = Seq.fill(1 + rnd.nextInt(60))(rnd.nextLong().abs % P)
      val got = TextHash.minHashes(ArrayData.toArrayData(xs.toArray))
        .toLongArray().toSeq
      val want = Portable.MinHashA.zip(Portable.MinHashB).map { case (a, b) =>
        xs.map(x => (a * x + b) % P).min
      }
      assert(got === want)
    }
  }

  test("dotD: left fold of products") {
    (0 until 100).foreach { _ =>
      val a = Seq.fill(8)(rnd.nextDouble() * 20 - 10)
      val b = Seq.fill(8)(rnd.nextDouble() * 20 - 10)
      val got = TextHash.dotD(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      val want = a.zip(b).foldLeft(0.0)((s, p) => s + p._1 * p._2)
      assert(got === want)
    }
  }

  test("int8 pack/scale/dot equal the e93 list-arithmetic reference; " +
    "codes stay in [-127, 127]; zero vector packs to zeros") {
    (0 until 200).foreach { _ =>
      val a = Seq.fill(16)(rnd.nextDouble() * 2 - 1)
      val b = Seq.fill(16)(rnd.nextDouble() * 2 - 1)
      def refScale(v: Seq[Double]): Double =
        v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x))) / 127.0
      def refQ(v: Seq[Double]): Seq[Long] = {
        val s = refScale(v)
        v.map(x => math.floor(x / s + 0.5).toLong)
      }
      assert(TextHash.int8Scale(ArrayData.toArrayData(a.toArray))
        === refScale(a))
      val pa = TextHash.int8Pack(ArrayData.toArrayData(a.toArray))
      val pb = TextHash.int8Pack(ArrayData.toArrayData(b.toArray))
      assert(pa.map(_.toLong).toSeq === refQ(a))
      assert(pa.forall(c => c >= -127 && c <= 127))
      val want = refQ(a).zip(refQ(b)).map(p => p._1 * p._2).sum
      assert(TextHash.int8Dot(pa, pb) === want)
    }
    val z = TextHash.int8Pack(ArrayData.toArrayData(Array.fill(8)(0.0)))
    assert(z.forall(_ === 0.toByte))
    assert(TextHash.int8Scale(ArrayData.toArrayData(Array.fill(8)(0.0)))
      === 0.0)
  }
}
