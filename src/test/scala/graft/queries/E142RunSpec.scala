package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** e142 (shared-run explanation) computes the longest contiguous shared
  * word run per verified pair via the gaps-and-islands window over gram
  * diagonals. Pin it two ways:
  *
  *  1. against a driver-side brute force (direct per-diagonal streak
  *     scan over the matched positional grams) on the real sf0.01
  *     pairs — the integrated path including banding;
  *  2. against hand-constructed corpora with KNOWN run structure — a
  *     copied 30-word passage (one long island), scattered 4-word
  *     boilerplate fragments (four 2-gram islands), and a no-shared-gram
  *     pair (the left-join coalesce path) — driven through
  *     `sharedRunStats` with an explicit pair set so banding recall
  *     cannot mask an island-arithmetic bug.
  */
class E142RunSpec extends SparkSpecBase {

  private val P = graft.functions.Portable.P

  /** Positional 3-gram hashes over a word-hash array — the Scala twin
    * of Portable.posShinglesSpark (same mod-P folds).
    */
  private def grams(wh: Seq[Long]): Array[Long] =
    Array.tabulate(math.max(wh.length - 2, 0)) { i =>
      (((wh(i) * 31 + wh(i + 1)) % P) * 31 + wh(i + 2)) % P
    }

  /** Brute-force (longest_run_words, n_shared_grams): scan every
    * diagonal's matched positions directly.
    */
  private def brute(ga: Array[Long], gb: Array[Long]): (Long, Long) = {
    val matched = for {
      pa <- ga.indices; pb <- gb.indices if ga(pa) == gb(pb)
    } yield (pa, pb)
    if (matched.isEmpty) (0L, 0L)
    else {
      val longest = matched.groupBy { case (pa, pb) => pa - pb }.values
        .map { isl =>
          val ps = isl.map(_._1).sorted
          var best = 1; var cur = 1
          for (k <- 1 until ps.length) {
            if (ps(k) == ps(k - 1) + 1) cur += 1 else cur = 1
            best = best max cur
          }
          best
        }.max
      (longest.toLong + 2, matched.size.toLong)
    }
  }

  test("e142 matches a driver-side brute force on the sf0.01 pairs") {
    val dir = "/root/testdata/sf0.01"
    val out = AnalysisQueries.all.find(_.name == "e142_shared_run").get
      .run(spark, dir).collect()
    assert(out.nonEmpty)
    val ids = out.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    val wh = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), graft.functions.F.word_hashes(col("text")))
      .collect()
      .map(r => r.getLong(0) -> grams(r.getSeq[Long](1))).toMap
    out.foreach { r =>
      val (run, ng) = brute(wh(r.getLong(0)), wh(r.getLong(1)))
      assert(r.getLong(3) === run, s"pair ${r.getLong(0)}-${r.getLong(1)}")
      assert(r.getLong(4) === ng, s"pair ${r.getLong(0)}-${r.getLong(1)}")
    }
    // at least one pair must exercise a genuinely long run, or the
    // cross-check proves nothing about multi-gram islands
    assert(out.map(_.getLong(3)).max >= 10)
  }

  test("known corpora: copied passage, scattered boilerplate, no overlap") {
    import spark.implicits._
    // distinct alphabetic words only: word extraction is [a-z]+, so
    // digits would collapse "p1".."p30" into one repeated word
    val passage = (0 until 30)
      .map(i => s"p${('a' + i / 5).toChar}${('a' + i % 5).toChar}")
      .mkString(" ")
    val frags = Seq(
      "alpha bravo charlie delta", "echo foxtrot golf hotel",
      "india juliet kilo lima", "mike november oscar papa")
    val docs = Seq(
      // pair (1,2): unique flanks around one copied 30-word passage
      (1L, s"aa bb cc dd ee $passage ff gg hh ii jj"),
      (2L, s"kk ll mm nn oo $passage pp qq rr ss tt"),
      // pair (3,4): four shared 4-word fragments, separators differ
      (3L, s"${frags(0)} sepa ${frags(1)} sepb ${frags(2)} sepc ${frags(3)}"),
      (4L, s"${frags(0)} sepx ${frags(1)} sepy ${frags(2)} sepz ${frags(3)}"),
      // pair (5,6): zero shared grams
      (5L, "one two three four five six seven"),
      (6L, "eight nine ten eleven twelve thirteen fourteen"),
      // pair (7,8): byte-identical WITH a repeated phrase — the digest
      // fast path, whose Σc² must count the off-diagonal self-matches
      // a naive n−2 shortcut would miss
      (7L, "pa pb pc pd xx pa pb pc pd"),
      (8L, "pa pb pc pd xx pa pb pc pd"),
      // replicas of docs 3 and 4: four id-pairs collapse to ONE digest
      // pair in the content-keyed form, and the join-back must hand
      // each of them the same answer in both orientations
      (9L, s"${frags(0)} sepa ${frags(1)} sepb ${frags(2)} sepc ${frags(3)}"),
      (10L, s"${frags(0)} sepx ${frags(1)} sepy ${frags(2)} sepz ${frags(3)}"))
    val dir = Files.createTempDirectory("e142spec").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val vp = Seq((1L, 2L, 0.5), (3L, 4L, 0.5), (5L, 6L, 0.35),
        (7L, 8L, 1.0),
        // the replica id-pairs of the (3, 4) content pair — (3, 10)
        // and (4, 9) reverse which side holds which digest
        (3L, 10L, 0.5), (4L, 9L, 0.5), (9L, 10L, 0.5))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = graft.operators.Pins.scope(p =>
        AnalysisQueries.sharedRunStats(p, spark, dir, vp).collect())
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // 30-word passage at the same offset: one island of 28 grams
    assert(got((1L, 2L)) === ((30L, 28L)))
    // 4-word fragments: islands of 2 grams -> run = 2 + 2 words
    assert(got((3L, 4L)) === ((4L, 8L)))
    // disjoint vocabularies: the left-join coalesce path
    assert(got((5L, 6L)) === ((0L, 0L)))
    // identical docs, repeated phrase: fast path — longest = all 9
    // words; Σc² = 2² + 2² + 1 + 1 + 1 = 11, not n−2 = 7
    assert(got((7L, 8L)) === ((9L, 11L)))
    // every replica id-pair of the (3, 4) content pair gets the same
    // answer through the digest join-back, whichever side holds
    // whichever digest
    Seq((3L, 10L), (4L, 9L), (9L, 10L)).foreach { p =>
      assert(got(p) === ((4L, 8L)), p)
    }
    assert(got.size === 7) // one output row per INPUT pair, no dedup
  }
}
