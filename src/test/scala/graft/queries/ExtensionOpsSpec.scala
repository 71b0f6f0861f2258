package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.sources.Tables

/** Behavior pins for the scale levers added in round 3:
  *  - e5's guarded broadcast: the chunked fallback (query set past the
  *    broadcast threshold) must return EXACTLY the rows of the
  *    single-broadcast path;
  *  - e6's bucket-size cap: salting an oversized LSH bucket must yield a
  *    subset of the uncapped pairs (recall trade) and never invent rows.
  */
class ExtensionOpsSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("cosineTopkExact: chunked fallback equals broadcast path") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qe"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ce"))
    val broadcastPath = ExtensionQueries.cosineTopkExact(q, c, k = 4)
    // threshold 3 << |q| forces the multi-chunk union path
    val chunkedPath = ExtensionQueries.cosineTopkExact(
      q, c, k = 4, maxBroadcastQueries = 3L)
    assert(chunkedPath.exceptAll(broadcastPath).isEmpty &&
      broadcastPath.exceptAll(chunkedPath).isEmpty)
    assert(broadcastPath.count() > 0)
  }

  test("annLsh bucket cap: capped pairs are a subset; cap bounds sub-buckets") {
    val uncapped = ExtensionQueries
      .annLsh("t_uncapped", bits = 4, k = 5, bucketCap = 1000000L)
      .run(spark, dir)
    val capped = ExtensionQueries
      .annLsh("t_capped", bits = 4, k = 5, bucketCap = 7L)
      .run(spark, dir)
    // 4-bit signatures over 100 vectors => buckets well above cap=7, so the
    // cap must actually engage (strictly fewer candidate pairs survive).
    assert(capped.count() < uncapped.count())
    // Every capped pair must exist in the uncapped result with the same
    // cosine (the cap may only REMOVE candidates, never alter or add) —
    // compared against the uncapped run with k large enough to keep all
    // pairs, since dropping candidates can promote lower-ranked neighbors.
    val cappedPairs = capped.select("query_id", "neighbor_id", "cosine")
    val uncappedPairsAllK = ExtensionQueries
      .annLsh("t_uncapped_allk", bits = 4, k = 1000, bucketCap = 1000000L)
      .run(spark, dir)
      .select("query_id", "neighbor_id", "cosine")
    assert(cappedPairs.exceptAll(uncappedPairsAllK).isEmpty)
  }

  test("e80: winnowed overlap pairs are sane and catch the corpus " +
    "near-dups e2 reports with high similarity") {
    def run(name: String) = graft.SparkEntry.queries(name)(spark, dir)
    val pairs = run("e80_winnowing").collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_shared") >= 2L)
      val bp = r.getAs[Long]("containment_bp")
      assert(bp >= 0L && bp <= 10000L)
    }
    // detection floor: every pair e2 scores at jaccard >= 0.6 shares a
    // long word run, so winnowing must surface it too
    val strong = run("e2_ngram_jaccard")
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnowed = pairs.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(strong.subsetOf(winnowed),
      s"missed: ${strong.diff(winnowed).take(5)}")
  }

  test("e81: truncation recall is monotone in d and exact at full dim") {
    val rows = graft.SparkEntry.queries("e81_mrl_truncation")(spark, dir)
      .orderBy("d").collect()
    assert(rows.map(_.getAs[Long]("d")).toSeq === Seq(8L, 16L, 32L, 64L))
    // full dim ranks against itself: recall@10 is 10000 bp by construction
    assert(rows.last.getAs[Long]("recall_bp") === 10000L)
    val bps = rows.map(_.getAs[Long]("recall_bp"))
    bps.foreach(bp => assert(bp >= 0L && bp <= 10000L))
    // a longer prefix can only rank more faithfully on this corpus
    bps.sliding(2).foreach { case Array(lo, hi) => assert(lo <= hi) }
  }

  test("e29 equals a direct exact count over the same exploded postings") {
    val q = ExtensionQueries.all.find(_.name == "e29_heavy_hitters").get
    val got = q.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val ex = Tables.documents(spark, dir)
      .select(explode(graft.functions.F.word_hashes(col("text"))).as("h"))
    val n = ex.count()
    val want = ex.groupBy("h").count()
      .filter(col("count") * 128 > n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("e58 window geometry: counts cover every byte, both activity " +
    "classes live, permille bounded") {
    import spark.implicits._
    val out = graft.SparkEntry.queries("e58_media_energy")(spark, dir)
    // every doc's windows tile its byte length: n_windows = ceil(len/32)
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
    val bad = out.join(lens, "doc_id")
      .filter(col("n_windows") =!= expr("(n + 31) div 32") ||
        col("active_permille") < 0 || col("active_permille") > 1000 ||
        col("n_active") > col("n_windows"))
      .count()
    assert(bad === 0L)
    // the threshold discriminates on real text: some windows active
    // (letter-dense), some not (space/punct-dense) — a dead flag means
    // the stub threshold stopped testing anything
    val (act, tot) = out.agg(sum("n_active"), sum("n_windows"))
      .as[(Long, Long)].head()
    assert(act > 0L && act < tot, s"activity flag is dead: $act/$tot")
  }
}
