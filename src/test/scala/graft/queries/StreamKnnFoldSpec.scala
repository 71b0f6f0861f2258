package graft.queries

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheEntries
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.streaming.StreamKnnFold

/** e177 — the kNN-graph attach ONLINE (VERDICT r15 #3): arriving
  * vectors attach to the STORED e173 base graph inside their own
  * micro-batch, with the periodic batch fold remaining the compactor.
  * Three pins on the convergent arc fixture (E173Spec's):
  *
  *  1. stream ≡ batch — the leaderboards equal a batch replay of the
  *     same candidate+score+top-k computation on the same delta, on
  *     BOTH state-store providers;
  *  2. attach ⊆ fold — every streamed attach edge is in the batch
  *     fold's final graph (the handoff contract). This holds BY DESIGN
  *     only under the conservative-degree rule the operator documents:
  *     stream k (3) < fold K (6) − max fresh-per-neighborhood (2,
  *     computed for this fixture), because the stream sees only BASE
  *     candidates while the fold ranks base and fresh together;
  *  3. coverage — the attach edges are EXACTLY the base-restricted
  *     top-k (brute-forced locally), i.e. the LSH buckets plus the
  *     one-hop stored-graph expansion recovered every true neighbor
  *     on this fixture (a candidate-generation regression fails this
  *     loudly rather than shrinking recall silently).
  *
  * State is bounded: exactly one leaderboard row per arriving vector.
  *
  * Lives in graft.queries because the fold reference IS e173Core —
  * comparing against a re-derivation would let the stream and the
  * compactor drift apart unnoticed.
  */
class StreamKnnFoldSpec extends SparkSpecBase {

  private val n = 40
  private val foldK = 6
  private val streamK = 3

  private def freshIds: Seq[Long] = (0L until n.toLong).filter(i =>
    ((i % 1000003) * 2654435761L) % 1000000007L % 5 == 4)

  private def uv(i: Int): Array[Double] = {
    val th = i * 0.07
    val v = Array(math.cos(th).toFloat.toDouble,
      math.sin(th).toFloat.toDouble)
    val nrm = math.sqrt(v(0) * v(0) + v(1) * v(1))
    Array(v(0) / nrm, v(1) / nrm)
  }

  private def cosT(a: Int, b: Int): Long =
    BigDecimal((uv(a)(0) * uv(b)(0) + uv(a)(1) * uv(b)(1)) * 10000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def topOf(src: Long, pool: Seq[Long], k: Int): Seq[Long] =
    pool.filter(_ != src)
      .sortBy(b => (-cosT(src.toInt, b.toInt), b)).take(k)

  private def runStream(
      s: org.apache.spark.sql.SparkSession, name: String,
      fresh: Seq[(Long, Array[Float])],
      base: org.apache.spark.sql.DataFrame,
      stored: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[(Long, Array[Float])]
    val out = StreamKnnFold.attach(
      ms.toDF().toDF("vec_id", "embedding"), base, stored,
      k = streamK, d = 2)
    val q = out.writeStream
      .format("memory").queryName(name).outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      val (a, b) = fresh.splitAt(fresh.length / 2)
      ms.addData(a)
      q.processAllAvailable()
      ms.addData(b)
      q.processAllAvailable()
      // bounded state: one leaderboard row per arriving vector
      val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
      assert(ops.map(_.numRowsTotal).sum === fresh.length.toLong,
        s"state not bounded at one row per key on $name: $ops")
      s.table(name).select("key", "ids")
        .as[(String, Seq[Long])].collect()
        .map { case (k0, ids) => k0.toLong -> ids }.toMap
    } finally q.stop()
  }

  test("stream attach ≡ batch replay, ⊆ the e173 fold, and = exact " +
    "base top-k, on in-memory AND RocksDB providers") {
    import spark.implicits._
    val emb = (0 until n).map { i =>
      val th = i * 0.07
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val store = java.nio.file.Files
      .createTempDirectory("graft_e177").toString + "/knn_base"
    val fold = AnalysisQueries.e173Core(spark, emb, foldK,
      baseRounds = 6, foldRounds = 6, scratchRounds = 6, store,
      production = true).foldFinal
    val foldEdges = fold.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val fresh = freshIds
    val baseIds = (0L until n.toLong).filterNot(fresh.contains)
    // fixture preconditions: the fold converged to the exact union
    // kNN, and the conservative-degree rule's margin holds
    val exactUnion = (0L until n.toLong).flatMap(v =>
      topOf(v, 0L until n.toLong, foldK).map(v -> _)).toSet
    assert(foldEdges === exactUnion, "fold did not converge — the " +
      "⊆ pin below would be vacuous")
    val maxFresh = fresh.map(v =>
      topOf(v, 0L until n.toLong, foldK).count(fresh.contains)).max
    assert(streamK <= foldK - maxFresh,
      s"fixture violates the conservative-degree rule: $streamK > " +
        s"$foldK - $maxFresh")

    val baseDf = emb.filter(col("vec_id").isin(baseIds: _*))
    val stored = spark.read.parquet(store)
    val freshRows = emb.filter(col("vec_id").isin(fresh: _*))
      .as[(Long, Array[Float])].collect().toSeq

    // batch replay of the same stateless computation: window top-k
    // with the TopKState tie rule (score desc, id asc)
    val replay = StreamKnnFold.scoredCandidates(
        freshRows.toDF("vec_id", "embedding"), baseDf, stored, d = 2)
      // the operator contract: candidates carry duplicates (bands +
      // hop expansion) and the consumer's top-k deduplicates — in
      // batch that's a distinct before the window, in the stream it's
      // TopKState's replace-on-reobserve
      .dropDuplicates("src", "dst")
      .withColumn("rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("cos_t").desc, col("dst"))))
      .filter(col("rk") <= streamK)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val gotMem = runStream(spark, "skf_mem", freshRows, baseDf, stored)
    val memEdges = gotMem.toSeq
      .flatMap { case (src, ids) => ids.map(src -> _) }.toSet
    assert(gotMem.keySet === fresh.toSet)
    assert(memEdges === replay,
      "stream attach (default provider) diverged from the batch replay")
    assert(memEdges.subsetOf(foldEdges),
      "streamed attach edges not all present in the batch fold")
    val exactBase = fresh.flatMap(v =>
      topOf(v, baseIds, streamK).map(v -> _)).toSet
    assert(memEdges === exactBase,
      "LSH + one-hop candidates missed a true base neighbor")

    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val rocksBase = {
      import rocks.implicits._
      baseDf.as[(Long, Array[Float])](
        org.apache.spark.sql.Encoders.product[(Long, Array[Float])])
        .collect().toSeq.toDF("vec_id", "embedding")
    }
    val gotRocks = runStream(rocks, "skf_rocks", freshRows,
      rocksBase, rocks.read.parquet(store))
    val rocksEdges = gotRocks.toSeq
      .flatMap { case (src, ids) => ids.map(src -> _) }.toSet
    assert(rocksEdges === memEdges,
      "RocksDB-provider attach diverged from the default provider")
  }

  test("a wiring that fails mid-way leaves no cache entry behind") {
    import spark.implicits._
    val base = (0 until 8).map(i => (1000L + i, Array(1f, i.toFloat)))
      .toDF("vec_id", "embedding")
    // stored edges without a `src` column: the wiring persists the base
    // and band frames, then fails resolving the edges
    val noSrc = Seq((1000L, 1001L)).toDF("from", "dst")
    val before = CacheEntries(spark)
    intercept[org.apache.spark.sql.AnalysisException](
      StreamKnnFold.scoredCandidates(base, base, noSrc, d = 2))
    assert(CacheEntries(spark) === before)
  }

  test("two wirings in a row leave one wiring's statics cached") {
    import spark.implicits._
    val base = (0 until 8).map(i => (1000L + i, Array(1f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val stored = Seq((1000L, 1001L)).toDF("src", "dst")
    // the same inputs twice, as when a stopped attach is wired again
    def wire() = StreamKnnFold.scoredCandidates(base, base, stored, d = 2)
    wire()
    val afterFirst = CacheEntries(spark)
    val second = wire()
    assert(CacheEntries(spark) === afterFirst)
    // the live wiring reads its six statics from the cache: the base,
    // the four band tables and the edges
    val cached = second.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }.distinct
    assert(cached.size === 6)
    assert(second.count() > 0)
  }
}
