package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpecBase
import graft.streaming.CustomerState.OrderEvent
import graft.streaming.TopKState.Scored

/** The stateful streaming twins under the RocksDB state store provider —
  * the 100 TB configuration: the default in-memory (HDFS-backed) provider
  * holds every key's state on the executor heap, so keyed state that
  * grows with the user population eventually evicts the job; RocksDB
  * spills to local disk and bounds heap by its block cache instead. The
  * operators must be provider-agnostic (they only use the GroupState
  * API), and these cases pin that: same results as the in-memory runs in
  * the per-operator specs, with the provider's engagement asserted from
  * the query progress metrics (not assumed from the conf).
  *
  * Each test runs on its OWN `newSession()` so the provider conf cannot
  * leak into concurrently-running suites that exercise the default
  * provider.
  */
class RocksDBStateSpec extends SparkSpecBase {

  private def rocksSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    s
  }

  /** The engagement proof: RocksDB-specific custom metrics appear on the
    * state operator's progress only when that provider actually loaded.
    */
  private def assertRocksEngaged(q: StreamingQuery): Unit = {
    val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "no state operator in progress")
    val keys = ops.flatMap(_.customMetrics.keySet()
      .toArray(Array.empty[String]))
    assert(keys.exists(_.toLowerCase.contains("rocksdb")),
      s"state operator custom metrics carry no rocksdb keys: $keys")
  }

  test("CustomerState accumulates across batches on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[OrderEvent]
    val q = CustomerState.runningStats(ms.toDS())
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_cust").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(OrderEvent("c1", "o1", 10.0), OrderEvent("c2", "o2", 7.0))
      q.processAllAvailable()
      ms.addData(OrderEvent("c1", "o3", 5.0))
      q.processAllAvailable()
      val got = s.table("rocks_cust")
        .groupBy("customer_id")
        .agg(max("n_orders").as("n"), max("total_amount").as("t"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(got("c1") === ((2L, 15.0)) && got("c2") === ((1L, 7.0)))
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("TopKState leaderboard converges identically on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[Scored]
    val q = TopKState.topK(ms.toDS(), k = 2)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_topk").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(Scored("a", 1L, 10L), Scored("a", 2L, 20L),
        Scored("a", 3L, 5L))
      q.processAllAvailable()
      // replay id 2 with a lower score (idempotence) + a new leader
      ms.addData(Scored("a", 2L, 15L), Scored("a", 4L, 30L))
      q.processAllAvailable()
      val last = s.table("rocks_topk")
        .orderBy(col("ids").desc) // latest emission has the newest leader
        .collect().head
      assert(last.getSeq[Long](1) === Seq(4L, 2L))
      assert(last.getSeq[Long](2) === Seq(30L, 20L))
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamPrioritySample holds k+1 state and matches batch on RocksDB") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val k = 2
    val docs = (0L until 12L).map(i =>
      StreamPrioritySample.Doc("src", i, 100 + i))
    val ms = MemoryStream[StreamPrioritySample.Doc]
    val q = StreamPrioritySample.sample(ms.toDS(), k)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_prio").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(docs.take(7): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(7): _*)
      q.processAllAvailable()
      val scored = docs.map(d => (d.doc_id, d.weight,
          StreamPrioritySample.priority(7L, d.doc_id, d.weight)))
        .sortBy(t => (-t._3, t._1))
      val rows = s.table("rocks_prio")
        .as[StreamPrioritySample.Sample].collect()
      val last = rows.last
      assert(last.ids === scored.take(k).map(_._1))
      assert(last.tauMilli === scored(k)._3)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("CardinalityState KMV estimates converge identically on RocksDB " +
    "state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val p = graft.functions.Portable.P
    def h(v: Long): Long = (v * 2654435761L) % p
    val ms = MemoryStream[CardinalityState.Obs]
    val q = CardinalityState.distinctEstimate(ms.toDS(), k = 16)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_card").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData((1L to 200L).map(v => CardinalityState.Obs("a", h(v))): _*)
      q.processAllAvailable()
      // replay batch 1 in full, grow by 201..300
      ms.addData((1L to 300L).map(v => CardinalityState.Obs("a", h(v))): _*)
      q.processAllAvailable()
      val last = s.table("rocks_card")
        .as[CardinalityState.Card].collect().filter(_.key == "a").last
      // same summary as the in-memory-provider spec's invariant: the
      // state equals the batch aggregate over the union of observations
      val batchSk = (1L to 300L).map(h).toDF("h")
        .agg(graft.functions.sketches.kmv_sketch(col("h"), 16))
        .head().getSeq[Long](0)
      assert(last.sketch_size === 16)
      assert(last.estimate === 15L * p / batchSk.last)
      assert(last.n_seen === 500L)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamCms counters accumulate identically on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val p = graft.functions.Portable.P
    def h(v: Long): Long = (v * 2654435761L) % p
    val depth = 4
    val width = 32
    val pop = (1L to 30L).flatMap(g => Seq.fill(31 - g.toInt)(h(g)))
    val probes = Seq(h(1L), h(30L))
    val ms = MemoryStream[StreamCms.Obs]
    val q = StreamCms.monitor(ms.toDS(), depth, width, probes)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_cms").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      val (b1, b2) = pop.splitAt(pop.size / 2)
      ms.addData(b1.map(StreamCms.Obs("a", _)): _*)
      q.processAllAvailable()
      ms.addData(b2.map(StreamCms.Obs("a", _)): _*)
      q.processAllAvailable()
      val last = s.table("rocks_cms")
        .as[StreamCms.Freq].collect().filter(_.key == "a").last
      assert(last.n_seen === pop.size.toLong)
      // stream state == batch aggregate (linear counters), probed the
      // same way the e100 query probes
      val counters = pop.toDF("h")
        .agg(graft.functions.sketches.cms_sketch(col("h"), depth, width))
        .head().getSeq[Long](0).toArray
      val batchEst = probes.map { pr =>
        (0 until depth).map { i =>
          val key = Math.floorMod(pr, p)
          val pos = ((graft.functions.Portable.CmsA(i) * key +
            graft.functions.Portable.CmsB(i)) % p % width).toInt
          counters(i * width + pos)
        }.min
      }
      assert(last.estimates === batchEst)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamSpaceSaving keeps its guarantees on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val k = 4
    val pop = (1L to 20L).flatMap(g => Seq.fill((40 / g).toInt max 1)(g))
    val exact = pop.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = pop.size.toLong
    val ms = MemoryStream[StreamSpaceSaving.Obs]
    val q = StreamSpaceSaving.monitor(ms.toDS(), k)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_ss").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      val (b1, b2) = pop.splitAt(pop.size / 2)
      ms.addData(b1.map(StreamSpaceSaving.Obs("a", _)): _*)
      q.processAllAvailable()
      ms.addData(b2.map(StreamSpaceSaving.Obs("a", _)): _*)
      q.processAllAvailable()
      val last = s.table("rocks_ss")
        .as[StreamSpaceSaving.Summary].collect()
        .filter(_.key == "a").maxBy(_.n_seen)
      assert(last.n_seen === n)
      assert(last.items.size <= k)
      assert(last.counts.sum === n) // conservation across RocksDB state
      last.items.indices.foreach { i =>
        val t = exact.getOrElse(last.items(i), 0L)
        assert(t <= last.counts(i) && last.counts(i) - last.errs(i) <= t)
      }
      val tracked = last.items.toSet
      exact.collect { case (it, c) if c > n / k => it }
        .foreach(it => assert(tracked(it)))
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamSessionOverlap emits the same final overlaps on RocksDB " +
    "state (the composed Sessionize state rides the provider)") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    def us(h: Int, m: Int): Long = ts(h, m).getTime * 1000L
    val incidents = Seq((100L, us(10, 2), us(10, 4)))
      .toDF("incident_id", "i_st", "i_en")
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = StreamSessionOverlap.overlaps(
      ms.toDF().toDF("user_id", "event_id", "ts"), incidents,
      watermark = "5 minutes", gapSec = 1800L, cell = 300000000L)
      .writeStream
      .format("memory").queryName("rocks_sov").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // session [10:00, 10:10] closed by the 11:00 event's gap
      ms.addData(Seq((1L, 1L, ts(10, 0)), (1L, 2L, ts(10, 10)),
        (1L, 3L, ts(11, 0))))
      q.processAllAvailable()
      val got = s.table("rocks_sov")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === Seq(
        (100L, 1L, us(10, 0), us(10, 10), 120000000L)))
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamDedup drops within-horizon replays on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = StreamDedup.firstArrivalByContent(
      ms.toDF().toDF("doc_id", "event_ts", "text"),
      "event_ts", "30 minutes")
      .writeStream
      .format("memory").queryName("rocks_dedup").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData((1L, ts(0), "alpha"), (2L, ts(1), "beta"),
        (3L, ts(2), "alpha"))
      q.processAllAvailable()
      ms.addData((4L, ts(5), "alpha"), (5L, ts(6), "gamma"))
      q.processAllAvailable()
      val kept = s.table("rocks_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 5L))
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamJoin interval attribution matches on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp, Double)]
    val q = StreamJoin.attributed(
      views.toDF().toDF("event_id", "user_id", "ts"),
      buys.toDF().toDF("event_id", "user_id", "ts", "value"),
      windowMinutes = 15)
      .writeStream
      .format("memory").queryName("rocks_sjoin").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      views.addData((1L, 7L, ts(0)), (2L, 8L, ts(1)))
      buys.addData((10L, 7L, ts(5), 9.0), // within window: matches view 1
        (11L, 8L, ts(50), 5.0)) //          outside 15 min: no match
      q.processAllAvailable()
      val got = s.table("rocks_sjoin")
        .select("view_id", "buy_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 10L)))
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("Sessionize gap-splits and timeout-flushes on RocksDB state") {
    def ts(h: Int, m: Int) =
      Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val q = Sessionize.sessions(
      ms.toDF().toDF("user_id", "event_id", "ts"), "5 minutes")
      .writeStream
      .format("memory").queryName("rocks_sess").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // user 1: two sessions split by a >30 min gap inside one batch
      ms.addData(Seq((1L, 1L, ts(10, 0)), (1L, 2L, ts(10, 10)),
        (1L, 3L, ts(11, 0))): _*)
      q.processAllAvailable()
      // far-future event drives the watermark past everything open
      ms.addData((9L, 4L, ts(20, 0)))
      q.processAllAvailable()
      ms.addData((9L, 5L, ts(23, 0)))
      q.processAllAvailable()
      val got = s.table("rocks_sess").as[Sessionize.Session].collect()
        .map(x => (x.user_id, x.session_start) -> x.n_events).toMap
      assert(got((1L, ts(10, 0))) === 2L)
      assert(got((1L, ts(11, 0))) === 1L)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamShardAssign cursor persists across batches on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[StreamShardAssign.Doc]
    val q = StreamShardAssign.assign(ms.toDS(), budget = 100L)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_shard").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(StreamShardAssign.Doc("s1", 1L, 80L))
      q.processAllAvailable()
      ms.addData(StreamShardAssign.Doc("s1", 2L, 30L),
        StreamShardAssign.Doc("s1", 1L, 80L)) // replay → quarantine
      q.processAllAvailable()
      val got = s.table("rocks_shard")
        .as[StreamShardAssign.Assigned].collect()
      // batch-2 doc continues from the batch-1 cursor (cum 80 → shard 0)
      val d2 = got.find(_.doc_id == 2L).get
      assert(d2.shard_id === 0L && d2.cum_before === 80L)
      assert(got.count(_.shard_id == -1L) === 1)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamPackContexts cursor persists across batches on RocksDB " +
    "state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[StreamPackContexts.Doc]
    val q = StreamPackContexts.pack(ms.toDS(), ctxLen = 100L)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_pack").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(StreamPackContexts.Doc("s1", 1L, 80L))
      q.processAllAvailable()
      ms.addData(StreamPackContexts.Doc("s1", 2L, 30L),
        StreamPackContexts.Doc("s1", 1L, 80L)) // replay → quarantine
      q.processAllAvailable()
      val got = s.table("rocks_pack")
        .as[StreamPackContexts.Packed].collect()
      // batch-2 doc continues from the batch-1 cursor: starts at token
      // 80 inside ctx 0, runs into ctx 1, sealing ctx 0
      val d2 = got.find(_.doc_id == 2L).get
      assert(d2.ctx_first === 0L && d2.ctx_last === 1L &&
        d2.off_in_ctx === 80L && d2.n_sealed === 1L)
      assert(got.count(_.ctx_first == -1L) === 1)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamCusum prefix state accumulates identically on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ms = MemoryStream[StreamCusum.DayCount]
    val q = StreamCusum.monitor(ms.toDS(), refNum = 10L, refDen = 1L)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_cusum").outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData((1 to 3).map(d =>
        StreamCusum.DayCount("k", d.toLong, 13L)): _*)
      q.processAllAvailable()
      ms.addData((4 to 6).map(d =>
        StreamCusum.DayCount("k", d.toLong, 13L)): _*)
      q.processAllAvailable()
      val k = s.table("rocks_cusum")
        .as[StreamCusum.Alarm].collect().maxBy(_.n_days)
      // 6 days at +3 over reference: S_max = 18 on day 6, alarmed —
      // identical to the in-memory-provider run in StreamCusumSpec
      assert(k.n_days === 6L && k.s_max === 18L)
      assert(k.alarm_day === 6L && k.alarmed)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamRollingDistinct windowed registers identical on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(h: Long) = new java.sql.Timestamp(h * 3600 * 1000L)
    val ms = MemoryStream[(java.lang.Long, java.sql.Timestamp)]
    val q = StreamRollingDistinct
      .estimates(ms.toDF().toDF("user_id", "ts"),
        watermark = "0 seconds", length = "2 hours", slide = "1 hour")
      .writeStream
      .format("memory").queryName("rocks_srd").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      val evs = (1L to 50L).map(u => (Long.box(u), ts(0)))
      ms.addData(evs: _*)
      q.processAllAvailable()
      ms.addData(evs: _*) // wholesale replay: registers must not move
      q.processAllAvailable()
      ms.addData((Long.box(999L), ts(100))) // close the early windows
      q.processAllAvailable()
      val got = s.table("rocks_srd")
        .select(col("win_start"), col("est_users"))
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1))
        .toMap
      // same value the in-memory provider computes in
      // StreamRollingDistinctSpec's machinery: batch truth on the
      // distinct set
      val batch = evs.toDF("user_id", "ts")
        .agg(graft.functions.sketches.hll_sketch(col("user_id"))
          .as("regs"))
        .selectExpr("aggregate(transform(regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x) AS s2")
        .selectExpr(s"${709L * (1L << 37)} div (1000 * s2) AS est")
        .head().getLong(0)
      assert(got(ts(0).getTime) === batch)
      assertRocksEngaged(q)
    } finally q.stop()
  }

  test("StreamFingerprint folds a cross-batch clip and emits its final " +
    "verdict on RocksDB state") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val idx = Seq((5L, 10L, 77L), (5L, 14L, 88L), (7L, 3L, 77L))
      .toDF("cand", "t1d", "h")
    val ms = MemoryStream[(Long, Long, Long, java.sql.Timestamp)]
    val q = StreamFingerprint
      .matches(ms.toDF().toDF("clip_id", "t1c", "h", "ts"), idx,
        watermark = "1 minute", quietSec = 120L)
      .toDF()
      .writeStream
      .format("memory").queryName("rocks_fp").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData((1L, 2L, 77L, ts(0)))
      q.processAllAvailable()
      ms.addData((1L, 6L, 88L, ts(1))) // second half of the same clip
      q.processAllAvailable()
      ms.addData((8L, 0L, 1L, ts(30)))
      q.processAllAvailable()
      ms.addData((8L, 1L, 1L, ts(45)))
      q.processAllAvailable()
      val got = s.table("rocks_fp")
        .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
      // same as the in-memory spec: doc 5's 2 aligned votes beat doc
      // 7's 1 -> margin 1, a confident 'match'
      assert(got === Seq((1L, 5L, 8L, 2L, 1L, "match")))
      assertRocksEngaged(q)
    } finally q.stop()
  }
}
