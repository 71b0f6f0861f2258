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
}
