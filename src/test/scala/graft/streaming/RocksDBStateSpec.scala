package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpecBase
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
}
