package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpecBase
import graft.streaming.TopKState.Scored

/** Checkpoint RECOVERY pins for the RocksDB-backed stateful twins.
  * Every per-operator spec (and RocksDBStateSpec) runs a single query
  * lifetime; at 100 TB the interesting failure is the restart — an
  * executor loss or deploy rolls the query, and correctness then
  * depends on keyed state actually surviving the checkpoint
  * round-trip, not just on the update function. Each case here STOPS
  * a RocksDB-backed query mid-stream, feeds more data while it is
  * down, restarts from the same checkpoint (a foreachBatch sink
  * collecting into a cleared buffer — the memory sink refuses
  * checkpoint recovery, and foreachBatch is what production update-
  * mode queries use), and asserts the post-restart output equals the
  * batch twin over the FULL input — which can only hold if
  * pre-restart state was recovered, since the post-restart buffer
  * never sees the first batches again.
  */
class RecoverySpec extends SparkSpecBase {

  private def rocksSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    s
  }

  private def assertRocksEngaged(q: StreamingQuery): Unit = {
    val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "no state operator in progress")
    val keys = ops.flatMap(_.customMetrics.keySet()
      .toArray(Array.empty[String]))
    assert(keys.exists(_.toLowerCase.contains("rocksdb")),
      s"state operator custom metrics carry no rocksdb keys: $keys")
  }

  test("TopKState leaderboard survives a stop/restart from checkpoint") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ckpt = Files.createTempDirectory("graft-rec-topk").toString
    val ms = MemoryStream[Scored]
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recovery-capable sink for update-mode output (same as production)
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[TopKState.Leaderboard]
    def start() = TopKState.topK(ms.toDS(), k = 2)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          TopKState.Leaderboard], _: Long) =>
        emitted.synchronized { emitted ++= df.collect() }; ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try {
      ms.addData(Scored("a", 1L, 10L), Scored("a", 2L, 20L))
      q1.processAllAvailable()
      assert(emitted.synchronized(emitted.last.ids) === Seq(2L, 1L))
    } finally q1.stop() // the "kill": leaderboard {2:20, 1:10} only in state
    emitted.synchronized(emitted.clear()) // post-restart emissions only
    // arrives while the query is down; must be delivered after restart
    ms.addData(Scored("a", 3L, 15L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = emitted.synchronized(emitted.toSeq).filter(_.key == "a")
      assert(rows.nonEmpty, "no post-restart emission")
      // 15 beats the recovered 10 but not the recovered 20: the only
      // way to emit (2, 3) is state that crossed the restart
      assert(rows.last.ids === Seq(2L, 3L))
      assert(rows.last.scores === Seq(20L, 15L))
      assertRocksEngaged(q2)
    } finally q2.stop()
  }

  test("StreamRollingDistinct registers survive a stop/restart " +
    "from checkpoint") {
    // The newest custom-aggregate-inside-window-state path (HllAgg's
    // serialized registers under RocksDB) is the most likely
    // checkpoint-format casualty (VERDICT r10 item 7): the register
    // BLOB must round-trip the state store across a restart, not just
    // within one query lifetime.
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(h: Long) = new Timestamp(h * 3600 * 1000L)
    val ckpt = Files.createTempDirectory("graft-rec-srd").toString
    val ms = MemoryStream[(java.lang.Long, Timestamp)]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)] // (win_start ms, est_users, v_zero)
    def start() = StreamRollingDistinct
      .estimates(ms.toDF().toDF("user_id", "ts"),
        watermark = "0 seconds", length = "2 hours", slide = "1 hour")
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.synchronized {
          emitted ++= df.collect().map(r =>
            (r.getTimestamp(0).getTime, r.getLong(2), r.getLong(3)))
        }; ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try {
      // hour 0: users 1-40 — registers live only in window state
      ms.addData((1L to 40L).map(u => (Long.box(u), ts(0))): _*)
      q1.processAllAvailable()
      assert(emitted.synchronized(emitted.isEmpty)) // windows still open
    } finally q1.stop()
    // while down: users 21-60 at hour 1 extend the SAME [0,2) window
    ms.addData((21L to 60L).map(u => (Long.box(u), ts(1))): _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      ms.addData((Long.box(999L), ts(100))) // advance watermark: close all
      q2.processAllAvailable()
      val got = emitted.synchronized(emitted.toSeq)
        .map { case (st, est, vz) => st -> (est, vz) }.toMap
      // batch truth over users 1-60 for window [0,2): reachable only if
      // the pre-restart registers (users 1-40) were recovered — a fresh
      // fold over the post-restart rows alone would sketch 21-60
      val batch = (1L to 60L).toDF("user_id")
        .agg(graft.functions.sketches.hll_sketch(col("user_id"))
          .as("regs"))
        .selectExpr("aggregate(transform(regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x) AS s2",
          "CAST(size(filter(regs, r -> r = 0)) AS BIGINT) AS v_zero")
        .selectExpr(s"${709L * (1L << 37)} div (1000 * s2) AS est",
          "v_zero")
        .head()
      assert(got(ts(0).getTime) === ((batch.getLong(0), batch.getLong(1))))
      assertRocksEngaged(q2)
    } finally q2.stop()
  }

  test("StreamCusum prefix survives a stop/restart from checkpoint") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ckpt = Files.createTempDirectory("graft-rec-cusum").toString
    val ms = MemoryStream[StreamCusum.DayCount]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[StreamCusum.Alarm]
    def start() =
      StreamCusum.monitor(ms.toDS(), refNum = 10L, refDen = 1L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            StreamCusum.Alarm], _: Long) =>
          emitted.synchronized { emitted ++= df.collect() }; ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
    val q1 = start()
    try {
      // days 1-3 at +3 over reference: prefix 9, S = 9, not yet alarmed
      ms.addData((1 to 3).map(d =>
        StreamCusum.DayCount("k", d.toLong, 13L)): _*)
      q1.processAllAvailable()
      val pre = emitted.synchronized(emitted.last)
      assert(pre.s_max === 9L && !pre.alarmed)
    } finally q1.stop() // the "kill": prefix 9 lives only in state
    emitted.synchronized(emitted.clear())
    // day 4 arrives while the query is down, day 5 after restart
    ms.addData(StreamCusum.DayCount("k", 4L, 13L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      ms.addData(StreamCusum.DayCount("k", 5L, 1L))
      q2.processAllAvailable()
      val rows = emitted.synchronized(emitted.toSeq).filter(_.key == "k")
      assert(rows.nonEmpty, "no post-restart emission")
      // S = 12 on day 4 (and the alarm) is only reachable if the
      // pre-restart prefix of 9 was recovered — a fresh fold over day 4
      // alone would sit at S = 3; day 5's -9 then drains S to 3 while
      // the recorded max stays put
      val last = rows.last
      assert(last.n_days === 5L && last.s_cur === 3L)
      assert(last.s_max === 12L && last.alarm_day === 4L && last.alarmed)
      assertRocksEngaged(q2)
    } finally q2.stop()
  }
}
