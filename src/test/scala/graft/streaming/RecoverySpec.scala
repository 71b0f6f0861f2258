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

  test("StreamCms counters survive a stop/restart from checkpoint") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val p = graft.functions.Portable.P
    def h(v: Long): Long = (v * 2654435761L) % p
    val depth = 4
    val width = 32
    val pop = (1L to 30L).flatMap(g => Seq.fill(31 - g.toInt)(h(g)))
    val probes = Seq(h(1L), h(30L))
    val ckpt = Files.createTempDirectory("graft-rec-cms").toString
    val ms = MemoryStream[StreamCms.Obs]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[StreamCms.Freq]
    def start() =
      StreamCms.monitor(ms.toDS(), depth, width, probes)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            StreamCms.Freq], _: Long) =>
          emitted.synchronized { emitted ++= df.collect() }; ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
    val (b1, b2) = pop.splitAt(pop.size / 2)
    val q1 = start()
    try {
      ms.addData(b1.map(StreamCms.Obs("a", _)): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    emitted.synchronized(emitted.clear()) // post-restart emissions only
    ms.addData(b2.map(StreamCms.Obs("a", _)): _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val last =
        emitted.synchronized(emitted.toSeq).filter(_.key == "a").last
      // n_seen counts BOTH halves though the sink only saw the second
      assert(last.n_seen === pop.size.toLong)
      // and the counters equal the batch sketch over the full stream
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
      assertRocksEngaged(q2)
    } finally q2.stop()
  }

  test("Sessionize open sessions survive a stop/restart from checkpoint") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)
    val ckpt = Files.createTempDirectory("graft-rec-sess").toString
    val ms = MemoryStream[Sessionize.Event]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[Sessionize.Session]
    def start() =
      Sessionize.sessions(ms.toDF(), watermark = "0 seconds",
          gapSec = 60L)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            Sessionize.Session], _: Long) =>
          emitted.synchronized { emitted ++= df.collect() }; ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
    val q1 = start()
    try {
      // open a session: 2 events 10 s apart, nothing closes yet
      ms.addData(Sessionize.Event(7L, 1L, ts(100)),
        Sessionize.Event(7L, 2L, ts(110)))
      q1.processAllAvailable()
      assert(emitted.synchronized(emitted.isEmpty)) // still open — state only
    } finally q1.stop()
    // while down: one more event inside the gap, then one far past it
    // (advances the watermark beyond last-seen + gap → timeout fires)
    ms.addData(Sessionize.Event(7L, 3L, ts(130)))
    ms.addData(Sessionize.Event(7L, 4L, ts(1000)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = emitted.synchronized(emitted.toSeq).filter(_.user_id == 7L)
      // the closed session spans ALL THREE pre-gap events — events 1
      // and 2 lived only in the recovered state
      assert(got.map(g => (g.n_events, g.duration_sec,
        g.session_start.getTime / 1000L)).contains((3L, 30L, 100L)),
        s"got: ${got.toSeq}")
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

  test("StreamSpaceSaving counters survive a stop/restart from checkpoint") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val ckpt = Files.createTempDirectory("graft-rec-ss").toString
    val ms = MemoryStream[StreamSpaceSaving.Obs]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[StreamSpaceSaving.Summary]
    def start() = StreamSpaceSaving.monitor(ms.toDS(), k = 4)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          StreamSpaceSaving.Summary], _: Long) =>
        emitted.synchronized { emitted ++= df.collect() }; ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try {
      ms.addData(Seq.fill(30)(StreamSpaceSaving.Obs("k", 1L)): _*)
      q1.processAllAvailable()
      assert(emitted.synchronized(emitted.last.n_seen) === 30L)
    } finally q1.stop() // the "kill": {1 -> 30} lives only in state
    emitted.synchronized(emitted.clear())
    // arrives while the query is down
    ms.addData(Seq.fill(5)(StreamSpaceSaving.Obs("k", 2L)) :+
      StreamSpaceSaving.Obs("k", 3L): _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = emitted.synchronized(emitted.toSeq).filter(_.key == "k")
      assert(rows.nonEmpty, "no post-restart emission")
      val last = rows.last
      // conservation over the FULL stream (30 + 6) only holds if the
      // pre-restart counters were recovered — a fresh table reads 6
      assert(last.n_seen === 36L && last.counts.sum === 36L)
      // item 1 was slot-resident throughout: exact count, zero err
      val i1 = last.items.indexOf(1L)
      assert(i1 >= 0 && last.counts(i1) === 30L && last.errs(i1) === 0L)
      assertRocksEngaged(q2)
    } finally q2.stop()
  }

  test("StreamFingerprint vote histograms survive a stop/restart from " +
    "checkpoint") {
    val s = rocksSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val ckpt = Files.createTempDirectory("graft-rec-fp").toString
    val idx = Seq((5L, 10L, 77L), (5L, 14L, 88L), (7L, 3L, 77L))
      .toDF("cand", "t1d", "h")
    val ms = MemoryStream[(Long, Long, Long, Timestamp)]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[StreamFingerprint.FpMatch]
    def start() = StreamFingerprint
      .matches(ms.toDF().toDF("clip_id", "t1c", "h", "ts"), idx,
        watermark = "1 minute", quietSec = 120L)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          StreamFingerprint.FpMatch], _: Long) =>
        emitted.synchronized { emitted ++= df.collect() }; ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try {
      // first half of clip 1: one vote for doc 5 (delta 8) and one for
      // doc 7 (delta 1) — no verdict yet, state only
      ms.addData((1L, 2L, 77L, ts(0)))
      q1.processAllAvailable()
      assert(emitted.synchronized(emitted.isEmpty))
    } finally q1.stop()
    // while down: the clip's second pair (breaks the 1-1 tie toward
    // doc 5 — only possible if the first pair's votes were recovered),
    // then watermark pushers to fire the timeout
    ms.addData((1L, 6L, 88L, ts(1)))
    ms.addData((8L, 0L, 1L, ts(30)))
    ms.addData((8L, 1L, 1L, ts(45)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = emitted.synchronized(emitted.toSeq)
        .filter(_.clip_id == 1L)
      // margin 1 (doc 5's 2 votes vs doc 7's 1) -> a confident 'match'
      assert(got === Seq(
        StreamFingerprint.FpMatch(1L, 5L, 8L, 2L, 1L, "match")),
        s"got: $got")
      assertRocksEngaged(q2)
    } finally q2.stop()
  }
}
