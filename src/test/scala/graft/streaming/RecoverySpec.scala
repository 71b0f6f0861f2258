package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
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
}
