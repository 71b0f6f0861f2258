package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Data-driven build-side selection for joins whose inputs are
  * checkpoint-backed frames — the shuffle-removal lever for the
  * iterative families.
  *
  * A checkpointed frame ([[Pins.checkpoint]], the one way a frame is
  * checkpointed) carries the size estimate of the plan it was
  * checkpointed from, and estimates inflate through joins: a join's
  * size is the product of its sides'. So a loop frame built by joins
  * (NN-Descent's round graph, whose true size is rows × 48 B) reports
  * far more than the session's broadcast threshold, and Catalyst plans
  * every join against it as a sort-merge join; AQE converts to a
  * broadcast join at runtime, but only AFTER paying the map side of
  * the exchange — once per join per round.
  *
  * [[bcastIfSmall]] makes the decision the planner cannot: the caller
  * passes a MEASURED row count (these loops all count their frames
  * anyway) and a schema-derived row width, and the frame is hinted
  * broadcast only when the estimate fits the session's own
  * `spark.sql.autoBroadcastJoinThreshold`. At 100 TB the vector/label
  * tables blow the threshold and the plan is a shuffle join (AQE free
  * to re-plan); at small deltas the loop joins go straight to BHJ with
  * no exchange on either side. Results are unaffected (inner/left
  * equi-joins are strategy-independent).
  */
object Adaptive extends org.apache.spark.internal.Logging {

  /** Session broadcast threshold in bytes; <= 0 disables broadcasting
    * (Spark's own contract for autoBroadcastJoinThreshold).
    */
  private[graft] def broadcastThreshold(df: DataFrame): Long =
    df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** @param df          the candidate build side
    * @param rows        measured (or bounded-above) row count
    * @param bytesPerRow conservative estimated width of one row
    * @return broadcast(df) when rows × bytesPerRow fits the session's
    *         broadcast threshold, else df unchanged
    */
  def bcastIfSmall(df: DataFrame, rows: Long, bytesPerRow: Long): DataFrame =
    if (rows >= 0 && rows * bytesPerRow <= broadcastThreshold(df))
      broadcast(df)
    else df

  /** Run an INDEPENDENT action chain on a driver thread so its jobs
    * overlap the caller's (guide §2.6: Spark schedules concurrent jobs
    * FIFO and back-fills idle executors — an action chain that shares
    * no frame with the caller's in-flight work has no reason to
    * serialize behind it). The returned thunk blocks for the result; a
    * failure in the body is rethrown there. Use ONLY for chains with no
    * data dependency on the caller's in-flight work. Callers: the
    * refresh loop's per-table stage+load ([[graft.pipeline.Ingest]])
    * and mart table writes ([[graft.models.Models.dbtRun]]), CC audit
    * legs in the query families, and, through [[Pins.overlap]],
    * [[NeighborhoodFunction]]'s estimate leg, e173's scratch leg and the
    * NN-Descent anchor-truth leg.
    *
    * The body runs on a DEDICATED per-call daemon thread, not a pool:
    * a pooled thread keeps the Spark local properties (job group, job
    * tags, execution id) that were live when the pool created it, a
    * stale snapshot that mislabels the body's jobs and hides them from
    * the caller's `cancelJobGroup`. A fresh thread inherits the
    * caller's CURRENT properties. They are deliberately not cleared:
    * clearing the execution id measured e147 at 12.9 s vs 9.1 s, every
    * overlapped action paying its own SQL-execution bookkeeping.
    * The caller's active session is re-bound explicitly, and a body
    * failure is logged immediately from the thread, so it is visible
    * even on a caller path that dies before invoking the thunk. Any
    * throwable, fatal ones included, completes the result, so the
    * thunk rethrows it instead of waiting forever; a fatal error is
    * also rethrown on the overlap thread.
    */
  def overlap[T](body: => T): () => T = {
    import scala.concurrent.{Await, Promise}
    import scala.util.{Failure, Success, Try}
    import scala.util.control.NonFatal
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    // The promise carries the Try itself: a Failure completing the
    // promise directly would box a fatal error, and Try(body) would
    // not catch one at all, leaving the caller waiting forever.
    val p = Promise[Try[T]]()
    val t = new Thread(() => {
      active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      try p.success(Success(body))
      catch {
        case e: Throwable =>
          logWarning(s"graft.Adaptive.overlap body failed: $e")
          p.success(Failure(e))
          if (!NonFatal(e)) throw e
      }
    }, s"graft-overlap-${java.util.UUID.randomUUID.toString.take(8)}")
    t.setDaemon(true)
    t.start()
    () => Await.result(p.future, scala.concurrent.duration.Duration.Inf).get
  }
}
