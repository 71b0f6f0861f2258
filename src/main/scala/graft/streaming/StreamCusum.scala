package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming CUSUM monitor — the stateful twin of e143's batch
  * changepoint screen, in the KNOWN-RATE form e143's scaladoc names:
  * batch CUSUM references the period's own mean (unknowable online), so
  * the stream takes the reference rate as an exact rational
  * `refNum / refDen` events per day and runs the textbook recursion
  * S_t = max(0, S_{t−1} + (refDen·x_t − refNum)) in those scaled
  * integer units. Feeding the stream a finished period with
  * refNum = total, refDen = n_days reproduces e143's statistic
  * exactly — the equivalence StreamCusumSpec pins.
  *
  * State is O(1) per key and stream-length independent: the running
  * prefix P, its running min (with P_0 = 0), the best (max) statistic
  * with its day (strict improvement ⇒ earliest-day tie-break, e143's
  * rule), the last processed day, and the day count. The recursion is
  * order-sensitive, so each micro-batch's rows are folded in day order
  * and days ≤ the last processed day are DROPPED — a late or replayed
  * day must degrade to a lost observation, never rewind the prefix into
  * a poisoned checkpoint (upstream
  * watermarking owns day completeness, exactly as the batch twin owns
  * it by scanning finished days).
  *
  * Alarm: S_max > refNum·`alarmDays` — the cumulative excess exceeds
  * `alarmDays` full reference days, e143's `excess_bp > 10000` bar
  * generalized (e143 is `alarmDays = 1`; both sides stay integer, no
  * division).
  */
object StreamCusum {

  /** One finalized day's count for `key` (day = any monotone integer
    * day index, e.g. epoch days). */
  final case class DayCount(key: String, day: Long, x: Long)

  /** Monitor output for one touched key: days folded, current and max
    * CUSUM statistic (scaled units of refDen·events), the day the max
    * was first attained, and the alarm flag. */
  final case class Alarm(key: String, n_days: Long, s_cur: Long,
      s_max: Long, alarm_day: Long, alarmed: Boolean)

  /** State row: last folded day, prefix P, min(P_0..P_t), best S with
    * its day, days folded. */
  final case class St(lastDay: Long, p: Long, minP: Long, best: Long,
      bestDay: Long, n: Long)

  private def update(refNum: Long, refDen: Long, alarmDays: Long)(
      key: String, rows: Iterator[DayCount],
      state: GroupState[St]): Alarm = {
    var st = state.getOption.getOrElse(
      St(Long.MinValue, 0L, 0L, 0L, Long.MinValue, 0L))
    rows.toSeq.sortBy(_.day).foreach { r =>
      if (r.day > st.lastDay) {
        val p = st.p + (refDen * r.x - refNum)
        val minP = math.min(st.minP, p)
        val s = p - minP
        // strict improvement = earliest-day tie-break; the first folded
        // day seeds bestDay so an all-at-reference stream reports the
        // earliest day at S = 0, matching e143's rn ordering
        val (best, bestDay) =
          if (s > st.best || st.n == 0L) (s, r.day)
          else (st.best, st.bestDay)
        st = St(r.day, p, minP, best, bestDay, st.n + 1)
      } // stale/replayed day: lost observation, prefix never rewinds
    }
    state.update(st)
    Alarm(key, st.n, st.p - st.minP, st.best, st.bestDay,
      st.best > refNum * alarmDays)
  }

  /** Per-key CUSUM over a stream of finalized daily counts; emits one
    * updated [[Alarm]] per touched key per micro-batch. Negative
    * counts are dropped before the stateful stage (a count is a
    * cardinality; malformed rows degrade to lost observations).
    */
  def monitor(obs: Dataset[DayCount], refNum: Long, refDen: Long,
      alarmDays: Long = 1L): Dataset[Alarm] = {
    require(refNum > 0 && refDen > 0 && alarmDays > 0,
      s"reference rate and alarm bar must be positive: " +
        s"$refNum/$refDen, $alarmDays")
    import obs.sparkSession.implicits._
    obs
      .filter((o: DayCount) => o.x >= 0)
      .groupByKey(_.key)
      .mapGroupsWithState[St, Alarm](
        GroupStateTimeout.NoTimeout)(update(refNum, refDen, alarmDays))
  }
}
