package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.functions.Portable

/** Streaming priority sampling — the one-pass form of e89/e95
  * (Duffield–Lund–Thorup): maintain, per source, a weighted k-sample
  * without replacement over an unbounded stream, with the unbiased
  * max(w, τ) subset-sum estimator. Priority sampling is THE classic
  * streaming weighted sampler precisely because its state is bounded at
  * k+1 entries — the k sampled items plus the threshold entry — no
  * matter how many rows flow past.
  *
  * Priorities use e89's integer rule `w·P·1000 div (draw+1)` with the
  * same seeded draw (a pure function of doc_id), so the streamed sample
  * on any prefix equals the batch e89/e95 sample of the same rows —
  * the spec pins that equality — and re-observing a document replaces
  * its entry idempotently (at-least-once sources converge).
  *
  * State per source: ≤ k+1 (doc_id, weight, priority) triples. The
  * emitted row carries the CURRENT sample, the stratum threshold
  * τ (milli-units, 0 until k+1 items have been seen), and each kept
  * item's estimate — a delivery consumer can act on any update
  * (outputMode=update) or just the final one.
  */
object StreamPrioritySample {

  final case class Doc(source: String, doc_id: Long, weight: Long)

  final case class Sample(
      source: String,
      ids: Seq[Long], weights: Seq[Long], priorities: Seq[Long],
      tauMilli: Long, wEstMilli: Seq[Long])

  /** State row: the k+1 best entries — the k sampled items AND the
    * threshold entry. The threshold element MUST persist: dropping it
    * (state = emitted sample only) silently re-derives τ from the next
    * k+1-th best after any eviction, skewing every estimate downward —
    * caught by the stream-equals-batch spec.
    */
  final case class Held(
      source: String,
      ids: Seq[Long], weights: Seq[Long], priorities: Seq[Long])

  /** Largest weight the priority product can carry without overflow:
    * Long.MaxValue / (P·1000). Documents are character/token-weighted,
    * so ~9.2·10⁶ is orders of magnitude above any real document; the
    * stream DROPS rows outside (0, MaxWeight] before the stateful
    * stage (see [[sample]]) rather than crashing on them.
    */
  val MaxWeight: Long = Long.MaxValue / (Portable.P * 1000L)

  /** e89's priority rule (identical arithmetic, identical seed/tag).
    * multiplyExact, not `*`: callers must respect [[MaxWeight]] — bare
    * JVM `*` would wrap silently, turning the heaviest items into
    * negative priorities that are never sampled (the exact opposite of
    * the DLT rule), where the batch twins fail loud (DuckDB BIGINT,
    * Spark ANSI). Inside the stream the [[sample]] gate makes this
    * unreachable; direct callers get the loud error.
    */
  def priority(seed: Long, docId: Long, weight: Long): Long = {
    val draw = graft.gen.MockData.hashLongJvm(seed, "prio", docId)
    Math.multiplyExact(weight, Portable.P * 1000L) / (draw + 1)
  }

  private def better(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
    a._3 > b._3 || (a._3 == b._3 && a._1 < b._1)

  private def update(k: Int, seed: Long)(
      source: String, rows: Iterator[Doc],
      state: GroupState[Held]): Sample = {
    val prev: Seq[(Long, Long, Long)] = state.getOption
      .map(s => s.ids.lazyZip(s.weights).lazyZip(s.priorities).toSeq)
      .getOrElse(Seq.empty)
    // replace-on-reobserve by doc_id (priority is a pure function of
    // the doc, so a replayed row carries the identical priority and the
    // merge is idempotent), then keep the k+1 best — sample + threshold
    val merged = (prev ++ rows.map(d =>
        (d.doc_id, d.weight, priority(seed, d.doc_id, d.weight))))
      .groupBy(_._1).map { case (_, vs) => vs.head }
      .toSeq
      .sortWith(better)
      .take(k + 1)
    state.update(Held(source,
      merged.map(_._1), merged.map(_._2), merged.map(_._3)))
    val tau = if (merged.size == k + 1) merged.last._3 else 0L
    val kept = merged.take(k)
    Sample(source,
      kept.map(_._1), kept.map(_._2), kept.map(_._3),
      tau, kept.map(e => math.max(e._2 * 1000, tau)))
  }

  /** Per-source streaming weighted k-sample with the DLT estimator. */
  def sample(docs: Dataset[Doc], k: Int, seed: Long = 7L): Dataset[Sample] = {
    require(k > 0, "k must be positive")
    import docs.sparkSession.implicits._
    // Weights outside (0, MaxWeight] are DROPPED before the stateful
    // stage: a malformed record
    // degrades to a lost observation, never a checkpoint-replaying
    // ArithmeticException loop. (Dropping an over-limit row is visible
    // in n_seen vs producer counts; crashing would lose the stream.)
    docs
      .filter((d: Doc) => d.weight > 0 && d.weight <= MaxWeight)
      .groupByKey(_.source)
      .mapGroupsWithState[Held, Sample](
        GroupStateTimeout.NoTimeout)(update(k, seed))
  }
}
