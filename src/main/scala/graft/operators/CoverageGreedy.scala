package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage selection over a postings table — the
  * submodular exemplar picker behind e122, factored out so the plain
  * recount form and the incremental-gain form can be spec-pinned
  * against each other (identical picks is the correctness contract;
  * the incremental form is the scale path).
  *
  * Both variants take `post`: a (doc_id, h) postings frame with
  * DISTINCT (doc, h) pairs (the caller's shingle sets are
  * deduplicated per document), already lineage-cut AND OWNED by the
  * caller (it is read many times but never released here), and
  * return the pick sequence (round, doc_id, marginal gain) with
  * the plain greedy's exact semantics: each round selects the
  * document covering the most not-yet-covered h values, ties to the
  * smallest doc_id, stopping early when no document adds coverage.
  *
  * == Why the incremental form exists ==
  *
  * The plain greedy pays, per round, a full gain recount over the
  * REMAINING postings plus a corpus-scale anti-join rebuild and
  * lineage-cut of that table — the 100× probe measured e122's 62 s as
  * exactly those k+1 postings passes. CELF's lazy
  * evaluation (Leskovec et al., KDD'07) attacks the recount with
  * stale upper bounds; the batch-exact form of the same idea is an
  * incremental gain table: submodularity means a pick can only
  * DECREASE other documents' gains, and the decrease is exactly
  * |postings(d) ∩ Δ| where Δ is the newly covered h set — so instead
  * of recounting everyone, one broadcast join of the postings
  * against the (bounded, one document's worth) Δ computes every
  * affected document's decrement, and unaffected documents keep
  * their gain with no work at all. Bounds never go stale — the
  * "lazy" bound is exact — so no CELF re-pop loop is needed and the
  * picks are identical to the plain greedy by construction.
  *
  * Per-round cost: two broadcast-side scans of the once-checkpointed
  * postings (winner-shingle fetch + decrement join, both shuffling
  * only Δ-matched rows) and a |docs|-row gain-table rewrite — versus
  * the plain form's full-width gain aggregation plus a full
  * postings-table rewrite. No corpus-scale materialization ever
  * repeats; at 1000 executors the postings stay put and only
  * decrements move.
  */
object CoverageGreedy {

  /** Plain recount greedy — reference semantics (kept for the spec
    * pin and small inputs; e122's registered path is [[incremental]]).
    */
  def plain(post: DataFrame, k: Int): Seq[(Int, Long, Long)] =
    Pins.scope { p =>
      // round 1 reads the CALLER's frame, which release leaves alone
      var rem = post.select(col("doc_id"), col("h"))
      val picks = Seq.newBuilder[(Int, Long, Long)]
      var done = false
      for (r <- 1 to k if !done) {
        val win = rem.groupBy("doc_id")
          .agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc_id"))
          .limit(1).collect() // 1 row/round — driver-bounded
        if (win.isEmpty) done = true
        else {
          val (doc, gain) = (win(0).getLong(0), win(0).getLong(1))
          picks += ((r, doc, gain))
          val covered = rem.filter(col("doc_id") === doc).select(col("h"))
          val next = p.checkpoint(
            rem.join(broadcast(covered), Seq("h"), "left_anti"))
          p.release(rem)
          rem = next
        }
      }
      picks.result()
    }

  /** Incremental-gain greedy (the CELF lever, batch-exact): identical
    * picks to [[plain]], without per-round postings recounts or
    * rebuilds.
    */
  def incremental(post: DataFrame, k: Int): Seq[(Int, Long, Long)] =
    Pins.scope { p =>
      val pp = post.select(col("doc_id"), col("h"))
      // Round 0: the only full-width gain count the algorithm ever runs.
      var gains = p.checkpoint(
        pp.groupBy("doc_id").agg(count(lit(1)).as("gain")))
      // Covered h values, for delta computation only — grows by one
      // document's (uncovered) shingles per round, so it stays
      // broadcast-sized exactly like the plain form's per-round covered
      // set; superseded frames are released as the next lands.
      var covered: DataFrame = null
      val picks = Seq.newBuilder[(Int, Long, Long)]
      var done = false
      for (r <- 1 to k if !done) {
        // A picked document's own gain reaches 0 (its uncovered set IS
        // the delta), so gain > 0 both excludes prior picks and
        // implements the plain form's "stop when nothing remains".
        val win = gains.filter(col("gain") > 0)
          .orderBy(col("gain").desc, col("doc_id"))
          .limit(1).collect() // 1 row/round — driver-bounded
        if (win.isEmpty) done = true
        else {
          val (doc, gain) = (win(0).getLong(0), win(0).getLong(1))
          picks += ((r, doc, gain))
          val winPost = pp.filter(col("doc_id") === doc).select(col("h"))
          // feeds the decrement join AND covered
          val delta = p.checkpoint(if (covered == null) winPost
            else winPost.join(broadcast(covered), Seq("h"), "left_anti"))
          // Exact submodular decrement: only documents sharing an h with
          // the newly covered delta lose gain, by exactly their overlap.
          val dec = pp.join(broadcast(delta), Seq("h"))
            .groupBy("doc_id").agg(count(lit(1)).as("dec"))
          val next = p.checkpoint(gains.join(dec, Seq("doc_id"), "left")
            .select(col("doc_id"),
              (col("gain") - coalesce(col("dec"), lit(0L))).as("gain")))
          p.release(gains)
          gains = next
          if (covered == null) covered = delta
          else {
            val cNext = p.checkpoint(covered.unionByName(delta))
            p.release(covered)
            p.release(delta)
            covered = cNext
          }
        }
      }
      picks.result()
    }
}
