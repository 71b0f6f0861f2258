package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the step that
  * turns near-duplicate PAIRS (from LSH/Jaccard candidate generation)
  * into duplicate CLUSTERS so a dedup stage can keep one canonical
  * document per cluster. Without it, pairwise dedup keeps one doc per
  * EDGE, which over-deletes on transitive chains (a~b, b~c keeps only
  * a when c should survive as a's duplicate too).
  *
  * Algorithm: min-label propagation with pointer jumping (path halving),
  * the DataFrame re-expression of the classic MapReduce CC algorithms
  * (cf. Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14 — same min-propagation fixpoint, here with a label table
  * instead of edge rewriting). Each round:
  *
  *   1. propagate: label(v) <- min(label(v), min over neighbors u of
  *      label(u)) — one keyed join edges->labels + groupBy-min.
  *   2. pointer-jump: label(v) <- label(label(v)) — one self-join of the
  *      label table. This is what makes long chains converge in
  *      O(log diameter) rounds instead of O(diameter): a 1M-doc
  *      boilerplate chain needs ~20 rounds, not 1M.
  *
  * Every round is a fixed number of keyed shuffles of the LABEL table
  * (one row per node incident to an edge — bounded by near-dup doc
  * count, far below corpus size) and the cached symmetric edge list; no
  * driver-side data beyond one convergence scalar per round. Labels only
  * ever decrease, so sum(label) strictly decreases on any change —
  * convergence is detected by comparing that single aggregate, with no
  * label-table self-join. Each round's result is eagerly
  * `localCheckpoint`ed: lineage would otherwise branch twice per round
  * (the propagate and jump joins each read the previous table twice) and
  * recomputation would be exponential in rounds.
  *
  * Determinism: the fixpoint is unique (each node's label = min node id
  * in its component) regardless of round count or partitioning, so the
  * result is engine-portable and oracle-comparable.
  */
object ConnectedComponents {

  /** Release a dead checkpoint's backing RDD. localCheckpoint persists
    * its materialized RDD for the session; without explicit release an
    * iterative loop accumulates one table copy PER ROUND (measured: the
    * e129 peel on the dense-cluster replica holds 8 full-size 49M-row
    * edge checkpoints — an executor-storage OOM, since in that regime
    * nothing peels and nothing shrinks). Safe exactly when nothing will
    * read the frame again: call it only after the NEXT round's frame is
    * eagerly materialized. Shared by every iterative-checkpoint loop
    * (CC, PageRank, the k-core peel, the greedy-coverage rounds).
    */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** @param edges undirected edges; self-loops and NULL endpoints are
    *              ignored (NULL keys never connect anything — equi-join
    *              semantics, as in [[AsofJoin]])
    * @param aCol  first endpoint column (integral)
    * @param bCol  second endpoint column (integral)
    * @param maxRounds safety cap; with pointer jumping this bounds the
    *                  reachable diameter at 2^maxRounds, so the default
    *                  covers any physically possible corpus
    * @return one row per node incident to an edge: (node, comp) where
    *         comp = min node id of the node's connected component
    */
  def components(
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    // Eager checkpoint BEFORE the self-union: `dir` feeds both union
    // branches, and without materialization the caller's (potentially
    // expensive — e32 feeds the whole LSH pair pipeline) edge derivation
    // would execute twice. The edge list itself is small by contract.
    val dir = edges.select(
      col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .localCheckpoint(true)
    val sym = dir.union(dir.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // identity init (label = node), deliberately: folding the first
    // propagation into init (label = min(node, min neighbor)) measured
    // consistently SLOWER end-to-end — the round it saves is repaid
    // with interest by the convergence trajectory it induces.
    // The INITIAL label sum is observed inside the init checkpoint's
    // own materialization (r18 — the same fold r17 applied to the
    // per-round sum): one job instead of two before the loop starts.
    val obs0 = new org.apache.spark.sql.Observation(
      s"cc_init_${java.util.UUID.randomUUID}")
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
      .observe(obs0, coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
      .localCheckpoint(true)
    // NO per-round label broadcast (r18, reverting the r17 hint): the
    // hint rebuilt a BroadcastExchange from each round's FRESH
    // checkpoint — a driver collect + relation build per round — and
    // at local[32] that serial per-round cost measured ~1.5× the
    // shuffle it replaced (e156 14.0 s with the hint off vs 19.7 s on,
    // e156b 17.6 vs 28.0, same box, r18 A/B; every CC-consuming query
    // regressed with it in r17's own bench). At 100 TB the label table
    // blows the broadcast threshold and the hint never fired anyway,
    // so removal is scale-neutral there and strictly wins locally.
    // sum over DECIMAL: a 100 TB corpus can hold >2^31 near-dup nodes
    // with long ids whose label sum overflows BIGINT.
    def asBig(v: Any): java.math.BigDecimal = v match {
      case d: java.math.BigDecimal => d
      case d: scala.math.BigDecimal => d.bigDecimal
      case other => new java.math.BigDecimal(other.toString)
    }
    var rounds = 0
    var converged = false
    def release(df: DataFrame): Unit =
      ConnectedComponents.releaseLocalCheckpoint(df)
    // try/catch/finally so a failed init-sum read, a non-convergence
    // require or a job failure inside the loop doesn't leak the cached
    // edge lists or the last label table for the session's lifetime.
    try {
      var prevSum = asBig(obs0.get("s"))
      while (!converged && rounds < maxRounds) {
        val nbrMin = sym
          .join(labels.select(col("node").as("v"), col("comp").as("nc")),
            "v")
          .groupBy(col("u").as("node")).agg(min(col("nc")).as("nc"))
        val prop = labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
        val jumped = prop
          .join(prop.select(col("node").as("pn"), col("comp").as("pc")),
            col("comp") === col("pn"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("pc"), col("comp"))).as("comp"))
        // Per-round eager localCheckpoint, deliberately: it flattens the
        // LOGICAL plan to a LogicalRDD as well as truncating lineage. The
        // propagate and jump joins each read the previous table twice, so
        // an uncheckpointed chain doubles the analyzed plan every round —
        // measured 2x wall time from optimizer walks alone by round ~4,
        // on top of the exponential-recompute risk.
        // The convergence sum is OBSERVED inside the checkpoint's own
        // materialization (r17): one job per round instead of two.
        val obs = new org.apache.spark.sql.Observation(
          s"cc_sum_${java.util.UUID.randomUUID}")
        val next = jumped
          .observe(obs, coalesce(sum(col("comp").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("s"))
          .localCheckpoint(true)
        // `next` is already materialized here: if the observation read
        // itself fails (listener failure / undelivered metrics), the
        // outer catch only releases `labels` — release the fresh
        // checkpoint too or it leaks for the session (ADVICE r17).
        val newSum =
          try asBig(obs.get("s"))
          catch { case t: Throwable => release(next); throw t }
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
        release(labels) // previous round is dead — next is materialized
        labels = next
        rounds += 1
      }
      require(converged,
        s"connected components did not converge in $maxRounds rounds")
      labels
    } catch {
      case t: Throwable => release(labels); throw t
    } finally {
      sym.unpersist()
      // the returned labels are checkpoint-backed and self-contained;
      // the edge checkpoint is only needed while sym can still be read
      release(dir)
    }
  }
}
