package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * label-table self-join. Each round's result is eagerly checkpointed
  * in a [[Pins]] scope and the previous round released: lineage would
  * otherwise branch twice per round (the propagate and jump joins each
  * read the previous table twice) and recomputation would be
  * exponential in rounds.
  *
  * Determinism: the fixpoint is unique (each node's label = min node id
  * in its component) regardless of round count or partitioning, so the
  * result is engine-portable and oracle-comparable.
  */
object ConnectedComponents {

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
      maxRounds: Int = 50): DataFrame = Pins.scope { p =>
    val sym = p.persist(Pins.undirected(p, edges, aCol, bCol))

    // identity init (label = node), deliberately: folding the first
    // propagation into init (label = min(node, min neighbor)) measured
    // consistently SLOWER end-to-end — the round it saves is repaid
    // with interest by the convergence trajectory it induces.
    // The INITIAL label sum is observed inside the init checkpoint's
    // own materialization: one job instead of two before the loop.
    val obs0 = new org.apache.spark.sql.Observation(
      s"cc_init_${java.util.UUID.randomUUID}")
    var labels = p.checkpoint(sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
      .observe(obs0, coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s")))
    // NO per-round label broadcast: a hint rebuilds a BroadcastExchange
    // from each round's FRESH checkpoint — a driver collect + relation
    // build per round — and at local[32] that serial per-round cost
    // measured ~1.5× the shuffle it replaces (e156 14.0 s without the
    // hint vs 19.7 s with it, e156b 17.6 vs 28.0, same box). At 100 TB
    // the label table blows the broadcast threshold and a hint would
    // never fire anyway.
    // sum over DECIMAL: a 100 TB corpus can hold >2^31 near-dup nodes
    // with long ids whose label sum overflows BIGINT.
    def asBig(v: Any): java.math.BigDecimal = v match {
      case d: java.math.BigDecimal => d
      case d: scala.math.BigDecimal => d.bigDecimal
      case other => new java.math.BigDecimal(other.toString)
    }
    var rounds = 0
    var converged = false
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
      // Per-round eager checkpoint, deliberately: it flattens the
      // LOGICAL plan as well as truncating lineage. The propagate and
      // jump joins each read the previous table twice, so an
      // uncheckpointed chain doubles the analyzed plan every round —
      // measured 2x wall time from optimizer walks alone by round ~4,
      // on top of the exponential-recompute risk.
      // The convergence sum is OBSERVED inside the checkpoint's own
      // materialization: one job per round instead of two.
      val obs = new org.apache.spark.sql.Observation(
        s"cc_sum_${java.util.UUID.randomUUID}")
      val next = p.checkpoint(jumped
        .observe(obs, coalesce(sum(col("comp").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("s")))
      val newSum = asBig(obs.get("s"))
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      p.release(labels) // previous round is dead — next is materialized
      labels = next
      rounds += 1
    }
    require(converged,
      s"connected components did not converge in $maxRounds rounds")
    p.keep(labels)
  }
}
