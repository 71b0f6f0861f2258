package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration integer PageRank over an undirected edge list — the
  * CENTRALITY-based canonical pick for dedup clusters, completing the
  * survivor-selection family: e45 keeps the min-id document (arbitrary),
  * e65 the quality argmax (content-based), and PageRank keeps the
  * document most ENDORSED by the duplication structure itself — the
  * version everything else is a near-copy OF, which for template/quote
  * chains is the original rather than any derivative.
  *
  * Recurrence (damping d = 85/100, rank scaled to parts-per-million,
  * init r₀ = 1 000 000 per node):
  *
  *   rₖ(v) = 150 000 + Σ_{u ~ v} ⌊ rₖ₋₁(u) · 85 / (100 · deg(u)) ⌋
  *
  * ALL-INTEGER on purpose: each edge's contribution is one floor
  * division and the inbound sum is a sum of longs, so the result is
  * bit-identical across engines, partition counts, and aggregation
  * orders — oracle-comparable the same way the e51/e108 integer kernels
  * are, where float PageRank would drift in the 15th digit per
  * aggregation order. On a symmetrized graph every node has deg ≥ 1, so
  * there is no dangling-mass term to redistribute. Iteration count is
  * FIXED (not convergence-tested): a k-step rank is already a
  * well-defined centrality (truncated power method) and fixing k keeps
  * the cross-engine contract exact.
  *
  * Scale (100 TB): state is one (node, rank) row per edge-incident node
  * — bounded by near-dup population, far below corpus size. Per
  * iteration: one src-keyed join of ranks to the cached adjacency (the
  * adjacency is repartitioned by src ONCE and reused all k rounds) and
  * one dst-keyed aggregation — 2 bounded shuffles × k, never a corpus
  * pass. Each round is eagerly checkpointed in a [[Pins]] scope, the
  * [[ConnectedComponents]] discipline: lineage would otherwise double
  * per round and recomputation would be exponential in k. Rank magnitude
  * is conserved-in-expectation (Σr ≤ N · 10⁶), so a long accumulator
  * never overflows below ~10¹² nodes; past that the lever is the same
  * DECIMAL(38,0) swap documented for e119.
  */
object PageRank {

  /** @param edges undirected edges; self-loops and NULL endpoints
    *              ignored (same contract as
    *              [[ConnectedComponents.components]])
    * @param aCol  first endpoint column (integral)
    * @param bCol  second endpoint column (integral)
    * @param iterations fixed number of power-method rounds (k ≥ 1)
    * @return one row per edge-incident node:
    *         (node, degree, rank) with rank in ppm of the uniform init
    */
  def ranks(
      edges: DataFrame, aCol: String, bCol: String,
      iterations: Int = 5): DataFrame = Pins.scope { p =>
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val sym = Pins.undirected(p, edges, aCol, bCol)
      .select(col("u").as("src"), col("v").as("dst"))
    // deg feeds the adjacency build, the rank init, every round's
    // rebuild of the node list, and the final degree join — persist it
    // so the union+distinct+groupBy pipeline runs once, not per use.
    val deg = p.persist(sym.groupBy("src").agg(count(lit(1)).as("dg")))
    // Adjacency with out-degree attached, partitioned by src once:
    // every iteration's contribution join then reads this exact cached
    // layout with no further shuffle of the edge list.
    val adj = p.persist(sym.join(deg, "src").repartition(col("src")))

    var r = p.checkpoint(
      deg.select(col("src").as("node"), lit(1000000L).as("rank")))
    // NO per-round rank broadcast: the [[ConnectedComponents]] rule
    // (interleaved A/B at local[32]: e120 3.60 s hinted vs 3.41 s).
    for (_ <- 1 to iterations) {
      val contrib = adj
        .join(r, col("src") === col("node"))
        .select(col("dst"), expr("rank * 85 div (100 * dg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cin"))
      // Left join is belt-and-braces: on a symmetrized graph every node
      // has an in-edge, but a node whose neighbors all rank-underflow
      // to 0 still contributes rows of c = 0, never NULL groups.
      // contrib is a DERIVED frame — never hinted (the CC rule: a
      // broadcast build re-executes the subplan and loses stage reuse)
      val next = p.checkpoint(deg.select(col("src").as("node"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(150000L) + coalesce(col("cin"), lit(0L))).as("rank")))
      p.release(r) // the previous round is dead once `next` materializes
      r = next
    }
    // Materialize the node-bounded result while the caches are still
    // held; the scope then releases everything upstream.
    p.keep(p.checkpoint(r.join(deg, r("node") === deg("src"))
      .select(col("node"), col("dg").as("degree"), col("rank"))))
  }
}
