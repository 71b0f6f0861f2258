package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star edge
  * rewriting (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14 — the two-round Alternating algorithm) — the
  * scale path SCALING.md names as [[ConnectedComponents]]'s
  * next-100× lever.
  *
  * [[ConnectedComponents]] (min-label propagation + pointer jumping)
  * keeps a LABEL table keyed by node and joins it against the full
  * cached edge list every round: per-round work is O(|E|) forever,
  * and a giant component's entire edge set stays live until global
  * convergence. The star algorithm instead REWRITES the edge set each
  * round:
  *
  *   large-star(u): connect every neighbor v > u to the minimum m of
  *     Γ(u) ∪ {u}   — emitted edges (v, m)
  *   small-star(u): over edges oriented (big=u, small=v), connect every
  *     small neighbor and u itself to the minimum m of Γ⁻(u) ∪ {u}
  *     — emitted edges (v, m) and (u, m)
  *
  * Both steps preserve connectivity; edges only ever point "downhill"
  * toward smaller ids, and the fixpoint is the star forest whose
  * centers are the component minima (paper, Thm 1). Dense regions
  * COLLAPSE as rounds proceed — duplicate edges produced by the
  * rewrite merge in the per-step `distinct()` — so a crawl-scale
  * duplicate cluster (every page of a mirrored site pairwise-similar,
  * |E| ~ |V|²) shrinks toward |V| star edges after the first rounds
  * instead of being re-joined at full size every round. That edge-set
  * contraction is exactly what label propagation cannot do.
  *
  * Each step is one groupBy-min plus one keyed join of the CURRENT
  * edge table with itself-derived minima — the same bounded shuffle
  * discipline as the label algorithm, applied to a shrinking relation.
  * Rounds are O(log n) (paper, Thm 2 for the alternating variant).
  *
  * Convergence: the edge set is rewritten monotonically toward the
  * star fixpoint, detected by an order-independent signature aggregate
  * (count, Σu, Σv, Σ xxhash64(u,v) — all in DECIMAL(38,0)) comparing
  * equal across consecutive rounds: one scalar-row aggregate per
  * round, no edge-set EXCEPT join. A signature collision would need
  * two distinct edge sets with equal count AND equal 128-bit-ish sum
  * fingerprints in adjacent rounds of a monotone rewrite — and the
  * result is independently pinned (StarComponentsSpec equality with
  * [[ConnectedComponents]], e46 oracle row), so a silent collision
  * cannot ship a wrong answer unnoticed.
  *
  * Determinism: the fixpoint (node → min id of its component) is
  * unique regardless of partitioning or round count — same contract,
  * same output schema, and spec-pinned same results as
  * [[ConnectedComponents.components]].
  */
object StarComponents {

  /** @param edges undirected edges; self-loops and NULL endpoints are
    *              ignored (equi-join semantics — NULL connects nothing)
    * @return one row per node incident to an edge: (node, comp) where
    *         comp = min node id of the node's connected component
    */
  def components(
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = Pins.scope { p =>
    // Orient (u = larger, v = smaller); checkpoint so the caller's
    // (potentially expensive) edge derivation runs once. Each dead
    // round is released once the next lands; otherwise the loop would
    // hold one edge-table copy per round in executor storage.
    var cur = p.checkpoint(edges.select(
      col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct())

    // Order-independent edge-set fingerprint; DECIMAL(38,0) sums so a
    // fleet-scale edge table can't overflow BIGINT.
    def signature(df: DataFrame): Seq[java.math.BigDecimal] = {
      val dec = (c: org.apache.spark.sql.Column) =>
        coalesce(sum(c.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
      val r = df.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        dec(col("u")).as("su"), dec(col("v")).as("sv"),
        dec(xxhash64(col("u"), col("v"))).as("sh")).head
      (0 until 4).map(r.getDecimal)
    }

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // (v, m) for v ∈ Γ(u), v > u; v > u ≥ m so the emitted edge is
      // already oriented (larger, smaller) and never a self-loop.
      sym.where(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is oriented (u > v): Γ⁻(u) = all v. m = min(Γ⁻(u)).
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val nbrs = e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")) // the min itself: (m, m)
      nbrs.union(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    var prevSig = signature(cur)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = p.checkpoint(smallStar(largeStar(cur)))
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      p.release(cur)
      cur = next
      rounds += 1
    }
    require(converged,
      s"star components did not converge in $maxRounds rounds")
    // Fixpoint is a star forest (u = member, v = component min);
    // add the centers' self-labels.
    p.keep(cur).select(col("u").as("node"), col("v").as("comp"))
      .union(cur.select(col("v").as("node"), col("v").as("comp")))
      .distinct()
  }
}
