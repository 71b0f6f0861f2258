package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation over an undirected edge list — the
  * COMMUNITY reading of the dup graph, next to
  * [[ConnectedComponents]]' reachability reading. CC answers "what is
  * transitively connected"; on an over-merged near-dup graph (two
  * distinct boilerplate templates linked by a handful of hybrid
  * documents — the classic near-dup failure) that is exactly the wrong
  * grain for a dedup apply: min-id canonicalization would collapse
  * both templates to one survivor. LPA (Raghavan et al. 2007) splits
  * such a component at its sparse cut: each node repeatedly adopts the
  * most frequent label among itself and its neighbors, so labels flood
  * dense regions but a bridge's handful of cross votes never outweighs
  * a clique's internal majority.
  *
  * Determinism (the classic LPA pitfalls, closed): the vote is
  * (count DESC, label ASC) — no random tie-break — and the node's OWN
  * current label votes too, which removes the 2-cycle oscillation
  * synchronous LPA famously has on bipartite structure (an isolated
  * pair would otherwise swap labels forever; with the self-vote both
  * endpoints tie at 1-1 and take the min, converging in one round).
  * Synchronous rounds (one shuffle each) rather than the paper's
  * sequential sweeps: order-free, partitioning-independent,
  * reproducible in SQL — LabelPropagationSpec pins the operator
  * round-for-round against a driver-side replay of exactly this rule.
  *
  * Rounds are CALLER-PINNED, not converged: unlike CC's
  * monotone-decreasing label sum, LPA has no cheap monotone scalar
  * (labels can churn at a frontier without changing the partition),
  * and community assignment stabilizes in a few rounds on
  * bounded-diameter communities — callers pin rounds and the pinned
  * value is part of the query's contract (the e147-family posture).
  *
  * Scale: per round, one edge⋈label join + two keyed aggregations over
  * the (node, candidate) vote table — bounded by Σ degree + |nodes|,
  * never corpus-quadratic; each round is eagerly checkpointed in a
  * [[Pins]] scope and the previous one released, the
  * [[ConnectedComponents]] lineage discipline.
  */
object LabelPropagation {

  /** @param edges  undirected edges; self-loops and NULL endpoints
    *               ignored (equi-join semantics)
    * @param aCol   first endpoint column (integral, non-negative ids)
    * @param bCol   second endpoint column
    * @param rounds synchronous rounds to run (pinned, see scaladoc)
    * @return one row per node incident to an edge: (node, community)
    */
  def communities(
      edges: DataFrame, aCol: String, bCol: String,
      rounds: Int = 4): DataFrame =
    run(edges, aCol, bCol, rounds, trackChurn = false)._1

  /** [[communities]] plus the per-round LABELS-CHANGED count (e158's
    * n_updates posture applied to the pinned-rounds contract): callers
    * see stabilization as a measured number instead of trusting
    * rounds=N. The synchronous update is deterministic in the previous
    * labeling, so churn 0 at round r is a FIXPOINT certificate — every
    * later round reproduces the same labels (LabelPropagationSpec pins
    * this on the chained-clique fixture). Each count is one job over
    * two already-checkpointed per-round frames (|nodes| rows joined on
    * the node key) — metered, bounded, and only on this overload.
    *
    * @return (labels, churn) — churn(i) = nodes whose label changed in
    *         round i+1; length == rounds
    */
  def communitiesWithChurn(
      edges: DataFrame, aCol: String, bCol: String,
      rounds: Int = 4): (DataFrame, Seq[Long]) =
    run(edges, aCol, bCol, rounds, trackChurn = true)

  private def run(
      edges: DataFrame, aCol: String, bCol: String,
      rounds: Int, trackChurn: Boolean): (DataFrame, Seq[Long]) =
    Pins.scope { p =>
      require(rounds > 0, s"rounds must be positive, got $rounds")
      val sym = p.persist(Pins.undirected(p, edges, aCol, bCol))
      var labels = p.checkpoint(sym.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("community")))
      // NO per-round label broadcast: the [[ConnectedComponents]] rule.
      val churn = Seq.newBuilder[Long]
      for (_ <- 1 to rounds) {
        val votes = sym
          .join(labels.select(col("node").as("v"),
            col("community").as("cand")), "v")
          .select(col("u").as("node"), col("cand"))
          .unionByName(
            labels.select(col("node"), col("community").as("cand")))
          .groupBy("node", "cand").agg(count(lit(1)).as("c"))
        // argmax by (count DESC, label ASC) as one map-side-combinable
        // struct max: highest count, then highest negated label = the
        // smallest label. No window, no per-node sort.
        val argmax = votes
          .groupBy("node")
          .agg(max(struct(col("c"), (-col("cand")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("community"))
        // churn (labels changed this round) is OBSERVED inside the
        // checkpoint's own materialization via a prev-label join —
        // one job per round instead of two (the CC convergence rule);
        // the node sets agree exactly (argmax's nodes == labels' nodes,
        // both = sym's endpoint set), so the inner join drops nothing
        val next = if (!trackChurn) p.checkpoint(argmax) else {
          val obs = new org.apache.spark.sql.Observation(
            s"lpa_churn_${java.util.UUID.randomUUID}")
          val cp = p.checkpoint(argmax
            .join(labels.select(col("node"),
              col("community").as("prev")), "node")
            .observe(obs, count(when(
              col("community") =!= col("prev"), lit(1))).as("c"))
            .select(col("node"), col("community")))
          churn += obs.get("c").asInstanceOf[Long]
          cp
        }
        p.release(labels)
        labels = next
      }
      (p.keep(labels), churn.result())
    }
}
