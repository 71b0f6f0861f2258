package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Neighborhood function N(r) = Σ_v |B(v, r)| of an undirected graph —
  * the DISTANCE reading of the dup graph, beside
  * [[ConnectedComponents]]' reachability, [[LabelPropagation]]'s
  * communities, and [[PageRank]]'s centrality. N(r) / N(∞) is the
  * cumulative distance distribution; its 90 % crossing is the
  * effective diameter — for a near-dup graph, the measured answer to
  * "how far does dup transitivity CHAIN" (a template family whose
  * effective diameter grows round over round is drifting by
  * hybridization, which min-id collapse silently absorbs).
  *
  * Two legs, the e134/e102 calibration posture:
  *
  *  - EXACT: iterate the sparse reachable-set relation
  *    B_{t+1} = B_t ∪ (edges ⋈ B_t), one distinct per round; N(r) is
  *    one count over the round-r relation. Σ|B(v, r)| is
  *    component-quadratic — at rep grain on a pair-dominated dup graph
  *    that is small, but it is the AUDIT leg, not the scale path.
  *  - HLL (HyperANF, Boldi–Rosa–Vigna WWW'11): per node, a 64-register
  *    HyperLogLog of B(v, r), iterated by register max-merge with the
  *    neighbors' previous registers — per-round state is ≤ 64·|V| rows
  *    at ANY corpus size, the whole point of the sketch path. Registers
  *    ride SPARSE (only touched (node, j) rows; an absent register is
  *    rank 0) and the estimate is the integer-only e134 form:
  *    s2 = (64 − touched)·2²⁵ + Σ 2^(25−mr), est = ⌊709·2³⁷ /
  *    (1000·s2)⌋ — exactly replayable in SQL, so BOTH legs
  *    hash-compare. Per-node sets here are far below HLL's accurate
  *    regime (the raw estimator reads high on tiny sets — e134's
  *    linear-counting caveat); err_bp REPORTS that bias honestly, and
  *    at the 100 TB clique sizes the sketch is built for it decays as
  *    1.04/√64.
  *
  * Determinism: register updates are max-merges of a pure node-id hash
  * ([[Portable.HllA]]'s affine+cube mix — safe on SEQUENTIAL ids, the
  * e136 lesson), the exact leg is set union — both order- and
  * partitioning-free.
  *
  * Scale: per round, each leg is one edge⋈state join + one keyed
  * aggregation (max / distinct) — the CC cost class; per-round eager
  * checkpoints cut lineage (the [[ConnectedComponents]] discipline).
  * Round frames live in a [[Pins]] scope only until the
  * (rounds+1)-row summary is eagerly checkpointed — otherwise each
  * call would pin rounds+1 materialized relations (the exact leg's
  * component-quadratic) in executor storage for the session.
  * Production runs [[hllOnly]] — the exact relation is precisely what
  * a 100 TB graph cannot materialize.
  */
object NeighborhoodFunction {

  private val P = Portable.P
  private val AlphaNum = 709L * (1L << 37)

  /** Trailing-zero CASE ladder over the lowest set bit (the e134
    * oracle's integer-only rank), shared verbatim by the Spark side so
    * both engines run one definition.
    */
  def tzCaseSql(w: String): String =
    s"CASE WHEN $w = 0 THEN 25 ELSE CASE ($w) & (-($w)) " +
      (0 to 24).map(i => s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ") +
      " END END"

  /** Round-0 registers of {v} per node: j and rank of the node-id hash
    * (x = (263·v + 89) mod P, h2 = x³ mod P — the [[Portable.HllA]]
    * contract). `node` must be an integral column named `node`.
    */
  private def selfRegs(nodes: DataFrame): DataFrame =
    nodes
      .withColumn("x", (col("node") * Portable.HllA + Portable.HllB) % P)
      .withColumn("h2", expr(s"x * x % $P * x % $P"))
      .select(col("node"), expr("h2 % 64").as("j"),
        expr(tzCaseSql(s"h2 div 64")).cast("long").as("mr"))

  /** Per-round summaries of both legs joined on round:
    * (round, n_pairs, est_pairs, err_bp, frac_bp, z_total) for
    * round = 0..rounds, frac_bp = ⌊N(r)·10⁴ / N(rounds)⌋ — the column
    * whose 9000 crossing is the effective diameter once the tail has
    * converged — and z_total = Σ_v (empty registers of v): when it
    * sits near 64·|V| the per-node sets are in HLL's linear-counting
    * regime and the raw estimates read high (the e134 caveat as an
    * in-output integer, not prose).
    */
  def neighborhood(
      edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = Pins.scope { p =>
    val sym = p.persist(Pins.undirected(p, edges, aCol, bCol))
    // eager cache materialization: both overlapped legs read the
    // persisted sym — without this count the forked HLL leg and the
    // exact leg race to compute the cache's partitions, duplicating
    // the symmetrize work
    sym.count()
    val nodes = sym.select(col("u").as("node")).distinct()
    // both summaries arrive eagerly checkpointed (rounds+1 rows):
    // `ex` feeds both the round join and the np_last filter, so
    // without it the component-quadratic tagged pair union would be
    // aggregated TWICE — and the checkpoint is what lets each leg
    // release its per-round frames before returning.
    // The two legs share nothing downstream of (sym, nodes) — the
    // HLL leg runs on a driver thread overlapped with the exact leg.
    val estT = p.overlap(p.own(iterateHll(sym, nodes, rounds)))
    val ex = p.own(iterateExact(sym, nodes, rounds))
    val est = estT()
    val last = ex.filter(col("round") === rounds)
      .select(col("n_pairs").as("np_last"))
    p.keep(ex).join(p.keep(est), "round")
      .crossJoin(broadcast(last))
      .select(col("round"), col("n_pairs"), col("est_pairs"),
        expr("abs(est_pairs - n_pairs) * 10000 div n_pairs")
          .as("err_bp"),
        expr("n_pairs * 10000 div np_last").as("frac_bp"),
        col("z_total"))
      .orderBy("round")
  }

  /** The production leg alone: (round, est_pairs, z_total) from the
    * bounded register state — no exact relation is ever built. z_total
    * is the linear-counting-regime flag [[neighborhood]] documents.
    */
  def hllOnly(
      edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = Pins.scope { p =>
    val sym = p.persist(Pins.undirected(p, edges, aCol, bCol))
    iterateHll(sym, sym.select(col("u").as("node")).distinct(), rounds)
      .orderBy("round")
  }

  /** Exact leg: one (round, n_pairs) row per round from the iterated
    * sparse reachable relation; one job (the tagged union's aggregate)
    * counts every round. Returns the summary eagerly checkpointed; the
    * per-round reach frames die with the scope.
    */
  private def iterateExact(
      sym: DataFrame, nodes: DataFrame, rounds: Int): DataFrame =
    Pins.scope { p =>
      var reach = p.checkpoint(nodes.select(col("node"), col("node").as("r")))
      val tagged = Seq.newBuilder[DataFrame]
      tagged += reach.select(lit(0L).as("round"), col("node"))
      for (t <- 1 to rounds) {
        // NO per-round edge broadcast: each round's job would rebuild
        // its own BroadcastExchange (the [[ConnectedComponents]] rule;
        // e169 5.18 s hinted vs 5.00 s unhinted).
        reach = p.checkpoint(reach
          .unionByName(reach.select(col("node").as("v"), col("r"))
            .join(sym, "v")
            .select(col("u").as("node"), col("r")))
          .distinct())
        tagged += reach.select(lit(t.toLong).as("round"), col("node"))
      }
      p.keep(p.checkpoint(tagged.result().reduce(_ unionByName _)
        .groupBy("round").agg(count(lit(1)).as("n_pairs"))))
    }

  /** HLL leg: one (round, est_pairs, z_total) row per round, summarized
    * from the [[registers]] union into an eager checkpoint; the
    * per-round register frames die with the scope, and the production
    * path never materializes a second full copy of the registers (that
    * copy exists only behind [[hllRegisters]], whose whole purpose is
    * persisting it).
    */
  private def iterateHll(
      sym: DataFrame, nodes: DataFrame, rounds: Int): DataFrame =
    Pins.scope { p =>
      p.keep(p.checkpoint(summarizeRegisters(registers(p, sym, nodes, rounds))))
    }

  /** The register loop: round 0 is [[selfRegs]], and each round
    * max-merges the neighbors' previous registers, eagerly checkpointed
    * in `p` (shuffle join deliberately — the iterateExact rule, no
    * per-round broadcast). Returns the LAZY tagged union (round, node,
    * j, mr) over the round frames.
    */
  private def registers(p: Pins, sym: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    var regs = p.checkpoint(selfRegs(nodes))
    val tagged = Seq.newBuilder[DataFrame]
    tagged += regs.withColumn("round", lit(0L))
    for (t <- 1 to rounds) {
      regs = p.checkpoint(regs
        .unionByName(regs
          .select(col("node").as("v"), col("j"), col("mr"))
          .join(sym, "v")
          .select(col("u").as("node"), col("j"), col("mr")))
        .groupBy("node", "j").agg(max(col("mr")).as("mr")))
      tagged += regs.withColumn("round", lit(t.toLong))
    }
    tagged.result().reduce(_ unionByName _)
  }

  /** The tagged sparse register relation of every round — (round, node,
    * j, mr), ≤ 64·|V|·(rounds+1) rows at any corpus size — eagerly
    * checkpointed with the per-round frames released. This is the
    * PERSISTABLE artifact of the HLL leg: a generational pipeline
    * writes it to parquet once per generation and re-derives the whole
    * N(r) curve later with ONE scan ([[summarizeRegisters]]) instead of
    * re-iterating the generation's graph (e169's posture). The caller
    * owns the returned checkpoint: write it out, then release it by
    * owning it in a [[Pins]] scope.
    */
  def hllRegisters(
      edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = Pins.scope { p =>
    val sym = p.persist(Pins.undirected(p, edges, aCol, bCol))
    p.keep(p.checkpoint(registers(
      p, sym, sym.select(col("u").as("node")).distinct(), rounds)))
  }

  /** One-scan summary of a (possibly persisted) [[hllRegisters]]
    * relation: (round, est_pairs, z_total), the production columns.
    */
  def summarizeRegisters(tagged: DataFrame): DataFrame =
    tagged
      .groupBy("round", "node")
      .agg(count(lit(1)).as("cnt"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(25 - mr AS INT))"))
          .as("s"))
      .select(col("round"),
        expr(s"$AlphaNum div (1000 * ((64 - cnt) * 33554432 + s))")
          .as("e"),
        // empty registers per node: Σ over nodes = the integer
        // linear-counting-regime flag (e134's caveat, in-output) —
        // z_total near 64·|V| says raw estimates read high
        (lit(64L) - col("cnt")).as("z"))
      .groupBy("round")
      .agg(sum(col("e")).cast("long").as("est_pairs"),
        sum(col("z")).cast("long").as("z_total"))
}
