package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F

/** NN-Descent (Dong, Charikar, Li, WWW'11): builds the all-vectors
  * k-nearest-neighbor graph by iterative refinement. Start from an
  * arbitrary graph; each round proposes every pair of vertices that
  * share a graph neighbor (in either direction) and keeps each vertex's
  * best K by score. "A neighbor of a neighbor is likely a neighbor" is
  * the only assumption: no hash design, no trained codebook.
  *
  * The engine holds the pieces; each caller runs its own short loop
  * over them (a fixed round count, a zero-update stop, or per-round
  * release of dead checkpoints):
  *  - [[vectors]]: the normalized, ranked, checkpointed vector table
  *    and its measured row count;
  *  - [[ringInit]]: the deterministic ring over the dense rank `rid`
  *    (no warm start, so every recall gain is the algorithm's own);
  *  - [[plainRound]] rescores the whole candidate pool each round;
  *    [[flaggedRound]] carries the paper's new/old flags and scores
  *    only fresh candidates;
  *  - [[anchorTruth]], [[roundMetrics]] and [[withRecall]]: the recall
  *    audit against exact top-K truth on a constant anchor budget.
  *
  * Invariants:
  *  - Determinism: scores are rounded to 4 dp (+0 normalizes −0.0)
  *    BEFORE ranking, ties broken by ascending dst; the 64-dim dot
  *    folds sequentially, so results are bit-identical across engines.
  *  - Hub bound: reverse lists are capped at K (lowest src first), so
  *    every undirected degree is ≤ 2K and a round's candidates are
  *    ≤ N·(2K)² whatever the hubs (uncapped, clone sets funnel their
  *    reverse edges onto a few vertices and candidates go quadratic).
  *  - Only the N·K-row post-top-K graph is checkpointed per round. The
  *    candidate set, a round's largest intermediate, stays lazy; its
  *    size is OBSERVED inside the round's own checkpoint, never counted
  *    by a second job.
  *  - Loop joins against checkpoint-backed frames (no statistics) are
  *    broadcast only when the measured size fits the session threshold
  *    ([[Adaptive.bcastIfSmall]]); at scale they stay shuffle joins.
  */
object NnDescent {

  /** How a pair is scored. `encode` derives the kernel's `payload`
    * columns from the unit vector `uv` (and may drop vectors it cannot
    * encode); `bytesPerRow` estimates one vector-table row as shipped
    * to a score join; `dot` is the pair score from the src-side (a) and
    * dst-side (c) payload, rounded by [[Vectors.score]] into column
    * `score`.
    */
  final case class Kernel(
      score: String, bytesPerRow: Long,
      encode: DataFrame => DataFrame, payload: Seq[String],
      dot: (String => Column, String => Column) => Column)

  /** Float cosine over the unit vectors: vec_id + rid + 64-double uv. */
  val Float: Kernel = Kernel("cos", 600L, identity, Seq("uv"),
    (a, c) => F.array_dot(a("uv"), c("uv")))

  /** Int8 cosine: a 64-byte symmetric code plus one scale per vector,
    * the int8 dot corrected by both scales — 8× less score-join payload
    * than [[Float]]. Vectors with scale 0 are dropped.
    */
  val Int8: Kernel = Kernel("qcos", 150L,
    _.withColumn("scale", F.int8_scale(col("uv")))
      .filter(col("scale") > 0)
      .select(col("vec_id"), col("uv"), col("scale"),
        F.int8_pack(col("uv")).as("code")),
    Seq("code", "scale"),
    (a, c) => F.int8_dot(a("code"), c("code")).cast("double")
      * a("scale") * c("scale"))

  /** A build's checkpointed vector table — vec_id, uv, the kernel's
    * payload, dense rank rid — and its measured row count `n`, which
    * sizes the broadcast decisions of every loop join.
    */
  final case class Vectors(r: DataFrame, n: Long, kernel: Kernel) {

    /** Scores an edge list (src, dst) into (src, dst, score). dst is
      * joined first and src last, so in the shuffle-join regime the
      * downstream per-src top-K window reuses the last join's hash(src)
      * partitioning.
      */
    def score(edges: DataFrame): DataFrame = {
      def side(key: String, tag: String): DataFrame =
        Adaptive.bcastIfSmall(r.select(col("vec_id").as(key) +:
          kernel.payload.map(p => col(p).as(s"${tag}_$p")): _*),
          n, kernel.bytesPerRow)
      edges.join(side("dst", "c"), "dst").join(side("src", "a"), "src")
        .select(col("src"), col("dst"),
          (round(kernel.dot(p => col(s"a_$p"), p => col(s"c_$p")), 4)
            + lit(0d)).as(kernel.score))
    }
  }

  /** Normalizes `emb` (vec_id, embedding) to unit vectors, drops zero
    * vectors, encodes the kernel payload and ranks by vec_id. The table
    * is read by every round's score joins and the truth leg, so it is
    * checkpointed once; its count is one bounded job over the
    * checkpoint.
    */
  def vectors(emb: DataFrame, kernel: Kernel): Vectors = {
    val u = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("uv"))
    Pins.scope { p =>
      val r = p.checkpoint(
        Indexing.withGlobalIndex(kernel.encode(u), col("vec_id"), "rid"))
      val n = r.count()
      Vectors(p.keep(r), n, kernel)
    }
  }

  /** Ring init: each `srcIdx` row (vec_id, rid — rid in dstIdx's index
    * space) proposes the K successors of its rid on dstIdx's id ring.
    * `n` is dstIdx's row count, passed in by the caller; as a literal
    * it keeps the ring arithmetic free of a broadcast cross join.
    */
  def ringInit(srcIdx: DataFrame, dstIdx: DataFrame, n: Long, K: Int)
      : DataFrame =
    srcIdx.select(col("vec_id").as("src"), col("rid"), lit(n).as("n"),
        explode(sequence(lit(1), lit(K))).as("o"))
      .withColumn("nbr", (col("rid") + col("o")) % col("n"))
      .join(Adaptive.bcastIfSmall(
        dstIdx.select(col("vec_id").as("dst"), col("rid").as("rid2")),
        n, 48L), col("rid2") === col("nbr"))
      .select("src", "dst")

  /** Ring init followed by `rounds` plain rounds: the checkpointed
    * graphs 0..rounds, all handed to the caller, and the pool sizes of
    * rounds 1..rounds.
    */
  def plainBuild(v: Vectors, K: Int, rounds: Int)
      : (Vector[DataFrame], Vector[Long]) = Pins.scope { p =>
    var knns = Vector(p.checkpoint(v.score(ringInit(v.r, v.r, v.n, K))))
    val pools = Vector.fill(rounds) {
      val (next, pool) = plainRound(p, v, knns.last, K)
      knns :+= next
      pool
    }
    (knns.map(p.keep), pools)
  }

  /** One plain round on `knn` (src, dst, score): the pool is every
    * witness-sharing pair of knn ∪ capped reverse, plus knn itself; the
    * whole pool is scored and each src keeps its top K. Returns the
    * next graph, checkpointed in `p`, and the pool size.
    */
  def plainRound(p: Pins, v: Vectors, knn: DataFrame, K: Int)
      : (DataFrame, Long) = {
    val und = knn.select("src", "dst").unionByName(reverse(knn, K, Nil))
    // no inner distinct: the pool's distinct dedups the union, one
    // exchange of the round's largest intermediate fewer
    val cand = und.select(col("src").as("w"), col("dst").as("a"))
      .join(und.select(col("src").as("w"), col("dst").as("c")), "w")
      .filter(col("a") =!= col("c"))
      .select(col("a").as("src"), col("c").as("dst"))
    val obs = observation("pool")
    val pool = cand.unionByName(knn.select("src", "dst")).distinct()
      .observe(obs, count(lit(1)).as("n"))
    val next = p.checkpoint(topK(v.score(pool), v.kernel.score, K))
    (next, obs.get("n").asInstanceOf[Long])
  }

  /** One new/old-flag round on `knn` (src, dst, score, is_new). An edge
    * is new until it has taken part in a local join, and only witness
    * pairs with at least one new side are proposed (an old×old pair
    * was proposed when it last shared that witness). Candidates already
    * in knn are anti-joined away, so only fresh pairs are scored; the
    * graph's own scores ride along by union. Returns the next graph
    * (is_new = edge not in knn), checkpointed in `p`, the
    * fresh-candidate count and the update count; no new edge means
    * every later round is a no-op.
    */
  def flaggedRound(p: Pins, v: Vectors, knn: DataFrame, K: Int)
      : (DataFrame, Long, Long) = {
    // the union can carry one edge forward-old and reverse-new: max()
    // keeps it new — a few extra candidates, never a missed one
    val und = knn.select("src", "dst", "is_new")
      .unionByName(reverse(knn, K, Seq("is_new")))
      .groupBy("src", "dst").agg(max(col("is_new")).as("is_new"))
    val cand = und.select(col("src").as("w"), col("dst").as("a"),
        col("is_new").as("na"))
      .join(und.select(col("src").as("w"), col("dst").as("c"),
        col("is_new").as("nc")), "w")
      .filter(col("a") =!= col("c") && (col("na") || col("nc")))
      .select(col("a").as("src"), col("c").as("dst")).distinct()
    def graphB(sel: DataFrame): DataFrame =
      Adaptive.bcastIfSmall(sel, v.n * K, 48L)
    val obsF = observation("fresh")
    val fresh = cand.join(graphB(knn.select("src", "dst")),
        Seq("src", "dst"), "left_anti")
      .observe(obsF, count(lit(1)).as("n"))
    val s = v.kernel.score
    val top = topK(knn.select("src", "dst", s).unionByName(v.score(fresh)),
      s, K)
    val obsU = observation("upd")
    val next = p.checkpoint(top
      .join(graphB(knn.select(col("src"), col("dst"), lit(true).as("was"))),
        Seq("src", "dst"), "left")
      .withColumn("is_new", col("was").isNull).drop("was")
      .observe(obsU, count(when(col("is_new"), lit(1))).as("u")))
    (next, obsF.get("n").asInstanceOf[Long], obsU.get("u").asInstanceOf[Long])
  }

  /** Exact top-K truth for a constant budget of anchors: the `budget`
    * lowest multiplicative-hash vec_ids of `idx` (vec_id, uv), picked by
    * a distributed top-k (never a full sort), each ranked against every
    * other vector of idx by [[Float]] cosine. Costs budget·N at any
    * corpus size. Returns the (src, dst) truth edges, checkpointed in
    * `p`.
    */
  def anchorTruth(p: Pins, idx: DataFrame, K: Int, budget: Int)
      : DataFrame = {
    val anchors = idx
      .withColumn("ah",
        expr("((vec_id % 1000003) * 2654435761) % 1000000007"))
      .orderBy(col("ah"), col("vec_id")).limit(budget)
      .select(col("vec_id").as("src"), col("uv").as("ua"))
    val tr = idx.select(col("vec_id").as("dst"), col("uv").as("uc"))
      .join(broadcast(anchors), col("dst") =!= col("src"))
      .select(col("src"), col("dst"),
        (round(F.array_dot(col("ua"), col("uc")), 4) + lit(0d)).as("cos"))
    p.checkpoint(topK(tr, "cos", K).select("src", "dst"))
  }

  /** One row for graph `g`: `avgCol`, the mean edge score in integer
    * ten-thousandths (floor division of the rounded sum), and `hits`,
    * the edges also in `truth` (broadcast: ≤ budget·K rows).
    */
  def graphStats(g: DataFrame, score: String, avgCol: String,
      truth: DataFrame): DataFrame = {
    val avg = g.agg(sum(round(col(score) * 10000).cast("long")).as("sc"),
        count(lit(1)).as("ne"))
      .select(expr("sc div ne").as(avgCol))
    avg.crossJoin(g.join(broadcast(truth), Seq("src", "dst"))
      .agg(count(lit(1)).as("hits")))
  }

  /** The one-row anchor count of a truth table. */
  def nAnchors(truth: DataFrame): DataFrame =
    truth.select("src").distinct().agg(count(lit(1)).as("n_anchors"))

  /** One audit row per graph of `knns`, ordered by round: `round`, each
    * named per-round count, `avg_<score>_t`, `recall_bp` and
    * `recall_se_bp` against `truth`.
    */
  def roundMetrics(knns: Seq[DataFrame], score: String, truth: DataFrame,
      K: Int, counts: (String, Seq[Long])*): DataFrame = {
    val avgCol = s"avg_${score}_t"
    val na = nAnchors(truth)
    val rows = knns.indices.map { i =>
      graphStats(knns(i), score, avgCol, truth).crossJoin(na)
        .select((lit(i.toLong).as("round") +:
          counts.map { case (c, v) => lit(v(i)).as(c) }) ++
          Seq(col(avgCol), col("hits"), col("n_anchors")): _*)
    }
    withRecall(rows.reduce(_ unionByName _), K)
      .select((Seq("round") ++ counts.map(_._1) ++
        Seq(avgCol, "recall_bp", "recall_se_bp")).map(col): _*)
      .orderBy("round")
  }

  /** Adds `recall_bp` = hits / (n_anchors·K) in basis points and its
    * Agresti–Coull adjusted standard error `recall_se_bp`: the anchor
    * estimate is unbiased for the full-graph recall, and the SE prices
    * the budget (a slice that hits everything must not read as
    * certainly 10000).
    */
  def withRecall(rows: DataFrame, K: Int): DataFrame =
    rows
      .withColumn("recall_bp", expr(s"hits * 10000 div (n_anchors * $K)"))
      .withColumn("rt", expr(s"10000 * (hits + 1) div (n_anchors * $K + 2)"))
      .withColumn("sx", expr(s"rt * (10000 - rt) div (n_anchors * $K + 2)"))
      .withColumn("recall_se_bp", F.isqrt(col("sx")))

  /** The graph's reverse edges, at most K per vertex, lowest src first
    * (the hub bound); `extra` columns ride along.
    */
  private def reverse(knn: DataFrame, K: Int, extra: Seq[String]): DataFrame =
    knn.withColumn("rr", row_number().over(
        Window.partitionBy(col("dst")).orderBy(col("src"))))
      .filter(col("rr") <= K)
      .select(Seq(col("dst").as("src"), col("src").as("dst")) ++
        extra.map(col): _*)

  /** Each src's K best dst by score, ties by ascending dst. */
  private def topK(scored: DataFrame, score: String, K: Int): DataFrame =
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col(score).desc, col("dst"))))
      .filter(col("rk") <= K).select("src", "dst", score)

  private def observation(what: String): Observation =
    new Observation(s"nnd_${what}_${java.util.UUID.randomUUID}")
}
