package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F

/** Maximal Marginal Relevance selection (Carbonell & Goldstein,
  * SIGIR'98) — the DIVERSITY-AWARE retrieval member of the selection
  * family: greedily pick the candidate maximizing
  * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, trading query relevance
  * against redundancy with what is already selected. Complements the
  * family's other objectives: e5/e93 rank by pure relevance, e122's
  * coverage greedy maximizes submodular shingle coverage, e149's
  * k-center maximizes metric spread with NO relevance term — MMR is
  * the interpolation a retrieval-augmented pipeline actually serves
  * (top-k that is both on-topic and non-redundant).
  *
  * Determinism contract (the e93/e149 rules): every cosine is rounded
  * to 4 dp (+0) then scaled to integer ten-thousandths BEFORE any
  * comparison; λ is the exact rational lamN/10 so the MMR score
  * `lamN·rel_t − (10−lamN)·maxsim_t` is one integer per candidate
  * (units: 10 × ten-thousandths); argmax ties break to the LOWEST
  * vec_id; round 1 has an empty selected set, so its score is
  * `lamN·rel_t` exactly (the empty-max = 0 convention, pinned).
  *
  * Scale (100 TB of vectors): each of the k rounds is one broadcast
  * join of the candidate table against the ≤ k selected vectors
  * (bounded by construction), a per-candidate max, and a global top-1
  * (TakeOrderedAndProject — never a full sort), collecting ONE row per
  * round (the e122/e149 discipline). Total corpus work k·N dot
  * products — linear, no candidate-pair stage. The rel_t column is
  * computed ONCE by the caller and rides the loop unchanged.
  */
object MmrSelect {

  /** @param cands (vec_id: Long, uv: array<double> unit vectors,
    *              rel_t: Long — query relevance in integer
    *              ten-thousandths of cosine; caller computes it once
    *              and checkpoints the table through its [[Pins]] scope)
    * @param k     number of picks (k ≤ candidate count)
    * @param lamN  λ numerator over a fixed denominator of 10
    * @return one row per pick in order: (pick 1..k, vec_id, rel_t,
    *         mmr_t10 = lamN·rel_t − (10−lamN)·max-sim-to-prior-picks)
    */
  def select(cands: DataFrame, k: Int, lamN: Int = 7)
      : Seq[(Int, Long, Long, Long)] = {
    require(k > 0, "k must be positive")
    require(lamN >= 0 && lamN <= 10, "lamN must be in [0, 10]")
    def simT(a: Column, b: Column): Column =
      round((round(F.array_dot(a, b), 4) + lit(0d)) * 10000).cast("long")
    val first = cands
      .select(col("vec_id"), col("rel_t"),
        (lit(lamN.toLong) * col("rel_t")).as("mmr"))
      .orderBy(col("mmr").desc, col("vec_id"))
      .limit(1).take(1).headOption
      .getOrElse(throw new IllegalArgumentException(
        "MMR needs a non-empty candidate table"))
    var selected = Vector(first.getLong(0))
    val out = Vector.newBuilder[(Int, Long, Long, Long)]
    out += ((1, first.getLong(0), first.getLong(1), first.getLong(2)))
    for (r <- 2 to k) {
      val chosen = cands.filter(col("vec_id").isin(selected: _*))
        .select(col("uv").as("su"))
      val best = cands.filter(!col("vec_id").isin(selected: _*))
        .crossJoin(broadcast(chosen))
        .select(col("vec_id"), col("rel_t"),
          simT(col("uv"), col("su")).as("s_t"))
        .groupBy("vec_id", "rel_t").agg(max(col("s_t")).as("maxsim"))
        .select(col("vec_id"), col("rel_t"),
          (lit(lamN.toLong) * col("rel_t") -
            lit((10 - lamN).toLong) * col("maxsim")).as("mmr"))
        .orderBy(col("mmr").desc, col("vec_id"))
        .limit(1).take(1).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"k=$k exceeds the candidate count: round $r found no " +
            s"unselected candidate (${selected.size} selected)"))
      selected :+= best.getLong(0)
      out += ((r, best.getLong(0), best.getLong(1), best.getLong(2)))
    }
    out.result()
  }
}
