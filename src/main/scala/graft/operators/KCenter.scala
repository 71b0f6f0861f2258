package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F

/** Gonzalez farthest-point traversal (Gonzalez 1985, "Clustering to
  * minimize the maximum intercluster distance") — the k-CENTER
  * exemplar selector: greedily pick the point farthest from the chosen
  * set, a 2-approximation of the optimal covering radius. This is the
  * METRIC-DIVERSITY member of the selection family: e122's coverage
  * greedy maximizes a submodular overlap objective ("represent the
  * most shingles"), k-center minimizes the worst case ("no vector is
  * far from every exemplar") — the right objective for picking probe /
  * eval exemplars and for seeding the e17/e64 IVF codebook (a k-center
  * init spreads centroids where k-means++ samples them).
  *
  * Distances are exact-integer ten-thousandths of (1 − cosine) under
  * the e93 determinism contract: cosine rounded to 4 dp (+0) before
  * ANY comparison, argmax ties broken to the LOWEST vec_id, first
  * center = lowest vec_id (the traversal's arbitrary start, pinned).
  *
  * Scale (100 TB of vectors): each of the k rounds is one broadcast
  * join of the corpus against the ≤ k chosen centers (bounded by
  * construction), a per-point min, and a global top-1
  * (TakeOrderedAndProject — never a full sort), collecting ONE row per
  * round (the e122 discipline). Total corpus work k·N distances —
  * linear, embarrassingly parallel, no all-pairs stage.
  */
object KCenter {

  /** @param points (vec_id: Long, uv: array<double>) — unit vectors
    *               (caller normalizes; callers reusing the table
    *               checkpoint it first through their [[Pins]] scope)
    * @param k      number of centers
    * @return one row per pick in order: (pick 1..k, center vec_id,
    *         covering radius of the first `pick` centers in integer
    *         ten-thousandths of 1−cos — i.e. max over all points of
    *         the min distance to the chosen set; non-increasing)
    */
  def gonzalez(points: DataFrame, k: Int): Seq[(Int, Long, Long)] = {
    require(k > 0, "k must be positive")
    // min() over an empty table yields one NULL row — fail with the
    // contract, not an opaque NPE/NoSuchElementException
    val firstRow = points.select(min(col("vec_id"))).head()
    require(!firstRow.isNullAt(0), "k-center needs a non-empty points table")
    val first = firstRow.getLong(0)
    def distT(a: Column, b: Column): Column =
      lit(10000L) - round((round(F.array_dot(a, b), 4) + lit(0d))
        * 10000).cast("long")
    var centers = Vector(first)
    val out = Vector.newBuilder[(Int, Long, Long)]
    for (r <- 1 to k) {
      val chosen = points.filter(col("vec_id").isin(centers: _*))
        .select(col("vec_id").as("cid"), col("uv").as("cu"))
      val far = points.crossJoin(broadcast(chosen))
        .select(col("vec_id"), distT(col("uv"), col("cu")).as("d_t"))
        .groupBy("vec_id").agg(min(col("d_t")).as("mind"))
        // Chosen points carry mind = 0 and can never raise the max, so
        // excluding them changes neither the covering radius nor any
        // non-degenerate argmax — it only stops an all-zero tie (k >
        // #points, or a fully duplicated tail) from silently re-picking
        // an existing center.
        .filter(!col("vec_id").isin(centers: _*))
        .orderBy(col("mind").desc, col("vec_id"))
        .limit(1).take(1).headOption
      far match {
        case Some(row) =>
          out += ((r, centers(r - 1), row.getLong(1)))
          if (r < k) centers :+= row.getLong(0)
        case None =>
          // every point is already a center: the covering radius is 0
          // by construction, and any FURTHER round would have to
          // duplicate a pick — a contract violation, not a row
          require(r == k, s"k=$k exceeds the number of distinct points" +
            s" (${centers.size})")
          out += ((r, centers(r - 1), 0L))
      }
    }
    out.result()
  }
}
