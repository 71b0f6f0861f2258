package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DataFrame-native Lloyd's k-means over embedding columns — the
  * TRAINED-codebook path for IVF ANN (e17 ships with a deterministic
  * corpus-sample codebook and names this as its next lever: a trained
  * codebook drops into the same assign/search plan and cuts the
  * within-list scan by concentrating lists around real density).
  *
  * Each iteration is two passes, both parallel in the data:
  *   1. assign: nearest centroid by squared L2, unrolled to k fused
  *      expressions over the BROADCAST centroid literals (k is small by
  *      construction — a codebook, not the corpus; MLlib makes the same
  *      centroids-on-driver trade);
  *   2. update: `posexplode` the vectors to (cluster, dim, value) rows
  *      and average per (cluster, dim) — one keyed shuffle whose
  *      cardinality is k x dims, independent of corpus size. The new
  *      centroids (k x dims doubles) return to the driver for the next
  *      round's literals.
  *
  * Initialization is deterministic farthest-point traversal (k-center
  * greedy: seed at the min-keyed point, then repeatedly take the point
  * farthest from its nearest chosen seed, min id on ties) — k
  * aggregation passes that spread seeds across the real modes, where a
  * lowest-k-ids init can strand every seed in one dense blob. Runs are
  * reproducible on a fixed corpus. Float caveat: the per-dimension
  * mean folds doubles in shuffle order, so centroids are deterministic
  * only up to float association — fine for a codebook (assignment
  * quality is insensitive to last-ulp centroid wiggle), which is why
  * this operator is spec-pinned by cluster-recovery tolerance rather
  * than oracle-compared bit-exactly.
  *
  * Empty clusters keep their previous centroid (the standard Lloyd
  * fallback) rather than being reseeded, preserving determinism.
  */
object KMeans {

  /** @param points (id, vec) rows; `vecCol` is array<double> of `dims`
    * @param k      codebook size
    * @param iters  fixed Lloyd iterations (deterministic run length)
    * @return centroids as (cluster_id, centroid array), cluster_id in
    *         [0, k)
    */
  def fit(
      points: DataFrame, idCol: String, vecCol: String, dims: Int,
      k: Int, iters: Int): Array[Array[Double]] = Pins.scope { p =>
    // NULL vectors can't be assigned or averaged — drop them here, the
    // same never-matches semantics as the join operators' NULL keys.
    // Persisted for the fit: the distinct guard + k-1 farthest-point
    // scans + `iters` assignment passes each re-read the input, and the
    // training set is a SAMPLE by contract (codebook training reads a
    // bounded draw, never the corpus), so it fits executor storage; it
    // is released with the scope.
    val vecs = p.persist(points.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull))
    // k DISTINCT vectors, not just k rows: with fewer distinct points
    // the farthest-point init would silently emit duplicate centroids
    // (every remaining max-distance is 0), leaving permanently empty
    // clusters in the codebook.
    require(vecs.select("v").distinct().limit(k).count() == k,
      s"need at least $k distinct points")
    val first = vecs.orderBy("id").limit(1).select("v").head
      .getSeq[Double](0).toArray
    var centroids: Array[Array[Double]] = Array(first)
    while (centroids.length < k) {
      val dists = centroids.map(c => dist2(col("v"), c))
      val nearest =
        if (dists.length == 1) dists.head else least(dists.toIndexedSeq: _*)
      val far = vecs
        .agg(max(struct(nearest.as("d"), (-col("id")).as("ni"),
          col("v").as("v"))).as("m"))
        .select("m.v").head.getSeq[Double](0).toArray
      centroids :+= far
    }

    for (_ <- 0 until iters) {
      val assigned = assign(vecs, centroids)
      val sums = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val c = r.getInt(0); val d = r.getInt(1)
        next(c)(d) = r.getDouble(2) / r.getLong(3)
      }
      centroids = next
    }
    centroids
  }

  /** Squared L2 from array column `v` to the centroid literal `c`. */
  private def dist2(v: Column, c: Array[Double]): Column = {
    val cArr = array(c.map(lit(_)).toIndexedSeq: _*)
    aggregate(
      zip_with(v, cArr, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Adds `cluster` = nearest-centroid index (squared L2, min index on
    * ties) as one fused expression tree over centroid literals.
    */
  def assign(
      points: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    // argmin via least-of-structs: (dist, idx) min is lexicographic, so
    // equal distances break to the lower cluster id
    val cands = centroids.zipWithIndex.map { case (c, i) =>
      struct(dist2(col("v"), c).as("d"), lit(i).as("i"))
    }
    val best =
      if (cands.length == 1) cands.head else least(cands.toIndexedSeq: _*)
    points.withColumn("cluster", best.getField("i"))
  }
}
