package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.queries.ExtensionQueries.cosineTopkExact
import graft.sources.{Layout, Tables}

/** ANN scale probe (dev only, not registered): measures the exact-vs-
  * indexed PROBE cost split that justifies e64's persisted IVF layout,
  * on replicated embedding corpora (`/tmp/annprobe{100x,1000x}`,
  * pyarrow id-offset replicas of sf0.1 — duplicate VALUES, distinct
  * ids: cost is value-independent, so replication measures scan/join
  * volume honestly even though recall would be meaningless here).
  *
  * Phases, each timed after a JVM warmup pass:
  *  - build: broadcast-codebook assignment (≈ corpus × √n dots) + the
  *    list_id-partitioned index write — the ONE-OFF cost the layout
  *    amortizes across probe workloads;
  *  - exact probe: a FIXED 100-query set against the raw corpus via
  *    [[cosineTopkExact]] (linear in corpus size per workload);
  *  - indexed probe: the same 100 queries against the persisted index
  *    with dynamic partition pruning (reads only probed cells' files).
  */
object AnnProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(Some(32)).master("local[32]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("ANN_PROBE_DIR", "/tmp/annprobe100x")
    val cells = sys.env.getOrElse("ANN_PROBE_CELLS", "512").toInt

    val embD = col("embedding").cast("array<double>")
    def base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), embD.as("emb"))
      .withColumn("nrm", sqrt(F.array_dot(col("emb"), col("emb"))))
      .filter(col("vec_id").isNotNull)
    val n = base.count()
    val m = math.max(n / cells, 1L) // vec_id % m == 3 -> ~`cells` centroids
    // fixed probe workload: 100 queries from the FIRST replica only, so
    // the workload does not grow with corpus replication
    val origN = 2000L
    def queries = base.filter(col("vec_id") < origN && col("vec_id") % 20 === 5)

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"== $label%-14s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // warmup: JIT/codegen + page cache for the corpus file
    base.agg(sum(col("nrm"))).collect()

    // ---- build: assignment + cell-partitioned write ------------------
    // flat: every vector scores the FULL codebook (n x cells dots).
    // hierarchical (ANN_PROBE_HIER=1): the next-100x lever measured —
    // score a ~sqrt(cells) top-level codebook first, then only the
    // centroids routed to that coarse cell (n x ~2*sqrt(cells) dots).
    // Cell ids differ from flat assignment (coarse routing is lossy);
    // the probe-side cost model is identical, which is what's measured.
    val hier = sys.env.get("ANN_PROBE_HIER").contains("1")
    val path = s"/tmp/graft_annprobe_idx_${n}_${cells}_$hier"
    val cent = base.filter(col("vec_id") % m === 3)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        col("nrm").as("cnrm"))
    def argmaxBy(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
        score: org.apache.spark.sql.Column,
        id: org.apache.spark.sql.Column, out: String) =
      df.groupBy(keyCols.map(col): _*)
        .agg(max(struct(score.as("s"), (-id).as("ni"))).as("x"))
        .select(keyCols.map(col) :+ (-col("x.ni")).as(out): _*)
    val assign = if (!hier) {
      argmaxBy(
        base.crossJoin(broadcast(cent))
          .select(col("vec_id"),
            (F.array_dot(col("emb"), col("cemb")) /
              (col("nrm") * col("cnrm"))).as("cs"), col("cid")),
        Seq("vec_id"), col("cs"), col("cid"), "list_id")
    } else {
      val nCents = cent.count()
      val coarseK = math.max(math.sqrt(nCents.toDouble).round, 1L)
      val top = cent.orderBy("cid").limit(coarseK.toInt)
        .select(col("cid").as("tid"), col("cemb").as("temb"),
          col("cnrm").as("tnrm"))
      // route each centroid to its coarse cell (tiny: cells x sqrt)
      val centRoute = argmaxBy(
        cent.crossJoin(broadcast(top))
          .select(col("cid"),
            (F.array_dot(col("cemb"), col("temb")) /
              (col("cnrm") * col("tnrm"))).as("ts"), col("tid")),
        Seq("cid"), col("ts"), col("tid"), "route")
      val routed = cent.join(centRoute, "cid")
      // vectors: coarse pass against sqrt(cells) tops...
      val vecCoarse = argmaxBy(
        base.crossJoin(broadcast(top))
          .select(col("vec_id"),
            (F.array_dot(col("emb"), col("temb")) /
              (col("nrm") * col("tnrm"))).as("ts"), col("tid")),
        Seq("vec_id"), col("ts"), col("tid"), "route")
      // ...then fine pass against only the centroids routed to that cell
      argmaxBy(
        base.join(vecCoarse, "vec_id")
          .join(broadcast(routed), "route")
          .select(col("vec_id"),
            (F.array_dot(col("emb"), col("cemb")) /
              (col("nrm") * col("cnrm"))).as("cs"), col("cid")),
        Seq("vec_id"), col("cs"), col("cid"), "list_id")
    }
    timed(if (hier) "build-hier" else "build") {
      Layout.writePartitionedIfStale(
        base.join(assign, "vec_id"), path, Seq("list_id"),
        Layout.scanFingerprint(Tables.embeddings(spark, dir)) +
          s"_${cells}_$hier")
    }

    // ---- exact probe: 100 queries x full corpus ----------------------
    val k = 3
    def exact() = cosineTopkExact(
      queries.select(col("vec_id").as("query_id"), col("emb").as("qe")),
      base.select(col("vec_id").as("neighbor_id"), col("emb").as("ce")),
      k).count()
    exact() // warmup
    timed("exact-probe")(exact())

    // ---- indexed probe: same queries, DPP over probed cells ----------
    def indexed() = {
      val idx = spark.read.parquet(path)
      val probe = idx
        .filter(col("vec_id") < origN && col("vec_id") % 20 === 5)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
          col("nrm").as("qnrm"), col("list_id").as("qlist"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      probe.as("q")
        .join(idx.as("i"),
          col("qlist") === col("i.list_id") &&
            col("query_id") =!= col("i.vec_id"))
        .select(col("query_id"), col("i.vec_id").as("neighbor_id"),
          round(F.array_dot(col("qemb"), col("i.emb")) /
            (col("qnrm") * col("i.nrm")), 4).as("cosine"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .count()
    }
    indexed() // warmup
    timed("indexed-probe")(indexed())

    println(s"n=$n cells=$cells centroids~${n / m}")
    spark.stop()
  }
}
