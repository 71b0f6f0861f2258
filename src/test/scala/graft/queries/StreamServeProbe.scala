package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Serving-latency probe for the online legs (dev only, not
  * registered): feeds micro-batches of query/fresh vectors through
  * [[graft.streaming.StreamKnnFold]] (attach against a freshly built
  * persisted kNN base graph) and — when the corpus's codebook is
  * config-sized — [[graft.streaming.StreamIvfProbe.serve]], and
  * reports per-micro-batch latency percentiles + input rates from the
  * query progress stream. SCALING.md's streaming rows cite these.
  *
  * Env: PROBE_DIR (corpus dir with embeddings.parquet),
  * PROBE_BATCH (rows per micro-batch, default 2000),
  * PROBE_BATCHES (micro-batches fed, default 10),
  * PROBE_SKIP_IVF=1 (skip the serve leg — the %67 codebook stand-in
  * grows with the corpus, and a replica-scale "codebook" is not the
  * config-sized object the operator contracts for).
  */
object StreamServeProbe {

  private def pct(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) -1L
    else xs.sorted.apply(math.min(xs.size - 1,
      (p * xs.size).toInt))

  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(Some(32)).master("local[32]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    import spark.implicits._
    val dir = sys.env.getOrElse("PROBE_DIR", "/root/testdata/sf0.1")
    val batchRows = sys.env.getOrElse("PROBE_BATCH", "2000").toInt
    val nBatches = sys.env.getOrElse("PROBE_BATCHES", "10").toInt
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nVec = emb.count()

    // ---- kNN attach leg -------------------------------------------------
    val tag = Integer.toHexString(dir.hashCode)
    val store = s"/tmp/graft_ssp_$tag/knn_base"
    val t0 = System.nanoTime()
    val legs = AnalysisQueries.e173Core(spark, emb, 10,
      baseRounds = 3, foldRounds = 2, scratchRounds = 3, store,
      production = true)
    graft.operators.Pins.scope(_.own(legs.foldFinal))
    val buildS = (System.nanoTime() - t0) / 1e9
    val freshExpr =
      "(((vec_id % 1000003) * 2654435761) % 1000000007) % 5 = 4"
    val base = emb.filter(expr(s"NOT ($freshExpr)"))
    val fresh = emb.filter(expr(freshExpr))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .limit(batchRows * nBatches).collect().toSeq
    // bits sizes the band tables to the corpus (2^bits buckets per
    // table): leaving the default 4 at replica scale saturates the 16
    // buckets and the per-batch candidate fan-out grows linearly with
    // the corpus — the measured difference is in SCALING.md
    val bits = sys.env.getOrElse("PROBE_BITS", "4").toInt
    // PROBE_KNN_REPLAY=1: time the stateless candidate+score plan
    // alone per chunk (batch mode) — separates scoring cost from the
    // stateful top-k leg when attributing per-batch latency
    if (sys.env.get("PROBE_KNN_REPLAY").contains("1")) {
      val storedDf = spark.read.parquet(store)
      fresh.grouped(batchRows).zipWithIndex.foreach { case (chunk, i) =>
        val t1 = System.nanoTime()
        val n = graft.streaming.StreamKnnFold.scoredCandidates(
          chunk.toDF("vec_id", "embedding"), base, storedDf,
          tables = 4, bits = bits).count()
        println(f"==   replay chunk=$i%d cands=$n%d " +
          f"t=${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
    }
    val ms = MemoryStream[(Long, Array[Float])]
    val attach = graft.streaming.StreamKnnFold.attach(
      ms.toDF().toDF("vec_id", "embedding"),
      base, spark.read.parquet(store), k = 5, bits = bits)
    val q = attach.writeStream.format("memory")
      .queryName(s"ssp_knn_$tag").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    val durs = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      fresh.grouped(batchRows).foreach { chunk =>
        ms.addData(chunk)
        q.processAllAvailable()
      }
      q.recentProgress.foreach { p =>
        if (p.numInputRows > 0)
          durs += p.durationMs.get("triggerExecution")
      }
    } finally q.stop()
    println(f"== knn_attach corpus=$nVec%d bits=$bits%d " +
      f"base_graph_build=$buildS%.1f s " +
      f"batch=$batchRows%d batches=${durs.size}%d " +
      f"p50=${pct(durs.toSeq, 0.5)}%d ms p90=${pct(durs.toSeq, 0.9)}%d ms " +
      f"max=${if (durs.isEmpty) -1 else durs.max}%d ms " +
      f"rows_per_s=${
        if (durs.isEmpty) 0L
        else batchRows * 1000L * durs.size / math.max(1L, durs.sum)}%d")

    // ---- IVF serve leg --------------------------------------------------
    if (!sys.env.get("PROBE_SKIP_IVF").contains("1")) {
      val (idxPath, _) = graft.operators.Pins.scope(
        ExtensionQueries.ivfResplitPersist(_, spark, dir))
      val idx = spark.read.parquet(idxPath)
      val cents = idx.filter(col("vec_id") % 67 === 3)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"),
          col("nrm").as("cnrm"))
      val nCells = cents.count()
      val queries = idx.filter(col("vec_id") % 97 === 5)
        .select(col("vec_id"), col("emb"))
        .as[(Long, Seq[Double])]
        .limit(batchRows * nBatches).collect().toSeq
      val ms2 = MemoryStream[(Long, Seq[Double])]
      val sdurs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var served = 0L
      val q2 = graft.streaming.StreamIvfProbe.serve(
          ms2.toDF().toDF("query_id", "embedding"), idx, cents,
          k = 3, nprobe = 2) { (df, _) =>
          val n = df.count(); served += n
        }
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        queries.grouped(batchRows).foreach { chunk =>
          ms2.addData(chunk)
          q2.processAllAvailable()
        }
        q2.recentProgress.foreach { p =>
          if (p.numInputRows > 0)
            sdurs += p.durationMs.get("triggerExecution")
        }
      } finally q2.stop()
      println(f"== ivf_serve corpus=$nVec%d cells=$nCells%d " +
        f"queries=${queries.size}%d served_rows=$served%d " +
        f"batches=${sdurs.size}%d p50=${pct(sdurs.toSeq, 0.5)}%d ms " +
        f"p90=${pct(sdurs.toSeq, 0.9)}%d ms " +
        f"max=${if (sdurs.isEmpty) -1 else sdurs.max}%d ms")
    }
    spark.stop()
  }
}
