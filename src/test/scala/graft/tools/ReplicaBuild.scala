package graft.tools

import org.apache.spark.sql.functions._

/** Builds the dup-heavy replica corpora the SCALING.md probes run on
  * (dev only): sf0.1 documents replicated N× with DISTINCT doc_ids —
  * every source document becomes an exact-duplicate cluster of N, the
  * dense-cluster worst case for the dedup family. Usage:
  *
  *   sbt "Test/runMain graft.tools.ReplicaBuild 100 /tmp/probe100x"
  *
  * Ids are offset by replica (id + k·10⁹) so id-keyed operators see
  * distinct rows; values are byte-identical across replicas, which is
  * exactly what makes the corpus a worst case (every band/bucket/gram
  * collides N ways).
  */
object ReplicaBuild {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 10
    val out = if (args.length > 1) args(1) else s"/tmp/probe${n}x"
    val src = sys.env.getOrElse("REPLICA_SRC", "/root/testdata/sf0.1")
    val spark = graft.Graft.builder(Some(32)).master("local[32]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def replicate(table: String, idCols: Seq[String]): Unit = {
      val t = spark.read.parquet(s"$src/$table.parquet")
      val rep0 = t
        .crossJoin(spark.range(n).select(col("id").as("__rep")))
      val rep = idCols.foldLeft(rep0) { (d, c) =>
        d.withColumn(c, col(c) + col("__rep") * 1000000000L)
      }.drop("__rep")
      rep.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$table.parquet")
      println(s"wrote ${n}x replica of $src/$table.parquet to $out " +
        s"(${spark.read.parquet(s"$out/$table.parquet").count()} rows)")
    }
    replicate("documents", Seq("doc_id"))
    // embeddings for the similarity-family probes: vec_ids offset per
    // replica, vectors byte-identical — the dense-duplicate worst case
    // (every true neighbor list is the clone set)
    replicate("embeddings", Seq("vec_id"))
    // fact tables for the q-series probes: orderkeys offset per replica
    // so the lineitem⋈orders volume scales honestly; user ids offset so
    // the events user-keyed exchange scales its key population; dims
    // copied verbatim (they stay broadcast at any fact scale)
    if (sys.env.contains("REPLICA_FACTS")) {
      replicate("events", Seq("user_id"))
      replicate("lineitem", Seq("l_orderkey"))
      replicate("orders", Seq("o_orderkey"))
      for (d <- Seq("supplier", "customer", "nation", "region", "part"))
        spark.read.parquet(s"$src/$d.parquet").repartition(4)
          .write.mode("overwrite").parquet(s"$out/$d.parquet")
    }
    spark.stop()
  }
}
