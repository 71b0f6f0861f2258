package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** e176 — checkpoint discipline of the stored-kNN-graph consumer: a
  * single invocation must release
  * every upstream pin (the e173 fold graph, the mutual-pair edge list,
  * the CC label table) once the cluster-grain census is materialized,
  * and REPEATED invocations (Bench's median-of-3, ProbeMain passes)
  * must not accumulate one frame each — the one-per-key Pins.slot
  * releases the prior invocation's census before the next builds. Same
  * contract pinned for e173's buildOnly (production) plan, whose
  * returned fold graph rides the same swap.
  *
  * Fixture: E173Spec's circular-arc corpus written as a real
  * embeddings.parquet dir, so the REGISTERED query functions (not just
  * e173Core) are what's driven — the store path, fingerprint
  * amortization, and swap keys all exercise their production spellings.
  */
class E176Spec extends SparkSpecBase {

  test("repeated e176/e173-production invocations pin at most one " +
    "frame each (persistent-RDD delta bounded, results stable)") {
    import spark.implicits._
    val n = 40
    val ang = (0 until n).map(i => i * 0.07)
    val emb = ang.zipWithIndex.map { case (th, i) =>
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    val fixDir = java.nio.file.Files
      .createTempDirectory("graft_e176").toString
    emb.write.parquet(s"$fixDir/embeddings.parquet")

    val run176 = graft.SparkEntry.queries("e176_knn_store_clusters")
    val run173p = graft.SparkEntry
      .buildOnlyQueries("e173_knn_persist_fold")

    val pinned0 = spark.sparkContext.getPersistentRDDs.size
    val r1 = run176(spark, fixDir).collect().map(_.toSeq).toSeq
    assert(r1.nonEmpty, "arc fixture produced no mutual-kNN clusters")
    val afterFirst = spark.sparkContext.getPersistentRDDs.size
    assert(afterFirst <= pinned0 + 1,
      s"one e176 run pinned ${afterFirst - pinned0} frames — upstream " +
        "checkpoints (fold graph, mutual pairs, CC labels) leaked")
    // steady repetition: the swap releases the prior census, so the
    // pin count must PLATEAU, not grow by one per invocation
    val r2 = run176(spark, fixDir).collect().map(_.toSeq).toSeq
    val r3 = run176(spark, fixDir).collect().map(_.toSeq).toSeq
    assert(r2 === r1 && r3 === r1,
      "repeated e176 invocations disagree on the census")
    assert(spark.sparkContext.getPersistentRDDs.size <= pinned0 + 1,
      "repeated e176 invocations accumulate checkpoints")

    // e173's production (buildOnly) plan: same one-slot contract —
    // three timed-pass-shaped invocations, at most one surviving pin
    val p0 = spark.sparkContext.getPersistentRDDs.size
    def fold(): Set[(Long, Long)] =
      run173p(spark, fixDir).select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val f1 = fold(); val f2 = fold(); val f3 = fold()
    assert(f2 === f1 && f3 === f1,
      "repeated production folds disagree on the stored-graph fold")
    assert(spark.sparkContext.getPersistentRDDs.size <= p0 + 1,
      "repeated e173 production invocations accumulate fold checkpoints")
  }
}
