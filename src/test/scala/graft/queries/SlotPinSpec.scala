package graft.queries

import graft.SparkSpecBase

/** Queries whose checkpointed input rides the returned plan hold it in
  * the [[graft.operators.Pins.slot]] named after the query: a repeated
  * call releases the previous call's pins, so a benchmark's timed
  * passes hold one set of pins per query instead of one per call. The
  * NN-Descent queries are checked in both forms: the audited run and
  * the production plan (`buildOnlyQueries`); e173, e156 and e163 in
  * their audited form.
  */
class SlotPinSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private val nnDescent = Seq("e147_nn_descent", "e147b_nn_descent_int8",
    "e158_nn_descent_inc")

  private val forms =
    (Seq("e117_conformal_select", "e76_curriculum_bins", "q44_interpolate",
      "e173_knn_persist_fold", "e156_incremental_cc",
      "e163_lpa_communities") ++ nnDescent)
      .map(n => n -> graft.SparkEntry.queries(n)) ++
    nnDescent.map(n =>
      s"$n (production)" -> graft.SparkEntry.buildOnlyQueries(n))

  // Both returned frames stay reachable until the count is taken: an
  // unreachable frame's checkpoints may be unpersisted by Spark's
  // ContextCleaner after a GC, which would hide a missing release.
  for ((name, run) <- forms)
    test(s"$name holds one pin across repeated calls") {
      val df1 = run(spark, dir)
      val first = df1.collect().toSeq
      val afterFirst = spark.sparkContext.getPersistentRDDs.size
      val df2 = run(spark, dir)
      val second = df2.collect().toSeq
      val afterSecond = spark.sparkContext.getPersistentRDDs.size
      java.lang.ref.Reference.reachabilityFence(Seq(df1, df2))
      assert(second === first)
      assert(afterSecond <= afterFirst, s"$name pinned a frame per call")
    }
}
