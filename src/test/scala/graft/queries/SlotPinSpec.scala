package graft.queries

import graft.SparkSpecBase

/** Queries whose checkpointed input rides the returned plan hold it in
  * a [[graft.operators.Pins.slot]] keyed by the query name: a repeated
  * call releases the previous call's pin, so a benchmark's timed
  * passes hold one pin per query instead of one per call.
  */
class SlotPinSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  for (name <- Seq("e117_conformal_select", "e76_curriculum_bins",
      "q44_interpolate"))
    test(s"$name holds one pin across repeated calls") {
      val run = graft.SparkEntry.queries(name)
      val first = run(spark, dir).collect().toSeq
      val afterFirst = spark.sparkContext.getPersistentRDDs.size
      val second = run(spark, dir).collect().toSeq
      assert(second === first)
      assert(spark.sparkContext.getPersistentRDDs.size <= afterFirst,
        s"$name pinned a frame per call")
    }
}
