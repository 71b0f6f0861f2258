package graft.queries

import org.apache.spark.sql.SparkSession

import graft.SparkSpecBase

/** Partition-count parity gate: results must be IDENTICAL under the
  * bench layout (32 shuffle partitions) and the driver's Verify layout
  * (4). This is the configuration axis that exposed the
  * spark_partition_id corruption in withGlobalIndex — AQE coalesces
  * small shuffles differently at different partition counts, so any
  * operator whose values depend on physical partitioning (rather than
  * only on the data) diverges exactly here. Covers the
  * partition-sensitive queries: global indexing, sampling-based range
  * partitioning, and the LSH/IVF bucket joins.
  */
class FewPartitionSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq(
    "e25_shuffle", "q10_window_index", "e6_ann_lsh", "e17_ann_ivf",
    "e24_chunking",
    // money aggregates: integer-cents arithmetic makes the rounded sums
    // independent of partial-aggregation fold order — double sums are
    // NOT (their boundary flips are exactly what q22 exposed)
    "q1_pricing_summary", "q22_returned_items",
    // r12: driver-loop selections (histogram collect per round — counts
    // are integers, so fold order must not matter), the shot-shingle
    // band join, and the claim-cell overlap join (cell ownership is
    // arithmetic on values, never on physical placement)
    "e159_multipass_quantile", "e162_grouped_quantile",
    "e161_video_neardup", "q60_overlap_join",
    // r13: the iterated reach/register unions (checkpoint-per-round
    // frames re-aggregated by round tag), the constellation vote
    // argmax, and the hot-cell reassignment (float argmaxes whose
    // tie-breaks are value arithmetic, never placement)
    "e165_neighborhood_fn", "e166_audio_fingerprint",
    "e167_ivf_resplit")

  private def at(parts: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s
  }

  test("results are partition-count invariant (4 vs 32)") {
    val s4 = at(4)
    val s32 = at(32)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // a query's next call frees the pins its previous result reads,
      // so the first result is copied into a local relation first
      val first = fn(s4, dir)
      val a = s4.createDataFrame(first.collectAsList(), first.schema)
      val b = fn(s32, dir)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$n differs between 4 and 32 shuffle partitions")
    }
  }
}
