package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** e170 — the persisted IVF re-split's "done" criteria beyond the
  * oracle row: the rewritten `list_id`-partitioned layout must still
  * PRUNE — a probe filtered to one cell (including a NEW far_id cell
  * that did not exist pre-split) reaches the scan as a PartitionFilter
  * and reads only that cell's directory — and the rewrite must be
  * lossless (every corpus vector lands in exactly one post-split
  * cell).
  */
class IvfPersistSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("post-split probes prune to the probed cell's directory — " +
    "including a cell created by the split") {
    // persistent-RDD discipline (r14 ADVICE): the hot-cell member
    // frame is released before the build returns — each maintenance
    // invocation may pin only the tiny cell-grain `far` frame the
    // lazily-returned census still needs, never the member working set
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val (postPath, censusDf) = graft.operators.Pins.slot("IvfPersistSpec")(
      ExtensionQueries.ivfResplitPersist(_, spark, dir))
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore + 1,
      "ivfResplitPersist pinned more than the cell-grain far frame")
    val census = censusDf.collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue, r.getAs[Number](3).intValue))
    assert(census.nonEmpty, "no hot cells split at sf0.001")

    val post = spark.read.parquet(postPath)
    // losslessness: the rewrite holds exactly the corpus
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isNotNull).count()
    assert(post.count() === nVecs)
    // split bookkeeping: per split cell, keep + moved = the persisted
    // counts of the two post-split cells
    for ((src, grp) <- census.groupBy(_._1)) {
      assert(grp.map(_._4).sorted.toSeq === Seq(0, 1), s"cell $src")
      val onDisk = post
        .filter(col("list_id").isin(grp.map(_._2).toSeq: _*))
        .count()
      assert(onDisk === grp.map(_._3).sum, s"cell $src")
    }

    // the probe pin, on a NEW cell born from the split: the cell
    // filter reaches the scan as a PartitionFilter (pruned before IO —
    // the LayoutSpec pruning contract), and the pruned read returns
    // exactly the cell's persisted members
    val (_, newCell, nNew, _) =
      census.filter(c => c._4 == 1 && c._3 > 0).head
    val probe = post.filter(col("list_id") === newCell)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(list_id"),
      plan.take(2000))
    assert(probe.count() === nNew)

    // and the production probe SHAPE — selective dim ⋈ index on the
    // partition column — still drives dynamic partition pruning
    // against the rewritten table
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft_e170_dim").toString + "/dim"
    censusDf.select(col("cid").as("list_id"), col("is_new"))
      .write.mode("overwrite").parquet(dimDir)
    val j = post.join(
      spark.read.parquet(dimDir).filter(col("is_new") === 1), "list_id")
    val jPlan = j.queryExecution.executedPlan.toString
    assert(jPlan.contains("dynamicpruning"), jPlan.take(4000))
    assert(j.count() === census.filter(_._4 == 1).map(_._3).sum)

    // and the maintenance loop composes: the rewrite carried the
    // partitioned-layout marker, so compactPartitioned runs on the
    // post-split index and pruning + counts survive the compaction
    graft.sources.Layout.compactPartitioned(spark, postPath)
    val post2 = spark.read.parquet(postPath)
    assert(post2.count() === nVecs)
    val probe2 = post2.filter(col("list_id") === newCell)
    assert(probe2.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(list_id"))
    assert(probe2.count() === nNew)
  }
}
