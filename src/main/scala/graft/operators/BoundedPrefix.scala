package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix primitives over construction-bounded frames WITHOUT an
  * unpartitioned `Window.orderBy`: a partitionSpec-less WindowExec
  * moves its whole input to ONE task.
  * For the codomain-bounded frames these helpers serve (basis-point
  * frequency tables, length-support spines, quantity-bin grids) that
  * single task was never a 100 TB hazard, but it is a single-task sort
  * all the same, it serializes with everything downstream, and it
  * drowns the logs in `WindowExec: No Partition Defined` warnings that
  * mask real ones.
  *
  * Shape: a coarse MONOTONE bucket of the sort key partitions the
  * within-bucket window (parallel across buckets, no warning), and the
  * cross-bucket carry is a broadcast non-equi join over the
  * bucket-totals frame — at most a few hundred rows by construction,
  * so the nested-loop pairing is bounded at ~10⁴–10⁵ comparisons
  * regardless of corpus size. Every data-bearing stage stays parallel.
  *
  * Requirements (caller-proved, same contract as
  * [[Indexing.withGlobalIndex]]): `key` is duplicate-free in `df` (all
  * call sites pass GROUP BY results keyed on it), and `bucket` is
  * non-decreasing in `key` (e.g. `key div 64`). Values must be LongType
  * (integer engine arithmetic — the repo-wide rule).
  *
  * Both the within-bucket window and the bucket-totals branch read the
  * input, so it is read twice. When it is an expensive subtree rather
  * than a checkpoint or a cheap aggregate of one, the caller
  * checkpoints it first through its [[Pins]] scope, which owns the pin;
  * a pin that rides a query's returned plan belongs to the query's
  * slot (`QueryDef.pinned`).
  */
object BoundedPrefix {

  /** Adds, for each `(valueCol, outName)` in `sums`, the INCLUSIVE
    * prefix sum of `valueCol` in ascending unique-`key` order.
    * Equivalence to `sum(v).over(Window.orderBy(key))`: with unique
    * keys the RANGE/ROWS frame distinction is vacuous, and
    * cum(k) = withinBucketCum(k) + Σ(totals of strictly-earlier
    * buckets) — exact integer identities.
    */
  def cumsum(df: DataFrame, key: String, bucket: Column,
      sums: Seq[(String, String)]): DataFrame = {
    val in = df.withColumn("__b", bucket.cast("long"))
    val w = Window.partitionBy("__b").orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = sums.foldLeft(in) { case (d, (v, out)) =>
      d.withColumn(out, sum(col(v)).over(w))
    }
    val tot = in.groupBy(col("__b").as("__tb"))
      .agg(sums.head match { case (v, out) => sum(col(v)).as(s"__t_$out") },
        sums.tail.map { case (v, out) => sum(col(v)).as(s"__t_$out") }: _*)
    val off = tot.as("a")
      .join(broadcast(tot.as("p")), col("p.__tb") < col("a.__tb"), "left")
      .groupBy(col("a.__tb").as("__b"))
      .agg(sums.head match { case (_, out) =>
          sum(col(s"p.__t_$out")).as(s"__o_$out") },
        sums.tail.map { case (_, out) =>
          sum(col(s"p.__t_$out")).as(s"__o_$out") }: _*)
    within.join(broadcast(off), "__b")
      .select(df.columns.map(col) ++ sums.map { case (_, out) =>
        (col(out) + coalesce(col(s"__o_$out"), lit(0L))).as(out)
      }: _*)
  }

  /** Adds `outName` = the next `key` in ascending unique-`key` order
    * (null on the overall last row) — `lead(key, 1)` without the
    * unpartitioned window. Within a bucket the partitioned lead is
    * exact; a bucket's LAST row takes the minimum first-key of all
    * strictly-later buckets, which by bucket monotonicity is exactly
    * the next key overall.
    */
  def leadKey(df: DataFrame, key: String, bucket: Column,
      outName: String): DataFrame = {
    val in = df.withColumn("__b", bucket.cast("long"))
    val w = Window.partitionBy("__b").orderBy(key)
    val within = in.withColumn("__wl", lead(col(key), 1).over(w))
    val firsts = in.groupBy(col("__b").as("__fb"))
      .agg(min(col(key)).as("__fv"))
    val nxtb = firsts.as("a")
      .join(broadcast(firsts.as("n")), col("n.__fb") > col("a.__fb"), "left")
      .groupBy(col("a.__fb").as("__b"))
      .agg(min(col("n.__fv")).as("__nb"))
    within.join(broadcast(nxtb), "__b")
      .select(df.columns.map(col)
        :+ coalesce(col("__wl"), col("__nb")).as(outName): _*)
  }
}
