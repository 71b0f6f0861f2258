package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkSpecBase
import graft.operators.{Adaptive, Pins}
import graft.sources.Tables

/** The planner's own size estimates that let the queries join frames
  * that are small by construction without a `broadcast()` hint: a
  * global aggregate (one row), the fixed-cardinality `nation` and
  * `region` dimensions, local and range frames, and a checkpoint of a
  * small frame. Each must be the broadcast side of a static plan (AQE
  * off) with no hint; if an upgrade stops sizing one of them, its
  * unhinted joins would silently fall back to shuffles or to a
  * `CartesianProductExec`.
  */
class PlannerSizingSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private lazy val s: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** The build side of the plan's one broadcast join of the given kind. */
  private def built(df: DataFrame, nested: Boolean): BuildSide = {
    val p = df.queryExecution.executedPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    val sides = p.collect {
      case j: BroadcastNestedLoopJoinExec if nested => j.buildSide
      case j: BroadcastHashJoinExec if !nested => j.buildSide
    }
    assert(sides.size == 1, s"expected one broadcast join in\n$p")
    sides.head
  }

  test("a global aggregate is the build side of its cross join") {
    val tot = Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
    assert(tot.queryExecution.optimizedPlan.stats.rowCount.contains(1))
    assert(built(Tables.lineitem(s, dir).crossJoin(tot), nested = true)
      == BuildRight)
    assert(built(tot.crossJoin(Tables.lineitem(s, dir)), nested = true)
      == BuildLeft)
  }

  test("nation and region are the build side of their joins") {
    val n = Tables.nation(s, dir)
    assert(built(Tables.customer(s, dir)
      .join(n, col("c_nationkey") === col("n_nationkey")), nested = false)
      == BuildRight)
    assert(built(n.join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
      col("n_regionkey") === col("r_regionkey")), nested = false)
      == BuildRight)
  }

  test("local and range frames are the build side") {
    import s.implicits._
    val levels = Seq(1L, 2L, 4L).toDF("k")
    assert(built(Tables.lineitem(s, dir)
      .join(levels, col("l_linenumber") <= col("k")), nested = true)
      == BuildRight)
    assert(built(Tables.orders(s, dir)
      .join(levels, col("o_orderkey") === col("k")), nested = false)
      == BuildRight)
    assert(built(Tables.orders(s, dir).crossJoin(s.range(10)), nested = true)
      == BuildRight)
  }

  test("a checkpoint of a small frame keeps a small size estimate") {
    Pins.scope { p =>
      val c = p.checkpoint(Tables.nation(s, dir))
      val size = c.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size < BigInt(Adaptive.broadcastThreshold(c)),
        s"checkpointed nation reports $size bytes")
    }
  }
}
