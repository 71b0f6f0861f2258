package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan-health report generator (dev tool): dumps PLANS.md — one row
  * per registered query with the static physical plan's scan count,
  * exchange counts, join strategies, window/limit operators, and
  * whole-stage-codegen span count, plus a second AQE-ON table of the
  * EXECUTED final adaptive plans (VERDICT r7 item 6): what the runtime
  * re-planner actually did — partition coalescing, skew splits, local
  * shuffle reads, and SMJ→BHJ conversions — under the production-default
  * config the static table deliberately disables. The numbers
  * PlanLintSpec gates on, made visible for review.
  */
object PlanReport {

  private def count(p: SparkPlan)(f: PartialFunction[SparkPlan, Unit]): Int =
    p.collect { case n if f.isDefinedAt(n) => 1 }.sum

  private def joinSummary(p: SparkPlan): String = {
    val smj = count(p) { case _: SortMergeJoinExec => }
    val bhj = count(p) { case _: BroadcastHashJoinExec => }
    val shj = count(p) { case _: ShuffledHashJoinExec => }
    val bnlj = count(p) { case _: BroadcastNestedLoopJoinExec => }
    val s = Seq(
      if (smj > 0) s"${smj}SMJ" else "", if (bhj > 0) s"${bhj}BHJ" else "",
      if (shj > 0) s"${shj}SHJ" else "",
      if (bnlj > 0) s"${bnlj}BNLJ" else "").filter(_.nonEmpty).mkString("+")
    if (s.isEmpty) "none" else s
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(Some(4)).master("local[4]")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PLAN_DIR", "/root/testdata/sf0.001")
    val skip = Set("g1_mock_batch", "p1_pipeline_e2e")
    val defs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) }

    // ---- Pass 1: static plans, AQE off — the shape Catalyst commits to
    // ---- before runtime stats.
    val staticStats = defs.map { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan
      val scans = count(p) { case _: FileSourceScanExec => }
      val pushed = p.collect { case s: FileSourceScanExec => s }
        .count(_.metadata.get("PushedFilters").exists(_ != "[]"))
      val shuffles = count(p) { case _: ShuffleExchangeExec => }
      val bcasts = count(p) { case _: BroadcastExchangeExec => }
      val windows = count(p) { case _: WindowExec => }
      val wgl = count(p) { case _: WindowGroupLimitExec => }
      val codegen = count(p) { case _: WholeStageCodegenExec => }
      name -> ((f"| $name | $scans ($pushed pushed) | $shuffles | $bcasts | " +
        f"${joinSummary(p)} | $windows%d/$wgl%d | $codegen |", shuffles,
        joinSummary(p)))
    }.toMap

    // ---- Pass 2: AQE on (production default), plans EXECUTED so the
    // ---- adaptive re-planner commits its runtime decisions. The final
    // ---- stage's AQE reads are decided once upstream stages materialize;
    // ---- finalPhysicalPlan() forces exactly that without collecting rows.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val aqeRows = defs.map { case (name, fn) =>
      val (staticShuffles, staticJoins) =
        (staticStats(name)._2, staticStats(name)._3)
      try {
        val qe = fn(spark, dir).queryExecution
        val finalPlan = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
          case p => p
        }
        val shuffles = count(finalPlan) { case _: ShuffleExchangeExec => }
        val reads = finalPlan.collect { case r: AQEShuffleReadExec => r }
        val coal = reads.count(_.hasCoalescedPartition)
        val skew = reads.count(_.hasSkewedPartition)
        val local = reads.count(_.isLocalRead)
        val joins = joinSummary(finalPlan)
        val joinCell =
          if (joins == staticJoins) joins else s"$staticJoins → $joins"
        s"| $name | $staticShuffles → $shuffles | ${reads.size} " +
          s"($coal coal, $skew skew, $local local) | $joinCell |"
      } catch { case e: Throwable =>
        s"| $name | ERROR | ${Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(80)} | |"
      }
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // note: table rows carry their own leading "|", so the margin "|"
    // below is doubled for the interpolated block (stripMargin eats one)
    val staticRows = defs.map { case (n, _) => staticStats(n)._1 }
    val md =
      s"""# PLANS - physical plan health (sf0.001, generated by `graft.tools.PlanReport`)
         |
         |## Static plans (AQE off)
         |
         |One row per oracle-compared query. "Scans" counts FileSourceScan
         |nodes (with how many carry pushed filters); "Wnd/WGL" is
         |WindowExec vs partial-top-k WindowGroupLimit operators; "WSCG"
         |is whole-stage-codegen spans (higher = more of the plan runs as
         |fused compiled loops). PlanLintSpec gates the invariants
         |(no cartesian product, no unpartitioned data-bearing window,
         |BNLJ only where the broadcast side is bounded by construction,
         |no nondeterministic expressions).
         |
         || Query | Scans | Shuffles | Bcasts | Joins | Wnd/WGL | WSCG |
         ||---|---|---|---|---|---|---|
         |${staticRows.mkString("\n|")}
         |
         |## Adaptive final plans (AQE on, executed)
         |
         |The same queries EXECUTED under `spark.sql.adaptive.enabled=true`
         |(the production default this library assumes at 100 TB; SCALING.md
         |"AQE" section). "Shuffles" compares the static count to the final
         |adaptive plan's; "AQE reads" counts AQEShuffleReadExec nodes and
         |how many coalesced small partitions / split skewed partitions /
         |converted to local reads; "Joins" shows runtime SMJ→BHJ
         |conversions (a `→` row means AQE re-planned the join once the
         |build side's true size was known). At this SF nearly every
         |post-shuffle stage coalesces to 1 partition — the point is that
         |the DECISIONS are visible and sane, not the partition counts
         |themselves; skew splits need sf0.1+ with a skewed key to fire
         |(q32's salted twin covers that path deterministically).
         |
         || Query | Shuffles (static → AQE) | AQE reads (coal, skew, local) | Joins (static → AQE) |
         ||---|---|---|---|
         |${aqeRows.mkString("\n|")}
         |""".stripMargin
    Files.write(Paths.get("PLANS.md"),
      md.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"PLANS.md written (${staticRows.size} static + ${aqeRows.size} AQE rows)")
    spark.stop()
  }
}
