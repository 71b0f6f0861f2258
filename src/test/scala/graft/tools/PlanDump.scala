package graft.tools

import java.nio.file.{Files, Paths}


/** Dev tool for the optimization rounds: writes each named query's
  * `.explain("formatted")` output to plans/<tag>/<name>_<suffix>.txt so
  * plan-shape claims in OPTIMIZATION_r*.md are checkable artifacts.
  * Env: PLAN_DIR (data, default sf0.1), PLAN_TAG (subdir, default r17),
  * PLAN_SUFFIX (before|after, default before), PLAN_CPUS.
  *
  * Iterative queries run their eager-checkpoint builds during plan
  * construction — the dump reflects the FINAL returned frame's plan,
  * which is the right artifact for plan-shape claims about the round's
  * per-leg changes (the per-round inner plans are checkpoint-bounded
  * and identical in shape round over round; StageProfileMain carries
  * their timings).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("PLAN_CPUS", "32")
    val spark = graft.Graft.builder(Some(cpus.toInt))
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PLAN_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("PLAN_TAG", "r17")
    val suffix = sys.env.getOrElse("PLAN_SUFFIX", "before")
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    for (n <- args) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
        println(s"wrote plans/$tag/${n}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"FAILED $n: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
      }
    }
    spark.stop()
  }
}
