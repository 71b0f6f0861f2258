package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.command.ExecutedCommandExec

/** Dev tool: writes each query's static physical plans (AQE off) to
  * plans/<tag>/<name>_<suffix>.txt, so plan-shape claims are checkable
  * artifacts. With no arguments it dumps every registered query and
  * every production form (`SparkEntry.buildOnlyQueries`, file name
  * `<name>.production`); trailing arguments restrict the dump to those
  * names. A file holds the returned frame's `.explain("formatted")`,
  * then every distinct plan the builder ran eagerly (checkpoints,
  * collects, overlapped legs), sorted, each with its count.
  *
  * Expression, RDD and plan ids, object hashes, lambda names,
  * checkpoint call-site line numbers, scratch database and staging
  * ids, observation suffixes, the run's warehouse and session-scoped
  * paths are normalized away and metadata strings are not truncated,
  * so two trees' dumps compare with one `diff -r`:
  * {{{
  * PLAN_TAG=/tmp/plans-a PLAN_DIR=/root/testdata/sf0.1 \
  *   sbt "Test/runMain graft.tools.PlanDump"
  * }}}
  * Env: PLAN_DIR (data, default sf0.1), PLAN_TAG (a directory under
  * plans/, or an absolute path; default r17), PLAN_SUFFIX (default
  * before), PLAN_CPUS.
  */
object PlanDump {

  private val normal = Seq(
    "#\\d+L?" -> "#",
    "RDD\\[\\d+\\]" -> "RDD[]",
    "plan_id=\\d+" -> "plan_id=",
    "\\.scala:\\d+" -> ".scala",
    "\\blocal-\\d+\\b" -> "local-N",
    "@[0-9a-f]+\\b" -> "@",
    "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda",
    "\\b(graft_[a-z]+)_[0-9a-f]{12}\\b" -> "$1_ID",
    "graft-stage-[0-9a-f]+" -> "graft-stage-ID",
    "\\b([a-z_]+)_\\d{12,}\\b" -> "$1_N",
    "lambda (\\w+)_\\d+#" -> "lambda $1#",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "UUID")

  // a fresh warehouse per run, so no run reuses a table another wrote
  private val warehouse = Files.createTempDirectory("graft-plandump-wh")

  def normalize(plan: String): String =
    normal.foldLeft(plan.replace(warehouse.toString, "WAREHOUSE")) {
      case (t, (re, to)) => t.replaceAll(re, to) }

  // the form being dumped; overlap threads inherit local properties
  private val FormKey = "graft.plandump.form"
  private val planned =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** Records every prepared physical plan under the form that planned
    * it. A command is recorded without the logical query it embeds:
    * that query is planned, and recorded, when the command runs it.
    */
  private object Record extends ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] =
      new Rule[SparkPlan] {
        def apply(plan: SparkPlan): SparkPlan = {
          val text = plan match {
            case c: ExecutedCommandExec =>
              s"Execute ${c.cmd.simpleString(Int.MaxValue)}"
            case _ => plan.treeString
          }
          Option(SparkContext.getOrCreate().getLocalProperty(FormKey))
            .foreach(f => planned.add(f -> normalize(text)))
          plan
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("PLAN_CPUS", "32")
    val spark = graft.Graft.builder(Some(cpus.toInt))
      .withExtensions(_.injectColumnar(_ => Record))
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled", "false")
      // untruncated, so ids of another width cut no text differently
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PLAN_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("PLAN_TAG", "r17")
    val suffix = sys.env.getOrElse("PLAN_SUFFIX", "before")
    val outDir = Paths.get("plans").resolve(tag)
    Files.createDirectories(outDir)
    val forms = (graft.SparkEntry.queries.toSeq ++
      graft.SparkEntry.buildOnlyQueries.toSeq.map { case (n, f) =>
        s"$n.production" -> f }).sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    for ((n, build) <- forms) {
      spark.sparkContext.setLocalProperty(FormKey, n)
      val returned = try build(spark, dir).queryExecution
          .explainString(FormattedMode)
        catch { case e: Throwable =>
          s"FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(200)}\n"
        }
      spark.sparkContext.setLocalProperty(FormKey, null)
      val mine = Iterator.continually(planned.poll()).takeWhile(_ != null)
        .collect { case (`n`, plan) => plan }.toSeq
      val eager = mine.groupBy(identity).toSeq.sortBy(_._1).map {
        case (plan, xs) => s"-- ${xs.size}x\n$plan" }
      val out = outDir.resolve(s"${n}_$suffix.txt")
      Files.writeString(out, normalize(returned) +
        "\n== Planned while building ==\n" + eager.mkString("\n"))
      println(s"wrote $out (${eager.size} distinct plans)")
    }
    spark.stop()
    Files.walk(warehouse).sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))
  }
}
