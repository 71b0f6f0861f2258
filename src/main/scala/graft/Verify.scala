package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — trailing names restrict the dump
    // (dev iteration); the driver always calls with exactly two args.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder(Some(cpus.toInt))
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries are independent (distinct output dirs; pipeline queries use
    // unique scratch databases) — run them 4 at a time so the session's
    // scheduler overlaps small jobs instead of serializing 36 round-trips.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
        val th = new Thread(r, "graft-verify"); th.setDaemon(true); th
      }))
    // Row counts are observed INSIDE the dump job (no second pass) and
    // surfaced as row_counts.json — the degeneracy gate's raw material:
    // a 0-row result hash-matches a 0-row oracle no matter how wrong
    // the query is, so emptiness outside SparkEntry.emptyAllowed is
    // loudly warned here and FAILED by DegeneracySpec in sbt.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
      Future {
        try {
          import org.apache.spark.sql.functions.{count, lit}
          val obs = new org.apache.spark.sql.Observation(s"verify_$name")
          fn(spark, sfDir)
            .observe(obs, count(lit(1)).as("rows"))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          Right(name -> obs.get("rows").asInstanceOf[Long])
        }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name FAILED: $msg")
          Left(name -> msg)
        }
      }
    }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rowCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    Await.result(Future.sequence(results), Duration.Inf)
      .foreach {
        case Left((k, v)) => failures(k) = v
        case Right((k, n)) => rowCounts(k) = n
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query failures as a machine-readable sidecar (never swallowed):
    // a missing result dir + this file make a broken query loudly visible.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    val countsJson = rowCounts.toSeq.sortBy(_._1)
      .map { case (k, n) => s"${q(k)}: $n" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/row_counts.json"), countsJson)
    val degenerate = rowCounts.collect {
      case (k, 0L) if !SparkEntry.emptyAllowed(k) => k
    }.toSeq.sorted
    if (degenerate.nonEmpty)
      System.err.println("[verify] DEGENERATE (0 rows, not in " +
        s"emptyAllowed): ${degenerate.mkString(", ")} — a 0-row hash " +
        "match proves nothing; fix the query or justify an allowance")
    spark.stop()
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED " +
        s"(see $outDir/verify_errors.json)")
  }
}
