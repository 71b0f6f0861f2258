package graft.pipeline

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpecBase
import graft.models.Models
import graft.quality.DataTests

/** A warm refresh cycle (ingest → dbt models → dbt tests) reuses the
  * classes generated by the cycle before it: the codegen cache that
  * Graft's conf contract sizes holds the cycle's working set (about 170
  * classes, over Spark's default of 100 entries, which recompiled all
  * of them every cycle).
  */
class CodegenReuseSpec extends SparkSpecBase {

  test("a warm refresh cycle compiles fewer than 20 classes") {
    val raw = "codegen_spec_raw"
    val mart = "codegen_spec_mart"
    val t0 = LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    val ingest = new Ingest(spark, raw, Files.createTempDirectory("graft-codegen"))
    def cycle(k: Int): Seq[DataTests.TestResult] = {
      ingest.runBatch(t0.plusMinutes(10L * k))
      DataTests.runAll(spark, raw, Models.dbtRun(spark, raw, mart))
    }
    try {
      ingest.runBatch(t0) // bootstrap
      cycle(1) // warm
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val results = cycle(2)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(results.forall(_.passed), results.filterNot(_.passed))
      assert(compiles < 20, s"$compiles classes compiled in a warm cycle")
    } finally {
      Seq(mart, raw).foreach(d => spark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
    }
  }
}
