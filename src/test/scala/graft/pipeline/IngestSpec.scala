package graft.pipeline

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.SparkSpecBase
import graft.models.Models
import graft.quality.DataTests

/** End-to-end pipeline semantics (SURVEY §2.11): bootstrap-vs-refresh
  * branch, append-only raw tables, static products, declared data tests
  * green after multiple batches, mart rebuild.
  */
class IngestSpec extends SparkSpecBase with Eventually {

  private lazy val staging = Files.createTempDirectory("graft-staging").toString

  test("bootstrap + 2 refreshes: append-only, static products, tests green") {
    val db = "ingest_spec_raw"
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    val ingest = new Ingest(spark, db, java.nio.file.Paths.get(staging))
    ingest.runBatch(t0) // bootstrap branch (ST4)
    assert(ingest.rawTable("customers").count() === 1000)
    assert(ingest.rawTable("orders").count() === 1000)
    assert(ingest.rawTable("products").count() === 96)
    val op1 = ingest.rawTable("order_products").count()
    assert(op1 >= 1000 && op1 <= 3000)
    // load audit observed inside the load jobs themselves (no re-count
    // pass): the per-table rows the batch actually appended
    assert(ingest.lastLoadCounts("customers") === 1000L)
    assert(ingest.lastLoadCounts("orders") === 1000L)
    assert(ingest.lastLoadCounts("products") === 96L)
    assert(ingest.lastLoadCounts("order_products") === op1)

    // second + third tick take the refresh branch (ST4)
    ingest.runBatch(t0.plusMinutes(10))
    ingest.runBatch(t0.plusMinutes(20))
    assert(ingest.rawTable("customers").count() === 3000)
    assert(ingest.rawTable("orders").count() === 3000)
    // ST5: products never reloaded after bootstrap
    assert(ingest.rawTable("products").count() === 96)
    val op3 = ingest.rawTable("order_products").count()
    assert(op3 > op1)

    // staged batch files cleaned up (S9) — but the comma-CSV seed file is
    // SPARED, like the reference's `find ... ! -name products.csv` clean
    val leftovers = Files.list(java.nio.file.Paths.get(staging))
      .toArray.map(_.toString)
    assert(leftovers.forall(_.endsWith("seed_data")), leftovers.mkString(","))
    assert(Files.exists(ingest.seedCsvPath))
    assert(Files.readAllLines(ingest.seedCsvPath).size === 97) // header + 96

    // all declared source tests pass on the accumulated raw tables,
    // including orders.customer_id unique (the J4 quirk holds per batch
    // AND across batches because each batch only references its own new
    // customers)
    val mat = Models.dbtRun(spark, db, "ingest_spec_mart")
    val results = DataTests.runAll(spark, db, mat)
    val failed = results.filterNot(_.passed)
    assert(failed.isEmpty, s"failing tests: ${failed.map(_.name)}")
    assert(results.size === DataTests.allDeclared.size)
  }

  test("S1: bootstrap products derive from the comma-CSV header scan") {
    import org.apache.spark.sql.functions.col
    val db = "ingest_spec3_raw"
    val dir = Files.createTempDirectory("graft-staging-s1")
    val t0 = java.time.LocalDateTime.of(2026, 3, 1, 0, 0, 0)
    val ingest = new Ingest(spark, db, dir, seed = 7L)
    ingest.runBatch(t0)
    // The CSV-scan-derived products must equal the in-code seed build:
    // proves the comma-dialect read path (header, declared schema) is the
    // real source of the loaded table, with no value drift through the
    // write/read round-trip.
    val fromCsv = ingest.rawTable("products")
    val inCode = graft.gen.MockData.products(spark, 7L, t0)
    assert(fromCsv.count() === 96)
    assert(fromCsv.exceptAll(inCode).isEmpty && inCode.exceptAll(fromCsv).isEmpty)
    // declared seed schema is what the scan produced (no inference)
    val seedBack = spark.read.option("header", "true")
      .schema(graft.model.Schemas.productSeed)
      .csv(ingest.seedCsvPath.toString)
    assert(seedBack.schema === graft.model.Schemas.productSeed)
    assert(seedBack.filter(col("price").isNull).isEmpty)
  }

  test("mart rebuild matches raw contents after each refresh (ST6)") {
    val db = "ingest_spec2_raw"
    Ingest.runBatches(spark, db, staging, n = 2, seed = 99L)
    val mat = Models.dbtRun(spark, db, "ingest_spec2_mart")
    val fct = mat("fct_order_products")
    assert(fct.count() === spark.table(s"$db.order_products").count())
    assert(mat("dim_customer").count() === 2000)
    assert(mat("dim_order").count() === 2000)
    assert(mat("dim_product").count() === 96)
    // fct carries order/customer/product attributes resolved via left joins
    assert(fct.filter(fct("customer_id").isNull).isEmpty)
    assert(fct.filter(fct("product_price").isNull).isEmpty)
  }

  test("every job of a refresh cycle carries the caller's current job group and tag") {
    val db = "ingest_spec_tags_raw"
    val mart = "ingest_spec_tags_mart"
    val sc = spark.sparkContext
    val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0, 0)
    val ingest = new Ingest(spark, db, Files.createTempDirectory("graft-tags"))
    // (group, tags) of every job start, in listener-bus delivery order
    val seen = mutable.ArrayBuffer.empty[(String, Set[String])]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = seen.synchronized {
        val p = j.properties
        seen += ((Option(p).map(_.getProperty("spark.jobGroup.id")).orNull,
          Option(p).flatMap(q => Option(q.getProperty("spark.job.tags")))
            .map(_.split(",").toSet).getOrElse(Set.empty)))
      }
    }
    def under(group: String, tag: String)(body: => Unit): Unit = {
      sc.setJobGroup(group, group)
      sc.addJobTag(tag)
      try body finally { sc.clearJobTags(); sc.clearJobGroup() }
    }
    // a job under `group` whose start, once delivered, means every job
    // submitted before it has been delivered too (one ordered queue)
    def marker(group: String): Unit = {
      under(group, group)(spark.range(1).count())
      eventually(timeout(60.seconds), interval(50.millis)) {
        assert(seen.synchronized(seen.exists(_._1 == group)))
      }
    }
    def cycle(k: Int): Unit = {
      ingest.runBatch(t0.plusMinutes(10L * k))
      val results = DataTests.runAll(spark, db, Models.dbtRun(spark, db, mart))
      assert(results.forall(_.passed), results.filterNot(_.passed))
    }
    sc.addSparkListener(listener)
    try {
      under("g0", "cycle0")(cycle(0)) // bootstrap
      marker("m0")
      under("g1", "cycle1")(cycle(1)) // refresh
      marker("m1")
      val jobs = seen.synchronized(seen.toList)
        .dropWhile(_._1 != "m0").dropWhile(_._1 == "m0").takeWhile(_._1 != "m1")
      assert(jobs.nonEmpty)
      val stale = jobs.filterNot { case (g, tags) =>
        g == "g1" && tags("cycle1") && !tags("cycle0")
      }
      assert(stale.isEmpty,
        s"${stale.size} of ${jobs.size} refresh-cycle jobs carry stale " +
          "properties: " + stale.map { case (g, tags) =>
            (g, tags.filter(_.startsWith("cycle"))) }.distinct)
    } finally {
      sc.removeSparkListener(listener)
      Seq(mart, db).foreach(d => spark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
    }
  }
}
