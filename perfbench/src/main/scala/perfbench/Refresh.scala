package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.Comparator

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.models.Models
import graft.pipeline.Ingest
import graft.quality.DataTests

/** The `refresh` workload: the live micro-batch loop at the reference's
  * batch sizes. One op is one cycle `Ingest.runBatch` → `Models.dbtRun`
  * → `DataTests.runAll`. The warm-up bootstraps a fresh raw/mart
  * database and runs [[WarmCycles]] cycles on it; the window continues
  * on the same database in passes of [[Cycles]] cycles, so every run
  * times the same cycle numbers over the same growth of history.
  */
object Refresh {
  val Cycles = 5
  val WarmCycles = 1
  private val T0 = LocalDateTime.of(2026, 1, 1, 0, 0, 0)

  final class Db(spark: SparkSession, a: Main.Args, name: String) {
    val raw = s"${name}_raw"
    val mart = s"${name}_mart"
    private val staging: Path = a.work.resolve(s"staging_$name")
    val ingest = new Ingest(spark, raw, staging, a.seed)

    def batch(k: Int): Unit = ingest.runBatch(T0.plusMinutes(10L * k))

    def drop(): Unit = {
      Seq(raw, mart).foreach(d => spark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
      if (Files.exists(staging))
        Files.walk(staging).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** One cycle; returns whether its output checked out and the seconds
    * spent in each layer.
    */
  def cycle(spark: SparkSession, db: Db, k: Int, tracer: Tracer, op: Int)
    : (Boolean, Seq[Double]) = {
    var layers = Vector.empty[Double]
    def timed[T](layer: String)(body: => T): T = {
      val (out, s) = tracer.span(layer, op)(body)
      layers :+= s
      out
    }
    val ok = try {
      timed("pipeline.runBatch")(db.batch(k))
      val marts = timed("models.dbtRun")(Models.dbtRun(spark, db.raw, db.mart))
      val results = timed("quality.runAll")(DataTests.runAll(spark, db.raw, marts))
      check(spark, db, results)
    } catch { case NonFatal(e) => Console.err.println(s"cycle $k failed: $e"); false }
    (ok, layers)
  }

  /** Every declared data test passes, the batch loaded 1000 customers and
    * 1000 orders, and each mart has exactly its raw source's rows.
    */
  def check(spark: SparkSession, db: Db, results: Seq[DataTests.TestResult]): Boolean = {
    val declared = DataTests.allDeclared.map(_.name).toSet
    val testsOk = results.map(_.name).toSet == declared && results.forall(_.passed)
    val loaded = db.ingest.lastLoadCounts
    val loadOk = loaded.get("customers").contains(1000L) && loaded.get("orders").contains(1000L)
    val tables = Seq(
      s"${db.raw}.order_products", s"${db.mart}.fct_order_products",
      s"${db.raw}.orders", s"${db.mart}.dim_order",
      s"${db.raw}.customers", s"${db.mart}.dim_customer",
      s"${db.mart}.dim_product")
    val n = tables
      .map(t => spark.table(t).agg(count(lit(1)).as("n")).select(lit(t).as("t"), col("n")))
      .reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val martsOk = (0 until 6 by 2).forall(i => n(tables(i)) > 0 && n(tables(i)) == n(tables(i + 1))) &&
      n(tables(6)) == 96L
    if (!(testsOk && loadOk && martsOk))
      Console.err.println(s"check failed: tests=$testsOk load=$loaded counts=$n")
    testsOk && loadOk && martsOk
  }

  def run(a: Main.Args): Map[String, Any] = {
    val spark = Main.session(a)
    val tracer = new Tracer(spark.sparkContext)

    val db = new Db(spark, a, "live")
    db.batch(0)
    val warm = (1 to WarmCycles).map { k =>
      val (ok, layers) = cycle(spark, db, k, tracer, -1)
      Map("kind" -> s"cycle$k", "s" -> layers.sum, "ok" -> ok)
    }

    val ops = Vector.newBuilder[Map[String, Any]]
    val passes = Vector.newBuilder[Map[String, Any]]
    var op = 0
    val win = Main.window(a) { p =>
      var passS = 0.0
      (0 until Cycles).foreach { pos =>
        val traced = Main.traced(a, p, pos)
        if (traced) tracer.attach()
        val k = WarmCycles + 1 + op
        val (ok, layers) = cycle(spark, db, k, tracer, op)
        tracer.detach()
        ops += Map("op" -> op, "kind" -> s"cycle$k", "s" -> layers.sum, "ok" -> ok,
          "traced" -> traced, "layers_s" -> layers)
        passS += layers.sum
        op += 1
      }
      passes += Map("s" -> passS)
    }
    db.drop()
    Map("workload" -> a.workload, "warm" -> warm,
      "ops" -> ops.result(), "passes" -> passes.result(), "window" -> win,
      "layers" -> Main.layerRecords(tracer))
  }
}
