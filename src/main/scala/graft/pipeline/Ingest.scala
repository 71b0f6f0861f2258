package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.MockData
import graft.model.Schemas

/** Micro-batch ingestion pipeline — the Spark twin of the reference's
  * `refresh_source_data` DAG (refresh_source_data.py:18-193):
  *
  *  - bootstrap-vs-refresh branch on catalog existence (ST4,
  *    refresh_source_data.py:18-23,126-129; S7 `SHOW TABLES` probe);
  *  - idempotent `CREATE TABLE IF NOT EXISTS` DDL from declared schemas
  *    (S6, create_tables.sql:1-3);
  *  - generate → stage as tab-separated CSV with header (S3,
  *    mock_data.py:111-114) → read back with the DECLARED schema,
  *    skip_header semantics (S2/S5, copy_data.sql:1-2) → append into the
  *    raw tables (ST2 append-only, load-by-file);
  *  - returning-customer feedback: 5% Bernoulli sample LIMIT 50 of the
  *    existing customers table read back at batch start (ST3/L1/L2,
  *    sample_table.sql:1-5) — state lives in the table itself;
  *  - static product dimension: seeded once, never regenerated (ST5,
  *    refresh_source_data.py:150-154);
  *  - staged-file cleanup sparing the seed (S9,
  *    refresh_source_data.py:177-186).
  *
  * Scale notes: batches are generated distributed (spark.range +
  * expressions), appended as parquet partitions (no rewrite of existing
  * data), and the only driver-side rows are the ≤50-customer returning
  * pool and the ≤96-row product weight table — both collected by the
  * reference itself (XCom / generator lists).
  */
final class Ingest(
    spark: SparkSession,
    db: String,
    stagingDir: Path,
    seed: Long = 42L) {

  private def rawName(t: String) = s"$db.$t"

  /** S8 connectivity probe + S6 idempotent DDL. */
  def createTablesIfAbsent(): Unit = {
    spark.sql("SELECT 1").collect() // S8 check_conn twin
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Schemas.rawTables.foreach { case (t, schema) =>
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS ${rawName(t)} (${schema.toDDL}) USING parquet")
    }
  }

  /** S7: existence probe driving the bootstrap-vs-refresh branch (ST4). */
  def isBootstrapRun: Boolean =
    !Schemas.rawTables.forall { case (t, _) => spark.catalog.tableExists(rawName(t)) } ||
      spark.table(rawName("customers")).isEmpty

  /** One scheduled tick (ST1): branch, generate, stage, load, clean. */
  def runBatch(batchTs: LocalDateTime): Unit = {
    createTablesIfAbsent()
    if (isBootstrapRun) bootstrap(batchTs) else refresh(batchTs)
  }

  /** S1: the comma-CSV seed file (seed_data/products.csv twin,
    * mock_data.py:27). Lives beside — not inside — the per-batch staging
    * dirs, so cleanup spares it like the reference's `find ... ! -name
    * products.csv` (refresh_source_data.py:181-186).
    */
  val seedCsvPath: Path = stagingDir.resolve("seed_data").resolve("products.csv")

  /** Initial run: products seed + 1000 customers / 1000 orders
    * (seed_initial_data, mock_data.py:116-134). The product seed is
    * materialized as a comma CSV once and read BACK through the
    * comma-dialect header scan with the declared seed schema — the path
    * a user bringing their own seed file exercises (S1).
    */
  def bootstrap(batchTs: LocalDateTime): Unit = {
    val batchSeed = seed
    if (!Files.exists(seedCsvPath)) MockData.writeSeedCsv(seedCsvPath)
    val seedDf = spark.read
      .option("header", "true")
      .schema(Schemas.productSeed)
      .csv(seedCsvPath.toString)
    val products = MockData.productsFrom(seedDf, batchSeed, batchTs)
    val customers = MockData.customers(spark, batchSeed, batchTs)
    val orders = MockData.orders(spark, batchSeed, batchTs,
      customerList = customers.select(col("gen_idx"), col("id")))
    val orderProducts =
      MockData.orderProducts(spark, batchSeed, batchTs, products, orders)
    stageAndLoad(batchTs, Map(
      "products" -> products,
      "customers" -> customers.drop("gen_idx"),
      "orders" -> orders.drop("gen_idx"),
      "order_products" -> orderProducts))
  }

  /** Incremental run (refresh_data, mock_data.py:136-156): new customers
    * plus the returning pool appended AFTER them — preserving the
    * reference's J4 quirk: with numOrders == numNewCustomers the
    * returning customers are never reached by the index alignment, so
    * each batch's orders reference only that batch's new customers
    * (orders.customer_id stays unique — T2 depends on this).
    */
  def refresh(batchTs: LocalDateTime): Unit = {
    val batchSeed = seed + batchTs.hashCode()
    val returning = returningCustomers() // ST3: read back from the table
    val newCustomers = MockData.customers(spark, batchSeed, batchTs)
    val numNew = 1000L
    import spark.implicits._
    val returningIndexed = returning.zipWithIndex.toDF("id", "i")
      .select((col("i") + numNew).as("gen_idx"), col("id"))
    val customerList = newCustomers.select(col("gen_idx"), col("id"))
      .unionByName(returningIndexed)
    val orders = MockData.orders(spark, batchSeed, batchTs, customerList)
    // ST5: products are static after bootstrap — re-read, never regenerate.
    val products = spark.table(rawName("products"))
    val orderProducts =
      MockData.orderProducts(spark, batchSeed, batchTs, products, orders)
    stageAndLoad(batchTs, Map(
      "customers" -> newCustomers.drop("gen_idx"),
      "orders" -> orders.drop("gen_idx"),
      "order_products" -> orderProducts))
  }

  /** L1+L2+ST3: SAMPLE (5) LIMIT 50 of existing customer ids, collected
    * to the driver (the reference ships them through XCom,
    * refresh_source_data.py:131-141; ≤50 rows by construction).
    */
  def returningCustomers(): Seq[String] =
    spark.table(rawName("customers"))
      .select(col("id"))
      .sample(withReplacement = false, 0.05, seed)
      .limit(50)
      .collect().map(_.getString(0)).toSeq

  /** S3 TSV sink → S2/S5 TSV scan with declared schema → append load →
    * S9 cleanup. The CSV hop is kept for fidelity with the reference's
    * stage-then-COPY shape; `loadFiles` is the per-file COPY INTO twin.
    */
  private def stageAndLoad(
      batchTs: LocalDateTime, frames: Map[String, DataFrame]): Unit = {
    val batchDir = stagingDir.resolve(
      batchTs.toString.replaceAll("[:.]", "-"))
    Files.createDirectories(batchDir)
    // The reference fans the per-file stage→copy pairs out as PARALLEL
    // mapped Airflow tasks (refresh_source_data.py:190-192 `.expand`);
    // the Spark twin starts one stage+load leg per table and lets the
    // scheduler multiplex the concurrent jobs. Tables are independent
    // (distinct staged dirs, distinct append targets), so this is safe.
    val staged = frames.toSeq.map { case (t, df) =>
      graft.operators.Adaptive.overlap {
        df.coalesce(1).write // one staged file per table per batch, like the DAG
          .option("sep", "\t").option("header", "true")
          .mode(SaveMode.Overwrite)
          .csv(batchDir.resolve(t).toString)
        t -> loadFile(t, batchDir.resolve(t).toString)
      }
    }
    lastLoadCounts = staged.map(_.apply()).toMap
    cleanStagedFiles(batchDir)
  }

  /** Rows appended per table by the most recent batch — the load-audit
    * record every ingest layer needs (the reference reads COPY INTO's
    * rows_loaded result set). Counted with `Dataset.observe` INSIDE the
    * load job itself: at 100 TB a count-after-load is a second full
    * pass over the appended data, and a count-before-load is a separate
    * job; the observation rides the write's own task metrics for free.
    */
  @volatile var lastLoadCounts: Map[String, Long] = Map.empty

  /** COPY INTO twin (S5): read ONE staged file set with the declared
    * schema (no inference — copy_data.sql trusts the DDL) and append;
    * returns the rows appended (observed in-job, no extra pass).
    */
  def loadFile(table: String, path: String): Long = {
    val schema = Schemas.rawTables.toMap.apply(table)
    val obs = new org.apache.spark.sql.Observation(
      s"load_${table}_${System.nanoTime()}")
    spark.read
      .option("sep", "\t").option("header", "true")
      .schema(schema)
      .csv(path)
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Append).insertInto(rawName(table))
    obs.get("rows").asInstanceOf[Long]
  }

  /** S9: REMOVE staged files after load. Only the per-batch dir is
    * deleted — the seed CSV lives under seed_data/ BESIDE the batch
    * dirs, so it is spared by construction, mirroring the reference's
    * `find ... ! -name products.csv -exec rm` (refresh_source_data
    * .py:181-186).
    */
  private def cleanStagedFiles(batchDir: Path): Unit = {
    if (Files.exists(batchDir)) {
      Files.walk(batchDir)
        .sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  def rawTable(t: String): DataFrame = spark.table(rawName(t))
}

object Ingest {
  /** Convenience: run `n` consecutive batches (ST1's fixed-interval loop
    * compressed — the trigger cadence is an env/driver concern, not an
    * engine one).
    */
  def runBatches(
      spark: SparkSession, db: String, stagingDir: String, n: Int,
      seed: Long = 42L,
      startTs: LocalDateTime = LocalDateTime.of(2026, 1, 1, 0, 0, 0)): Ingest = {
    val ingest = new Ingest(spark, db, Paths.get(stagingDir), seed)
    (0 until n).foreach { i => ingest.runBatch(startTs.plusMinutes(10L * i)) }
    ingest
  }
}
