package graft.models

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Staging semantics edges (SURVEY §7 "hard part #3"): DECODE NULL
  * fallthrough, initcap, round HALF_UP, star-exclude column sets.
  */
class ModelsSpec extends SparkSpecBase {

  test("decode: NULL-safe match, no default => NULL on non-match") {
    import spark.implicits._
    val df = Seq("F", "M", "X", "Z", null).toDF("gender")
    val out = df.select(Models.decode(col("gender"),
      "F" -> "Female", "M" -> "Male", "X" -> "Non-binary").as("g"))
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("Female", "Male", "Non-binary", null, null))
  }

  test("stg_orders initcap and stg_products round half-up") {
    import spark.implicits._
    val raw = Seq(("o1", "c1", "2026-01-01", "shipped"))
      .toDF("id", "customer_id", "order_date", "order_status")
      .withColumn("order_date", col("order_date").cast("date"))
      .withColumn("loaded_at", lit(Timestamp.valueOf("2026-01-01 00:00:00")))
    val stg = Models.stgOrders.build(Map("raw.orders" -> raw))
    assert(stg.select("order_status").head().getString(0) === "Shipped")

    // HALF_UP vs HALF_EVEN discriminator: 0.125 is binary-exact, so
    // round() (Snowflake-compatible HALF_UP) gives 0.13 where bround
    // (HALF_EVEN) gives 0.12 — stg_products must use the former (F3).
    val rawP = Seq(("p1", "m", "c", "s", "f", 100.0, 0.125))
      .toDF("id", "model", "category", "subcategory", "frame", "price",
        "product_cost")
      .withColumn("loaded_at", lit(Timestamp.valueOf("2026-01-01 00:00:00")))
    val stgP = Models.stgProducts.build(Map("raw.products" -> rawP))
    assert(stgP.select("product_cost").head().getDouble(0) === 0.13)
    assert(rawP.select(bround(col("product_cost"), 2)).head().getDouble(0) === 0.12)
  }

  test("mart star-exclude column sets match dim_*.sql") {
    import spark.implicits._
    val cust = Seq(("c1", "A", "B", "a@b.c", "Female", "Town",
      Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("customer_id", "customer_first_name", "customer_last_name",
        "customer_email", "customer_gender", "customer_city", "loaded_at")
    assert(Models.dimCustomer.build(Map("stg_bike_shop__customers" -> cust))
      .schema.fieldNames.toSeq ===
      Seq("customer_id", "customer_first_name", "customer_last_name",
        "customer_email", "customer_gender", "customer_city"))

    val ord = Seq(("o1", "c1", "Shipped", java.sql.Date.valueOf("2026-01-01"),
      Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("order_id", "customer_id", "order_status", "order_date", "loaded_at")
    assert(Models.dimOrder.build(Map("stg_bike_shop__orders" -> ord))
      .schema.fieldNames.toSeq === Seq("order_id", "order_status", "order_date"))
  }

  /** The "bucketed mart tables" lever on the REFERENCE path itself
    * (VERDICT r10 item 8): dbtRun writes fct_order_products and
    * dim_order through Layout.writeBucketed on the shared
    * (order_id, MartBuckets) spec, so the one mart join whose
    * dimension scales with the fact joins with NO exchange on either
    * side — even with broadcast disabled, the 100 TB regime where
    * dim_order no longer fits in memory.
    */
  test("mart fct/dim_order co-bucketed: exchange-free join, exact rows") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import java.time.LocalDateTime
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val rawDb = s"mraw_$suffix"
    val martDb = s"mmart_$suffix"
    s.sql(s"CREATE DATABASE $rawDb")
    val t0 = LocalDateTime.of(2026, 1, 1, 0, 0)
    val products = graft.gen.MockData.products(s, 1L, t0)
    val customers = graft.gen.MockData.customers(s, 1L, t0, 200)
    val orders = graft.gen.MockData.orders(s, 1L, t0,
      customers.select(col("gen_idx"), col("id")), 200)
    val op = graft.gen.MockData.orderProducts(s, 1L, t0, products, orders)
    products.write.saveAsTable(s"$rawDb.products")
    customers.drop("gen_idx").write.saveAsTable(s"$rawDb.customers")
    orders.drop("gen_idx").write.saveAsTable(s"$rawDb.orders")
    op.write.saveAsTable(s"$rawDb.order_products")
    try {
      val done = Models.dbtRun(s, rawDb, martDb)
      val joined = s.table(s"$martDb.fct_order_products")
        .join(s.table(s"$martDb.dim_order"), "order_id")
      val plan = joined.queryExecution.executedPlan
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"no SortMergeJoin:\n$plan")
      assert(smjs.head.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"bucketed mart join shuffled:\n$plan")
      // and the layout change altered no semantics: every op row is
      // present with its order's status (fct rows == op rows)
      assert(joined.count() === done("fct_order_products").count())
    } finally {
      s.sql(s"DROP DATABASE IF EXISTS $martDb CASCADE")
      s.sql(s"DROP DATABASE IF EXISTS $rawDb CASCADE")
    }
  }

  /** DAG import-integrity twin (airflow/.astro/test_dag_integrity_default
    * .py:1-80; VERDICT r7 "missing" #1): the reference pytest asserts every
    * DAG file imports cleanly — no unresolvable refs, no cycles. The graft
    * equivalent over the model graph: every `ref()`/`source()` resolves,
    * the graph is acyclic (a topological order exists), names are unique,
    * the declaration order [[Models.all]] is itself a valid topological
    * order, and every table model reads only views and `raw.*` sources —
    * dbtRun writes the tables concurrently, so none may read another.
    */
  test("model DAG integrity: refs resolve, acyclic, declaration order topological") {
    val names = Models.all.map(_.name)
    assert(names.distinct === names, "duplicate model names")

    val rawTables = graft.model.Schemas.rawTables.map("raw." + _._1).toSet
    val modelNames = names.toSet
    for (m <- Models.all; d <- m.deps)
      assert(rawTables(d) || modelNames(d),
        s"${m.name} refs unresolvable dependency $d")

    // declaration order is topological: every non-source dep precedes its user
    val pos = names.zipWithIndex.toMap
    for (m <- Models.all; d <- m.deps if modelNames(d))
      assert(pos(d) < pos(m.name),
        s"${m.name} declared before its dependency $d")

    // tables read only views and sources: the concurrent mart writes
    // have no dependency among themselves
    val byName = Models.all.map(m => m.name -> m).toMap
    for (m <- Models.all if m.materialization == Models.AsTable; d <- m.deps)
      assert(rawTables(d) ||
        byName.get(d).exists(_.materialization == Models.AsView),
        s"table ${m.name} reads $d, which is neither a view nor a source")

    // acyclicity independently of declaration order (Kahn's algorithm)
    var remaining = Models.all.map(m => m.name -> m.deps.filter(modelNames)).toMap
    while (remaining.nonEmpty) {
      val free = remaining.collect { case (n, ds) if ds.isEmpty => n }.toSet
      assert(free.nonEmpty, s"cycle among models: ${remaining.keys.toSeq.sorted}")
      remaining = remaining.view.filterKeys(!free(_))
        .mapValues(_.filterNot(free)).toMap
    }
  }
}
