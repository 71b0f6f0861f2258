package graft.queries

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.gen.MockData
import graft.model.Schemas
import graft.models.Models
import graft.pipeline.Ingest
import graft.quality.DataTests
import graft.sources.Tables

/** Driver-visible queries over the ENGINE itself (generator, ingest
  * pipeline, staging/mart models, data-quality suite). The generator
  * queries (g1/g2) carry DuckDB twins built from the same affine-modular
  * coefficients, and p1 (the full scratch-db pipeline run) is
  * oracle-proven too — its DuckDB twin replays both batches' generators,
  * the 20 declared dbt tests, and the mart counts end to end (see
  * [[p1OracleSql]]); the ScalaTest suite (IngestSpec, ModelsSpec,
  * DataTestsSpec) pins the same semantics engine-side.
  *
  * Each invocation builds a FRESH raw/mart database (unique suffix) so
  * output is deterministic per run (seed + fixed batch timestamps), then
  * drops it after materializing the small summary to the driver.
  */
object PipelineQueries {

  val all: Seq[QueryDef] =
    Seq(g1MockBatch, g2GenBatch, g3DocsSource, g4SchemaUnion,
      g5OrcRoundtrip, g6BloomLookup, p1PipelineE2e)

  // defs, not vals: `all` above initializes FIRST during object init, so
  // a val here would still be null/0 while the g1/p1 SQL strings are
  // being built (DuckDB `x % 0` is NULL — every draw silently hits the
  // CASE's ELSE; a null T0 NPEs the p1 seed derivation).
  private def T0 = LocalDateTime.of(2026, 1, 1, 0, 0, 0)
  private def P: Long = graft.functions.Portable.P

  // ---- DuckDB dialect helpers shared by the g1/g2 generator twins ---------

  private def poolSql(pool: Seq[String]): String =
    pool.map(v => s"'$v'").mkString("[", ", ", "]")
  /** pick() twin: (r * n) int-cast truncation == floor for r >= 0. */
  private def pickSql(u: String, pool: Seq[String]): String =
    s"${poolSql(pool)}[CAST(floor($u * ${pool.size}) AS INT) + 1]"
  /** weightedChoice() twin: the same cumulative thresholds, as doubles.
    * `quote` renders values as SQL literals (strings quoted, ints bare).
    */
  private def choiceSql[T](
      u: String, values: Seq[T], weights: Seq[Int], quote: T => String): String = {
    val total = weights.sum.toDouble
    val cum = weights.scanLeft(0)(_ + _).tail.map(_ / total)
    val whens = values.zip(cum).init
      .map { case (v, c) => s"WHEN $u < $c THEN ${quote(v)}" }.mkString(" ")
    s"CASE $whens ELSE ${quote(values.last)} END"
  }
  private def choiceStrSql(u: String, values: Seq[String], weights: Seq[Int]) =
    choiceSql[String](u, values, weights, v => s"'$v'")
  private def choiceIntSql(u: String, values: Seq[Int], weights: Seq[Int]) =
    choiceSql[Int](u, values, weights, _.toString)
  private def uuidSql(digits: String): String =
    s"substr($digits, 1, 8) || '-' || substr($digits, 9, 4) || '-4' || " +
      s"substr($digits, 13, 3) || '-a' || substr($digits, 16, 3) || '-' || " +
      s"substr($digits, 19, 12)"
  /** strKey() twin: the base-31 polynomial rolling hash mod P. */
  private def polyHashSql(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($expr, ''),
       |    c -> CAST(ascii(c) AS BIGINT))),
       |  (a, c) -> (a*31 + c) % $P)""".stripMargin

  /** One full generator batch (mock_data.py:116-134 twin): per-table
    * row counts and the distribution invariants as one summary frame.
    * The DuckDB twin RECOMPUTES every data-dependent number from the
    * same affine-modular draw family over `range(1000)` — order statuses
    * from the "os" draw, items-per-order from the "ni" draw over the
    * poly-hashed order uuid (so the order_products row count is re-
    * derived, not asserted), quantities from the "q" draw over the
    * (order, item) pair key. The only literal is the product-seed size,
    * a compile-time constant (8 series x 12 tiers — MockData.seedRows).
    */
  private def g1MockBatch: QueryDef = {
    val seed = 42L
    QueryDef.sql(
      "g1_mock_batch",
      s"""WITH idx AS (SELECT CAST(range AS BIGINT) AS gen_idx FROM range(1000)),
         |o AS (SELECT gen_idx,
         |    ${uuidSql(MockData.uuidDuckDigits(seed, "order", "gen_idx"))}
         |      AS order_id,
         |    ${choiceStrSql(
               MockData.hashUnitDuck(seed, "os", "gen_idx"),
               Schemas.orderStatuses, Schemas.orderStatusWeights)}
         |      AS order_status
         |  FROM idx),
         |ok AS (SELECT order_id, order_status,
         |    ${polyHashSql("order_id")} AS okey FROM o),
         |ni AS (SELECT order_id, okey,
         |    ${choiceIntSql(
               MockData.hashUnitDuck(seed, "ni", "okey"),
               Schemas.itemsPerOrder, Schemas.itemsPerOrderWeights)}
         |      AS n_items
         |  FROM ok),
         |items AS (SELECT order_id, okey,
         |    CAST(unnest(generate_series(1, n_items)) AS BIGINT) AS item_idx
         |  FROM ni),
         |q AS (SELECT ${choiceIntSql(
               MockData.hashUnitDuck(seed, "q", s"((okey * 131 + item_idx) % $P)"),
               Schemas.quantities, Schemas.quantityWeights)} AS quantity
         |  FROM items),
         |summary AS (
         |  SELECT 'products' AS k, CAST(96 AS BIGINT) AS "count"
         |  UNION ALL SELECT 'customers', count(*) FROM idx
         |  UNION ALL SELECT 'orders', count(*) FROM o
         |  UNION ALL SELECT 'order_products', count(*) FROM items
         |  UNION ALL SELECT order_status, count(*) FROM o GROUP BY order_status
         |  UNION ALL SELECT 'qty_' || CAST(quantity AS VARCHAR), count(*)
         |    FROM q GROUP BY quantity)
         |SELECT k, "count" FROM summary ORDER BY k""".stripMargin) { (s, _) =>
      val products = MockData.products(s, seed, T0)
      val customers = MockData.customers(s, seed, T0)
      val orders = MockData.orders(
        s, seed, T0, customers.select(col("gen_idx"), col("id")))
      val orderProducts = MockData.orderProducts(s, seed, T0, products, orders)
      val statuses = orders.groupBy("order_status").count()
        .select(col("order_status").as("k"), col("count"))
      val quantities = orderProducts.groupBy("quantity").count()
        .select(concat(lit("qty_"), col("quantity")).as("k"), col("count"))
      val counts = Seq(
        ("products", products), ("customers", customers),
        ("orders", orders), ("order_products", orderProducts))
        .map { case (n, df) => df.agg(lit(n).as("k"), count(lit(1)).as("count")) }
        .reduce(_ unionByName _)
      counts.unionByName(statuses).unionByName(quantities).orderBy("k")
    }
  }

  /** The generator itself, oracle-proven: one full
    * customers+orders batch (mock_data.py:40-68 twin, seed 42, batch
    * 2026-01-01) dumped row-by-row — the ACTUAL [[MockData.customers]] /
    * [[MockData.orders]] code paths, not a re-derivation — against a
    * DuckDB twin built from the same affine-modular coefficients over
    * `range(1000)`. This upgrades the generator from sbt-pinned (g1's
    * rows-only summary) to hash-green: seeded UUID ids (F4), pooled
    * names/cities/domains (F10), weighted gender/status (F9), trailing-
    * 30-day dates (F6), the J4 index-aligned customer assignment, and
    * the per-batch literal timestamp (F7) all value-checked cross-engine.
    * g1 stays as the distribution summary over the same batch.
    */
  private def g2GenBatch: QueryDef = {
    val seed = 42L
    val key = "gen_idx"
    QueryDef.sql(
      "g2_gen_batch",
      s"""WITH idx AS (SELECT CAST(range AS BIGINT) AS gen_idx FROM range(1000)),
         |h AS (SELECT gen_idx,
         |    ${MockData.hashUnitDuck(seed, "fn", key)} AS u_fn,
         |    ${MockData.hashUnitDuck(seed, "ln", key)} AS u_ln,
         |    ${MockData.hashUnitDuck(seed, "g", key)} AS u_g,
         |    ${MockData.hashUnitDuck(seed, "ct", key)} AS u_ct,
         |    ${MockData.hashUnitDuck(seed, "dom", key)} AS u_dom,
         |    ${MockData.hashUnitDuck(seed, "od", key)} AS u_od,
         |    ${MockData.hashUnitDuck(seed, "os", key)} AS u_os,
         |    ${MockData.uuidDuckDigits(seed, "customer", key)} AS cus,
         |    ${MockData.uuidDuckDigits(seed, "order", key)} AS ous
         |  FROM idx),
         |c AS (SELECT gen_idx, u_od, u_os, cus, ous,
         |    ${pickSql("u_fn", MockData.firstNamePool)} AS first_name,
         |    ${pickSql("u_ln", MockData.lastNamePool)} AS last_name,
         |    ${choiceStrSql("u_g", Schemas.genders, Seq(48, 48, 4))} AS gender,
         |    ${pickSql("u_ct", MockData.cityPool)} AS city,
         |    ${pickSql("u_dom", MockData.domainPool)} AS dom
         |  FROM h)
         |SELECT gen_idx,
         |  ${uuidSql("ous")} AS order_id,
         |  ${uuidSql("cus")} AS customer_id,
         |  first_name, last_name, gender, city,
         |  lower(first_name) || '.' || lower(last_name) ||
         |    CAST(gen_idx AS VARCHAR) || '@' || dom AS email,
         |  DATE '2026-01-01' - CAST(floor(u_od * 30) AS INT) AS order_date,
         |  ${choiceStrSql("u_os", Schemas.orderStatuses,
             Schemas.orderStatusWeights)} AS order_status,
         |  '2026-01-01 00:00:00' AS loaded_at
         |FROM c ORDER BY gen_idx""".stripMargin) { (s, _) =>
      val customers = MockData.customers(s, seed, T0)
      val orders = MockData.orders(
        s, seed, T0, customers.select(col("gen_idx"), col("id")))
      orders
        .join(
          customers.select(col("gen_idx"), col("first_name"), col("last_name"),
            col("gender"), col("city"), col("email")),
          Seq("gen_idx"))
        .select(col("gen_idx"), col("id").as("order_id"), col("customer_id"),
          col("first_name"), col("last_name"), col("gender"), col("city"),
          col("email"), col("order_date"), col("order_status"),
          date_format(col("loaded_at"), "yyyy-MM-dd HH:mm:ss").as("loaded_at"))
        .orderBy("gen_idx")
    }
  }

  /** The [[graft.sources.MockDocs]] DataSource V2 connector,
    * value-checked cross-engine: the Spark side is a plain
    * `spark.read.format("graft-docs")` scan (executor-side row
    * generation, 8 planned slices), and the oracle recomputes the SAME
    * cube-affine draw chain — per-doc word count, per-slot vocab index,
    * base-26 word construction, language/source choice — in pure DuckDB
    * integer SQL. A hash-green row here proves the connector's row-space
    * generator is bit-identical to the portable column-space arithmetic
    * (same mixCoeffs, same word scrambling), not merely
    * distribution-equivalent.
    */
  private def g3DocsSource: QueryDef = {
    val seed = 7L
    val rows = 1000
    val vocab = 5000
    // base-26 place values for the word characters (7 = max word len)
    val pow26 = (0 until 7).map(i => math.pow(26, i).toLong)
      .mkString("[", ", ", "]")
    QueryDef.sql(
      "g3_docs_source",
      s"""WITH idx AS (SELECT CAST(range AS BIGINT) AS doc_id
         |  FROM range($rows)),
         |n AS (SELECT doc_id,
         |    20 + ${MockData.hashLongDuck(seed, "len", "doc_id")} % 101
         |      AS n_words
         |  FROM idx),
         |wj AS (SELECT doc_id, unnest(range(0, n_words)) AS j FROM n),
         |wv AS (SELECT doc_id, j,
         |    ${MockData.hashLongDuck(seed, "w", "doc_id*131 + j")} % $vocab
         |      AS v
         |  FROM wj),
         |ws AS (SELECT doc_id, j,
         |    ${MockData.hashLongDuck(0L, "vocab", "v")} AS sc FROM wv),
         |ww AS (SELECT doc_id, j,
         |    list_reduce(list_transform(range(0, 3 + sc % 5),
         |      i -> chr(97 + CAST((sc // 5 // ($pow26)[i + 1]) % 26
         |        AS INT))),
         |      (a, b) -> a || b) AS word
         |  FROM ws),
         |t AS (SELECT doc_id, string_agg(word, ' ' ORDER BY j) AS text
         |  FROM ww GROUP BY doc_id)
         |SELECT doc_id, text,
         |  (['en','de','fr','es','pt'])[1 +
         |    CAST(${MockData.hashLongDuck(seed, "lang", "doc_id")} % 5
         |      AS INT)] AS lang,
         |  printf('src_%02d',
         |    ${MockData.hashLongDuck(seed, "src", "doc_id")} % 20)
         |    AS source,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM t ORDER BY doc_id""".stripMargin) { (s, _) =>
      s.read.format("graft-docs")
        .option("rows", rows.toString).option("seed", seed.toString)
        .option("partitions", "8")
        .load()
    }
  }

  // ---- p1: the full-pipeline DuckDB replay oracle -------------------------

  /** Per-batch generator replay chain (batch `b`, its derived seed):
    * customers and orders over the shared `idx` range with that batch's
    * uuid/gender draws (the g2-proven primitives), then the
    * order_products chain — items-per-order from the poly-hashed order
    * uuid (g1's re-derivation), the composite-key order_product uuid
    * (q21's primitive), and the product-pick uniform `r` for the
    * cumulative-weight range join.
    */
  private def p1BatchSql(b: Int, seed: Long): String =
    s"""cust$b AS (SELECT gen_idx,
       |    ${uuidSql(MockData.uuidDuckDigits(seed, "customer", "gen_idx"))}
       |      AS id,
       |    ${choiceStrSql(MockData.hashUnitDuck(seed, "g", "gen_idx"),
             Schemas.genders, Seq(48, 48, 4))} AS gender
       |  FROM idx),
       |ord$b AS (SELECT gen_idx,
       |    ${uuidSql(MockData.uuidDuckDigits(seed, "order", "gen_idx"))}
       |      AS id,
       |    ${uuidSql(MockData.uuidDuckDigits(seed, "customer", "gen_idx"))}
       |      AS customer_id
       |  FROM idx),
       |ni$b AS (SELECT order_id, okey,
       |    ${choiceIntSql(MockData.hashUnitDuck(seed, "ni", "okey"),
             Schemas.itemsPerOrder, Schemas.itemsPerOrderWeights)}
       |      AS n_items
       |  FROM (SELECT id AS order_id, ${polyHashSql("id")} AS okey
       |        FROM ord$b)),
       |it$b AS (SELECT order_id, okey,
       |    CAST(unnest(generate_series(1, n_items)) AS BIGINT) AS item_idx
       |  FROM ni$b),
       |op$b AS (SELECT
       |    ${uuidSql(MockData.uuidPartsDuckDigits(seed, "order_product",
             Seq("order_id", "CAST(item_idx AS VARCHAR)")))} AS id,
       |    order_id,
       |    ${MockData.hashUnitDuck(seed, "pp",
             s"((okey * 131 + item_idx) % $P)")} AS r
       |  FROM it$b)""".stripMargin

  // dbt-test replays over the rebuilt tables (cust/ord/opp/products):
  // each expression is the test's failing-row COUNT recomputed from
  // scratch in DuckDB — not a hard-coded zero.
  private def notNullSql(t: String, c: String) =
    s"(SELECT count(*) FROM $t WHERE $c IS NULL)"
  private def uniqueSql(t: String, c: String) =
    s"(SELECT count(*) FROM (SELECT 1 AS one FROM $t WHERE $c IS NOT NULL" +
      s" GROUP BY $c HAVING count(*) > 1))"
  private def relSql(ct: String, fk: String, pt: String, pk: String) =
    s"(SELECT count(*) FROM $ct c WHERE c.$fk IS NOT NULL AND NOT EXISTS" +
      s" (SELECT 1 FROM $pt p WHERE p.$pk = c.$fk))"

  /** Failing-count replay per declared test name; p1's oracle builder
    * iterates [[DataTests.allDeclared]] against this map, so ADDING a
    * declared test without a replay fails loudly at SQL-build time
    * instead of silently shipping an unverified row.
    */
  private def p1TestExprs: Map[String, String] = Map(
    "not_null_customers_id" -> notNullSql("cust", "id"),
    "unique_customers_id" -> uniqueSql("cust", "id"),
    "not_null_orders_id" -> notNullSql("ord", "id"),
    "unique_orders_id" -> uniqueSql("ord", "id"),
    "not_null_orders_customer_id" -> notNullSql("ord", "customer_id"),
    "unique_orders_customer_id" -> uniqueSql("ord", "customer_id"),
    "relationships_orders_customer_id__customers_id" ->
      relSql("ord", "customer_id", "cust", "id"),
    "not_null_order_products_id" -> notNullSql("opp", "id"),
    "unique_order_products_id" -> uniqueSql("opp", "id"),
    "not_null_order_products_product_id" -> notNullSql("opp", "product_id"),
    "relationships_order_products_product_id__products_id" ->
      relSql("opp", "product_id", "products", "id"),
    "not_null_order_products_order_id" -> notNullSql("opp", "order_id"),
    "relationships_order_products_order_id__orders_id" ->
      relSql("opp", "order_id", "ord", "id"),
    "not_null_products_id" -> notNullSql("products", "id"),
    "unique_products_id" -> uniqueSql("products", "id"),
    // F1 DECODE (no default => non-match NULL) then dbt's NULLs-pass rule
    "accepted_values_stg_bike_shop__customers_customer_gender" ->
      ("(SELECT count(*) FROM (SELECT CASE WHEN gender = 'F' THEN 'Female'" +
        " WHEN gender = 'M' THEN 'Male' WHEN gender = 'X' THEN 'Non-binary'" +
        " END AS g FROM cust) WHERE g IS NOT NULL AND" +
        " g NOT IN ('Male', 'Female', 'Non-binary'))"),
    // fct keys are the op keys carried through two left joins against
    // unique-keyed dims (no fan-out), so the fct tests replay over opp
    "not_null_fct_order_products_order_product_id" -> notNullSql("opp", "id"),
    "unique_fct_order_products_order_product_id" -> uniqueSql("opp", "id"),
    "not_null_fct_order_products_order_id" -> notNullSql("opp", "order_id"),
    // customer_id enters fct via the op->orders LEFT join
    "not_null_fct_order_products_customer_id" ->
      ("(SELECT count(*) FROM opp LEFT JOIN ord ON opp.order_id = ord.id" +
        " WHERE ord.customer_id IS NULL)"))

  /** The full two-batch pipeline replayed in DuckDB. Every
    * data-dependent number in p1's output is RE-DERIVED: both batches'
    * customers/orders/order_products from the (seed, key) draw chains
    * (seeds: 42 for bootstrap, 42 + hash(T0+10min) for refresh —
    * Ingest.refresh's own derivation), the 96-product seed from the
    * (series, tier) grid arithmetic, the Gaussian product-pick
    * cumulative table from DuckDB's own median/stddev/exp (the
    * normalizing total and each boundary folded LEFT-SEQUENTIALLY via
    * list_reduce, mirroring the driver-side scanLeft), all 20 declared
    * dbt tests as real failing-row counts over the replayed tables, and
    * the four mart row counts. The returning-customer sample (Spark's
    * Bernoulli sampler — not portable) is provably INERT here: J4's
    * index alignment with numOrders == numNewCustomers means returning
    * pool indices (>= 1000) are never referenced, so no loaded table
    * depends on it.
    *
    * Float caveat (accepted): DuckDB's exp/median/stddev may differ
    * from the JVM's at the last ulp, so a pick boundary can shift by
    * ~1e-16 — but draw values are k/P <= 1 - 9e-10 while the final
    * boundary error is ~96 ulps, so no row can fall off the table's
    * end, and WHICH product a knife-edge row picks never changes any
    * output count (every pick is a valid FK).
    */
  private def p1OracleSql: String = {
    val seed1 = 42L
    val seed2 = 42L + T0.plusMinutes(10).hashCode()
    val testRows = graft.quality.DataTests.allDeclared.map { tc =>
      val expr = p1TestExprs.getOrElse(tc.name,
        sys.error(s"p1 oracle: no replay for declared test ${tc.name}"))
      s"""SELECT '${tc.name}' AS "check",
         |  CAST(CASE WHEN $expr = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed,
         |  CAST($expr AS BIGINT) AS n""".stripMargin
    }
    val martRows = Seq(
      "dim_customer" -> "(SELECT count(*) FROM cust)",
      "dim_order" -> "(SELECT count(*) FROM ord)",
      "dim_product" -> "(SELECT count(*) FROM products)",
      "fct_order_products" -> "(SELECT count(*) FROM opp)").map {
      case (m, e) =>
        s"""SELECT 'rows_$m' AS "check", CAST(1 AS BIGINT) AS passed,""" +
          s" CAST($e AS BIGINT) AS n"
    }
    s"""WITH idx AS (SELECT CAST(range AS BIGINT) AS gen_idx
       |  FROM range(1000)),
       |sp AS (SELECT CAST(range AS BIGINT) AS i FROM range(96)),
       |prodseed AS (SELECT i,
       |    ${poolSql(MockData.SeedSeries)}[CAST(i // 12 AS INT) + 1]
       |      || ' ' || ${poolSql(MockData.SeedTiers)}[CAST(i % 12 AS INT) + 1]
       |      || ' ' || CAST(i + 1 AS VARCHAR) AS model,
       |    450.0 + CAST((i * 2654435761) % 97 AS DOUBLE) * 130.0 AS price
       |  FROM sp),
       |products AS MATERIALIZED (SELECT i, price,
       |    ${uuidSql(MockData.uuidPartsDuckDigits(42L, "product", Seq("model")))}
       |      AS id
       |  FROM prodseed),
       |pstats AS (SELECT median(price) AS med, stddev_samp(price) AS std
       |  FROM products),
       |pw AS (SELECT i, id,
       |    exp(-pow(price - med, 2) / ((2 * std) * std))
       |      / (std * sqrt(2 * pi())) AS w
       |  FROM products, pstats),
       |plist AS (SELECT list(w ORDER BY i) AS ws, list(id ORDER BY i) AS ids
       |  FROM pw),
       |pcum AS MATERIALIZED (
       |  SELECT ids[CAST(k AS INT)] AS product_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_slice(ws, 1, CAST(k AS INT) - 1),
       |        w -> w / total)), (a, b) -> a + b) AS lo,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_slice(ws, 1, CAST(k AS INT)),
       |        w -> w / total)), (a, b) -> a + b) AS hi
       |  FROM (SELECT ws, ids,
       |      list_reduce(list_prepend(CAST(0 AS DOUBLE), ws),
       |        (a, b) -> a + b) AS total
       |    FROM plist),
       |    (SELECT CAST(range AS BIGINT) + 1 AS k FROM range(96))),
       |${p1BatchSql(1, seed1)},
       |${p1BatchSql(2, seed2)},
       |cust AS MATERIALIZED (SELECT * FROM cust1
       |  UNION ALL SELECT * FROM cust2),
       |ord AS MATERIALIZED (SELECT * FROM ord1
       |  UNION ALL SELECT * FROM ord2),
       |opr AS MATERIALIZED (SELECT * FROM op1
       |  UNION ALL SELECT * FROM op2),
       |opp AS MATERIALIZED (SELECT o.id, o.order_id, pc.product_id
       |  FROM opr o JOIN pcum pc ON o.r >= pc.lo AND o.r < pc.hi),
       |summary AS (${(testRows ++ martRows).mkString("\n  UNION ALL\n")})
       |SELECT "check", passed, n FROM summary ORDER BY "check"""".stripMargin
  }

  /** Bootstrap + refresh + dbt-run + dbt-test end to end
    * (refresh_source_data DAG ↦ dbt run ↦ dbt test, SURVEY §3): returns
    * one row per declared data test plus mart row counts. Materialized
    * eagerly so the scratch database can be dropped. Oracle-proven:
    * [[p1OracleSql]] replays the whole
    * two-batch pipeline — generators, staging semantics, tests — in
    * DuckDB, upgrading p1 from rows-only to hash-matched and leaving
    * q12 (the impl-specific Bernoulli sampler) the only spark-only
    * entry.
    */
  private def p1PipelineE2e = QueryDef.pinned(
    "p1_pipeline_e2e", p1OracleSql) { (p, s, _) =>
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val rawDb = s"graft_raw_$suffix"
    val martDb = s"graft_mart_$suffix"
    val staging = Files.createTempDirectory(s"graft-stage-$suffix")
    try {
      val ingest = new Ingest(s, rawDb, staging)
      ingest.runBatch(T0)                   // bootstrap branch
      ingest.runBatch(T0.plusMinutes(10))   // refresh branch
      val materialized = Models.dbtRun(s, rawDb, martDb)
      val tests = DataTests.runAll(s, rawDb, materialized)
      val testRows = tests.map(t => (t.name, if (t.passed) 1L else 0L, t.failingRows))
      // all four mart counts in ONE job (same batching as the test suite)
      val martRows = Seq("dim_customer", "dim_order", "dim_product",
        "fct_order_products")
        .map(m => materialized(m)
          .agg(lit(s"rows_$m").as("check"), count(lit(1)).as("n")))
        .reduce(_ unionByName _)
        .collect().map(r => (r.getString(0), 1L, r.getLong(1))).toSeq
      import s.implicits._
      // materialize before dropping the scratch dbs
      p.checkpoint((testRows ++ martRows).toDF("check", "passed", "n")
        .orderBy("check"))
    } finally {
      s.sql(s"DROP DATABASE IF EXISTS $martDb CASCADE")
      s.sql(s"DROP DATABASE IF EXISTS $rawDb CASCADE")
    }
  }

  // ---- g4: schema-evolution union across shard generations ----------------

  /** Schema-drift-tolerant corpus union: a long-lived corpus ships shard
    * generations whose schemas evolve (columns added over time), and the
    * reader must union them without rewriting old shards. Generation v1
    * here is the documents slice written before `source`/`n_chars`
    * existed (projected away to simulate the old files); v2 carries the
    * full schema. `unionByName(allowMissingColumns = true)` aligns by
    * NAME and null-fills what a generation lacks — the positional UNION
    * ALL would silently misalign — and the per-generation audit reports
    * row counts and null-fill counts per added column, the check a reader
    * runs before trusting a mixed-generation scan.
    *
    * Scale shape: each generation is one filter-pushed scan branch; the
    * union is a plan-level concatenation (no shuffle), and the audit is
    * one map-side-combined aggregation on the tiny `gen` key. At 100 TB
    * the branches are separate parquet roots with their own pushed
    * filters; nothing here materializes the union.
    */
  private def g4SchemaUnion = QueryDef.sql(
    "g4_schema_union",
    """WITH g1 AS (SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source,
      |    CAST(NULL AS BIGINT) AS n_chars, 'v1' AS gen
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
      |g2 AS (SELECT doc_id, lang, source, n_chars, 'v2' AS gen
      |  FROM documents
      |  WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')),
      |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
      |SELECT gen, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_source_filled,
      |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_chars_filled,
      |  count(DISTINCT lang) AS n_langs,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM u GROUP BY gen ORDER BY gen""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val v1Sources = Seq("src0", "src1", "src2", "src3")
    // v1 simulates pre-evolution files: the added columns don't exist
    val gen1 = docs.filter(col("source").isin(v1Sources: _*))
      .select(col("doc_id"), col("lang"), lit("v1").as("gen"))
    val gen2 = docs.filter(!col("source").isin(v1Sources: _*))
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), lit("v2").as("gen"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .groupBy("gen")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("source").isNull, 1L).otherwise(0L))
          .as("n_source_filled"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L))
          .as("n_chars_filled"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("gen")
  }

  // ---- g5: ORC sink/source roundtrip -------------------------------------

  /** ORC interchange roundtrip — the remaining columnar format the
    * runtime ships a native reader for (parquet, CSV/TSV, JSONL, and
    * the DSV2 connector are covered by S1–S4/g3/`sources.JsonLines`;
    * Hive-ecosystem consumers hand over ORC). The documents table is
    * written as ORC and read back through the native vectorized ORC
    * scan with a pushed length predicate; the oracle computes the same
    * census straight from the parquet table, so the hash match proves
    * BOTH roundtrip fidelity (nullable strings + longs survive the
    * format boundary bit-for-bit) and that the filtered aggregate over
    * the ORC scan equals the source of truth.
    *
    * Scale shape: one format-conversion pass (write), then a pruned
    * columnar scan — the n_chars predicate and the 4-column projection
    * both reach the ORC reader (PushedFilters / vectorized batch
    * read), and the census is one map-side-combined aggregation. At
    * 100 TB the conversion is the cost and it is embarrassingly
    * parallel; nothing here shuffles the corpus.
    */
  private def g5OrcRoundtrip = QueryDef.sql(
    "g5_orc_roundtrip",
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(DISTINCT lang) AS n_langs
      |FROM documents WHERE n_chars >= 100
      |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    // Session-stable scratch (see [[Scratch]]): the returned DataFrame
    // reads the ORC copy LAZILY (Bench counts it later, and 3 timed
    // passes re-invoke this builder), so the path must survive
    // re-invocation within the session — while staying disjoint from
    // any concurrently-running session's copy.
    val tmp = Scratch.dir(s, "g5-orc")
    Tables.documents(s, dir)
      .write.mode("overwrite").orc(s"$tmp/documents.orc")
    s.read.orc(s"$tmp/documents.orc")
      .filter(col("n_chars") >= 100)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
  }

  /** Parquet BLOOM-FILTER point lookup ([[graft.sources.Layout
    * .writeBloomFiltered]]): write the corpus keyed by its content
    * fingerprint with a per-row-group bloom filter on that column,
    * then fetch one document (plus any exact-content clones) by
    * fingerprint equality. The third data-skipping lever proven on the
    * sink side — directory pruning (g-series partitioned layouts) and
    * min/max clustering (e40 Z-order) both fail for a point lookup on
    * a HASH-shaped key (every row group spans the whole hash domain);
    * the bloom filter answers "possibly here?" per row group with no
    * sort and no second data copy, which is the "fetch doc by
    * fingerprint" shape of a dedup review queue at 100 TB. The lookup
    * key is resolved from doc 42's text first (one 1-row driver pull,
    * the bounded-lookup class) so the scan receives a LITERAL equality
    * predicate — the only form bloom filters engage for. Clone
    * handling is semantic, not incidental: every doc with byte-equal
    * text shares the fingerprint and is returned by both engines.
    * LayoutSpec pins the footer contract (bloom offsets present for
    * the keyed column, absent otherwise) and the false-positive
    * safety (parquet re-checks surviving pages, so results never
    * change — only skipping does).
    */
  private def g6BloomLookup = QueryDef.sql(
    "g6_bloom_lookup",
    s"""WITH fp AS (SELECT doc_id, source, n_chars,
       |    ${graft.functions.Portable.textFingerprintDuck} AS fp
       |  FROM documents)
       |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
       |FROM fp WHERE fp = (SELECT fp FROM fp WHERE doc_id = 42)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tmp = Scratch.dir(s, "g6-bloom")
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        graft.functions.F.poly_hash(col("text")).as("fp"))
    graft.sources.Layout.writeBloomFiltered(
      keyed, s"$tmp/docs_fp.parquet", Seq("fp"), expectedNdv = 1000000L)
    val table = s.read.parquet(s"$tmp/docs_fp.parquet")
    // headOption, not head(): the oracle's scalar subquery yields NULL
    // when doc 42 is absent and `fp = NULL` matches nothing — an empty
    // result, not a crash. Mirror that with an always-false predicate
    // on the same projection so schema and (empty) hash still match.
    val out = table
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"), col("fp"))
    table.filter(col("doc_id") === 42L).select(col("fp"))
      .head(1).headOption match {
      case Some(r) => out.filter(col("fp") === r.getLong(0))
        .drop("fp").orderBy("doc_id")
      case None => out.filter(lit(false)).drop("fp")
    }
  }
}
