package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dbt data-test engine (SURVEY.md §2.10): the four declarative test
  * types compiled from (table, column, spec) triples into DataFrames of
  * FAILING rows — a test passes iff its compiled query returns 0 rows,
  * exactly dbt's contract. The declarations below port every test
  * instance attached in the reference's three YAML files.
  */
object DataTests {

  sealed trait TestSpec { def kind: String }
  /** T1 — column must have no NULLs. */
  final case class NotNull(column: String) extends TestSpec { val kind = "not_null" }
  /** T2 — non-NULL column values must be unique (dbt: NULLs pass). */
  final case class Unique(column: String) extends TestSpec { val kind = "unique" }
  /** T3 — non-NULL values restricted to `values` (dbt: NULLs pass). */
  final case class AcceptedValues(column: String, values: Seq[String])
      extends TestSpec { val kind = "accepted_values" }
  /** T4 — FK: every non-NULL `column` exists in `toTable`.`toColumn`. */
  final case class Relationships(column: String, toTable: String, toColumn: String)
      extends TestSpec { val kind = "relationships" }

  final case class TestCase(table: String, spec: TestSpec) {
    def name: String = spec match {
      case r: Relationships =>
        s"${spec.kind}_${table}_${r.column}__${r.toTable}_${r.toColumn}"
      case _ =>
        s"${spec.kind}_${table}_${specColumn(spec)}"
    }
  }
  private def specColumn(s: TestSpec): String = s match {
    case NotNull(c) => c
    case Unique(c) => c
    case AcceptedValues(c, _) => c
    case Relationships(c, _, _) => c
  }

  final case class TestResult(name: String, failingRows: Long) {
    def passed: Boolean = failingRows == 0
  }

  /** Compile one test to its failing-rows DataFrame. `resolve` maps a
    * table name to its DataFrame (raw table, staging view, or mart
    * table).
    */
  def compile(tc: TestCase, resolve: String => DataFrame): DataFrame = {
    val df = resolve(tc.table)
    tc.spec match {
      case NotNull(c) =>
        df.filter(col(c).isNull)
      case Unique(c) =>
        df.filter(col(c).isNotNull)
          .groupBy(col(c)).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
      case AcceptedValues(c, vals) =>
        df.filter(col(c).isNotNull && !col(c).isin(vals: _*))
      case Relationships(c, toTable, toColumn) =>
        df.filter(col(c).isNotNull)
          .join(resolve(toTable).select(col(toColumn).as(c)), Seq(c), "left_anti")
    }
  }

  /** `dbt test` twin (§3.3): run a suite, one count per test. */
  def run(tests: Seq[TestCase], resolve: String => DataFrame): Seq[TestResult] =
    tests.map(tc => TestResult(tc.name, compile(tc, resolve).count()))

  /** Same results as [[run]], in one scan per distinct resolved table
    * and one keyed aggregation: 3 Spark jobs (two shuffle stages and the
    * collect) whatever the number of tests, where a union of per-test
    * aggregates costs a subtree, and generated code, per test.
    *
    * Each table's scan emits, through one `explode(array(when(...)))`,
    * a `(test, key, n, parent)` row for every test row that can fail:
    *  - not_null / accepted_values: a violating row, key NULL, n = 1;
    *  - unique: a non-NULL key, n = 1;
    *  - relationships: a non-NULL child key with n = 1 from the child
    *    table's scan, and a non-NULL parent key with n = 0 and
    *    parent = true from the parent table's scan.
    * Grouping by `(test, key)` with `sum(n)` and `max(parent)` leaves
    * one row per key; the failing count of a test is then the sum of
    * `n` (not_null, accepted_values), the number of keys with `n > 1`
    * (unique), or the sum of `n` over keys with no parent row
    * (relationships: each orphan child row counts, as in the
    * anti-join). Keys are compared as strings; a relationships test
    * must join columns of one type.
    */
  def runBatched(
      tests: Seq[TestCase], resolve: String => DataFrame): Seq[TestResult] = {
    val failing = batchedPlan(tests, resolve).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    tests.zipWithIndex.map { case (tc, i) =>
      TestResult(tc.name, failing.getOrElse(i, 0L))
    }
  }

  /** The plan behind [[runBatched]]: `(test, failing)` rows, `test`
    * being the index in `tests`; a test with no failing row may be
    * absent.
    */
  private[quality] def batchedPlan(
      tests: Seq[TestCase], resolve: String => DataFrame): DataFrame = {
    val tables = tests.flatMap { tc =>
      tc.table +: (tc.spec match {
        case r: Relationships => Seq(r.toTable)
        case _ => Nil
      })
    }.distinct
    val frames = tables.map(t => t -> resolve(t)).toMap
    def typeOf(t: String, c: String) =
      frames(t).select(col(c)).schema.head.dataType

    val noKey = lit(null).cast("string")
    def emit(i: Int, key: Column, n: Long, parent: Boolean): Column =
      struct(lit(i).as("test"), key.cast("string").as("key"),
        lit(n).as("n"), lit(parent).as("parent"))
    val emits: Seq[(String, Column)] = tests.zipWithIndex.flatMap {
      case (tc, i) => tc.spec match {
        case NotNull(c) =>
          Seq(tc.table -> when(col(c).isNull, emit(i, noKey, 1, false)))
        case AcceptedValues(c, vals) =>
          Seq(tc.table -> when(col(c).isNotNull && !col(c).isin(vals: _*),
            emit(i, noKey, 1, false)))
        case Unique(c) =>
          Seq(tc.table -> when(col(c).isNotNull, emit(i, col(c), 1, false)))
        case Relationships(c, toTable, toColumn) =>
          val (ct, pt) = (typeOf(tc.table, c), typeOf(toTable, toColumn))
          require(ct == pt,
            s"${tc.name}: ${tc.table}.$c is $ct but $toTable.$toColumn is $pt")
          Seq(tc.table -> when(col(c).isNotNull, emit(i, col(c), 1, false)),
            toTable -> when(col(toColumn).isNotNull,
              emit(i, col(toColumn), 0, true)))
      }
    }
    val scans = tables.map { t =>
      frames(t)
        .select(explode(array(emits.collect { case (`t`, e) => e }: _*)).as("e"))
        .filter(col("e").isNotNull)
        .select("e.*")
    }

    def ofKind(kind: String) = col("test").isin(
      tests.zipWithIndex.collect { case (tc, i) if tc.spec.kind == kind => i }: _*)
    val isUnique = ofKind("unique")
    val isRel = ofKind("relationships")
    scans.reduce(_ unionByName _)
      .groupBy("test", "key")
      .agg(sum("n").as("n"), max("parent").as("parent"))
      .select(col("test"),
        when(isUnique, when(col("n") > 1, 1L).otherwise(0L))
          .when(isRel, when(col("parent"), 0L).otherwise(col("n")))
          .otherwise(col("n")).as("failing"))
      .groupBy("test").agg(sum("failing").as("failing"))
  }

  /** Compile one test INCREMENTALLY: validate only the rows matched by
    * `touched` (a predicate on the table's partition columns — e.g.
    * `col("load_date") === d` over a [[graft.sources.Layout
    * .writePartitioned]] layout), so the scan prunes to the partitions a
    * batch wrote (`PartitionFilters` non-empty) instead of re-reading
    * the whole table on every ingest tick. At 100 TB this is the
    * difference between a per-batch test suite costing O(batch) and
    * O(history).
    *
    * Soundness, given prior batches already passed their own runs:
    *  - not_null / accepted_values are row-local — new rows are the only
    *    possible new violations.
    *  - relationships checks the batch's child rows against the FULL
    *    parent (only the anti-join's left side prunes; a missing parent
    *    for an old child would have failed an earlier run).
    *  - unique is NOT row-local (a new row can collide with an old one):
    *    failing keys are the batch's keys whose count over the FULL
    *    table exceeds 1 — the history side is a single-column semi-join
    *    scan (column-pruned), the irreducible cost of cross-batch
    *    uniqueness without an index.
    */
  def compileIncremental(
      tc: TestCase, resolve: String => DataFrame,
      touched: org.apache.spark.sql.Column): DataFrame = {
    val df = resolve(tc.table)
    tc.spec match {
      case NotNull(c) =>
        df.filter(touched).filter(col(c).isNull)
      case AcceptedValues(c, vals) =>
        df.filter(touched).filter(col(c).isNotNull && !col(c).isin(vals: _*))
      case Relationships(c, toTable, toColumn) =>
        df.filter(touched).filter(col(c).isNotNull)
          .join(resolve(toTable).select(col(toColumn).as(c)), Seq(c), "left_anti")
      case Unique(c) =>
        val batchKeys = df.filter(touched).filter(col(c).isNotNull)
          .select(col(c)).distinct()
        df.select(col(c))
          .join(batchKeys, Seq(c), "left_semi")
          .groupBy(col(c)).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
    }
  }

  /** The per-ingest-tick suite over [[compileIncremental]]: every
    * test reduced to a (name, failing-count) row and the rows unioned
    * into one Spark action, scans pruned to the batch's partitions.
    */
  def runIncremental(
      tests: Seq[TestCase], resolve: String => DataFrame,
      touched: org.apache.spark.sql.Column): Seq[TestResult] = {
    val counts = tests.map { tc =>
      compileIncremental(tc, resolve, touched)
        .agg(count(lit(1)).as("failing"))
        .select(lit(tc.name).as("name"), col("failing"))
    }
    val byName = counts.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tests.map(tc => TestResult(tc.name, byName(tc.name)))
  }

  // ---- The declared instances ---------------------------------------------

  /** sources/_bike_shop.yml:12-55 — raw-table tests, including the
    * reference's deliberate `orders.customer_id` UNIQUE declaration
    * (only true because of J4's index-alignment quirk; replicated
    * as-is, SURVEY §2.10 T2).
    */
  val sourceTests: Seq[TestCase] = Seq(
    TestCase("customers", NotNull("id")),
    TestCase("customers", Unique("id")),
    TestCase("orders", NotNull("id")),
    TestCase("orders", Unique("id")),
    TestCase("orders", NotNull("customer_id")),
    TestCase("orders", Unique("customer_id")),
    TestCase("orders", Relationships("customer_id", "customers", "id")),
    TestCase("order_products", NotNull("id")),
    TestCase("order_products", Unique("id")),
    TestCase("order_products", NotNull("product_id")),
    TestCase("order_products", Relationships("product_id", "products", "id")),
    TestCase("order_products", NotNull("order_id")),
    TestCase("order_products", Relationships("order_id", "orders", "id")),
    TestCase("products", NotNull("id")),
    TestCase("products", Unique("id")))

  /** staging/_stg_bike_shop.yml:5-11. */
  val stagingTests: Seq[TestCase] = Seq(
    TestCase("stg_bike_shop__customers",
      AcceptedValues("customer_gender", Seq("Male", "Female", "Non-binary"))))

  /** mart/_mart_bike_shop.yml:4-13. */
  val martTests: Seq[TestCase] = Seq(
    TestCase("fct_order_products", NotNull("order_product_id")),
    TestCase("fct_order_products", Unique("order_product_id")),
    TestCase("fct_order_products", NotNull("order_id")),
    TestCase("fct_order_products", NotNull("customer_id")))

  val allDeclared: Seq[TestCase] = sourceTests ++ stagingTests ++ martTests

  /** Run every declared test against a materialized pipeline: raw tables
    * in `rawDb`, staging views + mart tables from [[graft.models.Models
    * .dbtRun]] results.
    */
  def runAll(
      spark: SparkSession, rawDb: String,
      materialized: Map[String, DataFrame]): Seq[TestResult] = {
    def resolve(t: String): DataFrame =
      materialized.getOrElse(t, spark.table(s"$rawDb.$t"))
    runBatched(allDeclared, resolve)
  }
}
