package graft.quality

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase
import graft.quality.DataTests._

/** The test COMPILER itself: each of the four dbt test types must flag
  * exactly the injected violations (negative tests — the pipeline specs
  * cover the all-green path).
  */
class DataTestsSpec extends SparkSpecBase {

  private def resolve(m: Map[String, DataFrame])(t: String): DataFrame = m(t)

  test("not_null flags nulls only") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("b"), None).toDF("id")
    val r = DataTests.run(Seq(TestCase("t", NotNull("id"))), resolve(Map("t" -> df)))
    assert(r.head.failingRows === 2 && !r.head.passed)
    val ok = DataTests.run(Seq(TestCase("t", NotNull("id"))),
      resolve(Map("t" -> Seq("a", "b").toDF("id"))))
    assert(ok.head.passed)
  }

  test("unique flags duplicated keys (one failing row per dup key)") {
    import spark.implicits._
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("id")
    val r = DataTests.run(Seq(TestCase("t", Unique("id"))), resolve(Map("t" -> df)))
    assert(r.head.failingRows === 2) // keys a and b
  }

  test("unique: NULL keys pass, as dbt filters them before grouping") {
    import spark.implicits._
    val df = Seq(None, None, Some("a"), Some("a"), Some("b")).toDF("id")
    val tests = Seq(TestCase("t", Unique("id")))
    val m = Map("t" -> df)
    assert(DataTests.run(tests, resolve(m)).head.failingRows === 1) // a only
    assert(DataTests.runBatched(tests, resolve(m)).head.failingRows === 1)
  }

  test("accepted_values: NULLs pass (dbt semantics), others must match") {
    import spark.implicits._
    val df = Seq(Some("Male"), Some("Female"), None, Some("Other"))
      .toDF("customer_gender")
    val r = DataTests.run(
      Seq(TestCase("t", AcceptedValues("customer_gender",
        Seq("Male", "Female", "Non-binary")))),
      resolve(Map("t" -> df)))
    assert(r.head.failingRows === 1) // only "Other"; NULL passes
  }

  test("relationships: non-null orphans flagged, null FKs pass") {
    import spark.implicits._
    val child = Seq(Some("p1"), Some("p9"), None).toDF("product_id")
    val parent = Seq("p1", "p2").toDF("id")
    val r = DataTests.run(
      Seq(TestCase("child", Relationships("product_id", "parent", "id"))),
      resolve(Map("child" -> child, "parent" -> parent)))
    assert(r.head.failingRows === 1) // p9 only
  }

  test("runBatched returns the same results as per-test run") {
    import spark.implicits._
    val child = Seq(("a", Some("p1")), ("b", Some("p9")), ("b", None),
      (null.asInstanceOf[String], Some("p1"))).toDF("id", "fk")
    val parent = Seq("p1", "p2").toDF("pid")
    val tests = Seq(
      TestCase("c", NotNull("id")),
      TestCase("c", Unique("id")),
      TestCase("c", AcceptedValues("id", Seq("a", "b"))),
      TestCase("c", Relationships("fk", "p", "pid")))
    val m = Map("c" -> child, "p" -> parent)
    val sequential = DataTests.run(tests, resolve(m))
    val batched = DataTests.runBatched(tests, resolve(m))
    assert(batched === sequential)
    assert(batched.map(_.failingRows) === Seq(1L, 1L, 0L, 1L))
  }

  test("fused runBatched equals per-test run on every violation kind, " +
    "one scan per table and at most two shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // AQE off so the executed plan is the whole static plan
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    val child = Seq[(String, String, String, String)](
      ("a", "p1", "p2", "Male"),
      ("b", "p9", "p1", "Female"), //   orphan fk p9
      ("b", "p9", null, "Other"), //    dup id b, the same orphan again
      (null, "p1", "p7", "Male"), //    NULL id, orphan fk2 p7
      (null, null, "p2", null) //       second NULL id, NULL fk passes
    ).toDF("id", "fk", "fk2", "gender")
    // the parent carries its own tests and NULL keys, which match no FK
    val parent = Seq[String]("p1", "p2", "p2", null, null).toDF("pid")
    val other = Seq[Option[Int]](Some(1), None).toDF("n")
    val tests = Seq(
      TestCase("c", NotNull("id")),
      TestCase("c", Unique("id")),
      TestCase("c", AcceptedValues("gender", Seq("Male", "Female"))),
      TestCase("c", Relationships("fk", "p", "pid")),
      TestCase("c", Relationships("fk2", "p", "pid")),
      TestCase("p", NotNull("pid")),
      TestCase("p", Unique("pid")),
      TestCase("o", NotNull("n")))
    val m = Map("c" -> child, "p" -> parent, "o" -> other)
    val sequential = DataTests.run(tests, resolve(m))
    val fused = DataTests.runBatched(tests, resolve(m))
    assert(fused === sequential)
    // orphans count per row: fk p9 twice, fk2 p7 once
    assert(fused.map(_.failingRows) === Seq(2L, 1L, 1L, 2L, 1L, 2L, 1L, 1L))

    val plan = DataTests.batchedPlan(tests, resolve(m))
      .queryExecution.executedPlan
    assert(plan.collectLeaves().size === m.size, plan)
    assert(plan.collect { case e: ShuffleExchangeLike => e }.size <= 2, plan)
  }

  test("fused runBatched rejects a relationships test across key types") {
    import spark.implicits._
    val m = Map("c" -> Seq(1, 2).toDF("fk"), "p" -> Seq("1").toDF("id"))
    intercept[IllegalArgumentException](DataTests.runBatched(
      Seq(TestCase("c", Relationships("fk", "p", "id"))), resolve(m)))
  }

  test("incremental suite prunes to the batch's partitions and matches " +
    "the full-scan results") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Two-batch partitioned child table (the Layout.writePartitioned
    // layout an ingest tick appends to). Batch 1 is clean (it passed its
    // own run); batch 2 carries one of each violation: a NULL id, a
    // value outside the accepted set, a key colliding with batch 1, and
    // an orphan FK.
    val dir = Files.createTempDirectory("graft_dq_inc").toString + "/child"
    val child = Seq(
      // batch 1 — clean
      (Some("a"), Some("p1"), "Male", 1),
      (Some("b"), Some("p2"), "Female", 1),
      // batch 2 — the violations under test
      (None, Some("p1"), "Male", 2), //         not_null fails
      (Some("c"), Some("p9"), "Female", 2), //  relationships fails
      (Some("a"), Some("p2"), "Male", 2), //    cross-batch dup key
      (Some("d"), None, "Other", 2) //          accepted_values fails
    ).toDF("id", "fk", "gender", "batch")
    graft.sources.Layout.writePartitioned(child, dir, Seq("batch"))
    val parent = Seq("p1", "p2").toDF("pid")
    val m = Map("c" -> spark.read.parquet(dir), "p" -> parent)
    val tests = Seq(
      TestCase("c", NotNull("id")),
      TestCase("c", Unique("id")),
      TestCase("c", AcceptedValues("gender",
        Seq("Male", "Female", "Non-binary"))),
      TestCase("c", Relationships("fk", "p", "pid")))

    // equal results: with clean prior batches, every full-scan failure
    // involves a batch-2 row, so the pruned suite must find them all —
    // including the unique collision whose OTHER row lives in batch 1
    val full = DataTests.runBatched(tests, resolve(m))
    val inc = DataTests.runIncremental(tests, resolve(m),
      col("batch") === 2)
    assert(inc === full)
    assert(inc.map(_.failingRows) === Seq(1L, 1L, 1L, 1L))

    // pruning proof: the row-local tests' scans carry a PartitionFilter
    // on the batch column (pruned before IO, not a post-scan filter)
    for (tc <- Seq(tests.head, tests(2))) {
      val plan = DataTests.compileIncremental(tc, resolve(m),
        col("batch") === 2).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(batch"),
        s"${tc.name} scan not pruned:\n$plan")
    }
    // and the relationships child side prunes too (parent stays full)
    val relPlan = DataTests.compileIncremental(tests(3), resolve(m),
      col("batch") === 2).queryExecution.executedPlan.toString
    assert(relPlan.contains("PartitionFilters: [isnotnull(batch"), relPlan)
  }

  test("declared suite covers every YAML instance") {
    assert(sourceTests.size === 15)
    assert(stagingTests.size === 1)
    assert(martTests.size === 4)
    assert(allDeclared.map(_.name).distinct.size === allDeclared.size)
  }
}
