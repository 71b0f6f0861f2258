package graft.queries

import graft.{SparkEntry, SparkSpecBase}

/** Oracle-degeneracy gate (VERDICT r10 item 3): every registered query
  * must return MORE THAN ZERO rows at sf0.01 — the scale factor the
  * driver's DuckDB compare runs at — except the named allowance list
  * in [[SparkEntry.emptyAllowed]] (each allowance cites its
  * always-populated twin). A 0-row Spark result hash-matches a 0-row
  * oracle no matter how wrong the query is: q34_set_ops shipped green
  * for multiple rounds with a split date that preceded the whole data
  * range, so BOTH set-op branches were empty and the "pass" proved
  * nothing. Emptiness itself is the failure this gate catches.
  *
  * The spec also fails when an ALLOWANCE goes stale (the query now
  * returns rows): an allowance that no longer fires must be deleted so
  * the list stays an honest census of known-empty results.
  *
  * The same pass checks that every pin a query leaves behind belongs
  * to a [[graft.operators.Pins.slot]]: with every returned frame still
  * reachable (so Spark's ContextCleaner cannot free an unowned pin
  * first), closing all slots must return the persisted RDDs to their
  * pre-pass baseline.
  */
class DegeneracySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.01"

  test("every registered query is non-empty at sf0.01 " +
    "except the emptyAllowed census") {
    // Queries are independent (Verify runs them 4-way concurrently in
    // one session every round) — same small fan-out here, sequential
    // isEmpty would serialize ~200 scheduler round-trips.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
        val th = new Thread(r, "graft-degeneracy"); th.setDaemon(true); th
      }))
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    val checks = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) => Future {
        try {
          val df = fn(spark, dir)
          (name, df, df.isEmpty)
        } catch { case e: Throwable =>
          fail(s"$name failed to run at sf0.01: ${e.getMessage}")
        }
      }
    }
    val results = Await.result(Future.sequence(checks), Duration.Inf)
    graft.operators.Pins.closeSlots()
    val unowned = (sc.getPersistentRDDs.keySet -- baseline).toSeq.sorted
      .map(sc.getPersistentRDDs(_))
    java.lang.ref.Reference.reachabilityFence(results)
    val empties = results.collect { case (name, _, true) => name }.toSet

    val unexpected = (empties -- SparkEntry.emptyAllowed).toSeq.sorted
    assert(unexpected.isEmpty,
      s"degenerate 0-row results at sf0.01 (their oracle rows prove " +
        s"nothing): ${unexpected.mkString(", ")} — fix the query or add " +
        "a justified SparkEntry.emptyAllowed entry with a populated twin")

    val stale = (SparkEntry.emptyAllowed -- empties).toSeq.sorted
    assert(stale.isEmpty,
      s"stale emptyAllowed entries (no longer empty at sf0.01): " +
        s"${stale.mkString(", ")} — delete them so the census stays honest")

    assert(unowned.isEmpty,
      s"pins no slot owns: ${unowned.mkString(", ")}")
  }
}
