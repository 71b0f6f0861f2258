package perfbench

import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `iterative` workload: the job-count-bound iterative operators
  * (incremental connected components, NN-Descent, the streaming kNN fold,
  * label propagation) over the benchmark's parquet tables.
  *
  * One op is one query call split into build (the builder returns a
  * DataFrame, running its eager jobs), plan (physical planning) and exec
  * (collect). Every pass of the window calls each query once, in the
  * order of [[Names]], so that every run makes the same calls in the same
  * order from process start. The seed does not change this workload: its
  * inputs are the committed tables, and an order drawn from the seed
  * moved the op times with the order (how long a query's first call takes
  * depends on which queries ran before it). Each result's row count and
  * order-insensitive digest are reported for `run.py` to compare with
  * the pinned values.
  */
object Queries {
  val Names: Seq[String] = Seq("e156_incremental_cc", "e147_nn_descent",
    "e173_knn_persist_fold", "e163_lpa_communities")

  /** Untimed calls before the window. The first query call of a process
    * carries the process-wide first-call cost (Spark's analyzer, planner,
    * code generation and scheduler loading and compiling): about 9 of the
    * 12 s of a first `e163_lpa_communities`, which takes 3 s warm. One
    * call of that query, the cheapest, takes this cost out of the window.
    * A whole warm-up pass would also take out each query's own first-call
    * cost, but costs 45–50 s a run, which ten runs per workload and side
    * cannot pay. A traced run adds that pass all the same, so that the
    * traced and untraced calls it pairs are warm alike.
    */
  val WarmUp: Seq[String] = Seq("e163_lpa_communities")

  def run(a: Main.Args): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val spark = Main.session(a)
    a.checkJobs match {
      case Some(q) => checkJobs(spark, a, q, queries(q))
      case None => timed(spark, a, queries)
    }
  }

  private def timed(spark: SparkSession, a: Main.Args,
      queries: Map[String, (SparkSession, String) => DataFrame]): Map[String, Any] = {
    val tracer = new Tracer(spark.sparkContext)
    val warm = (WarmUp ++ (if (a.trace) Names else Nil))
      .map(n => call(spark, a, n, queries(n), tracer, -1))
    val ops = Vector.newBuilder[Map[String, Any]]
    val passes = Vector.newBuilder[Map[String, Any]]
    var op = 0
    val win = Main.window(a) { p =>
      var passS = 0.0
      Names.zipWithIndex.foreach { case (n, pos) =>
        val traced = Main.traced(a, p, pos)
        if (traced) tracer.attach()
        val r = call(spark, a, n, queries(n), tracer, op)
        tracer.detach()
        ops += r + ("op" -> op) + ("traced" -> traced)
        passS += r("s").asInstanceOf[Double]
        op += 1
      }
      passes += Map("s" -> passS)
    }
    Map("workload" -> a.workload, "warm" -> warm.map(r => r - "layers_s"),
      "ops" -> ops.result(), "passes" -> passes.result(), "window" -> win,
      "layers" -> Main.layerRecords(tracer))
  }

  def call(spark: SparkSession, a: Main.Args, name: String,
      fn: (SparkSession, String) => DataFrame,
      tracer: Tracer, op: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    try {
      val (df, b) = tracer.span("queries.build", op)(fn(spark, a.data))
      val (_, p) = tracer.span("queries.plan", op)(df.queryExecution.executedPlan)
      val (rows, e) = tracer.span("queries.exec", op)(df.collect())
      Map("kind" -> name, "s" -> (b + p + e), "layers_s" -> Seq(b, p, e),
        "ok" -> true, "rows" -> rows.length, "digest" -> digest(rows))
    } catch {
      case NonFatal(e) =>
        Console.err.println(s"$name failed: $e")
        Map("kind" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
          "layers_s" -> Seq.empty[Double], "ok" -> false)
    }
  }

  /** Order-insensitive digest of a result: the wrapping sum of a 64-bit
    * hash of each row's canonical text. Doubles are rounded to 8
    * significant digits, so that a different summation order across
    * partitions does not change the digest.
    */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x2f1a2b3c).toLong & 0xffffffffL)
    }
    f"$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(8))
      .stripTrailingZeros.toString

  /** Self-check: one traced call of `name`, with an independent listener
    * counting every job the process submits during the call.
    */
  private def checkJobs(spark: SparkSession, a: Main.Args, name: String,
      fn: (SparkSession, String) => DataFrame): Map[String, Any] = {
    val sc: SparkContext = spark.sparkContext
    val raw = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = raw.incrementAndGet()
    })
    val tracer = new Tracer(sc)
    tracer.attach()
    ListenerBus.drain(sc)
    val before = raw.get
    val r = call(spark, a, name, fn, tracer, 0)
    tracer.detach()
    val traced = tracer.log.attribute(tracer.traced).values.map(_.jobs).sum
    Map("check_jobs" -> name, "ok" -> r("ok"), "raw_jobs" -> (raw.get - before),
      "traced_jobs" -> traced)
  }
}
