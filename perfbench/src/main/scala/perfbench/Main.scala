package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one process, one client thread, a closed loop (the
  * next op starts when the previous one has returned). It runs one
  * workload and prints one JSON line of raw samples; `run.py` turns the
  * samples into metrics.
  *
  * Phases, in order:
  *  1. set-up: a SparkContext plus the workload's preparation.
  *  2. warm-up: some of the workload's own ops, untimed, so that the
  *     slowest first calls are over before timing starts (the report
  *     carries the JIT and GC time of the window to show how warm it is).
  *  3. the timed window: whole passes until `--seconds` have elapsed.
  *     With `--trace 1`, half the ops run with a [[JobLog]] attached and
  *     half without (see [[traced]]), which measures the tracing overhead
  *     in the same process.
  * The set-up time reported is everything before the window: from the
  * start of the process to the start of the first timed op.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, checkJobs: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), Paths.get(req("work")),
      kv.get("check-jobs"))
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = graft.Graft.builder(Some(cpus))
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val out = a.workload match {
      case "refresh" => Refresh.run(a)
      case "iterative" => Queries.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    println(Json.write(out + ("native_peak_mb" -> Jvm.peakNativeMb()) +
      ("process_s" -> Jvm.sinceStart())))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  /** The timed window shared by every workload: whole passes until the
    * window has lasted `seconds`, and at least two passes when tracing.
    * Returns the set-up time (process start to the first timed op), the
    * window's JVM counter deltas, and the heap the program holds at the
    * end of the window (after a full collection, outside the timing).
    */
  def window(a: Args)(pass: Int => Unit): Map[String, Any] = {
    val setup = Jvm.sinceStart()
    val j0 = Jvm.now()
    val t0 = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || (a.trace && p < 2)) {
      pass(p)
      p += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val d = Jvm.now() - j0
    Map("setup_s" -> setup, "window_s" -> windowS, "passes" -> p,
      "jit_ms" -> d.jitMs, "gc_ms" -> d.gcMs, "cpu_s" -> d.cpuNs / 1e9,
      "live_heap_mb" -> Jvm.liveHeapMb())
  }

  /** Whether the op at `pos` of pass `p` runs traced. Traced and untraced
    * ops alternate, shifted by one each pass. With an even pass (the four
    * queries) every query runs once each way over two passes; with an odd
    * one (five refresh cycles) traced and untraced ops alternate along the
    * whole window, so each traced cycle has an untraced one on each side.
    */
  def traced(a: Args, p: Int, pos: Int): Boolean = a.trace && (p + pos) % 2 == 0

  /** One traced op's per-layer record, from its spans. */
  def layerRecords(tracer: Tracer): Seq[Map[String, Any]] = {
    val spans = tracer.traced
    val work = tracer.log.attribute(spans)
    spans.map { s =>
      val w = work.getOrElse(s, Work())
      Map("op" -> s.op, "layer" -> s.layer, "s" -> s.seconds, "jobs" -> w.jobs,
        "stages" -> w.stages, "tasks" -> w.tasks, "run_ms" -> w.runMs,
        "cpu_s" -> w.cpuNs / 1e9, "rows_read" -> w.rowsRead,
        "shuffle_write" -> w.shuffleWrite, "spill" -> w.spill)
    }
  }
}

/** Just enough JSON for the report: maps, sequences, numbers, strings. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
