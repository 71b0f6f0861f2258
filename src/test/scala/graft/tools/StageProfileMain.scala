package graft.tools

import org.apache.spark.scheduler._

/** Dev-only per-stage profiler (r17 optimization rounds): runs named
  * SparkEntry queries once warmed, once timed, and dumps every stage's
  * wall duration, task count, shuffle read/write bytes and the callsite
  * so per-round fixed costs are attributable without the UI (disabled
  * in this sandbox). Not registered anywhere; same env contract as
  * ProbeMain (PROBE_DIR, PROBE_CPUS).
  */
object StageProfileMain {
  case class St(id: Int, name: String, tasks: Int, ms: Long,
      shufRead: Long, shufWrite: Long, input: Long, taskMs: Long,
      where: String)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("PROBE_CPUS", "32")
    val b = graft.Graft.builder(Some(cpus.toInt)).master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
    // PROBE_CONF="k=v;k=v" — A/B candidate session configs
    sys.env.getOrElse("PROBE_CONF", "").split(";")
      .map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PROBE_DIR", "/root/testdata/sf0.1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) jobs.incrementAndGet()
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = if (collecting) {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val ms = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        val where = {
          val frame = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("tools."))
            .getOrElse("").trim
          val rdds = si.rddInfos.map { r =>
            val sc = r.scope.map(_.name).getOrElse("")
            if (sc.nonEmpty) sc else r.name
          }.distinct.mkString(">")
          (frame + " | " + rdds).take(170)
        }
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.numTasks, ms,
          if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0 else m.inputMetrics.bytesRead,
          if (m == null) 0 else m.executorRunTime, where))
      }
    })
    for (n <- args) {
      val fn = graft.SparkEntry.queries(n)
      try { fn(spark, dir).queryExecution.toRdd.foreach(_ => ()) }
      catch { case e: Throwable => println(s"warmup $n: $e") }
      Thread.sleep(600)
      stages.clear(); jobs.set(0); collecting = true
      val t0 = System.nanoTime()
      fn(spark, dir).queryExecution.toRdd.foreach(_ => ())
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(600); collecting = false
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(_.id)
      val sumMs = ss.map(_.ms).sum
      println(f"\n==== $n  wall=$dt%.2f s  jobs=${jobs.get} " +
        f"stages=${ss.size} stageMsSum=${sumMs}ms " +
        f"taskMsSum=${ss.map(_.taskMs).sum}ms ====")
      ss.foreach { s =>
        println(f"  st${s.id}%-5d ${s.ms}%6dms tasks=${s.tasks}%-3d " +
          f"sr=${s.shufRead / 1024}%8dK sw=${s.shufWrite / 1024}%8dK " +
          f"in=${s.input / 1024}%8dK  ${s.name}")
      }
      // top stages by wall
      println("  -- top by duration --")
      ss.sortBy(-_.ms).take(16).foreach { s =>
        println(f"  st${s.id}%-5d ${s.ms}%6dms taskMs=${s.taskMs}%-6d " +
          f"tasks=${s.tasks}%-3d ${s.where}")
      }
    }
    spark.stop()
  }
}
