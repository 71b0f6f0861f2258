package graft.tools


/** Scratch plan/timing probe (dev only, not registered anywhere). */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(Some(32)).master("local[32]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PROBE_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("e20_contamination", "e22_rarity", "e24_chunking", "e19_pii_redact")
    // Shuffle-byte census: stage-completion metrics summed via listener
    // (SCALING.md probe rows record wall-time AND shuffle volume).
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })
    // PROBE_BUILD_ONLY=1: time the PRODUCTION plan (audit leg dropped)
    // of queries that register one via QueryDef.withBuildOnly — the
    // mechanized form of SCALING.md's "production drops the audit".
    val buildOnly = sys.env.get("PROBE_BUILD_ONLY").contains("1")
    // PROBE_COLD=1: time builder + consume TOGETHER, once, cold. The
    // default path times a warmed re-run of the RETURNED plan — right
    // for pure queries, but a builder that eagerly materializes (e170's
    // index rewrite, e156b's label roundtrip) does that work BEFORE the
    // clock starts, so its probe row would silently exclude the very
    // operation being measured. Cold mode starts the clock before the
    // builder runs.
    val cold = sys.env.get("PROBE_COLD").contains("1")
    for (n <- names) {
      val fn =
        if (buildOnly) graft.SparkEntry.buildOnlyQueries.getOrElse(n,
          sys.error(s"$n has no buildOnly plan (QueryDef.withBuildOnly)"))
        else graft.SparkEntry.queries(n)
      val df = if (cold) null else fn(spark, dir)
      if (!cold) {
        // Warmup must run df's OWN QueryExecution so the adaptive plan
        // finalizes for the dump below (count() AND Dataset.foreach both
        // clone the plan, leaving isFinalPlan=false); executing toRdd
        // drives exactly this QueryExecution, and foreach on it discards
        // rows on the executors, so unlike collect() a large result can't
        // OOM the driver.
        df.queryExecution.toRdd.foreach(_ => ())
      }
      // Rebuild per timed run: a fresh plan means fresh RDDs, so no
      // shuffle-stage reuse from the warmup — same conditions as Bench.
      Thread.sleep(500) // let the warmup's stage events drain
      val sw0 = shuffleW.get()
      val t0 = System.nanoTime()
      // toRdd, not count(): count prunes all columns and Catalyst then
      // eliminates row-count-neutral subtrees (a left join onto a
      // unique-keyed aggregate loses its whole aggregate branch — the
      // q27/q60 shape), timing a plan no consumer of the declared
      // result gets. Same rule as Bench.consume.
      val timedDf = fn(spark, dir)
      timedDf.queryExecution.toRdd.foreach(_ => ())
      val dt = (System.nanoTime()-t0)/1e9
      Thread.sleep(500) // listener events are async; settle before reading
      val swMb = (shuffleW.get() - sw0) / 1e6
      val plan = (if (cold) timedDf else df)
        .queryExecution.executedPlan.toString
      val fin = plan.linesIterator.takeWhile(!_.contains("Initial Plan")).toSeq
      val stages = fin.count(_.contains("ShuffleQueryStage"))
      val reused = fin.count(l => l.contains("ReusedExchange"))
      val tag = (if (buildOnly) " [build-only]" else "") +
        (if (cold) " [cold]" else "")
      println(f"== $n%-20s$tag $dt%6.2f s  shuffleStages=$stages " +
        f"reused=$reused shuffleWrite=$swMb%.1f MB")
      if (sys.env.contains("PROBE_PLAN")) println(fin.mkString("\n").take(12000))
    }
    spark.stop()
  }
}
