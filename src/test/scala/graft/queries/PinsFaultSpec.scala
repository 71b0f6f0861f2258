package graft.queries

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.operators._

/** Injected failures on every operator that pins frames through
  * [[Pins]], and on one whole registered query: a listener cancels the
  * k-th job of a call (k = 1, a middle job and the last-but-one job of
  * an uninjected run), and the call must throw, leave
  * `getPersistentRDDs` at its baseline and leave no `graft-overlap-*`
  * thread running; an uninjected call made next must still return the
  * uninjected rows. A case may count only the jobs of
  * one leg, such as the NN-Descent anchor-truth leg that runs on an
  * overlap thread.
  */
class PinsFaultSpec extends SparkSpecBase with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(60, Seconds), interval = Span(1, Seconds))

  private def sc: SparkContext = spark.sparkContext

  /** Counts the jobs of one job group that `pick` selects; when
    * `cancelAt` > 0 it cancels the selected job with that ordinal, or,
    * if that job finishes before the cancel lands, the next selected
    * job to start after it.
    */
  private class JobTap(group: String, cancelAt: Int,
      pick: SparkListenerJobStart => Boolean) extends SparkListener {
    var started = 0
    private var target = Option.empty[Int]
    var cancelled = Option.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties.getProperty("spark.jobGroup.id") == group &&
          pick(e)) {
        started += 1
        if (cancelAt > 0 && started >= cancelAt && target.isEmpty &&
            cancelled.isEmpty) {
          target = Some(e.jobId)
          sc.cancelJob(e.jobId)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (target.contains(e.jobId)) {
        if (e.jobResult == JobSucceeded) target = None
        else cancelled = target
      }
    }
  }

  private var groups = 0

  /** Runs `body` under a fresh job group with `tap` listening. */
  private def tapped[T](cancelAt: Int,
      pick: SparkListenerJobStart => Boolean)(
      body: => T): (JobTap, scala.util.Try[T]) = {
    groups += 1
    val group = s"pins-fault-$groups"
    val tap = new JobTap(group, cancelAt, pick)
    sc.addSparkListener(tap)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val out = try scala.util.Try(body) finally {
      sc.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      sc.removeSparkListener(tap)
    }
    (tap, out)
  }

  private def overlapThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-overlap-") && t.isAlive).toSet

  /** What a call hands back: the frames the caller now owns, and how
    * to read its output as comparable rows (outside the tapped call).
    */
  private case class Out(frames: Seq[DataFrame], rows: () => Any)

  private def faultTest(name: String,
      pick: SparkListenerJobStart => Boolean = _ => true, minJobs: Int = 3)(
      call: () => Out): Unit =
    test(s"$name: a cancelled job releases every pin and overlap thread") {
      def read(out: Out): Any =
        try out.rows() finally Pins.scope(p => out.frames.foreach(p.own))
      val (tap0, first) = tapped(0, pick)(call())
      val rows0 = read(first.get)
      val jobs = tap0.started
      assert(jobs >= minJobs, s"$name ran only $jobs jobs")
      for (k <- Seq(1, jobs / 2, jobs - 1).filter(_ >= 1).distinct) {
        val baseline = sc.getPersistentRDDs.keySet
        val threads0 = overlapThreads
        val (tap, out) = tapped(k, pick)(call())
        out.foreach(read)
        assert(tap.cancelled.nonEmpty, s"$name: no job cancelled at k = $k")
        assert(out.isFailure, s"$name: call survived a cancelled job (k = $k)")
        eventually {
          assert((overlapThreads -- threads0).isEmpty,
            s"$name: overlap thread left alive (k = $k)")
        }
        val leaked = sc.getPersistentRDDs.keySet -- baseline
        assert(leaked.isEmpty,
          s"$name: k = $k of $jobs left persisted RDDs " +
            leaked.map(sc.getPersistentRDDs(_)).mkString(", "))
      }
      val (_, again) = tapped(0, pick)(call())
      assert(read(again.get) == rows0,
        s"$name: rows changed after injected failures")
    }

  private lazy val edges: DataFrame = chain(12)

  /** A path of `n` edges plus a clique, a tail and a separate pair. */
  private def chain(n: Long): DataFrame = {
    import spark.implicits._
    ((0L until n).map(i => (i, i + 1)) ++
      (100L until 106L).flatMap(i => (i + 1 until 106L).map(j => (i, j))) ++
      Seq((106L, 107L), (107L, 108L), (n - 1, 100L), (300L, 301L)))
      .toDF("a", "b")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Unit vectors on an arc, so the exact kNN graph is the
    * id-neighborhood graph (the E173Spec fixture).
    */
  private lazy val emb: DataFrame = {
    import spark.implicits._
    (0 until 40).map { i =>
      val th = i * 0.07
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
  }

  faultTest("ConnectedComponents.components") { () =>
    val l = ConnectedComponents.components(edges, "a", "b")
    Out(Seq(l), () => rows(l))
  }

  faultTest("LabelPropagation.communitiesWithChurn") { () =>
    val (l, churn) =
      LabelPropagation.communitiesWithChurn(edges, "a", "b", rounds = 3)
    Out(Seq(l), () => (rows(l), churn))
  }

  faultTest("PageRank.ranks") { () =>
    val r = PageRank.ranks(edges, "a", "b", iterations = 3)
    Out(Seq(r), () => rows(r))
  }

  faultTest("NeighborhoodFunction.neighborhood") { () =>
    val n = NeighborhoodFunction.neighborhood(edges, "a", "b", rounds = 3)
    Out(Seq(n), () => rows(n))
  }

  faultTest("CoverageGreedy.incremental") { () =>
    import spark.implicits._
    val post = Pins.scope { p =>
      p.keep(p.checkpoint((0L until 12L)
        .flatMap(d => (d until d + 3 + d % 4).map(h => (d, h % 17)))
        .distinct.toDF("doc_id", "h")))
    }
    // the caller's own pin: released whether or not the call throws
    val picks =
      try CoverageGreedy.incremental(post, 5) finally Pins.scope(_.own(post))
    Out(Nil, () => picks)
  }

  faultTest("StarComponents.components") { () =>
    // a longer path: more star rounds to inject into
    val c = StarComponents.components(chain(24), "a", "b")
    Out(Seq(c), () => rows(c))
  }

  faultTest("NnDescent.plainBuild") { () =>
    val v = NnDescent.vectors(emb, NnDescent.Float)
    val (knns, pools) =
      try NnDescent.plainBuild(v, 4, 2) finally Pins.scope(_.own(v.r))
    Out(knns, () => (rows(knns.last), pools))
  }

  // only the anchor-truth leg's jobs (e147, e147b, e158): their call
  // site runs through NnDescent.anchorTruth on the overlap thread
  faultTest("AnalysisQueries.nndAudit's anchor-truth leg", minJobs = 1,
      pick = _.stageInfos.exists(_.details.contains("anchorTruth"))) { () =>
    val r = Pins.slot("pins-fault-nnd")(AnalysisQueries.nndAudit(_, emb,
        NnDescent.Float, K = 4, anchors = 8) { v =>
      val (knns, pools) = NnDescent.plainBuild(v, 4, 2)
      (knns, Seq("n_scored" -> (0L +: pools)))
    })
    Out(Seq(r), () => rows(r))
  }

  for (production <- Seq(false, true))
    faultTest(s"e173Core (production = $production)") { () =>
      val store = java.nio.file.Files
        .createTempDirectory("graft_e173_fault").toString + "/knn_base"
      val legs = AnalysisQueries.e173Core(spark, emb, 4,
        baseRounds = 1, foldRounds = 2, scratchRounds = 1, store,
        production = production)
      Out(
        if (production) Seq(legs.foldFinal)
        else Seq(legs.r, legs.foldFinal, legs.scratchFinal),
        () => (rows(legs.foldFinal),
          if (production) Nil else rows(legs.scratchFinal),
          legs.baseInitCount, legs.baseFreshCounts, legs.foldInitCount,
          legs.foldFreshCounts, legs.scratchInitCount,
          legs.scratchFreshCounts))
    }

  // a whole query: its pins ride the slot named after it, which the
  // next call frees, so the call hands the caller no frame to free
  faultTest("e163_lpa_communities") { () =>
    val df = graft.SparkEntry.queries("e163_lpa_communities")(spark,
      "/root/testdata/sf0.001")
    Out(Nil, () => rows(df))
  }
}
