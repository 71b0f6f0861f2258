package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._

/** A call into one layer of the program, timed by the runner around the
  * public function it calls. Wall-clock millis bound the span so that
  * Spark jobs (stamped with their submission millis) can be attributed to
  * it; `seconds` is the nanosecond duration.
  */
final case class Span(layer: String, op: Int, beginMs: Long, endMs: Long, seconds: Double)

/** Per-span totals of the Spark work submitted inside the span. */
final case class Work(
    jobs: Int = 0, stages: Int = 0, tasks: Long = 0L, runMs: Long = 0L,
    cpuNs: Long = 0L, rowsRead: Long = 0L, shuffleWrite: Long = 0L,
    spill: Long = 0L) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    rowsRead + o.rowsRead, shuffleWrite + o.shuffleWrite, spill + o.spill)
}

/** SparkListener that keeps the raw job and stage events of the traced
  * ops in memory; [[attribute]] folds them into the spans after the
  * listener bus has drained. Stage metrics are the per-stage aggregates
  * Spark computes at stage completion, so one event per stage is kept.
  */
final class JobLog extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[(Long, Seq[Int])]
  private val stages = new ConcurrentHashMap[Int, Work]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(e.time -> e.stageIds)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, Work(
      stages = 1, tasks = i.numTasks, runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime, rowsRead = m.inputMetrics.recordsRead,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Spark work per span. Spans never overlap (the runner is one closed
    * loop, and [[Tracer]] leaves a gap of at least 2 ms between them), so
    * a job belongs to the span whose interval holds its submission time.
    * A stage is counted once, under the first job that lists it.
    */
  def attribute(spans: Seq[Span]): Map[Span, Work] = {
    val sorted = spans.sortBy(_.beginMs).toArray
    val seen = scala.collection.mutable.Set.empty[Int]
    val acc = scala.collection.mutable.Map.empty[Span, Work]
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (t, stageIds) =>
      val i = sorted.lastIndexWhere(_.beginMs <= t)
      if (i >= 0 && t <= sorted(i).endMs) {
        val fresh = stageIds.filter(seen.add)
        val w = fresh.flatMap(id => Option(stages.get(id)))
          .foldLeft(Work(jobs = 1))(_ + _)
        acc(sorted(i)) = acc.getOrElse(sorted(i), Work()) + w
      }
    }
    acc.toMap
  }
}

/** Times layer calls as spans. Between [[attach]] and [[detach]] a
  * [[JobLog]] is registered and the spans are kept; the listener bus is
  * drained in [[detach]], outside the timed region. Otherwise only the
  * durations are returned.
  */
final class Tracer(sc: SparkContext) {
  val log = new JobLog
  private val spans = Vector.newBuilder[Span]
  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(log); attached = true
  }

  def detach(): Unit = if (attached) {
    ListenerBus.drain(sc); sc.removeSparkListener(log); attached = false
  }

  def span[T](layer: String, op: Int)(body: => T): (T, Double) = {
    if (attached) Thread.sleep(2)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    if (attached) { spans += Span(layer, op, ms0, ms1, s); Thread.sleep(2) }
    (out, s)
  }

  def traced: Seq[Span] = spans.result()
}

/** JVM counters read at the edges of the timed window. */
final case class Jvm(jitMs: Long, gcMs: Long, cpuNs: Long) {
  def -(o: Jvm): Jvm = Jvm(jitMs - o.jitMs, gcMs - o.gcMs, cpuNs - o.cpuNs)
}

object Jvm {
  def now(): Jvm = Jvm(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum,
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime)

  /** Seconds since the JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident memory outside the heap, in MB: Linux VmHWM less the
    * committed heap, which is fixed and pre-touched, so resident
    * throughout.
    */
  def peakNativeMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    val hwm = line.split("\\s+")(1).toLong * 1024
    (hwm - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted) / 1048576.0
  }

  /** Heap in use after a full collection, in MB: what the program still
    * holds. The collector fills a fixed heap before it collects, so heap
    * in use before that says more about the collector than the program.
    * Spark frees the blocks of collected RDDs, broadcasts and shuffles on
    * a cleaner thread once the first collection has found them
    * unreachable, so a second collection follows after a pause; the
    * figure is the heap pools' use just after it, without what other
    * threads allocated since.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum / 1048576.0
  }
}
