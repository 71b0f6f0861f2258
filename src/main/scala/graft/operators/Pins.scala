package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one owner of pinned frames (eager checkpoints and persists).
  * A pin holds executor storage until it is released, so one left per
  * round or per call accumulates for the session. The rule: every pin
  * is made through a scope, and nothing outside this file checkpoints,
  * persists or unpersists a frame. A scope ([[Pins.scope]]) registers
  * every pin its body makes; the body releases a dead round with
  * [[release]] once the next is materialized and marks with [[keep]]
  * the frames it hands back. On exit, normal or thrown, the scope
  * waits for the bodies it started through [[overlap]], then releases
  * everything else. Pins that ride a result across calls have one
  * owner per key instead, a [[Pins.slot]]; every registered query
  * runs in the slot named after it (`QueryDef.pinned`).
  */
final class Pins private () {

  // (frame, how to free it); a slot drops the frame once its build
  // returns, so it keeps no returned plan alive
  private val held =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]
  private val forks = scala.collection.mutable.ArrayBuffer.empty[() => Any]

  /** Eagerly checkpoints `df` and registers the result. Spark
    * persists the checkpoint's RDD before the job that fills it, so
    * when that job fails the RDD is found by the call site unique to
    * this call, and released.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val caller = StackWalker.getInstance.walk(_.filter(
        !_.getClassName.startsWith("graft.operators.Pins")).findFirst)
      .map[String](f => s"${f.getFileName}:${f.getLineNumber}").orElse("?")
    val site = s"localCheckpoint at $caller #${Pins.calls.incrementAndGet()}"
    val prior = sc.getLocalProperty(Pins.CallSiteKey)
    sc.setLocalProperty(Pins.CallSiteKey, site)
    try add(df.localCheckpoint(true), persisted = false)
    catch {
      case t: Throwable =>
        sc.getPersistentRDDs.values
          .filter(_.toString.endsWith(s" at $site"))
          .foreach(_.unpersist(false))
        throw t
    } finally sc.setLocalProperty(Pins.CallSiteKey, prior)
  }

  /** Persists `df` (memory and disk) and registers it. */
  def persist(df: DataFrame): DataFrame =
    add(df.persist(StorageLevel.MEMORY_AND_DISK), persisted = true)

  /** Registers a checkpoint-backed frame made elsewhere, such as an
    * operator's returned result, so this scope releases it.
    */
  def own(df: DataFrame): DataFrame = add(df, persisted = false)

  /** Releases a registered frame now, once nothing will read it
    * again; a frame this scope does not own is left alone.
    */
  def release(df: DataFrame): Unit = take(df).foreach(_())

  /** Hands a registered frame to the caller. */
  def keep(df: DataFrame): DataFrame = { take(df); df }

  /** [[Adaptive.overlap]] whose body the scope waits for before it
    * releases anything.
    */
  def overlap[T](body: => T): () => T = {
    val t = Adaptive.overlap(body)
    synchronized(forks += t)
    t
  }

  private def add(df: DataFrame, persisted: Boolean): DataFrame = {
    val free = Pins.freeing(df, persisted)
    synchronized { held += df -> free; df }
  }

  private def take(df: DataFrame): Option[() => Unit] = synchronized {
    val i = held.indexWhere(_._1 eq df)
    if (i < 0) None else Some(held.remove(i)._2)
  }

  private def dropFrames(): Unit =
    synchronized(held.mapInPlace { case (_, free) => (null, free) })

  private def close(): Unit = {
    // a fork's failure reaches whoever forces its thunk
    synchronized(forks.toList).foreach(t => scala.util.Try(t()))
    synchronized(held.toList).reverse.foreach(_._2())
  }
}

object Pins {

  /** Runs `body` with a fresh scope and releases what it still holds on
    * exit, normal or thrown.
    */
  def scope[T](body: Pins => T): T = {
    val p = new Pins
    try body(p) finally p.close()
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[String, Pins]()

  // names the jobs and RDDs a thread creates while set
  private val CallSiteKey = "callSite.short"
  private val calls = new java.util.concurrent.atomic.AtomicLong()

  /** The one owner per `key` of the pins that ride a result across
    * calls: releases what the previous same-key call pinned, then runs
    * `build` with a fresh scope that stays open until the next same-key
    * call instead of closing when `build` returns. When `build` throws,
    * the scope closes at once. Same-key calls must be sequential, each
    * consuming its result before the next starts.
    */
  def slot[T](key: String)(build: Pins => T): T = {
    val prev = slots.remove(key)
    if (prev != null) prev.close()
    val p = new Pins
    val built = try build(p) catch {
      case t: Throwable => p.close(); throw t
    }
    p.dropFrames()
    slots.put(key, p)
    built
  }

  /** Closes every slot, as the next same-key call of each would. */
  private[graft] def closeSlots(): Unit =
    slots.keySet.forEach(k => Option(slots.remove(k)).foreach(_.close()))

  /** The undirected edge set (u, v) of `edges`: endpoints cast to long,
    * NULL endpoints and self-loops dropped, both orientations, distinct.
    * The directed edges are checkpointed in `p` first, so the caller's
    * edge derivation runs once for both union branches. The result is
    * lazy.
    */
  def undirected(p: Pins, edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val dir = p.checkpoint(edges.select(
        col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v")))
    dir.union(dir.select(col("v").as("u"), col("u").as("v"))).distinct()
  }

  /** How to free a pin: unpersist a persisted frame, or the RDDs behind
    * a checkpoint-backed frame's checkpoints, found now so that the
    * frame itself need not be kept.
    */
  private def freeing(df: DataFrame, persisted: Boolean): () => Unit =
    if (persisted) () => df.unpersist(false)
    else {
      val rdds = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      () => rdds.foreach(_.unpersist(false))
    }
}
