package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for users embedding graft in their own Spark
  * application: one call returns a session builder with the graft SQL
  * surface registered ([[GraftExtensions]] — `shingle_hashes`,
  * `min_hashes`, `morton2`, the sketch aggregates, …) and the conf
  * defaults the operators are designed against. Everything is also
  * reachable without this facade (the Column API in
  * [[graft.functions.F]] / [[graft.functions.sketches]] works on any
  * session; the extensions class can be set on an existing builder via
  * `spark.sql.extensions=graft.GraftExtensions`) — the facade just makes
  * the happy path one line.
  *
  * Conf rationale:
  *  - UTC session timezone: the oracle-parity and determinism contract
  *    every query is verified under (timestamps otherwise shift with the
  *    submitting machine).
  *  - AQE on (Spark's default, pinned here against ambient overrides):
  *    the operators lean on runtime re-planning for skew splits and
  *    SMJ→BHJ conversion; PlanLint gates the static shapes separately.
  *  - shuffle partitions default to cluster parallelism when the caller
  *    does not size them: the 200-partition Spark default under-splits
  *    large clusters and over-splits local runs.
  *  - codegen cache of 2000 entries: Spark keeps compiled whole-stage
  *    classes in a 100-entry LRU, and one refresh cycle (ingest, dbt
  *    models, dbt tests) alone generates about 170 classes, each
  *    20–35 ms of Janino time, so at the default every warm cycle
  *    recompiled all of them. A static conf: it only takes effect when
  *    set before the session's first code generation.
  */
object Graft {

  /** The conf contract, exposed as data so callers (and the spec) can
    * apply or audit it against an existing builder/session.
    */
  def confs(shufflePartitions: Option[Int] = None): Map[String, String] = {
    val base = Map(
      "spark.sql.extensions" -> classOf[GraftExtensions].getName,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000")
    shufflePartitions.fold(base)(n =>
      base + ("spark.sql.shuffle.partitions" -> n.toString))
  }

  /** A session builder preconfigured for graft; call `.master(...)` /
    * `.appName(...)` and `.getOrCreate()` as usual. NOTE Spark
    * semantics: if a session is already active, `getOrCreate()` returns
    * it and builder confs do NOT apply — build the graft session first,
    * or set `spark.sql.extensions` on the existing one's builder.
    */
  def builder(shufflePartitions: Option[Int] = None): SparkSession.Builder =
    confs(shufflePartitions).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local-mode convenience: `local[cores]` with shuffle partitions =
    * cores (the single-box sizing every graft main uses).
    */
  def localSession(cores: Int = Runtime.getRuntime.availableProcessors())
    : SparkSession =
    builder(Some(cores)).master(s"local[$cores]").getOrCreate()
}
