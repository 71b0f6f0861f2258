package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{QueryDef, ReferenceQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator family from
  * SURVEY.md §2 (reference surface) plus the LLM-data-pipeline extension
  * operators; `oracleSql` carries the DuckDB twin for every
  * SQL-expressible, deterministic entry.
  */
object SparkEntry {

  private def defs: Seq[QueryDef] =
    ReferenceQueries.all ++ graft.queries.ExtensionQueries.all ++
      graft.queries.TrainingQueries.all ++ graft.queries.CorpusQueries.all ++
      graft.queries.CurationQueries.all ++ graft.queries.AnalysisQueries.all ++
      graft.queries.PipelineQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The fct_order_products star-join twin (SURVEY.md §2.4 J1+J2).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q2_fct_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** PRODUCTION plans of queries whose oracle-checked form carries an
    * exact-truth audit leg (QueryDef.withBuildOnly): same build, audit
    * dropped. Not part of the driver contract — ProbeMain's
    * PROBE_BUILD_ONLY mode times these so SCALING.md rows can report a
    * measured "production drops the audit" number instead of prose.
    */
  def buildOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    defs.flatMap(d => d.buildOnly.map(d.name -> _)).toMap

  /** Queries whose sf0.01 result is legitimately EMPTY. A 0-row result
    * hash-matches a 0-row oracle no matter how wrong the query is
    * (a mis-set split date that empties both of q34's set-op branches
    * passes that way), so the degeneracy gate — DegeneracySpec in sbt, plus
    * Verify's row_counts.json / stderr warning — fails any query NOT
    * named here that returns 0 rows at sf0.01. Every allowance must
    * cite its always-populated twin.
    */
  val emptyAllowed: Set[String] = Set(
    // no 3-core exists in the sf0.01 dup graph (the corpus's dup mass
    // is pair-dominated, e133); e129b_kcore_fixture is the
    // always-populated peel twin, CurationOpsSpec the fixpoint pin
    "e129_kcore",
    // the dup-label score grid yields an empty above-threshold set at
    // sf0.01; e131b_youden_returns is the always-populated twin over
    // the lineitem returns label, CurationOpsSpec the driver-side pin
    "e131_youden")
}
