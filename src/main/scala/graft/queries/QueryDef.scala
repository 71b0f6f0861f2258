package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Pins

/** One driver-checkable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible and deterministic) an equivalent
  * DuckDB oracle query over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §5): every oracle-compared query's ORACLE
  * SQL ends in an ORDER BY over a unique key set, aliases every computed
  * column identically on both sides, and avoids per-row `round()` on values
  * that sit on decimal half-way points (binary doubles round differently
  * across engines there — aggregates rounded to >=2 dp are safe because
  * their error is not systematically at the boundary).
  *
  * Trailing-sort convention (Spark side): the driver's compare sorts rows
  * before hashing, so a final `orderBy` on the SPARK side is presentation
  * only — it is KEPT on bounded-cardinality results (per-lang aggregates,
  * top-k, funnel stages), where the sort is one tiny stage, and DROPPED on
  * corpus-scale and pair-scale results (per-doc rows, near-dup pairs),
  * where the trailing range exchange grows with the data and buys nothing
  * (q10's precedent: its global-index result is consumed unsorted). A user
  * wanting ordered output adds `.orderBy` at the call site.
  *
  * Negative-zero rule: DuckDB's `round` keeps IEEE sign (-1e-9 -> -0.0)
  * while Spark's BigDecimal round returns +0.0, and the driver compares
  * `repr` strings — so any rounded column whose value can be a tiny
  * negative (cosines, means) carries `+ 0` in the ORACLE SQL to normalize
  * -0.0 to +0.0 (IEEE: -0.0 + 0 == +0.0), applied BEFORE any ranking so
  * tie order can't diverge either.
  *
  * Pin rule: a builder checkpoints or persists only through a
  * [[graft.operators.Pins]] scope, and a pin that rides its returned
  * plan (an operator's result included) belongs to the scope that
  * [[QueryDef.pinned]] hands it, the slot named after the query.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    buildOnly: Option[(SparkSession, String) => DataFrame] = None) {

  /** Registers the PRODUCTION plan of a query whose oracle-checked
    * form carries an exact-truth AUDIT leg (e147's anchor recall,
    * e156's from-scratch CC recompute): the same build with the audit
    * dropped, so a probe times what production runs. It pins like a
    * [[QueryDef.pinned]] query, in a slot of its own. Not registered in
    * SparkEntry.queries (no oracle — the audit leg IS the check).
    */
  def withBuildOnly(fn: (Pins, SparkSession, String) => DataFrame): QueryDef =
    copy(buildOnly = Some(QueryDef.inSlot(s"$name (production)", fn)))
}

object QueryDef {
  def sql(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))

  /** A query whose returned plan reads pinned frames. `run` pins every
    * one of them in `p`, the scope of the calling session's
    * [[Pins.slot]] named after the query: a call frees what the same
    * session's previous call of the query pinned, and a call that
    * throws frees its own pins at once.
    */
  def pinned(name: String, oracle: String)(
      run: (Pins, SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, inSlot(name, run), Some(oracle))

  private def inSlot(key: String,
      run: (Pins, SparkSession, String) => DataFrame) =
    (s: SparkSession, dir: String) => Pins.slot(s, key)(run(_, s, dir))
}

/** Session-scoped scratch paths for queries that materialize an
  * intermediate copy (g5's ORC roundtrip, g6's bloom layout, e156b's
  * label parquet). The path must be STABLE across re-invocations inside
  * one session — returned DataFrames read the copy lazily and Bench's
  * timed passes re-invoke the builder, so a fresh createTempDirectory
  * per call would race its own eager cleanup — but DISJOINT across
  * concurrent sessions, or two Verify/Bench runs overwrite each other's
  * files mid-read. `applicationId` is exactly that scope: one id per
  * SparkContext, constant for the session's lifetime.
  */
private[graft] object Scratch {
  def dir(s: SparkSession, leaf: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft-scratch", s.sparkContext.applicationId, leaf).toString
}
