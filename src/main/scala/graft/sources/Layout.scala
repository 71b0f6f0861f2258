package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for the write side — the levers SCALING.md
  * names for the next 100x, made concrete:
  *
  *  - **Partitioned parquet** (`writePartitioned`): hive-style
  *    directory partitioning on low-cardinality columns, so any read
  *    filtered on them prunes whole directories before a byte is
  *    scanned (`PartitionFilters` in the scan node, not `PushedFilters`).
  *    File sizing is controlled by repartitioning on the partition
  *    columns (+ an optional spread key for hot partitions) BEFORE the
  *    write: without it every task writes a sliver into every
  *    partition — the classic small-files explosion at fleet scale.
  *
  *  - **Bucketed tables** (`writeBucketed`): pre-shuffled, per-bucket
  *    sorted table layout registered in the catalog. Two tables
  *    bucketed on the same key with the same bucket count join with NO
  *    exchange on either side (`SortMergeJoin` directly over the
  *    bucketed scans) — the standing shuffle of a fact-fact join paid
  *    ONCE at write time instead of on every query. This is the
  *    "bucketed mart tables" lever for the fct star joins.
  *
  * Both are thin, typed wrappers over the native writers — the point is
  * the layout contract and the plan properties, which LayoutSpec pins
  * (partition pruning visible in the scan; no Exchange in the bucketed
  * join plan).
  */
object Layout {

  /** Write `df` as parquet partitioned by `partCols`, with `filesPerPart`
    * output files per partition directory (repartition by the partition
    * columns plus a bounded spread key — deterministic file counts, no
    * small-files spray).
    */
  def writePartitioned(
      df: DataFrame, path: String, partCols: Seq[String],
      filesPerPart: Int = 1): Unit = {
    val spread = pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)),
      lit(filesPerPart))
    df.repartition((partCols.map(col) :+ spread): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .parquet(path)
    writeLayoutMarker(df.sparkSession, path, Seq(
      "kind" -> "partitioned", "cols" -> partCols.mkString(",")))
  }

  /** Save `df` as a bucketed+sorted catalog table (bucket pruning and
    * exchange-free same-key joins). Parquet format; `overwrite`.
    */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    // The stale-location cleanup below derives the managed path from the
    // DEFAULT database layout: <warehouse>/<tbl> for unqualified names,
    // <warehouse>/<db>.db/<tbl> for a one-level `db.tbl` (the location
    // CREATE DATABASE assigns when no LOCATION clause overrides it —
    // every database in this engine is created that way). Deeper
    // qualification (catalog.db.tbl) is rejected rather than aiming a
    // recursive delete at a guessed directory.
    val parts = table.split('.')
    require(table.nonEmpty && parts.length <= 2 && parts.forall(_.nonEmpty),
      s"writeBucketed: table name '$table' must be <tbl> or <db>.<tbl>")
    // A managed table's LOCATION outlives a JVM whose in-memory catalog
    // did not: the warehouse dir persists on disk while the default
    // catalog is per-session, so Overwrite-saveAsTable in a fresh
    // session fails LOCATION_ALREADY_EXISTS on the stale dir. Drop any
    // catalog entry AND clear the orphaned location before writing.
    spark.sql(s"DROP TABLE IF EXISTS ${parts.map(p => s"`$p`").mkString(".")}")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = parts match {
      case Array(db, tbl) => new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(wh, s"${db.toLowerCase}.db"),
        tbl.toLowerCase)
      case _ => new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    }
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc) && !fs.delete(loc, true))
      throw new java.io.IOException(
        s"could not clear stale managed-table location $loc")
    // repartition to the bucket hash FIRST: Spark's bucket assignment is
    // the same Murmur3 hash as repartition(), so each write task then
    // holds exactly one bucket and emits one file — without this, every
    // task writes a file into every bucket it touches (tasks x buckets
    // files, the bucketed flavor of the small-files spray)
    df.repartition(buckets, col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** Freshness fingerprint of the files backing `df`'s scan: schema plus
    * (path, size, mtime) of every input file — METADATA-ONLY (no count
    * job, no data scan), and it changes whenever the source contents
    * change even at identical row count, the case a count-equality
    * freshness check silently misses.
    */
  def scanFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.catalogString.getBytes("UTF-8"))
    df.inputFiles.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      md.update(s"$f:${st.getLen}:${st.getModificationTime}".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The marker carrying the source fingerprint a bucketed table was
    * built from. Lives INSIDE the managed-table directory (an
    * underscore-prefixed name, ignored by the parquet reader like
    * `_SUCCESS`) so it is dropped atomically with the table's data.
    */
  private def markerPath(
      spark: SparkSession, table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase),
      "_graft_fingerprint")

  /** Per-target monitor for the IfStale builders: two queries sharing
    * one amortized artifact (e64 and e170 both build the IVF index
    * path; Verify runs queries 4-at-a-time in one JVM) must not
    * concurrently pass the same staleness probe and overwrite each
    * other mid-write. Keyed by the target string; single-JVM scope
    * matches the engine's local execution model (a multi-driver fleet
    * serializes builds through its orchestrator instead).
    */
  private val ifStaleLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(key: String): Object =
    ifStaleLocks.computeIfAbsent(key, _ => new Object)

  /** [[writeBucketed]] guarded by a marker-file fingerprint: rebuild only
    * when the table is absent or its recorded source fingerprint differs
    * from `fingerprint` (pass [[scanFingerprint]] of the source scan).
    * The freshness probe is two filesystem stats — no count jobs on the
    * reuse path. Returns true when the table was (re)built.
    */
  def writeBucketedIfStale(
      df: DataFrame, table: String, bucketCol: String, buckets: Int,
      // lock on the NORMALIZED identity: markerPath/writeBucketed
      // lowercase the table, so two casings are one on-disk target
      fingerprint: String): Boolean =
    lockFor("tbl:" + table.toLowerCase).synchronized {
    val spark = df.sparkSession
    val mp = markerPath(spark, table)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = spark.catalog.tableExists(table) && fs.exists(mp) && {
      val in = fs.open(mp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString == fingerprint
      finally in.close()
    }
    if (!fresh) {
      writeBucketed(df, table, bucketCol, buckets)
      val out = fs.create(mp, true)
      try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
    }
    !fresh
  }

  /** [[writePartitioned]] guarded by the same marker-file fingerprint
    * discipline as [[writeBucketedIfStale]], for PATH-addressed
    * partitioned layouts (indexes, hive-layout exports): rebuild only
    * when the path is absent or its recorded source fingerprint differs.
    * The marker lives inside the output directory (underscore-prefixed,
    * invisible to the parquet reader), so a manual delete of the layout
    * also drops its freshness claim. Returns true when (re)built.
    */
  def writePartitionedIfStale(
      df: DataFrame, path: String, partCols: Seq[String],
      fingerprint: String,
      filesPerPart: Int = 1): Boolean = {
    val spark = df.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lock on the NORMALIZED on-disk identity, not the raw string:
    // two callers naming one target via different spellings (trailing
    // slash, relative vs absolute, scheme-qualified) must serialize on
    // one monitor or the lock is a no-op exactly when it matters —
    // the same rule writeBucketedIfStale applies to table casing
    lockFor("path:" + fs.makeQualified(hPath).toUri.toString)
      .synchronized {
    val mp = new org.apache.hadoop.fs.Path(hPath, "_graft_fingerprint")
    val fresh = fs.exists(mp) && {
      val in = fs.open(mp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString == fingerprint
      finally in.close()
    }
    if (!fresh) {
      writePartitioned(df, path, partCols, filesPerPart)
      val out = fs.create(mp, true)
      try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
    }
    !fresh
    }
  }

  /** Fingerprint-amortize an artifact whose BUILDER must not even run
    * when the artifact is fresh — the IfStale discipline for builds
    * with EAGER side effects (iterative loops that checkpoint per
    * round, multi-file writers): `writePartitionedIfStale` can defer a
    * lazy frame, but a builder that runs jobs at construction needs
    * the staleness probe BEFORE it is invoked. `build` must leave the
    * artifact at `path`; the fingerprint marker is recorded after it
    * returns, under the same normalized per-path lock as the other
    * IfStale writers. Returns true when the build ran.
    */
  def amortize(spark: SparkSession, path: String, fingerprint: String)(
      build: => Unit): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lockFor("path:" + fs.makeQualified(hPath).toUri.toString)
      .synchronized {
      val mp = new org.apache.hadoop.fs.Path(hPath, "_graft_fingerprint")
      val fresh = fs.exists(mp) && {
        val in = fs.open(mp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString ==
          fingerprint
        finally in.close()
      }
      if (!fresh) {
        build
        val out = fs.create(mp, true)
        try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
      }
      !fresh
    }
  }

  /** Join two same-bucketing tables on the bucket key — planned with no
    * exchange when both sides' bucketing matches the join key.
    */
  def bucketedJoin(
      spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** The LAYOUT CONTRACT marker — `_graft_layout`, an underscore-
    * prefixed key=value file inside the data directory (invisible to
    * the parquet reader, dropped atomically with the data, the
    * `_graft_fingerprint` discipline). [[writeZOrdered]],
    * [[writeBloomFiltered]] and [[writePartitioned]] record WHAT
    * physical property their write paid for, so maintenance passes can
    * re-establish it instead of silently flattening it. A [[compact]]
    * that rewrote every table as a plain round-robin repartition would
    * drop a bloom-filtered table's per-row-group filters (no
    * `parquet.bloom.filter.*` options on the rewrite) and scatter a
    * z-ordered table's Morton clustering — both SILENT degradations
    * (results stay correct, scans go full) in exactly the pass that
    * runs constantly at 100 TB.
    */
  private val LayoutMarkerName = "_graft_layout"

  private def layoutMarkerPath(path: String) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), LayoutMarkerName)

  private def writeLayoutMarker(
      spark: SparkSession, path: String,
      props: Seq[(String, String)]): Unit = {
    val mp = layoutMarkerPath(path)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(props.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The recorded layout contract of `path`, if any write here declared
    * one. Absent marker = plain layout (pre-contract tables compact as
    * before — the conservative default).
    */
  def readLayoutContract(
      spark: SparkSession, path: String): Option[Map[String, String]] = {
    val mp = layoutMarkerPath(path)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(text.linesIterator.filter(_.contains('='))
        .map { l =>
          val i = l.indexOf('=')
          l.substring(0, i) -> l.substring(i + 1)
        }.toMap)
    }
  }

  /** Write `df` Z-order-clustered on two LONG dimension columns: Morton-
    * interleave the low `bits` bits of each
    * ([[graft.functions.F.morton2]], codegen'd), range-partition into
    * `files` chunks on the z-value and sort within each — so every
    * output file covers one contiguous z-range, and its parquet min/max
    * stats on `xCol`/`yCol` form a tight 2-D bounding box. A reader
    * filtering on EITHER dimension (or both) then skips most files from
    * plain 1-D row-group stats — the multi-dimensional clustering lever
    * for scan-heavy 100 TB tables, paid once at write time.
    *
    * The z column itself is dropped before the write: it's a file-
    * placement key, not data — the pruning comes from the per-file
    * min/max of the ORIGINAL columns.
    */
  def writeZOrdered(
      df: DataFrame, path: String, xCol: String, yCol: String,
      files: Int, bits: Int = 16): Unit = {
    df.withColumn("__z",
      graft.functions.F.morton2(col(xCol), col(yCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
    writeLayoutMarker(df.sparkSession, path, Seq(
      "kind" -> "zorder", "x" -> xCol, "y" -> yCol,
      "bits" -> bits.toString))
  }

  /** Compact a parquet directory into ≈`targetBytes` files — the
    * maintenance pass that undoes small-files accumulation from
    * incremental appends (every append-heavy table needs it
    * periodically: scan planning, footer reads, and shuffle-fetch
    * setup all scale with FILE count, not byte count). File count is
    * sized from the actual on-disk bytes; the rewrite goes to a
    * sibling directory, then swaps in via rename-aside: the original
    * moves to `path__old`, the rewrite renames into place, and only
    * then is the old data deleted. Every rename/delete result is
    * checked and a failure throws — the original data is never deleted
    * before the new directory is live at the published path, so a
    * crash at any step leaves the rows recoverable (at `path`,
    * or at `path__old` with the rewrite in `path__compacting`), never
    * silently lost the way an unchecked delete-then-rename could lose
    * them (rename returning false is a normal failure mode on object
    * stores). Returns the new file count.
    *
    * The rewrite HONORS the table's recorded layout contract
    * (`_graft_layout`, written by [[writeZOrdered]] /
    * [[writeBloomFiltered]] / [[writePartitioned]]): a z-ordered table
    * is re-clustered (morton2 + range-repartition + sort-within, same
    * x/y/bits) so file min/max stay tight bounding boxes; a
    * bloom-filtered table gets its `parquet.bloom.filter.*` options
    * re-applied (same cols/ndv) so point lookups keep skipping row
    * groups; the marker itself is re-written into the new directory so
    * the contract survives repeated compactions. Hive-PARTITIONED
    * layouts are refused (a root-level rewrite would flatten the
    * directory scheme — compact each leaf partition directory instead,
    * which is plain by construction). Tables with no marker compact as
    * plain round-robin, as before.
    */
  def compact(
      spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(hPath).getLength
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(
        s"compact: cannot clear stale aside dir $old")
    val contract = readLayoutContract(spark, path)
    val src = spark.read.parquet(path)
    contract.map(_.getOrElse("kind", "plain")) match {
      case Some("zorder") =>
        val c = contract.get
        val (x, y, bits) = (c("x"), c("y"), c("bits").toInt)
        src.withColumn("__z",
          graft.functions.F.morton2(col(x), col(y), bits))
          .repartitionByRange(n, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        writeLayoutMarker(spark, tmp.toString, Seq(
          "kind" -> "zorder", "x" -> x, "y" -> y,
          "bits" -> bits.toString))
      case Some("bloom") =>
        val c = contract.get
        val (cols, ndv) = (c("cols").split(',').toSeq, c("ndv"))
        val w = cols.foldLeft(src.repartition(n).write) { (wr, bc) =>
          wr.option(s"parquet.bloom.filter.enabled#$bc", "true")
            .option(s"parquet.bloom.filter.expected.ndv#$bc", ndv)
        }
        w.mode(SaveMode.Overwrite).parquet(tmp.toString)
        writeLayoutMarker(spark, tmp.toString, Seq(
          "kind" -> "bloom", "cols" -> cols.mkString(","),
          "ndv" -> ndv))
      case Some("partitioned") =>
        throw new IllegalArgumentException(
          s"compact: $path is hive-partitioned (cols=" +
            s"${contract.get.getOrElse("cols", "?")}); a root rewrite " +
            "would flatten the directory scheme — use " +
            "compactPartitioned, which compacts each leaf partition " +
            "directory under the recorded contract")
      case _ =>
        src.repartition(n)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    swapInPlace(fs, hPath, tmp, old, "compact")
    n
  }

  /** Rename-aside swap: the original is moved, not deleted, until the
    * rewrite is live at the published path; every rename/delete result
    * is checked and a failure throws with the data's location named.
    */
  private def swapInPlace(
      fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path, op: String): Unit = {
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(
        s"$op: failed to move $hPath aside to $old; original intact")
    if (!fs.rename(tmp, hPath)) {
      // best-effort restore so the published path doesn't stay empty
      val restored = fs.rename(old, hPath)
      throw new java.io.IOException(
        s"$op: failed to publish $tmp at $hPath; original " +
          (if (restored) s"restored at $hPath" else s"preserved at $old"))
    }
    if (!fs.delete(old, true))
      throw new java.io.IOException(
        s"$op: swap complete but failed to remove aside dir $old")
  }

  /** Compaction for hive-PARTITIONED layouts — the maintenance pass
    * [[compact]] (correctly) refuses to run at the root, provided as a
    * library operation instead of the manual loop the refusal used to
    * suggest: partitioned layout is the default posture for the
    * corpus-scale tables this engine targets (writePartitioned is the
    * first data-skipping lever), so its small-files maintenance cannot
    * be user-assembled.
    *
    * Walks the directory scheme the recorded contract declares (one
    * `col=value` level per partition column — the shape
    * [[writePartitioned]] wrote by construction) and compacts each LEAF
    * directory in place to ≈`targetBytes` files: leaves are plain
    * parquet by construction (partition values live in the directory
    * names, z-order/bloom contracts are root-level kinds), so each leaf
    * rewrite is the plain round-robin path with [[compact]]'s
    * rename-aside swap — a crash mid-pass leaves every leaf either
    * fully old, fully new, or recoverable at the '_'-prefixed sibling
    * dirs `_old_<esc(leaf)>` / `_compacting_<esc(leaf)>` (the leaf's
    * '=' percent-encoded, so the names are invisible to the parquet
    * reader EVEN WHEN POPULATED and impossible to confuse with a
    * partition value — see [[escLeaf]]), and all OTHER leaves
    * untouched. The directory
    * scheme, the root `_graft_layout` marker, and any
    * `_graft_fingerprint` are never rewritten, so partition pruning and
    * freshness claims survive (LayoutSpec pins scheme + marker +
    * pruning across a compact). Returns the total new file count.
    *
    * Scale: each leaf is an independent rewrite of one partition's
    * bytes — fanned out on a bounded pool of `maxConcurrentLeaves`
    * driver threads (each leaf job tagged into a `graft-compact`
    * scheduler pool, so a FAIR-scheduled deployment time-slices the
    * maintenance pass against foreground queries), unlike a root
    * rewrite, which would shuffle the whole table to rebuild a scheme
    * it already has. At 10³-10⁴ leaves a sequential pass is serialized
    * on the driver round-trip per leaf; the fan-out keeps the per-leaf
    * rename-aside protocol untouched, so a crash mid-fan still leaves
    * every leaf untouched, complete, or recoverable — never half-
    * written. A failed leaf fails the pass after in-flight leaves
    * finish (no new leaves are started).
    *
    * RECOVERY: a crash between a leaf's two swap renames leaves that
    * leaf's only data in `_old_<leaf>` — a directory the parquet
    * reader ignores, i.e. the partition's rows silently vanish from
    * every query until restored. Each pass therefore starts by
    * scanning the leaf level for aside dirs whose leaf directory is
    * ABSENT and restores them to the leaf name (the rewrite in
    * `_compacting_<leaf>`, if any, is discarded — it is re-derivable;
    * the original is not), so the table heals on the next maintenance
    * pass instead of relying on manual surgery. A restore rename that
    * fails throws with both locations named.
    */
  /** Bijective leaf-name escape for recovery-dir names: '=' (and '%',
    * so decoding is unambiguous) are percent-encoded, because a
    * '_'-prefixed name CONTAINING '=' is not filtered by Spark's file
    * index — partition inference would read `_old_lang=lang1` as a
    * hive dir for column `_old_lang` and fail the whole table's scan
    * the moment the dir holds data (exactly the crash window).
    */
  private def escLeaf(name: String): String =
    name.replace("%", "%25").replace("=", "%3D")

  private def unescLeaf(name: String): String =
    name.replace("%3D", "=").replace("%25", "%")

  def compactPartitioned(
      spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      maxConcurrentLeaves: Int = 4): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the whole pass holds the SAME normalized per-path monitor the
    // IfStale writers use: a second concurrent pass's start-of-pass
    // heal would otherwise delete this pass's in-flight _compacting_*
    // rewrites (re-derivable, but the swap then fails spuriously) or —
    // in the window between compactLeaf's two renames — restore the
    // aside over a half-published rewrite. The leaf pool threads run
    // INSIDE the monitor's scope (held by this calling thread), so
    // fan-out is unaffected; only whole passes serialize.
    lockFor("path:" + fs.makeQualified(hPath).toUri.toString)
      .synchronized {
    val contract = readLayoutContract(spark, path)
    val kind = contract.map(_.getOrElse("kind", "plain"))
    require(kind.contains("partitioned"),
      s"compactPartitioned: $path has no recorded hive-partitioned " +
        s"contract (found ${kind.getOrElse("no marker")}) — use compact")
    require(maxConcurrentLeaves >= 1,
      "compactPartitioned: maxConcurrentLeaves must be >= 1")
    val nLevels = contract.get("cols").split(',').count(_.nonEmpty)
    def isPartDir(st: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = st.getPath.getName
      // recovery dirs (below) are '_'-prefixed SIBLINGS whose names
      // contain NO '=' (the leaf's '=' is percent-encoded): Spark's
      // file index only filters '_'-prefixed names WITHOUT '=' — a
      // name like `_old_lang=lang1` is treated as a hive dir for
      // column `_old_lang`, so one POPULATED crash-state dir would
      // fail every read of the table with conflicting partition
      // columns (caught by LayoutSpec's crash-heal row). With the
      // encoding, crash state is invisible to partition discovery
      // even when it holds the partition's data. Crucially the
      // recovery name is NOT `leaf + suffix`: a genuine partition
      // VALUE ending in the suffix (status=done vs status=done__old)
      // must never be mistakable for another leaf's crash state.
      st.isDirectory && n.contains("=") && !n.startsWith("_") &&
        !n.startsWith(".")
    }
    def leaves(
        p: org.apache.hadoop.fs.Path,
        depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else {
        val listed = fs.listStatus(p).toSeq
        if (depth == 1) {
          // heal orphaned aside dirs BEFORE collecting this level's
          // leaves, so a restored partition is compacted this pass.
          // unescLeaf is the identity on names older code wrote
          // (raw `_old_lang=lang1`, no percent escapes), so legacy
          // crash state from the old naming heals through the same
          // branches — critical because a POPULATED raw name breaks
          // every read of the table until removed.
          val present = listed.filter(isPartDir)
            .map(_.getPath.getName).toSet
          var healed = false
          listed.filter(_.getPath.getName.startsWith("_old_"))
            .foreach { st =>
              val leafName =
                unescLeaf(st.getPath.getName.stripPrefix("_old_"))
              if (!present.contains(leafName)) {
                val dest = new org.apache.hadoop.fs.Path(p, leafName)
                if (!fs.rename(st.getPath, dest))
                  throw new java.io.IOException(
                    "compactPartitioned: found orphaned aside dir " +
                      s"${st.getPath} with no live leaf, and restoring " +
                      s"it to $dest failed — the partition's only data " +
                      "is in the aside dir; restore manually")
                healed = true
              } else if (st.getPath.getName.contains("=")) {
                // leaf alive + RAW-named legacy aside: the old code's
                // "stale aside" state, which its next pass used to
                // clear but the escaped-name compactLeaf never will —
                // and which poisons partition inference while populated
                if (!fs.delete(st.getPath, true))
                  throw new java.io.IOException(
                    "compactPartitioned: cannot clear legacy stale " +
                      s"aside dir ${st.getPath}")
                healed = true
              }
            }
          // stale rewrites (either naming) whose swap never completed:
          // re-derivable — discard so partition inference stays clean
          // (exists-guarded so a racing cleanup can't turn a missing
          // dir into a spurious failure)
          listed.filter(_.getPath.getName.startsWith("_compacting_"))
            .foreach { st =>
              if (fs.exists(st.getPath)) {
                if (!fs.delete(st.getPath, true))
                  throw new java.io.IOException(
                    "compactPartitioned: cannot clear stale rewrite " +
                      s"dir ${st.getPath}")
                healed = true
              }
            }
          // re-list only when a heal changed the directory
          val cur = if (healed) fs.listStatus(p).toSeq else listed
          cur.filter(isPartDir)
            .flatMap(st => leaves(st.getPath, depth - 1))
        } else
          listed.filter(isPartDir)
            .flatMap(st => leaves(st.getPath, depth - 1))
      }
    def compactLeaf(leaf: org.apache.hadoop.fs.Path): Int = {
      val total = fs.getContentSummary(leaf).getLength
      val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      val parent = leaf.getParent
      val tmp = new org.apache.hadoop.fs.Path(
        parent, s"_compacting_${escLeaf(leaf.getName)}")
      val old = new org.apache.hadoop.fs.Path(
        parent, s"_old_${escLeaf(leaf.getName)}")
      if (fs.exists(old) && !fs.delete(old, true))
        throw new java.io.IOException(
          s"compactPartitioned: cannot clear stale aside dir $old")
      // leaf files carry only data columns (partition values are the
      // directory names) — read and rewrite the leaf alone, so the
      // rewrite never re-infers or re-writes the partition scheme
      spark.read.parquet(leaf.toString)
        .repartition(n)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      swapInPlace(fs, leaf, tmp, old, "compactPartitioned")
      n
    }
    val leafList = leaves(hPath, nLevels)
    if (leafList.isEmpty) 0
    else if (maxConcurrentLeaves == 1 || leafList.size == 1)
      leafList.map(compactLeaf).sum
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrentLeaves, leafList.size))
      try {
        val futs = leafList.map { leaf =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            override def call(): Int = {
              // jobs submitted from this thread land in the compact
              // pool (a FAIR-mode deployment caps their share; under
              // the default FIFO scheduler the tag is inert)
              spark.sparkContext
                .setLocalProperty("spark.scheduler.pool", "graft-compact")
              compactLeaf(leaf)
            }
          })
        }
        // propagate the FIRST leaf failure with its real cause; leaves
        // already in flight complete their own swap protocol first
        try futs.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }.sum
        finally {
          // on failure: unstarted leaves never start (cancel(false)
          // does not interrupt a running swap), in-flight ones drain
          futs.foreach(_.cancel(false))
          pool.shutdown()
          pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
        }
      } finally pool.shutdownNow()
    }
    }
  }

  /** Parquet BLOOM-FILTER layout for point-lookup columns — the third
    * data-skipping lever beside directory pruning (writePartitioned)
    * and min/max clustering (writeZOrdered). Min/max row-group stats
    * are useless for a point lookup on a HASH-like column (every row
    * group spans the whole domain unless the table is sorted on it);
    * a per-row-group bloom filter answers "is key k possibly here?"
    * directly, so an equality predicate pushed to the scan skips row
    * groups with no sort, no clustering, and no second copy of the
    * data — the right shape for "fetch document by content
    * fingerprint" at 100 TB, where sorting by fingerprint would fight
    * the table's natural (source, time) layout.
    *
    * `expectedNdv` sizes the filter (parquet derives bits from the
    * target false-positive rate ~1%); oversizing costs footer bytes,
    * undersizing costs false positives — never correctness, because
    * the engine re-checks the predicate on surviving pages. Bloom
    * filters engage only for equality/IN predicates; range predicates
    * still need writeZOrdered's clustering.
    */
  def writeBloomFiltered(
      df: DataFrame, path: String, bloomCols: Seq[String],
      expectedNdv: Long, files: Int = 0): Unit = {
    require(bloomCols.nonEmpty, "at least one bloom column required")
    require(expectedNdv > 0, "expectedNdv must be positive")
    val base = if (files > 0) df.repartition(files) else df
    val w = bloomCols.foldLeft(base.write) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c",
          expectedNdv.toString)
    }
    w.mode(SaveMode.Overwrite).parquet(path)
    writeLayoutMarker(df.sparkSession, path, Seq(
      "kind" -> "bloom", "cols" -> bloomCols.mkString(","),
      "ndv" -> expectedNdv.toString))
  }
}
