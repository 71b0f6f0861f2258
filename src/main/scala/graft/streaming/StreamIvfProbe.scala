package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.F

/** ONLINE serving leg of the persisted IVF index:
  * streaming query vectors probe the cell-partitioned parquet table
  * e64 builds and e170 maintains, with an nprobe-bounded cell fan-out
  * and a per-query top-k — the retrieval family's batch postures
  * (build amortized, probes prune) closed with the posture a serving
  * path actually runs: queries arrive, answers leave, nothing rebuilds.
  *
  * Per arriving query vector:
  *
  *  1. CELL SELECTION is a per-row expression over the CODEBOOK, which
  *     is collected once at wiring time into an array literal — the
  *     bounded driver pull (e29's candidate-list discipline): an IVF
  *     codebook is configuration-sized by construction (k-means k,
  *     here the corpus's `% 67` stand-in), never corpus-proportional,
  *     so it rides the task closure and costs the stream no join and
  *     no shuffle. The scoring arithmetic is BYTE-IDENTICAL to e17's
  *     assignment (raw dot / norm product, argmax with ties to the
  *     smallest cid), so a corpus vector used as a query probes
  *     exactly the cell the index assigned it to.
  *  2. The nprobe cells EXPLODE into (query, list_id) rows that
  *     equi-join the index on its PARTITION column — the static side
  *     is deliberately NOT persisted (unlike [[StreamKnnFold]]'s
  *     static sides): a cached copy would replace the parquet scan and
  *     with it the partition pruning that is this operator's whole
  *     economics. Pruning fires in the [[serve]] (foreachBatch)
  *     deployment, where each micro-batch runs the BATCH plan and
  *     dynamic partition pruning drops every unprobed cell's files
  *     (StreamIvfProbeSpec pins `PartitionFilters`/`dynamicpruning`
  *     in the executed inner plan, the LayoutSpec convention); the
  *     declarative [[topK]] stream is correctness-identical but
  *     cannot be DPP-pruned — Spark will not execute a streaming
  *     filter side as a pruning subquery.
  *  3. Exact cosine against the probed cells' members (e64's
  *     arithmetic: dot / norm product, half-up 4-dp as a ×10⁴
  *     integer), self-matches dropped, then per-query top-k via
  *     [[TopKState]] — state bounded at k entries per query,
  *     idempotent under replay (duplicate candidates from overlapping
  *     probe cells deduplicate in-state).
  *
  * Scale: per query the work is #cells codebook scores (a per-row
  * expression), nprobe partition-pruned file reads, and one bounded
  * scoring join; no operator touches cells nobody probed, which is the
  * measured e64/e170 pruning story now paid per micro-batch.
  */
object StreamIvfProbe {

  /** Stateless probe plan — shared by the stream and its batch replay.
    *
    * @param queries   (query_id, embedding) — streaming or batch
    * @param index     the cell-partitioned table read from its path
    *                  (vec_id, emb, nrm, list_id); pass the RAW parquet
    *                  read — caching it would defeat partition pruning
    * @param centroids codebook rows (cid, cemb, cnrm) — bounded;
    *                  collected at wiring time
    * @param nprobe    cells probed per query
    * @return (query_id, neighbor_id, cos_t) candidates, duplicates
    *         possible across probe cells — the consumer's top-k
    *         deduplicates
    */
  def scoredCandidates(
      queries: DataFrame, index: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    scoredCandidates(queries, index, collectCodebook(centroids), nprobe)

  /** The bounded driver pull, exposed so a long-lived deployment
    * ([[serve]]) collects the codebook ONCE at wiring time instead of
    * re-collecting per micro-batch: a per-trigger collect pays a full
    * column-pruned index scan just to rebuild the codebook, partially
    * offsetting the DPP pruning serve exists for.
    */
  def collectCodebook(
      centroids: DataFrame): Array[(Long, Seq[Double], Double)] =
    centroids
      .select(col("cid"), col("cemb").cast("array<double>"),
        col("cnrm").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)

  /** [[scoredCandidates]] over a pre-collected codebook. */
  def scoredCandidates(
      queries: DataFrame, index: DataFrame,
      cents: Array[(Long, Seq[Double], Double)],
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    require(cents.nonEmpty, "empty codebook")
    val q = queries
      .where(col("query_id").isNotNull)
      .select(col("query_id"),
        col("embedding").cast("array<double>").as("qemb"))
      .withColumn("qnrm", sqrt(F.array_dot(col("qemb"), col("qemb"))))
      .filter(col("qnrm") > 0)
    // e17's assignment per row: argmax dot/(|q||c|), ties to the
    // smallest cid — encoded as a sort on (−cs, cid) structs so the
    // first nprobe entries are the probe set
    def cellStruct(c: (Long, Seq[Double], Double)): Column = struct(
      (-(F.array_dot(col("qemb"), array(c._2.map(lit): _*))
        / (col("qnrm") * lit(c._3)))).as("negcs"),
      lit(c._1).as("cid"))
    val probes = q.withColumn("cells",
        slice(array_sort(array(cents.map(cellStruct): _*)), 1,
          math.min(nprobe, cents.length)))
      .select(col("query_id"), col("qemb"), col("qnrm"),
        explode(col("cells.cid")).as("list_id"))
    // the PROBE side broadcasts, explicitly: a micro-batch of queries
    // is small by construction while the index is corpus-sized (at
    // test SF the planner would happily broadcast the whole index,
    // which reads every cell and erases the pruning this operator
    // exists for), and the broadcast is what dynamic partition
    // pruning reuses as the list_id filter on the index scan
    broadcast(probes).join(index, Seq("list_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(F.array_dot(col("qemb"), col("emb"))
          / (col("qnrm") * col("nrm")) * 10000)
          .cast("long").as("cos_t"))
  }

  /** Batch top-k over the probe plan — window with e64's tie rule,
    * duplicates (overlapping probe cells) dropped first. This is the
    * per-micro-batch body of [[serve]] and the batch replay the spec
    * compares the declarative stream against.
    */
  def topKBatch(
      queries: DataFrame, index: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 1): DataFrame =
    topKBatch(queries, index, collectCodebook(centroids), k, nprobe)

  /** [[topKBatch]] over a pre-collected codebook (the serve path). */
  def topKBatch(
      queries: DataFrame, index: DataFrame,
      cents: Array[(Long, Seq[Double], Double)],
      k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scoredCandidates(queries, index, cents, nprobe)
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_t").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** foreachBatch serving mode — the deployment where the PRUNED scan
    * actually happens: dynamic partition pruning never fires from a
    * streaming filter side (a DynamicPruningSubquery cannot execute a
    * streaming plan), so the pure declarative stream above scans every
    * cell per batch; wrapping each micro-batch in its BATCH plan
    * restores the e64 economics — the probe side broadcast feeds a
    * dynamicpruning filter on the index scan's `list_id`, and each
    * batch reads only its probed cells' files (StreamIvfProbeSpec pins
    * the executed inner plan). `sink` receives the batch's finished
    * top-k frame; queries need no cross-batch state — a query's
    * candidates are complete within its own batch.
    */
  def serve(
      queries: DataFrame, index: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 1)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    // codebook collected ONCE at wiring time (its own docstring's
    // contract): triggers pay no codebook scan.
    // CONTRACT: the codebook is FROZEN for the
    // stream's lifetime — a deployment that rebuilds the centroids
    // table must re-wire serve() to pick the new codebook up; a
    // long-lived stream over a mutated table silently probes the old
    // cells (the per-batch collect this replaced tracked rebuilds, at
    // one codebook scan per trigger).
    val cents = collectCodebook(centroids)
    queries.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        sink(topKBatch(batch, index, cents, k, nprobe), batchId)
    }
  }

  /** The declarative streaming probe: candidates through
    * [[TopKState]] — update-mode leaderboards, key = query_id, ids =
    * neighbors, scores = cosine ×10⁴ (ties to the LOWER id, e64's
    * `cosine desc, neighbor_id asc` rule). Correctness-identical to
    * [[serve]]; prefer [[serve]] where scan pruning is the economics
    * (see its note — this plan's static side cannot be DPP-pruned).
    */
  def topK(
      queries: DataFrame, index: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 1): Dataset[TopKState.Leaderboard] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val scored = scoredCandidates(queries, index, centroids, nprobe)
    TopKState.topK(
      scored.select(col("query_id").cast("string").as("key"),
        col("neighbor_id").as("id"), col("cos_t").as("score"))
        .as[TopKState.Scored],
      k)
  }
}
