package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.{F, Portable}
import graft.operators.Pins

/** ONLINE attach leg of the persisted-kNN-graph family — arriving
  * vectors join the stored base graph's neighborhoods as they land,
  * instead of waiting for the next batch fold: the e173 chain
  * build → persist → fold → consume, closed with a streaming consumer
  * ([[StreamBandGate]] is e41's).
  *
  * Per micro-batch, each arriving vector:
  *
  *  1. buckets by the deterministic sign-LSH signature (e13's
  *     hyperplane family, [[Portable.hyperplaneWeight]] planes
  *     0..tables·bits−1) and equi-joins the SAME signature over the
  *     base vectors — `tables` stream-static joins, one per band;
  *  2. expands candidates ONE HOP through the STORED kNN graph
  *     (bucket seed → its persisted top-K neighbors), which is what
  *     makes this a consumer of e173's artifact and not a plain LSH
  *     probe: the graph recovers neighbors the sign buckets miss, the
  *     NN-Descent "neighbors of neighbors" rule applied at query time;
  *  3. scores every candidate (exact cosine, the e173 arithmetic:
  *     unit-normalize, dot, half-up 4-dp as ×10⁴ integer), and
  *  4. keeps its top-`k` via [[TopKState]] — per-key state BOUNDED at
  *     k (score, id) pairs, idempotent under source replay (duplicate
  *     candidates from overlapping bands and the hop expansion
  *     deduplicate in-state, so the plan needs NO streaming distinct).
  *
  * The attach degree `k` should sit BELOW the stored graph's K: the
  * stream sees only BASE candidates (fresh×fresh edges are invisible
  * to a stream-static plan — a fresh vector's same-generation
  * neighbors may still be in flight), so a conservative k attaches
  * only edges the batch fold will also keep, and the periodic e173
  * fold remains the COMPACTOR that completes fresh×fresh
  * neighborhoods and re-balances the graph (StreamKnnFoldSpec pins
  * attach ⊆ fold on the convergent fixture under exactly this
  * k < K − max-fresh-per-neighborhood discipline).
  *
  * Static sides (base vectors + signatures, the capped band tables, the
  * stored edge list) are persisted once at wiring time — a
  * stream-static join re-evaluates its static side per micro-batch; the
  * scoring projection is a lazy view over the ONE persisted base frame.
  * They ride the session's [[Pins.slot]] `StreamKnnFold`, so a wiring
  * releases the previous wiring's statics and repeated wirings in one
  * session pin one set. Nothing is persisted until the whole plan resolves, so
  * a wiring that fails leaves the cache as it found it.
  *
  * Scale: per arriving vector the work is `tables` O(1) bucket probes,
  * a bounded hop expansion (≤ bucket hits × K edges), and one bounded
  * scoring join; state is k pairs per arriving vector — the attach
  * never touches the base corpus beyond its bucket neighborhoods, and
  * nothing is quadratic in either the stream or the store.
  */
object StreamKnnFold {

  /** Stateless candidate generation + exact scoring — shared verbatim
    * by the stream plan and its batch replay (the spec's
    * stream ≡ batch pin compares the two). Works on a streaming OR
    * batch `vectors` frame: every operator is a stream-static join,
    * filter, or union.
    *
    * @param vectors     (vec_id, embedding) — the arriving delta
    * @param baseVectors (vec_id, embedding) — the generation the
    *                    stored graph covers
    * @param storedEdges (src, dst, ...) — e173's persisted base graph
    * @param d           embedding dimensionality (weights are built
    *                    per-dimension; pass the fixture's d in specs)
    * @return (src, dst, cos_t) candidate scores, duplicates possible —
    *         the consumer's top-k (in-state or window) deduplicates
    */
  def scoredCandidates(
      vectors: DataFrame, baseVectors: DataFrame, storedEdges: DataFrame,
      d: Int = 64, tables: Int = 4, bits: Int = 4,
      capPerBucket: Int = 64): DataFrame = {
    require(capPerBucket >= 1, "capPerBucket must be >= 1")
    def normalized(df: DataFrame): DataFrame = df
      .where(col("vec_id").isNotNull)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("uv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("uv"))
    def sigCols: Seq[Column] = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val plane = t * bits + j
        val w = array((0 until d).map(dd =>
          lit(Portable.hyperplaneWeight(plane, dd))): _*)
        when(F.array_dot(col("uv"), w) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    // ONE base frame; the scoring projection is a lazy view over it
    // (the e172 sigBand rule)
    val base = normalized(baseVectors)
      .select(col("vec_id"), col("uv"), array(sigCols: _*).as("gs"))
    // band tables are CAPPED per bucket (deterministic lowest-id
    // members kept) and persisted in their capped form: sign-LSH
    // bucket occupancy is size-BIASED — the expected size of the
    // bucket an arriving vector lands in is E[size²]/E[size], and the
    // 100× probe measured 33k candidates per query from exactly that
    // skew before the cap. With it, per-query work is bounded by
    // construction at tables·cap seeds + tables·cap·K hop candidates
    // regardless of corpus or skew — the e147 reverse-cap rule applied
    // at serving time, with the one-hop graph expansion recovering the
    // neighbors the truncated bucket hides (spec pins exact
    // base-top-k coverage on the fixture).
    val w = org.apache.spark.sql.expressions.Window
    val bandTables = (0 until tables).map { t =>
      base
        .select(element_at(col("gs"), t + 1).as(s"btk$t"),
          col("vec_id").as("cand_id"))
        .withColumn("rn", row_number().over(
          w.partitionBy(col(s"btk$t")).orderBy(col("cand_id"))))
        .filter(col("rn") <= capPerBucket)
        .drop("rn")
    }
    val edges = storedEdges
      .select(col("src").as("cand_id"), col("dst").as("hop_id"))
    val baseUv = base.select(col("vec_id").as("cand_id"),
      col("uv").as("cuv"))
    val q = normalized(vectors).select(col("vec_id").as("src"),
      col("uv"), array(sigCols: _*).as("qs"))
    // the STREAM side broadcasts, explicitly: a micro-batch of
    // arriving vectors is small by construction, while the band tables
    // are corpus-sized — left to the planner, the static side wins the
    // broadcast and is re-broadcast EVERY trigger (measured 3× the
    // per-batch latency at the 100× probe: micro-batch plans are fresh
    // executions, so a static-side broadcast is rebuilt per batch; the
    // persist below only amortizes the scan under it)
    val seeds = (0 until tables).map { t =>
      broadcast(q.select(col("src"), col("uv"),
          element_at(col("qs"), t + 1).as(s"btk$t")))
        .join(bandTables(t), Seq(s"btk$t"))
        .select(col("src"), col("uv"), col("cand_id"))
    }.reduce(_ unionByName _)
    val expanded = seeds.join(edges, Seq("cand_id"))
      .select(col("src"), col("uv"), col("hop_id").as("cand_id"))
    val scored = seeds.unionByName(expanded)
      .filter(col("src") =!= col("cand_id"))
      .join(baseUv, Seq("cand_id"))
      .select(col("src"), col("cand_id").as("dst"),
        round(F.array_dot(col("uv"), col("cuv")) * 10000)
          .cast("long").as("cos_t"))
    // the plan has resolved; the base goes first so that each band
    // table's cache is built over the cached base
    Pins.slot(base.sparkSession, "StreamKnnFold")(p =>
      (base +: bandTables :+ edges).foreach(p.persist))
    scored
  }

  /** The streaming attach: candidate scores through [[TopKState]] —
    * update-mode leaderboards, key = the arriving vec_id, ids = its
    * attach neighbors, scores = cosine ×10⁴ (ties to the LOWER id,
    * e173's `cos desc, dst asc` ordering).
    */
  def attach(
      vectors: DataFrame, baseVectors: DataFrame, storedEdges: DataFrame,
      k: Int, d: Int = 64, tables: Int = 4, bits: Int = 4,
      capPerBucket: Int = 64)
      : Dataset[TopKState.Leaderboard] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val scored = scoredCandidates(vectors, baseVectors, storedEdges,
      d, tables, bits, capPerBucket)
    TopKState.topK(
      scored.select(col("src").cast("string").as("key"),
        col("dst").as("id"), col("cos_t").as("score"))
        .as[TopKState.Scored],
      k)
  }
}
