package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.functions.Portable.P

/** Streaming near-dup ADMISSION GATE — e41's online form: every
  * arriving document is checked against the FROZEN corpus index before
  * admission (the gate an incremental crawl-ingest pipeline runs on
  * each fresh batch), with e41's two-tier verdict:
  *
  *  - `exact`   — content digest already in the corpus;
  *  - `neardup_candidate` — shares at least one MinHash band key with
  *    a corpus document (e3's LSH candidate rule — the RECALL-oriented
  *    gate: candidates quarantine for exact-Jaccard verification by
  *    the batch pass, they are not auto-dropped);
  *  - `kept`    — neither.
  *
  * ZERO streaming state: a document's digest and all six band keys are
  * pure expressions of its own row, so the verdict is decidable inside
  * the micro-batch — one stream-static digest join plus six
  * stream-static band-key joins (one per band, avoiding the
  * explode-then-regroup that would force a stateful per-doc
  * aggregation). The spec pins `stateOperators` EMPTY on the running
  * query: this gate cannot accumulate memory no matter how long it
  * runs.
  *
  * The corpus index is built ONCE by [[corpusIndex]] (digest set +
  * distinct (band_id, band_key) table — at fleet scale both are
  * materialized parquet maintained by the batch pipeline) and re-read
  * per micro-batch as any static join side is. In-stream duplicates
  * are NOT this gate's job: a first-arrival dedup must run upstream.
  */
object StreamBandGate {

  /** Band key k of a 12-wide MinHash signature — e3's pairing rule. */
  private def bandKey(k: Int) =
    element_at(col("sig"), 2 * k + 1) * P + element_at(col("sig"), 2 * k + 2)

  /** The frozen corpus side: (digests, bands) — digests is one `h`
    * column (sha2 of text), bands is the distinct (band_id, band_key)
    * table over corpus MinHash signatures.
    */
  def corpusIndex(corpus: DataFrame): (DataFrame, DataFrame) = {
    val dig = corpus.select(sha2(col("text"), 256).as("h")).distinct()
    val sig = corpus
      .select(F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(F.min_hashes(col("shs")).as("sig"))
    val bands = sig.select(posexplode(array(
      (0 until 6).map(bandKey): _*)).as(Seq("band_id", "band_key")))
      .distinct()
    (dig, bands)
  }

  /** @param docs    streaming frame: doc_id, text, ts
    * @param digests [[corpusIndex]]'s digest side
    * @param bands   [[corpusIndex]]'s (band_id, band_key) side
    * @return append-mode stream of (doc_id, ts, verdict)
    */
  def verdicts(
      docs: DataFrame, digests: DataFrame, bands: DataFrame): DataFrame = {
    val shs = F.shingle_hashes(col("text"))
    val base = docs
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"), col("ts"),
        sha2(col("text"), 256).as("h"),
        when(size(shs) > 0, F.min_hashes(shs)).as("sig"))
    val withExact = base
      .join(digests.withColumn("fe", lit(1)), Seq("h"), "left")
    // six band-key left joins — a NULL key (shingle-less doc) matches
    // nothing by join semantics, exactly the batch rule
    val keyed = withExact.select(
      Seq(col("doc_id"), col("ts"), col("fe")) ++
        (0 until 6).map(k => bandKey(k).as(s"bk$k")): _*)
    val withBands = (0 until 6).foldLeft(keyed) { (d, k) =>
      d.join(
        bands.filter(col("band_id") === k)
          .select(col("band_key").as(s"bk$k"), lit(1).as(s"fn$k")),
        Seq(s"bk$k"), "left")
    }
    withBands.select(col("doc_id"), col("ts"),
      when(col("fe") === 1, "exact")
        .when((0 until 6).map(k => col(s"fn$k") === 1).reduce(_ || _),
          "neardup_candidate")
        .otherwise("kept").as("verdict"))
  }
}
