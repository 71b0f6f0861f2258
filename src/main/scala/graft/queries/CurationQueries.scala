package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{F, Portable}
import graft.gen.MockData
import graft.operators.Pins
import graft.sources.Tables

/** Curation stages a production training-data pipeline runs beyond the
  * e1–e85 surface, each with a DuckDB oracle twin.
  *
  *  - e86 line-level exact dedup with document reassembly (the C4 /
  *    RefinedWeb "dedup at the line level, keep first occurrence, write
  *    the doc back" transform — distinct from e30, which only AUDITS
  *    repeated spans).
  *  - e87 perceptual-hash near-dup over opaque media payloads (aHash +
  *    banded Hamming join — the image-dedup shape of LAION-scale
  *    pipelines, on the engine's binary media columns).
  *  - e88 hybrid retrieval fusion: lexical-overlap ranking + dense
  *    cosine ranking merged by Reciprocal Rank Fusion (the two-tower
  *    serving pattern of every RAG stack).
  *  - e89 priority sampling (Duffield–Lund–Thorup): weighted k-sample
  *    without replacement with the threshold estimator, all-integer.
  *  - e90 hashed linear classifier inference (the fasttext-style
  *    quality-filter pass) as a zero-shuffle projection.
  *
  * Scale design (100 TB), per query:
  *  - e86 runs one word-explode aggregation keyed (doc, line), one
  *    window keyed by line text (the dedup exchange — high-cardinality
  *    key, no data-bearing single partition), one per-doc rollup. At
  *    production scale the window key would be a 128-bit digest of the
  *    line rather than the line itself (fixed-width shuffle payload);
  *    the text key here keeps the oracle compare byte-exact.
  *  - e87 hashes each payload to 64 bits ONCE (codegen'd
  *    [[graft.functions.expressions.AvgHash64]]), then only band-equal
  *    pairs meet in the join — 8 bands of 8 bits, so the candidate set
  *    is |pairs|·8/256 in expectation on unrelated payloads, never
  *    all-pairs. The final top-20 is a map-side TakeOrdered.
  *  - e88 broadcasts the query side (a driver-bounded slice), ranks
  *    with per-query windows (partial-mode WindowGroupLimit applies),
  *    and fuses two ≤ 20-row-per-query lists — post-rank data is
  *    O(|queries|), not corpus-sized.
  *  - e89 is two map-side TakeOrdered passes (k and k+1) plus one
  *    1-row broadcast — no full sort, no window over the corpus.
  *  - e90 is a pure projection (aggregate() over the word-hash array):
  *    ZERO shuffles; the classifier weights are a hash formula, so no
  *    weight table is even broadcast.
  *  - e91 incremental IVF-index maintenance: the delta batch assigns
  *    against the FROZEN base codebook (broadcast, delta-only scan) and
  *    per-cell stats merge — the q40 incremental-agg discipline applied
  *    to the vector index, with the growth report as the re-split
  *    trigger a production index maintainer acts on.
  *  - e92 shard-manifest diff: e73's manifest for base vs base+delta,
  *    full-outer on shard_id — append-only growth leaves every shipped
  *    shard byte-identical except the boundary (e77's argument as the
  *    operational diff artifact a delivery system actually runs).
  */
object CurationQueries {

  val all: Seq[QueryDef] = Seq(
    e86LineDedup, e87MediaPhash, e87bMediaPhash16, e155MediaDedupApply,
    e161VideoNeardup, e166AudioFingerprint, e171FingerprintIndexed,
    e156IncrementalCc, e156bIncrementalCcPersist, e88HybridRrf,
    e88bHybridIndexed, e89PrioritySample, e90HashedClassifier,
    e91IvfUpsert, e167IvfResplit, e92ManifestDiff, e93AnnInt8, e94DataCard,
    e95StratifiedPriority, e96FilterAblation, e97CdcChunks,
    e145KAnonymity)

  /** DuckDB 64-dim dot-product fold over two list expressions — the
    * cross-engine IEEE discipline (index-ordered sum, per-element
    * DOUBLE cast) shared by every oracle that scores embeddings
    * (e88b, e91, e93, e107-family, e167). One definition so a fix to
    * the fold cannot silently miss a site.
    */
  private def dotCols(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65),
       |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
       |      (s, v) -> s + v)""".stripMargin

  // ---- e86: line-level exact dedup with doc reassembly ---------------------

  /** C4-style line dedup: segment each document into 8-word "lines",
    * keep only the corpus-wide FIRST occurrence of each distinct line
    * (order: doc_id, then position), and report per document the line
    * counts, the retained character fraction (basis points), and the
    * md5 of the reassembled deduplicated text — the transform a C4 /
    * RefinedWeb-style curation stage applies before training.
    */
  private def e86LineDedup = {
    val W = 8
    QueryDef.sql(
      "e86_line_dedup",
      s"""WITH w AS (SELECT doc_id, ${Portable.wordsDuck} AS ws
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos,
         |    unnest(ws) AS word FROM w WHERE len(ws) > 0),
         |l AS (SELECT doc_id, pos // $W AS line_idx,
         |    string_agg(word, ' ' ORDER BY pos) AS line
         |  FROM ex GROUP BY doc_id, pos // $W),
         |k AS (SELECT doc_id, line_idx, line, len(line) AS lc,
         |    CASE WHEN row_number() OVER (PARTITION BY line
         |      ORDER BY doc_id, line_idx) = 1 THEN 1 ELSE 0 END AS kept
         |  FROM l)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept = 1 THEN lc ELSE 0 END) * 10000
         |    // sum(lc) AS BIGINT) AS retained_bp,
         |  md5(coalesce(string_agg(line, ' ' ORDER BY line_idx)
         |    FILTER (WHERE kept = 1), '')) AS dedup_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ex = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(expr(Portable.wordsSpark)).as(Seq("pos", "word")))
      // line assembly: bounded groups (≤ W words), order restored by
      // array_sort over (pos, word) structs — collect_list alone is
      // arrival-ordered and nondeterministic under shuffle
      val lines = ex
        .groupBy(col("doc_id"), expr(s"pos div $W").as("line_idx"))
        .agg(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, word)))," +
            " x -> x.word)")).as("line"))
      val firstWin = Window.partitionBy(col("line"))
        .orderBy(col("doc_id"), col("line_idx"))
      lines
        .withColumn("kept", (row_number().over(firstWin) === 1).cast("int"))
        .withColumn("lc", length(col("line")).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("kept")).cast("long").as("n_kept"),
          expr("sum(case when kept = 1 then lc else 0 end) * 10000" +
            " div sum(lc)").cast("long").as("retained_bp"),
          md5(concat_ws(" ",
            expr("transform(array_sort(collect_list(" +
              "case when kept = 1 then struct(line_idx, line) end))," +
              " x -> x.line)"))).as("dedup_md5"))
    }
  }

  // ---- e87: perceptual-hash media near-dup ---------------------------------

  /** Perceptual near-dup over opaque media payloads: 64-bit average-hash
    * per payload (bit j = block-j byte mean above global mean — the
    * classic aHash, computed by the codegen'd expression), candidate
    * pairs via 8×8-bit banded self-join (a Hamming-space LSH: any
    * shared band makes a pair a candidate), then the 20 closest
    * candidate pairs by exact Hamming distance. On a real image corpus
    * the payload would be decoded-luma blocks; here payload bytes stand
    * in for pixels (the engine-side plumbing — binary column, hash
    * expression, banded join — is the real thing).
    */
  /** Band-parameterized builder behind e87/e87b (the e6/e6b precedent:
    * two oracle-proven band widths of one operator). `nBands` bands of
    * `bandBits` bits each: narrower bands (8-bit) are the SENSITIVE
    * probe — more candidates, catches fainter matches, right for small
    * or low-dup corpora; wider bands (16-bit) are the SCALE path — band
    * fan-out 256× larger, so uniform-density candidate volume drops
    * ~bandCount·2^-Δbits-fold while exact-duplicate pairs (equal in
    * every band) are caught at any width. Measured on the 10× dup-heavy
    * replica: 22.1 s / 1231 MB shuffle at 8×8 vs the 4×16 run recorded
    * in SCALING.md.
    */
  /** Shared banded-pHash candidate machinery: SQL CTE chain ending in
    * `cand(doc_a, doc_b, ha, hb)` — the avg-hash, the band explode, and
    * the band-bucket self-join (e87/e87b/e155 all build on exactly
    * this fragment, so the detector and its apply stage can never
    * disagree on the candidate set).
    */
  /** SQL fragment computing the 64-bit avg-hash per non-empty asset:
    * CTEs `chs` and `ph(doc_id, h)`.
    */
  private def phashHashDuck: String = {
    val minLong = "CAST(-9223372036854775807 - 1 AS BIGINT)"
    s"""chs AS (SELECT doc_id,
       |    list_transform(string_split(text, ''),
       |      c -> CAST(ascii(c) AS BIGINT)) AS cs,
       |    len(text) AS L FROM documents WHERE len(text) > 0),
       |ph AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 64), j -> CASE
       |      WHEN coalesce(list_sum(
       |          cs[((j*L+63)//64)+1 : ((j+1)*L+63)//64]), 0) * L
       |        > list_sum(cs) * (((j+1)*L+63)//64 - ((j*L+63)//64))
       |      THEN CASE WHEN j = 63 THEN $minLong
       |           ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
       |      -- list_sum widens to HUGEINT; xor/bit_count must run on
       |      -- 64-bit two's complement, so force the hash back to BIGINT
       |      ELSE 0 END)) AS BIGINT) AS h
       |  FROM chs)""".stripMargin
  }

  /** SQL fragment banding a `(doc_id, h)` relation `rel` into candidate
    * pairs: CTEs `bd`, `b2`, `cand(doc_a, doc_b, ha, hb)`.
    */
  private def phashBandDuck(rel: String, bandBits: Int, nBands: Int)
      : String = {
    require(bandBits * nBands <= 64)
    val mask = (1L << bandBits) - 1
    s"""bd AS (SELECT doc_id, h, unnest(range(0, $nBands)) AS k FROM $rel),
       |b2 AS (SELECT doc_id, h, k,
       |    (h >> CAST($bandBits*k AS INT)) & $mask AS bv FROM bd),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.h AS ha, b.h AS hb
       |  FROM b2 a JOIN b2 b
       |    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id)"""
      .stripMargin
  }

  private def phashCandDuck(bandBits: Int, nBands: Int): String =
    phashHashDuck + ",\n" + phashBandDuck("ph", bandBits, nBands)

  /** Spark twin of [[phashCandDuck]]: banded candidate pairs with both
    * hashes, via the codegen'd `avg_hash64`.
    */
  /** Per-asset avg-hash table `(doc_id, h)` — the Spark twin of
    * [[phashHashDuck]].
    */
  private def phashHashes(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        F.avg_hash64(col("text").cast("binary")).as("h"))

  /** Band a `(doc_id, h)` frame into candidate pairs — the Spark twin
    * of [[phashBandDuck]].
    */
  private def phashBandPairs(
      hashed: org.apache.spark.sql.DataFrame, bandBits: Int, nBands: Int)
      : org.apache.spark.sql.DataFrame = {
    val mask = (1L << bandBits) - 1
    val bands = hashed.select(col("doc_id"), col("h"),
      posexplode(array((0 until nBands).map(k =>
        shiftright(col("h"), bandBits * k).bitwiseAND(lit(mask))): _*))
        .as(Seq("k", "bv")))
    bands.as("a").join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct()
  }

  private def phashCands(
      s: org.apache.spark.sql.SparkSession, dir: String,
      bandBits: Int, nBands: Int)
      : org.apache.spark.sql.DataFrame =
    phashBandPairs(phashHashes(s, dir), bandBits, nBands)

  private def mediaPhash(name: String, bandBits: Int, nBands: Int) = {
    QueryDef.sql(
      name,
      s"""WITH ${phashCandDuck(bandBits, nBands)}
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin) {
      (s, dir) =>
        phashCands(s, dir, bandBits, nBands)
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
              .as("hamming"))
          .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
          .limit(20)
    }
  }

  /** Media dedup APPLY — the e45 cluster-canonical rule run on the e87
    * detector, completing the multimodal dedup PATH end-to-end (e87
    * reports the closest pairs; this stage actually deduplicates):
    * candidates from the SAME banded-pHash machinery, kept when
    * Hamming ≤ 12, connected components over the kept edges
    * ([[graft.operators.ConnectedComponents]] — keep-one-per-PAIR
    * over-deletes on chains, the e32 lesson), min-id canonical
    * survives, and the per-SOURCE yield report is the operational
    * artifact. The 12/64 cutoff is corpus-tuned exactly like e3's 0.2
    * threshold: this synthetic payload corpus has no true perceptual
    * dups at sf0.01 (minimum observed Hamming is 10), so the loose
    * cutoff is what exercises the clustering non-degenerately — stated
    * honestly; production tightens it and the e87 hamming census is
    * the dial. At sf0.1 the corpus's exact-duplicate assets land at
    * Hamming 0 and survive any cutoff.
    *
    * Scale (100 TB): the e142 content-keying lesson applied UP FRONT —
    * exact-hash duplicates collapse to one representative (min doc_id
    * per distinct 64-bit hash, a map-side-partial groupBy) BEFORE the
    * band join, so banding and CC run on DISTINCT hashes only and the
    * clone sets that made the naive form shuffle 16.7 GB at the 100×
    * dense-replica probe (every clone pair re-banded: ~N·clones pairs)
    * never reach an exchange; cluster labels lift back to assets
    * through one hash-keyed join. Equivalence is structural: same-hash
    * assets are Hamming-0 pairs in the naive graph, so collapsing them
    * to their representative preserves the components and the min-id
    * canonical exactly — the ORACLE keeps the naive formulation as the
    * semantic definition and the hash match proves the rewrite.
    * Measured 10.2 s / 44 MB → 5.1 s / 1.4 MB at 10× and 99 s /
    * 16.7 GB → 5.1 s / 8.1 MB at 100× — FLAT across the replica
    * factors, because the clone mass dies in the map-side partial of
    * the hash groupBy.
    */
  private def e155MediaDedupApply = QueryDef.pinned(
    "e155_media_dedup_apply",
    s"""WITH RECURSIVE ${phashCandDuck(8, 8)},
       |pairs AS (SELECT doc_a, doc_b FROM cand
       |  WHERE bit_count(xor(ha, hb)) <= 12),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
       |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
       |losers AS (SELECT node AS doc_id FROM comp WHERE node <> cluster)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_assets,
       |  CAST(count(CASE WHEN l.doc_id IS NULL THEN 1 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(count(l.doc_id) AS BIGINT) AS n_dropped
       |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
       |WHERE len(d.text) > 0
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (p, s, dir) =>
    val bandBits = 8
    val nBands = 8
    val mask = (1L << bandBits) - 1
    val d = Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("source"),
        F.avg_hash64(col("text").cast("binary")).as("h"))
    // exact-hash collapse FIRST: reps carry min doc_id per distinct
    // hash; the band join and CC below never see a clone set
    // distinct-hash grain; feeds bands + lift
    val reps = p.checkpoint(d.groupBy("h").agg(min(col("doc_id")).as("rep")))
    val bands = reps.select(col("rep"), col("h"),
      posexplode(array((0 until nBands).map(k =>
        shiftright(col("h"), bandBits * k).bitwiseAND(lit(mask))): _*))
        .as(Seq("k", "bv")))
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"),
        col("a.h").as("ha"), col("b.h").as("hb"))
      .distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 12)
      .select("rep_a", "rep_b")
    // cluster label per rep (isolated reps are their own cluster);
    // rep = min member per hash and comp = min rep, so the label IS
    // the cluster's min doc_id — the naive canonical, exactly
    val comp = p.own(graft.operators.ConnectedComponents
      .components(pairs, "rep_a", "rep_b"))
      .withColumnRenamed("node", "rep")
    val repC = reps.join(comp, Seq("rep"), "left")
      .select(col("h"), coalesce(col("comp"), col("rep")).as("cluster"))
    d.join(repC, "h")
      .groupBy("source").agg(
        count(lit(1)).as("n_assets"),
        count(when(col("doc_id") === col("cluster"), 1)).as("n_kept"),
        count(when(col("doc_id") =!= col("cluster"), 1)).as("n_dropped"))
      .orderBy("source")
  }

  private def e87MediaPhash = mediaPhash("e87_media_phash", 8, 8)

  /** The 4×16-bit production-width variant: same hash, 256× band
    * fan-out — the "widen bands" lever of SCALING.md measured and
    * oracle-checked (exact-duplicate recall unaffected by width).
    */
  private def e87bMediaPhash16 = mediaPhash("e87b_media_phash16", 16, 4)

  // ---- e156: incremental connected-components maintenance ------------------

  /** Incremental CLUSTER maintenance — the missing half of the e41
    * incremental-dedup posture: e41 discovers the DELTA's near-dup
    * pairs without re-pairing the base, but a production dedup stage
    * also has to fold those pairs into the existing cluster labels
    * without recomputing components over the whole historical graph.
    * The classic contraction argument makes that exact: each base
    * component collapses to its LABEL (base labels are min-ids, so the
    * contraction is one projection of the persisted label table), the
    * second CC runs on the contracted delta edges only — label and
    * new-node endpoints, a graph bounded by the DELTA, not history —
    * and the composition relabels affected components. Quotient-graph
    * connectivity equals original connectivity, and since every label
    * is its component's min-id, min-composition preserves the min-id
    * canonical exactly.
    *
    * The output IS the proof, in the e140 in-output-evidence style:
    * `n_mismatch` compares the composed incremental labels node-by-node
    * against a from-scratch CC over base ∪ delta and must be 0, next
    * to the work-bound columns that justify the path (contracted
    * stage-2 nodes vs total nodes). The node universe is the
    * exact-hash-collapsed REPRESENTATIVE graph (min doc_id per distinct
    * avg-hash — the e155 invariant, and the collapse that kept the
    * naive doc-grain band join from OOMing the 100× dense-clone probe
    * exactly as e155's naive form did); edges are the banded-pHash rep
    * pairs at Hamming ≤ 14, and the base/delta split is e138's
    * deterministic id generation of the representative (old↔old edges
    * are history, anything touching a new rep is the delta).
    *
    * Scale (100 TB): the base pair corpus never recomputes — stage 2's
    * graph is bounded by delta edges + touched labels; the persisted
    * label table joins once for contraction and once for relabel, both
    * label-keyed equi-joins. The full-recompute leg exists ONLY as the
    * audit's truth side, and production drops it (e103b's harness
    * rule). The DuckDB oracle's three reach closures are the audit's
    * dominant cost away from sf0.01 (the ≤ 14 cutoff keeps the sf0.1
    * sweep's giant component small enough for the transitive-closure
    * formulation; Spark runs pointer-jumping CC and does not care).
    */
  /** e156's PRODUCTION maintenance path, shared by the oracle-checked
    * query and its buildOnly probe plan: rep-grain collapse, base/delta
    * split, base CC, contraction, stage-2 CC on the delta-bounded
    * quotient graph, and label composition. Returns (newf node
    * universe, pe tagged pair table, ce contracted delta edges, incr
    * composed labels). The from-scratch recompute and the n_mismatch
    * audit live ONLY in the oracle-checked form.
    */
  private def e156Build(p: Pins, s: SparkSession, dir: String,
      onPe: DataFrame => Unit = _ => ())
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // distinct-hash grain (the e155 collapse)
    val reps = p.checkpoint(phashHashes(s, dir)
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "h"))
    // node universe; reused by both legs
    val newf = p.checkpoint(reps
      .select(col("doc_id"),
        expr("(((doc_id % 1000003) * 2654435761) % 1000000007) % 2 = 1")
          .as("is_new")))
    // pair grain; feeds all three legs
    val pe = p.checkpoint(phashBandPairs(reps, 8, 8)
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 14)
      .select("doc_a", "doc_b")
      .join(newf.select(col("doc_id").as("doc_a"),
        col("is_new").as("new_a")), "doc_a")
      .join(newf.select(col("doc_id").as("doc_b"),
        col("is_new").as("new_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("new_a") || col("new_b")).as("delta")))
    p.release(reps)
    onPe(pe) // pe is final: a leg that reads only pe may overlap the rest
    val compb = p.own(graft.operators.ConnectedComponents
      .components(pe.filter(!col("delta")), "doc_a", "doc_b"))
    // contraction: delta-edge endpoints map to their persisted base
    // label (old, clustered), else to themselves (new or isolated)
    val ce = pe.filter(col("delta"))
      .join(compb.select(col("node").as("doc_a"), col("comp").as("la")),
        Seq("doc_a"), "left")
      .join(compb.select(col("node").as("doc_b"), col("comp").as("lb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("u"),
        coalesce(col("lb"), col("doc_b")).as("v"))
    val comp2 = p.own(graft.operators.ConnectedComponents
      .components(ce, "u", "v"))
    val incr = newf
      .join(compb.withColumnRenamed("node", "doc_id")
        .withColumnRenamed("comp", "lb"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lb"), col("doc_id")).as("l1"))
      .join(comp2.select(col("node").as("l1"), col("comp").as("l2")),
        Seq("l1"), "left")
      .select(col("doc_id"), coalesce(col("l2"), col("l1")).as("lbl"))
    (newf, pe, ce, incr)
  }

  private def e156IncrementalCc = QueryDef.pinned(
    "e156_incremental_cc",
    s"""WITH RECURSIVE $phashHashDuck,
       |reps AS MATERIALIZED (SELECT min(doc_id) AS doc_id, h FROM ph
       |  GROUP BY h),
       |${phashBandDuck("reps", 8, 8)},
       |pairs AS (SELECT doc_a, doc_b FROM cand
       |  WHERE bit_count(xor(ha, hb)) <= 14),
       |newf AS MATERIALIZED (SELECT doc_id,
       |    (((doc_id % 1000003) * 2654435761) % 1000000007) % 2 = 1
       |      AS is_new
       |  FROM reps),
       |pe AS MATERIALIZED (SELECT p.doc_a, p.doc_b, na.is_new OR nb.is_new AS delta
       |  FROM pairs p
       |  JOIN newf na ON na.doc_id = p.doc_a
       |  JOIN newf nb ON nb.doc_id = p.doc_b),
       |be AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pe WHERE NOT delta
       |       UNION SELECT doc_b, doc_a FROM pe WHERE NOT delta),
       |reachb(node, r) AS (
       |  SELECT u, u FROM be
       |  UNION
       |  SELECT reachb.node, e.v FROM reachb JOIN be e ON e.u = reachb.r),
       |compb AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reachb GROUP BY node),
       |ce AS (SELECT coalesce(ca.lbl, p.doc_a) AS u,
       |    coalesce(cb.lbl, p.doc_b) AS v
       |  FROM pe p
       |  LEFT JOIN compb ca ON ca.node = p.doc_a
       |  LEFT JOIN compb cb ON cb.node = p.doc_b
       |  WHERE p.delta),
       |ce2 AS MATERIALIZED (SELECT u, v FROM ce WHERE u <> v
       |        UNION SELECT v, u FROM ce WHERE u <> v),
       |reach2(node, r) AS (
       |  SELECT u, u FROM ce2
       |  UNION
       |  SELECT reach2.node, e.v FROM reach2 JOIN ce2 e ON e.u = reach2.r),
       |comp2 AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reach2 GROUP BY node),
       |incr AS MATERIALIZED (SELECT n.doc_id,
       |    coalesce(c2.lbl, coalesce(cb.lbl, n.doc_id)) AS lbl
       |  FROM newf n
       |  LEFT JOIN compb cb ON cb.node = n.doc_id
       |  LEFT JOIN comp2 c2 ON c2.node = coalesce(cb.lbl, n.doc_id)),
       |fe AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pe
       |       UNION SELECT doc_b, doc_a FROM pe),
       |reachf(node, r) AS (
       |  SELECT u, u FROM fe
       |  UNION
       |  SELECT reachf.node, e.v FROM reachf JOIN fe e ON e.u = reachf.r),
       |compf AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reachf GROUP BY node),
       |fullc AS MATERIALIZED (SELECT n.doc_id, coalesce(cf.lbl, n.doc_id) AS lbl
       |  FROM newf n LEFT JOIN compf cf ON cf.node = n.doc_id)
       |SELECT CAST((SELECT count(*) FROM newf) AS BIGINT) AS n_nodes,
       |  CAST((SELECT count(*) FROM pe WHERE NOT delta) AS BIGINT)
       |    AS n_edges_base,
       |  CAST((SELECT count(*) FROM pe WHERE delta) AS BIGINT)
       |    AS n_edges_delta,
       |  CAST((SELECT count(DISTINCT node) FROM (
       |    SELECT u AS node FROM ce2 UNION SELECT v FROM ce2))
       |    AS BIGINT) AS n_stage2_nodes,
       |  CAST((SELECT count(DISTINCT lbl) FROM incr) AS BIGINT)
       |    AS n_comp_incr,
       |  CAST((SELECT count(DISTINCT lbl) FROM fullc) AS BIGINT)
       |    AS n_comp_full,
       |  CAST((SELECT count(*) FROM incr i JOIN fullc f
       |    ON f.doc_id = i.doc_id AND f.lbl <> i.lbl) AS BIGINT)
       |    AS n_mismatch""".stripMargin) { (p, s, dir) =>
    // the from-scratch audit CC shares nothing with the incremental
    // chain — run it on a driver thread so its rounds back-fill the
    // base/stage-2 CC legs' idle capacity
    var compfT: () => DataFrame = null
    val (newf, pe, ce, incr) = e156Build(p, s, dir, pe0 => {
      compfT = p.overlap(p.own(graft.operators.ConnectedComponents
        .components(pe0.select("doc_a", "doc_b"), "doc_a", "doc_b")))
    })
    val compf = compfT()
    val full = newf
      .join(compf.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("lbl"))
    val stage2Nodes = ce.select(col("u").as("node"))
      .unionByName(ce.select(col("v").as("node")))
      .distinct().agg(count(lit(1)).as("n_stage2_nodes"))
    val mism = incr.as("i").join(full.as("f"), Seq("doc_id"))
      .filter(col("i.lbl") =!= col("f.lbl"))
      .agg(count(lit(1)).as("n_mismatch"))
    val counts = pe.agg(
      sum(when(!col("delta"), 1L).otherwise(0L)).as("n_edges_base"),
      sum(when(col("delta"), 1L).otherwise(0L)).as("n_edges_delta"))
    newf.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(counts))
      .crossJoin(broadcast(stage2Nodes))
      .crossJoin(broadcast(
        incr.agg(countDistinct(col("lbl")).as("n_comp_incr"))))
      .crossJoin(broadcast(
        full.agg(countDistinct(col("lbl")).as("n_comp_full"))))
      .crossJoin(broadcast(mism))
      .select(col("n_nodes"), col("n_edges_base"), col("n_edges_delta"),
        col("n_stage2_nodes"), col("n_comp_incr"), col("n_comp_full"),
        col("n_mismatch"))
  }.withBuildOnly((p, s, dir) =>
    // production plan: the composed label table — no from-scratch CC,
    // no mismatch audit
    e156Build(p, s, dir)._4)

  // ---- e156b: incremental CC across PERSISTED label generations -----------

  /** e156's maintenance path proven ACROSS STORAGE BOUNDARIES, not just
    * within one plan: the rep universe splits into
    * three deterministic GENERATIONS (multiplicative hash mod 3 — the
    * e138/e156 id-generation stand-in), and the label table is WRITTEN
    * TO PARQUET and READ BACK between folds — twice. Generation-0 edges
    * build the base labels → persisted; generation-1 edges fold onto
    * the READ-BACK labels (contraction → CC → compose) → persisted
    * again; generation-2 edges fold onto THAT read-back table. The
    * lineage is cut at each boundary — the second fold's stage-1 labels
    * are parquet bytes any earlier process could have written, which is
    * exactly the nightly-maintenance contract (yesterday's label table
    * is a file, not a cached plan). `n_mismatch` compares the final
    * composed labels node-by-node against a from-scratch CC over ALL
    * edges and must be 0 — the quotient-contraction argument
    * (components contract to min-id labels; min-composition preserves
    * the min-id canonical) applies inductively per generation, and the
    * audit checks the implementation delivers it through the
    * write/read roundtrips.
    *
    * Scale (100 TB): each fold's stage-2 graph is bounded by ITS
    * generation's edges plus touched labels (never history); the
    * persisted label table joins are label-keyed equi-joins against a
    * table whose size is the node universe, exactly how a production
    * run would join yesterday's labels. The from-scratch leg is the
    * audit ONLY (e156's buildOnly discipline). The oracle unrolls the
    * same three closures plus the full one — four recursive CTEs, all
    * MATERIALIZED (the e156 DuckDB lesson).
    */
  private def e156bIncrementalCcPersist = QueryDef.pinned(
    "e156b_incremental_cc_persist",
    s"""WITH RECURSIVE $phashHashDuck,
       |reps AS MATERIALIZED (SELECT min(doc_id) AS doc_id, h FROM ph
       |  GROUP BY h),
       |${phashBandDuck("reps", 8, 8)},
       |pairs AS (SELECT doc_a, doc_b FROM cand
       |  WHERE bit_count(xor(ha, hb)) <= 14),
       |gens AS MATERIALIZED (SELECT doc_id,
       |    (((doc_id % 1000003) * 2654435761) % 1000000007) % 3 AS g
       |  FROM reps),
       |pe AS MATERIALIZED (SELECT p.doc_a, p.doc_b,
       |    greatest(ga.g, gb.g) AS eg
       |  FROM pairs p
       |  JOIN gens ga ON ga.doc_id = p.doc_a
       |  JOIN gens gb ON gb.doc_id = p.doc_b),
       |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pe
       |    WHERE eg = 0
       |  UNION SELECT doc_b, doc_a FROM pe WHERE eg = 0),
       |reach0(node, r) AS (
       |  SELECT u, u FROM e0
       |  UNION
       |  SELECT reach0.node, e.v FROM reach0 JOIN e0 e
       |    ON e.u = reach0.r),
       |comp0 AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reach0
       |  GROUP BY node),
       |c1e AS (SELECT coalesce(ca.lbl, p.doc_a) AS u,
       |    coalesce(cb.lbl, p.doc_b) AS v
       |  FROM pe p
       |  LEFT JOIN comp0 ca ON ca.node = p.doc_a
       |  LEFT JOIN comp0 cb ON cb.node = p.doc_b
       |  WHERE p.eg = 1),
       |e1 AS MATERIALIZED (SELECT u, v FROM c1e WHERE u <> v
       |  UNION SELECT v, u FROM c1e WHERE u <> v),
       |reach1(node, r) AS (
       |  SELECT u, u FROM e1
       |  UNION
       |  SELECT reach1.node, e.v FROM reach1 JOIN e1 e
       |    ON e.u = reach1.r),
       |comp1 AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reach1
       |  GROUP BY node),
       |l1 AS MATERIALIZED (SELECT b.doc_id, coalesce(c1.lbl, b.l0) AS lbl
       |  FROM (SELECT g.doc_id, coalesce(c0.lbl, g.doc_id) AS l0
       |    FROM gens g LEFT JOIN comp0 c0 ON c0.node = g.doc_id
       |    WHERE g.g <= 1) b
       |  LEFT JOIN comp1 c1 ON c1.node = b.l0),
       |c2e AS (SELECT coalesce(la.lbl, p.doc_a) AS u,
       |    coalesce(lb.lbl, p.doc_b) AS v
       |  FROM pe p
       |  LEFT JOIN l1 la ON la.doc_id = p.doc_a
       |  LEFT JOIN l1 lb ON lb.doc_id = p.doc_b
       |  WHERE p.eg = 2),
       |e2 AS MATERIALIZED (SELECT u, v FROM c2e WHERE u <> v
       |  UNION SELECT v, u FROM c2e WHERE u <> v),
       |reach2(node, r) AS (
       |  SELECT u, u FROM e2
       |  UNION
       |  SELECT reach2.node, e.v FROM reach2 JOIN e2 e
       |    ON e.u = reach2.r),
       |comp2 AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reach2
       |  GROUP BY node),
       |l2 AS MATERIALIZED (SELECT b.doc_id, coalesce(c2.lbl, b.base) AS lbl
       |  FROM (SELECT g.doc_id,
       |      CASE WHEN g.g <= 1 THEN l1.lbl ELSE g.doc_id END AS base
       |    FROM gens g LEFT JOIN l1 ON l1.doc_id = g.doc_id) b
       |  LEFT JOIN comp2 c2 ON c2.node = b.base),
       |fe AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pe
       |  UNION SELECT doc_b, doc_a FROM pe),
       |reachf(node, r) AS (
       |  SELECT u, u FROM fe
       |  UNION
       |  SELECT reachf.node, e.v FROM reachf JOIN fe e
       |    ON e.u = reachf.r),
       |compf AS MATERIALIZED (SELECT node, min(r) AS lbl FROM reachf
       |  GROUP BY node),
       |fullc AS MATERIALIZED (SELECT g.doc_id,
       |    coalesce(cf.lbl, g.doc_id) AS lbl
       |  FROM gens g LEFT JOIN compf cf ON cf.node = g.doc_id)
       |SELECT CAST((SELECT count(*) FROM gens) AS BIGINT) AS n_nodes,
       |  CAST((SELECT count(*) FROM pe WHERE eg = 0) AS BIGINT)
       |    AS n_edges_g0,
       |  CAST((SELECT count(*) FROM pe WHERE eg = 1) AS BIGINT)
       |    AS n_edges_g1,
       |  CAST((SELECT count(*) FROM pe WHERE eg = 2) AS BIGINT)
       |    AS n_edges_g2,
       |  CAST((SELECT count(DISTINCT node) FROM (
       |    SELECT u AS node FROM e1 UNION SELECT v FROM e1))
       |    AS BIGINT) AS n_stage1_nodes,
       |  CAST((SELECT count(DISTINCT node) FROM (
       |    SELECT u AS node FROM e2 UNION SELECT v FROM e2))
       |    AS BIGINT) AS n_stage2_nodes,
       |  CAST((SELECT count(DISTINCT lbl) FROM l2) AS BIGINT)
       |    AS n_comp_incr,
       |  CAST((SELECT count(DISTINCT lbl) FROM fullc) AS BIGINT)
       |    AS n_comp_full,
       |  CAST((SELECT count(*) FROM l2 i JOIN fullc f
       |    ON f.doc_id = i.doc_id AND f.lbl <> i.lbl) AS BIGINT)
       |    AS n_mismatch""".stripMargin) { (p, s, dir) =>
    import graft.operators.ConnectedComponents
    val reps = p.checkpoint(phashHashes(s, dir)
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "h"))
    val gens = p.checkpoint(reps.select(col("doc_id"),
        expr("(((doc_id % 1000003) * 2654435761) % 1000000007) % 3")
          .as("g")))
    val pe = p.checkpoint(phashBandPairs(reps, 8, 8)
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 14)
      .select("doc_a", "doc_b")
      .join(gens.select(col("doc_id").as("doc_a"), col("g").as("ga")),
        "doc_a")
      .join(gens.select(col("doc_id").as("doc_b"), col("g").as("gb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        greatest(col("ga"), col("gb")).as("eg")))
    // the from-scratch audit CC only needs pe — overlap it with the
    // three fold legs (the e156 overlap rule)
    val compfT = p.overlap(p.own(ConnectedComponents
      .components(pe.select("doc_a", "doc_b"), "doc_a", "doc_b")))
    // the storage boundary: labels leave the plan as parquet and come
    // back as a fresh scan — the fold below cannot see their lineage
    val scratch = Scratch.dir(s, "e156b")
    def persistLabels(df: org.apache.spark.sql.DataFrame,
        name: String): org.apache.spark.sql.DataFrame = {
      val path = s"$scratch/$name"
      // the label table is component-grain tiny at these SFs; writing it
      // at the session's 32-partition default sprays 32 sliver files per
      // generation — the exact small-files accumulation Layout.compact
      // exists to undo, here avoided at write time. A fleet deployment
      // whose labels are doc-grain sizes this with Layout's
      // targetBytes-derived file count instead of a constant.
      df.coalesce(1).write.mode("overwrite").parquet(path)
      p.release(df)
      s.read.parquet(path)
    }
    val comp0 = persistLabels(p.own(ConnectedComponents.components(
      pe.filter(col("eg") === 0).select("doc_a", "doc_b"),
      "doc_a", "doc_b")), "labels_g0")
    val c1e = pe.filter(col("eg") === 1)
      .join(comp0.select(col("node").as("doc_a"), col("comp").as("la")),
        Seq("doc_a"), "left")
      .join(comp0.select(col("node").as("doc_b"), col("comp").as("lb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("u"),
        coalesce(col("lb"), col("doc_b")).as("v"))
    val comp1 = p.own(ConnectedComponents.components(c1e, "u", "v"))
    val l1 = persistLabels(gens.filter(col("g") <= 1)
      .join(comp0.select(col("node").as("doc_id"), col("comp").as("c0")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("c0"), col("doc_id")).as("l0"))
      .join(comp1.select(col("node").as("l0"), col("comp").as("c1")),
        Seq("l0"), "left")
      .select(col("doc_id"), coalesce(col("c1"), col("l0")).as("lbl")),
      "labels_g1")
    val c2e = pe.filter(col("eg") === 2)
      .join(l1.select(col("doc_id").as("doc_a"), col("lbl").as("la")),
        Seq("doc_a"), "left")
      .join(l1.select(col("doc_id").as("doc_b"), col("lbl").as("lb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("u"),
        coalesce(col("lb"), col("doc_b")).as("v"))
    val comp2 = p.own(ConnectedComponents.components(c2e, "u", "v"))
    val l2 = gens
      .join(l1.select(col("doc_id"), col("lbl").as("p1")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("g") <= 1, col("p1")).otherwise(col("doc_id"))
          .as("base"))
      .join(comp2.select(col("node").as("base"), col("comp").as("c2")),
        Seq("base"), "left")
      .select(col("doc_id"), coalesce(col("c2"), col("base")).as("lbl"))
    val compf = compfT()
    val full = gens
      .join(compf.withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id"))
        .as("lbl"))
    def stageNodes(edges: org.apache.spark.sql.DataFrame,
        alias: String): org.apache.spark.sql.DataFrame = {
      val live = edges.filter(col("u") =!= col("v"))
      live.select(col("u").as("node"))
        .unionByName(live.select(col("v").as("node")))
        .distinct().agg(count(lit(1)).as(alias))
    }
    val counts = pe.agg(
      sum(when(col("eg") === 0, 1L).otherwise(0L)).as("n_edges_g0"),
      sum(when(col("eg") === 1, 1L).otherwise(0L)).as("n_edges_g1"),
      sum(when(col("eg") === 2, 1L).otherwise(0L)).as("n_edges_g2"))
    val mism = l2.as("i").join(full.as("f"), Seq("doc_id"))
      .filter(col("i.lbl") =!= col("f.lbl"))
      .agg(count(lit(1)).as("n_mismatch"))
    gens.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(counts))
      .crossJoin(broadcast(stageNodes(c1e, "n_stage1_nodes")))
      .crossJoin(broadcast(stageNodes(c2e, "n_stage2_nodes")))
      .crossJoin(broadcast(
        l2.agg(countDistinct(col("lbl")).as("n_comp_incr"))))
      .crossJoin(broadcast(
        full.agg(countDistinct(col("lbl")).as("n_comp_full"))))
      .crossJoin(broadcast(mism))
      .select(col("n_nodes"), col("n_edges_g0"), col("n_edges_g1"),
        col("n_edges_g2"), col("n_stage1_nodes"), col("n_stage2_nodes"),
        col("n_comp_incr"), col("n_comp_full"), col("n_mismatch"))
  }

  // ---- e88: hybrid retrieval with Reciprocal Rank Fusion -------------------

  /** Hybrid retrieval: per query document, a LEXICAL ranking (distinct
    * shared terms with each candidate, the inverted-index side) and a
    * DENSE ranking (embedding cosine, the vector side) are fused with
    * Reciprocal Rank Fusion — score = Σ systems 1e6 div (60 + rank),
    * integer basis so both engines agree exactly. The corpus is the
    * id-aligned document∩embedding universe (at some scales the
    * embedding table covers a prefix of the documents); each system
    * contributes its top-20, the fused top-10 per query is emitted.
    */
  private def e88HybridRrf = {
    def dotDuck(a: String, b: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, 65),
         |      i -> CAST($a.embedding[i] AS DOUBLE)
         |         * CAST($b.embedding[i] AS DOUBLE))),
         |    (s, v) -> s + v)""".stripMargin
    QueryDef.sql(
      "e88_hybrid_rrf",
      s"""WITH u AS (SELECT d.doc_id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |q AS (SELECT * FROM u WHERE doc_id % 50 = 0),
         |dsc AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
         |    round(${dotDuck("q", "c")} /
         |      (sqrt(${dotDuck("q", "q")}) * sqrt(${dotDuck("c", "c")})),
         |      4) + 0 AS cosine
         |  FROM q JOIN u c ON c.doc_id <> q.doc_id),
         |dr AS (SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
         |  FROM dsc QUALIFY rnk <= 20),
         |t AS (SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(${Portable.wordsDuck}) AS term
         |    FROM u) z),
         |ov AS (SELECT qt.doc_id AS query_id, ct.doc_id AS cand_id,
         |    count(*) AS overlap
         |  FROM t qt JOIN t ct
         |    ON qt.term = ct.term AND ct.doc_id <> qt.doc_id
         |  WHERE qt.doc_id % 50 = 0 GROUP BY 1, 2),
         |sr AS (SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY overlap DESC, cand_id) AS rnk
         |  FROM ov QUALIFY rnk <= 20),
         |un AS (SELECT query_id, cand_id, rnk AS dn, NULL AS sn FROM dr
         |  UNION ALL
         |  SELECT query_id, cand_id, NULL, rnk FROM sr),
         |f AS (SELECT query_id, cand_id,
         |    CAST(coalesce(max(dn), 0) AS BIGINT) AS d_rank,
         |    CAST(coalesce(max(sn), 0) AS BIGINT) AS s_rank,
         |    CAST(coalesce(max(1000000 // (60 + dn)), 0)
         |       + coalesce(max(1000000 // (60 + sn)), 0) AS BIGINT)
         |      AS rrf_score
         |  FROM un GROUP BY 1, 2)
         |SELECT query_id, cand_id, d_rank, s_rank, rrf_score FROM f
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_score DESC, cand_id) <= 10
         |ORDER BY query_id, rrf_score DESC, cand_id""".stripMargin) {
      (s, dir) =>
        val u = Tables.documents(s, dir).join(
          Tables.embeddings(s, dir),
          col("vec_id") === col("doc_id"))
        val byQuery = Window.partitionBy(col("query_id"))
        // dense: query side is driver-bounded (id % 50) → broadcast
        val q = u.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"),
            col("embedding").cast("array<double>").as("qe"))
        val c = u.select(col("doc_id").as("cand_id"),
          col("embedding").cast("array<double>").as("ce"))
        val cosine = round(F.array_dot(col("qe"), col("ce")) /
          (sqrt(F.array_dot(col("qe"), col("qe"))) *
            sqrt(F.array_dot(col("ce"), col("ce")))), 4) + lit(0)
        val dr = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
          .select(col("query_id"), col("cand_id"), cosine.as("cosine"))
          .withColumn("rnk", row_number().over(
            byQuery.orderBy(col("cosine").desc, col("cand_id"))))
          .filter(col("rnk") <= 20)
        // sparse: distinct-term overlap through a broadcast postings join
        val terms = u.select(col("doc_id"),
          explode(array_distinct(expr(Portable.wordsSpark))).as("term"))
        val qt = terms.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"), col("term"))
        val sr = terms.select(col("doc_id").as("cand_id"), col("term"))
          .join(broadcast(qt), "term")
          .filter(col("cand_id") =!= col("query_id"))
          .groupBy("query_id", "cand_id").agg(count(lit(1)).as("overlap"))
          .withColumn("rnk", row_number().over(
            byQuery.orderBy(col("overlap").desc, col("cand_id"))))
          .filter(col("rnk") <= 20)
        val un = dr.select(col("query_id"), col("cand_id"),
            col("rnk").as("dn"), lit(null).cast("int").as("sn"))
          .unionByName(sr.select(col("query_id"), col("cand_id"),
            lit(null).cast("int").as("dn"), col("rnk").as("sn")))
        un.groupBy("query_id", "cand_id")
          .agg(coalesce(max(col("dn")), lit(0)).cast("long").as("d_rank"),
            coalesce(max(col("sn")), lit(0)).cast("long").as("s_rank"),
            (coalesce(max(expr("1000000 div (60 + dn)")), lit(0L)) +
              coalesce(max(expr("1000000 div (60 + sn)")), lit(0L)))
              .cast("long").as("rrf_score"))
          .withColumn("rnk", row_number().over(
            byQuery.orderBy(col("rrf_score").desc, col("cand_id"))))
          .filter(col("rnk") <= 10).drop("rnk")
          .orderBy(col("query_id"), col("rrf_score").desc, col("cand_id"))
    }
  }

  // ---- e88b: hybrid retrieval through INDEX structures ---------------------

  /** e88's production path (the lever its SCALING row names): the dense
    * leg probes an IVF cell instead of scanning the corpus (e17's
    * deterministic-codebook assignment — each query ranks only its own
    * inverted list), and the lexical leg runs through df-pruned SHINGLE
    * postings (3-word-gram overlap, df ≤ 100 — e2's candidate
    * discipline: a stopword-ish gram never builds a corpus-sized
    * posting list). Fusion is e88's integer RRF verbatim. Results are
    * the INDEXED approximation of e88's exact fusion — registered with
    * its own oracle because at 100 TB this, not the exact form, is the
    * query you actually run: per-query work is one cell + the query's
    * gram postings, independent of corpus size.
    */
  private def e88bHybridIndexed = {
    val dfCap = 100
    QueryDef.sql(
      "e88b_hybrid_indexed",
      s"""WITH u AS (SELECT d.doc_id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |b AS (SELECT doc_id, text, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm FROM u),
         |cent AS (SELECT doc_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM b WHERE doc_id % 67 = 3),
         |sc AS (SELECT b.doc_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM b CROSS JOIN cent c),
         |best AS (SELECT doc_id, max(cs) AS mc FROM sc GROUP BY doc_id),
         |asg AS (SELECT sc.doc_id, min(cid) AS list_id
         |  FROM sc JOIN best USING (doc_id) WHERE cs = mc
         |  GROUP BY sc.doc_id),
         |v AS (SELECT b.doc_id, b.embedding, b.nrm, list_id
         |  FROM b JOIN asg USING (doc_id)),
         |dsc AS (SELECT a.doc_id AS query_id, c.doc_id AS cand_id,
         |    round(${dotCols("a.embedding", "c.embedding")} /
         |      (a.nrm * c.nrm), 4) + 0 AS cosine
         |  FROM v a JOIN v c ON a.doc_id % 50 = 0
         |    AND a.list_id = c.list_id AND c.doc_id <> a.doc_id),
         |dr AS (SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
         |  FROM dsc QUALIFY rnk <= 20),
         |w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh FROM u),
         |t AS (SELECT doc_id, unnest($shinglesOf) AS term
         |  FROM w WHERE len(wh) >= 3),
         |dft AS (SELECT term FROM t GROUP BY term
         |  HAVING count(*) <= $dfCap),
         |tp AS (SELECT t.doc_id, t.term FROM t JOIN dft USING (term)),
         |ov AS (SELECT qt.doc_id AS query_id, ct.doc_id AS cand_id,
         |    count(*) AS overlap
         |  FROM tp qt JOIN tp ct
         |    ON qt.term = ct.term AND ct.doc_id <> qt.doc_id
         |  WHERE qt.doc_id % 50 = 0 GROUP BY 1, 2),
         |sr AS (SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY overlap DESC, cand_id) AS rnk
         |  FROM ov QUALIFY rnk <= 20),
         |un AS (SELECT query_id, cand_id, rnk AS dn, NULL AS sn FROM dr
         |  UNION ALL
         |  SELECT query_id, cand_id, NULL, rnk FROM sr),
         |f AS (SELECT query_id, cand_id,
         |    CAST(coalesce(max(dn), 0) AS BIGINT) AS d_rank,
         |    CAST(coalesce(max(sn), 0) AS BIGINT) AS s_rank,
         |    CAST(coalesce(max(1000000 // (60 + dn)), 0)
         |       + coalesce(max(1000000 // (60 + sn)), 0) AS BIGINT)
         |      AS rrf_score
         |  FROM un GROUP BY 1, 2)
         |SELECT query_id, cand_id, d_rank, s_rank, rrf_score FROM f
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_score DESC, cand_id) <= 10
         |ORDER BY query_id, rrf_score DESC, cand_id""".stripMargin) {
      (s, dir) =>
        val u = Tables.documents(s, dir).join(
          Tables.embeddings(s, dir),
          col("vec_id") === col("doc_id"))
        val byQuery = Window.partitionBy(col("query_id"))
        // dense leg: e17's codebook assignment, then in-cell ranking
        val b = u.select(col("doc_id"), col("text"),
            col("embedding").cast("array<double>").as("emb"))
          .withColumn("nrm", sqrt(F.array_dot(col("emb"), col("emb"))))
          .filter(col("doc_id").isNotNull)
        val cent = b.filter(col("doc_id") % 67 === 3)
          .select(col("doc_id").as("cid"), col("emb").as("cemb"),
            col("nrm").as("cnrm"))
        val asg = b.crossJoin(broadcast(cent))
          .select(col("doc_id"),
            (F.array_dot(col("emb"), col("cemb")) /
              (col("nrm") * col("cnrm"))).as("cs"), col("cid"))
          .groupBy("doc_id")
          .agg(max(struct(col("cs"), (-col("cid")).as("nc"))).as("m"))
          .select(col("doc_id"), (-col("m.nc")).as("list_id"))
        val v = b.join(asg, "doc_id").repartition(col("list_id"))
        val dr = v.as("a").filter(col("a.doc_id") % 50 === 0)
          .join(v.as("c"),
            col("a.list_id") === col("c.list_id") &&
              col("c.doc_id") =!= col("a.doc_id"))
          .select(col("a.doc_id").as("query_id"),
            col("c.doc_id").as("cand_id"),
            (round(F.array_dot(col("a.emb"), col("c.emb")) /
              (col("a.nrm") * col("c.nrm")), 4) + lit(0)).as("cosine"))
          .withColumn("rnk", row_number().over(
            byQuery.orderBy(col("cosine").desc, col("cand_id"))))
          .filter(col("rnk") <= 20)
        // lexical leg: df-pruned shingle postings (e2's discipline)
        val t = u.select(col("doc_id"),
          explode(F.shingle_hashes(col("text"))).as("term"))
        val dft = t.groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select("term")
        val tp = t.join(dft, "term")
        val qt = tp.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("query_id"), col("term"))
        val sr = tp.select(col("doc_id").as("cand_id"), col("term"))
          .join(broadcast(qt), "term")
          .filter(col("cand_id") =!= col("query_id"))
          .groupBy("query_id", "cand_id").agg(count(lit(1)).as("overlap"))
          .withColumn("rnk", row_number().over(
            byQuery.orderBy(col("overlap").desc, col("cand_id"))))
          .filter(col("rnk") <= 20)
        // fusion: e88's integer RRF verbatim
        val un = dr.select(col("query_id"), col("cand_id"),
            col("rnk").as("dn"), lit(null).cast("int").as("sn"))
          .unionByName(sr.select(col("query_id"), col("cand_id"),
            lit(null).cast("int").as("dn"), col("rnk").as("sn")))
        un.groupBy("query_id", "cand_id")
          .agg(coalesce(max(col("dn")), lit(0)).cast("long").as("d_rank"),
            coalesce(max(col("sn")), lit(0)).cast("long").as("s_rank"),
            (coalesce(max(expr("1000000 div (60 + dn)")), lit(0L)) +
              coalesce(max(expr("1000000 div (60 + sn)")), lit(0L)))
              .cast("long").as("rrf_score"))
          .withColumn("rnk", row_number().over(
            byQuery.orderBy(col("rrf_score").desc, col("cand_id"))))
          .filter(col("rnk") <= 10).drop("rnk")
          .orderBy(col("query_id"), col("rrf_score").desc, col("cand_id"))
    }
  }

  /** DuckDB twin of [[graft.functions.TextHash.shingleHashes]] over the
    * `wh` word-hash list (distinct 3-gram re-hashes).
    */
  private def shinglesOf: String = Portable.shinglesDuck

  // ---- e89: priority sampling (weighted k w/o replacement) -----------------

  /** Priority sampling (Duffield–Lund–Thorup, JACM'07): a weighted
    * k-sample without replacement with an unbiased subset-sum
    * estimator. Priority q_i = w_i / u_i with u_i a seeded uniform;
    * take the top k priorities, and estimate each kept item's weight as
    * max(w_i, τ) with τ the (k+1)-th priority. All arithmetic is
    * integer: u_i = (draw+1)/P as a rational, so
    * q_i = w_i·P·1000 div (draw+1) in milli-units, and the estimator
    * column is exact in both engines. Weights are n_chars — i.e. sample
    * documents proportional to length, the token-budget-aware sampling
    * a data-mixture stage runs.
    */
  private def e89PrioritySample = {
    val k = 50
    val seed = 7L
    val drawDuck = MockData.hashLongDuck(seed, "prio", "doc_id")
    QueryDef.sql(
      "e89_priority_sample",
      s"""WITH d AS (SELECT doc_id, n_chars, $drawDuck AS draw
         |  FROM documents),
         |p AS (SELECT doc_id, n_chars,
         |    (n_chars * ${Portable.P} * 1000) // (draw + 1) AS priority
         |  FROM d),
         |t AS (SELECT CASE WHEN count(*) >= ${k + 1} THEN min(priority)
         |      ELSE 0 END AS tau
         |  FROM (SELECT priority FROM p
         |    ORDER BY priority DESC, doc_id LIMIT ${k + 1}) z)
         |SELECT doc_id, n_chars AS weight, priority,
         |  greatest(n_chars * 1000, tau) AS w_est_milli
         |FROM p CROSS JOIN t
         |ORDER BY priority DESC, doc_id LIMIT $k""".stripMargin) { (s, dir) =>
      val p = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          MockData.hashLong(seed, "prio", col("doc_id")).as("draw"))
        .select(col("doc_id"), col("n_chars"),
          expr(s"n_chars * ${Portable.P}L * 1000 div (draw + 1)")
            .as("priority"))
      // τ = the (k+1)-th priority (0 when the corpus has ≤ k rows):
      // a map-side TakeOrdered of k+1 rows, reduced to one broadcast row
      val tau = p.orderBy(col("priority").desc, col("doc_id"))
        .limit(k + 1)
        .agg(when(count(lit(1)) >= k + 1, min(col("priority")))
          .otherwise(0L).as("tau"))
      p.orderBy(col("priority").desc, col("doc_id")).limit(k)
        .crossJoin(broadcast(tau))
        .select(col("doc_id"), col("n_chars").as("weight"), col("priority"),
          greatest(col("n_chars") * 1000, col("tau")).as("w_est_milli"))
        .orderBy(col("priority").desc, col("doc_id"))
    }
  }

  // ---- e95: stratified priority sampling -----------------------------------

  /** STRATIFIED priority sampling — e89's group-wise form (the lever
    * its SCALING row names): an independent Duffield–Lund–Thorup
    * k-sample per language stratum, with each stratum's own threshold
    * τ_g = its (k+1)-th priority. This is the per-language sampling
    * budget a balanced eval/calibration set is drawn with: proportional
    * to length WITHIN a language, fixed count ACROSS languages, and
    * every kept row carries the unbiased max(w, τ_g) estimate.
    *
    * Shape at 100 TB: the per-group top-(k+1) runs as a partial-mode
    * WindowGroupLimit (map-side group heads before one exchange — no
    * corpus sort, no per-group TakeOrdered loop), and τ_g falls out of
    * the SAME window (the rank-(k+1) row) rather than a second pass:
    * one window, one #langs·(k+1)-row frame, done.
    */
  private def e95StratifiedPriority = {
    val k = 10
    val seed = 7L
    val drawDuck = MockData.hashLongDuck(seed, "prio", "doc_id")
    QueryDef.sql(
      "e95_stratified_priority",
      s"""WITH p AS (SELECT doc_id, lang, n_chars,
         |    (n_chars * ${Portable.P} * 1000) // ($drawDuck + 1)
         |      AS priority
         |  FROM documents),
         |r AS (SELECT doc_id, lang, n_chars, priority,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY priority DESC, doc_id) AS rk
         |  FROM p QUALIFY rk <= ${k + 1}),
         |t AS (SELECT lang, max(CASE WHEN rk = ${k + 1} THEN priority
         |    ELSE 0 END) AS tau
         |  FROM r GROUP BY lang)
         |SELECT doc_id, r.lang, n_chars AS weight, priority,
         |  greatest(n_chars * 1000, tau) AS w_est_milli
         |FROM r JOIN t ON r.lang = t.lang WHERE rk <= $k
         |ORDER BY r.lang, priority DESC, doc_id""".stripMargin) { (s, dir) =>
      val p = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          MockData.hashLong(seed, "prio", col("doc_id")).as("draw"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr(s"n_chars * ${Portable.P}L * 1000 div (draw + 1)")
            .as("priority"))
      val byLang = Window.partitionBy(col("lang"))
        .orderBy(col("priority").desc, col("doc_id"))
      // ONE window: ranks ≤ k are the sample, rank k+1 is the stratum's
      // threshold — recovered with a bounded per-lang aggregate over the
      // (k+1)-row heads instead of a second corpus pass
      val heads = p.withColumn("rk", row_number().over(byLang))
        .filter(col("rk") <= k + 1)
      val tau = heads.groupBy("lang")
        .agg(max(when(col("rk") === k + 1, col("priority")).otherwise(0L))
          .as("tau"))
      heads.filter(col("rk") <= k)
        .join(broadcast(tau), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars").as("weight"),
          col("priority"),
          greatest(col("n_chars") * 1000, col("tau")).as("w_est_milli"))
        .orderBy(col("lang"), col("priority").desc, col("doc_id"))
    }
  }

  // ---- e90: hashed linear classifier inference -----------------------------

  /** Hashed-feature linear classifier inference — the fasttext-shaped
    * quality-filter pass: every token hashes into one of 4096 buckets,
    * each bucket carries a deterministic weight in [0, 2000] (neutral
    * 1000; a trained model would broadcast its weight array — here the
    * weights are a hash formula so the oracle can replay them), and a
    * document's score is the sum over token OCCURRENCES. Emits the raw
    * sum, the per-token mean (milli-units), and the keep decision
    * (mean above neutral). The entire pass is one projection over the
    * corpus — aggregate() over the word-hash array — with ZERO
    * shuffles: the 100 TB form is embarrassingly parallel.
    */
  private def e90HashedClassifier = QueryDef.sql(
    "e90_hashed_classifier",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sc AS (SELECT doc_id, len(wh) AS n_terms,
       |    list_sum(list_transform(wh,
       |      h -> ((h % 4096) * 2654435761) % 2147483647 % 2001))
       |      AS raw_score
       |  FROM w WHERE len(wh) > 0)
       |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       |  CAST(raw_score AS BIGINT) AS raw_score,
       |  CAST(raw_score * 1000 // n_terms AS BIGINT) AS mean_milli,
       |  CAST(CASE WHEN raw_score > 1000 * n_terms THEN 1 ELSE 0 END
       |    AS BIGINT) AS kept
       |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), F.word_hashes(col("text")).as("wh"))
      .filter(size(col("wh")) > 0)
      .select(col("doc_id"), size(col("wh")).cast("long").as("n_terms"),
        expr("aggregate(wh, 0L, (acc, h) -> acc +" +
          " ((h % 4096) * 2654435761L) % 2147483647L % 2001L)")
          .as("raw_score"))
      .select(col("doc_id"), col("n_terms"), col("raw_score"),
        expr("raw_score * 1000 div n_terms").as("mean_milli"),
        (col("raw_score") > col("n_terms") * 1000).cast("long").as("kept"))
  }

  // ---- e91: incremental IVF-index maintenance (upsert) ---------------------

  /** IVF-index UPSERT: a delta batch (vec_id % 10 = 7 — the arriving
    * vectors) assigns against the FROZEN codebook trained on the base
    * corpus (e17's deterministic sample rule over base rows), and the
    * index's per-cell stats merge old + new counts with a growth report
    * — the maintenance pass a production vector index runs between full
    * retrains, where the growth_bp column is the re-split/retrain
    * trigger. Cells a delta never touches keep n_delta = 0; a cell with
    * no base members reports growth −1 (fresh cell).
    *
    * Shape at 100 TB: in production the base cell counts are PERSISTED
    * index state (the q40 incremental-agg discipline), so the upsert
    * scans ONLY the delta — codebook broadcast, argmax as one
    * struct-max aggregation, cell-keyed merge of K rows. The registered
    * twin recomputes both sides (the oracle needs the full report) but
    * still in ONE corpus pass: the base/delta flag rides the argmax
    * into a conditional count split, so there is a single scan, a
    * single broadcast pairing, and two bounded aggregations.
    */
  private def e91IvfUpsert = {
    def assignDuck(src: String, tag: String): String =
      s"""s$tag AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM $src b CROSS JOIN cent c),
         |m$tag AS (SELECT vec_id, max(cs) AS mc FROM s$tag GROUP BY vec_id),
         |a$tag AS (SELECT s$tag.vec_id, min(cid) AS list_id
         |  FROM s$tag JOIN m$tag USING (vec_id) WHERE cs = mc
         |  GROUP BY s$tag.vec_id),
         |n$tag AS (SELECT list_id, count(*) AS n FROM a$tag
         |  GROUP BY list_id)""".stripMargin
    QueryDef.sql(
      "e91_ivf_upsert",
      s"""WITH all0 AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |b0 AS (SELECT * FROM all0 WHERE vec_id % 10 <> 7),
         |d0 AS (SELECT * FROM all0 WHERE vec_id % 10 = 7),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM b0 WHERE vec_id % 67 = 3),
         |${assignDuck("b0", "b")},
         |${assignDuck("d0", "d")}
         |SELECT cid, CAST(coalesce(nb.n, 0) AS BIGINT) AS n_base,
         |  CAST(coalesce(nd.n, 0) AS BIGINT) AS n_delta,
         |  CAST(CASE WHEN coalesce(nb.n, 0) > 0
         |    THEN coalesce(nd.n, 0) * 10000 // nb.n ELSE -1 END AS BIGINT)
         |    AS growth_bp
         |FROM cent LEFT JOIN nb ON cid = nb.list_id
         |LEFT JOIN nd ON cid = nd.list_id
         |ORDER BY cid""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("emb"))
        .withColumn("nrm", sqrt(F.array_dot(col("emb"), col("emb"))))
        .filter(col("vec_id").isNotNull)
      val cent = emb
        .filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 67 === 3)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"),
          col("nrm").as("cnrm"))
      // ONE corpus scan assigns base AND delta (is_delta rides the
      // argmax through to a conditional count split) — the oracle keeps
      // the two-branch formulation; results agree because the assign
      // rule is identical on both sides of the flag.
      // e17's argmax idiom: one struct-max aggregation, min-cid tiebreak
      val counts = emb
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          (col("vec_id") % 10 === 7).as("is_delta"),
          (F.array_dot(col("emb"), col("cemb")) /
            (col("nrm") * col("cnrm"))).as("cs"))
        .groupBy("vec_id")
        .agg(max(struct(col("cs"), (-col("cid")).as("nc"))).as("m"),
          // is_delta is functionally dependent on the grouping key
          max(col("is_delta")).as("is_delta"))
        .select((-col("m.nc")).as("list_id"), col("is_delta"))
        .groupBy("list_id")
        .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("nb"),
          sum(when(col("is_delta"), 1L).otherwise(0L)).as("nd"))
      cent.select(col("cid"))
        .join(counts, col("cid") === counts("list_id"), "left")
        .drop("list_id")
        .select(col("cid"),
          coalesce(col("nb"), lit(0L)).as("n_base"),
          coalesce(col("nd"), lit(0L)).as("n_delta"),
          when(coalesce(col("nb"), lit(0L)) > 0,
            expr("coalesce(nd, 0L) * 10000 div nb"))
            .otherwise(-1L).cast("long").as("growth_bp"))
        .orderBy("cid")
    }
  }

  // ---- e93: int8-quantized ANN with recall audit ---------------------------

  /** INT8 retrieval ablation — the serving-stack question after e26
    * quantizes storage: search in the quantized domain (integer dot of
    * per-vector symmetric int8 codes, corrected by the two stored
    * scales) and report per query how many of the float-cosine top-10
    * the int8 top-10 retains. Vectors are L2-NORMALIZED before
    * quantization (the production int8-IP scheme: cosine becomes inner
    * product, and the scale correction `qdot·scale_a·scale_b` is one
    * multiply per candidate); the quantization rule is e26's
    * (scale = max|u|/127, round-half-up).
    *
    * Shape at 100 TB: identical to e5's guarded pairing (query slice
    * broadcast, per-query WindowGroupLimit top-k) — the point is the
    * SCORE arithmetic: the candidate-side work is an integer
    * multiply-add loop over int8 codes, the form SIMD executes 4–8×
    * wider than float32, with recall_bp the evidence the speedup is
    * affordable. Both rankings compute in the ONE pairing pass (the
    * e81 discipline — no second corpus scan for the truth side).
    */
  private def e93AnnInt8 = {
    val k = 10
    QueryDef.sql(
      "e93_ann_int8",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM b WHERE nrm > 0),
         |sc AS (SELECT vec_id, uv,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(uv, x -> abs(x))), (a, x) -> greatest(a, x))
         |      / 127 AS scale
         |  FROM u),
         |q8 AS (SELECT vec_id, uv, scale,
         |    list_transform(range(1, 65),
         |      i -> CAST(floor(uv[i] / scale + 0.5) AS BIGINT)) AS qv
         |  FROM sc WHERE scale > 0),
         |pr AS (SELECT a.vec_id AS query_id, c.vec_id AS cand_id,
         |    round(${dotCols("a.uv", "c.uv")}, 4) + 0 AS cosine,
         |    round((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 65), i -> a.qv[i] * c.qv[i])),
         |        (s, x) -> s + x) * a.scale) * c.scale, 4) + 0 AS qscore
         |  FROM q8 a JOIN q8 c
         |    ON a.vec_id % 50 = 0 AND c.vec_id <> a.vec_id),
         |ft AS (SELECT query_id, cand_id FROM pr
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, cand_id) <= $k),
         |qt AS (SELECT query_id, cand_id FROM pr
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY qscore DESC, cand_id) <= $k)
         |SELECT ft.query_id, count(qt.cand_id) AS n_hits,
         |  CAST(count(qt.cand_id) * 10000 // $k AS BIGINT) AS recall_bp
         |FROM ft LEFT JOIN qt USING (query_id, cand_id)
         |GROUP BY ft.query_id ORDER BY query_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("v"))
        .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
        .filter(col("nrm") > 0)
        .withColumn("uv", transform(col("v"), x => x / col("nrm")))
        .withColumn("scale",
          array_max(transform(col("uv"), x => abs(x))) / 127)
        .filter(col("scale") > 0)
        .withColumn("qv",
          transform(col("uv"), x => floor(x / col("scale") + 0.5)
            .cast("long")))
        .select(col("vec_id"), col("uv"), col("scale"), col("qv"))
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("uv").as("qu"),
          col("scale").as("qs"), col("qv").as("qq"))
      val pr = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          (round(F.array_dot(col("qu"), col("uv")), 4) + lit(0))
            .as("cosine"),
          (round(
            aggregate(zip_with(col("qq"), col("qv"), (a, b) => a * b),
              lit(0L), (s0, x) => s0 + x).cast("double")
              * col("qs") * col("scale"), 4) + lit(0)).as("qscore"))
      val byQuery = Window.partitionBy(col("query_id"))
      val ft = pr
        .withColumn("r", row_number().over(
          byQuery.orderBy(col("cosine").desc, col("cand_id"))))
        .filter(col("r") <= k).select("query_id", "cand_id")
      val qt = pr
        .withColumn("r", row_number().over(
          byQuery.orderBy(col("qscore").desc, col("cand_id"))))
        .filter(col("r") <= k).select("query_id", "cand_id")
      // left join, not semi: a query whose int8 top-k misses ALL truth
      // rows must still report n_hits = 0 (the oracle's LEFT JOIN count)
      ft.join(qt.withColumn("hit", lit(1)),
          Seq("query_id", "cand_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr(s"n_hits * 10000 div $k").as("recall_bp"))
        .orderBy("query_id")
    }
  }

  // ---- e94: per-source data card -------------------------------------------

  /** DATA CARD — the per-source datasheet a shipped corpus carries
    * (Gebru et al., "Datasheets for Datasets"): document and token
    * volume, language spread, exact-duplicate rate (PAIRED poly-hash
    * digest multiplicity — two coprime-base folds combined as
    * fp31·P + fp37, a ~2⁻⁶⁰ collision budget where one mod-P fold's
    * ~2⁻³⁰ would report phantom duplicates at 10⁹-doc sources), and
    * length extremes, one row per source. The integer columns make
    * the card reproducible by any engine.
    *
    * Shape at 100 TB: one corpus scan into a (source, digest) partial
    * aggregate (digest is fixed-width — the e1 discipline: text never
    * shuffles), then a #sources-row rollup. Every statistic is
    * algebraic (sum/count/min/max), so the whole card is two map-side
    * combined aggregations — no window, no join, no second scan.
    */
  private def e94DataCard = QueryDef.sql(
    "e94_data_card",
    s"""WITH d0 AS (SELECT source, lang, n_chars,
       |    len(${Portable.wordsDuck}) AS n_tok,
       |    ${Portable.textFingerprintDuck} AS fp1,
       |    ${Portable.textFingerprint2Duck} AS fp2
       |  FROM documents),
       |d AS (SELECT source, lang, n_chars, n_tok,
       |    fp1 * ${Portable.P} + fp2 AS fp FROM d0),
       |g AS (SELECT source, lang, fp, count(*) AS n, sum(n_tok) AS toks,
       |    sum(n_chars) AS chars, min(n_chars) AS mn, max(n_chars) AS mx
       |  FROM d GROUP BY source, lang, fp)
       |SELECT source,
       |  CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(toks) * 1000 // sum(n) AS BIGINT) AS toks_per_doc_milli,
       |  CAST((sum(n) - count(DISTINCT fp)) * 10000 // sum(n) AS BIGINT)
       |    AS dup_bp,
       |  CAST(min(mn) AS BIGINT) AS min_chars,
       |  CAST(max(mx) AS BIGINT) AS max_chars
       |FROM g GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(expr(Portable.wordsSpark)).cast("long").as("n_tok"),
        (F.poly_hash(col("text")) * Portable.P +
          F.poly_hash(col("text"), 37L, Portable.P)).as("fp"))
      .groupBy("source", "lang", "fp")
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("toks"),
        sum(col("n_chars")).as("chars"),
        min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
      .groupBy("source")
      .agg(sum(col("n")).cast("long").as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("toks")).cast("long").as("n_tokens"),
        expr("sum(toks) * 1000 div sum(n)").as("toks_per_doc_milli"),
        expr("(sum(n) - count(DISTINCT fp)) * 10000 div sum(n)")
          .as("dup_bp"),
        min(col("mn")).as("min_chars"), max(col("mx")).as("max_chars"))
      .orderBy("source")
  }

  // ---- e92: shard-manifest diff under append-only growth -------------------

  /** Manifest DIFF: e73's shard manifest computed for the BASE corpus
    * (first 80 % of doc_ids — the e77 split) and for the full corpus,
    * full-outer-joined on shard_id with per-shard status. Append-only
    * growth leaves every shipped shard's (docs, tokens, checksum)
    * byte-identical except the boundary shard the delta starts filling
    * — this is e77's stability argument emitted as the operational
    * artifact: the delivery system re-ships exactly the `changed` +
    * `new` rows. Order-insensitive checksums (the PAIR of
    * independent mod-P fingerprint sums packed as ck31·P + ck37 —
    * ~2⁻⁶⁰ masking budget, so a corrupted doc cannot plausibly hide
    * behind an 'unchanged' status) make the compare content-based,
    * not layout-based.
    *
    * Shape at 100 TB: two scale-safe prefix-sum runs
    * ([[graft.operators.Indexing.withRunningTotal]] — per-partition
    * offsets, no global window) + one shard-keyed (#shards-row) join.
    */
  private def e92ManifestDiff = {
    val budget = 2000L
    def manifestDuck(src: String, tag: String): String =
      s"""c$tag AS (SELECT doc_id, n_tok, fp1, fp2,
         |    COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cb
         |  FROM $src),
         |m$tag AS (SELECT CAST(cb // $budget AS BIGINT) AS shard_id,
         |    count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST((sum(fp1) % ${Portable.P}) * ${Portable.P}
         |      + (sum(fp2) % ${Portable.P}) AS BIGINT) AS checksum
         |  FROM c$tag GROUP BY 1)""".stripMargin
    QueryDef.sql(
      "e92_manifest_diff",
      s"""WITH w AS (SELECT doc_id,
         |    len(${Portable.wordsDuck}) AS n_tok,
         |    ${Portable.textFingerprintDuck} AS fp1,
         |    ${Portable.textFingerprint2Duck} AS fp2
         |  FROM documents),
         |n AS (SELECT count(*) AS n FROM w),
         |b AS (SELECT w.* FROM w CROSS JOIN n WHERE doc_id * 5 < 4 * n),
         |${manifestDuck("b", "b")},
         |${manifestDuck("w", "f")}
         |SELECT coalesce(mf.shard_id, mb.shard_id) AS shard_id,
         |  CASE WHEN mb.shard_id IS NULL THEN 'new'
         |       WHEN mb.n_docs = mf.n_docs AND mb.n_tokens = mf.n_tokens
         |            AND mb.checksum = mf.checksum THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  CAST(coalesce(mb.n_docs, 0) AS BIGINT) AS base_docs,
         |  CAST(coalesce(mf.n_docs, 0) AS BIGINT) AS full_docs,
         |  CAST(coalesce(mb.checksum, -1) AS BIGINT) AS base_checksum,
         |  CAST(coalesce(mf.checksum, -1) AS BIGINT) AS full_checksum
         |FROM mb FULL OUTER JOIN mf ON mb.shard_id = mf.shard_id
         |ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"),
          F.poly_hash(col("text")).as("fp1"),
          F.poly_hash(col("text"), 37L, Portable.P).as("fp2"))
      // split threshold as a driver scalar (the e33/e77 discipline)
      val n = toks.count()
      def manifest(frame: org.apache.spark.sql.DataFrame, tag: String) =
        graft.operators.Indexing
          .withRunningTotal(frame, col("doc_id"), col("n_tok"), "cb")
          .groupBy(expr(s"cb div ${budget}L").as(s"shard_$tag"))
          .agg(count(lit(1)).as(s"docs_$tag"),
            sum(col("n_tok")).as(s"toks_$tag"),
            expr(s"(sum(fp1) % ${Portable.P}L) * ${Portable.P}L" +
              s" + (sum(fp2) % ${Portable.P}L)").as(s"ck_$tag"))
      val mb = manifest(toks.filter(col("doc_id") * 5 < 4 * n), "b")
      val mf = manifest(toks, "f")
      mb.join(mf, col("shard_b") === col("shard_f"), "full_outer")
        .select(coalesce(col("shard_f"), col("shard_b")).as("shard_id"),
          when(col("shard_b").isNull, "new")
            .when(col("docs_b") === col("docs_f") &&
              col("toks_b") === col("toks_f") &&
              col("ck_b") === col("ck_f"), "unchanged")
            .otherwise("changed").as("status"),
          coalesce(col("docs_b"), lit(0L)).as("base_docs"),
          coalesce(col("docs_f"), lit(0L)).as("full_docs"),
          coalesce(col("ck_b"), lit(-1L)).as("base_checksum"),
          coalesce(col("ck_f"), lit(-1L)).as("full_checksum"))
        .orderBy("shard_id")
    }
  }

  // ---- e96: quality-filter ablation matrix --------------------------------

  /** Filter-ablation matrix: for every pair of quality filters, how much
    * of each filter's rejection set the other already covers — the
    * analysis a curation team runs before adding a filter to the stack
    * (a filter whose rejections are a subset of an existing one buys
    * nothing but compute). Four filters over e14's per-document signals
    * plus a minimum-length gate: `len5` (>= 5 words), `punct20`
    * (punctuation ratio <= 0.2), `short200` (>= 200 chars), `stop1`
    * (stopword ratio >= 0.01). Output is one row per unordered filter
    * pair with each side's rejection count, the co-rejection count, and
    * the rejection-set Jaccard in basis points (integer arithmetic —
    * bit-identical cross-engine).
    *
    * Scale shape: ONE corpus scan computes all four boolean flags fused
    * into the scan stage; everything after is a single algebraic
    * aggregation (4 + 6 + 1 sums, map-side partial → 1-row reduce), and
    * the 6-row matrix is exploded from that one row — no second scan,
    * no join, no window. Adding a fifth filter is one more flag column
    * and five more sums on the SAME pass: the cost of the ablation is
    * O(corpus scan), independent of the number of filter pairs.
    */
  private def e96FilterAblation = {
    val names = Seq("len5", "punct20", "short200", "stop1") // sorted
    val pairs = names.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val duckPairSums = pairs.map { case (a, b) =>
      s"CAST(sum(r_$a * r_$b) AS BIGINT) AS b_${a}_$b" }.mkString(",\n       |    ")
    val duckRows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS filter_a, '$b' AS filter_b,
         |  r_$a AS n_reject_a, r_$b AS n_reject_b, b_${a}_$b AS n_both,
         |  n_docs FROM s""".stripMargin
    }.mkString("\n       |UNION ALL\n       |")
    QueryDef.sql(
      "e96_filter_ablation",
      s"""WITH d AS (SELECT doc_id, n_chars,
         |    len(${Portable.wordsDuck}) AS n_words,
         |    len(list_filter(${Portable.wordsDuck},
         |        w -> w IN ('the', 'a'))) AS n_stop,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct
         |  FROM documents),
         |f AS (SELECT
         |    CASE WHEN n_words >= 5 THEN 0 ELSE 1 END AS r_len5,
         |    CASE WHEN CAST(n_punct AS DOUBLE) / n_chars <= 0.2
         |      THEN 0 ELSE 1 END AS r_punct20,
         |    CASE WHEN n_chars >= 200 THEN 0 ELSE 1 END AS r_short200,
         |    CASE WHEN n_words > 0
         |        AND CAST(n_stop AS DOUBLE) / n_words >= 0.01
         |      THEN 0 ELSE 1 END AS r_stop1
         |  FROM d),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    ${names.map(n => s"CAST(sum(r_$n) AS BIGINT) AS r_$n")
               .mkString(",\n       |    ")},
         |    $duckPairSums
         |  FROM f),
         |m AS ($duckRows)
         |SELECT filter_a, filter_b, n_reject_a, n_reject_b, n_both,
         |  CAST(CASE WHEN n_reject_a + n_reject_b - n_both > 0
         |    THEN (n_both * 10000) // (n_reject_a + n_reject_b - n_both)
         |    ELSE 0 END AS BIGINT) AS jaccard_bp,
         |  n_docs
         |FROM m ORDER BY filter_a, filter_b""".stripMargin) { (s, dir) =>
      val words = expr(Portable.wordsSpark)
      val d = Tables.documents(s, dir)
        .select(
          col("n_chars"),
          size(words).cast("long").as("n_words"),
          size(filter(words, w => w.isin("the", "a"))).cast("long")
            .as("n_stop"),
          size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)"))
            .cast("long").as("n_punct"))
      val stopR = col("n_stop").cast("double") / col("n_words")
      val punctR = col("n_punct").cast("double") / col("n_chars")
      val flags = d.select(
        when(col("n_words") >= 5, 0L).otherwise(1L).as("r_len5"),
        when(punctR <= 0.2, 0L).otherwise(1L).as("r_punct20"),
        when(col("n_chars") >= 200, 0L).otherwise(1L).as("r_short200"),
        when(col("n_words") > 0 && stopR >= 0.01, 0L).otherwise(1L)
          .as("r_stop1"))
      val agg = flags.agg(
        count(lit(1)).as("n_docs"),
        (names.map(n => sum(col(s"r_$n")).as(s"r_$n")) ++
          pairs.map { case (a, b) =>
            sum(col(s"r_$a") * col(s"r_$b")).as(s"b_${a}_$b") }): _*)
      val matrix = array(pairs.map { case (a, b) =>
        struct(
          lit(a).as("filter_a"), lit(b).as("filter_b"),
          col(s"r_$a").as("n_reject_a"), col(s"r_$b").as("n_reject_b"),
          col(s"b_${a}_$b").as("n_both"))
      }: _*)
      agg.select(explode(matrix).as("p"), col("n_docs"))
        .select(col("p.filter_a"), col("p.filter_b"),
          col("p.n_reject_a"), col("p.n_reject_b"), col("p.n_both"),
          expr("""CAST(CASE WHEN p.n_reject_a + p.n_reject_b - p.n_both > 0
                 |  THEN (p.n_both * 10000)
                 |    div (p.n_reject_a + p.n_reject_b - p.n_both)
                 |  ELSE 0 END AS BIGINT)""".stripMargin).as("jaccard_bp"),
          col("n_docs"))
        .orderBy("filter_a", "filter_b")
    }
  }

  // ---- e97: content-defined chunking (rolling-hash boundaries) ------------

  /** Boundary positions (1-based word indexes, first eligible index 4)
    * where the Rabin-style rolling hash over the last 4 word hashes hits
    * the divisor — shared by the e97 query and the insertion-stability
    * spec pin. Because the hash window is the last 4 words ONLY, a
    * prefix edit shifts every boundary at distance > 4 from the edit by
    * exactly the edit length and changes nothing else — the CDC
    * property (LBFS, Muthitacharoen et al. SOSP'01) that makes these
    * chunks dedupable across document revisions where fixed-size
    * chunking would re-chunk the whole tail.
    */
  private[graft] def cdcBoundaries(wh: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    filter(
      transform(sequence(lit(4), size(wh)),
        i => when((element_at(wh, i)
          + element_at(wh, i - 1) * 31L
          + element_at(wh, i - 2) * 961L
          + element_at(wh, i - 3) * 29791L) % Portable.P % 16 === 0,
          i.cast("long"))),
      x => x.isNotNull)

  /** Content-defined chunking audit: per document, the chunk boundaries
    * a 4-word rolling hash defines (divisor 16 → ~16-word expected
    * chunks), with the boundary-set checksum as the dedup key material.
    * Fixed-size chunking (e24) shifts every downstream chunk when one
    * word is inserted; CDC boundaries are content-anchored, so chunk
    * dedup across revisions keeps matching past the edit point —
    * CurationOpsSpec pins exactly that invariance.
    *
    * Scale shape: a pure per-document projection (array expressions over
    * the word-hash array) — ZERO shuffles before the presentation sort;
    * the chunk boundary computation never leaves the scan stage, and
    * nothing corpus-sized aggregates.
    */
  private def e97CdcChunks = QueryDef.sql(
    "e97_cdc_chunks",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |b AS (SELECT doc_id, len(wh) AS n,
       |    list_filter(list_transform(range(4, len(wh) + 1),
       |      i -> CASE WHEN (wh[i] + wh[i-1]*31 + wh[i-2]*961
       |            + wh[i-3]*29791) % ${Portable.P} % 16 = 0
       |        THEN CAST(i AS BIGINT) ELSE NULL END),
       |      x -> x IS NOT NULL) AS bnds
       |  FROM w WHERE len(wh) >= 4)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       |  CAST(len(bnds) + 1 AS BIGINT) AS n_chunks,
       |  CAST((n * 10000) // (len(bnds) + 1) AS BIGINT)
       |    AS avg_chunk_words_e4,
       |  CAST(coalesce(list_sum(bnds), 0) % ${Portable.P} AS BIGINT)
       |    AS boundary_ck
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), F.word_hashes(col("text")).as("wh"))
      .filter(size(col("wh")) >= 4)
      .select(col("doc_id"), size(col("wh")).cast("long").as("n"),
        cdcBoundaries(col("wh")).as("bnds"))
    d.select(col("doc_id"), col("n").as("n_words"),
      (size(col("bnds")) + 1).cast("long").as("n_chunks"),
      expr("(n * 10000) div (size(bnds) + 1)").as("avg_chunk_words_e4"),
      (coalesce(aggregate(col("bnds"), lit(0L), _ + _), lit(0L))
        % Portable.P).as("boundary_ck"))
  }

  // ---- e145: k-anonymity / l-diversity release audit ----------------------

  /** The privacy MEASUREMENT next to e19's redaction and e140's
    * pseudonymization (Sweeney 2002 k-anonymity; Machanavajjhala 2007
    * l-diversity): before releasing a user-grain table, census the
    * quasi-identifier equivalence classes — here (nation, segment,
    * balance-in-thousands), the generalization a release would publish
    * — and report the achieved k (min class size), the
    * singleton-class count (directly re-identifiable rows), the row
    * mass below the conventional k = 5 / k = 10 bars, and minimum
    * l-diversity of the order-priority sensitive attribute (a class
    * whose members all share one sensitive value leaks it even at
    * high k — the homogeneity attack). l-diversity convention: the
    * class census LEFT-joins orders, so classes of
    * zero-order customers are counted explicitly in
    * `classes_no_sensitive` — for them there is no sensitive value to
    * leak, so they are EXCLUDED from `l_div_min` (which is therefore
    * the minimum over classes with ≥ 1 sensitive row) rather than
    * dragging it to a vacuous 0; a consumer who wants the
    * strict-worst-case reading has both numbers. The reading at
    * sf0.01 — k = 1, a third of rows in singletons — is the
    * artifact's point: this generalization does NOT anonymize, coarsen
    * before release.
    *
    * All-integer (sizes, counts, floor-bp shares); the bucket edge
    * floor(acctbal/1000) is a true IEEE floor on both engines
    * (negative balances included). Deterministic single-row output.
    *
    * Scale (100 TB): one QI-keyed aggregation of the user table + one
    * QI-keyed distinct-count of the joined fact — both standard
    * two-level map-side-partial shuffles; everything after is
    * class-grain (≤ |QI lattice| rows) folded to one row. Fleet
    * variants: the full Incognito/Mondrian generalization search runs
    * this census per lattice node (the census IS the inner loop);
    * t-closeness swaps the distinct count for a per-class distribution
    * distance against the broadcast global (e69's TV machinery).
    */
  private def e145KAnonymity = QueryDef.sql(
    "e145_k_anonymity",
    """WITH cls AS (SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k
      |  FROM customer),
      |sz AS (SELECT c_nationkey, c_mktsegment, bal_k,
      |    CAST(count(*) AS BIGINT) AS sz
      |  FROM cls GROUP BY 1, 2, 3),
      |ldiv AS (SELECT c.c_nationkey, c.c_mktsegment, c.bal_k,
      |    CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l
      |  FROM cls c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(min(sz) AS BIGINT) AS k_anon,
      |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS singleton_classes,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
      |    AS rows_below_k5,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 10000
      |    // sum(sz) AS BIGINT) AS rows_below_k5_bp,
      |  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
      |    AS rows_below_k10,
      |  (SELECT min(CASE WHEN l > 0 THEN l END) FROM ldiv) AS l_div_min,
      |  (SELECT CAST(sum(CASE WHEN l = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    FROM ldiv) AS classes_no_sensitive
      |FROM sz""".stripMargin) { (s, dir) =>
    val cls = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"))
    val qi = Seq("c_nationkey", "c_mktsegment", "bal_k")
    val sz = cls.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("sz"))
    // LEFT join: countDistinct ignores the null priorities of orderless
    // customers, so a class with no orders reads l = 0 — counted in
    // classes_no_sensitive, excluded from the l_div_min argmin (the
    // documented convention; see scaladoc)
    val ldiv = cls
      .join(Tables.orders(s, dir),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(qi.map(col): _*)
      .agg(countDistinct(col("o_orderpriority")).as("l"))
      .agg(min(when(col("l") > 0, col("l"))).as("l_div_min"),
        sum(when(col("l") === 0, 1L).otherwise(0L))
          .as("classes_no_sensitive"))
    sz.agg(
        sum(col("sz")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("sz")).as("k_anon"),
        sum(when(col("sz") === 1, 1L).otherwise(0L))
          .as("singleton_classes"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L))
          .as("rows_below_k5"),
        sum(when(col("sz") < 10, col("sz")).otherwise(0L))
          .as("rows_below_k10"))
      .withColumn("rows_below_k5_bp",
        expr("rows_below_k5 * 10000 div n_rows"))
      .crossJoin(broadcast(ldiv))
      .select(col("n_rows"), col("n_classes"), col("k_anon"),
        col("singleton_classes"), col("rows_below_k5"),
        col("rows_below_k5_bp"), col("rows_below_k10"),
        col("l_div_min"), col("classes_no_sensitive"))
  }

  // ---- e161: video near-dup via shot-signature sequence shingles -----------

  /** TEMPORAL near-dup detection over video-shaped assets — the
    * sequence-grain member closing the multimodal dedup family: e87
    * matches single FRAMES (perceptual hash), e155 applies the
    * frame-grain clusters; re-uploads, re-encodes and trims of the same
    * VIDEO are found by matching the SEQUENCE of shots, not any one
    * frame. The pipeline is the standard video-fingerprinting shape
    * (shot-boundary segmentation → per-shot signature → w-shingles of
    * consecutive signatures → set-similarity join): e139's cut detector
    * segments each asset, every shot gets an integer signature
    * (frame count and summed energy folded mod P), consecutive
    * signature TRIPLES become shingles, and pairs are generated by the
    * shingle equi-join and verified with exact Jaccard over the full
    * shingle sets — shingling makes the match LOCAL, so a trimmed or
    * re-intro'd copy still shares the interior triples (the e80
    * winnowing argument at the shot grain).
    *
    * Corpus-honest parameters: the boundary threshold is θ=2 per byte
    * (e139 pins θ=8 as ITS tuning-signal contract; this low-contrast
    * synthetic corpus averages a 2.6/byte frame delta, so θ=8 yields
    * 1–2 shots per asset and NO sequences to match — θ=2 is tuned so
    * the median asset segments, exactly how a real deployment tunes θ
    * on decoded luma histograms, with every plan shape unchanged).
    * Survivor threshold: sequence-Jaccard ≥ 5000 bp.
    *
    * Scale (100 TB of video): the e155 lessons applied up front —
    * exact clones collapse to a min-id representative BEFORE any pair
    * work (here by payload equality; a fleet deployment keys the
    * exchange by content digest instead of shipping payloads), and
    * shingles hotter than df=256 are dropped from CANDIDATE generation
    * only (the e2 df-cap: a recall-only trade — survivors' Jaccard is
    * still computed on FULL sets, so no reported number is
    * approximate). Window expansion is partition-local batched
    * mapPartitions ([[graft.operators.Media.windowEnergy]]); the lag/
    * cumsum/lead windows partition by asset (bounded frames per asset);
    * everything pair-ward rides the banded shingle join, never
    * all-pairs. All arithmetic integer mod P — bit-identical engines.
    */
  private def e161VideoNeardup = {
    val P = Portable.P
    val theta = 2
    val dfCap = 256
    QueryDef.pinned(
      "e161_video_neardup",
      s"""WITH reps AS (SELECT text, min(doc_id) AS doc_id FROM documents
         |  WHERE len(text) > 0 GROUP BY text),
         |f AS (SELECT doc_id, text,
         |    unnest(range(0, (length(text) + 31) // 32)) AS w
         |  FROM reps),
         |win AS (SELECT doc_id, w,
         |    substr(text, CAST(w * 32 AS INT) + 1, 32) AS chunk FROM f),
         |e AS (SELECT doc_id, w, length(chunk) AS l,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(chunk, ''),
         |        c -> CAST(ascii(c) AS BIGINT))),
         |      (a, c) -> a + c) AS energy FROM win),
         |lagd AS (SELECT doc_id, w, l, energy,
         |    lag(energy) OVER (PARTITION BY doc_id ORDER BY w) AS pe,
         |    lag(l) OVER (PARTITION BY doc_id ORDER BY w) AS pl FROM e),
         |b AS (SELECT doc_id, w, energy,
         |    CASE WHEN pe IS NOT NULL
         |        AND abs(energy * pl - pe * l) >= $theta * l * pl
         |      THEN 1 ELSE 0 END AS is_b FROM lagd),
         |sh0 AS (SELECT doc_id, w, energy,
         |    CAST(sum(is_b) OVER (PARTITION BY doc_id ORDER BY w
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shot FROM b),
         |shots AS (SELECT doc_id, shot,
         |    (count(*) * 1000003 + sum(energy)) % $P AS sig
         |  FROM sh0 GROUP BY doc_id, shot),
         |seq AS (SELECT doc_id, shot, sig,
         |    lead(sig, 1) OVER (PARTITION BY doc_id ORDER BY shot) AS s1,
         |    lead(sig, 2) OVER (PARTITION BY doc_id ORDER BY shot) AS s2
         |  FROM shots),
         |shg AS (SELECT DISTINCT doc_id,
         |    ((sig * 1000003 + s1) % $P * 1000003 + s2) % $P AS sh
         |  FROM seq WHERE s2 IS NOT NULL),
         |hot AS (SELECT sh FROM shg GROUP BY sh HAVING count(*) > $dfCap),
         |post AS (SELECT doc_id, sh FROM shg
         |  WHERE sh NOT IN (SELECT sh FROM hot)),
         |nsh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shg
         |  GROUP BY doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM post a JOIN post b
         |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b,
         |    CAST(count(*) AS BIGINT) AS n_inter
         |  FROM cand c JOIN shg a ON a.doc_id = c.doc_a
         |    JOIN shg b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b, na.n_sh AS n_sh_a, nb.n_sh AS n_sh_b,
         |  i.n_inter,
         |  10000 * i.n_inter // (na.n_sh + nb.n_sh - i.n_inter) AS jacc_bp
         |FROM inter i JOIN nsh na ON na.doc_id = i.doc_a
         |  JOIN nsh nb ON nb.doc_id = i.doc_b
         |WHERE 10000 * i.n_inter // (na.n_sh + nb.n_sh - i.n_inter) >= 5000
         |ORDER BY i.doc_a, i.doc_b""".stripMargin) { (p, s, dir) =>
      import s.implicits._
      import graft.operators.Media
      // exact-clone collapse FIRST (the e155 invariant): min doc_id per
      // distinct payload; at fleet scale this exchange keys by digest
      val reps = Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit("video").as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[Media.MediaDoc]
      val lagW = Window.partitionBy(col("doc_id")).orderBy(col("w"))
      val frames = Media.windowEnergy(reps, winBytes = 32)
        .select(col("doc_id"), col("win_idx").as("w"),
          col("win_len").as("l"), col("energy"))
      val shots = frames
        .withColumn("pe", lag(col("energy"), 1).over(lagW))
        .withColumn("pl", lag(col("l"), 1).over(lagW))
        .withColumn("is_b",
          when(col("pe").isNotNull &&
              abs(col("energy") * col("pl") - col("pe") * col("l"))
                >= lit(theta) * col("l") * col("pl"), 1L)
            .otherwise(0L))
        .withColumn("shot", sum(col("is_b")).over(
          lagW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("shot"))
        .agg(((count(lit(1)) * 1000003L + sum(col("energy"))) % P)
          .as("sig"))
      val seqW = Window.partitionBy(col("doc_id")).orderBy(col("shot"))
      // feeds postings, verify sides, and nsh
      val shg = p.checkpoint(shots
        .withColumn("s1", lead(col("sig"), 1).over(seqW))
        .withColumn("s2", lead(col("sig"), 2).over(seqW))
        .filter(col("s2").isNotNull)
        .select(col("doc_id"),
          (((col("sig") * 1000003L + col("s1")) % P * 1000003L
            + col("s2")) % P).as("sh"))
        .distinct())
      val hot = shg.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select("sh")
      val post = shg.join(hot, Seq("sh"), "left_anti")
      val cand = post.select(col("doc_id").as("doc_a"), col("sh"))
        .join(post.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val nsh = shg.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = cand
        .join(shg.select(col("doc_id").as("doc_a"), col("sh")),
          Seq("doc_a"))
        .join(shg.select(col("doc_id").as("doc_b"), col("sh")),
          Seq("doc_b", "sh"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(nsh.select(col("doc_id").as("doc_a"),
          col("n_sh").as("n_sh_a")), Seq("doc_a"))
        .join(nsh.select(col("doc_id").as("doc_b"),
          col("n_sh").as("n_sh_b")), Seq("doc_b"))
        .withColumn("jacc_bp", expr(
          "10000 * n_inter div (n_sh_a + n_sh_b - n_inter)"))
        .filter(col("jacc_bp") >= 5000)
        .select(col("doc_a"), col("doc_b"), col("n_sh_a"), col("n_sh_b"),
          col("n_inter"), col("jacc_bp"))
        .orderBy("doc_a", "doc_b")
    }
  }

  // ---- e167: IVF hot-cell re-split (the maintenance ACT on e91) ------------

  /** IVF index RE-SPLIT — the maintenance action e91's growth report
    * exists to trigger (the audit→act gap, closed the e163→e164 way):
    * e91 measures per-cell growth and stops; a production index
    * maintainer must then SPLIT the over-capacity cells or watch probe
    * latency grow with the hottest list. Here: assign the corpus
    * against the frozen codebook (e17/e91's one-scan argmax), flag
    * cells above capacity (cap = corpus mean cell size — data-derived,
    * so the hot set is replica-invariant), and for each hot cell seed a
    * second centroid at the cell's FARTHEST member (lowest cosine to
    * its centroid, min-id tiebreak — the split-along-the-dominant-
    * direction stand-in every IVF maintainer uses before a local Lloyd
    * polish) and reassign ONLY that cell's members to the nearer of
    * (old centroid, new seed). Per hot cell: size before, the seed id,
    * keep/move counts and moved_bp — the balance check that says
    * whether the split actually relieved the cell or the mass is a
    * tight clump the seed cannot peel.
    *
    * Scale (100 TB): one corpus-scan assignment (the cost e17/e64/e91
    * already pay, broadcast codebook); everything after is CELL-grain
    * except the reassignment re-join, which touches exactly the hot
    * cells' members — the maintenance working set, not the corpus.
    * Float cosines follow e91's cross-engine IEEE discipline
    * (index-ordered sums, identical on both engines).
    */
  private def e167IvfResplit = {
    QueryDef.pinned(
      "e167_ivf_resplit",
      s"""WITH all0 AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM all0 WHERE vec_id % 67 = 3),
         |sc AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM all0 b CROSS JOIN cent c),
         |mxc AS (SELECT vec_id, max(cs) AS mc FROM sc GROUP BY vec_id),
         |a AS (SELECT sc.vec_id, min(cid) AS list_id, min(mc) AS cs
         |  FROM sc JOIN mxc USING (vec_id) WHERE cs = mc
         |  GROUP BY sc.vec_id),
         |n AS (SELECT list_id, count(*) AS n_before FROM a
         |  GROUP BY list_id),
         |cap AS (SELECT sum(n_before) // count(*) AS cap FROM n),
         |hot AS (SELECT list_id, n_before FROM n CROSS JOIN cap
         |  WHERE n_before > cap),
         |mem AS (SELECT a.vec_id, a.list_id, a.cs, h.n_before
         |  FROM a JOIN hot h ON h.list_id = a.list_id),
         |far AS (SELECT list_id, vec_id AS far_id FROM (
         |    SELECT list_id, vec_id, row_number() OVER (
         |      PARTITION BY list_id ORDER BY cs, vec_id) AS rn
         |    FROM mem) WHERE rn = 1),
         |c2 AS (SELECT f.list_id, f.far_id, e.embedding AS femb,
         |    e.nrm AS fnrm
         |  FROM far f JOIN all0 e ON e.vec_id = f.far_id),
         |re AS (SELECT m.list_id, m.n_before, c2.far_id,
         |    CASE WHEN ${dotCols("e.embedding", "c2.femb")}
         |        / (e.nrm * c2.fnrm) > m.cs THEN 1 ELSE 0 END AS mv
         |  FROM mem m JOIN all0 e ON e.vec_id = m.vec_id
         |  JOIN c2 ON c2.list_id = m.list_id)
         |SELECT list_id AS cid, CAST(n_before AS BIGINT) AS n_before,
         |  far_id, CAST(n_before - sum(mv) AS BIGINT) AS n_keep,
         |  CAST(sum(mv) AS BIGINT) AS n_moved,
         |  CAST(sum(mv) * 10000 // n_before AS BIGINT) AS moved_bp
         |FROM re GROUP BY list_id, n_before, far_id
         |ORDER BY cid""".stripMargin) { (p, s, dir) =>
      // feeds assignment, seed lookup, re-join
      val emb = p.checkpoint(Tables.embeddings(s, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("nrm", sqrt(F.array_dot(col("emb"), col("emb"))))
        .filter(col("vec_id").isNotNull))
      val cent = emb.filter(col("vec_id") % 67 === 3)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"),
          col("nrm").as("cnrm"))
      // e17's argmax idiom: struct max (cs, −cid) — winner's cosine
      // rides along for the reassignment compare
      val asg = emb.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          struct((F.array_dot(col("emb"), col("cemb")) /
            (col("nrm") * col("cnrm"))).as("cs"),
            (-col("cid")).as("nc")).as("sc"))
        .groupBy("vec_id").agg(max(col("sc")).as("m"))
        .select(col("vec_id"), (-col("m.nc")).as("list_id"),
          col("m.cs").as("cs"))
      val counts = asg.groupBy("list_id")
        .agg(count(lit(1)).as("n_before"))
      val cap = counts.agg(
        expr("sum(n_before) div count(1)").as("cap"))
      val hot = counts.crossJoin(broadcast(cap))
        .where(col("n_before") > col("cap"))
        .select("list_id", "n_before")
      val mem = asg.join(hot, "list_id")
      val far = mem.groupBy("list_id")
        .agg(min(struct(col("cs"), col("vec_id"))).as("f"))
        .select(col("list_id"), col("f.vec_id").as("far_id"))
      val c2 = far.join(
        emb.select(col("vec_id").as("far_id"), col("emb").as("femb"),
          col("nrm").as("fnrm")), "far_id")
      mem
        .join(emb.select(col("vec_id"), col("emb"), col("nrm")),
          "vec_id")
        .join(broadcast(c2), "list_id")
        .select(col("list_id"), col("n_before"), col("far_id"),
          when(F.array_dot(col("emb"), col("femb")) /
            (col("nrm") * col("fnrm")) > col("cs"), 1L)
            .otherwise(0L).as("mv"))
        .groupBy("list_id", "n_before", "far_id")
        .agg(sum(col("mv")).as("n_moved"))
        .select(col("list_id").as("cid"), col("n_before"),
          col("far_id"),
          (col("n_before") - col("n_moved")).as("n_keep"),
          col("n_moved"),
          expr("n_moved * 10000 div n_before").as("moved_bp"))
        .orderBy("cid")
    }
  }

  // ---- e166: audio constellation fingerprinting (snippet → source) ---------

  /** Audio IDENTIFICATION by constellation hashing (Wang, ISMIR'03 —
    * the Shazam shape): the retrieval member of the multimodal family
    * that none of the dedup ops cover — e87/e155 answer "which assets
    * are copies", e161 "which sequences are near-copies"; this answers
    * "which SOURCE does this SNIPPET come from, and at what OFFSET",
    * the query a contamination / rights audit runs against a training
    * corpus. Pipeline: windowed energies (the e58/e139 decode stub —
    * a real deployment swaps in spectrogram band energies inside the
    * same partition-local stage) → PEAK PICKING (strict local maxima:
    * content-anchored, so an offset clip re-finds the same landmarks —
    * the property uniform sampling lacks) → consecutive-peak pairs
    * hashed as (q₁, q₂, Δt) → inverted index. Query clips (a
    * deterministic 1-in-5 slice of reps, cut 0–3 windows in, 12
    * windows long) run the same fingerprint pipeline; hash-join hits
    * vote on (clip, candidate, offset-delta) and the histogram argmax
    * is the match — alignment VOTING, not similarity: a handful of
    * co-linear landmark pairs beats any diffuse near-match, which is
    * why the method survives noise and trimming.
    *
    * In-output audit: `hit` = matched its true source at the true
    * offset (clips are constructed, so truth is known). `margin` =
    * winner votes − runner-up votes over the clip's (cand, delta)
    * histogram, and margin 0 (a deterministic vote tie — what every
    * measured miss at sf0.01 is: 4/66, all 2–4-pair snippets) reads
    * `verdict = 'abstain'`: the alarm never asserts a match it cannot
    * separate from its runner-up. REP grain up front (the e155/e161
    * invariant): exact clones collapse before indexing, so a clip
    * cannot "mis-match" its source's clone.
    *
    * Scale (100 TB of audio): the index side is one partition-local
    * window expansion + per-asset bounded lag/lead windows (e139's
    * exact cost class), built ONCE and stored — clips are the query
    * stream, and the only pair-ward work is the hash equi-join
    * (selectivity ~2²² hash space) feeding a map-side vote count and a
    * struct-max argmax; nothing is ever all-pairs, no window spans
    * more than one asset's marks. Index hashes with df > 256 are
    * excluded from voting (the e161/e2 df-cap, semantic here: a
    * landmark pair shared by hundreds of documents is corpus
    * boilerplate with no identification value), which bounds every
    * posting list the vote join can touch regardless of corpus
    * repetitiveness.
    */
  /** Oracle SQL shared verbatim by e166 and e171 — the stored index is
    * a LAYOUT, not an approximation (the e64-vs-e17 contract), so both
    * queries have the same answer.
    */
  private def constellationDuckSql: String =
    s"""WITH reps AS (SELECT min(doc_id) AS doc_id, text FROM documents
       |  WHERE len(text) > 0 GROUP BY text),
       |f AS (SELECT doc_id, text,
       |    unnest(range(0, (length(text) + 15) // 16)) AS w
       |  FROM reps),
       |win AS (SELECT doc_id, w,
       |    substr(text, CAST(w * 16 AS INT) + 1, 16) AS chunk FROM f),
       |e AS (SELECT doc_id, w,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(chunk, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> a + c) AS energy
       |  FROM win),
       |lg AS (SELECT doc_id, w, energy,
       |    lag(energy) OVER (PARTITION BY doc_id ORDER BY w) AS pe,
       |    lead(energy) OVER (PARTITION BY doc_id ORDER BY w) AS ne
       |  FROM e),
       |marks AS (SELECT doc_id, w, energy % 256 AS q FROM lg
       |  WHERE pe IS NOT NULL AND ne IS NOT NULL
       |    AND energy > pe AND energy >= ne),
       |pd AS (SELECT doc_id, w AS t1,
       |    (q * 256 + q2) * 64 + least(t2 - w, 63) AS h
       |  FROM (SELECT doc_id, w, q,
       |      lead(w) OVER (PARTITION BY doc_id ORDER BY w) AS t2,
       |      lead(q) OVER (PARTITION BY doc_id ORDER BY w) AS q2
       |    FROM marks)
       |  WHERE t2 IS NOT NULL),
       |el AS (SELECT doc_id, doc_id % 4 AS o FROM reps
       |  WHERE doc_id % 5 = 0
       |    AND len(text) >= (doc_id % 4 + 12) * 16),
       |cm AS (SELECT m.doc_id, m.w - el.o AS t, m.q FROM marks m
       |  JOIN el ON el.doc_id = m.doc_id
       |  WHERE m.w >= el.o + 1 AND m.w <= el.o + 10),
       |pc AS (SELECT doc_id AS clip_id, t AS t1c,
       |    (q * 256 + q2) * 64 + least(t2 - t, 63) AS h
       |  FROM (SELECT doc_id, t, q,
       |      lead(t) OVER (PARTITION BY doc_id ORDER BY t) AS t2,
       |      lead(q) OVER (PARTITION BY doc_id ORDER BY t) AS q2
       |    FROM cm)
       |  WHERE t2 IS NOT NULL),
       |np AS (SELECT clip_id, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pc GROUP BY clip_id),
       |pdc AS (SELECT pd.* FROM pd JOIN (
       |    SELECT h FROM pd GROUP BY h HAVING count(*) <= 256) k
       |  ON k.h = pd.h),
       |v AS (SELECT pc.clip_id, pdc.doc_id AS cand,
       |    pdc.t1 - pc.t1c AS delta, CAST(count(*) AS BIGINT) AS votes
       |  FROM pc JOIN pdc ON pdc.h = pc.h GROUP BY 1, 2, 3),
       |wnr AS (SELECT clip_id, cand, delta, votes, row_number() OVER (
       |    PARTITION BY clip_id
       |    ORDER BY votes DESC, cand, delta) AS rn FROM v),
       |ru AS (SELECT clip_id, votes AS v2 FROM wnr WHERE rn = 2)
       |SELECT w2.clip_id, np.n_pairs, w2.cand AS matched_doc,
       |  w2.delta AS offset_win, w2.votes,
       |  w2.votes - COALESCE(ru.v2, 0) AS margin,
       |  CASE WHEN w2.votes - COALESCE(ru.v2, 0) >= 1 THEN 'match'
       |    ELSE 'abstain' END AS verdict,
       |  CAST(w2.cand = w2.clip_id AND w2.delta = w2.clip_id % 4
       |    AS INT) AS hit
       |FROM wnr w2 JOIN np ON np.clip_id = w2.clip_id
       |LEFT JOIN ru ON ru.clip_id = w2.clip_id
       |WHERE rn = 1 ORDER BY w2.clip_id""".stripMargin

  private def e166AudioFingerprint = QueryDef.sql(
    "e166_audio_fingerprint", constellationDuckSql) { (s, dir) =>
    val (pdc, pc, np) = constellationParts(s, dir)
    constellationVerdicts(pdc, pc, np)
  }

  /** The shared e166/e171 constellation pipeline up to the index and
    * query sides: (pdc — the df-capped inverted index; pc — the query
    * clips' pair hashes; np — per-clip pair counts).
    */
  private[queries] def constellationParts(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val docW = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    val reps = Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    val frames = graft.operators.Media
      .windowEnergy(reps
        .select(col("doc_id"), lit("audio").as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[graft.operators.Media.MediaDoc], winBytes = 16)
      .select(col("doc_id"), col("win_idx").as("w"), col("energy"))
    val marks = frames
      .withColumn("pe", lag(col("energy"), 1).over(docW))
      .withColumn("ne", lead(col("energy"), 1).over(docW))
      .where(col("pe").isNotNull && col("ne").isNotNull &&
        col("energy") > col("pe") && col("energy") >= col("ne"))
      .select(col("doc_id"), col("w"), (col("energy") % 256).as("q"))
    def pairHash(t1: Column, t2: Column, q1: Column, q2: Column): Column =
      (q1 * 256 + q2) * 64 + least(t2 - t1, lit(63L))
    val pd = marks
      .withColumn("t2", lead(col("w"), 1).over(docW))
      .withColumn("q2", lead(col("q"), 1).over(docW))
      .where(col("t2").isNotNull)
      .select(col("doc_id"), col("w").as("t1"),
        pairHash(col("w"), col("t2"), col("q"), col("q2")).as("h"))
    val el = reps
      .select(col("doc_id"), (col("doc_id") % 4).as("o"),
        length(col("text")).as("len"))
      .where(col("doc_id") % 5 === 0 &&
        col("len") >= (col("o") + 12) * 16)
      .select("doc_id", "o")
    val cm = marks.join(el, "doc_id")
      .where(col("w") >= col("o") + 1 && col("w") <= col("o") + 10)
      .select(col("doc_id"), (col("w") - col("o")).as("t"), col("q"))
    val clipW = Window.partitionBy(col("doc_id")).orderBy(col("t"))
    val pc = cm
      .withColumn("t2", lead(col("t"), 1).over(clipW))
      .withColumn("q2", lead(col("q"), 1).over(clipW))
      .where(col("t2").isNotNull)
      .select(col("doc_id").as("clip_id"), col("t").as("t1c"),
        pairHash(col("t"), col("t2"), col("q"), col("q2")).as("h"))
    val np = pc.groupBy("clip_id").agg(count(lit(1)).as("n_pairs"))
    // df-cap on the index side (the e161/e2 convention, here SEMANTIC:
    // a landmark pair seen in > 256 documents is corpus boilerplate —
    // silence runs, padding — and carries no identification signal, so
    // it is excluded from VOTING, keeping the hash join's posting
    // lists bounded at any corpus scale; the census is one
    // hash-grain map-side aggregation)
    val pdc = pd.join(
      pd.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 256).select("h"), "h")
    (pdc, pc, np)
  }

  /** The shared e166/e171 vote/argmax tail over an index frame shaped
    * (doc_id, t1, h) — in-memory (e166) or read back from the stored
    * layout (e171).
    */
  private def constellationVerdicts(
      index: DataFrame, pc: DataFrame, np: DataFrame): DataFrame = {
    val v = pc
      .join(index.select(col("doc_id").as("cand"), col("t1"), col("h")),
        "h")
      .groupBy(col("clip_id"), col("cand"),
        (col("t1") - col("t1c")).as("delta"))
      .agg(count(lit(1)).as("votes"))
    // winner AND runner-up by (votes DESC, cand ASC, delta ASC) in one
    // keyed aggregation: sort the clip's own candidate histogram —
    // bounded by its distinct (cand, delta) entries — and slice the top
    // 2; no re-shuffling window. The runner-up gives `margin` (winner
    // votes − runner-up votes), and margin 0 — a deterministic vote
    // TIE, which is what every measured miss is — reads 'abstain': for
    // a contamination / rights alarm a wrong confident match is worse
    // than an abstain.
    val wnr = v
      .groupBy("clip_id")
      .agg(slice(sort_array(collect_list(struct(col("votes").as("vv"),
        (-col("cand")).as("nc"), (-col("delta")).as("nd"))),
        asc = false), 1, 2).as("t"))
      .select(col("clip_id"),
        (-col("t")(0)("nc")).as("matched_doc"),
        (-col("t")(0)("nd")).as("offset_win"),
        col("t")(0)("vv").as("votes"),
        (col("t")(0)("vv") -
          when(size(col("t")) > 1, col("t")(1)("vv")).otherwise(0L))
          .as("margin"))
    wnr.join(np, "clip_id")
      .select(col("clip_id"), col("n_pairs"), col("matched_doc"),
        col("offset_win"), col("votes"), col("margin"),
        when(col("margin") >= 1, "match").otherwise("abstain")
          .as("verdict"),
        (col("matched_doc") === col("clip_id") &&
          col("offset_win") === col("clip_id") % 4).cast("int")
          .as("hit"))
      .orderBy("clip_id")
  }

  /** e166 probed through its PERSISTED index — the production split of
    * the retrieval member, the e64-vs-e17 pattern applied to the
    * multimodal family: the df-capped inverted index `pdc` is written
    * ONCE as a
    * BLOOM-FILTERED parquet layout keyed on the pair hash `h`
    * ([[graft.sources.Layout.writeBloomFiltered]] — `h` is hash-shaped,
    * so directory pruning and min/max clustering both fail it; a
    * per-row-group bloom filter serves exactly the "is this landmark
    * hash possibly here?" probe a clip lookup runs), and the vote join
    * reads the table back from disk. Results are e166's verbatim —
    * same oracle SQL — because the index is a LAYOUT, not an
    * approximation. FingerprintIndexSpec pins the roundtrip identity
    * and the recorded bloom contract.
    *
    * Scale: the index build amortizes across probe workloads (the
    * e64 argument); each clip's probe touches the posting lists its
    * ≤ n_pairs hashes select, with row-group skipping from the bloom
    * footer — never a corpus scan.
    */
  private def e171FingerprintIndexed = QueryDef.sql(
    "e171_fingerprint_indexed", constellationDuckSql) { (s, dir) =>
    val (pdc, pc, np) = constellationParts(s, dir)
    val tmp = Scratch.dir(s, "e171-fpidx")
    graft.sources.Layout.writeBloomFiltered(
      pdc, s"$tmp/fp_index.parquet", Seq("h"),
      expectedNdv = 4194304L) // the (q1, q2, dt) hash codomain 2^22·…
    constellationVerdicts(
      s.read.parquet(s"$tmp/fp_index.parquet"), pc, np)
  }
}
