package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{F, Portable}
import graft.functions.Portable.P
import graft.operators.{Indexing, Media, Pins}
import graft.sources.Tables

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash-LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup), similarity search
  * (brute-force exact, parameterized sign-LSH ANN, IVF-flat), text
  * analysis (corpus stats, per-doc quality filtering, language-ID, token
  * counting, vocabulary top-k, fingerprinting, a composed prep
  * pipeline) and multimodal-column plumbing (metadata + frame
  * sampling). Streaming counterparts (the admission gate, keyed top-k,
  * interval join) live in [[graft.streaming]]; the curation-stage
  * operators (scrub/decontaminate/score/split/chunk/shuffle) in
  * [[TrainingQueries]].
  *
  * Scale design (100 TB): every near-dup/similarity operator is BUCKETED —
  * candidates come from an inverted-index join (shared shingle), an LSH
  * band key, or a signature bucket; nothing does an all-pairs crossJoin
  * over the corpus. Document-frequency pruning bounds inverted-index
  * bucket sizes, so the candidate join stays near-linear in corpus size.
  * Hashing is expression-only (codegen'd; no UDFs); see
  * [[graft.functions.Portable]] for why the hash is a portable polynomial
  * rather than xxhash64 (oracle parity), and what to swap at production
  * scale.
  */
object ExtensionQueries {

  val all: Seq[QueryDef] = Seq(
    e1ExactDedup, e2NgramJaccard, e3MinhashLsh, e4Simhash, e5CosineTopk,
    e5bCosineTopkInt8,
    e6AnnLsh, e6bAnnLsh12, e7TextStats, e8LangId, e9TokenCount,
    e10Fingerprint, e11EmbedStats, e12MediaMeta, e13EmbedNeardup,
    e14QualityFilter, e15MediaFrames, e16PrepPipeline, e17AnnIvf,
    e18VocabTopk, e28SimhashNeardup, e29HeavyHitters, e32DedupClusters,
    e6cAnnMultiprobe, e41IncrementalDedup, e168GateVerify,
    e172GateVerifyStored, e45DedupApply, e46CcStar,
    e135ClusterSplit, e139ShotBoundaries,
    e47JlProject, e49SemDedup, e52DupMatrix, e54VocabGrowth,
    e57SplitLeakage, e58MediaEnergy, e61LshCalibration, e64AnnIndexed,
    e170IvfResplitPersist,
    e65DedupBest, e67AnnRecall, e68AnnNprobeSweep, e71DedupYield,
    e80Winnowing, e81MrlTruncation, e125MutualKnn, e125bMutualKnnInt8,
    e163LpaCommunities, e163bLpaRegions, e163cLpaChurn,
    e175Modularity, e175bModularityRegions,
    e164CommunityDedupApply, e164bCommunityApplyRegions,
    e165NeighborhoodFn, e165bNeighborhoodRegions,
    e169DiameterDrift, e169bDiameterRegions,
    e128SortedNeighborhood, e133ClusterCensus, e144Containment)

  /** doc_id + distinct-shingle-hash array per document (shared candidate
    * source for e2/e3). One compiled ShingleHashes expression — see
    * [[graft.functions.expressions]] for why this is a custom Catalyst
    * expression rather than higher-order-function SQL.
    */
  private def docShingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      // Mirrors the isnotnull(doc_id) the downstream pair-joins infer on
      // their branches; carrying it on EVERY branch keeps the postings
      // exchange subtrees canonically identical, so ReuseExchange leaves
      // one scan + one shuffle (doc_id is never null — no rows change).
      .filter(col("doc_id").isNotNull)

  /** Exact dedup: group documents by content hash, keep the smallest
    * doc_id as the canonical copy. Hash-groupBy shuffles only (hash, id,
    * small cols), never the text itself beyond the first projection —
    * at 100 TB the shuffle payload is the digest, not the document.
    */
  private def e1ExactDedup = QueryDef.sql(
    "e1_exact_dedup",
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
      | min(n_chars) AS n_chars, min(lang) AS lang
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256))
        .agg(
          min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"),
          min(col("n_chars")).as("n_chars"),
          min(col("lang")).as("lang"))
        .drop("sha2(text, 256)")
        .select("doc_id", "n_copies", "n_chars", "lang")
  }

  /** Near-dup via exact n-gram Jaccard with an inverted-index (bucketed)
    * candidate join: explode distinct word-3-gram shingles, prune shingles
    * with document frequency > 100 (common shingles add no discrimination
    * and would blow up bucket sizes), self-join on shingle, count common
    * shingles per pair, then Jaccard >= 0.3 over the pruned sets. Work is
    * sum(df^2) over kept shingles — bounded by the df cap, not corpus^2.
    */
  private def e2NgramJaccard = QueryDef.sql(
    "e2_ngram_jaccard",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM w),
       |ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh WHERE len(shs) > 0),
       |kept AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 100),
       |pr AS (SELECT ex.doc_id, ex.sh FROM ex JOIN kept USING (sh)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM pr GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard
       |FROM common
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // One shuffle of the exploded postings by shingle; the df-count
    // aggregation and the pruning join both reuse it (ReuseExchange), so
    // shingle hashing + explode run once, and the self-join below needs
    // no further exchange (pr is already clustered by sh).
    val ex = docShingles(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .repartition(col("sh"))
    // count(doc_id), not count(*): the reference keeps doc_id in this
    // branch's scan, so its exchange subtree canonicalizes identically to
    // the probe side and the postings are hashed + shuffled ONCE (with
    // count(*), column pruning builds a second text-only scan).
    val kept = ex.groupBy("sh").agg(count(col("doc_id")).as("df"))
      .filter(col("df") <= 100).select("sh")
    val pr = ex.join(kept, "sh")
    val sz = pr.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = pr.as("a")
      .join(pr.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val jac = round(
      col("c").cast("double") / (col("sa.sz") + col("sb.sz") - col("c")), 4)
    common
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.3)
  }

  /** CONTAINMENT screen (Broder 1997's second measure — "On the
    * resemblance and containment of documents"): for every candidate
    * pair, C = |A∩B| / |A| of the SMALLER pruned shingle set, reported
    * for pairs with C ≥ 0.8 alongside their Jaccard and a `hidden` flag
    * marking containment the symmetric detectors structurally drop
    * (jaccard_bp < 3000 — below e2/e3's J ≥ 0.3 floor). Resemblance and
    * containment answer different questions: a 20-word quote inside a
    * 100-word article has J ≈ 0.18 (invisible to every Jaccard-threshold
    * member: e2's count ratio, e3's banding recall curve is centred on
    * J, e98's prefix bound assumes near-equal sizes) but C = 1.0 — the
    * asymmetric member that catches quote extraction, template
    * embedding, and doc-inside-doc syndication. E144ContainmentSpec
    * pins exactly that regime on a constructed quote pair, including
    * its absence from e2's output on the same corpus.
    *
    * Machinery is e2's verbatim (shared postings discipline): df ≤ 100
    * prune, posting self-join, pair counts — the work bound is the same
    * Σ df² and the prune's bias (a gram shared by > 100 docs counts for
    * neither side) applies to numerator AND denominator, so C stays a
    * true ratio over the pruned universe. All-integer: containment and
    * Jaccard in floor basis points (c·10⁴ is ≤ 10⁴·|shingle set| —
    * no overflow), smaller-set pick ties to the lower doc_id.
    *
    * Scale (100 TB): identical posture to e2 (the df cap bounds bucket
    * fan-out); at production scale the same screen runs on e3's banded
    * candidates UNIONed with a small-set-biased posting join (banding
    * alone would miss high-C/low-J pairs — the honest caveat this
    * query's `hidden` column measures).
    */
  private def e144Containment = QueryDef.sql(
    "e144_containment",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM w),
       |ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh
       |  WHERE len(shs) > 0),
       |kept AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 100),
       |pr AS (SELECT ex.doc_id, ex.sh FROM ex JOIN kept USING (sh)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM pr
       |  GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |cls AS (SELECT
       |    CASE WHEN sb.sz < sa.sz THEN doc_b ELSE doc_a END
       |      AS doc_small,
       |    CASE WHEN sb.sz < sa.sz THEN doc_a ELSE doc_b END
       |      AS doc_big,
       |    least(sa.sz, sb.sz) AS sz_small,
       |    greatest(sa.sz, sb.sz) AS sz_big, c,
       |    c * 10000 // least(sa.sz, sb.sz) AS containment_bp,
       |    c * 10000 // (sa.sz + sb.sz - c) AS jaccard_bp
       |  FROM common
       |  JOIN sz sa ON sa.doc_id = doc_a
       |  JOIN sz sb ON sb.doc_id = doc_b)
       |SELECT doc_small, doc_big, sz_small, sz_big, c AS shared,
       |  containment_bp, jaccard_bp,
       |  CASE WHEN jaccard_bp < 3000 THEN 1 ELSE 0 END AS hidden
       |FROM cls WHERE containment_bp >= 8000
       |ORDER BY doc_small, doc_big""".stripMargin) { (s, dir) =>
    // e2's one-exchange postings discipline verbatim: the df census and
    // the pruning join reuse the sh-keyed shuffle; the self-join needs
    // no further exchange.
    val ex = docShingles(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .repartition(col("sh"))
    val kept = ex.groupBy("sh").agg(count(col("doc_id")).as("df"))
      .filter(col("df") <= 100).select("sh")
    val pr = ex.join(kept, "sh")
    val sz = pr.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = pr.as("a")
      .join(pr.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val bSmaller = col("sb.sz") < col("sa.sz")
    val szMin = least(col("sa.sz"), col("sb.sz"))
    common
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        when(bSmaller, col("doc_b")).otherwise(col("doc_a"))
          .as("doc_small"),
        when(bSmaller, col("doc_a")).otherwise(col("doc_b"))
          .as("doc_big"),
        szMin.as("sz_small"),
        greatest(col("sa.sz"), col("sb.sz")).as("sz_big"),
        col("c").as("shared"),
        expr("c * 10000 div least(sa.sz, sb.sz)").as("containment_bp"),
        expr("c * 10000 div (sa.sz + sb.sz - c)").as("jaccard_bp"))
      .withColumn("hidden",
        when(col("jaccard_bp") < 3000, 1).otherwise(0))
      .filter(col("containment_bp") >= 8000)
      .orderBy("doc_small", "doc_big")
  }

  /** WINNOWING overlap detection (Schleimer/Wilkerson/Aiken SIGMOD'03 —
    * the MOSS fingerprinting scheme): per document, the positional
    * word-3-gram hash sequence is winnowed by a w=4 sliding window —
    * each window contributes its minimum gram hash (rightmost on ties),
    * so any shared word run of length >= w+k-1 = 7 GUARANTEES a shared
    * fingerprint while the index holds only ~2/(w+1) = 40 % of the
    * grams. Fingerprint postings then drive e2's candidate shape
    * (df<=100 prune, self-join, pair counts), reporting pairs sharing
    * >= 2 fingerprints with containment in basis points of the smaller
    * set. vs e2 (distinct-shingle Jaccard): winnowing's index is a
    * guaranteed-coverage SAMPLE — same detection floor for long
    * overlaps at a fraction of the postings shuffle, the property that
    * makes it the substring-overlap screen a 100 TB corpus can afford.
    *
    * The selection is one compiled Catalyst expression
    * ([[graft.functions.TextHash.winnowHashes]], codegen'd loop — no
    * higher-order-function re-evaluation); the postings exchange is
    * shuffled once and reused across the df-census and both join
    * probes, exactly e2's plan discipline.
    */
  private def e80Winnowing = QueryDef.sql(
    "e80_winnowing",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |gr AS (SELECT doc_id, ${Portable.posShinglesDuck} AS g
       |  FROM w WHERE len(wh) >= 3),
       |fps AS (SELECT doc_id, ${Portable.winnowedDuck} AS fp_set FROM gr),
       |ex AS (SELECT doc_id, unnest(fp_set) AS fp FROM fps),
       |kept AS (SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 100),
       |pr AS (SELECT ex.doc_id, ex.fp FROM ex JOIN kept USING (fp)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM pr GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(c AS BIGINT) AS n_shared,
       |  CAST(c * 10000 // least(sa.sz, sb.sz) AS BIGINT)
       |    AS containment_bp
       |FROM common
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE c >= 2 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"), F.winnow_hashes(col("text")).as("fp_set"))
      .filter(size(col("fp_set")) > 0)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(col("fp_set")).as("fp"))
      .repartition(col("fp"))
    val kept = ex.groupBy("fp").agg(count(col("doc_id")).as("df"))
      .filter(col("df") <= 100).select("fp")
    val pr = ex.join(kept, "fp")
    val sz = pr.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = pr.as("a")
      .join(pr.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(col("c") >= 2)
      .select(col("doc_a"), col("doc_b"), col("c").as("n_shared"),
        expr("c * 10000 div least(sa.sz, sb.sz)").as("containment_bp"))
  }

  /** Near-dup via MinHash + LSH banding: 12 affine min-hashes over the
    * shingle hashes, grouped into 6 bands of 2; documents sharing a band
    * key become candidates (bucket join on the band key — the classic
    * sub-quadratic LSH shape), then candidates are verified with exact
    * Jaccard >= 0.3. With these (r=2, b=6) parameters a pair at j=0.5
    * collides with p ~ 0.82, at j=0.9 with p ~ 0.99997.
    */
  private def e3MinhashLsh =
    QueryDef.sql(
      "e3_minhash_lsh",
      s"""$minhashPairsDuck
         |SELECT * FROM verified WHERE jaccard >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.3)
    }

  /** DuckDB CTE chain ending in `verified(doc_a, doc_b, jaccard)` — the
    * oracle twin of [[minhashVerifiedPairs]], shared by e3 and e32.
    */
  private[queries] def minhashPairsDuck: String =
    minhashPairsDuckFrom("documents")

  /** [[minhashPairsDuck]] with the source relation parameterized — the
    * oracle-side twin of [[minhashVerifiedPairsFrom]]. `pfx` prefixes
    * every CTE name (`${pfx}verified` etc.) so one oracle can carry the
    * chain twice over two corpora (e169's generations); the default ""
    * keeps every existing caller's names.
    */
  private[queries] def minhashPairsDuckFrom(
      src: String, pfx: String = ""): String = {
    val mhDuck = (0 until 12).map { k =>
      s"list_min(list_transform(shs, x -> (${Portable.MinHashA(k)}*x + " +
        s"${Portable.MinHashB(k)}) % $P)) AS mh$k"
    }.mkString(",\n  ")
    val bandKeysDuck = (0 until 6)
      .map(k => s"mh${2 * k}*$P + mh${2 * k + 1}")
      .mkString("[", ", ", "]")
    s"""WITH ${pfx}w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM $src),
       |${pfx}sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs
       |  FROM ${pfx}w WHERE len(wh) >= 3),
       |${pfx}mh AS (SELECT doc_id, shs,
       |  $mhDuck
       |  FROM ${pfx}sh WHERE len(shs) > 0),
       |${pfx}bands AS (
       |  SELECT doc_id, unnest(range(0, 6)) AS band_id,
       |    unnest($bandKeysDuck) AS band_key
       |  FROM ${pfx}mh),
       |${pfx}cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ${pfx}bands a JOIN ${pfx}bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |${pfx}verified AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
       |      (len(sa.shs) + len(sb.shs)
       |        - len(list_intersect(sa.shs, sb.shs))), 4) AS jaccard
       |  FROM ${pfx}cand
       |  JOIN ${pfx}mh sa ON sa.doc_id = doc_a
       |  JOIN ${pfx}mh sb ON sb.doc_id = doc_b)""".stripMargin
  }

  /** MinHash-LSH candidate generation + exact-Jaccard verification,
    * returning every verified candidate pair `(doc_a, doc_b, jaccard)`
    * (doc_a < doc_b, unordered, unthresholded — callers filter). Shared
    * by e3 (pair report) and e32 (cluster construction).
    */
  private[queries] def minhashVerifiedPairs(
      s: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairsFrom(Tables.documents(s, dir))

  /** [[minhashVerifiedPairs]] over an explicit (doc_id, text) frame —
    * the injection point for rep-grain callers (e163 feeds the
    * exact-collapse representatives, the e155 invariant).
    */
  private[queries] def minhashVerifiedPairsFrom(
      docs: DataFrame): DataFrame = {
    // mh feeds three consumers (the band explode and both verification
    // join sides); repartitioning by doc_id makes all three reuse one
    // exchange, so shingle + MinHash expressions evaluate once per doc
    // and the sa/sb joins need no further shuffle of the array payload.
    val sh = docShingles(docs)
    val mh = sh.select(col("doc_id"), col("shs"),
      F.min_hashes(col("shs")).as("sig"))
      .repartition(col("doc_id"))
    val bandKeys = array((0 until 6).map(k =>
      element_at(col("sig"), 2 * k + 1) * P +
        element_at(col("sig"), 2 * k + 2)): _*)
    // The when() guard is vacuously true (docShingles filters empty
    // shingle sets) — it exists to keep `shs` REFERENCED on this branch
    // so column pruning can't specialize the scan away from the
    // verification branches' subtree; all three then read one
    // ReusedExchange and the shingle pass runs once per document.
    val bands = mh
      .select(col("doc_id"),
        posexplode(when(size(col("shs")) > 0, bandKeys))
          .as(Seq("band_id", "band_key")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Same vacuously-true guard as `bands`, in the other direction: the
    // verification sides must keep `sig` referenced (signatures are
    // always 12 wide) so all three mh consumers share one exchange.
    val inter = when(
      size(col("sa.sig")) > 0 && size(col("sb.sig")) > 0,
      size(array_intersect(col("sa.shs"), col("sb.shs"))))
    val jac = round(inter.cast("double") /
      (size(col("sa.shs")) + size(col("sb.shs")) - inter), 4)
    cand
      .join(mh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(mh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** MinHash CALIBRATION report: for every LSH candidate pair, compare
    * the Jaccard ESTIMATE the 12-permutation signature implies
    * (matching positions / 12 — the Broder estimator the banding scheme
    * is built on) against the exact shingle-set Jaccard, rolled up per
    * signature-agreement level. The sketch-quality audit a production
    * dedup stage runs when choosing (r, b): each row says "pairs where
    * m of 12 hashes agree have true similarity mean/min/max …", exposing
    * both estimator bias and the band-collision tail (candidates with
    * low agreement that a single lucky band let through).
    *
    * All similarity arithmetic is integer basis points (trunc division,
    * both engines), so rows hash-match bit-for-bit. Same candidate
    * machinery as e3 (banded bucket join, never all-pairs); the rollup
    * adds one low-cardinality (≤ 13 keys) aggregation.
    */
  private def e61LshCalibration = {
    val matchesDuck = (0 until 12)
      .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    QueryDef.sql(
      "e61_lsh_calibration",
      s"""$minhashPairsDuck,
         |pr AS (SELECT
         |    CAST($matchesDuck AS BIGINT) AS matches,
         |    CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) * 10000
         |      // (len(sa.shs) + len(sb.shs)
         |        - len(list_intersect(sa.shs, sb.shs))) AS exact_bp
         |  FROM cand
         |  JOIN mh sa ON sa.doc_id = doc_a
         |  JOIN mh sb ON sb.doc_id = doc_b)
         |SELECT matches, CAST(matches * 10000 // 12 AS BIGINT) AS est_bp,
         |  count(*) AS n_pairs,
         |  CAST(sum(exact_bp) // count(*) AS BIGINT) AS mean_exact_bp,
         |  CAST(min(exact_bp) AS BIGINT) AS min_exact_bp,
         |  CAST(max(exact_bp) AS BIGINT) AS max_exact_bp
         |FROM pr GROUP BY matches ORDER BY matches""".stripMargin) {
      (s, dir) =>
        val sh = docShingles(Tables.documents(s, dir))
        val mh = sh.select(col("doc_id"), col("shs"),
          F.min_hashes(col("shs")).as("sig"))
          .repartition(col("doc_id"))
        val bandKeys = array((0 until 6).map(k =>
          element_at(col("sig"), 2 * k + 1) * P +
            element_at(col("sig"), 2 * k + 2)): _*)
        // Same shared-exchange discipline as minhashVerifiedPairs: the
        // vacuous guards keep shs/sig referenced on every mh consumer so
        // all three branches reuse one shuffle of the signature frame.
        val bands = mh
          .select(col("doc_id"),
            posexplode(when(size(col("shs")) > 0, bandKeys))
              .as(Seq("band_id", "band_key")))
        val cand = bands.as("a")
          .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.band_key") === col("b.band_key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val matches = (1 to 12).map(i =>
          when(size(col("sa.sig")) > 0 &&
            element_at(col("sa.sig"), i) === element_at(col("sb.sig"), i),
            1).otherwise(0))
          .reduce(_ + _).cast("long")
        val inter = when(
          size(col("sa.sig")) > 0 && size(col("sb.sig")) > 0,
          size(array_intersect(col("sa.shs"), col("sb.shs"))))
        val exactBp = expr(
          "CAST(size(array_intersect(sa.shs, sb.shs)) AS BIGINT) * 10000" +
            " div (size(sa.shs) + size(sb.shs)" +
            " - size(array_intersect(sa.shs, sb.shs)))")
        cand
          .join(mh.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(mh.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(matches.as("matches"),
            when(inter >= 0, exactBp).as("exact_bp"))
          .groupBy("matches")
          .agg(count(lit(1)).as("n_pairs"),
            sum("exact_bp").as("sum_bp"),
            min("exact_bp").as("min_exact_bp"),
            max("exact_bp").as("max_exact_bp"))
          .select(col("matches"),
            expr("matches * 10000 div 12").as("est_bp"),
            col("n_pairs"),
            expr("sum_bp div n_pairs").as("mean_exact_bp"),
            col("min_exact_bp"), col("max_exact_bp"))
          .orderBy("matches")
    }
  }

  /** Dedup CLUSTERS from the LSH near-dup pairs: connected components
    * over the verified-pair graph (threshold 0.2 — looser than e3's
    * report threshold so transitive chains actually form), labeling each
    * near-dup document with the min doc_id of its component, its cluster
    * size, and whether it is the canonical survivor. This is the step a
    * production dedup stage runs AFTER pair generation: keep-one-per-PAIR
    * over-deletes on chains (a~b, b~c must keep a and delete b,c — not
    * orphan c). See [[graft.operators.ConnectedComponents]] for the
    * O(log diameter) pointer-jumping design; the DuckDB oracle walks the
    * same graph with a recursive CTE and takes min over each node's
    * reachable set — an independent formulation of the same fixpoint.
    */
  private def e32DedupClusters =
    QueryDef.pinned(
      "e32_dedup_clusters",
      s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
         |SELECT c.node AS doc_id, c.cluster, s.cluster_size,
         |  CAST(c.node = c.cluster AS INT) AS canonical
         |FROM comp c
         |JOIN (SELECT cluster, count(*) AS cluster_size FROM comp
         |      GROUP BY cluster) s USING (cluster)
         |ORDER BY doc_id""".stripMargin) { (p, s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
      val comp = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
      val sizes = comp.groupBy(col("comp").as("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
      comp.select(col("node").as("doc_id"), col("comp").as("cluster"))
        .join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          (col("doc_id") === col("cluster")).cast("int").as("canonical"))
    }

  /** Cluster-SIZE census of the e32 components — the one-page reading
    * that picks the dedup execution path: n_clusters / doc count /
    * corpus share per component size. Dup mass concentrated in size-2/3
    * clusters ⇒ pairwise canonical selection is enough and the
    * iterative machinery is overhead; a giant component carrying real
    * share ⇒ the e46 star-rewrite path and e129's core/periphery split
    * are the tools. Same edges, same components, one extra bounded
    * rollup (the size histogram has at most O(√E) distinct sizes —
    * Σ m_i ≤ 2E bounds how many distinct sizes can coexist).
    *
    * Scale (100 TB): everything after [[ConnectedComponents]] is two
    * aggregations of the node-bounded label table plus a 1-row total
    * broadcast (the e22 pattern).
    */
  private def e133ClusterCensus = QueryDef.pinned(
    "e133_cluster_census",
    s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
       |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
       |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
       |sz AS (SELECT cluster, count(*) AS m FROM comp GROUP BY cluster),
       |tot AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM sz)
       |SELECT CAST(m AS BIGINT) AS cluster_size,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(count(*) * m AS BIGINT) AS n_docs,
       |  CAST(count(*) * m * 10000 // tot.n AS BIGINT) AS doc_share_bp
       |FROM sz CROSS JOIN tot GROUP BY m, tot.n
       |ORDER BY cluster_size""".stripMargin) { (p, s, dir) =>
    val pairs = minhashVerifiedPairs(s, dir)
      .filter(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b")
    val sz = p.own(graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b"))
      .groupBy(col("comp")).agg(count(lit(1)).as("m"))
    val tot = sz.agg(sum(col("m")).as("n"))
    sz.groupBy("m")
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("m").as("cluster_size"), col("n_clusters"),
        (col("n_clusters") * col("m")).as("n_docs"),
        expr("n_clusters * m * 10000 div n").as("doc_share_bp"))
      .orderBy(col("cluster_size"))
  }

  /** Cluster-consistent train/val/test assignment — the REPAIR for the
    * leakage e57 measures: e23's deterministic 80/10/10 hash split,
    * keyed by each document's near-dup CLUSTER representative instead
    * of its own doc_id, so every member of a duplicate cluster lands in
    * the same split BY CONSTRUCTION and no verified near-dup pair can
    * straddle a split boundary (eval contamination via duplicates
    * becomes structurally impossible rather than merely audited).
    * Identical draw machinery to e23 ([[graft.gen.MockData.hashLong]],
    * same seed/tag/thresholds): a singleton document (its own cluster)
    * gets exactly e23's assignment, so the repair CHANGES only
    * documents whose cluster representative differs — the minimal
    * perturbation of the existing split.
    *
    * Output (one row per split): docs, clusters, share, verified pairs
    * INSIDE the split, plus two global audit columns — pairs_crossing
    * (0 by construction; emitted so the oracle proves it rather than
    * the docstring asserting it) and naive_crossing (the pairs that DO
    * straddle under e23's per-doc assignment — the leakage this
    * operator removes, e57's headline number recomputed in-query for
    * the direct contrast).
    *
    * Scale (100 TB): components from the banding-bounded pair graph
    * ([[graft.operators.ConnectedComponents]]); the assignment is one
    * left join of the node-bounded label table onto documents (docs
    * not in any pair — the overwhelming majority — take the
    * doc_id-keyed draw with no join hit); the audit is two joins of
    * the bounded pair list against the assignment. The split itself
    * adds ZERO corpus-sized work to what e32 already pays.
    */
  private def e135ClusterSplit = {
    val seed = 42L
    val t80 = math.ceil(0.8 * P).toLong
    val t90 = math.ceil(0.9 * P).toLong
    def splitDuck(key: String): String =
      s"""CASE WHEN ${graft.gen.MockData.hashLongDuck(seed, "split", key)}
         |    < $t80 THEN 'train'
         |  WHEN ${graft.gen.MockData.hashLongDuck(seed, "split", key)}
         |    < $t90 THEN 'val' ELSE 'test' END""".stripMargin
    QueryDef.pinned(
      "e135_cluster_split",
      s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |asg AS (SELECT d.doc_id,
         |    coalesce(c.cluster, d.doc_id) AS cluster,
         |    ${splitDuck("coalesce(c.cluster, d.doc_id)")} AS split,
         |    ${splitDuck("d.doc_id")} AS naive_split
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM asg),
         |pj AS (SELECT sa.split AS split_a, sb.split AS split_b,
         |    sa.naive_split AS nsplit_a, sb.naive_split AS nsplit_b
         |  FROM pairs p JOIN asg sa ON sa.doc_id = p.doc_a
         |  JOIN asg sb ON sb.doc_id = p.doc_b),
         |crossc AS (SELECT
         |    CAST(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pairs_crossing,
         |    CAST(sum(CASE WHEN nsplit_a <> nsplit_b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS naive_crossing
         |  FROM pj),
         |within AS (SELECT split_a AS split,
         |    CAST(count(*) AS BIGINT) AS pairs_within
         |  FROM pj WHERE split_a = split_b GROUP BY 1)
         |SELECT a.split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT a.cluster) AS BIGINT) AS n_clusters,
         |  CAST(count(*) * 10000 // tot.n AS BIGINT) AS share_bp,
         |  coalesce(any_value(w.pairs_within), 0) AS pairs_within,
         |  any_value(cc.pairs_crossing) AS pairs_crossing,
         |  any_value(cc.naive_crossing) AS naive_crossing
         |FROM asg a CROSS JOIN tot CROSS JOIN crossc cc
         |LEFT JOIN within w ON w.split = a.split
         |GROUP BY a.split, tot.n
         |ORDER BY a.split""".stripMargin) { (p, s, dir) =>
      // comp (CC) + the two audit joins all read the pair list; cut
      // once so the banding pipeline runs once (the e132 discipline)
      val pairs = p.checkpoint(minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b"))
      val comp = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
      def splitOf(key: Column): Column = {
        val draw = graft.gen.MockData.hashLong(seed, "split", key)
        when(draw < t80, "train").when(draw < t90, "val")
          .otherwise("test")
      }
      val asg = Tables.documents(s, dir).select(col("doc_id"))
        .join(comp.select(col("node"), col("comp")),
          col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster"))
        .select(col("doc_id"), col("cluster"),
          splitOf(col("cluster")).as("split"),
          splitOf(col("doc_id")).as("naive_split"))
      val pj = pairs
        .join(asg.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(asg.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("sa.split").as("split_a"), col("sb.split").as("split_b"),
          col("sa.naive_split").as("nsplit_a"),
          col("sb.naive_split").as("nsplit_b"))
      val crossc = pj.agg(
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .as("pairs_crossing"),
        sum(when(col("nsplit_a") =!= col("nsplit_b"), 1L).otherwise(0L))
          .as("naive_crossing"))
      val within = pj.filter(col("split_a") === col("split_b"))
        .groupBy(col("split_a").as("split"))
        .agg(count(lit(1)).as("pairs_within"))
      val tot = asg.agg(count(lit(1)).as("n"))
      // pairs stays checkpointed for the final job (pj reads it lazily
      // after CC consumed it eagerly) — the bounded-table leak e132
      // accepts; releasing here would unpersist blocks the audit joins
      // still need.
      asg.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(crossc))
        .join(broadcast(within), Seq("split"), "left")
        .select(col("split"), col("n_docs"), col("n_clusters"),
          expr("n_docs * 10000 div n").as("share_bp"),
          coalesce(col("pairs_within"), lit(0L)).as("pairs_within"),
          col("pairs_crossing"), col("naive_crossing"))
        .orderBy(col("split"))
    }
  }

  /** The e32 clustering with the edge-REWRITING components algorithm
    * ([[graft.operators.StarComponents]], Kiveris et al. SoCC'14
    * large-star/small-star) instead of label propagation — the
    * scale path for crawl-shaped duplicate clusters whose pair graphs
    * are near-quadratic in cluster size: the rewrite collapses a dense
    * cluster's edge set toward |V| star edges within the first rounds,
    * where the label algorithm re-joins the full edge set every round.
    * Same unique fixpoint (node → component-min), so the oracle is
    * e32's recursive CTE verbatim; StarComponentsSpec additionally pins
    * exact agreement between the two operators on adversarial graphs.
    */
  private def e46CcStar =
    QueryDef.pinned(
      "e46_cc_star",
      s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
         |SELECT c.node AS doc_id, c.cluster, s.cluster_size,
         |  CAST(c.node = c.cluster AS INT) AS canonical
         |FROM comp c
         |JOIN (SELECT cluster, count(*) AS cluster_size FROM comp
         |      GROUP BY cluster) s USING (cluster)
         |ORDER BY doc_id""".stripMargin) { (p, s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
      val comp = p.own(graft.operators.StarComponents
        .components(pairs, "doc_a", "doc_b"))
      val sizes = comp.groupBy(col("comp").as("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
      comp.select(col("node").as("doc_id"), col("comp").as("cluster"))
        .join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          (col("doc_id") === col("cluster")).cast("int").as("canonical"))
    }

  /** Cross-source duplication MATRIX — the report a crawl-curation run
    * reads before deciding which source to dedup against which: for
    * every (unordered) source pair, how many verified near-dup pairs
    * span it and how many distinct documents are involved. Mirrors vs
    * crawls show up as heavy off-diagonal cells; within-source
    * boilerplate as the diagonal. One small join of the (bounded)
    * near-dup pair list back to the documents' source column — pair
    * generation is e3's shared machinery, the matrix is #sources² rows.
    */
  private def e52DupMatrix =
    QueryDef.sql(
      "e52_dup_matrix",
      s"""$minhashPairsDuck,
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |lab AS (SELECT least(da.source, db.source) AS src_lo,
         |    greatest(da.source, db.source) AS src_hi,
         |    doc_a, doc_b
         |  FROM pairs
         |  JOIN documents da ON da.doc_id = doc_a
         |  JOIN documents db ON db.doc_id = doc_b),
         |stacked AS (SELECT src_lo, src_hi, doc_a AS doc FROM lab
         |  UNION ALL SELECT src_lo, src_hi, doc_b FROM lab)
         |SELECT src_lo, src_hi, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
         |  count(DISTINCT doc) AS n_docs_touched
         |FROM stacked GROUP BY src_lo, src_hi
         |ORDER BY src_lo, src_hi""".stripMargin) { (s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
      val srcs = Tables.documents(s, dir).select(
        col("doc_id"), col("source"))
      // n_docs_touched is a TRUE distinct count over both pair endpoints:
      // stack each pair into two (group, doc) rows, then count(*) / 2
      // recovers the pair count exactly (every pair contributes 2 rows)
      // while count(DISTINCT doc) no longer double-counts a document
      // that appears as doc_a in one pair and doc_b in another.
      pairs
        .join(srcs.as("da"), col("doc_a") === col("da.doc_id"))
        .join(srcs.as("db"), col("doc_b") === col("db.doc_id"))
        .select(
          least(col("da.source"), col("db.source")).as("src_lo"),
          greatest(col("da.source"), col("db.source")).as("src_hi"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy("src_lo", "src_hi")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("doc")).as("n_docs_touched"))
        .orderBy("src_lo", "src_hi")
    }

  /** Train/test SPLIT-LEAKAGE audit — the dataset-quality check a
    * training run demands before benchmark decontamination (e20) even
    * matters: near-duplicate pairs that STRADDLE e23's deterministic
    * train/val/test split leak evaluation data into training. Pair
    * generation is e3's shared banded machinery; each verified pair is
    * labeled with its endpoints' splits (a pure doc_id hash — no join
    * against a split table) and rolled up into the split×split matrix
    * with true distinct-document counts (the e52 stacking). The
    * diagonal is benign intra-split duplication; off-diagonal cells
    * are the leaks. #splits² rows of output.
    */
  private def e57SplitLeakage = {
    val seed = 42L
    val t80 = math.ceil(0.8 * P).toLong
    val t90 = math.ceil(0.9 * P).toLong
    def splitDuck(e: String): String = {
      val draw = graft.gen.MockData.hashLongDuck(seed, "split", e)
      s"CASE WHEN $draw < $t80 THEN 'train' WHEN $draw < $t90 THEN 'val'" +
        " ELSE 'test' END"
    }
    QueryDef.sql(
      "e57_split_leakage",
      s"""$minhashPairsDuck,
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |lab AS (SELECT
         |    least(${splitDuck("doc_a")}, ${splitDuck("doc_b")}) AS split_lo,
         |    greatest(${splitDuck("doc_a")}, ${splitDuck("doc_b")}) AS split_hi,
         |    doc_a, doc_b
         |  FROM pairs),
         |stacked AS (SELECT split_lo, split_hi, doc_a AS doc FROM lab
         |  UNION ALL SELECT split_lo, split_hi, doc_b FROM lab)
         |SELECT split_lo, split_hi, CAST(count(*) / 2 AS BIGINT) AS n_pairs,
         |  count(DISTINCT doc) AS n_docs_touched,
         |  CAST(CASE WHEN split_lo = split_hi THEN 0 ELSE 1 END AS INT)
         |    AS is_leak
         |FROM stacked GROUP BY split_lo, split_hi
         |ORDER BY split_lo, split_hi""".stripMargin) { (s, dir) =>
      def splitOf(c: org.apache.spark.sql.Column) = {
        val draw = graft.gen.MockData.hashLong(seed, "split", c)
        when(draw < t80, "train").when(draw < t90, "val").otherwise("test")
      }
      minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select(
          least(splitOf(col("doc_a")), splitOf(col("doc_b"))).as("split_lo"),
          greatest(splitOf(col("doc_a")), splitOf(col("doc_b"))).as("split_hi"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy("split_lo", "split_hi")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("doc")).as("n_docs_touched"))
        .select(col("split_lo"), col("split_hi"), col("n_pairs"),
          col("n_docs_touched"),
          (col("split_lo") =!= col("split_hi")).cast("int").as("is_leak"))
        .orderBy("split_lo", "split_hi")
    }
  }

  /** The dedup APPLY step — the last mile after pair generation (e3)
    * and clustering (e32): drop every non-canonical cluster member
    * (keep = min doc_id per component; identical docs share Jaccard 1.0
    * so exact dups are subsumed) and report the per-language yield a
    * curation run logs: docs in, docs kept, docs dropped. The drop set
    * is one anti-join side of size Σ(cluster_size − 1) — near-dup
    * count, far below corpus size — so applying dedup costs one keyed
    * join over the corpus regardless of cluster structure.
    */
  private def e45DedupApply =
    QueryDef.pinned(
      "e45_dedup_apply",
      s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |losers AS (SELECT node AS doc_id FROM comp WHERE node <> cluster)
         |SELECT d.lang, count(*) AS n_docs,
         |  count(CASE WHEN l.doc_id IS NULL THEN 1 END) AS n_kept,
         |  count(l.doc_id) AS n_dropped
         |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (p, s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
      val losers = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
        .filter(col("node") =!= col("comp"))
        .select(col("node").as("doc_id"), lit(1).as("dropped"))
      Tables.documents(s, dir).select("doc_id", "lang")
        .join(losers, Seq("doc_id"), "left")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          count(when(col("dropped").isNull, 1)).as("n_kept"),
          count(col("dropped")).as("n_dropped"))
        .orderBy("lang")
    }

  /** DEDUP YIELD report: the per-source audit every production dedup
    * pipeline ships — how many documents (and characters) each stage
    * removes, broken out by exact-duplicate drops (e1's min-id-per-
    * digest rule) vs near-duplicate drops (e45's cluster-canonical
    * rule), with kept counts and the char yield. Classification is
    * prioritized: a doc that is both an exact copy and a near-dup
    * cluster loser counts as an exact drop (the cheaper stage catches
    * it first in the real pipeline order). The digest is only a
    * GROUPING key, so each engine can use its native hash (sha2 vs
    * md5) — the e1 discipline.
    *
    * Shape at 100 TB: the exact stage is one digest groupBy (never
    * shuffles text — 32-byte digests); the near stage reuses the e3/e45
    * banded candidate machinery verbatim; the report itself is a
    * #sources-row rollup. Chars are int64 sums — exact to 9.2×10¹⁸
    * chars, comfortably past 100 TB of text.
    */
  private def e71DedupYield = QueryDef.pinned(
    "e71_dedup_yield",
    s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
       |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
       |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
       |losers AS (SELECT node AS doc_id FROM comp WHERE node <> cluster),
       |fx AS (SELECT doc_id, source, n_chars,
       |    min(doc_id) OVER (PARTITION BY md5(text)) AS first_id
       |  FROM documents),
       |cls AS (SELECT f.source, f.n_chars,
       |    CASE WHEN f.doc_id <> f.first_id THEN 1 ELSE 0 END AS ex,
       |    CASE WHEN f.doc_id = f.first_id AND l.doc_id IS NOT NULL
       |      THEN 1 ELSE 0 END AS nr
       |  FROM fx f LEFT JOIN losers l ON f.doc_id = l.doc_id)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(ex) AS BIGINT) AS n_exact_dropped,
       |  CAST(sum(nr) AS BIGINT) AS n_near_dropped,
       |  CAST(count(*) - sum(ex) - sum(nr) AS BIGINT) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(sum(CASE WHEN ex = 0 AND nr = 0 THEN n_chars ELSE 0 END)
       |    AS BIGINT) AS chars_kept
       |FROM cls GROUP BY source ORDER BY source""".stripMargin) { (p, s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        sha2(col("text"), 256).as("dig"))
    val firsts = docs.groupBy("dig").agg(min(col("doc_id")).as("first_id"))
    val nearLosers = p.own(graft.operators.ConnectedComponents
      .components(
        minhashVerifiedPairs(s, dir).filter(col("jaccard") >= 0.2)
          .select("doc_a", "doc_b"),
        "doc_a", "doc_b"))
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"), lit(1).as("near"))
    docs.join(firsts, "dig")
      .join(nearLosers, Seq("doc_id"), "left")
      .select(col("source"), col("n_chars"),
        when(col("doc_id") =!= col("first_id"), 1L).otherwise(0L).as("ex"),
        when(col("doc_id") === col("first_id") && col("near").isNotNull,
          1L).otherwise(0L).as("nr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ex")).as("n_exact_dropped"),
        sum(col("nr")).as("n_near_dropped"),
        (count(lit(1)) - sum(col("ex")) - sum(col("nr"))).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("ex") === 0 && col("nr") === 0, col("n_chars"))
          .otherwise(0L)).as("chars_kept"))
      .orderBy("source")
  }

  /** QUALITY-AWARE dedup survivor selection: per near-dup cluster
    * (e32's components over the verified-pair graph), keep the LONGEST
    * member — max n_chars, ties to the lower doc_id — instead of e45's
    * positional min-id rule. The policy that matters when near-dups are
    * truncations/mirrors of one another: min-id keeps whichever copy
    * crawled first, this keeps the most complete copy. Same shapes as
    * e45 (banded pair generation, pointer-jumping components) plus one
    * cluster-keyed argmax — a struct-max aggregate, no window over
    * cluster members (a mega-cluster's rows spread across tasks and
    * combine map-side; the DuckDB oracle uses max-then-filter because
    * struct ORDERING is not engine-portable, argmax VALUES are).
    */
  private def e65DedupBest =
    QueryDef.pinned(
      "e65_dedup_best",
      s"""WITH RECURSIVE ${minhashPairsDuck.stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |m AS (SELECT comp.cluster, comp.node, d.n_chars
         |  FROM comp JOIN documents d ON d.doc_id = comp.node),
         |best AS (SELECT cluster, max(n_chars) AS survivor_chars
         |  FROM m GROUP BY cluster),
         |surv AS (SELECT m.cluster, min(node) AS survivor
         |  FROM m JOIN best USING (cluster)
         |  WHERE n_chars = survivor_chars GROUP BY m.cluster),
         |sz AS (SELECT cluster, count(*) AS cluster_size FROM comp
         |  GROUP BY cluster)
         |SELECT s.cluster, s.survivor, b.survivor_chars, z.cluster_size
         |FROM surv s JOIN best b USING (cluster) JOIN sz z USING (cluster)
         |ORDER BY s.cluster""".stripMargin) { (p, s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
      val comp = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
      val m = comp
        .join(Tables.documents(s, dir).select(
          col("doc_id").as("node"), col("n_chars")), "node")
      // argmax as ONE struct-max (the e17 discipline): max (n_chars,
      // -node) = longest member, ties to the LOWER doc_id
      m.groupBy(col("comp").as("cluster"))
        .agg(
          max(struct(col("n_chars"), (-col("node")).as("nn"))).as("mx"),
          count(lit(1)).as("cluster_size"))
        .select(col("cluster"), (-col("mx.nn")).as("survivor"),
          col("mx.n_chars").as("survivor_chars"), col("cluster_size"))
        .orderBy("cluster")
    }

  /** Adds `n_same` = cluster size of `keyCol` via groupBy(key).count +
    * an equi-join back — NOT `count over (partition by key)`: a window
    * keyed on the fingerprint puts every row of a hot fingerprint in one
    * task, and the dedup-heavy corpora these operators target (millions
    * of identical boilerplate docs) make that partition a straggler. The
    * aggregate side here is one row per distinct key, and the join back
    * shuffles both sides evenly; AQE's skew-join handles a residual hot
    * key in the probe side.
    */
  private def withClusterSize(
      df: DataFrame, keyCol: String, cntName: String): DataFrame = {
    // Repartition by the key FIRST: both branches (the count aggregation
    // and the join probe) then consume the SAME exchange — the expensive
    // fingerprint expression and its shuffle are computed once
    // (ReuseExchange), and neither branch inserts a second shuffle since
    // HashPartitioning(key) already satisfies their distribution.
    val clustered = df.repartition(col(keyCol))
    // count(coalesce(<all other columns as string>)) — equal to count(*)
    // as long as some non-key column is non-null per row (true for every
    // caller: doc_id is never null), but referencing every column stops
    // column pruning from specializing this branch's scan, which would
    // re-derive the fingerprint in a SECOND scan instead of reading the
    // shared exchange. (count(struct(...)) does NOT work: the optimizer
    // rewrites count of a non-nullable expression back to count(1) and
    // the pruning returns.)
    val others = df.columns.filterNot(_ == keyCol)
      .map(c => col(c).cast("string")).toIndexedSeq
    val witness = if (others.isEmpty) count(lit(1)) else count(coalesce(others: _*))
    val counts = clustered.groupBy(keyCol).agg(witness.as(cntName))
    clustered.join(counts, keyCol)
  }

  /** SimHash document fingerprint: 32-bit signature where bit j is the
    * majority vote of bit j across the word hashes. Linear in corpus size
    * (one pass, no pairing); `n_same` counts exact-signature cluster sizes
    * — the cheap fingerprint-level dedup. Near-identical word profiles
    * land in the same cluster.
    */
  /** DuckDB expression for the 32-bit SimHash over a word-hash list
    * `wh` (majority vote per bit) — shared by e4 and e28. */
  private[queries] def simhashBitsDuck: String =
    (0 until 32).map { j =>
      s"(CASE WHEN 2*len(list_filter(wh, x -> (x >> $j) & 1 = 1)) > len(wh)" +
        s" THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  private def e4Simhash = {
    val bitsDuck = simhashBitsDuck
    QueryDef.sql(
      "e4_simhash",
      s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT doc_id, $bitsDuck AS simhash FROM w
         |  WHERE len(wh) > 0)
         |SELECT doc_id, simhash,
         |  count(*) OVER (PARTITION BY simhash) AS n_same
         |FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val fp = Tables.documents(s, dir)
        .filter(size(F.word_hashes(col("text"))) > 0)
        .select(col("doc_id"), F.sim_hash(col("text")).as("simhash"))
      withClusterSize(fp, "simhash", "n_same")
        .select("doc_id", "simhash", "n_same")
    }
  }

  /** SimHash NEAR-dup pairs — the actual simhash dedup algorithm (e4
    * only clusters exact signatures): candidates from 15-bit-band
    * bucketing of the 60-BIT signature, verified by hamming distance
    * <= 3. Pigeonhole gives EXACT recall at this threshold: 3 differing
    * bits cannot touch all 4 bands, so every qualifying pair shares at
    * least one band bucket. The 60-bit signature (not e4's 32) is what
    * makes the shape hold on a narrow-vocabulary corpus: at 32 bits the
    * majority vote saturates and band buckets go quadratic-dense
    * (measured: 15.8M collisions over 5k docs); at 60 bits with 32k
    * bucket values per band, collisions track genuine similarity. The
    * signature rides the band explode (one BIGINT — no second join to
    * fetch it) and hamming is a codegen'd xor+bit_count. A residual hot
    * band value takes the e6-style cap (salt + re-split) as its lever.
    */
  private def e28SimhashNeardup = {
    val P2 = Portable.P
    // Band-bucket cap (the all-buckets-capped rule, e6-style sub-split):
    // narrow-vocab corpora concentrate signatures, and band-bucket
    // self-join work is quadratic in bucket population — measured 3.15M
    // candidate pairs at sf0.1 (max bucket 1825) growing 100x to 316M on
    // a 10x duplicate-heavy replica corpus. Splitting each bucket into
    // ceil(cnt/cap) id-hashed sub-buckets bounds pair work at the cost
    // of recall only in buckets that exceed the cap; 2000 > the largest
    // test-SF bucket, so results below that scale are provably
    // unchanged (ns = 1 everywhere), mirrored in the oracle.
    val bucketCap = 2000L
    val bits60Duck = (0 until 60).map { j =>
      val src = if (j < 32) "x" else s"(x * ((x + 13) % $P2) % $P2)"
      val bit = if (j < 32) j else j - 32
      s"(CASE WHEN 2*len(list_filter(wh, x -> ($src >> $bit) & 1 = 1))" +
        s" > len(wh) THEN CAST(${1L << j} AS BIGINT)" +
        " ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    QueryDef.sql(
    "e28_simhash_neardup",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, $bits60Duck AS sig FROM w
       |  WHERE len(wh) > 0),
       |bands AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band_id
       |  FROM sh),
       |kb0 AS (SELECT doc_id, sig, band_id,
       |    (sig >> (band_id * 15)) & 32767 AS band_val FROM bands),
       |cn AS (SELECT band_id, band_val,
       |    (count(*) + ${bucketCap - 1}) // $bucketCap AS ns
       |  FROM kb0 GROUP BY band_id, band_val),
       |kb AS (SELECT kb0.*, doc_id % ns AS sub
       |  FROM kb0 JOIN cn USING (band_id, band_val)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.sig, b.sig)) AS hamming
       |  FROM kb a JOIN kb b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val
       |   AND a.sub = b.sub
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM cand WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val sh = Tables.documents(s, dir)
      .filter(size(F.word_hashes(col("text"))) > 0)
      .select(col("doc_id"), F.sim_hash60(col("text")).as("sig"))
    val kb0 = sh
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("band_id"))
      .withColumn("band_val", expr("shiftright(sig, band_id * 15) & 32767"))
    // one row per occupied (band, bucket) — tiny; both joins broadcast
    val cn = kb0.groupBy("band_id", "band_val")
      .agg(expr(s"(count(1) + ${bucketCap - 1}L) div ${bucketCap}L")
        .as("ns"))
    val kb = kb0.join(cn, Seq("band_id", "band_val"))
      .withColumn("sub", pmod(col("doc_id"), col("ns")))
    kb.as("a")
      .join(kb.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("hamming"))
      // filter BEFORE distinct: hamming is a function of the pair, so
      // the result is identical but the dedup shuffle only carries
      // qualifying pairs instead of every band collision
      .filter(col("hamming") <= 3)
      .distinct()
    }
  }

  /** Exact heavy hitters via sketch-then-verify: a Misra-Gries
    * TypedImperativeAggregate ([[graft.functions.sketches]], k = 127)
    * produces ≤ 127 candidate keys in ONE pass with k counters per
    * partition — no vocabulary-sized shuffle — and its guarantee (every
    * key with count > N/(k+1) survives) makes the candidate set a
    * superset of the answer for threshold count·128 > N. A second,
    * candidate-filtered pass counts exactly and thresholds — so the
    * FINAL output is deterministic and oracle-provable even though the
    * sketch's extra candidates are arrival-order dependent. The ≤ 127
    * candidate collect is bounded by construction (the same class as
    * the reference's ≤ 50-row XCom pool). At 100 TB this is the shape
    * that replaces a full-vocab groupBy when only the heavy tail
    * matters.
    *
    * The two passes (sketch, then exact count) share the exploded
    * postings frame through a cache — they are separate JOBS, so
    * ReuseExchange cannot help; at bench SF the persist halves the
    * query. The ≤ 127-row final answer is computed eagerly so the cache
    * is released before returning — no session-lifetime leak.
    */
  private def e29HeavyHitters = QueryDef.sql(
    "e29_heavy_hitters",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |ex AS (SELECT unnest(wh) AS h FROM w),
       |tot AS (SELECT count(*) AS n FROM ex)
       |SELECT h, count(*) AS cnt
       |FROM ex CROSS JOIN tot GROUP BY h, n
       |HAVING count(*) * 128 > n
       |ORDER BY h""".stripMargin) { (s, dir) =>
    Pins.scope { p =>
      val postings = p.persist(Tables.documents(s, dir)
        .select(explode(F.word_hashes(col("text"))).as("h")))
      val row = postings.agg(
        graft.functions.sketches.misra_gries(col("h"), 127).as("cand"),
        count(lit(1)).as("n")).head()
      val cand = row.getSeq[Long](0)
      val n = row.getLong(1)
      import s.implicits._
      postings.filter(col("h").isin(cand: _*))
        .groupBy("h").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 128 > n)
        .orderBy("h")
        .collect() // ≤ 127 rows by the MG guarantee
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("h", "cnt")
    }
  }

  /** Johnson-Lindenstrauss random projection (64 → 16 dims) with a
    * per-pair distance-distortion report — the dimensionality-reduction
    * lever that cuts every downstream ANN dot product 4×: project once,
    * search in 16-dim space, verify survivors in full dimension. The
    * projection matrix is the deterministic [-1,1) hyperplane family
    * ([[Portable.hyperplaneWeight]], planes 32–47 — an independent block
    * from e6's sign-LSH planes 0–11), scaled by √(3/k): uniform [-1,1)
    * weights have variance 1/3, so E[‖Px‖²] = ‖x‖² and the distortion
    * ratio is an unbiased JL estimate. The report pairs adjacent vectors
    * (vec_id, vec_id+1 — a keyed equi-join, no sampling shuffle) and
    * emits full-space vs projected distance plus their ratio: the
    * quality gate a pipeline checks before trusting projected-space
    * search. All folds are element-order left folds in both engines;
    * per-row expression work only, one narrow equi-join — linear at
    * 100 TB.
    */
  private def e47JlProject = {
    val k = 16
    val planeOff = 32
    val scale = math.sqrt(3.0 / k)
    val scaleSql = java.lang.Double.toString(scale)
    def projDuck(j: Int): String =
      "(list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
        " list_transform(range(1, 65), d -> CAST(embedding[d] AS DOUBLE) * " +
        Portable.hyperplaneWeightDuck(planeOff + j) +
        s")), (s, v) -> s + v) * $scaleSql)"
    def sqFoldDuck(diffs: String): String =
      s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform($diffs, x -> x * x)), (s, v) -> s + v))""".stripMargin
    QueryDef.sql(
      "e47_jl_project",
      s"""WITH p AS (SELECT vec_id, embedding,
         |    [${(0 until k).map(projDuck).mkString(",\n     ")}] AS proj
         |  FROM embeddings),
         |j AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    list_transform(range(1, 65), i ->
         |      CAST(a.embedding[i] AS DOUBLE) -
         |      CAST(b.embedding[i] AS DOUBLE)) AS dfull,
         |    list_transform(range(1, 17), i -> a.proj[i] - b.proj[i]) AS dproj
         |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1),
         |d AS (SELECT vec_a, vec_b, ${sqFoldDuck("dfull")} AS df,
         |    ${sqFoldDuck("dproj")} AS dp
         |  FROM j)
         |SELECT vec_a, vec_b, round(df, 4) AS dist_full,
         |  round(dp, 4) AS dist_proj,
         |  CASE WHEN df > 0 THEN round(dp / df, 4) + 0 END AS distortion
         |FROM d ORDER BY vec_a""".stripMargin) { (s, dir) =>
      val embD = col("embedding").cast("array<double>")
      val proj = array((0 until k).map { j =>
        val w = array((0 until 64).map(d =>
          lit(Portable.hyperplaneWeight(planeOff + j, d))): _*)
        F.array_dot(embD, w) * lit(scale)
      }: _*)
      val p = Tables.embeddings(s, dir)
        .select(col("vec_id"), embD.as("emb"), proj.as("proj"))
      def dist(a: Column, b: Column): Column = {
        val diff = zip_with(a, b, (x, y) => x - y)
        sqrt(F.array_dot(diff, diff))
      }
      p.as("a")
        .join(p.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .select(
          col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          dist(col("a.emb"), col("b.emb")).as("df"),
          dist(col("a.proj"), col("b.proj")).as("dp"))
        .select(
          col("vec_a"), col("vec_b"),
          round(col("df"), 4).as("dist_full"),
          round(col("dp"), 4).as("dist_proj"),
          when(col("df") > 0, round(col("dp") / col("df"), 4))
            .as("distortion"))
    }
  }

  /** Left-fold dot product of two ARRAY<DOUBLE> columns via the compiled
    * ArrayDot expression. Fold order is element order in BOTH engines, so
    * results are bit-identical to the oracle's list_reduce.
    */
  private def dot(a: Column, b: Column): Column = F.array_dot(a, b)

  private def dotDuck(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, 65),
       |    i -> CAST($a.embedding[i] AS DOUBLE)
       |       * CAST($b.embedding[i] AS DOUBLE))),
       |  (s, v) -> s + v)""".stripMargin

  private def normDuck(a: String): String = s"sqrt(${dotDuck(a, a)})"

  /** Exact brute-force cosine top-k with a GUARDED broadcast: the query
    * set is broadcast only while it is provably small (an early-stopping
    * `limit(max+1).count()` probe — never a full count of a large side).
    * Past the threshold the query set is processed in hash-partitioned
    * chunks whose EXPECTED size is `maxBroadcastQueries / 2` rows (the
    * chunk count is doubled so the broadcast target carries 2x headroom:
    * hash-mod chunking bounds expected size, not worst case, and a chunk
    * only breaches `maxBroadcastQueries` after a 2x binomial deviation —
    * for the multi-million-row sets that trigger chunking that is a
    * many-sigma event, vanishing as exp(-m/chunks) by Chernoff). Chunking
    * by query_id keeps the result EXACT (top-k is per query, and each
    * query lands in exactly one chunk); the cost of a too-large query set
    * is extra corpus scans, never an executor OOM. `q` must have columns
    * (query_id, qe); `corpus` (neighbor_id, ce).
    */
  def cosineTopkExact(
      q: DataFrame, corpus: DataFrame, k: Int,
      maxBroadcastQueries: Long = 500000L): DataFrame = {
    // Per-vector norms are computed ONCE per side before pairing, so each
    // of the |q| x |corpus| candidate pairs costs one dot product instead
    // of three (identical doubles: same sqrt inputs, one multiplication).
    val qn = q.withColumn("qn", sqrt(dot(col("qe"), col("qe"))))
    val cn = corpus.withColumn("cn", sqrt(dot(col("ce"), col("ce"))))
    val cosine = round(
      dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 4)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    def topk(queries: DataFrame): DataFrame =
      cn.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), cosine.as("cosine"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .drop("rk")
    // Size probe on the KEY COLUMN ONLY (early-stopping limit over a
    // pruned scan — never materializes the vectors just to count them).
    val probe = q.select("query_id").limit(
      (math.min(maxBroadcastQueries + 1, Int.MaxValue.toLong)).toInt).count()
    val chunks =
      if (probe <= maxBroadcastQueries) Seq(qn)
      else {
        // 2x chunk count: expected chunk size maxBroadcastQueries/2, so a
        // skewed chunk needs a 2x deviation to breach the broadcast guard.
        val n = ((2 * q.count() + maxBroadcastQueries - 1) / maxBroadcastQueries)
          .toInt.max(2)
        (0 until n).map(i =>
          qn.filter(pmod(xxhash64(col("query_id")), lit(n)) === i))
      }
    chunks.map(topk).reduce(_ unionByName _)
      .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
  }

  /** Brute-force cosine top-k — the exact baseline for similarity search.
    * The query set (vec_id % 50 = 0, i.e. ~2% of the corpus) is broadcast
    * via the guarded [[cosineTopkExact]]; the corpus is scanned once, no
    * corpus x corpus pairing. Scores are rounded to 4dp BEFORE ranking so
    * the rank order is reproducible across engines.
    *
    * Plan note: Spark rewrites the row_number-filter into partial-mode
    * WindowGroupLimit BEFORE the exchange, so only <= k candidate rows
    * per (query, partition) are shuffled — map-side top-k for free; no
    * custom aggregate needed.
    */
  private def e5CosineTopk = QueryDef.sql(
    "e5_cosine_topk",
    s"""WITH q AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(${dotDuck("q", "c")} /
       |      (${normDuck("q")} * ${normDuck("c")}), 4) + 0 AS cosine
       |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, cosine FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) <= 5
       |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) {
    (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qe"))
      val c = emb
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("ce"))
      cosineTopkExact(q, c, k = 5)
  }

  /** e5's exact cosine top-k with the PAIR-SCALE payload quantized —
    * the e147b int8 lever extended to the exact-cosine family: e5/e125
    * ship 512 B ARRAY<DOUBLE> per vector per side
    * of every query×corpus score row, and the e147b probe measured
    * that payload as ~all of the shuffle (4.7× cut with 64-byte
    * Int8Pack codes). Here the corpus-scale scoring join carries ONLY
    * (code, scale) — 72 B — scored by the codegen'd Int8Dot; the
    * quantized top-2k survivors (a 2× RERANK BUFFER, the standard
    * retrieve-then-rerank shape) are re-scored EXACTLY in float on
    * k·|q| bounded rows, and the final top-k ranks by the exact
    * cosine. The output carries the DISTORTION AUDIT the in-place swap
    * would hide: `err_t` = (quantized − exact) in ten-thousandths per
    * survivor — the per-corpus evidence for whether the int8 index can
    * serve without the rerank (here: |err_t| ≤ a few ten-thousandths,
    * the e93 measurement).
    *
    * Determinism: e147b's contract verbatim — symmetric scale
    * max|uv|/127, round-half-up byte codes, 4-dp + id tie-break on
    * BOTH rankings, float truth folded sequentially.
    *
    * Scale (100 TB of vectors): identical plan shape to e5 (guarded
    * query broadcast, map-side WindowGroupLimit top-k) with 8× less
    * pair-join payload; the float vectors enter only the k'·|q|
    * rerank join. The broadcast guard is e5's: probe the query-set
    * size with an early-stopping limit, hash-chunk past the
    * threshold.
    */
  private def e5bCosineTopkInt8 = {
    val K = 5
    val KR = 2 * K
    def dotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    def qdotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.pinned(
      "e5b_cosine_topk_int8",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(${dotD("v", "v")}) AS nrm FROM b),
         |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |qsc AS (SELECT vec_id, uv,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(uv, x -> abs(x))), (a, x) -> greatest(a, x))
         |      / 127 AS scale
         |  FROM u),
         |r AS MATERIALIZED (SELECT vec_id, uv, scale,
         |    list_transform(range(1, 65),
         |      i -> CAST(floor(uv[i] / scale + 0.5) AS BIGINT)) AS qv
         |  FROM qsc WHERE scale > 0),
         |q AS (SELECT * FROM r WHERE vec_id % 50 = 0),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round((${qdotD("q.qv", "c.qv")} * q.scale) * c.scale, 4)
         |      + 0 AS qcos
         |  FROM q JOIN r c ON q.vec_id <> c.vec_id),
         |cands AS MATERIALIZED (SELECT query_id, neighbor_id, qcos
         |  FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY qcos DESC, neighbor_id) <= $KR),
         |ex AS (SELECT t.query_id, t.neighbor_id, t.qcos,
         |    round(${dotD("a.uv", "c.uv")}, 4) + 0 AS cosine
         |  FROM cands t
         |  JOIN r a ON a.vec_id = t.query_id
         |  JOIN r c ON c.vec_id = t.neighbor_id)
         |SELECT query_id, neighbor_id, cosine,
         |  CAST(round((qcos - cosine) * 10000) AS BIGINT) AS err_t
         |FROM ex
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) <= $K
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) {
      (p, s, dir) =>
        // reused by the score join (code side) and the bounded float
        // rerank side
        val r = p.checkpoint(Tables.embeddings(s, dir)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
          .filter(col("nrm") > 0)
          .withColumn("uv", transform(col("v"), x => x / col("nrm")))
          .withColumn("scale", F.int8_scale(col("uv")))
          .filter(col("scale") > 0)
          .select(col("vec_id"), col("uv"), col("scale"),
            F.int8_pack(col("uv")).as("code")))
        val q = r.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"), col("code").as("qc"),
            col("scale").as("qs"))
        // e5's guarded broadcast: probe the query-set size with an
        // early-stopping limit; hash-chunk past the threshold so a
        // too-large query set costs extra corpus scans, never an OOM
        val maxB = 500000L
        val probe = q.select("query_id")
          .limit((maxB + 1).toInt).count()
        val qchunks =
          if (probe <= maxB) Seq(q)
          else {
            val n = ((2 * q.count() + maxB - 1) / maxB).toInt.max(2)
            (0 until n).map(i =>
              q.filter(pmod(xxhash64(col("query_id")), lit(n)) === i))
          }
        val corpus = r.select(col("vec_id").as("neighbor_id"),
          col("code").as("cc"), col("scale").as("cs"))
        val wq = Window.partitionBy(col("query_id"))
          .orderBy(col("qcos").desc, col("neighbor_id"))
        val cands = qchunks.map(qc =>
            corpus.join(broadcast(qc),
              col("query_id") =!= col("neighbor_id"))
              .select(col("query_id"), col("neighbor_id"),
                (round(F.int8_dot(col("qc"), col("cc")).cast("double")
                  * col("qs") * col("cs"), 4) + lit(0d)).as("qcos"))
              .withColumn("rk", row_number().over(wq))
              .filter(col("rk") <= KR).drop("rk"))
          .reduce(_ unionByName _)
        val ex = cands
          .join(r.select(col("vec_id").as("query_id"),
            col("uv").as("ua")), "query_id")
          .join(r.select(col("vec_id").as("neighbor_id"),
            col("uv").as("uc")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"), col("qcos"),
            (round(F.array_dot(col("ua"), col("uc")), 4) + lit(0d))
              .as("cosine"))
        val we = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        ex.withColumn("rk", row_number().over(we))
          .filter(col("rk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            round((col("qcos") - col("cosine")) * 10000).cast("long")
              .as("err_t"))
          .orderBy(col("query_id"), col("cosine").desc,
            col("neighbor_id"))
    }
  }

  /** EMBEDDING-TRUNCATION ablation (the Matryoshka/MRL serving
    * question, Kusupati et al. NeurIPS'22): retrieval quality of
    * PREFIX-truncated embeddings vs the full 64-dim ranking — for each
    * truncation d in {8,16,32,64}, rank the corpus per query by
    * d-prefix cosine and report how many of the full-dim top-10 the
    * truncated top-10 retains (recall@10, basis points). This is the
    * table a serving stack reads to pick its index dimension: d=64 is
    * the identity row (recall 10000 by construction), and the d where
    * recall plateaus is the cheapest faithful index.
    *
    * Shape at 100 TB: ONE query-broadcast pairing pass computes all
    * four prefix cosines per candidate (slices of one vector load — no
    * per-d rescan of the corpus), the per-(query,d) top-10 runs as a
    * partial-mode WindowGroupLimit before the shuffle (map-side top-k),
    * and everything after the rank filter is 40·|queries| rows. The
    * query count is a driver scalar (the e33 discipline).
    */
  private def e81MrlTruncation = {
    val ds = Seq(8, 16, 32, 64)
    def dotDuckD(a: String, b: String, d: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, ${d + 1}),
         |    i -> CAST($a.embedding[i] AS DOUBLE)
         |       * CAST($b.embedding[i] AS DOUBLE))),
         |  (s, v) -> s + v)""".stripMargin
    def cosDuck(d: Int): String =
      s"round(${dotDuckD("q", "c", d)} / (sqrt(${dotDuckD("q", "q", d)})" +
        s" * sqrt(${dotDuckD("c", "c", d)})), 4) + 0 AS cos$d"
    QueryDef.sql(
      "e81_mrl_truncation",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${ds.map(cosDuck).mkString(",\n    ")}
         |  FROM q JOIN embeddings c ON q.query_id <> c.vec_id),
         |st AS (${ds.map(d =>
             s"SELECT query_id, neighbor_id, $d AS d, cos$d AS cosine " +
               "FROM scored").mkString("\n  UNION ALL ")}),
         |top AS (SELECT query_id, d, neighbor_id FROM st
         |  QUALIFY row_number() OVER (PARTITION BY query_id, d
         |    ORDER BY cosine DESC, neighbor_id) <= 10),
         |truth AS (SELECT query_id, neighbor_id FROM top WHERE d = 64),
         |nq AS (SELECT count(*) AS n FROM q)
         |SELECT CAST(d AS BIGINT) AS d,
         |  CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(count(*) * 10000 // (max(nq.n) * 10) AS BIGINT)
         |    AS recall_bp
         |FROM top JOIN truth USING (query_id, neighbor_id)
         |CROSS JOIN nq
         |GROUP BY d ORDER BY d""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      def prefixed(df: DataFrame, vec: String, p: String): DataFrame =
        ds.foldLeft(df) { (acc, d) =>
          acc.withColumn(s"$p$d", slice(col(vec), 1, d))
            .withColumn(s"${p}n$d",
              sqrt(dot(col(s"$p$d"), col(s"$p$d"))))
        }.drop(vec)
      val q = prefixed(
        emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"),
            col("embedding").cast("array<double>").as("qe")),
        "qe", "q")
      val c = prefixed(
        emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("ce")),
        "ce", "c")
      // driver scalar: |queries| (e33 discipline — a 1-row BNLJ adds
      // nothing; the probe reads the pruned id column only)
      val nq = emb.filter(col("vec_id") % 50 === 0)
        .select("vec_id").count()
      val scored = c.join(broadcast(q),
          col("query_id") =!= col("neighbor_id"))
        .select(Seq(col("query_id"), col("neighbor_id")) ++
          ds.map(d => round(
            dot(col(s"q$d"), col(s"c$d")) / (col(s"qn$d") * col(s"cn$d")),
            4).as(s"cos$d")): _*)
      val st = scored.selectExpr("query_id", "neighbor_id",
        s"stack(${ds.size}, ${ds.map(d => s"$d, cos$d").mkString(", ")})" +
          " as (d, cosine)")
      val top = st.withColumn("rk",
          row_number().over(Window.partitionBy(col("query_id"), col("d"))
            .orderBy(col("cosine").desc, col("neighbor_id"))))
        .filter(col("rk") <= 10)
        .select("query_id", "d", "neighbor_id")
      val truth = top.filter(col("d") === 64)
        .select("query_id", "neighbor_id")
      top.join(truth, Seq("query_id", "neighbor_id"))
        .groupBy(col("d").cast("long").as("d"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("d"), col("n_hits"),
          expr(s"n_hits * 10000 div (${nq}L * 10)").as("recall_bp"))
        .orderBy("d")
    }
  }

  /** LSH-bucketed ANN — the scale path for similarity search: a `bits`-bit
    * sign signature from deterministic pseudo-random hyperplanes buckets
    * the corpus; neighbors are searched only inside the bucket (self-join
    * on the signature), top-`k` per vector.
    *
    * Scale levers, both parameterized:
    *  - `bits` — signature width. 2^bits buckets; raise it as the corpus
    *    grows so expected bucket size (N / 2^bits) stays bounded.
    *  - `bucketCap` — hard cap on the within-bucket self-join: buckets
    *    larger than the cap (skew: many near-parallel vectors share a
    *    signature) are SALTED into ceil(cnt / cap) sub-buckets by
    *    `vec_id % nsplits`, so no join task ever sees more than ~cap^2
    *    candidate pairs. Re-splitting trades recall inside the hot bucket
    *    (cross-sub-bucket neighbors are not compared) for a bounded
    *    worst case — the standard ANN recall/latency trade, applied only
    *    where skew actually occurs. The salting arithmetic is identical
    *    integer math in both engines, so the oracle proves the capped
    *    semantics, not just the happy path.
    *
    * Plan notes (verified via explain): the two pair-join sides reuse a
    * single repartition-by-sig exchange (ReusedExchange), so signatures
    * and norms are not re-evaluated per join side; the bucket-count
    * branch is column-pruned by Catalyst to an embedding-only scan (its
    * subtree legitimately diverges — recomputing a pruned projection
    * beats materializing a checkpoint at scan scale). The top-k filter
    * compiles to partial-mode WindowGroupLimit before its exchange,
    * shuffling <= k rows per (query, partition).
    */
  /** `bits`-bit sign-LSH signature of `embedding`, as paired DuckDB SQL
    * and Spark Column expressions (shared by annLsh and the multi-probe
    * variant).
    */
  private def lshSigDuck(bits: Int): String = (0 until bits).map { j =>
    "(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
      " list_transform(range(1, 65), d -> CAST(embedding[d] AS DOUBLE) * " +
      Portable.hyperplaneWeightDuck(j) +
      s")), (s, v) -> s + v) > 0 THEN CAST(${1L << j} AS BIGINT)" +
      " ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  private def lshSigSpark(bits: Int, embD: Column): Column =
    (0 until bits).map { j =>
      val wArr = array(
        (0 until 64).map(d => lit(Portable.hyperplaneWeight(j, d))): _*)
      when(F.array_dot(embD, wArr) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sig-bucketed ranked top-k CTE chain (s0 → bucket census → capped
    * sub-buckets → scored pairs → `topk` with its rank column) — ONE
    * definition of the LSH candidate/scoring machinery, consumed by
    * [[annLsh]] (drops rk) and e125 (joins on it). `topk` is
    * MATERIALIZED: e125 references it twice and DuckDB inlines plain
    * CTEs per reference (the e129 lesson).
    */
  private def lshTopkDuckCtes(
      bits: Int, k: Int, bucketCap: Long): String =
    s"""s0 AS (SELECT vec_id, embedding, ${lshSigDuck(bits)} AS sig
       |  FROM embeddings),
       |c AS (SELECT sig, count(*) AS cnt FROM s0 GROUP BY sig),
       |s AS (SELECT s0.vec_id, s0.embedding, s0.sig,
       |    s0.vec_id % ((c.cnt + ${bucketCap - 1}) // $bucketCap) AS sub
       |  FROM s0 JOIN c USING (sig)),
       |pairs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    round(${dotDuck("a", "b")} /
       |      (${normDuck("a")} * ${normDuck("b")}), 4) + 0 AS cosine
       |  FROM s a JOIN s b ON a.sig = b.sig AND a.sub = b.sub
       |    AND a.vec_id <> b.vec_id),
       |topk AS MATERIALIZED (SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM pairs
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) <= $k)""".stripMargin

  /** Spark twin of [[lshTopkDuckCtes]]: (query_id, neighbor_id,
    * cosine, rk), rk ≤ k per query.
    */
  private def lshRankedTopk(
      s: SparkSession, dir: String,
      bits: Int, k: Int, bucketCap: Long): DataFrame = {
    val embD = col("embedding").cast("array<double>")
    val sig = lshSigSpark(bits, embD)
    // Signature + norm computed once per pair-join side via a shared
    // repartition-by-sig exchange (ReusedExchange), and
    // HashPartitioning(sig) already satisfies the pair join's
    // (sig, sub) clustering, so no further exchange is inserted.
    val s0 = Tables.embeddings(s, dir)
      .select(col("vec_id"), embD.as("emb"), sig.as("sig"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .repartition(col("sig"))
    // Bucket-size cap: counts are one row per distinct signature
    // (tiny vs the corpus); the join back is an equi-join on sig.
    val cnts = s0.groupBy("sig").agg(count(lit(1)).as("cnt"))
    val nsplits = floor(
      (col("cnt") + lit(bucketCap - 1)) / lit(bucketCap)).cast("long")
    val vs = s0.join(cnts, "sig")
      .withColumn("sub", pmod(col("vec_id"), nsplits))
      .select("vec_id", "emb", "nrm", "sig", "sub")
    val cosine = round(
      dot(col("a.emb"), col("b.emb")) /
        (col("a.nrm") * col("b.nrm")), 4)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    vs.as("a")
      .join(vs.as("b"),
        col("a.sig") === col("b.sig") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"), cosine.as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  def annLsh(
      name: String, bits: Int, k: Int, bucketCap: Long): QueryDef = {
    QueryDef.sql(
      name,
      s"""WITH ${lshTopkDuckCtes(bits, k, bucketCap)}
         |SELECT query_id, neighbor_id, cosine FROM topk
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) {
      (s, dir) =>
        lshRankedTopk(s, dir, bits, k, bucketCap)
          .drop("rk")
          .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    }
  }

  /** 8-bit ANN (256 buckets) — right-sized for the test corpus. */
  private def e6AnnLsh = annLsh("e6_ann_lsh", bits = 8, k = 3,
    bucketCap = 10000L)

  /** Reciprocal (mutual) k-nearest-neighbor pairs over the e6 LSH
    * buckets: keep (a, b) only when b is in a's top-k AND a is in b's
    * top-k. The asymmetric kNN graph is hubness-polluted — a "hub"
    * vector lands in MANY top-k lists while its own list holds only its
    * k nearest, so hub edges are one-directional; requiring
    * reciprocity is the standard repair (the k-reciprocal re-ranking
    * criterion, Zhong et al. CVPR'17; Qin et al. CVPR'11) and the
    * stricter pairing a dedup stage should trust over raw e6 edges —
    * e13 thresholds cosine, e125 additionally demands the relation hold
    * from BOTH endpoints' local perspective.
    *
    * Scale (100 TB): inherits annLsh's whole candidate discipline
    * (sig-bucketed self-join with the bucket cap, map-side
    * WindowGroupLimit top-k); the reciprocity step adds exactly one
    * keyed self-join of the k·N top-k table on the swapped pair — never
    * a second scoring pass. Raising bits keeps buckets bounded as the
    * corpus grows, identical to e6.
    */
  private def e125MutualKnn = {
    val (bits, k, bucketCap) = (8, 3, 10000L)
    QueryDef.sql(
      "e125_mutual_knn",
      s"""WITH ${lshTopkDuckCtes(bits, k, bucketCap)}
         |SELECT t1.query_id AS vec_a, t1.neighbor_id AS vec_b,
         |  t1.cosine, CAST(t1.rk AS BIGINT) AS rank_ab,
         |  CAST(t2.rk AS BIGINT) AS rank_ba
         |FROM topk t1 JOIN topk t2
         |  ON t2.query_id = t1.neighbor_id
         |  AND t2.neighbor_id = t1.query_id
         |WHERE t1.query_id < t1.neighbor_id
         |ORDER BY vec_a, vec_b""".stripMargin) {
      (s, dir) =>
        val topk = lshRankedTopk(s, dir, bits, k, bucketCap)
        topk.as("t1")
          .join(topk.as("t2"),
            col("t2.query_id") === col("t1.neighbor_id") &&
              col("t2.neighbor_id") === col("t1.query_id"))
          .filter(col("t1.query_id") < col("t1.neighbor_id"))
          .select(col("t1.query_id").as("vec_a"),
            col("t1.neighbor_id").as("vec_b"), col("t1.cosine"),
            col("t1.rk").cast("long").as("rank_ab"),
            col("t2.rk").cast("long").as("rank_ba"))
          .orderBy(col("vec_a"), col("vec_b"))
    }
  }

  /** e125's mutual-kNN with the BUCKET-JOIN payload quantized — the
    * int8 lever applied to the family's genuinely SHUFFLE-shaped
    * member (completing the e5/e125 pair): e125's
    * sig-keyed pair exchange ships 512 B of ARRAY<DOUBLE> per vector
    * per side; here the same exchange carries the 64-byte Int8Pack
    * code + one scale (72 B — ~8× off the wire, where e5b's
    * broadcast-shaped plan put the cut on per-executor broadcast
    * memory instead). Bucketing is UNCHANGED — the sign-LSH signature
    * hashes the float embedding, so the candidate sets are identical
    * to e125's and only the scoring grid moves. Top-k and reciprocity
    * rank by the quantized score (4-dp + id tie-break); the surviving
    * MUTUAL pairs — bounded by k·N/2 — are re-scored exactly in float,
    * the output ranks carry the int8 ranking that production would
    * serve, and `err_t` audits the quantization per pair (the e5b
    * distortion-audit discipline).
    *
    * Scale (100 TB): e125's whole candidate discipline (bucket cap,
    * map-side WindowGroupLimit, one swapped-pair self-join) with the
    * pair exchange 8× lighter; the float vectors enter only the
    * mutual-survivor rerank join. Zero-norm / zero-scale vectors are
    * excluded (quantization is undefined there); the oracle mirrors
    * the filter.
    */
  private def e125bMutualKnnInt8 = {
    val (bits, k, bucketCap) = (8, 3, 10000L)
    def dotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    def qdotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.pinned(
      "e125b_mutual_knn_int8",
      s"""WITH s0 AS (SELECT vec_id, embedding, ${lshSigDuck(bits)} AS sig
         |  FROM embeddings),
         |b AS (SELECT vec_id, sig,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM s0),
         |n0 AS (SELECT vec_id, sig, v, sqrt(${dotD("v", "v")}) AS nrm
         |  FROM b),
         |u AS (SELECT vec_id, sig,
         |    list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |qsc AS (SELECT vec_id, sig, uv,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(uv, x -> abs(x))), (a, x) -> greatest(a, x))
         |      / 127 AS scale
         |  FROM u),
         |r AS MATERIALIZED (SELECT vec_id, sig, uv, scale,
         |    list_transform(range(1, 65),
         |      i -> CAST(floor(uv[i] / scale + 0.5) AS BIGINT)) AS qv
         |  FROM qsc WHERE scale > 0),
         |c AS (SELECT sig, count(*) AS cnt FROM r GROUP BY sig),
         |s AS (SELECT r.vec_id, r.sig, r.scale, r.qv,
         |    r.vec_id % ((c.cnt + ${bucketCap - 1}) // $bucketCap) AS sub
         |  FROM r JOIN c USING (sig)),
         |pairs AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round((${qdotD("a.qv", "b.qv")} * a.scale) * b.scale, 4)
         |      + 0 AS qcos
         |  FROM s a JOIN s b ON a.sig = b.sig AND a.sub = b.sub
         |    AND a.vec_id <> b.vec_id),
         |topk AS MATERIALIZED (SELECT query_id, neighbor_id, qcos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY qcos DESC, neighbor_id) AS rk
         |  FROM pairs
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY qcos DESC, neighbor_id) <= $k),
         |mut AS (SELECT t1.query_id AS vec_a, t1.neighbor_id AS vec_b,
         |    t1.qcos, CAST(t1.rk AS BIGINT) AS rank_ab,
         |    CAST(t2.rk AS BIGINT) AS rank_ba
         |  FROM topk t1 JOIN topk t2
         |    ON t2.query_id = t1.neighbor_id
         |    AND t2.neighbor_id = t1.query_id
         |  WHERE t1.query_id < t1.neighbor_id),
         |ex AS (SELECT m.vec_a, m.vec_b, m.qcos, m.rank_ab, m.rank_ba,
         |    round(${dotD("ra.uv", "rb.uv")}, 4) + 0 AS cosine
         |  FROM mut m
         |  JOIN r ra ON ra.vec_id = m.vec_a
         |  JOIN r rb ON rb.vec_id = m.vec_b)
         |SELECT vec_a, vec_b, cosine, rank_ab, rank_ba,
         |  CAST(round((qcos - cosine) * 10000) AS BIGINT) AS err_t
         |FROM ex ORDER BY vec_a, vec_b""".stripMargin) {
      (p, s, dir) =>
        val embD = col("embedding").cast("array<double>")
        val sig = lshSigSpark(bits, embD)
        // N-row bounded base table, checkpointed once: the pair join
        // reads ONLY (code, scale) from it; uv re-enters at the
        // bounded mutual-survivor rerank
        val base = p.checkpoint(Tables.embeddings(s, dir)
          .select(col("vec_id"), embD.as("v"), sig.as("sig"))
          .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
          .filter(col("nrm") > 0)
          .withColumn("uv", transform(col("v"), x => x / col("nrm")))
          .withColumn("scale", F.int8_scale(col("uv")))
          .filter(col("scale") > 0)
          .select(col("vec_id"), col("sig"), col("uv"), col("scale"),
            F.int8_pack(col("uv")).as("code")))
        val cnts = base.groupBy("sig").agg(count(lit(1)).as("cnt"))
        val nsplits = floor(
          (col("cnt") + lit(bucketCap - 1)) / lit(bucketCap)).cast("long")
        val vs = base.join(cnts, "sig")
          .withColumn("sub", pmod(col("vec_id"), nsplits))
          .select("vec_id", "code", "scale", "sig", "sub")
          .repartition(col("sig"))
        val qcos = round(
          F.int8_dot(col("a.code"), col("b.code")).cast("double")
            * col("a.scale") * col("b.scale"), 4) + lit(0d)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("qcos").desc, col("neighbor_id"))
        val topk = vs.as("a")
          .join(vs.as("b"),
            col("a.sig") === col("b.sig") &&
              col("a.sub") === col("b.sub") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("query_id"),
            col("b.vec_id").as("neighbor_id"), qcos.as("qcos"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
        val mut = topk.as("t1")
          .join(topk.as("t2"),
            col("t2.query_id") === col("t1.neighbor_id") &&
              col("t2.neighbor_id") === col("t1.query_id"))
          .filter(col("t1.query_id") < col("t1.neighbor_id"))
          .select(col("t1.query_id").as("vec_a"),
            col("t1.neighbor_id").as("vec_b"),
            col("t1.qcos").as("qcos"),
            col("t1.rk").cast("long").as("rank_ab"),
            col("t2.rk").cast("long").as("rank_ba"))
        mut
          .join(base.select(col("vec_id").as("vec_a"),
            col("uv").as("ua")), "vec_a")
          .join(base.select(col("vec_id").as("vec_b"),
            col("uv").as("ub")), "vec_b")
          .withColumn("cosine",
            round(F.array_dot(col("ua"), col("ub")), 4) + lit(0d))
          .select(col("vec_a"), col("vec_b"), col("cosine"),
            col("rank_ab"), col("rank_ba"),
            round((col("qcos") - col("cosine")) * 10000).cast("long")
              .as("err_t"))
          .orderBy(col("vec_a"), col("vec_b"))
    }
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo's merge/purge,
    * SIGMOD'95) — the THIRD classic candidate-generation scheme,
    * completing the blocking family: e3 hashes similar docs into the
    * same bucket (LSH banding), e98 joins rare-token prefixes
    * (AllPairs/PPJoin), e128 SORTS on a normalized key and compares
    * each document only to its w successors in sort order. Its niche is
    * prefix-anchored near-misses: two template documents whose openings
    * agree land adjacent even when no band collides and no rare token
    * is shared. Candidates are verified with the same exact shingle
    * Jaccard as e3 (threshold 0.3), so the three detectors' outputs are
    * directly comparable (e103's audit pattern).
    *
    * The global rank comes from [[graft.operators.Indexing]]'s
    * zipWithIndex path — the same parallel range-exchange a distributed
    * ORDER BY uses, never a single-task `Window.orderBy` — and the
    * w-neighborhood join is a banded interval join: the lower side
    * emits its rank bucket and successor bucket (⌊rn/w⌋, +1), the
    * upper side joins on its own bucket, and the 0 < gap ≤ w filter
    * finds each pair exactly once. Fan-out is a constant 2, never
    * all-pairs.
    *
    * Scale (100 TB): sort = one range exchange (the distributed-sort
    * primitive); neighborhood join = one equi-join with constant
    * fan-out; verification joins shingle arrays by doc_id exactly as
    * e3. The multi-pass production variant (several sort keys, union of
    * candidates) is the same plan repeated per key — and the
    * window w is the recall/cost dial the SIGMOD paper defines.
    */
  private def e128SortedNeighborhood = {
    val w = 4
    QueryDef.sql(
      "e128_sorted_neighborhood",
      s"""WITH k AS (SELECT doc_id,
         |    substring(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
         |      1, 24) AS sk
         |  FROM documents),
         |r AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY sk, doc_id) AS rn FROM k),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    b.rn - a.rn AS rank_gap
         |  FROM r a JOIN r b
         |    ON b.rn > a.rn AND b.rn <= a.rn + $w),
         |wx AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM wx
         |  WHERE len(wh) >= 3)
         |SELECT doc_a, doc_b, CAST(rank_gap AS BIGINT) AS rank_gap,
         |  round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) /
         |    (len(sa.shs) + len(sb.shs)
         |      - len(list_intersect(sa.shs, sb.shs))), 4) AS jaccard
         |FROM cand
         |JOIN sh sa ON sa.doc_id = doc_a
         |JOIN sh sb ON sb.doc_id = doc_b
         |WHERE round(CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
         |    / (len(sa.shs) + len(sb.shs)
         |      - len(list_intersect(sa.shs, sb.shs))), 4) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val keyed = docs.select(col("doc_id"),
          substring(regexp_replace(lower(col("text")), "[^a-z ]", ""),
            1, 24).as("sk"))
        // 0-based dense rank; only GAPS feed the result, so the 1-based
        // oracle rank is equivalent (bucket boundaries may differ — the
        // gap filter makes candidate coverage identical regardless).
        val ranked = Indexing.withGlobalIndex(
          keyed, struct(col("sk"), col("doc_id")), "rn")
        val lo = ranked.select(col("doc_id").as("doc_a"),
            col("rn").as("ra"),
            explode(array(expr(s"rn div $w"), expr(s"rn div $w + 1")))
              .as("jb"))
        val hi = ranked.select(col("doc_id").as("doc_b"),
          col("rn").as("rb"), expr(s"rn div $w").as("jb"))
        val cand = lo.join(hi, "jb")
          .filter(col("rb") > col("ra") && col("rb") <= col("ra") + w)
          .select(col("doc_a"), col("doc_b"),
            (col("rb") - col("ra")).as("rank_gap"))
        val sh = docShingles(docs)
        val inter = size(
          array_intersect(col("sa.shs"), col("sb.shs")))
        val jac = round(inter.cast("double") /
          (size(col("sa.shs")) + size(col("sb.shs")) - inter), 4)
        cand
          .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"), col("rank_gap"),
            jac.as("jaccard"))
          .filter(col("jaccard") >= 0.3)
          .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** Second signature width (12 bits = 4096 buckets) with its own oracle —
    * proves the width is a real parameter, not a constant with a comment.
    */
  private def e6bAnnLsh12 = annLsh("e6b_ann_lsh12", bits = 12, k = 3,
    bucketCap = 10000L)

  /** Multi-probe sign-LSH ANN — the recall lever that lets the signature
    * stay WIDE (cheap buckets) without losing near-boundary neighbors: a
    * vector whose true neighbor lands one sign-flip away is missed by
    * exact-bucket search, so each query probes its own bucket plus the
    * `bits` buckets at Hamming distance 1 (all single-bit flips). This
    * multiplies candidate GENERATION by bits+1 while keeping bucket
    * population unchanged — the classic multi-probe trade (probe more,
    * hash less) vs e6's raise-the-width-only design.
    *
    * Scale shape: the probe table carries only (query_id, probe_sig) —
    * ids and 8-byte signatures, never embeddings — so the candidate join
    * shuffles fixed-width rows; embeddings and norms are fetched for the
    * verified candidate ids via the e3-style id joins afterwards. A pair
    * at Hamming<=1 matches through exactly one probe, so candidates are
    * duplicate-free by construction (no DISTINCT pass needed).
    *
    * Hot-bucket cap (the all-buckets-capped rule): without one, every
    * probe joins uncapped against all vectors sharing the probed
    * signature, so a boilerplate-heavy corpus with one hot bucket makes
    * candidate generation quadratic in bucket population — the exact
    * plan shape e6/e6b's bucketCap eliminates. Same sub-split here: the
    * neighbor side of the probe join splits each bucket into
    * ceil(cnt/cap) sub-buckets by vec_id, and a probe addresses the
    * sub-bucket its own query_id hashes to. Bounds per-query candidates
    * from any bucket to ~cap (a recall trade only hot buckets pay);
    * mirrored in the oracle, and a no-op below the cap (ns = 1).
    */
  private def e6cAnnMultiprobe = {
    val bits = 10
    val k = 3
    val bucketCap = 10000L
    QueryDef.sql(
      "e6c_ann_multiprobe",
      s"""WITH s0 AS (SELECT vec_id, embedding, ${lshSigDuck(bits)} AS sig
         |  FROM embeddings),
         |cn AS (SELECT sig,
         |    CAST((count(*) + ${bucketCap - 1}) // $bucketCap AS BIGINT)
         |      AS ns
         |  FROM s0 GROUP BY sig),
         |pr AS (SELECT vec_id AS query_id,
         |    unnest(list_prepend(sig, list_transform(range(0, $bits),
         |      j -> xor(sig, CAST(1 AS BIGINT) << j)))) AS psig
         |  FROM s0),
         |cand AS (SELECT pr.query_id, b.vec_id AS neighbor_id
         |  FROM pr JOIN cn ON pr.psig = cn.sig
         |  JOIN s0 b ON pr.psig = b.sig
         |    AND pr.query_id % cn.ns = b.vec_id % cn.ns
         |    AND pr.query_id <> b.vec_id),
         |pairs AS (SELECT query_id, neighbor_id,
         |    round(${dotDuck("a", "b")} /
         |      (${normDuck("a")} * ${normDuck("b")}), 4) + 0 AS cosine
         |  FROM cand
         |  JOIN s0 a ON a.vec_id = cand.query_id
         |  JOIN s0 b ON b.vec_id = cand.neighbor_id)
         |SELECT query_id, neighbor_id, cosine FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) <= $k
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) {
      (s, dir) =>
        val embD = col("embedding").cast("array<double>")
        // Candidate generation runs over (id, sig) pairs only — the
        // signature is 10 fused dot products in the scan stage, cheaper
        // to recompute per probe-join side than to materialize the
        // corpus (the annLsh count-branch rationale). The two
        // VERIFICATION sides below are identical (vec_id, emb, nrm)
        // subtrees shuffled by vec_id, so they share one exchange.
        val sigs = Tables.embeddings(s, dir)
          .select(col("vec_id"), lshSigSpark(bits, embD).as("sig"))
        val probeSigs = array(
          col("sig") +: (0 until bits).map(j =>
            col("sig").bitwiseXOR(lit(1L << j))): _*)
        val probes = sigs
          .select(col("vec_id").as("query_id"),
            explode(probeSigs).as("psig"))
        // Per-signature sub-split count: one row per distinct signature
        // (<= 2^bits), so both joins against it broadcast. Integer `div`
        // to match the oracle's `//`.
        val cnts = sigs.groupBy(col("sig").as("psig"))
          .agg(expr(s"(count(1) + ${bucketCap - 1}L) div ${bucketCap}L")
            .as("ns"))
        val nbrs = sigs
          .select(col("vec_id").as("neighbor_id"), col("sig").as("psig"))
          .join(cnts, "psig")
          .select(col("psig"), col("neighbor_id"),
            pmod(col("neighbor_id"), col("ns")).as("sub"))
        val cand = probes
          .join(cnts, "psig")
          .select(col("query_id"), col("psig"),
            pmod(col("query_id"), col("ns")).as("sub"))
          .join(nbrs, Seq("psig", "sub"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id")
        val vs = Tables.embeddings(s, dir)
          .select(col("vec_id"), embD.as("emb"))
          .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
        val cosine = round(
          dot(col("a.emb"), col("b.emb")) /
            (col("a.nrm") * col("b.nrm")), 4)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        cand
          .join(vs.as("a"), col("query_id") === col("a.vec_id"))
          .join(vs.as("b"), col("neighbor_id") === col("b.vec_id"))
          .select(col("query_id"), col("neighbor_id"), cosine.as("cosine"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .drop("rk")
          .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    }
  }

  /** Embedding-cosine near-dup DEDUP (the fifth dedup mode of the brief,
    * complementing exact/e1, n-gram/e2, MinHash/e3, SimHash/e4): flags
    * each vector whose cosine to some candidate neighbor is >= `thr` and
    * assigns the min-id neighbor as its canonical representative.
    *
    * Candidate generation is OR-AMPLIFIED multi-table sign-LSH: `tables`
    * independent signatures of `bits` hyperplanes each; a pair is a
    * candidate if it collides in ANY table (P = 1-(1-p^bits)^tables,
    * p = 1 - theta/pi — steep in similarity, so true near-dups are
    * recovered with high probability while the per-table bucket join
    * stays sub-quadratic). This is the multi-table construction the e6
    * docstring names for recall at scale; verification carries embeddings
    * only for candidate pairs. Canonical assignment is the single-pass
    * min-neighbor (like e1's groupBy-min); full transitive closure would
    * need iterative union-find over pair batches and is intentionally out
    * of scope for a one-pass operator.
    *
    * The synthetic corpus has no true duplicates (max pairwise cosine
    * ~0.51), so the test threshold 0.4 exercises the pairing/canonical
    * machinery; production near-dup would run thr ~0.95+ where recall is
    * ~1.
    */
  private def e13EmbedNeardup = {
    val tables = 4; val bits = 4; val thr = 0.4
    val sigDucks = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val plane = t * bits + j
        "(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
          " list_transform(range(1, 65), d -> CAST(embedding[d] AS DOUBLE) * " +
          Portable.hyperplaneWeightDuck(plane) +
          s")), (s, v) -> s + v) > 0 THEN CAST(${1L << j} AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
    }
    QueryDef.sql(
      "e13_embed_neardup",
      s"""WITH s0 AS (SELECT vec_id, embedding,
         |    ${sigDucks.zipWithIndex.map { case (e, t) => s"$e AS g$t" }
            .mkString(",\n    ")}
         |  FROM embeddings),
         |bands AS (SELECT vec_id, unnest(range(0, $tables)) AS t,
         |    unnest([${(0 until tables).map(t => s"g$t").mkString(", ")}]) AS sig
         |  FROM s0),
         |cand AS (SELECT DISTINCT a.vec_id AS vid, b.vec_id AS nid
         |  FROM bands a JOIN bands b
         |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id),
         |v AS (SELECT vid, nid FROM cand
         |  JOIN s0 sa ON sa.vec_id = vid
         |  JOIN s0 sb ON sb.vec_id = nid
         |  WHERE round(${dotDuck("sa", "sb")} /
         |    (${normDuck("sa")} * ${normDuck("sb")}), 4) >= $thr),
         |nd AS (SELECT vid, min(nid) AS mn FROM v GROUP BY vid)
         |SELECT s0.vec_id,
         |  least(s0.vec_id, coalesce(nd.mn, s0.vec_id)) AS canonical_id,
         |  CASE WHEN coalesce(nd.mn, s0.vec_id) < s0.vec_id
         |    THEN 1 ELSE 0 END AS is_dup
         |FROM s0 LEFT JOIN nd ON nd.vid = s0.vec_id
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val embD = col("embedding").cast("array<double>")
      val sigs = (0 until tables).map { t =>
        (0 until bits).map { j =>
          val plane = t * bits + j
          val wArr = array(
            (0 until 64).map(d => lit(Portable.hyperplaneWeight(plane, d))): _*)
          when(F.array_dot(embD, wArr) > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
      }
      val s0 = Tables.embeddings(s, dir)
        .select(col("vec_id"), embD.as("emb"), array(sigs: _*).as("gs"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      val bands = s0.select(
        col("vec_id"), posexplode(col("gs")).as(Seq("t", "sig")))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vid"), col("b.vec_id").as("nid"))
        .distinct()
      val cosine = round(
        dot(col("sa.emb"), col("sb.emb")) / (col("sa.nrm") * col("sb.nrm")), 4)
      val verified = cand
        .join(s0.as("sa"), col("vid") === col("sa.vec_id"))
        .join(s0.as("sb"), col("nid") === col("sb.vec_id"))
        .filter(cosine >= thr)
        .select(col("vid"), col("nid"))
      val nd = verified.groupBy("vid").agg(min(col("nid")).as("mn"))
      s0.join(nd, col("vec_id") === col("vid"), "left")
        .select(
          col("vec_id"),
          least(col("vec_id"), coalesce(col("mn"), col("vec_id")))
            .as("canonical_id"),
          when(coalesce(col("mn"), col("vec_id")) < col("vec_id"), 1)
            .otherwise(0).as("is_dup"))
    }
  }

  /** Normalized embedding frame (vec_id, emb, nrm) with the uniform
    * vec_id-notnull predicate, so every consumer's subtree below
    * shared exchanges is canonically identical (the docShingles
    * pattern).
    */
  private def embBase(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .filter(col("vec_id").isNotNull)

  /** The ONE trained-codebook cell assignment, (vec_id, list_id):
    * deterministic sampled centroids (vec_id % 67 == 3), broadcast
    * cosine scoring, argmax as a single struct-max — max (cs, -cid) is
    * the best score with min-cid tie-break (cid ≥ 0); the previous
    * max-then-equality-join idiom consumed the scored frame twice and
    * forced an extra float-keyed exchange. The DuckDB oracles keep
    * max-then-filter (struct ordering is not portable); results agree
    * because cs ties are exact-equality ties in both. Shared by the
    * whole exact-assignment ANN family so cross-query comparisons
    * (recall audits, index builds, dedup) ride the SAME cells.
    */
  private def ivfAssign(base: DataFrame): DataFrame = {
    val cent = base.filter(col("vec_id") % 67 === 3)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        col("nrm").as("cnrm"))
    base.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        (dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
          .as("cs"))
      .groupBy("vec_id")
      .agg(max(struct(col("cs"), (-col("cid")).as("nc"))).as("m"))
      .select(col("vec_id"), (-col("m.nc")).as("list_id"))
  }

  /** IVF-flat ANN — the other classical scale path for similarity search
    * (complementing e6's sign-LSH): a coarse codebook partitions the
    * corpus into inverted lists, and neighbors are searched only within
    * the query's list.
    *
    * The codebook is a deterministic corpus SAMPLE (vec_id % 67 == 3 →
    * K ~ N/67, the sqrt-ish growth a trained quantizer would use) rather
    * than k-means — a standard zero-train IVF baseline, and the sampling
    * rule keeps the oracle reproducible. Assignment is argmax-cosine with
    * UNROUNDED scores (rounding would manufacture ties) and min-cid
    * tie-break — a single struct-max aggregation on the Spark side, the
    * max-then-filter idiom in the DuckDB twin (struct ordering is not
    * portable; exact-equality ties make the two agree). The codebook
    * broadcast is
    * the standard IVF assign step (real deployments cap K at ~65k
    * centroids regardless of corpus size, so the broadcast stays
    * bounded); the within-list self-join reuses one repartition exchange
    * exactly like e6.
    */
  private def e17AnnIvf = {
    val k = 3
    def dotCols(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.sql(
      "e17_ann_ivf",
      s"""WITH base AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM base WHERE vec_id % 67 = 3),
         |sc AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM base b CROSS JOIN cent c),
         |best AS (SELECT vec_id, max(cs) AS mc FROM sc GROUP BY vec_id),
         |assign AS (SELECT sc.vec_id, min(cid) AS list_id
         |  FROM sc JOIN best USING (vec_id) WHERE cs = mc GROUP BY sc.vec_id),
         |v AS (SELECT base.vec_id, base.embedding, base.nrm, list_id
         |  FROM base JOIN assign USING (vec_id)),
         |pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(${dotCols("a.embedding", "b.embedding")} /
         |      (a.nrm * b.nrm), 4) + 0 AS cosine
         |  FROM v a JOIN v b
         |    ON a.list_id = b.list_id AND a.vec_id <> b.vec_id)
         |SELECT query_id, neighbor_id, cosine FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) <= $k
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) {
      (s, dir) =>
        val base = embBase(s, dir)
        val assign = ivfAssign(base)
        val vs = base.join(assign, "vec_id").repartition(col("list_id"))
        val cosine = round(
          dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 4)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        vs.as("a")
          .join(vs.as("b"),
            col("a.list_id") === col("b.list_id") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("query_id"),
            col("b.vec_id").as("neighbor_id"), cosine.as("cosine"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .drop("rk")
          .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    }
  }

  /** PERSISTED IVF vector index, probed with partition pruning: e17's
    * cell assignment written ONCE as a parquet layout partitioned by
    * `list_id` ([[graft.sources.Layout.writePartitionedIfStale]] — the
    * q42 marker-fingerprint freshness discipline, so reuse costs two
    * filesystem stats and zero jobs), then top-k probed for a
    * deterministic query subset by joining the probe frame against the
    * index on the PARTITION column. The probe side's selective filter
    * lets dynamic partition pruning skip every unprobed cell's files —
    * the query-time half of the ANN-index story: e17 measures build+query
    * fused; this operator is the production split, where the build
    * amortizes across probe workloads and each probe touches only its
    * nprobe cells' partitions.
    *
    * Results equal e17 restricted to the probe set (same cells, same
    * cosine, same top-k rule), which is exactly what the oracle computes
    * — the index is a LAYOUT, not an approximation on top of e17's.
    */
  private def e64AnnIndexed = {
    val k = 3
    def dotCols(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.sql(
      "e64_ann_indexed",
      s"""WITH base AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM base WHERE vec_id % 67 = 3),
         |sc AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM base b CROSS JOIN cent c),
         |best AS (SELECT vec_id, max(cs) AS mc FROM sc GROUP BY vec_id),
         |assign AS (SELECT sc.vec_id, min(cid) AS list_id
         |  FROM sc JOIN best USING (vec_id) WHERE cs = mc GROUP BY sc.vec_id),
         |v AS (SELECT base.vec_id, base.embedding, base.nrm, list_id
         |  FROM base JOIN assign USING (vec_id)),
         |pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(${dotCols("a.embedding", "b.embedding")} /
         |      (a.nrm * b.nrm), 4) + 0 AS cosine
         |  FROM v a JOIN v b
         |    ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 97 = 5)
         |SELECT query_id, neighbor_id, cosine FROM pairs
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) <= $k
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin) {
      (s, dir) =>
        val base = embBase(s, dir)
        val assign = ivfAssign(base)
        // ---- build (amortized): cell-partitioned index layout --------
        val path = ivfIndexPath(s, dir)
        graft.sources.Layout.writePartitionedIfStale(
          base.join(assign, "vec_id"), path, Seq("list_id"),
          graft.sources.Layout.scanFingerprint(Tables.embeddings(s, dir)))
        // ---- probe: selective query frame + DPP over the index -------
        val idx = s.read.parquet(path)
        val probe = idx.filter(col("vec_id") % 97 === 5)
          .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
            col("nrm").as("qnrm"), col("list_id").as("qlist"))
        val cosine = round(
          dot(col("qemb"), col("i.emb")) / (col("qnrm") * col("i.nrm")), 4)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        probe.as("q")
          .join(idx.as("i"),
            col("qlist") === col("i.list_id") &&
              col("query_id") =!= col("i.vec_id"))
          .select(col("query_id"), col("i.vec_id").as("neighbor_id"),
            cosine.as("cosine"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .drop("rk")
          .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
    }
  }

  /** e167's hot-cell re-split applied ACROSS THE PROCESS BOUNDARY —
    * the e156b question ("does the posture survive a roundtrip?")
    * asked of the IVF family: e167 computes the split over an
    * in-memory assignment; a production index maintainer starts from
    * the PERSISTED cell-partitioned table (e64's layout) and must end
    * with a rewritten table whose probes still prune. Steps, every one
    * off the stored index (the corpus-scan argmax is NEVER re-run —
    * the stored assignment is the whole point of persisting it):
    *
    *  1. read e64's `list_id`-partitioned parquet back;
    *  2. re-derive each member's cosine to its OWN centroid with one
    *     broadcast join on `list_id` (centroids are index rows,
    *     vec_id ≡ 3 mod 67 — cheap, cell-local, no argmax);
    *  3. e167's rule verbatim: cap = corpus mean cell size, hot cells
    *     split at their farthest member, only hot-cell members
    *     reassigned (strictly-closer rule, the seed moves itself);
    *  4. REWRITE as a new `list_id`-partitioned layout
    *     ([[graft.sources.Layout.writePartitioned]] — marker included,
    *     so [[graft.sources.Layout.compactPartitioned]] maintenance
    *     keeps working on the post-split table);
    *  5. the reported census is read BACK from the rewritten table —
    *     two rows per split cell (survivor cell, new `far_id` cell)
    *     with their persisted member counts.
    *
    * IvfPersistSpec pins the other half of "done": a probe against
    * the post-split table filtered to one cell — including a NEW
    * (far_id) cell that did not exist pre-split — reaches the scan as
    * a PartitionFilter reading only that cell's directory.
    *
    * Scale: the maintenance working set is the hot cells' members (the
    * e167 argument); the rewrite is one partitioned write of the
    * corpus — the operation's honest cost, paid to keep every future
    * probe's pruning. Probe the family at 10×/100× only (the `% 67`
    * replica-codebook caveat, SCALING.md).
    */
  private def e170IvfResplitPersist = {
    def dotCols(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.pinned(
      "e170_ivf_resplit_persist",
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
         |  JOIN c2 ON c2.list_id = m.list_id),
         |keepc AS (SELECT list_id AS src_cid, list_id AS cid,
         |    CAST(n_before - sum(mv) AS BIGINT) AS n_vecs, 0 AS is_new
         |  FROM re GROUP BY list_id, n_before),
         |newc AS (SELECT list_id AS src_cid, far_id AS cid,
         |    CAST(sum(mv) AS BIGINT) AS n_vecs, 1 AS is_new
         |  FROM re GROUP BY list_id, far_id)
         |SELECT src_cid, cid, n_vecs, CAST(is_new AS INT) AS is_new
         |FROM (SELECT * FROM keepc UNION ALL SELECT * FROM newc)
         |ORDER BY src_cid, is_new""".stripMargin) { (p, s, dir) =>
      ivfResplitPersist(p, s, dir)._2
    }
  }

  /** The e170 build, returning (post-split index path, census frame) —
    * `private[queries]` so IvfPersistSpec can probe the rewritten
    * table's pruning behavior at the path the build published.
    */
  /** The ONE location of the persisted IVF index — shared by e64
    * (build + probe) and e170 (maintenance) so the two sides cannot
    * drift onto different tables; concurrent IfStale builds on it are
    * serialized by [[graft.sources.Layout]]'s per-path lock.
    */
  private[queries] def ivfIndexPath(s: SparkSession, dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), s"graft_ivf_$tag").toString
  }

  private[queries] def ivfResplitPersist(
      p: Pins, s: SparkSession, dir: String): (String, DataFrame) = {
    val base = embBase(s, dir)
    val prePath = ivfIndexPath(s, dir)
    // e64's index build, fingerprint-amortized — same path, same table
    graft.sources.Layout.writePartitionedIfStale(
      base.join(ivfAssign(base), "vec_id"), prePath, Seq("list_id"),
      graft.sources.Layout.scanFingerprint(Tables.embeddings(s, dir)))
    // ---- everything below reads the PERSISTED index only ----
    val idx = s.read.parquet(prePath)
    val cent = idx.filter(col("vec_id") % 67 === 3)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        col("nrm").as("cnrm"))
    // cell-local cosine to the OWN centroid: equals the assignment's
    // winning score (same operands, same float op), without the argmax
    val scored = idx.join(broadcast(cent), col("list_id") === col("cid"))
      .select(col("vec_id"), col("list_id"),
        (dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
          .as("cs"))
    val counts = scored.groupBy("list_id")
      .agg(count(lit(1)).as("n_before"))
    val cap = counts.agg(expr("sum(n_before) div count(1)").as("cap"))
    val hot = counts.crossJoin(broadcast(cap))
      .where(col("n_before") > col("cap"))
      .select("list_id", "n_before")
    // eager checkpoint: mem (the hot cells' members — the bounded
    // maintenance working set) feeds THREE consumers (far, moved, and
    // transitively the census mapping); without it the full-index
    // scoring join re-executes per action. It is released once the
    // rewrite (the last eager consumer) has run, so repeated
    // maintenance invocations don't pin one hot-cell frame per run for
    // the session. `far` is checkpointed too — it is hot-CELL-grain
    // tiny (one row per split cell) and the lazily-returned census
    // still needs it after mem is gone.
    val postPath = prePath + "_split"
    val mem = p.checkpoint(scored.join(hot, "list_id"))
    val far = p.checkpoint(mem.groupBy("list_id")
      .agg(min(struct(col("cs"), col("vec_id"))).as("f"))
      .select(col("list_id"), col("f.vec_id").as("far_id")))
    val c2 = far.join(
      idx.select(col("vec_id").as("far_id"), col("emb").as("femb"),
        col("nrm").as("fnrm")), "far_id")
    val moved = mem
      .join(idx.select(col("vec_id"), col("emb"), col("nrm")),
        "vec_id")
      .join(broadcast(c2), "list_id")
      .where(dot(col("emb"), col("femb")) / (col("nrm") * col("fnrm"))
        > col("cs"))
      .select(col("vec_id"), col("far_id").as("new_list"))
    val postIdx = idx.join(moved, Seq("vec_id"), "left")
      .select(col("vec_id"), col("emb"), col("nrm"),
        coalesce(col("new_list"), col("list_id")).as("list_id"))
    graft.sources.Layout.writePartitioned(postIdx, postPath,
      Seq("list_id"))
    p.release(mem)
    // census read BACK from the rewritten table — the roundtrip proof
    val mapping = far
      .select(col("list_id").as("src_cid"), col("list_id").as("cid"),
        lit(0).as("is_new"))
      .unionByName(far.select(col("list_id").as("src_cid"),
        col("far_id").as("cid"), lit(1).as("is_new")))
    val counts2 = s.read.parquet(postPath)
      .groupBy(col("list_id").as("cid"))
      .agg(count(lit(1)).as("n_vecs"))
    val census = mapping.join(counts2, Seq("cid"), "left")
      .select(col("src_cid"), col("cid"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"), col("is_new"))
      .orderBy("src_cid", "is_new")
    (postPath, census)
  }

  /** ANN RECALL calibration: recall@3 of the IVF (nprobe = 1) search
    * against exact brute-force top-3 on the deterministic probe set —
    * the measurement that decides whether an ANN configuration is good
    * enough to replace the exact path (the e60/e61/e63 calibration
    * discipline applied to similarity search). ANN side is e17's
    * same-cell search restricted to the probes; exact side rides
    * [[cosineTopkExact]]'s guarded broadcast (probes × corpus, linear
    * scans — affordable precisely because recall is measured on a probe
    * SAMPLE, which is also the production posture at 100 TB). Both
    * top-3 sets use the identical rounded-cosine/neighbor-id tie rule,
    * so the intersection count — and therefore recall — is
    * engine-portable integer arithmetic.
    */
  private def e67AnnRecall = {
    val k = 3
    def dotCols(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.sql(
      "e67_ann_recall",
      s"""WITH base AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM base WHERE vec_id % 67 = 3),
         |sc AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM base b CROSS JOIN cent c),
         |best AS (SELECT vec_id, max(cs) AS mc FROM sc GROUP BY vec_id),
         |assign AS (SELECT sc.vec_id, min(cid) AS list_id
         |  FROM sc JOIN best USING (vec_id) WHERE cs = mc GROUP BY sc.vec_id),
         |v AS (SELECT base.vec_id, base.embedding, base.nrm, list_id
         |  FROM base JOIN assign USING (vec_id)),
         |annp AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |    round(${dotCols("a.embedding", "b.embedding")} /
         |      (a.nrm * b.nrm), 4) + 0 AS cosine
         |  FROM v a JOIN v b
         |    ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 97 = 5),
         |ann AS (SELECT qid, nid FROM annp
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) <= $k),
         |exq AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(${dotCols("q.embedding", "c.embedding")} /
         |      (q.nrm * c.nrm), 4) + 0 AS cosine
         |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id % 97 = 5),
         |ex AS (SELECT qid, nid FROM exq
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) <= $k),
         |anns AS (SELECT qid, count(*) AS n_ann FROM ann GROUP BY qid),
         |hits AS (SELECT qid, count(*) AS n_hits
         |  FROM ann JOIN ex USING (qid, nid) GROUP BY qid),
         |p AS (SELECT vec_id AS qid FROM base WHERE vec_id % 97 = 5)
         |SELECT p.qid AS query_id,
         |  CAST(coalesce(n_ann, 0) AS BIGINT) AS n_ann,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(n_hits, 0) * 10000 // $k AS BIGINT) AS recall_bp
         |FROM p LEFT JOIN anns USING (qid) LEFT JOIN hits USING (qid)
         |ORDER BY query_id""".stripMargin) { (s, dir) =>
      val base = embBase(s, dir)
      val assign = ivfAssign(base)
      val vs = base.join(assign, "vec_id").repartition(col("list_id"))
      val wA = Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid"))
      val annCos = round(
        dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 4)
      val ann = vs.as("a")
        .join(vs.as("b"),
          col("a.list_id") === col("b.list_id") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .filter(col("a.vec_id") % 97 === 5)
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
          annCos.as("cosine"))
        .withColumn("rk", row_number().over(wA))
        .filter(col("rk") <= k)
        .select("qid", "nid")
      val exact = cosineTopkExact(
        base.filter(col("vec_id") % 97 === 5)
          .select(col("vec_id").as("query_id"), col("emb").as("qe")),
        base.select(col("vec_id").as("neighbor_id"), col("emb").as("ce")),
        k)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      val anns = ann.groupBy("qid").agg(count(lit(1)).as("n_ann"))
      val hits = ann.join(exact, Seq("qid", "nid"))
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      base.filter(col("vec_id") % 97 === 5)
        .select(col("vec_id").as("qid"))
        .join(anns, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .select(col("qid").as("query_id"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr(s"coalesce(n_hits, 0L) * 10000 div $k").as("recall_bp"))
        .orderBy("query_id")
    }
  }

  /** RECALL-vs-NPROBE sweep: e67's recall measurement repeated at
    * nprobe ∈ {1, 2, 4} probed cells per query, with the candidate
    * volume each level pays — the tuning CURVE (recall vs cost) that
    * decides the production nprobe, not just a single point. Centroid
    * ranks per vector come from one row_number over the broadcast
    * codebook scoring (portable: both engines fold the dot product in
    * the same element order, so the doubles — and therefore the rank
    * order under the (cs desc, cid) tie rule — are bit-identical).
    * Candidates are computed ONCE at the deepest level and fanned out
    * to the sweep levels by a 3-row non-equi broadcast join
    * (construction-bounded); each neighbor lives in exactly one home
    * cell, so per-level candidate sets are duplicate-free by
    * construction. Exact side is the same guarded-broadcast top-k as
    * e67, computed once and joined against every level.
    *
    * Shape at 100 TB: identical to e17/e67 — codebook broadcast is
    * k×dims, candidate volume per query is nprobe × (corpus/k_cells),
    * and the whole sweep runs on the deterministic probe SAMPLE, so
    * the exact baseline stays affordable. Output is 3 rows.
    */
  private def e68AnnNprobeSweep = {
    val k = 3
    val maxProbe = 4
    def dotCols(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.sql(
      "e68_ann_nprobe_sweep",
      s"""WITH base AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM base WHERE vec_id % 67 = 3),
         |sc AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM base b CROSS JOIN cent c),
         |ranked AS (SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cs DESC, cid) AS crank
         |  FROM sc QUALIFY crank <= $maxProbe),
         |assign AS (SELECT vec_id, cid AS list_id FROM ranked
         |  WHERE crank = 1),
         |v AS (SELECT base.vec_id, base.embedding, base.nrm, list_id
         |  FROM base JOIN assign USING (vec_id)),
         |qp AS (SELECT r.vec_id AS qid, r.cid AS cell, r.crank,
         |    b.embedding AS qe, b.nrm AS qn
         |  FROM ranked r JOIN base b ON r.vec_id = b.vec_id
         |  WHERE r.vec_id % 97 = 5),
         |cand AS (SELECT qp.qid, qp.crank, v.vec_id AS nid,
         |    round(${dotCols("qp.qe", "v.embedding")} /
         |      (qp.qn * v.nrm), 4) + 0 AS cosine
         |  FROM qp JOIN v ON qp.cell = v.list_id AND qp.qid <> v.vec_id),
         |lv AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |cl AS (SELECT lv.nprobe, c.qid, c.nid, c.cosine
         |  FROM lv JOIN cand c ON c.crank <= lv.nprobe),
         |ann AS (SELECT nprobe, qid, nid FROM cl
         |  QUALIFY row_number() OVER (PARTITION BY nprobe, qid
         |    ORDER BY cosine DESC, nid) <= $k),
         |exq AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    round(${dotCols("q.embedding", "c.embedding")} /
         |      (q.nrm * c.nrm), 4) + 0 AS cosine
         |  FROM base q JOIN base c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id % 97 = 5),
         |ex AS (SELECT qid, nid FROM exq
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, nid) <= $k),
         |cc AS (SELECT nprobe, count(*) AS n_candidates FROM cl
         |  GROUP BY nprobe),
         |hits AS (SELECT nprobe, count(*) AS n_hits
         |  FROM ann JOIN ex USING (qid, nid) GROUP BY nprobe),
         |nq AS (SELECT count(*) AS n_queries FROM base
         |  WHERE vec_id % 97 = 5)
         |SELECT CAST(lv.nprobe AS BIGINT) AS nprobe, nq.n_queries,
         |  CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(n_hits, 0) * 10000 // (nq.n_queries * $k)
         |    AS BIGINT) AS recall_bp
         |FROM lv CROSS JOIN nq
         |LEFT JOIN cc ON cc.nprobe = lv.nprobe
         |LEFT JOIN hits ON hits.nprobe = lv.nprobe
         |ORDER BY nprobe""".stripMargin) { (s, dir) =>
      import s.implicits._
      val embD = col("embedding").cast("array<double>")
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), embD.as("emb"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
        .filter(col("vec_id").isNotNull)
      val cent = base.filter(col("vec_id") % 67 === 3)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"),
          col("nrm").as("cnrm"))
      val wC = Window.partitionBy(col("vec_id"))
        .orderBy(col("cs").desc, col("cid"))
      val ranked = base.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          (dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
            .as("cs"))
        .withColumn("crank", row_number().over(wC))
        .filter(col("crank") <= maxProbe)
        .select("vec_id", "cid", "crank")
      val assign = ranked.filter(col("crank") === 1)
        .select(col("vec_id"), col("cid").as("list_id"))
      val vs = base.join(assign, "vec_id").repartition(col("list_id"))
      val qp = ranked.filter(col("vec_id") % 97 === 5)
        .join(base, "vec_id")
        .select(col("vec_id").as("qid"), col("cid").as("cell"),
          col("crank"), col("emb").as("qe"), col("nrm").as("qn"))
      val cand = qp.join(vs.as("b"),
          col("cell") === col("b.list_id") &&
            col("qid") =!= col("b.vec_id"))
        .select(col("qid"), col("crank"), col("b.vec_id").as("nid"),
          round(dot(col("qe"), col("b.emb")) / (col("qn") * col("b.nrm")),
            4).as("cosine"))
      val levels = Seq(1, 2, 4).toDF("nprobe")
      val cl = cand.join(broadcast(levels), col("crank") <= col("nprobe"))
        .select("nprobe", "qid", "nid", "cosine")
      val wL = Window.partitionBy(col("nprobe"), col("qid"))
        .orderBy(col("cosine").desc, col("nid"))
      val ann = cl.withColumn("rk", row_number().over(wL))
        .filter(col("rk") <= k)
        .select("nprobe", "qid", "nid")
      val exact = cosineTopkExact(
        base.filter(col("vec_id") % 97 === 5)
          .select(col("vec_id").as("query_id"), col("emb").as("qe")),
        base.select(col("vec_id").as("neighbor_id"), col("emb").as("ce")),
        k)
        .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
      val cc = cl.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
      val hits = ann.join(exact, Seq("qid", "nid"))
        .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
      val nq = base.filter(col("vec_id") % 97 === 5)
        .agg(count(lit(1)).as("n_queries"))
      levels.crossJoin(broadcast(nq))
        .join(cc, Seq("nprobe"), "left")
        .join(hits, Seq("nprobe"), "left")
        .select(col("nprobe").cast("long").as("nprobe"),
          col("n_queries"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr(s"coalesce(n_hits, 0L) * 10000 div (n_queries * $k)")
            .as("recall_bp"))
        .orderBy("nprobe")
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication scoped to coarse embedding clusters — the method that
    * makes embedding-space dedup tractable at corpus scale by only
    * comparing vectors that share a cluster, exactly as e13 scopes
    * comparisons to LSH buckets. Pipeline: IVF assign (e17's codebook +
    * struct-max argmax), then within-cluster pairs against SMALLER ids
    * only (half the candidate volume of e13's symmetric buckets —
    * is_dup/canonical only need the min smaller neighbor), cosine ≥ thr
    * marks a duplicate of its smallest qualifying cluster-mate. Work is
    * Σ cluster_size² with cluster count a free parameter (real runs pick
    * K ~ √N, capping expected cluster size); the threshold mirrors
    * e13's 0.4 (this corpus' planted near-dups; production ~0.95+).
    */
  private def e49SemDedup = {
    val thr = 0.4
    def dotCols(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.sql(
      "e49_semdedup",
      s"""WITH base AS (SELECT vec_id, embedding,
         |    sqrt(${dotCols("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
         |  FROM base WHERE vec_id % 67 = 3),
         |sc AS (SELECT b.vec_id, c.cid,
         |    ${dotCols("b.embedding", "c.cemb")} / (b.nrm * c.cnrm) AS cs
         |  FROM base b CROSS JOIN cent c),
         |best AS (SELECT vec_id, max(cs) AS mc FROM sc GROUP BY vec_id),
         |assign AS (SELECT sc.vec_id, min(cid) AS list_id
         |  FROM sc JOIN best USING (vec_id) WHERE cs = mc GROUP BY sc.vec_id),
         |v AS (SELECT base.vec_id, base.embedding, base.nrm, list_id
         |  FROM base JOIN assign USING (vec_id)),
         |dup AS (SELECT a.vec_id AS vid, min(b.vec_id) AS mn
         |  FROM v a JOIN v b
         |    ON a.list_id = b.list_id AND b.vec_id < a.vec_id
         |  WHERE round(${dotCols("a.embedding", "b.embedding")} /
         |    (a.nrm * b.nrm), 4) >= $thr
         |  GROUP BY a.vec_id)
         |SELECT v.vec_id, v.list_id,
         |  least(v.vec_id, coalesce(mn, v.vec_id)) AS canonical_id,
         |  CASE WHEN mn IS NOT NULL THEN 1 ELSE 0 END AS is_dup
         |FROM v LEFT JOIN dup ON dup.vid = v.vec_id
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val base = embBase(s, dir)
      val assign = ivfAssign(base)
      val vs = base.join(assign, "vec_id").repartition(col("list_id"))
      val cosine = round(
        dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), 4)
      val dup = vs.as("a")
        .join(vs.as("b"),
          col("a.list_id") === col("b.list_id") &&
            col("b.vec_id") < col("a.vec_id"))
        .filter(cosine >= thr)
        .groupBy(col("a.vec_id").as("vid"))
        .agg(min(col("b.vec_id")).as("mn"))
      vs.join(dup, col("vec_id") === col("vid"), "left")
        .select(
          col("vec_id"), col("list_id"),
          least(col("vec_id"), coalesce(col("mn"), col("vec_id")))
            .as("canonical_id"),
          when(col("mn").isNotNull, 1).otherwise(0).as("is_dup"))
    }
  }

  /** Vocabulary-growth / hapax report per source — the corpus-health
    * metrics a data audit reads: token volume, distinct-type count,
    * type-token ratio (Heaps'-law position), and the hapax-legomenon
    * share (singleton types — high hapax + low TTR flags OCR noise or
    * boilerplate floods respectively). One (source, word) aggregation —
    * vocabulary-bounded, map-side combined — then a #sources-row
    * rollup; ratios are integer-count divisions done once per source
    * row. Linear in corpus size at 100 TB.
    */
  private def e54VocabGrowth = QueryDef.sql(
    "e54_vocab_growth",
    s"""WITH w AS (SELECT source, unnest(${Portable.wordsDuck}) AS word
       |  FROM documents),
       |tf AS (SELECT source, word, count(*) AS cnt FROM w
       |  GROUP BY source, word)
       |SELECT source,
       |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  count(*) AS n_types,
       |  count(CASE WHEN cnt = 1 THEN 1 END) AS n_hapax,
       |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS type_token_ratio,
       |  round(CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE)
       |    / count(*), 6) AS hapax_share
       |FROM tf GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"), explode(expr(Portable.wordsSpark)).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("cnt") === 1, 1)).as("n_hapax"))
      .select(
        col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_share"))
      .orderBy("source")
  }

  /** Text-quality statistics per language. Every ratio is a ratio of
    * integer SUMS (exact), divided once — never an average of per-row
    * doubles, whose accumulation order differs between engines.
    */
  private def e7TextStats = QueryDef.sql(
    "e7_text_stats",
    s"""WITH d AS (SELECT lang, n_chars,
       |    len(${Portable.wordsDuck}) AS n_words,
       |    len(list_distinct(${Portable.wordsDuck})) AS n_uniq,
       |    len(list_filter(${Portable.wordsDuck},
       |        w -> w IN ('the', 'a'))) AS n_stop,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(n_words) AS BIGINT) AS total_words,
       |  round(CAST(sum(n_stop) AS DOUBLE) / sum(n_words), 4)
       |    AS stopword_ratio,
       |  round(CAST(sum(n_uniq) AS DOUBLE) / sum(n_words), 4) AS uniq_ratio,
       |  round(CAST(sum(n_punct) AS DOUBLE) / sum(n_chars), 4)
       |    AS punct_ratio
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val words = expr(Portable.wordsSpark)
    Tables.documents(s, dir)
      .select(
        col("lang"), col("n_chars"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_uniq"),
        size(filter(words, w => w.isin("the", "a"))).cast("long")
          .as("n_stop"),
        size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)"))
          .cast("long").as("n_punct"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_words")).as("total_words"),
        round(sum(col("n_stop")).cast("double") / sum(col("n_words")), 4)
          .as("stopword_ratio"),
        round(sum(col("n_uniq")).cast("double") / sum(col("n_words")), 4)
          .as("uniq_ratio"),
        round(sum(col("n_punct")).cast("double") / sum(col("n_chars")), 4)
          .as("punct_ratio"))
      .orderBy("lang")
  }

  /** Per-DOCUMENT quality filter — the actual training-data admission
    * op (e7 is the corpus-level aggregate view of the same signals): each
    * document gets its word count, stopword ratio, and punctuation ratio,
    * plus a composite keep/drop decision against fixed thresholds. The
    * decision uses the UNROUNDED ratios (identical double divisions in
    * both engines); ratios are rounded to 4dp only for display. Pure
    * per-row expression work — embarrassingly parallel, and as a filter
    * it pushes straight down onto the scan in a larger pipeline.
    */
  private def e14QualityFilter = QueryDef.sql(
    "e14_quality_filter",
    s"""WITH d AS (SELECT doc_id, n_chars,
       |    len(${Portable.wordsDuck}) AS n_words,
       |    len(list_filter(${Portable.wordsDuck},
       |        w -> w IN ('the', 'a'))) AS n_stop,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct
       |  FROM documents)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
       |  round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
       |  CASE WHEN n_words >= 5
       |        AND CAST(n_stop AS DOUBLE) / n_words >= 0.01
       |        AND CAST(n_punct AS DOUBLE) / n_chars <= 0.2
       |    THEN 1 ELSE 0 END AS keep
       |FROM d WHERE n_words > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val words = expr(Portable.wordsSpark)
    val d = Tables.documents(s, dir)
      .select(
        col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_words"),
        size(filter(words, w => w.isin("the", "a"))).cast("long")
          .as("n_stop"),
        size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)"))
          .cast("long").as("n_punct"))
      .filter(col("n_words") > 0)
    val stopR = col("n_stop").cast("double") / col("n_words")
    val punctR = col("n_punct").cast("double") / col("n_chars")
    d.select(
      col("doc_id"), col("n_words"),
      round(stopR, 4).as("stop_ratio"),
      round(punctR, 4).as("punct_ratio"),
      when(col("n_words") >= 5 && stopR >= 0.01 && punctR <= 0.2, 1)
        .otherwise(0).as("keep"))
  }

  /** The composed data-prep flow — quality filter (e14's thresholds) then
    * exact dedup (e1's content hashing) then per-language yield stats —
    * as ONE declarative plan: Catalyst fuses the per-row signal
    * expressions with the filter into the scan stage, and the only
    * shuffle is the final (lang, digest) aggregation. Demonstrates that
    * the extension operators compose without materialization barriers;
    * distinct-counting goes through the 256-bit digest, not the document
    * text, so the shuffle payload stays fixed-width at any corpus size.
    */
  private def e16PrepPipeline = QueryDef.sql(
    "e16_prep_pipeline",
    s"""WITH d AS (SELECT doc_id, lang, text, n_chars,
       |    len(${Portable.wordsDuck}) AS n_words,
       |    len(list_filter(${Portable.wordsDuck},
       |        w -> w IN ('the', 'a'))) AS n_stop,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct
       |  FROM documents),
       |kept AS (SELECT * FROM d
       |  WHERE n_words >= 5
       |    AND CAST(n_stop AS DOUBLE) / n_words >= 0.01
       |    AND CAST(n_punct AS DOUBLE) / n_chars <= 0.2)
       |SELECT lang, count(*) AS kept_docs,
       |  count(DISTINCT md5(text)) AS unique_docs,
       |  round(1 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 4)
       |    AS dup_ratio
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val words = expr(Portable.wordsSpark)
    val nWords = size(words).cast("long")
    val nStop = size(filter(words, w => w.isin("the", "a"))).cast("long")
    val nPunct =
      size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")).cast("long")
    Tables.documents(s, dir)
      .filter(nWords >= 5 &&
        nStop.cast("double") / nWords >= 0.01 &&
        nPunct.cast("double") / col("n_chars") <= 0.2)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("kept_docs"),
        countDistinct(sha2(col("text"), 256)).as("unique_docs"),
        round(lit(1) -
          countDistinct(sha2(col("text"), 256)).cast("double") / count(lit(1)),
          4).as("dup_ratio"))
      .orderBy("lang")
  }

  /** Heuristic language-ID: marker-stopword counts per candidate language,
    * argmax with deterministic tie-breaks, 'unknown' when no marker hits.
    * Output is the actual-vs-predicted confusion matrix. (On this synthetic
    * shared-vocabulary corpus the classifier is expected to collapse to
    * en/unknown — the operator, not the accuracy, is under test.)
    */
  private def e8LangId = {
    val markers = Seq(
      "s_en" -> Seq("the", "a"),
      "s_fr" -> Seq("le", "la", "et"),
      "s_de" -> Seq("der", "die", "und"),
      "s_es" -> Seq("el", "los", "y"))
    def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
    val scoreDuck = markers.map { case (n, ws) =>
      s"len(list_filter(${Portable.wordsDuck}, w -> w IN (${inList(ws)})))" +
        s" AS $n"
    }.mkString(",\n    ")
    QueryDef.sql(
      "e8_lang_id",
      s"""WITH sc AS (SELECT lang,
         |    $scoreDuck
         |  FROM documents),
         |p AS (SELECT lang,
         |  CASE
         |    WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0
         |      THEN 'unknown'
         |    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
         |    WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
         |    WHEN s_de >= s_es THEN 'de'
         |    ELSE 'es' END AS predicted
         |  FROM sc)
         |SELECT lang, predicted, count(*) AS n FROM p
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val words = expr(Portable.wordsSpark)
      val scored = Tables.documents(s, dir).select(
        col("lang") +: markers.map { case (n, ws) =>
          size(filter(words, w => w.isin(ws: _*))).cast("long").as(n)
        }: _*)
      scored
        .withColumn("predicted",
          when(col("s_en") === 0 && col("s_fr") === 0 &&
            col("s_de") === 0 && col("s_es") === 0, "unknown")
            .when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de") &&
              col("s_en") >= col("s_es"), "en")
            .when(col("s_fr") >= col("s_de") && col("s_fr") >= col("s_es"),
              "fr")
            .when(col("s_de") >= col("s_es"), "de")
            .otherwise("es"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }
  }

  /** Corpus vocabulary building — top-100 word tokens by frequency with
    * deterministic (freq DESC, token) ordering. The aggregation gets
    * map-side partial counts from Catalyst (each partition contributes
    * one row per distinct token it saw, not one per occurrence) and the
    * top-k executes as TakeOrderedAndProject — no global sort of the
    * vocabulary. This is the tokenizer-training precursor (count, then
    * truncate to a vocab budget).
    */
  private def e18VocabTopk = QueryDef.sql(
    "e18_vocab_topk",
    s"""SELECT w AS token, count(*) AS freq
       |FROM (SELECT unnest(${Portable.wordsDuck}) AS w FROM documents)
       |GROUP BY w ORDER BY freq DESC, token LIMIT 100""".stripMargin) {
    (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(expr(Portable.wordsSpark)).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(100)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenization
    * (alpha runs | digit runs | single non-alnum). Pure per-row expression
    * work — embarrassingly parallel.
    */
  private def e9TokenCount = QueryDef.sql(
    "e9_token_count",
    """SELECT doc_id, length(text) AS n_chars_exact,
      |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
      |    AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_exact"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
          .as("ws_tokens"),
        size(expr(
          "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .cast("long").as("bpe_tokens"))
  }

  /** Rolling-hash document fingerprint (char-level polynomial mod P) with
    * exact-fingerprint cluster sizes — content-addressed identity without
    * shipping text through the shuffle.
    */
  private def e10Fingerprint = QueryDef.sql(
    "e10_fingerprint",
    s"""WITH f AS (SELECT doc_id, ${Portable.textFingerprintDuck}
       |    AS fingerprint
       |  FROM documents)
       |SELECT doc_id, fingerprint,
       |  count(*) OVER (PARTITION BY fingerprint) AS n_same
       |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val fp = Tables.documents(s, dir)
      .select(col("doc_id"), F.poly_hash(col("text")).as("fingerprint"))
    withClusterSize(fp, "fingerprint", "n_same")
      .select("doc_id", "fingerprint", "n_same")
  }

  /** Per-vector embedding statistics (norm, mean) — the multimodal
    * numeric-column path: Array[Float] folded in double, per row, no
    * cross-row float accumulation (which would be order-sensitive).
    */
  private def e11EmbedStats = QueryDef.sql(
    "e11_embed_stats",
    s"""WITH v AS (SELECT vec_id, label,
       |  ${dotDuck("embeddings", "embeddings")
          .replaceAll("embeddings\\.", "")} AS sq,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE))),
       |    (s, x) -> s + x) AS tot
       |  FROM embeddings)
       |SELECT vec_id, label, round(sqrt(sq), 4) AS norm,
       |  round(tot / 64, 4) + 0 AS mean
       |FROM v ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val embD = col("embedding").cast("array<double>")
    val ones = array_repeat(lit(1.0), 64)
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"), col("label"),
        round(sqrt(dot(embD, embD)), 4).as("norm"),
        round(dot(embD, ones) / 64, 4).as("mean"))
  }

  /** Frame sampling over multimodal payloads (the video-keyframe stand-in,
    * [[graft.operators.Media.sampleFrames]]): each payload expands to 4
    * evenly-spaced frames (offset = i*len/4) whose 16-byte windows are
    * checksummed by the batched mapPartitions stage. For this ASCII corpus
    * payload bytes == text chars, so the per-frame hashes have an exact
    * DuckDB twin via substr + the polynomial fold — the mapPartitions row
    * expansion is oracle-checked end to end, like e12's metadata path.
    */
  private def e15MediaFrames = {
    def chunkHashDuck(chunk: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split($chunk, ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |    (a, c) -> (a*31 + c) % $P)""".stripMargin
    QueryDef.sql(
      "e15_media_frames",
      s"""WITH f AS (SELECT doc_id, text, length(text) AS n,
         |    unnest(range(0, 4)) AS frame_idx
         |  FROM documents),
         |fr AS (SELECT doc_id, frame_idx, (frame_idx * n) // 4 AS "offset",
         |    substr(text, CAST((frame_idx * n) // 4 AS INT) + 1, 16) AS chunk
         |  FROM f WHERE (frame_idx * n) // 4 < n)
         |SELECT doc_id, frame_idx, "offset",
         |  ${chunkHashDuck("chunk")} AS frame_hash
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), lit("video").as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[Media.MediaDoc]
      Media.sampleFrames(docs, nFrames = 4)
        .select(col("doc_id"), col("frame_idx"), col("offset"),
          col("frame_hash"))
    }
  }

  /** Audio-shaped multimodal op: windowed energy + activity thresholding
    * over the opaque payload ([[graft.operators.Media.windowEnergy]]) —
    * the VAD (voice-activity-detection) stand-in; a real deployment
    * thresholds per-window PCM RMS through the same batched
    * mapPartitions stage. The stub's window energy is an exact integer
    * byte sum, so the whole path — window segmentation, per-window
    * energy, the active flag, and the per-document activity rollup —
    * is DuckDB-oracle-checkable. Per-row expansion is partition-local
    * (⌈len/32⌉ windows per doc, no shuffle before the final rollup).
    */
  private def e58MediaEnergy = QueryDef.sql(
    "e58_media_energy",
    s"""WITH f AS (SELECT doc_id, text, length(text) AS n,
       |    unnest(range(0, (length(text) + 31) // 32)) AS w
       |  FROM documents),
       |win AS (SELECT doc_id, w, w * 32 AS off,
       |    substr(text, CAST(w * 32 AS INT) + 1, 32) AS chunk
       |  FROM f),
       |e AS (SELECT doc_id, w, off, length(chunk) AS win_len,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(chunk, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> a + c) AS energy
       |  FROM win)
       |SELECT doc_id, count(*) AS n_windows,
       |  CAST(sum(CASE WHEN energy >= 96 * win_len THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_active,
       |  CAST(sum(energy) AS BIGINT) AS energy_total,
       |  (CAST(sum(CASE WHEN energy >= 96 * win_len THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000) // count(*) AS active_permille
       |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), lit("audio").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[Media.MediaDoc]
    Media.windowEnergy(docs, winBytes = 32)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(col("active")).cast("long").as("n_active"),
        sum(col("energy")).as("energy_total"))
      .select(col("doc_id"), col("n_windows"), col("n_active"),
        col("energy_total"),
        expr("(n_active * 1000) div n_windows").as("active_permille"))
  }

  /** Video-shaped multimodal op: SHOT-BOUNDARY detection — threshold
    * the frame-to-frame feature delta, the standard cut detector every
    * video-ingest pipeline runs before sampling training frames (one
    * frame per shot beats uniform sampling: uniform oversamples long
    * static shots and misses short ones entirely). Frames are e58's
    * 32-byte windows with the stub integer energy standing in for the
    * per-frame luma histogram; a boundary fires where the per-byte
    * energy delta ≥ 8 (of 0–255) — all comparisons integer and
    * length-normalized as cross products (`|e·l' − e'·l| ≥ 8·l·l'`),
    * so ragged last windows never divide. Per asset: frames,
    * boundaries, shots (= boundaries + 1), and the peak per-byte delta
    * ×1000 — the tuning signal for the threshold.
    *
    * Scale (100 TB): the window expansion is partition-local
    * ([[graft.operators.Media.windowEnergy]]'s batched mapPartitions,
    * the one justified use); the lag window partitions by doc_id —
    * bounded frames per asset, skew-free; one keyed rollup ends the
    * plan. A real deployment swaps the energy stub for decoded frame
    * histograms inside the same stage and keeps every plan shape.
    */
  private def e139ShotBoundaries = QueryDef.sql(
    "e139_shot_boundaries",
    s"""WITH f AS (SELECT doc_id, text, length(text) AS n,
       |    unnest(range(0, (length(text) + 31) // 32)) AS w
       |  FROM documents),
       |win AS (SELECT doc_id, w,
       |    substr(text, CAST(w * 32 AS INT) + 1, 32) AS chunk
       |  FROM f),
       |e AS (SELECT doc_id, w, length(chunk) AS l,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(chunk, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (a, c) -> a + c) AS energy
       |  FROM win),
       |lagd AS (SELECT doc_id, w, l, energy,
       |    lag(energy) OVER (PARTITION BY doc_id ORDER BY w) AS pe,
       |    lag(l) OVER (PARTITION BY doc_id ORDER BY w) AS pl
       |  FROM e),
       |b AS (SELECT doc_id,
       |    CASE WHEN pe IS NOT NULL
       |        AND abs(energy * pl - pe * l) >= 8 * l * pl
       |      THEN 1 ELSE 0 END AS is_b,
       |    CASE WHEN pe IS NULL THEN 0
       |      ELSE abs(energy * pl - pe * l) * 1000 // (l * pl) END AS dx
       |  FROM lagd)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(is_b) AS BIGINT) AS n_boundaries,
       |  CAST(sum(is_b) + 1 AS BIGINT) AS n_shots,
       |  CAST(max(dx) AS BIGINT) AS peak_delta_x1000
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), lit("video").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[Media.MediaDoc]
    val lagW = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    Media.windowEnergy(docs, winBytes = 32)
      .select(col("doc_id"), col("win_idx").as("w"),
        col("win_len").as("l"), col("energy"))
      .withColumn("pe", lag(col("energy"), 1).over(lagW))
      .withColumn("pl", lag(col("l"), 1).over(lagW))
      .select(col("doc_id"),
        when(col("pe").isNotNull &&
            abs(col("energy") * col("pl") - col("pe") * col("l"))
              >= lit(8) * col("l") * col("pl"), 1L)
          .otherwise(0L).as("is_b"),
        when(col("pe").isNull, 0L)
          .otherwise(expr(
            "abs(energy * pl - pe * l) * 1000 div (l * pl)")).as("dx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("is_b")).as("n_boundaries"),
        (sum(col("is_b")) + 1L).as("n_shots"),
        max(col("dx")).as("peak_delta_x1000"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal plumbing: documents as opaque binary payloads with typed
    * metadata, decoded by the batched mapPartitions stage in
    * [[graft.operators.Media]]. The stub "decode" is a rolling checksum of
    * the payload bytes, which for this ASCII corpus equals the char-level
    * fingerprint — so even the mapPartitions path gets a full DuckDB
    * oracle.
    */
  private def e12MediaMeta = QueryDef.sql(
    "e12_media_meta",
    s"""SELECT doc_id, 'text' AS media_type,
       |  CAST(length(text) AS BIGINT) AS n_bytes,
       |  ${Portable.textFingerprintDuck} AS checksum
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), lit("text").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[Media.MediaDoc]
    Media.extractFeatures(docs)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("checksum"))
  }

  /** Incremental dedup — the shape a production pipeline actually runs:
    * dedupe a NEW shard (delta = doc_id ≡ 4 mod 5, ~20%) against the
    * EXISTING corpus (base), without recomputing base-base pairs. Each
    * delta doc gets a verdict: 'exact' (content-hash match in base),
    * 'neardup' (shares a MinHash band with a base doc and exact shingle
    * Jaccard ≥ 0.3), else 'kept'.
    *
    * Scale shape: candidate generation is the ASYMMETRIC band join —
    * delta bands ⋈ base bands — so bucket work is Σ df_delta·df_base
    * per band key, strictly smaller than the self-join's Σ df²; base-base
    * pairs are never generated (at production scale the base side's
    * signatures come from a stored index, same join shape). The exact
    * pass joins 32-byte digests, never text. Within-shard dedup is the
    * ordinary e1/e3 applied to the shard alone. The DuckDB oracle reuses
    * the symmetric `verified` pair set and filters to cross-split pairs —
    * an independent formulation with the same result set.
    */
  /** One side's (doc_id, shs, sig) signature frame — e41's per-side
    * MinHash pass, shared with e168's verification tier: the e3
    * pattern (repartition(doc_id) + keep-columns-referenced guards) so
    * bands and the verification join sides share one exchange.
    */
  private def mhSide(side: DataFrame): DataFrame = side
    .select(col("doc_id"), F.shingle_hashes(col("text")).as("shs"))
    .filter(size(col("shs")) > 0)
    .filter(col("doc_id").isNotNull)
    .select(col("doc_id"), col("shs"), F.min_hashes(col("shs")).as("sig"))
    .repartition(col("doc_id"))

  /** Exploded (doc_id, band_id, band_key) rows of a [[mhSide]] frame —
    * the same 6×2 banding as [[graft.streaming.StreamBandGate]]'s
    * index, with doc ids retained (the gate's admission index drops
    * them; verification needs them).
    */
  private def bandsOf(mh: DataFrame): DataFrame = {
    val bandKeys = array((0 until 6).map(k =>
      element_at(col("sig"), 2 * k + 1) * P +
        element_at(col("sig"), 2 * k + 2)): _*)
    mh.select(col("doc_id"),
      posexplode(when(size(col("shs")) > 0, bandKeys))
        .as(Seq("band_id", "band_key")))
  }

  private def e41IncrementalDedup = QueryDef.sql(
    "e41_incremental_dedup",
    s"""$minhashPairsDuck,
       |ex AS (SELECT DISTINCT d.doc_id, 1 AS fe
       |  FROM documents d JOIN documents b
       |    ON d.text = b.text AND d.doc_id % 5 = 4 AND b.doc_id % 5 <> 4),
       |nd AS (SELECT DISTINCT
       |    CASE WHEN doc_a % 5 = 4 THEN doc_a ELSE doc_b END AS doc_id,
       |    1 AS fn
       |  FROM verified
       |  WHERE jaccard >= 0.3 AND ((doc_a % 5 = 4) <> (doc_b % 5 = 4)))
       |SELECT dd.doc_id,
       |  CASE WHEN fe = 1 THEN 'exact' WHEN fn = 1 THEN 'neardup'
       |    ELSE 'kept' END AS verdict
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) dd
       |LEFT JOIN ex USING (doc_id) LEFT JOIN nd USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val isDelta = col("doc_id") % 5 === 4
    // exact pass: digests only
    val dh = docs.filter(isDelta)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val bh = docs.filter(!isDelta)
      .select(sha2(col("text"), 256).as("h")).distinct()
    val ex = dh.join(bh, "h").select("doc_id").distinct()
      .withColumn("fe", lit(1))
    // near-dup pass: per-side signature frames (disjoint doc sets — the
    // shingle pass still runs once per document overall); within each
    // side the e3 pattern applies: repartition(doc_id) + the
    // keep-columns-referenced guards so bands and the verification join
    // side share one exchange.
    val mhD = mhSide(docs.filter(isDelta))
    val mhB = mhSide(docs.filter(!isDelta))
    val cand = bandsOf(mhD).as("a")
      .join(bandsOf(mhB).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("doc_d"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = when(
      size(col("sa.sig")) > 0 && size(col("sb.sig")) > 0,
      size(array_intersect(col("sa.shs"), col("sb.shs"))))
    val jac = round(inter.cast("double") /
      (size(col("sa.shs")) + size(col("sb.shs")) - inter), 4)
    val nd = cand
      .join(mhD.as("sa"), col("doc_d") === col("sa.doc_id"))
      .join(mhB.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_d").as("doc_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .select("doc_id").distinct()
      .withColumn("fn", lit(1))
    docs.filter(isDelta).select("doc_id")
      .join(ex, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("fe") === 1, "exact").when(col("fn") === 1, "neardup")
          .otherwise("kept").as("verdict"))
  }

  /** The crawl-ingest admission loop CLOSED: the streaming gate's
    * quarantine composed with e41's batch exact-Jaccard verification —
    * the consumer [[graft.streaming.StreamBandGate]]'s contract
    * promises ("candidates quarantine for exact verification by the
    * batch pass") but nothing ran until now. Two tiers over the same
    * delta split as e41 (doc_id ≡ 4 mod 5):
    *
    *  1. GATE (`gate_verdict`): the admission rule exactly as the
    *     stream runs it — digest membership ('exact'), else ≥ 1 shared
    *     MinHash band key with the corpus ('neardup_candidate'), else
    *     'kept'. The corpus side is the gate's OWN slim index
    *     ([[graft.streaming.StreamBandGate.corpusIndex]]: digest set +
    *     doc-id-free distinct (band_id, band_key) table — the
    *     composition reuses the stream artifact, it does not
    *     re-derive it), so this tier never touches signatures or text.
    *  2. VERIFY (`verdict`): ONLY quarantined docs enter e41's
    *     asymmetric band join + exact shingle-Jaccard ≥ 0.3; a
    *     candidate that fails — the band rule's false positive, one
    *     lucky band among 6 — is REJECTED back to 'kept', proven
    *     harmless rather than auto-dropped.
    *
    * Union identity (spec-pinned): `verdict` equals e41's full two-tier verdict on the
    * same delta row-for-row — gate-then-verify loses nothing and
    * admits nothing extra, because the gate's band rule IS e41's
    * candidate rule (same signatures, same 6×2 banding) and
    * verification applies e41's threshold to exactly the quarantined
    * set.
    *
    * Scale (the reason the loop is shaped this way): the gate tier
    * joins the delta against the slim index — distinct band keys,
    * digests; no doc ids, no shingle arrays — so admission cost is
    * per-delta-doc and O(1) per band probe at any corpus size; the
    * expensive tier (signature fetch + exact Jaccard) runs only on the
    * quarantined minority. At fleet scale both index sides are the
    * batch pipeline's materialized parquet; nothing here is all-pairs.
    */
  /** Oracle SQL shared verbatim by e168 and e172 — the stored
    * admission artifacts are a LAYOUT of the same relations (the
    * e64/e171 contract), so both queries have the same answer.
    */
  private def gateVerifyDuckSql: String =
    s"""$minhashPairsDuck,
       |ex AS (SELECT DISTINCT d.doc_id, 1 AS fe
       |  FROM documents d JOIN documents b
       |    ON d.text = b.text AND d.doc_id % 5 = 4 AND b.doc_id % 5 <> 4),
       |gate AS (SELECT DISTINCT
       |    CASE WHEN doc_a % 5 = 4 THEN doc_a ELSE doc_b END AS doc_id,
       |    1 AS fg
       |  FROM cand WHERE (doc_a % 5 = 4) <> (doc_b % 5 = 4)),
       |ver AS (SELECT DISTINCT
       |    CASE WHEN doc_a % 5 = 4 THEN doc_a ELSE doc_b END AS doc_id,
       |    1 AS fn
       |  FROM verified
       |  WHERE jaccard >= 0.3 AND ((doc_a % 5 = 4) <> (doc_b % 5 = 4)))
       |SELECT dd.doc_id,
       |  CASE WHEN fe = 1 THEN 'exact'
       |    WHEN fg = 1 THEN 'neardup_candidate' ELSE 'kept'
       |  END AS gate_verdict,
       |  CASE WHEN fe = 1 THEN 'exact' WHEN fn = 1 THEN 'neardup'
       |    ELSE 'kept' END AS verdict
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) dd
       |LEFT JOIN ex USING (doc_id) LEFT JOIN gate USING (doc_id)
       |LEFT JOIN ver USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  private def e168GateVerify = QueryDef.sql(
    "e168_gate_verify", gateVerifyDuckSql) { (s, dir) =>
    gateVerifyImpl(s, dir, store = None)
  }

  /** e168 run entirely from PERSISTED corpus artifacts — e41's
    * documented production posture ("at production scale the base
    * side's signatures come from a stored index, same join shape")
    * mechanized: the three admission artifacts — the digest set, the
    * doc-id-free (band_id, band_key) gate index, and the full
    * (doc_id, shs, sig) signature store verification reads — are
    * written to parquet and every corpus-side join reads them BACK
    * from disk; the delta alone is computed fresh (it is the arriving
    * data). Same oracle SQL as e168: the artifacts are a layout of
    * the same relations, so the verdicts are identical (spec-pinned).
    * At fleet scale these tables are what the batch pipeline maintains
    * between crawls, and what [[graft.streaming.StreamBandGate]] reads
    * as its static sides — the stored-artifact loop, closed the
    * e64/e170/e171 way for the dedup family.
    */
  private def e172GateVerifyStored = QueryDef.sql(
    "e172_gate_verify_stored", gateVerifyDuckSql) { (s, dir) =>
    gateVerifyImpl(s, dir, store = Some("e172-admission"))
  }.withBuildOnly((_, s, dir) =>
    // the STEADY-STATE admission leg: artifact writes
    // are fingerprint-amortized, so the first invocation builds the
    // store and every later one reads only — ProbeMain's warmup pays
    // the build, the timed pass prices what a crawl operator pays per
    // delta between index refreshes
    gateVerifyImpl(s, dir, store = Some("e172-admission-steady"),
      amortize = true))

  /** Shared e168/e172 implementation; `store` names a scratch leaf to
    * roundtrip the corpus artifacts through parquet before use.
    * `amortize` guards those writes with the [[graft.sources.Layout]]
    * fingerprint discipline (skip when the store already matches the
    * source scan) — the steady-state posture, where the artifacts are
    * yesterday's tables and only admission runs.
    */
  private[queries] def gateVerifyImpl(
      s: SparkSession, dir: String, store: Option[String],
      amortize: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isDelta = col("doc_id") % 5 === 4
    val base = docs.filter(!isDelta)
    // the gate's own slim corpus index — the stream operator's builder
    // (plan construction only — no job runs unless a write needs them)
    val (dig0, gateBands0) =
      graft.streaming.StreamBandGate.corpusIndex(base)
    val mhB0 = mhSide(base)
    // e172's posture: the three corpus artifacts roundtrip through
    // parquet, and every corpus-side join below reads the STORED
    // tables — the base shingle/signature pass runs at write time
    // only, exactly the between-crawls amortization e41 documents
    val (dig, gateBands, mhB) = store match {
      case None => (dig0, gateBands0, mhB0)
      case Some(leaf) =>
        val p = Scratch.dir(s, leaf)
        if (amortize) {
          val fp = graft.sources.Layout.scanFingerprint(docs)
          // amortize + plain writes, NOT writePartitionedIfStale with
          // zero partition columns: that path's spread key degenerates
          // to a constant and funnels the corpus-sized digest set
          // through ONE task — these artifacts keep the writer's
          // natural parallelism and only gain the fingerprint skip
          graft.sources.Layout.amortize(s, s"$p/digests.parquet", fp)(
            dig0.write.mode("overwrite")
              .parquet(s"$p/digests.parquet"))
          graft.sources.Layout.amortize(s, s"$p/bands.parquet", fp)(
            gateBands0.write.mode("overwrite")
              .parquet(s"$p/bands.parquet"))
          // the signature store is the one corpus-sized verification
          // side, and an unbucketed store RE-SHUFFLES per admission
          // (measured 563 MB of the steady leg's 567 MB at 100× —
          // almost the whole exchange budget was yesterday's table
          // moving again): bucketed on doc_id, the verification
          // join-back reads pre-shuffled buckets and only the
          // quarantined candidate side moves
          val tag = java.security.MessageDigest.getInstance("SHA-256")
            .digest(dir.getBytes("UTF-8")).take(8)
            .map("%02x".format(_)).mkString
          val sigT = s"graft_sigstore_$tag"
          graft.sources.Layout.writeBucketedIfStale(
            mhB0, sigT, "doc_id", 16, fp)
          (s.read.parquet(s"$p/digests.parquet"),
            s.read.parquet(s"$p/bands.parquet"),
            s.table(sigT))
        } else {
          dig0.write.mode("overwrite").parquet(s"$p/digests.parquet")
          gateBands0.write.mode("overwrite").parquet(s"$p/bands.parquet")
          mhB0.write.mode("overwrite").parquet(s"$p/signatures.parquet")
          (s.read.parquet(s"$p/digests.parquet"),
            s.read.parquet(s"$p/bands.parquet"),
            s.read.parquet(s"$p/signatures.parquet"))
        }
    }
    // tier 1a: digest membership (32-byte digests, never text)
    val ex = docs.filter(isDelta)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(dig, "h").select("doc_id").distinct()
      .withColumn("fe", lit(1))
    // tier 1b: band-key membership against the doc-id-free gate index —
    // the quarantine set
    val mhD = mhSide(docs.filter(isDelta))
    val gate = bandsOf(mhD)
      .join(gateBands, Seq("band_id", "band_key"))
      .select("doc_id").distinct()
      .withColumn("fg", lit(1))
    // tier 2: e41's verification, restricted to the quarantined docs —
    // the asymmetric delta⋈base band join with full doc ids, then exact
    // shingle Jaccard at the e41 threshold
    val mhDq = mhD.join(gate.select("doc_id"), "doc_id")
    val cand = bandsOf(mhDq).as("a")
      .join(bandsOf(mhB).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("doc_d"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = when(
      size(col("sa.sig")) > 0 && size(col("sb.sig")) > 0,
      size(array_intersect(col("sa.shs"), col("sb.shs"))))
    val jac = round(inter.cast("double") /
      (size(col("sa.shs")) + size(col("sb.shs")) - inter), 4)
    val nd = cand
      .join(mhDq.as("sa"), col("doc_d") === col("sa.doc_id"))
      .join(mhB.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_d").as("doc_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .select("doc_id").distinct()
      .withColumn("fn", lit(1))
    docs.filter(isDelta).select("doc_id")
      .join(ex, Seq("doc_id"), "left")
      .join(gate, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("fe") === 1, "exact")
          .when(col("fg") === 1, "neardup_candidate")
          .otherwise("kept").as("gate_verdict"),
        when(col("fe") === 1, "exact").when(col("fn") === 1, "neardup")
          .otherwise("kept").as("verdict"))
  }

  /** Shared 4-round synchronous-LPA oracle CTE chain over a symmetric
    * deduped `edges(u, v)` CTE — the SQL replay of
    * [[graft.operators.LabelPropagation]]'s exact rule (self-vote,
    * count DESC, label ASC).
    */
  private def lpaRoundsDuck(rounds: Int): String =
    s"""l0 AS MATERIALIZED (SELECT u AS node, u AS lbl FROM edges
       |  GROUP BY u),
       |""".stripMargin +
      (1 to rounds).map { r =>
        s"""v$r AS (SELECT e.u AS node, l.lbl AS cand
           |  FROM edges e JOIN l${r - 1} l ON l.node = e.v
           |  UNION ALL SELECT node, lbl FROM l${r - 1}),
           |c$r AS (SELECT node, cand, count(*) AS c FROM v$r
           |  GROUP BY node, cand),
           |l$r AS MATERIALIZED (SELECT node, cand AS lbl FROM (
           |    SELECT node, cand, row_number() OVER (PARTITION BY node
           |      ORDER BY c DESC, cand) AS rn FROM c$r) t
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")

  /** COMMUNITY structure of the dup graph
    * ([[graft.operators.LabelPropagation]], 4 synchronous rounds)
    * laid beside its reachability CLUSTERS (e32's components) per node
    * — the over-merge audit the CC-based dedup chain cannot produce
    * about itself. Reachability merges through ANY bridge: two distinct
    * boilerplate templates joined by a handful of hybrid docs become
    * ONE cluster, and min-id canonicalization (e45/e155) then deletes
    * one whole template. LPA floods dense regions but a bridge's few
    * cross votes never outweigh a clique's internal majority, so a
    * `split = 1` row — a node whose community label disagrees with its
    * cluster canonical — marks exactly where auto-delete should pause
    * for verification (e129's core/periphery question answered at CUT
    * grain instead of degree grain). On THIS pair-dominated corpus
    * (e133: 93% of dup mass in size-2 components) the honest reading
    * is split = 0 everywhere — communities coincide with components —
    * and e163b is the always-split constructed twin (the e129b
    * pattern) that keeps the splitting path exercised at every SF.
    *
    * REP grain (the e155/e156 invariant applied UP FRONT): exact
    * clones collapse to a min-id representative BEFORE the pair
    * machinery, because a clone set is a clique the detector would
    * dutifully rebuild — the first doc-grain form probed 120 s /
    * 14.2 GB shuffle on the 100× dense-replica corpus, ALL of it
    * candidate/verify work on clone cliques that the collapse removes
    * by construction. Clone mass survives in the `n_clones` column;
    * bridges between clone sets survive as rep-rep edges, so the cut
    * question LPA answers is unchanged.
    *
    * Scale: LPA rounds are edge⋈label joins + two keyed aggregations
    * over the vote table (Σ degree + |nodes| rows) — the CC cost
    * class; the argmax is a map-side struct max, no window.
    */
  private def e163LpaCommunities =
    QueryDef.pinned(
      "e163_lpa_communities",
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id,
         |    CAST(count(*) AS BIGINT) AS n_clones, text
         |  FROM documents WHERE len(text) > 0 GROUP BY text),
         |${minhashPairsDuckFrom("reps").stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |${lpaRoundsDuck(4)}
         |SELECT c.node AS doc_id, r2.n_clones, c.cluster,
         |  l.lbl AS community,
         |  CAST(l.lbl <> c.cluster AS INT) AS split
         |FROM comp c JOIN l4 l ON l.node = c.node
         |JOIN reps r2 ON r2.doc_id = c.node
         |ORDER BY doc_id""".stripMargin) { (p, s, dir) =>
      // feeds the pair machinery AND n_clones
      val reps = p.checkpoint(Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_clones")))
      // feeds BOTH the CC and the LPA legs
      val pairs = p.checkpoint(minhashVerifiedPairsFrom(reps.select("doc_id", "text"))
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b"))
      val comp = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
      val comm = p.own(graft.operators.LabelPropagation
        .communities(pairs, "doc_a", "doc_b", rounds = 4))
      comp.select(col("node"), col("comp").as("cluster"))
        .join(comm, "node")
        .join(reps.select(col("doc_id").as("node"), col("n_clones")),
          "node")
        .select(col("node").as("doc_id"), col("n_clones"), col("cluster"),
          col("community"),
          (col("community") =!= col("cluster")).cast("int").as("split"))
        .orderBy("doc_id")
    }

  /** The chained-clique fixture graph shared by the e163b/e163c/e164b
    * always-split family (the e129b pattern): five region cliques
    * chained by four bridge edges (max nation of region r ↔ min nation
    * of region r+1) — ONE reachability component by construction, FIVE
    * LPA communities, non-degenerate at every SF because the nation
    * table never scales.
    */
  private def regionCliqueEdges(
      s: SparkSession, dir: String): DataFrame =
    regionCliqueSplit(s, dir)._2

  /** The fixture's (cliques-only, cliques+bridges) edge pair — e169b's
    * two generations: the bridges are exactly what gen B adds.
    */
  private[queries] def regionCliqueSplit(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val n = Tables.nation(s, dir).select(
      col("n_nationkey").cast("long").as("nk"),
      col("n_regionkey").cast("long").as("rk"))
    val a = n.select(col("nk").as("u"), col("rk"))
    val b = n.select(col("nk").as("v"), col("rk"))
    val cl = a.join(b, Seq("rk")).where(col("u") < col("v"))
      .select("u", "v")
    val bounds = n.groupBy("rk")
      .agg(min(col("nk")).as("mn"), max(col("nk")).as("mx"))
    val br = bounds.select(col("rk"), col("mx"))
      .join(bounds.select((col("rk") - 1).as("rk"), col("mn")), "rk")
      .select(col("mx").as("u"), col("mn").as("v"))
    (cl, cl.unionByName(br))
  }

  /** Oracle twin of [[regionCliqueEdges]]: CTE chain ending in the
    * symmetric `edges(u, v)` relation [[lpaRoundsDuck]] consumes.
    */
  private def regionCliqueDuck: String =
    s"""n AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
       |    CAST(n_regionkey AS BIGINT) AS rk FROM nation),
       |cl AS (SELECT a.nk AS u, b.nk AS v FROM n a
       |  JOIN n b ON b.rk = a.rk AND a.nk < b.nk),
       |bounds AS (SELECT rk, min(nk) AS mn, max(nk) AS mx FROM n
       |  GROUP BY rk),
       |br AS (SELECT x.mx AS u, y.mn AS v FROM bounds x
       |  JOIN bounds y ON y.rk = x.rk + 1),
       |base AS (SELECT u, v FROM cl UNION ALL SELECT u, v FROM br),
       |edges AS (SELECT u, v FROM base UNION SELECT v, u FROM base)"""
      .stripMargin

  /** The always-split constructed twin of e163: the fixture graph's
    * community rows, each labeled with the shared cc_comp and the
    * graph-wide n_components = 1, so the "LPA splits what CC merges"
    * claim is IN the hash-matched result, not in prose.
    */
  private def e163bLpaRegions =
    QueryDef.pinned(
      "e163b_lpa_regions",
      s"""WITH RECURSIVE $regionCliqueDuck,
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
         |${lpaRoundsDuck(4)},
         |tot AS (SELECT CAST(count(DISTINCT comp) AS BIGINT)
         |    AS n_components FROM comp)
         |SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(min(c.comp) AS BIGINT) AS cc_comp, tot.n_components
         |FROM l4 l JOIN comp c ON c.node = l.node CROSS JOIN tot
         |GROUP BY l.lbl, tot.n_components
         |ORDER BY community""".stripMargin) { (p, s, dir) =>
      // feeds both legs
      val edges = p.checkpoint(regionCliqueEdges(s, dir))
      val comp = p.own(graft.operators.ConnectedComponents
        .components(edges, "u", "v"))
      val comm = p.own(graft.operators.LabelPropagation
        .communities(edges, "u", "v", rounds = 4))
      val tot = comp.agg(countDistinct(col("comp")).as("n_components"))
      comm.join(comp, "node")
        .groupBy(col("community"))
        .agg(count(lit(1)).as("n_members"), min(col("comp")).as("cc_comp"))
        .crossJoin(broadcast(tot))
        .select(col("community"), col("n_members"), col("cc_comp"),
          col("n_components"))
        .orderBy("community")
    }

  /** Newman modularity of a labeling over an undirected simple pair
    * graph, in EXACT INTEGER arithmetic: with m =
    * |edges|, e_c = intra-partition edges and d_c = summed degree of
    * partition c, Q = Σ_c [e_c/m − d_c²/(4m²)] =
    * (4·m·Σe_c − Σd_c²) / (4m²) — so `modularity_num` alone ranks
    * labelings of the SAME graph (the denominator 4m² is shared), with
    * no division, no float, no engine disagreement (the q52
    * cross-multiplication rule applied to a graph statistic). The
    * single-partition labeling scores exactly 0 (Σe_c = m, d_c = 2m),
    * which makes "does LPA beat CC here?" a sign test. Newman &
    * Girvan, Phys. Rev. E 69, 026113 (2004) — public knowledge.
    *
    * One summary row per method: partition count, m, Σ intra, Σ d_c²,
    * and the numerator. Accumulator note (the q49 lever, documented
    * not applied): Σd_c² is the one term that outgrows BIGINT first at
    * fleet scale (a 10⁹-degree-mass community squares to 10¹⁸); a
    * 100 TB deployment swaps the two Σ accumulators to DECIMAL(38,0),
    * bounded here by the rep-grain dup graph's measured size.
    *
    * Scale: degree is one keyed count over the symmetric edge list;
    * intra is the edge list joined twice against the |V|-row label
    * table; Σd_c² is two keyed aggregations — all label-keyed
    * equi-exchanges on frames no larger than the dup graph itself,
    * the e163 cost class.
    */
  private[queries] def modularityRow(
      method: String, pairs: DataFrame, labels: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"),
        col("doc_a").as("v")))
    val deg = edges.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("d"))
    val m = pairs.agg(count(lit(1)).as("m_edges"))
    val intra = pairs
      .join(labels.select(col("node").as("doc_a"), col("lbl").as("la")),
        "doc_a")
      .join(labels.select(col("node").as("doc_b"), col("lbl").as("lb")),
        "doc_b")
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("intra_edges"))
    val bySq = labels.join(deg, "node")
      .groupBy("lbl").agg(sum(col("d")).as("dc"))
      .agg(sum(col("dc") * col("dc")).cast("long").as("sum_deg_sq"),
        count(lit(1)).as("n_parts"))
    m.crossJoin(intra).crossJoin(bySq)
      .select(lit(method).as("method"), col("n_parts"),
        col("m_edges"), col("intra_edges"), col("sum_deg_sq"),
        (lit(4L) * col("m_edges") * col("intra_edges")
          - col("sum_deg_sq")).as("modularity_num"))
  }

  /** The modularity ORACLE tail shared by e175/e175b: consumes the
    * symmetric `edges`, oriented `pairs`, CC labels `ccl(node, lbl)`
    * and LPA labels `l4(node, lbl)` CTEs.
    */
  private def modularityDuckTail: String =
    s"""deg AS (SELECT u AS node, count(*) AS d FROM edges GROUP BY u),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM pairs),
       |icc AS (SELECT CAST(count(*) AS BIGINT) AS i FROM pairs p
       |  JOIN ccl a ON a.node = p.doc_a
       |  JOIN ccl b ON b.node = p.doc_b WHERE a.lbl = b.lbl),
       |dcc AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sdq,
       |    CAST(count(*) AS BIGINT) AS np
       |  FROM (SELECT c.lbl, sum(d.d) AS dc FROM ccl c
       |    JOIN deg d ON d.node = c.node GROUP BY c.lbl)),
       |ilp AS (SELECT CAST(count(*) AS BIGINT) AS i FROM pairs p
       |  JOIN l4 a ON a.node = p.doc_a
       |  JOIN l4 b ON b.node = p.doc_b WHERE a.lbl = b.lbl),
       |dlp AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sdq,
       |    CAST(count(*) AS BIGINT) AS np
       |  FROM (SELECT c.lbl, sum(d.d) AS dc FROM l4 c
       |    JOIN deg d ON d.node = c.node GROUP BY c.lbl))
       |SELECT 'cc' AS method, dcc.np AS n_parts, m.m_edges,
       |  icc.i AS intra_edges, dcc.sdq AS sum_deg_sq,
       |  CAST(4 * m.m_edges * icc.i - dcc.sdq AS BIGINT)
       |    AS modularity_num
       |FROM m, icc, dcc
       |UNION ALL
       |SELECT 'lpa', dlp.np, m.m_edges, ilp.i, dlp.sdq,
       |  CAST(4 * m.m_edges * ilp.i - dlp.sdq AS BIGINT)
       |FROM m, ilp, dlp
       |ORDER BY method""".stripMargin

  /** PARTITION-QUALITY ranking for the dedup audit chain — e163 marks
    * WHERE communities and clusters disagree (`split` rows); this
    * scores the two labelings of the SAME rep-grain dup graph so the
    * disagreement is RANKED, not just located: a corpus where the LPA
    * partition's modularity numerator clearly exceeds the CC
    * partition's is one where reachability is over-merging through
    * bridges and auto-delete should pause for verification
    * (audit → act → rank, the chain's last link). On THIS
    * pair-dominated corpus the honest expectation is near-parity
    * (e163's split = 0 reading); e175b is the always-split fixture
    * twin where LPA strictly wins at every SF.
    */
  private def e175Modularity =
    QueryDef.pinned(
      "e175_modularity",
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, text
         |  FROM documents WHERE len(text) > 0 GROUP BY text),
         |${minhashPairsDuckFrom("reps").stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified
         |  WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e
         |    ON e.u = reach.r),
         |ccl AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node),
         |${lpaRoundsDuck(4)},
         |$modularityDuckTail""".stripMargin) { (p, s, dir) =>
      val reps = Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text")
      // feeds CC, LPA, and three metric legs
      val pairs = p.checkpoint(minhashVerifiedPairsFrom(reps)
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b"))
      val ccl = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
        .select(col("node"), col("comp").as("lbl"))
      val lpa = p.own(graft.operators.LabelPropagation
        .communities(pairs, "doc_a", "doc_b", rounds = 4))
        .select(col("node"), col("community").as("lbl"))
      modularityRow("cc", pairs, ccl)
        .unionByName(modularityRow("lpa", pairs, lpa))
        .orderBy("method")
    }

  /** e175 on the chained-clique fixture (the e129b/e163b pattern):
    * ONE reachability component — whose modularity numerator is 0 by
    * the single-partition identity — against FIVE LPA communities
    * whose numerator is strictly positive, so "LPA ranks above CC
    * exactly when bridges over-merge" is carried by the hash-matched
    * rows at every SF (the nation table never scales). E175Spec pins
    * the strict inequality.
    */
  private def e175bModularityRegions =
    QueryDef.pinned(
      "e175b_modularity_regions",
      s"""WITH RECURSIVE $regionCliqueDuck,
         |pairs AS (SELECT u AS doc_a, v AS doc_b FROM base),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e
         |    ON e.u = reach.r),
         |ccl AS (SELECT node, min(r) AS lbl FROM reach GROUP BY node),
         |${lpaRoundsDuck(4)},
         |$modularityDuckTail""".stripMargin) { (p, s, dir) =>
      val pairs = p.checkpoint(regionCliqueEdges(s, dir)
        .select(col("u").as("doc_a"), col("v").as("doc_b")))
      val ccl = p.own(graft.operators.ConnectedComponents
        .components(pairs, "doc_a", "doc_b"))
        .select(col("node"), col("comp").as("lbl"))
      val lpa = p.own(graft.operators.LabelPropagation
        .communities(pairs, "doc_a", "doc_b", rounds = 4))
        .select(col("node"), col("community").as("lbl"))
      modularityRow("cc", pairs, ccl)
        .unionByName(modularityRow("lpa", pairs, lpa))
        .orderBy("method")
    }

  /** STABILIZATION metering for the pinned-rounds LPA contract
    * ([[graft.operators.LabelPropagation.communitiesWithChurn]], the
    * e158 n_updates posture): per synchronous round, how many nodes
    * changed label — run past the pinned 4 rounds (6 here) on the
    * always-split fixture so the zero tail is VISIBLE in the
    * hash-matched output. The synchronous update is deterministic in
    * the previous labeling, so the first churn-0 round is a fixpoint
    * certificate: every later round reproduces the same labels
    * (LabelPropagationSpec pins churn-0 ⇒ label equality). This is the
    * number a caller reads to decide whether rounds=4 was enough,
    * instead of trusting the pin.
    *
    * Scale: churn is one |nodes|-row keyed join per round between two
    * already-checkpointed label frames — the metering costs one extra
    * bounded job per round, only on this overload.
    */
  private def e163cLpaChurn = {
    val rounds = 6
    QueryDef.sql(
      "e163c_lpa_churn",
      s"""WITH $regionCliqueDuck,
         |${lpaRoundsDuck(rounds)}
         |SELECT * FROM (
         |${(1 to rounds).map { r =>
        s"  SELECT CAST($r AS BIGINT) AS round, (SELECT " +
          s"CAST(count(*) AS BIGINT) FROM l$r a JOIN l${r - 1} b " +
          s"ON b.node = a.node WHERE a.lbl <> b.lbl) AS n_changed"
      }.mkString("\n  UNION ALL\n")}
         |) ORDER BY round""".stripMargin) { (s, dir) =>
      val edges = regionCliqueEdges(s, dir)
      // only the churn counts are reported; the labels die here
      val churn = Pins.scope { p =>
        val (labels, counts) = graft.operators.LabelPropagation
          .communitiesWithChurn(edges, "u", "v", rounds = rounds)
        p.own(labels)
        counts
      }
      import s.implicits._
      churn.zipWithIndex
        .map { case (c, i) => ((i + 1).toLong, c) }
        .toDF("round", "n_changed")
        .orderBy("round")
    }
  }

  /** COMMUNITY-SCOPED dedup apply — the operator that ACTS on e163's
    * split signal. e45/e155 keep one survivor per
    * reachability component (min id), which on an over-merged graph —
    * two boilerplate templates linked by a few hybrid docs — deletes a
    * whole template. Here the survivor rule is one per LPA COMMUNITY:
    * inside a split component each dense region keeps its own min-id
    * survivor; in a non-split component the single community's min IS
    * the component min, so the rule degenerates to exactly e45's
    * behavior. Per-source yield columns are e45/e71's report shape,
    * plus `n_rescued` — reps kept ONLY because of community scoping
    * (community min ≠ component min), i.e. the docs the CC-grain apply
    * would have wrongly deleted. On this pair-dominated corpus the
    * honest value is 0 everywhere (e163 reads split = 0 — communities
    * coincide with components); e164b is the always-populated
    * constructed twin that keeps the rescue path hash-checked at every
    * SF, and CommunityApplySpec pins "both templates keep a survivor"
    * on the fixture.
    *
    * REP grain throughout (the e155/e156/e163 invariant): exact clones
    * collapse to a min-id representative BEFORE the pair machinery, and
    * — because the report is per-source aggregates — even the
    * CLASSIFICATION never moves a per-doc row: docs fold map-side into
    * (text, source) counts, so the one corpus-keyed exchange is the
    * e163 collapse exchange (~30 MB at the 1000× dense replicas,
    * vs 1.48 GB for the doc-grain digest join this replaced — the
    * measured lever in SCALING.md). Survivor selection is one
    * keyed min per community plus one |reps|-row status frame; no
    * per-cluster sort, nothing pair-grain beyond the banded candidate
    * join e3 already pays.
    */
  private def e164CommunityDedupApply =
    QueryDef.pinned(
      "e164_community_dedup_apply",
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, text
         |  FROM documents GROUP BY text),
         |${minhashPairsDuckFrom("reps").stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |${lpaRoundsDuck(4)},
         |surv AS (SELECT lbl, min(node) AS s FROM l4 GROUP BY lbl),
         |st AS (SELECT l.node, c.cluster,
         |    CASE WHEN l.node = v.s THEN 1 ELSE 0 END AS is_surv
         |  FROM l4 l JOIN comp c ON c.node = l.node
         |  JOIN surv v ON v.lbl = l.lbl),
         |fx AS (SELECT doc_id, source,
         |    min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
         |  FROM documents),
         |cls AS (SELECT f.source,
         |    CASE WHEN f.doc_id <> f.rep_id THEN 1 ELSE 0 END AS ex,
         |    CASE WHEN f.doc_id = f.rep_id AND st.is_surv = 0
         |      THEN 1 ELSE 0 END AS nr,
         |    CASE WHEN f.doc_id = f.rep_id AND st.is_surv = 1
         |      AND st.node <> st.cluster THEN 1 ELSE 0 END AS resc
         |  FROM fx f LEFT JOIN st ON st.node = f.rep_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ex) AS BIGINT) AS n_exact_dropped,
         |  CAST(sum(nr) AS BIGINT) AS n_near_dropped,
         |  CAST(count(*) - sum(ex) - sum(nr) AS BIGINT) AS n_kept,
         |  CAST(sum(resc) AS BIGINT) AS n_rescued
         |FROM cls GROUP BY source ORDER BY source""".stripMargin) {
      (p, s, dir) =>
        // (text, source)-GRAIN classification (measured lever):
        // the report is per-source AGGREGATES, so no per-doc row ever
        // needs to move — the first form joined every doc to a digest
        // map and probed 1.48 GB shuffle at the 1000× dense replicas
        // (~300 B/doc, linear by construction); this form folds docs
        // map-side into per-(text, source) counts (the e163 collapse
        // exchange, ~30 MB at 1000×) and everything downstream rides
        // the rep grain. A fleet deployment keys this exchange by a
        // content digest instead of the text value (the e161
        // convention); the text key keeps the oracle byte-exact.
        // feeds reps AND the classification
        val g = p.checkpoint(Tables.documents(s, dir)
          .groupBy("text", "source")
          .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("src_min"))
          .withColumn("rep_id",
            min(col("src_min")).over(Window.partitionBy(col("text")))))
        val reps = g.where(col("src_min") === col("rep_id"))
          .select(col("rep_id").as("doc_id"), col("text"))
        // feeds BOTH the CC and the LPA legs
        val pairs = p.checkpoint(minhashVerifiedPairsFrom(reps)
          .filter(col("jaccard") >= 0.2)
          .select("doc_a", "doc_b"))
        val comp = p.own(graft.operators.ConnectedComponents
          .components(pairs, "doc_a", "doc_b"))
        val comm = p.own(graft.operators.LabelPropagation
          .communities(pairs, "doc_a", "doc_b", rounds = 4))
        val surv = comm.groupBy("community").agg(min(col("node")).as("s"))
        val st = comm.join(comp, "node").join(surv, "community")
          .select(col("node").as("rep_id"),
            col("comp").as("cluster"),
            (col("node") === col("s")).cast("int").as("is_surv"))
        // the rep holder is the one (text, source) row whose src_min IS
        // the group rep; its group contributes cnt−1 exact drops, every
        // other source's group contributes cnt
        g.join(st, Seq("rep_id"), "left")
          .select(col("source"), col("cnt"),
            (col("cnt") - when(col("src_min") === col("rep_id"), 1L)
              .otherwise(0L)).as("ex"),
            when(col("src_min") === col("rep_id") && col("is_surv") === 0,
              1L).otherwise(0L).as("nr"),
            when(col("src_min") === col("rep_id") && col("is_surv") === 1
              && col("rep_id") =!= col("cluster"), 1L).otherwise(0L)
              .as("resc"))
          .groupBy("source")
          .agg(sum(col("cnt")).as("n_docs"),
            sum(col("ex")).as("n_exact_dropped"),
            sum(col("nr")).as("n_near_dropped"),
            (sum(col("cnt")) - sum(col("ex")) - sum(col("nr")))
              .as("n_kept"),
            sum(col("resc")).as("n_rescued"))
          .orderBy("source")
    }

  /** The always-populated constructed twin of e164's RESCUE path (the
    * e129b/e163b pattern, on the same chained-clique fixture): one
    * reachability component, five communities — the CC-grain rule
    * keeps ONE survivor (the component min), the community-scoped rule
    * keeps FIVE, so four rows carry rescued = 1 in the hash-matched
    * output at every SF. Each row is one community's apply outcome:
    * its survivor (community min), member count, the shared component
    * canonical, and whether only community scoping saved it.
    */
  private def e164bCommunityApplyRegions =
    QueryDef.pinned(
      "e164b_community_apply_regions",
      s"""WITH RECURSIVE $regionCliqueDuck,
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |${lpaRoundsDuck(4)}
         |SELECT l.lbl AS community, CAST(min(l.node) AS BIGINT) AS survivor,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(min(c.cluster) AS BIGINT) AS cc_comp,
         |  CAST(min(l.node) <> min(c.cluster) AS INT) AS rescued
         |FROM l4 l JOIN comp c ON c.node = l.node
         |GROUP BY l.lbl ORDER BY community""".stripMargin) { (p, s, dir) =>
      // feeds both legs
      val edges = p.checkpoint(regionCliqueEdges(s, dir))
      val comp = p.own(graft.operators.ConnectedComponents
        .components(edges, "u", "v"))
      val comm = p.own(graft.operators.LabelPropagation
        .communities(edges, "u", "v", rounds = 4))
      comm.join(comp, "node")
        .groupBy("community")
        .agg(min(col("node")).as("survivor"),
          count(lit(1)).as("n_members"),
          min(col("comp")).as("cc_comp"))
        .select(col("community"), col("survivor"), col("n_members"),
          col("cc_comp"),
          (col("survivor") =!= col("cc_comp")).cast("int").as("rescued"))
        .orderBy("community")
    }

  /** Shared oracle CTE chain for the neighborhood-function family: the
    * SQL replay of BOTH [[graft.operators.NeighborhoodFunction]] legs
    * over a symmetric deduped `edges(u, v)` CTE — `rounds` unrolled
    * iterations of the exact reachable relation (b0..bR) and of the
    * sparse HLL register relation (h0..hR, the e134 integer-only
    * estimator over the [[Portable.HllA]] node-id hash), ending in
    * per-round summary CTEs `ex(round, n_pairs)` / `es(round,
    * est_pairs)`.
    */
  private def anfRoundsDuck(rounds: Int): String = {
    val base =
      s"""b0 AS MATERIALIZED (SELECT node, node AS r FROM n0)"""
    val steps = (1 to rounds).map { t =>
      s"""b$t AS MATERIALIZED (SELECT DISTINCT node, r FROM (
         |  SELECT node, r FROM b${t - 1}
         |  UNION ALL SELECT e.u AS node, p.r FROM edges e
         |    JOIN b${t - 1} p ON p.node = e.v))"""
        .stripMargin
    }
    // Summaries GROUP BY the round tag over tagged unions (not one
    // ungrouped aggregate per round): an ungrouped count/sum emits a
    // row even over an EMPTY relation, while the Spark legs' groupBy
    // returns zero rows — on an edge-free corpus the engines would
    // structurally diverge (0 rows vs rounds+1 NULL rows). Grouped,
    // both emit nothing when there is no graph.
    val ex = (0 to rounds).map(t =>
      s"    SELECT CAST($t AS BIGINT) AS round, node FROM b$t")
      .mkString("ex AS (SELECT round, count(*) AS n_pairs FROM (\n",
        "\n    UNION ALL\n", "\n  ) GROUP BY round)")
    (Seq(anfHllDuckPfx(rounds, "", "edges"), base) ++ steps :+ ex)
      .mkString(",\n")
  }

  /** HLL-only, PREFIX-parameterized slice of [[anfRoundsDuck]] — the
    * register chain `${p}n0`, `${p}h0..R` over `$edges`, ending in the
    * per-round summary `${p}es(round, est_pairs, z_total)` — so a
    * query can replay TWO generations' HyperANF legs in one oracle
    * (e169 needs `aes`/`bes` side by side; the unprefixed form is
    * e165's). Same grouped-summary discipline as [[anfRoundsDuck]].
    */
  private def anfHllDuckPfx(
      rounds: Int, p: String, edges: String): String = {
    val alphaNum = 709L * (1L << 37)
    val tz = graft.operators.NeighborhoodFunction.tzCaseSql("h2 // 64")
    val base =
      s"""${p}n0 AS (SELECT u AS node FROM $edges GROUP BY u),
         |${p}h0 AS MATERIALIZED (SELECT node, h2 % 64 AS j, $tz AS mr
         |  FROM (SELECT node, x * x % $P * x % $P AS h2
         |    FROM (SELECT node, (node * ${Portable.HllA} +
         |      ${Portable.HllB}) % $P AS x FROM ${p}n0)))""".stripMargin
    val steps = (1 to rounds).map { t =>
      s"""${p}h$t AS MATERIALIZED (SELECT node, j, max(mr) AS mr FROM (
         |  SELECT node, j, mr FROM ${p}h${t - 1}
         |  UNION ALL SELECT e.u AS node, q.j, q.mr FROM $edges e
         |    JOIN ${p}h${t - 1} q ON q.node = e.v) GROUP BY node, j)"""
        .stripMargin
    }
    val es = (0 to rounds).map(t =>
      s"    SELECT CAST($t AS BIGINT) AS round, node, j, mr FROM ${p}h$t")
      .mkString(
        s"""${p}es AS (SELECT round,
           |    CAST(sum($alphaNum // (1000 * ((64 - cnt) * 33554432 + s)))
           |      AS BIGINT) AS est_pairs,
           |    CAST(sum(64 - cnt) AS BIGINT) AS z_total
           |  FROM (SELECT round, node, count(*) AS cnt,
           |      sum(CAST(1 AS BIGINT) << CAST(25 - mr AS INT)) AS s
           |    FROM (
           |""".stripMargin,
        "\n    UNION ALL\n",
        "\n  ) GROUP BY round, node) GROUP BY round)")
    (Seq(base) ++ steps :+ es).mkString(",\n")
  }

  /** Final SELECT shared by e165/e165b: both legs joined on round,
    * err_bp the sketch-vs-exact calibration, frac_bp the cumulative
    * distance distribution in basis points of the final round (its
    * 9000 crossing is the effective diameter once the tail converges).
    */
  private def anfSelectDuck(rounds: Int): String =
    s"""SELECT x.round, x.n_pairs, e.est_pairs,
       |  abs(e.est_pairs - x.n_pairs) * 10000 // x.n_pairs AS err_bp,
       |  x.n_pairs * 10000 // (SELECT n_pairs FROM ex
       |    WHERE round = $rounds) AS frac_bp,
       |  e.z_total
       |FROM ex x JOIN es e ON e.round = x.round
       |ORDER BY x.round""".stripMargin

  /** Neighborhood function / effective diameter of the dup graph
    * ([[graft.operators.NeighborhoodFunction]], HyperANF —
    * Boldi–Rosa–Vigna WWW'11): N(r) = reachable (node, node) pairs
    * within distance r, for r = 0..4, exact AND HLL-estimated with the
    * in-output err_bp calibration (the e134/e102 posture). This is the
    * graph family's DISTANCE axis — CC answers "what is transitively
    * connected" (e32), LPA "where are the dense regions" (e163); N(r)
    * answers "how far does near-dup transitivity CHAIN": frac_bp
    * hitting 10000 at round 1 says dup mass is direct-pair-shaped
    * (e133's reading, confirmed at distance grain), while a curve that
    * keeps climbing marks template drift by hybridization — chains the
    * min-id collapse absorbs silently.
    *
    * REP grain up front (the e155/e156/e163 invariant): exact clones
    * collapse to min-id representatives before any pair machinery, so
    * clone cliques never inflate either leg.
    *
    * Scale: the HLL leg's per-round state is ≤ 64·|V| register rows at
    * ANY corpus size — the point of the sketch path; the exact leg is
    * the component-quadratic AUDIT (production runs hllOnly, the
    * registered buildOnly plan).
    */
  private def e165NeighborhoodFn = {
    val rounds = 4
    def edges(s: SparkSession, dir: String): DataFrame = {
      val reps = Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"))
      minhashVerifiedPairsFrom(reps.select("doc_id", "text"))
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
    }
    QueryDef.pinned(
      "e165_neighborhood_fn",
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id, text
         |  FROM documents WHERE len(text) > 0 GROUP BY text),
         |${minhashPairsDuckFrom("reps").stripPrefix("WITH ")},
         |pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.2),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |${anfRoundsDuck(rounds)}
         |${anfSelectDuck(rounds)}""".stripMargin) { (p, s, dir) =>
      p.own(graft.operators.NeighborhoodFunction
        .neighborhood(edges(s, dir), "doc_a", "doc_b", rounds))
    }.withBuildOnly { (p, s, dir) =>
      p.own(graft.operators.NeighborhoodFunction
        .hllOnly(edges(s, dir), "doc_a", "doc_b", rounds))
    }
  }

  /** The non-degenerate constructed twin of e165 (the e163b pattern, on
    * the same chained-clique fixture): five region cliques chained by
    * four bridges have true diameter 9, so the distance curve CLIMBS —
    * frac_bp steps through nine rounds before the converged tail
    * (round 10 = round 9) certifies N(∞) was reached, and the final
    * n_pairs is exactly |V|² (one component). The dup-graph headline
    * can honestly read "everything within distance 1"; this twin keeps
    * the multi-round frontier machinery hash-checked at every SF. The
    * 25-node fixture sits far below HLL's accurate regime, so err_bp
    * here also pins the estimator's small-set bias as a measured
    * number (e134's linear-counting caveat, made visible).
    */
  private def e165bNeighborhoodRegions = {
    val rounds = 10
    QueryDef.pinned(
      "e165b_neighborhood_regions",
      s"""WITH $regionCliqueDuck,
         |${anfRoundsDuck(rounds)}
         |${anfSelectDuck(rounds)}""".stripMargin) { (p, s, dir) =>
      p.own(graft.operators.NeighborhoodFunction
        .neighborhood(regionCliqueEdges(s, dir), "u", "v", rounds))
    }
  }

  /** Shared Spark leg of the e169 family: persist generation A's
    * HyperANF registers to parquet (the e138/e153/e156b persistence
    * posture — [[graft.operators.NeighborhoodFunction.hllRegisters]],
    * ≤ 64·|V|·(rounds+1) rows at any corpus size), release the build's
    * checkpoint, then derive gen A's whole N(r) curve from the
    * PERSISTED relation with one scan while generation B runs its own
    * production HLL leg — the cross-generation report never re-iterates
    * gen A's graph. Deltas are integer-exact: `delta_pairs` (signed —
    * rep ids can move between generations, so per-round estimates are
    * not monotone) and `widened` = frac_b_bp < frac_a_bp (at radius r
    * gen B covers a smaller fraction of its final mass, i.e. its
    * distance curve got fatter-tailed — the diameter-growth flag).
    */
  private def diameterDrift(p: Pins,
      s: SparkSession, leaf: String,
      edgesA: DataFrame, edgesB: DataFrame,
      aCol: String, bCol: String, rounds: Int): DataFrame = {
    import graft.operators.NeighborhoodFunction
    val regPath = Scratch.dir(s, leaf)
    // the largest relation of the leg is released once written
    val regs =
      p.own(NeighborhoodFunction.hllRegisters(edgesA, aCol, bCol, rounds))
    regs.write.mode("overwrite").parquet(regPath)
    p.release(regs)
    val estA = NeighborhoodFunction
      .summarizeRegisters(s.read.parquet(regPath))
    val estB =
      p.own(NeighborhoodFunction.hllOnly(edgesB, aCol, bCol, rounds))
    val lastA = estA.filter(col("round") === rounds)
      .select(col("est_pairs").as("na_last"))
    val lastB = estB.filter(col("round") === rounds)
      .select(col("est_pairs").as("nb_last"))
    estA.select(col("round"), col("est_pairs").as("est_a"))
      .join(estB.select(col("round"), col("est_pairs").as("est_b")),
        "round")
      .crossJoin(broadcast(lastA)).crossJoin(broadcast(lastB))
      .select(col("round"), col("est_a"), col("est_b"),
        expr("est_a * 10000 div na_last").as("frac_a_bp"),
        expr("est_b * 10000 div nb_last").as("frac_b_bp"),
        (col("est_b") - col("est_a")).as("delta_pairs"),
        (expr("est_b * 10000 div nb_last") <
          expr("est_a * 10000 div na_last")).cast("int").as("widened"))
      .orderBy("round")
  }

  /** Oracle final SELECT shared by e169/e169b over the prefixed
    * summaries `aes`/`bes` ([[anfHllDuckPfx]]).
    */
  private def driftSelectDuck(rounds: Int): String =
    s"""SELECT a.round, a.est_pairs AS est_a, b.est_pairs AS est_b,
       |  a.est_pairs * 10000 // (SELECT est_pairs FROM aes
       |    WHERE round = $rounds) AS frac_a_bp,
       |  b.est_pairs * 10000 // (SELECT est_pairs FROM bes
       |    WHERE round = $rounds) AS frac_b_bp,
       |  b.est_pairs - a.est_pairs AS delta_pairs,
       |  CAST(b.est_pairs * 10000 // (SELECT est_pairs FROM bes
       |      WHERE round = $rounds) <
       |    a.est_pairs * 10000 // (SELECT est_pairs FROM aes
       |      WHERE round = $rounds) AS INT) AS widened
       |FROM aes a JOIN bes b ON b.round = a.round
       |ORDER BY a.round""".stripMargin

  /** GENERATIONAL effective-diameter drift — e165's stated motivation
    * made operational ("a template family whose effective diameter
    * grows round over round is drifting by hybridization",
    * [[graft.operators.NeighborhoodFunction]]): generation A (the
    * corpus without the e41 delta split, doc_id ≢ 4 mod 5) against
    * generation B (the full corpus), each at its own rep grain with
    * its own dup graph, compared round-by-round on the HLL distance
    * curve. Gen A's registers are PERSISTED parquet and its curve is
    * re-derived by one scan of that relation — the e138/e153/e156b
    * posture: a fleet pipeline keeps one bounded register table per
    * generation and diffs curves without ever re-iterating old graphs.
    *
    * Reading: `widened = 1` at some round marks gen B needing MORE
    * rounds to cover the same mass fraction — dup transitivity is
    * chaining farther than last generation, exactly the hybridization
    * drift min-id collapse absorbs silently. On THIS corpus the honest
    * reading is near-identical curves (the delta adds near-dups but no
    * long chains); e169b is the constructed twin where gen B genuinely
    * widens the diameter.
    *
    * Scale: both legs are the bounded-register HyperANF (never the
    * exact relation); the persisted artifact is ≤ 64·|V|·(rounds+1)
    * rows; the cross-generation report is one scan + one (rounds+1)-row
    * join. 100 TB-safe by the e165 argument, plus the roundtrip.
    */
  private def e169DiameterDrift = {
    val rounds = 4
    def repEdges(docs: DataFrame): DataFrame = {
      val reps = docs.filter(length(col("text")) > 0)
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"))
      minhashVerifiedPairsFrom(reps.select("doc_id", "text"))
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
    }
    QueryDef.pinned(
      "e169_diameter_drift",
      s"""WITH repsa AS (SELECT min(doc_id) AS doc_id, text
         |  FROM documents WHERE len(text) > 0 AND doc_id % 5 <> 4
         |  GROUP BY text),
         |repsb AS (SELECT min(doc_id) AS doc_id, text
         |  FROM documents WHERE len(text) > 0 GROUP BY text),
         |${minhashPairsDuckFrom("repsa", "ga").stripPrefix("WITH ")},
         |${minhashPairsDuckFrom("repsb", "gb").stripPrefix("WITH ")},
         |pa AS (SELECT doc_a, doc_b FROM gaverified WHERE jaccard >= 0.2),
         |pb AS (SELECT doc_a, doc_b FROM gbverified WHERE jaccard >= 0.2),
         |edgesa AS (SELECT doc_a AS u, doc_b AS v FROM pa
         |           UNION SELECT doc_b, doc_a FROM pa),
         |edgesb AS (SELECT doc_a AS u, doc_b AS v FROM pb
         |           UNION SELECT doc_b, doc_a FROM pb),
         |${anfHllDuckPfx(rounds, "a", "edgesa")},
         |${anfHllDuckPfx(rounds, "b", "edgesb")}
         |${driftSelectDuck(rounds)}""".stripMargin) { (p, s, dir) =>
      val docs = Tables.documents(s, dir)
      diameterDrift(p, s, "e169_regs",
        repEdges(docs.filter(col("doc_id") % 5 =!= 4)), repEdges(docs),
        "doc_a", "doc_b", rounds)
    }
  }

  /** The constructed twin of e169 where generation B GENUINELY widens
    * the diameter (the e163b/e165b pattern, same chained-clique
    * fixture): gen A is the five region cliques alone — five
    * components, every distance curve converged at round 1 — and gen B
    * adds the four bridges, one component of true diameter 9. Every
    * round before the converged tail reads widened = 1 with a climbing
    * frac_b_bp, keeping
    * the drift-detection path (persisted registers included — the
    * fixture runs the same parquet roundtrip) hash-checked at every
    * SF.
    */
  private def e169bDiameterRegions = {
    val rounds = 10
    QueryDef.pinned(
      "e169b_diameter_regions",
      s"""WITH $regionCliqueDuck,
         |edgesa AS (SELECT u, v FROM cl UNION SELECT v, u FROM cl),
         |${anfHllDuckPfx(rounds, "a", "edgesa")},
         |${anfHllDuckPfx(rounds, "b", "edges")}
         |${driftSelectDuck(rounds)}""".stripMargin) { (p, s, dir) =>
      val (cl, full) = regionCliqueSplit(s, dir)
      diameterDrift(p, s, "e169b_regs", cl, full, "u", "v", rounds)
    }
  }
}
