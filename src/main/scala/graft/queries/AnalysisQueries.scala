package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{F, Portable}
import graft.operators.{BoundedPrefix, MadOutliers, NnDescent, PageRank, Pins, QualityPropagate}
import graft.sources.Tables

/** Similarity / sketch / corpus-health families:
  *
  *  - e98 prefix-filter similarity self-join (Bayardo/Ma/Srikant
  *    "Scaling Up All Pairs", WWW'07; Xiao et al. PPJoin, WWW'08): the
  *    EXACT-threshold near-dup join. Unlike e2 (df-cap prune — drops
  *    high-df tokens, approximate recall) and e3 (LSH banding —
  *    probabilistic recall), the prefix filter is lossless: order every
  *    document's token set by ascending global document frequency, and
  *    two sets with Jaccard ≥ t MUST share a token in their first
  *    `|d| − ⌈t·|d|⌉ + 1` tokens — so joining only those prefix
  *    postings finds every qualifying pair, and rare-token-first
  *    ordering makes the prefix postings lists the SHORTEST ones.
  *  - e99 normalized head-prefix dedup: canonicalize (casefold, strip
  *    punctuation, collapse whitespace), key by the first 12 normal
  *    words, group colliding heads — the template-reuse detector for
  *    shared openings whose tails diverge; full-text normalization
  *    dedup is the K→∞ special case of the same key.
  *  - e100 Count-Min-Sketch frequency audit: build the bounded
  *    [[graft.functions.sketches.CmsAgg]] counter matrix in one pass,
  *    then report estimate-vs-exact for the top-30 3-gram occurrences —
  *    the overestimate column IS the measured CMS error, and the whole
  *    sketch is integer-replayable so the oracle recomputes it.
  *  - e101 Zipf-slope corpus-health fit: per source, the OLS slope of
  *    ln(freq) on ln(rank) over the top-200 words. Natural text sits
  *    near −1; a source drifting toward 0 (flat/boilerplate) or below
  *    −1.5 (degenerate repetition) is the classic corpus-mix red flag.
  *    Complements e54 (Heaps-law vocab growth = vocabulary OPENNESS)
  *    with the frequency-decay EXPONENT.
  *
  * Scale design (100 TB), per query:
  *  - e98's work is sum over prefix tokens of df², where the prefix
  *    holds each document's RAREST tokens by construction — the frequent
  *    tokens that make e2-style inverted indexes quadratic never enter
  *    the candidate join (they sit outside every prefix). Verification
  *    touches only candidate pairs, each verified with one bounded
  *    array intersection (token arrays ride a doc-keyed join, payload =
  *    one document's distinct tokens). Four keyed exchanges, no
  *    all-pairs stage anywhere; the df-rank window partitions by doc_id
  *    (bounded frames). At production scale the token sets would be
  *    digests (fixed-width shuffle payload) — shapes unchanged.
  *  - e99 is e1's hash-groupBy with a normalization projection in
  *    front: one shuffle keyed by the normalized head (which stands in
  *    for its digest only to keep the oracle byte-exact — at production
  *    scale the key is fixed-width), text never shuffles past the
  *    first projection.
  *  - e100's sketch build is a NO-SHUFFLE global aggregate (partial
  *    counter matrices merge map-side, one 16 KiB buffer per partition
  *    reaches the driver); the exact side is one gram-keyed aggregation
  *    reused by the probe. The sketch pull is fixed-size at any corpus
  *    scale — the point of the operator.
  *  - e101 aggregates to the (source × word) grain once, windows inside
  *    each source's bounded vocabulary, and fits over ≤ 200 rows per
  *    source — post-aggregation data is vocabulary-sized, never
  *    corpus-sized.
  *
  * Further families (each documents its own scale design):
  *  - e104 product-quantization ADC ANN (codes + lookup-table scoring —
  *    the memory-side ANN scale path; 64× smaller scored representation).
  *  - e105 hop-decayed quality propagation over the e3 near-dup graph
  *    (max-plus label propagation, integer-deterministic).
  *  - e106 per-source MAD robust outlier flags (Iglewicz–Hoaglin
  *    modified z-score, all-integer comparisons).
  *  - e107 IVF-codebook silhouette audit (per-cell clustering quality —
  *    the K-tuning signal for the e17/e64/e104 index family).
  *  - e108 quality-signal correlation matrix (Pearson from exact
  *    integer moment sums — the signal-redundancy audit next to e96's
  *    rejection-set overlap).
  *  - e109 brand co-purchase association rules over the TPC-H star
  *    (support/confidence/lift, all-integer basis points).
  *  - e110 contrastive-pair mining (positive / hard-negative /
  *    easy-negative roles by deterministic cosine rank — the
  *    embedding-training data generator).
  *  - e111 span-corruption masking manifest (T5-style deterministic
  *    mask schedule as pure column math — trainer and pipeline agree
  *    on masked-token counts without shipping mask arrays).
  *  - e112 within-source diversity audit (stride-adjacent pair shingle
  *    Jaccard — the self-similarity/redundancy score per source).
  *  - e113 dedup candidate-budget cost model (predicted Σ df(df−1)/2
  *    join rows vs realized distinct pairs per detector — the planner
  *    artifact that prices the df cap and the prefix filter).
  *  - e114 per-source hapax/tail coverage (vocabulary-tail richness —
  *    the boilerplate-vs-organic mix signal).
  *  - e115 week-over-week PSI drift monitor (population stability
  *    index per event type vs the reference week, bit-deterministic
  *    via a fixed-order 10-term fold).
  *  - e116 dup-graph transitivity (triangles / wedges / global
  *    clustering coefficient — the graph-shape audit behind the
  *    cluster-canonical dedup assumption).
  *  - e117 split-conformal selection threshold (quality cutoff with a
  *    finite-sample ≤ α false-rejection guarantee, assumption-free).
  *  - e118 kNN label-noise audit (neighborhood-vote agreement per
  *    class — the label-quality screen over the embedding table).
  *  - e119 ROC-AUC separability screen (exact Mann–Whitney U with
  *    average-rank tie handling, all-integer — does a filter signal
  *    actually RANK duplicated documents apart from unique ones?).
  *  - e120 dup-graph PageRank centrality ([[graft.operators.PageRank]],
  *    fixed-k integer power method — the centrality-based canonical
  *    pick next to e45's min-id and e65's quality argmax).
  *  - e121 Pareto-frontier selection (2-D skyline on quality × length
  *    from the bounded per-source frequency table — the multi-objective
  *    companion to e117's single-score threshold).
  */
object AnalysisQueries {

  lazy val all: Seq[QueryDef] =
    Seq(e98PrefixJoin, e99HeadDup, e100CmsAudit, e101ZipfSlope,
      e102KmvOverlap, e103DedupRecall, e103bDedupRecallSlice, e104PqAdc,
      e105QualityPropagate,
      e106MadOutliers, e107Silhouette, e108SignalCorr, e109CopurchaseLift,
      e110HardNegatives, e111MaskSpans, e112SourceDiversity,
      e113CandidateBudget, e114HapaxCoverage, e115PsiDrift,
      e116GraphTransitivity, e117ConformalSelect, e118KnnLabelAudit,
      e119AucScreen, e120Pagerank, e121ParetoFrontier, e122CoverageSelect,
      e123NeymanAlloc, e124Benford, e126DiurnalBots,
      e127LexicalDiversity, e129KCore, e129bKCoreFixture, e130Kappa,
      e131Youden,
      e131bYoudenReturns, e132DedupSweep, e134HllDistinct,
      e136RollingDistinct, e137HllRollup, e138GenerationGrowth,
      e140Pseudonymize, e142SharedRun, e143Cusum,
      e146IsotonicCalibration, e147NnDescent, e147bNnDescentInt8,
      e148HllIntersection, e149KCenter, e151GridDensity, e152MmrSelect,
      e153EmbeddingDrift, e154WassersteinDrift, e157W1Matrix,
      e158NnDescentInc, e159MultipassQuantile, e160KsDrift,
      e162GroupedQuantile, e173KnnPersistFold, e176KnnStoreClusters,
      e178GenerationCardDiff)

  // ---- e98: prefix-filter (AllPairs/PPJoin) similarity self-join ----------

  /** Exact Jaccard ≥ 0.6 self-join over distinct word-3-gram shingle
    * sets via the prefix filter (same token universe as e2/e3, so the
    * three near-dup joins are directly comparable: e2 trades recall for
    * a df cap, e3 trades it for banding, e98 pays the prefix postings
    * for EXACT recall). All threshold math is integer (t = 3/5):
    * ⌈3s/5⌉ = (3s+4) div 5, prefix p = s − ⌈3s/5⌉ + 1, and the final
    * predicate `5·ov ≥ 3·(sa+sb−ov)` — no floats anywhere, so both
    * engines agree bit-for-bit; similarity reports as integer basis
    * points `10000·ov div union`. At sf0.01 the filter admits 175
    * candidate pairs out of 124,750 possible (25 survive).
    */
  private def e98PrefixJoin = QueryDef.sql(
    "e98_prefix_join",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM w),
       |tok AS (SELECT doc_id, unnest(shs) AS h FROM sh WHERE len(shs) > 0),
       |df AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |ord AS (SELECT t.doc_id, t.h, s.sz,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.h) AS r
       |  FROM tok t JOIN df d USING (h) JOIN sz s USING (doc_id)),
       |pre AS (SELECT doc_id, h FROM ord
       |  WHERE r <= sz - (3*sz + 4) // 5 + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_sort(shs) AS ts, len(shs) AS sz
       |  FROM sh WHERE len(shs) > 0),
       |pairs AS (SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(sa.ts, sb.ts)) AS ov, sa.sz AS sz_a,
       |    sb.sz AS sz_b
       |  FROM cand c JOIN sets sa ON sa.doc_id = c.doc_a
       |  JOIN sets sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, ov, sz_a, sz_b,
       |  10000 * ov // (sz_a + sz_b - ov) AS jaccard_bp
       |FROM pairs WHERE 5 * ov >= 3 * (sz_a + sz_b - ov)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // One distinct-shingle-set projection feeds everything; the postings
    // exchange (keyed by h) is built once and reused by the df census
    // and the prefix self-join, and the doc-keyed exchange is reused by
    // the rank window and the verification array fetch.
    val sets = Tables.documents(s, dir)
      .select(col("doc_id"),
        array_sort(F.shingle_hashes(col("text"))).as("ts"))
      .filter(size(col("ts")) > 0)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("sz"))
    val tok = sets
      .select(col("doc_id"), col("sz"), explode(col("ts")).as("h"))
      .repartition(col("h"))
    val df = tok.groupBy("h").agg(count(col("doc_id")).as("df"))
    // Rank tokens inside each document by (global df asc, h asc): the
    // window partitions by doc_id, so every frame is one document's
    // token set — bounded, skew-free.
    val ranked = tok.join(df, "h")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
    val pre = ranked
      .filter(col("r") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("h"), col("r"), col("sz"))
      .repartition(col("h"))
    // PPJoin POSITIONAL filter (Xiao et al., WWW'08): at the pair's
    // FIRST shared prefix token (ranks are monotone in the global
    // (df, h) order, so min(r_a)/min(r_b) land on the same token, and
    // no shared token can precede it — an earlier one would sit inside
    // both prefixes, contradicting minimality), the overlap can't
    // exceed 1 + min(sz_a − r_a, sz_b − r_b); pairs whose bound misses
    // the required overlap ⌈3(sz_a+sz_b)/8⌉ are dropped BEFORE the
    // verification join touches any token array. Lossless: measured
    // 299,607 → 68,602 candidates at sf0.1 (4.4×), final 256 pairs
    // unchanged.
    //
    // SUFFIX-COUNT filter (the PPJoin+ suffix-side cut, in the form
    // that has teeth on a hashed shingle order): let S be the cp
    // tokens shared by BOTH prefixes, at ranks up to max_ra/max_rb.
    // Any shared token outside S must globally succeed the LAST
    // element of S — were it earlier, it would rank inside both
    // prefixes and be in S — so it lives in both docs' suffixes past
    // (max_ra, max_rb) and overlap ≤ cp + min(sz_a − max_ra,
    // sz_b − max_rb). cp/max come from the same aggregation the
    // positional filter already runs: zero extra passes, zero extra
    // shuffle. (PPJoin+'s value-partition probing variant is
    // deliberately NOT used: its power comes from distributional
    // misalignment between the two token sets, and a shingle universe
    // ordered by (df, h) with df ≈ 1 almost everywhere is ordered by
    // hash — uniform for every document, so range-partition bounds
    // degenerate to min(sz_a, sz_b) and cut nothing.) Both bounds are
    // lossless; keep = both clear the required overlap. Measured at
    // sf0.1 (a one-off candidate-count probe, see CHANGES.md):
    // 68,602 → 66,214 candidates into verification (4.5× total vs
    // the raw prefix join), final 256
    // pairs byte-identical (E98SuffixSpec). The modest marginal cut is
    // itself informative: cp = 1 for most surviving pairs (hash-
    // ordered prefixes rarely share more than the one anchor token
    // unless the docs really are near-dups), so the suffix side is
    // already nearly exhausted by the positional bound on this token
    // distribution — at zero added cost, every pair it kills is pure
    // saving.
    val cand = pre.as("a")
      .join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("a.r")).as("ra"), min(col("b.r")).as("rb"),
        max(col("a.r")).as("mra"), max(col("b.r")).as("mrb"),
        count(lit(1)).as("cp"),
        min(col("a.sz")).as("sa"), min(col("b.sz")).as("sb"))
      .filter(lit(1) + least(col("sa") - col("ra"), col("sb") - col("rb"))
        >= expr("(3 * (sa + sb) + 7) div 8"))
      .filter(col("cp")
        + least(col("sa") - col("mra"), col("sb") - col("mrb"))
        >= expr("(3 * (sa + sb) + 7) div 8"))
      .select("doc_a", "doc_b")
    // Verification fetches token arrays for CANDIDATE docs only: the
    // shingle projection is recomputed behind a doc_id semi-join, so
    // the corpus-wide ShingleHashes pass runs ONCE (for the postings);
    // the re-hash touches only docs that survived the prefix filter.
    // At sf0.1 this costs ~0.3 s over the naive 3-full-hash-pass shape
    // (two extra small joins + stages), but the naive shape's cost is
    // 3× the corpus while this one's verification is bounded by the
    // candidate count — the side to be on at 100 TB.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val setsCand = Tables.documents(s, dir)
      .join(candDocs, "doc_id")
      .select(col("doc_id"),
        array_sort(F.shingle_hashes(col("text"))).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("sz"))
    val ov = size(array_intersect(col("sa.ts"), col("sb.ts"))).cast("long")
    cand
      .join(setsCand.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(setsCand.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), ov.as("ov"),
        col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"))
      .filter(lit(5) * col("ov") >= lit(3) * (col("sz_a") + col("sz_b") - col("ov")))
      .select(col("doc_a"), col("doc_b"), col("ov"), col("sz_a"), col("sz_b"),
        expr("10000 * ov div (sz_a + sz_b - ov)").as("jaccard_bp"))
  }

  // ---- e99: normalized head-prefix duplicate groups -----------------------

  /** Canonicalize-then-key dedup on the document HEAD: normalize
    * (casefold, strip non-alphanumerics, collapse whitespace — the
    * regexp tokenization performs all three), key each document by its
    * first 12 normalized words, and group colliding heads — the
    * template-reuse / shared-opening detector a curation stack runs to
    * catch boilerplate intros and syndicated copies whose tails diverge
    * (full-text normalization-collision dedup is the K→∞ special case
    * of the same key). Per group: smallest doc_id as canonical, member
    * count, how many distinct FULL normalized bodies the group spans,
    * source spread, and whether members are body-identical (`exact`) or
    * share only the head (`head_only`).
    */
  private def e99HeadDup = {
    val K = 12
    QueryDef.sql(
      "e99_head_dup",
      s"""WITH n AS (SELECT doc_id, source,
         |    array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'),
         |      ' ') AS norm,
         |    array_to_string(list_slice(
         |      regexp_extract_all(lower(text), '[a-z0-9]+'), 1, $K),
         |      ' ') AS head
         |  FROM documents)
         |SELECT min(doc_id) AS canonical_id, count(*) AS n_docs,
         |  count(DISTINCT norm) AS n_body_variants,
         |  count(DISTINCT source) AS n_sources,
         |  CASE WHEN count(DISTINCT norm) = 1 THEN 'exact' ELSE 'head_only'
         |    END AS dup_kind
         |FROM n GROUP BY head HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          array_join(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"),
            " ").as("norm"),
          array_join(slice(
            expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"), 1, K),
            " ").as("head"))
        .groupBy("head")
        .agg(
          min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("norm")).as("n_body_variants"),
          countDistinct(col("source")).as("n_sources"),
          when(countDistinct(col("norm")) === 1, lit("exact"))
            .otherwise(lit("head_only")).as("dup_kind"))
        .filter(col("n_docs") > 1)
        .select("canonical_id", "n_docs", "n_body_variants", "n_sources",
          "dup_kind")
        .orderBy("canonical_id")
    }
  }

  // ---- e100: Count-Min-Sketch frequency audit -----------------------------

  /** CMS estimate vs exact count for the top-30 word-3-gram occurrences
    * (positional grams, repeats counted — the n-gram frequency table a
    * contamination/memorization stage consults, 16k distinct keys at
    * sf0.01). The sketch (4×512 long counters) is built by the native
    * [[graft.functions.sketches.CmsAgg]] in one no-shuffle pass, pulled
    * to the driver (16 KiB — the e29 bounded-pull discipline), and
    * probed with builtin arithmetic; `over_cnt` = estimate − exact ≥ 0
    * is the realized sketch error, capped in probability by the CMS
    * bound e·N/width (≈ 139 at sf0.01's 26k grams — measured max 56).
    * The oracle replays the counter matrix exactly: linear counters,
    * integer bucket arithmetic.
    */
  private def e100CmsAudit = {
    val depth = 4
    val width = 512
    val as = Portable.CmsA
    val bs = Portable.CmsB
    val P = Portable.P
    def duckBucket(i: Int, key: String): String =
      s"((${as(i)} * $key + ${bs(i)}) % $P) % $width"
    def duckBucketCase(key: String): String =
      s"CASE i.i ${(0 until depth).map { i =>
        s"WHEN $i THEN ${duckBucket(i, key)}" }.mkString(" ")} END"
    QueryDef.sql(
      "e100_cms_audit",
      s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |g AS (SELECT doc_id, ${Portable.posShinglesDuck} AS gs FROM w
         |  WHERE len(wh) >= 3),
         |tok AS (SELECT unnest(gs) AS h FROM g),
         |buck AS (SELECT i.i, ${duckBucketCase("h")} AS b, count(*) AS c
         |  FROM tok CROSS JOIN (SELECT unnest(range(0, $depth)) AS i) i
         |  GROUP BY 1, 2),
         |probe AS (SELECT h, count(*) AS exact_cnt FROM tok
         |  GROUP BY h ORDER BY exact_cnt DESC, h LIMIT 30)
         |SELECT p.h AS gram, p.exact_cnt, min(bk.c) AS cms_est,
         |  min(bk.c) - p.exact_cnt AS over_cnt
         |FROM probe p
         |CROSS JOIN (SELECT unnest(range(0, $depth)) AS i) i
         |JOIN buck bk ON bk.i = i.i AND bk.b = ${duckBucketCase("p.h")}
         |GROUP BY 1, 2
         |ORDER BY exact_cnt DESC, gram""".stripMargin) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(F.word_hashes(col("text")).as("wh"))
        .filter(size(col("wh")) >= 3)
        .select(explode(expr(Portable.posShinglesSpark)).as("h"))
      // Build + pull the sketch: one no-shuffle global aggregate (partial
      // counter matrices combine map-side), a 16 KiB driver pull.
      val counters = tok
        .agg(graft.functions.sketches.cms_sketch(col("h"), depth, width)
          .as("cms"))
        .head().getSeq[Long](0).toArray
      val probe = tok.groupBy("h")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("h"))
        .limit(30)
      val est = graft.functions.sketches.cms_estimate(
        counters, col("h"), depth, width)
      probe.select(col("h").as("gram"), col("exact_cnt"),
        est.as("cms_est"), (est - col("exact_cnt")).as("over_cnt"))
        .orderBy(col("exact_cnt").desc, col("gram"))
    }
  }

  // ---- e102: KMV-sketch cross-source overlap matrix -----------------------

  /** Sketch-estimated cross-source shingle-set Jaccard, calibrated
    * against the exact answer — the sketch-scale path of e52's exact
    * duplication matrix (Beyer et al., SIGMOD'07: the k smallest of
    * KMV(A) ∪ KMV(B) is exactly KMV(A∪B), and the fraction of those
    * k' values present in BOTH input sketches estimates J(A,B)).
    * Estimator per pair: un = k'-smallest of the merged sketches,
    * m = |{v ∈ KMV(A) ∩ KMV(B) : v ≤ un[k']}|, Ĵ = m/k' — all sorted
    * longs and integer arithmetic, replayed bit-for-bit by the oracle.
    * Pairs with zero exact overlap are omitted WITHOUT loss: a value in
    * both sketches IS a shared shingle, so m > 0 ⟹ exact > 0 and the
    * omitted rows are identically zero on both sides.
    *
    * At 100 TB the exact side (Σ df² self-join; the calibration
    * harness) is what production drops: per-source KMV sketches are
    * ≤ k longs each — the whole #sources² overlap matrix computes from
    * a #sources×k table that fits anywhere, replacing the corpus-wide
    * (source, shingle)-distinct pair shuffle.
    */
  private def e102KmvOverlap = {
    val k = 64
    QueryDef.sql(
      "e102_kmv_overlap",
      s"""WITH w AS (SELECT source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT source, ${Portable.shinglesDuck} AS shs FROM w
         |  WHERE len(wh) >= 3),
         |ex AS (SELECT source, unnest(shs) AS h FROM sh),
         |d AS (SELECT DISTINCT source, h FROM ex),
         |per AS (SELECT source, count(*) AS n,
         |    (list_sort(list(h)))[1:$k] AS kmv
         |  FROM d GROUP BY source),
         |iv AS (SELECT a.source AS source_a, b.source AS source_b,
         |    count(*) AS inter_exact
         |  FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2),
         |j AS (SELECT i.source_a, i.source_b, pa.n AS n_a, pb.n AS n_b,
         |    i.inter_exact, pa.kmv AS ka, pb.kmv AS kb
         |  FROM iv i JOIN per pa ON pa.source = i.source_a
         |  JOIN per pb ON pb.source = i.source_b),
         |c1 AS (SELECT *, list_sort(list_distinct(ka || kb)) AS un0 FROM j),
         |c2 AS (SELECT *, least($k, len(un0)) AS kp FROM c1),
         |c3 AS (SELECT *, un0[kp] AS thr FROM c2),
         |c4 AS (SELECT *,
         |    len(list_filter(list_intersect(ka, kb), x -> x <= thr)) AS m
         |  FROM c3)
         |SELECT source_a, source_b, CAST(n_a AS BIGINT) AS n_a,
         |  CAST(n_b AS BIGINT) AS n_b, inter_exact,
         |  10000 * inter_exact // (n_a + n_b - inter_exact)
         |    AS jac_exact_bp,
         |  CAST(10000 * m // kp AS BIGINT) AS jac_est_bp,
         |  CAST(abs(10000 * m // kp -
         |    10000 * inter_exact // (n_a + n_b - inter_exact)) AS BIGINT)
         |    AS err_bp
         |FROM c4 ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"),
          explode(F.shingle_hashes(col("text"))).as("h"))
        .distinct()
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("n"),
          graft.functions.sketches.kmv_sketch(col("h"), k).as("kmv"))
      val iv = d.as("a")
        .join(d.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("inter_exact"))
      val un0 = array_sort(array_distinct(concat(col("ka"), col("kb"))))
      val jacExact =
        expr("10000 * inter_exact div (n_a + n_b - inter_exact)")
      val jacEst = expr(s"10000 * m div kp")
      iv
        .join(per.as("pa"), col("source_a") === col("pa.source"))
        .join(per.as("pb"), col("source_b") === col("pb.source"))
        .select(col("source_a"), col("source_b"),
          col("pa.n").as("n_a"), col("pb.n").as("n_b"),
          col("inter_exact"), col("pa.kmv").as("ka"), col("pb.kmv").as("kb"))
        .withColumn("un0", un0)
        .withColumn("kp", least(lit(k), size(col("un0"))))
        .withColumn("thr", element_at(col("un0"), col("kp")))
        .withColumn("m",
          size(filter(array_intersect(col("ka"), col("kb")),
            x => x <= col("thr"))))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("inter_exact"), jacExact.as("jac_exact_bp"),
          jacEst.as("jac_est_bp"),
          abs(jacEst - jacExact).as("err_bp"))
        .orderBy("source_a", "source_b")
    }
  }

  // ---- e101: Zipf-slope corpus-health fit ---------------------------------

  /** Per-source OLS fit of ln(freq) on ln(rank) over the top-200 words
    * (rank by count desc, word asc — fully tie-broken). Slope and r²
    * round at 4 dp with the `+ 0` normalization (QueryDef scaladoc);
    * e22's precedent pins that last-ulp ln() drift survives 4-dp
    * rounding on this data.
    */
  private def e101ZipfSlope = {
    val topN = 200
    QueryDef.sql(
      "e101_zipf_slope",
      s"""WITH w AS (SELECT source, ${Portable.wordsDuck} AS ws
         |  FROM documents),
         |tok AS (SELECT source, unnest(ws) AS wd FROM w),
         |cnt AS (SELECT source, wd, count(*) AS c FROM tok GROUP BY 1, 2),
         |rk AS (SELECT source, c,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY c DESC, wd) AS rank
         |  FROM cnt),
         |top AS (SELECT source, ln(CAST(rank AS DOUBLE)) AS lx,
         |    ln(CAST(c AS DOUBLE)) AS ly
         |  FROM rk WHERE rank <= $topN)
         |SELECT source, count(*) AS n_words,
         |  round(regr_slope(ly, lx), 4) + 0 AS zipf_slope,
         |  round(regr_r2(ly, lx), 4) + 0 AS r2
         |FROM top GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val cnt = Tables.documents(s, dir)
          .select(col("source"), explode(expr(Portable.wordsSpark)).as("wd"))
          .groupBy("source", "wd").agg(count(lit(1)).as("c"))
        // Window partitions by source over its aggregated vocabulary —
        // post-agg cardinality, not corpus rows.
        val top = cnt
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("c").desc, col("wd"))))
          .filter(col("rank") <= topN)
          .select(col("source"), log(col("rank").cast("double")).as("lx"),
            log(col("c").cast("double")).as("ly"))
        top.groupBy("source")
          .agg(
            count(lit(1)).as("n_words"),
            (round(covar_pop(col("ly"), col("lx")) / var_pop(col("lx")), 4)
              + lit(0)).as("zipf_slope"),
            // DuckDB's regr_r2 convention for a constant y (var=0) is a
            // perfect fit (1.0); Spark's corr would yield NaN — match it.
            (round(when(var_pop(col("ly")) === 0, lit(1.0))
              .otherwise(pow(corr(col("ly"), col("lx")), 2)), 4) + lit(0))
              .as("r2"))
          .orderBy("source")
    }
  }

  // ---- e103: dedup-detector recall audit ----------------------------------

  /** Candidate-generator recall matrix: the three sub-quadratic near-dup
    * detectors, each scored against the EXACT set of pairs at Jaccard
    * ≥ 3/5 (derived via e98's prefix+positional+suffix-count filter
    * stack, whose recall is 1 by the AllPairs theorem and the two
    * bounds' losslessness — the one generator allowed to define
    * truth; the audited 'prefix' detector tracks the SHIPPED e98
    * stack, so its efficiency row moves when e98 gains a cut). Per method: candidate count, hits, recall and candidate
    * efficiency (pre-verification precision) in basis points —
    * the measured form of each method's design trade:
    *
    *  - `prefix` (e98): recall 10000 by construction; efficiency is
    *    what the positional filter bought.
    *  - `lsh` (e3's r=2, b=6 banding): collision probability at
    *    J = 0.6 is 1 − (1 − 0.36)^6 ≈ 0.93 — the measured recall
    *    should sit near it (pair-level, so dup-heavy corpora differ).
    *  - `winnow` (e80's w=4/k=3 fingerprints, df ≤ 100, ≥ 2 shared):
    *    guaranteed for shared word RUNS ≥ 7, not for scattered
    *    overlap — recall on high-Jaccard pairs measures how much of
    *    the corpus's duplication is run-shaped.
    *
    * The audit is the detector-selection artifact: at 100 TB one runs
    * it on a sampled slice to pick the cheapest detector whose recall
    * clears the pipeline's bar. All counts integer; one row per method.
    */
  /** The full detector-vs-truth CTE chain over `docsRel` (any
    * relation with documents' columns), through `stats` (method,
    * n_cand, n_hit) and `tc` (n_truth) — shared by e103 (full corpus)
    * and e103b (hash-sampled slice) so the three detectors and the
    * truth derivation can never drift between the audit and its
    * fleet-posture form.
    */
  private def recallAuditCtesDuck(docsRel: String): String =
    s"""w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM $docsRel),
       |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM w
       |  WHERE len(wh) >= 3),
       |tok AS (SELECT doc_id, unnest(shs) AS h FROM sh WHERE len(shs) > 0),
       |df AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |ord AS (SELECT t.doc_id, t.h, s.sz,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.h) AS r
       |  FROM tok t JOIN df d USING (h) JOIN sz s USING (doc_id)),
       |pre AS (SELECT doc_id, h, r, sz FROM ord
       |  WHERE r <= sz - (3*sz + 4) // 5 + 1),
       |cand0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    min(a.r) AS ra, min(b.r) AS rb, max(a.r) AS mra,
       |    max(b.r) AS mrb, count(*) AS cp,
       |    min(a.sz) AS sa, min(b.sz) AS sb
       |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |candp AS (SELECT doc_a, doc_b FROM cand0
       |  WHERE 1 + least(sa - ra, sb - rb) >= (3*(sa + sb) + 7) // 8
       |    AND cp + least(sa - mra, sb - mrb) >= (3*(sa + sb) + 7) // 8),
       |truth AS (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      len(list_intersect(sa.shs, sb.shs)) AS ov,
       |      len(sa.shs) AS za, len(sb.shs) AS zb
       |    FROM candp c JOIN sh sa ON sa.doc_id = c.doc_a
       |    JOIN sh sb ON sb.doc_id = c.doc_b)
       |  WHERE 5*ov >= 3*(za + zb - ov)),
       |tc AS (SELECT count(*) AS n_truth FROM truth),
       |mh AS (SELECT doc_id,
       |  ${(0 until 12).map(k =>
            s"list_min(list_transform(shs, x -> (${Portable.MinHashA(k)}*x" +
            s" + ${Portable.MinHashB(k)}) % ${Portable.P})) AS mh$k")
            .mkString(",\n  ")}
       |  FROM sh WHERE len(shs) > 0),
       |bands AS (SELECT doc_id, unnest(range(0, 6)) AS band_id,
       |    unnest(${(0 until 6).map(k =>
              s"mh${2 * k}*${Portable.P} + mh${2 * k + 1}")
              .mkString("[", ", ", "]")}) AS band_key
       |  FROM mh),
       |lshc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_id = b.band_id
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |gr AS (SELECT doc_id, ${Portable.posShinglesDuck} AS g FROM w
       |  WHERE len(wh) >= 3),
       |fps AS (SELECT doc_id, ${Portable.winnowedDuck} AS fp_set FROM gr),
       |fex AS (SELECT doc_id, unnest(fp_set) AS fp FROM fps),
       |fkept AS (SELECT fp FROM fex GROUP BY fp HAVING count(*) <= 100),
       |fpr AS (SELECT fex.doc_id, fex.fp FROM fex JOIN fkept USING (fp)),
       |winc AS (SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |    FROM fpr a JOIN fpr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) WHERE c >= 2),
       |trutht AS (SELECT doc_a, doc_b, 1 AS t FROM truth),
       |stats AS (
       |  SELECT 'prefix' AS method, count(*) AS n_cand,
       |    CAST(sum(coalesce(t, 0)) AS BIGINT) AS n_hit
       |  FROM candp c LEFT JOIN trutht t USING (doc_a, doc_b)
       |  UNION ALL
       |  SELECT 'lsh', count(*), CAST(sum(coalesce(t, 0)) AS BIGINT)
       |  FROM lshc c LEFT JOIN trutht t USING (doc_a, doc_b)
       |  UNION ALL
       |  SELECT 'winnow', count(*), CAST(sum(coalesce(t, 0)) AS BIGINT)
       |  FROM winc c LEFT JOIN trutht t USING (doc_a, doc_b))""".stripMargin

  /** Spark twin of [[recallAuditCtesDuck]]: (method, n_cand, n_hit,
    * n_truth) for the three detectors over `docs`.
    */
  private def recallAuditStats(p: Pins, docs: DataFrame): DataFrame = {
    val P = Portable.P
    // Eagerly materialized ONCE (duplicated-subtree removal): `sets`
    // feeds THREE independent pipelines (the prefix
    // detector's token explode, the truth verifier's pair joins, and
    // the LSH detector's minhash signatures). Uncheckpointed, Catalyst
    // plans each consumer against its own copy of the subtree and the
    // shingle UDF re-runs over the corpus once per consumer — measured
    // 4 executions of the shingle scan per invocation. At 100 TB the
    // trade is storing the hash arrays (ints, strictly smaller than
    // the text they derive from) once vs re-shingling the corpus 4×.
    val sets = p.checkpoint(docs
      .select(col("doc_id"),
        array_sort(F.shingle_hashes(col("text"))).as("ts"))
      .filter(size(col("ts")) > 0)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("sz")))
    val tok = sets
      .select(col("doc_id"), col("sz"), explode(col("ts")).as("h"))
      .repartition(col("h"))
    val dfc = tok.groupBy("h").agg(count(col("doc_id")).as("df"))
    val ranked = tok.join(dfc, "h")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
    val pre = ranked
      .filter(col("r") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("h"), col("r"), col("sz"))
      .repartition(col("h"))
    // pair-grain, candidate-bounded; feeds the truth verifier AND the
    // 'prefix' audit leg — one materialization, not two
    val candp = p.checkpoint(pre.as("a")
      .join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("a.r")).as("ra"), min(col("b.r")).as("rb"),
        max(col("a.r")).as("mra"), max(col("b.r")).as("mrb"),
        count(lit(1)).as("cp"),
        min(col("a.sz")).as("sa"), min(col("b.sz")).as("sb"))
      .filter(lit(1) + least(col("sa") - col("ra"), col("sb") - col("rb"))
        >= expr("(3 * (sa + sb) + 7) div 8"))
      // e98's suffix-count cut rides along (lossless, so the derived
      // truth set is untouched) — the audited 'prefix' detector IS the
      // shipped e98 stack, not a stale positional-only variant
      .filter(col("cp")
        + least(col("sa") - col("mra"), col("sb") - col("mrb"))
        >= expr("(3 * (sa + sb) + 7) div 8"))
      .select("doc_a", "doc_b"))
    val ov = size(array_intersect(col("sa.ts"), col("sb.ts"))).cast("long")
    // The exact-Jaccard truth set is THE shared fact of the audit:
    // every detector leg joins against it and the n_truth scalar
    // aggregates it. Uncheckpointed it re-verified (array_intersect
    // over the full shingle arrays) once per consumer — 4 executions
    // of the most expensive join in the query.
    val truth = p.checkpoint(candp
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), ov.as("ov"),
        col("sa.sz").as("za"), col("sb.sz").as("zb"))
      .filter(lit(5) * col("ov") >= lit(3) * (col("za") + col("zb") - col("ov")))
      .select("doc_a", "doc_b"))
    val sig = sets.select(col("doc_id"), F.min_hashes(col("ts")).as("sig"))
    val bandKeys = array((0 until 6).map(k =>
      element_at(col("sig"), 2 * k + 1) * P +
        element_at(col("sig"), 2 * k + 2)): _*)
    val bands = sig.select(col("doc_id"),
      posexplode(bandKeys).as(Seq("band_id", "band_key")))
    val lshc = bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val fex = docs
      .select(col("doc_id"), F.winnow_hashes(col("text")).as("fp_set"))
      .filter(size(col("fp_set")) > 0)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(col("fp_set")).as("fp"))
      .repartition(col("fp"))
    val fkept = fex.groupBy("fp").agg(count(col("doc_id")).as("fdf"))
      .filter(col("fdf") <= 100).select("fp")
    val fpr = fex.join(fkept, "fp")
    val winc = fpr.as("a")
      .join(fpr.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select("doc_a", "doc_b")
    val truthTagged = truth.withColumn("t", lit(1))
    def audit(name: String, cand: DataFrame): DataFrame = cand
      .join(truthTagged, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_cand"),
        coalesce(sum(col("t")), lit(0)).cast("long").as("n_hit"))
      .select(lit(name).as("method"), col("n_cand"), col("n_hit"))
    val tc = truth.agg(count(lit(1)).as("n_truth"))
    // Materialize the 3-row summary eagerly so every corpus-grain pin
    // above (sets, candp, truth) is released now instead of riding the
    // returned plan.
    val out = p.checkpoint(audit("prefix", candp)
      .union(audit("lsh", lshc))
      .union(audit("winnow", winc))
      .crossJoin(tc))
    Seq(sets, candp, truth).foreach(p.release)
    out
  }

  private def e103DedupRecall = QueryDef.pinned(
    "e103_dedup_recall",
    s"""WITH ${recallAuditCtesDuck("documents")}
       |SELECT method, n_cand, n_hit, tc.n_truth,
       |  CAST(CASE WHEN tc.n_truth = 0 THEN 10000
       |    ELSE 10000 * n_hit // tc.n_truth END AS BIGINT) AS recall_bp,
       |  CAST(CASE WHEN n_cand = 0 THEN 10000
       |    ELSE 10000 * n_hit // n_cand END AS BIGINT) AS efficiency_bp
       |FROM stats CROSS JOIN tc
       |ORDER BY method""".stripMargin) { (p, s, dir) =>
    recallAuditStats(p, Tables.documents(s, dir))
      // Dup-free-corpus guard: ANSI div would fail loudly on n_truth=0
      // or an empty candidate set; vacuous ratios report as 10000.
      .select(col("method"), col("n_cand"), col("n_hit"), col("n_truth"),
        expr("case when n_truth = 0 then 10000L " +
          "else 10000 * n_hit div n_truth end").as("recall_bp"),
        expr("case when n_cand = 0 then 10000L " +
          "else 10000 * n_hit div n_cand end").as("efficiency_bp"))
      .orderBy("method")
  }

  // ---- e103b: sampled-slice recall audit (the fleet posture) --------------

  /** e103 run the way SCALING says a fleet actually runs it: on a
    * deterministic HASH-SAMPLED document slice (Knuth multiplicative
    * hash of doc_id, mod 2 — engine-portable integer arithmetic, no
    * RNG; the doc_id % 1000003 pre-reduction keeps the product inside
    * BIGINT at any id scale, and the prime modulus wrap decorrelates
    * the slice bit from id parity), with the recall estimate carrying
    * its binomial standard error. The full audit's cost is the truth derivation over the
    * whole corpus; the slice pays detector + truth cost on ~50 % of
    * documents and ~25 % of pairs, and its recall is an unbiased
    * estimate of the full-corpus recall for pair-level detectors (a
    * pair survives the slice iff both endpoints do — independent of
    * whether any detector catches it, since all three detectors and
    * the truth are functions of the surviving documents only).
    * `recall_se_bp` is the AGRESTI–COULL adjusted standard error
    * ⌊√(r̃(10⁴−r̃)/(n+2))⌋ with r̃ = 10⁴(hits+1)/(n+2) in basis points
    * (exact integer sqrt, the e123 clamp) — adjusted, not raw,
    * because a slice that happens to catch everything has r̂ = 1 and
    * a RAW binomial SE of exactly 0, which would read as "the full
    * recall is certainly 10000" when the honest statement is "at
    * n = 72 the miss rate could still be ~1/70" (measured at sf0.1:
    * slice LSH recall 10000 ± 134 bp vs full 9960 — inside 1σ, where
    * the raw SE of 0 would have excluded it). E103SliceSpec pins the
    * full audit's recall inside ±3σ at the dev SFs.
    *
    * Scale (100 TB): the slice predicate pushes to the scan, so cost
    * scales with the sample rate BY CONSTRUCTION (rate² on the
    * quadratic pair legs); measured 2.21 s → 0.93 s at sf0.1. The
    * fleet knob is the modulus (mod 2 here; mod 100 at a 10¹¹-doc
    * corpus still leaves ~10⁵ truth pairs at a 1 bp dup rate —
    * se ≈ 30 bp, tight enough to pick a detector).
    */
  private def e103bDedupRecallSlice = {
    val sliceRel =
      "(SELECT * FROM documents WHERE" +
        " (((doc_id % 1000003) * 2654435761) % 1000000007) % 2 = 0)"
    QueryDef.pinned(
      "e103b_dedup_recall_slice",
      s"""WITH ${recallAuditCtesDuck(sliceRel)},
         |r0 AS (SELECT method, n_cand, n_hit, tc.n_truth,
         |    CAST(CASE WHEN tc.n_truth = 0 THEN 10000
         |      ELSE 10000 * n_hit // tc.n_truth END AS BIGINT)
         |      AS recall_bp,
         |    CAST(CASE WHEN n_cand = 0 THEN 10000
         |      ELSE 10000 * n_hit // n_cand END AS BIGINT)
         |      AS efficiency_bp
         |  FROM stats CROSS JOIN tc),
         |adj AS (SELECT *,
         |    10000 * (n_hit + 1) // (n_truth + 2) AS rt FROM r0),
         |se0 AS (SELECT *,
         |    rt * (10000 - rt) // (n_truth + 2) AS sx
         |  FROM adj),
         |se1 AS (SELECT *,
         |    CAST(floor(sqrt(CAST(sx AS DOUBLE))) AS BIGINT) AS s0
         |  FROM se0)
         |SELECT method, n_cand, n_hit, n_truth, recall_bp,
         |  efficiency_bp,
         |  s0 + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= sx
         |         THEN 1 ELSE 0 END
         |     - CASE WHEN s0 * s0 > sx THEN 1 ELSE 0 END AS recall_se_bp
         |FROM se1 ORDER BY method""".stripMargin) { (p, s, dir) =>
      val slice = Tables.documents(s, dir)
        .filter(expr("(((doc_id % 1000003) * 2654435761) % 1000000007) % 2 = 0"))
      recallAuditStats(p, slice)
        .select(col("method"), col("n_cand"), col("n_hit"), col("n_truth"),
          expr("case when n_truth = 0 then 10000L " +
            "else 10000 * n_hit div n_truth end").as("recall_bp"),
          expr("case when n_cand = 0 then 10000L " +
            "else 10000 * n_hit div n_cand end").as("efficiency_bp"))
        .withColumn("rt", expr("10000 * (n_hit + 1) div (n_truth + 2)"))
        .withColumn("sx", expr("rt * (10000 - rt) div (n_truth + 2)"))
        .select(col("method"), col("n_cand"), col("n_hit"),
          col("n_truth"), col("recall_bp"), col("efficiency_bp"),
          F.isqrt(col("sx")).as("recall_se_bp"))
        .orderBy("method")
    }
  }

  // ---- e104: product-quantization ADC ANN ---------------------------------

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring
    * (Jégou/Douze/Schmid, TPAMI'11) — the MEMORY-side scale path for
    * similarity search, complementing e6 (LSH — candidate pruning),
    * e17/e64 (IVF — list pruning) and e93 (int8 — 4× scalar
    * compression): the 64-dim vector is split into 4 subspaces of 16
    * dims, each sub-vector quantized to its nearest subspace centroid
    * (squared-L2, min-cid tie-break), and the corpus is represented by
    * 4 small integers per vector. A query scores the WHOLE corpus
    * without touching raw embeddings: it precomputes a per-subspace
    * lookup table of distances to every centroid (m×K doubles,
    * broadcast), and each vector's approximate distance is 4 table
    * lookups summed — `d0+d1+d2+d3`, left-to-right in both engines.
    * Top-k by ADC (neighbor_id tie-break) is then re-scored EXACTLY in
    * full dimension, so the output carries `adc_l2` vs `exact_l2` —
    * the quantization-distortion audit that decides whether the
    * codebook is fine enough. (On THIS corpus the audit's verdict is
    * "not fine": the synthetic embeddings are unclustered noise — the
    * worst case for PQ — and measured recall@3 vs exact L2 is ~7 % at
    * sf0.01 with the 9-centroid codebook, visible in the adc/exact gap
    * the output reports. That is the audit doing its job; real
    * embedding corpora cluster, and e93's int8 path covers the
    * high-fidelity-compression regime here.)
    *
    * Like e17, the codebook is a deterministic corpus sample
    * (vec_id % 53 = 7) so the oracle replays it — but BOUNDED:
    * `vec_id < 53·256` caps K at 256 per subspace independent of corpus
    * size (an unbounded %-sample grows K linearly and makes encode
    * quadratic — the 10× probe measured exactly that before the cap).
    * Production swaps in per-subspace Lloyd's
    * ([[graft.operators.KMeans]]) over a bounded training sample without
    * changing any plan shape. Scale design (100 TB): codes are m·log2(K) bits
    * per vector (here 4 longs standing in for 4 bytes — a 64×
    * compression of the scored representation), the LUT is
    * queries×m×K doubles (bounded, broadcast), encode is one
    * broadcast join + map-side argmin aggregation (partial min-structs
    * combine before the one vec_id-keyed shuffle), ADC scoring is
    * 4 broadcast lookup joins with NO corpus shuffle, and the top-k
    * window prunes map-side (WindowGroupLimit) so only ~k rows per
    * partition per query reach the exchange. The exact re-score
    * touches nq·k rows. In production this composes with e64's
    * IVF-partitioned layout: probe nprobe lists, ADC-score only those
    * lists' codes.
    */
  private def e104PqAdc = {
    val m = 4
    val sub = 16
    val k = 3
    def sqFoldDuck(a: String, b: String, d: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${d + 1}),
         |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |      (acc, v) -> acc + v)""".stripMargin
    QueryDef.sql(
      "e104_pq_adc",
      s"""WITH dims AS (SELECT CAST(unnest(range(0, $m)) AS BIGINT) AS s),
         |base AS (SELECT vec_id, embedding FROM embeddings),
         |subs AS (SELECT vec_id, s,
         |    list_transform(range(1, ${sub + 1}),
         |      i -> CAST(embedding[s * $sub + i] AS DOUBLE)) AS sub
         |  FROM base CROSS JOIN dims),
         |cent AS (SELECT vec_id AS cid, s, sub AS csub FROM subs
         |  WHERE vec_id % 53 = 7 AND vec_id < ${53 * 256}),
         |enc AS (SELECT a.vec_id, a.s, c.cid,
         |    ${sqFoldDuck("a.sub", "c.csub", sub)} AS d
         |  FROM subs a JOIN cent c ON c.s = a.s),
         |mn AS (SELECT vec_id, s, min(d) AS md FROM enc GROUP BY vec_id, s),
         |codes AS (SELECT e.vec_id, e.s, min(e.cid) AS cid
         |  FROM enc e JOIN mn ON mn.vec_id = e.vec_id AND mn.s = e.s
         |  WHERE e.d = mn.md GROUP BY e.vec_id, e.s),
         |cw AS (SELECT vec_id,
         |    max(CASE WHEN s = 0 THEN cid END) AS c0,
         |    max(CASE WHEN s = 1 THEN cid END) AS c1,
         |    max(CASE WHEN s = 2 THEN cid END) AS c2,
         |    max(CASE WHEN s = 3 THEN cid END) AS c3
         |  FROM codes GROUP BY vec_id),
         |lut AS (SELECT q.vec_id AS qid, q.s, c.cid,
         |    ${sqFoldDuck("q.sub", "c.csub", sub)} AS d
         |  FROM subs q JOIN cent c ON c.s = q.s WHERE q.vec_id % 101 = 5),
         |adc AS (SELECT l0.qid, v.vec_id AS neighbor_id,
         |    l0.d + l1.d + l2.d + l3.d AS adc
         |  FROM cw v
         |  JOIN lut l0 ON l0.s = 0 AND l0.cid = v.c0
         |  JOIN lut l1 ON l1.s = 1 AND l1.cid = v.c1 AND l1.qid = l0.qid
         |  JOIN lut l2 ON l2.s = 2 AND l2.cid = v.c2 AND l2.qid = l0.qid
         |  JOIN lut l3 ON l3.s = 3 AND l3.cid = v.c3 AND l3.qid = l0.qid
         |  WHERE v.vec_id <> l0.qid),
         |topk AS (SELECT qid AS query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, neighbor_id)
         |      AS rk
         |  FROM adc QUALIFY rk <= $k),
         |ex AS (SELECT t.query_id, t.neighbor_id, t.rk, t.adc,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> (CAST(q.embedding[i] AS DOUBLE)
         |                - CAST(n.embedding[i] AS DOUBLE))
         |           * (CAST(q.embedding[i] AS DOUBLE)
         |                - CAST(n.embedding[i] AS DOUBLE)))),
         |      (acc, v) -> acc + v) AS exact
         |  FROM topk t JOIN base q ON q.vec_id = t.query_id
         |  JOIN base n ON n.vec_id = t.neighbor_id)
         |SELECT query_id, neighbor_id, rk, round(adc, 4) AS adc_l2,
         |  round(exact, 4) AS exact_l2
         |FROM ex ORDER BY query_id, rk""".stripMargin) { (s, dir) =>
      // Squared L2 as diff-then-self-dot: zip_with materializes each
      // difference once, ArrayDot folds acc + diff[i]*diff[i] in element
      // order — bit-identical to the oracle's list_reduce (e47 pattern).
      def sq(a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val dcol = zip_with(a, b, (x, y) => x - y)
        F.array_dot(dcol, dcol)
      }
      val embD = col("embedding").cast("array<double>")
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), embD.as("emb"))
        .filter(col("vec_id").isNotNull)
      val subsArr = array((0 until m).map(ss =>
        struct(lit(ss.toLong).as("s"),
          slice(col("emb"), ss * sub + 1, sub).as("sub"))): _*)
      val subs = base.select(col("vec_id"), explode(subsArr).as("e"))
        .select(col("vec_id"), col("e.s").as("s"), col("e.sub").as("sub"))
      val cent = subs
        .filter(col("vec_id") % 53 === 7 && col("vec_id") < 53 * 256)
        .select(col("vec_id").as("cid"), col("s").as("cs"),
          col("sub").as("csub"))
      // Encode: nearest subspace centroid per (vector, subspace) as ONE
      // conditional min-struct aggregation — (d, cid) struct order gives
      // min-distance with min-cid tie-break (exact-equality ties only:
      // both engines fold identical doubles), and the map-side partial
      // min collapses the broadcast-join fanout to one row per vector
      // before the only corpus shuffle in the encode path.
      val enc = subs.join(broadcast(cent), col("s") === col("cs"))
        .select(col("vec_id"), col("s"), col("cid"),
          sq(col("sub"), col("csub")).as("d"))
      val codes = enc.groupBy("vec_id").agg(
        min(when(col("s") === 0, struct(col("d"), col("cid"))))
          .getField("cid").as("c0"),
        min(when(col("s") === 1, struct(col("d"), col("cid"))))
          .getField("cid").as("c1"),
        min(when(col("s") === 2, struct(col("d"), col("cid"))))
          .getField("cid").as("c2"),
        min(when(col("s") === 3, struct(col("d"), col("cid"))))
          .getField("cid").as("c3"))
      val lut = subs.filter(col("vec_id") % 101 === 5)
        .select(col("vec_id").as("qid"), col("s"), col("sub"))
        .join(broadcast(cent), col("s") === col("cs"))
        .select(col("qid"), col("s"), col("cid"),
          sq(col("sub"), col("csub")).as("d"))
      def lutS(ss: Int): DataFrame = lut.filter(col("s") === ss)
        .select(col("qid").as(s"q$ss"), col("cid").as(s"k$ss"),
          col("d").as(s"d$ss"))
      // ADC: 4 broadcast lookup joins (LUT is queries × m × K, bounded);
      // the corpus side carries only (vec_id, c0..c3) — no raw-embedding
      // bytes move after encode.
      val joined = (1 until m).foldLeft(
        codes.join(broadcast(lutS(0)), col("c0") === col("k0"))) {
        case (acc, ss) => acc.join(broadcast(lutS(ss)),
          col(s"c$ss") === col(s"k$ss") && col(s"q$ss") === col("q0"))
      }
      val adc = joined.filter(col("vec_id") =!= col("q0"))
        .select(col("q0").as("query_id"), col("vec_id").as("neighbor_id"),
          (col("d0") + col("d1") + col("d2") + col("d3")).as("adc"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc"), col("neighbor_id"))
      val topk = adc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
      // Exact re-score of the nq·k winners only: broadcast the tiny
      // result against the corpus twice (query emb, neighbor emb).
      val qemb = base.select(col("vec_id").as("qv"), col("emb").as("qe"))
      val nemb = base.select(col("vec_id").as("nv"), col("emb").as("ne"))
      val withQ = qemb.join(broadcast(topk), col("qv") === col("query_id"))
      nemb.join(broadcast(withQ), col("nv") === col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          round(col("adc"), 4).as("adc_l2"),
          round(sq(col("qe"), col("ne")), 4).as("exact_l2"))
        .orderBy(col("query_id"), col("rk"))
    }
  }

  // ---- e105: quality propagation over the near-dup graph ------------------

  /** Hop-decayed quality propagation over the MinHash-verified near-dup
    * graph: every document starts with an integer quality score (e14's
    * stopword/length signals folded to basis points), and each of 2
    * rounds lifts a document to the best of its own score and its
    * neighbors' scores minus a 1500 bp hop decay — max-plus label
    * propagation, the curation move that RESCUES borderline documents
    * whose near-duplicates are known-good (and, run on inverted scores,
    * condemns near-dups of known-spam). Max over integers is
    * associative and order-free, so the unrolled rounds are
    * bit-deterministic on both engines; `lifted` marks documents whose
    * final score came from the graph rather than their own signals.
    *
    * Scale design (100 TB): the edge list is e3's banded LSH join
    * (never all-pairs), each round is one edge-keyed broadcast-free
    * join + one dst-keyed max aggregation + one doc-keyed left join —
    * all linear in |E|+|V| with map-side partial max; the hop radius is
    * a small constant (quality contagion saturates fast under decay),
    * so total work is rounds × (|E|+|V|), not iterative-to-fixpoint.
    *
    * On the fixed corpus every verified pair's scores agree within
    * ~131 bp (sf0.01 measured) — faithful duplicates — so zero lifts
    * IS the correct oracle-confirmed answer here; the lifting path is
    * pinned by PropagationStatsSpec on a constructed graph
    * ([[graft.operators.QualityPropagate]]).
    */
  private def e105QualityPropagate = {
    val decay = 1500
    QueryDef.sql(
      "e105_quality_propagate",
      s"""${ExtensionQueries.minhashPairsDuck},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM verified
         |  WHERE jaccard >= 0.3
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM verified WHERE jaccard >= 0.3),
         |sig AS (SELECT doc_id, len(w) AS n_words,
         |    len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
         |  FROM (SELECT doc_id, ${Portable.wordsDuck} AS w FROM documents)),
         |q0 AS (SELECT doc_id,
         |    $qualityBpDuck AS bp
         |  FROM sig WHERE n_words > 0),
         |n1 AS (SELECT e.dst AS doc_id, max(q.bp) - $decay AS nb
         |  FROM edges e JOIN q0 q ON q.doc_id = e.src GROUP BY e.dst),
         |p1 AS (SELECT q0.doc_id, greatest(q0.bp, coalesce(n1.nb, 0)) AS bp
         |  FROM q0 LEFT JOIN n1 USING (doc_id)),
         |n2 AS (SELECT e.dst AS doc_id, max(q.bp) - $decay AS nb
         |  FROM edges e JOIN p1 q ON q.doc_id = e.src GROUP BY e.dst),
         |p2 AS (SELECT p1.doc_id, greatest(p1.bp, coalesce(n2.nb, 0)) AS bp
         |  FROM p1 LEFT JOIN n2 USING (doc_id))
         |SELECT q0.doc_id, q0.bp AS base_bp, p2.bp AS prop_bp,
         |  CASE WHEN p2.bp > q0.bp THEN 1 ELSE 0 END AS lifted
         |FROM q0 JOIN p2 USING (doc_id)
         |ORDER BY q0.doc_id""".stripMargin) { (s, dir) =>
      val pairs = ExtensionQueries.minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.3)
        .select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(
          pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val words = expr(Portable.wordsSpark)
      val q0 = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          size(filter(words, x => x.isin("the", "a"))).cast("long")
            .as("n_stop"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"),
          expr(qualityBpSpark).as("bp"))
      val p2 = QualityPropagate.propagate(edges, q0, rounds = 2, decay)
      q0.select(col("doc_id"), col("bp").as("base_bp"))
        .join(p2.select(col("doc_id"), col("bp").as("prop_bp")), "doc_id")
        .select(col("doc_id"), col("base_bp"), col("prop_bp"),
          when(col("prop_bp") > col("base_bp"), 1).otherwise(0).as("lifted"))
        .orderBy(col("doc_id"))
    }
  }

  // ---- e106: MAD robust outlier detection ---------------------------------

  /** Per-source robust outlier flagging via the median absolute
    * deviation (Iglewicz–Hoaglin modified z-score, |z| > 3.5): length
    * outliers inside a source are the truncated fragments and
    * concatenation accidents that mean/stddev screens (e38) MISS when
    * the outliers themselves inflate σ — MAD has a 50 % breakdown point
    * vs 0 % for stddev. All comparisons are integer: medians of
    * integers are half-integers, so the query carries 2×median
    * (`med2`) and 4×MAD (`mad4`) exactly, and the modified z-score in
    * basis points is `13490·|2x − med2| div mad4` (0.6745·(x−med)/MAD
    * ×10⁴, numerator and denominator each scaled 2×) — trunc division
    * on both engines, no float crosses the comparison. Sources where
    * MAD = 0 (a majority of identical lengths) report NULL z rather
    * than dividing: every row still appears, flagged 0.
    *
    * Scale design (100 TB): two source-grain exact-median aggregations
    * + two broadcast joins of the 2-column per-source frame — the
    * per-row work is one abs and one div. Exact per-group medians sort
    * within groups; the documented fleet-scale swap is e63's
    * reservoir-sampled quantiles (± known error) feeding the same
    * integer flag rule.
    *
    * The synthetic per-source lengths are near-uniform (measured max
    * modified z ≈ 2.97 at sf0.01), so zero flags IS the correct
    * oracle-confirmed answer here; the flagging path is pinned by
    * PropagationStatsSpec on a constructed skewed frame
    * ([[graft.operators.MadOutliers]]).
    */
  private def e106MadOutliers = QueryDef.sql(
    "e106_mad_outliers",
    """WITH med AS (SELECT source, CAST(2 * median(n_chars) AS BIGINT)
      |    AS med2
      |  FROM documents GROUP BY source),
      |dev AS (SELECT d.source, d.doc_id, d.n_chars, m.med2,
      |    abs(2 * d.n_chars - m.med2) AS d2
      |  FROM documents d JOIN med m ON m.source = d.source),
      |mad AS (SELECT source, CAST(2 * median(d2) AS BIGINT) AS mad4
      |  FROM dev GROUP BY source),
      |z AS (SELECT dev.source, dev.doc_id, dev.n_chars, dev.med2,
      |    mad.mad4,
      |    CASE WHEN mad.mad4 = 0 THEN NULL
      |      ELSE 13490 * dev.d2 // mad.mad4 END AS z_bp
      |  FROM dev JOIN mad USING (source))
      |SELECT source, doc_id, n_chars, med2, mad4, z_bp,
      |  CASE WHEN z_bp > 35000 THEN 1 ELSE 0 END AS is_outlier
      |FROM z ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    MadOutliers.flags(docs, "source", "n_chars")
      .select(col("source"), col("doc_id"), col("n_chars"), col("med2"),
        col("mad4"), col("z_bp"), col("is_outlier"))
      .orderBy(col("source"), col("doc_id"))
  }

  // ---- e107: IVF-codebook silhouette audit --------------------------------

  /** Per-cell simplified-silhouette audit of the e17/e64 IVF codebook:
    * for a deterministic eval sample (vec_id % 41 = 3), `a` = L2
    * distance to the nearest centroid (the assigned cell), `b` =
    * distance to the second-nearest, silhouette = (b − a)/max(a, b) —
    * reported per cell as truncated basis points (mean + min). Cells
    * with mean near 0 are boundary-smeared (centroids too close — merge
    * or retrain), cells whose min is near 0 contain reassignment-risk
    * vectors; this is THE K-tuning/health signal for the whole
    * ANN-index family (e17 flat, e64 persisted, e91 upsert, e104 PQ),
    * run before trusting a codebook.
    *
    * Determinism: distances are element-order folds (identical bits
    * both engines), top-2 ranking breaks exact-equality ties by cid,
    * silhouette truncates to integer bp. The a = b = 0 degenerate
    * (eval vector identical to two centroids) and the K = 1 case
    * (no second centroid) drop out via explicit null/zero guards on
    * both sides. Scale (100 TB): eval sample × bounded codebook
    * broadcast scoring, one vec-keyed top-2 window (K-bounded frames),
    * one cell-keyed rollup — sampling rate and K are the levers, the
    * corpus is never self-joined.
    */
  private def e107Silhouette = {
    def sqFold(a: String, b: String): String =
      s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
         |      (acc, v) -> acc + v))""".stripMargin
    QueryDef.sql(
      "e107_silhouette",
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM base
         |  WHERE vec_id % 67 = 3),
         |ev AS (SELECT vec_id, embedding FROM base WHERE vec_id % 41 = 3),
         |sc AS (SELECT e.vec_id, c.cid,
         |    ${sqFold("e.embedding", "c.cemb")} AS d
         |  FROM ev e CROSS JOIN cent c),
         |rk AS (SELECT vec_id, cid, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
         |  FROM sc QUALIFY r <= 2),
         |ab AS (SELECT vec_id,
         |    max(CASE WHEN r = 1 THEN cid END) AS cell_id,
         |    max(CASE WHEN r = 1 THEN d END) AS a,
         |    max(CASE WHEN r = 2 THEN d END) AS b
         |  FROM rk GROUP BY vec_id),
         |sil AS (SELECT vec_id, cell_id,
         |    CAST(trunc((b - a) / (CASE WHEN a >= b THEN a ELSE b END)
         |      * 10000) AS BIGINT) AS sil_bp
         |  FROM ab
         |  WHERE b IS NOT NULL AND (CASE WHEN a >= b THEN a ELSE b END) > 0)
         |SELECT cell_id, count(*) AS n_vecs,
         |  CAST(sum(sil_bp) // count(*) AS BIGINT) AS mean_sil_bp,
         |  min(sil_bp) AS min_sil_bp
         |FROM sil GROUP BY cell_id ORDER BY cell_id""".stripMargin) {
      (s, dir) =>
        def sq(a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val dcol = zip_with(a, b, (x, y) => x - y)
          sqrt(F.array_dot(dcol, dcol))
        }
        val embD = col("embedding").cast("array<double>")
        val base = Tables.embeddings(s, dir)
          .select(col("vec_id"), embD.as("emb"))
          .filter(col("vec_id").isNotNull)
        val cent = base.filter(col("vec_id") % 67 === 3)
          .select(col("vec_id").as("cid"), col("emb").as("cemb"))
        val ev = base.filter(col("vec_id") % 41 === 3)
        val sc = ev.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"),
            sq(col("emb"), col("cemb")).as("d"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("d"), col("cid"))
        val ab = sc.withColumn("r", row_number().over(w))
          .filter(col("r") <= 2)
          .groupBy("vec_id")
          .agg(
            max(when(col("r") === 1, col("cid"))).as("cell_id"),
            max(when(col("r") === 1, col("d"))).as("a"),
            max(when(col("r") === 2, col("d"))).as("b"))
        val mx = when(col("a") >= col("b"), col("a")).otherwise(col("b"))
        val sil = ab
          .filter(col("b").isNotNull)
          .withColumn("mx", mx)
          .filter(col("mx") > 0)
          .withColumn("sil_bp",
            ((col("b") - col("a")) / col("mx") * 10000).cast("long"))
        sil.groupBy("cell_id")
          .agg(count(lit(1)).as("n_vecs"),
            expr("sum(sil_bp) div count(1)").as("mean_sil_bp"),
            min(col("sil_bp")).as("min_sil_bp"))
          .orderBy(col("cell_id"))
    }
  }

  // ---- e108: quality-signal correlation matrix ----------------------------

  /** Per-source Pearson correlation between the three per-document
    * quality signals (n_chars, n_words, n_punct — e14's raw inputs),
    * computed from EXACT integer moment sums: n, Σx, Σy, Σxy, Σx², Σy²
    * accumulate as BIGINTs (order-free, overflow-safe at these
    * magnitudes), and the single float expression
    * `(nΣxy − ΣxΣy)/(√(nΣx²−Σx²)·√(nΣy²−Σy²))` is evaluated with
    * identical operation order on both engines — so a statistic that is
    * normally accumulation-order-dependent becomes bit-deterministic.
    * This is the signal-REDUNDANCY audit next to e96's rejection-set
    * overlap: a pair correlating ≈ 1 within every source means one
    * signal is free to drop from the filter stack; a pair whose
    * correlation varies wildly by source flags a source-conditional
    * signal. Zero-variance guards report NULL rather than dividing.
    *
    * Scale (100 TB): one corpus scan → six integer partial aggregates
    * per source (map-side combine), output #sources × 3 rows; nothing
    * downstream of the scan touches text again.
    */
  private def e108SignalCorr = {
    val punctDuck = """len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))"""
    QueryDef.sql(
      "e108_signal_corr",
      s"""WITH d AS (SELECT source, n_chars,
         |    len(${Portable.wordsDuck}) AS n_words,
         |    $punctDuck AS n_punct
         |  FROM documents),
         |s AS (SELECT source, count(*) AS n,
         |    CAST(sum(n_chars) AS BIGINT) AS sx,
         |    CAST(sum(n_words) AS BIGINT) AS sy,
         |    CAST(sum(n_punct) AS BIGINT) AS sz,
         |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
         |    CAST(sum(n_words * n_words) AS BIGINT) AS syy,
         |    CAST(sum(n_punct * n_punct) AS BIGINT) AS szz,
         |    CAST(sum(n_chars * n_words) AS BIGINT) AS sxy,
         |    CAST(sum(n_chars * n_punct) AS BIGINT) AS sxz,
         |    CAST(sum(n_words * n_punct) AS BIGINT) AS syz
         |  FROM d GROUP BY source),
         |c AS (
         |  SELECT source, 'chars_words' AS pair, n * sxy - sx * sy AS num,
         |    n * sxx - sx * sx AS va, n * syy - sy * sy AS vb FROM s
         |  UNION ALL
         |  SELECT source, 'chars_punct', n * sxz - sx * sz,
         |    n * sxx - sx * sx, n * szz - sz * sz FROM s
         |  UNION ALL
         |  SELECT source, 'words_punct', n * syz - sy * sz,
         |    n * syy - sy * sy, n * szz - sz * sz FROM s)
         |SELECT source, pair,
         |  CASE WHEN va > 0 AND vb > 0
         |    THEN round(CAST(num AS DOUBLE) /
         |      (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE))), 4) + 0
         |  END AS corr
         |FROM c ORDER BY source, pair""".stripMargin) { (s, dir) =>
      val words = expr(Portable.wordsSpark)
      val d = Tables.documents(s, dir)
        .select(col("source"), col("n_chars"),
          size(words).cast("long").as("n_words"),
          size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)"))
            .cast("long").as("n_punct"))
      val mom = d.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_words")).as("sy"),
        sum(col("n_punct")).as("sz"),
        sum(col("n_chars") * col("n_chars")).as("sxx"),
        sum(col("n_words") * col("n_words")).as("syy"),
        sum(col("n_punct") * col("n_punct")).as("szz"),
        sum(col("n_chars") * col("n_words")).as("sxy"),
        sum(col("n_chars") * col("n_punct")).as("sxz"),
        sum(col("n_words") * col("n_punct")).as("syz"))
      def leg(pair: String, sab: String, aa: String, bb: String) =
        mom.select(col("source"), lit(pair).as("pair"),
          (col("n") * col(sab) - col(aa.take(2)) * col(bb.take(2))).as("num"),
          (col("n") * col(aa) - col(aa.take(2)) * col(aa.take(2))).as("va"),
          (col("n") * col(bb) - col(bb.take(2)) * col(bb.take(2))).as("vb"))
      val c = leg("chars_words", "sxy", "sxx", "syy")
        .unionByName(leg("chars_punct", "sxz", "sxx", "szz"))
        .unionByName(leg("words_punct", "syz", "syy", "szz"))
      c.select(col("source"), col("pair"),
        when(col("va") > 0 && col("vb") > 0,
          round(col("num").cast("double") /
            (sqrt(col("va").cast("double")) * sqrt(col("vb").cast("double"))),
            4) + 0).as("corr"))
        .orderBy(col("source"), col("pair"))
    }
  }

  // ---- e109: brand co-purchase association rules --------------------------

  /** Market-basket association rules at the brand grain over the TPC-H
    * star: distinct brands per order, co-occurrence counts for every
    * brand pair, and the support / confidence / lift triple in integer
    * basis points (`lift_bp` = 10⁴·P(a∧b)/(P(a)·P(b)) — 10000 means
    * independent; the synthetic uniform part mix correctly lands near
    * there, which IS the audit's answer on this data). The relational
    * sibling of e44's PMI collocations: same count algebra, order
    * baskets instead of token windows.
    *
    * Scale (100 TB): one brand-dim broadcast join, ONE fact exchange
    * (repartition by order key — the per-order distinct rollup and the
    * pair self-join both reuse it: partitioning on a subset of the
    * grouping keys satisfies the aggregate's distribution), pair
    * explode bounded by (brands-per-order)² ≤ 25² per basket, and the
    * pair rollup keys on a ≤ #brands² space. Item-grain rules swap the
    * brand dim for a min-support prefilter on items (drop items under
    * support θ BEFORE pairing — the classic Apriori prune); shapes
    * unchanged.
    */
  private def e109CopurchaseLift = QueryDef.sql(
    "e109_copurchase_lift",
    """WITH li AS (SELECT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY l_orderkey, p_brand),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
      |bc AS (SELECT p_brand, count(*) AS cnt FROM li GROUP BY p_brand),
      |pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |    count(*) AS n_both
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, n_both, ba.cnt AS n_a, bb.cnt AS n_b,
      |  n.n_orders,
      |  CAST(n_both * 10000 // n.n_orders AS BIGINT) AS support_bp,
      |  CAST(n_both * 10000 // ba.cnt AS BIGINT) AS conf_a_to_b_bp,
      |  CAST(n_both * n.n_orders * 10000 // (ba.cnt * bb.cnt) AS BIGINT)
      |    AS lift_bp
      |FROM pairs
      |JOIN bc ba ON ba.p_brand = brand_a
      |JOIN bc bb ON bb.p_brand = brand_b
      |CROSS JOIN n
      |WHERE n_both >= 5
      |ORDER BY brand_a, brand_b""".stripMargin) { (s, dir) =>
    // One fact exchange: the order-keyed repartition satisfies the
    // (orderkey, brand) rollup (subset rule) AND both pair-join sides.
    // part is fact-proportional, so it stays UNHINTED (threshold/AQE
    // broadcast it while it fits — the q2/q50 rule).
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "p_brand").agg(count(lit(1)).as("_c"))
      .select("l_orderkey", "p_brand")
    val n = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val bc = li.groupBy("p_brand").agg(count(lit(1)).as("cnt"))
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 5)
    pairs
      .join(broadcast(bc.select(col("p_brand").as("brand_a"),
        col("cnt").as("n_a"))), "brand_a")
      .join(broadcast(bc.select(col("p_brand").as("brand_b"),
        col("cnt").as("n_b"))), "brand_b")
      .crossJoin(n)
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        col("n_a"), col("n_b"), col("n_orders"),
        expr("n_both * 10000 div n_orders").as("support_bp"),
        expr("n_both * 10000 div n_a").as("conf_a_to_b_bp"),
        expr("n_both * n_orders * 10000 div (n_a * n_b)").as("lift_bp"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  // ---- e110: contrastive-pair mining --------------------------------------

  /** Contrastive training-pair mining for embedding models: for each
    * anchor (vec_id % 101 = 5), emit the `pos`itive (nearest neighbor
    * by cosine — the self-supervised positive when no labels exist),
    * three `hneg` hard negatives (ranks 2–4: the confusable
    * almost-matches that contrastive losses need most), and one `eneg`
    * easy negative — a HASH-ARGMIN draw (the neighbor minimizing an
    * integer LCG hash of the pair), the deterministic, reproducible
    * stand-in for a uniform random negative. Pos/hneg are RANK-defined,
    * not absolute-threshold-defined, so the miner adapts to any
    * embedding geometry (this corpus's cosines top out ≈ 0.4 — any
    * fixed band would go empty). Cosines are rounded to 4dp BEFORE
    * ranking (e5's reproducible-rank rule), ties break by neighbor_id.
    *
    * Scale (100 TB): anchors broadcast against one corpus scan for the
    * scored head (e5's guarded-broadcast/chunking discipline applies
    * past the guard) with a CONSTANT rank bound, so WindowGroupLimit
    * prunes to ≤ 4 rows per anchor per partition before the exchange;
    * the easy-negative pass touches only IDs (integer hash argmin as
    * one map-side min-struct aggregation — no embedding bytes, no
    * window), then fetches embeddings for the nq selected rows. An
    * earlier median-rank eneg rule forced a full un-prunable window
    * sort (52 MB shuffled at the 10× probe vs ~1 MB now) — rank bounds
    * must be constants for the group-limit pushdown to exist.
    */
  private def e110HardNegatives = {
    val P = Portable.P
    val A = 1103515245L
    val B = 12345L
    QueryDef.sql(
      "e110_hard_negatives",
      s"""WITH a AS (SELECT * FROM embeddings WHERE vec_id % 101 = 5),
         |scored AS (
         |  SELECT a.vec_id AS anchor_id, c.vec_id AS neighbor_id,
         |    round(${dotPair("a", "c")} /
         |      (${normOf("a")} * ${normOf("c")}), 4) + 0 AS cosine
         |  FROM a JOIN embeddings c ON a.vec_id <> c.vec_id),
         |head AS (SELECT anchor_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cosine DESC, neighbor_id) AS rk
         |  FROM scored QUALIFY rk <= 4),
         |hh AS (SELECT a.vec_id AS anchor_id, c.vec_id AS neighbor_id,
         |    ($A * ((a.vec_id * 1000003 + c.vec_id) % $P) + $B) % $P AS hh
         |  FROM a JOIN embeddings c ON a.vec_id <> c.vec_id),
         |mh AS (SELECT anchor_id, min(hh) AS mh FROM hh
         |  GROUP BY anchor_id),
         |sel AS (SELECT h.anchor_id, min(h.neighbor_id) AS neighbor_id
         |  FROM hh h JOIN mh ON mh.anchor_id = h.anchor_id
         |    AND h.hh = mh.mh
         |  GROUP BY h.anchor_id),
         |en AS (SELECT s.anchor_id, 'eneg' AS role, s.neighbor_id,
         |    sc.cosine
         |  FROM sel s JOIN scored sc ON sc.anchor_id = s.anchor_id
         |    AND sc.neighbor_id = s.neighbor_id)
         |SELECT anchor_id,
         |  CASE WHEN rk = 1 THEN 'pos' ELSE 'hneg' END AS role,
         |  neighbor_id, cosine
         |FROM head
         |UNION ALL SELECT anchor_id, role, neighbor_id, cosine FROM en
         |ORDER BY anchor_id, role, neighbor_id""".stripMargin) { (s, dir) =>
      val embD = col("embedding").cast("array<double>")
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), embD.as("emb"))
        .filter(col("vec_id").isNotNull)
        .withColumn("nrm", sqrt(F.array_dot(col("emb"), col("emb"))))
      val anchors = base.filter(col("vec_id") % 101 === 5)
        .select(col("vec_id").as("anchor_id"), col("emb").as("ae"),
          col("nrm").as("an"))
      val cosine = round(
        F.array_dot(col("ae"), col("emb")) / (col("an") * col("nrm")),
        4) + 0
      val wOrd = Window.partitionBy(col("anchor_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val head = base.join(broadcast(anchors),
          col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("vec_id").as("neighbor_id"),
          cosine.as("cosine"))
        .withColumn("rk", row_number().over(wOrd))
        .filter(col("rk") <= 4)
        .select(col("anchor_id"),
          when(col("rk") === 1, "pos").otherwise("hneg").as("role"),
          col("neighbor_id"), col("cosine"))
      // Easy negative: ids only — no embedding bytes move until the nq
      // selected rows fetch theirs for the cosine report.
      val hh = (lit(A) * ((col("anchor_id") * 1000003L + col("nid")) % P)
        + B) % P
      val sel = base.select(col("vec_id").as("nid"))
        .join(broadcast(anchors.select(col("anchor_id"))),
          col("nid") =!= col("anchor_id"))
        .groupBy("anchor_id")
        .agg(min(struct(hh.as("hh"), col("nid").as("nid"))).as("m"))
        .select(col("anchor_id"), col("m.nid").as("neighbor_id"))
      val en = base
        .select(col("vec_id").as("neighbor_id"), col("emb"), col("nrm"))
        .join(broadcast(sel), "neighbor_id")
        .join(broadcast(anchors), "anchor_id")
        .select(col("anchor_id"), lit("eneg").as("role"),
          col("neighbor_id"), cosine.as("cosine"))
      head.unionByName(en)
        .orderBy(col("anchor_id"), col("role"), col("neighbor_id"))
    }
  }

  private def dotPair(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65),
       |        i -> CAST($x.embedding[i] AS DOUBLE)
       |           * CAST($y.embedding[i] AS DOUBLE))),
       |      (acc, v) -> acc + v)""".stripMargin

  private def normOf(x: String): String = s"sqrt(${dotPair(x, x)})"

  // ---- e111: span-corruption masking manifest -----------------------------

  /** T5-style span-corruption manifest as PURE column math: every 4th
    * token position is a potential span start, a start fires iff
    * `((1103515245·k + 12345) mod P) mod 10 < 3` with
    * `k = (doc_id·1000003 + i) mod P` (expected mask ratio
    * 0.3 × 2/4 = 15 %, the T5 default), and a fired span masks
    * `min(2, n_tokens − i)` tokens — starts are ≥ 4 apart so spans
    * never overlap or merge by construction. Because the schedule is a
    * deterministic function of (doc_id, position), the TRAINER can
    * recompute exactly the masked-token counts the pipeline reports
    * (loss normalization, token accounting) without the pipeline
    * shipping a single mask array — the reproducible-augmentation
    * contract, same philosophy as F4's seeded partition-stable UUIDs.
    *
    * Scale (100 TB): zero shuffle — per-row lambda arithmetic over the
    * token sequence, emitted as a per-doc summary (the full mask
    * positions are re-derivable anywhere from the formula).
    */
  private def e111MaskSpans = {
    val P = Portable.P
    val A = 1103515245L
    val B = 12345L
    QueryDef.sql(
      "e111_mask_spans",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${Portable.wordsDuck}) AS BIGINT) AS nt
         |  FROM documents),
         |m AS (SELECT doc_id, nt,
         |    list_filter(range(0, nt, 4), i ->
         |      (($A * ((doc_id * 1000003 + i) % $P) + $B) % $P) % 10 < 3)
         |      AS starts
         |  FROM t WHERE nt > 0),
         |agg AS (SELECT doc_id, nt,
         |    CAST(len(starts) AS BIGINT) AS n_spans,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(starts, i -> least(CAST(2 AS BIGINT),
         |          nt - i))),
         |      (acc, v) -> acc + v) AS BIGINT) AS n_masked
         |  FROM m)
         |SELECT doc_id, nt AS n_tokens, n_spans, n_masked,
         |  n_masked * 10000 // nt AS mask_bp
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val words = expr(Portable.wordsSpark)
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), size(words).cast("long").as("nt"))
        .filter(col("nt") > 0)
      val starts = filter(
        sequence(lit(0L), col("nt") - 1, lit(4L)),
        i => (lit(A) * ((col("doc_id") * 1000003L + i) % P) + B) % P % 10 < 3)
      t.withColumn("starts", starts)
        .select(col("doc_id"), col("nt").as("n_tokens"),
          size(col("starts")).cast("long").as("n_spans"),
          aggregate(col("starts"), lit(0L),
            (acc, i) => acc + least(lit(2L), col("nt") - i)).as("n_masked"))
        .withColumn("mask_bp", expr("n_masked * 10000 div n_tokens"))
        .orderBy(col("doc_id"))
    }
  }

  // ---- e112: within-source diversity audit --------------------------------

  /** Per-source self-similarity (diversity) audit: pair each document
    * with its stride-adjacent same-source neighbor (doc_id + 20 — the
    * synthetic round-robin source striping makes that the next document
    * OF THE SAME SOURCE; the source-equality predicate is kept so the
    * pairing stays correct under any id layout), compute exact
    * shingle-set Jaccard per pair in integer basis points, and roll up
    * per source: pair count, mean and max similarity, and how many
    * pairs exceed 3000 bp (the within-source redundancy count). A
    * source whose mean creeps up is template-farming/self-syndicating —
    * the corpus-mix signal that a source's MARGINAL document adds
    * little; complements e52 (cross-source dups) and e71 (dedup yield)
    * with the within-source redundancy angle.
    *
    * The stride pairing is a deterministic ~1-pair-per-doc sample of
    * the within-source pair space — a keyed equi-join, NOT a window
    * over the source partition (a per-source window would be the skew
    * trap at 100 TB; the join is uniform per doc). Arrays ride the
    * join doc-keyed; one source-grain rollup ends the plan.
    */
  private def e112SourceDiversity = QueryDef.sql(
    "e112_source_diversity",
    s"""WITH w AS (SELECT doc_id, source, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, source, ${Portable.shinglesDuck} AS shs
       |  FROM w),
       |ok AS (SELECT doc_id, source, shs FROM sh WHERE len(shs) > 0),
       |pr AS (SELECT a.source,
       |    CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS ov,
       |    CAST(len(a.shs) + len(b.shs)
       |      - len(list_intersect(a.shs, b.shs)) AS BIGINT) AS un
       |  FROM ok a JOIN ok b
       |    ON b.doc_id = a.doc_id + 20 AND b.source = a.source)
       |SELECT source, count(*) AS n_pairs,
       |  CAST(sum(ov * 10000 // un) // count(*) AS BIGINT) AS mean_jac_bp,
       |  CAST(max(ov * 10000 // un) AS BIGINT) AS max_jac_bp,
       |  CAST(sum(CASE WHEN ov * 10000 // un >= 3000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_sim
       |FROM pr GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val ok = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .filter(col("doc_id").isNotNull)
    val ov = size(array_intersect(col("a.shs"), col("b.shs"))).cast("long")
    val un = (size(col("a.shs")) + size(col("b.shs"))).cast("long") - ov
    val jac = expr("ov * 10000 div un")
    ok.as("a")
      .join(ok.as("b"),
        col("b.doc_id") === col("a.doc_id") + 20 &&
          col("b.source") === col("a.source"))
      .select(col("a.source").as("source"), ov.as("ov"), un.as("un"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(ov * 10000 div un) div count(1)").as("mean_jac_bp"),
        max(jac).as("max_jac_bp"),
        sum(when(jac >= 3000, 1L).otherwise(0L)).as("n_sim"))
      .orderBy(col("source"))
  }

  // ---- e113: dedup candidate-budget cost model ----------------------------

  /** Planner-style COST MODEL for the near-dup candidate joins: for each
    * detector, the exact candidate-join row count is Σ_h df(df−1)/2
    * over its postings — computable from the df census ALONE, one
    * aggregation, no join executed. The query prices three detectors
    * (`raw` uncapped inverted index, `dfcap100` = e2's prune,
    * `prefix35` = e98's t = 3/5 prefix postings) and then RUNS the two
    * affordable ones to report realized distinct pairs and the
    * overcount ratio (join rows ÷ distinct pairs — how many shared
    * tokens the average candidate pair pays for). `raw` is priced but
    * deliberately NOT executed — that is the point of a cost model: at
    * sf0.01 its predicted join is ~21× the prefix detector's, and at
    * 100 TB it is the difference between a plan and an outage. A
    * production dedup stage runs exactly this census to pick its cap
    * before committing the pair join. (On the plain corpora no shingle
    * reaches df > 100, so `raw` and `dfcap100` coincide — the cap is
    * priced at zero until duplication concentrates the buckets, exactly
    * the dup-heavy-replica regime the SCALING probes measure; the
    * prefix detector's 21× still stands there.)
    *
    * Scale (100 TB): the census is one postings aggregation (the same
    * h-keyed exchange every detector shares); the two executed joins
    * are the detectors' own bounded joins. All arithmetic integer
    * (df(df−1) is even, so `// 2` is exact).
    */
  private def e113CandidateBudget = QueryDef.sql(
    "e113_candidate_budget",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM w),
       |tok AS (SELECT doc_id, unnest(shs) AS h FROM sh WHERE len(shs) > 0),
       |df AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |ord AS (SELECT t.doc_id, t.h,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.h)
       |      AS r, s.sz
       |  FROM tok t JOIN df d USING (h) JOIN sz s USING (doc_id)),
       |pre AS (SELECT doc_id, h FROM ord
       |  WHERE r <= sz - (3*sz + 4) // 5 + 1),
       |pdf AS (SELECT h, count(*) AS df FROM pre GROUP BY h),
       |kept AS (SELECT h, df FROM df WHERE df <= 100),
       |cap_pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM tok a JOIN kept k ON k.h = a.h
       |  JOIN tok b ON b.h = a.h AND a.doc_id < b.doc_id),
       |pre_pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM pre a JOIN pre b ON b.h = a.h AND a.doc_id < b.doc_id),
       |rows_ AS (
       |  SELECT 'raw' AS detector,
       |    CAST(sum(df) AS BIGINT) AS n_postings,
       |    CAST(sum(df * (df - 1) // 2) AS BIGINT) AS predicted_rows,
       |    CAST(NULL AS BIGINT) AS distinct_pairs
       |  FROM df
       |  UNION ALL
       |  SELECT 'dfcap100', CAST(sum(df) AS BIGINT),
       |    CAST(sum(df * (df - 1) // 2) AS BIGINT),
       |    (SELECT count(*) FROM cap_pairs)
       |  FROM kept
       |  UNION ALL
       |  SELECT 'prefix35', CAST(sum(df) AS BIGINT),
       |    CAST(sum(df * (df - 1) // 2) AS BIGINT),
       |    (SELECT count(*) FROM pre_pairs)
       |  FROM pdf)
       |SELECT detector, n_postings, predicted_rows, distinct_pairs,
       |  CASE WHEN distinct_pairs > 0
       |    THEN predicted_rows * 10000 // distinct_pairs END AS overcount_bp
       |FROM rows_ ORDER BY detector""".stripMargin) { (s, dir) =>
    val tok = docShingleTokens(s, dir)
    val dfc = tok.groupBy("h").agg(count(col("doc_id")).as("df"))
    val sz = tok.groupBy("doc_id").agg(count(col("h")).as("sz"))
    val ord = tok.join(dfc, "h").join(sz, "doc_id")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
    val pre = ord
      .filter(col("r") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("h"))
      .repartition(col("h"))
    val pdf = pre.groupBy("h").agg(count(col("doc_id")).as("df"))
    val kept = dfc.filter(col("df") <= 100)
    def census(detector: String, d: DataFrame): DataFrame =
      d.agg(sum(col("df")).cast("long").as("n_postings"),
        sum(expr("df * (df - 1) div 2")).cast("long").as("predicted_rows"))
        .select(lit(detector).as("detector"), col("n_postings"),
          col("predicted_rows"))
    def pairCount(postings: DataFrame): DataFrame =
      postings.as("a")
        .join(postings.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
        .agg(count(lit(1)).as("distinct_pairs"))
    val capPost = tok.join(kept.select("h"), "h")
    val withActual =
      census("dfcap100", kept)
        .crossJoin(pairCount(capPost))
        .unionByName(
          census("prefix35", pdf).crossJoin(pairCount(pre)))
    census("raw", dfc)
      .withColumn("distinct_pairs", lit(null).cast("long"))
      .unionByName(withActual)
      .select(col("detector"), col("n_postings"), col("predicted_rows"),
        col("distinct_pairs"),
        when(col("distinct_pairs") > 0,
          expr("predicted_rows * 10000 div distinct_pairs"))
          .as("overcount_bp"))
      .orderBy(col("detector"))
  }

  /** Exploded distinct-shingle postings, h-repartitioned so the df
    * census, the prefix ranking, and the pair joins all reuse one
    * exchange (the e2/e98 discipline).
    */
  private def docShingleTokens(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(col("shs")).as("h"))
      .repartition(col("h"))

  // ---- e114: per-source hapax / tail coverage -----------------------------

  /** Tail-CONTEXT richness per source: a hapax here is a word-3-gram
    * shingle whose corpus document frequency is exactly 1 — a phrase
    * context that exists nowhere else, so every hapax belongs to one
    * source by construction. `hapax_shingles` counts a source's
    * exclusive tail contexts, `docs_with_hapax` how widely that tail is
    * spread, `hapax_share_bp` its share of the source's distinct
    * contexts. The grain is deliberately the N-GRAM, not the word: a
    * bounded word vocabulary (this corpus's synthetic pool is ~31
    * words; real corpora saturate at the word grain too) has no word
    * hapax at any size, while n-gram contexts keep the tail observable
    * (Heaps' exponent grows with n). Boilerplate/template sources have
    * near-zero context tail (everything they say, they say repeatedly);
    * organic text keeps a fat one. Complements e54 (vocabulary growth)
    * and e101 (frequency-decay slope) with the WHERE-does-the-tail-live
    * cut, and is e83's mirror image (e83 hunts over-REPEATED n-grams;
    * this counts never-repeated ones).
    *
    * Scale (100 TB): one distinct-shingle explode feeds an h-keyed df
    * census that CARRIES the hapax owner along (min source/doc — exact
    * for df = 1), so the hapax rollups read the census and the postings
    * are never joined back or re-read; distinct-shingle and doc
    * censuses reuse the same exchange (subset rule). A single 4-way
    * count-distinct would expand the postings frame 4× through the
    * source aggregation — measured 69 s / 398 MB shuffled at the 100×
    * probe vs 15 s / 266 MB this shape, whose floor is the one
    * unavoidable postings exchange. No text moves past the first
    * projection.
    */
  private def e114HapaxCoverage = QueryDef.sql(
    "e114_hapax_coverage",
    s"""WITH w AS (SELECT doc_id, source, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, source, ${Portable.shinglesDuck} AS shs
       |  FROM w),
       |wx AS (SELECT doc_id, source, unnest(shs) AS h FROM sh
       |  WHERE len(shs) > 0),
       |dfh AS (SELECT h, count(*) AS df FROM wx GROUP BY h),
       |j AS (SELECT wx.doc_id, wx.source, wx.h, dfh.df
       |  FROM wx JOIN dfh USING (h))
       |SELECT source,
       |  count(DISTINCT doc_id) AS n_docs,
       |  count(DISTINCT CASE WHEN df = 1 THEN doc_id END)
       |    AS docs_with_hapax,
       |  count(DISTINCT h) AS distinct_shingles,
       |  count(DISTINCT CASE WHEN df = 1 THEN h END) AS hapax_shingles,
       |  count(DISTINCT CASE WHEN df = 1 THEN doc_id END) * 10000
       |    // count(DISTINCT doc_id) AS coverage_bp,
       |  count(DISTINCT CASE WHEN df = 1 THEN h END) * 10000
       |    // count(DISTINCT h) AS hapax_share_bp
       |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val wx = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("source"), explode(col("shs")).as("h"))
      .repartition(col("h"))
    // No join-back and no multi-distinct expand: a df = 1 shingle's ONE
    // posting row already names its owning (source, doc), so the df
    // census carries min(source)/min(doc_id) along (exact for the df=1
    // rows that use them) and the hapax rollups read the census, never
    // the postings again. A 4-way count-distinct here expanded the
    // postings frame 4x through the source aggregation (measured 69 s
    // at the 100x probe; this shape runs 15 s, floor = the one
    // unavoidable postings exchange the census itself needs).
    val dfh = wx.groupBy("h").agg(count(col("doc_id")).as("df"),
      min(col("source")).as("hsrc"), min(col("doc_id")).as("hdoc"))
    val hapaxStats = dfh.filter(col("df") === 1)
      .select(col("hsrc").as("source"), col("hdoc"))
      .groupBy("source")
      .agg(count(lit(1)).as("hapax_shingles"),
        countDistinct(col("hdoc")).as("docs_with_hapax"))
    // Per-(source, h) collapse reuses the h exchange (subset rule).
    val shStats = wx.groupBy("source", "h").agg(count(lit(1)).as("_c"))
      .groupBy("source").agg(count(lit(1)).as("distinct_shingles"))
    val nDocs = wx.select(col("source"), col("doc_id")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    nDocs
      .join(shStats, "source")
      .join(hapaxStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("docs_with_hapax"), lit(0L)).as("docs_with_hapax"),
        col("distinct_shingles"),
        coalesce(col("hapax_shingles"), lit(0L)).as("hapax_shingles"))
      .select(col("source"), col("n_docs"), col("docs_with_hapax"),
        col("distinct_shingles"), col("hapax_shingles"),
        expr("docs_with_hapax * 10000 div n_docs").as("coverage_bp"),
        expr("hapax_shingles * 10000 div distinct_shingles")
          .as("hapax_share_bp"))
      .orderBy(col("source"))
  }

  // ---- e115: week-over-week PSI drift monitor -----------------------------

  /** Population-stability-index drift monitor over the events stream:
    * per event type, each week's `value` distribution is compared to
    * the REFERENCE week (week 0) over 10 fixed-width buckets, and
    * PSI = Σ (q−p)·ln(q/p) is reported in truncated basis points with
    * the standard reading (< 0.10 stable, 0.10–0.25 shifting, > 0.25
    * drifted — `drifted` flags the 0.25 rule). Fixed-width buckets
    * (not per-run quantiles) keep the monitor's frame of reference
    * stable across runs — the property a drift DETECTOR needs; add-one
    * smoothing keeps empty buckets finite. The time-axis complement of
    * e69 (source-vs-source TV distance) with the industry-standard
    * metric.
    *
    * Determinism: counts are integers; p and q derive from them with
    * identical arithmetic on both engines, and the 10 bucket terms are
    * summed as an EXPLICIT left-to-right 10-column fold (a sum()
    * aggregate over doubles would be merge-order-dependent — the same
    * trap the revenue aggregates document); trunc on both sides.
    *
    * Scale (100 TB): one (type, week)-keyed exchange serves both the
    * bucket counts and the week totals (subset rule); everything after
    * is #types × #weeks × 10 rows against broadcast spines.
    */
  private def e115PsiDrift = QueryDef.sql(
    "e115_psi_drift",
    """WITH e AS (SELECT event_type,
      |    CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT)
      |      AS wk,
      |    least(9, CAST(floor(value / 50) AS BIGINT)) AS b
      |  FROM events),
      |cnt AS (SELECT event_type, wk, b, count(*) AS c FROM e
      |  GROUP BY 1, 2, 3),
      |n AS (SELECT event_type, wk, count(*) AS n FROM e GROUP BY 1, 2),
      |spine AS (SELECT DISTINCT event_type FROM e),
      |wks AS (SELECT DISTINCT wk FROM e WHERE wk > 0),
      |bs AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS b),
      |grid AS (SELECT s.event_type, w.wk, bs.b
      |  FROM spine s CROSS JOIN wks w CROSS JOIN bs),
      |qx AS (SELECT g.event_type, g.wk, g.b,
      |    (coalesce(c.c, 0) + 1.0) / (n.n + 10.0) AS q
      |  FROM grid g
      |  JOIN n ON n.event_type = g.event_type AND n.wk = g.wk
      |  LEFT JOIN cnt c ON c.event_type = g.event_type
      |    AND c.wk = g.wk AND c.b = g.b),
      |gridref AS (SELECT s.event_type, bs.b FROM spine s CROSS JOIN bs),
      |px AS (SELECT g.event_type, g.b,
      |    (coalesce(c.c, 0) + 1.0) / (n.n + 10.0) AS p
      |  FROM gridref g
      |  JOIN n ON n.event_type = g.event_type AND n.wk = 0
      |  LEFT JOIN cnt c ON c.event_type = g.event_type
      |    AND c.wk = 0 AND c.b = g.b),
      |t AS (SELECT q.event_type, q.wk, q.b,
      |    (q.q - p.p) * ln(q.q / p.p) AS term
      |  FROM qx q JOIN px p ON p.event_type = q.event_type
      |    AND p.b = q.b),
      |wide AS (SELECT event_type, wk,
      |    max(CASE WHEN b = 0 THEN term END) AS t0,
      |    max(CASE WHEN b = 1 THEN term END) AS t1,
      |    max(CASE WHEN b = 2 THEN term END) AS t2,
      |    max(CASE WHEN b = 3 THEN term END) AS t3,
      |    max(CASE WHEN b = 4 THEN term END) AS t4,
      |    max(CASE WHEN b = 5 THEN term END) AS t5,
      |    max(CASE WHEN b = 6 THEN term END) AS t6,
      |    max(CASE WHEN b = 7 THEN term END) AS t7,
      |    max(CASE WHEN b = 8 THEN term END) AS t8,
      |    max(CASE WHEN b = 9 THEN term END) AS t9
      |  FROM t GROUP BY event_type, wk)
      |SELECT event_type, wk AS week,
      |  CAST(trunc((t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7 + t8 + t9)
      |    * 10000) AS BIGINT) AS psi_bp,
      |  CASE WHEN CAST(trunc((t0 + t1 + t2 + t3 + t4 + t5 + t6 + t7
      |      + t8 + t9) * 10000) AS BIGINT) > 2500
      |    THEN 1 ELSE 0 END AS drifted
      |FROM wide ORDER BY event_type, week""".stripMargin) { (s, dir) =>
    val wk = expr("datediff(to_date(ts), date'2024-01-01') div 7")
      .cast("long")
    val b = least(lit(9L), floor(col("value") / 50).cast("long"))
    val e = Tables.events(s, dir)
      .select(col("event_type"), wk.as("wk"), b.as("b"))
      .repartition(col("event_type"), col("wk"))
    val cnt = e.groupBy("event_type", "wk", "b").agg(count(lit(1)).as("c"))
    val n = e.groupBy("event_type", "wk").agg(count(lit(1)).as("n"))
    val spine = e.select("event_type").distinct()
    val wks = e.filter(col("wk") > 0).select("wk").distinct()
    // the bs hints also stop the optimizer from moving these cross
    // joins below the equi-joins that follow
    val bs = s.range(10).select(col("id").as("b"))
    val grid = spine.crossJoin(broadcast(wks)).crossJoin(broadcast(bs))
    val share = (coalesce(col("c"), lit(0L)) + lit(1.0)) /
      (col("n") + lit(10.0))
    val qx = grid
      .join(n, Seq("event_type", "wk"))
      .join(cnt, Seq("event_type", "wk", "b"), "left")
      .select(col("event_type"), col("wk"), col("b"), share.as("q"))
    val px = spine.crossJoin(broadcast(bs))
      .join(n.filter(col("wk") === 0).drop("wk"), Seq("event_type"))
      .join(cnt.filter(col("wk") === 0).drop("wk"),
        Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"), share.as("p"))
    val t = qx.join(broadcast(px), Seq("event_type", "b"))
      .select(col("event_type"), col("wk"),  col("b"),
        ((col("q") - col("p")) * log(col("q") / col("p"))).as("term"))
    val wide = t.groupBy("event_type", "wk").agg(
      max(when(col("b") === 0, col("term"))).as("t0"),
      max(when(col("b") === 1, col("term"))).as("t1"),
      max(when(col("b") === 2, col("term"))).as("t2"),
      max(when(col("b") === 3, col("term"))).as("t3"),
      max(when(col("b") === 4, col("term"))).as("t4"),
      max(when(col("b") === 5, col("term"))).as("t5"),
      max(when(col("b") === 6, col("term"))).as("t6"),
      max(when(col("b") === 7, col("term"))).as("t7"),
      max(when(col("b") === 8, col("term"))).as("t8"),
      max(when(col("b") === 9, col("term"))).as("t9"))
    val psi = ((col("t0") + col("t1") + col("t2") + col("t3") + col("t4")
      + col("t5") + col("t6") + col("t7") + col("t8") + col("t9"))
      * 10000).cast("long")
    wide.select(col("event_type"), col("wk").as("week"),
      psi.as("psi_bp"),
      when(psi > 2500, 1).otherwise(0).as("drifted"))
      .orderBy(col("event_type"), col("week"))
  }
  // ---- e116: dup-graph transitivity ---------------------------------------

  /** Triangle census of the near-dup graph: nodes are documents, edges
    * the MinHash-verified pairs at J >= 0.3, and the query reports
    * triangles, wedges (Σ d(d−1)/2 over degrees), and the global
    * clustering coefficient 3·T/W in basis points. This is the
    * graph-SHAPE audit behind cluster-canonical dedup (e45): true
    * duplicate clusters are near-cliques (transitivity → 10000 bp), so
    * a LOW coefficient on a corpus's dup graph means the detector is
    * chaining dissimilar documents through hubs — exactly when
    * keep-one-per-component (e32/e45) starts deleting non-duplicates
    * and per-edge verification thresholds need raising. Triangles are
    * counted on the canonical a < b orientation with an ordered 3-way
    * self-join (x<y<z, all three edges present — each triangle counted
    * once).
    *
    * Scale (100 TB): |E| is banding-bounded (e3's machinery, never
    * all-pairs); the triangle join's cost is Σ_x d(x)² on the join key
    * — the production refinement is degree-ordered orientation (point
    * each edge from its lower-(degree, id) endpoint), which caps wedge
    * lists at O(√m) per node and total work at O(m^{3/2}); counts are
    * orientation-invariant, so the refinement changes no result. Wedge
    * and degree math is one integer aggregation.
    */
  private def e116GraphTransitivity = QueryDef.sql(
    "e116_graph_transitivity",
    s"""${ExtensionQueries.minhashPairsDuck},
       |e AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.3),
       |deg AS (SELECT d, count(*) AS dg FROM (
       |    SELECT doc_a AS d FROM e UNION ALL SELECT doc_b FROM e)
       |  GROUP BY d),
       |stats AS (SELECT count(*) AS n_nodes,
       |    CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |ne AS (SELECT count(*) AS n_edges FROM e),
       |tri AS (SELECT count(*) AS n_triangles
       |  FROM e v1
       |  JOIN e v2 ON v2.doc_a = v1.doc_a AND v2.doc_b > v1.doc_b
       |  JOIN e v3 ON v3.doc_a = v1.doc_b AND v3.doc_b = v2.doc_b)
       |SELECT s.n_nodes, ne.n_edges, s.n_wedges, tri.n_triangles,
       |  CASE WHEN s.n_wedges > 0
       |    THEN 3 * tri.n_triangles * 10000 // s.n_wedges END
       |    AS transitivity_bp
       |FROM stats s CROSS JOIN ne CROSS JOIN tri""".stripMargin) {
    (s, dir) =>
      val e = ExtensionQueries.minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.3)
        .select(col("doc_a"), col("doc_b"))
        // Two wedge-join consumers + the closing-edge probe: one
        // doc_a-keyed exchange serves v1/v2, and the degree census
        // reuses the union branches' scans.
        .repartition(col("doc_a"))
      val deg = e.select(col("doc_a").as("d"))
        .unionByName(e.select(col("doc_b").as("d")))
        .groupBy("d").agg(count(lit(1)).as("dg"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("dg * (dg - 1) div 2")).cast("long").as("n_wedges"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      val tri = e.as("v1")
        .join(e.as("v2"),
          col("v2.doc_a") === col("v1.doc_a") &&
            col("v2.doc_b") > col("v1.doc_b"))
        .join(e.as("v3"),
          col("v3.doc_a") === col("v1.doc_b") &&
            col("v3.doc_b") === col("v2.doc_b"))
        .agg(count(lit(1)).as("n_triangles"))
      stats.crossJoin(ne).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          when(col("n_wedges") > 0,
            expr("3 * n_triangles * 10000 div n_wedges"))
            .as("transitivity_bp"))
  }
  // ---- e117: split-conformal selection threshold --------------------------

  /** Split-conformal quality threshold (Vovk et al.; Angelopoulos/Bates
    * survey): hash-split the corpus into a ~20 % calibration set and
    * the serving rest, take τ = the ⌈α(n+1)⌉-th SMALLEST calibration
    * score, and keep serving documents scoring ≥ τ. Exchangeability
    * alone then guarantees P(reject an in-distribution document) ≤ α —
    * a FINITE-SAMPLE, assumption-free bound, which is what a filter
    * threshold derived from a fixed quantile of the data itself (e62's
    * percentile rule) does not give. α = 10 % here; the output carries
    * the realized calibration keep-share (≥ 1 − α by construction —
    * the self-check) next to the serving keep-share.
    *
    * Everything is integer: scores are e105's basis-point quality
    * signals, the split is an LCG hash of doc_id, and the order
    * statistic comes from a cumulative rank over the score FREQUENCY
    * table (≤ 10001 rows by the bp codomain — the e76 pattern), never
    * a corpus-wide sort.
    *
    * Scale (100 TB): one score projection, one score-frequency
    * aggregation per split, the cumulative window over the bounded
    * frequency table, and two count aggregates — the corpus is scanned
    * once and never sorted; τ broadcasts as a one-row frame.
    */
  private def e117ConformalSelect = {
    val P = Portable.P
    val A = 1103515245L
    val B = 12345L
    QueryDef.pinned(
      "e117_conformal_select",
      s"""WITH sig AS (SELECT doc_id, len(w) AS n_words,
         |    len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
         |  FROM (SELECT doc_id, ${Portable.wordsDuck} AS w FROM documents)),
         |q0 AS (SELECT doc_id,
         |    $qualityBpDuck AS bp,
         |    (($A * (doc_id % $P) + $B) % $P) % 5 = 0 AS is_cal
         |  FROM sig WHERE n_words > 0),
         |cal AS (SELECT bp FROM q0 WHERE is_cal),
         |nc AS (SELECT count(*) AS n_calib FROM cal),
         |jr AS (SELECT n_calib, (n_calib + 10) // 10 AS j FROM nc),
         |freq AS (SELECT bp, count(*) AS c FROM cal GROUP BY bp),
         |cum AS (SELECT bp, sum(c) OVER (ORDER BY bp) AS cum FROM freq),
         |tau AS (SELECT min(cum.bp) AS tau_bp FROM cum, jr
         |  WHERE cum.cum >= jr.j),
         |test AS (SELECT bp FROM q0 WHERE NOT is_cal),
         |tn AS (SELECT count(*) AS n_test,
         |    CAST(sum(CASE WHEN test.bp >= tau.tau_bp THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_kept
         |  FROM test CROSS JOIN tau),
         |ck AS (SELECT CAST(sum(CASE WHEN cal.bp >= tau.tau_bp
         |      THEN 1 ELSE 0 END) AS BIGINT) AS cal_kept
         |  FROM cal CROSS JOIN tau)
         |SELECT jr.n_calib, jr.j AS j_rank, tau.tau_bp, tn.n_test,
         |  tn.n_kept, tn.n_kept * 10000 // tn.n_test AS keep_share_bp,
         |  ck.cal_kept * 10000 // jr.n_calib AS calib_keep_bp
         |FROM jr CROSS JOIN tau CROSS JOIN tn CROSS JOIN ck""".stripMargin) {
      (p, s, dir) =>
        val words = expr(Portable.wordsSpark)
        val q0 = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(words).cast("long").as("n_words"),
            size(filter(words, x => x.isin("the", "a"))).cast("long")
              .as("n_stop"))
          .filter(col("n_words") > 0)
          .select(col("doc_id"),
            expr(qualityBpSpark).as("bp"),
            ((lit(A) * (col("doc_id") % P) + B) % P % 5 === 0).as("is_cal"))
        val cal = q0.filter(col("is_cal")).select("bp")
        val jr = cal.agg(count(lit(1)).as("n_calib"))
          .select(col("n_calib"),
            expr("(n_calib + 10) div 10").as("j"))
        // bp ∈ [0, 10000] → ≤ 157 buckets of 64 bp: a partitioned
        // two-level prefix, not an unpartitioned cumulative window (a
        // single-task sort). Both prefix branches
        // read the frequency table, so it is checkpointed once
        val freq = p.checkpoint(cal.groupBy("bp").agg(count(lit(1)).as("c")))
        val cum = BoundedPrefix.cumsum(
          freq, "bp", expr("bp div 64"), Seq("c" -> "cum"))
        val tau = cum.crossJoin(jr)
          .filter(col("cum") >= col("j"))
          .agg(min(col("bp")).as("tau_bp"))
        val test = q0.filter(!col("is_cal")).select("bp")
        val tn = test.crossJoin(tau)
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("bp") >= col("tau_bp"), 1L).otherwise(0L))
              .as("n_kept"))
        val ck = cal.crossJoin(tau)
          .agg(sum(when(col("bp") >= col("tau_bp"), 1L).otherwise(0L))
            .as("cal_kept"))
        jr.crossJoin(tau).crossJoin(tn)
          .crossJoin(ck)
          .select(col("n_calib"), col("j").as("j_rank"), col("tau_bp"),
            col("n_test"), col("n_kept"),
            expr("n_kept * 10000 div n_test").as("keep_share_bp"),
            expr("cal_kept * 10000 div n_calib").as("calib_keep_bp"))
    }
  }
  // ---- e118: kNN label-noise audit ----------------------------------------

  /** Label-quality screen over the embedding table (the
    * confident-learning-style neighborhood check): for an eval sample
    * (vec_id % 41 = 3), take the 5 nearest neighbors by cosine, vote
    * their labels (majority, ties by count-then-smaller-label), and
    * report per-class how often the vote AGREES with the stored label.
    * Classes whose agreement sits far below the others carry label
    * noise or live off the embedding manifold — the screen a pipeline
    * runs before trusting labels for classifier training (e90) or
    * stratified sampling. On THIS corpus the embeddings are unclustered
    * noise, so agreement correctly reads ≈ chance (10 class-balanced
    * labels → ~1000 bp) — the audit reporting that labels are
    * unlearnable from these features is the audit working.
    *
    * Scale (100 TB): eval sample broadcast against one corpus scan
    * (e5's guard applies), CONSTANT-bound top-k window (map-side
    * WindowGroupLimit), label join on the nq×5 winners only, one
    * argmax-vote aggregation and a #classes rollup. Rounded-then-rank
    * cosine (e5's rule) keeps neighbor sets engine-identical.
    */
  private def e118KnnLabelAudit = QueryDef.sql(
    "e118_knn_label_audit",
    s"""WITH ev AS (SELECT vec_id, embedding, label FROM embeddings
       |  WHERE vec_id % 41 = 3),
       |scored AS (SELECT e.vec_id AS eval_id, e.label AS true_label,
       |    c.vec_id AS neighbor_id, c.label AS nb_label,
       |    round(${dotPair("e", "c")} /
       |      (${normOf("e")} * ${normOf("c")}), 4) + 0 AS cosine
       |  FROM ev e JOIN embeddings c ON e.vec_id <> c.vec_id),
       |top5 AS (SELECT eval_id, true_label, nb_label,
       |    row_number() OVER (PARTITION BY eval_id
       |      ORDER BY cosine DESC, neighbor_id) AS rk
       |  FROM scored QUALIFY rk <= 5),
       |votes AS (SELECT eval_id, true_label, nb_label, count(*) AS c
       |  FROM top5 GROUP BY 1, 2, 3),
       |best AS (SELECT eval_id, max(c) AS mc FROM votes GROUP BY eval_id),
       |pred AS (SELECT v.eval_id, v.true_label,
       |    min(v.nb_label) AS pred_label
       |  FROM votes v JOIN best b ON b.eval_id = v.eval_id
       |    AND v.c = b.mc
       |  GROUP BY 1, 2)
       |SELECT true_label AS label, count(*) AS n_eval,
       |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
       |    * 10000 // count(*) AS BIGINT) AS agree_bp
       |FROM pred GROUP BY true_label ORDER BY label""".stripMargin) {
    (s, dir) =>
      val embD = col("embedding").cast("array<double>")
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), embD.as("emb"), col("label"))
        .filter(col("vec_id").isNotNull)
        .withColumn("nrm", sqrt(F.array_dot(col("emb"), col("emb"))))
      val ev = base.filter(col("vec_id") % 41 === 3)
        .select(col("vec_id").as("eval_id"), col("emb").as("ae"),
          col("nrm").as("an"), col("label").as("true_label"))
      val cosine = round(
        F.array_dot(col("ae"), col("emb")) / (col("an") * col("nrm")),
        4) + 0
      val wOrd = Window.partitionBy(col("eval_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val top5 = base.join(broadcast(ev), col("vec_id") =!= col("eval_id"))
        .select(col("eval_id"), col("true_label"),
          col("vec_id").as("neighbor_id"), col("label").as("nb_label"),
          cosine.as("cosine"))
        .withColumn("rk", row_number().over(wOrd))
        .filter(col("rk") <= 5)
      // Majority vote as ONE conditional aggregation chain: count per
      // (eval, nb_label), then max(count, -label) struct-argmax — the
      // e17 idiom (the oracle keeps max-then-filter; exact integer ties
      // make the two agree).
      val votes = top5.groupBy("eval_id", "true_label", "nb_label")
        .agg(count(lit(1)).as("c"))
      val pred = votes.groupBy("eval_id", "true_label")
        .agg(max(struct(col("c"), (-col("nb_label")).as("nl"))).as("m"))
        .select(col("eval_id"), col("true_label"),
          (-col("m.nl")).as("pred_label"))
      pred.groupBy(col("true_label").as("label"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("n_agree"))
        .select(col("label"), col("n_eval"), col("n_agree"),
          expr("n_agree * 10000 div n_eval").as("agree_bp"))
        .orderBy(col("label"))
  }
  // ---- shared quality-signal / dup-label basis (e119/e121/e130/e131) ------

  /** The heuristic quality signal in basis points (stopword share +
    * capped length credit) — ONE definition per dialect, consumed by
    * e119/e121/e130/e131 so the signal can never drift between the
    * audits that all claim to measure "the same basis". Binds `n_stop`
    * and `n_words` columns.
    */
  // defs, NOT vals: `all` is evaluated during object construction and
  // the query builders interpolate these — a val declared below `all`
  // would still be null at that point and interpolate as the SQL
  // literal `null` (observed: every consumer's oracle silently
  // degenerated; sf0.01 masked it because that corpus has no exact
  // dups). `all` is additionally lazy so the whole class of
  // init-order hazards is gone, but defs keep these safe regardless.
  private def qualityBpDuck =
    "least(10000, n_stop * 30000 // n_words + least(4000, n_words * 8))"
  private def qualityBpSpark =
    "least(10000L, n_stop * 30000 div n_words + least(4000L, n_words * 8))"

  /** `sig` + `dup` CTEs: per-doc content digest, word/stopword counts,
    * and per-digest copy count — e1's dup label riding the digest
    * shuffle (text never moves past the first projection). The digest
    * functions differ per dialect (md5 vs sha2) deliberately: only
    * group MEMBERSHIP is consumed, never the digest value.
    */
  private def dupSigDuck: String =
    s"""sig AS (SELECT doc_id, source, md5(text) AS dg,
       |    len(w) AS n_words,
       |    len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
       |  FROM (SELECT doc_id, source, text, ${Portable.wordsDuck} AS w
       |        FROM documents)),
       |dup AS (SELECT dg, count(*) AS n_copies FROM sig GROUP BY dg)"""
      .stripMargin

  /** Spark twin of [[dupSigDuck]]: one row per document with
    * (doc_id, source, n_words, n_stop, n_copies). */
  private def dupSig(s: SparkSession, dir: String): DataFrame = {
    val words = expr(Portable.wordsSpark)
    val sig = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        sha2(col("text"), 256).as("dg"),
        size(words).cast("long").as("n_words"),
        size(filter(words, x => x.isin("the", "a"))).cast("long")
          .as("n_stop"))
    val dup = sig.groupBy("dg").agg(count(lit(1)).as("n_copies"))
    sig.join(dup, Seq("dg"))
  }

  /** The (source × quality-bp) dup/unique frequency table over
    * n_words > 0 documents — the bounded (≤ 10001 rows/source) grid
    * every rank-based audit (e119 AUC, e131 Youden) windows over
    * instead of sorting the corpus.
    */
  private def dupFreqDuck: String =
    s"""$dupSigDuck,
       |q0 AS (SELECT s.source, $qualityBpDuck AS bp,
       |    d.n_copies >= 2 AS is_dup
       |  FROM sig s JOIN dup d USING (dg) WHERE n_words > 0),
       |freq AS (SELECT source, bp,
       |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos_c,
       |    CAST(sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT)
       |      AS neg_c
       |  FROM q0 GROUP BY 1, 2)""".stripMargin

  /** Spark twin of [[dupFreqDuck]]: (source, bp, pos_c, neg_c). */
  private def dupFreq(s: SparkSession, dir: String): DataFrame =
    dupSig(s, dir)
      .filter(col("n_words") > 0)
      .select(col("source"), expr(qualityBpSpark).as("bp"),
        (col("n_copies") >= 2).as("is_dup"))
      .groupBy("source", "bp")
      .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("pos_c"),
        sum(when(col("is_dup"), 0L).otherwise(1L)).as("neg_c"))

  // ---- e119: ROC-AUC separability screen ----------------------------------

  /** Exact ROC-AUC (Mann–Whitney U) of the heuristic quality signal
    * (e117's stopword/length basis points) as a RANKER of exact-dup
    * membership, per source. AUC is THE threshold-free audit for any
    * score a pipeline wants to use as a filter or dedup prior: e96
    * compares rejection SETS at fixed cutoffs and e62 calibrates the
    * score's scale, but neither answers "does this signal order dup
    * docs apart from unique ones AT ALL" — AUC ≈ 5000 bp says the
    * signal carries no ranking information for that source and a
    * threshold on it is noise. (Measured at sf0.1 the per-source AUCs
    * range 3855–9116 bp on 2–6 dups per source — exactly the
    * small-n_pos regime where a point AUC swings wide, which is why
    * the n_dup/n_uniq counts ride along: an AUC without its support is
    * unreadable.)
    *
    * All arithmetic is integer and tie-exact: from the per-(source,
    * score) frequency table, U·2 = Σ_s pos(s)·(2·neg_below(s) +
    * neg(s)) — the average-rank tie convention without ever forming
    * ranks — and auc_bp = U2·10000 // (2·n_pos·n_neg). Positives are
    * content-digest groups with ≥ 2 copies (e1's label), so the
    * ground truth is engine-identical even though the digest functions
    * differ (md5 vs sha2 — only group MEMBERSHIP is consumed).
    *
    * Scale (100 TB): one digest-keyed aggregation + join-back (e1's
    * shuffle shape — the text never moves past the first projection),
    * one (source × bp) aggregation, a cumulative window over the
    * bounded per-source frequency table (≤ 10001 rows/source, the e76
    * pattern — never a corpus sort), and a #sources rollup. U2 peaks
    * at n_pos·n_neg·2 ≈ 10^22 at a 10^11-row corpus — past BIGINT, so
    * the fleet-scale lever is the documented DECIMAL(38,0) accumulator
    * swap (ANSI mode fails loud, never wraps).
    */
  private def e119AucScreen = QueryDef.sql(
    "e119_auc_screen",
    s"""WITH $dupFreqDuck,
       |cum AS (SELECT source, pos_c, neg_c,
       |    sum(neg_c) OVER (PARTITION BY source ORDER BY bp) - neg_c
       |      AS neg_below
       |  FROM freq)
       |SELECT source, CAST(sum(pos_c) AS BIGINT) AS n_dup,
       |  CAST(sum(neg_c) AS BIGINT) AS n_uniq,
       |  CAST(sum(pos_c * (2 * neg_below + neg_c)) AS BIGINT) AS u2,
       |  CASE WHEN sum(pos_c) > 0 AND sum(neg_c) > 0 THEN
       |    CAST(sum(pos_c * (2 * neg_below + neg_c)) * 10000 //
       |      (2 * sum(pos_c) * sum(neg_c)) AS BIGINT) END AS auc_bp
       |FROM cum GROUP BY source ORDER BY source""".stripMargin) {
    (s, dir) =>
      val cum = dupFreq(s, dir).withColumn("neg_below",
        sum(col("neg_c")).over(
          Window.partitionBy(col("source")).orderBy(col("bp")))
          - col("neg_c"))
      cum.groupBy("source")
        .agg(sum(col("pos_c")).as("n_dup"),
          sum(col("neg_c")).as("n_uniq"),
          sum(col("pos_c") * (col("neg_below") * 2 + col("neg_c")))
            .as("u2"))
        .select(col("source"), col("n_dup"), col("n_uniq"), col("u2"),
          when(col("n_dup") > 0 && col("n_uniq") > 0,
            expr("u2 * 10000 div (2 * n_dup * n_uniq)")).as("auc_bp"))
        .orderBy(col("source"))
  }

  // ---- e120: dup-graph PageRank centrality --------------------------------

  /** Top-20 documents by fixed-5-round integer PageRank over the
    * MinHash-verified near-dup graph (J ≥ 0.3, e116's edges) — the
    * centrality-based CANONICAL pick for dedup. Min-id survivor
    * selection (e45) keeps an arbitrary cluster member and quality
    * argmax (e65) the best-written one; rank selects the document the
    * duplication structure itself points AT — in template/quotation
    * chains, the original every derivative is a near-copy of. The same
    * ranking doubles as the crawl-prioritization signal: rank mass
    * concentrates exactly where re-crawling is redundant.
    *
    * The recurrence ([[graft.operators.PageRank]]) is all-integer
    * (ppm-scaled, d = 85/100 with per-edge floor division), so five
    * unrolled join-aggregate CTEs in the oracle reproduce it
    * bit-identically — no float drift, no convergence-epsilon
    * ambiguity. The top-20 cut orders by (rank desc, doc_id), so the
    * boundary is deterministic under ties.
    *
    * Scale (100 TB): edges are banding-bounded (e3's machinery); rank
    * state is one row per edge-incident node. Each round = 2 keyed
    * shuffles of that bounded table against the once-partitioned cached
    * adjacency; rounds are lineage-cut per the ConnectedComponents
    * discipline. The global top-20 is a TakeOrdered, never a full sort.
    */
  private def e120Pagerank = {
    val prIters = (1 to 5).map { k =>
      s"""c$k AS (SELECT se.dst AS dst,
         |    CAST(sum(r${k - 1}.r * 85 // (100 * dg.dg)) AS BIGINT)
         |      AS cin
         |  FROM se JOIN r${k - 1} ON r${k - 1}.doc = se.src
         |  JOIN dg ON dg.src = se.src GROUP BY se.dst),
         |r$k AS (SELECT n.doc,
         |    CAST(150000 + coalesce(c$k.cin, 0) AS BIGINT) AS r
         |  FROM n LEFT JOIN c$k ON c$k.dst = n.doc)""".stripMargin
    }.mkString(",\n")
    QueryDef.pinned(
      "e120_pagerank",
      s"""${ExtensionQueries.minhashPairsDuck},
         |e AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.3),
         |se AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM e
         |       UNION ALL SELECT doc_b, doc_a FROM e),
         |dg AS MATERIALIZED (SELECT src, count(*) AS dg FROM se
         |  GROUP BY src),
         |n AS MATERIALIZED (SELECT src AS doc FROM dg),
         |r0 AS (SELECT doc, CAST(1000000 AS BIGINT) AS r FROM n),
         |$prIters
         |SELECT r5.doc AS doc_id, dg.dg AS degree, r5.r AS rank_ppm
         |FROM r5 JOIN dg ON dg.src = r5.doc
         |ORDER BY rank_ppm DESC, doc_id LIMIT 20""".stripMargin) {
      (p, s, dir) =>
        val e = ExtensionQueries.minhashVerifiedPairs(s, dir)
          .filter(col("jaccard") >= 0.3)
        p.own(PageRank.ranks(e, "doc_a", "doc_b", iterations = 5))
          .select(col("node").as("doc_id"), col("degree"),
            col("rank").as("rank_ppm"))
          .orderBy(col("rank_ppm").desc, col("doc_id"))
          .limit(20)
    }
  }

  // ---- e121: Pareto-frontier (skyline) selection --------------------------

  /** Per-source Pareto frontier on (quality_bp, token count): the
    * documents no other same-source document dominates on BOTH axes —
    * multi-objective curation where e117 is single-objective. A
    * threshold on one score always trades the axes at one fixed rate;
    * the frontier exposes the whole undominated trade-off curve (keep
    * long-but-plain AND short-but-clean exemplars), which is the right
    * selection set for instruction-tuning style "pick diverse bests".
    *
    * Skyline via BOUNDED tables, never a corpus sort: quality lives on
    * the 0–10000 bp grid, so (source, bp, n_words) aggregation collapses
    * the corpus first; per (source, bp) only the max-y row can be
    * undominated (grid argmax, ≤ 10001 rows/source); a point survives
    * iff its y strictly exceeds max(y) over all strictly-higher bp —
    * one RANGE window (1 FOLLOWING → UNBOUNDED) over the bounded grid.
    * Ties: equal points never dominate each other, so co-located docs
    * survive together and surface as n_docs.
    *
    * Scale (100 TB): one corpus scan → grid aggregation (map-side
    * partial on the ≤ 10001-value key), then windows ride the bounded
    * grid. This IS the distributive-skyline scheme (local frontier →
    * merge) with the grid as the partition: adding criteria = widening
    * the grid key; the frontier join-back to fetch full documents is a
    * semi-join on (source, bp, n_words).
    */
  private def e121ParetoFrontier = QueryDef.sql(
    "e121_pareto_frontier",
    s"""WITH sig AS (SELECT source, len(w) AS n_words,
       |    len(list_filter(w, x -> x IN ('the', 'a'))) AS n_stop
       |  FROM (SELECT source, ${Portable.wordsDuck} AS w
       |        FROM documents)),
       |q0 AS (SELECT source,
       |    $qualityBpDuck AS bp,
       |    CAST(n_words AS BIGINT) AS n_words
       |  FROM sig WHERE n_words > 0),
       |t1 AS (SELECT source, bp, n_words, count(*) AS n_docs
       |  FROM q0 GROUP BY 1, 2, 3),
       |t2 AS (SELECT *, max(n_words) OVER (PARTITION BY source, bp)
       |    AS ymax FROM t1),
       |t2f AS (SELECT source, bp, n_words, n_docs FROM t2
       |  WHERE n_words = ymax),
       |t3 AS (SELECT *, max(n_words) OVER (PARTITION BY source
       |    ORDER BY bp RANGE BETWEEN 1 FOLLOWING
       |    AND UNBOUNDED FOLLOWING) AS ahead FROM t2f)
       |SELECT source, bp AS quality_bp, n_words AS n_tokens,
       |  CAST(n_docs AS BIGINT) AS n_docs
       |FROM t3 WHERE ahead IS NULL OR n_words > ahead
       |ORDER BY source, quality_bp""".stripMargin) {
    (s, dir) =>
      val words = expr(Portable.wordsSpark)
      val sig = Tables.documents(s, dir)
        .select(col("source"),
          size(words).cast("long").as("n_words"),
          size(filter(words, x => x.isin("the", "a"))).cast("long")
            .as("n_stop"))
        .filter(col("n_words") > 0)
        .select(col("source"),
          expr(qualityBpSpark).as("bp"),
          col("n_words"))
      val t1 = sig.groupBy("source", "bp", "n_words")
        .agg(count(lit(1)).as("n_docs"))
      val t2 = t1.withColumn("ymax",
          max(col("n_words")).over(
            Window.partitionBy(col("source"), col("bp"))))
        .filter(col("n_words") === col("ymax"))
        .drop("ymax")
      val ahead = Window.partitionBy(col("source")).orderBy(col("bp"))
        .rangeBetween(1L, Window.unboundedFollowing)
      t2.withColumn("ahead", max(col("n_words")).over(ahead))
        .filter(col("ahead").isNull || col("n_words") > col("ahead"))
        .select(col("source"), col("bp").as("quality_bp"),
          col("n_words").as("n_tokens"), col("n_docs"))
        .orderBy(col("source"), col("quality_bp"))
  }

  // ---- e122: greedy max-coverage exemplar selection -----------------------

  /** Pick 5 exemplar documents by greedy maximum coverage over distinct
    * 3-gram shingles: each round selects the document covering the most
    * not-yet-covered shingles (ties → min doc_id) — the facility-
    * location/max-coverage greedy whose (1 − 1/e) guarantee (Nemhauser
    * et al. 1978) underwrites coverage-based subset selection for
    * instruction-tuning and eval-set construction. The frontier queries
    * rank documents INDEPENDENTLY (e117 by score, e121 by dominance);
    * greedy coverage is the submodular complement — each pick is scored
    * against what the previous picks already cover, so five boilerplate
    * near-copies can never all be selected no matter how well each
    * scores alone.
    *
    * Output: (round, doc_id, gain, cum_cov, cov_bp) — gain is the
    * marginal new-shingle count (non-increasing in round, the
    * submodularity signature the spec pins), cov_bp the cumulative
    * share of the shingle universe in basis points.
    *
    * Scale (100 TB): each round = one map-side-combinable count over
    * the remaining postings + one BROADCAST anti-join (the covered set
    * grows by one document's shingles per round, never corpus-sized
    * here; the general form keys the anti-join on h). The winner argmax
    * collects exactly one row per round (the KMeans driver-bound
    * convention) and rounds are lineage-cut. Next-100× levers are the
    * standard submodular-scaling pair: CELF lazy evaluation (stale
    * upper bounds skip most per-round recounts) and stochastic-greedy
    * sampling (1 − 1/e − ε with an O(n log 1/ε) total-work bound).
    */
  private def e122CoverageSelect = {
    val k = 5
    val rounds = (1 to k).map { r =>
      s"""g$r AS (SELECT doc_id, count(*) AS gain FROM p${r - 1}
         |  GROUP BY doc_id),
         |w$r AS (SELECT doc_id, gain FROM g$r
         |  ORDER BY gain DESC, doc_id LIMIT 1),
         |c$r AS (SELECT DISTINCT p.h FROM p${r - 1} p
         |  JOIN w$r USING (doc_id)),
         |p$r AS (SELECT p.doc_id, p.h FROM p${r - 1} p
         |  ANTI JOIN c$r ON p.h = c$r.h)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to k).map(r =>
      s"SELECT $r AS round, doc_id, gain FROM w$r").mkString(
      "\nUNION ALL ")
    QueryDef.sql(
      "e122_coverage_select",
      s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT doc_id, ${Portable.shinglesDuck} AS shs FROM w),
         |p0 AS (SELECT doc_id, unnest(shs) AS h FROM sh
         |  WHERE len(shs) > 0),
         |u AS (SELECT count(DISTINCT h) AS n_universe FROM p0),
         |$rounds,
         |sel AS ($sel)
         |SELECT round, doc_id, gain,
         |  CAST(sum(gain) OVER (ORDER BY round) AS BIGINT) AS cum_cov,
         |  CAST(sum(gain) OVER (ORDER BY round) * 10000
         |    // u.n_universe AS BIGINT) AS cov_bp
         |FROM sel CROSS JOIN u ORDER BY round""".stripMargin) {
      (s, dir) =>
        val (universe, picks) = Pins.scope { p =>
          val post = p.checkpoint(Tables.documents(s, dir)
            .select(col("doc_id"), F.shingle_hashes(col("text")).as("shs"))
            .filter(size(col("shs")) > 0)
            .select(col("doc_id"), explode(col("shs")).as("h")))
          val universe = post.select(col("h")).distinct().count()
          // Incremental-gain greedy (operators.CoverageGreedy):
          // identical picks to the plain recount form
          // (CoverageGreedySpec pins this), but the per-round postings
          // recount + corpus-scale remainder rebuild are replaced by
          // one broadcast decrement join against the newly covered
          // delta — the CELF lever, batch-exact.
          (universe, graft.operators.CoverageGreedy.incremental(post, k))
        }
        val rows = picks.scanLeft((0, 0L, 0L, 0L)) {
          case ((_, _, _, cum), (r, doc, gain)) =>
            (r, doc, gain, cum + gain)
        }.tail.map { case (r, doc, gain, cum) =>
          (r, doc, gain, cum, cum * 10000L / universe)
        }
        import s.implicits._
        rows.toDF("round", "doc_id", "gain", "cum_cov", "cov_bp")
          .select(col("round"), col("doc_id"),
            col("gain"), col("cum_cov"), col("cov_bp"))
          .orderBy(col("round"))
    }
  }

  // ---- e123: Neyman optimal sample allocation -----------------------------

  /** Survey-design artifact: how to split a 1000-document audit budget
    * across sources. Proportional allocation samples each source by
    * volume; Neyman allocation (the variance-minimizing optimum for
    * stratified estimation of a mean) samples ∝ N_h·σ_h — a source
    * whose document lengths barely vary needs few probes however big it
    * is, and a heterogeneous source needs more than its share. The
    * query emits both (share_bp vs prop_bp); their gap per source is
    * the measured payoff of designing the audit instead of sampling
    * uniformly.
    *
    * Bit-exact across engines WITHOUT floats: N_h²σ_h² = N_h·ΣX² −
    * (ΣX)² is an exact integer, so the allocation weight is its INTEGER
    * square root ([[graft.functions.F.isqrt]]: floor(IEEE sqrt) plus
    * one guarded ±1 correction), so w_h = ⌊√x⌋ exactly in both
    * engines. The budget is hit EXACTLY by largest-remainder rounding
    * (floor shares + distribute the deficit by remainder rank, ties by
    * source) — the Hamilton apportionment step, windowed over the
    * per-source table. A corpus where EVERY source has zero variance
    * (Σw = 0 — fixed-width record feeds) degrades to proportional
    * allocation instead of dividing by zero: Neyman with equal σ IS
    * proportional, so the fallback is the statistical limit, not just
    * a guard.
    *
    * Scale (100 TB): one corpus scan → per-source moment sums
    * (map-side combinable, the e108 kernel); everything after rides the
    * #sources-row table, including the two unpartitioned windows
    * (construction-bounded — PlanLintSpec carries the named allowance).
    * Moment sums past ~10¹⁸ chars² per source take the documented
    * DECIMAL(38,0) swap; sub-stratifying (source × lang) just widens
    * the grouping key.
    */
  private def e123NeymanAlloc = QueryDef.pinned(
    "e123_neyman_alloc",
    s"""WITH m AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS s1,
       |    CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS s2
       |  FROM documents GROUP BY source),
       |w0 AS (SELECT source, n_docs, n_docs * s2 - s1 * s1 AS x FROM m),
       |sq AS (SELECT *,
       |    CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s0
       |  FROM w0),
       |iw AS (SELECT source, n_docs,
       |    s0 + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= x
       |           THEN 1 ELSE 0 END
       |       - CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END AS w
       |  FROM sq),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
       |    CAST(sum(n_docs) AS BIGINT) AS tn FROM iw),
       |base0 AS (SELECT source, n_docs, w, t.tn AS tn,
       |    CASE WHEN t.tw > 0 THEN w ELSE n_docs END AS ew,
       |    CASE WHEN t.tw > 0 THEN t.tw ELSE t.tn END AS ed
       |  FROM iw CROSS JOIN t),
       |base AS (SELECT source, n_docs, w,
       |    ew * 1000 // ed AS fl, (ew * 1000) % ed AS rem,
       |    ew * 10000 // ed AS share_bp,
       |    n_docs * 10000 // tn AS prop_bp
       |  FROM base0),
       |rk AS (SELECT *,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rn,
       |    CAST(1000 - sum(fl) OVER () AS BIGINT) AS deficit
       |  FROM base)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  w AS sigma_n_scaled,
       |  CAST(fl + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc,
       |  CAST(share_bp AS BIGINT) AS share_bp,
       |  CAST(prop_bp AS BIGINT) AS prop_bp
       |FROM rk ORDER BY source""".stripMargin) {
    (p, s, dir) =>
      // #sources-row aggregate, materialized ONCE: base feeds the
      // floor-sum, the rank pairing, and the output — uncheckpointed,
      // each consumer re-ran the corpus aggregation.
      val m = p.checkpoint(Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("s1"),
          sum(col("n_chars").cast("long") * col("n_chars")).as("s2")))
      val w0 = m.select(col("source"), col("n_docs"),
        (col("n_docs") * col("s2") - col("s1") * col("s1")).as("x"))
      val iw = w0.select(col("source"), col("n_docs"),
        F.isqrt(col("x")).as("w"))
      val t = iw.agg(sum(col("w")).as("tw"), sum(col("n_docs")).as("tn"))
      // Degenerate corpus guard: if EVERY source has zero length
      // variance (Σw = 0 — fixed-width record feeds), Neyman is
      // undefined; fall back to proportional weights rather than
      // dividing by zero into an all-NULL allocation.
      val base = iw.crossJoin(t)
        .withColumn("ew", when(col("tw") > 0, col("w"))
          .otherwise(col("n_docs")))
        .withColumn("ed", when(col("tw") > 0, col("tw"))
          .otherwise(col("tn")))
        .select(col("source"), col("n_docs"), col("w"),
          expr("ew * 1000 div ed").as("fl"),
          expr("(ew * 1000) % ed").as("rem"),
          expr("ew * 10000 div ed").as("share_bp"),
          expr("n_docs * 10000 div tn").as("prop_bp"))
      // Largest-remainder rank WITHOUT the unpartitioned row_number
      // window: rn = 1 + |rows sorting strictly earlier by
      // (rem DESC, source ASC)| — exact for the duplicate-free source
      // key, and the pairing rides the #sources-row frame (bounded by
      // the source fan, never the corpus). The floor-sum deficit stays
      // a one-row broadcast.
      val fls = base.agg(sum(col("fl")).as("sfl"))
      val rnf = base.select("source", "rem").as("a")
        .join(broadcast(base.select("source", "rem").as("b")),
          col("b.rem") > col("a.rem") ||
            (col("b.rem") === col("a.rem") &&
              col("b.source") < col("a.source")),
          "left")
        .groupBy(col("a.source").as("source"))
        .agg((count(col("b.source")) + lit(1L)).as("rn"))
      val rk = base
        .join(broadcast(rnf), "source")
        .crossJoin(fls)
        .withColumn("deficit", lit(1000L) - col("sfl"))
      rk.select(col("source"), col("n_docs"),
          col("w").as("sigma_n_scaled"),
          (col("fl") + when(col("rn") <= col("deficit"), 1L)
            .otherwise(0L)).as("alloc"),
          col("share_bp"), col("prop_bp"))
        .orderBy(col("source"))
  }

  // ---- e124: Benford first-digit audit ------------------------------------

  /** First-significant-digit census of order totals against Benford's
    * law — the classic screen for fabricated or systematically
    * truncated numeric feeds (Nigrini's forensic-audit standard): a
    * genuine multiplicative amount column tracks P(d) = log₁₀(1+1/d),
    * while invented numbers, copy-paste rows, or a capped/clamped
    * upstream show up as per-digit deviations long before any
    * distributional test on the full values. For a training-data
    * engine this is the numeric-column twin of e85's character-skew
    * gibberish gate: a cheap one-scan prior over any ingested metric
    * column, reported per digit so the FIX is visible too (e.g. digit-9
    * excess = upstream rounding-up).
    *
    * All-integer and float-free: the first digit falls out of a
    * cascaded integer-divide CASE on ⌊amount⌋ (no log₁₀ at query time —
    * libm rounding never enters), and the Benford expectations are the
    * EXACT ppm constants 301030 … 45757 (they sum to 1 000 000), so
    * obs/exp/deviation are all integer ppm. On THIS corpus the
    * generator's totals are range-uniform, not multiplicative, so the
    * audit correctly reports large deviations (digit 1–4 plateau from
    * the uniform range) — the e118 convention: the screen's job is to
    * read the data honestly, and synthetic uniform amounts are exactly
    * what a Benford screen should flag.
    *
    * Scale (100 TB): one scan → 9-group map-side-combinable count; the
    * total is a 1-row broadcast (e22's pattern). Per-segment audits
    * (digit × month × source) just widen the grouping key; the
    * expectation column is constant math at any scale.
    */
  private def e124Benford = {
    val expPpm = "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091" +
      " WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181" +
      " WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153" +
      " ELSE 45757 END"
    // Cascade to 10^18: the screen is advertised for ANY ingested
    // metric column, so the extraction must be correct over the full
    // BIGINT range, not just this table's ~10^6 totals.
    val firstDigit = (1 to 18).reverse
      .map(k => s"WHEN v >= ${"1" + "0" * k} THEN v // ${"1" + "0" * k}")
      .mkString("CASE ", " ", " ELSE v END")
    QueryDef.sql(
      "e124_benford",
      s"""WITH d AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
         |  FROM orders WHERE o_totalprice >= 1),
         |fd AS (SELECT $firstDigit AS digit FROM d),
         |c AS (SELECT digit, count(*) AS n_orders FROM fd
         |  GROUP BY digit),
         |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tot FROM c)
         |SELECT digit, CAST(n_orders AS BIGINT) AS n_orders,
         |  n_orders * 1000000 // t.tot AS obs_ppm,
         |  $expPpm AS exp_ppm,
         |  n_orders * 1000000 // t.tot - ($expPpm) AS dev_ppm
         |FROM c CROSS JOIN t ORDER BY digit""".stripMargin) {
      (s, dir) =>
        val c = Tables.orders(s, dir)
          .filter(col("o_totalprice") >= 1)
          .select(floor(col("o_totalprice")).cast("long").as("v"))
          .select(expr(firstDigit.replace("//", "div")).as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_orders"))
        val t = c.agg(sum(col("n_orders")).as("tot"))
        c.crossJoin(t)
          .select(col("digit"), col("n_orders"),
            expr("n_orders * 1000000 div tot").as("obs_ppm"),
            expr(expPpm).as("exp_ppm"),
            expr(s"n_orders * 1000000 div tot - ($expPpm)")
              .as("dev_ppm"))
          .orderBy(col("digit"))
    }
  }

  // ---- e126: diurnal-uniformity bot screen --------------------------------

  /** Per-user hour-of-day activity profile, ranked by closeness to
    * uniform — the behavioral bot screen: human traffic is diurnal
    * (concentrated waking-hours mass), while scripted clients spread
    * events near-evenly over all 24 hours, so the LOWEST-deviation
    * accounts are the ones to audit before their events enter any
    * engagement-weighted pipeline (e36/e82 mixtures, q16 attribution).
    * The statistic is the exact χ²-against-uniform numerator in integer
    * form: Σ_h (24·n_h − N)² over all 24 bins — observed bins directly,
    * the (24−k) empty bins contributing N² each — normalized by 24·N
    * (floor). 0 = perfectly uniform; large = concentrated. Only users
    * with N ≥ 48 (expected ≥ 2/bin) enter, so the χ² approximation
    * regime is respected. On THIS corpus the generator draws timestamps
    * uniformly, so low scores across the board are the expected,
    * correct reading (the e124 convention) — on real traffic the tail
    * of this ranking IS the bot list.
    *
    * Scale (100 TB): one scan → (user, hour) count (map-side
    * combinable, ≤ 24 rows/user), then all math rides the per-user
    * 24-row profile; the bottom-20 is a TakeOrdered. Per-cohort screens
    * (source × user) widen the key; the same shape serves any
    * periodicity check (day-of-week: 24→7).
    */
  private def e126DiurnalBots = QueryDef.sql(
    "e126_diurnal_bots",
    s"""WITH h AS (SELECT user_id, EXTRACT(hour FROM ts) AS hr,
       |    count(*) AS n_h
       |  FROM events GROUP BY 1, 2),
       |u0 AS (SELECT user_id, CAST(sum(n_h) AS BIGINT) AS n,
       |    count(*) AS k
       |  FROM h GROUP BY 1),
       |st AS (SELECT h.user_id,
       |    CAST(sum((24 * h.n_h - u0.n) * (24 * h.n_h - u0.n))
       |      AS BIGINT) AS s_obs,
       |    max(u0.n) AS n, max(u0.k) AS k
       |  FROM h JOIN u0 USING (user_id) GROUP BY h.user_id)
       |SELECT user_id, n AS n_events,
       |  CAST(k AS BIGINT) AS active_hours,
       |  (s_obs + (24 - k) * n * n) // (24 * n) AS chi24
       |FROM st WHERE n >= 48
       |ORDER BY chi24, user_id LIMIT 20""".stripMargin) {
    (s, dir) =>
      val h = Tables.events(s, dir)
        .groupBy(col("user_id"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_h"))
      val u0 = h.groupBy("user_id")
        .agg(sum(col("n_h")).as("n"), count(lit(1)).as("k"))
      val st = h.join(u0, "user_id")
        .groupBy(col("user_id"))
        .agg(sum((col("n_h") * 24 - col("n"))
            * (col("n_h") * 24 - col("n"))).as("s_obs"),
          max(col("n")).as("n"), max(col("k")).as("k"))
      st.filter(col("n") >= 48)
        .select(col("user_id"), col("n").as("n_events"),
          col("k").as("active_hours"),
          expr("(s_obs + (24 - k) * n * n) div (24 * n)").as("chi24"))
        .orderBy(col("chi24"), col("user_id"))
        .limit(20)
  }

  // ---- e127: lexical diversity (Simpson concentration) --------------------

  /** Per-source lexical CONCENTRATION, completing the corpus-health
    * triple: e54 measures vocabulary OPENNESS (Heaps growth), e101 the
    * frequency-decay EXPONENT (Zipf slope), e127 the probability mass
    * concentration — Simpson's Σp² and its inverse, the "effective
    * vocabulary" (how many equally-common words would produce the same
    * repeat-collision rate). A source whose eff_vocab collapses while
    * its raw vocab holds is boilerplate-dominated: new words keep
    * appearing but the MASS sits on a template core, which Heaps and
    * Zipf fits can under-read (the fit window never sees the tail).
    * eff_vocab is also exactly the denominator a sampler cares about:
    * it bounds the distinct-word yield of uniform token draws.
    *
    * Exact integers throughout, no entropy logarithm: Σp² =
    * Σn_w²/N² in ppm via Σn_w²·10⁶ // N², eff_vocab = N² // Σn_w²
    * (floor), repeat_bp = the exact birthday-collision rate
    * Σn_w(n_w−1)·10⁴ // (N(N−1)) — the probability two tokens drawn
    * without replacement are the same word. Shannon entropy would need
    * per-word ln (order-dependent float folds); Simpson is the
    * diversity index that happens to be EXACTLY computable in integer
    * arithmetic, which is why it's the one registered against the
    * oracle.
    *
    * Scale (100 TB): one (source, word) aggregation (map-side
    * combinable) → per-source moment rollup — e75's vocabulary-bounded
    * shape; nothing corpus-sized moves after the first combine. The
    * binding overflow is the `s2 * 10⁶` ppm scaling, which exceeds
    * BIGINT once Σn_w² > ~9.2·10¹² — a single ~3M-occurrence word, hit
    * FAR below 100 TB — so the DECIMAL(38,0) accumulator swap is the
    * first-resort lever here, not a distant ceiling (ANSI mode fails
    * loud at the boundary, never wraps); n·n binds later at ~3·10⁹
    * tokens/source.
    */
  private def e127LexicalDiversity = QueryDef.sql(
    "e127_lexical_diversity",
    s"""WITH wx AS (SELECT source, unnest(${Portable.wordsDuck}) AS w
       |  FROM documents),
       |wc AS (SELECT source, w, count(*) AS n_w FROM wx GROUP BY 1, 2),
       |m AS (SELECT source, CAST(sum(n_w) AS BIGINT) AS n,
       |    count(*) AS vocab,
       |    CAST(sum(n_w * n_w) AS BIGINT) AS s2,
       |    CAST(sum(n_w * (n_w - 1)) AS BIGINT) AS coll
       |  FROM wc GROUP BY 1)
       |SELECT source, n AS n_tokens, CAST(vocab AS BIGINT) AS vocab,
       |  s2 * 1000000 // (n * n) AS simpson_ppm,
       |  n * n // s2 AS eff_vocab,
       |  CASE WHEN n > 1 THEN coll * 10000 // (n * (n - 1)) END
       |    AS repeat_bp
       |FROM m WHERE n > 0 ORDER BY source""".stripMargin) {
    (s, dir) =>
      val wc = Tables.documents(s, dir)
        .select(col("source"),
          explode(expr(Portable.wordsSpark)).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("n_w"))
      wc.groupBy("source")
        .agg(sum(col("n_w")).as("n"),
          count(lit(1)).as("vocab"),
          sum(col("n_w") * col("n_w")).as("s2"),
          sum(col("n_w") * (col("n_w") - 1)).as("coll"))
        .filter(col("n") > 0)
        .select(col("source"), col("n").as("n_tokens"), col("vocab"),
          expr("s2 * 1000000 div (n * n)").as("simpson_ppm"),
          expr("n * n div s2").as("eff_vocab"),
          when(col("n") > 1,
            expr("coll * 10000 div (n * (n - 1))")).as("repeat_bp"))
        .orderBy(col("source"))
  }

  // ---- e129: 3-core of the dup graph --------------------------------------

  /** Iterative k-core peeling (k = 3, 8 fixed rounds) of the
    * MinHash-verified dup graph: repeatedly delete every node with
    * fewer than 3 surviving neighbors, keeping the subgraph where EACH
    * member still has ≥ 3 near-dup partners after all sparser
    * structure is stripped. This is the density CLASSIFIER the
    * cluster-level audits motivate: e116 measures whether the graph is
    * near-clique ON AVERAGE; the 3-core splits it into the dense zone
    * (mutually-corroborated duplicates — safe for automatic
    * keep-one-per-cluster deletion) and the stripped periphery (docs
    * whose dup evidence was one or two chained edges — exactly where
    * e45-style auto-deletion over-fires and per-pair verification
    * should run first). Output: surviving docs with their within-core
    * degree.
    *
    * The round count is FIXED (not converge-tested), the e120
    * contract: an R-round peel is a well-defined object both engines
    * compute identically, and for k = 3 the peel terminates fast on
    * real dup graphs — chains and trees (degree ≤ 2) vanish in round
    * one, so surviving depth comes only from nested dense shells,
    * which near-clique duplicate clusters don't layer beyond a few.
    *
    * Scale (100 TB): edges are banding-bounded; each round is one
    * degree census (map-side combinable) + two semi-joins of the edge
    * list against the ≤node-count keep set, lineage-cut per round
    * (ConnectedComponents discipline). The edge set only ever SHRINKS,
    * so round cost is monotone non-increasing — the opposite profile
    * of e32's fixed re-join. Full coreness (every k) is the same loop
    * peeling minimum-degree classes in order.
    */
  /** Duck-side k=3 peel CTE chain d1/k1/e1 .. e<rounds> over an `e0`
    * edge CTE — ONE text shared by e129 (the real dup graph) and e129b
    * (the constructed fixture), so both oracles run literally the same
    * peel machinery. MATERIALIZED: each round references its
    * predecessor twice (census + edge filter) and its keep-set twice
    * (two semi joins); DuckDB inlines plain CTEs per reference, which
    * would re-evaluate the whole upstream pipeline 2^rounds times
    * (observed as an open-file explosion). Spark's localCheckpoint per
    * round is the same cut.
    */
  private def kcorePeelDuck(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""d$r AS (SELECT u, count(*) AS dg FROM e${r - 1} GROUP BY u),
         |k$r AS MATERIALIZED (SELECT u FROM d$r WHERE dg >= 3),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  SEMI JOIN k$r a ON e.u = a.u
         |  SEMI JOIN k$r b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")

  /** Spark-side fixed-round k=3 peel over a SYMMETRIZED edge frame
    * (u, v): per round one degree census + two semi-joins against the
    * keep set, each round checkpointed and the previous one released
    * (in the dense regime nothing peels, so 8 retained full-size edge
    * checkpoints are a measured executor-storage OOM). Returns the
    * surviving directed edge set.
    */
  private def kcorePeelSpark(p: Pins, e0: DataFrame, rounds: Int)
      : DataFrame = {
    var e = p.checkpoint(e0)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= 3).select(col("u").as("ku"))
      val next = p.checkpoint(e
        .join(keep, col("u") === col("ku"), "left_semi")
        .join(keep, col("v") === col("ku"), "left_semi"))
      p.release(e)
      e = next
    }
    e
  }

  private def e129KCore = {
    val rounds = 8
    QueryDef.pinned(
      "e129_kcore",
      s"""${ExtensionQueries.minhashPairsDuck},
         |ed AS MATERIALIZED (SELECT doc_a, doc_b FROM verified
         |  WHERE jaccard >= 0.3),
         |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM ed
         |       UNION ALL SELECT doc_b, doc_a FROM ed),
         |${kcorePeelDuck(rounds)}
         |SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS deg_core
         |FROM e$rounds GROUP BY u ORDER BY doc_id""".stripMargin) {
      (p, s, dir) =>
        val ed = p.checkpoint(ExtensionQueries.minhashVerifiedPairs(s, dir)
          .filter(col("jaccard") >= 0.3)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))
        val core = kcorePeelSpark(p,
          ed.union(ed.select(col("v").as("u"), col("u").as("v"))), rounds)
        p.release(ed)
        core.groupBy(col("u").as("doc_id"))
          .agg(count(lit(1)).as("deg_core"))
          .orderBy(col("doc_id"))
    }
  }

  // ---- e129b: the 3-core peel on a constructed fixture graph --------------

  /** The e129 peel on a CONSTRUCTED graph that is non-degenerate at
    * EVERY scale factor (the e131b pattern): e129's oracle row
    * matches on 0 rows at sf0.01 — no 3-core exists in the small
    * corpus's dup graph, so the oracle compares two empty sets and
    * proves nothing about peel semantics (the driver-side fixpoint
    * spec in CurationOpsSpec pins the operator, but the cross-engine
    * row should too). The fixture derives deterministically from the
    * fixed 25-row nation table: same-region pairs form five disjoint
    * K5 cliques (degree 4 — the 3-core that must survive), and each
    * nation hangs a 3-leaf star off a hub node (hub = 100+key, leaves
    * 200/300/400+key), making the peel genuinely ITERATIVE — the
    * leaves (degree 1) strip in round 1, which drops the hubs from
    * degree 4 to 1 so they strip in round 2, and only then do the
    * clique nodes settle at their final within-core degree. A
    * one-round census would wrongly report the hubs as core members;
    * a 0-row oracle could never tell. Exactly the same peel text on
    * both engines ([[kcorePeelDuck]]/[[kcorePeelSpark]] shared with
    * e129). Expected at every SF: 25 rows, deg_core = 4.
    */
  private def e129bKCoreFixture = {
    val rounds = 8
    QueryDef.pinned(
      "e129b_kcore_fixture",
      s"""WITH ed AS MATERIALIZED (
         |  SELECT CAST(a.n_nationkey AS BIGINT) AS u,
         |         CAST(b.n_nationkey AS BIGINT) AS v
         |  FROM nation a JOIN nation b
         |    ON a.n_regionkey = b.n_regionkey
         |   AND a.n_nationkey < b.n_nationkey
         |  UNION ALL SELECT CAST(n_nationkey AS BIGINT),
         |    CAST(100 + n_nationkey AS BIGINT) FROM nation
         |  UNION ALL SELECT CAST(100 + n_nationkey AS BIGINT),
         |    CAST(200 + n_nationkey AS BIGINT) FROM nation
         |  UNION ALL SELECT CAST(100 + n_nationkey AS BIGINT),
         |    CAST(300 + n_nationkey AS BIGINT) FROM nation
         |  UNION ALL SELECT CAST(100 + n_nationkey AS BIGINT),
         |    CAST(400 + n_nationkey AS BIGINT) FROM nation),
         |e0 AS MATERIALIZED (SELECT u, v FROM ed
         |  UNION ALL SELECT v, u FROM ed),
         |${kcorePeelDuck(rounds)}
         |SELECT u AS node_id, CAST(count(*) AS BIGINT) AS deg_core
         |FROM e$rounds GROUP BY u ORDER BY node_id""".stripMargin) {
      (p, s, dir) =>
        val n = Tables.nation(s, dir)
          .select(col("n_nationkey").cast("long").as("k"),
            col("n_regionkey").as("r"))
        val clique = n.as("a").join(n.as("b"),
            col("a.r") === col("b.r") && col("a.k") < col("b.k"))
          .select(col("a.k").as("u"), col("b.k").as("v"))
        val pendant = n.select(col("k").as("u"), (col("k") + 100).as("v"))
        val leaves = Seq(200, 300, 400).map(off =>
            n.select((col("k") + 100).as("u"), (col("k") + off).as("v")))
          .reduce(_ unionByName _)
        val ed = clique.unionByName(pendant).unionByName(leaves)
        val e0 = ed.unionByName(ed.select(col("v").as("u"), col("u").as("v")))
        kcorePeelSpark(p, e0, rounds)
          .groupBy(col("u").as("node_id"))
          .agg(count(lit(1)).as("deg_core"))
          .orderBy(col("node_id"))
    }
  }

  // ---- e130: Cohen's kappa between curation gates -------------------------

  /** Chance-corrected agreement (Cohen's κ) between two INDEPENDENT
    * curation gates, per source: gate A = the heuristic quality signal
    * at its e117-style cutoff (bp ≥ 3000), gate B = exact-dup
    * uniqueness (e1's digest groups, n_copies = 1). e96 reports how
    * much two filters' rejection sets OVERLAP; κ asks the measurement-
    * theory question behind it — do they agree MORE THAN THEIR BASE
    * RATES FORCE? Two gates that each pass 95% of documents show 90%+
    * raw agreement with zero shared information; κ subtracts exactly
    * that. κ ≈ 0 (this corpus's expected reading: dup copies share the
    * template quality distribution) means the gates are independent
    * evidence and BOTH earn their scan; κ → 10000 means one gate is
    * the other's shadow and the cheaper one should run alone.
    *
    * Exact integer, sign-safe: po·n = n_agree·n and pe·n² =
    * r₁c₁ + r₀c₀ are exact counts, so κ_bp = (po_n·n − pe_n2)·10⁴ /
    * (n² − pe_n2) with the division applied to |numerator| and the
    * sign re-attached — DuckDB `//` floors while Spark `div` truncates,
    * so negative κ must never reach a bare integer division (the rule
    * is factored as [[graft.functions.Portable.tdivDuck]]; e173/e176's
    * avg_cos_t apply it too, since an unfloored kNN edge list can sum
    * negative on adversarial corpora).
    *
    * Scale (100 TB): the dup label rides e1's digest shuffle (text
    * never moves past the first projection); everything else is one
    * (source, a, b) count collapsing map-side to ≤ 4 rows/source.
    * More gates = the same query per pair (κ matrix), or Fleiss κ over
    * the per-doc pass-count census — same shuffle shape.
    */
  private def e130Kappa = {
    def kappa(num: String, den: String) =
      s"CASE WHEN $num >= 0 THEN $num * 10000 // $den" +
        s" ELSE -((-($num)) * 10000 // $den) END"
    QueryDef.sql(
      "e130_kappa",
      s"""WITH $dupSigDuck,
         |q0 AS (SELECT s.source,
         |    CASE WHEN n_words > 0 THEN
         |      CASE WHEN $qualityBpDuck >= 3000 THEN 1 ELSE 0 END
         |    ELSE 0 END AS a,
         |    CASE WHEN d.n_copies = 1 THEN 1 ELSE 0 END AS b
         |  FROM sig s JOIN dup d USING (dg)),
         |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree,
         |    CAST(sum(a) AS BIGINT) AS r1, CAST(sum(b) AS BIGINT) AS c1
         |  FROM q0 GROUP BY source),
         |k AS (SELECT source, n, n_agree,
         |    n_agree * 10000 // n AS po_bp,
         |    (r1 * c1 + (n - r1) * (n - c1)) * 10000 // (n * n)
         |      AS pe_bp,
         |    n_agree * n - (r1 * c1 + (n - r1) * (n - c1)) AS num,
         |    n * n - (r1 * c1 + (n - r1) * (n - c1)) AS den
         |  FROM m)
         |SELECT source, n AS n_docs, po_bp, pe_bp,
         |  CASE WHEN den > 0 THEN ${kappa("num", "den")} END AS kappa_bp
         |FROM k ORDER BY source""".stripMargin) {
      (s, dir) =>
        // Nested when, NOT a conjunction: e130 is the one consumer of
        // the quality signal that keeps n_words = 0 rows (they must
        // count as gate-A rejections), and the bp expression divides
        // by n_words — a flat `n_words > 0 && bp >= 3000` would hang
        // correctness on conjunct evaluation order under ANSI. CaseWhen
        // evaluates the inner branch only when the outer guard holds,
        // in both engines, by contract.
        val q0 = dupSig(s, dir)
          .select(col("source"),
            when(col("n_words") > 0,
              when(expr(qualityBpSpark) >= 3000, 1L).otherwise(0L))
              .otherwise(0L).as("a"),
            when(col("n_copies") === 1, 1L).otherwise(0L).as("b"))
        val m = q0.groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("a") === col("b"), 1L).otherwise(0L))
              .as("n_agree"),
            sum(col("a")).as("r1"), sum(col("b")).as("c1"))
        m.select(col("source"), col("n"), col("n_agree"),
            expr("n_agree * 10000 div n").as("po_bp"),
            expr("(r1 * c1 + (n - r1) * (n - c1)) * 10000 div (n * n)")
              .as("pe_bp"),
            expr("n_agree * n - (r1 * c1 + (n - r1) * (n - c1))")
              .as("num"),
            expr("n * n - (r1 * c1 + (n - r1) * (n - c1))").as("den"))
          .select(col("source"), col("n").as("n_docs"), col("po_bp"),
            col("pe_bp"),
            when(col("den") > 0,
              when(col("num") >= 0, expr("num * 10000 div den"))
                .otherwise(-expr("(-num) * 10000 div den")))
              .as("kappa_bp"))
          .orderBy(col("source"))
    }
  }

  // ---- e131: Youden-J operating point -------------------------------------

  /** The OPERATING POINT companion to e119: AUC says whether the
    * quality signal ranks duplicated documents apart from unique ones
    * at all; Youden's J = max_t (TPR(t) − FPR(t)) names the threshold
    * to actually RUN the flag-if-bp≥t screen at, with its achieved
    * TPR/FPR — the number a pipeline owner needs before wiring the
    * signal into a gate. Computed exactly on e119's bounded per-source
    * score-frequency table: reverse-cumulative pos/neg counts give
    * TPR/FPR at every observed threshold, J's argmax is one
    * row_number over the ≤ 10001-row grid (ties → lowest threshold,
    * the more permissive gate), and J rides the integer numerator
    * pos_ge·n_neg − neg_ge·n_pos so the selection is float-free. The
    * selected J is structurally ≥ 0: the minimum observed threshold
    * flags everything (TPR = FPR = 1, num = 0) and is always in the
    * candidate set, so the argmax can never pick a negative row — a
    * plain floor division suffices, no sign-split needed (an
    * anti-correlated signal reads as J = 0 at the flag-everything
    * threshold, i.e. "this gate direction adds nothing").
    *
    * Scale (100 TB): identical shape to e119 — digest-keyed dup label,
    * one (source × bp) aggregation, then every window rides the
    * bounded frequency table. The multi-signal form is a per-signal
    * frequency grain, same as e119's matrix note.
    */
  /** The Youden argmax over a (source, bp, pos_c, neg_c) frequency
    * table, as the DuckDB CTE tail (expects a CTE named `freq` in
    * scope) — ONE definition consumed by e131 (dup label) and e131b
    * (returns label) so the selection rule can never drift between
    * the two registrations.
    */
  private def youdenDuckTail: String =
    s"""cum AS (SELECT source, bp,
       |    CAST(sum(pos_c) OVER wge AS BIGINT) AS pos_ge,
       |    CAST(sum(neg_c) OVER wge AS BIGINT) AS neg_ge,
       |    CAST(sum(pos_c) OVER (PARTITION BY source) AS BIGINT) AS np,
       |    CAST(sum(neg_c) OVER (PARTITION BY source) AS BIGINT) AS nn
       |  FROM freq
       |  WINDOW wge AS (PARTITION BY source ORDER BY bp
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
       |sc AS (SELECT *, pos_ge * nn - neg_ge * np AS num FROM cum
       |  WHERE np > 0 AND nn > 0),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY num DESC, bp) AS rn FROM sc)
       |SELECT source, np AS n_dup, nn AS n_uniq, bp AS thr_bp,
       |  num * 10000 // (np * nn) AS j_bp,
       |  pos_ge * 10000 // np AS tpr_bp,
       |  neg_ge * 10000 // nn AS fpr_bp
       |FROM rk WHERE rn = 1 ORDER BY source""".stripMargin

  /** Spark twin of [[youdenDuckTail]]: Youden-J operating-point
    * selection over any (source, bp, pos_c, neg_c) frequency frame —
    * per source, the threshold t maximizing TPR(flag if bp ≥ t) −
    * FPR(flag if bp ≥ t), ties broken to the LOWEST threshold (the
    * more permissive gate), selection float-free on the integer
    * numerator pos_ge·nn − neg_ge·np. Sources with no positives or no
    * negatives are dropped (J is undefined without both classes).
    * Exposed package-private so CurationOpsSpec can pin it against a
    * driver-side exact TPR/FPR recomputation on a synthetic table.
    */
  private[queries] def youdenFromFreq(freq: DataFrame): DataFrame = {
    val wge = Window.partitionBy(col("source")).orderBy(col("bp"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAll = Window.partitionBy(col("source"))
    val cum = freq
      .withColumn("pos_ge", sum(col("pos_c")).over(wge))
      .withColumn("neg_ge", sum(col("neg_c")).over(wge))
      .withColumn("np", sum(col("pos_c")).over(wAll))
      .withColumn("nn", sum(col("neg_c")).over(wAll))
      .filter(col("np") > 0 && col("nn") > 0)
      .withColumn("num",
        col("pos_ge") * col("nn") - col("neg_ge") * col("np"))
    cum
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("num").desc, col("bp"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("np").as("n_dup"),
        col("nn").as("n_uniq"), col("bp").as("thr_bp"),
        expr("num * 10000 div (np * nn)").as("j_bp"),
        expr("pos_ge * 10000 div np").as("tpr_bp"),
        expr("neg_ge * 10000 div nn").as("fpr_bp"))
      .orderBy(col("source"))
  }

  private def e131Youden = QueryDef.sql(
    "e131_youden",
    s"""WITH $dupFreqDuck,
       |$youdenDuckTail""".stripMargin) {
    (s, dir) => youdenFromFreq(dupFreq(s, dir))
  }

  // ---- e131b: Youden-J on the returns screen ------------------------------

  /** The SAME Youden selection ([[youdenFromFreq]]) over a label that
    * is populated at EVERY scale factor: per lineitem status partition
    * (O/F), does the discount level separate RETURNED line items
    * (l_returnflag = 'R') from the rest, and at what discount cutoff
    * would a flag-if-discount≥t screen operate? e131's dup-label form
    * is the production artifact but its positives (digest groups with
    * ≥ 2 copies) are empty on a dup-free slice, making its correctness
    * row vacuous there; this registration keeps the identical argmax /
    * tie-break / integer-numerator machinery under a label with
    * ~20,000 positives at sf0.01, so the oracle comparison always
    * exercises a non-degenerate selection. Here `bp` is the discount
    * in whole percent (0–10; exact — the generator draws discounts on
    * the 1% grid and round() lands both engines on the same integer),
    * so the frequency grid is ≤ 11 rows per status.
    *
    * The expected reading on THIS corpus is J ≈ 0 (the generator draws
    * discount independently of returnflag) — the e118/e124 convention:
    * the audit's job is to read the data honestly, and "this gate
    * direction adds nothing" is the honest answer for an independent
    * signal. Scale (100 TB): one fact scan → (status × 11)-row
    * map-side-combinable aggregation; every window rides the bounded
    * grid. Same shape as e131.
    */
  private def e131bYoudenReturns = QueryDef.sql(
    "e131b_youden_returns",
    s"""WITH base AS (SELECT l_linestatus AS source,
       |    CAST(round(l_discount * 100) AS BIGINT) AS bp,
       |    l_returnflag = 'R' AS is_pos
       |  FROM lineitem),
       |freq AS (SELECT source, bp,
       |    CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos_c,
       |    CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT)
       |      AS neg_c
       |  FROM base GROUP BY 1, 2),
       |$youdenDuckTail""".stripMargin) {
    (s, dir) =>
      val freq = Tables.lineitem(s, dir)
        .select(col("l_linestatus").as("source"),
          round(col("l_discount") * 100).cast("long").as("bp"),
          (col("l_returnflag") === "R").as("is_pos"))
        .groupBy("source", "bp")
        .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("pos_c"),
          sum(when(col("is_pos"), 0L).otherwise(1L)).as("neg_c"))
      youdenFromFreq(freq)
  }

  // ---- e134: HyperLogLog cardinality calibration --------------------------

  /** Per-source distinct-shingle cardinality via a 64-register
    * HyperLogLog ([[graft.functions.sketches.HllAgg]]), calibrated
    * against the exact count — the third member of the cardinality
    * family and the one production fleets actually run: e52 is the
    * exact path (corpus-wide distinct shuffle), e60/e102 the KMV path
    * (k smallest values — supports Jaccard/intersection algebra), HLL
    * the union-algebra path: registers merge by element-wise MAX, so
    * per-shard sketches roll up to any grouping with no re-scan and
    * re-inserting an element is a no-op (at-least-once-replay-proof —
    * the property counting sketches lack).
    *
    * Everything hash-compared is INTEGER: registers are exact integer
    * state (affine rehash, bucket = h mod 64, trailing-zero rank —
    * the oracle replays them with a generated CASE ladder over the
    * lowest-set-bit, no bit intrinsics), the register sum rides the
    * exact S = Σ 2^(25−M[j]), and the raw estimate is the single
    * floor division 709·2^37 / (1000·S) under the DEFINED
    * α₆₄ = 709/1000. The small-range linear-counting branch — HLL's
    * one float (ln) consumer — is emitted as a separate 4-dp-rounded
    * DOUBLE column that is NULL outside its regime (est ≤ 5m/2 and
    * empty registers exist; engaged only at the dev SF, where
    * HllSpec exercises it).
    *
    * Expected accuracy: σ ≈ 1.04/√64 = 13 % relative; the err_bp
    * column is the realized error the operator exists to surface
    * (measured at sf0.01: mean 640 bp, max 2779 bp over 20 sources —
    * within the model's 1σ/2σ. An earlier affine-only mix measured
    * mean 944 bp here but 96 % bias on SEQUENTIAL keys — the cube in
    * the [[Portable.HllA]] contract is what makes the hash safe for
    * structured id columns, not just pre-hashed shingles; e136
    * exercises exactly that case).
    *
    * Scale (100 TB): one (source, h)-distinct projection → a 512 B
    * register vector per source via map-side max-combine; NOTHING
    * corpus-sized shuffles past the distinct (and production drops
    * even that: update is replay-idempotent, so the distinct is
    * optional — duplicates only re-touch the same register). The
    * exact side here is the calibration harness, exactly as in e102.
    */
  private def e134HllDistinct = {
    val P = Portable.P
    val alphaNum = 709L * (1L << 37)
    // tz CASE ladder over the lowest set bit (w & -w) — 2^0 … 2^24
    val tzCase = (0 to 24).map(i =>
      s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    QueryDef.sql(
      "e134_hll_distinct",
      s"""WITH w AS (SELECT source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT source, ${Portable.shinglesDuck} AS shs FROM w
         |  WHERE len(wh) >= 3),
         |d AS (SELECT DISTINCT source, unnest(shs) AS h FROM sh),
         |hx AS (SELECT source,
         |    (${Portable.HllA} * h + ${Portable.HllB}) % $P AS x FROM d),
         |hh AS (SELECT source, (x * x % $P) * x % $P AS h2 FROM hx),
         |rho AS (SELECT source, h2 % 64 AS j,
         |    CASE WHEN h2 // 64 = 0 THEN 25
         |      ELSE CASE (h2 // 64) & (-(h2 // 64)) $tzCase END
         |    END AS r
         |  FROM hh),
         |reg AS (SELECT source, j, max(r) AS mr FROM rho GROUP BY 1, 2),
         |spine AS (SELECT s.source, b.j
         |  FROM (SELECT DISTINCT source FROM d) s
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) b),
         |regs AS (SELECT sp.source, coalesce(reg.mr, 0) AS mr
         |  FROM spine sp LEFT JOIN reg
         |    ON reg.source = sp.source AND reg.j = sp.j),
         |ssum AS (SELECT source,
         |    CAST(sum(CAST(1 AS BIGINT) << (25 - mr)) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_zero
         |  FROM regs GROUP BY source),
         |ne AS (SELECT source, count(*) AS n_exact FROM d GROUP BY source),
         |est AS (SELECT ne.source, ne.n_exact, ssum.v_zero,
         |    $alphaNum // (1000 * ssum.s2) AS est_hll
         |  FROM ne JOIN ssum ON ssum.source = ne.source)
         |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
         |  est_hll, v_zero,
         |  abs(est_hll - n_exact) * 10000 // n_exact AS err_bp,
         |  CASE WHEN est_hll * 2 <= 320 AND v_zero > 0
         |    THEN round(64 * ln(64.0 / v_zero), 4) + 0 END AS lc_est
         |FROM est ORDER BY source""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"),
          explode(F.shingle_hashes(col("text"))).as("h"))
        .distinct()
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("n_exact"),
          graft.functions.sketches.hll_sketch(col("h")).as("regs"))
      per
        .withColumn("s2", expr("aggregate(transform(regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("v_zero",
          size(filter(col("regs"), r => r === 0L)).cast("long"))
        .withColumn("est_hll", expr(s"$alphaNum div (1000 * s2)"))
        .select(col("source"), col("n_exact"), col("est_hll"),
          col("v_zero"),
          expr("abs(est_hll - n_exact) * 10000 div n_exact").as("err_bp"),
          (when(col("est_hll") * 2 <= 320 && col("v_zero") > 0,
            round(lit(64d) * log(lit(64d) / col("v_zero")), 4) + lit(0d)))
            .as("lc_est"))
        .orderBy(col("source"))
    }
  }

  // ---- e137: multi-grain distinct rollup from one register table ----------

  /** Distinct-shingle cardinality at FOUR grains — (source × lang),
    * source, lang, corpus — where every coarser grain is a pure
    * register max-merge of the ONE (source, lang) register table,
    * never a re-scan: the production property that justifies keeping
    * HLL registers as a first-class materialized column. An exact
    * distinct does not roll up (distinct counts are not additive
    * across groups — Σ per-source distincts ≥ corpus distinct exactly
    * when sources share shingles, which is the overlap e102
    * measures), so the exact side here re-aggregates the corpus once
    * per grain; the sketch side pays the corpus ONCE and answers all
    * four grains — and any future grouping of the same keys — from
    * ≤ #sources·#langs·64 longs.
    *
    * Output: (grain, key, n_exact, est_hll, err_bp), grains ordered
    * source_lang → source → lang → all; same integer estimate
    * contract as e134/e136. The rollup identity itself (registers of
    * a union = element-wise max of register tables) is what the
    * oracle equality proves: DuckDB builds registers ONLY at the
    * base grain and derives every coarser grain by relational MAX
    * over those register rows (the production rollup path), while
    * Spark re-aggregates [[sketches.HllAgg]] directly over the fanned
    * keys (registers-of-the-union) — the hash match IS the merge
    * identity max(registers) = registers(union), checked key by key.
    *
    * Scale (100 TB): one corpus scan → base-grain registers (512 B
    * per (source, lang)); every rollup is an aggregation of that
    * bounded table. The exact columns are the calibration harness
    * (four corpus-wide distinct aggregations production drops —
    * here they share one (grain-key, h)-distinct fan-out pass).
    */
  private def e137HllRollup = {
    val P = Portable.P
    val alphaNum = 709L * (1L << 37)
    val tzCase = (0 to 24).map(i =>
      s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    QueryDef.sql(
      "e137_hll_rollup",
      s"""WITH w AS (SELECT source, lang, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT source, lang, ${Portable.shinglesDuck} AS shs
         |  FROM w WHERE len(wh) >= 3),
         |d AS (SELECT DISTINCT source, lang, unnest(shs) AS h FROM sh),
         |keyed AS (
         |  SELECT 'source_lang' AS grain, source || ':' || lang AS key, h
         |    FROM d
         |  UNION ALL SELECT 'source', source, h FROM d
         |  UNION ALL SELECT 'lang', lang, h FROM d
         |  UNION ALL SELECT 'all', 'all', h FROM d),
         |dk AS (SELECT DISTINCT grain, key, h FROM keyed),
         |ne AS (SELECT grain, key, count(*) AS n_exact FROM dk
         |  GROUP BY 1, 2),
         |hx AS (SELECT source, lang,
         |    (${Portable.HllA} * h + ${Portable.HllB}) % $P AS x
         |  FROM d),
         |hh AS (SELECT source, lang, (x * x % $P) * x % $P AS h2 FROM hx),
         |rho AS (SELECT source, lang, h2 % 64 AS j,
         |    CASE WHEN h2 // 64 = 0 THEN 25
         |      ELSE CASE (h2 // 64) & (-(h2 // 64)) $tzCase END
         |    END AS r
         |  FROM hh),
         |breg AS (SELECT source, lang, j, max(r) AS mr FROM rho
         |  GROUP BY 1, 2, 3),
         |kreg AS (
         |  SELECT 'source_lang' AS grain, source || ':' || lang AS key,
         |      j, mr FROM breg
         |  UNION ALL SELECT 'source', source, j, mr FROM breg
         |  UNION ALL SELECT 'lang', lang, j, mr FROM breg
         |  UNION ALL SELECT 'all', 'all', j, mr FROM breg),
         |reg AS (SELECT grain, key, j, max(mr) AS mr FROM kreg
         |  GROUP BY 1, 2, 3),
         |spine AS (SELECT k.grain, k.key, b.j
         |  FROM (SELECT DISTINCT grain, key FROM dk) k
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) b),
         |regs AS (SELECT sp.grain, sp.key, coalesce(reg.mr, 0) AS mr
         |  FROM spine sp LEFT JOIN reg
         |    ON reg.grain = sp.grain AND reg.key = sp.key
         |      AND reg.j = sp.j),
         |ssum AS (SELECT grain, key,
         |    CAST(sum(CAST(1 AS BIGINT) << (25 - mr)) AS BIGINT) AS s2
         |  FROM regs GROUP BY 1, 2)
         |SELECT e.grain AS grain, e.key AS key,
         |  CAST(e.n_exact AS BIGINT) AS n_exact,
         |  $alphaNum // (1000 * s.s2) AS est_hll,
         |  abs($alphaNum // (1000 * s.s2) - e.n_exact) * 10000
         |    // e.n_exact AS err_bp
         |FROM ne e JOIN ssum s ON s.grain = e.grain AND s.key = e.key
         |ORDER BY e.grain, e.key""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          explode(F.shingle_hashes(col("text"))).as("h"))
        .distinct()
      val dk = d
        .select(explode(array(
            struct(lit("source_lang").as("grain"),
              concat(col("source"), lit(":"), col("lang")).as("key")),
            struct(lit("source").as("grain"), col("source").as("key")),
            struct(lit("lang").as("grain"), col("lang").as("key")),
            struct(lit("all").as("grain"), lit("all").as("key"))))
            .as("gk"),
          col("h"))
        .select(col("gk.grain").as("grain"), col("gk.key").as("key"),
          col("h"))
        .distinct()
      dk.groupBy("grain", "key")
        .agg(count(lit(1)).as("n_exact"),
          graft.functions.sketches.hll_sketch(col("h")).as("regs"))
        .withColumn("s2", expr("aggregate(transform(regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("est_hll", expr(s"$alphaNum div (1000 * s2)"))
        .select(col("grain"), col("key"), col("n_exact"), col("est_hll"),
          expr("abs(est_hll - n_exact) * 10000 div n_exact").as("err_bp"))
        .orderBy(col("grain"), col("key"))
    }
  }

  // ---- e138: incremental generation growth via register differencing ------

  /** How much NEW vocabulary does a crawl generation add — answered
    * WITHOUT re-scanning the old corpus: per source, distinct-shingle
    * counts for generation A (the e103b hash half — doc parity would
    * be confounded with the generator's source assignment), the union after
    * generation B lands, and the growth, where the sketch side
    * computes est(A) from A's persisted registers and est(A∪B) by
    * max-merging B's registers into them — generation B's scan is the
    * only corpus work; A contributes 512 B per source. This is e54's
    * vocabulary-growth question in the form a 100 TB fleet can afford
    * to re-ask per delivery (the exact form re-pays the FULL union
    * distinct on every batch; e41 is the same incremental posture for
    * dedup membership).
    *
    * The honest caveat is IN the output: differencing two estimates
    * carries the ABSOLUTE error of the union scale, so growth error is
    * reported against the union cardinality (`diff_err_bp` =
    * |est_new − exact_new|·10⁴ / exact_union), not against the small
    * difference — when growth is a thin slice of a huge corpus its
    * RELATIVE error is unbounded (the known inclusion–exclusion
    * limitation; KMV/e102 is the family member for intersections,
    * register differencing is for growth that carries real mass).
    * est_new can even be slightly negative on a no-growth source
    * (estimator noise) — emitted as-is, never clamped.
    *
    * Scale (100 TB): generation A's registers come from the persisted
    * table (here re-derived for the oracle's sake); the update is one
    * scan of the NEW generation + a 64-long max-merge per source; the
    * exact columns are the calibration harness production drops.
    */
  private def e138GenerationGrowth = {
    val P = Portable.P
    val alphaNum = 709L * (1L << 37)
    val tzCase = (0 to 24).map(i =>
      s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    QueryDef.sql(
      "e138_generation_growth",
      s"""WITH w AS (SELECT doc_id, source,
         |    ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT doc_id, source, ${Portable.shinglesDuck} AS shs
         |  FROM w WHERE len(wh) >= 3),
         |d AS (SELECT DISTINCT source,
         |    (((doc_id % 1000003) * 2654435761) % 1000000007) % 2 = 0
         |      AS gen_a,
         |    unnest(shs) AS h
         |  FROM sh),
         |exa AS (SELECT source, count(DISTINCT h) AS n_exact_a FROM d
         |  WHERE gen_a GROUP BY source),
         |exu AS (SELECT source, count(DISTINCT h) AS n_exact_union
         |  FROM d GROUP BY source),
         |hx AS (SELECT source, gen_a,
         |    (${Portable.HllA} * h + ${Portable.HllB}) % $P AS x
         |  FROM (SELECT DISTINCT source, gen_a, h FROM d)),
         |hh AS (SELECT source, gen_a, (x * x % $P) * x % $P AS h2
         |  FROM hx),
         |rho AS (SELECT source, gen_a, h2 % 64 AS j,
         |    CASE WHEN h2 // 64 = 0 THEN 25
         |      ELSE CASE (h2 // 64) & (-(h2 // 64)) $tzCase END
         |    END AS r
         |  FROM hh),
         |breg AS (SELECT source, gen_a, j, max(r) AS mr FROM rho
         |  GROUP BY 1, 2, 3),
         |spine AS (SELECT s.source, b.j
         |  FROM (SELECT DISTINCT source FROM d) s
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) b),
         |rega AS (SELECT sp.source, sp.j, coalesce(br.mr, 0) AS mr
         |  FROM spine sp LEFT JOIN breg br
         |    ON br.source = sp.source AND br.j = sp.j AND br.gen_a),
         |regu AS (SELECT sp.source, sp.j, coalesce(max(br.mr), 0) AS mr
         |  FROM spine sp LEFT JOIN breg br
         |    ON br.source = sp.source AND br.j = sp.j
         |  GROUP BY sp.source, sp.j),
         |sa AS (SELECT source,
         |    CASE WHEN CAST(sum(CAST(1 AS BIGINT) << (25 - mr)) AS BIGINT)
         |        = 2147483648 THEN 0
         |      ELSE $alphaNum //
         |        (1000 * CAST(sum(CAST(1 AS BIGINT) << (25 - mr))
         |          AS BIGINT)) END AS est_a
         |  FROM rega GROUP BY source),
         |su AS (SELECT source,
         |    $alphaNum // (1000 *
         |      CAST(sum(CAST(1 AS BIGINT) << (25 - mr)) AS BIGINT))
         |      AS est_u
         |  FROM regu GROUP BY source)
         |SELECT exu.source AS source,
         |  CAST(coalesce(exa.n_exact_a, 0) AS BIGINT) AS n_exact_a,
         |  CAST(exu.n_exact_union - coalesce(exa.n_exact_a, 0) AS BIGINT)
         |    AS n_exact_new,
         |  sa.est_a AS est_a,
         |  su.est_u - sa.est_a AS est_new,
         |  abs((su.est_u - sa.est_a)
         |    - (exu.n_exact_union - coalesce(exa.n_exact_a, 0))) * 10000
         |    // exu.n_exact_union AS diff_err_bp
         |FROM exu LEFT JOIN exa ON exa.source = exu.source
         |JOIN sa ON sa.source = exu.source
         |JOIN su ON su.source = exu.source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(F.shingle_hashes(col("text"))).as("h"))
        .select(col("source"),
          (expr("((doc_id % 1000003) * 2654435761) % 1000000007") % 2
            === 0).as("gen_a"),
          col("h"))
        .distinct()
      val byGen = d.groupBy("source", "gen_a")
        .agg(graft.functions.sketches.hll_sketch(col("h")).as("regs"),
          count(lit(1)).as("n_exact_g"))
      // max-merge B into A's registers (the production update) and
      // carry the exact counts for calibration; arrays fold with
      // zip_with(greatest) — the same merge HllAgg runs internally
      val merged = byGen.groupBy("source")
        .agg(
          expr("aggregate(collect_list(regs), array_repeat(0L, 64), " +
            "(a, x) -> zip_with(a, x, (p, q) -> greatest(p, q)))")
            .as("regs_u"),
          expr("aggregate(collect_list(CASE WHEN gen_a THEN regs END), " +
            "array_repeat(0L, 64), " +
            "(a, x) -> zip_with(a, x, (p, q) -> greatest(p, q)))")
            .as("regs_a"))
      val exa = d.filter(col("gen_a")).groupBy("source")
        .agg(count(lit(1)).as("n_exact_a"))
      val exu = d.select(col("source"), col("h")).distinct()
        .groupBy("source").agg(count(lit(1)).as("n_exact_union"))
      // est with the empty-set guard: all-zero registers (register sum
      // exactly 64*2^25) mean NO generation-A rows — a source first
      // seen in gen B, the growth case itself — and the honest empty
      // estimate is 0, not the raw estimator's alpha*m ~ 45 floor.
      def estOf(regsCol: String): org.apache.spark.sql.Column = {
        val s2 = s"aggregate(transform($regsCol, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"
        expr(s"CASE WHEN ($s2) = 2147483648L THEN 0L " +
          s"ELSE $alphaNum div (1000 * ($s2)) END")
      }
      merged
        .join(exa, Seq("source"), "left").join(exu, "source")
        .select(col("source"),
          coalesce(col("n_exact_a"), lit(0L)).as("n_exact_a"),
          (col("n_exact_union") - coalesce(col("n_exact_a"), lit(0L)))
            .as("n_exact_new"),
          estOf("regs_a").as("est_a"),
          (estOf("regs_u") - estOf("regs_a")).as("est_new"))
        .join(exu, "source")
        .select(col("source"), col("n_exact_a"), col("n_exact_new"),
          col("est_a"), col("est_new"),
          expr("abs(est_new - n_exact_new) * 10000 div n_exact_union")
            .as("diff_err_bp"))
        .orderBy(col("source"))
    }
  }

  // ---- e136: rolling-window distinct via HLL register algebra -------------

  /** Trailing-7-day distinct active users per day, exact AND via
    * HyperLogLog register algebra — the window-function gap e134's
    * sketch exists to close: DISTINCT does not decompose through sum,
    * so a sliding-window distinct cannot ride an ordinary running
    * aggregate (the exact form needs every (day, user) pair in every
    * window it touches), but HLL registers merge by MAX — associative,
    * commutative, idempotent — so the windowed distinct becomes a
    * windowed register max: per-day 512 B register vectors, and any
    * window/rollup/cross-shard union of days is one element-wise max
    * over them, never a re-scan of users.
    *
    * Both sides avoid the non-equi range join: day activity fans out
    * to the ≤ 7 windows containing it (`explode(sequence(d, d+6))` —
    * the e24 chunk-routing pattern), then one keyed aggregation per
    * target day; windows past the last observed day are dropped by a
    * semi-join on the observed-day spine. Exact column = the
    * calibration harness (what production drops); estimate = the e134
    * integer contract (registers via [[sketches.HllAgg]] on the
    * fanned rows, α₆₄ = 709/1000 floor division, CASE-ladder oracle).
    * The regime column marks windows where the raw estimate sits in
    * linear-counting territory (est ≤ 5m/2 with empty registers) — at
    * the driver SF the ~100-150-user windows straddle that boundary,
    * which is exactly the honest reading: m = 64 is sized for
    * fleet-scale cardinalities and the flag says which rows a
    * production consumer would re-estimate via LC.
    *
    * Scale (100 TB): the fan-out is a constant ×7 on the (day, user)
    * distinct — linear; per-day registers are 512 B whatever the user
    * population; the window merge touches #days × 64 longs. The same
    * register table answers ANY trailing window (30-day = fan 30 or
    * re-merge the 7-day vectors), per-source windows just widen the
    * key.
    */
  private def e136RollingDistinct = {
    val P = Portable.P
    val alphaNum = 709L * (1L << 37)
    val tzCase = (0 to 24).map(i =>
      s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    QueryDef.sql(
      "e136_rolling_distinct",
      s"""WITH du AS (SELECT DISTINCT
         |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
         |    user_id
         |  FROM events WHERE user_id IS NOT NULL),
         |days AS (SELECT DISTINCT d FROM du),
         |fan AS (SELECT du.d + i.i AS td, du.user_id
         |  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i),
         |fo AS (SELECT f.td, f.user_id FROM fan f
         |  JOIN days dy ON dy.d = f.td),
         |exw AS (SELECT td, count(DISTINCT user_id) AS n_exact
         |  FROM fo GROUP BY td),
         |hx AS (SELECT DISTINCT td,
         |    (${Portable.HllA} * (user_id % $P) + ${Portable.HllB}) % $P
         |      AS x
         |  FROM fo),
         |hh AS (SELECT td, (x * x % $P) * x % $P AS h2 FROM hx),
         |rho AS (SELECT td, h2 % 64 AS j,
         |    CASE WHEN h2 // 64 = 0 THEN 25
         |      ELSE CASE (h2 // 64) & (-(h2 // 64)) $tzCase END
         |    END AS r
         |  FROM hh),
         |reg AS (SELECT td, j, max(r) AS mr FROM rho GROUP BY 1, 2),
         |spine AS (SELECT dy.d AS td, b.j FROM days dy
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) b),
         |regs AS (SELECT sp.td, coalesce(reg.mr, 0) AS mr
         |  FROM spine sp LEFT JOIN reg
         |    ON reg.td = sp.td AND reg.j = sp.j),
         |ssum AS (SELECT td,
         |    CAST(sum(CAST(1 AS BIGINT) << (25 - mr)) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_zero
         |  FROM regs GROUP BY td)
         |SELECT e.td AS day_idx, CAST(e.n_exact AS BIGINT) AS n_exact,
         |  $alphaNum // (1000 * s.s2) AS est_hll,
         |  abs($alphaNum // (1000 * s.s2) - e.n_exact) * 10000
         |    // e.n_exact AS err_bp,
         |  CASE WHEN $alphaNum // (1000 * s.s2) * 2 <= 320
         |      AND s.v_zero > 0 THEN 'lc' ELSE 'raw' END AS regime
         |FROM exw e JOIN ssum s ON s.td = e.td
         |ORDER BY day_idx""".stripMargin) { (s, dir) =>
      val du = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("d"), col("user_id"))
        .distinct()
      val days = du.select(col("d").as("td")).distinct()
      val fo = du
        .select(explode(sequence(col("d"), col("d") + 6)).as("td"),
          col("user_id"))
        .join(days, "td")
      val agg = fo.groupBy("td")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          graft.functions.sketches.hll_sketch(col("user_id")).as("regs"))
      agg
        .withColumn("s2", expr("aggregate(transform(regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("v_zero",
          size(filter(col("regs"), r => r === 0L)).cast("long"))
        .withColumn("est_hll", expr(s"$alphaNum div (1000 * s2)"))
        .select(col("td").as("day_idx"), col("n_exact"), col("est_hll"),
          expr("abs(est_hll - n_exact) * 10000 div n_exact").as("err_bp"),
          when(col("est_hll") * 2 <= 320 && col("v_zero") > 0, lit("lc"))
            .otherwise(lit("raw")).as("regime"))
        .orderBy(col("day_idx"))
    }
  }

  // ---- e142: shared-run explanation for verified near-dup pairs -----------

  /** The EXPLANATION artifact for the dedup review queue: per
    * MinHash-verified near-dup pair (J ≥ 0.3), the LONGEST contiguous
    * shared word run and the count of shared positional 3-grams — the
    * evidence a human (or an appeals process) actually reads. A
    * Jaccard score says two documents share mass; the longest run says
    * WHERE the duplication lives: a 200-word run is a copied passage
    * (quote/syndication — maybe legitimate), scattered 3-word runs at
    * the same Jaccard are template boilerplate (delete with
    * confidence). Winnowing (e80) GUARANTEES detection only of runs
    * ≥ 7 words; this measures the actual run structure on the pairs
    * that matter.
    *
    * Relational shape — the gaps-and-islands pattern over gram
    * diagonals: shared positional grams of a pair at positions
    * (pa, pb) lie on diagonal d = pa − pb; a contiguous shared run is
    * a maximal streak of consecutive pa on one diagonal, found by the
    * classic pa − row_number() island key — one window partitioned by
    * (pair, diagonal), never a cross-gram join. A streak of g
    * consecutive 3-grams spans g + 2 words.
    *
    * Scale (100 TB): pairs are banding-bounded (e3's machinery); the
    * positional-gram fetch is semi-joined to PAIR MEMBERS only (the
    * e98 verification discipline — the corpus-wide gram pass never
    * runs); the diagonal join's fan-out is the true shared-gram count
    * per pair (what the output reports — self-auditing cost); windows
    * partition by (pair, diag), bounded by one document's grams.
    *
    * CONTENT KEYING (the measured fix for the dense-replica probe,
    * where the id-keyed form OOMed at 100×): an explanation depends
    * only on the two TEXTS, so all expensive work is keyed by content
    * digest and computed once per distinct digest (pair), then joined
    * back to the id-grain pair list. Digest-equal pairs never reach the
    * gram join at all — on identical texts the answer is analytic
    * (longest run = the whole document; shared grams = Σ c_h² over the
    * doc's own gram multiset, counting each repeated gram value's
    * self-matches — E142RunSpec pins a repeated-phrase identical pair
    * against the brute force). Digest-distinct pairs run the island
    * machinery once per unordered digest pair on one representative
    * doc per digest (run structure is side-swap symmetric). On the
    * 100× replica corpus this collapses ~24.7M id-pairs to the
    * original content-pair population — R replicas of a near-dup pair
    * are R² id-pairs but ONE digest pair.
    */
  private def e142SharedRun = QueryDef.pinned(
    "e142_shared_run",
    s"""WITH ${ExtensionQueries.minhashPairsDuck.stripPrefix("WITH ")},
       |vp AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM verified
       |  WHERE jaccard >= 0.3),
       |pd AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM vp
       |    UNION ALL SELECT doc_b FROM vp)),
       |dgst AS MATERIALIZED (SELECT d.doc_id, md5(d.text) AS dig
       |  FROM documents d JOIN pd ON pd.doc_id = d.doc_id),
       |vpe AS MATERIALIZED (SELECT v.doc_a, v.doc_b, v.jaccard,
       |    (da.dig = db.dig) AS eq
       |  FROM vp v
       |  JOIN dgst da ON da.doc_id = v.doc_a
       |  JOIN dgst db ON db.doc_id = v.doc_b),
       |pdne AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM vpe WHERE NOT eq
       |    UNION ALL SELECT doc_b FROM vpe WHERE NOT eq)),
       |pw AS (SELECT d.doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents d JOIN pdne ON pdne.doc_id = d.doc_id),
       |pg AS (SELECT doc_id, unnest(${Portable.posShinglesDuck}) AS h,
       |    unnest(range(1, len(wh) - 1)) AS pos
       |  FROM pw WHERE len(wh) >= 3),
       |shared AS (SELECT DISTINCT v.doc_a, v.doc_b,
       |    ga.pos AS pa, gb.pos AS pb
       |  FROM vpe v
       |  JOIN pg ga ON ga.doc_id = v.doc_a
       |  JOIN pg gb ON gb.doc_id = v.doc_b AND gb.h = ga.h
       |  WHERE NOT v.eq),
       |isl AS (SELECT doc_a, doc_b, pa - pb AS diag, pa,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |      ORDER BY pa) AS grp
       |  FROM shared),
       |runs AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS g_run
       |  FROM isl GROUP BY doc_a, doc_b, diag, grp),
       |agg AS (SELECT doc_a, doc_b,
       |    CAST(max(g_run) + 2 AS BIGINT) AS longest_run_words,
       |    CAST(sum(g_run) AS BIGINT) AS n_shared_grams
       |  FROM runs GROUP BY doc_a, doc_b),
       |pdeq AS (SELECT DISTINCT doc_a AS doc_id FROM vpe WHERE eq),
       |eqw AS (SELECT d.doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents d JOIN pdeq ON pdeq.doc_id = d.doc_id),
       |eqg AS (SELECT doc_id, unnest(${Portable.posShinglesDuck}) AS h
       |  FROM eqw WHERE len(wh) >= 3),
       |eqc AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS c
       |  FROM eqg GROUP BY 1, 2),
       |eqs AS (SELECT w.doc_id, CAST(len(w.wh) AS BIGINT) AS nw,
       |    coalesce(s.nsg, CAST(0 AS BIGINT)) AS nsg
       |  FROM eqw w LEFT JOIN (SELECT doc_id,
       |      CAST(sum(c * c) AS BIGINT) AS nsg
       |    FROM eqc GROUP BY doc_id) s ON s.doc_id = w.doc_id),
       |res AS (
       |  SELECT v.doc_a, v.doc_b, v.jaccard,
       |    coalesce(a.longest_run_words, 0) AS lr,
       |    coalesce(a.n_shared_grams, 0) AS nsg
       |  FROM vpe v LEFT JOIN agg a
       |    ON a.doc_a = v.doc_a AND a.doc_b = v.doc_b
       |  WHERE NOT v.eq
       |  UNION ALL
       |  SELECT v.doc_a, v.doc_b, v.jaccard,
       |    CASE WHEN e.nw >= 3 THEN e.nw ELSE CAST(0 AS BIGINT) END,
       |    CASE WHEN e.nw >= 3 THEN e.nsg ELSE CAST(0 AS BIGINT) END
       |  FROM vpe v JOIN eqs e ON e.doc_id = v.doc_a
       |  WHERE v.eq)
       |SELECT doc_a, doc_b,
       |  CAST(round(jaccard * 10000) AS BIGINT) AS jaccard_bp,
       |  lr AS longest_run_words, nsg AS n_shared_grams
       |FROM res ORDER BY doc_a, doc_b""".stripMargin) { (p, s, dir) =>
    // feeds pd, the diagonal join, and the final left join — the e132
    // discipline
    val vp = p.checkpoint(ExtensionQueries.minhashVerifiedPairs(s, dir)
      .filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("jaccard")))
    sharedRunStats(p, s, dir, vp)
  }

  /** Core of e142 past pair generation: per `(doc_a, doc_b, jaccard)`
    * row of `vp`, the longest contiguous shared word run and the shared
    * positional-gram count over the documents at `dir`. Split out so
    * E142RunSpec can drive the island arithmetic with a hand-built pair
    * set over a synthetic corpus, independent of the banding machinery.
    */
  private[queries] def sharedRunStats(
      p: Pins, s: SparkSession, dir: String, vp: DataFrame): DataFrame = {
    val pd = vp.select(explode(array(col("doc_a"), col("doc_b")))
        .as("doc_id")).distinct()
    val docs = Tables.documents(s, dir).join(pd, "doc_id")
      .select(col("doc_id"), col("text"))
    // CONTENT KEYING: an explanation depends only on the two texts, so
    // every downstream computation is keyed by content digest, computed
    // once per DISTINCT digest (pair), and joined back — on a
    // dup-heavy corpus the pair population collapses quadratically
    // (R replicas of a near-dup pair = R² id-pairs but ONE digest
    // pair) and the gram join runs on representative docs only.
    // feeds vpe + both branches' rep lookups
    val dg = p.checkpoint(docs
      .select(col("doc_id"), sha2(col("text"), 256).as("dig")))
    // feeds eq/ne splits and both join-backs
    val vpe = p.checkpoint(vp
      .join(dg.as("da"), col("da.doc_id") === col("doc_a"))
      .join(dg.as("db"), col("db.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("da.dig").as("dig_a"), col("db.dig").as("dig_b")))
    val vpNe = vpe.filter(col("dig_a") =!= col("dig_b"))
      .withColumn("d1", least(col("dig_a"), col("dig_b")))
      .withColumn("d2", greatest(col("dig_a"), col("dig_b")))
    val vpEq = vpe.filter(col("dig_a") === col("dig_b"))
    // slow path, once per distinct unordered digest pair: run structure
    // is symmetric under side swap (diagonals negate, streak lengths
    // survive), so the canonical (d1 < d2) orientation loses nothing
    val cpairs = vpNe.select(col("d1"), col("d2")).distinct()
    val needDig = cpairs
      .select(explode(array(col("d1"), col("d2"))).as("dig")).distinct()
    val reps = dg.join(needDig, "dig")
      .groupBy("dig").agg(min(col("doc_id")).as("rep_id"))
    val rp = cpairs
      .join(reps.as("r1"), col("r1.dig") === col("d1"))
      .join(reps.as("r2"), col("r2.dig") === col("d2"))
      .select(col("d1"), col("d2"), col("r1.rep_id").as("ra"),
        col("r2.rep_id").as("rb"))
    val repIds = rp
      .select(explode(array(col("ra"), col("rb"))).as("doc_id"))
      .distinct()
    val g = docs.join(repIds, "doc_id")
      .select(col("doc_id"), F.word_hashes(col("text")).as("wh"))
      .filter(size(col("wh")) >= 3)
      .select(col("doc_id"),
        posexplode(expr(Portable.posShinglesSpark))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    val shared = rp
      .join(g.as("ga"), col("ga.doc_id") === col("ra"))
      .join(g.as("gb"),
        col("gb.doc_id") === col("rb") && col("gb.h") === col("ga.h"))
      .select(col("d1"), col("d2"),
        col("ga.pos").as("pa"), col("gb.pos").as("pb"))
      .distinct()
    val isl = shared
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(
        Window.partitionBy(col("d1"), col("d2"), col("diag"))
          .orderBy(col("pa"))))
    val agg = isl.groupBy("d1", "d2", "diag", "grp")
      .agg(count(lit(1)).as("g_run"))
      .groupBy("d1", "d2")
      .agg((max(col("g_run")) + 2).as("longest_run_words"),
        sum(col("g_run")).as("n_shared_grams"))
    val neOut = vpNe.join(agg, Seq("d1", "d2"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("longest_run_words"), lit(0L)).as("lr"),
        coalesce(col("n_shared_grams"), lit(0L)).as("nsg"))
    // fast path, once per distinct digest: on identical texts the
    // longest run is the whole doc and the shared-gram count is Σ c_h²
    // of the doc's OWN gram multiset (each repeated gram value matches
    // itself at every position pair)
    val eqDig = vpEq.select(col("dig_a").as("dig")).distinct()
    val eqReps = dg.join(eqDig, "dig")
      .groupBy("dig").agg(min(col("doc_id")).as("rep_id"))
    val eqw = docs
      .join(eqReps, col("doc_id") === col("rep_id"))
      .select(col("dig"), F.word_hashes(col("text")).as("wh"))
    val eqSelf = eqw
      .filter(size(col("wh")) >= 3)
      .select(col("dig"),
        explode(expr(Portable.posShinglesSpark)).as("h"))
      .groupBy("dig", "h").agg(count(lit(1)).as("c"))
      .groupBy("dig").agg(sum(col("c") * col("c")).as("nsg"))
    val eqStats = eqw
      .select(col("dig"), size(col("wh")).cast("long").as("nw"))
      .join(eqSelf, Seq("dig"), "left")
      .select(col("dig"), col("nw"),
        coalesce(col("nsg"), lit(0L)).as("nsg"))
    val eqOut = vpEq
      .join(eqStats, col("dig") === col("dig_a"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        when(col("nw") >= 3, col("nw")).otherwise(lit(0L)).as("lr"),
        when(col("nw") >= 3, col("nsg")).otherwise(lit(0L)).as("nsg"))
    neOut.unionByName(eqOut)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * 10000).cast("long").as("jaccard_bp"),
        col("lr").as("longest_run_words"),
        col("nsg").as("n_shared_grams"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- e143: CUSUM changepoint screen on daily event volume ---------------

  /** Page's CUSUM (Page 1954) over daily event counts per event type —
    * the SEQUENTIAL-drift member of the monitoring family: e115's PSI
    * compares whole weekly distributions against a reference window,
    * while CUSUM accumulates small sustained deviations day by day and
    * names the day the accumulated excess peaked — the statistic that
    * catches a slow ramp PSI's week-grain buckets smear out. Reported
    * per type: the max one-sided upward CUSUM statistic, its date
    * (tie → earliest), and an alarm when the cumulative excess tops one
    * full average day's volume (`excess_bp > 10000`).
    *
    * Relational shape — the prefix-sum closed form. The textbook
    * recursion S_t = max(0, S_{t−1} + (x_t − k)) looks inherently
    * sequential, but with P_t = Σ_{i≤t}(x_i − k) it collapses to
    * S_t = P_t − min_{0≤j≤t} P_j (P_0 = 0 carried by the least(0, ·)):
    * one running sum + one running min, both plain windows — no
    * recursion, no UDAF, no driver loop. E143CusumSpec pins the
    * identity against the recursion, day by day.
    * The reference rate k is the type's own mean; scaling deviations by
    * n_days (d_t = nd·x_t − tot) keeps every P_t an exact integer that
    * sums to zero over the period, so argmax selection and the
    * tie-break never touch a float, and both engines agree bit-for-bit
    * (st ≥ 0 and tot > 0, so `//` floor and `div` truncate coincide).
    *
    * Scale (100 TB): ONE (type, day)-keyed aggregation of the fact
    * scan; everything after runs on the #types × #days frame (checked
    * once via localCheckpoint — three bounded consumers). Windows
    * partition by type over ≤ #days rows. Headroom: |P_t| ≤ nd·tot, so
    * BIGINT holds past 10^14 events/type at a year's grain. Fleet
    * variants: per (type, region) adds a key column; two-sided CUSUM
    * adds the mirrored max(P) window; known-rate monitoring replaces
    * tot/nd with the contractual rate.
    */
  private def e143Cusum = QueryDef.pinned(
    "e143_cusum",
    """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
      |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
      |days AS (SELECT CAST(unnest(generate_series(
      |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS d FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM e),
      |cnt AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2),
      |grid AS (SELECT t.event_type, dd.d,
      |    coalesce(c.c, CAST(0 AS BIGINT)) AS x
      |  FROM types t CROSS JOIN days dd
      |  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.d = dd.d),
      |tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS tot,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM grid GROUP BY 1),
      |p AS (SELECT g.event_type, g.d, t.tot, t.nd,
      |    CAST(sum(t.nd * g.x - t.tot) OVER (PARTITION BY g.event_type
      |      ORDER BY g.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
      |      ROW) AS BIGINT) AS pt
      |  FROM grid g JOIN tot t ON t.event_type = g.event_type),
      |s AS (SELECT event_type, d, tot, nd,
      |    pt - least(CAST(0 AS BIGINT),
      |      min(pt) OVER (PARTITION BY event_type ORDER BY d
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS st
      |  FROM p),
      |pick AS (SELECT event_type, d, tot, nd, st,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY st DESC, d ASC) AS rn
      |  FROM s)
      |SELECT event_type, nd AS n_days, tot AS total_events,
      |  st AS cusum_max,
      |  CAST(st * 10000 // tot AS BIGINT) AS excess_bp,
      |  d AS alarm_day,
      |  CASE WHEN st * 10000 // tot > 10000 THEN 1 ELSE 0 END
      |    AS alarmed
      |FROM pick WHERE rn = 1
      |ORDER BY event_type""".stripMargin) { (p, s, dir) =>
    // bounded (#types × #days); feeds bounds, types, and the grid
    // join — one fact pass
    val cnt = p.checkpoint(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c")))
    val days = cnt.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("d"))
    val grid = cnt.select("event_type").distinct()
      .crossJoin(days)
      .join(cnt, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("c"), lit(0L)).as("x"))
    val tot = grid.groupBy("event_type")
      .agg(sum(col("x")).as("tot"), count(lit(1)).as("nd"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val prefix = grid.join(tot, "event_type")
      .withColumn("pt", sum(col("nd") * col("x") - col("tot")).over(
        wRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val st = prefix.withColumn("st",
      col("pt") - least(lit(0L), min(col("pt")).over(
        wRun.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val excess = expr("st * 10000 div tot")
    st.withColumn("rn", row_number().over(Window
        .partitionBy(col("event_type"))
        .orderBy(col("st").desc, col("d").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("nd").as("n_days"),
        col("tot").as("total_events"), col("st").as("cusum_max"),
        excess.as("excess_bp"), col("d").as("alarm_day"),
        when(excess > 10000, 1).otherwise(0).as("alarmed"))
      .orderBy("event_type")
  }

  // ---- e146: isotonic calibration via the max-min closed form -------------

  /** Isotonic (PAV) calibration of an empirical rate curve — Zadrozny &
    * Elkan 2002's score-calibration step, here fitting the monotone
    * curve quantity → P(return) over lineitem: the map a filter
    * pipeline applies to turn a classifier's raw score into an honest
    * probability before thresholding (e131 then picks the threshold).
    * The e143 pattern repeated: pool-adjacent-violators looks
    * inherently sequential (scan, merge pools backward, repeat), but
    * the weighted isotonic fit has Robertson's max-min closed form
    *     fit_i = max_{j≤i} min_{k≥i} mean(y, bins j..k)
    * — prefix sums + two bounded non-equi joins, no loop. The score
    * grid is construction-bounded (≤ 50 distinct quantities), so the
    * (i, j, k) triple space is ≤ 50³ rows of integer arithmetic
    * whatever the corpus size.
    *
    * Exactness: the interval means are rationals; comparing them after
    * integer floor division is safe here because floor is monotone and
    * therefore commutes with min and max — max_j min_k ⌊a_jk⌋ =
    * ⌊max_j min_k a_jk⌋ — so the reported ppm fit is exactly the floor
    * of the exact isotonic fit, bit-identical across engines (both
    * sides positive: `//` = `div` = floor). E146IsotonicSpec pins the
    * closed form against a driver-side exact-rational PAV
    * implementation, plus the two boundary regimes (anti-monotone
    * input pools to one global mean; already-monotone input is a
    * fixed point).
    *
    * Scale (100 TB): ONE fact aggregation to the ≤ 50-row bin table
    * (map-side partial); everything after is grid-bounded. Headroom:
    * cp·10⁶ holds to ~9·10^12 positives per curve — past that, the
    * DECIMAL(38,0) lever (the revenue-accumulator note). Per-source
    * curves add the source key to every grouping; finer score grids
    * (e62's 10001-bin calibration) keep the same shape with the
    * closed form priced at B² pairs — the documented crossover to the
    * driver-side PAV fold that a 10⁴-bin grid would warrant.
    */
  private def e146IsotonicCalibration = QueryDef.pinned(
    "e146_isotonic_calibration",
    """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM lineitem GROUP BY 1),
      |p AS (SELECT q, n, pos,
      |    CAST(sum(n) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
      |    CAST(sum(pos) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
      |  FROM b),
      |pairs AS (SELECT pj.q AS j, pk.q AS k,
      |    (pk.cp - pj.cp + pj.pos) * 1000000
      |      // (pk.cn - pj.cn + pj.n) AS a
      |  FROM p pj JOIN p pk ON pj.q <= pk.q),
      |mi AS (SELECT pi.q AS i, pr.j, min(pr.a) AS m
      |  FROM p pi JOIN pairs pr ON pr.j <= pi.q AND pr.k >= pi.q
      |  GROUP BY 1, 2),
      |fit AS (SELECT i AS q, max(m) AS fit_ppm FROM mi GROUP BY 1)
      |SELECT b.q AS quantity, b.n, b.pos,
      |  b.pos * 1000000 // b.n AS raw_ppm, f.fit_ppm
      |FROM b JOIN fit f ON f.q = b.q ORDER BY quantity""".stripMargin) {
    (p, s, dir) =>
      val bins = Tables.lineitem(s, dir)
        .groupBy(col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("pos"))
      isotonicFromBins(p, bins)
  }

  /** Core of e146 past binning: the max-min closed form over a
    * `(q, n, pos)` bin table, nondecreasing in `q`. Split out so
    * E146IsotonicSpec can drive the boundary regimes with hand-built
    * bins. The unpartitioned prefix window and the non-equi joins all
    * run on the construction-bounded bin grid, never on fact rows.
    */
  private[queries] def isotonicFromBins(p: Pins, bins: DataFrame)
      : DataFrame = {
    val b = p.checkpoint(bins) // grid-bounded; feeds the prefix, pairs,
                               // and final join
    // two-level prefix over the ≤ 50-row quantity grid: no
    // unpartitioned cumulative window; b is already checkpoint-backed,
    // so the helper's two reads of it are cheap
    val cum = BoundedPrefix.cumsum(b, "q", expr("q div 8"),
      Seq("n" -> "cn", "pos" -> "cp"))
    // explicit broadcast on the grid-bounded non-equi pairings:
    // the BoundedPrefix join output carries no small-size estimate, so
    // without the hint the planner degrades these inner non-equi joins
    // to CartesianProductExec (the lint's hard ban)
    val pairs = cum.as("pj")
      .join(broadcast(cum.as("pk")), col("pj.q") <= col("pk.q"))
      .select(col("pj.q").as("j"), col("pk.q").as("k"),
        expr("(pk.cp - pj.cp + pj.pos) * 1000000" +
          " div (pk.cn - pj.cn + pj.n)").as("a"))
    val mi = pairs
      .join(broadcast(cum.select(col("q").as("i"))),
        col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min(col("a")).as("m"))
    val fit = mi.groupBy("i").agg(max(col("m")).as("fit_ppm"))
    b.join(fit, col("q") === col("i"))
      .select(col("q").as("quantity"), col("n"), col("pos"),
        expr("pos * 1000000 div n").as("raw_ppm"), col("fit_ppm"))
      .orderBy("quantity")
  }

  // ---- e140: keyed pseudonymization with self-proving invariants ----------

  /** Deterministic keyed pseudonymization of the user id column — the
    * privacy-prep transform a training pipeline applies BEFORE events
    * leave the trust boundary: e19 destroys PII in text; this replaces
    * the identifier while preserving exactly the two properties
    * downstream processing needs, and PROVES both in its own output
    * instead of asserting them:
    *
    *  - injectivity on this corpus (`n_collisions` = pseudo-ids shared
    *    by ≥ 2 real users — must read 0, else joins silently merge
    *    users): the cube-mix draw ([[graft.gen.MockData.hashLong]]
    *    arithmetic, pseudonymization-tagged seed) is in fact a
    *    PERMUTATION of [0, P) — gcd(3, P−1) = 1 makes cubing bijective
    *    mod the prime, and the affine pre-map trivially is — so
    *    collisions can only enter through ids ≥ P reducing mod P (the
    *    id-domain wrap) or a future swap to a truncating production
    *    hash (xxhash64 & mask is NOT injective). The census measures
    *    the property rather than trusting the algebra: it stays
    *    correct under either change, and the birthday bound (n²/2P)
    *    says when a truncating pseudonym must widen to 128 bits;
    *  - distribution invariance: the events-per-user frequency table
    *    computed on pseudonymized ids must equal the raw one row for
    *    row (n_users_raw = n_users_pseudo at every activity level) —
    *    the analytics-preserving claim, checked at the finest grain
    *    an id-free consumer can observe.
    *
    * Output: one row per events-per-user level with both censuses and
    * the global collision count riding along. Scale (100 TB): two
    * user-keyed aggregations (raw and pseudo) of the same fact scan —
    * the pseudo one groups by a column computed IN the scan
    * projection, so no extra pass — plus a #users-row collision
    * census; the frequency rollup is map-side combinable to ≤
    * #distinct-activity-levels rows.
    */
  private def e140Pseudonymize = {
    val seed = 42L
    val drawDuck = graft.gen.MockData.hashLongDuck(seed, "pseudo", "user_id")
    QueryDef.sql(
      "e140_pseudonymize",
      s"""WITH ev AS (SELECT user_id, $drawDuck AS pseudo_id FROM events
         |  WHERE user_id IS NOT NULL),
         |coll AS (SELECT CAST(count(*) AS BIGINT) AS n_collisions FROM (
         |    SELECT pseudo_id FROM (SELECT DISTINCT user_id, pseudo_id
         |      FROM ev)
         |    GROUP BY pseudo_id HAVING count(*) > 1)),
         |raw AS (SELECT CAST(count(*) AS BIGINT) AS n_events, user_id
         |  FROM ev GROUP BY user_id),
         |pse AS (SELECT CAST(count(*) AS BIGINT) AS n_events, pseudo_id
         |  FROM ev GROUP BY pseudo_id),
         |rf AS (SELECT n_events, CAST(count(*) AS BIGINT) AS n_users_raw
         |  FROM raw GROUP BY n_events),
         |pf AS (SELECT n_events, CAST(count(*) AS BIGINT)
         |    AS n_users_pseudo
         |  FROM pse GROUP BY n_events)
         |SELECT coalesce(rf.n_events, pf.n_events) AS events_per_user,
         |  coalesce(rf.n_users_raw, 0) AS n_users_raw,
         |  coalesce(pf.n_users_pseudo, 0) AS n_users_pseudo,
         |  coll.n_collisions
         |FROM rf FULL OUTER JOIN pf ON pf.n_events = rf.n_events
         |CROSS JOIN coll
         |ORDER BY events_per_user""".stripMargin) { (s, dir) =>
      val draw = graft.gen.MockData.hashLong(seed, "pseudo", col("user_id"))
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), draw.as("pseudo_id"))
      val coll = ev.select("user_id", "pseudo_id").distinct()
        .groupBy("pseudo_id").agg(count(lit(1)).as("nu"))
        .filter(col("nu") > 1)
        .agg(count(lit(1)).as("n_collisions"))
      val rf = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .groupBy("n_events").agg(count(lit(1)).as("n_users_raw"))
      val pf = ev.groupBy("pseudo_id").agg(count(lit(1)).as("n_events"))
        .groupBy("n_events").agg(count(lit(1)).as("n_users_pseudo"))
      rf.join(pf, Seq("n_events"), "full_outer")
        .crossJoin(coll)
        .select(col("n_events").as("events_per_user"),
          coalesce(col("n_users_raw"), lit(0L)).as("n_users_raw"),
          coalesce(col("n_users_pseudo"), lit(0L)).as("n_users_pseudo"),
          col("n_collisions"))
        .orderBy(col("events_per_user"))
    }
  }

  // ---- e132: dedup-threshold tuning sweep ---------------------------------

  /** The Jaccard-cutoff tuning curve for the near-dup pipeline: for
    * each candidate threshold (3000…9000 bp), how many verified pairs
    * survive and how much of the corpus (docs, chars) they touch.
    * e61/e103 audit DETECTOR fidelity at a fixed threshold; this is
    * the knob-setting artifact — the operator reads the elbow (pair
    * volume collapses while coverage holds → tighten; coverage
    * collapses too → the extra pairs were real duplication) BEFORE
    * paying for the full e32→e45 cluster/apply run at one chosen t.
    * Exact removable volume at the chosen t still needs components
    * (covered − one canonical per cluster); this sweep bounds it from
    * above at every t for the cost of one pair scan.
    *
    * Thresholds compare as `jaccard ≥ thr_bp / 10⁴` with the division
    * done in DOUBLE in both engines — bit-identical to the literal
    * 0.3/0.4/… comparisons the rest of the dedup family uses, so the
    * sweep's t = 3000 row reconciles exactly with e116/e120/e129's
    * J ≥ 0.3 edge sets.
    *
    * Scale (100 TB): the pair set is banding-bounded; the sweep is ONE
    * scan of it against a 7-row broadcast threshold table (fan-out ≤ 7,
    * construction-bounded — the e22 BNLJ pattern), then per-threshold
    * counts and a doc-keyed join for the char mass. No per-threshold
    * re-verification, no CC.
    */
  private def e132DedupSweep = QueryDef.pinned(
    "e132_dedup_sweep",
    s"""${ExtensionQueries.minhashPairsDuck},
       |vp AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM verified
       |  WHERE jaccard >= 0.3),
       |thr AS (SELECT unnest([3000, 4000, 5000, 6000, 7000, 8000,
       |    9000]) AS thr_bp),
       |pt AS MATERIALIZED (SELECT t.thr_bp, v.doc_a, v.doc_b FROM thr t
       |  JOIN vp v ON v.jaccard >= CAST(t.thr_bp AS DOUBLE) / 10000),
       |cov AS (SELECT thr_bp, doc FROM (
       |    SELECT thr_bp, doc_a AS doc FROM pt
       |    UNION ALL SELECT thr_bp, doc_b FROM pt)
       |  GROUP BY 1, 2),
       |pc AS (SELECT thr_bp, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pt GROUP BY 1),
       |cc AS (SELECT cov.thr_bp, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(d.n_chars) AS BIGINT) AS chars_touched
       |  FROM cov JOIN documents d ON d.doc_id = cov.doc GROUP BY 1)
       |SELECT CAST(pc.thr_bp AS BIGINT) AS thr_bp, pc.n_pairs,
       |  cc.n_docs, cc.chars_touched
       |FROM pc JOIN cc ON cc.thr_bp = pc.thr_bp
       |ORDER BY thr_bp""".stripMargin) {
    (p, s, dir) =>
      import s.implicits._
      val thrDf = (3000L to 9000L by 1000L).toDF("thr_bp")
      // Checkpoint the swept pair set: pc and BOTH cov union legs read
      // it, and without the cut each would recompute the 7-way
      // threshold join — three scans where the docstring promises one
      // (the DuckDB side's pt AS MATERIALIZED is the same cut). vp is
      // dead once pt materializes.
      val vp = p.checkpoint(ExtensionQueries.minhashVerifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.3))
      val pt = p.checkpoint(vp.join(thrDf,
          col("jaccard") >= col("thr_bp").cast("double") / 10000)
        .select(col("thr_bp"), col("doc_a"), col("doc_b")))
      p.release(vp)
      val cov = pt.select(col("thr_bp"), col("doc_a").as("doc"))
        .unionByName(pt.select(col("thr_bp"), col("doc_b").as("doc")))
        .groupBy("thr_bp", "doc").agg(count(lit(1)).as("_n"))
      val pc = pt.groupBy("thr_bp").agg(count(lit(1)).as("n_pairs"))
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("n_chars"))
      val cc = cov.join(docs, cov("doc") === docs("doc_id"))
        .groupBy("thr_bp")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars_touched"))
      pc.join(cc, "thr_bp")
        .select(col("thr_bp"), col("n_pairs"), col("n_docs"),
          col("chars_touched"))
        .orderBy(col("thr_bp"))
  }

  // ---- e147: NN-Descent kNN-graph construction with recall audit ----------

  /** An NN-Descent run with its recall audit (e147, e147b, e158):
    * `build` makes the checkpointed graphs 0..R from the vector table
    * of `emb` and names its per-round counts, and each graph gets one
    * audit row against the float anchor truth, whose leg reads only
    * the vector table and so overlaps the build rounds. The returned
    * plan reads every graph and the truth, so they stay pinned in `p`;
    * the vector table is released on return.
    */
  private[queries] def nndAudit(p: Pins, emb: DataFrame,
      kernel: NnDescent.Kernel, K: Int, anchors: Int)(
      build: NnDescent.Vectors => (Seq[DataFrame], Seq[(String, Seq[Long])]))
      : DataFrame = {
    val v = NnDescent.vectors(emb, kernel)
    p.own(v.r)
    val truth = p.overlap(NnDescent.anchorTruth(p, v.r, K, anchors))
    val (knns, counts) = build(v)
    knns.foreach(p.own)
    val out = NnDescent.roundMetrics(knns, kernel.score, truth(), K, counts: _*)
    p.release(v.r)
    out
  }

  /** An NN-Descent production plan: the last graph of `build`, no
    * truth leg. The vector table and the earlier rounds are released
    * on return.
    */
  private def nndGraph(p: Pins, emb: DataFrame,
      kernel: NnDescent.Kernel)(build: NnDescent.Vectors => Seq[DataFrame])
      : DataFrame = {
    val v = NnDescent.vectors(emb, kernel)
    p.own(v.r)
    val knns = build(v).map(p.own)
    (v.r +: knns.init).foreach(p.release)
    knns.last
  }

  /** e147/e147b's two forms: ring init + `rounds` plain rounds under
    * `kernel`, audited per round, or the final graph alone.
    */
  private def nndPlain(q: String, sql: String, kernel: NnDescent.Kernel,
      K: Int, rounds: Int, anchors: Int): QueryDef =
    QueryDef.pinned(q, sql) { (p, s, dir) =>
      nndAudit(p, Tables.embeddings(s, dir), kernel, K, anchors) { v =>
        val (knns, pools) = NnDescent.plainBuild(v, K, rounds)
        (knns, Seq("n_scored" -> (0L +: pools)))
      }
    }.withBuildOnly((p, s, dir) =>
      nndGraph(p, Tables.embeddings(s, dir), kernel)(
        NnDescent.plainBuild(_, K, rounds)._1))

  /** NN-Descent (Dong, Moses Charikar, Li, WWW'11): build the
    * all-vectors k-nearest-neighbor graph by ITERATIVE REFINEMENT —
    * start from an arbitrary graph, and each round propose every pair
    * of vertices that share a graph neighbor (in either direction),
    * keeping each vertex's best K by cosine. "A neighbor of a neighbor
    * is likely a neighbor" is the only assumption, so unlike the
    * one-shot bucketing families — e6 sign-LSH (random hyperplanes),
    * e17/e64 IVF (a TRAINED codebook) — NN-Descent needs no hash
    * design and no training pass, and it targets the GRAPH itself
    * (what e125's mutual-kNN and e105's propagation consume), not a
    * per-query index. Init is a deterministic ring over the dense
    * vec_id rank (the worst case for a locality argument — every
    * measured recall gain is the algorithm's own work, none is
    * smuggled in by a warm start).
    *
    * Output: one row per round (0 = init) — pairs scored that round,
    * the graph's mean edge cosine in integer ten-thousandths, and
    * recall@10 against the exact top-K truth on a CONSTANT-BUDGET
    * anchor slice: the 64 lowest multiplicative-hash vec_ids (the
    * e103b deterministic-slice posture, plus its Agresti–Coull
    * adjusted-SE column `recall_se_bp`). Constant, not proportional:
    * a vec_id % 50 slice makes the truth leg N²/50, which forced a
    * 48 GiB heap at the 100× probe (an ~800M-row ranking window) while
    * the BUILD stayed bounded.
    * 64 anchors cost B·N at ANY corpus size and estimate the same
    * recall unbiasedly; the SE column (±~60 bp at 640 truth edges)
    * prices the budget honestly. Measured at sf0.01
    * (N=500, K=10, ring init, 8 rounds): recall 400 → 1200 → … → 7500
    * bp, mean edge cosine 0 → 2767 tenths-of-bp, 20k–52k pairs/round
    * (the reverse-cap costs 200 bp of round-8 recall vs uncapped —
    * the price of the hub bound on this corpus).
    * The SLOW climb is itself the finding: this corpus's embeddings
    * are isotropic random (true-top-10 label agreement 10.3 % = chance
    * over 10 labels; true-neighbor cosine 0.30 vs global 0.0004), the
    * paper's worst case — intrinsic dimension = full 64, so
    * "neighbor-of-neighbor" carries little signal and the graph earns
    * recall linearly instead of the 2–3-round convergence clustered
    * real-world embeddings show. At this toy N the 8 rounds even score
    * MORE pairs (Σ 324k) than one brute-force build (250k) — the
    * crossover is where N ≫ K²·rounds, i.e. real corpus sizes, where
    * brute force is N²-impossible and this is the standard build.
    *
    * Determinism: the e93 contract — cosines rounded to 4 dp (+0
    * normalizes −0.0) BEFORE ranking, ties broken by ascending
    * candidate id; both engines fold the 64-dim dot sequentially, so
    * the doubles are bit-identical. The mean edge cosine is an integer
    * floor division of the rounded ten-thousandths sum.
    *
    * Scale (100 TB of vectors): every stage is a keyed equi-join —
    * candidate generation is und ⋈ und on the WITNESS vertex, cost
    * Σ_v deg(v)², and reverse lists are CAPPED at K (the paper's
    * reverse-sample knob, deterministic lowest-id rule) so every
    * degree is ≤ 2K and the bound N·(2K)² holds REGARDLESS of hubs —
    * uncapped, the 100× dense-clone probe OOMed: every clone set
    * funnels its reverse edges onto its 10 lowest-id clones (reverse
    * degree ≈ clone count, candidates ≈ clones² per witness), the
    * hubness e125 measures. The top-K is a per-vertex
    * WindowGroupLimit (partial top-k map-side). The graph (N·K edges)
    * and the vector table are the only shuffled relations; nothing is
    * ever all-pairs. The remaining production knobs: int8 scoring
    * (e93's lever — 8× smaller vector payload on the score joins, the
    * measured shuffle dominator) and the new/old incremental flags of
    * the paper (halve candidate regeneration; here each round rescores
    * its pool — the bound is unchanged).
    * The driver-side loop is ROUNDS = 8 eager checkpoints, the e132
    * discipline; NN-Descent's own convergence rule (stop when updates
    * dry up) is a count per round in production. The oracle's
    * round CTEs are AS MATERIALIZED — each is referenced 2–4×, and
    * DuckDB inlines plain CTEs (the e125 note), which re-evaluates the
    * whole prefix 4^rounds times.
    */
  private def e147NnDescent = {
    val K = 10
    val rounds = 8
    val roundCtes = (0 until rounds).map { i =>
      s"""rev$i AS (SELECT dst AS src, src AS dst
         |  FROM (SELECT src, dst, row_number() OVER (PARTITION BY dst
         |      ORDER BY src) AS rr FROM knn$i) t
         |  WHERE rr <= $K),
         |und$i AS MATERIALIZED (SELECT src, dst FROM knn$i
         |  UNION SELECT src, dst FROM rev$i),
         |cand$i AS (SELECT DISTINCT j1.dst AS src, j2.dst AS dst
         |  FROM und$i j1 JOIN und$i j2
         |    ON j1.src = j2.src AND j1.dst <> j2.dst),
         |pool$i AS MATERIALIZED (SELECT src, dst FROM cand$i
         |  UNION SELECT src, dst FROM knn$i),
         |sc$i AS (SELECT p.src, p.dst,
         |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos
         |  FROM pool$i p JOIN r a ON a.vec_id = p.src
         |  JOIN r c ON c.vec_id = p.dst),
         |knn${i + 1} AS MATERIALIZED (SELECT src, dst, cos FROM sc$i
         |  QUALIFY row_number() OVER (PARTITION BY src
         |    ORDER BY cos DESC, dst) <= $K),""".stripMargin
    }.mkString("\n")
    val anchorBudget = 64
    val metricSelects = (0 to rounds).map { i =>
      val scoredRel = if (i == 0) "sc_init" else s"knn$i"
      val nScored = if (i == 0) "0" else s"(SELECT count(*) FROM pool${i - 1})"
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  CAST($nScored AS BIGINT) AS n_scored,
         |  (SELECT CAST(sum(CAST(round(cos * 10000) AS BIGINT))
         |      // count(*) AS BIGINT) FROM $scoredRel) AS avg_cos_t,
         |  CAST((SELECT count(*) FROM knn$i k JOIN truth t
         |      ON t.src = k.src AND t.dst = k.dst) AS BIGINT) AS hits,
         |  na.n_anchors AS n_anchors
         |FROM na""".stripMargin
    }.mkString("\nUNION ALL\n")
    nndPlain(
      "e147_nn_descent",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(${vecDotDuck("v", "v")}) AS nrm FROM b),
         |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |r AS MATERIALIZED (SELECT vec_id, uv,
         |    row_number() OVER (ORDER BY vec_id) - 1 AS rid FROM u),
         |nn AS (SELECT count(*) AS n FROM r),
         |knn0 AS MATERIALIZED (SELECT a.vec_id AS src, c.vec_id AS dst
         |  FROM r a CROSS JOIN nn
         |  CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS o) os
         |  JOIN r c ON c.rid = (a.rid + os.o) % nn.n),
         |sc_init AS (SELECT k.src, k.dst,
         |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos
         |  FROM knn0 k JOIN r a ON a.vec_id = k.src
         |  JOIN r c ON c.vec_id = k.dst),
         |$roundCtes
         |${anchorTruthDuck("r", "", K, anchorBudget)}
         |na AS (SELECT count(DISTINCT src) AS n_anchors FROM truth),
         |mraw AS ($metricSelects),
         |${recallDuck(K)}
         |SELECT round, n_scored, avg_cos_t, recall_bp,
         |  s0 + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= sx
         |         THEN 1 ELSE 0 END
         |     - CASE WHEN s0 * s0 > sx THEN 1 ELSE 0 END AS recall_se_bp
         |FROM m3 ORDER BY round""".stripMargin,
      NnDescent.Float, K, rounds, anchorBudget)
  }

  // ---- e147b: NN-Descent in the int8 domain --------------------------------

  /** e147's graph build with the SCORING PAYLOAD quantized — the
    * measured remedy for the measured bottleneck: the e147 probe put
    * ~all of the 37.5 GB 100× shuffle in vector payloads riding the
    * pair-score joins (512 B of ARRAY<DOUBLE> per vector per pair
    * side). Here every vector ships as a 64-BYTE [[expressions
    * .Int8Pack]] code + one double scale (e26/e93's symmetric rule),
    * and scoring is the codegen'd [[expressions.Int8Dot]] byte
    * multiply-accumulate corrected by `qdot·scale_a·scale_c` — 8×
    * less pair-join payload AND the SIMD-wide inner loop, with the
    * same round/candidate structure as e147 (ring init, reverse cap,
    * 8 rounds, 4-dp + id-tiebreak determinism on the corrected score).
    *
    * recall_bp is judged against the FLOAT-exact anchor truth, so the
    * one number prices graph error AND quantization error end-to-end:
    * measured at sf0.01, 8100 bp after 8 rounds vs e147's 7500 — the
    * quantized build DID NOT lose recall here; it gained 600 bp,
    * because on an isotropic corpus the 4-dp score grid is tie-dense
    * and int8 rounding perturbs which near-tied candidate survives
    * each round — exploration noise, the same mechanism that makes
    * NN-Descent's randomized variants converge faster. On clustered
    * corpora with real margins the e93 one-shot measurement (small
    * recall loss) is the right prior; either way the 8× payload cut
    * is free to try and this audit prices it per corpus. The float
    * vectors never enter a pair-scale join — only the bounded
    * anchor-truth side reads them.
    *
    * Scale posture otherwise identical to e147; at 100 TB the payload
    * term is the dominant shuffle, so the 8× is ~8× off the wire.
    */
  private def e147bNnDescentInt8 = {
    val K = 10
    val rounds = 8
    def qdotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    val roundCtes = (0 until rounds).map { i =>
      s"""rev$i AS (SELECT dst AS src, src AS dst
         |  FROM (SELECT src, dst, row_number() OVER (PARTITION BY dst
         |      ORDER BY src) AS rr FROM knn$i) t
         |  WHERE rr <= $K),
         |und$i AS MATERIALIZED (SELECT src, dst FROM knn$i
         |  UNION SELECT src, dst FROM rev$i),
         |cand$i AS (SELECT DISTINCT j1.dst AS src, j2.dst AS dst
         |  FROM und$i j1 JOIN und$i j2
         |    ON j1.src = j2.src AND j1.dst <> j2.dst),
         |pool$i AS MATERIALIZED (SELECT src, dst FROM cand$i
         |  UNION SELECT src, dst FROM knn$i),
         |sc$i AS (SELECT p.src, p.dst,
         |    round((${qdotD("a.qv", "c.qv")} * a.scale) * c.scale, 4)
         |      + 0 AS qcos
         |  FROM pool$i p JOIN r a ON a.vec_id = p.src
         |  JOIN r c ON c.vec_id = p.dst),
         |knn${i + 1} AS MATERIALIZED (SELECT src, dst, qcos FROM sc$i
         |  QUALIFY row_number() OVER (PARTITION BY src
         |    ORDER BY qcos DESC, dst) <= $K),""".stripMargin
    }.mkString("\n")
    val anchorBudget = 64
    val metricSelects = (0 to rounds).map { i =>
      val scoredRel = if (i == 0) "sc_init" else s"knn$i"
      val nScored = if (i == 0) "0" else s"(SELECT count(*) FROM pool${i - 1})"
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  CAST($nScored AS BIGINT) AS n_scored,
         |  (SELECT CAST(sum(CAST(round(qcos * 10000) AS BIGINT))
         |      // count(*) AS BIGINT) FROM $scoredRel) AS avg_qcos_t,
         |  CAST((SELECT count(*) FROM knn$i k JOIN truth t
         |      ON t.src = k.src AND t.dst = k.dst) AS BIGINT) AS hits,
         |  na.n_anchors AS n_anchors
         |FROM na""".stripMargin
    }.mkString("\nUNION ALL\n")
    nndPlain(
      "e147b_nn_descent_int8",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(${vecDotDuck("v", "v")}) AS nrm FROM b),
         |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |qsc AS (SELECT vec_id, uv,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(uv, x -> abs(x))), (a, x) -> greatest(a, x))
         |      / 127 AS scale
         |  FROM u),
         |r AS MATERIALIZED (SELECT vec_id, uv, scale,
         |    list_transform(range(1, 65),
         |      i -> CAST(floor(uv[i] / scale + 0.5) AS BIGINT)) AS qv,
         |    row_number() OVER (ORDER BY vec_id) - 1 AS rid
         |  FROM qsc WHERE scale > 0),
         |nn AS (SELECT count(*) AS n FROM r),
         |knn0 AS MATERIALIZED (SELECT a.vec_id AS src, c.vec_id AS dst
         |  FROM r a CROSS JOIN nn
         |  CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS o) os
         |  JOIN r c ON c.rid = (a.rid + os.o) % nn.n),
         |sc_init AS (SELECT k.src, k.dst,
         |    round((${qdotD("a.qv", "c.qv")} * a.scale) * c.scale, 4)
         |      + 0 AS qcos
         |  FROM knn0 k JOIN r a ON a.vec_id = k.src
         |  JOIN r c ON c.vec_id = k.dst),
         |$roundCtes
         |${anchorTruthDuck("r", "", K, anchorBudget)}
         |na AS (SELECT count(DISTINCT src) AS n_anchors FROM truth),
         |mraw AS ($metricSelects),
         |${recallDuck(K)}
         |SELECT round, n_scored, avg_qcos_t, recall_bp,
         |  s0 + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= sx
         |         THEN 1 ELSE 0 END
         |     - CASE WHEN s0 * s0 > sx THEN 1 ELSE 0 END AS recall_se_bp
         |FROM m3 ORDER BY round""".stripMargin,
      NnDescent.Int8, K, rounds, anchorBudget)
  }

  // ---- e158: NN-Descent with new/old flags and a convergence stop ----------

  /** e158's build: ring init (every edge new), then flagged rounds
    * ([[NnDescent.flaggedRound]]) until a round changes nothing — a
    * true fixpoint under the new/old rule, since with no new edge the
    * next candidate set is empty — or `maxRounds`. Returns the
    * checkpointed graphs 0..R, the fresh counts of rounds 1..R and the
    * update counts of rounds 0..R (round 0's is the init graph's size).
    */
  private[queries] def e158Graph(v: NnDescent.Vectors, K: Int,
      maxRounds: Int): (Vector[DataFrame], Vector[Long], Vector[Long]) =
    Pins.scope { p =>
      val knn0 = p.checkpoint(v.score(NnDescent.ringInit(v.r, v.r, v.n, K))
        .withColumn("is_new", lit(true)))
      var (knns, freshes, updates) =
        (Vector(knn0), Vector.empty[Long], Vector(knn0.count()))
      while (knns.size <= maxRounds && (knns.size == 1 || updates.last > 0)) {
        val (next, fresh, upd) = NnDescent.flaggedRound(p, v, knns.last, K)
        knns :+= next; freshes :+= fresh; updates :+= upd
      }
      (knns.map(p.keep), freshes, updates)
    }

  /** NN-Descent WITH the paper's incremental machinery — what e147
    * deliberately omits so its oracle can pin the plain algorithm.
    * Output: one row per REALIZED round (0 = ring init) — pairs
    * actually scored that round (init pays N·K; later rounds pay only
    * the anti-joined fresh candidates, never a rescore of the graph),
    * `n_updates` = edges that changed, the graph's mean edge cosine,
    * and the 64-anchor recall ± Agresti–Coull SE (the e147 harness).
    * The loop STOPS at the first round with n_updates = 0 (a true
    * fixpoint under new/old candidate generation — see
    * [[e158Graph]]); the oracle unrolls all maxRounds rounds
    * statically and cuts its output at the same data-driven round, so
    * the dynamic operator and the static SQL emit identical rows.
    *
    * Measured vs e147 at sf0.01 (same 8-round budget, same corpus):
    * Σ 172k pairs scored vs e147's 324k — a 47 % cut (no graph
    * rescoring, no re-proposals) — at a measured recall cost: 6593 bp
    * at round 8 vs e147's 7500. The cost is NOT tie noise; it is the
    * flags interacting with the REVERSE CAP: an old forward edge can
    * enter the capped reverse list only in a later round (the rr ≤ K
    * ranking shifts as sources churn), and its old×old witness pairs
    * are then skipped even though they were never actually proposed.
    * The paper's full-graph variant has no cap, so old×old ⇒
    * already-proposed holds exactly there; under the cap it is a
    * heuristic, and this corpus (tie-dense, isotropic, hub-free
    * signal) prices it at ~900 bp for 47 % less work — the n_scored /
    * recall_bp columns carry both sides of that trade per round.
    *
    * Scale (100 TB of vectors): the flags tighten e147's bound — the
    * pair budget is Σ|fresh| ≤ N·(2K)² per round with the reverse cap,
    * and in practice a fraction of it once the graph settles; the
    * convergence stop converts "8 rounds because the bench pinned 8"
    * into "as many rounds as the corpus needs", which on clustered
    * real-world embeddings is the 2–3 the paper reports.
    */
  private def e158NnDescentInc = {
    val K = 10
    val maxRounds = 8
    val anchorBudget = 64
    val roundCtes = (0 until maxRounds).map { i =>
      s"""rev$i AS (SELECT dst AS src, src AS dst, is_new
         |  FROM (SELECT src, dst, is_new, row_number() OVER (
         |      PARTITION BY dst ORDER BY src) AS rr FROM knnf$i) t
         |  WHERE rr <= $K),
         |und$i AS MATERIALIZED (SELECT src, dst, max(is_new) AS is_new
         |  FROM (SELECT src, dst, is_new FROM knnf$i
         |    UNION ALL SELECT src, dst, is_new FROM rev$i) u
         |  GROUP BY src, dst),
         |cand$i AS (SELECT DISTINCT j1.dst AS src, j2.dst AS dst
         |  FROM und$i j1 JOIN und$i j2
         |    ON j1.src = j2.src AND j1.dst <> j2.dst
         |    AND (j1.is_new OR j2.is_new)),
         |fresh$i AS MATERIALIZED (SELECT c.src, c.dst FROM cand$i c
         |  LEFT JOIN knnf$i k ON k.src = c.src AND k.dst = c.dst
         |  WHERE k.src IS NULL),
         |sc$i AS (SELECT f.src, f.dst,
         |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos
         |  FROM fresh$i f JOIN r a ON a.vec_id = f.src
         |  JOIN r c ON c.vec_id = f.dst),
         |top$i AS (SELECT src, dst, cos FROM (
         |    SELECT src, dst, cos FROM knnf$i
         |    UNION ALL SELECT src, dst, cos FROM sc$i) z
         |  QUALIFY row_number() OVER (PARTITION BY src
         |    ORDER BY cos DESC, dst) <= $K),
         |knnf${i + 1} AS MATERIALIZED (SELECT t.src, t.dst, t.cos,
         |    k.src IS NULL AS is_new
         |  FROM top$i t LEFT JOIN knnf$i k
         |    ON k.src = t.src AND k.dst = t.dst),""".stripMargin
    }.mkString("\n")
    val metricSelects = (0 to maxRounds).map { i =>
      val nScored = if (i == 0) "(SELECT count(*) FROM knnf0)"
        else s"(SELECT count(*) FROM fresh${i - 1})"
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  CAST($nScored AS BIGINT) AS n_scored,
         |  (SELECT CAST(count(*) AS BIGINT) FROM knnf$i WHERE is_new)
         |    AS n_updates,
         |  (SELECT CAST(sum(CAST(round(cos * 10000) AS BIGINT))
         |      // count(*) AS BIGINT) FROM knnf$i) AS avg_cos_t,
         |  CAST((SELECT count(*) FROM knnf$i k JOIN truth t
         |      ON t.src = k.src AND t.dst = k.dst) AS BIGINT) AS hits,
         |  na.n_anchors AS n_anchors
         |FROM na""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef.pinned(
      "e158_nn_descent_inc",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(${vecDotDuck("v", "v")}) AS nrm FROM b),
         |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |r AS MATERIALIZED (SELECT vec_id, uv,
         |    row_number() OVER (ORDER BY vec_id) - 1 AS rid FROM u),
         |nn AS (SELECT count(*) AS n FROM r),
         |knn0 AS MATERIALIZED (SELECT a.vec_id AS src, c.vec_id AS dst
         |  FROM r a CROSS JOIN nn
         |  CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS o) os
         |  JOIN r c ON c.rid = (a.rid + os.o) % nn.n),
         |knnf0 AS MATERIALIZED (SELECT k.src, k.dst,
         |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos,
         |    TRUE AS is_new
         |  FROM knn0 k JOIN r a ON a.vec_id = k.src
         |  JOIN r c ON c.vec_id = k.dst),
         |$roundCtes
         |${anchorTruthDuck("r", "", K, anchorBudget)}
         |na AS (SELECT count(DISTINCT src) AS n_anchors FROM truth),
         |mraw AS ($metricSelects),
         |stp AS (SELECT coalesce(min(round), $maxRounds) AS sr
         |  FROM mraw WHERE round >= 1 AND n_updates = 0),
         |${recallDuck(K)}
         |SELECT round, n_scored, n_updates, avg_cos_t, recall_bp,
         |  s0 + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= sx
         |         THEN 1 ELSE 0 END
         |     - CASE WHEN s0 * s0 > sx THEN 1 ELSE 0 END AS recall_se_bp
         |FROM m3 CROSS JOIN stp WHERE round <= stp.sr
         |ORDER BY round""".stripMargin) { (p, s, dir) =>
      nndAudit(p, Tables.embeddings(s, dir),
          NnDescent.Float, K, anchorBudget) { v =>
        val (knns, freshes, updates) = e158Graph(v, K, maxRounds)
        // n_scored: round 0 scored the init graph (updates(0) edges),
        // round i its anti-joined fresh candidates
        (knns, Seq("n_scored" -> (updates.head +: freshes),
          "n_updates" -> updates))
      }
    }.withBuildOnly((p, s, dir) =>
      // production plan: the converged graph, no anchor-truth leg
      nndGraph(p, Tables.embeddings(s, dir),
        NnDescent.Float)(e158Graph(_, K, maxRounds)._1))
  }

  // ---- e173: the kNN graph PERSISTED and folded across the boundary -------

  /** The three e173 legs plus the frames their metrics need. `stored`
    * is the base graph READ BACK from parquet — the process boundary:
    * its lineage is a scan, so the fold below cannot see how it was
    * built (e156b's label-table contract applied to the kNN family).
    */
  private[queries] final case class E173Legs(
      r: DataFrame, gens: DataFrame,
      stored: DataFrame,
      baseInitCount: Long, baseFreshCounts: Vector[Long],
      foldFinal: DataFrame,
      foldInitCount: Long, foldFreshCounts: Vector[Long],
      scratchFinal: DataFrame,
      scratchInitCount: Long, scratchFreshCounts: Vector[Long])

  /** e173's build — NN-Descent ([[NnDescent.flaggedRound]] for FIXED
    * round counts, so the oracle unrolls statically) run three ways:
    *
    *  1. BASE: ring-init + `baseRounds` over the base generation
    *     (hash-mod-5 ≠ 4 of vec_id, ~80 %), final graph WRITTEN TO
    *     PARQUET at `storePath` and read back;
    *  2. FOLD: the read-back graph (every edge OLD) unioned with
    *     ring-init edges for the fresh generation (every edge NEW),
    *     then `foldRounds` of the same loop — the new/old rule makes
    *     old×old witness pairs free, so the stored graph is never
    *     re-scored: the only dot products paid are the fresh init and
    *     the fresh-driven candidates;
    *  3. SCRATCH: ring-init + `scratchRounds` over the full union —
    *     the from-scratch reference the fold is audited against.
    *
    * `private[queries]` so E173Spec can drive a convergent fixture
    * (where fold and scratch both reach the exact kNN graph and must
    * agree edge-for-edge) through the same code.
    *
    * `production = true` is the steady-state maintenance posture: the
    * base build + persist is FINGERPRINT-AMORTIZED ([[graft.sources
    * .Layout.amortize]] — when the store already matches the source scan, the
    * base loop never even runs and the invocation is fold-only, which
    * IS the per-delta cost the stored posture buys), the scratch
    * reference leg is skipped entirely (it is the audit), and the
    * audit frames of [[E173Legs]] come back empty. In both modes every
    * dead round, the base graph and the base index are released as
    * soon as they are dead: repeated calls must not pin one frame per
    * round per call.
    */
  private[queries] def e173Core(
      s: SparkSession, emb: DataFrame, K: Int,
      baseRounds: Int, foldRounds: Int, scratchRounds: Int,
      storePath: String, production: Boolean = false): E173Legs = Pins.scope { p =>
    import graft.operators.Indexing
    val v = NnDescent.vectors(emb, NnDescent.Float)
    val r = p.own(v.r)
    val gens = r.select(col("vec_id"),
      expr("(((vec_id % 1000003) * 2654435761) % 1000000007) % 5 = 4")
        .as("is_fresh"))
    // one leg: `stored` edges (old) ∪ the scored ring init (new), then
    // `rounds` flagged rounds; the init size is observed inside the
    // first checkpoint. Each dead round is released as soon as the
    // next lands, so only the leg's final graph stays pinned.
    def leg(init: DataFrame, stored: Option[DataFrame], rounds: Int)
        : (Long, DataFrame, Vector[Long]) = {
      val obs = new org.apache.spark.sql.Observation(
        s"e173_init_${java.util.UUID.randomUUID}")
      val fresh = v.score(init.observe(obs, count(lit(1)).as("n")))
        .withColumn("is_new", lit(true))
      var knn = p.checkpoint(stored.fold(fresh)(_.select("src", "dst", "cos")
        .withColumn("is_new", lit(false)).unionByName(fresh)))
      val freshes = (1 to rounds).map { _ =>
        val (next, nFresh, _) = NnDescent.flaggedRound(p, v, knn, K)
        p.release(knn)
        knn = next
        nFresh
      }
      (obs.get("n").asInstanceOf[Long], knn, freshes.toVector)
    }
    var baseInitCount: Long = 0L
    var bF: Vector[Long] = Vector.empty
    def buildBase(): Unit = {
      val rb = p.checkpoint(Indexing.withGlobalIndex(
        r.join(gens.filter(col("is_fresh") === false).select("vec_id"),
          "vec_id").select("vec_id", "uv"),
        col("vec_id"), "rid"))
      val (nInit, baseFinal, f) =
        leg(NnDescent.ringInit(rb, rb, rb.count(), K), None, baseRounds)
      baseInitCount = nInit
      bF = f
      // the storage boundary: the base graph leaves the plan as parquet
      // (N·K rows — one file) and comes back as a fresh scan the fold
      // cannot see past
      baseFinal.select("src", "dst", "cos").coalesce(1)
        .write.mode("overwrite").parquet(storePath)
      p.release(baseFinal)
      p.release(rb)
    }
    // the scratch reference is the AUDIT — production never pays it;
    // it depends only on r, so it runs on a driver thread overlapped
    // with the base build + fold
    val scratchT: () => (Long, DataFrame, Vector[Long]) =
      if (production) () => (0L, s.emptyDataFrame, Vector.empty)
      else p.overlap(
        leg(NnDescent.ringInit(r, r, v.n, K), None, scratchRounds))
    // steady state: skip the base loop entirely when the store already
    // matches the source scan (file-backed sources only — a fixture
    // frame has no files to fingerprint and always rebuilds)
    val srcFiles =
      if (production) scala.util.Try(emb.inputFiles).getOrElse(Array.empty[String])
      else Array.empty[String]
    if (production && srcFiles.nonEmpty)
      graft.sources.Layout.amortize(s, storePath,
        graft.sources.Layout.scanFingerprint(emb))(buildBase())
    else buildBase()
    val stored = s.read.parquet(storePath)
    val rf = r
      .join(gens.filter(col("is_fresh")).select("vec_id"), "vec_id")
      .select("vec_id", "rid")
    val (foldInitCount, foldFinal, fF) =
      leg(NnDescent.ringInit(rf, r, v.n, K), Some(stored), foldRounds)
    val (scratchInitCount, scratchFinal, sF) = scratchT()
    p.keep(foldFinal)
    if (production) {
      // r dies with the scope, so every frame derived from it is
      // unusable: the audit frames come back EMPTY, not live-looking
      val e = s.emptyDataFrame
      E173Legs(e, e, stored, baseInitCount, bF, foldFinal,
        foldInitCount, fF, e, 0L, Vector.empty)
    } else
      E173Legs(p.keep(r), gens, stored, baseInitCount, bF, foldFinal,
        foldInitCount, fF, p.keep(scratchFinal), scratchInitCount, sF)
  }

  /** The kNN graph across the PROCESS BOUNDARY — the stored-artifact
    * posture (labels e156b, IVF e170, gate artifacts e172, HyperANF
    * registers e169) brought to the NN-Descent family, so a call does
    * not restart its incremental loop from scratch. Three legs, one
    * summary row each:
    *
    *  - `base`: the graph built on the base generation (~80 % of
    *    vectors) and PERSISTED; its metrics are read from the
    *    round-tripped parquet, not the in-plan frame.
    *  - `fold`: a fresh-vector delta (~20 %) folded ONTO the stored
    *    graph — stored edges enter the loop flagged OLD, so the
    *    new/old candidate rule never re-scores the stored graph; the
    *    only dot products paid are the fresh ring-init and the
    *    fresh-driven candidates. This is the steady-state maintenance
    *    cost the persisted posture buys.
    *  - `scratch`: from-scratch on the union — the reference the fold
    *    is audited against.
    *
    * Columns per leg: `n_scored` (Σ pairs actually scored — the
    * economics: fold ≪ scratch at every SF), `recall_bp`/`recall_se_bp`
    * vs exact anchor truth over the leg's own universe (base universe
    * for `base`, the union for `fold`/`scratch` — the e158 harness),
    * `avg_cos_t`, and `n_edge_diff` — the e156b n_mismatch analog: the
    * symmetric difference between the leg's final edge set and the
    * scratch graph restricted to the leg's source universe (0 for
    * scratch by construction; REPORTED RAW for base/fold — NN-Descent
    * is approximate, so unlike CC the incremental and from-scratch
    * graphs legitimately differ away from full convergence; E173Spec
    * pins that on a convergent fixture the fold IS edge-identical to
    * scratch). `base`'s diff counts, among else, every stored edge
    * whose true neighbor is a FRESH vector the base build could not
    * see — the staleness the fold repairs.
    *
    * Scale (100 TB of vectors): the stored graph is N·K rows (~the
    * corpus's id column, not its payload); the fold's pair budget is
    * |fresh|·K init plus fresh-driven candidates — delta-proportional,
    * never corpus-quadratic — and the loop's exchanges are the e158
    * bounds with N replaced by the delta for the scoring legs. The
    * scratch + truth legs are the AUDIT (buildOnly drops them: base
    * build + persist + fold only).
    */
  /** e173's fixed build geometry — shared with e176, which consumes
    * the SAME stored graph (one definition, so the producer and the
    * consumer cannot drift onto different artifacts — the e64/e170
    * rule applied to the kNN store).
    */
  private val E173K = 10
  private val E173B = 3
  private val E173F = 2
  private val E173S = 3

  /** The ONE location of the persisted kNN base graph — shared by
    * e173's production leg (build + fold) and e176 (consume); the
    * session-scoped scratch root keeps concurrent Verify JVMs apart,
    * the dir tag keeps SF corpora apart within a session.
    */
  private[queries] def knnStorePath(s: SparkSession, dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    Scratch.dir(s, s"e173-steady-$tag") + "/knn_base"
  }

  /** DuckDB twin of [[NnDescent.anchorTruth]] over relation `rel`:
    * CTEs anch<t>, tr<t>0 and truth<t>, ending in a comma.
    */
  private def anchorTruthDuck(rel: String, t: String, K: Int,
      budget: Int): String =
    s"""anch$t AS MATERIALIZED (SELECT vec_id FROM (
       |    SELECT vec_id,
       |      ((vec_id % 1000003) * 2654435761) % 1000000007 AS ah
       |    FROM $rel) t
       |  QUALIFY row_number() OVER (ORDER BY ah, vec_id)
       |    <= $budget),
       |tr${t}0 AS (SELECT a.vec_id AS src, c.vec_id AS dst,
       |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos
       |  FROM anch$t an JOIN $rel a ON a.vec_id = an.vec_id
       |  JOIN $rel c ON c.vec_id <> a.vec_id),
       |truth$t AS MATERIALIZED (SELECT src, dst FROM tr${t}0
       |  QUALIFY row_number() OVER (PARTITION BY src
       |    ORDER BY cos DESC, dst) <= $K),""".stripMargin

  /** DuckDB twin of [[NnDescent.withRecall]] over `mraw`: CTEs m1..m3
    * ending in s0 = floor(sqrt(sx)), which the caller corrects.
    */
  private def recallDuck(K: Int): String =
    s"""m1 AS (SELECT *,
       |    CAST(hits * 10000 // (n_anchors * $K) AS BIGINT)
       |      AS recall_bp,
       |    10000 * (hits + 1) // (n_anchors * $K + 2) AS rt FROM mraw),
       |m2 AS (SELECT *,
       |    rt * (10000 - rt) // (n_anchors * $K + 2) AS sx FROM m1),
       |m3 AS (SELECT *,
       |    CAST(floor(sqrt(CAST(sx AS DOUBLE))) AS BIGINT) AS s0
       |  FROM m2)""".stripMargin

  /** DuckDB twin of [[F.array_dot]] over 64-dim lists: a sequential
    * fold, so the doubles match the Spark side bit for bit.
    */
  private def vecDotDuck(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
       |      (s, v) -> s + v)""".stripMargin

  /** One NN-Descent round family of oracle CTEs under prefix `p` —
    * e158's unrolled loop body parameterized so e173's three legs and
    * e176's replay share one text.
    */
  private def e173LegRoundsDuck(p: String, rounds: Int, K: Int): String =
    (0 until rounds).map { i =>
      s"""${p}rev$i AS (SELECT dst AS src, src AS dst, is_new
         |  FROM (SELECT src, dst, is_new, row_number() OVER (
         |      PARTITION BY dst ORDER BY src) AS rr FROM ${p}knnf$i) t
         |  WHERE rr <= $K),
         |${p}und$i AS MATERIALIZED (SELECT src, dst,
         |    max(is_new) AS is_new
         |  FROM (SELECT src, dst, is_new FROM ${p}knnf$i
         |    UNION ALL SELECT src, dst, is_new FROM ${p}rev$i) u
         |  GROUP BY src, dst),
         |${p}cand$i AS (SELECT DISTINCT j1.dst AS src, j2.dst AS dst
         |  FROM ${p}und$i j1 JOIN ${p}und$i j2
         |    ON j1.src = j2.src AND j1.dst <> j2.dst
         |    AND (j1.is_new OR j2.is_new)),
         |${p}fresh$i AS MATERIALIZED (SELECT c.src, c.dst
         |  FROM ${p}cand$i c
         |  LEFT JOIN ${p}knnf$i k ON k.src = c.src AND k.dst = c.dst
         |  WHERE k.src IS NULL),
         |${p}sc$i AS (SELECT f.src, f.dst,
         |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos
         |  FROM ${p}fresh$i f JOIN r a ON a.vec_id = f.src
         |  JOIN r c ON c.vec_id = f.dst),
         |${p}top$i AS (SELECT src, dst, cos FROM (
         |    SELECT src, dst, cos FROM ${p}knnf$i
         |    UNION ALL SELECT src, dst, cos FROM ${p}sc$i) z
         |  QUALIFY row_number() OVER (PARTITION BY src
         |    ORDER BY cos DESC, dst) <= $K),
         |${p}knnf${i + 1} AS MATERIALIZED (SELECT t.src, t.dst,
         |    t.cos, k.src IS NULL AS is_new
         |  FROM ${p}top$i t LEFT JOIN ${p}knnf$i k
         |    ON k.src = t.src AND k.dst = t.dst),""".stripMargin
    }.mkString("\n")

  /** Oracle CTEs replaying e173's base build + fold — everything up to
    * (and including) the fold's final graph `fknnf<F>`; ends with a
    * trailing comma, ready for a consumer's own tail. This is the SQL
    * twin of the STORED artifact + fold that [[e173Core]] produces.
    */
  private def e173FoldDuckCtes(K: Int, B: Int, F: Int): String =
    s"""b AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n0 AS (SELECT vec_id, v, sqrt(${vecDotDuck("v", "v")}) AS nrm
       |  FROM b),
       |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
       |  FROM n0 WHERE nrm > 0),
       |r AS MATERIALIZED (SELECT vec_id, uv,
       |    row_number() OVER (ORDER BY vec_id) - 1 AS rid FROM u),
       |nn AS (SELECT count(*) AS n FROM r),
       |gens AS MATERIALIZED (SELECT vec_id,
       |    (((vec_id % 1000003) * 2654435761) % 1000000007) % 5 = 4
       |      AS is_fresh
       |  FROM r),
       |rb AS MATERIALIZED (SELECT r.vec_id, r.uv,
       |    row_number() OVER (ORDER BY r.vec_id) - 1 AS rid
       |  FROM r JOIN gens g ON g.vec_id = r.vec_id
       |  WHERE NOT g.is_fresh),
       |nb AS (SELECT count(*) AS n FROM rb),
       |bknn0 AS MATERIALIZED (SELECT a.vec_id AS src,
       |    c.vec_id AS dst
       |  FROM rb a CROSS JOIN nb
       |  CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS o) os
       |  JOIN rb c ON c.rid = (a.rid + os.o) % nb.n),
       |bknnf0 AS MATERIALIZED (SELECT k.src, k.dst,
       |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos,
       |    TRUE AS is_new
       |  FROM bknn0 k JOIN r a ON a.vec_id = k.src
       |  JOIN r c ON c.vec_id = k.dst),
       |${e173LegRoundsDuck("b", B, K)}
       |rf AS (SELECT r.vec_id, r.rid
       |  FROM r JOIN gens g ON g.vec_id = r.vec_id WHERE g.is_fresh),
       |finit AS MATERIALIZED (SELECT a.vec_id AS src,
       |    c.vec_id AS dst
       |  FROM rf a CROSS JOIN nn
       |  CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS o) os
       |  JOIN r c ON c.rid = (a.rid + os.o) % nn.n),
       |fknnf0 AS MATERIALIZED (
       |  SELECT src, dst, cos, FALSE AS is_new FROM bknnf$B
       |  UNION ALL
       |  SELECT k.src, k.dst,
       |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos,
       |    TRUE AS is_new
       |  FROM finit k JOIN r a ON a.vec_id = k.src
       |  JOIN r c ON c.vec_id = k.dst),
       |${e173LegRoundsDuck("f", F, K)}""".stripMargin

  private def e173KnnPersistFold = {
    val K = E173K
    val B = E173B; val Fr = E173F; val S = E173S
    val anchorBudget = 64
    def legRounds(p: String, rounds: Int): String =
      e173LegRoundsDuck(p, rounds, K)
    def scoredSum(p: String, init: String, rounds: Int): String =
      (s"(SELECT count(*) FROM $init)" +:
        (0 until rounds).map(i =>
          s"(SELECT count(*) FROM ${p}fresh$i)")).mkString(" + ")
    def diffExpr(a: String, b: String): String =
      s"""(SELECT count(*) FROM $a x LEFT JOIN $b y
         |      ON y.src = x.src AND y.dst = x.dst WHERE y.src IS NULL)
         |    + (SELECT count(*) FROM $b y LEFT JOIN $a x
         |      ON x.src = y.src AND x.dst = y.dst
         |      WHERE x.src IS NULL)""".stripMargin
    def legRow(leg: String, fin: String, init: String, p: String,
        rounds: Int, truthRel: String, diff: String): String =
      s"""SELECT '$leg' AS leg,
         |  CAST((SELECT count(DISTINCT src) FROM $fin) AS BIGINT)
         |    AS n_nodes,
         |  CAST($rounds AS BIGINT) AS n_rounds,
         |  CAST(${scoredSum(p, init, rounds)} AS BIGINT) AS n_scored,
         |  (SELECT CAST(${Portable.tdivDuck(
             "sum(CAST(round(cos * 10000) AS BIGINT))", "count(*)")}
         |      AS BIGINT) FROM $fin) AS avg_cos_t,
         |  CAST((SELECT count(*) FROM $fin k JOIN $truthRel t
         |      ON t.src = k.src AND t.dst = k.dst) AS BIGINT) AS hits,
         |  CAST((SELECT count(DISTINCT src) FROM $truthRel) AS BIGINT)
         |    AS n_anchors,
         |  CAST($diff AS BIGINT) AS n_edge_diff""".stripMargin
    QueryDef.pinned(
      "e173_knn_persist_fold",
      s"""WITH ${e173FoldDuckCtes(K, B, Fr)}
         |sknn0 AS MATERIALIZED (SELECT a.vec_id AS src,
         |    c.vec_id AS dst
         |  FROM r a CROSS JOIN nn
         |  CROSS JOIN (SELECT unnest(range(1, ${K + 1})) AS o) os
         |  JOIN r c ON c.rid = (a.rid + os.o) % nn.n),
         |sknnf0 AS MATERIALIZED (SELECT k.src, k.dst,
         |    round(${vecDotDuck("a.uv", "c.uv")}, 4) + 0 AS cos,
         |    TRUE AS is_new
         |  FROM sknn0 k JOIN r a ON a.vec_id = k.src
         |  JOIN r c ON c.vec_id = k.dst),
         |${legRounds("s", S)}
         |${anchorTruthDuck("r", "", K, anchorBudget)}
         |${anchorTruthDuck("rb", "b", K, anchorBudget)}
         |sb AS MATERIALIZED (SELECT k.src, k.dst FROM sknnf$S k
         |  JOIN gens g ON g.vec_id = k.src WHERE NOT g.is_fresh),
         |mraw AS (
         |${legRow("base", s"bknnf$B", "bknn0", "b", B, "truthb",
           diffExpr(s"bknnf$B", "sb"))}
         |UNION ALL
         |${legRow("fold", s"fknnf$Fr", "finit", "f", Fr, "truth",
           diffExpr(s"fknnf$Fr", s"sknnf$S"))}
         |UNION ALL
         |${legRow("scratch", s"sknnf$S", "sknn0", "s", S, "truth",
           "0")}),
         |m1 AS (SELECT *,
         |    CAST(hits * 10000 // (n_anchors * $K) AS BIGINT)
         |      AS recall_bp,
         |    10000 * (hits + 1) // (n_anchors * $K + 2) AS rt
         |  FROM mraw),
         |m2 AS (SELECT *,
         |    rt * (10000 - rt) // (n_anchors * $K + 2) AS sx FROM m1),
         |m3 AS (SELECT *,
         |    CAST(floor(sqrt(CAST(sx AS DOUBLE))) AS BIGINT) AS s0
         |  FROM m2)
         |SELECT leg, n_nodes, n_rounds, n_scored, avg_cos_t,
         |  recall_bp,
         |  s0 + CASE WHEN s0 < 3037000499 AND (s0 + 1) * (s0 + 1) <= sx
         |         THEN 1 ELSE 0 END
         |     - CASE WHEN s0 * s0 > sx THEN 1 ELSE 0 END
         |    AS recall_se_bp,
         |  n_edge_diff
         |FROM m3 ORDER BY leg""".stripMargin) { (p, s, dir) =>
      // the returned plan reads the vector table, the fold and scratch
      // graphs and both anchor truths: all stay pinned in `p`
      val legs = e173Core(s, Tables.embeddings(s, dir), K, B, Fr, S,
        Scratch.dir(s, "e173") + "/knn_base")
      Seq(legs.r, legs.foldFinal, legs.scratchFinal).foreach(p.own)
      def anchorTruth(idx: DataFrame): DataFrame =
        NnDescent.anchorTruth(p, idx, K, anchorBudget)
      val truth = anchorTruth(legs.r.select("vec_id", "uv"))
      val truthB = anchorTruth(legs.r
        .join(legs.gens.filter(col("is_fresh") === false)
          .select("vec_id"), "vec_id")
        .select("vec_id", "uv"))
      val sb = legs.scratchFinal.select("src", "dst")
        .join(legs.gens.filter(col("is_fresh") === false)
          .select(col("vec_id").as("src")), "src")
      def legRowDf(leg: String, rounds: Int, init: Long,
          freshes: Seq[Long], fin: DataFrame, truthRel: DataFrame,
          ref: Option[DataFrame]): DataFrame = {
        // n_scored = init + per-round fresh counts, all observed at
        // build time
        val nNodes = fin.select("src").distinct()
          .agg(count(lit(1)).as("n_nodes"))
        val diff = ref match {
          case Some(b) =>
            fin.select("src", "dst")
              .join(b, Seq("src", "dst"), "left_anti")
              .agg(count(lit(1)).as("d1"))
              .crossJoin(b.join(fin.select("src", "dst"),
                Seq("src", "dst"), "left_anti")
                .agg(count(lit(1)).as("d2")))
              .select((col("d1") + col("d2")).as("n_edge_diff"))
          case None =>
            legs.r.limit(1).select(lit(0L).as("n_edge_diff"))
        }
        nNodes
          .crossJoin(
            NnDescent.graphStats(fin, "cos", "avg_cos_t", truthRel))
          .crossJoin(NnDescent.nAnchors(truthRel)).crossJoin(diff)
          .select(lit(leg).as("leg"), col("n_nodes"),
            lit(rounds.toLong).as("n_rounds"),
            lit(init + freshes.sum).as("n_scored"),
            col("avg_cos_t"), col("hits"), col("n_anchors"),
            col("n_edge_diff"))
      }
      val rows =
        legRowDf("base", B, legs.baseInitCount, legs.baseFreshCounts,
          legs.stored, truthB, Some(sb))
        .unionByName(legRowDf("fold", Fr, legs.foldInitCount,
          legs.foldFreshCounts, legs.foldFinal, truth,
          Some(legs.scratchFinal.select("src", "dst"))))
        .unionByName(legRowDf("scratch", S, legs.scratchInitCount,
          legs.scratchFreshCounts, legs.scratchFinal, truth, None))
      NnDescent.withRecall(rows, K)
        .select(col("leg"), col("n_nodes"), col("n_rounds"),
          col("n_scored"), col("avg_cos_t"), col("recall_bp"),
          col("recall_se_bp"), col("n_edge_diff"))
        .orderBy("leg")
    }.withBuildOnly((p, s, dir) =>
      // production: fingerprint-amortized base build + persist, then
      // the fold — no truth, no scratch reference, no diffs (the
      // audit is the oracle row's), intermediate checkpoints released;
      // on a fresh store the timed pass is FOLD-ONLY, the steady-state
      // per-delta cost the persisted posture buys
      p.own(e173Core(s, Tables.embeddings(s, dir), K, B, Fr, S,
        knnStorePath(s, dir), production = true).foldFinal))
  }

  /** CONSUMER of the stored kNN graph — the chain e173 opens
    * (build → persist → fold) closed with the operation a curation
    * pipeline actually runs on a maintained kNN store: MUTUAL-kNN
    * near-duplicate clusters (e125's rule — an edge counts only when
    * each endpoint is in the OTHER's top-K, the asymmetric-hub filter)
    * AND cosine ≥ 0.35, computed from the FOLDED graph, clustered by
    * connected components, reported as a per-cluster census. The floor
    * is load-bearing: on this isotropic corpus the unfloored mutual
    * graph PERCOLATES (measured at sf0.01: one 500-node cluster —
    * top-K lists chain through the bulk, whose pairwise cosine p99.9
    * is 0.38), while ≥ 0.35 keeps only the distribution's genuine
    * upper tail, which is what "near-duplicate" means here; clone-
    * replica corpora sit at cos 1.0 and cluster exactly. The graph is
    * read
    * through [[knnStorePath]] — the SAME artifact e173's production
    * leg maintains (one path definition, the e64/e170 rule), with the
    * base build fingerprint-amortized away when the store is fresh:
    * the steady-state invocation pays fold + cluster only.
    *
    * Oracle: the fold replay ([[e173FoldDuckCtes]] — the SQL twin of
    * the stored artifact + fold) plus the mutual join and a recursive
    * reachability closure; identical text shared with e173, so the
    * producer's and consumer's views of the artifact cannot drift.
    *
    * Scale: the mutual join is a self-equi-join of an N·K-row edge
    * list on (src, dst) — id-pair payload, no vectors; the census is
    * the e32/e46 CC cost class over a graph no larger than the store.
    */
  private def e176KnnStoreClusters = QueryDef.pinned(
    "e176_knn_store_clusters",
    s"""WITH RECURSIVE ${e173FoldDuckCtes(E173K, E173B, E173F)}
       |mp AS MATERIALIZED (SELECT a.src AS u, a.dst AS v, a.cos
       |  FROM fknnf$E173F a JOIN fknnf$E173F b
       |    ON b.src = a.dst AND b.dst = a.src
       |  WHERE a.src < a.dst AND a.cos >= 0.35),
       |edges AS (SELECT u, v FROM mp UNION SELECT v, u FROM mp),
       |reach(node, rr) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT reach.node, e.v FROM reach JOIN edges e
       |    ON e.u = reach.rr),
       |comp AS MATERIALIZED (SELECT node, min(rr) AS cluster
       |  FROM reach GROUP BY node),
       |mem AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
       |  FROM comp GROUP BY cluster),
       |mec AS (SELECT c.cluster, m.cos FROM mp m
       |  JOIN comp c ON c.node = m.u)
       |SELECT mem.cluster, mem.n_members,
       |  CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(${Portable.tdivDuck(
           "sum(CAST(round(m.cos * 10000) AS BIGINT))", "count(*)")}
       |    AS BIGINT) AS avg_cos_t
       |FROM mem JOIN mec m ON m.cluster = mem.cluster
       |GROUP BY mem.cluster, mem.n_members
       |ORDER BY mem.cluster""".stripMargin) { (p, s, dir) =>
    e176Census(p,
      e173Core(s, Tables.embeddings(s, dir), E173K, E173B,
        E173F, E173S, knnStorePath(s, dir), production = true).foldFinal)
  }.withBuildOnly { (p, s, dir) =>
    // the production posture once the stream attach (e177) maintains
    // the fold: the FOLDED graph is persisted too (fingerprint-
    // amortized, so the warmed pass never runs the fold at all), and
    // the consumer pays ONLY the mutual join + CC + census over stored
    // id-pair edges — the true consumer-only margin SCALING.md prices
    // beside the fold-bearing oracle row
    val foldPath = knnStorePath(s, dir) + "_folded"
    graft.sources.Layout.amortize(s, foldPath,
      graft.sources.Layout.scanFingerprint(Tables.embeddings(s, dir))) {
      val fold = p.own(e173Core(s, Tables.embeddings(s, dir), E173K,
        E173B, E173F, E173S, knnStorePath(s, dir), production = true)
        .foldFinal)
      fold.select("src", "dst", "cos").coalesce(1)
        .write.mode("overwrite").parquet(foldPath)
      p.release(fold)
    }
    e176Census(p, s.read.parquet(foldPath))
  }

  /** e176's mutual-kNN census over a fold graph frame — shared by the
    * oracle-checked run (fold built in-plan) and the buildOnly leg
    * (fold read from its persisted store), so the two postures cannot
    * drift. Takes ownership of `fold` and releases every upstream pin
    * once the cluster-grain census materializes; the census stays
    * pinned in `p`.
    */
  private def e176Census(p: Pins, fold: DataFrame): DataFrame = {
    val mp = p.checkpoint(p.own(fold).as("a")
      .join(fold.as("b"),
        col("b.src") === col("a.dst") && col("b.dst") === col("a.src"))
      .filter(col("a.src") < col("a.dst") && col("a.cos") >= 0.35)
      .select(col("a.src").as("u"), col("a.dst").as("v"),
        col("a.cos").as("cos"))) // feeds the CC leg and the census twice
    // mp is materialized — the fold graph's checkpoint is dead NOW
    // (a no-op when `fold` is the buildOnly leg's parquet scan)
    p.release(fold)
    val labels = p.own(graft.operators.ConnectedComponents
      .components(mp, "u", "v"))
    val comp = labels.select(col("node"), col("comp").as("cluster"))
    val mem = comp.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
    // the census is cluster-grain tiny; materializing it lets every
    // upstream pin (mp, the CC label table) be released now instead
    // of riding the returned plan
    val census = p.checkpoint(mp.join(comp.withColumnRenamed("node", "u"), "u")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_edges"),
        sum(round(col("cos") * 10000).cast("long")).as("sc"))
      .join(mem, "cluster")
      .select(col("cluster"), col("n_members"), col("n_edges"),
        expr("sc div n_edges").as("avg_cos_t")))
    Seq(mp, labels).foreach(p.release)
    census.orderBy("cluster")
  }

  // ---- e178: generational data-card diff -----------------------------------

  /** The ONE location of the persisted generation-A data card —
    * e178's stored artifact (the knnStorePath convention: session-
    * scoped scratch root, dir-tagged so SF corpora stay apart).
    */
  private[queries] def cardStorePath(s: SparkSession, dir: String): String = {
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    Scratch.dir(s, s"e178-card-$tag") + "/gen_card"
  }

  /** RELEASE-GATE card diff between consecutive crawl generations —
    * the artifact an operator reads before shipping a new crawl:
    * per source, volume growth, exact-duplicate-rate
    * delta, median-length movement, and vocabulary growth, where
    * generation A contributes ONLY its PERSISTED data card (one
    * #sources-row parquet holding counts, the 42-bucket log₂ length
    * histogram, and the 64 HLL vocabulary registers) and generation B
    * pays the only corpus-proportional work. This composes the
    * datasheet family's persisted postures into the diff that was
    * still prose: e94 is one generation's card, e138 is vocabulary
    * growth alone, e92 diffs shard manifests; the release decision
    * reads all the card's columns at once, against the PREVIOUS
    * generation's stored card rather than a re-scan of the old corpus.
    *
    * Card contents are the mergeable/stored forms of each statistic:
    * counts and token sums (algebraic), the paired poly-hash distinct
    * count for the dup rate (e94's ~2⁻⁶⁰ digest), the e150 log₂
    * histogram (42 longs — quantiles with est/true < 2 one-sided
    * guarantee, mergeable by addition), and e134's HLL registers
    * (512 B — union by element-wise max, which is what lets
    * vocab_new_est price B's NEW vocabulary without touching A's
    * corpus: est(A∪B) comes from max-merging B's fresh registers into
    * the STORED ones, the e138 machinery reading its A-side from
    * parquet). Deltas that can go negative (docs_delta_bp) take
    * [[graft.functions.Portable.tdivDuck]]; dup rates are NULL-guarded
    * for a generation-absent source (both engines agree on NULL).
    * vocab_new_est is emitted raw — slightly negative on a no-growth
    * source is estimator noise the e138 caveat already documents, and
    * clamping would hide exactly what the gate watches.
    *
    * The A card is fingerprint-amortized ([[graft.sources.Layout
    * .amortize]] on the documents scan fingerprint): steady-state
    * invocations skip the A build entirely — the e173/e172 stored-
    * artifact discipline, here closing the DATASHEET family.
    *
    * Scale (100 TB): generation B costs one doc-grain aggregation
    * (source grain, map-side combinable — the e94 shape) plus one
    * distinct-shingle scan for its registers (the e138 cost); A costs
    * a #sources-row parquet read; the diff joins two #sources-row
    * frames. Nothing old is re-read, nothing is quadratic, and the
    * readout windows run on #sources × 42 rows.
    */
  private def e178GenerationCardDiff = {
    val P = Portable.P
    val alphaNum = 709L * (1L << 37)
    val tzCase = (0 to 24).map(i =>
      s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    val ladder = "CASE WHEN n_chars <= 0 THEN 0 " +
      (1 to 40).map(b =>
        s"WHEN n_chars < ${1L << b} THEN $b").mkString(" ") +
      " ELSE 41 END"
    val genA =
      "(((doc_id % 1000003) * 2654435761) % 1000000007) % 2 = 0"
    def sumRegs(rel: String): String =
      s"CAST(sum(CAST(1 AS BIGINT) << (25 - mr)) AS BIGINT)"
    def estDuck(s2: String): String =
      s"CASE WHEN $s2 = 2147483648 THEN CAST(0 AS BIGINT) " +
        s"ELSE $alphaNum // (1000 * $s2) END"
    QueryDef.sql(
      "e178_generation_card_diff",
      s"""WITH base AS (SELECT doc_id, source, n_chars, text,
         |    $genA AS gen_a
         |  FROM documents),
         |d0 AS (SELECT source, gen_a, n_chars,
         |    len(${Portable.wordsDuck}) AS n_tok,
         |    ${Portable.textFingerprintDuck} * $P
         |      + ${Portable.textFingerprint2Duck} AS fp,
         |    $ladder AS b
         |  FROM base),
         |ds AS (SELECT source, gen_a,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_fp
         |  FROM d0 GROUP BY 1, 2),
         |hist AS (SELECT source, gen_a, b, count(*) AS cnt FROM d0
         |  GROUP BY 1, 2, 3),
         |cumh AS (SELECT source, gen_a, b,
         |    CAST(sum(cnt) OVER (PARTITION BY source, gen_a ORDER BY b
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM hist),
         |tot AS (SELECT source, gen_a, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM hist GROUP BY 1, 2),
         |p50 AS (SELECT c.source, c.gen_a,
         |    (CAST(1 AS BIGINT) << min(CASE WHEN c.cum >= (t.n + 1) // 2
         |      THEN c.b END)) - 1 AS p50_est
         |  FROM cumh c JOIN tot t
         |    ON t.source = c.source AND t.gen_a = c.gen_a
         |  GROUP BY c.source, c.gen_a),
         |w AS (SELECT source, gen_a, ${Portable.wordHashesDuck} AS wh
         |  FROM base),
         |sh AS (SELECT source, gen_a, ${Portable.shinglesDuck} AS shs
         |  FROM w WHERE len(wh) >= 3),
         |dv AS (SELECT DISTINCT source, gen_a, unnest(shs) AS h
         |  FROM sh),
         |hx AS (SELECT source, gen_a,
         |    (${Portable.HllA} * h + ${Portable.HllB}) % $P AS x FROM dv),
         |hh AS (SELECT source, gen_a, (x * x % $P) * x % $P AS h2
         |  FROM hx),
         |rho AS (SELECT source, gen_a, h2 % 64 AS j,
         |    CASE WHEN h2 // 64 = 0 THEN 25
         |      ELSE CASE (h2 // 64) & (-(h2 // 64)) $tzCase END
         |    END AS r
         |  FROM hh),
         |breg AS (SELECT source, gen_a, j, max(r) AS mr FROM rho
         |  GROUP BY 1, 2, 3),
         |srcs AS (SELECT DISTINCT source FROM d0),
         |spine AS (SELECT s.source, g.gen_a, b.j
         |  FROM srcs s
         |  CROSS JOIN (VALUES (TRUE), (FALSE)) g(gen_a)
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) b),
         |regs AS (SELECT sp.source, sp.gen_a, sp.j,
         |    coalesce(br.mr, 0) AS mr
         |  FROM spine sp LEFT JOIN breg br
         |    ON br.source = sp.source AND br.gen_a = sp.gen_a
         |      AND br.j = sp.j),
         |sa AS (SELECT source, ${sumRegs("regs")} AS s2 FROM regs
         |  WHERE gen_a GROUP BY source),
         |ureg AS (SELECT source, j, max(mr) AS mr FROM regs
         |  GROUP BY 1, 2),
         |usum AS (SELECT source, ${sumRegs("ureg")} AS s2 FROM ureg
         |  GROUP BY source)
         |SELECT s.source,
         |  CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs_a,
         |  CAST(coalesce(b.n_docs, 0) AS BIGINT) AS n_docs_b,
         |  CASE WHEN a.n_docs > 0 THEN CAST(${Portable.tdivDuck(
             "(coalesce(b.n_docs, 0) - a.n_docs) * 10000", "a.n_docs")}
         |    AS BIGINT) END AS docs_delta_bp,
         |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens_a,
         |  CAST(coalesce(b.n_tokens, 0) AS BIGINT) AS n_tokens_b,
         |  CASE WHEN a.n_docs > 0 THEN
         |    CAST((a.n_docs - a.n_fp) * 10000 // a.n_docs AS BIGINT)
         |  END AS dup_bp_a,
         |  CASE WHEN b.n_docs > 0 THEN
         |    CAST((b.n_docs - b.n_fp) * 10000 // b.n_docs AS BIGINT)
         |  END AS dup_bp_b,
         |  CASE WHEN a.n_docs > 0 AND b.n_docs > 0 THEN
         |    CAST((b.n_docs - b.n_fp) * 10000 // b.n_docs
         |      - (a.n_docs - a.n_fp) * 10000 // a.n_docs AS BIGINT)
         |  END AS dup_delta_bp,
         |  pa.p50_est AS p50_est_a,
         |  pb.p50_est AS p50_est_b,
         |  CAST(${estDuck("sa.s2")} AS BIGINT) AS vocab_est_a,
         |  CAST(${estDuck("u.s2")} AS BIGINT) AS vocab_union_est,
         |  CAST(${estDuck("u.s2")} - ${estDuck("sa.s2")} AS BIGINT)
         |    AS vocab_new_est
         |FROM srcs s
         |LEFT JOIN (SELECT * FROM ds WHERE gen_a) a
         |  ON a.source = s.source
         |LEFT JOIN (SELECT * FROM ds WHERE NOT gen_a) b
         |  ON b.source = s.source
         |LEFT JOIN (SELECT * FROM p50 WHERE gen_a) pa
         |  ON pa.source = s.source
         |LEFT JOIN (SELECT * FROM p50 WHERE NOT gen_a) pb
         |  ON pb.source = s.source
         |JOIN sa ON sa.source = s.source
         |JOIN usum u ON u.source = s.source
         |ORDER BY s.source""".stripMargin) { (s, dir) =>
      import graft.sources.Layout
      val docs = Tables.documents(s, dir)
      val zeroRegs = array_repeat(lit(0L), 64)
      // one generation's full card: #sources rows of (counts, dup
      // digest distinct, 42-bucket log2 histogram, 64 HLL registers)
      def card(gen: DataFrame): DataFrame = {
        val d0 = gen.select(col("source"), col("n_chars"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"),
          (F.poly_hash(col("text")) * Portable.P +
            F.poly_hash(col("text"), 37L, Portable.P)).as("fp"))
          .withColumn("b", expr(ladder))
        val stats = d0.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            countDistinct(col("fp")).as("n_fp"),
            array((0 to 41).map(i =>
              sum(when(col("b") === i, 1L).otherwise(0L))): _*)
              .as("hist"))
        val vocab = gen
          .select(col("source"),
            explode(F.shingle_hashes(col("text"))).as("h"))
          .distinct()
          .groupBy("source")
          .agg(graft.functions.sketches.hll_sketch(col("h")).as("regs"))
        stats.join(vocab, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_fp"), col("hist"),
            coalesce(col("regs"), zeroRegs).as("regs"))
      }
      val path = cardStorePath(s, dir)
      // generation A's card is the STORED artifact — fingerprint-
      // amortized, so steady invocations never touch A's corpus
      Layout.amortize(s, path, Layout.scanFingerprint(docs)) {
        card(docs.filter(expr(genA))).coalesce(1)
          .write.mode("overwrite").parquet(path)
      }
      val cardA = s.read.parquet(path)
      val cardB = card(docs.filter(expr(s"NOT ($genA)")))
      // p50 readout from a stored histogram (the e150 ladder over
      // #sources × 42 exploded rows — bounded, source-partitioned)
      def p50Of(c: DataFrame): DataFrame = {
        val h = c.select(col("source"),
          posexplode(col("hist")).as(Seq("b", "cnt")))
        val cum = h.withColumn("cum",
          sum(col("cnt")).over(Window.partitionBy(col("source"))
            .orderBy(col("b"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        cum.join(h.groupBy("source").agg(sum(col("cnt")).as("n")),
            "source")
          .groupBy("source")
          .agg(expr("(CAST(1 AS BIGINT) << min(CASE WHEN " +
            "cum >= (n + 1) div 2 THEN b END)) - 1").as("p50_est"))
      }
      def estOf(regs: String): String = {
        val s2 = s"aggregate(transform($regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"
        s"CASE WHEN $s2 = 2147483648 THEN CAST(0 AS BIGINT) " +
          s"ELSE $alphaNum div (1000 * $s2) END"
      }
      val a = cardA.select(col("source"), col("n_docs").as("n_docs_a"),
        col("n_tokens").as("n_tokens_a"), col("n_fp").as("n_fp_a"),
        col("regs").as("regs_a"))
      val b = cardB.select(col("source"), col("n_docs").as("n_docs_b"),
        col("n_tokens").as("n_tokens_b"), col("n_fp").as("n_fp_b"),
        col("regs").as("regs_b"))
      a.join(b, Seq("source"), "full_outer")
        .join(p50Of(cardA).withColumnRenamed("p50_est", "p50_est_a"),
          Seq("source"), "left")
        .join(p50Of(cardB).withColumnRenamed("p50_est", "p50_est_b"),
          Seq("source"), "left")
        .withColumn("regs_a", coalesce(col("regs_a"), zeroRegs))
        .withColumn("regs_u", zip_with(col("regs_a"),
          coalesce(col("regs_b"), zeroRegs), (x, y) => greatest(x, y)))
        .select(col("source"),
          coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
          coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"),
          when(col("n_docs_a") > 0,
            expr("(coalesce(n_docs_b, 0) - n_docs_a) * 10000 " +
              "div n_docs_a")).as("docs_delta_bp"),
          coalesce(col("n_tokens_a"), lit(0L)).as("n_tokens_a"),
          coalesce(col("n_tokens_b"), lit(0L)).as("n_tokens_b"),
          when(col("n_docs_a") > 0,
            expr("(n_docs_a - n_fp_a) * 10000 div n_docs_a"))
            .as("dup_bp_a"),
          when(col("n_docs_b") > 0,
            expr("(n_docs_b - n_fp_b) * 10000 div n_docs_b"))
            .as("dup_bp_b"),
          when(col("n_docs_a") > 0 && col("n_docs_b") > 0,
            expr("(n_docs_b - n_fp_b) * 10000 div n_docs_b " +
              "- (n_docs_a - n_fp_a) * 10000 div n_docs_a"))
            .as("dup_delta_bp"),
          col("p50_est_a"), col("p50_est_b"),
          expr(estOf("regs_a")).as("vocab_est_a"),
          expr(estOf("regs_u")).as("vocab_union_est"),
          (expr(estOf("regs_u")) - expr(estOf("regs_a")))
            .as("vocab_new_est"))
        .orderBy("source")
    }
  }

  // ---- e148: HLL pairwise intersection via inclusion–exclusion ------------

  /** Pairwise source-overlap matrix from PER-SOURCE HLL registers
    * alone — |A∩B| estimated as est(A) + est(B) − est(A∪B), where
    * est(A∪B) needs NO data: union registers are the element-wise max
    * of the two 64-register vectors. This makes quantitative what
    * e138's docstring only caveats: inclusion–exclusion inherits HLL's
    * error at the UNION's scale (σ ≈ 1.04/√64 of |A∪B|), so a small
    * intersection of two large sets drowns in it — est_inter can even
    * go NEGATIVE (reported raw, not clamped: a clamp would hide
    * exactly the failure the audit exists to surface; measured at
    * sf0.01: min inter_est −826 on a near-disjoint pair, mean
    * err_union_bp 746, max 3751 over 190 pairs — right at the
    * 1.04/√64·√2-ish scale the model predicts for a difference of
    * three correlated estimates). The errors
    * answer the production question "which overlap sketch do I
    * materialize": KMV (e102) answers intersections at the
    * INTERSECTION's scale, HLL answers union-algebra rollups (e137)
    * and replay-idempotent streams — a fleet
    * wanting both keeps both, and this matrix is the measured cost of
    * pretending one suffices.
    *
    * Everything hash-compared is integer: the same affine+cube
    * register pipeline and α₆₄ floor division as e134, err_union_bp =
    * |est−exact| relative to the EXACT union in floor basis points —
    * the honest denominator (relative-to-intersection explodes on the
    * near-disjoint pairs that dominate this corpus).
    *
    * Scale (100 TB): the corpus contributes ONE (source, h)-distinct
    * scan → 512 B of registers per source; all #sources² pair algebra
    * happens on that bounded table (here 20 sources → 190 pairs). The
    * exact-intersection side is the calibration harness (one h-keyed
    * self-join production drops). The pair spine comes from the
    * REGISTER table so zero-overlap pairs still report (exact side
    * LEFT-joined, coalesced to 0).
    */
  private def e148HllIntersection = {
    val P = Portable.P
    val alphaNum = 709L * (1L << 37)
    val tzCase = (0 to 24).map(i =>
      s"WHEN ${1L << i} THEN ${i + 1}").mkString(" ")
    QueryDef.sql(
      "e148_hll_intersection",
      s"""WITH w AS (SELECT source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT source, ${Portable.shinglesDuck} AS shs FROM w
         |  WHERE len(wh) >= 3),
         |d AS (SELECT DISTINCT source, unnest(shs) AS h FROM sh),
         |hx AS (SELECT source,
         |    (${Portable.HllA} * h + ${Portable.HllB}) % $P AS x FROM d),
         |hh AS (SELECT source, (x * x % $P) * x % $P AS h2 FROM hx),
         |rho AS (SELECT source, h2 % 64 AS j,
         |    CASE WHEN h2 // 64 = 0 THEN 25
         |      ELSE CASE (h2 // 64) & (-(h2 // 64)) $tzCase END
         |    END AS r
         |  FROM hh),
         |reg AS (SELECT source, j, max(r) AS mr FROM rho GROUP BY 1, 2),
         |spine AS (SELECT s.source, b.j
         |  FROM (SELECT DISTINCT source FROM d) s
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) b),
         |regs AS (SELECT sp.source, sp.j, coalesce(reg.mr, 0) AS mr
         |  FROM spine sp LEFT JOIN reg
         |    ON reg.source = sp.source AND reg.j = sp.j),
         |pair_s AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(sum(CAST(1 AS BIGINT) << (25 - a.mr)) AS BIGINT) AS sa,
         |    CAST(sum(CAST(1 AS BIGINT) << (25 - b.mr)) AS BIGINT) AS sb,
         |    CAST(sum(CAST(1 AS BIGINT) << (25 - greatest(a.mr, b.mr)))
         |      AS BIGINT) AS su
         |  FROM regs a JOIN regs b
         |    ON a.j = b.j AND a.source < b.source
         |  GROUP BY 1, 2),
         |ne AS (SELECT source, count(*) AS n FROM d GROUP BY source),
         |xi AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS inter_exact
         |  FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2),
         |est AS (SELECT src_a, src_b,
         |    $alphaNum // (1000 * sa) AS est_a,
         |    $alphaNum // (1000 * sb) AS est_b,
         |    $alphaNum // (1000 * su) AS est_union
         |  FROM pair_s)
         |SELECT e.src_a, e.src_b,
         |  CAST(coalesce(x.inter_exact, 0) AS BIGINT) AS inter_exact,
         |  e.est_a + e.est_b - e.est_union AS inter_est,
         |  CAST(na.n + nb.n - coalesce(x.inter_exact, 0) AS BIGINT)
         |    AS union_exact,
         |  e.est_union AS union_est,
         |  abs(e.est_a + e.est_b - e.est_union
         |      - coalesce(x.inter_exact, 0)) * 10000
         |    // (na.n + nb.n - coalesce(x.inter_exact, 0)) AS err_union_bp
         |FROM est e
         |JOIN ne na ON na.source = e.src_a
         |JOIN ne nb ON nb.source = e.src_b
         |LEFT JOIN xi x ON x.src_a = e.src_a AND x.src_b = e.src_b
         |ORDER BY e.src_a, e.src_b""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"),
          explode(F.shingle_hashes(col("text"))).as("h"))
        .distinct()
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("n"),
          graft.functions.sketches.hll_sketch(col("h")).as("regs"))
      def estOf(regs: String): org.apache.spark.sql.Column = {
        val s2 = s"aggregate(transform($regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"
        expr(s"$alphaNum div (1000 * $s2)")
      }
      val a = per.select(col("source").as("src_a"), col("n").as("na"),
        col("regs").as("ra"))
      val b = per.select(col("source").as("src_b"), col("n").as("nb"),
        col("regs").as("rb"))
      // per-source register table is #sources rows — broadcast pair join
      val pairs = a.join(broadcast(b), col("src_a") < col("src_b"))
        .withColumn("ru",
          zip_with(col("ra"), col("rb"), (x, y) => greatest(x, y)))
        .select(col("src_a"), col("src_b"), col("na"), col("nb"),
          estOf("ra").as("est_a"), estOf("rb").as("est_b"),
          estOf("ru").as("union_est"))
      val xi = d.select(col("source").as("src_a"), col("h"))
        .join(d.select(col("source").as("src_b"), col("h")), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("inter_exact"))
      pairs.join(xi, Seq("src_a", "src_b"), "left")
        .withColumn("inter_exact",
          coalesce(col("inter_exact"), lit(0L)).cast("long"))
        .select(col("src_a"), col("src_b"), col("inter_exact"),
          (col("est_a") + col("est_b") - col("union_est")).as("inter_est"),
          (col("na") + col("nb") - col("inter_exact")).cast("long")
            .as("union_exact"),
          col("union_est"),
          expr("abs(est_a + est_b - union_est - inter_exact) * 10000 " +
            "div (na + nb - inter_exact)").as("err_union_bp"))
        .orderBy(col("src_a"), col("src_b"))
    }.withBuildOnly { (_, s, dir) =>
      // Production: registers straight off the RAW shingle stream — the
      // HLL update is replay-idempotent (a duplicate only re-touches
      // the same register), so the (source, h)-distinct exchange that
      // the oracle form pays for its exact audit legs (measured: the
      // only growing term at the 1000× dense replicas, ~83 MB =
      // #splits × per-source vocabulary) is DROPPED, not just pruned:
      // the per-source exchange is #splits × 512 B of register state.
      // No exact counts, no Σ-intersection self-join — sketch algebra
      // only, the shape a fleet actually ships.
      val alphaNum = 709L * (1L << 37)
      val per = Tables.documents(s, dir)
        .select(col("source"),
          explode(F.shingle_hashes(col("text"))).as("h"))
        .groupBy("source")
        .agg(graft.functions.sketches.hll_sketch(col("h")).as("regs"))
      def estOf(regs: String): org.apache.spark.sql.Column = {
        val s2 = s"aggregate(transform($regs, " +
          "r -> shiftleft(CAST(1 AS BIGINT), CAST(25 - r AS INT))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"
        expr(s"$alphaNum div (1000 * $s2)")
      }
      val a = per.select(col("source").as("src_a"), col("regs").as("ra"))
      val b = per.select(col("source").as("src_b"), col("regs").as("rb"))
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .withColumn("ru",
          zip_with(col("ra"), col("rb"), (x, y) => greatest(x, y)))
        .select(col("src_a"), col("src_b"),
          (estOf("ra") + estOf("rb") - estOf("ru")).as("inter_est"),
          estOf("ru").as("union_est"))
    }
  }

  // ---- e149: Gonzalez k-center exemplar selection --------------------------

  /** k-CENTER exemplars via farthest-point traversal
    * ([[graft.operators.KCenter]], Gonzalez 1985 — a 2-approximation of
    * the optimal covering radius): pick 8 vectors such that NO vector
    * is far from every pick. The metric-diversity objective next to
    * e122's submodular coverage ("represent the most shingles") and
    * e89/e95's weighted sampling ("match a score distribution"):
    * coverage maximizes overlap mass and will happily pick 8 near-
    * duplicates of the dominant mode; k-center is the anti-mode-
    * collapse pick — each new exemplar is by construction the vector
    * WORST served by the current set. The output radius column is the
    * quantity the objective minimizes (max over vectors of min
    * distance to the picks, integer ten-thousandths of 1−cos),
    * non-increasing by construction — read it to choose k: the knee
    * where radius stops dropping is the corpus's intrinsic mode count.
    * Also the principled seeding for the e17/e64 IVF codebook.
    *
    * Determinism: the e93 contract (4-dp-rounded cosine before any
    * comparison, lowest-vec_id tie-break, first center = lowest
    * vec_id). Scale (100 TB): k rounds × (one broadcast join against
    * the ≤ k chosen centers + a per-vector min + a global top-1 —
    * TakeOrderedAndProject, never a full sort), one collected row per
    * round (the e122 discipline); k·N distances total, no all-pairs
    * stage. The oracle replays the traversal as a k-round
    * MATERIALIZED-CTE chain.
    */
  private def e149KCenter = {
    val k = 8
    def dotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    val dT = s"10000 - CAST(round((round(${dotD("p.uv", "c.uv")}, 4) + 0)" +
      " * 10000) AS BIGINT)"
    val roundCtes = (1 to k).map { r =>
      s"""md$r AS (SELECT p.vec_id, min($dT) AS mind
         |  FROM r p CROSS JOIN (SELECT r.uv FROM cents$r
         |    JOIN r ON r.vec_id = cents$r.cid) c
         |  GROUP BY p.vec_id),
         |w$r AS MATERIALIZED (SELECT vec_id, mind FROM md$r
         |  ORDER BY mind DESC, vec_id LIMIT 1),
         |cents${r + 1} AS MATERIALIZED (SELECT cid FROM cents$r
         |  UNION ALL SELECT vec_id FROM w$r),""".stripMargin
    }.mkString("\n")
    val sel = (1 to k).map { r =>
      val center =
        if (r == 1) "(SELECT cid FROM c1)"
        else s"(SELECT vec_id FROM w${r - 1})"
      s"""SELECT CAST($r AS BIGINT) AS pick,
         |  CAST($center AS BIGINT) AS center_id,
         |  CAST((SELECT mind FROM w$r) AS BIGINT) AS radius_t""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef.sql(
      "e149_kcenter",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(${dotD("v", "v")}) AS nrm FROM b),
         |r AS MATERIALIZED (SELECT vec_id,
         |    list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |c1 AS (SELECT min(vec_id) AS cid FROM r),
         |cents1 AS MATERIALIZED (SELECT cid FROM c1),
         |$roundCtes
         |sel AS ($sel)
         |SELECT pick, center_id, radius_t FROM sel
         |ORDER BY pick""".stripMargin) { (s, dir) =>
      val picks = Pins.scope { p =>
        graft.operators.KCenter.gonzalez(p.checkpoint(
          Tables.embeddings(s, dir)
            .select(col("vec_id"), col("embedding").cast("array<double>")
              .as("v"))
            .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
            .filter(col("nrm") > 0)
            .withColumn("uv", transform(col("v"), x => x / col("nrm")))
            .select(col("vec_id"), col("uv"))), k)
      }
      import s.implicits._
      picks.map { case (p, c, rad) => (p.toLong, c, rad) }
        .toDF("pick", "center_id", "radius_t")
        .orderBy(col("pick"))
    }
  }

  // ---- e151: grid-density clustering (cell-graph DBSCAN) ------------------

  /** Density-based cluster census over the embedding corpus — DBSCAN's
    * reading (dense cores, reachable borders, noise) made LINEAR by the
    * classic grid coarsening (the GriDBSCAN/"grid DBSCAN" family):
    * project each vector to 2-D with a deterministic JL block
    * ([[Portable.hyperplaneWeight]] planes 48–49, an independent block
    * from e6's 0–11 and e47's 32–47), bucket into ε-cells, call a cell
    * CORE when it holds ≥ minPts points, and connect core cells through
    * 8-neighborhood adjacency — [[graft.operators.ConnectedComponents]]
    * over the CELL graph, never the point graph. Points in non-core
    * cells adjacent to a core cell are that cluster's BORDER mass
    * (min-label across adjacent cores, deterministic); the rest is
    * noise. This is density clustering at CELL resolution, stated as
    * such: same-cell points sit within √2·ε, adjacent-cell points
    * within 2√2·ε — the coarsening sandwiches ε-reachability, it does
    * not equal it.
    *
    * On THIS corpus the honest reading is one dense core + sparse halo:
    * the embeddings are isotropic-random unit vectors (e118/e147
    * measured label agreement at chance), so a density detector SHOULD
    * report a single central blob and perimeter noise — the output
    * proves the detector reads unclustered data as unclustered.
    *
    * Scale (100 TB): per-point work is two 64-term dot products and a
    * grid key — one keyed aggregation to the CELL grain, and everything
    * after (core filter, 8-neighbor equi-join via precomputed neighbor
    * coordinates, CC, census) rides the occupied-cell table, bounded by
    * min(N, grid area) and typically ≪ N. The point-pair ε-join classic
    * DBSCAN needs never happens; CC runs on ≤ N/minPts core cells. The
    * one knob pair (ε, minPts) is corpus-tuned like e3's threshold —
    * the census itself is the tuning artifact.
    */
  private def e151GridDensity = {
    val eps = 0.4
    val minPts = 5
    val planeX = 48
    val planeY = 49
    val scale = math.sqrt(3.0 / 2)
    val scaleSql = java.lang.Double.toString(scale)
    val OFF = 1048576L // cell-key packing: (cx+OFF)*MUL + (cy+OFF)
    val MUL = 4194304L
    def projDuck(j: Int): String =
      "(list_reduce(list_prepend(CAST(0 AS DOUBLE)," +
        " list_transform(range(1, 65), d -> CAST(embedding[d] AS DOUBLE) * " +
        Portable.hyperplaneWeightDuck(j) +
        s")), (s, v) -> s + v) * $scaleSql)"
    QueryDef.pinned(
      "e151_grid_density",
      s"""WITH RECURSIVE p AS (SELECT vec_id, ${projDuck(planeX)} AS px,
         |    ${projDuck(planeY)} AS py
         |  FROM embeddings),
         |cells AS (SELECT CAST(floor(px / $eps) AS BIGINT) AS cx,
         |    CAST(floor(py / $eps) AS BIGINT) AS cy,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |keyed AS (SELECT (cx + $OFF) * $MUL + (cy + $OFF) AS ck,
         |    cx, cy, n FROM cells),
         |core AS MATERIALIZED (SELECT * FROM keyed WHERE n >= $minPts),
         |offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
         |  (0,1),(1,-1),(1,0),(1,1)),
         |edges AS (SELECT a.ck AS u, b.ck AS v
         |  FROM core a CROSS JOIN offs o
         |  JOIN core b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy),
         |reach(node, r) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |compe AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |comp AS MATERIALIZED (SELECT c.ck, c.cx, c.cy,
         |    coalesce(ce.cluster, c.ck) AS cluster, c.n
         |  FROM core c LEFT JOIN compe ce ON ce.node = c.ck),
         |border AS MATERIALIZED (SELECT k.ck, k.n,
         |    min(cm.cluster) AS cluster
         |  FROM keyed k CROSS JOIN offs o
         |  JOIN comp cm ON cm.cx = k.cx + o.dx AND cm.cy = k.cy + o.dy
         |  WHERE k.n < $minPts
         |  GROUP BY k.ck, k.n),
         |noise AS (SELECT k.ck, k.n FROM keyed k
         |  LEFT JOIN border b ON b.ck = k.ck
         |  WHERE k.n < $minPts AND b.ck IS NULL),
         |clusters AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(n) AS BIGINT) AS n_core_pts
         |  FROM comp GROUP BY cluster),
         |bstats AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_border_pts
         |  FROM border GROUP BY cluster),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS np FROM p),
         |u AS (SELECT c.cluster, c.n_cells, c.n_core_pts,
         |    coalesce(b.n_border_pts, 0) AS n_border_pts
         |  FROM clusters c LEFT JOIN bstats b USING (cluster)
         |  UNION ALL
         |  SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(coalesce(sum(n), 0) AS BIGINT)
         |  FROM noise)
         |SELECT cluster, n_cells, n_core_pts, n_border_pts,
         |  (n_core_pts + n_border_pts) * 10000 // tot.np AS share_bp
         |FROM u CROSS JOIN tot
         |ORDER BY cluster""".stripMargin) { (p, s, dir) =>
      val embD = col("embedding").cast("array<double>")
      def proj(plane: Int): org.apache.spark.sql.Column = {
        val w = array((0 until 64).map(d =>
          lit(Portable.hyperplaneWeight(plane, d))): _*)
        F.array_dot(embD, w) * lit(scale)
      }
      val xy = Tables.embeddings(s, dir)
        .select(col("vec_id"), proj(planeX).as("px"), proj(planeY).as("py"))
      // cell grain: bounded by occupied cells
      val keyed = p.checkpoint(xy
        .select(floor(col("px") / eps).as("cx"),
          floor(col("py") / eps).as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
        .withColumn("ck", (col("cx") + OFF) * MUL + (col("cy") + OFF)))
      // 8-neighborhood probes as an EQUI-join: neighbor coordinates are
      // precomputed on the probing side (explode of the 8 literal
      // offsets — no BNLJ), so both cell joins below hash on (cx, cy).
      val offs = expr(
        "explode(array(" + Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
          (0, 1), (1, -1), (1, 0), (1, 1))
          .map { case (dx, dy) => s"struct($dx AS dx, $dy AS dy)" }
          .mkString(",") + "))")
      val core = keyed.filter(col("n") >= minPts)
      def withNbr(cellsDf: DataFrame): DataFrame = cellsDf
        .select(col("*"), offs.as("o"))
        .select(col("ck"), col("n"),
          (col("cx") + col("o.dx")).as("ncx"),
          (col("cy") + col("o.dy")).as("ncy"))
      val edges = withNbr(core)
        .join(core.select(col("cx").as("ncx"), col("cy").as("ncy"),
          col("ck").as("v")), Seq("ncx", "ncy"))
        .select(col("ck").as("u"), col("v"))
      val labels = p.own(graft.operators.ConnectedComponents
        .components(edges, "u", "v"))
      // isolated core cells (no core neighbor) are their own cluster
      val comp = p.checkpoint(core
        .join(labels.withColumnRenamed("node", "ck"), Seq("ck"), "left")
        .select(col("ck"), col("cx"), col("cy"),
          coalesce(col("comp"), col("ck")).as("cluster"), col("n")))
      p.release(labels)
      val nonCore = keyed.filter(col("n") < minPts)
      val border = withNbr(nonCore)
        .join(comp.select(col("cx").as("ncx"), col("cy").as("ncy"),
          col("cluster")), Seq("ncx", "ncy"))
        .groupBy("ck", "n").agg(min(col("cluster")).as("cluster"))
      val noise = nonCore.join(border.select("ck"), Seq("ck"), "left_anti")
      val clusters = comp.groupBy("cluster")
        .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_core_pts"))
      val bstats = border.groupBy("cluster")
        .agg(sum(col("n")).as("n_border_pts"))
      // np from the CHECKPOINTED cell table: xy has no
      // filter between the scan and the cell groupBy, so Σ n over cells
      // = count(p) exactly — the former p.agg(count) re-ran the corpus
      // scan plus both 64-term JL projections just to count rows.
      val tot = keyed.agg(sum(col("n")).as("np"))
      val out = clusters.join(bstats, Seq("cluster"), "left")
        .select(col("cluster"), col("n_cells"), col("n_core_pts"),
          coalesce(col("n_border_pts"), lit(0L)).as("n_border_pts"))
        .unionByName(noise
          .agg(count(lit(1)).as("n_cells"),
            coalesce(sum(col("n")), lit(0L)).as("n_border_pts"))
          .select(lit(-1L).as("cluster"), col("n_cells"),
            lit(0L).as("n_core_pts"), col("n_border_pts")))
      out.crossJoin(tot)
        .select(col("cluster"), col("n_cells"), col("n_core_pts"),
          col("n_border_pts"),
          expr("(n_core_pts + n_border_pts) * 10000 div np").as("share_bp"))
        .orderBy("cluster")
    }
  }

  // ---- e152: MMR diversified top-k selection -------------------------------

  /** Maximal-Marginal-Relevance top-k for the corpus's lowest-id query
    * vector — see [[graft.operators.MmrSelect]] for the objective, the
    * integer determinism contract (4-dp cosine ten-thousandths, exact
    * rational λ = 7/10, lowest-id ties, round-1 empty-max = 0), and the
    * k·N linear scale posture (one ≤ k-row broadcast + one global top-1
    * per round, ONE collected row per round — the e122/e149 discipline).
    * The oracle unrolls the same k greedy rounds as MATERIALIZED CTEs
    * (the e149 pattern) so every pick, relevance, and MMR score is
    * replayed integer-for-integer.
    *
    * Output: pick order, picked vec_id, its query relevance rel_t, and
    * its MMR score mmr_t10 = 7·rel_t − 3·max-sim-to-prior-picks (units:
    * 10 × ten-thousandths). On this isotropic corpus relevance is flat
    * (cos ≈ 0 ± 0.12), so the diversity term visibly reorders the tail
    * — exactly the regime where pure-relevance top-k returns redundant
    * near-ties and MMR's penalty earns its cost.
    */
  private def e152MmrSelect = {
    val k = 10
    val lamN = 7
    def dotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    def simTDuck(x: String, y: String): String =
      s"CAST(round((round(${dotD(x, y)}, 4) + 0) * 10000) AS BIGINT)"
    val roundCtes = (2 to k).map { r =>
      s"""ms$r AS (SELECT p.vec_id, p.rel_t,
         |    max(${simTDuck("p.uv", "c.uv")}) AS maxsim
         |  FROM r p CROSS JOIN (SELECT rr.uv FROM s${r - 1} sl
         |    JOIN r rr ON rr.vec_id = sl.vec_id) c
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
         |  GROUP BY p.vec_id, p.rel_t),
         |w$r AS MATERIALIZED (SELECT vec_id, rel_t,
         |    $lamN * rel_t - ${10 - lamN} * maxsim AS mmr
         |  FROM ms$r ORDER BY mmr DESC, vec_id LIMIT 1),
         |s$r AS MATERIALIZED (SELECT vec_id FROM s${r - 1}
         |  UNION ALL SELECT vec_id FROM w$r),""".stripMargin
    }.mkString("\n")
    val sel = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS pick, vec_id, rel_t, mmr FROM w$r")
      .mkString("\nUNION ALL\n")
    QueryDef.sql(
      "e152_mmr_select",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(${dotD("v", "v")}) AS nrm FROM b),
         |r0 AS MATERIALIZED (SELECT vec_id,
         |    list_transform(v, x -> x / nrm) AS uv
         |  FROM n0 WHERE nrm > 0),
         |mn AS (SELECT min(vec_id) AS qid FROM r0),
         |q AS (SELECT uv AS qu FROM r0 CROSS JOIN mn WHERE vec_id = qid),
         |r AS MATERIALIZED (SELECT vec_id, uv,
         |    ${simTDuck("uv", "qu")} AS rel_t
         |  FROM r0 CROSS JOIN q CROSS JOIN mn WHERE vec_id <> qid),
         |w1 AS MATERIALIZED (SELECT vec_id, rel_t,
         |    $lamN * rel_t AS mmr
         |  FROM r ORDER BY $lamN * rel_t DESC, vec_id LIMIT 1),
         |s1 AS MATERIALIZED (SELECT vec_id FROM w1),
         |$roundCtes
         |sel AS ($sel)
         |SELECT pick, vec_id, rel_t, CAST(mmr AS BIGINT) AS mmr_t10
         |FROM sel ORDER BY pick""".stripMargin) { (s, dir) =>
      def simT(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        round((round(F.array_dot(a, b), 4) + lit(0d)) * 10000).cast("long")
      val picks = Pins.scope { p =>
        val pts = p.checkpoint(Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>")
            .as("v"))
          .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
          .filter(col("nrm") > 0)
          .withColumn("uv", transform(col("v"), x => x / col("nrm")))
          .select(col("vec_id"), col("uv")))
        val qid = pts.select(min(col("vec_id"))).head().getLong(0)
        val q = pts.filter(col("vec_id") === qid).select(col("uv").as("qu"))
        val cands = p.checkpoint(pts.filter(col("vec_id") =!= qid)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("uv"),
            simT(col("uv"), col("qu")).as("rel_t")))
        graft.operators.MmrSelect.select(cands, k, lamN)
      }
      import s.implicits._
      picks.map { case (p, id, rel, mmr) => (p.toLong, id, rel, mmr) }
        .toDF("pick", "vec_id", "rel_t", "mmr_t10")
        .orderBy(col("pick"))
    }
  }

  // ---- e153: embedding generation-drift audit ------------------------------

  /** Per-class centroid shift between two corpus GENERATIONS of the
    * embedding table — the VECTOR-SPACE member of the drift family
    * (e69's TV distance and e115's PSI read categorical censuses; this
    * reads the embedding distribution itself, the signal that moves
    * when the upstream encoder or corpus mix changes). Generations are
    * e138's deterministic id split. Per (label, generation) the
    * centroid is held as 64 EXACT integer sums of fixed-point (1e-6)
    * coordinates — addition is order-free, so the quantity is
    * bit-identical in both engines AND additive: a persisted gen-A sum
    * table absorbs gen B with one scan (the e41/e138 incremental
    * posture), and per-shard sums merge by addition at any fan-in.
    *
    * Two columns per class, because drift alone can lie: `drift_t`
    * (ten-thousandths of 1 − cos between the two centroid sums —
    * cosine is scale-invariant, so sums need no division) and the
    * mean-resultant-length coherence `coher_{a,b}_bp` (‖Σuv‖/n). For
    * isotropic random unit vectors coherence sits at the 1/√n noise
    * floor — and when BOTH generations are at that floor their
    * centroid angle is meaningless noise, which is exactly what this
    * corpus shows (coher ≈ 1–2% ≈ 1/√25): the audit names the regime
    * instead of reporting a spurious drift number. A real encoder
    * change moves coherence off the floor first.
    *
    * Scale (100 TB): posexplode ×64, then the (label, gen, dim)
    * partial aggregation collapses map-side to ≤ #labels·2·64 rows —
    * ONE bounded exchange carries ~1280 longs regardless of corpus
    * size; the quadratic terms run as exact DECIMAL products on that
    * bounded table (Long would overflow at fleet-scale n·1e6 sums) and
    * only the final per-class scalars touch floating point.
    */
  private def e153EmbeddingDrift = {
    val genA = "(((vec_id % 1000003) * 2654435761) % 1000000007) % 2 = 0"
    def dotD(x: String, y: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> $x[i] * $y[i])),
         |      (s, v) -> s + v)""".stripMargin
    QueryDef.pinned(
      "e153_embedding_drift",
      s"""WITH b AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, label, v, sqrt(${dotD("v", "v")}) AS nrm
         |  FROM b),
         |r AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(v, x -> x / nrm) AS uv, $genA AS gen_a
         |  FROM n0 WHERE nrm > 0),
         |d AS (SELECT label, gen_a, t.dim,
         |    CAST(round(uv[t.dim] * 1000000) AS BIGINT) AS q
         |  FROM r CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) t),
         |sums AS (SELECT label, gen_a, dim,
         |    CAST(sum(q) AS BIGINT) AS sq
         |  FROM d GROUP BY label, gen_a, dim),
         |cnt AS (SELECT label, gen_a, CAST(count(*) AS BIGINT) AS n
         |  FROM r GROUP BY label, gen_a),
         |j AS (SELECT a.label,
         |    CAST(sum(CAST(a.sq AS HUGEINT) * b.sq) AS DOUBLE) AS dab,
         |    CAST(sum(CAST(a.sq AS HUGEINT) * a.sq) AS DOUBLE) AS daa,
         |    CAST(sum(CAST(b.sq AS HUGEINT) * b.sq) AS DOUBLE) AS dbb
         |  FROM sums a JOIN sums b
         |    ON b.label = a.label AND b.dim = a.dim
         |  WHERE a.gen_a AND NOT b.gen_a
         |  GROUP BY a.label)
         |SELECT j.label, ca.n AS n_a, cb.n AS n_b,
         |  10000 - CAST(round((round(dab / sqrt(daa * dbb), 4) + 0)
         |    * 10000) AS BIGINT) AS drift_t,
         |  CAST(round(sqrt(daa) / (10000.0 * ca.n) * 100) AS BIGINT)
         |    AS coher_a_bp,
         |  CAST(round(sqrt(dbb) / (10000.0 * cb.n) * 100) AS BIGINT)
         |    AS coher_b_bp
         |FROM j
         |JOIN cnt ca ON ca.label = j.label AND ca.gen_a
         |JOIN cnt cb ON cb.label = j.label AND NOT cb.gen_a
         |ORDER BY j.label""".stripMargin) { (p, s, dir) =>
      val r = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(F.array_dot(col("v"), col("v"))))
        .filter(col("nrm") > 0)
        .select(col("vec_id"), col("label"),
          transform(col("v"), x => x / col("nrm")).as("uv"),
          expr(genA).as("gen_a"))
      // ≤ #labels·2·64 rows by construction
      val sums = p.checkpoint(r
        .select(col("label"), col("gen_a"), posexplode(col("uv")))
        .select(col("label"), col("gen_a"), col("pos").as("dim"),
          round(col("col") * 1000000).cast("long").as("q"))
        .groupBy("label", "gen_a", "dim").agg(sum(col("q")).as("sq")))
      val cnt = r.groupBy("label", "gen_a").agg(count(lit(1)).as("n"))
      val a = sums.filter(col("gen_a"))
        .select(col("label"), col("dim"), col("sq").as("sa"))
      val bb = sums.filter(!col("gen_a"))
        .select(col("label"), col("dim"), col("sq").as("sb"))
      val dec = "decimal(38,0)"
      val j = a.join(bb, Seq("label", "dim"))
        .groupBy("label")
        .agg(
          sum(col("sa").cast(dec) * col("sb").cast(dec)).cast("double")
            .as("dab"),
          sum(col("sa").cast(dec) * col("sa").cast(dec)).cast("double")
            .as("daa"),
          sum(col("sb").cast(dec) * col("sb").cast(dec)).cast("double")
            .as("dbb"))
      val ca = cnt.filter(col("gen_a")).select(col("label"), col("n").as("n_a"))
      val cb = cnt.filter(!col("gen_a")).select(col("label"), col("n").as("n_b"))
      j.join(ca, "label").join(cb, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          (lit(10000L) - round((round(col("dab")
            / sqrt(col("daa") * col("dbb")), 4) + lit(0d)) * 10000)
            .cast("long")).as("drift_t"),
          round(sqrt(col("daa")) / (lit(10000.0) * col("n_a")) * 100)
            .cast("long").as("coher_a_bp"),
          round(sqrt(col("dbb")) / (lit(10000.0) * col("n_b")) * 100)
            .cast("long").as("coher_b_bp"))
        .orderBy("label")
    }
  }

  // ---- e154: exact 1-D Wasserstein (earth-mover) drift ---------------------

  /** Per-source W₁ (earth-mover) distance between each source's
    * document-length distribution and the corpus-wide reference — the
    * MAGNITUDE-AWARE drift member: e69's TV and e115's PSI see only
    * how much mass differs per bucket, W₁ also prices how FAR it
    * moved (a source whose docs grew by 5 chars and one whose docs
    * grew by 500 have similar TV but 100× different W₁ — the number a
    * token-budget planner actually needs). On an ordered 1-D support
    * the transport integral has the closed form
    * W₁ = Σᵢ |CDF_s(vᵢ) − CDF_g(vᵢ)| · (vᵢ₊₁ − vᵢ), and with counts
    * instead of densities it is EXACT INTEGER arithmetic:
    * |cum_s·N − cum_g·n_s| · gap summed as DECIMAL (fleet-scale sums
    * overflow Long), divided once at the end — no binning error, no
    * quantile sketch, bit-identical in both engines. Output in
    * milli-characters.
    *
    * Scale (100 TB): per-doc work collapses map-side to the
    * (source, n_chars) count table; the spine is #sources × support
    * where support is bounded by the length CODOMAIN (≤ ~10⁵ distinct
    * values no matter how many documents), so the cumulative windows
    * and the transport sum all ride construction-bounded frames. The
    * global-support window is unpartitioned BY DESIGN (bounded rows,
    * the e76 pattern); per-source cumsums partition by source.
    */
  private def e154WassersteinDrift = QueryDef.pinned(
    "e154_wasserstein_drift",
    """WITH counts AS (SELECT source, n_chars AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT v, CAST(sum(c) AS BIGINT) AS gc FROM counts GROUP BY v),
      |support AS (SELECT v, gc,
      |    CAST(sum(gc) OVER (ORDER BY v) AS BIGINT) AS cumg,
      |    lead(v) OVER (ORDER BY v) AS nxt
      |  FROM g),
      |nsrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM counts
      |  GROUP BY source),
      |ntot AS (SELECT CAST(sum(gc) AS BIGINT) AS nt FROM g),
      |spine AS (SELECT s.source, sup.v, sup.cumg, sup.nxt,
      |    coalesce(c.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN support sup
      |  LEFT JOIN counts c ON c.source = s.source AND c.v = sup.v),
      |cums AS (SELECT source, v, cumg, nxt,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
      |      AS cum_s
      |  FROM spine),
      |terms AS (SELECT cu.source, ns.ns, nt.nt,
      |    CAST(abs(cu.cum_s * nt.nt - cu.cumg * ns.ns) AS HUGEINT)
      |      * (cu.nxt - cu.v) AS num
      |  FROM cums cu JOIN nsrc ns ON ns.source = cu.source
      |  CROSS JOIN ntot nt
      |  WHERE cu.nxt IS NOT NULL)
      |SELECT source, ns AS n_docs,
      |  CAST(round(1000.0 * CAST(sum(num) AS DOUBLE)
      |    / (CAST(ns AS DOUBLE) * nt)) AS BIGINT) AS w1_milli
      |FROM terms GROUP BY source, ns, nt
      |ORDER BY source""".stripMargin) { (p, s, dir) =>
    // (source, length) grain: bounded table
    val counts = p.checkpoint(Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c")))
    val g = counts.groupBy("v").agg(sum(col("c")).as("gc"))
    // support grain (codomain-bounded): two-level prefix + bucketed
    // lead replace the unpartitioned window pair; g is a bounded
    // aggregate of the checkpointed counts table, so the duplicate
    // branch reads are cheap re-aggregations
    val support = BoundedPrefix.leadKey(
      BoundedPrefix.cumsum(g, "v", expr("v div 4096"),
        Seq("gc" -> "cumg")),
      "v", expr("v div 4096"), "nxt")
    val nsrc = counts.groupBy("source").agg(sum(col("c")).as("ns"))
    val ntot = g.agg(sum(col("gc")).as("nt"))
    val ws = Window.partitionBy(col("source")).orderBy(col("v"))
    val spine = counts.select("source").distinct()
      .crossJoin(broadcast(support))
      .join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"), col("cumg"), col("nxt"),
        coalesce(col("c"), lit(0L)).as("c"))
    val terms = spine
      .withColumn("cum_s", sum(col("c")).over(ws))
      .filter(col("nxt").isNotNull)
      .join(nsrc, "source")
      .crossJoin(ntot)
      .select(col("source"), col("ns"), col("nt"),
        (abs(col("cum_s") * col("nt") - col("cumg") * col("ns"))
          .cast("decimal(38,0)") * (col("nxt") - col("v"))).as("num"))
    terms.groupBy("source", "ns", "nt").agg(sum(col("num")).as("sn"))
      .select(col("source"), col("ns").as("n_docs"),
        round(lit(1000.0) * col("sn").cast("double")
          / (col("ns").cast("double") * col("nt"))).cast("long")
          .as("w1_milli"))
      .orderBy("source")
  }

  // ---- e157: pairwise-source Wasserstein interchangeability matrix --------

  /** Pairwise W₁ between every two sources' length distributions — the
    * INTERCHANGEABILITY matrix a mixture designer (e36/e51/e74) reads
    * before swapping one source for another: e154 prices each source
    * against the corpus reference, e69's TV matrix prices pairwise mass
    * disagreement, this prices pairwise mass MOVEMENT (two sources can
    * be near-disjoint in TV yet 5 characters apart in W₁ — freely
    * interchangeable for a token-budget plan). Same exact-integer
    * transport algebra as e154 on the same global support spine; the
    * cross-multiplied CDFs go through DECIMAL BEFORE multiplying (the
    * cum·n products themselves overflow Long at fleet scale, not just
    * their sum).
    *
    * Scale (100 TB): per-doc work is e154's one map-side collapse to
    * (source, n_chars) counts; the pair stage is #sources²/2 × support
    * rows — bounded by the length CODOMAIN and the source fan, never
    * the corpus (20 sources × 313 support here = 59k pair-terms). For
    * very wide source fans the honest posture is a prefilter (e69's TV
    * matrix or e154's vs-corpus screen) before the full quadratic
    * matrix; the machinery is unchanged.
    */
  private def e157W1Matrix = QueryDef.pinned(
    "e157_w1_matrix",
    """WITH counts AS (SELECT source, n_chars AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT v FROM counts GROUP BY v),
      |support AS (SELECT v, lead(v) OVER (ORDER BY v) AS nxt FROM g),
      |nsrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM counts
      |  GROUP BY source),
      |spine AS (SELECT s.source, sup.v, sup.nxt, coalesce(c.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN support sup
      |  LEFT JOIN counts c ON c.source = s.source AND c.v = sup.v),
      |cums AS MATERIALIZED (SELECT source, v, nxt,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
      |      AS cum
      |  FROM spine),
      |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
      |    na.ns AS n_a, nb.ns AS n_b,
      |    abs(CAST(a.cum AS HUGEINT) * nb.ns
      |      - CAST(b.cum AS HUGEINT) * na.ns) * (a.nxt - a.v) AS num
      |  FROM cums a JOIN cums b
      |    ON b.v = a.v AND a.source < b.source
      |  JOIN nsrc na ON na.source = a.source
      |  JOIN nsrc nb ON nb.source = b.source
      |  WHERE a.nxt IS NOT NULL)
      |SELECT src_a, src_b, n_a, n_b,
      |  CAST(round(1000.0 * CAST(sum(num) AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * n_b)) AS BIGINT) AS w1_milli
      |FROM pairs GROUP BY src_a, src_b, n_a, n_b
      |ORDER BY src_a, src_b""".stripMargin) { (p, s, dir) =>
    // (source, length) grain: bounded table
    val counts = p.checkpoint(Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c")))
    // support grain (codomain-bounded): bucketed lead, no
    // unpartitioned window; rides the checkpointed counts table
    val support = BoundedPrefix.leadKey(
      counts.groupBy("v").agg(count(lit(1)).as("_g")).select("v"),
      "v", expr("v div 4096"), "nxt")
    val nsrc = counts.groupBy("source").agg(sum(col("c")).as("ns"))
    val ws = Window.partitionBy(col("source")).orderBy(col("v"))
    // one cum table feeds both pair sides
    val cums = p.checkpoint(counts.select("source").distinct()
      .crossJoin(broadcast(support))
      .join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"), col("nxt"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum", sum(col("c")).over(ws))
      .filter(col("nxt").isNotNull)
      .join(nsrc, "source"))
    val dec = "decimal(38,0)"
    val a = cums.select(col("source").as("src_a"), col("v"), col("nxt"),
      col("cum").as("ca"), col("ns").as("n_a"))
    val b = cums.select(col("source").as("src_b"), col("v").as("vb"),
      col("cum").as("cb"), col("ns").as("n_b"))
    a.join(b, col("vb") === col("v") && col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        (abs(col("ca").cast(dec) * col("n_b")
          - col("cb").cast(dec) * col("n_a"))
          * (col("nxt") - col("v"))).as("num"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(sum(col("num")).as("sn"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        round(lit(1000.0) * col("sn").cast("double")
          / (col("n_a").cast("double") * col("n_b"))).cast("long")
          .as("w1_milli"))
      .orderBy("src_a", "src_b")
  }

  // ---- e159: exact quantiles by multipass histogram narrowing -------------

  /** EXACT p50/p90/p99 of per-row revenue (≈10⁹-wide integer domain)
    * via [[graft.operators.MultipassQuantile]] — iterative B-bucket
    * histogram range-narrowing, the classic distributed k-th selection.
    *
    * This completes the quantile family's missing corner. The existing
    * members each trade something: e35's window ranking is exact but
    * needs a per-group sort (a full-corpus sort when ungrouped); e63
    * samples (probabilistic error, bounded rows); e150's log-histogram
    * is mergeable but one-sided 2×-bounded; Spark's own `percentile`
    * is exact but BUFFERS every value in one aggregation state — the
    * 100 TB ungrouped selection OOMs in the aggregate buffer, not in
    * any exchange. Multipass selection is EXACT with bounded memory:
    * each round is one map-side-combinable histogram whose exchange is
    * ≤ 3·1024 rows regardless of corpus size, and the round count is
    * ceil(log₁₀₂₄(domain)) — THREE refinement scans for this ~10⁹-wide
    * revenue domain (measured: rounds = 3 at every SF, because the
    * domain, not the row count, sets the depth). The price is
    * re-scanning the fact per round — 4 scans total vs e150's 1 — which
    * is the honest trade stated in SCALING.md: exactness at 100 TB
    * costs passes, never memory.
    *
    * Driver pulls are construction-bounded (the e122/e149 allowance
    * discipline): one 3-field row, then ≤ 3 targets × 1024 histogram
    * rows × 3 rounds. Ranks are e150's ceil convention
    * ((p·n + 9999) div 10⁴); every comparison is integer; ties are
    * value-equal at the rank boundary so the selected VALUE is unique
    * even where the rank's witness row is not. The oracle replays the
    * selection declaratively (row_number over the sorted values — the
    * form whose Spark twin would be the full sort this operator
    * exists to avoid).
    */
  private def e159MultipassQuantile = {
    val centsD = (e: String) => s"CAST(round(($e) * 100) AS BIGINT)"
    QueryDef.sql(
      "e159_multipass_quantile",
      s"""WITH v AS (SELECT ${centsD("l_extendedprice")}
         |    * (100 - ${centsD("l_discount")}) AS x FROM lineitem),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM v),
         |t(p_bp) AS (VALUES (CAST(5000 AS BIGINT)),
         |  (CAST(9000 AS BIGINT)), (CAST(9900 AS BIGINT))),
         |k AS (SELECT p_bp, n_rows,
         |    CAST((p_bp * n_rows + 9999) // 10000 AS BIGINT) AS k_rank
         |  FROM t, nn),
         |s AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
         |SELECT k.p_bp, k.n_rows, k.k_rank, CAST(s.x AS BIGINT) AS x_kth
         |FROM k JOIN s ON s.rn = k.k_rank
         |ORDER BY k.p_bp""".stripMargin) { (s, dir) =>
      val cents = (c: Column) => round(c * 100).cast("long")
      val xs = Tables.lineitem(s, dir).select(
        (cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))).as("x"))
      val (n, picks, _) = graft.operators.MultipassQuantile.select(
        xs, "x", Seq(5000L, 9000L, 9900L))
      import s.implicits._
      picks.map { case (p, k, v) => (p, n, k, v) }
        .toDF("p_bp", "n_rows", "k_rank", "x_kth")
        .orderBy(col("p_bp"))
    }
  }

  // ---- e160: Kolmogorov–Smirnov drift with split-point localization --------

  /** Per-source two-sample KS statistic vs the corpus reference — the
    * SUP-NORM drift member completing the family's metric axes: e69's
    * TV and e115's PSI read how much mass differs per bucket, e154's
    * W₁ prices how far it moved, KS reads the WORST single split —
    * sup_v |CDF_s(v) − CDF_g(v)| — and, unlike all three, comes with a
    * LOCATION: `ks_at` is the (smallest) length where the supremum is
    * attained, i.e. the split point where the source's distribution
    * diverges hardest from the corpus. That is the actionable column —
    * "this source departs below/above N chars" is a filter threshold,
    * where a scalar drift score is only a ranking. KS is also the
    * two-sample test statistic, so downstream alerting can attach the
    * classical significance thresholds (c(α)·√((n+m)/nm)) without any
    * new machinery.
    *
    * Arithmetic is e154's exact-integer discipline on the SAME
    * (source × support) spine: the gap is |cum_s·N − cum_g·n_s| held
    * as DECIMAL(38,0) (fleet-scale cum·N products overflow Long),
    * the supremum is a plain max, the argmax joins back on exact
    * decimal equality with a min-v tie-break, and ks_bp is one floor
    * division at the end — bit-identical on both engines, no float
    * enters any comparison.
    *
    * Scale (100 TB): identical posture to e154 — per-doc work
    * collapses map-side to the (source, n_chars) count table; spine,
    * windows, max, and argmax join-back all ride the
    * #sources × codomain-bounded support (the gaps table is
    * localCheckpointed because BOTH the max and the argmax read it —
    * one bounded materialization instead of a recomputed window).
    */
  private def e160KsDrift = QueryDef.pinned(
    "e160_ks_drift",
    """WITH counts AS (SELECT source, n_chars AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT v, CAST(sum(c) AS BIGINT) AS gc FROM counts GROUP BY v),
      |support AS (SELECT v,
      |    CAST(sum(gc) OVER (ORDER BY v) AS BIGINT) AS cumg
      |  FROM g),
      |nsrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM counts
      |  GROUP BY source),
      |ntot AS (SELECT CAST(sum(gc) AS BIGINT) AS nt FROM g),
      |spine AS (SELECT s.source, sup.v, sup.cumg, coalesce(c.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN support sup
      |  LEFT JOIN counts c ON c.source = s.source AND c.v = sup.v),
      |gaps AS (SELECT sp.source, sp.v, ns.ns, nt.nt,
      |    abs(CAST(sum(sp.c) OVER (PARTITION BY sp.source ORDER BY sp.v)
      |        AS HUGEINT) * nt.nt
      |      - CAST(sp.cumg AS HUGEINT) * ns.ns) AS gap
      |  FROM spine sp JOIN nsrc ns ON ns.source = sp.source
      |  CROSS JOIN ntot nt),
      |mx AS (SELECT source, ns, nt, max(gap) AS mgap FROM gaps
      |  GROUP BY source, ns, nt)
      |SELECT m.source, m.ns AS n_docs,
      |  CAST((10000 * m.mgap) // (CAST(m.ns AS HUGEINT) * m.nt) AS BIGINT)
      |    AS ks_bp,
      |  CAST(min(gp.v) AS BIGINT) AS ks_at
      |FROM mx m JOIN gaps gp ON gp.source = m.source AND gp.gap = m.mgap
      |GROUP BY m.source, m.ns, m.nt, m.mgap
      |ORDER BY m.source""".stripMargin) { (p, s, dir) =>
    val dec = "decimal(38,0)"
    // (source, length) grain: bounded table
    val counts = p.checkpoint(Tables.documents(s, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c")))
    val g = counts.groupBy("v").agg(sum(col("c")).as("gc"))
    // support grain (codomain-bounded): two-level prefix, no
    // unpartitioned window; rides the checkpointed counts table
    val support = BoundedPrefix.cumsum(g, "v", expr("v div 4096"),
      Seq("gc" -> "cumg")).select("v", "cumg")
    val nsrc = counts.groupBy("source").agg(sum(col("c")).as("ns"))
    val ntot = g.agg(sum(col("gc")).as("nt"))
    val ws = Window.partitionBy(col("source")).orderBy(col("v"))
    val spine = counts.select("source").distinct()
      .crossJoin(broadcast(support))
      .join(counts, Seq("source", "v"), "left")
      .select(col("source"), col("v"), col("cumg"),
        coalesce(col("c"), lit(0L)).as("c"))
    // bounded; read by BOTH max and argmax
    val gaps = p.checkpoint(spine
      .withColumn("cum_s", sum(col("c")).over(ws))
      .join(nsrc, "source")
      .crossJoin(ntot)
      .select(col("source"), col("v"), col("ns"), col("nt"),
        abs(col("cum_s").cast(dec) * col("nt")
          - col("cumg").cast(dec) * col("ns")).as("gap")))
    val mx = gaps.groupBy("source", "ns", "nt").agg(max(col("gap")).as("mgap"))
    mx.join(gaps.select(col("source"), col("v"), col("gap")), Seq("source"))
      .filter(col("gap") === col("mgap"))
      .groupBy("source", "ns", "nt", "mgap")
      .agg(min(col("v")).as("ks_at"))
      .select(col("source"), col("ns").as("n_docs"),
        expr(s"CAST((CAST(10000 AS $dec) * mgap)" +
          s" div (CAST(ns AS $dec) * nt) AS BIGINT)").as("ks_bp"),
        col("ks_at").cast("long").as("ks_at"))
      .orderBy("source")
  }

  // ---- e162: per-group exact quantiles, multipass ---------------------------

  /** Exact per-group p50/p90/p99 (revenue per return flag) via
    * [[graft.operators.MultipassQuantile.selectGrouped]] — e159's
    * narrowing with per-(group, target) state, and the fix for the
    * OTHER way exact group quantiles die at 100 TB: e35's per-group
    * window ranking puts ALL of a group's rows in ONE task (a hot
    * group is a single-task sort no executor survives — the same
    * concentration failure `withClusterSize` exists to avoid on
    * skewable keys, here forced by the PARTITION BY itself). In the
    * multipass plan no stage ever concentrates a group: every round's
    * histogram partially aggregates map-side on (group, target,
    * bucket), the one exchange is ≤ |groups|·3·1024 rows, and groups
    * that resolve early drop out of later rounds. The driver-pull
    * bound requires |groups| bounded by construction (3 return flags
    * here; sources, priorities, brands all qualify — a user-id grain
    * would not, and the operator's Scaladoc says so).
    *
    * The oracle replays the selection as the per-group window ranking
    * this operator exists to avoid — the semantic definition and the
    * scale plan, stated as such.
    */
  private def e162GroupedQuantile = {
    val centsD = (e: String) => s"CAST(round(($e) * 100) AS BIGINT)"
    QueryDef.sql(
      "e162_grouped_quantile",
      s"""WITH v AS (SELECT l_returnflag AS g, ${centsD("l_extendedprice")}
         |    * (100 - ${centsD("l_discount")}) AS x FROM lineitem),
         |nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows FROM v
         |  GROUP BY g),
         |t(p_bp) AS (VALUES (CAST(5000 AS BIGINT)),
         |  (CAST(9000 AS BIGINT)), (CAST(9900 AS BIGINT))),
         |k AS (SELECT g, p_bp, n_rows,
         |    CAST((p_bp * n_rows + 9999) // 10000 AS BIGINT) AS k_rank
         |  FROM nn, t),
         |s AS (SELECT g, x,
         |    row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM v)
         |SELECT k.g AS l_returnflag, k.p_bp, k.n_rows, k.k_rank,
         |  CAST(s.x AS BIGINT) AS x_kth
         |FROM k JOIN s ON s.g = k.g AND s.rn = k.k_rank
         |ORDER BY k.g, k.p_bp""".stripMargin) { (s, dir) =>
      val cents = (c: Column) => round(c * 100).cast("long")
      val xs = Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        (cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))).as("x"))
      val (ns, picks, _) = graft.operators.MultipassQuantile.selectGrouped(
        xs, "l_returnflag", "x", Seq(5000L, 9000L, 9900L))
      import s.implicits._
      picks.map { case (g, p, k, v) => (g, p, ns(g), k, v) }
        .toDF("l_returnflag", "p_bp", "n_rows", "k_rank", "x_kth")
        .orderBy(col("l_returnflag"), col("p_bp"))
    }
  }
}
