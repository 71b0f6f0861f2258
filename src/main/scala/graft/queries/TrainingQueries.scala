package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{F, Portable}
import graft.functions.Portable.P
import graft.gen.MockData
import graft.sources.Tables

/** Training-data curation operators beyond dedup/similarity (which live
  * in [[ExtensionQueries]]): PII redaction, benchmark-contamination
  * detection, repetition scoring, corpus-frequency rarity scoring,
  * deterministic train/val/test splitting, and overlapping-window
  * document chunking. Together with the dedup/quality family these are
  * the remaining stages of a production LLM-data pipeline: scrub →
  * decontaminate → score → split → chunk.
  *
  * Scale design (100 TB): every operator is per-row expression work or a
  * key-bucketed join/aggregation — no all-pairs joins, no global sorts
  * except oracle-mandated final ORDER BYs, no driver-side loops. The
  * only cross-row state is the contamination shingle set (bounded by the
  * BENCHMARK corpus, which is small by nature) and the unigram frequency
  * table (bounded by vocabulary, not corpus size).
  */
object TrainingQueries {

  // Regex patterns shared by both engines (Java and RE2 agree on this
  // subset: char classes, bounded repetition, literal dots). Declared
  // BEFORE `all`: the QueryDef defs interpolate these at object init,
  // and a later-positioned val would still be null at that point.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  val all: Seq[QueryDef] = Seq(
    e19PiiRedact, e20Contamination, e21Repetition, e22Rarity,
    e23TrainSplit, e24Chunking, e25Shuffle, e26Quantize, e27Bigrams,
    e30SpanDedup, e31TopWordPerLang, e33StratifiedSample, e34TokenShards,
    e35LengthQuantiles, e36MixtureResample, e44Collocations,
    e48BloomDecontaminate, e50BpeTrain, e51TemperatureMix,
    e53DsirSelect, e55LmSurprisal, e56BpeTokenCount, e62ScoreCalibration,
    e63SampledQuantiles, e69SourceDrift, e70CalibrationChunked,
    e72FlooredSample, e73ShardManifest, e74EpochSchedule,
    e75TokenFertility, e76CurriculumBins, e77ShardStability,
    e78PackContexts, e79LengthBuckets, e82InterleaveSchedule,
    e83MemorizationNgrams, e84BoilerplatePrefix, e85CharSkew,
    e141RendezvousReshard, e150LogHistQuantiles)

  /** PII redaction (scrub stage): chained regex replacement of emails,
    * phone numbers, and IPv4 addresses with typed placeholders, plus
    * per-type match counts (the audit trail a scrub stage must emit).
    * The testdata carries no natural PII, so the message under test is
    * synthesized DETERMINISTICALLY from customer columns — identically
    * on both engines — and the redaction chain is the operator being
    * proved. Per-row regex work, embarrassingly parallel; patterns are
    * applied email → phone → ip so earlier replacements cannot create
    * later matches on one engine but not the other.
    */
  private def e19PiiRedact = QueryDef.sql(
    "e19_pii_redact",
    s"""WITH m AS (SELECT c_custkey,
       |  'contact ' || replace(lower(c_name), '#', '.') || '@example.com'
       |    || ' or call 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
       |    || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
       |    || ' from 10.' || CAST(c_custkey % 256 AS VARCHAR)
       |    || '.0.' || CAST(c_custkey % 100 AS VARCHAR) AS msg
       |  FROM customer)
       |SELECT c_custkey,
       |  len(regexp_extract_all(msg, '$EmailRe')) AS n_email,
       |  len(regexp_extract_all(msg, '$PhoneRe')) AS n_phone,
       |  len(regexp_extract_all(msg, '$IpRe')) AS n_ip,
       |  regexp_replace(regexp_replace(regexp_replace(msg,
       |    '$EmailRe', '[EMAIL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g'),
       |    '$IpRe', '[IP]', 'g') AS redacted
       |FROM m ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val msg = concat(
      lit("contact "), regexp_replace(lower(col("c_name")), "#", "."),
      lit("@example.com"),
      lit(" or call 555-"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("c_custkey") % 256).cast("string"),
      lit(".0."), (col("c_custkey") % 100).cast("string"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), msg.as("msg"))
      .select(
        col("c_custkey"),
        size(regexp_extract_all(col("msg"), lit(EmailRe), lit(0)))
          .as("n_email"),
        size(regexp_extract_all(col("msg"), lit(PhoneRe), lit(0)))
          .as("n_phone"),
        size(regexp_extract_all(col("msg"), lit(IpRe), lit(0))).as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("msg"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          IpRe, "[IP]").as("redacted"))
  }

  /** Benchmark-contamination detection (decontaminate stage): for every
    * corpus document, the fraction of its distinct word-3-gram shingles
    * that also appear in a BENCHMARK set (here: the src0 slice standing
    * in for an eval benchmark). Corpus postings are joined against the
    * DISTINCT benchmark shingle set on the shingle key — work is
    * |corpus postings| + |benchmark shingles|, never corpus x benchmark;
    * the benchmark side is vocabulary-bounded (eval sets are tiny next
    * to a 100 TB corpus), and docs with zero overlap are preserved by
    * the left join (a decontaminator must prove the negative too).
    */
  private def e20Contamination = QueryDef.sql(
    "e20_contamination",
    s"""WITH w AS (SELECT doc_id, source, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |sh AS (SELECT doc_id, source, ${Portable.shinglesDuck} AS shs FROM w),
       |ex AS (SELECT doc_id, source, unnest(shs) AS sh FROM sh
       |  WHERE len(shs) > 0),
       |bench AS (SELECT DISTINCT sh FROM ex WHERE source = 'src0'),
       |corpus AS (SELECT doc_id, sh FROM ex WHERE source <> 'src0'),
       |hits AS (SELECT doc_id, count(*) AS n_matched
       |  FROM corpus JOIN bench USING (sh) GROUP BY doc_id),
       |sz AS (SELECT doc_id, count(*) AS n_shingles FROM corpus
       |  GROUP BY doc_id)
       |SELECT sz.doc_id, n_shingles,
       |  COALESCE(n_matched, 0) AS n_matched,
       |  round(CAST(COALESCE(n_matched, 0) AS DOUBLE) / n_shingles, 4)
       |    AS overlap,
       |  CAST(COALESCE(n_matched, 0) * 2 >= n_shingles AS INT)
       |    AS contaminated
       |FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id
       |ORDER BY sz.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        F.shingle_hashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
    // One exchange keyed on the shingle serves the benchmark-distinct,
    // the semi-side of the hit join, and the probe side (ReuseExchange —
    // the e2 pattern): shingle hashing + explode run once.
    val ex = docs
      .select(col("doc_id"), col("source"), explode(col("shs")).as("sh"))
      .repartition(col("sh"))
    val bench = ex.filter(col("source") === "src0").select("sh").distinct()
    // The explicit isNotNull mirrors the null filter the hit join infers
    // on ITS branch; without it the two corpus consumers' subtrees differ
    // by that one predicate and each gets its own scan + shuffle. With it
    // (and count(sh) keeping the shingle column in the census branch)
    // both read a single ReusedExchange.
    val corpus = ex.filter(col("source") =!= "src0")
      .filter(col("doc_id").isNotNull)
      .select("doc_id", "sh")
    val hits = corpus.join(bench, "sh")
      .groupBy("doc_id").agg(count(col("sh")).as("n_matched"))
    val sz = corpus.groupBy("doc_id").agg(count(col("sh")).as("n_shingles"))
    sz.join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double") /
          col("n_shingles"), 4).as("overlap"),
        (coalesce(col("n_matched"), lit(0L)) * 2 >= col("n_shingles"))
          .cast("int").as("contaminated"))
  }

  /** Contamination QUARANTINE list via a Bloom-filter prefilter — e20's
    * exact semantics executed the way a 100 TB run wants it: the
    * benchmark shingle set is folded into a 2^18-bit bloom bitmap by a
    * bounded native aggregate ([[graft.functions.sketches.BloomAgg]] —
    * 32 KiB per partial buffer, OR-merged), pulled once to the driver
    * (the e29 sketch-pull discipline), and replayed over the corpus as
    * pure codegen'd column arithmetic INSIDE the scan stage. Corpus
    * postings that fail the probe — the overwhelming majority — die
    * before the exchange, so the exact verify join shuffles true hits
    * plus an ε false-positive fraction instead of every posting. No
    * false negatives by construction, so the final result is EXACT and
    * the oracle is the plain semi-join SQL; the FPP model is pinned by
    * BloomSpec. This is the manual form of a runtime bloom join filter,
    * for boundaries the optimizer cannot see across (here: the sketch
    * is built in its own job); vs e20's broadcast-reusing formulation
    * it trades a second tiny benchmark pass for never shuffling clean
    * postings — the right trade once the corpus side dwarfs memory.
    */
  private def e48BloomDecontaminate = {
    val mBits = 1 << 18
    val kHashes = 4
    val minHits = 5
    QueryDef.sql(
      "e48_bloom_decontaminate",
      s"""WITH w AS (SELECT doc_id, source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT doc_id, source, ${Portable.shinglesDuck} AS shs FROM w),
         |ex AS (SELECT doc_id, source, unnest(shs) AS sh FROM sh
         |  WHERE len(shs) > 0),
         |bench AS (SELECT DISTINCT sh FROM ex WHERE source = 'src0'),
         |corpus AS (SELECT doc_id, sh FROM ex WHERE source <> 'src0')
         |SELECT doc_id, count(*) AS n_matched
         |FROM corpus JOIN bench USING (sh)
         |GROUP BY doc_id HAVING count(*) >= $minHits
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.sketches
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          F.shingle_hashes(col("text")).as("shs"))
        .filter(size(col("shs")) > 0)
      val ex = docs
        .select(col("doc_id"), col("source"), explode(col("shs")).as("sh"))
      val bench = ex.filter(col("source") === "src0").select("sh").distinct()
      // Bounded driver pull: mBits/64 longs (32 KiB), independent of
      // benchmark size — the bitmap, not the shingle set.
      val bitmap = bench
        .agg(sketches.bloom_bitmap(col("sh"), mBits, kHashes).as("bm"))
        .head.getSeq[Long](0).toArray
      ex.filter(col("source") =!= "src0")
        .filter(sketches.might_contain(bitmap, col("sh"), mBits, kHashes))
        .join(bench, "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
        .filter(col("n_matched") >= minHits)
    }
  }

  /** Within-document repetition scoring (quality stage): the fraction of
    * word-3-gram windows that are repeats of an earlier window, plus the
    * duplicate-word fraction — the boilerplate/template signals a
    * quality filter thresholds on. Pure per-row array expressions over
    * the compiled hash primitives; integer counts ratio'd once per row,
    * so no cross-row float accumulation anywhere.
    */
  private def e21Repetition = QueryDef.sql(
    "e21_repetition",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |st AS (SELECT doc_id, len(wh) AS n_words,
       |    len(list_distinct(wh)) AS n_uniq_words,
       |    greatest(len(wh) - 2, 0) AS n_windows,
       |    len(${Portable.shinglesDuck}) AS n_uniq_windows
       |  FROM w)
       |SELECT doc_id, n_words, n_uniq_words, n_windows, n_uniq_windows,
       |  round(1 - CAST(n_uniq_windows AS DOUBLE) / n_windows, 4)
       |    AS rep_ratio,
       |  round(1 - CAST(n_uniq_words AS DOUBLE) / n_words, 4)
       |    AS dup_word_ratio
       |FROM st WHERE n_windows > 0 ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), F.word_hashes(col("text")).as("wh"),
          F.shingle_hashes(col("text")).as("shs"))
        .select(col("doc_id"),
          size(col("wh")).cast("long").as("n_words"),
          size(array_distinct(col("wh"))).cast("long").as("n_uniq_words"),
          greatest(size(col("wh")) - 2, lit(0)).cast("long").as("n_windows"),
          size(col("shs")).cast("long").as("n_uniq_windows"))
        .filter(col("n_windows") > 0)
        .select(
          col("doc_id"), col("n_words"), col("n_uniq_words"),
          col("n_windows"), col("n_uniq_windows"),
          round(lit(1) - col("n_uniq_windows").cast("double") /
            col("n_windows"), 4).as("rep_ratio"),
          round(lit(1) - col("n_uniq_words").cast("double") /
            col("n_words"), 4).as("dup_word_ratio"))
  }

  /** Corpus-frequency rarity scoring (quality stage): a unigram LM
    * stand-in — each document scored by how RARE its words are against
    * the whole corpus: rarity = ln(N * n / S) where N = corpus token
    * count, n = doc token count, S = sum of corpus frequencies of the
    * doc's tokens (ln of the inverse mean relative frequency). All three
    * inputs are INTEGER aggregates — the only float op is one division
    * and one ln per row, so there is no cross-row float fold to diverge
    * between engines. The frequency table is vocabulary-sized (zipf:
    * millions of rows at 100 TB, not corpus-sized); the postings
    * exchange keyed on the word hash is reused by the frequency
    * aggregation and the probe join.
    */
  private def e22Rarity = QueryDef.sql(
    "e22_rarity",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |ex AS (SELECT doc_id, unnest(wh) AS h FROM w WHERE len(wh) > 0),
       |freq AS (SELECT h, count(*) AS c FROM ex GROUP BY h),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM freq),
       |docsum AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(c) AS BIGINT) AS s_freq
       |  FROM ex JOIN freq USING (h) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, s_freq,
       |  round(ln(CAST(n_total * n_tokens AS DOUBLE) / s_freq), 4)
       |    AS rarity
       |FROM docsum CROSS JOIN tot ORDER BY doc_id""".stripMargin) {
    (s, dir) =>
      val ex = Tables.documents(s, dir)
        .select(col("doc_id"), explode(F.word_hashes(col("text"))).as("h"))
        .repartition(col("h"))
      // count(doc_id), not count(*): referencing doc_id keeps the column
      // in this branch's scan, so the exchange subtree canonicalizes
      // identically to the probe side below and ReuseExchange collapses
      // them to ONE postings shuffle (count(*) lets column pruning build
      // a second, narrower scan that re-hashes the whole corpus).
      val freq = ex.groupBy("h").agg(count(col("doc_id")).as("c"))
      val tot = freq.agg(sum(col("c")).as("n_total"))
      ex.join(freq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("s_freq"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_tokens"), col("s_freq"),
          round(log((col("n_total") * col("n_tokens")).cast("double") /
            col("s_freq")), 4).as("rarity"))
  }

  /** Bigram-LM surprisal scoring (quality stage): the perplexity-filter
    * twin (CCNet/Gopher-style — score each document under a language
    * model trained on the corpus itself, drop the tails). The LM is a
    * bigram model with add-one smoothing whose conditional
    * P(w2|w1) = (c12 + 1)/(c1 + V); a document's surprisal is the sum
    * over its bigram positions of the INTEGER inverse-probability proxy
    * floor(1000 · (c1 + V)/(c12 + 1)) — monotone in 1/P per position,
    * so ranking/filtering behaves like summed perplexity while staying
    * in exact BIGINT arithmetic end to end (the e38/e22 discipline: no
    * cross-row float folds to diverge between engines; a production
    * variant swaps in log2 doubles at the final projection only).
    *
    * Scale shape: two corpus passes — one bigram explode feeding the
    * count side, whose (w1, w2) exchange the c12-join build and the
    * c1 derivation SHARE (c1 = Σ_w2 c12; explicit notnull filters keep
    * the subtrees canonical-equal for ReuseExchange), and one probe
    * pass carrying (doc_id, lang). The smoothing constant V is the
    * bigram vocabulary size, derived from the aggregated c12 table —
    * vocab-bounded, no extra corpus pass. Nothing is corpus-quadratic;
    * the frequency tables are zipfian-vocabulary-sized at 100 TB.
    */
  private def e55LmSurprisal = QueryDef.sql(
    "e55_lm_surprisal",
    s"""WITH w AS (SELECT doc_id, lang, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |ex AS (SELECT doc_id, lang,
       |    unnest(list_slice(wh, 1, len(wh) - 1)) AS w1,
       |    unnest(list_slice(wh, 2, len(wh))) AS w2
       |  FROM w WHERE len(wh) > 1),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM ex GROUP BY w1, w2),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
       |  FROM c12 GROUP BY w1),
       |vocab AS (SELECT count(*) AS v FROM
       |  (SELECT w1 AS h FROM c12 UNION SELECT w2 FROM c12)),
       |scored AS (SELECT doc_id, lang, count(*) AS n_bigrams,
       |    CAST(sum(((c1 + v) * 1000) // (c12 + 1)) AS BIGINT) AS surprisal
       |  FROM ex JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       |  CROSS JOIN vocab
       |  GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_bigrams, surprisal,
       |  surprisal // n_bigrams AS avg_surprisal
       |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val wh = F.word_hashes(col("text"))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), wh.as("wh"))
    // arrays_zip, not zip_with: a lambda's NamedLambdaVariable ids defeat
    // plan canonicalization, so the three (w1, w2) subtrees would each
    // re-shingle the corpus instead of sharing one exchange.
    val ex = docs.filter(size(col("wh")) > 1)
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(
          slice(col("wh"), lit(1), size(col("wh")) - 1),
          slice(col("wh"), lit(2), size(col("wh")) - 1))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.0").as("w1"), col("bg.1").as("w2"))
      // explicit non-null filter on BOTH keys: the (w1, w2) join infers
      // notnull(w1, w2) into its count branch while the w1-only c1 join
      // infers just notnull(w1) — without this, the two count subtrees
      // canonicalize differently and each re-shingles the corpus; with
      // it they share one exchange (word hashes are never null, so the
      // filter is a no-op on the data)
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .repartition(col("w1"), col("w2"))
    val c12 = ex.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    // V from the bigram vocabulary (distinct endpoints of c12), not a
    // third corpus pass: a smoothing constant only needs a consistent
    // definition, and this one costs vocab-bounded work over the
    // already-aggregated table
    val vocab = c12.select(col("w1").as("h"))
      .union(c12.select(col("w2").as("h")))
      .agg(countDistinct(col("h")).as("v"))
    ex.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("((c1 + v) * 1000) div (c12 + 1)")).as("surprisal"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("surprisal"),
        expr("surprisal div n_bigrams").as("avg_surprisal"))
  }

  /** Deterministic stratified train/val/test split (split stage):
    * assignment is a pure function of doc_id via the portable draw
    * (80/10/10), so the split is reproducible across engines, reruns
    * and repartitions — no rand(), no stored assignment table. The
    * integer draw is compared against integer thresholds (never a
    * double literal — engine decimal semantics differ); output is the
    * per-(lang, split) census a pipeline records for drift checks.
    */
  private def e23TrainSplit = {
    val seed = 42L
    // draw < ceil(f * P)  <=>  draw / P < f, for non-integral f * P.
    val t80 = math.ceil(0.8 * P).toLong
    val t90 = math.ceil(0.9 * P).toLong
    val drawDuck = MockData.hashLongDuck(seed, "split", "doc_id")
    QueryDef.sql(
      "e23_train_split",
      s"""WITH d AS (SELECT doc_id, lang, n_chars, $drawDuck AS draw
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN draw < $t80 THEN 'train'
         |       WHEN draw < $t90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM d GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) {
      (s, dir) =>
        val draw = MockData.hashLong(seed, "split", col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("split",
            when(draw < t80, "train").when(draw < t90, "val")
              .otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
            min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
          .orderBy("lang", "split")
    }
  }

  /** Overlapping-window document chunking (chunk stage): fixed training
    * context windows of `W` words at stride `S` (overlap W - S). Instead
    * of slicing the word array per chunk (which replicates the document
    * W/S times through the shuffle), each word is routed to the <= ⌈W/S⌉
    * chunks that contain it and chunks are assembled by aggregation —
    * shuffle payload is one (doc, chunk, hash) row per word-in-chunk,
    * and the per-chunk checksum is an order-independent sum mod P, so
    * no ordered fold is needed after the shuffle. Linear in corpus
    * size, bounded fan-out, no skew (chunk sizes are capped at W).
    */
  /** DuckDB twin of [[chunked]]: CTEs ending in a `chunks` relation of
    * (doc_id, chunk_id, chunk_start, n_words, checksum) — shared by the
    * e24 and e30 oracles.
    */
  private def chunkedDuck(w: Int, s: Int): String =
    s"""w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |ex AS (SELECT doc_id, len(wh) AS n,
       |    unnest(range(0, len(wh))) AS pos, unnest(wh) AS h
       |  FROM w WHERE len(wh) > 0),
       |routed AS (SELECT doc_id, h,
       |    unnest(range(
       |      CASE WHEN pos >= $w THEN (pos - $w) // $s + 1 ELSE 0 END,
       |      least(pos // $s,
       |        CASE WHEN n <= $w THEN 0
       |             ELSE (n - $w + $s - 1) // $s END) + 1)) AS chunk_id
       |  FROM ex),
       |chunks AS (SELECT doc_id, chunk_id, chunk_id * $s AS chunk_start,
       |    count(*) AS n_words, CAST(sum(h) % $P AS BIGINT) AS checksum
       |  FROM routed GROUP BY doc_id, chunk_id)""".stripMargin

  private def e24Chunking = {
    val W = 64 // window (chunk) size in words
    val S = 48 // stride; overlap = W - S = 16
    QueryDef.sql(
      "e24_chunking",
      s"""WITH ${chunkedDuck(W, S)}
         |SELECT * FROM chunks ORDER BY doc_id, chunk_id""".stripMargin) {
      (s, dir) =>
        chunked(Tables.documents(s, dir), W, S)
    }
  }

  /** Cross-document repeated spans (the boilerplate signal BETWEEN
    * documents, complementing e21's within-doc repetition): full-width
    * chunks whose content checksum recurs in more than one document.
    * Candidate-grade by construction — the checksum is an
    * order-independent sum, so a hit means "same word multiset in some
    * 64-word window", which a span-level verifier would confirm — and
    * the aggregation is checksum-keyed (fixed-width shuffle payload,
    * never the text). Partial tail chunks are excluded: their checksums
    * vary with length, not content.
    */
  private def e30SpanDedup = {
    val W = 64
    val S = 48
    QueryDef.sql(
      "e30_span_dedup",
      s"""WITH ${chunkedDuck(W, S)}
         |SELECT checksum, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_spans, min(doc_id) AS first_doc
         |FROM chunks WHERE n_words = $W
         |GROUP BY checksum HAVING count(DISTINCT doc_id) > 1
         |ORDER BY checksum""".stripMargin) { (s, dir) =>
      chunked(Tables.documents(s, dir), W, S)
        .filter(col("n_words") === W)
        .groupBy("checksum")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_spans"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
    }
  }

  /** The e24 routing body over any (doc_id, text) frame — separated so
    * the boundary-size spec drives the PRODUCTION code path with
    * synthetic documents. Chunk ids are capped at
    * jmax = ceil((n - W) / S) (0 for docs shorter than one window):
    * without the cap every word past the first stride also lands in a
    * trailing SUBSUMED fragment (e.g. a 63-word doc would emit a
    * 15-word chunk wholly contained in chunk 0), and duplicated tail
    * tokens would skew the training mix.
    */
  private[queries] def chunked(docs: DataFrame, W: Int, S: Int): DataFrame = {
    val jmax = when(col("n") <= W, 0L)
      .otherwise(floor((col("n") - W + S - 1) / lit(S)))
    docs
      .select(col("doc_id"), size(F.word_hashes(col("text"))).as("n"),
        posexplode(F.word_hashes(col("text"))).as(Seq("pos", "h")))
      .select(col("doc_id"), col("h"),
        explode(sequence(
          when(col("pos") >= W, floor((col("pos") - W) / lit(S)) + 1)
            .otherwise(lit(0L)),
          least(floor(col("pos") / lit(S)), jmax))).as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_words"),
        (sum(col("h")) % P).as("checksum"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * S).as("chunk_start"),
        col("n_words"), col("checksum"))
  }

  /** Deterministic global shuffle (the final pre-training reorder): rows
    * are re-sequenced by the portable draw — a seeded bijection of
    * doc_id, so the permutation is reproducible across engines, reruns
    * and partition layouts (rand() is none of those). Position
    * assignment reuses [[graft.operators.Indexing.withGlobalIndex]]:
    * a parallel range repartition + per-partition row_number + broadcast
    * offset join — the only global window runs over one row per
    * partition, never the data, so this survives a 1000-executor run
    * where `row_number() OVER (ORDER BY draw)` collapses to one task.
    */
  private def e25Shuffle = {
    val seed = 42L
    val drawDuck = MockData.hashLongDuck(seed, "shuffle", "doc_id")
    QueryDef.sql(
      "e25_shuffle",
      s"""WITH d AS (SELECT doc_id, $drawDuck AS draw FROM documents)
         |SELECT CAST(row_number() OVER (ORDER BY draw) - 1 AS BIGINT)
         |    AS pos,
         |  doc_id, draw
         |FROM d ORDER BY pos""".stripMargin) { (s, dir) =>
      val draw = MockData.hashLong(seed, "shuffle", col("doc_id"))
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), draw.as("draw"))
      graft.operators.Indexing.withGlobalIndex(df, col("draw"), "pos")
        .select(col("pos"), col("doc_id"), col("draw"))
    }
  }

  /** Symmetric int8 embedding quantization (storage compression for the
    * vector side of the pipeline): per-vector scale = max|v| / 127,
    * q_i = halfup(v_i / scale). Pure per-row array expressions; the
    * rounding is spelled floor(x + 0.5) on BOTH engines so the integer
    * results are bit-identical by construction (no reliance on either
    * engine's round() tie mode), and the output checksum is a
    * position-weighted integer sum mod P — order-sensitive, so a
    * permuted quantization would be caught, yet exactly reproducible.
    * All-zero vectors have no scale and are EXCLUDED (both engines
    * filter scale > 0) — a pipeline would route them to a dead-letter
    * set rather than fabricate a quantization.
    */
  private def e26Quantize = {
    val dims = 64
    QueryDef.sql(
      "e26_quantize",
      s"""WITH b AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sc AS (SELECT vec_id, v,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x))
         |      / 127 AS scale
         |  FROM b),
         |q AS (SELECT vec_id, scale,
         |    list_transform(range(1, ${dims + 1}),
         |      i -> CAST(floor(v[i] / scale + 0.5) AS BIGINT)) AS qv
         |  FROM sc WHERE scale > 0)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  CAST((((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, ${dims + 1}), i -> qv[i] * i)),
         |      (a, x) -> a + x) % $P) + $P) % $P) AS BIGINT) AS checksum,
         |  len(list_filter(qv, x -> x > 0)) AS n_pos
         |FROM q ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val v = col("embedding").cast("array<double>")
      val sc = Tables.embeddings(s, dir)
        .select(col("vec_id"), v.as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / 127)
        .filter(col("scale") > 0)
      val qv = transform(col("v"), x => floor(x / col("scale") + 0.5).cast("long"))
      sc.withColumn("qv", qv)
        .select(
          col("vec_id"), round(col("scale"), 6).as("scale"),
          pmod(
            aggregate(
              zip_with(col("qv"), sequence(lit(1L), lit(dims.toLong)),
                (q, i) => q * i),
              lit(0L), (a, x) => a + x),
            lit(P)).as("checksum"),
          size(filter(col("qv"), x => x > 0)).cast("long").as("n_pos"))
    }
  }

  /** Corpus bigram (adjacent word-pair) counts — the counting step of a
    * BPE-style merge iteration and the standard collocation statistic.
    * Pairs are packed into one BIGINT key (both halves < P, so
    * hi * P + lo is injective and fits in 63 bits); the aggregation gets
    * map-side partial combine from Catalyst, and the top-k is a
    * TakeOrderedAndProject (per-partition heads, never a global sort of
    * the vocabulary).
    */
  private def e27Bigrams = QueryDef.sql(
    "e27_bigrams",
    s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |p AS (SELECT unnest(list_transform(range(1, len(wh)),
       |    i -> wh[i] * $P + wh[i + 1])) AS pair_key
       |  FROM w WHERE len(wh) >= 2)
       |SELECT pair_key, count(*) AS n FROM p
       |GROUP BY pair_key ORDER BY n DESC, pair_key LIMIT 20""".stripMargin) {
    (s, dir) =>
      val wh = F.word_hashes(col("text"))
      Tables.documents(s, dir)
        .select(wh.as("wh"))
        .filter(size(col("wh")) >= 2)
        .select(explode(
          zip_with(
            slice(col("wh"), lit(1), size(col("wh")) - 1),
            slice(col("wh"), lit(2), size(col("wh")) - 1),
            (a, b) => a * P + b)).as("pair_key"))
        .groupBy("pair_key").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair_key"))
        .limit(20)
  }

  /** Per-group argmax (top word per language): one struct-max aggregate
    * per group — max (count, -hash) is the highest-frequency word with
    * min-hash tie-break, computed without a join-back (the e17 argmax
    * pattern applied per-key rather than globally; the DuckDB twin
    * keeps the portable max-then-filter idiom). Two shuffles total:
    * (lang, word) counts, then one row per (lang, word) into the
    * per-lang max.
    */
  private def e31TopWordPerLang = QueryDef.sql(
    "e31_top_word_per_lang",
    s"""WITH w AS (SELECT lang, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |ex AS (SELECT lang, unnest(wh) AS h FROM w),
       |freq AS (SELECT lang, h, count(*) AS c FROM ex GROUP BY lang, h),
       |best AS (SELECT lang, max(c) AS mc FROM freq GROUP BY lang)
       |SELECT f.lang, CAST(min(f.h) AS BIGINT) AS top_hash,
       |  CAST(b.mc AS BIGINT) AS n
       |FROM freq f JOIN best b ON f.lang = b.lang AND f.c = b.mc
       |GROUP BY f.lang, b.mc ORDER BY f.lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), explode(F.word_hashes(col("text"))).as("h"))
      .groupBy("lang", "h").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(max(struct(col("c"), (-col("h")).as("nh"))).as("m"))
      .select(col("lang"), (-col("m.nh")).as("top_hash"),
        col("m.c").as("n"))
      .orderBy("lang")
  }

  /** Stratified deterministic downsampling (rebalance stage): sample
    * each language down to the size of the SMALLEST language stratum, so
    * an over-represented language stops dominating the training mix.
    * Per-stratum rate = n_min / n_lang, applied as a hash-threshold
    * test: keep doc iff draw * n_lang < n_min * P with draw uniform in
    * [0, P) — pure integer arithmetic (DECIMAL/HUGEINT products, no
    * float rate), so membership is bit-exact on both engines and STABLE:
    * re-running on a grown corpus keeps a superset-consistent rule
    * rather than reshuffling membership the way sample() would.
    *
    * Scale: one small per-stratum count aggregate (rows = #languages),
    * broadcast back over the corpus; the sample test is then per-row
    * expression work on the scan — no shuffle of the corpus at all, and
    * expected output size is #strata * n_min by construction.
    */
  private def e33StratifiedSample = {
    val seed = 7L
    val drawDuck = MockData.hashLongDuck(seed, "strat", "doc_id")
    QueryDef.sql(
      "e33_stratified_sample",
      s"""WITH s AS (SELECT lang, count(*) AS n_lang FROM documents
         |  GROUP BY lang),
         |m AS (SELECT min(n_lang) AS n_min FROM s),
         |d AS (SELECT doc_id, lang, $drawDuck AS draw FROM documents)
         |SELECT d.doc_id, d.lang, s.n_lang
         |FROM d JOIN s USING (lang) CROSS JOIN m
         |WHERE CAST(d.draw AS HUGEINT) * s.n_lang
         |    < CAST(m.n_min AS HUGEINT) * $P
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val strata = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      // n_min is a ONE-ROW aggregate over #strata rows (a handful at any
      // corpus size) — pulled to the driver as the sampling threshold
      // scalar, like the reference's own bounded driver pulls. Keeping
      // it relational would need a cross join (a BroadcastNestedLoopJoin
      // the plan lint rightly rejects) for a value that is a constant of
      // the run.
      val nMin = strata.agg(min(col("n_lang"))).head.getLong(0)
      val draw = MockData.hashLong(seed, "strat", col("doc_id"))
      docs.select(col("doc_id"), col("lang"), draw.as("draw"))
        .join(broadcast(strata), "lang")
        .where(col("draw").cast("decimal(38,0)") * col("n_lang") <
          lit(nMin).cast("decimal(38,0)") * P)
        .select("doc_id", "lang", "n_lang")
    }
  }

  /** Token-budget sharding (pack stage): split the corpus, in doc_id
    * order, into shards of ~`Budget` words each — the document-level
    * sharding a trainer needs to feed ~equal-token files to data-parallel
    * workers. shard_id = exclusive-prefix-sum(tokens) div Budget, so a
    * document starting inside shard k belongs to shard k (shards can
    * overhang by at most one document — document-preserving packing).
    *
    * The global weighted prefix sum uses
    * [[graft.operators.Indexing.withRunningTotal]]: range-repartition +
    * per-partition sums + one offsets pass over a single RDD lineage —
    * every data stage parallel, no single-task global window (which is
    * what the oracle's `sum() OVER (ORDER BY)` would compile to on
    * Spark). Output is one row per SHARD (corpus_tokens/Budget rows),
    * aggregated with an ordinary groupBy.
    */
  private def e34TokenShards = {
    val budget = 2000L
    QueryDef.sql(
      "e34_token_shards",
      s"""WITH w AS (SELECT doc_id,
         |    len(${Portable.wordsDuck}) AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |    COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM w)
         |SELECT CAST(cum_before // $budget AS BIGINT) AS shard_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"))
      graft.operators.Indexing
        .withRunningTotal(toks, col("doc_id"), col("n_tok"), "cum_before")
        // Integer `div`, matching the oracle's `//`: double division then
        // truncation drifts at shard boundaries once num/den leave
        // double's exact-integer range (fleet-scale prefix sums) — the
        // same trap e36's epoch weighting documents.
        .groupBy(expr(s"cum_before div ${budget}L").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("shard_id")
    }
  }

  /** EXACT per-language length percentiles (p50/p90/p99 of n_chars),
    * computed the scale-safe way: aggregate to (lang, n_chars) value
    * frequencies FIRST (one corpus-wide groupBy — the only pass over the
    * data), then run the cumulative window and rank selection over that
    * DISTINCT-VALUE table, whose size is #langs x #distinct-lengths —
    * vocabulary-bounded, independent of corpus row count. A window
    * partitioned by lang directly over the corpus would put every doc of
    * a language in one task; over the frequency table it's a few hundred
    * rows per language. Rank math is pure integers (rank_p =
    * ceil(p * n) via (a + b - 1) div b), so the quantile definition —
    * smallest value whose cumulative count reaches the rank
    * (quantile_disc) — is bit-portable, unlike interpolating
    * percentile() whose float arithmetic differs per engine.
    */
  private def e35LengthQuantiles = QueryDef.sql(
    "e35_length_quantiles",
    """WITH freq AS (SELECT lang, n_chars, count(*) AS cnt
      |  FROM documents GROUP BY lang, n_chars),
      |cum AS (SELECT lang, n_chars,
      |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM freq),
      |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM freq
      |  GROUP BY lang)
      |SELECT c.lang, t.n AS n_docs,
      |  min(CASE WHEN c.cum >= (t.n + 1) // 2 THEN c.n_chars END) AS p50,
      |  min(CASE WHEN c.cum >= (9*t.n + 9) // 10 THEN c.n_chars END) AS p90,
      |  min(CASE WHEN c.cum >= (99*t.n + 99) // 100 THEN c.n_chars END)
      |    AS p99
      |FROM cum c JOIN tot t USING (lang)
      |GROUP BY c.lang, t.n ORDER BY c.lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, dir)
      .groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
    val cum = freq.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = freq.groupBy("lang").agg(sum(col("cnt")).as("n"))
    def atRank(rank: org.apache.spark.sql.Column) =
      min(when(col("cum") >= rank, col("n_chars")))
    cum.join(tot, "lang")
      .groupBy(col("lang"), col("n").as("n_docs"))
      .agg(
        atRank(expr("(n + 1) div 2")).as("p50"),
        atRank(expr("(9*n + 9) div 10")).as("p90"),
        atRank(expr("(99*n + 99) div 100")).as("p99"))
      .orderBy("lang")
  }

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    * score every raw-corpus document by how target-like its hashed
    * n-gram features are, then keep the top slice — the importance-
    * selection step that picks pretraining data resembling a trusted
    * target domain (here: the src0 slice standing in for the target,
    * as in e20). Features are word hashes bucketed mod 4096 (DSIR's
    * hashed unigram model); the per-feature weight is an INTEGER ratio
    * proxy `((cnt_target+1)·10⁶) div (cnt_raw+1)` in place of the
    * paper's log-likelihood ratio — the e44 discipline: same
    * target-affinity ranking family, but exact integer arithmetic,
    * immune to cross-engine libm log() last-ulp drift. Per-doc score =
    * integer sum of its tokens' weights; selection = top 100 by
    * (score desc, doc_id).
    *
    * Shape at 100 TB: the feature table is BOUNDED at 4096 rows
    * (broadcast back over the corpus). The CORPUS side is scanned and
    * shuffled exactly once — the raw census and the scoring probe share
    * one feature-keyed exchange (ReusedExchange, plan-verified) — while
    * the target census splits off as its own scan with `source = src0`
    * PUSHED to parquet, reading only the benchmark-sized slice: two
    * scans, each touching only its slice, beats forcing all three
    * consumers through one unpushed full exchange. Linear in corpus
    * size.
    */
  private def e53DsirSelect = {
    val buckets = 4096L
    val topK = 100
    QueryDef.sql(
      "e53_dsir_select",
      s"""WITH w AS (SELECT doc_id, source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |ex AS (SELECT doc_id, source, unnest(wh) % $buckets AS f FROM w
         |  WHERE len(wh) > 0),
         |tgt AS (SELECT f, count(*) AS cnt_t FROM ex
         |  WHERE source = 'src0' GROUP BY f),
         |raw AS (SELECT f, count(*) AS cnt_r FROM ex
         |  WHERE source <> 'src0' GROUP BY f),
         |wt AS (SELECT raw.f,
         |    (COALESCE(cnt_t, 0) + 1) * 1000000 // (cnt_r + 1) AS wf
         |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f),
         |sc AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(wf) AS BIGINT) AS score
         |  FROM ex JOIN wt USING (f)
         |  WHERE source <> 'src0' GROUP BY doc_id)
         |SELECT doc_id, n_tokens, score FROM sc
         |ORDER BY score DESC, doc_id LIMIT $topK""".stripMargin) { (s, dir) =>
      // filters go AFTER the repartition, but Catalyst pushes them back
      // below it per-branch: the two corpus consumers (raw census +
      // scoring probe) keep identical subtrees and reuse one exchange,
      // while the target census becomes a separate scan with its
      // source=src0 predicate pushed to parquet — the cheaper plan when
      // the target slice is benchmark-sized
      val ex = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(F.word_hashes(col("text"))).as("h"))
        .select(col("doc_id"), col("source"),
          pmod(col("h"), lit(buckets)).as("f"))
        .filter(col("doc_id").isNotNull)
        .repartition(col("f"))
      // count(doc_id), not count(*): doc_id is never null (counts are
      // identical) but referencing it keeps the column in the census
      // branches, so the raw census prunes exactly like the scoring
      // probe and reuses its exchange (the e20 count(sh) trick; with
      // count(*) the census drops doc_id and pays a private
      // scan+exchange over the full corpus)
      val tgt = ex.filter(col("source") === "src0")
        .groupBy("f").agg(count(col("doc_id")).as("cnt_t"))
      val raw = ex.filter(col("source") =!= "src0")
        .groupBy("f").agg(count(col("doc_id")).as("cnt_r"))
      val wt = raw.join(tgt, Seq("f"), "left")
        .select(col("f"), expr(
          s"(coalesce(cnt_t, 0L) + 1L) * 1000000L div (cnt_r + 1L)")
          .as("wf"))
      ex.filter(col("source") =!= "src0")
        .join(wt, "f") // wt ≤ 4096 rows: broadcast by size estimation
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("wf")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(topK)
    }
  }

  /** Temperature-scaled mixture WEIGHT DERIVATION — the step BEFORE
    * e36's apply: given per-source sizes n_s, the training mixture
    * weight is n_s^(1/T) normalized (temperature sampling, the
    * multilingual-LM recipe); T = 2 ⇒ α = ½, deliberately, because
    * IEEE-754 requires `sqrt` to be correctly rounded — both engines
    * produce BIT-IDENTICAL weights from the same integer counts, where
    * a pow(x, 0.7) would be at the mercy of each engine's libm. The
    * 5-term normalization sum is folded over a SORTED list (sort_array
    * / list_sort before the fold), so even that reduction has one
    * engine-portable evaluation order. Shape at 100 TB: one integer
    * groupBy over the corpus, then arithmetic on a #sources-row frame;
    * quotas are floor(weight · budget) on those identical doubles.
    */
  private def e51TemperatureMix = {
    val budget = 1000000L // token budget to allocate across sources
    QueryDef.sql(
      "e51_temperature_mix",
      s"""WITH src AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(${Portable.wordsDuck})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_sort(list(sqrt(CAST(n_tokens AS DOUBLE))))),
         |    (s, v) -> s + v) AS z FROM src)
         |SELECT source, n_docs, n_tokens,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS weight,
         |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / z * $budget)
         |    AS BIGINT) AS quota_tokens
         |FROM src CROSS JOIN tot
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val src = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(expr(Portable.wordsSpark)).cast("long")).as("n_tokens"))
      val tot = src.agg(
        aggregate(
          sort_array(collect_list(sqrt(col("n_tokens").cast("double")))),
          lit(0.0), (acc, x) => acc + x).as("z"))
      val w = sqrt(col("n_tokens").cast("double")) / col("z")
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(w, 6).as("weight"),
          floor(w * budget).cast("long").as("quota_tokens"))
        .orderBy("source")
    }
  }

  /** EPOCH SCHEDULE — the step between e51 (how many tokens each source
    * SHOULD contribute) and e36 (physically resampling docs): convert
    * per-source token quotas into epoch repeat counts with a max-repeat
    * cap, reporting saturation — the data-recipe table (à la multi-epoch
    * upsampling of small high-quality sources) that tells the operator
    * which sources the temperature weights want MORE of than the cap
    * allows, and how many tokens of demand go unmet. Epoch counts are
    * integer basis points (quota·10⁴ div n_tokens); the only floats are
    * e51's sqrt/sorted-fold weight computation, reused verbatim (IEEE-
    * exact, proven bit-identical cross-engine there). Shape: one
    * #sources-row aggregate crossed with a one-row normalizer — the e51
    * plan exactly.
    */
  private def e74EpochSchedule = {
    val budget = 1000000L
    val cap = 4L // max epochs per source before saturation
    QueryDef.sql(
      "e74_epoch_schedule",
      s"""WITH src AS (SELECT source,
         |    CAST(sum(len(${Portable.wordsDuck})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_sort(list(sqrt(CAST(n_tokens AS DOUBLE))))),
         |    (s, v) -> s + v) AS z FROM src),
         |q AS (SELECT source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / z * $budget)
         |      AS BIGINT) AS quota_tokens
         |  FROM src CROSS JOIN tot)
         |SELECT source, n_tokens, quota_tokens,
         |  CAST(quota_tokens * 10000 // n_tokens AS BIGINT) AS epochs_bp,
         |  CAST(CASE WHEN quota_tokens > $cap * n_tokens THEN 1 ELSE 0 END
         |    AS BIGINT) AS capped,
         |  CAST(least(quota_tokens, $cap * n_tokens) AS BIGINT)
         |    AS eff_tokens,
         |  CAST(quota_tokens - least(quota_tokens, $cap * n_tokens)
         |    AS BIGINT) AS shortfall_tokens
         |FROM q ORDER BY source""".stripMargin) { (s, dir) =>
      val src = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(expr(Portable.wordsSpark)).cast("long"))
          .as("n_tokens"))
      val tot = src.agg(
        aggregate(
          sort_array(collect_list(sqrt(col("n_tokens").cast("double")))),
          lit(0.0), (acc, x) => acc + x).as("z"))
      val quota = floor(
        sqrt(col("n_tokens").cast("double")) / col("z") * budget)
        .cast("long")
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"), quota.as("quota_tokens"))
        .select(col("source"), col("n_tokens"), col("quota_tokens"),
          expr("quota_tokens * 10000 div n_tokens").as("epochs_bp"),
          when(col("quota_tokens") > lit(cap) * col("n_tokens"), 1L)
            .otherwise(0L).as("capped"),
          least(col("quota_tokens"), lit(cap) * col("n_tokens"))
            .as("eff_tokens"),
          (col("quota_tokens") -
            least(col("quota_tokens"), lit(cap) * col("n_tokens")))
            .as("shortfall_tokens"))
        .orderBy("source")
    }
  }

  /** Mixture resampling WITH REPETITION (mix stage): reshape the corpus
    * to target per-source weights by REPEATING under-represented
    * sources' documents and downsampling over-represented ones — the
    * epoch-weighting step that precedes training, where a high-quality
    * small source is worth multiple epochs. Per doc:
    * copies = floor(f_s) + Bernoulli(frac(f_s)) with
    * f_s = w_s * total / (W * n_s), evaluated entirely in integer
    * rationals: the whole part is (w_s*total) div (W*n_s) and the
    * fractional test is draw * (W*n_s) < remainder * P in
    * DECIMAL/HUGEINT — no float rate ever exists, so expansion is
    * bit-identical across engines and E[n_out_s] = w_s/W * total
    * exactly. Expansion is `explode(sequence)` with bounded fan-out
    * (⌈f_s⌉ ≤ W when every source is populated); the per-source count
    * table is a broadcast like e33's. Sources absent from the weight
    * table get weight 0 and are dropped — the mixture spec is the
    * allowlist, deliberately (an unknown source in a training mix is a
    * bug, not a default).
    */
  private def e36MixtureResample = {
    val seed = 11L
    val weights = Seq("src0" -> 4L, "src1" -> 3L, "src2" -> 1L,
      "src3" -> 1L, "src4" -> 1L)
    val wSum = weights.map(_._2).sum // W = 10
    val drawDuck = MockData.hashLongDuck(seed, "mix", "doc_id")
    val wCaseDuck = weights
      .map { case (s0, w) => s"WHEN '$s0' THEN $w" }
      .mkString("CASE source ", " ", " ELSE 0 END")
    QueryDef.sql(
      "e36_mixture_resample",
      s"""WITH s AS (SELECT source, count(*) AS n_s FROM documents
         |  GROUP BY source),
         |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS total FROM s),
         |d AS (SELECT doc_id, source, $drawDuck AS draw,
         |    $wCaseDuck AS w FROM documents),
         |c AS (SELECT d.doc_id, d.source,
         |    (d.w * t.total) // ($wSum * s.n_s)
         |      + CASE WHEN CAST(d.draw AS HUGEINT) * ($wSum * s.n_s)
         |          < CAST((d.w * t.total) % ($wSum * s.n_s) AS HUGEINT) * $P
         |        THEN 1 ELSE 0 END AS copies
         |  FROM d JOIN s USING (source) CROSS JOIN t),
         |ex AS (SELECT doc_id, source,
         |    unnest(range(CAST(copies AS BIGINT))) AS i FROM c)
         |SELECT source, count(*) AS n_out,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
         |  CAST(max(i) + 1 AS BIGINT) AS max_copies
         |FROM ex GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val perSrc = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
        // total is a one-row aggregate — driver scalar, the e33 pattern
        val total = perSrc.agg(sum(col("n_s"))).head.getLong(0)
        val wCol = weights.foldLeft(lit(0L)) { case (acc, (s0, w0)) =>
          when(col("source") === s0, lit(w0)).otherwise(acc)
        }
        val draw = MockData.hashLong(seed, "mix", col("doc_id"))
        // integer `div`, not floor(double /): at fleet scale num/den can
        // exceed double's exact-integer range and floor would be off at
        // boundaries the oracle's // computes exactly
        val copies = expr("num div den") +
          when(col("draw").cast("decimal(38,0)") * col("den") <
            (col("num") % col("den")).cast("decimal(38,0)") * P, 1L)
            .otherwise(0L)
        docs.select(col("doc_id"), col("source"), draw.as("draw"))
          .join(broadcast(perSrc), "source")
          .withColumn("den", col("n_s") * wSum) // W * n_s
          .withColumn("num", wCol * total)      // w_s * total
          .withColumn("copies", copies)
          .select(col("doc_id"), col("source"),
            explode(when(col("copies") > 0,
              sequence(lit(0L), col("copies") - 1))).as("i"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_out"),
            countDistinct(col("doc_id")).as("n_distinct"),
            (max(col("i")) + 1).as("max_copies"))
          .orderBy("source")
    }
  }

  /** Collocation mining (phrase discovery for tokenizer/vocab building):
    * top bigrams by a PMI-proxy score — c_xy·N·10⁶ div (c_x·c_y), the
    * integer-exact monotone twin of pointwise mutual information
    * (log(c_xy·N/(c_x·c_y))): same ranking, no cross-engine float logs.
    * Products run in DECIMAL(38,0)/HUGEINT (c_xy·N·10⁶ overflows BIGINT
    * at fleet-scale token counts); Spark's integral `div` on decimals is
    * exact BigDecimal division, matching DuckDB's `//`.
    *
    * Two corpus passes (unigram explode, adjacent-pair explode) — both
    * map-side-combined counts into vocabulary-bounded tables; N comes
    * from summing the unigram table, not a third pass; the score join
    * runs entirely on the vocabulary side. A c_xy ≥ 5 support floor
    * keeps the rare-pair noise PMI is notorious for out of the ranking.
    */
  private def e44Collocations = QueryDef.sql(
    "e44_collocations",
    s"""WITH w AS (SELECT ${Portable.wordHashesDuck} AS wh FROM documents),
       |u AS (SELECT unnest(wh) AS h FROM w),
       |uc AS (SELECT h, count(*) AS c FROM u GROUP BY h),
       |tot AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM uc),
       |p AS (SELECT unnest(list_transform(range(1, len(wh)),
       |    i -> [wh[i], wh[i + 1]])) AS pr
       |  FROM w WHERE len(wh) >= 2),
       |pc AS (SELECT pr[1] AS h1, pr[2] AS h2, count(*) AS n_pair
       |  FROM p GROUP BY 1, 2)
       |SELECT h1, h2, n_pair,
       |  CAST((CAST(n_pair AS HUGEINT) * n * 1000000)
       |    // (CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS BIGINT)
       |    AS score
       |FROM pc CROSS JOIN tot
       |JOIN uc a ON pc.h1 = a.h JOIN uc b ON pc.h2 = b.h
       |WHERE n_pair >= 5
       |ORDER BY score DESC, h1, h2 LIMIT 20""".stripMargin) { (s, dir) =>
    val docsW = Tables.documents(s, dir)
      .select(F.word_hashes(col("text")).as("wh"))
    val uc = docsW.select(explode(col("wh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val n = uc.agg(coalesce(sum(col("c")), lit(0L))).head.getLong(0)
    val pc = docsW.filter(size(col("wh")) >= 2)
      .select(explode(zip_with(
        slice(col("wh"), lit(1), size(col("wh")) - 1),
        slice(col("wh"), lit(2), size(col("wh")) - 1),
        (a, b) => struct(a.as("h1"), b.as("h2")))).as("pr"))
      .select(col("pr.h1").as("h1"), col("pr.h2").as("h2"))
      .groupBy("h1", "h2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    pc
      .join(uc.select(col("h").as("h1"), col("c").as("cx")), "h1")
      .join(uc.select(col("h").as("h2"), col("c").as("cy")), "h2")
      .withColumn("score", expr(
        s"CAST((CAST(n_pair AS DECIMAL(38,0)) * ${n}L * 1000000) div " +
          "(CAST(cx AS DECIMAL(38,0)) * CAST(cy AS DECIMAL(38,0))) " +
          "AS BIGINT)"))
      .select("h1", "h2", "n_pair", "score")
      .orderBy(col("score").desc, col("h1"), col("h2"))
      .limit(20)
  }

  /** BPE-merge training (the tokenizer-fit step of a data pipeline,
    * Sennrich et al. 2016): learn the first R byte-pair merges from the
    * corpus. The classic industrial formulation trains on the WORD
    * FREQUENCY table, not the corpus — one corpus pass builds
    * (word, count), and every merge round is then a VOCABULARY-bounded
    * job: explode adjacent symbol pairs weighted by word count, pick
    * the max-count pair (deterministic count-desc/lexicographic
    * tie-break; a 1-row collect per round — the sketch-pull class),
    * and rewrite each word's symbol array with a greedy left-to-right
    * fold (`aggregate` HOF — codegen'd, leftmost-first non-overlapping,
    * the standard BPE apply). At 100 TB the corpus is touched once; the
    * R rounds never see it. Per-round localCheckpoint with dead-RDD
    * release (the ConnectedComponents discipline) keeps lineage linear
    * in rounds. The DuckDB oracle replays the identical R rounds as
    * generated chained CTEs — same folds, same tie-breaks — so the
    * learned merge table is value-checked cross-engine.
    */
  /** SAMPLED quantile estimation, calibrated against the exact answer:
    * per-language n_chars percentiles computed by e35's rank selection
    * over a DETERMINISTIC 10% hash sample (`hashLong(doc_id) < ⌈0.1·P⌉`
    * — the e23 split discipline, not Bernoulli `rand()`, so the sample
    * is replayable, partition-stable, and oracle-checkable bit-for-bit),
    * emitted next to the exact percentiles with absolute errors. The
    * scale lever a monitoring pipeline actually uses: the sampled path's
    * value-frequency shuffle is 10× smaller at identical plan shape, and
    * at 100 TB a sub-percent sample answers "did the length distribution
    * drift today?" for 1% of the cost; the exact side here is the
    * calibration harness (the e60 discipline), not the production path.
    */
  /** Shared exact p50/p90 rank rule over the (lang, n_chars) frequency
    * table — ONE definition per dialect, used by e63 (plain sample) and
    * e72 (floored sample): the two estimators differ ONLY in their
    * sampling rule, so the rank formula must be literally shared or the
    * audits could disagree for a non-statistical reason.
    */
  private def p50p90RanksDuck(src: String, pfx: String) =
    s"""${pfx}freq AS (SELECT lang, n_chars, count(*) AS cnt
       |  FROM $src GROUP BY lang, n_chars),
       |${pfx}cum AS (SELECT lang, n_chars,
       |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM ${pfx}freq),
       |${pfx}tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n
       |  FROM ${pfx}freq GROUP BY lang),
       |${pfx}q AS (SELECT c.lang, t.n,
       |    min(CASE WHEN c.cum >= (t.n + 1) // 2 THEN c.n_chars END)
       |      AS p50,
       |    min(CASE WHEN c.cum >= (9*t.n + 9) // 10 THEN c.n_chars END)
       |      AS p90
       |  FROM ${pfx}cum c JOIN ${pfx}tot t USING (lang)
       |  GROUP BY c.lang, t.n)""".stripMargin

  /** Spark twin of [[p50p90RanksDuck]]. */
  private def p50p90Ranks(df: DataFrame): DataFrame = {
    val freq = df.groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("cnt"))
    val cum = freq.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = freq.groupBy("lang").agg(sum(col("cnt")).as("n"))
    def atRank(rank: Column) = min(when(col("cum") >= rank, col("n_chars")))
    cum.join(tot, "lang")
      .groupBy(col("lang"), col("n"))
      .agg(atRank(expr("(n + 1) div 2")).as("p50"),
        atRank(expr("(9*n + 9) div 10")).as("p90"))
  }

  private def e63SampledQuantiles = {
    val seed = 7L
    val t10 = math.ceil(0.1 * P).toLong
    val drawDuck = MockData.hashLongDuck(seed, "qsample", "doc_id")
    QueryDef.sql(
      "e63_sampled_quantiles",
      s"""WITH smp AS (SELECT lang, n_chars FROM documents
         |  WHERE $drawDuck < $t10),
         |${p50p90RanksDuck("documents", "x")},
         |${p50p90RanksDuck("smp", "s")}
         |SELECT x.lang, x.n AS n_docs, s.n AS n_sample,
         |  x.p50, s.p50 AS p50_est, abs(s.p50 - x.p50) AS err50,
         |  x.p90, s.p90 AS p90_est, abs(s.p90 - x.p90) AS err90
         |FROM xq x JOIN sq s USING (lang) ORDER BY x.lang""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
        val exact = p50p90Ranks(docs)
        val est = p50p90Ranks(docs
          .filter(MockData.hashLong(seed, "qsample", col("doc_id")) < t10))
        exact.as("x").join(est.as("s"), "lang")
          .select(col("lang"), col("x.n").as("n_docs"),
            col("s.n").as("n_sample"),
            col("x.p50").as("p50"), col("s.p50").as("p50_est"),
            abs(col("s.p50") - col("x.p50")).as("err50"),
            col("x.p90").as("p90"), col("s.p90").as("p90_est"),
            abs(col("s.p90") - col("x.p90")).as("err90"))
          .orderBy("lang")
    }
  }

  /** SHARD MANIFEST with integrity checksums — the reproducibility
    * artifact a training-data DELIVERY ships next to e34's token-budget
    * shards: per shard, the doc/token counts and id range plus an
    * order-insensitive content checksum (sum of per-doc rolling-hash
    * fingerprints mod P — e10's `poly_hash`, so the checksum is
    * engine-portable and can be recomputed from any copy of the shard
    * to prove bit-level integrity after a transfer, independent of row
    * order). A consumer re-derives the manifest from received shards
    * and diffs: any dropped, duplicated, or corrupted document moves
    * the checksum.
    *
    * Shape at 100 TB: e34's scale-safe running total
    * ([[graft.operators.Indexing.withRunningTotal]] — per-partition
    * offsets, no global window) plus one per-shard aggregation; the
    * checksum is the PAIR of independent mod-P fingerprint sums
    * packed as ck31·P + ck37 (~2⁻⁶⁰ masking budget — one mod-P sum's
    * ~2⁻³⁰ lets a corrupted doc hide at fleet scale; headroom:
    * fingerprints < P ≈ 10⁹, so 9.2×10⁹ docs per shard before either
    * sum needs chunked folding — far past any shard size).
    */
  private def e73ShardManifest = {
    val budget = 2000L
    QueryDef.sql(
      "e73_shard_manifest",
      s"""WITH w AS (SELECT doc_id,
         |    len(${Portable.wordsDuck}) AS n_tok,
         |    ${Portable.textFingerprintDuck} AS fp1,
         |    ${Portable.textFingerprint2Duck} AS fp2
         |  FROM documents),
         |c AS (SELECT doc_id, n_tok, fp1, fp2,
         |    COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM w)
         |SELECT CAST(cum_before // $budget AS BIGINT) AS shard_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  CAST((sum(fp1) % ${Portable.P}) * ${Portable.P}
         |    + (sum(fp2) % ${Portable.P}) AS BIGINT) AS checksum
         |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"),
          F.poly_hash(col("text")).as("fp1"),
          F.poly_hash(col("text"), 37L, Portable.P).as("fp2"))
      graft.operators.Indexing
        .withRunningTotal(toks, col("doc_id"), col("n_tok"), "cum_before")
        .groupBy(expr(s"cum_before div ${budget}L").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          expr(s"(sum(fp1) % ${Portable.P}L) * ${Portable.P}L" +
            s" + (sum(fp2) % ${Portable.P}L)").as("checksum"))
        .orderBy("shard_id")
    }
  }

  /** SHARD STABILITY under corpus growth — the design audit behind
    * e73's manifest: when a delta batch ARRIVES (append = the top 20 %
    * of doc_ids, the only growth mode an ingestion log produces), how
    * many already-delivered documents change shard? Two sharding
    * disciplines are compared on identical data: `arrival` shards in
    * doc_id order — prefix sums of earlier docs are untouched by an
    * append, so reassignments are ZERO by construction and the manifest
    * stays valid; `shuffled` shards in e25's seeded-permutation order —
    * new docs interleave throughout the permutation, shifting almost
    * every cumulative offset behind them, so nearly the whole corpus
    * re-shards (moved_bp ≈ 10⁴). The two rows of this query are the
    * quantified argument for WHY a 100 TB pipeline shards in arrival
    * order and shuffles WITHIN the training loader (e25 pos is derived,
    * never a storage key), not before sharding.
    *
    * Shape at 100 TB: four runs of the scale-safe prefix sum
    * ([[graft.operators.Indexing.withRunningTotal]]) + two doc_id-keyed
    * equi-joins + a two-row aggregate. The base/full split threshold is
    * a one-row count pulled as a driver scalar (the e33 discipline).
    */
  private def e77ShardStability = {
    val budget = 2000L
    val seed = 42L
    val drawDuck = MockData.hashLongDuck(seed, "stab", "doc_id")
    def cumDuck(src: String, key: String): String =
      s"""SELECT doc_id, CAST(COALESCE(sum(n_tok) OVER (ORDER BY $key
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // $budget AS BIGINT) AS shard
         |  FROM $src""".stripMargin
    QueryDef.pinned(
      "e77_shard_stability",
      s"""WITH w AS (SELECT doc_id,
         |    len(${Portable.wordsDuck}) AS n_tok,
         |    $drawDuck AS draw
         |  FROM documents),
         |n AS (SELECT count(*) AS n FROM w),
         |b AS (SELECT w.* FROM w CROSS JOIN n WHERE doc_id * 5 < 4 * n),
         |fa AS (${cumDuck("w", "doc_id")}),
         |ba AS (${cumDuck("b", "doc_id")}),
         |fs AS (${cumDuck("w", "draw")}),
         |bs AS (${cumDuck("b", "draw")})
         |SELECT * FROM (
         |  SELECT 'arrival' AS mode, count(*) AS n_base_docs,
         |    CAST(sum(CASE WHEN ba.shard != fa.shard THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved,
         |    CAST(sum(CASE WHEN ba.shard != fa.shard THEN 1 ELSE 0 END)
         |      * 10000 // count(*) AS BIGINT) AS moved_bp
         |  FROM ba JOIN fa USING (doc_id)
         |  UNION ALL
         |  SELECT 'shuffled' AS mode, count(*) AS n_base_docs,
         |    CAST(sum(CASE WHEN bs.shard != fs.shard THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved,
         |    CAST(sum(CASE WHEN bs.shard != fs.shard THEN 1 ELSE 0 END)
         |      * 10000 // count(*) AS BIGINT) AS moved_bp
         |  FROM bs JOIN fs USING (doc_id))
         |ORDER BY mode""".stripMargin) { (p, s, dir) =>
      // tokenize ONCE: all four prefix-sum runs read this 24-byte/doc
      // projection, not the text — materialized eagerly so the corpus
      // scan + word extraction never repeats (measured 51 → ~15 s on
      // the 100× probe replica; at fleet scale the frame is ~24 B/doc,
      // disk-spillable, vs 4 full-text rescans)
      val w = p.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"),
          MockData.hashLong(seed, "stab", col("doc_id")).as("draw")))
      // one-row count pulled as the base/delta threshold scalar — the
      // e33 discipline (a constant of the run; relational would be a
      // 1-row BNLJ for no gain)
      val n = w.count()
      val base = w.filter(col("doc_id") * 5 < lit(4L * n))
      def shards(df: DataFrame, key: String): DataFrame =
        graft.operators.Indexing
          .withRunningTotal(df, col(key), col("n_tok"), "cum_before")
          .select(col("doc_id"),
            expr(s"cum_before div ${budget}L").as("shard"))
      def audit(mode: String, b: DataFrame, f: DataFrame): DataFrame =
        b.join(f.withColumnRenamed("shard", "shard_full"), "doc_id")
          .agg(count(lit(1)).as("n_base_docs"),
            sum(when(col("shard") =!= col("shard_full"), 1L)
              .otherwise(0L)).as("n_moved"))
          .select(lit(mode).as("mode"), col("n_base_docs"),
            col("n_moved"),
            expr("n_moved * 10000 div n_base_docs").as("moved_bp"))
      audit("arrival", shards(base, "doc_id"), shards(w, "doc_id"))
        .union(
          audit("shuffled", shards(base, "draw"), shards(w, "draw")))
        .orderBy("mode")
    }
  }

  /** CONTEXT PACKING manifest — the SPLIT-ALLOWED packing regime (GPT
    * pretraining's concatenate-then-chunk), complementing e34's
    * document-preserving shards: the corpus token stream is cut into
    * fixed [[e78 Ctx]]-token training contexts, and each context row
    * reports how many documents it touches, how many of those continue
    * into the next context (split docs — the attention-contamination
    * metric a packer tunes context length against), and its fill (all
    * contexts are full except the tail by construction — padding waste
    * is the FINAL row only, the regime's defining property). A document
    * at global token offset `cum` spanning `n_tok` tokens overlaps
    * contexts floor(cum/C) .. floor((cum+n_tok−1)/C) — closed form, so
    * packing 100 TB is one prefix sum + a bounded explode (≤⌈n_tok/C⌉+1
    * contexts per doc), never a sequential walk.
    *
    * Shape at 100 TB: e34's scale-safe running total + one
    * context-keyed aggregation with map-side combine; output is
    * corpus_tokens/C rows.
    */
  private def e78PackContexts = {
    val ctx = 512L // context length in tokens (words)
    QueryDef.sql(
      "e78_pack_contexts",
      s"""WITH w AS (SELECT doc_id,
         |    len(${Portable.wordsDuck}) AS n_tok
         |  FROM documents WHERE len(${Portable.wordsDuck}) > 0),
         |c AS (SELECT doc_id, n_tok,
         |    CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum
         |  FROM w),
         |x AS (SELECT doc_id, n_tok, cum,
         |    unnest(range(cum // $ctx, (cum + n_tok - 1) // $ctx + 1))
         |      AS ctx_id
         |  FROM c)
         |SELECT CAST(ctx_id AS BIGINT) AS ctx_id,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN (cum + n_tok - 1) // $ctx > ctx_id
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
         |  CAST(sum(least((ctx_id + 1) * $ctx, cum + n_tok)
         |    - greatest(ctx_id * $ctx, cum)) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM x GROUP BY 1 ORDER BY ctx_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"))
        .where(col("n_tok") > 0)
      graft.operators.Indexing
        .withRunningTotal(toks, col("doc_id"), col("n_tok"), "cum")
        .select(col("doc_id"), col("n_tok"), col("cum"),
          explode(sequence(
            expr(s"cum div ${ctx}L"),
            expr(s"(cum + n_tok - 1) div ${ctx}L"))).as("ctx_id"))
        .groupBy("ctx_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(expr(s"(cum + n_tok - 1) div ${ctx}L") > col("ctx_id"),
            1L).otherwise(0L)).as("n_split"),
          sum(least((col("ctx_id") + 1) * ctx, col("cum") + col("n_tok"))
            - greatest(col("ctx_id") * ctx, col("cum"))).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("ctx_id")
    }
  }

  /** LENGTH-BUCKETED batching audit — the DOCUMENT-PRESERVING padded
    * regime, completing e78's taxonomy (split-allowed packs contexts
    * full and pays attention contamination; document-preserving pads
    * every sequence in a batch to the batch max and pays dead compute).
    * Two batch assignments over identical data are compared: `arrival`
    * batches B consecutive docs in doc_id order — lengths mix freely,
    * so short docs ride batches whose max is set by the longest member;
    * `sorted` batches in (n_tok, doc_id) order — near-equal lengths
    * share a batch, collapsing pad waste (the measured argument for the
    * length-bucketed batch samplers every padded-training loader
    * ships). Per regime: batch count, token mass, pad tokens, pad share
    * of padded capacity in basis points, and the worst single batch.
    *
    * Shape at 100 TB: the (doc_id, n_tok) projection is computed ONCE
    * (e77's materialize-the-16-byte-frame discipline), then two runs of
    * the scale-safe rank (exclusive prefix count via
    * [[graft.operators.Indexing.withRunningTotal]] — per-partition
    * offsets, no single-task global window; the sorted regime's rank
    * orders by a (n_tok, doc_id) struct, i.e. ONE range exchange — the
    * same shuffle a global sort would pay, which IS the production
    * cost of length bucketing) + one batch-keyed map-side-combined
    * aggregation each + a one-row rollup per regime.
    */
  private def e79LengthBuckets = {
    val b = 32L // docs per batch
    def regimeDuck(mode: String, src: String): String =
      s"""SELECT '$mode' AS mode, count(*) AS n_batches,
         |    CAST(sum(tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(n * mx - tok) AS BIGINT) AS pad_tokens,
         |    CAST(sum(n * mx - tok) * 10000 // sum(n * mx) AS BIGINT)
         |      AS pad_bp,
         |    CAST(max(n * mx - tok) AS BIGINT) AS max_batch_pad
         |  FROM $src""".stripMargin
    QueryDef.pinned(
      "e79_length_buckets",
      s"""WITH w AS (SELECT doc_id,
         |    len(${Portable.wordsDuck}) AS n_tok
         |  FROM documents WHERE len(${Portable.wordsDuck}) > 0),
         |a AS (SELECT n_tok,
         |    (row_number() OVER (ORDER BY doc_id) - 1) // $b AS batch
         |  FROM w),
         |s AS (SELECT n_tok,
         |    (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // $b
         |      AS batch
         |  FROM w),
         |ab AS (SELECT batch, count(*) AS n, max(n_tok) AS mx,
         |    sum(n_tok) AS tok FROM a GROUP BY batch),
         |sb AS (SELECT batch, count(*) AS n, max(n_tok) AS mx,
         |    sum(n_tok) AS tok FROM s GROUP BY batch)
         |SELECT * FROM (${regimeDuck("arrival", "ab")}
         |  UNION ALL ${regimeDuck("sorted", "sb")})
         |ORDER BY mode""".stripMargin) { (p, s, dir) =>
      val w = p.checkpoint(Tables.documents(s, dir)
        .select(col("doc_id"),
          size(expr(Portable.wordsSpark)).cast("long").as("n_tok"))
        .where(col("n_tok") > 0))
      def batches(key: Column): DataFrame =
        graft.operators.Indexing
          .withRunningTotal(w, key, lit(1L), "rank")
          .groupBy(expr(s"rank div ${b}L").as("batch"))
          .agg(count(lit(1)).as("n"), max(col("n_tok")).as("mx"),
            sum(col("n_tok")).as("tok"))
      def audit(mode: String, bdf: DataFrame): DataFrame =
        bdf.agg(count(lit(1)).as("n_batches"),
            sum(col("tok")).as("n_tokens"),
            sum(col("n") * col("mx") - col("tok")).as("pad_tokens"),
            max(col("n") * col("mx") - col("tok")).as("max_batch_pad"),
            sum(col("n") * col("mx")).as("cap"))
          .select(lit(mode).as("mode"), col("n_batches"),
            col("n_tokens"), col("pad_tokens"),
            expr("pad_tokens * 10000 div cap").as("pad_bp"),
            col("max_batch_pad"))
      audit("arrival", batches(col("doc_id")))
        .union(audit("sorted",
          batches(struct(col("n_tok"), col("doc_id")))))
        .orderBy("mode")
    }
  }

  /** SOURCE-INTERLEAVE delivery schedule audit — the deterministic
    * answer to "in what ORDER do the per-source delivery units ship so
    * the training stream is locally well-mixed?" (long single-source
    * runs early in training are the mixing failure e51's quotas alone
    * cannot prevent). Each source's token mass becomes u_s = ceil(T_s/B)
    * delivery units; unit i of source s gets the evenly-spread ideal
    * key (2i+1)·10⁹ div (2·u_s) — the largest-remainder / Bresenham
    * interleave in pure integer math — and the global delivery position
    * is the rank of (key, source, i). The audit reports, per source,
    * the spacing the schedule achieved: min/max gap between that
    * source's consecutive positions and its longest run of adjacent
    * positions (max_run = 1 means never two units back-to-back).
    *
    * Shape at 100 TB: one map-side-combined groupBy collapses the
    * corpus to #sources rows; the unit fan-out is corpus_tokens/B rows
    * (delivery units, not documents); the rank is the scale-safe
    * [[graft.operators.Indexing.withGlobalIndex]] range-partitioned
    * index — no single-task window anywhere; gaps and runs are
    * source-partitioned windows over the bounded unit frame.
    */
  private def e82InterleaveSchedule = {
    val b = 100L // tokens per delivery unit
    QueryDef.sql(
      "e82_interleave_schedule",
      s"""WITH t AS (SELECT source,
         |    CAST(sum(len(${Portable.wordsDuck})) AS BIGINT) AS tok
         |  FROM documents GROUP BY source),
         |u AS (SELECT source, (tok + ${b - 1}) // $b AS us FROM t
         |  WHERE tok > 0),
         |units AS (SELECT source, us, unnest(range(0, us)) AS i FROM u),
         |k AS (SELECT source, us, i,
         |    (2*i + 1) * 1000000000 // (2*us) AS key FROM units),
         |o AS (SELECT source, us, i,
         |    row_number() OVER (ORDER BY key, source, i) - 1 AS pos
         |  FROM k),
         |g AS (SELECT source, us, i, pos, pos - i AS island,
         |    pos - lag(pos) OVER (PARTITION BY source ORDER BY pos)
         |      AS gap
         |  FROM o),
         |runs AS (SELECT source, island, count(*) AS run
         |  FROM g GROUP BY 1, 2),
         |mr AS (SELECT source, CAST(max(run) AS BIGINT) AS max_run
         |  FROM runs GROUP BY source)
         |SELECT g.source, CAST(max(us) AS BIGINT) AS n_units,
         |  CAST(min(gap) AS BIGINT) AS min_gap,
         |  CAST(max(gap) AS BIGINT) AS max_gap, mr.max_run
         |FROM g JOIN mr USING (source)
         |GROUP BY g.source, mr.max_run ORDER BY source""".stripMargin) {
      (s, dir) =>
        val t = Tables.documents(s, dir)
          .groupBy("source")
          .agg(sum(size(expr(Portable.wordsSpark)).cast("long")).as("tok"))
        val units = t
          // tok > 0 guard: a zero-token source would otherwise hand
          // sequence() an empty DESCENDING range (Spark's sequence runs
          // backwards when start > stop — it does not return empty)
          .where(col("tok") > 0)
          .select(col("source"),
            expr(s"(tok + ${b - 1}L) div ${b}L").as("us"))
          .select(col("source"), col("us"),
            explode(sequence(lit(0L), col("us") - 1)).as("i"))
          .withColumn("key", expr("(2*i + 1) * 1000000000L div (2*us)"))
        val o = graft.operators.Indexing.withGlobalIndex(
          units, struct(col("key"), col("source"), col("i")), "pos")
        val w = Window.partitionBy(col("source")).orderBy(col("pos"))
        val g = o
          .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
          .withColumn("island", col("pos") - col("i"))
        val mr = g.groupBy(col("source"), col("island"))
          .agg(count(lit(1)).as("run"))
          .groupBy("source").agg(max(col("run")).as("max_run"))
        g.groupBy("source")
          .agg(max(col("us")).as("n_units"), min(col("gap")).as("min_gap"),
            max(col("gap")).as("max_gap"))
          .join(mr, "source")
          .select(col("source"), col("n_units"), col("min_gap"),
            col("max_gap"), col("max_run"))
          .orderBy("source")
    }
  }

  /** FLOORED sampled quantiles — e63's named escalation, built: a fixed
    * global sample rate starves small groups (a 0.1 % fleet-scale rate
    * leaves a minority language with too few draws for a stable p90),
    * so the threshold adapts PER GROUP: rate_g = max(base, floor_n/n_g)
    * capped at 1, in exact integer form t_g = least(P, greatest(t_base,
    * ceil(P·floor_n / n_g))). The draw itself is the same deterministic
    * value-hash as e63 (same seed/tag — one document's sample fate is
    * consistent across both estimators), so group membership only moves
    * the THRESHOLD, never the hash: replayable, partition-stable,
    * oracle-checkable. Groups smaller than the floor saturate at 100 %
    * and report zero error by construction — visible in the output at
    * sf0.01, where every non-en language caps out.
    *
    * Shape at 100 TB: one #groups-row census (cheap count), broadcast
    * back as the per-group threshold; everything else is e63's bounded
    * frequency-table rank machinery. The floor guarantee costs nothing
    * on big groups (base rate binds) and pays only floor_n rows on
    * small ones.
    */
  private def e72FlooredSample = {
    val seed = 7L
    val t10 = math.ceil(0.1 * P).toLong
    val floorN = 120L
    val drawDuck = MockData.hashLongDuck(seed, "qsample", "doc_id")
    QueryDef.sql(
      "e72_floored_sample",
      s"""WITH g AS (SELECT lang, count(*) AS n_g FROM documents
         |  GROUP BY lang),
         |th AS (SELECT lang, n_g,
         |    least(CAST($P AS BIGINT), greatest(CAST($t10 AS BIGINT),
         |      (CAST($P AS BIGINT) * $floorN + n_g - 1) // n_g)) AS t_g
         |  FROM g),
         |smp AS (SELECT d.lang, d.n_chars
         |  FROM documents d JOIN th USING (lang) WHERE $drawDuck < t_g),
         |${p50p90RanksDuck("documents", "x")},
         |${p50p90RanksDuck("smp", "s")}
         |SELECT x.lang, x.n AS n_docs, s.n AS n_sample,
         |  CAST(th.t_g * 10000 // $P AS BIGINT) AS rate_bp,
         |  x.p50, s.p50 AS p50_est, abs(s.p50 - x.p50) AS err50,
         |  x.p90, s.p90 AS p90_est, abs(s.p90 - x.p90) AS err90
         |FROM xq x JOIN sq s USING (lang) JOIN th USING (lang)
         |ORDER BY x.lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
      val th = docs.groupBy("lang").agg(count(lit(1)).as("n_g"))
        .select(col("lang"), expr(
          s"least(${P}L, greatest(${t10}L, " +
            s"(${P}L * ${floorN}L + n_g - 1L) div n_g))").as("t_g"))
      val smp = docs.join(broadcast(th), "lang")
        .filter(MockData.hashLong(seed, "qsample", col("doc_id")) <
          col("t_g"))
        .select("lang", "n_chars")
      val exact = p50p90Ranks(docs)
      val est = p50p90Ranks(smp)
      exact.as("x").join(est.as("s"), "lang").join(th, "lang")
        .select(col("lang"), col("x.n").as("n_docs"),
          col("s.n").as("n_sample"),
          expr(s"t_g * 10000 div ${P}L").as("rate_bp"),
          col("x.p50").as("p50"), col("s.p50").as("p50_est"),
          abs(col("s.p50") - col("x.p50")).as("err50"),
          col("x.p90").as("p90"), col("s.p90").as("p90_est"),
          abs(col("s.p90") - col("x.p90")).as("err90"))
        .orderBy("lang")
    }
  }

  /** Per-source quality-score CALIBRATION (score stage): normalize an
    * integer quality signal (stopword-ratio basis points, the e14
    * signal) to its in-source percentile rank before applying one global
    * keep threshold. A single raw-score threshold over a multi-source
    * corpus is dominated by inter-source distribution shift — a clean
    * source would sail through while a noisy one is decimated, silently
    * reweighting the mixture; ranking within source first makes the
    * keep-rate uniform per source (the per-dump calibration discipline
    * of web-scale curation pipelines), and mixture weights stay where
    * e51 put them.
    *
    * Percentiles are integer basis points over a UNIQUE ordering
    * (score, then doc_id), so ranks — and therefore every emitted row —
    * are bit-portable. The window partitions by source: at 100 TB each
    * source ranks independently in parallel, and a mega-source is
    * exactly the q46 chunked-rank escalation path if one partition ever
    * dominates.
    */
  private def e62ScoreCalibration = QueryDef.sql(
    "e62_score_calibration",
    s"""WITH sc AS (SELECT doc_id, source,
       |    len(list_filter(${Portable.wordsDuck}, w -> w IN ('the', 'a')))
       |      * 10000 // len(${Portable.wordsDuck}) AS score_bp
       |  FROM documents WHERE len(${Portable.wordsDuck}) > 0),
       |rk AS (SELECT doc_id, source, score_bp,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY score_bp, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n_src
       |  FROM sc)
       |SELECT doc_id, source, CAST(score_bp AS BIGINT) AS score_bp,
       |  CAST(CASE WHEN n_src = 1 THEN 10000
       |    ELSE (rn - 1) * 10000 // (n_src - 1) END AS BIGINT) AS pct_bp,
       |  CAST(CASE WHEN (CASE WHEN n_src = 1 THEN 10000
       |      ELSE (rn - 1) * 10000 // (n_src - 1) END) >= 5000
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val words = expr(Portable.wordsSpark)
    val sc = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(filter(words, w => w.isin("the", "a"))).cast("long")
          .as("n_stop"),
        size(words).cast("long").as("n_words"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("source"),
        expr("n_stop * 10000 div n_words").as("score_bp"))
    val byScore = Window.partitionBy("source")
      .orderBy(col("score_bp"), col("doc_id"))
    val whole = Window.partitionBy("source")
    val pct = when(col("n_src") === 1, lit(10000L))
      .otherwise(expr("(rn - 1) * 10000 div (n_src - 1)"))
    sc.withColumn("rn", row_number().over(byScore).cast("long"))
      .withColumn("n_src", count(lit(1)).over(whole))
      .select(col("doc_id"), col("source"), col("score_bp"),
        pct.as("pct_bp"),
        when(pct >= 5000, 1L).otherwise(0L).as("keep"))
  }

  // ---- BPE machinery shared by e50 (train) and e56 (apply) ---------------

  // defs, not vals: `all` at the top of the object initializes first,
  // so a val here would still be 0 while the e50/e56 SQL strings are
  // being built (the PipelineQueries `% 0` lesson)
  private def BpeRounds: Int = 8
  private def BpeVocabCap: Int = 300

  /** Greedy leftmost-first non-overlapping merge of (a, b) -> merged
    * over a symbol array — the standard BPE apply, as a codegen'd
    * `aggregate` fold.
    */
  private def bpeApplyOnce(
      syms: org.apache.spark.sql.Column, a: String, b: String,
      merged: String): org.apache.spark.sql.Column =
    aggregate(
      syms, lit(Array.empty[String]),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))

  /** [[bpeApplyOnce]]'s driver-local twin — the identical leftmost-first
    * fold over a plain array.
    */
  private def bpeApplyLocal(
      ss: Array[String], a: String, b: String,
      merged: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (x <- ss) {
      if (out.nonEmpty && out.last == a && x == b) {
        out.remove(out.length - 1); out += merged
      } else out += x
    }
    out.toArray
  }

  /** Train the first [[BpeRounds]] merges on the count-desc/lex-capped
    * word-frequency vocabulary. ONE corpus pass builds the capped
    * vocabulary; training then runs DRIVER-LOCAL over those
    * [[BpeVocabCap]] rows — the e33 bounded-pull discipline (the bound
    * is by construction: 300 rows here, ~10⁵ at fleet scale, driver-
    * trivial either way), replacing [[BpeRounds]]×2 vocabulary-sized
    * Spark jobs + localCheckpoint churn per training run. The fold and
    * every tie-break replicate the relational formulation exactly
    * (symbols are ASCII, so Scala String ordering == Spark's UTF8
    * binary ordering), and the DuckDB oracle still runs the full
    * relational CTE chain — the hash compare proves the identity.
    * Returns (round, a, b, merged, pairCount) in round order.
    */
  private def bpeTrainMerges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, String, String, String, Long)] = {
    val vocab = Tables.documents(s, dir)
      .select(explode(expr(Portable.wordsSpark)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(BpeVocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var syms: Array[(Array[String], Long)] =
      vocab.map { case (w, c) => (w.toCharArray.map(_.toString), c) }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val pairCounts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((ss, c) <- syms; i <- 0 until ss.length - 1)
        pairCounts.updateWith((ss(i), ss(i + 1))) {
          case Some(v) => Some(v + c); case None => Some(c)
        }
      require(pairCounts.nonEmpty,
        s"vocabulary exhausted before $BpeRounds merge rounds")
      // best pair by (count desc, a, b) — e50's relational tie-break
      val ((a, b), c) = pairCounts.minBy { case ((pa, pb), pc) =>
        (-pc, pa, pb)
      }
      val merged = a + b
      merges += ((r, a, b, merged, c))
      syms = syms.map { case (ss, cc) =>
        (bpeApplyLocal(ss, a, b, merged), cc)
      }
    }
    merges.toSeq
  }

  /** The trained merges applied as ONE chained projection —
    * `merge_R(...merge_1(chars(word)))` composed from [[bpeApplyOnce]]
    * folds: a single vocabulary-bounded pass, no per-round
    * materialization (sequential-rounds and composed-folds semantics
    * coincide because each fold applies its ONE merge exhaustively).
    */
  private def bpeTokensPerWord(
      merges: Seq[(Int, String, String, String, Long)]):
      org.apache.spark.sql.Column =
    merges.foldLeft(expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")) {
      case (c, (_, a, b, m, _)) => bpeApplyOnce(c, a, b, m)
    }

  /** DuckDB twin of one training round: best pair b{r} from s{r-1},
    * rewritten symbols s{r} — identical fold and tie-breaks.
    */
  private def bpeRoundDuck(r: Int): String =
    s"""b$r AS (SELECT a, b, c FROM (
       |    SELECT x.syms[x.i] AS a, x.syms[x.i+1] AS b, sum(x.cnt) AS c
       |    FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS i
       |          FROM s${r - 1}) x
       |    GROUP BY 1, 2)
       |  ORDER BY c DESC, a, b LIMIT 1),
       |s$r AS (SELECT word, cnt, list_reduce(
       |    list_prepend([]::VARCHAR[], list_transform(syms, x -> [x])),
       |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a
       |        AND x[1] = m.b
       |      THEN acc[1:len(acc)-1] || [m.a || m.b]
       |      ELSE acc || x END) AS syms
       |  FROM s${r - 1} CROSS JOIN b$r m)""".stripMargin

  /** DuckDB twin of one APPLY round over the a{r} chain — the same
    * rewrite fold as [[bpeRoundDuck]]'s s{r} leg, shared by e56/e75 so
    * applied merges can never drift from trained ones.
    */
  private def bpeApplyDuck(r: Int): String =
    s"""a$r AS (SELECT word, list_reduce(
       |    list_prepend([]::VARCHAR[], list_transform(syms, x -> [x])),
       |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a
       |        AND x[1] = m.b
       |      THEN acc[1:len(acc)-1] || [m.a || m.b]
       |      ELSE acc || x END) AS syms
       |  FROM a${r - 1} CROSS JOIN b$r m)""".stripMargin

  private def e50BpeTrain = {
    val R = BpeRounds
    val vocabCap = BpeVocabCap
    QueryDef.sql(
      "e50_bpe_train",
      s"""WITH w AS (SELECT unnest(${Portable.wordsDuck}) AS word
         |  FROM documents),
         |v0 AS (SELECT word, count(*) AS cnt FROM w GROUP BY word
         |  ORDER BY cnt DESC, word LIMIT $vocabCap),
         |s0 AS (SELECT word, cnt,
         |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
         |  FROM v0),
         |${(1 to R).map(bpeRoundDuck).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to R).map(r =>
           s"  SELECT $r AS round, a AS sym_a, b AS sym_b," +
             s" a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM b$r")
           .mkString("\n  UNION ALL\n")})
         |ORDER BY round""".stripMargin) { (s, dir) =>
      import s.implicits._
      bpeTrainMerges(s, dir)
        .toDF("round", "sym_a", "sym_b", "merged", "pair_count")
        .orderBy("round")
    }
  }

  /** Tokenizer APPLY (e50's missing second half — train → apply →
    * budget): token counts per document under the trained BPE merges.
    * The scale insight: BPE tokenization is a function of the WORD
    * alone, so the corpus is never tokenized row by row — the R merges
    * are applied to the DISTINCT-word table (vocabulary-bounded, R
    * bounded rounds of the same greedy fold used in training), yielding
    * a (word → n_tokens) map that one keyed join carries back over the
    * corpus. Per-document output: words, tokens — the numbers a token
    * budgeter (e34) consumes. The DuckDB twin replays training verbatim
    * (e50's CTE chain) and then the same apply chain over the full
    * vocabulary.
    */
  private def e56BpeTokenCount = {
    QueryDef.sql(
      "e56_bpe_token_count",
      s"""WITH d AS (SELECT doc_id, lang, ${Portable.wordsDuck} AS words
         |  FROM documents),
         |w AS (SELECT unnest(words) AS word FROM d),
         |v0 AS (SELECT word, count(*) AS cnt FROM w GROUP BY word
         |  ORDER BY cnt DESC, word LIMIT $BpeVocabCap),
         |s0 AS (SELECT word, cnt,
         |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
         |  FROM v0),
         |${(1 to BpeRounds).map(bpeRoundDuck).mkString(",\n")},
         |a0 AS (SELECT word,
         |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
         |  FROM (SELECT DISTINCT word FROM w)),
         |${(1 to BpeRounds).map(bpeApplyDuck).mkString(",\n")},
         |t AS (SELECT word, len(syms) AS n_tokens FROM a$BpeRounds),
         |dw AS (SELECT doc_id, lang, unnest(words) AS word FROM d)
         |SELECT doc_id, lang, count(*) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM dw JOIN t USING (word)
         |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val merges = bpeTrainMerges(s, dir)
      val wordTokens = Tables.documents(s, dir)
        .select(explode(expr(Portable.wordsSpark)).as("word"))
        .distinct()
        .select(col("word"),
          size(bpeTokensPerWord(merges)).cast("long").as("n_tok"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(expr(Portable.wordsSpark)).as("word"))
        .join(wordTokens, "word")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
    }
  }

  /** TOKENIZER FERTILITY audit — the acceptance gate run after e50
    * trains and before e56's counts are trusted: tokens-per-word and
    * chars-per-token by (source, lang), the standard fertility metric
    * used to judge whether a tokenizer under-serves a language or a
    * source (high fertility = more tokens per word = that slice pays
    * more compute per character of signal). Ratios are integer basis
    * points (the e34 `div` discipline), so the audit is bit-identical
    * cross-engine.
    *
    * Shape at 100 TB: the corpus collapses to a (source, lang, word)
    * frequency table in ONE pass (map-side combine; the only corpus
    * shuffle), the trained word→token-count map is vocabulary-bounded
    * (e56's insight — BPE is a function of the word alone), and the
    * fertility join runs frequency-table × word-map: every post-scan
    * stage is vocabulary-sized, independent of corpus row count —
    * unlike e56, not even one per-document row survives the first
    * aggregation.
    */
  private def e75TokenFertility = {
    QueryDef.sql(
      "e75_token_fertility",
      s"""WITH d AS (SELECT source, lang, ${Portable.wordsDuck} AS words
         |  FROM documents),
         |w AS (SELECT unnest(words) AS word FROM d),
         |v0 AS (SELECT word, count(*) AS cnt FROM w GROUP BY word
         |  ORDER BY cnt DESC, word LIMIT $BpeVocabCap),
         |s0 AS (SELECT word, cnt,
         |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
         |  FROM v0),
         |${(1 to BpeRounds).map(bpeRoundDuck).mkString(",\n")},
         |a0 AS (SELECT word,
         |    list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
         |  FROM (SELECT DISTINCT word FROM w)),
         |${(1 to BpeRounds).map(bpeApplyDuck).mkString(",\n")},
         |t AS (SELECT word, len(syms) AS n_tokens FROM a$BpeRounds),
         |f AS (SELECT source, lang, word, count(*) AS cnt
         |  FROM (SELECT source, lang, unnest(words) AS word FROM d)
         |  GROUP BY 1, 2, 3)
         |SELECT source, lang,
         |  CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(sum(cnt * n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(cnt * len(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(cnt * n_tokens) * 10000 // sum(cnt) AS BIGINT)
         |    AS fertility_bp,
         |  CAST(sum(cnt * len(word)) * 10000 // sum(cnt * n_tokens)
         |    AS BIGINT) AS chars_per_token_bp
         |FROM f JOIN t USING (word)
         |GROUP BY source, lang ORDER BY source, lang""".stripMargin) {
      (s, dir) =>
        val merges = bpeTrainMerges(s, dir)
        val wordTokens = Tables.documents(s, dir)
          .select(explode(expr(Portable.wordsSpark)).as("word"))
          .distinct()
          .select(col("word"),
            size(bpeTokensPerWord(merges)).cast("long").as("n_tokens"),
            length(col("word")).cast("long").as("n_chars_w"))
        Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            explode(expr(Portable.wordsSpark)).as("word"))
          .groupBy("source", "lang", "word")
          .agg(count(lit(1)).as("cnt"))
          .join(wordTokens, "word")
          .groupBy("source", "lang")
          .agg(sum(col("cnt")).as("n_words"),
            sum(col("cnt") * col("n_tokens")).as("n_tokens"),
            sum(col("cnt") * col("n_chars_w")).as("n_chars"))
          .select(col("source"), col("lang"), col("n_words"),
            col("n_tokens"), col("n_chars"),
            expr("n_tokens * 10000 div n_words").as("fertility_bp"),
            expr("n_chars * 10000 div n_tokens")
              .as("chars_per_token_bp"))
          .orderBy("source", "lang")
    }
  }

  /** CHUNKED score calibration — e62's named mega-source escalation (the
    * q46/q47 discipline: identical output, skew-safe plan, the oracle IS
    * e62's SQL verbatim). e62 ranks each source inside ONE window
    * partition, so a source with 10⁹ docs is one task; here the rank is
    * decomposed as rn = cum_before(source, score_bp) + tie_rank, where
    * cum_before comes from a cumulative window over the (source,
    * score_bp) FREQUENCY table (bounded at #sources × 10001 rows — the
    * e35 discipline) and tie_rank is a row_number partitioned by
    * (source, score_bp), 10001× finer than e62's per-source partition:
    * the biggest task shrinks from |source| to the largest single-score
    * tie group. Per-source totals broadcast back (#sources rows).
    */
  private def e70CalibrationChunked = QueryDef.sql(
    "e70_calibration_chunked",
    s"""WITH sc AS (SELECT doc_id, source,
       |    len(list_filter(${Portable.wordsDuck}, w -> w IN ('the', 'a')))
       |      * 10000 // len(${Portable.wordsDuck}) AS score_bp
       |  FROM documents WHERE len(${Portable.wordsDuck}) > 0),
       |rk AS (SELECT doc_id, source, score_bp,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY score_bp, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n_src
       |  FROM sc)
       |SELECT doc_id, source, CAST(score_bp AS BIGINT) AS score_bp,
       |  CAST(CASE WHEN n_src = 1 THEN 10000
       |    ELSE (rn - 1) * 10000 // (n_src - 1) END AS BIGINT) AS pct_bp,
       |  CAST(CASE WHEN (CASE WHEN n_src = 1 THEN 10000
       |      ELSE (rn - 1) * 10000 // (n_src - 1) END) >= 5000
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val words = expr(Portable.wordsSpark)
    // ONE corpus tokenize pass: the scored frame is repartitioned by the
    // chunk key before any consumer, so the census branch and the rank
    // branch share a single exchange (the e53 count(doc_id) discipline —
    // without this the expensive word extraction runs once per branch),
    // and both the tie window and the cum join-back require exactly this
    // HashPartitioning, adding no further corpus shuffle.
    val sc = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(filter(words, w => w.isin("the", "a"))).cast("long")
          .as("n_stop"),
        size(words).cast("long").as("n_words"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("source"),
        expr("n_stop * 10000 div n_words").as("score_bp"))
      // semantically a no-op (n_words > 0 guarantees a score), but the
      // cum join-back infers isnotnull(score_bp) on ITS branch only —
      // stating it explicitly keeps both consumers' subtrees canonical
      // so they share the one exchange (the e53/e20 reuse rule)
      .filter(col("score_bp").isNotNull)
      .repartition(col("source"), col("score_bp"))
    val freq = sc.groupBy("source", "score_bp")
      .agg(count(col("doc_id")).as("cnt"))
    val wCum = Window.partitionBy("source").orderBy("score_bp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = freq.select(col("source"), col("score_bp"),
      coalesce(sum(col("cnt")).over(wCum), lit(0L)).as("cum_before"))
    val tot = freq.groupBy("source").agg(sum(col("cnt")).as("n_src"))
    val wTie = Window.partitionBy("source", "score_bp").orderBy("doc_id")
    val pct = when(col("n_src") === 1, lit(10000L))
      .otherwise(expr("(rn - 1) * 10000 div (n_src - 1)"))
    sc.join(broadcast(cum), Seq("source", "score_bp"))
      .join(broadcast(tot), "source")
      .withColumn("tie", row_number().over(wTie).cast("long"))
      .withColumn("rn", col("cum_before") + col("tie"))
      .select(col("doc_id"), col("source"), col("score_bp"),
        pct.as("pct_bp"),
        when(pct >= 5000, 1L).otherwise(0L).as("keep"))
  }

  /** CURRICULUM BINS — the pacing table a quality-curriculum trainer
    * consumes: documents are cut into global quality DECILES (stopword-
    * ratio score, e62/e70's score_bp) and each bin reports its doc and
    * word mass plus its score range — the schedule that says "epoch 1
    * draws from bins 7–9, epoch 3 opens bins 3+". Cut points are
    * VALUE-based discrete quantiles from the e35 rank math — exact
    * integer ranks over the score frequency table, not row-based ntile —
    * so ties land in one bin deterministically on both engines, and bins
    * can collapse when a score value spans a cut (count(bins) ≤ 10 is
    * semantics, not loss).
    *
    * Shape at 100 TB: one corpus pass builds the (score_bp → docs,
    * words) frequency table, bounded at 10 001 rows by the basis-point
    * codomain — every later stage (cumulative window, 9-cut frame cross,
    * bin aggregation) runs on that bounded frame, never the corpus. The
    * unpartitioned window and the two 1-row broadcasts ride
    * construction-bounded frames (named PlanLint allowances).
    */
  private def e76CurriculumBins = QueryDef.pinned(
    "e76_curriculum_bins",
    s"""WITH sc AS (SELECT doc_id,
       |    len(${Portable.wordsDuck}) AS n_words,
       |    len(list_filter(${Portable.wordsDuck},
       |      w -> w IN ('the', 'a'))) * 10000
       |      // len(${Portable.wordsDuck}) AS score_bp
       |  FROM documents WHERE len(${Portable.wordsDuck}) > 0),
       |freq AS (SELECT score_bp, count(*) AS cnt,
       |    CAST(sum(n_words) AS BIGINT) AS wsum
       |  FROM sc GROUP BY score_bp),
       |cum AS (SELECT score_bp, cnt, wsum,
       |    CAST(sum(cnt) OVER (ORDER BY score_bp
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM freq),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM freq),
       |cuts AS (SELECT
       |    ${(1 to 9).map(p =>
             s"min(CASE WHEN cum >= ($p*n + 9) // 10 THEN score_bp END)" +
               s" AS c$p").mkString(",\n       |    ")}
       |  FROM cum CROSS JOIN tot)
       |SELECT ${(1 to 9).map(p =>
           s"CASE WHEN score_bp > c$p THEN 1 ELSE 0 END")
           .mkString(" +\n       |    ")} AS bin,
       |  CAST(sum(cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(wsum) AS BIGINT) AS n_words,
       |  min(score_bp) AS lo_score_bp, max(score_bp) AS hi_score_bp
       |FROM cum CROSS JOIN cuts
       |GROUP BY bin ORDER BY bin""".stripMargin) { (p, s, dir) =>
    val words = expr(Portable.wordsSpark)
    val sc = Tables.documents(s, dir)
      .where(size(words) > 0)
      .select(
        size(words).cast("long").as("n_words"),
        expr(s"size(filter(${Portable.wordsSpark}," +
          " w -> w IN ('the', 'a'))) * 10000L" +
          s" div size(${Portable.wordsSpark})").as("score_bp"))
    // cumulative prefix over the score FREQUENCY table — bounded at
    // 10 001 rows by the basis-point codomain, never the corpus; the
    // two-level bucketed prefix keeps it off a single task. The table
    // feeds both prefix branches, the totals and the binning, so it is
    // checkpointed once.
    val freq = p.checkpoint(sc.groupBy("score_bp")
      .agg(count(lit(1)).as("cnt"), sum(col("n_words")).as("wsum")))
    val cum = graft.operators.BoundedPrefix.cumsum(
      freq, "score_bp", expr("score_bp div 64"), Seq("cnt" -> "cum"))
    val tot = freq.agg(sum(col("cnt")).as("n"))
    val cutCols = (1 to 9).map(p =>
      min(when(col("cum") >= expr(s"($p*n + 9) div 10"),
        col("score_bp"))).as(s"c$p"))
    val cuts = cum.crossJoin(broadcast(tot))
      .agg(cutCols.head, cutCols.tail: _*)
    val bin = (1 to 9).map(p =>
      when(col("score_bp") > col(s"c$p"), 1).otherwise(0))
      .reduce(_ + _)
    cum.crossJoin(broadcast(cuts))
      .groupBy(bin.as("bin"))
      .agg(sum(col("cnt")).as("n_docs"), sum(col("wsum")).as("n_words"),
        min(col("score_bp")).as("lo_score_bp"),
        max(col("score_bp")).as("hi_score_bp"))
      .orderBy("bin")
  }

  /** SOURCE-DRIFT matrix: pairwise total-variation distance between the
    * per-source unigram distributions over e53's hashed feature space
    * (word hash mod 4096) — the distribution-shift monitor a mixture
    * pipeline needs before trusting per-source quality thresholds or
    * mixture weights derived on last month's crawl. TV distance is
    * chosen over KL/JS deliberately: with rational bucket proportions
    * (cnt_f/N_s), ½·Σ|p−q| has the exact integer form
    * Σ|cnt_a·N_b − cnt_b·N_a| · 5000 div (N_a·N_b) — no cross-engine
    * libm log and no float fold anywhere (the e53/e44 discipline).
    *
    * Shape at 100 TB: ONE corpus scan builds the (source, bucket)
    * census; everything after runs on construction-bounded frames
    * (#sources × 4096 grid, #source-pairs output). The grid completes
    * each source's census with zero-count buckets via a BNLJ whose
    * build side is the #sources-row totals frame. Integer headroom:
    * the numerator is ≤ 2·N_a·N_b and the bp scaling multiplies by
    * 5·10³, so per-source token counts up to ~10⁹ fit int64 exactly;
    * beyond that, downscale the census to per-million proportions
    * first (same discipline as the a804a06 revenue-sum headroom note).
    */
  private def e69SourceDrift = {
    val buckets = 4096L
    QueryDef.sql(
      "e69_source_drift",
      s"""WITH w AS (SELECT doc_id, source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |ex AS (SELECT source, unnest(wh) % $buckets AS f FROM w
         |  WHERE len(wh) > 0),
         |cen AS (SELECT source, f, count(*) AS cnt FROM ex
         |  GROUP BY source, f),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM cen
         |  GROUP BY source),
         |fs AS (SELECT DISTINCT f FROM cen),
         |grid AS (SELECT t.source, fs.f, t.n, coalesce(c.cnt, 0) AS cnt
         |  FROM tot t CROSS JOIN fs
         |  LEFT JOIN cen c ON c.source = t.source AND c.f = fs.f),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |    a.n AS n_a, b.n AS n_b,
         |    CAST(sum(abs(a.cnt * b.n - b.cnt * a.n)) AS BIGINT) AS numer
         |  FROM grid a JOIN grid b ON a.f = b.f AND a.source < b.source
         |  GROUP BY 1, 2, 3, 4)
         |SELECT src_a, src_b, n_a, n_b,
         |  CAST(numer * 5000 // (n_a * n_b) AS BIGINT) AS tv_bp
         |FROM pairs ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      val ex = Tables.documents(s, dir)
        .select(col("source"), explode(F.word_hashes(col("text"))).as("h"))
        .select(col("source"), pmod(col("h"), lit(buckets)).as("f"))
      val cen = ex.groupBy("source", "f").agg(count(lit(1)).as("cnt"))
      val tot = cen.groupBy("source").agg(sum(col("cnt")).as("n"))
      val fs = cen.select("f").distinct()
      val grid = fs.crossJoin(broadcast(tot))
        .join(cen, Seq("source", "f"), "left")
        .select(col("source"), col("f"), col("n"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      grid.as("a")
        .join(grid.as("b"),
          col("a.f") === col("b.f") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .agg(sum(abs(col("a.cnt") * col("b.n") - col("b.cnt") * col("a.n")))
          .as("numer"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          expr("numer * 5000L div (n_a * n_b)").as("tv_bp"))
        .orderBy("src_a", "src_b")
    }
  }

  /** MEMORIZATION-RISK audit: the most-repeated LONG n-grams (8-word
    * rolling-hash grams) corpus-wide, with total occurrences, distinct
    * documents, and a representative doc. Long verbatim repeats are the
    * spans a model memorizes and regurgitates; unlike e27's bigram
    * counts (vocabulary statistics) or e80's winnowing pairs (document
    * overlap), this ranks the offending PHRASES themselves — the report
    * that drives "drop or down-weight sequences repeated more than k
    * times" policies from the deduplication literature.
    *
    * Shape at 100 TB: one scan, positional 8-gram hashes as per-row
    * expression work (a left fold of word hashes mod P — no string
    * shuffles), one hash-keyed aggregation with map-side combine; the
    * distinct-doc count rides the same exchange (two-level aggregate,
    * gram then gram×doc). Top-20 is TakeOrderedAndProject — per-partition
    * heads, never a global sort of the gram table. The exact gram table
    * is corpus-sized by design (this is the audit); the streaming twin
    * for continuous monitoring is e29's bounded Misra-Gries sketch.
    */
  private def e83MemorizationNgrams = {
    val k = 8 // gram length in words — long enough to be "verbatim"
    val gramDuck = (1 until k).foldLeft("wh[i]")((acc, j) =>
      s"(($acc * 31 + wh[i + $j]) % $P)")
    val gramSpark = (1 until k).foldLeft("element_at(wh, i)")((acc, j) =>
      s"(($acc * 31 + element_at(wh, i + $j)) % $P)")
    QueryDef.sql(
      "e83_memorization_ngrams",
      s"""WITH w AS (SELECT doc_id, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(wh) - ${k - 2}), i -> $gramDuck)) AS gram_key
         |  FROM w WHERE len(wh) >= $k)
         |SELECT gram_key, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(min(doc_id) AS BIGINT) AS example_doc
         |FROM g GROUP BY gram_key HAVING count(*) >= 2
         |ORDER BY n DESC, gram_key LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), F.word_hashes(col("text")).as("wh"))
        .filter(size(col("wh")) >= k)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(wh) - ${k - 1}), i -> $gramSpark)"))
          .as("gram_key"))
        .groupBy("gram_key")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("example_doc"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("gram_key"))
        .limit(20)
    }
  }

  /** BOILERPLATE-PREFIX detection: the top-3 most-shared leading
    * 3-grams per source, with the share of that source's documents
    * opening with each. A crawl source whose pages all start with the
    * same banner/header is the classic boilerplate-stripping target;
    * unlike e30 (repeated spans anywhere) this is POSITIONAL — only the
    * document head counts, which is what makes it a header signal
    * rather than a quotation signal. share_bp over the source's
    * ≥3-word documents is the strip-threshold input.
    *
    * Shape at 100 TB: prefix hash is per-row fold math on the scan; one
    * (source, prefix) aggregation with map-side combine; totals are a
    * #sources-row broadcast; the per-source top-3 compiles to
    * WindowGroupLimit (map-side group heads, no full sort of the prefix
    * table). Output is 3 × #sources rows by construction.
    */
  private def e84BoilerplatePrefix = QueryDef.sql(
    "e84_boilerplate_prefix",
    s"""WITH w AS (SELECT source, ${Portable.wordHashesDuck} AS wh
       |  FROM documents),
       |p AS (SELECT source,
       |    (((wh[1]*31 + wh[2]) % $P)*31 + wh[3]) % $P AS prefix_hash
       |  FROM w WHERE len(wh) >= 3),
       |c AS (SELECT source, prefix_hash, count(*) AS n_docs
       |  FROM p GROUP BY 1, 2),
       |t AS (SELECT source, count(*) AS n_src FROM p GROUP BY 1),
       |r AS (SELECT c.source, c.prefix_hash, c.n_docs, t.n_src,
       |    row_number() OVER (PARTITION BY c.source
       |      ORDER BY c.n_docs DESC, c.prefix_hash) AS rank
       |  FROM c JOIN t USING (source))
       |SELECT source, CAST(rank AS BIGINT) AS rank, prefix_hash,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_docs * 10000 // n_src AS BIGINT) AS share_bp
       |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin) {
    (s, dir) =>
      val p = Tables.documents(s, dir)
        .select(col("source"), F.word_hashes(col("text")).as("wh"))
        .filter(size(col("wh")) >= 3)
        .select(col("source"), expr(
          s"(((element_at(wh, 1)*31 + element_at(wh, 2)) % $P)*31" +
            s" + element_at(wh, 3)) % $P").as("prefix_hash"))
      val c = p.groupBy("source", "prefix_hash")
        .agg(count(lit(1)).as("n_docs"))
      val t = p.groupBy("source").agg(count(lit(1)).as("n_src"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_docs").desc, col("prefix_hash"))
      c.join(broadcast(t), "source")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("prefix_hash"),
          col("n_docs"),
          expr("n_docs * 10000L div n_src").as("share_bp"))
        .orderBy("source", "rank")
  }

  /** CHARACTER-SKEW quality gate: per-document letter-histogram
    * concentration as pure integer math — the gibberish / char-spam
    * signal e14's word-level ratios cannot see (a page of "aaaa…" has a
    * perfectly normal length). Per doc over lowercased text:
    * `top_bp` = share of the single most frequent letter and
    * `simpson_bp` = collision mass Σc_i² / n² (the Rényi-2 entropy
    * surrogate: ~650 bp for English-like text, 10000 bp for one-letter
    * spam) — both as basis points via integer div, so no float logs and
    * the scores are bit-identical across engines.
    *
    * Shape at 100 TB: the 26-way histogram is one replace/length chain
    * per row on the scan — embarrassingly parallel, no shuffle at all
    * (the output IS per-doc scores); downstream gates consume the bp
    * columns as pushable predicates.
    */
  private def e85CharSkew = {
    val letters = ('a' to 'z').toSeq
    def countsOf(rep: Char => String) =
      letters.map(ch => s"CAST(length(t) - length(${rep(ch)}) AS BIGINT)")
    val csSpark = countsOf(ch => s"replace(t, '$ch', '')")
      .mkString("array(", ", ", ")")
    val csDuck = countsOf(ch => s"replace(t, '$ch', '')")
      .mkString("[", ", ", "]")
    QueryDef.sql(
      "e85_char_skew",
      s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         |h AS (SELECT doc_id, $csDuck AS cs FROM d),
         |m AS (SELECT doc_id, list_sum(cs) AS n, list_max(cs) AS mx,
         |    list_sum(list_transform(cs, x -> x * x)) AS sq
         |  FROM h)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_letters,
         |  CAST(mx * 10000 // n AS BIGINT) AS top_bp,
         |  CAST(sq * 10000 // (n * n) AS BIGINT) AS simpson_bp
         |FROM m WHERE n > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .select(col("doc_id"), expr(csSpark).as("cs"))
        .select(col("doc_id"),
          aggregate(col("cs"), lit(0L), (a, x) => a + x).as("n"),
          array_max(col("cs")).as("mx"),
          aggregate(col("cs"), lit(0L), (a, x) => a + x * x).as("sq"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("n").as("n_letters"),
          expr("mx * 10000L div n").as("top_bp"),
          expr("sq * 10000L div (n * n)").as("simpson_bp"))
    }
  }

  /** Shard-assignment SCHEME comparison under resharding — the design
    * decision e73/e77 audit downstream of: when the shard count grows
    * N → N+1, how much of the corpus MOVES under modulo hashing vs
    * rendezvous (highest-random-weight, Thaler–Ravishankar) hashing?
    * Mod reassigns every doc whose hash changes residue — N/(N+1) of
    * the corpus in expectation, a near-total reshuffle of shard
    * storage and every downstream cache; HRW assigns each doc to
    * argmax_s weight(doc, s), so growing to N+1 moves exactly the
    * docs the NEW shard wins — 1/(N+1) in expectation, the provable
    * minimum for a balanced stateless scheme. The query computes both
    * assignments at N = 8 and N = 9 and reports measured moved shares
    * side by side — the one-table argument for rendezvous layout keys
    * at fleet scale, where a reshard that touches 89 % of 100 TB is
    * an outage and one that touches 11 % is a rebalance.
    *
    * All draws are the portable cube mix (per-shard tags), assignment
    * ties break to the LOWEST shard id (first-position semantics in
    * both engines), and every share is integer bp. Scale (100 TB):
    * pure per-row projection (2·(N + N+1) draws per doc, codegen'd)
    * plus one 2-row aggregation — no shuffle at all until the final
    * 2-row rollup; the scan never reads `text`.
    */
  private def e141RendezvousReshard = {
    val seed = 42L
    val n0 = 8
    def drawsDuck(n: Int): String =
      (0 until n).map(s0 =>
        MockData.hashLongDuck(seed, s"hrw$s0", "doc_id"))
        .mkString("[", ", ", "]")
    QueryDef.sql(
      "e141_rendezvous_reshard",
      s"""WITH a AS (SELECT doc_id,
         |    ${MockData.hashLongDuck(seed, "shardmod", "doc_id")} AS hm,
         |    ${drawsDuck(n0)} AS w8,
         |    ${drawsDuck(n0 + 1)} AS w9
         |  FROM documents),
         |asg AS (SELECT doc_id,
         |    hm % $n0 AS mod_a, hm % ${n0 + 1} AS mod_b,
         |    list_position(w8, list_max(w8)) - 1 AS hrw_a,
         |    list_position(w9, list_max(w9)) - 1 AS hrw_b
         |  FROM a),
         |m AS (SELECT 'mod' AS scheme, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_moved
         |  FROM asg
         |  UNION ALL
         |  SELECT 'rendezvous', CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN hrw_a <> hrw_b THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |  FROM asg)
         |SELECT scheme, n_docs, n_moved,
         |  n_moved * 10000 // n_docs AS moved_bp
         |FROM m ORDER BY scheme""".stripMargin) { (s, dir) =>
      def draws(n: Int) = array((0 until n).map(s0 =>
        MockData.hashLong(seed, s"hrw$s0", col("doc_id"))): _*)
      val asg = Tables.documents(s, dir)
        .select(col("doc_id"),
          MockData.hashLong(seed, "shardmod", col("doc_id")).as("hm"),
          draws(n0).as("w8"), draws(n0 + 1).as("w9"))
        .select(col("doc_id"),
          (col("hm") % n0).as("mod_a"), (col("hm") % (n0 + 1)).as("mod_b"),
          (array_position(col("w8"), array_max(col("w8"))) - 1)
            .as("hrw_a"),
          (array_position(col("w9"), array_max(col("w9"))) - 1)
            .as("hrw_b"))
      val m = asg.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("mod_a") =!= col("mod_b"), 1L).otherwise(0L))
          .as("n_moved"))
        .select(lit("mod").as("scheme"), col("n_docs"), col("n_moved"))
        .unionByName(asg.agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("hrw_a") =!= col("hrw_b"), 1L).otherwise(0L))
              .as("n_moved"))
          .select(lit("rendezvous").as("scheme"), col("n_docs"),
            col("n_moved")))
      m.select(col("scheme"), col("n_docs"), col("n_moved"),
          expr("n_moved * 10000 div n_docs").as("moved_bp"))
        .orderBy(col("scheme"))
    }
  }

  /** Log₂-bucket histogram quantiles — the MERGEABLE member of the
    * quantile family: e35 is exact (right for one grouping, but exact
    * quantiles do not compose — per-shard p99s cannot be combined into
    * a corpus p99), e63 is hash-sampled (bounded rows, still a corpus
    * re-scan per grouping); a log-bucket histogram is 42 longs per
    * group (bucket 0 for x ≤ 0 plus bit lengths 1..41) that merge by
    * vector ADDITION, so per-shard histograms roll
    * up to ANY grouping with no re-scan — the quantile twin of e137's
    * register rollup, and the γ=2 case of the relative-error sketch
    * family (DDSketch, Masson et al. VLDB'19; HdrHistogram): the
    * estimate (bucket upper bound 2^b − 1) is one-sided with
    * est/true < 2 GUARANTEED, not probabilistic. Finer γ shrinks the
    * error at proportionally more buckets; the corpus-health question
    * ("did p99 doc length double between crawls?") lives exactly at
    * this resolution. Measured at sf0.01: every err_bp is inside the
    * guarantee (< 10000), p50 errors spanning 39–9960 bp across
    * sources — the spread IS γ=2's resolution, the argument for finer
    * buckets where the readout must be tighter.
    *
    * Everything is integer: the bucket is a bit-length CASE ladder
    * (never float log2 — its rounding at 2^k boundaries is the classic
    * cross-engine trap), rank math is e35's ceil-division, err_bp the
    * one-sided (est − exact)·10⁴ // exact. Counters ADD, so replay
    * inflates them (the count-min caveat, opposite of HLL's max-merge
    * idempotence) — the honest delivery contract is stated where it
    * belongs.
    *
    * Scale (100 TB): ONE corpus aggregation to (source, bucket) —
    * ≤ 41 rows per source, map-side combinable; the cumulative window
    * and rank selection run on that bounded table (the e35 shape one
    * level coarser). The exact columns are the calibration harness
    * production drops.
    */
  private def e150LogHistQuantiles = {
    // bit-length ladder: 0 for x<=0, else b with 2^(b-1) <= x < 2^b
    val ladder = "CASE WHEN n_chars <= 0 THEN 0 " +
      (1 to 40).map(b =>
        s"WHEN n_chars < ${1L << b} THEN $b").mkString(" ") +
      " ELSE 41 END"
    QueryDef.sql(
      "e150_log_hist_quantiles",
      s"""WITH d AS (SELECT source, $ladder AS b FROM documents),
         |hist AS (SELECT source, b, count(*) AS cnt FROM d
         |  GROUP BY source, b),
         |cumh AS (SELECT source, b,
         |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY b
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM hist),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM hist
         |  GROUP BY source),
         |est AS (SELECT c.source, t.n,
         |    (CAST(1 AS BIGINT) << min(CASE WHEN c.cum >= (t.n + 1) // 2
         |      THEN c.b END)) - 1 AS p50_est,
         |    (CAST(1 AS BIGINT) << min(CASE WHEN c.cum >= (9*t.n + 9) // 10
         |      THEN c.b END)) - 1 AS p90_est,
         |    (CAST(1 AS BIGINT) << min(CASE WHEN c.cum >= (99*t.n + 99) // 100
         |      THEN c.b END)) - 1 AS p99_est
         |  FROM cumh c JOIN tot t USING (source)
         |  GROUP BY c.source, t.n),
         |freq AS (SELECT source, n_chars, count(*) AS cnt
         |  FROM documents GROUP BY source, n_chars),
         |cum AS (SELECT source, n_chars,
         |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM freq),
         |ex AS (SELECT c.source,
         |    min(CASE WHEN c.cum >= (t.n + 1) // 2 THEN c.n_chars END)
         |      AS p50,
         |    min(CASE WHEN c.cum >= (9*t.n + 9) // 10 THEN c.n_chars END)
         |      AS p90,
         |    min(CASE WHEN c.cum >= (99*t.n + 99) // 100 THEN c.n_chars END)
         |      AS p99
         |  FROM cum c JOIN (SELECT source, n FROM est) t USING (source)
         |  GROUP BY c.source)
         |SELECT e.source, CAST(e.n AS BIGINT) AS n_docs,
         |  CAST(x.p50 AS BIGINT) AS p50, e.p50_est,
         |  (e.p50_est - x.p50) * 10000 // x.p50 AS p50_err_bp,
         |  CAST(x.p90 AS BIGINT) AS p90, e.p90_est,
         |  (e.p90_est - x.p90) * 10000 // x.p90 AS p90_err_bp,
         |  CAST(x.p99 AS BIGINT) AS p99, e.p99_est,
         |  (e.p99_est - x.p99) * 10000 // x.p99 AS p99_err_bp
         |FROM est e JOIN ex x ON x.source = e.source
         |ORDER BY e.source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val hist = docs.select(col("source"), expr(ladder).as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("cnt"))
      val cumh = hist.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("source"))
          .orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hist.groupBy("source").agg(sum(col("cnt")).as("n"))
      def bucketAt(rank: String) =
        expr(s"(CAST(1 AS BIGINT) << min(CASE WHEN cum >= $rank " +
          "THEN b END)) - 1")
      val est = cumh.join(tot, "source")
        .groupBy(col("source"), col("n"))
        .agg(bucketAt("(n + 1) div 2").as("p50_est"),
          bucketAt("(9*n + 9) div 10").as("p90_est"),
          bucketAt("(99*n + 99) div 100").as("p99_est"))
      val freq = docs.groupBy("source", "n_chars")
        .agg(count(lit(1)).as("cnt"))
      val cum = freq.withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      def atRank(rank: String) =
        min(when(expr(s"cum >= $rank"), col("n_chars")))
      val ex = cum.join(tot, "source")
        .groupBy("source")
        .agg(atRank("(n + 1) div 2").as("p50"),
          atRank("(9*n + 9) div 10").as("p90"),
          atRank("(99*n + 99) div 100").as("p99"))
      est.join(ex, "source")
        .select(col("source"), col("n").as("n_docs"),
          col("p50"), col("p50_est"),
          expr("(p50_est - p50) * 10000 div p50").as("p50_err_bp"),
          col("p90"), col("p90_est"),
          expr("(p90_est - p90) * 10000 div p90").as("p90_err_bp"),
          col("p99"), col("p99_est"),
          expr("(p99_est - p99) * 10000 div p99").as("p99_err_bp"))
        .orderBy(col("source"))
    }
  }
}
