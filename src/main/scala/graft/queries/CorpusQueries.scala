package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{F, Portable}
import graft.functions.sketches
import graft.sources.Tables

/** Corpus indexing & layout operators: inverted-index posting
  * lists, per-language robust outlier flagging, per-document
  * distinctive-term extraction (integer tf-idf ranking), and Z-order
  * tiling for multi-dimensional data layout.
  *
  * Scale design (100 TB):
  *  - e37 builds posting lists with [[sketches.MinKAgg]] — a bounded
  *    native aggregate (≤ k longs per partial buffer, map-side combined),
  *    so a stopword's corpus-sized posting list never materializes; df /
  *    tf totals ride the same single aggregation pass.
  *  - e38 is one vocabulary-bounded stats aggregate broadcast back
  *    against the corpus — no window over data-bearing partitions. The
  *    z² test is exact integer arithmetic in DECIMAL(38,0)/HUGEINT
  *    ((n·x−S)² vs (nQ−S²)), immune to fold-order float drift and to
  *    BIGINT overflow at fleet-scale moment sums.
  *  - e39 joins the per-(term,doc) tf table with the vocabulary-bounded
  *    df table on term, then takes per-doc top-3 via row_number ≤ k,
  *    which Spark 4 rewrites to a partial-mode WindowGroupLimit
  *    (map-side top-k before the exchange). Scoring is integer
  *    (tf·10⁶ div df) — no float ranking ties to diverge on.
  *  - e40 computes a codegen'd Morton interleave
  *    ([[graft.functions.expressions.Morton2]]) of two bucketed
  *    dimensions; sorting/range-partitioning by that z-value clusters
  *    files so 1-D min/max file stats prune BOTH dimensions. The query
  *    proves the clustering property the layout relies on: per-tile
  *    bounding boxes are tight (16×16) on both axes.
  */
object CorpusQueries {

  val all: Seq[QueryDef] = Seq(
    e37InvertedIndex, e38ZscoreOutliers, e39DistinctiveTerms, e40ZorderTiles,
    e42FuzzyMatch, e43SourceQuota, e59Bm25, e60KmvDistinct)

  /** Per-(term, doc) term frequencies — the shared first aggregation of
    * e37/e39 (each query runs its own instance; they are independent
    * driver entries).
    */
  private def termDocTf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(Portable.wordsSpark)).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  // def, not val: `all` above initializes first and would read a null val
  // (the TrainingQueries init-order rule)
  private def termDocTfDuck =
    s"""w AS (SELECT doc_id, unnest(${Portable.wordsDuck}) AS term
       |  FROM documents),
       |td AS (SELECT term, doc_id, count(*) AS tf FROM w
       |  GROUP BY term, doc_id)""".stripMargin

  /** Inverted index (search-side of the corpus): per term its document
    * frequency, total term frequency, and the first `PostK` doc_ids of
    * the posting list as a CSV string (a string, not an array, so the
    * driver's repr-compare is engine-neutral). Single aggregation pass;
    * the posting list is truncated INSIDE the aggregate (bounded min-k),
    * not collected then sliced.
    */
  private def e37InvertedIndex = {
    val postK = 8
    QueryDef.sql(
      "e37_inverted_index",
      s"""WITH $termDocTfDuck
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
         |  array_to_string(list_sort(list(doc_id))[1:$postK], ',')
         |    AS postings
         |FROM td GROUP BY term HAVING count(*) >= 2
         |ORDER BY term""".stripMargin) { (s, dir) =>
      termDocTf(s, dir)
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("tf_total"),
          array_join(sketches.min_k(col("doc_id"), postK)
            .cast("array<string>"), ",").as("postings"))
        .filter(col("df") >= 2)
        .orderBy("term")
    }
  }

  /** Per-language length outliers, |z| > 1.5 on population moments —
    * flagging abnormally short/long documents against their language's
    * distribution (a curation screen that catches boilerplate and
    * truncation). All-integer test: 4·(n·x − S)² > 9·(n·Q − S²) is
    * z² > 2.25 with σ² = (nQ − S²)/n², computed in DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB) so fleet-scale moment sums can't
    * overflow and no float comparison sits on a boundary.
    */
  private def e38ZscoreOutliers = QueryDef.sql(
    "e38_zscore_outliers",
    """WITH st AS (SELECT lang, CAST(count(*) AS HUGEINT) AS nl,
      |    CAST(sum(n_chars) AS HUGEINT) AS sl,
      |    CAST(sum(n_chars*n_chars) AS HUGEINT) AS ql
      |  FROM documents GROUP BY lang)
      |SELECT doc_id, lang, n_chars
      |FROM documents JOIN st USING (lang)
      |WHERE 4*(nl*n_chars - sl)*(nl*n_chars - sl) > 9*(nl*ql - sl*sl)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val d = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
    val st = d.groupBy("lang").agg(
      dec(count(lit(1))).as("nl"),
      sum(dec(col("n_chars"))).as("sl"),
      sum(dec(col("n_chars") * col("n_chars"))).as("ql"))
    val dev = col("nl") * dec(col("n_chars")) - col("sl")
    val varN = col("nl") * col("ql") - col("sl") * col("sl")
    d.join(broadcast(st), "lang")
      .where(lit(4) * dev * dev > lit(9) * varN)
      .select("doc_id", "lang", "n_chars")
  }

  /** Distinctive terms per document — top-3 by integer tf-idf proxy
    * score = tf·10⁶ div df (high in-doc frequency, low corpus
    * frequency), tie-broken by term. The keyword-extraction stage of a
    * curation pipeline (topic tagging, index keys), float-free so the
    * ranking is bit-portable.
    */
  private def e39DistinctiveTerms = QueryDef.sql(
    "e39_distinctive_terms",
    s"""WITH $termDocTfDuck,
       |dfx AS (SELECT term, count(*) AS df FROM td GROUP BY term),
       |sc AS (SELECT doc_id, td.term, tf, df,
       |    CAST((tf * 1000000) // df AS BIGINT) AS score
       |  FROM td JOIN dfx USING (term))
       |SELECT doc_id, term, tf, df, score FROM sc
       |QUALIFY row_number() OVER (PARTITION BY doc_id
       |  ORDER BY score DESC, term) <= 3
       |ORDER BY doc_id, score DESC, term""".stripMargin) { (s, dir) =>
    // td feeds two consumers (the df aggregate and the join probe);
    // repartition(term) lets both reuse ONE exchange so the corpus is
    // tokenized once. Reuse needs canonically identical subtrees, so:
    // the isNotNull filters pre-empt the join-inferred non-null pushdown
    // (breaker 2 of the ReuseExchange rules), and the df count references
    // BOTH tf and doc_id via a vacuously-true guard (tf >= 1 always) so
    // column pruning can't specialize the aggregate branch (breaker 1).
    val td = termDocTf(s, dir)
      .filter(col("term").isNotNull && col("doc_id").isNotNull)
      .repartition(col("term"))
    val dfx = td.groupBy("term")
      .agg(count(when(col("tf") > 0, col("doc_id"))).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    td.join(dfx, "term")
      .withColumn("score", expr("(tf * 1000000L) div df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "term", "tf", "df", "score")
  }

  /** Per-source quota (crawl-mix curation): keep the best `QuotaK` docs
    * per source by an integer quality score (words up, punctuation
    * down), so no single domain dominates the training mix. The
    * row_number ≤ k filter compiles to a partial-mode WindowGroupLimit —
    * each map task keeps at most k rows per source BEFORE the exchange,
    * so a mega-source (the crawl reality) never concentrates into one
    * window task. Integer scoring, doc_id tie-break: rank order is
    * bit-portable.
    */
  private def e43SourceQuota = {
    val quotaK = 10
    QueryDef.sql(
      "e43_source_quota",
      s"""WITH sc AS (SELECT source, doc_id,
         |    100 * len(${Portable.wordsDuck})
         |      - 500 * len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
         |      AS score
         |  FROM documents)
         |SELECT source, doc_id, CAST(score AS BIGINT) AS score
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY score DESC, doc_id) <= $quotaK
         |ORDER BY source, score DESC, doc_id""".stripMargin) { (s, dir) =>
      val score = (lit(100L) * size(expr(Portable.wordsSpark)) -
        lit(500L) * size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")))
        .cast("long")
      val w = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), score.as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= quotaK)
        .select("source", "doc_id", "score")
        .orderBy(col("source"), col("score").desc, col("doc_id"))
    }
  }

  /** Z-order tiling of events over (user bucket, value bucket): Morton-
    * interleave the two 8-bit dimensions ([[graft.functions.F.morton2]],
    * codegen'd) and aggregate per 256-cell tile (= 16×16 spatial block).
    * The emitted per-tile min/max on BOTH axes are the file-skipping
    * stats a z-ordered layout yields: any 2-D predicate prunes on 1-D
    * z-ranges. The companion write path is
    * `repartitionByRange(z).sortWithinPartitions(z)` (see
    * [[graft.sources.Layout]]); this query proves the bounding-box
    * property the layout's pruning relies on.
    */
  /** Fuzzy entity matching (blocking + count algebra): find part-name
    * variants that differ by a near-miss attribute word — same noun
    * (the BLOCKING key), adjectives within Levenshtein ≤ 2 — and the
    * number of part PAIRS each variant family contains.
    *
    * The scale trick: never pair corpus rows. Aggregate to (noun, adj)
    * counts first (vocabulary-bounded — one corpus pass), run the
    * quadratic fuzzy join on THAT tiny table, and recover pair counts by
    * multiplying group sizes (cnt_a·cnt_b). A row-level fuzzy self-join
    * would be quadratic in block population (≥ 2M pairs already at
    * sf0.1); this is quadratic only in distinct names per block, and the
    * output is constant-size in corpus growth.
    */
  private def e42FuzzyMatch = QueryDef.sql(
    "e42_fuzzy_match",
    """WITH p AS (SELECT string_split(p_name, ' ')[1] AS adj,
      |    string_split(p_name, ' ')[2] AS noun FROM part),
      |g AS (SELECT noun, adj, count(*) AS cnt FROM p GROUP BY noun, adj)
      |SELECT a.noun AS noun, a.adj AS adj_a, b.adj AS adj_b,
      |  levenshtein(a.adj, b.adj) AS dist,
      |  CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
      |FROM g a JOIN g b ON a.noun = b.noun AND a.adj < b.adj
      |WHERE levenshtein(a.adj, b.adj) <= 2
      |ORDER BY noun, adj_a, adj_b""".stripMargin) { (s, dir) =>
    val g = Tables.part(s, dir)
      .select(split(col("p_name"), " ").getItem(0).as("adj"),
        split(col("p_name"), " ").getItem(1).as("noun"))
      .groupBy("noun", "adj").agg(count(lit(1)).as("cnt"))
    g.as("a").join(g.as("b"),
        col("a.noun") === col("b.noun") && col("a.adj") < col("b.adj") &&
          levenshtein(col("a.adj"), col("b.adj")) <= 2)
      .select(col("a.noun").as("noun"), col("a.adj").as("adj_a"),
        col("b.adj").as("adj_b"),
        levenshtein(col("a.adj"), col("b.adj")).cast("long").as("dist"),
        (col("a.cnt") * col("b.cnt")).as("n_pairs"))
      .orderBy("noun", "adj_a", "adj_b")
  }

  /** BM25 ranked retrieval (the search side of a corpus index): top-20
    * documents for a fixed 3-term query, scored with the BM25 saturation
    * term (k1 = 1.2, b = 0.75) and a log-free RATIONAL Robertson idf
    * `(N − df + ½)/(df + ½)` — same idf ordering as the log form (log is
    * monotone), kept rational so the whole score is integer arithmetic
    * at fixed scales (idf ×10⁶ via the ×2 half-trick, dl/avgdl and the
    * saturation term ×10³) and ranks bit-identically in any engine.
    * Overflow headroom: idf6 ≤ 2N·10⁶/3 and the saturation factor is
    * ≤ 2200 by construction (tf·2200·10³ / (tf·10³) at dl→0), so a
    * 3-term score stays < 2^62 up to N = 10⁹ documents.
    *
    * Scale shape: the df/idf frame is |query|-rows (broadcast), postings
    * are FILTERED to query terms before any join (the selective scan),
    * per-doc length joins on doc_id, the corpus-wide (N, T) constants
    * ride a one-row broadcast (the e22 pattern), and the final top-20 is
    * a TakeOrdered — no window, no full sort.
    */
  private def e59Bm25 = {
    val qTerms = Seq("spark", "stream", "vector")
    val qIn = qTerms.map(t => s"'$t'").mkString(", ")
    QueryDef.sql(
      "e59_bm25",
      s"""WITH $termDocTfDuck,
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM td GROUP BY doc_id),
         |tot AS (SELECT count(*) AS n_docs, sum(dl) AS n_terms FROM dl),
         |dfq AS (SELECT term, count(*) AS df FROM td
         |  WHERE term IN ($qIn) GROUP BY term),
         |sc AS (SELECT td.doc_id, dl.dl, td.tf,
         |    ((2*n_docs - 2*df + 1) * 1000000) // (2*df + 1) AS idf6,
         |    (dl.dl * 1000 * n_docs) // n_terms AS dlnorm3
         |  FROM td JOIN dfq USING (term)
         |  JOIN dl ON dl.doc_id = td.doc_id CROSS JOIN tot),
         |co AS (SELECT doc_id, dl,
         |    idf6 * ((tf * 2200 * 1000) // (tf*1000 +
         |      (1200 * (250 + (750 * dlnorm3) // 1000)) // 1000)) AS contrib
         |  FROM sc)
         |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
         |  CAST(sum(contrib) AS BIGINT) AS score
         |FROM co GROUP BY doc_id, dl
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val td = termDocTf(s, dir)
      val dl = td.groupBy("doc_id").agg(sum("tf").as("dl"))
      val tot = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_terms"))
      val dfq = td.filter(col("term").isin(qTerms: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
      td.filter(col("term").isin(qTerms: _*))
        .join(broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(tot)
        .withColumn("idf6",
          expr("((2*n_docs - 2*df + 1) * 1000000) div (2*df + 1)"))
        .withColumn("dlnorm3", expr("(dl * 1000 * n_docs) div n_terms"))
        .withColumn("contrib",
          expr("idf6 * ((tf * 2200 * 1000) div (tf*1000 + " +
            "(1200 * (250 + (750 * dlnorm3) div 1000)) div 1000))"))
        .groupBy("doc_id", "dl").agg(sum("contrib").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
        .select("doc_id", "dl", "score")
    }
  }

  /** KMV distinct-count sketch, calibrated against the exact answer:
    * per-source distinct shingle cardinality estimated from the k = 64
    * smallest distinct shingle hashes ([[sketches.KmvAgg]], a bounded
    * mergeable summary) next to the exact `count(DISTINCT …)`, with the
    * error in basis points. The estimator is `(k−1)·P div h_k` (hashes
    * uniform on [0, P)), pure integer arithmetic replayed bit-for-bit by
    * the oracle from the same hash set; when a source has fewer than k
    * distinct shingles the sketch IS the exact set and the estimate is
    * its size.
    *
    * The exact side exists here to MEASURE the sketch (a calibration
    * harness, the e29 sketch-then-verify discipline applied to
    * cardinality); production pipelines run the sketch alone, replacing
    * the (source, shingle)-distinct shuffle — cardinality of the corpus —
    * with ≤ 64 longs per partial aggregate per source.
    */
  private def e60KmvDistinct = {
    val k = 64
    QueryDef.sql(
      "e60_kmv_distinct",
      s"""WITH w AS (SELECT source, ${Portable.wordHashesDuck} AS wh
         |  FROM documents),
         |sh AS (SELECT source, ${Portable.shinglesDuck} AS shs FROM w
         |  WHERE len(wh) >= 3),
         |ex AS (SELECT source, unnest(shs) AS h FROM sh),
         |d AS (SELECT source, h FROM ex GROUP BY source, h),
         |per AS (SELECT source, count(*) AS n_exact,
         |    (list_sort(list(h)))[$k] AS hk
         |  FROM d GROUP BY source),
         |est AS (SELECT source, n_exact,
         |    CASE WHEN n_exact < $k THEN n_exact
         |      ELSE (CAST(${k - 1} AS BIGINT) * ${Portable.P}) // hk
         |      END AS kmv_est
         |  FROM per)
         |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(kmv_est AS BIGINT) AS kmv_est,
         |  CAST(abs(kmv_est - n_exact) * 10000 // n_exact AS BIGINT)
         |    AS err_bp
         |FROM est ORDER BY source""".stripMargin) { (s, dir) =>
      val ex = Tables.documents(s, dir)
        .select(col("source"),
          explode(F.shingle_hashes(col("text"))).as("h"))
      ex.groupBy("source")
        .agg(countDistinct(col("h")).as("n_exact"),
          sketches.kmv_sketch(col("h"), k).as("sk"))
        .withColumn("kmv_est",
          when(col("n_exact") < k, col("n_exact"))
            .otherwise(expr(s"(${k - 1} * ${Portable.P}L) div element_at(sk, $k)")))
        .select(col("source"), col("n_exact"), col("kmv_est"),
          expr("abs(kmv_est - n_exact) * 10000 div n_exact").as("err_bp"))
        .orderBy("source")
    }
  }

  private def e40ZorderTiles = QueryDef.sql(
    "e40_zorder_tiles",
    s"""WITH b AS (SELECT user_id % 256 AS xb,
       |    CAST(floor(value) AS BIGINT) % 256 AS yb FROM events),
       |z AS (SELECT xb, yb, ${Portable.morton2Duck("xb", "yb", 8)} AS zv
       |  FROM b)
       |SELECT CAST(zv // 256 AS BIGINT) AS tile, count(*) AS n_events,
       |  min(xb) AS min_x, max(xb) AS max_x,
       |  min(yb) AS min_y, max(yb) AS max_y
       |FROM z GROUP BY 1 ORDER BY tile""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select((col("user_id") % 256).as("xb"),
        (floor(col("value")).cast("long") % 256).as("yb"))
      .withColumn("zv", F.morton2(col("xb"), col("yb"), 8))
      .groupBy(expr("zv div 256").as("tile"))
      .agg(count(lit(1)).as("n_events"),
        min("xb").as("min_x"), max("xb").as("max_x"),
        min("yb").as("min_y"), max("yb").as("max_y"))
      .orderBy("tile")
  }
}
