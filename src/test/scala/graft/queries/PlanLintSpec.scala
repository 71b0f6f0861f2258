package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{SparkEntry, SparkSpecBase}

/** Plan lint over EVERY registered query (VERDICT r2 item 3): turns the
  * per-round manual `.explain` audit into a regression gate. For each
  * `SparkEntry.queries` entry the physical plan must contain:
  *
  *  - no CartesianProductExec anywhere (an all-pairs join over data is
  *    never acceptable at 100 TB);
  *  - no BroadcastNestedLoopJoinExec except where the broadcast side is
  *    provably tiny by construction (e5's guarded query-set broadcast,
  *    q8's cross of four one-row aggregate frames);
  *  - no UNPARTITIONED WindowExec over data-bearing frames — a window
  *    with an empty partitionSpec collapses to one task; the only allowed
  *    instance is the Indexing offsets frame (one row per physical
  *    partition, marked by its `__pid`/`__cnt` columns), which is how the
  *    scale-safe global index avoids exactly this trap for the data.
  *
  * AQE is disabled in the lint session so the STATIC plan is checked —
  * the shape Catalyst commits to before runtime stats can save it.
  */
class PlanLintSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  /** BNLJ allowance: queries whose broadcast side is bounded by
    * construction (guarded/chunked query set; one-row aggregates; the
    * IVF codebook, capped in practice at ~65k centroids; e22's corpus
    * token-count scalar — a one-row aggregate cross-joined onto the
    * per-doc frame).
    */
  private val bnljAllowed =
    Set("e5_cosine_topk", "q8_dq_tests", "e17_ann_ivf", "e22_rarity",
      "e49_semdedup", // e49: the e17 codebook broadcast, same bound
      "e51_temperature_mix", // one-row normalizer frame, the e22 pattern
      "e55_lm_surprisal", // one-row vocabulary-size scalar, the e22 pattern
      "e59_bm25", // one-row (N, total-terms) frame, the e22 pattern
      "e64_ann_indexed", // the e17 codebook broadcast, same bound
      "e67_ann_recall", // e17 codebook + e5's guarded probe broadcast
      "e68_ann_nprobe_sweep", // e67's bounds + the 3-row sweep-levels frame
      "e69_source_drift", // #sources-row totals frame onto the 4096 buckets
      "e74_epoch_schedule", // one-row normalizer frame, the e51 pattern
      "e76_curriculum_bins", // 1-row totals + 1-row cuts onto the
                             // 10001-bounded score frequency table
      "e81_mrl_truncation", // e5's 2%-of-corpus query-set broadcast,
                            // same bound (one pairing pass, 4 prefixes)
      "e88_hybrid_rrf", // e5's guarded query-set broadcast (dense leg)
      "e89_priority_sample", // one-row threshold (τ) frame, the e22 pattern
      "e91_ivf_upsert", // the e17 codebook broadcast, same bound
      "e93_ann_int8", // e5's guarded query-set broadcast, same bound
      "e88b_hybrid_indexed", // the e17 codebook broadcast, same bound
      "e103_dedup_recall", // one-row truth-count frame, the e22 pattern
      "e103b_dedup_recall_slice", // same one-row truth-count cross (the
                                  // shared recallAuditStats tail)
      "e135_cluster_split", // two one-row crosses: doc total + the
                            // (pairs_crossing, naive_crossing) audit
      "e140_pseudonymize", // one-row collision-count cross, the e22
                           // pattern
      "e107_silhouette", // the e17 codebook broadcast, same bound
      "e109_copurchase_lift", // one-row n_orders frame, the e22 pattern
      "e110_hard_negatives", // anchor-set broadcast (~1% of corpus),
                             // the e5 pattern
      "e113_candidate_budget", // two one-row pair-count frames crossed
                               // onto one-row censuses, the q8 pattern
      "e115_psi_drift", // #types × #weeks × 10-bucket spine grid —
                        // construction-bounded frames, the q8 pattern
      "e116_graph_transitivity", // two one-row count frames crossed
                                 // onto a one-row census, the q8 pattern
      "e117_conformal_select", // one-row τ/count frames crossed onto
                               // corpus legs, the e22 pattern
      "e118_knn_label_audit", // eval-sample broadcast, the e5 pattern
      "q49_revenue_share", // one-row totals frame, the e22 pattern
      "e123_neyman_alloc", // one-row Σw/Σn/Σfl totals, the e22 pattern
      "e124_benford", // one-row digit-census total, the e22 pattern
      "e132_dedup_sweep", // 7-row threshold-table broadcast, e22 pattern
      "e133_cluster_census", // one-row size-total broadcast, e22 pattern
      "e143_cusum", // 1-row (d0, d1) bounds frame exploded to the
                    // ≤ #days spine + the #types × #days grid cross —
                    // both construction-bounded, the e115 pattern
      "e145_k_anonymity", // one-row l-diversity frame crossed onto the
                          // one-row census, the q8 pattern
      "e146_isotonic_calibration", // the non-equi (j ≤ i ≤ k) joins
                                   // ride the ≤ 50-row bin grid —
                                   // construction-bounded, e115 pattern
      "e147_nn_descent", "e147b_nn_descent_int8", // operators.NnDescent:
                         // 1-row metric frames (roundMetrics, the q8
                         // pattern), the 1-row count broadcast under
                         // ringInit, and the 64-anchor (constant budget)
                         // anchorTruth join — the e5/e110 pattern
      "e5b_cosine_topk_int8", // e5's guarded/chunked query broadcast,
                              // carrying int8 codes instead of doubles
      "e158_nn_descent_inc", // e147's NnDescent frames: 1-row metrics,
                             // ring-init count, 64-anchor truth join
      "e151_grid_density", // one-row point-total broadcast under the
                           // census, the e133 pattern (the 8-offset
                           // neighbor probes are equi-joins by design)
      "e154_wasserstein_drift", // support-spine broadcast (bounded by
                                // the length codomain) + the one-row
                                // corpus total, the e115/e22 patterns
      "e160_ks_drift", // e154's same spine broadcast + one-row total
      "q59_untapped_balance", // one-row global-average frame crossed
                              // onto the probe, the e22/q49 pattern
      "e163b_lpa_regions", // one-row component-count frame crossed
                           // onto the 5-row census, the q8 pattern
      "e156_incremental_cc", // five one-row audit frames (edge counts,
                             // stage-2 node count, component counts,
                             // mismatch) crossed onto the one-row
                             // census — the q8/e113 pattern
      "e156b_incremental_cc_persist", // e156's pattern: six one-row
                                      // audit frames onto the census
      "e148_hll_intersection", // the src_a < src_b pair join rides the
                               // #sources-row register table (512 B per
                               // source) — construction-bounded, the
                               // e132 pattern
      "e165_neighborhood_fn", // one-row final-round N(r) frame crossed
                              // onto the ≤ rounds+1-row summary table,
                              // the e22/q59 pattern
      "e165b_neighborhood_regions", // same one-row cross as e165
      "e167_ivf_resplit", // the e17 codebook broadcast + one-row
                          // capacity frame, the e91/e22 patterns
      "e169_diameter_drift", // TWO one-row final-round frames (one per
                             // generation) crossed onto the
                             // ≤ rounds+1-row joined summary — the
                             // e165 pattern, twice
      "e169b_diameter_regions", // same two one-row crosses as e169
      "e170_ivf_resplit_persist", // e167's one-row capacity frame, off
                                  // the persisted index (the codebook
                                  // join is an equi-join on list_id)
      "e173_knn_persist_fold", // e158's NnDescent frames three-legged: per-leg
                               // 1-row metric/count crosses, ring-init
                               // count broadcasts, 64-anchor truth
                               // joins (constant budget, the e5/e110
                               // bound) — every BNLJ side is one row
                               // or the anchor constant
      "e175_modularity", // three one-row frames (m, intra, Σd²)
                         // crossed per method — the q8 pattern
      "e176_knn_store_clusters", // e173's NnDescent.ringInit 1-row count
                                 // broadcasts under the fold replay —
                                 // the e158 bound; the mutual join and
                                 // census are equi-joins
      "e175b_modularity_regions", // same one-row crosses on the
                                  // 25-node fixture graph
      "q44_interpolate", // BoundedPrefix-style carry joins over the
                         // ≤ 30-row day-summary frame (720-hour spine
                         // literal) — construction-bounded, r18
      "e157_w1_matrix") // BoundedPrefix.leadKey's bucket-firsts pairing
                        // over the codomain-bounded support spine (r18)

  /** Unpartitioned-window allowance — EMPTY since r18: every former
    * entry (q44's calendar spine, the e76/e117 bp-frequency cumsums,
    * e123's remainder rank, e146's bin-grid prefixes, the e154/e160
    * support-spine CDFs) was rewritten onto
    * [[graft.operators.BoundedPrefix]] (bucket-partitioned windows +
    * bounded non-equi carry joins) or an equivalent bounded pairing, so
    * no registered query plans a partitionSpec-less data-bearing
    * WindowExec any more. Kept as a set so a future exception is a
    * one-line, justified diff.
    */
  private val spineWindowAllowed = Set.empty[String]

  private lazy val lintSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def offsetFrameOnly(w: WindowExec): Boolean =
    w.child.output.exists(a => a.name == "__pid" || a.name == "__cnt")

  private def lint(name: String, plan: SparkPlan): Seq[String] = {
    val nodes = plan.collect { case n => n }
    val cartesian = nodes.collect { case c: CartesianProductExec => c }
      .map(_ => s"$name: CartesianProductExec in plan")
    val bnlj =
      if (bnljAllowed(name)) Nil
      else nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
        .map(_ => s"$name: BroadcastNestedLoopJoinExec (unbounded broadcast side?)")
    val badWindows =
      if (spineWindowAllowed(name)) Nil
      else nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !offsetFrameOnly(w) =>
          s"$name: unpartitioned data-bearing WindowExec (single-task sort)"
      }
    cartesian ++ bnlj ++ badWindows
  }

  test("no oracle-compared query contains a nondeterministic expression") {
    // Recomputation safety (the SkewJoin salt rule, engine-wide): a lost
    // shuffle map output recomputes only some partitions, and Spark's
    // indeterminate-stage rollback does not cover expression-level
    // nondeterminism — rand/uuid/monotonically_increasing_id inside an
    // oracle-compared query could silently change results between
    // attempt generations. q12 (seeded sample) is plan-level sampling,
    // not expression nondeterminism, and is rows-only checked anyway.
    val skip = Set("g1_mock_batch", "p1_pipeline_e2e", "q12_sample_limit")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) }
      .flatMap { case (name, fn) =>
        val df = fn(lintSession, dir)
        df.queryExecution.analyzed.flatMap(node =>
          node.expressions.flatMap(_.collect {
            case e if !e.deterministic => s"$name: $e"
          }))
      }
    assert(offenders.isEmpty, offenders.distinct.mkString("\n"))
  }

  test("withClusterSize consumers reuse one scan (e4, e10)") {
    // The count(coalesce(...)) witness in withClusterSize exists only to
    // keep both consumer branches' scan subtrees canonical so
    // ReuseExchange collapses them to ONE FileSourceScan + exchange. It
    // is coupled to optimizer internals (column pruning would split the
    // scan if the witness were rewritten away), so gate it: a Spark
    // upgrade that breaks the trick must fail HERE, loudly, instead of
    // silently doubling the fingerprint computation.
    for (name <- Seq("e4_simhash", "e10_fingerprint")) {
      val df = SparkEntry.queries(name)(lintSession, dir)
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size === 1,
        s"$name: expected exactly one FileSourceScan (shared exchange), " +
          s"got ${scans.size}:\n${df.queryExecution.executedPlan}")
    }
  }

  test("e53 corpus side is scanned at most twice (census reuses the probe)") {
    // The count(doc_id) witness keeps the raw census pruning exactly
    // like the scoring probe, so they share one exchange; the target
    // census legitimately splits off as a filter-pushed scan of the
    // benchmark slice. Total: 2 FileSourceScans. A count(*) regression
    // (or an optimizer change breaking the reuse) makes it 3 — a whole
    // extra corpus pass at 100 TB — and must fail here loudly.
    val df = SparkEntry.queries("e53_dsir_select")(lintSession, dir)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size <= 2,
      s"e53: expected <= 2 FileSourceScans (corpus exchange shared), " +
        s"got ${scans.size}:\n${df.queryExecution.executedPlan}")
  }

  test("every SparkEntry query has a scale-clean static physical plan") {
    // Pipeline queries (g1, p1) execute the engine itself when built —
    // their returned frames are tiny materialized summaries, but building
    // them exercises generator/ingest plans that the dedicated specs pin.
    // Lint here covers the 27 testdata-derived queries.
    val skip = Set("g1_mock_batch", "p1_pipeline_e2e")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) }
      .flatMap { case (name, fn) =>
        val df = fn(lintSession, dir)
        lint(name, df.queryExecution.executedPlan)
      }
    assert(violations.isEmpty, violations.mkString("\n"))
  }
}
