package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT distributed quantiles by iterative histogram range-narrowing —
  * the multipass selection algorithm (the classic distributed k-th
  * selection: bucket-count, locate the bucket holding rank k, recurse
  * into it; see e.g. Blum et al.'s selection literature and the
  * MapReduce folklore form).
  *
  * Why it exists next to the rest of the quantile family: Spark's
  * built-in `percentile` is exact but buffers EVERY value per group in
  * the aggregation state — at a 100 TB ungrouped selection that is the
  * OOM, not a plan; e35-style exact window ranking needs a full sort;
  * e63 samples (bounded rows, probabilistic error); e150's log-histogram
  * is mergeable but one-sided 2×-bounded. This operator is the missing
  * corner: EXACT answer, BOUNDED memory (one B-bucket histogram per
  * round per target), and O(log_B(domain)) scans — for a 10^9-wide
  * integer domain and B = 1024, THREE refinement scans after the
  * min/max/count pass, each a map-side-combinable aggregation whose
  * exchange is ≤ targets·B rows regardless of corpus size.
  *
  * Driver pulls are construction-bounded (the e122/e149 discipline):
  * one 3-column row in round 0, then ≤ |psBp|·B histogram rows per
  * round for ≤ ceil(log_B(span))+1 rounds — never proportional to the
  * data. Each refinement scan re-reads the input (the multipass trade,
  * priced in SCALING.md); callers who can afford materialization may
  * pass a checkpointed frame, but at the target scale re-scanning is
  * the design.
  *
  * All arithmetic is integer (the repo-wide cross-engine determinism
  * contract): ranks are ceil(p·n/10⁴) = (p·n + 9999) div 10⁴ (e150's
  * rank convention), widths are ceil((hi−lo+1)/B) via (hi−lo) div B + 1,
  * buckets are integer division — no float enters any comparison.
  */
object MultipassQuantile {

  /** Select the exact psBp-quantile values (ranks ceil(p·n/10⁴), the
    * e150 convention) of LongType column `xCol`.
    *
    * @return (n, picks, nRounds): row count, one (pBp, kRank, value)
    *         per requested quantile in psBp order, and the number of
    *         refinement scans run (excluding the min/max/count pass).
    */
  def select(
      xs: DataFrame,
      xCol: String,
      psBp: Seq[Long],
      buckets: Long = 1024L): (Long, Seq[(Long, Long, Long)], Int) = {
    require(psBp.nonEmpty, "at least one quantile target required")
    require(psBp.forall(p => p >= 1 && p <= 10000),
      s"quantile targets must be in [1, 10000] bp, got $psBp")
    require(psBp.distinct.size == psBp.size,
      s"duplicate quantile targets double-count histogram rows, got $psBp")
    require(buckets >= 2, s"need at least 2 buckets per round, got $buckets")
    val spark = xs.sparkSession
    // NULLs out at entry: a NULL x would count into n (count(lit(1)))
    // yet never enter any refinement histogram (the range predicate
    // filters it), breaking the rank invariant the assert below pins.
    val x = xs.select(col(xCol).cast("long").as("x"))
      .where(col("x").isNotNull)

    // Round 0: min / max / count in one scan (one collected row).
    val r0 = x.agg(min(col("x")), max(col("x")), count(lit(1))).head()
    val n = r0.getLong(2)
    require(n > 0, "multipass quantile selection needs a non-empty input")
    val (xmin, xmax) = (r0.getLong(0), r0.getLong(1))

    // Per-target state: (pBp, kRank, lo, hi, nBelowLo). Invariant: the
    // kRank-th smallest value lies in [lo, hi] and exactly nBelowLo
    // values are < lo.
    var state: Seq[(Long, Long, Long, Long, Long)] =
      psBp.map { p =>
        val k = (p * n + 9999L) / 10000L
        (p, k, xmin, xmax, 0L)
      }
    var rounds = 0

    while (state.exists { case (_, _, lo, hi, _) => lo < hi }) {
      rounds += 1
      val active = state.collect { case (p, _, lo, hi, _) if lo < hi =>
        val w = (hi - lo) / buckets + 1L // ceil width, >= 1
        (p, lo, hi, w)
      }
      val tgt = spark.createDataFrame(active).toDF("p_bp", "lo", "hi", "w")
      // |psBp|-row local frame, sized exactly by the planner: the
      // non-equi range condition makes this a BNLJ that broadcasts it
      // (the PlanLintSpec allowance class).
      val hist = x
        .join(tgt, col("x") >= col("lo") && col("x") <= col("hi"))
        .groupBy(col("p_bp"), expr("(x - lo) div w").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .collect() // <= |psBp| * buckets rows
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

      state = state.map {
        case st @ (p, k, lo, hi, below) =>
          if (lo >= hi) st
          else {
            val w = (hi - lo) / buckets + 1L
            val bs = hist.filter(_._1 == p).map(t => (t._2, t._3))
              .sortBy(_._1)
            var cum = below
            var out = st
            var found = false
            val it = bs.iterator
            while (!found && it.hasNext) {
              val (b, c) = it.next()
              if (cum + c >= k) {
                val nlo = lo + b * w
                val nhi = math.min(hi, nlo + w - 1L)
                out = (p, k, nlo, nhi, cum)
                found = true
              } else cum += c
            }
            // k <= n and nBelowLo + |values in [lo, hi]| >= k by the
            // invariant, so the rank bucket always exists.
            assert(found, s"rank $k not located in [$lo, $hi] for p=$p")
            out
          }
      }
    }

    (n, state.map { case (p, k, lo, _, _) => (p, k, lo) }, rounds)
  }

  /** Grouped form: the exact psBp-quantiles of `xCol` PER GROUP, for a
    * construction-bounded set of groups (callers must know |groups| is
    * bounded — e.g. sources, return flags — because the per-round
    * driver pull is ≤ |groups|·|psBp|·buckets histogram rows).
    *
    * Why it exists next to e35's window ranking: a per-group window
    * sort puts ALL of a group's rows in ONE task — at 100 TB a hot
    * group is a single-task sort no cluster survives. Here no stage
    * ever concentrates a group: each round is one scan whose histogram
    * partially aggregates map-side on (group, target, bucket), and the
    * per-group states narrow independently (a group that resolves
    * early drops out of later rounds' filters).
    *
    * @return (counts per group, picks (group, pBp, kRank, value) in
    *         (group, psBp) order, refinement rounds run).
    */
  def selectGrouped(
      xs: DataFrame,
      groupCol: String,
      xCol: String,
      psBp: Seq[Long],
      buckets: Long = 1024L)
      : (Map[String, Long], Seq[(String, Long, Long, Long)], Int) = {
    require(psBp.nonEmpty, "at least one quantile target required")
    require(psBp.forall(p => p >= 1 && p <= 10000),
      s"quantile targets must be in [1, 10000] bp, got $psBp")
    require(psBp.distinct.size == psBp.size,
      s"duplicate quantile targets double-count histogram rows, got $psBp")
    require(buckets >= 2, s"need at least 2 buckets per round, got $buckets")
    val spark = xs.sparkSession
    // NULL group keys and NULL x both out at entry (the
    // LabelPropagation NULL-endpoint discipline): a NULL group would
    // NPE groups.sorted and vanish from the when-ladder; a NULL x
    // breaks the rank invariant as in [[select]].
    val x0 = xs.select(col(groupCol).cast("string").as("g"),
      col(xCol).cast("long").as("x"))
      .where(col("g").isNotNull && col("x").isNotNull)

    // Round 0: per-group min / max / count (one bounded collected set).
    val r0 = x0.groupBy(col("g"))
      .agg(min(col("x")), max(col("x")), count(lit(1)))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    require(r0.nonEmpty, "grouped quantile selection needs a non-empty input")

    // Dictionary-encode the group for the refinement rounds: round 0
    // fixed the group set, so a |groups|-arm when-ladder maps each row
    // to a compact Long id once per scan and the join + histogram keys
    // go all-numeric — measured ~2× off each round's wall at the 100×
    // probe vs carrying the string through the broadcast hash join and
    // the (g, target, bucket) hash aggregation.
    val groups = r0.keysIterator.toSeq.sorted
    val gid: Map[String, Long] = groups.zipWithIndex
      .map { case (g, i) => (g, i.toLong) }.toMap
    val ladder = groups.tail.zipWithIndex.foldLeft(
      when(col("g") === groups.head, 0L)) { case (w, (g, i)) =>
      w.when(col("g") === g, (i + 1).toLong)
    }
    val x = x0.select(ladder.as("gi"), col("x"))

    // Per-(group, target) state: (g, pBp, k, lo, hi, nBelowLo).
    var state: Seq[(String, Long, Long, Long, Long, Long)] =
      r0.toSeq.sortBy(_._1).flatMap { case (g, (lo, hi, n)) =>
        psBp.map { p => (g, p, (p * n + 9999L) / 10000L, lo, hi, 0L) }
      }
    var rounds = 0

    while (state.exists { case (_, _, _, lo, hi, _) => lo < hi }) {
      rounds += 1
      val active = state.collect { case (g, p, _, lo, hi, _) if lo < hi =>
        val w = (hi - lo) / buckets + 1L
        (gid(g), p, lo, hi, w)
      }
      val tgt = spark.createDataFrame(active)
        .toDF("gi", "p_bp", "lo", "hi", "w")
      // group-keyed broadcast hash join (equi on the dictionary id),
      // the range condition a post-join filter; build side = the
      // |groups|·|psBp|-row local frame.
      val hist = x
        .join(tgt, Seq("gi"))
        .filter(col("x") >= col("lo") && col("x") <= col("hi"))
        .groupBy(col("gi"), col("p_bp"), expr("(x - lo) div w").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => ((groups(r.getLong(0).toInt), r.getLong(1)),
          (r.getLong(2), r.getLong(3))))
        .groupBy(_._1)
        .map { case (k, vs) => (k, vs.map(_._2).toSeq.sortBy(_._1)) }
        .toMap: Map[(String, Long), Seq[(Long, Long)]]

      state = state.map {
        case st @ (g, p, k, lo, hi, below) =>
          if (lo >= hi) st
          else {
            val w = (hi - lo) / buckets + 1L
            val bs = hist.getOrElse((g, p), Seq.empty[(Long, Long)])
            var cum = below
            var out = st
            var found = false
            val it = bs.iterator
            while (!found && it.hasNext) {
              val (b, c) = it.next()
              if (cum + c >= k) {
                val nlo = lo + b * w
                val nhi = math.min(hi, nlo + w - 1L)
                out = (g, p, k, nlo, nhi, cum)
                found = true
              } else cum += c
            }
            assert(found, s"rank $k not located in [$lo, $hi] for ($g, $p)")
            out
          }
      }
    }

    (r0.map { case (g, (_, _, n)) => (g, n) },
      state.map { case (g, p, k, lo, _, _) => (g, p, k, lo) },
      rounds)
  }
}
