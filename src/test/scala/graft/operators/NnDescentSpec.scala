package graft.operators

import graft.SparkSpecBase
import graft.queries.AnalysisQueries

/** The three NN-Descent queries that run [[NnDescent]] end to end —
  * e147 (plain rounds, float kernel), e147b (plain rounds, int8 kernel)
  * and e158 (flagged rounds with the zero-update stop) — pinned row for
  * row on the sf0.001 corpus (N = 500, K = 10, 8 rounds). The pins were
  * taken from the per-query builders the engine replaced, so they hold
  * the engine to the same graphs, pool sizes, fresh and update counts,
  * mean scores and anchor recall (± SE) round by round.
  */
class NnDescentSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[Seq[Long]] =
    AnalysisQueries.all.find(_.name == name).get.run(spark, dir)
      .collect().toSeq.map(_.toSeq.map(_.asInstanceOf[Long]))

  test("e147 (plain rounds, float kernel) matches its pinned rows") {
    // round, n_scored, avg_cos_t, recall_bp, recall_se_bp
    assert(rows("e147_nn_descent") === Seq(
      Seq(0L, 0L, -16L, 171L, 53L),
      Seq(1L, 20000L, 1547L, 828L, 109L),
      Seq(2L, 28499L, 1873L, 1281L, 132L),
      Seq(3L, 36173L, 2111L, 1859L, 153L),
      Seq(4L, 41439L, 2301L, 2609L, 173L),
      Seq(5L, 45224L, 2446L, 3453L, 187L),
      Seq(6L, 48397L, 2573L, 4406L, 195L),
      Seq(7L, 50883L, 2676L, 5343L, 196L),
      Seq(8L, 51475L, 2749L, 6234L, 191L)))
  }

  test("e147b (plain rounds, int8 kernel) matches its pinned rows") {
    // round, n_scored, avg_qcos_t, recall_bp, recall_se_bp
    assert(rows("e147b_nn_descent_int8") === Seq(
      Seq(0L, 0L, -16L, 171L, 53L),
      Seq(1L, 20000L, 1547L, 828L, 109L),
      Seq(2L, 28539L, 1874L, 1281L, 132L),
      Seq(3L, 36063L, 2110L, 1859L, 153L),
      Seq(4L, 41402L, 2304L, 2609L, 173L),
      Seq(5L, 45524L, 2449L, 3546L, 188L),
      Seq(6L, 48261L, 2575L, 4531L, 196L),
      Seq(7L, 50781L, 2675L, 5546L, 196L),
      Seq(8L, 51555L, 2751L, 6359L, 189L)))
  }

  test("e158 (flagged rounds) matches its pinned rows") {
    // round, n_scored, n_updates, avg_cos_t, recall_bp, recall_se_bp
    assert(rows("e158_nn_descent_inc") === Seq(
      Seq(0L, 5000L, 5000L, -16L, 171L, 53L),
      Seq(1L, 15000L, 3768L, 1547L, 828L, 109L),
      Seq(2L, 23463L, 1851L, 1873L, 1281L, 132L),
      Seq(3L, 23919L, 1577L, 2110L, 1859L, 153L),
      Seq(4L, 23874L, 1302L, 2301L, 2609L, 173L),
      Seq(5L, 21844L, 1101L, 2445L, 3468L, 187L),
      Seq(6L, 20076L, 1014L, 2569L, 4406L, 195L),
      Seq(7L, 19470L, 902L, 2672L, 5265L, 197L),
      Seq(8L, 17610L, 670L, 2746L, 6140L, 192L)))
  }
}
