package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Testdata twins of the reference's operator inventory (SURVEY.md §2,
  * FIXTURES.md §B mapping). Each query is the Spark-first expression of one
  * reference operator family; the paired oracle SQL is the DuckDB-dialect
  * equivalent the driver hashes against at sf0.01.
  *
  * Scale notes (100 TB): every query here is a single declarative plan —
  * filters/projections reach the parquet scan, small dimensions are
  * broadcast explicitly, aggregations get map-side partial aggregation from
  * Catalyst, and nothing collects to the driver.
  */
object ReferenceQueries {

  val all: Seq[QueryDef] = Seq(
    q1PricingSummary, q2FctStarJoin, q3StagingRename, q4DecodeNullFall,
    q5ScalarFuncs, q6DropExclude, q7MedianStddev, q8DqTests, q9UnionAppend,
    q10WindowIndex, q11ExplodeGen, q12SampleLimit, q13GroupbyTopk,
    q14EventsWindow, q15GenScalars, q16Attribution, q17Sessionize,
    q18JsonProps, q19ShipPriority, q20LocalVolume, q21UuidParts,
    q22ReturnedItems, q23PriorityClass, q24DormantCustomers,
    q25MovingSum, q26AsofJoin, q27RangeJoin, q28Rollup, q29Pivot,
    q30IncrementalMerge, q31TopkPerGroup, q32SaltedJoin, q33GroupingSets,
    q34SetOps, q35RankDistribution, q36DateDensify, q37Scd2History,
    q38RangeFrame, q39FunnelPattern, q40IncrementalAgg, q41Unpivot,
    q42BucketedStar, q43Cube, q44Interpolate, q45AsofForward,
    q46SessionizeChunked, q47AsofChunked, q48CohortRetention,
    q49RevenueShare, q50NationVolume, q50bNationVolumeBucketed,
    q51TopSupplier, q52SmallQtyRevenue, q53SoleBlameSupplier,
    q54CustDist, q55EventTransitions, q56DisjunctRevenue,
    q57SupplierCensus, q58ReturnPriority, q59UntappedBalance,
    q60OverlapJoin, q61MinCostSupplier, q62BigQtyOrders,
    q63MarketShare)

  /** Money columns are 2-decimal values stored as DOUBLE; a cross-row
    * double sum is fold-order dependent, and the engines' last-ulp
    * disagreement occasionally lands EXACTLY on a round() boundary
    * (observed: a quarter's revenue at x.595 flipped 307843.59 vs .6).
    * Summing exact integer cents (round(x*100) recovers the integer —
    * the stored double is within 1e-10 of it) makes every revenue
    * aggregate deterministic by construction on both engines — and the
    * final 2-dp rounding must ALSO happen in integer space
    * ((T + 50) div 100 — half-up on exact ten-thousandths), because at
    * a true x.xx5 boundary Spark's BigDecimal half-up and DuckDB's
    * binary-double round() legitimately disagree. The displayed value
    * is then integer-cents / 100.0: identical doubles on both engines.
    */
  private def cents(c: Column): Column = round(c * 100).cast("long")
  private def centsDuck(e: String): String =
    s"CAST(round(($e) * 100) AS BIGINT)"

  /** Σ price·(1−disc) in exact integer ten-thousandths.
    *
    * `acc` is the ACCUMULATOR type (SCALING.md's integer-headroom rule
    * mechanized): the per-row term is ≈10⁹, so a BIGINT accumulator
    * holds ~10⁹ rows — comfortable wherever a GROUP BY bounds the rows
    * per accumulator (every keyed use below), but an UNGROUPED global
    * sum at the ~600B-row 100 TB lineitem would overflow loudly under
    * ANSI mode. Global/ungrouped callers pass `"decimal(38,0)"` (the
    * e38 discipline; DuckDB's sum(BIGINT) is already HUGEINT-
    * accumulated, so the oracle mirrors it by NOT down-casting). The
    * type swap happens at the aggregate input — no plan change. */
  private def revenueT(price: Column, disc: Column,
      acc: String = "bigint"): Column = {
    val term = cents(price) * (lit(100L) - cents(disc))
    if (acc == "bigint") sum(term) else sum(term.cast(acc))
  }
  private def revenueTDuck(price: String, disc: String): String =
    s"CAST(sum(${centsDuck(price)} * (100 - ${centsDuck(disc)})) AS BIGINT)"
  /** The DECIMAL-accumulated twin: DuckDB sums BIGINT into HUGEINT
    * natively, so the only difference from [[revenueTDuck]] is keeping
    * the HUGEINT instead of the down-cast. */
  private def revenueTDuckDec(price: String, disc: String): String =
    s"sum(CAST(${centsDuck(price)} AS HUGEINT) * (100 - ${centsDuck(disc)}))"

  /** Ten-thousandths → half-up 2-dp money, rounded with integer ops.
    * `t` must name a LongType column in scope (expr-based: Column has
    * no integer-division method).
    */
  private def money2(t: String): Column = expr(s"(($t + 50) div 100)") / 100.0
  private def money2Duck(t: String): String = s"((($t) + 50) // 100) / 100.0"

  /** TPC-H-Q1-shaped pricing summary — headline agg (SURVEY §2.5, bench). */
  private def q1PricingSummary = QueryDef.sql(
    "q1_pricing_summary",
    s"""WITH g AS (SELECT l_returnflag, l_linestatus,
      |    sum(l_quantity) AS sum_qty,
      |    CAST(sum(${centsDuck("l_extendedprice")}) AS BIGINT) AS base_c,
      |    ${revenueTDuck("l_extendedprice", "l_discount")} AS disc_t,
      |    CAST(sum(${centsDuck("l_discount")}) AS BIGINT) AS disc_c,
      |    count(*) AS count_order
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, sum_qty,
      |  base_c / 100.0 AS sum_base_price,
      |  ${money2Duck("disc_t")} AS sum_disc_price,
      |  ((20000 * CAST(sum_qty AS BIGINT) + count_order)
      |    // (2 * count_order)) / 10000.0 AS avg_qty,
      |  ((200 * disc_c + count_order) // (2 * count_order)) / 10000.0
      |    AS avg_disc,
      |  count_order
      |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("base_c"),
        revenueT(col("l_extendedprice"), col("l_discount")).as("disc_t"),
        sum(cents(col("l_discount"))).as("disc_c"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        // exact cents: /100.0 is the same two-double division everywhere
        (col("base_c") / 100.0).as("sum_base_price"),
        money2("disc_t").as("sum_disc_price"),
        // quantities are integer-valued doubles: the sum is exact, and
        // the 4-dp average is rounded in integer space like avg_disc
        (expr("(20000 * CAST(sum_qty AS BIGINT) + count_order)" +
          " div (2 * count_order)") / 10000.0).as("avg_qty"),
        // half-up 4-dp mean discount, entirely in integer space:
        // (200*S + n) div (2n) == round-half-up(100*S / n)
        (expr("(200 * disc_c + count_order) div (2 * count_order)") / 10000.0)
          .as("avg_disc"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** fct_order_products star join twin (SURVEY §2.4 J1+J2): fact
    * left-joins two dimensions. Neither side gets a broadcast HINT: in
    * TPC-H both part and orders scale with the fact, so a forced
    * broadcast is exactly the plan that dies at 100x — the
    * threshold/AQE picks broadcast-hash while a side fits (it does at
    * every test SF, so the plan is identical here) and shuffled-hash
    * beyond. (Contrast Models.fctOrderProducts, where the products dim
    * is STATIC 96 rows and the hint is always right.)
    * Cites reference dbt_sao/models/mart/fct_order_products.sql:13-33.
    */
  private def q2FctStarJoin = QueryDef.sql(
    "q2_fct_star_join",
    """SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
      | l.l_partkey AS product_id, o.o_custkey AS customer_id,
      | CAST(o.o_orderdate AS DATE) AS order_date,
      | l.l_quantity AS quantity, p.p_retailprice AS product_price,
      | p.p_retailprice * 0.6 AS product_cost
      |FROM lineitem l
      |LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |ORDER BY order_id, line_no""".stripMargin) { (s, dir) =>
    val l = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val o = Tables.orders(s, dir)
    l.join(p, l("l_partkey") === p("p_partkey"), "left")
      .join(o, l("l_orderkey") === o("o_orderkey"), "left")
      .select(
        l("l_orderkey").as("order_id"),
        l("l_linenumber").as("line_no"),
        l("l_partkey").as("product_id"),
        o("o_custkey").as("customer_id"),
        o("o_orderdate").cast("date").as("order_date"),
        l("l_quantity").as("quantity"),
        p("p_retailprice").as("product_price"),
        (p("p_retailprice") * lit(0.6)).as("product_cost"))
      .orderBy(col("order_id"), col("line_no"))
  }

  /** Staging rename/projection twin (SURVEY §2.2 P1-P2), cites reference
    * dbt_sao/models/staging/stg_bike_shop__customers.sql:7-24.
    */
  private def q3StagingRename = QueryDef.sql(
    "q3_staging_rename",
    """SELECT c_custkey AS customer_id, c_name AS customer_name,
      | c_mktsegment AS market_segment, c_acctbal AS account_balance,
      | c_nationkey AS nation_id
      |FROM customer ORDER BY customer_id""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .select(
        col("c_custkey").as("customer_id"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("market_segment"),
        col("c_acctbal").as("account_balance"),
        col("c_nationkey").as("nation_id"))
      .orderBy(col("customer_id"))
  }

  /** Snowflake DECODE twin with NULL fallthrough (SURVEY §2.3 F1): no
    * default branch => non-matching status maps to NULL ('P' here). NULL-safe
    * equality (<=>) mirrors DECODE's NULL-matches-NULL rule. Cites reference
    * dbt_sao/models/staging/stg_bike_shop__customers.sql:16-19.
    */
  private def q4DecodeNullFall = QueryDef.sql(
    "q4_decode_nullfall",
    """SELECT CASE WHEN o_orderstatus = 'O' THEN 'Open'
      |            WHEN o_orderstatus = 'F' THEN 'Finished' END AS status_label,
      | count(*) AS n
      |FROM orders GROUP BY 1
      |ORDER BY status_label NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .select(
        when(col("o_orderstatus") <=> lit("O"), "Open")
          .when(col("o_orderstatus") <=> lit("F"), "Finished")
          .as("status_label"))
      .groupBy(col("status_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_label").asc_nulls_first)
  }

  /** Scalar-function twin (SURVEY §2.3 F2 initcap, F3 round): round() is
    * applied only where the doubles are decimal-exact (2-dp account
    * balances), where HALF_UP (Spark) and half-away-from-zero (DuckDB)
    * agree. Cites stg_bike_shop__orders.sql:14, stg_bike_shop__products
    * .sql:20.
    *
    * ORACLE ASSUMPTION (segment_label): the upper-first/lower-rest SQL
    * twin matches Spark `initcap` only for SINGLE-WORD values — initcap
    * capitalizes every word. TPC-H `c_mktsegment` is single-word by
    * construction (BUILDING/AUTOMOBILE/...); a multi-word segment would
    * need a per-word oracle formulation instead.
    */
  private def q5ScalarFuncs = QueryDef.sql(
    "q5_scalar_funcs",
    """SELECT c_custkey AS customer_id,
      | upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
      |   AS segment_label,
      | round(c_acctbal, 0) AS balance_rounded,
      | CAST(ceil(c_acctbal) AS BIGINT) AS balance_ceil,
      | CAST(floor(c_acctbal) AS BIGINT) AS balance_floor,
      | abs(c_acctbal) AS balance_abs,
      | lower(c_name) || '-' || upper(c_mktsegment) AS tagged_name
      |FROM customer ORDER BY customer_id""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir)
      .select(
        col("c_custkey").as("customer_id"),
        initcap(col("c_mktsegment")).as("segment_label"),
        round(col("c_acctbal"), 0).as("balance_rounded"),
        ceil(col("c_acctbal")).as("balance_ceil"),
        floor(col("c_acctbal")).as("balance_floor"),
        abs(col("c_acctbal")).as("balance_abs"),
        concat(lower(col("c_name")), lit("-"), upper(col("c_mktsegment")))
          .as("tagged_name"))
      .orderBy(col("customer_id"))
  }

  /** Star-exclude twin (SURVEY §2.2 P3): Snowflake `SELECT * EXCLUDE (...)`
    * == DataFrame .drop. Cites dim_customer.sql:5.
    */
  private def q6DropExclude = QueryDef.sql(
    "q6_drop_exclude",
    """SELECT p_partkey, p_name, p_brand, p_retailprice
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .drop("p_type", "p_size")
      .orderBy(col("p_partkey"))
  }

  /** Ungrouped scalar aggregates twin (SURVEY §2.5 A1 median, A2
    * stddev_samp). Cites mock_data.py:75-76.
    */
  private def q7MedianStddev = QueryDef.sql(
    "q7_median_stddev",
    """SELECT round(median(p_retailprice), 2) AS median_price,
      | round(stddev_samp(p_retailprice), 2) AS std_price,
      | round(avg(p_retailprice), 2) AS avg_price,
      | count(*) AS n_parts
      |FROM part""".stripMargin) { (s, dir) =>
    Tables.part(s, dir)
      .agg(
        round(median(col("p_retailprice")), 2).as("median_price"),
        round(stddev_samp(col("p_retailprice")), 2).as("std_price"),
        round(avg(col("p_retailprice")), 2).as("avg_price"),
        count(lit(1)).as("n_parts"))
  }

  /** Data-quality test compiler twin (SURVEY §2.10 T1-T4): not_null,
    * unique, accepted_values (dbt semantics: NULLs pass), relationships
    * (left-anti orphan check). All four must be 0 on this data; emitting the
    * counts lets the oracle hash the zeros.
    */
  private def q8DqTests = QueryDef.sql(
    "q8_dq_tests",
    """SELECT
      | (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
      |   AS null_orderkeys,
      | (SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |    GROUP BY o_orderkey HAVING count(*) > 1) d) AS dup_orderkeys,
      | (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P')
      |    AND o_orderstatus IS NOT NULL) AS bad_status,
      | (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |   AS orphan_lineitems""".stripMargin) { (s, dir) =>
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val nullKeys = l.agg(
      count(when(col("l_orderkey").isNull, lit(1))).as("null_orderkeys"))
    val dups = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(count(lit(1)).as("dup_orderkeys"))
    val badStatus = o.filter(
        !col("o_orderstatus").isin("O", "F", "P") &&
          col("o_orderstatus").isNotNull)
      .agg(count(lit(1)).as("bad_status"))
    val orphans = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    nullKeys.crossJoin(dups).crossJoin(badStatus).crossJoin(orphans)
  }

  /** Append/UNION ALL twin (SURVEY §2.8, S5 per-batch file append): two
    * disjoint halves unioned back then aggregated.
    */
  private def q9UnionAppend = QueryDef.sql(
    "q9_union_append",
    """SELECT o_orderstatus AS order_status, count(*) AS n,
      | round(sum(o_totalprice), 2) AS total_price
      |FROM (SELECT * FROM orders WHERE o_orderkey % 2 = 0
      |      UNION ALL
      |      SELECT * FROM orders WHERE o_orderkey % 2 = 1) u
      |GROUP BY o_orderstatus ORDER BY order_status""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .unionByName(o.filter(col("o_orderkey") % 2 === 1))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .withColumnRenamed("o_orderstatus", "order_status")
      .orderBy(col("order_status"))
  }

  /** Index-aligned assignment twin (SURVEY §2.4 J4, §2.6): the i-th order
    * paired with the i-th customer. The reference does this with Python
    * list indexing (mock_data.py:56-62); distributed it's a rank-join via
    * [[graft.operators.Indexing.withGlobalIndex]] — range repartition +
    * per-partition row_number + broadcast offset join, no single-task
    * global sort (the former unpartitioned Window.orderBy formulation).
    */
  private def q10WindowIndex = QueryDef.sql(
    "q10_window_index",
    """WITH o AS (SELECT o_orderkey,
      |   row_number() OVER (ORDER BY o_orderkey) - 1 AS idx FROM orders),
      | c AS (SELECT c_custkey,
      |   row_number() OVER (ORDER BY c_custkey) - 1 AS idx FROM customer)
      |SELECT o.o_orderkey AS order_id, c.c_custkey AS customer_id
      |FROM o JOIN c USING (idx)""".stripMargin) { (s, dir) =>
    import graft.operators.Indexing.withGlobalIndex
    val o = withGlobalIndex(
      Tables.orders(s, dir).select(col("o_orderkey")),
      col("o_orderkey"), "idx")
    val c = withGlobalIndex(
      Tables.customer(s, dir).select(col("c_custkey")),
      col("c_custkey"), "idx")
    // No final ORDER BY: the driver's compare sorts rows before hashing,
    // so a trailing global sort would be a pure extra range-exchange —
    // the kind of cost that at 100 TB dominates the query.
    o.join(c, Seq("idx"))
      .select(col("o_orderkey").as("order_id"),
        col("c_custkey").as("customer_id"))
  }

  /** Row-expansion generator twin (SURVEY §2.9 G2 + §2.3 F9): weighted
    * choice of 1-3 items per order (5:2:1) then explode. Randomness is a
    * deterministic modular hash of the key so Spark and DuckDB agree —
    * partition-count-independent by construction. Cites mock_data.py:92-107.
    */
  private def q11ExplodeGen = QueryDef.sql(
    "q11_explode_gen",
    """SELECT order_id, unnest(range(1, n_items + 1)) AS line_idx
      |FROM (SELECT o_orderkey AS order_id,
      |  CASE WHEN (o_orderkey * 9973) % 8 < 5 THEN 1
      |       WHEN (o_orderkey * 9973) % 8 < 7 THEN 2
      |       ELSE 3 END AS n_items
      | FROM orders)
      |ORDER BY order_id, line_idx""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .select(
        col("o_orderkey").as("order_id"),
        ((col("o_orderkey") * 9973) % 8).as("r"))
      .withColumn("n_items",
        when(col("r") < 5, 1).when(col("r") < 7, 2).otherwise(3))
      .select(
        col("order_id"),
        explode(sequence(lit(1L), col("n_items").cast("long")))
          .as("line_idx"))
      .orderBy(col("order_id"), col("line_idx"))
  }

  /** Bernoulli sample + limit twin (SURVEY §2.7 L1-L2, sample_table.sql:3-5).
    * The sample rule is the repo's deterministic value-hash Bernoulli
    * (the e23/e63 split discipline — [[graft.gen.MockData.hashLong]] on
    * the row key under a fixed seed, keep when the draw falls below
    * ceil(0.05·P)) instead of `df.sample`, whose acceptance set is the
    * engine's RNG-stream implementation detail: same 5% seeded-sample
    * contract, but replayable bit-for-bit by ANY engine, so the query
    * gains a DuckDB twin and a hash-green CORRECTNESS row. The LIMIT
    * leg is made
    * order-deterministic the q13 way — smallest 50 keys of the sample,
    * which Spark executes as TakeOrderedAndProject (per-partition top-k
    * + driver merge, no global sort). SamplingSpec keeps the rate pin
    * (binomial bound on the pre-limit count) and the subset/determinism
    * invariants.
    */
  private def q12SampleLimit = {
    val seed = 42L
    val t5 = math.ceil(0.05 * graft.functions.Portable.P).toLong
    QueryDef.sql(
      "q12_sample_limit",
      s"""SELECT * FROM customer
         |WHERE ${graft.gen.MockData.hashLongDuck(seed, "sample",
          "c_custkey")} < $t5
         |ORDER BY c_custkey LIMIT 50""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .filter(graft.gen.MockData.hashLong(seed, "sample",
          col("c_custkey")) < t5)
        .orderBy("c_custkey")
        .limit(50)
    }
  }

  /** Sort/limit top-k (SURVEY §2.7): deterministic via rounded measure +
    * key tiebreak; Spark executes as TakeOrderedAndProject (no global sort).
    */
  private def q13GroupbyTopk = QueryDef.sql(
    "q13_groupby_topk",
    """SELECT o_custkey AS customer_id, round(sum(o_totalprice), 2)
      |   AS total_spend, count(*) AS n_orders
      |FROM orders GROUP BY o_custkey
      |ORDER BY total_spend DESC, customer_id LIMIT 10""".stripMargin) {
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("total_spend"),
          count(lit(1)).as("n_orders"))
        .select(col("o_custkey").as("customer_id"), col("total_spend"),
          col("n_orders"))
        .orderBy(col("total_spend").desc, col("customer_id"))
        .limit(10)
  }

  /** Generator scalar family, oracle-proven (SURVEY §2.3 F4-F10): the
    * ACTUAL [[graft.gen.MockData]] primitives — seeded
    * UUID4-shaped id (F4), raw uniform draw (F5), trailing-30-day date
    * arithmetic (F6), Gaussian pdf as column math (F8), weighted
    * categorical choice (F9), and Faker-style pooled lookup (F10) —
    * applied over `orders.o_orderkey` with a DuckDB twin generated from
    * the same affine-modular coefficients ([[graft.gen.MockData.mixCoeffs]]).
    * The uniform is compared as its RAW integer draw (`gen_hash`) so no
    * cross-engine double-rounding can blur the check; only the Gaussian
    * pdf (transcendental by nature) is rounded to 4dp.
    */
  private def q15GenScalars = {
    import graft.gen.MockData
    import graft.model.Schemas
    val seed = 42L
    val key = "o_orderkey"
    // weighted-choice thresholds exactly as MockData.weightedChoice builds
    // them (cumulative weight / total as double; 10:5:1 -> 0.625, 0.9375)
    val cum = Schemas.orderStatusWeights.scanLeft(0)(_ + _).tail
      .map(_ / Schemas.orderStatusWeights.sum.toDouble)
    val uuidCase =
      "substr(us, 1, 8) || '-' || substr(us, 9, 4) || '-4' || " +
        "substr(us, 13, 3) || '-a' || substr(us, 16, 3) || '-' || " +
        "substr(us, 19, 12)"
    val pool = MockData.firstNamePool
    val poolSql = pool.map(n => s"'$n'").mkString("[", ", ", "]")
    QueryDef.sql(
      "q15_gen_scalars",
      s"""WITH h AS (SELECT o_orderkey,
         |    ${MockData.hashLongDuck(seed, "u", key)} AS gen_hash,
         |    ${MockData.hashUnitDuck(seed, "od", key)} AS u_od,
         |    ${MockData.hashUnitDuck(seed, "os", key)} AS u_os,
         |    ${MockData.hashUnitDuck(seed, "fn", key)} AS u_fn,
         |    ${MockData.uuidDuckDigits(seed, "gen", key)} AS us
         |  FROM orders)
         |SELECT o_orderkey AS order_id,
         |  $uuidCase AS gen_uuid,
         |  gen_hash,
         |  DATE '2026-01-01' - CAST(floor(u_od * 30) AS INT) AS gen_date,
         |  CASE WHEN u_os < ${cum(0)} THEN '${Schemas.orderStatuses(0)}'
         |       WHEN u_os < ${cum(1)} THEN '${Schemas.orderStatuses(1)}'
         |       ELSE '${Schemas.orderStatuses(2)}' END AS gen_status,
         |  $poolSql[CAST(floor(u_fn * ${pool.size}) AS INT) + 1] AS gen_name,
         |  round(exp(-pow(CAST(gen_hash AS DOUBLE) / 1000000007 - 0.5, 2)
         |      / (2 * 0.2 * 0.2)) / (0.2 * sqrt(2 * pi())), 4) AS gen_weight
         |FROM h ORDER BY order_id""".stripMargin) { (s, dir) =>
      val k = col("o_orderkey")
      val u = MockData.hashUnit(seed, "u", k)
      // F8's pdf shape as pure column math over the uniform (mu=0.5, s=0.2)
      val pdf = exp(-pow(u - 0.5, 2) / (2 * 0.2 * 0.2)) /
        (0.2 * math.sqrt(2 * math.Pi))
      Tables.orders(s, dir)
        .select(
          k.as("order_id"),
          MockData.uuidFromHash(seed, "gen", k).as("gen_uuid"),
          MockData.hashLong(seed, "u", k).as("gen_hash"),
          date_sub(
            lit(java.sql.Date.valueOf("2026-01-01")),
            floor(MockData.hashUnit(seed, "od", k) * 30).cast("int"))
            .as("gen_date"),
          MockData.weightedChoice(
            MockData.hashUnit(seed, "os", k),
            Schemas.orderStatuses, Schemas.orderStatusWeights)
            .as("gen_status"),
          MockData.pickFrom(pool, MockData.hashUnit(seed, "fn", k))
            .as("gen_name"),
          round(pdf, 4).as("gen_weight"))
        .orderBy(col("order_id"))
    }
  }

  /** Tumbling event-time window agg (SURVEY §2.11): the batch form of
    * the streaming aggregation — the identical `window()` groupBy runs
    * under `readStream` + `withWatermark` unchanged; the streaming
    * ingestion side lives in [[graft.streaming.StreamingIngest]].
    * Epoch-aligned hourly buckets match DuckDB time_bucket.
    */
  private def q14EventsWindow = QueryDef.sql(
    "q14_events_window",
    """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
      |   '%Y-%m-%d %H:%M:%S') AS window_start,
      | event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Batch twin of the watermarked stream-stream interval join
    * ([[graft.streaming.StreamJoin.attributed]], SURVEY §2.11 streaming
    * family): purchases attributed to a preceding view by the same user
    * within 15 minutes. Runs the EXACT streaming operator code on the
    * static events table (withWatermark is a batch no-op), so the join
    * semantics the streaming runtime executes are oracle-proven here.
    * Scale: equi-join on user_id (shuffle both sides by user) with the
    * interval as a post-join residual — never a time-range cross join.
    */
  private def q16Attribution = QueryDef.sql(
    "q16_attribution",
    """SELECT v.event_id AS view_id, b.event_id AS buy_id, v.user_id,
      |  v.ts AS view_ts, b.ts AS buy_ts, b.value
      |FROM events v JOIN events b
      |  ON v.user_id = b.user_id AND v.event_type = 'view'
      | AND b.event_type = 'purchase'
      | AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 15 MINUTE
      |ORDER BY view_id, buy_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    graft.streaming.StreamJoin.attributed(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"))
      .orderBy("view_id", "buy_id")
  }

  /** Gap-based sessionization (SURVEY §2.11 family): events more than 30
    * minutes apart start a new session; one summary row per (user,
    * session). Both windows are PARTITIONED by user_id (lag to detect
    * gaps, running sum to number sessions) — work per task is one user's
    * events, so the operator scales with users, not with one task
    * holding the whole stream; a pathological single hot user is the
    * only skew case and AQE's skew handling applies to the final
    * aggregation. Duration is an integer second diff — no float folds.
    */
  private def q17Sessionize = QueryDef.sql(
    "q17_sessionize",
    """WITH o AS (SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (SELECT user_id, event_id, ts,
      |    CASE WHEN prev_ts IS NULL
      |           OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS is_new
      |  FROM o),
      |s AS (SELECT user_id, event_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM m)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  min(ts) AS session_start,
      |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
      |    AS duration_sec
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin) { (s, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // unix_micros, not cast("long"): the cast truncates to whole
    // seconds while the oracle's INTERVAL comparison is exact — a gap in
    // (1800s, 1801s) would split sessions differently. Event timestamps
    // all carry microseconds, so the boundary is live.
    val isNew = when(
      col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L,
      1).otherwise(0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        lag(col("ts"), 1).over(byUser).as("prev_ts"))
      .withColumn("is_new", isNew)
      .withColumn("session_idx",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx").cast("long").as("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (max(col("ts")).cast("long") - min(col("ts")).cast("long"))
          .as("duration_sec"))
      .orderBy("user_id", "session_idx")
  }

  /** Semi-structured column extraction: the events `props` payload is a
    * JSON string; pull a typed field out and aggregate it — the pattern
    * every event pipeline runs on its property bags. Extraction is a
    * per-row codegen'd path expression (no UDF); at scale the right
    * refinement is from_json with an explicit schema so the parse
    * happens once per row into a struct, but for a single field the
    * path extraction reads the same and skips the struct allocation.
    * Integer aggregates only — no float folds.
    */
  private def q18JsonProps = QueryDef.sql(
    "q18_json_props",
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(col("k")).as("n_k"))
        .orderBy("event_type")
  }

  /** TPC-H-Q3-shaped shipping-priority: fact-fact-dim 3-way join with
    * selective filters on every side, grouped top-10 by revenue. All
    * three joins are left unhinted — customer, orders and lineitem each
    * scale with the data, so the threshold/AQE picks broadcast while a
    * side fits and shuffled-hash beyond (the q2 rule). Filters reach
    * the scans (PushedFilters on segment and both dates) so each join
    * probes a pruned side. Tiebreak columns make the top-10 total.
    */
  private def q19ShipPriority = QueryDef.sql(
    "q19_ship_priority",
    s"""WITH g AS (SELECT l_orderkey, o_orderdate, o_orderpriority,
      |    ${revenueTDuck("l_extendedprice", "l_discount")} AS t
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |    AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |  GROUP BY l_orderkey, o_orderdate, o_orderpriority)
      |SELECT l_orderkey, ${money2Duck("t")} AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM g ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin) { (s, dir) =>
    val cutoff = lit("1998-03-15 00:00:00").cast("timestamp")
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir).filter(col("o_orderdate") < cutoff),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(revenueT(col("l_extendedprice"), col("l_discount")).as("t"))
      .select(col("l_orderkey"), money2("t").as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H-Q5-shaped local-supplier volume: six-table join through the
    * full snowflake. nation and region are FIXED-cardinality dims (25 /
    * 5 rows at every SF) — the only joins in the suite where an explicit
    * `broadcast()` hint is correct at any scale; customer, orders,
    * lineitem and supplier all scale and stay unhinted. The
    * c_nationkey = s_nationkey predicate ("local" supplier) rides the
    * lineitem-supplier join as a residual.
    */
  private def q20LocalVolume = QueryDef.sql(
    "q20_local_volume",
    s"""WITH g AS (SELECT n_name,
      |  ${revenueTDuck("l_extendedprice", "l_discount")} AS t
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name)
      |SELECT n_name, ${money2Duck("t")} AS revenue
      |FROM g ORDER BY revenue DESC, n_name""".stripMargin) {
    (s, dir) =>
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1997-01-01 00:00:00").cast("timestamp")
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenueT(col("l_extendedprice"), col("l_discount")).as("t"))
        .select(col("n_name"), money2("t").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
  }

  /** String/composite-keyed uuid generation (F4's uuidFromParts path,
    * whose independent per-draw reductions keep composite keys from
    * colliding) proven against a full DuckDB twin:
    * each of the three draws reduces the raw (c_name, c_custkey) parts
    * under its own polynomial family before the cube-affine — so this
    * row-for-row hash compare demonstrates the independent reductions,
    * not just the uuid shape the unit tests pin.
    */
  private def q21UuidParts = {
    import graft.gen.MockData
    val seed = 42L
    val digits = MockData.uuidPartsDuckDigits(
      seed, "cust", Seq("c_name", "CAST(c_custkey AS VARCHAR)"))
    val uuidCase =
      "substr(us, 1, 8) || '-' || substr(us, 9, 4) || '-4' || " +
        "substr(us, 13, 3) || '-a' || substr(us, 16, 3) || '-' || " +
        "substr(us, 19, 12)"
    QueryDef.sql(
      "q21_uuid_parts",
      s"""WITH u AS (SELECT c_custkey, $digits AS us FROM customer)
         |SELECT c_custkey, $uuidCase AS gen_uuid
         |FROM u ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          MockData.uuidFromParts(seed, "cust", col("c_name"), col("c_custkey"))
            .as("gen_uuid"))
        .orderBy("c_custkey")
    }
  }

  /** TPC-H-Q10-shaped returned-item ranking: which customers returned
    * the most revenue in a quarter. Fact-fact join filtered to
    * l_returnflag = 'R', customer dim joined after the aggregation-heavy
    * side is reduced by its filters; top-20 with full tiebreaks.
    */
  private def q22ReturnedItems = QueryDef.sql(
    "q22_returned_items",
    s"""WITH g AS (SELECT c_custkey, c_name, c_mktsegment,
      |    ${revenueTDuck("l_extendedprice", "l_discount")} AS t
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY c_custkey, c_name, c_mktsegment)
      |SELECT c_custkey, c_name, c_mktsegment,
      |  ${money2Duck("t")} AS lost_revenue
      |FROM g ORDER BY lost_revenue DESC, c_custkey
      |LIMIT 20""".stripMargin) { (s, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-04-01 00:00:00").cast("timestamp")
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(revenueT(col("l_extendedprice"), col("l_discount")).as("t"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        money2("t").as("lost_revenue"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H-Q12-shaped conditional aggregation: per return flag, how
    * many lineitems belong to critical- vs normal-priority orders —
    * the sum(CASE WHEN ...) pivot pattern (a different operator shape
    * from q4's per-row DECODE: the conditional lives INSIDE the
    * aggregate, so Catalyst folds it into the partial agg and only
    * (flag, two longs) cross the exchange).
    */
  private def q23PriorityClass = QueryDef.sql(
    "q23_priority_class",
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS critical_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS normal_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, dir) =>
      val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(critical, 1L).otherwise(0L)).as("critical_count"),
          sum(when(!critical, 1L).otherwise(0L)).as("normal_count"))
        .orderBy("l_returnflag")
  }

  /** NOT-EXISTS analytics (TPC-H-Q22 family): customers with NO order
    * in a year, summarized per market segment. The left-anti join is
    * the standalone form of the pattern q8's relationship tests use
    * internally — Spark plans it as a shuffled (or broadcast) anti hash
    * join; only keys cross the exchange, and the aggregation rides the
    * reduced side. Account balances are 2-decimal: the sum uses the
    * exact-cents path like every money aggregate here.
    */
  private def q24DormantCustomers = QueryDef.sql(
    "q24_dormant_customers",
    s"""WITH active AS (SELECT DISTINCT o_custkey FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
       |dormant AS (SELECT * FROM customer
       |  WHERE c_custkey NOT IN (SELECT o_custkey FROM active))
       |SELECT c_mktsegment, count(*) AS n_dormant,
       |  CAST(sum(${centsDuck("c_acctbal")}) AS BIGINT) / 100.0
       |    AS total_balance
       |FROM dormant GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val active = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_dormant"),
        (sum(cents(col("c_acctbal"))) / 100.0).as("total_balance"))
      .orderBy("c_mktsegment")
  }

  /** Bounded sliding-frame window (the one window shape not yet
    * exercised — q10/q17 use unbounded running frames): per-user
    * 3-event moving total over event time. The frame sum is INTEGER
    * cents, not a double — engines disagree on sliding-sum evaluation
    * (Spark recomputes frames; DuckDB uses a segment tree), which
    * reorders a float fold but cannot change an integer one. Windows
    * are user-partitioned: work per task is one user's events.
    */
  private def q25MovingSum = QueryDef.sql(
    "q25_moving_sum",
    s"""SELECT event_id, user_id,
       |  CAST(sum(${centsDuck("value")}) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS moving_cents
       |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        sum(cents(col("value"))).over(w).as("moving_cents"))
      .orderBy("event_id")
  }

  /** As-of join ([[graft.operators.AsofJoin]]): each purchase picks the
    * user's latest click at-or-before it — the canonical event-attribution
    * shape Spark has no native operator for. The oracle mirrors the
    * union+window formulation but carries only the never-NULL tie id
    * through `last_value(IGNORE NULLS)` and joins the payload back by id:
    * DuckDB's IGNORE NULLS is per-FIELD while Spark's `last` on a struct
    * is per-ROW, so running it over a nullable payload column could
    * diverge field-wise; the id indirection keeps both engines reducing
    * the exact same non-null sequence. Scale: one hash shuffle of
    * clicks+purchases by user_id; windows are user-partitioned.
    */
  private def q26AsofJoin = QueryDef.sql(
    "q26_asof_join",
    """WITH t AS (
      |  SELECT user_id, ts, 0 AS side, event_id AS tie,
      |         NULL::BIGINT AS p_id
      |    FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, 1, NULL, event_id
      |    FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT user_id, ts, side, p_id,
      |    last_value(tie IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, side, tie ROWS UNBOUNDED PRECEDING) AS click_id
      |  FROM t)
      |SELECT w.p_id AS purchase_id, w.user_id, w.ts AS purchase_ts,
      |  w.click_id, c.ts AS click_ts, c.value AS click_value
      |FROM w LEFT JOIN events c ON c.event_id = w.click_id
      |WHERE w.side = 1""".stripMargin) { (s, dir) =>
    import graft.operators.AsofJoin
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsofJoin.asofJoin(
        purchases, "purchase_ts", clicks, "click_ts",
        key = "user_id", buildTie = "click_id", prefix = "b_")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("b_click_id").as("click_id"), col("b_click_ts").as("click_ts"),
        col("b_click_value").as("click_value"))
  }

  /** Non-equi point-in-interval range join ([[graft.operators.RangeJoin]]):
    * clicks landing inside [error ts, +10 min) "incident" windows, counted
    * per incident (left semantics: zero-click incidents kept). There is no
    * equi-key at all — the naive plan is a nested loop — so the operator
    * manufactures one by bucketing time at the window length. Money is
    * summed as integer cents (see `cents`).
    */
  private def q27RangeJoin = QueryDef.sql(
    "q27_range_join",
    s"""SELECT i.event_id AS incident_id, i.ts AS incident_ts,
      |  count(c.event_id) AS n_clicks,
      |  coalesce(CAST(sum(${centsDuck("c.value")}) AS BIGINT), 0)
      |    AS click_cents
      |FROM (SELECT event_id, ts FROM events
      |      WHERE event_type = 'error' AND value >= 200) i
      |LEFT JOIN (SELECT event_id, ts, value FROM events
      |           WHERE event_type = 'click') c
      |  ON c.ts >= i.ts AND c.ts < i.ts + INTERVAL 10 MINUTE
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import graft.operators.RangeJoin
    val winMicros = 10L * 60L * 1000000L
    val ev = Tables.events(s, dir)
    val incidents = ev
      .filter(col("event_type") === "error" && col("value") >= 200)
      .select(col("event_id").as("incident_id"),
        col("ts").as("incident_ts"), unix_micros(col("ts")).as("inc_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"), cents(col("value")).as("cc"))
    val pairs = RangeJoin.pointInInterval(
      clicks, "click_us", incidents, "inc_us", winMicros)
    val counts = pairs.groupBy(col("incident_id"))
      .agg(count(col("click_id")).as("n_clicks"), sum(col("cc")).as("cc_sum"))
    incidents.join(counts, Seq("incident_id"), "left")
      .select(col("incident_id"), col("incident_ts"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("cc_sum"), lit(0L)).as("click_cents"))
  }

  /** ROLLUP hierarchy aggregation (region → nation → grand total) over the
    * full order/customer join — one grouping-sets pass, NOT three separate
    * scans unioned. NULL group markers are the subtotal rows on both
    * engines; r_name/n_name are never NULL in the data so the markers are
    * unambiguous without grouping_id.
    */
  private def q28Rollup = QueryDef.sql(
    "q28_rollup",
    s"""SELECT r_name, n_name, count(*) AS n_rows,
      |  ${revenueTDuck("l_extendedprice", "l_discount")} AS revenue_t
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
          .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      // The rollup's () cell is an UNGROUPED global revenue sum — the
      // q49 accumulator class — so the sum rides DECIMAL(38,0) and
      // down-casts the 30-row result to BIGINT, which is exactly
      // DuckDB's native semantics (HUGEINT accumulation, BIGINT cast
      // in revenueTDuck). At test scale the cast is lossless; at the
      // 100 TB grand total the OUTPUT type graduates with the same
      // one-line swap.
      .agg(count(lit(1)).as("n_rows"),
        revenueT(col("l_extendedprice"), col("l_discount"),
          "decimal(38,0)").cast("long").as("revenue_t"))
  }

  /** PIVOT (long → wide) with an explicit value list: order counts per
    * status × priority. The fixed list keeps the plan a single grouped
    * aggregation (no values-discovery pre-pass) and the output schema
    * static — the form that scales. Pivot cells with no rows are NULL in
    * Spark and 0 from the oracle's SUM(CASE); coalesce on the Spark side
    * pins both to 0. Output names are sanitized (parquet rejects spaces
    * in field names).
    */
  private def q29Pivot = QueryDef.sql(
    "q29_pivot",
    """SELECT o_orderstatus,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS urgent,
      |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS high,
      |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS medium,
      |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS not_specified,
      |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS low
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wide = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
    val names = Seq(
      "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
      "4-NOT SPECIFIED" -> "not_specified", "5-LOW" -> "low")
    wide.select(col("o_orderstatus") +:
      names.map { case (v, n) =>
        coalesce(col(s"`$v`"), lit(0L)).as(n)
      }: _*)
  }

  /** Incremental merge / upsert (the dbt `incremental` materialization
    * and SQL MERGE INTO, keep-latest-version-per-key flavor): a base
    * snapshot unioned with an update batch, resolved to one surviving
    * row per key by version argmax. The update batch here is derived
    * DETERMINISTICALLY from orders (keys divisible by 7 get a status
    * flip and a 10.00 price bump, computed in exact cents) so both
    * engines construct identical inputs; the operator under test is the
    * merge itself.
    *
    * Scale: one hash shuffle of (key, version, changed columns) — the
    * struct-argmax resolves map-side partials first, so the exchange
    * carries one row per key per partition, not the union's full row
    * count. No join: the DuckDB twin keeps the portable
    * max-then-filter formulation, the Spark side uses the single
    * struct-max aggregate (version is distinct per key, so later struct
    * fields never decide the max).
    */
  private def q30IncrementalMerge = QueryDef.sql(
    "q30_incremental_merge",
    s"""WITH base AS (SELECT o_orderkey, 0 AS version, o_orderstatus,
       |    ${centsDuck("o_totalprice")} AS cents
       |  FROM orders),
       |upd AS (SELECT o_orderkey, 1 AS version, 'U' AS o_orderstatus,
       |    ${centsDuck("o_totalprice")} + 1000 AS cents
       |  FROM orders WHERE o_orderkey % 7 = 0),
       |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       |m AS (SELECT o_orderkey, max(version) AS v FROM u
       |  GROUP BY o_orderkey)
       |SELECT u.o_orderkey, CAST(u.version AS INT) AS version,
       |  u.o_orderstatus, u.cents
       |FROM u JOIN m ON u.o_orderkey = m.o_orderkey AND u.version = m.v
       |ORDER BY u.o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val base = orders.select(
      col("o_orderkey"), lit(0).as("version"), col("o_orderstatus"),
      cents(col("o_totalprice")).as("cents"))
    val upd = orders.filter(col("o_orderkey") % 7 === 0).select(
      col("o_orderkey"), lit(1).as("version"),
      lit("U").as("o_orderstatus"),
      (cents(col("o_totalprice")) + 1000L).as("cents"))
    base.unionByName(upd)
      .groupBy("o_orderkey")
      .agg(max(struct(col("version"), col("o_orderstatus"), col("cents")))
        .as("m"))
      .select(col("o_orderkey"), col("m.version").as("version"),
        col("m.o_orderstatus").as("o_orderstatus"),
        col("m.cents").as("cents"))
      .orderBy("o_orderkey")
  }

  /** Per-group top-k (top-3 orders by value within each priority class)
    * via `row_number` over a PARTITIONED window + rank filter. Spark 4
    * compiles this rank-filter shape into WindowGroupLimit with a
    * partial (map-side) phase, so each task emits at most k rows per
    * group BEFORE the exchange — the shuffle carries ~k rows per
    * (group, input partition) instead of the whole table, the
    * distributed form of q13's global TakeOrdered. Deterministic
    * tie-break: (cents, o_orderkey) is unique.
    */
  private def q31TopkPerGroup = QueryDef.sql(
    "q31_topk_per_group",
    s"""WITH r AS (SELECT o_orderpriority, o_orderkey,
       |    ${centsDuck("o_totalprice")} AS cents,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY ${centsDuck("o_totalprice")} DESC, o_orderkey)
       |      AS rnk
       |  FROM orders)
       |SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
       |  cents
       |FROM r WHERE rnk <= 3
       |ORDER BY o_orderpriority, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        cents(col("o_totalprice")).as("cents"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("o_orderpriority", "rnk")
  }

  /** Hot-key-safe fact-dim join via explicit salting
    * ([[graft.operators.SkewJoin.saltedEquiJoin]]): the fact side's key
    * is spread over 8 salt values and the dim side replicated per salt,
    * so a pathologically hot key occupies 8 tasks instead of straggling
    * one — the manual form of AQE's skew-join split, usable when the
    * skew is known ahead of time or AQE's thresholds won't trigger.
    * Results are identical to the plain equi-join BY CONSTRUCTION (each
    * fact row meets its dim row exactly once, under its own salt), which
    * is exactly what the oracle asserts: the DuckDB twin is the UNSALTED
    * join + aggregation. Revenue in exact integer cents.
    */
  private def q32SaltedJoin = QueryDef.sql(
    "q32_salted_join",
    s"""SELECT o.o_orderstatus,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  ${revenueTDuck("l.l_extendedprice", "l.l_discount")} AS revenue_t
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin) {
    (s, dir) =>
      val fact = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"),
          col("l_extendedprice"), col("l_discount"))
      val dim = Tables.orders(s, dir)
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      graft.operators.SkewJoin.saltedEquiJoin(fact, dim, "okey", salts = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          revenueT(col("l_extendedprice"), col("l_discount"))
            .as("revenue_t"))
        .orderBy("o_orderstatus")
  }

  /** GROUPING SETS with explicit grouping markers — the general form of
    * q28's ROLLUP: three chosen aggregation levels ((status, priority),
    * (status), (priority)) in one pass over the fact table, with
    * `grouping()` flags disambiguating a real NULL group key from a
    * rolled-up one. One shuffle total: Spark expands the sets map-side
    * and aggregates once, exactly like the SQL. Counts are exact
    * integers; the NULL-vs-rollup distinction is the correctness edge
    * this query pins.
    */
  private def q33GroupingSets = QueryDef.sql(
    "q33_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), (o_orderpriority))
      |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
      |""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).createOrReplaceTempView("q33_orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
        |  count(*) AS n_orders
        |FROM q33_orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        |""".stripMargin)
  }

  /** INTERSECT / EXCEPT set operations (distinct semantics) — customer
    * retention across two halves of the order history: buyers active in
    * BOTH periods (INTERSECT) vs active early but gone late (EXCEPT).
    * Rounds out the set-op family beyond q9's UNION ALL; both compile
    * to aggregate/anti-join shapes on the shuffled key, no special
    * operator needed at scale.
    *
    * The split date sits MID-RANGE (testdata orders span 1995-01-01..
    * 2001-08-01): a 1995-01-01 cut would leave the "early" set empty
    * at sf0.01 — both branches would return 0 rows and the hash match
    * would prove nothing about set-op semantics. With
    * the 1998-07-01 cut both the INTERSECT and the EXCEPT branch are
    * non-empty at every shipped SF, so the oracle row exercises the
    * distinct-set machinery it claims to.
    */
  private def q34SetOps = QueryDef.sql(
    "q34_set_ops",
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1998-07-01 00:00:00'),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-07-01 00:00:00')
      |SELECT 'retained' AS status, o_custkey
      |FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'churned' AS status, o_custkey
      |FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |ORDER BY status, o_custkey""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val cut = lit("1998-07-01 00:00:00").cast("timestamp")
    val early = orders.filter(col("o_orderdate") < cut)
      .select("o_custkey").distinct()
    val late = orders.filter(col("o_orderdate") >= cut)
      .select("o_custkey").distinct()
    early.intersect(late)
      .select(lit("retained").as("status"), col("o_custkey"))
      .unionByName(early.except(late)
        .select(lit("churned").as("status"), col("o_custkey")))
      .orderBy("status", "o_custkey")
  }

  /** Distribution-rank windows — ntile quartiles and percent_rank of
    * customer spend WITHIN each nation. The window is partitioned by
    * nation (never a global ORDER BY window — that is one task at any
    * scale); per-partition work is one nation's customers. Rank inputs
    * are exact integer cents with a unique (cents, custkey) ordering,
    * so ntile boundaries and percent_rank = (rank-1)/(n-1) are
    * bit-identical across engines.
    */
  private def q35RankDistribution = QueryDef.sql(
    "q35_rank_distribution",
    s"""WITH spend AS (SELECT c_nationkey, o_custkey,
       |    CAST(sum(${centsDuck("o_totalprice")}) AS BIGINT) AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY c_nationkey, o_custkey)
       |SELECT c_nationkey, o_custkey, cents,
       |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       |  round(percent_rank() OVER w, 4) AS pr
       |FROM spend
       |WINDOW w AS (PARTITION BY c_nationkey
       |  ORDER BY cents DESC, o_custkey)
       |ORDER BY c_nationkey, quartile, cents DESC, o_custkey""".stripMargin) {
    (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, dir)
        .select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(sum(col("c")).as("cents"))
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("cents").desc, col("o_custkey"))
      spend
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", round(percent_rank().over(w), 4))
        .orderBy(col("c_nationkey"), col("quartile"), col("cents").desc,
          col("o_custkey"))
  }

  /** Calendar densification (gap filling): explode a generated date
    * sequence and left-join the real daily order counts, so days with
    * no orders appear as zeros — the sequence()/generate_series
    * table-generator surface beyond explode-over-data. The generated
    * side is bounded by the date range, not the corpus; the count side
    * is one groupBy.
    */
  private def q36DateDensify = QueryDef.sql(
    "q36_date_densify",
    """WITH days AS (SELECT unnest(generate_series(DATE '1995-01-01',
      |    DATE '1995-03-31', INTERVAL 1 DAY))::DATE AS d),
      |cnt AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT days.d, COALESCE(n, 0) AS n_orders
      |FROM days LEFT JOIN cnt ON days.d = cnt.d
      |ORDER BY days.d""".stripMargin) { (s, dir) =>
    val days = s.range(1).select(
      explode(sequence(
        lit("1995-01-01").cast("date"), lit("1995-03-31").cast("date"),
        expr("interval 1 day"))).as("d"))
    val cnt = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01 00:00:00").cast("timestamp"))
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    days.join(cnt, Seq("d"), "left")
      .select(col("d"), coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("d")
  }

  /** Slowly-changing-dimension (type 2) history build: collapse each
    * customer's order-status stream into validity intervals — a row per
    * status CHANGE carrying [valid_from, valid_to) and an is_current
    * flag. The change detection (lag ≠ current) and interval closing
    * (lead of the next change) are both windows partitioned by
    * customer — per-key state, no data-bearing global window; orders has
    * no NULL keys/dates (and a NULL orderdate would need an explicit
    * NULLS placement to stay engine-portable: Spark sorts nulls first,
    * DuckDB last).
    */
  private def q37Scd2History = QueryDef.sql(
    "q37_scd2_history",
    """WITH h AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |c AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
      |  FROM h WHERE prev IS NULL OR prev <> o_orderstatus)
      |SELECT o_custkey AS custkey, o_orderkey AS change_key,
      |  o_orderstatus AS status, o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |  CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) IS NULL THEN 1 ELSE 0 END
      |    AS is_current
      |FROM c ORDER BY custkey, valid_from, change_key""".stripMargin) {
    (s, dir) =>
      val wk = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val changes = Tables.orders(s, dir)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
        .withColumn("prev", lag(col("o_orderstatus"), 1).over(wk))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      changes
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(wk))
        .select(col("o_custkey").as("custkey"),
          col("o_orderkey").as("change_key"),
          col("o_orderstatus").as("status"),
          col("o_orderdate").as("valid_from"), col("valid_to"),
          when(col("valid_to").isNull, lit(1)).otherwise(lit(0))
            .as("is_current"))
        .orderBy("custkey", "valid_from", "change_key")
  }

  /** Time-based RANGE window frame (vs q25's ROWS frame): per event,
    * count and cents-sum of the same user's events in the trailing 10
    * minutes — the sliding-lookback feature a rate limiter or velocity
    * score needs. The frame is value-based so tied timestamps all enter
    * the frame together (set semantics — no tie-break needed, unlike
    * ROWS). Both engines order by integer epoch-MICROseconds: events.ts
    * is nanos in the file and both readers floor to µs, and an INTERVAL
    * bound over raw timestamps would hide that contract (the unix_micros
    * rule from q14/q17). Windows are user-partitioned — per-key state at
    * scale, no global window.
    */
  private def q38RangeFrame = QueryDef.sql(
    "q38_range_frame",
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus,
       |    ${centsDuck("value")} AS c FROM events)
       |SELECT event_id, user_id,
       |  CAST(count(*) OVER w AS BIGINT) AS n_10m,
       |  CAST(sum(c) OVER w AS BIGINT) AS cents_10m
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY tus
       |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-600000000L, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), cents(col("value")).as("c"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_10m"),
        sum(col("c")).over(w).as("cents_10m"))
      .orderBy("event_id")
  }

  /** Sequence-pattern detection (a bounded MATCH_RECOGNIZE): per user,
    * count strictly consecutive view → click → purchase triples in
    * event order — the conversion-funnel shape. Fixed-length adjacency
    * is a pair of lead() columns over the user window (no pattern
    * automaton needed); per-user windows keep state per key at scale,
    * and ties are broken by event_id so the sequence is engine-portable.
    */
  private def q39FunnelPattern = QueryDef.sql(
    "q39_funnel_pattern",
    """WITH e AS (SELECT user_id, event_type,
      |    lead(event_type, 1) OVER w AS n1,
      |    lead(event_type, 2) OVER w AS n2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, count(*) AS n_funnels FROM e
      |WHERE event_type = 'view' AND n1 = 'click' AND n2 = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("n1"),
        lead(col("event_type"), 2).over(w).as("n2"))
      .filter(col("event_type") === "view" && col("n1") === "click" &&
        col("n2") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_funnels"))
      .orderBy("user_id")
  }

  /** Incremental aggregate maintenance — the dbt-incremental /
    * materialized-rollup contract: a per-customer summary maintained by
    * MERGING a delta batch's partial aggregate into the existing state
    * must equal recomputing over everything. Spark keeps the PARTIAL
    * state per group (count/sum/min/max are mergeable; avg derives from
    * sum÷count at read time — never merge averages), so refreshing the
    * rollup costs one pass over the DELTA plus a state-table merge, not
    * a 100 TB recompute. The oracle IS the full recompute, so the
    * driver compare proves merge ≡ recompute; the base/delta split
    * (orderkey mod 4) stands in for yesterday's-state vs today's-batch.
    */
  private def q40IncrementalAgg = QueryDef.sql(
    "q40_incremental_agg",
    s"""SELECT o_custkey AS custkey,
       |  count(*) AS n_orders,
       |  CAST(sum(${centsDuck("o_totalprice")}) AS BIGINT) AS total_cents,
       |  min(o_orderdate) AS first_order, max(o_orderdate) AS last_order
       |FROM orders GROUP BY o_custkey ORDER BY custkey""".stripMargin) {
    (s, dir) =>
      val orders = Tables.orders(s, dir)
      def partial(side: DataFrame) = side.groupBy("o_custkey").agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
      val state = partial(orders.filter(col("o_orderkey") % 4 < 3))
      val delta = partial(orders.filter(col("o_orderkey") % 4 === 3))
      state.unionByName(delta)
        .groupBy("o_custkey").agg(
          sum(col("n_orders")).as("n_orders"),
          sum(col("total_cents")).as("total_cents"),
          min(col("first_order")).as("first_order"),
          max(col("last_order")).as("last_order"))
        .select(col("o_custkey").as("custkey"), col("n_orders"),
          col("total_cents"), col("first_order"), col("last_order"))
        .orderBy("custkey")
  }

  /** UNPIVOT / melt — the inverse of q29's pivot: a wide per-priority
    * summary (three metric columns) melted to (priority, metric, value)
    * long form, the shape metric stores and chart layers ingest. Uses
    * the native `Dataset.unpivot` (Spark's UNPIVOT surface, not a
    * hand-rolled stack of unions); all melted metrics share one LONG
    * type — unpivot requires a common value type, which is why the
    * money metric is integer cents here rather than a double.
    */
  private def q41Unpivot = QueryDef.sql(
    "q41_unpivot",
    s"""WITH wide AS (SELECT o_orderpriority,
       |    count(*) AS n_orders,
       |    CAST(sum(${centsDuck("o_totalprice")}) AS BIGINT)
       |      AS total_cents,
       |    count(DISTINCT o_custkey) AS n_custs
       |  FROM orders GROUP BY o_orderpriority)
       |SELECT o_orderpriority AS priority, name AS metric, value
       |FROM (UNPIVOT wide ON n_orders, total_cents, n_custs
       |  INTO NAME name VALUE value)
       |ORDER BY priority, metric""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy("o_orderpriority").agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"),
        countDistinct(col("o_custkey")).as("n_custs"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_cents"), col("n_custs")),
        "metric", "value")
      .select(col("o_orderpriority").as("priority"), col("metric"),
        col("value"))
      .orderBy("priority", "metric")
  }

  /** q2's star join over BUCKETED fact tables — the "bucketed mart
    * tables" lever from SCALING.md made a checkable query: lineitem and
    * orders are written once as same-bucket-count catalog tables on
    * their orderkey ([[graft.sources.Layout.writeBucketed]]), so the
    * fact-fact join plans as a SortMergeJoin directly over the bucketed
    * scans with NO shuffle exchange on either side — the standing
    * per-query shuffle of q2's biggest edge paid once at write time.
    * Result is identical to q2 (same oracle SQL); BucketedStarSpec pins
    * the zero-ShuffleExchange plan. The part dim stays unhinted exactly
    * as in q2 (AQE/threshold picks broadcast while it fits).
    *
    * The bucketed tables are built lazily per source dir and reused
    * while a marker-file fingerprint (schema + input-file paths, sizes,
    * mtimes — [[graft.sources.Layout.scanFingerprint]]) still matches:
    * a metadata-only freshness probe, so the reuse path runs zero count
    * jobs, and a source dir whose contents changed at equal row count
    * still triggers a rebuild. Mirrors production, where bucketing is a
    * write-time layout decision, not per-query work.
    * Cites reference dbt_sao/models/mart/fct_order_products.sql:13-33.
    */
  /** The bucketed lineitem/orders catalog-table pair for `dir` — q42's
    * lazy build-and-reuse logic, shared with q50b: one table pair per
    * source dir, rebuilt only when absent or when the marker-file
    * fingerprint (schema + input files/sizes/mtimes) says the source
    * changed. The tag is 64 bits of SHA-256 over the dir — a 32-bit
    * hash left two dirs one birthday-collision away from aliasing each
    * other's tables.
    */
  private def bucketedFacts(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val buckets = 16
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val liT = s"graft_bkt_lineitem_$tag"
    val oT = s"graft_bkt_orders_$tag"
    def ensure(df: DataFrame, table: String, key: String): Unit =
      graft.sources.Layout.writeBucketedIfStale(
        df, table, key, buckets, graft.sources.Layout.scanFingerprint(df))
    ensure(Tables.lineitem(s, dir), liT, "l_orderkey")
    ensure(Tables.orders(s, dir), oT, "o_orderkey")
    (s.table(liT), s.table(oT))
  }

  private def q42BucketedStar = QueryDef.sql(
    "q42_bucketed_star",
    """SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
      | l.l_partkey AS product_id, o.o_custkey AS customer_id,
      | CAST(o.o_orderdate AS DATE) AS order_date,
      | l.l_quantity AS quantity, p.p_retailprice AS product_price,
      | p.p_retailprice * 0.6 AS product_cost
      |FROM lineitem l
      |LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |ORDER BY order_id, line_no""".stripMargin) { (s, dir) =>
    val (l, o) = bucketedFacts(s, dir)
    val p = Tables.part(s, dir)
    // fact-fact edge FIRST: the bucketed l/o scans co-partition on
    // orderkey, so this join is exchange-free; joining part first would
    // reshuffle lineitem on partkey and throw the bucketing away. Left
    // joins on independent keys commute, so the result is still q2's.
    l.join(o, l("l_orderkey") === o("o_orderkey"), "left")
      .join(p, l("l_partkey") === p("p_partkey"), "left")
      .select(
        l("l_orderkey").as("order_id"),
        l("l_linenumber").as("line_no"),
        l("l_partkey").as("product_id"),
        o("o_custkey").as("customer_id"),
        o("o_orderdate").cast("date").as("order_date"),
        l("l_quantity").as("quantity"),
        p("p_retailprice").as("product_price"),
        (p("p_retailprice") * lit(0.6)).as("product_cost"))
    // corpus-scale output: no trailing sort (QueryDef convention)
  }

  /** Forward as-of join ([[graft.operators.AsofJoin]] with
    * `forward = true`): each click picks the user's EARLIEST purchase
    * at-or-after it — the conversion-latency shape, mirroring q26's
    * backward attribution. Same oracle discipline as q26: the window
    * carries only the never-NULL tie id (`first_value(IGNORE NULLS)`
    * forward) and the payload joins back by id, keeping both engines
    * reducing the same non-null sequence. One hash shuffle of
    * clicks+purchases by user_id; windows are user-partitioned.
    */
  private def q45AsofForward = QueryDef.sql(
    "q45_asof_forward",
    """WITH t AS (
      |  SELECT user_id, ts, 1 AS side, event_id AS tie,
      |         NULL::BIGINT AS c_id
      |    FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0, NULL, event_id
      |    FROM events WHERE event_type = 'click'),
      |w AS (
      |  SELECT user_id, ts, side, c_id,
      |    first_value(tie IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, side, tie
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS purchase_id
      |  FROM t)
      |SELECT w.c_id AS click_id, w.user_id, w.ts AS click_ts,
      |  w.purchase_id, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM w LEFT JOIN events p ON p.event_id = w.purchase_id
      |WHERE w.side = 0""".stripMargin) { (s, dir) =>
    import graft.operators.AsofJoin
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    AsofJoin.asofJoin(
        clicks, "click_ts", purchases, "purchase_ts",
        key = "user_id", buildTie = "purchase_id", prefix = "n_",
        forward = true)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("n_purchase_id").as("purchase_id"),
        col("n_purchase_ts").as("purchase_ts"),
        col("n_purchase_value").as("purchase_value"))
  }

  /** q17's sessionization via the SKEW-SAFE chunked operator
    * ([[graft.operators.GapSessions.sessionsChunked]]): the event-level
    * window partitions by (user, 6-hour time chunk) instead of user
    * alone, so a pathological single-user stream — SCALING.md's named
    * q17 risk — spreads across tasks; cross-chunk sessions are stitched
    * by a merge chain over ≤ 2 boundary-session rows per chunk. The
    * oracle is q17's SQL VERBATIM: identical sessions is the operator's
    * contract (GapSessionsSpec pins it for adversarial chunk sizes;
    * this query pins it against DuckDB on the real events table).
    */
  private def q46SessionizeChunked = QueryDef.sql(
    "q46_sessionize_chunked",
    """WITH o AS (SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (SELECT user_id, event_id, ts,
      |    CASE WHEN prev_ts IS NULL
      |           OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS is_new
      |  FROM o),
      |s AS (SELECT user_id, event_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM m)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  min(ts) AS session_start,
      |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
      |    AS duration_sec
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin) { (s, dir) =>
    import graft.operators.GapSessions
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
    val sess = GapSessions.sessionsChunked(
      ev, "user_id", "tsu", "event_id",
      gap = 1800L * 1000000L, chunkSize = 6L * 3600L * 1000000L)
    // session_idx: the running gap-split counter equals the session's
    // time rank per user (sessions are disjoint, starts strictly
    // increase) — a window over SESSION rows, far below event volume
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("session_start"))
    sess
      .withColumn("session_idx", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        timestamp_micros(col("session_start")).as("session_start"),
        // q17's duration: timestamp→long casts floor to whole seconds
        (expr("session_end div 1000000") - expr("session_start div 1000000"))
          .as("duration_sec"))
      .orderBy("user_id", "session_idx")
  }

  /** q45's forward as-of via the SKEW-SAFE chunked operator
    * ([[graft.operators.AsofJoin.asofJoinChunked]], 6-hour chunks): the
    * user window becomes a (user, chunk) window plus a bounded boundary
    * patch — the "salt a pathological key" lever for q26/q45's shape.
    * Oracle is q45's SQL verbatim (identical result is the contract).
    */
  private def q47AsofChunked = QueryDef.sql(
    "q47_asof_chunked",
    """WITH t AS (
      |  SELECT user_id, ts, 1 AS side, event_id AS tie,
      |         NULL::BIGINT AS c_id
      |    FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, 0, NULL, event_id
      |    FROM events WHERE event_type = 'click'),
      |w AS (
      |  SELECT user_id, ts, side, c_id,
      |    first_value(tie IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, side, tie
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS purchase_id
      |  FROM t)
      |SELECT w.c_id AS click_id, w.user_id, w.ts AS click_ts,
      |  w.purchase_id, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM w LEFT JOIN events p ON p.event_id = w.purchase_id
      |WHERE w.side = 0""".stripMargin) { (s, dir) =>
    import graft.operators.AsofJoin
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    AsofJoin.asofJoinChunked(
        clicks, "click_ts", purchases, "purchase_ts",
        key = "user_id", buildTie = "purchase_id",
        chunkSize = 6L * 3600L, // ts casts to whole seconds
        prefix = "n_", forward = true)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("n_purchase_id").as("purchase_id"),
        col("n_purchase_ts").as("purchase_ts"),
        col("n_purchase_value").as("purchase_value"))
  }

  /** CUBE aggregate — completes the grouping-extension family (q28
    * ROLLUP, q33 GROUPING SETS): revenue and row counts over region ×
    * order-status with ALL four marginal combinations, plus grouping()
    * flags so NULL-as-ALL is distinguishable from a NULL group value.
    * Same physical shape as a plain groupBy at scale: Spark expands the
    * grouping sets map-side (each row feeds 4 partial aggregates) and
    * shuffles one low-cardinality aggregation.
    */
  private def q43Cube = QueryDef.sql(
    "q43_cube",
    s"""SELECT r_name, o_orderstatus,
       |  CAST(grouping(r_name) AS INT) AS g_region,
       |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
       |  count(*) AS n_rows,
       |  ${revenueTDuck("l_extendedprice", "l_discount")} AS revenue_t
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY CUBE(r_name, o_orderstatus)
       |ORDER BY g_region, g_status, r_name, o_orderstatus""".stripMargin) {
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)
            .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("o_orderstatus"))
        .agg(
          grouping(col("r_name")).cast("int").as("g_region"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          count(lit(1)).as("n_rows"),
          // cube's (,) cell = ungrouped global sum → the q28/q49
          // DECIMAL(38,0) accumulator, BIGINT cast on the tiny result
          revenueT(col("l_extendedprice"), col("l_discount"),
            "decimal(38,0)").cast("long").as("revenue_t"))
        .select("r_name", "o_orderstatus", "g_region", "g_status",
          "n_rows", "revenue_t")
        .orderBy("g_region", "g_status", "r_name", "o_orderstatus")
  }

  /** Time-series gap-fill with forward-fill AND linear interpolation —
    * the imputation step between q36's densify (fill-with-zero) and a
    * downstream model: hourly purchase revenue over the corpus month,
    * missing hours carrying (a) the last observed value and (b) the
    * linear interpolation between the surrounding observations. The
    * hourly totals are INTEGER cents (engine-portable sums — the q25
    * rule); interpolation arithmetic is per-row integer math with one
    * final double division, so no cross-row float accumulation exists
    * anywhere. The windows run over the CALENDAR SPINE (720 rows, fixed
    * by the date-range literal — bounded by construction, never by
    * data; PlanLintSpec carries a named allowance), not over the event
    * table: at 100 TB the events aggregate to the same 720-row frame
    * before any unpartitioned work happens.
    */
  private def q44Interpolate = {
    // 2024-01-01T00Z .. 2024-01-30T23Z as hours-since-epoch
    val hr0 = 1704067200L / 3600
    val hrN = hr0 + 720
    QueryDef.pinned(
      "q44_interpolate",
      s"""WITH spine AS (SELECT unnest(range($hr0, $hrN)) AS hr),
         |obs AS (SELECT epoch_us(ts) // 3600000000 AS hr,
         |    CAST(sum(${centsDuck("value")}) AS BIGINT) AS obs_cents
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |j AS (SELECT spine.hr AS hr, obs_cents FROM spine
         |  LEFT JOIN obs ON spine.hr = obs.hr),
         |w AS (SELECT hr, obs_cents,
         |    last_value(obs_cents IGNORE NULLS) OVER
         |      (ORDER BY hr ROWS UNBOUNDED PRECEDING) AS ffill_cents,
         |    last_value(CASE WHEN obs_cents IS NOT NULL THEN hr END
         |      IGNORE NULLS) OVER
         |      (ORDER BY hr ROWS UNBOUNDED PRECEDING) AS prev_hr,
         |    first_value(CASE WHEN obs_cents IS NOT NULL THEN hr END
         |      IGNORE NULLS) OVER (ORDER BY hr
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hr,
         |    first_value(obs_cents IGNORE NULLS) OVER (ORDER BY hr
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v
         |  FROM j)
         |SELECT hr, obs_cents, ffill_cents,
         |  CASE WHEN obs_cents IS NOT NULL THEN CAST(obs_cents AS DOUBLE)
         |    ELSE round(ffill_cents + (next_v - ffill_cents) * (hr - prev_hr)
         |      / CAST(next_hr - prev_hr AS DOUBLE), 4) END AS interp_cents
         |FROM w ORDER BY hr""".stripMargin) { (p, s, dir) =>
      val obs = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy((unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"))
        .agg(sum(cents(col("value"))).as("obs_cents"))
      val spine = s.range(hr0, hrN).select(col("id").as("hr"))
      val j = spine.join(obs, Seq("hr"), "left")
        .select(col("hr"), col("obs_cents"))
      // Day-bucketed segmented scan: every window is PARTITIONED
      // by hr div 24 (≤ 30 day buckets over the 720-hour spine literal)
      // instead of the former unpartitioned single-task pair; cross-day
      // carry rides the per-day observation summary via two bounded
      // non-equi extrema joins — hr is unique, so max/min over
      // (hr, value) structs are exactly the last/first observations.
      // 720-row spine, materialized once: the within-window, day-summary
      // and day-spine branches all read it.
      val jd = p.checkpoint(j.withColumn("__d", expr("hr div 24")))
      val back = Window.partitionBy("__d").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy("__d").orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsHr = when(col("obs_cents").isNotNull, col("hr"))
      val within = jd.select(
        col("hr"), col("__d"), col("obs_cents"),
        last(col("obs_cents"), ignoreNulls = true).over(back)
          .as("w_ffill"),
        last(obsHr, ignoreNulls = true).over(back).as("w_prev"),
        first(obsHr, ignoreNulls = true).over(fwd).as("w_next"),
        first(col("obs_cents"), ignoreNulls = true).over(fwd)
          .as("w_nextv"))
      val days = jd.filter(col("obs_cents").isNotNull)
        .groupBy(col("__d").as("__od"))
        .agg(max(struct(col("hr"), col("obs_cents"))).as("lasto"),
          min(struct(col("hr"), col("obs_cents"))).as("firsto"))
      val dspine = jd.select("__d").distinct()
      val carryIn = dspine.as("a")
        .join(broadcast(days.as("p")), col("p.__od") < col("a.__d"),
          "left")
        .groupBy(col("a.__d").as("__d"))
        .agg(max(col("p.lasto")).as("ci"))
      val carryOut = dspine.as("a")
        .join(broadcast(days.as("n")), col("n.__od") > col("a.__d"),
          "left")
        .groupBy(col("a.__d").as("__d"))
        .agg(min(col("n.firsto")).as("co"))
      within
        .join(broadcast(carryIn), "__d")
        .join(broadcast(carryOut), "__d")
        .select(
          col("hr"), col("obs_cents"),
          coalesce(col("w_ffill"), col("ci.obs_cents")).as("ffill_cents"),
          coalesce(col("w_prev"), col("ci.hr")).as("prev_hr"),
          coalesce(col("w_next"), col("co.hr")).as("next_hr"),
          coalesce(col("w_nextv"), col("co.obs_cents")).as("next_v"))
        .select(
          col("hr"), col("obs_cents"), col("ffill_cents"),
          when(col("obs_cents").isNotNull, col("obs_cents").cast("double"))
            .otherwise(round(
              col("ffill_cents") + (col("next_v") - col("ffill_cents")) *
                (col("hr") - col("prev_hr")) /
                (col("next_hr") - col("prev_hr")).cast("double"), 4))
            .as("interp_cents"))
        .orderBy("hr")
    }
  }

  /** Cohort-retention triangle over the events stream: users are
    * cohorted by their FIRST active week (integer week index from a
    * fixed epoch — pure date arithmetic, no timezone-sensitive
    * truncation), and each (cohort, week-offset) cell reports how many
    * cohort members were active that many weeks later, with retention
    * in integer basis points. The classic product-analytics matrix
    * (offset 0 is 10000 bp by construction — every user is active in
    * their own first week), and the relational pattern it pins is the
    * self-referential two-level aggregate: a per-user min feeding a
    * per-(min, value) rollup.
    *
    * Scale (100 TB): ONE user-keyed exchange serves all three passes —
    * the (user, week) distinct collapse, the per-user min, and the
    * cohort join-back (partitioning on user_id satisfies each
    * clustering by the subset rule); the retention matrix itself is
    * #cohorts × #offsets rows, joined against a broadcast cohort-size
    * frame. Per-user state never exceeds its distinct active weeks.
    */
  private def q48CohortRetention = QueryDef.sql(
    "q48_cohort_retention",
    """WITH uw AS (SELECT DISTINCT user_id,
      |    CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT)
      |      AS wk
      |  FROM events),
      |coh AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
      |sz AS (SELECT cohort, count(*) AS cohort_size FROM coh
      |  GROUP BY cohort),
      |act AS (SELECT c.cohort, u.wk - c.cohort AS week_offset,
      |    count(*) AS n_active
      |  FROM uw u JOIN coh c ON c.user_id = u.user_id
      |  GROUP BY 1, 2)
      |SELECT a.cohort AS cohort_week, a.week_offset, a.n_active,
      |  s.cohort_size,
      |  a.n_active * 10000 // s.cohort_size AS retention_bp
      |FROM act a JOIN sz s ON s.cohort = a.cohort
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
    val wk = expr("datediff(to_date(ts), date'2024-01-01') div 7")
      .cast("long")
    val uw = Tables.events(s, dir)
      .select(col("user_id"), wk.as("wk"))
      .repartition(col("user_id"))
      .distinct()
    val coh = uw.groupBy("user_id").agg(min(col("wk")).as("cohort"))
    val sz = coh.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    val act = uw.join(coh, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    act.join(broadcast(sz), "cohort")
      .select(col("cohort").as("cohort_week"), col("week_offset"),
        col("n_active"), col("cohort_size"),
        expr("n_active * 10000 div cohort_size").as("retention_bp"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }
  /** Revenue-concentration screen (TPC-H-Q11-shaped HAVING-vs-total):
    * parts whose discounted revenue exceeds 1.4× the MEAN per-part
    * share of total revenue. The predicate is expressed scale-free —
    * `rev·n_parts·10 ≥ 14·total` — so the same query surfaces the
    * upper tail at any corpus size (an absolute ppm threshold would
    * silently empty as the part count grows), and every comparison is
    * integer ten-thousandths (the q1 revenue discipline: no float
    * crosses a filter). `mean_x_bp` reports each survivor's multiple
    * of the mean share in basis points (10000 = exactly mean).
    *
    * Scale (100 TB): one part-keyed revenue aggregation (map-side
    * partial), a one-row total broadcast onto the #parts-sized frame,
    * one integer filter. The relational pattern pinned is HAVING
    * against a global aggregate — the decorrelated form of TPC-H Q11's
    * scalar subquery.
    */
  private def q49RevenueShare = QueryDef.sql(
    "q49_revenue_share",
    s"""WITH rev AS (SELECT l_partkey,
       |    ${revenueTDuck("l_extendedprice", "l_discount")} AS rev_t
       |  FROM lineitem GROUP BY l_partkey),
       |np AS (SELECT count(*) AS n_parts, sum(CAST(rev_t AS HUGEINT))
       |    AS total_t
       |  FROM rev)
       |SELECT l_partkey, rev_t,
       |  CAST(CAST(rev_t AS HUGEINT) * np.n_parts * 10000 // np.total_t
       |    AS BIGINT) AS mean_x_bp
       |FROM rev CROSS JOIN np
       |WHERE CAST(rev_t AS HUGEINT) * np.n_parts * 10 >= 14 * np.total_t
       |ORDER BY l_partkey""".stripMargin) { (s, dir) =>
    val rev = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(revenueT(col("l_extendedprice"), col("l_discount")).as("rev_t"))
    // total_t is the GLOBAL revenue sum — the one accumulator in this
    // query with no group bounding its row count, so it takes the
    // DECIMAL(38,0) lever (SCALING.md's integer-headroom rule: BIGINT
    // overflows at the ~600B-row 100 TB fact; DuckDB mirrors with its
    // native HUGEINT sum). rev_t stays BIGINT — per-part rows are
    // bounded. The comparison/ratio products ride the decimal too
    // (rev_t·n_parts·10⁴ alone exceeds BIGINT at fleet part counts);
    // `div` (IntegralDivide) returns BIGINT on both engines' surfaces.
    val np = rev.agg(count(lit(1)).as("n_parts"),
      sum(col("rev_t").cast("decimal(38,0)")).as("total_t"))
    rev.crossJoin(broadcast(np))
      .filter(col("rev_t").cast("decimal(38,0)") * col("n_parts") * 10
        >= lit(14) * col("total_t"))
      .select(col("l_partkey"), col("rev_t"),
        expr("cast(rev_t as decimal(38,0)) * n_parts * 10000 div total_t")
          .as("mean_x_bp"))
      .orderBy(col("l_partkey"))
  }

  /** TPC-H-Q15-shaped top supplier(s): the supplier(s) achieving the
    * MAXIMUM revenue over a fixed ship-date quarter, ties KEPT — the
    * argmax-against-a-derived-aggregate pattern (Q15's
    * `WHERE total = (SELECT max(total) ...)` scalar subquery), which
    * is a different decorrelation from q31's per-group top-k window
    * (no partition key: the comparison is against ONE global scalar)
    * and from q49's HAVING-vs-mean (threshold, not argmax). Revenue
    * follows the house integer ten-thousandths convention, so the
    * max-equality comparison is exact — a rounded-double revenue
    * would make "ties kept" engine-dependent at the last ulp.
    *
    * Plan shape: one supplier-keyed revenue aggregation over the
    * date-pruned fact scan (predicate pushed to parquet), a 1-row max
    * broadcast back onto the #suppliers frame (the e22 pattern —
    * Catalyst decorrelates the scalar subquery to exactly this), and
    * a broadcast supplier-dim join for the name. At 100 TB nothing
    * but the pruned fact scan is corpus-sized.
    *
    * Accumulator-type note (the q49 lever deliberately NOT applied):
    * the global scalar here is a MAX, not a sum — it never exceeds the
    * magnitude of its inputs, and each input rev_t is a per-supplier
    * GROUPED sum whose row count is bounded, so BIGINT headroom holds
    * end-to-end and the DECIMAL swap would buy nothing.
    */
  private def q51TopSupplier = QueryDef.sql(
    "q51_top_supplier",
    s"""WITH rev AS (SELECT l_suppkey,
       |    ${revenueTDuck("l_extendedprice", "l_discount")} AS rev_t
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey),
       |mx AS (SELECT max(rev_t) AS m FROM rev)
       |SELECT s.s_suppkey, s.s_name, r.rev_t,
       |  ${money2Duck("r.rev_t")} AS revenue
       |FROM rev r CROSS JOIN mx
       |JOIN supplier s ON s.s_suppkey = r.l_suppkey
       |WHERE r.rev_t = mx.m
       |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(revenueT(col("l_extendedprice"), col("l_discount")).as("rev_t"))
    val mx = rev.agg(max(col("rev_t")).as("m"))
    // The argmax survivors (≤ #ties rows by construction) are the side
    // to broadcast — supplier is fact-proportional, so hinting IT is
    // the q2/q50 scale mistake.
    val winners = rev.crossJoin(broadcast(mx))
      .filter(col("rev_t") === col("m"))
    Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"))
      .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_t"),
        money2("rev_t").as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H-Q7-shaped nation-pair volume: revenue flowing from a
    * supplier nation to a DIFFERENT customer nation per ship year —
    * the two-sided dimensional join (the same dimension joined twice
    * under two roles) the q-series didn't yet exercise. Unlike Q7's
    * two named nations, the full matrix ships: the artifact is the
    * trade-flow table itself, bounded by #nations² × years — dimension
    * cardinality, not fact volume. Revenue follows the house integer
    * ten-thousandths convention (fold-order-proof cross-engine).
    *
    * Plan shape: the one fact-fact shuffle is lineitem ⋈ orders on
    * orderkey; both NATION roles broadcast explicitly (25 rows by
    * construction — never scales). Supplier and customer carry NO
    * hint: they are fact-proportional dimensions (they scale with SF),
    * and per the q2 rule above a forced broadcast of a scaling side is
    * exactly the plan that dies at 100× — threshold/AQE picks
    * broadcast while they fit and shuffled-hash beyond, as q19/q20/q22
    * do. At 100 TB the orderkey join is the bucketed-star candidate
    * (q42's machinery); the nation-pair aggregate is map-side
    * combinable down to the ≤ 25²·years result grain.
    */
  private def q50NationVolume = QueryDef.sql(
    "q50_nation_volume",
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  ${revenueTDuck("l.l_extendedprice", "l.l_discount")}
       |    AS revenue_t
       |FROM lineitem l
       |JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
       |JOIN nation n1 ON n1.n_nationkey = sp.s_nationkey
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
       |WHERE n1.n_name <> n2.n_name
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) {
    (s, dir) =>
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sk"),
          col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("ck"),
          col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_nationkey")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n1), col("sk") === col("s_nationkey"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey")),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(n2), col("ck") === col("c_nationkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(count(lit(1)).as("n_items"),
          revenueT(col("l_extendedprice"), col("l_discount"))
            .as("revenue_t"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** q50 over the BUCKETED fact layout — the lever q50's SCALING row
    * names ("at true 100 TB this is the q42 bucketed-star candidate")
    * made a checkable query. The orderkey fact-fact edge — measured as
    * THE cost of q50 at the 100× probe (1.3 GB of 1.5 GB shuffled) —
    * joins exchange-free over [[bucketedFacts]]' co-bucketed scans
    * (paid once at write time, shared with q42); the two nation roles
    * broadcast explicitly (25 rows by construction), and supplier/
    * customer carry NO hint per the q2 rule — they are fact-
    * proportional, so threshold/AQE broadcasts them while they fit and
    * falls back to a shuffle join beyond. While the dims fit (every
    * benched SF) the ONLY shuffle in the plan is the final
    * (supp_nation, cust_nation, year) aggregation exchange over
    * partial aggregates — BucketedStarSpec pins that one-exchange
    * shape, with the broadcast-disabled variant proving bucketing
    * alone carries the fact edge. At true fleet scale customer
    * EVENTUALLY outgrows any broadcast and its join honestly costs a
    * custkey exchange (a custkey-bucketed customer table would not
    * help here: the stream side is partitioned by orderkey buckets, so
    * the stream, not the dim, would need the reshuffle) — the
    * exchange-free posture covers the fact edge, which is the measured
    * dominant cost (1.3 GB of 1.5 GB shuffled at the 100× probe), not
    * the dim edges.
    *
    * Fact-fact FIRST is load-bearing exactly as in q42: joining
    * supplier first would reshuffle lineitem on suppkey and throw the
    * bucketing away. Broadcast joins preserve the bucketed
    * partitioning, so the chain stays exchange-free until the rollup.
    */
  private def q50bNationVolumeBucketed = QueryDef.sql(
    "q50b_nation_volume_bucketed",
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  ${revenueTDuck("l.l_extendedprice", "l.l_discount")}
       |    AS revenue_t
       |FROM lineitem l
       |JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
       |JOIN nation n1 ON n1.n_nationkey = sp.s_nationkey
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
       |WHERE n1.n_name <> n2.n_name
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) {
    (s, dir) =>
      val (l, o) = bucketedFacts(s, dir)
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sk"),
          col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("ck"),
          col("n_name").as("cust_nation"))
      l.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(o.select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_nationkey")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n1), col("sk") === col("s_nationkey"))
        .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey")),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(n2), col("ck") === col("c_nationkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(count(lit(1)).as("n_items"),
          revenueT(col("l_extendedprice"), col("l_discount"))
            .as("revenue_t"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H-Q17-shaped small-quantity revenue: per brand, the revenue
    * carried by lineitems whose quantity is below 20 % of that PART's
    * average quantity — the correlated-AVG-subquery pattern
    * (Q17's `l_quantity < (SELECT 0.2*avg(l_quantity) ... same part)`),
    * decorrelated the way Catalyst rewrites it: one per-part aggregate
    * joined back onto the fact. This is the remaining classic
    * decorrelation the q-series lacked — q51 is compare-vs-ONE-global-
    * scalar, q31 is per-group top-k; this one compares every fact row
    * against ITS OWN group's aggregate, so the derived aggregate is
    * fact-keyed (#parts rows), never a broadcastable scalar.
    *
    * The 0.2·avg comparison is exact integer cross-multiplication:
    * quantities are integral by construction (cast asserted by the
    * stored data), so `qty < 0.2·(sq/c)` becomes `5·qty·c < sq` — no
    * division, no float, no engine disagreement at the boundary.
    * Revenue is undiscounted gross (Q17's convention) in exact integer
    * cents; `avg_yearly_c` is Q17's `sum/7.0` kept in integer floor
    * cents.
    *
    * Plan shape at 100 TB: the per-part aggregate and the join-back
    * BOTH key on l_partkey, so the fact shuffles once — the aggregate
    * side is a partial-agg (#parts rows) reusing the same exchange,
    * and Catalyst's SMJ output partitioning on l_partkey then
    * satisfies the part-dim join (p_partkey) with only the dim side
    * shuffling (part is fact-proportional — UNHINTED per the q2 rule;
    * threshold/AQE broadcasts it while it fits). The final 25-row
    * brand rollup is map-side combinable. Nothing corpus-sized moves
    * twice.
    */
  private def q52SmallQtyRevenue = QueryDef.sql(
    "q52_small_qty_revenue",
    s"""WITH li AS (SELECT l_partkey,
       |    CAST(l_quantity AS BIGINT) AS qty,
       |    ${centsDuck("l_extendedprice")} AS price_c
       |  FROM lineitem),
       |pq AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sq,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM li GROUP BY l_partkey),
       |sm AS (SELECT li.l_partkey, li.price_c
       |  FROM li JOIN pq ON pq.l_partkey = li.l_partkey
       |  WHERE 5 * li.qty * pq.c < pq.sq)
       |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small,
       |  CAST(sum(sm.price_c) AS BIGINT) AS total_c,
       |  CAST(sum(sm.price_c) // 7 AS BIGINT) AS avg_yearly_c
       |FROM sm JOIN part p ON p.p_partkey = sm.l_partkey
       |GROUP BY p.p_brand
       |ORDER BY p_brand""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"))
    val pq = li.groupBy("l_partkey")
      .agg(sum(col("qty")).as("sq"), count(lit(1)).as("c"))
    li.join(pq, "l_partkey")
      .filter(lit(5) * col("qty") * col("c") < col("sq"))
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        sum(col("price_c")).cast("long").as("total_c"))
      .select(col("p_brand"), col("n_small"), col("total_c"),
        expr("total_c div 7").as("avg_yearly_c"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H-Q21-shaped sole-blame audit, re-cast on the columns this
    * schema carries: per supplier, the returned lineitems
    * (l_returnflag = 'R') in MULTI-supplier orders where NO other
    * supplier's item in the same order was returned — Q21's
    * EXISTS (another supplier in the order) +
    * NOT EXISTS (another supplier who ALSO failed) correlated pair,
    * the one existential-chain shape the q-series lacked (q24 is a
    * single NOT EXISTS).
    *
    * The Spark side deliberately does NOT run the textbook plan (two
    * correlated self-joins of the full fact): both existentials are
    * functions of the ORDER's composition, so one pass computes the
    * per-(order, supplier) returned-line census, a second rollup on
    * the already-shrunk grain counts suppliers and R-suppliers per
    * order, and the existential pair collapses to
    * `n_supp > 1 AND n_supp_r = 1` on the census join-back. The oracle
    * keeps the EXISTS/NOT EXISTS text — result equality IS the
    * decorrelation-correctness proof.
    *
    * Plan shape at 100 TB: one fact-keyed exchange on
    * (l_orderkey, l_suppkey) with map-side partial aggregation, then
    * every later stage operates on the order grain or smaller — the
    * order rollup and the census join-back both key on l_orderkey
    * (exchange reused; the composite-keyed census is re-keyed on its
    * prefix, a shuffle of the CENSUS, never the fact). The textbook
    * self-join plan shuffles the full fact three times; this shuffles
    * it once. Supplier (fact-proportional) joins UNHINTED per the q2
    * rule; the final per-supplier rollup is dim-bounded.
    */
  private def q53SoleBlameSupplier = QueryDef.sql(
    "q53_sole_blame_supplier",
    s"""SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS n_blamed
       |FROM lineitem l1
       |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
       |WHERE l1.l_returnflag = 'R'
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_returnflag = 'R')
       |GROUP BY s.s_suppkey, s.s_name
       |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val census = Tables.lineitem(s, dir)
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("r_lines"))
    val perOrder = census.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("r_lines") > 0, 1L).otherwise(0L)).as("n_supp_r"))
    census
      .join(perOrder, "l_orderkey")
      .filter(col("r_lines") > 0 && col("n_supp") > 1 &&
        col("n_supp_r") === 1)
      .groupBy("l_suppkey")
      .agg(sum(col("r_lines")).as("n_blamed"))
      .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_blamed"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H-Q13-shaped customer order-count distribution: how many
    * customers placed exactly k orders, INCLUDING k = 0 — the
    * count-of-counts (two-level aggregation) over an OUTER join, the
    * one aggregate shape the q-series lacked. The zero bucket is the
    * whole point: an inner join silently drops order-less customers,
    * and Q13 exists to catch exactly that class of silent-loss bug —
    * so the left join is load-bearing and `count(o_orderkey)` (not
    * `count(*)`) is what makes an unmatched customer count as 0.
    * Q13's comment-filter is kept in spirit by excluding one order
    * priority class — a predicate on the ORDER side of the outer join,
    * which must live in the JOIN condition (in WHERE it would turn the
    * outer join back into an inner one — the classic outer-join
    * predicate-placement trap, pinned here by the zero bucket's
    * survival).
    *
    * Plan shape at 100 TB: one custkey-keyed exchange joins the
    * order-priority-filtered fact to customer (both sides shuffle —
    * customer is fact-proportional, no broadcast per the q2 rule),
    * the per-customer count partially aggregates map-side AFTER the
    * join, and the second aggregation runs on the #distinct-counts
    * grain (tens of rows). Nothing is row-expanded; the heavy side is
    * pruned by the pushed priority filter before the exchange.
    */
  private def q54CustDist = QueryDef.sql(
    "q54_cust_dist",
    s"""WITH pc AS (SELECT c.c_custkey,
       |    CAST(count(o.o_orderkey) AS BIGINT) AS c_count
       |  FROM customer c LEFT JOIN orders o
       |    ON o.o_custkey = c.c_custkey
       |      AND o.o_orderpriority <> '1-URGENT'
       |  GROUP BY c.c_custkey)
       |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       |FROM pc GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
    val pc = Tables.customer(s, dir).select(col("c_custkey"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
    pc.groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Event-type transition matrix — the first-order Markov census over
    * per-user event sequences: for every (from, to) pair, how many
    * adjacent-event transitions occurred and the row-conditional
    * probability in integer basis points. The SEQUENCE-bigram shape
    * the q-series lacked: q39's funnel matches one fixed pattern,
    * q17/q46 cut sessions on gaps; this reads the whole behavioral
    * grammar at once (which states feed `purchase`, whether `error`
    * self-loops) — the artifact behind bot screens (a user whose
    * transition rows are near-deterministic is a script; e126 reads
    * the same signal from the clock) and behavioral drift monitors.
    *
    * Determinism: adjacency is lag() per user ordered by (ts,
    * event_id) — the id tiebreak makes the order total even if a user
    * ever carries equal timestamps; counts and floor-bp are integers.
    *
    * Plan shape at 100 TB: one user-keyed exchange feeds the lag
    * window (bounded frames — every partition is one user's events),
    * transitions partially aggregate map-side into the ≤ #types² grid,
    * and the row totals ride a window over that bounded grid, not the
    * corpus. The events fact shuffles once.
    */
  private def q55EventTransitions = QueryDef.sql(
    "q55_event_transitions",
    s"""WITH seq AS (SELECT user_id, event_type AS to_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS from_type
       |  FROM events),
       |tr AS (SELECT from_type, to_type,
       |    CAST(count(*) AS BIGINT) AS n_trans
       |  FROM seq WHERE from_type IS NOT NULL
       |  GROUP BY from_type, to_type)
       |SELECT from_type, to_type, n_trans,
       |  n_trans * 10000 // CAST(sum(n_trans) OVER
       |    (PARTITION BY from_type) AS BIGINT) AS p_bp
       |FROM tr ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("to_type"),
        lag(col("event_type"), 1).over(byUser).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_trans"))
    tr.withColumn("row_total",
        sum(col("n_trans")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        expr("n_trans * 10000 div row_total").as("p_bp"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** TPC-H-Q19-shaped disjunctive-predicate join — revenue from three
    * OR'd (brand, size-range, quantity-range) conjunct groups, reported
    * per disjunct. The shape exists to pin the SCAN-side treatment of
    * OR-of-ANDs: a naive translation evaluates the whole disjunction
    * after the join, reading both tables in full. Here the disjunction's
    * IMPLIED prefilters are pulled up explicitly — `p_brand IN (b1,b2,
    * b3)` (with `p_size ≤ 50` implied free) reaches the part scan and
    * `l_quantity BETWEEN 1 AND 30` reaches the lineitem scan as
    * PushedFilters, so the join sees ~3/25 of part and ~3/5 of lineitem
    * before the residual CASE evaluates the exact per-disjunct
    * conjunctions. The three disjuncts are mutually exclusive by brand
    * (one brand per part), so the CASE tag is exactly the disjunction
    * split and Σ per-disjunct = the Q19 scalar. Revenue in exact integer
    * ten-thousandths ([[revenueT]]) — no float sum order dependence.
    *
    * Scale (100 TB): one partkey-keyed equi-join between two pruned
    * scans; part is fact-proportional so the join side stays UNHINTED
    * (threshold/AQE pick broadcast while it fits — the q2/q50 rule);
    * the aggregate is 3 groups, fully map-side partial. The pull-up is
    * the lever: without it the lineitem scan reads 100 TB, with it the
    * quantity band prunes ~2/5 at the source.
    * Ref: reference models join+filter surface (live_data models/marts;
    * SURVEY §2.2/§2.4) — this is the disjunctive-predicate member.
    */
  private def q56DisjunctRevenue = {
    val disjunctSql =
      """CASE
        |  WHEN p_brand = 'Brand#3'  AND p_size BETWEEN 1  AND 15
        |    AND l_quantity BETWEEN 1  AND 11 THEN 1
        |  WHEN p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 10 AND 20 THEN 2
        |  WHEN p_brand = 'Brand#21' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 20 AND 30 THEN 3
        |END""".stripMargin
    QueryDef.sql(
      "q56_disjunct_revenue",
      s"""SELECT CAST($disjunctSql AS BIGINT) AS disjunct,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  ${revenueTDuck("l_extendedprice", "l_discount")} AS revenue_t
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE $disjunctSql IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // The implied prefilters, stated on the scans so they push down;
      // the residual CASE below is the exact disjunction.
      val li = Tables.lineitem(s, dir)
        .filter(col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val pt = Tables.part(s, dir)
        .filter(col("p_brand").isin("Brand#3", "Brand#12", "Brand#21"))
        .select("p_partkey", "p_brand", "p_size")
      li.join(pt, col("p_partkey") === col("l_partkey"))
        .withColumn("disjunct", expr(disjunctSql).cast("long"))
        .filter(col("disjunct").isNotNull)
        .groupBy("disjunct")
        .agg(count(lit(1)).as("n_items"),
          revenueT(col("l_extendedprice"), col("l_discount"))
            .as("revenue_t"))
        .orderBy("disjunct")
    }
  }

  /** TPC-H-Q16-shaped supplier-diversity census — distinct suppliers
    * shipping each (brand, size) slice, EXCLUDING an unwanted brand and
    * a "complaint list" of suppliers (negative account balance — the
    * NOT-IN side Q16 sources from comment scans). Two shapes pinned at
    * once: the ANTI-join exclusion (`l_suppkey NOT IN (...)` — exact
    * here because s_suppkey is never NULL; Spark runs LEFT ANTI, the
    * oracle keeps the textbook NOT IN) and COUNT(DISTINCT) per group.
    *
    * Scale (100 TB): count-distinct is the trap — Spark's two-phase
    * plan first collapses the fact to DISTINCT (brand, size, suppkey)
    * triples map-side (partial aggregation on the expand), so the one
    * exchange carries the distinct-triple set — bounded by
    * #parts·#suppliers-per-part, a small multiple of the part
    * dimension, NOT the fact. The exclusion list is fact-proportional
    * (supplier scales with SF) so it stays UNHINTED — threshold/AQE
    * broadcast it while it fits, per the q2/q50 rule. The final
    * order-by rides the ≤ #brands·#sizes group grain.
    */
  private def q57SupplierCensus = QueryDef.sql(
    "q57_supplier_census",
    """SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin) {
    (s, dir) =>
      val bad = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("l_suppkey"))
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey")
        .join(bad, Seq("l_suppkey"), "left_anti")
        .join(Tables.part(s, dir)
            .filter(col("p_brand") =!= "Brand#5")
            .select("p_partkey", "p_brand", "p_size"),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H-Q4-shaped EXISTS census — orders with at least one returned
    * lineitem, counted per order priority. q53 decorrelates its
    * existential CHAIN into a composition census; this pins the plain
    * single-EXISTS member as what it should be physically: a LEFT SEMI
    * join (the oracle keeps the textbook `WHERE EXISTS` correlated
    * form). Semi-join semantics — at most one match per order, no
    * duplicate inflation — is exactly what a naive inner-join + count
    * translation gets wrong when an order has several returned items.
    *
    * Scale (100 TB): the returned-items side is pre-filtered at the
    * scan (PushedFilters on l_returnflag) and collapses to DISTINCT
    * orderkeys inside the semi join; one orderkey-keyed exchange pair,
    * then the census partially aggregates map-side to the 5-priority
    * grain. No distinct-inflation risk, no second pass.
    */
  private def q58ReturnPriority = QueryDef.sql(
    "q58_return_priority",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val returned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"))
    Tables.orders(s, dir)
      .select("o_orderkey", "o_orderpriority")
      .join(returned, Seq("o_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H-Q22-shaped "untapped balance" census — customers with an
    * above-average positive account balance and NO orders at all,
    * counted per market segment (this corpus has no phone country
    * codes, so the census grain is c_mktsegment). The LAST census-family
    * decorrelation shape not yet pinned: the SCALAR subquery. Q13/Q16/
    * Q17/Q19/Q21/Q4 (q52–q58) cover correlated aggregates, NOT-IN,
    * per-group averages, disjunctions, existential chains, and EXISTS;
    * Q22 adds the ungrouped scalar aggregate used as a predicate
    * constant. Two decorrelations in one query: the scalar subquery
    * (global positive-balance average) becomes a ONE-ROW broadcast
    * compared CROSS-MULTIPLIED in exact integer cents
    * (bal_c · n_pos > tot_c — q52's no-float-average-boundary
    * discipline), and NOT EXISTS becomes a LEFT ANTI join on custkey
    * (q24's shape, here feeding a census instead of a row list).
    * Dormancy is WINDOWED — no orders since 2000-01-01, the corpus's
    * trailing ~19 months — because this generator gives every customer
    * early orders (Q22's no-orders-ever is empty at every SF; the
    * windowed form keeps the census populated at sf0.001/0.01/0.1 —
    * 5/55/646 customers — and moves the EXISTS predicate INTO the
    * correlated subquery, which decorrelates to an anti join against a
    * date-pruned orders scan).
    *
    * Scale (100 TB): customer is scanned twice, both scans pruned to
    * 3 columns; the one-row aggregate broadcasts by construction (the
    * naive correlated form recomputes the average per probe row); the
    * anti join shuffles the orders custkey projection once — both anti
    * sides are fact-proportional so they stay UNHINTED per the q2/q50
    * rule; the census is ≤ #segments groups, fully map-side. BIGINT
    * cents accumulators are safe at the segment grain (≤ ~10^10 rows
    * per group × ~10^6 cents — inside the SCALING.md headroom rule).
    */
  private def q59UntappedBalance = QueryDef.sql(
    "q59_untapped_balance",
    s"""WITH c AS (SELECT c_custkey, c_mktsegment,
       |    ${centsDuck("c_acctbal")} AS bal_c FROM customer),
       |g AS (SELECT CAST(sum(bal_c) AS BIGINT) AS tot_c,
       |    CAST(count(*) AS BIGINT) AS n_pos FROM c WHERE bal_c > 0)
       |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       |  CAST(sum(bal_c) AS BIGINT) AS total_bal_c
       |FROM c, g
       |WHERE bal_c * n_pos > tot_c
       |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val c = Tables.customer(s, dir).select(col("c_custkey"),
      col("c_mktsegment"), cents(col("c_acctbal")).as("bal_c"))
    val g = c.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("tot_c"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate")
        >= lit("2000-01-01 00:00:00").cast("timestamp"))
      .select(col("o_custkey").as("c_custkey"))
    c.crossJoin(broadcast(g))
      .filter(col("bal_c") * col("n_pos") > col("tot_c"))
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("total_bal_c"))
      .orderBy("c_mktsegment")
  }

  /** INTERVAL-overlap join ([[graft.operators.RangeJoin
    * .intervalOverlap]]): which error incidents intersected how many
    * active user sessions, and for how long — the join shape q27
    * cannot express, because BOTH sides are intervals of varying
    * length (q27's one manufactured bucket per point assumes one side
    * is a point and the other has fixed width). Sessions are q17's
    * gap-30-min sessions collapsed to CLOSED [first, last] micros
    * intervals; incidents are q27's error windows as closed
    * [ts, ts+10min]; overlap counts point touches (s_st ≤ i_en AND
    * i_st ≤ s_en) and its duration is least(ends) − greatest(starts)
    * in exact micros.
    *
    * Scale (100 TB of events): both sides explode to covering 1-hour
    * grid cells (fan ≈ span/cell + 1 — a few rows per session, 1–2 per
    * incident) and equi-join on the cell id; the naive form is a
    * nested loop over sessions × incidents. De-dup is the CLAIM-CELL
    * predicate — a pair survives only in the cell holding the
    * overlap's left edge — so no pair-grain DISTINCT exchange ever
    * runs (at fleet scale that second shuffle of the matched-pair set
    * dwarfs the join). Left semantics composed downstream, q27's rule.
    */
  private def q60OverlapJoin = QueryDef.sql(
    "q60_overlap_join",
    """WITH o AS (SELECT user_id, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_ts
      |  FROM events),
      |m AS (SELECT user_id, event_id, ts,
      |    CASE WHEN prev_ts IS NULL
      |           OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS is_new
      |  FROM o),
      |sx AS (SELECT user_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM m),
      |sess AS (SELECT user_id, session_idx,
      |    epoch_us(min(ts)) AS s_st, epoch_us(max(ts)) AS s_en
      |  FROM sx GROUP BY user_id, session_idx),
      |inc AS (SELECT event_id AS incident_id, epoch_us(ts) AS i_st,
      |    epoch_us(ts) + 600000000 AS i_en
      |  FROM events WHERE event_type = 'error' AND value >= 200),
      |pairs AS (SELECT i.incident_id, s.user_id,
      |    least(s.s_en, i.i_en) - greatest(s.s_st, i.i_st) AS ov_us
      |  FROM inc i JOIN sess s ON s.s_st <= i.i_en AND i.i_st <= s.s_en)
      |SELECT i.incident_id,
      |  CAST(count(p.user_id) AS BIGINT) AS n_sessions,
      |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
      |  coalesce(CAST(sum(p.ov_us) AS BIGINT), 0) AS overlap_us
      |FROM inc i LEFT JOIN pairs p ON p.incident_id = i.incident_id
      |GROUP BY i.incident_id
      |ORDER BY i.incident_id""".stripMargin) { (s, dir) =>
    import graft.operators.RangeJoin
    val ev = Tables.events(s, dir)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = ev.select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts"))
            > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(unix_micros(col("ts"))).as("s_st"),
        max(unix_micros(col("ts"))).as("s_en"))
    val inc = ev
      .filter(col("event_type") === "error" && col("value") >= 200)
      .select(col("event_id").as("incident_id"),
        unix_micros(col("ts")).as("i_st"),
        (unix_micros(col("ts")) + 600000000L).as("i_en"))
    val pairs = RangeJoin.intervalOverlap(
      sess, "s_st", "s_en", inc, "i_st", "i_en", cell = 3600000000L)
      .select(col("incident_id"), col("user_id"),
        (least(col("s_en"), col("i_en"))
          - greatest(col("s_st"), col("i_st"))).as("ov_us"))
    val agg = pairs.groupBy("incident_id")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("ov_us")).as("ov_sum"))
    inc.select("incident_id").join(agg, Seq("incident_id"), "left")
      .select(col("incident_id"),
        coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        coalesce(col("ov_sum"), lit(0L)).as("overlap_us"))
      .orderBy("incident_id")
  }

  /** TPC-H-Q2-shaped minimum-cost supplier: for every size-15 part,
    * the EUROPE-region supplier(s) whose best unit price for that part
    * is the regional minimum — Q2's correlated scalar-MIN subquery,
    * re-cast on this schema (no partsupp table: the part↔supplier cost
    * relation is derived from lineitem at (partkey, suppkey) grain,
    * unit price = extendedprice/quantity in exact integer
    * ten-thousandths via `cents·100 div qty` — floor division agrees
    * on both engines, no float boundary). This completes the
    * decorrelation census's missing Q2 shape: unlike
    * q51 (compare vs ONE global scalar) and q52 (per-group AVG at FACT
    * grain), the correlated aggregate here lives at DIMENSION grain
    * (part × supplier) and the correlation re-applies the SAME
    * region-eligibility join inside the subquery — the textbook form
    * the oracle keeps verbatim.
    *
    * Decorrelated Spark plan: ONE (partkey, suppkey)-grain aggregate
    * over the fact (the only corpus-sized exchange), region
    * eligibility applied once (nation⋈region broadcast — 25/5 rows by
    * construction; supplier itself is fact-proportional and joins
    * UNHINTED per the q2 rule), then the per-part MIN and its
    * equality join-back both key on l_partkey — the q52 one-exchange
    * discipline: the min side is a partial agg of the already-shrunk
    * eligible grain, never a second fact pass. The part-dim filter
    * (p_size = 15, ~2 % of parts) joins the ≤|parts| winner set last.
    * PLANS.md row carries 0 BNLJ — the scalar subquery never becomes
    * a per-row re-execution.
    */
  private def q61MinCostSupplier = QueryDef.sql(
    "q61_min_cost_supplier",
    s"""WITH ps AS (SELECT l_partkey, l_suppkey,
       |    min(${centsDuck("l_extendedprice")} * 100
       |      // CAST(l_quantity AS BIGINT)) AS cost_t
       |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2)
       |SELECT p.p_partkey, s.s_suppkey, s.s_name, n.n_name, ps.cost_t
       |FROM part p, ps, supplier s, nation n, region r
       |WHERE ps.l_partkey = p.p_partkey AND s.s_suppkey = ps.l_suppkey
       |  AND n.n_nationkey = s.s_nationkey
       |  AND r.r_regionkey = n.n_regionkey
       |  AND r.r_name = 'EUROPE' AND p.p_size = 15
       |  AND ps.cost_t = (SELECT min(ps2.cost_t)
       |    FROM ps ps2, supplier s2, nation n2, region r2
       |    WHERE ps2.l_partkey = p.p_partkey
       |      AND s2.s_suppkey = ps2.l_suppkey
       |      AND n2.n_nationkey = s2.s_nationkey
       |      AND r2.r_regionkey = n2.n_regionkey
       |      AND r2.r_name = 'EUROPE')
       |ORDER BY p_partkey, s_suppkey""".stripMargin) { (s, dir) =>
    val euroNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "EUROPE")),
        col("r_regionkey") === col("n_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val euroSupp = Tables.supplier(s, dir)
      .join(broadcast(euroNations),
        col("n_nationkey") === col("s_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val ps = Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 0)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(expr("cast(round(l_extendedprice * 100) as bigint) " +
        "* 100 div cast(l_quantity as bigint)")).as("cost_t"))
    val eligible = ps.join(euroSupp,
      col("s_suppkey") === col("l_suppkey"))
    val mn = eligible.groupBy(col("l_partkey").as("pk"))
      .agg(min(col("cost_t")).as("mc"))
    val winners = eligible.join(mn,
      col("pk") === col("l_partkey") && col("cost_t") === col("mc"))
    Tables.part(s, dir).filter(col("p_size") === 15)
      .select(col("p_partkey"))
      .join(winners, col("p_partkey") === col("l_partkey"))
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
        col("n_name"), col("cost_t"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** TPC-H-Q18-shaped large-volume orders: customers whose order's
    * total quantity exceeds 250 units — Q18's
    * `o_orderkey IN (SELECT l_orderkey ... HAVING sum(l_quantity) >
    * T)` grouped-IN subquery, the last textbook decorrelation shape
    * the census lacked. The duplicate-safety trap is
    * the point: the outer query re-joins LINEITEM and re-aggregates
    * per order, so a naive rewrite that inner-joins the HAVING set's
    * ROWS would be correct only because the set is already grouped —
    * the decorrelated plan must treat it as a SEMI filter.
    *
    * Decorrelated Spark plan: the per-order quantity sum is computed
    * ONCE and serves BOTH roles — the IN-subquery membership test
    * (filter sq > T) and the outer query's own sum(l_quantity) column
    * — so the fact aggregates once on l_orderkey and the textbook
    * plan's second fact scan + semi-join disappears entirely. The
    * surviving big-order set (0.1-1.5 % of orders at every measured
    * SF) joins orders on the SAME orderkey exchange, then customer;
    * both are fact-proportional and join UNHINTED (threshold/AQE
    * broadcasts the shrunken big-order side while it fits — the
    * winners-broadcast shape q51 pins). Total: one corpus-sized
    * exchange, no LIMIT (the full thresholded set ships, ordered by
    * its unique key — the q13 trailing-sort convention).
    */
  private def q62BigQtyOrders = QueryDef.sql(
    "q62_big_qty_orders",
    s"""SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
       |FROM customer c, orders o, lineitem l
       |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
       |    GROUP BY l_orderkey
       |    HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
       |  AND c.c_custkey = o.o_custkey
       |  AND o.o_orderkey = l.l_orderkey
       |GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate
       |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 250)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(big, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name")),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("total_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H-Q8-shaped national market share: of all ECONOMY-part
    * revenue sold into ASIA-region customers over a two-year order
    * window, the per-year share supplied by one nation — the
    * CASE-conditioned share-of-a-grouped-total over the two-sided
    * nation-role join (customer's nation gates the region, supplier's
    * nation is the share dimension), the last textbook census member
    * The oracle keeps Q8's shape verbatim: the
    * `all_nations` derived table, then
    * `sum(CASE nation THEN volume)/sum(volume)` per year.
    *
    * Share in exact integer: volume is the house ten-thousandths term;
    * share_bp = nation_t · 10⁴ div total_t, floor division on both
    * engines (both sums non-negative by construction, so floor ≡
    * truncate and `//` vs `div` cannot diverge — the tdivDuck guard is
    * unneeded HERE, unlike e173's signed cosines). Both year-grain
    * sums take the q49 DECIMAL(38,0) accumulator lever (a year of the
    * 100 TB fact is ~10¹¹ rows × ~10⁹ per term — past BIGINT); outputs
    * down-cast to BIGINT, which every benched SF fits.
    *
    * Plan shape at 100 TB: the part join goes FIRST so the type
    * filter shrinks the fact before anything else moves (p_type is
    * 1-in-5 here, 1-in-150 at TPC-H type cardinality); the orderkey
    * fact-fact join consumes the date-pruned orders scan (predicate
    * pushed to parquet — 2 of 7 years); customer and supplier are
    * fact-proportional and join UNHINTED per the q2 rule, while both
    * NATION roles and REGION broadcast explicitly (25/5 rows by
    * construction). The rollup is 2 rows after map-side partials.
    * Every join is an equi-join — 0 BNLJ (the decorrelation-census
    * contract), and the share needs no second pass: numerator and
    * denominator are two accumulators over ONE aggregate, not the
    * textbook plan's join-of-two-aggregations.
    */
  private def q63MarketShare = QueryDef.sql(
    "q63_market_share",
    s"""WITH all_nations AS (
       |  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
       |    ${centsDuck("l.l_extendedprice")}
       |      * (100 - ${centsDuck("l.l_discount")}) AS volume_t,
       |    n2.n_name AS nation
       |  FROM part p, supplier sp, lineitem l, orders o, customer c,
       |    nation n1, nation n2, region r
       |  WHERE p.p_partkey = l.l_partkey
       |    AND sp.s_suppkey = l.l_suppkey
       |    AND l.l_orderkey = o.o_orderkey
       |    AND o.o_custkey = c.c_custkey
       |    AND c.c_nationkey = n1.n_nationkey
       |    AND n1.n_regionkey = r.r_regionkey
       |    AND r.r_name = 'ASIA'
       |    AND sp.s_nationkey = n2.n_nationkey
       |    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
       |    AND o.o_orderdate < TIMESTAMP '1997-01-01'
       |    AND p.p_type = 'ECONOMY')
       |SELECT CAST(o_year AS BIGINT) AS o_year,
       |  CAST(sum(CASE WHEN nation = 'NATION_12'
       |      THEN CAST(volume_t AS HUGEINT) ELSE 0 END) AS BIGINT)
       |    AS nation_t,
       |  CAST(sum(CAST(volume_t AS HUGEINT)) AS BIGINT) AS total_t,
       |  CAST(sum(CASE WHEN nation = 'NATION_12'
       |      THEN CAST(volume_t AS HUGEINT) ELSE 0 END) * 10000
       |    // sum(CAST(volume_t AS HUGEINT)) AS BIGINT) AS share_bp
       |FROM all_nations
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin) { (s, dir) =>
    val asiaNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
        col("r_regionkey") === col("n_regionkey"))
      .select(col("n_nationkey").as("cnk"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("snk"), col("n_name").as("nation"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val volume = (cents(col("l_extendedprice"))
      * (lit(100L) - cents(col("l_discount")))).as("volume_t")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        volume)
      .join(Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey")),
        col("p_partkey") === col("l_partkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey") === col("o_custkey"))
      .join(broadcast(asiaNations), col("cnk") === col("c_nationkey"))
      .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey")),
        col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(n2), col("snk") === col("s_nationkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("nation") === "NATION_12", col("volume_t"))
          .otherwise(lit(0L)).cast("decimal(38,0)")).as("nation_d"),
        sum(col("volume_t").cast("decimal(38,0)")).as("total_d"))
      .select(col("o_year"),
        col("nation_d").cast("long").as("nation_t"),
        col("total_d").cast("long").as("total_t"),
        expr("nation_d * 10000 div total_d").as("share_bp"))
      .orderBy(col("o_year"))
  }
}
