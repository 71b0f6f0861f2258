package graft.models

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The dbt-project twin (dbt_sao/): staging and mart models as
  * declarative DataFrame transforms, plus a dependency-ordered runner.
  *
  * Materialization follows dbt_project.yml:32-36 — staging models are
  * VIEWS (recomputed on read, S10), mart models are TABLES fully rebuilt
  * each run (S11/ST6).
  */
object Models {

  sealed trait Materialization
  case object AsView extends Materialization
  case object AsTable extends Materialization

  /** One dbt-model twin: name, upstream refs, materialization, and the
    * SELECT body as a function of resolved upstream DataFrames (the
    * `ref()`/`source()` lineage becomes an explicit dependency list).
    * `bucket` (column, count) writes an AsTable model through
    * [[graft.sources.Layout.writeBucketed]] instead of a plain
    * saveAsTable — the SCALING.md "bucketed mart tables" lever applied
    * to the reference path itself: tables sharing a (column, count)
    * spec join exchange-free.
    */
  final case class Model(
      name: String,
      deps: Seq[String],
      materialization: Materialization,
      bucket: Option[(String, Int)] = None)(
      val build: Map[String, DataFrame] => DataFrame)

  /** One shared mart bucket count: fct_order_products and dim_order
    * both bucket on order_id INTO this many buckets, so the one mart
    * join whose dimension SCALES WITH THE FACT (dim_order ~ 0.67x fct
    * rows — the join that must eventually stop broadcasting) is
    * exchange-free on both sides forever, paid once at write time.
    * dim_customer/dim_product stay unbucketed: bounded-or-slow-growing
    * dims are broadcast material, and a bucket spec on the wrong key
    * would buy nothing. 8 buckets suits the demo scale; at fleet scale
    * the count rises with data volume (bucket count is a layout
    * constant both writers must share — the contract, not the number,
    * is what ModelsSpec pins).
    */
  val MartBuckets = 8

  /** Snowflake DECODE twin (F1): NULL-safe equality, no default ⇒
    * non-match → NULL.
    */
  def decode(c: org.apache.spark.sql.Column, pairs: (String, String)*): org.apache.spark.sql.Column =
    pairs.tail.foldLeft(when(c <=> pairs.head._1, pairs.head._2)) {
      case (acc, (k, v)) => acc.when(c <=> k, v)
    }

  // ---- Staging (stg_bike_shop__*.sql — P1 passthrough CTE, P2 renames) ----

  val stgCustomers: Model = Model(
    "stg_bike_shop__customers", Seq("raw.customers"), AsView) { up =>
    up("raw.customers").select(
      col("id").as("customer_id"),
      col("first_name").as("customer_first_name"),
      col("last_name").as("customer_last_name"),
      col("email").as("customer_email"),
      decode(col("gender"),
        "F" -> "Female", "M" -> "Male", "X" -> "Non-binary")
        .as("customer_gender"),
      col("city").as("customer_city"),
      col("loaded_at"))
  }

  val stgOrders: Model = Model(
    "stg_bike_shop__orders", Seq("raw.orders"), AsView) { up =>
    up("raw.orders").select(
      col("id").as("order_id"),
      col("customer_id"),
      initcap(col("order_status")).as("order_status"), // F2
      col("order_date"),
      col("loaded_at"))
  }

  val stgProducts: Model = Model(
    "stg_bike_shop__products", Seq("raw.products"), AsView) { up =>
    up("raw.products").select(
      col("id").as("product_id"),
      col("model").as("product_name"),
      col("frame").as("product_material"),
      col("category").as("product_category"),
      col("subcategory").as("product_subcategory"),
      col("price").as("product_price"),
      round(col("product_cost"), 2).as("product_cost"), // F3 HALF_UP
      col("loaded_at"))
  }

  val stgOrderProducts: Model = Model(
    "stg_bike_shop__order_products", Seq("raw.order_products"), AsView) { up =>
    up("raw.order_products").select(
      col("id").as("order_product_id"),
      col("product_id"),
      col("order_id"),
      col("quantity").as("order_product_quantity"),
      col("loaded_at"))
  }

  // ---- Mart (dim_*.sql `select * exclude ...` — P3 ⇒ .drop; S11 tables) --

  val dimCustomer: Model = Model(
    "dim_customer", Seq("stg_bike_shop__customers"), AsTable) { up =>
    up("stg_bike_shop__customers").drop("loaded_at")
  }

  val dimOrder: Model = Model(
    "dim_order", Seq("stg_bike_shop__orders"), AsTable,
    bucket = Some("order_id" -> MartBuckets)) { up =>
    up("stg_bike_shop__orders").drop("customer_id", "loaded_at")
  }

  val dimProduct: Model = Model(
    "dim_product", Seq("stg_bike_shop__products"), AsTable) { up =>
    up("stg_bike_shop__products")
      .drop("product_cost", "product_price", "loaded_at")
  }

  /** fct_order_products.sql:13-33 (J1+J2): fact left-joins the two
    * dims. Products is STATIC (96 rows forever, ST5), so the planner
    * broadcasts it from its size without a hint. Orders GROWS with the
    * fact (~0.67x its rows) — AQE/threshold picks broadcast while it
    * fits and shuffled-hash beyond, instead of a forced broadcast that
    * OOMs at 100x.
    */
  val fctOrderProducts: Model = Model(
    "fct_order_products",
    Seq("stg_bike_shop__order_products", "stg_bike_shop__products",
      "stg_bike_shop__orders"), AsTable,
    bucket = Some("order_id" -> MartBuckets)) { up =>
    val op = up("stg_bike_shop__order_products")
    val p = up("stg_bike_shop__products")
    val o = up("stg_bike_shop__orders")
    op
      .join(p.select("product_id", "product_price", "product_cost"),
        Seq("product_id"), "left")
      .join(o.select("order_id", "customer_id", "order_date"),
        Seq("order_id"), "left")
      .select(
        col("order_product_id"), col("product_id"), col("order_id"),
        col("customer_id"), col("order_date"),
        col("order_product_quantity"), col("product_price"),
        col("product_cost"))
  }

  val all: Seq[Model] = Seq(
    stgCustomers, stgOrders, stgProducts, stgOrderProducts,
    dimCustomer, dimOrder, dimProduct, fctOrderProducts)

  /** `dbt run` twin: materialize every model in dependency order
    * (topological sort of the ref() graph, §3.2). Sources resolve from
    * `rawDb`; staging becomes temp views; mart becomes overwritten
    * tables in `martDb` (full rebuild per run, ST6).
    * Returns the materialized frames by model name.
    *
    * View materialization is declaration-order sequential but free (no
    * job — a temp view is a plan registration); the mart TABLE writes
    * run as concurrent jobs through [[graft.operators.Adaptive.overlap]],
    * as dbt runs same-level nodes in parallel. Every table reads only
    * views and sources (ModelsSpec pins this), so no write depends on
    * another.
    */
  def dbtRun(
      spark: SparkSession, rawDb: String,
      martDb: String): Map[String, DataFrame] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $martDb")
    var done = Map.empty[String, DataFrame]

    def resolve(ref: String): DataFrame =
      if (ref.startsWith("raw."))
        spark.table(s"$rawDb.${ref.stripPrefix("raw.")}")
      else done(ref)

    def writeTable(m: Model, df: DataFrame): Unit = m.bucket match {
      case Some((bucketCol, buckets)) =>
        graft.sources.Layout.writeBucketed(
          df, s"$martDb.${m.name}", bucketCol, buckets)
      case None =>
        df.write.mode(SaveMode.Overwrite).saveAsTable(s"$martDb.${m.name}")
    }

    val (views, tables) = all.partition(_.materialization == AsView)
    views.foreach { m =>
      val df = m.build(m.deps.map(d => d -> resolve(d)).toMap)
      df.createOrReplaceTempView(m.name)
      done += m.name -> df
    }
    val writes = tables.map { m =>
      val df = m.build(m.deps.map(d => d -> resolve(d)).toMap)
      graft.operators.Adaptive.overlap(writeTable(m, df))
    }
    writes.foreach(_.apply())
    tables.foreach(m => done += m.name -> spark.table(s"$martDb.${m.name}"))
    done
  }
}
