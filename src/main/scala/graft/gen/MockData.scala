package graft.gen

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Seeded, partition-stable mock-data generator — the Spark twin of the
  * reference's "mock API" (mock_data.py:16-156). Matches the reference's
  * schemas and DISTRIBUTIONS, not its byte-exact rows (Python
  * random/Faker sequences are not reproducible outside CPython;
  * SURVEY.md §7.2).
  *
  * Determinism contract: every random draw is a pure function of
  * (seed, row key) via the affine-modular draw below — never `rand()` —
  * so output is identical across partition counts, executor counts, and
  * reruns. Generation is `spark.range(n)` + column expressions: fully
  * distributed, no driver-side row loops.
  */
object MockData {

  /** All generator randomness is affine-modular over the Portable prime:
    * draw = ((key mod P) * a + b) mod P with (a, b) derived from
    * (seed, tag). Partition-stable by construction (a pure function of
    * the row key — vs `rand(seed)`, which depends on partition layout)
    * AND engine-portable: the same integer arithmetic runs in DuckDB, so
    * the generator scalar family (F4-F8, F10) is oracle-provable
    * (q15_gen_scalars) rather than only sbt-pinned. Products stay below
    * 2^60 (operands < P ~ 2^30), so no overflow in either engine.
    */
  private val P = graft.functions.Portable.P

  /** Driver-side polynomial tag hash mod P (same char fold as
    * TextHash.polyHash, applied to a compile-time tag string).
    */
  private def tagHash(tag: String): Long =
    tag.foldLeft(0L)((a, ch) => (a * 31 + ch) % P)

  /** Affine coefficients for (seed, tag): a in [1, P-1] (P prime, so any
    * nonzero a is a bijection mod P), b in [0, P-1].
    */
  private[graft] def mixCoeffs(seed: Long, tag: String): (Long, Long) = {
    val s = ((seed % P) + P) % P
    val t = tagHash(tag)
    val a = ((t * 131 + s * 137 + 11) % (P - 1)) + 1
    val b = (t * 139 + s * 149 + 17) % P
    (a, b)
  }

  /** String key → [0, P): the compiled polynomial rolling hash. */
  def strKey(c: Column): Column = graft.functions.F.poly_hash(c)

  /** Combine two reduced keys into one in [0, P). */
  def pairKey(k1: Column, k2: Column): Column =
    pmod(pmod(k1, lit(P)) * 131 + pmod(k2, lit(P)), lit(P))

  /** Raw draw in [0, P) for (seed, tag, integral row key): affine map
    * then CUBE mod P. The cube is essential, not decoration — an affine
    * map alone turns sequential keys into a Weyl sequence with step a/P,
    * and when the tag-derived multiplier is small (tag "os": a ~ 5e5) a
    * 1000-key batch spans half the unit interval, collapsing weighted
    * choices to one bucket (observed: 1000/1000 orders "shipped").
    * Cubing breaks the lattice structure while preserving bijectivity:
    * P is prime with gcd(3, P-1) = 1, so x^3 mod P is a permutation —
    * distinct keys still can never collide within a (seed, tag), which
    * is what underwrites generated-id uniqueness. All operands stay
    * below 2^60, exactly as in DuckDB's BIGINT twin.
    */
  def hashLong(seed: Long, tag: String, key: Column): Column = {
    val (a, b) = mixCoeffs(seed, tag)
    val x = pmod(pmod(key, lit(P)) * a + b, lit(P))
    pmod(pmod(x * x, lit(P)) * x, lit(P))
  }

  /** Uniform [0,1) for (seed, tag, integral row key). */
  def hashUnit(seed: Long, tag: String, key: Column): Column =
    hashLong(seed, tag, key).cast("double") / P

  /** Per-draw moduli for the 3-draw uuid: distinct primes near 2^30,
    * each with gcd(3, p-1) = 1 so the cube stays a bijection mod p.
    * Distinct moduli make the three draws' key reductions INDEPENDENT:
    * one mod-P key collision used to collapse all three draws at once
    * (≈ n²/2P ≈ 0.1% per 1500-row batch — a nondeterministic Unique-test
    * flake); now a duplicate uuid needs the same pair to collide mod all
    * three primes simultaneously, i.e. mod their ~2^90 product — CRT-
    * impossible for 64-bit integer keys, ~2^-90 for hashed string keys.
    */
  private[graft] val DrawMods = Array(P, 1000000097L, 1000000103L)

  /** Per-draw polynomial bases for string-part reduction — with the
    * per-draw modulus this picks 3 independent string-hash families.
    */
  private val DrawBases = Array(31L, 37L, 41L)

  /** hashLong generalized to a caller-chosen modulus (the per-draw
    * primes above). mixCoeffs' a ∈ [1, P-1] is nonzero mod every
    * DrawMod (all ≥ P), so the affine map stays a bijection of [0, p).
    */
  private def cubeAffine(seed: Long, tag: String, key: Column, p: Long): Column = {
    val (a, b) = mixCoeffs(seed, tag)
    val x = pmod(pmod(key, lit(p)) * a + b, lit(p))
    pmod(pmod(x * x, lit(p)) * x, lit(p))
  }

  /** Deterministic UUID4-shaped id (RFC 4122 version/variant nibbles)
    * from three independent draws, decimal-formatted — the seeded,
    * engine-portable stand-in for fake.uuid4() (mock_data.py:28,44,60,
    * 101; SURVEY §2.3 F4). Digits are valid hex chars, so the UUID shape
    * (8-4-4-4-12 with version '4' / variant 'a') is preserved. Each draw
    * reduces the key mod its OWN prime ([[DrawMods]]), so for integral
    * keys below 2^60 a duplicate uuid within a (seed, tag) would need a
    * key collision mod all three primes at once — impossible by CRT.
    * Callers whose natural key is a string (or a composite) must use
    * [[uuidFromParts]]: pre-reducing to one Long would reintroduce the
    * single-collision collapse this fixes.
    */
  def uuidFromHash(seed: Long, tag: String, key: Column): Column =
    uuidFromDraws((1 to 3).map(i =>
      cubeAffine(seed, s"$tag#$i", key, DrawMods(i - 1))))

  /** UUID4-shaped id from RAW (string or composite) key parts. Draw i
    * reduces every part with its own (base, modulus) hash family and
    * folds the part hashes mod its own prime — so two distinct part
    * tuples produce the same uuid only if they collide in all three
    * independent families (~2^-90), vs ~2^-30 when a shared reduced key
    * feeds every draw (a `unique` test then flakes on a collision).
    */
  def uuidFromParts(seed: Long, tag: String, parts: Column*): Column = {
    require(parts.nonEmpty, "uuidFromParts needs at least one key part")
    uuidFromDraws((1 to 3).map { i =>
      val p = DrawMods(i - 1)
      val key = parts
        .map(c => graft.functions.F.poly_hash(c.cast("string"), DrawBases(i - 1), p))
        .reduce((k, pk) => pmod(k * 131 + pk, lit(p)))
      cubeAffine(seed, s"$tag#$i", key, p)
    })
  }

  private def uuidFromDraws(draws: Seq[Column]): Column = {
    val s = concat(draws.map(d => lpad(d.cast("string"), 10, "0")): _*)
    concat(
      substring(s, 1, 8), lit("-"),
      substring(s, 9, 4), lit("-4"),
      substring(s, 13, 3), lit("-a"),
      substring(s, 16, 3), lit("-"),
      substring(s, 19, 12))
  }

  // ---- DuckDB twins of the three draw primitives (used by the
  // ---- q15_gen_scalars oracle; coefficients baked from the same mixCoeffs)

  def hashLongDuck(seed: Long, tag: String, keyExpr: String): String =
    hashLongDuck(seed, tag, keyExpr, P)

  private def hashLongDuck(
      seed: Long, tag: String, keyExpr: String, p: Long): String = {
    val (a, b) = mixCoeffs(seed, tag)
    val x = s"(((($keyExpr) % $p) * $a + $b) % $p)"
    s"(($x * $x % $p) * $x % $p)"
  }

  def hashUnitDuck(seed: Long, tag: String, keyExpr: String): String =
    s"(CAST(${hashLongDuck(seed, tag, keyExpr)} AS DOUBLE) / $P)"

  def uuidDuckDigits(seed: Long, tag: String, keyExpr: String): String =
    (1 to 3).map(i =>
      s"lpad(CAST(${hashLongDuck(seed, s"$tag#$i", keyExpr, DrawMods(i - 1))} AS VARCHAR), 10, '0')")
      .mkString(" || ")

  /** DuckDB twin of [[uuidFromParts]] (q21 oracle): per draw, each part
    * (a SQL string expression) is reduced with that draw's (base, mod)
    * polynomial, folded with x131, then cube-affine'd — the same
    * independent-family construction as the Spark side, so string-keyed
    * uuids are oracle-provable, not only sbt-pinned.
    */
  def uuidPartsDuckDigits(
      seed: Long, tag: String, partExprs: Seq[String]): String = {
    def polyDuck(expr: String, base: Long, p: Long): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split($expr, ''),
         |    c -> CAST(ascii(c) AS BIGINT))),
         |  (a, c) -> (a*$base + c) % $p)""".stripMargin
    (1 to 3).map { i =>
      val p = DrawMods(i - 1)
      val key = partExprs
        .map(e => polyDuck(e, DrawBases(i - 1), p))
        .reduce((k, pk) => s"((($k) * 131 + ($pk)) % $p)")
      s"lpad(CAST(${hashLongDuck(seed, s"$tag#$i", key, p)} AS VARCHAR), 10, '0')"
    }.mkString(" || ")
  }

  /** Weighted categorical choice (SURVEY §2.3 F9): inverse-CDF over a
    * uniform column, compiled to a when-chain.
    */
  def weightedChoice[T](r: Column, values: Seq[T], weights: Seq[Int]): Column = {
    val total = weights.sum.toDouble
    val cum = weights.scanLeft(0)(_ + _).tail.map(_ / total)
    values.zip(cum).init.foldRight(lit(values.last)) { case ((v, c), els) =>
      when(r < c, lit(v)).otherwise(els)
    }
  }

  // ---- Faker-style lookup pools (our own invented values; only the
  // ---- schema and value SETS matter, not realism — SURVEY §7 "hard parts")
  private val FirstNames = Seq(
    "Ada", "Blake", "Casey", "Devon", "Ellis", "Finley", "Gray", "Harper",
    "Indra", "Jules", "Kiran", "Lane", "Morgan", "Noor", "Oakley", "Parker",
    "Quinn", "Reese", "Sage", "Tatum")
  private val LastNames = Seq(
    "Abbott", "Barnes", "Calder", "Dalton", "Ellison", "Frost", "Granger",
    "Holt", "Ingram", "Jensen", "Keller", "Lowell", "Mercer", "North",
    "Olsen", "Price", "Quill", "Rowan", "Sutton", "Thorne")
  private val Cities = Seq(
    "Alder Creek", "Briar Glen", "Cedar Falls", "Dune Harbor", "Elm Hollow",
    "Fern Ridge", "Gale Port", "Hazel Point", "Iron Vale", "Juniper Bay",
    "Kestrel Heights", "Larch Grove", "Maple Bend", "North Quay",
    "Otter Cove", "Pine Bluff")
  private val Domains = Seq("example.com", "example.org", "example.net", "mail.example")

  private def pick(pool: Seq[String], r: Column): Column =
    element_at(
      array(pool.map(lit): _*),
      (r * pool.size).cast("int") + 1)

  /** Public pick + the pools, for the q15/g2 oracle twins of the F10
    * lookup generators (r >= 0, so int-cast truncation == floor in both
    * engines).
    */
  def pickFrom(pool: Seq[String], r: Column): Column = pick(pool, r)
  val firstNamePool: Seq[String] = FirstNames
  val lastNamePool: Seq[String] = LastNames
  val cityPool: Seq[String] = Cities
  val domainPool: Seq[String] = Domains

  // ---- Product seed (S1 twin) ---------------------------------------------
  // private[graft]: the p1 pipeline oracle re-derives the 96 seed models
  // from the same (series, tier) grid in pure DuckDB SQL.
  private[graft] val SeedSeries = Seq(
    "Vela", "Corsa", "Strata", "Nimbus", "Kite", "Pacer", "Ridge", "Torrent")
  private[graft] val SeedTiers = Seq(
    "Sport", "Comp", "Team", "Elite", "Pro", "Apex",
    "Base", "Core", "Plus", "Max", "LT", "SL")
  private val SeedCats = Seq(
    ("Road", Seq("Elite Road", "Endurance Road", "Gravel")),
    ("Mountain", Seq("Trail", "Cross Country", "Enduro")),
    ("Active", Seq("Fitness", "Urban", "Kids")),
    ("Electric", Seq("E-Road", "E-Mountain", "E-Urban")))
  private val SeedFrames = Seq("Carbon", "Aluminium", "Steel", "Titanium")

  /** Deterministic 96-row product seed with the reference seed file's
    * shape `model,category1,category2,frame,price` (seed_data/
    * products.csv) and a price spread wide enough for the Gaussian
    * weighting (F8) to discriminate.
    */
  private lazy val seedRows: Seq[(String, String, String, String, Double)] =
    for {
      (series, si) <- SeedSeries.zipWithIndex
      (tier, ti) <- SeedTiers.zipWithIndex
    } yield {
      val i = si * SeedTiers.size + ti
      val (cat, subs) = SeedCats(i % SeedCats.size)
      val price = 450.0 + ((i * 2654435761L) % 97) * 130.0
      (s"$series $tier ${i + 1}", cat, subs(i % subs.size),
        SeedFrames(i % SeedFrames.size), price)
    }

  def productSeed(spark: SparkSession): DataFrame = {
    import spark.implicits._
    seedRows.toDF("model", "category1", "category2", "frame", "price")
  }

  /** Writes the seed as a comma-separated header CSV — the twin of the
    * reference's checked-in seed file (seed_data/products.csv, 97 lines
    * incl. header; read at mock_data.py:27). Values are comma-free by
    * construction, so no quoting is needed. Idempotent overwrite.
    */
  def writeSeedCsv(path: java.nio.file.Path): Unit = {
    val header = "model,category1,category2,frame,price"
    val lines = header +: seedRows.map {
      case (m, c1, c2, f, p) => s"$m,$c1,$c2,$f,$p"
    }
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(
      path, scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }

  /** Products from the seed (get_product_data, mock_data.py:16-34): id
    * inserted at position 0 (P4), product_cost = price * ONE uniform draw
    * in [0.3,0.5] for the whole batch (F5 — the reference draws a single
    * factor per run, not per row), loaded_at literal (P5), renames
    * category1/2 (P6).
    */
  def products(spark: SparkSession, seed: Long, batchTs: LocalDateTime): DataFrame =
    productsFrom(productSeed(spark), seed, batchTs)

  /** Products from an externally-read seed frame (S1: the comma-CSV scan
    * path in [[graft.pipeline.Ingest.bootstrap]] reads the seed file with
    * the declared schema and passes it here).
    */
  def productsFrom(
      seedDf: DataFrame, seed: Long, batchTs: LocalDateTime): DataFrame = {
    val costFactor = 0.3 + 0.2 * unitDouble(seed, "product_cost_factor")
    seedDf
      .withColumn("id", uuidFromParts(seed, "product", col("model")))
      .select(col("id") +: Schemas.productSeed.fieldNames.toSeq.map(col): _*)
      .withColumn("product_cost", col("price") * costFactor)
      .withColumn("loaded_at", lit(batchTs))
      .withColumnsRenamed(Map("category1" -> "category", "category2" -> "subcategory"))
      .select(Schemas.products.fieldNames.toSeq.map(col): _*)
  }

  /** Driver-side deterministic uniform for batch-level scalars (F5). */
  private def unitDouble(seed: Long, what: String): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(what, seed.toInt)
    (h & 0x7fffffffL).toDouble / 0x7fffffffL.toDouble
  }

  /** Customers (build_customer_data, mock_data.py:40-53): 1000 per batch,
    * Faker-style pooled names/cities (F10), passport gender ∈ {F,M,X},
    * derived email. `gen_idx` carries the generation index for J4
    * alignment (dropped before load).
    */
  def customers(
      spark: SparkSession, seed: Long, batchTs: LocalDateTime,
      numCustomers: Int = 1000): DataFrame = {
    spark.range(numCustomers)
      .withColumnRenamed("id", "gen_idx")
      .withColumn("first_name", pick(FirstNames, hashUnit(seed, "fn", col("gen_idx"))))
      .withColumn("last_name", pick(LastNames, hashUnit(seed, "ln", col("gen_idx"))))
      .withColumn("gender",
        weightedChoice(hashUnit(seed, "g", col("gen_idx")),
          Schemas.genders, Seq(48, 48, 4)))
      .withColumn("city", pick(Cities, hashUnit(seed, "ct", col("gen_idx"))))
      .withColumn("email",
        concat(lower(col("first_name")), lit("."), lower(col("last_name")),
          col("gen_idx"), lit("@"),
          pick(Domains, hashUnit(seed, "dom", col("gen_idx")))))
      .withColumn("id", uuidFromHash(seed, "customer", col("gen_idx")))
      .withColumn("loaded_at", lit(batchTs))
      .select(col("gen_idx") +: Schemas.customers.fieldNames.toSeq.map(col): _*)
  }

  /** Orders (build_order_data, mock_data.py:56-68): the i-th order is
    * assigned the i-th customer of (new ++ existing) — J4's index
    * alignment, here an equi-join on the generation index (no global
    * window; both sides carry a dense index by construction).
    * `customerList` must already expose (gen_idx, customer_id).
    * Status ~ shipped:delivered:refunded = 10:5:1 (F9); order_date
    * uniform in the trailing 30 days (F6).
    */
  def orders(
      spark: SparkSession, seed: Long, batchTs: LocalDateTime,
      customerList: DataFrame, numOrders: Int = 1000): DataFrame = {
    val base = spark.range(numOrders).withColumnRenamed("id", "gen_idx")
      .withColumn("oid", uuidFromHash(seed, "order", col("gen_idx")))
      .withColumn("order_date",
        date_sub(
          lit(java.sql.Date.valueOf(batchTs.toLocalDate)),
          (hashUnit(seed, "od", col("gen_idx")) * 30).cast("int")))
      .withColumn("order_status",
        weightedChoice(hashUnit(seed, "os", col("gen_idx")),
          Schemas.orderStatuses, Schemas.orderStatusWeights))
      .withColumn("loaded_at", lit(batchTs))
    base
      .join(customerList.select(col("gen_idx"), col("id").as("customer_id")),
        Seq("gen_idx"))
      .select(col("gen_idx"), col("oid").as("id"), col("customer_id"),
        col("order_date"), col("order_status"), col("loaded_at"))
  }

  /** Order products (build_order_products_data, mock_data.py:85-109):
    * 1-3 items per order ~ 5:2:1 exploded per order (G2), product picked
    * with probability ∝ norm.pdf(price; median, std) (F8+F9 — inverse
    * CDF against the cumulative weight table of the ≤96-row product dim,
    * broadcast range-join; the tiny dim collect mirrors the reference
    * pulling the product list to the generator), quantity ~ 10:3:1.
    */
  def orderProducts(
      spark: SparkSession, seed: Long, batchTs: LocalDateTime,
      productsDf: DataFrame, ordersDf: DataFrame): DataFrame = {
    // A1/A2: ungrouped median + sample stddev of price.
    val Array(medianPrice, stdPrice) = productsDf
      .agg(median(col("price")), stddev_samp(col("price")))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    // F8 as pure column math — no UDF.
    def pdf(price: Column): Column =
      exp(-pow(price - medianPrice, 2) / (2 * stdPrice * stdPrice)) /
        (stdPrice * math.sqrt(2 * math.Pi))
    val weighted = productsDf
      .select(col("id").as("product_id"), pdf(col("price")).as("w"))
      .collect()
    val total = weighted.map(_.getDouble(1)).sum
    val cum = weighted.scanLeft(("", 0.0, 0.0)) { case ((_, _, hi), r) =>
      (r.getString(0), hi, hi + r.getDouble(1) / total)
    }.tail
    import spark.implicits._
    val cumDf = cum.toSeq.toDF("product_id", "lo", "hi")

    val exploded = ordersDf
      .select(
        col("id").as("order_id"),
        weightedChoice(hashUnit(seed, "ni", strKey(col("id"))),
          Schemas.itemsPerOrder, Schemas.itemsPerOrderWeights).as("n_items"))
      .select(col("order_id"),
        explode(sequence(lit(1), col("n_items"))).as("item_idx"))
    val r = hashUnit(seed, "pp", pairKey(strKey(col("order_id")), col("item_idx")))
    exploded
      .withColumn("r", r)
      .join(cumDf, col("r") >= col("lo") && col("r") < col("hi"))
      .select(
        uuidFromParts(seed, "order_product", col("order_id"), col("item_idx"))
          .as("id"),
        col("product_id"),
        col("order_id"),
        weightedChoice(hashUnit(seed, "q", pairKey(strKey(col("order_id")), col("item_idx"))),
          Schemas.quantities, Schemas.quantityWeights).cast("int").as("quantity"),
        lit(batchTs).as("loaded_at"))
  }
}
