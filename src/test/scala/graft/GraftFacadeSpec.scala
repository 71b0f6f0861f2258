package graft

/** The one-line entry point: the facade's conf contract names the
  * extensions class that provably carries the SQL surface, plus the
  * determinism confs the library is verified under.
  */
class GraftFacadeSpec extends SparkSpecBase {

  test("Graft conf contract: extensions class + determinism confs") {
    val c = Graft.confs(Some(8))
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.sql.shuffle.partitions") === "8")
    // unsized: defer to cluster parallelism, don't pin Spark's 200
    assert(!Graft.confs(None).contains("spark.sql.shuffle.partitions"))
    // static: the shared session is built through Graft.builder, so the
    // sized codegen cache is the one this JVM's code generator uses
    assert(c("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
    // The named extensions class is EXACTLY the one this suite's shared
    // session loaded (SparkSpecBase builds through Graft.builder) — so the SQL
    // surface check below exercises the class the facade wires in.
    assert(c("spark.sql.extensions") === "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.extensions") === c("spark.sql.extensions"))
    import spark.implicits._
    Seq("the quick brown fox the quick").toDF("text")
      .createOrReplaceTempView("facade_in")
    val sh = spark
      .sql("SELECT size(shingle_hashes(text)) AS n FROM facade_in")
      .head().getInt(0)
    assert(sh === 4) // 6 words -> 4 3-gram positions, all distinct
    val kmv = spark.sql(
      "SELECT kmv_sketch(CAST(size(shingle_hashes(text)) AS BIGINT), 4) " +
        "FROM facade_in")
      .head().getSeq[Long](0)
    assert(kmv === Seq(4L))
  }
}
