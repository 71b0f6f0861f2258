package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.streaming.StreamBandGate

/** e168 — the closed crawl-ingest admission loop: gate-then-verify must
  * equal e41's full two-tier verdict on the same delta (union
  * identity), a quarantined candidate REJECTED by exact verification
  * must exist and read 'kept' (the band rule's false positive, proven
  * harmless), and the literal STREAMING gate's verdicts must equal
  * e168's gate_verdict column (the handoff: what the stream
  * quarantines is exactly what the batch pass verifies).
  */
class GateVerifySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) =
    ExtensionQueries.all.find(_.name == name).get.run(spark, dir)

  test("union identity: e168's verdict equals e41's on every delta doc") {
    val e168 = run("e168_gate_verify")
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val e41 = run("e41_incremental_dedup")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(e168.keySet === e41.keySet)
    val diff = e168.collect {
      case (id, v) if e41(id) != v => (id, v, e41(id))
    }
    assert(diff.isEmpty, s"verdicts diverge: $diff")
  }

  test("a quarantined candidate rejected by verification reads 'kept' " +
    "— the gate's false positive is harmless, not dropped") {
    val rows = run("e168_gate_verify").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val rejected = rows.filter(r =>
      r._2 == "neardup_candidate" && r._3 == "kept")
    assert(rejected.nonEmpty,
      "expected at least one band-rule false positive at sf0.001")
    // every delta doc gets a verdict, and the fixture exercises both
    // final classes
    val delta = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 5 === 4).count()
    assert(rows.length.toLong === delta)
    assert(rows.exists(_._3 == "neardup") && rows.exists(_._3 == "kept"))
    // and every verified candidate stayed inside the quarantine set:
    // verification can only demote, never invent a near-dup
    assert(rows.forall(r => r._3 != "neardup" ||
      r._2 == "neardup_candidate"))
  }

  test("e172 (stored admission artifacts) returns e168's rows; the " +
    "three artifacts exist on disk") {
    val stored = run("e172_gate_verify_stored").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val fresh = run("e168_gate_verify").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(stored === fresh)
    assert(stored.nonEmpty)
    val p = Scratch.dir(spark, "e172-admission")
    for (t <- Seq("digests", "bands", "signatures"))
      assert(spark.read.parquet(s"$p/$t.parquet").count() > 0, t)
  }

  test("e172's STEADY-STATE leg (fingerprint-amortized artifacts, " +
    "bucketed signature store) returns the same verdicts, and the " +
    "second invocation rebuilds nothing (VERDICT r14 #5)") {
    val steady1 = ExtensionQueries
      .gateVerifyImpl(spark, dir, Some("e172-steady-spec"),
        amortize = true)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val fresh = run("e168_gate_verify").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(steady1 === fresh,
      "amortized steady-state leg diverged from e168")
    // the signature store landed as a bucketed catalog table, so the
    // verification join-back reads pre-shuffled buckets
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString
    assert(spark.catalog.tableExists(s"graft_sigstore_$tag"))
    // steady-state means steady: a second invocation on the unchanged
    // corpus reuses every artifact (fingerprint match — this is the
    // leg ProbeMain's timed pass runs after the warmup built the store)
    val p = Scratch.dir(spark, "e172-steady-spec")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def mtime(path: String): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(path)).getModificationTime
    val t0 = mtime(s"$p/digests.parquet/_graft_fingerprint")
    val steady2 = ExtensionQueries
      .gateVerifyImpl(spark, dir, Some("e172-steady-spec"),
        amortize = true)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(steady2 === fresh)
    assert(mtime(s"$p/digests.parquet/_graft_fingerprint") === t0,
      "second steady invocation rewrote an artifact it should reuse")
  }

  test("the literal streaming gate's verdicts equal e168's " +
    "gate_verdict column (the stream->batch handoff)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (dig, bands) = StreamBandGate.corpusIndex(corpus)
    val digM = dig.localCheckpoint(true)
    val bandsM = bands.localCheckpoint(true)

    val ms = MemoryStream[(Long, String, Timestamp)]
    val out = StreamBandGate.verdicts(
      ms.toDF().toDF("doc_id", "text", "ts"), digM, bandsM)
    val q = out.writeStream
      .format("memory").queryName("gate168").outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(delta.map { case (id, t) => (id, t, ts(0)) }.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("gate168")
        .select("doc_id", "verdict").as[(Long, String)]
        .collect().toMap
      val batch = run("e168_gate_verify")
        .select("doc_id", "gate_verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }
}
