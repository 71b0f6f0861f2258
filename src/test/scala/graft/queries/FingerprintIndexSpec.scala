package graft.queries

import graft.SparkSpecBase

/** e171 — the persisted constellation index: probing the stored
  * bloom-filtered layout must return e166's rows verbatim (the index
  * is a LAYOUT, not an approximation), and the layout must carry the
  * recorded bloom contract.
  */
class FingerprintIndexSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) =
    CurationQueries.all.find(_.name == name).get.run(spark, dir)

  test("probing the stored index returns e166's rows; the layout " +
    "records the bloom contract") {
    val viaIndex = run("e171_fingerprint_indexed").collect().toSet
    val direct = run("e166_audio_fingerprint").collect().toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty)
    val idxPath = Scratch.dir(spark, "e171-fpidx") + "/fp_index.parquet"
    val contract = graft.sources.Layout.readLayoutContract(spark, idxPath)
    assert(contract.exists(c => c.get("kind").contains("bloom") &&
      c.get("cols").contains("h")), contract.toString)
  }
}
