package graft.streaming

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The video band-index maintainer's laws (the q383/q384 law set, for
  * the video modality): batching invariance, exactly-once replay,
  * delete ≡ rebuild with source-bounded tombstones, and compaction
  * transparency. The band explode is stateless per row, so every law
  * reduces to BatchStore discipline — which is exactly the point: a
  * third maintainer should add NO new lifecycle semantics. */
class BandMaintainSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  // fingerprints: (doc_id, b1..b4, fp); docs 1/2 share band b1=7 and
  // are near (hd(fp)=1), doc 3 is isolated
  private val fps = Seq(
    (1L, 7L, 100L, 200L, 300L, 0x0fL),
    (2L, 7L, 101L, 201L, 301L, 0x0eL),
    (3L, 9L, 102L, 202L, 302L, 0xf0L),
    (4L, 9L, 103L, 203L, 303L, 0xf1L),
    (5L, 11L, 104L, 204L, 304L, 0xffL))

  private def toDF(rows: Seq[(Long, Long, Long, Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "b1", "b2", "b3", "b4", "fp")
  }

  private def state(dir: String): Set[(Long, Long, Long)] =
    BandMaintain.bands(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("batching invariance: 3-batch store equals 1-batch store; bk encodes (f, band)") {
    val d1 = graft.TestDirs.create("graft_band1_").toString
    val d3 = graft.TestDirs.create("graft_band3_").toString
    BandMaintain.maintainBatch(d1)(toDF(fps), 0L)
    BandMaintain.maintainBatch(d3)(toDF(fps.take(2)), 0L)
    BandMaintain.maintainBatch(d3)(toDF(fps.slice(2, 4)), 1L)
    BandMaintain.maintainBatch(d3)(toDF(fps.drop(4)), 2L)
    assert(state(d1) == state(d3), "micro-batching changed the store")
    // four rows per doc, one per frame plane, key = f·2¹⁵ + band
    assert(state(d1).count(_._2 == 1L) == 4)
    assert(state(d1).contains((0L * 32768 + 7L, 1L, 0x0fL)))
    assert(state(d1).contains((3L * 32768 + 300L, 1L, 0x0fL)))
    // the shared band co-locates docs 1 and 2 under one key
    assert(state(d1).filter(_._1 == 7L).map(_._2) == Set(1L, 2L))
    // probe side: band rows from the shared key function join the
    // stored rows on bk — including the widest band (0x7FFF) at f = 3
    import spark.implicits._
    val wide = graft.TestDirs.create("graft_bandwide_").toString
    BandMaintain.maintainBatch(wide)(
      Seq((6L, 1L, 2L, 3L, 0x7FFFL, 0x1L)).toDF("doc_id", "b1", "b2", "b3", "b4", "fp"), 0L)
    assert(state(wide).contains((3L * 32768 + 0x7FFFL, 6L, 0x1L)))
    val probe = Seq((90L, 7L, 999L, 999L, 300L, 0x0fL),
        (91L, 50L, 51L, 52L, 0x7FFFL, 0x3L))
      .toDF("did", "b1", "b2", "b3", "b4", "fp")
    def hits(dir: String) = BandMaintain.bandRows(probe)
      .join(BandMaintain.bands(spark, dir), Seq("bk"))
      .select(col("did"), col("doc_id")).as[(Long, Long)].collect().toSet
    assert(hits(d1) == Set((90L, 1L), (90L, 2L)),
      "probe bk differs from the stored bk")
    assert(hits(wide) == Set((91L, 6L)), "band 0x7FFF at f = 3 did not join")
  }

  test("replaying a batch id rewrites identical state; compaction changes nothing a probe sees") {
    val dir = graft.TestDirs.create("graft_bandrp_").toString
    BandMaintain.maintainBatch(dir)(toDF(fps.take(3)), 0L)
    BandMaintain.maintainBatch(dir)(toDF(fps.drop(3)), 1L)
    val before = state(dir)
    BandMaintain.maintainBatch(dir)(toDF(fps.drop(3)), 1L) // replay
    assert(state(dir) == before, "replay duplicated band rows")
    BandMaintain.compact(spark, dir)
    assert(state(dir) == before, "compaction changed the probe view")
    val gens = new java.io.File(s"$dir/bands").listFiles().map(_.getName)
      .filterNot(_.startsWith("_")).toSet
    assert(gens == Set("compact-1"), s"fold did not bound the store: $gens")
  }

  test("in-stream self-compaction bounds the store without changing the probe view") {
    val dir = graft.TestDirs.create("graft_bandsc_").toString
    val flat = graft.TestDirs.create("graft_bandfl_").toString
    for ((chunk, i) <- fps.grouped(1).zipWithIndex) {
      BandMaintain.maintainBatch(dir, compactEvery = 2)(toDF(chunk), i.toLong)
      BandMaintain.maintainBatch(flat)(toDF(chunk), i.toLong)
    }
    assert(state(dir) == state(flat),
      "self-compaction changed what a probe sees")
    assert(new java.io.File(s"$dir/bands").listFiles()
      .count(!_.getName.startsWith("_")) <= 3,
      "self-compaction did not bound the live dirs")
  }

  test("delete ≡ rebuild: tombstones hide immediately, purge physically; re-appends resurface") {
    val dir = graft.TestDirs.create("graft_banddel_").toString
    val rebuilt = graft.TestDirs.create("graft_bandrb_").toString
    BandMaintain.maintainBatch(dir)(toDF(fps), 0L)
    BandMaintain.maintainBatch(rebuilt)(toDF(fps.filterNot(_._1 == 2L)), 0L)
    import spark.implicits._
    BandMaintain.deleteDocs(spark, dir, Seq(2L).toDF("doc_id"), 0L)
    assert(state(dir) == state(rebuilt), "delete != never-indexed")
    // a re-append AFTER the delete resurfaces WHILE the tombstone is
    // still live — src(5) > covers(0), the source-bounded law
    BandMaintain.maintainBatch(dir)(toDF(fps.filter(_._1 == 2L)), 5L)
    assert(state(dir).exists(_._2 == 2L), "re-appended doc stayed dead")
    BandMaintain.compact(spark, dir)
    assert(state(dir).exists(_._2 == 2L), "purge killed the re-append")
    assert(state(dir).filterNot(_._2 == 2L) == state(rebuilt),
      "physical purge changed the rest of the view")
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles().isEmpty,
      "covered tombstone not purged")
  }
}
