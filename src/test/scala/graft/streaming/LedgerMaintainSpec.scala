package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The exact-dedup ledger maintainer's laws (the fourth maintained
  * index — same law set as text/vectors/video): batching invariance,
  * exactly-once replay, delete ≡ rebuild with source-bounded
  * tombstones and multi-holder hash survival, compaction
  * transparency. */
class LedgerMaintainSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  // docs 2 and 4 share content: a hash with two holders
  private val docs = Seq(
    (1L, "alpha beta"), (2L, "shared content"), (3L, "gamma delta"),
    (4L, "shared content"), (5L, "epsilon"))

  private def toDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def state(dir: String): Set[(String, Long)] =
    LedgerMaintain.ledger(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("batching invariance; replay idempotent; compaction transparent") {
    val d1 = graft.TestDirs.create("graft_led1_").toString
    val d3 = graft.TestDirs.create("graft_led3_").toString
    LedgerMaintain.maintainBatch(d1)(toDF(docs), 0L)
    LedgerMaintain.maintainBatch(d3)(toDF(docs.take(2)), 0L)
    LedgerMaintain.maintainBatch(d3)(toDF(docs.slice(2, 4)), 1L)
    LedgerMaintain.maintainBatch(d3)(toDF(docs.drop(4)), 2L)
    assert(state(d1) == state(d3), "micro-batching changed the ledger")
    assert(state(d1).size == 5 &&
      state(d1).groupBy(_._1).values.map(_.size).max == 2,
      "the shared content must hold two holders under one hash")
    LedgerMaintain.maintainBatch(d3)(toDF(docs.drop(4)), 2L) // replay
    assert(state(d3) == state(d1), "replay duplicated rows")
    LedgerMaintain.compact(spark, d3)
    assert(state(d3) == state(d1), "compaction changed the probe view")
  }

  test("delete ≡ rebuild; a hash survives through its other holder; re-appends resurface") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_leddel_").toString
    LedgerMaintain.maintainBatch(dir)(toDF(docs), 0L)
    LedgerMaintain.deleteDocs(spark, dir, Seq(2L, 5L).toDF("doc_id"), 0L)
    // doc 2's hash stays live through doc 4; doc 5's hash is gone
    val hs = state(dir)
    assert(!hs.exists(_._2 == 2L) && !hs.exists(_._2 == 5L))
    assert(hs.exists(_._2 == 4L), "the co-holder must keep the hash live")
    // re-append AFTER the delete resurfaces (src > covers) while the
    // tombstone is still live
    LedgerMaintain.maintainBatch(dir)(toDF(docs.filter(_._1 == 5L)), 7L)
    assert(state(dir).exists(_._2 == 5L), "re-appended doc stayed dead")
    LedgerMaintain.compact(spark, dir)
    assert(state(dir).exists(_._2 == 5L) && !state(dir).exists(_._2 == 2L),
      "physical purge broke the view")
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles().isEmpty,
      "covered tombstone not purged")
  }
}
