package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The shingle-index maintainer's laws — same set as its siblings:
  * batching invariance (incl. the denormalized per-doc count), replay
  * idempotency, delete ≡ rebuild with resurfacing, compaction
  * transparency. */
class ShingleMaintainSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "a very different document about stream processing engines"),
    (3L, "the quick brown fox jumps over the lazy dog tomorrow"))

  private def toDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def state(dir: String): Set[(Long, String, Long)] =
    ShingleMaintain.index(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("batching invariance incl. denormalized counts; replay; compaction transparent") {
    val d1 = graft.TestDirs.create("graft_shg1_").toString
    val d3 = graft.TestDirs.create("graft_shg3_").toString
    ShingleMaintain.maintainBatch(d1)(toDF(docs), 0L)
    for ((d, i) <- docs.zipWithIndex)
      ShingleMaintain.maintainBatch(d3)(toDF(Seq(d)), i.toLong)
    assert(state(d1) == state(d3), "micro-batching changed the index")
    // every row of a doc carries that doc's own shingle count
    val perDoc = state(d1).groupBy(_._1)
    perDoc.foreach { case (id, rows) =>
      assert(rows.map(_._3).size == 1 || rows.map(_._3).toSet.size == 1)
      assert(rows.head._3 == rows.size, s"doc $id count denormalized wrong")
    }
    ShingleMaintain.maintainBatch(d3)(toDF(Seq(docs(2))), 2L) // replay
    assert(state(d3) == state(d1))
    ShingleMaintain.compact(spark, d3)
    assert(state(d3) == state(d1), "compaction changed the probe view")
  }

  test("delete ≡ rebuild; re-appends resurface") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_shgdel_").toString
    val rebuilt = graft.TestDirs.create("graft_shgrb_").toString
    ShingleMaintain.maintainBatch(dir)(toDF(docs), 0L)
    ShingleMaintain.maintainBatch(rebuilt)(toDF(docs.filterNot(_._1 == 2L)), 0L)
    ShingleMaintain.deleteDocs(spark, dir, Seq(2L).toDF("doc_id"), 0L)
    assert(state(dir) == state(rebuilt), "delete != never-indexed")
    ShingleMaintain.maintainBatch(dir)(toDF(docs.filter(_._1 == 2L)), 5L)
    assert(state(dir).exists(_._1 == 2L), "re-appended doc stayed dead")
    ShingleMaintain.compact(spark, dir)
    assert(state(dir).exists(_._1 == 2L))
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles().isEmpty)
  }
}
