package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout

/** Unflushed-data visibility: the hot/cold union serves un-committed
  * micro-batches immediately, drops hot rows once their batch marker
  * commits (no duplication, no omission across the flush boundary), and
  * serves hot-only for a first-run table that has no cold files yet.
  */
class HybridReadSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  private def rows(ids: Range, batchId: Long) = {
    import spark.implicits._
    ids.map(i => (t0 + i * 1000000000L, i.toLong, "svc", "info", s"line $i",
      batchId))
      .toDF("timestamp", "event_id", "service_name", "severity_text", "body",
        "_batch_id")
  }

  test("hot rows appear at ack, drop at commit; no dup, no omission") {
    val base = graft.TestDirs.create("graft-hybrid").toString
    val layout = TableLayout(base, "acme", "prod")

    // batch 1 flushed (marker committed); batches 1+2 still resident hot
    IngestSink.appendBatch(layout, "logs")(rows(0 until 5, 1L).drop("_batch_id"), 1L)
    val hot = rows(0 until 5, 1L).unionByName(rows(5 until 8, 2L))

    val seen = HybridRead.hotColdUnion(spark, layout, "logs", hot)
    assert(seen.count() == 8, "5 cold + 3 un-flushed hot")
    assert(seen.select("event_id").distinct().count() == 8, "no duplication")

    // batch 2 commits; the same hot residue must not double-serve it
    IngestSink.appendBatch(layout, "logs")(rows(5 until 8, 2L).drop("_batch_id"), 2L)
    val after = HybridRead.hotColdUnion(spark, layout, "logs", hot)
    assert(after.count() == 8 &&
      after.select("event_id").distinct().count() == 8,
      "committed batches serve from cold only")
  }

  test("first-run: hot-only table serves before any cold file exists") {
    val base = graft.TestDirs.create("graft-hybrid2").toString
    val layout = TableLayout(base, "acme", "prod")
    new Path(s"$base/acme/prod").getFileSystem(
      spark.sparkContext.hadoopConfiguration).mkdirs(new Path(s"$base/acme/prod"))

    val seen = HybridRead.hotColdUnion(spark, layout, "logs",
      rows(0 until 4, 1L))
    assert(seen.count() == 4)
    assert(seen.filter(col("severity_text") === "info").count() == 4)
  }
}
