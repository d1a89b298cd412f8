package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Gorilla

/** Streaming Gorilla maintenance ≡ batch compression: however ingest is
  * micro-batched, the latest (series, day) block is BIT-identical to the
  * batch compressor's output on the same sorted points; late points land
  * as revisions (never dropped, never double-kept); replaying a batch id
  * rewrites identical state. */
class GorillaStreamSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val day0 = 86400000000L // one day in µs

  private def batchBlock(pts: Seq[(Long, Long, Double)]): Array[Byte] = {
    val sorted = pts.sortBy(p => (p._1, p._2))
    Gorilla.compress(sorted.map(_._1).toArray, sorted.map(_._3).toArray)
  }

  test("stream-built blocks are bit-identical to batch blocks; late points revise") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_gorstream_").toString
    val in = MemoryStream[(String, Long, Long, Double)](spark)
    val stream = in.toDF().toDF("event_type", "us", "event_id", "value")
    val q = GorillaStream.start(stream, dir)
    try {
      // batch 1: day-0 points for two series (out of order within the batch)
      in.addData(
        ("click", 30L, 1L, 1.5), ("click", 10L, 2L, 2.5),
        ("view", 20L, 3L, 7.0))
      q.processAllAvailable()
      // batch 2: day-1 points (advance past day 0) + one more day-0 click
      in.addData(
        ("click", day0 + 100L, 4L, 3.0),
        ("click", 20L, 5L, 9.0)) // in-day-0 insert between 10 and 30
      q.processAllAvailable()
      // batch 3: a LATE day-0 point after day 0 closed
      in.addData(("view", 40L, 6L, 8.0))
      q.processAllAvailable()

      val latest = GorillaStream.latest(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getAs[Array[Byte]]("block"))).toMap
      // bit-identical to the batch compressor on the full input
      val clickD0 = Seq((10L, 2L, 2.5), (30L, 1L, 1.5), (20L, 5L, 9.0))
      assert(latest(("click", 0L))._2.sameElements(batchBlock(clickD0)))
      assert(latest(("view", 0L))._2.sameElements(
        batchBlock(Seq((20L, 3L, 7.0), (40L, 6L, 8.0)))))
      assert(latest(("click", 1L))._2.sameElements(
        batchBlock(Seq((day0 + 100L, 4L, 3.0)))))
      // the late view point produced revision 2 (it revised batch 1's block)
      assert(latest(("view", 0L))._1 == 2L)
      assert(latest(("click", 0L))._1 == 2L) // batch 2's in-day insert
      assert(latest(("click", 1L))._1 == 1L)

      // closed-day gate: hwm = day0+100; with zero lateness day 0 is
      // closed, day 1 still open
      val closed = GorillaStream.latestWithClosed(spark, dir, latenessUs = 0L)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(6)).toMap
      assert(closed(("click", 0L)) && closed(("view", 0L)) && !closed(("click", 1L)))
    } finally q.stop()
  }

  test("replaying a batch id rewrites identical state (exactly-once fold)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_gorreplay_").toString
    val b0 = Seq(("click", 10L, 1L, 1.0), ("click", 20L, 2L, 2.0))
      .toDF("event_type", "us", "event_id", "value")
    val b1 = Seq(("click", 15L, 3L, 5.0))
      .toDF("event_type", "us", "event_id", "value")
    GorillaStream.maintainBatch(dir)(b0, 0L)
    GorillaStream.maintainBatch(dir)(b1, 1L)
    val before = GorillaStream.latest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("block").toSeq)).toSet
    // crash-replay of batch 1: folds only pre-1 state, rewrites the same dir
    GorillaStream.maintainBatch(dir)(b1, 1L)
    val after = GorillaStream.latest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("block").toSeq)).toSet
    assert(after == before, "replay changed stored block state")
    // and the merged block is the batch compressor's on all three points
    val blk = GorillaStream.latest(spark, dir)
      .filter(col("day") === 0L).collect()(0).getAs[Array[Byte]]("block")
    assert(blk.sameElements(batchBlock(
      Seq((10L, 1L, 1.0), (20L, 2L, 2.0), (15L, 3L, 5.0)))))
  }

  test("in-stream self-compaction keeps the live set bounded without changing blocks") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_gorself_").toString
    val in = MemoryStream[(String, Long, Long, Double)](spark)
    val q = GorillaStream.start(
      in.toDF().toDF("event_type", "us", "event_id", "value"), dir,
      compactEvery = 2)
    try {
      for (i <- 0L until 6L) {
        in.addData(("click", 10L * (i + 1), i + 1, i.toDouble))
        q.processAllAvailable()
      }
    } finally q.stop()
    // 6 batches with compactEvery=2: the maintainer folded en route —
    // far fewer live dirs than batches ever written
    assert(GorillaStream.liveDirCount(spark, dir) <= 3,
      s"self-compaction did not bound the live set: " +
        s"${GorillaStream.liveDirCount(spark, dir)} dirs")
    val blk = GorillaStream.latest(spark, dir).collect()(0)
      .getAs[Array[Byte]]("block")
    assert(blk.sameElements(batchBlock(
      (0L until 6L).map(i => (10L * (i + 1), i + 1, i.toDouble)))))
  }

  test("compaction bounds reads to O(live dirs); replay stays exactly-once across it") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_gorcompact_").toString
    def pt(us: Long, id: Long, v: Double) =
      Seq(("click", us, id, v)).toDF("event_type", "us", "event_id", "value")
    // 6 batches, each revising the same day-0 block
    for (i <- 0L until 6L)
      GorillaStream.maintainBatch(dir)(pt(10L * (i + 1), i + 1, i.toDouble), i)
    assert(GorillaStream.liveDirCount(spark, dir) == 6)
    val before = GorillaStream.latest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("block").toSeq)).toSet
    // compact only COMMITTED batches (pretend batch 5 is the last
    // committed id is 4 — batch 5 might still replay)
    GorillaStream.compact(spark, dir, upToBatch = 4L)
    assert(GorillaStream.liveDirCount(spark, dir) == 2,
      "compact-4 + batch-5 is the live set — reads are O(live), not O(history)")
    assert(GorillaStream.latest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("block").toSeq)).toSet == before,
      "compaction changed latest()")
    // replaying the UNCOMMITTED batch 5 after the compaction folds the
    // generation (g=4 < 5) as its pre-state: identical rewrite
    GorillaStream.maintainBatch(dir)(pt(60L, 6L, 5.0), 5L)
    assert(GorillaStream.latest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Array[Byte]]("block").toSeq)).toSet == before,
      "replay across a compaction changed stored state")
    // the final full-history block still equals the batch compressor's
    val blk = GorillaStream.latest(spark, dir).collect()(0)
      .getAs[Array[Byte]]("block")
    assert(blk.sameElements(batchBlock(
      (0L until 6L).map(i => (10L * (i + 1), i + 1, i.toDouble)))))
    // a new batch after compaction revises on top; a second compact folds all
    GorillaStream.maintainBatch(dir)(pt(70L, 7L, 9.0), 6L)
    GorillaStream.compact(spark, dir, upToBatch = 6L)
    assert(GorillaStream.liveDirCount(spark, dir) == 1)
    val fin = GorillaStream.latest(spark, dir).collect()(0)
    assert(fin.getAs[Array[Byte]]("block").sameElements(batchBlock(
      (0L until 6L).map(i => (10L * (i + 1), i + 1, i.toDouble)) :+
        (70L, 7L, 9.0))))
  }
}
