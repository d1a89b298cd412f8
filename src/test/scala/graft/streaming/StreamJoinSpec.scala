package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream interval join: in-window pairs match across batches,
  * out-of-window purchases don't, and events behind the watermark are
  * dropped instead of growing state forever. */
class StreamJoinSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def t(min: Int) =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("attribution joins within the gap, drops beyond it and behind the watermark") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, String, Long)](spark)
    val purchases = MemoryStream[(Timestamp, String, Long)](spark)
    val out = StreamJoin.clickAttribution(
      clicks.toDF().toDF("c_ts", "user", "c_id"),
      purchases.toDF().toDF("p_ts", "p_user", "p_id"),
      gapSec = 3600, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("attr_t1")
      .outputMode("append").start()
    try {
      // click at t0; purchase 30 min later (in window), 90 min later (out)
      clicks.addData((t(0), "u1", 1L))
      purchases.addData((t(30), "u1", 100L))
      q.processAllAvailable()
      purchases.addData((t(90), "u1", 101L))
      // second user: purchase BEFORE the click never matches
      clicks.addData((t(40), "u2", 2L))
      purchases.addData((t(35), "u2", 200L))
      q.processAllAvailable()
      val rows = spark.table("attr_t1")
        .select("c_id", "p_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 100L)),
        s"only the in-window forward pair joins: $rows")

      // advance both watermarks far past t0+gap, then deliver a purchase
      // behind the watermark — late input must be dropped, not joined
      clicks.addData((t(300), "u9", 9L))
      purchases.addData((t(300), "u9", 900L))
      q.processAllAvailable()
      purchases.addData((t(45), "u1", 102L))
      q.processAllAvailable()
      val after = spark.table("attr_t1")
        .select("c_id", "p_id").as[(Long, Long)].collect().toSet
      assert(!after.contains((1L, 102L)),
        s"late purchase behind the watermark must not join: $after")
    } finally q.stop()
  }

  test("left-outer emits the unconverted click once the watermark proves it") {
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, String, Long)](spark)
    val purchases = MemoryStream[(Timestamp, String, Long)](spark)
    val out = StreamJoin.clickAttributionOuter(
      clicks.toDF().toDF("c_ts", "user", "c_id"),
      purchases.toDF().toDF("p_ts", "p_user", "p_id"),
      gapSec = 3600, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    try {
      // u1 converts; u2 never does
      clicks.addData((t(0), "u1", 1L), (t(0), "u2", 2L))
      purchases.addData((t(30), "u1", 100L))
      q.processAllAvailable()
      // push BOTH watermarks far past t0 + gap so u2's state expires
      clicks.addData((t(600), "u9", 9L))
      purchases.addData((t(600), "u9", 900L))
      q.processAllAvailable()
      // one more advance: outer results surface on state eviction
      clicks.addData((t(700), "u8", 8L))
      purchases.addData((t(700), "u8", 800L))
      q.processAllAvailable()
      val rows = spark.table("attr_outer")
        .select("c_id", "p_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 100L)), s"converted pair missing: $rows")
      assert(rows.contains((2L, -1L)),
        s"unconverted click must surface null-padded after eviction: $rows")
    } finally q.stop()
  }
}
