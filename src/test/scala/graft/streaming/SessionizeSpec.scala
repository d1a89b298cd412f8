package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import Sessionize.Event

/** Streaming sessionization e2e: custom state via flatMapGroupsWithState,
  * gap-close inline and watermark/timeout close, over micro-batches.
  */
class SessionizeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("sessions close on gap within and across micro-batches") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-sess").toString
    val input = MemoryStream[Event](spark)
    // user 1: two sessions split by a 2540 s gap; user 2: one session.
    // Every asserted session is closed INLINE by a later event past the
    // gap, so the assertions hold whether AvailableNow coalesces the
    // batches or not (timeout close is wired but not load-bearing here).
    input.addData(Event(1, 1000), Event(1, 1060), Event(2, 1000))
    input.addData(Event(1, 3600), Event(1, 3660))
    input.addData(Event(1, 99000), Event(2, 99000))

    val withWm = input.toDF()
      .withColumn("eventTime", timestamp_seconds(col("tsSec")))
      .withWatermark("eventTime", "10 seconds")
      .as[Event]
    val out = Sessionize.sessions(withWm, gapSec = 600)

    val q = out.writeStream
      .format("memory").queryName("sessions")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.table("sessions")
      .orderBy("userId", "startSec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.contains((1L, 1000L, 1060L, 2)))
    assert(rows.contains((1L, 3600L, 3660L, 2)))
    assert(rows.contains((2L, 1000L, 1000L, 1)))
  }
}
