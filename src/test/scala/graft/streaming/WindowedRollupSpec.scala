package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming tumbling-window rollup with a watermark — the standard
  * Structured Streaming stateful aggregation (SURVEY §2.9: the engine's
  * metric evaluation is tumbling everywhere; this is the same bucket
  * shape computed incrementally at ingest, with the watermark bounding
  * state exactly like the compactor's lateness allowance bounds open
  * partitions).
  */
class WindowedRollupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("watermarked tumbling counts: in-window events aggregate, state is bounded") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)](spark)
    val rollup = in.toDF().toDF("ts", "service")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("service"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("service"), col("n"))
    val q = rollup.writeStream.format("memory").queryName("rollup_t1")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
      in.addData((t(5), "svc-a"), (t(20), "svc-a"), (t(30), "svc-b"))
      q.processAllAvailable()
      // nothing emitted yet: the 00:00 window is still open
      assert(spark.table("rollup_t1").count() == 0)
      // advance event time past window end + watermark → 00:00 closes
      in.addData((t(135), "svc-a"))
      q.processAllAvailable()
      val closed = spark.table("rollup_t1").as[(Timestamp, String, Long)]
        .collect().toSet
      assert(closed == Set(
        (Timestamp.valueOf("2024-01-01 00:00:00"), "svc-a", 2L),
        (Timestamp.valueOf("2024-01-01 00:00:00"), "svc-b", 1L)))
    } finally q.stop()
  }
}
