package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming content dedup: duplicate deliveries inside the watermark
  * horizon are dropped (cross-batch included); the same content arriving
  * after state for it has expired passes again — bounded-state semantics,
  * not global-history dedup. */
class StreamDedupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("duplicates within the watermark drop, expired content passes again") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = StreamDedup.dedupByContent(in.toDF().toDF("ts", "body"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_t1")
      .outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
      // same body three times in one batch + once in the next batch
      in.addData((t(0), "hello"), (t(1), "hello"), (t(2), "world"))
      q.processAllAvailable()
      in.addData((t(3), "hello"))
      q.processAllAvailable()
      assert(spark.table("dedup_t1").select("body").as[String].collect().sorted
        .toSeq == Seq("hello", "world"))
      // advance the watermark far past the horizon → "hello" state expires
      in.addData((t(60), "advance"))
      q.processAllAvailable()
      in.addData((t(61), "hello"))
      q.processAllAvailable()
      val bodies = spark.table("dedup_t1").select("body").as[String].collect().toSeq
      assert(bodies.count(_ == "hello") == 2, s"expired key must re-admit: $bodies")
    } finally q.stop()
  }
}
