package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming last-sample-per-bucket semantics: a later sample in the same
  * bucket REPLACES the tile value (update mode re-emission); distinct
  * buckets and series keep their own rows. */
class MetricsTailSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("metrics tail emits the latest sample per (bucket, series)") {
    import spark.implicits._
    val in = MemoryStream[(Long, String, String, Double, Long)](spark)
    val stream = in.toDF()
      .toDF("timestamp", "metric_name", "service_name", "value", "event_id")
    val q = MetricsTail.start(stream, stepSec = 10, name = "mtail",
      seriesLabels = Seq("service_name"), tieBreak = Seq("event_id"),
      lateness = "1 hour")
    try {
      val ns = 1000000000L
      in.addData((1L * ns, "cpu", "svc-0", 1.0, 1L), (12L * ns, "cpu", "svc-0", 5.0, 2L))
      q.processAllAvailable()
      // same bucket, later sample → the tile must UPDATE to 9.0
      in.addData((3L * ns, "cpu", "svc-0", 9.0, 3L))
      q.processAllAvailable()
      // equal timestamp: the tieBreak decides (event_id 4 > 3)
      in.addData((3L * ns, "cpu", "svc-0", 7.0, 4L))
      q.processAllAvailable()
      val rows = spark.table("mtail")
        .collect()
        .map(r => (r.getAs[Long]("bucket_start"), r.getAs[Double]("value")))
      // newest emission per bucket wins when polling
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (b, xs) => b -> xs.maxBy(_._2)._1._2 }
      assert(latest == Map(0L -> 7.0, 10L -> 5.0), s"got ${rows.toSeq}")
    } finally q.stop()
  }
}
