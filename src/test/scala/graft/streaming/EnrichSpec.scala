package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Point-in-time SCD-2 enrichment on a streaming ingest: each event picks
  * the dim version effective at ITS timestamp via the packed-broadcast
  * projection (no stream-side state, no watermark), and unknown keys /
  * pre-history events come out null like a left as-of join.
  */
class EnrichSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  case class Ev(service: String, ts: Long, v: Double)

  test("events pick the version effective at their timestamp") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-enrich").toString

    // svc-a owned by team-1 from t=0, team-2 from t=100; svc-b from t=50
    val dim = Seq(
      ("svc-a", 0L, "team-1", "v1"),
      ("svc-a", 100L, "team-2", "v2"),
      ("svc-b", 50L, "team-3", "v1")
    ).toDF("service", "effective_from", "team", "version")
    val packed = Enrich.packDim(dim, "service", "effective_from",
      Seq("team", "version"))

    val input = MemoryStream[Ev](spark)
    input.addData(
      Ev("svc-a", 10, 1.0),   // before the team-2 cutover -> team-1
      Ev("svc-a", 100, 2.0),  // at the cutover boundary (inclusive) -> team-2
      Ev("svc-a", 500, 3.0),  // well after -> team-2
      Ev("svc-b", 10, 4.0),   // before svc-b history starts -> null
      Ev("svc-c", 10, 5.0))   // unknown key -> null

    val out = Enrich.pointInTime(input.toDF(), packed, "service", "ts",
      Seq("team", "version"))
    val q = out.writeStream
      .format("memory").queryName("enriched")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("enriched")
      .select("service", "ts", "team", "version")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).orNull, Option(r.getString(3)).orNull))
      .toSet
    assert(rows == Set(
      ("svc-a", 10L, "team-1", "v1"),
      ("svc-a", 100L, "team-2", "v2"),
      ("svc-a", 500L, "team-2", "v2"),
      ("svc-b", 10L, null, null),
      ("svc-c", 10L, null, null)))
  }
}
