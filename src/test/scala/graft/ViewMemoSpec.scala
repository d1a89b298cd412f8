package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Endpoints

/** Served views are built once per data version of the events table:
  * repeated requests reuse the built view, and rewriting
  * `events.parquet` changes the next served answer. */
class ViewMemoSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val src = "/root/testdata/sf0.001"
  private val T0 = 1704067200L

  test("a served view is reused until events.parquet is rewritten") {
    val dir = graft.TestDirs.create("view-memo").toString
    val events = s"$dir/events.parquet"
    val raw = spark.read.parquet(s"$src/events.parquet").cache()
    try {
      raw.write.parquet(events)
      val logs = SignalViews.logsTable(spark, dir)
      assert(SignalViews.logsTable(spark, dir) eq logs)
      assert(SignalViews.metricsTable(spark, dir) eq SignalViews.metricsTable(spark, dir))
      assert(SignalViews.tracesGen2Df(spark, dir) eq SignalViews.tracesGen2Df(spark, dir))
      assert(SignalViews.logsGen2Df(spark, dir) eq SignalViews.logsGen2Df(spark, dir))

      val (s, e) = (T0, T0 + 86400L * 31)
      val prom = s"query=${java.net.URLEncoder.encode("sum(count_over_time(purchase[1d]))", "UTF-8")}" +
        s"&start=$s&end=$e&step=86400"
      val loki = s"query=${java.net.URLEncoder.encode("""{service_name="svc-1"}""", "UTF-8")}" +
        s"&start=${s * 1000000000L}&end=${e * 1000000000L}&limit=5"
      def answers() = (Endpoints.promQueryRange(spark, dir, prom),
        Endpoints.lokiQueryRange(spark, dir, loki, e * 1000000000L))
      val before = answers()

      // rewrite: drop every purchase and the newest svc-1 lines
      val newest = raw.filter(col("user_id") % 8 === 1).agg(max(col("ts"))).head.get(0)
      raw.filter(col("event_type") =!= "purchase" && col("ts") =!= lit(newest))
        .write.mode("overwrite").parquet(events)
      assert(!(SignalViews.logsTable(spark, dir) eq logs), "view not rebuilt after a rewrite")
      val after = answers()
      assert(after._1 != before._1, "PromQL answer served from the stale view")
      assert(after._2 != before._2, "Loki answer served from the stale view")

      // and the rebuilt answer is the one a never-served copy gives
      val fresh = graft.TestDirs.create("view-memo-fresh").toString
      spark.read.parquet(events).write.parquet(s"$fresh/events.parquet")
      assert(after == (Endpoints.promQueryRange(spark, fresh, prom),
        Endpoints.lokiQueryRange(spark, fresh, loki, e * 1000000000L)))
    } finally raw.unpersist()
  }

  test("the events day bounds move when events.parquet is rewritten") {
    val events = s"${graft.TestDirs.create("day-bounds")}/events.parquet"
    val dir = events.stripSuffix("/events.parquet")
    // `ts` as bare INT64 epoch nanos, one row per day
    def write(firstDay: Long, days: Int): Unit =
      spark.range(days).select(((lit(firstDay) + col("id")) * 86400L * 1000000000L).as("ts"))
        .write.mode("overwrite").parquet(events)
    write(19800L, 3)
    assert(Tables.eventsDayBounds(spark, dir) == ((19800L, 19802L)))
    write(19810L, 5)
    assert(Tables.eventsDayBounds(spark, dir) == ((19810L, 19814L)),
      "day bounds served from before the rewrite")
  }

  test("a stopped shell leaves nothing of its served session in the view memo") {
    // a miss first drops entries of stopped sessions and deleted tables,
    // so the sizes below count this shell's entries alone
    Tables.perEventsVersion(spark, src, "view-memo-prime")(new Object)
    val n = Tables.viewMemoSize
    val shell = new graft.api.HttpShell(spark, src, (T0 + 86400L * 31) * 1000000000L)
    val port = shell.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      for (q <- Seq(
          s"/loki/api/v1/query_range?query=${java.net.URLEncoder.encode("""{service_name="svc-1"}""", "UTF-8")}" +
            s"&start=${T0}000000000&end=${T0 + 86400L}000000000",
          s"/prometheus/api/v1/query_range?query=purchase&start=$T0&end=${T0 + 86400L}&step=3600")) {
        val r = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$q")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
      }
      assert(Tables.viewMemoSize > n, "the served session built no views")
    } finally shell.stop()
    assert(Tables.viewMemoSize == n)
  }

  test("per-request arrow SQL sessions add nothing to the view memo") {
    // each SQL ticket runs in its own newSession(); memoizing its views
    // would pin that session for the life of the SparkContext
    def serve() = Endpoints.arrowTicket(spark, src,
      "SELECT (SELECT count(*) FROM logs) + (SELECT count(*) FROM traces) AS n")
    serve()
    val n = Tables.viewMemoSize
    (1 to 5).foreach(_ => serve())
    assert(Tables.viewMemoSize == n)
  }
}
