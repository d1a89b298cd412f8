package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import StreamTailSample.{Decision, Span}

/** Streaming tail-based trace sampling: decisions fire decision_wait
  * past a trace's newest span (event-time timeout), policies apply in
  * priority order with a DETERMINISTIC probabilistic coin, state is the
  * fixed-size fact tuple, and a late span after the decision re-decides
  * under a bumped revision. */
class StreamTailSampleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def ns(sec: Long): Long = sec * 1000000000L

  test("policies decide in priority order; decisions fire on the timeout") {
    import spark.implicits._
    val input = MemoryStream[Span](spark)
    val withWm = input.toDF()
      .withColumn("eventTime", timestamp_seconds(expr("tsNs div 1000000000")))
      .withWatermark("eventTime", "5 seconds")
      .as[Span]
    // threshold 2s wall; probabilistic keep for coin < 50
    val out = StreamTailSample.decisions(withWm,
      decisionWaitSec = 10, latencyThresholdNs = ns(2), keepPct = 50)
    val q = out.writeStream.format("memory").queryName("tail_decisions")
      .outputMode("append").start()
    try {
      // trace-err: one ERROR span; trace-slow: wall 3 s; two fast traces
      // whose fate is the deterministic coin
      val fastA = "trace-fast-0"; val fastB = "trace-fast-1"
      input.addData(
        Span("trace-err", ns(100), ns(1) / 2, isError = true),
        Span("trace-err", ns(101), ns(1) / 2, isError = false),
        Span("trace-slow", ns(100), ns(1), isError = false),
        Span("trace-slow", ns(102), ns(1), isError = false), // wall = 3 s
        Span(fastA, ns(100), ns(1) / 4, isError = false),
        Span(fastB, ns(100), ns(1) / 4, isError = false))
      q.processAllAvailable()
      assert(spark.table("tail_decisions").count() == 0,
        "no decision before decision_wait elapses")
      // advance the watermark far past every timeout
      input.addData(Span("trace-late-wm", ns(1000), ns(1), isError = false))
      q.processAllAvailable()
      input.addData(Span("trace-late-wm2", ns(2000), ns(1), isError = false))
      q.processAllAvailable()
      val rows = spark.table("tail_decisions").as[Decision].collect()
        .map(d => d.traceId -> d).toMap
      assert(rows("trace-err").keep && rows("trace-err").reason == "error")
      assert(rows("trace-err").nSpans == 2)
      assert(rows("trace-slow").keep && rows("trace-slow").reason == "slow")
      assert(rows("trace-slow").wallNs == ns(3))
      for (t <- Seq(fastA, fastB)) {
        val expectKeep = StreamTailSample.coin(t) < 50
        assert(rows(t).keep == expectKeep, s"$t coin=${StreamTailSample.coin(t)}")
        assert(rows(t).reason == (if (expectKeep) "probabilistic" else "drop"))
        assert(rows(t).revision == 0)
      }
    } finally q.stop()
  }

  test("streaming decisions agree with the batch q327 policy on real spans") {
    // cross-surface law: the SAME spans through the batch operator's
    // policy algebra and the streaming operator must decide identically
    // when the streaming latency bound is set to the batch-derived p95
    // (the coin is the same md5('ts:'||trace_id) % 100 in both)
    import spark.implicits._
    val spans = graft.SignalViews.tracesGen2Df(spark, "/root/testdata/sf0.001")
      .limit(3000)
      .select(col("trace_id"), col("timestamp"), col("duration_nanos"),
        (col("status_code") === "ERROR").as("isError"))
      .collect()
      .map(r => Span(r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // batch side: per-trace facts + the exact ceil(0.95 n) rank bound
    val traces = spans.groupBy(_.traceId).map { case (id, ss) =>
      (id, ss.length, ss.exists(_.isError),
        ss.map(s => s.tsNs + s.durNs).max - ss.map(_.tsNs).min)
    }.toSeq
    val sortedWalls = traces.map(t => (t._4, t._1)).sortBy(identity)
    val p95 = sortedWalls((traces.size * 95 + 99) / 100 - 1)._1
    def batchReason(hasError: Boolean, wall: Long, id: String): String =
      if (hasError) "error"
      else if (wall >= p95) "slow"
      else if (StreamTailSample.coin(id) < 10) "probabilistic"
      else "drop"
    // streaming side over micro-batches
    val input = MemoryStream[Span](spark)
    val withWm = input.toDF()
      .withColumn("eventTime", timestamp_seconds(expr("tsNs div 1000000000")))
      .withWatermark("eventTime", "5 seconds")
      .as[Span]
    val out = StreamTailSample.decisions(withWm,
      decisionWaitSec = 60, latencyThresholdNs = p95, keepPct = 10)
    val q = out.writeStream.format("memory").queryName("tail_parity")
      .outputMode("append").start()
    try {
      // one batch: testdata spans are unordered over a month of event
      // time, so any split would strand whole traces below the advanced
      // watermark (stateful operators DROP late input) — this law is
      // about the policy algebra, not lateness handling
      input.addData(spans.toIndexedSeq)
      q.processAllAvailable()
      // advance the watermark far past every decision_wait
      val maxTs = spans.map(_.tsNs).max
      input.addData(Span("wm-flush", maxTs + ns(1000), ns(1), isError = false))
      q.processAllAvailable()
      input.addData(Span("wm-flush2", maxTs + ns(2000), ns(1), isError = false))
      q.processAllAvailable()
      val got = spark.table("tail_parity").as[Decision].collect()
        .filter(d => !d.traceId.startsWith("wm-flush"))
        .map(d => d.traceId -> d).toMap
      assert(got.size == traces.size,
        s"${got.size} decisions for ${traces.size} traces")
      traces.foreach { case (id, nSpans, hasError, wall) =>
        val d = got(id)
        assert(d.nSpans == nSpans && d.wallNs == wall, s"$id facts diverge")
        assert(d.reason == batchReason(hasError, wall, id),
          s"$id: streaming ${d.reason} != batch ${batchReason(hasError, wall, id)}")
      }
    } finally q.stop()
  }

  test("a late span after the decision re-decides under a bumped revision") {
    import spark.implicits._
    val input = MemoryStream[Span](spark)
    val withWm = input.toDF()
      .withColumn("eventTime", timestamp_seconds(expr("tsNs div 1000000000")))
      .withWatermark("eventTime", "5 seconds")
      .as[Span]
    val out = StreamTailSample.decisions(withWm,
      decisionWaitSec = 10, latencyThresholdNs = ns(2), keepPct = 0)
    val q = out.writeStream.format("memory").queryName("tail_revisions")
      .outputMode("append").start()
    try {
      // trace at 100 s → decision due at 110 s; the watermark-advancing
      // trace at 120 s pushes the watermark to 115 s, firing it (Spark
      // runs the timeout batch as soon as the watermark passes)
      input.addData(Span("trace-r", ns(100), ns(1) / 2, isError = false))
      q.processAllAvailable()
      input.addData(Span("wm-a", ns(120), ns(1), isError = false))
      q.processAllAvailable()
      val first = spark.table("tail_revisions").as[Decision].collect()
        .filter(_.traceId == "trace-r")
      assert(first.length == 1 && !first.head.keep && first.head.revision == 0,
        first.mkString(", "))
      // a LATE error span INSIDE the tombstone TTL: lands on the
      // tombstone, re-decides as keep under revision 1 — the
      // compensating row a (trace_id, revision)-keyed sink upserts
      input.addData(Span("trace-r", ns(121), ns(1), isError = true))
      q.processAllAvailable()
      input.addData(Span("wm-b", ns(140), ns(1), isError = false))
      q.processAllAvailable()
      val all = spark.table("tail_revisions").as[Decision].collect()
        .filter(_.traceId == "trace-r").sortBy(_.revision)
      assert(all.length == 2, all.mkString(", "))
      assert(all(1).revision == 1 && all(1).keep && all(1).reason == "error")
    } finally q.stop()
  }
}
