package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-surface query parity (reference:
  * tests-integration/tests/query_parity.rs — every language must be
  * reachable end-to-end and the surfaces must not drift apart silently).
  *
  * One ground truth — error events per service over the full window —
  * computed through EVERY public query surface over the same stored
  * data: LogQL, PromQL, TraceQL, the native IR, and raw SQL, plus the
  * ApiJson envelopes those surfaces serve. All must agree exactly.
  */
class ParitySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"
  private val T0 = 1704067200L
  private val T1 = 1706745600L

  /** the ground truth from the raw events table. */
  private lazy val expected: Map[String, Long] =
    Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("s"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def toMap(rows: Array[org.apache.spark.sql.Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  test("LogQL agrees") {
    val t = SignalViews.logsTable(spark, dir)
    val m = graft.logql.Parser.parse(
      """sum by (service_name) (count_over_time({severity_text="error"}[1d]))""")
    val df = m match {
      case graft.logql.Ast.MetricQuery(e) => graft.logql.Lowering.lowerMetric(t, e)
      case other => fail(s"unexpected parse $other")
    }
    val got = toMap(df.groupBy(col("service_name"))
      .agg(sum(col("value").cast("long")).as("n")).collect())
    assert(got == expected)
  }

  test("PromQL agrees") {
    val t = SignalViews.metricsTable(spark, dir)
    val v = graft.promql.Eval.evalVector(
      graft.promql.Parser.parse("""sum by (service_name) (count_over_time(error[1d]))"""),
      t, graft.promql.Eval.TimeRange(T0, T1, 86400))
    val got = toMap(v.df.groupBy(col("service_name"))
      .agg(sum(col("value").cast("long")).as("n")).collect())
    assert(got == expected)
  }

  test("TraceQL agrees") {
    val conds = graft.traceql.TraceQL.parse("""{ status = "ERROR" }""")
    val got = toMap(SignalViews.tracesGen2Df(spark, dir)
      .filter(graft.traceql.TraceQL.lower(conds))
      .groupBy(col("service_name")).count().collect())
    assert(got == expected)
  }

  test("native IR agrees") {
    val doc =
      """{"irVersion":1,"from":"events",
        |"range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |"pipeline":[
        |  {"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"error"}},
        |  {"stage":"aggregate","by":["event_type"],"step":"31d",
        |   "aggs":{"n":{"op":"count"}}}]}""".stripMargin
    val table = graft.ir.Lowering.IrTable(
      df = Tables.events(spark, dir).select(
        (unix_micros(col("ts_us")) * 1000).as("ts"),
        col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props")),
      timeField = "ts",
      promoted = Map("event_id" -> "event_id", "user_id" -> "user_id",
        "event_type" -> "event_type", "value" -> "value", "props" -> "props"),
      attrSource = Some("props"))
    val df = graft.ir.Lowering.lower(
      graft.ir.Json.parseDocument(doc, T1 * 1000000000L), table)
    val total = df.agg(sum(col("n")).cast("long")).head.getLong(0)
    assert(total == expected.values.sum)
  }

  test("raw SQL agrees (guarded surface)") {
    val run = graft.sql.SqlSurface.signalSession(spark, dir, prefix = "par_")
    val got = toMap(run(
      """SELECT service_name, count(*) AS n FROM par_logs
        |WHERE severity_text = 'error' GROUP BY service_name""".stripMargin)
      .collect())
    assert(got == expected)
  }

  test("ApiJson envelopes carry the same numbers") {
    // Prometheus matrix over the PromQL result
    val t = SignalViews.metricsTable(spark, dir)
    val v = graft.promql.Eval.evalVector(
      graft.promql.Parser.parse("""sum by (service_name) (count_over_time(error[1d]))"""),
      t, graft.promql.Eval.TimeRange(T0, T1, 86400))
    val matrix = graft.api.ApiJson.promMatrix(v.df, Seq("service_name"))
    assert(matrix.contains(""""resultType":"matrix""""))
    for (svc <- expected.keys) assert(matrix.contains(svc), s"$svc missing from matrix")

    // Loki streams over an error line query
    val lines = SignalViews.logsDf(spark, dir)
      .filter(col("severity_text") === "error")
      .orderBy(col("timestamp").desc, col("event_id").desc).limit(50)
    val streams = graft.api.ApiJson.lokiStreams(lines, Seq("service_name", "severity_text"))
    assert(streams.contains(""""resultType":"streams""""))
    assert(streams.contains(""""severity_text":"error""""))
  }

  test("q327 tail-sampling summary equals a per-trace fold of its policy") {
    // the batch sampler against the same policy folded in Scala:
    // per-trace facts, the exact ceil(0.95 n) wall bound, then error →
    // slow → probabilistic (md5('ts:' || trace_id) coin < 10) → drop
    val spans = SignalViews.tracesGen2Df(spark, dir)
      .select(col("trace_id"), col("timestamp"), col("duration_nanos"),
        (col("status_code") === "ERROR").as("is_error"))
      .collect()
    val traces = spans.groupBy(_.getString(0)).toSeq.map { case (id, ss) =>
      (id, ss.length.toLong, ss.exists(_.getBoolean(3)),
        ss.map(r => r.getLong(1) + r.getLong(2)).max - ss.map(_.getLong(1)).min)
    }
    val p95 = traces.map(t => (t._4, t._1)).sorted
      .apply((traces.size * 95 + 99) / 100 - 1)._1
    def coin(id: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ts:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16) % 100
    }
    val expected = traces.groupBy { case (id, _, err, wall) =>
      if (err) "error" else if (wall >= p95) "slow"
      else if (coin(id) < 10) "probabilistic" else "drop"
    }.map { case (reason, ts) =>
      (reason, ts.size.toLong, ts.map(_._2).sum, ts.map(_._4).max)
    }.toSet
    val got = operators.TraceOps.queries("q327_tail_sampling")(spark, dir)
      .select("reason", "n_traces", "n_spans", "max_wall_ns").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.size >= 3, s"policy fold hit too few reasons: $expected")
    assert(got == expected)
  }
}
