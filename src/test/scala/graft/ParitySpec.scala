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
}
