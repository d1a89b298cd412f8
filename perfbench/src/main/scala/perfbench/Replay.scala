package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.{ApiJson, Endpoints}
import graft.logql.Lowering.LogsTable

/** In-process replay of a served request through the program's public
  * functions, split at the layer boundaries the traced run measures:
  * `decode` (request parameters), `parse` and `lower` (the language
  * frontend; `lower` builds the DataFrame, including any job it runs
  * eagerly) and `encode` (the `ApiJson` envelope call, which runs the
  * query's jobs). The steps follow `graft.api.Endpoints` call for call.
  * Routes without a frontend split (IR lowering, Pyroscope, label
  * discovery) run as one `endpoint` stage through `Endpoints.*`. */
object Replay {
  /** direct, unsplit call of the route's `Endpoints` function: what the
    * shell answers for the same request */
  def direct(spark: SparkSession, dir: String, q: Req,
      logs: Option[LogsTable] = None): String = q.path match {
    case "/loki/api/v1/query_range" => Endpoints.lokiQueryRange(spark, dir, q.qs, Gen.NowNs, logs)
    case "/prometheus/api/v1/query_range" => Endpoints.promQueryRange(spark, dir, q.qs)
    case "/prometheus/api/v1/query" => Endpoints.promInstantQuery(spark, dir, q.qs, Gen.NowSec)
    case "/api/search" => Endpoints.tempoSearch(spark, dir, q.qs)
    case "/api/v1/query" => Endpoints.queryIr(spark, dir, q.body.get, Gen.NowNs)
    case "/pyroscope/render" => Endpoints.pyroscopeRender(spark, dir, q.qs)
    case "/loki/api/v1/labels" => Endpoints.lokiLabels(spark, dir, q.qs, Gen.NowNs)
  }

  /** frontend of each request class, for the per-layer report */
  def frontend(cls: String): Option[String] = cls match {
    case "loki_range_line" | "loki_range_metric" => Some("logql")
    case "prom_range" | "prom_instant" => Some("promql")
    case "tempo_search" => Some("traceql")
    case "ir_query" => Some("ir")
    case _ => None
  }

  def split(spark: SparkSession, dir: String, q: Req, t: Tracer, op: Long,
      logs: => LogsTable): String = {
    def st[T](name: String)(f: => T): T = t.span(op, name)(f)
    q.cls match {
      case "loki_range_line" | "loki_range_metric" =>
        val (query, startNs, endNs, limit, newestFirst) = st("decode") {
          val p = Endpoints.parseQuery(q.qs)
          val endNs = p.get("end").map(Endpoints.parseLokiNs(_, "end")).getOrElse(Gen.NowNs)
          val startNs = p.get("start").map(Endpoints.parseLokiNs(_, "start"))
            .getOrElse(endNs - 3600L * 1000000000L)
          (p("query"), startNs, endNs, p.get("limit").map(_.toInt).getOrElse(100),
            p.getOrElse("direction", "backward") == "backward")
        }
        val parsed = st("parse")(graft.logql.Parser.parse(query))
        parsed match {
          case graft.logql.Ast.LineQuery(lq) =>
            val df = st("lower")(graft.logql.Lowering.lowerLineQuery(logs, lq, limit,
              newestFirst, timeRange = Some((startNs, endNs))))
            st("encode")(ApiJson.lokiStreams(df, Seq("service_name", "severity_text")))
          case graft.logql.Ast.MetricQuery(e) =>
            val df = st("lower")(graft.logql.Lowering.lowerMetric(logs, e,
              timeRange = Some((startNs, endNs))))
            st("encode")(ApiJson.promMatrix(df,
              df.columns.toSeq.filterNot(Set("bucket_start", "value"))))
        }
      case "prom_range" | "prom_instant" =>
        val instant = q.cls == "prom_instant"
        val (query, range, time) = st("decode") {
          val p = Endpoints.parseQuery(q.qs)
          if (instant) {
            val time = Endpoints.parsePromSec(p("time"), "time")
            val b0 = time / 300 * 300
            (p("query"), graft.promql.Eval.TimeRange(b0, b0 + 300, 300), time)
          } else {
            val start = Endpoints.parsePromSec(p("start"), "start")
            val end = Endpoints.parsePromSec(p("end"), "end")
            (p("query"), graft.promql.Eval.TimeRange(start, end + 1,
              Endpoints.parseDurationSec(p("step"), "step")), 0L)
          }
        }
        val expr = st("parse")(graft.promql.Parser.parse(query))
        val v = st("lower")(graft.promql.Eval.evalVector(expr,
          graft.SignalViews.metricsTable(spark, dir), range))
        st("encode") {
          if (instant) ApiJson.promVector(v.df, v.labels, time)
          else ApiJson.promMatrix(v.df, v.labels)
        }
      case "tempo_search" =>
        val p = st("decode")(Endpoints.parseQuery(q.qs))
        val cond = st("parse") {
          p.get("q").map(x => Left(graft.traceql.TraceQL.parseExpr(x)))
            .getOrElse(Right(graft.traceql.TraceQL.parseTags(p("tags"))))
        }
        val df = st("lower") {
          var spans = graft.SignalViews.tracesGen2Df(spark, dir)
          for (s <- p.get("start"))
            spans = spans.filter(col("timestamp") >= Endpoints.parsePromSec(s, "start") * 1000000000L)
          for (e <- p.get("end"))
            spans = spans.filter(col("timestamp") < Endpoints.parsePromSec(e, "end") * 1000000000L)
          cond match {
            case Left(e) => graft.traceql.TraceQL.lowerExpr(spans, e)
            case Right(tags) => spans.filter(graft.traceql.TraceQL.lower(tags))
          }
        }
        st("encode")(ApiJson.tempoSearch(df, p.get("limit").map(_.toInt).getOrElse(20)))
      case "ir_query" =>
        // the HTTP body names the window from/to; the IR grammar start/end
        st("parse")(graft.ir.Json.parseDocument(
          q.body.get.replace("\"range\":{\"from\":", "\"range\":{\"start\":")
            .replace("\",\"to\":\"", "\",\"end\":\""),
          Gen.NowNs))
        st("endpoint")(direct(spark, dir, q))
      case _ =>
        st("endpoint")(direct(spark, dir, q))
    }
  }

  /** true when `body` is the route's success envelope */
  def envelopeOk(q: Req, body: String): Boolean = {
    val j = Json.parse(body)
    q.cls match {
      case "tempo_search" => j.has("traces") && j.get("traces").isArray
      case "ir_query" => j.path("result").asText == "rows" && j.get("rows").isArray
      case "pyroscope_render" => j.has("flamebearer") && j.path("flamebearer").has("levels")
      case _ => j.path("status").asText == "success" && j.has("data")
    }
  }
}
