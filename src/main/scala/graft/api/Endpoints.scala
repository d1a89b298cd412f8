package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SignalViews

/** Query-string request parsing + dispatch for the four reference
  * routers (`src/router/src/endpoints/{logql,promql,tempo,pyroscope}.rs`
  * — axum handlers that parse params, validate, run the query, and
  * serialize the wire envelope). Everything EXCEPT the socket listener
  * is here: given the raw query string a server would receive, these
  * functions produce the exact response body (via ApiJson) or the 4xx
  * the reference would return. Param names, defaults, and time formats
  * follow the public Loki/Prometheus/Tempo HTTP APIs:
  *
  *  - Loki `query_range`: `query` (required), `start`/`end` (unix NANOS,
  *    float seconds, or RFC3339; default end=now, start=end−1h),
  *    `limit` (default 100), `direction` (backward|forward).
  *  - Prometheus `query_range`: `query`/`start`/`end`/`step` all
  *    required (Prometheus 400s on any missing); times are unix seconds
  *    (float) or RFC3339; `step` is duration or float seconds.
  *    `query` (instant): `time` defaults to now; served over one
  *    lookback-delta bucket (5m, Prometheus default).
  *  - Tempo `search`: `q` (TraceQL) or `tags` (logfmt), `limit`
  *    (default 20), optional `start`/`end` unix seconds.
  *
  * Determinism: "now" is a parameter, never a clock read. */
object Endpoints {

  /** the 4xx an axum handler would reply; status + message body. */
  final case class HttpError(status: Int, message: String)
    extends RuntimeException(s"$status: $message")

  /** application/x-www-form-urlencoded query string → params (last key
    * wins, like axum's Query extractor for single-valued params). */
  def parseQuery(qs: String): Map[String, String] =
    qs.stripPrefix("?").split('&').toSeq
      .filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private val durRe = """(\d+(?:\.\d+)?)(ms|us|ns|s|m|h|d|w|y)""".r

  /** Prometheus/Loki duration string → seconds; bare numbers are float
    * seconds. Sub-second totals are rejected where a grid step is
    * required (the evaluation grid is whole-second). */
  def parseDurationSec(s: String, what: String): Long = {
    val ns = parseDurationNs(s, what)
    if (ns % 1000000000L != 0 || ns <= 0)
      throw HttpError(400, s"$what: sub-second or zero step unsupported: $s")
    ns / 1000000000L
  }

  def parseDurationNs(s: String, what: String): Long =
    if (s.isEmpty) throw HttpError(400, s"missing $what")
    else if (s.forall(c => c.isDigit || c == '.'))
      math.round(s.toDouble * 1e9)
    else {
      val ms = durRe.findAllMatchIn(s).toSeq
      if (ms.isEmpty || ms.map(_.matched).mkString != s)
        throw HttpError(400, s"$what: malformed duration: $s")
      ms.map { m =>
        val v = m.group(1).toDouble
        val mult = m.group(2) match {
          case "ns" => 1L; case "us" => 1000L; case "ms" => 1000000L
          case "s" => 1000000000L; case "m" => 60L * 1000000000L
          case "h" => 3600L * 1000000000L; case "d" => 86400L * 1000000000L
          case "w" => 604800L * 1000000000L; case "y" => 31536000L * 1000000000L
        }
        math.round(v * mult)
      }.sum
    }

  /** Loki time: all-digits = unix NANOS; with a '.' = float seconds;
    * otherwise RFC3339. */
  def parseLokiNs(s: String, what: String): Long =
    try {
      if (s.forall(_.isDigit)) s.toLong
      else if (s.exists(_.isDigit) && s.forall(c => c.isDigit || c == '.'))
        math.round(s.toDouble * 1e9)
      else java.time.Instant.parse(s).toEpochMilli * 1000000L
    } catch {
      case _: HttpError => throw HttpError(400, s"invalid $what: $s")
      case scala.util.control.NonFatal(_) =>
        throw HttpError(400, s"invalid $what: $s")
    }

  /** Prometheus time: unix seconds (float) or RFC3339 → epoch seconds. */
  def parsePromSec(s: String, what: String): Long =
    try {
      if (s.forall(c => c.isDigit || c == '.')) math.floor(s.toDouble).toLong
      else java.time.Instant.parse(s).getEpochSecond
    } catch {
      case scala.util.control.NonFatal(_) =>
        throw HttpError(400, s"invalid $what: $s")
    }

  private def require(p: Map[String, String], k: String): String =
    p.getOrElse(k, throw HttpError(400, s"missing required parameter: $k"))

  // ---- Loki ---------------------------------------------------------------

  /** GET /loki/api/v1/query_range (reference endpoints/logql.rs). */
  def lokiQueryRange(spark: SparkSession, dir: String, qs: String,
      nowNs: Long,
      tableOverride: Option[graft.logql.Lowering.LogsTable] = None): String = {
    val p = parseQuery(qs)
    val query = require(p, "query")
    val endNs = p.get("end").map(parseLokiNs(_, "end")).getOrElse(nowNs)
    val startNs = p.get("start").map(parseLokiNs(_, "start"))
      .getOrElse(endNs - 3600L * 1000000000L)
    if (startNs >= endNs) throw HttpError(400, "start must be before end")
    val limit = p.get("limit").map(_.toIntOption.getOrElse(
      throw HttpError(400, "invalid limit"))).getOrElse(100)
    if (limit <= 0 || limit > 5000) throw HttpError(400, s"limit out of range: $limit")
    val newestFirst = p.getOrElse("direction", "backward") match {
      case "backward" => true
      case "forward"  => false
      case other      => throw HttpError(400, s"invalid direction: $other")
    }
    val table = tableOverride.getOrElse(SignalViews.logsTable(spark, dir))
    val parsed =
      try graft.logql.Parser.parse(query)
      catch { case e: graft.logql.Ast.ParseError =>
        throw HttpError(400, s"parse error: ${e.getMessage}") }
    parsed match {
      case graft.logql.Ast.LineQuery(q) =>
        val df = graft.logql.Lowering.lowerLineQuery(table, q, limit,
          newestFirst, timeRange = Some((startNs, endNs)))
        ApiJson.lokiStreams(df, Seq("service_name", "severity_text"))
      case graft.logql.Ast.MetricQuery(e) =>
        val df = graft.logql.Lowering.lowerMetric(table, e,
          timeRange = Some((startNs, endNs)))
        val labels = df.columns.toSeq.filterNot(Set("bucket_start", "value"))
        ApiJson.promMatrix(df, labels)
    }
  }

  /** GET /loki/api/v1/query — Loki INSTANT query (reference
    * logql.rs:148): evaluates the LOG query over the trailing hour
    * ending at `time` (default now) and answers the streams envelope —
    * the reference routes instant queries through run_log_query, so
    * only line queries are served here; a metric query belongs on
    * query_range. */
  def lokiInstantQuery(spark: SparkSession, dir: String, qs: String,
      nowNs: Long,
      tableOverride: Option[graft.logql.Lowering.LogsTable] = None): String = {
    val p = parseQuery(qs)
    val query = require(p, "query")
    val endNs = p.get("time").map(parseLokiNs(_, "time")).getOrElse(nowNs)
    val startNs = endNs - 3600L * 1000000000L // HOUR_NS lookback
    val limit = p.get("limit").map(_.toIntOption.getOrElse(
      throw HttpError(400, "invalid limit"))).getOrElse(100)
    if (limit <= 0 || limit > 5000) throw HttpError(400, s"limit out of range: $limit")
    val newestFirst = p.getOrElse("direction", "backward") match {
      case "backward" => true
      case "forward"  => false
      case other      => throw HttpError(400, s"invalid direction: $other")
    }
    val parsed =
      try graft.logql.Parser.parse(query)
      catch { case e: graft.logql.Ast.ParseError =>
        throw HttpError(400, s"parse error: ${e.getMessage}") }
    parsed match {
      case graft.logql.Ast.LineQuery(q) =>
        val df = graft.logql.Lowering.lowerLineQuery(
          tableOverride.getOrElse(SignalViews.logsTable(spark, dir)), q, limit,
          newestFirst, timeRange = Some((startNs, endNs)))
        ApiJson.lokiStreams(df, Seq("service_name", "severity_text"))
      case _ =>
        throw HttpError(400,
          "instant query serves log queries; use query_range for metrics")
    }
  }

  // ---- Prometheus ---------------------------------------------------------

  /** GET /api/v1/query_range (reference endpoints/promql.rs). */
  def promQueryRange(spark: SparkSession, dir: String, qs: String): String = {
    val p = parseQuery(qs)
    val query = require(p, "query")
    val start = parsePromSec(require(p, "start"), "start")
    val end = parsePromSec(require(p, "end"), "end")
    if (start > end) throw HttpError(400, "start must not be after end")
    val step = parseDurationSec(require(p, "step"), "step")
    if ((end - start) / step > 11000)
      throw HttpError(400, "exceeded maximum resolution of 11000 points")
    val t = SignalViews.metricsTable(spark, dir)
    val expr =
      try graft.promql.Parser.parse(query)
      catch {
        case e: graft.promql.Ast.ParseError =>
          throw HttpError(400, s"parse error: ${e.getMessage}")
        case e: graft.promql.Ast.Unsupported =>
          throw HttpError(422, e.getMessage)
      }
    val v = graft.promql.Eval.evalVector(expr, t,
      // end is INCLUSIVE in the Prometheus API; the grid is exclusive
      graft.promql.Eval.TimeRange(start, end + 1, step))
    ApiJson.promMatrix(v.df, v.labels)
  }

  /** GET /api/v1/query — instant query over one lookback-delta bucket
    * (5m, the Prometheus default), pinned at `time` (default: now). */
  def promInstantQuery(spark: SparkSession, dir: String, qs: String,
      nowSec: Long): String = {
    val p = parseQuery(qs)
    val query = require(p, "query")
    val time = p.get("time").map(parsePromSec(_, "time")).getOrElse(nowSec)
    val step = 300L
    val b0 = time / step * step
    val t = SignalViews.metricsTable(spark, dir)
    val expr =
      try graft.promql.Parser.parse(query)
      catch {
        case e: graft.promql.Ast.ParseError =>
          throw HttpError(400, s"parse error: ${e.getMessage}")
        case e: graft.promql.Ast.Unsupported =>
          throw HttpError(422, e.getMessage)
      }
    val v = graft.promql.Eval.evalVector(expr, t,
      graft.promql.Eval.TimeRange(b0, b0 + step, step))
    ApiJson.promVector(v.df, v.labels, time)
  }

  // ---- Tempo --------------------------------------------------------------

  /** GET /api/search (reference endpoints/tempo.rs): `q` = TraceQL, or
    * `tags` = logfmt pairs (the pre-TraceQL search API). */
  def tempoSearch(spark: SparkSession, dir: String, qs: String): String = {
    val p = parseQuery(qs)
    val limit = p.get("limit").map(_.toIntOption.getOrElse(
      throw HttpError(400, "invalid limit"))).getOrElse(20)
    var spans = SignalViews.tracesGen2Df(spark, dir)
    for (s <- p.get("start"))
      spans = spans.filter(col("timestamp") >= parsePromSec(s, "start") * 1000000000L)
    for (e <- p.get("end"))
      spans = spans.filter(col("timestamp") < parsePromSec(e, "end") * 1000000000L)
    val filtered = (p.get("q"), p.get("tags")) match {
      case (Some(q), _) =>
        try graft.traceql.TraceQL.lowerExpr(spans, graft.traceql.TraceQL.parseExpr(q))
        catch { case e: graft.traceql.TraceQL.Unsupported =>
          throw HttpError(400, s"invalid TraceQL: ${e.getMessage}") }
      case (None, Some(tags)) =>
        spans.filter(graft.traceql.TraceQL.lower(
          graft.traceql.TraceQL.parseTags(tags)))
      case (None, None) => throw HttpError(400, "missing q or tags")
    }
    ApiJson.tempoSearch(filtered, limit)
  }

  // ---- metadata discovery -------------------------------------------------

  /** the optional start/end window every metadata route accepts
    * (reference `metadata_window`): Loki-style times, default = all. */
  private def metaWindow(p: Map[String, String], nowNs: Long): (Long, Long) =
    (p.get("start").map(parseLokiNs(_, "start")).getOrElse(0L),
      p.get("end").map(parseLokiNs(_, "end")).getOrElse(nowNs))

  /** GET /loki/api/v1/labels (reference logql.rs:266): promoted label
    * names + every gen-2 attribute key with data in the window. */
  def lokiLabels(spark: SparkSession, dir: String, qs: String,
      nowNs: Long): String = {
    val (startNs, endNs) = metaWindow(parseQuery(qs), nowNs)
    val df = SignalViews.logsGen2Df(spark, dir)
      .filter(col("timestamp") >= startNs && col("timestamp") < endNs)
    val attrKeys = df.select(explode(concat(
        map_keys(col("log_attributes")),
        map_keys(col("resource_attributes")))).as("label"))
      .distinct().orderBy(col("label")).limit(1000)
      .collect().map(_.getString(0)).toSeq
    ApiJson.labelNamesResponse(Seq("service_name", "severity_text"), attrKeys)
  }

  /** GET /loki/api/v1/label/{name}/values (reference logql.rs:306):
    * promoted columns answer from the column, everything else resolves
    * through the gen-2 attribute maps — promotion-invariant, like the
    * query path. */
  def lokiLabelValues(spark: SparkSession, dir: String, name: String,
      qs: String, nowNs: Long): String = {
    if (name.trim.isEmpty) throw HttpError(400, "label name must not be empty")
    val (startNs, endNs) = metaWindow(parseQuery(qs), nowNs)
    val df = SignalViews.logsGen2Df(spark, dir)
      .filter(col("timestamp") >= startNs && col("timestamp") < endNs)
    val valueCol =
      if (Seq("service_name", "severity_text", "body").contains(name)) col(name)
      else coalesce(element_at(col("log_attributes"), name),
        element_at(col("resource_attributes"), name))
    val values = df.select(valueCol.cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct().orderBy(col("v")).limit(1000)
      .collect().map(_.getString(0)).toSeq
    ApiJson.labelsResponse(values)
  }

  /** GET /loki/api/v1/series (reference logql.rs:334 — 400 without a
    * selector): distinct promoted-label sets of streams matching
    * `match[]`. */
  def lokiSeries(spark: SparkSession, dir: String, qs: String,
      nowNs: Long): String = {
    val p = parseQuery(qs)
    val sel = p.get("match[]").orElse(p.get("match"))
      .getOrElse(throw HttpError(400, "missing match[] selector"))
    val (startNs, endNs) = metaWindow(p, nowNs)
    val q = try graft.logql.Parser.parse(sel) match {
      case graft.logql.Ast.LineQuery(lq) => lq
      case _ => throw HttpError(400, "match[] must be a stream selector")
    } catch { case e: graft.logql.Ast.ParseError =>
      throw HttpError(400, s"parse error: ${e.getMessage}") }
    val table = SignalViews.logsTable(spark, dir)
    val seriesCols = Seq("service_name", "severity_text")
    val matched = graft.logql.Lowering
      .lowerFilter(table, q, timeRange = Some((startNs, endNs)))
    // count=estimate: answer the series COUNT from the KMV sketch — one
    // bounded-state aggregation instead of the distinct+collect scan
    // (the reference bounds label scans the same way, metrics.rs:58
    // LABEL_SCAN_LIMIT)
    if (p.get("count").contains("estimate")) {
      val est = graft.operators.DiscoveryOps.kmvEstimate(matched,
        concat_ws("|", seriesCols.map(col): _*))
      return s"""{"status":"success","data":{"seriesCountEstimate":$est}}"""
    }
    val df = matched
      .select(seriesCols.map(col): _*).distinct().limit(1000)
    ApiJson.seriesResponse(df, seriesCols)
  }

  /** GET /loki/api/v1/index/volume — per-label log volume (the Loki
    * volume API's vector envelope: value = [sec, "<bytes>"]), with the
    * per-service STREAM-count estimate served from the KMV sketch
    * rather than exact distinct (`streams` extension field). Optional
    * `query` stream selector narrows the scan through the same LogQL
    * lowering as `series`; `start`/`end` take the metadata-window
    * defaults. */
  def lokiIndexVolume(spark: SparkSession, dir: String, qs: String,
      nowNs: Long): String = {
    val p = parseQuery(qs)
    val (startNs, endNs) = metaWindow(p, nowNs)
    val logs = p.get("query").filter(_.nonEmpty) match {
      case Some(sel) =>
        val q = try graft.logql.Parser.parse(sel) match {
          case graft.logql.Ast.LineQuery(lq) => lq
          case _ => throw HttpError(400, "query must be a stream selector")
        } catch { case e: graft.logql.Ast.ParseError =>
          throw HttpError(400, s"parse error: ${e.getMessage}") }
        graft.logql.Lowering.lowerFilter(SignalViews.logsTable(spark, dir), q,
          timeRange = Some((startNs, endNs)))
      case None =>
        SignalViews.logsDf(spark, dir)
          .filter(col("timestamp") >= startNs && col("timestamp") < endNs)
    }
    val rows = graft.operators.DiscoveryOps.lokiVolumeFrame(logs)
      .orderBy(col("service_name")).collect()
    val ts = nowNs / 1000000000L
    val entries = rows.map { r =>
      s"""{"metric":{"service_name":${ApiJson.jstr(r.getString(0))}},""" +
        s""""value":[$ts,"${r.getLong(1)}"],"streams":${r.getLong(4)}}"""
    }
    s"""{"status":"success","data":{"resultType":"vector",""" +
      s""""result":[${entries.mkString(",")}]}}"""
  }

  /** GET /loki/api/v1/detected_fields (reference logql.rs:373 →
    * DetectedField wire shape: label/type/cardinality/parsers): the q68
    * sampled field-discovery frame — deterministic ≤1000-doc sample,
    * capped distinct counts, type inference — in the Loki envelope.
    * `parsers` is empty by design: attributes are the
    * structured-metadata analog (reference loki-api lib.rs:289). */
  def lokiDetectedFields(spark: SparkSession, dir: String,
      qs: String): String = {
    val p = parseQuery(qs)
    val limit = p.get("limit").map(_.toInt).getOrElse(100) // default_limit
    val rows = graft.operators.DiscoveryOps
      .queries("q68_detected_fields")(spark, dir)
      .orderBy(col("field")).limit(limit).collect()
    val fields = rows.map { r =>
      s"""{"label":${ApiJson.jstr(r.getString(0))},""" +
        s""""type":${ApiJson.jstr(r.getString(3))},""" +
        s""""cardinality":${r.getLong(2)},"parsers":[]}"""
    }
    s"""{"fields":[${fields.mkString(",")}],"limit":$limit}"""
  }

  /** GET /prometheus/api/v1/series (reference promql.rs:244): distinct
    * matching label sets. `match[]` takes an instant selector parsed by
    * the PromQL parser; a matcher on a label the view doesn't carry
    * matches nothing (Prometheus semantics), never errors. */
  def promSeries(spark: SparkSession, dir: String, qs: String,
      nowSec: Long): String = {
    import graft.promql.Ast
    val p = parseQuery(qs)
    val sel0 = p.get("match[]").orElse(p.get("match"))
      .getOrElse(throw HttpError(400, "missing match[] selector"))
    val sel = (try graft.promql.Parser.parse(sel0) catch {
      case e: Ast.ParseError => throw HttpError(400, s"parse error: ${e.getMessage}")
    }) match {
      case s: Ast.Selector if s.rangeNs.isEmpty => s
      case _ => throw HttpError(400, "match[] must be an instant selector")
    }
    val start = p.get("start").map(parsePromSec(_, "start")).getOrElse(0L)
    val end = p.get("end").map(parsePromSec(_, "end")).getOrElse(nowSec)
    var df = SignalViews.metricsDf(spark, dir)
      .filter(col("timestamp") >= start * 1000000000L &&
        col("timestamp") < end * 1000000000L)
    sel.metric.foreach(m => df = df.filter(col("metric_name") === m))
    for (m <- sel.matchers) {
      val label = if (m.label == "__name__") "metric_name" else m.label
      if (!df.columns.contains(label)) df = df.filter(lit(false))
      else {
        val c = col(label)
        df = df.filter(m.op match {
          case Ast.MatchOp.Eq  => c === m.value
          case Ast.MatchOp.Neq => c =!= m.value
          case Ast.MatchOp.Re  => c.rlike("^(?:" + m.value + ")$")
          case Ast.MatchOp.Nre => !c.rlike("^(?:" + m.value + ")$")
        })
      }
    }
    val rows = df.select(col("metric_name"), col("service_name")).distinct()
      .orderBy(col("metric_name"), col("service_name")).limit(1000).collect()
    val entries = rows.map(r =>
      s"""{"__name__":${ApiJson.jstr(r.getString(0))},""" +
        s""""service_name":${ApiJson.jstr(r.getString(1))}}""")
    s"""{"status":"success","data":[${entries.mkString(",")}]}"""
  }

  /** GET /prometheus/api/v1/label_stats (reference promql.rs:275 →
    * prometheus-api LabelStat wire shape: name / distinct_estimate /
    * presence / capped): per-attribute stats over the metric signal's
    * attribute containers. Distinct counts come from the KMV sketch per
    * key — one bounded-state aggregation, the same discipline as the
    * reference's analyzer cap — with `capped` marking keys whose sketch
    * saturated (the estimate is approximate, not an exact small
    * count). */
  def promLabelStats(spark: SparkSession, dir: String): String = {
    val m = SignalViews.metricsGaugeDf(spark, dir).unionByName(
      SignalViews.metricsSumDf(spark, dir)
        .drop("aggregation_temporality", "is_monotonic"))
    val total = math.max(1L, m.count())
    val kv = m.select(explode(map_concat(
      col("resource_attributes"), col("attributes"))).as(Seq("k", "v")))
    val rows = graft.operators.DiscoveryOps
      .kmvGroupStats(kv, col("k"), col("v"))
      .orderBy(col("g")).collect()
    val entries = rows.map { r =>
      val presence = r.getLong(1).toDouble / total
      s"""{"name":${ApiJson.jstr(r.getString(0))},""" +
        s""""distinct_estimate":${r.getLong(2)},""" +
        s""""presence":$presence,"capped":${r.getBoolean(3)}}"""
    }
    s"""{"status":"success","data":[${entries.mkString(",")}]}"""
  }

  /** GET /prometheus/api/v1/labels (reference promql.rs:46). */
  def promLabels: String =
    ApiJson.labelsResponse(Seq("__name__", "service_name"))

  /** GET /prometheus/api/v1/label/{name}/values. */
  def promLabelValues(spark: SparkSession, dir: String,
      name: String): String = {
    val df = SignalViews.metricsDf(spark, dir)
    val c = name match {
      case "__name__"     => col("metric_name")
      case "service_name" => col("service_name")
      case other          => throw HttpError(404, s"unknown label: $other")
    }
    ApiJson.labelsResponse(df.select(c.as("v")).distinct()
      .orderBy(col("v")).limit(1000).collect().map(_.getString(0)).toSeq)
  }

  /** GET /api/search/tags (reference tempo.rs:50): span tag names —
    * the intrinsic searchable columns of the trace view. */
  def tempoSearchTags(spark: SparkSession, dir: String): String = {
    val cols = SignalViews.tracesGen2Df(spark, dir).columns.toSeq
      .filterNot(Seq("timestamp", "trace_id", "span_id").contains)
    s"""{"tagNames":[${cols.sorted.map(ApiJson.jstr).mkString(",")}]}"""
  }

  /** GET /api/traces/{trace_id} (reference tempo.rs:48): single-trace
    * fetch, spans in time order. */
  def tempoTraceById(spark: SparkSession, dir: String,
      traceId: String): String = {
    val spans = SignalViews.tracesGen2Df(spark, dir)
      .filter(col("trace_id") === traceId)
      .orderBy(col("timestamp"), col("span_id"))
      .select(col("span_id"), col("span_name"), col("service_name"),
        col("status_code"), col("timestamp"), col("duration_nanos"))
      .collect()
    if (spans.isEmpty) throw HttpError(404, s"trace not found: $traceId")
    // all data-derived strings through the jstr escaper — a quote or
    // backslash in a span name must not produce invalid JSON
    val items = spans.map { r =>
      s"""{"spanID":${ApiJson.jstr(r.getString(0))},"name":${ApiJson.jstr(r.getString(1))},""" +
        s""""serviceName":${ApiJson.jstr(r.getString(2))},"status":${ApiJson.jstr(r.getString(3))},""" +
        s""""startTimeUnixNano":"${r.getLong(4)}","durationNanos":${r.getLong(5)}}"""
    }
    s"""{"traceID":${ApiJson.jstr(traceId)},"spans":[${items.mkString(",")}]}"""
  }

  /** GET /api/metrics/query_range — TraceQL metrics. The reference 501s
    * this endpoint (tempo-api-reference.md: "TraceQL metrics not
    * implemented"); here it lowers through the real TraceQL metrics
    * path and serves the Prometheus-compatible matrix envelope Tempo
    * defines for it. */
  def tempoMetricsQueryRange(spark: SparkSession, dir: String,
      qs: String): String = {
    val p = parseQuery(qs)
    val q = p.getOrElse("q", throw HttpError(400, "missing q"))
    val step = p.get("step").map(parseDurationSec(_, "step")).getOrElse(60L)
    var spans = SignalViews.tracesGen2Df(spark, dir)
    for (s0 <- p.get("start"))
      spans = spans.filter(
        col("timestamp") >= parsePromSec(s0, "start") * 1000000000L)
    for (e0 <- p.get("end"))
      spans = spans.filter(
        col("timestamp") < parsePromSec(e0, "end") * 1000000000L)
    val mq = try graft.traceql.TraceQL.parseMetrics(q)
      catch { case e: graft.traceql.TraceQL.Unsupported =>
        throw HttpError(400, s"invalid TraceQL metrics: ${e.getMessage}") }
    val df = graft.traceql.TraceQL.lowerMetrics(spans, mq, step)
    ApiJson.traceqlMetricsMatrix(df,
      df.columns.toSeq.filterNot(Set("bucket_start", "value")))
  }

  /** GET /api/metrics/query — INSTANT TraceQL metrics (reference
    * tempo.rs:1276 route, which 501s; served here like the range
    * variant): one evaluation bucket spanning [start, end) (defaults:
    * the trailing hour up to `time`/now), so each series answers a
    * single point — the shape Grafana's instant TraceQL metrics ask
    * for. */
  def tempoMetricsInstant(spark: SparkSession, dir: String, qs: String,
      nowNs: Long): String = {
    val p = parseQuery(qs)
    val q = p.getOrElse("q", throw HttpError(400, "missing q"))
    val endSec = p.get("time").orElse(p.get("end"))
      .map(parsePromSec(_, "time")).getOrElse(nowNs / 1000000000L)
    val startSec = p.get("start").map(parsePromSec(_, "start"))
      .getOrElse(endSec - 3600L)
    if (startSec >= endSec) throw HttpError(400, "start must be before end")
    // rebase timestamps to the window start so the whole range is ONE
    // evaluation bucket with the correct rate denominator (end-start),
    // then stamp the evaluation time as the sample timestamp
    val spans = SignalViews.tracesGen2Df(spark, dir)
      .filter(col("timestamp") >= startSec * 1000000000L &&
        col("timestamp") < endSec * 1000000000L)
      .withColumn("timestamp", col("timestamp") - startSec * 1000000000L)
    val mq = try graft.traceql.TraceQL.parseMetrics(q)
      catch { case e: graft.traceql.TraceQL.Unsupported =>
        throw HttpError(400, s"invalid TraceQL metrics: ${e.getMessage}") }
    val df = graft.traceql.TraceQL.lowerMetrics(spans, mq, endSec - startSec)
      .withColumn("bucket_start", lit(endSec))
    ApiJson.traceqlMetricsMatrix(df,
      df.columns.toSeq.filterNot(Set("bucket_start", "value")))
  }

  /** build/status endpoints Grafana datasource health checks probe:
    * Prometheus `/api/v1/status/buildinfo`, Loki and Tempo equivalents.
    * Version strings identify this engine honestly. */
  private val BuildVersion = "0.8.0"
  def promBuildinfo(): String =
    s"""{"status":"success","data":{"application":"graft-signaldb",""" +
      s""""version":${ApiJson.jstr(BuildVersion)},"revision":"",""" +
      s""""features":{}}}"""
  def lokiBuildinfo(): String =
    s"""{"version":${ApiJson.jstr(BuildVersion)},"revision":"",""" +
      s""""branch":"","buildUser":"","buildDate":"",""" +
      s""""goVersion":""}"""
  def tempoBuildinfo(): String =
    s"""{"version":${ApiJson.jstr(BuildVersion)},"revision":"",""" +
      s""""branch":""}"""

  // ---- Pyroscope ----------------------------------------------------------

  /** extract the service selector from a Pyroscope render query
    * (`app{service_name="svc-1"}` / bare `{service_name=…}`); absent →
    * all services merged. */
  private def pyroService(q: String): Option[String] =
    "service_name=\"([^\"]+)\"".r.findFirstMatchIn(q).map(_.group(1))

  /** the flamebearer envelope (reference pyroscope.rs RenderResponse:
    * names/levels/numTicks/maxSelf + single-format metadata). */
  private def flamebearer(enc: graft.profile.Flamegraph.Encoded,
      name: String): String = {
    val names = enc.names.map(n =>
      "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    val levels = enc.levels.map(_.mkString("[", ",", "]"))
    val maxSelf = enc.levels
      .flatMap(_.grouped(4).map(q => q(2))) match {
      case Seq() => 0L
      case xs    => xs.max
    }
    s"""{"flamebearer":{"names":[${names.mkString(",")}],""" +
      s""""levels":[${levels.mkString(",")}],""" +
      s""""numTicks":${enc.total},"maxSelf":$maxSelf},""" +
      s""""metadata":{"format":"single","sampleRate":100,""" +
      s""""units":"samples","name":"${name.replace("\"", "\\\"")}"}}"""
  }

  /** GET /pyroscope/render (reference pyroscope.rs:36). */
  def pyroscopeRender(spark: SparkSession, dir: String, qs: String): String = {
    val p = parseQuery(qs)
    val q = p.getOrElse("query", "")
    val from = p.get("from").map(parseLokiNs(_, "from"))
    val until = p.get("until").map(parseLokiNs(_, "until"))
    val fold = graft.operators.ProfileOps
      .flamegraphFold(spark, dir, pyroService(q), from, until)
    flamebearer(graft.profile.Flamegraph.encodeFromFold(fold), q)
  }

  /** GET /pyroscope/render-diff (reference pyroscope.rs:345): baseline
    * (`leftFrom`/`leftUntil`) and comparison (`rightFrom`/`rightUntil`)
    * windows fold independently, then flatten into the Pyroscope DOUBLE
    * flamebearer (7-int level groups, camelCase leftTicks/rightTicks —
    * aggregation.rs flatten_diff). */
  def pyroscopeRenderDiff(spark: SparkSession, dir: String,
      qs: String): String = {
    val p = parseQuery(qs)
    val q = p.getOrElse("query", "")
    def fold(fromK: String, untilK: String) =
      graft.operators.ProfileOps.flamegraphFold(spark, dir, pyroService(q),
        p.get(fromK).map(parseLokiNs(_, fromK)),
        p.get(untilK).map(parseLokiNs(_, untilK)))
    val enc = graft.profile.Flamegraph.encodeDiffFromFolds(
      fold("leftFrom", "leftUntil"), fold("rightFrom", "rightUntil"))
    val names = enc.names.map(ApiJson.jstr)
    val levels = enc.levels.map(_.mkString("[", ",", "]"))
    s"""{"flamebearer":{"names":[${names.mkString(",")}],""" +
      s""""levels":[${levels.mkString(",")}],""" +
      s""""numTicks":${enc.total},"maxSelf":${enc.maxSelf}},""" +
      s""""metadata":{"format":"double","sampleRate":100,""" +
      s""""units":"samples","name":${ApiJson.jstr(q)}},""" +
      s""""leftTicks":${enc.leftTicks},"rightTicks":${enc.rightTicks}}"""
  }

  /** GET /pyroscope/profile-types (reference pyroscope.rs:40). */
  def pyroscopeProfileTypes(spark: SparkSession, dir: String): String =
    ApiJson.profileTypes(
      graft.operators.ProfileOps.queries("q147_profile_types")(spark, dir))

  /** GET /pyroscope/label-names + /pyroscope/label-values. */
  def pyroscopeLabelNames(): String =
    ApiJson.labelsResponse(Seq("service_name"))

  def pyroscopeLabelValues(spark: SparkSession, dir: String,
      label: String): String = {
    if (label.isEmpty) throw HttpError(400, "missing label")
    if (label != "service_name") throw HttpError(404, s"unknown label: $label")
    val vals = SignalViews.tracesGen2Df(spark, dir)
      .select(col("service_name").as("v")).distinct()
      .collect().map(_.getString(0)).sorted(ApiJson.utf8Order).toSeq
    ApiJson.labelsResponse(vals)
  }

  /** GET /api/profiles/trace/{trace_id} (reference profiles_router):
    * the flamegraph of samples correlated to one trace. */
  def profilesByTrace(spark: SparkSession, dir: String,
      traceId: String): String = {
    val fold = graft.operators.ProfileOps
      .flamegraphForTrace(spark, dir, traceId)
    if (fold.isEmpty) throw HttpError(404, s"no profiles for trace: $traceId")
    flamebearer(graft.profile.Flamegraph.encodeFromFold(fold),
      s"trace:$traceId")
  }

  /** GET /api/search/tag/{tag}/values. */
  def tempoTagValues(spark: SparkSession, dir: String, tag: String): String = {
    val spans = SignalViews.tracesGen2Df(spark, dir)
    if (!spans.columns.contains(tag))
      throw HttpError(404, s"unknown tag: $tag")
    ApiJson.tempoTagValues(spans.select(col(tag).cast("string").as("value"))
      .filter(col("value").isNotNull).distinct())
  }

  /** GET /api/v2/search/tag/{scoped_tag}/values (reference
    * tempo.rs:1257 search_tag_values_v2 → tag_values_for): the tag
    * arrives SCOPED (`resource.service.name`, `span.name`,
    * `.service.name`); resolution strips the scope (tempo.rs:984
    * tag_value_column), `service.name`→service_name and
    * `name`→span_name serve distinct stored values (capped at 1000,
    * tempo.rs:1003), `status` answers the fixed intrinsic triple
    * without a scan, and anything else is an honest 501 (tempo.rs:1229
    * — "saying so beats an empty list that looks like no data"). The
    * v2 envelope repeats the scoped tag per value
    * (`tempo-api/src/v2.rs` tagValues wire field). */
  def tempoTagValuesV2(spark: SparkSession, dir: String,
      scopedTag: String): String = {
    val unscoped = (if (scopedTag.startsWith("resource."))
        scopedTag.stripPrefix("resource.")
      else if (scopedTag.startsWith("span.")) scopedTag.stripPrefix("span.")
      else scopedTag).dropWhile(_ == '.')
    def distinctOf(colName: String): Seq[String] = {
      val spans = SignalViews.tracesGen2Df(spark, dir)
      spans.select(col(colName).cast("string").as("value"))
        .filter(col("value").isNotNull).distinct()
        .orderBy(col("value")).limit(1000)
        .collect().map(_.getString(0)).toSeq
    }
    val values = unscoped match {
      case "service.name" => distinctOf("service_name")
      case "name" => distinctOf("span_name")
      case "status" | "intrinsic.status" => Seq("ok", "error", "unset")
      case _ => throw HttpError(501,
        s"tag value lookup is not implemented for tag '$scopedTag'")
    }
    val items = values.map(v =>
      s"""{"tag":${ApiJson.jstr(scopedTag)},"value":${ApiJson.jstr(v)}}""")
    s"""{"tagValues":[${items.mkString(",")}]}"""
  }

  /** GET /api/v1/openapi.json — the public route listing the reference
    * serves next to /health (lib.rs:222). A minimal OpenAPI 3 document
    * enumerating exactly what THIS shell routes, so API tooling can
    * discover the surface; kept in one place and spec-checked against
    * the live router (every listed path must answer non-404). */
  def openapi(): String = {
    def p(method: String, path: String, summary: String): (String, String) =
      path -> s""""$method":{"summary":${ApiJson.jstr(summary)},"responses":{"200":{"description":"OK"}}}"""
    val entries = Seq(
      p("get", "/health", "liveness probe"),
      p("get", "/ready", "readiness probe"),
      p("get", "/api/status/buildinfo", "Tempo build info"),
      p("get", "/loki/api/v1/status/buildinfo", "Loki build info"),
      p("get", "/prometheus/api/v1/status/buildinfo", "Prometheus build info"),
      p("get", "/api/metrics/query", "TraceQL metrics instant query"),
      p("get", "/loki/api/v1/query", "Loki instant log query"),
      p("get", "/loki/api/v1/query_range", "Loki range query (streams or matrix)"),
      p("get", "/loki/api/v1/labels", "Loki label names"),
      p("get", "/loki/api/v1/label/{name}/values", "Loki label values"),
      p("get", "/loki/api/v1/series", "Loki series discovery (count=estimate serves the KMV sketch)"),
      p("get", "/loki/api/v1/index/volume", "per-label volume with KMV stream estimates"),
      p("get", "/loki/api/v1/detected_fields", "sampled field discovery"),
      p("get", "/loki/api/v1/tail", "live tail (chunked JSON frames)"),
      p("get", "/prometheus/api/v1/query", "PromQL instant query"),
      p("get", "/prometheus/api/v1/query_range", "PromQL range query"),
      p("get", "/prometheus/api/v1/labels", "Prometheus label names"),
      p("get", "/prometheus/api/v1/label/{name}/values", "Prometheus label values"),
      p("get", "/prometheus/api/v1/series", "Prometheus series discovery"),
      p("get", "/prometheus/api/v1/label_stats", "per-attribute presence + KMV distinct estimates"),
      p("get", "/api/search", "Tempo trace search (TraceQL or tags)"),
      p("get", "/api/search/tags", "Tempo tag names"),
      p("get", "/api/search/tag/{tag}/values", "Tempo tag values"),
      p("get", "/api/v2/search/tag/{scoped_tag}/values",
        "Tempo v2 scoped tag values"),
      p("get", "/api/traces/{trace_id}", "single-trace fetch"),
      p("get", "/api/metrics/query_range", "TraceQL metrics matrix"),
      p("get", "/pyroscope/render", "flamegraph (single flamebearer)"),
      p("get", "/pyroscope/render-diff", "differential flamegraph (double flamebearer)"),
      p("get", "/pyroscope/profile-types", "profile type discovery"),
      p("get", "/pyroscope/label-names", "profile label names"),
      p("get", "/pyroscope/label-values", "profile label values"),
      p("get", "/api/profiles/trace/{trace_id}", "profiles correlated to a trace"),
      p("post", "/api/v1/query", "native Query IR document"),
      p("post", "/api/v1/arrow", "Arrow IPC results for a DoGet-shaped ticket"),
      p("post", "/v1/logs", "OTLP logs export (protobuf or protojson)"),
      p("post", "/v1/traces", "OTLP traces export (protobuf or protojson)"),
      p("post", "/v1/metrics", "OTLP metrics export, all five families"),
      p("post", "/v1development/profiles", "OTLP profiles export"),
      p("post", "/api/v1/write", "Prometheus remote_write 1.0/2.0"),
      p("post", "/ingest", "Pyroscope pprof upload"),
      p("post", "/api/v1/ops/compact", "run a compaction pass"),
      p("post", "/api/v1/ops/compact/dry-run", "plan compaction candidates"),
      p("get", "/api/v1/ops/compact/status", "compaction planner snapshot"),
      p("post", "/api/v1/ops/promote",
        "promote demanded attributes into stored columns"),
      p("post", "/api/v1/ops/iceberg-export",
        "project landed tables as Iceberg v2 metadata"),
      p("get", "/iceberg/v1/config", "Iceberg REST catalog config"),
      p("get", "/iceberg/v1/namespaces", "Iceberg REST namespace listing"),
      p("get", "/iceberg/v1/namespaces/{ns}/tables",
        "Iceberg REST table listing"),
      p("get", "/iceberg/v1/namespaces/{ns}/tables/{table}",
        "Iceberg REST LoadTableResult"),
      p("get", "/api/v1/whoami",
        "the caller's tenant, datasets and default dataset"),
      p("get", "/api/v1/tenants", "tenant listing (own tenant only)"),
      p("get", "/api/v1/tenants/{tenant_id}", "tenant info"),
      p("get", "/api/v1/tenants/{tenant_id}/tables",
        "the tenant's landed tables"),
      p("get", "/api/v1/tenants/{tenant_id}/schemas",
        "the tenant's available table schemas (configured default set)"),
      p("get", "/api/v1/schemas/available",
        "every table schema type this deployment can create"),
      p("post", "/api/v1/manage/tenants",
        "create a tenant (instance admin)"),
      p("get", "/api/v1/manage/tenants/{tenant_id}/datasets",
        "list the tenant's datasets"),
      p("post", "/api/v1/manage/tenants/{tenant_id}/datasets",
        "create a dataset"),
      p("delete", "/api/v1/manage/tenants/{tenant_id}/datasets/{dataset_name}",
        "delete a dataset (default dataset is protected)"),
      p("get", "/api/v1/manage/tenants/{tenant_id}/api-keys",
        "list API keys (never key material)"),
      p("post", "/api/v1/manage/tenants/{tenant_id}/api-keys",
        "mint a scoped API key (secret returned once)"),
      p("delete", "/api/v1/manage/tenants/{tenant_id}/api-keys/{key_id}",
        "revoke an API key"),
      p("get", "/.well-known/oauth-authorization-server",
        "RFC 8414 authorization-server metadata"),
      p("post", "/oauth/register",
        "RFC 7591 dynamic client registration (public PKCE clients)"),
      p("get", "/oauth/authorize",
        "authorization endpoint (PKCE S256 mandatory)"),
      p("get", "/oauth/consent",
        "server-rendered consent screen"),
      p("get", "/oauth/consent/context",
        "consent context: client name + grantable tenants (session)"),
      p("post", "/oauth/authorize/decision",
        "record consent; mints the single-use authorization code (session)"),
      p("post", "/oauth/token",
        "token endpoint: authorization_code (PKCE) + refresh_token"),
      p("post", "/ui/session", "browser login (sets the session cookie)"),
      p("delete", "/ui/session", "logout (revokes the session)"),
      p("get", "/ui/login", "server-rendered login page"),
      p("get", "/ui/runtime-config.js", "UI runtime configuration script"),
      p("post", "/users",
        "create a human user with a tenant membership (instance admin)"))
    val paths = entries.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (path, ops) =>
        s"""${ApiJson.jstr(path)}:{${ops.map(_._2).mkString(",")}}"""
    }
    s"""{"openapi":"3.0.3","info":{"title":"signaldbspark",""" +
      s""""version":"0.1.0"},"paths":{${paths.mkString(",")}}}"""
  }

  // ---- native Query IR over the wire ------------------------------------

  /** POST /api/v1/query — the native Query IR endpoint (reference
    * query.rs:144 query_ir): a versioned JSON IR document with
    * relative-anchor time bounds resolved against ONE server-stamped
    * clock, validated and lowered through the real IR path
    * (`ir/Json → Validate → Lowering`), answered in the canonical
    * envelope — `result`/`window`/`columns`/`rows`, values in column
    * order, types named per the IR value-type table (query.rs
    * column_meta). `rows` and `table` share the envelope; `series` is
    * rejected as unsupported here (the reference's own build_envelope
    * discriminates the same way). Row count is defensively capped. */
  def queryIr(spark: SparkSession, dir: String, body: String,
      nowNs: Long): String = {
    import org.apache.spark.sql.types._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = try mapper.readTree(body)
      catch { case e: Exception =>
        throw HttpError(400, "invalid IR document: " + e.getMessage) }
    val resultKind = Option(root.get("result")).map(_.asText).getOrElse("rows")
    if (resultKind != "rows" && resultKind != "table")
      throw HttpError(400, s"unsupported result envelope '$resultKind'")
    // the HTTP contract names the window from/to (reference QueryRange);
    // the IR document grammar uses start/end — bridge at the boundary
    root.get("range") match {
      case obj: com.fasterxml.jackson.databind.node.ObjectNode
          if obj.has("from") =>
        obj.set[com.fasterxml.jackson.databind.JsonNode]("start", obj.get("from"))
        obj.set[com.fasterxml.jackson.databind.JsonNode]("end", obj.get("to"))
      case _ => ()
    }
    val bridged = mapper.writeValueAsString(root)
    val doc =
      try graft.ir.Json.parseDocument(bridged, nowNs)
      catch {
        case e: graft.ir.Ir.IrError => throw HttpError(400, e.getMessage)
        case e: Exception =>
          throw HttpError(400, "invalid IR document: " + e.getMessage)
      }
    val t = graft.operators.IROps.irTable(spark, dir)
    val df =
      try graft.ir.Lowering.lower(doc, t, Map("events" -> t))
      catch { case e: graft.ir.Ir.IrError => throw HttpError(400, e.getMessage) }
    def irType(dt: DataType): String = dt match {
      case BooleanType => "bool"
      case ByteType | ShortType | IntegerType | LongType => "int64"
      case FloatType | DoubleType => "float64"
      case _: TimestampType => "timestamp_ns"
      case BinaryType => "bytes"
      case _ => "string"
    }
    val schema = df.schema
    val columns = schema.map(f =>
      s"""{"name":${ApiJson.jstr(f.name)},"type":"${irType(f.dataType)}"}""")
    val rows = df.limit(1000).collect().map { r =>
      schema.indices.map { i =>
        if (r.isNullAt(i)) "null"
        else schema(i).dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType | BooleanType => r.get(i).toString
          case _ => ApiJson.jstr(r.get(i).toString)
        }
      }.mkString("[", ",", "]")
    }
    s"""{"result":"$resultKind",""" +
      s""""window":{"start_ns":${doc.range.startNs},"end_ns":${doc.range.endNs}},""" +
      s""""columns":[${columns.mkString(",")}],""" +
      s""""rows":[${rows.mkString(",")}]}"""
  }

  // ---- ops: compaction control (reference endpoints/ops.rs) --------------

  private val OpsTables = Seq("logs", "traces", "metrics_gauge",
    "metrics_sum", "metrics_histogram", "metrics_exponential_histogram",
    "metrics_summary", "profiles")

  /** POST /api/v1/ops/compact/dry-run — the read-only preview of what
    * `compact` would do (reference ops.rs:92 forwards to the compactor's
    * do_action; the candidate-listing semantics are the planner's). */
  def opsCompactDryRun(spark: SparkSession,
      layout: graft.storage.Storage.TableLayout): String = {
    val cands = OpsTables.flatMap { table =>
      graft.storage.Storage
        .partitionsNeedingCompaction(spark, layout, table)
        .map { case (day, hour) =>
          s"""{"table":${ApiJson.jstr(table)},"dateDay":${ApiJson.jstr(day)},""" +
            s""""hour":$hour}"""
        }
    }
    s"""{"status":"ok","candidates":[${cands.mkString(",")}]}"""
  }

  /** POST /api/v1/ops/compact — run a compaction pass now over every
    * candidate partition (reference ops.rs:53 compact_now). */
  def opsCompact(spark: SparkSession,
      layout: graft.storage.Storage.TableLayout): String = {
    val done = OpsTables.flatMap { table =>
      val compacted = graft.storage.Storage
        .partitionsNeedingCompaction(spark, layout, table)
        .flatMap { case (day, hour) =>
          try {
            graft.storage.Storage.compactPartition(spark, layout, table,
              day, hour)
            Some(s"""{"table":${ApiJson.jstr(table)},""" +
              s""""dateDay":${ApiJson.jstr(day)},"hour":$hour}""")
          } catch {
            case _: graft.storage.Storage.CompactionConflict => None
          }
        }
      // a rewrite invalidates previously exported Iceberg metadata —
      // refresh it so external readers never see dangling file paths
      if (compacted.nonEmpty) refreshIcebergIfExported(spark, layout, table)
      compacted
    }
    s"""{"status":"ok","compacted":[${done.mkString(",")}]}"""
  }

  /** POST /api/v1/ops/promote — the promotion DECISION + REWRITE over
    * the flushed query-demand stats (reference attr_promotion.rs: the
    * compactor reads attribute_stats, scores keys, and materializes
    * `label_<key>` columns): every attribute demanded by at least
    * `min_queries` served queries — and not machine-generated-looking —
    * rewrites into the stored logs table. Returns the promoted keys;
    * an absent stats table promotes nothing. */
  def opsPromote(spark: SparkSession,
      layout: graft.storage.Storage.TableLayout, qs: String): String = {
    val minQ = parseQuery(qs).get("min_queries").map { s =>
      try s.toInt catch {
        case _: NumberFormatException =>
          throw HttpError(400, "bad min_queries: " + s)
      }
    }.getOrElse(2)
    val statsPath = layout.path("attribute_stats")
    val hp = new org.apache.hadoop.fs.Path(statsPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val decided =
      if (!fs.exists(hp)) Seq.empty[String]
      else spark.read.parquet(statsPath)
        .groupBy(col("attr")).agg(sum(col("n_queries")).as("n"))
        .filter(col("n") >= minQ)
        .collect().map(_.getString(0)).toSeq
        .filterNot(graft.storage.AttrPromotion.looksGenerated)
        .sorted
    if (decided.nonEmpty) {
      graft.storage.AttrPromotion.rewriteTable(spark, layout, "logs", decided)
      refreshIcebergIfExported(spark, layout, "logs")
    }
    s"""{"status":"ok","promoted":[${decided.map(ApiJson.jstr).mkString(",")}]}"""
  }

  /** POST /api/v1/ops/iceberg-export — commit (if needed) and project
    * every landed table as Iceberg v2 metadata ([[graft.storage
    * .IcebergExport]]); the REST-catalog routes below then serve them.
    * Returns table → exported metadata version. */
  def opsIcebergExport(spark: SparkSession,
      layout: graft.storage.Storage.TableLayout): String = {
    val done = icebergTables(layout).map { t =>
      if (graft.storage.Snapshots.current(spark, layout, t).isEmpty)
        graft.storage.Snapshots.commit(spark, layout, t)
      val v = graft.storage.IcebergExport.export(spark, layout, t)
      s"""${ApiJson.jstr(t)}:$v"""
    }
    s"""{"status":"ok","exported":{${done.mkString(",")}}}"""
  }

  /** keep the Iceberg projection COHERENT across rewrites: compaction
    * and promotion replace data files, which would leave previously
    * exported metadata pointing at deleted paths — if a table has been
    * exported, re-commit and re-export after any rewriting op. A table
    * never exported stays untouched. */
  private def refreshIcebergIfExported(spark: SparkSession,
      layout: graft.storage.Storage.TableLayout, table: String): Unit =
    if (new java.io.File(layout.path(table), "metadata/version-hint.text").isFile) {
      graft.storage.Snapshots.commit(spark, layout, table)
      graft.storage.IcebergExport.export(spark, layout, table)
      ()
    }

  /** landed tables under the layout (dirs with at least one data file). */
  private def icebergTables(layout: graft.storage.Storage.TableLayout): Seq[String] = {
    val ds = new java.io.File(s"${layout.basePath}/${layout.tenant}/${layout.dataset}")
    Option(ds.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted.toSeq
  }

  /** exported tables: those with Iceberg metadata to serve. */
  private def exportedTables(layout: graft.storage.Storage.TableLayout): Seq[String] =
    icebergTables(layout).filter(t =>
      new java.io.File(layout.path(t), "metadata/version-hint.text").isFile)

  // ---- Iceberg REST catalog (read-only) ----------------------------------
  //
  // The standard REST catalog surface (apache/iceberg
  // rest-catalog-open-api.yaml) over the exported metadata, so a stock
  // Iceberg REST client can discover and load graft tables: /v1/config,
  // namespace listing (the (tenant, dataset) pair is the namespace,
  // %1F-separated in paths per spec), table listing, and LoadTableResult
  // with the metadata document embedded. Read-only: external COMMITS are
  // out of scope (the CAS protocol stays ours).

  def icebergConfig(): String =
    """{"defaults":{},"overrides":{}}"""

  def icebergNamespaces(layout: graft.storage.Storage.TableLayout): String =
    s"""{"namespaces":[[${ApiJson.jstr(layout.tenant)},${ApiJson.jstr(layout.dataset)}]]}"""

  /** the %1F-separated namespace path segment → parts. */
  private def nsParts(ns: String): Seq[String] =
    java.net.URLDecoder.decode(ns, "UTF-8").split('\u001f').toSeq

  private def requireNs(layout: graft.storage.Storage.TableLayout,
      ns: String): Unit =
    if (nsParts(ns) != Seq(layout.tenant, layout.dataset))
      throw HttpError(404, s"namespace not found: ${nsParts(ns).mkString(".")}")

  def icebergTablesList(layout: graft.storage.Storage.TableLayout,
      ns: String): String = {
    requireNs(layout, ns)
    val ids = exportedTables(layout).map(t =>
      s"""{"namespace":[${ApiJson.jstr(layout.tenant)},${ApiJson.jstr(layout.dataset)}],""" +
        s""""name":${ApiJson.jstr(t)}}""")
    s"""{"identifiers":[${ids.mkString(",")}]}"""
  }

  /** GET …/tables/{table} → LoadTableResult (metadata-location + the
    * metadata document verbatim from the exported file). */
  def icebergLoadTable(layout: graft.storage.Storage.TableLayout,
      ns: String, table: String): String = {
    requireNs(layout, ns)
    val hintFile = new java.io.File(layout.path(table), "metadata/version-hint.text")
    if (!hintFile.isFile)
      throw HttpError(404, s"table not found: $table (not exported?)")
    val hint = new String(java.nio.file.Files.readAllBytes(hintFile.toPath),
      "UTF-8").trim
    val metaFile = new java.io.File(layout.path(table),
      s"metadata/v$hint.metadata.json")
    val metadata = new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    s"""{"metadata-location":${ApiJson.jstr("file:" + metaFile.getAbsolutePath)},""" +
      s""""metadata":$metadata,"config":{}}"""
  }

  /** GET /api/v1/ops/compact/status — a planner snapshot: pending
    * candidate counts per table. */
  def opsCompactStatus(spark: SparkSession,
      layout: graft.storage.Storage.TableLayout): String = {
    val perTable = OpsTables.map(t => t -> graft.storage.Storage
      .partitionsNeedingCompaction(spark, layout, t).size)
    val counts = perTable.map { case (t, n) => s"""${ApiJson.jstr(t)}:$n""" }
    s"""{"status":"ok","pending":${perTable.map(_._2).sum},""" +
      s""""tables":{${counts.mkString(",")}}}"""
  }

  // ---- Arrow results over the wire --------------------------------------

  /** GET/POST /api/v1/arrow — the Flight DoGet surface over plain HTTP,
    * no gRPC dependency: the request carries a TICKET (GET `?ticket=` /
    * `?sql=`, or the raw POST body — exactly what a Flight client puts
    * in its Ticket payload) and the response streams the standard Arrow
    * IPC bytes a DoGet would carry. Ticket grammar mirrors the
    * reference's `parse_ticket` (flight.rs:666): a recognized prefix
    * routes to its typed query, anything else falls back to raw SQL
    * (flight.rs:1087) guarded to SELECT/WITH (the sql_profiles
    * read-only discipline, flight.rs:869).
    *
    * Supported here:
    *  - `find_trace:{tenant}:{dataset}:{trace_id}[:{start}:{end}]` —
    *    single-trace spans in time order; the optional unix-second
    *    hints bracket the scan (either may be empty).
    *  - raw SQL over the tenant dataset tables, registered as temp
    *    views `logs`, `traces`, `metrics_gauge`, `metrics_sum` in a
    *    per-request session (`newSession()` — the reference's
    *    session_for_request isolation: nothing leaks into the shared
    *    session).
    */
  /** a ticket's COMPLETE IPC stream in one array — the materializing
    * convenience (byte-parity specs, small results). Both serving paths
    * stream instead: the HTTP route writes [[ArrowResult.ipcMessages]]
    * chunk by chunk and Flight DoGet one FlightData per batch. */
  def arrowTicket(spark: SparkSession, dir: String,
      ticket: String): Array[Byte] =
    ArrowResult.ipcStream(arrowTicketDf(spark, dir, ticket))

  /** the DataFrame a ticket denotes, WITHOUT executing it — shared by
    * the HTTP arrow route (which serializes the whole IPC stream) and
    * the Flight gRPC server (which needs the schema alone for
    * GetFlightInfo/GetSchema and streams record batches for DoGet).
    * Raw-SQL tickets carry the reference's `max_sql_rows` clamp
    * (docs/users/querying-sql.md:95-99 — the querier truncates rather
    * than streaming an unbounded select) as a PLAN-level limit, so
    * `DoGet("SELECT * FROM logs")` at any scale is bounded work, not an
    * unbounded scan-to-client. find_trace tickets are naturally bounded
    * by one trace's span count and stay unclamped. */
  def arrowTicketDf(spark: SparkSession, dir: String, ticket: String,
      maxSqlRows: Int = graft.sql.SqlSurface.DefaultMaxRows): DataFrame = {
    val df: DataFrame =
      if (ticket.startsWith("find_trace:")) {
        val parts = ticket.stripPrefix("find_trace:").split(":", 5)
        if (parts.length != 3 && parts.length != 5)
          throw HttpError(400, "Invalid find_trace ticket format. " +
            "Expected: find_trace:tenant_slug:dataset_slug:trace_id[:start:end]")
        def hint(name: String, v: String): Option[Long] =
          if (v.isEmpty) None
          else try Some(v.toLong) catch {
            case _: NumberFormatException => throw HttpError(400,
              s"Invalid find_trace ticket: $name '$v' is not a unix timestamp")
          }
        var spans = SignalViews.tracesGen2Df(spark, dir)
          .filter(col("trace_id") === parts(2))
        if (parts.length == 5) {
          hint("start", parts(3)).foreach(s0 =>
            spans = spans.filter(col("timestamp") >= s0 * 1000000000L))
          hint("end", parts(4)).foreach(e0 =>
            spans = spans.filter(col("timestamp") < e0 * 1000000000L))
        }
        spans.orderBy(col("timestamp"), col("span_id"))
      } else {
        val lowered = ticket.trim.toLowerCase(java.util.Locale.ROOT)
        if (!(lowered.startsWith("select") || lowered.startsWith("with")))
          throw HttpError(400,
            "arrow tickets accept only SELECT or WITH statements " +
              "(or a recognized ticket prefix)")
        val sess = spark.newSession()
        // Spark SQL SELECT is not read-only-safe by default (unlike the
        // reference's DataFusion surface, src/querier/src/flight.rs): a
        // path-based table (`SELECT * FROM parquet.`/etc/…``) reads
        // arbitrary local files, and reflect()/java_method() invokes
        // arbitrary public static methods. Close both in the per-request
        // session: no SQL-on-files, and reject reflective calls after
        // analysis (covers subqueries).
        sess.conf.set("spark.sql.runSQLOnFiles", "false")
        // unmemoized: the per-version view memo would pin every
        // per-request session for the life of the SparkContext
        SignalViews.buildLogsGen2Df(sess, dir).createOrReplaceTempView("logs")
        SignalViews.buildTracesGen2Df(sess, dir).createOrReplaceTempView("traces")
        SignalViews.metricsGaugeDf(sess, dir)
          .createOrReplaceTempView("metrics_gauge")
        SignalViews.metricsSumDf(sess, dir)
          .createOrReplaceTempView("metrics_sum")
        val planned =
          try sess.sql(ticket)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw HttpError(400, "SQL error: " + e.getMessage)
          }
        val reflective = planned.queryExecution.analyzed.collectWithSubqueries {
          case p if p.expressions.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
              .CallMethodViaReflection])) => p
        }
        if (reflective.nonEmpty)
          throw HttpError(400,
            "reflect()/java_method() is not permitted in arrow tickets")
        planned.limit(maxSqlRows)
      }
    df
  }
}
