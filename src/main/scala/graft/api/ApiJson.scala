package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Result-envelope shaping: the JSON bodies Grafana consumes (reference:
  * src/router/src/endpoints/logql.rs Loki streams envelope,
  * promql.rs Prometheus matrix envelope, tempo.rs trace search envelope).
  *
  * Boundary: Spark runs the query and a narrow per-row projection that
  * renders every JSON fragment (`to_json`, `cast(... as string)`), so
  * the bytes are Spark's own; the driver collects those rows ONCE and
  * groups, orders and concatenates them. Every row of a streams, matrix,
  * vector, series, tag-values or profile-types input ends up in the
  * response body, so a distributed groupBy + sort_array + orderBy would
  * not shrink what reaches the driver — it would only add AQE query
  * stages (one job and one codegen compile each) to every request.
  * Driver-side ordering is Spark's: strings in UTF8String byte order,
  * nulls first. The exception is [[tempoSearch]], whose aggregate
  * reduces spans to traces before the limit and stays distributed.
  * The inputs are response-sized by construction (post-limit or
  * discovery-capped upstream), never raw-scan-sized.
  */
object ApiJson {

  /** Spark's string order: UTF8String byte order, nulls first */
  private[api] val utf8Order: Ordering[String] =
    Ordering.Option[UTF8String](_ compareTo _).on(s => Option(s).map(UTF8String.fromString))

  /** the label-set object of a stream or series (`{"k":"v",…}`),
    * rendered by Spark per row */
  private def labelObject(labelCols: Seq[String]): Column =
    to_json(map_from_arrays(
      array(labelCols.map(lit(_)): _*),
      array(labelCols.map(c => col(c).cast("string")): _*)))

  /** rows grouped by their string key (column 0), groups in key order */
  private def groups(rows: Array[Row]): Seq[(String, Array[Row])] =
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)(utf8Order)

  /** Spark's ascending order of a (long, string) struct held in
    * columns 1 and 2: nulls first in each */
  private val byLongThenString: Ordering[Row] =
    Ordering.by((r: Row) => if (r.isNullAt(1)) None else Some(r.getLong(1)))
      .orElse(Ordering.by((r: Row) => r.getString(2))(utf8Order))

  /** Loki query_range "streams" envelope from line-query rows
    * (timestamp Long nanos, label cols…, body). One stream per distinct
    * label set; values newest-first as [ns-string, line] pairs (equal
    * timestamps: lines in Spark string order). */
  def lokiStreams(df: DataFrame, labelCols: Seq[String]): String = {
    val rows = df.select(
      labelObject(labelCols).as("_stream"),
      (lit(Long.MaxValue) - col("timestamp")).as("_ord"),
      col("body").cast("string").as("_line"),
      to_json(array(col("timestamp").cast("string"), col("body"))).as("_value"))
      .collect()
    val streams = groups(rows).map { case (stream, vs) =>
      val values = vs.sorted(byLongThenString).map(_.getString(3))
      s"""{"stream":$stream,"values":${values.mkString("[", ",", "]")}}"""
    }
    s"""{"status":"success","data":{"resultType":"streams","result":[${streams.mkString(",")}]}}"""
  }

  /** Loki tail frame from one micro-batch of tailed lines — the same
    * streams shape as query_range minus the outer status envelope
    * (`{"streams":[…]}`), which is what the WebSocket tail protocol sends
    * per push. Pairs with streaming.LiveTail: poll the memory sink, frame
    * the delta, send. */
  def lokiTailFrame(df: DataFrame, labelCols: Seq[String]): String = {
    val inner = lokiStreams(df, labelCols)
    val result = inner.substring(inner.indexOf("\"result\":") + "\"result\":".length,
      inner.lastIndexOf("}}"))
    s"""{"streams":$result}"""
  }

  /** Prometheus query_range "matrix" envelope from vector rows
    * (bucket_start, label cols…, value). Values are [sec, "v"] pairs in
    * time order; series ordered by metric label set. */
  def promMatrix(df: DataFrame, labelCols: Seq[String]): String = {
    val t = col("bucket_start").cast("long")
    val v = col("value").cast("string")
    val rows = df.select(labelObject(labelCols).as("_metric"), t.as("_t"), v.as("_v"),
      to_json(array(t.cast("string"), v)).as("_pair"))
      .collect()
    val series = groups(rows).map { case (metric, vs) =>
      // prometheus value pairs are [number, "string"]: strip the quotes
      // the string-array detour added around the timestamp
      val vals = vs.sorted(byLongThenString).map(_.getString(3)).mkString("[", ",", "]")
        .replaceAll("""\["(\-?\d+)",""", "[$1,")
      s"""{"metric":$metric,"values":$vals}"""
    }
    s"""{"status":"success","data":{"resultType":"matrix","result":[${series.mkString(",")}]}}"""
  }

  /** Prometheus instant-query "vector" envelope: one sample per series
    * at the evaluation time — `max_by(value, bucket_start)` per series:
    * the latest bucket when several arrive (the last row of a tie),
    * rows without a bucket ignored, "null" when none has one. */
  def promVector(df: DataFrame, labelCols: Seq[String], timeSec: Long): String = {
    val rows = df.select(labelObject(labelCols).as("_metric"),
      col("bucket_start").cast("long").as("_t"), col("value").cast("string").as("_v"))
      .collect()
    val series = groups(rows).map { case (metric, vs) =>
      val dated = vs.filterNot(_.isNullAt(1))
      val v = if (dated.isEmpty) null
        else dated.reduceLeft((a, b) => if (a.getLong(1) > b.getLong(1)) a else b).getString(2)
      s"""{"metric":$metric,"value":[$timeSec,"$v"]}"""
    }
    s"""{"status":"success","data":{"resultType":"vector","result":[${series.mkString(",")}]}}"""
  }

  /** Tempo search envelope from span rows (trace_id, span rows with
    * timestamp Long nanos, service_name, duration_nanos): one entry per
    * trace, newest-first. */
  def tempoSearch(df: DataFrame, limit: Int = 20): String = {
    val traces = df
      .groupBy(col("trace_id"))
      .agg(
        min(col("timestamp")).as("_start"),
        ((max(col("timestamp")) - min(col("timestamp"))) / lit(1000000L))
          .cast("long").as("_durationMs"),
        min_by(col("service_name"), col("timestamp")).as("_rootService"))
      .orderBy(col("_start").desc, col("trace_id").asc)
      .limit(limit)
      .collect()
    val entries = traces.map { r =>
      s"""{"traceID":${jstr(r.getString(0))},"rootServiceName":${jstr(r.getString(3))},""" +
        s""""startTimeUnixNano":"${r.getLong(1)}","durationMs":${r.getLong(2)}}"""
    }
    s"""{"traces":[${entries.mkString(",")}]}"""
  }

  /** Tempo tag-values envelope (`/api/search/tag/{tag}/values`) from a
    * one-column distinct-values frame, already tiny (discovery caps
    * apply upstream); emits `{"tagValues":[…]}` in value order. */
  def tempoTagValues(df: DataFrame): String = {
    val vals = df.collect().map(_.getString(0)).sorted(utf8Order).map(jstr)
    s"""{"tagValues":[${vals.mkString(",")}]}"""
  }

  /** Pyroscope profile-types envelope: one entry per type with its time
    * bounds, from the q147-shaped discovery frame
    * (profile_type, n_samples, min_ts, max_ts, n_services). */
  def profileTypes(df: DataFrame): String = {
    val rows = df.collect().sortBy(_.getAs[String]("profile_type"))(utf8Order).map { r =>
      s"""{"id":${jstr(r.getString(0))},"samples":${r.getLong(1)},""" +
        s""""minTime":${r.getLong(2) / 1000000L},"maxTime":${r.getLong(3) / 1000000L}}"""
    }
    s"""{"profileTypes":[${rows.mkString(",")}]}"""
  }

  /** shared Loki/Prometheus metadata envelope
    * (`{"status":"success","data":[…]}`) for label names / label values
    * — reference `LabelsResponse::success` (endpoints/logql.rs,
    * promql.rs). */
  def labelsResponse(values: Seq[String]): String =
    s"""{"status":"success","data":[${values.map(jstr).mkString(",")}]}"""

  /** label-names envelope: the always-present names merged with the
    * discovered ones, deduplicated, in Spark's string order (the order
    * every other discovery route returns) */
  def labelNamesResponse(fixed: Seq[String], found: Seq[String]): String =
    labelsResponse((fixed ++ found).distinct.sorted(utf8Order))

  /** Loki/Prometheus series envelope: `data` = one label-map object per
    * distinct series, rendered by Spark per row (`to_json`). The
    * distinct-series frame is discovery-capped upstream. */
  def seriesResponse(df: DataFrame, labelCols: Seq[String]): String = {
    val rows = df.select(labelObject(labelCols).as("m"))
      .collect().map(_.getString(0)).sorted(utf8Order)
    s"""{"status":"success","data":[${rows.mkString(",")}]}"""
  }

  /** JSON string literal with full escaping (quotes, backslashes AND
    * control characters) — public so every endpoint that interpolates
    * DATA-derived strings (span names, service names, …) routes through
    * it rather than raw string concat. */
  def jstr(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  /** TraceQL-metrics matrix envelope (`/api/metrics/query_range`
    * response shape — the reference 501s the endpoint itself): series
    * keyed by the `by()` columns, values as [sec, "v"] pairs in time
    * order. Reuses the Prometheus matrix shaper — Tempo's response is
    * deliberately Prometheus-compatible. */
  def traceqlMetricsMatrix(df: DataFrame, byCols: Seq[String]): String =
    promMatrix(df, byCols)
}
