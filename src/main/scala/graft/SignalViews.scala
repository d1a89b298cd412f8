package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.logql.Lowering.LogsTable

/** Deterministic signal-shaped views over the driver testdata, so the real
  * language frontends (LogQL/PromQL/IR) can be exercised — and
  * oracle-checked — against `/root/testdata` (TESTDATA.md).
  *
  * The mapping is a pure function of the events columns, mirrored 1:1 in
  * the DuckDB oracle SQL (`logsViewSql`).
  *
  * The views served routes build on every request (`logsTable`,
  * `metricsTable`, `logsGen2Df`, `tracesGen2Df`) are built once per data
  * version of the events table (`Tables.perEventsVersion`); a
  * per-request session builds them unmemoized (`buildLogsGen2Df`,
  * `buildTracesGen2Df`).
  */
object SignalViews {

  /** events → logs: timestamp (Long nanos), service_name svc-(user_id%8),
    * severity from event_type, body = props JSON. */
  def logsDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      // µs-truncated nanos — the domain DuckDB sees (epoch_ns of a µs ts),
      // so timestamps survive the oracle round-trip bit-for-bit
      (unix_micros(col("ts_us")) * 1000).as("timestamp"),
      col("event_id"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      when(col("event_type") === "error", "error")
        .when(col("event_type").isin("purchase", "signup"), "info")
        .otherwise("debug").as("severity_text"),
      col("event_type"),
      col("props").as("body"),
      col("value"),
      // deterministic synthetic client address so ip() has a label to
      // match (10.<user_id%32>.<event_id%256>.<(user_id+event_id)%256>)
      concat(lit("10."), pmod(col("user_id"), lit(32)), lit("."),
        pmod(col("event_id"), lit(256)), lit("."),
        pmod(col("user_id") + col("event_id"), lit(256))).as("client_ip"))

  /** The same mapping as a DuckDB CTE body over `events`. */
  val logsViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp, event_id,
      |  concat('svc-', user_id % 8) AS service_name,
      |  CASE WHEN event_type = 'error' THEN 'error'
      |       WHEN event_type IN ('purchase','signup') THEN 'info'
      |       ELSE 'debug' END AS severity_text,
      |  event_type, props AS body, value,
      |  concat('10.', user_id % 32, '.', event_id % 256, '.',
      |         (user_id + event_id) % 256) AS client_ip
      |FROM events""".stripMargin

  /** events → metrics: metric_name = event_type, one service label. */
  def metricsDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      (unix_micros(col("ts_us")) * 1000).as("timestamp"),
      col("event_id"),
      col("event_type").as("metric_name"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      col("value"))

  val metricsViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp, event_id,
      |  event_type AS metric_name,
      |  concat('svc-', user_id % 8) AS service_name, value
      |FROM events""".stripMargin

  /** target_info-style resource labels for PromQL `info()`: one row per
    * service target with its deterministic env/region data labels — the
    * mapping both engines restate as CASE arithmetic over the service
    * ordinal. */
  def targetInfoDf(s: SparkSession): DataFrame =
    s.range(8).select(
      concat(lit("svc-"), col("id")).as("service_name"),
      when(pmod(col("id"), lit(2)) === 0, "prod").otherwise("dev").as("env"),
      concat(lit("r"), pmod(col("id"), lit(3))).as("region"))

  def metricsTable(s: SparkSession, dir: String): graft.promql.Eval.MetricsTable =
    Tables.perEventsVersion(s, dir, "metricsTable")(graft.promql.Eval.MetricsTable(
      df = metricsDf(s, dir),
      seriesLabels = Seq("service_name"),
      tieBreak = Seq("event_id"),
      infoLabels = Some(targetInfoDf(s))))

  /** events → cumulative histogram-bucket series: one row per (event, le)
    * with le ∈ {50,100,150,+Inf} and value<=le — the classic `_bucket`
    * shape (cumulative by construction), value 1 per sample. */
  def histDf(s: SparkSession, dir: String): DataFrame =
    metricsDf(s, dir)
      .select(col("timestamp"), col("event_id"), col("service_name"),
        col("value").as("sample"),
        explode(expr(
          "filter(array('50','100','150','+Inf'), " +
            "le -> le = '+Inf' OR value <= cast(le as double))")).as("le"))
      .withColumn("metric_name", lit("sample_bucket"))
      .withColumn("value", lit(1.0))
      .drop("sample")

  val histViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp, event_id,
      |  concat('svc-', user_id % 8) AS service_name, le,
      |  'sample_bucket' AS metric_name, 1.0 AS value
      |FROM events, unnest(['50','100','150','+Inf']) AS t(le)
      |WHERE le = '+Inf' OR value <= CAST(le AS DOUBLE)""".stripMargin

  def histTable(s: SparkSession, dir: String): graft.promql.Eval.MetricsTable =
    graft.promql.Eval.MetricsTable(
      df = histDf(s, dir),
      seriesLabels = Seq("service_name", "le"),
      tieBreak = Seq("event_id"))

  /** events → NATIVE-histogram samples (`Eval.NativeHistTable` layout):
    * cumulative per-series fields as a CLOSED monotone formula of the
    * sample minute m = (tsec − Jan1)/60 — b_i = m·(1+(sid+i)%4),
    * zero = m·(sid%2), count = zero + Σb_i = m·(20 + sid%2), sum_q =
    * m·(1000000 + sid·12345) micro-units. Pure per-row projection (no
    * window), monotone by construction, and exactly restatable in the
    * DuckDB oracles. Ties (two events in one minute) carry identical
    * cumulative values, so last-sample reduction stays deterministic. */
  def nativeHistDf(s: SparkSession, dir: String): DataFrame = {
    var df = Tables.events(s, dir).select(
      (unix_micros(col("ts_us")) * 1000).as("timestamp"),
      pmod(col("user_id"), lit(8)).as("_sid"))
      .withColumn("metric_name", lit("native_latency"))
      .withColumn("service_name", concat(lit("svc-"), col("_sid")))
      .withColumn("_m", expr("(timestamp div 1000000000 - 1704067200) div 60"))
    for (i <- 0 until 8)
      df = df.withColumn(s"b$i", col("_m") * (lit(1L) + pmod(col("_sid") + i, lit(4))))
    df.withColumn("zero_count", col("_m") * pmod(col("_sid"), lit(2)))
      .withColumn("h_count",
        (0 until 8).map(i => col(s"b$i")).reduce(_ + _) + col("zero_count"))
      .withColumn("h_sum_q", col("_m") * (lit(1000000L) + col("_sid") * lit(12345L)))
      .drop("_sid", "_m")
  }

  /** metricsTable + the native-histogram side table registered for
    * `native_latency` — the full histogram_count/sum/avg/quantile path. */
  def metricsTableWithNative(s: SparkSession, dir: String): graft.promql.Eval.MetricsTable =
    metricsTable(s, dir).copy(nativeHist = Some(
      graft.promql.Eval.NativeHistTable(nativeHistDf(s, dir), Set("native_latency"))))

  /** LogsTable wiring: promoted labels + series identity + total-order
    * tie-break (event_id exists in this view, so plans are deterministic). */
  def logsTable(s: SparkSession, dir: String): LogsTable =
    Tables.perEventsVersion(s, dir, "logsTable")(LogsTable(
      df = logsDf(s, dir),
      promoted = Map(
        "service_name" -> "service_name",
        "severity_text" -> "severity_text",
        "event_type" -> "event_type",
        "body" -> "body",
        "value" -> "value",
        "client_ip" -> "client_ip"),
      seriesLabels = Seq("service_name", "severity_text", "event_type"),
      hasAttrMap = false,
      tieBreak = Seq("event_id")))

  // ---- generation-2 logs: map-typed attribute containers -----------------

  /** events → generation-2 logs, the FULL `Schemas.logs` shape (reference
    * iceberg/schemas.rs:55-72): only service_name/severity_text are
    * promoted; everything else lives in the map-typed attribute containers
    * and resolves via element_at with cross-container coalesce. The
    * mapping is a pure function of events columns, mirrored in
    * `gen2ViewSql` (the oracle resolves the same label VALUES directly).
    *
    * Attribute containers:
    *  - log_attributes:      k (json k), event_type, region (r0..r2),
    *                         plan (SPARSE — only user_id%4==0 rows)
    *  - resource_attributes: host (host-0..4), env (prod/dev)
    *  - scope_attributes:    empty
    * `attr_tokens` holds k=v tokens over log+resource attrs for the
    * bloom-filtered containment conjunct (reference schema/mod.rs:40-53).
    */
  /** the gen-2 label VALUE expressions over raw events columns — ONE
    * definition feeds both the attribute maps below and the
    * `attrExprs` resolution hints in [[logsGen2Table]], so the two can
    * never drift. */
  private def gen2LabelExprs: Map[String, org.apache.spark.sql.Column] = Map(
    "k" -> get_json_object(col("props"), "$.k"),
    "event_type" -> col("event_type"),
    "region" -> concat(lit("r"), pmod(col("user_id"), lit(3))),
    "plan" -> when(pmod(col("user_id"), lit(4)) === 0,
      concat(lit("pro-"), pmod(expr("user_id div 4"), lit(2)))),
    "host" -> concat(lit("host-"), pmod(col("user_id"), lit(5))),
    "env" -> when(pmod(col("user_id"), lit(2)) === 0, "prod").otherwise("dev"))

  def logsGen2Df(s: SparkSession, dir: String): DataFrame =
    Tables.perEventsVersion(s, dir, "logsGen2Df")(buildLogsGen2Df(s, dir))

  /** [[logsGen2Df]] built on every call, for a per-request session */
  private[graft] def buildLogsGen2Df(s: SparkSession, dir: String): DataFrame =
    logsGen2DfInternal(s, dir, resolutionCols = false)

  private def logsGen2DfInternal(s: SparkSession, dir: String,
      resolutionCols: Boolean): DataFrame = {
    val lv = gen2LabelExprs
    val ts = unix_micros(col("ts_us")) * 1000
    val traceId = md5(col("event_id").cast("string"))
    val logAttrs = map_filter(
      map(
        lit("k"), lv("k"),
        lit("event_type"), lv("event_type"),
        lit("region"), lv("region"),
        lit("plan"), lv("plan")),
      (_, v) => v.isNotNull)
    val resAttrs = map(
      lit("host"), lv("host"),
      lit("env"), lv("env"))
    // spread BELOW the per-row chain (r16): md5 ids, json extraction,
    // map building and attrTokens all run above the first exchange, and
    // the events scan is one split locally — q109/q110 measured a
    // 1.0-1.2 s single-task stage here. Split-aware: no-op at scale.
    val cols = Seq(
      ts.as("timestamp"),
      ts.as("observed_timestamp"),
      traceId.as("trace_id"),
      substring(traceId, 1, 16).as("span_id"),
      lit(0).as("trace_flags"),
      when(col("event_type") === "error", "error")
        .when(col("event_type").isin("purchase", "signup"), "info")
        .otherwise("debug").as("severity_text"),
      when(col("event_type") === "error", 17)
        .when(col("event_type").isin("purchase", "signup"), 9)
        .otherwise(5).as("severity_number"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      col("props").as("body"),
      resAttrs.as("resource_attributes"),
      typedLit(Map.empty[String, String]).as("scope_attributes"),
      logAttrs.as("log_attributes"),
      lit("graft").as("scope_name"),
      lit("1").as("scope_version")) ++
      // hidden per-label resolution columns (table frame only — the
      // stored/fixture writers call logsGen2Df, which omits them):
      // each is the label's OWN defining expression, so a matcher
      // resolves to plain arithmetic the optimizer can push to the
      // scan instead of the full map build
      (if (resolutionCols)
        gen2LabelExprs.toSeq.map { case (l, c) => c.as(s"_lv_$l") }
      else Nil)
    Tables.spread(s, Tables.events(s, dir), "event_id").select(cols: _*)
      .withColumn("attr_tokens",
        graft.storage.Storage.attrTokens(Seq("log_attributes", "resource_attributes")))
  }

  /** The gen-2 label VALUES as a DuckDB CTE body over `events` — the
    * oracle never builds maps; it resolves each label to its defining
    * expression (promotion invariance is exactly this equality). */
  val gen2ViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp,
      |  md5(CAST(event_id AS VARCHAR)) AS trace_id,
      |  concat('svc-', user_id % 8) AS service_name,
      |  CASE WHEN event_type = 'error' THEN 'error'
      |       WHEN event_type IN ('purchase','signup') THEN 'info'
      |       ELSE 'debug' END AS severity_text,
      |  props AS body,
      |  json_extract_string(props, '$.k') AS k,
      |  event_type,
      |  concat('r', user_id % 3) AS region,
      |  CASE WHEN user_id % 4 = 0 THEN concat('pro-', (user_id // 4) % 2) END AS plan,
      |  concat('host-', user_id % 5) AS host,
      |  CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'dev' END AS env
      |FROM events""".stripMargin

  // ---- generation-2 traces: hex ids for prefix sharding -------------------

  /** events → trace spans with HEX trace ids (md5 of the logical trace
    * key), so the stored layout can shard on the first two hex chars —
    * the reference's 256-way `prefix=XX` point-lookup layout
    * (tests-integration/benches/trace_index_scaling.rs:1-10). */
  def tracesGen2Df(s: SparkSession, dir: String): DataFrame =
    Tables.perEventsVersion(s, dir, "tracesGen2Df")(buildTracesGen2Df(s, dir))

  /** [[tracesGen2Df]] built on every call, for a per-request session */
  private[graft] def buildTracesGen2Df(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val rawId = concat(lit("tr-"), col("user_id"), lit("-"),
      expr("(unix_micros(ts_us) div 1000000) div 86400"))
    Tables.events(s, dir).select(
      (unix_micros(col("ts_us")) * 1000).as("timestamp"),
      col("event_id").cast("string").as("span_id"),
      md5(rawId).as("trace_id"),
      col("event_type").as("span_name"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      when(col("event_type") === "error", "ERROR").otherwise("OK").as("status_code"),
      round(col("value") * 1000000).cast(LongType).as("duration_nanos"))
  }

  val tracesGen2ViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp, CAST(event_id AS VARCHAR) AS span_id,
      |  md5(concat('tr-', user_id, '-', (epoch_us(ts)//1000000)//86400)) AS trace_id,
      |  event_type AS span_name,
      |  concat('svc-', user_id % 8) AS service_name,
      |  CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'OK' END AS status_code,
      |  CAST(round(value * 1000000) AS BIGINT) AS duration_nanos
      |FROM events""".stripMargin

  // ---- generation-2 metrics: per-kind typed tables ------------------------

  /** events → the common metric column set (Schemas.metricCommon,
    * reference iceberg/schemas.rs:189-258). The deterministic tie-break
    * (event_id) rides inside `attributes` so the stored schema stays the
    * reference's; readers restore it as a column. */
  private def metricsGen2Base(s: SparkSession, dir: String): DataFrame = {
    val ts = unix_micros(col("ts_us")) * 1000
    Tables.events(s, dir).select(
      ts.as("timestamp"),
      ts.as("start_timestamp"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      col("event_type").as("metric_name"),
      lit("").as("metric_description"),
      lit("").as("metric_unit"),
      map(lit("host"), concat(lit("host-"), pmod(col("user_id"), lit(5))))
        .as("resource_attributes"),
      typedLit(Map.empty[String, String]).as("scope_attributes"),
      map(lit("eid"), col("event_id").cast("string")).as("attributes"),
      lit(0).as("flags"),
      // exemplars: the OTLP sidecar samples that link a metric point to
      // the trace that produced it (reference iceberg/schemas.rs stores
      // them as a JSON string column on every metric table). Purchase
      // points carry one exemplar whose trace_id matches the gen-2
      // traces derivation, so exemplar→trace navigation is joinable.
      when(col("event_type") === "purchase",
        to_json(array(struct(
          col("value").as("value"),
          ts.as("timestamp"),
          md5(concat(lit("tr-"), col("user_id"), lit("-"),
            expr("(unix_micros(ts_us) div 1000000) div 86400"))).as("trace_id")))))
        .otherwise("[]").as("exemplars"),
      col("value"))
  }

  /** point-in-time series land in the gauge table… */
  val gaugeMetricNames: Seq[String] = Seq("view", "click")

  /** full Schemas.metricsGauge shape. */
  def metricsGaugeDf(s: SparkSession, dir: String): DataFrame =
    metricsGen2Base(s, dir).filter(col("metric_name").isin(gaugeMetricNames: _*))

  /** …counter-ish series land in the sum table, with temporality flags
    * (Schemas.metricsSum; reference iceberg/schemas.rs:226-258). */
  def metricsSumDf(s: SparkSession, dir: String): DataFrame =
    metricsGen2Base(s, dir).filter(!col("metric_name").isin(gaugeMetricNames: _*))
      .withColumn("aggregation_temporality", lit(2))
      .withColumn("is_monotonic", lit(true))

  /** gen-2 LogsTable: map-attr resolution on, cross-container coalesce in
    * priority order, trace_id tie-break (unique per row). */
  def logsGen2Table(s: SparkSession, dir: String): LogsTable =
    LogsTable(
      df = logsGen2DfInternal(s, dir, resolutionCols = true),
      promoted = Map(
        "service_name" -> "service_name",
        "severity_text" -> "severity_text",
        "body" -> "body"),
      seriesLabels = Seq("service_name", "severity_text"),
      hasAttrMap = true,
      attrMapCols = Seq("log_attributes", "resource_attributes", "scope_attributes"),
      tieBreak = Seq("trace_id"),
      // view-backed resolution hints: the same gen2LabelExprs the maps
      // are built from, exposed as hidden _lv_ columns of the frame
      attrExprs = gen2LabelExprs.keys.map(l => l -> col(s"_lv_$l")).toMap)
}
