package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat, count, element_at, expr, get_json_object, lit, min, regexp_replace, sum}

import graft.SignalViews
import graft.logql.{Lowering, Parser}
import graft.logql.Ast._

/** LogQL end-to-end entries: every query here goes through the REAL
  * tokenizer → parser → lowering (graft.logql), over the logs view of the
  * driver `events` table, and is oracle-checked against hand-written SQL
  * with the same denotation (SURVEY §2.2/§2.4/§2.6).
  */
object LogQLOps {
  type Q = (SparkSession, String) => DataFrame

  private def line(q: String, limit: Int): Q = (s, dir) => {
    val t = SignalViews.logsTable(s, dir)
    Parser.parse(q) match {
      case LineQuery(lq) => Lowering.lowerLineQuery(t, lq, limit)
      case _             => throw Unsupported("expected line query")
    }
  }

  private def metric(q: String): Q = (s, dir) => {
    val t = SignalViews.logsTable(s, dir)
    Parser.parse(q) match {
      case MetricQuery(m) => Lowering.lowerMetric(t, m)
      case _              => throw Unsupported("expected metric query")
    }
  }

  /** metric query with an explicit evaluation range (epoch nanos). */
  private def metricT(q: String, range: (Long, Long)): Q = (s, dir) => {
    val t = SignalViews.logsTable(s, dir)
    Parser.parse(q) match {
      case MetricQuery(m) => Lowering.lowerMetric(t, m, Some(range))
      case _              => throw Unsupported("expected metric query")
    }
  }

  /** gen-2 variants: same parser/lowering, but over the map-typed table —
    * every unpromoted label resolves via element_at + cross-container
    * coalesce (reference ir_planner.rs:152-225). */
  private def lineGen2(q: String, limit: Int,
      timeRange: Option[(Long, Long)] = None, stored: Boolean = false): Q = (s, dir) => {
    val t = if (stored) graft.SignalTables.storedLogsTable(s, dir)
            else SignalViews.logsGen2Table(s, dir)
    Parser.parse(q) match {
      case LineQuery(lq) => Lowering.lowerLineQuery(t, lq, limit, timeRange = timeRange)
      case _             => throw Unsupported("expected line query")
    }
  }

  private def metricGen2(q: String): Q = (s, dir) => {
    val t = SignalViews.logsGen2Table(s, dir)
    Parser.parse(q) match {
      case MetricQuery(m) => Lowering.lowerMetric(t, m)
      case _              => throw Unsupported("expected metric query")
    }
  }

  private val V = SignalViews.logsViewSql
  private val V2 = SignalViews.gen2ViewSql
  private def bkt(step: Long) = s"(timestamp//1000000000//$step)*$step"

  /** logs view with MIXED body validity — error-severity rows get a '!'
    * prefix that breaks the JSON — so `__error__` takes both values. */
  private def mixedBodyTable(s: SparkSession, dir: String): Lowering.LogsTable = {
    import org.apache.spark.sql.functions._
    val t = SignalViews.logsTable(s, dir)
    t.copy(df = t.df.withColumn("body",
      when(col("severity_text") === "error", concat(lit("!"), col("body")))
        .otherwise(col("body"))))
  }

  val queries: Map[String, Q] = Map(
    // `__error__` parse-status label (Loki semantics; the reference
    // PARSES it — logql lexer.rs:552, parser.rs:1364): after `| json` it
    // is 'JSONParserErr' on invalid bodies, '' otherwise, and behaves as
    // a normal label (grouping here; filters/drop work the same way)
    "q148_logql_error_label" -> ((s, dir) => {
      Parser.parse(
        """sum by (__error__) (count_over_time({service_name=~"svc-.*"} | json [1w]))""") match {
        case MetricQuery(m) => Lowering.lowerMetric(mixedBodyTable(s, dir), m)
        case _              => throw Unsupported("expected metric query")
      }
    }),

    // §2.2 label matchers + line contains filter; newest-first + limit
    "q30_logql_line" ->
      line("""{service_name="svc-3", severity_text!="debug"} |= "\"k\": 8"""", 200),

    // §2.2 anchored regex matcher + | json numeric label filter
    "q31_logql_json_filter" ->
      line("""{service_name=~"svc-[0-3]"} | json | k >= 50""", 300),

    // §2.4 count_over_time folded into sum by service
    "q32_logql_count" ->
      metric("""sum by (service_name) (count_over_time({severity_text="error"}[1d]))"""),

    // §2.4 rate as bare range expr (grouped by full series identity)
    "q33_logql_rate" ->
      metric("""rate({service_name="svc-1"}[6h])"""),

    // §2.4 unwrap sum with by() over a json-extracted label
    "q34_logql_unwrap_sum" ->
      metric("""sum by (event_type) (sum_over_time({severity_text="info"} | json | unwrap k [1w]))"""),

    // §2.6 topk-per-bucket over series counts
    "q35_logql_topk" ->
      metric("""topk(2, count_over_time({severity_text="error"}[1d]))"""),

    // §2.4 exact interpolated quantile over unwrapped values
    "q36_logql_quantile" ->
      metric("""quantile_over_time(0.5, {event_type="click"} | json | unwrap k [1w])"""),

    // §2.4 bytes_over_time + regex matcher, sum by service
    "q37_logql_bytes" ->
      metric("""sum by (service_name) (bytes_over_time({severity_text=~"err.*|info"}[1d]))"""),

    // §2.2 line regex + negated contains + label filter chain
    "q38_logql_line_regex" ->
      line("""{service_name="svc-2"} |~ "\"k\": [0-4][0-9]" != "3" | severity_text != "debug"""", 500),

    // §2.4 stdvar via the exact sum/sumsq formula
    "q39_logql_stdvar" ->
      metric("""stdvar_over_time({severity_text="info"} | json | unwrap k [1w])"""),

    // §2.4 last_over_time via deterministic per-(bucket,series) ordering
    "q40_logql_last" ->
      metric("""last_over_time({event_type="purchase"} | json | unwrap k [1d])"""),

    // line_format: rewrite body from a template; later filters see it
    "q75_logql_line_format" ->
      line("""{service_name="svc-0"} | json | line_format "k={{.k}} sev={{.severity_text}}" |= "sev=info"""", 400),

    // label_format: renamed label usable in later filters
    "q76_logql_label_format" ->
      line("""{severity_text="info"} | label_format svc2=service_name | svc2 = "svc-3"""", 400),

    // ---- generation-2 map-attr path (reference logql.rs:44-56) ----------

    // matcher on a map attr (adds the attr_tokens conjunct) + label filter
    // on a SPARSE attr (absent ⇒ NULL ⇒ dropped under both p and ¬p)
    "q77_gen2_attr_filter" ->
      lineGen2("""{service_name="svc-4", region="r1"} | plan = "pro-1"""", 300),

    // cross-container coalesce: env lives in resource_attributes, region in
    // log_attributes — both resolve through the same label syntax
    "q78_gen2_env_coalesce" ->
      lineGen2("""{env="prod"} | region != "r0" |= "\"k\": 9"""", 400),

    // metric grouped BY a map-resolved label (unwrap also map-resolved)
    "q79_gen2_metric_by_region" ->
      metricGen2("""sum by (region) (sum_over_time({severity_text="info"} | unwrap k [1w]))"""),

    // matcher on log_attributes + grouping by two resource_attributes
    "q80_gen2_count_by_env_host" ->
      metricGen2("""sum by (env, host) (count_over_time({region="r2"}[1d]))"""),

    // STORED gen-2 table: hour-partitioned + bloom parquet written via
    // Storage.append, queried with a time window that prunes partitions
    "q81_gen2_stored_window" ->
      lineGen2("""{service_name="svc-2", region="r2"}""", 500,
        timeRange = Some((1704844800000000000L, 1705708800000000000L)),
        stored = true),

    // Loki 3.3 approx_topk: sketch-backed top-k — per bucket the series
    // values fold into ONE Count-Min sketch (the native CmsSketch
    // aggregate, 16 KB mergeable state) and series rank by their CMS
    // estimate. The oracle restates the counters cell by cell, so the
    // approximation itself is oracle-checked, not just the happy path
    // where estimates equal truth.
    "q331_logql_approx_topk" ->
      metric("""approx_topk(3, count_over_time({event_type=~".+"}[1d]))"""),

    // ---- binary ops between metric exprs (reference logs.rs:906-1100) ---

    // arithmetic ratio with explicit on() match key — an equi join per
    // (bucket, service), never a collect-side map
    "q82_logql_binary_ratio" ->
      metric("""sum by (service_name) (count_over_time({severity_text="error"}[1d]))
                / on(service_name)
                sum by (service_name) (count_over_time({severity_text="info"}[1d]))"""),

    // vector comparison (filter semantics): keep error-count series whose
    // value exceeds the click-count series of the same service
    "q83_logql_binary_cmp" ->
      metric("""sum by (service_name) (count_over_time({event_type="click"}[1d]))
                > sum by (service_name) (count_over_time({event_type="view"}[1d]))"""),

    // logical set op with a nested scalar comparison on the rhs:
    // error series unless the service also has >17 info lines that day
    "q84_logql_binary_unless" ->
      metric("""sum by (service_name) (count_over_time({severity_text="error"}[1d]))
                unless (sum by (service_name) (count_over_time({severity_text="info"}[1d])) > 17)"""),

    // ---- | pattern stage (reference ast.rs:65) --------------------------

    // positional capture + numeric label filter on the captured value
    "q89_logql_pattern" ->
      line("""{service_name="svc-6"} | pattern "{\"k\": <kv>}" | kv >= 70""", 300),

    // pattern capture as a metric group key (finalCtx resolution)
    "q90_logql_pattern_metric" ->
      metric("""sum by (kv) (count_over_time({event_type="signup"} | pattern "{\"k\": <kv>}" [1w]))"""),

    // many-to-one matching: per-service share of its severity's total —
    // group_left joins 8 services against 1 row per severity (the
    // reference only parse-accepts group_left, promql.rs:417-419)
    "q94_logql_group_left" ->
      metric("""sum by (service_name, severity_text) (count_over_time({event_type=~"error|view"}[1d]))
                / on(severity_text) group_left
                sum by (severity_text) (count_over_time({event_type=~"error|view"}[1d]))"""),

    // ---- unwrap conversion functions (reference ast.rs:85,169-175) ------

    // duration(): "Nms" strings → seconds; max is order-independent
    "q99_logql_unwrap_duration" ->
      metric("""max by (service_name) (max_over_time({event_type="click"} | json
                | label_format dur="{{.k}}ms" | unwrap duration(dur) [1w]))"""),

    // bytes(): "NKiB" strings → bytes; integer-valued so sum stays exact
    "q100_logql_unwrap_bytes" ->
      metric("""sum by (service_name) (sum_over_time({event_type="view"} | json
                | label_format sz="{{.k}}KiB" | unwrap bytes(sz) [1w]))"""),

    // absent_over_time: 1 for every grid bucket with NO matching line
    // (spine anti-join; needs the explicit query range)
    "q101_logql_absent" ->
      metricT("""absent_over_time({service_name="svc-0", severity_text="error"}[1d])""",
        (1704067200000000000L, 1706745600000000000L)),

    // `... or vector(0)` no-data fallback — the reference documents this
    // as unsupported at execution (logql-reference.md:218-226); here the
    // empty grid buckets anti-join against a generated spine
    "q149_logql_or_vector" ->
      metricT("""sum(count_over_time({service_name="svc-1", severity_text="error"}[1d])) or vector(0)""",
        (1704067200000000000L, 1706745600000000000L)),

    // `sum without (...)` with a non-empty label list — also rejected by
    // the reference (logql-reference.md:218-226); the remaining series
    // labels keep the grouping
    "q150_logql_without" ->
      metric("""sum without (severity_text) (count_over_time({service_name=~"svc-[0-3]"}[1d]))"""),

    // trailing offset on a range aggregation (reference parser.rs:898):
    // yesterday's error counts on today's bucket grid
    "q102_logql_offset" ->
      metric("""sum by (service_name) (count_over_time({severity_text="error"}[1d]) offset 1d)"""),

    // ---- parser stages beyond json/logfmt/pattern (reference ast.rs:55-88)

    // | regexp "(?P<name>…)": named-capture extraction + numeric filter
    "q104_logql_regexp" ->
      line("""{service_name="svc-5"} | regexp "\"k\": (?P<kv>[0-9]+)" | kv >= 55""", 300),

    // | json with explicit extraction args (only the listed labels extract)
    "q105_logql_json_arg" ->
      line("""{severity_text="info"} | json kv="k" | kv > 40""", 400),

    // | logfmt with extraction args over a line_format-rewritten body
    "q106_logql_logfmt_arg" ->
      line("""{service_name="svc-1"} | json | line_format "kk={{.k}} sev={{.severity_text}}" | logfmt kv="kk" | kv >= 30""", 400),

    // | unpack: the packed `_entry` becomes the line, other keys labels
    "q107_logql_unpack" ->
      line("""{severity_text="error"} | json | line_format "{\"_entry\": \"k={{.k}}\", \"svc\": \"{{.service_name}}\"}" | unpack | svc =~ "svc-[0-2]"""", 400),

    // | decolorize: ANSI SGR codes injected by line_format are stripped
    "q108_logql_decolorize" ->
      line("{severity_text=\"info\"} | json | line_format \"\u001B[31m{{.severity_text}}\u001B[0m k={{.k}}\" | decolorize |= \"k=4\"", 400),

    // | drop with a matcher: the label is nulled only where it holds
    "q109_logql_drop" ->
      metricGen2("""sum by (region) (count_over_time({env="prod"} | drop region="r1" [1w]))"""),

    // | keep: every unlisted label (host) leaves the stream identity
    "q110_logql_keep" ->
      metricGen2("""sum by (region, host) (count_over_time({env="prod"} | keep region [1d]))"""),

    // | distinct: first line per distinct label combination (deterministic
    // oldest-first survivor)
    "q111_logql_distinct" ->
      line("""{severity_text="info"} | distinct service_name, event_type""", 100),

    // sort_desc over a nested vector agg (Loki 2.7) — presentation order;
    // the oracle checks the SET (hash compare is order-washed)
    "q169_logql_sort" ->
      metric("""sort_desc(sum by (service_name) (count_over_time({severity_text="error"}[1d])))"""),

    // rate_counter: Prometheus-style counter rate over the unwrapped
    // value — (last − first)/range per (bucket, series), one hash agg
    "q173_logql_rate_counter" ->
      metric("""rate_counter({severity_text="info"} | json | unwrap k [1d])"""),

    // `|>` pattern line filter (Loki 3.x): whole-line template match,
    // compiled to ONE anchored regex at plan time
    "q178_logql_pattern_filter" ->
      line("""{service_name="svc-2"} |> "{\"k\": 8<_>}"""", 200),

    // duration literal in a label filter: compared in nanos (reference
    // logql.rs numeric_value — durations serialize as nanoseconds)
    "q120_logql_duration_filter" ->
      line("""{event_type="click"} | json | label_format lat="{{.k}}00000000" | lat <= 3s""", 400),

    // bytes literal in a label filter: compared by raw byte count
    "q121_logql_bytes_filter" ->
      line("""{event_type="view"} | json | label_format sz="{{.k}}000" | sz >= 20KB""", 400),

    // label_replace over a LogQL metric expr (reference logs.rs:1102-1188)
    "q123_logql_label_replace" ->
      metric("""label_replace(sum by (service_name) (count_over_time({severity_text="error"}[1d])),
                "env", "e$1", "service_name", "svc-(.*)")"""),

    // ip() label filter — CIDR membership of the client_ip label,
    // implemented beyond the reference (rejected at execution there,
    // logql.rs:674): 10.4.0.0/14 covers second octet 4..7
    "q130_logql_ip_cidr" ->
      line("""{event_type="click"} | client_ip = ip("10.4.0.0/14")""", 300),

    // ip() range form under a metric aggregation, negated polarity
    "q131_logql_ip_range_metric" ->
      metric("""sum by (service_name) (count_over_time({severity_text="error"}
                | client_ip != ip("10.0.0.0-10.6.255.255") [1d]))"""),

    // PromotedAttrRule end-to-end: the RAW surface probes the attribute
    // containers with the canonical coalesce — the optimizer rule
    // (installed in every session by GraftExtensions) resolves the
    // promoted key to the materialized label_region column
    // (pushdown-able), leaves the unpromoted env probe alone, and the
    // DuckDB twin checks promotion invariance on the VALUES.
    "q221_promoted_rule_probe" -> ((s, dir) => {
      val df = graft.SignalTables.storedPromotedLogs(s, dir)
      def probe(k: String) = coalesce(
        element_at(col("log_attributes"), k),
        element_at(col("resource_attributes"), k),
        element_at(col("scope_attributes"), k))
      df.filter(probe("region") === "r1")
        .groupBy(probe("region").as("region"), probe("env").as("env"))
        .agg(count(lit(1)).as("n"))
    }),

    // Detected patterns (Loki /detected_patterns shape, Drain-lite):
    // variable fields masked to a placeholder, lines grouped by the
    // resulting template — count + deterministic sample id per template.
    // One regexp_replace + one hash aggregate; the template space is
    // bounded by the log format, not the volume, so the aggregate state
    // stays tiny at any scale.
    "q210_detected_patterns" -> ((s, dir) =>
      SignalViews.logsDf(s, dir)
        .withColumn("line", concat(col("event_type"), lit(" svc="),
          col("service_name"), lit(" ip="), col("client_ip"), lit(" k="),
          get_json_object(col("body"), "$.k")))
        .withColumn("template", regexp_replace(col("line"), "[0-9]+", "<N>"))
        .groupBy(col("template"))
        .agg(count(lit(1)).as("n_lines"), min(col("event_id")).as("sample_event_id"))),

    // Pattern-frequency shift (incident triage: which log templates are
    // over-represented in the suspect window vs the baseline?). Same
    // Drain-lite templates as q210, counted once per window in ONE pass
    // (conditional sums — no second scan, no join of two windowed
    // subqueries), then rate shift in exact integer ppm against each
    // window's own volume. The per-template aggregate state is bounded
    // by the log format, so the final cross-join with the 1-row totals
    // broadcast is trivial at any scale.
    // Loki index-volume API (`/loki/api/v1/index/volume`, Loki ≥2.9):
    // log VOLUME in bytes per stream label value over the range — the
    // capacity-planning panel. One hash aggregate over octet_length;
    // byte math (not chars) so multi-byte content reports honestly.
    "q273_loki_volume" -> ((s, dir) => {
      SignalViews.logsDf(s, dir)
        .groupBy(col("service_name"),
          expr("(timestamp div 1000000000) div 86400 * 86400").as("bucket_start"))
        .agg(sum(expr("octet_length(body)").cast("long")).as("volume_bytes"),
          count(lit(1)).as("n_lines"))
    }),

    "q256_pattern_shift" -> ((s, dir) => {
      val cutNs = (1704067200L + 7L * 86400L) * 1000000000L // Jan 8
      val t = SignalViews.logsDf(s, dir)
        .withColumn("line", concat(col("event_type"), lit(" svc="),
          col("service_name"), lit(" ip="), col("client_ip"), lit(" k="),
          get_json_object(col("body"), "$.k")))
        .withColumn("template", regexp_replace(col("line"), "[0-9]+", "<N>"))
        .withColumn("in_a", (col("timestamp") < cutNs).cast("long"))
      val per = t.groupBy(col("template"))
        .agg(sum(col("in_a")).as("n_a"),
          sum(lit(1L) - col("in_a")).as("n_b"))
      val tot = per.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
      // n_a*1e6 wraps int64 at ~9e12 rows/template — widen (oracle: HUGEINT)
      per.crossJoin(broadcast(tot))
        .withColumn("a_ppm", expr("(CAST(n_a AS DECIMAL(38,0)) * 1000000) div tot_a"))
        .withColumn("b_ppm", expr("(CAST(n_b AS DECIMAL(38,0)) * 1000000) div tot_b"))
        .select(col("template"), col("n_a"), col("n_b"),
          col("a_ppm"), col("b_ppm"),
          (col("a_ppm") - col("b_ppm")).as("shift_ppm"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q148_logql_error_label" ->
      s"""WITH logs AS ($V),
         |mixed AS (
         |  SELECT timestamp, service_name,
         |    CASE WHEN severity_text = 'error' THEN '!' || body ELSE body END AS body
         |  FROM logs)
         |SELECT ${bkt(604800)} AS bucket_start,
         |  CASE WHEN json_valid(body) THEN '' ELSE 'JSONParserErr' END AS __error__,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM mixed WHERE regexp_matches(service_name, '^(?:svc-.*)$$')
         |GROUP BY 1, 2""".stripMargin,

    "q30_logql_line" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE service_name = 'svc-3' AND severity_text <> 'debug'
         |  AND contains(body, '"k": 8')
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 200""".stripMargin,

    "q31_logql_json_filter" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE regexp_full_match(service_name, 'svc-[0-3]')
         |  AND CAST(json_extract_string(body, '$$.k') AS DOUBLE) >= 50
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 300""".stripMargin,

    "q32_logql_count" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'error' GROUP BY 1, 2""".stripMargin,

    "q169_logql_sort" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'error' GROUP BY 1, 2""".stripMargin,

    "q178_logql_pattern_filter" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE service_name = 'svc-2'
         |  AND regexp_matches(body, '^\\{"k": 8(?:.*)\\}$$')
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 200""".stripMargin,

    "q173_logql_rate_counter" ->
      s"""WITH logs AS ($V),
         |r AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, severity_text,
         |    event_type,
         |    CAST(json_extract_string(body, '$$.k') AS DOUBLE) AS value,
         |    row_number() OVER (PARTITION BY ${bkt(86400)}, service_name,
         |      severity_text, event_type
         |      ORDER BY timestamp DESC, event_id DESC) AS rnd,
         |    row_number() OVER (PARTITION BY ${bkt(86400)}, service_name,
         |      severity_text, event_type
         |      ORDER BY timestamp ASC, event_id ASC) AS rna
         |  FROM logs WHERE severity_text = 'info'),
         |fl AS (
         |  SELECT bucket_start, service_name, severity_text, event_type,
         |    MAX(CASE WHEN rnd = 1 THEN value END) AS lastv,
         |    MAX(CASE WHEN rna = 1 THEN value END) AS firstv
         |  FROM r GROUP BY 1, 2, 3, 4)
         |SELECT bucket_start, service_name, severity_text, event_type,
         |  (lastv - firstv) / 86400.0 AS value FROM fl""".stripMargin,

    "q33_logql_rate" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(21600)} AS bucket_start, service_name, severity_text,
         |  event_type, COUNT(*) / 21600.0 AS value
         |FROM logs WHERE service_name = 'svc-1' GROUP BY 1, 2, 3, 4""".stripMargin,

    "q34_logql_unwrap_sum" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(604800)} AS bucket_start, event_type,
         |  CAST(SUM(CAST(json_extract_string(body, '$$.k') AS DOUBLE)) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'info' GROUP BY 1, 2""".stripMargin,

    "q35_logql_topk" ->
      s"""WITH logs AS ($V),
         |inner_agg AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, severity_text,
         |    event_type, CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM logs WHERE severity_text = 'error' GROUP BY 1, 2, 3, 4)
         |SELECT bucket_start, service_name, severity_text, event_type, value FROM (
         |  SELECT *, row_number() OVER (PARTITION BY bucket_start
         |    ORDER BY value DESC, service_name ASC, severity_text ASC, event_type ASC) AS rn
         |  FROM inner_agg) WHERE rn <= 2""".stripMargin,

    "q36_logql_quantile" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(604800)} AS bucket_start, service_name, severity_text,
         |  event_type,
         |  quantile_cont(CAST(json_extract_string(body, '$$.k') AS DOUBLE), 0.5) AS value
         |FROM logs WHERE event_type = 'click' GROUP BY 1, 2, 3, 4""".stripMargin,

    "q37_logql_bytes" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  CAST(SUM(length(body)) AS DOUBLE) AS value
         |FROM logs WHERE regexp_full_match(severity_text, 'err.*|info')
         |GROUP BY 1, 2""".stripMargin,

    "q38_logql_line_regex" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE service_name = 'svc-2'
         |  AND regexp_matches(body, '"k": [0-4][0-9]')
         |  AND NOT contains(body, '3')
         |  AND severity_text <> 'debug'
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 500""".stripMargin,

    "q39_logql_stdvar" ->
      s"""WITH logs AS ($V),
         |m AS (
         |  SELECT ${bkt(604800)} AS bucket_start, service_name, severity_text,
         |    event_type,
         |    SUM(CAST(json_extract_string(body, '$$.k') AS DOUBLE)) AS s1,
         |    SUM(CAST(json_extract_string(body, '$$.k') AS DOUBLE)
         |        * CAST(json_extract_string(body, '$$.k') AS DOUBLE)) AS s2,
         |    CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM logs WHERE severity_text = 'info' GROUP BY 1, 2, 3, 4)
         |SELECT bucket_start, service_name, severity_text, event_type,
         |  (s2 - s1 * s1 / n) / n AS value
         |FROM m""".stripMargin,

    "q75_logql_line_format" ->
      s"""WITH logs AS ($V),
         |f AS (
         |  SELECT timestamp, service_name, severity_text,
         |    concat('k=', coalesce(json_extract_string(body, '$$.k'), ''),
         |           ' sev=', severity_text) AS body
         |  FROM logs WHERE service_name = 'svc-0')
         |SELECT timestamp, service_name, severity_text, body FROM f
         |WHERE contains(body, 'sev=info')
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q76_logql_label_format" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE severity_text = 'info' AND service_name = 'svc-3'
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q77_gen2_attr_filter" ->
      s"""WITH logs AS ($V2)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE service_name = 'svc-4' AND region = 'r1' AND plan = 'pro-1'
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 300""".stripMargin,

    "q78_gen2_env_coalesce" ->
      s"""WITH logs AS ($V2)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE env = 'prod' AND region <> 'r0' AND contains(body, '"k": 9')
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q79_gen2_metric_by_region" ->
      s"""WITH logs AS ($V2)
         |SELECT ${bkt(604800)} AS bucket_start, region,
         |  CAST(SUM(CAST(k AS DOUBLE)) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'info' GROUP BY 1, 2""".stripMargin,

    "q80_gen2_count_by_env_host" ->
      s"""WITH logs AS ($V2)
         |SELECT ${bkt(86400)} AS bucket_start, env, host,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE region = 'r2' GROUP BY 1, 2, 3""".stripMargin,

    "q81_gen2_stored_window" ->
      s"""WITH logs AS ($V2)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE timestamp >= 1704844800000000000 AND timestamp < 1705708800000000000
         |  AND service_name = 'svc-2' AND region = 'r2'
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 500""".stripMargin,

    "q331_logql_approx_topk" ->
      s"""WITH logs AS ($V),
         |i AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, severity_text,
         |    event_type, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM logs GROUP BY 1, 2, 3, 4),
         |pos AS (
         |  SELECT bucket_start, service_name, severity_text, event_type, w,
         |    r.i AS r,
         |    CAST(('0x' || substr(md5('cms' || r.i || ':' || service_name
         |      || '|' || severity_text || '|' || event_type),
         |      1, 15)) AS BIGINT) % 512 AS c
         |  FROM i, range(0, 4) r(i)),
         |counters AS (
         |  SELECT bucket_start, r, c, CAST(SUM(w) AS BIGINT) AS v
         |  FROM pos GROUP BY 1, 2, 3),
         |est AS (
         |  SELECT p.bucket_start, p.service_name, p.severity_text,
         |    p.event_type, MIN(co.v) AS est
         |  FROM (SELECT DISTINCT bucket_start, service_name, severity_text,
         |        event_type, r, c FROM pos) p
         |  JOIN counters co USING (bucket_start, r, c) GROUP BY 1, 2, 3, 4),
         |rk AS (
         |  SELECT bucket_start, service_name, severity_text, event_type, est,
         |    row_number() OVER (PARTITION BY bucket_start ORDER BY est DESC,
         |      service_name ASC, severity_text ASC, event_type ASC) AS rn
         |  FROM est)
         |SELECT bucket_start, service_name, severity_text, event_type,
         |  CAST(est AS DOUBLE) AS value
         |FROM rk WHERE rn <= 3""".stripMargin,

    "q82_logql_binary_ratio" ->
      s"""WITH logs AS ($V),
         |a AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE severity_text = 'error' GROUP BY 1, 2),
         |b AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE severity_text = 'info' GROUP BY 1, 2)
         |SELECT a.bucket_start, a.service_name, a.v / b.v AS value
         |FROM a JOIN b USING (bucket_start, service_name)""".stripMargin,

    "q83_logql_binary_cmp" ->
      s"""WITH logs AS ($V),
         |a AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE event_type = 'click' GROUP BY 1, 2),
         |b AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE event_type = 'view' GROUP BY 1, 2)
         |SELECT a.bucket_start, a.service_name, a.v AS value
         |FROM a JOIN b USING (bucket_start, service_name)
         |WHERE a.v > b.v""".stripMargin,

    "q84_logql_binary_unless" ->
      s"""WITH logs AS ($V),
         |a AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(COUNT(*) AS DOUBLE) AS value
         |      FROM logs WHERE severity_text = 'error' GROUP BY 1, 2),
         |b AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE severity_text = 'info' GROUP BY 1, 2)
         |SELECT a.bucket_start, a.service_name, a.value FROM a
         |WHERE NOT EXISTS (SELECT 1 FROM b
         |  WHERE b.bucket_start = a.bucket_start
         |    AND b.service_name = a.service_name AND b.v > 17)""".stripMargin,

    "q149_logql_or_vector" ->
      s"""WITH logs AS ($V),
         |agg AS (
         |  SELECT ${bkt(86400)} AS bucket_start, CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM logs WHERE service_name = 'svc-1' AND severity_text = 'error'
         |  GROUP BY 1),
         |vspine AS (
         |  SELECT 1704067200 + i*86400 AS bucket_start, 0.0 AS value
         |  FROM range(0, 31) r(i))
         |SELECT bucket_start, value FROM agg
         |UNION ALL
         |SELECT s.bucket_start, s.value FROM vspine s
         |WHERE NOT EXISTS (SELECT 1 FROM agg a WHERE a.bucket_start = s.bucket_start)""".stripMargin,

    "q150_logql_without" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name, event_type,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE regexp_matches(service_name, '^(?:svc-[0-3])$$')
         |GROUP BY 1, 2, 3""".stripMargin,

    "q101_logql_absent" ->
      s"""WITH logs AS ($V),
         |spine AS (
         |  SELECT 1704067200 + i * 86400 AS bucket_start
         |  FROM range(0, 31) r(i)),
         |present AS (
         |  SELECT DISTINCT ${bkt(86400)} AS bucket_start FROM logs
         |  WHERE service_name = 'svc-0' AND severity_text = 'error'
         |    AND timestamp >= 1704067200000000000
         |    AND timestamp < 1706745600000000000)
         |SELECT s.bucket_start, 1.0 AS value FROM spine s
         |WHERE NOT EXISTS (SELECT 1 FROM present p
         |  WHERE p.bucket_start = s.bucket_start)""".stripMargin,

    "q102_logql_offset" ->
      s"""WITH logs AS ($V)
         |SELECT ((timestamp//1000000000 + 86400)//86400)*86400 AS bucket_start,
         |  service_name, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'error'
         |GROUP BY 1, 2""".stripMargin,

    "q99_logql_unwrap_duration" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(604800)} AS bucket_start, service_name,
         |  MAX(CAST(json_extract_string(body, '$$.k') AS DOUBLE) * 0.001) AS value
         |FROM logs WHERE event_type = 'click'
         |GROUP BY 1, 2""".stripMargin,

    "q100_logql_unwrap_bytes" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(604800)} AS bucket_start, service_name,
         |  SUM(CAST(json_extract_string(body, '$$.k') AS DOUBLE) * 1024.0) AS value
         |FROM logs WHERE event_type = 'view'
         |GROUP BY 1, 2""".stripMargin,

    "q89_logql_pattern" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE service_name = 'svc-6'
         |  AND TRY_CAST(nullif(regexp_extract(body, '^\\{"k": (.*?)\\}', 1), '') AS DOUBLE) >= 70
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 300""".stripMargin,

    "q90_logql_pattern_metric" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(604800)} AS bucket_start,
         |  nullif(regexp_extract(body, '^\\{"k": (.*?)\\}', 1), '') AS kv,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE event_type = 'signup'
         |GROUP BY 1, 2""".stripMargin,

    "q94_logql_group_left" ->
      s"""WITH logs AS ($V),
         |a AS (SELECT ${bkt(86400)} AS bucket_start, service_name, severity_text,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE event_type IN ('error','view') GROUP BY 1, 2, 3),
         |b AS (SELECT ${bkt(86400)} AS bucket_start, severity_text,
         |        CAST(COUNT(*) AS DOUBLE) AS v
         |      FROM logs WHERE event_type IN ('error','view') GROUP BY 1, 2)
         |SELECT a.bucket_start, a.service_name, a.severity_text,
         |  a.v / b.v AS value
         |FROM a JOIN b USING (bucket_start, severity_text)""".stripMargin,

    "q40_logql_last" ->
      s"""WITH logs AS ($V),
         |r AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, severity_text,
         |    event_type,
         |    CAST(json_extract_string(body, '$$.k') AS DOUBLE) AS value,
         |    row_number() OVER (PARTITION BY ${bkt(86400)}, service_name,
         |      severity_text, event_type
         |      ORDER BY timestamp DESC, event_id DESC) AS rn
         |  FROM logs WHERE event_type = 'purchase')
         |SELECT bucket_start, service_name, severity_text, event_type, value
         |FROM r WHERE rn = 1""".stripMargin,

    "q104_logql_regexp" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE service_name = 'svc-5'
         |  AND TRY_CAST(nullif(regexp_extract(body, '"k": ([0-9]+)', 1), '') AS DOUBLE) >= 55
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 300""".stripMargin,

    "q105_logql_json_arg" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE severity_text = 'info'
         |  AND TRY_CAST(json_extract_string(body, '$$.k') AS DOUBLE) > 40
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q106_logql_logfmt_arg" ->
      s"""WITH logs AS ($V),
         |f AS (
         |  SELECT timestamp, service_name, severity_text,
         |    concat('kk=', coalesce(json_extract_string(body, '$$.k'), ''),
         |           ' sev=', severity_text) AS body
         |  FROM logs WHERE service_name = 'svc-1')
         |SELECT timestamp, service_name, severity_text, body FROM f
         |WHERE TRY_CAST(nullif(regexp_extract(body,
         |    '(?:^|\\s)kk=("[^"]*"|\\S+)', 1), '') AS DOUBLE) >= 30
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q107_logql_unpack" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text,
         |  concat('k=', coalesce(json_extract_string(body, '$$.k'), '')) AS body
         |FROM logs
         |WHERE severity_text = 'error'
         |  AND regexp_full_match(service_name, 'svc-[0-2]')
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q108_logql_decolorize" ->
      s"""WITH logs AS ($V),
         |f AS (
         |  SELECT timestamp, service_name, severity_text,
         |    concat('info k=', coalesce(json_extract_string(body, '$$.k'), '')) AS body
         |  FROM logs WHERE severity_text = 'info')
         |SELECT timestamp, service_name, severity_text, body FROM f
         |WHERE contains(body, 'k=4')
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q109_logql_drop" ->
      s"""WITH logs AS ($V2)
         |SELECT ${bkt(604800)} AS bucket_start,
         |  CASE WHEN region = 'r1' THEN NULL ELSE region END AS region,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE env = 'prod' GROUP BY 1, 2""".stripMargin,

    "q110_logql_keep" ->
      s"""WITH logs AS ($V2)
         |SELECT ${bkt(86400)} AS bucket_start, region,
         |  CAST(NULL AS VARCHAR) AS host,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE env = 'prod' GROUP BY 1, 2, 3""".stripMargin,

    "q111_logql_distinct" ->
      s"""WITH logs AS ($V),
         |r AS (
         |  SELECT timestamp, service_name, severity_text, body,
         |    row_number() OVER (PARTITION BY service_name, event_type
         |      ORDER BY timestamp ASC, event_id ASC) AS rn
         |  FROM logs WHERE severity_text = 'info')
         |SELECT timestamp, service_name, severity_text, body FROM r
         |WHERE rn = 1
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 100""".stripMargin,

    "q120_logql_duration_filter" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE event_type = 'click'
         |  AND TRY_CAST(concat(json_extract_string(body, '$$.k'), '00000000') AS DOUBLE)
         |    <= 3000000000
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q121_logql_bytes_filter" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE event_type = 'view'
         |  AND TRY_CAST(concat(json_extract_string(body, '$$.k'), '000') AS DOUBLE)
         |    >= 20000
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 400""".stripMargin,

    "q123_logql_label_replace" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  regexp_replace(service_name, '^(?:svc-(.*))$$', 'e\\1') AS env,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'error'
         |GROUP BY 1, 2""".stripMargin,

    // 10.4.0.0/14 = [10.4.0.0, 10.7.255.255] — second octet 4..7
    "q130_logql_ip_cidr" ->
      s"""WITH logs AS ($V)
         |SELECT timestamp, service_name, severity_text, body FROM logs
         |WHERE event_type = 'click'
         |  AND CAST(string_split(client_ip, '.')[2] AS BIGINT) BETWEEN 4 AND 7
         |ORDER BY timestamp DESC, service_name ASC, severity_text ASC, body ASC
         |LIMIT 300""".stripMargin,

    // outside [10.0.0.0, 10.6.255.255]: the view only emits 10.<0..31>.*,
    // so the complement is second octet >= 7
    "q131_logql_ip_range_metric" ->
      s"""WITH logs AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM logs WHERE severity_text = 'error'
         |  AND CAST(string_split(client_ip, '.')[2] AS BIGINT) >= 7
         |GROUP BY 1, 2""".stripMargin,

    "q221_promoted_rule_probe" ->
      s"""WITH v AS ($V2)
         |SELECT region, env, COUNT(*) AS n FROM v
         |WHERE region = 'r1' GROUP BY 1, 2""".stripMargin,

    "q210_detected_patterns" ->
      s"""WITH logs AS ($V),
         |t AS (
         |  SELECT event_id,
         |    regexp_replace(
         |      concat(event_type, ' svc=', service_name, ' ip=', client_ip,
         |             ' k=', json_extract_string(body, '$$.k')),
         |      '[0-9]+', '<N>', 'g') AS template
         |  FROM logs)
         |SELECT template, COUNT(*) AS n_lines,
         |  MIN(event_id) AS sample_event_id
         |FROM t GROUP BY template""".stripMargin,

    "q273_loki_volume" ->
      s"""WITH logs AS ($V)
         |SELECT service_name,
         |  (timestamp//1000000000//86400)*86400 AS bucket_start,
         |  CAST(SUM(strlen(body)) AS BIGINT) AS volume_bytes,
         |  CAST(COUNT(*) AS BIGINT) AS n_lines
         |FROM logs GROUP BY 1, 2""".stripMargin,

    "q256_pattern_shift" ->
      s"""WITH logs AS ($V),
         |t AS (
         |  SELECT
         |    regexp_replace(
         |      concat(event_type, ' svc=', service_name, ' ip=', client_ip,
         |             ' k=', json_extract_string(body, '$$.k')),
         |      '[0-9]+', '<N>', 'g') AS template,
         |    CASE WHEN timestamp < ${(1704067200L + 7L * 86400L) * 1000000000L}
         |      THEN 1 ELSE 0 END AS in_a
         |  FROM logs),
         |per AS (
         |  SELECT template, CAST(sum(in_a) AS BIGINT) AS n_a,
         |    CAST(sum(1 - in_a) AS BIGINT) AS n_b
         |  FROM t GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
         |    CAST(sum(n_b) AS BIGINT) AS tot_b FROM per)
         |SELECT template, n_a, n_b,
         |  CAST((CAST(n_a AS HUGEINT) * 1000000) // tot_a AS BIGINT) AS a_ppm,
         |  CAST((CAST(n_b AS HUGEINT) * 1000000) // tot_b AS BIGINT) AS b_ppm,
         |  CAST((CAST(n_a AS HUGEINT) * 1000000) // tot_a
         |    - (CAST(n_b AS HUGEINT) * 1000000) // tot_b AS BIGINT) AS shift_ppm
         |FROM per, tot""".stripMargin
  )
}
