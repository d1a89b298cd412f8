package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.traceql.TraceQL

/** Trace search operators (reference: src/querier/src/query/trace.rs —
  * two-phase trace fetch :66-273, search + newest-first deterministic
  * truncation :602-644, span-per-trace clamp :720-747).
  *
  * Traces view over events: trace_id groups a user's events per day;
  * span_id = event_id; duration from value. At 100 TB the two-phase shape
  * is the point: phase 1 reduces to a small set of trace ids (aggregate +
  * limit), phase 2 is a semi join that Spark can broadcast.
  */
object TraceOps {
  type Q = (SparkSession, String) => DataFrame

  private def tracesDf(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      (unix_micros(col("ts_us")) * 1000).as("timestamp"),
      col("event_id").as("span_id"),
      concat(lit("tr-"), col("user_id"), lit("-"),
        expr("(unix_micros(ts_us) div 1000000) div 86400")).as("trace_id"),
      col("event_type").as("span_name"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      when(col("event_type") === "error", "ERROR").otherwise("OK").as("status_code"),
      round(col("value") * 1000000).cast(LongType).as("duration_nanos"),
      map(lit("k"), get_json_object(col("props"), "$.k")).as("span_attributes"),
      map(lit("service.version"), concat(lit("v"), pmod(col("user_id"), lit(3))))
        .as("resource_attributes"))

  private val tracesViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp, event_id AS span_id,
      |  concat('tr-', user_id, '-', (epoch_us(ts)//1000000)//86400) AS trace_id,
      |  event_type AS span_name,
      |  concat('svc-', user_id % 8) AS service_name,
      |  CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'OK' END AS status_code,
      |  CAST(round(value * 1000000) AS BIGINT) AS duration_nanos,
      |  json_extract_string(props, '$.k') AS attr_k,
      |  concat('v', user_id % 3) AS attr_version
      |FROM events""".stripMargin

  val queries: Map[String, Q] = Map(
    // TAIL-BASED TRACE SAMPLING decision (the OTel tail-sampling
    // processor's policy stack, made deterministic): per-trace facts
    // fold in ONE hash aggregate (error flag, span count, wall =
    // max(end) − min(start) in exact nanos); the latency policy's p95
    // threshold is the exact k-th smallest wall (k = ceil(0.95·n), a
    // row_number rank — no interpolated percentile, so both engines
    // agree bit-for-bit) broadcast as one row; policies apply in
    // priority order error → slow → probabilistic (md5(trace_id) % 100
    // < 10 — the same deterministic-coin discipline as the split/
    // sampling family). Output is the per-reason decision summary a
    // sampling pipeline reports. At 100 TB: two hash aggs + a 1-row
    // broadcast + a rank over the per-trace frame (already reduced by
    // ~spans-per-trace), nothing driver-side.
    "q327_tail_sampling" -> ((s, dir) => {
      val traces = graft.SignalViews.tracesGen2Df(s, dir)
        .groupBy(col("trace_id"))
        .agg(count(lit(1)).as("n_spans"),
          max(when(col("status_code") === "ERROR", 1).otherwise(0))
            .as("has_error"),
          (max(col("timestamp") + col("duration_nanos"))
            - min(col("timestamp"))).as("wall_ns"))
      val nn = traces.agg(count(lit(1)).as("n"))
      val thr = traces
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("wall_ns").asc, col("trace_id").asc)))
        .crossJoin(broadcast(nn))
        .filter(col("rn") === expr("(n * 95 + 99) div 100")) // ceil(.95n)
        .select(col("wall_ns").as("p95_ns"))
      traces.crossJoin(broadcast(thr))
        .withColumn("reason", expr(
          """CASE WHEN has_error = 1 THEN 'error'
            |  WHEN wall_ns >= p95_ns THEN 'slow'
            |  WHEN CAST(conv(substring(md5(concat('ts:', trace_id)), 1, 15),
            |    16, 10) AS BIGINT) % 100 < 10 THEN 'probabilistic'
            |  ELSE 'drop' END""".stripMargin))
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n_traces"),
          sum(col("n_spans")).cast("long").as("n_spans"),
          max(col("wall_ns")).as("max_wall_ns"))
        .withColumn("kept", (col("reason") =!= "drop").cast("int"))
        .select(col("reason"), col("n_traces"), col("n_spans"),
          col("max_wall_ns"), col("kept"))
    }),

    // Per-operation latency-quantile shift (the deploy-regression
    // report: did p50/p95 of any span move between window A and B?).
    // Durations are ms-bucketed and pre-rolled to (span, window, ms)
    // counts, so the quantile is the exact cumulative-weight rank walk
    // of q250 — windows partition by (span, window), never the whole
    // table — and the A/B comparison is a conditional-agg pivot of the
    // tiny quantile set, not a self-join of two scans. Pure integer
    // rank rule → bit-identical across engines.
    "q257_latency_shift" -> ((s, dir) => {
      val cutNs = (1704067200L + 15L * 86400L) * 1000000000L // Jan 16
      val rolled = tracesDf(s, dir)
        .select(col("span_name"),
          when(col("timestamp") < cutNs, "a").otherwise("b").as("win"),
          expr("duration_nanos div 1000000").as("ms"))
        .groupBy(col("span_name"), col("win"), col("ms"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("span_name"), col("win"))
        .orderBy(col("ms").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val q = rolled
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("total", sum(col("cnt"))
          .over(Window.partitionBy(col("span_name"), col("win"))))
        .withColumn("p_ppm", explode(array(lit(500000L), lit(950000L))))
        .filter(col("cum") >= expr("(total * p_ppm + 999999) div 1000000"))
        .groupBy(col("span_name"), col("win"), col("p_ppm"))
        .agg(min(col("ms")).as("qms"))
      q.groupBy(col("span_name"), col("p_ppm"))
        .agg(max(when(col("win") === "a", col("qms"))).as("p_a_ms"),
          max(when(col("win") === "b", col("qms"))).as("p_b_ms"))
        .withColumn("shift_ms", col("p_b_ms") - col("p_a_ms"))
    }),

    // Two-phase trace fetch: find matching trace ids (newest-first,
    // deterministic truncation), then fetch ALL their spans via semi join.
    "q59_trace_two_phase" -> ((s, dir) => {
      val spans = tracesDf(s, dir)
      val matching = spans
        .filter(col("span_name") === "error" && col("duration_nanos") >= 100L * 1000000L)
        .groupBy(col("trace_id")).agg(max(col("timestamp")).as("_maxts"))
        .orderBy(col("_maxts").desc, col("trace_id").asc)
        .limit(20)
        .select(col("trace_id"))
      spans.join(matching, Seq("trace_id"), "left_semi")
        .select(col("trace_id"), col("span_id"), col("timestamp"),
          col("span_name"), col("duration_nanos"))
    }),

    // TraceQL subset end-to-end: parse → conditions → Column filter,
    // plus span-per-trace clamp via row_number.
    "q60_traceql_search" -> ((s, dir) => {
      val conds = TraceQL.parse(
        """{ resource.service.name = "svc-2" && span.k != "7" && duration > 50ms }""")
      val spans = tracesDf(s, dir).filter(TraceQL.lower(conds))
      val w = Window.partitionBy(col("trace_id"))
        .orderBy(col("timestamp").asc, col("span_id").asc)
      spans.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3) // span-per-trace clamp (trace.rs:720-747)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // TraceQL grammar breadth surfaced by the corpus: NUMERIC attr
    // comparison with coercion (span.k >= 50 — the attr string casts,
    // non-numeric → null → no match, Tempo semantics), unquoted
    // intrinsic ENUM (status = error, case-insensitive) and the
    // fully-anchored =~ regex (Tempo ≥2.2). All plain pushdown-friendly
    // column predicates — one scan, no shuffle before the projection.
    "q272_traceql_numeric_enum" -> ((s, dir) => {
      val conds = TraceQL.parse(
        """{ status = error && span.k >= 50 && name =~ "err.*" }""")
      tracesDf(s, dir).filter(TraceQL.lower(conds))
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // APDEX from span durations (satisfied ≤ 50ms < tolerating ≤ 200ms):
    // the SLA scoring panel — exact integer arithmetic end to end,
    // score_ppm = (2·sat + tol)·1e6 / (2·total), one hash aggregate.
    "q274_apdex" -> ((s, dir) => {
      tracesDf(s, dir)
        .groupBy(col("service_name"),
          expr("(timestamp div 1000000000) div 86400 * 86400").as("bucket_start"))
        .agg(
          sum((col("duration_nanos") <= 50000000L).cast(LongType)).as("satisfied"),
          sum((col("duration_nanos") > 50000000L &&
            col("duration_nanos") <= 200000000L).cast(LongType)).as("tolerating"),
          count(lit(1)).as("total"))
        .withColumn("apdex_ppm",
          // widened through DECIMAL(38,0) like every other ppm expression
          // (q255/q256/q280): at ~4.6e12 spans per (service,day) the bare
          // BIGINT product wraps silently while DuckDB raises
          expr("(CAST(2 * satisfied + tolerating AS DECIMAL(38,0)) * 1000000) div (2 * total)"))
    }),

    // Latency heatmap: spans per (day, service, duration band) over a
    // FIXED boundary ladder (1/10/100 ms, 1 s) — deterministic CASE
    // labels on both engines, no float log2 boundary risk. The heatmap
    // every tracing UI renders; one aggregate, band cardinality fixed.
    "q275_latency_heatmap" -> ((s, dir) => {
      tracesDf(s, dir)
        .withColumn("band", expr(
          """CASE WHEN duration_nanos < 1000000 THEN '<1ms'
            |     WHEN duration_nanos < 10000000 THEN '1-10ms'
            |     WHEN duration_nanos < 100000000 THEN '10-100ms'
            |     WHEN duration_nanos < 1000000000 THEN '100ms-1s'
            |     ELSE '>=1s' END""".stripMargin))
        .groupBy(expr("(timestamp div 1000000000) div 86400 * 86400").as("bucket_start"),
          col("service_name"), col("band"))
        .agg(count(lit(1)).as("n"))
    }),

    // Spanmetrics generator (the OTel collector's spanmetrics connector /
    // Tempo metrics-generator): RED per (service, operation, day) —
    // request count, error count, exact integer duration sum so the
    // derived mean is reproducible. The bridge from traces to dashboards.
    "q276_spanmetrics" -> ((s, dir) => {
      tracesDf(s, dir)
        .groupBy(col("service_name"), col("span_name"),
          expr("(timestamp div 1000000000) div 86400 * 86400").as("bucket_start"))
        .agg(count(lit(1)).as("calls"),
          sum((col("status_code") === "ERROR").cast(LongType)).as("errors"),
          sum(col("duration_nanos")).as("duration_sum_nanos"))
    }),

    // Tempo tags logfmt search → equality conditions
    "q61_tempo_tags" -> ((s, dir) => {
      val conds = TraceQL.parseTags("""service.name=svc-3 name=purchase""")
      tracesDf(s, dir).filter(TraceQL.lower(conds))
        .select(col("trace_id"), col("span_id"), col("timestamp"),
          col("status_code"))
    }),

    // Point lookup over the STORED prefix-sharded trace table: 255/256
    // directories prune, the id equality bloom-skips row groups
    // (reference trace_index_scaling.rs:1-10 — O(1) in table size)
    "q91_trace_point_lookup" -> ((s, dir) => {
      graft.SignalTables.traceById(s, dir, pointLookupId)
        .select(col("trace_id"), col("span_id"), col("timestamp"),
          col("span_name"), col("duration_nanos"))
    }),

    // TraceQL structural `>`: direct children — IMPLEMENTED BEYOND the
    // reference subset (search_filter.rs:240-246 rejects anything but a
    // single spanset). One semi join on (trace_id, parent link); the
    // per-trace span list bounds the fan-out.
    "q145_traceql_child" -> ((s, dir) => {
      val e = TraceQL.parseExpr("""{ name = "view" } > { name = "purchase" }""")
      TraceQL.lowerExpr(tracesWithParent(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // TraceQL METRICS — the reference 501s /api/metrics/query_range
    // (tempo-api-reference.md:28-29); rate() by service over the span
    // stream, one filter + one hash aggregate
    "q151_traceql_metrics_rate" -> ((s, dir) => {
      val mq = TraceQL.parseMetrics(
        """{ name = "purchase" } | rate() by (resource.service.name)""")
      TraceQL.lowerMetrics(tracesDf(s, dir), mq, stepSec = 86400)
    }),

    // TraceQL metrics duration quantile (exact interpolated percentile)
    "q152_traceql_metrics_quantile" -> ((s, dir) => {
      val mq = TraceQL.parseMetrics(
        """{ status = "OK" } | quantile_over_time(duration, 0.9)""")
      TraceQL.lowerMetrics(tracesDf(s, dir), mq, stepSec = 604800)
    }),

    // Tempo /api/search/tag/{tag}/values with a time window: real
    // distinct values (tempo-api-reference.md:26 — the reference serves
    // service.name and name; the window bounds the scan)
    "q153_tempo_tag_values" -> ((s, dir) => {
      tracesDf(s, dir)
        .filter(col("timestamp") >= 1704412800000000000L &&
          col("timestamp") < 1705017600000000000L)
        .select(col("span_name")).distinct()
    }),

    // TraceQL structural `~`: siblings of a DISTINCT matching span
    "q146_traceql_sibling" -> ((s, dir) => {
      val e = TraceQL.parseExpr("""{ name = "error" } ~ { name = "purchase" }""")
      TraceQL.lowerExpr(tracesWithParent(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // TraceQL structural `>>` (descendant) — transitive closure via a
    // per-trace parent-map fold, no iterative joins (oracle: recursive CTE)
    "q162_traceql_descendant" -> ((s, dir) => {
      val e = TraceQL.parseExpr("""{ name = "view" } >> { name = "error" }""")
      TraceQL.lowerExpr(tracesWithParent(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // negated structural `!>` (Tempo 2.3): error spans whose DIRECT
    // parent is not a view span — one anti join on the parent link
    "q222_traceql_not_child" -> ((s, dir) => {
      val e = TraceQL.parseExpr("""{ name = "view" } !> { name = "error" }""")
      TraceQL.lowerExpr(tracesWithParent(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // negated structural `!>>`: error spans with NO view ancestor —
    // complement of the q162 fold, left join keeps A-free traces
    "q223_traceql_not_descendant" -> ((s, dir) => {
      val e = TraceQL.parseExpr("""{ name = "view" } !>> { name = "error" }""")
      TraceQL.lowerExpr(tracesWithParent(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // Span SELF-TIME (exclusive duration): duration minus the sum of
    // direct children's durations, rolled up per (service, operation) —
    // the profiler-style "where is time actually spent" view. One hash
    // aggregate over the parent link + one left join + one rollup; all
    // keys are per-trace so the shuffles stay narrow at scale. Durations
    // are exact nanos longs, so sums are engine-portable.
    "q237_span_self_time" -> ((s, dir) => {
      val sp = tracesWithParent(s, dir)
      val childSum = sp.filter(col("parent_span_id").isNotNull)
        .groupBy(col("trace_id"), col("parent_span_id").as("span_id"))
        .agg(sum(col("duration_nanos")).as("child_ns"))
      sp.join(childSum, Seq("trace_id", "span_id"), "left")
        .withColumn("self_ns",
          col("duration_nanos") - coalesce(col("child_ns"), lit(0L)))
        .groupBy(col("service_name"), col("span_name"))
        .agg(sum(col("self_ns")).as("total_self_ns"),
          sum(col("duration_nanos")).as("total_ns"),
          count(lit(1)).as("n_spans"))
    }),

    // Trace CRITICAL PATH: the root-to-leaf chain with the largest
    // cumulative duration per trace. The span hierarchy is heap-shaped
    // (parent of rn is (rn-1) div 2), so each leaf's ancestor set is
    // CLOSED-FORM — ((rn+1) >> k) - 1 — and the whole analysis is one
    // explode + one equi-join + two aggregates: no iterative joins, no
    // recursion, bounded by 41 shift terms (2⁴¹ spans per trace).
    "q238_critical_path" -> ((s, dir) => {
      val w = Window.partitionBy(col("trace_id"))
      val sp = tracesWithParent(s, dir)
        .withColumn("cnt", count(lit(1)).over(w))
      val leaves = sp.filter(col("rn") * 2 + 1 >= col("cnt"))
        .select(col("trace_id"), col("span_id").as("leaf_span_id"),
          col("rn").as("lrn"))
      val anc = leaves.select(col("trace_id"), col("leaf_span_id"),
        explode(expr(
          """transform(filter(transform(sequence(0, 40),
            |                           k -> shiftright(CAST(lrn + 1 AS BIGINT), k)),
            |                  x -> x >= 1),
            |          x -> x - 1)""".stripMargin)).as("anc_rn"))
      val path = anc
        .join(sp.select(col("trace_id"), col("rn").as("anc_rn"),
          col("duration_nanos")), Seq("trace_id", "anc_rn"))
        .groupBy(col("trace_id"), col("leaf_span_id"))
        .agg(sum(col("duration_nanos")).as("path_ns"),
          count(lit(1)).as("path_len"))
      val rk = Window.partitionBy(col("trace_id"))
        .orderBy(col("path_ns").desc, col("leaf_span_id").asc)
      path.withColumn("_r", row_number().over(rk)).filter(col("_r") === 1)
        .select(col("trace_id"), col("leaf_span_id"), col("path_ns"),
          col("path_len"))
    }),

    // Span WATERFALL shaping (the Tempo trace-view payload): per span,
    // offset from trace start and tree depth. Depth needs NO parent
    // joins — the heap-shaped hierarchy makes it popcount-style
    // arithmetic (number of k with (rn+1)>>k ≥ 1, minus 1); offset is
    // one min-window. A single shuffle on trace_id total.
    "q243_span_waterfall" -> ((s, dir) => {
      val w = Window.partitionBy(col("trace_id"))
      tracesWithParent(s, dir)
        .withColumn("offset_ns",
          col("timestamp") - min(col("timestamp")).over(w))
        .withColumn("depth", expr(
          """CAST(size(filter(transform(sequence(0, 40),
            |                           k -> shiftright(CAST(rn + 1 AS BIGINT), k)),
            |                  x -> x >= 1)) - 1 AS INT)""".stripMargin))
        .select(col("trace_id"), col("span_id"), col("parent_span_id"),
          col("offset_ns"), col("depth"), col("duration_nanos"))
    }),

    // Apdex per service (satisfied ≤ T, tolerating ≤ 4T, else
    // frustrated; T = 100ms): score = (2·sat + tol) / (2·total), carried
    // as exact ppm integer cross-multiplication — one hash aggregate,
    // bit-identical across engines.
    "q244_apdex" -> ((s, dir) => {
      val T = 100L * 1000000L
      tracesDf(s, dir)
        .groupBy(col("service_name"))
        .agg(
          sum(when(col("duration_nanos") <= T, 1L).otherwise(0L)).as("satisfied"),
          sum(when(col("duration_nanos") > T && col("duration_nanos") <= 4 * T, 1L)
            .otherwise(0L)).as("tolerating"),
          count(lit(1)).as("total"))
        .withColumn("apdex_ppm",
          expr("(1000000 * (2 * satisfied + tolerating)) div (2 * total)"))
    }),

    // Tail-based trace sampling (the collector policy that prunes the
    // firehose BEFORE storage): the keep/drop verdict is per COMPLETE
    // trace — keep every trace with an error span, every trace whose
    // slowest span crosses the latency bound, and a deterministic 1/16
    // hash sample of the rest. One hash aggregate per trace + a verdict
    // projection; the decision rollup is what a sampler would emit as
    // its own health metric. Priority error > slow > sampled mirrors
    // OTel tail-sampling policy composition.
    "q246_tail_sampling" -> ((s, dir) => {
      val perTrace = tracesDf(s, dir)
        .groupBy(col("trace_id"))
        .agg(
          max(when(col("status_code") === "ERROR", 1).otherwise(0)).as("has_error"),
          max(col("duration_nanos")).as("max_span_ns"),
          count(lit(1)).as("n_spans"))
      perTrace
        .withColumn("decision",
          when(col("has_error") === 1, "error")
            .when(col("max_span_ns") > lit(95L * 1000000L), "slow")
            .when(substring(md5(concat(lit("tail|"), col("trace_id"))), 32, 1) === "0",
              "sampled")
            .otherwise("drop"))
        .groupBy(col("decision"))
        .agg(count(lit(1)).as("n_traces"), sum(col("n_spans")).as("kept_spans"))
    }),

    // TraceQL `||` disjunction inside a spanset (the reference subset
    // rejects it) — an OR of &&-groups, still one scan + one filter
    // TraceQL spanset set algebra (Tempo `{A} && {B}` — traces where BOTH
    // sides match a span, returning the matching spans of both sides):
    // two filters on one scan, union-dedup by span identity, one semi
    // join on the distinct-trace intersection — per-trace bounded.
    "q286_traceql_spanset_and" -> ((s, dir) => {
      val e = TraceQL.parseExpr(
        """{ name = "error" } && { name = "purchase" }""")
      TraceQL.lowerExpr(tracesDf(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // `{A} || {B}` — matching spans of either side (union-dedup only)
    "q287_traceql_spanset_or" -> ((s, dir) => {
      val e = TraceQL.parseExpr(
        """{ name = "error" } || { duration > 150ms }""")
      TraceQL.lowerExpr(tracesDf(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    "q175_traceql_disjunction" -> ((s, dir) => {
      val conds = TraceQL.parse(
        """{ name = "error" || name = "purchase" && duration > 150ms }""")
      tracesDf(s, dir).filter(TraceQL.lower(conds))
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // TraceQL structural `<<` (ancestor) — A-span parent chains exploded
    // to (trace, ancestor) pairs, candidates semi-joined
    "q163_traceql_ancestor" -> ((s, dir) => {
      val e = TraceQL.parseExpr("""{ name = "purchase" } << { name = "view" }""")
      TraceQL.lowerExpr(tracesWithParent(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // TraceQL spanset aggregate filter `| count() >= N` — the whole
    // matching spanset is kept or dropped per trace; one window over
    // trace_id, no self-join (Tempo pipeline; the reference subset
    // rejects pipelines, search_filter.rs:240-246)
    "q180_traceql_agg_count" -> ((s, dir) => {
      val e = TraceQL.parseExpr(
        """{ resource.service.name = "svc-1" } | count() >= 3""")
      TraceQL.lowerExpr(tracesDf(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // TraceQL `| avg(duration) > t` — lowered to the exact integer form
    // sum > t*count so the keep/drop never rides an IEEE division
    "q181_traceql_agg_avg" -> ((s, dir) => {
      val e = TraceQL.parseExpr(
        """{ name = "purchase" } | avg(duration) > 120ms""")
      TraceQL.lowerExpr(tracesDf(s, dir), e)
        .select(col("trace_id"), col("span_id"), col("span_name"),
          col("duration_nanos"))
    }),

    // Service graph (Tempo metrics-generator shape): client→server edges
    // from parent/child span pairs, with call count, error count and the
    // exact interpolated p50 of the server-side span duration. The
    // parent link comes from the same single-window hierarchy the
    // structural queries use; the edge rollup is one equi-join on
    // (trace_id, parent_span_id) + one hash aggregate — per-trace keys,
    // so the shuffle stays partitioned by trace at any scale.
    // Weighted PageRank over the q209 service graph — "which service is
    // structurally load-bearing" (the criticality ranking SRE teams
    // build from the dependency graph). Three unrolled rounds in EXACT
    // integer ppm: contribution = (rank·weight) div out-weight (widened
    // through DECIMAL so 100 TB call counts can't wrap), teleport
    // 0.15/N and damping ·85/100 as integer divisions — bit-identical
    // on any engine/partitioning, no float accumulation order. The
    // graph is service-cardinality sized (broadcast everywhere).
    "q279_service_pagerank" -> ((s, dir) => {
      val svcOf = expr(
        """CASE span_name WHEN 'view' THEN 'frontend' WHEN 'click' THEN 'api'
          |  WHEN 'purchase' THEN 'checkout' WHEN 'signup' THEN 'auth'
          |  ELSE 'backend' END""".stripMargin)
      val sp = tracesWithParent(s, dir).withColumn("svc", svcOf)
      val parents = sp.select(col("trace_id"),
        col("span_id").as("parent_span_id"), col("svc").as("client"))
      val edges = sp.filter(col("parent_span_id").isNotNull)
        .join(parents, Seq("trace_id", "parent_span_id"))
        .groupBy(col("client"), col("svc").as("server"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint() // referenced 3× per round — tiny (services²)
      val nodes = edges.select(col("client").as("svc"))
        .union(edges.select(col("server"))).distinct().localCheckpoint()
      val nTot = nodes.agg(count(lit(1)).as("n"))
      val outw = edges.groupBy(col("client")).agg(sum(col("w")).as("outw"))
      val rank0 = nodes.crossJoin(broadcast(nTot))
        .select(col("svc"), expr("1000000 div n").as("r"))
      Iterate.rounds(rank0, 3, checkpointEvery = 0) { (rank, _) =>
        val contrib = edges.join(outw, "client")
          .join(rank.select(col("svc").as("client"), col("r")), "client")
          .select(col("server").as("svc"),
            expr("(CAST(r AS DECIMAL(38,0)) * w) div outw").as("c"))
        val inflow = contrib.groupBy(col("svc")).agg(sum(col("c")).as("inflow"))
        nodes.join(inflow, Seq("svc"), "left").crossJoin(broadcast(nTot))
          .select(col("svc"),
            expr("150000 div n + (85 * coalesce(inflow, 0)) div 100").as("r"))
      }.select(col("svc").as("service"), col("r").as("rank_ppm"))
    }),

    "q209_service_graph" -> ((s, dir) => {
      val svcOf = expr(
        """CASE span_name WHEN 'view' THEN 'frontend' WHEN 'click' THEN 'api'
          |  WHEN 'purchase' THEN 'checkout' WHEN 'signup' THEN 'auth'
          |  ELSE 'backend' END""".stripMargin)
      val sp = tracesWithParent(s, dir).withColumn("svc", svcOf)
      val parents = sp.select(col("trace_id"),
        col("span_id").as("parent_span_id"), col("svc").as("client"))
      sp.filter(col("parent_span_id").isNotNull)
        .join(parents, Seq("trace_id", "parent_span_id"))
        .groupBy(col("client"), col("svc").as("server"))
        .agg(count(lit(1)).as("n_calls"),
          sum(when(col("status_code") === "ERROR", 1L).otherwise(0L)).as("n_errors"),
          percentile(col("duration_nanos").cast("double"), lit(0.5)).as("p50_dur"))
    })
  )

  /** spans + a deterministic HEAP-shaped hierarchy: ordering a trace's
    * spans by (timestamp, span_id), span #i's parent is span #(i-1)/2 —
    * a branching tree (so siblings exist), derived with ONE per-trace
    * window (the parent id is read out of the partition's ordered
    * span-id array — no self join, so the four structural queries pay a
    * single shuffle for parentage; traces are small, the duplicated
    * array is bounded by trace size). Mirrored exactly in the oracle.
    * The reference schema carries a real parent_span_id
    * (iceberg/schemas.rs via Schemas.scala:30); the driver events have
    * no span nesting, so the heap shape stands in for it. */
  private[graft] def tracesWithParent(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("trace_id"))
      .orderBy(col("timestamp").asc, col("span_id").asc)
    tracesDf(s, dir)
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("_ids", collect_list(col("span_id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("parent_span_id",
        when(col("rn") > 0, expr("_ids[(rn - 1) div 2]")))
      .drop("_ids")
  }

  /** deterministic existing trace: user 0 on 2024-01-01 (day 19723) — the
    * md5 hex id matches the stored table's gen-2 id derivation. */
  private[operators] val pointLookupId: String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest("tr-0-19723".getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  val oracles: Map[String, String] = Map(
    "q327_tail_sampling" ->
      s"""WITH spans AS (${graft.SignalViews.tracesGen2ViewSql}),
         |traces AS (
         |  SELECT trace_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    MAX(CASE WHEN status_code = 'ERROR' THEN 1 ELSE 0 END)
         |      AS has_error,
         |    MAX(timestamp + duration_nanos) - MIN(timestamp) AS wall_ns
         |  FROM spans GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM traces),
         |thr AS (
         |  SELECT wall_ns AS p95_ns FROM (
         |    SELECT wall_ns, row_number() OVER (
         |      ORDER BY wall_ns ASC, trace_id ASC) AS rn FROM traces), nn
         |  WHERE rn = (n * 95 + 99) // 100),
         |dec AS (
         |  SELECT t.*,
         |    CASE WHEN has_error = 1 THEN 'error'
         |      WHEN wall_ns >= thr.p95_ns THEN 'slow'
         |      WHEN CAST(('0x' || substr(md5('ts:' || trace_id), 1, 15))
         |        AS BIGINT) % 100 < 10 THEN 'probabilistic'
         |      ELSE 'drop' END AS reason
         |  FROM traces t, thr)
         |SELECT reason, CAST(count(*) AS BIGINT) AS n_traces,
         |  CAST(SUM(n_spans) AS BIGINT) AS n_spans,
         |  MAX(wall_ns) AS max_wall_ns,
         |  CAST(CASE WHEN reason <> 'drop' THEN 1 ELSE 0 END AS INT) AS kept
         |FROM dec GROUP BY 1""".stripMargin,

    "q257_latency_shift" ->
      s"""WITH spans AS ($tracesViewSql),
         |rolled AS (
         |  SELECT span_name,
         |    CASE WHEN timestamp < ${(1704067200L + 15L * 86400L) * 1000000000L}
         |      THEN 'a' ELSE 'b' END AS win,
         |    duration_nanos // 1000000 AS ms,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM spans GROUP BY 1, 2, 3),
         |c AS (
         |  SELECT span_name, win, ms, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY span_name, win ORDER BY ms ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY span_name, win) AS BIGINT) AS total
         |  FROM rolled),
         |q AS (
         |  SELECT span_name, win, p_ppm, CAST(min(ms) AS BIGINT) AS qms
         |  FROM c, unnest([CAST(500000 AS BIGINT), CAST(950000 AS BIGINT)]) AS t(p_ppm)
         |  WHERE cum >= (total * p_ppm + 999999) // 1000000
         |  GROUP BY 1, 2, 3)
         |SELECT span_name, p_ppm,
         |  MAX(CASE WHEN win = 'a' THEN qms END) AS p_a_ms,
         |  MAX(CASE WHEN win = 'b' THEN qms END) AS p_b_ms,
         |  MAX(CASE WHEN win = 'b' THEN qms END)
         |    - MAX(CASE WHEN win = 'a' THEN qms END) AS shift_ms
         |FROM q GROUP BY 1, 2""".stripMargin,

    "q59_trace_two_phase" ->
      s"""WITH spans AS ($tracesViewSql),
         |matching AS (
         |  SELECT trace_id FROM (
         |    SELECT trace_id, MAX(timestamp) AS maxts
         |    FROM spans
         |    WHERE span_name = 'error' AND duration_nanos >= 100000000
         |    GROUP BY 1)
         |  ORDER BY maxts DESC, trace_id ASC LIMIT 20)
         |SELECT s.trace_id, s.span_id, s.timestamp, s.span_name, s.duration_nanos
         |FROM spans s WHERE EXISTS (
         |  SELECT 1 FROM matching m WHERE m.trace_id = s.trace_id)""".stripMargin,

    "q60_traceql_search" ->
      s"""WITH spans AS ($tracesViewSql),
         |f AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) AS rn
         |  FROM spans
         |  WHERE service_name = 'svc-2' AND attr_k <> '7'
         |    AND duration_nanos > 50000000)
         |SELECT trace_id, span_id, span_name, duration_nanos FROM f WHERE rn <= 3""".stripMargin,

    "q61_tempo_tags" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT trace_id, span_id, timestamp, status_code FROM spans
         |WHERE service_name = 'svc-3' AND span_name = 'purchase'""".stripMargin,

    "q272_traceql_numeric_enum" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT trace_id, span_id, span_name, duration_nanos FROM spans
         |WHERE upper(status_code) = 'ERROR'
         |  AND TRY_CAST(attr_k AS DOUBLE) >= 50
         |  AND regexp_matches(span_name, '^(?:err.*)$$')""".stripMargin,

    "q274_apdex" ->
      s"""WITH spans AS ($tracesViewSql),
         |g AS (
         |  SELECT service_name,
         |    (timestamp//1000000000//86400)*86400 AS bucket_start,
         |    CAST(SUM(CASE WHEN duration_nanos <= 50000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS satisfied,
         |    CAST(SUM(CASE WHEN duration_nanos > 50000000
         |      AND duration_nanos <= 200000000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tolerating,
         |    CAST(COUNT(*) AS BIGINT) AS total
         |  FROM spans GROUP BY 1, 2)
         |SELECT *, CAST(CAST(2 * satisfied + tolerating AS HUGEINT) * 1000000
         |  // (2 * total) AS BIGINT) AS apdex_ppm
         |FROM g""".stripMargin,

    "q275_latency_heatmap" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT (timestamp//1000000000//86400)*86400 AS bucket_start,
         |  service_name,
         |  CASE WHEN duration_nanos < 1000000 THEN '<1ms'
         |       WHEN duration_nanos < 10000000 THEN '1-10ms'
         |       WHEN duration_nanos < 100000000 THEN '10-100ms'
         |       WHEN duration_nanos < 1000000000 THEN '100ms-1s'
         |       ELSE '>=1s' END AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM spans GROUP BY 1, 2, 3""".stripMargin,

    "q276_spanmetrics" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT service_name, span_name,
         |  (timestamp//1000000000//86400)*86400 AS bucket_start,
         |  CAST(COUNT(*) AS BIGINT) AS calls,
         |  CAST(SUM(CASE WHEN status_code = 'ERROR' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS errors,
         |  CAST(SUM(duration_nanos) AS BIGINT) AS duration_sum_nanos
         |FROM spans GROUP BY 1, 2, 3""".stripMargin,

    "q91_trace_point_lookup" ->
      s"""WITH spans AS (${graft.SignalViews.tracesGen2ViewSql})
         |SELECT trace_id, span_id, timestamp, span_name, duration_nanos
         |FROM spans WHERE trace_id = '$pointLookupId'""".stripMargin,

    "q151_traceql_metrics_rate" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT (timestamp//1000000000//86400)*86400 AS bucket_start,
         |  service_name AS resource_service_name,
         |  CAST(COUNT(*) AS DOUBLE) / 86400.0 AS value
         |FROM spans WHERE span_name = 'purchase' GROUP BY 1, 2""".stripMargin,

    "q152_traceql_metrics_quantile" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT (timestamp//1000000000//604800)*604800 AS bucket_start,
         |  quantile_cont(CAST(duration_nanos AS DOUBLE), 0.9) AS value
         |FROM spans WHERE status_code = 'OK' GROUP BY 1""".stripMargin,

    "q153_tempo_tag_values" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT DISTINCT span_name FROM spans
         |WHERE timestamp >= 1704412800000000000 AND timestamp < 1705017600000000000""".stripMargin,

    "q145_traceql_child" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2)
         |SELECT c.trace_id, c.span_id, c.span_name, c.duration_nanos
         |FROM wp c
         |WHERE c.span_name = 'purchase' AND EXISTS (
         |  SELECT 1 FROM wp p WHERE p.trace_id = c.trace_id
         |    AND p.span_id = c.parent_span_id AND p.span_name = 'view')""".stripMargin,

    "q146_traceql_sibling" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2)
         |SELECT b.trace_id, b.span_id, b.span_name, b.duration_nanos
         |FROM wp b
         |WHERE b.span_name = 'purchase' AND EXISTS (
         |  SELECT 1 FROM wp a WHERE a.trace_id = b.trace_id
         |    AND a.parent_span_id = b.parent_span_id
         |    AND a.span_id <> b.span_id AND a.span_name = 'error')""".stripMargin,

    "q286_traceql_spanset_and" ->
      s"""WITH spans AS ($tracesViewSql),
         |a AS (SELECT * FROM spans WHERE span_name = 'error'),
         |b AS (SELECT * FROM spans WHERE span_name = 'purchase'),
         |t AS (SELECT trace_id FROM (SELECT DISTINCT trace_id FROM a)
         |      INTERSECT SELECT trace_id FROM (SELECT DISTINCT trace_id FROM b)),
         |u AS (SELECT * FROM a UNION SELECT * FROM b)
         |SELECT u.trace_id, u.span_id, u.span_name, u.duration_nanos
         |FROM u JOIN t USING (trace_id)""".stripMargin,

    "q287_traceql_spanset_or" ->
      s"""WITH spans AS ($tracesViewSql),
         |a AS (SELECT * FROM spans WHERE span_name = 'error'),
         |b AS (SELECT * FROM spans WHERE duration_nanos > 150000000),
         |u AS (SELECT * FROM a UNION SELECT * FROM b)
         |SELECT trace_id, span_id, span_name, duration_nanos FROM u""".stripMargin,

    "q175_traceql_disjunction" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT trace_id, span_id, span_name, duration_nanos
         |FROM spans
         |WHERE span_name = 'error'
         |   OR (span_name = 'purchase' AND duration_nanos > 150000000)""".stripMargin,

    // ancestry closure via recursive CTE: up(b_id, cur) walks B-candidate
    // parent chains; a row matches when some chain node is an A-span
    "q162_traceql_descendant" ->
      s"""WITH RECURSIVE spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2),
         |up AS (
         |  SELECT span_id AS b_id, trace_id, parent_span_id AS cur
         |  FROM wp WHERE span_name = 'error' AND parent_span_id IS NOT NULL
         |  UNION ALL
         |  SELECT u.b_id, u.trace_id, w.parent_span_id AS cur
         |  FROM up u JOIN wp w
         |    ON w.trace_id = u.trace_id AND w.span_id = u.cur
         |  WHERE w.parent_span_id IS NOT NULL)
         |SELECT DISTINCT c.trace_id, c.span_id, c.span_name, c.duration_nanos
         |FROM wp c JOIN up u
         |  ON u.trace_id = c.trace_id AND u.b_id = c.span_id
         |JOIN wp a ON a.trace_id = u.trace_id AND a.span_id = u.cur
         |WHERE c.span_name = 'error' AND a.span_name = 'view'""".stripMargin,

    "q237_span_self_time" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2),
         |cs AS (
         |  SELECT trace_id, parent_span_id AS span_id,
         |    CAST(sum(duration_nanos) AS BIGINT) AS child_ns
         |  FROM wp WHERE parent_span_id IS NOT NULL GROUP BY 1, 2)
         |SELECT w.service_name, w.span_name,
         |  CAST(sum(w.duration_nanos - coalesce(cs.child_ns, 0)) AS BIGINT)
         |    AS total_self_ns,
         |  CAST(sum(w.duration_nanos) AS BIGINT) AS total_ns,
         |  CAST(count(*) AS BIGINT) AS n_spans
         |FROM wp w LEFT JOIN cs
         |  ON cs.trace_id = w.trace_id AND cs.span_id = w.span_id
         |GROUP BY 1, 2""".stripMargin,

    "q238_critical_path" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wc AS (SELECT *, count(*) OVER (PARTITION BY trace_id) AS cnt FROM sp),
         |leaves AS (
         |  SELECT trace_id, span_id AS leaf_span_id, rn AS lrn
         |  FROM wc WHERE rn * 2 + 1 >= cnt),
         |anc AS (
         |  SELECT trace_id, leaf_span_id,
         |    unnest([((lrn + 1) >> k) - 1 FOR k IN range(0, 41)
         |            IF ((lrn + 1) >> k) >= 1]) AS anc_rn
         |  FROM leaves),
         |path AS (
         |  SELECT a.trace_id, a.leaf_span_id,
         |    CAST(sum(w.duration_nanos) AS BIGINT) AS path_ns,
         |    CAST(count(*) AS BIGINT) AS path_len
         |  FROM anc a JOIN wc w ON w.trace_id = a.trace_id AND w.rn = a.anc_rn
         |  GROUP BY 1, 2)
         |SELECT trace_id, leaf_span_id, path_ns, path_len FROM path
         |QUALIFY row_number() OVER (PARTITION BY trace_id
         |  ORDER BY path_ns DESC, leaf_span_id ASC) = 1""".stripMargin,

    "q243_span_waterfall" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2)
         |SELECT trace_id, span_id, parent_span_id,
         |  CAST(timestamp - min(timestamp) OVER (PARTITION BY trace_id) AS BIGINT)
         |    AS offset_ns,
         |  CAST(len([k FOR k IN range(0, 41) IF ((rn + 1) >> k) >= 1]) - 1 AS INT)
         |    AS depth,
         |  duration_nanos
         |FROM wp""".stripMargin,

    "q244_apdex" ->
      s"""WITH spans AS ($tracesViewSql)
         |SELECT service_name,
         |  CAST(sum(CASE WHEN duration_nanos <= 100000000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS satisfied,
         |  CAST(sum(CASE WHEN duration_nanos > 100000000
         |    AND duration_nanos <= 400000000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tolerating,
         |  CAST(count(*) AS BIGINT) AS total,
         |  (1000000 * (2 * CAST(sum(CASE WHEN duration_nanos <= 100000000
         |       THEN 1 ELSE 0 END) AS BIGINT)
         |     + CAST(sum(CASE WHEN duration_nanos > 100000000
         |       AND duration_nanos <= 400000000 THEN 1 ELSE 0 END) AS BIGINT)))
         |  // (2 * CAST(count(*) AS BIGINT)) AS apdex_ppm
         |FROM spans GROUP BY 1""".stripMargin,

    "q246_tail_sampling" ->
      s"""WITH spans AS ($tracesViewSql),
         |t AS (
         |  SELECT trace_id,
         |    max(CASE WHEN status_code = 'ERROR' THEN 1 ELSE 0 END) AS has_error,
         |    max(duration_nanos) AS max_span_ns,
         |    CAST(count(*) AS BIGINT) AS n_spans
         |  FROM spans GROUP BY 1),
         |v AS (
         |  SELECT CASE WHEN has_error = 1 THEN 'error'
         |              WHEN max_span_ns > 95000000 THEN 'slow'
         |              WHEN substr(md5(concat('tail|', trace_id)), 32, 1) = '0'
         |                THEN 'sampled'
         |              ELSE 'drop' END AS decision, n_spans
         |  FROM t)
         |SELECT decision, CAST(count(*) AS BIGINT) AS n_traces,
         |  CAST(sum(n_spans) AS BIGINT) AS kept_spans
         |FROM v GROUP BY 1""".stripMargin,

    "q222_traceql_not_child" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2)
         |SELECT c.trace_id, c.span_id, c.span_name, c.duration_nanos
         |FROM wp c
         |WHERE c.span_name = 'error' AND NOT EXISTS (
         |  SELECT 1 FROM wp a
         |  WHERE a.trace_id = c.trace_id AND a.span_id = c.parent_span_id
         |    AND a.span_name = 'view')""".stripMargin,

    "q223_traceql_not_descendant" ->
      s"""WITH RECURSIVE spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2),
         |up AS (
         |  SELECT span_id AS b_id, trace_id, parent_span_id AS cur
         |  FROM wp WHERE span_name = 'error' AND parent_span_id IS NOT NULL
         |  UNION ALL
         |  SELECT u.b_id, u.trace_id, w.parent_span_id AS cur
         |  FROM up u JOIN wp w
         |    ON w.trace_id = u.trace_id AND w.span_id = u.cur
         |  WHERE w.parent_span_id IS NOT NULL),
         |hit AS (
         |  SELECT DISTINCT u.trace_id, u.b_id
         |  FROM up u JOIN wp a
         |    ON a.trace_id = u.trace_id AND a.span_id = u.cur
         |  WHERE a.span_name = 'view')
         |SELECT c.trace_id, c.span_id, c.span_name, c.duration_nanos
         |FROM wp c
         |WHERE c.span_name = 'error' AND NOT EXISTS (
         |  SELECT 1 FROM hit h
         |  WHERE h.trace_id = c.trace_id AND h.b_id = c.span_id)""".stripMargin,

    "q163_traceql_ancestor" ->
      s"""WITH RECURSIVE spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn
         |  FROM spans),
         |wp AS (
         |  SELECT s.*, p.span_id AS parent_span_id
         |  FROM sp s LEFT JOIN sp p
         |    ON p.trace_id = s.trace_id AND s.rn > 0 AND p.rn = (s.rn - 1) // 2),
         |up AS (
         |  SELECT span_id AS a_id, trace_id, parent_span_id AS cur
         |  FROM wp WHERE span_name = 'purchase' AND parent_span_id IS NOT NULL
         |  UNION ALL
         |  SELECT u.a_id, u.trace_id, w.parent_span_id AS cur
         |  FROM up u JOIN wp w
         |    ON w.trace_id = u.trace_id AND w.span_id = u.cur
         |  WHERE w.parent_span_id IS NOT NULL)
         |SELECT DISTINCT b.trace_id, b.span_id, b.span_name, b.duration_nanos
         |FROM wp b JOIN up u
         |  ON u.trace_id = b.trace_id AND u.cur = b.span_id
         |WHERE b.span_name = 'view'""".stripMargin,

    "q180_traceql_agg_count" ->
      s"""WITH spans AS ($tracesViewSql),
         |f AS (SELECT * FROM spans WHERE service_name = 'svc-1'),
         |g AS (SELECT *, count(*) OVER (PARTITION BY trace_id) AS _c FROM f)
         |SELECT trace_id, span_id, span_name, duration_nanos
         |FROM g WHERE _c >= 3""".stripMargin,

    "q181_traceql_agg_avg" ->
      s"""WITH spans AS ($tracesViewSql),
         |f AS (SELECT * FROM spans WHERE span_name = 'purchase'),
         |g AS (SELECT *,
         |  sum(duration_nanos) OVER (PARTITION BY trace_id) AS _s,
         |  count(*) OVER (PARTITION BY trace_id) AS _c FROM f)
         |SELECT trace_id, span_id, span_name, duration_nanos
         |FROM g WHERE _s > 120000000 * _c""".stripMargin,

    "q279_service_pagerank" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn,
         |    CASE span_name WHEN 'view' THEN 'frontend' WHEN 'click' THEN 'api'
         |      WHEN 'purchase' THEN 'checkout' WHEN 'signup' THEN 'auth'
         |      ELSE 'backend' END AS svc
         |  FROM spans),
         |e AS (
         |  SELECT p.svc AS client, c.svc AS server, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM sp c JOIN sp p
         |    ON p.trace_id = c.trace_id AND c.rn > 0 AND p.rn = (c.rn - 1) // 2
         |  GROUP BY 1, 2),
         |nodes AS (SELECT client AS svc FROM e UNION SELECT server FROM e),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         |ow AS (SELECT client, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY 1),
         |r0 AS (SELECT svc, 1000000 // n AS r FROM nodes, nn),
         |c1 AS (SELECT e.server AS svc,
         |    CAST(SUM((CAST(r0.r AS HUGEINT) * e.w) // o.outw) AS BIGINT) AS inflow
         |  FROM e JOIN ow o ON o.client = e.client
         |  JOIN r0 ON r0.svc = e.client GROUP BY 1),
         |r1 AS (SELECT nodes.svc, 150000 // nn.n
         |    + (85 * COALESCE(c1.inflow, 0)) // 100 AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.svc = nodes.svc),
         |c2 AS (SELECT e.server AS svc,
         |    CAST(SUM((CAST(r1.r AS HUGEINT) * e.w) // o.outw) AS BIGINT) AS inflow
         |  FROM e JOIN ow o ON o.client = e.client
         |  JOIN r1 ON r1.svc = e.client GROUP BY 1),
         |r2 AS (SELECT nodes.svc, 150000 // nn.n
         |    + (85 * COALESCE(c2.inflow, 0)) // 100 AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.svc = nodes.svc),
         |c3 AS (SELECT e.server AS svc,
         |    CAST(SUM((CAST(r2.r AS HUGEINT) * e.w) // o.outw) AS BIGINT) AS inflow
         |  FROM e JOIN ow o ON o.client = e.client
         |  JOIN r2 ON r2.svc = e.client GROUP BY 1),
         |r3 AS (SELECT nodes.svc, 150000 // nn.n
         |    + (85 * COALESCE(c3.inflow, 0)) // 100 AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.svc = nodes.svc)
         |SELECT svc AS service, CAST(r AS BIGINT) AS rank_ppm FROM r3""".stripMargin,

    "q209_service_graph" ->
      s"""WITH spans AS ($tracesViewSql),
         |sp AS (
         |  SELECT *, row_number() OVER (PARTITION BY trace_id
         |    ORDER BY timestamp ASC, span_id ASC) - 1 AS rn,
         |    CASE span_name WHEN 'view' THEN 'frontend' WHEN 'click' THEN 'api'
         |      WHEN 'purchase' THEN 'checkout' WHEN 'signup' THEN 'auth'
         |      ELSE 'backend' END AS svc
         |  FROM spans),
         |e AS (
         |  SELECT p.svc AS client, c.svc AS server, c.status_code,
         |    c.duration_nanos
         |  FROM sp c JOIN sp p
         |    ON p.trace_id = c.trace_id AND c.rn > 0 AND p.rn = (c.rn - 1) // 2)
         |SELECT client, server, count(*) AS n_calls,
         |  CAST(sum(CASE WHEN status_code = 'ERROR' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_errors,
         |  quantile_cont(CAST(duration_nanos AS DOUBLE), 0.5) AS p50_dur
         |FROM e GROUP BY 1, 2""".stripMargin
  )
}
