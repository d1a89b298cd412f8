package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.SignalViews
import graft.promql.{Eval, Parser}
import graft.promql.Eval.TimeRange

/** PromQL end-to-end entries: real parse → Eval lowering over the metrics
  * view of the driver events table (SURVEY §2.3/§2.4/§2.7/§2.8).
  *
  * Oracle determinism rule: no cross-series SUM/AVG over non-integer
  * doubles (aggregation order is engine-dependent at 1 ulp); min/max/count,
  * per-series first/last arithmetic, joins, and window ranks are exact.
  */
object PromQLOps {
  type Q = (SparkSession, String) => DataFrame

  /** Jan 2024 (events span Jan 1–30); end Feb 1 so one empty trailing
    * bucket exercises absent(). */
  private val T0 = 1704067200L
  private val T1 = 1706745600L

  private def q(query: String, stepSec: Long): Q = (s, dir) => {
    val t = SignalViews.metricsTable(s, dir)
    Eval.evalVector(Parser.parse(query), t, TimeRange(T0, T1, stepSec)).df
  }

  /** Prometheus staleness/lookback semantics (TimeRange.lookbackSec). */
  private def qlb(query: String, stepSec: Long, lookbackSec: Long): Q = (s, dir) => {
    val t = SignalViews.metricsTable(s, dir)
    Eval.evalVector(Parser.parse(query), t,
      TimeRange(T0, T1, stepSec, lookbackSec)).df
  }

  private def qh(query: String, stepSec: Long): Q = (s, dir) => {
    val t = SignalViews.histTable(s, dir)
    Eval.evalVector(Parser.parse(query), t, TimeRange(T0, T1, stepSec)).df
  }

  /** over the STORED gauge+sum union, with the query window mirrored onto
    * the date_day partition column so day directories prune at the scan. */
  private def qu(query: String, stepSec: Long): Q = (s, dir) => {
    val lo = java.time.LocalDate.ofEpochDay(T0 / 86400).toString
    val hi = java.time.LocalDate.ofEpochDay((T1 - 1) / 86400).toString
    val t = graft.SignalTables.storedMetricsTable(s, dir, Some((lo, hi)))
    Eval.evalVector(Parser.parse(query), t, TimeRange(T0, T1, stepSec)).df
  }

  /** over metricsTable + the registered native-histogram side table
    * (`native_latency`): the full Prometheus native-hist function path. */
  private def qn(query: String, stepSec: Long): Q = (s, dir) => {
    val t = SignalViews.metricsTableWithNative(s, dir)
    Eval.evalVector(Parser.parse(query), t, TimeRange(T0, T1, stepSec)).df
  }

  private val V = SignalViews.metricsViewSql
  private val HV = SignalViews.histViewSql

  /** native-histogram oracle twin of `SignalViews.nativeHistDf`: the
    * closed monotone formula restated over events — day bucket, sid,
    * sample minute m. */
  private val NH =
    """SELECT (epoch_ns(ts)//1000000000//86400)*86400 AS bucket_start,
      |  concat('svc-', user_id % 8) AS service_name,
      |  user_id % 8 AS sid,
      |  (epoch_ns(ts)//1000000000 - 1704067200)//60 AS m
      |FROM events""".stripMargin

  /** cumulative positive-bucket mass c_i = dm·Σ_{j≤i}(1+(sid+j)%4). */
  private def nhCum(i: Int): String =
    s"dm * (${i + 1} + ${(0 to i).map(j => s"((sid + $j) % 4)").mkString(" + ")})"

  /** dyadic bucket upper bounds 2^((i+1)/4) — the SAME Java-computed
    * literal the plan inlines, so no cross-engine pow() ulp drift. */
  private def nhUb(i: Int): Double = math.pow(2.0, (i + 1) / 4.0)
  private def bkt(step: Long) = s"(timestamp//1000000000//$step)*$step"
  private def win =
    s"timestamp >= ${T0 * 1000000000L} AND timestamp < ${T1 * 1000000000L}"

  val queries: Map[String, Q] = Map(
    // Recording rules: a rule evaluation whose OUTPUT is re-registered as
    // a metrics table and queried back through the same evaluator — the
    // Prometheus recording-rule pipeline (rule_files → new series →
    // dashboards query the recorded name). Rule `purchase_count5m` =
    // count_over_time(purchase[5m]) at a 5-min step; the consumer query
    // max_over_time(purchase_count5m[1h]) then runs over the RECORDED
    // series, whose timestamps are the rule's bucket starts. Everything
    // stays one lazy plan — the recorded vector is never collected, so
    // at scale the rule eval fuses with the consumer's re-bucketing
    // (integer counts → exact cross-engine compare).
    "q252_recording_rule" -> ((s, dir) => {
      val t = SignalViews.metricsTable(s, dir)
      val rule = Eval.evalVector(
        Parser.parse("""count_over_time(purchase[5m])"""),
        t, TimeRange(T0, T1, 300))
      val recorded = Eval.MetricsTable(
        rule.df.select(
          (col("bucket_start") * 1000000000L).as("timestamp"),
          lit("purchase_count5m").as("metric_name"),
          col("service_name"), col("value")),
        seriesLabels = Seq("service_name"))
      Eval.evalVector(
        Parser.parse("""max_over_time(purchase_count5m[1h])"""),
        recorded, TimeRange(T0, T1, 3600)).df
    }),

    // bare selector = last sample per (bucket, series) (reference `Last`)
    "q41_promql_instant" -> q("""purchase{service_name="svc-1"}""", 86400),

    // Prometheus staleness semantics (--query.lookback-delta, extension
    // beyond the reference's strict date_bin buckets): sparse series
    // carry their last sample forward up to 4h across empty hourly
    // buckets — reduce → bounded fan-out → re-reduce, never a per-step
    // scan
    "q212_promql_lookback" ->
      qlb("""purchase{service_name="svc-3"}""", 3600, 14400),

    // lookback under an outer aggregate: count of series present at each
    // 10-min grid point with 30-min staleness (integer-exact cross-series
    // agg)
    "q213_promql_lookback_count" ->
      qlb("""count(error)""", 600, 1800),

    // rate = (last-first)/range per (bucket, series)
    "q42_promql_rate" -> q("""rate(click[1d])""", 86400),

    // SUB-SECOND range selector (ms dashboards): a compound 6h500ms range
    // shorter than the day step evaluates the Prometheus trailing window
    // (t−range, t] — the trailing 6h0.5s of each day bucket, ns-exact.
    // Pure filter on the bucketed scan; the plan shape is unchanged.
    "q284_promql_subsecond_range" ->
      q("""count_over_time(click[6h500ms])""", 86400),

    // SUB-SECOND subquery resolution: inner instant on a 500ms µs-domain
    // grid (one hash aggregate), outer count re-keys µs → the day grid.
    "q285_promql_subsecond_subquery" ->
      q("""count_over_time(click[1d:500ms])""", 86400),

    // `@` ON A SUBQUERY: the subquery evaluates ONCE — the trailing 1d
    // window at the pinned bucket (Jan 30, the data's last day), inner
    // at 6h resolution — and the single per-series result replicates
    // across the grid via a broadcast spine (same shape as pinned
    // selectors).
    "q291_promql_subquery_at" ->
      q("""max_over_time(click[1d:6h] @ 1706572800)""", 86400),

    // NATIVE-histogram functions (beyond the reference, which has none):
    // histogram_count over rate = the observation-rate scalar extracted
    // from the per-(bucket, series) counter delta of cumulative native
    // samples — ONE hash aggregate (max_by − min_by per field), no
    // window, no explode.
    "q293_native_hist_count_rate" ->
      qn("""histogram_count(rate(native_latency[1d]))""", 86400),

    // SUB-STEP range on a native selector: rate(native[6h]) at a 1d step
    // deltas over the TRAILING 6h of each day bucket (the same
    // rangeWindowed filter as the classic path) and divides by the range
    // seconds — not the silently-inflated whole-day delta / 6h.
    "q311_native_hist_substep_rate" ->
      qn("""histogram_count(rate(native_latency[6h]))""", 86400),

    // histogram_avg over the instant native vector: sum/count of the
    // LAST cumulative sample per (bucket, series); sum is exact
    // micro-units divided once — bit-stable cross-engine.
    "q294_native_hist_avg" ->
      qn("""histogram_avg(native_latency)""", 86400),

    // histogram_quantile over increase of a native histogram: the
    // zero-bucket + 8-positive-bucket cumulative walk, target bucket's
    // dyadic upper bound inlined at plan time (no pow() drift) — scale-
    // invariant, so rate and increase share the integer-delta walk.
    "q295_native_hist_quantile" ->
      qn("""histogram_quantile(0.9, increase(native_latency[1d]))""", 86400),

    // histogram_fraction with EDGE-ALIGNED bounds (0 → the 2.0 dyadic
    // edge): pure ratio of exact integer masses incl. the zero bucket —
    // no in-bucket interpolation, no float drift.
    "q297_native_hist_fraction" ->
      qn("""histogram_fraction(0, 2, rate(native_latency[1d]))""", 86400),

    // Prometheus v3 experimental info(): resource labels from the
    // registered target_info table grafted onto each sample via a
    // broadcast left join on the shared identifying label — the LAST
    // pinned-unsupported PromQL construct, now lowered.
    "q306_promql_info" -> q("""info(error{service_name!="svc-7"})""", 86400),

    // cross-series max of increase (order-independent outer agg)
    "q43_promql_max_increase" -> q("""max(increase(purchase[1d]))""", 86400),

    // vector binary op = inner equi join on (bucket, shared labels)
    "q44_promql_ratio" -> q("""error / view""", 86400),

    // series set algebra: and = semi join
    "q45_promql_and" -> q("""error and purchase""", 86400),

    // unless = anti join, or = union with left priority
    "q46_promql_unless_or" -> q("""(error unless purchase) or click""", 86400),

    // topk over an aggregated vector, per bucket
    "q47_promql_topk" -> q("""topk(2, max by (service_name) (increase(click[1w])))""", 604800),

    // scalar math chain + bool comparison
    "q48_promql_math_bool" -> q("""clamp(abs(view - 100), 10, 80) > bool 50""", 86400),

    // absent: data-independent spine anti-joined with data
    "q49_promql_absent" -> q("""absent(purchase{service_name="svc-1"})""", 86400),

    // label_replace with capture group
    "q50_promql_label_replace" ->
      q("""label_replace(purchase{service_name=~"svc-[0-2]"}, "env", "e$1", "service_name", "svc-(.*)")""", 86400),

    // histogram_quantile over cumulative le series
    "q51_promql_hist_quantile" ->
      qh("""histogram_quantile(0.9, sum by (service_name, le) (sum_over_time(sample_bucket[1w])))""", 604800),

    // irate: last two samples per (bucket, series)
    "q52_promql_irate" -> q("""irate(view[1d])""", 86400),

    // calendar function over the generated time spine
    "q53_promql_day_of_week" -> q("""day_of_week(time())""", 86400),

    // count_values over scalar-bucketed values
    "q54_promql_count_values" -> q("""count_values("vb", floor(purchase / 50) * 50)""", 86400),

    // offset modifier: yesterday's instant values on today's grid,
    // joined as a day-over-day ratio
    "q70_promql_offset" -> q("""purchase / purchase offset 1d""", 86400),

    // subquery: re-reduce 6h-resolution rates per 1d step
    "q71_promql_subquery" -> q("""max_over_time(rate(click[6h])[1d:6h])""", 86400),

    // exact interpolated quantile over subquery resolution points
    "q98_promql_subquery_quantile" ->
      q("""quantile_over_time(0.5, rate(click[6h])[1d:6h])""", 86400),

    // on() vector matching over a rewritten label
    "q74_promql_on_matching" -> q(
      """label_replace(error, "env", "e$1", "service_name", "svc-(.*)") / on(env) label_replace(purchase, "env", "e$1", "service_name", "svc-(.*)")""",
      86400),

    // @ pinning: one fixed bucket (Jan 4), replicated across the grid by a
    // broadcast of the bucket spine (reference promql.rs:257-269)
    "q85_promql_at" -> q(
      """max_over_time(purchase{service_name=~"svc-[0-4]"}[1d] @ 1704326400)""", 86400),

    // @ start() joined against the un-pinned series: growth vs day 1
    "q86_promql_at_start" -> q(
      """purchase / on(service_name) (purchase @ start())""", 86400),

    // sort_desc: value ordering (check normalizes row order; this pins the
    // value/row set through the sort operator)
    "q87_promql_sort_desc" -> q("""sort_desc(view)""", 86400),

    // stored gauge+sum union scan: purchase lives in metrics_sum, view in
    // metrics_gauge; one query reads both tables (reference metrics.rs:42-52)
    "q88_promql_union_scan" -> qu("""purchase / on(service_name) view""", 86400),

    // group_right: one max-per-group row joined against the many per-service
    // rows (svc-0..3 get their own group via label_replace; the rest share "")
    "q95_promql_group_right" -> q(
      """max by (grp) (label_replace(purchase, "grp", "g$1", "service_name", "svc-([0-3])"))
        |/ on(grp) group_right
        |label_replace(purchase, "grp", "g$1", "service_name", "svc-([0-3])")""".stripMargin,
      86400),

    // present_over_time: 1 for every (bucket, series) with ≥1 sample —
    // the reference folds it into the Group reducer (promql.rs:1296-1298)
    "q116_promql_present" ->
      q("""present_over_time(error{service_name=~"svc-[0-5]"}[1d])""", 86400),

    // group aggregation: 1 per group regardless of member values
    "q117_promql_group" ->
      q("""group by (service_name) (click)""", 86400),

    // scalar(): a 1-series vector becomes a per-bucket scalar (NaN when
    // cardinality ≠ 1), then joins every click series on the bucket alone
    "q118_promql_scalar" ->
      q("""click * scalar(purchase{service_name="svc-1"})""", 86400),

    // vector(): a literal spread over the bucket spine, joined as a
    // label-less vector (reference promql.rs vector())
    "q119_promql_vector" ->
      q("""view + vector(100)""", 86400),

    // timestamp(v): latest sample's unix-seconds timestamp per series
    // (reference promql.rs:231-233 — value is the TIME, not the sample)
    "q141_promql_timestamp" ->
      q("""timestamp(purchase{service_name=~"svc-[0-3]"})""", 86400),

    // changes/resets: adjacent-sample comparison per (bucket, series)
    // (reference metrics.rs:1279-1391)
    "q125_promql_changes" -> q("""changes(click[1d])""", 86400),
    "q126_promql_resets" -> q("""resets(view[1d])""", 86400),

    // Exemplar query path (Prometheus /api/v1/query_exemplars shape): the
    // stored metric tables carry the reference's `exemplars` JSON column
    // (iceberg/schemas.rs — present on every metric schema, queried
    // nowhere); this parses it with from_json over the STORED sum table,
    // explodes the samples, and joins each exemplar's trace_id to the
    // trace table aggregate — the metrics→traces pivot a Grafana exemplar
    // panel performs. The join is keyed by trace_id (shuffle both sides
    // at scale; the span counts are pre-aggregated so the join input is
    // one row per trace, never the raw span set).
    "q193_exemplar_trace_link" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val exSchema = ArrayType(StructType(Seq(
        StructField("value", DoubleType),
        StructField("timestamp", LongType),
        StructField("trace_id", StringType))))
      val ex = s.read.parquet(graft.SignalTables.storedMetricsSumPath(s, dir))
        .filter(col("metric_name") === "purchase")
        .select(col("service_name"),
          explode(from_json(col("exemplars"), exSchema)).as("ex"))
        .select(col("service_name"), col("ex.trace_id").as("trace_id"),
          col("ex.value").as("ex_value"))
      val spans = SignalViews.tracesGen2Df(s, dir)
        .groupBy(col("trace_id")).agg(count(lit(1)).as("n_spans"))
      ex.join(spans, Seq("trace_id"))
        .groupBy(col("service_name"))
        .agg(count(lit(1)).as("n_exemplars"),
          countDistinct(col("trace_id")).as("n_traces"),
          sum(col("n_spans")).as("sum_spans"),
          sum(col("ex_value").cast(DecimalType(30, 4))).cast(DoubleType).as("sum_value"))
    }),

    // downsampling rollup: day aggregates answered FROM the stored hourly
    // cells (sum-of-sums decimal-exact, min-of-mins, latest cell's last)
    // — the oracle computes the same from raw samples, proving the
    // rollup algebra is lossless for these reducers
    "q133_rollup_reaggregate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.SignalTables.storedRollup(s, dir)
        .withColumn("day_bucket", expr("(bucket_start div 86400) * 86400"))
        .groupBy(col("day_bucket"), col("metric_name"), col("service_name"))
        .agg(
          sum(col("n")).as("n"),
          sum(col("vsum")).cast("double").as("vsum"),
          min(col("vmin")).as("vmin"),
          max(col("vmax")).as("vmax"),
          max_by(col("vlast"), col("bucket_start")).as("vlast"))
    }),

    // deriv / predict_linear with EXACT least-squares closed forms
    // (reference metrics.rs:939-1046 uses regr_slope; float accumulation
    // order makes that engine- and partitioning-dependent at 1 ulp, which
    // is why plain deriv was engine-only until now). Quantizing y to
    // centi-units and taking x as ms offsets within the bucket keeps every
    // sum an exact integer; one integral division at the end yields a
    // fixed-point slope that is bit-identical across engines AND across
    // Spark partitionings. One hash aggregate, no window, no sort.
    "q135_promql_deriv" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      exactFit(s, dir, "click", 86400)
        .withColumn("fp", expr(
          "CASE WHEN num >= 0 THEN (num * 10000000) div den" +
            " ELSE -(((-num) * 10000000) div den) END"))
        .select(col("bucket_start"), col("service_name"),
          (col("fp").cast("double") / 1000000.0d).as("value"))
    }),

    // predict_linear(click[1d], 3600): value at bucket_end + 1h from the
    // same exact sums — P = Sy·Sxx − Sx·Sxy + num·X evaluated at
    // X = (step + t)·1000 ms, value = P / den / 100 (centi-unit descale)
    "q136_promql_predict_linear" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val xEval = (86400L + 3600L) * 1000L
      exactFit(s, dir, "click", 86400)
        .withColumn("p", expr(s"sy * sxx - sx * sxy + num * ${xEval}"))
        .withColumn("fp", expr(
          "CASE WHEN p >= 0 THEN (p * 10000) div den" +
            " ELSE -(((-p) * 10000) div den) END"))
        .select(col("bucket_start"), col("service_name"),
          (col("fp").cast("double") / 1000000.0d).as("value"))
    }),

    // mad_over_time: median absolute deviation per (bucket, series) —
    // window median, deviations re-aggregated on the same keys (no join)
    "q158_promql_mad" -> q("""mad_over_time(view[1d])""", 86400),

    // limit_ratio: deterministic hash-slice of the series set (md5 hex
    // compared as a base-16 fraction — the same string comparison the
    // DuckDB twin runs)
    "q159_promql_limit_ratio" -> q("""limit_ratio(0.25, view)""", 86400),

    // limitk: first k series per bucket in md5(series) order
    "q160_promql_limitk" -> q("""limitk(3, view)""", 86400),

    // sort_by_label: presentation sort by label values (hash-compare
    // oracle checks the SET; the order itself is pinned in EvalSpec)
    "q161_promql_sort_by_label" -> q("""sort_by_label(view, "service_name")""", 86400),

    // negative offset (look-AHEAD, Prometheus ≥2.26): bucket b reads the
    // window one day in its future — same shifted-bucket plan as positive
    // offsets, just the opposite sign
    "q172_promql_negative_offset" -> q("""max_over_time(purchase[1d] offset -1d)""", 86400),

    // ts_of_max_over_time (Prometheus 3.x experimental): the sample
    // timestamp of each window's max — one max_by hash aggregate
    "q176_promql_ts_of_max" -> q("""ts_of_max_over_time(view[1d])""", 86400),

    // corpus-surfaced grammar end-to-end: COMPOUND duration (1h30m),
    // DEFAULT subquery resolution ([1d:] = outer step), and offset
    // applied to a whole subquery (folded into the inner selector at
    // parse time — evaluating at T−d is shifting every selector by d).
    // Exact integer counts → hash-stable across engines.
    "q262_promql_subquery_offset" -> q(
      """max_over_time(count_over_time(click[22h7200s])[1d:] offset 1d)""", 86400),

    // recording-rule COLON metric name (job:click:count1d) queried back
    // through the evaluator, with a scientific-notation threshold and
    // `bool` comparison — the Grafana alert-expression shape. Rule output
    // is re-registered as a metrics table; everything stays one lazy plan.
    "q263_promql_recording_colon" -> ((s, dir) => {
      val t = SignalViews.metricsTable(s, dir)
      val rule = Eval.evalVector(
        Parser.parse("""count_over_time(click[1d])"""),
        t, TimeRange(T0, T1, 86400))
      val recorded = Eval.MetricsTable(
        rule.df.select(
          (col("bucket_start") * 1000000000L).as("timestamp"),
          lit("job:click:count1d").as("metric_name"),
          col("service_name"), col("value")),
        seriesLabels = Seq("service_name"))
      Eval.evalVector(
        Parser.parse("""job:click:count1d > bool 2.5e1"""),
        recorded, TimeRange(T0, T1, 86400)).df
    }),

    // rate over a SUBQUERY (docs' deriv(rate(x)[30s:5s]) nesting): inner
    // daily counts re-bucketed per 2-day outer step, first/last by inner
    // bucket, delta/step — one extra groupBy on an already-shuffled key
    "q264_promql_rate_subquery" -> q(
      """rate(count_over_time(click[1d])[2d:1d])""", 172800),

    // materialized-view REWRITE: an eligible range query answered from
    // the stored hourly rollup cells (max of maxes — algebraically
    // lossless), never touching raw samples; RollupRewriteSpec pins both
    // the route (the plan reads rollup cells) and the fallback (rate /
    // sub-cell steps / matchers return None). The oracle recomputes from
    // raw events, proving the rewrite changes nothing but the scan size.
    "q270_rollup_route" -> ((s, dir) => {
      val e = Parser.parse("""max_over_time(view[1d])""")
      graft.promql.RollupRewrite.route(s, dir, e, TimeRange(T0, T1, 86400))
        .getOrElse(throw new IllegalStateException(
          "max_over_time(view[1d]) must be rollup-eligible"))
    })
  )

  /** Exact per-(bucket, series) regression sums over a metric selector:
    * n, Σx, Σy, Σxy, Σx² as scale-0 decimals (x = ms offset in bucket,
    * ≤ 8.64e7; y = centi-quantized value, ≤ ~33k — every product fits a
    * long, every combined term fits decimal(38,0) / DuckDB hugeint). */
  private def exactFit(s: SparkSession, dir: String, metric: String, step: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val dec = "decimal(38,0)"
    SignalViews.metricsDf(s, dir)
      .filter(col("metric_name") === metric &&
        col("timestamp") >= lit(T0 * 1000000000L) && col("timestamp") < lit(T1 * 1000000000L))
      .withColumn("bucket_start", expr(s"(timestamp div 1000000000) div $step * $step"))
      .withColumn("x", expr("timestamp div 1000000 - bucket_start * 1000"))
      .withColumn("y", round(col("value") * 100).cast("long"))
      .groupBy(col("bucket_start"), col("service_name"))
      .agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .filter(col("den") > 0) // single-sample / zero-spread windows have no slope
  }

  private def lastPerBucket(metricFilter: String, step: Long): String =
    s"""SELECT * FROM (
       |  SELECT ${bkt(step)} AS bucket_start, service_name, CAST(value AS DOUBLE) AS value,
       |    row_number() OVER (PARTITION BY ${bkt(step)}, service_name
       |      ORDER BY timestamp DESC, event_id DESC) AS rn
       |  FROM m WHERE $metricFilter AND $win) WHERE rn = 1""".stripMargin

  private def firstLast(metricFilter: String, step: Long): String =
    s"""SELECT ${bkt(step)} AS bucket_start, service_name,
       |    MAX(CASE WHEN rnd = 1 THEN value END) AS lastv,
       |    MAX(CASE WHEN rna = 1 THEN value END) AS firstv
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ${bkt(step)}, service_name
       |        ORDER BY timestamp DESC, event_id DESC) AS rnd,
       |      row_number() OVER (PARTITION BY ${bkt(step)}, service_name
       |        ORDER BY timestamp ASC, event_id ASC) AS rna
       |    FROM m WHERE $metricFilter AND $win)
       |  GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q252_recording_rule" ->
      s"""WITH m AS ($V),
         |rule AS (
         |  SELECT ${bkt(300)} AS b5, service_name,
         |    CAST(count(*) AS DOUBLE) AS value
         |  FROM m WHERE metric_name = 'purchase' AND $win
         |  GROUP BY 1, 2)
         |SELECT (b5//3600)*3600 AS bucket_start, service_name,
         |  MAX(value) AS value
         |FROM rule GROUP BY 1, 2""".stripMargin,

    "q293_native_hist_count_rate" ->
      s"""WITH nh AS ($NH)
         |SELECT bucket_start, service_name,
         |  CAST((MAX(m) - MIN(m)) * (20 + sid % 2) AS DOUBLE) / 86400.0 AS value
         |FROM nh GROUP BY bucket_start, service_name, sid""".stripMargin,

    "q311_native_hist_substep_rate" ->
      s"""WITH nh AS (
         |  SELECT (epoch_ns(ts)//1000000000//86400)*86400 AS bucket_start,
         |    concat('svc-', user_id % 8) AS service_name,
         |    user_id % 8 AS sid,
         |    (epoch_ns(ts)//1000000000 - 1704067200)//60 AS m,
         |    epoch_ns(ts) AS tns
         |  FROM events),
         |f AS (SELECT * FROM nh
         |      WHERE tns >= (bucket_start + 86400) * 1000000000
         |        - 21600000000000)
         |SELECT bucket_start, service_name,
         |  CAST((MAX(m) - MIN(m)) * (20 + sid % 2) AS DOUBLE) / 21600.0
         |    AS value
         |FROM f GROUP BY bucket_start, service_name, sid""".stripMargin,

    "q294_native_hist_avg" ->
      s"""WITH nh AS ($NH),
         |l AS (SELECT bucket_start, service_name, sid, MAX(m) AS ml
         |      FROM nh GROUP BY 1, 2, 3)
         |SELECT bucket_start, service_name,
         |  CAST(ml * (1000000 + sid * 12345) AS DOUBLE) / 1000000.0
         |    / CAST(ml * (20 + sid % 2) AS DOUBLE) AS value
         |FROM l WHERE ml * (20 + sid % 2) > 0""".stripMargin,

    "q295_native_hist_quantile" ->
      s"""WITH nh AS ($NH),
         |d AS (SELECT bucket_start, service_name, sid, MAX(m) - MIN(m) AS dm
         |      FROM nh GROUP BY 1, 2, 3),
         |w AS (SELECT bucket_start, service_name,
         |        dm * (sid % 2) AS zc,
         |        ${(0 until 8).map(i => s"${nhCum(i)} AS c$i").mkString(", ")},
         |        dm * (sid % 2) + ${nhCum(7)} AS total
         |      FROM d)
         |SELECT bucket_start, service_name,
         |  CASE WHEN zc >= 0.9 * total THEN 0.0
         |    ${(0 until 7).map(i =>
              s"WHEN zc + c$i >= 0.9 * total THEN CAST(${nhUb(i)} AS DOUBLE)")
              .mkString(" ")}
         |    ELSE CAST(${nhUb(7)} AS DOUBLE) END AS value
         |FROM w WHERE total > 0""".stripMargin,

    "q297_native_hist_fraction" ->
      s"""WITH nh AS ($NH),
         |d AS (SELECT bucket_start, service_name, sid, MAX(m) - MIN(m) AS dm
         |      FROM nh GROUP BY 1, 2, 3),
         |w AS (SELECT bucket_start, service_name,
         |        dm * (sid % 2) + ${nhCum(3)} AS num,
         |        dm * (sid % 2) + ${nhCum(7)} AS total
         |      FROM d)
         |SELECT bucket_start, service_name,
         |  CAST(num AS DOUBLE) / CAST(total AS DOUBLE) AS value
         |FROM w WHERE total > 0""".stripMargin,

    "q41_promql_instant" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'purchase' AND service_name = 'svc-1'", 86400)})
         |SELECT bucket_start, service_name, value FROM l""".stripMargin,

    "q306_promql_info" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'error' AND service_name <> 'svc-7'", 86400)})
         |SELECT bucket_start, service_name,
         |  CASE WHEN CAST(substr(service_name, 5) AS BIGINT) % 2 = 0
         |       THEN 'prod' ELSE 'dev' END AS env,
         |  concat('r', CAST(substr(service_name, 5) AS BIGINT) % 3) AS region,
         |  value
         |FROM l""".stripMargin,

    "q42_promql_rate" ->
      s"""WITH m AS ($V),
         |fl AS (${firstLast("metric_name = 'click'", 86400)})
         |SELECT bucket_start, service_name,
         |  (lastv - firstv) / 86400.0 AS value FROM fl""".stripMargin,

    "q284_promql_subsecond_range" ->
      s"""WITH m AS ($V),
         |f AS (SELECT *, ${bkt(86400)} AS bucket_start FROM m
         |      WHERE metric_name = 'click' AND $win
         |        AND timestamp >= (${bkt(86400)} + 86400) * 1000000000
         |          - 21600500000000)
         |SELECT bucket_start, service_name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM f GROUP BY 1, 2""".stripMargin,

    "q291_promql_subquery_at" ->
      s"""WITH m AS ($V),
         |f AS (SELECT * FROM m WHERE metric_name = 'click'
         |      AND timestamp >= ${1706572800L * 1000000000L}
         |      AND timestamp < ${(1706572800L + 86400L) * 1000000000L}),
         |i AS (SELECT * FROM (
         |    SELECT (timestamp//1000000000//21600)*21600 AS bs, service_name,
         |      CAST(value AS DOUBLE) AS value,
         |      row_number() OVER (PARTITION BY (timestamp//1000000000//21600),
         |          service_name
         |        ORDER BY timestamp DESC, event_id DESC) AS rn
         |    FROM f) WHERE rn = 1),
         |v AS (SELECT service_name, MAX(value) AS value FROM i GROUP BY 1),
         |grid AS (SELECT unnest(generate_series($T0, ${T1 - 1}, 86400))
         |         AS bucket_start)
         |SELECT g.bucket_start, v.service_name, v.value
         |FROM grid g, v""".stripMargin,

    "q285_promql_subsecond_subquery" ->
      s"""WITH m AS ($V),
         |i AS (SELECT DISTINCT (timestamp//1000//500000)*500000 AS bs,
         |        service_name
         |      FROM m WHERE metric_name = 'click' AND $win),
         |o AS (SELECT (bs // 86400000000) * 86400 AS bucket_start,
         |        service_name FROM i)
         |SELECT bucket_start, service_name,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM o GROUP BY 1, 2""".stripMargin,

    "q212_promql_lookback" ->
      s"""WITH m AS ($V),
         |f AS (SELECT * FROM m
         |      WHERE metric_name = 'purchase' AND service_name = 'svc-3'),
         |grid AS (SELECT unnest(generate_series($T0, ${T1 - 1}, 3600))
         |         AS bucket_start),
         |cand AS (
         |  SELECT g.bucket_start, s.service_name, s.value,
         |    row_number() OVER (PARTITION BY g.bucket_start, s.service_name
         |      ORDER BY s.timestamp DESC, s.event_id DESC) AS rn
         |  FROM grid g JOIN f s
         |    ON s.timestamp >= (g.bucket_start + 3600 - 14400) * 1000000000
         |   AND s.timestamp <  (g.bucket_start + 3600) * 1000000000)
         |SELECT bucket_start, service_name, value FROM cand WHERE rn = 1""".stripMargin,

    "q213_promql_lookback_count" ->
      s"""WITH m AS ($V),
         |f AS (SELECT * FROM m WHERE metric_name = 'error'),
         |grid AS (SELECT unnest(generate_series($T0, ${T1 - 1}, 600))
         |         AS bucket_start),
         |pres AS (
         |  SELECT DISTINCT g.bucket_start, s.service_name
         |  FROM grid g JOIN f s
         |    ON s.timestamp >= (g.bucket_start + 600 - 1800) * 1000000000
         |   AND s.timestamp <  (g.bucket_start + 600) * 1000000000)
         |SELECT bucket_start, CAST(COUNT(*) AS DOUBLE) AS value
         |FROM pres GROUP BY 1""".stripMargin,

    "q43_promql_max_increase" ->
      s"""WITH m AS ($V),
         |fl AS (${firstLast("metric_name = 'purchase'", 86400)})
         |SELECT bucket_start, MAX(lastv - firstv) AS value
         |FROM fl GROUP BY 1""".stripMargin,

    "q44_promql_ratio" ->
      s"""WITH m AS ($V),
         |e AS (${lastPerBucket("metric_name = 'error'", 86400)}),
         |v AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT e.bucket_start AS bucket_start, e.service_name AS service_name,
         |  e.value / v.value AS value
         |FROM e JOIN v ON e.bucket_start = v.bucket_start
         |  AND e.service_name = v.service_name""".stripMargin,

    "q45_promql_and" ->
      s"""WITH m AS ($V),
         |e AS (${lastPerBucket("metric_name = 'error'", 86400)}),
         |p AS (${lastPerBucket("metric_name = 'purchase'", 86400)})
         |SELECT e.bucket_start, e.service_name, e.value FROM e
         |WHERE EXISTS (SELECT 1 FROM p
         |  WHERE p.bucket_start = e.bucket_start
         |    AND p.service_name = e.service_name)""".stripMargin,

    "q46_promql_unless_or" ->
      s"""WITH m AS ($V),
         |e AS (${lastPerBucket("metric_name = 'error'", 86400)}),
         |p AS (${lastPerBucket("metric_name = 'purchase'", 86400)}),
         |c AS (${lastPerBucket("metric_name = 'click'", 86400)}),
         |u AS (
         |  SELECT e.bucket_start, e.service_name, e.value FROM e
         |  WHERE NOT EXISTS (SELECT 1 FROM p
         |    WHERE p.bucket_start = e.bucket_start
         |      AND p.service_name = e.service_name))
         |SELECT bucket_start, service_name, value FROM u
         |UNION ALL
         |SELECT c.bucket_start, c.service_name, c.value FROM c
         |WHERE NOT EXISTS (SELECT 1 FROM u
         |  WHERE u.bucket_start = c.bucket_start
         |    AND u.service_name = c.service_name)""".stripMargin,

    "q47_promql_topk" ->
      s"""WITH m AS ($V),
         |fl AS (${firstLast("metric_name = 'click'", 604800)}),
         |inc AS (SELECT bucket_start, service_name, lastv - firstv AS value FROM fl),
         |mx AS (SELECT bucket_start, service_name, MAX(value) AS value
         |       FROM inc GROUP BY 1, 2)
         |SELECT bucket_start, service_name, value FROM (
         |  SELECT *, row_number() OVER (PARTITION BY bucket_start
         |    ORDER BY value DESC, service_name ASC) AS rn
         |  FROM mx) WHERE rn <= 2""".stripMargin,

    "q48_promql_math_bool" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT bucket_start, service_name,
         |  CASE WHEN least(greatest(abs(value - 100), 10), 80) > 50
         |       THEN 1.0 ELSE 0.0 END AS value
         |FROM l""".stripMargin,

    "q49_promql_absent" ->
      s"""WITH m AS ($V),
         |spine AS (
         |  SELECT ${T0} + i * 86400 AS bucket_start
         |  FROM range(0, ${(T1 - T0) / 86400}) r(i)),
         |present AS (
         |  SELECT DISTINCT ${bkt(86400)} AS bucket_start FROM m
         |  WHERE metric_name = 'purchase' AND service_name = 'svc-1'
         |    AND $win)
         |SELECT s.bucket_start, 1.0 AS value FROM spine s
         |WHERE NOT EXISTS (SELECT 1 FROM present p
         |  WHERE p.bucket_start = s.bucket_start)""".stripMargin,

    "q50_promql_label_replace" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'purchase' AND regexp_full_match(service_name, 'svc-[0-2]')", 86400)})
         |SELECT bucket_start, service_name,
         |  regexp_replace(service_name, '^(?:svc-(.*))$$', 'e\\1') AS env, value
         |FROM l""".stripMargin,

    "q51_promql_hist_quantile" ->
      s"""WITH h AS ($HV),
         |agg AS (
         |  SELECT ${bkt(604800)} AS bucket_start, service_name, le,
         |    CAST(SUM(value) AS DOUBLE) AS cum
         |  FROM h WHERE $win GROUP BY 1, 2, 3),
         |x AS (
         |  SELECT *,
         |    CASE WHEN le = '+Inf' THEN 'inf'::DOUBLE ELSE CAST(le AS DOUBLE) END AS le_n
         |  FROM agg),
         |y AS (
         |  SELECT *,
         |    lag(le_n, 1, 0.0) OVER w AS prev_le,
         |    lag(cum, 1, 0.0) OVER w AS prev_cum,
         |    MAX(CASE WHEN le = '+Inf' THEN cum END)
         |      OVER (PARTITION BY bucket_start, service_name) AS total,
         |    MAX(CASE WHEN le <> '+Inf' THEN le_n END)
         |      OVER (PARTITION BY bucket_start, service_name) AS maxfinite
         |  FROM x
         |  WINDOW w AS (PARTITION BY bucket_start, service_name ORDER BY le_n ASC)),
         |hit AS (
         |  SELECT *, 0.9 * total AS rank_,
         |    row_number() OVER (PARTITION BY bucket_start, service_name
         |                       ORDER BY le_n ASC) AS rn
         |  FROM y WHERE total > 0 AND cum >= 0.9 * total)
         |SELECT bucket_start, service_name,
         |  CASE WHEN le = '+Inf' THEN maxfinite
         |       ELSE prev_le + (le_n - prev_le) * (rank_ - prev_cum) / (cum - prev_cum)
         |  END AS value
         |FROM hit WHERE rn = 1""".stripMargin,

    "q52_promql_irate" ->
      s"""WITH m AS ($V),
         |r AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, value, timestamp,
         |    row_number() OVER (PARTITION BY ${bkt(86400)}, service_name
         |      ORDER BY timestamp DESC, event_id DESC) AS rn
         |  FROM m WHERE metric_name = 'view' AND $win),
         |g AS (
         |  SELECT bucket_start, service_name,
         |    MAX(CASE WHEN rn = 1 THEN value END) AS v1,
         |    MAX(CASE WHEN rn = 2 THEN value END) AS v2,
         |    MAX(CASE WHEN rn = 1 THEN timestamp END) AS t1,
         |    MAX(CASE WHEN rn = 2 THEN timestamp END) AS t2,
         |    COUNT(*) FILTER (rn <= 2) AS n
         |  FROM r GROUP BY 1, 2)
         |SELECT bucket_start, service_name,
         |  (v1 - v2) / (CAST(t1 - t2 AS DOUBLE) / 1e9) AS value
         |FROM g WHERE n = 2""".stripMargin,

    "q53_promql_day_of_week" ->
      s"""SELECT ${T0} + i * 86400 AS bucket_start,
         |  CAST(dayofweek(to_timestamp(${T0} + i * 86400)) AS DOUBLE) AS value
         |FROM range(0, ${(T1 - T0) / 86400}) r(i)""".stripMargin,

    "q70_promql_offset" ->
      s"""WITH m AS ($V),
         |today AS (${lastPerBucket("metric_name = 'purchase'", 86400)}),
         |yest AS (
         |  SELECT * FROM (
         |    SELECT ((timestamp//1000000000 + 86400)//86400)*86400 AS bucket_start,
         |      service_name, CAST(value AS DOUBLE) AS value,
         |      row_number() OVER (
         |        PARTITION BY ((timestamp//1000000000 + 86400)//86400)*86400, service_name
         |        ORDER BY timestamp DESC, event_id DESC) AS rn
         |    FROM m WHERE metric_name = 'purchase'
         |      AND timestamp >= ${(T0 - 86400) * 1000000000L}
         |      AND timestamp < ${(T1 - 86400) * 1000000000L}) WHERE rn = 1)
         |SELECT t.bucket_start AS bucket_start, t.service_name AS service_name,
         |  t.value / y.value AS value
         |FROM today t JOIN yest y
         |  ON t.bucket_start = y.bucket_start AND t.service_name = y.service_name""".stripMargin,

    "q71_promql_subquery" ->
      s"""WITH m AS ($V),
         |fl AS (${firstLast("metric_name = 'click'", 21600)}),
         |r AS (SELECT bucket_start, service_name,
         |        (lastv - firstv) / 21600.0 AS value FROM fl),
         |re AS (SELECT (bucket_start//86400)*86400 AS bucket_start, service_name,
         |        MAX(value) AS value
         |       FROM r GROUP BY 1, 2)
         |SELECT bucket_start, service_name, value FROM re""".stripMargin,

    "q98_promql_subquery_quantile" ->
      s"""WITH m AS ($V),
         |fl AS (${firstLast("metric_name = 'click'", 21600)}),
         |r AS (SELECT bucket_start, service_name,
         |        (lastv - firstv) / 21600.0 AS value FROM fl),
         |re AS (SELECT (bucket_start//86400)*86400 AS bucket_start, service_name,
         |        quantile_cont(value, 0.5) AS value
         |       FROM r GROUP BY 1, 2)
         |SELECT bucket_start, service_name, value FROM re""".stripMargin,

    "q54_promql_count_values" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'purchase'", 86400)})
         |SELECT bucket_start, CAST(floor(value / 50) * 50 AS VARCHAR) AS vb,
         |  CAST(COUNT(*) AS DOUBLE) AS value
         |FROM l GROUP BY 1, 2""".stripMargin,

    "q85_promql_at" ->
      s"""WITH m AS ($V),
         |pin AS (
         |  SELECT service_name, MAX(CAST(value AS DOUBLE)) AS value
         |  FROM m WHERE metric_name = 'purchase'
         |    AND regexp_full_match(service_name, 'svc-[0-4]')
         |    AND timestamp >= ${1704326400L * 1000000000L}
         |    AND timestamp < ${1704412800L * 1000000000L}
         |  GROUP BY 1),
         |spine AS (
         |  SELECT ${T0} + i * 86400 AS bucket_start
         |  FROM range(0, ${(T1 - T0) / 86400}) r(i))
         |SELECT s.bucket_start, p.service_name, p.value
         |FROM spine s CROSS JOIN pin p""".stripMargin,

    "q86_promql_at_start" ->
      s"""WITH m AS ($V),
         |today AS (${lastPerBucket("metric_name = 'purchase'", 86400)}),
         |day1 AS (
         |  SELECT service_name, value FROM (
         |    SELECT service_name, CAST(value AS DOUBLE) AS value,
         |      row_number() OVER (PARTITION BY service_name
         |        ORDER BY timestamp DESC, event_id DESC) AS rn
         |    FROM m WHERE metric_name = 'purchase'
         |      AND timestamp >= ${T0 * 1000000000L}
         |      AND timestamp < ${(T0 + 86400) * 1000000000L}) WHERE rn = 1)
         |SELECT t.bucket_start, t.service_name, t.value / d.value AS value
         |FROM today t JOIN day1 d USING (service_name)""".stripMargin,

    "q95_promql_group_right" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'purchase'", 86400)}),
         |g AS (SELECT *,
         |        CASE WHEN regexp_full_match(service_name, 'svc-([0-3])')
         |          THEN regexp_replace(service_name, '^(?:svc-([0-3]))$$', 'g\\1')
         |          ELSE '' END AS grp
         |      FROM l),
         |mx AS (SELECT bucket_start, grp, MAX(value) AS mv FROM g GROUP BY 1, 2)
         |SELECT g.bucket_start, g.service_name, g.grp, mx.mv / g.value AS value
         |FROM g JOIN mx USING (bucket_start, grp)""".stripMargin,

    "q87_promql_sort_desc" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT bucket_start, service_name, value FROM l""".stripMargin,

    "q88_promql_union_scan" ->
      s"""WITH m AS ($V),
         |p AS (${lastPerBucket("metric_name = 'purchase'", 86400)}),
         |v AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT p.bucket_start AS bucket_start, p.service_name AS service_name,
         |  p.value / v.value AS value
         |FROM p JOIN v ON p.bucket_start = v.bucket_start
         |  AND p.service_name = v.service_name""".stripMargin,

    "q74_promql_on_matching" ->
      s"""WITH m AS ($V),
         |e AS (${lastPerBucket("metric_name = 'error'", 86400)}),
         |p AS (${lastPerBucket("metric_name = 'purchase'", 86400)})
         |SELECT e.bucket_start AS bucket_start,
         |  regexp_replace(e.service_name, '^(?:svc-(.*))$$', 'e\\1') AS env,
         |  e.value / p.value AS value
         |FROM e JOIN p ON e.bucket_start = p.bucket_start
         |  AND regexp_replace(e.service_name, '^(?:svc-(.*))$$', 'e\\1')
         |    = regexp_replace(p.service_name, '^(?:svc-(.*))$$', 'e\\1')""".stripMargin,

    "q116_promql_present" ->
      s"""WITH m AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name, 1.0 AS value
         |FROM m
         |WHERE metric_name = 'error' AND regexp_full_match(service_name, 'svc-[0-5]')
         |  AND $win
         |GROUP BY 1, 2""".stripMargin,

    "q117_promql_group" ->
      s"""WITH m AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name, 1.0 AS value
         |FROM m WHERE metric_name = 'click' AND $win
         |GROUP BY 1, 2""".stripMargin,

    "q118_promql_scalar" ->
      s"""WITH m AS ($V),
         |c AS (${lastPerBucket("metric_name = 'click'", 86400)}),
         |p AS (${lastPerBucket("metric_name = 'purchase' AND service_name = 'svc-1'", 86400)})
         |SELECT c.bucket_start AS bucket_start, c.service_name AS service_name,
         |  c.value * p.value AS value
         |FROM c JOIN p ON c.bucket_start = p.bucket_start""".stripMargin,

    "q119_promql_vector" ->
      s"""WITH m AS ($V),
         |v AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT bucket_start, service_name, value + 100.0 AS value
         |FROM v""".stripMargin,

    "q125_promql_changes" ->
      s"""WITH m AS ($V),
         |l AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, value,
         |    lag(value) OVER (PARTITION BY ${bkt(86400)}, service_name
         |      ORDER BY timestamp ASC, event_id ASC) AS prev
         |  FROM m WHERE metric_name = 'click' AND $win)
         |SELECT bucket_start, service_name,
         |  CAST(SUM(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END) AS DOUBLE) AS value
         |FROM l GROUP BY 1, 2""".stripMargin,

    "q126_promql_resets" ->
      s"""WITH m AS ($V),
         |l AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name, value,
         |    lag(value) OVER (PARTITION BY ${bkt(86400)}, service_name
         |      ORDER BY timestamp ASC, event_id ASC) AS prev
         |  FROM m WHERE metric_name = 'view' AND $win)
         |SELECT bucket_start, service_name,
         |  CAST(SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END) AS DOUBLE) AS value
         |FROM l GROUP BY 1, 2""".stripMargin,

    // exemplars derived straight from events (the view's JSON round-trip
    // must be lossless — same trace_id derivation as the traces view)
    "q193_exemplar_trace_link" ->
      """WITH ex AS (
        |  SELECT concat('svc-', user_id % 8) AS service_name,
        |    md5(concat('tr-', user_id, '-', (epoch_us(ts)//1000000)//86400)) AS trace_id,
        |    value AS ex_value
        |  FROM events WHERE event_type = 'purchase'),
        |spans AS (
        |  SELECT md5(concat('tr-', user_id, '-', (epoch_us(ts)//1000000)//86400)) AS trace_id,
        |    count(*) AS n_spans
        |  FROM events GROUP BY 1)
        |SELECT e.service_name, count(*) AS n_exemplars,
        |  CAST(count(DISTINCT e.trace_id) AS BIGINT) AS n_traces,
        |  CAST(SUM(s.n_spans) AS BIGINT) AS sum_spans,
        |  CAST(SUM(CAST(e.ex_value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        |FROM ex e JOIN spans s ON s.trace_id = e.trace_id
        |GROUP BY 1""".stripMargin,

    // day aggregates straight from raw samples — must equal the rollup
    // re-aggregation exactly (decimal sums, (ts, event_id)-ordered last)
    "q133_rollup_reaggregate" ->
      s"""WITH m AS ($V),
         |r AS (
         |  SELECT ${bkt(86400)} AS day_bucket, metric_name, service_name, value,
         |    row_number() OVER (PARTITION BY ${bkt(86400)}, metric_name, service_name
         |      ORDER BY timestamp DESC, event_id DESC) AS rn
         |  FROM m)
         |SELECT day_bucket, metric_name, service_name,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS vsum,
         |  MIN(value) AS vmin,
         |  MAX(value) AS vmax,
         |  MAX(CASE WHEN rn = 1 THEN value END) AS vlast
         |FROM r GROUP BY 1, 2, 3""".stripMargin,

    "q141_promql_timestamp" ->
      s"""WITH m AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  CAST(MAX(timestamp//1000) AS DOUBLE) / 1000000.0 AS value
         |FROM m
         |WHERE metric_name = 'purchase' AND service_name SIMILAR TO 'svc-[0-3]'
         |  AND $win
         |GROUP BY 1, 2""".stripMargin,

    // exact least-squares slope from hugeint sums — the same closed form
    // as the engine side, so the fixed-point result is bit-identical
    "q135_promql_deriv" ->
      s"""WITH m AS ($V),
         |w AS (${fitW("click", 86400)}),
         |g AS (${fitG}),
         |d AS (SELECT bucket_start, service_name,
         |        n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM g)
         |SELECT bucket_start, service_name,
         |  CAST(CASE WHEN num >= 0 THEN (num * 10000000) // den
         |       ELSE -(((-num) * 10000000) // den) END AS DOUBLE) / 1000000.0 AS value
         |FROM d WHERE den > 0""".stripMargin,

    "q136_promql_predict_linear" ->
      s"""WITH m AS ($V),
         |w AS (${fitW("click", 86400)}),
         |g AS (${fitG}),
         |d AS (SELECT bucket_start, service_name,
         |        sy*sxx - sx*sxy + (n*sxy - sx*sy) * ${(86400L + 3600L) * 1000L} AS p,
         |        n*sxx - sx*sx AS den FROM g)
         |SELECT bucket_start, service_name,
         |  CAST(CASE WHEN p >= 0 THEN (p * 10000) // den
         |       ELSE -(((-p) * 10000) // den) END AS DOUBLE) / 1000000.0 AS value
         |FROM d WHERE den > 0""".stripMargin,

    "q158_promql_mad" ->
      s"""WITH m AS ($V),
         |w AS (SELECT ${bkt(86400)} AS bucket_start, service_name,
         |        CAST(value AS DOUBLE) AS value
         |      FROM m WHERE metric_name = 'view' AND $win),
         |md AS (SELECT bucket_start, service_name,
         |         quantile_cont(value, 0.5) AS med
         |       FROM w GROUP BY 1, 2)
         |SELECT w.bucket_start, w.service_name,
         |  quantile_cont(abs(w.value - md.med), 0.5) AS value
         |FROM w JOIN md USING (bucket_start, service_name)
         |GROUP BY 1, 2""".stripMargin,

    "q159_promql_limit_ratio" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT bucket_start, service_name, value FROM l
         |WHERE md5(service_name) < '40000000000000000000000000000000'""".stripMargin,

    "q160_promql_limitk" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT bucket_start, service_name, value FROM (
         |  SELECT *, row_number() OVER (PARTITION BY bucket_start
         |    ORDER BY md5(service_name) ASC, service_name ASC) AS rk
         |  FROM l) WHERE rk <= 3""".stripMargin,

    "q161_promql_sort_by_label" ->
      s"""WITH m AS ($V),
         |l AS (${lastPerBucket("metric_name = 'view'", 86400)})
         |SELECT bucket_start, service_name, value FROM l""".stripMargin,

    "q172_promql_negative_offset" ->
      s"""WITH m AS ($V)
         |SELECT ((timestamp - ${86400L * 1000000000L})//1000000000//86400)*86400
         |    AS bucket_start,
         |  service_name, MAX(CAST(value AS DOUBLE)) AS value
         |FROM m WHERE metric_name = 'purchase'
         |  AND timestamp >= ${(T0 + 86400L) * 1000000000L}
         |  AND timestamp < ${(T1 + 86400L) * 1000000000L}
         |GROUP BY 1, 2""".stripMargin,

    "q176_promql_ts_of_max" ->
      s"""WITH m AS ($V),
         |r AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name,
         |    CAST(timestamp//1000000000 AS DOUBLE) AS ts,
         |    row_number() OVER (PARTITION BY ${bkt(86400)}, service_name
         |      ORDER BY CAST(value AS DOUBLE) DESC, timestamp DESC,
         |        event_id DESC) AS rn
         |  FROM m WHERE metric_name = 'view' AND $win)
         |SELECT bucket_start, service_name, ts AS value FROM r
         |WHERE rn = 1""".stripMargin,

    // subquery offset 1d: data from [T0−1d, T1−1d), buckets stamped on
    // the query grid via the +1d shift; [1d:] default res = outer step,
    // so the outer max_over_time re-bucket is the identity
    "q262_promql_subquery_offset" ->
      s"""WITH m AS ($V),
         |c AS (
         |  SELECT ((timestamp + 86400000000000)//1000000000//86400)*86400
         |      AS bucket_start,
         |    service_name, CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM m WHERE metric_name = 'click'
         |    AND timestamp >= ${(T0 - 86400) * 1000000000L}
         |    AND timestamp < ${(T1 - 86400) * 1000000000L}
         |  GROUP BY 1, 2)
         |SELECT bucket_start, service_name, value FROM c""".stripMargin,

    "q263_promql_recording_colon" ->
      s"""WITH m AS ($V),
         |c AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name,
         |    CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM m WHERE metric_name = 'click' AND $win
         |  GROUP BY 1, 2)
         |SELECT bucket_start, service_name,
         |  CASE WHEN value > 25 THEN 1.0 ELSE 0.0 END AS value
         |FROM c""".stripMargin,

    "q270_rollup_route" ->
      s"""WITH m AS ($V)
         |SELECT ${bkt(86400)} AS bucket_start, service_name,
         |  max(CAST(value AS DOUBLE)) AS value
         |FROM m WHERE metric_name = 'view' AND $win
         |GROUP BY 1, 2""".stripMargin,

    // rate over subquery: daily counts, then per 2-day outer bucket
    // (last − first)/outer-step — first/last keyed by the inner bucket
    "q264_promql_rate_subquery" ->
      s"""WITH m AS ($V),
         |c AS (
         |  SELECT ${bkt(86400)} AS bucket_start, service_name,
         |    CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM m WHERE metric_name = 'click' AND $win
         |  GROUP BY 1, 2),
         |r AS (
         |  SELECT (bucket_start//172800)*172800 AS bucket_start, service_name,
         |    (arg_max(value, bucket_start) - arg_min(value, bucket_start))
         |      / 172800.0 AS value
         |  FROM c GROUP BY 1, 2)
         |SELECT bucket_start, service_name, value FROM r""".stripMargin
  )

  /** regression-sum CTE bodies shared by q135/q136 (x = ms offset in
    * bucket, y = centi-quantized value; hugeint keeps every sum exact) */
  private def fitW(metric: String, step: Long): String =
    s"""SELECT ${bkt(step)} AS bucket_start, service_name,
       |    timestamp//1000000 - (${bkt(step)})*1000 AS x,
       |    CAST(round(value*100) AS BIGINT) AS y
       |  FROM m WHERE metric_name = '$metric' AND $win""".stripMargin

  private def fitG: String =
    """SELECT bucket_start, service_name, CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT)*y) AS sxy, SUM(CAST(x AS HUGEINT)*x) AS sxx
      |  FROM w GROUP BY 1, 2""".stripMargin
}
