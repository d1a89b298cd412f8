package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import Ast._

/** PromQL evaluation → DataFrame plans (reference:
  * src/querier/src/query/metrics.rs eval_plan and friends — but where the
  * reference post-processes collected matrices in Rust (binary ops, topk,
  * label ops, metrics.rs:415-909,1813-2691), we lower EVERYTHING into
  * DataFrame joins/windows so no driver-side map ever materializes a
  * matrix; the reference tracks this as desirable itself (#951,
  * metrics.rs:60-78). At 100 TB that is the difference between a
  * cardinality guard and a shuffle.)
  *
  * Model: a vector expression evaluates to rows (bucket_start, labels…,
  * value) over step-aligned tumbling buckets, origin 0 (date_bin parity,
  * metrics.rs:2703-2727). Range windows are approximated by the step
  * bucket — exact when range == step (documented, logql_metric.rs:11-15);
  * range seconds still drive rate denominators (metrics.rs:939-1046).
  */
object Eval {

  /** Prometheus NATIVE-histogram sample table (beyond the reference —
    * its PromQL surface carries no native-hist functions): cumulative
    * per-series histogram samples in the stored exponential-histogram
    * layout (fixed scale 2, 8 positive buckets; schemas.rs:322-378).
    * Columns: timestamp Long nanos, metric_name, the host table's series
    * labels, then `h_count` (cumulative observation count), `h_sum_q`
    * (cumulative sum in exact integer MICRO-units — fixed-point so
    * cross-engine compares are bit-exact), `zero_count`, and `b0`..`b7`
    * cumulative per-bucket counts. `metrics` names the metrics served
    * natively — the plan-time routing switch for histogram_* calls.
    * Prometheus guarantees one sample per series per timestamp, so
    * ordering by timestamp alone is deterministic here. */
  final case class NativeHistTable(df: DataFrame, metrics: Set[String])

  /** metrics-shaped table: timestamp Long nanos, metric_name, value double,
    * label columns; tieBreak gives deterministic sample order. */
  final case class MetricsTable(
      df: DataFrame,
      seriesLabels: Seq[String],
      tieBreak: Seq[String] = Seq.empty,
      nativeHist: Option[NativeHistTable] = None,
      /** target_info-style resource labels for `info()` (Prometheus v3
        * experimental): identifying label column(s) shared with the
        * series labels + the data label columns to graft on. Small by
        * construction (one row per target) — always broadcast. */
      infoLabels: Option[DataFrame] = None)

  /** lookbackSec > 0 switches bare selectors to Prometheus staleness
    * semantics: at each grid point the last sample within the trailing
    * lookback window [bucket_end − lookback, bucket_end) is reported, so
    * values carry across empty buckets for up to `lookbackSec` seconds
    * (Prometheus --query.lookback-delta; the reference keeps strict
    * date_bin buckets, so 0 — the default — preserves its semantics). */
  final case class TimeRange(startSec: Long, endSec: Long, stepSec: Long,
      lookbackSec: Long = 0)

  /** A lowered vector: df columns = bucket_start :: labels ::: value. */
  final case class Vec(df: DataFrame, labels: Seq[String])

  sealed trait Value
  final case class VecV(v: Vec) extends Value
  final case class ScalV(d: Double) extends Value

  def evalVector(e: Expr, t: MetricsTable, tr: TimeRange): Vec =
    eval(e, t, tr) match {
      case VecV(v)  => v
      case ScalV(d) => spine(t, tr, lit(d))
    }

  private def bucket: Column = col("bucket_start")

  private def bucketExpr(stepSec: Long): Column =
    expr(s"(timestamp div 1000000000) div $stepSec * $stepSec")

  /** resolve `@` to its pinned bucket on the query grid; `end()` pins to
    * the LAST grid bucket (endSec is exclusive), matching spine(). */
  private def pinBucket(sel: Selector, tr: TimeRange): Option[Long] = sel.at.map {
    case AtMod.Start   => tr.startSec / tr.stepSec * tr.stepSec
    case AtMod.End     => (tr.endSec - 1) / tr.stepSec * tr.stepSec
    case AtMod.Time(s) => s / tr.stepSec * tr.stepSec
  }

  /** bucket on the query grid for an offset selector: shift the sample
    * time forward by the offset before bucketing. A pinned (`@`) selector
    * has exactly one bucket — a constant. */
  private def bucketExprFor(sel: Selector, tr: TimeRange): Column =
    pinBucket(sel, tr) match {
      case Some(pb)                   => lit(pb)
      case None if sel.offsetSec == 0 => bucketExpr(tr.stepSec)
      case None =>
        expr(s"((timestamp + ${sel.offsetSec * 1000000000L}) div 1000000000) div ${tr.stepSec} * ${tr.stepSec}")
    }

  /** bucket + range-window restriction for a RANGE selector: when the
    * range is shorter than the step (`rate(x[500ms])` on a 60s grid),
    * Prometheus evaluates the window (t−range, t] at each grid point t —
    * in the tumbling model, the TRAILING `rangeNs` of each step bucket
    * (the bucket's own end is the grid point). A range ≥ the step keeps
    * the whole-bucket window. Pure filter on the already-bucketed rows:
    * no extra shuffle, codegen-friendly. */
  private def rangeWindowed(sel: Selector, t: MetricsTable, tr: TimeRange): DataFrame =
    rangeWindowedDf(sel, t.df, tr)

  /** df-shaped form of `rangeWindowed` so the NATIVE-histogram path
    * (whose samples live in a side table, not `t.df`) shares the exact
    * same trailing-window semantics — a sub-step range on a native
    * selector must narrow the delta window, not silently keep the whole
    * bucket. */
  private def rangeWindowedDf(sel: Selector, df0: DataFrame, tr: TimeRange): DataFrame = {
    val df = baseFilter(sel, df0, tr).withColumn("bucket_start", bucketExprFor(sel, tr))
    sel.rangeNs match {
      case Some(rns) if rns < tr.stepSec * 1000000000L && pinBucket(sel, tr).isEmpty =>
        val tsEff = col("timestamp") + lit(sel.offsetSec * 1000000000L)
        df.filter(tsEff >=
          (col("bucket_start") + lit(tr.stepSec)) * lit(1000000000L) - lit(rns))
      case _ => df
    }
  }

  /** instant vector on a SUB-SECOND grid: bucket_start is µs-domain
    * (resolution-aligned epoch µs), one hash aggregate — the same shape
    * as instant(), no window. Serves `x[range:100ms]` subquery inners. */
  private def instantMicros(sel: Selector, t: MetricsTable, tr: TimeRange,
      resNs: Long): Vec = {
    if (resNs % 1000 != 0 || resNs <= 0)
      throw Unsupported(s"subquery resolution must be whole microseconds: ${resNs}ns")
    val resUs = resNs / 1000
    val off = sel.offsetSec * 1000000000L
    val df = baseFilter(sel, t.df, tr)
      .withColumn("bucket_start",
        expr(s"((timestamp + $off) div 1000) div $resUs * $resUs"))
    val keys = bucket +: t.seriesLabels.map(col)
    val ordStruct = struct(col("timestamp") +: t.tieBreak.map(col): _*)
    Vec(df.groupBy(keys: _*)
      .agg(max_by(col("value").cast(DoubleType), ordStruct).as("value")),
      t.seriesLabels)
  }

  /** a pinned selector evaluates at ONE bucket; replicate its rows across
    * the query grid with a broadcast of the tiny bucket spine — no shuffle
    * (reference metrics.rs:1746-1810 re-stamps the pinned matrix the same
    * way, driver-side; ours stays a plan). */
  private def spread(sel: Selector, v: Vec, t: MetricsTable, tr: TimeRange): Vec =
    if (sel.at.isEmpty) v
    else {
      val buckets = spine(t, tr, lit(0.0)).df.select("bucket_start")
      Vec(v.df.drop("bucket_start").crossJoin(broadcast(buckets)), v.labels)
    }

  /** data-independent step spine (for scalar-only exprs, absent, time()) —
    * sequence+explode, no table scan (SURVEY §2.4 absent). */
  private def spine(t: MetricsTable, tr: TimeRange, v: Column): Vec = {
    val s0 = tr.startSec / tr.stepSec * tr.stepSec
    val s1 = (tr.endSec - 1) / tr.stepSec * tr.stepSec
    val df = t.df.sparkSession.range(1)
      .select(explode(sequence(lit(s0), lit(s1), lit(tr.stepSec))).as("bucket_start"))
      .withColumn("value", v.cast(DoubleType))
    Vec(df, Seq.empty)
  }

  def eval(e: Expr, t: MetricsTable, tr: TimeRange): Value = e match {
    case NumLit(v) => ScalV(v)
    case StrLit(_) => throw Unsupported("bare string is not a vector")

    case sel @ Selector(_, _, None, _, _) => VecV(instant(sel, t, tr))
    case Selector(_, _, Some(_), _, _) =>
      throw Unsupported("range selector outside a range function")
    case _: Subquery =>
      throw Unsupported("subquery outside an _over_time function")

    case Call(f, args) => call(f, args, t, tr)

    case Agg(op, param, inner, by, without) =>
      VecV(agg(op, param, evalVector(inner, t, tr), by, without, t, tr))

    case Binary(op, l, r, boolMode, on, ig, grp) =>
      binary(op, l, r, boolMode, on, ig, grp, t, tr)
  }

  // ---- selectors --------------------------------------------------------

  /** window filter honoring `offset d`: data shifts back by the offset;
    * bucket labels stay on the query grid (reference offset handling,
    * metrics.rs:2703-2727 — date_bin origin shifting). */
  private def baseFilter(sel: Selector, frame: DataFrame, tr: TimeRange): DataFrame = {
    val off = sel.offsetSec * 1000000000L
    val (lo, hi) = pinBucket(sel, tr) match {
      case Some(pb) => (pb * 1000000000L - off, (pb + tr.stepSec) * 1000000000L - off)
      case None     => (tr.startSec * 1000000000L - off, tr.endSec * 1000000000L - off)
    }
    var df = frame.filter(col("timestamp") >= lit(lo) && col("timestamp") < lit(hi))
    sel.metric.foreach(m => df = df.filter(col("metric_name") === m))
    for (m <- sel.matchers) {
      val c = col(m.label)
      df = df.filter(m.op match {
        case MatchOp.Eq  => c === m.value
        case MatchOp.Neq => c =!= m.value
        case MatchOp.Re  => c.rlike("^(?:" + m.value + ")$")
        case MatchOp.Nre => !c.rlike("^(?:" + m.value + ")$")
      })
    }
    df
  }

  /** bare selector = LAST sample per (bucket, series) — reference `Last`
    * (promql.rs:46-66), deterministic via tieBreak ordering. One hash
    * aggregate (`max_by` over the (timestamp, tieBreak) struct) instead of
    * a sort + row_number window: no per-partition sort, partial agg
    * map-side — the shape that survives 1 M series per bucket. */
  private def instant(sel: Selector, t: MetricsTable, tr: TimeRange): Vec = {
    if (tr.lookbackSec > 0 && pinBucket(sel, tr).isEmpty)
      return instantLookback(sel, t, tr)
    val df = baseFilter(sel, t.df, tr).withColumn("bucket_start", bucketExprFor(sel, tr))
    val keys = bucket +: t.seriesLabels.map(col)
    val ordStruct = struct(col("timestamp") +: t.tieBreak.map(col): _*)
    spread(sel, Vec(
      df.groupBy(keys: _*)
        .agg(max_by(col("value").cast(DoubleType), ordStruct).as("value")),
      t.seriesLabels), t, tr)
  }

  /** Prometheus lookback without per-step scans: (1) reduce to the last
    * sample per (series, own bucket) — the same map-side hash aggregate as
    * the strict path; (2) fan each survivor forward to the ≤⌈lookback/step⌉
    * grid buckets its window can still serve (a bounded explode of the
    * REDUCED stream, never the raw one); (3) re-reduce per (series, grid
    * bucket) by sample time. Two equal timestamps can't reach one grid
    * bucket from different source buckets, so max_by(ts) alone is
    * deterministic. The scan widens by lookbackSec so the first buckets
    * see samples from before the query start, as Prometheus does. */
  private def instantLookback(sel: Selector, t: MetricsTable, tr: TimeRange): Vec = {
    val lb = tr.lookbackSec
    val off = sel.offsetSec * 1000000000L
    val df = baseFilter(sel, t.df, tr.copy(startSec = tr.startSec - lb))
      .withColumn("ts_eff", col("timestamp") + lit(off))
      .withColumn("b_s",
        expr(s"(ts_eff div 1000000000) div ${tr.stepSec} * ${tr.stepSec}"))
    val keys = col("b_s") +: t.seriesLabels.map(col)
    val ord = struct(col("ts_eff") +: t.tieBreak.map(col): _*)
    val red = df.groupBy(keys: _*)
      .agg(max_by(struct(col("ts_eff").as("ts"),
        col("value").cast(DoubleType).as("v")), ord).as("lv"))
      .select(col("b_s") +: t.seriesLabels.map(col)
        :+ col("lv.ts").as("ts") :+ col("lv.v").as("v"): _*)
    val k = (lb + tr.stepSec - 1) / tr.stepSec
    val s0 = tr.startSec / tr.stepSec * tr.stepSec
    val s1 = (tr.endSec - 1) / tr.stepSec * tr.stepSec
    val fan = red
      .withColumn("bucket_start",
        explode(expr(s"sequence(b_s, b_s + ${k * tr.stepSec}, ${tr.stepSec})")))
      .filter(col("bucket_start").between(s0, s1))
      .filter(
        col("ts") < (col("bucket_start") + lit(tr.stepSec)) * lit(1000000000L) &&
        col("ts") >= (col("bucket_start") + lit(tr.stepSec - lb)) * lit(1000000000L))
    Vec(
      fan.groupBy(bucket +: t.seriesLabels.map(col): _*)
        .agg(max_by(col("v"), col("ts")).as("value")),
      t.seriesLabels)
  }

  // ---- functions --------------------------------------------------------

  private def rangeSel(args: Seq[Expr], f: String): Selector = args match {
    case Seq(s @ Selector(_, _, Some(_), _, _)) => s
    case _ => throw Unsupported(s"$f expects a range selector")
  }

  private def call(f: String, args: Seq[Expr], t: MetricsTable, tr: TimeRange): Value = f match {
    // counter family / deriv over a SUBQUERY (`deriv(rate(x[5s])[30s:5s])`,
    // the canonical docs nesting): evaluate inner at the subquery
    // resolution, then re-reduce the resolution buckets per outer step —
    // the same re-bucket model the _over_time subquery path uses, so one
    // more groupBy on an already-shuffled key, no extra scan.
    case "rate" | "increase" | "delta" | "deriv"
        if args.lastOption.exists(_.isInstanceOf[Subquery]) =>
      val Subquery(inner, _, res0, at0) = args.last: @unchecked
      if (at0.isDefined)
        throw Unsupported(s"@ on a subquery under $f")
      if (res0 % 1000000000L != 0)
        throw Unsupported(s"sub-second subquery resolution under $f")
      val res = if (res0 == 0) tr.stepSec else res0 / 1000000000L
      val innerVec = evalVector(inner, t, tr.copy(stepSec = res))
      val step = tr.stepSec
      val reKey = (col("bucket_start").divide(lit(step))).cast("long") * lit(step)
      val keys = reKey.as("bucket_start") +: innerVec.labels.map(col)
      val out = f match {
        case "deriv" =>
          innerVec.df.groupBy(keys: _*)
            .agg(regr_slope(col("value"), col("bucket_start").cast(DoubleType))
              .as("value"))
        case _ =>
          val d = innerVec.df.groupBy(keys: _*).agg(
            max_by(col("value"), col("bucket_start")).as("_last"),
            min_by(col("value"), col("bucket_start")).as("_first"))
          val delta = col("_last") - col("_first")
          // the re-bucket window IS the outer step
          val v = if (f == "rate") delta / lit(step.toDouble) else delta
          d.withColumn("value", v.cast(DoubleType)).drop("_first", "_last")
      }
      VecV(Vec(out, innerVec.labels))

    // counter-window reducers: ordered first/last per (bucket, series)
    // (reference metrics.rs:939-1046)
    case "rate" | "increase" | "delta" =>
      val sel = rangeSel(args, f)
      val rs = sel.rangeNs.get / 1e9 // range SECONDS (may be fractional)
      val df = rangeWindowed(sel, t, tr)
      val keys = bucket +: t.seriesLabels.map(col)
      // deterministic first/last: max_by/min_by over (timestamp, tieBreak)
      val ordStruct = struct(col("timestamp") +: t.tieBreak.map(col): _*)
      val d = df.groupBy(keys: _*).agg(
        max_by(col("value"), ordStruct).as("_last"),
        min_by(col("value"), ordStruct).as("_first"))
      val delta = col("_last") - col("_first")
      val v = if (f == "rate") delta / lit(rs) else delta
      VecV(spread(sel, Vec(d.withColumn("value", v.cast(DoubleType)).drop("_first", "_last"),
        t.seriesLabels), t, tr))

    case "irate" | "idelta" =>
      val sel = rangeSel(args, f)
      val df = rangeWindowed(sel, t, tr)
      val ord = col("timestamp").desc +: t.tieBreak.map(col(_).desc)
      val w = Window.partitionBy(bucket +: t.seriesLabels.map(col): _*).orderBy(ord: _*)
      val last2 = df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 2)
      val keys = bucket +: t.seriesLabels.map(col)
      val g = last2.groupBy(keys: _*).agg(
        max_by(col("value"), col("_rn") * -1).as("_v1"), // rn=1 → latest
        min_by(col("value"), col("_rn") * -1).as("_v2"),
        max_by(col("timestamp"), col("_rn") * -1).as("_t1"),
        min_by(col("timestamp"), col("_rn") * -1).as("_t2"),
        count(lit(1)).as("_n"))
        .filter(col("_n") === 2)
      val dv = col("_v1") - col("_v2")
      val v = if (f == "idelta") dv
        else dv / ((col("_t1") - col("_t2")).cast(DoubleType) / lit(1e9))
      VecV(spread(sel, Vec(g.withColumn("value", v.cast(DoubleType))
        .drop("_v1", "_v2", "_t1", "_t2", "_n"), t.seriesLabels), t, tr))

    case "deriv" =>
      val sel = rangeSel(args, f)
      val df = rangeWindowed(sel, t, tr)
      val keys = bucket +: t.seriesLabels.map(col)
      val secs = (col("timestamp").cast(DoubleType)) / lit(1e9)
      VecV(spread(sel, Vec(
        df.groupBy(keys: _*).agg(regr_slope(col("value"), secs).as("value")),
        t.seriesLabels), t, tr))

    // changes/resets: adjacent-sample comparison per (bucket, series)
    // (reference metrics.rs:1279-1391). lag window partitioned by the
    // series key — each task sorts only one series-bucket's samples, so
    // the shape survives 1 M series; partial agg folds the flags map-side.
    case "changes" | "resets" =>
      val sel = rangeSel(args, f)
      val df = rangeWindowed(sel, t, tr)
      val ord = col("timestamp").asc +: t.tieBreak.map(col(_).asc)
      val w = Window.partitionBy(bucket +: t.seriesLabels.map(col): _*).orderBy(ord: _*)
      val prev = lag(col("value"), 1).over(w)
      val hit = if (f == "resets") col("value") < prev else col("value") =!= prev
      val flag = when(prev.isNotNull && hit, 1).otherwise(0)
      val keys = bucket +: t.seriesLabels.map(col)
      val g = df.withColumn("_chg", flag)
        .groupBy(keys: _*).agg(sum(col("_chg")).cast(DoubleType).as("value"))
      VecV(spread(sel, Vec(g, t.seriesLabels), t, tr))

    case "sum_over_time" | "avg_over_time" | "min_over_time" | "max_over_time" |
        "count_over_time" | "last_over_time" | "stddev_over_time" |
        "stdvar_over_time" | "quantile_over_time" | "present_over_time" |
        "mad_over_time" | "ts_of_max_over_time" | "ts_of_min_over_time" |
        "ts_of_last_over_time" =>
      overTime(f, args, t, tr)

    case "absent" | "absent_over_time" =>
      val inner = args match {
        case Seq(s: Selector) => s.copy(rangeNs = None)
        case _                => throw Unsupported(s"$f expects a selector")
      }
      val present = instant(inner, t, tr).df.select(bucket).distinct()
      val sp = spine(t, tr, lit(1.0))
      VecV(Vec(sp.df.join(present, Seq("bucket_start"), "left_anti"), Seq.empty))

    // double exponential smoothing per (bucket, series): collect the
    // window's samples SORTED (bounded by samples-per-bucket), then one
    // linear fold inside a higher-order aggregate() — the iterative
    // smoother runs as a single expression, no driver loop, no UDAF
    // `double_exponential_smoothing` is the Prometheus-3 name for the
    // same smoother (prometheus/prometheus#13500 rename)
    case "holt_winters" | "double_exponential_smoothing" =>
      if (args.length != 3)
        throw Unsupported(s"$f expects (range-vector, sf, tf), got ${args.length} args")
      val sel = rangeSel(args.take(1), f)
      def hwNum(i: Int): Double = args(i) match {
        case NumLit(d) => d
        case _         => throw Unsupported("holt_winters needs scalar sf, tf")
      }
      val sfv = hwNum(1)
      val tfv = hwNum(2)
      // Prometheus requires both smoothing factors strictly inside (0,1)
      if (!(sfv > 0 && sfv < 1 && tfv > 0 && tfv < 1))
        throw Unsupported(s"holt_winters smoothing factors must be in (0,1): sf=$sfv tf=$tfv")
      val df = rangeWindowed(sel, t, tr)
      val keys = bucket +: t.seriesLabels.map(col)
      val sampleStruct = struct(
        (col("timestamp") +: t.tieBreak.map(col)) :+
          col("value").cast(DoubleType).as("v"): _*)
      val g = df.groupBy(keys: _*)
        .agg(array_sort(collect_list(sampleStruct)).as("_xs"))
      // Prometheus smoother: s=v0, b=v1-v0, fold v1..v(n-1); emit s
      val smoothed = expr(
        s"""aggregate(slice(_xs, 2, size(_xs) - 1),
           |  named_struct('s', CAST(_xs[0].v AS DOUBLE),
           |               'b', CAST(_xs[1].v - _xs[0].v AS DOUBLE)),
           |  (acc, x) -> named_struct(
           |    's', $sfv * x.v + (1 - $sfv) * (acc.s + acc.b),
           |    'b', $tfv * (($sfv * x.v + (1 - $sfv) * (acc.s + acc.b)) - acc.s)
           |         + (1 - $tfv) * acc.b),
           |  acc -> acc.s)""".stripMargin)
      VecV(spread(sel, Vec(
        g.filter(size(col("_xs")) >= 2)
          .withColumn("value", smoothed).drop("_xs"),
        t.seriesLabels), t, tr))

    case "time" =>
      VecV(spine(t, tr, bucket.cast(DoubleType)))

    // timestamp(v): each series' latest sample TIMESTAMP (unix seconds)
    // in the bucket, not the sample value (reference promql.rs:231-233).
    // µs-exact: ns div 1000 stays under 2^53, then one IEEE division.
    case "timestamp" =>
      args.head match {
        case sel @ Selector(_, _, None, _, _) =>
          val df = baseFilter(sel, t.df, tr).withColumn("bucket_start", bucketExprFor(sel, tr))
          val keys = bucket +: t.seriesLabels.map(col)
          val v = df.groupBy(keys: _*)
            .agg((max(expr("timestamp div 1000")).cast(DoubleType) / lit(1e6)).as("value"))
          VecV(spread(sel, Vec(v, t.seriesLabels), t, tr))
        case _ => throw Unsupported("timestamp() expects an instant selector")
      }

    case "vector" =>
      args.head match {
        case NumLit(d) => VecV(spine(t, tr, lit(d)))
        case _         => throw Unsupported("vector() expects a scalar")
      }

    case "scalar" =>
      val v = evalVector(args.head, t, tr)
      val g = v.df.groupBy(bucket)
        .agg(count(lit(1)).as("_n"), max(col("value")).as("_v"))
        .withColumn("value",
          when(col("_n") === 1, col("_v")).otherwise(lit(Double.NaN)))
        .select(bucket, col("value"))
      VecV(Vec(g, Seq.empty))

    case "abs" | "ceil" | "floor" | "round" | "sqrt" | "exp" | "ln" | "log2" |
        "log10" | "sgn" | "sin" | "cos" | "tan" | "asin" | "acos" | "atan" |
        "sinh" | "cosh" | "tanh" | "deg" | "rad" =>
      val v = evalVector(args.head, t, tr)
      val x = col("value")
      val fx = f match {
        case "abs"   => abs(x)
        case "ceil"  => ceil(x).cast(DoubleType)
        case "floor" => floor(x).cast(DoubleType)
        case "round" => round(x, 0).cast(DoubleType)
        case "sqrt"  => sqrt(x)
        case "exp"   => exp(x)
        case "ln"    => log(x)
        case "log2"  => log2(x)
        case "log10" => log10(x)
        case "sgn"   => signum(x)
        case "sin"   => sin(x)
        case "cos"   => cos(x)
        case "tan"   => tan(x)
        case "asin"  => asin(x)
        case "acos"  => acos(x)
        case "atan"  => atan(x)
        case "sinh"  => sinh(x)
        case "cosh"  => cosh(x)
        case "tanh"  => tanh(x)
        case "deg"   => degrees(x)
        case "rad"   => radians(x)
      }
      VecV(Vec(v.df.withColumn("value", fx), v.labels))

    case "pi" => ScalV(math.Pi)

    // predict_linear(v[range], t): least-squares slope over the window
    // extrapolated t seconds past the EVALUATION timestamp (the bucket
    // end, matching Prometheus — not the last sample's timestamp; same
    // window grouping as deriv)
    case "predict_linear" =>
      val sel = args.head match {
        case s @ Selector(_, _, Some(_), _, _) => s
        case _ => throw Unsupported("predict_linear expects a range selector")
      }
      val tSec = args(1) match {
        case NumLit(d) => d
        case _         => throw Unsupported("predict_linear needs a scalar t")
      }
      val df = rangeWindowed(sel, t, tr)
      val keys = bucket +: t.seriesLabels.map(col)
      val secs = (col("timestamp").cast(DoubleType)) / lit(1e9)
      val ordStruct = struct(col("timestamp") +: t.tieBreak.map(col): _*)
      val g = df.groupBy(keys: _*).agg(
        regr_slope(col("value"), secs).as("_slope"),
        regr_intercept(col("value"), secs).as("_icept"),
        max_by(col("value").cast(DoubleType), ordStruct).as("_lastv"))
      // single-sample windows have no slope — Prometheus drops them
      val v = g.filter(col("_slope").isNotNull)
        .withColumn("value",
          col("_icept") + col("_slope") *
            (bucket.cast(DoubleType) + lit(tr.stepSec.toDouble) + lit(tSec)))
        .drop("_slope", "_icept", "_lastv")
      VecV(spread(sel, Vec(v, t.seriesLabels), t, tr))

    case "clamp" | "clamp_min" | "clamp_max" =>
      val v = evalVector(args.head, t, tr)
      def num(i: Int): Double = args(i) match {
        case NumLit(d) => d
        case _         => throw Unsupported(s"$f bounds must be scalars")
      }
      val x = col("value")
      val fx = f match {
        case "clamp"     => least(greatest(x, lit(num(1))), lit(num(2)))
        case "clamp_min" => greatest(x, lit(num(1)))
        case "clamp_max" => least(x, lit(num(1)))
      }
      VecV(Vec(v.df.withColumn("value", fx), v.labels))

    case "day_of_week" | "day_of_month" | "day_of_year" | "days_in_month" |
        "hour" | "minute" | "month" | "year" =>
      val v = args.headOption.map(a => evalVector(a, t, tr))
        .getOrElse(spine(t, tr, bucket.cast(DoubleType)))
      val ts = timestamp_seconds(col("value"))
      val fx = f match {
        case "day_of_week"   => dayofweek(ts) - 1 // Prometheus: 0=Sunday
        case "day_of_month"  => dayofmonth(ts)
        case "day_of_year"   => dayofyear(ts)
        case "days_in_month" => dayofmonth(last_day(ts))
        case "hour"          => hour(ts)
        case "minute"        => minute(ts)
        case "month"         => month(ts)
        case "year"          => year(ts)
      }
      VecV(Vec(v.df.withColumn("value", fx.cast(DoubleType)), v.labels))

    case "label_replace" =>
      (args: @unchecked) match {
        case Seq(e1, StrLit(dst), StrLit(repl), StrLit(src), StrLit(regex)) =>
          VecV(labelReplace(evalVector(e1, t, tr), dst, repl, src, regex))
      }

    // Prometheus v3 experimental info(): graft the data labels of the
    // registered target_info table onto each sample, matched on the
    // identifying labels both sides share. Series without a matching
    // target pass through unchanged (left join); the target table is
    // one row per target, so the join is always a broadcast.
    case "info" =>
      if (args.length != 1)
        throw Unsupported("info(): the label-selector argument is not supported")
      val v = evalVector(args.head, t, tr)
      val infoDf = t.infoLabels.getOrElse(
        throw Unsupported("info(): no target_info table registered"))
      val keys = infoDf.columns.toSeq.filter(v.labels.contains)
      if (keys.isEmpty)
        throw Unsupported("info(): no identifying labels shared with target_info")
      val dataCols = infoDf.columns.toSeq
        .filterNot(keys.contains).filterNot(v.labels.contains)
      val joined = v.df.join(
        broadcast(infoDf.select((keys ++ dataCols).map(col): _*)), keys, "left")
      VecV(Vec(joined, v.labels ++ dataCols))

    case "label_join" =>
      (args: @unchecked) match {
        case Seq(e1, StrLit(dst), StrLit(sep), srcs @ _*) =>
          val v = evalVector(e1, t, tr)
          val parts = srcs.map { case StrLit(s) => col(s); case _ => throw Unsupported("label_join sources must be strings") }
          val df = v.df.withColumn(dst, concat_ws(sep, parts: _*))
          VecV(Vec(df, if (v.labels.contains(dst)) v.labels else v.labels :+ dst))
      }

    case "sort" | "sort_desc" =>
      val v = evalVector(args.head, t, tr)
      val ord = if (f == "sort") col("value").asc else col("value").desc
      VecV(Vec(v.df.orderBy(ord +: v.labels.map(col(_).asc): _*), v.labels))

    // sort_by_label / sort_by_label_desc (Prometheus experimental):
    // presentation-order sort by label VALUES, value as final tie-break
    case "sort_by_label" | "sort_by_label_desc" =>
      val v = evalVector(args.head, t, tr)
      val lbls = args.tail.map {
        case StrLit(s) => s
        case _         => throw Unsupported(s"$f needs label-name strings")
      }
      lbls.filterNot(v.labels.contains).foreach(l =>
        throw Unsupported(s"$f: unknown label $l"))
      val asc = f == "sort_by_label"
      val ord = lbls.map(l => if (asc) col(l).asc else col(l).desc) :+
        (if (asc) col("value").asc else col("value").desc)
      VecV(Vec(v.df.orderBy(ord: _*), v.labels))

    case "histogram_quantile" =>
      val phi = args.head match {
        case NumLit(d) => d
        case _         => throw Unsupported("histogram_quantile needs scalar φ")
      }
      nativeSel(args(1), t) match {
        case Some((sel, mode)) => VecV(nativeQuantile(phi, sel, mode, t, tr))
        case None =>
          val v = evalVector(args(1), t, tr)
          VecV(histogramQuantile(phi, v))
      }

    case "histogram_count" | "histogram_sum" | "histogram_avg" =>
      VecV(nativeScalar(f, args, t, tr))

    case "histogram_fraction" =>
      args match {
        case Seq(NumLit(lo), NumLit(hi), inner) =>
          nativeSel(inner, t) match {
            case Some((sel, mode)) => VecV(nativeFraction(lo, hi, sel, mode, t, tr))
            case None =>
              VecV(Vec(t.df.sparkSession.range(0)
                .select(lit(0L).as("bucket_start"), lit(0.0).as("value")), Seq.empty))
          }
        case _ => throw Unsupported("histogram_fraction needs scalar bounds")
      }

    case other => throw Unsupported(s"function $other")
  }

  // ---- native histograms ------------------------------------------------

  private val nhFields: Seq[String] =
    Seq("h_count", "h_sum_q", "zero_count") ++ (0 until 8).map(i => s"b$i")

  /** the argument shapes histogram_* accept: a bare native selector
    * (instant — the LAST cumulative sample per series per bucket) or
    * rate/increase over a native range selector (per-field last − first,
    * the counter delta). Anything else → None, and the caller falls back
    * to classic-series semantics. */
  private def nativeSel(e: Expr, t: MetricsTable): Option[(Selector, String)] = e match {
    case s: Selector if s.rangeNs.isEmpty && isNative(s, t) => Some((s, "instant"))
    case Call(rf @ ("rate" | "increase"), Seq(s: Selector))
        if s.rangeNs.isDefined && isNative(s, t) => Some((s, rf))
    case _ => None
  }

  private def isNative(s: Selector, t: MetricsTable): Boolean =
    t.nativeHist.exists(nh => s.metric.exists(nh.metrics.contains))

  /** reduce native cumulative samples to one histogram per (bucket,
    * series): instant = the last sample's fields; rate/increase = last −
    * first per field. ONE hash aggregate with map-side partials (max_by/
    * min_by on timestamp — unique per series in Prometheus, so no
    * tie-break is needed), the same no-window shape as the scalar
    * instant/rate paths. Fields stay exact integers here; only the final
    * scalar projection divides. */
  private def nativeReduce(sel: Selector, mode: String, t: MetricsTable,
      tr: TimeRange): DataFrame = {
    if (sel.at.isDefined)
      throw Unsupported("@ on a native-histogram selector")
    val nh = t.nativeHist.get
    // rangeWindowedDf applies the same sub-step trailing-window filter
    // as the classic path: rate(native[6h]) at a 1d step deltas over the
    // trailing 6h of each bucket, not the whole day (then nativeScalar
    // divides by the RANGE seconds — window and divisor agree).
    val df = rangeWindowedDf(sel, nh.df, tr)
    val keys = bucket +: t.seriesLabels.map(col)
    val aggs =
      if (mode == "instant") nhFields.map(fd => max_by(col(fd), col("timestamp")).as(fd))
      else nhFields.map(fd =>
        (max_by(col(fd), col("timestamp")) - min_by(col(fd), col("timestamp"))).as(fd))
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** histogram_count/sum/avg. Over classic float series these yield the
    * EMPTY vector (Prometheus semantics: the functions skip non-histogram
    * samples), never an error. `h_sum_q` is micro-units, so sum/avg
    * divide by 1e6 exactly once — integer in, one IEEE division out,
    * bit-stable across engines. */
  private def nativeScalar(f: String, args: Seq[Expr], t: MetricsTable,
      tr: TimeRange): Vec = {
    val (sel, mode) = args match {
      case Seq(e) => nativeSel(e, t) match {
        case Some(sm) => sm
        case None =>
          return Vec(t.df.sparkSession.range(0)
            .select(lit(0L).as("bucket_start"), lit(0.0).as("value")), Seq.empty)
      }
      case _ => throw Unsupported(s"$f expects one argument")
    }
    val red = nativeReduce(sel, mode, t, tr)
    val num: Column = f match {
      case "histogram_count" => col("h_count").cast(DoubleType)
      case "histogram_sum"   => col("h_sum_q").cast(DoubleType) / lit(1e6)
      case _                 => (col("h_sum_q").cast(DoubleType) / lit(1e6)) /
                                  col("h_count").cast(DoubleType)
    }
    // rate divides the delta by the range seconds; avg is scale-free
    val v = if (mode == "rate" && f != "histogram_avg")
      num / lit(sel.rangeNs.get / 1e9) else num
    val base = if (f == "histogram_avg") red.filter(col("h_count") > 0) else red
    Vec(base.select(bucket +: t.seriesLabels.map(col)
      :+ v.cast(DoubleType).as("value"): _*), t.seriesLabels)
  }

  /** histogram_fraction over a NATIVE histogram, EDGE-ALIGNED bounds
    * only: lo must be 0 and hi one of the dyadic bucket edges (or +Inf),
    * so the fraction is a pure ratio of exact integer masses — no
    * in-bucket interpolation, no cross-engine float drift (the same
    * discipline as the stored exp-hist fraction, q224). Non-edge bounds
    * reject explicitly rather than silently interpolating. */
  private def nativeFraction(lo: Double, hi: Double, sel: Selector,
      mode: String, t: MetricsTable, tr: TimeRange): Vec = {
    if (lo != 0.0)
      throw Unsupported(s"histogram_fraction: only lo=0 is edge-exact (got $lo)")
    val ubs = (0 until 8).map(i => math.pow(2.0, (i + 1) / 4.0))
    val red = nativeReduce(sel, mode, t, tr)
    val zc = col("zero_count")
    val cums = (0 until 8).map(i => (0 to i).map(j => col(s"b$j")).reduce(_ + _))
    val total = zc + cums(7)
    val num =
      if (hi.isPosInfinity) total
      else ubs.indexOf(hi) match {
        case -1 => throw Unsupported(
          s"histogram_fraction: hi=$hi is not a bucket edge (edges: ${ubs.mkString(", ")})")
        case i  => zc + cums(i)
      }
    Vec(red.filter(total > 0)
      .select(bucket +: t.seriesLabels.map(col)
        :+ (num.cast(DoubleType) / total.cast(DoubleType)).as("value"): _*),
      t.seriesLabels)
  }

  /** histogram_quantile over a NATIVE histogram: cumulative walk across
    * zero bucket + the 8 positive buckets. The result is the target
    * bucket's UPPER BOUND in the linear domain — the 8 possible values
    * are dyadic-derived literals (2^((i+1)/4), scale 2) inlined at plan
    * time, the same exact-domain discipline as the stored exp-hist walk
    * (q92): no exponential interpolation, so no cross-engine pow() ulp
    * drift. A rank inside the zero mass resolves to 0.0. Quantiles are
    * scale-invariant, so rate and increase share the integer-delta walk. */
  private def nativeQuantile(phi: Double, sel: Selector, mode: String,
      t: MetricsTable, tr: TimeRange): Vec = {
    val red = nativeReduce(sel, mode, t, tr)
    val zc = col("zero_count")
    val cums = (0 until 8).map(i => (0 to i).map(j => col(s"b$j")).reduce(_ + _))
    val total = zc + cums(7)
    val rank = lit(phi) * total
    val posIdx = (0 until 8).foldRight(lit(7): Column) {
      (i, els) => when(zc + cums(i) >= rank, i).otherwise(els)
    }
    val ubs = (0 until 8).map(i => math.pow(2.0, (i + 1) / 4.0))
    val ubCol = (0 until 8).foldRight(lit(ubs(7)): Column) {
      (i, els) => when(posIdx === i, ubs(i)).otherwise(els)
    }
    val v = when(zc >= rank, lit(0.0)).otherwise(ubCol)
    Vec(red.filter(total > 0)
      .select(bucket +: t.seriesLabels.map(col)
        :+ v.cast(DoubleType).as("value"): _*), t.seriesLabels)
  }

  private def overTime(f: String, args: Seq[Expr], t: MetricsTable, tr: TimeRange): Value = {
    // subquery form: evaluate inner at resolution, then re-reduce the
    // resolution buckets per outer step (reference metrics.rs:829-909)
    args.last match {
      case Subquery(inner, rangeNs0, res0, at0) =>
        val step = tr.stepSec
        // `@` pins the subquery: one evaluation window — the trailing
        // `range` ending at the pinned bucket's end — whose single
        // result replicates across the query grid (mirrors `spread` for
        // pinned selectors; reference metrics.rs:1746-1810).
        val pinned: Option[Long] = at0.map {
          case AtMod.Start   => tr.startSec / step * step
          case AtMod.End     => (tr.endSec - 1) / step * step
          case AtMod.Time(s) => s / step * step
        }
        val trEff = pinned match {
          case Some(pb) =>
            val rangeSec = math.max(1L, rangeNs0 / 1000000000L)
            tr.copy(startSec = pb + step - rangeSec, endSec = pb + step)
          case None => tr
        }
        // res 0 = `[range:]` — the grammar's "default resolution", which
        // evaluates at the outer query step
        val (innerVec, reKey) =
          if (res0 % 1000000000L == 0) {
            val res = if (res0 == 0) tr.stepSec else res0 / 1000000000L
            (evalVector(inner, t, trEff.copy(stepSec = res)),
              pinned match {
                case Some(pb) => lit(pb)
                case None =>
                  (col("bucket_start").divide(lit(step))).cast("long") * lit(step)
              })
          } else {
            // SUB-SECOND resolution (`x[30s:100ms]`): the seconds grid
            // can't carry it, so the inner instant evaluates on a
            // µs-domain grid and the outer re-key folds µs → the seconds
            // step grid. Composite inners would need a full µs-domain
            // evaluator — rejected explicitly, not silently coarsened.
            val sel = inner match {
              case s @ Selector(_, _, None, _, _) if s.at.isEmpty => s
              case _ => throw Unsupported(
                "sub-second subquery resolution supports a bare selector inner")
            }
            (instantMicros(sel, t, trEff, res0),
              pinned match {
                case Some(pb) => lit(pb)
                case None => expr(s"(bucket_start div ${step * 1000000L}) * $step")
              })
          }
        val keys = reKey.as("bucket_start") +: innerVec.labels.map(col)
        val x = col("value").cast(DoubleType)
        val out = f match {
          case "sum_over_time"   => innerVec.df.groupBy(keys: _*).agg(sum(x).as("value"))
          case "avg_over_time"   => innerVec.df.groupBy(keys: _*).agg(avg(x).as("value"))
          case "min_over_time"   => innerVec.df.groupBy(keys: _*).agg(min(x).as("value"))
          case "max_over_time"   => innerVec.df.groupBy(keys: _*).agg(max(x).as("value"))
          case "count_over_time" => innerVec.df.groupBy(keys: _*).agg(count(lit(1)).cast(DoubleType).as("value"))
          // 1 per bucket with ≥1 sample; empty buckets yield no row —
          // exactly present_over_time (reference promql.rs:1296-1298)
          case "present_over_time" => innerVec.df.groupBy(keys: _*).agg(lit(1.0).as("value"))
          case "last_over_time" =>
            // the inner eval yields one row per (resolution bucket, series),
            // so the resolution bucket IS the deterministic order
            innerVec.df.groupBy(keys: _*)
              .agg(max_by(x, col("bucket_start")).as("value"))
          case "quantile_over_time" =>
            val phi = args.head match {
              case NumLit(d) => d
              case _         => throw Unsupported("quantile_over_time needs φ")
            }
            innerVec.df.groupBy(keys: _*).agg(percentile(x, lit(phi)).as("value"))
          case "stddev_over_time" | "stdvar_over_time" =>
            val g = innerVec.df.groupBy(keys: _*)
              .agg(sum(x).as("_s1"), sum(x * x).as("_s2"),
                count(lit(1)).cast(DoubleType).as("_n"))
              .withColumn("value",
                (col("_s2") - col("_s1") * col("_s1") / col("_n")) / col("_n"))
            (if (f == "stddev_over_time") g.withColumn("value", sqrt(col("value"))) else g)
              .drop("_s1", "_s2", "_n")
          case "mad_over_time" =>
            // median absolute deviation: median(|x − median(x)|). The
            // inner median comes from a partition window (no self-join);
            // the deviations re-aggregate on the SAME keys, so the
            // window's exchange is reused by the final hash aggregate.
            val d2 = innerVec.df.withColumn("_bs", reKey)
            val w = Window.partitionBy(col("_bs") +: innerVec.labels.map(col): _*)
            d2.withColumn("_med", percentile(x, lit(0.5)).over(w))
              .groupBy(col("_bs").as("bucket_start") +: innerVec.labels.map(col): _*)
              .agg(percentile(abs(x - col("_med")), lit(0.5)).as("value"))
          case other => throw Unsupported(s"$other over a subquery")
        }
        // a pinned subquery has ONE bucket; replicate it across the
        // query grid with a broadcast of the tiny bucket spine
        val shaped =
          if (pinned.isEmpty) out
          else out.drop("bucket_start").crossJoin(
            broadcast(spine(t, tr, lit(0.0)).df.select("bucket_start")))
        return VecV(Vec(shaped, innerVec.labels))
      case _ => ()
    }
    val sel = rangeSel(args.lastOption.toSeq, f) // quantile has (phi, sel)
    val df = rangeWindowed(sel, t, tr)
    val keys = bucket +: t.seriesLabels.map(col)
    val x = col("value").cast(DoubleType)
    val out = f match {
      case "sum_over_time"   => df.groupBy(keys: _*).agg(sum(x).as("value"))
      case "avg_over_time"   => df.groupBy(keys: _*).agg(avg(x).as("value"))
      case "min_over_time"   => df.groupBy(keys: _*).agg(min(x).as("value"))
      case "max_over_time"   => df.groupBy(keys: _*).agg(max(x).as("value"))
      case "count_over_time" => df.groupBy(keys: _*).agg(count(lit(1)).cast(DoubleType).as("value"))
      case "present_over_time" => df.groupBy(keys: _*).agg(lit(1.0).as("value"))
      case "last_over_time" =>
        val ordStruct = struct(col("timestamp") +: t.tieBreak.map(col): _*)
        df.groupBy(keys: _*).agg(max_by(x, ordStruct).as("value"))
      case "stddev_over_time" | "stdvar_over_time" =>
        val g = df.groupBy(keys: _*)
          .agg(sum(x).as("_s1"), sum(x * x).as("_s2"), count(lit(1)).cast(DoubleType).as("_n"))
          .withColumn("value", (col("_s2") - col("_s1") * col("_s1") / col("_n")) / col("_n"))
        (if (f == "stddev_over_time") g.withColumn("value", sqrt(col("value"))) else g)
          .drop("_s1", "_s2", "_n")
      case "quantile_over_time" =>
        val phi = args.head match {
          case NumLit(d) => d
          case _         => throw Unsupported("quantile_over_time needs φ")
        }
        df.groupBy(keys: _*).agg(percentile(x, lit(phi)).as("value"))
      case "mad_over_time" =>
        // median(|x − median(x)|): window median (no self-join), then a
        // hash aggregate on the same keys reusing the window's exchange
        val w = Window.partitionBy(keys: _*)
        df.withColumn("_med", percentile(x, lit(0.5)).over(w))
          .groupBy(keys: _*)
          .agg(percentile(abs(x - col("_med")), lit(0.5)).as("value"))
      // Prometheus 3.x experimental ts_of_* family: the SAMPLE TIMESTAMP
      // (epoch seconds) of the chosen point — one max_by/min_by hash agg.
      // Ties: max → latest sample wins, min → earliest (pinned in the
      // oracle the same way)
      case "ts_of_max_over_time" | "ts_of_min_over_time" | "ts_of_last_over_time" =>
        val ts = expr("timestamp div 1000000000").cast(DoubleType)
        val pick = f match {
          case "ts_of_max_over_time" =>
            max_by(ts, struct(x +: col("timestamp") +: t.tieBreak.map(col): _*))
          case "ts_of_min_over_time" =>
            min_by(ts, struct(x +: col("timestamp") +: t.tieBreak.map(col): _*))
          case _ =>
            max_by(ts, struct(col("timestamp") +: t.tieBreak.map(col): _*))
        }
        df.groupBy(keys: _*).agg(pick.as("value"))
    }
    VecV(spread(sel, Vec(out, t.seriesLabels), t, tr))
  }

  /** Prometheus histogram_quantile over cumulative `le` series
    * (reference metrics.rs:1061-1224,2363): per (bucket, labels∖le) find the
    * first bucket whose cumulative count ≥ φ·total and linearly
    * interpolate; +Inf picks the highest finite bound. */
  def histogramQuantile(phi: Double, v: Vec): Vec = {
    if (!v.labels.contains("le"))
      throw Unsupported("histogram_quantile input must carry an 'le' label")
    val groupLabels = v.labels.filterNot(_ == "le")
    val leNum = when(col("le") === "+Inf", lit(Double.PositiveInfinity))
      .otherwise(col("le").cast(DoubleType))
    val keys = bucket +: groupLabels.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("_le").asc)
    val df = v.df
      .withColumn("_le", leNum)
      .withColumn("_prev_le", lag(col("_le"), 1, 0.0).over(w))
      .withColumn("_prev_cum", lag(col("value"), 1, 0.0).over(w))
      .withColumn("_total", max(when(col("_le") === Double.PositiveInfinity, col("value"))).over(
        Window.partitionBy(keys: _*)))
      .withColumn("_maxfinite", max(when(col("_le") =!= Double.PositiveInfinity, col("_le"))).over(
        Window.partitionBy(keys: _*)))
      .withColumn("_rank", lit(phi) * col("_total"))
    val hit = df
      .filter(col("_total") > 0 && col("value") >= col("_rank"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val interp = when(col("_le") === Double.PositiveInfinity, col("_maxfinite"))
      .otherwise(
        col("_prev_le") + (col("_le") - col("_prev_le")) *
          (col("_rank") - col("_prev_cum")) / (col("value") - col("_prev_cum")))
    Vec(
      hit.withColumn("value", interp)
        .select(bucket +: groupLabels.map(col) :+ col("value"): _*),
      groupLabels)
  }

  // ---- aggregations -----------------------------------------------------

  private def agg(op: String, param: Option[Expr], v: Vec, by: Seq[String],
      without: Seq[String], t: MetricsTable, tr: TimeRange): Vec = {
    val outLabels =
      if (by.nonEmpty) by
      else if (without.nonEmpty) v.labels.filterNot(without.contains)
      else Seq.empty
    val keys = bucket +: outLabels.map(col)
    val x = col("value")
    op match {
      case "sum"   => Vec(v.df.groupBy(keys: _*).agg(sum(x).as("value")), outLabels)
      case "avg"   => Vec(v.df.groupBy(keys: _*).agg(avg(x).as("value")), outLabels)
      case "min"   => Vec(v.df.groupBy(keys: _*).agg(min(x).as("value")), outLabels)
      case "max"   => Vec(v.df.groupBy(keys: _*).agg(max(x).as("value")), outLabels)
      case "count" => Vec(v.df.groupBy(keys: _*).agg(count(lit(1)).cast(DoubleType).as("value")), outLabels)
      case "group" => Vec(v.df.groupBy(keys: _*).agg(lit(1.0).as("value")), outLabels)
      case "stddev" | "stdvar" =>
        val g = v.df.groupBy(keys: _*)
          .agg(sum(x).as("_s1"), sum(x * x).as("_s2"), count(lit(1)).cast(DoubleType).as("_n"))
          .withColumn("value", (col("_s2") - col("_s1") * col("_s1") / col("_n")) / col("_n"))
        Vec((if (op == "stddev") g.withColumn("value", sqrt(col("value"))) else g)
          .drop("_s1", "_s2", "_n"), outLabels)
      case "quantile" =>
        val phi = param match {
          case Some(NumLit(d)) => d
          case _               => throw Unsupported("quantile needs scalar φ")
        }
        Vec(v.df.groupBy(keys: _*).agg(percentile(x, lit(phi)).as("value")), outLabels)
      case "topk" | "bottomk" =>
        val k = param match {
          case Some(NumLit(d)) => d.toInt
          case _               => throw Unsupported(s"$op needs k")
        }
        // top/bottom k series PER BUCKET (reference metrics.rs:2608-2691);
        // label ascending tie-break keeps the cut deterministic
        val ord = (if (op == "topk") x.desc else x.asc) +: v.labels.map(col(_).asc)
        // two-stage rank: a salted local top-k first, so the global
        // per-bucket window ranks ≤ 32·k rows instead of the bucket's
        // whole series set — at 1 M series per bucket the single-task
        // final sort is the skew bottleneck (VERDICT r1 scale audit)
        val pruned =
          if (v.labels.isEmpty) v.df
          else {
            val salt = pmod(hash(v.labels.map(col): _*), lit(32))
            val w1 = Window.partitionBy(bucket, col("_salt")).orderBy(ord: _*)
            v.df.withColumn("_salt", salt)
              .withColumn("_rn1", row_number().over(w1))
              .filter(col("_rn1") <= k).drop("_salt", "_rn1")
          }
        val w = Window.partitionBy(bucket).orderBy(ord: _*)
        Vec(pruned.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k).drop("_rn"),
          v.labels)

      // limitk / limit_ratio (Prometheus experimental aggregations):
      // a deterministic sample of series. Prometheus picks "arbitrary but
      // consistent" members by hashing the series labels; we hash with
      // md5 over the label values so the pick is reproducible across
      // engines and runs. Pure per-series filters — no global sort, no
      // extra shuffle beyond the rank window for limitk.
      case "limitk" =>
        val k = scalarParam(param, t, tr, "limitk").toInt
        val hk = md5(concat_ws("\u0001", v.labels.map(col): _*))
        val w = Window.partitionBy(keys: _*)
          .orderBy(hk.asc +: v.labels.map(col(_).asc): _*)
        Vec(v.df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k).drop("_rn"),
          v.labels)
      case "limit_ratio" =>
        val r = scalarParam(param, t, tr, "limit_ratio")
        if (r < -1 || r > 1) throw Unsupported(s"limit_ratio r must be in [-1,1]: $r")
        // md5 hex compares lexicographically exactly as a base-16
        // fraction (fixed 32 chars, '0'-'9' < 'a'-'f'), so `hash < r`
        // is a plain string comparison both here and in the SQL oracle.
        // Negative r selects the complement slice: limit_ratio(0.3, v)
        // and limit_ratio(-0.7, v) together cover every series.
        val hk = md5(concat_ws("\u0001", v.labels.map(col): _*))
        val cond =
          if (r >= 0) hk < lit(hexFraction(r))
          else hk >= lit(hexFraction(1 + r))
        Vec(v.df.filter(cond), v.labels)

      case "count_values" =>
        val lbl = param match {
          case Some(StrLit(s)) => s
          case _               => throw Unsupported("count_values needs a label name")
        }
        val df = v.df.withColumn(lbl, x.cast(StringType))
          .groupBy(bucket +: (outLabels :+ lbl).map(col): _*)
          .agg(count(lit(1)).cast(DoubleType).as("value"))
        Vec(df, outLabels :+ lbl)
      case other => throw Unsupported(s"aggregation $other")
    }
  }

  /** aggregation parameter as a scalar — accepts any scalar-typed expr
    * (so `-0.6` (= 0−0.6 after unary desugar) works for limit_ratio) */
  private def scalarParam(p: Option[Expr], t: MetricsTable, tr: TimeRange,
      what: String): Double = p match {
    case Some(e) => eval(e, t, tr) match {
      case ScalV(d) => d
      case _        => throw Unsupported(s"$what needs a scalar parameter")
    }
    case None => throw Unsupported(s"$what needs a scalar parameter")
  }

  /** first 32 hex digits of fraction r ∈ [0,1] — the threshold string an
    * md5 hex digest compares against as a base-16 fraction (limit_ratio). */
  private def hexFraction(r: Double): String = {
    val sb = new StringBuilder
    var x = r
    var i = 0
    while (i < 32) {
      x *= 16
      val d = math.min(15, math.max(0, x.toInt))
      sb.append("0123456789abcdef".charAt(d))
      x -= d
      i += 1
    }
    sb.toString
  }

  // ---- binary operators -------------------------------------------------

  private def arith(op: String, l: Column, r: Column): Column = op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    case "/" => l / r
    case "%" => l % r
    case "^" => pow(l, r)
    case "atan2" => atan2(l, r)
    case _   => throw Unsupported(s"operator $op")
  }

  private def cmp(op: String, l: Column, r: Column): Column = op match {
    case ">"  => l > r
    case "<"  => l < r
    case ">=" => l >= r
    case "<=" => l <= r
    case "==" => l === r
    case "!=" => l =!= r
  }

  private val cmpSet = Set(">", "<", ">=", "<=", "==", "!=")

  private def binary(op: String, le: Expr, re: Expr, boolMode: Boolean,
      on: Seq[String], ignoring: Seq[String],
      group: Option[(Boolean, Seq[String])],
      t: MetricsTable, tr: TimeRange): Value = {
    (eval(le, t, tr), eval(re, t, tr)) match {
      case (ScalV(a), ScalV(b)) =>
        if (cmpSet(op)) throw Unsupported("scalar comparison needs bool")
        else ScalV(op match {
          case "+" => a + b
          case "-" => a - b
          case "*" => a * b
          case "/" => a / b
          case "%" => a % b
          case "^" => math.pow(a, b)
          case "atan2" => math.atan2(a, b)
        })

      case (VecV(v), ScalV(s)) => VecV(vecScalar(op, v, s, boolMode, scalarOnLeft = false))
      case (ScalV(s), VecV(v)) => VecV(vecScalar(op, v, s, boolMode, scalarOnLeft = true))
      case (VecV(l), VecV(r))  => VecV(binaryVec(op, l, r, boolMode, on, ignoring, group))
    }
  }

  /** vector ⋄ scalar (or scalar ⋄ vector when `scalarOnLeft`). Public so
    * the LogQL metric layer reuses the same algebra (reference
    * logs.rs:906-1100 shares eval with promql the same way). */
  def vecScalar(op: String, v: Vec, s: Double, boolMode: Boolean,
      scalarOnLeft: Boolean): Vec = {
    val c = lit(s)
    def ordered(f: (Column, Column) => Column): Column =
      if (scalarOnLeft) f(c, col("value")) else f(col("value"), c)
    if (cmpSet(op)) {
      val kept =
        if (boolMode)
          v.df.withColumn("value", when(ordered(cmp(op, _, _)), 1.0).otherwise(0.0))
        else v.df.filter(ordered(cmp(op, _, _)))
      Vec(kept, v.labels)
    } else Vec(v.df.withColumn("value", ordered(arith(op, _, _))), v.labels)
  }

  /** label_replace over a lowered vector — shared by PromQL and the LogQL
    * metric layer (reference logs.rs:1102-1188 mirrors the metrics
    * implementation the same way). Anchored regex; non-match leaves dst
    * unchanged (empty when absent). */
  def labelReplace(v: Vec, dst: String, repl: String, src: String,
      regex: String): Vec = {
    val anchored = "^(?:" + regex + ")$"
    val srcCol = if (v.labels.contains(src)) col(src) else lit("")
    val newVal = when(srcCol.rlike(anchored),
      regexp_replace(srcCol, anchored, repl))
      .otherwise(if (v.labels.contains(dst)) col(dst) else lit(""))
    Vec(v.df.withColumn(dst, newVal),
      if (v.labels.contains(dst)) v.labels else v.labels :+ dst)
  }

  /** vector ⋄ vector with matching. Default match key: all shared labels;
    * on() restricts to the listed labels; ignoring() removes labels from
    * the key set (reference logs.rs match_key, :906-1100). Set ops are
    * semi/anti joins; arithmetic/comparison are inner equi joins — never
    * collect-side maps. */
  def binaryVec(op: String, l: Vec, r: Vec, boolMode: Boolean,
      on: Seq[String], ignoring: Seq[String],
      group: Option[(Boolean, Seq[String])] = None): Vec = {
    val shared =
      if (on.nonEmpty) on
      else l.labels.intersect(r.labels).filterNot(ignoring.contains)
    val joinKeys = "bucket_start" +: shared
    group match {
      case Some((leftMany, include)) if !Set("and", "or", "unless")(op) =>
        // many-to-one matching (group_left/group_right): the reference
        // only parse-accepts these (promql.rs:417-419); here they are a
        // real equi join — the "one" side projected to its match keys +
        // value + included labels, result labels from the many side
        val (many, one) = if (leftMany) (l, r) else (r, l)
        val inc = include.filter(one.labels.contains).filterNot(many.labels.contains)
        // Prometheus errors with "multiple matches for labels" when the
        // 'one' side is not unique per match key — without this guard the
        // inner join would silently multiply the many side. Enforced
        // distributed (window count + raise_error), no driver action.
        val dupW = Window.partitionBy(joinKeys.map(col): _*)
        val oneProj = one.df
          .select((joinKeys ++ inc :+ "value").distinct.map(col): _*)
          .withColumnRenamed("value", "_ov")
          .withColumn("_ov",
            when(count(lit(1)).over(dupW) > 1,
              raise_error(lit("group_left/group_right: multiple matches for labels on the 'one' side")))
              .otherwise(col("_ov")))
        val j = many.df.withColumnRenamed("value", "_mv").join(oneProj, joinKeys, "inner")
        val (lv, rv) = if (leftMany) (col("_mv"), col("_ov")) else (col("_ov"), col("_mv"))
        val out =
          if (cmpSet(op)) {
            if (boolMode)
              j.withColumn("value", when(cmp(op, lv, rv), 1.0).otherwise(0.0))
            else j.filter(cmp(op, lv, rv)).withColumn("value", lv)
          } else j.withColumn("value", arith(op, lv, rv))
        val outLabels = (many.labels ++ inc).distinct
        return Vec(out.select(("bucket_start" +: outLabels :+ "value").distinct.map(col): _*),
          outLabels)
      case _ => ()
    }
    op match {
      case "and" =>
        // semi-join on series identity (reference metrics.rs:570-659)
        Vec(l.df.join(r.df.select(joinKeys.map(col): _*).distinct(),
          joinKeys, "left_semi"), l.labels)
      case "unless" =>
        Vec(l.df.join(r.df.select(joinKeys.map(col): _*).distinct(),
          joinKeys, "left_anti"), l.labels)
      case "or" =>
        if (l.labels != r.labels)
          throw Unsupported("or requires identical label sets")
        // union with left priority: right rows only for missing keys
        val rOnly = r.df.join(l.df.select(joinKeys.map(col): _*).distinct(),
          joinKeys, "left_anti")
        Vec(l.df.unionByName(rOnly), l.labels)
      case _ =>
        // one-to-one vector match on (bucket, shared labels) — a real
        // equi join, not a collect-side hash map
        val lf = l.df.withColumnRenamed("value", "_lv")
        val rf = r.df.select((joinKeys :+ "value").map(col): _*)
          .withColumnRenamed("value", "_rv")
        val j = lf.join(rf, joinKeys, "inner")
        val out =
          if (cmpSet(op)) {
            if (boolMode)
              j.withColumn("value",
                when(cmp(op, col("_lv"), col("_rv")), 1.0).otherwise(0.0))
            else j.filter(cmp(op, col("_lv"), col("_rv")))
              .withColumn("value", col("_lv"))
          } else j.withColumn("value", arith(op, col("_lv"), col("_rv")))
        // with on(): result label set = the match keys (one-to-one)
        val outLabels = if (on.nonEmpty) shared else l.labels
        val proj = ("bucket_start" +: outLabels :+ "value").distinct.map(col)
        Vec(out.select(proj: _*), outLabels)
    }
  }
}
