package graft.promql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Eval.{MetricsTable, TimeRange}

/** Engine-level eval tests for functions whose floating-point oracles
  * would be engine-dependent (trig via libm, regression accumulation):
  * exact inputs make the expected outputs exact.
  */
class EvalSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def table(rows: Seq[(Long, String, Double)]): MetricsTable = {
    import spark.implicits._
    MetricsTable(
      rows.toDF("timestamp", "service_name", "value")
        .withColumn("metric_name", lit("m")),
      seriesLabels = Seq("service_name"))
  }

  private def run(q: String, t: MetricsTable, tr: TimeRange): Seq[(Long, Double)] =
    Eval.evalVector(Parser.parse(q), t, tr).df
      .select("bucket_start", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  test("predict_linear extrapolates the fitted line past the eval timestamp") {
    // exactly linear series v = 2·t + 1 over t = 0..3 s: slope 2 and
    // intercept 1 are exact (centered sums of exact halves). The eval
    // timestamp is the bucket end (4 s, Prometheus semantics), so the
    // prediction at 4+10 s is exactly 1 + 2·14 = 29.0
    val t = table(Seq(
      (0L, "a", 1.0), (1000000000L, "a", 3.0),
      (2000000000L, "a", 5.0), (3000000000L, "a", 7.0)))
    val got = run("predict_linear(m[4s], 10)", t, TimeRange(0, 4, 4))
    assert(got == Seq((0L, 29.0)))
  }

  test("predict_linear drops single-sample windows (no slope)") {
    val t = table(Seq((0L, "a", 1.0)))
    assert(run("predict_linear(m[4s], 10)", t, TimeRange(0, 4, 4)).isEmpty)
  }

  test("trig family applies java.lang.Math semantics per value") {
    val t = table(Seq((0L, "a", 0.5)))
    val tr = TimeRange(0, 4, 4)
    assert(run("sin(m)", t, tr) == Seq((0L, math.sin(0.5))))
    assert(run("cos(m)", t, tr) == Seq((0L, math.cos(0.5))))
    assert(run("atan(m)", t, tr) == Seq((0L, math.atan(0.5))))
    assert(run("tanh(m)", t, tr) == Seq((0L, math.tanh(0.5))))
    assert(run("deg(m)", t, tr) == Seq((0L, math.toDegrees(0.5))))
    assert(run("rad(m)", t, tr) == Seq((0L, math.toRadians(0.5))))
  }

  test("holt_winters runs the exact Prometheus smoother per window") {
    // sf = tf = 0.5 over samples 1, 2, 4: s=1 b=1 → (v=2) s=2 b=1 →
    // (v=4) s=3.5 — all exact binary fractions
    val t = table(Seq(
      (0L, "a", 1.0), (1000000000L, "a", 2.0), (2000000000L, "a", 4.0)))
    assert(run("holt_winters(m[4s], 0.5, 0.5)", t, TimeRange(0, 4, 4)) ==
      Seq((0L, 3.5)))
    // the Prometheus-3 rename is an alias for the same smoother
    assert(run("double_exponential_smoothing(m[4s], 0.5, 0.5)", t, TimeRange(0, 4, 4)) ==
      Seq((0L, 3.5)))
    // single-sample windows drop
    val t1 = table(Seq((0L, "a", 1.0)))
    assert(run("holt_winters(m[4s], 0.5, 0.5)", t1, TimeRange(0, 4, 4)).isEmpty)
  }

  test("holt_winters rejects bad arity and out-of-range smoothing factors") {
    val t = table(Seq((0L, "a", 1.0), (1000000000L, "a", 2.0)))
    val tr = TimeRange(0, 4, 4)
    intercept[Ast.Unsupported](run("holt_winters(m[4s])", t, tr))
    intercept[Ast.Unsupported](run("holt_winters(m[4s], 1.5, 0.5)", t, tr))
    intercept[Ast.Unsupported](run("holt_winters(m[4s], 0.5, 0.0)", t, tr))
  }

  test("group_left fails loudly when the one side is not unique per match key") {
    import spark.implicits._
    // many side keyed by (service, pod); one side has TWO rows for
    // service=a → Prometheus raises "multiple matches for labels"
    val many = Eval.Vec(
      Seq((0L, "a", "p1", 10.0), (0L, "a", "p2", 20.0))
        .toDF("bucket_start", "service_name", "pod", "value"),
      Seq("service_name", "pod"))
    val oneDup = Eval.Vec(
      Seq((0L, "a", 1.0), (0L, "a", 2.0)).toDF("bucket_start", "service_name", "value"),
      Seq("service_name"))
    val joined = Eval.binaryVec("*", many, oneDup, boolMode = false,
      on = Seq("service_name"), ignoring = Nil, group = Some((true, Nil)))
    val e = intercept[Exception](joined.df.collect())
    assert(e.getMessage.contains("multiple matches") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple matches")))
    // unique one side still joins cleanly
    val oneOk = Eval.Vec(
      Seq((0L, "a", 3.0)).toDF("bucket_start", "service_name", "value"),
      Seq("service_name"))
    val ok = Eval.binaryVec("*", many, oneOk, boolMode = false,
      on = Seq("service_name"), ignoring = Nil, group = Some((true, Nil)))
    assert(ok.df.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(30.0, 60.0))
  }

  test("pi() is a scalar spread over the grid") {
    val t = table(Seq((0L, "a", 1.0)))
    assert(run("pi()", t, TimeRange(0, 8, 4)) ==
      Seq((0L, math.Pi), (4L, math.Pi)))
  }

  test("atan2 is a keyword binary operator with java.lang.Math semantics") {
    // vector-scalar and vector-vector forms; libm values keep this
    // engine-only (SNIPPETS determinism rule)
    val t = table(Seq((0L, "a", 0.5)))
    val tr = TimeRange(0, 4, 4)
    assert(run("m atan2 2", t, tr) == Seq((0L, math.atan2(0.5, 2.0))))
    assert(run("m atan2 m", t, tr) == Seq((0L, math.atan2(0.5, 0.5))))
    // same precedence tier as `*`: a + b atan2 c parses as a + (b atan2 c)
    assert(run("1 + m atan2 2", t, tr) == Seq((0L, 1.0 + math.atan2(0.5, 2.0))))
  }

  test("mad_over_time is the median absolute deviation per window") {
    // samples 1, 2, 4, 100: median = 3, |x−3| = {2,1,1,97} → MAD = 1.5.
    // The outlier moves the median only one slot — the robustness MAD
    // exists to provide (stddev here would be ≈ 42)
    val t = table(Seq(
      (0L, "a", 1.0), (1000000000L, "a", 2.0),
      (2000000000L, "a", 4.0), (3000000000L, "a", 100.0)))
    assert(run("mad_over_time(m[4s])", t, TimeRange(0, 4, 4)) == Seq((0L, 1.5)))
  }

  test("limit_ratio slices are deterministic complements") {
    // 8 series; limit_ratio(r) keeps series with md5(labels) below the
    // base-16 fraction of r, limit_ratio(r−1) keeps the rest: the two
    // slices must partition the full series set exactly
    val rows = (0 until 8).flatMap(i => Seq((0L, s"svc-$i", i.toDouble)))
    val t = table(rows)
    val tr = TimeRange(0, 4, 4)
    def series(q: String): Set[String] =
      Eval.evalVector(Parser.parse(q), t, tr).df
        .select("service_name").collect().map(_.getString(0)).toSet
    val all = series("m")
    val keep = series("limit_ratio(0.4, m)")
    val rest = series("limit_ratio(-0.6, m)")
    assert(all.size == 8)
    assert((keep intersect rest).isEmpty)
    assert((keep union rest) == all)
    // limitk picks exactly k series, a subset of the full set
    val k2 = series("limitk(2, m)")
    assert(k2.size == 2 && k2.subsetOf(all))
  }

  test("ts_of_* picks the chosen sample's epoch-second timestamp") {
    // values 5 @1s, 9 @2s, 9 @3s, 1 @4s (within one 8s bucket)
    val t = table(Seq(
      (1000000000L, "a", 5.0), (2000000000L, "a", 9.0),
      (3000000000L, "a", 9.0), (4000000000L, "a", 1.0)))
    val tr = TimeRange(0, 8, 8)
    // max tie (9 @2s vs @3s) → LATEST sample
    assert(run("ts_of_max_over_time(m[8s])", t, tr) == Seq((0L, 3.0)))
    assert(run("ts_of_min_over_time(m[8s])", t, tr) == Seq((0L, 4.0)))
    assert(run("ts_of_last_over_time(m[8s])", t, tr) == Seq((0L, 4.0)))
  }

  test("sort_by_label orders rows by label values without reshaping them") {
    val t = table(Seq((0L, "b", 2.0), (0L, "a", 1.0), (0L, "c", 3.0)))
    val tr = TimeRange(0, 4, 4)
    def order(q: String): Seq[String] =
      Eval.evalVector(Parser.parse(q), t, tr).df
        .select("service_name").collect().map(_.getString(0)).toSeq
    assert(order("""sort_by_label(m, "service_name")""") == Seq("a", "b", "c"))
    assert(order("""sort_by_label_desc(m, "service_name")""") == Seq("c", "b", "a"))
    intercept[Ast.Unsupported](order("""sort_by_label(m, "nope")"""))
  }
}
