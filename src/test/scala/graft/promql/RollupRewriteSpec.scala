package graft.promql

import org.scalatest.funsuite.AnyFunSuite

import graft.SignalViews
import Eval.TimeRange

/** Materialized-view rewrite to the hourly rollup: eligible queries
  * route (and the plan reads cells, not raw samples); anything the
  * rollup algebra can't reproduce falls back; routed answers equal the
  * raw-sample eval exactly. */
class RollupRewriteSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"
  private val T0 = 1704067200L
  private val T1 = 1706745600L
  private val tr = TimeRange(T0, T1, 86400)

  private def parse(q: String) = Parser.parse(q)

  test("eligible reducers route to the rollup and match the raw eval exactly") {
    val t = SignalViews.metricsTable(spark, dir)
    for (f <- Seq("min_over_time", "max_over_time", "sum_over_time", "count_over_time")) {
      val e = parse(s"$f(view[1d])")
      val routed = RollupRewrite.route(spark, dir, e, tr)
        .getOrElse(fail(s"$f must be eligible"))
      // the routed plan aggregates CELL columns (vmin/vmax/vsum/n exist
      // only in the rollup, never in the raw sample scan)
      val cellCol = Map("min_over_time" -> "vmin", "max_over_time" -> "vmax",
        "sum_over_time" -> "vsum", "count_over_time" -> "n#")(f)
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains(cellCol), s"$f did not read rollup cells:\n$plan")
      val raw = Eval.evalVector(e, t, tr).df
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.select("bucket_start", "service_name", "value").collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      val a = collect(routed)
      val b = collect(raw)
      assert(a.keySet == b.keySet, s"$f rollup key set diverged")
      if (f == "sum_over_time")
        // the CELL sum is decimal-exact; the raw eval's double sum is
        // aggregation-order dependent — agreement is up to float roundoff
        // (the rollup answer is the better-conditioned one)
        for ((k2, va) <- a)
          assert(math.abs(va - b(k2)) <= 1e-9 * math.max(1.0, math.abs(va)),
            s"$f diverged at $k2: $va vs ${b(k2)}")
      else assert(a == b, s"$f rollup answer diverged from raw")
    }
  }

  test("ineligible shapes fall back (None), never a wrong-but-fast answer") {
    val bad = Seq(
      ("""rate(view[1d])""", tr),                       // not re-aggregable
      ("""max_over_time(view[30m])""", TimeRange(T0, T1, 1800)), // sub-cell step
      ("""max_over_time(view{service_name="svc-1"}[1d])""", tr), // matcher not in cells
      ("""max_over_time(view[1d] offset 1d)""", tr),    // off-grid offset
      ("""max_over_time(view[2d])""", tr))              // range != step grid
    for ((q, r) <- bad)
      assert(RollupRewrite.route(spark, dir, parse(q), r).isEmpty,
        s"'$q' must not route")
    // the fallback entry point still answers it (raw eval)
    val t = SignalViews.metricsTable(spark, dir)
    val df = RollupRewrite.evalWithRollup(spark, dir, parse("""rate(view[1d])"""), t, tr)
    assert(df.count() > 0)
  }
}
