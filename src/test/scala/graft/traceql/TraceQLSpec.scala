package graft.traceql

import org.scalatest.funsuite.AnyFunSuite

/** Structural TraceQL semantics over a crafted span tree (the oracle gate
  * runs the heap-derived hierarchy; here the parentage is explicit):
  *
  *   t1: root(view) ── a(purchase), b(error), c(purchase)   [a,b,c siblings]
  *        └ a ── d(purchase)                                 [d child of a]
  *   t2: root(error) ── e(purchase)
  */
class TraceQLSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def spans = {
    import spark.implicits._
    Seq(
      // trace_id, span_id, parent_span_id, span_name, status, service, dur
      ("t1", 1L, null.asInstanceOf[java.lang.Long], "view"),
      ("t1", 2L, java.lang.Long.valueOf(1L), "purchase"),
      ("t1", 3L, java.lang.Long.valueOf(1L), "error"),
      ("t1", 4L, java.lang.Long.valueOf(1L), "purchase"),
      ("t1", 5L, java.lang.Long.valueOf(2L), "purchase"),
      ("t2", 6L, null.asInstanceOf[java.lang.Long], "error"),
      ("t2", 7L, java.lang.Long.valueOf(6L), "purchase"))
      .toDF("trace_id", "span_id", "parent_span_id", "span_name")
      .withColumn("status_code", org.apache.spark.sql.functions.lit("OK"))
      .withColumn("service_name", org.apache.spark.sql.functions.lit("svc"))
      .withColumn("duration_nanos", org.apache.spark.sql.functions.lit(1L))
  }

  private def ids(q: String): Set[Long] =
    TraceQL.lowerExpr(spans, TraceQL.parseExpr(q))
      .collect().map(_.getAs[Long]("span_id")).toSet

  test("`>` selects direct children of a matching parent only") {
    // purchases whose parent is a view: 2 and 4 (5's parent is a purchase)
    assert(ids("""{ name = "view" } > { name = "purchase" }""") == Set(2L, 4L))
    // purchases whose parent is an error: only 7 (t2)
    assert(ids("""{ name = "error" } > { name = "purchase" }""") == Set(7L))
  }

  test("`~` selects siblings of a DISTINCT matching span") {
    // purchases sharing a parent with an error span: 2 and 4 (both under
    // root 1 with error 3); 5 and 7 have no error sibling
    assert(ids("""{ name = "error" } ~ { name = "purchase" }""") == Set(2L, 4L))
    // a span is not its own sibling: errors with an error sibling — none
    assert(ids("""{ name = "error" } ~ { name = "error" }""").isEmpty)
  }

  test("roots (NULL parent) never match a structural right-hand side") {
    assert(!ids("""{ name = "view" } > { name = "view" }""").contains(1L))
    assert(ids("""{ name = "error" } ~ { name = "view" }""").isEmpty)
  }

  test("`>>` selects descendants at ANY depth (child included)") {
    // purchases under a view ancestor: 2, 4 (direct) AND 5 (depth 2 via
    // purchase 2) — `>` would miss 5; t2's 7 has no view ancestor
    assert(ids("""{ name = "view" } >> { name = "purchase" }""") == Set(2L, 4L, 5L))
    // nothing above the roots
    assert(ids("""{ name = "purchase" } >> { name = "view" }""").isEmpty)
  }

  test("`<<` selects ancestors at ANY depth, never the span itself") {
    // ancestors of a purchase that are views: root 1 (above 2, 4, and 5)
    assert(ids("""{ name = "purchase" } << { name = "view" }""") == Set(1L))
    // ancestors of purchase 5 matching purchase: 2 — self (5) excluded
    assert(ids("""{ name = "purchase" } << { name = "purchase" }""") == Set(2L))
    // error 6 is an ancestor of purchase 7 (t2)
    assert(ids("""{ name = "purchase" } << { name = "error" }""") == Set(6L))
  }

  test("`||` is an OR of &&-groups; separators inside quotes don't split") {
    // views OR purchases-under-1: 1, 2, 4, 5, 7 all match one branch
    assert(ids("""{ name = "view" || name = "purchase" }""") == Set(1L, 2L, 4L, 5L, 7L))
    // && binds tighter than ||
    val conds = TraceQL.parse(
      """{ name = "a" || name = "b" && duration > 1ms }""")
    assert(conds.size == 1 && conds.head.isInstanceOf[TraceQL.OrGroup])
    val g = conds.head.asInstanceOf[TraceQL.OrGroup].groups
    assert(g.map(_.size) == Seq(1, 2))
    // quoted values may contain the separators verbatim
    val q = TraceQL.parse("""{ name = "a||b" && status = "x && y" }""")
    assert(q == Seq(
      TraceQL.StrEq("name", "a||b", negated = false),
      TraceQL.StrEq("status", "x && y", negated = false)))
  }

  test("bare spansets still parse; unknown structural ops rejected") {
    assert(TraceQL.parseExpr("""{ name = "a" }""").isInstanceOf[TraceQL.Spanset])
    assertThrows[TraceQL.Unsupported](
      TraceQL.lowerExpr(spans,
        TraceQL.Structural(Seq.empty, "!~", Seq.empty)))
  }

  test("metrics queries parse: rate/by, duration operand rules, quantile arity") {
    val mq = TraceQL.parseMetrics("""{ name = "a" } | rate() by (resource.service.name, name)""")
    assert(mq.func == "rate" && mq.by == Seq("resource.service.name", "name"))
    val q = TraceQL.parseMetrics("""{ status = "OK" } | quantile_over_time(duration, 0.95)""")
    assert(q.param.contains(0.95))
    // quantile needs its q; rate takes no operand; unknown funcs reject
    assertThrows[TraceQL.Unsupported](
      TraceQL.parseMetrics("""{ name = "a" } | quantile_over_time(duration)"""))
    assertThrows[TraceQL.Unsupported](
      TraceQL.parseMetrics("""{ name = "a" } | rate(duration)"""))
    assertThrows[TraceQL.Unsupported](
      TraceQL.parseMetrics("""{ name = "a" } | histogram_over_time(duration)"""))
  }

  test("metrics lowering buckets and groups the span stream") {
    import org.apache.spark.sql.functions.{col, lit}
    val withTs = spans
      .withColumn("timestamp", col("span_id") * lit(1000000000L))
    val mq = TraceQL.parseMetrics("""{ } | count_over_time() by (name)""")
    val rows = TraceQL.lowerMetrics(withTs, mq, stepSec = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // span_ids 1..7 → buckets 0 (1,2,3), 4 (4,5,6,7)
    assert(rows == Set(
      (0L, "view", 1.0), (0L, "purchase", 1.0), (0L, "error", 1.0),
      (4L, "purchase", 3.0), (4L, "error", 1.0)))
  }

  test("aggregate filters keep or drop the whole per-trace spanset") {
    import org.apache.spark.sql.functions.col
    val withDur = spans.withColumn("duration_nanos", col("span_id"))
    def agg(q: String): Set[Long] =
      TraceQL.lowerExpr(withDur, TraceQL.parseExpr(q))
        .collect().map(_.getAs[Long]("span_id")).toSet
    // purchases: t1 {2,4,5} (count 3), t2 {7} (count 1)
    assert(agg("""{ name = "purchase" } | count() >= 2""") == Set(2L, 4L, 5L))
    // avg durations: t1 11/3 ≈ 3.67, t2 7 — exact integer compare
    assert(agg("""{ name = "purchase" } | avg(duration) > 3ns""") == Set(2L, 4L, 5L, 7L))
    assert(agg("""{ name = "purchase" } | avg(duration) > 4ns""") == Set(7L))
    assert(agg("""{ name = "purchase" } | sum(duration) <= 7ns""") == Set(7L))
    assert(agg("""{ name = "purchase" } | max(duration) = 5ns""") == Set(2L, 4L, 5L))
  }

  test("aggregate filters compose with structural input; operand rules hold") {
    // direct-child purchases of a view: t1 {2,4} (count 2), t2 {7} (count 1)
    assert(ids("""{ name = "view" } > { name = "purchase" } | count() >= 2""")
      == Set(2L, 4L))
    assertThrows[TraceQL.Unsupported](
      TraceQL.parseExpr("""{ name = "a" } | count(duration) > 2"""))
    assertThrows[TraceQL.Unsupported](
      TraceQL.parseExpr("""{ name = "a" } | avg() > 1"""))
  }

  test("critical path matches a per-trace brute-force walk at sf0.001") {
    // denotational check: recompute every trace's max root-to-leaf
    // cumulative duration by walking the explicit parent links in Scala
    // and compare against the closed-form ancestor-chain plan (q238)
    val dir = "/root/testdata/sf0.001"
    val sp = graft.operators.TraceOps.tracesWithParent(spark, dir)
      .select("trace_id", "span_id", "parent_span_id", "duration_nanos")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    val byTrace = sp.groupBy(_._1)
    val expected = byTrace.map { case (tid, spans) =>
      val dur = spans.map(s => s._2 -> s._4).toMap
      val parent = spans.collect { case (_, id, Some(p), _) => id -> p }.toMap
      val hasChild = parent.values.toSet
      val leaves = spans.map(_._2).filterNot(hasChild)
      val paths = leaves.map { leaf =>
        val chain = Iterator.iterate(Option(leaf))(o => o.flatMap(parent.get))
          .takeWhile(_.isDefined).map(_.get).toSeq
        (leaf, chain.map(dur).sum, chain.length.toLong)
      }
      // max path_ns, ties broken by smallest leaf span id
      val best = paths.minBy { case (l, ns, _) => (-ns, l) }
      tid -> best
    }
    val got = graft.operators.TraceOps.queries("q238_critical_path")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (tid, best) => assert(got(tid) == best, s"trace $tid") }
  }
}
