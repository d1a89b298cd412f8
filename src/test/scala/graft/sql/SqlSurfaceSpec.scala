package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** Raw-SQL surface over the signal views: cross-signal joins and
  * map-typed attribute access straight from spark.sql.
  */
class SqlSurfaceSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"

  test("cross-signal SQL: spans joined to error logs per service and day") {
    val sql = SqlSurface.signalSession(spark, dir)
    val got = sql(
      """SELECT t.service_name,
        |  COUNT(DISTINCT t.trace_id) AS n_traces,
        |  COUNT(DISTINCT l.timestamp) AS n_error_lines
        |FROM traces t JOIN logs l
        |  ON l.service_name = t.service_name
        | AND l.timestamp DIV 86400000000000 = t.timestamp DIV 86400000000000
        |WHERE l.severity_text = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(got.nonEmpty && got.head.getLong(1) > 0)
  }

  test("map-typed attributes are SQL-addressable via element_at") {
    val sql = SqlSurface.signalSession(spark, dir)
    val got = sql(
      """SELECT element_at(log_attributes, 'region') AS region, COUNT(*) AS n
        |FROM logs_gen2 GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("r0", "r1", "r2"))
  }

  test("signal and driver tables coexist in one query") {
    val sql = SqlSurface.signalSession(spark, dir)
    val n = sql(
      """SELECT COUNT(*) FROM metrics m
        |WHERE m.metric_name IN (SELECT DISTINCT event_type FROM events)""".stripMargin)
      .head.getLong(0)
    assert(n > 0)
  }

  test("max_sql_rows caps unbounded selects at the plan level") {
    val sql = SqlSurface.session(spark, dir, maxRows = 10)
    assert(sql("SELECT event_id FROM events").count() == 10)
    // the cap is a CollectLimit/GlobalLimit in the plan, not driver-side
    val plan = sql("SELECT event_id FROM events")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Limit") || plan.contains("CollectLimit"),
      s"row cap must be a plan operator:\n$plan")
    // aggregates under the cap are unaffected
    assert(sql("SELECT COUNT(*) AS n FROM events").head.getLong(0) == 1000L)
  }
}
