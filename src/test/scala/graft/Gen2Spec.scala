package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.logql.{Lowering, Parser}
import graft.logql.Lowering.LogsTable

/** Generation-2 attribute-path invariants (reference iceberg/schemas.rs:
  * 55-72 map-typed storage; ir_planner.rs:152-225 SchemaResolver;
  * logql.rs:471-524 attr_tokens conjunct):
  *  - the materialized logs table conforms to Schemas.logs exactly,
  *  - unpromoted labels resolve across containers with record priority,
  *  - equality matchers inject the bloom-eligible attr_tokens conjunct
  *    (and only when the label actually resolves from the maps),
  *  - a promoted twin answers identically (promotion invariance),
  *  - stored-table time windows prune hour partitions.
  */
class Gen2Spec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"

  test("gen-2 logs view conforms to Schemas.logs (incl. partition cols)") {
    val df = storage.Storage.withPartitionCols(SignalViews.logsGen2Df(spark, dir))
    val got = df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
    val want = schema.Schemas.logs.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
    assert(got == want, s"schema drift:\n got=$got\nwant=$want")
  }

  test("unpromoted labels coalesce across containers, record attrs win") {
    import spark.implicits._
    val df = Seq(
      (1L, "svc", "info", "b1", Map("dup" -> "rec", "a" -> "1"), Map("dup" -> "res", "b" -> "2")),
      (2L, "svc", "info", "b2", Map("a" -> "9"), Map("dup" -> "res", "b" -> "2")))
      .toDF("timestamp", "service_name", "severity_text", "body",
        "log_attributes", "resource_attributes")
    val t = LogsTable(df,
      promoted = Map("service_name" -> "service_name", "severity_text" -> "severity_text", "body" -> "body"),
      seriesLabels = Seq("service_name"),
      hasAttrMap = true,
      attrMapCols = Seq("log_attributes", "resource_attributes"))
    def rows(q: String): Seq[String] =
      Lowering.lowerFilter(t, Parser.parseLogQuery(q))
        .select("body").collect().map(_.getString(0)).toSeq.sorted
    assert(rows("""{dup="rec"}""") == Seq("b1"))   // record shadows resource
    assert(rows("""{dup="res"}""") == Seq("b2"))   // falls through when absent
    assert(rows("""{b="2"}""") == Seq("b1", "b2")) // resource-only label
  }

  test("equality matcher on a map attr injects the attr_tokens conjunct") {
    def plan(t: LogsTable): String =
      Lowering.lowerFilter(t, Parser.parseLogQuery("""{region="r1"}"""))
        .queryExecution.optimizedPlan.toString
    // storage-backed: the conjunct is what bloom/stats skipping reads
    val stored = plan(SignalTables.storedLogsTable(spark, dir))
    assert(stored.contains("array_contains") && stored.contains("region=r1"),
      s"attr_tokens conjunct missing on the stored table:\n$stored")
    // view-backed: no storage to skip, the label resolves from its _lv_
    // column (Lowering.tokenEligible)
    val view = plan(SignalViews.logsGen2Table(spark, dir))
    assert(!view.contains("array_contains"),
      s"attr_tokens conjunct on the view-backed table:\n$view")
  }

  test("no attr_tokens conjunct for promoted labels or parser extractions") {
    val t = SignalViews.logsGen2Table(spark, dir)
    val p1 = Lowering.lowerFilter(t, Parser.parseLogQuery("""{service_name="svc-1"}"""))
      .queryExecution.optimizedPlan.toString
    assert(!p1.contains("array_contains"), s"conjunct on promoted label:\n$p1")
  }

  test("promotion invariance: promoted twin answers identically") {
    val g2 = SignalViews.logsGen2Table(spark, dir)
    val promotedDf = g2.df
      .withColumn("region", element_at(col("log_attributes"), "region"))
      .withColumn("env", element_at(col("resource_attributes"), "env"))
      .drop("log_attributes", "resource_attributes", "scope_attributes", "attr_tokens")
    val g1 = LogsTable(promotedDf,
      promoted = g2.promoted ++ Map("region" -> "region", "env" -> "env"),
      seriesLabels = g2.seriesLabels,
      hasAttrMap = false,
      tieBreak = g2.tieBreak)
    val q = Parser.parseLogQuery("""{region="r2"} | env = "prod" |= "\"k\": 1"""")
    def res(t: LogsTable): Seq[(Long, String)] =
      Lowering.lowerFilter(t, q).select("timestamp", "body")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val a = res(g2)
    assert(a.nonEmpty && a == res(g1))
  }

  test("stored gen-2 query prunes partitions from the time window") {
    val df = operators.LogQLOps.queries("q81_gen2_stored_window")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("date_day"),
      s"no partition filters on stored scan:\n$plan")
    assert(df.count() > 0)
  }
}
