package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.logql.{Lowering, Parser}
import graft.logql.Lowering.LogsTable
import graft.storage.Storage.TableLayout

/** Attribute-promotion EXECUTION tests (reference attr_promotion.rs +
  * rewriter): the rewrite job materializes `label_<key>` columns, the
  * generated-key guard rejects runaway schemas, and the SAME query
  * answers identically before and after the stored-table rewrite — the
  * reference's core promotion invariant (ir_planner.rs:10-15).
  */
class PromotionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  private def logsBatch(n: Int) = {
    spark.range(n).select(
      (lit(t0) + col("id") * 60L * 1000000000L).as("timestamp"),
      lit("svc-0").as("service_name"),
      lit("info").as("severity_text"),
      concat(lit("line "), col("id")).as("body"),
      map(lit("region"), concat(lit("r"), pmod(col("id"), lit(3)))).as("log_attributes"),
      map(lit("env"), when(pmod(col("id"), lit(2)) === 0, "prod").otherwise("dev"))
        .as("resource_attributes"))
  }

  test("looks_generated rejects uuid/hex/digit-run keys, keeps plain ones") {
    assert(AttrPromotion.looksGenerated("request_1a2b3c4d5e6f7a8b"))
    assert(AttrPromotion.looksGenerated("k_12345678"))
    assert(AttrPromotion.looksGenerated("550e8400e29b"))
    assert(!AttrPromotion.looksGenerated("region"))
    assert(!AttrPromotion.looksGenerated("http_status"))
    assert(!AttrPromotion.looksGenerated("k8s_pod"))
  }

  test("promote materializes label_<key> with container priority") {
    val out = AttrPromotion.promote(logsBatch(6), Seq("region", "env", "sess_99999999"))
    assert(out.columns.contains("label_region") && out.columns.contains("label_env"))
    assert(!out.columns.exists(_.contains("99999999")), "generated key promoted")
    val r = out.filter(col("body") === "line 4")
      .select("label_region", "label_env").head
    assert(r.getString(0) == "r1" && r.getString(1) == "prod")
  }

  test("promotion invariance through the stored-table rewrite") {
    val dir = graft.TestDirs.create("graft-promote").toString
    val layout = TableLayout(dir, "acme", "prod")
    Storage.append(logsBatch(120), layout, "logs") // spans 2 hours

    def table(df: org.apache.spark.sql.DataFrame, promotedExtra: Map[String, String]) =
      LogsTable(df,
        promoted = Map("service_name" -> "service_name",
          "severity_text" -> "severity_text", "body" -> "body") ++ promotedExtra,
        seriesLabels = Seq("service_name"),
        hasAttrMap = promotedExtra.isEmpty,
        attrMapCols = Seq("log_attributes", "resource_attributes"))

    val q = Parser.parseLogQuery("""{region="r2"} | env = "prod"""")
    def run(t: LogsTable): Seq[String] =
      Lowering.lowerFilter(t, q).select("body")
        .collect().map(_.getString(0)).toSeq.sorted

    val before = run(table(spark.read.parquet(layout.path("logs")), Map.empty))
    AttrPromotion.rewriteTable(spark, layout, "logs", Seq("region", "env"))
    val after = spark.read.parquet(layout.path("logs"))
    assert(after.columns.contains("label_region"))
    // same query, now resolving through the materialized columns
    val got = run(table(after,
      Map("region" -> "label_region", "env" -> "label_env")))
    assert(before.nonEmpty && got == before)
    // partition layout survived the rewrite
    assert(new java.io.File(s"$dir/acme/prod/logs/date_day=2024-01-01/hour=1").exists)
  }
}
