package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.AttrPromotion

/** PromotedAttrRule: the raw-surface coalesce-of-map-probes rewrites to
  * the promoted `label_<key>` column inside the optimizer — filters reach
  * the parquet scan as pushed filters, results are unchanged (promotion
  * invariance), and unpromoted keys / non-canonical probe orders are left
  * alone. Runs in the shared test session, which `HarnessSession`
  * builds with GraftExtensions. */
class PromotedRuleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  /** small gen-2-shaped table with region promoted, env not. */
  private lazy val tablePath: String = {
    val dir = graft.TestDirs.create("graft_promoted_rule").toString
    val base = spark.range(100).select(
      col("id"),
      concat(lit("line "), col("id")).as("body"),
      map(lit("region"), concat(lit("r"), pmod(col("id"), lit(3)))).as("log_attributes"),
      map(lit("env"), when(pmod(col("id"), lit(2)) === 0, "prod").otherwise("dev"),
        lit("region"), lit("shadowed")).as("resource_attributes"))
    AttrPromotion.promote(base, Seq("region")).write.parquet(dir + "/t")
    dir + "/t"
  }

  private def probe(key: String) = coalesce(
    element_at(col("log_attributes"), key),
    element_at(col("resource_attributes"), key))

  test("canonical probe rewrites to the promoted column and pushes down") {
    val df = spark.read.parquet(tablePath)
      .filter(probe("region") === "r1")
      .select(col("id"), probe("region").as("region"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("element_at"),
      s"probe must rewrite to label_region:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("EqualTo(label_region,r1)"),
      s"rewritten filter must reach the scan:\n$physical")
    // promotion invariance: same rows as the unrewritten computation
    // (log_attributes wins over the shadowing resource entry)
    assert(df.count() == 33)
    assert(df.select("region").distinct().collect().map(_.getString(0)).toSeq == Seq("r1"))
  }

  test("unpromoted key keeps its map probe; reversed order is untouched") {
    val df = spark.read.parquet(tablePath)
      .select(probe("env").as("env"),
        coalesce(element_at(col("resource_attributes"), "region"),
          element_at(col("log_attributes"), "region")).as("rev"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("element_at"),
      s"env is not promoted — its probe must survive:\n$optimized")
    // the non-canonical (reversed) probe resolves resource-first: rows
    // where the resource map shadows must KEEP that semantic
    val rev = df.select("rev").distinct().collect().map(_.getString(0)).toSet
    assert(rev == Set("shadowed"), s"reversed probe must not rewrite: $rev")
  }

  test("bare single-container probe rewrites only without shadowing containers") {
    // a table whose ONLY container is log_attributes → the bare probe IS
    // the canonical resolution and may promote
    val soloDir = graft.TestDirs.create("graft_promoted_solo").toString + "/t"
    AttrPromotion.promote(
      spark.range(30).select(col("id"),
        map(lit("region"), concat(lit("r"), pmod(col("id"), lit(3)))).as("log_attributes")),
      Seq("region"), attrMapCols = Seq("log_attributes"))
      .write.parquet(soloDir)
    val solo = spark.read.parquet(soloDir)
      .filter(element_at(col("log_attributes"), "region") === "r2")
    assert(!solo.queryExecution.optimizedPlan.toString.contains("element_at"),
      "single-container probe should promote")
    assert(solo.count() == 10)
    // on the two-container table the bare probe must survive — a
    // shadowing resource entry could differ from label_region
    val both = spark.read.parquet(tablePath)
      .filter(element_at(col("log_attributes"), "region") === "r2")
    assert(both.queryExecution.optimizedPlan.toString.contains("element_at"),
      "bare probe with a shadowing container in scope must not rewrite")
  }
}
