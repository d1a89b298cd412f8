package graft.logql

import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout

/** Query-demand recording (reference logql-reference.md:266-272): labels
  * used in filters that are not promoted columns count as demand; parser
  * extraction targets do not (promotion cannot serve them); counters
  * aggregate per attribute and flush to the advisory table. */
class QueryDemandSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val promoted = Set("service_name", "severity_text", "body")

  private def labels(q: String): Set[String] =
    QueryDemand.demandedLabels(promoted, Parser.parse(q)).toSet

  test("matchers, label filters, unwrap and groupings count; promoted do not") {
    assert(labels("""{service_name="a", region="r1"} | env = "prod"""")
      == Set("region", "env"))
    assert(labels(
      """sum by (cluster) (sum_over_time({service_name="a"} | unwrap bytes [1m]))""")
      == Set("cluster", "bytes"))
    assert(labels("""{service_name="a"} |= "x"""").isEmpty)
  }

  test("parser-derived labels are NOT demand; __error__ never is") {
    // k is extracted from the body by | json — promotion cannot serve it
    assert(labels("""{service_name="a"} | json k="k" | k >= 5""").isEmpty)
    assert(labels("""{service_name="a"} | json | __error__ = """"").isEmpty)
    // but a label filter with NO extraction for that name is real demand
    assert(labels("""{service_name="a"} | json | region = "r1"""")
      == Set("region"))
  }

  test("demand aggregates per attribute and flushes to attribute_stats") {
    val df = QueryDemand.demand(spark, promoted, Seq(
      """{region="r1"} |= "x"""",
      """{region="r2", env="prod"} |= "y"""",
      """sum by (env) (count_over_time({service_name="a"}[1m]))"""))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("region" -> 2L, "env" -> 2L))
    val dir = graft.TestDirs.create("graft-qd").toString
    val layout = TableLayout(dir, "acme", "prod")
    QueryDemand.flush(df, layout)
    QueryDemand.flush(df, layout) // appends accumulate
    val stored = spark.read.parquet(layout.path("attribute_stats"))
    assert(stored.count() == 4)
  }
}
