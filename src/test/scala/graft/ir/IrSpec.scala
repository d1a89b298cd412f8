package graft.ir

import org.scalatest.funsuite.AnyFunSuite

/** The denotational oracle test (reference method:
  * src/common/src/query_ir/mod.rs:10-16 — "the plan is correct iff it
  * evaluates to this denotation"): run the DataFrame lowering and the
  * in-memory Evaluator over the same rows and require identical results.
  */
class IrSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  // hand-made rows with absent fields and mixed types (predicate.rs:300-345
  // asserts absent-field exclusion under both p and not p)
  private val rows: Seq[Map[String, Any]] = Seq(
    Map("ts" -> 1000000000000L, "id" -> 1L, "kind" -> "error", "v" -> 10.0,
      "props" -> """{"k": 5}"""),
    Map("ts" -> 2000000000000L, "id" -> 2L, "kind" -> "click", "v" -> 150.0,
      "props" -> """{"k": 42}"""),
    Map("ts" -> 3000000000000L, "id" -> 3L, "kind" -> "view", "v" -> 250.0,
      "props" -> """{}"""), // k absent
    Map("ts" -> 4000000000000L, "id" -> 4L, "kind" -> "error", "v" -> 99.5,
      "props" -> """{"k": 90}"""),
    Map("ts" -> 5000000000000L, "id" -> 5L, "kind" -> "click", "v" -> 100.0,
      "props" -> """{"k": 0}"""))

  private def table: Lowering.IrTable = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r("ts"), r("id"), r("kind"), r("v"), r("props")))
    Lowering.IrTable(
      spark.createDataFrame(data.asJava, schema),
      timeField = "ts",
      promoted = Map("id" -> "id", "kind" -> "kind", "v" -> "v", "props" -> "props"),
      attrSource = Some("props"))
  }

  private val range = """"range":{"start":0,"end":9000000000000}"""

  private def check(doc: String): Unit = {
    val d = Json.parseDocument(doc, nowNs = 9000000000000L)
    val expected = Evaluator.evalPipeline(d, rows, "ts", attrSource = Some("props"))
    val got = Lowering.lower(d, table).collect().map { r =>
      r.schema.fieldNames.zipWithIndex.flatMap { case (n, i) =>
        Option(r.get(i)).map(n -> _)
      }.toMap
    }.toSeq
    def norm(x: Seq[Map[String, Any]]) =
      x.map(_.view.mapValues(String.valueOf).toMap.toSeq.sorted).sortBy(_.toString)
    assert(norm(got) == norm(expected), s"\ndoc: $doc\ngot: $got\nexp: $expected")
  }

  test("absent attr is excluded under both p and not p (Kleene)") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"gt","field":"k","value":10}},
      {"stage":"select","fields":["id"]}]}""")
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"not","arg":{"op":"gt","field":"k","value":10}}},
      {"stage":"select","fields":["id"]}]}""")
  }

  test("only exists observes absence") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"exists","field":"k"}},
      {"stage":"select","fields":["id"]}]}""")
  }

  test("and/or Kleene combinations") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"or","args":[
        {"op":"gt","field":"k","value":40},
        {"op":"eq","field":"kind","value":"view"}]}},
      {"stage":"select","fields":["id"]}]}""")
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"and","args":[
        {"op":"lte","field":"v","value":150},
        {"op":"not","arg":{"op":"in","field":"kind","values":["view"]}}]}},
      {"stage":"select","fields":["id"]}]}""")
  }

  test("between, contains, regex") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"between","field":"v","lo":99.5,"hi":200}},
      {"stage":"select","fields":["id"]}]}""")
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"contains","field":"props","value":"\\"k\\""}},
      {"stage":"select","fields":["id"]}]}""")
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"filter","predicate":{"op":"regex","field":"kind","value":"ck$$|or$$"}},
      {"stage":"select","fields":["id"]}]}""")
  }

  test("time range is half-open") {
    check(s"""{"from":"t","range":{"start":2000000000000,"end":4000000000000},
      "pipeline":[{"stage":"select","fields":["id"]}]}""")
  }

  test("aggregate count/sum/min/max with step buckets") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"extract","source":"props","parser":"json","key":"k","as":"k","cast":"float64"},
      {"stage":"aggregate","by":["kind"],"step":"1h",
       "aggs":{"n":{"op":"count"},"s":{"op":"sum","field":"k"},
               "lo":{"op":"min","field":"v"},"hi":{"op":"max","field":"v"}}}]}""")
  }

  test("topk and order") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"topk","field":"v","k":3},
      {"stage":"select","fields":["id","v"]}]}""")
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"order","keys":[{"field":"kind","dir":"asc"},{"field":"v","dir":"desc"}]},
      {"stage":"limit","n":4},
      {"stage":"select","fields":["id"]}]}""")
  }

  test("json extract with cast; missing key → NULL") {
    check(s"""{"from":"t",$range,"pipeline":[
      {"stage":"extract","source":"props","parser":"json","key":"k","as":"kk","cast":"int64"},
      {"stage":"filter","predicate":{"op":"exists","field":"kk"}},
      {"stage":"select","fields":["id","kk"]}]}""")
  }
}
