package graft.ir

import org.scalatest.funsuite.AnyFunSuite

import Ir._

/** Boundary-validation tests (reference: src/common/src/query_ir/
  * validate.rs error semantics): malformed pipelines fail at validate
  * time with reference-shaped messages, never deep in Spark analysis.
  */
class ValidateSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def table: Lowering.IrTable = {
    import spark.implicits._
    Lowering.IrTable(
      Seq((1L, 1L, "error", 1.0, """{"k": 5}"""))
        .toDF("ts", "id", "kind", "v", "props"),
      timeField = "ts",
      promoted = Map("id" -> "id", "kind" -> "kind", "v" -> "v", "props" -> "props"),
      attrSource = Some("props"))
  }

  private def doc(pipeline: String, fields: String = "", version: Int = 1): Document =
    Json.parseDocument(
      s"""{"irVersion":$version,"from":"t",
         |"range":{"start":0,"end":9000000000000},
         |"pipeline":[$pipeline]$fields}""".stripMargin,
      nowNs = 9000000000000L)

  private def err(d: Document): String =
    intercept[IrError](Validate.validate(d, table)).msg

  private val agg =
    """{"stage":"aggregate","by":["kind"],"aggs":{"n":{"op":"count"}}}"""
  private val stepAgg =
    """{"stage":"aggregate","by":["kind"],"step":"1h","aggs":{"n":{"op":"count"}}}"""

  test("agg-after-agg is rejected") {
    assert(err(doc(s"$agg, $agg"))
      .contains("cannot aggregate an already-aggregated relation"))
  }

  test("aggregate after a step aggregate is a series, not a row set") {
    assert(err(doc(s"$stepAgg, $agg"))
      .contains("expects a row-set input but the pipeline is a series"))
  }

  test("unknown field reference after aggregation closes the relation") {
    assert(err(doc(
      s"""$agg, {"stage":"filter","predicate":{"op":"eq","field":"v","value":1}}"""))
      .contains("reference to unknown name 'v'"))
  }

  test("extract may not run on an aggregated relation") {
    assert(err(doc(
      s"""$agg, {"stage":"extract","source":"props","parser":"json","key":"k","as":"k2","cast":"int64"}"""))
      .contains("cannot extract from an aggregated relation"))
  }

  test("extract may not shadow an existing field") {
    assert(err(doc(
      """{"stage":"extract","source":"props","parser":"json","key":"k","as":"kind","cast":"string"}"""))
      .contains("collides with an existing field"))
  }

  test("duplicate aggregate output names are rejected") {
    assert(err(doc(
      """{"stage":"aggregate","by":[],"aggs":{"kind":{"op":"count"}}}"""))
      .contains("duplicate output name 'kind'"))
  }

  test("quantile arg bounds and missing-field aggs") {
    assert(err(doc(
      """{"stage":"aggregate","by":[],"aggs":{"q":{"op":"quantile","field":"v","p":1.5}}}"""))
      .contains("within [0, 1]"))
    assert(err(doc(
      """{"stage":"aggregate","by":[],"aggs":{"s":{"op":"sum"}}}"""))
      .contains("requires a field"))
  }

  test("fields projection on a series terminal is rejected") {
    assert(err(doc(stepAgg, fields = ""","fields":["kind"]"""))
      .contains("not series"))
  }

  test("physical/expression field addressing is rejected") {
    assert(err(doc(
      """{"stage":"filter","predicate":{"op":"eq","field":"_file","value":1}}"""))
      .contains("physical column or storage detail"))
    assert(err(doc(
      """{"stage":"filter","predicate":{"op":"eq","field":"sum(v)","value":1}}"""))
      .contains("not an expression string"))
  }

  test("bad version, bad topk size, bad regex") {
    assert(err(doc(agg, version = 2)).contains("unsupported irVersion"))
    assert(err(doc("""{"stage":"topk","field":"v","k":0}"""))
      .contains("must be an integer > 0"))
    assert(err(doc(
      """{"stage":"filter","predicate":{"op":"regex","field":"kind","value":"("}}"""))
      .contains("bad regex"))
  }

  test("correlate legality: keys, kind, and series-side rejection") {
    val sub = """"query":{"from":"t","range":{"start":0,"end":1},"pipeline":[]}"""
    assert(err(doc(s"""{"stage":"correlate",$sub,"on":[],"kind":"semi"}"""))
      .contains("at least one key"))
    assert(err(doc(s"""{"stage":"correlate",$sub,"on":["kind"],"kind":"cross"}"""))
      .contains("unknown correlate kind"))
    // correlate after a step aggregation (Series) is illegal
    assert(err(doc(s"""$stepAgg, {"stage":"correlate",$sub,"on":["kind"],"kind":"semi"}"""))
      .contains("correlate"))
    // semi keeps the relation closed; inner opens it for right_ payloads
    val semi = Validate.validate(doc(
      s"""$agg, {"stage":"correlate",$sub,"on":["kind"],"kind":"semi"}"""), table).terminal
    assert(semi == Validate.RowSet(Set("kind", "n"), open = false, aggregated = true))
    val inner = Validate.validate(doc(
      s"""$agg, {"stage":"correlate",$sub,"on":["kind"],"kind":"inner"}"""), table).terminal
    assert(inner.asInstanceOf[Validate.RowSet].open)
  }

  test("valid pipelines infer the expected terminal relation") {
    val rs = Validate.validate(doc(
      s"""{"stage":"filter","predicate":{"op":"gte","field":"k","value":1}}, $agg"""),
      table).terminal
    assert(rs == Validate.RowSet(Set("kind", "n"), open = false, aggregated = true))
    val se = Validate.validate(doc(stepAgg), table).terminal
    assert(se == Validate.Series(Seq("kind"), Seq("n"), 3600))
  }
}
