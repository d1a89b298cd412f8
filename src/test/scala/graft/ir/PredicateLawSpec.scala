package graft.ir

import org.scalatest.funsuite.AnyFunSuite

/** Randomized denotational law (the generator-driven extension of
  * IrSpec's hand-picked cases): for HUNDREDS of seeded-random predicate
  * trees — every op the IR grammar accepts, nested and/or/not, fields
  * that are promoted, attr-map-resolved, sometimes-absent, and
  * never-present, literals that type-mismatch the field — the DataFrame
  * lowering must return exactly the rows the in-memory Kleene evaluator
  * keeps. A single seed drives generation, so a failure replays
  * deterministically (the failing doc prints in the assertion).
  */
class PredicateLawSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  // rows chosen for collision pressure: duplicate v values, k absent /
  // zero / huge, a kind value shared with the literal pool, and one row
  // whose props is empty JSON
  private val rows: Seq[Map[String, Any]] = Seq(
    Map("ts" -> 1000000000000L, "id" -> 1L, "kind" -> "error", "v" -> 10.0,
      "props" -> """{"k": 5}"""),
    Map("ts" -> 2000000000000L, "id" -> 2L, "kind" -> "click", "v" -> 150.0,
      "props" -> """{"k": 42}"""),
    Map("ts" -> 3000000000000L, "id" -> 3L, "kind" -> "view", "v" -> 150.0,
      "props" -> """{}"""),
    Map("ts" -> 4000000000000L, "id" -> 4L, "kind" -> "error", "v" -> 99.5,
      "props" -> """{"k": 90}"""),
    Map("ts" -> 5000000000000L, "id" -> 5L, "kind" -> "click", "v" -> 100.0,
      "props" -> """{"k": 0}"""),
    Map("ts" -> 6000000000000L, "id" -> 6L, "kind" -> "x", "v" -> 100.0,
      "props" -> """{"k": 100000}"""),
    Map("ts" -> 7000000000000L, "id" -> 7L, "kind" -> "view", "v" -> 0.0,
      "props" -> """{"k": 42}"""))

  private def table: Lowering.IrTable = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("id", LongType),
      StructField("kind", StringType), StructField("v", DoubleType),
      StructField("props", StringType)))
    val data = rows.map(r => org.apache.spark.sql.Row(
      r("ts"), r("id"), r("kind"), r("v"), r("props")))
    Lowering.IrTable(
      spark.createDataFrame(data.asJava, schema),
      timeField = "ts",
      promoted = Map("id" -> "id", "kind" -> "kind", "v" -> "v",
        "props" -> "props"),
      attrSource = Some("props"))
  }

  /** generate one predicate JSON: leaves hit every grammar op with
    * literals that sometimes type-mismatch the field; interior nodes
    * are and/or (2-3 args) and not. */
  private def genPred(depth: Int, rnd: scala.util.Random): String = {
    // "zz" exists nowhere — pure Absent; "k" resolves via the attr map
    val fields = Seq("id", "kind", "v", "k", "zz")
    def f = fields(rnd.nextInt(fields.length))
    def num = Seq("0", "5", "42", "99.5", "100", "150", "100000")(rnd.nextInt(7))
    def str = "\"" + Seq("error", "click", "view", "x", "nope")(rnd.nextInt(5)) + "\""
    def lit = if (rnd.nextBoolean()) num else str
    if (depth == 0 || rnd.nextInt(3) == 0) rnd.nextInt(6) match {
      case 0 =>
        val op = Seq("eq", "ne", "gt", "gte", "lt", "lte")(rnd.nextInt(6))
        s"""{"op":"$op","field":"$f","value":$lit}"""
      case 1 => s"""{"op":"exists","field":"$f"}"""
      case 2 =>
        val vs = if (rnd.nextBoolean()) Seq(num, num) else Seq(str, str)
        s"""{"op":"in","field":"$f","values":[${vs.mkString(",")}]}"""
      case 3 =>
        // occasionally reversed bounds — both engines must agree on
        // the empty interval too
        s"""{"op":"between","field":"$f","lo":$num,"hi":$num}"""
      case 4 =>
        s"""{"op":"contains","field":"$f","value":${str}}"""
      case _ =>
        val re = Seq("or$", "^c", "ie", "x", "k\"?:").map(r =>
          r.replace("\"", "\\\""))(rnd.nextInt(5))
        s"""{"op":"regex","field":"$f","value":"$re"}"""
    } else rnd.nextInt(3) match {
      case 0 =>
        val n = 2 + rnd.nextInt(2)
        s"""{"op":"and","args":[${Seq.fill(n)(genPred(depth - 1, rnd)).mkString(",")}]}"""
      case 1 =>
        val n = 2 + rnd.nextInt(2)
        s"""{"op":"or","args":[${Seq.fill(n)(genPred(depth - 1, rnd)).mkString(",")}]}"""
      case _ => s"""{"op":"not","arg":${genPred(depth - 1, rnd)}}"""
    }
  }

  test("300 random predicate trees: lowering equals the Kleene evaluator") {
    val t = table.df.cache()
    val tab = table.copy(df = t)
    val rnd = new scala.util.Random(20260814L) // fixed seed — replayable
    for (i <- 0 until 300) {
      val pred = genPred(3, rnd)
      val doc = s"""{"from":"t","range":{"start":0,"end":9000000000000},
        "pipeline":[{"stage":"filter","predicate":$pred},
        {"stage":"select","fields":["id"]}]}"""
      val d = Json.parseDocument(doc, nowNs = 9000000000000L)
      val expected = Evaluator
        .evalPipeline(d, rows, "ts", attrSource = Some("props"))
        .map(_("id").toString).sorted
      val got = Lowering.lower(d, tab).collect()
        .map(_.get(0).toString).toSeq.sorted
      assert(got == expected,
        s"\nDIVERGENCE at i=$i\ndoc: $doc\nlowered: $got\ndenotation: $expected")
    }
    t.unpersist()
  }
}
