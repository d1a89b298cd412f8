package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import LogfmtMap.logfmtMap

/** Semantics of the native `logfmt_map` expression (and its parity with
  * the anchored per-key regex it replaced, including the interpreted /
  * codegen paths agreeing). */
class LogfmtSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def parsed(line: String): Map[String, String] = {
    import spark.implicits._
    Seq(line).toDF("body")
      .select(logfmtMap(col("body")).as("m"))
      .collect().head.getMap[String, String](0).toMap
  }

  test("bare and quoted values, first-nonempty-occurrence wins") {
    assert(parsed("k=1 svc=svc-3") == Map("k" -> "1", "svc" -> "svc-3"))
    // quoted values keep their quotes (callers strip) and cross spaces
    assert(parsed("""msg="hello world" k=2""") ==
      Map("msg" -> "\"hello world\"", "k" -> "2"))
    // duplicate key: first recorded occurrence wins; empty value skips
    assert(parsed("k= k=5 k=6") == Map("k" -> "5"))
    // token without '=' is skipped entirely
    assert(parsed("garbage k=1") == Map("k" -> "1"))
    // value may contain '=' (greedy bare read)
    assert(parsed("a=k=v") == Map("a" -> "k=v"))
  }

  test("quoted regions are atomic: no pair extraction inside them") {
    // the old per-key regex would also have matched x=1 INSIDE the quotes;
    // the tokenizer treats the quoted value as opaque
    assert(parsed("""k="a b x=1 c" y=2""") ==
      Map("k" -> "\"a b x=1 c\"", "y" -> "2"))
    // unterminated quote falls back to the bare read
    assert(parsed("""k="abc x=1""") == Map("k" -> "\"abc", "x" -> "1"))
    // text right after a closing quote is consumed, never parsed
    assert(parsed("""k="a"x=9 y=3""") == Map("k" -> "\"a\"", "y" -> "3"))
  }

  test("null line → null map; empty line → empty map") {
    import spark.implicits._
    val rows = Seq[Option[String]](None, Some(""), Some("   "))
      .toDF("body").select(logfmtMap(col("body")).as("m")).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getMap[String, String](0).isEmpty)
    assert(rows(2).getMap[String, String](0).isEmpty)
  }

  test("interpreted eval agrees with codegen on random lines") {
    val expr = LogfmtMap(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.StringType))
    // exercise nullSafeEval directly (interpreted path) vs the DF (codegen)
    val rnd = new scala.util.Random(42)
    val alphabet = "ab\"= k"
    (1 to 200).foreach { _ =>
      val line = (1 to rnd.nextInt(20)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val viaEval = Option(
        LogfmtMap.parse(org.apache.spark.unsafe.types.UTF8String.fromString(line)))
        .map { md =>
          (0 until md.numElements()).map(i =>
            md.keyArray().getUTF8String(i).toString ->
              md.valueArray().getUTF8String(i).toString).toMap
        }.get
      assert(viaEval == parsed(line), s"line <$line>")
    }
    assert(expr.prettyName == "logfmt_map")
  }
}
