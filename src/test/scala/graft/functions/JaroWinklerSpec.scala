package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.unsafe.types.UTF8String

/** Semantics of the native `jaro_winkler_sim` expression: pinned values
  * from the standard definition (window = max/2 − 1, transpositions/2,
  * Winkler boost 0.1·prefix≤4 above 0.7), metric properties, and the
  * interpreted/codegen/SQL-registry paths agreeing. */
class JaroWinklerSpec extends AnyFunSuite {

  private def jw(a: String, b: String): Double =
    JaroWinklerSim.sim(UTF8String.fromString(a), UTF8String.fromString(b))

  test("pinned textbook values") {
    assert(jw("", "") == 1.0)
    assert(jw("a", "") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    // MARTHA/MARHTA: jaro 0.944..., prefix 3 → 0.9611...
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    // DIXON/DICKSONX: jaro 0.7666..., prefix 2 → 0.8133...
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-9)
    // no boost at or below 0.7: disjoint strings
    assert(jw("abc", "xyz") == 0.0)
  }

  test("metric properties: symmetry, identity, range (seeded random)") {
    val rnd = new scala.util.Random(42)
    def randStr(): String =
      Seq.fill(rnd.nextInt(12))(('a' + rnd.nextInt(4)).toChar).mkString
    for (_ <- 1 to 500) {
      val a = randStr(); val b = randStr()
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"range violated for '$a' '$b'")
      assert(math.abs(s - jw(b, a)) < 1e-12, s"asymmetric for '$a' '$b'")
      assert(jw(a, a) == 1.0)
    }
  }

  test("codegen, interpreted, and SQL-registered paths agree") {
    // the shared test session is built with GraftExtensions
    val spark = graft.TestSpark.session
    import spark.implicits._
    val pairs = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
      ("Customer#000000001", "Supplier#000000001"), ("", "x"))
    val df = pairs.toDF("a", "b")
    val viaColumn = df.select(
      JaroWinklerSim.jaroWinkler(col("a"), col("b")).as("s")).collect().map(_.getDouble(0))
    df.createOrReplaceTempView("jwpairs")
    val viaSql = spark.sql("SELECT jaro_winkler_sim(a, b) AS s FROM jwpairs")
      .collect().map(_.getDouble(0))
    val direct = pairs.map { case (a, b) => jw(a, b) }
    assert(viaColumn.toSeq == direct)
    assert(viaSql.toSeq == direct)
  }
}
