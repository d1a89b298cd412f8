package graft

import org.scalatest.funsuite.AnyFunSuite

/** The extensions entry point makes graft's native expressions visible to
  * the pure-SQL surface of a session built with them — the shared test
  * session, which `HarnessSession` builds with `GraftExtensions`.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("logfmt_map is callable from SQL in an extended session") {
    val got = spark.sql(
      """SELECT logfmt_map('k=1 svc=svc-3 msg="hello world"') AS m""")
      .selectExpr("m['k']", "m['svc']", "m['msg']", "m['nope']")
      .collect().head
    assert(got.getString(0) == "1")
    assert(got.getString(1) == "svc-3")
    assert(got.getString(2) == "\"hello world\"")
    assert(got.isNullAt(3))
  }

  test("arity errors surface at analysis time") {
    val e = intercept[Exception](spark.sql("SELECT logfmt_map('a', 'b')").collect())
    assert(e.getMessage.contains("logfmt_map"))
  }
}
