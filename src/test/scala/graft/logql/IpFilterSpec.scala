package graft.logql

import org.scalatest.funsuite.AnyFunSuite

import graft.logql.Lowering.LogsTable

/** ip() lowering semantics the oracle gate can't reach (the testdata view
  * exercises label filters; line filters need crafted bodies):
  *  - an invalid dotted quad (octet > 255) is not an address — it never
  *    matches `|=` and never suppresses `!=` (the NULL-polarity rule),
  *  - candidates respect digit/dot boundaries ("1234.5.6.7" contains no
  *    truncated "234.5.6.7"),
  *  - range and CIDR forms bound inclusively. */
class IpFilterSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def table(bodies: Seq[String]): LogsTable = {
    import spark.implicits._
    val df = bodies.zipWithIndex
      .map { case (b, i) => (i.toLong * 1000000000L, i.toLong, b) }
      .toDF("timestamp", "event_id", "body")
    LogsTable(df = df, promoted = Map("body" -> "body"),
      seriesLabels = Seq.empty, hasAttrMap = false, tieBreak = Seq("event_id"))
  }

  private def run(bodies: Seq[String], q: String): Seq[String] = {
    val Ast.LineQuery(lq) = Parser.parse(q): @unchecked
    Lowering.lowerLineQuery(table(bodies), lq, 100,
        newestFirst = false, projection = Seq("timestamp", "body"))
      .collect().map(_.getString(1)).toSeq
  }

  private val bodies = Seq(
    "conn from 10.1.2.3 ok",        // in 10.0.0.0/8
    "conn from 11.1.2.3 ok",        // outside
    "retry 300.1.2.3 timeout",      // invalid quad — not an address
    "id=1234.5.6.7 done",           // no truncated 234.5.6.7 candidate
    "no address here")

  test("|= ip(CIDR) keeps only lines containing a matching address") {
    assert(run(bodies, """{body=~".*"} |= ip("10.0.0.0/8")""")
      == Seq("conn from 10.1.2.3 ok"))
  }

  test("!= ip(CIDR) keeps lines with no matching address, including invalid quads") {
    assert(run(bodies, """{body=~".*"} != ip("10.0.0.0/8")""")
      == Seq("conn from 11.1.2.3 ok", "retry 300.1.2.3 timeout",
        "id=1234.5.6.7 done", "no address here"))
  }

  test("boundary guard: a longer number never yields a truncated candidate") {
    assert(run(bodies, """{body=~".*"} |= ip("234.5.6.0/24")""").isEmpty)
  }

  test("range form is inclusive on both ends") {
    val bs = Seq("a 10.0.0.5 x", "b 10.0.0.9 x", "c 10.0.0.10 x")
    assert(run(bs, """{body=~".*"} |= ip("10.0.0.5-10.0.0.9")""")
      == Seq("a 10.0.0.5 x", "b 10.0.0.9 x"))
  }

  test("IPv6 line filters and malformed patterns are explicit Unsupported at plan time") {
    assertThrows[Ast.Unsupported](run(bodies, """{body=~".*"} |= ip("::1/128")"""))
    assertThrows[Ast.Unsupported](run(bodies, """{body=~".*"} |= ip("10.0.0.0/64")"""))
  }

  // ---- IPv6 label filters -----------------------------------------------

  private def tableV6(addrs: Seq[String]): LogsTable = {
    import spark.implicits._
    val df = addrs.zipWithIndex
      .map { case (a, i) => (i.toLong * 1000000000L, i.toLong, s"line $i", a) }
      .toDF("timestamp", "event_id", "body", "addr")
    LogsTable(df = df, promoted = Map("body" -> "body", "addr" -> "addr"),
      seriesLabels = Seq.empty, hasAttrMap = false, tieBreak = Seq("event_id"))
  }

  private def runV6(addrs: Seq[String], q: String): Seq[String] = {
    val Ast.LineQuery(lq) = Parser.parse(q): @unchecked
    Lowering.lowerLineQuery(tableV6(addrs), lq, 100,
        newestFirst = false, projection = Seq("timestamp", "addr"))
      .collect().map(_.getString(1)).toSeq
  }

  private val v6addrs = Seq(
    "2001:db8::1",                             // in 2001:db8::/32
    "2001:0db8:0000:0000:0000:0000:0000:0001", // same value, uncompressed
    "2001:DB8:0:1::5",                         // in /32, case-insensitive
    "2001:db9::1",                             // outside /32
    "::1",                                     // loopback
    "fe80:::1",                                // malformed — NULL
    "1:2:3:4:5:6:7:8:9")                       // 9 groups — NULL

  test("IPv6 CIDR label filter matches compressed and expanded forms") {
    assert(runV6(v6addrs, """{body=~".*"} | addr = ip("2001:db8::/32")""")
      == Seq("2001:db8::1", "2001:0db8:0000:0000:0000:0000:0000:0001",
        "2001:DB8:0:1::5"))
  }

  test("IPv6 != drops malformed values too (NULL polarity rule)") {
    assert(runV6(v6addrs, """{body=~".*"} | addr != ip("2001:db8::/32")""")
      == Seq("2001:db9::1", "::1"))
  }

  test("IPv6 exact match equates :: compression with the expanded form") {
    assert(runV6(v6addrs,
      """{body=~".*"} | addr = ip("2001:0db8:0000:0000:0000:0000:0000:0001")""")
      == Seq("2001:db8::1", "2001:0db8:0000:0000:0000:0000:0000:0001"))
  }

  test("IPv6 range form is inclusive on both ends") {
    val bs = Seq("2001:db8::4", "2001:db8::5", "2001:db8::9", "2001:db8::a")
    assert(runV6(bs, """{body=~".*"} | addr = ip("2001:db8::5-2001:db8::9")""")
      == Seq("2001:db8::5", "2001:db8::9"))
  }

  test("IPv6 embedded-IPv4 tail in the PATTERN normalizes (::ffff:0:0/96 v4-mapped)") {
    val bs = Seq("::ffff:a00:102", "::fffe:a00:102") // 10.0.1.2 mapped / not
    assert(runV6(bs, """{body=~".*"} | addr = ip("::ffff:10.0.1.2")""")
      == Seq("::ffff:a00:102"))
    assert(runV6(bs, """{body=~".*"} | addr = ip("::ffff:0.0.0.0/96")""")
      == Seq("::ffff:a00:102"))
  }

  test("IPv6 malformed patterns are Unsupported at plan time") {
    assertThrows[Ast.Unsupported](runV6(v6addrs, """{body=~".*"} | addr = ip("2001:db8::/129")"""))
    assertThrows[Ast.Unsupported](runV6(v6addrs, """{body=~".*"} | addr = ip("1::2::3")"""))
    assertThrows[Ast.Unsupported](runV6(v6addrs, """{body=~".*"} | addr = ip("1:2:3:4:5:6:7:8:9")"""))
    assertThrows[Ast.Unsupported](runV6(v6addrs, """{body=~".*"} | addr = ip("::1-::zz")"""))
  }
}
