package graft.logql

import org.scalatest.funsuite.AnyFunSuite

import graft.logql.Lowering.LogsTable

/** Property (seeded-random): every 128-bit address, rendered in ANY
  * textual form — fully expanded, zero-stripped, best `::` compression,
  * upper or lower case — normalizes to the same key, so an exact ip()
  * filter matches all spellings of the same address. */
class IpV6PropertySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  /** expanded 4-nibble form. */
  private def expand(gs: Vector[Int]): String = gs.map(g => f"$g%04x").mkString(":")

  /** shortest form: strip leading zeros, compress the longest zero run. */
  private def compress(gs: Vector[Int]): String = {
    val runs = gs.indices.map { s =>
      (s, gs.drop(s).takeWhile(_ == 0).length)
    }
    val best = runs.sortBy(r => (-r._2, r._1)).headOption.filter(_._2 >= 2)
    best match {
      case None => gs.map(_.toHexString).mkString(":")
      case Some((s, len)) =>
        val l = gs.take(s).map(_.toHexString).mkString(":")
        val r = gs.drop(s + len).map(_.toHexString).mkString(":")
        s"$l::$r"
    }
  }

  private def matched(addrs: Seq[String], pattern: String): Seq[String] = {
    import spark.implicits._
    val df = addrs.zipWithIndex
      .map { case (a, i) => (i.toLong, i.toLong, s"b$i", a) }
      .toDF("timestamp", "event_id", "body", "addr")
    val t = LogsTable(df = df, promoted = Map("body" -> "body", "addr" -> "addr"),
      seriesLabels = Seq.empty, hasAttrMap = false, tieBreak = Seq("event_id"))
    val Ast.LineQuery(lq) =
      Parser.parse(s"""{body=~".*"} | addr = ip("$pattern")"""): @unchecked
    Lowering.lowerLineQuery(t, lq, 1000, newestFirst = false,
        projection = Seq("timestamp", "addr"))
      .collect().map(_.getString(1)).toSeq
  }

  test("all spellings of 30 random addresses match their exact ip() pattern") {
    val rnd = new scala.util.Random(42)
    // one Spark job for all cases: rows = all spellings of all addresses,
    // each address checked against its own compressed pattern
    val cases = (0 until 30).map { _ =>
      val gs = Vector.fill(8)(
        if (rnd.nextInt(8) < 3) 0 else rnd.nextInt(0x10000))
      val forms = Seq(expand(gs), compress(gs), expand(gs).toUpperCase).distinct
      (compress(gs), forms)
    }
    for ((pattern, forms) <- cases) {
      val got = matched(forms, pattern)
      assert(got.size == forms.size,
        s"pattern $pattern missed some of $forms (got $got)")
    }
  }
}
