package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.logql.Ast.Unsupported
import graft.logql.Lowering.LogsTable

// file-level so Spark can build its encoder without an outer scope
final case class Line(timestamp: Long, service_name: String,
    severity_text: String, body: String)

class LiveTailSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("tail applies the LogQL pipeline to a stream, appending matches") {
    import spark.implicits._
    val in = MemoryStream[Line](spark)
    val table = LogsTable(
      df = in.toDF(),
      promoted = Map("service_name" -> "service_name",
        "severity_text" -> "severity_text", "body" -> "body"),
      seriesLabels = Seq("service_name", "severity_text"))
    val q = LiveTail.start(table,
      """{service_name="svc-1"} |= "err" | severity_text != "debug"""",
      "tail_t1")
    try {
      in.addData(
        Line(1L, "svc-1", "error", "err one"),
        Line(2L, "svc-1", "debug", "err hidden"), // severity filtered
        Line(3L, "svc-2", "error", "err other"),  // matcher filtered
        Line(4L, "svc-1", "info", "all good"))    // line filtered
      q.processAllAvailable()
      val got = spark.table("tail_t1").as[Line].collect().toSeq
      assert(got == Seq(Line(1L, "svc-1", "error", "err one")))
      in.addData(Line(5L, "svc-1", "error", "err two"))
      q.processAllAvailable()
      assert(spark.table("tail_t1").count() == 2)
    } finally q.stop()
  }

  test("buffered tail: per-poll work tracks NEW rows only; state is bounded") {
    import spark.implicits._
    val in = MemoryStream[Line](spark)
    val table = LogsTable(
      df = in.toDF(),
      promoted = Map("service_name" -> "service_name",
        "severity_text" -> "severity_text", "body" -> "body"),
      seriesLabels = Seq("service_name", "severity_text"))
    val buf = new LiveTail.TailBuffer(capacity = 3)
    val q = LiveTail.startBuffered(table, """{service_name="svc-1"}""", buf)
    try {
      in.addData(Line(1L, "svc-1", "info", "a"), Line(2L, "svc-1", "info", "b"))
      q.processAllAvailable()
      // drain DELIVERS and EVICTS: a second poll after no new data sees
      // zero rows — the poll never re-reads delivered history
      assert(buf.drain().map(_.getString(3)) == Seq("a", "b"))
      assert(buf.size == 0 && buf.drain().isEmpty)
      in.addData(Line(3L, "svc-1", "info", "c"))
      q.processAllAvailable()
      assert(buf.drain().map(_.getString(3)) == Seq("c"))
      // a single batch larger than the cap CLIPS at the batch (tail(n):
      // only the live edge ever reaches the driver) — resident state
      // stays capped for a slow client
      in.addData((4 to 8).map(i => Line(i.toLong, "svc-1", "info", s"x$i")): _*)
      q.processAllAvailable()
      assert(buf.size == 3)
      assert(buf.drain().map(_.getString(3)) == Seq("x6", "x7", "x8"))
      // slow-client overflow ACROSS batches evicts the oldest undelivered
      // rows and counts them
      in.addData((9 to 11).map(i => Line(i.toLong, "svc-1", "info", s"y$i")): _*)
      q.processAllAvailable()
      in.addData((12 to 13).map(i => Line(i.toLong, "svc-1", "info", s"y$i")): _*)
      q.processAllAvailable()
      assert(buf.size == 3 && buf.dropped == 2L, s"${buf.size}/${buf.dropped}")
      assert(buf.drain().map(_.getString(3)) == Seq("y11", "y12", "y13"))
    } finally q.stop()
  }

  test("order-dependent stages and non-line queries are rejected up front") {
    import spark.implicits._
    val in = MemoryStream[Line](spark)
    val table = LogsTable(in.toDF(),
      promoted = Map("service_name" -> "service_name", "body" -> "body"),
      seriesLabels = Seq("service_name"))
    assertThrows[Unsupported](
      LiveTail.start(table, """{service_name="a"} | distinct service_name""", "tail_t2"))
    assertThrows[Unsupported](
      LiveTail.start(table, """count_over_time({service_name="a"}[1m])""", "tail_t3"))
  }
}
