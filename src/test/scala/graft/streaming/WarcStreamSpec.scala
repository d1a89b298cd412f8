package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Streaming WARC ingest: archives arriving as files drive micro-batch
  * extraction through the SAME per-record program the batch side runs —
  * the parity law (batch over all files ≡ accumulated stream output),
  * incremental pickup of late-arriving archives, and the
  * malformed-archive-never-stalls rule, all over real files on disk. */
class WarcStreamSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val crlf = "\r\n"
  private def rec(typ: String, payload: String, extra: String = ""): String =
    s"WARC/1.0${crlf}WARC-Type: $typ${crlf}" +
      s"WARC-Record-ID: <urn:uuid:$typ>$crlf$extra" +
      s"Content-Length: ${payload.getBytes("UTF-8").length}$crlf" +
      crlf + payload + crlf + crlf

  private def response(uri: String, status: String, html: String): String =
    rec("response",
      s"HTTP/1.1 $status${crlf}Content-Type: text/html$crlf$crlf$html",
      s"WARC-Target-URI: $uri$crlf")

  /** archive with one warcinfo + n response records. */
  private def archive(dir: java.io.File, name: String,
      pages: Seq[(String, String, String)]): Unit = {
    val body = rec("warcinfo", s"software: graft$crlf") +
      pages.map { case (u, s, h) => response(u, s, h) }.mkString
    java.nio.file.Files.write(new java.io.File(dir, name).toPath,
      body.getBytes("UTF-8"))
  }

  test("batch ≡ stream on identical archives; late files picked up incrementally; garbage skipped") {
    val dir = graft.TestDirs.create("graft-warc-stream").toFile
    archive(dir, "a1.warc", Seq(
      ("https://x.example/1", "200 OK", "<html><body><p>alpha &amp; beta</p></body></html>"),
      ("https://x.example/2", "404 Not Found", "<p>gone</p>"),
      ("https://x.example/3", "200 OK", "<script>no()</script><p>gamma</p>")))
    archive(dir, "a2.warc", Seq(
      ("https://y.example/", "200 OK", "<h1>delta</h1><!-- hidden -->")))

    val q = WarcStream.stream(spark, dir.toString)
      .writeStream.format("memory").queryName("warc_t1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("warc_t1")
      val batched = WarcStream.batch(spark, dir.toString + "/*.warc")
      // the parity law: same files, same rows (order-free compare)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select("target_uri", "status", "clean_text")
          .collect().map(_.mkString("|")).sorted.toSeq
      assert(canon(streamed) == canon(batched))
      // the 404 dropped, script content never leaked
      assert(canon(streamed).size == 3)
      assert(canon(streamed).exists(_.endsWith("gamma")))
      assert(!canon(streamed).exists(_.contains("no()")))
      assert(canon(streamed).exists(_.contains("alpha & beta")))

      // a LATE archive lands: exactly its rows appear (incremental, no
      // reprocessing of a1/a2)
      archive(dir, "a3.warc", Seq(
        ("https://z.example/", "200 OK", "<p>epsilon</p>")))
      // plus a malformed archive: strict rejection, stream keeps going
      java.nio.file.Files.write(new java.io.File(dir, "bad.warc").toPath,
        "WARC/9.9\r\ngarbage".getBytes("UTF-8"))
      q.processAllAvailable()
      val after = canon(spark.table("warc_t1"))
      assert(after.size == 4, s"late archive must add exactly 1 row: $after")
      assert(after.exists(_.endsWith("epsilon")))
    } finally q.stop()
  }

  test("extraction plan is shuffle-free (per-archive flatMap + codegen'd clean chain)") {
    val dir = graft.TestDirs.create("graft-warc-plan").toFile
    archive(dir, "a.warc", Seq(("https://x/", "200 OK", "<p>x</p>")))
    val plan = WarcStream.batch(spark, dir.toString + "/*.warc")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"WARC pipeline must not shuffle:\n$plan")
  }
}
