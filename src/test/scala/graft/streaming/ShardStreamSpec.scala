package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Tar, TfRecord}

/** Streaming dataloader-shard ingest: the WarcStream parity law over
  * the tar/TFRecord containers — batch over all shards ≡ accumulated
  * stream output, late shards picked up incrementally, corrupt shards
  * contribute zero rows without stalling. */
class ShardStreamSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def tarShard(dir: java.io.File, name: String,
      docs: Seq[(String, String)]): Unit = {
    val members = docs.map { case (n, t) =>
      (n, t.getBytes("UTF-8"), false) }
    java.nio.file.Files.write(new java.io.File(dir, name).toPath,
      Tar.encode(members))
  }

  private def tfrShard(dir: java.io.File, name: String,
      texts: Seq[String]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    texts.foreach { t =>
      TfRecord.writeRecord(out, TfRecord.writeExample(Seq(
        "text" -> TfRecord.Feature(Vector(t.getBytes("UTF-8")),
          Vector.empty, Vector.empty))))
    }
    java.nio.file.Files.write(new java.io.File(dir, name).toPath,
      out.toByteArray)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("member", "n_tokens", "text_md5")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("tar shards: batch ≡ stream, late shard incremental, garbage skipped") {
    val dir = graft.TestDirs.create("graft-tar-stream").toFile
    tarShard(dir, "s0.tar", Seq(
      ("0.txt", "alpha beta gamma"), ("1.txt", "delta"),
      ("0.json", "{\"skip\":1}"))) // non-.txt member filtered
    tarShard(dir, "s1.tar", Seq(("2.txt", "epsilon zeta")))
    // a corrupt shard: truncated mid-payload
    val good = Tar.encode(Seq(("9.txt", ("x " * 300).getBytes, false)))
    java.nio.file.Files.write(new java.io.File(dir, "bad.tar").toPath,
      good.take(700))

    val q = ShardStream.streamTar(spark, dir.toString)
      .writeStream.format("memory").queryName("tar_t1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tar_t1")
      val batched = ShardStream.batchTar(spark, dir.toString + "/*.tar")
      assert(canon(streamed) == canon(batched))
      assert(canon(streamed).size == 3) // bad.tar and .json contribute 0
      assert(canon(streamed).exists(_.startsWith("0.txt|3|")))

      tarShard(dir, "s2.tar", Seq(("3.txt", "late eta theta iota")))
      q.processAllAvailable()
      assert(canon(spark.table("tar_t1")).size == 4)
      assert(canon(spark.table("tar_t1")).exists(_.startsWith("3.txt|4|")))
    } finally q.stop()
  }

  test("tfrecord shards: batch ≡ stream with CRC-verified records") {
    val dir = graft.TestDirs.create("graft-tfr-stream").toFile
    tfrShard(dir, "p0.tfrecord", Seq("one two", "three"))
    tfrShard(dir, "p1.tfrecord", Seq("four five six"))
    // corrupt one byte of a third shard: whole file must contribute 0
    val out = new java.io.ByteArrayOutputStream()
    TfRecord.writeRecord(out, TfRecord.writeExample(Seq(
      "text" -> TfRecord.Feature(Vector("never seen".getBytes),
        Vector.empty, Vector.empty))))
    val bad = out.toByteArray; bad(14) = (bad(14) ^ 1).toByte
    java.nio.file.Files.write(new java.io.File(dir, "p2.tfrecord").toPath,
      bad)

    val q = ShardStream.streamTfRecord(spark, dir.toString)
      .writeStream.format("memory").queryName("tfr_t1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tfr_t1")
      val batched = ShardStream
        .batchTfRecord(spark, dir.toString + "/*.tfrecord")
      assert(canon(streamed) == canon(batched))
      assert(canon(streamed).size == 3)
      assert(!canon(streamed).exists(_.contains("never")))
      assert(canon(streamed).exists(_.startsWith("record-0|2|")))
    } finally q.stop()
  }
}
