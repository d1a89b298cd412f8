package graft.streaming

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout

/** Dead-letter semantics (reference processor.rs:16-22): a batch that
  * keeps failing is retried `maxAttempts` times, then its raw payload is
  * preserved under dead-letter/ and the batch succeeds — one poison batch
  * never wedges the stream. Healthy batches are untouched. */
class DeadLetterSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("a poison batch dead-letters after maxAttempts and then succeeds") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-dl").toString
    val layout = TableLayout(dir, "acme", "prod")
    var appended = Seq.empty[Long]
    def write(df: DataFrame, id: Long): Unit = {
      if (id == 7L) throw new RuntimeException("poison")
      appended = appended :+ id
    }
    val sink = IngestSink.appendBatchDeadLetter(layout, "logs",
      maxAttempts = 3, write = write) _
    val batch = Seq((1L, "x")).toDF("k", "v")

    // healthy batch goes straight through
    sink(batch, 1L)
    assert(appended == Seq(1L))

    // poison batch: three attempts throw...
    for (_ <- 1 to 3) assertThrows[RuntimeException](sink(batch, 7L))
    // ...the fourth call dead-letters and SUCCEEDS
    sink(batch, 7L)
    val dl = s"$dir/dead-letter/acme/prod/logs/batch-7"
    assert(new java.io.File(dl).exists, "dead-letter payload missing")
    assert(spark.read.parquet(dl).count() == 1)
    assert(!appended.contains(7L), "poison batch must never reach the table")

    // replays of a dead-lettered batch stay no-ops
    sink(batch, 7L)
    assert(appended == Seq(1L))
  }
}
