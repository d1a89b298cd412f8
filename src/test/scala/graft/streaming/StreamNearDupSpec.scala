package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import StreamNearDup.Doc

/** Online SimHash near-dup e2e: banded state, cross-batch matches,
  * hamming threshold, and no false flags for distant signatures. */
class StreamNearDupSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("near signatures match within and across batches; far ones don't") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-neardup").toString
    val base = 0x0123456789ABCDEFL
    val input = MemoryStream[Doc](spark)
    // doc 2 = base with 2 bits flipped (near dup of 1, same batch);
    // doc 3 = unrelated signature; doc 4 = base with 3 bits flipped
    // (near dup of 1 AND of 2, later batch); doc 5 = 5 bits away from
    // base (outside the k=3 guarantee → must NOT match doc 1)
    input.addData(
      Doc(1, 1000, base),
      Doc(2, 1010, base ^ 0x0000000000000003L),
      Doc(3, 1020, 0x7777000011110000L))
    input.addData(
      Doc(4, 2000, base ^ 0x8100000000000001L),
      Doc(5, 2010, base ^ 0x000000000000001FL))

    val withWm = input.toDF()
      .withColumn("eventTime", timestamp_seconds(col("tsSec")))
      .withWatermark("eventTime", "10 seconds")
    val out = StreamNearDup.matches(withWm, maxHamming = 3, horizonSec = 3600)

    val q = out.writeStream
      .format("memory").queryName("neardups")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val pairs = spark.table("neardups")
      .select("docId", "matchedId", "hamming").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((2L, 1L, 2)), s"same-batch near dup missed: $pairs")
    assert(pairs.contains((4L, 1L, 3)), s"cross-batch near dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated signature flagged: $pairs")
    assert(!pairs.exists(p => p._1 == 5L && p._2 == 1L),
      s"hamming-5 pair must not match at k=3: $pairs")
  }
}
