package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The KMV (bottom-k theta) sketch aggregate: buffer semantics (cap,
  * dedupe, eviction), serialization round trip, and the distributed
  * end-to-end law — a many-partition aggregation (forcing partial
  * buffers through serialize/merge) equals the exact k smallest
  * distinct values. */
class KmvSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("buffer caps at k, dedupes, evicts the max") {
    val b = new KmvBuffer(3)
    Seq(5L, 9L, 7L, 5L, 9L).foreach(b.add) // dupes ignored
    assert(b.set.size == 3 && b.set.last == 9L)
    b.add(1L) // evicts 9
    assert(b.set.size == 3)
    assert(Seq(1L, 5L, 7L) == {
      import scala.jdk.CollectionConverters._
      b.set.iterator().asScala.map(_.longValue).toSeq
    })
    b.add(8L) // above current max of a full buffer: no-op
    assert(b.set.last == 7L)
  }

  test("serialize/deserialize round trip") {
    val agg = KmvSketch(org.apache.spark.sql.catalyst.expressions.Literal(1L), 4)
    val b = new KmvBuffer(4)
    Seq(42L, 7L, 99L).foreach(b.add)
    val back = agg.deserialize(agg.serialize(b))
    assert(back.set == b.set)
  }

  test("distributed agg over many partitions == exact k smallest distinct") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(5000)(rnd.nextLong().abs % 700) // heavy duplication
    val k = 16
    val got = data.toDF("v").repartition(13)
      .agg(Kmv.kmvSketch(col("v"), k).as("sk"))
      .collect().head.getSeq[Long](0)
    val want = data.distinct.sorted.take(k)
    assert(got == want)
    // group-wise too: per-parity groups
    val byGroup = data.toDF("v").repartition(11)
      .groupBy((col("v") % 2).as("g"))
      .agg(Kmv.kmvSketch(col("v"), k).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (g <- Seq(0L, 1L))
      assert(byGroup(g) == data.filter(_ % 2 == g).distinct.sorted.take(k))
  }

  test("streaming aggregation: sketch state merges across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val all = Seq.fill(3000)(("s" + rnd.nextInt(2), rnd.nextLong().abs % 500))
    val (b1, b2) = all.splitAt(1300)
    val in = MemoryStream[(String, Long)](spark)
    val agg = in.toDF().toDF("svc", "v")
      .groupBy(col("svc")).agg(Kmv.kmvSketch(col("v"), 16).as("sk"))
    val q = agg.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("kmv_stream").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      for (svc <- Seq("s0", "s1"))
        assert(got(svc) ==
          all.filter(_._1 == svc).map(_._2).distinct.sorted.take(16),
          s"cross-batch sketch for $svc must equal the batch-global bottom-k")
    } finally q.stop()
  }

  test("small input returns all distinct values sorted (n < k)") {
    import spark.implicits._
    val got = Seq(3L, 1L, 3L, 2L).toDF("v")
      .agg(Kmv.kmvSketch(col("v"), 64).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(got == Seq(1L, 2L, 3L))
  }
}
