package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Arrow IPC result stream (the Flight data plane, reference
  * flight.rs DoGet): executor-side batch encoding, standard stream
  * framing, lossless round trip, batch-size bounding. */
class ArrowResultSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def sample = {
    import spark.implicits._
    (0 until 1000).map(i =>
      (i.toLong, s"svc-${i % 8}", i * 1.5, Seq(i.toLong, i + 1L)))
      .toDF("id", "service_name", "value", "arr")
  }

  test("IPC stream round-trips losslessly, schema carried in-stream") {
    val bytes = ArrowResult.ipcStream(sample)
    // Arrow IPC stream starts with an encapsulated message: 0xFFFFFFFF
    // continuation marker then a metadata length
    assert((bytes(0) & 0xFF) == 0xFF && (bytes(3) & 0xFF) == 0xFF,
      "missing Arrow IPC continuation marker")

    val back = ArrowResult.fromIpcStream(spark, bytes)
    assert(back.schema == sample.schema)
    val expRows = sample.orderBy("id").collect().toSeq
    val gotRows = back.orderBy("id").collect().toSeq
    assert(gotRows == expRows)
  }

  test("maxRecordsPerBatch bounds every batch (streaming-sized frames)") {
    val small = ArrowResult.ipcStream(sample.repartition(1), maxRecordsPerBatch = 100)
    val big = ArrowResult.ipcStream(sample.repartition(1), maxRecordsPerBatch = 100000)
    // more batches = more framing overhead; both must round-trip
    assert(small.length > big.length)
    assert(ArrowResult.fromIpcStream(spark, small).count() == 1000)
    assert(ArrowResult.fromIpcStream(spark, big).count() == 1000)
  }

  test("empty result still yields a valid stream with the schema") {
    val empty = sample.filter(col("id") < 0)
    val bytes = ArrowResult.ipcStream(empty)
    val back = ArrowResult.fromIpcStream(spark, bytes)
    assert(back.schema == sample.schema)
    assert(back.count() == 0)
  }
}
