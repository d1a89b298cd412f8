package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Schemas

/** remote_write conversion tests (reference conversion_prometheus/
  * to_otel.rs): classification by __name__, resource extraction from
  * job/instance, histogram reassembly, and exact Schemas.* conformance.
  */
class RemoteWriteSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def batch = {
    import spark.implicits._
    Seq(
      (Map("__name__" -> "http_requests_total", "job" -> "api",
        "instance" -> "i1", "code" -> "200"), 1704067200000L, 5.0),
      (Map("__name__" -> "queue_depth", "job" -> "api", "instance" -> "i1"),
        1704067200000L, 7.5),
      (Map("__name__" -> "lat_bucket", "job" -> "api", "le" -> "0.1"),
        1704067200000L, 1.0),
      (Map("__name__" -> "lat_bucket", "job" -> "api", "le" -> "1"),
        1704067200000L, 3.0),
      (Map("__name__" -> "lat_bucket", "job" -> "api", "le" -> "+Inf"),
        1704067200000L, 4.0),
      (Map("__name__" -> "lat_count", "job" -> "api"), 1704067200000L, 4.0),
      (Map("__name__" -> "lat_sum", "job" -> "api"), 1704067200000L, 2.2))
      .toDF("labels", "timestamp_ms", "value")
  }

  test("converted frames conform to the stored Schemas exactly") {
    val out = PromRemoteWrite.convert(batch)
    for ((table, df) <- out) {
      val got = df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
      val want = Schemas.all(table).fields
        .filterNot(f => f.name == "date_day" || f.name == "hour")
        .map(f => (f.name, f.dataType.simpleString)).toSeq
      assert(got == want, s"$table schema drift:\n got=$got\nwant=$want")
    }
  }

  test("counter: _total stripped, monotonic, labels → attributes") {
    val r = PromRemoteWrite.toSum(batch).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("metric_name") == "http_requests")
    assert(row.getAs[String]("service_name") == "api")
    assert(row.getAs[Map[String, String]]("attributes") == Map("code" -> "200"))
    assert(row.getAs[Map[String, String]]("resource_attributes") ==
      Map("service.instance.id" -> "i1"))
    assert(row.getAs[Boolean]("is_monotonic"))
    assert(row.getAs[Long]("timestamp") == 1704067200000L * 1000000L)
  }

  test("gauge: plain series only, histogram components excluded") {
    val r = PromRemoteWrite.toGauge(batch).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("metric_name") == "queue_depth")
    assert(r.head.getAs[Double]("value") == 7.5)
  }

  test("histogram reassembly: de-accumulated buckets, bounds, count, sum") {
    val r = PromRemoteWrite.toHistogram(batch).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("metric_name") == "lat")
    assert(row.getAs[Long]("count") == 4L)
    assert(row.getAs[Double]("sum") == 2.2)
    assert(row.getAs[String]("bucket_counts") == "[1,2,1]")
    assert(row.getAs[String]("explicit_bounds") == "[0.1,1.0]")
  }

  test("wire decode: snappy+WriteRequest round trip, executor-side flatMap") {
    val series = Seq(
      (Map("__name__" -> "up", "job" -> "api", "instance" -> "i1"),
        Seq((1704067200000L, 1.0), (1704067260000L, 0.0))),
      (Map("__name__" -> "http_requests_total", "job" -> "api"),
        Seq((1704067200000L, 42.5))))
    val wire = PromRemoteWrite.encodeWriteRequest(series)
    // payload is genuinely compressed (snappy magic handled by decode)
    val decoded = PromRemoteWrite.decodeWriteRequest(wire)
    assert(decoded.size == 3)
    assert(decoded.head.labels("__name__") == "up" &&
      decoded.head.timestamp_ms == 1704067200000L && decoded.head.value == 1.0)
    assert(decoded.last.labels == Map("__name__" -> "http_requests_total",
      "job" -> "api") && decoded.last.value == 42.5)
    // Spark path: payload frame → rows frame with the convert() shape
    import spark.implicits._
    val rows = PromRemoteWrite.rows(Seq(wire).toDF("payload"))
    assert(rows.columns.toSeq == Seq("labels", "timestamp_ms", "value"))
    assert(rows.count() == 3)
    val g = PromRemoteWrite.toGauge(rows)
    assert(g.count() == 2) // the two `up` samples; _total goes to sum
    // malformed payloads fail loudly, not silently
    intercept[Exception](PromRemoteWrite.decodeWriteRequest(
      Array[Byte](1, 2, 3, 4)))
  }

  test("remote_write 2.0: symbol-table refs decode to the same rows as 1.0") {
    val series = Seq(
      (Map("__name__" -> "up", "job" -> "api", "instance" -> "i1"),
        Seq((1000L, 1.0), (2000L, 0.0))),
      (Map("__name__" -> "http_requests_total", "job" -> "api"),
        Seq((1000L, 42.0))))
    val v1 = PromRemoteWrite.decodeWriteRequest(
      PromRemoteWrite.encodeWriteRequest(series))
    val v2 = PromRemoteWrite.decodeWriteRequestV2(
      PromRemoteWrite.encodeWriteRequestV2(series))
    assert(v1 == v2, s"v1:\n$v1\nv2:\n$v2")
    assert(v2.length == 3)
    // the v2 payload really is interned: shared strings appear ONCE
    val raw = org.xerial.snappy.Snappy.uncompress(
      PromRemoteWrite.encodeWriteRequestV2(series))
    def countOccurrences(hay: Array[Byte], needle: Array[Byte]): Int =
      (0 to hay.length - needle.length).count(i =>
        needle.indices.forall(j => hay(i + j) == needle(j)))
    assert(countOccurrences(raw, "api".getBytes("UTF-8")) == 1)
    assert(countOccurrences(raw, "__name__".getBytes("UTF-8")) == 1)
    // bad symbol refs fail loudly
    val pb = new Pb
    pb.str(4, "") // symbol table with only ""
    pb.msg(5) { ts => ts.msg(1)(_.varint(7L).varint(9L)) } // refs out of range
    intercept[Exception](PromRemoteWrite.decodeWriteRequestV2(
      org.xerial.snappy.Snappy.compress(pb.result)))
  }
}
