package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** OTLP/JSON (protojson) decode: the CROSS-ENCODING LAW — a protojson
  * request equivalent to a protobuf request must decode to exactly the
  * same rows through both paths (same columns, same values), so the
  * two content types are indistinguishable downstream of the acceptor. */
class OtlpJsonSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def df(payload: Array[Byte]) = {
    import spark.implicits._
    spark.createDataset(Seq(payload)).toDF("payload")
  }

  // ---- protobuf twins (same fixtures as OtlpSpec) ------------------------

  private class Pb {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Pb = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    def tag(f: Int, w: Int): Pb = varint((f << 3) | w)
    def vint(f: Int, v: Long): Pb = { tag(f, 0); varint(v) }
    def fixed64(f: Int, v: Long): Pb = {
      tag(f, 1); (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def fixed32(f: Int, v: Int): Pb = {
      tag(f, 5); (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def double(f: Int, v: Double): Pb = fixed64(f, java.lang.Double.doubleToLongBits(v))
    def bytes(f: Int, b: Array[Byte]): Pb = { tag(f, 2); varint(b.length); out.write(b); this }
    def str(f: Int, s: String): Pb = bytes(f, s.getBytes("UTF-8"))
    def msg(f: Int)(fn: Pb => Unit): Pb = { val p = new Pb; fn(p); bytes(f, p.out.toByteArray) }
    def result: Array[Byte] = out.toByteArray
  }
  private def kv(p: Pb, f: Int, k: String, v: String): Unit =
    p.msg(f) { e => e.str(1, k); e.msg(2)(_.str(1, v)) }

  test("logs: protojson decodes to the same rows as protobuf") {
    val pb = new Pb
    pb.msg(1) { rl =>
      rl.msg(1) { res =>
        kv(res, 1, "service.name", "svc-9"); kv(res, 1, "host.name", "h-1")
      }
      rl.msg(2) { sl =>
        sl.msg(1) { sc =>
          sc.str(1, "graft-test"); sc.str(2, "0.1"); kv(sc, 3, "scope.k", "sv")
        }
        sl.msg(2) { lr =>
          lr.fixed64(1, 1704067200000000001L)
          lr.vint(2, 17); lr.str(3, "error")
          lr.msg(5)(_.str(1, "boom"))
          kv(lr, 6, "k", "42")
          lr.fixed32(8, 1)
          lr.bytes(9, Array.tabulate[Byte](16)(i => i.toByte))
          lr.bytes(10, Array.tabulate[Byte](8)(i => (i + 16).toByte))
          lr.fixed64(11, 1704067200000000002L)
        }
        sl.msg(2) { lr =>
          lr.fixed64(1, 1704067200000000005L)
          lr.vint(2, 9); lr.str(3, "info")
          lr.msg(5)(_.vint(3, 7))
        }
      }
    }
    val json =
      """{"resourceLogs":[{"resource":{"attributes":[
        |  {"key":"service.name","value":{"stringValue":"svc-9"}},
        |  {"key":"host.name","value":{"stringValue":"h-1"}}]},
        |"scopeLogs":[{"scope":{"name":"graft-test","version":"0.1",
        |  "attributes":[{"key":"scope.k","value":{"stringValue":"sv"}}]},
        |"logRecords":[
        |  {"timeUnixNano":"1704067200000000001",
        |   "observedTimeUnixNano":"1704067200000000002",
        |   "severityNumber":17,"severityText":"error",
        |   "body":{"stringValue":"boom"},
        |   "attributes":[{"key":"k","value":{"stringValue":"42"}}],
        |   "flags":1,
        |   "traceId":"000102030405060708090a0b0c0d0e0f",
        |   "spanId":"1011121314151617"},
        |  {"timeUnixNano":"1704067200000000005",
        |   "severityNumber":9,"severityText":"info",
        |   "body":{"intValue":"7"}}
        |]}]}]}""".stripMargin
    val fromPb = Otlp.logs(df(pb.result)).orderBy("timestamp").collect()
    val fromJson = OtlpJson.logs(df(json.getBytes("UTF-8")))
      .orderBy("timestamp").collect()
    assert(fromPb.length == 2 && fromJson.length == 2)
    assert(fromPb.toSeq == fromJson.toSeq,
      s"pb:\n${fromPb.mkString("\n")}\njson:\n${fromJson.mkString("\n")}")
  }

  test("traces: protojson decodes to the same rows as protobuf (events/links too)") {
    val pb = new Pb
    pb.msg(1) { rs =>
      rs.msg(1)(res => kv(res, 1, "service.name", "svc-t"))
      rs.msg(2) { ss =>
        ss.msg(1)(_.str(1, "graft-test"))
        ss.msg(2) { sp =>
          sp.bytes(1, Array.tabulate[Byte](16)(_.toByte))
          sp.bytes(2, Array.tabulate[Byte](8)(_.toByte))
          sp.str(5, "GET /x")
          sp.vint(6, 1)
          sp.fixed64(7, 1704067200000000000L)
          sp.fixed64(8, 1704067200500000000L)
          kv(sp, 9, "http.route", "/x")
          sp.msg(11) { ev =>
            ev.fixed64(1, 1704067200100000000L); ev.str(2, "exception")
            kv(ev, 3, "msg", "boom")
          }
          sp.msg(15) { st => st.str(2, "went wrong"); st.vint(3, 2) }
        }
        ss.msg(2) { sp =>
          sp.bytes(1, Array.tabulate[Byte](16)(_.toByte))
          sp.bytes(2, Array.tabulate[Byte](8)(i => (i + 8).toByte))
          sp.bytes(4, Array.tabulate[Byte](8)(_.toByte))
          sp.str(5, "child")
          sp.fixed64(7, 1704067200200000000L)
          sp.fixed64(8, 1704067200100000000L)
        }
      }
    }
    val json =
      """{"resourceSpans":[{"resource":{"attributes":[
        |  {"key":"service.name","value":{"stringValue":"svc-t"}}]},
        |"scopeSpans":[{"scope":{"name":"graft-test"},
        |"spans":[
        |  {"traceId":"000102030405060708090a0b0c0d0e0f",
        |   "spanId":"0001020304050607",
        |   "name":"GET /x","kind":1,
        |   "startTimeUnixNano":"1704067200000000000",
        |   "endTimeUnixNano":"1704067200500000000",
        |   "attributes":[{"key":"http.route","value":{"stringValue":"/x"}}],
        |   "events":[{"timeUnixNano":"1704067200100000000","name":"exception",
        |     "attributes":[{"key":"msg","value":{"stringValue":"boom"}}]}],
        |   "status":{"message":"went wrong","code":2}},
        |  {"traceId":"000102030405060708090a0b0c0d0e0f",
        |   "spanId":"08090a0b0c0d0e0f",
        |   "parentSpanId":"0001020304050607",
        |   "name":"child",
        |   "startTimeUnixNano":"1704067200200000000",
        |   "endTimeUnixNano":"1704067200100000000"}
        |]}]}]}""".stripMargin
    val fromPb = Otlp.traces(df(pb.result)).orderBy("span_id").collect()
    val fromJson = OtlpJson.traces(df(json.getBytes("UTF-8")))
      .orderBy("span_id").collect()
    assert(fromPb.length == 2 && fromJson.length == 2)
    assert(fromPb.toSeq == fromJson.toSeq,
      s"pb:\n${fromPb.mkString("\n")}\njson:\n${fromJson.mkString("\n")}")
  }

  test("metrics: protojson decodes to the same gauge/sum split as protobuf") {
    val pb = new Pb
    pb.msg(1) { rm =>
      rm.msg(1)(res => kv(res, 1, "service.name", "svc-m"))
      rm.msg(2) { sm =>
        sm.msg(1)(_.str(1, "graft-test"))
        sm.msg(2) { m =>
          m.str(1, "queue_depth"); m.str(3, "items")
          m.msg(5) { g =>
            g.msg(1) { p =>
              p.fixed64(2, 1704067200000000000L)
              p.fixed64(3, 1704067260000000000L)
              p.double(4, 7.5)
              kv(p, 7, "shard", "s1")
              p.msg(5) { ex => // Exemplar with a trace link
                ex.fixed64(2, 1704067250000000000L)
                ex.double(3, 3.25)
                ex.bytes(4, Array.tabulate[Byte](8)(i => (i + 32).toByte))
                ex.bytes(5, Array.tabulate[Byte](16)(i => (i + 64).toByte))
              }
            }
          }
        }
        sm.msg(2) { m =>
          m.str(1, "requests")
          m.msg(7) { s =>
            s.msg(1) { p =>
              p.fixed64(3, 1704067260000000000L)
              p.tag(6, 1)
              (0 until 8).foreach(i => p.out.write(((123L >>> (8 * i)) & 0xFF).toInt))
            }
            s.vint(2, 2); s.vint(3, 1)
          }
        }
      }
    }
    val json =
      """{"resourceMetrics":[{"resource":{"attributes":[
        |  {"key":"service.name","value":{"stringValue":"svc-m"}}]},
        |"scopeMetrics":[{"scope":{"name":"graft-test"},
        |"metrics":[
        |  {"name":"queue_depth","unit":"items","gauge":{"dataPoints":[
        |    {"startTimeUnixNano":"1704067200000000000",
        |     "timeUnixNano":"1704067260000000000","asDouble":7.5,
        |     "attributes":[{"key":"shard","value":{"stringValue":"s1"}}],
        |     "exemplars":[{"timeUnixNano":"1704067250000000000",
        |       "asDouble":3.25,
        |       "spanId":"2021222324252627",
        |       "traceId":"404142434445464748494a4b4c4d4e4f"}]}]}},
        |  {"name":"requests","sum":{"dataPoints":[
        |    {"timeUnixNano":"1704067260000000000","asInt":"123"}],
        |    "aggregationTemporality":2,"isMonotonic":true}}
        |]}]}]}""".stripMargin
    val (gPb, sPb) = Otlp.metrics(df(pb.result))
    val (gJs, sJs) = OtlpJson.metrics(df(json.getBytes("UTF-8")))
    assert(gPb.collect().toSeq == gJs.collect().toSeq,
      s"gauge pb:\n${gPb.collect().mkString("\n")}\njson:\n${gJs.collect().mkString("\n")}")
    assert(sPb.collect().toSeq == sJs.collect().toSeq,
      s"sum pb:\n${sPb.collect().mkString("\n")}\njson:\n${sJs.collect().mkString("\n")}")
  }

  test("histograms: protojson decodes to the same rows as protobuf") {
    val pb = new Pb
    pb.msg(1) { rm =>
      rm.msg(1)(res => kv(res, 1, "service.name", "svc-h"))
      rm.msg(2) { sm =>
        sm.msg(2) { m =>
          m.str(1, "latency"); m.str(3, "s")
          m.msg(9) { h => // Histogram
            h.msg(1) { p => // HistogramDataPoint
              p.fixed64(2, 1704067200000000000L)
              p.fixed64(3, 1704067260000000000L)
              p.fixed64(4, 7L)           // count
              p.double(5, 12.5)          // sum
              p.msg(6) { b =>            // packed bucket_counts (fixed64)
                Seq(1L, 4L, 2L).foreach(v =>
                  (0 until 8).foreach(i => b.out.write(((v >>> (8 * i)) & 0xFF).toInt)))
              }
              p.msg(7) { b =>            // packed explicit_bounds (double)
                Seq(0.5, 1.0).foreach { d =>
                  val bits = java.lang.Double.doubleToLongBits(d)
                  (0 until 8).foreach(i => b.out.write(((bits >>> (8 * i)) & 0xFF).toInt))
                }
              }
              kv(p, 9, "route", "/x")
              p.double(11, 0.1)          // min
              p.double(12, 2.5)          // max
            }
            h.vint(2, 2) // cumulative
          }
        }
      }
    }
    val json =
      """{"resourceMetrics":[{"resource":{"attributes":[
        |  {"key":"service.name","value":{"stringValue":"svc-h"}}]},
        |"scopeMetrics":[{"metrics":[
        |  {"name":"latency","unit":"s","histogram":{"dataPoints":[
        |    {"startTimeUnixNano":"1704067200000000000",
        |     "timeUnixNano":"1704067260000000000",
        |     "count":"7","sum":12.5,
        |     "bucketCounts":["1","4","2"],"explicitBounds":[0.5,1.0],
        |     "attributes":[{"key":"route","value":{"stringValue":"/x"}}],
        |     "min":0.1,"max":2.5}],
        |   "aggregationTemporality":2}}
        |]}]}]}""".stripMargin
    val fromPb = Otlp.histograms(df(pb.result)).collect()
    val fromJson = OtlpJson.histograms(df(json.getBytes("UTF-8"))).collect()
    assert(fromPb.length == 1 && fromJson.length == 1)
    assert(fromPb.toSeq == fromJson.toSeq,
      s"pb:\n${fromPb.mkString("\n")}\njson:\n${fromJson.mkString("\n")}")
    val r = fromPb(0)
    assert(r.getAs[Long]("count") == 7L)
    assert(r.getAs[String]("bucket_counts") == "[1,4,2]")
    assert(r.getAs[String]("explicit_bounds") == "[0.5,1.0]")
    assert(r.getAs[Double]("min") == 0.1 && r.getAs[Double]("max") == 2.5)
  }

  test("malformed and empty JSON decode to zero rows, never a crash") {
    assert(OtlpJson.logs(df("not json at all".getBytes)).count() == 0)
    assert(OtlpJson.logs(df("{}".getBytes)).count() == 0)
    assert(OtlpJson.traces(df("""{"resourceSpans":[]}""".getBytes)).count() == 0)
    val (g, s0) = OtlpJson.metrics(df("{}".getBytes))
    assert(g.count() == 0 && s0.count() == 0)
  }
}
