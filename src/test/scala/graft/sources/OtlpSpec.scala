package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** OTLP wire-decode tests: requests are hand-encoded with a minimal
  * protobuf writer (the same public wire format the decoder reads), so
  * the round trip proves the decoder against independently-constructed
  * bytes — no generated code on either side.
  */
class OtlpSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  import Pb.kv

  // ---- fixtures ----------------------------------------------------------

  private def logsRequest: Array[Byte] = {
    val req = new Pb
    req.msg(1) { rl => // ResourceLogs
      rl.msg(1) { res => // Resource
        kv(res, 1, "service.name", "svc-9")
        kv(res, 1, "host.name", "h-1")
      }
      rl.msg(2) { sl => // ScopeLogs
        sl.msg(1) { sc => // InstrumentationScope
          sc.str(1, "graft-test"); sc.str(2, "0.1")
          kv(sc, 3, "scope.k", "sv")
        }
        sl.msg(2) { lr => // LogRecord #1
          lr.fixed64(1, 1704067200000000001L)
          lr.vint(2, 17) // SEVERITY_NUMBER_ERROR
          lr.str(3, "error")
          lr.msg(5)(_.str(1, "boom"))
          kv(lr, 6, "k", "42")
          lr.fixed32(8, 1)
          lr.bytes(9, Array.tabulate[Byte](16)(i => i.toByte))
          lr.bytes(10, Array.tabulate[Byte](8)(i => (i + 16).toByte))
          lr.fixed64(11, 1704067200000000002L)
        }
        sl.msg(2) { lr => // LogRecord #2: int body, no observed ts
          lr.fixed64(1, 1704067200000000005L)
          lr.vint(2, 9)
          lr.str(3, "info")
          lr.msg(5)(_.vint(3, 7)) // AnyValue{int_value=3}
        }
      }
    }
    req.result
  }

  private def metricsRequest: Array[Byte] = {
    val req = new Pb
    req.msg(1) { rm => // ResourceMetrics
      rm.msg(1)(res => kv(res, 1, "service.name", "svc-m"))
      rm.msg(2) { sm => // ScopeMetrics
        sm.msg(1)(_.str(1, "graft-test"))
        sm.msg(2) { m => // Metric: gauge, double point
          m.str(1, "queue_depth"); m.str(3, "items")
          m.msg(5) { g => // Gauge
            g.msg(1) { p => // NumberDataPoint
              p.fixed64(2, 1704067200000000000L)
              p.fixed64(3, 1704067260000000000L)
              p.double(4, 7.5)
              kv(p, 7, "shard", "s1")
            }
          }
        }
        sm.msg(2) { m => // Metric: monotonic cumulative sum, int point
          m.str(1, "requests")
          m.msg(7) { s => // Sum
            s.msg(1) { p =>
              p.fixed64(3, 1704067260000000000L)
              p.tag(6, 1); (0 until 8).foreach(i => p.out.write(((123L >>> (8 * i)) & 0xFF).toInt))
            }
            s.vint(2, 2) // AGGREGATION_TEMPORALITY_CUMULATIVE
            s.vint(3, 1) // is_monotonic
          }
        }
      }
    }
    req.result
  }

  private def tracesRequest: Array[Byte] = {
    val req = new Pb
    req.msg(1) { rs => // ResourceSpans
      rs.msg(1)(res => kv(res, 1, "service.name", "svc-t"))
      rs.msg(2) { ss => // ScopeSpans
        ss.msg(1)(_.str(1, "graft-test"))
        ss.msg(2) { sp => // root Server span with an event and a status
          sp.bytes(1, Array.tabulate[Byte](16)(_.toByte))
          sp.bytes(2, Array.tabulate[Byte](8)(_.toByte))
          sp.str(5, "GET /x")
          sp.vint(6, 1) // Server (reference kind table)
          sp.fixed64(7, 1704067200000000000L)
          sp.fixed64(8, 1704067200500000000L)
          kv(sp, 9, "http.status", "500")
          sp.msg(11) { ev => // Event
            ev.fixed64(1, 1704067200100000000L); ev.str(2, "exception")
            kv(ev, 3, "msg", "boom")
          }
          sp.msg(15) { st => st.str(2, "went wrong"); st.vint(3, 2) } // Error
        }
        ss.msg(2) { sp => // child span, clock-skewed end < start
          sp.bytes(1, Array.tabulate[Byte](16)(_.toByte))
          sp.bytes(2, Array.tabulate[Byte](8)(i => (i + 8).toByte))
          sp.bytes(4, Array.tabulate[Byte](8)(_.toByte)) // parent
          sp.str(5, "child")
          sp.fixed64(7, 1704067200200000000L)
          sp.fixed64(8, 1704067200100000000L)
        }
      }
    }
    req.result
  }

  // ---- tests -------------------------------------------------------------

  test("logs request decodes to gen-2 rows (ids hex, attrs flattened)") {
    val rows = Otlp.decodeLogsRequest(logsRequest)
    assert(rows.length == 2)
    val r1 = rows.head
    assert(r1.timestamp == 1704067200000000001L)
    assert(r1.observed_timestamp == 1704067200000000002L)
    assert(r1.trace_id == "000102030405060708090a0b0c0d0e0f")
    assert(r1.span_id == "1011121314151617")
    assert(r1.trace_flags == 1)
    assert(r1.severity_text == "error" && r1.severity_number == 17)
    assert(r1.service_name == "svc-9")
    assert(r1.body == "boom")
    assert(r1.resource_attributes == Map("service.name" -> "svc-9", "host.name" -> "h-1"))
    assert(r1.scope_attributes == Map("scope.k" -> "sv"))
    assert(r1.log_attributes == Map("k" -> "42"))
    assert(r1.scope_name == "graft-test" && r1.scope_version == "0.1")
    val r2 = rows(1)
    assert(r2.body == "7") // int AnyValue flattens to its decimal string
    assert(r2.observed_timestamp == r2.timestamp) // defaulted
    assert(r2.trace_id == "" && r2.log_attributes.isEmpty)
  }

  test("metrics request decodes to gauge and sum points") {
    val rows = Otlp.decodeMetricsRequest(metricsRequest)
    assert(rows.length == 2)
    val g = rows.find(_.kind == "gauge").get
    assert(g.metric_name == "queue_depth" && g.metric_unit == "items")
    assert(g.value == 7.5)
    assert(g.timestamp == 1704067260000000000L)
    assert(g.start_timestamp == 1704067200000000000L)
    assert(g.attributes == Map("shard" -> "s1"))
    assert(g.service_name == "svc-m")
    val s = rows.find(_.kind == "sum").get
    assert(s.metric_name == "requests" && s.value == 123.0)
    assert(s.aggregation_temporality == 2 && s.is_monotonic)
  }

  test("traces request decodes spans with reference kind/status/duration semantics") {
    val rows = Otlp.decodeTracesRequest(tracesRequest)
    assert(rows.length == 2)
    val root = rows.head
    assert(root.span_name == "GET /x" && root.service_name == "svc-t")
    assert(root.span_kind == "Server" && root.status_code == "Error")
    assert(root.status_message == "went wrong")
    assert(root.is_root && root.parent_span_id == "")
    assert(root.duration_nanos == 500000000L)
    assert(root.span_attributes == Map("http.status" -> "500"))
    assert(root.events.contains("\"name\":\"exception\"") &&
      root.events.contains("\"msg\":\"boom\""))
    val child = rows(1)
    assert(!child.is_root && child.parent_span_id == root.span_id)
    assert(child.duration_nanos == 0L) // clock-skew clamps, never negative
    assert(child.span_kind == "Internal") // kind absent → reference default
    assert(child.status_code == "Unspecified")
    // Spark side: binary payloads flatMap to the Schemas.traces row shape
    import spark.implicits._
    val df = Otlp.traces(Seq(tracesRequest).toDF("payload"))
    assert(df.count() == 2)
    assert(df.columns.contains("duration_nanos") && df.columns.contains("is_root"))
  }

  test("exponential histogram points decode: zigzag scale/offsets, packed counts") {
    val req = new Pb
    req.msg(1) { rm =>
      rm.msg(1)(res => kv(res, 1, "service.name", "svc-e"))
      rm.msg(2) { sm =>
        sm.msg(2) { m =>
          m.str(1, "native_latency")
          m.msg(10) { h => // ExponentialHistogram
            h.msg(1) { p => // ExponentialHistogramDataPoint
              p.fixed64(3, 1704067260000000000L)
              p.fixed64(4, 10L)      // count
              p.double(5, 6.25)      // sum
              p.vint(6, 3)           // scale = zigzag(3) = -2? no: sint32 2 encodes...
              p.fixed64(7, 2L)       // zero_count
              p.msg(8) { b =>        // positive Buckets
                b.vint(1, 2)         // offset sint32: zigzag(2) = 1
                b.msg(2)(pk => { pk.varint(3L); pk.varint(5L) }) // packed
              }
              p.msg(9) { b =>        // negative Buckets
                b.vint(1, 1)         // zigzag(1) = -1
                b.vint(2, 2)         // unpacked single count
              }
              p.double(14, 1e-9)     // zero_threshold
            }
            h.vint(2, 2)
          }
        }
      }
    }
    val rows = Otlp.decodeExpHistogramsRequest(req.result)
    assert(rows.length == 1)
    val r = rows.head
    assert(r.service_name == "svc-e" && r.metric_name == "native_latency")
    assert(r.count == 10L && r.sum.contains(6.25))
    assert(r.scale == zig(3), s"scale ${r.scale}") // sint32 decode
    assert(r.zero_count == 2L)
    assert(r.positive_offset == zig(2) && r.positive_bucket_counts == "[3,5]")
    assert(r.negative_offset == zig(1) && r.negative_bucket_counts == "[2]")
    assert(r.zero_threshold == 1e-9)
    assert(r.aggregation_temporality == 2)
  }

  private def zig(encoded: Long): Int = (((encoded >>> 1) ^ -(encoded & 1)).toInt)

  test("summary points decode: count/sum and the quantile-value array") {
    val req = new Pb
    req.msg(1) { rm =>
      rm.msg(1)(res => kv(res, 1, "service.name", "svc-s"))
      rm.msg(2) { sm =>
        sm.msg(2) { m =>
          m.str(1, "rpc_latency")
          m.msg(11) { su => // Summary
            su.msg(1) { p =>
              p.fixed64(3, 1704067260000000000L)
              p.fixed64(4, 100L)
              p.double(5, 42.5)
              p.msg(6) { q => q.double(1, 0.5); q.double(2, 0.31) }
              p.msg(6) { q => q.double(1, 0.99); q.double(2, 1.75) }
              kv(p, 7, "rpc", "Get")
            }
          }
        }
      }
    }
    val rows = Otlp.decodeSummariesRequest(req.result)
    assert(rows.length == 1)
    val r = rows.head
    assert(r.service_name == "svc-s" && r.metric_name == "rpc_latency")
    assert(r.count == 100L && r.sum == 42.5)
    assert(r.quantile_values ==
      """[{"quantile":0.5,"value":0.31},{"quantile":0.99,"value":1.75}]""")
    assert(r.attributes == Map("rpc" -> "Get"))
  }

  test("unknown fields are skipped, truncated input fails at the boundary") {
    // append an unknown field (200, varint) at the request level
    val extra = new Pb
    extra.out.write(logsRequest)
    extra.vint(200, 9999)
    assert(Otlp.decodeLogsRequest(extra.result).length == 2)
    val cut = logsRequest.dropRight(3)
    assertThrows[IllegalArgumentException](Otlp.decodeLogsRequest(cut))
  }

  test("Spark integration: payload column flatMaps to typed rows") {
    import spark.implicits._
    val payloads = Seq(logsRequest, logsRequest).toDF("payload")
    val df = Otlp.logs(payloads)
    assert(df.count() == 4)
    assert(df.columns.contains("log_attributes"))
    assert(df.filter(df("severity_text") === "error").count() == 2)
    val (gauge, sum) = Otlp.metrics(Seq(metricsRequest).toDF("payload"))
    assert(gauge.count() == 1 && sum.count() == 1)
    assert(sum.columns.contains("aggregation_temporality"))
  }
}
