package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col

/** OTLP ingest decode — the protobuf wire format parsed directly, no
  * generated classes or codec dependencies (reference:
  * src/common/src/flight/conversion/conversion_logs.rs:30-110 row
  * mapping, conversion_metrics.rs gauge/sum mapping; the reference links
  * prost-generated opentelemetry-proto types, this decodes the same
  * public wire format by hand).
  *
  * Scale shape: decoding is a per-payload narrow flatMap — each request
  * body becomes its rows on the executor holding it, no shuffle, no
  * driver involvement. A malformed payload raises with an offset so bad
  * input fails at the boundary, not deep in a query.
  *
  * Wire format (public spec): a message is a sequence of
  * `tag(varint) value` pairs; tag = fieldNo << 3 | wireType with
  * wireType 0 = varint, 1 = fixed64, 2 = length-delimited, 5 = fixed32.
  * Unknown fields are skipped, as protobuf requires.
  */
object Otlp {

  /** one decoded OTLP log record, aligned with the gen-2 logs schema
    * (graft.schema.Schemas.logs). */
  final case class LogRow(
      timestamp: Long,
      observed_timestamp: Long,
      trace_id: String,
      span_id: String,
      trace_flags: Int,
      severity_text: String,
      severity_number: Int,
      service_name: String,
      body: String,
      resource_attributes: Map[String, String],
      scope_attributes: Map[String, String],
      log_attributes: Map[String, String],
      scope_name: String,
      scope_version: String)

  /** one decoded OTLP number data point (gauge or sum), aligned with
    * Schemas.metricCommon (+ sum temporality fields). */
  final case class MetricRow(
      timestamp: Long,
      start_timestamp: Long,
      service_name: String,
      metric_name: String,
      metric_description: String,
      metric_unit: String,
      resource_attributes: Map[String, String],
      scope_attributes: Map[String, String],
      attributes: Map[String, String],
      flags: Int,
      exemplars: String,
      value: Double,
      kind: String, // "gauge" | "sum"
      aggregation_temporality: Int,
      is_monotonic: Boolean)

  // ---- wire-level reader -------------------------------------------------

  /** cursor over one length-delimited slice of the payload. */
  private[sources] final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end

    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"OTLP decode: $msg at offset $pos")

    def readVarint(): Long = {
      var shift = 0
      var out = 0L
      while (shift < 64) {
        if (pos >= end) fail("truncated varint")
        val b = buf(pos); pos += 1
        out |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return out
        shift += 7
      }
      fail("varint exceeds 64 bits")
    }

    def readTag(): (Int, Int) = {
      val t = readVarint()
      ((t >>> 3).toInt, (t & 7).toInt)
    }

    def readFixed64(): Long = {
      if (pos + 8 > end) fail("truncated fixed64")
      var out = 0L
      var i = 7
      while (i >= 0) { out = (out << 8) | (buf(pos + i) & 0xFFL); i -= 1 }
      pos += 8
      out
    }

    def readFixed32(): Int = {
      if (pos + 4 > end) fail("truncated fixed32")
      val out = (buf(pos) & 0xFF) | ((buf(pos + 1) & 0xFF) << 8) |
        ((buf(pos + 2) & 0xFF) << 16) | ((buf(pos + 3) & 0xFF) << 24)
      pos += 4
      out
    }

    /** a nested reader over the next length-delimited value. */
    def readSlice(): Reader = {
      val len = readVarint().toInt
      if (len < 0 || pos + len > end) fail(s"bad length $len")
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    def readString(): String = {
      val s = readSlice()
      new String(buf, s.pos, s.end - s.pos, "UTF-8")
    }

    def readBytesHex(): String = {
      val s = readSlice()
      val sb = new StringBuilder
      var i = s.pos
      while (i < s.end) { sb.append(f"${buf(i) & 0xFF}%02x"); i += 1 }
      sb.toString
    }

    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint()
      case 1 => readFixed64()
      case 2 => readSlice()
      case 5 => readFixed32()
      case w => fail(s"unsupported wire type $w")
    }
  }

  private[sources] def reader(bytes: Array[Byte]) = new Reader(bytes, 0, bytes.length)

  // ---- common OTLP messages ---------------------------------------------

  /** AnyValue → display string (string raw; others JSON-shaped), matching
    * the reference's extract_value flattening (conversion_common.rs). */
  private def anyValue(r: Reader): String = {
    var out = ""
    while (r.hasNext) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => out = r.readString()
        case (2, 0) => out = if (r.readVarint() != 0) "true" else "false"
        case (3, 0) => out = r.readVarint().toString
        case (4, 1) => out = java.lang.Double.longBitsToDouble(r.readFixed64()).toString
        case (5, 2) => // ArrayValue { repeated AnyValue values = 1; }
          val a = r.readSlice()
          val items = Seq.newBuilder[String]
          while (a.hasNext) {
            val (af, aw) = a.readTag()
            if (af == 1 && aw == 2) items += jsonQuoteIfNeeded(anyValue(a.readSlice()))
            else a.skip(aw)
          }
          out = items.result().mkString("[", ",", "]")
        case (6, 2) => // KeyValueList { repeated KeyValue values = 1; }
          val kvs = keyValues(r.readSlice(), 1)
          out = kvs.map { case (k, v) => s"${jsonQuote(k)}:${jsonQuoteIfNeeded(v)}" }
            .mkString("{", ",", "}")
        case (7, 2) => out = r.readBytesHex()
        case _      => r.skip(w)
      }
    }
    out
  }

  private[sources] def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private[sources] def jsonQuoteIfNeeded(s: String): String =
    if (s.nonEmpty && (s == "true" || s == "false" ||
        s.forall(c => c.isDigit || c == '-' || c == '.' || c == 'E' || c == 'e'))) s
    else jsonQuote(s)

  /** repeated KeyValue fields with the given field number → ordered map. */
  private def keyValues(r: Reader, fieldNo: Int): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      if (f == fieldNo && w == 2) out += oneKeyValue(r.readSlice())
      else r.skip(w)
    }
    out.result()
  }

  /** one KeyValue element (a single occurrence of a repeated field). */
  private def oneKeyValue(one: Reader): (String, String) = {
    var k = ""
    var v = ""
    while (one.hasNext) {
      val (kf, kw) = one.readTag()
      (kf, kw) match {
        case (1, 2) => k = one.readString()
        case (2, 2) => v = anyValue(one.readSlice())
        case _      => one.skip(kw)
      }
    }
    (k, v)
  }

  // ---- logs --------------------------------------------------------------

  /** ExportLogsServiceRequest bytes → rows (conversion_logs.rs:49-105). */
  def decodeLogsRequest(bytes: Array[Byte]): Seq[LogRow] = {
    val out = Seq.newBuilder[LogRow]
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      if (f == 1 && w == 2) { // ResourceLogs
        val rl = req.readSlice()
        var resAttrs = Seq.empty[(String, String)]
        val scopeLogs = Seq.newBuilder[Reader]
        while (rl.hasNext) {
          val (rf, rw) = rl.readTag()
          (rf, rw) match {
            case (1, 2) => resAttrs = keyValues(rl.readSlice(), 1) // Resource.attributes
            case (2, 2) => scopeLogs += rl.readSlice()             // ScopeLogs
            case _      => rl.skip(rw)
          }
        }
        val resMap = resAttrs.toMap
        val serviceName = resMap.getOrElse("service.name", "")
        for (sl <- scopeLogs.result()) {
          var scopeName = ""
          var scopeVersion = ""
          var scopeAttrs = Map.empty[String, String]
          val records = Seq.newBuilder[Reader]
          while (sl.hasNext) {
            val (sf, sw) = sl.readTag()
            (sf, sw) match {
              case (1, 2) => // InstrumentationScope
                val sc = sl.readSlice()
                val sa = Map.newBuilder[String, String]
                while (sc.hasNext) {
                  val (cf, cw) = sc.readTag()
                  (cf, cw) match {
                    case (1, 2) => scopeName = sc.readString()
                    case (2, 2) => scopeVersion = sc.readString()
                    case (3, 2) => sa += oneKeyValue(sc.readSlice())
                    case _ => sc.skip(cw)
                  }
                }
                scopeAttrs = sa.result()
              case (2, 2) => records += sl.readSlice() // LogRecord
              case _      => sl.skip(sw)
            }
          }
          for (lr <- records.result()) {
            var ts = 0L; var obsTs = 0L
            var sevNo = 0; var sevText = ""
            var body = ""
            var attrs = Seq.empty[(String, String)]
            var flags = 0
            var traceId = ""; var spanId = ""
            while (lr.hasNext) {
              val (lf, lw) = lr.readTag()
              (lf, lw) match {
                case (1, 1)  => ts = lr.readFixed64()
                case (2, 0)  => sevNo = lr.readVarint().toInt
                case (3, 2)  => sevText = lr.readString()
                case (5, 2)  => body = anyValue(lr.readSlice())
                case (6, 2)  => attrs = attrs :+ oneKeyValue(lr.readSlice())
                case (8, 5)  => flags = lr.readFixed32()
                case (9, 2)  => traceId = lr.readBytesHex()
                case (10, 2) => spanId = lr.readBytesHex()
                case (11, 1) => obsTs = lr.readFixed64()
                case _       => lr.skip(lw)
              }
            }
            out += LogRow(ts, if (obsTs != 0) obsTs else ts, traceId, spanId,
              flags, sevText, sevNo, serviceName, body, resMap, scopeAttrs,
              attrs.toMap, scopeName, scopeVersion)
          }
        }
      } else req.skip(w)
    }
    out.result()
  }

  /** one decoded OTLP span, aligned with Schemas.traces (minus partition
    * cols; `timestamp` = start time for the hour layout). */
  final case class TraceRow(
      trace_id: String,
      span_id: String,
      parent_span_id: String,
      span_name: String,
      service_name: String,
      start_time_unix_nano: Long,
      end_time_unix_nano: Long,
      duration_nanos: Long,
      span_kind: String,
      status_code: String,
      status_message: String,
      is_root: Boolean,
      span_attributes: Map[String, String],
      resource_attributes: Map[String, String],
      scope_attributes: Map[String, String],
      events: String,
      links: String,
      trace_state: String,
      scope_name: String,
      scope_version: String,
      timestamp: Long)

  // ---- traces ------------------------------------------------------------

  /** ExportTraceServiceRequest bytes → span rows. Kind/status strings and
    * the saturating duration mirror the reference's conversion exactly
    * (conversion_traces.rs:140-174,260-275). */
  def decodeTracesRequest(bytes: Array[Byte]): Seq[TraceRow] = {
    val out = Seq.newBuilder[TraceRow]
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      if (f == 1 && w == 2) { // ResourceSpans
        val rs = req.readSlice()
        var resMap = Map.empty[String, String]
        val scopeSpans = Seq.newBuilder[Reader]
        while (rs.hasNext) {
          val (rf, rw) = rs.readTag()
          (rf, rw) match {
            case (1, 2) => resMap = keyValues(rs.readSlice(), 1).toMap
            case (2, 2) => scopeSpans += rs.readSlice()
            case _      => rs.skip(rw)
          }
        }
        val serviceName = resMap.getOrElse("service.name", "")
        for (ss <- scopeSpans.result()) {
          var scopeName = ""
          var scopeVersion = ""
          var scopeAttrs = Map.empty[String, String]
          val spans = Seq.newBuilder[Reader]
          while (ss.hasNext) {
            val (sf, sw) = ss.readTag()
            (sf, sw) match {
              case (1, 2) =>
                val sc = ss.readSlice()
                while (sc.hasNext) {
                  val (cf, cw) = sc.readTag()
                  (cf, cw) match {
                    case (1, 2) => scopeName = sc.readString()
                    case (2, 2) => scopeVersion = sc.readString()
                    case (3, 2) => scopeAttrs = scopeAttrs + oneKeyValue(sc.readSlice())
                    case _      => sc.skip(cw)
                  }
                }
              case (2, 2) => spans += ss.readSlice()
              case _      => ss.skip(sw)
            }
          }
          for (sp <- spans.result()) {
            var traceId = ""; var spanId = ""; var parentId = ""
            var traceState = ""; var name = ""
            var kind = 0
            var startNs = 0L; var endNs = 0L
            var attrs = Seq.empty[(String, String)]
            var statusCode = "Unspecified"; var statusMsg = ""
            val events = Seq.newBuilder[String]
            val links = Seq.newBuilder[String]
            while (sp.hasNext) {
              val (pf, pw) = sp.readTag()
              (pf, pw) match {
                case (1, 2)  => traceId = sp.readBytesHex()
                case (2, 2)  => spanId = sp.readBytesHex()
                case (3, 2)  => traceState = sp.readString()
                case (4, 2)  => parentId = sp.readBytesHex()
                case (5, 2)  => name = sp.readString()
                case (6, 0)  => kind = sp.readVarint().toInt
                case (7, 1)  => startNs = sp.readFixed64()
                case (8, 1)  => endNs = sp.readFixed64()
                case (9, 2)  => attrs = attrs :+ oneKeyValue(sp.readSlice())
                case (11, 2) => // Event { time=1 fixed64, name=2, attributes=3 }
                  val ev = sp.readSlice()
                  var eTime = 0L; var eName = ""
                  var eAttrs = Seq.empty[(String, String)]
                  while (ev.hasNext) {
                    val (ef, ew) = ev.readTag()
                    (ef, ew) match {
                      case (1, 1) => eTime = ev.readFixed64()
                      case (2, 2) => eName = ev.readString()
                      case (3, 2) => eAttrs = eAttrs :+ oneKeyValue(ev.readSlice())
                      case _      => ev.skip(ew)
                    }
                  }
                  events += s"""{"name":${jsonQuote(eName)},"time_unix_nano":$eTime,""" +
                    s""""attributes":${eAttrs.map { case (k, v) =>
                      s"${jsonQuote(k)}:${jsonQuoteIfNeeded(v)}" }.mkString("{", ",", "}")}}"""
                case (13, 2) => // Link { trace_id=1 bytes, span_id=2 bytes }
                  val lk = sp.readSlice()
                  var lTrace = ""; var lSpan = ""
                  while (lk.hasNext) {
                    val (lf, lw) = lk.readTag()
                    (lf, lw) match {
                      case (1, 2) => lTrace = lk.readBytesHex()
                      case (2, 2) => lSpan = lk.readBytesHex()
                      case _      => lk.skip(lw)
                    }
                  }
                  links += s"""{"trace_id":${jsonQuote(lTrace)},"span_id":${jsonQuote(lSpan)}}"""
                case (15, 2) => // Status { message=2, code=3 }
                  val st = sp.readSlice()
                  while (st.hasNext) {
                    val (tf, tw) = st.readTag()
                    (tf, tw) match {
                      case (2, 2) => statusMsg = st.readString()
                      case (3, 0) => statusCode = st.readVarint() match {
                        case 1 => "Ok"
                        case 2 => "Error"
                        case _ => "Unspecified"
                      }
                      case _ => st.skip(tw)
                    }
                  }
                case _ => sp.skip(pw)
              }
            }
            // kind string table as the reference writes it
            val kindStr = kind match {
              case 1 => "Server"
              case 2 => "Client"
              case 3 => "Producer"
              case 4 => "Consumer"
              case _ => "Internal"
            }
            out += TraceRow(traceId, spanId, parentId, name, serviceName,
              startNs, endNs, math.max(0L, endNs - startNs), kindStr,
              statusCode, statusMsg, parentId.isEmpty, attrs.toMap, resMap,
              scopeAttrs, events.result().mkString("[", ",", "]"),
              links.result().mkString("[", ",", "]"), traceState,
              scopeName, scopeVersion, startNs)
          }
        }
      } else req.skip(w)
    }
    out.result()
  }

  // ---- metrics -----------------------------------------------------------

  /** ExportMetricsServiceRequest bytes → gauge/sum data-point rows
    * (conversion_metrics.rs; histogram/exp-histogram/summary points ride
    * the same frame but are out of this decoder's subset). */
  def decodeMetricsRequest(bytes: Array[Byte]): Seq[MetricRow] = {
    val out = Seq.newBuilder[MetricRow]
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      if (f == 1 && w == 2) { // ResourceMetrics
        val rm = req.readSlice()
        var resMap = Map.empty[String, String]
        val scopeMetrics = Seq.newBuilder[Reader]
        while (rm.hasNext) {
          val (rf, rw) = rm.readTag()
          (rf, rw) match {
            case (1, 2) => resMap = keyValues(rm.readSlice(), 1).toMap
            case (2, 2) => scopeMetrics += rm.readSlice()
            case _      => rm.skip(rw)
          }
        }
        val serviceName = resMap.getOrElse("service.name", "")
        for (sm <- scopeMetrics.result()) {
          var scopeAttrs = Map.empty[String, String]
          val metrics = Seq.newBuilder[Reader]
          while (sm.hasNext) {
            val (sf, sw) = sm.readTag()
            (sf, sw) match {
              case (1, 2) =>
                val sc = sm.readSlice()
                while (sc.hasNext) {
                  val (cf, cw) = sc.readTag()
                  if (cf == 3 && cw == 2) scopeAttrs = scopeAttrs + oneKeyValue(sc.readSlice())
                  else sc.skip(cw)
                }
              case (2, 2) => metrics += sm.readSlice()
              case _      => sm.skip(sw)
            }
          }
          for (m <- metrics.result()) {
            var name = ""; var desc = ""; var unit = ""
            var kind = ""
            var temporality = 0
            var monotonic = false
            val points = Seq.newBuilder[Reader]
            while (m.hasNext) {
              val (mf, mw) = m.readTag()
              (mf, mw) match {
                case (1, 2) => name = m.readString()
                case (2, 2) => desc = m.readString()
                case (3, 2) => unit = m.readString()
                case (5, 2) => // Gauge { data_points = 1 }
                  kind = "gauge"
                  val g = m.readSlice()
                  while (g.hasNext) {
                    val (gf, gw) = g.readTag()
                    if (gf == 1 && gw == 2) points += g.readSlice() else g.skip(gw)
                  }
                case (7, 2) => // Sum { data_points = 1; temporality = 2; monotonic = 3 }
                  kind = "sum"
                  val su = m.readSlice()
                  while (su.hasNext) {
                    val (uf, uw) = su.readTag()
                    (uf, uw) match {
                      case (1, 2) => points += su.readSlice()
                      case (2, 0) => temporality = su.readVarint().toInt
                      case (3, 0) => monotonic = su.readVarint() != 0
                      case _      => su.skip(uw)
                    }
                  }
                case _ => m.skip(mw)
              }
            }
            for (p <- points.result()) {
              var startTs = 0L; var ts = 0L
              var value = 0.0
              var flags = 0
              var attrs = Seq.empty[(String, String)]
              val exemplars = Seq.newBuilder[String]
              while (p.hasNext) {
                val (pf, pw) = p.readTag()
                (pf, pw) match {
                  case (2, 1) => startTs = p.readFixed64()
                  case (3, 1) => ts = p.readFixed64()
                  case (4, 1) => value = java.lang.Double.longBitsToDouble(p.readFixed64())
                  case (6, 1) => value = p.readFixed64().toDouble // sfixed64 as_int
                  case (7, 2) => attrs = attrs :+ oneKeyValue(p.readSlice())
                  case (8, 0) => flags = p.readVarint().toInt
                  case (5, 2) => // Exemplar { time=2 fixed64, as_double=3,
                    // span_id=4 bytes, trace_id=5 bytes, as_int=6 sfixed64 }
                    val ex = p.readSlice()
                    var eT = 0L; var eV = 0.0
                    var eTrace = ""; var eSpan = ""
                    while (ex.hasNext) {
                      val (ef, ew) = ex.readTag()
                      (ef, ew) match {
                        case (2, 1) => eT = ex.readFixed64()
                        case (3, 1) =>
                          eV = java.lang.Double.longBitsToDouble(ex.readFixed64())
                        case (6, 1) => eV = ex.readFixed64().toDouble
                        case (4, 2) => eSpan = ex.readBytesHex()
                        case (5, 2) => eTrace = ex.readBytesHex()
                        case _      => ex.skip(ew)
                      }
                    }
                    exemplars += s"""{"value":$eV,"timestamp":$eT,""" +
                      s""""trace_id":"$eTrace","span_id":"$eSpan"}"""
                  case _      => p.skip(pw)
                }
              }
              out += MetricRow(ts, if (startTs != 0) startTs else ts, serviceName,
                name, desc, unit, resMap, scopeAttrs, attrs.toMap, flags,
                exemplars.result().mkString("[", ",", "]"),
                value, kind, temporality, monotonic)
            }
          }
        }
      } else req.skip(w)
    }
    out.result()
  }

  // ---- profiles ----------------------------------------------------------

  /** one decoded OTLP profile, aligned with Schemas.profiles (reference
    * conversion_profiles.rs + iceberg/schemas.rs:415-455): dictionary
    * indices resolved eagerly, stack traces/samples denormalized to JSON,
    * first span link lifted into trace_id/span_id. */
  final case class ProfileRow(
      profile_id: String,
      timestamp: Long,
      duration_nano: Long,
      sample_type: String,
      sample_unit: String,
      period_type: String,
      period_unit: String,
      period: Long,
      service_name: String,
      stacktraces_json: String,
      samples_json: String,
      resource_attributes: Map[String, String],
      attributes: Map[String, String],
      trace_id: String,
      span_id: String)

  /** the resolved dictionary tables of one request. */
  private[sources] final case class ProfDict(
      strings: IndexedSeq[String],
      mappingFilenameIdx: IndexedSeq[Int],
      locations: IndexedSeq[(Int, Long, Seq[(Int, Long, Long)])], // (mappingIdx, address, lines(fnIdx, line, col))
      functions: IndexedSeq[(Int, Int, Int)], // name/system/filename strindex
      links: IndexedSeq[(String, String)],    // hex trace_id, span_id
      attrs: IndexedSeq[(String, String)],    // key, value (display string)
      stacks: IndexedSeq[Seq[Int]])           // location index lists

  /** packed-or-unpacked repeated varint field: wire 2 = packed slice,
    * wire 0 = one element. */
  private[sources] def packedInts(r: Reader, wire: Int): Seq[Long] =
    if (wire == 2) {
      val s = r.readSlice()
      val out = Seq.newBuilder[Long]
      while (s.hasNext) out += s.readVarint()
      out.result()
    } else Seq(r.readVarint())

  /** ExportProfilesServiceRequest bytes → rows.
    *
    * Proto revision pinned here: profiles v1development AFTER the
    * dictionary redesign (the revision the reference links via
    * opentelemetry-proto 0.32, Cargo.toml:127 — request carries a shared
    * ProfilesDictionary; samples refer to a stack_table). The signal is
    * explicitly unstable upstream; these field numbers are asserted by
    * OtlpSpec's independent encoder:
    *   ExportProfilesServiceRequest{resource_profiles=1, dictionary=2}
    *   ProfilesDictionary{mapping_table=1, location_table=2,
    *     function_table=3, link_table=4, string_table=5,
    *     attribute_table=6, stack_table=7}
    *   Profile{sample_type=1, samples=2, time_unix_nano=3,
    *     duration_nano=4, period_type=5, period=6, profile_id=8,
    *     attribute_indices=12}
    *   Sample{stack_index=1, values=2, attribute_indices=3,
    *     link_index=4, timestamps_unix_nano=5}
    *   Stack{location_indices=1}  Link{trace_id=1, span_id=2}
    *   Location{mapping_index=1, address=2, lines=3}
    *   Line{function_index=1, line=2, column=3}
    *   Function{name_strindex=1, system_name_strindex=2,
    *     filename_strindex=3}  Mapping{filename_strindex=4}
    *   ValueType{type_strindex=1, unit_strindex=2}
    *   KeyValueAndUnit{key_strindex=1, value=2, unit_strindex=3}
    */
  def decodeProfilesRequest(bytes: Array[Byte]): Seq[ProfileRow] = {
    // pass 1: the dictionary may follow the resource_profiles on the wire;
    // buffer resource slices, decode the dictionary first
    val resourceSlices = Seq.newBuilder[Reader]
    var dict = ProfDict(IndexedSeq(""), IndexedSeq.empty, IndexedSeq.empty,
      IndexedSeq.empty, IndexedSeq.empty, IndexedSeq.empty, IndexedSeq.empty)
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      (f, w) match {
        case (1, 2) => resourceSlices += req.readSlice()
        case (2, 2) => dict = decodeDictionary(req.readSlice())
        case _      => req.skip(w)
      }
    }
    def str(i: Long): String =
      if (i >= 0 && i < dict.strings.length) dict.strings(i.toInt) else ""

    val out = Seq.newBuilder[ProfileRow]
    for (rp <- resourceSlices.result()) {
      var resMap = Map.empty[String, String]
      val scopeProfiles = Seq.newBuilder[Reader]
      while (rp.hasNext) {
        val (rf, rw) = rp.readTag()
        (rf, rw) match {
          case (1, 2) =>
            val res = rp.readSlice()
            while (res.hasNext) {
              val (xf, xw) = res.readTag()
              if (xf == 1 && xw == 2) resMap = resMap + oneKeyValue(res.readSlice())
              else res.skip(xw)
            }
          case (2, 2) => scopeProfiles += rp.readSlice()
          case _      => rp.skip(rw)
        }
      }
      val serviceName = resMap.getOrElse("service.name", "")
      for (sp <- scopeProfiles.result()) {
        val profs = Seq.newBuilder[Reader]
        while (sp.hasNext) {
          val (sf, sw) = sp.readTag()
          if (sf == 2 && sw == 2) profs += sp.readSlice() else sp.skip(sw)
        }
        for (p <- profs.result()) {
          var profileId = ""
          var timeNs = 0L; var durNs = 0L
          var sampleType = ""; var sampleUnit = ""
          var periodType = ""; var periodUnit = ""; var period = 0L
          var profAttrIdx = Seq.empty[Long]
          val sampleSlices = Seq.newBuilder[Reader]
          while (p.hasNext) {
            val (pf, pw) = p.readTag()
            (pf, pw) match {
              case (1, 2) =>
                val vt = decodeValueType(p.readSlice())
                sampleType = str(vt._1); sampleUnit = str(vt._2)
              case (2, 2)  => sampleSlices += p.readSlice()
              case (3, 0)  => timeNs = p.readVarint()
              case (3, 1)  => timeNs = p.readFixed64()
              case (4, 0)  => durNs = p.readVarint()
              case (4, 1)  => durNs = p.readFixed64()
              case (5, 2) =>
                val vt = decodeValueType(p.readSlice())
                periodType = str(vt._1); periodUnit = str(vt._2)
              case (6, 0)  => period = p.readVarint()
              case (8, 2)  => profileId = p.readBytesHex()
              case (12, _) => profAttrIdx = profAttrIdx ++ packedInts(p, pw)
              case _       => p.skip(pw)
            }
          }
          // per-profile stack/link dedup, first-seen order (resolve_profile)
          val stackLocal = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
          val linkLocal = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
          val sampleJsons = Seq.newBuilder[String]
          for (s <- sampleSlices.result()) {
            var stackIdx = 0L; var linkIdx = 0L
            var values = Seq.empty[Long]; var tss = Seq.empty[Long]
            var attrIdx = Seq.empty[Long]
            while (s.hasNext) {
              val (xf, xw) = s.readTag()
              (xf, xw) match {
                case (1, 0) => stackIdx = s.readVarint()
                case (2, _) => values = values ++ packedInts(s, xw)
                case (3, _) => attrIdx = attrIdx ++ packedInts(s, xw)
                case (4, 0) => linkIdx = s.readVarint()
                case (5, _) => tss = tss ++ packedInts(s, xw)
                case _      => s.skip(xw)
              }
            }
            val localStack = stackLocal.getOrElseUpdate(stackIdx, stackLocal.size)
            // link_table[0] is the null link by convention
            val localLink =
              if (linkIdx > 0 && linkIdx < dict.links.length)
                Some(linkLocal.getOrElseUpdate(linkIdx, linkLocal.size))
              else None
            val attrsJson = sampleAttrsJson(dict, attrIdx)
            sampleJsons += Seq(
              Some(s""""stacktrace_index":$localStack"""),
              Some(s""""values":${values.mkString("[", ",", "]")}"""),
              if (tss.nonEmpty) Some(s""""timestamps_unix_nano":${tss.mkString("[", ",", "]")}""") else None,
              localLink.map(l => s""""link_index":$l"""),
              attrsJson.map(a => s""""attributes":$a""")).flatten
              .mkString("{", ",", "}")
          }
          val stacktracesJson = stackLocal.keys.toSeq
            .map(si => stacktraceJson(dict, si)).mkString("[", ",", "]")
          val firstLink = linkLocal.keys.headOption
            .map(li => dict.links(li.toInt)).getOrElse(("", ""))
          val profAttrs = profAttrIdx.flatMap { i =>
            if (i > 0 && i < dict.attrs.length) Some(dict.attrs(i.toInt)) else None
          }.toMap
          out += ProfileRow(profileId, timeNs, durNs, sampleType, sampleUnit,
            periodType, periodUnit, period, serviceName, stacktracesJson,
            sampleJsons.result().mkString("[", ",", "]"), resMap, profAttrs,
            firstLink._1, firstLink._2)
        }
      }
    }
    out.result()
  }

  private def decodeValueType(r: Reader): (Long, Long) = {
    var t = 0L; var u = 0L
    while (r.hasNext) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 0) => t = r.readVarint()
        case (2, 0) => u = r.readVarint()
        case _      => r.skip(w)
      }
    }
    (t, u)
  }

  private def decodeDictionary(d: Reader): ProfDict = {
    val strings = IndexedSeq.newBuilder[String]
    val mappings = IndexedSeq.newBuilder[Int]
    val locations = IndexedSeq.newBuilder[(Int, Long, Seq[(Int, Long, Long)])]
    val functions = IndexedSeq.newBuilder[(Int, Int, Int)]
    val links = IndexedSeq.newBuilder[(String, String)]
    val attrs = IndexedSeq.newBuilder[(String, String)]
    val stacks = IndexedSeq.newBuilder[Seq[Int]]
    while (d.hasNext) {
      val (f, w) = d.readTag()
      (f, w) match {
        case (1, 2) => // Mapping{filename_strindex=4}
          val m = d.readSlice()
          var fn = 0
          while (m.hasNext) {
            val (mf, mw) = m.readTag()
            if (mf == 4 && mw == 0) fn = m.readVarint().toInt else m.skip(mw)
          }
          mappings += fn
        case (2, 2) => // Location{mapping_index=1, address=2, lines=3}
          val l = d.readSlice()
          var mi = 0; var addr = 0L
          val lines = Seq.newBuilder[(Int, Long, Long)]
          while (l.hasNext) {
            val (lf, lw) = l.readTag()
            (lf, lw) match {
              case (1, 0) => mi = l.readVarint().toInt
              case (2, 0) => addr = l.readVarint()
              case (3, 2) =>
                val ln = l.readSlice()
                var fi = 0; var line = 0L; var colNo = 0L
                while (ln.hasNext) {
                  val (nf, nw) = ln.readTag()
                  (nf, nw) match {
                    case (1, 0) => fi = ln.readVarint().toInt
                    case (2, 0) => line = ln.readVarint()
                    case (3, 0) => colNo = ln.readVarint()
                    case _      => ln.skip(nw)
                  }
                }
                lines += ((fi, line, colNo))
              case _ => l.skip(lw)
            }
          }
          locations += ((mi, addr, lines.result()))
        case (3, 2) => // Function{name=1, system_name=2, filename=3}
          val fn = d.readSlice()
          var n = 0; var sn = 0; var file = 0
          while (fn.hasNext) {
            val (ff, fw) = fn.readTag()
            (ff, fw) match {
              case (1, 0) => n = fn.readVarint().toInt
              case (2, 0) => sn = fn.readVarint().toInt
              case (3, 0) => file = fn.readVarint().toInt
              case _      => fn.skip(fw)
            }
          }
          functions += ((n, sn, file))
        case (4, 2) => // Link{trace_id=1 bytes, span_id=2 bytes}
          val lk = d.readSlice()
          var t = ""; var s = ""
          while (lk.hasNext) {
            val (lf, lw) = lk.readTag()
            (lf, lw) match {
              case (1, 2) => t = lk.readBytesHex()
              case (2, 2) => s = lk.readBytesHex()
              case _      => lk.skip(lw)
            }
          }
          links += ((t, s))
        case (5, 2) => strings += d.readString()
        case (6, 2) => // KeyValueAndUnit{key_strindex=1, value=2}
          val kv = d.readSlice()
          var k = 0L; var v = ""
          while (kv.hasNext) {
            val (kf, kw) = kv.readTag()
            (kf, kw) match {
              case (1, 0) => k = kv.readVarint()
              case (2, 2) => v = anyValue(kv.readSlice())
              case _      => kv.skip(kw)
            }
          }
          attrs += ((k.toString, v)) // key resolved after strings are known
        case (7, 2) => // Stack{location_indices=1 packed}
          val st = d.readSlice()
          var idx = Seq.empty[Long]
          while (st.hasNext) {
            val (sf, sw) = st.readTag()
            if (sf == 1) idx = idx ++ packedInts(st, sw) else st.skip(sw)
          }
          stacks += idx.map(_.toInt)
        case _ => d.skip(w)
      }
    }
    // string_table is used AS SENT (resolve_string: out-of-range → "");
    // producers put "" at index 0 themselves per the proto convention
    val strs = strings.result()
    // second pass: attribute keys were stored as string indices
    val resolvedAttrs = attrs.result().map { case (ki, v) =>
      val i = ki.toLong
      (if (i >= 0 && i < strs.length) strs(i.toInt) else "", v)
    }
    ProfDict(strs, mappings.result(), locations.result(), functions.result(),
      links.result(), resolvedAttrs, stacks.result())
  }

  /** resolve one stack-table entry to its frames JSON, leaf first,
    * expanding inlined lines — resolve_stacktrace's output shape with the
    * reference model's serde skips (empty strings / zeros omitted). */
  private[sources] def stacktraceJson(dict: ProfDict, stackIdx: Long): String = {
    val locIdxs =
      if (stackIdx >= 0 && stackIdx < dict.stacks.length) dict.stacks(stackIdx.toInt)
      else Seq.empty[Int]
    def str(i: Int): String =
      if (i >= 0 && i < dict.strings.length) dict.strings(i) else ""
    val frames = Seq.newBuilder[String]
    for (li <- locIdxs if li >= 0 && li < dict.locations.length) {
      val (mi, addr, lines) = dict.locations(li)
      // mapping_table index 0 = null mapping (reference `*i > 0` filter)
      val mappingFile =
        if (mi > 0 && mi < dict.mappingFilenameIdx.length)
          str(dict.mappingFilenameIdx(mi))
        else ""
      def field(k: String, v: String): Option[String] =
        if (v.nonEmpty) Some(s"${jsonQuote(k)}:${jsonQuote(v)}") else None
      def num(k: String, v: Long): Option[String] =
        if (v != 0L) Some(s"${jsonQuote(k)}:$v") else None
      if (lines.isEmpty) {
        frames += (Seq(Some(s""""function_name":""""")) ++
          Seq(num("address", addr), field("mapping_filename", mappingFile)))
          .flatten.mkString("{", ",", "}")
      } else for ((fi, line, colNo) <- lines) {
        val (n, sn, file) =
          if (fi >= 0 && fi < dict.functions.length) dict.functions(fi)
          else (0, 0, 0)
        frames += (Seq(Some(s""""function_name":${jsonQuote(str(n))}""")) ++
          Seq(field("system_name", str(sn)), field("filename", str(file)),
            num("line", line), num("column", colNo), num("address", addr),
            field("mapping_filename", mappingFile))).flatten
          .mkString("{", ",", "}")
      }
    }
    s"""{"frames":${frames.result().mkString("[", ",", "]")}}"""
  }

  /** sample attribute indices → JSON object (None when empty); index 0 is
    * the null attribute by convention. */
  private[sources] def sampleAttrsJson(dict: ProfDict, idxs: Seq[Long]): Option[String] = {
    val kvs = idxs.flatMap { i =>
      if (i > 0 && i < dict.attrs.length) Some(dict.attrs(i.toInt)) else None
    }.filter(_._1.nonEmpty)
    if (kvs.isEmpty) None
    else Some(kvs.map { case (k, v) => s"${jsonQuote(k)}:${jsonQuoteIfNeeded(v)}" }
      .mkString("{", ",", "}"))
  }

  // ---- Spark integration -------------------------------------------------

  /** payloads (binary `payload` column, one OTLP logs request per row) →
    * gen-2 logs rows. Per-payload narrow flatMap — scales with the input,
    * no shuffle, no driver decode. */
  def logs(payloads: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[LogRow]
    payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeLogsRequest _)
      .toDF()
  }

  /** payloads (one OTLP trace request per row) → span rows. */
  def traces(payloads: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[TraceRow]
    payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeTracesRequest _)
      .toDF()
  }

  /** payloads (one OTLP profiles request per row) → profile rows in the
    * Schemas.profiles shape. Same narrow flatMap as logs/traces. */
  def profiles(payloads: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ProfileRow]
    payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeProfilesRequest _)
      .toDF()
  }

  /** one decoded OTLP HISTOGRAM data point, aligned with
    * Schemas.metricsHistogram (bucket_counts / explicit_bounds as JSON
    * array strings — the reference stores them the same way,
    * iceberg/schemas.rs histogram columns). */
  final case class HistogramRow(
      timestamp: Long,
      start_timestamp: Long,
      service_name: String,
      metric_name: String,
      metric_description: String,
      metric_unit: String,
      resource_attributes: Map[String, String],
      scope_attributes: Map[String, String],
      attributes: Map[String, String],
      flags: Int,
      exemplars: String,
      count: Long,
      sum: Option[Double],
      min: Option[Double],
      max: Option[Double],
      bucket_counts: String,
      explicit_bounds: String,
      aggregation_temporality: Int)

  /** ExportMetricsServiceRequest bytes → HISTOGRAM data-point rows
    * (`Metric.histogram = 9`: HistogramDataPoint per the public
    * metrics.proto — attributes=9, start=2/time=3 fixed64, count=4
    * fixed64, sum=5, packed bucket_counts=6 (fixed64) and
    * explicit_bounds=7 (double), exemplars=8, flags=10, min=11,
    * max=12). Gauge/sum points ride [[decodeMetricsRequest]]; this walk
    * extracts the histogram family the same way. */
  def decodeHistogramsRequest(bytes: Array[Byte]): Seq[HistogramRow] = {
    val out = Seq.newBuilder[HistogramRow]
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      if (f == 1 && w == 2) { // ResourceMetrics
        val rm = req.readSlice()
        var resMap = Map.empty[String, String]
        val scopeMetrics = Seq.newBuilder[Reader]
        while (rm.hasNext) {
          val (rf, rw) = rm.readTag()
          (rf, rw) match {
            case (1, 2) => resMap = keyValues(rm.readSlice(), 1).toMap
            case (2, 2) => scopeMetrics += rm.readSlice()
            case _      => rm.skip(rw)
          }
        }
        val serviceName = resMap.getOrElse("service.name", "")
        for (sm <- scopeMetrics.result()) {
          var scopeAttrs = Map.empty[String, String]
          val metrics = Seq.newBuilder[Reader]
          while (sm.hasNext) {
            val (sf, sw) = sm.readTag()
            (sf, sw) match {
              case (1, 2) =>
                val sc = sm.readSlice()
                while (sc.hasNext) {
                  val (cf, cw) = sc.readTag()
                  if (cf == 3 && cw == 2) scopeAttrs = scopeAttrs + oneKeyValue(sc.readSlice())
                  else sc.skip(cw)
                }
              case (2, 2) => metrics += sm.readSlice()
              case _      => sm.skip(sw)
            }
          }
          for (m <- metrics.result()) {
            var name = ""; var desc = ""; var unit = ""
            var temporality = 0
            val points = Seq.newBuilder[Reader]
            while (m.hasNext) {
              val (mf, mw) = m.readTag()
              (mf, mw) match {
                case (1, 2) => name = m.readString()
                case (2, 2) => desc = m.readString()
                case (3, 2) => unit = m.readString()
                case (9, 2) => // Histogram { data_points=1; temporality=2 }
                  val h = m.readSlice()
                  while (h.hasNext) {
                    val (hf, hw) = h.readTag()
                    (hf, hw) match {
                      case (1, 2) => points += h.readSlice()
                      case (2, 0) => temporality = h.readVarint().toInt
                      case _      => h.skip(hw)
                    }
                  }
                case _ => m.skip(mw)
              }
            }
            for (p <- points.result()) {
              var startTs = 0L; var ts = 0L
              var count = 0L
              var sum: Option[Double] = None
              var minV: Option[Double] = None
              var maxV: Option[Double] = None
              var flags = 0
              var attrs = Seq.empty[(String, String)]
              val buckets = Seq.newBuilder[Long]
              val bounds = Seq.newBuilder[Double]
              val exemplars = Seq.newBuilder[String]
              while (p.hasNext) {
                val (pf, pw) = p.readTag()
                (pf, pw) match {
                  case (2, 1)  => startTs = p.readFixed64()
                  case (3, 1)  => ts = p.readFixed64()
                  case (4, 1)  => count = p.readFixed64()
                  case (5, 1)  =>
                    sum = Some(java.lang.Double.longBitsToDouble(p.readFixed64()))
                  case (6, 2)  => // packed bucket_counts
                    val b = p.readSlice()
                    while (b.hasNext) buckets += b.readFixed64()
                  case (6, 1)  => buckets += p.readFixed64()
                  case (7, 2)  => // packed explicit_bounds
                    val b = p.readSlice()
                    while (b.hasNext)
                      bounds += java.lang.Double.longBitsToDouble(b.readFixed64())
                  case (7, 1)  =>
                    bounds += java.lang.Double.longBitsToDouble(p.readFixed64())
                  case (8, 2)  => // Exemplar (same shape as number points)
                    val ex = p.readSlice()
                    var eT = 0L; var eV = 0.0
                    var eTrace = ""; var eSpan = ""
                    while (ex.hasNext) {
                      val (ef, ew) = ex.readTag()
                      (ef, ew) match {
                        case (2, 1) => eT = ex.readFixed64()
                        case (3, 1) =>
                          eV = java.lang.Double.longBitsToDouble(ex.readFixed64())
                        case (6, 1) => eV = ex.readFixed64().toDouble
                        case (4, 2) => eSpan = ex.readBytesHex()
                        case (5, 2) => eTrace = ex.readBytesHex()
                        case _      => ex.skip(ew)
                      }
                    }
                    exemplars += s"""{"value":$eV,"timestamp":$eT,""" +
                      s""""trace_id":"$eTrace","span_id":"$eSpan"}"""
                  case (9, 2)  => attrs = attrs :+ oneKeyValue(p.readSlice())
                  case (10, 0) => flags = p.readVarint().toInt
                  case (11, 1) =>
                    minV = Some(java.lang.Double.longBitsToDouble(p.readFixed64()))
                  case (12, 1) =>
                    maxV = Some(java.lang.Double.longBitsToDouble(p.readFixed64()))
                  case _       => p.skip(pw)
                }
              }
              out += HistogramRow(ts, if (startTs != 0) startTs else ts,
                serviceName, name, desc, unit, resMap, scopeAttrs, attrs.toMap,
                flags, exemplars.result().mkString("[", ",", "]"),
                count, sum, minV, maxV,
                buckets.result().mkString("[", ",", "]"),
                bounds.result().mkString("[", ",", "]"),
                temporality)
            }
          }
        }
      } else req.skip(w)
    }
    out.result()
  }

  /** one decoded OTLP EXPONENTIAL-histogram data point, aligned with
    * Schemas.metricsExponentialHistogram (dyadic base-2 buckets: scale,
    * zero count/threshold, positive/negative offset + packed counts —
    * the native-histogram storage the q92/q124/q224 quantile walks
    * read). */
  final case class ExpHistogramRow(
      timestamp: Long,
      start_timestamp: Long,
      service_name: String,
      metric_name: String,
      metric_description: String,
      metric_unit: String,
      resource_attributes: Map[String, String],
      scope_attributes: Map[String, String],
      attributes: Map[String, String],
      flags: Int,
      exemplars: String,
      count: Long,
      sum: Option[Double],
      scale: Int,
      zero_count: Long,
      positive_offset: Int,
      positive_bucket_counts: String,
      negative_offset: Int,
      negative_bucket_counts: String,
      zero_threshold: Double,
      aggregation_temporality: Int)

  /** ExportMetricsServiceRequest bytes → EXPONENTIAL-histogram rows
    * (`Metric.exponential_histogram = 10`: per the public metrics.proto
    * — attributes=1, start=2/time=3 fixed64, count=4 fixed64, sum=5,
    * scale=6 SINT32 (zigzag), zero_count=7 fixed64, positive=8 /
    * negative=9 Buckets{offset=1 sint32, bucket_counts=2 packed
    * varint}, flags=10, exemplars=11, zero_threshold=14). */
  def decodeExpHistogramsRequest(bytes: Array[Byte]): Seq[ExpHistogramRow] = {
    def zigzag(v: Long): Int = (((v >>> 1) ^ -(v & 1)).toInt)
    val out = Seq.newBuilder[ExpHistogramRow]
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      if (f == 1 && w == 2) { // ResourceMetrics
        val rm = req.readSlice()
        var resMap = Map.empty[String, String]
        val scopeMetrics = Seq.newBuilder[Reader]
        while (rm.hasNext) {
          val (rf, rw) = rm.readTag()
          (rf, rw) match {
            case (1, 2) => resMap = keyValues(rm.readSlice(), 1).toMap
            case (2, 2) => scopeMetrics += rm.readSlice()
            case _      => rm.skip(rw)
          }
        }
        val serviceName = resMap.getOrElse("service.name", "")
        for (sm <- scopeMetrics.result()) {
          var scopeAttrs = Map.empty[String, String]
          val metrics = Seq.newBuilder[Reader]
          while (sm.hasNext) {
            val (sf, sw) = sm.readTag()
            (sf, sw) match {
              case (1, 2) =>
                val sc = sm.readSlice()
                while (sc.hasNext) {
                  val (cf, cw) = sc.readTag()
                  if (cf == 3 && cw == 2) scopeAttrs = scopeAttrs + oneKeyValue(sc.readSlice())
                  else sc.skip(cw)
                }
              case (2, 2) => metrics += sm.readSlice()
              case _      => sm.skip(sw)
            }
          }
          for (m <- metrics.result()) {
            var name = ""; var desc = ""; var unit = ""
            var temporality = 0
            val points = Seq.newBuilder[Reader]
            while (m.hasNext) {
              val (mf, mw) = m.readTag()
              (mf, mw) match {
                case (1, 2)  => name = m.readString()
                case (2, 2)  => desc = m.readString()
                case (3, 2)  => unit = m.readString()
                case (10, 2) => // ExponentialHistogram { data_points=1; temporality=2 }
                  val h = m.readSlice()
                  while (h.hasNext) {
                    val (hf, hw) = h.readTag()
                    (hf, hw) match {
                      case (1, 2) => points += h.readSlice()
                      case (2, 0) => temporality = h.readVarint().toInt
                      case _      => h.skip(hw)
                    }
                  }
                case _ => m.skip(mw)
              }
            }
            for (p <- points.result()) {
              var startTs = 0L; var ts = 0L
              var count = 0L
              var sum: Option[Double] = None
              var scale = 0
              var zeroCount = 0L
              var posOff = 0; var negOff = 0
              val posCounts = Seq.newBuilder[Long]
              val negCounts = Seq.newBuilder[Long]
              var zeroThreshold = 0.0
              var flags = 0
              var attrs = Seq.empty[(String, String)]
              val exemplars = Seq.newBuilder[String]
              def buckets(r0: Reader): (Int, Seq[Long]) = {
                var off = 0
                val cs = Seq.newBuilder[Long]
                while (r0.hasNext) {
                  val (bf, bw) = r0.readTag()
                  (bf, bw) match {
                    case (1, 0) => off = zigzag(r0.readVarint())
                    case (2, 2) => // packed varints
                      val b = r0.readSlice()
                      while (b.hasNext) cs += b.readVarint()
                    case (2, 0) => cs += r0.readVarint()
                    case _      => r0.skip(bw)
                  }
                }
                (off, cs.result())
              }
              while (p.hasNext) {
                val (pf, pw) = p.readTag()
                (pf, pw) match {
                  case (1, 2)  => attrs = attrs :+ oneKeyValue(p.readSlice())
                  case (2, 1)  => startTs = p.readFixed64()
                  case (3, 1)  => ts = p.readFixed64()
                  case (4, 1)  => count = p.readFixed64()
                  case (5, 1)  =>
                    sum = Some(java.lang.Double.longBitsToDouble(p.readFixed64()))
                  case (6, 0)  => scale = zigzag(p.readVarint())
                  case (7, 1)  => zeroCount = p.readFixed64()
                  case (8, 2)  =>
                    val (o, cs) = buckets(p.readSlice()); posOff = o
                    cs.foreach(posCounts += _)
                  case (9, 2)  =>
                    val (o, cs) = buckets(p.readSlice()); negOff = o
                    cs.foreach(negCounts += _)
                  case (10, 0) => flags = p.readVarint().toInt
                  case (11, 2) =>
                    val ex = p.readSlice()
                    var eT = 0L; var eV = 0.0
                    var eTrace = ""; var eSpan = ""
                    while (ex.hasNext) {
                      val (ef, ew) = ex.readTag()
                      (ef, ew) match {
                        case (2, 1) => eT = ex.readFixed64()
                        case (3, 1) =>
                          eV = java.lang.Double.longBitsToDouble(ex.readFixed64())
                        case (6, 1) => eV = ex.readFixed64().toDouble
                        case (4, 2) => eSpan = ex.readBytesHex()
                        case (5, 2) => eTrace = ex.readBytesHex()
                        case _      => ex.skip(ew)
                      }
                    }
                    exemplars += s"""{"value":$eV,"timestamp":$eT,""" +
                      s""""trace_id":"$eTrace","span_id":"$eSpan"}"""
                  case (14, 1) =>
                    zeroThreshold = java.lang.Double.longBitsToDouble(p.readFixed64())
                  case _       => p.skip(pw)
                }
              }
              out += ExpHistogramRow(ts, if (startTs != 0) startTs else ts,
                serviceName, name, desc, unit, resMap, scopeAttrs, attrs.toMap,
                flags, exemplars.result().mkString("[", ",", "]"),
                count, sum, scale, zeroCount,
                posOff, posCounts.result().mkString("[", ",", "]"),
                negOff, negCounts.result().mkString("[", ",", "]"),
                zeroThreshold, temporality)
            }
          }
        }
      } else req.skip(w)
    }
    out.result()
  }

  /** one decoded OTLP SUMMARY data point (Schemas.metricsSummary). */
  final case class SummaryRow(
      timestamp: Long,
      start_timestamp: Long,
      service_name: String,
      metric_name: String,
      metric_description: String,
      metric_unit: String,
      resource_attributes: Map[String, String],
      scope_attributes: Map[String, String],
      attributes: Map[String, String],
      flags: Int,
      exemplars: String,
      count: Long,
      sum: Double,
      quantile_values: String)

  /** ExportMetricsServiceRequest bytes → SUMMARY rows (`Metric.summary
    * = 11`: SummaryDataPoint — attributes=7, start=2/time=3 fixed64,
    * count=4 fixed64, sum=5, quantile_values=6 {quantile=1, value=2},
    * flags=8). Quantiles serialize to the JSON array the summary
    * quantile path (q224-family) reads. */
  def decodeSummariesRequest(bytes: Array[Byte]): Seq[SummaryRow] = {
    val out = Seq.newBuilder[SummaryRow]
    val req = reader(bytes)
    while (req.hasNext) {
      val (f, w) = req.readTag()
      if (f == 1 && w == 2) {
        val rm = req.readSlice()
        var resMap = Map.empty[String, String]
        val scopeMetrics = Seq.newBuilder[Reader]
        while (rm.hasNext) {
          val (rf, rw) = rm.readTag()
          (rf, rw) match {
            case (1, 2) => resMap = keyValues(rm.readSlice(), 1).toMap
            case (2, 2) => scopeMetrics += rm.readSlice()
            case _      => rm.skip(rw)
          }
        }
        val serviceName = resMap.getOrElse("service.name", "")
        for (sm <- scopeMetrics.result()) {
          var scopeAttrs = Map.empty[String, String]
          val metrics = Seq.newBuilder[Reader]
          while (sm.hasNext) {
            val (sf, sw) = sm.readTag()
            (sf, sw) match {
              case (1, 2) =>
                val sc = sm.readSlice()
                while (sc.hasNext) {
                  val (cf, cw) = sc.readTag()
                  if (cf == 3 && cw == 2) scopeAttrs = scopeAttrs + oneKeyValue(sc.readSlice())
                  else sc.skip(cw)
                }
              case (2, 2) => metrics += sm.readSlice()
              case _      => sm.skip(sw)
            }
          }
          for (m <- metrics.result()) {
            var name = ""; var desc = ""; var unit = ""
            val points = Seq.newBuilder[Reader]
            while (m.hasNext) {
              val (mf, mw) = m.readTag()
              (mf, mw) match {
                case (1, 2)  => name = m.readString()
                case (2, 2)  => desc = m.readString()
                case (3, 2)  => unit = m.readString()
                case (11, 2) => // Summary { data_points = 1 }
                  val su = m.readSlice()
                  while (su.hasNext) {
                    val (uf, uw) = su.readTag()
                    if (uf == 1 && uw == 2) points += su.readSlice()
                    else su.skip(uw)
                  }
                case _ => m.skip(mw)
              }
            }
            for (p <- points.result()) {
              var startTs = 0L; var ts = 0L
              var count = 0L; var sum = 0.0
              var flags = 0
              var attrs = Seq.empty[(String, String)]
              val qs = Seq.newBuilder[String]
              while (p.hasNext) {
                val (pf, pw) = p.readTag()
                (pf, pw) match {
                  case (2, 1) => startTs = p.readFixed64()
                  case (3, 1) => ts = p.readFixed64()
                  case (4, 1) => count = p.readFixed64()
                  case (5, 1) =>
                    sum = java.lang.Double.longBitsToDouble(p.readFixed64())
                  case (6, 2) => // ValueAtQuantile { quantile=1, value=2 }
                    val q = p.readSlice()
                    var qq = 0.0; var qv = 0.0
                    while (q.hasNext) {
                      val (qf, qw) = q.readTag()
                      if (qf == 1 && qw == 1)
                        qq = java.lang.Double.longBitsToDouble(q.readFixed64())
                      else if (qf == 2 && qw == 1)
                        qv = java.lang.Double.longBitsToDouble(q.readFixed64())
                      else q.skip(qw)
                    }
                    qs += s"""{"quantile":$qq,"value":$qv}"""
                  case (7, 2) => attrs = attrs :+ oneKeyValue(p.readSlice())
                  case (8, 0) => flags = p.readVarint().toInt
                  case _      => p.skip(pw)
                }
              }
              out += SummaryRow(ts, if (startTs != 0) startTs else ts,
                serviceName, name, desc, unit, resMap, scopeAttrs, attrs.toMap,
                flags, "[]", count, sum,
                qs.result().mkString("[", ",", "]"))
            }
          }
        }
      } else req.skip(w)
    }
    out.result()
  }

  /** payloads → summary rows (Schemas.metricsSummary). */
  def summaries(payloads: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[SummaryRow]
    payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeSummariesRequest _)
      .toDF()
  }

  /** payloads → exponential-histogram rows
    * (Schemas.metricsExponentialHistogram). */
  def expHistograms(payloads: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[ExpHistogramRow]
    payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeExpHistogramsRequest _)
      .toDF()
  }

  /** payloads → histogram data-point rows (Schemas.metricsHistogram). */
  def histograms(payloads: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[HistogramRow]
    payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeHistogramsRequest _)
      .toDF()
  }

  /** payloads → (gauge rows, sum rows) in the Schemas.metric* shapes. */
  def metrics(payloads: DataFrame): (DataFrame, DataFrame) = {
    implicit val enc = Encoders.product[MetricRow]
    val all = payloads.select(col("payload")).as(Encoders.BINARY)
      .flatMap(decodeMetricsRequest _)
      .toDF()
    val gauge = all.filter(col("kind") === "gauge")
      .drop("kind", "aggregation_temporality", "is_monotonic")
    val sum = all.filter(col("kind") === "sum").drop("kind")
    (gauge, sum)
  }
}
