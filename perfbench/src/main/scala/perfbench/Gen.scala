package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

/** One served request as a dashboard would send it. `body` is set for
  * POST routes. */
final case class Req(cls: String, path: String, qs: String, body: Option[String]) {
  def uri: String = if (qs.isEmpty) path else s"$path?$qs"
}

/** Seeded request and payload generation. The program only ever sees what
  * these functions produce; the seed fixes the request mix, the time
  * windows, the panel repeats, the OTLP payload contents and the write
  * schedule. */
object Gen {
  /** the generated data covers 2024-01-01 .. 2024-01-31 (UTC) */
  val T0: Long = 1704067200L
  val DataDays = 30
  /** the injected "now" of every shell and direct call */
  val NowSec: Long = 1706745600L
  val NowNs: Long = NowSec * 1000000000L

  val Classes: Seq[String] = Seq("loki_range_line", "loki_range_metric", "prom_range",
    "prom_instant", "tempo_search", "ir_query", "pyroscope_render", "loki_labels")

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  /** every dashboard window is six hours; the seed places it */
  private val WindowS = 6 * 3600L
  private val Metrics = Seq("click", "view", "purchase", "signup", "error")
  private val Severities = Seq("error", "info", "debug")

  /** a minute-aligned window inside the data */
  private def window(r: Random): (Long, Long) = {
    val start = T0 + (r.nextLong(DataDays * 86400L - WindowS) / 60) * 60
    (start, start + WindowS)
  }

  private def selector(r: Random): String = r.nextInt(3) match {
    case 0 => s"""{service_name="svc-${r.nextInt(8)}"}"""
    case 1 => s"""{severity_text="${Severities(r.nextInt(3))}"}"""
    case _ => s"""{service_name="svc-${r.nextInt(8)}", severity_text="${Severities(r.nextInt(3))}"}"""
  }

  def request(cls: String, r: Random): Req = {
    val (s, e) = window(r)
    cls match {
      case "loki_range_line" =>
        val filter = if (r.nextBoolean()) s""" |= "${r.nextInt(10)}}"""" else ""
        Req(cls, "/loki/api/v1/query_range",
          s"query=${enc(selector(r) + filter)}&start=${s}000000000&end=${e}000000000" +
            "&limit=100&direction=backward", None)
      case "loki_range_metric" =>
        val q = r.nextInt(3) match {
          case 0 => s"sum by (service_name) (count_over_time(${selector(r)}[1h]))"
          case 1 => s"rate(${selector(r)}[5m])"
          case _ => s"""sum by (severity_text) (count_over_time(${selector(r)} |= "${r.nextInt(10)}}" [1h]))"""
        }
        Req(cls, "/loki/api/v1/query_range",
          s"query=${enc(q)}&start=${s}000000000&end=${e}000000000", None)
      case "prom_range" =>
        val m = Metrics(r.nextInt(Metrics.size))
        val q = r.nextInt(3) match {
          case 0 => s"sum by (service_name) (rate($m[1h]))"
          case 1 => s"avg_over_time($m[1h])"
          case _ => s"max by (service_name) (max_over_time($m[30m]))"
        }
        Req(cls, "/prometheus/api/v1/query_range",
          s"query=${enc(q)}&start=$s&end=$e&step=10m", None)
      case "prom_instant" =>
        val m = Metrics(r.nextInt(Metrics.size))
        val q = if (r.nextBoolean()) s"sum by (service_name) ($m)" else s"count($m)"
        Req(cls, "/prometheus/api/v1/query", s"query=${enc(q)}&time=$e", None)
      case "tempo_search" =>
        val q = if (r.nextBoolean()) s"q=${enc(s"""{ name = "${Metrics(r.nextInt(Metrics.size))}" }""")}"
          else s"tags=${enc(s"service.name=svc-${r.nextInt(8)}")}"
        Req(cls, "/api/search", s"$q&start=$s&end=$e&limit=20", None)
      case "ir_query" =>
        val doc =
          s"""{"irVersion":1,"from":"events","result":"rows",""" +
            s""""range":{"from":"${s}000000000","to":"${e}000000000"},""" +
            s""""fields":["event_id","event_type","value"],"pipeline":[""" +
            s"""{"stage":"filter","predicate":{"op":"eq","field":"event_type",""" +
            s""""value":"${Metrics(r.nextInt(Metrics.size))}"}},""" +
            s"""{"stage":"order","keys":[{"field":"event_id","dir":"asc"}]},""" +
            s"""{"stage":"limit","n":50}]}"""
        Req(cls, "/api/v1/query", "", Some(doc))
      case "pyroscope_render" =>
        Req(cls, "/pyroscope/render",
          s"query=${enc(s"""app{service_name="svc-${r.nextInt(8)}"}""")}" +
            s"&from=${s}000000000&until=${e}000000000", None)
      case "loki_labels" =>
        Req(cls, "/loki/api/v1/labels", s"start=${s}000000000&end=${e}000000000", None)
    }
  }

  /** the dashboard: one panel per class, drawn once per seed. Loading it
    * is the warm-up, so every later panel request can hit the cache. */
  def panels(seed: Long): IndexedSeq[Req] = {
    val r = new Random(seed * 31 + 7)
    Classes.toIndexedSeq.map(request(_, r))
  }

  /** The served mix, in blocks of eight requests: each block holds every
    * class once, in a seeded order, and two of its eight requests repeat
    * their class's panel, so a quarter of all requests are panel repeats
    * and the class shares do not vary with the seed. */
  def serveMix(seed: Long, n: Int): IndexedSeq[Req] = {
    val ps = panels(seed).map(p => p.cls -> p).toMap
    val r = new Random(seed)
    Iterator.continually {
      val repeats = r.shuffle((0 until Classes.size).toVector).take(Classes.size / 4).toSet
      r.shuffle(Classes).zipWithIndex.map { case (c, j) =>
        if (repeats(j)) ps(c) else request(c, r)
      }
    }.flatten.take(n).toIndexedSeq
  }

  // ---- live ingest ---------------------------------------------------------

  /** One OTLP/JSON write: `ids` are the record ids carried in the payload,
    * each unique across the run, so landed rows can be matched to acks. */
  final case class Write(table: String, path: String, json: String, ids: Seq[String]) {
    def bytes: Int = json.getBytes(UTF_8).length
  }

  /** written records fall in the two hours before "now" */
  val IngestFromNs: Long = NowNs - 2L * 3600 * 1000000000L

  /** Write `i` of a run: three log batches for every trace batch. */
  def write(seed: Long, i: Int, records: Int): Write = {
    val r = new Random(seed * 1000003L + i)
    if (i % 4 == 3) traces(r, i, records) else logs(r, i, records)
  }

  private def attr(k: String, v: String) =
    s"""{"key":"$k","value":{"stringValue":"$v"}}"""

  private def logs(r: Random, i: Int, records: Int): Write = {
    val svc = s"svc-${r.nextInt(8)}"
    val ids = (0 until records).map(j => s"w$i-$j")
    val recs = ids.map { id =>
      val ts = IngestFromNs + r.nextLong(2L * 3600 * 1000000000L)
      val sev = Severities(r.nextInt(3))
      s"""{"timeUnixNano":"$ts","severityNumber":${if (sev == "error") 17 else 9},""" +
        s""""severityText":"$sev","body":{"stringValue":"$id ${Metrics(r.nextInt(5))} k=${r.nextInt(100)}"},""" +
        s""""attributes":[${attr("host", s"host-${r.nextInt(5)}")},${attr("region", s"r${r.nextInt(3)}")}]}"""
    }
    val json = s"""{"resourceLogs":[{"resource":{"attributes":[${attr("service.name", svc)}]},""" +
      s""""scopeLogs":[{"scope":{"name":"perfbench"},"logRecords":[${recs.mkString(",")}]}]}]}"""
    Write("logs", "/v1/logs", json, ids)
  }

  private def hex(r: Random, bytes: Int): String =
    (0 until bytes).map(_ => f"${r.nextInt(256)}%02x").mkString

  private def traces(r: Random, i: Int, records: Int): Write = {
    val svc = s"svc-${r.nextInt(8)}"
    val perTrace = 5
    val spans = (0 until records).map { j =>
      val traceId = f"$i%016x${j / perTrace}%016x"
      val spanId = f"${i * 100000L + j}%016x"
      val parent = if (j % perTrace == 0) "" else f"${i * 100000L + j - j % perTrace}%016x"
      val start = IngestFromNs + r.nextLong(2L * 3600 * 1000000000L)
      s"""{"traceId":"$traceId","spanId":"$spanId","parentSpanId":"$parent",""" +
        s""""name":"${Metrics(r.nextInt(5))}","kind":${1 + r.nextInt(2)},""" +
        s""""startTimeUnixNano":"$start","endTimeUnixNano":"${start + r.nextInt(50000000)}",""" +
        s""""attributes":[${attr("http.route", s"/r${r.nextInt(10)}")},${attr("hex", hex(r, 4))}],""" +
        s""""status":{"code":${r.nextInt(3)}}}"""
    }
    val json = s"""{"resourceSpans":[{"resource":{"attributes":[${attr("service.name", svc)}]},""" +
      s""""scopeSpans":[{"scope":{"name":"perfbench"},"spans":[${spans.mkString(",")}]}]}]}"""
    Write("traces", "/v1/traces", json,
      (0 until records).map(j => f"${i * 100000L + j}%016x"))
  }

  val IngestReadClasses: Seq[String] = Seq("loki_range_line", "loki_range_metric")

  /** read `i` of the landed logs: line and metric queries alternate, each
    * of one shape over a one-hour window, so that runs differ only in
    * the seeded label values and window starts, not in their cost mix */
  def ingestRead(i: Int, r: Random): Req = {
    val s = NowSec - 2 * 3600 + (r.nextInt(60) * 60L)
    val e = s + 3600L
    if (i % 2 == 0)
      Req(IngestReadClasses(0), "/loki/api/v1/query_range",
        s"query=${enc(s"""{service_name="svc-${r.nextInt(8)}"}""")}&start=${s}000000000&end=${e}000000000&limit=100", None)
    else
      Req(IngestReadClasses(1), "/loki/api/v1/query_range",
        s"query=${enc(s"""sum by (service_name) (count_over_time({severity_text="${Severities(r.nextInt(3))}"}[5m]))""")}" +
          s"&start=${s}000000000&end=${e}000000000", None)
  }
}
