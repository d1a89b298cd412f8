package graft.api

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The shell's read routes run in its interpreted served session: they
  * answer byte for byte what the codegen session answers, a request
  * with a fresh time window compiles no code, and the window bounds
  * still reach the parquet scan. */
class ServedSessionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"
  private val T0 = 1704067200L
  private val NowSec = 1706745600L
  private val NowNs = NowSec * 1000000000L

  /** one served request: a GET with `qs`, or a POST of `body` */
  private final case class Req(cls: String, path: String, qs: String, body: Option[String]) {
    def uri: String = if (qs.isEmpty) path else s"$path?$qs"
  }

  private val Classes = Seq("loki_range_line", "loki_range_metric", "prom_range",
    "prom_instant", "tempo_search", "ir_query", "pyroscope_render", "loki_labels")
  private val Metrics = Seq("click", "view", "purchase", "signup", "error")
  private val Severities = Seq("error", "info", "debug")
  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** the dashboard request classes of the serve benchmark: `shape`
    * draws the query, `at` its window. Windows span two days (at this
    * scale six hours hold a handful of rows) and start at any second,
    * so a window is new to the codegen cache. */
  private def request(cls: String, shape: Random, at: Random): Req = {
    val r = shape
    val s = T0 + at.nextLong(28 * 86400L)
    val e = s + 2 * 86400L
    def selector = r.nextInt(3) match {
      case 0 => s"""{service_name="svc-${r.nextInt(8)}"}"""
      case 1 => s"""{severity_text="${Severities(r.nextInt(3))}"}"""
      case _ => s"""{service_name="svc-${r.nextInt(8)}", severity_text="${Severities(r.nextInt(3))}"}"""
    }
    def metric = Metrics(r.nextInt(Metrics.size))
    cls match {
      case "loki_range_line" =>
        val filter = if (r.nextBoolean()) s""" |= "${r.nextInt(10)}"""" else ""
        Req(cls, "/loki/api/v1/query_range",
          s"query=${enc(selector + filter)}&start=${s}000000000&end=${e}000000000" +
            "&limit=100&direction=backward", None)
      case "loki_range_metric" =>
        val q = r.nextInt(3) match {
          case 0 => s"sum by (service_name) (count_over_time($selector[1h]))"
          case 1 => s"rate($selector[5m])"
          case _ => s"""sum by (severity_text) (count_over_time($selector |= "${r.nextInt(10)}" [1h]))"""
        }
        Req(cls, "/loki/api/v1/query_range",
          s"query=${enc(q)}&start=${s}000000000&end=${e}000000000", None)
      case "prom_range" =>
        val q = r.nextInt(3) match {
          case 0 => s"sum by (service_name) (rate($metric[1h]))"
          case 1 => s"avg_over_time($metric[1h])"
          case _ => s"max by (service_name) (max_over_time($metric[30m]))"
        }
        Req(cls, "/prometheus/api/v1/query_range", s"query=${enc(q)}&start=$s&end=$e&step=3h", None)
      case "prom_instant" =>
        // an instant query reads one five-minute bucket: pin it on an event
        val m = metric
        val q = if (r.nextBoolean()) s"sum by (service_name) ($m)" else s"count($m)"
        val times = events(m)
        Req(cls, "/prometheus/api/v1/query",
          s"query=${enc(q)}&time=${times(at.nextInt(times.size)) + at.nextInt(60)}", None)
      case "tempo_search" =>
        val q = if (r.nextBoolean()) s"q=${enc(s"""{ name = "$metric" }""")}"
          else s"tags=${enc(s"service.name=svc-${r.nextInt(8)}")}"
        Req(cls, "/api/search", s"$q&start=$s&end=$e&limit=20", None)
      case "ir_query" =>
        Req(cls, "/api/v1/query", "", Some(
          s"""{"irVersion":1,"from":"events","result":"rows",""" +
            s""""range":{"from":"${s}000000000","to":"${e}000000000"},""" +
            s""""fields":["event_id","event_type","value"],"pipeline":[""" +
            s"""{"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"$metric"}},""" +
            s"""{"stage":"order","keys":[{"field":"event_id","dir":"asc"}]},""" +
            s"""{"stage":"limit","n":50}]}"""))
      case "pyroscope_render" =>
        Req(cls, "/pyroscope/render",
          s"query=${enc(s"""app{service_name="svc-${r.nextInt(8)}"}""")}" +
            s"&from=${s}000000000&until=${e}000000000", None)
      case "loki_labels" =>
        Req(cls, "/loki/api/v1/labels", s"start=${s}000000000&end=${e}000000000", None)
    }
  }

  /** epoch seconds of the events of each type */
  private lazy val events: Map[String, IndexedSeq[Long]] =
    graft.Tables.events(spark, dir).select("event_type", "ts_sec").collect()
      .toIndexedSeq.groupMap(_.getString(0))(_.getLong(1))

  /** the same request as a direct `Endpoints.*` call in session `s` */
  private def direct(s: org.apache.spark.sql.SparkSession, q: Req): String = q.cls match {
    case "loki_range_line" | "loki_range_metric" => Endpoints.lokiQueryRange(s, dir, q.qs, NowNs)
    case "prom_range" => Endpoints.promQueryRange(s, dir, q.qs)
    case "prom_instant" => Endpoints.promInstantQuery(s, dir, q.qs, NowSec)
    case "tempo_search" => Endpoints.tempoSearch(s, dir, q.qs)
    case "ir_query" => Endpoints.queryIr(s, dir, q.body.get, NowNs)
    case "pyroscope_render" => Endpoints.pyroscopeRender(s, dir, q.qs)
    case "loki_labels" => Endpoints.lokiLabels(s, dir, q.qs, NowNs)
  }

  private lazy val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def send(port: Int, q: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.uri}"))
    val r = client.send(q.body.fold(b.GET())(p => b.POST(HttpRequest.BodyPublishers.ofString(p))).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def withShell[T](f: (HttpShell, Int) => T): T = {
    val sh = new HttpShell(spark, dir, NowNs)
    val port = sh.start()
    try f(sh, port) finally sh.stop()
  }

  private def compiles(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("every request class answers byte for byte what the codegen session answers") {
    val r = new Random(3)
    val reqs = (1 to 3).flatMap(_ => Classes.map(request(_, r, r)))
    val served = withShell((_, port) => reqs.map(send(port, _)))
    reqs.zip(served).foreach { case (q, (st, body)) =>
      assert(st == 200, s"${q.uri}: $body")
      assert(body == direct(spark, q), s"served body differs from the direct call for ${q.cls} ${q.uri}")
    }
    // and the windows hold data: the comparison is not of empty envelopes
    def rows(q: Req, body: String) = q.cls match {
      case "loki_labels" => body.contains("\"data\":[\"")
      case "tempo_search" => body.contains("\"traceID\"")
      case "ir_query" => body.contains("\"event_id\"")
      case "pyroscope_render" => body.contains("\"numTicks\":") && !body.contains("\"numTicks\":0")
      case "prom_instant" => body.contains("\"value\":[")
      case _ => body.contains("\"values\":[[")
    }
    Classes.foreach { c =>
      assert(reqs.zip(served).exists { case (q, (_, b)) => q.cls == c && rows(q, b) },
        s"every $c request answered an empty result")
    }
  }

  test("served requests with fresh windows compile no code; on the codegen session they do") {
    // the same queries each time, over windows of their own
    val at = new Random(5)
    def requests() = Classes.zipWithIndex.map { case (c, i) => request(c, new Random(50 + i), at) }
    val warm = requests()
    val fresh = requests() ++ requests()
    withShell { (_, port) =>
      warm.foreach(q => assert(send(port, q)._1 == 200, q.uri))
      val served = compiles(fresh.foreach(q => assert(send(port, q)._1 == 200, q.uri)))
      assert(served == 0, s"${fresh.size} served requests compiled $served classes")
    }
    // the control: the guard sees compiles when there are any
    val codegen = compiles(fresh.foreach(direct(spark, _)))
    assert(codegen > 0, "the codegen session compiled nothing: the guard is blind")
  }

  test("a served Loki range query over the landed store still pushes both window bounds into the scan") {
    val base = graft.TestDirs.create("graft-served-push").toFile
    val layout = graft.storage.Storage.TableLayout(base.toString, "acme", "prod")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val (s, e) = (T0 + 17, T0 + 3600 + 17)
    val sh = new HttpShell(spark, dir, NowNs, ingest = Some(layout))
    val port = sh.start()
    try {
      val json =
        s"""{"resourceLogs":[{"resource":{"attributes":[
           |  {"key":"service.name","value":{"stringValue":"svc-2"}}]},
           |"scopeLogs":[{"logRecords":[
           |  {"timeUnixNano":"${s + 60}000000000","severityText":"info","body":{"stringValue":"in"}},
           |  {"timeUnixNano":"${e + 60}000000000","severityText":"info","body":{"stringValue":"out"}}
           |]}]}]}""".stripMargin
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(json)).build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      sh.served.listenerManager.register(listener)
      val (st, body) = send(port, Req("loki_range_line", "/loki/api/v1/query_range",
        s"query=${enc("""{service_name="svc-2"}""")}&start=${s}000000000&end=${e}000000000&limit=100", None))
      assert(st == 200 && body.contains("\"in\"") && !body.contains("\"out\""), body)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      sh.served.listenerManager.unregister(listener)
    } finally { sh.stop(); org.apache.commons.io.FileUtils.deleteDirectory(base) }
    import scala.jdk.CollectionConverters._
    val scans = plans.asScala.flatMap(_.linesIterator.filter(_.contains("PushedFilters")))
    assert(scans.exists(l => l.contains(s"GreaterThanOrEqual(timestamp,${s}000000000)") &&
      l.contains(s"LessThan(timestamp,${e}000000000)")),
      s"window bounds missing from PushedFilters:\n${plans.asScala.mkString("\n")}")
    // a whole-stage codegen subtree prints as `*(n)` before its nodes
    assert(!plans.asScala.exists(p => raw"\*\(\d+\)".r.findFirstIn(p).isDefined),
      s"a served plan runs whole-stage codegen:\n${plans.asScala.mkString("\n")}")
  }
}
