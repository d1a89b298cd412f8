package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The listening HTTP shell: real sockets end to end. Every assertion
  * goes over 127.0.0.1 with the JDK HttpClient — the body served on the
  * wire must equal the param-layer result byte-for-byte, handler errors
  * must surface as their HttpError status with a JSON error body, and
  * unknown routes as 404. */
class HttpShellSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"
  private val T0 = 1704067200L
  private val T1 = 1706745600L

  private lazy val (shell, port) = {
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L)
    (sh, sh.start())
  }
  private lazy val client = HttpClient.newHttpClient()

  private def get(pathAndQuery: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("health") {
    val r = get("/health")
    assert(r.statusCode() == 200 && r.body() == """{"status":"ok"}""")
  }

  test("a keep-alive round trip does not wait out a delayed ACK") {
    // headers and body leave as two segments; with Nagle on, the body
    // waits for the client's delayed ACK (~40 ms) on every response
    get("/health")
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      assert(get("/health").statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    // a quarter of the round trips, not the median: load on the machine
    // can slow some of them, but with Nagle on none gets under ~40 ms
    assert(ms(ms.size / 4) < 20.0,
      s"25th-percentile /health round trip ${ms(ms.size / 4)} ms: ${ms.mkString(", ")}")
  }

  test("openapi document lists only routes the shell actually answers") {
    val r = get("/api/v1/openapi.json")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.openapi())
    assert(r.body().startsWith("""{"openapi":"3.0.3""""))
    // every GET path WITHOUT template params or required params must not
    // 404 on the live router (4xx for missing params is fine — routed)
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    val it = doc.get("paths").fields()
    while (it.hasNext) {
      val e = it.next()
      val path = e.getKey
      if (e.getValue.has("get") && !path.contains("{") && path != "/loki/api/v1/tail") {
        val resp = get(path)
        assert(resp.statusCode() != 404, s"$path not routed")
      }
    }
  }

  test("ui shell: runtime-config.js serves uncacheable disabled telemetry; /ui is the honest placeholder") {
    val r = get("/ui/runtime-config.js")
    assert(r.statusCode() == 200)
    assert(r.body() ==
      "window.__SIGNALDB_RUNTIME_CONFIG__ = {\"telemetry\":{\"enabled\":false}};\n")
    assert(r.headers().firstValue("Content-Type").get
      .startsWith("application/javascript"))
    assert(r.headers().firstValue("Cache-Control").get == "no-store")
    assert(!r.body().contains("apiKey"), "disabled config must carry no key")
    val ui = get("/ui")
    assert(ui.statusCode() == 404 && ui.body().contains("UI not bundled"))
    // the two server-rendered pages that complete the session/consent
    // flows in a plain browser: they drive the SAME endpoints the SPA
    // calls, so page presence + endpoint references are the contract
    val login = get("/ui/login")
    assert(login.statusCode() == 200 &&
      login.headers().firstValue("Content-Type").get.startsWith("text/html"))
    assert(login.body().contains("fetch('/ui/session'") &&
      login.body().contains("type=\"password\""))
    val consent = get("/oauth/consent?client_id=x")
    assert(consent.statusCode() == 200)
    assert(consent.body().contains("/oauth/consent/context") &&
      consent.body().contains("/oauth/authorize/decision") &&
      consent.body().contains("/ui/login?next="))
  }

  test("loki query_range over the wire equals the param layer") {
    val q = s"query=%7Bseverity_text%3D%22error%22%7D&start=${T0}000000000" +
      s"&end=${T1}000000000&limit=5"
    val r = get(s"/loki/api/v1/query_range?$q")
    assert(r.statusCode() == 200)
    assert(r.body() ==
      Endpoints.lokiQueryRange(spark, dir, q, nowNs = T1 * 1000000000L))
    assert(r.headers().firstValue("Content-Type").get == "application/json")
  }

  test("loki instant query: trailing-hour log streams at a point in time") {
    val q = "query=%7Bseverity_text%3D%22error%22%7D" +
      s"&time=${T1}000000000&limit=5"
    val r = get(s"/loki/api/v1/query?$q")
    assert(r.statusCode() == 200)
    assert(r.body() ==
      Endpoints.lokiInstantQuery(spark, dir, q, nowNs = T1 * 1000000000L))
    assert(r.body().contains(""""resultType":"streams""""))
    // a metric query on the instant route → 400 (reference routes
    // instant through run_log_query)
    val rm = get("/loki/api/v1/query?query=" + java.net.URLEncoder.encode(
      """count_over_time({severity_text="error"}[5m])""", "UTF-8"))
    assert(rm.statusCode() == 400)
  }

  test("prometheus query_range and instant query over the wire") {
    val q = "query=sum%20by%20(service_name)%20(http_requests_total)" +
      s"&start=$T0&end=${T1 - 1}&step=1d"
    val r = get(s"/prometheus/api/v1/query_range?$q")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.promQueryRange(spark, dir, q))

    val qi = s"query=http_requests_total&time=$T0"
    val ri = get(s"/prometheus/api/v1/query?$qi")
    assert(ri.statusCode() == 200)
    assert(ri.body() == Endpoints.promInstantQuery(spark, dir, qi, nowSec = T1))
  }

  test("tempo search and tag values over the wire") {
    val q = "tags=service.name%3Dsvc-1&limit=3"
    val r = get(s"/api/search?$q")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.tempoSearch(spark, dir, q))

    val rv = get("/api/search/tag/service_name/values")
    assert(rv.statusCode() == 200)
    assert(rv.body() == Endpoints.tempoTagValues(spark, dir, "service_name"))
  }

  test("metadata routes: labels, label values, series, tags, trace by id") {
    // Loki label names include promoted + gen-2 attr keys
    val labels = get(s"/loki/api/v1/labels")
    assert(labels.statusCode() == 200)
    assert(labels.body().contains("\"service_name\"") &&
      labels.body().contains("\"env\"") && labels.body().contains("\"host\""))
    // label values: promoted column and attr-map label both resolve
    val sv = get("/loki/api/v1/label/service_name/values")
    assert(sv.statusCode() == 200 && sv.body().contains("\"svc-1\""))
    val ev = get("/loki/api/v1/label/env/values")
    assert(ev.statusCode() == 200 && ev.body().contains("\"prod\"") &&
      ev.body().contains("\"dev\""))
    // series requires a selector; with one, returns label-set objects
    assert(get("/loki/api/v1/series").statusCode() == 400)
    val series = get("/loki/api/v1/series?" +
      "match%5B%5D=%7Bservice_name%3D%22svc-1%22%7D")
    assert(series.statusCode() == 200)
    assert(series.body().contains("\"service_name\":\"svc-1\""))
    // Prometheus metadata
    assert(get("/prometheus/api/v1/labels").body()
      .contains("\"__name__\""))
    val names = get("/prometheus/api/v1/label/__name__/values")
    assert(names.statusCode() == 200 && names.body().contains("\"error\""))
    assert(get("/prometheus/api/v1/label/nope/values").statusCode() == 404)
    // Tempo tags + trace-by-id (fetch a real id via the view first)
    val tags = get("/api/search/tags")
    assert(tags.statusCode() == 200 && tags.body().contains("\"span_name\""))
    val id = graft.SignalViews.tracesGen2Df(spark, dir)
      .select("trace_id").head().getString(0)
    val tr = get(s"/api/traces/$id")
    assert(tr.statusCode() == 200 && tr.body().contains(s""""traceID":"$id""""))
    assert(get("/api/traces/ffffffffffffffffffffffffffffffff")
      .statusCode() == 404)
  }

  test("traceql metrics route serves the matrix the reference 501s") {
    val q = "q=%7B%20status%20%3D%20%22OK%22%20%7D%20%7C%20rate()%20by%20" +
      "(resource.service.name)&step=1d" +
      s"&start=$T0&end=$T1"
    val r = get(s"/api/metrics/query_range?$q")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"resultType\":\"matrix\"") &&
      r.body().contains("svc-1"))
    assert(get("/api/metrics/query_range?q=%7Bbroken").statusCode() == 400)
    assert(get("/api/metrics/query_range").statusCode() == 400)
    assert(get("/api/echo").body() == "echo")
  }

  test("pyroscope routes: render flamebearer, profile types, labels, by-trace") {
    val r = get("/pyroscope/render?query=app%7Bservice_name%3D%22svc-1%22%7D")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"flamebearer\"") &&
      r.body().contains("\"numTicks\"") && r.body().contains("\"app\""))
    // window narrows ticks
    val all = get("/pyroscope/render").body()
    def ticks(b: String) = "\"numTicks\":(\\d+)".r.findFirstMatchIn(b).get.group(1).toLong
    assert(ticks(r.body()) < ticks(all) && ticks(r.body()) > 0)
    val pt = get("/pyroscope/profile-types")
    assert(pt.statusCode() == 200 && pt.body().contains("process_cpu:cpu:nanoseconds"))
    assert(get("/pyroscope/label-names").body().contains("service_name"))
    val lv = get("/pyroscope/label-values?label=service_name")
    assert(lv.statusCode() == 200 && lv.body().contains("\"svc-3\""))
    assert(get("/pyroscope/label-values?label=nope").statusCode() == 404)
    // by-trace: fetch a real correlated trace id from the samples view
    val realTid = graft.Tables.events(spark, dir)
      .selectExpr("md5(concat('tr-', user_id, '-', " +
        "(unix_micros(ts_us) div 1000000) div 86400))")
      .head().getString(0)
    val bt = get(s"/api/profiles/trace/$realTid")
    assert(bt.statusCode() == 200 && bt.body().contains("\"flamebearer\""))
    assert(get("/api/profiles/trace/ffffffffffffffffffffffffffffffff")
      .statusCode() == 404)
  }

  test("handler errors surface as their status with a JSON error body") {
    // missing required query param → 400
    val r400 = get("/loki/api/v1/query_range?limit=5")
    assert(r400.statusCode() == 400)
    assert(r400.body().startsWith("""{"status":"error""""))
    // prometheus 400 on missing step
    assert(get(s"/prometheus/api/v1/query_range?query=up&start=$T0&end=$T1")
      .statusCode() == 400)
    // unknown tempo tag → 404 from the handler itself
    assert(get("/api/search/tag/nope/values").statusCode() == 404)
    // unknown route → 404
    assert(get("/definitely/not/a/route").statusCode() == 404)
  }

  // ---- acceptor routes ----------------------------------------------------

  /** minimal OTLP logs wire payload (same encoder as OtlpSpec's). */
  private def logsPayload(svc: String, startNs: Long, n: Int,
      attrs: (Int => Seq[(String, String)]) = _ => Nil): Array[Byte] = {
    import java.io.ByteArrayOutputStream
    class Pb {
      val out = new ByteArrayOutputStream()
      def varint(v: Long): Pb = {
        var x = v
        while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
        out.write(x.toInt); this
      }
      def tag(f: Int, w: Int): Pb = varint((f << 3) | w)
      def fixed64(f: Int, v: Long): Pb = {
        tag(f, 1); (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
      }
      def bytes(f: Int, b: Array[Byte]): Pb = { tag(f, 2); varint(b.length); out.write(b); this }
      def str(f: Int, s: String): Pb = bytes(f, s.getBytes("UTF-8"))
      def msg(f: Int)(fn: Pb => Unit): Pb = { val p = new Pb; fn(p); bytes(f, p.out.toByteArray) }
      def result: Array[Byte] = out.toByteArray
    }
    val req = new Pb
    req.msg(1) { rl =>
      rl.msg(1)(_.msg(1) { kv => kv.str(1, "service.name"); kv.msg(2)(_.str(1, svc)) })
      rl.msg(2) { sl =>
        for (i <- 0 until n) sl.msg(2) { lr =>
          lr.fixed64(1, startNs + i * 60L * 1000000000L)
          lr.str(3, if (i % 2 == 0) "error" else "info")
          lr.msg(5)(_.str(1, s"line $i from $svc"))
          for ((k, v) <- attrs(i))
            lr.msg(6) { kv => kv.str(1, k); kv.msg(2)(_.str(1, v)) }
        }
      }
    }
    req.result
  }

  private def post(port: Int, pathAndQuery: String,
      body: Array[Byte]): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /v1/logs decodes, lands in the stored layout, and replays idempotently") {
    val base = graft.TestDirs.create("graft-http-ingest").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      val r = post(p, "/v1/logs", logsPayload("svc-http", T0 * 1000000000L, 6))
      assert(r.statusCode() == 200 && r.body() == """{"partialSuccess":{}}""")
      val stored = spark.read.parquet(layout.path("logs"))
      assert(stored.count() == 6)
      assert(stored.columns.contains("date_day")) // hour layout landed
      // a second request appends under a NEW batch id
      assert(post(p, "/v1/logs",
        logsPayload("svc-http2", T0 * 1000000000L, 4)).statusCode() == 200)
      assert(spark.read.parquet(layout.path("logs")).count() == 10)
    } finally sh.stop()
  }

  test("POST /v1/logs with application/json decodes protojson and lands") {
    val base = graft.TestDirs.create("graft-http-json").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      val json =
        """{"resourceLogs":[{"resource":{"attributes":[
          |  {"key":"service.name","value":{"stringValue":"svc-json"}}]},
          |"scopeLogs":[{"logRecords":[
          |  {"timeUnixNano":"1704067200000000001","severityNumber":9,
          |   "severityText":"info","body":{"stringValue":"json line"}}
          |]}]}]}""".stripMargin
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/v1/logs"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body() == """{"partialSuccess":{}}""")
      val stored = spark.read.parquet(layout.path("logs"))
      assert(stored.count() == 1)
      val row = stored.collect()(0)
      assert(row.getAs[String]("service_name") == "svc-json")
      assert(row.getAs[String]("body") == "json line")
      // same route, protobuf content type (default) still decodes wire bytes
      assert(post(p, "/v1/logs",
        logsPayload("svc-pb", T0 * 1000000000L, 2)).statusCode() == 200)
      assert(spark.read.parquet(layout.path("logs")).count() == 3)
    } finally sh.stop()
  }

  test("POST /api/v1/write with the v2 content type decodes symbol-table refs") {
    val base = graft.TestDirs.create("graft-http-rw2").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      val wire = graft.sources.PromRemoteWrite.encodeWriteRequestV2(Seq(
        (Map("__name__" -> "queue_depth", "job" -> "api2", "instance" -> "i1"),
          Seq((T0 * 1000L, 9.5)))))
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1/write"))
          .header("Content-Type",
            "application/x-protobuf;proto=io.prometheus.write.v2.Request")
          .POST(HttpRequest.BodyPublishers.ofByteArray(wire)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val gauge = spark.read.parquet(layout.path("metrics_gauge"))
      assert(gauge.count() == 1)
      assert(gauge.head().getAs[String]("service_name") == "api2")
      assert(gauge.head().getAs[Double]("value") == 9.5)
    } finally sh.stop()
  }

  test("a RESTARTED shell never reuses batch ids against old commit markers") {
    val base = graft.TestDirs.create("graft-http-restart").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh1 = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p1 = sh1.start()
    assert(post(p1, "/v1/logs",
      logsPayload("svc-r1", T0 * 1000000000L, 6)).statusCode() == 200)
    sh1.stop()
    val sh2 = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p2 = sh2.start()
    try {
      assert(post(p2, "/v1/logs",
        logsPayload("svc-r2", T0 * 1000000000L, 4)).statusCode() == 200)
      // would be 6 if the second shell's first batch id hit sh1's marker
      assert(spark.read.parquet(layout.path("logs")).count() == 10)
    } finally sh2.stop()
  }

  test("POST /api/v1/write: snappy+proto remote_write lands in the metric tables") {
    val base = graft.TestDirs.create("graft-http-rw").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      val wire = graft.sources.PromRemoteWrite.encodeWriteRequest(Seq(
        (Map("__name__" -> "queue_depth", "job" -> "api", "instance" -> "i1"),
          Seq((T0 * 1000L, 7.5))),
        (Map("__name__" -> "http_requests_total", "job" -> "api"),
          Seq((T0 * 1000L, 42.0)))))
      val r = post(p, "/api/v1/write", wire)
      assert(r.statusCode() == 200)
      val gauge = spark.read.parquet(layout.path("metrics_gauge"))
      assert(gauge.count() == 1)
      assert(gauge.head().getAs[String]("metric_name") == "queue_depth")
      val sum = spark.read.parquet(layout.path("metrics_sum"))
      assert(sum.count() == 1)
      assert(sum.head().getAs[String]("metric_name") == "http_requests")
    } finally sh.stop()
  }

  test("acceptor guardrails: 503 without ingest config, 400 on missing pprof name") {
    // the shared read-only shell has no ingest layout
    assert(post(port, "/v1/logs", Array[Byte](1, 2)).statusCode() == 503)
    val base = graft.TestDirs.create("graft-http-i2").toString
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      ingest = Some(graft.storage.Storage.TableLayout(base, "t", "d")))
    val p = sh.start()
    try {
      assert(post(p, "/ingest", Array[Byte](1)).statusCode() == 400)
      assert(post(p, "/not/an/ingest/route", Array[Byte](1)).statusCode() == 404)
    } finally sh.stop()
  }

  test("native Query IR over POST /api/v1/query: canonical envelope") {
    val doc =
      s"""{"irVersion":1,"from":"events","result":"rows",
         |"range":{"from":"${T0}000000000","to":"${T1}000000000"},
         |"fields":["event_id","event_type","value"],
         |"pipeline":[
         |  {"stage":"filter","predicate":
         |    {"op":"eq","field":"event_type","value":"purchase"}},
         |  {"stage":"order","keys":[{"field":"event_id","dir":"asc"}]},
         |  {"stage":"limit","n":3}]}""".stripMargin
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/query"))
        .POST(HttpRequest.BodyPublishers.ofString(doc)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("""{"result":"rows","window":{"start_ns":"""))
    assert(r.body().contains(
      """{"name":"event_id","type":"int64"}"""))
    assert(r.body().contains(
      """{"name":"event_type","type":"string"}"""))
    assert(r.body().contains(""""value":"""") == false) // rows are arrays
    // 3 rows, every one a purchase
    val rows = """\[(\d+),"purchase",""".r.findAllIn(r.body()).length
    assert(rows == 3, r.body())
    // malformed documents → 400 with a JSON error, series → 400
    val bad = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/query"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"irVersion":1}""")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(bad.statusCode() == 400)
    val series = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          doc.replace("\"rows\"", "\"series\""))).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(series.statusCode() == 400)
    assert(series.body().contains("unsupported result envelope"))
  }

  test("ops compaction routes: dry-run plans, compact executes, status drains") {
    val base = graft.TestDirs.create("graft-http-ops").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      // two small appends into one hour → a compaction candidate
      for (_ <- 0 until 2)
        assert(post(p, "/v1/logs",
          logsPayload("svc-ops", T0 * 1000000000L, 3)).statusCode() == 200)
      val dry = post(p, "/api/v1/ops/compact/dry-run", Array.emptyByteArray)
      assert(dry.statusCode() == 200)
      assert(dry.body().contains(""""table":"logs""""), dry.body())
      val st0 = get2(p, "/api/v1/ops/compact/status")
      assert(st0.body().contains(""""pending":1"""), st0.body())
      val run = post(p, "/api/v1/ops/compact", Array.emptyByteArray)
      assert(run.statusCode() == 200)
      assert(run.body().contains(""""compacted":[{"table":"logs""""), run.body())
      // drained: status reports nothing pending; rows preserved
      val st1 = get2(p, "/api/v1/ops/compact/status")
      assert(st1.body().contains(""""pending":0"""), st1.body())
      assert(spark.read.parquet(layout.path("logs")).count() == 6)
      // a dir-less table never breaks the planner sweep
      assert(get2(p, "/api/v1/ops/compact/status").statusCode() == 200)
    } finally sh.stop()
    // ops without ingest → 503
    assert(get("/api/v1/ops/compact/status").statusCode() == 503)
  }

  private def get2(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("pyroscope render-diff serves the double flamebearer") {
    val cut = 1705276800L // 2024-01-15
    val q = "query=" + java.net.URLEncoder.encode(
      """process_cpu:cpu{service_name="svc-1"}""", "UTF-8") +
      s"&leftFrom=${T0}000000000&leftUntil=${cut}000000000" +
      s"&rightFrom=${cut}000000000&rightUntil=${T1}000000000"
    val r = get(s"/pyroscope/render-diff?$q")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.pyroscopeRenderDiff(spark, dir, q))
    assert(r.body().contains(""""format":"double""""))
    assert(r.body().contains(""""leftTicks":"""))
    assert(r.body().contains(""""rightTicks":"""))
    assert(r.body().contains(""""names":["total""""))
    // numTicks = leftTicks + rightTicks (the double-format invariant)
    def num(key: String) = (key + """:(\d+)""").r
      .findFirstMatchIn(r.body()).get.group(1).toLong
    assert(num("\"numTicks\"") == num("\"leftTicks\"") + num("\"rightTicks\""))
    assert(num("\"leftTicks\"") > 0 && num("\"rightTicks\"") > 0)
  }

  test("loki index volume serves KMV stream estimates over the wire") {
    val r = get(s"/loki/api/v1/index/volume?start=${T0}000000000&end=${T1}000000000")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.lokiIndexVolume(spark, dir,
      s"start=${T0}000000000&end=${T1}000000000", nowNs = T1 * 1000000000L))
    assert(r.body().contains(""""resultType":"vector""""))
    assert(r.body().contains(""""streams":"""))
    // the served estimates equal the oracle-checked q314 frame
    val frame = graft.operators.DiscoveryOps
      .lokiVolumeFrame(graft.SignalViews.logsDf(spark, dir))
      .orderBy("service_name").collect()
    for (row <- frame) {
      assert(r.body().contains(
        s""""metric":{"service_name":"${row.getString(0)}"}"""))
      assert(r.body().contains(s""""streams":${row.getLong(4)}"""))
    }
    // a selector narrows the scan through the LogQL lowering
    val rs = get("/loki/api/v1/index/volume?query=" +
      java.net.URLEncoder.encode("""{service_name="svc-1"}""", "UTF-8") +
      s"&start=${T0}000000000&end=${T1}000000000")
    assert(rs.statusCode() == 200)
    assert(rs.body().contains("svc-1") && !rs.body().contains("svc-2"))
    // bad selector → 400
    assert(get("/loki/api/v1/index/volume?query=%7Bnot-a-selector")
      .statusCode() == 400)
  }

  test("detected fields and prometheus series over the wire") {
    val r = get("/loki/api/v1/detected_fields?limit=50")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.lokiDetectedFields(spark, dir, "limit=50"))
    assert(r.body().contains(""""parsers":[]"""))
    assert(r.body().contains(""""limit":50"""))
    // every field entry carries a type the reference enumerates
    assert("""\"type\":\"(string|int)\"""".r.findAllIn(r.body()).nonEmpty)

    val q = "match%5B%5D=" + java.net.URLEncoder.encode(
      """error{service_name=~"svc-[12]"}""", "UTF-8") +
      s"&start=$T0&end=$T1"
    val rs = get(s"/prometheus/api/v1/series?$q")
    assert(rs.statusCode() == 200)
    assert(rs.body() ==
      s"""{"status":"success","data":[{"__name__":"error","service_name":"svc-1"},""" +
        s"""{"__name__":"error","service_name":"svc-2"}]}""")
    // unknown label matcher → empty data, never an error
    val r2 = get("/prometheus/api/v1/series?match%5B%5D=" +
      java.net.URLEncoder.encode("""error{nope="x"}""", "UTF-8") +
      s"&start=$T0&end=$T1")
    assert(r2.statusCode() == 200)
    assert(r2.body() == """{"status":"success","data":[]}""")
    // missing match[] → 400; range selector → 400
    assert(get("/prometheus/api/v1/series").statusCode() == 400)
    assert(get("/prometheus/api/v1/series?match%5B%5D=" +
      java.net.URLEncoder.encode("error[5m]", "UTF-8")).statusCode() == 400)
  }

  test("prometheus label_stats: presence + KMV distinct estimates per attribute") {
    val r = get("/prometheus/api/v1/label_stats")
    assert(r.statusCode() == 200)
    assert(r.body() == Endpoints.promLabelStats(spark, dir))
    // host lives in resource_attributes on EVERY metric row → presence 1
    // and 5 exact distinct values (below the sketch cap)
    assert(r.body().contains(
      """{"name":"eid","""), r.body())
    assert(r.body().contains(
      """{"name":"host","distinct_estimate":5,"presence":1.0,"capped":false}"""))
    // eid is per-event unique → the sketch saturates: capped, estimate > k
    val eid = """\{"name":"eid","distinct_estimate":(\d+),"presence":1\.0,"capped":true\}""".r
      .findFirstMatchIn(r.body())
    assert(eid.isDefined, r.body())
    assert(eid.get.group(1).toLong > 64)
  }

  test("loki series count=estimate answers from the sketch") {
    val q = "match%5B%5D=" +
      java.net.URLEncoder.encode("""{service_name=~"svc-.*"}""", "UTF-8") +
      s"&start=${T0}000000000&end=${T1}000000000&count=estimate"
    val r = get(s"/loki/api/v1/series?$q")
    assert(r.statusCode() == 200)
    val est = """"seriesCountEstimate":(\d+)""".r
      .findFirstMatchIn(r.body()).get.group(1).toLong
    // (service, severity) cardinality is far below k=64, so the sketch's
    // exact branch must equal the true distinct count
    val exact = graft.SignalViews.logsDf(spark, dir)
      .select("service_name", "severity_text").distinct().count()
    assert(est == exact, s"est=$est exact=$exact")
  }

  test("arrow over the wire: SQL ticket streams IPC bytes that read back losslessly") {
    val sql = "SELECT service_name, COUNT(*) AS n FROM logs " +
      "GROUP BY service_name ORDER BY service_name"
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/arrow?sql=" +
        java.net.URLEncoder.encode(sql, "UTF-8"))).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get ==
      "application/vnd.apache.arrow.stream")
    // chunked transfer: the JDK server omits Content-Length for length 0
    assert(r.headers().firstValue("Content-Length").isEmpty)
    val back = ArrowResult.fromIpcStream(spark, r.body())
      .collect().map(row => (row.getString(0), row.getLong(1)))
    val direct = graft.SignalViews.logsGen2Df(spark, dir)
      .groupBy("service_name").count()
      .orderBy("service_name")
      .collect().map(row => (row.getString(0), row.getLong(1)))
    assert(back.sameElements(direct))
  }

  test("arrow find_trace ticket over the POST body (the DoGet Ticket shape)") {
    import org.apache.spark.sql.functions.col
    val traceId = graft.SignalViews.tracesGen2Df(spark, dir)
      .select("trace_id").orderBy("trace_id").limit(1)
      .collect()(0).getString(0)
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/arrow"))
        .POST(HttpRequest.BodyPublishers.ofString(s"find_trace:t:d:$traceId"))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    val back = ArrowResult.fromIpcStream(spark, r.body())
    val expect = graft.SignalViews.tracesGen2Df(spark, dir)
      .filter(col("trace_id") === traceId)
    assert(back.count() == expect.count() && back.count() > 0)
    // spans arrive in time order
    val ts = back.select("timestamp").collect().map(_.getLong(0))
    assert(ts.sameElements(ts.sorted))
    // time hints bracket the scan: an impossible bracket yields 0 rows
    val r2 = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/arrow"))
        .POST(HttpRequest.BodyPublishers.ofString(s"find_trace:t:d:$traceId:1:2"))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r2.statusCode() == 200)
    assert(ArrowResult.fromIpcStream(spark, r2.body()).count() == 0)
  }

  test("arrow ticket guardrails: read-only SQL, ticket grammar, missing param") {
    def arrowGet(q: String) = get(s"/api/v1/arrow?$q")
    val bad = arrowGet("sql=" +
      java.net.URLEncoder.encode("DROP TABLE logs", "UTF-8"))
    assert(bad.statusCode() == 400)
    assert(bad.body().contains("SELECT or WITH"))
    val badTicket = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/arrow"))
        .POST(HttpRequest.BodyPublishers.ofString("find_trace:only-two:parts"))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(badTicket.statusCode() == 400)
    assert(badTicket.body().contains("find_trace"))
    assert(arrowGet("").statusCode() == 400)
    // bad SQL → 400 with a JSON error body, not a broken stream
    val analysis = arrowGet("sql=" +
      java.net.URLEncoder.encode("SELECT nope FROM logs", "UTF-8"))
    assert(analysis.statusCode() == 400)
    assert(analysis.headers().firstValue("Content-Type").get ==
      "application/json")
    // Spark SELECT is not read-only-safe by default — the per-request
    // session must close both escape hatches (ADVICE r7):
    // reflect()/java_method() invokes arbitrary public static methods…
    val refl = arrowGet("sql=" + java.net.URLEncoder.encode(
      "SELECT java_method('java.lang.System', 'getProperty', 'user.dir')",
      "UTF-8"))
    assert(refl.statusCode() == 400, refl.body())
    assert(refl.body().contains("reflect"), refl.body())
    val refl2 = arrowGet("sql=" + java.net.URLEncoder.encode(
      "SELECT * FROM logs WHERE body = reflect('java.lang.System', 'lineSeparator')",
      "UTF-8"))
    assert(refl2.statusCode() == 400, refl2.body())
    // …and path-based tables read arbitrary local files
    val pathSql = arrowGet("sql=" + java.net.URLEncoder.encode(
      s"SELECT * FROM parquet.`$dir/documents.parquet`", "UTF-8"))
    assert(pathSql.statusCode() == 400, pathSql.body())
  }

  test("live tail over the wire: a POSTed log arrives as a frame; disconnect stops the query") {
    val base = graft.TestDirs.create("graft-http-tail").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      val activeBefore = spark.streams.active.length
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$p/loki/api/v1/tail?query=" +
            java.net.URLEncoder.encode("""{service_name="svc-tail"} |= "line"""", "UTF-8") +
            "&timeout_s=60")).GET().build(),
        HttpResponse.BodyHandlers.ofInputStream())
      assert(resp.statusCode() == 200)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(resp.body()))
      // POST logs while the tail request is open…
      assert(post(p, "/v1/logs",
        logsPayload("svc-tail", T0 * 1000000000L, 2)).statusCode() == 200)
      // …and observe the frame arrive (readLine blocks until the flush)
      val frame = reader.readLine()
      assert(frame != null && frame.contains("svc-tail") &&
        frame.contains("line 0 from svc-tail"), s"frame: $frame")
      assert(frame.startsWith("""{"streams":["""))
      assert(spark.streams.active.length > activeBefore) // tail query live
      // clean disconnect: close the client side; the server notices on a
      // later flush and stops the streaming query
      resp.body().close()
      var waited = 0
      while (spark.streams.active.length > activeBefore && waited < 20000) {
        // force frames so the server's flush path runs against the
        // closed socket
        post(p, "/v1/logs",
          logsPayload("svc-tail", (T0 + waited) * 1000000000L, 1))
        Thread.sleep(500); waited += 500
      }
      assert(spark.streams.active.length == activeBefore,
        "tail streaming query must stop after client disconnect")
    } finally sh.stop()
  }

  test("tail guardrails: 503 without ingest, 400 on bad queries") {
    // the shared read-only shell has no ingest layout
    assert(get("/loki/api/v1/tail?query=%7Bservice_name%3D%22a%22%7D")
      .statusCode() == 503)
    val base = graft.TestDirs.create("graft-http-tail2").toString
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      ingest = Some(graft.storage.Storage.TableLayout(base, "t", "d")))
    val p = sh.start()
    try {
      def tailGet(q: String) = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$p/loki/api/v1/tail$q")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(tailGet("").statusCode() == 400) // missing query
      // order-dependent stage → Unsupported → 400
      val r = tailGet("?query=" + java.net.URLEncoder.encode(
        """{service_name="a"} | distinct service_name""", "UTF-8"))
      assert(r.statusCode() == 400)
      assert(r.body().contains("distinct"))
      // malformed / negative timeout_s must answer 400 BEFORE the
      // streaming query starts — nothing to leak (ADVICE r7: the old
      // parse site threw after LiveTail.start, skipping q.stop())
      val activeBefore = spark.streams.active.length
      val q = "?query=" + java.net.URLEncoder.encode(
        """{service_name="a"}""", "UTF-8")
      val badT = tailGet(q + "&timeout_s=abc")
      assert(badT.statusCode() == 400, badT.body())
      assert(badT.body().contains("timeout_s"))
      assert(tailGet(q + "&timeout_s=-1").statusCode() == 400)
      assert(spark.streams.active.length == activeBefore,
        "a rejected tail request must not leave a streaming query behind")
      // slot-release failpoint (ADVICE r8 #2): a failure AFTER the
      // tail slot is acquired but BEFORE the streaming query exists
      // must release the slot. Pre-fix, each such failure leaked one
      // of the 2 slots, so three failures would 503 every later tail.
      sh.tailFailpoint = () => throw new RuntimeException("tail failpoint")
      (1 to 3).foreach { _ =>
        val f = tailGet(q)
        assert(f.statusCode() == 500 && f.body().contains("tail failpoint"),
          s"${f.statusCode()} ${f.body()}")
      }
      sh.tailFailpoint = () => ()
      val ok = tailGet(q + "&timeout_s=0")
      assert(ok.statusCode() == 200,
        s"slots must survive pre-start failures, got ${ok.statusCode()}")
    } finally sh.stop()
  }

  test("status surface: echo, ready, buildinfo triplet, instant TraceQL metrics") {
    assert(get("/api/echo").body() == "echo")
    // the reference nests Tempo under /tempo (its own rate-limit test
    // hits /tempo/api/echo); stock Tempo serves the bare paths — both
    // prefixes answer identically here
    assert(get("/tempo/api/echo").body() == "echo")
    assert(get("/tempo/api/search/tags").body() == get("/api/search/tags").body())
    assert(get("/ready").body() == "ready")
    // the three Grafana datasource health probes
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val prom = om.readTree(get("/prometheus/api/v1/status/buildinfo").body())
    assert(prom.get("status").asText() == "success")
    assert(prom.get("data").get("version").asText().nonEmpty)
    assert(om.readTree(get("/loki/api/v1/status/buildinfo").body())
      .get("version").asText().nonEmpty)
    assert(om.readTree(get("/api/status/buildinfo").body())
      .get("version").asText().nonEmpty)
    // instant TraceQL metrics: one evaluation bucket (the reference 501s
    // this route; we serve it like query_range)
    val r = get("/api/metrics/query?q=" + java.net.URLEncoder.encode(
      "{} | rate()", "UTF-8") + s"&start=$T0&time=$T1")
    assert(r.statusCode() == 200, r.body())
    val doc = om.readTree(r.body())
    assert(doc.get("status").asText() == "success", r.body())
    val result = doc.get("data").get("result")
    assert(result.size() > 0, r.body())
    val series = result.elements()
    while (series.hasNext) // instant: exactly one value pair per series
      assert(series.next().get("values").size() == 1)
    assert(get("/api/metrics/query").statusCode() == 400) // missing q
  }

  test("attribute promotion closes end-to-end over the wire") {
    // the reference's whole adaptive-schema loop (attr_promotion.rs) in
    // one live pass: served queries → demand stats flushed → promotion
    // decision → table rewrite → the SAME query resolving the promoted
    // column with identical results — and demand going quiet for it
    val base = graft.TestDirs.create("graft-http-promo").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      // 1. land logs whose region attribute only exists in the map
      assert(post(p, "/v1/logs", logsPayload("svc-promo", T0 * 1000000000L, 6,
        attrs = i => Seq("region" -> s"r${i % 3}"))).statusCode() == 200)
      // 2. serve the same region-demanding query twice over the wire
      val q = java.net.URLEncoder.encode(
        """{service_name="svc-promo"} | region != "r0"""", "UTF-8")
      val url = s"/loki/api/v1/query_range?query=$q&start=${T0}000000000" +
        s"&end=${T1}000000000&limit=100"
      def getP(u: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$u"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      // served from the LANDED store (shells with ingest answer for
      // what they ingested); region resolves via the map probe for now
      val served = getP(url)
      assert(served.statusCode() == 200, served.body())
      assert(served.body().contains("svc-promo"), served.body())
      assert(getP(url).statusCode() == 200)
      val stats = spark.read.parquet(layout.path("attribute_stats"))
      val regionDemand = stats.filter(col("attr") === "region")
        .agg(sum("n_queries")).head().getLong(0)
      assert(regionDemand >= 2, s"demand not flushed: $regionDemand")
      // the promoted base labels never count as demand
      assert(stats.filter(col("attr") === "service_name").count() == 0)
      // pre-promotion answer over the landed table (map-probe resolution)
      import graft.logql.{Lowering, Parser}
      import graft.logql.Ast.LineQuery
      def landed(promoted: Map[String, String]) = Lowering.LogsTable(
        df = spark.read.parquet(layout.path("logs")),
        promoted = Map("service_name" -> "service_name",
          "severity_text" -> "severity_text", "body" -> "body") ++ promoted,
        seriesLabels = Seq("service_name", "severity_text"),
        hasAttrMap = true, attrMapCols = Seq("log_attributes", "resource_attributes"))
      val parsed = Parser.parse(
        """{service_name="svc-promo"} | region != "r0"""") match {
        case LineQuery(lq) => lq
        case other => fail(s"unexpected $other")
      }
      def rows(t: Lowering.LogsTable) =
        Lowering.lowerLineQuery(t, parsed, 100)
          .select("timestamp", "body").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val before = rows(landed(Map.empty))
      assert(before.nonEmpty)
      // 3. the decision + rewrite, over the wire
      val promoted = post(p, "/api/v1/ops/promote?min_queries=2", Array.emptyByteArray)
      assert(promoted.statusCode() == 200, promoted.body())
      assert(promoted.body().contains("\"region\""), promoted.body())
      val rewritten = spark.read.parquet(layout.path("logs"))
      assert(rewritten.columns.contains("label_region"))
      // 4. the SAME query over the rewritten table resolves the promoted
      // COLUMN (no map probe in the optimized plan) with identical rows
      val afterTable = landed(Map("region" -> "label_region"))
      val afterDf = Lowering.lowerLineQuery(afterTable, parsed, 100)
      val plan = afterDf.queryExecution.optimizedPlan.toString
      assert(plan.contains("label_region"), plan)
      assert(!plan.contains("element_at"), s"map probe survived promotion:\n$plan")
      assert(rows(afterTable) == before, "promotion changed the answer")
      // 5. the SAME URL over the wire: byte-identical answer now served
      // through the promoted column (the live loop, no restart), and
      // the loop is QUIET — no new region demand records (label_region
      // exists on the stored table)
      val reServed = getP(url)
      assert(reServed.statusCode() == 200)
      assert(reServed.body() == served.body(),
        "promotion changed the served bytes")
      val after = spark.read.parquet(layout.path("attribute_stats"))
        .filter(col("attr") === "region")
        .agg(sum("n_queries")).head().getLong(0)
      assert(after == regionDemand,
        s"promoted key still counting demand: $regionDemand -> $after")
    } finally sh.stop()
  }

  test("demand recording of a base-label query runs no Spark job") {
    val base = graft.TestDirs.create("graft-http-demand").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      assert(post(p, "/v1/logs", logsPayload("svc-demand", T0 * 1000000000L, 6,
        attrs = i => Seq("region" -> s"r${i % 3}"))).statusCode() == 200)
      def qs(text: String) = s"query=${java.net.URLEncoder.encode(text, "UTF-8")}" +
        s"&start=${T0}000000000&end=${T1}000000000&limit=100"
      val baseOnly = qs("""sum by (severity_text) (count_over_time({service_name="svc-demand"}[1h]))""")
      val demanding = qs("""{service_name="svc-demand"} | region != "r0"""")
      for (q <- Seq(baseOnly, demanding)) {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$p/loki/api/v1/query_range?$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
      }
      // served: the landed table is built; recording it again runs nothing
      val path = "/loki/api/v1/query_range"
      assert(graft.JobGuard.jobsOf(spark)(sh.recordDemand(path, baseOnly)) == 0)
      // a query demanding an unpromoted label still flushes its demand
      def regionDemand() = spark.read.parquet(layout.path("attribute_stats"))
        .filter(col("attr") === "region").agg(sum("n_queries")).head().getLong(0)
      val before = regionDemand()
      sh.recordDemand(path, demanding)
      assert(regionDemand() == before + 1)
      assert(spark.read.parquet(layout.path("attribute_stats"))
        .filter(col("attr") =!= "region").count() == 0)
    } finally sh.stop()
  }

  test("rewrites refresh exported Iceberg metadata: no dangling file paths") {
    val base = graft.TestDirs.create("graft-http-icecoh").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      // two files in one hour (a compaction candidate), then export
      for (_ <- 0 until 2)
        assert(post(p, "/v1/logs",
          logsPayload("svc-icecoh", T0 * 1000000000L, 3)).statusCode() == 200)
      assert(post(p, "/api/v1/ops/iceberg-export",
        Array.emptyByteArray).statusCode() == 200)
      val loc = layout.path("logs")
      val before = graft.storage.IcebergExport.readDataFiles(loc)
      assert(before.nonEmpty)
      // the compaction rewrite deletes those files — the ops route must
      // re-export so the catalog never serves dangling paths
      val run = post(p, "/api/v1/ops/compact", Array.emptyByteArray)
      assert(run.statusCode() == 200, run.body())
      assert(run.body().contains(""""compacted":[{"table":"logs""""))
      val after = graft.storage.IcebergExport.readDataFiles(loc)
      assert(after.nonEmpty)
      after.foreach(f => assert(new java.io.File(f.path).isFile,
        s"exported metadata points at a deleted file: ${f.path}"))
      assert(after.map(_.recordCount).sum == 6)
      // the compacted layout has FEWER files than the pre-compaction one
      assert(after.size < before.size)
    } finally sh.stop()
  }

  test("Iceberg REST catalog: export over the wire, then discover and load") {
    val base = graft.TestDirs.create("graft-http-iceberg").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      def getP(u: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$u"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(post(p, "/v1/logs",
        logsPayload("svc-ice", T0 * 1000000000L, 5)).statusCode() == 200)
      // nothing exported yet: catalog lists the namespace but no tables
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      assert(getP("/iceberg/v1/config").statusCode() == 200)
      val nss = om.readTree(getP("/iceberg/v1/namespaces").body())
      assert(nss.get("namespaces").get(0).get(0).asText() == "acme")
      val nsSeg = java.net.URLEncoder.encode("acme\u001fprod", "UTF-8")
      assert(om.readTree(getP(s"/iceberg/v1/namespaces/$nsSeg/tables").body())
        .get("identifiers").size() == 0)
      // export over the wire, then the table is discoverable + loadable
      val exp = post(p, "/api/v1/ops/iceberg-export", Array.emptyByteArray)
      assert(exp.statusCode() == 200, exp.body())
      assert(exp.body().contains("\"logs\":1"), exp.body())
      val ids = om.readTree(getP(s"/iceberg/v1/namespaces/$nsSeg/tables").body())
        .get("identifiers")
      assert(ids.size() == 1 && ids.get(0).get("name").asText() == "logs")
      val load = getP(s"/iceberg/v1/namespaces/$nsSeg/tables/logs")
      assert(load.statusCode() == 200, load.body())
      val doc = om.readTree(load.body())
      assert(doc.get("metadata-location").asText().endsWith("v1.metadata.json"))
      val meta = doc.get("metadata")
      assert(meta.get("format-version").asInt() == 2)
      assert(meta.get("current-snapshot-id").asLong() == 1L)
      // the LoadTableResult's metadata chain resolves to the real rows
      val loc = new java.io.File(doc.get("metadata-location").asText()
        .stripPrefix("file:")).getParentFile.getParent
      val files = graft.storage.IcebergExport.readDataFiles(loc)
      assert(files.map(_.recordCount).sum == 5)
      // unknown namespace / unexported table → 404
      val badNs = java.net.URLEncoder.encode("nope\u001fprod", "UTF-8")
      assert(getP(s"/iceberg/v1/namespaces/$badNs/tables").statusCode() == 404)
      assert(getP(s"/iceberg/v1/namespaces/$nsSeg/tables/traces")
        .statusCode() == 404)
    } finally sh.stop()
  }

  test("query results cache by data version; ingest invalidates") {
    val base = graft.TestDirs.create("graft-http-cache").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    try {
      def getP(u: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$u"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(post(p, "/v1/logs",
        logsPayload("svc-cache", T0 * 1000000000L, 3)).statusCode() == 200)
      val url = "/loki/api/v1/query_range?query=" +
        java.net.URLEncoder.encode("""{service_name="svc-cache"}""", "UTF-8") +
        s"&start=${T0}000000000&end=${T1}000000000&limit=100"
      val first = getP(url)
      assert(first.statusCode() == 200 && first.body().contains("svc-cache"))
      val hitsBefore = sh.cacheHits.get()
      val second = getP(url)
      assert(second.body() == first.body())
      assert(sh.cacheHits.get() == hitsBefore + 1,
        "identical poll must answer from the result cache")
      // landing new data changes the data version: the same URL now
      // recomputes and serves the new rows
      assert(post(p, "/v1/logs",
        logsPayload("svc-cache", (T0 + 7200) * 1000000000L, 2)).statusCode() == 200)
      val third = getP(url)
      assert(third.statusCode() == 200)
      assert(third.body() != first.body(),
        "a new ingest batch must invalidate the cached answer")
    } finally sh.stop()
  }

  test("Prometheus query routes accept POSTed form bodies (Grafana's long-query path)") {
    val q = java.net.URLEncoder.encode("sum(rate(click[1d]))", "UTF-8")
    val viaGet = get(s"/prometheus/api/v1/query?query=$q&time=$T1")
    assert(viaGet.statusCode() == 200)
    val viaPost = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/prometheus/api/v1/query"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(s"query=$q&time=$T1"))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(viaPost.statusCode() == 200)
    assert(viaPost.body() == viaGet.body(), "POST form must equal GET")
    // body params override query-string params (last wins)
    val overridden = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/prometheus/api/v1/query_range?step=60"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"query=$q&start=$T0&end=$T1&step=86400"))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(overridden.statusCode() == 200, overridden.body())
    assert(overridden.body() == get(
      s"/prometheus/api/v1/query_range?query=$q&start=$T0&end=$T1&step=86400").body())
  }

  test("query rate limit: 429 once the bucket drains, unlimited without config") {
    // the reference's router test verbatim (lib.rs:389): limit 2 →
    // OK, OK, 429; no limit → 50× OK
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      queryRatePerSec = Some(2.0))
    val p = sh.start()
    try {
      def echo() = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/echo"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(echo().statusCode() == 200)
      assert(echo().statusCode() == 200)
      val third = echo()
      assert(third.statusCode() == 429, third.body())
      assert(third.body().contains("query request rate"))
      // probes are never limited
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/health"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
        .statusCode() == 200)
      // the bucket refills: a second later the route answers again
      Thread.sleep(1100)
      assert(echo().statusCode() == 200)
      // buckets are PER TENANT: another tenant's bucket is full even
      // while this one is drained
      assert(echo().statusCode() == 200)
      assert(echo().statusCode() == 429)
      val other = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/echo"))
          .header("x-tenant-id", "other").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(other.statusCode() == 200,
        "one tenant draining its bucket must not affect another")
      // INVALID tenant headers collapse to ONE shared bucket (ADVICE
      // r8 #4): an unauthenticated client cannot mint a fresh bucket
      // per garbage header — two DIFFERENT invalid tenants contend for
      // the same budget, while a valid unseen tenant still gets its own
      def echoAs(t: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/echo"))
          .header("x-tenant-id", t).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val junk1 = "x" * 65 // too long for the tenant-id grammar
      val junk2 = "bad tenant!!" // rejected characters
      echoAs(junk1); echoAs(junk1) // drain the shared bucket (burst 2)
      assert(echoAs(junk2).statusCode() == 429,
        "distinct garbage tenant headers must share one rate bucket")
      assert(echoAs("fresh-tenant").statusCode() == 200)
    } finally sh.stop()
    // unlimited without a configured limit (the shared shell): 50× OK
    for (_ <- 0 until 50) assert(get("/api/echo").statusCode() == 200)
  }

  test("api-key auth: 401/400/403 split per the reference middleware") {
    // two tenants, one key each, keys stored HASHED in the shell config
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      apiKeys = Some(Map(
        HttpShell.hashApiKey("sk-alpha-secret") -> "alpha",
        HttpShell.hashApiKey("sk-beta-secret") -> "beta")))
    val p = sh.start()
    try {
      def req(hdrs: (String, String)*) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/echo"))
        hdrs.foreach { case (k, v) => b.header(k, v) }
        client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
      }
      // no credentials → 401 (the UI login gate keys on this exact status)
      val r1 = req()
      assert(r1.statusCode() == 401 && r1.body().contains("Missing Authorization"))
      // wrong scheme → 400
      val r2 = req("Authorization" -> "Basic abc", "x-tenant-id" -> "alpha")
      assert(r2.statusCode() == 400 && r2.body().contains("Bearer scheme"))
      // key without a tenant header → 401
      val r3 = req("Authorization" -> "Bearer sk-alpha-secret")
      assert(r3.statusCode() == 401 && r3.body().contains("Missing X-Tenant-ID"))
      // malformed tenant id (path traversal) → 400
      val r4 = req("Authorization" -> "Bearer sk-alpha-secret",
        "x-tenant-id" -> "../evil")
      assert(r4.statusCode() == 400 && r4.body().contains("Invalid tenant ID"))
      // unknown key → 401
      val r5 = req("Authorization" -> "Bearer sk-wrong",
        "x-tenant-id" -> "alpha")
      assert(r5.statusCode() == 401 && r5.body().contains("Invalid API key"))
      // real key presented for a tenant it does not own → 403
      val r6 = req("Authorization" -> "Bearer sk-alpha-secret",
        "x-tenant-id" -> "beta")
      assert(r6.statusCode() == 403 && r6.body().contains("does not belong"))
      // correct pair → 200, for each tenant
      assert(req("Authorization" -> "Bearer sk-alpha-secret",
        "x-tenant-id" -> "alpha").statusCode() == 200)
      assert(req("Authorization" -> "Bearer sk-beta-secret",
        "x-tenant-id" -> "beta").statusCode() == 200)
      // probes stay open without credentials
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/health"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
        .statusCode() == 200)
      assert(client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/ready"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
        .statusCode() == 200)
    } finally sh.stop()
    // and the shared un-configured shell stays open (None = pre-auth shell)
    assert(get("/api/echo").statusCode() == 200)
  }

  test("management surface: tenant lifecycle, scoped keys go live, revocation is immediate") {
    val base = graft.TestDirs.create("graft-http-manage").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      ingest = Some(layout),
      apiKeys = Some(Map(HttpShell.hashApiKey("sk-acme") -> "acme")),
      adminApiKeys = Set(HttpShell.hashApiKey("sk-root")))
    val p = sh.start()
    def req(method: String, path: String, body: String,
        hdrs: (String, String)*): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
      hdrs.foreach { case (k, v) => b.header(k, v) }
      val pub = if (body == null) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body)
      client.send(b.method(method, pub).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    val admin = Seq("Authorization" -> "Bearer sk-root", "x-tenant-id" -> "ops")
    val acme = Seq("Authorization" -> "Bearer sk-acme", "x-tenant-id" -> "acme")
    try {
      // tenant creation is instance-admin only
      val denied = req("POST", "/api/v1/manage/tenants",
        """{"id":"globex","name":"Globex"}""", acme: _*)
      assert(denied.statusCode() == 403 &&
        denied.body().contains("Instance administrator required"))
      val created = req("POST", "/api/v1/manage/tenants",
        """{"id":"globex","name":"Globex","default_dataset":"prod"}""", admin: _*)
      assert(created.statusCode() == 201 && created.body() == """{"id":"globex"}""")
      // duplicate → 409; a config-backed tenant id → 409; bad id → 400
      assert(req("POST", "/api/v1/manage/tenants",
        """{"id":"globex","name":"Again"}""", admin: _*).statusCode() == 409)
      val cfg = req("POST", "/api/v1/manage/tenants",
        """{"id":"acme","name":"Acme"}""", admin: _*)
      assert(cfg.statusCode() == 409 &&
        cfg.body().contains("configuration-backed"))
      assert(req("POST", "/api/v1/manage/tenants",
        """{"id":"../evil","name":"X"}""", admin: _*).statusCode() == 400)
      // datasets: the default landed with the tenant; add/delete around it
      assert(req("POST", "/api/v1/manage/tenants/globex/datasets",
        """{"name":"staging"}""", admin: _*).statusCode() == 201)
      val ds = req("GET", "/api/v1/manage/tenants/globex/datasets", null, admin: _*)
      assert(ds.statusCode() == 200 &&
        ds.body().contains("\"prod\"") && ds.body().contains("\"staging\""))
      val delDefault = req("DELETE",
        "/api/v1/manage/tenants/globex/datasets/prod", null, admin: _*)
      assert(delDefault.statusCode() == 409 &&
        delDefault.body().contains("default dataset"))
      assert(req("DELETE", "/api/v1/manage/tenants/globex/datasets/staging",
        null, admin: _*).statusCode() == 204)
      assert(req("DELETE", "/api/v1/manage/tenants/globex/datasets/staging",
        null, admin: _*).statusCode() == 404)
      // an unscoped tenant key manages its own tenant, not others
      assert(req("GET", "/api/v1/manage/tenants/globex/api-keys",
        null, acme: _*).statusCode() == 403)
      // scope validation on key minting
      assert(req("POST", "/api/v1/manage/tenants/acme/api-keys",
        """{"scopes":[]}""", acme: _*).statusCode() == 400)
      assert(req("POST", "/api/v1/manage/tenants/acme/api-keys",
        """{"scopes":["root:everything"]}""", acme: _*).statusCode() == 400)
      assert(req("POST", "/api/v1/manage/tenants/acme/api-keys",
        """{"scopes":["logs:write"],"dataset_id":"nope"}""", acme: _*)
        .statusCode() == 400) // dataset must exist
      // mint a logs:write key for acme — the secret appears exactly once
      val minted = req("POST", "/api/v1/manage/tenants/acme/api-keys",
        """{"name":"ingester","scopes":["logs:write"]}""", acme: _*)
      assert(minted.statusCode() == 201)
      val mintedDoc = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(minted.body())
      val secret = mintedDoc.get("key").asText
      val keyId = mintedDoc.get("id").asText
      assert(secret.startsWith("sdbk_"))
      val scoped = Seq("Authorization" -> s"Bearer $secret",
        "x-tenant-id" -> "acme")
      // the minted key authenticates IMMEDIATELY and may ingest logs
      val ing = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/v1/logs"))
        scoped.foreach { case (k, v) => b.header(k, v) }
        client.send(b.POST(HttpRequest.BodyPublishers.ofByteArray(
          logsPayload("svc-scoped", T0 * 1000000000L, 3))).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      assert(ing.statusCode() == 200)
      assert(spark.read.parquet(layout.path("logs")).count() == 3)
      // …but not other signals, not reads, not management
      val wrongSignal = req("POST", "/v1/traces", "x", scoped: _*)
      assert(wrongSignal.statusCode() == 403 &&
        wrongSignal.body().contains("missing traces:write scope"))
      val readDenied = req("GET", "/loki/api/v1/labels", null, scoped: _*)
      assert(readDenied.statusCode() == 403 &&
        readDenied.body().contains("missing logs:read scope"))
      assert(req("GET", "/api/v1/manage/tenants/acme/api-keys",
        null, scoped: _*).statusCode() == 403)
      // ---- tenant.rs:153/:191 schema discovery: the tenant's available
      // schema set (configured defaults, NOT landed tables) and the
      // deployment-wide schema types; a foreign tenant id is 403
      val schemas = req("GET", "/api/v1/tenants/acme/schemas", null, acme: _*)
      assert(schemas.statusCode() == 200, schemas.body())
      val sj = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(schemas.body())
      assert(sj.get("tenant_id").asText == "acme")
      val names = (0 until sj.get("tables").size())
        .map(i => sj.get("tables").get(i).get("name").asText)
      assert(names == Seq("traces", "logs", "metrics_gauge", "metrics_sum",
        "metrics_histogram", "metrics_exponential_histogram",
        "metrics_summary", "profiles"))
      assert(sj.get("tables").get(1).get("schema_type").asText == "logs" &&
        sj.get("tables").get(1).get("description").asText ==
          "OpenTelemetry log entries")
      assert(req("GET", "/api/v1/tenants/globex/schemas", null, acme: _*)
        .statusCode() == 403, "foreign tenant schemas must be forbidden")
      assert(req("GET", "/api/v1/tenants/globex/schemas", null, admin: _*)
        .statusCode() == 200, "instance admin reads any tenant's schemas")
      val avail = req("GET", "/api/v1/schemas/available", null, acme: _*)
      assert(avail.statusCode() == 200)
      val aj = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(avail.body())
      assert(aj.get("schemas").size() == 8 &&
        aj.get("schemas").get(0).get("name").asText == "traces")
      // arrow raw SQL and the ops rewrite routes are admin-band: a
      // SCOPED key is rejected outright — a logs:write key could
      // otherwise SELECT across every signal via the arrow route and
      // trigger compaction rewrites, voiding "write scopes never read"
      val arrowScoped = req("GET",
        "/api/v1/arrow?sql=SELECT%201%20AS%20one", null, scoped: _*)
      assert(arrowScoped.statusCode() == 403 &&
        arrowScoped.body().contains("unscoped administrative credential"))
      val opsScoped = req("POST", "/api/v1/ops/compact/dry-run", "",
        scoped: _*)
      assert(opsScoped.statusCode() == 403 &&
        opsScoped.body().contains("unscoped administrative credential"))
      // …while admin and unscoped tenant keys still pass both routes
      assert(req("GET", "/api/v1/arrow?sql=SELECT%201%20AS%20one",
        null, admin: _*).statusCode() == 200)
      assert(req("GET", "/api/v1/arrow?sql=SELECT%201%20AS%20one",
        null, acme: _*).statusCode() == 200)
      assert(req("POST", "/api/v1/ops/compact/dry-run", "", admin: _*)
        .statusCode() == 200)
      // listing never exposes key material
      val listed = req("GET", "/api/v1/manage/tenants/acme/api-keys",
        null, acme: _*)
      assert(listed.statusCode() == 200 &&
        listed.body().contains("\"revoked\":false") &&
        !listed.body().contains(secret))
      // revocation is immediate: the key stops authenticating at all
      assert(req("DELETE", s"/api/v1/manage/tenants/acme/api-keys/$keyId",
        null, acme: _*).statusCode() == 204)
      assert(req("GET", "/api/echo", null, scoped: _*).statusCode() == 401)
      assert(req("GET", "/api/v1/manage/tenants/acme/api-keys", null, acme: _*)
        .body().contains("\"revoked\":true"))
      // a foreign-tenant revocation attempt cannot find the key
      assert(req("DELETE", s"/api/v1/manage/tenants/globex/api-keys/$keyId",
        null, admin: _*).statusCode() == 404)
      // whoami + tenant listing stay within the caller's tenant
      val who = req("GET", "/api/v1/whoami", null, acme: _*)
      assert(who.statusCode() == 200 &&
        who.body().contains(""""tenant":{"id":"acme"""") &&
        who.body().contains(""""memberships":[]"""))
      val tl = req("GET", "/api/v1/tenants", null, acme: _*)
      assert(tl.statusCode() == 200 &&
        tl.body().contains(""""tenant_id":"acme"""") &&
        !tl.body().contains("globex"))
      assert(req("GET", "/api/v1/tenants/globex", null, acme: _*)
        .statusCode() == 403)
      // the tenant's landed tables surface (tenant_api.rs list_tables)
      val tables = req("GET", "/api/v1/tenants/acme/tables", null, acme: _*)
      assert(tables.statusCode() == 200 &&
        tables.body().contains(""""name":"logs"""") &&
        tables.body().contains("OpenTelemetry log entries"))
      // dataset-bound key: valid only for its own dataset
      assert(req("POST", "/api/v1/manage/tenants/acme/datasets",
        """{"name":"other"}""", acme: _*).statusCode() == 201)
      val bound = req("POST", "/api/v1/manage/tenants/acme/api-keys",
        """{"scopes":["logs:write"],"dataset_id":"other"}""", acme: _*)
      assert(bound.statusCode() == 201)
      val boundSecret = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(bound.body()).get("key").asText
      val boundIng = req("POST", "/v1/logs", "x",
        "Authorization" -> s"Bearer $boundSecret", "x-tenant-id" -> "acme")
      assert(boundIng.statusCode() == 403 &&
        boundIng.body().contains("restricted to dataset"))
    } finally sh.stop()
  }

  test("oauth: RFC 8414 metadata and RFC 7591 DCR are public; pre-redirect validation is strict") {
    // run against an AUTH-ENABLED shell: these endpoints are public by
    // spec (oauth.rs:14), so no credentials anywhere in this test
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      apiKeys = Some(Map(HttpShell.hashApiKey("sk-x") -> "x")))
    val p = sh.start()
    def post(path: String, body: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val md = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$p/.well-known/oauth-authorization-server"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(md.statusCode() == 200)
      val doc = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(md.body())
      assert(doc.get("issuer").asText == s"http://127.0.0.1:$p")
      assert(doc.get("token_endpoint").asText.endsWith("/oauth/token"))
      assert(doc.get("code_challenge_methods_supported").get(0).asText == "S256")
      assert(doc.get("token_endpoint_auth_methods_supported").get(0).asText == "none")
      assert(doc.get("scopes_supported").size() == 4)
      // DCR: loopback http is allowed, a public client with no secret
      val reg = post("/oauth/register",
        """{"redirect_uris":["http://127.0.0.1:7777/cb","https://example.com/cb"],
          |"client_name":"mcp-probe","scope":"traces:read"}""".stripMargin)
      assert(reg.statusCode() == 201)
      val c = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(reg.body())
      assert(c.get("client_id").asText.nonEmpty)
      assert(c.get("token_endpoint_auth_method").asText == "none")
      assert(c.get("client_secret") == null, "public clients get no secret")
      // validation ladder, RFC 6749 §5.2 error shape
      val noUris = post("/oauth/register", """{"client_name":"x"}""")
      assert(noUris.statusCode() == 400 &&
        noUris.body().contains("invalid_redirect_uri"))
      val cleartext = post("/oauth/register",
        """{"redirect_uris":["http://evil.example.com/cb"]}""")
      assert(cleartext.statusCode() == 400 &&
        cleartext.body().contains("invalid_redirect_uri"))
      val longName = post("/oauth/register",
        s"""{"redirect_uris":["https://a.example/cb"],"client_name":"${"n" * 300}"}""")
      assert(longName.statusCode() == 400 &&
        longName.body().contains("invalid_client_metadata"))
      // /authorize validates client_id BEFORE anything redirects
      val authz = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$p/oauth/authorize?response_type=code"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(authz.statusCode() == 400 &&
        authz.body().contains("invalid_request"))
      val tok = post("/oauth/token", "grant_type=password")
      assert(tok.statusCode() == 400 &&
        tok.body().contains("unsupported_grant_type"))
    } finally sh.stop()
  }

  test("users, browser sessions, and the OAuth code flow end to end") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      apiKeys = Some(Map(HttpShell.hashApiKey("sk-acme") -> "acme")),
      adminApiKeys = Set(HttpShell.hashApiKey("sk-root")))
    val p = sh.start()
    def req(method: String, path: String, body: String,
        hdrs: (String, String)*): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
      hdrs.foreach { case (k, v) => b.header(k, v) }
      val pub = if (body == null) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body)
      client.send(b.method(method, pub).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    val admin = Seq("Authorization" -> "Bearer sk-root", "x-tenant-id" -> "ops")
    try {
      // ---- POST /users: admin-only, the reference's validation ladder
      assert(req("POST", "/users", """{"email":"e@x.io","password":"p",
        |"tenant":"acme"}""".stripMargin, admin: _*).statusCode() == 400)
      assert(req("POST", "/users",
        """{"email":"e@x.io","password":"longenough123","tenant":"nosuch"}""",
        admin: _*).statusCode() == 404)
      assert(req("POST", "/users",
        """{"email":"e@x.io","password":"longenough123","tenant":"acme","role":"czar"}""",
        admin: _*).statusCode() == 400)
      assert(req("POST", "/users",
        """{"email":"e@x.io","password":"longenough123","tenant":"acme"}""",
        "Authorization" -> "Bearer sk-acme", "x-tenant-id" -> "acme")
        .statusCode() == 403, "non-admin keys cannot create users")
      val created = req("POST", "/users",
        """{"email":"ada@example.com","display_name":"Ada",
          |"password":"correct horse battery staple","tenant":"acme",
          |"role":"member"}""".stripMargin, admin: _*)
      assert(created.statusCode() == 201, created.body())
      val u = om.readTree(created.body())
      assert(u.get("email").asText == "ada@example.com" &&
        !u.get("instance_admin").asBoolean && u.get("id").asText.nonEmpty)
      assert(created.body().contains("created_at") &&
        !created.body().contains("password"), "hash must never serialize")
      assert(req("POST", "/users",
        """{"email":"ada@example.com","password":"longenough123","tenant":"acme"}""",
        admin: _*).statusCode() == 409, "duplicate email is a conflict")
      // emails are canonicalized (trim + lowercase) on create AND lookup
      // — a case/whitespace variant is the SAME account, not a new one
      assert(req("POST", "/users",
        """{"email":" ADA@Example.COM ","password":"longenough123","tenant":"acme"}""",
        admin: _*).statusCode() == 409, "case variant must hit the same account")

      // ---- POST /ui/session: login sets the HttpOnly cookie
      assert(req("POST", "/ui/session",
        """{"email":"ada@example.com","password":"wrong"}""")
        .statusCode() == 401)
      assert(req("POST", "/ui/session",
        """{"email":"ghost@example.com","password":"whatever12345"}""")
        .statusCode() == 401)
      // login works on any case variant of the canonical email
      assert(req("POST", "/ui/session",
        """{"email":"ADA@EXAMPLE.COM","password":"correct horse battery staple"}""")
        .statusCode() == 200)
      val login = req("POST", "/ui/session",
        """{"email":"ada@example.com","password":"correct horse battery staple"}""")
      assert(login.statusCode() == 200, login.body())
      val lj = om.readTree(login.body())
      assert(lj.get("tenant").asText == "acme", "sole membership auto-selects")
      assert(lj.get("memberships").get(0).get("role").asText == "member")
      val setCookie = login.headers().firstValue("Set-Cookie").get
      assert(setCookie.startsWith("signaldb_session=sdbs_") &&
        setCookie.contains("HttpOnly"))
      val cookie = setCookie.split(";")(0)

      // ---- the session cookie authenticates query routes (with
      // X-Tenant-ID validated against membership)
      val q = req("GET", "/loki/api/v1/labels", null,
        "Cookie" -> cookie, "x-tenant-id" -> "acme")
      assert(q.statusCode() == 200, q.body())
      assert(req("GET", "/loki/api/v1/labels", null,
        "Cookie" -> cookie, "x-tenant-id" -> "globex").statusCode() == 403)
      assert(req("GET", "/loki/api/v1/labels", null,
        "Cookie" -> cookie).statusCode() == 401)
      // whoami carries the session's user + memberships
      val who = req("GET", "/api/v1/whoami", null,
        "Cookie" -> cookie, "x-tenant-id" -> "acme")
      assert(who.statusCode() == 200)
      val wj = om.readTree(who.body())
      assert(wj.get("user").get("email").asText == "ada@example.com")
      assert(wj.get("memberships").get(0).get("tenant_id").asText == "acme")

      // ---- OAuth code flow: register → authorize → consent → token
      val reg = req("POST", "/oauth/register",
        """{"redirect_uris":["http://127.0.0.1:7777/cb"],"client_name":"probe"}""")
      assert(reg.statusCode() == 201)
      val clientId = om.readTree(reg.body()).get("client_id").asText
      // RFC 7636 Appendix B PKCE pair
      val verifier = "dBjftJeZ4CVP-mB92K27uhbUJU1p1r_wW1gFWFOEjXk"
      val challenge = "E9Melhoa2OwvFrEMTJguCHaoeK1t8URWbuGJSstw-cM"
      val cb = "http://127.0.0.1:7777/cb"
      val cbEnc = java.net.URLEncoder.encode(cb, "UTF-8")
      // missing PKCE → error reported TO the (validated) redirect target
      val noPkce = req("GET", s"/oauth/authorize?response_type=code" +
        s"&client_id=$clientId&redirect_uri=$cbEnc&state=xyz", null)
      assert(noPkce.statusCode() == 302)
      assert(noPkce.headers().firstValue("Location").get
        .startsWith(s"$cb?error=invalid_request"))
      // a valid request bounces to the consent screen with the echo
      val authz = req("GET", s"/oauth/authorize?response_type=code" +
        s"&client_id=$clientId&redirect_uri=$cbEnc&state=xyz" +
        s"&code_challenge=$challenge&code_challenge_method=S256", null)
      assert(authz.statusCode() == 302)
      val loc = authz.headers().firstValue("Location").get
      assert(loc.startsWith("/oauth/consent?") && loc.contains("state=xyz"))
      // consent endpoints demand a session
      assert(req("GET", s"/oauth/consent/context?client_id=$clientId", null)
        .statusCode() == 401)
      val ctx = req("GET", s"/oauth/consent/context?client_id=$clientId",
        null, "Cookie" -> cookie)
      assert(ctx.statusCode() == 200 && ctx.body().contains("\"acme\""))
      // denial bounces back with access_denied, no code minted
      val denied = req("POST", "/oauth/authorize/decision",
        s"""{"client_id":"$clientId","redirect_uri":"$cb",
           |"code_challenge":"$challenge","tenant":"acme","state":"xyz",
           |"approved":false}""".stripMargin, "Cookie" -> cookie)
      assert(denied.statusCode() == 200 &&
        om.readTree(denied.body()).get("redirect").asText
          .contains("error=access_denied"))
      // a foreign tenant is not grantable
      assert(req("POST", "/oauth/authorize/decision",
        s"""{"client_id":"$clientId","redirect_uri":"$cb",
           |"code_challenge":"$challenge","tenant":"globex",
           |"approved":true}""".stripMargin, "Cookie" -> cookie)
        .statusCode() == 403)
      def mintCode(): String = {
        val ok = req("POST", "/oauth/authorize/decision",
          s"""{"client_id":"$clientId","redirect_uri":"$cb",
             |"code_challenge":"$challenge","tenant":"acme","state":"xyz",
             |"scope":"logs:read traces:read",
             |"approved":true}""".stripMargin, "Cookie" -> cookie)
        assert(ok.statusCode() == 200, ok.body())
        val redirect = om.readTree(ok.body()).get("redirect").asText
        assert(redirect.startsWith(s"$cb?code=sdb_ac_") &&
          redirect.contains("state=xyz"))
        redirect.split("code=")(1).split("&")(0)
      }
      // wrong verifier → invalid_grant (and burns the code: single-use)
      val code0 = mintCode()
      val badV = req("POST", "/oauth/token",
        s"grant_type=authorization_code&code=$code0&code_verifier=wrong" +
          s"&client_id=$clientId&redirect_uri=$cbEnc")
      assert(badV.statusCode() == 400 && badV.body().contains("invalid_grant"))
      // the real exchange
      val code = mintCode()
      val tok = req("POST", "/oauth/token",
        s"grant_type=authorization_code&code=$code&code_verifier=$verifier" +
          s"&client_id=$clientId&redirect_uri=$cbEnc")
      assert(tok.statusCode() == 200, tok.body())
      assert(tok.headers().firstValue("Cache-Control").get == "no-store")
      val tj = om.readTree(tok.body())
      assert(tj.get("access_token").asText.startsWith("sdb_at_"))
      assert(tj.get("token_type").asText == "Bearer")
      assert(tj.get("scope").asText == "logs:read traces:read")
      val refresh = tj.get("refresh_token").asText
      assert(refresh.startsWith("sdb_rt_"))
      // codes are SINGLE-USE
      assert(req("POST", "/oauth/token",
        s"grant_type=authorization_code&code=$code&code_verifier=$verifier" +
          s"&client_id=$clientId&redirect_uri=$cbEnc").statusCode() == 400)
      // the ACCESS TOKEN authenticates query routes with tenant and
      // scopes from the TOKEN RECORD (authenticator.rs:184): no
      // X-Tenant-ID needed, granted read scopes enforced, writes denied
      val at = tj.get("access_token").asText
      assert(req("GET", "/loki/api/v1/labels", null,
        "Authorization" -> s"Bearer $at").statusCode() == 200)
      assert(req("GET", "/prometheus/api/v1/labels", null,
        "Authorization" -> s"Bearer $at").statusCode() == 403,
        "metrics:read was not granted")
      assert(req("POST", "/v1/logs", "{}",
        "Authorization" -> s"Bearer $at").statusCode() == 403,
        "read scopes never grant ingest")
      assert(req("GET", "/loki/api/v1/labels", null,
        "Authorization" -> "Bearer sdb_at_forged").statusCode() == 401)
      // refresh rotation: the presented token works once
      val rot = req("POST", "/oauth/token",
        s"grant_type=refresh_token&refresh_token=$refresh&client_id=$clientId")
      assert(rot.statusCode() == 200, rot.body())
      assert(om.readTree(rot.body()).get("refresh_token").asText != refresh)
      assert(req("POST", "/oauth/token",
        s"grant_type=refresh_token&refresh_token=$refresh&client_id=$clientId")
        .statusCode() == 400, "rotated refresh tokens must not replay")

      // ---- revoked membership kills LIVE tokens at next use: the
      // authenticator re-resolves the user's CURRENT membership per
      // request (authenticator.rs:214-238) — neither the unexpired
      // access token nor the refresh chain survives the revocation
      val refresh2 = om.readTree(rot.body()).get("refresh_token").asText
      val adaId = u.get("id").asText
      sh.catalog.removeMembership(adaId, "acme")
      assert(req("GET", "/loki/api/v1/labels", null,
        "Authorization" -> s"Bearer $at").statusCode() == 403,
        "access token must lose access when the membership is revoked")
      val deadRot = req("POST", "/oauth/token",
        s"grant_type=refresh_token&refresh_token=$refresh2&client_id=$clientId")
      assert(deadRot.statusCode() == 400 &&
        deadRot.body().contains("invalid_grant"),
        "refresh rotation must re-check the membership")
      // restoring the membership restores the (still unexpired) token
      sh.catalog.upsertMembership(adaId, "acme", "member")
      assert(req("GET", "/loki/api/v1/labels", null,
        "Authorization" -> s"Bearer $at").statusCode() == 200)

      // ---- logout revokes the session and clears the cookie
      val out = req("DELETE", "/ui/session", null, "Cookie" -> cookie)
      assert(out.statusCode() == 204)
      assert(out.headers().firstValue("Set-Cookie").get.contains("Max-Age=0"))
      assert(req("GET", s"/oauth/consent/context?client_id=$clientId",
        null, "Cookie" -> cookie).statusCode() == 401)
      assert(req("GET", "/loki/api/v1/labels", null,
        "Cookie" -> cookie, "x-tenant-id" -> "acme").statusCode() == 401)
    } finally sh.stop()
  }

  test("catalog state survives a shell restart (atomic snapshot under _system)") {
    val base = graft.TestDirs.create("graft-http-persist").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    def mk() = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      ingest = Some(layout),
      apiKeys = Some(Map(HttpShell.hashApiKey("sk-acme") -> "acme")),
      adminApiKeys = Set(HttpShell.hashApiKey("sk-root")))
    def req(p: Int, method: String, path: String, body: String,
        hdrs: (String, String)*): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
      hdrs.foreach { case (k, v) => b.header(k, v) }
      val pub = if (body == null) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body)
      client.send(b.method(method, pub).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    val admin = Seq("Authorization" -> "Bearer sk-root", "x-tenant-id" -> "ops")
    val acme = Seq("Authorization" -> "Bearer sk-acme", "x-tenant-id" -> "acme")
    // first incarnation: create a tenant, mint a key
    val sh1 = mk(); val p1 = sh1.start()
    val secret =
      try {
        assert(req(p1, "POST", "/api/v1/manage/tenants",
          """{"id":"globex","name":"Globex"}""", admin: _*).statusCode() == 201)
        val minted = req(p1, "POST", "/api/v1/manage/tenants/acme/api-keys",
          """{"name":"survivor","scopes":["logs:write"]}""", acme: _*)
        assert(minted.statusCode() == 201)
        // a human user persists too (auth_state.json beside the catalog)
        assert(req(p1, "POST", "/users",
          """{"email":"sam@example.com","password":"persist me well!","tenant":"acme"}""",
          admin: _*).statusCode() == 201)
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(minted.body()).get("key").asText
      } finally sh1.stop()
    assert(new java.io.File(s"$base/_system/catalog.json").isFile)
    assert(new java.io.File(s"$base/_system/auth_state.json").isFile)
    // second incarnation over the same layout: the catalog replays
    val sh2 = mk(); val p2 = sh2.start()
    val keyId =
      try {
        // the minted key still authenticates
        assert(req(p2, "GET", "/api/echo", null,
          "Authorization" -> s"Bearer $secret", "x-tenant-id" -> "acme")
          .statusCode() == 200)
        // the created tenant is still taken
        assert(req(p2, "POST", "/api/v1/manage/tenants",
          """{"id":"globex","name":"Again"}""", admin: _*).statusCode() == 409)
        // revoke the key in THIS incarnation
        val listed = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(req(p2, "GET", "/api/v1/manage/tenants/acme/api-keys",
            null, acme: _*).body())
        val id = listed.get(0).get("id").asText
        assert(req(p2, "DELETE",
          s"/api/v1/manage/tenants/acme/api-keys/$id", null, acme: _*)
          .statusCode() == 204)
        id
      } finally sh2.stop()
    // third incarnation: the revocation tombstone persisted too, and the
    // user created two restarts ago still logs in (hash + membership
    // replayed from auth_state.json)
    val sh3 = mk(); val p3 = sh3.start()
    try {
      assert(req(p3, "GET", "/api/echo", null,
        "Authorization" -> s"Bearer $secret", "x-tenant-id" -> "acme")
        .statusCode() == 401)
      assert(req(p3, "GET", "/api/v1/manage/tenants/acme/api-keys",
        null, acme: _*).body().contains(s""""id":"$keyId""""))
      val login = req(p3, "POST", "/ui/session",
        """{"email":"sam@example.com","password":"persist me well!"}""")
      assert(login.statusCode() == 200, login.body())
      assert(login.body().contains(""""tenant":"acme""""))
    } finally sh3.stop()
  }

  test("ingest byte-rate limit: oversized burst answers 429, then refills") {
    val base = graft.TestDirs.create("graft-http-bytes").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val payload = logsPayload("svc-bytes", T0 * 1000000000L, 3)
    // budget: two payloads' worth per second
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L,
      ingest = Some(layout), ingestBytesPerSec = Some(payload.length * 2.0))
    val p = sh.start()
    try {
      assert(post(p, "/v1/logs", payload).statusCode() == 200)
      // a burst LARGER than the whole bucket can never be admitted, no
      // matter how much time refills it — deterministic 429
      val big = logsPayload("svc-bytes-big", T0 * 1000000000L, 40)
      assert(big.length > payload.length * 2, "fixture must exceed the burst")
      val rejected = post(p, "/v1/logs", big)
      assert(rejected.statusCode() == 429, rejected.body())
      assert(rejected.body().contains("ingest byte rate"))
      // nothing from the rejected request landed; in-budget posts keep
      // flowing
      assert(spark.read.parquet(layout.path("logs")).count() == 3)
      Thread.sleep(600)
      assert(post(p, "/v1/logs", payload).statusCode() == 200)
      assert(spark.read.parquet(layout.path("logs")).count() == 6)
    } finally sh.stop()
  }

  test("self-monitoring: requests dogfood into _system/_monitoring; anti-loop holds") {
    val base = graft.TestDirs.create("graft-http-selfmon").toString
    val layout = graft.storage.Storage.TableLayout(base, "acme", "prod")
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L, ingest = Some(layout))
    val p = sh.start()
    def getP(u: String, tenant: Option[String] = None) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$u")).GET()
      tenant.foreach(b.header("x-tenant-id", _))
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    try {
      assert(getP("/api/echo").statusCode() == 200)
      assert(getP("/prometheus/api/v1/labels").statusCode() == 200)
      // the anti-loop guard: _system's own traffic is never counted
      assert(getP("/api/echo", Some("_system")).statusCode() == 200)
      sh.flushSelfMetrics()
      val mon = spark.read.parquet(graft.storage.Storage
        .TableLayout(base, "_system", "_monitoring").path("metrics_gauge"))
      val rows = mon.filter(col("metric_name") === "http.server.request.duration")
        .selectExpr("attributes['http.route'] AS route",
          "attributes['http.status'] AS status", "value")
        .collect()
      val routes = rows.map(_.getString(0)).toSet
      assert(routes.contains("/api/echo") &&
        routes.contains("/prometheus/api/v1/labels"), routes.toString)
      assert(rows.forall(_.getString(1) == "200"))
      assert(rows.forall(_.getDouble(2) >= 0.0))
      // exactly the two counted requests, not three
      assert(rows.count(_.getString(0) == "/api/echo") == 1,
        "_system traffic must not dogfood (anti-loop)")
    } finally sh.stop()
  }

  test("shell stops cleanly") {
    // dedicated instance so the shared one stays up for other tests
    val sh = new HttpShell(spark, dir, nowNs = T1 * 1000000000L)
    val p = sh.start()
    assert(get("/health").statusCode() == 200) // shared one still fine
    sh.stop()
    intercept[java.io.IOException] {
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/health"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
    }
  }
}
