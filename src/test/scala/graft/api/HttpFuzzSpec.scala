package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

/** HTTP param-layer fuzz: every served route hit with randomized query
  * strings (wrong types, huge numbers, empty values, percent-noise,
  * unparseable queries) must ANSWER — a status in 200..599 with a body
  * — never hang the exchange or kill the server. Error statuses carry
  * the JSON error envelope. This is the last trust boundary above the
  * parser/decoder fuzz suites: the reference's routers face the same
  * unauthenticated query strings. */
class HttpFuzzSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private lazy val (shell, port) = {
    val sh = new HttpShell(spark, "/root/testdata/sf0.001",
      nowNs = 1706745600L * 1000000000L)
    (sh, sh.start())
  }
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private val paths = Seq(
    "/loki/api/v1/query_range", "/loki/api/v1/query", "/loki/api/v1/labels",
    "/loki/api/v1/label/x/values", "/loki/api/v1/series",
    "/loki/api/v1/index/volume", "/loki/api/v1/detected_fields",
    "/prometheus/api/v1/query", "/prometheus/api/v1/query_range",
    "/prometheus/api/v1/series", "/prometheus/api/v1/labels",
    "/api/search", "/api/search/tags", "/api/search/tag/zz/values",
    "/api/v2/search/tag/span.zz/values", "/api/traces/ff00",
    "/api/metrics/query", "/api/metrics/query_range",
    "/pyroscope/render", "/pyroscope/render-diff",
    "/pyroscope/label-values", "/api/profiles/trace/ff00",
    "/api/v1/whoami", "/api/v1/tenants", "/iceberg/v1/namespaces")

  private val keys = Seq("query", "start", "end", "step", "limit", "time",
    "since", "direction", "q", "from", "until", "label", "tag", "format")
  private val vals = Seq("", "{", "now)", "-1", "99999999999999999999",
    "1e309", "NaN", "%ff%00", "🙂", "5m", "{job=\"", "rate(", "\"", "null",
    "' OR 1=1 --", "[[[[", "9".repeat(400))

  test("600 fuzzed requests: every exchange answers, the server survives") {
    val rnd = new scala.util.Random(123L)
    for (i <- 0 until 600) {
      val p = paths(rnd.nextInt(paths.length))
      val qs = (0 to rnd.nextInt(4)).map { _ =>
        val k = keys(rnd.nextInt(keys.length))
        val v = java.net.URLEncoder.encode(vals(rnd.nextInt(vals.length)), "UTF-8")
        s"$k=$v"
      }.mkString("&")
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p?$qs"))
          .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() >= 200 && r.statusCode() < 600,
        s"#$i $p?$qs → ${r.statusCode()}")
      if (r.statusCode() >= 400)
        assert(r.body().startsWith("""{"status":"error""""),
          s"#$i $p?$qs error body not enveloped: ${r.body().take(120)}")
    }
    // the shell still serves normally after the barrage
    val ok = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(ok.statusCode() == 200)
  }

  test("garbage POST bodies on every write route answer without ingest configured") {
    val rnd = new scala.util.Random(5L)
    for (p <- Seq("/v1/logs", "/v1/traces", "/v1/metrics",
        "/v1development/profiles", "/api/v1/write", "/ingest?name=x",
        "/api/v1/query", "/api/v1/arrow", "/oauth/register", "/oauth/token")) {
      val body = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
          .timeout(java.time.Duration.ofSeconds(60))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() >= 400 && r.statusCode() < 600,
        s"$p with garbage → ${r.statusCode()} ${r.body().take(80)}")
    }
  }
}
