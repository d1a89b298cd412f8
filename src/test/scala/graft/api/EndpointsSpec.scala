package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Endpoints.HttpError

/** The router param-parsing layer (reference endpoints/{logql,promql,
  * tempo}.rs): raw query strings in, wire envelopes (or the 4xx the
  * reference would return) out — everything a server does except listen
  * on a socket. */
class EndpointsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"
  private val T0 = 1704067200L
  private val T1 = 1706745600L

  test("query strings parse with URL decoding; last key wins") {
    val p = Endpoints.parseQuery(
      "?query=%7Bservice_name%3D%22svc-1%22%7D&limit=10&limit=20&flag")
    assert(p("query") == """{service_name="svc-1"}""")
    assert(p("limit") == "20")
    assert(p("flag") == "")
  }

  test("time and duration parsing: nanos, float seconds, RFC3339, durations") {
    assert(Endpoints.parseLokiNs("1704067200000000000", "t") == T0 * 1000000000L)
    assert(Endpoints.parseLokiNs("1704067200.5", "t") == T0 * 1000000000L + 500000000L)
    assert(Endpoints.parseLokiNs("2024-01-01T00:00:00Z", "t") == T0 * 1000000000L)
    assert(Endpoints.parsePromSec("1704067200.9", "t") == T0)
    assert(Endpoints.parsePromSec("2024-01-01T00:00:00Z", "t") == T0)
    assert(Endpoints.parseDurationSec("1m30s", "step") == 90L)
    assert(Endpoints.parseDurationSec("86400", "step") == 86400L)
    intercept[HttpError](Endpoints.parseDurationSec("500ms", "step"))
    intercept[HttpError](Endpoints.parseLokiNs("not-a-time", "t"))
  }

  test("Loki query_range: line query → streams envelope, defaults applied") {
    val qs = s"query=%7Bseverity_text%3D%22error%22%7D&start=${T0}000000000" +
      s"&end=${T1}000000000&limit=5"
    val body = Endpoints.lokiQueryRange(spark, dir, qs, nowNs = T1 * 1000000000L)
    assert(body.contains(""""resultType":"streams""""))
    assert(body.contains(""""severity_text":"error""""))
    // limit honored: at most 5 entries across streams
    assert(""""\d{19}"""".r.findAllIn(body).size <= 5)
  }

  test("Loki query_range: metric query → matrix envelope") {
    val q = java.net.URLEncoder.encode(
      """sum by (service_name) (count_over_time({severity_text="error"}[1d]))""",
      "UTF-8")
    val body = Endpoints.lokiQueryRange(spark, dir,
      s"query=$q&start=${T0}000000000&end=${T1}000000000",
      nowNs = T1 * 1000000000L)
    assert(body.contains(""""resultType":"matrix""""))
    assert(body.contains(""""service_name":"svc-"""))
  }

  test("Loki query_range: the 4xx surface") {
    val now = T1 * 1000000000L
    intercept[HttpError](Endpoints.lokiQueryRange(spark, dir, "", now))
    assert(intercept[HttpError](Endpoints.lokiQueryRange(spark, dir,
      s"query=%7Ba%3D%22x%22%7D&start=${T1}000000000&end=${T0}000000000", now))
      .status == 400)
    assert(intercept[HttpError](Endpoints.lokiQueryRange(spark, dir,
      "query=%7Ba%3D%22x%22%7D&direction=sideways", now)).status == 400)
    assert(intercept[HttpError](Endpoints.lokiQueryRange(spark, dir,
      "query=%7Ba%3D%22x%22%7D&limit=99999", now)).status == 400)
    assert(intercept[HttpError](Endpoints.lokiQueryRange(spark, dir,
      "query=%7Bbroken", now)).status == 400)
  }

  test("Prometheus query_range → matrix; missing params and bad step 400") {
    val q = java.net.URLEncoder.encode(
      """sum by (service_name) (count_over_time(error[1d]))""", "UTF-8")
    val body = Endpoints.promQueryRange(spark, dir,
      s"query=$q&start=$T0&end=${T1 - 1}&step=1d")
    assert(body.contains(""""resultType":"matrix""""))
    assert(body.contains(""""service_name":"svc-"""))
    assert(intercept[HttpError](Endpoints.promQueryRange(spark, dir,
      s"query=$q&start=$T0&end=$T1")).message.contains("step"))
    assert(intercept[HttpError](Endpoints.promQueryRange(spark, dir,
      s"query=$q&start=$T0&end=$T1&step=1s")).message.contains("11000"))
    assert(intercept[HttpError](Endpoints.promQueryRange(spark, dir,
      s"query=broken%28&start=$T0&end=$T1&step=1d")).status == 400)
  }

  test("Prometheus instant query → vector envelope at the pinned time") {
    // vector(42) always yields one series on the evaluation spine — the
    // envelope shape is the thing under test, not data density
    val q = java.net.URLEncoder.encode("""vector(42)""", "UTF-8")
    val time = T0 + 86400L
    val body = Endpoints.promInstantQuery(spark, dir, s"query=$q&time=$time", nowSec = T1)
    assert(body.contains(""""resultType":"vector""""))
    assert(body.contains(s""""value":[$time,"42"""))
  }

  test("Tempo search: TraceQL q and logfmt tags both serve the envelope") {
    val q = java.net.URLEncoder.encode("""{ status = "ERROR" }""", "UTF-8")
    val byQ = Endpoints.tempoSearch(spark, dir, s"q=$q&limit=3")
    assert(byQ.contains(""""traces":["""))
    assert(byQ.split("\"traceID\"").length - 1 <= 3)
    val byTags = Endpoints.tempoSearch(spark, dir,
      "tags=" + java.net.URLEncoder.encode("status=ERROR", "UTF-8") + "&limit=3")
    assert(byTags.split("\"traceID\"").length - 1 <= 3)
    assert(intercept[HttpError](Endpoints.tempoSearch(spark, dir, "limit=3"))
      .status == 400)
  }

  test("Tempo tag values: known tag lists, unknown tag 404s") {
    val body = Endpoints.tempoTagValues(spark, dir, "service_name")
    assert(body.contains(""""tagValues":["""))
    assert(body.contains("svc-0"))
    assert(intercept[HttpError](
      Endpoints.tempoTagValues(spark, dir, "nope")).status == 404)
  }

  test("Tempo v2 tag values: scoped resolution, intrinsic status, honest 501") {
    // all three scope spellings of service.name resolve to the same
    // stored column, and the v2 envelope repeats the scoped tag
    val r = Endpoints.tempoTagValuesV2(spark, dir, "resource.service.name")
    assert(r.contains(""""tag":"resource.service.name","value":"svc-0""""))
    val bare = Endpoints.tempoTagValuesV2(spark, dir, ".service.name")
    assert(bare.contains(""""value":"svc-0""""))
    val spanName = Endpoints.tempoTagValuesV2(spark, dir, "span.name")
    assert(spanName.contains(""""tagValues":[{"tag":"span.name""""))
    // intrinsic status answers the fixed triple without a scan
    assert(Endpoints.tempoTagValuesV2(spark, dir, "status") ==
      """{"tagValues":[{"tag":"status","value":"ok"},""" +
        """{"tag":"status","value":"error"},{"tag":"status","value":"unset"}]}""")
    // unindexed attribute tags are an honest 501, not an empty list
    assert(intercept[HttpError](
      Endpoints.tempoTagValuesV2(spark, dir, "span.http.method")).status == 501)
  }
}
