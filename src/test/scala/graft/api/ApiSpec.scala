package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** Envelope-shaping tests (reference router endpoint bodies): exact JSON
  * for small inputs, deterministic stream/series/value ordering.
  */
class ApiSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("loki streams envelope: one stream per label set, newest first") {
    import spark.implicits._
    val df = Seq(
      (1000000000L, "svc-a", "info", "l1"),
      (3000000000L, "svc-a", "info", "l3"),
      (2000000000L, "svc-b", "info", "l2"))
      .toDF("timestamp", "service_name", "severity_text", "body")
    val got = ApiJson.lokiStreams(df, Seq("service_name", "severity_text"))
    assert(got ==
      """{"status":"success","data":{"resultType":"streams","result":[""" +
        """{"stream":{"service_name":"svc-a","severity_text":"info"},""" +
        """"values":[["3000000000","l3"],["1000000000","l1"]]},""" +
        """{"stream":{"service_name":"svc-b","severity_text":"info"},""" +
        """"values":[["2000000000","l2"]]}]}}""")
  }

  test("loki tail frame: streams array without the query envelope") {
    import spark.implicits._
    val df = Seq((1000000000L, "svc-a", "info", "l1"))
      .toDF("timestamp", "service_name", "severity_text", "body")
    assert(ApiJson.lokiTailFrame(df, Seq("service_name", "severity_text")) ==
      """{"streams":[{"stream":{"service_name":"svc-a","severity_text":"info"},""" +
        """"values":[["1000000000","l1"]]}]}""")
  }

  test("prometheus matrix envelope: [sec, \"v\"] pairs in time order") {
    import spark.implicits._
    val df = Seq(
      (60L, "svc-a", 1.5),
      (0L, "svc-a", 1.0),
      (0L, "svc-b", 2.0))
      .toDF("bucket_start", "service_name", "value")
    val got = ApiJson.promMatrix(df, Seq("service_name"))
    assert(got ==
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"service_name":"svc-a"},"values":[[0,"1.0"],[60,"1.5"]]},""" +
        """{"metric":{"service_name":"svc-b"},"values":[[0,"2.0"]]}]}}""")
  }

  test("tempo search envelope: per-trace rollup, newest first, limited") {
    import spark.implicits._
    val df = Seq(
      ("t1", 1000000000L, "svc-a", 5L),
      ("t1", 3000000000L, "svc-b", 5L),
      ("t2", 9000000000L, "svc-c", 7L))
      .toDF("trace_id", "timestamp", "service_name", "duration_nanos")
    val got = ApiJson.tempoSearch(df, limit = 5)
    assert(got ==
      """{"traces":[""" +
        """{"traceID":"t2","rootServiceName":"svc-c","startTimeUnixNano":"9000000000","durationMs":0},""" +
        """{"traceID":"t1","rootServiceName":"svc-a","startTimeUnixNano":"1000000000","durationMs":2000}]}""")
  }

  test("tag-values, profile-types and traceql-metrics envelopes") {
    import spark.implicits._
    val tags = Seq("purchase", "a\"b").toDF("span_name")
    assert(ApiJson.tempoTagValues(tags) == """{"tagValues":["a\"b","purchase"]}""")

    val types = Seq(
      ("process_cpu:cpu:nanoseconds", 10L, 1000000000L, 2000000000L, 3L))
      .toDF("profile_type", "n_samples", "min_ts", "max_ts", "n_services")
    assert(ApiJson.profileTypes(types) ==
      """{"profileTypes":[{"id":"process_cpu:cpu:nanoseconds","samples":10,""" +
        """"minTime":1000,"maxTime":2000}]}""")

    val m = Seq((0L, "svc-a", 0.5)).toDF("bucket_start", "resource_service_name", "value")
    assert(ApiJson.traceqlMetricsMatrix(m, Seq("resource_service_name")) ==
      """{"status":"success","data":{"resultType":"matrix","result":[""" +
        """{"metric":{"resource_service_name":"svc-a"},"values":[[0,"0.5"]]}]}}""")
  }

  test("jstr escapes quotes, backslashes and control characters") {
    assert(ApiJson.jstr("""a"b""") == "\"a\\\"b\"")
    assert(ApiJson.jstr("""a\b""") == "\"a\\\\b\"")
    assert(ApiJson.jstr("a\nb\tc\rd") == "\"a\\nb\\tc\\rd\"")
    assert(ApiJson.jstr("a" + 1.toChar + "b") == "\"a\\u0001b\"")
    assert(ApiJson.jstr("plain") == "\"plain\"")
  }

  test("data-derived strings in tempo envelopes survive quotes/backslashes") {
    import spark.implicits._
    // root service name with a quote must produce valid JSON
    val df = Seq(("t\"1", 1000000000L, """svc\"x""", 5L))
      .toDF("trace_id", "timestamp", "service_name", "duration_nanos")
    val got = ApiJson.tempoSearch(df, limit = 5)
    assert(got ==
      """{"traces":[""" +
        """{"traceID":"t\"1","rootServiceName":"svc\\\"x",""" +
        """"startTimeUnixNano":"1000000000","durationMs":0}]}""")
  }
}
