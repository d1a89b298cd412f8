package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ir.{Json, Lowering}
import graft.ir.Lowering.IrTable

/** Query IR end-to-end entries: JSON documents → parse → validate →
  * DataFrame lowering over the events table (SURVEY §2.2 IR predicate
  * tree, §2.4 IR aggregate, §2.6 order/topk/limit, §2.10 ir_extract).
  */
object IROps {
  type Q = (SparkSession, String) => DataFrame

  /** server-stamped now for deterministic relative time (reference
    * query/mod.rs:33-46): 2024-02-01T00:00:00Z. */
  private val NowNs = 1706745600L * 1000000000L

  private[graft] def irTable(s: SparkSession, dir: String): IrTable =
    Tables.perEventsVersion(s, dir, "irTable")(IrTable(
      df = Tables.events(s, dir).select(
        (unix_micros(col("ts_us")) * 1000).as("ts"),
        col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props")),
      timeField = "ts",
      promoted = Map(
        "event_id" -> "event_id", "user_id" -> "user_id",
        "event_type" -> "event_type", "value" -> "value", "props" -> "props"),
      attrSource = Some("props")))

  private def q(doc: String): Q = (s, dir) =>
    Lowering.lower(Json.parseDocument(doc, NowNs), irTable(s, dir))

  /** with the source registry, so `correlate` sub-documents resolve. */
  private def qc(doc: String): Q = (s, dir) =>
    Lowering.lower(Json.parseDocument(doc, NowNs), irTable(s, dir),
      Map("events" -> irTable(s, dir)))

  /** logfmt-shaped view: line = "k=<k> svc=svc-<user_id%8>". */
  private def logfmtTable(s: SparkSession, dir: String): IrTable = {
    val base = irTable(s, dir)
    base.copy(df = base.df.withColumn("line",
      concat(lit("k="), get_json_object(col("props"), "$.k"),
        lit(" svc=svc-"), pmod(col("user_id"), lit(8)))))
  }

  val queries: Map[String, Q] = Map(
    // full predicate tree: and/or/not, in, between, contains, regex,
    // exists, with numeric coercion on the json attr `k`
    "q55_ir_predicate_tree" -> q(
      """{"irVersion":1,"from":"events",
        |"range":{"start":"2024-01-03T00:00:00Z","end":"now-7d"},
        |"pipeline":[
        |  {"stage":"filter","predicate":{"op":"and","args":[
        |    {"op":"or","args":[
        |      {"op":"in","field":"event_type","values":["error","click"]},
        |      {"op":"gte","field":"k","value":90}]},
        |    {"op":"not","arg":{"op":"between","field":"value","lo":100,"hi":200}},
        |    {"op":"contains","field":"props","value":"\"k\""},
        |    {"op":"regex","field":"event_type","value":"^(?:err|cli|vi)"},
        |    {"op":"exists","field":"k"}]}}],
        |"fields":["event_id","event_type","value"]}""".stripMargin),

    // aggregate stage: step bucket + by, count/min/max + integer sum over
    // an extracted attr
    "q56_ir_aggregate" -> q(
      """{"irVersion":1,"from":"events",
        |"range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |"pipeline":[
        |  {"stage":"extract","source":"props","parser":"json","key":"k",
        |   "as":"k","cast":"int64"},
        |  {"stage":"aggregate","by":["event_type"],"step":"1d",
        |   "aggs":{"n":{"op":"count"},
        |           "min_v":{"op":"min","field":"value"},
        |           "max_v":{"op":"max","field":"value"},
        |           "sum_k":{"op":"sum","field":"k"},
        |           "p50_k":{"op":"quantile","field":"k","p":0.5}}}]}""".stripMargin),

    // topk (sort+limit row form) on a unique key + order + select
    "q57_ir_topk" -> q(
      """{"irVersion":1,"from":"events",
        |"range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |"pipeline":[
        |  {"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"purchase"}},
        |  {"stage":"topk","field":"event_id","k":50},
        |  {"stage":"order","keys":[{"field":"event_id","dir":"desc"}]},
        |  {"stage":"select","fields":["event_id","value"]}]}""".stripMargin),

    // logfmt ir_extract with typed cast + downstream numeric filter
    "q58_ir_extract_logfmt" -> ((s, dir) =>
      Lowering.lower(Json.parseDocument(
        """{"irVersion":1,"from":"events",
          |"range":{"start":"2024-01-01T00:00:00Z","end":"now"},
          |"pipeline":[
          |  {"stage":"extract","source":"line","parser":"logfmt","key":"k",
          |   "as":"kv","cast":"int64"},
          |  {"stage":"extract","source":"line","parser":"logfmt","key":"svc",
          |   "as":"svc","cast":"string"},
          |  {"stage":"filter","predicate":{"op":"and","args":[
          |    {"op":"gte","field":"kv","value":40},
          |    {"op":"in","field":"svc","values":["svc-1","svc-2","svc-3"]}]}},
          |  {"stage":"select","fields":["event_id","kv","svc"]}]}""".stripMargin,
        NowNs), logfmtTable(s, dir))),

    // cross-signal correlate (semi): purchases of users who ALSO had an
    // error in the window — the IR-as-DAG stage the reference's roadmap
    // defers (querying-ir.md:213-222)
    "q154_ir_correlate_semi" -> qc(
      """{"irVersion":1,"from":"events",
        |"range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |"pipeline":[
        |  {"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"purchase"}},
        |  {"stage":"correlate","kind":"semi","on":["user_id"],
        |   "query":{"from":"events",
        |     "range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |     "pipeline":[
        |       {"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"error"}}]}},
        |  {"stage":"aggregate","by":["user_id"],
        |   "aggs":{"n":{"op":"count"},"maxv":{"op":"max","field":"value"}}}]}""".stripMargin),

    // correlate (inner): right payload columns arrive `right_`-prefixed
    // and aggregate like any field
    "q155_ir_correlate_inner" -> qc(
      """{"irVersion":1,"from":"events",
        |"range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |"pipeline":[
        |  {"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"purchase"}},
        |  {"stage":"correlate","kind":"inner","on":["user_id"],
        |   "query":{"from":"events",
        |     "range":{"start":"2024-01-01T00:00:00Z","end":"now"},
        |     "pipeline":[
        |       {"stage":"filter","predicate":{"op":"eq","field":"event_type","value":"error"}},
        |       {"stage":"select","fields":["user_id","value"]}]}},
        |  {"stage":"aggregate","by":["user_id"],
        |   "aggs":{"pairs":{"op":"count"},"max_err_value":{"op":"max","field":"right_value"}}}]}""".stripMargin)
  )

  val oracles: Map[String, String] = Map(
    "q154_ir_correlate_semi" ->
      """SELECT user_id, COUNT(*) AS n, MAX(value) AS maxv
        |FROM events p
        |WHERE event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM events e
        |    WHERE e.event_type = 'error' AND e.user_id = p.user_id
        |      AND e.ts >= TIMESTAMP '2024-01-01 00:00:00' AND e.ts < TIMESTAMP '2024-02-01 00:00:00')
        |GROUP BY 1""".stripMargin,

    "q155_ir_correlate_inner" ->
      """SELECT p.user_id, COUNT(*) AS pairs, MAX(e.value) AS max_err_value
        |FROM events p
        |JOIN events e ON e.user_id = p.user_id AND e.event_type = 'error'
        |  AND e.ts >= TIMESTAMP '2024-01-01 00:00:00' AND e.ts < TIMESTAMP '2024-02-01 00:00:00'
        |WHERE p.event_type = 'purchase'
        |  AND p.ts >= TIMESTAMP '2024-01-01 00:00:00' AND p.ts < TIMESTAMP '2024-02-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    // range: [2024-01-03, now-7d) with now = 2024-02-01 → end 2024-01-25
    "q55_ir_predicate_tree" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |  AND (event_type IN ('error','click')
        |       OR CAST(json_extract_string(props, '$.k') AS DOUBLE) >= 90)
        |  AND NOT (value >= 100 AND value <= 200)
        |  AND contains(props, '"k"')
        |  AND regexp_matches(event_type, '^(?:err|cli|vi)')
        |  AND json_extract_string(props, '$.k') IS NOT NULL""".stripMargin,

    "q56_ir_aggregate" ->
      """SELECT (epoch_ns(ts)//1000000000//86400)*86400 AS bucket_start,
        |  event_type, COUNT(*) AS n,
        |  MIN(value) AS min_v, MAX(value) AS max_v,
        |  SUM(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS sum_k,
        |  quantile_cont(CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.5) AS p50_k
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q57_ir_topk" ->
      """SELECT event_id, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY event_id DESC LIMIT 50""".stripMargin,

    "q58_ir_extract_logfmt" ->
      """WITH l AS (
        |  SELECT event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv,
        |    concat('svc-', user_id % 8) AS svc
        |  FROM events)
        |SELECT event_id, kv, svc FROM l
        |WHERE kv >= 40 AND svc IN ('svc-1','svc-2','svc-3')""".stripMargin
  )
}
