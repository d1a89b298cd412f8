package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Flamegraph operators (reference: src/common/src/profile/aggregation.rs —
  * fold stack samples into a prefix tree; diff flamegraph; called from
  * src/querier/src/query/profile.rs:495-529).
  *
  * Instead of a driver-side trie fold, the prefix tree is RELATIONAL: each
  * stack [a,b,c] explodes into its prefixes [a], [a,b], [a,b,c]; a groupBy
  * on the prefix path aggregates node totals. That is a shuffle-parallel
  * flamegraph merge — at 100 TB the tree build distributes instead of
  * collecting samples to one node.
  */
object ProfileOps {
  type Q = (SparkSession, String) => DataFrame

  /** profiles view over events: a deterministic 3-frame stack per event,
    * carrying the gen-2 trace_id (Schemas.profiles has trace_id/span_id —
    * the trace↔profile correlation key, reference profile.rs). */
  private def samplesDf(s: SparkSession, dir: String): DataFrame =
    Tables.perEventsVersion(s, dir, "profileSamples")(Tables.events(s, dir).select(
      (unix_micros(col("ts_us")) * 1000).as("timestamp"),
      concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
      md5(concat(lit("tr-"), col("user_id"), lit("-"),
        expr("(unix_micros(ts_us) div 1000000) div 86400"))).as("trace_id"),
      array(
        lit("app"),
        col("event_type"),
        concat(lit("fn_"), pmod(get_json_object(col("props"), "$.k").cast("long"), lit(4))))
        .as("stack"),
      lit(1L).as("value")))

  private val samplesViewSql: String =
    """SELECT epoch_ns(ts) AS timestamp,
      |  concat('svc-', user_id % 8) AS service_name,
      |  md5(concat('tr-', user_id, '-', (epoch_us(ts)//1000000)//86400)) AS trace_id,
      |  ['app', event_type,
      |   concat('fn_', CAST(json_extract_string(props, '$.k') AS BIGINT) % 4)] AS stack,
      |  1 AS value
      |FROM events""".stripMargin

  /** explode a stack into its prefixes with depth. */
  private def prefixes(df: DataFrame): DataFrame =
    df.select(col("service_name"), col("timestamp"), col("value"),
      explode(expr(
        "transform(sequence(1, size(stack)), d -> array_join(slice(stack, 1, d), ';'))"))
        .as("path"))
      .withColumn("depth", size(split(col("path"), ";")))

  /** public fold for the render endpoints (reference pyroscope.rs
    * render): optional service selector + time window over the samples,
    * then the same one-aggregate prefix fold as q62. */
  def flamegraphFold(s: SparkSession, dir: String, service: Option[String],
      fromNs: Option[Long], untilNs: Option[Long]): DataFrame = {
    var df = samplesDf(s, dir)
    service.foreach(sv => df = df.filter(col("service_name") === sv))
    fromNs.foreach(f => df = df.filter(col("timestamp") >= f))
    untilNs.foreach(u => df = df.filter(col("timestamp") < u))
    prefixes(df)
      .groupBy(col("path"), col("depth")).agg(sum(col("value")).as("total"))
  }

  /** samples correlated to one trace (reference profiles_router
    * `/trace/{trace_id}`), folded. */
  def flamegraphForTrace(s: SparkSession, dir: String,
      traceId: String): DataFrame =
    prefixes(samplesDf(s, dir).filter(col("trace_id") === traceId))
      .groupBy(col("path"), col("depth")).agg(sum(col("value")).as("total"))

  val queries: Map[String, Q] = Map(
    // pprof INGEST → flamegraph fold, oracle-checked end to end: six
    // deterministic gzipped pprof uploads (Pprof.fixtureUpload — content
    // is a closed formula a DuckDB range-CTE restates independently)
    // decode on executors (narrow flatMap), stacks reverse to root-first,
    // and the q62 prefix fold produces node totals. Proves the decoder,
    // not just the fold: any drift in stack order, dedup, value columns,
    // or gzip handling breaks the hash.
    "q288_pprof_flamegraph" -> ((s, _) => {
      import s.implicits._
      val payloads = (for (svc <- 0 until 3; up <- 0 until 2)
        yield (graft.sources.Pprof.fixtureUpload(svc, up), s"svc-$svc"))
        .toDF("payload", "service_name")
      val rows = graft.sources.Pprof.profiles(payloads)
      val stacksT = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("frames",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("function_name",
                  org.apache.spark.sql.types.StringType))))))))
      val samplesT = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("stacktrace_index",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("values",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)))))
      rows.select(col("service_name"),
          from_json(col("stacktraces_json"), stacksT).as("stacks"),
          explode(from_json(col("samples_json"), samplesT)).as("sample"))
        .select(col("service_name"),
          expr("reverse(transform(stacks[sample.stacktrace_index].frames, f -> f.function_name))")
            .as("stack"),
          expr("aggregate(sample.values, 0L, (a, x) -> a + x)").as("value"))
        .select(col("service_name"), col("value"),
          explode(expr(
            "transform(sequence(1, size(stack)), d -> array_join(slice(stack, 1, d), ';'))"))
            .as("path"))
        .groupBy(col("service_name"), col("path"))
        .agg(sum(col("value")).as("total"))
    }),

    // flamegraph fold: prefix-tree node totals per service
    "q62_flamegraph_fold" -> ((s, dir) => {
      prefixes(samplesDf(s, dir))
        .groupBy(col("service_name"), col("path"), col("depth"))
        .agg(sum(col("value")).as("total"))
    }),

    // Pyroscope FOCUS view: re-root the flamegraph at a frame — keep
    // samples whose stack contains it, trim the prefix above it, fold
    // the subtree. Pure per-row array ops before the same one-aggregate
    // fold; no extra shuffle vs the full flamegraph.
    "q177_flamegraph_focus" -> ((s, dir) => {
      val focused = samplesDf(s, dir)
        .withColumn("_pos", array_position(col("stack"), "purchase"))
        .filter(col("_pos") > 0)
        .withColumn("stack",
          expr("slice(stack, CAST(_pos AS INT), size(stack) - CAST(_pos AS INT) + 1)"))
      prefixes(focused)
        .groupBy(col("service_name"), col("path"), col("depth"))
        .agg(sum(col("value")).as("total"))
    }),

    // Pyroscope discovery: /profile-types with per-type sample counts,
    // time bounds and service cardinality (reference
    // router/endpoints/pyroscope.rs:40 + querier profile.rs:234-400 —
    // the same distinct-discovery aggregate the logs/metrics paths run,
    // here over the profiles signal). One hash aggregate.
    "q147_profile_types" -> ((s, dir) => {
      Tables.events(s, dir).select(
        (unix_micros(col("ts_us")) * 1000).as("timestamp"),
        concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
        when(col("event_type").isin("purchase", "signup"), "process_cpu:cpu:nanoseconds")
          .when(col("event_type") === "error", "memory:alloc_space:bytes")
          .otherwise("goroutines:count").as("profile_type"))
        .groupBy(col("profile_type"))
        .agg(count(lit(1)).as("n_samples"),
          min(col("timestamp")).as("min_ts"),
          max(col("timestamp")).as("max_ts"),
          countDistinct(col("service_name")).as("n_services"))
    }),

    // diff flamegraph: totals of two halves of the month. ONE pass: a
    // conditional aggregate per half over a single prefix explosion — no
    // second scan and no full-outer join (a (path,depth) group with rows in
    // only one half gets 0 for the other, exactly the join's coalesce).
    "q63_flamegraph_diff" -> ((s, dir) => {
      val cut = 1705276800L * 1000000000L // 2024-01-15
      prefixes(samplesDf(s, dir))
        .groupBy(col("path"), col("depth"))
        .agg(
          coalesce(sum(when(col("timestamp") < cut, col("value"))), lit(0L)).as("total_a"),
          coalesce(sum(when(col("timestamp") >= cut, col("value"))), lit(0L)).as("total_b"))
        .withColumn("delta", col("total_b") - col("total_a"))
    }),

    // trace ↔ profile correlation: the flamegraph of ONE trace's samples,
    // keyed by the same gen-2 trace_id the stored trace table shards on
    "q97_profile_by_trace" -> ((s, dir) => {
      prefixes(samplesDf(s, dir)
        .filter(col("trace_id") === TraceOps.pointLookupId))
        .groupBy(col("path"), col("depth"))
        .agg(sum(col("value")).as("total"))
    })
  )

  val oracles: Map[String, String] = Map(
    // independent restatement of Pprof.fixtureUpload's closed formula:
    // per (svc 0..2, upload 0..1, j 0..3) one sample of value
    // (svc+1)*10 + j + up over stack root;mid;leaf_j
    "q288_pprof_flamegraph" ->
      """WITH g AS (
        |  SELECT s.i AS svc, u.i AS up, j.i AS j,
        |    (s.i + 1) * 10 + j.i + u.i AS value
        |  FROM range(0, 3) s(i), range(0, 2) u(i), range(0, 4) j(i)),
        |p AS (
        |  SELECT concat('svc-', svc) AS service_name,
        |    unnest(['root', 'root;mid', concat('root;mid;leaf_', j)]) AS path,
        |    value
        |  FROM g)
        |SELECT service_name, path, CAST(SUM(value) AS BIGINT) AS total
        |FROM p GROUP BY 1, 2""".stripMargin,

    "q147_profile_types" ->
      """SELECT CASE WHEN event_type IN ('purchase','signup') THEN 'process_cpu:cpu:nanoseconds'
        |            WHEN event_type = 'error' THEN 'memory:alloc_space:bytes'
        |            ELSE 'goroutines:count' END AS profile_type,
        |  COUNT(*) AS n_samples,
        |  MIN(epoch_ns(ts)) AS min_ts, MAX(epoch_ns(ts)) AS max_ts,
        |  COUNT(DISTINCT concat('svc-', user_id % 8)) AS n_services
        |FROM events GROUP BY 1""".stripMargin,

    "q62_flamegraph_fold" ->
      s"""WITH samples AS ($samplesViewSql),
         |pfx AS (
         |  SELECT service_name,
         |    array_to_string(stack[1:d], ';') AS path, d AS depth, value
         |  FROM samples, range(1, 4) r(d)
         |  WHERE d <= len(stack))
         |SELECT service_name, path, CAST(depth AS INTEGER) AS depth,
         |  CAST(SUM(value) AS BIGINT) AS total
         |FROM pfx GROUP BY 1, 2, 3""".stripMargin,

    "q177_flamegraph_focus" ->
      s"""WITH samples AS ($samplesViewSql),
         |f AS (
         |  SELECT service_name,
         |    stack[list_position(stack, 'purchase'):] AS stack, value
         |  FROM samples WHERE list_position(stack, 'purchase') > 0),
         |pfx AS (
         |  SELECT service_name,
         |    array_to_string(stack[1:d], ';') AS path, d AS depth, value
         |  FROM f, range(1, 4) r(d)
         |  WHERE d <= len(stack))
         |SELECT service_name, path, CAST(depth AS INTEGER) AS depth,
         |  CAST(SUM(value) AS BIGINT) AS total
         |FROM pfx GROUP BY 1, 2, 3""".stripMargin,

    "q97_profile_by_trace" ->
      s"""WITH samples AS ($samplesViewSql),
         |pfx AS (
         |  SELECT array_to_string(stack[1:d], ';') AS path, d AS depth, value
         |  FROM samples, range(1, 4) r(d)
         |  WHERE d <= len(stack) AND trace_id = '${TraceOps.pointLookupId}')
         |SELECT path, CAST(depth AS INTEGER) AS depth,
         |  CAST(SUM(value) AS BIGINT) AS total
         |FROM pfx GROUP BY 1, 2""".stripMargin,

    "q63_flamegraph_diff" ->
      s"""WITH samples AS ($samplesViewSql),
         |pfx AS (
         |  SELECT timestamp,
         |    array_to_string(stack[1:d], ';') AS path, d AS depth, value
         |  FROM samples, range(1, 4) r(d)
         |  WHERE d <= len(stack)),
         |a AS (SELECT path, depth, CAST(SUM(value) AS BIGINT) AS total_a
         |      FROM pfx WHERE timestamp < ${1705276800L * 1000000000L}
         |      GROUP BY 1, 2),
         |b AS (SELECT path, depth, CAST(SUM(value) AS BIGINT) AS total_b
         |      FROM pfx WHERE timestamp >= ${1705276800L * 1000000000L}
         |      GROUP BY 1, 2)
         |SELECT coalesce(a.path, b.path) AS path,
         |  CAST(coalesce(a.depth, b.depth) AS INTEGER) AS depth,
         |  coalesce(total_a, 0) AS total_a, coalesce(total_b, 0) AS total_b,
         |  coalesce(total_b, 0) - coalesce(total_a, 0) AS delta
         |FROM a FULL OUTER JOIN b ON a.path = b.path AND a.depth = b.depth""".stripMargin
  )
}
