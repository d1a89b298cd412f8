package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side envelopes against the distributed shaping they
  * replaced (kept here as a test-local reference): byte-identical bodies
  * on hostile inputs, also when shaped in the interpreted session the
  * HTTP shell serves from, and a served request runs no more Spark jobs
  * than collecting its lowered frame. */
class EnvelopeParitySpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val dir = "/root/testdata/sf0.001"
  private val T0 = 1704067200L

  // ---- reference: the distributed shaping (groupBy + sort_array + orderBy)

  private object Distributed {
    private def labelObject(labelCols: Seq[String]) =
      to_json(map_from_arrays(
        array(labelCols.map(lit(_)): _*),
        array(labelCols.map(c => col(c).cast("string")): _*)))

    def lokiStreams(df: DataFrame, labelCols: Seq[String]): String = {
      val entries = df
        .groupBy(labelObject(labelCols).as("_stream"))
        .agg(sort_array(collect_list(struct(
          (lit(Long.MaxValue) - col("timestamp")).as("_ord"),
          col("timestamp").cast("string").as("ts"),
          col("body").as("line"))), asc = true).as("_vs"))
        .select(col("_stream"),
          to_json(expr("transform(_vs, v -> array(v.ts, v.line))")).as("_values"))
        .orderBy(col("_stream"))
        .collect()
      val streams = entries.map(r => s"""{"stream":${r.getString(0)},"values":${r.getString(1)}}""")
      s"""{"status":"success","data":{"resultType":"streams","result":[${streams.mkString(",")}]}}"""
    }

    def promMatrix(df: DataFrame, labelCols: Seq[String]): String = {
      val entries = df
        .groupBy(labelObject(labelCols).as("_metric"))
        .agg(sort_array(collect_list(struct(
          col("bucket_start").cast("long").as("t"),
          col("value").cast("string").as("v"))), asc = true).as("_vs"))
        .select(col("_metric"),
          to_json(expr("transform(_vs, x -> array(cast(x.t as string), x.v))")).as("_values"))
        .orderBy(col("_metric"))
        .collect()
      val series = entries.map { r =>
        val vals = r.getString(1).replaceAll("""\["(\-?\d+)",""", "[$1,")
        s"""{"metric":${r.getString(0)},"values":$vals}"""
      }
      s"""{"status":"success","data":{"resultType":"matrix","result":[${series.mkString(",")}]}}"""
    }

    def promVector(df: DataFrame, labelCols: Seq[String], timeSec: Long): String = {
      val entries = df
        .groupBy(labelObject(labelCols).as("_metric"))
        .agg(max_by(col("value").cast("string"), col("bucket_start")).as("_v"))
        .orderBy(col("_metric"))
        .collect()
      val series = entries.map { r =>
        s"""{"metric":${r.getString(0)},"value":[$timeSec,"${r.getString(1)}"]}"""
      }
      s"""{"status":"success","data":{"resultType":"vector","result":[${series.mkString(",")}]}}"""
    }

    def seriesResponse(df: DataFrame, labelCols: Seq[String]): String = {
      val rows = df.select(labelObject(labelCols).as("m"))
        .orderBy(col("m")).collect().map(_.getString(0))
      s"""{"status":"success","data":[${rows.mkString(",")}]}"""
    }

    def tempoTagValues(df: DataFrame): String = {
      val vals = df.orderBy(df.columns.map(col): _*).collect()
        .map(r => ApiJson.jstr(r.getString(0)))
      s"""{"tagValues":[${vals.mkString(",")}]}"""
    }

    def labelNames(df: DataFrame, fixed: Seq[String]): String = {
      val s = df.sparkSession
      val all = df.union(s.createDataFrame(s.sparkContext.parallelize(fixed.map(Row(_))), df.schema))
      ApiJson.labelsResponse(all.distinct().orderBy(col("label")).collect().map(_.getString(0)).toSeq)
    }

    def profileTypes(df: DataFrame): String = {
      val rows = df.orderBy(col("profile_type")).collect().map { r =>
        s"""{"id":${ApiJson.jstr(r.getString(0))},"samples":${r.getLong(1)},""" +
          s""""minTime":${r.getLong(2) / 1000000L},"maxTime":${r.getLong(3) / 1000000L}}"""
      }
      s"""{"profileTypes":[${rows.mkString(",")}]}"""
    }
  }

  // ---- hostile strings: JSON escapes, control characters, characters
  // beyond the BMP next to U+E000..U+FFFF (UTF-8 and UTF-16 order differ)
  private val hostile = Seq(
    "plain", "q\"uote", "back\\slash", "bs\b", "ff\f", "nl\n", "tab\t", "ctl\u0001\u001f",
    "emoji\uD83D\uDE00", "pua\uE000", "full\uFF21", "\uFFFD", "\uD83D\uDE00", "\uE000", "",
    "\u00e9", "z")

  private def frame(schema: StructType, rows: Seq[Row], s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)

  private val logSchema = StructType(Seq(
    StructField("timestamp", LongType), StructField("service_name", StringType),
    StructField("severity_text", StringType), StructField("body", StringType)))

  private val vecSchema = StructType(Seq(
    StructField("bucket_start", LongType), StructField("service_name", StringType),
    StructField("value", DoubleType)))

  private val labels = Seq("service_name", "severity_text")

  /** the session an `HttpShell` answers its read routes from */
  private lazy val servedSession = new HttpShell(spark, dir, 0L).served

  // each hostile case shapes its envelopes from frames of session `s`
  // and compares them with the reference on the test session

  private def streamsCase(s: SparkSession): Unit = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      // few timestamps, so many lines tie on time within a stream
      Row(1000000000L * rnd.nextInt(6),
        hostile(rnd.nextInt(hostile.size)),
        if (i % 11 == 0) null else hostile(rnd.nextInt(4)),
        if (i % 7 == 0) null else hostile(rnd.nextInt(hostile.size)) + (i % 3))
    }
    val (df, ref) = (frame(logSchema, rows, s), frame(logSchema, rows, spark))
    assert(ApiJson.lokiStreams(df, labels) == Distributed.lokiStreams(ref, labels))
    assert(ApiJson.lokiStreams(df, Seq("body")) == Distributed.lokiStreams(ref, Seq("body")))
    val empty = frame(logSchema, Nil, s)
    assert(ApiJson.lokiStreams(empty, labels) == Distributed.lokiStreams(frame(logSchema, Nil, spark), labels))
    assert(ApiJson.lokiStreams(empty, labels).endsWith(""""result":[]}}"""))
  }

  private def matrixCase(s: SparkSession): Unit = {
    val rnd = new scala.util.Random(11)
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, 1e-300, 1.5e300, -2.5)
    val rows = (0 until 300).map { i =>
      Row(if (i % 13 == 0) null else java.lang.Long.valueOf(60L * rnd.nextInt(5) - 60),
        if (i % 17 == 0) null else hostile(rnd.nextInt(hostile.size)),
        if (i % 19 == 0) null else java.lang.Double.valueOf(
          if (i % 2 == 0) special(rnd.nextInt(special.size)) else rnd.nextInt(100) / 4.0))
    }
    val (df, ref) = (frame(vecSchema, rows, s), frame(vecSchema, rows, spark))
    val by = Seq("service_name")
    assert(ApiJson.promMatrix(df, by) == Distributed.promMatrix(ref, by))
    assert(ApiJson.promMatrix(df, Nil) == Distributed.promMatrix(ref, Nil))
    // one row per (series, bucket): max_by never meets a tie
    val vecRows = hostile.zipWithIndex.flatMap { case (h, i) =>
      Seq(Row(0L, h, special(i % special.size)), Row(300L, h, i / 3.0),
        Row(null, h, 9.0), Row(-300L, h, null))
    } :+ Row(null, "undated", 1.0)
    assert(ApiJson.promVector(frame(vecSchema, vecRows, s), by, 42L) ==
      Distributed.promVector(frame(vecSchema, vecRows, spark), by, 42L))
    val (empty, emptyRef) = (frame(vecSchema, Nil, s), frame(vecSchema, Nil, spark))
    assert(ApiJson.promMatrix(empty, by) == Distributed.promMatrix(emptyRef, by))
    assert(ApiJson.promVector(empty, by, 42L) == Distributed.promVector(emptyRef, by, 42L))
  }

  private def metadataCase(s: SparkSession): Unit = {
    def series(in: SparkSession) = frame(logSchema, hostile.zipWithIndex.map { case (h, i) =>
      Row(0L, h, if (i % 5 == 0) null else hostile((i * 7) % hostile.size), "b")
    }, in).select("service_name", "severity_text").distinct()
    assert(ApiJson.seriesResponse(series(s), labels) == Distributed.seriesResponse(series(spark), labels))
    def tags(in: SparkSession) =
      frame(StructType(Seq(StructField("value", StringType))), hostile.map(Row(_)), in)
    assert(ApiJson.tempoTagValues(tags(s)) == Distributed.tempoTagValues(tags(spark)))
    def types(in: SparkSession) = frame(StructType(Seq(StructField("profile_type", StringType),
      StructField("n_samples", LongType), StructField("min_ts", LongType),
      StructField("max_ts", LongType), StructField("n_services", LongType))),
      hostile.zipWithIndex.map { case (h, i) => Row(h, i.toLong, i * 1000000L, i * 2000000L, 1L) }, in)
    assert(ApiJson.profileTypes(types(s)) == Distributed.profileTypes(types(spark)))
    // label names: fixed names merged with discovered keys, sorted as
    // Spark sorts (U+E000 before a character beyond the BMP in UTF-8,
    // after it in UTF-16)
    def keys(in: SparkSession) =
      frame(StructType(Seq(StructField("label", StringType))), hostile.map(Row(_)), in)
    val fixed = Seq("service_name", "severity_text")
    val found = keys(s).distinct().orderBy(col("label")).collect().map(_.getString(0)).toSeq
    assert(ApiJson.labelNamesResponse(fixed, found) == Distributed.labelNames(keys(spark), fixed))
    assert(ApiJson.labelNamesResponse(Nil, Seq("\uD83D\uDE00", "\uE000")) ==
      ApiJson.labelsResponse(Seq("\uE000", "\uD83D\uDE00")))
  }

  test("streams envelope matches the distributed shaping on hostile rows")(streamsCase(spark))
  test("streams envelope from the served session matches on hostile rows")(streamsCase(servedSession))

  test("matrix and vector envelopes match on hostile labels and non-finite values")(matrixCase(spark))
  test("matrix and vector envelopes from the served session match on hostile inputs")(matrixCase(servedSession))

  test("series, tag-values and profile-types envelopes match")(metadataCase(spark))
  test("series, tag-values and profile-types envelopes from the served session match")(metadataCase(servedSession))

  test("served envelopes over the signal views match the distributed shaping") {
    val logs = graft.SignalViews.logsTable(spark, dir)
    val range = Some((T0 * 1000000000L, (T0 + 86400L * 3) * 1000000000L))
    val line = graft.logql.Lowering.lowerLineQuery(logs,
      graft.logql.Parser.parseLogQuery("""{service_name=~"svc-[1-3]"} |= "k""""), 500,
      newestFirst = true, timeRange = range)
    assert(ApiJson.lokiStreams(line, labels) == Distributed.lokiStreams(line, labels))
    val metric = graft.logql.Parser.parse(
      """sum by (service_name) (count_over_time({severity_text="info"}[1h]))""") match {
      case graft.logql.Ast.MetricQuery(e) => graft.logql.Lowering.lowerMetric(logs, e, timeRange = range)
      case other => fail(s"not a metric query: $other")
    }
    val ml = metric.columns.toSeq.filterNot(Set("bucket_start", "value"))
    assert(ApiJson.promMatrix(metric, ml) == Distributed.promMatrix(metric, ml))
    val v = graft.promql.Eval.evalVector(
      graft.promql.Parser.parse("""sum by (service_name) (rate(purchase[1h]))"""),
      graft.SignalViews.metricsTable(spark, dir),
      graft.promql.Eval.TimeRange(T0, T0 + 86400L * 2, 3600))
    assert(ApiJson.promMatrix(v.df, v.labels) == Distributed.promMatrix(v.df, v.labels))
    assert(ApiJson.promVector(v.df, v.labels, T0) == Distributed.promVector(v.df, v.labels, T0))
  }

  // ---- job guard ----------------------------------------------------------

  private def jobsOf(f: => Unit): Int = graft.JobGuard.jobsOf(spark)(f)

  test("a served metric request runs no more jobs than collecting its lowered frame") {
    val (s, e) = (T0 * 1000000000L, (T0 + 86400L * 2) * 1000000000L)
    val text = """sum by (service_name) (count_over_time({service_name=~"svc-.*"} |= "k" [1h]))"""
    val qs = s"query=${java.net.URLEncoder.encode(text, "UTF-8")}&start=$s&end=$e"
    def served(): Unit = Endpoints.lokiQueryRange(spark, dir, qs, e)
    def lowered(): Unit = graft.logql.Parser.parse(text) match {
      case graft.logql.Ast.MetricQuery(m) =>
        graft.logql.Lowering.lowerMetric(graft.SignalViews.logsTable(spark, dir), m,
          timeRange = Some((s, e))).collect()
      case other => fail(s"not a metric query: $other")
    }
    served(); lowered() // warm: schema and view builds
    val (a, b) = (jobsOf(served()), jobsOf(lowered()))
    assert(a <= b, s"served Loki metric request ran $a jobs, collecting its frame $b")
  }

  test("a served PromQL range request runs no more jobs than collecting its lowered frame") {
    val text = "sum by (service_name) (rate(purchase[1h]))"
    val (s, e) = (T0, T0 + 86400L * 2)
    val qs = s"query=${java.net.URLEncoder.encode(text, "UTF-8")}&start=$s&end=$e&step=3600"
    def served(): Unit = Endpoints.promQueryRange(spark, dir, qs)
    def lowered(): Unit = graft.promql.Eval.evalVector(graft.promql.Parser.parse(text),
      graft.SignalViews.metricsTable(spark, dir),
      graft.promql.Eval.TimeRange(s, e + 1, 3600)).df.collect()
    served(); lowered()
    val (a, b) = (jobsOf(served()), jobsOf(lowered()))
    assert(a <= b, s"served PromQL range request ran $a jobs, collecting its frame $b")
  }
}
