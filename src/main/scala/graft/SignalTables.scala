package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.Storage

/** Materialized signal tables: the gen-2 views written once per (sf dir,
  * data version) through the REAL storage path — hour-partitioned Hive
  * layout, zstd, bloom filters (reference storage-layout.md:43-57) — then
  * read back, so queries over them exercise partition pruning and bloom
  * row-group skipping exactly as a 100 TB deployment would.
  *
  * Each table is a [[graft.storage.LocalCache.stored]] entry of its sf
  * dir: it materializes once per data version, and every later query
  * reads parquet.
  */
object SignalTables {

  private def materialize(dir: String, table: String,
      df: => DataFrame,
      partitionCols: Seq[String] = Seq("date_day", "hour")): String = {
    def layout(base: String) = Storage.TableLayout(base, "tenant0", "default")
    layout(graft.storage.LocalCache.stored(s"store|$table", dir) { base =>
      // one file per partition: repartition by the partition keys so each
      // directory gets a single file — the compacted shape, not a
      // small-files spray
      Storage.append(
        df.repartition(partitionCols.map(col): _*),
        layout(base), table, alreadyPartitioned = true, partitionCols = partitionCols)
    }).path(table)
  }

  /** stored gen-2 logs (full Schemas.logs layout incl. partition cols). */
  def storedLogsPath(s: SparkSession, dir: String): String =
    materialize(dir, "logs",
      Storage.withPartitionCols(SignalViews.logsGen2Df(s, dir)))

  def storedLogs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(storedLogsPath(s, dir))

  /** gen-2 LogsTable over the STORED layout — same resolution config as
    * the in-memory view, but with partition columns present so the
    * time-window partition-bound mirror prunes directories. */
  def storedLogsTable(s: SparkSession, dir: String): graft.logql.Lowering.LogsTable =
    // stored table: real map columns read back from parquet — no static
    // label expressions, so resolution stays element_at over the maps
    SignalViews.logsGen2Table(s, dir).copy(df = storedLogs(s, dir),
      attrExprs = Map.empty)

  /** stored gen-2 logs AFTER the promotion rewrite (label_region
    * materialized) — the table PromotedAttrRule resolves raw map probes
    * against. */
  def storedPromotedLogsPath(s: SparkSession, dir: String): String =
    materialize(dir, "logs_promoted",
      graft.storage.AttrPromotion.promote(
        Storage.withPartitionCols(SignalViews.logsGen2Df(s, dir)), Seq("region"))
        .drop("hour"),
      // day-level partitioning: the hour-pruning story is storedLogs's;
      // this table exists for the promotion rule, and 24× fewer
      // directories keeps its one-time write cheap
      partitionCols = Seq("date_day"))

  def storedPromotedLogs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(storedPromotedLogsPath(s, dir))

  /** stored traces, 256-way `prefix=XX` Hive-sharded on the first two hex
    * chars of trace_id, with bloom filters on trace_id/span_id — the
    * reference's benchmark-proven point-lookup layout
    * (tests-integration/benches/trace_index_scaling.rs:1-10). A lookup
    * prunes 255/256 directories, then bloom-skips row groups. */
  def storedTracesPath(s: SparkSession, dir: String): String =
    materialize(dir, "traces",
      SignalViews.tracesGen2Df(s, dir)
        .withColumn("prefix", substring(col("trace_id"), 1, 2)),
      partitionCols = Seq("prefix"))

  def storedTraces(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(storedTracesPath(s, dir))

  /** trace-by-id point lookup: prefix prunes to one shard directory, the
    * trace_id equality pushes into the parquet scan (bloom + min/max). */
  def traceById(s: SparkSession, dir: String, traceId: String): DataFrame =
    storedTraces(s, dir)
      .filter(col("prefix") === traceId.substring(0, 2) &&
        col("trace_id") === traceId)

  /** PromQL scan over the STORED per-kind metric tables: project each to
    * the fixed common column set, then unionByName — the reference's
    * gauge+sum multi-table scan (metrics.rs:42-52,1444). Selectors on
    * metric_name push down into BOTH parquet scans; untouched kinds
    * (histogram etc.) are never read. */
  // the deterministic tie-break (eid) is PROMOTED at write time —
  // the reference's attr-promotion shape (label_<key> materialized
  // column) — so the hot query path scans a flat column and never
  // deserializes the attributes map
  private def promoted(df: DataFrame): DataFrame =
    graft.storage.AttrPromotion.promote(
      Storage.withPartitionCols(df), Seq("eid"), Seq("attributes"))

  // metrics prune by DAY (the PromQL partition-bound mirror is date_day)
  // — day-level dirs keep the file count and the write shuffle 24×
  // smaller than the logs' hour layout, with identical pruning power
  def storedMetricsGaugePath(s: SparkSession, dir: String): String =
    materialize(dir, "metrics_gauge",
      promoted(SignalViews.metricsGaugeDf(s, dir)), partitionCols = Seq("date_day"))

  def storedMetricsSumPath(s: SparkSession, dir: String): String =
    materialize(dir, "metrics_sum",
      promoted(SignalViews.metricsSumDf(s, dir)), partitionCols = Seq("date_day"))

  def storedMetricsUnion(s: SparkSession, dir: String): DataFrame = {
    val gaugePath = storedMetricsGaugePath(s, dir)
    val sumPath = storedMetricsSumPath(s, dir)
    val proj = Seq("timestamp", "metric_name", "service_name", "value",
      "label_eid", "date_day")
    s.read.parquet(gaugePath).select(proj.map(col): _*)
      .unionByName(s.read.parquet(sumPath).select(proj.map(col): _*))
  }

  /** hourly rollup of the stored gauge+sum union — the compactor's
    * downsampling job writing through the same storage path (day
    * partitions). Dashboards re-aggregate cells instead of raw samples. */
  def storedRollupPath(s: SparkSession, dir: String): String =
    materialize(dir, "metrics_rollup_1h",
      Storage.downsample(storedMetricsUnion(s, dir), 3600L,
        Seq("metric_name", "service_name"), "label_eid"),
      partitionCols = Seq("date_day"))

  def storedRollup(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(storedRollupPath(s, dir))

  /** traces directory with MIXED schema vintages (reference schemas.toml
    * v1→v2): days before Jan 15 written by a v1 writer (pre-rename
    * `name`/`duration_nano`, no computed columns), the rest by a v2
    * writer. Readers must go through SchemaVersions.resolveRead — this is
    * the un-rewritten-history fixture for schema evolution. */
  def storedMixedVersionTracesPath(s: SparkSession, dir: String): String =
    graft.storage.LocalCache.stored("store|traces_vmix", dir) { d =>
      val base = s"$d/traces_vmix"
      val dur = floor(col("value") * 1000).cast("long")
      // µs-truncated nanos (unix_micros(ts_us)*1000) — what the DuckDB
      // oracle sees (TESTDATA gotcha)
      val startNs = unix_micros(col("ts_us")) * 1000L
      val ev = Tables.events(s, dir).select(
        md5(col("event_id").cast("string")).as("trace_id"),
        md5(concat(lit("s"), col("event_id").cast("string"))).as("span_id"),
        lit("").as("parent_span_id"),
        col("event_type").as("name"),
        concat(lit("svc-"), pmod(col("user_id"), lit(8))).as("service_name"),
        startNs.as("start_time_unix_nano"),
        (startNs + dur).as("end_time_unix_nano"),
        dur.as("duration_nano"),
        expr("unix_micros(ts_us) div 1000000 div 86400").as("_day"))
      val cutDay = 19737L // 2024-01-15
      ev.filter(col("_day") < cutDay).drop("_day")
        .write.mode("append").parquet(base)
      graft.schema.SchemaVersions.upgrade(
          ev.filter(col("_day") >= cutDay).drop("_day"), "traces", fromVersion = 1)
        .write.mode("append").parquet(base)
    } + "/traces_vmix"

  /** MetricsTable over the stored union. `dayBounds` is the partition-bound
    * mirror of the query time window: a filter on the Hive partition column
    * so Catalyst prunes day directories before any row is read (SURVEY §2.2
    * row 11 — at 100 TB every query must prune by date_day). */
  def storedMetricsTable(s: SparkSession, dir: String,
      dayBounds: Option[(String, String)] = None): graft.promql.Eval.MetricsTable = {
    var df = storedMetricsUnion(s, dir)
    dayBounds.foreach { case (lo, hi) =>
      df = df.filter(col("date_day") >= lo && col("date_day") <= hi)
    }
    graft.promql.Eval.MetricsTable(
      df.withColumn("event_id", col("label_eid").cast("long")),
      seriesLabels = Seq("service_name"),
      tieBreak = Seq("event_id"))
  }
}
