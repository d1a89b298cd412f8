package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical table layout + maintenance jobs (reference:
  * docs/architecture/storage-layout.md:43-57 — `{base}/{tenant}/{dataset}/
  * {table}/`; hour partitioning src/common/src/iceberg/schemas.rs:75-105;
  * bloom filters + zstd src/common/src/schema/mod.rs:40-152,173; sorted
  * compaction rewrite src/compactor/src/rewriter.rs:162-280,591-616;
  * retention src/compactor/src/retention/).
  *
  * 100 TB notes: partition layout is Hive-style `date_day=…/hour=…` so
  * Catalyst prunes directories from every time-window filter; bloom
  * filters on trace_id/span_id/attr_tokens make point lookups prune at
  * the row-group level; compaction rewrites each closed hour partition
  * sorted so min/max stats tighten.
  */
object Storage {

  final case class TableLayout(basePath: String, tenant: String, dataset: String) {
    def path(table: String): String = s"$basePath/$tenant/$dataset/$table"
  }

  /** per-table sort keys for compaction (rewriter.rs:591-616) */
  val compactionSort: Map[String, Seq[String]] = Map(
    "traces" -> Seq("timestamp", "trace_id"),
    "logs" -> Seq("timestamp", "service_name", "severity_text"),
    "metrics_gauge" -> Seq("timestamp", "metric_name", "service_name"),
    "metrics_sum" -> Seq("timestamp", "metric_name", "service_name"))

  /** bloom-filtered columns per table (schema/mod.rs:69-105,40-53) */
  val bloomColumns: Map[String, Seq[String]] = Map(
    "traces" -> Seq("trace_id", "span_id"),
    "logs" -> Seq("trace_id", "span_id", "attr_tokens.list.element"))

  /** apply a table's bloom writer options (shared by every rewrite path:
    * ingest append, compaction, promotion — a rewrite that forgets them
    * silently strips the blooms point lookups depend on). */
  def withBloomOptions[T](w: org.apache.spark.sql.DataFrameWriter[T],
      table: String): org.apache.spark.sql.DataFrameWriter[T] =
    bloomColumns.getOrElse(table, Seq.empty).foldLeft(w)((acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", "50000"))

  /** derived partition columns from a Long-nanos `timestamp` column. */
  def withPartitionCols(df: DataFrame): DataFrame = {
    val ts = timestamp_micros(expr("timestamp div 1000"))
    df.withColumn("date_day", to_date(ts))
      .withColumn("hour", hour(ts))
  }

  /** `attr_tokens` = k=v tokens over the attribute maps, for bloom-filtered
    * containment (schema/mod.rs:40-53; equality predicates add an
    * array_contains conjunct to engage it, logql.rs:471-524). */
  def attrTokens(mapCols: Seq[String]): Column =
    flatten(array(mapCols.map(m =>
      transform(map_entries(col(m)), e => concat(e("key"), lit("="), e("value")))): _*))

  /** append a batch, zstd, with per-table bloom filters. Default layout is
    * hour-partitioned; `partitionCols` overrides it (e.g. the 256-way
    * `prefix` shard for traces). `alreadyPartitioned` skips the derive
    * step when the caller added (and possibly repartitioned by) the
    * partition columns itself. */
  def append(df: DataFrame, layout: TableLayout, table: String,
      alreadyPartitioned: Boolean = false,
      partitionCols: Seq[String] = Seq("date_day", "hour")): Unit = {
    val part = if (alreadyPartitioned) df else withPartitionCols(df)
    // EVERY producer honors the table's declared sort order, not just
    // compaction (reference openspec declared-sort-orders: a declared
    // ordering must be physically true in every file, and freshly
    // ingested files should already row-group-skip on time ranges
    // rather than waiting for their first rewrite). Partition columns
    // lead the sort so FileFormatWriter doesn't inject its own.
    val declared = compactionSort.getOrElse(table, Seq("timestamp"))
      .filter(part.columns.contains)
    val sorted =
      if (declared.isEmpty) part
      else part.sortWithinPartitions((partitionCols.filter(part.columns.contains)
        ++ declared).map(col): _*)
    val w = withBloomOptions(sorted.write
      .mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .option("compression", "zstd"), table)
    w.parquet(layout.path(table))
  }

  /** Bucketed layout for co-located joins: hash-bucket (and sort) the
    * table by its join key at WRITE time, so every later equi join or
    * aggregation on that key runs with NO shuffle — at 100 TB the
    * repeated join (spans↔spans, doc↔doc-signals, fact↔fact) is where
    * shuffle volume lives, and bucketing moves that cost to ingest,
    * once. Registered as an external table (explicit path) so the files
    * stay under the tenant layout. Bucket counts must match across
    * tables that join together. */
  def writeBucketed(df: DataFrame, layout: TableLayout, table: String,
      bucketKey: String, buckets: Int): Unit = {
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .option("path", layout.path(table))
      .option("compression", "zstd")
      .format("parquet")
      .saveAsTable(s"${layout.tenant}_${layout.dataset}_$table"
        .replaceAll("[^A-Za-z0-9_]", "_"))
  }

  /** register an EXISTING bucketed table (written earlier by
    * [[writeBucketed]], possibly by another process) in this session's
    * catalog without rewriting a byte — the path for indexes whose
    * SOURCE data has since been retired (a retention-maintained dedup
    * index outlives the rows it was derived from, so re-registration
    * can never require re-derivation). The DDL restates the bucketing
    * spec; the files' bucket layout is what writeBucketed produced.
    * Returns the catalog name. */
  def registerBucketed(spark: SparkSession, layout: TableLayout,
      table: String, schemaDdl: String, bucketKey: String,
      buckets: Int): String = {
    val name = s"${layout.tenant}_${layout.dataset}_$table"
      .replaceAll("[^A-Za-z0-9_]", "_")
    if (!spark.catalog.tableExists(name))
      try spark.sql(
        s"CREATE TABLE IF NOT EXISTS $name ($schemaDdl) USING parquet " +
          s"CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) " +
          s"INTO $buckets BUCKETS LOCATION '${layout.path(table)}'")
      catch {
        // IF NOT EXISTS checks, then creates: a concurrent registration
        // of the same table can land in between
        case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException => ()
      }
    name
  }

  /** Compactor-side downsampling: raw samples → one pre-aggregated cell
    * per (step bucket, series) carrying the re-aggregable algebra
    * (count / sum / min / max / last-with-tiebreak). Coarser resolutions
    * and query-time re-aggregation derive from cells alone — at 100 TB
    * the rollup is what dashboards scan, cutting row count by the
    * samples-per-bucket factor. The sum is decimal-accumulated so any
    * re-aggregation order is bit-exact; `last` carries the max
    * (timestamp, tie) sample so per-bucket "last" re-aggregates by
    * taking the latest cell. One shuffle (the groupBy), partial aggs
    * map-side. */
  def downsample(df: DataFrame, stepSec: Long,
      seriesCols: Seq[String], tieCol: String): DataFrame =
    df.withColumn("bucket_start",
        expr(s"((timestamp div 1000000000) div $stepSec) * $stepSec"))
      .groupBy((col("bucket_start") +: seriesCols.map(col)): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 4))).as("vsum"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        max_by(col("value"),
          struct(col("timestamp"), col(tieCol).cast("long"))).as("vlast"),
        // the merge keys that make cells ASSOCIATIVE: two cells of the
        // same bucket combine exactly (sum/min/max are algebraic; vlast
        // resolves by (tlast, tielast)) — what incremental maintenance
        // (streaming.RollupMaintain) needs to fold micro-batches in
        max(struct(col("timestamp").as("t"), col(tieCol).cast("long").as("k")))
          .as("_lastkey"))
      .withColumn("tlast", col("_lastkey.t"))
      .withColumn("tielast", col("_lastkey.k"))
      .drop("_lastkey")
      .withColumn("date_day", to_date(timestamp_seconds(col("bucket_start"))))

  /** merge cells of the same (bucket, series) — associative and
    * commutative, so any batching of the raw stream folds to the same
    * rollup: n/vsum add, vmin/vmax min/max, vlast follows the greatest
    * (tlast, tielast). */
  def mergeCells(cells: DataFrame, seriesCols: Seq[String]): DataFrame =
    cells.groupBy((col("bucket_start") +: seriesCols.map(col)): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        max_by(col("vlast"), struct(col("tlast"), col("tielast"))).as("vlast"),
        max(struct(col("tlast").as("t"), col("tielast").as("k"))).as("_lastkey"))
      .withColumn("tlast", col("_lastkey.t"))
      .withColumn("tielast", col("_lastkey.k"))
      .drop("_lastkey")
      .withColumn("date_day", to_date(timestamp_seconds(col("bucket_start"))))

  /** Z-order (Morton) key: interleave the low `bits` of two non-negative
    * long columns. Sorting a compaction rewrite by this key clusters rows
    * that are close in BOTH dimensions into the same row groups, so
    * parquet min/max stats prune on either column — the multi-dimensional
    * clustering a 100 TB table needs when queries filter by more than
    * time (e.g. (time, service) or (user, day)). Pure bit arithmetic,
    * whole-stage codegen. */
  def zorderKey(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, "zorder bits in [1,31]")
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)
  }

  /** Another writer holds (or held) this partition's compaction. The
    * caller retries later — detect-and-retry, the same resolution real
    * Iceberg gives a losing optimistic commit. */
  final class CompactionConflict(msg: String) extends RuntimeException(msg)

  /** crash simulation for specs: thrown between commit-protocol steps,
    * WITHOUT releasing the partition lock (a real crash wouldn't). */
  final class InjectedCrash(at: String) extends RuntimeException(s"injected crash $at")

  /** rewrite one closed (date_day, hour) partition: merge small files,
    * sort (linearly, or by a Z-order pair), and swap the rewrite in with
    * a commit protocol that is SAFE AGAINST A CONCURRENT INGEST APPEND
    * to the same partition (the multi-writer case real Iceberg resolves
    * with optimistic snapshot commits):
    *
    *   lock    — create `_compactions/<day>-<hour>.lock` exclusively; a
    *             live lock means another compactor owns the partition →
    *             CompactionConflict (retry later). A stale lock (older
    *             than `lockMaxAgeMs`) is broken and its crashed commit
    *             recovered first.
    *   snapshot— list the hour dir ONCE; only those exact files are read
    *             and only they are ever deleted.
    *   stage   — write the compacted output to a staging dir.
    *   intent  — journal (add staged-names, del snapshot-names); this is
    *             the commit point.
    *   publish — move staged files in (Spark part-file names are UUID-
    *             unique, so nothing is overwritten), delete exactly the
    *             snapshot files, drop staging + intent.
    *
    * An append racing any step only ADDS files the snapshot doesn't
    * list, so the final state is compacted(snapshot) ∪ appends — neither
    * side is lost, with no coordination demanded of the ingest path. A
    * crash before the intent aborts cleanly (staging is swept); a crash
    * after it is completed from the journal by the next compaction of
    * the partition. `crashAt` ("staged" | "intent" | "publish-partial",
    * specs only) aborts after the named step — "publish-partial" dies
    * after moving SOME but not all staged files in. */
  def compactPartition(spark: SparkSession, layout: TableLayout, table: String,
      dateDay: String, hourOfDay: Int, targetFiles: Int = 1,
      zorderBy: Option[(String, String)] = None,
      crashAt: String = "", lockMaxAgeMs: Long = 3600L * 1000L): Unit = {
    val p = layout.path(table)
    val conf = spark.sparkContext.hadoopConfiguration
    val partDir = new Path(s"$p/date_day=$dateDay/hour=$hourOfDay")
    val fs = partDir.getFileSystem(conf)
    val ctl = new Path(s"$p/_compactions")
    val lock = new Path(ctl, s"$dateDay-$hourOfDay.lock")
    val intent = new Path(ctl, s"$dateDay-$hourOfDay.intent")
    val staging = new Path(ctl, s"$dateDay-$hourOfDay.staging")

    // ---- lock (break a stale one, recovering its crashed commit)
    fs.mkdirs(ctl)
    if (fs.exists(lock)) {
      val age = System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
      if (age < lockMaxAgeMs)
        throw new CompactionConflict(
          s"$table $dateDay/$hourOfDay: live compaction lock (${age}ms old)")
      fs.delete(lock, false)
    }
    try {
      val out = fs.create(lock, false) // exclusive: loser gets the conflict
      out.close()
    } catch {
      case _: java.io.IOException if fs.exists(lock) =>
        throw new CompactionConflict(s"$table $dateDay/$hourOfDay: lost lock race")
    }

    var crashing = false
    try {
      // ---- recover a predecessor that crashed while holding the lock
      recoverCompaction(fs, partDir, staging, intent)

      if (!fs.exists(partDir)) return
      val snapshot = fs.listStatus(partDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
      if (snapshot.isEmpty) return

      // ---- read EXACTLY the snapshot files (basePath keeps partition cols
      // for pruning-compatible schema; they are dropped for the staged
      // files — the directory re-encodes them)
      val part = spark.read.option("basePath", p)
        .parquet(snapshot.map(_.toString): _*)
      val sortCols = compactionSort.getOrElse(table, Seq("timestamp"))
      val sortExprs = zorderBy match {
        case Some((a, b)) => Seq(zorderKey(col(a).cast("long"), col(b).cast("long")))
        case None         => sortCols.filter(part.columns.contains).map(col)
      }
      // the rewrite carries the SAME bloom writer options as ingest —
      // otherwise compaction silently strips the blooms the point-lookup
      // path depends on (the reference's rewriter keeps the table's
      // parquet properties, rewriter.rs)
      withBloomOptions(part
        .drop("date_day", "hour")
        .repartition(targetFiles)
        .sortWithinPartitions(sortExprs: _*)
        .write.mode(SaveMode.Overwrite)
        .option("compression", "zstd"), table)
        .parquet(staging.toString)
      if (crashAt == "staged") { crashing = true; throw new InjectedCrash("after stage") }

      // ---- intent journal: the commit point
      val staged = fs.listStatus(staging).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName)
      val journal = (staged.map("add\t" + _) ++ snapshot.map("del\t" + _.getName))
        .mkString("\n")
      val w = fs.create(intent, true)
      try w.write(journal.getBytes("UTF-8")) finally w.close()
      if (crashAt == "intent") { crashing = true; throw new InjectedCrash("after intent") }

      // ---- publish
      if (crashAt == "publish-partial") {
        // failpoint MID-publish: move only the first staged add in, then
        // die with the intent journal still present — the next holder
        // must complete the remaining moves + deletes idempotently
        // (moves skip already-moved adds, deletes skip absent victims)
        staged.headOption.foreach(nm =>
          fs.rename(new Path(staging, nm), new Path(partDir, nm)))
        crashing = true; throw new InjectedCrash("mid-publish")
      }
      recoverCompaction(fs, partDir, staging, intent)
    } finally if (!crashing) fs.delete(lock, false)
  }

  /** complete (or abort) a compaction from its on-disk state: an intent
    * journal means COMMITTED — move any still-staged adds in, delete any
    * still-present dels, then sweep; staging without an intent means the
    * commit never happened — sweep the staging dir and leave the
    * partition untouched. Idempotent from any interleaving point. */
  private def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      partDir: Path, staging: Path, intent: Path): Unit = {
    if (fs.exists(intent)) {
      val in = fs.open(intent)
      val journal = try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toString("UTF-8")
      } finally in.close()
      val lines = journal.split("\n").toSeq.filter(_.nonEmpty)
      fs.mkdirs(partDir)
      for (l <- lines if l.startsWith("add\t")) {
        val src = new Path(staging, l.drop(4))
        if (fs.exists(src)) fs.rename(src, new Path(partDir, l.drop(4)))
      }
      for (l <- lines if l.startsWith("del\t")) {
        val victim = new Path(partDir, l.drop(4))
        if (fs.exists(victim)) fs.delete(victim, false)
      }
      if (fs.exists(staging)) fs.delete(staging, true)
      fs.delete(intent, false)
    } else if (fs.exists(staging)) fs.delete(staging, true)
  }

  /** hour partitions whose (small-)file count exceeds the threshold —
    * the compaction planner's pick rule (planner.rs:1-40). Planning only
    * ever selects CLOSED partitions: when `nowNanos` is given, an hour is
    * eligible only after it has ended AND its lateness allowance has
    * elapsed (planner.rs:7-10 — the executor rewrites one partition per
    * job, so a partition still receiving late data must not be picked). */
  def partitionsNeedingCompaction(spark: SparkSession, layout: TableLayout,
      table: String, minFiles: Int = 2,
      nowNanos: Option[Long] = None, latenessSec: Long = 600): Seq[(String, Int)] = {
    val fs = new Path(layout.path(table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(layout.path(table)))) return Seq.empty
    def closed(day: String, hour: Int): Boolean = nowNanos match {
      case None => true
      case Some(now) =>
        val hourEndSec = java.time.LocalDate.parse(day).toEpochDay * 86400L +
          (hour + 1) * 3600L
        (hourEndSec + latenessSec) * 1000000000L <= now
    }
    val days = fs.listStatus(new Path(layout.path(table)))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date_day="))
    days.flatMap { d =>
      fs.listStatus(d.getPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("hour="))
        .flatMap { h =>
          val day = d.getPath.getName.stripPrefix("date_day=")
          val hour = h.getPath.getName.stripPrefix("hour=").toInt
          val files = fs.listStatus(h.getPath)
            .count(f => f.getPath.getName.endsWith(".parquet"))
          if (files >= minFiles && closed(day, hour)) Some((day, hour))
          else None
        }
    }.toSeq
  }

  /** retention: drop whole day partitions older than the cutoff
    * (partition-level delete, no row rewrite). */
  def applyRetention(spark: SparkSession, layout: TableLayout, table: String,
      cutoffDay: String): Seq[String] = {
    val root = new Path(layout.path(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val dropped = Seq.newBuilder[String]
    for (d <- fs.listStatus(root)
        if d.isDirectory && d.getPath.getName.startsWith("date_day=")) {
      val day = d.getPath.getName.stripPrefix("date_day=")
      if (day < cutoffDay) {
        fs.delete(d.getPath, true)
        dropped += day
      }
    }
    dropped.result()
  }

  /** absence-aware table resolution (reference table_lookup.rs:29-43):
    * a registered tenant/dataset need not hold every signal table — an
    * absent table is "no data" (an EMPTY frame with the signal's schema,
    * so downstream plans resolve columns normally), while an unknown
    * tenant/dataset stays an error. Keyed on the filesystem the same way
    * the reference keys on the catalog lookup, never on error-text
    * matching. */
  def optionalTable(spark: SparkSession,
      layout: TableLayout, table: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val base = new Path(s"${layout.basePath}/${layout.tenant}/${layout.dataset}")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base))
      throw new IllegalArgumentException(
        s"unknown tenant/dataset '${layout.tenant}/${layout.dataset}'")
    val path = new Path(layout.path(table))
    if (!fs.exists(path)) None
    else Some(spark.read.schema(schema).parquet(path.toString))
  }

  /** the common caller shape: absent ⇒ empty frame with `schema`. */
  def tableOrEmpty(spark: SparkSession, layout: TableLayout, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    optionalTable(spark, layout, table, schema).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** newest-first LIMIT over the day-partitioned store — the dominant
    * observability read (`ORDER BY timestamp DESC LIMIT n` over months of
    * data). A naive TakeOrdered scans every partition; this walks day
    * directories NEWEST FIRST and stops as soon as n rows are in hand —
    * at 100 TB a log-tail touches one partition instead of hundreds.
    * Admission is decided from parquet FOOTER row counts
    * (`Footers.rowCount`) — per probed day that is metadata I/O only:
    * no Spark job runs, nothing is cached, and the per-day top-n scans
    * execute exactly once, inside the final union. REQUIREMENT: `order`
    * must lead with `timestamp` descending (or any key monotone in
    * date_day) — the early stop assumes every row in a newer day
    * partition sorts before every row in an older one; an order that
    * crosses day boundaries would need the full TakeOrdered instead.
    * Returns the rows plus the days actually scanned so callers/tests
    * can assert the early stop. */
  def newestFirstLimit(spark: SparkSession, layout: TableLayout, table: String,
      n: Int, order: Seq[org.apache.spark.sql.Column]): (DataFrame, Seq[String]) = {
    val root = new Path(layout.path(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("date_day="))
      .map(_.stripPrefix("date_day=")).sorted.reverse
    var remaining = n.toLong
    var scanned = Vector.empty[String]
    var parts = Vector.empty[DataFrame]
    val it = days.iterator
    while (remaining > 0 && it.hasNext) {
      val day = it.next()
      val dayRows = graft.storage.Footers.rowCount(
        spark, s"${root.toString}/date_day=$day")
      if (dayRows > 0) {
        parts = parts :+ spark.read.parquet(root.toString)
          .filter(col("date_day") === day)
          .orderBy(order: _*).limit(n)
        remaining -= math.min(dayRows, n.toLong)
      }
      scanned = scanned :+ day
    }
    val out =
      if (parts.isEmpty)
        spark.read.parquet(root.toString).orderBy(order: _*).limit(0)
      else parts.reduce(_.unionByName(_)).orderBy(order: _*).limit(n)
    (out, scanned)
  }

  /** orphan GC (reference: the maintenance job family next to retention —
    * snapshot expiry / orphan-file removal): delete leftovers that no
    * reader references — aborted `_promoting` staging dirs, `_old` swap
    * residue from a crashed promotion rewrite, and Spark's `_temporary`
    * job-attempt dirs inside the table. Age-gated so an IN-FLIGHT rewrite
    * or write job is never collected; listing is one level deep per
    * table, O(partitions), driver-side metadata only. */
  def gcOrphans(spark: SparkSession, layout: TableLayout, table: String,
      olderThanMs: Long = 24L * 3600 * 1000,
      nowMs: Option[Long] = None): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tablePath = new Path(layout.path(table))
    val fs = tablePath.getFileSystem(conf)
    val now = nowMs.getOrElse(System.currentTimeMillis())
    val removed = Seq.newBuilder[String]
    def old(s: org.apache.hadoop.fs.FileStatus): Boolean =
      now - s.getModificationTime >= olderThanMs
    // sibling staging/backup dirs from AttrPromotion.rewriteTable
    val parent = tablePath.getParent
    if (parent != null && fs.exists(parent)) {
      for (s <- fs.listStatus(parent); n = s.getPath.getName
          if s.isDirectory && old(s) &&
            (n == s"${tablePath.getName}_promoting" || n == s"${tablePath.getName}_old")) {
        fs.delete(s.getPath, true)
        removed += s.getPath.toString
      }
    }
    // _temporary attempt dirs inside the table and its partitions
    if (fs.exists(tablePath)) {
      def sweep(dir: Path, depth: Int): Unit =
        for (s <- fs.listStatus(dir) if s.isDirectory) {
          if (s.getPath.getName == "_temporary") {
            if (old(s)) { fs.delete(s.getPath, true); removed += s.getPath.toString }
          } else if (depth > 0 && s.getPath.getName.contains("="))
            sweep(s.getPath, depth - 1)
        }
      sweep(tablePath, 2) // table → date_day= → hour=
    }
    removed.result()
  }
}
