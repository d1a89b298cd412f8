package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (`/root/testdata/sf*`, see TESTDATA.md).
  *
  * The `events` table stores `ts` as parquet TIMESTAMP(NANOS), which Spark
  * only reads with `spark.sql.legacy.parquet.nanosAsLong=true` (as a raw
  * Long of epoch nanos). The reference keeps nanosecond integers as
  * first-class columns for the same reason (reference:
  * src/querier/src/query/ir_planner.rs:70-74 compares trace times as i64
  * nanos), so we canonicalize: `ts` stays Long nanos, and a derived
  * microsecond `ts_us` TimestampType column is added for calendar ops and
  * ordering. DuckDB (the correctness oracle) truncates the same column to
  * microseconds, so every oracle-visible timestamp derives from `ts_us`.
  */
object Tables {
  /** Inferred parquet schema per physical path. The testdata is immutable
    * within a run, so the footer-derived schema never changes for a given
    * path — but without this cache EVERY `load` call pays a driver-side
    * footer read for schema inference (a sweep of 400+ queries re-infers
    * the same six schemas ~1000×). Metadata only: the scan itself still
    * reads the files. Keyed by full path so the events table's two
    * physical layouts (TIMESTAMP(NANOS) vs MICROS NTZ) stay distinct
    * per sf dir. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Runtime conf; required before any scan that touches TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // NTZ timestamps are interpreted as UTC wall time everywhere (the
    // oracle reads the same files as naive timestamps).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    // keyed by (path, mtime, length) — ADVICE r15: a path regenerated
    // in-process (proof runs / tests rewriting fixture dirs) must not
    // read with a stale schema; the stat is far cheaper than the footer
    val f = new java.io.File(path)
    val key = s"$path@${f.lastModified}:${f.length}"
    val sch = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  private final case class ViewKey(view: String, dir: String, session: SparkSession)

  /** built views per (view, dir, session), with the data version of
    * `events.parquet` they were built at */
  private val viewMemo = new java.util.concurrent.ConcurrentHashMap[ViewKey, (String, AnyRef)]()

  /** a view over `dir`'s events table, built once per data version of
    * `events.parquet`: a served request otherwise repeats DataSource
    * resolution and re-analysis of the view's projections before any
    * job runs. Memoize views only, never `load`/`events`:
    * queries that self-join two `Tables.*` frames through Dataset-bound
    * column references need distinct expression ids. Nor call it for a
    * per-request session: its entries would never be hit again, and
    * nothing would drop them before the SparkContext stops. A miss
    * drops the entries of stopped sessions and of deleted tables. */
  private[graft] def perEventsVersion[T <: AnyRef](s: SparkSession, dir: String, view: String)(build: => T): T = {
    val key = ViewKey(view, dir, s)
    val st = graft.storage.LocalCache.dataVersion(s"$dir/events.parquet")
    viewMemo.get(key) match {
      case (`st`, v) => v.asInstanceOf[T]
      case _ =>
        viewMemo.keySet.removeIf(k => k.session.sparkContext.isStopped ||
          !new java.io.File(s"${k.dir}/events.parquet").exists)
        val v = build
        viewMemo.put(key, (st, v))
        v
    }
  }

  /** drop every view built for `s`: a session that serves no more
    * requests would otherwise pin them until its SparkContext stops */
  private[graft] def dropViews(s: SparkSession): Unit = {
    viewMemo.keySet.removeIf(_.session eq s); ()
  }

  private[graft] def viewMemoSize: Int = viewMemo.size

  /** spread a one-split scan across the session's cores before heavy
    * per-row projections (r15; guide §2.5 input skew). The testdata
    * tables are single small parquet files — one row group, ONE scan
    * task — so any expensive map-side expression chain (JSON extraction,
    * md5 ids, codec work) otherwise runs on a single core until the
    * first exchange. Hash on a dense unique key, not round-robin: a
    * keyless repartition pays a local sort (SPARK-23207), and the key
    * has far more distinct values than partitions so the hash spreads
    * evenly. Column pruning still narrows what crosses the exchange;
    * the heavy projection itself evaluates above it, on all cores.
    *
    * SPLIT-AWARE (r16, VERDICT #3): repartition only when the physical
    * scan has fewer splits than cores. At 100 TB the scan already has
    * thousands of splits, and an unconditional hash repartition would be
    * a pure-overhead full shuffle of the payload per query — here it
    * no-ops. The probe reads the planned RDD's partition count (plan
    * metadata only, no job). */
  def spread(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores, col(key))
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame   = load(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = load(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame   = load(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame   = load(s, dir, "region")
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** [first,last] epoch-day bounds of the events table, from parquet
    * FOOTER statistics alone (storage.Footers — metadata I/O, no Spark
    * job). This is how operators that need a dense day spine or a
    * phantom-tail clamp derive it from the DATA rather than pinning a
    * fixture literal: the same query is correct on any dataset, and at
    * 100 TB the bounds probe stays O(files) footer reads. Cached per dir
    * at the data version of `events.parquet`, so a rewrite in-process
    * moves the bounds. */
  private val dayBoundsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, (Long, Long))]()
  def eventsDayBounds(s: SparkSession, dir: String): (Long, Long) = {
    val path = s"$dir/events.parquet"
    val version = graft.storage.LocalCache.dataVersion(path)
    dayBoundsCache.compute(dir, (_, cached) =>
      if (cached != null && cached._1 == version) cached
      else {
        val (mnUs, mxUs) = graft.storage.Footers
          .timestampMicrosRange(s, path, "ts")
          .getOrElse(throw new IllegalStateException(
            s"no footer stats for events.ts under $dir"))
        version -> (Math.floorDiv(Math.floorDiv(mnUs, 1000000L), 86400L),
          Math.floorDiv(Math.floorDiv(mxUs, 1000000L), 86400L))
      })._2
  }

  /** events with `ts` as Long nanos plus derived `ts_us` (µs timestamp,
    * identical to what DuckDB sees) and `ts_sec` (epoch seconds, Long).
    *
    * The driver has shipped this table with two physical layouts: parquet
    * TIMESTAMP(NANOS) (reads as Long nanos under nanosAsLong) and
    * TIMESTAMP(MICROS) NTZ. Both are canonicalized here to the same
    * Long-nanos `ts` the rest of the engine assumes, so the layout change
    * is invisible downstream. The NTZ wall time is interpreted as UTC
    * (session tz is pinned in `load`), matching DuckDB's naive-timestamp
    * reading of the same file. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, dir, "events")
    val nanos = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
    }
    nanos
      .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
      .withColumn("ts_sec", expr("ts div 1000000000"))
  }
}
