package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage
import graft.storage.Storage.TableLayout

/** Incremental rollup maintenance: micro-batch folds must converge to
  * exactly the one-shot downsample of all raw rows (associativity), and
  * marker-guarded replay must be a no-op. */
class RollupMaintainSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  private def rows(specs: (Long, String, Double, Long)*): DataFrame = {
    import spark.implicits._
    specs.toSeq.toDF("off_s", "service_name", "value", "event_id")
      .select((lit(t0) + col("off_s") * 1000000000L).as("timestamp"),
        col("service_name"), col("value"), col("event_id"))
  }

  test("micro-batch folds converge to the one-shot downsample; replay is a no-op") {
    val dir = graft.TestDirs.create("graft-rollup").toString
    val layout = TableLayout(dir, "acme", "prod")
    val fold = RollupMaintain.maintainBatch(layout, "rollup_1h", 3600L,
      Seq("service_name"), "event_id") _

    // batch 0: two services in hour 0, one in hour 1
    val b0 = rows((100L, "a", 10.0, 1L), (200L, "a", 30.0, 2L),
      (300L, "b", 5.0, 3L), (3700L, "a", 7.0, 4L))
    // batch 1: LATE rows into hour 0 (merge path), plus day 2
    val b1 = rows((50L, "a", 99.0, 5L), (400L, "b", 1.0, 6L),
      (90000L, "a", 2.0, 7L))
    fold(b0, 0L)
    fold(b1, 1L)

    val got = spark.read.parquet(layout.path("rollup_1h"))
    val oneShot = Storage.downsample(b0.unionByName(b1), 3600L,
      Seq("service_name"), "event_id")
    val key = Seq("bucket_start", "service_name", "n", "vmin", "vmax",
      "vlast", "tlast", "tielast")
    def snap(df: DataFrame) =
      df.select(key.head, key.tail.map(c => c): _*).collect().map(_.toSeq).toSet
    assert(snap(got) == snap(oneShot),
      "incremental cells diverged from the one-shot downsample")
    // decimal sums too
    def sums(df: DataFrame) = df.select(col("bucket_start"), col("service_name"),
      col("vsum").cast("double")).collect().map(_.toSeq).toSet
    assert(sums(got) == sums(oneShot))

    // hour-0 'a' cell really merged: 3 samples, last = the (200s, id 2) row
    val a0 = got.filter(col("bucket_start") === 1704067200L && col("service_name") === "a")
      .select("n", "vlast").head
    assert(a0.getLong(0) == 3L && a0.getDouble(1) == 30.0)

    // replaying batch 1 must change nothing (marker guard)
    fold(b1, 1L)
    assert(snap(spark.read.parquet(layout.path("rollup_1h"))) == snap(oneShot))
  }

  test("crash-window replay folds exactly once (stage/marker failpoints)") {
    val dir = graft.TestDirs.create("graft-rollup-crash").toString
    val layout = TableLayout(dir, "acme", "prod")
    def fold(crashAt: String = "") = RollupMaintain.maintainBatch(
      layout, "rollup_1h", 3600L, Seq("service_name"), "event_id", crashAt) _

    val b0 = rows((100L, "a", 10.0, 1L), (200L, "a", 30.0, 2L))
    val b1 = rows((50L, "a", 99.0, 3L), (300L, "b", 5.0, 4L))
    fold()(b0, 0L)

    // crash AFTER the staging write, BEFORE the marker: the table must be
    // untouched, and a full replay must fold b1 exactly once.
    intercept[RollupMaintain.InjectedCrash] { fold("stage")(b1, 1L) }
    val a0 = spark.read.parquet(layout.path("rollup_1h"))
      .filter(col("service_name") === "a").select("n").head
    assert(a0.getLong(0) == 2L, "pre-marker crash must leave the table untouched")
    fold()(b1, 1L)

    // crash AFTER the marker, BEFORE the swap on batch 2: replay must
    // COMPLETE the commit from staging, not re-fold (the r5 protocol
    // would have double-counted n here).
    val b2 = rows((500L, "a", 7.0, 5L))
    intercept[RollupMaintain.InjectedCrash] { fold("marker")(b2, 2L) }
    fold()(b2, 2L) // recovery path: marker present → finish swap only
    fold()(b2, 2L) // plain replay: marker present, nothing staged → no-op

    val got = spark.read.parquet(layout.path("rollup_1h"))
    val oneShot = Storage.downsample(b0.unionByName(b1).unionByName(b2),
      3600L, Seq("service_name"), "event_id")
    def snap(df: DataFrame) = df.select("bucket_start", "service_name", "n",
      "vmin", "vmax", "vlast", "tlast", "tielast").collect().map(_.toSeq).toSet
    assert(snap(got) == snap(oneShot),
      "crash-recovery replay diverged from the one-shot downsample")
    // the double-count signature specifically: 'a' has exactly 4 samples
    assert(got.filter(col("service_name") === "a").select("n").head.getLong(0) == 4L)
    // staging fully cleaned up
    val stRoot = new java.io.File(s"$dir/_staging/acme/prod/rollup_1h")
    assert(!stRoot.exists || stRoot.list().isEmpty)
  }

  test("tiered retention: raw samples expire, the rollup still answers the old window") {
    val dir = graft.TestDirs.create("graft-tier").toString
    val layout = TableLayout(dir, "acme", "prod")
    // raw samples across two days, written through the real storage path
    val raw = rows((100L, "a", 10.0, 1L), (200L, "a", 30.0, 2L),
      (90000L, "a", 2.0, 3L)) // day 2
      .withColumn("metric_name", lit("m"))
    Storage.append(Storage.withPartitionCols(raw), layout, "metrics_raw")
    // rollup maintained from the same rows
    RollupMaintain.maintainBatch(layout, "rollup_1h", 3600L,
      Seq("metric_name", "service_name"), "event_id")(raw, 0L)

    // raw tier keeps 1 day: day 1 expires
    val dropped = Storage.applyRetention(spark, layout, "metrics_raw", "2024-01-02")
    assert(dropped.nonEmpty, "day-1 raw partition must expire")
    val rawDays = spark.read.parquet(layout.path("metrics_raw"))
      .select("date_day").distinct().collect().map(_.get(0).toString).toSet
    assert(rawDays == Set("2024-01-02"), s"raw tier must hold only the fresh day: $rawDays")

    // the rollup tier still answers day 1 (the q270 rewrite's long-history source)
    val cells = spark.read.parquet(layout.path("rollup_1h"))
      .filter(col("date_day") === "2024-01-01")
    assert(cells.count() == 1)
    val c = cells.select("n", "vmax").head
    assert(c.getLong(0) == 2L && c.getDouble(1) == 30.0,
      "day-1 history must survive in cell form")
  }
}
