package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Footer-statistics reader + the Z-order clustering claim MEASURED:
  * against a single-dimension sort, Morton layout bounds the per-file
  * [min,max] of BOTH dimensions, so point probes on the secondary
  * dimension skip row groups on metadata alone — the property that makes
  * multi-dimensional clustering worth a compaction rewrite at 100 TB.
  */
class FootersSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  test("z-order layout tightens secondary-dimension footer ranges") {
    import spark.implicits._
    // full 64x64 (a, b) grid, shuffled
    val grid = scala.util.Random.shuffle(
      (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)).toList)
      .toDF("a", "b")

    // deterministic 8-way splits (partitionBy on the derived block id —
    // range-sampling boundaries would wobble with input parallelism)

    // layout L: split + sorted on `a` alone (the time-only sort)
    val ldir = graft.TestDirs.create("graft-lin").toString + "/t"
    grid.withColumn("ag", expr("a div 8"))
      .repartition(2)
      .write.partitionBy("ag").parquet(ldir)

    // layout Z: split on the interleaved Morton key's 512-cell blocks
    val zdir = graft.TestDirs.create("graft-zord").toString + "/t"
    grid.withColumn("zg",
        Storage.zorderKey(col("a"), col("b"), bits = 6).divide(512).cast("long"))
      .repartition(2)
      .write.partitionBy("zg").parquet(zdir)

    val linB = Footers.meanRangeWidth(spark, ldir, "b")
    val zA = Footers.meanRangeWidth(spark, zdir, "a")
    val zB = Footers.meanRangeWidth(spark, zdir, "b")

    // the a-sorted layout knows nothing about b: every file spans ~all of it
    assert(linB > 60.0, s"a-sorted layout should leave b unclustered, got $linB")
    // each 512-cell Morton block fixes (a5, a4, b5): a-width 15, b-width
    // 31 — both dims bounded well below b's unclustered width
    assert(zA < 20.0 && zB < 40.0, s"z-order should bound both dims, got a=$zA b=$zB")

    // and that tightness is exactly what a metadata probe on b can use
    val linSkip = Footers.skippableFractionPpm(spark, ldir, "b", 17L)
    val zSkip = Footers.skippableFractionPpm(spark, zdir, "b", 17L)
    assert(linSkip == 0L, s"a-sorted layout cannot skip on b, got $linSkip")
    assert(zSkip >= 450000L, s"z-order should skip ~half the row groups on b, got $zSkip")
  }

  test("partition report surfaces the planner's numbers; compaction heals them") {
    import scala.util.chaining._
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-preport").toString
    val layout = Storage.TableLayout(dir, "acme", "prod")
    val t0 = 1704067200L * 1000000000L
    // 3 small appends into ONE hour = 3 small files
    for (b <- 0 until 3)
      Seq((t0 + b, b.toLong, "svc", "info", s"l$b", Map("k" -> "v")))
        .toDF("timestamp", "event_id", "service_name", "severity_text",
          "body", "log_attributes")
        .pipe(df => Storage.append(df, layout, "logs"))

    val before = Footers.partitionReport(spark, layout.path("logs"))
    assert(before.size == 1 && before.head.files == 3 && before.head.rows == 3,
      s"expected one 3-file partition, got $before")
    assert(before.head.partition.contains("date_day=2024-01-01"))
    assert(before.head.avgFileBytes > 0 &&
      before.head.avgFileBytes * before.head.files == before.head.bytes)

    Storage.compactPartition(spark, layout, "logs", "2024-01-01", 0)
    val after = Footers.partitionReport(spark, layout.path("logs"))
    assert(after.size == 1 && after.head.files == 1 && after.head.rows == 3,
      s"compaction must leave one file with all rows, got $after")
  }
}
