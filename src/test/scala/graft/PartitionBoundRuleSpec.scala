package graft

import scala.util.chaining._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage
import graft.storage.Storage.TableLayout

/** Automatic date_day partition pruning from raw timestamp predicates
  * (plans.PartitionBoundRule): a user filtering only on the i64-nano
  * timestamp must still prune day directories, and the injected bound
  * must never change results. */
class PartitionBoundRuleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L // 2024-01-01 UTC

  private lazy val tablePath: String = {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-pbound").toString
    val layout = TableLayout(dir, "acme", "prod")
    // 10 days × 4 rows
    (0 until 40).map { i =>
      (t0 + (i / 4) * 86400L * 1000000000L + i, i.toLong, "svc", "info",
        s"line $i", Map("k" -> "v"))
    }.toDF("timestamp", "event_id", "service_name", "severity_text",
        "body", "log_attributes")
      .pipe(df => Storage.append(df, layout, "logs"))
    layout.path("logs")
  }

  test("a timestamp-only window prunes day directories") {
    val lo = t0 + 3L * 86400L * 1000000000L
    val hi = t0 + 5L * 86400L * 1000000000L
    val df = spark.read.parquet(tablePath)
      .filter(col("timestamp") >= lo && col("timestamp") < hi)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("date_day"),
      s"injected day bound missing from the plan:\n$plan")
    // the scan's partition filters carry the derived bounds
    assert(plan.contains("PartitionFilters") &&
      plan.substring(plan.indexOf("PartitionFilters")).take(400).contains("date_day"),
      s"date_day must reach PartitionFilters:\n$plan")
    // and the rows are exactly the 2 in-window days
    assert(df.count() == 8)
  }

  test("the injected bound never changes results (random windows)") {
    val full = spark.read.parquet(tablePath)
    for ((a, b) <- Seq((0L, 10L), (2L, 3L), (9L, 12L), (5L, 5L))) {
      val lo = t0 + a * 86400L * 1000000000L + 1
      val hi = t0 + b * 86400L * 1000000000L + 2
      val got = full.filter(col("timestamp") >= lo && col("timestamp") < hi)
        .agg(count(lit(1)), sum(col("event_id"))).head
      // reference: evaluate the same predicate without the optimizer by
      // collecting and filtering in Scala
      val exp = full.select("timestamp", "event_id").collect()
        .filter(r => r.getLong(0) >= lo && r.getLong(0) < hi)
      assert(got.getLong(0) == exp.length)
      if (exp.nonEmpty) assert(got.getLong(1) == exp.map(_.getLong(1)).sum)
    }
  }

  test("a condition already mentioning date_day is left untouched (fixed point)") {
    val lo = t0 + 86400L * 1000000000L
    val df = spark.read.parquet(tablePath)
      .filter(col("timestamp") >= lo && col("date_day") === "2024-01-03")
    assert(df.count() == 4)
  }

  test("NULL date_day rows (hybrid hot side) survive the injected bound") {
    import spark.implicits._
    // a frame unioning stored rows with rows not yet written carries NULL
    // hive partition columns on the unwritten (hot) side; a bare
    // `date_day >= d` conjunct would evaluate to NULL and silently drop
    // every hot row. The injected bound must be null-safe:
    // IsNull(date_day) OR bound.
    val cold = spark.read.parquet(tablePath)
    val hotTs = t0 + 4L * 86400L * 1000000000L + 999L // inside the window
    val hot = Seq((hotTs, 9999L, "svc", "info", "hot line", Map("k" -> "v")))
      .toDF("timestamp", "event_id", "service_name", "severity_text",
        "body", "log_attributes")
    val frame = cold.unionByName(hot, allowMissingColumns = true)
    val lo = t0 + 3L * 86400L * 1000000000L
    val hi = t0 + 5L * 86400L * 1000000000L
    val got = frame.filter(col("timestamp") >= lo && col("timestamp") < hi)
    // 8 cold rows (2 in-window days × 4) + the 1 hot row
    assert(got.count() == 9, "hot-side NULL date_day row was dropped by the injected bound")
    assert(got.filter(col("event_id") === 9999L).count() == 1)
    // and the cold scan still prunes: partition filters carry date_day
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.substring(plan.indexOf("PartitionFilters")).take(400).contains("date_day"),
      s"null-safe bound must still reach PartitionFilters:\n$plan")
  }
}
