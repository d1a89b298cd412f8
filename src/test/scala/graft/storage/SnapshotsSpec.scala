package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout

/** Snapshot isolation + time travel over the tenant layout: a reader
  * pinned to v1 sees exactly the v1 file set through later appends;
  * expiry drops old manifests; vacuum deletes only unreferenced files;
  * partition pruning survives the explicit-file-list read path. */
class SnapshotsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  private def batch(ids: Range) = {
    import spark.implicits._
    spark.createDataset(ids).toDF("id")
      .select(col("id"),
        (lit(t0) + col("id").cast("long") * 3600L * 1000000000L).as("timestamp"),
        concat(lit("m-"), col("id")).as("body"))
  }

  test("time travel across appends; expiry; vacuum keeps referenced files") {
    val layout = TableLayout(
      graft.TestDirs.create("graft_snap").toString, "t0", "default")
    Storage.append(batch(0 until 10), layout, "logs")
    val v1 = Snapshots.commit(spark, layout, "logs")
    Storage.append(batch(10 until 25), layout, "logs")
    val v2 = Snapshots.commit(spark, layout, "logs")
    assert(v1 == 1 && v2 == 2)

    // pinned reads: v1 sees only the first batch, v2/current see all
    assert(Snapshots.read(spark, layout, "logs", Some(v1)).count() == 10)
    assert(Snapshots.read(spark, layout, "logs").count() == 25)
    assert(Snapshots.current(spark, layout, "logs").contains(2))

    // partition pruning still works on the manifest read path
    val pruned = Snapshots.read(spark, layout, "logs", Some(v2))
      .filter(col("date_day") === "2024-01-01")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("date_day"),
      s"partition pruning lost on snapshot read:\n$plan")
    assert(pruned.count() == 24) // ids 0..23 fall on day one

    // vacuum with everything referenced deletes nothing
    assert(Snapshots.vacuum(spark, layout, "logs", minAgeMs = 0).isEmpty)

    // expire v1; its read now fails, current still fine
    assert(Snapshots.expire(spark, layout, "logs", keepLast = 1) == Seq(1))
    assertThrows[IllegalArgumentException](
      Snapshots.read(spark, layout, "logs", Some(v1)))
    assert(Snapshots.read(spark, layout, "logs").count() == 25)

    // an unreferenced (post-commit) file is an orphan until committed:
    // vacuum removes it, and a fresh commit+read never sees it
    Storage.append(batch(25 until 30), layout, "logs")
    // the age gate protects the append->commit window ...
    assert(Snapshots.vacuum(spark, layout, "logs").isEmpty,
      "fresh files must survive an age-gated vacuum")
    // ... and with the gate lifted the unreferenced files are orphans
    val orphans = Snapshots.vacuum(spark, layout, "logs", minAgeMs = 0)
    assert(orphans.nonEmpty, "uncommitted files must vacuum as orphans")
    assert(Snapshots.read(spark, layout, "logs").count() == 25)
  }
}
