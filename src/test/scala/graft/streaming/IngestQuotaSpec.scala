package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Storage.TableLayout

/** Reference ingest-rate-limiting-quotas scenarios, micro-batch form:
  * within-budget appends; over-rate overage is preserved under
  * _rejected/ (retryable, nothing lost); at-quota tenants reject the
  * whole batch; unconfigured = unlimited; and the rate cut is
  * deterministic so a replayed batch keeps/rejects the same rows.
  */
class IngestQuotaSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  private def batchDf(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (t0 + i * 1000000000L, i.toLong, s"svc", "info", s"line $i",
      Map("k" -> i.toString)))
      .toDF("timestamp", "event_id", "service_name", "severity_text", "body",
        "log_attributes")
  }

  test("rate budget: in-budget rows append, overage lands in _rejected, replay is stable") {
    val base = graft.TestDirs.create("graft-quota").toString
    val layout = TableLayout(base, "acme", "prod")
    val limits = IngestQuota.Limits(rowsPerBatch = Some(7))

    IngestQuota.appendBatchWithLimits(layout, "logs", limits)(batchDf(10), 1L)
    val stored = spark.read.parquet(layout.path("logs"))
    assert(stored.count() == 7)
    // oldest-first deterministic keep
    assert(stored.agg(max("event_id")).head.getLong(0) == 6L)
    val rejected = spark.read.parquet(
      s"$base/_rejected/acme/prod/logs/rate_exceeded/batch-1")
    assert(rejected.count() == 3)
    assert(rejected.agg(min("event_id")).head.getLong(0) == 7L)

    // replay of the same batchId: marker no-ops the append, rejected dir
    // already exists — nothing doubles
    IngestQuota.appendBatchWithLimits(layout, "logs", limits)(batchDf(10), 1L)
    assert(spark.read.parquet(layout.path("logs")).count() == 7)
    assert(spark.read.parquet(
      s"$base/_rejected/acme/prod/logs/rate_exceeded/batch-1").count() == 3)
  }

  test("storage quota: at/over quota the whole batch is rejected; unlimited otherwise") {
    val base = graft.TestDirs.create("graft-quota2").toString
    val layout = TableLayout(base, "acme", "prod")

    // unconfigured = unlimited
    IngestQuota.appendBatchWithLimits(layout, "logs", IngestQuota.Limits())(
      batchDf(5), 1L)
    val used = IngestQuota.tenantUsageBytes(spark, layout)
    assert(used > 0L)

    // quota at/below current usage → next batch rejected whole
    IngestQuota.appendBatchWithLimits(layout, "logs",
      IngestQuota.Limits(storageBytes = Some(used)))(batchDf(5), 2L)
    assert(spark.read.parquet(layout.path("logs")).count() == 5)
    assert(spark.read.parquet(
      s"$base/_rejected/acme/prod/logs/quota_exceeded/batch-2").count() == 5)

    // raising the quota lets ingest resume
    IngestQuota.appendBatchWithLimits(layout, "logs",
      IngestQuota.Limits(storageBytes = Some(used * 100)))(batchDf(5), 3L)
    assert(spark.read.parquet(layout.path("logs")).count() == 10)
  }
}
