package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.storage.Storage.TableLayout

/** Per-tenant ingest rate limiting + storage quotas (reference:
  * openspec/specs/ingest-rate-limiting-quotas — the acceptor rejects
  * over-rate ingest as retryable and blocks tenants at their storage
  * quota; both unlimited unless configured).
  *
  * Micro-batch translation: "rate" is a per-trigger row budget. Rows
  * within budget append through the normal idempotent path; overage rows
  * are NOT silently dropped — they land intact under `_rejected/` with a
  * machine-readable reason, the durable analog of the 429-and-retry
  * contract (the client's retry is a later re-submission of preserved
  * payload). Storage quota gates on measured bytes under the tenant's
  * directory tree before any append.
  *
  * The budget cut is deterministic (oldest rows first, id tie-break), so
  * a replayed batch rejects the same rows it rejected the first time —
  * quota enforcement composes with the exactly-once markers.
  */
object IngestQuota {

  final case class Limits(
      rowsPerBatch: Option[Long] = None,
      storageBytes: Option[Long] = None)

  /** measured storage usage for the tenant across its dataset tree. */
  def tenantUsageBytes(spark: org.apache.spark.sql.SparkSession,
      layout: TableLayout): Long = {
    val p = new Path(s"${layout.basePath}/${layout.tenant}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** foreachBatch body wrapping `IngestSink.appendBatch` with the two
    * gates. `orderCol`/`tieCol` define the deterministic keep order for
    * the rate cut. No limit configured = unlimited (reference scenario). */
  def appendBatchWithLimits(layout: TableLayout, table: String, limits: Limits,
      orderCol: String = "timestamp", tieCol: String = "event_id")(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val rejectedBase =
      s"${layout.basePath}/_rejected/${layout.tenant}/${layout.dataset}/$table"

    // storage quota: at/over quota the WHOLE batch is rejected, nothing
    // appends (quota-exceeded is not partial)
    val overQuota = limits.storageBytes.exists(q =>
      tenantUsageBytes(spark, layout) >= q)
    if (overQuota) {
      val dl = s"$rejectedBase/quota_exceeded/batch-$batchId"
      val fs = new Path(dl).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // gate on the _SUCCESS marker, not bare directory existence: a crash
      // mid-write leaves a partial directory without _SUCCESS, and replay
      // must repair it (mode overwrite) rather than skip it
      if (!fs.exists(new Path(dl, "_SUCCESS")))
        batch.write.mode("overwrite").parquet(dl)
      return
    }

    limits.rowsPerBatch match {
      case None => IngestSink.appendBatch(layout, table)(batch, batchId)
      case Some(budget) =>
        // deterministic keep-set: oldest first. The unpartitioned Window
        // funnels the batch through one task — accepted deliberately: the
        // frame is one micro-batch (trigger-bounded, not table-sized), and
        // a global total order is exactly what the rate cut's semantics
        // require; a distributed top-k would still need a single ordered
        // boundary pass for the tie-exact budget.
        val ranked = batch.withColumn("_rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col(orderCol).asc, col(tieCol).asc)))
        val kept = ranked.filter(col("_rn") <= budget).drop("_rn")
        val over = ranked.filter(col("_rn") > budget).drop("_rn")
        // preserve overage BEFORE committing the in-budget slice: a crash
        // between the two writes must never lose rows (the marker makes
        // the append replay-safe; the rejected write is idempotent by path).
        // _SUCCESS gate (not bare dir existence) so replay repairs a
        // partial overage write instead of skipping it.
        val dl = s"$rejectedBase/rate_exceeded/batch-$batchId"
        val fs = new Path(dl).getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(new Path(dl, "_SUCCESS")) && !over.isEmpty)
          over.write.mode("overwrite").parquet(dl)
        IngestSink.appendBatch(layout, table)(kept, batchId)
    }
  }
}
