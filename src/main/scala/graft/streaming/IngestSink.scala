package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.storage.Storage
import graft.storage.Storage.TableLayout

/** Streaming ingest sink (reference ingest pipeline:
  * src/writer/src/processor.rs:14-46 — WAL → batch append every ~5 s with
  * idempotency markers; docs/architecture/storage-layout.md:17-40).
  *
  * Structured Streaming replaces the WAL role: the checkpoint is the
  * durability log, and exactly-once lands via the standard idempotent-sink
  * pattern — a marker file per (epoch, batchId); replayed batches see the
  * marker and no-op (mirror of wal_replay_idempotency.rs).
  */
object IngestSink {

  /** idempotent foreachBatch body — public so replay can be tested
    * directly: calling it twice with one batchId appends once. */
  def appendBatch(layout: TableLayout, table: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val markerDir = new Path(s"${layout.basePath}/_markers/${layout.tenant}/${layout.dataset}/$table")
    val marker = new Path(markerDir, s"batch-$batchId")
    val fs = markerDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // already committed — replay no-op
    Storage.append(batch, layout, table)
    fs.mkdirs(markerDir)
    fs.create(marker, true).close()
  }

  /** Dead-lettering wrapper (reference processor.rs:16-22,125-127: after
    * N consecutive failures an entry's raw payload is preserved under
    * `dead-letter/` and the entry is marked processed, so one poison
    * batch cannot wedge the pipeline). Attempts are counted with marker
    * files next to the commit markers; once exhausted the batch is
    * written verbatim to the dead-letter area and the batch SUCCEEDS —
    * the stream moves on. `write` is the fallible append (injectable so
    * the poison path is testable). */
  def appendBatchDeadLetter(layout: TableLayout, table: String, maxAttempts: Int = 10,
      write: (DataFrame, Long) => Unit = null)(batch: DataFrame, batchId: Long): Unit = {
    val doWrite = Option(write).getOrElse(appendBatch(layout, table) _)
    val spark = batch.sparkSession
    val fs = new Path(layout.basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val attemptsDir = new Path(
      s"${layout.basePath}/_attempts/${layout.tenant}/${layout.dataset}/$table/batch-$batchId")
    val attempts = if (fs.exists(attemptsDir)) fs.listStatus(attemptsDir).length else 0
    if (attempts >= maxAttempts) {
      // poison: preserve the raw payload once, then treat as processed
      val dl = s"${layout.basePath}/dead-letter/${layout.tenant}/${layout.dataset}/$table/batch-$batchId"
      if (!fs.exists(new Path(dl)))
        batch.write.mode("overwrite").parquet(dl)
      return
    }
    try doWrite(batch, batchId)
    catch {
      case e: Throwable =>
        fs.mkdirs(attemptsDir)
        fs.create(new Path(attemptsDir, s"attempt-${attempts + 1}"), true).close()
        throw e // the stream retries; dead-letters once attempts exhaust
    }
  }

  /** wire a streaming DataFrame into the partitioned store; ~5 s trigger
    * mirrors the reference's flush interval. */
  def start(stream: DataFrame, layout: TableLayout, table: String,
      checkpoint: String, triggerMs: Long = 5000L): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch(appendBatch(layout, table) _)
      .start()
}
