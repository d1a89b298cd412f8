package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** EXACT-DEDUP LEDGER maintenance under streaming ingest — the online
  * half of q379's content-hash ledger, completing the maintained-index
  * matrix (text q383, vectors q384, video bands q397): documents arrive
  * forever; the ledger of content hashes must stay current so every new
  * drop can exact-classify against it without rescanning the corpus.
  *
  * A micro-batch's fold is stateless per row — (h = md5(text), doc_id)
  * — so ANY micro-batching yields the identical ledger (the
  * batching-invariance law, LedgerMaintainSpec); replay overwrites only
  * the batch's own dir (exactly-once). Retention deletes are
  * coverage-bounded tombstones BY doc_id: dropping one holder of a hash
  * leaves the hash live through its other holders, row-level semantics
  * for free. Compaction clusters generations on `h` so probe equi-joins
  * prune row groups; the write-time BUCKETED batch ledger (q379) stays
  * the exchange-free probe path — this is its always-current twin.
  *
  * Store lifecycle laws shared with the other maintainers: see
  * `src/main/scala/graft/streaming/README.md`. */
object LedgerMaintain {

  private val ledgerSchema = StructType(Seq(
    StructField("h", StringType), StructField("doc_id", LongType),
    StructField("src", LongType)))

  /** foreachBatch body: fold a micro-batch of documents — columns
    * (doc_id, text) — into the ledger at `dir`. */
  def maintainBatch(dir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    // format gate FIRST: refuse a future-version store before any write
    BatchStore.stampFormat(batch.sparkSession, s"$dir/ledger")
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, dir, upTo = batchId - 1)
    batch.select(md5(col("text")).as("h"), col("doc_id").cast(LongType))
      .withColumn("src", lit(batchId))
      .sortWithinPartitions(col("h")) // row-group stats prune hash probes
      .write.mode("overwrite").parquet(s"$dir/ledger/batch-$batchId")
  }

  /** `checkpoint`: where the query commits. A stored entry passes a
    * directory inside itself, so a rebuild empties it too; without one,
    * Spark makes a `temporary-*` checkpoint under the system temp dir. */
  def start(docs: DataFrame, dir: String,
      trigger: Trigger = Trigger.ProcessingTime(500),
      compactEvery: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(docs.isStreaming, "LedgerMaintain needs a streaming source")
    val w = docs.writeStream.outputMode("append").trigger(trigger)
    checkpoint.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(maintainBatch(dir, compactEvery) _).start()
  }

  /** delete documents from the ledger (the retention hook): their rows
    * stop serving immediately; a hash survives through other holders. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      deleteId: Long): Unit = {
    val covers = BatchStore.liveDirs(spark, s"$dir/ledger")
      .map(d => BatchStore.genOf(new Path(d).getName))
      .sorted.lastOption.getOrElse(-1L)
    Tombstones.write(spark, dir, docIds, "doc_id", deleteId, covers)
  }

  /** all LIVE ledger rows ([[BatchStore]] rule) minus tombstoned docs —
    * (h, doc_id), the corpus side of every exact-dedup probe. */
  def ledger(spark: SparkSession, dir: String): DataFrame =
    Tombstones.antiTomb(
      BatchStore.read(spark, s"$dir/ledger", ledgerSchema),
      Tombstones.rows(spark, dir, "doc_id"), "doc_id").drop("src")

  /** fold the per-batch dirs into one compacted generation, clustered
    * on the hash; tombstoned rows drop physically, covered tombstones
    * purge (winner-only). */
  def compact(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Unit = {
    val tombs = Tombstones.dirs(spark, dir)
    val dead = Tombstones.rows(spark, dir, "doc_id")
    val folded = BatchStore.liveDirs(spark, s"$dir/ledger")
      .map(d => BatchStore.genOf(new Path(d).getName)).filter(_ <= upTo)
    val won = BatchStore.compact(spark, s"$dir/ledger", ledgerSchema,
      df => Tombstones.antiTomb(df, dead, "doc_id")
        .sortWithinPartitions(col("h")),
      upTo, force = tombs.nonEmpty)
    if (won && folded.nonEmpty)
      Tombstones.purgeCovered(spark, dir, tombs, folded.max)
  }
}
