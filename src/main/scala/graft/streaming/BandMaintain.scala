package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** VIDEO BAND-INDEX maintenance under streaming ingest — q394's online
  * half (the third maintained index, after text q383 and vectors q384):
  * fingerprinted videos arrive forever; each must become probeable
  * without re-reading — let alone re-decoding — the corpus.
  *
  * The heavy work (MPEG decode → per-frame gradient-sign dHash) happens
  * ONCE in the ingest plan; the maintainer's input is the fingerprint
  * row (doc_id, b1..b4, fp), and its fold is a pure stateless explode
  * into band rows (bk = f·2¹⁵ + band, doc_id, fp) — per-row
  * independent, so ANY micro-batching yields the identical store (the
  * batching-invariance law, BandMaintainSpec) and replay overwrites
  * only the batch's own dir (exactly-once, the GorillaStream
  * discipline). Retention deletes are coverage-bounded tombstones by
  * doc_id; compaction applies them physically and clusters the
  * generation on the band key so probe equi-joins prune row groups.
  *
  * At 100 TB: O(batch) work per fold, the corpus side never re-shuffles
  * or re-decodes, and a probe broadcasts its (small) band rows into the
  * bk-sorted store scan — the q394 shape, stream-built.
  *
  * BandMaintain owns the band key: [[bandRows]] is the only encoding
  * of (f, band) as bk, used by the store's fold and by every probe and
  * pair join over band rows, so a stored key and a probe key cannot
  * drift apart.
  *
  * Store lifecycle laws shared with the other maintainers: see
  * `src/main/scala/graft/streaming/README.md`. Reference shape:
  * `/root/reference/src/writer/src/processor.rs:31-46` (micro-batch
  * commit coalescing). */
object BandMaintain {

  private val bandSchema = StructType(Seq(
    StructField("bk", LongType), StructField("doc_id", LongType),
    StructField("fp", LongType), StructField("src", LongType)))

  /** foreachBatch body: fold a micro-batch of video fingerprints —
    * columns (doc_id, b1, b2, b3, b4, fp) — into the band store at
    * `dir`. With `compactEvery` > 0 the maintainer self-compacts every
    * that many batches (replay-safe: bounded at batchId − 1). */
  def maintainBatch(dir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    // format gate FIRST: refuse a future-version store before any write
    BatchStore.stampFormat(batch.sparkSession, s"$dir/bands")
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, dir, upTo = batchId - 1)
    bandRows(batch)
      .select(col("bk"), col("doc_id").cast(LongType), col("fp").cast(LongType))
      // src = the batch that wrote the row: a tombstone kills only rows
      // whose source existed at delete time (src ≤ its covers)
      .withColumn("src", lit(batchId))
      .sortWithinPartitions(col("bk")) // row-group stats prune bk probes
      .write.mode("overwrite").parquet(s"$dir/bands/batch-$batchId")
  }

  /** THE band key: explode (…, b1..b4, fp) fingerprints into one row
    * per frame band, keeping every other column and replacing b1..b4
    * by bk = f·2¹⁵ + band (f = 0..3). Every band fits in 15 bits
    * (audio 15, MPEG 12, H.264 9), so bk equality is (f, band)
    * equality. */
  def bandRows(fps: DataFrame): DataFrame = {
    val bands = Seq("b1", "b2", "b3", "b4")
    fps.select(fps.columns.filterNot(bands.contains).map(col).toSeq :+
      explode(array(bands.zipWithIndex.map { case (b, f) =>
        lit(f * 32768L) + col(b).cast(LongType) }: _*)).as("bk"): _*)
  }

  /** `checkpoint`: where the query commits. A stored entry passes a
    * directory inside itself, so a rebuild empties it too; without one,
    * Spark makes a `temporary-*` checkpoint under the system temp dir. */
  def start(fps: DataFrame, dir: String,
      trigger: Trigger = Trigger.ProcessingTime(500),
      compactEvery: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(fps.isStreaming, "BandMaintain needs a streaming source")
    val w = fps.writeStream.outputMode("append").trigger(trigger)
    checkpoint.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(maintainBatch(dir, compactEvery) _).start()
  }

  /** delete videos from the maintained index (the retention hook):
    * their band rows stop serving immediately (reads anti-join), and
    * vanish physically at the next compaction. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      deleteId: Long): Unit = {
    val covers = BatchStore.liveDirs(spark, s"$dir/bands")
      .map(d => BatchStore.genOf(new Path(d).getName))
      .sorted.lastOption.getOrElse(-1L)
    Tombstones.write(spark, dir, docIds, "doc_id", deleteId, covers)
  }

  /** all LIVE band rows ([[BatchStore]] rule) minus tombstoned videos —
    * (bk, doc_id, fp), the probe side of every band join. */
  def bands(spark: SparkSession, dir: String): DataFrame =
    Tombstones.antiTomb(
      BatchStore.read(spark, s"$dir/bands", bandSchema),
      Tombstones.rows(spark, dir, "doc_id"), "doc_id").drop("src")

  /** fold the per-batch dirs into one compacted generation, clustered
    * on the band key; tombstoned rows are physically dropped and
    * fully-covered tombstones purged (winner-only). */
  def compact(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Unit = {
    val tombs = Tombstones.dirs(spark, dir)
    val dead = Tombstones.rows(spark, dir, "doc_id")
    val folded = BatchStore.liveDirs(spark, s"$dir/bands")
      .map(d => BatchStore.genOf(new Path(d).getName)).filter(_ <= upTo)
    val won = BatchStore.compact(spark, s"$dir/bands", bandSchema,
      df => Tombstones.antiTomb(df, dead, "doc_id")
        .sortWithinPartitions(col("bk")),
      upTo, force = tombs.nonEmpty)
    if (won && folded.nonEmpty)
      Tombstones.purgeCovered(spark, dir, tombs, folded.max)
  }
}
