package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.storage.Gorilla

/** Gorilla metric blocks (VLDB'15) under STREAMING ingest — the online
  * twin of the batch block builder (q367): continuously-arriving metric
  * points fold into (series, day)-keyed compressed blocks, the shape the
  * reference engine's metrics domain actually runs (points arrive
  * forever; blocks must stay finite and current).
  *
  * Per micro-batch the maintenance is bounded:
  *   1. group the batch's points by (event_type, day);
  *   2. read back ONLY the touched keys' LATEST block revisions,
  *      decompress them (per-block cost — a block is one day of one
  *      series, finite by the time-keyed partitioning);
  *   3. merge old + new points and recompress → a NEW REVISION row.
  * Work per batch is O(batch + touched blocks), never O(history): the
  * block store lives under the [[BatchStore]] live-dir rule, and
  * [[compact]] periodically folds committed batches to the latest
  * revision per key — the read-back in step 2 scans the newest
  * generation plus the batches since it, not every dir ever written.
  *
  * Revisions make LATE POINTS honest: a point for an already-written
  * day lands as a higher revision of that block — consumers take
  * max(revision) per key and see the corrected block; nothing is
  * silently dropped or double-kept. [[latest]] also
  * derives the CLOSED flag from the global high-water mark (day end +
  * lateness passed — `Storage`'s closed-hour compaction gate at day
  * granularity): closed blocks are final unless a late revision
  * supersedes them, which the revision column makes visible.
  *
  * Replay is exactly once WITHOUT markers: batch `n`'s output is written
  * by OVERWRITE to its own `batches/batch-n` dir, and the read-back in
  * step 2 folds only batches `< n` — so replaying batch `n` recomputes
  * from exactly the pre-`n` state and overwrites the same dir with the
  * same rows (sources replay the same data per batch id).
  *
  * Merge ordering: stored points keep block order, new points sort by
  * (us, event_id) and a STABLE sort by `us` interleaves them — on
  * tie-free series (timestamps unique per series, the metric contract)
  * the final block is bit-identical to the batch compressor's output no
  * matter how ingest was micro-batched; GorillaStreamSpec pins that law.
  */
object GorillaStream {

  private val blockSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("day", LongType),
    StructField("revision", LongType), StructField("n_points", LongType),
    StructField("max_us", LongType), StructField("block", BinaryType)))

  private val usPerDay = 86400000000L

  /** all committed block revisions from batches strictly before
    * `beforeBatch` (Long.MaxValue = everything), resolved through the
    * [[BatchStore]] live-dir rule: the newest COMPLETE compacted
    * generation below `beforeBatch` plus the batch dirs newer than it —
    * per-read work is O(live dirs), never O(batches ever written). A
    * generation's id never exceeds the committed batch id [[compact]]
    * was bounded by, so a replayed batch `n` (> committed) still
    * reconstructs exactly the pre-`n` state. */
  private def revisions(spark: SparkSession, dir: String,
      beforeBatch: Long): DataFrame =
    BatchStore.read(spark, s"$dir/batches", blockSchema, beforeBatch)

  /** fold the live batch dirs with id ≤ `upToBatch` into one compacted
    * generation holding only the LATEST revision per (event_type, day)
    * — superseded revisions are physically dropped; `latest()` output
    * is unchanged by construction. REPLAY SAFETY: `upToBatch` must not
    * exceed the stream's last COMMITTED batch id (after an
    * AvailableNow termination, any id is committed) — the maintainer's
    * read-back folds batches < n, and a compacted generation at
    * g ≤ committed < n is exactly that prefix. */
  def compact(spark: SparkSession, dir: String, upToBatch: Long): Unit =
    BatchStore.compact(spark, s"$dir/batches", blockSchema, { df =>
      val top = df.groupBy(col("event_type"), col("day"))
        .agg(max(col("revision")).as("revision"))
      df.join(top, Seq("event_type", "day", "revision"))
        .select(col("event_type"), col("day"), col("revision"),
          col("n_points"), col("max_us"), col("block"))
    }, upTo = upToBatch)

  /** batch dirs currently live in the store — the O(live dirs) probe
    * for specs (reading cost is proportional to this, not history). */
  def liveDirCount(spark: SparkSession, dir: String): Int =
    BatchStore.liveDirs(spark, s"$dir/batches").size

  /** latest revision per (event_type, day). */
  def latest(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame = {
    val all = revisions(spark, dir, beforeBatch)
    val top = all.groupBy(col("event_type"), col("day"))
      .agg(max(col("revision")).as("revision"))
    all.join(top, Seq("event_type", "day", "revision"))
      .select(col("event_type"), col("day"), col("revision"),
        col("n_points"), col("max_us"), col("block"))
  }

  /** [[latest]] plus the closed-day gate: a block is CLOSED once the
    * global high-water mark has passed its day end by `latenessUs` —
    * final unless a late revision supersedes it. */
  def latestWithClosed(spark: SparkSession, dir: String,
      latenessUs: Long): DataFrame = {
    val l = latest(spark, dir)
    val hwm = l.agg(max(col("max_us"))).collect()(0)
    val h = if (hwm.isNullAt(0)) Long.MinValue else hwm.getLong(0)
    l.withColumn("closed",
      lit(h) >= (col("day") + 1) * usPerDay + latenessUs)
  }

  /** foreachBatch body: fold a micro-batch of points — columns
    * (event_type, us, event_id, value) — into the block store. With
    * `compactEvery` > 0 the maintainer SELF-COMPACTS every that many
    * batches, bounding live-dir count for a stream that runs forever:
    * when batch `n` executes, every batch < n is committed by the
    * engine, so folding up to n−1 is replay-safe — a replayed batch n
    * reads the generation as exactly its pre-`n` state. */
  def maintainBatch(dir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, dir, upToBatch = batchId - 1)
    val spark = batch.sparkSession
    import spark.implicits._
    val pts = batch
      .select(col("event_type"), col("us").cast(LongType),
        col("event_id").cast(LongType), col("value").cast(DoubleType))
      .as[(String, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2 / usPerDay))
    val prev = latest(spark, dir, beforeBatch = batchId)
      .as[(String, Long, Long, Long, Long, Array[Byte])]
      .groupByKey(b => (b._1, b._2))
    val merged = pts.cogroup(prev) { case ((typ, day), newIt, oldIt) =>
      val fresh = newIt.toArray.sortBy(r => (r._2, r._3))
      if (fresh.isEmpty) Iterator.empty // untouched key: no new revision
      else {
        val old = oldIt.toArray.sortBy(-_._3).headOption
        val (ots, ovs) = old.map { b =>
          Gorilla.decompress(b._6).getOrElse(
            throw new IllegalStateException(
              s"stored block ($typ, $day) rev ${b._3} does not decode"))
        }.getOrElse((Array.empty[Long], Array.empty[Double]))
        val allTs = ots ++ fresh.map(_._2)
        val allVs = ovs ++ fresh.map(_._4)
        // stable by us: stored points (first in the concat) stay ahead
        // of new ties, new ties stay in (us, event_id) order
        val order = allTs.indices.sortBy(allTs(_))
        val mts = order.map(allTs(_)).toArray
        val mvs = order.map(allVs(_)).toArray
        Iterator((typ, day, old.map(_._3).getOrElse(0L) + 1L,
          mts.length.toLong, mts.max, Gorilla.compress(mts, mvs)))
      }
    }.toDF("event_type", "day", "revision", "n_points", "max_us", "block")
    // overwrite the batch's OWN dir: replay rewrites identical content
    merged.write.mode("overwrite").parquet(s"$dir/batches/batch-$batchId")
  }

  /** start maintaining blocks from a streaming points frame (columns
    * event_type, us, event_id, value); `compactEvery` > 0 turns on
    * in-stream self-compaction. `checkpoint`: where the query commits.
    * A stored entry passes a directory inside itself, so a rebuild
    * empties it too; without one, Spark makes a `temporary-*`
    * checkpoint under the system temp dir. */
  def start(points: DataFrame, dir: String,
      trigger: Trigger = Trigger.ProcessingTime(500),
      compactEvery: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(points.isStreaming, "GorillaStream needs a streaming source")
    val w = points.writeStream
      .outputMode("append")
      .trigger(trigger)
    checkpoint.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(maintainBatch(dir, compactEvery) _)
      .start()
  }
}
