package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** LEXICAL-INDEX maintenance under streaming ingest — the online half of
  * q381's incremental BM25 store: documents arrive forever; the postings
  * and corpus stats must stay current without any rebuild.
  *
  * BM25's sufficient statistics are ASSOCIATIVE SUMS (per-term document
  * frequency, corpus doc count, total token count), so — unlike the
  * Gorilla maintainer, which must read back and re-encode touched blocks
  * — each micro-batch folds with NO read-back at all: batch `n` writes
  * its own postings and stats files, readers union postings and ADD
  * stats rows. Work per batch is O(batch); replay is exactly-once
  * because batch `n` overwrites only its own `batch-n` dirs with
  * deterministic content (the GorillaStream discipline).
  *
  * The batching-invariance law (IndexMaintainSpec): ANY micro-batching
  * of the same document set yields a store whose BM25 ranking is
  * row-identical — ingest cadence can never change a search result.
  *
  * Store lifecycle laws shared with the other maintainers: see
  * `src/main/scala/graft/streaming/README.md`. */
object IndexMaintain {

  private val postingsSchema = StructType(Seq(
    StructField("tok", StringType), StructField("doc_id", LongType),
    StructField("dl", LongType), StructField("tf", LongType),
    StructField("src", LongType)))
  private val statsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("tot_tok", LongType)))

  /** foreachBatch body: fold a micro-batch of documents — columns
    * (doc_id, text) — into the index store at `dir`. With
    * `compactEvery` > 0 the maintainer self-compacts every that many
    * batches (replay-safe: when batch n runs, batches < n are
    * committed, and the fold is bounded at n−1). */
  def maintainBatch(dir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    // format gate FIRST: refuse a future-version store BEFORE any side
    // effect — stamping after the write would land a live this-version
    // batch dir a newer reader then serves under newer assumptions
    BatchStore.stampFormat(batch.sparkSession, s"$dir/postings")
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, dir, upTo = batchId - 1)
    val docs = batch
      .select(col("doc_id").cast(LongType), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType))
    docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      // src = the batch that wrote the row: a tombstone kills only rows
      // whose source existed at delete time (src ≤ its covers)
      .withColumn("src", lit(batchId))
      .sortWithinPartitions(col("tok")) // row-group stats prune IN-list probes
      .write.mode("overwrite").parquet(s"$dir/postings/batch-$batchId")
    docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tok"))
      .write.mode("overwrite").parquet(s"$dir/stats/batch-$batchId")
  }

  /** `checkpoint`: where the query commits. A stored entry passes a
    * directory inside itself, so a rebuild empties it too; without one,
    * Spark makes a `temporary-*` checkpoint under the system temp dir. */
  def start(docs: DataFrame, dir: String,
      trigger: Trigger = Trigger.ProcessingTime(500),
      compactEvery: Int = 0,
      checkpoint: Option[String] = None): StreamingQuery = {
    require(docs.isStreaming, "IndexMaintain needs a streaming source")
    val w = docs.writeStream.outputMode("append").trigger(trigger)
    checkpoint.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(maintainBatch(dir, compactEvery) _).start()
  }

  // ---- deletes (tombstones) ---------------------------------------------
  // Retention drops documents; the index must stop serving their
  // postings WITHOUT a rebuild. A delete writes
  //   tombstones/del-<id>-c<covers>   the dead doc_ids; `covers` = the
  //                                   max postings batch id visible at
  //                                   delete time, so a purge can prove
  //                                   every batch the tombstone could
  //                                   kill has been folded
  //   stats_adj/batch-<id>            ONE negative stats row (-n_docs,
  //                                   -Σdl) — corpus stats are
  //                                   associative sums, so a delete is
  //                                   just another addend; its own
  //                                   BatchStore (own id space) so
  //                                   delete ids can never collide with
  //                                   (or mask) stream batch ids.
  // Reads anti-join the live tombstones BOUNDED BY COVERAGE (a
  // tombstone kills only postings whose source batch existed at delete
  // time — src ≤ covers — so a document re-appended after a delete
  // resurfaces); [[compact]] applies them physically to the postings
  // generation and purges the tombstones whose coverage folded. Every
  // crash point is read-consistent: a tombstone is either live
  // (anti-joined) or its targets are gone.

  // tombstone mechanics (dir layout, coverage bound, NULL-src legacy
  // rule, anti-join) live in [[Tombstones]], shared with AnnMaintain
  // and BandMaintain
  private def tombstones(spark: SparkSession, dir: String,
      except: Long = -1L): DataFrame =
    Tombstones.rows(spark, dir, "doc_id", except)

  private def antiTomb(post: DataFrame, tomb: DataFrame,
      key: String): DataFrame = Tombstones.antiTomb(post, tomb, key)

  /** delete documents from the maintained index (the retention hook):
    * tombstone their postings and subtract their corpus-stats
    * contribution. Only docs still VISIBLE are counted (a doc already
    * tombstoned by an earlier delete, or never indexed, must not
    * re-subtract); re-running the same `deleteId` before any new
    * appends overwrites its own dirs with identical content. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      deleteId: Long): Unit = {
    val dead = docIds.select(col("doc_id").cast(LongType)).distinct()
    val covers = BatchStore.liveDirs(spark, s"$dir/postings")
      .map(d => BatchStore.genOf(new Path(d).getName))
      .sorted.lastOption.getOrElse(-1L)
    val visible = antiTomb(
        BatchStore.read(spark, s"$dir/postings", postingsSchema),
        tombstones(spark, dir, except = deleteId), "doc_id")
      .join(dead, Seq("doc_id"))
      .select(col("doc_id"), col("dl")).distinct()
      .cache()
    try {
      Tombstones.write(spark, dir, visible.select(col("doc_id")),
        "doc_id", deleteId, covers)
      visible.agg((-count(lit(1))).as("n_docs"),
          coalesce(-sum(col("dl")), lit(0L)).as("tot_tok"))
        .write.mode("overwrite").parquet(s"$dir/stats_adj/batch-$deleteId")
    } finally visible.unpersist()
  }

  /** fold the accumulated per-batch dirs into ONE compacted generation —
    * the maintenance pass that keeps an append-only store from drowning
    * in small files at 100 TB (the [[BatchStore]] live-dir rule makes
    * every intermediate crash state read-consistent). `upTo` bounds the
    * fold to batches a concurrent maintainer has already committed.
    * Tombstoned postings are PHYSICALLY dropped from the new
    * generation; a tombstone is purged once every batch it covers has
    * folded (crash between fold and purge is safe — the anti-join is a
    * no-op on already-purged rows). */
  def compact(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Unit = {
    val tombs = Tombstones.dirs(spark, dir)
    val dead = tombstones(spark, dir)
    val folded = BatchStore.liveDirs(spark, s"$dir/postings")
      .map(d => BatchStore.genOf(new Path(d).getName)).filter(_ <= upTo)
    // tombstone purge is WINNER-ONLY: the CAS inside BatchStore.compact
    // decides which of two racing maintainers committed the fold — a
    // loser purging tombstones whose postings it never folded would
    // resurrect deleted docs
    val won = BatchStore.compact(spark, s"$dir/postings", postingsSchema,
      df => antiTomb(df, dead, "doc_id").sortWithinPartitions(col("tok")),
      upTo, force = tombs.nonEmpty)
    if (won && folded.nonEmpty)
      Tombstones.purgeCovered(spark, dir, tombs, folded.max)
    BatchStore.compact(spark, s"$dir/stats", statsSchema,
      _.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tot_tok")).as("tot_tok")), upTo)
    BatchStore.compact(spark, s"$dir/stats_adj", statsSchema,
      _.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("tot_tok")).as("tot_tok")))
  }

  def postings(spark: SparkSession, dir: String): DataFrame =
    antiTomb(BatchStore.read(spark, s"$dir/postings", postingsSchema),
      tombstones(spark, dir), "doc_id").drop("src")

  def stats(spark: SparkSession, dir: String): DataFrame =
    BatchStore.read(spark, s"$dir/stats", statsSchema)
      .unionByName(BatchStore.read(spark, s"$dir/stats_adj", statsSchema))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_tok")).as("tot_tok"))

  /** the q187/q381 exact fixed-point BM25 ranking over the maintained
    * store: per-term df from the pruned postings themselves, corpus
    * stats from the summed rows. */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String],
      limit: Int = 20): DataFrame = {
    val tfs = postings(spark, dir).filter(col("tok").isin(terms: _*))
    val st = stats(spark, dir)
      .withColumn("avgdl_fp", expr("(tot_tok * 1000) div n_docs"))
    val dfs = tfs.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
    tfs.join(broadcast(dfs), "tok").crossJoin(broadcast(st))
      .withColumn("idf_fp",
        expr("((2 * (n_docs - dfc) + 1) * 1000000) div (2 * dfc + 1)"))
      .withColumn("dlr_fp", expr("(dl * 1000000) div avgdl_fp"))
      .withColumn("k_fp", expr("(1200 * (250 + (750 * dlr_fp) div 1000)) div 1000"))
      .withColumn("term_fp", expr("(idf_fp * tf * 2200) div (tf * 1000 + k_fp)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(limit)
  }
}
