package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SHINGLE-INDEX maintenance under streaming ingest — the online half
  * of q379's near-dup index (the ledger's sibling, so BOTH corpus-side
  * relations of the incremental delta-dedup probe now have maintained
  * twins): documents arrive forever; their shingle rows — with the
  * per-doc shingle count DENORMALIZED into every row, q379's no-sizes-
  * join-at-probe-time discipline — must stay current without a rebuild.
  *
  * A document's shingles derive wholly from its own row, so each
  * micro-batch folds with no read-back: shingle rows + in-batch counts.
  * ANY micro-batching yields the identical index (batching-invariance
  * law, ShingleMaintainSpec); replay overwrites only the batch's own
  * dir. Retention deletes are coverage-bounded tombstones by the
  * holding doc id; compaction clusters generations on `sh` so probe
  * equi-joins prune row groups.
  *
  * Store lifecycle laws shared with the other maintainers: see
  * `src/main/scala/graft/streaming/README.md`. */
object ShingleMaintain {

  private val idxSchema = StructType(Seq(
    StructField("b_id", LongType), StructField("sh", StringType),
    StructField("n_b", LongType), StructField("src", LongType)))

  /** foreachBatch body: fold a micro-batch of documents — columns
    * (doc_id, text) — into the shingle index at `dir`. */
  def maintainBatch(dir: String, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    // format gate FIRST: refuse a future-version store before any write
    BatchStore.stampFormat(batch.sparkSession, s"$dir/shingles")
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      compact(batch.sparkSession, dir, upTo = batchId - 1)
    val sh = graft.operators.PipelineOps.deltaShingles(
      batch.select(col("doc_id").cast(LongType), col("text")))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
    sh.join(sizes, "doc_id")
      .select(col("doc_id").as("b_id"), col("sh"), col("n_b"))
      .withColumn("src", lit(batchId))
      .sortWithinPartitions(col("sh")) // row-group stats prune probes
      .write.mode("overwrite").parquet(s"$dir/shingles/batch-$batchId")
  }

  /** delete documents from the index (the retention hook). */
  def deleteDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      deleteId: Long): Unit = {
    val covers = BatchStore.liveDirs(spark, s"$dir/shingles")
      .map(d => BatchStore.genOf(new Path(d).getName))
      .sorted.lastOption.getOrElse(-1L)
    Tombstones.write(spark, dir,
      docIds.withColumnRenamed("doc_id", "b_id"), "b_id", deleteId, covers)
  }

  /** all LIVE shingle rows ([[BatchStore]] rule) minus tombstoned docs —
    * (b_id, sh, n_b), the corpus side of the near-dup candidate join. */
  def index(spark: SparkSession, dir: String): DataFrame =
    Tombstones.antiTomb(
      BatchStore.read(spark, s"$dir/shingles", idxSchema),
      Tombstones.rows(spark, dir, "b_id"), "b_id").drop("src")

  /** fold the per-batch dirs into one sh-clustered generation;
    * tombstoned rows drop physically, covered tombstones purge. */
  def compact(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Unit = {
    val tombs = Tombstones.dirs(spark, dir)
    val dead = Tombstones.rows(spark, dir, "b_id")
    val folded = BatchStore.liveDirs(spark, s"$dir/shingles")
      .map(d => BatchStore.genOf(new Path(d).getName)).filter(_ <= upTo)
    val won = BatchStore.compact(spark, s"$dir/shingles", idxSchema,
      df => Tombstones.antiTomb(df, dead, "b_id")
        .sortWithinPartitions(col("sh")),
      upTo, force = tombs.nonEmpty)
    if (won && folded.nonEmpty)
      Tombstones.purgeCovered(spark, dir, tombs, folded.max)
  }
}
