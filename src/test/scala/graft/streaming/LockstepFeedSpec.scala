package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The multi-store feed law (q403's dual-store lockstep ingest,
  * `LockstepFeed` scaladoc / README law 10): a crash BETWEEN two
  * lockstep appends leaves a prefix of the stores one batch ahead.
  * The torn window must be per-store read-consistent, the cross-store
  * divergence must be exactly the crashed batch, and a checkpointed
  * replay must heal every store to the uninterrupted outcome. */
class LockstepFeedSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val docs = Seq(
    (2L, "stream processing with hash joins"),
    (4L, "a big corpus needs a hash index"),
    (6L, "nothing relevant here at all"),
    (1L, "stream processing with hash joins"), // exact dup of doc 2
    (3L, "late arriving totally fresh content"))

  private def runFeed(base: String, hdir: String, sdir: String,
      ckpt: String): Unit = {
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/stage")
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(LockstepFeed.body(
        LedgerMaintain.maintainBatch(hdir) _,
        ShingleMaintain.maintainBatch(sdir) _) _)
      .start()
    q.awaitTermination()
  }

  test("crash between lockstep appends: torn window per-store consistent, replay heals") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_lockstep_").toString
    // two NON-EMPTY stage files = two micro-batches (one per trigger)
    docs.take(3).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/stage")
    docs.drop(3).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$base/stage")
    val hdir = s"$base/hash"; val sdir = s"$base/shingle"

    // kill after the LEDGER append of batch 1 — the shingle store never
    // sees the batch (the exact window q403's ingest has)
    LockstepFeed.failpoint = (id, i) =>
      if (id == 1 && i == 0)
        throw new RuntimeException("crash between lockstep appends")
    val err = intercept[Exception] { runFeed(base, hdir, sdir, s"$base/_ckpt") }
    LockstepFeed.failpoint = (_, _) => ()
    assert(err.getMessage != null)

    // torn window: the ledger took batch 1, the shingle store did not —
    // each store is individually read-consistent (complete batch dirs
    // only) but they disagree BY EXACTLY THE CRASHED BATCH
    assert(new java.io.File(s"$hdir/ledger/batch-1/_SUCCESS").exists(),
      "the ledger lost the batch it committed before the crash")
    assert(!new java.io.File(s"$sdir/shingles/batch-1").exists(),
      "the shingle store saw a batch the crash should have withheld")
    val batch1Ids = spark.read.parquet(s"$hdir/ledger/batch-1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(batch1Ids.nonEmpty, "batch 1 served no ledger rows")
    val tornShingleIds = ShingleMaintain.index(spark, sdir)
      .select(col("b_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(batch1Ids.forall(id => !tornShingleIds.contains(id)),
      "the torn shingle store serves rows for the crashed batch")
    // the documented torn probe: a doc the ledger already holds
    // classifies `exact` by hash and `new` by shingles until the heal —
    // doc 1 is an exact dup of doc 2, so whichever batch carried it,
    // SOME state answers; the law is only that each answer comes from a
    // complete per-store view (asserted above), not cross-store accord.

    // heal: same checkpoint replays batch 1 under the SAME id; the
    // ledger's deterministic own-dir overwrite converges, the shingle
    // store catches up
    runFeed(base, hdir, sdir, s"$base/_ckpt")
    LedgerMaintain.compact(spark, hdir)
    ShingleMaintain.compact(spark, sdir)

    // uninterrupted twin run = the oracle
    val h2 = s"$base/hash2"; val s2 = s"$base/shingle2"
    runFeed(base, h2, s2, s"$base/_ckpt2")
    LedgerMaintain.compact(spark, h2)
    ShingleMaintain.compact(spark, s2)

    def ledgerRows(d: String) = LedgerMaintain.ledger(spark, d)
      .select(col("h"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def shingleRows(d: String) = ShingleMaintain.index(spark, d)
      .select(col("b_id"), col("sh"), col("n_b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ledgerRows(hdir) == ledgerRows(h2),
      "replay did not heal the ledger to the uninterrupted outcome")
    assert(shingleRows(sdir) == shingleRows(s2),
      "replay did not heal the shingle store to the uninterrupted outcome")
    assert(ledgerRows(hdir).map(_._2) == docs.map(_._1).toSet,
      "documents lost across the crash-heal cycle")
  }
}
