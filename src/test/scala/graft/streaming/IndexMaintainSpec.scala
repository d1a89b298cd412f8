package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming BM25 maintenance laws: the ranking over a stream-built
  * store is invariant to micro-batching (ingest cadence can never change
  * a search result), and replaying a batch id rewrites identical state. */
class IndexMaintainSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val docs = Seq(
    (1L, "stream processing with hash joins on big data"),
    (2L, "a big big corpus needs a hash index"),
    (3L, "nothing relevant here at all"),
    (4L, "stream stream stream small doc"),
    (5L, "hash hash hash hash big"))

  private def ranking(dir: String) =
    IndexMaintain.bm25(spark, dir, Seq("stream", "hash", "big"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("batching invariance: 3-batch stream store ranks identically to 1-batch") {
    import spark.implicits._
    val d3 = graft.TestDirs.create("graft_idx3_").toString
    val d1 = graft.TestDirs.create("graft_idx1_").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = IndexMaintain.start(in.toDF().toDF("doc_id", "text"), d3)
    try {
      in.addData(docs(0), docs(1)); q.processAllAvailable()
      in.addData(docs(2));          q.processAllAvailable()
      in.addData(docs(3), docs(4)); q.processAllAvailable()
    } finally q.stop()
    IndexMaintain.maintainBatch(d1)(docs.toDF("doc_id", "text"), 0L)
    val r3 = ranking(d3)
    assert(r3 == ranking(d1), "micro-batching changed the ranking")
    assert(r3.nonEmpty && r3.map(_._1).contains(5L))
    // doc 3 matches no term and must be absent
    assert(!r3.map(_._1).contains(3L))
  }

  test("compaction folds batch dirs without changing the ranking; leftovers stay invisible") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxc_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(2).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.slice(2, 3).toDF("doc_id", "text"), 1L)
    IndexMaintain.maintainBatch(dir)(docs.drop(3).toDF("doc_id", "text"), 2L)
    val before = ranking(dir)
    IndexMaintain.compact(spark, dir)
    assert(ranking(dir) == before, "compaction changed the ranking")
    def liveNames(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles().map(_.getName)
        .filterNot(_.startsWith("_")).toSet // _format stamp is metadata
    assert(liveNames("postings") == Set("compact-2") &&
      liveNames("stats") == Set("compact-2"))
    // a crash between a compact's write and its deletes leaves folded
    // batch dirs behind — the live rule must make them INVISIBLE
    IndexMaintain.maintainBatch(dir)(docs.take(2).toDF("doc_id", "text"), 0L)
    assert(ranking(dir) == before, "a folded leftover was double-counted")
    // batches NEWER than the generation still fold in
    IndexMaintain.maintainBatch(dir)(
      Seq((9L, "big hash stream big")).toDF("doc_id", "text"), 3L)
    val after = ranking(dir)
    assert(after != before && after.map(_._1).contains(9L))
    // and a second compact folds generation + newer batches again
    IndexMaintain.compact(spark, dir)
    assert(ranking(dir) == after)
    assert(liveNames("postings") == Set("compact-3"))
  }

  test("in-stream self-compaction bounds the store without changing the ranking") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxself_").toString
    val d1 = graft.TestDirs.create("graft_idxself1_").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = IndexMaintain.start(in.toDF().toDF("doc_id", "text"), dir,
      compactEvery = 2)
    try for (d <- docs) {
      in.addData(d); q.processAllAvailable()
    } finally q.stop()
    IndexMaintain.maintainBatch(d1)(docs.toDF("doc_id", "text"), 0L)
    assert(ranking(dir) == ranking(d1),
      "self-compaction changed the ranking")
    assert(new java.io.File(s"$dir/postings").listFiles()
      .count(!_.getName.startsWith("_")) <= 3,
      "self-compaction did not bound the postings dirs")
  }

  test("a partial generation (no _SUCCESS) never masks its sources; the next compact sweeps it") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxpart_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(3).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.drop(3).toDF("doc_id", "text"), 1L)
    val before = ranking(dir)
    // crash MID-compact: the generation dir exists on disk but its job
    // never committed (no _SUCCESS) — readers must keep the sources live
    assert(new java.io.File(s"$dir/postings/compact-1").mkdirs())
    assert(ranking(dir) == before,
      "a partial generation masked the batches it failed to fold")
    // the next compact folds the REAL live set — into the next sub
    // number (a stranded name is never reused: renaming into it cannot
    // be made atomic against a racer) — and sweeps the partial dir
    IndexMaintain.compact(spark, dir)
    assert(ranking(dir) == before)
    val names = new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    assert(names == Set("compact-1.1"))
    assert(new java.io.File(s"$dir/postings/compact-1.1/_SUCCESS").exists())
  }

  test("the sweep never deletes a batch appended after the fold's snapshot") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxrace_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(3).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.slice(3, 4).toDF("doc_id", "text"), 1L)
    // a concurrent maintainer lands batch 5 between the fold's snapshot
    // and its sweep — emulated by bounding the fold at upTo=1: batch-5
    // is above the generation id and must survive the sweep untouched
    IndexMaintain.maintainBatch(dir)(docs.drop(4).toDF("doc_id", "text"), 5L)
    val before = ranking(dir)
    IndexMaintain.compact(spark, dir, upTo = 1L)
    assert(ranking(dir) == before,
      "the bounded fold lost a concurrently appended batch")
    val names = new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    assert(names == Set("compact-1", "batch-5"))
  }

  test("delete ≡ rebuild: tombstones hide postings and correct stats; compaction purges physically") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxdel_").toString
    val rebuilt = graft.TestDirs.create("graft_idxsurv_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(3).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.drop(3).toDF("doc_id", "text"), 1L)
    // the oracle: an index that NEVER saw docs 1 and 5
    IndexMaintain.maintainBatch(rebuilt)(
      docs.filter(d => d._1 != 1L && d._1 != 5L).toDF("doc_id", "text"), 0L)
    def stat(d: String) = IndexMaintain.stats(spark, d).collect()(0)
    IndexMaintain.deleteDocs(spark, dir, Seq(1L, 5L).toDF("doc_id"), 0L)
    // invisible BEFORE compaction: ranking and corpus stats both match
    // the rebuild, while the raw batch files still hold the dead rows
    assert(ranking(dir) == ranking(rebuilt), "delete≡rebuild pre-compaction")
    assert(stat(dir).getLong(0) == stat(rebuilt).getLong(0) &&
      stat(dir).getLong(1) == stat(rebuilt).getLong(1),
      "stats must subtract the deleted docs' contribution")
    assert(spark.read.parquet(s"$dir/postings/batch-0")
      .filter(col("doc_id") === 1L).count() > 0)
    // compaction drops the dead postings physically, purges the tombstone
    IndexMaintain.compact(spark, dir)
    assert(ranking(dir) == ranking(rebuilt), "delete≡rebuild post-compaction")
    assert(spark.read.parquet(s"$dir/postings/compact-1")
      .filter(col("doc_id").isin(1L, 5L)).count() == 0,
      "the generation must not contain tombstoned rows")
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles().isEmpty,
      "a fully-covered tombstone must be purged")
    // deleting an ALREADY-DELETED doc must not re-subtract its stats
    IndexMaintain.deleteDocs(spark, dir, Seq(5L, 3L).toDF("doc_id"), 1L)
    assert(stat(dir).getLong(0) == stat(rebuilt).getLong(0) - 1L,
      "only the still-visible doc may subtract")
    assert(ranking(dir).forall(_._1 != 3L))
  }

  test("a document re-appended after a delete resurfaces (tombstones are source-bounded)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxre_").toString
    IndexMaintain.maintainBatch(dir)(docs.toDF("doc_id", "text"), 0L)
    IndexMaintain.deleteDocs(spark, dir, Seq(5L).toDF("doc_id"), 0L)
    assert(ranking(dir).forall(_._1 != 5L), "deleted doc still served")
    // the doc returns in a LATER batch — a tombstone covers only the
    // postings that existed at delete time, never the re-append
    IndexMaintain.maintainBatch(dir)(
      docs.filter(_._1 == 5L).toDF("doc_id", "text"), 1L)
    assert(ranking(dir).exists(_._1 == 5L),
      "re-appended doc was killed by the older tombstone")
    // stats: −1 from the delete, +1 from the re-append — net = full corpus
    val st = IndexMaintain.stats(spark, dir).collect()(0)
    assert(st.getLong(0) == docs.length.toLong,
      "stats must net out after delete + re-append")
    // compaction keeps the re-appended postings and purges the tombstone
    IndexMaintain.compact(spark, dir)
    assert(ranking(dir).exists(_._1 == 5L),
      "compaction dropped the re-appended doc")
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles().isEmpty)
  }

  test("a legacy store (postings written before `src` existed) keeps honoring tombstones") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxleg_").toString
    IndexMaintain.maintainBatch(dir)(docs.toDF("doc_id", "text"), 0L)
    // simulate a pre-`src` on-disk store: rewrite the batch without the
    // column; it reads back NULL under the current schema. NULL must
    // mean always-covered (the old unconditional-kill semantics) — a
    // NULL-poisoned join condition would silently KEEP every deleted
    // row and the next compact would purge the tombstone, making the
    // loss of the delete permanent.
    val stripped = spark.read.parquet(s"$dir/postings/batch-0").drop("src")
    val rows = stripped.collect().toIndexedSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), stripped.schema)
      .write.mode("overwrite").parquet(s"$dir/postings/batch-0")
    IndexMaintain.deleteDocs(spark, dir, Seq(5L).toDF("doc_id"), 0L)
    assert(ranking(dir).forall(_._1 != 5L),
      "tombstone stopped applying on a legacy (src-less) store")
    // compaction physically drops the dead rows, same as a new store
    IndexMaintain.compact(spark, dir)
    assert(ranking(dir).forall(_._1 != 5L))
    assert(spark.read.parquet(s"$dir/postings/compact-0")
      .filter(col("doc_id") === 5L).count() == 0)
  }

  test("replaying a batch id rewrites identical state") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_idxr_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(3).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.drop(3).toDF("doc_id", "text"), 1L)
    val before = ranking(dir)
    val statsBefore = IndexMaintain.stats(spark, dir).collect()(0)
    IndexMaintain.maintainBatch(dir)(docs.drop(3).toDF("doc_id", "text"), 1L)
    assert(ranking(dir) == before)
    val statsAfter = IndexMaintain.stats(spark, dir).collect()(0)
    assert(statsAfter.getLong(0) == statsBefore.getLong(0) &&
      statsAfter.getLong(1) == statsBefore.getLong(1),
      "replay must not double-count corpus stats")
  }
}
