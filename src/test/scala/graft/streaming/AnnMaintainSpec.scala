package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ANN maintenance laws: assignment to frozen centroids is
  * per-vector, so any micro-batching appends the identical postings set;
  * replay rewrites identical state; frozen centroids are never touched. */
class AnnMaintainSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private def mkCentroids(dir: String): String = {
    import spark.implicits._
    // two well-separated 4-dim centroids
    Seq((0L, Seq(1000000L, 0L, 0L, 0L)), (1L, Seq(0L, 1000000L, 0L, 0L)))
      .toDF("c_id", "cv")
      .withColumn("cn", expr(
        "aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .write.mode("overwrite").parquet(s"$dir/centroids")
    s"$dir/centroids"
  }

  private val vecs = Seq(
    (10L, Seq(900000L, 100000L, 0L, 0L)),  // → cell 0
    (11L, Seq(100000L, 900000L, 0L, 0L)),  // → cell 1
    (12L, Seq(800000L, 50000L, 10L, 0L)),  // → cell 0
    (13L, Seq(0L, 700000L, 0L, 5L)))       // → cell 1

  private def withNorm(rows: Seq[(Long, Seq[Long])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "vq").withColumn("nrm", expr(
      "aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
  }

  private def state(dir: String) =
    AnnMaintain.postings(spark, dir)
      .select(col("n_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batching invariance + correct frozen-centroid assignment") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_annm_").toString
    val cp = mkCentroids(base)
    val d2 = s"$base/two"; val d1 = s"$base/one"
    val in = MemoryStream[(Long, Seq[Long])](spark)
    val q = AnnMaintain.start(
      in.toDF().toDF("vec_id", "vq").withColumn("nrm", expr(
        "aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)")),
      d2, cp)
    try {
      in.addData(vecs(0), vecs(1)); q.processAllAvailable()
      in.addData(vecs(2), vecs(3)); q.processAllAvailable()
    } finally q.stop()
    AnnMaintain.maintainBatch(d1, cp)(withNorm(vecs), 0L)
    val got = state(d2)
    assert(got == state(d1), "micro-batching changed the postings")
    assert(got == Set((10L, 0L), (12L, 0L), (11L, 1L), (13L, 1L)))
    // the frozen centroids were never rewritten by the stream
    assert(spark.read.parquet(cp).count() == 2)
  }

  test("replaying a batch id rewrites identical postings") {
    val base = graft.TestDirs.create("graft_annr_").toString
    val cp = mkCentroids(base)
    val dir = s"$base/idx"
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs.take(2)), 0L)
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs.drop(2)), 1L)
    val before = state(dir)
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs.drop(2)), 1L)
    assert(state(dir) == before)
    assert(AnnMaintain.postings(spark, dir).count() == 4,
      "replay must not duplicate postings")
    // compaction folds the batch dirs and changes nothing a probe sees
    AnnMaintain.compact(spark, dir)
    assert(state(dir) == before)
    assert(new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filterNot(_.startsWith("_")).toSet == Set("compact-1"))
  }

  test("centroid refresh recovers recall on a drifted corpus; the swap is atomic") {
    val base = graft.TestDirs.create("graft_annref_").toString
    val cp = mkCentroids(base) // bootstrap: e1/e2 only — blind to drift
    val dir = s"$base/idx"
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs), 0L)
    // drift: new arrivals cluster around e3, a direction the bootstrap
    // centroids cannot separate (id 14 < 16 seeds the refresh trainer)
    val drift = Seq(
      (14L, Seq(45L, 55L, 1000000L, 0L)),
      (16L, Seq(100L, 0L, 1000000L, 0L)),
      (17L, Seq(0L, 100L, 1000000L, 0L)),
      (18L, Seq(60L, 40L, 1000000L, 0L)),
      (19L, Seq(40L, 60L, 1000000L, 0L)))
    AnnMaintain.maintainBatch(dir, cp)(withNorm(drift), 1L)
    val all = vecs ++ drift
    val qv = Seq(0L, 0L, 1000000L, 0L) // a drift-direction query
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    val bruteTop2 = all.sortBy(v => (-cos(qv, v._2), v._1)).take(2).map(_._1).toSet
    def recallAt2(): Double = {
      val cents = AnnMaintain.currentCentroids(spark, dir, cp)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      val cell = cents.minBy(c => (-cos(qv, c._2), c._1))._1 // nprobe=1
      val got = AnnMaintain.postings(spark, dir)
        .filter(col("cell") === cell).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](2)))
        .sortBy(v => (-cos(qv, v._2), v._1)).take(2).map(_._1).toSet
      got.intersect(bruteTop2).size / 2.0
    }
    assert(recallAt2() == 0.5,
      "the drifted fixture must lose recall under stale centroids")
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroids)
    assert(recallAt2() == 1.0, "refresh must recover the drifted neighbors")
    // the swap landed as ONE generation: refreshed centroids current,
    // postings a single re-assigned compacted generation
    assert(AnnMaintain.currentCentroidsPath(spark, dir, cp)
      .endsWith("/centroids-1"))
    assert(new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filterNot(_.startsWith("_")).toSet == Set("compact-1"))
    // a crash between the centroid write and the postings commit leaves
    // an ORPHAN centroid generation — it must never become current
    spark.read.parquet(s"$dir/centroids-1").write
      .mode("overwrite").parquet(s"$dir/centroids-9")
    assert(AnnMaintain.currentCentroidsPath(spark, dir, cp)
      .endsWith("/centroids-1"),
      "an orphan centroid generation (no matching postings) became current")
    // a second refresh after more arrivals supersedes the old
    // generation, purges ORPHANS immediately (never current, no probe
    // can hold them), and keeps the previously-current set for a
    // one-refresh grace window — a concurrent probe that resolved it
    // before the swap must be able to finish its broadcast read
    AnnMaintain.maintainBatch(dir, cp)(
      withNorm(Seq((20L, Seq(0L, 0L, 900000L, 100000L)))), 2L)
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroids)
    assert(AnnMaintain.currentCentroidsPath(spark, dir, cp)
      .endsWith("/centroids-2"))
    val centDirs = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("centroids-")).toSet
    assert(centDirs == Set("centroids-1", "centroids-2"),
      s"expected the orphan purged and the previous current kept for " +
        s"grace, found $centDirs")
    // the grace window is ONE refresh: the third refresh drops
    // centroids-1 (no probe started after gen-2 committed can hold it)
    // and protects centroids-2 in its place — a long-lived store
    // carries at most two centroid dirs, never one per refresh ever run
    AnnMaintain.maintainBatch(dir, cp)(
      withNorm(Seq((21L, Seq(0L, 0L, 850000L, 150000L)))), 3L)
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroids)
    assert(AnnMaintain.currentCentroidsPath(spark, dir, cp)
      .endsWith("/centroids-3"))
    val centDirs3 = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("centroids-")).toSet
    assert(centDirs3 == Set("centroids-2", "centroids-3"),
      s"the grace window must slide: expected {2,3}, found $centDirs3")
  }

  test("a tombstone re-shape after a refresh keeps serving the refreshed centroids") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_annrs_").toString
    val cp = mkCentroids(base)
    val dir = s"$base/idx"
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (0L, Seq(1000000L, 0L, 0L, 0L)),
      (1L, Seq(0L, 1000000L, 0L, 0L)),
      (2L, Seq(0L, 0L, 1000000L, 0L)),
      (10L, Seq(900000L, 100000L, 0L, 0L)),
      (11L, Seq(100000L, 900000L, 0L, 0L)),
      (12L, Seq(0L, 100000L, 900000L, 0L)))), 0L)
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroidsK(3))
    val refreshed = AnnMaintain.currentCentroidsPath(spark, dir, cp)
    assert(refreshed.endsWith("/centroids-0"))
    // retention expires a vector; compaction re-shapes the committed
    // generation (compact-0 → compact-0.1). The centroid pairing is
    // (gen, sub) ORDER, not exact-tail equality — an exact-tail rule
    // stranded the refreshed set here, silently dropping probes back
    // to bootstrap centroids against refreshed cell ids.
    AnnMaintain.deleteVecs(spark, dir, Seq(12L).toDF("n_id"), deleteId = 0L)
    AnnMaintain.compact(spark, dir)
    assert(AnnMaintain.currentCentroidsPath(spark, dir, cp) == refreshed,
      "the re-shape stranded the refreshed centroid generation")
    // every served cell still references the refreshed (k=3) set
    val cells = AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    val cids = spark.read.parquet(refreshed)
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(cids), s"cells $cells reference ids outside $cids")
    assert(AnnMaintain.postings(spark, dir).count() == 5 &&
      !state(dir).exists(_._1 == 12L),
      "the tombstoned vector must be gone, the other five served")
  }

  test("refresh accepts a different k than bootstrap (the k ∝ √N scale path)") {
    val base = graft.TestDirs.create("graft_annk_").toString
    val cp = mkCentroids(base) // bootstrap k = 2
    val dir = s"$base/idx"
    // vectors spanning THREE directions — k=2 must merge two of them
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (0L, Seq(1000000L, 0L, 0L, 0L)),
      (1L, Seq(0L, 1000000L, 0L, 0L)),
      (2L, Seq(0L, 0L, 1000000L, 0L)),
      (10L, Seq(900000L, 100000L, 0L, 0L)),
      (11L, Seq(100000L, 900000L, 0L, 0L)),
      (12L, Seq(0L, 100000L, 900000L, 0L)))), 0L)
    assert(AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().count() == 2)
    // refresh trains k = 3 (the grown-k mitigation: a production
    // refresh passes k ∝ √N while bootstrap stays small)
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroidsK(3))
    val cents = AnnMaintain.currentCentroids(spark, dir, cp)
    assert(cents.count() == 3, "refresh must honor the grown k")
    val cells = AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().count()
    assert(cells == 3, s"re-assignment must use all 3 grown cells, got $cells")
    // each direction pair lands in its own cell
    val byCell = AnnMaintain.postings(spark, dir)
      .select(col("cell"), col("n_id")).collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getLong(1)).toSet).toSet
    assert(byCell == Set(Set(0L, 10L), Set(1L, 11L), Set(2L, 12L)),
      s"grown-k refresh mis-assigned: $byCell")
  }

  test("a vector re-appended after a delete resurfaces (tombstones are source-bounded)") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_annre_").toString
    val cp = mkCentroids(base)
    val dir = s"$base/idx"
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs), 0L)
    AnnMaintain.deleteVecs(spark, dir, Seq(10L).toDF("n_id"), deleteId = 0L)
    assert(!state(dir).exists(_._1 == 10L), "deleted vector still served")
    // the vector returns in a LATER batch — a tombstone covers only the
    // postings that existed at delete time, never the re-append
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs.take(1)), 1L)
    assert(state(dir).exists(_._1 == 10L),
      "re-appended vector was killed by the older tombstone")
    AnnMaintain.compact(spark, dir)
    assert(state(dir) == Set((10L, 0L), (11L, 1L), (12L, 0L), (13L, 1L)),
      "compaction dropped the re-appended vector")
  }

  test("a legacy store (postings written before `src` existed) keeps honoring tombstones") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_annleg_").toString
    val cp = mkCentroids(base)
    val dir = s"$base/idx"
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs), 0L)
    // simulate a pre-`src` on-disk store: NULL src must read as
    // always-covered, not NULL-poison the anti-join into keeping
    // every deleted vector (IndexMaintainSpec has the BM25 twin)
    val stripped = spark.read.parquet(s"$dir/postings/batch-0").drop("src")
    val rows = stripped.collect().toIndexedSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), stripped.schema)
      .write.mode("overwrite").parquet(s"$dir/postings/batch-0")
    AnnMaintain.deleteVecs(spark, dir, Seq(10L).toDF("n_id"), deleteId = 0L)
    assert(!state(dir).exists(_._1 == 10L),
      "tombstone stopped applying on a legacy (src-less) store")
    AnnMaintain.compact(spark, dir)
    assert(state(dir) == Set((11L, 1L), (12L, 0L), (13L, 1L)))
  }

  test("tombstoned vectors vanish at read, then physically at compaction") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_annd_").toString
    val cp = mkCentroids(base)
    val dir = s"$base/idx"
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs.take(2)), 0L)
    AnnMaintain.maintainBatch(dir, cp)(withNorm(vecs.drop(2)), 1L)
    AnnMaintain.deleteVecs(spark, dir,
      Seq(10L, 13L).toDF("n_id"), deleteId = 0L)
    // invisible BEFORE compaction (read-side anti-join) but still on disk
    assert(state(dir) == Set((12L, 0L), (11L, 1L)))
    assert(spark.read.parquet(s"$dir/postings/batch-0").count() == 2,
      "pre-compaction the raw batch files still hold the dead rows")
    // compaction applies physically and purges the covered tombstone
    AnnMaintain.compact(spark, dir)
    assert(state(dir) == Set((12L, 0L), (11L, 1L)))
    assert(spark.read.parquet(s"$dir/postings/compact-1").count() == 2,
      "the generation must not contain tombstoned rows")
    assert(!new java.io.File(s"$dir/tombstones").exists() ||
      new java.io.File(s"$dir/tombstones").listFiles().isEmpty,
      "a fully-covered tombstone must be purged")
  }
}
