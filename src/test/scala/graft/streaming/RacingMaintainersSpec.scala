package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The single-maintainer convention is ENFORCED, not assumed (the
  * round-12 racing-compactors lesson, applied to the index stores):
  * a generation swap is a rename-CAS, so of two racing folds exactly
  * one commits and every winner-only side effect (source sweep,
  * tombstone purge, centroid purge) happens exactly once. The store
  * must be read-consistent at every interleaving — the laws here run
  * the races repeatedly and assert the end state equals the
  * single-maintainer outcome. */
class RacingMaintainersSpec extends AnyFunSuite {

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

  private def race(bodies: (() => Unit)*): Seq[Option[Throwable]] = {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new Array[Option[Throwable]](bodies.length)
    val ts = bodies.zipWithIndex.map { case (b, i) =>
      new Thread(() => {
        gate.await()
        errs(i) = try { b(); None } catch { case t: Throwable => Some(t) }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    errs.toSeq
  }

  test("casRename refuses an occupied destination instead of copying into it") {
    // Hadoop's RawLocalFileSystem.rename falls back to FileUtil.copy
    // INTO an existing destination directory and returns true — a
    // racing loser would claim victory and nest its staging inside the
    // winner's committed generation. The CAS primitive must fail.
    val root = graft.TestDirs.create("graft_cas_").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(name: String, content: String): org.apache.hadoop.fs.Path = {
      val d = new java.io.File(root, name); d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-0").toPath, content.getBytes("UTF-8"))
      new org.apache.hadoop.fs.Path(d.toString)
    }
    val winner = mk("stage-a", "winner")
    val loser = mk("stage-b", "loser")
    val dst = new org.apache.hadoop.fs.Path(root, "compact-1")
    assert(BatchStore.casRename(fs, winner, dst), "first rename must win")
    assert(!BatchStore.casRename(fs, loser, dst), "occupied dst must refuse")
    // the committed generation is untouched: exactly the winner's file,
    // no nested directory from the loser
    val files = new java.io.File(root, "compact-1").listFiles().map(_.getName).toSet
    assert(files == Set("part-0"), s"winner dir polluted: $files")
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "compact-1/part-0").toPath)) == "winner")
    assert(new java.io.File(root, "stage-b").exists(),
      "the loser keeps its staging (its caller deletes it)")
  }

  test("racing BM25 compacts: one wins, ranking and purge equal the solo outcome") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val dir = graft.TestDirs.create(s"graft_race_idx${round}_").toString
      val solo = graft.TestDirs.create(s"graft_race_solo${round}_").toString
      for (d <- Seq(dir, solo)) {
        IndexMaintain.maintainBatch(d)(docs.take(3).toDF("doc_id", "text"), 0L)
        IndexMaintain.maintainBatch(d)(docs.drop(3).toDF("doc_id", "text"), 1L)
        IndexMaintain.deleteDocs(spark, d, Seq(5L).toDF("doc_id"), 0L)
      }
      IndexMaintain.compact(spark, solo)
      val errs = race(
        () => IndexMaintain.compact(spark, dir),
        () => IndexMaintain.compact(spark, dir))
      // a loser may fail mid-fold when the winner sweeps its sources
      // out from under it — it must never corrupt the store
      assert(errs.count(_.isEmpty) >= 1, s"both racers failed: $errs")
      assert(ranking(dir) == ranking(solo),
        "racing compacts diverged from the single-maintainer ranking")
      val stats = IndexMaintain.stats(spark, dir).collect()(0)
      val sstats = IndexMaintain.stats(spark, solo).collect()(0)
      assert(stats.getLong(0) == sstats.getLong(0) &&
        stats.getLong(1) == sstats.getLong(1))
      // exactly one complete postings generation serves
      val names = new java.io.File(s"$dir/postings").listFiles()
        .map(_.getName).filter(_.startsWith("compact-")).toSeq
      assert(names.count(n => new java.io.File(
        s"$dir/postings/$n/_SUCCESS").exists()) == 1,
        s"expected one committed generation, found $names")
      // the tombstone was purged exactly once (by the winner)
      assert(!new java.io.File(s"$dir/tombstones").exists() ||
        new java.io.File(s"$dir/tombstones").listFiles().isEmpty)
    }
  }

  test("racing re-shapes of a committed generation advance the sub number, never rewrite in place") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_race_sub_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(3).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.drop(3).toDF("doc_id", "text"), 1L)
    IndexMaintain.compact(spark, dir) // → compact-1
    val rebuilt = graft.TestDirs.create("graft_race_rb_").toString
    IndexMaintain.maintainBatch(rebuilt)(
      docs.filter(_._1 != 5L).toDF("doc_id", "text"), 0L)
    // new tombstones force a re-shape of the already-committed generation
    IndexMaintain.deleteDocs(spark, dir, Seq(5L).toDF("doc_id"), 0L)
    val errs = race(
      () => IndexMaintain.compact(spark, dir),
      () => IndexMaintain.compact(spark, dir))
    assert(errs.count(_.isEmpty) >= 1)
    assert(ranking(dir) == ranking(rebuilt),
      "re-shape race diverged from delete≡rebuild")
    val complete = new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filter(n => n.startsWith("compact-") &&
        new java.io.File(s"$dir/postings/$n/_SUCCESS").exists()).toSeq
    // compact-1 was superseded by compact-1.<sub>, not rewritten in
    // place — a reader holding the old path mid-race never saw a
    // half-deleted generation
    assert(complete.length == 1 && complete.head.startsWith("compact-1."),
      s"expected one re-shaped generation above compact-1, got $complete")
    assert(spark.read.parquet(s"$dir/postings/${complete.head}")
      .filter(col("doc_id") === 5L).count() == 0,
      "the re-shape must have applied the tombstone physically")
  }

  test("a batch appended after the fold snapshot is never folded-away NOR swept (r13 TOCTOU)") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_toctou_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(2).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.slice(2, 4).toDF("doc_id", "text"), 1L)
    // the round-13 bug window: a batch landing between the fold's source
    // snapshot and the sweep-bound computation was counted in the bound
    // (gen=2) but not in the fold — the winner sweep then deleted it.
    // The failpoint lands batch-2 exactly there; it must survive intact.
    BatchStore.foldFailpoint = () => {
      BatchStore.foldFailpoint = () => () // one-shot
      IndexMaintain.maintainBatch(dir)(docs.drop(4).toDF("doc_id", "text"), 2L)
    }
    try IndexMaintain.compact(spark, dir)
    finally BatchStore.foldFailpoint = () => ()
    // the committed generation's id comes from the folded snapshot (1),
    // so batch-2 sits above it and is live alongside it
    assert(new java.io.File(s"$dir/postings/batch-2").exists(),
      "the concurrently-appended batch was swept — data loss")
    val gens = new java.io.File(s"$dir/postings").listFiles().map(_.getName)
      .filter(n => n.startsWith("compact-") &&
        new java.io.File(s"$dir/postings/$n/_SUCCESS").exists()).toSeq
    assert(gens == Seq("compact-1"), s"unexpected generations: $gens")
    // every document — including batch-2's — is served, now and after
    // the NEXT fold picks the batch up
    def served = IndexMaintain.postings(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(served == docs.map(_._1).toSet, s"lost docs: served=$served")
    IndexMaintain.compact(spark, dir)
    assert(served == docs.map(_._1).toSet, "follow-up fold lost the batch")
  }

  test("casRename surfaces a non-race filesystem fault instead of reporting defeat") {
    val root = graft.TestDirs.create("graft_cas_fault_").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // missing source + empty destination is a FAULT (nothing won): the
    // old blanket FileSystemException→false turned every I/O error into
    // a silent "lost the race", ending maintenance with no error at all
    intercept[java.nio.file.FileSystemException] {
      BatchStore.casRename(fs,
        new org.apache.hadoop.fs.Path(root, "no-such-staging"),
        new org.apache.hadoop.fs.Path(root, "compact-9"))
    }
    // …but the same fault WITH a winner at the destination is a defeat
    new java.io.File(root, "compact-9").mkdirs()
    assert(!BatchStore.casRename(fs,
      new org.apache.hadoop.fs.Path(root, "no-such-staging"),
      new org.apache.hadoop.fs.Path(root, "compact-9")))
  }

  test("store format stamp: writers stamp v2, readers refuse a future version, legacy reads fine") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft_fmt_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(2).toDF("doc_id", "text"), 0L)
    assert(new java.io.File(s"$dir/postings/_format-v2").exists(),
      "write path must stamp the store format")
    // a store from the future must refuse loudly, not misread silently
    val fut = graft.TestDirs.create("graft_fmt_fut_").toString
    IndexMaintain.maintainBatch(fut)(docs.take(2).toDF("doc_id", "text"), 0L)
    new java.io.File(s"$fut/postings/_format-v99").createNewFile()
    val e = intercept[IllegalStateException] {
      IndexMaintain.postings(spark, s"$fut").count()
    }
    assert(e.getMessage.contains("v99"), s"unhelpful refusal: ${e.getMessage}")
    intercept[IllegalStateException] { IndexMaintain.compact(spark, fut) }
    // an UNSTAMPED store is v1 legacy: readable, and the first fold
    // upgrades the stamp in place (v2 readers read v1 rows)
    val leg = graft.TestDirs.create("graft_fmt_leg_").toString
    IndexMaintain.maintainBatch(leg)(docs.take(2).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(leg)(docs.slice(2, 4).toDF("doc_id", "text"), 1L)
    new java.io.File(s"$leg/postings/_format-v2").delete()
    assert(IndexMaintain.postings(spark, leg).count() > 0)
    IndexMaintain.compact(spark, leg)
    assert(new java.io.File(s"$leg/postings/_format-v2").exists())
  }

  test("an orphaned centroid set from a failed refresh is never activated by a plain fold") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_orphan_").toString
    Seq((0L, Seq(1000000L, 0L, 0L, 0L)), (1L, Seq(0L, 1000000L, 0L, 0L)))
      .toDF("c_id", "cv")
      .withColumn("cn", expr(
        "aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .write.mode("overwrite").parquet(s"$base/centroids")
    val cp = s"$base/centroids"
    val dir = s"$base/idx"
    def withNorm(rows: Seq[(Long, Seq[Long])]) =
      rows.toDF("vec_id", "vq").withColumn("nrm", expr(
        "aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (10L, Seq(900000L, 100000L, 0L, 0L)),
      (11L, Seq(100000L, 900000L, 0L, 0L)))), 0L)
    // simulate a refresh that CAS-committed its centroid set and then
    // crashed (or lost the postings fold): the orphan sits at exactly
    // the tail the next fold will commit as — the r13 order-based
    // pairing would hand it to probes the moment ANY complete
    // generation ≥ its tail appears, in a DIFFERENT cell space
    val tail = BatchStore.nextTarget(spark, s"$dir/postings",
      force = true).get._3
    Seq((100L, Seq(0L, 0L, 1000000L, 0L)), (101L, Seq(0L, 0L, 0L, 1000000L)))
      .toDF("c_id", "cv")
      .withColumn("cn", expr(
        "aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .write.mode("overwrite").parquet(s"$dir/centroids-$tail")
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (12L, Seq(950000L, 50000L, 0L, 0L)))), 1L)
    AnnMaintain.compact(spark, dir) // plain fold: preserves bootstrap space
    assert(AnnMaintain.currentCentroidsPath(spark, dir, cp) == cp,
      "a space-preserving fold activated an orphaned centroid set")
    val cells = AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(Set(0L, 1L)),
      s"cells $cells escaped the bootstrap space")
    // a REAL refresh then pairs explicitly and purges the orphan
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroids)
    val cur = AnnMaintain.currentCentroidsPath(spark, dir, cp)
    assert(cur != cp, "refresh never committed")
    val cids = spark.read.parquet(cur)
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    val cells2 = AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    assert(cells2.subsetOf(cids), s"post-refresh pairing broken: $cells2 vs $cids")
    assert(!new java.io.File(s"$dir/centroids-$tail").exists() ||
      cur.endsWith(s"centroids-$tail"),
      "the orphan outlived the refresh purge")
  }

  test("racing ANN centroid refreshes: one generation commits, pairing holds, at most two centroid dirs") {
    import spark.implicits._
    val base = graft.TestDirs.create("graft_race_ann_").toString
    Seq((0L, Seq(1000000L, 0L, 0L, 0L)), (1L, Seq(0L, 1000000L, 0L, 0L)))
      .toDF("c_id", "cv")
      .withColumn("cn", expr(
        "aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .write.mode("overwrite").parquet(s"$base/centroids")
    val cp = s"$base/centroids"
    val dir = s"$base/idx"
    def withNorm(rows: Seq[(Long, Seq[Long])]) =
      rows.toDF("vec_id", "vq").withColumn("nrm", expr(
        "aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (10L, Seq(900000L, 100000L, 0L, 0L)),
      (11L, Seq(100000L, 900000L, 0L, 0L)),
      (12L, Seq(0L, 100000L, 900000L, 0L)),
      (13L, Seq(0L, 0L, 950000L, 50000L)))), 0L)
    val errs = race(
      () => AnnMaintain.refresh(spark, dir, cp,
        graft.operators.PipelineOps.ivfCentroids),
      () => AnnMaintain.refresh(spark, dir, cp,
        graft.operators.PipelineOps.ivfCentroids))
    assert(errs.count(_.isEmpty) >= 1, s"both refreshes failed: $errs")
    // the current centroid path pairs with a committed postings
    // generation of the SAME tail — never a mismatch
    val cur = AnnMaintain.currentCentroidsPath(spark, dir, cp)
    assert(cur != cp, "refresh never committed")
    val tail = new java.io.File(cur).getName.stripPrefix("centroids-")
    assert(new java.io.File(s"$dir/postings/compact-$tail/_SUCCESS").exists(),
      s"current centroids $tail have no committed postings twin")
    // every posting's cell references a centroid of the current set
    val cells = AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    val cids = spark.read.parquet(cur)
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(cids), s"cells $cells not in centroid set $cids")
    assert(AnnMaintain.postings(spark, dir).count() == 4)
    val centDirs = new java.io.File(base, "idx").listFiles()
      .map(_.getName).filter(_.startsWith("centroids-")).toSeq
    assert(centDirs.size <= 2, s"centroid dirs not bounded: $centDirs")
  }

  test("a future-format store refuses BEFORE any write lands (no side effects)") {
    import spark.implicits._
    // the r14 ordering hazard: maintainBatch wrote the batch dir first
    // and only then hit the format gate — a v2 writer pointed at a
    // v3-stamped store landed a live v2-format dir a v3 reader would
    // serve under v3 assumptions. The gate must run first: refusal with
    // ZERO dirs written.
    val dir = graft.TestDirs.create("graft_fmt_pre_").toString
    new java.io.File(s"$dir/postings").mkdirs()
    new java.io.File(s"$dir/postings/_format-v99").createNewFile()
    intercept[IllegalStateException] {
      IndexMaintain.maintainBatch(dir)(docs.take(2).toDF("doc_id", "text"), 0L)
    }
    assert(new java.io.File(s"$dir/postings").listFiles().map(_.getName).toSet
      == Set("_format-v99"),
      "a future-version store took a write before refusing")
    assert(!new java.io.File(s"$dir/stats").exists(),
      "the stats store took a write before the postings-format refusal")
    // representative second family: the ledger maintainer shares the gate
    val led = graft.TestDirs.create("graft_fmt_pre_l_").toString
    new java.io.File(s"$led/ledger").mkdirs()
    new java.io.File(s"$led/ledger/_format-v99").createNewFile()
    intercept[IllegalStateException] {
      LedgerMaintain.maintainBatch(led)(docs.take(2).toDF("doc_id", "text"), 0L)
    }
    assert(new java.io.File(s"$led/ledger").listFiles().map(_.getName).toSet
      == Set("_format-v99"))
  }

  test("a plain fold stamps the space of the generation it ACTUALLY folds (refresh racing in)") {
    import spark.implicits._
    // r14 ADVICE (medium): compact() read the centroid space from a
    // listing taken BEFORE BatchStore.compact's fold snapshot. A refresh
    // committing in that window got its new-space generation re-shaped
    // under the OLD space's stamp — probes then paired refreshed cells
    // with bootstrap centroids (silent recall collapse). The stamp now
    // derives from the fold's own snapshot; this drives the exact
    // interleaving through the entry failpoint.
    val base = graft.TestDirs.create("graft_space_race_").toString
    Seq((0L, Seq(1000000L, 0L, 0L, 0L)), (1L, Seq(0L, 1000000L, 0L, 0L)))
      .toDF("c_id", "cv")
      .withColumn("cn", expr(
        "aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .write.mode("overwrite").parquet(s"$base/centroids")
    val cp = s"$base/centroids"
    val dir = s"$base/idx"
    def withNorm(rows: Seq[(Long, Seq[Long])]) =
      rows.toDF("vec_id", "vq").withColumn("nrm", expr(
        "aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (10L, Seq(900000L, 100000L, 0L, 0L)),
      (11L, Seq(100000L, 900000L, 0L, 0L)),
      (12L, Seq(0L, 100000L, 900000L, 0L)),
      (13L, Seq(0L, 0L, 950000L, 50000L)))), 0L)
    // in the hazard window: a refresh commits (new space + re-assigned
    // generation), then a batch lands in the NEW space — the outer
    // fold's snapshot is [new-space generation, new-space batch]
    AnnMaintain.compactFailpoint = () => {
      AnnMaintain.compactFailpoint = () => () // one-shot
      AnnMaintain.refresh(spark, dir, cp,
        graft.operators.PipelineOps.ivfCentroids)
      AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
        (14L, Seq(0L, 0L, 1000000L, 0L)))), 1L)
    }
    try AnnMaintain.compact(spark, dir)
    finally AnnMaintain.compactFailpoint = () => ()
    // the fold must have preserved the refresh's pairing: probes still
    // resolve the refreshed centroid set, and every cell is one of its
    // centroid ids — a bootstrap stamp here is the recall collapse
    val cur = AnnMaintain.currentCentroidsPath(spark, dir, cp)
    assert(cur != cp,
      "the plain fold re-stamped the refreshed generation as bootstrap")
    val cids = spark.read.parquet(cur)
      .select(col("c_id")).collect().map(_.getLong(0)).toSet
    val cells = AnnMaintain.postings(spark, dir)
      .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(cids),
      s"cells $cells escaped the refreshed space $cids")
    assert(AnnMaintain.postings(spark, dir).count() == 5)
  }

  test("reads during a fold serve the same complete view at every commit stage") {
    import spark.implicits._
    // the live-dir rule's READ-consistency claim, probed from inside
    // the fold: at "snapshot" (sources live, staging invisible),
    // "staged" (fold written, CAS not renamed) and "committed" (CAS
    // renamed, sources not yet swept) a reader must serve the identical
    // document set and ranking — a probe never sees a partial
    // generation or a double-counted source.
    val dir = graft.TestDirs.create("graft_read_fold_").toString
    IndexMaintain.maintainBatch(dir)(docs.take(3).toDF("doc_id", "text"), 0L)
    IndexMaintain.maintainBatch(dir)(docs.slice(3, 5).toDF("doc_id", "text"), 1L)
    def served() = IndexMaintain.postings(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val expectedDocs = served()
    val expectedRank = ranking(dir)
    val seenDocs = scala.collection.mutable.Map[String, Set[Long]]()
    val seenRank = scala.collection.mutable.Map[String, Seq[(Long, Long, Long)]]()
    def probe(stage: String): Unit = {
      seenDocs(stage) = served(); seenRank(stage) = ranking(dir)
    }
    BatchStore.foldFailpoint = () => probe("snapshot")
    BatchStore.commitFailpoint = st => probe(st)
    try IndexMaintain.compact(spark, dir)
    finally {
      BatchStore.foldFailpoint = () => ()
      BatchStore.commitFailpoint = _ => ()
    }
    assert(Set("snapshot", "staged", "committed").subsetOf(seenDocs.keySet),
      s"commit stages not all observed: ${seenDocs.keySet}")
    seenDocs.foreach { case (st, s) =>
      assert(s == expectedDocs, s"stage $st served $s, expected $expectedDocs") }
    seenRank.foreach { case (st, r) =>
      assert(r == expectedRank, s"stage $st ranking drifted") }
    assert(served() == expectedDocs, "post-sweep view drifted")
    assert(ranking(dir) == expectedRank, "post-sweep ranking drifted")
  }

  test("probes during a centroid refresh always see an agreeing (centroids, postings) pair") {
    import spark.implicits._
    // the generation-swap read law: at every commit stage of a refresh
    // a probe resolving (currentCentroidsPath, postings) gets a pair
    // that AGREES — every served cell id is a centroid of the served
    // set. Before the CAS that is the bootstrap pair; after it, the
    // refreshed pair; never a mix.
    val base = graft.TestDirs.create("graft_read_refresh_").toString
    Seq((0L, Seq(1000000L, 0L, 0L, 0L)), (1L, Seq(0L, 1000000L, 0L, 0L)))
      .toDF("c_id", "cv")
      .withColumn("cn", expr(
        "aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .write.mode("overwrite").parquet(s"$base/centroids")
    val cp = s"$base/centroids"
    val dir = s"$base/idx"
    def withNorm(rows: Seq[(Long, Seq[Long])]) =
      rows.toDF("vec_id", "vq").withColumn("nrm", expr(
        "aggregate(vq, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
    AnnMaintain.maintainBatch(dir, cp)(withNorm(Seq(
      (10L, Seq(900000L, 100000L, 0L, 0L)),
      (11L, Seq(100000L, 900000L, 0L, 0L)),
      (12L, Seq(0L, 100000L, 900000L, 0L)),
      (13L, Seq(0L, 0L, 950000L, 50000L)))), 0L)
    val agree = scala.collection.mutable.Map[String, Boolean]()
    def probe(stage: String): Unit = {
      val cur = AnnMaintain.currentCentroidsPath(spark, dir, cp)
      val cids = spark.read.parquet(cur)
        .select(col("c_id")).collect().map(_.getLong(0)).toSet
      val cells = AnnMaintain.postings(spark, dir)
        .select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
      agree(stage) = cells.subsetOf(cids)
    }
    BatchStore.foldFailpoint = () => probe("snapshot")
    BatchStore.commitFailpoint = st => probe(st)
    try AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroids)
    finally {
      BatchStore.foldFailpoint = () => ()
      BatchStore.commitFailpoint = _ => ()
    }
    assert(Set("snapshot", "staged", "committed").subsetOf(agree.keySet),
      s"commit stages not all observed: ${agree.keySet}")
    agree.foreach { case (st, ok) =>
      assert(ok, s"stage $st served a disagreeing (centroids, postings) pair") }
    probe("final")
    assert(agree("final"), "post-refresh pair disagrees")
  }
}
