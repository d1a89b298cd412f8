package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.{AnnMaintain, BandMaintain, IndexMaintain,
  LedgerMaintain, LockstepFeed, ShingleMaintain}

/** The composed "week in the life" of ALL FOUR maintained index
  * families in ONE measured run (VERDICT r14 #3) — the closest local
  * mode gets to the 100 TB operational story:
  *
  *   1. INGEST: one pass over the scaled documents corpus feeds the
  *      exact-dedup hash ledger, the near-dup shingle index, the BM25
  *      lexical index AND the video band index in LOCKSTEP (one
  *      [[LockstepFeed]] over real micro-batches — the corpus is read
  *      once); the vector corpus streams into the ANN maintainer.
  *   2. PROBE all five surfaces warm (delta classification on ledger +
  *      shingles + bands, a BM25 ranking, an ANN top-10).
  *   3. RETIRE one cohort EVERYWHERE (coverage-bounded tombstones on
  *      all stores), COMPACT everywhere (physical purge).
  *   4. RE-PROBE: every probe must stay in its class (flat, recorded
  *      in BASELINE.md), serve ZERO retired keys, and each live store
  *      must be ROW-IDENTICAL to a from-scratch rebuild over the
  *      survivors — delete ≡ rebuild on all four families in the same
  *      run.
  *
  * The video fingerprints here derive from the document hash (a
  * closed-form stand-in for the decode→dHash ingest plan measured by
  * q394/q397): the proof measures INDEX lifecycle composition, not
  * codec throughput — replicated copies share text, so they share
  * fingerprints, giving the realistic dup-cluster structure.
  * Evidence, not a driver gate; one JSON line for BASELINE.md. */
object WeekProof {

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_week_sf")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = HarnessSession("8")

    // ---- scaled corpora ----------------------------------------------
    val marker = new java.io.File(dst, s"_built_${copies}x_docs_vecs")
    if (!marker.exists()) {
      ScaleProof.replicate(spark, src, dst, "documents", Seq("doc_id"), copies)
      ScaleProof.replicate(spark, src, dst, "embeddings", Seq("vec_id"), copies)
      marker.getParentFile.mkdirs()
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    val docs = spark.read.parquet(s"$dst/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val e = spark.read.parquet(s"$dst/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast(DoubleType) * 1000000).cast(LongType)).as("vq"))
      .withColumn("nrm", aggregate(col("vq"), lit(0L), (a, x) => a + x * x))
      .localCheckpoint()
    val nVecs = e.count()

    val root = java.nio.file.Files.createTempDirectory("graft_week_").toString
    val hdir = s"$root/ledger"; val sdir = s"$root/shingle"
    val tdir = s"$root/bm25"; val bdir = s"$root/bands"
    val adir = s"$root/ann"

    // video fingerprint stand-in: 60 bits of the content hash → fp +
    // four 15-bit bands (replicated copies share text → shared fp, the
    // dup-cluster structure a crawl's re-hosted videos have)
    def fpRows(b: DataFrame): DataFrame = b
      .withColumn("fp", conv(substring(md5(col("text")), 1, 15), 16, 10)
        .cast(LongType))
      .select(col("doc_id"),
        shiftright(col("fp"), 45).bitwiseAND(lit(32767L)).as("b1"),
        shiftright(col("fp"), 30).bitwiseAND(lit(32767L)).as("b2"),
        shiftright(col("fp"), 15).bitwiseAND(lit(32767L)).as("b3"),
        col("fp").bitwiseAND(lit(32767L)).as("b4"), col("fp"))

    // ---- 1. INGEST: one pass, four maintainers in lockstep -----------
    val stage = s"$root/stage"
    docs.repartition(4).write.mode("overwrite").parquet(stage)
    var t0 = System.nanoTime()
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = stream.writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/_ckpt")
      .foreachBatch(LockstepFeed.body(
        LedgerMaintain.maintainBatch(hdir) _,
        ShingleMaintain.maintainBatch(sdir) _,
        IndexMaintain.maintainBatch(tdir) _,
        (b, id) => BandMaintain.maintainBatch(bdir)(fpRows(b), id)) _)
      .start()
    q.awaitTermination()
    val ingestDocsSec = (System.nanoTime() - t0) / 1e9
    // the vector corpus streams into the ANN maintainer (two batches)
    val cp = s"$root/bootstrap"
    graft.operators.PipelineOps.ivfCentroids(e)
      .write.mode("overwrite").parquet(cp)
    t0 = System.nanoTime()
    AnnMaintain.maintainBatch(adir, cp)(
      e.filter(pmod(col("vec_id"), lit(2)) === 0), 0L)
    AnnMaintain.maintainBatch(adir, cp)(
      e.filter(pmod(col("vec_id"), lit(2)) === 1), 1L)
    val ingestVecsSec = (System.nanoTime() - t0) / 1e9

    // ---- probes ------------------------------------------------------
    // delta drop: 1-in-50 of the corpus re-arrives (+50M ids) — half
    // verbatim (must classify exact/near), half reworded (must miss)
    val delta = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + 50000000L).as("did"),
        when(pmod(col("doc_id"), lit(100)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" wholly novel suffix words")))
          .as("text"))
      .localCheckpoint()

    def probeLedger(): DataFrame = delta
      .select(col("did"), md5(col("text")).as("h"))
      .join(LedgerMaintain.ledger(spark, hdir), Seq("h"), "left")
      .groupBy(col("did")).agg(min(col("doc_id")).as("dup_of"))
    def probeShingle(): DataFrame = {
      val dsh = graft.operators.PipelineOps.deltaShingles(
        delta.select(col("did").as("doc_id"), col("text")))
        .select(col("doc_id").as("did"), col("sh"))
      val sizes = dsh.groupBy(col("did")).agg(count(lit(1)).as("n_d"))
      dsh.join(ShingleMaintain.index(spark, sdir), Seq("sh"))
        .groupBy(col("did"), col("b_id"), col("n_b"))
        .agg(count(lit(1)).as("shared"))
        .join(broadcast(sizes), Seq("did"))
        .filter(col("shared") * 10 >= (col("n_d") + col("n_b")) * 4)
        .groupBy(col("did")).agg(min(col("b_id")).as("near_of"))
    }
    def probeBm25(): DataFrame =
      IndexMaintain.bm25(spark, tdir, Seq("stream", "hash", "big"))
    def probeBands(): DataFrame = BandMaintain.bandRows(fpRows(
        delta.select(col("did").as("doc_id"), col("text"))))
      .select(col("doc_id").as("did"), col("fp").as("dfp"), col("bk"))
      .join(BandMaintain.bands(spark, bdir), Seq("bk"))
      .select(col("did"), col("doc_id"),
        expr("bit_count(dfp ^ fp)").cast("long").as("hd")).distinct()
      .filter(col("hd") <= 2)
      .groupBy(col("did")).agg(min(col("doc_id")).as("dup_of"))
    val probesV = e.filter(pmod(col("vec_id"), lit(50)) === 0)
    def probeAnn(): DataFrame = {
      val cents = AnnMaintain.currentCentroids(spark, adir, cp)
      val best = probesV.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("vq"), col("nrm"), struct(
          (-(dot(col("vq"), col("cv")).cast(DoubleType) /
            sqrt(col("cn").cast(DoubleType) * col("nrm").cast(DoubleType))))
            .as("negcos"),
          col("c_id").as("c_id")).as("sc"))
        .groupBy(col("vec_id"))
        .agg(min(col("sc")).as("best"), first(col("vq")).as("pv"),
          first(col("nrm")).as("pn"))
        .select(col("vec_id").as("p_id"), col("best.c_id").as("cell"),
          col("pv"), col("pn"))
      broadcast(best).join(AnnMaintain.postings(spark, adir), Seq("cell"))
        .filter(col("n_id") =!= col("p_id"))
        .select(col("p_id"), col("n_id"), struct(
          (-(dot(col("pv"), col("nv")).cast(DoubleType) /
            sqrt(col("pn").cast(DoubleType) * col("nn").cast(DoubleType))))
            .as("negcos"),
          col("n_id").as("nid")).as("sc"))
        .groupBy(col("p_id"))
        .agg(slice(array_sort(collect_list(col("sc"))), 1, 10).as("top"))
        .select(col("p_id"), explode(col("top")).as("t"))
        .select(col("p_id"), col("t.nid").as("n_id"))
    }
    def timeWarm(f: () => DataFrame): (Double, Long) = {
      var rows = 0L; var best = Double.MaxValue
      for (_ <- 1 to 2) {
        val tw = System.nanoTime()
        rows = f().count()
        best = math.min(best, (System.nanoTime() - tw) / 1e9)
      }
      (best, rows)
    }
    val before = Seq("ledger" -> probeLedger _, "shingle" -> probeShingle _,
      "bm25" -> probeBm25 _, "bands" -> probeBands _, "ann" -> probeAnn _)
      .map { case (n, f) => n -> timeWarm(f) }

    // ---- 3. RETIRE one cohort everywhere, compact everywhere ---------
    val deadDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id"))
    t0 = System.nanoTime()
    LedgerMaintain.deleteDocs(spark, hdir, deadDocs, 100L)
    ShingleMaintain.deleteDocs(spark, sdir, deadDocs, 100L)
    IndexMaintain.deleteDocs(spark, tdir, deadDocs, 100L)
    BandMaintain.deleteDocs(spark, bdir, deadDocs, 100L)
    AnnMaintain.deleteVecs(spark, adir,
      e.filter(pmod(col("vec_id"), lit(10)) === 3)
        .select(col("vec_id").as("n_id")), 100L)
    val tombSec = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    LedgerMaintain.compact(spark, hdir)
    ShingleMaintain.compact(spark, sdir)
    IndexMaintain.compact(spark, tdir)
    BandMaintain.compact(spark, bdir)
    AnnMaintain.compact(spark, adir)
    val compactSec = (System.nanoTime() - t0) / 1e9

    // ---- 4. RE-PROBE + delete ≡ rebuild on all four families ---------
    val after = Seq("ledger" -> probeLedger _, "shingle" -> probeShingle _,
      "bm25" -> probeBm25 _, "bands" -> probeBands _, "ann" -> probeAnn _)
      .map { case (n, f) => n -> timeWarm(f) }
    // zero retired keys served anywhere
    val deadServed = Seq(
      LedgerMaintain.ledger(spark, hdir)
        .filter(pmod(col("doc_id"), lit(10)) === 3).count(),
      ShingleMaintain.index(spark, sdir)
        .filter(pmod(col("b_id"), lit(10)) === 3).count(),
      IndexMaintain.postings(spark, tdir)
        .filter(pmod(col("doc_id"), lit(10)) === 3).count(),
      BandMaintain.bands(spark, bdir)
        .filter(pmod(col("doc_id"), lit(10)) === 3).count(),
      AnnMaintain.postings(spark, adir)
        .filter(pmod(col("n_id"), lit(10)) === 3).count()).sum
    // from-scratch rebuilds over the survivors, one batch each
    val live = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val rroot = s"$root/rebuild"
    LedgerMaintain.maintainBatch(s"$rroot/ledger")(live, 0L)
    ShingleMaintain.maintainBatch(s"$rroot/shingle")(live, 0L)
    IndexMaintain.maintainBatch(s"$rroot/bm25")(live, 0L)
    BandMaintain.maintainBatch(s"$rroot/bands")(fpRows(live), 0L)
    AnnMaintain.maintainBatch(s"$rroot/ann", cp)(
      e.filter(pmod(col("vec_id"), lit(10)) =!= 3), 0L)
    def sameRows(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val eq = Seq(
      "ledger" -> sameRows(LedgerMaintain.ledger(spark, hdir),
        LedgerMaintain.ledger(spark, s"$rroot/ledger")),
      "shingle" -> sameRows(ShingleMaintain.index(spark, sdir),
        ShingleMaintain.index(spark, s"$rroot/shingle")),
      "bm25" -> (sameRows(IndexMaintain.postings(spark, tdir),
        IndexMaintain.postings(spark, s"$rroot/bm25")) &&
        sameRows(IndexMaintain.stats(spark, tdir),
          IndexMaintain.stats(spark, s"$rroot/bm25"))),
      "bands" -> sameRows(BandMaintain.bands(spark, bdir),
        BandMaintain.bands(spark, s"$rroot/bands")),
      "ann" -> sameRows(
        AnnMaintain.postings(spark, adir).select(col("n_id"), col("cell")),
        AnnMaintain.postings(spark, s"$rroot/ann")
          .select(col("n_id"), col("cell"))))

    def r3(v: Double) = f"$v%.3f"
    def probeJson(v: Seq[(String, (Double, Long))]) =
      v.map { case (n, (s, r)) => s""""$n":[${r3(s)},$r]""" }.mkString(",")
    val line =
      s"""{"metric":"week_proof","copies":$copies,"n_docs":$nDocs,""" +
      s""""n_vecs":$nVecs,"ingest_docs_sec":${r3(ingestDocsSec)},""" +
      s""""ingest_vecs_sec":${r3(ingestVecsSec)},""" +
      s""""tomb_sec":${r3(tombSec)},"compact_sec":${r3(compactSec)},""" +
      s""""probe_before":{${probeJson(before)}},""" +
      s""""probe_after":{${probeJson(after)}},""" +
      s""""dead_served":$deadServed,""" +
      s""""rebuild_equal":{${eq.map { case (n, b) => s""""$n":$b""" }
        .mkString(",")}}}"""
    println(line)
    System.out.flush()
    spark.stop()
    println(line)
    System.out.flush()
  }
}
