package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.streaming.AnnMaintain

/** Grown-k centroid refresh at scale — the measurement closing q380's
  * honest quadratic (VERDICT r12 #3): a maintained ANN store bootstrapped
  * at fixed k=16 serves a probe set that scales with the corpus in
  * O(N²/k); [[AnnMaintain.refresh]] with the q122 trainer at k ∝ √N
  * re-trains and re-assigns ONE atomic generation, restoring O(N·√N)
  * probe work. This main builds the store over the replicated
  * embeddings, measures warm probe time and recall@10 (vs exact brute
  * force on a probe sample) BEFORE and AFTER the refresh, and prints one
  * JSON line for BASELINE.md. Evidence, not a driver gate.
  *
  * Round 14 composes the RETENTION SWEEP into the same lifecycle
  * (VERDICT r13 #6, the q391 × q396 cross): after the fixed-k probe, a
  * 10 % cohort is tombstoned (deleteVecs) and physically purged
  * (compact), the refresh then trains at k = ⌈√N_live⌉ over the
  * SURVIVORS, and the post-refresh probe must (a) restore the fast
  * probe class q391's fixed-k store cannot reach, (b) serve ZERO
  * deleted neighbors, and (c) hold recall against a brute-force oracle
  * computed over the survivors — delete ≡ rebuild, through a refresh. */
object RefreshProof {

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf10")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "100").toInt
    val spark = HarnessSession("8")

    // ---- the scaled vectors ------------------------------------------
    val marker = new java.io.File(dst, s"_built_${copies}x_embeddings")
    if (!marker.exists()) {
      ScaleProof.replicate(spark, src, dst, "embeddings", Seq("vec_id"), copies)
      marker.getParentFile.mkdirs()
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    val e = spark.read.parquet(s"$dst/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast(DoubleType) * 1000000).cast(LongType)).as("vq"))
      .withColumn("nrm", aggregate(col("vq"), lit(0L), (a, x) => a + x * x))
      .localCheckpoint()
    val n = e.count()

    // ---- the maintained store, bootstrapped at FIXED k = 16 ----------
    val root = java.nio.file.Files.createTempDirectory("graft_refresh_").toString
    val cp = s"$root/bootstrap"
    graft.operators.PipelineOps.ivfCentroids(e)
      .write.mode("overwrite").parquet(cp)
    val dir = s"$root/idx"
    AnnMaintain.maintainBatch(dir, cp)(
      e.select(col("vec_id"), col("vq"), col("nrm")), 0L)

    // ---- probe: nprobe=1 top-10 over a corpus-scaled probe set -------
    val probes = e.filter(pmod(col("vec_id"), lit(100)) === 0)
    def annTop10(): DataFrame = {
      val cents = AnnMaintain.currentCentroids(spark, dir, cp)
      val best = probes.crossJoin(broadcast(cents))
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
      val posts = AnnMaintain.postings(spark, dir)
      broadcast(best).join(posts, Seq("cell"))
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
        val t0 = System.nanoTime()
        rows = f().count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, rows)
    }

    // exact brute-force top-10 for a probe SAMPLE (recall oracle);
    // `pool` restricts the corpus side — post-sweep recall is judged
    // against the SURVIVORS (a deleted vector is not a valid neighbor)
    val sample = probes.filter(col("vec_id") < 20000)
      .select(col("vec_id").as("p_id"), col("vq").as("pv"), col("nrm").as("pn"))
    def exactOver(pool: DataFrame): DataFrame = broadcast(sample).join(
        pool.select(col("vec_id").as("n_id"), col("vq").as("nv"),
          col("nrm").as("nn")),
        col("n_id") =!= col("p_id"))
      .select(col("p_id"), struct(
        (-(dot(col("pv"), col("nv")).cast(DoubleType) /
          sqrt(col("pn").cast(DoubleType) * col("nn").cast(DoubleType))))
          .as("negcos"),
        col("n_id").as("nid")).as("sc"))
      .groupBy(col("p_id"))
      .agg(slice(array_sort(collect_list(col("sc"))), 1, 10).as("top"))
      .select(col("p_id"), explode(col("top")).as("t"))
      .select(col("p_id"), col("t.nid").as("n_id"))
      .localCheckpoint()
    def recallVs(exact: DataFrame, nExact: Long): Double = {
      val hit = annTop10().join(exact, Seq("p_id", "n_id")).count()
      hit.toDouble / nExact
    }
    val exactAll = exactOver(e)
    val nExactAll = exactAll.count()

    val (warmBefore, rowsBefore) = timeWarm(annTop10 _)
    val recallBefore = recallVs(exactAll, nExactAll)

    // ---- the retention sweep (q391's lifecycle, composed in) --------
    // a 10 % age cohort expires: tombstone, then physically purge. The
    // probe cohort (vec_id % 100 == 0) is disjoint by construction.
    val deadPred = pmod(col("vec_id"), lit(10)) === 3
    val tSweep = System.nanoTime()
    AnnMaintain.deleteVecs(spark, dir,
      e.filter(deadPred).select(col("vec_id").as("n_id")), 0L)
    AnnMaintain.compact(spark, dir)
    val sweepSec = (System.nanoTime() - tSweep) / 1e9
    val survivors = e.filter(!deadPred)
    val nLive = survivors.count()
    // the fixed-k store still pays the O(N²/k) probe — q391's class
    val (warmSwept, _) = timeWarm(annTop10 _)

    // ---- the refresh: k grows to ~√N_live, trained over SURVIVORS ----
    val k1 = math.ceil(math.sqrt(nLive.toDouble)).toInt
    val t0 = System.nanoTime()
    AnnMaintain.refresh(spark, dir, cp,
      graft.operators.PipelineOps.ivfCentroidsK(k1))
    val refreshSec = (System.nanoTime() - t0) / 1e9

    val (warmAfter, rowsAfter) = timeWarm(annTop10 _)
    val exactLive = exactOver(survivors)
    val recallAfter = recallVs(exactLive, exactLive.count())
    val kAfter = AnnMaintain.currentCentroids(spark, dir, cp).count()
    // delete ≡ rebuild, through the refresh: no deleted vector is ever
    // served, and none survived the physical purge or the retrain
    val deadServed = annTop10().filter(pmod(col("n_id"), lit(10)) === 3).count()
    val deadStored = AnnMaintain.postings(spark, dir)
      .filter(pmod(col("n_id"), lit(10)) === 3).count()

    def r3(v: Double) = f"$v%.3f"
    val line = s"""{"metric":"refresh_proof","n":$n,"n_live":$nLive,"k0":16,"k1":$kAfter,""" +
      s""""probe_warm_before":${r3(warmBefore)},"probe_warm_post_sweep":${r3(warmSwept)},""" +
      s""""probe_warm_after":${r3(warmAfter)},""" +
      s""""recall10_before":${r3(recallBefore)},"recall10_after":${r3(recallAfter)},""" +
      s""""sweep_sec":${r3(sweepSec)},"refresh_sec":${r3(refreshSec)},""" +
      s""""dead_served":$deadServed,"dead_stored":$deadStored,""" +
      s""""probe_rows":[$rowsBefore,$rowsAfter]}"""
    // deliberately printed before AND after spark.stop() — Bench's
    // un-losable-stdout-tail trick: a combined-stream capture would
    // otherwise push a single early line out of the tail window
    println(line)
    System.out.flush()
    spark.stop()
    println(line)
    System.out.flush()
  }
}
