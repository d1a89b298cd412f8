package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Stage-level profiler for isolating where a query's wall time goes
  * (guide §1.1/§7.1 with the UI disabled): runs the named queries with
  * the bench session config and prints every stage's duration, task
  * count and name to stderr. Pass N iterations via SPARK_GRAFT_ITERS
  * (default 2) — read the LAST iteration, it is the converged floor.
  * Usage: runMain graft.JobProfile <sfDir> <name1,name2,...> */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // manifest-listed reads (q323/q330: hundreds of EXPLICIT file
      // paths) must not trigger a distributed listing job — one task
      // per local file costs ~60 ms of task deserialization to run a
      // microsecond stat. Driver-side listing is right for local-FS
      // layouts up to this bound; object-store deployments would lower
      // it back toward the 32 default.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      // post-shuffle coalescing floor: the default 1 MB folds every
      // CPU-dense small shuffle (windows over traces, pair joins) onto
      // ONE task at local fixture sizes. 256 KB keeps those parallel;
      // at scale partitions sit near the 64 MB advisory target and this
      // floor is never the binding constraint.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(-1L)
        val tm = si.taskMetrics
        System.err.println(
          f"[stage] ${si.stageId}%4d ${ms}%6d ms ${si.numTasks}%4d tasks " +
            f"run=${tm.executorRunTime}%5d deser=${tm.executorDeserializeTime}%4d " +
            f"gc=${tm.jvmGCTime}%4d cpu=${tm.executorCpuTime / 1000000}%5d  ${si.name.take(90)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        System.err.println(s"[jobend] ${je.jobId}")
    })
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.split(',').exists(q._1.contains))
    for (pass <- 1 to iters; (name, fn) <- sel) {
      System.err.println(s"== pass$pass $name ==")
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      System.err.println(f"== pass$pass $name total ${(System.nanoTime() - t0) / 1e9}%.3f s ==")
    }
    spark.stop()
  }
}
