package graft
import org.apache.spark.scheduler._

/** Stage-level profiler for isolating where a query's wall time goes
  * (guide §1.1/§7.1 with the UI disabled): runs the named queries with
  * the bench session config and prints every stage's duration, task
  * count and name to stderr. Pass N iterations via SPARK_GRAFT_ITERS
  * (default 2) — read the LAST iteration, it is the converged floor.
  * Usage: runMain graft.JobProfile <sfDir> <name1,name2,...> */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = HarnessSession("32")
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
