package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for the named queries to files — the
  * plan evidence committed under plans/<round>/ (the judge checks plan
  * claims against these). Usage:
  *   runMain graft.ExplainDump <sfDir> <outDir> <suffix> <name1,name2,...>
  * Each query's plan lands at <outDir>/<name>_<suffix>.txt. Uses the
  * bench session config so the dumped plan is the benched plan (AQE
  * initial plan; join strategies/exchange counts are the planner's). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
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
    new java.io.File(outDir).mkdirs()
    for (n <- names.split(',').toSeq; (name, fn) <- SparkEntry.queries
         if name.contains(n)) {
      val plan = fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      System.err.println(s"[explain] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
