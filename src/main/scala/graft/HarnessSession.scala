package graft
import org.apache.spark.sql.SparkSession

/** The one session builder: every main (Bench, Verify, ExplainDump,
  * JobProfile, Serve, the Proof mains) and the test session run in it,
  * with `GraftExtensions` installed, so a dumped plan or profile is the
  * benched and served plan. `SPARK_GRAFT_CPUS` sets the local core count
  * (default `defaultCpus`) and the shuffle partition count; `extra` adds
  * a caller's own settings and overrides these. */
object HarnessSession {
  def apply(defaultCpus: String, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // static conf, must be set at session build: the generated-code
      // cache defaults to 100 entries, but a sweep of 400+ distinct
      // queries emits thousands of codegen units — by the time a query
      // re-runs, its entries are long evicted and every pass re-pays
      // Janino compilation. Sized to hold the whole inventory; scale-
      // independent (any long-lived session re-running plans benefits).
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
      .withExtensions(new GraftExtensions)
    val spark = extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
