package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      // generated-code cache sized to the query inventory (see Bench)
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
    // local-iteration filter: comma-separated name substrings (driver never
    // sets this, so the gate always runs the full inventory)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    def keep(name: String): Boolean =
      only.forall(_.exists(name.contains))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
