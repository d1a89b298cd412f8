package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional filter (comma-separated substrings, contains-any) +
    // iteration count for profiling:
    //   sbt "runMain graft.Bench q31,q103" / SPARK_GRAFT_ITERS=3
    val filters = args.headOption.getOrElse("").split(',').toSeq
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    // warmup: touch every table once so the first timed query doesn't pay
    // file listing + codegen init
    for (t <- Seq("lineitem", "orders", "customer", "events", "documents", "embeddings"))
      try graft.Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () }
    // interleaved passes (min per query): a transient machine stall in one
    // pass hits different queries than in the next, so the min filters it
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => filters.exists(q._1.contains))
    val best = scala.collection.mutable.Map.empty[String, Double]
    // a query that throws in any pass is failed, never timed: the time
    // to an exception is not the query's time
    val failed = scala.collection.mutable.SortedSet.empty[String]
    for (pass <- 1 to iters; (name, fn) <- sel) {
      val t0 = System.nanoTime()
      val error = try { fn(spark, sfDir).count(); None } catch { case e: Throwable => Some(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      error match {
        case None =>
          System.err.println(f"[bench] pass$pass $name%-28s $sec%8.2fs")
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
        case Some(e) =>
          System.err.println(f"[bench] pass$pass $name%-28s FAILED ${e.toString.take(200)}")
          failed += name
      }
    }
    val results = (best -- failed).toMap
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query detail to stderr for local analysis.
    for ((k, v) <- results.toSeq.sortBy(_._1))
      System.err.println(f"[bench] min   $k%-28s $v%8.3fs")
    // The driver captures only the LAST ~2000 chars of stdout (sbt's own
    // "[success] Total time" trailer included), so the single JSON line must
    // stay well under that or it is truncated and unparseable. Emit rounded
    // values; the failed list first, then the queries map slowest-first,
    // both packed under one byte budget (`n_failed` counts them all).
    def r3(v: Double): String = f"$v%.3f"
    val header =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},""" +
        s""""n_failed":${failed.size},"sf":"$sfDir","failed":["""
    var budget = 1700 - header.length - "],\"queries\":{}}".length
    def pack(entries: Seq[String]): String = {
      val packed = new StringBuilder
      for (e <- entries if packed.length + e.length + 1 <= budget) {
        if (packed.nonEmpty) packed.append(',')
        packed.append(e)
      }
      budget -= packed.length
      packed.toString
    }
    val failedList = pack(failed.toSeq.map(k => s"\"$k\""))
    val timed = pack(results.toSeq.sortBy(-_._2).map { case (k, v) => s"\"$k\":${r3(v)}" })
    val line = header + failedList + "],\"queries\":{" + timed + "}}"
    // the summary line must be UN-LOSABLE in the driver's ~2 KB stdout
    // tail: emit it before AND after spark.stop() (shutdown logging goes
    // to stderr, but a combined-stream capture would otherwise push a
    // single early line out of the tail window), explicitly flushed
    println(line)
    System.out.flush()
    spark.stop()
    println(line)
    System.out.flush()
  }
}
