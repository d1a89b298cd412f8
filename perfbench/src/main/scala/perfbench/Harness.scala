package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs on. The benchmark tunes nothing
  * itself: it sets the master, UTC, `nanosAsLong` and UI off, and takes
  * every other setting from the program. The program keeps its session
  * settings in no single place yet, so the block below is `graft.Bench`'s
  * config block, copied verbatim; it is the one place to repoint once the
  * program owns its session settings. */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def build(): SparkSession = {
    val cpus = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // ---- graft.Bench config block (verbatim) ----
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"))
      .config("spark.ui.enabled", "false")
      // ---- end of graft.Bench config block ----
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Outcomes of one kind of timed operation. A failed operation (it threw,
  * answered non-200, or failed its output check) is counted and never
  * timed: only successes enter the samples that percentiles are taken
  * from. Thread-safe. */
final class Recorder(val name: String) {
  private val samples = ArrayBuffer.empty[Double]
  private var attempts = 0
  private var failures = 0

  /** Runs and times `op`. Returns the result only when it succeeded and
    * passed `check`. */
  def time[T](op: => T, check: T => Boolean = (_: T) => true): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(op) catch { case scala.util.control.NonFatal(_) => None }
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized {
      attempts += 1
      r match {
        case Some(v) if ok(check, v) => samples += ms; r
        case _ => failures += 1; None
      }
    }
  }

  private def ok[T](check: T => Boolean, v: T): Boolean =
    try check(v) catch { case scala.util.control.NonFatal(_) => false }

  /** Records an outcome timed elsewhere. */
  def add(ms: Double, success: Boolean): Unit = synchronized {
    attempts += 1
    if (success) samples += ms else failures += 1
  }

  def attempted: Int = synchronized(attempts)
  def failed: Int = synchronized(failures)
  def values: Vector[Double] = synchronized(samples.toVector)
  def n: Int = synchronized(samples.size)
}

object Stats {
  /** linear-interpolated percentile (numpy's default); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** One reported number: value, unit and the sample count it rests on. */
final case class Metric(value: Double, unit: String, n: Long)

/** What a workload run hands back to [[Main]]. */
final case class Outcome(
    metrics: Map[String, Metric],
    attempted: Int,
    failed: Int,
    checks: Seq[(String, Boolean, String)])

/** Peak live heap: heap in use right after a full collection, taken at the
  * workload's checkpoints (after its warm-up, after every pipeline pass,
  * at the end of the measured window), all outside timed operations. A
  * raw used-heap peak would mostly say when the collector happened to
  * run. */
final class HeapPeak {
  private var peakBytes = 0L
  def checkpoint(): Unit = synchronized {
    // the second collection reclaims what Spark's context cleaner released
    // after the first (blocks of unreachable checkpointed data)
    System.gc(); Thread.sleep(300); System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
  def finish(): Double = { checkpoint(); synchronized(peakBytes / 1048576.0) }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

/** Proves the harness rule that failures are counted and never timed. */
object SelfTest {
  def run(): Unit = {
    val r = new Recorder("selftest")
    r.time { Thread.sleep(2); 1 }
    r.time[Int] { Thread.sleep(50); throw new IllegalStateException("boom") }
    r.time({ Thread.sleep(50); 2 }, (v: Int) => v == 3)
    r.add(40.0, success = false)
    require(r.attempted == 4 && r.failed == 3 && r.n == 1,
      s"self-test: attempted=${r.attempted} failed=${r.failed} timed=${r.n}")
    require(r.values.head < 40.0,
      s"self-test: a failed operation's time leaked into the samples (${r.values})")
  }
}
