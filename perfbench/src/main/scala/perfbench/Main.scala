package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Everything a run reports beside its end-to-end metrics: the workload's
  * own named metrics with their sample counts, notes, and, in a traced
  * run, the per-layer report. */
final class Report(outDir: Path) {
  val heap = new HeapPeak
  val layers = new LayerReport
  var spans: Option[(Tracer, Attributed)] = None
  private val named = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
  private val notes = mutable.ArrayBuffer.empty[String]

  def human(name: String, v: Double, unit: String, n: Int): Unit = named += ((name, v, unit, n))
  def note(s: String): Unit = notes += s
  def writeFile(name: String, body: String): Unit = Files.writeString(outDir.resolve(name), body)

  /** tracing overhead: traced over untraced operations of the same run,
    * minus one */
  def overhead(traced: Seq[Double], untraced: Seq[Double], what: String): Unit =
    overhead(Stats.median(traced) / Stats.median(untraced),
      f"$what (${traced.size} vs ${untraced.size}; medians ${Stats.median(traced)}%.1f vs ${Stats.median(untraced)}%.1f ms)")

  def overhead(ratio: Double, base: String): Unit =
    layers.put("trace.overhead_ratio", if (ratio.isNaN) 0 else ratio - 1, "ratio", base)

  def text: String = {
    val b = new StringBuilder
    named.foreach { case (k, v, u, n) => b ++= f"  $k%-28s ${Json.num(v)}%14s $u%-6s n=$n\n" }
    notes.foreach(n => b ++= n + "\n")
    val ls = layers.lines
    if (ls.nonEmpty) { b ++= "per-layer (traced run):\n"; ls.foreach(l => b ++= l + "\n") }
    b.toString
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --out DIR [--t0-ms EPOCH_MS]`. Writes `result.json` to the
  * out directory and a human report to stderr. */
object Main {
  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch { case e: Throwable => e.printStackTrace(); 2 }
    // the shell's and HTTP client's pools must not keep the JVM alive
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // the DuckDB oracle SQL of the pipeline_batch queries, for oracle.py
    for (f <- args.get("dump-oracle")) {
      Files.writeString(Path.of(f), Batch.Queries.map(q =>
        s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}\n"))
      return
    }
    val t0Ms = args.get("t0-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val startNs = System.nanoTime() - (System.currentTimeMillis() - t0Ms) * 1000000L
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val dir = args("data")
    val out = Path.of(args("out"))
    Files.createDirectories(out)
    SelfTest.run()

    val report = new Report(out)
    val spark = Session.build()
    val outcome = try workload match {
      case "serve_dashboards" => Serve.run(spark, dir, seed, seconds, trace, startNs, report)
      case "pipeline_batch" => Batch.run(spark, dir, seed, seconds, trace, startNs, out, report)
      case "ingest_live" => Ingest.run(spark, dir, seed, seconds, trace, startNs, out, report)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      report.spans.foreach { case (t, a) => t.dump(out.resolve("spans.jsonl"), a) }
    }
    spark.stop()

    val metrics = if (trace) report.layers.metrics else outcome.metrics
    val json =
      s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":$trace,""" +
        s""""attempted":${outcome.attempted},"failed":${outcome.failed},""" +
        s""""checks":[${outcome.checks.map { case (n, ok, d) =>
          s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString(",")}],""" +
        s""""metrics":{${metrics.toSeq.sortBy(_._1).map { case (k, m) =>
          s"""${Json.str(k)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)},"n":${m.n}}"""
        }.mkString(",")}},""" +
        s""""report":${Json.str(report.text)}}"""
    Files.writeString(out.resolve("result.json"), json)
  }
}
