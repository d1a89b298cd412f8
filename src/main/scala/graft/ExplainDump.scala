package graft
import java.nio.file.{Files, Paths}

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
    val spark = HarnessSession("32")
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
