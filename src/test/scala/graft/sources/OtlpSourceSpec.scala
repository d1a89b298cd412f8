package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 `otlp-logs`: a directory of spooled OTLP logs requests
  * reads as a table — short-name registration, per-file partitions,
  * correct decode, and column pruning pushed into the reader. */
class OtlpSourceSpec extends AnyFunSuite {

  import Pb.kv

  private lazy val spark = graft.TestSpark.session

  private def logsRequest(svc: String, n: Int, t0: Long): Array[Byte] = {
    val req = new Pb
    req.msg(1) { rl =>
      rl.msg(1)(res => kv(res, 1, "service.name", svc))
      rl.msg(2) { sl =>
        sl.msg(1)(sc => { sc.str(1, "graft-test"); sc.str(2, "0.1") })
        for (i <- 0 until n) sl.msg(2) { lr =>
          lr.fixed64(1, t0 + i)
          lr.vint(2, 9)
          lr.str(3, "info")
          lr.msg(5)(_.str(1, s"line-$i"))
          kv(lr, 6, "idx", i.toString)
        }
      }
    }
    req.result
  }

  private lazy val dir: String = {
    val d = graft.TestDirs.create("graft_otlp_src").toString
    Files.write(Paths.get(d, "req-a.pb"), logsRequest("svc-a", 3, 1704067200000000000L))
    Files.write(Paths.get(d, "req-b.pb"), logsRequest("svc-b", 2, 1704067300000000000L))
    Files.write(Paths.get(d, "_SUCCESS"), Array.emptyByteArray) // must be skipped
    d
  }

  test("reads a payload directory as a table via the short name") {
    val df = spark.read.format("otlp-logs").load(dir)
    assert(df.schema == OtlpLogsSource.schema)
    assert(df.count() == 5)
    val bySvc = df.groupBy("service_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySvc == Map("svc-a" -> 3L, "svc-b" -> 2L))
    // decoded values survive end to end, maps included
    val r = df.filter(col("body") === "line-1" && col("service_name") === "svc-a")
      .select("timestamp", "severity_number", "log_attributes").head
    assert(r.getLong(0) == 1704067200000000001L && r.getInt(1) == 9)
    assert(r.getMap[String, String](2).get("idx").contains("1"))
  }

  test("one input partition per file; hidden files skipped") {
    val df = spark.read.format("otlp-logs").load(dir)
    assert(df.rdd.getNumPartitions == 2, "expected one partition per payload file")
  }

  test("column pruning reaches the reader's row assembly") {
    val df = spark.read.format("otlp-logs").load(dir).select("body")
    // DSv2 BatchScan prints its pruned output inline: [body#N] and
    // nothing else
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[body#") && !scanLine.contains("timestamp"),
      s"pruned schema must reach the scan: $scanLine")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("line-0", "line-0", "line-1", "line-1", "line-2"))
  }

  test("matches the flatMap ingest path row for row") {
    import spark.implicits._
    // set ops reject map columns — compare on scalars + a probed map entry
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("timestamp"), col("service_name"), col("body"),
        col("severity_number"), element_at(col("log_attributes"), "idx").as("idx"))
    val viaSource = proj(spark.read.format("otlp-logs").load(dir))
    val payloads = Seq(
      logsRequest("svc-a", 3, 1704067200000000000L),
      logsRequest("svc-b", 2, 1704067300000000000L)).toDF("payload")
    val viaFlatMap = proj(Otlp.logs(payloads))
    assert(viaSource.exceptAll(viaFlatMap).isEmpty &&
      viaFlatMap.exceptAll(viaSource).isEmpty)
  }
}
