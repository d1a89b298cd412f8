package graft.streaming

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.logql.{Lowering, Parser}
import graft.logql.Ast.LineQuery
import graft.sources.Otlp
import graft.storage.Storage.TableLayout

/** The full acceptor → writer → querier chain in one spec: raw OTLP
  * protobuf payloads arrive on a stream, decode with the wire parser,
  * land through the idempotent ingest sink into the stored hour layout,
  * and a LogQL query answers over the stored table — the reference's
  * three services end to end.
  */
class OtlpIngestE2ESpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  /** minimal wire encoder (same as OtlpSpec's). */
  private final class Pb {
    val out = new ByteArrayOutputStream()
    def varint(v: Long): Pb = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    def tag(f: Int, w: Int): Pb = varint((f << 3) | w)
    def fixed64(f: Int, v: Long): Pb = {
      tag(f, 1); (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xFF).toInt)); this
    }
    def bytes(f: Int, b: Array[Byte]): Pb = { tag(f, 2); varint(b.length); out.write(b); this }
    def str(f: Int, s: String): Pb = bytes(f, s.getBytes("UTF-8"))
    def msg(f: Int)(fn: Pb => Unit): Pb = { val p = new Pb; fn(p); bytes(f, p.out.toByteArray) }
    def result: Array[Byte] = out.toByteArray
  }

  private def logsPayload(svc: String, startNs: Long, n: Int): Array[Byte] = {
    val req = new Pb
    req.msg(1) { rl =>
      rl.msg(1)(_.msg(1) { kv => kv.str(1, "service.name"); kv.msg(2)(_.str(1, svc)) })
      rl.msg(2) { sl =>
        for (i <- 0 until n) sl.msg(2) { lr =>
          lr.fixed64(1, startNs + i * 60L * 1000000000L)
          lr.str(3, if (i % 2 == 0) "error" else "info")
          lr.msg(5)(_.str(1, s"line $i from $svc"))
        }
      }
    }
    req.result
  }

  test("OTLP payload stream → decode → idempotent sink → stored LogQL answer") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-otlp-e2e").toString
    val layout = TableLayout(dir, "acme", "prod")
    val t0 = 1704067200L * 1000000000L

    val in = MemoryStream[Array[Byte]](spark)
    in.addData(logsPayload("svc-a", t0, 6), logsPayload("svc-b", t0, 4))
    val decoded = Otlp.logs(in.toDF().withColumnRenamed("value", "payload"))
    val q = decoded.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch(IngestSink.appendBatch(layout, "logs") _)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val stored = spark.read.parquet(layout.path("logs"))
    assert(stored.count() == 10)
    // hour-partitioned layout landed (date_day/hour from the decoded ts)
    assert(stored.columns.contains("date_day"))

    // querier: LogQL over the stored table
    val table = Lowering.LogsTable(
      df = stored,
      promoted = Map("service_name" -> "service_name",
        "severity_text" -> "severity_text", "body" -> "body"),
      seriesLabels = Seq("service_name", "severity_text"),
      hasAttrMap = true,
      attrMapCols = Seq("log_attributes", "resource_attributes", "scope_attributes"),
      tieBreak = Seq("span_id"))
    val lq = Parser.parse("""{service_name="svc-a", severity_text="error"} |= "line"""") match {
      case LineQuery(x) => x
      case _            => fail("expected line query")
    }
    val rows = Lowering.lowerLineQuery(table, lq, 100).collect()
    assert(rows.length == 3) // lines 0, 2, 4 of svc-a
    assert(rows.forall(_.getAs[String]("body").startsWith("line")))
  }

  test("histogram points land in the stored layout and replay idempotently") {
    import spark.implicits._
    val dir = graft.TestDirs.create("graft-hist-e2e").toString
    val layout = TableLayout(dir, "acme", "prod")
    val req = new Pb
    req.msg(1) { rm =>
      rm.msg(1)(_.msg(1) { kvp =>
        kvp.str(1, "service.name"); kvp.msg(2)(_.str(1, "svc-h"))
      })
      rm.msg(2) { sm =>
        sm.msg(2) { m =>
          m.str(1, "latency")
          m.msg(9) { h =>
            h.msg(1) { p =>
              p.fixed64(3, 1704067260000000000L)
              p.fixed64(4, 10L)
              p.msg(6) { b =>
                Seq(1L, 5L, 4L).foreach(v =>
                  (0 until 8).foreach(i => b.out.write(((v >>> (8 * i)) & 0xFF).toInt)))
              }
              p.msg(7) { b =>
                Seq(0.5, 1.0).foreach { d =>
                  val bits = java.lang.Double.doubleToLongBits(d)
                  (0 until 8).foreach(i => b.out.write(((bits >>> (8 * i)) & 0xFF).toInt))
                }
              }
            }
            h.tag(2, 0); h.varint(2)
          }
        }
      }
    }
    val payloads = Seq(req.result).toDF("payload")
    val hist = Otlp.histograms(payloads)
    IngestSink.appendBatch(layout, "metrics_histogram")(hist, 1L)
    // replaying the SAME batch id is a no-op (commit marker)
    IngestSink.appendBatch(layout, "metrics_histogram")(hist, 1L)
    val stored = spark.read.parquet(layout.path("metrics_histogram"))
    assert(stored.count() == 1)
    assert(stored.columns.contains("date_day"))
    val r = stored.collect()(0)
    assert(r.getAs[String]("service_name") == "svc-h")
    assert(r.getAs[Long]("count") == 10L)
    assert(r.getAs[String]("bucket_counts") == "[1,5,4]")
    assert(r.getAs[String]("explicit_bounds") == "[0.5,1.0]")
    // the stored shape is directly consumable by the quantile walk:
    // cumulative [1,6,10], p50 rank 5 → inside the (0.5, 1.0] bucket
    val counts = r.getAs[String]("bucket_counts").stripPrefix("[")
      .stripSuffix("]").split(',').map(_.toLong)
    val bounds = r.getAs[String]("explicit_bounds").stripPrefix("[")
      .stripSuffix("]").split(',').map(_.toDouble)
    val cum = counts.scanLeft(0L)(_ + _).tail
    val rank = 0.5 * counts.sum
    val idx = cum.indexWhere(_ >= rank)
    assert(bounds(idx) == 1.0)
  }
}
