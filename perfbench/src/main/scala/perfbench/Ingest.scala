package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.Storage.TableLayout

/** `ingest_live`: writes beside reads on a growing store. A seeded open-loop
  * writer sends OTLP/JSON `/v1/logs` and `/v1/traces` batches on a fixed
  * schedule to an ingest-enabled `HttpShell` over a fresh layout, with at
  * most two in flight; after every [[CompactEvery]] acked batches a
  * compactor connection runs `/api/v1/ops/compact`. One closed-loop reader
  * queries the landed logs. Acks are timed from each batch's due time. */
object Ingest {
  val Records = 200
  /** batches per second: about half of one writer's capacity, measured
    * as the inverse of the warm-up's write latency (see the run report) */
  val RatePerS = 1.0
  val Writers = 2
  val CompactEvery = 5
  /** warm-up writes: logs, traces, logs. Their indices start past any
    * run's schedule, so their record ids are their own. */
  val WarmWrites = 3
  val WarmFrom = 1000002

  private def contentType = "application/json"

  /** data files under a layout: path -> bytes */
  def files(base: String): Map[String, Long] =
    if (!Files.isDirectory(Path.of(base))) Map.empty
    else {
      val s = Files.walk(Path.of(base))
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def totalBytes(base: String): Long = {
    val s = Files.walk(Path.of(base))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** the landed logs table as the ingest shell serves it */
  def landed(spark: SparkSession, layout: TableLayout): graft.logql.Lowering.LogsTable = {
    val df = spark.read.parquet(layout.path("logs"))
    graft.logql.Lowering.LogsTable(
      df = df,
      promoted = Map("service_name" -> "service_name", "severity_text" -> "severity_text",
        "body" -> "body") ++ df.columns.filter(_.startsWith("label_"))
        .map(c => c.stripPrefix("label_") -> c),
      seriesLabels = Seq("service_name", "severity_text"),
      hasAttrMap = true,
      attrMapCols = Seq("log_attributes", "resource_attributes", "scope_attributes")
        .filter(df.columns.contains))
  }

  /** record ids readable from the landed tables */
  def landedIds(spark: SparkSession, layout: TableLayout): (Set[String], Long) = {
    def read(t: String, c: org.apache.spark.sql.Column) =
      if (!Files.isDirectory(Path.of(layout.path(t)))) Seq.empty[String]
      else spark.read.parquet(layout.path(t)).select(c).collect().map(_.getString(0)).toSeq
    val ids = read("logs", substring_index(col("body"), " ", 1)) ++ read("traces", col("span_id"))
    (ids.toSet, ids.size.toLong)
  }

  final case class Ack(w: Gen.Write, lateMs: Double, ackMs: Double, ok: Boolean, traced: Boolean)

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Int, trace: Boolean,
      startNs: Long, outDir: Path, report: Report): Outcome = {
    val base = outDir.resolve("ingest")
    val batchBase = System.currentTimeMillis() * 1000L
    val layout = TableLayout(base.resolve("live").toString, "bench", "live")
    val shell = new graft.api.HttpShell(spark, dir, Gen.NowNs, ingest = Some(layout))
    val port = shell.start()
    // warm-up on the live shell and layout, so the window's first reads
    // and writes find them warm: the cold pass (logs and traces writes,
    // reads of both classes and a compaction in a fresh session). Its
    // records carry ids of their own and stay in the store; its later
    // writes give one writer's latency.
    val (cold, writeMs, warmBytes) = try {
      val c = new Client(port)
      val r = new Random(seed ^ 0x77L)
      val steps = (0 until WarmWrites).map { k =>
        val w = Gen.write(seed + 99991, WarmFrom + k, Records)
        val t0 = System.nanoTime(); val (ws, _) = c.post(w.path, w.json, contentType)
        val t1 = System.nanoTime(); val (rs, _) = c.send(Gen.ingestRead(k, r))
        val cs = if (k == 1) c.post("/api/v1/ops/compact", "", contentType)._1 else 200
        require(ws == 200 && rs == 200 && cs == 200, s"warm-up step $k answered $ws/$rs/$cs")
        (t1 - t0, System.nanoTime() - t1, w.bytes.toLong)
      }
      (steps.map(t => t._1 + t._2).sum / 1e9, steps.drop(1).map(_._1 / 1e6), steps.map(_._3).sum)
    } catch { case e: Throwable => shell.stop(); throw e }
    val setupS = (System.nanoTime() - startNs) / 1e9
    report.heap.checkpoint()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val acks = java.util.Collections.synchronizedList(new java.util.ArrayList[Ack]())
    // reads by class: line and metric queries differ in cost, so each
    // class keeps its own samples
    val reads = Gen.IngestReadClasses.map(c => c -> new Recorder(c)).toMap
    val readsTraced = Gen.IngestReadClasses.map(c => c -> new Recorder(c + "-traced")).toMap
    val compactMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val checkFails = mutable.ArrayBuffer.empty[String]
    val periodNs = (1e9 / RatePerS).toLong
    val t0 = System.nanoTime() + 50000000L
    val deadline = t0 + seconds * 1000000000L
    val rr = new Random(seed + 5)

    tracer match {
      case None =>
        try {
          // Compaction deletes the files it merges at once, so a read
          // planned before it can fail reading a deleted file. Reads and
          // compactions therefore take turns; writes are not held back.
          val maintenance = new java.util.concurrent.locks.ReentrantReadWriteLock()
          val next = new java.util.concurrent.atomic.AtomicInteger(0)
          val acked = new java.util.concurrent.atomic.AtomicInteger(0)
          val compactDue = new java.util.concurrent.Semaphore(0)
          val writers = (0 until Writers).map { _ =>
            new Thread(() => {
              val c = new Client(port)
              var i = next.getAndIncrement()
              while (t0 + i * periodNs < deadline) {
                val due = t0 + i * periodNs
                val w = Gen.write(seed, i, Records)
                val wait = due - System.nanoTime()
                if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
                val sent = System.nanoTime()
                val (st, _) = try c.post(w.path, w.json, contentType) catch { case _: Exception => (-1, "") }
                val done = System.nanoTime()
                acks.add(Ack(w, (sent - due) / 1e6, (done - due) / 1e6, st == 200, traced = false))
                if (st == 200 && acked.incrementAndGet() % CompactEvery == 0) compactDue.release()
                i = next.getAndIncrement()
              }
            }, "perfbench-writer")
          }
          val reader = new Thread(() => {
            val c = new Client(port)
            var n = 0
            while (System.nanoTime() < t0) Thread.sleep(1)
            while (System.nanoTime() < deadline) {
              val q = Gen.ingestRead(n, rr)
              maintenance.readLock().lock()
              // a read that waited out a compaction past the deadline is not sent
              try if (System.nanoTime() < deadline)
                reads(q.cls).time(c.send(q), (r: (Int, String)) => r._1 == 200 && Replay.envelopeOk(q, r._2))
              finally maintenance.readLock().unlock()
              n += 1
            }
          }, "perfbench-reader")
          val compactor = new Thread(() => {
            val c = new Client(port)
            while (compactDue.tryAcquire(math.max(0L, deadline - System.nanoTime()),
                java.util.concurrent.TimeUnit.NANOSECONDS)) {
              maintenance.writeLock().lock()
              val c0 = System.nanoTime()
              val (cs, _) = try c.post("/api/v1/ops/compact", "", contentType)
                catch { case _: Exception => (-1, "") }
                finally maintenance.writeLock().unlock()
              if (cs == 200) compactMs.add((System.nanoTime() - c0) / 1e6)
              else checkFails.synchronized(checkFails += s"compaction answered $cs")
            }
          }, "perfbench-compactor")
          val all = writers :+ reader :+ compactor
          all.foreach(_.start()); all.foreach(_.join())
        } finally shell.stop()
      case Some(t) =>
        shell.stop()
        // single client: writes when due, reads in between; even-numbered
        // operations are traced, odd ones are not (tracing overhead)
        var i = 0; var nReads = 0
        var memo: (String, graft.logql.Lowering.LogsTable) = ("", null)
        var filesWritten = 0; var bytesWritten = 0L
        val compactions = mutable.ArrayBuffer.empty[(Double, Int, Int, Long)]
        while (System.nanoTime() < t0) Thread.sleep(1)
        while (System.nanoTime() < deadline) {
          val due = t0 + i * periodNs
          if (System.nanoTime() >= due) {
            val w = Gen.write(seed, i, Records)
            t.recording = i % 2 == 0
            val sent = System.nanoTime()
            val before = if (t.recording) files(layout.basePath) else Map.empty[String, Long]
            val ok = try {
              t.op("write:" + w.table) { id =>
                val rows = t.span(id, "decode") {
                  import spark.implicits._
                  val p = spark.createDataset(Seq(w.json.getBytes("UTF-8"))).toDF("payload")
                  if (w.table == "logs") graft.sources.OtlpJson.logs(p) else graft.sources.OtlpJson.traces(p)
                }
                t.span(id, "append")(graft.streaming.IngestSink.appendBatch(layout, w.table)(rows, batchBase + i))
              }
              true
            } catch { case _: Exception => false }
            val done = System.nanoTime()
            if (t.recording) {
              val after = files(layout.basePath)
              val fresh = after.keySet -- before.keySet
              filesWritten += fresh.size
              bytesWritten += fresh.toSeq.map(after).sum
            }
            acks.add(Ack(w, (sent - due) / 1e6, (done - due) / 1e6, ok, t.recording))
            t.recording = false
            i += 1
            if (ok && i % CompactEvery == 0) {
              t.recording = true
              val before = files(layout.basePath)
              val c0 = System.nanoTime()
              t.op("compact")(_ => graft.api.Endpoints.opsCompact(spark, layout))
              val ms = (System.nanoTime() - c0) / 1e6
              val after = files(layout.basePath)
              val gone = before.keySet -- after.keySet
              compactions += ((ms, gone.size, (after.keySet -- before.keySet).size, gone.toSeq.map(before).sum))
              compactMs.add(ms)
              t.recording = false
            }
          } else if (Files.isDirectory(Path.of(layout.path("logs")))) {
            val q = Gen.ingestRead(nReads, rr)
            t.recording = nReads % 2 == 0
            val rec = (if (t.recording) readsTraced else reads)(q.cls)
            rec.time(t.op("read:" + q.cls) { id =>
              val v = t.span(id, "data_version")(graft.storage.LocalCache.dataVersion(layout.path("logs")))
              if (memo._1 != v) memo = (v, t.span(id, "table")(landed(spark, layout)))
              Replay.split(spark, dir, q, t, id, memo._2)
            }, (b: String) => Replay.envelopeOk(q, b))
            t.recording = false
            nReads += 1
          } else Thread.sleep(1)
        }
        t.close()
        val a = t.attribute()
        report.spans = Some((t, a))
        val lr = report.layers
        def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
        val writes = a.ops.filter(_.root.name.startsWith("write:"))
        val rds = a.ops.filter(_.root.name.startsWith("read:"))
        lr.put("sources.decode_ms", mean(writes.map(_.stageSelf("decode"))), "ms",
          s"mean OtlpJson frame build over ${writes.size} traced writes (rows decode inside the append job)")
        lr.put("sources.rows", writes.size * Records, "count", s"records over ${writes.size} traced writes")
        lr.put("streaming.append_ms", mean(writes.flatMap(_.stage("append")).map(_.ms)), "ms",
          s"mean IngestSink.appendBatch wall over ${writes.size} traced writes")
        lr.put("streaming.batches", writes.size, "count", "traced writes")
        lr.put("storage.files_written", filesWritten, "count", s"data files over ${writes.size} traced writes")
        lr.put("storage.bytes_written", bytesWritten.toDouble, "bytes", s"data bytes over ${writes.size} traced writes")
        lr.put("storage.live_files", files(layout.basePath).size, "count", "data files under the layout at the end")
        val dv = rds.flatMap(_.stage("data_version"))
        lr.put("storage.data_version_ms", mean(dv.map(_.ms)), "ms", s"mean LocalCache.dataVersion over ${dv.size} traced reads")
        lr.put("storage.compact_s", compactions.map(_._1).sum / 1000, "s", s"total over ${compactions.size} compactions")
        lr.put("storage.compact_bytes_rewritten", compactions.map(_._4).sum.toDouble, "bytes", s"total over ${compactions.size} compactions")
        lr.put("storage.compact_files_in", compactions.map(_._2).sum, "count", s"total over ${compactions.size} compactions")
        lr.put("storage.compact_files_out", compactions.map(_._3).sum, "count", s"total over ${compactions.size} compactions")
        val dec = rds.filter(_.stage("decode").isDefined)
        lr.put("api.decode_ms", mean(dec.map(_.stageSelf("decode"))), "ms", s"mean over ${dec.size} traced reads")
        lr.put("api.encode_ms", mean(dec.map(_.stageSelf("encode"))), "ms",
          s"mean ApiJson call minus its jobs and planning, over ${dec.size} traced reads")
        lr.put("logql.parse_ms", mean(rds.map(_.stageSelf("parse"))), "ms", s"mean over ${rds.size} traced reads")
        lr.put("logql.lower_ms", mean(rds.map(_.stageSelf("lower"))), "ms", s"mean self time over ${rds.size} traced reads")
        lr.put("logql.eager_jobs", rds.map(o => o.stage("lower").map(o.jobsIn).getOrElse(0)).sum, "count",
          s"jobs while the frame is built, over ${rds.size} traced reads")
        lr.plans(a.ops, "traced operation")
        lr.exec(a.ops, "traced operation")
        val tw = acks.asScala.filter(a => a.ok && a.traced).map(a => a.ackMs - a.lateMs).toSeq
        val uw = acks.asScala.filter(a => a.ok && !a.traced).map(a => a.ackMs - a.lateMs).toSeq
        report.overhead(tw, uw, "write latency from send, traced vs untraced writes")
        report.note(s"unattributed jobs: ${a.unattributedJobs}, unattributed planning phases: ${a.unattributedPlans}")
    }

    val peak = report.heap.finish()
    // output checks, outside the timed window: every acked record is
    // readable, before and after a compaction of everything landed
    val ackList = acks.asScala.toVector
    val ackedIds = ackList.filter(_.ok).flatMap(_.w.ids).toSet
    val storedBytes = totalBytes(layout.basePath).toDouble
    val payloadBytes = (warmBytes + ackList.filter(_.ok).map(_.w.bytes.toLong).sum).toDouble
    val (ids1, n1) = landedIds(spark, layout)
    graft.api.Endpoints.opsCompact(spark, layout)
    val (ids2, n2) = landedIds(spark, layout)
    val readable = ackedIds.subsetOf(ids1) && ackedIds.subsetOf(ids2)
    val noDup = n1 == ids1.size && n2 == ids2.size

    val ackMs = ackList.filter(_.ok).map(_.ackMs)
    val sendMs = ackList.filter(_.ok).map(a => a.ackMs - a.lateMs)
    val lateMs = ackList.map(_.lateMs)
    val readMsBy = Gen.IngestReadClasses.map(c => c -> (reads(c).values ++ readsTraced(c).values))
    val readMs = readMsBy.flatMap(_._2)
    report.human("ingest_ack_p50_ms", Stats.median(ackMs), "ms", ackMs.size)
    report.human("ingest_ack_p95_ms", Stats.pct(ackMs, 95), "ms", ackMs.size)
    report.human("ingest_query_p50_ms", Stats.median(readMs), "ms", readMs.size)
    report.human("ingest_query_p95_ms", Stats.pct(readMs, 95), "ms", readMs.size)
    report.human("ingest_cold_s", cold, "s", WarmWrites)
    report.human("ingest_stored_bytes_ratio", storedBytes / payloadBytes, "ratio", ackList.count(_.ok))
    val recs = (reads.values ++ readsTraced.values).toSeq
    val attempted = ackList.size + recs.map(_.attempted).sum
    val failed = ackList.count(!_.ok) + recs.map(_.failed).sum
    report.human("error_ratio", failed.toDouble / math.max(1, attempted), "ratio", attempted)
    report.human("gen.late_ms p50", Stats.median(lateMs), "ms", lateMs.size)
    report.human("gen.late_ms max", lateMs.maxOption.getOrElse(0.0), "ms", lateMs.size)
    report.human("compactions", compactMs.size, "count", compactMs.size)
    readMsBy.foreach { case (c, ms) =>
      report.note(f"  $c%-20s n=${ms.size}%4d median ${Stats.median(ms)}%8.1f ms  max ${ms.maxOption.getOrElse(Double.NaN)}%8.1f ms")
    }
    report.note(f"write rate ${RatePerS}%.1f batches/s of $Records records, $Writers writers, compaction every $CompactEvery acks;" +
      f" one writer's warm-up latency ${Stats.median(writeMs)}%.0f ms (capacity ${1000 / Stats.median(writeMs)}%.1f batches/s)")
    if (trace) report.layers.put("gen.late_ms", Stats.median(lateMs), "ms", s"median over ${lateMs.size} scheduled writes")

    Outcome(Map(
      "setup_s" -> Metric(setupS, "s", 1),
      "peak_heap_mb" -> Metric(peak, "MB", 1),
      "p50_ms" -> Metric(Stats.median(ackMs), "ms", ackMs.size),
      // acked writes per second of one writer connection: acks over the
      // summed send-to-ack time. A run holds about ten of them and a dozen
      // reads; reads under writes vary too much for a steady figure from
      // a dozen, so read latency is reported (ingest_query_*), not gated.
      "ops_per_s" -> Metric(sendMs.size / (sendMs.sum / 1000), "1/s", sendMs.size)),
      attempted, failed,
      Seq(("ingest acked records readable before and after compaction", readable,
        s"acked ${ackedIds.size}, landed ${ids1.size} then ${ids2.size}"),
        ("ingest records land once", noDup, s"rows $n1/$n2 vs distinct ${ids1.size}/${ids2.size}"),
        ("ingest reads and compactions", checkFails.isEmpty, checkFails.take(3).mkString("; "))))
  }
}
