package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A keep-alive HTTP/1.1 client: one connection per instance. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  /** (status, body); the body is read in full before this returns */
  def send(q: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.uri}"))
    val req = q.body match {
      case Some(s) => b.POST(HttpRequest.BodyPublishers.ofString(s)).build()
      case None => b.GET().build()
    }
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  def post(path: String, body: String, contentType: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** `serve_dashboards`: a closed loop of two client connections against a
  * live read-only `HttpShell`. A quarter of the seeded mix repeats one of
  * the dashboard's eight panels; the rest are fresh windows. */
object Serve {
  val Clients = 2
  val DirectSample = 4

  final case class Done(i: Int, q: Req, ms: Double, status: Int, body: String, traced: Boolean)

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Int, trace: Boolean,
      startNs: Long, report: Report): Outcome = {
    val shell = new graft.api.HttpShell(spark, dir, Gen.NowNs)
    val port = shell.start()
    try {
      // warm-up, and the cold pass: loading the dashboard, one panel per class
      val warm = new Client(port)
      val cold = Gen.panels(seed).map { q =>
        val t0 = System.nanoTime()
        warm.send(q)
        (System.nanoTime() - t0) / 1e6
      }
      val setupS = (System.nanoTime() - startNs) / 1e9
      report.heap.checkpoint()
      val mix = Gen.serveMix(seed, 100000)
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val deadline = t0 + seconds * 1000000000L
      val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
      val replayed = java.util.Collections.synchronizedList(new java.util.ArrayList[(Req, String)]())
      val clients = if (trace) 1 else Clients
      val threads = (0 until clients).map { _ =>
        new Thread(() => {
          val c = new Client(port)
          while (System.nanoTime() < deadline) {
            val i = next.getAndIncrement()
            val q = mix(i)
            tracer match {
              case None =>
                val s = System.nanoTime()
                val (st, body) = try c.send(q) catch { case _: Exception => (-1, "") }
                done.add(Done(i, q, (System.nanoTime() - s) / 1e6, st, body, traced = false))
              case Some(t) =>
                // alternate traced and untraced requests; the gap between
                // their latencies is the tracing overhead
                t.recording = i % 2 == 0
                val s = System.nanoTime()
                val (st, body) = t.op("http:" + q.cls) { _ =>
                  try c.send(q) catch { case _: Exception => (-1, "") } }
                done.add(Done(i, q, (System.nanoTime() - s) / 1e6, st, body, t.recording))
                if (t.recording) {
                  val out = try t.op("replay:" + q.cls) { id =>
                    Replay.split(spark, dir, q, t, id, graft.SignalViews.logsTable(spark, dir))
                  } catch { case e: Exception => "error: " + e }
                  replayed.add(q -> out)
                }
                t.recording = false
            }
          }
        }, "perfbench-client")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val windowS = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val all = done.asScala.toVector.sortBy(_.i)

      // output checks, outside the timed window
      val rec = new Recorder("serve")
      val recTraced = new Recorder("serve-traced")
      val checkFails = ArrayBuffer.empty[String]
      all.foreach { d =>
        val ok = d.status == 200 && (try Replay.envelopeOk(d.q, d.body) catch { case _: Exception => false })
        if (!ok && checkFails.size < 5) checkFails += s"${d.q.cls} ${d.status}: ${d.body.take(160)}"
        (if (d.traced) recTraced else rec).add(d.ms, ok)
      }
      val peak = report.heap.finish()
      // a seeded sample, byte for byte against a direct Endpoints call
      val sr = new scala.util.Random(seed + 17)
      val sample = sr.shuffle(all.filter(_.status == 200)).take(DirectSample)
      val direct = sample.map { d =>
        val same = try Replay.direct(spark, dir, d.q) == d.body catch { case _: Exception => false }
        if (!same && checkFails.size < 5) checkFails += s"direct call differs for ${d.q.uri}"
        same
      }

      val timed = if (trace) recTraced.values ++ rec.values else rec.values
      report.human("serve_p50_ms", Stats.median(timed), "ms", timed.size)
      report.human("serve_p95_ms", Stats.pct(timed, 95), "ms", timed.size)
      report.human("serve_rps", timed.size / windowS, "1/s", timed.size)
      report.human("serve_cold_s", cold.sum / 1000, "s", cold.size)
      report.human("error_ratio", (rec.failed + recTraced.failed).toDouble /
        math.max(1, rec.attempted + recTraced.attempted), "ratio", rec.attempted + recTraced.attempted)
      all.filter(_.status == 200).groupBy(_.q.cls).toSeq.sortBy(_._1).foreach { case (c, ds) =>
        report.note(f"  $c%-20s n=${ds.size}%4d median ${Stats.median(ds.map(_.ms))}%8.1f ms  p95 ${Stats.pct(ds.map(_.ms), 95)}%8.1f ms")
      }
      report.human("panel_repeats", all.count(d => Gen.panels(seed).contains(d.q)).toDouble / math.max(1, all.size), "ratio", all.size)

      tracer.foreach { t =>
        t.close()
        val a = t.attribute()
        report.spans = Some((t, a))
        val lr = report.layers
        val http = a.ops.filter(_.root.name.startsWith("http:"))
        val rep = a.ops.filter(_.root.name.startsWith("replay:"))
        def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
        val dec = rep.filter(_.stage("decode").isDefined)
        lr.put("api.decode_ms", mean(dec.map(_.stageSelf("decode"))), "ms", s"mean over ${dec.size} replayed requests")
        val enc = rep.filter(_.stage("encode").isDefined)
        lr.put("api.encode_ms", mean(enc.map(_.stageSelf("encode"))), "ms",
          s"mean ApiJson call minus its jobs and planning, over ${enc.size} replayed requests")
        val tb = all.filter(_.traced)
        lr.put("api.response_bytes", mean(tb.map(_.body.length.toDouble)), "bytes", s"mean over ${tb.size} traced requests")
        lr.put("api.cache_hit_ratio", if (http.isEmpty) 0 else http.count(_.jobs.isEmpty).toDouble / http.size, "ratio",
          s"requests with zero Spark jobs over ${http.size} traced requests")
        for (fe <- Seq("logql", "promql", "traceql", "ir")) {
          val ops = rep.filter(o => Replay.frontend(o.root.name.stripPrefix("replay:")).contains(fe))
          lr.put(s"$fe.parse_ms", mean(ops.map(_.stageSelf("parse"))), "ms", s"mean over ${ops.size} $fe requests")
          if (fe != "ir") {
            lr.put(s"$fe.lower_ms", mean(ops.map(_.stageSelf("lower"))), "ms", s"mean self time over ${ops.size} $fe requests")
            lr.put(s"$fe.eager_jobs", ops.map(o => o.stage("lower").map(o.jobsIn).getOrElse(0)).sum, "count",
              s"jobs while the frame is built, over ${ops.size} $fe requests")
          }
        }
        lr.plans(rep, "replayed request")
        lr.exec(rep, "replayed request")
        val mismatch = replayed.asScala.count { case (q, out) =>
          !all.exists(d => d.traced && d.q == q && d.body == out) }
        report.note(s"replayed requests whose split replay differs from the served body: $mismatch of ${replayed.size}")
        // per class, so the two halves' different request mixes cancel out
        val ratios = Gen.Classes.flatMap { c =>
          val (tr, un) = all.filter(d => d.q.cls == c && d.status == 200).partition(_.traced)
          if (tr.isEmpty || un.isEmpty) None
          else Some(Stats.median(tr.map(_.ms)) / Stats.median(un.map(_.ms)))
        }
        report.overhead(Stats.median(ratios),
          s"median over ${ratios.size} request classes of traced / untraced latency")
        report.note(s"unattributed jobs: ${a.unattributedJobs}, unattributed planning phases: ${a.unattributedPlans}")
      }
      Outcome(Map(
        "setup_s" -> Metric(setupS, "s", 1),
        "peak_heap_mb" -> Metric(peak, "MB", 1),
        "p50_ms" -> Metric(Stats.median(timed), "ms", timed.size),
        "ops_per_s" -> Metric(timed.size / windowS, "1/s", timed.size)),
        rec.attempted + recTraced.attempted, rec.failed + recTraced.failed,
        Seq(("served bodies are their route's success envelope, and a sample equals direct calls",
          checkFails.isEmpty && direct.size == DirectSample, checkFails.mkString("; "))))
    } finally shell.stop()
  }
}
