package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `pipeline_batch`: one client calls the same 6 inventory queries in a
  * fixed order through `SparkEntry.queries(name)(spark, dir)`. Each call
  * is timed until every column of its result is materialized, as an
  * order-insensitive digest (row count and the sum of each row's 64-bit
  * hash over all columns). The first pass in the fresh session is the
  * cold pass; warm passes repeat until the run's time is up. */
object Batch {
  val Queries: Seq[String] = Seq(
    "q338_pagerank_hosts", "q132_semantic_dedup", "q140_kmeans_train",
    "q310_winnow_overlap", "q21_near_dup_jaccard", "q134_simhash_hamming")

  /** (rows, hash sum): materializes every column of `df` */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  final case class Run(q: String, pass: Int, ms: Double, digest: Option[(Long, String)],
      traced: Boolean)

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Int, trace: Boolean,
      startNs: Long, outDir: java.nio.file.Path, report: Report): Outcome = {
    val fns = Queries.map(q => q -> graft.SparkEntry.queries(q))
    // as graft.Bench: touch the inputs once so the first timed query does
    // not pay file listing
    for (t <- Seq("events", "documents", "embeddings"))
      graft.Tables.load(spark, dir, t).count()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runs = mutable.ArrayBuffer.empty[Run]

    val checkDir = outDir.resolve("check")
    def pass(p: Int, traced: Int => Boolean): Unit = for (((q, fn), k) <- fns.zipWithIndex) {
      val t0 = System.nanoTime()
      var df: DataFrame = null
      val d = try {
        tracer match {
          case Some(t) =>
            t.recording = traced(k)
            try t.op(q) { id =>
              df = t.span(id, "build")(fn(spark, dir))
              t.span(id, "action")(digest(df))
            } finally t.recording = false
          case None => df = fn(spark, dir); digest(df)
        }
      } catch { case scala.util.control.NonFatal(e) =>
        report.note(s"$q pass $p failed: $e"); null }
      runs += Run(q, p, (System.nanoTime() - t0) / 1e6, Option(d), tracer.isDefined && traced(k))
      // output check, outside the timed call: the first warm pass also
      // writes each result for the oracle comparison
      if (p == 1 && df != null)
        df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
    }

    // the cold pass is the warm-up of the warm passes, so it is set-up too
    pass(0, _ => true)
    val setupS = (System.nanoTime() - startNs) / 1e9
    val deadline = System.nanoTime() + seconds * 1000000000L
    var p = 1
    // Warm passes run while the next one still fits in the run's time
    // (at least one). The traced run alternates traced and untraced calls,
    // flipping the order every pass so both halves see the same warm-up,
    // and needs two passes to give every query both kinds of call.
    val minPasses = if (tracer.isDefined) 2 else 1
    var passMs = 0.0
    while (p <= minPasses || System.nanoTime() + passMs * 1e6 < deadline) {
      val s = System.nanoTime()
      report.heap.checkpoint()
      val pp = p
      pass(pp, k => (k + pp) % 2 == 1); p += 1
      passMs = (System.nanoTime() - s) / 1e6
    }

    // every timed call of a query must give the digest of the written result
    val expected = Queries.map(q =>
      q -> digest(spark.read.parquet(checkDir.resolve(q).toString))).toMap
    val recs = Queries.map(q => q -> new Recorder(q)).toMap
    val mismatched = mutable.LinkedHashSet.empty[String]
    runs.foreach { r =>
      val ok = r.digest.contains(expected(r.q))
      if (!ok) mismatched += s"${r.q}(pass ${r.pass}: ${r.digest} vs ${expected(r.q)})"
      recs(r.q).add(r.ms, ok)
    }
    val peak = report.heap.finish()
    val cold = runs.toVector.filter(_.pass == 0)
    val warm = runs.toVector.filter(_.pass > 0)
    def okMs(rs: Seq[Run]) = rs.filter(r => r.digest.contains(expected(r.q))).map(_.ms)
    val coldS = okMs(cold).sum / 1000
    val warmPerQuery = Queries.map(q => q -> Stats.median(okMs(warm.filter(_.q == q))))
    val warmSum = warmPerQuery.map(_._2).sum / 1000
    val warmMs = okMs(warm)
    val passes = p - 1
    report.human("batch_warm_s", warmSum, "s", passes)
    report.human("batch_cold_s", coldS, "s", 1)
    report.human("batch_call_p95_ms", Stats.pct(warmMs, 95), "ms", warmMs.size)
    report.human("error_ratio", recs.values.map(_.failed).sum.toDouble /
      recs.values.map(_.attempted).sum, "ratio", recs.values.map(_.attempted).sum)
    warmPerQuery.foreach { case (q, ms) =>
      report.note(f"  $q%-28s warm median ${ms}%9.1f ms  cold ${cold.find(_.q == q).map(_.ms).getOrElse(Double.NaN)}%9.1f ms  rows ${expected(q)._1}")
    }
    report.writeFile("batch_check.json", Queries.map { q =>
      s"""${Json.str(q)}:{"rows":${expected(q)._1},"hash":${Json.str(expected(q)._2)}}"""
    }.mkString("{", ",", "}"))

    var addsUp = true
    tracer.foreach { t =>
      t.close()
      val a = t.attribute()
      report.spans = Some((t, a))
      val lr = report.layers
      val ops = a.ops
      val tracedPasses = ops.size.toDouble / Queries.size
      val build = ops.map(o => o.stageSelf("build") + o.rootSelfMs).sum
      lr.put("operators.build_s", build / 1000 / tracedPasses, "s",
        f"frame-building self time per pass of ${Queries.size} queries, over $tracedPasses%.0f traced passes (cold and odd warm)")
      lr.put("operators.eager_jobs", ops.map(o => o.stage("build").map(o.jobsIn).getOrElse(0)).sum / tracedPasses,
        "count", f"jobs while frames are built, per pass, over $tracedPasses%.0f traced passes (cold and odd warm)")
      lr.plans(ops, "query call")
      lr.exec(ops, "query call")
      // build + plan + exec self times add up to each call's wall time
      val worst = ops.map { o =>
        val parts = o.stageSelf("build") + o.rootSelfMs + o.planTotalMs + o.execMs + o.stageSelf("action")
        math.abs(parts - o.wallMs)
      }.maxOption.getOrElse(0.0)
      addsUp = worst < 1.0
      report.note(f"build + plan + exec self times vs traced wall, worst gap over ${ops.size} calls: $worst%.3f ms")
      ops.groupBy(_.root.name).toSeq.sortBy(_._1).foreach { case (q, os) =>
        def m(f: OpTrace => Double) = Stats.median(os.map(f))
        report.note(f"  $q%-28s wall ${m(_.wallMs)}%8.1f = build ${m(o => o.stageSelf("build") + o.rootSelfMs)}%8.1f" +
          f" + plan ${m(_.planTotalMs)}%7.1f + exec ${m(o => o.execMs + o.stageSelf("action"))}%8.1f ms" +
          f"  (eager jobs ${m(o => o.stage("build").map(o.jobsIn).getOrElse(0).toDouble)}%.0f)")
      }
      // per query: its traced warm calls over its untraced ones
      val ratios = Queries.map { q =>
        val (tr, un) = warm.filter(_.q == q).partition(_.traced)
        Stats.median(tr.map(_.ms)) / Stats.median(un.map(_.ms))
      }.filterNot(_.isNaN)
      report.overhead(Stats.median(ratios), s"median over ${ratios.size} queries of traced / untraced warm call time")
      report.note(s"unattributed jobs: ${a.unattributedJobs}, unattributed planning phases: ${a.unattributedPlans}")
    }
    val total = recs.values.map(_.attempted).sum
    Outcome(Map(
      "setup_s" -> Metric(setupS, "s", 1),
      "peak_heap_mb" -> Metric(peak, "MB", 1),
      // the geometric mean over queries of each query's median: a median
      // of the pooled calls would jump between queries of very different
      // cost, and every query counts alike
      "p50_ms" -> Metric(Stats.geomean(warmPerQuery.map(_._2)), "ms", warmMs.size),
      "ops_per_s" -> Metric(warmMs.size / (warmMs.sum / 1000), "1/s", warmMs.size)),
      total, recs.values.map(_.failed).sum,
      Seq(("batch digests stable across calls", mismatched.isEmpty, mismatched.take(3).mkString("; ")),
        ("traced build + plan + exec self times add up to each call's wall time", addsUp, "")))
  }
}
