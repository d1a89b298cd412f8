package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A recorded interval. `op` is the operation it belongs to (-1 until a
  * Spark span is attributed); `kind` is the layer boundary it marks:
  * `op` (an operation's root), a client-side stage such as `parse` or
  * `build`, `job` (a Spark job) or `plan` (a Catalyst phase). Times are
  * epoch milliseconds on one clock. */
final case class Span(op: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark-side facts about one job, filled in by the listener. */
final class JobInfo(val id: Int, val startMs: Double, val tag: Long) {
  var endMs: Double = Double.NaN
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0
  var taskMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** In-memory span recorder for the traced run. The traced run is a single
  * client: one thread issues every operation, so a Spark job or planning
  * phase belongs to the operation whose root span contains it. Client
  * operations also tag their jobs with the local property
  * [[Tracer.OpProperty]]; a tagged job is attributed by its tag.
  *
  * Spans stay in memory and are written out when the run ends. Spans of
  * operations run while `recording` is off are not kept (the traced run
  * alternates traced and untraced operations to measure the overhead). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  @volatile var recording = false
  private val clientSpans = new ConcurrentLinkedQueue[Span]()
  private val planSpans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val nextOp = new java.util.concurrent.atomic.AtomicLong(0)

  /** Runs `f` (given the new operation id) as operation root `name`. */
  def op[T](name: String)(f: Long => T): T = {
    val id = nextOp.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProperty, id.toString)
    val t0 = nowMs
    try f(id)
    finally {
      if (recording) clientSpans.add(Span(id, "op", name, t0, nowMs))
      sc.setLocalProperty(OpProperty, null)
    }
  }

  /** Records a client-side stage span inside operation `id`. */
  def span[T](id: Long, name: String)(f: => T): T = {
    val t0 = nowMs
    try f finally if (recording) clientSpans.add(Span(id, "stage", name, t0, nowMs))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobInfo(e.jobId, e.time.toDouble, tag))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.stages += 1
          if (si.numTasks == 1) j.singleTaskStages += 1
          j.tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) addPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (recording) addPhases(qe)
    private def addPhases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Phases.contains(phase) && s.endTimeMs > s.startTimeMs)
          planSpans.add(Span(-1, "plan", phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until every recorded job has ended (listener events are
    * delivered asynchronously), then detaches the listeners. */
  def close(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    Thread.sleep(300)
    while (jobs.values.asScala.exists(_.endMs.isNaN) && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Every recorded operation with the Spark spans attributed to it.
    * Jobs and phases outside any operation are counted as unattributed. */
  def attribute(): Attributed = {
    val ops = clientSpans.asScala.filter(_.kind == "op").toVector.sortBy(_.startMs)
    val stages = clientSpans.asScala.filter(_.kind == "stage").toVector.groupBy(_.op)
    def owner(t: Double): Option[Span] = {
      // ops do not overlap (single client): binary search on start time
      var lo = 0; var hi = ops.size - 1; var found: Option[Span] = None
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val o = ops(mid)
        if (t < o.startMs) hi = mid - 1
        else if (t > o.endMs) lo = mid + 1
        else { found = Some(o); lo = hi + 1 }
      }
      found
    }
    val byId = ops.map(o => o.op -> o).toMap
    val jobList = jobs.values.asScala.toVector.filterNot(_.endMs.isNaN)
    val jobOwner = jobList.map { j =>
      j -> (if (byId.contains(j.tag)) byId.get(j.tag) else owner(j.startMs))
    }
    val planOwner = planSpans.asScala.toVector.map(p => p -> owner(p.startMs))
    val jobsBy = jobOwner.collect { case (j, Some(o)) => o.op -> j }.groupMap(_._1)(_._2)
    val plansBy = planOwner.collect { case (p, Some(o)) => o.op -> p }.groupMap(_._1)(_._2)
    Attributed(
      ops.map(o => OpTrace(o, stages.getOrElse(o.op, Vector.empty),
        jobsBy.getOrElse(o.op, Vector.empty), plansBy.getOrElse(o.op, Vector.empty))),
      jobOwner.count(_._2.isEmpty), planOwner.count(_._2.isEmpty))
  }

  /** Writes every span as one JSON object per line. */
  def dump(path: java.nio.file.Path, a: Attributed): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      def line(s: Span): Unit = w.write(
        s"""{"op":${s.op},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
          s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}""" + "\n")
      a.ops.foreach { o =>
        line(o.root); o.stages.foreach(line)
        o.plans.foreach(p => line(p.copy(op = o.root.op)))
        o.jobs.foreach(j => line(Span(o.root.op, "job", s"job-${j.id}", j.startMs, j.endMs)))
      }
    } finally w.close()
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  val Phases = Set("analysis", "optimization", "planning")
}

final case class Attributed(ops: Vector[OpTrace], unattributedJobs: Int,
    unattributedPlans: Int)

/** One operation's spans and the self-time split over them. A Spark job's
  * time counts as execution; a planning phase counts as planning where no
  * job overlaps it; a client stage keeps the time neither covers; the root
  * keeps what no stage covers. The parts add up to the root's wall time. */
final case class OpTrace(root: Span, stages: Vector[Span], jobs: Vector[JobInfo],
    plans: Vector[Span]) {
  import OpTrace._
  private def clip(iv: Seq[(Double, Double)], w: Span): Seq[(Double, Double)] =
    iv.map { case (a, b) => (math.max(a, w.startMs), math.min(b, w.endMs)) }
      .filter { case (a, b) => b > a }
  private lazy val jobIv = jobs.map(j => (j.startMs, j.endMs))
  private lazy val planIv = plans.map(p => (p.startMs, p.endMs))

  def wallMs: Double = root.ms
  /** union of job time inside the root */
  def execMs: Double = union(clip(jobIv, root))
  /** planning time of one phase not overlapped by a job */
  def planMs(phase: String): Double = {
    val iv = clip(plans.filter(_.name == phase).map(p => (p.startMs, p.endMs)), root)
    union(iv ++ clip(jobIv, root)) - execMs
  }
  def planTotalMs: Double = union(clip(planIv ++ jobIv, root)) - execMs
  /** a client stage's self time: its span minus jobs and planning in it */
  def selfMs(s: Span): Double = s.ms - union(clip(jobIv ++ planIv, s))
  def stageSelf(name: String): Double = stages.filter(_.name == name).map(selfMs).sum
  def rootSelfMs: Double = root.ms - union(clip(stages.map(s => (s.startMs, s.endMs)) ++ jobIv ++ planIv, root))
  def jobsIn(s: Span): Int = jobs.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
  def stage(name: String): Option[Span] = stages.find(_.name == name)
}

object OpTrace {
  /** total length covered by a set of intervals */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a > curB) { total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Builds the per-layer report of a traced run: each metric with the base
  * count it is taken over. */
final class LayerReport {
  private val rows = mutable.LinkedHashMap.empty[String, (Double, String, String)]
  def put(name: String, value: Double, unit: String, base: String): Unit =
    rows(name) = (value, unit, base)
  def metrics: Map[String, Metric] = rows.map { case (k, (v, u, _)) => k -> Metric(v, u, 0) }.toMap
  def lines: Seq[String] = rows.toSeq.map { case (k, (v, u, b)) =>
    f"  $k%-34s ${Json.num(v)}%14s $u%-6s $b" }

  /** the execution-layer metrics over a set of operations */
  def exec(ops: Seq[OpTrace], what: String): Unit = {
    val js = ops.flatMap(_.jobs)
    val stages = js.map(_.stages).sum
    val wall = ops.map(_.execMs).sum
    val n = ops.size
    put("exec.wall_ms", if (n == 0) 0 else wall / n, "ms", s"mean job wall time per $what over $n")
    put("exec.jobs", js.size, "count", s"jobs over $n ${what}s")
    put("exec.stages", stages, "count", s"stages over ${js.size} jobs")
    put("exec.tasks", js.map(_.tasks).sum, "count", s"tasks over $stages stages")
    put("exec.single_task_stage_ratio",
      if (stages == 0) 0 else js.map(_.singleTaskStages).sum.toDouble / stages, "ratio",
      s"single-task stages over $stages stages")
    put("exec.task_busy_ratio",
      if (wall == 0) 0 else js.map(_.taskMs).sum / (wall * Session.cores), "ratio",
      f"task time over job wall $wall%.0f ms x ${Session.cores} cores")
    put("exec.shuffle_read_bytes", js.map(_.shuffleRead).sum.toDouble, "bytes", s"total over ${js.size} jobs")
    put("exec.shuffle_write_bytes", js.map(_.shuffleWrite).sum.toDouble, "bytes", s"total over ${js.size} jobs")
    put("exec.spill_bytes", js.map(_.spill).sum.toDouble, "bytes", s"total over ${js.size} jobs")
  }

  /** the Catalyst phase metrics over a set of operations */
  def plans(ops: Seq[OpTrace], what: String): Unit = for (ph <- Seq("analysis", "optimization", "planning")) {
    val n = ops.size
    put(s"plans.${ph}_ms", if (n == 0) 0 else ops.map(_.planMs(ph)).sum / n, "ms",
      s"mean per $what over $n (${ops.map(_.plans.count(_.name == ph)).sum} phase spans)")
  }
}
