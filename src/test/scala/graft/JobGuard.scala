package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, on any session of the context. */
object JobGuard {

  /** Spark jobs started by `f`, bracketed by two marker jobs: the
    * listener bus delivers in order, so once the closing marker is seen
    * every job between them has been counted. */
  def jobsOf(spark: SparkSession)(f: => Unit): Int = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("guard-open")
      f
      marker("guard-close")
      val deadline = System.nanoTime() + 30L * 1000000000L
      import scala.jdk.CollectionConverters._
      def ids(name: String) = seen.asScala.collect { case (id, `name`) => id }
      while (ids("guard-close").isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      val (open, close) = (ids("guard-open").head, ids("guard-close").head)
      seen.asScala.count { case (id, _) => id > open && id < close }
    } finally sc.removeSparkListener(l)
  }
}
