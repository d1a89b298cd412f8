package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Sessionize.{Event, Session}

/** Randomized batch ≡ streaming law for sessionization: for random
  * event sets, the streaming flatMapGroupsWithState operator (inline
  * gap-close + event-time timeout flush) must emit EXACTLY the
  * sessions a trivial in-memory fold produces — same starts, ends and
  * event counts, every user, no session lost to the timeout path and
  * none double-emitted across the inline/timeout boundary. Events
  * arrive as ONE batch (unordered within it), then far-future
  * sentinels advance the watermark so open sessions flush through the
  * timeout path — both emission paths are load-bearing here. */
class SessionizeLawSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  /** the denotation: sort per user, split on gap, count events. */
  private def fold(events: Seq[Event], gapSec: Long): Set[Session] =
    events.groupBy(_.userId).flatMap { case (u, es) =>
      val ts = es.map(_.tsSec).sorted
      val out = Seq.newBuilder[Session]
      var start = ts.head; var last = ts.head; var n = 1
      for (t <- ts.tail) {
        if (t - last > gapSec) { out += Session(u, start, last, n); start = t; n = 0 }
        last = t; n += 1
      }
      out += Session(u, start, last, n)
      out.result()
    }.toSet

  test("random event sets: streaming sessions equal the batch fold") {
    val rnd = new scala.util.Random(77L)
    for (trial <- 0 until 3) {
      import spark.implicits._
      val gap = 300L + rnd.nextInt(300)
      val events = for {
        u <- 1 to (2 + rnd.nextInt(3))
        _ <- 0 until (8 + rnd.nextInt(15))
      } yield Event(u.toLong, 1000L + rnd.nextInt(5000).toLong)
      val shuffled = rnd.shuffle(events)

      val in = MemoryStream[Event](spark)
      val withWm = in.toDF()
        .withColumn("eventTime", timestamp_seconds(col("tsSec")))
        .withWatermark("eventTime", "5 seconds")
        .as[Event]
      val name = s"sess_law_$trial"
      val q = Sessionize.sessions(withWm, gap).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        in.addData(shuffled: _*) // one unordered batch — no late drops
        q.processAllAvailable()
        // sentinels march the watermark far past every open session's
        // timeout; two rounds because a timer set in batch k fires once
        // a LATER batch advances the watermark past it
        in.addData(Event(999L, 1000000L)); q.processAllAvailable()
        in.addData(Event(999L, 2000000L)); q.processAllAvailable()
        val got = spark.table(name).as[Session].collect()
          .filter(_.userId != 999L).toSet
        assert(got == fold(events, gap),
          s"trial $trial (gap=$gap) diverged\n got: $got\n want: ${fold(events, gap)}")
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
  }
}
